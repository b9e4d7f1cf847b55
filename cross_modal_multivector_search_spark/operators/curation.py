"""End-to-end corpus curation: the composed pipeline a training-data
run executes over the raw document table (north star per BASELINE.json;
each stage is its own oracle-checked operator — this module only wires
them together, which is exactly how it should scale: every stage keeps
its one-shuffle shape, and Catalyst pipelines the semi/anti joins).

Stages (the usual pretraining recipe order, cheapest-first so later
stages see fewer rows at 100 TB):
  1. exact dedup      keep min doc_id per md5 digest        (semi join)
  2. near-dup dedup   MinHash-LSH pairs -> connected components ->
                      drop non-canonical cluster members    (anti join)
  3. language filter  keep allowed predicted languages
  4. quality filter   keep quality_score >= threshold
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import dedup, text
from .dedup import _in, _q


def decontaminate(train_docs: DataFrame, benchmark_docs: DataFrame,
                  shingle_n: int = 8, min_overlap: int = 1,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Test-set decontamination: training documents sharing >=
    ``min_overlap`` distinct n-gram shingles with any benchmark document.

    Returns (doc_id, bench_id, n_overlap) — the contaminated pairs a
    pipeline anti-joins away before training. Scale shape: both sides
    shingle + distinct, then an equi-join on the shingle — only
    co-shingled pairs ever materialize (never |train| x |bench|), and
    the benchmark side is tiny so its shingle table broadcasts.
    """
    t_sh = dedup.shingles(train_docs, shingle_n, id_col, text_col) \
        .select(id_col, "shingle").distinct()
    b_sh = dedup.shingles(benchmark_docs, shingle_n, id_col, text_col) \
        .select(F.col(id_col).alias("bench_id"), "shingle").distinct()
    return (t_sh.join(F.broadcast(b_sh), "shingle")
            .groupBy(id_col, "bench_id")
            .agg(F.count("*").alias("n_overlap"))
            .filter(F.col("n_overlap") >= min_overlap))


def curate_corpus(docs: DataFrame, quality_threshold: float = 0.5,
                  langs: tuple[str, ...] = ("en",),
                  num_hashes: int = 8, bands: int = 4,
                  shingle_n: int = 3, id_col: str = "doc_id",
                  text_col: str = "text",
                  benchmark_docs: DataFrame | None = None,
                  pairs: DataFrame | None = None) -> DataFrame:
    """Surviving documents with their curation features:
    (doc_id, pred_lang, quality_score, n_tokens).

    ``benchmark_docs`` adds a decontamination stage: training docs
    sharing any ``shingle_n``-gram with a benchmark doc are dropped
    (anti join on the flagged set). ``pairs`` lets a repeated-run
    caller supply the (lazy) LSH candidate-pair plan — the plan handle
    only; the pairs themselves are recomputed per execution — instead
    of re-deriving the identical plan from ``docs`` on every call."""
    # dedup_pairs=False: components/union-find tolerate duplicate pairs,
    # so the LSH pair distinct (a whole shuffle) is skipped here
    if pairs is None:
        pairs = dedup.minhash_lsh_pairs(docs, num_hashes, bands,
                                        shingle_n, id_col, text_col,
                                        dedup_pairs=False)
    # non-canonical members only: cluster sizes aren't needed here, so
    # go straight to components (skips dedup_clusters' size groupBy+join)
    i = _q(id_col, True)
    drop_near = dedup.connected_components(pairs) \
        .where("node != component").selectExpr(f"node AS {i}")
    # language + quality features in one token pass. The former design
    # carried the exact-dedup digest THROUGH this groupBy so the
    # keep-set could derive from the feature table — but the keep
    # aggregate prunes to (digest, id), which makes its copy of
    # the feats subtree canonically different from the join side's, so
    # the tokenize+9-aggregate map executed TWICE (r15 stage profile;
    # exchange dedup does not fire across the differently-pruned
    # copies, and widening the aggregate to force a match was probed
    # and does not dedupe either). The keep-set instead comes from a
    # digest-only pass over the raw docs — one md5 per document and a
    # map-combined min, no tokenize — strictly cheaper than a
    # duplicated feature map at every scale.
    feats = text.lang_quality(docs, id_col, text_col)
    # canonical = min id per digest via a REAL partial aggregation, not
    # a window: WindowExec — even with no orderBy — still shuffles and
    # sorts every row of a digest key into one task, so a massively
    # duplicated document (the hot case at 100 TB) would serialize
    # there; groupBy(min) gets map-side combine, and the semi join back
    # is an ordinary shuffle join AQE's skew handling can split.
    # Result-identical to the carried-digest form: a digest group's
    # docs share text, so its min id is the same whether computed over
    # all docs or the token-having ones that reach feats, and ids are
    # unique, so the semi join on the id alone reproduces the
    # (digest, id) join.
    keep = (docs.selectExpr(f"md5({_q(text_col, True)}) AS __digest", i)
            .groupBy("__digest").agg(F.expr(f"min({i}) AS {i}"))
            .selectExpr(i))
    out = (feats.join(keep, id_col, "semi")
           .join(drop_near, id_col, "anti"))
    if benchmark_docs is not None:
        contaminated = decontaminate(
            docs, benchmark_docs, shingle_n, id_col=id_col,
            text_col=text_col).selectExpr(i).distinct()
        out = out.join(contaminated, id_col, "anti")
    return (out
            .where(f"{_in('pred_lang', langs)} AND quality_score >= "
                   f"{float(quality_threshold)!r}D")
            .selectExpr(i, "pred_lang", "quality_score", "n_tokens"))

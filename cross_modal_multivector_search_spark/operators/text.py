"""Text-analysis operators for training-data pipelines.

North-star extras (BASELINE.json): language ID, quality scoring, token
counting, document fingerprinting. All JVM-side column expressions —
no Python UDFs in these paths — and all portable to an ANSI-SQL oracle.

Plan construction rule (lang_quality, tfidf_top_terms, bm25_rank and
the curation pipeline): expressions are SQL strings
(``selectExpr``/``F.expr``/``where``), one JVM call each, with caller
names and values quoted by ``dedup._q``; double constants carry a
``D`` suffix so they stay double (a bare ``100.0`` parses as decimal).
Built from nested ``F.*``/``Column`` calls, these plans cost 500-1,300
py4j round trips each (3-8 per call, call-site capture included): the
four plans of one 1,000-document curation request took ~0.67 s of
driver time, a fifth of the ~3.2 s request (4 vCPU, in-process).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _in, _q, shingles, tokens

# Ratio-of-small-integer statistics (k/n) often terminate exactly at a
# decimal rounding boundary (e.g. 0.551375 at 5 dp), where engines'
# ROUND implementations disagree (BigDecimal HALF_UP vs scaled-double).
# Shifting by an epsilon that no short-decimal value can sit next to
# makes ROUND deterministic across engines; oracle SQL applies the same
# shift.
ROUND_EPS = 1.2345678e-9

# simple marker vocabularies for the n-gram/stopword language heuristic
LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "los", "que"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "et", "des"],
}
STOPWORDS = LANG_MARKERS["en"]


def token_stats(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_chars, avg_token_len)."""
    t = tokens(docs, id_col, text_col)
    return (t.groupBy(id_col)
            .agg(F.count("*").alias("n_tokens"),
                 F.sum(F.length("token")).alias("n_token_chars"),
                 F.round(F.avg(F.length("token")) + ROUND_EPS, 5)
                 .alias("avg_token_len")))


def quality_scores(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Heuristic quality features + composite score per document.

    Features follow the usual pretraining-filter recipe: document length,
    stopword ratio, non-alphabetic ratio, mean token length. The score is
    a fixed affine combination (deterministic, oracle-checkable).
    """
    t = tokens(docs, id_col, text_col)
    stop = F.col("token").isin(STOPWORDS).cast("long")
    alpha_chars = F.length(F.regexp_replace("token", "[^a-zA-Z]", ""))
    agg = (t.groupBy(id_col)
           .agg(F.count("*").alias("n_tokens"),
                F.avg(stop).alias("stopword_ratio"),
                (F.sum(alpha_chars) / F.sum(F.length("token")))
                .alias("alpha_ratio"),
                F.avg(F.length("token")).alias("mean_token_len")))
    score = (
        F.least(F.col("n_tokens") / 100.0, F.lit(1.0)) * 0.4
        + F.col("stopword_ratio") * 0.2
        + F.col("alpha_ratio") * 0.3
        + F.least(F.col("mean_token_len") / 10.0, F.lit(1.0)) * 0.1
    )
    return agg.select(
        id_col, "n_tokens",
        F.round(F.col("stopword_ratio") + ROUND_EPS, 5)
        .alias("stopword_ratio"),
        F.round(F.col("alpha_ratio") + ROUND_EPS, 5).alias("alpha_ratio"),
        F.round(F.col("mean_token_len") + ROUND_EPS, 5)
        .alias("mean_token_len"),
        F.round(score + ROUND_EPS, 5).alias("quality_score"))


def lang_id(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """(doc_id, pred_lang, marker_hits): argmax marker-hit language.

    Ties (including zero hits) resolve to the lexicographically first
    language — deterministic for the oracle.
    """
    t = tokens(docs, id_col, text_col)
    hit_cols = [
        F.sum(F.col("token").isin(m).cast("long")).alias(f"hits_{lang}")
        for lang, m in sorted(LANG_MARKERS.items())
    ]
    agg = t.groupBy(id_col).agg(*hit_cols)
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    pred = F.coalesce(
        *[F.when(F.col(f"hits_{lang}") == best, F.lit(lang))
          for lang in langs])
    return agg.select(id_col, pred.alias("pred_lang"),
                      best.alias("marker_hits"))


# PII patterns kept to RE2-compatible syntax (character classes +
# quantifiers only) so the same pattern string runs in Spark's Java
# regex AND the DuckDB oracle's RE2.
PII_PATTERNS = {
    "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "PHONE": r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}",
    "IP": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def pii_scrub(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """(id, text_scrubbed, n_redactions): redact emails / E.164-style
    phone numbers / IPv4 literals with <EMAIL>/<PHONE>/<IP> tokens.

    The standard pretraining privacy pass, as pure JVM regexp column
    expressions (per-row, embarrassingly parallel — no shuffle at all).
    Order matters: emails first so user@host is not half-eaten by the
    IP pattern; counts are taken per pattern before its replacement.
    """
    out = docs
    count_expr = None
    scrubbed = F.col(text_col)
    for tag in ("EMAIL", "PHONE", "IP"):   # deterministic order
        pat = PII_PATTERNS[tag]
        c = F.size(F.regexp_extract_all(scrubbed, F.lit(pat), F.lit(0)))
        count_expr = c if count_expr is None else count_expr + c
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{tag}>")
    return out.select(F.col(id_col),
                      scrubbed.alias("text_scrubbed"),
                      count_expr.cast("long").alias("n_redactions"))


def _tf_subtree_shared(docs: DataFrame) -> bool:
    """True when the input is big enough that consolidating the
    tokenize+tf subtree into one shared exchange beats running the
    duplicated per-consumer copies concurrently — the same calibrated
    footprint gate ensure_parallelism uses (a single-task-sized input
    is where concurrent duplicates win; an input that splits is where
    repeated corpus passes cost). Unknown footprint (object stores,
    non-file sources) defaults to shared — the scale-safe choice."""
    from .partitioning import (_BYTES_PER_TASK_WORTH_SPLITTING,
                               _input_footprint, _max_partition_bytes)
    fp = _input_footprint(docs, _max_partition_bytes(docs))
    if fp is None:
        return True
    total, _ = fp
    return total >= _BYTES_PER_TASK_WORTH_SPLITTING * 2


def tfidf_top_terms(docs: DataFrame, k: int = 5,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF:
    (doc_id, rank, token, tf, tfidf) with tfidf = tf * ln(N / df),
    ties broken by token (deterministic, oracle-checkable).

    Scale shape: ONE map-combinable groupBy(doc, token) builds the tf
    table; document frequencies aggregate that; the tf-to-df join is
    left UNHINTED on purpose — the df side has one row per DISTINCT
    CORPUS TOKEN, which at web scale (typos/unicode/noise) is billions
    of rows and must never be forced through a broadcast; both sides
    key on ``token`` so Catalyst plans a co-partitioned shuffle join,
    and AQE still converts to broadcast at runtime when the vocabulary
    actually is small. The corpus size N rides in as a broadcast
    scalar (the bigram_pmi pattern); per-doc top-k is the
    WindowGroupLimit workhorse. Nothing here ever shuffles more than
    O(distinct (doc, token)) rows."""
    i = _q(id_col, True)
    t = tokens(docs, id_col, text_col)
    tf = t.groupBy(id_col, "token").agg(F.expr("count(1) AS tf"))
    # df and n_docs aggregate over the SAME tf table the scorer joins —
    # but whether their subtrees should be CANONICALLY SHARED with the
    # scorer's is a scale question, measured at both operating points
    # (r16, interleaved A/B):
    #   * big input (splits into multiple scan tasks): sharing wins —
    #     ONE tokenize+tf pass feeds all three consumers instead of
    #     three full corpus passes (sf1.0: 3.58 -> 3.42 min, and the
    #     at-scale property: the corpus pass dominates everything).
    #   * tiny single-task input: the three DUPLICATED subtrees run
    #     CONCURRENTLY on idle cores, while the shared tf exchange
    #     serializes the chain behind one 0.4 s single-task map
    #     (sf0.1: 0.81 -> 1.01 min shared). Duplicates win exactly
    #     while the input is below the ensure_parallelism split gate,
    #     so the same calibrated footprint decides both.
    # Sharing requires aggregates that REFERENCE tf in a way Catalyst
    # cannot eliminate: r15's count(tf) (== count(*), tf never null)
    # was undone by count-elimination + column pruning — the fragility
    # the r15 advice flagged, confirmed by the r16 sf1.0 plan audit
    # (three full passes). count_if(tf > 0) / max(tf) keep a live
    # reference, making every consumer's tf subtree byte-identical
    # (plan-verified at sf1.0: one Generate, tf exchange read 3x).
    if _tf_subtree_shared(docs):
        df_t = tf.groupBy("token").agg(F.expr("count_if(tf > 0) AS df"))
        n = tf.groupBy(id_col).agg(F.expr("max(tf) AS _c")) \
            .selectExpr("count_if(_c > 0) AS n_docs")
    else:
        df_t = tf.groupBy("token").agg(F.expr("count(tf) AS df"))
        n = tf.groupBy(id_col).agg(F.expr("count(tf) AS _c")) \
            .selectExpr("count(1) AS n_docs")
    # per-doc top-k: row_number + filter plans as WindowGroupLimit
    return (tf.join(df_t, "token").crossJoin(F.broadcast(n))
            .selectExpr("*", "round(tf * ln(n_docs / df) + "
                        f"{ROUND_EPS!r}D, 5) AS tfidf")
            .selectExpr(i, "token", "tf", "tfidf")
            .selectExpr("*", f"row_number() OVER (PARTITION BY {i} "
                        "ORDER BY tfidf DESC, token ASC) AS `rank`")
            .where(f"`rank` <= {int(k)}"))


def bm25_rank(docs: DataFrame, terms: list[str], k: int = 20,
              k1: float = 1.2, b: float = 0.75,
              id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Top-k documents for a bag-of-words query under BM25 (Robertson/
    Sparck Jones):

      score(d) = sum_t ln(1 + (N - df_t + 0.5)/(df_t + 0.5))
                        * tf / (tf + k1 * (1 - b + b * dl/avgdl))

    Returns (doc_id, score, rank). Scale shape: ONE token pass — a
    single groupBy(doc) yields the document length ``dl`` and one
    ``count_if(token = term)`` column per distinct query term, so the
    per-doc table is O(docs x terms) however common a term is. A
    one-row aggregate over that table (N, avgdl, df per term) is
    broadcast back; both consumers read the same token exchange. The
    global top-k goes through orderBy().limit(k) so Catalyst plans
    TakeOrderedAndProject — a distributed per-partition partial top-k —
    instead of sorting every matching document in one WindowExec task.
    Repeated terms count once; no terms returns no rows.

    ``id_col`` must be non-null (it is the documents table's key).
    Documents with a null id are dropped before anything is computed,
    so they count toward neither N, avgdl nor df, and are never
    returned."""
    i = _q(id_col, True)
    terms = list(dict.fromkeys(terms))
    tfs = [f"tf{j}" for j in range(len(terms))]
    per_doc = (tokens(docs.where(f"{i} IS NOT NULL"), id_col, text_col)
               .groupBy(id_col)
               .agg(*map(F.expr, ["count(1) AS dl"] + [
                   f"count_if(token = {_q(term)}) AS {tf}"
                   for term, tf in zip(terms, tfs)])))
    # count_if(dl > 0) == count(*) (dl >= 1) but keeps every column of
    # the per-doc table live, so this copy of its subtree stays the
    # scorer's and the token exchange is read, not re-run (plain
    # count(*) lets Catalyst prune the copy into a distinct aggregate
    # with its own token pass; r16 plan audit)
    stats = per_doc.selectExpr(
        "count_if(dl > 0) AS n_docs", "avg(dl) AS avgdl",
        *[f"count_if({tf} > 0) AS d{tf}" for tf in tfs])
    k1, b = float(k1), float(b)
    norm = f"{k1!r}D * (1.0D - {b!r}D + {b!r}D * dl / avgdl)"
    score = " + ".join(
        f"IF({tf} > 0, ln(1.0D + (n_docs - d{tf} + 0.5D) / (d{tf} + 0.5D))"
        f" * {tf} / ({tf} + {norm}), 0.0D)" for tf in tfs) or "0.0D"
    match = " OR ".join(f"{tf} > 0" for tf in tfs) or "false"
    # global top-k: TakeOrderedAndProject (distributed partial top-k),
    # then rank derived WITHOUT a window — collect the <=k survivors
    # into one array-sorted row and posexplode, so no unpartitioned
    # WindowExec appears anywhere in the plan
    return (per_doc.where(match).crossJoin(F.broadcast(stats))
            .selectExpr(i, f"round({score} + {ROUND_EPS!r}D, 5) AS score")
            .orderBy(F.desc("score"), F.expr(i).asc()).limit(k)
            .selectExpr(f"array_sort(collect_list(struct(-score AS _neg, "
                        f"{i} AS {i}, score AS score))) AS _a")
            .selectExpr("posexplode(_a) AS (_pos, _r)")
            .selectExpr(f"_r.{i} AS {i}", "_r.score AS score",
                        "_pos + 1 AS `rank`"))


def token_frequencies(docs: DataFrame, k: int = 50,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Corpus-wide top-k token frequencies (count desc, token asc).

    One shuffle keyed on token with map-side partial counts; the global
    top-k sorts only the VOCABULARY (≪ corpus) — the standard corpus
    statistics pass for tokenizer/vocab work.
    """
    t = tokens(docs, id_col, text_col)
    return (t.groupBy("token").agg(F.count("*").alias("freq"))
            .orderBy(F.col("freq").desc(), F.col("token"))
            .limit(k))


def bigram_pmi(docs: DataFrame, min_count: int = 5,
               id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """(x, y, n_xy, pmi): pointwise mutual information of adjacent
    token bigrams with corpus count >= ``min_count`` — the standard
    collocation statistic for tokenizer-merge and phrase-mining work.

    pmi = ln( (c_xy / N_bigrams) / ((c_x / N_tokens) * (c_y / N_tokens)) )

    Scale shape: bigrams come from the shingle projection (no window,
    no shuffle before aggregation), one groupBy each for bigram and
    unigram counts, and the two count-total scalars arrive by broadcast
    cross join — the joined tables are vocabulary-sized (≪ corpus).
    The returned row set is determined by integer counts alone
    (min_count filter); pmi is a value column, rounded like every
    other float the oracle compares.
    """
    t = tokens(docs, id_col, text_col)
    uni = t.groupBy("token").agg(F.count("*").alias("c"))
    n_tok = t.agg(F.count("*").alias("n_tokens"))
    big = (shingles(docs, 2, id_col, text_col)
           .select(F.substring_index("shingle", " ", 1).alias("x"),
                   F.substring_index("shingle", " ", -1).alias("y")))
    n_big = big.agg(F.count("*").alias("n_bigrams"))
    cxy = (big.groupBy("x", "y").agg(F.count("*").alias("n_xy"))
           .filter(F.col("n_xy") >= min_count))
    out = (cxy
           .join(uni.select(F.col("token").alias("x"),
                            F.col("c").alias("_cx")), "x")
           .join(uni.select(F.col("token").alias("y"),
                            F.col("c").alias("_cy")), "y")
           .crossJoin(F.broadcast(n_tok))
           .crossJoin(F.broadcast(n_big)))
    pmi = F.log((F.col("n_xy") / F.col("n_bigrams"))
                / ((F.col("_cx") / F.col("n_tokens"))
                   * (F.col("_cy") / F.col("n_tokens"))))
    return out.select("x", "y", "n_xy",
                      F.round(pmi + ROUND_EPS, 5).alias("pmi"))


def normalize_text(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(id, text_norm): lowercase, strip non-alphanumerics to spaces,
    collapse whitespace runs, trim — the canonicalization pass run
    before exact/near dedup so trivial variants collapse. Pure JVM
    column expressions, shuffle-free.
    """
    t = F.lower(F.col(text_col))
    t = F.regexp_replace(t, r"[^a-z0-9\s]", " ")
    t = F.regexp_replace(t, r"\s+", " ")
    return docs.select(F.col(id_col), F.trim(t).alias("text_norm"))


def repetition_scores(docs: DataFrame, ngram: int = 2,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """(id, n_ngrams, dup_ngram_frac, top_ngram_frac): token-level
    repetition statistics in the MassiveText/Gopher style — the share
    of n-gram occurrences that are repeats, and the share taken by the
    single most frequent n-gram. High values flag boilerplate/spam.

    Two map-side-combinable aggregations (per (doc, ngram), then per
    doc) — no joins, no windows.
    """
    sh = shingles(docs, ngram, id_col, text_col).select(id_col, "shingle")
    per = sh.groupBy(id_col, "shingle").agg(F.count("*").alias("c"))
    return (per.groupBy(id_col)
            .agg(F.sum("c").alias("_total"),
                 F.count("*").alias("_distinct"),
                 F.max("c").alias("_top"))
            .select(
                F.col(id_col), F.col("_total").alias("n_ngrams"),
                F.round(1.0 - F.col("_distinct") / F.col("_total")
                        + ROUND_EPS, 5).alias("dup_ngram_frac"),
                F.round(F.col("_top") / F.col("_total") + ROUND_EPS, 5)
                .alias("top_ngram_frac")))


def lang_quality(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """lang_id + quality_scores fused into ONE token pass.

    (doc_id, pred_lang, quality_score, n_tokens) from a single
    groupBy(doc_id): the curation pipeline needs both feature sets, and
    the token-table scan is its dominant cost at 100 TB — running the
    language and quality aggregates in the same shuffle halves it.
    Semantics identical to lang_id() + quality_scores() joined on id.
    """
    # work_factor 3: the fused pass runs 9 partial aggregates map-side —
    # measured 0.47 s single-task vs 0.18 s for plain tokenize over the
    # same sf0.1 file (r15)
    i = _q(id_col, True)
    t = tokens(docs.selectExpr(i, _q(text_col, True)), id_col, text_col,
               work_factor=3.0)
    langs = sorted(LANG_MARKERS)
    agg = t.groupBy(id_col).agg(*map(F.expr, [
        "count(1) AS n_tokens",
        f"avg(CAST({_in('token', STOPWORDS)} AS BIGINT)) "
        "AS stopword_ratio",
        "sum(length(regexp_replace(token, '[^a-zA-Z]', ''))) "
        "/ sum(length(token)) AS alpha_ratio",
        "avg(length(token)) AS mean_token_len",
        *[f"sum(CAST({_in('token', LANG_MARKERS[lang])} AS BIGINT)) "
          f"AS hits_{lang}" for lang in langs]]))
    best = f"greatest({', '.join(f'hits_{lang}' for lang in langs)})"
    pred = ", ".join(f"CASE WHEN hits_{lang} = {best} THEN {_q(lang)} END"
                     for lang in langs)
    score = ("least(n_tokens / 100.0D, 1.0D) * 0.4D"
             " + stopword_ratio * 0.2D + alpha_ratio * 0.3D"
             " + least(mean_token_len / 10.0D, 1.0D) * 0.1D")
    return agg.selectExpr(
        i, f"coalesce({pred}) AS pred_lang",
        f"round({score} + {ROUND_EPS!r}D, 5) AS quality_score", "n_tokens")


def winnow_fingerprints(docs: DataFrame, shingle_n: int = 3,
                        window: int = 4, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Winnowing (rolling-min) document fingerprints.

    Hash each n-shingle (md5 prefix as integer), take the min hash of
    every ``window`` consecutive shingles, keep the distinct mins: the
    standard MOSS-style fingerprint set, here as pure window functions.
    """
    # +1 over the shingle default: one md5 per shingle fuses map-side
    sh = shingles(docs, shingle_n, id_col, text_col, work_factor=4.0)
    h = sh.select(
        id_col, "idx",
        F.conv(F.substring(F.md5("shingle"), 1, 12), 16, 10)
        .cast("long").alias("h"))
    w = (Window.partitionBy(id_col).orderBy("idx")
         .rowsBetween(0, window - 1))
    n = Window.partitionBy(id_col)
    mins = (h.withColumn("wmin", F.min("h").over(w))
            .withColumn("last_idx", F.max("idx").over(n))
            .filter(F.col("idx") <= F.col("last_idx") - window + 1))
    return mins.select(id_col, F.col("wmin").alias("fingerprint")) \
        .distinct()

"""The benchmark workloads.

Each workload writes its seeded inputs to a work directory (untimed),
sets up (timed: input load and, for the ANN workloads, the index
build), then serves requests one at a time. ``request`` is the path a
user takes: one composed library call per layer chain, collected at the
end. ``traced_request`` makes the same calls layer by layer, collecting
each layer's output so that its time is its own, and records spans
around each call. ``check`` compares every output with the benchmark's
own oracle.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
from cross_modal_multivector_search_spark.functions import metrics as M
from cross_modal_multivector_search_spark.operators import (
    _roar_core, curation, dedup, graph_build, graph_search, rerank,
    set_search, text)

K = 10
# The searched corpus (base vectors, training queries, set cardinalities,
# document vocabulary) is the same for every workload seed, like a fixed
# benchmark dataset; the seed draws the request stream (query sets and
# document shards). Index build work then does not vary with the seed.
CORPUS_SEED = 20_240_601
ROAR_PARAMS = dict(m_sq=20, m_pjbp=12, l_pjpq=40)
VECTORS = gen.VectorShape(n_base=6_000, n_train=3_000)
DOCS = gen.DocShape(n_docs=1_000)
BM25_TERMS = ["data", "search", "model"]
# the curation parameters of the repository's corpus_curate query
CURATE = dict(quality_threshold=0.5, langs=("en",), num_hashes=8,
              bands=4, shingle_n=3)
KERNEL_SAMPLE = 16                  # query sets timed in direct kernel calls

_QSCHEMA = "set_id long, vec_id long, vec array<float>"


def _write(path: str, df: pd.DataFrame) -> str:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return path


def _vec_frame(set_id: np.ndarray, vec_id: np.ndarray,
               rows: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame({"set_id": set_id, "vec_id": vec_id,
                         "vec": list(rows)})


def _by_query(out: pd.DataFrame) -> dict:
    got: dict = {}
    for q, r, d, s in zip(out["query_set_id"], out["rank"],
                          out["data_set_id"], out["score"]):
        got.setdefault(int(q), []).append((int(r), int(d), float(s)))
    return got


def _queries(sid: np.ndarray, rows: np.ndarray) -> dict:
    return {int(s): rows[sid == s].astype(np.float64)
            for s in np.unique(sid)}


def _kernel_sample(index: "oracle.SetIndex", qsets: dict,
                   pairs: dict) -> dict:
    """Time ``metrics.SET_METRICS_BATCH`` called directly on a sample of
    the request's (query set, candidate data sets) pairs, and count the
    whole request's GEMM flops and data bytes.

    ``pairs``: query-set id -> array of data-set ids it is scored
    against."""
    fn = M.SET_METRICS_BATCH["smooth_chamfer"]
    card = np.diff(np.append(index.starts, len(index.rows)))
    flop = mb = 0.0
    elapsed, n_pairs = 0.0, 0
    for j, (qid, dsets) in enumerate(pairs.items()):
        q = qsets[qid]
        pos = np.searchsorted(index.set_ids, dsets)
        rows = int(card[pos].sum())
        flop += 2.0 * q.shape[0] * rows * q.shape[1]
        mb += (rows + q.shape[0]) * q.shape[1] * 8 / 1e6
        if j < KERNEL_SAMPLE:
            concat = np.concatenate([
                index.rows[index.starts[p]:index.starts[p] + card[p]]
                for p in pos])
            t = time.perf_counter()
            fn(q, concat, card[pos])
            elapsed += time.perf_counter() - t
            n_pairs += len(pos)
    return {"metrics.kernel_us_per_pair": elapsed / max(n_pairs, 1) * 1e6,
            "metrics.gflop": flop / 1e9, "metrics.mb_moved": mb}


class Workload:
    """Shared plumbing; subclasses fill in the layer calls."""

    builds_index = False

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work

    def generate(self) -> None:
        raise NotImplementedError

    def setup(self) -> None:
        """Load the inputs (and build what the workload searches)."""
        raise NotImplementedError

    def prepare(self, i: int) -> None:
        """Generate request ``i``'s inputs ahead of timing it."""

    def request(self, i: int):
        raise NotImplementedError

    def traced_request(self, i: int, tr) -> tuple:
        """Returns (output, layer counters)."""
        raise NotImplementedError

    def items(self, i: int) -> int:
        raise NotImplementedError

    def check(self, outputs: dict) -> tuple[int, float]:
        """(failed requests, mean recall@10 over the requests)."""
        raise NotImplementedError


class AnnWorkload(Workload):
    """Two-phase search: RoarGraph beam search, then exact rerank.

    256 query sets at budget 400 per request. The budget is scaled with
    the 6k-vector base; it is above the window-engine threshold (300)
    and gives recall@10 near 0.97, with room to move either way. At this
    batch and budget the two-phase path is faster than exact
    ``set_topk_gemm`` over the same query sets, and the search and
    rerank kernels, not the per-call Spark jobs, take most of the time."""

    builds_index = True
    n_sets = 256
    budget = 400

    def __init__(self, spark, seed: int, work: str):
        super().__init__(spark, seed, work)
        self._memo: dict = {}

    def generate(self) -> None:
        s = VECTORS
        self.base = gen.base_vectors(CORPUS_SEED, s)
        ids = np.arange(s.n_base, dtype=np.int64)
        self.base_path = _write(os.path.join(self.work, "base.parquet"),
                                _vec_frame(ids // s.m, ids, self.base))
        train = gen.train_queries(CORPUS_SEED, s)
        self.train_path = _write(
            os.path.join(self.work, "train.parquet"),
            pd.DataFrame({"vec_id": np.arange(s.n_train, dtype=np.int64),
                          "vec": list(train)}))
        self.truth = oracle.SetIndex(ids // s.m, self.base)

    def setup(self) -> None:
        self.data = self.spark.read.parquet(self.base_path)
        train = self.spark.read.parquet(self.train_path)
        self.index = graph_build.build_roargraph(
            self.data.select("vec_id", "vec"), train,
            graph_build.RoarGraphParams(**ROAR_PARAMS))

    def _params(self):
        return graph_search.SearchParams(min_pq=5, max_pq=self.budget,
                                         budget=self.budget)

    def prepare(self, i: int) -> None:
        self._inputs(i)

    def _inputs(self, i: int):
        if i not in self._memo:
            sid, rows = gen.query_sets(CORPUS_SEED, self.seed, i,
                                       self.n_sets, VECTORS)
            vid = np.arange(len(sid), dtype=np.int64) + i * 10 * self.n_sets
            self._memo[i] = sid, rows, vid
        return self._memo[i]

    def _qdf(self, i: int):
        sid, rows, vid = self._inputs(i)
        return self.spark.createDataFrame(_vec_frame(sid, vid, rows),
                                          _QSCHEMA)

    def items(self, i: int) -> int:
        return self.n_sets

    def request(self, i: int):
        return graph_search.search_and_rerank(
            self.index, self._qdf(i), self.data, K, self._params(),
            m=VECTORS.m).toPandas()

    def traced_request(self, i: int, tr) -> tuple:
        with tr.span("request", i, spark_group=False):
            with tr.span("input", i):
                q = self._qdf(i)
            with tr.span("graph_search", i):
                cands = graph_search.multivector_search(
                    self.index, q, self._params()).toPandas()
            with tr.span("rerank", i):
                cdf = self.spark.createDataFrame(
                    cands[["query_set_id", "base_vec_id"]],
                    "query_set_id long, base_vec_id long")
                out = rerank.rerank(cdf, q, self.data, K,
                                    m=VECTORS.m).toPandas()

        # the exact path over the same query sets, as a stand-alone layer
        # call outside the request span
        with tr.span("set_search", i):
            exact = set_search.set_topk_gemm(q, self.data, K).toPandas()
        # direct kernel calls on a sample of this request's query sets
        sid, rows, _ = self._inputs(i)
        qsets = _queries(sid, rows)
        sample = [qsets[s] for s in list(qsets)[:KERNEL_SAMPLE]]
        ix = self.index
        t = time.perf_counter()
        _roar_core.batch_multivector_search(
            ix.adj, ix.vecs, sample, ix.entry_point, 5, self.budget,
            self.budget, True)
        kernel_s = time.perf_counter() - t
        _, st = _roar_core.multivector_search_instrumented(
            ix.adj, ix.vecs, sample[0], ix.entry_point, 5, self.budget,
            self.budget)
        cand_sets = cands.assign(d=cands["base_vec_id"] // VECTORS.m) \
            .groupby("query_set_id")["d"].unique()
        n_pairs = int(sum(len(v) for v in cand_sets))
        n_sets = len(np.unique(cands["base_vec_id"] // VECTORS.m))
        counters = {
            "graph_search.cands_per_qset": len(cands) / self.n_sets,
            "graph_search.visited_per_qset": float(st["total_visited"]),
            "graph_search.visited_unique_ratio": st["unique_ratio"],
            "roar_core.kernel_qsets_per_s": len(sample) / kernel_s,
            "rerank.cand_pairs": float(n_pairs),
            "rerank.cand_sets": float(n_sets),
        }
        counters.update(_kernel_sample(
            self.truth, qsets,
            {int(q): np.sort(d) for q, d in cand_sets.items()}))
        return (out, exact), counters

    def check(self, outputs: dict) -> tuple[int, float]:
        """Traced requests also carry the exact path's output, which
        must be the oracle's top-k."""
        failed, recall = 0, []
        for i, out in outputs.items():
            sid, rows, _ = self._inputs(i)
            qsets = _queries(sid, rows)
            out, exact = out if isinstance(out, tuple) else (out, None)
            f, r = oracle.check_topk(_by_query(out), qsets, self.truth, K,
                                     exact=False)
            if exact is not None:
                f += oracle.check_topk(_by_query(exact), qsets, self.truth,
                                       K, exact=True)[0]
            failed += f > 0
            recall.append(r / self.n_sets)
        return failed, float(np.mean(recall))


class CurateDocsWorkload(Workload):
    """Corpus curation plus tf-idf and BM25 on a fresh shard per request."""

    def generate(self) -> None:
        self.shards: dict = {}
        self.shard(0)

    def shard(self, i: int) -> str:
        """Write shard ``i`` (untimed; called before the request)."""
        if i not in self.shards:
            c = gen.corpus_shard(CORPUS_SEED, self.seed, i, DOCS)
            path = _write(os.path.join(self.work, f"docs{i}.parquet"),
                          pd.DataFrame({"doc_id": c.doc_id,
                                        "text": c.text}))
            self.shards[i] = (path, c)
        return self.shards[i][0]

    def setup(self) -> None:
        self.spark.read.parquet(self.shards[0][0]).schema

    def prepare(self, i: int) -> None:
        self.shard(i)

    def items(self, i: int) -> int:
        return DOCS.n_docs

    def request(self, i: int):
        docs = self.spark.read.parquet(self.shard(i))
        return (curation.curate_corpus(docs, **CURATE).toPandas(),
                text.tfidf_top_terms(docs, k=5).toPandas(),
                text.bm25_rank(docs, BM25_TERMS, 20).toPandas())

    def traced_request(self, i: int, tr) -> tuple:
        path = self.shard(i)
        with tr.span("request", i, spark_group=False):
            with tr.span("input", i):
                docs = self.spark.read.parquet(path)
            with tr.span("dedup.lsh_pairs", i):
                pairs = dedup.minhash_lsh_pairs(
                    docs, CURATE["num_hashes"], CURATE["bands"],
                    CURATE["shingle_n"], dedup_pairs=False).toPandas()
            with tr.span("curation", i):
                pdf = self.spark.createDataFrame(pairs, "a long, b long")
                cur = curation.curate_corpus(docs, pairs=pdf,
                                             **CURATE).toPandas()
            with tr.span("text.tfidf", i):
                tf = text.tfidf_top_terms(docs, k=5).toPandas()
            with tr.span("text.bm25", i):
                bm = text.bm25_rank(docs, BM25_TERMS, 20).toPandas()
        # layers the composed curation call runs inside itself, timed
        # alone outside the request span
        with tr.span("dedup.components", i):
            dedup.connected_components(pdf).toPandas()
        with tr.span("text.lang_quality", i):
            text.lang_quality(docs).toPandas()
        cand = {(min(a, b), max(a, b))
                for a, b in zip(pairs["a"], pairs["b"])}
        planted = set()
        for g in self.shards[i][1].groups:
            planted.update((a, b) for a in g for b in g if a < b)
        counters = {
            "dedup.cand_pairs": float(len(cand)),
            "dedup.pair_precision": len(cand & planted) / max(len(cand), 1),
            "curation.docs_kept": float(len(cur)),
        }
        return (cur, tf, bm), counters

    def check(self, outputs: dict) -> tuple[int, float]:
        import duckdb

        import __spark_entry__ as E

        failed, recall = 0, []
        for i, (cur, tf, bm) in outputs.items():
            con = duckdb.connect()
            try:
                con.register("documents", pd.read_parquet(self.shard(i)))
                want = [con.execute(sql).df() for sql in (
                    E.SQL_CORPUS_CURATE, E.SQL_TFIDF_TOP_TERMS,
                    E.SQL_BM25_RANK)]
            finally:
                con.close()
            ok = all(_same_rows(g, w) for g, w in zip((cur, tf, bm), want))
            failed += not ok
            top = set(want[2].nsmallest(K, "rank")["doc_id"])
            recall.append(len(top & set(bm.nsmallest(K, "rank")["doc_id"]))
                          / max(len(top), 1))
        return failed, float(np.mean(recall))


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _same_rows(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    return _canon(got).equals(_canon(want))


WORKLOADS = {
    "ann_batch": AnnWorkload,
    "curate_docs": CurateDocsWorkload,
}

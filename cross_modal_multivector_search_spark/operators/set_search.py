"""Exact set-to-set top-k: the flagship query semantics.

Reference: `RerankAllBySequentialScan`
(`/root/reference/src/multivector_reranker.cpp:100-158`) — score a query
*set* of m vectors against EVERY data set under a set-to-set metric
(smooth-Chamfer `:330-375` or MaxSim `:432-438`), return top-k set ids by
descending score. Also `RerankAllAndGenerateSetGroundTruth` (`:160-181`)
= the same with k = #sets (GT generation).

Physical strategies:

  * ``*_sql`` — the pairwise similarity matrix as a broadcast join of
    member vectors, LSE / max-aggregation as two-level groupBy. Fully
    Catalyst-visible; exactly mirrored by the DuckDB oracle SQL. The
    LSE here skips max-subtraction (|T*sim| <= 16 so exp() is safe in
    double); the NumPy path reproduces the reference's max-subtracted
    numerics bit-for-bit — both agree to ~1e-12.
  * ``set_topk_gemm`` — scale path: query sets broadcast as NumPy, data
    sets streamed via ``applyInPandas``-free mapInPandas over pre-grouped
    set rows; one GEMM per Arrow batch of data sets (the reference's
    batch variant `:377-430`), per-batch partial top-k, global merge.

The NumPy scoring has one kernel per metric,
``functions.metrics.SET_METRICS_BATCH``; ``rerank`` runs the same
kernel restricted to candidate pairs, and both take their query side
from ``fetch_grouped_sets``. The per-pair ``SET_METRICS`` remain the
reference the tests compare the batched kernels against.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..functions import metrics as M
from ..functions import vector as V
from .topk import grouped_topk

# the per-pair score rows of the NumPy scorers (set_topk_gemm, rerank)
_SCORE_SCHEMA = StructType([
    StructField("query_set_id", LongType()),
    StructField("data_set_id", LongType()),
    StructField("score", DoubleType()),
])


def _member_pairs(query_vecs: DataFrame, data_vecs: DataFrame,
                  set_id: str = "set_id", vec_id: str = "vec_id",
                  vec_col: str = "vec") -> DataFrame:
    """All (query member, data member) cosine/IP similarities.

    Query side broadcast (it is small); data side streams. Columns:
    (q_set, q_vec, d_set, d_vec, sim).
    """
    q = query_vecs.select(
        F.col(set_id).alias("q_set"), F.col(vec_id).alias("q_vec"),
        V.to_double(F.col(vec_col)).alias("_qv"))
    d = data_vecs.select(
        F.col(set_id).alias("d_set"), F.col(vec_id).alias("d_vec"),
        V.to_double(F.col(vec_col)).alias("_dv"))
    return F.broadcast(q).crossJoin(d).select(
        "q_set", "q_vec", "d_set", "d_vec",
        V.dot(F.col("_qv"), F.col("_dv")).alias("sim"))


def smooth_chamfer_scores_sql(query_vecs: DataFrame, data_vecs: DataFrame,
                              temperature: float = M.SMOOTH_CHAMFER_TEMPERATURE,
                              txt_scale: float = M.SMOOTH_CHAMFER_TXT_SCALE,
                              denominator: float = M.SMOOTH_CHAMFER_DENOMINATOR,
                              **cols) -> DataFrame:
    """(q_set, d_set, score) for every pair of sets — declarative form.

    term1 = sum_i LSE_j(T*s*sim_ij) / (m*T*s); term2 = sum_j LSE_i(T*sim_ij)
    / (m*T); score = (term1+term2)/denominator, m = |query set| (BOTH terms
    divide by the query cardinality — reference `:353-355,370-371`).
    """
    pairs = _member_pairs(query_vecs, data_vecs, **cols)
    ts = temperature * txt_scale
    lse1 = pairs.groupBy("q_set", "d_set", "q_vec").agg(
        F.log(F.sum(F.exp(F.col("sim") * F.lit(ts)))).alias("lse1"))
    t1 = lse1.groupBy("q_set", "d_set").agg(
        F.sum("lse1").alias("sum_lse1"), F.count("*").alias("m"))
    lse2 = pairs.groupBy("q_set", "d_set", "d_vec").agg(
        F.log(F.sum(F.exp(F.col("sim") * F.lit(temperature)))).alias("lse2"))
    t2 = lse2.groupBy("q_set", "d_set").agg(F.sum("lse2").alias("sum_lse2"))
    return t1.join(t2, ["q_set", "d_set"]).select(
        "q_set", "d_set",
        ((F.col("sum_lse1") / (F.col("m") * F.lit(ts))
          + F.col("sum_lse2") / (F.col("m") * F.lit(temperature)))
         / F.lit(denominator)).alias("score"))


def maxsim_scores_sql(query_vecs: DataFrame, data_vecs: DataFrame,
                      **cols) -> DataFrame:
    """MaxSim: sum over query members of max over data members."""
    pairs = _member_pairs(query_vecs, data_vecs, **cols)
    per_member = pairs.groupBy("q_set", "d_set", "q_vec").agg(
        F.max("sim").alias("best"))
    return per_member.groupBy("q_set", "d_set").agg(
        F.sum("best").alias("score"))


def set_topk_sql(query_vecs: DataFrame, data_vecs: DataFrame, k: int,
                 metric: str = "smooth_chamfer", **cols) -> DataFrame:
    scorer = {"smooth_chamfer": smooth_chamfer_scores_sql,
              "summed_max_similarity": maxsim_scores_sql}[metric]
    scores = scorer(query_vecs, data_vecs, **cols)
    return grouped_topk(
        scores, ["q_set"], [F.col("score").desc(), F.col("d_set").asc()], k
    ).select(F.col("q_set").alias("query_set_id"), "rank",
             F.col("d_set").alias("data_set_id"), "score")


def _grouped_sets(vec_df: DataFrame, set_id: str, pos: str | None,
                  vec_col: str) -> DataFrame:
    """(set_id, mat: array<array<...>>) with deterministic member order.

    Vectors keep their stored element type through the shuffle (a
    float column moves half the bytes of its double cast); the NumPy
    consumers widen to float64 exactly."""
    order_col = F.col(pos) if pos else F.col("vec_id")
    return (
        vec_df.groupBy(F.col(set_id).alias("set_id"))
        .agg(F.sort_array(F.collect_list(F.struct(
            order_col.alias("o"), F.col(vec_col).alias("v")
        ))).alias("rows"))
        .select("set_id", F.col("rows.v").alias("mat"))
    )


def fetch_grouped_sets(query_vecs: DataFrame, set_id: str = "set_id",
                       pos: str | None = None,
                       vec_col: str = "vec") -> list:
    """Arrow-fetch the (small) query side once: [(set_id, matrix), ...].

    Every engine that broadcasts its query sets (``set_topk_gemm``,
    ``rerank``, the sharded searches) fetches them through here.
    Build-once / search-many callers pass the result straight to
    ``set_topk_gemm``, ``rerank`` or ``sharded.search_sharded`` instead
    of a DataFrame, skipping the grouped fetch's 2-3 Spark jobs on every
    repeated search (the reference loads its query fbin once and
    benchmarks search alone)."""
    q_pdf = _grouped_sets(query_vecs, set_id, pos, vec_col).toPandas()
    return [(int(s), np.array([np.asarray(v) for v in m], dtype=np.float64))
            for s, m in zip(q_pdf["set_id"], q_pdf["mat"])]


def _broadcast_query_sets(spark, query_vecs, set_id: str = "set_id",
                          pos: str | None = None, vec_col: str = "vec"):
    """Broadcast the query side in ``fetch_grouped_sets`` list form. A
    pre-fetched (build-once) list broadcasts once per session; a
    DataFrame is fetched and broadcast per call."""
    from ..util import cached_broadcast

    if isinstance(query_vecs, list):
        return cached_broadcast(spark, query_vecs)
    return spark.sparkContext.broadcast(
        fetch_grouped_sets(query_vecs, set_id, pos, vec_col))


def set_topk_gemm(query_vecs, data_vecs: DataFrame, k: int,
                  metric: str = "smooth_chamfer",
                  set_id: str = "set_id", pos: str | None = None,
                  vec_col: str = "vec") -> DataFrame:
    """Scale path: broadcast query sets, stream data sets, batch GEMM.

    ``query_vecs`` is a DataFrame, or a pre-fetched
    ``fetch_grouped_sets`` list (the knn_exact_gemm tuple pattern).
    Data sets are grouped (shuffle keyed on set_id — at 100 TB each set
    is <= ~8 rows so the shuffle is balanced), then scored one Arrow batch
    at a time: the batch's member matrices are stacked into a single GEMM
    (`ComputeSmoothChamferDistanceBatch` shape), LSE'd block-wise, and only
    the per-batch top-k per query survives to the final merge.
    """
    if metric not in M.SET_METRICS_BATCH:
        raise ValueError(f"unknown metric {metric!r}")
    # metric/k ride in the closure
    bc = _broadcast_query_sets(data_vecs.sparkSession, query_vecs, set_id,
                               pos, vec_col)

    def score_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_sets_l, met, kk = bc.value, metric, k
        fn = M.SET_METRICS_BATCH[met]
        for pdf in it:
            d_ids = pdf["set_id"].to_numpy(dtype=np.int64)
            mats = [np.stack([np.asarray(r, dtype=np.float64) for r in m])
                    for m in pdf["mat"]]
            cards = np.array([m.shape[0] for m in mats], dtype=np.int64)
            concat = np.vstack(mats)
            frames = []
            for qid, qmat in q_sets_l:
                scores = fn(qmat, concat, cards)
                kk_eff = min(kk, len(scores))
                # deterministic tiebreak (score desc, id asc) — see
                # brute_force.py: argpartition drops ties arbitrarily
                top = np.lexsort((d_ids, -scores))[:kk_eff]
                frames.append(pd.DataFrame({
                    "query_set_id": np.full(kk_eff, qid, dtype=np.int64),
                    "data_set_id": d_ids[top],
                    "score": scores[top],
                }))
            if frames:
                yield pd.concat(frames)

    partials = _grouped_sets(data_vecs, set_id, pos, vec_col).mapInPandas(
        score_batches, schema=_SCORE_SCHEMA)
    return grouped_topk(
        partials, ["query_set_id"],
        [F.col("score").desc(), F.col("data_set_id").asc()], k,
    ).select("query_set_id", "rank", "data_set_id", "score")

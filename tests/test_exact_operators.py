"""Cross-strategy equivalence: SQL-native vs GEMM paths must agree.

These mirror the reference's oracle discipline (SURVEY §5): the declarative
plan is the oracle for the scale-path plan.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cross_modal_multivector_search_spark import testdata as TD
from cross_modal_multivector_search_spark.functions import metrics as M
from cross_modal_multivector_search_spark.operators import (
    brute_force, recall, rerank, set_search,
)

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def vecs(spark):
    return TD.embeddings_norm(spark, SF_SMOKE).cache()


def _qb(vecs):
    q = vecs.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "vec")
    b = vecs.select(F.col("vec_id").alias("base_id"), "vec")
    return q, b


def test_knn_sql_vs_gemm(vecs):
    q, b = _qb(vecs)
    sql = brute_force.knn_exact_sql(q, b, 10, metric="ip").toPandas()
    gemm = brute_force.knn_exact_gemm(q, b, 10, metric="ip").toPandas()
    key = ["query_id", "rank"]
    sql = sql.sort_values(key).reset_index(drop=True)
    gemm = gemm.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(sql, gemm, check_dtype=False, atol=1e-9)


def test_knn_matches_numpy(vecs):
    q, b = _qb(vecs)
    out = brute_force.knn_exact_sql(q, b, 5, metric="ip").toPandas()
    rows = vecs.orderBy("vec_id").collect()
    mat = np.array([r["vec"] for r in rows])
    ids = np.array([r["vec_id"] for r in rows])
    sims = mat[:20] @ mat.T
    for qi in range(20):
        order = np.lexsort((ids, -sims[qi]))[:5]
        got = out[out.query_id == qi].sort_values("rank").base_id.to_numpy()
        assert list(got) == list(ids[order])


def test_set_topk_sql_vs_gemm(vecs):
    q = vecs.filter(F.col("set_id") < 5)
    sql = set_search.set_topk_sql(q, vecs, 10).toPandas()
    gemm = set_search.set_topk_gemm(q, vecs, 10).toPandas()
    key = ["query_set_id", "rank"]
    sql = sql.sort_values(key).reset_index(drop=True)
    gemm = gemm.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(sql, gemm, check_dtype=False, atol=1e-9)


def test_set_topk_self_is_rank1(vecs):
    """Each query set's own data set must rank first (identical vectors)."""
    q = vecs.filter(F.col("set_id") < 5)
    out = set_search.set_topk_sql(q, vecs, 3).toPandas()
    r1 = out[out["rank"] == 1]
    assert (r1.query_set_id == r1.data_set_id).all()


@pytest.mark.parametrize("metric", ["smooth_chamfer",
                                    "summed_max_similarity"])
def test_rerank_recovers_exact_topk_when_candidates_cover(vecs, metric):
    """With full coverage candidates, rerank == exhaustive set top-k."""
    q = vecs.filter(F.col("set_id") < 3)
    exact = set_search.set_topk_sql(q, vecs, 5, metric=metric).toPandas()
    cands = (
        q.select(F.col("set_id").alias("query_set_id"))
        .distinct()
        .crossJoin(vecs.select(F.col("vec_id").alias("base_vec_id")))
    )
    rr = rerank.rerank(cands, q, vecs, 5, metric=metric,
                       m=TD.M_FIXED).toPandas()
    key = ["query_set_id", "rank"]
    pd.testing.assert_frame_equal(
        exact.sort_values(key).reset_index(drop=True),
        rr.sort_values(key).reset_index(drop=True),
        check_dtype=False, atol=1e-9)


def test_recall_perfect_and_zero(spark):
    gt = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (1, 4)], "query_set_id long, data_set_id long")
    res_perfect = gt
    out = recall.recall_at_k(res_perfect, gt, 2).toPandas()
    assert (out.recall == 1.0).all()
    res_miss = spark.createDataFrame(
        [(0, 9), (1, 9)], "query_set_id long, data_set_id long")
    out = recall.recall_at_k(res_miss, gt, 2).toPandas()
    assert (out.recall == 0.0).all()


def test_paired_recall_range_semantics(spark):
    res = spark.createDataFrame(
        [(0, 7), (1, 3)], "query_set_id long, data_set_id long")
    pairs = spark.createDataFrame(
        [(0, 5, 10), (1, 10, 15)],
        "query_set_id long, gt_start long, gt_end long")
    out = recall.paired_recall(res, pairs).toPandas().set_index("query_set_id")
    assert out.loc[0, "hit"] == 1
    assert out.loc[1, "hit"] == 0


def test_set_topk_gemm_prefetched_queries_equivalent(spark):
    """set_topk_gemm(list) — the build-once prefetched query side —
    must equal the DataFrame path exactly."""
    vecs = TD.embeddings_norm(spark, SF_SMOKE)
    q = vecs.filter(F.col("set_id") < 3)
    a = set_search.set_topk_gemm(q, vecs, 5).toPandas()
    pre = set_search.fetch_grouped_sets(q)
    b = set_search.set_topk_gemm(pre, vecs, 5).toPandas()
    key = ["query_set_id", "rank"]
    assert a.sort_values(key).reset_index(drop=True).equals(
        b.sort_values(key).reset_index(drop=True))


def test_topk_cols_ascending_tie_exactness():
    """The argpartition fast path must fall back to the full lexsort on
    boundary ties: planted duplicate values straddling k must resolve
    by id, identically to the full sort."""
    import numpy as np

    from cross_modal_multivector_search_spark.operators.brute_force import (
        topk_cols_ascending,
    )
    rng = np.random.default_rng(5)
    for trial in range(30):
        n = int(rng.integers(5, 40))
        k = int(rng.integers(1, n))
        sims = rng.integers(0, 6, size=(4, n)).astype(np.float64)  # ties!
        bids = rng.permutation(n).astype(np.int64) * 7
        fast = topk_cols_ascending(sims, bids, k)
        full = np.lexsort((np.broadcast_to(bids, sims.shape), sims),
                          axis=1)[:, :k]
        assert np.array_equal(fast, full), (trial, n, k)
    # masked-self inf values never enter the top-k when k <= n-1
    sims = rng.standard_normal((3, 8))
    sims[np.arange(3), [1, 4, 6]] = np.inf
    bids = np.arange(8, dtype=np.int64)
    out = topk_cols_ascending(sims, bids, 7)
    assert np.isfinite(sims[np.arange(3)[:, None], out]).all()

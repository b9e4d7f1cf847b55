"""RoarGraph build + multi-vector search, recall-gated vs the exact oracle.

Recall (not graph equality) is the reference's own correctness notion
(SURVEY §5): the ANN path must reach the exact smooth-Chamfer top-k with
high recall at a generous beam budget on toy data (FIXTURES.md check 6).
"""

import dataclasses
import pickle
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from cross_modal_multivector_search_spark import testdata as TD
from cross_modal_multivector_search_spark.operators import (
    _roar_core as core, graph_build, graph_search, mapping, recall, rerank,
    set_search,
)

from conftest import SF_SMOKE, assert_same_ranking, is_in_task, plan_text


def test_beam_queue_semantics():
    q = core.BeamQueue(3)
    q.insert(10, 0.5)
    q.insert(11, 0.2)
    q.insert(12, 0.9)
    q.insert(13, 0.1)          # evicts 12 (0.9)
    assert list(q.ids[:q.size]) == [13, 11, 10]
    q.insert(11, 0.2)          # dup rejected
    assert q.size == 3
    nid, d = q.closest_unexpanded()
    assert nid == 13 and d == pytest.approx(0.1)
    assert q.has_unexpanded()


def test_occlusion_prune_degree_and_backfill():
    rng = np.random.default_rng(0)
    vecs = rng.normal(size=(50, 8))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    cand = np.arange(1, 40, dtype=np.int64)
    dists = -(vecs[cand] @ vecs[0])
    out = core.occlusion_prune(cand, dists, vecs, 10, exclude=0)
    assert len(out) == 10
    assert len(set(out)) == 10 and 0 not in out
    # nearest candidate always survives as the seed
    assert out[0] == cand[np.argmin(dists)]


@pytest.fixture(scope="module")
def index_and_vecs(spark):
    vecs = TD.embeddings_norm(spark, SF_SMOKE).cache()
    base = vecs.select("vec_id", "vec")
    # train queries = the data-side members themselves (self-training is
    # the degenerate-but-valid bipartite input at toy scale)
    train = vecs.select("vec_id", "vec")
    params = graph_build.RoarGraphParams(m_sq=20, m_pjbp=12, l_pjpq=40)
    index = graph_build.build_roargraph(base, train, params)
    return index, vecs


def test_batch_supply_search_matches_sequential():
    """The wave-vectorized pass-3 search must reproduce the sequential
    per-node traces exactly (ids + expansion order; dists to 1 ulp —
    einsum vs gemv accumulation)."""
    rng = np.random.default_rng(11)
    n, d = 400, 16
    vecs = rng.normal(size=(n, d))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    adj = [np.unique(rng.integers(0, n, size=rng.integers(2, 12)))
           for _ in range(n)]
    adj = [a[a != i] for i, a in enumerate(adj)]
    nodes = np.arange(n, dtype=np.int64)
    batch = core.batch_supply_search_collect(adj, vecs, nodes, ep=3,
                                             beam_width=20, batch_rows=64)
    for i in range(n):
        si, sd = core.supply_search_collect(adj, vecs, vecs[i], i, 3, 20)
        bi, bd = batch[i]
        assert np.array_equal(si, bi), f"node {i} trace ids diverge"
        assert np.allclose(sd, bd, atol=1e-12)


def test_batch_multivector_search_matches_sequential():
    """The batched search must reproduce every set's sequential result
    exactly — including the adaptive budget-allocation trajectory —
    across set sizes, budgets, and forced sub-batching."""
    rng = np.random.default_rng(23)
    n, d = 300, 16
    vecs = rng.normal(size=(n, d))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    adj = [np.unique(rng.integers(0, n, size=rng.integers(2, 14)))
           for _ in range(n)]
    adj = [a[a != i] for i, a in enumerate(adj)]
    sets = [rng.normal(size=(rng.integers(1, 6), d)) for _ in range(40)]
    sets = [q / np.linalg.norm(q, axis=1, keepdims=True) for q in sets]
    for adaptive in (True, False):
        batch = core.batch_multivector_search(
            adj, vecs, sets, ep=7, min_pq=5, max_pq=40, budget=60,
            adaptive=adaptive, mem_budget_bytes=40 * (n + 1))
        for qi, q in enumerate(sets):
            seq = core.multivector_search(adj, vecs, q, 7, 5, 40, 60,
                                          adaptive)
            assert len(seq) == len(batch[qi])
            for (si, sd), (bi, bd) in zip(seq, batch[qi]):
                assert np.array_equal(si, bi), \
                    f"set {qi} member ids diverge (adaptive={adaptive})"
                assert np.allclose(sd, bd, atol=1e-12)


def test_graph_shape(index_and_vecs):
    index, _ = index_and_vecs
    n = len(index.ids)
    degrees = np.array([len(a) for a in index.adj])
    assert n == 500
    assert degrees.max() <= 3 * 12  # M_pjbp + up to 2*M_pjbp merged
    assert (degrees > 0).mean() > 0.95
    assert 0 <= index.entry_point < n


def test_single_vector_beam_search_finds_exact_nn(index_and_vecs):
    index, _ = index_and_vecs
    # for every 20th base vector as query, the graph search at a generous
    # beam must find the true nearest neighbor (itself)
    for qid in range(0, 500, 20):
        ids, dists = core.beam_search(
            index.adj, index.vecs, index.vecs[qid],
            index.entry_point, 50, k=5)
        assert qid in ids[:3]


def test_multivector_search_recall_vs_exact(spark, index_and_vecs):
    index, vecs = index_and_vecs
    queries = vecs.filter(F.col("set_id") < 10)
    gt = set_search.set_topk_sql(queries, vecs, 10).select(
        "query_set_id", "data_set_id")
    out = graph_search.search_and_rerank(
        index, queries, vecs, 10,
        graph_search.SearchParams(min_pq=5, max_pq=400, budget=400),
        m=TD.M_FIXED)
    mr = recall.mean_recall(
        out.select("query_set_id", "data_set_id"), gt, 10
    ).collect()[0]["mean_recall"]
    assert mr >= 0.95, f"ANN recall {mr} below threshold"


def test_adaptive_beats_or_matches_equal_split(index_and_vecs):
    """Budget allocation sanity: adaptive never returns fewer candidates
    than requested minimum and respects the budget."""
    index, _ = index_and_vecs
    rng = np.random.default_rng(7)
    q = rng.normal(size=(5, index.vecs.shape[1]))
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    res = core.multivector_search(
        index.adj, index.vecs, q, index.entry_point,
        min_pq=5, max_pq=100, budget=100, adaptive=True)
    sizes = [len(ids) for ids, _ in res]
    assert all(s >= 5 for s in sizes)
    assert sum(sizes) <= 100
    res_eq = core.multivector_search(
        index.adj, index.vecs, q, index.entry_point,
        min_pq=5, max_pq=100, budget=100, adaptive=False)
    assert all(len(ids) == 20 for ids, _ in res_eq)


def test_shared_visited_variant_recall(spark, index_and_vecs):
    """The shared-visited-list variant must reach comparable recall at
    equal budget (it dedups neighborhood expansions across members)."""
    index, vecs = index_and_vecs
    queries = vecs.filter(F.col("set_id") < 10)
    gt = set_search.set_topk_sql(queries, vecs, 10).select(
        "query_set_id", "data_set_id")
    out = graph_search.search_and_rerank(
        index, queries, vecs, 10,
        graph_search.SearchParams(min_pq=5, max_pq=400, budget=400,
                                  shared_visited=True),
        m=TD.M_FIXED)
    mr = recall.mean_recall(
        out.select("query_set_id", "data_set_id"), gt, 10
    ).collect()[0]["mean_recall"]
    assert mr >= 0.9, f"shared-visited recall {mr}"


def test_graph_save_load_roundtrip(spark, index_and_vecs, tmp_path):
    index, vecs = index_and_vecs
    path = str(tmp_path / "roar")
    graph_build.save_graph(index, spark, path)
    loaded = graph_build.load_graph(spark, path, vecs.select("vec_id", "vec"))
    assert loaded.entry_point == index.entry_point
    assert len(loaded.adj) == len(index.adj)
    for a, b in zip(loaded.adj, index.adj):
        assert list(a) == list(b)


# --- in-task rerank: search_and_rerank == rerank(multivector_search) ----

_SEARCH = graph_search.SearchParams(min_pq=5, max_pq=100, budget=100)


def _two_stage(index, queries, data, params, metric, m=TD.M_FIXED,
               mapping=None):
    cands = graph_search.multivector_search(index, queries, params)
    return rerank.rerank(cands.select("query_set_id", "base_vec_id"),
                         queries, data, 10, metric=metric, m=m,
                         mapping=mapping)


@pytest.mark.parametrize("shared_visited", [False, True],
                         ids=["adaptive", "shared_visited"])
@pytest.mark.parametrize("metric",
                         ["smooth_chamfer", "summed_max_similarity"])
def test_in_task_rerank_equals_two_stage(index_and_vecs, metric,
                                         shared_visited):
    index, vecs = index_and_vecs
    queries = vecs.filter(F.col("set_id") < 10)
    params = dataclasses.replace(_SEARCH, shared_visited=shared_visited)
    got = graph_search.search_and_rerank(index, queries, vecs, 10, params,
                                         metric=metric, m=TD.M_FIXED)
    assert is_in_task(got)
    assert_same_ranking(got, _two_stage(index, queries, vecs, params,
                                        metric))


def test_in_task_rerank_partial_last_set(spark):
    """A base of 498 vectors at m=5: the last set (99) holds 3 rows, and
    the in-task gather scores it with its true cardinality."""
    data = TD.embeddings_norm(spark, SF_SMOKE).filter(F.col("vec_id") < 498)
    base = data.select("vec_id", "vec")
    index = graph_build.build_roargraph(
        base, base, graph_build.RoarGraphParams(m_sq=20, m_pjbp=12,
                                                l_pjpq=40))
    queries = data.filter(F.col("set_id") >= 95)
    got = graph_search.search_and_rerank(index, queries, data, 10, _SEARCH,
                                         m=TD.M_FIXED)
    assert is_in_task(got)
    want = _two_stage(index, queries, data, _SEARCH, "smooth_chamfer")
    assert_same_ranking(got, want)
    assert 99 in set(got.toPandas()["data_set_id"])


def test_rerank_fallback_when_data_is_not_the_index(index_and_vecs):
    """data_vecs that are not the index's rows go through rerank.rerank."""
    index, vecs = index_and_vecs
    queries = vecs.filter(F.col("set_id") < 10)
    data = vecs.filter(F.col("set_id") < 80)
    got = graph_search.search_and_rerank(index, queries, data, 10, _SEARCH,
                                         m=TD.M_FIXED)
    assert not is_in_task(got)
    assert_same_ranking(got, _two_stage(index, queries, data, _SEARCH,
                                        "smooth_chamfer"))


def test_rerank_fallback_with_mapping(spark, index_and_vecs):
    """A cardinality mapping goes through rerank.rerank."""
    index, vecs = index_and_vecs
    queries = vecs.filter(F.col("set_id") < 10)
    mp = mapping.cardinality_mapping_local(
        spark, [(s, TD.M_FIXED) for s in range(100)])
    got = graph_search.search_and_rerank(index, queries, vecs, 10, _SEARCH,
                                         mapping=mp)
    assert not is_in_task(got)
    assert_same_ranking(got, _two_stage(index, queries, vecs, _SEARCH,
                                        "smooth_chamfer", m=None,
                                        mapping=mp))


def test_in_task_rerank_plan_shape(index_and_vecs):
    """One exchange (the balanced query-set grouping); no join, window or
    broadcast exchange — a Catalyst rewrite that adds one fails here."""
    index, vecs = index_and_vecs
    plan = plan_text(graph_search.search_and_rerank(
        index, vecs.filter(F.col("set_id") < 10), vecs, 10, _SEARCH,
        m=TD.M_FIXED))
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
    for op in ("SortMergeJoin", "Window", "BroadcastExchange"):
        assert op not in plan, plan


def test_index_pickle_drops_recorded_source(index_and_vecs):
    index, _ = index_and_vecs
    assert index.source is not None
    payload = pickle.dumps(index)
    assert payload == pickle.dumps(dataclasses.replace(index, source=None))
    back = pickle.loads(payload)
    assert back.source is None
    assert np.array_equal(back.ids, index.ids)
    assert np.array_equal(back.vecs, index.vecs)
    assert back.entry_point == index.entry_point
    assert all(np.array_equal(a, b) for a, b in zip(back.adj, index.adj))

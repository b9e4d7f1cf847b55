"""HNSW baseline: build invariants, recall vs the exact oracle, and
parity of the Spark pipeline with the reference's HNSW driver semantics
(`/root/reference/tests/hnsw/search_rerank_hnsw.cpp`: per-member
searchKnn with ef = budget/m, then smooth-Chamfer rerank)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cross_modal_multivector_search_spark import testdata as TD
from cross_modal_multivector_search_spark.operators import (
    hnsw, recall, rerank, set_search, sharded,
)

from conftest import SF_SMOKE, assert_same_ranking, is_in_task


def _unit_rows(n, d, seed):
    rng = np.random.default_rng(seed)
    v = rng.normal(size=(n, d))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


@pytest.fixture(scope="module")
def local_index():
    vecs = _unit_rows(400, 12, 3)
    levels, adj, entry, top = hnsw._hnsw_insert_pipeline(
        vecs, hnsw.HnswParams(m=10, ef_construction=50, seed=1))
    return vecs, levels, adj, entry, top


def test_build_invariants(local_index):
    vecs, levels, adj, entry, top = local_index
    n = len(vecs)
    assert top == int(levels.max()) and levels[entry] == top
    for lvl, layer in enumerate(adj):
        cap = 20 if lvl == 0 else 10
        for i, nbrs in enumerate(layer):
            if levels[i] < lvl:
                assert len(nbrs) == 0
                continue
            assert len(nbrs) <= cap
            assert i not in set(nbrs.tolist())          # no self loops
            assert len(set(nbrs.tolist())) == len(nbrs)  # no dups
            # neighbors exist at this level
            assert all(levels[j] >= lvl for j in nbrs)


def test_layer0_fully_reachable_from_entry(local_index):
    """Directed reachability at layer 0 — the property the saturating-ef
    exact-equivalence oracle (`hnsw_multivector_search`) rests on."""
    vecs, levels, adj, entry, top = local_index
    ep = entry
    for lc in range(top, 0, -1):
        ep = hnsw._greedy_descend(adj[lc], vecs, vecs[0], ep)
    seen = {ep}
    stack = [ep]
    while stack:
        u = stack.pop()
        for v in adj[0][u]:
            if int(v) not in seen:
                seen.add(int(v))
                stack.append(int(v))
    assert len(seen) == len(vecs)


def test_build_deterministic(local_index):
    vecs, levels, adj, entry, top = local_index
    l2, a2, e2, t2 = hnsw._hnsw_insert_pipeline(
        vecs, hnsw.HnswParams(m=10, ef_construction=50, seed=1))
    assert np.array_equal(levels, l2) and entry == e2 and top == t2
    for la, lb in zip(adj, a2):
        for x, y in zip(la, lb):
            assert np.array_equal(x, y)


def test_saturating_ef_is_exact(local_index):
    vecs, levels, adj, entry, top = local_index
    idx = hnsw.HnswIndex(ids=np.arange(len(vecs)), vecs=vecs,
                         levels=levels, adj=adj, entry_point=entry,
                         max_level=top)
    qs = _unit_rows(20, 12, 9)
    for q in qs:
        ids, dists = hnsw.search_knn_local(idx, q, len(vecs), 10)
        exact = np.argsort(-(vecs @ q), kind="stable")[:10]
        assert set(ids.tolist()) == set(exact.tolist())
        assert np.all(np.diff(dists) >= 0)


def test_recall_at_modest_ef(local_index):
    """The reference's quality gate shape: high recall@10 at a modest
    beam (hnswlib M=35/efC=500 at full scale; scaled-down params here)."""
    vecs, levels, adj, entry, top = local_index
    idx = hnsw.HnswIndex(ids=np.arange(len(vecs)), vecs=vecs,
                         levels=levels, adj=adj, entry_point=entry,
                         max_level=top)
    qs = _unit_rows(50, 12, 10)
    hits = 0
    for q in qs:
        ids, _ = hnsw.search_knn_local(idx, q, 40, 10)
        exact = np.argsort(-(vecs @ q), kind="stable")[:10]
        hits += len(set(ids.tolist()) & set(exact.tolist()))
    assert hits / 500 >= 0.9


def test_select_neighbors_occlusion_predicate():
    """Candidate c is dropped iff some kept r is closer to c than c is
    to the target (hnswlib getNeighborsByHeuristic2)."""
    # b nearly duplicates a -> occluded by a; c is on the OTHER angular
    # side of the target (closer to t than to a) -> kept
    t = np.array([1.0, 0.0])
    a = np.array([0.9, 0.1])
    b = np.array([0.89, 0.11])
    c = np.array([0.7, -0.7])
    vecs = np.vstack([x / np.linalg.norm(x) for x in (t, a, b, c)])
    cand = np.array([1, 2, 3])
    dists = -(vecs[cand] @ vecs[0])
    kept = hnsw._select_neighbors(cand, dists, vecs, 3)
    assert 1 in kept.tolist() and 3 in kept.tolist()
    assert 2 not in kept.tolist()
    # m bound respected
    assert len(hnsw._select_neighbors(cand, dists, vecs, 1)) == 1


def test_build_df_save_load_roundtrip(spark):
    base_np = _unit_rows(120, 8, 5)
    base = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(base_np)],
        "vec_id long, vec array<double>")
    p = hnsw.HnswParams(m=8, ef_construction=30, seed=2)
    idx = hnsw.build_hnsw(base, p)
    assert len(idx.ids) == 120
    import tempfile
    with tempfile.TemporaryDirectory() as tmp:
        hnsw.save_hnsw(idx, spark, tmp)
        idx2 = hnsw.load_hnsw(spark, tmp, base)
    assert idx2.entry_point == idx.entry_point
    assert idx2.max_level == idx.max_level
    for lvl in range(idx.max_level + 1):
        for a, b in zip(idx.adj[lvl], idx2.adj[lvl]):
            assert np.array_equal(a, b)


def test_spark_pipeline_matches_exact_chamfer(spark):
    """End-to-end parity with the exact set-level oracle at saturating
    budget on the driver testdata (the `hnsw_multivector_search` row's
    argument, asserted here without DuckDB)."""
    v = TD.embeddings_norm(spark, SF_SMOKE)
    q = v.filter(F.col("set_id") < 5)
    n = v.count()
    idx = hnsw.build_hnsw(v.select("vec_id", "vec"),
                          hnsw.HnswParams(m=12, ef_construction=60,
                                          seed=7))
    out = hnsw.search_and_rerank_hnsw(idx, q, v, 10,
                                      budget=TD.M_FIXED * n, m=TD.M_FIXED)
    gt = set_search.set_topk_sql(q, v, 10).select(
        "query_set_id", "data_set_id")
    r = recall.recall_at_k(out.select("query_set_id", "data_set_id"),
                           gt, 10)
    assert r.agg(F.min("recall")).first()[0] == pytest.approx(1.0)


def test_search_and_rerank_in_task_equals_two_stage(spark):
    """The HNSW two-phase path reranks inside the search task and returns
    what rerank(multivector_search_hnsw(...)) returns."""
    v = TD.embeddings_norm(spark, SF_SMOKE)
    q = v.filter(F.col("set_id") < 10)
    idx = hnsw.build_hnsw(v.select("vec_id", "vec"),
                          hnsw.HnswParams(m=12, ef_construction=60,
                                          seed=7))
    got = hnsw.search_and_rerank_hnsw(idx, q, v, 10, budget=100,
                                      m=TD.M_FIXED)
    assert is_in_task(got)
    cands = hnsw.multivector_search_hnsw(idx, q, budget=100)
    want = rerank.rerank(cands.select("query_set_id", "base_vec_id"),
                         q, v, 10, m=TD.M_FIXED)
    assert_same_ranking(got, want)


def test_fixed_split_budget_semantics(spark):
    """ef = budget // m exactly (the reference's total_beam_width /
    query_multivector_size): each member emits at most ef candidates."""
    v = TD.embeddings_norm(spark, SF_SMOKE)
    q = v.filter(F.col("set_id") < 3)
    idx = hnsw.build_hnsw(v.select("vec_id", "vec"),
                          hnsw.HnswParams(m=12, ef_construction=60,
                                          seed=7))
    cands = hnsw.multivector_search_hnsw(idx, q, budget=50)
    per_member = (cands.groupBy("query_set_id", "member_pos")
                  .count().collect())
    assert all(r["count"] <= 10 for r in per_member)   # 50 // 5 = 10
    assert len(per_member) == 3 * TD.M_FIXED


def test_sharded_build_partitions_nodes(spark):
    v = TD.embeddings_norm(spark, SF_SMOKE)
    g = hnsw.build_hnsw_sharded(v.select("vec_id", "vec"), 4,
                                hnsw.HnswParams(m=8, ef_construction=30,
                                                seed=2))
    pdf = g.toPandas()
    n = v.count()
    lvl0 = pdf[pdf.level == 0]
    assert len(lvl0) == n                       # every node, exactly once
    assert lvl0["src"].is_unique
    assert set(pdf["shard"].unique()) == set(range(4))
    # one entry per shard, at that shard's top level
    entries = pdf[pdf.is_entry == 1]
    assert sorted(entries["shard"].tolist()) == [0, 1, 2, 3]
    for s in range(4):
        sh = pdf[pdf.shard == s]
        assert entries[entries.shard == s]["level"].iloc[0] == \
            sh["level"].max()
    # intra-shard edges only
    shard_of = dict(zip(lvl0["src"], lvl0["shard"]))
    for _, row in pdf.iterrows():
        assert all(shard_of[x] == row["shard"] for x in row["nbrs"])


def test_sharded_search_saturating_is_exact(spark):
    """Fan-out at saturating ef: each shard returns its whole
    population, the global merge keeps the true per-member top-ef, and
    rerank reproduces the exact set-level top-k — the sharded analog of
    the single-index saturation argument."""
    from cross_modal_multivector_search_spark.operators import rerank

    v = TD.embeddings_norm(spark, SF_SMOKE)
    q = v.filter(F.col("set_id") < 5)
    n = v.count()
    g = hnsw.build_hnsw_sharded(v.select("vec_id", "vec"), 4,
                                hnsw.HnswParams(m=8, ef_construction=30,
                                                seed=2))
    work = sharded.prepare_search_work(g, v.select("vec_id", "vec"), 4).cache()
    cands = hnsw.search_hnsw_sharded(work, q, budget=TD.M_FIXED * n)
    out = rerank.rerank(cands.select("query_set_id", "base_vec_id"),
                        q, v, 10, m=TD.M_FIXED)
    gt = set_search.set_topk_sql(q, v, 10).select(
        "query_set_id", "data_set_id")
    r = recall.recall_at_k(out.select("query_set_id", "data_set_id"),
                           gt, 10)
    assert r.agg(F.min("recall")).first()[0] == pytest.approx(1.0)
    work.unpersist()


def test_sharded_search_varcard_budget_parity(spark):
    """Per-SET merge caps (r9 review finding): with heterogeneous set
    cardinalities, a small set's members search DEEPER (ef = budget /
    |members|), so the global merge must keep ef per member PER SET —
    the single-index and sharded paths must emit identical candidate
    sets at any budget."""
    base_np = _unit_rows(160, 8, 21)
    base = spark.createDataFrame(
        [(i, [float(x) for x in r]) for i, r in enumerate(base_np)],
        "vec_id long, vec array<double>")
    # query sets with 2 and 6 members
    qrows = [(0, i, [float(x) for x in _unit_rows(2, 8, 31)[i]])
             for i in range(2)] + \
            [(1, 10 + i, [float(x) for x in _unit_rows(6, 8, 32)[i]])
             for i in range(6)]
    q = spark.createDataFrame(qrows, "set_id long, vec_id long, "
                                     "vec array<double>")
    p = hnsw.HnswParams(m=8, ef_construction=30, seed=2)
    budget = 24                                 # ef: 12 (m=2) / 4 (m=6)
    g = hnsw.build_hnsw_sharded(base, 2, p)
    work = sharded.prepare_search_work(g, base, 2).cache()
    got = hnsw.search_hnsw_sharded(work, q, budget=budget)
    counts = {(r["query_set_id"], r["member_pos"]): r["count"]
              for r in got.groupBy("query_set_id", "member_pos")
              .count().collect()}
    # the small set's members must keep up to ef=12 candidates, not
    # budget // max_m = 4
    assert all(c <= 12 for (s, _), c in counts.items() if s == 0)
    assert any(c > 4 for (s, _), c in counts.items() if s == 0)
    assert all(c <= 4 for (s, _), c in counts.items() if s == 1)
    work.unpersist()


def _spark_base(spark, vecs):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, vec array<double>")


def test_wave_build_deterministic_and_invariants(spark):
    """build_hnsw_wave (the labeled wave-parallel single-index shape,
    r14): two runs produce the identical graph, degree caps hold, the
    entry point carries the max level, and level assignment is
    byte-identical to the serial pipeline's seeded draw."""
    vecs = _unit_rows(300, 12, 7)
    base = _spark_base(spark, vecs)
    p = hnsw.HnswParams(m=8, ef_construction=40, seed=2)
    a = hnsw.build_hnsw_wave(base, p, wave0=32, n_batches=4)
    b = hnsw.build_hnsw_wave(base, p, wave0=32, n_batches=4)
    assert a.entry_point == b.entry_point
    assert a.max_level == b.max_level
    for la, lb in zip(a.adj, b.adj):
        assert all(np.array_equal(x, y) for x, y in zip(la, lb))
    serial_levels = np.minimum((-np.log(np.clip(
        np.random.default_rng(2).random(300), 1e-300, None))
        * (1.0 / np.log(8))).astype(np.int64), 31)
    assert np.array_equal(a.levels, serial_levels)
    assert a.levels[a.entry_point] == a.max_level
    over_cap = 0
    for lvl, layer in enumerate(a.adj):
        cap = 16 if lvl == 0 else 8
        for i, nbrs in enumerate(layer):
            # the connectivity repair may append past the cap (one
            # in-edge per repaired node, documented); it must stay rare
            over_cap += len(nbrs) > cap
            if a.levels[i] < lvl:
                assert len(nbrs) == 0
            ids = nbrs.tolist()
            assert len(set(ids)) == len(ids) and i not in ids
    assert over_cap <= 6, over_cap


def test_wave_build_saturating_and_recall_parity(spark):
    """Quality gate for the wave shape: saturating-ef search over the
    wave-built graph is EXACT (layer-0 connectivity holds), and
    recall@10 at a modest ef matches the serial build within a few
    points — the validation protocol the 10M column's labeled build
    rides on."""
    vecs = _unit_rows(500, 12, 11)
    base = _spark_base(spark, vecs)
    p = hnsw.HnswParams(m=10, ef_construction=50, seed=1)
    widx = hnsw.build_hnsw_wave(base, p, wave0=64, n_batches=4)
    sidx = hnsw.build_hnsw(base, p)
    qs = _unit_rows(40, 12, 9)
    for q in qs[:10]:
        ids, _ = hnsw.search_knn_local(widx, q, len(vecs), 10)
        exact = np.argsort(-(vecs @ q), kind="stable")[:10]
        assert set(ids.tolist()) == set(exact.tolist())
    hits_w = hits_s = 0
    for q in qs:
        exact = set(np.argsort(-(vecs @ q), kind="stable")[:10].tolist())
        ids_w, _ = hnsw.search_knn_local(widx, q, 40, 10)
        ids_s, _ = hnsw.search_knn_local(sidx, q, 40, 10)
        hits_w += len(set(ids_w.tolist()) & exact)
        hits_s += len(set(ids_s.tolist()) & exact)
    assert hits_w / 400 >= 0.9
    assert hits_w >= hits_s - 20          # within 5 points of serial

"""Sharded build + fan-out search: the 100 TB execution shape.

Gate: sharded ANN recall vs the exact set-level oracle must match the
single-index quality bar at equal budget (each shard searches fully, so
sharding can only add candidates).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cross_modal_multivector_search_spark import testdata as TD
from cross_modal_multivector_search_spark.operators import (
    graph_build, recall, rerank, set_search, sharded,
)

from conftest import SF_SMOKE

N_SHARDS = 4


@pytest.fixture(scope="module")
def shard_graph(spark):
    vecs = TD.embeddings_norm(spark, SF_SMOKE)
    base = vecs.select("vec_id", "vec")
    g = sharded.build_sharded(
        base, N_SHARDS,
        graph_build.RoarGraphParams(m_sq=20, m_pjbp=12, l_pjpq=40)).cache()
    g.count()
    return g


def test_shard_graph_shape(spark, shard_graph):
    rows = shard_graph.collect()
    assert len(rows) == 500                      # every vector has a row
    shards = {r["shard"] for r in rows}
    assert shards == set(range(N_SHARDS))
    eps = [r for r in rows if r["is_entry"] == 1]
    assert len(eps) == N_SHARDS                  # one entry point per shard


def test_shard_assignment_matches_spark(spark, shard_graph):
    """Neighbor locality: edges never cross shards, checked against
    Spark's own hash assignment."""
    vecs = TD.embeddings_norm(spark, SF_SMOKE)
    assign = {r["vec_id"]: r["shard"] for r in
              vecs.withColumn(
                  "shard",
                  F.pmod(F.hash("vec_id"), F.lit(N_SHARDS)).cast("int"))
              .select("vec_id", "shard").collect()}
    for r in shard_graph.collect():
        assert assign[r["src"]] == r["shard"]
        for x in r["nbrs"]:
            assert assign[x] == r["shard"]


def test_build_from_knn_table_equals_in_task_knn(spark, shard_graph):
    """build_sharded(train_knn=shard_self_knn(...)) — the distributed
    kNN-as-build-input path (reference: the kNN file IS the build input)
    — must produce the same graph as the in-task blocked kNN fallback."""
    vecs = TD.embeddings_norm(spark, SF_SMOKE)
    base = vecs.select("vec_id", "vec")
    p = graph_build.RoarGraphParams(m_sq=20, m_pjbp=12, l_pjpq=40)
    knn = sharded.shard_self_knn(base, N_SHARDS, p.m_sq)
    g2 = sharded.build_sharded(base, N_SHARDS, p, train_knn=knn)
    ref = {r["src"]: (r["shard"], sorted(r["nbrs"]), r["is_entry"])
           for r in shard_graph.collect()}
    got = {r["src"]: (r["shard"], sorted(r["nbrs"]), r["is_entry"])
           for r in g2.collect()}
    assert got == ref


def test_sharded_search_recall(spark, shard_graph):
    vecs = TD.embeddings_norm(spark, SF_SMOKE)
    queries = vecs.filter(F.col("set_id") < 10)
    gt = set_search.set_topk_sql(queries, vecs, 10).select(
        "query_set_id", "data_set_id")
    work = sharded.prepare_search_work(
        shard_graph, vecs.select("vec_id", "vec"), N_SHARDS)
    cands = sharded.search_sharded(
        work, queries, min_pq=5, max_pq=100, budget=100)
    out = rerank.rerank(cands.select("query_set_id", "base_vec_id"),
                        queries, vecs, 10, m=TD.M_FIXED)
    mr = recall.mean_recall(
        out.select("query_set_id", "data_set_id"), gt, 10
    ).collect()[0]["mean_recall"]
    assert mr >= 0.95, f"sharded recall {mr}"


def test_search_sharded_prefetched_queries_equivalent(spark, shard_graph):
    """The pre-fetched ``fetch_grouped_sets`` list form of the query side
    returns the same candidate rows as the DataFrame form."""
    vecs = TD.embeddings_norm(spark, SF_SMOKE)
    queries = vecs.filter(F.col("set_id") < 10)
    work = sharded.prepare_search_work(
        shard_graph, vecs.select("vec_id", "vec"), N_SHARDS)
    kw = dict(min_pq=5, max_pq=100, budget=100)
    a = sharded.search_sharded(work, queries, **kw)
    b = sharded.search_sharded(
        work, set_search.fetch_grouped_sets(queries), **kw)
    ra = sorted(tuple(r) for r in a.collect())
    rb = sorted(tuple(r) for r in b.collect())
    assert ra and ra == rb


def test_shard_self_knn_single_pass_matches_per_shard_exact(spark):
    """The single-pass shape (one scan -> repartition by shard ->
    in-task blocked self-GEMM) must equal the per-shard exact kNN
    computed the slow way, a tiny block size must not change output,
    the plan must scan the base exactly once, and empty input must
    raise loudly."""
    from functools import reduce

    from pyspark.sql import DataFrame

    from cross_modal_multivector_search_spark.operators import brute_force
    from cross_modal_multivector_search_spark.plans.audit import plan_text

    vecs = TD.embeddings_norm(spark, SF_SMOKE)
    base = vecs.select("vec_id", "vec")
    out = sharded.shard_self_knn(base, N_SHARDS, 5)
    parts = []
    for s in range(N_SHARDS):
        sub = base.filter(
            F.pmod(F.hash(F.col("vec_id")), F.lit(N_SHARDS)).cast("int")
            == s)
        parts.append(brute_force.knn_exact_gemm(
            sub.select(F.col("vec_id").alias("query_id"), "vec"),
            sub.select(F.col("vec_id").alias("base_id"), "vec"),
            5, metric="ip", exclude_self=True))
    ref = reduce(DataFrame.unionByName, parts).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, out.collect()), key=lambda t: (t[0], t[1])) \
        == sorted((tuple(r) for r in ref), key=lambda t: (t[0], t[1]))
    # a tiny block size changes only the BLAS kernel shape: identical
    # (query, rank, base) structure, scores equal to float tolerance
    # (sub-ulp kernel differences for skinny GEMM blocks)
    blocked = sorted(sharded.shard_self_knn(
        base, N_SHARDS, 5, block_bytes=8 * 64 * 3).collect(), key=key)
    full = sorted(out.collect(), key=key)
    assert [(r["query_id"], r["rank"], r["base_id"]) for r in blocked] \
        == [(r["query_id"], r["rank"], r["base_id"]) for r in full]
    assert np.allclose([r["score"] for r in blocked],
                       [r["score"] for r in full], rtol=0, atol=1e-12)
    # one base scan: the r4 shape launched n_shards filtered scans.
    # (simple mode, final-plan section only — formatted mode repeats
    # each node in its detail listing and AQE appends the initial plan)
    simple = plan_text(out, "simple").split("== Initial Plan ==")[0]
    assert simple.lower().count("scan parquet") == 1
    with pytest.raises(ValueError, match="empty"):
        sharded.shard_self_knn(base.filter(F.col("vec_id") < 0),
                               N_SHARDS, 5)


# --------------------------------------------------------------------
# spatial sharding + query routing
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def clustered_corpus(spark):
    """Well-separated clusters: the regime spatial shards are for."""
    from cross_modal_multivector_search_spark.operators import simsearch
    from cross_modal_multivector_search_spark.operators.sampling import (
        generate_clustered_vectors,
    )
    from pyspark.sql import Window
    raw = generate_clustered_vectors(spark, 400, 16, n_clusters=8,
                                     sigma=0.08)
    # renumber ids by cluster so the 5-member sets are cluster-pure:
    # multivector routing is per SET, so a set scattered over k
    # clusters needs nprobe >= k — coherent sets are the spatial-shard
    # use case (matching real corpora where a document's vectors
    # cluster together)
    v = (raw.withColumn(
            "nid", F.row_number().over(Window.orderBy("cluster",
                                                      "vec_id")) - 1)
         .select(F.col("nid").alias("vec_id"), "vec")
         .withColumn("set_id", (F.col("vec_id") / 5).cast("long"))
         .cache())
    v.count()
    book = simsearch.train_codebook(v, k=N_SHARDS, iters=10, sample_n=400)
    sb = sharded.spatial_shards(v.select("vec_id", "vec"), book).cache()
    sb.count()
    g = sharded.build_sharded(
        sb, N_SHARDS,
        graph_build.RoarGraphParams(m_sq=20, m_pjbp=12, l_pjpq=40),
        shard_col="shard").cache()
    g.count()
    work = sharded.prepare_search_work(g, sb, N_SHARDS,
                                       shard_col="shard").cache()
    work.count()
    return v, book, sb, g, work


def test_spatial_shards_cover_corpus(spark, clustered_corpus):
    v, book, sb, g, work = clustered_corpus
    rows = g.collect()
    assert len(rows) == 400                     # every vector has a row
    assign = {r["vec_id"]: r["shard"] for r in sb.collect()}
    for r in rows:
        assert assign[r["src"]] == r["shard"]
        for x in r["nbrs"]:                     # edges never cross shards
            assert assign[x] == r["shard"]


def test_routed_all_shards_equals_unrouted(spark, clustered_corpus):
    """nprobe = n_shards routes every set everywhere: results must be
    IDENTICAL to the unrouted fan-out (routing only prunes work)."""
    v, book, sb, g, work = clustered_corpus
    q = v.filter(F.col("set_id") < 5)
    routes = sharded.route_query_sets(q, book, nprobe=N_SHARDS)
    full = sharded.search_sharded(work, q, min_pq=5, max_pq=50,
                                  budget=50)
    routed = sharded.search_sharded(work, q, min_pq=5, max_pq=50,
                                    budget=50, routes=routes)
    key = ["query_set_id", "member_pos", "base_vec_id", "dist"]
    assert sorted(map(tuple, full.select(key).collect())) \
        == sorted(map(tuple, routed.select(key).collect()))


def test_routed_nprobe1_matches_exact_on_separated_clusters(
        spark, clustered_corpus):
    """sigma=0.08 << center separation: a query set's neighbors all live
    in its own cluster's shard, so nprobe=1 routing at saturating
    budget recovers the exact top-k while touching 1/N_SHARDS of the
    index. k=5 because the smallest cluster holds only 8 sets — a
    10-deep ground truth necessarily reaches into other clusters'
    shards, which is an nprobe question, not a routing defect."""
    v, book, sb, g, work = clustered_corpus
    q = v.filter(F.col("set_id") < 5)
    routes = sharded.route_query_sets(q, book, nprobe=1)
    assert all(len(s) == 1 for s in routes.values())
    cands = sharded.search_sharded(work, q, min_pq=5, max_pq=100,
                                   budget=400, routes=routes)
    res = rerank.rerank(cands.select("query_set_id", "base_vec_id"),
                        q, v, 5, m=5)
    gt = set_search.set_topk_gemm(q, v, 5).select(
        "query_set_id", "data_set_id")
    mr = recall.mean_recall(
        res.select("query_set_id", "data_set_id"), gt, 5
    ).collect()[0]["mean_recall"]
    assert mr >= 0.95


def test_route_query_sets_rejects_bad_nprobe(spark, clustered_corpus):
    """nprobe=0 would route every set to NO shard (empty frozensets pass
    search_sharded's missing-key check and silently return zero rows);
    negative values slice to nearly-all shards, silently defeating
    pruning. Both must fail loudly (ADVICE r4)."""
    v, book, sb, g, work = clustered_corpus
    q = v.filter(F.col("set_id") < 2)
    with pytest.raises(ValueError, match="nprobe"):
        sharded.route_query_sets(q, book, nprobe=0)
    with pytest.raises(ValueError, match="nprobe"):
        sharded.route_query_sets(q, book, nprobe=-3)


def test_balanced_spatial_shards(spark, clustered_corpus):
    """spatial_shards_balanced must (a) reduce to plain spatial_shards
    at a saturating max_pop, (b) split over-populated cells into
    sub-shards whose populations land near max_pop (hash split:
    probabilistic, not exact), and (c) keep routed-search results
    IDENTICAL to the unrouted fan-out when every cell is probed —
    balancing parallelizes work, never changes reachability."""
    v, book, sb, g, work = clustered_corpus
    base = v.select("vec_id", "vec")
    plain = {r["vec_id"]: r["shard"] for r in sb.collect()}

    big, c2s, tot = sharded.spatial_shards_balanced(base, book,
                                                    max_pop=10 ** 9)
    assert tot == N_SHARDS
    assert all(c2s[c] == (c,) for c in range(N_SHARDS))
    assert {r["vec_id"]: r["shard"] for r in big.collect()} == plain

    pops = {r["shard"]: r["n"] for r in
            sb.groupBy("shard").agg(F.count("*").alias("n")).collect()}
    cap = max(pops.values()) // 2
    bal, c2s, tot = sharded.spatial_shards_balanced(base, book,
                                                    max_pop=cap)
    import numpy as np
    exp = sum(-(-pops.get(c, 0) // cap) if c in pops else 1
              for c in range(N_SHARDS))
    assert tot == exp > N_SHARDS
    bal_pops = [r["n"] for r in bal.groupBy("shard")
                .agg(F.count("*").alias("n")).collect()]
    # hash split: bound by cap + a generous variance allowance
    assert max(bal_pops) <= cap + 4 * int(np.sqrt(cap)) + 1

    p = graph_build.RoarGraphParams(m_sq=20, m_pjbp=12, l_pjpq=40)
    gb = sharded.build_sharded(bal, tot, p, shard_col="shard").cache()
    wb = sharded.prepare_search_work(gb, bal, tot,
                                     shard_col="shard").cache()
    q = v.filter(F.col("set_id") < 5)
    routes = sharded.route_query_sets(q, book, nprobe=N_SHARDS,
                                      cell_to_shards=c2s)
    assert all(len(s) == tot for s in routes.values())
    full = sharded.search_sharded(wb, q, min_pq=5, max_pq=50, budget=50)
    routed = sharded.search_sharded(wb, q, min_pq=5, max_pq=50,
                                    budget=50, routes=routes)
    key = ["query_set_id", "member_pos", "base_vec_id", "dist"]
    assert sorted(map(tuple, full.select(key).collect())) \
        == sorted(map(tuple, routed.select(key).collect()))
    with pytest.raises(ValueError, match="max_pop"):
        sharded.spatial_shards_balanced(base, book, max_pop=0)


def test_query_partitioned_search_matches_driver_routed(
        spark, clustered_corpus, tmp_path):
    """search_sharded_query_partitioned — queries a DataFrame
    end-to-end, index read from shard-partitioned parquet — must be
    row-for-row equal to the driver-routed search_sharded at the same
    (codebook, nprobe, budget): routing rule, per-shard kernel, and
    merge are shared or bit-mirrored (VERDICT r5 next-round #1)."""
    v, book, sb, g, work = clustered_corpus
    path = str(tmp_path / "work_parquet")
    sharded.persist_search_work(work, path)
    q = v.filter(F.col("set_id") < 8)
    key = ["query_set_id", "member_pos", "base_vec_id", "dist"]
    for nprobe in (1, 2, N_SHARDS):
        routes = sharded.route_query_sets(q, book, nprobe=nprobe)
        ref = sharded.search_sharded(
            work, q, min_pq=5, max_pq=50, budget=50, routes=routes)
        got = sharded.search_sharded_query_partitioned(
            path, q, book, nprobe=nprobe, min_pq=5, max_pq=50,
            budget=50)
        assert sorted(map(tuple, got.select(key).collect())) \
            == sorted(map(tuple, ref.select(key).collect())), nprobe
    with pytest.raises(ValueError, match="nprobe"):
        sharded.search_sharded_query_partitioned(
            path, q, book, nprobe=0, min_pq=5, max_pq=50, budget=50)


def test_query_partitioned_search_balanced_cells(
        spark, clustered_corpus, tmp_path):
    """The cell_to_shards expansion (balanced sub-shards) must also
    match the driver-routed path, including empty sub-shard reads."""
    v, book, sb, g, work = clustered_corpus
    base = v.select("vec_id", "vec")
    pops = [r["n"] for r in
            sb.groupBy("shard").agg(F.count("*").alias("n")).collect()]
    cap = max(pops) // 2
    bal, c2s, tot = sharded.spatial_shards_balanced(base, book,
                                                    max_pop=cap)
    p = graph_build.RoarGraphParams(m_sq=20, m_pjbp=12, l_pjpq=40)
    gb = sharded.build_sharded(bal, tot, p, shard_col="shard")
    wb = sharded.prepare_search_work(gb, bal, tot, shard_col="shard") \
        .cache()
    path = str(tmp_path / "work_bal")
    sharded.persist_search_work(wb, path)
    q = v.filter(F.col("set_id") < 5)
    routes = sharded.route_query_sets(q, book, nprobe=2,
                                      cell_to_shards=c2s)
    ref = sharded.search_sharded(
        wb, q, min_pq=5, max_pq=50, budget=50, routes=routes)
    got = sharded.search_sharded_query_partitioned(
        path, q, book, nprobe=2, min_pq=5, max_pq=50, budget=50,
        cell_to_shards=c2s)
    key = ["query_set_id", "member_pos", "base_vec_id", "dist"]
    assert sorted(map(tuple, got.select(key).collect())) \
        == sorted(map(tuple, ref.select(key).collect()))


def test_query_partitioned_search_rejects_bad_work_path(
        spark, clustered_corpus, tmp_path):
    """A wrong/empty work path must raise, not silently return zero
    rows (every shard task would read nothing)."""
    v, book, sb, g, work = clustered_corpus
    q = v.filter(F.col("set_id") < 2)
    with pytest.raises(ValueError, match="shard=N partitions"):
        sharded.search_sharded_query_partitioned(
            str(tmp_path / "nope"), q, book, nprobe=1, min_pq=5,
            max_pq=10, budget=10).count()


def test_shard_work_cache_hits_and_invalidates(
        spark, clustered_corpus, tmp_path):
    """The worker-side shard cache serves repeat loads and invalidates
    when the partition's files change (rewritten index)."""
    v, book, sb, g, work = clustered_corpus
    path = str(tmp_path / "w")
    sharded.persist_search_work(work, path)
    sharded._SHARD_WORK_CACHE.clear()
    first = sharded._load_shard_work(path, 0)
    assert first is not None
    assert len(sharded._SHARD_WORK_CACHE) == 1
    again = sharded._load_shard_work(path, 0)
    assert again is first                      # same object: cache hit
    # rewrite in place -> fingerprint changes -> fresh load
    sharded.persist_search_work(work, path)
    third = sharded._load_shard_work(path, 0)
    assert third is not first
    assert np.array_equal(third[0], first[0])
    # repeated searches produce identical results through the cache
    q = v.filter(F.col("set_id") < 3)
    r1 = sharded.search_sharded_query_partitioned(
        path, q, book, nprobe=2, min_pq=5, max_pq=20, budget=20)
    r2 = sharded.search_sharded_query_partitioned(
        path, q, book, nprobe=2, min_pq=5, max_pq=20, budget=20)
    assert sorted(map(tuple, r1.collect())) \
        == sorted(map(tuple, r2.collect()))


def test_shard_work_cache_lru_and_byte_bound():
    """Eviction is by RECENCY and decoded BYTES, not insertion order or
    entry count: touch A, insert past the bound, A must survive while
    the coldest entry goes (VERDICT r6 #2)."""
    def entry(n_rows, dim=4):
        ids = np.arange(n_rows, dtype=np.int64)
        vecs = np.zeros((n_rows, dim), dtype=np.float64)
        nvals = np.zeros(n_rows, dtype=np.int64)
        adj = [nvals[i:i + 1] for i in range(n_rows)]
        return (ids, adj, vecs, 0)
    saved = dict(sharded._SHARD_WORK_CACHE)
    try:
        sharded._SHARD_WORK_CACHE.clear()
        e = entry(100)
        per = sharded._shard_work_nbytes(e)
        assert per == 100 * 8 + 100 * 4 * 8 + 100 * 8
        bound = per * 3 + per // 2            # fits 3 entries
        for k in ("a", "b", "c"):
            sharded._shard_work_cache_put(k, entry(100), bound)
        # touch "a" the way a hit does (pop + re-insert)
        sharded._SHARD_WORK_CACHE["a"] = sharded._SHARD_WORK_CACHE.pop("a")
        sharded._shard_work_cache_put("d", entry(100), bound)
        assert "b" not in sharded._SHARD_WORK_CACHE   # coldest evicted
        assert set(sharded._SHARD_WORK_CACHE) == {"c", "a", "d"}
        # a single oversized entry still lands (never evict to empty)
        sharded._shard_work_cache_put("big", entry(1000), bound)
        assert "big" in sharded._SHARD_WORK_CACHE
        assert len(sharded._SHARD_WORK_CACHE) == 1
    finally:
        sharded._SHARD_WORK_CACHE.clear()
        sharded._SHARD_WORK_CACHE.update(saved)


def test_stable_top_cells_matches_stable_argsort():
    """_stable_top_cells (argpartition fast path) is bit-identical to
    the full stable argsort rule, including boundary ties."""
    rng = np.random.default_rng(7)
    # large n with heavy ties to force boundary-tie resolution
    aff = rng.integers(0, 50, size=(40, 5000)).astype(np.float64)
    for k in (1, 4, 16):
        want = np.argsort(-aff, axis=1, kind="stable")[:, :k]
        got = sharded._stable_top_cells(aff, k)
        assert np.array_equal(got, want)
    # degenerate all-equal row: lowest indices win
    flat = np.zeros((1, 5000))
    assert np.array_equal(sharded._stable_top_cells(flat, 3),
                          [[0, 1, 2]])
    # small-n path unchanged
    small = rng.normal(size=(10, 64))
    assert np.array_equal(
        sharded._stable_top_cells(small, 5),
        np.argsort(-small, axis=1, kind="stable")[:, :5])


def test_shards_spanning_arrow_batches_give_same_rows(spark, shard_graph):
    """Every sharded stage groups its rows into shards across the Arrow
    batches of a partition. At 7 rows per batch each ~125-row shard
    spans many batches; builds and searches must give the same rows as
    at the default batch size, where a shard fits one batch."""
    from cross_modal_multivector_search_spark.operators import hnsw

    vecs = TD.embeddings_norm(spark, SF_SMOKE)
    base = vecs.select("vec_id", "vec")
    q = vecs.filter(F.col("set_id") < 6)
    p = graph_build.RoarGraphParams(m_sq=20, m_pjbp=12, l_pjpq=40)
    routes = {qsid: frozenset({qsid % N_SHARDS, (qsid + 1) % N_SHARDS})
              for qsid, _ in set_search.fetch_grouped_sets(q)}
    hp = hnsw.HnswParams(m=8, ef_construction=30, seed=2)

    def run():
        work = sharded.prepare_search_work(shard_graph, base, N_SHARDS)
        hg = hnsw.build_hnsw_sharded(base, N_SHARDS, hp)
        outs = [
            sharded.shard_self_knn(base, N_SHARDS, 5),
            sharded.build_sharded(base, N_SHARDS, p),
            sharded.build_sharded(
                base, N_SHARDS, p,
                train_knn=sharded.shard_self_knn(base, N_SHARDS, p.m_sq)),
            sharded.search_sharded(work, q, min_pq=5, max_pq=50,
                                   budget=50),
            sharded.search_sharded(work, q, min_pq=5, max_pq=50,
                                   budget=50, routes=routes),
            hg,
            hnsw.search_hnsw_sharded(
                sharded.prepare_search_work(hg, base, N_SHARDS), q,
                budget=100),
        ]
        return [sorted(map(str, df.collect())) for df in outs]

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(conf)
    want = run()
    try:
        spark.conf.set(conf, "7")
        got = run()
    finally:
        spark.conf.set(conf, saved)
    for i, (g, w) in enumerate(zip(got, want)):
        assert g and g == w, i


def test_missing_neighbour_fails_the_same_on_both_paths(
        spark, clustered_corpus, tmp_path):
    """A work table whose graph names a vec_id absent from its shard
    fails with the shard assembler's error, both in the broadcast
    search and after a persist -> query-partitioned round trip."""
    v, book, sb, g, work = clustered_corpus
    victim = work.select("src").first()["src"]
    bad = work.withColumn(
        "nbrs", F.when(F.col("src") == victim,
                       F.array(F.lit(10 ** 9).cast("long")))
        .otherwise(F.col("nbrs")))
    q = v.filter(F.col("set_id") < 2)
    msg = r"ValueError: shard \d+ graph references vec_id 1000000000"
    with pytest.raises(Exception, match=msg):
        sharded.search_sharded(bad, q, min_pq=5, max_pq=10,
                               budget=10).collect()
    path = str(tmp_path / "bad_work")
    sharded.persist_search_work(bad, path)
    with pytest.raises(Exception, match=msg):
        sharded.search_sharded_query_partitioned(
            path, q, book, nprobe=N_SHARDS, min_pq=5, max_pq=10,
            budget=10).collect()

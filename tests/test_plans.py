"""Plan-shape regression tests: the scale contract, pinned.

A correct-but-badly-planned operator is a failure at 100 TB; these
assert the physical properties each operator's design depends on.
"""

import __spark_entry__ as E
from cross_modal_multivector_search_spark.plans import audit_report, plan_text

# NOTE: use sf0.01 here, not sf0.001 — other test modules cache() the
# sf0.001 embeddings, and Spark substitutes the cached InMemoryRelation
# into matching plan subtrees, hiding the parquet scan's PushedFilters.
from conftest import SF_T2 as SF_SMOKE


def test_knn_broadcasts_queries_and_group_limits(spark):
    df = E.queries()["knn_ip_topk"](spark, SF_SMOKE)
    rep = audit_report(df, execute=True)
    # query-side filter reaches the scan; queries broadcast; top-k via
    # WindowGroupLimit (per-partition partial top-k, no global sort)
    assert rep["pushed_filters"]
    assert rep["broadcast_join"]
    assert rep["window_group_limit"]
    assert rep["whole_stage_codegen"]


def test_chamfer_broadcasts_query_members(spark):
    df = E.queries()["chamfer_topk"](spark, SF_SMOKE)
    rep = audit_report(df)
    assert rep["broadcast_join"]
    assert rep["window_group_limit"]


def test_pricing_summary_scan_prunes_columns(spark):
    df = E.queries()["pricing_summary"](spark, SF_SMOKE)
    text = plan_text(df)
    # 6 of 11 lineitem columns read; shipdate filter pushed to parquet
    assert "PushedFilters: [IsNotNull(l_shipdate)" in text
    assert "l_orderkey" not in text.split("ReadSchema")[1].split("\n")[0]


def test_ivf_probes_before_distance_math(spark):
    df = E.queries()["ivf_topk"](spark, SF_SMOKE)
    rep = audit_report(df)
    assert rep["broadcast_join"]      # centroids + queries broadcast
    assert rep["window_group_limit"]


def test_gemm_paths_scan_only_needed_columns(spark):
    df = E.queries()["knn_ip_topk_gemm"](spark, SF_SMOKE)
    text = plan_text(df)
    scan_schema = text.split("ReadSchema:")[-1].split("\n")[0]
    assert "embedding" in scan_schema
    assert "label" not in scan_schema  # pruned: GEMM path reads id+vec only


def test_bucketed_near_dup_shuffles_on_bucket_no_broadcast_matrix(spark):
    """The no-broadcast near-dup path: one hash shuffle keyed on the LSH
    bucket feeding the grouped Arrow kernel — and no broadcast anywhere
    (the broadcast GEMM impl is exactly what this path exists to avoid)."""
    df = E.queries()["embedding_near_dup_bucketed"](spark, SF_SMOKE)
    text = plan_text(df)
    assert "hashpartitioning(bucket" in text
    assert "FlatMapGroupsInPandas" in text
    assert "Broadcast" not in text


def test_tfidf_vocab_join_not_forced_broadcast(spark):
    """The tf-to-df join must NOT carry a broadcast HINT: the df side
    has one row per DISTINCT CORPUS TOKEN (billions at web scale). A
    hint survives autoBroadcastJoinThreshold=-1 — so under that
    setting the join must plan as a shuffle join (at real scale the
    size estimate exceeds the threshold and this is the plan; at test
    sf Catalyst may legitimately choose broadcast on its own
    estimate, which AQE would also do at runtime)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = E.queries()["tfidf_top_terms"](spark, SF_SMOKE)
        text = plan_text(df)
        assert "SortMergeJoin" in text
        assert "BroadcastHashJoin" not in text
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bm25_global_topk_distributed(spark):
    """The global top-k must be TakeOrderedAndProject (distributed
    partial top-k), never a single-task unpartitioned WindowExec over
    every document matching a query term."""
    df = E.queries()["bm25_rank"](spark, SF_SMOKE)
    text = plan_text(df)
    assert "TakeOrderedAndProject" in text
    assert "Window" not in text


def test_bm25_reads_token_exchange_once(spark):
    """BM25 scores from ONE token pass: the per-doc (dl, tf per term)
    exchange feeds both the scorer and the broadcast corpus stats, so
    the executed plan scans the documents once and reuses the exchange
    (two scans = a second tokenize+shuffle of the whole corpus)."""
    from cross_modal_multivector_search_spark import testdata as TD
    from cross_modal_multivector_search_spark.operators import text
    df = text.bm25_rank(TD.load(spark, SF_SMOKE, "documents"),
                        ["data", "search", "model"], 20)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1, final
    assert "ReusedExchange" in final
    assert final.count("Generate posexplode(filter(split(") == 1


# py4j commands (all but `m` GC releases) the driver thread sent while
# each plan was built when every expression was a nested F.*/Column
# chain — measured with _py4j_commands on the sf0.01 documents
_COLUMN_CHAIN_COMMANDS = {"minhash_lsh_pairs": 1279, "lang_quality": 1064,
                          "tfidf_top_terms": 521, "bm25_rank": 1001}


def _py4j_commands(build) -> int:
    import threading

    import py4j.clientserver as cs
    send, me, n = cs.ClientServerConnection.send_command, \
        threading.get_ident(), [0]

    def counting(self, command, *a, **kw):
        if threading.get_ident() == me and not command.startswith("m"):
            n[0] += 1
        return send(self, command, *a, **kw)

    cs.ClientServerConnection.send_command = counting
    try:
        build()
    finally:
        cs.ClientServerConnection.send_command = send
    return n[0]


def test_operator_plans_build_in_few_py4j_commands(spark):
    """Driver canary: the curation and text plans are SQL expression
    strings (one JVM call each); a regression to Column chains triples
    their py4j round trips and their driver-only build time."""
    from cross_modal_multivector_search_spark import testdata as TD
    from cross_modal_multivector_search_spark.operators import dedup, text
    docs = TD.load(spark, SF_SMOKE, "documents")
    builds = {
        "minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(
            docs, 8, 4, 3, dedup_pairs=False),
        "lang_quality": lambda: text.lang_quality(docs),
        "tfidf_top_terms": lambda: text.tfidf_top_terms(docs, k=5),
        "bm25_rank": lambda: text.bm25_rank(
            docs, ["data", "search", "model"], 20),
    }
    for name, build in builds.items():
        build()                                   # imports, first calls
        n = _py4j_commands(build)
        assert 0 < n <= _COLUMN_CHAIN_COMMANDS[name] / 3, (name, n)


def test_ivf_centroids_single_shuffle(spark):
    """Centroid build must be ONE exchange (dim scalar partial aggs),
    not posexplode + two groupBys."""
    from cross_modal_multivector_search_spark import testdata as TD
    from cross_modal_multivector_search_spark.functions import vector as V
    from cross_modal_multivector_search_spark.operators import simsearch
    e = TD.load(spark, SF_SMOKE, "embeddings")
    v = V.with_l2_normalized(e, "embedding", "vec").select(
        "vec_id", "label", "vec")
    cents = simsearch.ivf_centroids(v, dim=64)
    import re
    text = plan_text(cents)
    # formatted mode prints each node twice (tree + detail): count nodes
    assert len(re.findall(r"\(\d+\) Exchange", text)) == 1
    assert "partial" in text.lower()    # map-side partial aggregation


def test_cardinality_mapping_dist_no_global_window(spark):
    """The distributed prefix-sum variant must contain NO unpartitioned
    WindowExec: every Window node is PARTITIONED by the range bucket
    (one bucket per task), and the cross-bucket offsets arrive via a
    broadcast of the driver-cumsum'd bucket totals — the
    billions-of-sets shape (VERDICT r11 'what's wrong' #1)."""
    import re
    df = E.queries()["cardinality_mapping_dist"](spark, SF_SMOKE)
    text = plan_text(df)
    # every window spec must lead with the _bucket partition column (an
    # unpartitioned spec starts straight at the ORDER BY expression)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", text)
    assert specs, text                 # the within-bucket running sum
    for spec in specs:
        assert spec.startswith("_bucket"), spec
    assert "BroadcastHashJoin" in text  # bucket offsets broadcast back

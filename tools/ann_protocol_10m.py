"""Reference-protocol tuple at the reference's headline scale (10M),
ROUTED spatial-shard configuration.

The 10M hash-shard probe (SCALE_PROBE.md) measured the uniform worst
case: budget dilutes across 640 shards and recall@10 lands at 0.45.
This runs the fix end-to-end at the same scale — clustered corpus,
shards = trained codebook cells (`spatial_shards`), queries routed to
their nprobe best shards (`route_query_sets`) — and reports the
reference tuple (budget, recall@10, QPS, rerank_fraction) like
ANN_PROTOCOL.md's 1M table, against the exact set-level GEMM oracle.

Reference headline: `/root/reference/scripts/roargraph/
run_roargraph_search_multivector_rerank_expr.sh` +
`tests/test_search_multivector_rerank.cpp:341-347`.

Usage: python tools/ann_protocol_10m.py [n] [dim] [n_shards] [out_md]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import Window
from pyspark.sql import functions as F

from cross_modal_multivector_search_spark.operators import (
    graph_build, recall, rerank, set_search, sharded, simsearch,
)
from cross_modal_multivector_search_spark.operators.sampling import (
    generate_clustered_vectors,
)
from cross_modal_multivector_search_spark.session import get_spark

M = 5
N_QUERY_CLUSTERS = 10     # one 5-member set from each of 10 clusters
K = 10
SWEEP = ((8, 1000), (4, 1000), (2, 1000), (4, 2000))   # (nprobe, budget)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    n_shards = int(sys.argv[3]) if len(sys.argv) > 3 else 640
    out = sys.argv[4] if len(sys.argv) > 4 else "ANN_PROTOCOL.md"
    n_clusters = n_shards      # balanced cells: shard ~= cluster

    spark = get_spark("ann-protocol-10m")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    raw = generate_clustered_vectors(spark, n, dim,
                                     n_clusters=n_clusters, sigma=0.1)
    # cluster-coherent sets, contiguous ids (same renumbering as
    # tools/spatial_probe.py — window per cluster + broadcast offsets)
    w = Window.partitionBy("cluster").orderBy("vec_id")
    ranked = raw.withColumn("rn", F.row_number().over(w) - 1)
    sizes = {r["cluster"]: r["cnt"] for r in
             ranked.groupBy("cluster").agg(F.count("*").alias("cnt"))
             .collect()}
    offs, acc = {}, 0
    for c in sorted(sizes):
        offs[c] = acc
        acc += (sizes[c] // M) * M
    off_df = spark.createDataFrame(
        [(int(c), int(offs[c]), int((sizes[c] // M) * M))
         for c in sorted(sizes)],
        "cluster long, off long, keep long")
    v = (ranked.join(F.broadcast(off_df), "cluster")
         .filter(F.col("rn") < F.col("keep"))
         .select((F.col("off") + F.col("rn")).alias("vec_id"), "vec",
                 "cluster", "rn")
         .withColumn("set_id", (F.col("vec_id") / M).cast("long"))
         .repartition(64).cache())
    n_kept = v.count()
    t_gen = time.time() - t0

    members = v.filter((F.col("cluster") < N_QUERY_CLUSTERS)
                       & (F.col("rn") < M)) \
        .select("vec_id", "vec", "set_id").cache()
    n_q_sets = members.count() // M

    t0 = time.time()
    book = simsearch.train_codebook(v, k=n_shards, iters=10,
                                    sample_n=100_000)
    t_train = time.time() - t0
    t0 = time.time()
    sb = sharded.spatial_shards(v.select("vec_id", "vec"), book).cache()
    sb.count()
    t_assign = time.time() - t0

    t0 = time.time()
    g = sharded.build_sharded(
        sb, n_shards,
        graph_build.RoarGraphParams(m_sq=20, m_pjbp=12, l_pjpq=40),
        shard_col="shard").cache()
    g.count()
    t_build = time.time() - t0
    print(f"gen {t_gen:.0f}s train {t_train:.0f}s assign {t_assign:.0f}s "
          f"build {t_build:.0f}s ({n_kept / t_build / 1e3:.1f}k nodes/s)",
          flush=True)

    work = sharded.prepare_search_work(g, sb, n_shards,
                                       shard_col="shard").cache()
    work.count()
    g.unpersist()

    t0 = time.time()
    gt = set_search.set_topk_gemm(members, v, K).select(
        "query_set_id", "data_set_id").cache()
    gt.count()
    t_gt = time.time() - t0
    print(f"exact GT {t_gt:.0f}s", flush=True)

    lines = [
        "",
        f"## Protocol tuple at n = {n_kept:,} — ROUTED spatial shards "
        f"({n_shards} cells)",
        "",
        f"The reference's headline scale with the routing fix: "
        f"{n_clusters}-cluster corpus (sigma 0.1), shards = trained "
        f"codebook cells (100k-sample k-means), {n_q_sets} "
        f"cluster-coherent query sets of m={M}, per-shard fan-out "
        "restricted to each set's nprobe best shards "
        "(`route_query_sets`), global smooth-Chamfer rerank, recall vs "
        f"the exact set-level GEMM oracle. gen {t_gen:.0f}s; codebook "
        f"{t_train:.0f}s; assign {t_assign:.0f}s (map-only); build "
        f"{t_build:.0f}s ({n_kept / t_build / 1e3:.1f}k nodes/s); "
        f"exact GT {t_gt:.0f}s. Budget is per probed shard — total "
        "visited work scales with nprobe, not shard count (the hash-"
        "shard dilution this replaces measured 0.45 recall at the same "
        "budget over 640 shards, SCALE_PROBE.md).",
        "",
        "| m | nprobe | budget | recall@10 | QPS | rerank_fraction |",
        "|---|---|---|---|---|---|",
    ]
    for nprobe, budget in SWEEP:
        routes = sharded.route_query_sets(members, book, nprobe)
        t0 = time.time()
        cands = sharded.search_sharded(
            work, members, min_pq=5, max_pq=budget, budget=budget,
            routes=routes).cache()
        cands.count()
        t_search = time.time() - t0
        t0 = time.time()
        res = rerank.rerank(cands.select("query_set_id", "base_vec_id"),
                            members, v, K, m=M)
        mr = recall.mean_recall(
            res.select("query_set_id", "data_set_id"), gt, K
        ).collect()[0]["mean_recall"]
        t_rerank = time.time() - t0
        total = t_search + t_rerank
        lines.append(f"| {M} | {nprobe} | {budget} | {mr:.4f} "
                     f"| {n_q_sets / total:.2f} "
                     f"| {t_rerank / total:.3f} |")
        print(lines[-1], flush=True)
        cands.unpersist()

    if out == "-":
        print("\n".join(lines))
    else:
        with open(out, "a") as f:
            f.write("\n".join(lines) + "\n")
        print(f"appended to {out}")
    spark.stop()


if __name__ == "__main__":
    main()

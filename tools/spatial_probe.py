"""Spatial-shard routing probe: clustered 1M vectors, trained codebook
shards, routed vs full fan-out search.

The 10M hash-shard probe measured the uniform worst case: with no
structure, every shard must be searched and per-shard budget dilutes.
This probe measures the realistic regime — clustered data, shards =
trained codebook cells, queries routed to nprobe shards — where the
visited-node budget concentrates on the shards that can actually hold
neighbors.

Usage: python tools/spatial_probe.py [n] [dim] [n_shards] [out_md]
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


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    n_shards = int(sys.argv[3]) if len(sys.argv) > 3 else 64
    out = sys.argv[4] if len(sys.argv) > 4 else "SPATIAL_PROBE.md"
    spark = get_spark("spatial-probe")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    # sigma=0.1: clustered regime (cf. the trained-IVF probe)
    raw = generate_clustered_vectors(spark, n, dim, n_clusters=256,
                                     sigma=0.1)
    # cluster-coherent 5-member sets (real multivector payloads
    # cluster), renumbered so ids are contiguous per cluster and
    # set = id // 5 (the engine's fixed-m mapping). The renumbering is
    # a partitioned window + a broadcast join against a 256-row cluster
    # offset table — no global sort at any n; per-cluster tails are
    # truncated to a multiple of 5 so no set straddles clusters.
    w = Window.partitionBy("cluster").orderBy("vec_id")
    ranked = raw.withColumn("rn", F.row_number().over(w) - 1)
    sizes = {r["cluster"]: r["cnt"] for r in
             ranked.groupBy("cluster").agg(F.count("*").alias("cnt"))
             .collect()}
    offs, acc = {}, 0
    for c in sorted(sizes):
        offs[c] = acc
        acc += (sizes[c] // 5) * 5
    off_df = spark.createDataFrame(
        [(int(c), int(offs[c]), int((sizes[c] // 5) * 5))
         for c in sorted(sizes)],
        "cluster long, off long, keep long")
    v = (ranked.join(F.broadcast(off_df), "cluster")
         .filter(F.col("rn") < F.col("keep"))
         .select((F.col("off") + F.col("rn")).alias("vec_id"), "vec",
                 "cluster", "rn")
         .withColumn("set_id", (F.col("vec_id") / 5).cast("long"))
         .repartition(64).cache())
    v.count()
    t_gen = time.time() - t0

    members = v.filter((F.col("cluster") < 10) & (F.col("rn") < 5)) \
        .select("vec_id", "vec", "set_id").cache()
    n_q = members.count()

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

    work = sharded.prepare_search_work(g, sb, n_shards,
                                       shard_col="shard").cache()
    work.count()

    gt = set_search.set_topk_gemm(members, v, 10).select(
        "query_set_id", "data_set_id").cache()
    gt.count()

    lines = [
        "# SPATIAL_PROBE — routed spatial shards on clustered data",
        "",
        f"n={n:,} vectors, dim={dim}, 256 clusters (sigma 0.1), "
        f"{n_shards} spatial shards (trained codebook); {n_q} query "
        f"vectors in 10 cluster-coherent sets; local[32].",
        "",
        f"gen {t_gen:.1f}s; codebook train {t_train:.1f}s (100k sample); "
        f"assign {t_assign:.1f}s (one GEMM pass); "
        f"build {t_build:.1f}s ({n / t_build / 1e3:.1f}k nodes/s).",
        "",
        "| search | budget/shard | wall | recall@10 |",
        "|---|---|---|---|",
    ]

    for nprobe, budget in ((None, 1000), (8, 1000), (4, 1000),
                           (4, 2000), (2, 2000)):
        routes = (None if nprobe is None else
                  sharded.route_query_sets(members, book, nprobe))
        t0 = time.time()
        cands = sharded.search_sharded(
            work, members, min_pq=5, max_pq=budget, budget=budget,
            routes=routes)
        res = rerank.rerank(cands.select("query_set_id", "base_vec_id"),
                            members, v, 10, m=5).cache()
        res.count()
        dt = time.time() - t0
        mr = recall.mean_recall(
            res.select("query_set_id", "data_set_id"), gt, 10
        ).collect()[0]["mean_recall"]
        tag = "full fan-out" if nprobe is None else f"routed nprobe={nprobe}"
        lines.append(f"| {tag} | {budget} | {dt:.1f}s "
                     f"| {mr:.2f} |")

    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines[5:]))
    spark.stop()


if __name__ == "__main__":
    main()

"""Scale probe: the engine's throughput beyond the driver's sf0.1.

Generates N seeded unit-norm vectors (the reference's synthetic-data
path), then measures the scale-relevant operators:

  * exact kNN (blocked GEMM, per-batch partial top-k)
  * exact set-level smooth-Chamfer top-k (batched GEMM)
  * sharded RoarGraph build + fan-out multi-vector search
  * embedding near-dup at threshold

Writes SCALE_PROBE.md (or the given output path). Usage:
  python tools/scale_probe.py [n_vectors] [dim] [n_shards] [out_md] [ops]

``ops`` is a comma list from {knn, settopk, build, search, neardup}
(default all) — e.g. ``build,search`` for the 10M-build run where the
quadratic exact baselines would dominate the wall for no information.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from cross_modal_multivector_search_spark.functions import vector as V
from cross_modal_multivector_search_spark.operators import (
    brute_force, dedup, graph_build, recall, rerank, set_search, sharded,
    set_search as ss,
)
from cross_modal_multivector_search_spark.operators.sampling import (
    generate_random_vectors,
)
from cross_modal_multivector_search_spark.session import get_spark


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    n_shards = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    ops = set((sys.argv[5] if len(sys.argv) > 5
               else "knn,settopk,build,search,neardup").split(","))
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    v = generate_random_vectors(spark, n, dim).withColumn(
        "set_id", (F.col("vec_id") / 5).cast("long"))
    v = v.repartition(32).cache()
    v.count()
    t_gen = time.time() - t0

    lines = [
        "# SCALE_PROBE — synthetic throughput beyond the driver SFs",
        "",
        f"n={n:,} unit-norm vectors, dim={dim}, local[32]; generated in "
        f"{t_gen:.1f}s (seeded, partition-independent).",
        "",
        "| operator | config | wall | throughput |",
        "|---|---|---|---|",
    ]

    if "knn" in ops:
        q20 = v.filter(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("query_id"), "vec")
        b = v.select(F.col("vec_id").alias("base_id"), "vec")
        t0 = time.time()
        brute_force.knn_exact_gemm(q20, b, 10, metric="ip").count()
        dt = time.time() - t0
        lines.append(f"| exact kNN (GEMM) | 20 queries x {n:,} base, k=10 "
                     f"| {dt:.1f}s | {20 * n / dt / 1e6:.1f}M dist/s |")

    qsets = v.filter(F.col("set_id") < 10)
    if "settopk" in ops:
        t0 = time.time()
        set_search.set_topk_gemm(qsets, v, 10).count()
        dt = time.time() - t0
        lines.append(f"| exact smooth-Chamfer top-k (GEMM) | 10 query sets x "
                     f"{n // 5:,} data sets | {dt:.1f}s "
                     f"| {10 * (n // 5) / dt / 1e3:.0f}k set-pairs/s |")

    g = None
    if {"build", "search"} & ops:
        t0 = time.time()
        g = sharded.build_sharded(
            v.select("vec_id", "vec"), n_shards,
            graph_build.RoarGraphParams(m_sq=20, m_pjbp=12,
                                        l_pjpq=40)).cache()
        g.count()
        t_build = time.time() - t0
        lines.append(f"| sharded RoarGraph build | {n_shards} shards x "
                     f"~{n // n_shards:,} nodes | {t_build:.1f}s "
                     f"| {n / t_build / 1e3:.1f}k nodes/s |")

    if "search" in ops:
        work = sharded.prepare_search_work(
            g, v.select("vec_id", "vec"), n_shards).cache()
        work.count()
        gt = set_search.set_topk_gemm(qsets, v, 10).select(
            "query_set_id", "data_set_id").cache()
        gt.count()
        for budget in (100, 400, 1000):
            t0 = time.time()
            cands = sharded.search_sharded(
                work, qsets, min_pq=5, max_pq=budget, budget=budget)
            res = rerank.rerank(cands.select("query_set_id",
                                             "base_vec_id"),
                                qsets, v, 10, m=5)
            res = res.cache()
            res.count()
            dt = time.time() - t0
            mr = recall.mean_recall(
                res.select("query_set_id", "data_set_id"), gt, 10
            ).collect()[0]["mean_recall"]
            lines.append(f"| sharded search + rerank | budget "
                         f"{budget}/shard | {dt:.1f}s "
                         f"| recall@10 {mr:.2f} |")

    if "neardup" in ops:
        t0 = time.time()
        nd = dedup.embedding_near_dup_pairs(v.select("vec_id", "vec"), 0.5)
        n_pairs = nd.count()
        dt = time.time() - t0
        path = ("LSH-bucketed" if n > dedup.NEAR_DUP_EXACT_GATE
                else "exact GEMM")
        lines.append(f"| embedding near-dup ({path}, impl=auto) "
                     f"| {n:,}^2 pairs @ cos>=0.5 "
                     f"| {dt:.1f}s | {n * n / dt / 1e9:.2f}B pairs/s "
                     f"({n_pairs} hits) |")

    out = sys.argv[4] if len(sys.argv) > 4 else "SCALE_PROBE.md"
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines[5:]))
    spark.stop()


if __name__ == "__main__":
    main()

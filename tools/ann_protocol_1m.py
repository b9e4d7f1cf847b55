"""Reference-protocol aggregated tuple at probe scale (n = 1M).

ANN_PROTOCOL.md sweeps (budget, recall@10, QPS, rerank_fraction) —
the reference's reporting tuple (`tests/test_search_multivector_rerank
.cpp:341-347`) — at sf0.1 only. This runs the same tuple at 1M vectors
through the sharded build + fan-out search + smooth-Chamfer rerank
path, against the exact set-level GEMM oracle, and appends the table
to ANN_PROTOCOL.md.

Usage: python tools/ann_protocol_1m.py [n] [dim] [n_shards] [out_md]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from cross_modal_multivector_search_spark.operators import (
    graph_build, recall, rerank, set_search, sharded,
)
from cross_modal_multivector_search_spark.operators.sampling import (
    generate_random_vectors,
)
from cross_modal_multivector_search_spark.session import get_spark

M = 5            # vectors per set (reference headline m)
N_QUERY_SETS = 20
K = 10
BUDGETS = (400, 1000, 2000)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    n_shards = int(sys.argv[3]) if len(sys.argv) > 3 else 64
    out = sys.argv[4] if len(sys.argv) > 4 else "ANN_PROTOCOL.md"

    spark = get_spark("ann-protocol-1m")
    spark.sparkContext.setLogLevel("ERROR")

    v = generate_random_vectors(spark, n, dim).withColumn(
        "set_id", (F.col("vec_id") / M).cast("long"))
    v = v.repartition(32).cache()
    v.count()

    t0 = time.time()
    g = sharded.build_sharded(
        v.select("vec_id", "vec"), n_shards,
        graph_build.RoarGraphParams(m_sq=20, m_pjbp=12, l_pjpq=40)).cache()
    g.count()
    t_build = time.time() - t0

    work = sharded.prepare_search_work(
        g, v.select("vec_id", "vec"), n_shards).cache()
    work.count()

    qsets = v.filter(F.col("set_id") < N_QUERY_SETS)
    gt = set_search.set_topk_gemm(qsets, v, K).select(
        "query_set_id", "data_set_id").cache()
    gt.count()

    lines = [
        "",
        f"## Protocol tuple at n = {n:,} (sharded path, {n_shards} "
        "shards)",
        "",
        f"Same tuple at probe scale: {N_QUERY_SETS} query sets of m={M} "
        f"over {n:,} unit-norm vectors ({n // M:,} data sets), sharded "
        f"RoarGraph build {t_build:.1f}s ({n / t_build / 1e3:.1f}k "
        "nodes/s), per-shard fan-out search + global smooth-Chamfer "
        "rerank, recall vs the exact set-level GEMM oracle. Uniform "
        "Gaussians (the ANN worst case — no cluster structure); budget "
        "is per shard.",
        "",
        "| m | budget | recall@10 | QPS | rerank_fraction |",
        "|---|---|---|---|---|",
    ]
    for budget in BUDGETS:
        t0 = time.time()
        cands = sharded.search_sharded(
            work, qsets, min_pq=5, max_pq=budget, budget=budget).cache()
        cands.count()
        t_search = time.time() - t0
        t0 = time.time()
        res = rerank.rerank(cands.select("query_set_id", "base_vec_id"),
                            qsets, v, K, m=M)
        mr = recall.mean_recall(
            res.select("query_set_id", "data_set_id"), gt, K
        ).collect()[0]["mean_recall"]
        t_rerank = time.time() - t0
        total = t_search + t_rerank
        lines.append(f"| {M} | {budget} | {mr:.4f} "
                     f"| {N_QUERY_SETS / total:.2f} "
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

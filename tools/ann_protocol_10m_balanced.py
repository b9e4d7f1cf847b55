"""Reference-protocol tuple at 10M, ROUTED + BALANCED spatial shards.

tools/ann_protocol_10m.py measured the routed-spatial configuration at
the reference's headline scale; its residual critical path was cell-
size skew (largest codebook cell ~2x the mean, and per-shard build work
is quadratic in population — ANN_PROTOCOL 10M section). This re-runs
the identical protocol with `spatial_shards_balanced`: over-populated
cells split into sub-shards capped near the mean population, cell-level
routing preserved via `cell_to_shards`, so recall is unchanged by
construction and only the build critical path moves.

Usage: python tools/ann_protocol_10m_balanced.py [n] [dim] [n_shards]
       [out_md] [m] [sweep]

``m`` (default 5) is the set cardinality — the reference protocol
sweeps m in {1..5} (reference expr_configs/dive_train.yaml:23-24);
``sweep`` is a comma list of nprobe:budget pairs (default the full
r6 sweep), e.g. "4:1000" for the single m-sweep tuple.
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

N_QUERY_CLUSTERS = 10
K = 10
DEFAULT_SWEEP = ((8, 1000), (4, 1000), (2, 1000), (4, 2000))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    n_shards = int(sys.argv[3]) if len(sys.argv) > 3 else 640
    out = sys.argv[4] if len(sys.argv) > 4 else "ANN_PROTOCOL.md"
    M = int(sys.argv[5]) if len(sys.argv) > 5 else 5
    SWEEP = (tuple(tuple(int(x) for x in t.split(":"))
                   for t in sys.argv[6].split(","))
             if len(sys.argv) > 6 else DEFAULT_SWEEP)
    n_clusters = n_shards

    spark = get_spark("ann-protocol-10m-balanced")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    raw = generate_clustered_vectors(spark, n, dim,
                                     n_clusters=n_clusters, sigma=0.1)
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

    # cap = mean population: cells at the measured ~2x-mean skew split
    # into 2-3 sub-shards, bounding the quadratic per-shard build term
    max_pop = -(-n_kept // n_shards)
    t0 = time.time()
    bal, c2s, tot = sharded.spatial_shards_balanced(
        v.select("vec_id", "vec"), book, max_pop=max_pop)
    bal = bal.cache()
    bal.count()
    t_assign = time.time() - t0

    t0 = time.time()
    g = sharded.build_sharded(
        bal, tot,
        graph_build.RoarGraphParams(m_sq=20, m_pjbp=12, l_pjpq=40),
        shard_col="shard").cache()
    g.count()
    t_build = time.time() - t0
    print(f"gen {t_gen:.0f}s train {t_train:.0f}s assign+balance "
          f"{t_assign:.0f}s ({tot} shards from {n_shards} cells, "
          f"max_pop {max_pop}) build {t_build:.0f}s "
          f"({n_kept / t_build / 1e3:.1f}k nodes/s)", flush=True)

    work = sharded.prepare_search_work(g, bal, tot,
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
        f"## Protocol tuple at n = {n_kept:,}, m = {M} — ROUTED + "
        f"BALANCED spatial shards ({n_shards} cells -> {tot} "
        f"sub-shards, max_pop {max_pop})",
        "",
        f"Identical protocol to the routed-spatial 10M section, with "
        f"`spatial_shards_balanced` splitting over-populated cells at "
        f"the mean population (the skewed largest cell was the build's "
        f"quadratic critical path). Routing stays cell-level via "
        f"`cell_to_shards`, so reachability — and recall — is unchanged "
        f"by construction. gen {t_gen:.0f}s; codebook {t_train:.0f}s; "
        f"assign+balance {t_assign:.0f}s (one extra count-per-cell agg); "
        f"build {t_build:.0f}s ({n_kept / t_build / 1e3:.1f}k nodes/s); "
        f"exact GT {t_gt:.0f}s; {n_q_sets} query sets.",
        "",
        "| m | nprobe | budget | recall@10 | QPS | rerank_fraction |",
        "|---|---|---|---|---|---|",
    ]
    for nprobe, budget in SWEEP:
        routes = sharded.route_query_sets(members, book, nprobe,
                                          cell_to_shards=c2s)
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

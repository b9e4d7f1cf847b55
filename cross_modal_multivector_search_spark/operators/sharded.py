"""Sharded ANN: the 100 TB execution shape (SURVEY §7 Phase 5).

A single RoarGraph broadcast caps out at executor memory (a few GB ≈
tens of millions of vectors). Above that:

  build:   hash-shard the base table; ONE Spark task builds ONE shard's
           sub-index (applyInPandas over groupBy(shard)) — the build
           fans out S-way with no cross-shard traffic at all, and each
           sub-index is persisted as its shard's adjacency rows.
  search:  queries broadcast to every shard partition; each shard task
           runs the multi-vector beam search against its local sub-index
           and emits only its top candidates; a global per-query top-k
           merge (the classic partial+final aggregation) finishes.

Recall composition: each member vector's true NN lives in exactly one
shard, and every shard is searched, so sharded recall >= single-index
recall at equal per-shard beam budget (it only misses what every shard's
local search misses).

The in-JVM data path stays columnar: adjacency rows are
(shard, src, nbrs) Parquet — partition-pruned by shard at load — and the
per-shard vector slices come out of the same shuffle that grouped them.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType, LongType,
                               StructField, StructType)

from . import _roar_core as core
from .graph_build import RoarGraphParams
from .graph_search import _CAND_SCHEMA, _cand_frame
from .set_search import fetch_grouped_sets
from .topk import grouped_topk

_SHARD_GRAPH_SCHEMA = StructType([
    StructField("shard", IntegerType()),
    StructField("src", LongType()),
    StructField("nbrs", ArrayType(LongType())),
    StructField("is_entry", IntegerType()),
])


def _build_one_shard(ids: np.ndarray, vecs: np.ndarray,
                     params: RoarGraphParams,
                     nn_lists: list | None = None) -> tuple[list, int]:
    """Single-shard RoarGraph build, NumPy end-to-end (runs inside one
    Spark task). Same pass structure as graph_build.build_roargraph —
    pass 1 projection from an exact kNN table, reverse merge + re-prune,
    entry point, one connectivity-enhancement sweep.

    ``nn_lists`` (per-row arrays of global vec_ids, nearest first, self
    excluded — the reference's kNN build input,
    `/root/reference/src/index_bipartite.cpp:3111-3150`) skips the
    in-task kNN entirely: at scale the kNN table comes from the blocked
    distributed operator (shard_self_knn), so the build task does only
    the pruning passes. The fallback computes the same kNN locally in
    row blocks (bounded memory: never a full n^2 sims matrix).
    """
    n = len(ids)
    m_deg = params.m_pjbp
    if n <= 1:
        # degenerate shard: a single vector is its own (empty) graph
        return [np.empty(0, dtype=np.int64)] * n, 0

    # pass 1: target = nearest neighbor; pool = rest of the kNN list
    pools: dict[int, set] = {}
    if nn_lists is not None:
        ix = {int(v): i for i, v in enumerate(ids)}
        for lst in nn_lists:
            if lst is None:
                continue
            arr = np.asarray(lst)
            if arr.ndim == 0 or arr.size == 0:   # NULL join result / empty
                continue
            loc = [ix[int(x)] for x in arr]
            pools.setdefault(loc[0], set()).update(loc[1:])
    else:
        k = min(params.m_sq, n - 1)
        blk = max(1, int(200_000_000 // (8 * n)))  # ~200 MB sims blocks
        for s in range(0, n, blk):
            sims = vecs[s:s + blk] @ vecs.T
            for i in range(sims.shape[0]):
                sims[i, s + i] = -np.inf       # exclude self
            # argpartition on the tail (no negated copy) then sort only
            # the k selected — a full-row argsort was ~40% of build
            # wall at 15k nodes; this is ~1.7x faster per block
            part = np.argpartition(sims, n - k, axis=1)[:, n - k:]
            rr = np.arange(part.shape[0])[:, None]
            order = np.argsort(-sims[rr, part], axis=1, kind="stable")
            knn = part[rr, order]
            for q in range(knn.shape[0]):
                tgt = int(knn[q, 0])
                pools.setdefault(tgt, set()).update(int(x)
                                                    for x in knn[q, 1:])
    adj = [np.empty(0, dtype=np.int64)] * n
    edges: dict[int, set] = {i: set() for i in range(n)}
    for tgt, pool in pools.items():
        cand = np.fromiter((p for p in pool if p != tgt), dtype=np.int64)
        if len(cand) == 0:
            continue
        dists = -(vecs[cand] @ vecs[tgt])
        pruned = core.occlusion_prune(cand, dists, vecs, m_deg, exclude=tgt)
        edges[tgt].update(pruned)
        for p in pruned:           # reverse edges
            edges[p].add(tgt)
    for node, nbrs in edges.items():
        cand = np.fromiter((x for x in nbrs if x != node), dtype=np.int64)
        if len(cand) > m_deg:
            dists = -(vecs[cand] @ vecs[node])
            cand = np.array(core.occlusion_prune(
                cand, dists, vecs, m_deg, exclude=node), dtype=np.int64)
        adj[node] = cand

    centroid = vecs.mean(axis=0)
    ep = int(np.argmin(((vecs - centroid) ** 2).sum(axis=1)))

    # one connectivity-enhancement sweep over the snapshot; the searches
    # for all nodes run wave-vectorized in one batched pass
    snapshot = [a.copy() for a in adj]
    traces = core.batch_supply_search_collect(
        snapshot, vecs, np.arange(n, dtype=np.int64), ep, params.l_pjpq)
    for node in range(n):
        ret_ids, ret_dists = traces[node]
        keep = ret_ids != node
        ret_ids, ret_dists = ret_ids[keep], ret_dists[keep]
        if len(ret_ids) == 0:
            continue
        pruned = core.occlusion_prune(
            ret_ids, ret_dists, vecs, m_deg, exclude=node, backfill=False,
            seed_skip=set(int(x) for x in snapshot[node]))
        have = set(int(x) for x in adj[node])
        novel = [p for p in pruned if p not in have][:2 * m_deg]
        if novel:
            adj[node] = np.concatenate(
                [adj[node], np.array(novel, dtype=np.int64)])
            # reverse supply edges (the reference's SupplyAddReverse,
            # `/root/reference/src/index_bipartite.cpp` pass 3): the
            # enhancement sweep above only adds edges INTO the entry
            # point's reachable component; without the reverse
            # direction a shard holding several well-separated
            # clusters (spatial sharding) leaves directed islands the
            # beam can never escape. Bounded append, deterministic
            # node order.
            for p in novel:
                if len(adj[p]) < 3 * m_deg and not (adj[p] == node).any():
                    adj[p] = np.concatenate(
                        [adj[p], np.array([node], dtype=np.int64)])
    return adj, ep


def _shard_expr(col: str, n_shards: int):
    return F.pmod(F.hash(F.col(col)), F.lit(n_shards)).cast("int")


def shard_self_knn(base: DataFrame, n_shards: int, k: int,
                   id_col: str = "vec_id",
                   vec_col: str = "vec",
                   block_bytes: int = 200_000_000) -> DataFrame:
    """Within-shard exact kNN as a distributed table: (query_id, rank,
    base_id, score), self excluded, both sides in the same hash shard.

    This is the reference's build-input kNN file
    (`/root/reference/src/index_bipartite.cpp:3111-3150`) re-expressed
    as a first-class stage in ONE pass: the base scans once, shuffles
    once on ``repartition(n_shards, shard)``, and each task runs its
    shard's self-kNN with a blocked GEMM whose queries are the
    partition's own rows — no per-shard jobs, no driver round-trip of
    the corpus (the r4 shape launched n_shards filtered scans and
    fetched every vector through the driver; at 640 shards that was
    640 base scans plus a serial corpus hop).

    Memory per task is O(blk * n_shard) sims, bounded by
    ``block_bytes``; self matches are masked inside the kernel (the
    reference's fill-diagonal), and per-query output is
    min(k, n_shard - 1) rows with the deterministic (score desc, id
    asc) order every top-k in the engine uses.
    """
    if base.select(vec_col).first() is None:
        raise ValueError("shard_self_knn: empty base table")
    kk_cap = int(k)
    if kk_cap < 1:
        raise ValueError(f"shard_self_knn: k must be >= 1, got {k}")
    schema = StructType([
        StructField("query_id", LongType()),
        StructField("rank", IntegerType()),
        StructField("base_id", LongType()),
        StructField("score", DoubleType()),
    ])

    def per_shard(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # rows arrive grouped+sorted by shard (repartition +
        # sortWithinPartitions); accumulate one shard at a time — the
        # same streaming pattern as build_sharded
        cur, ids_acc, vec_acc = None, [], []

        def emit():
            from .brute_force import topk_cols_ascending

            ids = np.array(ids_acc, dtype=np.int64)
            n = len(ids)
            kk = min(kk_cap, n - 1)
            if kk <= 0:
                return None
            mat = np.vstack(vec_acc).astype(np.float64)
            blk = max(1, int(block_bytes / (8 * n)))
            frames = []
            for s in range(0, n, blk):
                # negated IP, ascending = closest — the same sign dance
                # as knn_exact_gemm, so scores are bit-identical to the
                # per-shard exact kernel
                sims = -(mat[s:s + blk] @ mat.T)
                sims[ids[s:s + blk, None] == ids[None, :]] = np.inf
                order = topk_cols_ascending(sims, ids, kk)
                rows = np.repeat(np.arange(sims.shape[0]), kk)
                cols = order.ravel()
                frames.append(pd.DataFrame({
                    "query_id": ids[s:s + blk][rows],
                    "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32),
                                    sims.shape[0]),
                    "base_id": ids[cols],
                    "score": -sims[rows, cols],
                }))
            return pd.concat(frames) if frames else None

        for pdf in it:
            for shard, vid, vec in zip(pdf["_shard"], pdf[id_col],
                                       pdf[vec_col]):
                if cur is not None and shard != cur:
                    out = emit()
                    if out is not None:
                        yield out
                    ids_acc, vec_acc = [], []
                cur = shard
                ids_acc.append(int(vid))
                vec_acc.append(np.asarray(vec, dtype=np.float64))
        if ids_acc:
            out = emit()
            if out is not None:
                yield out

    from .partitioning import repartition_by_shard

    sel = base.select(F.col(id_col), vec_col,
                      _shard_expr(id_col, n_shards).alias("_shard"))
    return (repartition_by_shard(sel, n_shards, "_shard")
            .sortWithinPartitions("_shard", id_col)
            .mapInPandas(per_shard, schema=schema))


def build_sharded(base: DataFrame, n_shards: int,
                  params: RoarGraphParams = RoarGraphParams(),
                  id_col: str = "vec_id", vec_col: str = "vec",
                  train_knn: DataFrame | None = None,
                  shard_col: str | None = None) -> DataFrame:
    """(shard, src, nbrs, is_entry) adjacency for every shard.

    Default sharding is hash(id) % n_shards: uniform by construction,
    no skew. One task per shard; S-way parallel, zero cross-shard
    traffic.

    ``shard_col`` names a precomputed int shard column on ``base``
    (e.g. ``spatial_shards``'s nearest-codebook-cell assignment) —
    computed inline by a map-only pass upstream, so SPATIAL sharding
    costs no join and no broadcast at any corpus size. Spatial shards
    make the sub-indexes routable: ``route_query_sets`` then sends each
    query to the few shards that can hold its neighbors instead of
    fanning out to all (the fix for uniform budget dilution at large
    shard counts, SCALE_PROBE 10M section).

    ``train_knn`` (query_id, rank, base_id — e.g. shard_self_knn's
    output) supplies the pass-1 kNN lists as build input; with hash
    sharding, cross-shard pairs are filtered out here so each sub-index
    only ever references its own shard. With ``shard_col`` the caller
    must supply an already-same-shard kNN table (the build task fails
    loudly on a cross-shard reference). Without ``train_knn`` each
    build task computes its shard's kNN locally (blocked, but quadratic
    per task — fine for small shards; the table path is the 100 TB
    shape).
    """
    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # applyInPandas-free: rows arrive grouped+sorted by shard via
        # repartition+sortWithinPartitions; accumulate one shard at a time
        cur_shard, ids_acc, vec_acc, nn_acc = None, [], [], []
        with_nn = [False]

        def emit(shard, ids_l, vecs_l, nn_l):
            ids = np.array(ids_l, dtype=np.int64)
            vecs = np.vstack(vecs_l).astype(np.float64)
            adj, ep = _build_one_shard(
                ids, vecs, params, nn_lists=nn_l if with_nn[0] else None)
            return pd.DataFrame({
                "shard": np.full(len(ids), shard, dtype=np.int32),
                "src": ids,
                "nbrs": [[int(ids[j]) for j in adj[i]]
                         for i in range(len(ids))],
                "is_entry": [1 if i == ep else 0 for i in range(len(ids))],
            })

        for pdf in it:
            with_nn[0] = "_nn" in pdf.columns
            nns = pdf["_nn"] if with_nn[0] else [None] * len(pdf)
            for shard, vid, vec, nn in zip(pdf["shard"], pdf[id_col],
                                           pdf[vec_col], nns):
                if cur_shard is not None and shard != cur_shard:
                    yield emit(cur_shard, ids_acc, vec_acc, nn_acc)
                    ids_acc, vec_acc, nn_acc = [], [], []
                cur_shard = shard
                ids_acc.append(int(vid))
                vec_acc.append(np.asarray(vec, dtype=np.float64))
                nn_acc.append(nn)
        if ids_acc:
            yield emit(cur_shard, ids_acc, vec_acc, nn_acc)

    if shard_col is None:
        sharded = base.withColumn("shard", _shard_expr(id_col, n_shards))
    else:
        sharded = base.withColumn("shard",
                                  F.col(shard_col).cast("int"))
    if train_knn is not None:
        same = train_knn.filter(F.col("query_id") != F.col("base_id"))
        if shard_col is None:
            same = same.filter(_shard_expr("query_id", n_shards)
                               == _shard_expr("base_id", n_shards))
        lists = (same
                 .groupBy(F.col("query_id").alias(id_col))
                 .agg(F.sort_array(F.collect_list(
                     F.struct("rank", "base_id"))).alias("l"))
                 .select(id_col, F.col("l.base_id").alias("_nn")))
        sharded = sharded.join(lists, id_col, "left")
    from .partitioning import repartition_by_shard

    return (repartition_by_shard(sharded, n_shards, "shard")
            .sortWithinPartitions("shard", id_col)
            .mapInPandas(build, schema=_SHARD_GRAPH_SCHEMA))


def default_query_blocks(spark, n_shards: int) -> int:
    """Sub-partitions per shard so the search fan-out fills the
    cluster: ceil(parallelism / n_shards), 1 when shards alone already
    do (the at-scale regime — hundreds of shards on hundreds of
    cores)."""
    dp = spark.sparkContext.defaultParallelism
    return max(1, -(-dp // max(1, n_shards)))


def prepare_search_work(shard_graph: DataFrame, base: DataFrame,
                        n_shards: int, vec_id: str = "vec_id",
                        vec_col: str = "vec",
                        shard_col: str | None = None,
                        query_blocks: int = 1) -> DataFrame:
    """Join the shard adjacency to its vectors, grouped+sorted by shard —
    the search-ready layout. Build-once / search-many callers should
    cache() this and pass it to search_sharded(work=...) so repeated
    searches skip the join+shuffle (the index is static between builds).

    ``shard_col``: precomputed shard column on ``base`` (spatial
    sharding) — must be the same assignment the graph was built with.

    ``query_blocks`` (r16, VERDICT r15 #5): replicate each shard's rows
    into that many sub-partitions, one (shard, block) per task, so the
    search runs n_shards x query_blocks tasks — block b searches only
    query sets with ``set_id % query_blocks == b``, every set still
    meets every shard exactly once. This uncaps the fan-out when the
    shard count under-fills the cluster (4 shards on 32 cores ran 4
    tasks); at real shard counts (>= cores) the default of 1 replicates
    nothing. Cost: the cached work layout holds ``query_blocks`` copies
    of the graph — only pay it when shards < cores, which is exactly
    when shards are small. Pass the SAME value to ``search_sharded``."""
    if shard_col is not None:
        vecs_sharded = base.withColumn("shard",
                                       F.col(shard_col).cast("int"))
    else:
        vecs_sharded = base.withColumn(
            "shard",
            F.pmod(F.hash(F.col(vec_id)), F.lit(n_shards)).cast("int"))
    from .partitioning import repartition_by_shard

    joined = shard_graph.join(
        vecs_sharded.select("shard", F.col(vec_id).alias("src"),
                            F.col(vec_col).alias("v")),
        ["shard", "src"])
    qb = max(1, int(query_blocks))
    if qb == 1:
        return repartition_by_shard(joined, n_shards, "shard") \
            .sortWithinPartitions("shard", "src")
    expl = joined.withColumn(
        "_qblock",
        F.explode(F.array(*[F.lit(i) for i in range(qb)])))
    expl = expl.withColumn("_qblocks", F.lit(qb)).withColumn(
        "_spart", F.col("shard").cast("int") * qb + F.col("_qblock"))
    return (repartition_by_shard(expl, n_shards * qb, "_spart")
            .drop("_spart")
            .sortWithinPartitions("shard", "_qblock", "src"))


def search_sharded(shard_graph: DataFrame, base: DataFrame,
                   query_vecs: DataFrame,
                   min_pq: int, max_pq: int, budget: int,
                   adaptive: bool = True, n_shards: int | None = None,
                   set_id: str = "set_id", vec_id: str = "vec_id",
                   vec_col: str = "vec",
                   work: DataFrame | None = None,
                   routes: dict[int, frozenset] | None = None) -> DataFrame:
    """Fan-out multi-vector search: every shard searches every query set
    with the full per-shard budget; global merge keeps each member's
    best candidates across shards (partial+final top-k).

    ``routes`` (query_set_id -> shard ids, from ``route_query_sets``)
    restricts each query to its routed shards: with spatial shards the
    total visited-node budget concentrates where neighbors can actually
    live, cutting search work by ~n_shards/nprobe at matched recall
    (clustered corpora). Routing rides in the same broadcast as the
    query sets; unrouted shards skip the set entirely inside the task.

    ``query_vecs`` is a DataFrame, or a pre-fetched
    [(set_id, member matrix), ...] list (``set_search.
    fetch_grouped_sets`` shape) — search-many callers skip the
    per-call grouped Arrow fetch.

    When ``work`` was prepared with ``query_blocks`` > 1, each
    (shard, block) task searches only its block's query sets
    (``set_id % query_blocks == block``) — identical output, fan-out
    n_shards x query_blocks tasks. The block count is read from the
    work layout itself (the ``_qblock`` column), so it can never
    disagree with how the work table was built."""
    spark = base.sparkSession
    if not isinstance(query_vecs, list):
        query_vecs = fetch_grouped_sets(query_vecs, set_id, vec_id, vec_col)
    q_sets = [(int(s), np.asarray(m, dtype=np.float64))
              for s, m in query_vecs]
    if routes is not None:
        # a set missing from routes would silently search NO shard and
        # return zero rows — fail loudly instead (stale/filtered routes)
        missing = [qsid for qsid, _ in q_sets if qsid not in routes]
        if missing:
            raise ValueError(
                f"search_sharded: query sets {missing[:10]} have no "
                "entry in routes — routes must cover every searched "
                "set (rebuild with route_query_sets on the same "
                "queries)")
    bc_q = spark.sparkContext.broadcast(
        (q_sets, min_pq, max_pq, budget, adaptive, routes))

    if work is None:
        if n_shards is None:
            # fallback inference — WRONG if the top hash shard is empty, so
            # callers that know the build-time shard count must pass it
            top = shard_graph.select(F.max("shard")).first()[0]
            if top is None:
                raise ValueError("search_sharded: empty shard graph")
            n_shards = top + 1
        work = prepare_search_work(shard_graph, base, n_shards,
                                   vec_id=vec_id, vec_col=vec_col)
    if routes is not None:
        # prune unrouted shards JVM-side: their rows never cross the
        # Arrow boundary (partition-level skip of dead work)
        routed_union = sorted({int(s) for ss in routes.values()
                               for s in ss})
        work = work.filter(F.col("shard").isin(routed_union))

    blocked = "_qblock" in work.columns

    def search(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        (q_sets_l, min_pq_l, max_pq_l, budget_l, adaptive_l,
         routes_l) = bc_q.value
        cur = None
        acc: list[pd.DataFrame] = []

        def flush():
            if not acc:
                return None
            shard_id, block, n_blocks = cur
            sel = [qs for qs in q_sets_l
                   if (routes_l is None
                       or shard_id in routes_l.get(qs[0], ()))
                   and qs[0] % n_blocks == block]
            if not sel:
                return None
            pdf = acc[0] if len(acc) == 1 else pd.concat(acc)
            # vectorized shard assembly (guide §4.2 — the old per-row
            # append/dict loop was the dominant per-task cost once the
            # fan-out widened): rows arrive sorted by src, so the
            # global->local id map is one searchsorted over the flat
            # neighbor buffer.
            src = pdf["src"].to_numpy(dtype=np.int64)
            order = (np.arange(len(src))
                     if bool(np.all(src[1:] >= src[:-1]))
                     else np.argsort(src, kind="stable"))
            ids = src[order]
            vecs = np.vstack(pdf["v"].to_numpy()[order]).astype(
                np.float64)
            nb_rows = pdf["nbrs"].to_numpy()[order]
            lens = np.fromiter((len(nb) for nb in nb_rows),
                               dtype=np.int64, count=len(nb_rows))
            flat = (np.concatenate(
                [np.asarray(nb, dtype=np.int64) for nb in nb_rows])
                if lens.sum() else np.empty(0, dtype=np.int64))
            loc = np.searchsorted(ids, flat)
            bad = ((loc >= len(ids))
                   | (ids[np.minimum(loc, len(ids) - 1)] != flat))
            if bad.any():
                raise ValueError(
                    f"shard graph references vec_id "
                    f"{int(flat[np.flatnonzero(bad)[0]])} missing from "
                    "the vector join — was search_sharded called with "
                    "the same n_shards/shard assignment the graph was "
                    "built with?")
            offs = np.zeros(len(lens) + 1, dtype=np.int64)
            np.cumsum(lens, out=offs[1:])
            adj = [loc[offs[i]:offs[i + 1]] for i in range(len(lens))]
            eps = np.flatnonzero(
                pdf["is_entry"].to_numpy()[order].astype(np.int64))
            ep = int(eps[0]) if len(eps) else 0
            # every routed query set searches this shard in one
            # wave-vectorized pass (exact twin of the per-set loop,
            # pinned by tests)
            all_res = core.batch_multivector_search(
                adj, vecs, [qmat for _, qmat in sel], ep,
                min_pq_l, max_pq_l, budget_l, adaptive_l)
            return _cand_frame([qsid for qsid, _ in sel], all_res, ids)

        for pdf in it:
            if not len(pdf):
                continue
            sh = pdf["shard"].to_numpy()
            qb = (pdf["_qblock"].to_numpy() if blocked
                  else np.zeros(len(pdf), dtype=np.int64))
            nqb = (pdf["_qblocks"].to_numpy() if blocked
                   else np.ones(len(pdf), dtype=np.int64))
            change = np.flatnonzero((sh[1:] != sh[:-1])
                                    | (qb[1:] != qb[:-1])) + 1
            bounds = [0, *change.tolist(), len(pdf)]
            for s, e in zip(bounds[:-1], bounds[1:]):
                key = (int(sh[s]), int(qb[s]), int(nqb[s]))
                if cur is not None and key != cur:
                    out = flush()
                    acc = []
                    if out is not None:
                        yield out
                cur = key
                acc.append(pdf.iloc[s:e])
        out = flush()
        if out is not None:
            yield out

    partials = work.mapInPandas(search, schema=_CAND_SCHEMA)
    # global partial+final top-k: keep each member's best `max_pq`
    # overall — the rerank stage dedups anyway, so this merge only
    # bounds shuffle volume.
    return grouped_topk(
        partials, ["query_set_id", "member_pos"],
        [F.col("dist").asc(), F.col("base_vec_id").asc()], max_pq
    ).drop("rank")


def persist_search_work(work: DataFrame, path: str) -> None:
    """Write the search-ready (shard, src, nbrs, is_entry, v) layout as
    shard-partitioned parquet — the index AT REST.

    This is what makes ``search_sharded_query_partitioned`` cheap per
    search batch: a shard task reads exactly its own partition
    directory (partition-pruned column scan), so repeated searches
    reshuffle NOTHING of the corpus and read only the routed shards'
    bytes."""
    (work.select("shard", "src", "nbrs", "is_entry", "v")
     .write.mode("overwrite").partitionBy("shard").parquet(path))


#: worker-process cache of decoded shard work tables, keyed by
#: (path, shard, fingerprint-of-files). Spark reuses Python worker
#: processes within a session (spark.python.worker.reuse), so a
#: build-once/search-many caller pays the parquet decode once per
#: (worker, shard) instead of once per search batch. LRU by access
#: (dict insertion order + move-to-end on hit) and bounded by DECODED
#: BYTES, not entry count — 8 big shards occupy far more RAM than 8
#: small ones, and a worker serving many shards across repeated
#: batches must not evict its hottest shard just because it was
#: loaded first. The file fingerprint (names+sizes+mtimes)
#: invalidates stale entries when the index is rewritten in place.
def _stable_top_cells(affinity: np.ndarray, k: int) -> np.ndarray:
    """Row-wise top-``k`` cell indices by (descending affinity,
    ascending cell index) — bit-identical to
    ``np.argsort(-affinity, kind="stable")[:, :k]``, the routing tie
    rule shared by every router in this module, but O(n + k log k) per
    row once the cell count outgrows a full-row sort (~10^4 cells the
    full argsort is measurable; SURVEY notes routing must stay cheap
    relative to shard search). Small n keeps the plain stable argsort.
    """
    n = affinity.shape[1]
    k = min(int(k), n)
    if n <= 2048 or 4 * k >= n:
        return np.argsort(-affinity, axis=1, kind="stable")[:, :k]
    out = np.empty((affinity.shape[0], k), dtype=np.int64)
    for i, row in enumerate(affinity):
        thresh = row[np.argpartition(-row, k - 1)[:k]].min()
        # every cell at-or-above the boundary value, in ascending cell
        # order; the stable sort then resolves boundary ties exactly as
        # the full stable argsort would (lowest index wins)
        cand = np.flatnonzero(row >= thresh)
        out[i] = cand[np.argsort(-row[cand], kind="stable")[:k]]
    return out


_SHARD_WORK_CACHE: dict = {}
_SHARD_WORK_CACHE_MAX_BYTES = 512 << 20


def _shard_work_nbytes(out) -> int:
    """Decoded footprint of one cache entry: the two big ndarrays plus
    the adjacency slices (views into one base array — count it once via
    the first slice's base, falling back to per-slice nbytes)."""
    ids, adj, vecs, _ = out
    n = int(ids.nbytes) + int(vecs.nbytes)
    if adj:
        base = getattr(adj[0], "base", None)
        n += int(base.nbytes) if base is not None else \
            sum(int(a.nbytes) for a in adj)
    return n


def _shard_work_cache_put(key, out, max_bytes: int | None = None):
    bound = _SHARD_WORK_CACHE_MAX_BYTES if max_bytes is None else max_bytes
    nb = _shard_work_nbytes(out)
    _SHARD_WORK_CACHE[key] = (out, nb)
    used = sum(b for _, b in _SHARD_WORK_CACHE.values())
    while used > bound and len(_SHARD_WORK_CACHE) > 1:
        _, evicted = _SHARD_WORK_CACHE.pop(
            next(iter(_SHARD_WORK_CACHE)))
        used -= evicted


def _dir_fingerprint(part: str):
    import os
    try:
        with os.scandir(part) as it:
            return tuple(sorted(
                (e.name, e.stat().st_size, e.stat().st_mtime_ns)
                for e in it if e.name.endswith(".parquet")))
    except OSError:
        return None


def _load_shard_work(path: str, shard_id: int,
                     use_cache: bool = True):
    """(ids, adj, vecs, ep) for one shard from the persisted work table;
    None when the shard has no partition (empty spatial cell).
    ``use_cache=False`` bypasses the per-worker decoded-shard cache —
    for measuring the cold decode cost (SPATIAL_PROBE qpart sections),
    not for production use."""
    import os

    import pyarrow.parquet as pq

    part = os.path.join(path, f"shard={int(shard_id)}")
    fp = (_dir_fingerprint(part)
          if use_cache and "://" not in path else None)
    key = (path, int(shard_id), fp)
    if fp is not None and key in _SHARD_WORK_CACHE:
        hit = _SHARD_WORK_CACHE.pop(key)   # re-insert on hit -> LRU
        _SHARD_WORK_CACHE[key] = hit
        return hit[0]
    try:
        t = pq.read_table(part, columns=["src", "nbrs", "is_entry", "v"])
    except (FileNotFoundError, OSError):
        # empty spatial cell — no partition written (works for remote
        # URIs too, where an isdir probe would not)
        return None
    src = np.asarray(t.column("src"), dtype=np.int64)
    order = np.argsort(src, kind="stable")
    ids = src[order]
    # Arrow-native conversions: the list columns come out as one
    # contiguous values buffer + offsets (a to_pylist here costs ~1s
    # per 15k-row shard at dim 64 — measured as the dominant term of
    # the first 1M qpart probe)
    vcol = t.column("v").combine_chunks()
    vecs = np.asarray(vcol.values, dtype=np.float64) \
        .reshape(len(vcol), -1)[order]
    ncol = t.column("nbrs").combine_chunks()
    noff = ncol.offsets.to_numpy().astype(np.int64)
    nvals = np.asarray(ncol.values, dtype=np.int64)
    is_entry = np.asarray(t.column("is_entry"), dtype=np.int64)[order]
    # global vec_id -> local index via searchsorted on the sorted ids
    loc = np.searchsorted(ids, nvals)
    bad = (loc >= len(ids)) | (ids[np.minimum(loc, len(ids) - 1)]
                               != nvals)
    if bad.any():
        raise ValueError(
            f"shard {shard_id} graph references vec_id "
            f"{int(nvals[np.flatnonzero(bad)[0]])} missing from its "
            "own partition — was persist_search_work given a "
            "consistent work table?")
    adj = [loc[noff[int(o)]:noff[int(o) + 1]] for o in order]
    eps = np.flatnonzero(is_entry)
    ep = int(eps[0]) if len(eps) else 0
    out = (ids, adj, vecs, ep)
    if fp is not None:
        _shard_work_cache_put(key, out)
    return out


def search_sharded_query_partitioned(
        work_path: str, query_vecs: DataFrame, codebook: np.ndarray,
        nprobe: int, min_pq: int, max_pq: int, budget: int,
        adaptive: bool = True, set_id: str = "set_id",
        vec_id: str = "vec_id", vec_col: str = "vec",
        cell_to_shards: dict[int, tuple] | None = None,
        use_worker_cache: bool = True) -> DataFrame:
    """Routed sharded search with the query side a DataFrame
    END-TO-END — the batch-scale variant of ``search_sharded``.

    ``search_sharded`` mirrors the reference's serving shape (query
    fbin memory-resident: collect + broadcast — right when queries ≪
    base) but its driver hop caps the query side at driver memory. Here
    nothing transits the driver:

      route:   an Arrow-batched pandas UDF computes each set's
               ``nprobe`` best cells with the SAME stable argmax-dot
               rule as ``route_query_sets`` (the codebook — a few KB —
               ships in the task closure), expands balanced sub-shards
               via ``cell_to_shards``, and explodes to
               (shard, set) rows.
      search:  the routed query rows — and ONLY them — shuffle, on the
               bijective shard layout (one shard per task, no
               hash-collision stragglers); each shard task loads ITS
               sub-index from the ``persist_search_work`` parquet
               (partition-pruned Arrow-native read, no corpus reshuffle
               per batch) and runs the same wave-vectorized
               multi-vector beam search.
      merge:   the identical global partial+final top-k.

    Output is row-for-row equal to ``search_sharded(routes=
    route_query_sets(...))`` at the same parameters (pinned by
    tests/test_sharded.py): routing rule, per-shard kernel, and merge
    order are all shared or bit-mirrored.

    At 100 TB: queries scale to any count (they only ever shuffle once,
    hashed by shard), the index is read column-pruned from shard
    partitions, and un-routed shards cost zero I/O.
    """
    if nprobe < 1:
        raise ValueError(
            f"search_sharded_query_partitioned: nprobe must be >= 1, "
            f"got {nprobe}")
    # fail loudly on a bad/empty work table NOW: a wrong path would
    # otherwise make every shard task read nothing and the search
    # silently return zero rows. Local paths are checked directly;
    # remote URIs (hdfs://, s3://) defer to the per-task reader, which
    # raises rather than skips on anything but a missing partition.
    import os
    if "://" not in work_path and not (
            os.path.isdir(work_path)
            and any(e.startswith("shard=")
                    for e in os.listdir(work_path))):
        raise ValueError(
            f"search_sharded_query_partitioned: {work_path!r} has no "
            "shard=N partitions — pass a directory written by "
            "persist_search_work")
    C = np.ascontiguousarray(codebook, dtype=np.float64)
    n_cells = C.shape[0]
    n_probe = min(int(nprobe), n_cells)
    cts = (None if cell_to_shards is None else
           {int(c): tuple(int(s) for s in ss)
            for c, ss in cell_to_shards.items()})

    @F.pandas_udf(ArrayType(IntegerType()))
    def _routed_shards(flat: pd.Series, m: pd.Series) -> pd.Series:
        # one GEMM for the whole Arrow batch: the sets arrive as flat
        # member-major vectors, so the stack is a single reshape-free
        # vstack and the per-set reduce is maximum.reduceat
        counts = m.to_numpy(dtype=np.int64)
        if len(counts) == 0 or counts.sum() == 0:
            return pd.Series([[] for _ in flat])
        dim = C.shape[1]
        allv = np.concatenate([np.asarray(f, dtype=np.float64)
                               for f in flat]).reshape(-1, dim)
        dots = allv @ C.T                          # (total_members, k)
        starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
        affinity = np.maximum.reduceat(dots, starts, axis=0)
        # stable per-set top-nprobe (same rule as route_query_sets)
        top = _stable_top_cells(affinity, n_probe)
        if cts is None:
            out = [[int(s) for s in row] for row in top]
        else:
            out = [sorted({int(s) for c in row for s in cts[int(c)]})
                   for row in top]
        return pd.Series(out)

    # one flat array<double> per set (member-major, members ordered by
    # vec_id) — ONE Arrow conversion per set on the task side instead
    # of one per member, and a flatter shuffle row
    grouped = (query_vecs
               .groupBy(F.col(set_id).alias("qsid"))
               .agg(F.sort_array(F.collect_list(F.struct(
                   F.col(vec_id).alias("o"), F.col(vec_col).alias("v"))))
                   .alias("rows"))
               .select("qsid", F.flatten(F.col("rows.v")).alias("flat"),
                       F.size(F.col("rows")).alias("m")))
    routed = grouped.withColumn(
        "shard", F.explode(_routed_shards(F.col("flat"), F.col("m"))))

    def run_shard(shard_id: int, sel: list):
        loaded = _load_shard_work(work_path, shard_id,
                                  use_cache=use_worker_cache)
        if loaded is None:                       # empty spatial cell
            return None
        ids, adj, vecs, ep = loaded
        all_res = core.batch_multivector_search(
            adj, vecs, [qmat for _, qmat in sel], ep,
            min_pq, max_pq, budget, adaptive)
        return _cand_frame([qsid for qsid, _ in sel], all_res, ids)

    def search(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one shard per partition (bijective layout below); stream and
        # group defensively anyway — the pattern every sharded stage
        # here uses
        cur, sel = None, []
        for pdf in it:
            for shard, qsid, flat, m in zip(pdf["shard"], pdf["qsid"],
                                            pdf["flat"], pdf["m"]):
                if cur is not None and shard != cur:
                    out = run_shard(int(cur), sel)
                    if out is not None:
                        yield out
                    sel = []
                cur = shard
                sel.append((int(qsid),
                            np.asarray(flat, dtype=np.float64)
                            .reshape(int(m), -1)))
        if sel:
            out = run_shard(int(cur), sel)
            if out is not None:
                yield out

    from .partitioning import repartition_by_shard

    n_shards = (len(C) if cts is None else
                1 + max(s for ss in cts.values() for s in ss))
    partials = (repartition_by_shard(routed, n_shards, "shard")
                .sortWithinPartitions("shard", "qsid")
                .mapInPandas(search, schema=_CAND_SCHEMA))
    return grouped_topk(
        partials, ["query_set_id", "member_pos"],
        [F.col("dist").asc(), F.col("base_vec_id").asc()], max_pq
    ).drop("rank")


# --------------------------------------------------------------------
# spatial sharding + query routing (the large-shard-count scale path)
# --------------------------------------------------------------------


def spatial_shards(base: DataFrame, codebook: np.ndarray,
                   id_col: str = "vec_id",
                   vec_col: str = "vec") -> DataFrame:
    """``base`` + an int ``shard`` column = nearest codebook cell.

    One map-only pass (``simsearch.assign_cells`` with the vector
    column retained) — no join, no broadcast of anything but the tiny
    codebook, so the assignment costs the same at 10^9 rows as at
    10^4. Feed the result to ``build_sharded(shard_col="shard")`` /
    ``prepare_search_work(shard_col="shard")`` and route searches with
    ``route_query_sets``: spatial sub-indexes are the fix for the
    uniform-fan-out budget dilution measured at 640 hash shards
    (SCALE_PROBE 10M section). Shard sizes follow the data's cluster
    structure; when that skew matters (per-shard build work is
    quadratic in population), ``spatial_shards_balanced`` splits
    oversized cells into sub-shards with cell-level routing preserved.
    """
    from .simsearch import assign_cells

    out = assign_cells(base, codebook, id_col=id_col, vec_col=vec_col,
                       keep_vec=True)
    return out.withColumn("shard", F.col("cell").cast("int")).drop("cell")


def spatial_shards_balanced(base: DataFrame, codebook: np.ndarray,
                            max_pop: int,
                            id_col: str = "vec_id",
                            vec_col: str = "vec"
                            ) -> tuple[DataFrame, dict[int, tuple], int]:
    """Spatial shards with over-populated cells SPLIT into sub-shards:
    (base + ``shard`` column, cell -> its shard ids, total shard count).

    Plain ``spatial_shards`` inherits the data's cluster-size skew, and
    per-shard build work is quadratic in shard population — the 10M
    probe's residual critical path was the largest codebook cell at
    ~2x the mean (ANN_PROTOCOL 10M section). Here a cell with
    population p becomes ceil(p / max_pop) sub-shards (members split
    by a deterministic id hash), bounding every build task at
    ~max_pop^2 work while routing stays cell-level: pass the returned
    mapping to ``route_query_sets(cell_to_shards=...)`` so a query
    routed to a cell probes ALL its sub-shards — recall is unchanged
    relative to the unsplit cell, only the work parallelizes.

    Cost over ``spatial_shards``: one count-per-cell aggregation
    (n_cells rows to the driver) — corpus scans stay map-only.
    """
    from .simsearch import assign_cells

    if max_pop < 1:
        raise ValueError(f"spatial_shards_balanced: max_pop must be "
                         f">= 1, got {max_pop}")
    assigned = assign_cells(base, codebook, id_col=id_col,
                            vec_col=vec_col, keep_vec=True)
    counts = {int(r["cell"]): int(r["n"]) for r in
              assigned.groupBy("cell").agg(F.count("*").alias("n"))
              .collect()}
    n_cells = codebook.shape[0]
    cell_to_shards: dict[int, tuple] = {}
    offsets = np.zeros(n_cells, dtype=np.int64)
    splits = np.ones(n_cells, dtype=np.int64)
    total = 0
    for c in range(n_cells):
        k = max(1, -(-counts.get(c, 0) // max_pop))
        offsets[c], splits[c] = total, k
        cell_to_shards[c] = tuple(range(total, total + k))
        total += k
    off_arr = F.array(*[F.lit(int(x)) for x in offsets])
    spl_arr = F.array(*[F.lit(int(x)) for x in splits])
    cell1 = F.col("cell").cast("int") + 1
    shard = (F.element_at(off_arr, cell1)
             + F.pmod(F.hash(F.col(id_col).cast("long")),
                      F.element_at(spl_arr, cell1)))
    out = assigned.withColumn("shard", shard.cast("int")).drop("cell")
    return out, cell_to_shards, total


def route_query_sets(query_vecs: DataFrame, codebook: np.ndarray,
                     nprobe: int, set_id: str = "set_id",
                     vec_col: str = "vec",
                     cell_to_shards: dict[int, tuple] | None = None
                     ) -> dict[int, frozenset]:
    """query_set_id -> its ``nprobe`` most promising spatial shards.

    A set's affinity to a shard is the max member-vector dot against
    the shard's codebook centroid — the same argmax-dot rule the
    vectors were assigned with, so a query identical to a stored vector
    always routes to that vector's shard. Driver-side NumPy on the
    (small) query side only: |Q| x k dots, the IVF probe rule lifted to
    vector sets.

    ``cell_to_shards`` (from ``spatial_shards_balanced``) expands each
    routed CELL to all its sub-shards: nprobe keeps meaning "cells
    probed" and recall is unaffected by the balancing split.
    """
    if nprobe < 1:
        # nprobe=0 would yield empty frozensets that search_sharded's
        # missing-key check happily accepts — and then silently return
        # zero rows; negative values slice [:n] to nearly-all shards,
        # silently defeating pruning (mirrors ivfpq_search's guard)
        raise ValueError(f"route_query_sets: nprobe must be >= 1, got "
                         f"{nprobe}")
    q_pdf = (query_vecs.groupBy(F.col(set_id).alias("qsid"))
             .agg(F.collect_list(vec_col).alias("mats"))
             .toPandas())
    C = np.ascontiguousarray(codebook, dtype=np.float64)
    nprobe = min(nprobe, codebook.shape[0])
    routes: dict[int, frozenset] = {}
    if not len(q_pdf):
        return routes
    # one GEMM over every member vector of every set, reduced per set
    # (identical math to the per-set loop; matters at 10k+ sets)
    counts = np.array([len(m) for m in q_pdf["mats"]], dtype=np.int64)
    flat = np.vstack([np.asarray(v, dtype=np.float64)
                      for m in q_pdf["mats"] for v in m])
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    affinity = np.maximum.reduceat(flat @ C.T, starts, axis=0)
    tops = _stable_top_cells(affinity, nprobe)
    for qsid, top in zip(q_pdf["qsid"], tops):
        if cell_to_shards is None:
            routes[int(qsid)] = frozenset(int(s) for s in top)
        else:
            routes[int(qsid)] = frozenset(
                int(s) for c in top for s in cell_to_shards[int(c)])
    return routes

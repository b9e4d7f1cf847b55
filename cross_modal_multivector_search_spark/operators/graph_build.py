"""RoarGraph construction, re-expressed as functional Spark passes.

Reference pipeline: `BuildRoarGraph`
(`/root/reference/src/index_bipartite.cpp:145-235`) = normalize ->
`CalculateProjectionep` (`:2006-2043`) -> `LinkProjection` (`:1045-1279`):

  pass 1   per training query: truncate its base-kNN list to M_sq, take
           the nearest base as the projection target, occlusion-prune the
           rest into that target's neighbor list (`:1061-1099`);
  reverse  add src into each chosen neighbor's list (`:1393-1434`), then
           re-prune any node whose degree exceeds M_pjbp (`:1109-1138`);
  pass 3   per base node: beam search from the entry point over the
           supply-graph snapshot, occlusion-prune the expanded pool into
           supply neighbors (`:1185-1222`), add+cap reverse supply edges
           (`:1354-1391`, cap 2*M_pjbp), and merge up to 2*M_pjbp novel
           supply edges into the projection graph (`:1253-1271`).

Spark reformulation (SURVEY §7 Phase 3): every pass is a *functional*
explode -> groupBy -> prune-UDF rebuild over a broadcast snapshot — no
shared mutable graph, no locks. The C++ version reads neighbor lists
mutated by concurrent threads; any fixed snapshot ordering is an equally
valid instance of the algorithm (quality is judged by search recall, not
graph equality).

Scale notes (100 TB): the per-pass shape is groupBy(node) + Arrow UDF,
which shards freely; the *snapshot broadcast* (graph + vectors) bounds a
single index at executor memory (a few GB = tens of millions of vectors).
Within that bound, ``build_roargraph_dist`` runs every pass
task-parallel (the SURVEY §7 Phase-3 sketch realized; bit-identical to
the one-task pipeline). Above it, shard the base table and build one
sub-index per shard (`build_sharded` pattern, SURVEY §7 Phase 5) —
searches fan out per shard and merge on (query, dist), the classic
partial/final top-k.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, LongType, StructField, StructType)

from . import _roar_core as core
from .brute_force import knn_exact_gemm

_GRAPH_SCHEMA = StructType([
    StructField("src", LongType()),
    StructField("nbrs", ArrayType(LongType())),
])


@dataclass
class RoarGraphParams:
    """Build knobs; defaults are the repo's experiment configuration
    (`/root/reference/scripts/roargraph/build_roargraph_index.sh:26-28`)."""
    m_sq: int = 100      # kNN kept per training query
    m_pjbp: int = 35     # projection-graph degree bound
    l_pjpq: int = 100    # pass-3 beam width


class _RecordedSource:
    """Mixin for index handles whose ``vecs`` came from
    ``_collect_matrix``: their ``source`` field holds the ``(id, vec)``
    projection that was collected, so ``graph_search.search_and_rerank``
    can prove that the handle holds a data frame's rows. The DataFrame
    is driver-only: pickling (the index broadcast) drops it, so the
    payload is the same with or without it."""

    def __getstate__(self):
        return {**self.__dict__, "source": None}


@dataclass
class RoarGraphIndex(_RecordedSource):
    """In-memory index handle: contiguous-index adjacency + vectors."""
    ids: np.ndarray            # index -> original vec_id
    vecs: np.ndarray           # (n, d) float64 rows of the base, id order
    adj: list                  # index -> np.ndarray of neighbor indexes
    entry_point: int           # index (not vec_id)
    source: DataFrame | None = field(default=None, repr=False,
                                     compare=False)

    def to_dataframe(self, spark: SparkSession) -> DataFrame:
        rows = [(int(self.ids[i]),
                 [int(self.ids[j]) for j in self.adj[i]])
                for i in range(len(self.ids))]
        return spark.createDataFrame(rows, schema=_GRAPH_SCHEMA)


class _NodeLocalArray:
    """Handle to a NumPy array shipped once per MACHINE (``sc.addFile``)
    and mapped read-only by every Python worker
    (``np.load(mmap_mode='r')``): the OS page cache shares ONE physical
    copy across all workers on a node, where a Spark broadcast is
    unpickled into a PRIVATE copy per worker process.

    This is the pass-3 snapshot fix named in SCALE_PROBE.md: at 10M
    nodes the float64 vectors + padded adjacency are ~6 GB, and 32
    local Python workers x 6 GB private copies exceed box memory;
    mapped, the snapshot costs ~6 GB total regardless of worker count.
    On a multi-node cluster ``addFile`` ships the file once per node —
    the same one-copy-per-machine contract. Values are bit-identical to
    the broadcast path (same float64 bytes, gathers copy only the rows
    a task touches), so the dist-vs-one-task bit-equality pins hold for
    either snapshot mode."""

    def __init__(self, name: str):
        self.name = name

    def load(self) -> np.ndarray:
        from pyspark import SparkFiles
        return np.load(SparkFiles.get(self.name), mmap_mode="r")


def _ship_array(sc, arr: np.ndarray, tag: str, tmp_dirs: list,
                pad_zero_row: bool = False) -> _NodeLocalArray:
    """Write ``arr`` as .npy and register it node-local via addFile.
    The source file must outlive the job on a real cluster (executors
    fetch lazily from the driver's file server), so the tempdir is
    recorded in ``tmp_dirs`` and removed by the caller after the last
    pass consumed it."""
    d = tempfile.mkdtemp(prefix="roar_snap_")
    tmp_dirs.append(d)
    fname = f"{tag}_{uuid.uuid4().hex}.npy"
    path = os.path.join(d, fname)
    if arr.ndim == 2:
        # stream through a write memmap: no second in-RAM copy of a
        # multi-GB matrix. ``pad_zero_row`` appends one all-zero row —
        # the (n+1, d) extended matrix the wave kernel gathers padding
        # from — without materializing a vstack copy in RAM.
        rows = arr.shape[0] + (1 if pad_zero_row else 0)
        mm = np.lib.format.open_memmap(path, mode="w+", dtype=arr.dtype,
                                       shape=(rows, arr.shape[1]))
        mm[:arr.shape[0]] = arr
        if pad_zero_row:
            mm[arr.shape[0]:] = 0
        mm.flush()
        del mm
    else:
        np.save(path, arr)
    sc.addFile(path)
    return _NodeLocalArray(fname)


def _collect_matrix(base: DataFrame, id_col: str, vec_col: str):
    # Arrow fetch, not collect(): no per-row Row objects. (The
    # single-index path is bounded by one machine's memory by design —
    # the index must fit wherever it is searched; the sharded path is
    # the beyond-memory shape.)
    #
    # Columnar fast path (r15): toArrow() + flat-values reshape. The
    # former toPandas() + np.vstack materialized one ndarray OBJECT per
    # row and concatenated 10M of them — the dominant cost of the
    # measured 860-925s 10M load_graph walls (SCALE_PROBE.md r15). The
    # list column's flat value buffer reshapes in one copy when every
    # row has the same length (always true for vector columns); ragged
    # or null-bearing input falls back to the per-row path.
    sel = base.select(id_col, vec_col).orderBy(id_col)
    try:
        tbl = sel.toArrow()
    except Exception:  # noqa: BLE001 — e.g. non-Arrow-capable plan
        tbl = None
    if tbl is not None:
        ids = tbl[id_col].to_numpy().astype(np.int64)
        col = tbl[vec_col].combine_chunks()
        if col.null_count == 0:
            lens = np.diff(col.offsets.to_numpy().astype(np.int64))
            if len(lens) and (lens == lens[0]).all() and lens[0] > 0:
                # flatten() respects the list offsets, so the value
                # buffer is exactly row-major (n, d)
                mat = col.flatten().to_numpy().astype(
                    np.float64).reshape(len(ids), int(lens[0]))
                return ids, mat
        pdf = tbl.to_pandas()
    else:
        pdf = sel.toPandas()
    ids = pdf[id_col].to_numpy(dtype=np.int64)
    mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
    return ids, mat


def _pipeline_build_arrays(vecs: np.ndarray, nn_locals: list,
                           params: RoarGraphParams) -> tuple[list, int]:
    """The full LinkProjection pass pipeline (module docstring) over
    local contiguous indexes, pure NumPy — runs inside ONE Spark task so
    neither the vector matrix nor any pass state ever transits the
    driver. ``nn_locals``: one array per training query, local base
    indexes nearest-first (pass 1's kNN lists).

    This is bit-identical to the former driver-orchestrated pass chain
    in its single-partition regime (pinned by the ANN oracle constants):
    same pool-set construction, same np.unique candidate normalization,
    same supply reverse edges + 2*M_pjbp cap + novel-edge merge.

    NOTE — deliberate divergence from ``sharded._build_one_shard``:
    this pipeline is the reference's full three-pass LinkProjection
    (reverse merge + re-prune between passes), while the shard variant
    is the simplified single-sweep build (pass 1 + one enhancement
    sweep with a bounded reverse append). The two serve different
    regimes (one big broadcastable index vs many small sub-indexes)
    and are each pinned by their own oracle rows; a connectivity or
    pruning fix must be considered for BOTH.
    """
    n = len(vecs)
    m_deg = params.m_pjbp
    if n == 0:
        return [], 0

    # ---- pass 1: per training query -> occlusion-pruned target lists
    # Array-backed pool grouping (r9): the former dict-of-set pools
    # cost ~64 B per candidate id in interpreter overhead and OOM-killed
    # a 100k-node one-task build; packed (tgt, member) keys + np.unique
    # hold the same multiset in ~8 B/id. Candidate ORDER within a pool
    # becomes sorted-ascending (was: set iteration order), which only
    # matters under exact distance ties inside occlusion_prune's stable
    # argsort — the pinned ANN oracle rows verify the graphs unchanged.
    pair_t, pair_m = [], []
    for nn in nn_locals:
        if nn is None or len(nn) < 2:
            continue
        pair_t.append(np.full(len(nn) - 1, int(nn[0]), dtype=np.int64))
        pair_m.append(np.asarray(nn[1:], dtype=np.int64))

    def _grouped_unique(tgts: np.ndarray, mems: np.ndarray):
        """Yield (tgt, unique members ascending) per distinct tgt."""
        key = tgts * np.int64(n) + mems
        ukey = np.unique(key)
        ut, um = ukey // n, ukey % n
        bounds = np.flatnonzero(np.diff(ut)) + 1
        for lo, hi in zip(np.concatenate(([0], bounds)),
                          np.concatenate((bounds, [len(ut)]))):
            yield int(ut[lo]), um[lo:hi]

    fwd: dict[int, list] = {}
    if pair_t:
        for tgt, pool in _grouped_unique(np.concatenate(pair_t),
                                         np.concatenate(pair_m)):
            cand = pool[pool != tgt]
            if len(cand) == 0:
                continue
            dists = -(vecs[cand] @ vecs[tgt])
            fwd[tgt] = core.occlusion_prune(cand, dists, vecs, m_deg,
                                            exclude=tgt)

    # ---- reverse edges + degree-overflow re-prune (same array form)
    rev_s, rev_d = [], []
    for src, nbrs in fwd.items():
        a = np.asarray(nbrs, dtype=np.int64)
        rev_s.append(np.full(len(a), src, dtype=np.int64))
        rev_d.append(a)
        rev_s.append(a)                       # reverse direction
        rev_d.append(np.full(len(a), src, dtype=np.int64))
    adj = [np.empty(0, dtype=np.int64)] * n
    if rev_s:
        for src, cands in _grouped_unique(np.concatenate(rev_s),
                                          np.concatenate(rev_d)):
            cand = cands[cands != src]
            if len(cand) <= m_deg:
                adj[src] = cand
            else:
                dists = -(vecs[cand] @ vecs[src])
                adj[src] = np.asarray(
                    core.occlusion_prune(cand, dists, vecs, m_deg,
                                         exclude=src),
                    dtype=np.int64)

    # ---- entry point: centroid -> nearest base (CalculateProjectionep)
    centroid = vecs.mean(axis=0)
    ep = int(np.argmin(((vecs - centroid) ** 2).sum(axis=1)))

    # ---- pass 3: connectivity enhancement over the pass-2 snapshot
    traces = core.batch_supply_search_collect(
        adj, vecs, np.arange(n, dtype=np.int64), ep, params.l_pjpq)
    supply: dict[int, list] = {}
    for node in range(n):
        ret_ids, ret_dists = traces[node]
        keep = ret_ids != node
        ret_ids, ret_dists = ret_ids[keep], ret_dists[keep]
        if len(ret_ids) == 0:
            continue
        pruned = core.occlusion_prune(
            ret_ids, ret_dists, vecs, m_deg, exclude=node, backfill=False,
            seed_skip=set(int(x) for x in adj[node]))
        if pruned:
            supply[node] = pruned

    cap2 = 2 * m_deg
    s_sets: dict[int, set] = {}
    for src, nbrs in supply.items():
        s_sets.setdefault(src, set()).update(nbrs)
        for d in nbrs:
            s_sets.setdefault(d, set()).add(src)
    supply_map: dict[int, list] = {}
    for src, cands in s_sets.items():
        cand = np.unique(np.fromiter(cands, dtype=np.int64))
        cand = cand[cand != src]
        if len(cand) > cap2:
            dists = -(vecs[cand] @ vecs[src])
            cand = np.asarray(
                core.occlusion_prune(cand, dists, vecs, cap2, exclude=src),
                dtype=np.int64)
        supply_map[src] = [int(x) for x in cand]

    # ---- merge <= 2*M_pjbp novel supply edges into the projection graph
    final_adj = []
    for node in range(n):
        base_nbrs = [int(x) for x in adj[node]]
        have = set(base_nbrs)
        added = 0
        for s in supply_map.get(node, []):
            if added >= cap2:
                break
            if s not in have:
                base_nbrs.append(s)
                have.add(s)
                added += 1
        final_adj.append(np.asarray(base_nbrs, dtype=np.int64))
    return final_adj, ep


def build_roargraph_df(base: DataFrame, train_queries: DataFrame,
                       params: RoarGraphParams = RoarGraphParams(),
                       id_col: str = "vec_id", vec_col: str = "vec",
                       train_knn: DataFrame | None = None) -> DataFrame:
    """Task-side single-index build: (src, nbrs, is_entry) adjacency.

    The kNN stage runs distributed (blocked GEMM); the pass pipeline
    runs inside ONE Spark task fed by a union of the base vectors and
    the per-query kNN lists — the driver never materializes the vector
    matrix or any pass state, only the plan. Peak driver memory for a
    build is therefore O(1); callers that want the broadcastable
    in-memory handle pay O(adjacency + vectors) at assembly time
    (``build_roargraph``), which is the handle's own size, not the
    build's. A single index must fit one task's memory by construction
    (it is searched from one memory); beyond that, ``build_sharded``.
    """
    spark = base.sparkSession
    if train_knn is None:
        train_knn = knn_exact_gemm(
            train_queries.select(F.col(id_col).alias("query_id"), vec_col),
            base.select(F.col(id_col).alias("base_id"), vec_col),
            params.m_sq, metric="ip")
    knn_lists = (
        train_knn.groupBy("query_id")
        .agg(F.sort_array(F.collect_list(F.struct("rank", "base_id")))
             .alias("l"))
        .select(F.col("l.base_id").alias("nn_base"))
    )
    vec_t = base.schema[vec_col].dataType.simpleString()
    payload = (
        base.select(F.lit(0).alias("_kind"),
                    F.col(id_col).cast("long").alias("_id"),
                    F.col(vec_col).alias("_vec"),
                    F.lit(None).cast("array<long>").alias("_nn"))
        .unionByName(knn_lists.select(
            F.lit(1).alias("_kind"),
            # -1 sentinel, NOT null: a nullable long column converts to
            # float64 in Arrow->pandas, silently rounding ids > 2^53
            F.lit(-1).cast("long").alias("_id"),
            F.lit(None).cast(vec_t).alias("_vec"),
            F.col("nn_base").alias("_nn")))
        .repartition(1))

    schema = StructType(_GRAPH_SCHEMA.fields + [
        StructField("is_entry", LongType())])

    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_l, vec_l, nn_l = [], [], []
        for pdf in it:
            kind = pdf["_kind"].to_numpy()
            ids_l.append(pdf["_id"].to_numpy()[kind == 0])
            vec_l.extend(pdf["_vec"][kind == 0])
            nn_l.extend(pdf["_nn"][kind == 1])
        ids = np.concatenate(ids_l).astype(np.int64) if ids_l \
            else np.empty(0, dtype=np.int64)
        if len(ids) == 0:
            return
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        vecs = np.vstack([np.asarray(v, dtype=np.float64)
                          for v in vec_l])[order]
        ix = {int(v): i for i, v in enumerate(ids)}
        nn_locals = [np.array([ix[int(x)] for x in nn], dtype=np.int64)
                     for nn in nn_l if nn is not None and len(nn)]
        adj, ep = _pipeline_build_arrays(vecs, nn_locals, params)
        yield pd.DataFrame({
            "src": ids,
            "nbrs": [[int(ids[j]) for j in adj[i]]
                     for i in range(len(ids))],
            "is_entry": [1 if i == ep else 0 for i in range(len(ids))],
        })

    return payload.mapInPandas(build, schema=schema)


def build_roargraph(base: DataFrame, train_queries: DataFrame,
                    params: RoarGraphParams = RoarGraphParams(),
                    id_col: str = "vec_id", vec_col: str = "vec",
                    train_knn: DataFrame | None = None) -> RoarGraphIndex:
    """Build the projected bipartite graph over ``base`` guided by
    ``train_queries`` (both (id, vec) DataFrames, rows pre-normalized),
    returning the broadcastable in-memory handle.

    ``train_knn`` (query_id, rank, base_id) can be supplied (e.g. loaded
    from a previous exact-kNN materialization); otherwise it is computed
    here with the blocked-GEMM exact kNN — in Spark the offline oracle
    the reference reads from disk becomes a first-class stage
    (SURVEY §3.2 note).

    The build itself runs task-side (``build_roargraph_df``); this
    wrapper only assembles the handle, whose O(vectors + adjacency)
    driver footprint is the handle's own broadcast payload — callers
    that persist straight to parquet can use ``build_roargraph_df`` and
    never materialize either.
    """
    rows = build_roargraph_df(base, train_queries, params,
                              id_col, vec_col, train_knn).toPandas()
    ids, vecs = _collect_matrix(base, id_col, vec_col)
    ix = {int(v): i for i, v in enumerate(ids)}
    adj = [np.empty(0, dtype=np.int64)] * len(ids)
    ep = 0
    for src, nbrs, is_ep in zip(rows["src"].to_numpy(),
                                rows["nbrs"].to_numpy(),
                                rows["is_entry"].to_numpy()):
        i = ix[int(src)]
        adj[i] = np.array([ix[int(x)] for x in nbrs], dtype=np.int64)
        if is_ep:
            ep = i
    return RoarGraphIndex(ids=ids, vecs=vecs, adj=adj, entry_point=ep,
                          source=base.select(id_col, vec_col))


_MMAP_SNAPSHOT_BYTES = 512 * 1024 * 1024


def build_roargraph_dist(base: DataFrame, train_queries: DataFrame,
                         params: RoarGraphParams = RoarGraphParams(),
                         id_col: str = "vec_id", vec_col: str = "vec",
                         train_knn: DataFrame | None = None,
                         n_batches: int = 64,
                         snapshot: str = "auto") -> RoarGraphIndex:
    """Task-parallel single-index build — the Spark answer to the
    reference's 64-OpenMP-thread LinkProjection
    (`src/index_bipartite.cpp:1061,1194`, driver flag `-T 64`), which
    the one-task ``build_roargraph_df`` pipeline serializes.

    Every LinkProjection pass becomes a distributed stage over ONE
    broadcast of the vector matrix (and, for pass 3, the pass-2
    adjacency snapshot, padded once on the driver):

      pass 1   explode train-kNN lists -> (target, member) pairs ->
               groupBy(target) + occlusion-prune UDF;
      pass 2   explode forward edges both directions -> groupBy(node)
               + degree-cap prune UDF;
      pass 3   spark.range(n) node batches -> wave-vectorized beam
               search over the broadcast snapshot + per-node prune;
      pass 3b  explode supply edges both directions -> groupBy(node)
               + 2*M_pjbp cap prune UDF.

    Output is BIT-IDENTICAL to ``build_roargraph`` (pinned by
    tests/test_graph_build_dist.py): each pass's per-node candidate
    pool is the same sorted-unique set the one-task ``_grouped_unique``
    produces (collect_set + ascending sort over the monotone
    original-id -> local-index map), distances are the same float64
    GEMVs, pass 3 runs the same kernel over the same padded snapshot
    and entry point, and the final merge reuses the one-task code
    shape verbatim on the driver.

    Memory shape: the DRIVER holds O(index) — vectors + adjacency —
    exactly like the in-memory handle it returns (a single index must
    fit one memory because it is searched from one memory); each
    EXECUTOR holds the snapshot plus one batch of pass state.
    ``snapshot`` picks how the snapshot reaches workers:

      "broadcast" — Spark broadcast; every Python worker unpickles a
          PRIVATE copy (fast at small n, 32 workers x ~6 GB at 10M);
      "mmap"      — node-local .npy via ``sc.addFile`` +
          ``np.load(mmap_mode='r')``: ONE page-cache copy per machine
          shared by all workers (the 10M single-index enabler —
          SCALE_PROBE.md pass-3 wall), bit-identical output;
      "auto"      — mmap when vectors + ids exceed 512 MB.

    CPU, the one-task bottleneck (SCALE_PROBE: 186.7 s @ 100k
    nodes, all in one core), spreads across all cores/executors.
    """
    spark = base.sparkSession
    sc = spark.sparkContext
    m_deg = params.m_pjbp
    cap2 = 2 * m_deg

    ids, vecs = _collect_matrix(base, id_col, vec_col)
    n = len(ids)
    if n == 0:
        return RoarGraphIndex(ids=ids, vecs=vecs, adj=[], entry_point=0)
    if snapshot not in ("auto", "broadcast", "mmap"):
        raise ValueError(f"unknown snapshot mode {snapshot!r}")
    snap_bytes = (n + 1) * vecs.shape[1] * vecs.dtype.itemsize + ids.nbytes
    use_mmap = snapshot == "mmap" or (snapshot == "auto"
                                      and snap_bytes > _MMAP_SNAPSHOT_BYTES)
    tmp_dirs: list = []
    # float64 either way: callers may feed float64-normalized vectors,
    # so no float32 round-trip (a float32-sourced matrix would survive
    # one, but bit-equality with the one-task build must hold for any
    # input dtype)
    if use_mmap:
        ids_h = _ship_array(sc, ids, "roar_ids", tmp_dirs)
        vext_h = _ship_array(sc, vecs, "roar_vecs_ext", tmp_dirs,
                             pad_zero_row=True)

        def get_ids():
            return ids_h.load()

        def get_vecs():
            return vext_h.load()[:-1]          # view, no copy

        def get_vecs_ext():
            return vext_h.load()
    else:
        bc = sc.broadcast((ids, vecs))

        def get_ids():
            return bc.value[0]

        def get_vecs():
            return bc.value[1]

        def get_vecs_ext():
            return None                        # per-task vstack

    if train_knn is None:
        train_knn = knn_exact_gemm(
            train_queries.select(F.col(id_col).alias("query_id"), vec_col),
            base.select(F.col(id_col).alias("base_id"), vec_col),
            params.m_sq, metric="ip")

    prune_schema = StructType([
        StructField("src", LongType()),
        StructField("nbrs", ArrayType(LongType())),
    ])

    def prune_pools(cap: int):
        """groupBy(collect_set) rows -> occlusion-pruned (src, nbrs):
        the shared shape of passes 1, 2, and 3b. Keeps a <=cap pool
        as-is only when ``keep_small`` (passes 2/3b); pass 1 always
        prunes. All ids local; pools sorted ascending (the
        ``_grouped_unique`` order)."""

        def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            v64 = get_vecs()
            for pdf in it:
                srcs, outs = [], []
                for src, cands in zip(pdf["src"].to_numpy(),
                                      pdf["cands"].to_numpy()):
                    src = int(src)
                    cand = np.unique(np.asarray(cands, dtype=np.int64))
                    cand = cand[cand != src]
                    if len(cand) == 0:
                        continue
                    if cap < 0 or len(cand) > abs(cap):
                        dists = -(v64[cand] @ v64[src])
                        nbrs = core.occlusion_prune(
                            cand, dists, v64, abs(cap), exclude=src)
                        out = [int(x) for x in nbrs]
                    else:
                        out = [int(x) for x in cand]
                    srcs.append(src)
                    outs.append(out)
                yield pd.DataFrame({"src": srcs, "nbrs": outs})

        return fn

    # ---- pass 1: one prune per training-query target --------------
    knn_lists = (
        train_knn.groupBy("query_id")
        .agg(F.sort_array(F.collect_list(F.struct("rank", "base_id")))
             .alias("l"))
        .select(F.col("l.base_id").alias("nn_base"))
        .filter(F.size("nn_base") >= 2))

    def to_local_pairs(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_b = get_ids()
        for pdf in it:
            t, m = [], []
            for nn in pdf["nn_base"]:
                nn = np.asarray(nn, dtype=np.int64)
                loc = np.searchsorted(ids_b, nn)
                # membership gate: a stale/foreign train_knn whose
                # base_id is absent from `base` would otherwise resolve
                # to a wrong (or out-of-range) local index and silently
                # corrupt the graph — the one-task path's dict lookup
                # raises KeyError; fail the same way here
                if (loc >= len(ids_b)).any() or (ids_b[loc.clip(
                        max=len(ids_b) - 1)] != nn).any():
                    missing = nn[(loc >= len(ids_b)) | (ids_b[loc.clip(
                        max=len(ids_b) - 1)] != nn)]
                    raise KeyError(
                        f"train_knn base_ids not in base: "
                        f"{missing[:5].tolist()}")
                t.append(np.full(len(loc) - 1, loc[0], dtype=np.int64))
                m.append(loc[1:])
            if t:
                yield pd.DataFrame({"src": np.concatenate(t),
                                    "member": np.concatenate(m)})

    pair_schema = StructType([StructField("src", LongType()),
                              StructField("member", LongType())])
    # cached: e1 references fwd twice (forward + reverse legs), and an
    # uncached fwd would re-run the whole kNN GEMM + pass-1 DAG per leg
    fwd = (knn_lists.mapInPandas(to_local_pairs, schema=pair_schema)
           .groupBy("src").agg(F.collect_set("member").alias("cands"))
           .mapInPandas(prune_pools(-m_deg), schema=prune_schema)
           .cache())

    # ---- pass 2: reverse edges + degree-cap re-prune ---------------
    e1 = fwd.select("src", F.explode("nbrs").alias("dst"))
    adj_df = (e1.unionByName(e1.select(F.col("dst").alias("src"),
                                       F.col("src").alias("dst")))
              .groupBy("src").agg(F.collect_set("dst").alias("cands"))
              .mapInPandas(prune_pools(m_deg), schema=prune_schema))

    pdf2 = adj_df.toPandas()
    adj = [np.empty(0, dtype=np.int64)] * n
    for src, nbrs in zip(pdf2["src"].to_numpy(), pdf2["nbrs"].to_numpy()):
        adj[int(src)] = np.asarray(nbrs, dtype=np.int64)

    # ---- entry point (bit-equal to the one-task np.mean/argmin) ----
    centroid = vecs.mean(axis=0)
    ep = int(np.argmin(((vecs - centroid) ** 2).sum(axis=1)))

    # ---- pass 3: batched beam searches over the shared snapshot ----
    pad_arr = core.pad_adjacency(adj, n)
    if use_mmap:
        pad_h = _ship_array(sc, pad_arr, "roar_pad", tmp_dirs)

        def get_pad():
            return pad_h.load()
    else:
        bc_pad = sc.broadcast(pad_arr)

        def get_pad():
            return bc_pad.value
    del pad_arr
    l_pjpq = params.l_pjpq

    def pass3(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        v64 = get_vecs()
        pad = get_pad()
        nn = len(v64)
        for pdf in it:
            nodes = pdf["id"].to_numpy(dtype=np.int64)
            if len(nodes) == 0:
                continue
            traces = core.batch_supply_search_collect(
                pad, v64, nodes, ep, l_pjpq, vecs_ext=get_vecs_ext())
            srcs, outs = [], []
            for node, (ret_ids, ret_dists) in zip(nodes, traces):
                node = int(node)
                keep = ret_ids != node
                ret_ids, ret_dists = ret_ids[keep], ret_dists[keep]
                if len(ret_ids) == 0:
                    continue
                row = pad[node]
                seed_skip = set(int(x) for x in row[row < nn])
                pruned = core.occlusion_prune(
                    ret_ids, ret_dists, v64, m_deg, exclude=node,
                    backfill=False, seed_skip=seed_skip)
                if pruned:
                    srcs.append(node)
                    outs.append([int(x) for x in pruned])
            yield pd.DataFrame({"src": srcs, "nbrs": outs})

    # cached for the same two-leg reason as fwd (pass 3 is the most
    # expensive stage — one beam search per node)
    supply = spark.range(n).repartition(n_batches) \
        .mapInPandas(pass3, schema=prune_schema).cache()

    # ---- pass 3b: reverse supply edges + 2*M_pjbp cap ---------------
    e3 = supply.select("src", F.explode("nbrs").alias("dst"))
    supply_map_df = (
        e3.unionByName(e3.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst")))
        .groupBy("src").agg(F.collect_set("dst").alias("cands"))
        .mapInPandas(prune_pools(cap2), schema=prune_schema))
    pdf3 = supply_map_df.toPandas()
    supply_map = {int(s): [int(x) for x in nb]
                  for s, nb in zip(pdf3["src"].to_numpy(),
                                   pdf3["nbrs"].to_numpy())}

    # ---- merge (the one-task code shape, driver-side, no numpy) ----
    final_adj = []
    for node in range(n):
        base_nbrs = [int(x) for x in adj[node]]
        have = set(base_nbrs)
        added = 0
        for s in supply_map.get(node, []):
            if added >= cap2:
                break
            if s not in have:
                base_nbrs.append(s)
                have.add(s)
                added += 1
        final_adj.append(np.asarray(base_nbrs, dtype=np.int64))
    fwd.unpersist()
    supply.unpersist()
    if use_mmap:
        # the addFile COPIES under SparkFiles root live until context
        # stop (Spark owns them); the source files are consumed by now
        for d in tmp_dirs:
            shutil.rmtree(d, ignore_errors=True)
    else:
        bc.destroy()
        bc_pad.destroy()
    return RoarGraphIndex(ids=ids, vecs=vecs, adj=final_adj,
                          entry_point=ep,
                          source=base.select(id_col, vec_col))


def save_graph(index: RoarGraphIndex, spark: SparkSession,
               path: str) -> None:
    """Parquet adjacency + a one-row metadata table (entry point).

    Mirrors `SaveProjectionGraph`
    (`/root/reference/src/index_bipartite.cpp:3095-3108`): adjacency +
    entry point id; Parquet replaces the packed binary format.

    The adjacency is written with pyarrow straight from the handle's
    flat arrays (offsets + concatenated neighbor ids): the former
    ``to_dataframe`` route built 10M python Row tuples through
    ``createDataFrame`` — minutes of driver loop for a 10M index —
    where the columnar assembly is three vectorized ops. Spark reads
    the single-file parquet exactly like its own directory output.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    lens = np.fromiter((len(a) for a in index.adj), dtype=np.int64,
                       count=len(index.adj))
    offsets = np.zeros(len(lens) + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    flat = (np.concatenate([np.asarray(a, dtype=np.int64)
                            for a in index.adj if len(a)])
            if lens.sum() else np.empty(0, dtype=np.int64))
    table = pa.table({
        "src": pa.array(index.ids),
        "nbrs": pa.ListArray.from_arrays(pa.array(offsets),
                                         pa.array(index.ids[flat])),
    })
    os.makedirs(path, exist_ok=True)
    if os.path.isdir(f"{path}/adjacency.parquet"):
        shutil.rmtree(f"{path}/adjacency.parquet")  # pre-r12 Spark dir
    pq.write_table(table, f"{path}/adjacency.parquet")
    spark.createDataFrame(
        [(int(index.ids[index.entry_point]), len(index.ids))],
        "entry_point long, n_nodes long"
    ).write.mode("overwrite").parquet(f"{path}/meta.parquet")


def _to_local(ids_sorted: np.ndarray, vals: np.ndarray,
              what: str) -> np.ndarray:
    """original vec_id -> local contiguous index over the SORTED id
    vector, failing loudly on foreign ids (the load-time id-contract
    gate: arbitrary parquet must not silently alias wrong nodes)."""
    loc = np.searchsorted(ids_sorted, vals)
    bad = (loc >= len(ids_sorted)) | (
        ids_sorted[loc.clip(max=len(ids_sorted) - 1)] != vals)
    if bad.any():
        raise KeyError(f"{what} ids not in base: "
                       f"{vals[bad][:5].tolist()}")
    return loc


def load_graph(spark: SparkSession, path: str,
               base: DataFrame, id_col: str = "vec_id",
               vec_col: str = "vec") -> RoarGraphIndex:
    """Columnar load: offsets + flat neighbor ids straight from the
    parquet list column (no per-row python), vec_id -> local index by
    searchsorted over the sorted id vector. A 10M adjacency loads in
    seconds where the former per-row dict loop took minutes."""
    import pyarrow.parquet as pq

    ids, vecs = _collect_matrix(base, id_col, vec_col)
    tbl = pq.read_table(f"{path}/adjacency.parquet")
    srcs = tbl["src"].to_numpy().astype(np.int64)
    nbrs_col = tbl["nbrs"].combine_chunks()
    offsets = nbrs_col.offsets.to_numpy().astype(np.int64)
    flat = nbrs_col.flatten().to_numpy().astype(np.int64)

    src_loc = _to_local(ids, srcs, "adjacency src")
    flat_loc = _to_local(ids, flat, "adjacency neighbor")

    adj = [np.empty(0, dtype=np.int64)] * len(ids)
    lens = np.diff(offsets)
    # duplicate-in-row detection, vectorized: in-repo builds never
    # duplicate, but arbitrary parquet may — those rows (only) are
    # normalized to first-occurrence order, matching the search
    # kernels' unique-row assumption (sequential dup check vs the
    # wave kernels' read-before-write visited bitmap).
    row_of = np.repeat(np.arange(len(srcs), dtype=np.int64), lens)
    order = np.lexsort((flat_loc, row_of))
    so_row, so_val = row_of[order], flat_loc[order]
    dup_rows = np.unique(
        so_row[1:][(so_row[1:] == so_row[:-1])
                   & (so_val[1:] == so_val[:-1])])
    dup_set = set(int(x) for x in dup_rows)
    for i in range(len(srcs)):
        seg = flat_loc[offsets[i]:offsets[i + 1]]
        if i in dup_set:
            seg = np.fromiter(dict.fromkeys(int(x) for x in seg),
                              dtype=np.int64)
        adj[src_loc[i]] = seg
    meta = spark.read.parquet(f"{path}/meta.parquet").collect()[0]
    ep = int(_to_local(ids, np.asarray([meta["entry_point"]],
                                       dtype=np.int64), "entry point")[0])
    return RoarGraphIndex(ids=ids, vecs=vecs, adj=adj, entry_point=ep,
                          source=base.select(id_col, vec_col))

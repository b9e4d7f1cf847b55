"""HNSW baseline index — the reference's comparison system, re-expressed
Spark-first.

The reference benchmarks RoarGraph against an hnswlib index built with
`M=35, ef_construction=500` (`scripts/hnsw/build_hnsw_index.sh:27-28`)
and searched per member vector with `ef = total_budget / m`
(`tests/hnsw/search_rerank_hnsw.cpp:134-151`), feeding the same
smooth-Chamfer reranker. This module reproduces those semantics:

- **Build** (`build_hnsw_df` / `build_hnsw`): the standard HNSW insert
  loop (Malkov & Yashunin, TPAMI 2020; hnswlib's heuristic neighbor
  selection) in pure NumPy inside ONE Spark task fed by a DataFrame of
  vectors — O(1) driver memory, same shape as
  `graph_build.build_roargraph_df`. Level assignment is deterministic
  (seeded RNG over insertion order), so builds are reproducible across
  runs and partitionings.
- **Search** (`multivector_search_hnsw`): queries stay a DataFrame;
  the index broadcasts; one Arrow batch of query sets at a time runs
  the NumPy layer descent + layer-0 beam search (reusing
  `_roar_core.BeamQueue` — hnswlib's searchKnn candidate list has the
  same bounded-sorted-set semantics). Candidates feed the SAME
  `operators/rerank.py` two-phase pipeline the RoarGraph path uses,
  exactly like the reference shares `MultiVectorReranker` between its
  RoarGraph and HNSW drivers.

Distance convention: negated inner product on pre-normalized vectors
(reference `InnerProductSpace` + normalize, `tests/hnsw/
search_rerank_hnsw.cpp:124-128`), matching `_roar_core`.

At saturating ef (>= n) the layer-0 beam expands every reachable node,
so on a connected graph the search is EXACTLY the brute-force top-k —
the same exact-equivalence oracle argument the `ann_multivector_search`
driver row uses (tests additionally pin full directed reachability).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, IntegerType, LongType,
                               StructField, StructType)

from . import _roar_core as core
from .graph_search import _CAND_SCHEMA, _cand_frame, _search_grouped
from .set_search import fetch_grouped_sets

_LEVEL_GRAPH_SCHEMA = StructType([
    StructField("level", IntegerType()),
    StructField("src", LongType()),
    StructField("nbrs", ArrayType(LongType())),
    StructField("is_entry", IntegerType()),
])


@dataclass
class HnswParams:
    """Build knobs. The reference experiment uses M=35,
    ef_construction=500 (`scripts/hnsw/build_hnsw_index.sh:27-28`);
    defaults here are the same scaled-down regime the driver-scale
    RoarGraph params use."""
    m: int = 12                # max out-degree per layer (level 0: 2*m)
    ef_construction: int = 60
    seed: int = 7


def _graph_rows(ids, levels, adj, entry: int, top: int) -> dict:
    """The ONE serializer of an in-memory graph to (level, src, nbrs,
    is_entry) row columns — to_dataframe, the single-index build task,
    and the sharded build task all emit through here so the row
    convention cannot drift between them."""
    rows = {"level": [], "src": [], "nbrs": [], "is_entry": []}
    for lvl in range(top + 1):
        for i in range(len(ids)):
            if levels[i] >= lvl:
                rows["level"].append(lvl)
                rows["src"].append(int(ids[i]))
                rows["nbrs"].append([int(ids[j]) for j in adj[lvl][i]])
                rows["is_entry"].append(
                    1 if (i == entry and lvl == top) else 0)
    return rows


def _assemble_adj(entries, ix: dict, n: int):
    """The ONE deserializer: (level, src, nbrs, is_entry) tuples ->
    (adj, levels, entry, max_level) over contiguous indexes — shared by
    the handle assembler and the sharded search task."""
    entries = list(entries)
    max_level = max((int(e[0]) for e in entries), default=0)
    adj = [[np.empty(0, dtype=np.int64) for _ in range(n)]
           for _ in range(max_level + 1)]
    levels = np.zeros(n, dtype=np.int64)
    entry = 0
    for lvl, src, nbrs, is_ep in entries:
        try:
            i = ix[int(src)]
            row = np.array([ix[int(x)] for x in nbrs], dtype=np.int64)
        except KeyError as e:
            raise ValueError(
                f"graph references vec_id {e} missing from the vector "
                "join — adjacency and vectors out of sync?") from e
        adj[int(lvl)][i] = row
        levels[i] = max(levels[i], int(lvl))
        if is_ep:
            entry = i
    return adj, levels, entry, max_level


@dataclass
class HnswIndex:
    """Broadcastable handle: per-level adjacency over contiguous
    indexes + the vector matrix."""
    ids: np.ndarray            # index -> original vec_id
    vecs: np.ndarray           # (n, d) normalized float64
    levels: np.ndarray         # index -> top level of the node
    adj: list                  # adj[level][index] -> np.ndarray of indexes
    entry_point: int           # index (not vec_id)
    max_level: int

    def to_dataframe(self, spark: SparkSession) -> DataFrame:
        rows = _graph_rows(self.ids, self.levels, self.adj,
                           self.entry_point, self.max_level)
        return spark.createDataFrame(
            list(zip(rows["level"], rows["src"], rows["nbrs"],
                     rows["is_entry"])), schema=_LEVEL_GRAPH_SCHEMA)


def _select_neighbors(cand_ids: np.ndarray, cand_dists: np.ndarray,
                      vecs: np.ndarray, m: int) -> np.ndarray:
    """hnswlib's `getNeighborsByHeuristic2`: scan candidates nearest-
    first; keep c unless some already-kept r has d(c, r) < d(c, target).
    No slack passes, no backfill (those are RoarGraph variants — see
    `_roar_core.occlusion_prune`)."""
    order = np.argsort(cand_dists, kind="stable")
    ids = np.asarray(cand_ids, dtype=np.int64)[order]
    dists = np.asarray(cand_dists)[order]
    if len(ids) <= 1:
        return ids[:m]
    # pool sizes are <= ef_construction, so ONE pairwise GEMM up front
    # beats a per-kept GEMV inside the scan
    pair = -(vecs[ids] @ vecs[ids].T)
    kept: list[int] = []
    for j in range(len(ids)):
        if kept and pair[j, kept].min() < dists[j]:
            continue
        kept.append(j)
        if len(kept) >= m:
            break
    return ids[kept]


def _greedy_descend(adj_l: list, vecs: np.ndarray, q: np.ndarray,
                    ep: int) -> int:
    """Single-entry greedy walk at one layer (`searchKnn`'s upper-layer
    loop): hop to the closest neighbor while it improves."""
    cur = ep
    cur_d = float(-(vecs[cur] @ q))
    improved = True
    while improved:
        improved = False
        nbrs = adj_l[cur]
        if len(nbrs) == 0:
            break
        d = -(vecs[nbrs] @ q)
        j = int(np.argmin(d))
        if d[j] < cur_d:
            cur, cur_d = int(nbrs[j]), float(d[j])
            improved = True
    return cur


def _search_layer(adj_l: list, vecs: np.ndarray, q: np.ndarray,
                  ep: int, ef: int):
    """Beam search restricted to one layer (algorithm 2 of the paper);
    layer-0 search and construction both use it. Returns (ids, dists)
    ascending.

    Flat-array variant of `_roar_core.BeamQueue`: the visited bitmap
    already guarantees each node enters the beam at most once, so the
    queue's per-candidate dup-checked insert reduces to one batched
    merge + stable argsort per expansion (one GEMV + one ~(ef+degree)
    sort instead of `degree` sequential O(ef) inserts) — ~4x faster
    construction, same expand-closest-unexpanded-first semantics
    (membership = the ef smallest so far; ties resolved by stable
    sort order rather than insert order, deterministic either way)."""
    ids = np.array([ep], dtype=np.int64)
    dists = np.atleast_1d(np.asarray(-(vecs[ep] @ q), dtype=np.float64))
    expanded = np.zeros(1, dtype=bool)
    visited = np.zeros(len(vecs), dtype=bool)
    visited[ep] = True
    while not expanded.all():
        cur = int(np.argmax(~expanded))      # closest unexpanded
        expanded[cur] = True
        nbrs = adj_l[ids[cur]]
        if len(nbrs) == 0:
            continue
        fresh = nbrs[~visited[nbrs]]
        if len(fresh) == 0:
            continue
        visited[fresh] = True
        ids = np.concatenate([ids, fresh])
        dists = np.concatenate([dists, -(vecs[fresh] @ q)])
        expanded = np.concatenate(
            [expanded, np.zeros(len(fresh), dtype=bool)])
        order = np.argsort(dists, kind="stable")
        if len(order) > ef:
            order = order[:ef]
        ids, dists, expanded = ids[order], dists[order], expanded[order]
    return ids, dists


def _hnsw_insert_pipeline(vecs: np.ndarray, params: HnswParams,
                          levels: np.ndarray | None = None):
    """Sequential HNSW construction over a local matrix (runs inside
    one Spark task). Returns (levels, adj-per-level, entry, max_level).

    Deterministic: node i's level is floor(-ln(u_i) * 1/ln(M)) with u_i
    drawn once from a seeded generator — same index for the same input
    order regardless of cluster layout. ``levels`` overrides the draw
    (the wave build inserts its first wave serially with the GLOBAL
    level assignment so prefix and wave nodes share one draw)."""
    n = len(vecs)
    m, efc = params.m, params.ef_construction
    ml = 1.0 / math.log(m)
    if levels is None:
        u = np.random.default_rng(params.seed).random(n)
        levels = np.minimum(
            (-np.log(np.clip(u, 1e-300, None)) * ml).astype(np.int64),
            31)
    max_level_cap = int(levels.max()) if n else 0
    adj: list[list[np.ndarray]] = [
        [np.empty(0, dtype=np.int64) for _ in range(n)]
        for _ in range(max_level_cap + 1)]
    entry, top = 0, int(levels[0]) if n else 0
    for i in range(1, n):
        q = vecs[i]
        lvl = int(levels[i])
        ep = entry
        for lc in range(top, lvl, -1):
            ep = _greedy_descend(adj[lc], vecs, q, ep)
        for lc in range(min(top, lvl), -1, -1):
            cids, cdists = _search_layer(adj[lc], vecs, q, ep, efc)
            sel = _select_neighbors(cids, cdists, vecs, m)
            adj[lc][i] = sel
            cap = 2 * m if lc == 0 else m
            for s in sel:
                cur = adj[lc][s]
                cur = np.append(cur, i)
                if len(cur) > cap:
                    d = -(vecs[cur] @ vecs[s])
                    cur = _select_neighbors(cur, d, vecs, cap)
                adj[lc][s] = cur
            ep = int(sel[0]) if len(sel) else ep
        if lvl > top:
            entry, top = i, lvl
    return levels, adj[:top + 1], entry, top


def build_hnsw_df(base: DataFrame, params: HnswParams = HnswParams(),
                  id_col: str = "vec_id",
                  vec_col: str = "vec") -> DataFrame:
    """Task-side build: (level, src, nbrs, is_entry) rows. The driver
    only holds the plan; vectors and graph state live in one task
    (`graph_build.build_roargraph_df` rationale — a single index must
    fit one memory because it is searched from one memory)."""
    payload = base.select(F.col(id_col).cast("long").alias("_id"),
                          F.col(vec_col).alias("_vec")).repartition(1)
    bc_params = (params.m, params.ef_construction, params.seed)

    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_l, vec_l = [], []
        for pdf in it:
            ids_l.append(pdf["_id"].to_numpy())
            vec_l.extend(pdf["_vec"])
        if not ids_l:
            return
        ids = np.concatenate(ids_l).astype(np.int64)
        if len(ids) == 0:
            return
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        vecs = np.vstack([np.asarray(v, dtype=np.float64)
                          for v in vec_l])[order]
        p = HnswParams(*bc_params)
        levels, adj, entry, top = _hnsw_insert_pipeline(vecs, p)
        yield pd.DataFrame(_graph_rows(ids, levels, adj, entry, top))

    return payload.mapInPandas(build, schema=_LEVEL_GRAPH_SCHEMA)


def _assemble(rows: pd.DataFrame, ids: np.ndarray,
              vecs: np.ndarray) -> HnswIndex:
    ix = {int(v): i for i, v in enumerate(ids)}
    adj, levels, entry, max_level = _assemble_adj(
        zip(rows["level"].to_numpy(), rows["src"].to_numpy(),
            rows["nbrs"].to_numpy(), rows["is_entry"].to_numpy()),
        ix, len(ids))
    return HnswIndex(ids=ids, vecs=vecs, levels=levels, adj=adj,
                     entry_point=entry, max_level=max_level)


def build_hnsw(base: DataFrame, params: HnswParams = HnswParams(),
               id_col: str = "vec_id", vec_col: str = "vec") -> HnswIndex:
    """Build and assemble the broadcastable in-memory handle."""
    from .graph_build import _collect_matrix
    rows = build_hnsw_df(base, params, id_col, vec_col).toPandas()
    ids, vecs = _collect_matrix(base, id_col, vec_col)
    return _assemble(rows, ids, vecs)


def save_hnsw(index: HnswIndex, spark: SparkSession, path: str) -> None:
    """Parquet per-level adjacency (the moral equivalent of hnswlib's
    `saveIndex` binary blob, `tests/hnsw/build_hnsw.cpp`)."""
    index.to_dataframe(spark).write.mode("overwrite") \
        .parquet(f"{path}/adjacency.parquet")


def load_hnsw(spark: SparkSession, path: str, base: DataFrame,
              id_col: str = "vec_id", vec_col: str = "vec") -> HnswIndex:
    from .graph_build import _collect_matrix
    rows = spark.read.parquet(f"{path}/adjacency.parquet").toPandas()
    ids, vecs = _collect_matrix(base, id_col, vec_col)
    return _assemble(rows, ids, vecs)


def search_knn_local(index: HnswIndex, q: np.ndarray, ef: int, k: int):
    """One `searchKnn(query, k)` with ef = max(ef, k): greedy descent
    through the upper layers, beam at layer 0. Returns (local indexes,
    dists) ascending; callers map through ``index.ids``."""
    ep = index.entry_point
    for lc in range(index.max_level, 0, -1):
        ep = _greedy_descend(index.adj[lc], index.vecs, q, ep)
    ids, dists = _search_layer(index.adj[0], index.vecs, q, ep,
                               max(ef, k))
    return ids[:k], dists[:k]


def _fixed_split_search(index: HnswIndex, sets: list, budget: int) -> list:
    """Per query set, per member: `searchKnn(q_j, budget / m)`. Returns
    per set its per-member (local ids, dists)."""
    out = []
    for q in sets:
        ef = max(1, budget // len(q))
        out.append([search_knn_local(index, row, ef, ef) for row in q])
    return out


def multivector_search_hnsw(index: HnswIndex, query_vecs: DataFrame,
                            budget: int, set_id: str = "set_id",
                            vec_id: str = "vec_id",
                            vec_col: str = "vec") -> DataFrame:
    """The reference HNSW driver loop (`tests/hnsw/
    search_rerank_hnsw.cpp:143-151`): per member vector j of each query
    set, `searchKnn(q_j, budget / m)` — a FIXED per-member split of the
    beam budget (this is precisely what RoarGraph's adaptive allocation
    improves on). Runs through the same grouped search path as
    `graph_search.multivector_search` (balanced grouping, index
    broadcast once per session, same candidate schema), so the same
    rerank applies."""
    return _search_grouped(
        index, query_vecs,
        lambda idx, sets, _budgets: _fixed_split_search(idx, sets, budget),
        set_id, vec_id, vec_col)


def search_and_rerank_hnsw(index: HnswIndex, query_vecs: DataFrame,
                           data_vecs: DataFrame, k: int, budget: int,
                           m: int | None = None,
                           metric: str = "smooth_chamfer",
                           q_sets: list | None = None) -> DataFrame:
    """Two-phase HNSW baseline: fixed-split member searches -> set-level
    rerank — the complete `search_rerank_hnsw.cpp` pipeline.
    ``q_sets``: optional pre-fetched rerank query matrices
    (see ``rerank.rerank``)."""
    from . import rerank
    cands = multivector_search_hnsw(index, query_vecs, budget)
    return rerank.rerank(cands.select("query_set_id", "base_vec_id"),
                         query_vecs, data_vecs, k, m=m, metric=metric,
                         q_sets=q_sets)


# ---------------------------------------------------------------------------
# Wave-parallel SINGLE-index HNSW (r14, VERDICT r13 directive #3): the
# serial insert loop is the 10M wall (~7-10h extrapolated from the
# measured 1M 2555s), so the single-index scale path inserts nodes in
# geometrically growing WAVES — every node of a wave runs its insert
# SEARCHES against the frozen pre-wave graph as one distributed stage
# (mapInPandas over a node-local snapshot, the same layout as the
# RoarGraph/NSG build passes), then edges commit deterministically in
# id order and overflowing reverse targets re-prune (distributed for
# large waves). This is a LABELED build shape, not serial-equal:
# same-wave nodes are invisible to each other's searches (hnswlib's
# own lock-based parallel insert is likewise not serial-equal — its
# graph depends on thread arrival; this one is deterministic), the
# entry point updates between waves rather than between inserts, and
# reverse-edge pruning batches per wave. Level assignment, neighbor
# heuristic, and caps are byte-identical to the serial pipeline, and
# the probe protocol validates the shape by recall parity against the
# serial build at the same budgets.
# ---------------------------------------------------------------------------

_WAVE_SEARCH_SCHEMA = StructType([
    StructField("node", LongType()),
    StructField("level", IntegerType()),
    StructField("nbrs", ArrayType(LongType())),
])

_WAVE_PRUNE_SCHEMA = StructType([
    StructField("level", IntegerType()),
    StructField("target", LongType()),
    StructField("nbrs", ArrayType(LongType())),
])


_EMPTY_ROW = np.empty(0, dtype=np.int64)


class _PadView:
    """Adjacency accessor over a sentinel-padded matrix restricted to
    the first ``n_ins`` inserted nodes — the read-only per-level view
    the frozen-snapshot searches traverse."""

    def __init__(self, pad: np.ndarray, n_ins: int):
        self.pad, self.n_ins = pad, n_ins

    def __getitem__(self, i):
        row = self.pad[i]
        return row[row < self.n_ins]


class _SparsePadView:
    """Row-compressed `_PadView` for the upper HNSW layers: only ~n/m^L
    nodes exist at layer L, so the snapshot stores (sorted node ids,
    their padded rows) instead of an n_ins-row dense matrix (which at
    10M would broadcast ~1 GB per layer per wave)."""

    def __init__(self, node_ids: np.ndarray, pad: np.ndarray,
                 n_ins: int):
        self.node_ids, self.pad, self.n_ins = node_ids, pad, n_ins

    def __getitem__(self, i):
        j = int(np.searchsorted(self.node_ids, i))
        if j >= len(self.node_ids) or self.node_ids[j] != i:
            return _EMPTY_ROW
        row = self.pad[j]
        return row[row < self.n_ins]


def build_hnsw_wave(base: DataFrame, params: HnswParams = HnswParams(),
                    id_col: str = "vec_id", vec_col: str = "vec",
                    wave0: int = 1024, growth: float = 2.0,
                    n_batches: int = 64) -> HnswIndex:
    """Wave-parallel single-index HNSW build (see block comment above).

    Deterministic: the wave schedule is a pure function of n, level
    draws reuse the serial pipeline's seeded RNG over id order, wave
    searches read a frozen snapshot, and commits/prunes apply in
    (id, level) order."""
    from .graph_build import (_collect_matrix, _NodeLocalArray,
                              _ship_array)
    spark = base.sparkSession
    sc = spark.sparkContext
    m, efc = params.m, params.ef_construction
    ids, vecs = _collect_matrix(base, id_col, vec_col)
    n = len(ids)
    if n == 0:
        return HnswIndex(ids=ids, vecs=vecs,
                         levels=np.zeros(0, dtype=np.int64), adj=[[]],
                         entry_point=0, max_level=0)
    ml = 1.0 / math.log(m)
    u = np.random.default_rng(params.seed).random(n)
    levels = np.minimum(
        (-np.log(np.clip(u, 1e-300, None)) * ml).astype(np.int64), 31)
    max_level_cap = int(levels.max())
    adj: list[list[np.ndarray]] = [
        [np.empty(0, dtype=np.int64) for _ in range(n)]
        for _ in range(max_level_cap + 1)]

    # the first wave inserts SERIALLY (driver-local, bounded at wave0
    # nodes): a wave searching a near-empty frozen graph would funnel
    # every forward edge into the same few targets, whose reverse caps
    # then evict most of the wave — the degenerate-pocket shape the
    # connectivity repair exists for. A serial prefix gives the first
    # real wave a graph with m-diverse targets.
    prefix = min(n, max(2, wave0))
    _, pre_adj, entry, top = _hnsw_insert_pipeline(
        vecs[:prefix], params, levels=levels[:prefix])
    for lc in range(top + 1):
        for i in range(prefix):
            adj[lc][i] = pre_adj[lc][i]

    tmp_dirs: list = []
    vecs_h = _ship_array(sc, vecs, "hnsw_wave_vecs", tmp_dirs)
    bc_static = sc.broadcast((m, efc))

    lo = prefix
    wave_no = 0
    try:
        while lo < n:
            size = max(1, int(wave0 * growth ** wave_no))
            hi = min(n, lo + size)
            wave_no += 1
            n_ins = lo
            wave_tmp: list = []
            # --- frozen snapshot of the inserted prefix ---------------
            # level 0: dense pad, node-local mmap (the big one);
            # levels >0: row-compressed (only ~n/m^L nodes exist there)
            rows0 = adj[0][:n_ins]
            dmax = max((len(r) for r in rows0), default=0)
            pad0 = np.full((n_ins, max(dmax, 1)), n, dtype=np.int64)
            for i, r in enumerate(rows0):
                pad0[i, :len(r)] = r
            pad0_h = _ship_array(sc, pad0, f"hnsw_wave_p{wave_no}",
                                 wave_tmp)
            del pad0
            sparse_hi = []
            for lc in range(1, top + 1):
                node_ids = np.nonzero(levels[:n_ins] >= lc)[0]
                rows = [adj[lc][i] for i in node_ids]
                dmax = max((len(r) for r in rows), default=0)
                pad = np.full((len(node_ids), max(dmax, 1)), n,
                              dtype=np.int64)
                for i, r in enumerate(rows):
                    pad[i, :len(r)] = r
                sparse_hi.append((node_ids, pad))
            bc_hi = sc.broadcast((sparse_hi, entry, top, n_ins))

            def search(it: Iterator[pd.DataFrame]) \
                    -> Iterator[pd.DataFrame]:
                m_l, efc_l = bc_static.value
                hi_l, ep0, top_l, n_ins_l = bc_hi.value
                v = vecs_h.load()
                views = [_PadView(pad0_h.load(), n_ins_l)] + [
                    _SparsePadView(nids, p, n_ins_l)
                    for nids, p in hi_l]
                for pdf in it:
                    out_n, out_l, out_s = [], [], []
                    for node, lvl in zip(pdf["node"].to_numpy(),
                                         pdf["lvl"].to_numpy()):
                        q = np.asarray(v[int(node)], dtype=np.float64)
                        ep = ep0
                        for lc in range(top_l, int(lvl), -1):
                            ep = _greedy_descend(views[lc], v, q, ep)
                        for lc in range(min(top_l, int(lvl)), -1, -1):
                            cids, cd = _search_layer(views[lc], v, q,
                                                     ep, efc_l)
                            sel = _select_neighbors(cids, cd, v, m_l)
                            out_n.append(int(node))
                            out_l.append(lc)
                            out_s.append([int(x) for x in sel])
                            ep = int(sel[0]) if len(sel) else ep
                    yield pd.DataFrame({"node": out_n, "level": out_l,
                                        "nbrs": out_s})

            wave_df = spark.createDataFrame(pd.DataFrame({
                "node": np.arange(lo, hi, dtype=np.int64),
                "lvl": levels[lo:hi].astype(np.int32),
            })).repartition(min(n_batches, max(1, (hi - lo) // 32)))
            rows = wave_df.mapInPandas(
                search, schema=_WAVE_SEARCH_SCHEMA).toPandas()
            bc_hi.destroy()

            # --- commit in (id, level) order --------------------------
            rows = rows.sort_values(["node", "level"],
                                    ascending=[True, False])
            appends: dict[tuple[int, int], list[int]] = {}
            for node, lc, sel in zip(rows["node"].to_numpy(),
                                     rows["level"].to_numpy(),
                                     rows["nbrs"].to_numpy()):
                sel_a = np.asarray(sel, dtype=np.int64)
                adj[int(lc)][int(node)] = sel_a
                for t in sel_a:
                    appends.setdefault((int(lc), int(t)),
                                       []).append(int(node))
            # reverse edges: concat in id order; overflow re-prunes
            overflow: list[tuple[int, int, np.ndarray]] = []
            for (lc, t), srcs in sorted(appends.items()):
                cap = 2 * m if lc == 0 else m
                cur = np.concatenate(
                    [adj[lc][t], np.asarray(srcs, dtype=np.int64)])
                if len(cur) > cap:
                    overflow.append((lc, t, cur))
                else:
                    adj[lc][t] = cur
            if len(overflow) > 20_000:
                # distribute the prune for large waves: one row per
                # overflowing target, vecs from the shipped snapshot
                ov_df = spark.createDataFrame(
                    pd.DataFrame({
                        "level": [lc for lc, _, _ in overflow],
                        "target": [t for _, t, _ in overflow],
                        "cand": [c.tolist() for _, _, c in overflow],
                    }))

                def prune(it: Iterator[pd.DataFrame]) \
                        -> Iterator[pd.DataFrame]:
                    m_l, _ = bc_static.value
                    v = vecs_h.load()
                    for pdf in it:
                        out = {"level": [], "target": [], "nbrs": []}
                        for lc, t, cand in zip(
                                pdf["level"].to_numpy(),
                                pdf["target"].to_numpy(),
                                pdf["cand"].to_numpy()):
                            cap = 2 * m_l if lc == 0 else m_l
                            cand = np.asarray(cand, dtype=np.int64)
                            d = -(v[cand] @ np.asarray(
                                v[int(t)], dtype=np.float64))
                            kept = _select_neighbors(cand, d, v, cap)
                            out["level"].append(int(lc))
                            out["target"].append(int(t))
                            out["nbrs"].append([int(x) for x in kept])
                        yield pd.DataFrame(out)

                pruned = ov_df.repartition(n_batches).mapInPandas(
                    prune, schema=_WAVE_PRUNE_SCHEMA).toPandas()
                for lc, t, nb in zip(pruned["level"].to_numpy(),
                                     pruned["target"].to_numpy(),
                                     pruned["nbrs"].to_numpy()):
                    adj[int(lc)][int(t)] = np.asarray(nb,
                                                      dtype=np.int64)
            else:
                for lc, t, cur in overflow:
                    cap = 2 * m if lc == 0 else m
                    d = -(vecs[cur] @ vecs[t])
                    adj[lc][t] = _select_neighbors(cur, d, vecs, cap)
            # entry-point update between waves (id order)
            for i in range(lo, hi):
                if levels[i] > top:
                    entry, top = int(i), int(levels[i])
            lo = hi
            # the wave's snapshot files were consumed by the completed
            # jobs — drop them so per-wave pads don't accumulate on disk
            import shutil
            for d in wave_tmp:
                shutil.rmtree(d, ignore_errors=True)
    finally:
        import shutil
        for d in tmp_dirs:
            shutil.rmtree(d, ignore_errors=True)
    _wave_repair_layer0(adj[0], vecs, entry)
    return HnswIndex(ids=ids, vecs=vecs, levels=levels,
                     adj=adj[:top + 1], entry_point=entry,
                     max_level=top)


def _wave_repair_layer0(adj0: list, vecs: np.ndarray,
                        entry: int) -> None:
    """Deterministic layer-0 connectivity repair for the wave build:
    reverse pruning can evict a wave node's only surviving in-edge
    (batched appends compete for the same target's cap where serial
    inserts claim slots one at a time), so unreachable nodes get ONE
    in-edge from their nearest reachable forward neighbor (fallback:
    nearest reachable node overall) — the same closure-repair shape as
    `nsg._tree_grow`, frontier-vectorized. Serial HNSW keeps this
    property implicitly; the wave shape restores it explicitly and the
    saturating-ef exactness test gates it."""
    n = len(adj0)
    if n == 0:
        return
    from . import _roar_core as core
    pad = core.pad_adjacency(adj0, n)
    reached = np.zeros(n + 1, dtype=bool)
    reached[n] = True

    def expand(seed: int) -> None:
        frontier = np.array([seed], dtype=np.int64)
        reached[frontier] = True
        while len(frontier):
            nxt = pad[frontier].ravel()
            nxt = np.unique(nxt[~reached[nxt]])
            reached[nxt] = True
            frontier = nxt

    expand(entry)
    while not reached[:n].all():
        node = int(np.argmin(reached[:n]))
        fwd = adj0[node]
        m_r = reached[fwd] if len(fwd) else np.zeros(0, dtype=bool)
        if m_r.any():
            root = int(fwd[m_r][0])        # nearest-first sel order
        else:
            cand = np.nonzero(reached[:n])[0]
            root = int(cand[np.argmax(vecs[cand] @ vecs[node])])
        adj0[root] = np.concatenate(
            [adj0[root], np.asarray([node], dtype=np.int64)])
        expand(node)


# ---------------------------------------------------------------------------
# Sharded HNSW — the 100 TB execution shape for the baseline index:
# hash-sharded sub-indexes built in parallel (one task per shard, the
# same repartition_by_shard + mapInPandas layout as sharded.build_sharded),
# fan-out fixed-split search, global per-member top-k merge. A single
# HNSW build is inherently sequential (every insert searches the graph
# so far); the distributed answer is many independent sub-indexes, which
# also matches how multi-billion-vector HNSW deployments actually shard.
# ---------------------------------------------------------------------------

_SHARD_LEVEL_GRAPH_SCHEMA = StructType([
    StructField("shard", IntegerType()),
    StructField("level", IntegerType()),
    StructField("src", LongType()),
    StructField("nbrs", ArrayType(LongType())),
    StructField("is_entry", IntegerType()),
])


def build_hnsw_sharded(base: DataFrame, n_shards: int,
                       params: HnswParams = HnswParams(),
                       id_col: str = "vec_id", vec_col: str = "vec",
                       shard_col: str | None = None) -> DataFrame:
    """(shard, level, src, nbrs, is_entry) adjacency for every shard.

    Hash(id) % n_shards by default (uniform, no skew); ``shard_col``
    accepts a precomputed assignment (e.g. ``sharded.spatial_shards``)
    for routable sub-indexes. One sequential insert pipeline per shard,
    S-way parallel, zero cross-shard traffic."""
    from .partitioning import repartition_by_shard
    from .sharded import _shard_expr
    bc_params = (params.m, params.ef_construction, params.seed)

    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur, ids_acc, vec_acc = None, [], []

        def emit(shard, ids_l, vecs_l):
            ids = np.array(ids_l, dtype=np.int64)
            vecs = np.vstack(vecs_l).astype(np.float64)
            p = HnswParams(*bc_params)
            levels, adj, entry, top = _hnsw_insert_pipeline(vecs, p)
            rows = _graph_rows(ids, levels, adj, entry, top)
            pdf = pd.DataFrame(rows)
            pdf.insert(0, "shard", np.full(len(pdf), int(shard),
                                           dtype=np.int32))
            return pdf

        for pdf in it:
            for shard, vid, vec in zip(pdf["shard"], pdf[id_col],
                                       pdf[vec_col]):
                if cur is not None and shard != cur:
                    yield emit(cur, ids_acc, vec_acc)
                    ids_acc, vec_acc = [], []
                cur = shard
                ids_acc.append(int(vid))
                vec_acc.append(np.asarray(vec, dtype=np.float64))
        if ids_acc:
            yield emit(cur, ids_acc, vec_acc)

    if shard_col is None:
        sharded_b = base.withColumn("shard", _shard_expr(id_col, n_shards))
    else:
        sharded_b = base.withColumn("shard", F.col(shard_col).cast("int"))
    return (repartition_by_shard(sharded_b, n_shards, "shard")
            .sortWithinPartitions("shard", id_col)
            .mapInPandas(build, schema=_SHARD_LEVEL_GRAPH_SCHEMA))


def prepare_hnsw_work(shard_graph: DataFrame, base: DataFrame,
                      n_shards: int, id_col: str = "vec_id",
                      vec_col: str = "vec",
                      shard_col: str | None = None,
                      query_blocks: int = 1) -> DataFrame:
    """Join the per-level shard adjacency to its vectors, grouped+sorted
    by shard — the search-ready layout (cache() for build-once /
    search-many). A node appearing on L levels repeats its vector L
    times; levels above 0 hold <1/m of the nodes, so the overhead is
    a few percent and the search task needs no second join.
    ``query_blocks``: sub-partitions per shard (see
    ``sharded.prepare_search_work`` — uncaps the search fan-out when
    shards < cores; block b searches sets with set_id % blocks == b)."""
    from .partitioning import repartition_by_shard
    from .sharded import _shard_expr
    if shard_col is not None:
        vecs_sharded = base.withColumn("shard",
                                       F.col(shard_col).cast("int"))
    else:
        vecs_sharded = base.withColumn("shard",
                                       _shard_expr(id_col, n_shards))
    joined = shard_graph.join(
        vecs_sharded.select("shard", F.col(id_col).alias("src"),
                            F.col(vec_col).alias("v")),
        ["shard", "src"])
    qb = max(1, int(query_blocks))
    if qb == 1:
        return repartition_by_shard(joined, n_shards, "shard") \
            .sortWithinPartitions("shard", "level", "src")
    expl = joined.withColumn(
        "_qblock",
        F.explode(F.array(*[F.lit(i) for i in range(qb)])))
    expl = expl.withColumn("_qblocks", F.lit(qb)).withColumn(
        "_spart", F.col("shard").cast("int") * qb + F.col("_qblock"))
    return (repartition_by_shard(expl, n_shards * qb, "_spart")
            .drop("_spart")
            .sortWithinPartitions("shard", "_qblock", "level", "src"))


def search_hnsw_sharded(work: DataFrame, query_vecs: DataFrame,
                        budget: int, set_id: str = "set_id",
                        vec_id: str = "vec_id",
                        vec_col: str = "vec") -> DataFrame:
    """Fan-out fixed-split search over the per-shard sub-indexes:
    every shard searches every member with ef = budget/m; the global
    merge keeps each member's best ef candidates across shards (the
    multi-index analog of `searchKnn` + result heap union). Candidates
    feed the same reranker."""
    spark = query_vecs.sparkSession
    q_sets = fetch_grouped_sets(query_vecs, set_id, vec_id, vec_col)
    bc_q = spark.sparkContext.broadcast((q_sets, budget))

    blocked = "_qblock" in work.columns

    def search(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_sets_l, budget_l = bc_q.value
        cur = None
        rows_acc: list[tuple] = []
        blk_state = [0, 1]          # (block, n_blocks) of rows_acc

        def run_shard():
            ids_order = []           # contiguous local ids, level-0 order
            ix: dict[int, int] = {}
            for lvl, src, nbrs, is_ep, v in rows_acc:
                if lvl == 0:
                    ix[int(src)] = len(ids_order)
                    ids_order.append((int(src), v))
            ids = np.array([s for s, _ in ids_order], dtype=np.int64)
            vecs = np.vstack([np.asarray(v, dtype=np.float64)
                              for _, v in ids_order])
            adj, levels, entry, max_level = _assemble_adj(
                ((lvl, src, nbrs, is_ep)
                 for lvl, src, nbrs, is_ep, _ in rows_acc),
                ix, len(ids))
            idx = HnswIndex(ids=ids, vecs=vecs, levels=levels, adj=adj,
                            entry_point=entry, max_level=max_level)
            blk, nblk = blk_state
            sel = [(qsid, qmat) for qsid, qmat in q_sets_l
                   if qsid % nblk == blk]
            return _cand_frame(
                [qsid for qsid, _ in sel],
                _fixed_split_search(idx, [qmat for _, qmat in sel],
                                    budget_l), ids)

        for pdf in it:
            qbs = pdf["_qblock"] if blocked else np.zeros(len(pdf),
                                                          dtype=np.int64)
            nqb = pdf["_qblocks"] if blocked else np.ones(len(pdf),
                                                          dtype=np.int64)
            for shard, qb, nb, lvl, src, nbrs, is_ep, v in zip(
                    pdf["shard"], qbs, nqb, pdf["level"], pdf["src"],
                    pdf["nbrs"], pdf["is_entry"], pdf["v"]):
                key = (int(shard), int(qb), int(nb))
                if cur is not None and key != cur:
                    out = run_shard()
                    if out is not None:
                        yield out
                    rows_acc = []
                cur = key
                blk_state[0], blk_state[1] = int(qb), int(nb)
                rows_acc.append((int(lvl), src, nbrs, is_ep, v))
        if rows_acc:
            out = run_shard()
            if out is not None:
                yield out

    partials = work.mapInPandas(search, schema=_CAND_SCHEMA)
    # per-SET merge cap: each member was searched with ef = budget //
    # |that set's members|, so the global merge must keep that many —
    # a single global k truncates smaller-cardinality sets (they search
    # DEEPER per member, not shallower)
    from pyspark.sql import Window
    k_map = query_vecs.sparkSession.createDataFrame(
        [(qsid, max(1, budget // max(1, len(m)))) for qsid, m in q_sets],
        "query_set_id long, __k int")
    w = Window.partitionBy("query_set_id", "member_pos").orderBy(
        F.col("dist").asc(), F.col("base_vec_id").asc())
    return (partials.join(F.broadcast(k_map), "query_set_id")
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= F.col("__k"))
            .drop("__rk", "__k"))

"""NSG (Navigating Spreading-out Graph) baseline — the reference's
third ANN engine (`/root/reference/thirdparty/nsg/src/index_nsg.cpp`,
build params `scripts/nsg/build_nsg_index.sh:26-35`: kNN graph K=400
L=400 iter=12 S=15 R=100; NSG L=60 R=70 C=500).

Spark-first reformulation, mirroring the functional pass shape of
`graph_build.build_roargraph_dist`:

  init     the kNN graph the reference builds with efanna NN-descent
           (an approximation of exact kNN) is a first-class DataFrame
           stage here — the distributed exact GEMM table (or the
           `simsearch.ivf_knn` bootstrap) at any scale;
  Link     per node: beam search over the kNN graph from the
           navigating node collecting every fresh-visited candidate
           with its distance (`get_neighbors` fullset,
           index_nsg.cpp:89-156), pool ∪= the node's own kNN list,
           then MRNG `sync_prune` (:246-296) — one `mapInPandas`
           stage over a broadcast snapshot;
  reverse  `InterInsert` (:298-366): reverse edges appended, pools
           over R re-pruned with the same rule — explode → groupBy →
           prune UDF (functional; the reference mutates shared pools
           under per-node mutexes, so its result is thread-order
           unstable — any fixed deterministic order is an equally
           valid instance, the same argument as the RoarGraph passes);
  tree     `tree_grow`/`findroot` (:700-760): BFS from the medoid,
           unreached nodes attached to their nearest reached pool
           node (the reference falls back to `rand()` when the search
           pool holds no reached node; here the deterministic exact
           nearest reached node is used).

Deterministic divergences from the C++ (documented, quality judged by
search recall per SURVEY §5): seeds for the Link beam search are the
navigating node only (the reference seeds ep's neighbor list padded
with `rand()` ids); the medoid is the exact centroid argmin
(`init_graph` approximates it with a graph search); distances are
negated inner products over unit-norm rows — rank- and
comparison-equivalent to the reference's L2 on normalized data
(d_l2 = 2 + 2*(-ip), affine with positive slope).

Search needs no NSG-specific kernel: the built index is a plain
(adjacency, vectors, entry point) handle, served by the same
`_roar_core` beam kernels and `graph_search.search_and_rerank` as
every other graph in the engine.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                               StructField, StructType)

from . import _roar_core as core
from .brute_force import knn_exact_gemm
from .graph_build import (_MMAP_SNAPSHOT_BYTES, RoarGraphIndex,
                          _collect_matrix, _NodeLocalArray, _ship_array)


@dataclass
class NsgParams:
    """Reference build configuration
    (`scripts/nsg/build_nsg_index.sh:33-35`)."""
    l_build: int = 60        # nsg_L: Link beam width
    r_degree: int = 70       # nsg_R: degree bound
    c_pool: int = 500        # nsg_C: prune pool scan cap
    knn_k: int = 100         # init kNN graph degree (knn_R)


def nsg_prune(cand_ids: np.ndarray, cand_dists: np.ndarray,
              vecs: np.ndarray, r_degree: int, c_pool: int,
              exclude: int) -> list[int]:
    """`sync_prune`'s MRNG edge selection (index_nsg.cpp:264-287):
    pool sorted by distance, first survivor kept unconditionally, then
    candidate p is occluded iff some chosen r has d(r, p) < d(q, p);
    scan capped at C, result at R. Candidates are deduplicated by id
    up front (distances are a function of the id, and the reference's
    `p.id == result[t].id` check can only ever occlude a duplicate)."""
    ids = np.asarray(cand_ids, dtype=np.int64)
    dists = np.asarray(cand_dists, dtype=np.float64)
    order = np.lexsort((ids, dists))
    ids, dists = ids[order], dists[order]
    keep = np.ones(len(ids), dtype=bool)
    keep[ids == exclude] = False
    uniq = np.unique(ids, return_index=True)[1]
    mask = np.zeros(len(ids), dtype=bool)
    mask[uniq] = True
    keep &= mask
    ids, dists = ids[keep][:c_pool], dists[keep][:c_pool]
    if len(ids) == 0:
        return []
    # one pairwise GEMM up front (pool is <= C=500 rows) plus an
    # incrementally-maintained occlusion mask: keeping candidate j
    # marks every i with d(j, i) < d(q, i) occluded in ONE vectorized
    # compare-or (pair is symmetric), so the scan itself is O(1) per
    # candidate. Same comparisons as the former per-kept GEMV loop —
    # that loop rebuilt the kept-vector matrix every iteration and
    # cost ~10 ms/node at the 10M Link stage's pool sizes (the r14
    # bottleneck); this form measures ~0.5 ms/node.
    pair = -(vecs[ids] @ vecs[ids].T)
    kept = [0]
    occl = pair[0] < dists
    for i in range(1, len(ids)):
        if len(kept) >= r_degree:
            break
        if occl[i]:
            continue
        kept.append(i)
        occl |= pair[i] < dists
    return [int(ids[i]) for i in kept]


_ADJ_SCHEMA = StructType([
    StructField("src", LongType()),
    StructField("nbrs", ArrayType(LongType())),
    StructField("dists", ArrayType(DoubleType())),
])


def _assemble_knn_pad(knn: DataFrame, ids_sorted: np.ndarray, n: int,
                      path: str) -> None:
    """Materialize the init kNN table as the padded (n, k) int64
    adjacency at ``path`` WITHOUT collecting n x k rows to the driver
    (the r12 NSG scale wall, VERDICT "what's wrong" #1): the grouping
    and rank-sort run distributed, land in a staged parquet, and the
    driver streams its record batches into a write-memmap — columnar
    Arrow list offsets straight to vectorized scatter, bounded driver
    memory at the batch size. Per-row semantics are exactly the former
    driver loop's: neighbors in (rank, base_id) order, global ids
    mapped to local via searchsorted, self dropped, sentinel n.

    Mirrors `_roar_core.pad_adjacency`'s input contract for
    user-supplied tables (the wave kernel requires first-occurrence-
    unique rows — a duplicated (query_id, base_id) would be inserted
    twice where the sequential queue's dup check admits it once):
    duplicate ids within a row are dropped keeping the first
    (rank, base_id) occurrence, and every id must be a member of
    ``ids_sorted`` — an unknown query_id or base_id fails loudly
    instead of silently aliasing the nearest sorted slot."""
    import pyarrow.dataset as pads

    spark = knn.sparkSession
    k_max = knn.agg(F.max("rank")).head()[0] or 1
    stage = tempfile.mkdtemp(prefix="nsg_knn_")
    pq_dir = os.path.join(stage, f"nn_{uuid.uuid4().hex}.parquet")
    try:
        (knn.groupBy("query_id")
         .agg(F.sort_array(F.collect_list(
              F.struct("rank", "base_id"))).alias("l"))
         .select("query_id", F.col("l.base_id").alias("nn"))
         .write.mode("overwrite").parquet(pq_dir))
        mm = np.lib.format.open_memmap(
            path, mode="w+", dtype=np.int64, shape=(n, int(k_max)))
        mm[:] = n
        for batch in pads.dataset(pq_dir).to_batches(
                columns=["query_id", "nn"], batch_size=65536):
            if batch.num_rows == 0:
                continue
            qid = batch.column("query_id").to_numpy()
            nn = batch.column("nn")
            # a sliced ListArray's offsets need not start at 0 and its
            # values buffer may be the (longer) parent's — re-base both
            offs = nn.offsets.to_numpy().astype(np.int64)
            flat = nn.values.to_numpy().astype(np.int64)[offs[0]:offs[-1]]
            offs = offs - offs[0]
            lens = np.diff(offs)
            src = np.searchsorted(ids_sorted, qid)
            nbr = np.searchsorted(ids_sorted, flat)
            if ((src >= n).any()
                    or (ids_sorted[np.minimum(src, n - 1)] != qid).any()):
                raise ValueError(
                    "knn table contains query_id values not present in "
                    "the base id vector")
            if ((nbr >= n).any()
                    or (ids_sorted[np.minimum(nbr, n - 1)] != flat).any()):
                raise ValueError(
                    "knn table contains base_id values not present in "
                    "the base id vector")
            rows = np.repeat(src, lens)
            idx = np.arange(len(flat))
            # first-occurrence dedup within each row: stable lexsort by
            # (row, nbr, original pos) flags every repeat of an id
            # after its first (rank, base_id) occurrence
            ordk = np.lexsort((idx, nbr, rows))
            dup_s = np.zeros(len(flat), dtype=bool)
            dup_s[1:] = ((rows[ordk][1:] == rows[ordk][:-1])
                         & (nbr[ordk][1:] == nbr[ordk][:-1]))
            dup = np.zeros(len(flat), dtype=bool)
            dup[ordk] = dup_s
            bad = ((nbr == rows) | dup).astype(np.int64)  # self + dups
            cb0 = np.concatenate([[0], np.cumsum(bad)])
            pos = idx - np.repeat(offs[:-1], lens)
            pos = pos - (cb0[idx] - cb0[np.repeat(offs[:-1], lens)])
            keep = bad == 0
            mm[rows[keep], pos[keep]] = nbr[keep]
        mm.flush()
        del mm
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def build_nsg(base: DataFrame, params: NsgParams = NsgParams(),
              id_col: str = "vec_id", vec_col: str = "vec",
              knn: DataFrame | None = None,
              n_batches: int = 64,
              snapshot: str = "auto") -> RoarGraphIndex:
    """Build an NSG over ``base`` (rows pre-normalized), returning the
    same broadcastable handle every engine graph uses.

    ``knn`` optionally supplies the init kNN table (query_id, rank,
    base_id) — e.g. a previous materialization or the
    `simsearch.ivf_knn` bootstrap; otherwise the distributed exact
    GEMM self-kNN runs here (the efanna NN-descent stage of the
    reference, as a first-class Spark stage).

    ``snapshot`` picks how the Link-stage snapshot (vectors + padded
    kNN adjacency) reaches workers, exactly like
    `graph_build.build_roargraph_dist`: "broadcast" unpickles a
    private copy per Python worker; "mmap" ships ONE node-local .npy
    per machine (`sc.addFile` + page-cache-shared `np.load(mmap_mode=
    'r')`) — bit-identical output, and the reference-scale enabler
    (at the reference's 10M NSG config, `scripts/nsg/
    build_nsg_index.sh` K=400, the padded kNN adjacency alone is
    ~32 GB — per-worker broadcast copies are the r12 wall this
    removes); "auto" switches to mmap past the size threshold. The
    init kNN table itself is never collected to the driver: the
    grouped, rank-sorted lists land in a staged parquet and stream
    into the padded array batch-by-batch (`_assemble_knn_pad`).
    """
    spark = base.sparkSession
    sc = spark.sparkContext
    R, L, C = params.r_degree, params.l_build, params.c_pool
    if snapshot not in ("auto", "broadcast", "mmap"):
        raise ValueError(f"unknown snapshot mode {snapshot!r}")

    ids, vecs = _collect_matrix(base, id_col, vec_col)
    n = len(ids)
    if n == 0:
        return RoarGraphIndex(ids=ids, vecs=vecs, adj=[], entry_point=0)

    # ---- init: kNN graph, assembled distributed --------------------
    if knn is None:
        b = base.select(F.col(id_col).alias("base_id"), vec_col)
        q = base.select(F.col(id_col).alias("query_id"), vec_col)
        knn = knn_exact_gemm(q, b, params.knn_k, metric="ip")
    tmp_dirs: list = []
    pad_dir = tempfile.mkdtemp(prefix="nsg_snap_")
    tmp_dirs.append(pad_dir)
    pad_name = f"nsg_knn_pad_{uuid.uuid4().hex}.npy"
    pad_path = os.path.join(pad_dir, pad_name)
    _assemble_knn_pad(knn, ids, n, pad_path)

    snap_bytes = (os.path.getsize(pad_path)
                  + (n + 1) * vecs.shape[1] * vecs.dtype.itemsize)
    use_mmap = snapshot == "mmap" or (snapshot == "auto"
                                      and snap_bytes > _MMAP_SNAPSHOT_BYTES)
    if use_mmap:
        sc.addFile(pad_path)
        pad_h = _NodeLocalArray(pad_name)
        vext_h = _ship_array(sc, vecs, "nsg_vecs_ext", tmp_dirs,
                             pad_zero_row=True)

        def get_pad():
            return pad_h.load()

        def get_vecs_ext():
            return vext_h.load()
    else:
        bc = sc.broadcast((np.load(pad_path),
                           np.vstack([vecs, np.zeros((1, vecs.shape[1]))])))

        def get_pad():
            return bc.value[0]

        def get_vecs_ext():
            return bc.value[1]

    # ---- navigating node: exact medoid -----------------------------
    centroid = vecs.mean(axis=0)
    ep = int(np.argmin(((vecs - centroid) ** 2).sum(axis=1)))

    # ---- Link: pool search + sync_prune, distributed ----------------
    def link(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vext = get_vecs_ext()
        v64 = vext[:-1]
        pad = get_pad()
        nn_ = len(v64)
        for pdf in it:
            nodes = pdf["id"].to_numpy(dtype=np.int64)
            if len(nodes) == 0:
                continue
            pools = core.batch_supply_search_collect(
                pad, v64, nodes, ep, L, collect="visited",
                vecs_ext=vext)
            srcs, outs, douts = [], [], []
            for node, (pid, pdist) in zip(nodes, pools):
                node = int(node)
                own = pad[node]
                own = own[own < nn_]
                own_d = -(v64[own] @ v64[node])
                cand = np.concatenate([pid, own])
                cd = np.concatenate([pdist, own_d])
                sel = nsg_prune(cand, cd, v64, R, C, exclude=node)
                if sel:
                    srcs.append(node)
                    outs.append(sel)
                    douts.append((-(v64[sel] @ v64[node])).tolist())
            yield pd.DataFrame({"src": srcs, "nbrs": outs,
                                "dists": douts})

    linked = (spark.range(n).repartition(n_batches)
              .mapInPandas(link, schema=_ADJ_SCHEMA).cache())

    # ---- InterInsert: reverse edges + overflow re-prune -------------
    fwd = linked.select("src",
                        F.arrays_zip("nbrs", "dists").alias("z")) \
        .select("src", F.explode("z").alias("e")) \
        .select("src", F.col("e.nbrs").alias("dst"),
                F.col("e.dists").alias("d"))
    both = fwd.select(F.col("src").alias("node"),
                      F.col("dst").alias("other"), "d",
                      F.lit(0).alias("rev")) \
        .unionByName(fwd.select(F.col("dst").alias("node"),
                                F.col("src").alias("other"), "d",
                                F.lit(1).alias("rev")))

    def inter_insert(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        v64 = get_vecs_ext()[:-1]
        for pdf in it:
            srcs, outs, douts = [], [], []
            for node, es in zip(pdf["node"].to_numpy(),
                                pdf["es"].to_numpy()):
                node = int(node)
                # forward edges keep their sync_prune order; reverse
                # candidates join sorted by distance (the reference's
                # insert order is OpenMP thread arrival — unstable)
                f = sorted((e for e in es if e["rev"] == 0),
                           key=lambda e: (e["d"], e["other"]))
                r = sorted((e for e in es if e["rev"] == 1),
                           key=lambda e: (e["d"], e["other"]))
                have = [int(e["other"]) for e in f]
                have_set = set(have)
                dists = [float(e["d"]) for e in f]
                for e in r:
                    if int(e["other"]) not in have_set:
                        have.append(int(e["other"]))
                        have_set.add(int(e["other"]))
                        dists.append(float(e["d"]))
                if len(have) > R:
                    sel = nsg_prune(np.asarray(have, dtype=np.int64),
                                    np.asarray(dists), v64, R, C,
                                    exclude=node)
                else:
                    sel = have
                srcs.append(node)
                outs.append([int(x) for x in sel])
                douts.append([0.0] * len(sel))
            yield pd.DataFrame({"src": srcs, "nbrs": outs,
                                "dists": douts})

    merged = (both
              .groupBy(F.col("node"))
              .agg(F.collect_list(F.struct("other", "d", "rev"))
                   .alias("es"))
              .mapInPandas(inter_insert, schema=_ADJ_SCHEMA))
    pdf = merged.toPandas()
    adj = [np.empty(0, dtype=np.int64)] * n
    for src, nbrs in zip(pdf["src"].to_numpy(), pdf["nbrs"].to_numpy()):
        adj[int(src)] = np.asarray(nbrs, dtype=np.int64)
    linked.unpersist()

    # ---- tree_grow: connect every node to the navigating root ------
    # default = the sequential stack walk: the r14 10M pin measured it
    # 2.8x FASTER than the frontier-vectorized form (92.4s vs 263.3s
    # on the captured real pre-tree state — the per-level
    # pad[frontier] gather touches ~degree x the work the
    # visited-checked walk does); both engines are bit-equal pinned.
    adj = _tree_grow_seq(adj, vecs, ep, L)
    if not use_mmap:
        bc.destroy()
    for d in tmp_dirs:
        shutil.rmtree(d, ignore_errors=True)
    return RoarGraphIndex(ids=ids, vecs=vecs, adj=adj, entry_point=ep,
                          source=base.select(id_col, vec_col))


def _tree_grow(adj: list, vecs: np.ndarray, ep: int, beam: int) -> list:
    """BFS reachability from the root; every unreached node gets one
    edge from its nearest reached search-pool node (findroot,
    index_nsg.cpp:700-735 — with the rand() fallback replaced by the
    deterministic exact nearest reached node).

    Frontier-vectorized form (r14) — KEPT AS THE BIT-EQUALITY TWIN,
    no longer the default: the r14 10M pin (SCALE_PROBE.md, replayed
    on the captured real pre-tree state) measured this level-
    synchronous expansion 2.8x SLOWER than the sequential stack walk
    (263.3s vs 92.4s) — the per-level ``pad[frontier].ravel()`` +
    ``np.unique`` over a degree-47 pad does ~degree x the touch-work
    of the visited-checked walk. ``build_nsg`` dispatches to
    `_tree_grow_seq`; this twin stays for the pin tests
    (tests/test_nsg.py, tools/nsg_10m_probe.py pintree). Equivalence:
    the loop only consumes the reachable CLOSURE, and both traversals
    compute the identical closure before the next first-unreached
    argmin; the repair edge root->node never needs a pad rebuild
    because root is already reached — new reachability flows only
    through ``node``, whose outgoing row is already in the pad."""
    n = len(adj)
    if n == 0:
        return adj
    pad = core.pad_adjacency(adj, n)
    reached = np.zeros(n + 1, dtype=bool)
    reached[n] = True                            # pad sentinel

    def expand(seed: int) -> None:
        frontier = np.array([seed], dtype=np.int64)
        reached[frontier] = True
        while len(frontier):
            nxt = pad[frontier].ravel()
            nxt = np.unique(nxt[~reached[nxt]])
            reached[nxt] = True
            frontier = nxt

    expand(ep)
    while not reached[:n].all():
        node = int(np.argmin(reached[:n]))      # first unreached id
        pid, pdist = core.supply_search_collect(
            adj, vecs, vecs[node], node, ep, beam)
        m = reached[pid]
        if m.any():
            root = int(pid[m][np.argmin(pdist[m])])
        else:
            cand = np.nonzero(reached[:n])[0]
            root = int(cand[np.argmax(vecs[cand] @ vecs[node])])
        adj[root] = np.concatenate(
            [adj[root], np.asarray([node], dtype=np.int64)])
        expand(node)
    return adj


def _tree_grow_seq(adj: list, vecs: np.ndarray, ep: int,
                   beam: int) -> list:
    """The sequential stack walk (shape-identical to the reference's
    findroot/dfs loop, index_nsg.cpp:700-735) — THE DEFAULT since r15:
    the r14 10M pin measured it 2.8x faster than the frontier-
    vectorized `_tree_grow` on the real build state (92.4s vs 263.3s),
    so `build_nsg` calls this one. `_tree_grow` stays as the
    bit-equality twin (tests/test_nsg.py + tools/nsg_10m_probe.py pin
    `_tree_grow(adj) == _tree_grow_seq(adj)` on random graphs and the
    real 10M pre-tree capture), the same kept-twin pattern as the
    sorted/window beam engines."""
    n = len(adj)
    reached = np.zeros(n, dtype=bool)

    def bfs(root: int) -> None:
        stack = [root]
        reached[root] = True
        while stack:
            u = stack.pop()
            for w in adj[u]:
                if not reached[w]:
                    reached[w] = True
                    stack.append(int(w))

    bfs(ep)
    while not reached.all():
        node = int(np.argmin(reached))          # first unreached id
        pid, pdist = core.supply_search_collect(
            adj, vecs, vecs[node], node, ep, beam)
        m = reached[pid]
        if m.any():
            root = int(pid[m][np.argmin(pdist[m])])
        else:
            cand = np.nonzero(reached)[0]
            root = int(cand[np.argmax(vecs[cand] @ vecs[node])])
        adj[root] = np.concatenate(
            [adj[root], np.asarray([node], dtype=np.int64)])
        bfs(root)
    return adj

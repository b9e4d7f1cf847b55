"""Online multi-vector ANN search over a broadcast RoarGraph.

Reference: `SearchMultivectorOnRoarGraph`
(`/root/reference/src/index_bipartite.cpp:2424-2544`) — m member beam
searches sharing a total beam-size budget with adaptive allocation —
driven per query set by the flagship driver
(`/root/reference/tests/test_search_multivector_rerank.cpp:276-300`).

Spark shape (SURVEY §3.1 restatement): the index (adjacency + vectors) is
a broadcast variable; queries are a DataFrame repartitioned across
executors; one Arrow batch of query sets at a time runs the NumPy beam
search. Traversal stays node-local inside the UDF; Spark parallelizes
across query sets (the reference's OpenMP-over-queries boundary).

``multivector_search`` emits candidate lists, which
``rerank.rerank`` scores in a second distributed phase.
``search_and_rerank`` finishes the two phases inside the search task
when the index provably holds the data side's vectors: each query set
lives whole in one task and ``RoarGraphIndex.vecs`` already holds every
candidate set's members, so the task scores its candidate sets from the
index with the rerank's batched kernel and emits the ranked rows — no
query-side fetch, no candidate or corpus shuffle, no join and no window
(the reference likewise reranks each query set right after its search,
over the same base matrix: `MultiVectorReranker::Rerank`,
`/root/reference/src/multivector_reranker.cpp:38-98`).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                               StructField, StructType)

from ..functions import metrics as M
from . import _roar_core as core
from .graph_build import RoarGraphIndex


@dataclass
class SearchParams:
    """Search knobs; defaults mirror the experiment scripts
    (`/root/reference/expr_configs/dive_train.yaml`, min_beam_width=5)."""
    min_pq: int = 5
    max_pq: int = 200
    budget: int = 200          # max_pq_size_budget (total beam size)
    adaptive: bool = True      # enable_adaptive_expansion
    shared_visited: bool = False  # shared visited/checked-list variant


# the candidate schema every search engine (graph_search, hnsw, sharded)
# emits and rerank consumes
_CAND_SCHEMA = StructType([
    StructField("query_set_id", LongType()),
    StructField("member_pos", IntegerType()),
    StructField("base_vec_id", LongType()),
    StructField("dist", DoubleType()),
])


def _cand_frame(qsids, results: list, ids: np.ndarray):
    """One batch's candidate rows (``_CAND_SCHEMA``) as a single frame.

    ``results[i]`` is query set ``qsids[i]``'s per-member list of
    ``(local ids, dists)`` — the shape every per-batch search kernel
    returns; ``ids`` maps local ids to base vector ids. None when the
    batch has no members."""
    members = [r for res in results for r in res]
    if not members:
        return None
    n_members = np.array([len(res) for res in results], dtype=np.int64)
    counts = np.array([len(c) for c, _ in members], dtype=np.int64)
    pos = (np.arange(len(members))
           - np.repeat(np.cumsum(n_members) - n_members, n_members))
    return pd.DataFrame({
        "query_set_id": np.repeat(
            np.repeat(np.asarray(qsids, dtype=np.int64), n_members), counts),
        "member_pos": np.repeat(pos.astype(np.int32), counts),
        "base_vec_id": ids[np.concatenate([c for c, _ in members])
                           .astype(np.int64)],
        "dist": np.concatenate([d for _, d in members]).astype(np.float64),
    })


# the ranked rows of a two-phase search (the ``rerank.rerank`` columns)
_RANKED_SCHEMA = StructType([
    StructField("query_set_id", LongType()),
    StructField("rank", IntegerType()),
    StructField("data_set_id", LongType()),
    StructField("score", DoubleType()),
])


def _rerank_frame(idx, qsids, sets: list, results: list, k: int,
                  metric: str, m: int):
    """One batch's in-task rerank (``_RANKED_SCHEMA``): per query set,
    its candidate base ids map to data sets by the fixed-m contract
    (set = vid div m, as ``rerank.candidates_to_sets``), each distinct
    set's members — base rows s*m .. s*m+m-1 that the index holds, so a
    partial last set keeps its true cardinality — are gathered from
    ``idx.vecs`` in id order (``idx.ids`` is ascending, the
    ``_collect_matrix`` order), one ``SET_METRICS_BATCH[metric]`` call
    scores them all, and the top k by (score desc, data_set_id asc)
    survive. None when no query set has a candidate."""
    fn = M.SET_METRICS_BATCH[metric]
    ids = idx.ids
    cols = {c: [] for c in _RANKED_SCHEMA.fieldNames()}
    for qsid, q, res in zip(qsids, sets, results):
        local = [c for c, _ in res if len(c)]
        if not local:
            continue
        d_sets = np.unique(ids[np.concatenate(local).astype(np.int64)] // m)
        members = (d_sets[:, None] * m + np.arange(m)).ravel()
        loc = np.searchsorted(ids, members).clip(max=len(ids) - 1)
        held = ids[loc] == members
        scores = fn(q, idx.vecs[loc[held]],
                    held.reshape(len(d_sets), m).sum(axis=1))
        top = np.lexsort((d_sets, -scores))[:k]
        cols["query_set_id"].append(np.full(len(top), qsid, dtype=np.int64))
        cols["rank"].append(np.arange(1, len(top) + 1, dtype=np.int32))
        cols["data_set_id"].append(d_sets[top])
        cols["score"].append(scores[top])
    if not cols["score"]:
        return None
    return pd.DataFrame({c: np.concatenate(v) for c, v in cols.items()})


def _balanced_grouped(query_vecs: DataFrame, set_id: str) -> DataFrame:
    """Attach ``__slotkey`` — a probed collision-free partition key over
    ``pmod(set_id, p)`` — and hash-repartition on it, so that up to p
    query sets land one-per-partition (round-robin by set id) instead
    of the ~1/e-empty, worst-bin-3x layout that hashing a SMALL batch
    of set ids produces (VERDICT r15 #3: the measured hnsw_b400 tax).
    A following ``groupBy(set_id, __slotkey)`` REUSES this partitioning
    (the partition expression is one of the grouping keys), keeping the
    search stage at cluster parallelism behind a single exchange with
    no range-sampling job — range partitioning was A/B'd and its
    per-invocation sampling pass cost more than the balance won.
    ``__slotkey`` is a pure function of set_id, so the extra grouping
    key changes no group memberships."""
    from .partitioning import _collision_free_keys

    spark = query_vecs.sparkSession
    p = spark.sparkContext.defaultParallelism
    keys = _collision_free_keys(spark, p)
    arr = F.array(*[F.lit(int(k)) for k in keys])
    slot = F.coalesce(F.pmod(F.col(set_id).cast("long"), F.lit(p)),
                      F.lit(0))
    return query_vecs \
        .withColumn("__slotkey",
                    F.element_at(arr, (slot + 1).cast("int"))) \
        .repartition(p, F.col("__slotkey"))


def _search_grouped(index, query_vecs: DataFrame, kernel,
                    set_id: str, vec_id: str, vec_col: str,
                    budget_col: str | None = None,
                    rerank: tuple | None = None) -> DataFrame:
    """The grouped search path the single-index engines share:
    balanced grouping of the query sets, the index broadcast, one
    ``mapInPandas`` pass and the candidate emit. ``kernel(index, sets,
    budgets)`` searches one Arrow batch — ``sets`` the member matrices,
    ``budgets`` the per-set ``budget_col`` values or None — and returns
    per set its per-member ``(local ids, dists)``. ``rerank=(k, metric,
    m)`` replaces the candidate emit with the in-task rerank
    (``_rerank_frame``)."""
    from ..util import cached_broadcast

    # the index handle is broadcast ONCE per session (cached_broadcast —
    # repeated searches reuse the broadcast id, so neither the driver
    # re-pickles it per call nor reused workers re-unpickle it per id);
    # the per-call search knobs ride in the kernel closure
    bc = cached_broadcast(query_vecs.sparkSession, index)

    aggs = [F.sort_array(F.collect_list(F.struct(
        F.col(vec_id).alias("vid"), F.col(vec_col).alias("v")
    ))).alias("members")]
    if budget_col is not None:
        aggs.append(F.first(budget_col).alias("_budget"))
    # The grouped query sets are BYTE-tiny (m x dim doubles per row) but
    # each row is a full beam search — AQE's byte-based coalescing would
    # run the whole batch in one task (r15 stage metrics: 420-560 ms
    # single-task at sf0.1 on 32 cores). Partitioning BY THE GROUP KEY
    # before the groupBy pins the search stage at cluster parallelism
    # with ZERO extra exchanges: the aggregation reuses the explicit
    # partitioning, and AQE never coalesces a user-specified partition
    # count.
    grouped = _balanced_grouped(query_vecs, set_id) \
        .groupBy(F.col(set_id).alias("query_set_id"),
                 F.col("__slotkey")) \
        .agg(*aggs)
    cols = ["query_set_id", F.col("members.v").alias("mats")]
    if budget_col is not None:
        cols.append("_budget")
    grouped = grouped.select(*cols)

    def search_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = bc.value
        for pdf in it:
            sets = [np.stack([np.asarray(r, dtype=np.float64)
                              for r in mats]) for mats in pdf["mats"]]
            budgets = (pdf["_budget"].to_numpy(dtype=np.int64)
                       if budget_col is not None else None)
            qsids = pdf["query_set_id"].to_numpy(dtype=np.int64)
            results = kernel(idx, sets, budgets)
            out = (_cand_frame(qsids, results, idx.ids) if rerank is None
                   else _rerank_frame(idx, qsids, sets, results, *rerank))
            if out is not None:
                yield out

    return grouped.mapInPandas(
        search_batches,
        schema=_CAND_SCHEMA if rerank is None else _RANKED_SCHEMA)


def _holds_rows(index, data_vecs: DataFrame) -> bool:
    """Whether ``index.vecs`` provably are ``data_vecs``' rows: the
    ``(id, vec)`` projection the index was collected from (its
    driver-only ``source``) is semantically the same plan as
    ``data_vecs``' own projection."""
    src = index.source
    return (src is not None and set(src.columns) <= set(data_vecs.columns)
            and data_vecs.select(*src.columns).sameSemantics(src))


def _search_then_rerank(index, query_vecs: DataFrame, kernel,
                        data_vecs: DataFrame, k: int, metric: str,
                        m: int | None, mapping: DataFrame | None,
                        q_sets: list | None) -> DataFrame:
    """Two-phase search over ``kernel``'s candidates: reranked inside
    the search task when the fixed-m contract applies and the index
    holds ``data_vecs``' rows (``_holds_rows``), else by
    ``rerank.rerank`` over the emitted candidates."""
    from .rerank import rerank
    if metric not in M.SET_METRICS_BATCH:
        raise ValueError(f"unknown metric {metric!r}")
    if m is not None and mapping is None and _holds_rows(index, data_vecs):
        return _search_grouped(index, query_vecs, kernel, "set_id",
                               "vec_id", "vec", rerank=(k, metric, m))
    cands = _search_grouped(index, query_vecs, kernel, "set_id", "vec_id",
                            "vec")
    return rerank(cands.select("query_set_id", "base_vec_id"),
                  query_vecs, data_vecs, k, metric=metric, m=m,
                  mapping=mapping, q_sets=q_sets)


def _roar_kernel(params: SearchParams):
    """The per-batch RoarGraph/NSG search kernel for ``params``."""
    min_pq, max_pq, budget = params.min_pq, params.max_pq, params.budget
    adaptive = params.adaptive

    if params.shared_visited:
        # the shared-visited variant keeps its per-set kernel
        def kernel(idx, sets, _budgets):
            return [core.multivector_search_shared_visited(
                idx.adj, idx.vecs, q, idx.entry_point, min_pq, max_pq,
                budget) for q in sets]
    else:
        # the whole Arrow batch of query sets searches in one
        # wave-vectorized pass
        def kernel(idx, sets, budgets):
            max_pq_eff, budget_eff = ((budgets, budgets)
                                      if budgets is not None
                                      else (max_pq, budget))
            return core.batch_multivector_search(
                idx.adj, idx.vecs, sets, idx.entry_point, min_pq,
                max_pq_eff, budget_eff, adaptive)
    return kernel


def multivector_search(index: RoarGraphIndex, query_vecs: DataFrame,
                       params: SearchParams = SearchParams(),
                       set_id: str = "set_id", vec_id: str = "vec_id",
                       vec_col: str = "vec",
                       budget_col: str | None = None) -> DataFrame:
    """query_vecs(set_id, vec_id, vec) -> per-member candidates
    (query_set_id, member_pos, base_vec_id, dist).

    dist is the negated inner product (reference convention). The number
    of candidates per member equals its final beam size — budget
    allocation decides how deep each member searched.

    ``budget_col`` names an optional per-set column overriding BOTH
    max_pq and budget for that set (the reference sweep's budget knob):
    a whole budget sweep then runs as ONE pass instead of one search
    job per budget. The shared-visited variant ignores it.
    """
    return _search_grouped(index, query_vecs, _roar_kernel(params), set_id,
                           vec_id, vec_col, budget_col)


def search_and_rerank(index: RoarGraphIndex, query_vecs: DataFrame,
                      data_vecs: DataFrame, k: int,
                      params: SearchParams = SearchParams(),
                      metric: str = "smooth_chamfer",
                      m: int | None = None,
                      mapping: DataFrame | None = None,
                      q_sets: list | None = None) -> DataFrame:
    """The full flagship pipeline: ANN candidates -> set-level top-k
    (query_set_id, rank, data_set_id, score), equal to
    ``rerank.rerank(multivector_search(...))``.

    With fixed cardinality ``m``, no ``mapping``, and an index that was
    collected from ``data_vecs``' own ``(vec_id, vec)`` rows (the index
    constructors record that projection; the check is plan equality),
    the rerank runs inside the search task over ``index.vecs``. Data
    set membership then follows the fixed-m contract: set s is the base
    rows with ids s*m .. s*m+m-1 (ids >= 0), i.e. ``set_id == vec_id
    div m`` in ``data_vecs``; a partial last set keeps the rows it has.
    Any other case takes the candidate emit + ``rerank.rerank`` path.

    ``q_sets``: optional pre-fetched query-side matrices, used only by
    the ``rerank.rerank`` path (see there); the in-task rerank already
    holds each query set."""
    return _search_then_rerank(index, query_vecs, _roar_kernel(params),
                               data_vecs, k, metric, m, mapping, q_sets)

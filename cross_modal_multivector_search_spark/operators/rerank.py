"""Two-phase rerank: candidate vector ids -> set-level top-k.

Reference: `MultiVectorReranker::Rerank`
(`/root/reference/src/multivector_reranker.cpp:38-98`):
  1. candidate member-vector ids -> vector-SET ids (fixed m: vsid = vid/m,
     `tests/test_search_multivector_rerank.cpp:241-244`; variable
     cardinality via the mapping table — see operators/mapping.py);
  2. sort+unique (here: collect_set per data set);
  3. gather each candidate set's member vectors (a join, not a pointer
     gather);
  4. set-to-set score vs the query set; 5. top-k by descending score.

Scoring is the batched kernel ``set_topk_gemm`` uses
(``functions.metrics.SET_METRICS_BATCH``) restricted to the candidate
pairs: per Arrow batch of gathered data sets, each query set is scored
against all of its candidate sets in that batch with one GEMM and
segment LSE — the reference's `ComputeSmoothChamferDistanceBatch`
shape. The declarative SQL scorers in ``set_search`` stay the oracle
twin of the same math.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import metrics as M
from .set_search import (_SCORE_SCHEMA, _broadcast_query_sets,
                         _grouped_sets)
from .topk import grouped_topk


def candidates_to_sets(candidates: DataFrame, m: int | None = None,
                       mapping: DataFrame | None = None,
                       query_set_col: str = "query_set_id",
                       base_vec_col: str = "base_vec_id",
                       dedup: bool = True) -> DataFrame:
    """Distinct (query_set_id, data_set_id) candidate pairs.

    Fixed cardinality: set = vid div m. Variable cardinality: broadcast
    join against mapping(first_vid, cardinality, set_id) with a range
    predicate (first_vid <= vid < first_vid+cardinality).

    ``dedup=False`` skips the final dropDuplicates — a full shuffle of
    the candidate stream — for consumers that dedup inherently (a
    set-aggregation or semi join downstream); the pair MULTISET then
    still maps to the same pair set.
    """
    if mapping is not None:
        j = candidates.join(
            F.broadcast(mapping),
            (F.col(base_vec_col) >= mapping.first_vid)
            & (F.col(base_vec_col) < mapping.first_vid + mapping.cardinality),
        )
        pairs = j.select(query_set_col, F.col("set_id").alias("data_set_id"))
    elif m is not None:
        pairs = candidates.select(
            query_set_col,
            (F.col(base_vec_col) / m).cast("long").alias("data_set_id"))
    else:
        raise ValueError("need fixed m or a cardinality mapping")
    if not dedup:
        return pairs
    return pairs.dropDuplicates([query_set_col, "data_set_id"])


def rerank(candidates: DataFrame, query_vecs: DataFrame,
           data_vecs: DataFrame, k: int,
           metric: str = "smooth_chamfer", m: int | None = None,
           mapping: DataFrame | None = None,
           q_sets: list | None = None) -> DataFrame:
    """candidates(query_set_id, base_vec_id) -> top-k reranked sets.

    One shuffle: candidates grouped by data set with their proposing
    query sets, joined to the grouped data sets; each Arrow batch then
    makes one ``SET_METRICS_BATCH[metric]`` call per query set against
    broadcast query matrices, and a window top-k finishes.

    ``q_sets``: optional pre-fetched ``set_search.fetch_grouped_sets``
    list of the SAME query side — build-once / search-many callers (the
    reference loads its query fbin once and benchmarks search alone)
    skip the 2-3 Spark jobs of the per-call grouped Arrow fetch, the
    same contract ``set_topk_gemm`` already offers.
    """
    if metric not in M.SET_METRICS_BATCH:
        raise ValueError(f"unknown metric {metric!r}")
    # dedup=False: the collect_set per data set dedups inherently, so a
    # dropDuplicates exchange would re-shuffle the same candidate stream
    # for nothing (r15)
    cand_sets = candidates_to_sets(candidates, m=m, mapping=mapping,
                                   dedup=False)
    bc = _broadcast_query_sets(query_vecs.sparkSession,
                               query_vecs if q_sets is None else q_sets)

    # one shuffle: each candidate data set carries its proposing queries
    per_data = (cand_sets.groupBy("data_set_id")
                .agg(F.collect_set("query_set_id").alias("qsids")))
    data_grouped = _grouped_sets(data_vecs, "set_id", None, "vec").select(
        F.col("set_id").alias("data_set_id"), "mat")
    work = per_data.join(data_grouped, "data_set_id")

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_mats = dict(bc.value)
        fn = M.SET_METRICS_BATCH[metric]
        for pdf in it:
            if not len(pdf):
                continue
            mats = [np.stack([np.asarray(r, dtype=np.float64) for r in mat])
                    for mat in pdf["mat"]]
            cards = np.array([len(x) for x in mats], dtype=np.int64)
            starts = np.cumsum(cards) - cards
            concat = np.vstack(mats)
            # (query set, batch row) pairs, sorted by query set
            n_q = np.array([len(q) for q in pdf["qsids"]], dtype=np.int64)
            qs = np.concatenate(pdf["qsids"].to_numpy()).astype(np.int64)
            rows = np.repeat(np.arange(len(pdf)), n_q)
            order = np.lexsort((rows, qs))
            qs, rows = qs[order], rows[order]
            cuts = [0, *(np.flatnonzero(qs[1:] != qs[:-1]) + 1), len(qs)]
            scores = np.empty(len(qs), dtype=np.float64)
            for s, e in zip(cuts[:-1], cuts[1:]):
                # member rows of this query set's candidate sets
                c = cards[rows[s:e]]
                members = (np.arange(c.sum())
                           + np.repeat(starts[rows[s:e]] - np.cumsum(c) + c,
                                       c))
                scores[s:e] = fn(q_mats[int(qs[s])], concat[members], c)
            yield pd.DataFrame({
                "query_set_id": qs,
                "data_set_id": pdf["data_set_id"].to_numpy(
                    dtype=np.int64)[rows],
                "score": scores})

    scored = work.mapInPandas(score, schema=_SCORE_SCHEMA)
    return grouped_topk(
        scored, ["query_set_id"],
        [F.col("score").desc(), F.col("data_set_id").asc()], k
    ).select("query_set_id", "rank", "data_set_id", "score")

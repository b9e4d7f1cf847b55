"""Independent NumPy oracle for the set-level scores and top-k.

Written from the metric definitions, not from the library's kernels:
per-set reductions use ``np.*.reduceat`` over the concatenated data
rows instead of a per-set loop, so a shared bug is unlikely.

  smooth-Chamfer (T=16, s=1, den=2), query set Q (m rows), data set D:
    t1 = sum_i LSE_j(T*s*<q_i, d_j>) / (m*T*s)
    t2 = sum_j LSE_i(T*<q_i, d_j>)   / (m*T)
    score = (t1 + t2) / den
  MaxSim: sum_i max_j <q_i, d_j>
  set top-k: score descending, data-set id ascending on ties.
"""

from __future__ import annotations

import numpy as np

T, S, DEN = 16.0, 1.0, 2.0
SCORE_TOL = 1e-9


def _lse_segments(x: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Log-sum-exp of ``x`` (rows, cols) over column segments that
    begin at ``starts``: (rows, n_segments)."""
    seg_max = np.maximum.reduceat(x, starts, axis=1)
    seg_of_col = np.repeat(np.arange(len(starts)),
                           np.diff(np.append(starts, x.shape[1])))
    e = np.exp(x - seg_max[:, seg_of_col])
    return np.log(np.add.reduceat(e, starts, axis=1)) + seg_max


def set_starts(set_of_row: np.ndarray) -> np.ndarray:
    """First row of each set; rows must be grouped by set id."""
    return np.flatnonzero(np.r_[True, set_of_row[1:] != set_of_row[:-1]])


def smooth_chamfer(q: np.ndarray, data: np.ndarray,
                   starts: np.ndarray) -> np.ndarray:
    """Scores of query set ``q`` against every data set (rows of
    ``data`` grouped into sets beginning at ``starts``)."""
    q = np.asarray(q, dtype=np.float64)
    sims = q @ np.asarray(data, dtype=np.float64).T
    m = q.shape[0]
    t1 = _lse_segments(T * S * sims, starts).sum(axis=0) / (m * T * S)
    col = T * sims
    cmax = col.max(axis=0)
    lse_cols = np.log(np.exp(col - cmax).sum(axis=0)) + cmax
    t2 = np.add.reduceat(lse_cols, starts) / (m * T)
    return (t1 + t2) / DEN


def maxsim(q: np.ndarray, data: np.ndarray,
           starts: np.ndarray) -> np.ndarray:
    sims = np.asarray(q, np.float64) @ np.asarray(data, np.float64).T
    return np.maximum.reduceat(sims, starts, axis=1).sum(axis=0)


METRICS = {"smooth_chamfer": smooth_chamfer, "summed_max_similarity": maxsim}


def topk(scores: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Positions of the k best: score descending, id ascending."""
    return np.lexsort((ids, -scores))[:k]


class SetIndex:
    """The data side, grouped for the oracle: rows sorted by set id."""

    def __init__(self, set_of_row: np.ndarray, rows: np.ndarray):
        order = np.argsort(set_of_row, kind="stable")
        self.set_of_row = set_of_row[order]
        self.rows = np.asarray(rows, dtype=np.float64)[order]
        self.starts = set_starts(self.set_of_row)
        self.set_ids = self.set_of_row[self.starts]

    def scores(self, q: np.ndarray, metric: str = "smooth_chamfer"):
        return METRICS[metric](q, self.rows, self.starts)


def check_topk(got: dict, queries: dict, index: SetIndex, k: int,
               exact: bool) -> tuple[int, float]:
    """Check engine top-k rows against the oracle.

    ``got``: query-set id -> list of (rank, data_set_id, score) rows;
    ``queries``: query-set id -> (m, dim) rows. Every returned score must
    equal the oracle's score for that pair, and ranks must follow score
    descending / id ascending. With ``exact`` the returned ids must be
    the oracle's top-k (a swap between tied scores is allowed).

    Returns (failed query sets, recall@k summed over query sets)."""
    failed, recall = 0, 0.0
    for qid, q in queries.items():
        rows = sorted(got.get(qid, []))
        sc = index.scores(q)
        pos = np.searchsorted(index.set_ids, [r[1] for r in rows])
        want = topk(sc, index.set_ids, k)
        ok = (0 < len(rows) <= k
              and [r[0] for r in rows] == list(range(1, len(rows) + 1))
              and np.all(pos < len(index.set_ids))
              and np.array_equal(index.set_ids[np.minimum(
                  pos, len(index.set_ids) - 1)], [r[1] for r in rows]))
        if ok:
            mine = np.array([r[2] for r in rows])
            ok = np.allclose(mine, sc[pos], rtol=0, atol=SCORE_TOL)
            # descending score; ascending id unless the scores differ
            s, ids = sc[pos], index.set_ids[pos]
            for i in range(len(pos) - 1):
                tie = abs(s[i] - s[i + 1]) <= SCORE_TOL
                ok = ok and (ids[i] < ids[i + 1] if tie else s[i] > s[i + 1])
        if ok and exact:
            ok = len(rows) == min(k, len(sc)) and np.allclose(
                np.sort(sc[pos]), np.sort(sc[want]), rtol=0, atol=SCORE_TOL)
        failed += not ok
        recall += len(set(index.set_ids[want]) & {r[1] for r in rows}) / k
    return failed, recall

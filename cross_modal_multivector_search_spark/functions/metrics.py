"""Set-to-set scoring kernels (NumPy) + metric registry.

NumPy re-derivations of the reference's Eigen kernels — the Arrow/pandas-UDF
fast path. The SQL-native (oracle-checkable) formulations of the same math
live in ``operators/set_search.py``.

Parity targets in the reference:
  * smooth-Chamfer:  `/root/reference/src/multivector_reranker.cpp:330-375`
    (batch variant `:377-430`), constants temperature=16, txt_scale=1,
    denominator=2 at `/root/reference/include/multivector_reranker.h:118-120`.
    Orientation: first matrix = QUERY set (rows), second = DATA set (cols);
    BOTH terms are normalized by the *query* cardinality — see the
    `multi_vector_cardinality` uses at `:353-355` and `:370-371`.
  * summed-max-similarity (ColBERT MaxSim):
    `/root/reference/src/multivector_reranker.cpp:432-438`.
  * metric registry dispatch: `/root/reference/src/multivector_reranker.cpp:440-503`.
"""

from __future__ import annotations

from typing import Callable

import numpy as np

SMOOTH_CHAMFER_TEMPERATURE = 16.0
SMOOTH_CHAMFER_TXT_SCALE = 1.0
SMOOTH_CHAMFER_DENOMINATOR = 2.0


def smooth_chamfer(query: np.ndarray, data: np.ndarray,
                   temperature: float = SMOOTH_CHAMFER_TEMPERATURE,
                   txt_scale: float = SMOOTH_CHAMFER_TXT_SCALE,
                   denominator: float = SMOOTH_CHAMFER_DENOMINATOR) -> float:
    """Bidirectional log-sum-exp Chamfer score (higher = more similar).

    query: (m, d) query-set rows; data: (n, d) data-set rows. Rows are
    assumed pre-normalized (cosine-as-IP), matching the reference pipeline.
    Max-subtracted LSE reproduces the reference's numerics.
    """
    sim = query @ data.T                       # (m, n)
    m = query.shape[0]

    t1 = temperature * txt_scale * sim
    row_max = t1.max(axis=1)
    row_lse = np.log(np.exp(t1 - row_max[:, None]).sum(axis=1)) + row_max
    term1 = row_lse.sum() / (m * temperature * txt_scale)

    t2 = temperature * sim
    col_max = t2.max(axis=0)
    col_lse = np.log(np.exp(t2 - col_max[None, :]).sum(axis=0)) + col_max
    term2 = col_lse.sum() / (m * temperature)

    return float((term1 + term2) / denominator)


def _set_starts(cardinalities: np.ndarray) -> np.ndarray:
    """Row offset of each set in a concatenated batch (``reduceat``
    indices; every cardinality must be >= 1)."""
    return np.concatenate(([0], np.cumsum(cardinalities)[:-1])).astype(
        np.int64)


def smooth_chamfer_batch(query: np.ndarray, data_concat: np.ndarray,
                         cardinalities: np.ndarray,
                         temperature: float = SMOOTH_CHAMFER_TEMPERATURE,
                         txt_scale: float = SMOOTH_CHAMFER_TXT_SCALE,
                         denominator: float = SMOOTH_CHAMFER_DENOMINATOR) -> np.ndarray:
    """One GEMM for a whole batch of data sets, then segment reductions.

    ``data_concat`` stacks the member vectors of many data sets; the i-th
    set occupies ``cardinalities[i]`` consecutive rows. Mirrors
    `ComputeSmoothChamferDistanceBatch` — one big ``query @ batch.T`` then
    block-wise LSE, which is the whole point of batching (amortized GEMM).
    The per-(query row, set) LSE is a max/exp/sum over column segments
    (``reduceat`` at the set offsets); the per-column LSE runs once over
    all columns and is summed per set.
    """
    if len(cardinalities) == 0:
        return np.empty(0, dtype=np.float64)
    sims = query @ data_concat.T               # (m, total_rows)
    m = query.shape[0]
    starts = _set_starts(cardinalities)
    ts = temperature * txt_scale
    t1 = ts * sims
    rmax = np.maximum.reduceat(t1, starts, axis=1)           # (m, sets)
    rsum = np.add.reduceat(
        np.exp(t1 - np.repeat(rmax, cardinalities, axis=1)), starts, axis=1)
    term1 = (np.log(rsum) + rmax).sum(axis=0) / (m * ts)
    t2 = temperature * sims
    cmax = t2.max(axis=0)
    col_lse = np.log(np.exp(t2 - cmax[None, :]).sum(axis=0)) + cmax
    term2 = np.add.reduceat(col_lse, starts) / (m * temperature)
    return (term1 + term2) / denominator


def summed_max_similarity(query: np.ndarray, data: np.ndarray) -> float:
    """MaxSim: sum over query members of the best data-member similarity."""
    return float((query @ data.T).max(axis=1).sum())


def summed_max_similarity_batch(query: np.ndarray, data_concat: np.ndarray,
                                cardinalities: np.ndarray) -> np.ndarray:
    """MaxSim for a batch of concatenated data sets (layout as in
    ``smooth_chamfer_batch``): one GEMM, a per-set row max by
    ``reduceat``, summed over query rows."""
    if len(cardinalities) == 0:
        return np.empty(0, dtype=np.float64)
    sims = query @ data_concat.T
    return np.maximum.reduceat(
        sims, _set_starts(cardinalities), axis=1).sum(axis=0)


# Registry mirroring the reference's SetDistanceMetric dispatch
# (`/root/reference/src/multivector_reranker.cpp:440-503`). All metrics are
# similarities (higher = better) on pre-normalized rows.
SET_METRICS: dict[str, Callable[[np.ndarray, np.ndarray], float]] = {
    "smooth_chamfer": smooth_chamfer,
    "summed_max_similarity": summed_max_similarity,
}

SET_METRICS_BATCH: dict[str, Callable[..., np.ndarray]] = {
    "smooth_chamfer": smooth_chamfer_batch,
    "summed_max_similarity": summed_max_similarity_batch,
}


def normalize_rows(mat: np.ndarray) -> np.ndarray:
    """Row-wise L2 normalization; zero rows pass through unscaled."""
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return mat / norms

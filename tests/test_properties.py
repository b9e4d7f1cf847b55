"""Property-based tests (hypothesis) for the NumPy core and the
curation/text operators.

The reference has no property testing (SURVEY §5); these pin the
invariants the distributed operators rely on, and hold the curation,
tf-idf and BM25 operators to their DuckDB twins on adversarial shards.
"""

import itertools

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cross_modal_multivector_search_spark.functions import metrics as M
from cross_modal_multivector_search_spark.operators import _roar_core as core


@st.composite
def inserts(draw):
    n = draw(st.integers(1, 60))
    ids = draw(st.lists(st.integers(0, 30), min_size=n, max_size=n))
    dists = draw(st.lists(
        st.floats(-10, 10, allow_nan=False), min_size=n, max_size=n))
    cap = draw(st.integers(1, 20))
    return ids, dists, cap


@given(inserts())
@settings(max_examples=200, deadline=None)
def test_beam_queue_is_bounded_sorted_dedup(case):
    """Model check: BeamQueue == (sort by dist, drop dup ids keeping the
    earlier-or-closer one, truncate to capacity) for first-wins inserts."""
    ids, dists, cap = case
    q = core.BeamQueue(cap)
    model: dict[int, float] = {}
    for i, d in zip(ids, dists):
        # model mirrors the queue's contract: an id enters once; a later
        # insert with the same id is rejected IF the id is still in the
        # (bounded) set; evicted ids may re-enter
        in_set = set(q.ids[:q.size])
        q.insert(i, d)
        if i not in in_set:
            model[i] = d
    got = list(zip(q.ids[:q.size], q.dists[:q.size]))
    assert all(got[j][1] <= got[j + 1][1] for j in range(len(got) - 1))
    assert len({g[0] for g in got}) == len(got)      # unique ids
    assert len(got) <= cap


@pytest.mark.parametrize("metric", sorted(M.SET_METRICS_BATCH))
@given(st.integers(2, 8), st.integers(1, 10), st.integers(4, 16),
       st.integers(0, 2 ** 31))
@settings(max_examples=50, deadline=None)
def test_chamfer_batch_equals_singles(metric, m, n_sets, dim, seed):
    """Each batched kernel (segment reductions over set offsets) equals
    its per-pair twin — including single-set batches and sets of one
    vector, the ``reduceat`` edge cases."""
    rng = np.random.default_rng(seed)
    q = M.normalize_rows(rng.normal(size=(m, dim)))
    cards = rng.integers(1, 6, size=n_sets)
    data = M.normalize_rows(rng.normal(size=(int(cards.sum()), dim)))
    batch = M.SET_METRICS_BATCH[metric](q, data, cards)
    single = M.SET_METRICS[metric]
    assert batch.shape == (n_sets,)
    off = 0
    for i, c in enumerate(cards):
        assert abs(batch[i] - single(q, data[off:off + c])) < 1e-9
        off += c


@given(st.integers(5, 40), st.integers(2, 10), st.integers(0, 2 ** 31))
@settings(max_examples=50, deadline=None)
def test_occlusion_prune_invariants(n_cand, m_deg, seed):
    rng = np.random.default_rng(seed)
    vecs = M.normalize_rows(rng.normal(size=(n_cand + 1, 8)))
    cand = np.arange(1, n_cand + 1, dtype=np.int64)
    dists = -(vecs[cand] @ vecs[0])
    out = core.occlusion_prune(cand, dists, vecs, m_deg, exclude=0)
    assert len(out) <= max(m_deg, 1)
    assert len(set(out)) == len(out)                 # no dups
    assert 0 not in out                              # excluded target
    assert out[0] == cand[np.argmin(dists)]          # nearest survives
    # backfill guarantees the degree is reached when enough candidates
    assert len(out) == min(m_deg, n_cand)


@given(st.integers(1, 5), st.integers(0, 2 ** 31))
@settings(max_examples=20, deadline=None)
def test_multivector_search_budget_respected(m, seed):
    rng = np.random.default_rng(seed)
    n, dim = 60, 8
    vecs = M.normalize_rows(rng.normal(size=(n, dim)))
    adj = [np.array([(i + 1) % n, (i + 7) % n, (i - 1) % n])
           for i in range(n)]
    q = M.normalize_rows(rng.normal(size=(m, dim)))
    budget = 30
    res = core.multivector_search(adj, vecs, q, 0, min_pq=5,
                                  max_pq=budget, budget=budget)
    assert len(res) == m
    assert sum(len(ids) for ids, _ in res) <= budget + 5 * m
    for ids, dists in res:
        assert all(dists[j] <= dists[j + 1] for j in range(len(dists) - 1))
        assert len(set(ids.tolist())) == len(ids)


@given(st.integers(1, 5), st.integers(2, 30), st.integers(0, 2 ** 31),
       st.booleans())
@settings(max_examples=40, deadline=None)
def test_batch_search_equals_sequential_property(m, n_sets, seed, adaptive):
    """Random graphs / set sizes / budgets: the wave-vectorized search
    must reproduce the sequential trajectory exactly."""
    rng = np.random.default_rng(seed)
    n, d = int(rng.integers(20, 120)), 8
    vecs = rng.normal(size=(n, d))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    adj = [np.unique(rng.integers(0, n, size=rng.integers(1, 8)))
           for _ in range(n)]
    adj = [a[a != i] for i, a in enumerate(adj)]
    sets = [rng.normal(size=(int(rng.integers(1, m + 1)), d))
            for _ in range(n_sets)]
    sets = [q / np.linalg.norm(q, axis=1, keepdims=True) for q in sets]
    ep = int(rng.integers(0, n))
    min_pq, max_pq, budget = 3, 20, int(rng.integers(5, 40))
    batch = core.batch_multivector_search(
        adj, vecs, sets, ep, min_pq, max_pq, budget, adaptive,
        mem_budget_bytes=3 * (n + 1))   # force multi-sub-batch
    for qi, q in enumerate(sets):
        seq = core.multivector_search(adj, vecs, q, ep, min_pq, max_pq,
                                      budget, adaptive)
        for (si, sd), (bi, bd) in zip(seq, batch[qi]):
            assert np.array_equal(si, bi)
            assert np.allclose(sd, bd, atol=1e-12)


@given(st.integers(0, 2 ** 31))
@settings(max_examples=30, deadline=None)
def test_batch_supply_search_equals_sequential_property(seed):
    rng = np.random.default_rng(seed)
    n, d = int(rng.integers(10, 80)), 8
    vecs = rng.normal(size=(n, d))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    adj = [np.unique(rng.integers(0, n, size=rng.integers(1, 6)))
           for _ in range(n)]
    adj = [a[a != i] for i, a in enumerate(adj)]
    ep = int(rng.integers(0, n))
    L = int(rng.integers(2, 25))
    nodes = np.arange(n, dtype=np.int64)
    batch = core.batch_supply_search_collect(adj, vecs, nodes, ep, L,
                                             batch_rows=7)
    for i in range(n):
        si, sd = core.supply_search_collect(adj, vecs, vecs[i], i, ep, L)
        bi, bd = batch[i]
        assert np.array_equal(si, bi)
        assert np.allclose(sd, bd, atol=1e-12)


@given(st.integers(0, 2 ** 31))
@settings(max_examples=25, deadline=None)
def test_batch_search_per_set_budgets_property(seed):
    """Per-set (min_pq, max_pq, budget) arrays: every set must follow
    exactly the trajectory of a sequential call with its own scalars."""
    rng = np.random.default_rng(seed)
    n, d = int(rng.integers(30, 100)), 8
    vecs = rng.normal(size=(n, d))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    adj = [np.unique(rng.integers(0, n, size=rng.integers(1, 8)))
           for _ in range(n)]
    adj = [a[a != i] for i, a in enumerate(adj)]
    n_sets = int(rng.integers(2, 12))
    sets = [rng.normal(size=(int(rng.integers(1, 5)), d))
            for _ in range(n_sets)]
    sets = [q / np.linalg.norm(q, axis=1, keepdims=True) for q in sets]
    ep = int(rng.integers(0, n))
    budgets = rng.integers(5, 60, size=n_sets)
    max_pqs = rng.integers(10, 40, size=n_sets)
    batch = core.batch_multivector_search(
        adj, vecs, sets, ep, 3, max_pqs, budgets, True,
        mem_budget_bytes=4 * (n + 1))
    for qi, q in enumerate(sets):
        seq = core.multivector_search(adj, vecs, q, ep, 3,
                                      int(max_pqs[qi]), int(budgets[qi]),
                                      True)
        for (si, sd), (bi, bd) in zip(seq, batch[qi]):
            assert np.array_equal(si, bi)
            assert np.allclose(sd, bd, atol=1e-12)


@given(st.integers(0, 2 ** 31), st.booleans())
@settings(max_examples=40, deadline=None)
def test_batch_search_equals_sequential_duplicate_vectors(seed, adaptive):
    """Duplicate vectors produce EXACT negated-IP ties: the full-beam
    tail-tie rejection and searchsorted-left layout rules must match the
    sequential queue bit-for-bit (round-3 advisory divergence)."""
    rng = np.random.default_rng(seed)
    d = 4
    n_unique = int(rng.integers(2, 6))
    pool = rng.normal(size=(n_unique, d))
    pool /= np.linalg.norm(pool, axis=1, keepdims=True)
    n = int(rng.integers(20, 60))
    vecs = pool[rng.integers(0, n_unique, size=n)]
    adj = [np.unique(rng.integers(0, n, size=rng.integers(1, 8)))
           for _ in range(n)]
    adj = [a[a != i] for i, a in enumerate(adj)]
    n_sets = int(rng.integers(1, 6))
    sets = [pool[rng.integers(0, n_unique, size=int(rng.integers(1, 4)))]
            for _ in range(n_sets)]
    ep = int(rng.integers(0, n))
    max_pq, budget = int(rng.integers(5, 15)), int(rng.integers(4, 30))
    batch = core.batch_multivector_search(
        adj, vecs, sets, ep, 2, max_pq, budget, adaptive,
        mem_budget_bytes=3 * (n + 1))
    for qi, q in enumerate(sets):
        seq = core.multivector_search(adj, vecs, q, ep, 2, max_pq,
                                      budget, adaptive)
        for (si, sd), (bi, bd) in zip(seq, batch[qi]):
            assert np.array_equal(si, bi)
            assert np.allclose(sd, bd, atol=1e-12)


@given(st.integers(0, 2 ** 31))
@settings(max_examples=30, deadline=None)
def test_batch_supply_search_equals_sequential_duplicate_vectors(seed):
    rng = np.random.default_rng(seed)
    d = 4
    n_unique = int(rng.integers(2, 5))
    pool = rng.normal(size=(n_unique, d))
    pool /= np.linalg.norm(pool, axis=1, keepdims=True)
    n = int(rng.integers(10, 50))
    vecs = pool[rng.integers(0, n_unique, size=n)]
    adj = [np.unique(rng.integers(0, n, size=rng.integers(1, 6)))
           for _ in range(n)]
    adj = [a[a != i] for i, a in enumerate(adj)]
    ep = int(rng.integers(0, n))
    L = int(rng.integers(2, 20))
    nodes = np.arange(n, dtype=np.int64)
    batch = core.batch_supply_search_collect(adj, vecs, nodes, ep, L,
                                             batch_rows=7)
    for i in range(n):
        si, sd = core.supply_search_collect(adj, vecs, vecs[i], i, ep, L)
        bi, bd = batch[i]
        assert np.array_equal(si, bi)
        assert np.allclose(sd, bd, atol=1e-12)


@given(st.integers(0, 2 ** 31))
@settings(max_examples=25, deadline=None)
def test_batch_search_non_adaptive_respects_per_set_max_pq(seed):
    """adaptive=False with budget//m > a set's own max_pq: members must
    emit at most max_pq entries, exactly like the sequential queue whose
    capacity is max_pq (round-3 advisory)."""
    rng = np.random.default_rng(seed)
    n, d = int(rng.integers(40, 100)), 8
    vecs = rng.normal(size=(n, d))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    adj = [np.unique(rng.integers(0, n, size=rng.integers(2, 8)))
           for _ in range(n)]
    adj = [a[a != i] for i, a in enumerate(adj)]
    n_sets = int(rng.integers(2, 8))
    sets = [rng.normal(size=(1, d)) for _ in range(n_sets)]
    sets = [q / np.linalg.norm(q, axis=1, keepdims=True) for q in sets]
    ep = int(rng.integers(0, n))
    # m=1 and budget >> max_pq forces budget//m > max_pq for every set
    max_pqs = rng.integers(3, 10, size=n_sets)
    budgets = max_pqs * int(rng.integers(3, 6))
    batch = core.batch_multivector_search(
        adj, vecs, sets, ep, 2, max_pqs, budgets, False,
        mem_budget_bytes=4 * (n + 1))
    for qi, q in enumerate(sets):
        seq = core.multivector_search(adj, vecs, q, ep, 2,
                                      int(max_pqs[qi]), int(budgets[qi]),
                                      False)
        for (si, sd), (bi, bd) in zip(seq, batch[qi]):
            assert len(bi) <= int(max_pqs[qi])
            assert np.array_equal(si, bi)
            assert np.allclose(sd, bd, atol=1e-12)


# adversarial document shards: empty / whitespace-only / one-token
# texts, es-de-fr marker ties ("la" is es and fr), exact and near
# duplicates, and a vocabulary that may lack any of the BM25 terms
_WORDS = ["data", "search", "model", "the", "a", "of", "and", "to",
          "el", "la", "de", "los", "que", "der", "die", "und", "das",
          "ist", "le", "les", "et", "des", "zebra", "river", "x1", "@@",
          "12345", "Data"]


@st.composite
def shards(draw):
    vocab = draw(st.lists(st.sampled_from(_WORDS), min_size=1,
                          unique=True))
    # an English-heavy shard, so some documents pass the quality cut
    heavy = ["the", "of", "and"] if draw(st.booleans()) else []
    words = st.lists(st.sampled_from(vocab + heavy), min_size=1,
                     max_size=24)
    sep = st.sampled_from([" ", "  ", "\t", "\n", " \n "])
    texts: list[str] = []
    for _ in range(draw(st.integers(1, 9))):
        kind = draw(st.sampled_from(
            ["words", "words", "blank", "single", "dup", "near"]))
        if kind == "blank":
            texts.append(draw(st.sampled_from(["", " ", "\t \n"])))
        elif kind == "single":
            texts.append(draw(st.sampled_from(vocab)))
        elif kind in ("dup", "near") and texts:
            base = draw(st.sampled_from(texts))
            texts.append(base if kind == "dup" else
                         base + " " + draw(st.sampled_from(vocab)))
        else:
            ws = draw(words)
            texts.append("".join(w + draw(sep) for w in ws[:-1]) + ws[-1])
    ids = draw(st.lists(st.integers(0, 10 ** 6), min_size=len(texts),
                        max_size=len(texts), unique=True))
    return ids, texts


@pytest.fixture(scope="module")
def shard_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("shards")


_SHARD_SEQ = itertools.count()


def _shard(spark, shard_dir, case):
    import pandas as pd
    ids, texts = case
    path = str(shard_dir / f"docs{next(_SHARD_SEQ)}.parquet")
    pdf = pd.DataFrame({"doc_id": pd.array(ids, dtype="int64"),
                        "text": texts})
    pdf.to_parquet(path)
    return spark.read.parquet(path), pdf


def _canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@given(shards())
@settings(max_examples=12, deadline=None)
def test_curation_and_text_operators_equal_duckdb_twins(spark, shard_dir,
                                                        case):
    """curate_corpus, tfidf_top_terms and bm25_rank == their DuckDB
    oracle twins (same SQL the oracle gate runs) on adversarial shards."""
    import duckdb

    import __spark_entry__ as E
    from cross_modal_multivector_search_spark.operators import (
        curation, text,
    )
    docs, pdf = _shard(spark, shard_dir, case)
    got = [curation.curate_corpus(docs, quality_threshold=0.5,
                                  langs=("en",), num_hashes=8, bands=4,
                                  shingle_n=3),
           text.tfidf_top_terms(docs, k=5),
           text.bm25_rank(docs, ["data", "search", "model"], 20)]
    con = duckdb.connect()
    try:
        con.register("documents", pdf)
        want = [con.execute(q).df() for q in (
            E.SQL_CORPUS_CURATE, E.SQL_TFIDF_TOP_TERMS, E.SQL_BM25_RANK)]
    finally:
        con.close()
    for g, w in zip(got, want):
        g = g.toPandas()
        assert sorted(g.columns) == sorted(w.columns)
        assert _canon(g).equals(_canon(w)), (g, w)


@given(shards())
@settings(max_examples=6, deadline=None)
def test_bm25_repeated_and_empty_terms(spark, shard_dir, case):
    """A repeated query term counts once; no terms returns no rows (with
    the same schema)."""
    from cross_modal_multivector_search_spark.operators import text
    docs, _ = _shard(spark, shard_dir, case)
    once = text.bm25_rank(docs, ["data"])
    twice = text.bm25_rank(docs, ["data", "data"])
    assert twice.collect() == once.collect()
    none = text.bm25_rank(docs, [])
    assert none.schema == once.schema and none.collect() == []

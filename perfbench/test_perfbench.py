"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

Generator determinism and the oracle need no Spark and run in seconds;
the smoke test runs every workload at a tiny size, untraced and traced,
in one Spark session per run (a few minutes).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def test_generators_are_deterministic():
    s = gen.VectorShape(n_base=300, n_train=120)
    d = gen.DocShape(n_docs=150, vocab=300)
    for seed in (1, 2):
        assert gen.base_vectors(seed, s).tobytes() == \
            gen.base_vectors(seed, s).tobytes()
        assert gen.train_queries(seed, s).tobytes() == \
            gen.train_queries(seed, s).tobytes()
        a, b = (gen.query_sets(9, seed, 3, 8, s) for _ in range(2))
        assert a[0].tobytes() == b[0].tobytes()
        assert a[1].tobytes() == b[1].tobytes()
        c1, c2 = (gen.corpus_shard(9, seed, 2, d) for _ in range(2))
        assert c1.text == c2.text and c1.groups == c2.groups
        assert c1.doc_id.tobytes() == c2.doc_id.tobytes()
    assert gen.base_vectors(1, s).tobytes() != gen.base_vectors(2, s).tobytes()
    # requests draw fresh inputs, independent of how many came before
    assert gen.query_sets(9, 1, 3, 8, s)[1].tobytes() != \
        gen.query_sets(9, 1, 4, 8, s)[1].tobytes()
    assert gen.query_sets(9, 1, 3, 8, s)[1].tobytes() != \
        gen.query_sets(9, 2, 3, 8, s)[1].tobytes()
    assert gen.corpus_shard(9, 1, 0, d).text != \
        gen.corpus_shard(9, 1, 1, d).text
    assert gen.corpus_shard(9, 1, 0, d).text != \
        gen.corpus_shard(9, 2, 0, d).text


def test_generated_shapes():
    s = gen.VectorShape(n_base=300, n_train=120)
    base = gen.base_vectors(1, s)
    assert base.shape == (300, 64) and base.dtype == np.float32
    assert np.allclose(np.linalg.norm(base, axis=1), 1, atol=1e-6)
    sid, rows = gen.query_sets(9, 1, 2, 8, s)
    assert len(np.unique(sid)) == 8 and len(sid) == len(rows) == 8 * s.m
    c = gen.corpus_shard(9, 1, 0, gen.DocShape(n_docs=600, vocab=400))
    assert len(set(c.doc_id)) == 600
    planted_exact = [g for g in c.groups if len(g) == 2]
    assert planted_exact
    by_id = dict(zip(c.doc_id, c.text))
    assert all(by_id[a] == by_id[b] for a, b in planted_exact)


@pytest.mark.parametrize("metric", sorted(oracle.METRICS))
def test_oracle_matches_library_kernels(metric):
    from cross_modal_multivector_search_spark.functions import metrics as M
    rng = np.random.default_rng(7)
    q = M.normalize_rows(rng.standard_normal((4, 16)))
    card = rng.integers(1, 8, size=30)
    data = M.normalize_rows(rng.standard_normal((int(card.sum()), 16)))
    starts = np.r_[0, np.cumsum(card)[:-1]]
    mine = oracle.METRICS[metric](q, data, starts)
    batch = M.SET_METRICS_BATCH[metric](q, data, card)
    single = [M.SET_METRICS[metric](q, data[s:s + c])
              for s, c in zip(starts, card)]
    assert np.allclose(mine, batch, rtol=0, atol=1e-12)
    assert np.allclose(mine, single, rtol=0, atol=1e-12)
    assert run.self_check()


def test_check_topk_accepts_the_oracle_and_rejects_errors():
    rng = np.random.default_rng(3)
    set_of_row = np.repeat(np.arange(40), 3)
    rows = rng.standard_normal((120, 8))
    rows /= np.linalg.norm(rows, axis=1, keepdims=True)
    index = oracle.SetIndex(set_of_row, rows)
    q = rows[:2] + 0.1
    sc = index.scores(q)
    top = oracle.topk(sc, index.set_ids, 5)
    good = [(r + 1, int(index.set_ids[p]), float(sc[p]))
            for r, p in enumerate(top)]
    assert oracle.check_topk({0: good}, {0: q}, index, 5, True) == (0, 1.0)
    wrong_score = [good[0][:2] + (good[0][2] + 1e-3,)] + good[1:]
    assert oracle.check_topk({0: wrong_score}, {0: q}, index, 5, True)[0]
    swapped = [(1,) + good[1][1:], (2,) + good[0][1:]] + good[2:]
    assert oracle.check_topk({0: swapped}, {0: q}, index, 5, True)[0]
    # an approximate answer that misses a true top-k set, with correct
    # scores and order, is not a failure, only lower recall
    sixth = oracle.topk(sc, index.set_ids, 6)[5]
    approx = good[:4] + [(5, int(index.set_ids[sixth]), float(sc[sixth]))]
    assert oracle.check_topk({0: approx}, {0: q}, index, 5, False) == (0, 0.8)
    assert oracle.check_topk({0: approx}, {0: q}, index, 5, True)[0] == 1


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == \
        run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == \
        run.PER_LAYER
    import workloads
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_fails_without_the_library(tmp_path):
    """Given only BENCHMARK.json and its own files, the benchmark exits
    non-zero and prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".results",
                                                  "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ann_batch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env)
    assert p.returncode != 0 and p.stdout.strip() == ""


@pytest.fixture
def tiny(monkeypatch):
    import workloads
    monkeypatch.setattr(workloads, "VECTORS",
                        gen.VectorShape(n_base=600, n_train=300))
    monkeypatch.setattr(workloads, "DOCS", gen.DocShape(n_docs=150))
    monkeypatch.setattr(run, "SETUP_REPS", 1)
    monkeypatch.setattr(workloads.AnnWorkload, "n_sets", 16)
    monkeypatch.setattr(run, "MIN_REQUESTS", 2)
    monkeypatch.setattr(run, "MIN_TRACED", 1)
    monkeypatch.setattr(run, "WARMUP_MIN", 1)
    monkeypatch.setattr(run, "WARMUP_S", 0.0)


@pytest.mark.parametrize("workload", ["ann_batch", "curate_docs"])
def test_tiny_smoke(tiny, tmp_path, workload):
    run.pin_host(str(tmp_path))
    for trace in (0, 1):
        args = argparse.Namespace(workload=workload, seed=5, seconds=0.0,
                                  trace=trace)
        result, detail = run.run(args, str(tmp_path), 4)
        assert result["correct"] and result["failed"] == 0
        assert result["attempted"] >= run.MIN_REQUESTS
        names = run.PER_LAYER if trace else run.END_TO_END
        assert list(result["metrics"]) == [n for n, _ in names]
        if not trace:
            assert all(m["value"] > 0 for m in result["metrics"].values())
        else:
            cov = result["metrics"]["trace.span_coverage"]["value"]
            assert 0.85 <= cov <= 1.0

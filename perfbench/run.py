#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the search and curation library.

    python3 perfbench/run.py --workload ann_batch --seed 1 --seconds 10 \\
        --trace 0

Generates the workload's inputs from ``--seed``, starts a Spark session
pinned to this host, sets up (several times; the median is reported),
warms up, then serves requests one at a time (closed loop, one client)
for ``--seconds`` seconds. Every output is checked against the
benchmark's own oracle. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; the metrics
are the end-to-end metrics with ``--trace 0`` and the per-layer metrics
with ``--trace 1``. Provenance and, for traced runs, the spans go to
``perfbench/.results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3
# warm up for this long and for at least this many requests (JIT and
# worker warm-up: the first request of a run takes 1.5-2.5 times as long
# as the third; later ones gain a few percent more, which the fixed time
# for all runs cannot pay for)
WARMUP_S = 8.0
WARMUP_MIN = 2
MIN_REQUESTS = 2
# traced runs make at least this many traced and untraced requests each,
# so the layer means and trace.overhead_frac rest on several samples; more
# would take a curate_docs traced run past 180 s when the host is slow
MIN_TRACED = 3
WARMUP_ID = 100_000     # request ids of warm-up requests (never measured)

END_TO_END = [
    ("setup_s", "s"), ("items_per_s", "1/s"), ("latency_p50_ms", "ms"),
    ("recall_at_10", "frac"), ("py_rss_peak_mb", "MB"),
]
PER_LAYER = [
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.task_busy_s", "s"),
    ("spark.driver_only_s", "s"), ("spark.shuffle_write_mb", "MB"),
    ("spark.task_skew", "ratio"),
    ("session.start_s", "s"), ("graph_build.build_s", "s"),
    ("graph_build.nodes_per_s", "1/s"), ("graph_build.task_busy_s", "s"),
    ("graph_build.mean_degree", "count"),
    ("graph_search.s", "s"), ("graph_search.jobs", "count"),
    ("graph_search.task_busy_s", "s"), ("graph_search.task_skew", "ratio"),
    ("graph_search.cands_per_qset", "count"),
    ("graph_search.visited_per_qset", "count"),
    ("graph_search.visited_unique_ratio", "frac"),
    ("roar_core.kernel_qsets_per_s", "1/s"),
    ("rerank.s", "s"), ("rerank.jobs", "count"),
    ("rerank.task_busy_s", "s"), ("rerank.cand_pairs", "count"),
    ("rerank.sets_gathered", "count"), ("rerank.gather_useful_frac", "frac"),
    ("rerank.shuffle_write_mb", "MB"),
    ("metrics.kernel_us_per_pair", "us"), ("metrics.gflop", "GFLOP"),
    ("metrics.mb_moved", "MB"),
    ("set_search.s", "s"), ("set_search.task_busy_s", "s"),
    ("set_search.shuffle_write_mb", "MB"),
    ("set_search.partial_rows", "count"),
    ("dedup.lsh_pairs_s", "s"), ("dedup.cand_pairs", "count"),
    ("dedup.pair_precision", "frac"), ("dedup.components_s", "s"),
    ("text.lang_quality_s", "s"), ("text.tfidf_s", "s"),
    ("text.tfidf_scan_passes", "count"), ("text.bm25_s", "s"),
    ("curation.s", "s"), ("curation.docs_kept", "count"),
    ("jvm.rss_peak_mb", "MB"), ("trace.overhead_frac", "frac"),
    ("trace.span_coverage", "frac"),
]


def pin_host(work: str) -> int:
    """Pin the session to this host before pyspark or NumPy load."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "OPENBLAS_NUM_THREADS": "1", "OMP_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_DRIVER_MEMORY": "2g",
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in
                            os.environ.get("PYTHONPATH", "").split(os.pathsep)
                            if p]),
        # no JVM writes outside the work dir (UsePerfData writes /tmp)
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_EXTRA_CONF": ";".join([
            "spark.ui.showConsoleProgress=false",
            "spark.driver.extraJavaOptions=-XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}",
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        ]),
    })
    sys.path[:0] = [ROOT, HERE]
    return nproc


def provenance(args, nproc: int) -> dict:
    import numpy
    import pyspark

    try:   # a checkout without .git (or without git) has no sha
        git = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, env=dict(os.environ, GIT_CEILING_DIRECTORIES=(
                os.path.dirname(ROOT))))
        sha = git.stdout.strip() if git.returncode == 0 else None
    except OSError:
        sha = None
    h = hashlib.sha256()
    lib = os.path.join(ROOT, "cross_modal_multivector_search_spark")
    for d, _, files in sorted(os.walk(lib)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "nproc": nproc,
            "git_sha": sha,
            "library_sha256": h.hexdigest(),
            "pyspark": pyspark.__version__, "numpy": numpy.__version__}


def _warm_workers(it):
    import cross_modal_multivector_search_spark.operators.graph_search  # noqa: F401
    yield from it


def start_session(nproc: int):
    """Session start, timed with the first job that starts the Python
    workers (every workload pays it before its first request)."""
    from cross_modal_multivector_search_spark.session import get_spark
    t = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, 4 * nproc, 1, nproc).mapInPandas(
        _warm_workers, "id long").count()
    return spark, time.perf_counter() - t


def stop_session(spark) -> None:
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def self_check() -> bool:
    """The oracle against the library's kernels on a tiny input."""
    import numpy as np

    import oracle
    from cross_modal_multivector_search_spark.functions import metrics as M
    rng = np.random.default_rng(0)
    q = M.normalize_rows(rng.standard_normal((3, 8)))
    data = M.normalize_rows(rng.standard_normal((9, 8)))
    card = np.array([2, 3, 4])
    starts = np.array([0, 2, 5])
    return all(
        np.allclose(oracle.METRICS[name](q, data, starts),
                    M.SET_METRICS_BATCH[name](q, data, card),
                    rtol=0, atol=1e-12)
        for name in oracle.METRICS)


def measure(wl, seconds: float, trace: bool, tracer):
    """Closed loop, one request at a time, until ``seconds`` have passed
    (and at least MIN_REQUESTS were made). Traced runs alternate traced
    and untraced requests, so both latencies come from the same run, and
    make at least MIN_TRACED of each."""
    outputs, lat, counters, failed = {}, {}, {}, 0
    deadline = time.perf_counter() + seconds
    least = 2 * MIN_TRACED if trace else MIN_REQUESTS
    i = 0
    while time.perf_counter() < deadline or i < least:
        wl.prepare(i)
        traced = trace and i % 2 == 1
        t = time.perf_counter()
        try:
            if traced:
                outputs[i], counters[i] = wl.traced_request(i, tracer)
                # the request span, without the direct kernel calls and
                # the stand-alone layer calls made after it
                s = next(s for s in reversed(tracer.spans)
                         if s["request"] == i and s["name"] == "request")
                lat[i] = s["end"] - s["start"]
            else:
                outputs[i] = wl.request(i)
                lat[i] = time.perf_counter() - t
        except Exception as e:  # noqa: BLE001 — a failed request is counted
            print(f"request {i} failed: {e!r}", file=sys.stderr)
            failed += 1
        i += 1
    return i, failed, outputs, lat, counters


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def layer_metrics(wl, tracer, stages, lat, counters, setup_info) -> dict:
    from tracing import group_metrics

    groups = stages.collect()
    spans = tracer.self_times()
    traced = sorted(counters)
    m = {name: 0.0 for name, _ in PER_LAYER}
    cache: dict = {}

    def layer(i, name):
        """(span, Spark totals of its job group) of one layer call."""
        if (i, name) not in cache:
            s = next(s for s in spans
                     if s["request"] == i and s["name"] == name)
            g = groups.get(s["group"]) if s["group"] else None
            cache[i, name] = s, group_metrics(stages, g, s["start"],
                                              s["end"])
        return cache[i, name]

    def mean(name, key):
        """Mean over traced requests of a layer's span time ("s") or of
        one of its Spark totals."""
        return _mean(layer(i, name)[0]["dur"] if key == "s"
                     else layer(i, name)[1][key] for i in traced)

    per_req, coverage = [], []
    for i in traced:
        req, _ = layer(i, "request")
        kids = [s for s in spans if s["parent"] is not None
                and spans[s["parent"]] is req]
        coverage.append(sum(s["dur"] for s in kids) / req["dur"])
        merged = {"jobs": 0, "stages": []}
        for s in kids:
            g = groups.get(s["group"])
            if g:
                merged["jobs"] += g["jobs"]
                merged["stages"] += g["stages"]
        per_req.append(group_metrics(stages, merged, req["start"],
                                     req["end"]))
    for key in ("jobs", "stages", "tasks", "task_busy_s", "driver_only_s",
                "shuffle_write_mb", "task_skew"):
        m[f"spark.{key}"] = _mean(r[key] for r in per_req)
    m["trace.span_coverage"] = _mean(coverage)

    if wl.builds_index:
        m["graph_build.task_busy_s"] = statistics.median(
            layer(-1 - r, "graph_build")[1]["task_busy_s"]
            for r in range(SETUP_REPS))
        for name, key in (("graph_search", "s"), ("graph_search", "jobs"),
                          ("graph_search", "task_busy_s"),
                          ("graph_search", "task_skew"),
                          ("rerank", "s"), ("rerank", "jobs"),
                          ("rerank", "task_busy_s"),
                          ("rerank", "shuffle_write_mb"),
                          ("set_search", "s"), ("set_search", "task_busy_s"),
                          ("set_search", "shuffle_write_mb")):
            m[f"{name}.{key}"] = mean(name, key)
        # rows the exact path's per-batch partial top-k shuffles out
        m["set_search.partial_rows"] = mean("set_search",
                                            "shuffle_read_shuffle_records")
        # data sets the rerank shuffles out of its scan of the corpus
        m["rerank.sets_gathered"] = mean("rerank", "scan_shuffle_records")
        m["rerank.gather_useful_frac"] = _mean(
            counters[i]["rerank.cand_sets"]
            / max(layer(i, "rerank")[1]["scan_shuffle_records"], 1)
            for i in traced)
    else:
        for name, key in (("dedup.lsh_pairs", "dedup.lsh_pairs_s"),
                          ("dedup.components", "dedup.components_s"),
                          ("text.lang_quality", "text.lang_quality_s"),
                          ("text.tfidf", "text.tfidf_s"),
                          ("text.bm25", "text.bm25_s"),
                          ("curation", "curation.s")):
            m[key] = mean(name, "s")
        m["text.tfidf_scan_passes"] = mean("text.tfidf", "scan_stages")
    for key in {k for c in counters.values() for k in c} & set(m):
        m[key] = _mean(c[key] for c in counters.values())
    m.update(setup_info)
    untraced = [v for i, v in lat.items() if i not in counters]
    traced_lat = [v for i, v in lat.items() if i in counters]
    m["trace.overhead_frac"] = (statistics.median(traced_lat)
                                / statistics.median(untraced) - 1.0)
    return m


def run(args, work: str, nproc: int) -> tuple[dict, dict]:
    import numpy as np

    import workloads
    from tracing import RssSampler, SparkStages, Tracer

    ok = self_check()
    with RssSampler() as rss:
        spark, session_s = start_session(nproc)
        try:
            wl = workloads.WORKLOADS[args.workload](spark, args.seed, work)
            wl.generate()
            tracer = Tracer(spark.sparkContext) if args.trace else None
            setup_times = []
            for r in range(SETUP_REPS):
                t = time.perf_counter()
                if tracer is not None and wl.builds_index:
                    with tracer.span("graph_build", -1 - r):
                        wl.setup()
                else:
                    wl.setup()
                setup_times.append(time.perf_counter() - t)
            warm_until, w = time.perf_counter() + WARMUP_S, WARMUP_ID
            while (w < WARMUP_ID + WARMUP_MIN
                   or time.perf_counter() < warm_until):
                wl.prepare(w)
                wl.request(w)
                w += 1
            n, failed, outputs, lat, counters = measure(
                wl, args.seconds, bool(args.trace), tracer)
            bad, recall = wl.check(outputs)
            failed += bad
            build_s = statistics.median(setup_times)
            setup_info = {"session.start_s": session_s}
            if wl.builds_index:
                setup_info.update({
                    "graph_build.build_s": build_s,
                    "graph_build.nodes_per_s": len(wl.index.ids) / build_s,
                    "graph_build.mean_degree": float(np.mean(
                        [len(a) for a in wl.index.adj])),
                })
            if tracer is not None:
                stages = SparkStages(spark)
                metrics = layer_metrics(wl, tracer, stages, lat, counters,
                                        setup_info)
                tracer.dump(os.path.join(
                    HERE, ".results",
                    f"spans-{args.workload}-{args.seed}.json"))
        finally:
            stop_session(spark)
    if args.trace:
        metrics["jvm.rss_peak_mb"] = rss.jvm_peak
        units = dict(PER_LAYER)
    else:
        times = list(lat.values())
        metrics = {
            "setup_s": session_s + statistics.median(setup_times),
            "items_per_s": sum(wl.items(i) for i in lat) / sum(times),
            "latency_p50_ms": statistics.median(times) * 1000.0,
            "recall_at_10": recall,
            "py_rss_peak_mb": rss.py_peak,
        }
        units = dict(END_TO_END)
    result = {"correct": bool(ok and failed == 0), "attempted": n,
              "failed": failed,
              "metrics": {k: {"value": float(v), "unit": units[k]}
                          for k, v in metrics.items()}}
    detail = {"provenance": provenance(args, nproc), "requests": n,
              "latencies_s": [lat[i] for i in sorted(lat)],
              "setup_times_s": setup_times, "session_s": session_s,
              "oracle_self_check": ok}
    return result, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ann_batch", "curate_docs"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    t0 = time.perf_counter()

    work = os.path.join(HERE, ".work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(HERE, ".results"), exist_ok=True)
    nproc = pin_host(work)
    try:
        try:
            import cross_modal_multivector_search_spark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: the library is not importable: {e}",
                  file=sys.stderr)
            return 2
        result, detail = run(args, work, nproc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    detail["wall_s"] = time.perf_counter() - t0
    with open(os.path.join(HERE, ".results",
                           f"{args.workload}-{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump(dict(detail, result=result), f, indent=1)
    print(json.dumps(detail["provenance"]), file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""The repo benchmark: one workload per invocation, one JSON line out.

    python3 perfbench/run.py --workload web_rich --seed 1 --seconds 8 --trace 0

Runs from the root of a checkout.  The engine runs at ``local[nproc]`` in
this process, with ``plans.session.build_session`` defaults; the only
settings added keep Spark's scratch files and the console inside the
checkout and quiet, none of them changes a plan.  Set-up (session start
plus a small warm-up pass) is repeated three times and its median is
``setup_s``.  The timed loop then runs one pass at a time (closed loop,
one job in flight) for ``--seconds``; every pass is kept and the medians
are reported.  Outputs are checked after the loop.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` prints its per-layer metrics instead, alternating untraced
and traced passes so the tracing overhead is measured, and writes the
spans to ``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
N_SETUPS = 3


def _env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``; must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path[:0] = [ROOT, HERE]


def _session(work: str):
    from deekseek_ocr___dockerized_api_spark.plans.session import build_session

    return build_session(
        app_name="perfbench",
        extra={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload: str, seed: int, seconds: int, trace: bool, work: str) -> dict:
    """Set up, measure and check one workload; returns the metrics named in
    ``BENCHMARK.json`` (end-to-end, or per-layer when ``trace``) plus
    ``attempted`` / ``failed``."""
    from deekseek_ocr___dockerized_api_spark.operators.extraction import extract_text
    from tracing import SparkMetrics, Tracer, WorkerRss
    import gen
    import workloads

    tracer = Tracer(trace)
    off = Tracer(False)
    w = workloads.WORKLOADS[workload](work, seed, tracer)
    layers: dict[str, float] = {}

    # one small file per core, so each warm-up spawns every Python worker
    warm_docs = gen.documents(random.Random(seed), 256, 0)
    warm = gen.write_mixed_pages(warm_docs, os.path.join(work, "warm"), n_files=4)

    session_s, warmup_s = [], []
    for i in range(N_SETUPS):
        with tracer.span("setup", i=i):
            t0 = time.perf_counter()
            with tracer.span("plans.session.build_session"):
                spark = _session(work)
            t1 = time.perf_counter()
            with tracer.span("setup.warmup"):
                workloads._noop(extract_text(spark.read.parquet(warm)))
            t2 = time.perf_counter()
        session_s.append(t1 - t0)
        warmup_s.append(t2 - t1)
        if i == 0:
            # the first set-up also started the JVM, so the median leaves it
            # out; its session makes the inputs (untimed)
            t0 = time.perf_counter()
            with tracer.span("gen.corpus"):
                w.generate(spark)
            layers["gen.corpus_s"] = time.perf_counter() - t0
        if i < N_SETUPS - 1:
            spark.stop()
    setups = [a + b for a, b in zip(session_s, warmup_s)]
    layers["setup.session_s"] = statistics.median(session_s)
    layers["setup.warmup_s"] = statistics.median(warmup_s)
    with tracer.span("prime"):
        w.prime(spark)

    metrics = SparkMetrics(spark) if trace else None
    plain, traced = [], []
    deadline = time.perf_counter() + seconds
    with WorkerRss() as rss:
        i = 0
        while i < w.min_passes * (2 if trace else 1) or time.perf_counter() < deadline:
            is_traced = trace and i % 2 == 1
            w.tracer = tracer if is_traced else off
            if is_traced:
                metrics.take()  # drop what ran between passes
            with w.tracer.span("pass", i=i):
                p = w.run_pass(spark, metrics if is_traced else None)
            (traced if is_traced else plain).append(p)
            i += 1
    w.tracer = tracer

    with tracer.span("verify"):
        attempted, failed = w.verify(spark)
    out = {
        "setup_s": statistics.median(setups),
        "docs_per_s": w.input_docs / statistics.median(p["s"] for p in plain),
        "ok_frac": 1.0 - failed / attempted,
        "worker_rss_mb": rss.peak_mb,
    }
    if trace:
        with tracer.span("trace_layers"):
            layers.update(w.trace_layers(spark))
        for key in traced[0]["layers"]:
            layers[key] = statistics.median(p["layers"].get(key, 0.0) for p in traced)
        for k in ("task_commit_s", "job_commit_s"):
            layers["sink.s"] = layers.get("sink.s", 0.0) + layers.pop(f"sink.{k}", 0.0)
        layers["trace.docs_per_s_untraced"] = out["docs_per_s"]
        layers["trace.docs_per_s_traced"] = w.input_docs / statistics.median(
            p["s"] for p in traced)
        layers["trace.overhead_frac"] = 1.0 - (
            layers["trace.docs_per_s_traced"] / layers["trace.docs_per_s_untraced"]
        )
        layers["trace.passes"] = float(len(plain) + len(traced))
        out = layers
    spark.stop()
    tracer.write(os.path.join(ROOT, ".bench_work", "traces", f"{workload}-seed{seed}.json"))
    out["attempted"], out["failed"] = attempted, failed
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench = spec()
    names = [wl["name"] for wl in bench["workloads"]]
    if args.workload not in names:
        sys.exit(f"unknown workload {args.workload!r}; choose from {names}")
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _env(work)
    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result_line(bench, res, bool(args.trace))))


def result_line(bench: dict, res: dict, trace: bool) -> dict:
    """The printed result: every metric ``BENCHMARK.json`` lists for the
    mode, with its unit.  A per-layer metric of a layer the workload does
    not exercise (say ``lineage.*`` on ``web_rich``) reads 0."""
    wanted = bench["per_layer" if trace else "end_to_end"]
    metrics = {
        m["name"]: {"value": float(res.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


if __name__ == "__main__":
    main()

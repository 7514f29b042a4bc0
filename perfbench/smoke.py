#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at a tiny scale (about 3 minutes on a 4-core box).

    python3 perfbench/smoke.py

For every workload, in both modes, it checks that every metric
``BENCHMARK.json`` names is printed with its unit, that the engine's
outputs pass every check (``failed == 0``, ``ok_frac == 1``), and that the
layers a workload exercises report non-zero per-layer metrics.  It then
plants a wrong expected text and an expected url the engine never wrote,
and checks that the benchmark catches each as exactly one failure.  Exits
non-zero on any failure.
"""

from __future__ import annotations

import os
import shutil
import sys

import run

#: per-layer metrics that must be non-zero on a workload's traced run
EXERCISED = {
    "web_rich": ["python.total_s", "kernel.segment_s", "adv.entity_ref.count",
                 "adv.unclosed_a.kernel_share"],
    "extract_job": ["python.total_s", "python.bytes_sent", "python.bytes_received",
                    "scan.bytes", "scan.s", "kernel.docs.blockdoc", "shuffle.bytes_written",
                    "sink.bytes", "sink.write_amp", "lineage.chunks",
                    "lineage.pending_buckets_s"],
}
COMMON = ["setup.session_s", "setup.warmup_s", "kernel.docs_per_s",
          "trace.docs_per_s_traced", "trace.docs_per_s_untraced"]


def _shrink(workloads) -> None:
    workloads.WebRich.n_docs, workloads.WebRich.repeat = 300, 1
    workloads.ExtractJob.n_docs, workloads.ExtractJob.repeat = 300, 1
    workloads.REPLAY = 50


def main() -> int:
    work = os.path.join(run.ROOT, ".bench_work", f"smoke-{os.getpid()}")
    run._env(work)
    import workloads

    _shrink(workloads)
    bench = run.spec()
    errors = []

    def check(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            errors.append(what)

    def once(name: str, trace: bool, seed: int = 7) -> dict:
        res = run.run(name, seed, 1, trace, os.path.join(work, f"{name}-{int(trace)}"))
        return run.result_line(bench, res, trace)

    try:
        for wl in bench["workloads"]:
            name = wl["name"]
            for trace in (False, True):
                line = once(name, trace)
                wanted = bench["per_layer" if trace else "end_to_end"]
                check(
                    all(line["metrics"].get(m["name"], {}).get("unit") == m["unit"] for m in wanted),
                    f"{name} trace={int(trace)}: every metric printed with its unit",
                )
                check(line["correct"] and line["failed"] == 0 and line["attempted"] > 0,
                      f"{name} trace={int(trace)}: outputs correct "
                      f"({line['failed']}/{line['attempted']} failed)")
                vals = {k: v["value"] for k, v in line["metrics"].items()}
                if trace:
                    zero = [k for k in EXERCISED[name] + COMMON if not vals[k] > 0]
                    check(not zero, f"{name}: exercised layers report non-zero {zero or ''}")
                else:
                    check(vals["ok_frac"] == 1.0, f"{name}: ok_frac == 1")
                    check(all(v > 0 for v in vals.values()), f"{name}: end-to-end metrics non-zero")

        class PlantedText(workloads.WebRich):
            def generate(self, spark):
                super().generate(spark)
                url = next(iter(self.expected))  # an adversarial page
                self.expected[url] = (self.expected[url] or "") + " planted"

        class PlantedMissing(workloads.ExtractJob):
            def generate(self, spark):
                super().generate(spark)
                self.expected["https://planted.invalid/missing"] = "never written"

        for name, cls in (("web_rich", PlantedText), ("extract_job", PlantedMissing)):
            real = workloads.WORKLOADS[name]
            workloads.WORKLOADS[name] = cls
            try:
                line = once(name, False)
            finally:
                workloads.WORKLOADS[name] = real
            check(not line["correct"] and line["failed"] == 1
                  and line["metrics"]["ok_frac"]["value"] < 1.0,
                  f"{name}: planted mismatch caught ({line['failed']} failed)")
    finally:
        run._stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(f"{len(errors)} failures" + (f": {errors}" if errors else ""))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())

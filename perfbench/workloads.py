"""The benchmark workloads: inputs, the timed pass, and the checks.

Each workload generates its inputs from the seed (untimed), runs one
closed-loop pass at a time against the engine's public entry points, and
checks outputs against an oracle the program under test does not share a
run with: ``oracle.payload.extract_document`` replayed in the benchmark's
own process.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import pyarrow.dataset as ds
from pyspark.sql import functions as F

from deekseek_ocr___dockerized_api_spark.operators.extraction import extract_text
from deekseek_ocr___dockerized_api_spark.oracle.payload import extract_document
from deekseek_ocr___dockerized_api_spark.plans.lineage import ExtractionJob
from deekseek_ocr___dockerized_api_spark.sources.pages import write_pages

import gen
import kernel

#: urls per run whose text is compared byte for byte with the oracle
SAMPLE = 200
#: payloads per run replayed through the kernel stages in the traced run
REPLAY = 800

def oracle_text(payload: bytes) -> str | None:
    return extract_document(payload, remove_page_splits=True, with_spans=False)["text"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _read_payloads(pages_dir: str) -> tuple[list[str], list[bytes]]:
    t = ds.dataset(pages_dir, format="parquet").to_table(columns=["url", "html"])
    return t.column("url").to_pylist(), t.column("html").to_pylist()


class Workload:
    """Base: subclasses set ``name`` and implement generate / run_pass /
    verify, and share the pages-table helpers."""

    name = ""
    #: closed loop: passes run back to back until --seconds is used up,
    #: and at least this many
    min_passes = 3

    def __init__(self, work: str, seed: int, tracer):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.sample_rng = random.Random(seed ^ 0x5A3C)
        self.expected: dict[str, str | None] = {}
        self.adversarial: dict = {}
        self.input_docs = 0
        self.payload_bytes = 0

    # -- shared helpers ------------------------------------------------------

    def _expect_sample(self, pages_dir: str, extra: dict | None = None) -> None:
        urls, payloads = _read_payloads(pages_dir)
        self.input_docs = len(urls)
        self.payload_bytes = sum(map(len, payloads))
        self.expected = dict(extra or {})
        candidates = [i for i, u in enumerate(urls) if u not in self.expected]
        for i in self.sample_rng.sample(candidates, min(SAMPLE, len(candidates))):
            self.expected[urls[i]] = oracle_text(payloads[i])

    def _replay_pages(self, pages_dir: str) -> dict:
        urls, payloads = _read_payloads(pages_dir)
        normal = [i for i, u in enumerate(urls) if u not in self.adversarial]
        pick = self.sample_rng.sample(normal, min(REPLAY, len(normal)))
        adv = [i for i, u in enumerate(urls) if u in self.adversarial]
        w = len(normal) / len(pick)
        return kernel.replay(
            [payloads[i] for i in pick + adv], [w] * len(pick) + [1.0] * len(adv), self.tracer
        )

    def _check_texts(self, got: dict) -> int:
        """Expected urls missing from the engine's output or whose text
        differs from the oracle's."""
        return sum(1 for url, want in self.expected.items() if url not in got or got[url] != want)

    def _verify_extraction(self, out) -> tuple[int, int]:
        """One untimed pass over the operator's output: row count, distinct
        urls, error rows and the sampled urls' texts."""
        sample = list(self.expected)
        row = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("url").alias("distinct"),
            F.sum(F.col("text").isNull().cast("int")).alias("errors"),
            F.collect_list(
                F.when(F.col("url").isin(sample), F.struct("url", "text"))
            ).alias("sample"),
        ).collect()[0]
        got = {r["url"]: r["text"] for r in row["sample"]}
        missing = self.input_docs - row["n"]
        duplicates = row["n"] - row["distinct"]
        failed = abs(missing) + duplicates + (row["errors"] or 0) + self._check_texts(got)
        return self.input_docs, failed

    def scan_only(self, spark, path: str, cols: list[str]) -> float:
        times = []
        for _ in range(3):
            with self.tracer.span("scan.noop"):
                t0 = time.perf_counter()
                _noop(spark.read.parquet(path).select(*cols))
                times.append(time.perf_counter() - t0)
        return statistics.median(times)

    # -- interface -----------------------------------------------------------

    def generate(self, spark) -> None:
        raise NotImplementedError

    def prime(self, spark) -> None:
        """Untimed work after set-up that lets caches fill before timing."""

    def run_pass(self, spark, metrics=None) -> dict:
        """Run one pass; returns ``{"s": seconds}`` plus anything the
        workload reports per pass.  ``metrics`` (traced passes only) is read
        inside the timed interval, so tracing overhead is measured."""
        raise NotImplementedError

    def verify(self, spark) -> tuple[int, int]:
        """(attempted, failed) for ``ok_frac``."""
        raise NotImplementedError

    def trace_layers(self, spark) -> dict:
        """Per-layer measurements that need their own untimed work."""
        return {}


class WebRich(Workload):
    """Structure-heavy HTML plus seeded adversarial pages → ``extract_text``
    → noop sink."""

    name = "web_rich"
    n_docs, repeat = 5000, 1

    def generate(self, spark) -> None:
        self.docs = gen.documents(self.rng, self.n_docs, self.rng.randrange(0, gen.MAX_ID_OFFSET))
        self.pages = os.path.join(self.work, "pages")
        self.adversarial = gen.write_rich_pages(self.rng, self.docs, self.pages, self.repeat)
        self._expect_sample(self.pages, {u: a.text for u, a in self.adversarial.items()})

    def run_pass(self, spark, metrics=None) -> dict:
        t0 = time.perf_counter()
        with self.tracer.span("sources.read"):
            pages = spark.read.parquet(self.pages)
        with self.tracer.span("operators.extraction.extract_text"):
            df = extract_text(pages, remove_page_splits=True)
        with self.tracer.span("spark.action.noop"):
            _noop(df)
        out = {"layers": metrics.take()} if metrics else {}
        out["s"] = time.perf_counter() - t0
        return out

    def verify(self, spark) -> tuple[int, int]:
        return self._verify_extraction(
            extract_text(spark.read.parquet(self.pages), remove_page_splits=True)
        )

    def trace_layers(self, spark) -> dict:
        out = self._replay_pages(self.pages)
        out["scan.s"] = self.scan_only(spark, self.pages, ["url", "html"])
        corpus_s = out["kernel.docs.html"] / out["kernel.docs_per_s"]
        for fam in gen.ADVERSARIAL:
            pages = [a for a in self.adversarial.values() if a.family == fam]
            out[f"adv.{fam}.count"] = float(len(pages))
            out[f"adv.{fam}.bytes"] = float(sum(a.nbytes for a in pages))
            out[f"adv.{fam}.kernel_share"] = sum(a.kernel_s for a in pages) / corpus_s
        return out


class ExtractJob(Workload):
    """``ExtractionJob.run`` over the 1:1:1 html / blockdoc / tagged corpus,
    written by ``sources.pages.write_pages``, into a fresh out dir."""

    name = "extract_job"
    n_docs, repeat = 5000, 4
    min_passes = 4
    #: buckets per chunk: the default 64 buckets in one chunk per pass.  A
    #: pass is mostly the fixed cost of each chunk's Spark jobs (write,
    #: failures ledger, stats re-read, lineage append); one chunk leaves
    #: room for four passes in a run
    chunk_size = 64

    def generate(self, spark) -> None:
        sf = os.path.join(self.work, "sf")
        self.docs = gen.write_documents(self.rng, sf, self.n_docs)
        self.pages = write_pages(spark, sf, os.path.join(self.work, "pages"), repeat=self.repeat)
        self._expect_sample(self.pages)
        self.n_pass = 0
        self.out_dir = ""

    def prime(self, spark) -> None:
        """One untimed pass: the first job run in a fresh session takes the
        write, shuffle and lineage paths cold."""
        self.run_pass(spark)

    def run_pass(self, spark, metrics=None) -> dict:
        if self.out_dir:
            shutil.rmtree(self.out_dir)
        self.n_pass += 1
        self.out_dir = os.path.join(self.work, f"job-{self.n_pass}")
        t0 = time.perf_counter()
        job = ExtractionJob(spark, self.out_dir, chunk_size=self.chunk_size)
        with self.tracer.span("ExtractionJob.run"):
            job.run(spark.read.parquet(self.pages))
        out = {"layers": metrics.take()} if metrics else {}
        out["s"] = time.perf_counter() - t0
        if metrics:
            out["layers"].update(self._lineage_layers(job))
        return out

    def _lineage_layers(self, job) -> dict:
        t0 = time.perf_counter()
        with self.tracer.span("ExtractionJob.pending_buckets"):
            job.pending_buckets()
        pending_s = time.perf_counter() - t0
        chunks = {}
        for r in job.lineage().select("started_at", "completed_at").collect():
            chunks[r.started_at] = r.completed_at - r.started_at
        durs = sorted(chunks.values())
        return {
            "lineage.chunks": float(len(durs)),
            "lineage.chunk_p50_s": statistics.median(durs),
            "lineage.chunk_max_s": max(durs),
            "lineage.pending_buckets_s": pending_s,
            "sink.write_amp": _dir_bytes(self.out_dir) / self.payload_bytes,
        }

    def verify(self, spark) -> tuple[int, int]:
        job = ExtractionJob(spark, self.out_dir, chunk_size=self.chunk_size)
        failed = len(job.pending_buckets())
        lineage_rows = job.lineage().filter(F.col("status") == "completed").agg(
            F.sum("row_count")).collect()[0][0]
        failed += abs((lineage_rows or 0) - self.input_docs)
        attempted, bad = self._verify_extraction(job.result().select("url", "text"))
        return attempted, failed + bad

    def trace_layers(self, spark) -> dict:
        out = self._replay_pages(self.pages)
        out["scan.s"] = self.scan_only(spark, self.pages, ["url", "warc_ts", "html"])
        return out


WORKLOADS = {w.name: w for w in (WebRich, ExtractJob)}

"""Single-core replay of the extraction kernel, split by stage.

The replay calls the same public functions ``oracle.payload.extract_document``
chains together — ``sniff_kind``, ``segment_blocks`` / ``extract_main_html``,
``blockdoc_pages``, ``assemble_document``, ``clean_content`` and
``extract_spans`` — one stage at a time, and separately times the whole
``extract_document`` call per document for the latency percentiles.
"""

from __future__ import annotations

import time

from deekseek_ocr___dockerized_api_spark.oracle.assemble import assemble_document
from deekseek_ocr___dockerized_api_spark.oracle.blockdoc import blockdoc_pages
from deekseek_ocr___dockerized_api_spark.oracle.cleaner import clean_content, extract_spans
from deekseek_ocr___dockerized_api_spark.oracle.extract_html import (
    extract_main_html,
    segment_blocks,
)
from deekseek_ocr___dockerized_api_spark.oracle.payload import (
    VIRTUAL_PAGE,
    extract_document,
    sniff_kind,
)

KINDS = ("html", "blockdoc", "tagged")
STAGES = ("sniff", "segment", "select_render", "blockdoc", "assemble", "clean", "spans")


def replay(payloads: list[bytes], weights: list[float], tracer) -> dict:
    """Replay ``payloads``; ``weights[i]`` is how many corpus documents
    payload ``i`` stands for, so stage seconds, counts and throughput are
    estimates for the whole corpus on one core."""
    stage = dict.fromkeys(STAGES, 0.0)
    kinds = dict.fromkeys(KINDS, 0.0)
    doc_ms, total_s, bytes_in, chars_out = [], 0.0, 0.0, 0.0
    clock = time.perf_counter
    with tracer.span("kernel.replay", docs=len(payloads)):
        for data, w in zip(payloads, weights):
            t0 = clock()
            kind = sniff_kind(data)
            t1 = clock()
            stage["sniff"] += w * (t1 - t0)
            if kind == "html":
                html = data.decode("utf-8", "replace")
                t0 = clock()
                segment_blocks(html)
                t1 = clock()
                pages, sizes = [extract_main_html(html)], [VIRTUAL_PAGE]
                t2 = clock()
                stage["segment"] += w * (t1 - t0)
                stage["select_render"] += w * max((t2 - t1) - (t1 - t0), 0.0)
            elif kind == "blockdoc":
                t0 = clock()
                pages, sizes = blockdoc_pages(data)
                stage["blockdoc"] += w * (clock() - t0)
            else:
                pages, sizes = [data.decode("utf-8", "replace")], [VIRTUAL_PAGE]
            t0 = clock()
            joined = assemble_document(pages)
            t1 = clock()
            clean_content(joined, remove_page_splits=True)
            t2 = clock()
            for page, (pw, ph) in zip(pages, sizes):
                extract_spans(page, pw, ph)
            t3 = clock()
            stage["assemble"] += w * (t1 - t0)
            stage["clean"] += w * (t2 - t1)
            stage["spans"] += w * (t3 - t2)

            t0 = clock()
            res = extract_document(data, remove_page_splits=True, with_spans=False)
            dt = clock() - t0
            total_s += w * dt
            doc_ms.append(dt * 1e3)
            kinds[kind if kind in kinds else "tagged"] += w
            bytes_in += w * len(data)
            chars_out += w * len(res["text"] or "")
    pct = _weighted_percentiles(doc_ms, weights, (0.50, 0.99))
    out = {f"kernel.{s}_s": v for s, v in stage.items()}
    out.update({f"kernel.docs.{k}": v for k, v in kinds.items()})
    out.update(
        {
            "kernel.docs_per_s": sum(weights) / total_s if total_s else 0.0,
            "kernel.doc_p50_ms": pct[0],
            "kernel.doc_p99_ms": pct[1],
            "kernel.doc_max_ms": max(doc_ms, default=0.0),
            "kernel.bytes_in": bytes_in,
            "kernel.chars_out": chars_out,
        }
    )
    return out


def _weighted_percentiles(values: list[float], weights: list[float], qs) -> list[float]:
    pairs = sorted(zip(values, weights))
    total = sum(weights)
    out = []
    for q in qs:
        acc = 0.0
        for v, w in pairs:
            acc += w
            if acc >= q * total:
                out.append(v)
                break
        else:
            out.append(pairs[-1][0] if pairs else 0.0)
    return out

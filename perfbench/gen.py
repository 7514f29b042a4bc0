"""Seeded input generation for the benchmark workloads.

Everything the program under test reads is made here from ``--seed``: the
``documents`` corpus of an sf directory (same column names and types as
the driver's testdata table), mixed pages tables, and the structure-heavy
pages table with its seeded adversarial pages.  The same seed always gives the same bytes.
"""

from __future__ import annotations

import html as _html
import os
import random
import time
from typing import NamedTuple

import pyarrow as pa
import pyarrow.parquet as pq

from deekseek_ocr___dockerized_api_spark.oracle.fixture import (
    EPOCH_BASE,
    TS_STRIDE_S,
    build_payload,
    build_rich_payload,
    url_of,
)
from deekseek_ocr___dockerized_api_spark.oracle.payload import (
    extract_document,
    sniff_kind,
)

#: the driver corpus vocabulary (testdata ``documents.text``)
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en"] * 4 + ["zh", "fr", "es", "de"]
N_SOURCES = 20
#: doc_id offsets stay far below the query layer's twin-id offsets (1e6+)
MAX_ID_OFFSET = 200_000

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def documents(rng: random.Random, n: int, id_offset: int) -> dict:
    """``documents(doc_id, text, lang, source, n_chars)`` columns, with a
    seeded share of exact and one-word-edited duplicates, as a crawl has."""
    ids, texts = [], []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.002:
            text = texts[rng.randrange(i)]
        elif i > 10 and r < 0.012:
            words = texts[rng.randrange(i)].split(" ")
            words[rng.randrange(len(words))] = "dup"
            text = " ".join(words)
        else:
            text = " ".join(rng.choices(VOCAB, k=rng.randint(10, 100)))
        ids.append(id_offset + i)
        texts.append(text)
    return {
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in ids],
        "source": [f"src{d % N_SOURCES}" for d in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def write_documents(rng: random.Random, sf_dir: str, n_docs: int) -> dict:
    """``<sf_dir>/documents.parquet`` at a seeded doc_id offset (the offset
    moves every doc_id-keyed choice of the page fixtures)."""
    os.makedirs(sf_dir, exist_ok=True)
    docs = documents(rng, n_docs, rng.randrange(0, MAX_ID_OFFSET))
    _write(os.path.join(sf_dir, "documents.parquet"), docs)
    return docs


# --- adversarial pages (ROADMAP open item 1 families) -----------------------


def _adv_shell(doc_id: int, text: str, body: str, tail: str = "</article></body></html>") -> bytes:
    para = _html.escape(text)
    return (
        f"<!DOCTYPE html>\n<html lang=\"en\"><head><title>adv {doc_id}</title></head>"
        f"<body><article>\n<p>{para}</p>\n{body}\n{tail}"
    ).encode("utf-8")


def _entity_ref(doc_id, text, n):
    # entity-encoded unclosed grounding tags: decoded into the text the
    # cleaner's tag regex scans (quadratic in their count today)
    body = "<p>" + " ".join(f"w{i} &lt;|ref|&gt;label{i % 7}" for i in range(n)) + "</p>"
    return _adv_shell(doc_id, text, body)


def _unclosed_a(doc_id, text, n):
    # a trailing run of '<a x' with no closing '>' anywhere after it: the
    # segmenter's token regex rescans to the end of input for each '<'
    body = "<p>" + " ".join(f"word{i} <a x" for i in range(n))
    return _adv_shell(doc_id, text, body, tail="")


def _deep_nest(doc_id, text, n):
    body = "<div>" * n + f"deep content for page {doc_id}" + "</div>" * n
    return _adv_shell(doc_id, text, body)


def _huge_attr(doc_id, text, n):
    body = f'<p title="{"v" * n}">attribute carrier {doc_id}</p>'
    return _adv_shell(doc_id, text, body)


#: family → (builder, (min, max) size parameter, pages per corpus).  Many
#: mid-sized pages rather than a few huge ones: every page stays under
#: ~0.1 s single-core on the x86 box of the README baseline, so no page
#: makes one task a straggler whose placement decides the pass time, and
#: together the families take roughly a fifth to a third of the rich
#: corpus's kernel time.
ADVERSARIAL = {
    "entity_ref": (_entity_ref, (350, 500), 8),
    "unclosed_a": (_unclosed_a, (1500, 2000), 8),
    "deep_nest": (_deep_nest, (4000, 8000), 8),
    "huge_attr": (_huge_attr, (400_000, 800_000), 8),
}


class Adversarial(NamedTuple):
    family: str
    size: int
    nbytes: int
    kernel_s: float
    text: str


def _tile(docs: dict, repeat: int) -> list[tuple[int, str, str]]:
    """(doc_id, text, lang) rows, the corpus repeated with distinct ids."""
    ids = docs["doc_id"].to_pylist()
    n = ids[-1] + 1
    return [
        (d + rep * n, t, lang)
        for rep in range(repeat)
        for d, t, lang in zip(ids, docs["text"], docs["lang"])
    ]


def _write_pages_table(out_dir: str, rows: list, payloads: list, n_files: int) -> str:
    """``pages(url, warc_ts, html, text, lang)`` parquet in ``n_files``
    consecutive slices, url and warc_ts by the fixture's rules."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(rows) // n_files)
    for f, lo in enumerate(range(0, len(rows), per)):
        part = rows[lo : lo + per]
        table = pa.table(
            {
                "url": [url_of(d) for d, _, _ in part],
                "warc_ts": pa.array(
                    [(EPOCH_BASE + d * TS_STRIDE_S) * 1_000_000 for d, _, _ in part],
                    pa.timestamp("us", tz="UTC"),
                ),
                "html": pa.array(payloads[lo : lo + per], pa.binary()),
                "text": [t for _, t, _ in part],
                "lang": [lang for _, _, lang in part],
            },
            schema=PAGES_SCHEMA,
        )
        pq.write_table(table, os.path.join(out_dir, f"part-{f:05d}.parquet"))
    return out_dir


def write_mixed_pages(docs: dict, out_dir: str, n_files: int = 64) -> str:
    """The 1:1:1 html / blockdoc / tagged pages (``build_payload``), written
    without Spark."""
    rows = _tile(docs, 1)
    return _write_pages_table(out_dir, rows, [build_payload(d, t) for d, t, _ in rows], n_files)


def write_rich_pages(
    rng: random.Random, docs: dict, out_dir: str, repeat: int, n_files: int = 64
) -> dict:
    """Structure-heavy pages (``build_rich_payload``) tiled ``repeat`` times,
    with the adversarial pages put in place of seeded rows, one per stratum
    of the table so they spread across files.  A family's sizes are drawn
    one per equal slice of its range, so its total work hardly moves from
    seed to seed.  Each adversarial page is checked to sniff as html and to
    extract without an error row; returns ``{url: Adversarial}`` for them,
    with each page's single-core kernel time and oracle text."""
    rows = _tile(docs, repeat)
    slots = []
    for fam, (_, (lo, hi), cnt) in ADVERSARIAL.items():
        step = (hi - lo) / cnt
        slots += [(fam, int(lo + step * (k + rng.random()))) for k in range(cnt)]
    rng.shuffle(slots)
    stride = len(rows) // len(slots)
    adv_at = {s * stride + rng.randrange(stride): slot for s, slot in enumerate(slots)}
    adversarial = {}
    payloads = []
    for i, (doc_id, text, _) in enumerate(rows):
        if i not in adv_at:
            payloads.append(build_rich_payload(doc_id, text))
            continue
        fam, size = adv_at[i]
        payload = ADVERSARIAL[fam][0](doc_id, text, size)
        if sniff_kind(payload) != "html":
            raise RuntimeError(f"adversarial {fam} page does not sniff as html")
        t0 = time.perf_counter()
        res = extract_document(payload, remove_page_splits=True, with_spans=False)
        kernel_s = time.perf_counter() - t0
        if res["error"] is not None:
            raise RuntimeError(f"adversarial {fam} page is an error row: {res['error']}")
        adversarial[url_of(doc_id)] = Adversarial(fam, size, len(payload), kernel_s, res["text"])
        payloads.append(payload)
    _write_pages_table(out_dir, rows, payloads, n_files)
    return adversarial

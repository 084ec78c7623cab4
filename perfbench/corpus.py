"""Seeded Common-Crawl-style corpus for the extraction benchmark.

Each workload seed selects its own row-id range; the documents are the
pure functions of the row id that ``sources.synth`` exposes
(``make_html`` / ``make_pdf``), so the same seed always yields the same
bytes. The corpus is written to parquet during set-up and the program
under test only ever reads that parquet.

Mix (the generator's defaults): every 5th id is a PDF, the rest HTML;
about 1/64 HTML pages carry 40x paragraphs, 1/16 have an empty body and
1/16 carry one >500-word paragraph (readability fallback).

Every seed's slice has the same layout: position p holds a document of
the same kind (PDF, empty, long-paragraph, heavy-tail or plain HTML) and
paragraph count as position p of the reference range, filled with the
seed's own ids. Without this the seed alone moves the work in a slice by
+-10% and the slowest input split by +-15% (a heavy-tail page costs ~40
plain ones), which would swamp the changes the benchmark is meant to see.
"""

from __future__ import annotations

import datetime as _dt
from typing import Iterator

import numpy as np
import pandas as pd

from navigator_document_parser_spark.schema import DOCUMENTS_SCHEMA
from navigator_document_parser_spark.sources.synth import (
    EPOCH,
    LANGS,
    _rng,
    make_html,
    make_pdf,
)

# Seed ranges start above the warm-up range and are ID_STRIDE wide.
# warc_ts is EPOCH + i hours and timestamps end with year 9999, so ids
# stay below 6.6e7: seeds wrap after MAX_SEEDS ranges.
WARMUP_BASE = 0
ID_BASE = 1_000_000
ID_STRIDE = 100_000
MAX_SEEDS = 640

# Files per corpus: a crawl slice arrives as several files, independent
# of the machine the benchmark runs on.
CORPUS_FILES = 8


def seed_base(seed: int) -> int:
    return ID_BASE + (seed % MAX_SEEDS) * ID_STRIDE


def warmup_ids(n: int) -> list[int]:
    return list(range(WARMUP_BASE, WARMUP_BASE + n))


def is_pdf(i: int) -> bool:
    return i % 5 == 4


def url_of(i: int) -> str:
    return f"https://site{i % 17}.example.org/page/{i}" + (".pdf" if is_pdf(i) else "")


def blob_of(i: int) -> bytes:
    return make_pdf(i) if is_pdf(i) else make_html(i)


def doc_class(i: int) -> tuple:
    """What decides a document's extraction cost, by the generator's own
    rules in ``sources.synth.make_html``: PDF, empty body, or the
    paragraph count and whether it is a long-paragraph or heavy-tail
    page."""
    if is_pdf(i):
        return ("pdf",)
    r = _rng(i, 0)
    if r % 16 == 7:
        return ("empty",)
    kind = "heavy" if r % 64 == 11 else "long" if r % 16 == 3 else "html"
    return (kind, 6 + _rng(i, 1) % 35)


def slice_ids(seed: int, n: int) -> list[int]:
    """``n`` distinct ids from the seed's range, position p holding an id
    of the same ``doc_class`` as reference id ID_BASE + p."""
    pools: dict[tuple, list[int]] = {}
    want = [doc_class(ID_BASE + p) for p in range(n)]
    need: dict[tuple, int] = {}
    for c in want:
        need[c] = need.get(c, 0) + 1
    base = seed_base(seed)
    missing = len(need)
    for i in range(base, base + ID_STRIDE):
        c = doc_class(i)
        pool = pools.setdefault(c, [])
        if len(pool) < need.get(c, 0):
            pool.append(i)
            if len(pool) == need[c]:
                missing -= 1
                if missing == 0:
                    break
    if missing:
        raise ValueError(f"seed {seed}: id range too narrow for {n} documents")
    taken = {c: iter(pool) for c, pool in pools.items()}
    return [next(taken[c]) for c in want]


def is_duplicated(p: int) -> bool:
    """Slice positions whose row appears twice in a recrawl input
    (about 1 in 32)."""
    return (p // 3) % 32 == 5


def commit_group(p: int) -> int:
    """0 = never committed before the resume; 1..9 = committed by an
    earlier merge. Blocks of 7 positions keep every document kind in
    every group."""
    return (p // 7) % 10


def _rows(ids) -> pd.DataFrame:
    ids = [int(i) for i in ids]
    return pd.DataFrame({
        "url": [url_of(i) for i in ids],
        "warc_ts": [EPOCH + _dt.timedelta(hours=i) for i in ids],
        "html": [blob_of(i) for i in ids],
        "text": [""] * len(ids),
        "lang": [LANGS[i % len(LANGS)] for i in ids],
    })


def write_corpus(spark, ids: list[int], path: str) -> None:
    """Generate the rows for ``ids`` (in order) on the executors and
    write them as CORPUS_FILES parquet files."""
    id_arr = np.asarray(ids, dtype=np.int64)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _rows(id_arr[pdf["id"].to_numpy()])

    (
        spark.range(0, len(ids), 1, CORPUS_FILES)
        .mapInPandas(gen, schema=DOCUMENTS_SCHEMA)
        .write.mode("overwrite")
        .parquet(path)
    )

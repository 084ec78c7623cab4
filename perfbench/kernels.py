"""Single-thread timings of the pure-Python extraction kernels.

Direct calls, no Spark: the first SAMPLE_DOCS of the workload's documents
goes through ``policy.extract_html`` / ``pdf_blocks.extract_pdf``, then
``langid.detect_document`` on the block texts (what the extract UDF does
per row), and ``translate.translate_texts`` on the blocks (what the
translate UDFs do per translated row).
"""

from __future__ import annotations

import statistics
import time

from navigator_document_parser_spark.extraction import langid, policy
from navigator_document_parser_spark.extraction.pdf_blocks import extract_pdf
from navigator_document_parser_spark.extraction.translate import translate_texts

from . import corpus

SAMPLE_DOCS = 640


def _pct(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def profile(ids: list[int], target: str, cores: int) -> dict:
    html_us, pdf_us, langid_us, translate_us, per_doc_s = [], [], [], [], []
    clock = time.perf_counter
    for i in ids[:SAMPLE_DOCS]:  # consecutive ids: every PDF/language residue
        blob = corpus.blob_of(i)
        if corpus.is_pdf(i):
            t0 = clock()
            ext = extract_pdf(blob)
            t1 = clock()
            texts = [b.text for b in ext.blocks]
            langid.detect_document(texts)
            t2 = clock()
            for t in texts:
                translate_texts([t], target)
            t3 = clock()
            pdf_us.append((t1 - t0) * 1e6)
        else:
            html = blob.decode("utf-8", errors="replace")
            t0 = clock()
            r = policy.extract_html(html)
            t1 = clock()
            langid.detect_document([" ".join(b.text) for b in r.text_blocks])
            t2 = clock()
            for b in r.text_blocks:
                translate_texts(b.text, target)
            t3 = clock()
            html_us.append((t1 - t0) * 1e6)
        langid_us.append((t2 - t1) * 1e6)
        translate_us.append((t3 - t2) * 1e6)
        per_doc_s.append(t2 - t0)
    mean_s = statistics.fmean(per_doc_s)
    return {
        "extraction.html_us_p50": _pct(html_us, 0.5),
        "extraction.html_us_p99": _pct(html_us, 0.99),
        "extraction.pdf_us_p50": _pct(pdf_us, 0.5),
        "extraction.pdf_us_p99": _pct(pdf_us, 0.99),
        "extraction.langid_us_p50": _pct(langid_us, 0.5),
        "extraction.translate_us_p50": _pct(translate_us, 0.5),
        "extraction.ideal_docs_per_s": cores / mean_s,
        "kernel_s_per_doc": mean_s,
        "samples": len(per_doc_s),
    }

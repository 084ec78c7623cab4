"""The three workloads: set-up, the timed job, layer probes and checks.

Every workload drives the same public entry points ``jobs/extract.py``
calls, in the same order:

  read_documents -> sink.prune_extraction_input -> run_extraction
  -> sink.merge                                     (extraction job)
  sink.read -> sink.committed_translation_keys -> run_translation
  -> sink.merge                                     (translation job)

* fresh_crawl: a new slice into an empty sink, merge with
  assume_unique_keys=True. Extraction kernels and the Arrow UDF
  boundary do most of the work; the sink writes once.
* recrawl_resume: set-up commits ~9/10 of the slice in three earlier
  merges; the input carries duplicate (url, warc_ts) rows so the
  default in-batch dedup runs. The timed job resumes the remaining
  tenth. Sink key scans and anti-joins dominate.
* translate_fanout: set-up commits the extracted slice; the timed job
  translates it to two targets. No extraction kernel runs: nested block
  arrays cross the translate UDFs and fan out through the explode.

Each repetition starts from a copy of the set-up sink, runs the timed
job, then runs it again unchanged: the re-run must insert 0 rows and
its wall time is ``rerun_s``.
"""

from __future__ import annotations

import hashlib
import math
import shutil
import statistics
import time
from collections import Counter
from pathlib import Path

from pyspark.sql import functions as F

from navigator_document_parser_spark.extraction import policy
from navigator_document_parser_spark.extraction.pdf_blocks import extract_pdf
from navigator_document_parser_spark.extraction.translate import translate_texts
from navigator_document_parser_spark.plans.job import (
    run_extraction,
    run_translation,
    with_route,
)
from navigator_document_parser_spark.plans.sink import ParquetMergeSink
from navigator_document_parser_spark.sources.readers import read_documents

from . import corpus

PARSING_DATE = "2026-01-01T00:00:00"
TARGETS = ["en", "fr"]
# Distinct documents per slice; each size makes one repetition (timed
# job + re-run) take a few seconds on a 4-core machine.
DOCS = {"fresh_crawl": 2400, "recrawl_resume": 2400, "translate_fanout": 1000}
WARMUP_DOCS = 96
# documents whose sink text is compared byte for byte with a direct call
TEXT_SAMPLE = 48


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def copy_sink(src: ParquetMergeSink, dst: Path) -> ParquetMergeSink:
    for a, b in ((src.path, str(dst)), (src.lineage_path, str(dst) + "_lineage")):
        if Path(a).exists():
            shutil.copytree(a, b)
    return ParquetMergeSink(str(dst))


def remove_sink(sink: ParquetMergeSink) -> None:
    for p in (sink.path, sink.lineage_path):
        shutil.rmtree(p, ignore_errors=True)


def _files(sink: ParquetMergeSink) -> dict[str, int]:
    out = {}
    for root in (sink.path, sink.lineage_path):
        if Path(root).exists():
            for f in Path(root).rglob("*.parquet"):
                out[str(f)] = f.stat().st_size
    return out


def dir_bytes(path: str) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3


def _median_time(fn, n: int = 3) -> float:
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def direct_text(i: int) -> str:
    """The extracted text for id ``i`` from a direct kernel call."""
    blob = corpus.blob_of(i)
    if corpus.is_pdf(i):
        return extract_pdf(blob).content
    return policy.extract_html(blob.decode("utf-8", errors="replace")).text


def direct_translated_text(i: int, target: str) -> str:
    """What run_translation stores as ``text`` for id ``i``: translated
    block lines joined by newlines; the original text when there are
    no blocks."""
    blob = corpus.blob_of(i)
    if corpus.is_pdf(i):
        blocks = extract_pdf(blob).blocks
        if blocks:
            return "\n".join(translate_texts([b.text], target)[0] for b in blocks)
        return extract_pdf(blob).content
    r = policy.extract_html(blob.decode("utf-8", errors="replace"))
    if r.text_blocks:
        return "\n".join(
            line for b in r.text_blocks for line in translate_texts(b.text, target)
        )
    return r.text


class Workload:
    """Set-up, timed job and checks shared by the three workloads."""

    name = ""
    assume_unique_keys = False
    # one untimed repetition on the slice finishes warming the session
    # (the small warm-up slice leaves it ~20% slow)
    untimed_rep = True

    def __init__(self, bench, ids: list[int], tag: str):
        self.b = bench
        self.ids = ids
        self.dir = bench.work / tag
        self.corpus = str(self.dir / "corpus")
        self.start = ParquetMergeSink(str(self.dir / "start"))
        self.expected_pairs: set[tuple[str, str]] = set()

    # -- inputs ---------------------------------------------------------

    def input_ids(self) -> list[int]:
        return self.ids

    def setup(self) -> None:
        corpus.write_corpus(self.b.spark, self.input_ids(), self.corpus)
        self.prepare_sink()

    def prepare_sink(self) -> None:
        """Commit what the timed job starts from (nothing by default)."""

    def docs(self):
        with self.b.tracer.span("sources.read_documents"):
            return read_documents(self.b.spark, self.corpus)

    # -- jobs -------------------------------------------------------------

    def extraction_job(self, sink, run_id, docs=None,
                       assume_unique_keys=None) -> dict:
        t = self.b.tracer
        if assume_unique_keys is None:
            assume_unique_keys = self.assume_unique_keys
        docs = self.docs() if docs is None else docs
        with t.span("sink.prune_extraction_input"):
            pruned = sink.prune_extraction_input(self.b.spark, docs)
        with t.span("plans.run_extraction"):
            extracted = run_extraction(
                pruned, run_id=run_id, parsing_date=PARSING_DATE
            )
        with t.span("sink.merge"):
            return sink.merge(
                self.b.spark, extracted, run_id,
                assume_unique_keys=assume_unique_keys,
            )

    def translation_batch(self, sink, run_id, committed=True):
        t = self.b.tracer
        with t.span("sink.read"):
            rows = sink.read(self.b.spark).filter(~F.col("translated"))
        keys = None
        if committed:
            with t.span("sink.committed_translation_keys"):
                keys = sink.committed_translation_keys(self.b.spark)
        with t.span("plans.run_translation"):
            return run_translation(rows, TARGETS, run_id=run_id, committed=keys)

    def translation_job(self, sink, run_id) -> dict:
        batch = self.translation_batch(sink, run_id)
        with self.b.tracer.span("sink.merge"):
            return sink.merge(self.b.spark, batch, run_id)

    def job(self, sink, run_id) -> dict:
        return self.extraction_job(sink, run_id)

    def job_docs(self) -> int:
        """Input documents the timed job is given."""
        return len(self.input_ids())

    def expected_inserted(self) -> int:
        return len(self.ids)

    # -- one repetition ---------------------------------------------------

    def rep(self, k: int, rerun: bool = True) -> dict:
        """Timed job on a copy of the starting sink, then (optionally)
        the unchanged re-run that must insert nothing."""
        b = self.b
        sink = copy_sink(self.start, self.dir / f"sink-{k}")
        out = {"sink": sink, "docs": self.job_docs(), "rerun_s": None,
               "rerun_inserted": 0}
        b.heap.reset()
        gc0 = jvm_gc_s(b.spark)
        with b.tracer.span("rep"):
            with b.sampler.window() as w, b.tracer.span("job") as job_span:
                t0 = time.perf_counter()
                stats = self.job(sink, f"{self.name}-{k}")
                out["job_s"] = time.perf_counter() - t0
            # the resident heap counted as the part the job used
            out["heap_used"] = b.heap.peak_used()
            out["peak_rss"] = w["peak_rss"] - b.heap.committed + out["heap_used"]
            if rerun:
                b.host.sample()
                with b.tracer.span("rerun"):
                    t0 = time.perf_counter()
                    again = self.job(sink, f"{self.name}-{k}-rerun")
                    out["rerun_s"] = time.perf_counter() - t0
                out["rerun_inserted"] = again["inserted"]
        # job and re-run: a job alone rarely fills the young generation
        out["gc_s"] = jvm_gc_s(b.spark) - gc0
        out.update(
            cpu_s=w["cpu_s"],
            inserted=stats["inserted"],
            failed=abs(stats["inserted"] - self.expected_inserted())
            + out["rerun_inserted"],
            job_span=job_span["id"] if job_span else None,
        )
        return out

    # -- correctness of the final sink -------------------------------------

    def sample_ids(self) -> list[int]:
        # a stride coprime with 20 visits every PDF (i % 5) and
        # language (i % 4) residue
        step = max(1, len(self.ids) // TEXT_SAMPLE)
        while math.gcd(step, 20) != 1:
            step += 1
        return self.ids[::step][:TEXT_SAMPLE]

    def check(self, sink) -> tuple[int, list[str], str]:
        """Returns (documents failing a check, messages, digest)."""
        spark = self.b.spark
        df = sink.read(spark)
        rows = df.select(
            "url",
            F.col("warc_ts").cast("string").alias("ts"),
            "translated_to",
            "parser",
            F.sha2(F.col("text"), 256).alias("h"),
        ).collect()
        failed, msgs = 0, []

        keys = Counter((r.url, r.ts, r.translated_to) for r in rows)
        dups = sum(c - 1 for c in keys.values() if c > 1)
        if dups:
            failed += dups
            msgs.append(f"{dups} duplicate key rows")

        want = {corpus.url_of(i) for i in self.ids}
        have = {r.url for r in rows if r.translated_to is None}
        if have != want:
            failed += len(have ^ want)
            msgs.append(
                f"committed rows {len(have)} != distinct input keys {len(want)}"
            )

        pairs = {(r.url, r.translated_to) for r in rows if r.translated_to}
        if pairs != self.expected_pairs:
            failed += len(pairs ^ self.expected_pairs)
            msgs.append(
                f"translated rows {len(pairs)} != expected fan-out "
                f"{len(self.expected_pairs)}"
            )

        sample = {corpus.url_of(i): i for i in self.sample_ids()}
        texts = df.filter(F.col("url").isin(list(sample))).select(
            "url", "translated_to", "text"
        ).collect()
        bad = set()
        for r in texts:
            i = sample[r.url]
            want_text = (
                direct_text(i) if r.translated_to is None
                else direct_translated_text(i, r.translated_to)
            )
            if r.text != want_text:
                bad.add(r.url)
        if bad:
            failed += len(bad)
            msgs.append(f"{len(bad)} sampled urls differ from a direct call")

        digest = hashlib.sha256(
            "\n".join(
                sorted(f"{r.url}\t{r.ts}\t{r.translated_to}\t{r.parser}\t{r.h}"
                       for r in rows)
            ).encode()
        ).hexdigest()
        return failed, msgs, digest

    # -- layer probes (traced run only) -------------------------------------

    def udf_batch(self, sink, run_id):
        """What the timed job hands to merge(), starting from ``sink``."""
        docs = read_documents(self.b.spark, self.corpus)
        return run_extraction(
            sink.prune_extraction_input(self.b.spark, docs),
            run_id=run_id, parsing_date=PARSING_DATE,
        )

    def keep_frac(self, sink) -> float:
        docs = read_documents(self.b.spark, self.corpus)
        return sink.prune_extraction_input(self.b.spark, docs).count() / docs.count()

    def probes(self, final_sink) -> dict:
        """Per-layer timings, each forcing one layer's public call."""
        b, t, spark = self.b, self.b.tracer, self.b.spark
        m = {}
        with t.span("probe.sources.scan"):
            m["sources.scan_s"] = _median_time(
                lambda: _noop(with_route(read_documents(spark, self.corpus)))
            )
        m["sources.input_mb"] = dir_bytes(self.corpus) / 1e6
        with t.span("probe.job.extract"):
            t0 = time.perf_counter()
            _noop(run_extraction(read_documents(spark, self.corpus),
                                 run_id="probe", parsing_date=PARSING_DATE))
            m["job.extract_s"] = time.perf_counter() - t0
        with t.span("probe.job.translate"):
            t0 = time.perf_counter()
            _noop(run_translation(
                final_sink.read(spark).filter(~F.col("translated")),
                TARGETS, run_id="probe",
            ))
            m["job.translate_s"] = time.perf_counter() - t0

        start = copy_sink(self.start, self.dir / "probe-start")
        with t.span("probe.sink.committed_keys"):
            m["sink.committed_keys_s"] = _median_time(
                lambda: (start.committed_extraction_keys(spark),
                         start.committed_translation_keys(spark))
            )
        with t.span("probe.sink.prune"):
            m["sink.prune_s"] = _median_time(
                lambda: _noop(start.prune_extraction_input(
                    spark, read_documents(spark, self.corpus)))
            )
        m["sink.udf_keep_frac"] = self.keep_frac(start)

        batch_path = str(self.dir / "probe-batch")
        self.udf_batch(start, "probe-merge").write.parquet(batch_path)
        batch = spark.read.parquet(batch_path)
        presented = batch.count()
        target = copy_sink(self.start, self.dir / "probe-merge")
        before = _files(target)
        with t.span("probe.sink.merge"):
            t0 = time.perf_counter()
            stats = target.merge(spark, batch, "probe-merge",
                                 assume_unique_keys=self.assume_unique_keys)
            m["sink.merge_s"] = time.perf_counter() - t0
        new = {f: s for f, s in _files(target).items() if f not in before}
        m["sink.write_mb"] = sum(new.values()) / 1e6
        m["sink.files_written"] = len(new)
        m["sink.useful_frac"] = stats["inserted"] / presented if presented else 0.0
        for s in (start, target):
            remove_sink(s)
        shutil.rmtree(batch_path, ignore_errors=True)
        return m


class FreshCrawl(Workload):
    name = "fresh_crawl"
    assume_unique_keys = True


class RecrawlResume(Workload):
    name = "recrawl_resume"
    # the three earlier merges of the set-up already run every path of
    # the timed job
    untimed_rep = False

    def input_ids(self) -> list[int]:
        return self.ids + [
            i for p, i in enumerate(self.ids) if corpus.is_duplicated(p)
        ]

    def prepare_sink(self) -> None:
        # three earlier crawls committed groups 1-3, 4-6 and 7-9
        docs = read_documents(self.b.spark, self.corpus)
        for k, groups in enumerate(((1, 2, 3), (4, 5, 6), (7, 8, 9))):
            urls = [corpus.url_of(i) for p, i in enumerate(self.ids)
                    if corpus.commit_group(p) in groups]
            self.extraction_job(self.start, f"earlier-{k}",
                                docs=docs.filter(F.col("url").isin(urls)))

    def expected_inserted(self) -> int:
        return sum(1 for p in range(len(self.ids)) if corpus.commit_group(p) == 0)


class TranslateFanout(Workload):
    name = "translate_fanout"

    def prepare_sink(self) -> None:
        self.extraction_job(self.start, "extract", assume_unique_keys=True)
        rows = self.start.read(self.b.spark).select("url", "languages").collect()
        self.expected_pairs = {
            (r.url, t)
            for r in rows
            for t in TARGETS
            if not (len(r.languages) == 1 and r.languages[0] == t)
        }

    def job(self, sink, run_id) -> dict:
        return self.translation_job(sink, run_id)

    def expected_inserted(self) -> int:
        return len(self.expected_pairs)

    def udf_batch(self, sink, run_id):
        return self.translation_batch(sink, run_id)

    def keep_frac(self, sink) -> float:
        kept = self.translation_batch(sink, "probe").count()
        return kept / self.translation_batch(sink, "probe", committed=False).count()


WORKLOADS = {w.name: w for w in (FreshCrawl, RecrawlResume, TranslateFanout)}
# What warms each session on a disjoint slice. recrawl_resume warms as a
# fresh crawl: its own set-up then runs the dedup and resume paths.
WARMUP = {
    "fresh_crawl": FreshCrawl,
    "recrawl_resume": FreshCrawl,
    "translate_fanout": TranslateFanout,
}

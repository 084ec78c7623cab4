"""Extraction benchmark: scan -> route -> Arrow extract UDF -> keyed sink
-> resume -> translation, driven through the program's public entry
points on a seeded synthetic crawl slice.

    python3 perfbench/run.py --workload fresh_crawl --seed 1 --seconds 15 --trace 0

Run from the repository root. One invocation runs one workload in its
own process (and so its own JVM) on local[nproc]: set-up (session,
warm-up on a disjoint slice, corpus, starting sink), then repetitions of
the timed job for ``--seconds`` seconds, then correctness checks.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced repetitions (spans, and the Spark event log on for
the traced ones only), probes each layer, and prints the per-layer
metrics; its local[1] comparison runs in a child process. The job
timings are reported at a reference host speed, measured by a fixed
Spark probe between repetitions (hostspeed.py).
``--workload all`` runs every workload, each in a fresh subprocess. Every metric is printed as
``name value unit``; the last line is one JSON object.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

T_START = time.perf_counter()

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

WORKLOAD_NAMES = ["fresh_crawl", "recrawl_resume", "translate_fanout"]
# fresh_crawl documents timed at local[nproc] and at local[1]
SCALING_DOCS = 1600
# the local[1] scaling child (about 40 s on 4 cores; it starts ~90 s
# into a traced run); a whole workload child of --workload all
SCALING_TIMEOUT_S = 90
WORKLOAD_TIMEOUT_S = 600

E2E_UNITS = {
    "docs_per_s": "docs/s",
    "rerun_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "extraction.html_us_p50": "us",
    "extraction.html_us_p99": "us",
    "extraction.pdf_us_p50": "us",
    "extraction.pdf_us_p99": "us",
    "extraction.langid_us_p50": "us",
    "extraction.ideal_docs_per_s": "docs/s",
    "extraction.translate_us_p50": "us",
    "udfs.kernel_share": "frac",
    "udfs.arrow_mb_sent": "MB",
    "udfs.arrow_mb_recv": "MB",
    "job.extract_s": "s",
    "job.translate_s": "s",
    "sources.scan_s": "s",
    "sources.input_mb": "MB",
    "sink.prune_s": "s",
    "sink.committed_keys_s": "s",
    "sink.udf_keep_frac": "frac",
    "sink.merge_s": "s",
    "sink.write_mb": "MB",
    "sink.files_written": "count",
    "sink.useful_frac": "frac",
    "spark.tasks": "count",
    "spark.task_s_p50": "s",
    "spark.task_s_max": "s",
    "spark.cpu_busy_frac": "frac",
    "spark.shuffle_write_mb": "MB",
    "spark.gc_s": "s",
    "spark.spill_mb": "MB",
    "spark.scaling_eff_1to4": "frac",
    "trace.overhead_docs_per_s": "docs/s",
}
# Printed but left out of the result line: nothing spills at these
# slice sizes, so it reads 0.
PRINTED_ONLY = {"spark.spill_mb"}


@dataclass
class Bench:
    spark: object
    work: Path
    tracer: object
    sampler: object
    heap: object
    cores: int
    host: object


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb(threads: int) -> int:
    """1 GiB plus 256 MiB per task thread, at most a quarter of physical
    memory: room for the Python workers and this process beside it."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return min(1024 + 256 * threads, total_kb // 4 // 1024)


def start_session(work: Path, threads: int):
    from navigator_document_parser_spark.config import build_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # the Python workers import the package (and this benchmark's corpus
    # generator) from the repository root, wherever the run starts from
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    mem = driver_memory_mb(threads)
    conf = {
        "spark.driver.memory": f"{mem}m",
        # The heap is fixed and resident from the start, as on a
        # long-running executor; otherwise resident memory keeps
        # growing with every repetition as the collector touches more
        # of the heap. peak_rss_mb counts only the heap in use
        # (trace.JvmHeap).
        # C1 alone gets a 48 MB code cache, which a long traced run
        # fills, and then the JIT stops: give it the tiered default
        "spark.driver.extraJavaOptions":
            f"-Xms{mem}m -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData -XX:TieredStopAtLevel=1 "
            "-XX:ReservedCodeCacheSize=240m",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    spark = build_spark("perfbench", master=f"local[{threads}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit."""
    from pyspark import SparkContext

    from perfbench.trace import process_tree

    gw = SparkContext._gateway
    tree = process_tree(gw.proc.pid)
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()
    try:
        gw.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    deadline = time.monotonic() + 30
    for pid in tree:
        while Path(f"/proc/{pid}").exists():
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)


def run_child(args: list[str], timeout: float) -> dict:
    """This script in a fresh process: its result line and the lines
    before it. Raises if it times out or prints no result."""
    out = subprocess.run(
        [sys.executable, str(Path(__file__).resolve())] + args,
        capture_output=True, text=True, timeout=timeout, cwd=ROOT,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
    if out.returncode not in (0, 1) or not lines:
        raise RuntimeError(f"child {args} exited {out.returncode}")
    return {"json": json.loads(lines[-1]), "lines": lines[:-1]}


def scaling_reps(w) -> list[float]:
    """Job seconds of fresh_crawl on the scaling slice, run the same way
    at local[nproc] and at local[1]: one untimed repetition, then two
    timed ones."""
    reps = [w.rep(k, rerun=False) for k in range(3)]
    if any(r["failed"] for r in reps):
        raise RuntimeError("scaling job inserted the wrong number of rows")
    return [r["job_s"] for r in reps]


def timed_reps(b: Bench, w, seconds: float, tracer=None, log=None) -> list[dict]:
    """Repetitions of the timed job for ``seconds``. With a tracer, every
    other repetition is traced (spans and the Spark event log on) and
    the rest run exactly as in an untraced run."""
    from perfbench.trace import NullTracer
    from perfbench.workloads import remove_sink

    reps, t0 = [], time.perf_counter()
    while len(reps) < (2 if tracer else 1) or time.perf_counter() - t0 < seconds:
        if reps:
            remove_sink(reps[-1]["sink"])
        b.host.sample()
        traced = tracer is not None and len(reps) % 2 == 1
        b.tracer = tracer if traced else NullTracer()
        with log.attached() if traced else contextlib.nullcontext():
            rep = w.rep(len(reps) + 1)
        rep["traced"] = traced
        reps.append(rep)
    b.host.sample()
    b.tracer = tracer or NullTracer()
    return reps


def e2e_metrics(reps: list[dict], setup_s: float, slowdown: float) -> dict:
    """Medians over repetitions; the job timings at the reference host
    speed (hostspeed.py), ``slowdown`` being the run's probe time /
    reference. Set-up is reported as measured: it runs before most of the
    probes, and work moved into it must show as it is."""
    return {
        "docs_per_s": statistics.median(r["docs"] / r["job_s"] for r in reps)
        * slowdown,
        "rerun_s": statistics.median(r["rerun_s"] for r in reps) / slowdown,
        "setup_s": setup_s,
        "peak_rss_mb": statistics.median(r["peak_rss"] for r in reps) / 1e6,
    }


def spark_layer_metrics(b: Bench, reps: list[dict], tasks: list[dict]) -> dict:
    """Event-log and /proc metrics of each traced repetition's timed job,
    medians over repetitions."""
    per_rep = []
    for r in reps:
        mine = [t for t in tasks
                if t["span"] is not None and b.tracer.under(t["span"], r["job_span"])]
        durs = [t["dur_s"] for t in mine] or [0.0]
        per_rep.append({
            "spark.tasks": len(mine),
            "spark.task_s_p50": statistics.median(durs),
            "spark.task_s_max": max(durs),
            "spark.cpu_busy_frac": r["cpu_s"] / (r["job_s"] * b.cores),
            "spark.shuffle_write_mb": sum(t["shuffle_w_b"] for t in mine) / 1e6,
            "spark.gc_s": r["gc_s"],
            "spark.spill_mb": sum(t["spill_b"] for t in mine) / 1e6,
            "udfs.arrow_mb_sent": sum(t["py_sent_b"] for t in mine) / 1e6,
            "udfs.arrow_mb_recv": sum(t["py_recv_b"] for t in mine) / 1e6,
        })
    return {k: statistics.median(p[k] for p in per_rep) for k in per_rep[0]}


def run_workload(args, work: Path) -> tuple[dict, list[str], int, int]:
    """One workload in this process. Returns (metrics, report lines,
    attempted, failed)."""
    from perfbench import corpus, kernels
    from perfbench.hostspeed import REF_S, HostSpeed
    from perfbench.trace import (
        EventLog, JvmHeap, NullTracer, ProcSampler, Tracer, read_event_log,
    )
    from perfbench.workloads import (
        DOCS, WARMUP, WARMUP_DOCS, WORKLOADS, FreshCrawl, remove_sink,
    )

    spark = start_session(work, cores())
    phases = {"session": time.perf_counter() - T_START}
    sc = spark.sparkContext
    b = Bench(spark, work, NullTracer(), ProcSampler(sc._gateway.proc.pid),
              JvmHeap(spark), int(sc.defaultParallelism), HostSpeed(spark))
    lines: list[str] = []
    try:
        warm = WARMUP[args.workload](b, corpus.warmup_ids(WARMUP_DOCS), "warmup")
        warm.setup()
        warm.rep(0, rerun=False)
        shutil.rmtree(warm.dir)
        b.host.sample()
        phases["warmup"] = time.perf_counter() - T_START - sum(phases.values())
        w = WORKLOADS[args.workload](
            b, corpus.slice_ids(args.seed, DOCS[args.workload]), "main")
        w.setup()
        if w.untimed_rep:
            remove_sink(w.rep(0)["sink"])
        setup_s = time.perf_counter() - T_START
        phases["slice"] = setup_s - sum(phases.values())

        if args.trace:
            tracer, log = Tracer(sc), EventLog(spark, work / "eventlog")
            reps = timed_reps(b, w, args.seconds, tracer, log)
        else:
            reps = timed_reps(b, w, args.seconds)
        plain = [r for r in reps if not r["traced"]]
        slowdown = b.host.slowdown()
        m = e2e_metrics(plain, setup_s, slowdown)
        failed, msgs, digest = w.check(reps[-1]["sink"])
        failed += sum(r["failed"] for r in reps)
        attempted = sum(2 * r["docs"] for r in reps)
        lines.append(f"# {args.workload} seed={args.seed} reps={len(reps)} "
                     f"docs/rep={reps[0]['docs']} inserted/rep="
                     f"{reps[0]['inserted']} rerun_inserted="
                     f"{[r['rerun_inserted'] for r in reps]}")
        lines.append("# setup phases " + " ".join(
            f"{k}={v:.2f}s" for k, v in phases.items()))
        lines.append("# per rep job_s " + " ".join(
            f"{r['job_s']:.3f}" for r in reps) + " rerun_s " + " ".join(
            f"{r['rerun_s']:.3f}" for r in reps))
        lines.append(f"# host slowdown {slowdown:.4f} (probe s / {REF_S} s, median of "
                     f"{len(b.host.samples)}: " + " ".join(
                         f"{s:.3f}" for s in b.host.samples) + ") raw docs_per_s "
                     f"{m['docs_per_s'] / slowdown:.2f} rerun_s "
                     f"{m['rerun_s'] * slowdown:.4f}")
        lines.append("# per rep peak_rss_mb " + " ".join(
            f"{r['peak_rss'] / 1e6:.1f}" for r in reps) + " of which heap "
            + " ".join(f"{r['heap_used'] / 1e6:.1f}" for r in reps))
        lines.append(f"# output digest {digest}")
        lines += [f"# check failed: {msg}" for msg in msgs]

        if args.trace:
            clock = [("reps", time.perf_counter())]
            traced = [r for r in reps if r["traced"]]
            layer = w.probes(reps[-1]["sink"])
            clock.append(("probes", time.perf_counter()))
            kp = kernels.profile(w.ids, "fr", b.cores)
            clock.append(("kernels", time.perf_counter()))
            layer.update({k: v for k, v in kp.items() if k in LAYER_UNITS})
            layer["udfs.kernel_share"] = (
                kp["kernel_s_per_doc"] * len(w.ids)
                / (layer["job.extract_s"] * b.cores))
            layer.update(spark_layer_metrics(b, traced, read_event_log(log.dir)))
            layer["trace.overhead_docs_per_s"] = (
                e2e_metrics(traced, setup_s, slowdown)["docs_per_s"]
                - m["docs_per_s"])
            b.tracer = NullTracer()
            # the same documents whatever the workload's slice size
            scale = FreshCrawl(b, corpus.slice_ids(args.seed, SCALING_DOCS), "scaling")
            scale.setup()
            scale_s = scaling_reps(scale)
            clock.append(("scaling", time.perf_counter()))
            for name, s in sorted(tracer.self_times().items()):
                lines.append(f"# span self time {name} {s:.4f} s")
            tracer.write(ROOT / ".perfbench_out"
                         / f"spans-{args.workload}-{args.seed}.json")
    finally:
        stop_session(spark)

    if args.trace:
        # a fresh JVM on one core, same corpus and job
        one = run_child(["--scaling-child", scale.corpus, "--seed", str(args.seed)],
                        SCALING_TIMEOUT_S)
        clock.append(("scaling_child", time.perf_counter()))
        lines.append("# trace phases " + " ".join(
            f"{k}={t - clock[i][1]:.2f}s" for i, (k, t) in enumerate(clock[1:])))
        one_s = one["json"]["job_s"]
        # throughput ratio = inverse ratio of the timed repetitions' medians
        layer["spark.scaling_eff_1to4"] = statistics.median(one_s[1:]) / (
            b.cores * statistics.median(scale_s[1:]))
        lines.append(f"# scaling job_s local[{b.cores}] " + " ".join(
            f"{t:.3f}" for t in scale_s) + " local[1] " + " ".join(
            f"{t:.3f}" for t in one_s) + " (first untimed)")
        lines += [f"{k} {v!r} {E2E_UNITS[k]}" for k, v in m.items()]
        m = {k: layer[k] for k in LAYER_UNITS}
    m["failed_frac"] = failed / attempted
    return m, lines, attempted, failed


def scaling_child(args, work: Path) -> None:
    """The scaling measurement on a given corpus at local[1]."""
    from perfbench import corpus
    from perfbench.hostspeed import HostSpeed
    from perfbench.trace import JvmHeap, NullTracer, ProcSampler
    from perfbench.workloads import FreshCrawl

    spark = start_session(work, 1)
    try:
        b = Bench(spark, work, NullTracer(),
                  ProcSampler(spark.sparkContext._gateway.proc.pid),
                  JvmHeap(spark), 1, HostSpeed(spark))
        w = FreshCrawl(b, corpus.slice_ids(args.seed, SCALING_DOCS), "scaling")
        w.corpus = args.scaling_child
        job_s = scaling_reps(w)
    finally:
        stop_session(spark)
    print(json.dumps({"job_s": job_s}))


def run_all(args) -> int:
    """Every workload, each in a fresh subprocess. A workload whose
    process fails or prints no result fails all of its documents."""
    from perfbench.workloads import DOCS

    metrics, attempted, failed, correct = {}, 0, 0, True
    for name in WORKLOAD_NAMES:
        t0 = time.perf_counter()
        try:
            child = run_child(
                ["--workload", name, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace)],
                WORKLOAD_TIMEOUT_S)
        except (subprocess.TimeoutExpired, RuntimeError, ValueError) as e:
            print(f"# {name} failed: {type(e).__name__}: {e}")
            attempted += DOCS[name]
            failed += DOCS[name]
            correct = False
            continue
        for line in child["lines"]:
            print(line if line.startswith("#") else f"{name} {line}")
        print(f"# {name} process ran {time.perf_counter() - t0:.1f} s")
        res = child["json"]
        attempted += res["attempted"]
        failed += res["failed"]
        correct &= res["correct"]
        metrics.update({f"{name}/{k}": v for k, v in res["metrics"].items()})
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOAD_NAMES + ["all"])
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scaling-child", default=None, help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if args.workload is None and args.scaling_child is None:
        p.error("--workload is required")

    try:
        import navigator_document_parser_spark  # noqa: F401
    except ImportError:
        print(f"navigator_document_parser_spark is not importable from {ROOT}: "
              "run the benchmark from a checkout of the repository",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        if args.scaling_child:
            scaling_child(args, work)
            return 0
        m, lines, attempted, failed = run_workload(args, work)
    except Exception:
        if args.scaling_child:
            raise
        # a job that raises fails every document of the slice
        traceback.print_exc()
        from perfbench.workloads import DOCS

        n = DOCS[args.workload]
        print(json.dumps({"correct": False, "attempted": n, "failed": n,
                          "metrics": {}}))
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only once no other run is using it
    units = {**E2E_UNITS, **LAYER_UNITS, "failed_frac": "frac"}
    for line in lines:
        print(line)
    for k, v in m.items():
        print(f"{k} {v!r} {units[k]}")
    keep = [k for k in LAYER_UNITS if k not in PRINTED_ONLY] if args.trace else E2E_UNITS
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": m[k], "unit": units[k]} for k in keep},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

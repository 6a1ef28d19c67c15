"""Product-path benchmark: one command, three workloads.

    python3 prodbench/run.py --workload batch_extract --seed 1 \
        --seconds 15 --trace 0

Run from the root of a source checkout.  Workloads (see workloads.py):
``batch_extract`` (jobs/extract_job.py: lineage.run_with_lineage + the
clean-spans table), ``stream_extract`` (streaming.stream_extract fed on
an open-loop schedule) and ``curate_shards`` (jobs.curate_job.run).

One run: make the seeded inputs and their expected outputs (untimed),
start one ``local[nproc]`` session and warm the product path up
(``setup_s``), run the product path for ``--seconds`` of timed work,
check every output against the oracle or the curation reference
(untimed), stop Spark and every process it started.  The last line of
stdout is the result object; the line before it is the full report
with provenance.  ``--trace 1`` adds the Spark event log and spans
around the program's public functions, and reports per-layer metrics
instead of the end-to-end ones.

Exits 2 without a result when the program's sources are not next to
this directory.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "crego_document_extractor_spark"
WORK_ROOT = os.path.join(ROOT, ".prodbench_work")

END_TO_END_UNITS = {"docs_per_s": "docs/s", "latency_p50_s": "s",
                    "cpu_s_per_kdoc": "s/kdoc", "peak_rss_mb": "MB",
                    "setup_s": "s"}
PER_LAYER_UNITS = {
    "session.start_s": "s", "session.warm_s": "s", "pipeline.plan_s": "s",
    "parse.py_stages": "count", "parse.py_tasks": "count",
    "parse.py_boot_s": "s", "parse.py_init_s": "s", "parse.py_total_s": "s",
    "parse.py_sent_mb": "MB", "parse.py_received_mb": "MB",
    "parse.py_rows_received": "count", "extract.rows_out": "count",
    "extract.found_frac": "fraction", "extract.codegen_s": "s",
    "lineage.results_write_s": "s", "lineage.bookkeeping_s": "s",
    "lineage.files_written": "count", "lineage.bytes_written_mb": "MB",
    "spans.write_s": "s", "streaming.batch_s_p50": "s",
    "streaming.docs_per_batch_p50": "count",
    "streaming.queue_wait_p50_s": "s", "streaming.latency_p90_s": "s",
    "streaming.gen_late_max_s": "s", "streaming.backlog_files_end": "count",
    "curation.funnel_s": "s", "curation.kept_frac": "fraction",
    "pack.shards_s": "s", "curation.shuffle_mb": "MB",
    "jvm.task_s_p50": "s", "jvm.task_s_max": "s", "jvm.gc_frac": "fraction",
    "trace.overhead_frac": "fraction", "failed_frac": "fraction",
    "mismatch_frac": "fraction"}


def _source_digest() -> str:
    """Commit id if the checkout is a git repository, else a digest
    of the program's Python sources."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"),
                                 recursive=True)
                       + glob.glob(os.path.join(ROOT, "jobs", "*.py"))):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return "src-sha256:" + h.hexdigest()[:16]


def _env(work: str, trace: bool) -> None:
    """Keep Spark, the JVM and Python workers inside the work directory,
    and let the workers import the program."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={tmp}") if p)
    if trace:
        import tracing
        events = os.path.join(work, "events")
        os.makedirs(events)
        os.environ["PYSPARK_SUBMIT_ARGS"] = tracing.enable_event_log_args(events)


def _install_spans(spans) -> None:
    """Spans around the public functions each layer is entered through.
    Names imported into another module are wrapped there too."""
    from crego_document_extractor_spark import lineage, parse, pipeline
    from crego_document_extractor_spark.ops import curation, pack
    for mod, attr, name in (
            (pipeline, "extract_from_raw", "pipeline"),
            (pipeline, "extract_parameters", "pipeline"),
            (pipeline, "clean_spans", "pipeline"),
            (lineage, "extract_parameters", "pipeline"),
            (parse, "parse_documents", "parse"),
            (pipeline, "parse_documents", "parse"),
            (lineage, "parse_documents", "parse"),
            (lineage, "run_with_lineage", "lineage"),
            (curation, "curation_funnel", "curation.funnel"),
            (pack, "write_training_shards", "pack.shards")):
        spans.wrap(mod, attr, name)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for both."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _reap_descendants(procs, timeout: float = 15) -> None:
    """Wait for every process this run started to end; kill stragglers."""
    end = time.monotonic() + timeout
    while True:
        left = [p for p in procs.tree_pids(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > end:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            time.sleep(0.5)
            return
        time.sleep(0.1)


def _untraced_log(workload: str) -> str:
    return os.path.join(WORK_ROOT, f"untraced-{workload}.jsonl")


def run(args) -> dict:
    import procs
    import tracing
    from workloads import Meter, WORKLOADS

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        _env(work, args.trace)
        wl = WORKLOADS[args.workload]()
        t_prep = time.perf_counter()
        wl.prepare(work, args.seed, nproc, args.seconds)
        prep_s = time.perf_counter() - t_prep

        spans = tracing.Spans() if args.trace else None
        if spans:
            _install_spans(spans)
        load_start = os.getloadavg()
        from crego_document_extractor_spark.session import get_spark
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"prodbench-{args.workload}",
                          master=f"local[{nproc}]")
        start_s = time.perf_counter() - t0
        try:
            t1 = time.perf_counter()
            wl.warm(spark)
            warm_s = time.perf_counter() - t1
            rss = procs.RssSampler(procs.jvm_pid(os.getpid()))
            meter = Meter(os.getpid(), rss)
            try:
                wl.measure(spark, args.seconds, meter)
            finally:
                rss.close()
            java = spark._jvm.System.getProperty("java.version")
            threads = spark.sparkContext.defaultParallelism
        finally:
            if hasattr(wl, "stop"):
                wl.stop()
            _stop_spark(spark)
            if spans:
                spans.unwrap_all()
        load_end = os.getloadavg()

        kdocs = max(meter.docs, 1) / 1000
        e2e = {
            "docs_per_s": meter.docs / meter.timed_s,
            "latency_p50_s": statistics.median(meter.latencies or meter.walls),
            "cpu_s_per_kdoc": meter.cpu_s / kdocs,
            "peak_rss_mb": rss.peak_mb,
            "setup_s": start_s + warm_s,
        }
        checks = {
            "failed_frac": meter.failed / max(1, meter.attempted),
            "mismatch_frac": meter.rows_mismatched / max(1, meter.rows_checked),
        }
        import pyspark
        report = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "commit": _source_digest(), "nproc": nproc,
            "spark_threads": threads, "pyspark": pyspark.__version__,
            "java": java, "python": sys.version.split()[0],
            "loadavg_start": load_start, "loadavg_end": load_end,
            "prepare_s": prep_s, "session_start_s": start_s,
            "warm_s": warm_s, "op_walls_s": meter.walls,
            "attempted": meter.attempted, "failed": meter.failed,
            "rows_checked": meter.rows_checked,
            "rows_mismatched": meter.rows_mismatched,
            **wl.provenance(), **e2e, **checks,
        }
        if args.trace:
            report["layers"] = _layers(args, wl, meter, spans, work,
                                       start_s, warm_s, e2e, checks)
        else:
            os.makedirs(WORK_ROOT, exist_ok=True)
            with open(_untraced_log(args.workload), "a") as f:
                f.write(json.dumps({"seed": args.seed,
                                    "docs_per_s": e2e["docs_per_s"]}) + "\n")
        return report
    finally:
        shutil.rmtree(work, ignore_errors=True)
        _reap_descendants(procs)


def _layers(args, wl, meter, spans, work, start_s, warm_s, e2e, checks) -> dict:
    import tracing
    ev = tracing.reduce_event_log(os.path.join(work, "events"), meter.windows)
    n_ops = max(1, meter.n_units)
    in_ops = lambda name: sum(spans.total(name, a, b)  # noqa: E731
                              for a, b in meter.perf_windows)
    build = [(s, e) for n, s, e in spans.spans
             if n in ("pipeline", "parse")
             and any(a <= s < b for a, b in meter.perf_windows)]
    try:
        with open(_untraced_log(args.workload)) as f:
            base = statistics.median(json.loads(line)["docs_per_s"] for line in f)
        overhead = 1 - e2e["docs_per_s"] / base
    except (OSError, ValueError, statistics.StatisticsError):
        overhead = 0.0  # no untraced run in this checkout yet
    # metrics a workload does not exercise read 0
    layers = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    layers.update({
        "session.start_s": start_s,
        "session.warm_s": warm_s,
        "pipeline.plan_s": (_union_s(build) + ev["plan_gap_s"]) / n_ops,
        "parse.py_stages": ev["py_stages"],
        "parse.py_tasks": ev["py_tasks"] / n_ops,
        "parse.py_boot_s": ev["py_boot_s"] / n_ops,
        "parse.py_init_s": ev["py_init_s"] / n_ops,
        "parse.py_total_s": ev["py_total_s"] / n_ops,
        "parse.py_sent_mb": ev["py_sent_mb"] / n_ops,
        "parse.py_received_mb": ev["py_received_mb"] / n_ops,
        "parse.py_rows_received": ev["py_rows_received"] / n_ops,
        "extract.codegen_s": ev["codegen_s"] / n_ops,
        "curation.funnel_s": in_ops("curation.funnel") / n_ops,
        "pack.shards_s": in_ops("pack.shards") / n_ops,
        "curation.shuffle_mb": ev["shuffle_mb"] / n_ops,
        "jvm.task_s_p50": ev["task_s_p50"],
        "jvm.task_s_max": ev["task_s_max"],
        "jvm.gc_frac": ev["gc_s"] / ev["run_s"] if ev["run_s"] else 0.0,
        "trace.overhead_frac": overhead,
        **checks,
    })
    layers.update(wl.layer_metrics(meter))
    return layers


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and waits for its processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"prodbench: no {PACKAGE}/ next to {HERE}; run from a source "
              f"checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"prodbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    report = run(args)
    print(json.dumps(report))
    if args.trace:
        metrics = {k: {"value": report["layers"][k], "unit": u}
                   for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": report[k], "unit": u}
                   for k, u in END_TO_END_UNITS.items()}
    print(json.dumps({
        "correct": report["rows_mismatched"] == 0 and report["rows_checked"] > 0,
        "attempted": report["attempted"], "failed": report["failed"],
        "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

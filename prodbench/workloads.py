"""The three product-path workloads.

Each workload has three phases, driven by ``run.py``:

``prepare``  (no Spark, untimed) generates its seeded inputs, writes
             them under the run's work directory and builds the
             expected outputs once.
``warm``     (counted in ``setup_s``) runs the product path once on a
             small warm-up input, so the timed window sees compiled
             code and running Python workers.
``measure``  runs the product path for the timed window through a
             ``Meter``; every output is checked, and deleted, outside
             the timed regions.
"""

from __future__ import annotations

import datetime
import io
import os
import shutil
import statistics
import threading
import time
import traceback

import pyarrow as pa
import pyarrow.parquet as pq

import check
import inputs
import procs


class Meter:
    """Times operations and checks their outputs.

    ``op`` runs one timed operation: wall (perf_counter), process-tree
    CPU and the epoch window (for the event log) are recorded; an
    exception counts the operation as failed."""

    def __init__(self, root_pid: int, rss: procs.RssSampler):
        self.root_pid = root_pid
        self.rss = rss
        self.walls: list[float] = []      # per timed operation
        self.latencies: list[float] = []  # per delivered unit
        self.windows: list[tuple[float, float]] = []
        self.perf_windows: list[tuple[float, float]] = []
        self.cpu_s = 0.0
        self.docs = 0
        self.attempted = 0
        self.failed = 0
        self.rows_checked = 0
        self.rows_mismatched = 0
        self.n_units = 0  # timed operations that per-op sums divide by

    def op(self, fn, docs: int):
        """Run ``fn()`` as one timed operation of ``docs`` documents.
        Returns fn's result, or None if it raised."""
        self.attempted += 1
        self.n_units += 1
        cpu0 = procs.tree_cpu_s(self.root_pid)
        e0, t0 = time.time(), time.perf_counter()
        result, ok = None, True
        with self.rss.measuring():
            try:
                result = fn()
            except Exception:  # a failed operation is a measured outcome
                traceback.print_exc()
                ok = False
        t1, e1 = time.perf_counter(), time.time()
        self.cpu_s += procs.tree_cpu_s(self.root_pid) - cpu0
        self.walls.append(t1 - t0)
        self.windows.append((e0, e1))
        self.perf_windows.append((t0, t1))
        if ok:
            self.docs += docs
            self.latencies.append(t1 - t0)
        else:
            self.failed += 1
        return result if ok else None

    def checked(self, rows: int, mismatched: int) -> None:
        self.rows_checked += rows
        self.rows_mismatched += mismatched

    @property
    def timed_s(self) -> float:
        return sum(self.walls)


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# --------------------------------------------------------------------------

class BatchExtract:
    """``jobs/extract_job.py --spans-output``: run_with_lineage with the
    library's 64 buckets, then the clean-spans table as parquet."""

    name = "batch_extract"
    N_DOCS = 4000        # per job: size-dependent work is most of its wall
    N_FILES = 8          # input files, round-robin; independent of nproc
    N_WARM = 48
    N_BUCKETS = 64

    def prepare(self, work: str, seed: int, workers: int, seconds: float) -> None:
        self.work = work
        self.corpus = inputs.doc_corpus(self.N_DOCS, seed, 8, workers)
        self.warm_corpus = inputs.doc_corpus(self.N_WARM, seed + 10**6, 1, 1)
        self.input_dir = os.path.join(work, "input")
        self.warm_dir = os.path.join(work, "warm_input")
        inputs.write_round_robin(self.corpus.doc_table(), self.input_dir,
                                 self.N_FILES)
        inputs.write_round_robin(self.warm_corpus.doc_table(), self.warm_dir,
                                 self.N_FILES)
        self.expected = check.Expected(self.corpus.results, self.corpus.spans)
        self.warm_expected = check.Expected(self.warm_corpus.results,
                                            self.warm_corpus.spans)
        self.walls_results: list[float] = []
        self.walls_lineage: list[float] = []
        self.walls_spans: list[float] = []
        self.written: list[tuple[int, int]] = []
        self.rows_out: list[int] = []
        self.found: list[float] = []

    def _job(self, spark, input_dir: str, out: str) -> dict:
        from crego_document_extractor_spark import lineage, pipeline, parse
        docs = spark.read.parquet(input_dir)
        t0 = time.perf_counter()
        metrics = lineage.run_with_lineage(docs, os.path.join(out, "job"),
                                           n_buckets=self.N_BUCKETS)
        t1 = time.perf_counter()
        (pipeline.clean_spans(parse.parse_documents(docs))
         .write.mode("overwrite").parquet(os.path.join(out, "spans")))
        metrics["lineage_s"] = t1 - t0
        metrics["spans_s"] = time.perf_counter() - t1
        return metrics

    def _check(self, out: str, expected: check.Expected, meter: Meter | None):
        results = check.read_dir(os.path.join(out, "job", "results"))
        got = [expected.check_results(results),
               expected.check_spans(check.read_dir(os.path.join(out, "spans")))]
        if meter is not None:
            for rows, bad in got:
                meter.checked(rows, bad)
            self.written.append(check.dir_stats(os.path.join(out, "job")))
            self.rows_out.append(results.num_rows)
            status = results.column("status").to_pylist()
            self.found.append(status.count("extracted") / max(1, len(status)))
        return got

    def warm(self, spark) -> None:
        out = os.path.join(self.work, "warm_out")
        self._job(spark, self.warm_dir, out)
        bad = sum(b for _, b in self._check(out, self.warm_expected, None))
        _rmtree(out)
        if bad:
            raise RuntimeError(f"warm-up output differs from the oracle ({bad} rows)")

    def measure(self, spark, seconds: float, meter: Meter) -> None:
        k = 0
        while meter.timed_s < seconds:
            out = os.path.join(self.work, f"out{k}")
            m = meter.op(lambda: self._job(spark, self.input_dir, out),
                         len(self.corpus))
            if m is not None:
                self.walls_results.append(m["wall_ms"] / 1000)
                self.walls_lineage.append(m["lineage_s"])
                self.walls_spans.append(m["spans_s"])
                self._check(out, self.expected, meter)
            _rmtree(out)
            k += 1

    def layer_metrics(self, meter: Meter) -> dict:
        n = max(1, len(self.walls_results))
        return {
            "lineage.results_write_s": sum(self.walls_results) / n,
            "lineage.bookkeeping_s":
                (sum(self.walls_lineage) - sum(self.walls_results)) / n,
            "lineage.files_written": sum(f for f, _ in self.written) / n,
            "lineage.bytes_written_mb":
                sum(b for _, b in self.written) / n / 2**20,
            "spans.write_s": sum(self.walls_spans) / n,
            "extract.rows_out": sum(self.rows_out) / n,
            "extract.found_frac": sum(self.found) / n,
        }

    def provenance(self) -> dict:
        return {"docs_per_job": len(self.corpus), "input_files": self.N_FILES,
                "n_buckets": self.N_BUCKETS}


# --------------------------------------------------------------------------

class StreamExtract:
    """``streaming.stream_extract(..., available_now=False)`` fed by one
    generator thread on a fixed open-loop schedule: a file of
    ``FILE_DOCS`` docs every ``PERIOD_S`` seconds, written to a dot-name
    (ignored by the file source) and renamed into place.

    A warm micro-batch of one file takes ~0.7-1.4 s, almost all of it
    per-batch fixed cost (96 docs cost ~0.1 s more than 24), so at this
    period the query is idle most of the time and a file's latency is
    its pickup plus one micro-batch.  Near saturation latency would jump
    with queueing on a host only a little slower.

    Warm-up is one micro-batch that compiles the plan, then the schedule
    runs for ``FEED_S`` seconds before the timed window starts, so the
    window does not time the first micro-batches of a fresh JVM."""

    name = "stream_extract"
    FILE_DOCS = 96
    PERIOD_S = 2.0       # offered rate = FILE_DOCS / PERIOD_S docs/s
    N_COMPILE_FILES = 1
    FEED_S = 6.0
    # the latency median spans one file per period of the window
    MIN_WINDOW_S = 16.0
    DRAIN_S = 30.0       # how long the last file may take to commit

    def prepare(self, work: str, seed: int, workers: int, seconds: float) -> None:
        self.work = work
        self.n_files = round(max(seconds, self.MIN_WINDOW_S) / self.PERIOD_S)
        self.n_feed = round(self.FEED_S / self.PERIOD_S)
        n_all = (self.N_COMPILE_FILES + self.n_feed + self.n_files) * self.FILE_DOCS
        self.corpus = inputs.doc_corpus(n_all, seed, 8, workers)
        docs = self.corpus.docs
        self.files: list[tuple[str, bytes, int]] = []
        for k in range(len(docs) // self.FILE_DOCS):
            part = docs[k * self.FILE_DOCS:(k + 1) * self.FILE_DOCS]
            buf = io.BytesIO()
            pq.write_table(self.corpus.doc_table(part), buf)
            self.files.append((f"f{k:05d}.parquet", buf.getvalue(), len(part)))
        self.expected = check.Expected(self.corpus.results, self.corpus.spans)
        self.input_dir = os.path.join(work, "stream_in")
        self.out_dir = os.path.join(work, "stream_out")
        self.ckpt = os.path.join(work, "stream_ckpt")
        os.makedirs(self.input_dir)
        self.timed = self.files[self.N_COMPILE_FILES + self.n_feed:]
        self.due: dict[str, float] = {}
        self.writes: dict[str, float] = {}
        self.late: list[float] = []
        self.batch_ids: list[int] = []
        self.batch_s: list[float] = []
        self.batch_docs: list[int] = []
        self.queue_wait: list[float] = []
        self.backlog_end = 0
        self.query = None
        self.gen = None
        self.halt = threading.Event()

    def _put(self, name: str, data: bytes) -> None:
        tmp = os.path.join(self.input_dir, "." + name)
        with open(tmp, "wb") as f:
            f.write(data)
        os.rename(tmp, os.path.join(self.input_dir, name))

    def _committed(self) -> dict[int, float]:
        """batch id → commit time (epoch) from the checkpoint commit log."""
        d = os.path.join(self.ckpt, "commits")
        out = {}
        for f in os.listdir(d) if os.path.isdir(d) else ():
            if f.isdigit():
                out[int(f)] = os.path.getmtime(os.path.join(d, f))
        return out

    def _file_batches(self) -> dict[str, int]:
        """input file name → micro-batch id, from the file-source log."""
        import json
        d = os.path.join(self.ckpt, "sources", "0")
        out = {}
        for f in os.listdir(d) if os.path.isdir(d) else ():
            if f.startswith("."):
                continue
            with open(os.path.join(d, f)) as fh:
                for line in fh:
                    if line.startswith("{"):
                        e = json.loads(line)
                        out[os.path.basename(e["path"])] = e["batchId"]
        return out

    def _wait_committed(self, names: list[str], timeout: float) -> bool:
        end = time.monotonic() + timeout
        while time.monotonic() < end:
            fb, done = self._file_batches(), self._committed()
            if all(n in fb and fb[n] in done for n in names):
                return True
            if self.query.exception() is not None:
                raise RuntimeError(str(self.query.exception()))
            time.sleep(0.05)
        return False

    def warm(self, spark) -> None:
        from crego_document_extractor_spark import streaming
        self.query = streaming.stream_extract(
            spark, self.input_dir, self.out_dir, self.ckpt, available_now=False)
        compile_files = self.files[:self.N_COMPILE_FILES]
        for name, data, _ in compile_files:
            self._put(name, data)
        if not self._wait_committed([n for n, _, _ in compile_files], 120):
            raise RuntimeError("warm-up micro-batch did not commit")
        # one schedule for the feed and the timed window; warm-up ends
        # when the first timed file is due
        feed = self.files[self.N_COMPILE_FILES:]
        start = time.time() + 0.2
        self.t0 = start + self.n_feed * self.PERIOD_S

        def generate() -> None:
            for k, (name, data, _) in enumerate(feed):
                due = start + k * self.PERIOD_S
                if self.halt.wait(max(0.0, due - time.time())):
                    return
                self._put(name, data)
                self.due[name] = due
                self.writes[name] = time.time()

        self.gen = threading.Thread(target=generate)
        self.gen.start()
        time.sleep(max(0.0, self.t0 - time.time()))

    def stop(self) -> None:
        """Stop the generator and the query; safe on every path out."""
        self.halt.set()
        if self.gen is not None:
            self.gen.join()
        if self.query is not None:
            self.query.stop()

    def measure(self, spark, seconds: float, meter: Meter) -> None:
        timed, t0 = self.timed, self.t0

        def window() -> bool:
            self.gen.join()
            try:
                return self._wait_committed([n for n, _, _ in timed],
                                            self.DRAIN_S)
            except RuntimeError:  # the query died: its files count as failed
                traceback.print_exc()
                return False

        cpu0 = procs.tree_cpu_s(meter.root_pid)
        to_perf = time.perf_counter() - time.time()
        with meter.rss.measuring():
            drained = window()
        end = time.time()
        meter.cpu_s += procs.tree_cpu_s(meter.root_pid) - cpu0
        self.query.stop()

        fb, done = self._file_batches(), self._committed()
        last = t0
        for name, _, n_docs in timed:
            meter.attempted += 1
            self.late.append(self.writes[name] - self.due[name])
            b = fb.get(name)
            if b is not None and b in done:
                meter.docs += n_docs
                meter.latencies.append(done[b] - self.due[name])
                last = max(last, done[b])
            else:
                # still queued at the end of the drain: its latency is at
                # least the time it waited, and it counts as failed
                meter.failed += 1
                self.backlog_end += 1
                meter.latencies.append(end - self.due[name])
        wall = (last if drained else end) - t0
        meter.walls.append(wall)
        meter.windows.append((t0, t0 + wall))
        meter.perf_windows.append((t0 + to_perf, t0 + wall + to_perf))
        self._batch_stats(done, fb)
        got = check.read_dir(os.path.join(self.out_dir, "results"))
        rows, bad = self.expected.check_results(got)
        meter.checked(rows, bad)
        timed_batches = set(self.batch_ids)
        status = [s for s, b in zip(got.column("status").to_pylist(),
                                    got.column("batch_id").to_pylist())
                  if b in timed_batches]
        self.rows_out = len(status)
        self.found = status.count("extracted") / max(1, len(status))
        meter.n_units = len(self.batch_s)

    def _batch_stats(self, done: dict, fb: dict) -> None:
        """Per timed micro-batch (one that holds a timed file):
        triggerExecution, docs, and how long its timed files waited
        between due time and the batch start."""
        sizes = {n: d for n, _, d in self.files}
        timed = {n for n, _, _ in self.timed}
        timed_ids = {fb[n] for n in timed if n in fb}
        for p in self.query.recentProgress:
            if p["numInputRows"] <= 0:
                continue
            b = p["batchId"]
            trig = p["durationMs"].get("triggerExecution", 0) / 1000
            if b not in done or b not in timed_ids:
                continue
            self.batch_ids.append(b)
            self.batch_s.append(trig)
            self.batch_docs.append(sum(sizes[n] for n, bb in fb.items()
                                       if bb == b))
            # the trigger's start; the commit-log mtime comes before the
            # trigger ends, so commit time minus trigger time is too early
            start = datetime.datetime.fromisoformat(
                p["timestamp"]).timestamp()
            self.queue_wait += [start - self.due[n] for n, bb in fb.items()
                                if bb == b and n in timed]

    def layer_metrics(self, meter: Meter) -> dict:
        lat = sorted(meter.latencies)
        p90 = lat[min(len(lat) - 1, int(0.9 * len(lat)))] if lat else 0.0
        return {
            "extract.rows_out": self.rows_out / max(1, meter.n_units),
            "extract.found_frac": self.found,
            "streaming.batch_s_p50": _median(self.batch_s),
            "streaming.docs_per_batch_p50": _median(self.batch_docs),
            "streaming.queue_wait_p50_s": _median(self.queue_wait),
            "streaming.latency_p90_s": p90,
            "streaming.gen_late_max_s": max(self.late, default=0.0),
            "streaming.backlog_files_end": self.backlog_end,
        }

    def provenance(self) -> dict:
        return {"file_docs": self.FILE_DOCS, "period_s": self.PERIOD_S,
                "offered_docs_per_s": self.FILE_DOCS / self.PERIOD_S,
                "feed_s": self.FEED_S, "timed_files": len(self.timed),
                "gen_late_max_s": max(self.late, default=0.0),
                "backlog_files_end": self.backlog_end,
                "micro_batches": len(self.batch_s)}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# --------------------------------------------------------------------------

class CurateShards:
    """``jobs.curate_job.run(spark, in, out, eval_input)`` with the job's
    defaults (lang en, 100 chars, 2048-token shards) over a seeded text
    corpus whose docs fail each funnel stage in the shares stated in
    ``inputs.CURATION_SHARES``."""

    name = "curate_shards"
    N_DOCS = 1200
    N_EVAL = 50
    N_FILES = 8
    N_WARM = 40

    def prepare(self, work: str, seed: int, workers: int, seconds: float) -> None:
        self.work = work
        self.sets = {}
        for tag, n, s in (("timed", self.N_DOCS, seed),
                          ("warm", self.N_WARM, seed + 10**6)):
            docs, evals = inputs.curation_corpus(n, self.N_EVAL, s)
            ref = inputs.curation_reference(docs, evals)
            in_dir = os.path.join(work, f"{tag}_docs")
            eval_dir = os.path.join(work, f"{tag}_eval")
            inputs.write_round_robin(
                pa.Table.from_pylist(docs, schema=inputs.TEXT_SCHEMA),
                in_dir, self.N_FILES)
            inputs.write_round_robin(
                pa.Table.from_pylist(evals, schema=inputs.TEXT_SCHEMA),
                eval_dir, 1)
            shards = pa.Table.from_pylist(ref["shards"],
                                          schema=check.SHARDS_SCHEMA)
            self.sets[tag] = (in_dir, eval_dir, len(docs), ref["funnel"],
                              check.Expected(shards=shards))
        self.funnel_s: list[float] = []
        self.kept_frac: list[float] = []

    def _job(self, spark, tag: str, out: str) -> dict:
        from jobs import curate_job
        in_dir, eval_dir = self.sets[tag][:2]
        return curate_job.run(spark, in_dir, out, eval_dir)

    def _check(self, tag: str, out: str, report: dict) -> tuple[int, int]:
        _, _, n_docs, funnel, expected = self.sets[tag]
        rows, bad = expected.check_shards(check.read_dir(out))
        got_funnel = report["funnel"]
        bad += sum(1 for g, w in zip(got_funnel, funnel) if g != w)
        bad += abs(len(got_funnel) - len(funnel))
        return rows + len(funnel), bad

    def warm(self, spark) -> None:
        out = os.path.join(self.work, "warm_out")
        _, bad = self._check("warm", out, self._job(spark, "warm", out))
        _rmtree(out)
        if bad:
            raise RuntimeError(f"warm-up output differs from the reference "
                               f"({bad} rows)")

    def measure(self, spark, seconds: float, meter: Meter) -> None:
        k = 0
        n_docs = self.sets["timed"][2]
        while meter.timed_s < seconds:
            out = os.path.join(self.work, f"out{k}")
            report = meter.op(lambda: self._job(spark, "timed", out), n_docs)
            if report is not None:
                meter.checked(*self._check("timed", out, report))
                self.kept_frac.append(report["funnel"][-1]["n_kept"] / n_docs)
            _rmtree(out)
            k += 1

    def layer_metrics(self, meter: Meter) -> dict:
        return {"curation.kept_frac": _median(self.kept_frac)}

    def provenance(self) -> dict:
        return {"docs_per_job": self.sets["timed"][2],
                "input_files": self.N_FILES,
                "shares": inputs.CURATION_SHARES}


WORKLOADS = {w.name: w for w in (BatchExtract, StreamExtract, CurateShards)}

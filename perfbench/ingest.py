"""``ingest_backlog``: a pre-written binlog backlog drained, closed loop,
through the program's public pipeline (``start_cdc_pipeline`` into a
``ParquetUpsertTable``) in fixed-size microbatches.

Timing comes from outside the program: Spark's streaming progress
reports, the offset log in the query's checkpoint, and a benchmark
subclass of ``ParquetUpsertTable`` that records when each ``merge``
returns (and, traced, the spans inside it). The traced run adds an
open-loop tail: ``loadgen.py``, a separate process, publishes at a fixed
rate into the running pipeline, and each event's commit lag is measured.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

import pyarrow.parquet as pq
from pyspark.sql import types as T

from rust_cdc_spark.streaming.pipeline import ParquetUpsertTable, start_cdc_pipeline

import common
import gen
import layer_replay
import reads

IMAGE_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("name", T.StringType()),
    T.StructField("score", T.IntegerType()),
    T.StructField("balance", T.DoubleType()),
])
APP_ID = "perfbench"


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet files under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


class BenchTable(ParquetUpsertTable):
    """``ParquetUpsertTable`` that records, per epoch, when ``merge``
    returned and what the snapshot write put on disk. With ``spans`` set
    it also records the target read, snapshot write, meta commit and
    cleanup spans, the rows each snapshot holds, and the Spark jobs each
    batch ran."""

    def __init__(self, path: str, spans: common.Spans | None = None,
                 jobs: common.JobCounter | None = None):
        super().__init__(path, [gen.KEY], image_schema=IMAGE_SCHEMA)
        self.spans = spans
        self.jobs = jobs
        self.epoch = None
        self.commit_time: dict[int, float] = {}
        self.written: dict[int, tuple[int, int]] = {}  # epoch -> (bytes, files)
        self.rows_written: dict[int, int] = {}
        self.batch_jobs: dict[int, tuple[int, int, int]] = {}

    def _span(self, name, fn, *args):
        if self.spans is None or self.epoch is None:
            return fn(*args)
        t0 = time.time()
        try:
            return fn(*args)
        finally:
            self.spans.add(name, self.epoch, t0, time.time(), "merge")

    def merge(self, changes, order_by=None, app_id="cdc", txn_version=None):
        self.epoch = txn_version
        t0 = time.time()
        try:
            super().merge(changes, order_by, app_id, txn_version)
        finally:
            self.epoch = None
        t1 = time.time()
        self.commit_time[txn_version] = t1
        if self.spans is not None:
            self.spans.add("merge", txn_version, t0, t1, "add_batch")
            self.batch_jobs[txn_version] = self.jobs.take()
            self.spans.overhead_s += time.time() - t1

    def read(self, spark, version=None):
        return self._span("target_read", super().read, spark, version)

    def _write_snapshot(self, df, version):
        self._span("snapshot_write", super()._write_snapshot, df, version)
        if self.epoch is not None:
            h0 = time.time()
            snap = self._snapshot_dir(version)
            self.written[self.epoch] = dir_stats(snap)
            if self.spans is not None:
                self.rows_written[self.epoch] = pq.ParquetDataset(snap).read(
                    columns=[gen.KEY]).num_rows
                self.spans.overhead_s += time.time() - h0

    def _commit_meta(self, meta):
        self._span("commit", super()._commit_meta, meta)

    def _cleanup(self, keep_from, retain=2):
        self._span("cleanup", super()._cleanup, keep_from, retain)


# ── offset log ──────────────────────────────────────────────────────────
def committed_ranges(checkpoint: str, first_file: str) -> dict[int, tuple[dict, dict]]:
    """epoch -> (start, end) source offsets of every batch in the commit
    log, read from the query's offset log."""
    def offset(epoch):
        with open(os.path.join(checkpoint, "offsets", str(epoch))) as fh:
            last = fh.read().strip().splitlines()[-1]
        off = json.loads(last)
        return json.loads(off) if isinstance(off, str) else off

    commits = sorted(int(f) for f in os.listdir(os.path.join(checkpoint, "commits"))
                     if f.isdigit())
    out = {}
    for e in commits:
        start = offset(e - 1) if e > 0 else {"file": first_file, "line": 0}
        out[e] = (start, offset(e))
    return out


def events_in(start: dict, end: dict, file_lines: dict[str, int]):
    """(file, line) of each event in [start, end)."""
    for f in sorted(file_lines):
        if f < start["file"] or f > end["file"]:
            continue
        lo = start["line"] if f == start["file"] else 0
        hi = end["line"] if f == end["file"] else file_lines[f]
        for line in range(lo, hi):
            yield f, line


def count_lines(directory: str) -> dict[str, int]:
    out = {}
    for f in os.listdir(directory):
        if f.endswith(".jsonl"):
            with open(os.path.join(directory, f), "rb") as fh:
                out[f] = sum(1 for _ in fh)
    return out


def progress_by_batch(query) -> dict[int, dict]:
    return {p["batchId"]: p for p in query.recentProgress if p.get("numInputRows")}


def _median(vals, unit) -> common.Metric:
    vals = list(vals)
    return common.Metric(common.median(vals), unit, len(vals))


class Backlog:
    """Closed loop over a pre-written backlog. The batch count is fixed
    from ``--seconds`` and the calibrated batch time, so every batch
    boundary, and every count derived from them, repeats for a seed."""

    def __init__(self, spark, name: str, cfg: dict, seed: int, seconds: int,
                 trace: bool, work: str):
        self.spark, self.name, self.cfg = spark, name, cfg
        self.seed, self.seconds, self.trace, self.work = seed, seconds, trace, work
        self.spans = common.Spans() if trace else None
        self.report: dict[str, common.Metric] = {}
        self.layers: dict[str, common.Metric] = {}
        self.attempted = self.failed = 0
        self.phases = common.Phases()

    def n_batches(self) -> int:
        c = self.cfg
        return c["warmup_batches"] + max(3, math.ceil(self.seconds / c["est_batch_s"]))

    # set-up ------------------------------------------------------------
    def setup(self) -> float:
        """Write the backlog and create the sink table ``setup_repeats``
        times; the last build is used. Returns the median set-up time."""
        times = []
        for i in range(self.cfg["setup_repeats"]):
            t0 = time.perf_counter()
            self._build(os.path.join(self.work, f"setup{i}"))
            times.append(time.perf_counter() - t0)
        return common.median(times)

    def _build(self, base):
        c = self.cfg
        self.base = base
        self.binlog = os.path.join(base, "binlog")
        self.checkpoint = os.path.join(base, "checkpoint")
        stream = gen.ChangeStream(self.seed, c["key_space"], [], c["mix"],
                                  c["dropped_frac"], preload=True)
        n_events = self.n_batches() * c["batch_events"]
        with common.no_gc():
            self.backlog_files = gen.write_backlog(self.binlog, stream, n_events,
                                                   c["events_per_file"])
        self.inputs = {"events": n_events, "files": len(self.backlog_files),
                       "batches": self.n_batches(), "key_space": c["key_space"]}
        jobs = common.JobCounter(self.spark) if self.trace else None
        self.table = BenchTable(os.path.join(base, "table"), self.spans, jobs)

    # the run -------------------------------------------------------------
    def run(self):
        c = self.cfg
        q = start_cdc_pipeline(
            self.spark, self.binlog, self.table, dbs=gen.ROUTE_DBS,
            tables=gen.ROUTE_TABLES, checkpoint_dir=self.checkpoint,
            max_events_per_trigger=c["batch_events"], app_id=APP_ID)
        if self.trace:
            self.table.jobs.groups.append(str(q.runId))
        try:
            with self.phases("drain"):
                self._drain(q)
            steady = sorted(self.table.commit_time)[c["warmup_batches"]:]
            if self.trace:
                with self.phases("open_loop_tail"):
                    tail = self._open_loop_tail(q)
            prog = progress_by_batch(q)
        finally:
            q.stop()
        file_lines = count_lines(self.binlog)
        ranges = committed_ranges(self.checkpoint, min(file_lines))
        n_events = {e: sum(1 for _ in events_in(*ranges[e], file_lines))
                    for e in ranges}
        self.attempted += len(ranges)
        trig = [prog[e]["durationMs"]["triggerExecution"] / 1000 for e in steady]
        self.report["batch_s_p50"] = _median(trig, "s")
        # Events of a batch ÷ time from the previous commit to its own,
        # so the gaps between triggers count.
        ct = self.table.commit_time
        self.report["ingest_events_per_s"] = _median(
            (n_events[e] / (ct[e] - ct[e - 1]) for e in steady), "events/s")
        ev = sum(n_events[e] for e in steady)
        written = sum(self.table.written[e][0] for e in steady)
        self.report["bytes_written_per_event"] = common.Metric(written / ev, "B",
                                                              len(steady))
        self.latency = self.report["batch_s_p50"]
        self.throughput = self.report["ingest_events_per_s"]
        with self.phases("check"):
            rows = self._check_table()
        with self.phases("reads"):
            r = reads.SinkReads(self.spark, self.table, rows, self.seed, c["read_reps"])
            r.check()
            r.time()
            self.attempted += r.attempted
            self.report["table_read_set_s"] = r.total()
            self.layers.update(r.layer_metrics())
        if self.trace:
            self._trace_batches(prog, ranges, steady)
            self._tail_metrics(tail, ranges, file_lines)
            with self.phases("layer_replay"):
                self.layers.update(layer_replay.replay(
                    self.spark, self.binlog, self.table,
                    [ranges[e] for e in steady[: c["replay_batches"]]],
                    IMAGE_SCHEMA, c["batch_events"]))
            self.layers["pipeline.retained_bytes"] = common.Metric(
                dir_stats(self.table.path)[0], "B", 1)

    @staticmethod
    def _drain(q) -> None:
        q.processAllAvailable()
        if q.exception():
            raise RuntimeError(str(q.exception()))

    def _check_table(self) -> dict:
        """The final table must equal the last-writer-wins replay of every
        committed event."""
        meta = self.table._meta()
        end = committed_ranges(self.checkpoint, self.backlog_files[0])[
            meta["txn"][APP_ID]][1]
        want = gen.lww_replay(ev for _, _, ev in gen.iter_binlog(self.binlog, end))
        got = gen.read_snapshot_rows(self.table._snapshot_dir(meta["version"]))
        diff = gen.table_diff(got, want)
        if diff:
            raise AssertionError(f"{self.name}: final table differs from the "
                                 f"oracle: {diff}")
        return got

    # traced run ------------------------------------------------------------
    def _open_loop_tail(self, q) -> dict:
        """Publish at a fixed rate into the running pipeline from a separate
        process, then drain. Returns what the lag computation needs."""
        c, o = self.cfg, self.cfg["open_loop"]
        before = set(self.table.commit_time)
        manifest = os.path.join(self.base, "loadgen.jsonl")
        proc = subprocess.Popen([
            sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py"),
            "--dir", self.binlog, "--manifest", manifest,
            "--seed", str(self.seed ^ 0x10AD), "--rows", str(c["key_space"]),
            "--rate", str(o["rate_events_per_s"]), "--interval", str(o["file_interval_s"]),
            "--seconds", str(o["seconds"]), "--start", repr(time.time() + 0.2),
            "--first-index", str(len(self.backlog_files) + 1),
            "--mix", json.dumps(c["mix"]), "--dropped-frac", str(c["dropped_frac"])])
        try:
            rc = proc.wait(timeout=o["seconds"] + 60)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if rc != 0:
            raise RuntimeError(f"load generator exited with {rc}")
        at_end = set(self.table.commit_time)
        self._drain(q)
        with open(manifest) as fh:
            files = {m["file"]: m for m in map(json.loads, fh)}
        return {"files": files, "rate": o["rate_events_per_s"],
                "epochs": sorted(set(self.table.commit_time) - before),
                "pending": sorted(set(self.table.commit_time) - at_end)}

    def _tail_metrics(self, tail, ranges, file_lines) -> None:
        lags, pending = [], 0
        for e in tail["epochs"]:
            for f, line in events_in(*ranges[e], file_lines):
                m = tail["files"][f]
                lags.append(self.table.commit_time[e]
                            - (m["start"] + (m["i0"] + line) / tail["rate"]))
                pending += e in tail["pending"]
        late = [m["published"] - m["due"] for m in tail["files"].values()]
        L = self.layers
        L["freshness.commit_lag_s_p50"] = _median(lags, "s")
        L["freshness.commit_lag_s_p90"] = common.Metric(common.percentile(lags, 90),
                                                        "s", len(lags))
        L["loadgen.late_s_p99"] = common.Metric(common.percentile(late, 99), "s",
                                                len(late))
        L["loadgen.backlog_events_end"] = common.Metric(pending, "count", 1)

    def _trace_batches(self, prog, ranges, steady) -> None:
        sp, tbl = self.spans, self.table
        merge = sp.durations("merge")
        dm = [prog[e]["durationMs"] for e in steady]

        def span_sum(names, e):
            return sum(t1 - t0 for n, k, t0, t1, _ in sp.rows if n in names and k == e)

        L = self.layers
        for name, key in (("replay_source.latest_offset_ms", "latestOffset"),
                          ("offset_log.wal_commit_ms", "walCommit"),
                          ("offset_log.commit_offsets_ms", "commitOffsets"),
                          ("stream.query_planning_ms", "queryPlanning"),
                          ("pipeline.add_batch_ms", "addBatch")):
            L[name] = _median((d.get(key, 0) for d in dm), "ms")
        L["pipeline.merge_s"] = _median((merge[e] for e in steady), "s")
        L["pipeline.pre_merge_s"] = _median(
            (prog[e]["durationMs"].get("addBatch", 0) / 1000 - merge[e] for e in steady),
            "s")
        L["pipeline.merge_self_s"] = _median((sp.self_time("merge")[e] for e in steady),
                                             "s")
        L["pipeline.target_read_s"] = _median(
            (span_sum({"target_read"}, e) for e in steady), "s")
        L["pipeline.snapshot_write_s"] = _median(
            (span_sum({"snapshot_write"}, e) for e in steady), "s")
        L["pipeline.commit_s"] = _median(
            (span_sum({"commit", "cleanup"}, e) for e in steady), "s")
        for i, name in enumerate(("jobs", "stages", "tasks")):
            L[f"spark.{name}_per_batch"] = _median(
                (tbl.batch_jobs[e][i] for e in steady), "count")
        L["pipeline.bytes_written_per_batch"] = _median(
            (tbl.written[e][0] for e in steady), "B")
        L["pipeline.files_written_per_batch"] = _median(
            (tbl.written[e][1] for e in steady), "count")
        touched = sum(len(self._touched_keys(*ranges[e])) for e in steady)
        rows = sum(tbl.rows_written[e] for e in steady)
        L["pipeline.useful_write_frac"] = common.Metric(touched / rows, "fraction",
                                                        len(steady))
        L["trace.overhead_s_per_op"] = common.Metric(
            sp.overhead_s / len(tbl.commit_time), "s", len(tbl.commit_time))

    def _touched_keys(self, start, end) -> set:
        keys = set()
        for f, line, ev in gen.iter_binlog(self.binlog, end):
            if (f, line) >= (start["file"], start["line"]) and \
                    ev["database"] in gen.ROUTE_DBS and ev["table"] in gen.ROUTE_TABLES:
                keys.add(int((ev["after"] or ev["before"])["id"]))
        return keys

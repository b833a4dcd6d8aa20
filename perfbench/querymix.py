"""``query_mix``: registry queries over seeded tables, plus the four reads
of a sink table built in set-up. One client, closed loop, repeated passes;
each query is forced with the noop sink, as ``bench.py`` does.

Correctness runs first and untimed: every query against its DuckDB oracle
from ``__spark_entry__.oracle_sql()``, the sink table against the
last-writer-wins oracle, and the sink reads against DuckDB. That pass is
also the warm-up. Query results must match exactly, except that a value
rounded to cents on a half-cent tie may be one cent apart between the two
engines; such cells are counted (``oracle.round_ties`` on the detail line).
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import time

import duckdb
import pyarrow.parquet as pq

import __spark_entry__
from rust_cdc_spark.datamodel import cdc_envelope_schema
from rust_cdc_spark.operators import ranks
from rust_cdc_spark.queries import load_all
from rust_cdc_spark.sources.tables import TABLES

import common
import gen
import reads
from ingest import BenchTable


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _sorted_rows(cols, rows):
    """Rows with columns in name order, sorted on their non-float cells
    first, so a one-cent rounding tie cannot reorder them."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = (tuple(_norm(r[i]) for i in order) for r in rows)
    return sorted(rows, key=lambda r: (repr([c for c in r if not isinstance(c, float)]),
                                       repr(r)))


def _cents(v: float) -> bool:
    return abs(v * 100 - round(v * 100)) < 1e-6


def _round_tie(a, b) -> bool:
    """Two cents values one cent apart: ``round(x, 2)`` of a double that
    sits on a half-cent. Spark rounds the double's exact decimal value and
    DuckDB scales it in floating point first, and the two engines also sum
    in different orders, so either neighbour is a right answer."""
    return (isinstance(a, float) and isinstance(b, float) and _cents(a) and _cents(b)
            and abs(abs(a - b) * 100 - 1) < 1e-6)


def _round_ties(s_rows, d_rows) -> int | None:
    """Cells that differ only by a half-cent rounding tie, or None when the
    results disagree in any other way."""
    if len(s_rows) != len(d_rows):
        return None
    ties = 0
    for s, d in zip(s_rows, d_rows):
        for a, b in zip(s, d):
            if a != b:
                if not _round_tie(a, b):
                    return None
                ties += 1
    return ties


def _as_map(img):
    return None if img is None else {k: str(v) for k, v in img.items()}


class QueryMix:
    def __init__(self, spark, name, cfg, seed, seconds, trace, work):
        self.spark, self.cfg, self.seed = spark, cfg, seed
        self.seconds, self.trace, self.work = seconds, trace, work
        self.registry = load_all()
        oracles = __spark_entry__.oracle_sql()
        self.queries = cfg["queries"]
        missing = [q for q in self.queries if q not in self.registry or q not in oracles]
        if missing:
            raise RuntimeError(f"queries missing from the registry or oracle set: {missing}")
        self.oracles = {q: oracles[q] for q in self.queries}
        self.report: dict[str, common.Metric] = {}
        self.layers: dict[str, common.Metric] = {}
        self.attempted = self.failed = 0
        self.phases = common.Phases()

    # set-up ------------------------------------------------------------
    def setup(self) -> float:
        times = []
        for i in range(self.cfg["setup_repeats"]):
            t0 = time.perf_counter()
            self._build(os.path.join(self.work, f"setup{i}"))
            times.append(time.perf_counter() - t0)
        return common.median(times)

    def _build(self, base):
        c = self.cfg
        self.data = os.path.join(base, "tables")
        self.inputs = {"table_rows": gen.write_query_tables(self.data, self.seed, c["sf"]),
                       "sink_rows": c["sink_rows"],
                       "sink_batch_events": c["sink_batch_events"]}
        # Sink table: a seeded snapshot, then one change batch merged on top,
        # so time travel and diff have a previous version to read.
        seed_tbl = gen.seed_table(self.seed, c["sink_rows"])
        seed_file = os.path.join(base, "sink_seed.parquet")
        pq.write_table(seed_tbl, seed_file)
        self.table = BenchTable(os.path.join(base, "sink"))
        self.table.overwrite(self.spark.read.parquet(seed_file))
        stream = gen.ChangeStream(self.seed, c["sink_rows"], range(c["sink_rows"]),
                                  c["mix"], 0.0)
        batch = [stream.next_event() for _ in range(c["sink_batch_events"])]
        df = self.spark.createDataFrame(
            [(datetime.datetime.utcfromtimestamp(ev["ts"]), 1, "binlog.000001",
              4 + line, ev["gtid"], ev["xid"], ev["database"], ev["table"],
              ev["op"], _as_map(ev["before"]), _as_map(ev["after"]), None)
             for line, ev in enumerate(batch)], cdc_envelope_schema())
        self.table.merge(df, txn_version=0, app_id="perfbench")
        self.sink_want = gen.lww_replay(batch, gen.table_rows(seed_tbl))

    # correctness (untimed; doubles as warm-up) ------------------------------
    def check(self) -> None:
        got = gen.read_snapshot_rows(self.table._snapshot_dir(self.table.version()))
        diff = gen.table_diff(got, self.sink_want)
        if diff:
            raise AssertionError(f"query_mix sink table differs from the oracle: {diff}")
        self.reads = reads.SinkReads(self.spark, self.table, got, self.seed, 1)
        self.reads.check()
        con = duckdb.connect(config={"threads": 2})
        ties = 0
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.data, t)}.parquet'")
            for name in self.queries:
                sdf = self.registry[name].spark_fn(self.spark, self.data)
                s_rows = _sorted_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
                ranks.release_pinned()
                cur = con.execute(self.oracles[name])
                d_cols = [d[0] for d in cur.description]
                d_rows = _sorted_rows(d_cols, cur.fetchall())
                q_ties = _round_ties(s_rows, d_rows)
                if sorted(sdf.columns) != sorted(d_cols) or q_ties is None:
                    raise AssertionError(
                        f"query {name}: spark and its DuckDB oracle disagree "
                        f"({len(s_rows)} vs {len(d_rows)} rows)")
                if not s_rows:
                    raise AssertionError(f"query {name} returned no rows on the "
                                         f"benchmark tables")
                ties += q_ties
        finally:
            con.close()
        self.report["oracle.round_ties"] = common.Metric(ties, "count", len(self.queries))

    # timed passes ------------------------------------------------------------
    def _run_query(self, name: str, jobs: dict | None) -> float:
        sc = self.spark.sparkContext
        if jobs is None:
            t0 = time.perf_counter()
            df = self.registry[name].spark_fn(self.spark, self.data)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
        else:
            # One job group per query, phase and pass.
            group = f"perfbench:{len(jobs.get((name, 'build'), []))}:{name}:"
            t0 = time.perf_counter()
            sc.setJobGroup(group + "build", "build")
            df = self.registry[name].spark_fn(self.spark, self.data)
            t1 = time.perf_counter()
            sc.setJobGroup(group + "plan", "plan")
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            sc.setJobGroup(group + "exec", "exec")
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            dt = t3 - t0
            tr = sc.statusTracker()
            for ph, secs in (("build", t1 - t0), ("plan", t2 - t1), ("exec", t3 - t2)):
                jobs.setdefault((name, ph), []).append(
                    (secs, len(tr.getJobIdsForGroup(group + ph))))
        # Outside the timed section: free pinned checkpoints so later
        # passes do not slow down (bench.py does the same).
        ranks.release_pinned()
        return dt

    def run(self):
        with self.phases("check"):
            self.check()
        times: dict[str, list[float]] = {q: [] for q in self.queries}
        jobs: dict | None = {} if self.trace else None
        loader = _LoadJobCounter(self.spark) if self.trace else None
        t_end = time.perf_counter() + self.seconds
        passes = 0
        try:
            while passes < self.cfg["min_passes"] or time.perf_counter() < t_end:
                for name in self.queries:
                    self.attempted += 1
                    times[name].append(self._run_query(name, jobs))
                self.reads.time(1)
                passes += 1
                if loader and passes == 1:
                    self.load_jobs = loader.count
        finally:
            if loader:
                loader.close()
        per_query = {q: common.median(v) for q, v in times.items()}
        self.per_query = per_query
        self.attempted += self.reads.attempted
        qs = sum(per_query.values())
        self.report["query_set_s"] = common.Metric(qs, "s", passes)
        self.report["table_read_set_s"] = self.reads.total()
        self.latency = self.report["query_set_s"]
        n = sum(len(v) for v in times.values())
        self.throughput = common.Metric(n / sum(sum(v) for v in times.values()),
                                        "queries/s", n)
        self.layers.update(self.reads.layer_metrics())
        if self.trace:
            L = self.layers
            names = {"build": ("queries.build_s", "queries.build_jobs"),
                     "plan": ("plans.plan_s", None),
                     "exec": ("queries.exec_s", "queries.exec_jobs")}
            for ph, (time_name, jobs_name) in names.items():
                L[time_name] = common.Metric(
                    sum(common.median(s for s, _ in jobs[(q, ph)]) for q in self.queries),
                    "s", passes)
                if jobs_name:
                    # Job counts of the first timed pass: exact per query.
                    L[jobs_name] = common.Metric(
                        sum(jobs[(q, ph)][0][1] for q in self.queries), "count", 1)
            L["tables.load_jobs"] = common.Metric(self.load_jobs, "count", 1)


class _LoadJobCounter:
    """Counts the Spark jobs launched inside ``DataFrameReader.parquet``
    (schema inference and file listing) by wrapping it."""

    def __init__(self, spark):
        from pyspark.sql.readwriter import DataFrameReader

        self.cls = DataFrameReader
        self.orig = DataFrameReader.parquet
        self.tracker = spark.sparkContext.statusTracker()
        self.sc = spark.sparkContext
        self.count = 0
        self.calls = 0
        counter = self

        def parquet(reader, *paths, **options):
            prev = counter.sc.getLocalProperty("spark.jobGroup.id")
            group = f"perfbench:load:{counter.calls}"
            counter.calls += 1
            counter.sc.setLocalProperty("spark.jobGroup.id", group)
            try:
                return counter.orig(reader, *paths, **options)
            finally:
                counter.count += len(counter.tracker.getJobIdsForGroup(group))
                counter.sc.setLocalProperty("spark.jobGroup.id", prev)

        DataFrameReader.parquet = parquet

    def close(self):
        self.cls.parquet = self.orig

"""The four sink-table reads a replica's users run, through the public
``ParquetUpsertTable`` API, each checked against DuckDB reading the same
snapshot parquet files."""

from __future__ import annotations

import os
import random
import time

import duckdb
from pyspark.sql import functions as F

import common

KINDS = ("point_lookup", "scan_agg", "time_travel", "diff")


def _norm(rows) -> list[tuple]:
    return sorted(map(tuple, rows))


class SinkReads:
    def __init__(self, spark, table, rows: dict, seed: int, reps: int):
        self.spark, self.table, self.reps = spark, table, reps
        self.version = table.version()
        self.prev = self.version - 1
        if self.prev not in table.history():
            raise RuntimeError("sink table has no previous version to read")
        keys = sorted(rows)
        self.key = random.Random(seed).choice(keys) if keys else 0
        self.times: dict[str, list[float]] = {k: [] for k in KINDS}
        self.attempted = 0

    # Spark side ------------------------------------------------------------
    def spark_read(self, kind: str) -> list:
        t, s = self.table, self.spark
        if kind == "point_lookup":
            return t.read(s).filter(F.col("id") == self.key).collect()
        if kind == "scan_agg":
            return (t.read(s).groupBy((F.col("id") % 16).alias("b"))
                    .agg(F.count("*"), F.sum("score"), F.max("balance")).collect())
        if kind == "time_travel":
            return t.read(s, self.prev).agg(F.count("*"), F.sum("score"),
                                            F.sum("id")).collect()
        if kind == "diff":
            return t.diff(s, self.prev, self.version).groupBy("op").count().collect()
        raise ValueError(kind)

    # DuckDB side -------------------------------------------------------------
    def _files(self, version: int) -> str:
        return repr(os.path.join(self.table._snapshot_dir(version), "*.parquet"))

    def duck_read(self, con, kind: str) -> list:
        cur, old = self._files(self.version), self._files(self.prev)
        sql = {
            "point_lookup": f"SELECT id, name, score, balance FROM read_parquet({cur}) "
                            f"WHERE id = {self.key}",
            "scan_agg": f"SELECT id % 16, count(*), sum(score), max(balance) "
                        f"FROM read_parquet({cur}) GROUP BY 1",
            "time_travel": f"SELECT count(*), sum(score), sum(id) FROM read_parquet({old})",
            "diff": f"""
                SELECT CASE WHEN o.id IS NULL THEN 'I' WHEN n.id IS NULL THEN 'D'
                            ELSE 'U' END AS op, count(*)
                FROM read_parquet({old}) o FULL OUTER JOIN read_parquet({cur}) n
                  ON o.id = n.id
                WHERE o.id IS NULL OR n.id IS NULL OR o.name <> n.name
                   OR o.score <> n.score OR o.balance <> n.balance
                GROUP BY 1""",
        }[kind]
        return con.execute(sql).fetchall()

    def check(self) -> None:
        """One untimed pass of every read, compared with DuckDB."""
        con = duckdb.connect(config={"threads": 2})
        try:
            for kind in KINDS:
                got = _norm(self.spark_read(kind))
                want = _norm(self.duck_read(con, kind))
                if got != want:
                    raise AssertionError(f"sink read {kind}: spark {got[:3]} "
                                         f"!= duckdb {want[:3]}")
        finally:
            con.close()

    def time(self, reps: int | None = None) -> None:
        for _ in range(reps or self.reps):
            for kind in KINDS:
                self.attempted += 1
                t0 = time.perf_counter()
                self.spark_read(kind)
                self.times[kind].append(time.perf_counter() - t0)

    def total(self) -> common.Metric:
        return common.Metric(sum(common.median(v) for v in self.times.values()), "s",
                             min(len(v) for v in self.times.values()))

    def layer_metrics(self) -> dict[str, common.Metric]:
        out = {f"table_read.{k}_s": common.Metric(common.median(v), "s", len(v))
               for k, v in self.times.items()}
        # point lookup + scan-agg read the current snapshot, time travel the
        # previous one, diff both.
        cur = sum(1 for f in os.listdir(self.table._snapshot_dir(self.version))
                  if f.endswith(".parquet"))
        old = sum(1 for f in os.listdir(self.table._snapshot_dir(self.prev))
                  if f.endswith(".parquet"))
        out["table_read.files_scanned"] = common.Metric(3 * cur + 2 * old, "count", 1)
        return out

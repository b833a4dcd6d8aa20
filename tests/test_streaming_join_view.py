"""Streaming materialized JOIN view: join_view_advance inside
foreachBatch must leave the same view a one-shot recompute over the
whole log produces — the streaming form of cdc_ivm_join_view's
equivalence claim, driven through the real replay source with forced
multi-batch execution and file rotation."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from rust_cdc_spark.operators import incremental as IV
from rust_cdc_spark.operators.collapse import collapse_last_image


def _ev(pos, op, table, row):
    return {
        "ts": 1700000000 + pos,
        "server_id": 1,
        "pos": pos,
        "gtid": f"uuid:{pos}",
        "xid": None,
        "database": "app",
        "table": table,
        "op": op,
        "before": row if op == "D" else None,
        "after": None if op == "D" else row,
        "query": None,
    }


@pytest.fixture()
def two_table_binlog(tmp_path):
    d = str(tmp_path / "binlog_jv")
    os.makedirs(d)
    u = lambda i, b: {"id": i, "name": None, "balance": b}  # noqa: E731
    p = lambda i, n: {"id": i, "name": n, "balance": None}  # noqa: E731
    files = {
        "binlog.000001.jsonl": [
            _ev(1, "I", "users", u(1, 10.0)),
            _ev(2, "I", "profiles", p(1, "ann")),
            _ev(3, "I", "users", u(2, 20.0)),       # no profile yet
            _ev(4, "I", "profiles", p(3, "cyd")),   # no user yet
            _ev(5, "U", "users", u(1, 15.0)),       # payload flip
        ],
        "binlog.000002.jsonl": [                     # file rotation
            _ev(6, "D", "profiles", p(1, "ann")),    # kills pair 1
            _ev(7, "I", "profiles", p(2, "bob")),    # completes pair 2
            _ev(8, "I", "users", u(3, 30.0)),        # completes pair 3
            _ev(9, "I", "profiles", p(1, "ann2")),   # resurrects pair 1
            _ev(10, "D", "users", u(2, 20.0)),       # kills pair 2
        ],
    }
    for fname, events in files.items():
        with open(os.path.join(d, fname), "w") as fh:
            for e in events:
                fh.write(json.dumps(e) + "\n")
    return d


def _flat(df):
    """Envelope → per-side flat frames (key, log_pos, op, attr)."""
    key = F.coalesce(F.col("after.id"), F.col("before.id")).cast("long")
    users = df.filter(F.col("table") == "users").select(
        key.alias("key"),
        "log_pos",
        "op",
        F.round(
            F.coalesce(F.col("after.balance"), F.col("before.balance"))
            .cast("double")
            * 100
        )
        .cast("bigint")
        .alias("cents"),
    )
    profiles = df.filter(F.col("table") == "profiles").select(
        key.alias("key"),
        "log_pos",
        "op",
        F.coalesce(F.col("after.name"), F.col("before.name")).alias("name"),
    )
    return users, profiles


def _persist(df, path):
    rows = df.collect()
    df.sparkSession.createDataFrame(rows, df.schema).write.mode(
        "overwrite"
    ).parquet(path + ".next")
    if os.path.exists(path):
        shutil.rmtree(path)
    os.rename(path + ".next", path)


def test_streaming_join_view_equals_batch(spark, two_table_binlog, tmp_path):
    from rust_cdc_spark.streaming.replay_source import register as reg_src

    reg_src(spark)
    paths = {
        n: str(tmp_path / n) for n in ("view", "r_state", "s_state")
    }
    n_batches = {"n": 0}

    def advance(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        ss = batch_df.sparkSession
        r_delta, s_delta = _flat(batch_df)
        if not os.path.exists(paths["view"]):
            r2 = collapse_last_image(r_delta, ["key"], "log_pos")
            s2 = collapse_last_image(s_delta, ["key"], "log_pos")
            live = lambda df: df.filter(F.col("op") != "D")  # noqa: E731
            v2 = (
                live(r2)
                .select("key", "cents")
                .join(live(s2).select("key", "name"), "key")
            )
        else:
            view = ss.read.parquet(paths["view"])
            r_state = ss.read.parquet(paths["r_state"])
            s_state = ss.read.parquet(paths["s_state"])
            v2, r2, s2 = IV.join_view_advance(
                view, r_state, s_state, r_delta, s_delta, ["key"]
            )
        # materialize all three BEFORE overwriting what they read from
        for df, name in ((v2, "view"), (r2, "r_state"), (s2, "s_state")):
            _persist(df, paths[name])
        n_batches["n"] += 1

    # processingTime trigger: the source's per-trigger rate limit
    # (maxeventspertrigger) only yields multiple microbatches on a
    # running query — availableNow plans ONE batch for a Python
    # DataSourceStreamReader. Poll the sink for the final state, then
    # stop (the stateful-streaming gotcha in the verify skill).
    import time

    q = (
        spark.readStream.format("mysql-cdc-replay")
        .option("path", two_table_binlog)
        .option("maxeventspertrigger", "2")  # force several batches
        # the source needs the checkpoint path too: without it a fresh
        # query can't prove it isn't a restart, and the first batch
        # runs unthrottled to the tail (see BinlogReplayReader)
        .option("checkpointlocation", str(tmp_path / "cp_jv"))
        .load()
        .writeStream.foreachBatch(advance)
        .option("checkpointLocation", str(tmp_path / "cp_jv"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline and n_batches["n"] < 5:
            time.sleep(0.25)
    finally:
        q.stop()
    assert n_batches["n"] >= 5  # 10 events / 2 per trigger → real folds

    got = sorted(
        (r.key, r.cents, r.name)
        for r in spark.read.parquet(paths["view"]).collect()
    )
    # one-shot reference over the whole recorded log
    mem = (
        spark.readStream.format("mysql-cdc-replay")
        .option("path", two_table_binlog)
        .load()
        .writeStream.format("memory")
        .queryName("jv_full_log")
        .option("checkpointLocation", str(tmp_path / "cp_jv_full"))
        .trigger(availableNow=True)
        .start()
    )
    mem.awaitTermination(120)
    r_all, s_all = _flat(spark.table("jv_full_log"))
    live = lambda df: df.filter(F.col("op") != "D")  # noqa: E731
    want = sorted(
        (r.key, r.cents, r.name)
        for r in live(collapse_last_image(r_all, ["key"], "log_pos"))
        .select("key", "cents")
        .join(
            live(collapse_last_image(s_all, ["key"], "log_pos")).select("key", "name"),
            "key",
        )
        .collect()
    )
    assert got == want
    # the final view state reflects delete → resurrect → delete races:
    # pair 1 lives (resurrected), pair 2 dead (user deleted), pair 3 lives
    keys = [k for (k, _, _) in got]
    assert keys == [1, 3]

"""End-to-end streaming CDC test — the reference's whole dataflow:
recorded binlog (JSONL) → streaming source → regex route → foreachBatch
collapse+MERGE → SQL over the resulting table. Includes the
checkpoint/restart replay property SURVEY.md §5 calls out (the reference
only approximates it with its 5 s recorder).
"""

from __future__ import annotations

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rust_cdc_spark.streaming.pipeline import ParquetUpsertTable, start_cdc_pipeline

USERS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("balance", T.DoubleType()),
    ]
)


def _ev(pos, op, db="app", table="users", before=None, after=None, xid=None):
    return {
        "ts": 1700000000 + pos,
        "server_id": 1,
        "pos": pos,
        "gtid": f"uuid:{pos}",
        "xid": xid,
        "database": db,
        "table": table,
        "op": op,
        "before": before,
        "after": after,
        "query": None,
    }


def _write_binlog(directory, fname, events):
    os.makedirs(directory, exist_ok=True)
    with open(os.path.join(directory, fname), "w") as fh:
        for e in events:
            fh.write(json.dumps(e) + "\n")


@pytest.fixture()
def binlog_dir(tmp_path):
    d = str(tmp_path / "binlog")
    _write_binlog(
        d,
        "binlog.000001.jsonl",
        [
            _ev(1, "I", after={"id": 1, "name": "ann", "balance": 10.0}),
            _ev(2, "I", after={"id": 2, "name": "bob", "balance": 20.0}),
            _ev(3, "U", before={"id": 1, "name": "ann", "balance": 10.0},
                after={"id": 1, "name": "ann", "balance": 15.0}),
            # other-table noise the router must drop:
            _ev(4, "I", table="audit", after={"id": 99, "name": "x", "balance": 0.0}),
        ],
    )
    _write_binlog(
        d,
        "binlog.000002.jsonl",  # file rotation
        [
            _ev(5, "D", before={"id": 2, "name": "bob", "balance": 20.0}),
            _ev(6, "I", after={"id": 3, "name": "cyd", "balance": 30.0}),
        ],
    )
    return d


def _run_pipeline(spark, binlog_dir, tmp_path, checkpoint="cp"):
    table = ParquetUpsertTable(
        str(tmp_path / "users_table"), ["id"], image_schema=USERS_SCHEMA
    )
    q = start_cdc_pipeline(
        spark,
        binlog_dir,
        table,
        dbs=["app"],
        tables=["users"],
        checkpoint_dir=str(tmp_path / checkpoint),
    )
    q.processAllAvailable()
    q.stop()
    return table


def test_end_to_end_state(spark, binlog_dir, tmp_path):
    table = _run_pipeline(spark, binlog_dir, tmp_path)
    table.register_view(spark, "users_current")
    rows = {
        r.id: (r.name, r.balance)
        for r in spark.sql("SELECT * FROM users_current").collect()
    }
    # oracle: apply the DML by hand — insert 1,2; update 1; delete 2; insert 3
    assert rows == {1: ("ann", 15.0), 3: ("cyd", 30.0)}


def test_restart_resumes_from_checkpoint(spark, binlog_dir, tmp_path):
    table = _run_pipeline(spark, binlog_dir, tmp_path)
    v_after_first = table.version()

    # new binlog file arrives after the query stopped
    _write_binlog(
        binlog_dir,
        "binlog.000003.jsonl",
        [
            _ev(7, "U", before={"id": 3, "name": "cyd", "balance": 30.0},
                after={"id": 3, "name": "cyd", "balance": 35.0}),
        ],
    )
    table2 = ParquetUpsertTable(
        str(tmp_path / "users_table"), ["id"], image_schema=USERS_SCHEMA
    )
    q = start_cdc_pipeline(
        spark,
        binlog_dir,
        table2,
        dbs=["app"],
        tables=["users"],
        checkpoint_dir=str(tmp_path / "cp"),  # same checkpoint → resume
    )
    q.processAllAvailable()
    q.stop()
    rows = {r.id: r.balance for r in table2.read(spark).collect()}
    assert rows == {1: 15.0, 3: 35.0}
    # resumed run must process only the new file, not replay the old ones
    assert table2.version() >= v_after_first


def test_merge_replay_is_idempotent(spark, binlog_dir, tmp_path):
    """Re-applying the same epoch (simulated crash between merge and
    offset commit) must be a no-op thanks to txn_version tracking."""
    table = ParquetUpsertTable(
        str(tmp_path / "t2"), ["id"], image_schema=USERS_SCHEMA
    )
    from rust_cdc_spark.streaming.replay_source import register

    register(spark)
    batch = (
        spark.read.format("json")
        .schema(
            "ts long, server_id long, pos long, gtid string, xid long,"
            "database string, table string, op string,"
            "before map<string,string>, after map<string,string>, query string"
        )
        .load(binlog_dir + "/binlog.000001.jsonl")
        .withColumnRenamed("pos", "log_pos")
        .withColumn("ts", F.timestamp_seconds("ts"))
    )
    table.merge(batch, txn_version=0)
    v1 = table.version()
    state1 = sorted((r.id, r.balance) for r in table.read(spark).collect())
    table.merge(batch, txn_version=0)  # replay same epoch
    assert table.version() == v1
    assert sorted((r.id, r.balance) for r in table.read(spark).collect()) == state1


def test_partitioned_sink_layout(spark, tmp_path):
    """A1/K2 analog: partition column drives the sink directory layout
    (hive-style), enabling partition pruning on read."""
    table = ParquetUpsertTable(
        str(tmp_path / "pt"), ["id"],
        partition_by=["status"],
        image_schema=T.StructType(
            [T.StructField("id", T.LongType()),
             T.StructField("status", T.StringType())]
        ),
    )
    df = spark.createDataFrame(
        [(1, 1, "I", None, {"id": "1", "status": "a"}),
         (2, 2, "I", None, {"id": "2", "status": "b"})],
        "log_pos long, id long, op string, before map<string,string>, after map<string,string>",
    )
    table.merge(df, txn_version=0)
    snap = os.path.join(table.path, "v=0")
    assert sorted(d for d in os.listdir(snap) if d.startswith("status=")) == [
        "status=a", "status=b",
    ]
    got = {r.id: r.status for r in table.read(spark).collect()}
    assert got == {1: "a", 2: "b"}


def test_dead_letter_split(spark):
    from rust_cdc_spark.sources.kafka import parse_cdc_json
    from rust_cdc_spark.streaming.pipeline import split_dead_letters

    df = spark.createDataFrame(
        [(json.dumps({"ts": 1, "pos": 5, "database": "d", "table": "t",
                      "op": "I", "after": {"id": "1"}}).encode(),),
         (b"garbage",)],
        "value binary",
    )
    ok, dead = split_dead_letters(parse_cdc_json(df))
    assert ok.count() == 1 and dead.count() == 1


def test_multi_table_fanout(spark, binlog_dir, tmp_path):
    """One stream, two sinks: app.users and app.audit each get their own
    merged table from a single query/checkpoint."""
    from rust_cdc_spark.streaming.pipeline import start_multi_table_pipeline

    users = ParquetUpsertTable(
        str(tmp_path / "users"), ["id"], image_schema=USERS_SCHEMA
    )
    audit = ParquetUpsertTable(
        str(tmp_path / "audit"), ["id"], image_schema=USERS_SCHEMA
    )
    q = start_multi_table_pipeline(
        spark,
        binlog_dir,
        {("app", "users"): users, ("app", "audit"): audit},
        checkpoint_dir=str(tmp_path / "cp_multi"),
    )
    q.processAllAvailable()
    q.stop()
    u = {r.id: r.balance for r in users.read(spark).collect()}
    a = {r.id: r.name for r in audit.read(spark).collect()}
    assert u == {1: 15.0, 3: 30.0}
    assert a == {99: "x"}


def test_time_travel_and_history(spark, tmp_path):
    table = ParquetUpsertTable(str(tmp_path / "tt"), ["id"], image_schema=USERS_SCHEMA)
    for i, bal in enumerate([10.0, 20.0, 30.0]):
        df = spark.createDataFrame(
            [(i, 1, "U", None, {"id": "1", "name": "a", "balance": str(bal)})],
            "log_pos long, id long, op string, before map<string,string>, after map<string,string>",
        )
        table.merge(df, txn_version=i)
    assert table.history() == [1, 2]  # retention keeps last 2
    assert table.read(spark).collect()[0].balance == 30.0
    assert table.read(spark, version=1).collect()[0].balance == 20.0
    with pytest.raises(ValueError):
        table.read(spark, version=0)  # aged out


def test_bootstrap_snapshot_then_stream(spark, binlog_dir, tmp_path):
    """Snapshot seed + CDC catch-up: stream merges land on top of the
    bootstrap image."""
    from rust_cdc_spark.streaming.pipeline import bootstrap_from_snapshot

    table = ParquetUpsertTable(str(tmp_path / "bs"), ["id"], image_schema=USERS_SCHEMA)
    snapshot = spark.createDataFrame(
        [(1, "ann", 10.0), (7, "old", 70.0)], ["id", "name", "balance"]
    )
    bootstrap_from_snapshot(table, snapshot)
    q = start_cdc_pipeline(
        spark, binlog_dir, table, dbs=["app"], tables=["users"],
        checkpoint_dir=str(tmp_path / "cp_bs"),
    )
    q.processAllAvailable()
    q.stop()
    got = {r.id: r.balance for r in table.read(spark).collect()}
    # stream: upd 1→15, del 2 (absent anyway), ins 3; key 7 untouched seed
    assert got == {1: 15.0, 3: 30.0, 7: 70.0}


def test_max_events_per_trigger_bounds_batches(spark, binlog_dir, tmp_path):
    """K8 analog: max_messages_per_batch — 6 events with a 2-event cap
    must take >= 3 microbatches, and still converge to the same state."""
    table = ParquetUpsertTable(
        str(tmp_path / "rate"), ["id"], image_schema=USERS_SCHEMA
    )
    cp = str(tmp_path / "cp_rate")
    q = start_cdc_pipeline(
        spark, binlog_dir, table, dbs=["app"], tables=["users"],
        checkpoint_dir=cp, max_events_per_trigger=2,
    )
    q.processAllAvailable()
    q.stop()
    rows = {r.id: r.balance for r in table.read(spark).collect()}
    assert rows == {1: 15.0, 3: 30.0}
    n_batches = len([f for f in os.listdir(os.path.join(cp, "offsets")) if f.isdigit()])
    assert n_batches >= 3, f"only {n_batches} microbatches for 6 events @ cap 2"


def _checkpoint_offsets(cp: str) -> list[tuple[str, int]]:
    """Parse the (file, line) end offset of every batch in the offset log,
    in batch-id order."""
    import json as _json

    out = []
    odir = os.path.join(cp, "offsets")
    for bid in sorted(int(f) for f in os.listdir(odir) if f.isdigit()):
        with open(os.path.join(odir, str(bid))) as fh:
            last = fh.read().strip().splitlines()[-1]
        off = _json.loads(last)
        if isinstance(off, str):  # python-datasource offsets are json-in-json
            off = _json.loads(off)
        out.append((off["file"], off["line"]))
    return out


def test_restart_with_rate_limit_never_rewinds(spark, binlog_dir, tmp_path):
    """Restart with a backlog larger than maxeventspertrigger: the
    rate-limit cursor must resume from the checkpointed offset, not from
    initialOffset — a rewound end offset re-delivers already-merged
    events under new epoch ids, bypassing txn_version idempotence."""
    table = ParquetUpsertTable(
        str(tmp_path / "rl"), ["id"], image_schema=USERS_SCHEMA
    )
    cp = str(tmp_path / "cp_rl")
    q = start_cdc_pipeline(
        spark, binlog_dir, table, dbs=["app"], tables=["users"],
        checkpoint_dir=cp, max_events_per_trigger=2,
    )
    q.processAllAvailable()
    q.stop()
    # backlog: 10 new events in a third file, far more than the 2-event cap
    _write_binlog(
        binlog_dir,
        "binlog.000003.jsonl",
        [
            _ev(pos, "U",
                before={"id": 3, "name": "cyd", "balance": str(30.0 + pos - 7)},
                after={"id": 3, "name": "cyd", "balance": str(31.0 + pos - 7)})
            for pos in range(7, 17)
        ],
    )
    table2 = ParquetUpsertTable(
        str(tmp_path / "rl"), ["id"], image_schema=USERS_SCHEMA
    )
    q = start_cdc_pipeline(
        spark, binlog_dir, table2, dbs=["app"], tables=["users"],
        checkpoint_dir=cp, max_events_per_trigger=2,
    )
    q.processAllAvailable()
    q.stop()
    offsets = _checkpoint_offsets(cp)
    assert offsets == sorted(offsets), f"offset log rewound: {offsets}"
    rows = {r.id: r.balance for r in table2.read(spark).collect()}
    assert rows == {1: 15.0, 3: 40.0}  # last event: pos 16 → 31+16-7


def test_table_diff_cdf(spark, tmp_path):
    """CDF analog: diff(v1, v2) re-derives the change set between
    snapshots."""
    table = ParquetUpsertTable(str(tmp_path / "cdf"), ["id"], image_schema=USERS_SCHEMA)
    df1 = spark.createDataFrame(
        [(1, 1, "I", None, {"id": "1", "name": "a", "balance": "10.0"}),
         (2, 2, "I", None, {"id": "2", "name": "b", "balance": "20.0"})],
        "log_pos long, id long, op string, before map<string,string>, after map<string,string>",
    )
    table.merge(df1, txn_version=0)
    df2 = spark.createDataFrame(
        [(3, 1, "U", None, {"id": "1", "name": "a", "balance": "11.0"}),
         (4, 2, "D", {"id": "2", "name": "b", "balance": "20.0"}, None),
         (5, 3, "I", None, {"id": "3", "name": "c", "balance": "30.0"})],
        "log_pos long, id long, op string, before map<string,string>, after map<string,string>",
    )
    table.merge(df2, txn_version=1)
    changes = {(r.op, (r.after or r.before)["id"]): r for r in
               table.diff(spark, from_version=0, to_version=1).collect()}
    assert set(changes) == {("U", 1), ("D", 2), ("I", 3)}
    assert changes[("U", 1)].after["balance"] == 11.0


def test_ingest_metrics_listener(spark, binlog_dir, tmp_path):
    """K8 statsd analog: per-microbatch metrics captured by a
    StreamingQueryListener during a real pipeline run."""
    from rust_cdc_spark.streaming.metrics import IngestMetricsListener

    listener = IngestMetricsListener(path=str(tmp_path / "metrics.jsonl"))
    spark.streams.addListener(listener)
    try:
        _run_pipeline(spark, binlog_dir, tmp_path, checkpoint="cp_metrics")
        # listener bus is async — wait for progress delivery
        import time

        for _ in range(40):
            if any(p["num_input_rows"] > 0 for p in listener.progress):
                break
            time.sleep(0.25)
    finally:
        spark.streams.removeListener(listener)
    assert any(p["num_input_rows"] > 0 for p in listener.progress)
    assert all("addBatch" in p["duration_ms"] for p in listener.progress
               if p["num_input_rows"] > 0)
    lines = open(str(tmp_path / "metrics.jsonl")).read().strip().splitlines()
    assert len(lines) == len(listener.progress)


def test_streaming_scd2_maintenance(spark, binlog_dir, tmp_path):
    """SCD2 history maintained incrementally per MICROBATCH
    (operators/scd.scd2_apply_batch inside foreachBatch) must end up
    identical to one-shot scd2_history over the whole recorded log —
    the streaming form of cdc_scd2_incremental's equivalence claim."""
    import shutil

    from rust_cdc_spark.operators import scd as SCD
    from rust_cdc_spark.streaming.replay_source import register as reg_src

    reg_src(spark)
    hist_path = str(tmp_path / "scd2_history")

    def upsert_history(batch_df, batch_id):
        batch = batch_df.filter(
            (F.col("database") == "app") & (F.col("table") == "users")
        ).withColumn(
            "key_id", F.coalesce(F.col("after.id"), F.col("before.id"))
        )
        if batch.isEmpty():
            return
        if os.path.exists(hist_path):
            prior = batch_df.sparkSession.read.parquet(hist_path)
            new_hist = SCD.scd2_apply_batch(
                prior, batch, ["key_id"], order_by="log_pos"
            )
        else:
            new_hist = SCD.scd2_history(batch, ["key_id"], order_by="log_pos")
        # materialize before replacing the directory we read from
        rows = new_hist.collect()
        batch_df.sparkSession.createDataFrame(rows, new_hist.schema).write\
            .mode("overwrite").parquet(hist_path + ".next")
        if os.path.exists(hist_path):
            shutil.rmtree(hist_path)
        os.rename(hist_path + ".next", hist_path)

    stream = (
        spark.readStream.format("mysql-cdc-replay")
        .option("path", binlog_dir)
        # NOTE: the source's option key has no underscores (the
        # underscored spelling is silently ignored); under availableNow
        # a Python stream reader still plans one batch — the multi-batch
        # fold equivalence is pinned by test_streaming_join_view.py's
        # processingTime run.
        .option("maxeventspertrigger", "2")
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(upsert_history)
        .option("checkpointLocation", str(tmp_path / "cp_scd2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(hist_path)

    # one-shot reference: the same full log through a memory sink
    mem_q = (
        spark.readStream.format("mysql-cdc-replay")
        .option("path", binlog_dir)
        .load()
        .writeStream.format("memory")
        .queryName("scd2_full_log")
        .option("checkpointLocation", str(tmp_path / "cp_full"))
        .trigger(availableNow=True)
        .start()
    )
    mem_q.awaitTermination(120)
    full = (
        spark.table("scd2_full_log")
        .filter((F.col("database") == "app") & (F.col("table") == "users"))
        .withColumn(
            "key_id", F.coalesce(F.col("after.id"), F.col("before.id"))
        )
    )
    want = SCD.scd2_history(full, ["key_id"], order_by="log_pos")

    def canon(df):
        return sorted(
            (r.key_id, r.log_pos, r.valid_to_log_pos, r.is_current)
            for r in df.collect()
        )

    assert canon(got) == canon(want)
    # sanity: several microbatches actually ran (max 2 events each) and
    # the history carries closed + open versions
    assert len(canon(got)) >= 3


def _persistent_rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_all_routed_away_batch_commits_without_touching_sink(spark, tmp_path):
    """A microbatch whose events are all routed away still commits its
    offsets, and the sink keeps its version and txn map."""
    from rust_cdc_spark.streaming.pipeline import bootstrap_from_snapshot

    d = str(tmp_path / "noise")
    _write_binlog(d, "binlog.000001.jsonl", [
        _ev(1, "I", table="audit", after={"id": 9, "name": "x", "balance": 0.0}),
        _ev(2, "I", db="other", after={"id": 1, "name": "y", "balance": 1.0}),
    ])
    table = ParquetUpsertTable(str(tmp_path / "quiet"), ["id"], image_schema=USERS_SCHEMA)
    bootstrap_from_snapshot(
        table, spark.createDataFrame([(1, "ann", 10.0)], USERS_SCHEMA))
    meta_before = table._meta()
    cp = str(tmp_path / "cp_quiet")
    q = start_cdc_pipeline(spark, d, table, dbs=["app"], tables=["users"],
                           checkpoint_dir=cp)
    q.processAllAvailable()
    q.stop()
    assert _checkpoint_offsets(cp)[-1] == ("binlog.000001.jsonl", 2)
    assert "0" in os.listdir(os.path.join(cp, "commits"))
    assert table._meta() == meta_before
    assert {r.id: r.balance for r in table.read(spark).collect()} == {1: 10.0}


class _FailOnceTable(ParquetUpsertTable):
    """Raises on its second ``merge``: inside the snapshot write, or right
    after the snapshot write, the commit or the cleanup returns."""

    def __init__(self, *args, fail_at, **kwargs):
        super().__init__(*args, **kwargs)
        self.fail_at = fail_at
        self.calls = 0

    def merge(self, changes, *args, **kwargs):
        self.calls += 1
        return super().merge(changes, *args, **kwargs)

    def _fail(self, point):
        if self.calls == 2 and self.fail_at == point:
            raise RuntimeError(f"injected failure {point}")

    def _write_snapshot(self, df, version):
        self._fail("in_write_snapshot")
        super()._write_snapshot(df, version)
        self._fail("after_write_snapshot")

    def _commit_meta(self, meta):
        super()._commit_meta(meta)
        self._fail("after_commit_meta")

    def _cleanup(self, keep_from, retain=2):
        super()._cleanup(keep_from, retain)
        self._fail("after_cleanup")


def _log_live_files(table) -> set:
    """The file set that replaying the whole Delta log leaves."""
    live = set()
    for v in range(table.version() + 1):
        for a in table._actions(v):
            if "remove" in a:
                live.discard(a["remove"]["path"])
            elif "add" in a:
                live.add(a["add"]["path"])
    return live


def _snapshot_files(table) -> set:
    return {os.path.relpath(f, table.path) for f in table._files(table.version())}


@pytest.mark.parametrize("fail_at", ["in_write_snapshot", "after_write_snapshot",
                                     "after_commit_meta", "after_cleanup"])
def test_no_cached_batch_outlives_its_microbatch(spark, binlog_dir, tmp_path, fail_at):
    """Each microbatch is persisted for its MERGE only: no cached RDD is
    left after a clean run, nor after a batch whose merge raises at any
    step of the sink. Before the restart no uncommitted version is
    visible; after it the table converges to the batch replay and the
    log's txn entry to the last committed epoch."""
    from pyspark.errors import StreamingQueryException

    before = _persistent_rdd_ids(spark)
    _run_pipeline(spark, binlog_dir, tmp_path, checkpoint="cp_clean")
    assert _persistent_rdd_ids(spark) == before

    path, cp = str(tmp_path / "failing"), str(tmp_path / "cp_fail")
    table = _FailOnceTable(path, ["id"], image_schema=USERS_SCHEMA, fail_at=fail_at)
    q = start_cdc_pipeline(spark, binlog_dir, table, dbs=["app"], tables=["users"],
                           checkpoint_dir=cp, max_events_per_trigger=2)
    with pytest.raises(StreamingQueryException, match="injected"):
        q.processAllAvailable()
    q.stop()
    committed = 1 if fail_at in ("after_commit_meta", "after_cleanup") else 0
    assert table.calls == 2 and table.version() == committed
    assert table.history()[-1] == committed
    with pytest.raises(ValueError):
        table.read(spark, committed + 1)
    assert _log_live_files(table) == _snapshot_files(table)
    assert _persistent_rdd_ids(spark) == before

    restarted = ParquetUpsertTable(path, ["id"], image_schema=USERS_SCHEMA)
    q = start_cdc_pipeline(spark, binlog_dir, restarted, dbs=["app"],
                           tables=["users"], checkpoint_dir=cp,
                           max_events_per_trigger=2)
    q.processAllAvailable()
    q.stop()
    assert {r.id: r.balance for r in restarted.read(spark).collect()} == {
        1: 15.0, 3: 30.0}
    last_epoch = max(int(f) for f in os.listdir(os.path.join(cp, "commits"))
                     if f.isdigit())
    assert restarted._meta()["txn"]["cdc"] == last_epoch
    adds = [a["add"]["path"] for a in restarted._actions(restarted.version())
            if "add" in a]
    assert adds and all(os.path.exists(os.path.join(path, p)) for p in adds)
    assert _log_live_files(restarted) == _snapshot_files(restarted)
    assert _persistent_rdd_ids(spark) == before


def test_commit_is_put_if_absent(tmp_path):
    """Committing a version whose log file exists raises and leaves the
    existing commit byte-identical; no temp file is left behind."""
    table = ParquetUpsertTable(str(tmp_path / "t"), ["id"])
    snap = tmp_path / "t" / "v=0"
    snap.mkdir(parents=True)
    (snap / "part-00000.parquet").write_bytes(b"PAR1")
    schema = T.StructType([T.StructField("id", T.LongType())])
    table._commit_meta({"version": 0, "txn": {"cdc": 0}, "schema": schema})
    log_dir = tmp_path / "t" / "_delta_log"
    first = (log_dir / f"{0:020d}.json").read_bytes()

    (snap / "part-00001.parquet").write_bytes(b"PAR1")
    with pytest.raises(FileExistsError):
        table._commit_meta({"version": 0, "txn": {"cdc": 1}, "schema": schema})
    assert (log_dir / f"{0:020d}.json").read_bytes() == first
    assert os.listdir(log_dir) == [f"{0:020d}.json"]
    assert table._meta() == {"version": 0, "txn": {"cdc": 0}}
    assert table.history() == [0]


def _plan_nodes(plan) -> list[str]:
    """Node names of a physical plan, through adaptive wrappers but not
    into the cached plan an InMemoryTableScan reads."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        return _plan_nodes(plan.executedPlan())
    kids = plan.children()
    return [plan.nodeName()] + [
        n for i in range(kids.size()) for n in _plan_nodes(kids.apply(i))
    ]


class _PlanRecordingTable(ParquetUpsertTable):
    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.plans = []

    def _write_snapshot(self, df, version):
        self.plans.append(_plan_nodes(df._jdf.queryExecution().executedPlan()))
        super()._write_snapshot(df, version)


def test_snapshot_write_reads_the_cached_batch_not_the_source(
        spark, binlog_dir, tmp_path):
    """Once per batch: the MERGE's snapshot write scans the microbatch
    through the in-memory cache, never through the source's RDD (which
    shows as ``Scan ExistingRDD`` in a foreachBatch plan) — for the first
    batch (no target yet) and for later ones (merge_upsert, whose only
    other scan is the target's parquet)."""
    table = _PlanRecordingTable(str(tmp_path / "planned"), ["id"],
                                image_schema=USERS_SCHEMA)
    q = start_cdc_pipeline(spark, binlog_dir, table, dbs=["app"], tables=["users"],
                           checkpoint_dir=str(tmp_path / "cp_plan"),
                           max_events_per_trigger=2)
    q.processAllAvailable()
    q.stop()
    assert len(table.plans) >= 2
    for nodes in table.plans:
        scans = {n.strip() for n in nodes if "Scan" in n}
        assert "InMemoryTableScan" in scans, nodes
        assert scans <= {"InMemoryTableScan", "Scan parquet"}, nodes


def test_multi_table_fanout_leaves_idle_sinks_untouched(spark, binlog_dir, tmp_path):
    """A sink whose (db, table) slice is absent from every microbatch is
    never written: no version, no txn entry."""
    from rust_cdc_spark.streaming.pipeline import start_multi_table_pipeline

    users = ParquetUpsertTable(str(tmp_path / "u"), ["id"], image_schema=USERS_SCHEMA)
    idle = ParquetUpsertTable(str(tmp_path / "idle"), ["id"], image_schema=USERS_SCHEMA)
    q = start_multi_table_pipeline(
        spark, binlog_dir, {("app", "users"): users, ("app", "orders"): idle},
        checkpoint_dir=str(tmp_path / "cp_idle"),
    )
    q.processAllAvailable()
    q.stop()
    assert {r.id: r.balance for r in users.read(spark).collect()} == {1: 15.0, 3: 30.0}
    assert idle._meta() == {"version": -1, "txn": {}}


def test_replay_line_count_follows_appends(tmp_path):
    """The reader caches each binlog file's line count with the size it
    was taken at: an unchanged file is not read again, and an append
    (including a half-written last line) updates the count."""
    from unittest import mock

    from rust_cdc_spark.streaming.replay_source import BinlogReplayReader

    f = tmp_path / "binlog.000001.jsonl"
    f.write_bytes(b'{"n": 1}\n{"n": 2}\n{"n": 3}\n')
    reader = BinlogReplayReader({"path": str(tmp_path)})
    assert reader._line_count(f.name) == 3
    with mock.patch("builtins.open", side_effect=AssertionError("re-read")):
        assert reader._line_count(f.name) == 3
        assert reader.latestOffset() == {"file": f.name, "line": 3}
    with f.open("ab") as fh:
        fh.write(b'{"n": 4}\n{"n": 5}\n{"n"')
    assert reader._line_count(f.name) == 6  # the partial line counts
    with f.open("ab") as fh:
        fh.write(b': 6}\n')
    assert reader._line_count(f.name) == 6
    f.write_bytes(b'{"n": 1}\n')  # replaced by a shorter file: recount
    assert reader._line_count(f.name) == 1
    fresh = BinlogReplayReader({"path": str(tmp_path)})
    assert fresh._line_count(f.name) == 1


@pytest.mark.parametrize("routing", [(["*"], ["*"]), (None, None)],
                         ids=["star_routing", "no_routing"])
def test_non_row_envelopes_never_reach_the_table(spark, tmp_path, routing):
    """TXN, DDL and ERR envelopes carry no row image: they leave the
    table exactly as the row changes alone do, whether `*`/`*` routing
    keeps them or no routing runs at all (the live pipeline's default)."""
    d = str(tmp_path / "binlog")
    _write_binlog(d, "binlog.000001.jsonl", [
        _ev(1, "I", after={"id": 1, "name": "ann", "balance": 10.0}),
        _ev(2, "TXN", db="", table="", xid=852),
        _ev(3, "DDL", table="", xid=None),
        _ev(4, "I", after={"id": 2, "name": "bob", "balance": 20.0}),
        _ev(5, "ERR", db="", table=""),
    ])
    _write_binlog(d, "binlog.000002.jsonl", [
        _ev(6, "U", before={"id": 1, "name": "ann", "balance": 10.0},
            after={"id": 1, "name": "ann", "balance": 15.0}),
        _ev(7, "TXN", db="", table="", xid=853),
    ])
    table = ParquetUpsertTable(
        str(tmp_path / "t"), ["id"], image_schema=USERS_SCHEMA
    )
    dbs, tables = routing
    q = start_cdc_pipeline(
        spark, d, table, dbs=dbs, tables=tables,
        checkpoint_dir=str(tmp_path / "cp"), max_events_per_trigger=4,
    )
    q.processAllAvailable()
    q.stop()
    rows = sorted((r.id, r.name, r.balance) for r in table.read(spark).collect())
    assert rows == [(1, "ann", 15.0), (2, "bob", 20.0)]


def test_late_column_keeps_its_values(spark, tmp_path):
    """With no declared image schema, a column first seen in batch 2
    widens the table and keeps its values."""
    from rust_cdc_spark.datamodel import cdc_envelope_schema

    def batch(rows):
        return spark.createDataFrame(
            [(datetime.datetime(2024, 1, 1), 1, "binlog.000001", pos, None,
              None, "app", "users", op, None, after, None)
             for pos, op, after in rows],
            cdc_envelope_schema(),
        )

    table = ParquetUpsertTable(str(tmp_path / "late"), ["id"])
    table.merge(batch([(1, "I", {"id": "1", "a": "x"}),
                       (2, "I", {"id": "2", "a": "y"})]), txn_version=0)
    table.merge(batch([(3, "I", {"id": "3", "a": "z", "b": "new"}),
                       (4, "U", {"id": "1", "a": "x", "b": "set"})]),
                txn_version=1)
    got = {r.id: (r.a, r.b) for r in table.read(spark).collect()}
    assert got == {"1": ("x", "set"), "2": ("y", None), "3": ("z", "new")}


def test_diff_and_view_across_a_late_column(spark, tmp_path):
    """A late column is recorded in the commit's schema, and ``diff``
    across the widening (and the view refresh that calls it) compares
    the old rows with the new column as NULL."""
    from rust_cdc_spark.datamodel import cdc_envelope_schema
    from rust_cdc_spark.streaming.materialized_view import MaterializedAggView

    def batch(rows):
        return spark.createDataFrame(
            [(datetime.datetime(2024, 1, 1), 1, "binlog.000001", pos, None,
              None, "app", "users", op, None, after, None)
             for pos, op, after in rows],
            cdc_envelope_schema(),
        )

    table = ParquetUpsertTable(str(tmp_path / "late"), ["id"])
    view = MaterializedAggView(str(tmp_path / "view"), ["a"])
    table.merge(batch([(1, "I", {"id": "1", "a": "x"}),
                       (2, "I", {"id": "2", "a": "y"})]), txn_version=0)
    view.refresh(spark, table)
    table.merge(batch([(3, "I", {"id": "3", "a": "z", "b": "new"}),
                       (4, "U", {"id": "1", "a": "x", "b": "set"})]),
                txn_version=1)
    schemas = [a["metaData"]["schemaString"] for a in table._actions(1)
               if "metaData" in a]
    assert [T.StructType.fromJson(json.loads(s)).names for s in schemas] == [
        ["id", "a", "b"]]
    got = {(r.op, (r.after or r.before).id) for r in table.diff(spark, 0, 1).collect()}
    assert got == {("U", "1"), ("I", "3")}
    view.refresh(spark, table)
    assert {r.a: r.n_rows for r in view.read(spark).collect()} == {
        "x": 1, "y": 1, "z": 1}


def test_view_keeps_at_most_retain_snapshots(spark, tmp_path):
    """The view is stored through ``ParquetUpsertTable``: old snapshots
    are cleaned up as the base table's are, and the reflected base
    version is the view commit's ``txn`` entry."""
    from rust_cdc_spark.streaming.materialized_view import MaterializedAggView

    table = ParquetUpsertTable(str(tmp_path / "base"), ["id"])
    view = MaterializedAggView(str(tmp_path / "view"), ["grp"])
    for i in range(5):
        table.overwrite(spark.createDataFrame(
            [(k, k % (i + 1)) for k in range(4)], "id long, grp long"))
        view.refresh(spark, table)
        assert view.base_version() == table.version()
    assert len(view.table.history()) == 2
    assert sorted(d for d in os.listdir(view.table.path) if d.startswith("v=")) == [
        "v=3", "v=4"]
    assert {r.grp: r.n_rows for r in view.read(spark).collect()} == {
        0: 1, 1: 1, 2: 1, 3: 1}

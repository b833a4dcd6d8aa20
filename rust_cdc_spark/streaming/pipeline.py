"""CDC ingest pipeline: stream → route → collapse → MERGE → queryable table.

Reference dataflow (SURVEY.md §0): binlog events → regex filter →
upsert buffer → partitioned Parquet/Delta commit → SQL. Spark-first:

    spark.readStream.format("mysql-cdc-replay")
      → route(dbs, tables)                      (operators/router)
      → writeStream.foreachBatch(merge)         (collapse + MERGE)
      → spark.sql over the managed table

Each microbatch is materialised once per microbatch: one count evaluates
the source into a cache, and the MERGE reads only that cache.

The sink is a ``ParquetUpsertTable``: versioned parquet snapshots whose
one commit record is a Delta-protocol log the sink writes itself — the
transaction the reference commits through delta-rs (``Add`` actions,
then ``try_commit_transaction(version+1)``,
/root/reference/src/delta/mod.rs:301-350), put-if-absent on a local
file system. There is no Delta MERGE path: the log is JSON, written
without delta-spark.

Exactly-once: Spark's offset log + ``txn_version`` tracking in the log's
``txn`` actions — a replayed microbatch (same epoch id) is skipped, making the
foreachBatch MERGE idempotent. This is strictly stronger than the
reference's 5 s async offset commit, which can re-deliver after a crash
(at-least-once, /root/reference/src/mysql/conn.rs:272-295).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rust_cdc_spark.datamodel import ROW_OPS
from rust_cdc_spark.operators.merge import merge_upsert
from rust_cdc_spark.sources.tables import read_parquet


def typed_images(changes: DataFrame, schema: T.StructType) -> DataFrame:
    """Cast the schema-drift-tolerant map<string,string> envelope images
    into the table's typed struct (the registry-driven step the reference
    performs positionally at decode time — our source ships strings and
    types late, so DDL-driven schema changes never break the stream)."""

    def img(col: str):
        return F.when(
            F.col(col).isNotNull(),
            F.struct(
                *[
                    F.col(col).getItem(f.name).cast(f.dataType).alias(f.name)
                    for f in schema.fields
                ]
            ),
        )

    return changes.withColumn("before", img("before")).withColumn(
        "after", img("after")
    )


class ParquetUpsertTable:
    """Versioned parquet table with MERGE semantics.

    Layout: ``<path>/v=<N>/*.parquet`` holds all of version N, and
    ``<path>/_delta_log/<N:020d>.json`` is its commit, in the Delta
    transaction protocol: ``protocol`` and ``metaData`` in commit 0,
    ``metaData`` again when the schema changes, ``remove`` for each file
    of version N−1 and ``add`` for each file of version N, then one
    ``txn {appId, version}`` per idempotence entry, re-stated in every
    commit. The log is the only commit record: a ``v=N`` without a
    commit is not a version. A commit is put-if-absent (``os.link``),
    so an existing commit is never overwritten.

    Not written: ``add.stats``, log checkpoints and log cleanup. Nor is
    there multi-writer arbitration: two writers share the ``v=N``
    directory, so a losing writer's ``mode("overwrite")`` has already
    deleted the winner's files before its log link fails.
    """

    def __init__(
        self,
        path: str,
        key_cols: list[str],
        partition_by: list[str] | None = None,
        image_schema: T.StructType | None = None,
    ):
        self.path = path
        self.key_cols = key_cols
        self.partition_by = partition_by or []
        self.image_schema = image_schema
        self._schema: tuple[int, str | None] = (-1, None)  # last commit's

    # ── commit log ──────────────────────────────────────────────────────
    def _log_path(self, version: int) -> str:
        return os.path.join(self.path, "_delta_log", f"{version:020d}.json")

    def _actions(self, version: int) -> list[dict]:
        with open(self._log_path(version)) as fh:
            return [json.loads(line) for line in fh]

    def _meta(self) -> dict:
        """The newest commit's ``{"version", "txn"}``."""
        log_dir = os.path.join(self.path, "_delta_log")
        names = os.listdir(log_dir) if os.path.isdir(log_dir) else []
        commits = [int(n[:-5]) for n in names
                   if n.endswith(".json") and n[:-5].isdigit()]
        if not commits:
            return {"version": -1, "txn": {}}
        v = max(commits)
        txn = {a["txn"]["appId"]: a["txn"]["version"]
               for a in self._actions(v) if "txn" in a}
        return {"version": v, "txn": txn}

    def _schema_at(self, version: int) -> str | None:
        """The schemaString in force at ``version``: its newest
        ``metaData``. A writer remembers its own last commit's, so it
        reads the log back only once."""
        if self._schema[0] == version:
            return self._schema[1]
        for v in range(version, -1, -1):
            for a in self._actions(v):
                if "metaData" in a:
                    return a["metaData"]["schemaString"]
        return None

    def _files(self, version: int) -> list[str]:
        snap = self._snapshot_dir(version)
        return sorted(
            os.path.join(root, n)
            for root, _dirs, names in os.walk(snap)
            for n in names
            if n.endswith(".parquet")
        )

    def _commit_meta(self, meta: dict) -> None:
        """Commit version ``meta["version"]`` of schema ``meta["schema"]``
        with the idempotence entries ``meta["txn"]``: the one commit
        point, read back by ``_meta``. Reads no data: the file list and
        sizes come from the directory, partition values from its layout.
        Raises ``FileExistsError`` when that version is committed."""
        v = meta["version"]
        # Every column nullable, as Delta records it and Spark reads back.
        schema = re.sub(r'"(nullable|containsNull|valueContainsNull)":false',
                        r'"\1":true', meta["schema"].json())
        actions = []
        if v == 0:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
        if schema != self._schema_at(v - 1):
            actions.append({"metaData": {
                "id": str(uuid.uuid5(uuid.NAMESPACE_URL, self.path)),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema,
                "partitionColumns": list(self.partition_by),
                "configuration": {},
            }})
        now = int(time.time() * 1000)
        for f in self._files(v - 1):
            actions.append({"remove": {
                "path": os.path.relpath(f, self.path),
                "deletionTimestamp": now,
                "dataChange": True,
            }})
        snap = self._snapshot_dir(v)
        for f in self._files(v):
            rel = os.path.relpath(os.path.dirname(f), snap)
            actions.append({"add": {
                "path": os.path.relpath(f, self.path),
                "partitionValues": dict(
                    seg.split("=", 1) for seg in rel.split(os.sep) if "=" in seg
                ),
                "size": os.path.getsize(f),
                "modificationTime": int(os.path.getmtime(f) * 1000),
                "dataChange": True,
            }})
        for app_id, txn_version in meta["txn"].items():
            actions.append({"txn": {"appId": app_id, "version": txn_version}})
        final = self._log_path(v)
        os.makedirs(os.path.dirname(final), exist_ok=True)
        tmp = f"{final}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as fh:
            fh.writelines(json.dumps(a) + "\n" for a in actions)
        try:
            os.link(tmp, final)  # put-if-absent: fails if ``final`` exists
        finally:
            os.unlink(tmp)
        self._schema = (v, schema)

    def version(self) -> int:
        return self._meta()["version"]

    def _snapshot_dir(self, version: int) -> str:
        return os.path.join(self.path, f"v={version}")

    # ── read ────────────────────────────────────────────────────────────
    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame | None:
        """Read the current snapshot, or time-travel to ``version`` if it
        is committed and still retained (Delta ``VERSION AS OF`` analog)."""
        v = self.version() if version is None else version
        if v < 0:
            return None
        snap = self._snapshot_dir(v)
        if not (os.path.exists(self._log_path(v)) and os.path.isdir(snap)):
            raise ValueError(f"version {v} is not committed or no longer retained")
        return read_parquet(spark, snap)

    def history(self) -> list[int]:
        """Committed versions whose snapshot is retained, oldest first
        (DESCRIBE HISTORY analog)."""
        if not os.path.isdir(self.path):
            return []
        versions = (int(d[2:]) for d in os.listdir(self.path) if d.startswith("v="))
        return sorted(v for v in versions if os.path.exists(self._log_path(v)))

    def register_view(self, spark: SparkSession, name: str) -> None:
        df = self.read(spark)
        if df is not None:
            df.createOrReplaceTempView(name)

    # ── write ───────────────────────────────────────────────────────────
    def _write_snapshot(self, df: DataFrame, version: int) -> None:
        out = self._snapshot_dir(version)
        writer = df.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(out)

    @staticmethod
    def _applied(meta: dict, app_id: str, txn_version: int | None) -> bool:
        return txn_version is not None and meta["txn"].get(app_id, -1) >= txn_version

    def _commit(
        self, df: DataFrame, meta: dict, app_id: str, txn_version: int | None
    ) -> None:
        """Write ``df`` as the version after ``meta``'s and commit it."""
        v = meta["version"] + 1
        self._write_snapshot(df, v)
        txn = dict(meta["txn"])
        if txn_version is not None:
            txn[app_id] = txn_version
        self._commit_meta({"version": v, "txn": txn, "schema": df.schema})
        self._cleanup(keep_from=v)

    def overwrite(
        self, df: DataFrame, app_id: str = "cdc", txn_version: int | None = None
    ) -> None:
        """Replace the table with ``df``. ``app_id``/``txn_version`` are
        ``merge``'s idempotence pair: an applied one is a no-op."""
        meta = self._meta()
        if not self._applied(meta, app_id, txn_version):
            self._commit(df, meta, app_id, txn_version)

    def merge(
        self,
        changes: DataFrame,
        order_by: str | list[str] | None = None,
        app_id: str = "cdc",
        txn_version: int | None = None,
    ) -> None:
        """MERGE an envelope change set. Only row changes (I/U/D) reach
        the MERGE: TXN, DDL and ERR envelopes carry no row image.
        ``txn_version`` (the foreachBatch epoch id) makes replays no-ops
        — the Delta txnAppId/txnVersion idempotence pattern."""
        from rust_cdc_spark.operators.collapse import DEFAULT_ORDER

        if order_by is None:
            order_by = DEFAULT_ORDER
        meta = self._meta()
        if self._applied(meta, app_id, txn_version):
            return  # already applied — replayed microbatch
        spark = changes.sparkSession
        changes = changes.filter(F.col("op").isin(*ROW_OPS))
        target = self.read(spark, meta["version"])
        if isinstance(changes.schema["before"].dataType, T.MapType):
            schema = self.image_schema
            if schema is None:
                # Schema-on-read fallback, re-derived every batch: an
                # all-string struct of the target table's columns plus
                # the keys observed in this batch, so a late-arriving
                # column widens the table and none ever shrinks it. Key
                # columns must be present.
                observed = [
                    r[0]
                    for r in changes.select(
                        F.explode(
                            F.map_keys(F.coalesce(F.col("after"), F.col("before")))
                        )
                    )
                    .distinct()
                    .collect()
                ]
                cols = list(
                    dict.fromkeys(
                        (target.columns if target is not None else [])
                        + self.key_cols
                        + sorted(observed)
                    )
                )
                schema = T.StructType(
                    [
                        T.StructField(
                            c,
                            target.schema[c].dataType
                            if target is not None and c in target.columns
                            else T.StringType(),
                        )
                        for c in cols
                    ]
                )
            changes = typed_images(changes, schema)
        if target is None:
            target = changes.select("after.*").limit(0)
        merged = merge_upsert(target, changes, self.key_cols, order_by)
        self._commit(merged, meta, app_id, txn_version)

    def compact(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 * 1024 * 1024,
        zorder_by: list[str] | None = None,
    ) -> None:
        """OPTIMIZE analog (reference K8 ``min_bytes_per_file`` 128 MiB,
        /root/reference/src/delta/mod.rs:200-202): rewrite the current
        snapshot into ~target-sized files. File count is derived from the
        on-disk snapshot size — a driver-side stat, not a data scan.

        ``zorder_by`` additionally clusters the rewrite on the Morton key
        of the given columns (OPTIMIZE ZORDER BY analog,
        operators/layout.py) so footer min/max stats prune point-lookup
        and range scans on every listed column, not just one."""
        v = self.version()
        if v < 0:
            return
        size = sum(os.path.getsize(f) for f in self._files(v))
        n_files = max(1, round(size / target_file_bytes))
        df = self.read(spark, v)
        if zorder_by:
            from rust_cdc_spark.operators.layout import with_zorder_key

            df = (
                with_zorder_key(df, zorder_by)
                .repartitionByRange(n_files, "zkey")
                .sortWithinPartitions("zkey")
                .drop("zkey")
            )
            self.overwrite(df)
            return
        self.overwrite(df.repartition(n_files))

    def diff(
        self, spark: SparkSession, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change Data Feed analog: row-level changes between two
        retained versions as CDC envelope ops — insert/update/delete per
        key (full-outer join on keys + image comparison). The engine can
        therefore *re-emit* a change stream from any table it maintains,
        closing the loop source→table→source."""
        to_version = self.version() if to_version is None else to_version
        old = self.read(spark, from_version)
        new = self.read(spark, to_version)
        if old.columns != new.columns:  # a late column widened the table
            old = old.select(*[
                F.col(c) if c in old.columns
                else F.lit(None).cast(new.schema[c].dataType).alias(c)
                for c in new.columns
            ])
        keys = self.key_cols
        o = old.select(
            *[F.col(k).alias(f"__ok_{k}") for k in keys],
            F.struct(*old.columns).alias("before"),
        )
        n = new.select(
            *[F.col(k).alias(f"__nk_{k}") for k in keys],
            F.struct(*new.columns).alias("after"),
        )
        cond = [F.col(f"__ok_{k}").eqNullSafe(F.col(f"__nk_{k}")) for k in keys]
        joined = o.join(n, on=cond[0] if len(cond) == 1 else F.expr(" AND ".join(
            f"__ok_{k} <=> __nk_{k}" for k in keys)), how="full_outer")
        op = (
            F.when(F.col("before").isNull(), F.lit("I"))
            .when(F.col("after").isNull(), F.lit("D"))
            .otherwise(F.lit("U"))
        )
        return (
            joined.withColumn("op", op)
            .filter(
                F.col("before").isNull()
                | F.col("after").isNull()
                | (F.col("before") != F.col("after"))
            )
            .select("op", "before", "after")
        )

    def _cleanup(self, keep_from: int, retain: int = 2) -> None:
        """Drop snapshots older than ``retain`` versions (reference
        cleans obsolete logs at checkpoint time, delta/mod.rs:266-292)."""
        if not os.path.isdir(self.path):
            return
        for d in os.listdir(self.path):
            if d.startswith("v="):
                v = int(d.split("=")[1])
                if v <= keep_from - retain:
                    shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)


def start_cdc_pipeline(
    spark: SparkSession,
    source_dir: str,
    table: ParquetUpsertTable,
    dbs: list[str] | None = None,
    tables: list[str] | None = None,
    checkpoint_dir: str | None = None,
    processing_time: str | None = None,
    max_events_per_trigger: int | None = None,
    gtid_executed: str | None = None,
    app_id: str | None = None,
):
    """Wire the full reference pipeline as one streaming query.

    Returns the StreamingQuery; callers stop it or
    ``processAllAvailable()`` it. Routing happens on the stream (narrow
    filter); collapse+MERGE per microbatch in foreachBatch.
    ``max_events_per_trigger`` bounds each microbatch (reference
    ``max_messages_per_batch``). ``gtid_executed`` is the failover-resume
    set (streaming/gtid.py): events whose GTID is already executed are
    dropped inside the source, so switching servers (where file/pos
    offsets are meaningless) cannot re-deliver transactions. A failover
    is a NEW stream incarnation (fresh checkpoint, epoch ids restart) —
    give it a new ``app_id`` so the sink's (app_id, txn_version)
    idempotence guard scopes to the incarnation; cross-server dedup is
    the GTID set's job, same-stream replay dedup is txn_version's.
    """
    from rust_cdc_spark.streaming.replay_source import register

    register(spark)
    reader = spark.readStream.format("mysql-cdc-replay").option("path", source_dir)
    if max_events_per_trigger:
        reader = reader.option("maxeventspertrigger", str(max_events_per_trigger))
    if gtid_executed:
        reader = reader.option("gtidexecuted", gtid_executed)
    if checkpoint_dir:
        # Let the source's rate limiter resume from the durable offset log
        # on restart (see BinlogReplayReader._durable_start).
        reader = reader.option("checkpointlocation", checkpoint_dir)
    stream = reader.load()
    return _route_and_merge(
        stream, table, dbs, tables, checkpoint_dir, processing_time, app_id
    )


def _foreach_microbatch(
    stream: DataFrame,
    apply: Callable[[DataFrame, int], None],
    checkpoint_dir: str | None,
    processing_time: str | None = None,
):
    """Start ``stream`` with ``apply(batch, epoch_id)`` run on every
    non-empty microbatch, materialised once per microbatch: ``count()``
    is the one evaluation of the source (one decode of the replay files,
    one dump connection of the live source) and fills every partition of
    the cache, each side of a union included; ``apply`` reads the cache,
    which is dropped when the batch ends, on success or failure."""

    def run(batch: DataFrame, epoch_id: int) -> None:
        batch = batch.persist()
        try:
            if batch.count():
                apply(batch, epoch_id)
        finally:
            batch.unpersist()

    writer = stream.writeStream.foreachBatch(run).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def _route_and_merge(
    stream: DataFrame,
    table: ParquetUpsertTable,
    dbs: list[str] | None,
    tables: list[str] | None,
    checkpoint_dir: str | None,
    processing_time: str | None,
    app_id: str | None,
    order_by: list[str] | None = None,
):
    """Shared pipeline tail: regex routing on the stream (narrow filter)
    then collapse+MERGE of each microbatch, materialised once per
    microbatch — identical for the JSONL replay source, the live wire
    source and the sharded union."""
    from rust_cdc_spark.operators.router import route

    if dbs or tables:
        stream = route(stream, dbs or ["*"], tables or ["*"])

    def merge(batch: DataFrame, epoch_id: int) -> None:
        table.merge(
            batch, order_by=order_by, txn_version=epoch_id, app_id=app_id or "cdc"
        )

    return _foreach_microbatch(stream, merge, checkpoint_dir, processing_time)


def start_live_cdc_pipeline(
    spark: SparkSession,
    conn: dict,
    table: ParquetUpsertTable,
    dbs: list[str] | None = None,
    tables: list[str] | None = None,
    checkpoint_dir: str | None = None,
    processing_time: str | None = None,
    gtid_executed: str | None = None,
    app_id: str | None = None,
):
    """The same pipeline over the LIVE wire connector
    (``streaming/live_source.py``): handshake → COM_BINLOG_DUMP → decode
    → route → collapse+MERGE, end to end over TCP — the reference's full
    loop (/root/reference/src/mysql/conn.rs:133-157) as one streaming
    query. ``conn`` carries host/port/user/password/serverid/
    startingoffsets/sslmode."""
    from rust_cdc_spark.streaming.live_source import register as register_live

    register_live(spark)
    reader = spark.readStream.format("mysql-cdc")
    for k, v in conn.items():
        reader = reader.option(k, str(v))
    if gtid_executed:
        reader = reader.option("gtidexecuted", gtid_executed)
    return _route_and_merge(
        reader.load(), table, dbs, tables, checkpoint_dir,
        processing_time, app_id,
    )


def bootstrap_from_snapshot(
    table: ParquetUpsertTable, snapshot: DataFrame
) -> None:
    """Debezium-style initial-snapshot bootstrap: seed the target with a
    consistent snapshot of the source table, then let the CDC stream
    catch up from the snapshot's binlog position (the reference's
    ``show master status`` start, /root/reference/src/mysql/conn.rs:419,
    plus a full-table read the reference leaves to the operator).
    Merges from the stream are idempotent over the seed."""
    table.overwrite(snapshot)


def start_multi_table_pipeline(
    spark: SparkSession,
    source_dir: str,
    tables: dict[tuple[str, str], ParquetUpsertTable],
    checkpoint_dir: str | None = None,
):
    """Fan one CDC stream out to N tables in a single streaming query.

    The reference runs one IngestProcessor per table; here one microbatch
    is materialised once and each (db, table) slice it holds MERGEs into
    its own sink — same offset log, same epoch id for all tables (a crash
    replays the epoch into every table idempotently, so the set of
    tables stays mutually consistent)."""
    from rust_cdc_spark.streaming.replay_source import register

    register(spark)
    reader = spark.readStream.format("mysql-cdc-replay").option("path", source_dir)
    if checkpoint_dir:
        reader = reader.option("checkpointlocation", checkpoint_dir)

    def fan_out(batch: DataFrame, epoch_id: int) -> None:
        present = set(batch.select("database", "table").distinct().collect())
        for (db, tbl), table in tables.items():
            if (db, tbl) in present:
                slice_ = batch.filter(
                    (F.col("database") == db) & (F.col("table") == tbl)
                )
                table.merge(slice_, txn_version=epoch_id, app_id=f"{db}.{tbl}")

    return _foreach_microbatch(reader.load(), fan_out, checkpoint_dir)


def split_dead_letters(envelope: DataFrame) -> tuple[DataFrame, DataFrame]:
    """K4 quarantine analog (/root/reference/src/delta/writer.rs:317-338,
    491-511): rows that failed envelope parsing (NULL log_pos after
    from_json) split off to the dead-letter side; good rows continue to
    MERGE. Both sides are DataFrames — route the dead side to its own
    table (``dlq_table_uri`` in the reference's options)."""
    bad = F.col("log_pos").isNull() | F.col("op").eqNullSafe("ERR")
    ok = envelope.filter(~bad)
    dead = envelope.filter(bad)
    return ok, dead


def streaming_dedup(stream: DataFrame, key_cols: list[str], watermark_col: str,
                    delay: str = "10 minutes") -> DataFrame:
    """Watermark-bounded streaming dedup — the A4 (bloom-filter) analog
    with exact semantics and bounded state
    (``dropDuplicatesWithinWatermark``)."""
    return stream.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(
        key_cols
    )


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def use_rocksdb_state_store(spark: SparkSession, changelog: bool = True) -> bool:
    """O3 parity: back stateful streaming operators (dedup, funnels,
    txn assembly, windowed aggs) with the RocksDB state store — the
    engine analog of the reference's RocksDB offset/snapshot backend
    (/root/reference/src/snapshot/rocksdb_backend.rs:10-85), but holding
    OPERATOR state (the reference only persists offsets there; Spark's
    state store covers both, with the offset log handling offsets).

    Returns True when the provider class is present (it ships with this
    Spark build) and the session conf was set; False on builds without
    the RocksDB jar — callers keep the default HDFS-backed provider.
    The conf applies to queries STARTED afterwards; running queries keep
    the provider they started with. ``changelog`` enables changelog
    checkpointing (upload per-batch deltas instead of full snapshots —
    the right default for large state at scale)."""
    try:
        spark._jvm.java.lang.Class.forName(ROCKSDB_PROVIDER)  # noqa: SLF001
    except Exception:
        return False
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
                   ROCKSDB_PROVIDER)
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing"
        ".enabled",
        "true" if changelog else "false",
    )
    return True


def start_sharded_pipeline(
    spark: SparkSession,
    shard_dirs: dict[str, str],
    table: ParquetUpsertTable,
    checkpoint_dir: str,
    max_events_per_trigger: int | None = None,
):
    """Sharded-source CDC: N shard binlogs (a sharded/Vitess-style MySQL
    fleet) merge into ONE logical table in a single streaming query.

    Each shard is its own source with its own (file, line) offsets —
    Spark's offset log tracks the union per-source, so a restart resumes
    every shard exactly where it left off. Correctness requirement
    (documented, as in every sharded-CDC system): rows are hash-sharded
    by the merge key, so all events for one key live on one shard and
    that shard's (log_file, log_pos) totally orders them; the collapse
    therefore orders by (shard, log_file, log_pos) and never compares
    positions across shards. Scale shape: one union (narrow), one MERGE
    per microbatch — shard count changes parallelism, not plan shape."""
    from functools import reduce

    from rust_cdc_spark.streaming.replay_source import register

    register(spark)
    streams = []
    for shard, directory in sorted(shard_dirs.items()):
        reader = (
            spark.readStream.format("mysql-cdc-replay")
            .option("path", directory)
        )
        if max_events_per_trigger:
            reader = reader.option(
                "maxeventspertrigger", str(max_events_per_trigger)
            )
        streams.append(
            reader.load().withColumn("shard", F.lit(shard))
        )
    stream = reduce(lambda a, b: a.unionByName(b), streams)
    return _route_and_merge(stream, table, None, None, checkpoint_dir, None, None,
                            order_by=["shard", "log_file", "log_pos"])

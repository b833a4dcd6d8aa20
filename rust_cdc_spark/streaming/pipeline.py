"""CDC ingest pipeline: stream → route → collapse → MERGE → queryable table.

Reference dataflow (SURVEY.md §0): binlog events → regex filter →
upsert buffer → partitioned Parquet/Delta commit → SQL. Spark-first:

    spark.readStream.format("mysql-cdc-replay")
      → route(dbs, tables)                      (operators/router)
      → writeStream.foreachBatch(merge)         (collapse + MERGE)
      → spark.sql over the managed table

Each microbatch is materialised once per microbatch: one count evaluates
the source into a cache, and the MERGE reads only that cache.

The sink is a ``ParquetUpsertTable``: a versioned-snapshot parquet table
with an atomic version pointer — the same transactional contract the
reference builds on delta-rs (prepare → commit version N+1,
/root/reference/src/delta/mod.rs:301-350), reduced to what plain
parquet + a rename can guarantee. There is no Delta MERGE path; Delta
readers are served by ``export_delta_log``, which writes a Delta-protocol
log over the retained snapshots.

Exactly-once: Spark's offset log + ``txn_version`` tracking in the table
metadata — a replayed microbatch (same epoch id) is skipped, making the
foreachBatch MERGE idempotent. This is strictly stronger than the
reference's 5 s async offset commit, which can re-deliver after a crash
(at-least-once, /root/reference/src/mysql/conn.rs:272-295).
"""

from __future__ import annotations

import json
import os
import shutil
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

    Layout: ``<path>/v=<N>/*.parquet`` snapshots + ``<path>/_meta.json``
    holding {"version": N, "txn": {app_id: last_epoch}}. Readers resolve
    the pointer then scan one snapshot directory — writers never mutate a
    committed snapshot (same optimistic-commit shape as Delta, without
    multi-writer arbitration).
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

    # ── metadata ────────────────────────────────────────────────────────
    def _meta(self) -> dict:
        p = os.path.join(self.path, "_meta.json")
        if not os.path.exists(p):
            return {"version": -1, "txn": {}}
        with open(p) as fh:
            return json.load(fh)

    def _commit_meta(self, meta: dict) -> None:
        tmp = os.path.join(self.path, "_meta.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, os.path.join(self.path, "_meta.json"))  # atomic

    def version(self) -> int:
        return self._meta()["version"]

    def _snapshot_dir(self, version: int) -> str:
        return os.path.join(self.path, f"v={version}")

    # ── read ────────────────────────────────────────────────────────────
    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame | None:
        """Read the current snapshot, or time-travel to ``version`` if it
        is still retained (Delta ``VERSION AS OF`` analog)."""
        v = self.version() if version is None else version
        if v < 0:
            return None
        snap = self._snapshot_dir(v)
        if not os.path.isdir(snap):
            raise ValueError(
                f"version {v} not retained (older than the retention window)"
            )
        return read_parquet(spark, snap)

    def history(self) -> list[int]:
        """Retained snapshot versions, oldest first (DESCRIBE HISTORY
        analog)."""
        if not os.path.isdir(self.path):
            return []
        return sorted(
            int(d.split("=")[1]) for d in os.listdir(self.path) if d.startswith("v=")
        )

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

    def overwrite(self, df: DataFrame) -> None:
        meta = self._meta()
        v = meta["version"] + 1
        self._write_snapshot(df, v)
        meta["version"] = v
        self._commit_meta(meta)
        self._cleanup(keep_from=v)

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
        if txn_version is not None and meta["txn"].get(app_id, -1) >= txn_version:
            return  # already applied — replayed microbatch
        spark = changes.sparkSession
        changes = changes.filter(F.col("op").isin(*ROW_OPS))
        target = self.read(spark)
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
            from rust_cdc_spark.operators.collapse import collapse_last_image

            final = collapse_last_image(
                changes.withColumns(
                    {k: F.coalesce(F.col(f"after.{k}"), F.col(f"before.{k}"))
                     for k in self.key_cols}
                ),
                self.key_cols,
                order_by,
            )
            merged = final.filter(F.col("op") != "D").select(F.col("after.*"))
        else:
            merged = merge_upsert(target, changes, self.key_cols, order_by)
        v = meta["version"] + 1
        self._write_snapshot(merged, v)
        meta["version"] = v
        if txn_version is not None:
            meta["txn"][app_id] = txn_version
        self._commit_meta(meta)
        self._cleanup(keep_from=v)

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
        snap = self._snapshot_dir(v)
        size = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(snap)
            for f in files
        )
        n_files = max(1, round(size / target_file_bytes))
        df = read_parquet(spark, snap)
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

    # ── Delta-format interop ────────────────────────────────────────────
    def export_delta_log(self, spark: SparkSession) -> str:
        """Write a Delta-protocol ``_delta_log`` describing the retained
        snapshot history, so a real Delta reader can open this table's
        data files (reference commits native Delta transactions,
        /root/reference/src/delta/mod.rs:301-350; this image has no
        delta-spark jars, so the LOG FORMAT itself — the public Delta
        transaction protocol — is produced directly and structurally
        tested: protocol/metaData actions, remove+add per commit,
        partitionValues parsed from the layout, schemaString =
        Spark ``StructType.json()`` exactly as Delta stores it).

        Each retained snapshot is a full overwrite, so commit k is
        "remove every file of snapshot k−1, add every file of snapshot
        k" with ``dataChange: true`` — the same action stream Delta's
        own ``overwrite`` mode emits. Commits are renumbered 0..k over
        the retained window (Delta requires a contiguous log; retention
        here plays the role of a checkpoint cutoff).

        The project depends on no Delta reader, so no test reads the
        log back through one."""
        import uuid

        hist = self.history()
        if not hist:
            raise ValueError("no snapshots to export")
        log_dir = os.path.join(self.path, "_delta_log")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        schema_json = self.read(spark).schema.json()

        def _files(version: int) -> list[str]:
            out = []
            snap = self._snapshot_dir(version)
            for root, _dirs, names in os.walk(snap):
                for n in sorted(names):
                    if n.endswith(".parquet"):
                        out.append(os.path.join(root, n))
            return sorted(out)

        def _partition_values(path: str, version: int) -> dict:
            rel = os.path.relpath(os.path.dirname(path),
                                  self._snapshot_dir(version))
            vals = {}
            for seg in rel.split(os.sep):
                if "=" in seg:
                    k, _, v = seg.partition("=")
                    vals[k] = v
            return vals

        prev: list[tuple[str, int]] = []  # (relative path, version)
        for commit, v in enumerate(hist):
            actions = []
            if commit == 0:
                actions.append(
                    {"protocol": {"minReaderVersion": 1,
                                  "minWriterVersion": 2}}
                )
                actions.append({"metaData": {
                    "id": str(uuid.uuid5(uuid.NAMESPACE_URL, self.path)),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_json,
                    "partitionColumns": list(self.partition_by),
                    "configuration": {},
                }})
            files = _files(v)
            ts = max(
                (int(os.path.getmtime(f) * 1000) for f in files), default=0
            )
            for rel, _pv in prev:
                actions.append({"remove": {
                    "path": rel, "deletionTimestamp": ts,
                    "dataChange": True,
                }})
            prev = []
            for f in files:
                rel = os.path.relpath(f, self.path)
                actions.append({"add": {
                    "path": rel,
                    "partitionValues": _partition_values(f, v),
                    "size": os.path.getsize(f),
                    "modificationTime": int(os.path.getmtime(f) * 1000),
                    "dataChange": True,
                }})
                prev.append((rel, v))
            with open(os.path.join(log_dir, f"{commit:020d}.json"),
                      "w") as fh:
                for a in actions:
                    fh.write(json.dumps(a) + "\n")
        return log_dir

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

"""CDC pipeline queries — the reference's own operator surface.

Each query pairs the DataFrame implementation (sources/events_cdc +
operators/{router,collapse,merge}) with the equivalent ANSI SQL oracle.
The change stream is derived deterministically from the ``events`` table
(see sources/events_cdc.py) so both engines see identical input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rust_cdc_spark.operators import bootstrap as BOOT
from rust_cdc_spark.operators import incremental as IV
from rust_cdc_spark.operators import scd as SCD
from rust_cdc_spark.operators.collapse import collapse_last_image
from rust_cdc_spark.operators.merge import merge_upsert
from rust_cdc_spark.operators.ranks import pin
from rust_cdc_spark.operators.router import route
from rust_cdc_spark.queries import register
from rust_cdc_spark.sources.events_cdc import events_as_cdc
from rust_cdc_spark.sources.tables import load_table

# Shared CASE expression (DuckDB side) for event_type → op.
_OP_SQL = "CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D' ELSE 'U' END"


@register(
    "cdc_normalize",
    oracle=f"""
    SELECT event_id AS log_pos,
           user_id  AS key,
           'app'    AS "database",
           'users'  AS "table",
           {_OP_SQL} AS op,
           event_type,
           value
    FROM events
    """,
)
def cdc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S6 analog: raw change events → normalized CDC envelope rows
    (flattened row image; update/insert carry after, delete carries
    before — reference RowType semantics, event/mod.rs:208-229)."""
    cdc = events_as_cdc(spark, sf_dir)
    img = lambda f: F.coalesce(F.col(f"after.{f}"), F.col(f"before.{f}"))  # noqa: E731
    return cdc.select(
        "log_pos",
        "key",
        "database",
        "table",
        "op",
        img("event_type").alias("event_type"),
        img("value").alias("value"),
    )


@register(
    "cdc_route_regex",
    oracle=f"""
    SELECT event_id AS log_pos,
           user_id  AS key,
           'users_' || CAST(user_id % 4 AS VARCHAR) AS "table",
           {_OP_SQL} AS op
    FROM events
    WHERE regexp_matches('app.users_' || CAST(user_id % 4 AS VARCHAR),
                         '^(app\\.users_1|app\\.u.*_3)$')
    """,
)
def cdc_route_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 analog: regex database/table router with glob patterns
    (MatchStrategy, /root/reference/src/mysql/mod.rs:21-90). The virtual
    table is sharded users_<user_id%4>; patterns keep shards 1 and 3
    (the second via a ``u*_3`` glob)."""
    cdc = events_as_cdc(spark, sf_dir).withColumn(
        "table", F.concat(F.lit("users_"), (F.col("key") % 4).cast("string"))
    )
    routed = route(cdc, dbs=["app"], tables=["users_1", "u*_3"])
    return routed.select("log_pos", "key", "table", "op")


@register(
    "cdc_collapse_last",
    oracle=f"""
    SELECT user_id AS key,
           event_id AS log_pos,
           {_OP_SQL} AS op,
           event_type,
           value
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
    """,
)
def cdc_collapse_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 analog: last-writer-wins collapse per key in binlog order
    (ValueBuffers, /root/reference/src/delta/value_buffer.rs:15-83)."""
    cdc = events_as_cdc(spark, sf_dir)
    img = lambda f: F.coalesce(F.col(f"after.{f}"), F.col(f"before.{f}"))  # noqa: E731
    return collapse_last_image(cdc, ["key"]).select(
        "key",
        "log_pos",
        "op",
        img("event_type").alias("event_type"),
        img("value").alias("value"),
    )


@register(
    "cdc_current_state",
    oracle="""
    SELECT user_id, event_type, value
    FROM (
        SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        FROM events
    )
    WHERE rn = 1 AND event_type <> 'error'
    """,
)
def cdc_current_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The "current table state" view: final image per key, deletes
    dropped — what the reference's upsert loop leaves in Delta."""
    cdc = events_as_cdc(spark, sf_dir)
    return (
        collapse_last_image(cdc, ["key"], keep_deletes=False)
        .select(F.col("key").alias("user_id"), "after.event_type", "after.value")
    )


@register(
    "cdc_merge_upsert",
    oracle="""
    SELECT user_id, event_type, value, props
    FROM (
        SELECT user_id, event_type, value, props,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        FROM events
    )
    WHERE rn = 1 AND event_type <> 'error'
    """,
)
def cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+K5 analog, end-to-end MERGE invariant: state(first half of the
    log) MERGE changes(second half) == collapse(whole log). The oracle is
    the full-log collapse; the Spark side actually executes the
    target/changes merge (anti-join ∪ upserts, operators/merge.py)."""
    cdc = events_as_cdc(spark, sf_dir)
    # log midpoint as a broadcast 1-row agg (the cdc_scd2_as_of
    # pattern) — no data-dependent driver action / extra Spark job, and
    # the split predicate evaluates engine-side after a broadcast of
    # one scalar row.
    bounds = cdc.agg((F.max("log_pos") / 2).cast("long").alias("__mid"))
    log = cdc.crossJoin(F.broadcast(bounds))
    first = log.filter(F.col("log_pos") <= F.col("__mid")).drop("__mid")
    second = log.filter(F.col("log_pos") > F.col("__mid")).drop("__mid")
    target = (
        collapse_last_image(first, ["key"], keep_deletes=False)
        .select(F.col("after.*"))
    )
    return merge_upsert(target, second, ["user_id"])


@register(
    "cdc_op_stats",
    oracle=f"""
    SELECT {_OP_SQL} AS op,
           count(*) AS n,
           min(event_id) AS min_pos,
           max(event_id) AS max_pos,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys
    FROM events
    GROUP BY 1
    """,
)
def cdc_op_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational telemetry over the stream (the reference exposes
    counters via statsd, /root/reference/src/delta/mod.rs:205-216):
    per-op event counts, offset ranges, distinct keys."""
    cdc = events_as_cdc(spark, sf_dir)
    return cdc.groupBy("op").agg(
        F.count("*").alias("n"),
        F.min("log_pos").alias("min_pos"),
        F.max("log_pos").alias("max_pos"),
        F.countDistinct("key").alias("n_keys"),
    )


@register(
    "cdc_ddl_comment_strip",
    oracle="""
    SELECT event_id AS log_pos,
           trim(regexp_replace(
               '/* gh-ost */ ALTER TABLE users ADD COLUMN c' || CAST(event_id % 5 AS VARCHAR)
               || ' INT /* tail */', '(/\\*)(.*?)(\\*/)(\\s)*', '', 'g')) AS query
    FROM events
    WHERE event_id % 100 = 0
    """,
)
def cdc_ddl_comment_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 analog: QueryEvent comment stripping
    (``replace_note`` regex, /root/reference/src/mysql/event/mod.rs:18-23).
    Synthesizes DDL text deterministically from event ids, then strips
    ``/* .. */`` comments exactly as the reference does."""
    ev = load_table(spark, "events", sf_dir).filter(F.col("event_id") % 100 == 0)
    ddl = F.concat(
        F.lit("/* gh-ost */ ALTER TABLE users ADD COLUMN c"),
        (F.col("event_id") % 5).cast("string"),
        F.lit(" INT /* tail */"),
    )
    return ev.select(
        F.col("event_id").alias("log_pos"),
        F.trim(F.regexp_replace(ddl, r"(/\*)(.*?)(\*/)(\s)*", "")).alias("query"),
    )


@register(
    "cdc_txn_boundaries",
    oracle=f"""
    SELECT event_id // 10 AS xid,
           CAST(count(*) AS BIGINT) AS n_ops,
           min(event_id) AS first_pos,
           max(event_id) AS last_pos,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys
    FROM events
    GROUP BY 1
    """,
)
def cdc_txn_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 analog: transaction markers (GTID/Xid) group row events into
    commits (Xid ends a transaction — reference decode_xid,
    /root/reference/src/mysql/event/decode.rs:98-100). The replay stream
    assigns xid = log_pos div 10 deterministically; the query reports
    per-transaction op counts and offset spans."""
    cdc = events_as_cdc(spark, sf_dir).withColumn(
        "xid", (F.col("log_pos") / 10).cast("long")
    )
    return cdc.groupBy("xid").agg(
        F.count("*").alias("n_ops"),
        F.min("log_pos").alias("first_pos"),
        F.max("log_pos").alias("last_pos"),
        F.countDistinct("key").alias("n_keys"),
    )


@register(
    "cdc_incremental_agg",
    # Oracle = the full recompute: aggregate the whole-log current state.
    # The Spark side reaches the same numbers INCREMENTALLY (view after
    # first half ⊕ delta of second half) — sums are integer cents, so
    # the equivalence is bit-exact, not approximate.
    oracle="""
    WITH st AS (
        SELECT user_id, event_type, value
        FROM (
            SELECT user_id, event_type, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY event_id DESC) AS rn
            FROM events
        )
        WHERE rn = 1 AND event_type <> 'error'
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM st GROUP BY event_type
    """,
)
def cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (operators/incremental.py): an
    aggregate view (rows + value cents per event_type) bootstrapped
    from the first half of the log, then advanced by the second half's
    per-group delta — retract old images of touched keys, add their new
    images — WITHOUT rescanning the base table. The oracle recomputes
    from scratch; values must match bit-for-bit (integer cents).

    Group-changing updates are exercised by construction: a key whose
    latest event_type changes retracts from the old group and lands in
    the new one."""
    cdc = events_as_cdc(spark, sf_dir)
    # log midpoint as a broadcast 1-row agg (the cdc_scd2_as_of
    # pattern) — no data-dependent driver action / extra Spark job, and
    # the split predicate evaluates engine-side after a broadcast of
    # one scalar row.
    bounds = cdc.agg((F.max("log_pos") / 2).cast("long").alias("__mid"))
    log = cdc.crossJoin(F.broadcast(bounds))
    first = log.filter(F.col("log_pos") <= F.col("__mid")).drop("__mid")
    second = log.filter(F.col("log_pos") > F.col("__mid")).drop("__mid")

    cents = lambda c: F.round(c * 100).cast("bigint")  # noqa: E731
    state1 = collapse_last_image(first, ["key"], keep_deletes=False).select(
        "key",
        F.col("after.event_type").alias("event_type"),
        cents(F.col("after.value")).alias("cents"),
    )
    view1 = IV.aggregate_view(
        state1, ["event_type"], "n_rows", {"total_cents": "cents"}
    )
    img = lambda f: F.coalesce(F.col(f"after.{f}"), F.col(f"before.{f}"))  # noqa: E731
    batch2 = collapse_last_image(second, ["key"]).select(
        "key",
        "op",
        img("event_type").alias("event_type"),
        cents(img("value")).alias("cents"),
    )
    delta = IV.batch_delta(
        state1, batch2, ["key"], ["event_type"], ["cents"]
    )
    return IV.apply_delta(
        view1, delta, ["event_type"], "n_rows", {"total_cents": "cents"}
    )


@register(
    "cdc_scd2_history",
    oracle="""
    WITH v AS (
        SELECT user_id, event_id, event_type, value,
               lead(event_id) OVER (PARTITION BY user_id
                                    ORDER BY event_id) AS valid_to,
               CASE event_type WHEN 'signup' THEN 'I'
                               WHEN 'error' THEN 'D'
                               ELSE 'U' END AS op
        FROM events
    )
    SELECT user_id AS key,
           event_id AS valid_from,
           valid_to,
           (valid_to IS NULL) AS is_current,
           event_type, value
    FROM v WHERE op <> 'D'
    """,
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history (operators/scd.py): every insert/update opens
    a version row bounded by the key's next change (deletes close the
    prior version without opening one). One lead() window keyed on the
    key — the history table falls out of the same single shuffle the
    LWW collapse uses."""
    cdc = events_as_cdc(spark, sf_dir)
    img = lambda f: F.coalesce(F.col(f"after.{f}"), F.col(f"before.{f}"))  # noqa: E731
    hist = SCD.scd2_history(cdc, ["key"], order_by="log_pos")
    return hist.select(
        "key",
        F.col("log_pos").alias("valid_from"),
        F.col("valid_to_log_pos").alias("valid_to"),
        "is_current",
        img("event_type").alias("event_type"),
        img("value").alias("value"),
    )


@register(
    "cdc_pointintime_join",
    oracle="""
    WITH dim_ev AS (
        SELECT user_id, event_id, event_type, value,
               lead(event_id) OVER (PARTITION BY user_id
                                    ORDER BY event_id) AS valid_to,
               CASE event_type WHEN 'signup' THEN 'I'
                               WHEN 'error' THEN 'D'
                               ELSE 'U' END AS op
        FROM events WHERE event_type IN ('signup', 'click', 'error')
    ),
    dim AS (
        SELECT user_id, event_id AS valid_from, valid_to, event_type, value
        FROM dim_ev WHERE op <> 'D'
    ),
    f AS (
        SELECT event_id, user_id FROM events WHERE event_type = 'purchase'
    )
    SELECT f.event_id AS purchase_id,
           f.user_id AS key,
           d.valid_from,
           d.event_type AS state_type,
           d.value AS state_value
    FROM f LEFT JOIN dim d
      ON f.user_id = d.user_id
     AND d.valid_from <= f.event_id
     AND (d.valid_to IS NULL OR f.event_id < d.valid_to)
    """,
)
def cdc_pointintime_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each purchase fact picks the dimension
    version (SCD2 over the signup/click/error change stream) valid AT
    its position — the temporal join that makes history tables useful.
    A fact inside a deletion gap (user's state deleted, not yet
    re-created) matches nothing.

    Spark-first shape: no range join — dim versions and facts are
    unioned and sorted once per key; ``last(dim, ignorenulls)`` over a
    running window carries the in-effect version onto each fact, and a
    validity check null-outs facts inside deletion gaps. ONE key-keyed
    window shuffle total (the SCD2 lead() upstream shares the same
    partitioning, so a cluster pays the key exchange once)."""
    ev = load_table(spark, "events", sf_dir)
    dim_src = events_as_cdc(spark, sf_dir).filter(
        F.coalesce(F.col("after.event_type"), F.col("before.event_type")).isin(
            "signup", "click", "error"
        )
    )
    img = lambda f: F.coalesce(F.col(f"after.{f}"), F.col(f"before.{f}"))  # noqa: E731
    dim = SCD.scd2_history(dim_src, ["key"], order_by="log_pos").select(
        "key",
        F.col("log_pos").alias("pos"),
        F.lit(1).alias("is_dim"),
        F.struct(
            F.col("log_pos").alias("valid_from"),
            F.col("valid_to_log_pos").alias("valid_to"),
            img("event_type").alias("state_type"),
            img("value").alias("state_value"),
        ).alias("d"),
        F.lit(None).cast("long").alias("purchase_id"),
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("key"),
        F.col("event_id").alias("pos"),
        F.lit(0).alias("is_dim"),
        F.lit(None)
        .cast(
            "struct<valid_from:long,valid_to:long,"
            "state_type:string,state_value:double>"
        )
        .alias("d"),
        F.col("event_id").alias("purchase_id"),
    )
    w = (
        Window.partitionBy("key")
        .orderBy("pos", F.col("is_dim").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        dim.unionByName(facts)
        .withColumn("eff", F.last("d", ignorenulls=True).over(w))
        .filter(F.col("is_dim") == 0)
    )
    valid = F.col("eff").isNotNull() & (
        F.col("eff.valid_to").isNull() | (F.col("pos") < F.col("eff.valid_to"))
    )
    return carried.select(
        "purchase_id",
        "key",
        F.when(valid, F.col("eff.valid_from")).alias("valid_from"),
        F.when(valid, F.col("eff.state_type")).alias("state_type"),
        F.when(valid, F.col("eff.state_value")).alias("state_value"),
    )


@register(
    "cdc_snapshot_bootstrap",
    # Oracle = replay of the COMPLETE log (the bootstrap invariant: a
    # chunked, watermark-consistent snapshot merged with an overlapping
    # tail must land on exactly the full-replay state).
    oracle="""
    SELECT user_id, event_type, value
    FROM (
        SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        FROM events
    )
    WHERE rn = 1 AND event_type <> 'error'
    """,
)
def cdc_snapshot_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBLog/Flink-CDC-style incremental-snapshot onboarding
    (operators/bootstrap.py): 4 parallel key-range chunks, each a
    consistent read as of its OWN binlog watermark (chunk c at position
    (c+1)·max_pos/8 — all different, all mid-log), reconciled against
    the full at-least-once tail. The reference only tails from a given
    (file, pos) (COM_BINLOG_DUMP, /root/reference/src/mysql/conn.rs) and
    leaves the snapshot problem to the operator; this is the
    scale-correct solution. Snapshot rows enter the LWW collapse at
    their watermark position with the snapshot flag winning ties, so
    chunk overlap and tail overlap are both harmless."""
    cdc = events_as_cdc(spark, sf_dir)
    bounds = cdc.agg(F.max("log_pos").alias("__maxp"))
    # Chunked snapshot, simulated from the log itself: chunk = key % 4,
    # watermark hw = (chunk+1)·maxp/8; state-as-of-hw per key.
    upto_hw = (
        cdc.crossJoin(F.broadcast(bounds))
        .withColumn(
            "hw",
            F.floor((F.col("key") % 4 + 1) * F.col("__maxp") / F.lit(8)).cast("long"),
        )
        .filter(F.col("log_pos") <= F.col("hw"))
    )
    snap_rows = collapse_last_image(upto_hw, ["key"], keep_deletes=False).select(
        "key", "hw", "log_file", F.col("after.*")
    )
    snapshot_env = BOOT.snapshot_as_envelope(
        snap_rows, ["key"], ["user_id", "event_type", "value", "props"]
    )
    # Collapse on log_pos ALONE here: the snapshot rows sit at a synthetic
    # watermark position, so pairing it with an inherited log_file would
    # be an incoherent binlog coordinate in a multi-file stream (positions
    # reset per file) — a later-file tail event at pos <= hw must still
    # supersede the snapshot. This synthetic stream is single-file, and
    # the position-only order states the intended comparison directly.
    state = BOOT.bootstrap_state(snapshot_env, cdc, ["key"], order_by=("log_pos",))
    return state.select("after.user_id", "after.event_type", "after.value")


@register(
    "cdc_scd2_as_of",
    # Oracle = the independent derivation: LWW replay of all changes at
    # or before the as-of position (the SCD2 reconstruction must agree
    # with a from-scratch replay truncated at P).
    oracle="""
    WITH b AS (SELECT max(event_id) // 2 AS p FROM events)
    SELECT user_id, event_type, value
    FROM (
        SELECT e.user_id, e.event_type, e.value,
               row_number() OVER (PARTITION BY e.user_id
                                  ORDER BY e.event_id DESC) AS rn
        FROM events e, b WHERE e.event_id <= b.p
    )
    WHERE rn = 1 AND event_type <> 'error'
    """,
)
def cdc_scd2_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal time travel over SCD2 history (operators/scd.py
    ``as_of_snapshot``): the table state AS OF the log midpoint,
    reconstructed as a pure filter on version validity ranges — a
    partition-prunable scan at scale, never a replay. The oracle
    derives the same state the slow way (LWW replay truncated at P),
    so agreement proves the history's interval bookkeeping."""
    cdc = events_as_cdc(spark, sf_dir)
    hist = SCD.scd2_history(cdc, ["key"], order_by="log_pos")
    bounds = cdc.agg(F.floor(F.max("log_pos") / 2).cast("long").alias("__p"))
    snap = SCD.as_of_snapshot(
        hist.crossJoin(F.broadcast(bounds)), F.col("__p")
    )
    return snap.select(
        F.col("key").alias("user_id"),
        F.col("after.event_type").alias("event_type"),
        F.col("after.value").alias("value"),
    )


@register(
    "cdc_scd2_incremental",
    # the oracle is the FULL-LOG recompute — identical SQL to
    # cdc_scd2_history — so the value-hash gate checks the equivalence
    # claim itself: incremental maintenance == rebuild from scratch.
    oracle="""
    WITH v AS (
        SELECT user_id, event_id, event_type, value,
               lead(event_id) OVER (PARTITION BY user_id
                                    ORDER BY event_id) AS valid_to,
               CASE event_type WHEN 'signup' THEN 'I'
                               WHEN 'error' THEN 'D'
                               ELSE 'U' END AS op
        FROM events
    )
    SELECT user_id AS key,
           event_id AS valid_from,
           valid_to,
           (valid_to IS NULL) AS is_current,
           event_type, value
    FROM v WHERE op <> 'D'
    """,
)
def cdc_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance (operators/scd.scd2_apply_batch):
    the change log splits at the 60th percentile of binlog positions;
    the prefix builds the history table once, and the suffix is applied
    as a CDC batch — the batch's first event per key closes the key's
    open version, the batch's own versions append via the same
    one-window history build. The ORACLE recomputes SCD2 from the full
    log, so the driver's value hash verifies the maintenance
    equivalence (incremental == rebuild), not just shape.

    Scale shape: the per-batch cost is one batch-keyed window + one
    key-equi closing join (AQE broadcasts the |changed keys| side) —
    table history is never re-windowed; on Delta the closing update is
    the classic MERGE touching matched files only."""
    cdc = events_as_cdc(spark, sf_dir)
    max_pos = cdc.agg(F.max("log_pos")).first()[0]
    # max() over an empty log is NULL → None: split at 0 so both the
    # prefix build and the batch apply see empty frames instead of a
    # driver-side TypeError (empty-tables sweep, round 6)
    thr = (max_pos or 0) * 3 // 5
    initial = cdc.filter(F.col("log_pos") <= thr)
    batch = cdc.filter(F.col("log_pos") > thr)
    hist = SCD.scd2_apply_batch(
        SCD.scd2_history(initial, ["key"], order_by="log_pos"),
        batch,
        ["key"],
        order_by="log_pos",
    )
    img = lambda f: F.coalesce(F.col(f"after.{f}"), F.col(f"before.{f}"))  # noqa: E731
    return hist.select(
        "key",
        F.col("log_pos").alias("valid_from"),
        F.col("valid_to_log_pos").alias("valid_to"),
        "is_current",
        img("event_type").alias("event_type"),
        img("value").alias("value"),
    )


@register(
    "cdc_snapshot_diff",
    # Oracle = two independent truncated LWW replays, full-outer joined
    # — the SCD2-derived diff must agree with diffing two from-scratch
    # reconstructions.
    oracle="""
    WITH b AS (
        SELECT CAST(max(event_id) // 3 AS BIGINT) AS p1,
               CAST(max(event_id) * 2 // 3 AS BIGINT) AS p2
        FROM events
    ),
    s1 AS (
        SELECT user_id AS key, event_type AS t1, value AS v1 FROM (
            SELECT e.user_id, e.event_type, e.value,
                   row_number() OVER (PARTITION BY e.user_id
                                      ORDER BY e.event_id DESC) AS rn
            FROM events e, b WHERE e.event_id <= b.p1
        ) WHERE rn = 1 AND event_type <> 'error'
    ),
    s2 AS (
        SELECT user_id AS key, event_type AS t2, value AS v2 FROM (
            SELECT e.user_id, e.event_type, e.value,
                   row_number() OVER (PARTITION BY e.user_id
                                      ORDER BY e.event_id DESC) AS rn
            FROM events e, b WHERE e.event_id <= b.p2
        ) WHERE rn = 1 AND event_type <> 'error'
    ),
    j AS (
        SELECT coalesce(s1.key, s2.key) AS key, t1, v1, t2, v2,
               CASE WHEN t1 IS NULL AND t2 IS NOT NULL THEN 'added'
                    WHEN t2 IS NULL AND t1 IS NOT NULL THEN 'removed'
                    WHEN t1 <> t2 OR v1 <> v2 THEN 'changed'
                    ELSE 'unchanged' END AS change
        FROM s1 FULL OUTER JOIN s2 ON s1.key = s2.key
    )
    SELECT key, change, t1, v1, t2, v2 FROM j WHERE change <> 'unchanged'
    """,
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff audit: classify every key's transition between the
    table states AS OF two binlog positions (⅓ and ⅔ of the log) as
    added / removed / changed — the change-data-feed a downstream
    consumer reads when it reconciles two historical versions (the
    reference only ever materializes the latest state,
    /root/reference/src/delta/value_buffer.rs; this is the audit query
    its users run against the sink's history).

    Spark-first: BOTH states are validity-range filters over ONE SCD2
    history build (one key-window shuffle; Catalyst reuses the window
    exchange across the two branches) — never two log replays; the
    oracle does the two truncated replays independently, so agreement
    proves the interval bookkeeping end to end. The positions come
    from exact integer `div`, bit-identical cross-engine.

    Scale shape: one key-keyed window + one key-keyed full-outer join
    of two state-sized tables; with history stored partitioned on the
    validity range both as-of filters are partition-prunable scans."""
    cdc = events_as_cdc(spark, sf_dir)
    hist = SCD.scd2_history(cdc, ["key"], order_by="log_pos")
    bounds = cdc.agg(
        F.expr("max(log_pos) div 3").alias("__p1"),
        F.expr("max(log_pos) * 2 div 3").alias("__p2"),
    )
    h = hist.crossJoin(F.broadcast(bounds))
    s1 = SCD.as_of_snapshot(h, F.col("__p1")).select(
        "key",
        F.col("after.event_type").alias("t1"),
        F.col("after.value").alias("v1"),
    )
    s2 = SCD.as_of_snapshot(h, F.col("__p2")).select(
        "key",
        F.col("after.event_type").alias("t2"),
        F.col("after.value").alias("v2"),
    )
    j = s1.join(s2, ["key"], "full_outer")
    change = (
        F.when(F.col("t1").isNull() & F.col("t2").isNotNull(), F.lit("added"))
        .when(F.col("t2").isNull() & F.col("t1").isNotNull(), F.lit("removed"))
        .when(
            (F.col("t1") != F.col("t2")) | (F.col("v1") != F.col("v2")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        "key", change.alias("change"), "t1", "v1", "t2", "v2"
    ).filter(F.col("change") != "unchanged")


@register(
    "cdc_scd2_type6",
    oracle="""
    WITH v AS (
        SELECT user_id, event_id, event_type, value,
               lead(event_id) OVER (PARTITION BY user_id
                                    ORDER BY event_id) AS valid_to,
               CASE event_type WHEN 'signup' THEN 'I'
                               WHEN 'error' THEN 'D'
                               ELSE 'U' END AS op
        FROM events
    ),
    hist AS (
        SELECT user_id AS key, event_id AS valid_from, valid_to,
               (valid_to IS NULL) AS is_current, event_type, value
        FROM v WHERE op <> 'D'
    ),
    curr AS (
        SELECT key, event_type AS current_type, value AS current_value
        FROM hist WHERE is_current
    )
    SELECT h.key, h.valid_from, h.valid_to, h.is_current,
           h.event_type, h.value,
           c.current_type, c.current_value
    FROM hist h LEFT JOIN curr c ON c.key = h.key
    """,
)
def cdc_scd2_type6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 6 (hybrid 1+2+3): the Type-2 version history with the
    key's CURRENT attribute denormalized onto every historic row — the
    Kimball pattern that lets \"as-was vs as-is\" analyses run without a
    self-join at query time. A key whose last change was a delete has
    no current version: its history rows carry NULL current columns.

    Scale shape: the history build is the same one-lead()-window shuffle
    as cdc_scd2_history; the current-image table is one row per LIVE
    key (dimension-sized) and joins back on the same key partitioning —
    AQE broadcasts it when small, reuses the exchange when not."""
    cdc = events_as_cdc(spark, sf_dir)
    img = lambda f: F.coalesce(F.col(f"after.{f}"), F.col(f"before.{f}"))  # noqa: E731
    hist = SCD.scd2_history(cdc, ["key"], order_by="log_pos").select(
        "key",
        F.col("log_pos").alias("valid_from"),
        F.col("valid_to_log_pos").alias("valid_to"),
        "is_current",
        img("event_type").alias("event_type"),
        img("value").alias("value"),
    )
    curr = hist.filter(F.col("is_current")).select(
        "key",
        F.col("event_type").alias("current_type"),
        F.col("value").alias("current_value"),
    )
    return hist.join(curr, "key", "left")


@register(
    "cdc_ivm_join_view",
    # Oracle = the full recompute of the two-table join view over the
    # whole log. The Spark side maintains it INCREMENTALLY (bootstrap
    # from the first half, delta-advance with the second half touching
    # only changed keys) — values must match bit-for-bit (integer
    # cents, exact strings).
    oracle=f"""
    WITH r AS (
        SELECT user_id,
               CAST(round(value * 100) AS BIGINT) AS cents,
               {_OP_SQL} AS op,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_id % 2 = 0
    ),
    rcur AS (SELECT user_id, cents FROM r WHERE rn = 1 AND op <> 'D'),
    s AS (
        SELECT user_id, event_type,
               {_OP_SQL} AS op,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_id % 2 = 1
    ),
    scur AS (SELECT user_id, event_type FROM s WHERE rn = 1 AND op <> 'D')
    SELECT r.user_id,
           r.cents AS r_cents,
           s.event_type AS s_event_type
    FROM rcur r JOIN scur s USING (user_id)
    """,
)
def cdc_ivm_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view across two CDC-fed
    tables — the delta-join analog of cdc_incremental_agg. The log
    splits by event_id parity into two virtual tables R ("users",
    payload = value cents) and S ("profiles", payload = event_type),
    each LWW-collapsed by key; the view is V = R ⋈ S on key. The
    maintenance step NEVER rescans V's base tables: keys touched by
    either side's second-half delta are carved out of the bootstrapped
    view with a key-equi anti-join and recomputed from (old state of
    touched keys) ⊕ (delta rows), the standard merge-scoped delta-join
    every streaming MERGE pipeline uses for denormalized sinks.

    Scale shape: the bootstrap is two LWW windows + one key-equi join
    on the same key partitioning; the advance touches |Δkeys| rows on
    each side (semi-join pushdown into the state tables), so step cost
    scales with the CHANGE volume, not the table size — the property
    that makes the view maintainable at 100 TB where a V rebuild is a
    full-table join."""
    cdc = events_as_cdc(spark, sf_dir)
    img = lambda f: F.coalesce(F.col(f"after.{f}"), F.col(f"before.{f}"))  # noqa: E731
    flat = cdc.select(
        "key",
        "log_pos",
        "op",
        img("event_type").alias("event_type"),
        F.round(img("value") * 100).cast("bigint").alias("cents"),
    )
    r_log = flat.filter(F.col("log_pos") % 2 == 0).select(
        "key", "log_pos", "op", "cents"
    )
    s_log = flat.filter(F.col("log_pos") % 2 == 1).select(
        "key", "log_pos", "op", "event_type"
    )
    bounds = cdc.agg((F.max("log_pos") / 2).cast("long").alias("__mid"))

    def halves(log: DataFrame) -> tuple[DataFrame, DataFrame]:
        t = log.crossJoin(F.broadcast(bounds))
        return (
            t.filter(F.col("log_pos") <= F.col("__mid")).drop("__mid"),
            t.filter(F.col("log_pos") > F.col("__mid")).drop("__mid"),
        )

    r1_log, r_delta = halves(r_log)
    s1_log, s_delta = halves(s_log)
    # Bootstrapped states KEEP log_pos so delta rows order against them.
    r1 = collapse_last_image(r1_log, ["key"], "log_pos")
    s1 = collapse_last_image(s1_log, ["key"], "log_pos")
    v1 = (
        r1.filter(F.col("op") != "D")
        .select("key", "cents")
        .join(
            s1.filter(F.col("op") != "D").select("key", "event_type"),
            "key",
        )
    )
    view2, _, _ = IV.join_view_advance(
        v1, r1, s1, r_delta, s_delta, ["key"]
    )
    return view2.select(
        F.col("key").alias("user_id"),
        F.col("cents").alias("r_cents"),
        F.col("event_type").alias("s_event_type"),
    )


@register(
    "cdc_delete_compliance",
    oracle=f"""
    WITH log AS (
        SELECT user_id AS key,
               'users_' || CAST(user_id % 4 AS VARCHAR) AS tbl,
               event_id AS log_pos,
               {_OP_SQL} AS op
        FROM events
    ),
    per_key AS (
        SELECT tbl, key,
               CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_del,
               max(CASE WHEN op = 'D' THEN log_pos END) AS last_del,
               max(log_pos) AS last_pos
        FROM log GROUP BY tbl, key
    )
    SELECT tbl AS "table",
           CAST(sum(n_del) AS BIGINT) AS n_deletes,
           CAST(sum(CASE WHEN n_del > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_deleted_keys,
           CAST(sum(CASE WHEN n_del > 0 AND last_pos > last_del
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
           CAST(sum(CASE WHEN n_del > 0 AND last_pos = last_del
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_tombstoned_now
    FROM per_key GROUP BY tbl
    """,
)
def cdc_delete_compliance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-propagation audit (GDPR/right-to-erasure compliance
    surface): per routed shard table, how many DELETEs the log carries,
    how many distinct keys they touch, how many of those keys were
    legitimately re-created by a LATER insert/update (resurrected), and
    how many must currently be absent from the sink (tombstoned-now =
    the last operation on the key is the delete). A sink row for a
    tombstoned-now key is a compliance violation; the idempotent-MERGE
    tests pin that the pipeline produces none.

    Scale shape: ONE scan, one (table, key)-keyed agg (map-side
    combined conditional counts/maxes), then a |tables|-group rollup —
    no joins, no windows; the per-key frame is exactly the MERGE's own
    key partitioning, so at 100 TB this audit rides the same shuffle
    the sink write already pays."""
    cdc = events_as_cdc(spark, sf_dir).withColumn(
        "tbl", F.concat(F.lit("users_"), (F.col("key") % 4).cast("string"))
    )
    per_key = cdc.groupBy("tbl", "key").agg(
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0))
        .cast("bigint")
        .alias("n_del"),
        F.max(F.when(F.col("op") == "D", F.col("log_pos"))).alias(
            "last_del"
        ),
        F.max("log_pos").alias("last_pos"),
    )
    return per_key.groupBy(F.col("tbl").alias("table")).agg(
        F.sum("n_del").cast("bigint").alias("n_deletes"),
        F.sum(F.when(F.col("n_del") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_deleted_keys"),
        F.sum(
            F.when(
                (F.col("n_del") > 0)
                & (F.col("last_pos") > F.col("last_del")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_resurrected"),
        F.sum(
            F.when(
                (F.col("n_del") > 0)
                & (F.col("last_pos") == F.col("last_del")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_tombstoned_now"),
    )


_CONFLICT_WINDOW_S = 60  # two writers inside this gap = racing


@register(
    "cdc_update_conflicts",
    # Write-write conflict audit over the change stream: consecutive
    # UPDATE images on the same key, closer together than 60 s, that
    # carry DIFFERENT values — the race a last-write-wins MERGE sink
    # silently resolves, and exactly what an ingest owner needs
    # surfaced before trusting LWW at 100 TB. Values compare as exact
    # cents; gaps as exact epoch seconds.
    oracle=f"""
    WITH u AS (
        SELECT user_id AS key, event_id AS log_pos,
               CAST(floor(epoch(ts)) AS BIGINT) AS es,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
        WHERE ({_OP_SQL}) = 'U'
    ),
    lagged AS (
        SELECT key, log_pos, es, cents,
               lag(es)    OVER w AS prev_es,
               lag(cents) OVER w AS prev_cents
        FROM u
        WINDOW w AS (PARTITION BY key ORDER BY log_pos)
    ),
    conf AS (
        SELECT key, log_pos,
               CASE WHEN prev_es IS NOT NULL
                         AND es - prev_es <= {_CONFLICT_WINDOW_S}
                         AND cents <> prev_cents
                    THEN 1 ELSE 0 END AS is_conflict
        FROM lagged
    )
    SELECT key,
           CAST(count(*) AS BIGINT) AS n_updates,
           CAST(sum(is_conflict) AS BIGINT) AS n_conflicts,
           CAST(min(CASE WHEN is_conflict = 1 THEN log_pos END)
                AS BIGINT) AS first_conflict_pos
    FROM conf
    GROUP BY key
    HAVING sum(is_conflict) > 0
    """,
)
def cdc_update_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-write conflict audit over the CDC stream: keys whose
    consecutive UPDATE images arrive within 60 s of each other with
    different values — the racing-writers signature that a
    last-write-wins collapse (operators/collapse.py) resolves
    silently. The reference's sink has the same blind spot (LWW by
    log_pos); this query is the audit an operator runs before
    trusting it: how many keys race, how often, and where the first
    race sits in the log. Gaps are exact epoch-second integers,
    values exact cents; conflicts are flagged per consecutive pair so
    a key updated n times counts at most n−1 conflicts.

    Scale shape: one filter-projected scan of the change stream into
    a key-partitioned lag window (the same single shuffle the
    collapse itself pays — at 100 TB this audit piggybacks the
    pipeline's existing partitioning), then a key-keyed agg; only
    conflicted keys are emitted."""
    cdc = events_as_cdc(spark, sf_dir)
    u = cdc.filter(F.col("op") == "U").select(
        "key",
        "log_pos",
        F.expr("floor(unix_timestamp(ts))").cast("long").alias("es"),
        F.round(F.col("after.value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("key").orderBy("log_pos")
    lagged = u.select(
        "key",
        "log_pos",
        "es",
        "cents",
        F.lag("es").over(w).alias("prev_es"),
        F.lag("cents").over(w).alias("prev_cents"),
    )
    conf = lagged.select(
        "key",
        "log_pos",
        F.when(
            F.col("prev_es").isNotNull()
            & (F.col("es") - F.col("prev_es") <= _CONFLICT_WINDOW_S)
            & (F.col("cents") != F.col("prev_cents")),
            1,
        )
        .otherwise(0)
        .alias("is_conflict"),
    )
    return (
        conf.groupBy("key")
        .agg(
            F.count("*").cast("long").alias("n_updates"),
            F.sum("is_conflict").cast("long").alias("n_conflicts"),
            F.min(
                F.when(F.col("is_conflict") == 1, F.col("log_pos"))
            ).cast("long").alias("first_conflict_pos"),
        )
        .filter(F.col("n_conflicts") > 0)
    )


_HOTKEY_TOP = 20


@register(
    "cdc_key_churn_hotspots",
    # Hot-key detection for the MERGE sink: the keys carrying the
    # most update churn, their share of total updates, and the
    # update-mass HHI — THE skew diagnostic for a keyed CDC pipeline
    # (one hot key serializes the collapse window and the upsert
    # shuffle at 100 TB; this query says whether salting is needed
    # BEFORE the job falls over). Shares are floored ppm of exact
    # counts; HHI sums per-key squares in HUGEINT/DECIMAL(38).
    oracle=f"""
    WITH u AS (
        SELECT user_id AS key, count(*) AS n
        FROM events
        WHERE ({_OP_SQL}) = 'U'
        GROUP BY user_id
    ),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS t,
               CAST(sum(CAST(n AS HUGEINT) * n) * 1000000
                    // nullif(CAST(sum(n) AS HUGEINT) * sum(n), 0)
                    AS BIGINT) AS hhi_micro
        FROM u
    )
    SELECT u.key, CAST(u.n AS BIGINT) AS n_updates,
           CAST(u.n * 1000000 // t.t AS BIGINT) AS share_micro,
           t.hhi_micro
    FROM u CROSS JOIN tot t
    ORDER BY u.n DESC, u.key
    LIMIT {_HOTKEY_TOP}
    """,
)
def cdc_key_churn_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key churn detection over the CDC update stream: the top-20
    keys by update volume with each one's share of total update mass
    and the overall Herfindahl concentration — the skew diagnostic an
    operator reads before trusting the keyed collapse/MERGE shuffle
    at scale (the repo's salted-join operators are the cure; this is
    the trigger). A key carrying >1% of a 100 TB update stream means
    the LWW window and the upsert join both bottleneck on one task.

    Scale shape: ONE key-keyed count agg (map-side partials), a 1-row
    broadcast total (HHI in wide decimal — key counts square), and a
    TakeOrdered top-20 heap. No window, no global sort."""
    cdc = events_as_cdc(spark, sf_dir)
    u = cdc.filter(F.col("op") == "U").groupBy("key").agg(
        F.count("*").alias("n")
    )
    tot = u.agg(
        F.sum("n").cast("long").alias("t"),
        F.expr(
            "sum(CAST(n AS DECIMAL(38,0)) * n) * 1000000"
            " div nullif(CAST(sum(n) AS DECIMAL(38,0)) * sum(n), 0)"
        ).cast("long").alias("hhi_micro"),
    )
    return (
        u.crossJoin(F.broadcast(tot))
        .orderBy(F.col("n").desc(), "key")
        .limit(_HOTKEY_TOP)
        .select(
            "key",
            F.col("n").cast("long").alias("n_updates"),
            F.expr("n * 1000000 div t").cast("long").alias("share_micro"),
            "hhi_micro",
        )
    )


@register(
    "cdc_out_of_order_audit",
    # Commit-order vs event-time audit: walking the binlog in log_pos
    # order, count the adjacent steps where the event timestamp moves
    # BACKWARD, the worst regression, and the affected fraction — the
    # clock-skew / multi-writer diagnostic that decides whether
    # event-time watermarks can trust the log order (a big backward
    # step forces a larger watermark delay; none means log order is
    # a usable event-time order). Exact epoch-second integers.
    oracle=f"""
    WITH skewed AS (
        SELECT user_id, event_id,
               CAST(floor(epoch(ts)) AS BIGINT)
               - CASE WHEN event_id % 101 = 0 THEN 172800 ELSE 0 END AS es
        FROM events
    ),
    seq AS (
        SELECT user_id AS key, es,
               lag(es) OVER (
                   PARTITION BY user_id ORDER BY event_id
               ) AS prev_es
        FROM skewed
    ),
    steps AS (
        SELECT key, es, prev_es,
               CASE WHEN prev_es IS NOT NULL AND es < prev_es
                    THEN 1 ELSE 0 END AS inv,
               CASE WHEN prev_es IS NOT NULL AND es < prev_es
                    THEN prev_es - es ELSE 0 END AS back_s
        FROM seq
    )
    SELECT CAST(count(*) FILTER (WHERE prev_es IS NOT NULL) AS BIGINT)
               AS n_steps,
           CAST(sum(inv) AS BIGINT) AS n_inversions,
           CAST(max(back_s) AS BIGINT) AS max_backstep_s,
           CAST(sum(inv) * 1000000
                // nullif(count(*) FILTER (WHERE prev_es IS NOT NULL), 0)
                AS BIGINT) AS inversion_ppm,
           CAST(count(DISTINCT CASE WHEN inv = 1 THEN key END) AS BIGINT)
               AS n_affected_keys
    FROM steps
    """,
)
def cdc_out_of_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order audit of the change stream: per-key adjacent
    steps in log-position order whose event time runs BACKWARD —
    inversion count and rate, the worst backward step in seconds, and
    how many keys are touched. This is the number that sizes the
    event-time watermark for every downstream streaming aggregate
    (withWatermark must exceed the max backstep or late rows drop),
    and the tripwire for clock skew between a sharded master fleet's
    writers. All exact integer epoch arithmetic.

    Scale shape: one key-partitioned lag window (the shuffle the
    collapse already pays) → a single scalar aggregate with a
    conditional distinct count. Nothing else."""
    cdc = events_as_cdc(spark, sf_dir)
    w = Window.partitionBy("key").orderBy("log_pos")
    # Deterministic clock-skew injection (the PII/mojibake precedent):
    # the synthetic stream is perfectly ordered, so events with
    # log_pos % 101 == 0 get a writer whose clock runs 2 days behind —
    # both engines build the identical skewed stream and the audit's
    # detection path is exercised for real.
    es = (
        F.expr("floor(unix_timestamp(ts))").cast("long")
        - F.when(F.col("log_pos") % 101 == 0, 172800).otherwise(0)
    )
    seq = cdc.select(
        "key", es.alias("es"), F.lag(es).over(w).alias("prev_es")
    )
    inv = (
        F.col("prev_es").isNotNull() & (F.col("es") < F.col("prev_es"))
    ).cast("int")
    steps = seq.select(
        "key",
        "prev_es",
        inv.alias("inv"),
        F.when(
            F.col("prev_es").isNotNull() & (F.col("es") < F.col("prev_es")),
            F.col("prev_es") - F.col("es"),
        ).otherwise(0).alias("back_s"),
    )
    return steps.agg(
        F.count(F.when(F.col("prev_es").isNotNull(), 1)).cast("long")
        .alias("n_steps"),
        F.sum("inv").cast("long").alias("n_inversions"),
        F.max("back_s").cast("long").alias("max_backstep_s"),
        F.expr(
            "sum(inv) * 1000000"
            " div nullif(count(CASE WHEN prev_es IS NOT NULL"
            " THEN 1 END), 0)"
        ).cast("long").alias("inversion_ppm"),
        F.countDistinct(
            F.when(F.col("inv") == 1, F.col("key"))
        ).cast("long").alias("n_affected_keys"),
    )


@register(
    "cdc_late_data_histogram",
    # Lateness distribution for watermark sizing: for each event,
    # lateness = (max event time seen SO FAR in log order, per key)
    # minus this event's time — the exact quantity a streaming
    # watermark must cover. The out-of-order audit reports the max;
    # this histogram gives the full distribution in log2 buckets so
    # the watermark can be sized to a percentile instead of the
    # worst case. Running max per key is one window; bucketing is
    # integer bit arithmetic.
    oracle=f"""
    WITH skewed AS (
        SELECT user_id, event_id,
               CAST(floor(epoch(ts)) AS BIGINT)
               - CASE WHEN event_id % 101 = 0 THEN 172800 ELSE 0 END AS es
        FROM events
    ),
    seq AS (
        SELECT user_id AS key, es,
               max(es) OVER (
                   PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS seen_max
        FROM skewed
    ),
    late AS (
        SELECT CASE WHEN seen_max IS NULL OR es >= seen_max THEN 0
                    ELSE seen_max - es END AS late_s
        FROM seq
    ),
    bucketed AS (
        SELECT CASE WHEN late_s = 0 THEN -1
                    ELSE CAST(floor(log2(late_s)) AS BIGINT) END AS b,
               late_s
        FROM late
    )
    SELECT b AS log2_bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(late_s) AS BIGINT) AS min_late_s,
           CAST(max(late_s) AS BIGINT) AS max_late_s
    FROM bucketed GROUP BY b
    """,
)
def cdc_late_data_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data histogram for watermark sizing: per event, how far
    its event time lags behind the per-key maximum already seen in
    log order, bucketed by powers of two (bucket −1 = on-time) — the
    distribution behind `withWatermark`: cdc_out_of_order_audit's max
    backstep sizes the worst case, this table lets an operator choose
    a watermark covering, say, 99.9% of events at a tenth of the
    state cost. The running max is the same key-partitioned window
    the collapse pays; lateness and buckets are exact integers (log2
    of a positive integer floors identically on both engines).

    Scale shape: one key-partitioned running-max window → map-side
    bucket arithmetic → a ≤ ~20-key histogram agg."""
    cdc = events_as_cdc(spark, sf_dir)
    w = (
        Window.partitionBy("key")
        .orderBy("log_pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # Same deterministic 2-day clock-skew injection as
    # cdc_out_of_order_audit — the two lateness audits see the
    # identical skewed stream and reconcile by construction.
    es = (
        F.expr("floor(unix_timestamp(ts))").cast("long")
        - F.when(F.col("log_pos") % 101 == 0, 172800).otherwise(0)
    )
    seq = cdc.select(
        es.alias("es"), F.max(es).over(w).alias("seen_max")
    )
    late = seq.select(
        F.when(
            F.col("seen_max").isNull()
            | (F.col("es") >= F.col("seen_max")),
            0,
        )
        .otherwise(F.col("seen_max") - F.col("es"))
        .alias("late_s")
    )
    bucketed = late.select(
        F.when(F.col("late_s") == 0, -1)
        .otherwise(F.floor(F.log2("late_s")))
        .cast("long")
        .alias("b"),
        "late_s",
    )
    return bucketed.groupBy(F.col("b").alias("log2_bucket")).agg(
        F.count("*").cast("long").alias("n_events"),
        F.min("late_s").cast("long").alias("min_late_s"),
        F.max("late_s").cast("long").alias("max_late_s"),
    )


@register(
    "cdc_merge_idempotence_probe",
    # Exactly-once certificate: applying the same change batch to the
    # merged state a SECOND time must be a no-op (anti-join ∪ upsert
    # is idempotent because the second application's final images are
    # already the state's rows). The query executes merge TWICE with
    # the real operator and emits the row-level proof — state sizes
    # and the symmetric difference, which must be zero. This is the
    # property that makes task retries and micro-batch replays safe
    # (K5's transactional-idempotence claim, surfaced as a query).
    # The oracle states the algebraic truth: merge² == merge, so both
    # counts equal the full-log collapse and the difference is 0.
    oracle="""
    WITH state AS (
        SELECT user_id, event_type, value, props
        FROM (
            SELECT user_id, event_type, value, props,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY event_id DESC) AS rn
            FROM events
        )
        WHERE rn = 1 AND event_type <> 'error'
    )
    SELECT CAST((SELECT count(*) FROM state) AS BIGINT) AS n_rows_once,
           CAST((SELECT count(*) FROM state) AS BIGINT) AS n_rows_twice,
           CAST(0 AS BIGINT) AS n_diff_rows
    """,
)
def cdc_merge_idempotence_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-idempotence certificate: run the real MERGE operator
    (operators/merge.py: anti-join ∪ upserts) twice with the SAME
    change batch and prove the second application changed nothing —
    state sizes after one and two applications plus the symmetric
    difference, which must be zero. This is the property the whole
    exactly-once story leans on (a retried task or replayed
    micro-batch re-applies its batch; K5's txn idempotence makes it
    harmless), here surfaced as an executable, oracle-checked query
    instead of a prose claim. The oracle states the algebraic truth
    merge∘merge = merge against the full-log collapse.

    Scale shape: two applications of the merge plan (key-partitioned
    anti-join ∪ upserts with the small side broadcast under AQE) and
    one co-keyed full-outer compare — all on the same key
    partitioning; at 100 TB this is the cheap audit you run once per
    release, not per batch."""
    cdc = events_as_cdc(spark, sf_dir)
    bounds = cdc.agg((F.max("log_pos") / 2).cast("long").alias("__mid"))
    log = cdc.crossJoin(F.broadcast(bounds))
    first = log.filter(F.col("log_pos") <= F.col("__mid")).drop("__mid")
    second = log.filter(F.col("log_pos") > F.col("__mid")).drop("__mid")
    target = (
        collapse_last_image(first, ["key"], keep_deletes=False)
        .select(F.col("after.*"))
    )
    once = pin(merge_upsert(target, second, ["user_id"]))
    twice = pin(merge_upsert(once, second, ["user_id"]))
    n1 = once.agg(F.count("*").cast("long").alias("n_rows_once"))
    n2 = twice.agg(F.count("*").cast("long").alias("n_rows_twice"))
    sym = (
        once.exceptAll(twice).unionAll(twice.exceptAll(once))
        .agg(F.count("*").cast("long").alias("n_diff_rows"))
    )
    return n1.crossJoin(F.broadcast(n2)).crossJoin(F.broadcast(sym))

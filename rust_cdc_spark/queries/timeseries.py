"""Event-time operators over the ``events`` stream table — the batch
shape of the streaming surface (streaming/ wires the same expressions
behind readStream + watermarks).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rust_cdc_spark.operators.ranks import exact_global_ntile, pin
from rust_cdc_spark.queries import register, utc
from rust_cdc_spark.sources.tables import load_table


@register(
    "events_tumbling_window",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window per event type — identical
    expression runs under readStream+withWatermark (see streaming/).
    Window start serialized to string so both engines hash identically."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "events_sliding_window",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '15 minutes', ts)
                    - i * INTERVAL '15 minutes', '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events CROSS JOIN generate_series(0, 3) AS t(i)
    GROUP BY 1, 2
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) 1-hour window advancing every 15 minutes — the
    other half of the streaming window surface next to
    ``events_tumbling_window`` (identical expression under readStream +
    withWatermark). Each event lands in exactly width/slide = 4 windows;
    Spark's ``window(ts, width, slide)`` explodes them engine-side, and
    the oracle replays the same assignment arithmetically: the 4 window
    starts of event t are time_bucket(slide, t) - i·slide, i ∈ 0..3
    (every one satisfies t - width < start ≤ t when width = 4·slide).

    Scale shape: the explode is map-side (×4 rows before the partial
    agg, the unavoidable hopping-window cost); one hash aggregate on
    (window, event_type) — same single shuffle as the tumbling query."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
            .alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "events_sessionize",
    oracle="""
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL '30 minutes'
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    )
    SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions
    FROM g GROUP BY user_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: a new session starts after a >30 min gap. Batch
    form = lag window + sum; streaming form = session_window(ts, '30
    minutes'). One shuffle on user_id shared by both window and agg."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    return (
        ev.withColumn(
            "new_session",
            F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0),
        )
        .groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"))
    )


@register(
    "range_join_click_attribution",
    oracle="""
    SELECT p.event_id AS purchase_id,
           CAST(count(c.event_id) AS BIGINT) AS n_clicks
    FROM (SELECT event_id, ts FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT event_id, ts FROM events WHERE event_type = 'click') c
      ON c.ts > p.ts - INTERVAL '30 minutes' AND c.ts <= p.ts
    GROUP BY 1
    """,
)
def range_join_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join: clicks attributed to any purchase whose
    30-minute window contains them. Spark would plan the raw non-equi
    predicate as a nested-loop join; operators/rangejoin.py bin-buckets
    both sides (one bin per point, ≤2 bins per interval) so it runs as
    a hash equi-join + residual filter — linear in true window
    co-occupancy at any scale. Zero-click purchases are kept via a
    left join back to the purchase set."""
    from rust_cdc_spark.operators.rangejoin import range_join

    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        (F.col("ts") - F.expr("INTERVAL 30 MINUTES")).alias("w_start"),
        F.col("ts").alias("w_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    matched = range_join(
        clicks, purchases, "click_ts", "w_start", "w_end", bin_seconds=1800
    )
    counts = matched.groupBy("purchase_id").agg(
        F.count("click_id").alias("n_matched")
    )
    return purchases.join(counts, on="purchase_id", how="left").select(
        "purchase_id",
        F.coalesce(F.col("n_matched"), F.lit(0)).alias("n_clicks"),
    )


@register(
    "events_json_props",
    oracle="""
    SELECT event_type,
           round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS DOUBLE)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props: JSON path extraction + aggregation. The
    reference ships row images as JSON objects into its sink
    (/root/reference/src/delta/mod.rs:61-63); get_json_object is the
    column-level analog."""
    ev = load_table(spark, "events", sf_dir)
    k = F.get_json_object("props", "$.k").cast("double")
    return ev.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


_GF_BUCKET_S = 21600  # 6-hour resample buckets


@register(
    "events_gap_fill",
    oracle=f"""
    WITH b AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) // {_GF_BUCKET_S} AS bucket,
               count(*) AS n, round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1, 2
    ),
    span AS (
        SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
        FROM b GROUP BY 1
    ),
    grid AS (
        SELECT user_id, unnest(generate_series(b0, b1)) AS bucket FROM span
    ),
    j AS (
        SELECT g.user_id, g.bucket, b.n, b.sum_value
        FROM grid g LEFT JOIN b USING (user_id, bucket)
    )
    SELECT user_id, bucket,
           CAST(coalesce(n, 0) AS BIGINT) AS n_events,
           last_value(sum_value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_sum,
           (n IS NULL) AS is_gap
    FROM j
    """,
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample + gap-fill: each user's event stream re-gridded to
    6-hour buckets spanning [their first, their last] bucket, empty
    buckets flagged and forward-filled with the last seen aggregate —
    the standard time-series densification every metrics/feature
    pipeline needs (Spark has no native ``generate_series``-join; this
    is the sequence-explode composition that replaces it).

    Scale shape: one user-keyed agg (map-side partial) feeds both the
    span agg and the join; the grid explode is bounded by span/bucket
    (≤121 rows per user-month here); join and forward-fill window share
    the user_id partitioning. Buckets are epoch-second integers, so
    both engines compute identical keys with no timezone arithmetic."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    b = (
        ev.select(
            "user_id",
            F.expr(f"CAST(ts AS LONG) div {_GF_BUCKET_S}").alias("bucket"),
            "value",
        )
        .groupBy("user_id", "bucket")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    span = b.groupBy("user_id").agg(
        F.min("bucket").alias("b0"), F.max("bucket").alias("b1")
    )
    grid = span.select(
        "user_id", F.explode(F.sequence("b0", "b1")).alias("bucket")
    )
    j = grid.join(b, ["user_id", "bucket"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        "bucket",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        F.last("sum_value", ignorenulls=True).over(w).alias("filled_sum"),
        F.col("n").isNull().alias("is_gap"),
    )


@register(
    "events_funnel_conversion",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    v AS (SELECT user_id, min(ts) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
          JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
          JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > c.t2
          GROUP BY e.user_id)
    SELECT u.user_id,
           CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                     WHEN c.user_id IS NOT NULL THEN 2
                     WHEN v.user_id IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS funnel_depth,
           (p.user_id IS NOT NULL) AS converted
    FROM u
    LEFT JOIN v USING (user_id)
    LEFT JOIN c USING (user_id)
    LEFT JOIN p USING (user_id)
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase): per user,
    the deepest stage reached respecting event-time order — each stage's
    timestamp must strictly follow the previous stage's first hit
    (a click before the first view does not count).

    Scale shape: ONE scan and ONE user_id shuffle. The three stage
    timestamps are chained whole-partition window minimums over the
    same user partitioning (t2's predicate reads the t1 column, so
    the strictly-after chaining needs no join), and the final
    one-row-per-user reduce reuses that partitioning — the previous
    formulation's per-stage agg + join chain re-scanned the event
    stream per reference (11 scans in the executed plan)."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id")
    staged = (
        ev.select("user_id", "event_type", "ts")
        .withColumn(
            "t1",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t1")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t2")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    return staged.groupBy("user_id").agg(
        F.when(F.first("t3").isNotNull(), 3)
        .when(F.first("t2").isNotNull(), 2)
        .when(F.first("t1").isNotNull(), 1)
        .otherwise(0)
        .cast("int")
        .alias("funnel_depth"),
        F.first("t3").isNotNull().alias("converted"),
    )


@register(
    "events_retention_cohorts",
    oracle="""
    WITH f AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort
        FROM events GROUP BY user_id
    ),
    a AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    )
    SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('week', f.cohort, a.wk) AS INT) AS week_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM a JOIN f USING (user_id)
    GROUP BY f.cohort, date_diff('week', f.cohort, a.wk)
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week,
    counted in each later week they were active — the (cohort, offset)
    table every growth dashboard draws, and the canonical two-pass
    event aggregation.

    Scale shape: first-activity agg and distinct-activity agg are both
    user-keyed (map-side partial); their join is co-keyed on user_id;
    the final agg's key space is |cohorts| × |offsets| — tiny. Week
    arithmetic is integer division of truncated timestamps, exact in
    both engines (both truncate weeks to Monday)."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    f = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    a = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    offset = (
        (F.col("wk").cast("long") - F.col("cohort").cast("long"))
        / (7 * 86400)
    ).cast("int")
    return (
        a.join(f, "user_id")
        .groupBy("cohort", offset.alias("week_offset"))
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_users",
        )
    )


@register(
    "events_rolling_1h_features",
    oracle="""
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_events_1h,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
               AS value_cents_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
    """,
)
def events_rolling_1h_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE window frame: per-user rolling count and value
    over the trailing hour at every event — the rolling-feature shape
    feature stores compute (ROWS frames are window_frame_functions;
    this is the time-range-frame sibling). The frame bound is numeric
    epoch-microseconds in BOTH engines ([t - 1h + 1µs, t]), so frame
    membership is integer-exact — no interval/timestamp coercion in
    the comparison. Per-event value in integer cents for cross-engine
    exact sums.

    Scale shape: one exchange on user_id; the range frame is a
    per-partition sliding scan (no self-join, no explode) — state at
    any moment is one user's in-hour events."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-(3_600_000_000 - 1), Window.currentRow)
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).cast("bigint").alias("n_events_1h"),
        F.sum(cents).over(w).cast("bigint").alias("value_cents_1h"),
    )


@register(
    "events_session_stats",
    oracle="""
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM g
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL '30 minutes',
                    '%Y-%m-%d %H:%M:%S') AS session_end,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native dynamic-gap session windows (``F.session_window``) in
    batch — per (user, session) start/end/size, where a session extends
    while consecutive events are < 30 minutes apart. The streaming twin
    is the same expression under readStream (see
    test_streaming_analytics.py's session test); ``events_sessionize``
    counts sessions with the lag/island formulation — this query emits
    the sessions themselves via the engine-native operator. The oracle
    replays Spark's merge rule exactly: an event merges into the open
    session when it is ≤ the session end (INCLUSIVE — an event at
    exactly last + 30 min still merges; pinned by the boundary test in
    test_streaming_analytics.py), so a new island opens only on a gap
    STRICTLY greater than 30 min, and session_end = last event + gap.

    Scale shape: one exchange on user_id; session merging is a
    per-partition ordered scan (no self-join), state = one user's open
    session."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
            .alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss")
            .alias("session_end"),
            "n_events",
        )
    )


_PROF_PROBES = 5   # probe users (user_id 1..5)
_PROF_TOPK = 3


@register(
    "events_user_profile_similarity",
    oracle=f"""
    WITH prof AS (
        SELECT user_id,
               dayofweek(ts) * 24 + hour(ts) AS h,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    norms AS (
        SELECT user_id, CAST(sum(c * c) AS BIGINT) AS n2
        FROM prof GROUP BY 1
    ),
    dots AS (
        SELECT p.user_id AS probe_user, q.user_id AS match_user,
               CAST(sum(p.c * q.c) AS BIGINT) AS dot
        FROM prof p JOIN prof q ON p.h = q.h
        WHERE p.user_id <= {_PROF_PROBES} AND q.user_id <> p.user_id
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT d.probe_user, d.match_user,
               CAST(round(1e6 * d.dot / sqrt(np.n2 * nq.n2)) AS BIGINT)
                   AS cos_micro
        FROM dots d
        JOIN norms np ON np.user_id = d.probe_user
        JOIN norms nq ON nq.user_id = d.match_user
    )
    SELECT probe_user, match_user, cos_micro
    FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_user
                   ORDER BY cos_micro DESC, match_user) AS rn
        FROM scored
    ) WHERE rn <= {_PROF_TOPK}
    """,
)
def events_user_profile_similarity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-series similarity search over behavioral profiles (the
    distributed-similarity-search shape of PAPERS.md's EDBT'19 entry,
    composed from this engine's existing patterns): each user's event
    stream becomes a 168-bin hour-of-week activity profile (one hash
    aggregate), and the 5 probe users' profiles rank every other
    user by cosine — top 3 matches per probe, micro-unit scores
    (integer dot products and sum-of-squares; sqrt/divide are
    identically-rounded IEEE doubles in both engines, ties break on
    match_user).

    Scale shape: profile agg = one exchange; the probe×candidate dot
    product joins on the 168-value hour key with the PROBE side
    broadcast (a shuffle keyed by h would put the whole corpus on 168
    partitions — the skew trap); per-pair agg + tiny norm joins +
    per-probe top-k window over ≤ n_users rows."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    how = ((F.dayofweek("ts") - 1) * 24 + F.hour("ts")).alias("h")
    # pin() materializes the BOUNDED profile table (≤168 rows per
    # user): its three consumers (dot-product scan, probe slice, norm
    # agg) would otherwise each re-aggregate the raw event stream —
    # filter pushdown specializes their subtrees, so AQE exchange reuse
    # cannot merge them (verified executed_reuse_count == 0 without
    # this).
    prof = pin(
        ev.groupBy("user_id", how)
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    norms = prof.groupBy("user_id").agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("n2")
    )
    probes = prof.filter(F.col("user_id") <= _PROF_PROBES).select(
        F.col("user_id").alias("probe_user"),
        F.col("h"),
        F.col("c").alias("pc"),
    )
    dots = (
        prof.join(F.broadcast(probes), on="h")
        .filter(F.col("user_id") != F.col("probe_user"))
        .groupBy("probe_user", F.col("user_id").alias("match_user"))
        .agg(F.sum(F.col("pc") * F.col("c")).cast("bigint").alias("dot"))
    )
    scored = (
        dots.join(
            F.broadcast(
                norms.filter(F.col("user_id") <= _PROF_PROBES).select(
                    F.col("user_id").alias("probe_user"),
                    F.col("n2").alias("np2"),
                )
            ),
            "probe_user",
        )
        .join(
            norms.select(
                F.col("user_id").alias("match_user"),
                F.col("n2").alias("nq2"),
            ),
            "match_user",
        )
        .select(
            "probe_user",
            "match_user",
            F.round(
                F.lit(1e6) * F.col("dot")
                / F.sqrt(F.col("np2") * F.col("nq2"))
            ).cast("bigint").alias("cos_micro"),
        )
    )
    w = Window.partitionBy("probe_user").orderBy(
        F.desc("cos_micro"), F.asc("match_user")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PROF_TOPK)
        .select("probe_user", "match_user", "cos_micro")
    )


@register(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    trans AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
           CAST(round(CAST(n AS DOUBLE)
                      / sum(n) OVER (PARTITION BY from_type) * 1e6)
                AS BIGINT) AS p_micro
    FROM trans
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current), the behavioral model
    behind next-action prediction features, funnel anomaly detection,
    and bot heuristics (bots have near-degenerate transition rows).
    Tie-break on event_id makes same-timestamp ordering deterministic
    under any partitioning; probabilities are one int/int IEEE division
    rounded once to micro-units.

    Scale shape: one user-keyed window (the sequence exchange — the
    same partitioning every sessionization query reuses) feeding a
    (from, to)-keyed hash agg whose key space is |types|² (constant in
    corpus size, map-side partials); the probability window runs over
    that |types|²-row table, not the corpus."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))
    )
    wf = Window.partitionBy("from_type")
    return trans.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wf) * 1e6)
        .cast("long")
        .alias("p_micro"),
    )


_DECAY_CAP = 40  # max shift: 2^-40 of the micro multiplier is already 0


@register(
    "events_decay_activity_score",
    oracle=f"""
    WITH e AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS es,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    mx AS (SELECT max(es) AS emax FROM e),
    aged AS (
        SELECT user_id,
               least((mx.emax - e.es) // 86400, {_DECAY_CAP}) AS age,
               e.cents
        FROM e CROSS JOIN mx
    ),
    buckets AS (
        SELECT user_id, age, CAST(sum(cents) AS BIGINT) AS sum_cents
        FROM aged GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(sum(sum_cents * 1000000 //
                    (CAST(1 AS BIGINT) << age)) AS BIGINT)
               AS score_micro_cents,
           CAST(count(*) AS BIGINT) AS active_days,
           CAST(min(age) AS BIGINT) AS days_since_last
    FROM buckets GROUP BY user_id
    """,
)
def events_decay_activity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed user activity score with a 1-day
    half-life — the recency-weighted engagement feature behind churn
    models and ranking freshness boosts: score = Σ value·2^(−age_days).
    Float exp() sums are order-dependent (non-associative) and
    therefore partitioning-dependent; here the decay is EXACT integer
    arithmetic instead — powers of two as bit shifts, one floored
    `div` per (user, age-bucket), BIGINT sums throughout — so the
    score is bit-identical under any shuffle and replays perfectly in
    DuckDB. Also emits active-day count and days-since-last (the
    classic RFM trio).

    Scale shape: ONE (user, age)-keyed agg over the corpus (≤41 age
    buckets per user, map-side partials) then a user-keyed rollup of
    ≤41 rows each; the global max-timestamp is a scalar broadcast. No
    windows, no joins on the corpus."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    e = ev.select(
        "user_id",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    mx = e.agg(F.max("es").alias("emax"))
    aged = e.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.least(
            F.expr("(emax - es) div 86400"), F.lit(_DECAY_CAP).cast("long")
        ).alias("age"),
        "cents",
    )
    buckets = aged.groupBy("user_id", "age").agg(
        F.sum("cents").alias("sum_cents")
    )
    return buckets.groupBy("user_id").agg(
        F.sum(
            F.expr(
                "sum_cents * 1000000 div shiftleft(cast(1 as bigint), "
                "cast(age as int))"
            )
        ).alias("score_micro_cents"),
        F.count("*").alias("active_days"),
        F.min("age").alias("days_since_last"),
    )


@register(
    "events_hourly_seasonality",
    oracle="""
    SELECT CAST(extract(hour FROM ts) AS INT) AS hour_of_day,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM events GROUP BY 1, 2
    """,
)
def events_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diurnal activity profile: event volume and value by hour-of-day
    × event type — the seasonality baseline behind anomaly alerts
    (is 3 am traffic low because it's 3 am, or because ingestion
    broke?) and capacity planning. Hour extraction happens in the
    session's pinned UTC zone on both engines; cents are exact BIGINT.

    Scale shape: pure map → ONE hash aggregate with a 24·|types| key
    space (constant in corpus size, map-side partials)."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy(
        F.hour("ts").alias("hour_of_day"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias(
            "total_cents"
        ),
    )


_ANOM_K = 3  # flag beyond mean ± 3·MAD


@register(
    "events_value_anomaly_mad",
    oracle=f"""
    WITH e AS (
        SELECT event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    m AS (
        SELECT event_type, CAST(sum(cents) // count(*) AS BIGINT)
                   AS mean_cents
        FROM e GROUP BY event_type
    ),
    d AS (
        SELECT e.event_type,
               CAST(sum(abs(e.cents - m.mean_cents)) // count(*) AS BIGINT)
                   AS mad_cents,
               CAST(max(m.mean_cents) AS BIGINT) AS mean_cents
        FROM e JOIN m USING (event_type) GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type, e.cents, d.mean_cents, d.mad_cents
    FROM e JOIN d USING (event_type)
    WHERE abs(e.cents - d.mean_cents) > {_ANOM_K} * d.mad_cents
    """,
)
def events_value_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type value anomaly gate: events whose value sits
    outside mean ± 3·MAD of their own event type — the telemetry
    tripwire for fat-finger values, unit-mixups (dollars vs cents),
    and upstream corruption, robust to the outliers it hunts (unlike
    stddev, MAD doesn't move when the anomaly enters the window).
    Mean and MAD are exact floored-integer statistics over exact
    cents — the embedding-norm outlier gate's discipline applied to
    the event stream.

    Scale shape: two corpus-scan aggregates into |types| keys (the
    second re-derives cents rather than shuffling them — cheaper than
    materializing at 100 TB), stats broadcast back for a map-side
    verdict; only anomalies are emitted."""
    ev = load_table(spark, "events", sf_dir)
    e = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    m = e.groupBy("event_type").agg(
        F.expr("sum(cents) div count(*)").alias("mean_cents")
    )
    d = (
        e.join(F.broadcast(m), "event_type")
        .groupBy("event_type")
        .agg(
            F.expr("sum(abs(cents - mean_cents)) div count(*)").alias(
                "mad_cents"
            ),
            F.max("mean_cents").alias("mean_cents"),
        )
    )
    return (
        e.join(F.broadcast(d), "event_type")
        .filter(
            F.abs(F.col("cents") - F.col("mean_cents"))
            > _ANOM_K * F.col("mad_cents")
        )
        .select(
            "event_id", "event_type", "cents", "mean_cents", "mad_cents"
        )
    )


@register(
    "events_dau_wau_stickiness",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
        FROM events
    ),
    dau AS (SELECT day, CAST(count(*) AS BIGINT) AS n_dau
            FROM ud GROUP BY day),
    wau AS (
        SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS n_wau
        FROM dau d JOIN ud u
            ON u.day BETWEEN d.day - 6 AND d.day
        GROUP BY d.day
    )
    SELECT d.day, d.n_dau, w.n_wau,
           CAST(d.n_dau * 1000000 // w.n_wau AS BIGINT)
               AS stickiness_micro
    FROM dau d JOIN wau w USING (day)
    """,
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU engagement: per day, the distinct active users that
    day, the distinct users over the trailing 7 days, and their ratio
    (the "stickiness" KPI — how much of the weekly audience shows up
    daily). Days are exact integer epoch-day buckets; the ratio is a
    floored ppm of exact counts.

    Scale shape: ONE (user, day) distinct aggregate collapses the
    event stream to active-pairs (map-side partials); the trailing
    window is a 7-day band join against the |days|-row day table
    (broadcast — the per-day side is calendar-sized, never
    corpus-sized), then a (day)-keyed distinct count. No per-event
    window, no 7× event replication."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    ud = ev.select(
        "user_id",
        F.expr("floor(unix_timestamp(ts)) div 86400").alias("day"),
    ).distinct()
    dau = ud.groupBy("day").agg(F.count("*").alias("n_dau"))
    wau = (
        ud.join(
            F.broadcast(dau.select("day").withColumnRenamed("day", "d")),
            (F.col("day") >= F.col("d") - 6) & (F.col("day") <= F.col("d")),
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("n_wau"))
        .withColumnRenamed("d", "day")
    )
    return dau.join(wau, "day").select(
        "day",
        "n_dau",
        "n_wau",
        F.expr("n_dau * 1000000 div n_wau").alias("stickiness_micro"),
    )


@register(
    "events_power_users_pareto",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY user_id
    ),
    d AS (
        SELECT user_id, cents,
               ntile(10) OVER (ORDER BY cents DESC, user_id) AS decile
        FROM u
    ),
    t AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM u)
    SELECT CAST(decile AS INT) AS decile,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(cents) AS BIGINT) AS cents,
           CAST(sum(cents) * 1000000 // t.total AS BIGINT)
               AS share_micro,
           CAST(sum(sum(cents)) OVER (ORDER BY decile) * 1000000
                // t.total AS BIGINT) AS cum_share_micro
    FROM d CROSS JOIN t
    GROUP BY decile, t.total
    """,
)
def events_power_users_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / Lorenz concentration of user value: bucket users into
    value deciles and report each decile's share and cumulative share
    of total event value — the 80/20 audit behind whale-risk analysis
    (when decile 1 carries most of the value, the corpus — or the
    revenue — hinges on a handful of accounts). ntile with a user_id
    tie-break is deterministic cross-engine; shares are floored ppm of
    exact cent sums.

    Scale shape: ONE user-keyed agg over events; deciles come from
    `exact_global_ntile` (range-repartition + per-partition row_number
    + partition offsets — operators/ranks.py), so the user-level table
    is never funneled through a single-partition window; the rollup is
    a 10-key agg with a 10-row cumulative window."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    u = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    d = exact_global_ntile(
        u, [F.col("cents").desc(), F.col("user_id")], 10, "decile"
    ).select("cents", "decile")
    t = u.agg(F.sum("cents").alias("total"))
    per = (
        d.groupBy("decile")
        .agg(F.count("*").alias("n_users"), F.sum("cents").alias("cents"))
        .crossJoin(F.broadcast(t))
    )
    wcum = Window.orderBy("decile")
    # cum share via integer `div`, not double division: at an exact
    # ppm boundary the double quotient can land 1 ulp low and truncate
    # off-by-one vs the oracle's floored integer division.
    return per.withColumn(
        "cum_cents", F.sum("cents").over(wcum)
    ).select(
        "decile",
        "n_users",
        "cents",
        F.expr("cents * 1000000 div total").alias("share_micro"),
        F.expr("cum_cents * 1000000 div total").alias("cum_share_micro"),
    )


_BOT_RATE = 20_000_000  # events/day ≥ 20 (micro) AND …
_BOT_VMR = 500_000  # … gap VMR < 0.5 (micro) → machine-regular


@register(
    "events_bot_score_heuristic",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS es
        FROM events
    ),
    g AS (
        SELECT user_id, event_type, es,
               es - lag(es) OVER (PARTITION BY user_id
                                  ORDER BY es, event_id) AS gap
        FROM e
    ),
    u AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
               CAST(count(DISTINCT es // 86400) AS BIGINT) AS active_days,
               CAST(count(gap) AS BIGINT) AS n_gaps,
               CAST(sum(gap) AS BIGINT) AS sum_gap,
               CAST(sum(gap * gap) AS BIGINT) AS sum_gap2
        FROM g GROUP BY user_id
    )
    SELECT user_id, n_events, n_types, active_days,
           CAST(n_events * 1000000 // active_days AS BIGINT)
               AS rate_micro,
           CASE WHEN n_gaps < 2 OR sum_gap = 0 THEN NULL
                ELSE CAST(round(
                    (CAST(sum_gap2 AS DOUBLE) / n_gaps
                     - (CAST(sum_gap AS DOUBLE) / n_gaps)
                       * (CAST(sum_gap AS DOUBLE) / n_gaps))
                    / (CAST(sum_gap AS DOUBLE) / n_gaps) * 1e6)
                    AS BIGINT)
           END AS gap_vmr_micro,
           (n_events * 1000000 // active_days >= {_BOT_RATE}
            AND n_gaps >= 2 AND sum_gap > 0
            AND round(
                (CAST(sum_gap2 AS DOUBLE) / n_gaps
                 - (CAST(sum_gap AS DOUBLE) / n_gaps)
                   * (CAST(sum_gap AS DOUBLE) / n_gaps))
                / (CAST(sum_gap AS DOUBLE) / n_gaps) * 1e6)
                < {_BOT_VMR}) AS bot_flag
    FROM u
    """,
)
def events_bot_score_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot heuristic per user: event rate (events per active day),
    behavioral diversity (distinct event types), and TIMING REGULARITY
    — the variance-to-mean ratio of inter-event gaps. Humans are
    bursty (gap VMR ≫ 1); schedulers fire on clocks (VMR → 0), so
    high-rate + low-VMR is the classic automation signature. Gaps are
    exact integer seconds; the VMR is one double chain over exact
    BIGINT moments rounded once (the burstiness discipline); the flag
    is pure integer/boolean logic.

    Scale shape: one user-keyed sequence window (the sessionization
    exchange) feeding ONE user-keyed aggregate; no joins, output is
    user-sized."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    g = e.withColumn("gap", F.col("es") - F.lag("es").over(w))
    u = g.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.countDistinct(F.expr("es div 86400")).alias("active_days"),
        F.count("gap").alias("n_gaps"),
        F.sum("gap").alias("sum_gap"),
        F.sum(F.col("gap") * F.col("gap")).alias("sum_gap2"),
    )
    mean_gap = F.col("sum_gap").cast("double") / F.col("n_gaps")
    vmr = F.round(
        (F.col("sum_gap2").cast("double") / F.col("n_gaps")
         - mean_gap * mean_gap)
        / mean_gap
        * 1e6
    )
    rate = F.expr("n_events * 1000000 div active_days")
    return u.select(
        "user_id",
        "n_events",
        "n_types",
        "active_days",
        rate.alias("rate_micro"),
        F.when(
            (F.col("n_gaps") < 2) | (F.col("sum_gap") == 0),
            F.lit(None).cast("long"),
        )
        .otherwise(vmr.cast("long"))
        .alias("gap_vmr_micro"),
        (
            (rate >= _BOT_RATE)
            & (F.col("n_gaps") >= 2)
            & (F.col("sum_gap") > 0)
            & (vmr < _BOT_VMR)
        ).alias("bot_flag"),
    )


@register(
    "events_abandoned_views",
    oracle="""
    WITH v AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'view'),
    converted AS (
        SELECT v.event_id FROM v
        WHERE EXISTS (
            SELECT 1 FROM events p
            WHERE p.event_type = 'purchase'
              AND p.user_id = v.user_id
              AND p.ts > v.ts
              AND p.ts <= v.ts + INTERVAL '1 hour'
        )
    )
    SELECT v.user_id,
           CAST(count(*) AS BIGINT) AS n_views,
           CAST(sum(CASE WHEN c.event_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_abandoned
    FROM v LEFT JOIN converted c USING (event_id)
    GROUP BY v.user_id
    """,
)
def events_abandoned_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absence detection — the funnel's negative space: views with NO
    purchase by the same user within the following hour (cart
    abandonment / missing-follow-up alerting). The batch shape of a
    stateful absence detector (streaming: register state on A, emit on
    timer expiry unless B arrives).

    Scale shape: an EQUI anti-join on user_id carrying the time-range
    predicate as a residual condition — SortMergeJoin(LeftAnti) after
    both sides shuffle once on user_id (per-user event counts are
    human-bounded, so no skew salting needed); no all-pairs time join,
    no window over the full event stream. The per-user aggregate
    reuses the same user_id partitioning — AQE drops the second
    exchange."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    abandoned = views.join(
        purch,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") > F.col("ts"))
        & (F.col("p_ts") <= F.col("ts") + F.expr("INTERVAL 1 HOUR")),
        "left_anti",
    ).select("event_id")
    flagged = views.join(
        abandoned.withColumn("abandoned", F.lit(1)), "event_id", "left"
    )
    return flagged.groupBy("user_id").agg(
        F.count("*").alias("n_views"),
        F.coalesce(F.sum("abandoned"), F.lit(0)).cast("long").alias("n_abandoned"),
    )


@register(
    "events_forecast_ses",
    # α = 1/4 simple exponential smoothing folded per user over the
    # event_id order, entirely in integer cents with floor division:
    # level_t = (cents_t + 3·level_{t-1}) div 4, level_0 = first value.
    oracle="""
    WITH e AS (
        SELECT user_id, event_id,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ),
    series AS (
        SELECT user_id,
               list(cents ORDER BY event_id) AS xs
        FROM e GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(xs) AS BIGINT) AS n_obs,
           CAST(xs[len(xs)] AS BIGINT) AS last_cents,
           CAST(list_reduce(xs, (l, x) -> (x + 3 * l) // 4) AS BIGINT)
               AS ses_level_cents
    FROM series
    """,
)
def events_forecast_ses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple-exponential-smoothing purchase-value forecast per user
    (α = 1/4): the one-step-ahead level every anomaly detector and
    budget forecaster keeps per entity. The recursion folds in exact
    integer cents with floor division — `(x + 3·l) div 4` — so the
    engine and the oracle replay the identical sequence (the
    rolling-hash/decay-score discipline; α is a dyadic rational on
    purpose).

    Scale shape: ONE groupBy(user) with an ordered collect — per-user
    event counts are human-bounded, so the fold array is small-K; the
    fold itself is a codegen-free but per-user-array HOF, linear in
    events. No window over the global stream, no driver loop."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    e = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    series = e.groupBy("user_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(event_id, cents))),"
            " s -> s.cents)"
        ).alias("xs")
    )
    return series.select(
        "user_id",
        F.size("xs").cast("long").alias("n_obs"),
        F.element_at("xs", -1).cast("long").alias("last_cents"),
        F.expr(
            "aggregate(slice(xs, 2, greatest(size(xs) - 1, 0)),"
            " xs[0], (l, x) -> (x + 3L * l) div 4L)"
        ).cast("long").alias("ses_level_cents"),
    )


# Holt fold state packing: (level, trend) in ONE BIGINT —
# (l + 2³⁰)·2³¹ + (b + 2³⁰), both offsets keeping the packed value
# non-negative so `//`/`%` decode identically in both engines. A
# (l, b) STRUCT accumulator would be the natural shape, but DuckDB
# 1.0.0's list_reduce miscomputes struct lambdas whose fields read
# each other's PREVIOUS value (a true swap dependency: verified —
# (a,e)->{'l': a.b + e.l, 'b': a.l} over [1,2,3,4] returns (8,8)
# instead of (6,4)), so the portable fold uses scalar packing. Bounds:
# |l|, |b| < 2³⁰ micro-cents ≈ $10 M per purchase — asserted nowhere
# because floor(value·100) of the events table is < 10⁶.
_HOLT_C1 = 2_147_483_648  # 2^31
_HOLT_C2 = 1_073_741_824  # 2^30


def _holt_lambda(x: str, acc: str) -> str:
    """One Holt step over the packed state, identical text for Spark
    (`div`) and DuckDB (`//`) after operator substitution:
    l' = (x + 3(l+b)) div 4;  b' = ((l'−l) + 3b) div 4."""
    l = f"({acc} DIV {_HOLT_C1} - {_HOLT_C2})"
    b = f"({acc} % {_HOLT_C1} - {_HOLT_C2})"
    l2 = f"(({x} + 3 * ({l} + {b})) DIV 4)"
    b2 = f"((({l2} - {l}) + 3 * {b}) DIV 4)"
    return f"(({l2} + {_HOLT_C2}) * {_HOLT_C1} + {b2} + {_HOLT_C2})"


_HOLT_ORACLE = f"""
    WITH e AS (
        SELECT user_id, event_id,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ),
    series AS (
        SELECT user_id, list(cents ORDER BY event_id) AS xs
        FROM e GROUP BY user_id
    ),
    fit AS (
        SELECT user_id, len(xs) AS n_obs,
               list_reduce(
                   list_prepend(
                       (xs[1] + {_HOLT_C2}) * {_HOLT_C1} + {_HOLT_C2},
                       xs[2:]),
                   (a, x) -> {_holt_lambda('x', 'a').replace(' DIV ', ' // ')}
               ) AS st
        FROM series
    )
    SELECT user_id, CAST(n_obs AS BIGINT) AS n_obs,
           CAST(st // {_HOLT_C1} - {_HOLT_C2} AS BIGINT) AS level_cents,
           CAST(st % {_HOLT_C1} - {_HOLT_C2} AS BIGINT) AS trend_cents,
           CAST((st // {_HOLT_C1} - {_HOLT_C2})
                + 3 * (st % {_HOLT_C1} - {_HOLT_C2}) AS BIGINT)
               AS forecast3_cents
    FROM fit
"""


@register("events_forecast_holt", oracle=_HOLT_ORACLE)
def events_forecast_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend forecast of purchase value per user — the
    trend-aware upgrade of ``events_forecast_ses`` (a level-only
    smoother lags every growing account; budget/capacity forecasts
    keep (level, trend) per entity). α = β = 1/4 are dyadic on
    purpose: the recursion is an exact BIGINT fold both engines replay
    bit-for-bit — state packed into one BIGINT (see _holt_lambda) —
    including the truncating division on NEGATIVE trend steps (the
    sign case the SES query never exercises). Emits the fitted state
    and the 3-step-ahead forecast l + 3·b.

    Scale shape: identical to the SES query — ONE user-keyed agg with
    an ordered small-K collect (per-user purchase counts are
    human-bounded), then a codegen HOF fold, linear in events, zero
    windows, no driver loop."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    e = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    series = e.groupBy("user_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(event_id, cents))),"
            " s -> s.cents)"
        ).alias("xs")
    )
    step = _holt_lambda("x", "a").replace(" DIV ", " div ")
    fit = series.select(
        "user_id",
        F.size("xs").cast("long").alias("n_obs"),
        F.expr(
            f"aggregate(slice(xs, 2, greatest(size(xs) - 1, 0)),"
            f" (xs[0] + {_HOLT_C2}L) * {_HOLT_C1}L + {_HOLT_C2}L,"
            f" (a, x) -> {step})"
        ).alias("st"),
    )
    lvl = F.expr(f"st div {_HOLT_C1} - {_HOLT_C2}")
    trd = F.col("st") % _HOLT_C1 - _HOLT_C2
    return fit.select(
        "user_id", "n_obs",
        lvl.cast("long").alias("level_cents"),
        trd.cast("long").alias("trend_cents"),
        (lvl + 3 * trd).cast("long").alias("forecast3_cents"),
    )


@register(
    "events_cusum_drift",
    # One-sided CUSUM over the per-type daily count series:
    #   s_t = max(0, s_{t-1} + (x_t − k)),  alarm when s_t > h
    # with k = mean daily count (integer div) and h = 2k — sequential
    # change detection, the complement of the distributional KS gate
    # (quality_ks_drift): KS answers "do two windows differ", CUSUM
    # answers "WHEN did the level shift", which is what an ingest
    # monitor pages on. Instead of a sequential fold, both engines use
    # the CLOSED FORM s_t = P_t − min(0, min_{j≤t} P_j) over the
    # prefix sums P_t of (x_t − k) — running sum + running min are
    # per-type window functions, so the recursion parallelizes and
    # the whole thing is exact BIGINT arithmetic.
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    scal AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(n) // count(*) AS BIGINT) AS k
        FROM daily GROUP BY event_type
    ),
    pre AS (
        SELECT d.event_type, s.n_days, s.k, d.d,
               row_number() OVER w AS t,
               sum(d.n - s.k) OVER w AS p
        FROM daily d JOIN scal s USING (event_type)
        WINDOW w AS (PARTITION BY d.event_type ORDER BY d.d
                     ROWS UNBOUNDED PRECEDING)
    ),
    cusum AS (
        SELECT event_type, n_days, k, t,
               p - least(CAST(0 AS BIGINT),
                         min(p) OVER (PARTITION BY event_type ORDER BY d
                                      ROWS UNBOUNDED PRECEDING)) AS s
        FROM pre
    )
    SELECT event_type,
           CAST(max(n_days) AS BIGINT) AS n_days,
           CAST(max(k) AS BIGINT) AS target_daily,
           CAST(max(s) AS BIGINT) AS max_cusum,
           CAST(sum(CASE WHEN s > 2 * k THEN 1 ELSE 0 END) AS BIGINT)
               AS n_alarm_days,
           CAST(coalesce(min(CASE WHEN s > 2 * k THEN t END), 0)
                AS BIGINT) AS first_alarm_day
    FROM cusum GROUP BY event_type
    """,
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type CUSUM change detection on the daily volume
    series: cumulative positive excursion above the series' own mean
    daily rate, alarm days where the excursion tops 2× the rate, and
    the 1-based index of the FIRST alarm day (0 = never) — the "when
    did ingest volume shift" monitor next to quality_ks_drift's "do
    these windows differ".

    The textbook recursion s_t = max(0, s_{t-1} + x_t − k) has the
    closed form s_t = P_t − min(0, min_{j≤t} P_j) (P = prefix sums of
    the excess), so the implementation is two running windows — sum,
    then min of that sum — not a sequential fold. Exact BIGINT
    throughout; the mean rate uses truncating division on both sides.

    Scale shape: the daily rollup is the only data-scale agg (map-side
    combined, (type, day) keyed); the windows then run over per-type
    daily rows bounded by the calendar, partitioned by event_type —
    no global window, no fold, no driver loop."""
    from rust_cdc_spark.operators.stats import cusum_daily_finish

    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.count("*").cast("long").alias("n"))
    # Finishing plan shared with the streaming twin
    # (streaming/analytics.py): the recursion's closed form over the
    # calendar-bounded daily table.
    return cusum_daily_finish(daily)


@register(
    "events_funnel_time_to_convert",
    oracle="""
    WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
          JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
          JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > c.t2
          GROUP BY e.user_id),
    d AS (
        SELECT 'view_to_click' AS stage,
               epoch_us(c.t2) - epoch_us(v.t1) AS us
        FROM c JOIN v USING (user_id)
        UNION ALL
        SELECT 'click_to_purchase',
               epoch_us(p.t3) - epoch_us(c.t2)
        FROM p JOIN c USING (user_id)
    ),
    agg AS (
        SELECT stage, count(*) AS n, min(us) AS mn, max(us) AS mx,
               sum(us) AS sm
        FROM d GROUP BY stage
    ),
    hist AS (SELECT stage, us // 1000000 AS v, count(*) AS nk
             FROM d GROUP BY stage, us // 1000000),
    cum AS (SELECT stage, v,
                   sum(nk) OVER (PARTITION BY stage ORDER BY v) AS cum
            FROM hist),
    med AS (
        SELECT c.stage, CAST(min(c.v) AS BIGINT) AS median_s
        FROM cum c JOIN agg a USING (stage)
        WHERE c.cum * 2 >= a.n GROUP BY c.stage
    )
    SELECT a.stage,
           CAST(a.n AS BIGINT) AS n_conversions,
           CAST(a.mn AS BIGINT) AS min_us,
           CAST(a.mx AS BIGINT) AS max_us,
           CAST(a.sm AS BIGINT) AS sum_us,
           m.median_s
    FROM agg a JOIN med m USING (stage)
    """,
)
def events_funnel_time_to_convert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Step-to-step conversion latency for the view → click → purchase
    funnel: per converting user, the exact time between the first view
    and the first strictly-later click (and click → purchase), rolled
    up to the per-stage latency profile (count / min / max / sum /
    median) — the "how long does the funnel take" companion to
    events_funnel_conversion's "how deep does it go".

    Scale shape: the stage timestamps are the funnel query's chained
    whole-partition window minimums (ONE scan, ONE user_id shuffle);
    delays are exact epoch-microsecond integers; min/max/sum roll up in
    one 2-group agg. The median uses the value-histogram running-sum
    trick over SECOND-quantized delays — the cumulative window
    partitions by stage and its frame is the distinct-delay-seconds
    histogram (bounded by the corpus time span, not by users), the same
    scale-safe exact-quantile pattern as length_quantile_filter."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id")
    staged = (
        ev.select("user_id", "event_type", "ts")
        .withColumn(
            "t1",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t1")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t2")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.first("t1").alias("t1"),
        F.first("t2").alias("t2"),
        F.first("t3").alias("t3"),
    )
    d12 = per_user.filter(F.col("t2").isNotNull()).select(
        F.lit("view_to_click").alias("stage"),
        (F.unix_micros("t2") - F.unix_micros("t1")).alias("us"),
    )
    d23 = per_user.filter(F.col("t3").isNotNull()).select(
        F.lit("click_to_purchase").alias("stage"),
        (F.unix_micros("t3") - F.unix_micros("t2")).alias("us"),
    )
    d = d12.unionAll(d23)
    agg = d.groupBy("stage").agg(
        F.count("*").cast("bigint").alias("n_conversions"),
        F.min("us").cast("bigint").alias("min_us"),
        F.max("us").cast("bigint").alias("max_us"),
        F.sum("us").cast("bigint").alias("sum_us"),
    )
    hist = d.groupBy(
        "stage", F.expr("us div 1000000").alias("v")
    ).agg(F.count("*").alias("nk"))
    cum = hist.select(
        "stage",
        "v",
        F.sum("nk")
        .over(
            Window.partitionBy("stage")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("cum"),
    )
    med = (
        cum.join(agg.select("stage", "n_conversions"), "stage")
        .filter(F.col("cum") * 2 >= F.col("n_conversions"))
        .groupBy("stage")
        .agg(F.min("v").cast("bigint").alias("median_s"))
    )
    return agg.join(med, "stage")


@register(
    "events_dedup_consecutive",
    oracle="""
    WITH o AS (
        SELECT user_id, event_type, value, ts,
               lag(event_type) OVER w AS p_type,
               lag(value) OVER w AS p_value,
               lag(ts) OVER w AS p_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    flagged AS (
        SELECT user_id,
               CASE WHEN p_type = event_type AND p_value = value
                         AND epoch_us(ts) - epoch_us(p_ts) <= 60000000
                    THEN 1 ELSE 0 END AS is_dup
        FROM o
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) - sum(is_dup) AS BIGINT) AS n_kept,
           CAST(sum(is_dup) AS BIGINT) AS n_dropped
    FROM flagged GROUP BY user_id
    """,
)
def events_dedup_consecutive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-duplicate suppression — the batch shape of the
    classic sensor/click debounce: an event identical to its immediate
    predecessor (same type, same value) within 60 s is a transport
    retry or double-fire, not a signal. This is the ORDER-AWARE dedup
    the exact-dedup family can't express (an identical event 2 hours
    later is legitimate and kept), and the batch twin of the streaming
    dropDuplicatesWithinWatermark path in streaming/pipeline.py.

    Scale shape: ONE user-partitioned lag window (the sessionize
    shuffle) feeding a same-partitioning per-user rollup — no joins,
    no global state; the 60 s horizon is why bounded state suffices in
    the streaming twin. Timestamps compare in exact epoch-microseconds;
    value equality is bit-exact double equality on identical stored
    values, deterministic in both engines. Ties order by (ts,
    event_id) so the lag chain is engine-identical."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "event_type",
        "value",
        "ts",
        F.lag("event_type").over(w).alias("p_type"),
        F.lag("value").over(w).alias("p_value"),
        F.lag("ts").over(w).alias("p_ts"),
    )
    flagged = o.select(
        "user_id",
        F.when(
            (F.col("p_type") == F.col("event_type"))
            & (F.col("p_value") == F.col("value"))
            & (
                F.unix_micros("ts") - F.unix_micros("p_ts")
                <= 60_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("is_dup"),
    )
    return flagged.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        (F.count("*") - F.sum("is_dup")).cast("bigint").alias("n_kept"),
        F.sum("is_dup").cast("bigint").alias("n_dropped"),
    )


_MK_ITERS = 4


def _mk_iter_sql(prev: str, it: int) -> str:
    return f"""
    pi{it} AS (
        SELECT ty.t, CAST(coalesce(c.s, 0) AS BIGINT) AS v
        FROM types ty LEFT JOIN (
            SELECT p.to_type AS t,
                   sum((x.v * p.pm) // 1000000) AS s
            FROM p JOIN {prev} x ON x.t = p.from_type
            GROUP BY p.to_type
        ) c ON c.t = ty.t
    )"""


@register(
    "events_markov_stationary",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    trans AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    ),
    rs AS (SELECT from_type, sum(n) AS tot FROM trans GROUP BY from_type),
    p AS (
        SELECT t.from_type, t.to_type,
               (1000000 * t.n) // r.tot AS pm
        FROM trans t JOIN rs r USING (from_type)
    ),
    types AS (
        SELECT DISTINCT from_type AS t FROM trans
        UNION SELECT DISTINCT to_type FROM trans
    ),
    ntypes AS (SELECT count(*) AS k FROM types),
    pi0 AS (SELECT t, CAST(1000000 // k AS BIGINT) AS v
            FROM types CROSS JOIN ntypes),
    {",".join(_mk_iter_sql(f"pi{i}", i + 1) for i in range(_MK_ITERS))}
    SELECT ty.t AS event_type,
           CAST(pi{_MK_ITERS}.v AS BIGINT) AS pi_micro,
           CAST(coalesce(r.tot, 0) AS BIGINT) AS n_outgoing
    FROM types ty
    JOIN pi{_MK_ITERS} ON pi{_MK_ITERS}.t = ty.t
    LEFT JOIN rs r ON r.from_type = ty.t
    """,
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate stationary distribution of the user-behavior Markov
    chain: π·P^{it} from uniform over the transition matrix the
    events_transition_matrix query estimates — "where does a user's
    session settle" (the long-run attention share per event type, the
    baseline that makes transition anomalies interpretable). Fixed
    {it} integer power-iteration rounds: probabilities are exact floor
    (1e6·n) div rowsum micro-units, each π update floors per TERM
    before summing, so the oracle replays every round as unrolled CTEs
    bit-for-bit (the PageRank/HITS discipline; the ~1e-6-scale mass
    lost to floors is deterministic and identical in both engines).

    Scale shape: ONE corpus pass (the user-sequence lag window shared
    with sessionization) builds the |types|² count matrix; every
    iteration is a join+agg over that constant-size model frame —
    corpus size buys estimate quality, not iteration cost.""".replace(
        "{it}", str(_MK_ITERS)
    )
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    trans = pin(
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))  # |types|²-sized; frees the corpus lineage
    )
    rs = trans.groupBy("from_type").agg(F.sum("n").alias("tot"))
    p = trans.join(rs, "from_type").select(
        "from_type",
        "to_type",
        F.expr("(1000000 * n) div tot").alias("pm"),
    )
    types = (
        trans.select(F.col("from_type").alias("t"))
        .union(trans.select(F.col("to_type").alias("t")))
        .distinct()
    )
    k = types.agg(F.count("*").alias("k"))
    pi = types.crossJoin(F.broadcast(k)).select(
        "t", F.expr("1000000 div k").cast("long").alias("v")
    )
    for _ in range(_MK_ITERS):
        contrib = (
            p.join(pi.withColumnRenamed("t", "from_type"), "from_type")
            .select(
                F.col("to_type").alias("t"),
                F.expr("(v * pm) div 1000000").alias("term"),
            )
            .groupBy("t")
            .agg(F.sum("term").alias("s"))
        )
        pi = types.join(contrib, "t", "left").select(
            "t", F.coalesce(F.col("s"), F.lit(0)).cast("long").alias("v")
        )
    return (
        types.join(pi.withColumnRenamed("v", "pi_micro"), "t")
        .join(rs.withColumnRenamed("from_type", "t"), "t", "left")
        .select(
            F.col("t").alias("event_type"),
            F.col("pi_micro").cast("bigint").alias("pi_micro"),
            F.coalesce(F.col("tot"), F.lit(0))
            .cast("bigint")
            .alias("n_outgoing"),
        )
    )


_TSP_H = 24  # hour-of-day series length
_TSP_TOP = 10
_TSP_SX = " + ".join(f"h{h}" for h in range(_TSP_H))
_TSP_SXX = " + ".join(f"h{h} * h{h}" for h in range(_TSP_H))


def _tsp_series_sql(engine: str) -> str:
    """24 conditional hour-bucket sums in one agg (codegen-friendly —
    no pivot, no explode); integer cents so the series is exact."""
    if engine == "duckdb":
        cells = ", ".join(
            f"CAST(coalesce(sum(CASE WHEN hour(ts) = {h} THEN"
            f" CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT)"
            f" AS h{h}"
            for h in range(_TSP_H)
        )
        return f"SELECT user_id, {cells} FROM events GROUP BY user_id"
    raise ValueError(engine)


@register(
    "events_timeseries_pearson_topk",
    oracle=f"""
    WITH series AS ({_tsp_series_sql("duckdb")}),
    stats AS (
        SELECT user_id,
               CAST({_TSP_SX} AS BIGINT) AS sx,
               CAST({_TSP_SXX} AS BIGINT) AS sxx
        FROM series
    ),
    probe AS (
        SELECT s.*, t.sx AS psx, t.sxx AS psxx
        FROM series s JOIN stats t USING (user_id)
        WHERE user_id = (SELECT min(user_id) FROM events)
    ),
    scored AS (
        SELECT s.user_id,
               CAST(round(1e6 *
                   ({_TSP_H} * ({" + ".join(
                       f"s.h{h} * p.h{h}" for h in range(_TSP_H))})
                    - t.sx * p.psx)
                   / (sqrt(CAST({_TSP_H} * t.sxx - t.sx * t.sx AS DOUBLE))
                      * sqrt(CAST({_TSP_H} * p.psxx - p.psx * p.psx
                             AS DOUBLE)))) AS BIGINT) AS r_micro
        FROM series s
        JOIN stats t USING (user_id)
        CROSS JOIN probe p
        WHERE s.user_id <> p.user_id
          AND {_TSP_H} * t.sxx - t.sx * t.sx > 0
          AND {_TSP_H} * p.psxx - p.psx * p.psx > 0
    )
    SELECT user_id, r_micro FROM scored
    ORDER BY r_micro DESC, user_id LIMIT {_TSP_TOP}
    """,
)
def events_timeseries_pearson_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-series similarity search (the EDBT'19 streaming-similarity
    shape in PAPERS.md): each user's spend profile is a fixed 24-point
    hour-of-day value series; find the top-{k} users whose series
    CORRELATES with the probe user's (Pearson r — z-normalized match,
    so two users with identical rhythm but different magnitudes score
    1.0; complements events_user_profile_similarity's count-cosine,
    which is magnitude-sensitive). Probe = smallest user id
    (deterministic); zero-variance series are excluded (r undefined).

    Scale shape: ONE user-keyed agg builds every series as 24
    codegen conditional sums (no pivot, no explode — integer cents);
    the probe is a broadcast 1-row frame; scoring is a pure map over
    the user-series table (all Σx/Σx²/Σxy on exact ints; one double
    division + two sqrts per user, rounded once to micro) and the
    top-k is a TakeOrdered heap. Series length is a constant, so the
    plan is corpus-linear with a single shuffle at any scale.""".replace(
        "{k}", str(_TSP_TOP)
    )
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    # Series as an ARRAY column + aggregate-HOF folds: explicit
    # h0+h1+…+h23 alias chains OOM'd the driver — Catalyst re-inlines
    # each 24-term sum through every downstream filter/select reference
    # and the canonicalization pass blows up (the SCALE.md
    # "array-literal folds" finding, hit again here).
    series = ev.groupBy("user_id").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.hour("ts") == h, cents)), F.lit(0)
            )
            .cast("bigint")
            .alias(f"h{h}")
            for h in range(_TSP_H)
        ]
    )
    fold = lambda arr, term: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), term
    )
    stats = series.select(
        "user_id",
        F.array(*[f"h{h}" for h in range(_TSP_H)]).alias("hs"),
    ).select(
        "user_id",
        "hs",
        fold(F.col("hs"), lambda a, x: a + x).alias("sx"),
        fold(F.col("hs"), lambda a, x: a + x * x).alias("sxx"),
    )
    pmin = ev.agg(F.min("user_id").alias("pid"))
    probe = (
        stats.crossJoin(F.broadcast(pmin))
        .filter(F.col("user_id") == F.col("pid"))
        .select(
            F.col("user_id").alias("probe_id"),
            F.col("hs").alias("phs"),
            F.col("sx").alias("psx"),
            F.col("sxx").alias("psxx"),
        )
    )
    n = _TSP_H
    scored = (
        stats.crossJoin(F.broadcast(probe))
        .filter(F.col("user_id") != F.col("probe_id"))
        .filter(n * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
        .filter(n * F.col("psxx") - F.col("psx") * F.col("psx") > 0)
        .withColumn(
            "sxy",
            fold(
                F.zip_with(F.col("hs"), F.col("phs"), lambda a, b: a * b),
                lambda a, x: a + x,
            ),
        )
        .select(
            "user_id",
            F.round(
                F.lit(1e6)
                * (n * F.col("sxy") - F.col("sx") * F.col("psx"))
                / (
                    F.sqrt(
                        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
                        .cast("double")
                    )
                    * F.sqrt(
                        (n * F.col("psxx") - F.col("psx") * F.col("psx"))
                        .cast("double")
                    )
                )
            )
            .cast("bigint")
            .alias("r_micro"),
        )
    )
    return scored.orderBy(F.col("r_micro").desc(), "user_id").limit(
        _TSP_TOP
    )


@register(
    "events_ab_test_lift",
    oracle="""
    WITH assign AS (
        SELECT user_id, CAST(user_id % 2 AS INT) AS variant,
               CASE WHEN sum(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) >= 17
                    THEN 1 ELSE 0 END AS converted
        FROM events GROUP BY user_id
    ),
    arm AS (
        SELECT variant,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(converted) AS BIGINT) AS n_converted
        FROM assign GROUP BY variant
    ),
    w AS (
        SELECT
            (SELECT n_users FROM arm WHERE variant = 0) AS n0,
            (SELECT n_converted FROM arm WHERE variant = 0) AS c0,
            (SELECT n_users FROM arm WHERE variant = 1) AS n1,
            (SELECT n_converted FROM arm WHERE variant = 1) AS c1
    )
    SELECT n0 AS control_users, c0 AS control_conversions,
           n1 AS treatment_users, c1 AS treatment_conversions,
           CAST((1000000 * c1 * n0)
                // NULLIF(CAST(c0 AS BIGINT) * n1, 0)
                AS BIGINT) AS lift_micro,
           CASE WHEN (c0 + c1) > 0 AND (c0 + c1) < (n0 + n1)
                THEN CAST(round(
                    (CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
                    / sqrt(
                        (CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                        * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                        * (1.0 / n0 + 1.0 / n1)
                    ) * 1e6) AS BIGINT)
                ELSE NULL END AS z_micro
    FROM w
    """,
)
def events_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users split by a deterministic hash arm
    (user_id parity standing in for the bucketing hash), per-arm
    conversion counts, relative lift, and the pooled two-proportion
    z-statistic — the decision surface every experimentation platform
    computes. Lift is an exact integer micro ratio
    (c1·n0)/(c0·n1); the z-score is one double chain over four exact
    integers (identical expression text in both engines), rounded
    once to micro.

    Scale shape: one user-keyed conversion agg (the sessionize
    partitioning, map-side combined), a 2-row arm rollup, and scalar
    assembly — at 100 TB the cost is the per-user reduce the funnel
    queries already pay; nothing downstream scales with data. The
    deterministic arm assignment also makes the readout REPRODUCIBLE
    under replay, the property experiment pipelines audit for."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    assign = ev.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 17,
            1,
        )
        .otherwise(0)
        .alias("converted")
    ).withColumn("variant", (F.col("user_id") % 2).cast("int"))
    arm = assign.groupBy("variant").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
    )
    c = arm.filter(F.col("variant") == 0).select(
        F.col("n_users").alias("n0"), F.col("n_converted").alias("c0")
    )
    t = arm.filter(F.col("variant") == 1).select(
        F.col("n_users").alias("n1"), F.col("n_converted").alias("c1")
    )
    w = c.crossJoin(F.broadcast(t))
    pooled = (F.col("c0") + F.col("c1")).cast("double") / (
        F.col("n0") + F.col("n1")
    )
    z = (
        (
            F.col("c1").cast("double") / F.col("n1")
            - F.col("c0").cast("double") / F.col("n0")
        )
        / F.sqrt(
            pooled
            * (1 - pooled)
            * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
        )
    )
    # Degenerate-input guards (ANSI mode): zero control-arm conversions
    # make the lift denominator 0 (NULLIF → NULL lift), and a pooled
    # rate of exactly 0 or 1 zeroes the z denominator (NULL z). Both
    # conditions occur on legal data — sf0.001 has a zero-conversion
    # control arm — and the DuckDB oracle mirrors identical semantics.
    conv_total = F.col("c0") + F.col("c1")
    z_defined = (conv_total > 0) & (conv_total < F.col("n0") + F.col("n1"))
    return w.select(
        F.col("n0").alias("control_users"),
        F.col("c0").alias("control_conversions"),
        F.col("n1").alias("treatment_users"),
        F.col("c1").alias("treatment_conversions"),
        F.expr("(1000000 * c1 * n0) div nullif(c0 * n1, 0)")
        .cast("bigint")
        .alias("lift_micro"),
        F.when(z_defined, F.round(z * 1e6).cast("bigint"))
        .otherwise(F.lit(None).cast("bigint"))
        .alias("z_micro"),
    )


@register(
    "events_audience_overlap",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    tot AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n
        FROM ut GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_both
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_both,
           ta.n AS n_a, tb.n AS n_b,
           CAST((1000000 * p.n_both)
                // (ta.n + tb.n - p.n_both) AS BIGINT) AS jaccard_micro
    FROM pairs p
    JOIN tot ta ON ta.event_type = p.type_a
    JOIN tot tb ON tb.event_type = p.type_b
    """,
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every pair of event types, how many
    users do BOTH (intersection size + Jaccard in integer micros) —
    the segment-overlap table behind funnel design and campaign
    targeting ("are clickers and purchasers the same people?").

    Scale shape: ONE user-keyed distinct-type agg (the sessionize
    partitioning), then the pair expansion happens map-side per user
    over the ≤|types| sorted set (≤ |types|²/2 rows per user, |types|
    is single digits) into a (type_a, type_b) hash agg — the
    per-user-set explode beats a user-keyed self-join because the
    shuffle carries type-pair COUNTS, not user rows, after the
    map-side combine. Totals broadcast back; denominator arithmetic is
    exact BIGINT (the inclusion-exclusion union)."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    ts = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("ts")
    )
    pairs = (
        ts.select(
            F.explode(
                F.expr(
                    "flatten(transform(ts, (x, i) ->"
                    " transform(slice(ts, i + 2, size(ts)),"
                    "           y -> struct(x AS type_a, y AS type_b))))"
                )
            ).alias("p")
        )
        .select("p.type_a", "p.type_b")
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("n_both"))
    )
    tot = (
        ev.select("user_id", "event_type")
        .distinct()
        .groupBy("event_type")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    return (
        pairs.join(
            F.broadcast(tot.withColumnRenamed("event_type", "type_a")
                        .withColumnRenamed("n", "n_a")), "type_a")
        .join(
            F.broadcast(tot.withColumnRenamed("event_type", "type_b")
                        .withColumnRenamed("n", "n_b")), "type_b")
        .select(
            "type_a", "type_b", "n_both", "n_a", "n_b",
            F.expr("(1000000 * n_both) div (n_a + n_b - n_both)")
            .cast("bigint").alias("jaccard_micro"),
        )
    )


_PATH_LEN = 4  # leading events per user in the path signature
_PATH_TOP = 10


@register(
    "events_path_topk",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id,
               list(event_type ORDER BY ts, event_id) AS evs
        FROM events GROUP BY user_id
    ),
    paths AS (
        SELECT user_id,
               array_to_string(evs[1:{_PATH_LEN}], '>') AS path
        FROM ordered
    ),
    counted AS (
        SELECT path, CAST(count(*) AS BIGINT) AS n_users
        FROM paths GROUP BY path
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM paths)
    SELECT path, n_users,
           CAST((1000000 * n_users) // t AS BIGINT) AS share_micro
    FROM counted, tot
    ORDER BY n_users DESC, path LIMIT {_PATH_TOP}
    """,
)
def events_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: the first {n} events of every user collapsed
    to a path signature ("view>view>click>purchase"), ranked by user
    count with share-of-users in integer micros — the path-analysis
    view (Sankey input) that complements the FIRST-ORDER
    events_transition_matrix: transitions say which step follows
    which, paths say which WHOLE journeys dominate.

    Scale shape: one user-keyed ordered small-K collect (the
    SES/sessionize convention — per-user event counts are
    human-bounded, and only the first {n} survive the slice), a
    path-keyed hash agg whose shuffle carries one row per DISTINCT
    path, and a top-k TakeOrderedAndProject. No windows at
    all.""".replace("{n}", str(_PATH_LEN))
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    paths = ev.groupBy("user_id").agg(
        F.expr(
            "array_join(slice(transform(array_sort(collect_list("
            "  struct(ts, event_id, event_type))), s -> s.event_type),"
            f" 1, {_PATH_LEN}), '>')"
        ).alias("path")
    )
    counted = paths.groupBy("path").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    tot = paths.agg(F.count("*").cast("bigint").alias("t"))
    return (
        counted.crossJoin(F.broadcast(tot))
        .select(
            "path", "n_users",
            F.expr("(1000000 * n_users) div t").cast("bigint")
            .alias("share_micro"),
        )
        .orderBy(F.col("n_users").desc(), "path")
        .limit(_PATH_TOP)
    )


@register(
    "events_hll_mergeability",
    # The property that makes sketch-based distinct counts usable at
    # 100 TB is MERGEABILITY: per-partition (here per-day) sketches
    # unioned together must answer like one pass over everything —
    # that's what lets daily rollups serve "distinct users this
    # quarter" without rescanning. DuckDB has no compatible HLL
    # implementation, so the oracle checks the exact count plus the
    # two INVARIANTS (merge within 2% of single-pass, bounded error vs
    # exact) rather than the sketch bytes; both are deterministic for
    # fixed data — Spark's DataSketches HLL is order-insensitive. The
    # union is NOT bit-identical to one pass (measured at sf0.1:
    # merged 1488 vs whole 1499 vs exact 1500 — union promotes sketch
    # mode), hence a tolerance, not equality.
    oracle="""
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS merge_within_2pct,
           TRUE AS error_within_5pct
    FROM events
    """,
)
def events_hll_mergeability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-mergeability audit for distinct-user counting: per-day
    HLL sketches union-merged must estimate within 2% of the one
    whole-table sketch, and both within 5% of the exact count (default
    lgConfigK=12 → ~1.6% standard error). This is the
    approx-operator-QA pattern applied to the one aggregate everyone
    ships to dashboards.

    Scale shape: the daily sketch agg is map-side combined (sketch
    bytes per (day) flow through the shuffle, not user ids); the merge
    is a |days|-row agg. The exact count is the calibration baseline —
    at 100 TB you'd sample-audit it instead of running count(DISTINCT)
    corpus-wide."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("d")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_est")
    )
    whole = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("whole_est"),
        F.countDistinct("user_id").cast("bigint").alias("exact_users"),
    )
    return (
        whole.crossJoin(F.broadcast(merged))
        .select(
            "exact_users",
            (
                F.abs(F.col("merged_est") - F.col("whole_est")) * 50
                <= F.col("whole_est")
            ).alias("merge_within_2pct"),
            (
                F.greatest(
                    F.abs(F.col("merged_est") - F.col("exact_users")),
                    F.abs(F.col("whole_est") - F.col("exact_users")),
                ) * 20 <= F.col("exact_users")
            ).alias("error_within_5pct"),
        )
    )


_ACF_MAX_LAG = 12  # hourly series → half a day of lags


@register(
    "events_acf_lags",
    # Sample autocorrelation of the per-type HOURLY count series at
    # lags 1..12. Deviations are kept exact by scaling by n (the
    # series length): dev_t = n·x_t − S is BIGINT, so the numerator
    # Σ dev_t·dev_{t+k} and denominator Σ dev_t² are exact integers
    # on both engines (DECIMAL(38)/HUGEINT against overflow); the
    # single double division at the end is IEEE-identical.
    oracle=f"""
    WITH hourly AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    scal AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s
        FROM hourly GROUP BY event_type
    ),
    dev AS (
        SELECT h.event_type, h.h,
               CAST(sc.n * h.x - sc.s AS HUGEINT) AS dev
        FROM hourly h JOIN scal sc USING (event_type)
    ),
    den AS (
        SELECT event_type, sum(dev * dev) AS d
        FROM dev GROUP BY event_type
    ),
    num AS (
        SELECT a.event_type, l.lag,
               CAST(count(*) AS BIGINT) AS n_pairs,
               sum(a.dev * b.dev) AS nu
        FROM dev a
        JOIN generate_series(1, {_ACF_MAX_LAG}) AS l(lag) ON true
        JOIN dev b ON b.event_type = a.event_type
                  AND b.h = a.h + l.lag
        GROUP BY 1, 2
    )
    SELECT n.event_type, CAST(n.lag AS INT) AS lag, n.n_pairs,
           round(CAST(n.nu AS DOUBLE) / CAST(nullif(d.d, 0) AS DOUBLE), 6)
               AS acf
    FROM num n JOIN den d USING (event_type)
    """,
)
def events_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of each event type's hourly volume
    series at lags 1..12 h — the periodicity detector behind
    seasonality-aware anomaly alerts and forecast-model selection
    (a diurnal series shows the lag-12/24 signature; a level-shifted
    one decays slowly; white noise dies at lag 1). Deviations are
    exact integers via the scale-by-n trick (dev = n·x − Σx), so the
    numerator/denominator sums are exact on both engines and the one
    double division is bitwise-identical; zero-variance series emit
    NULL acf (NULLIF) rather than crashing under ANSI mode.

    Scale shape: the hourly rollup is the only corpus-scale agg
    (map-side partials into |types|·|hours| keys); the lag pairing is
    a self-equi-join of the calendar-bounded series on (type, h+k)
    with a 12-row broadcast lag relation — no per-event window, no
    global sort. Deviation products go through DECIMAL(38,0) (HUGEINT
    in the oracle), so a 1000× longer or denser series stays exact."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    hourly = ev.groupBy(
        "event_type",
        F.expr("floor(unix_timestamp(ts)) div 3600").alias("h"),
    ).agg(F.count("*").cast("long").alias("x"))
    scal = hourly.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    dev = hourly.join(F.broadcast(scal), "event_type").select(
        "event_type",
        "h",
        (F.col("n") * F.col("x") - F.col("s"))
        .cast("decimal(38,0)")
        .alias("dev"),
    )
    den = dev.groupBy("event_type").agg(
        F.sum(F.col("dev") * F.col("dev")).alias("d")
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    b = dev.select(
        F.col("event_type").alias("bt"),
        F.col("h").alias("bh"),
        F.col("dev").alias("bdev"),
    )
    num = (
        dev.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("bt") == F.col("event_type"))
            & (F.col("bh") == F.col("h") + F.col("lag")),
        )
        .groupBy("event_type", "lag")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(F.col("dev") * F.col("bdev")).alias("nu"),
        )
    )
    return num.join(F.broadcast(den), "event_type").select(
        "event_type",
        "lag",
        "n_pairs",
        F.round(
            F.col("nu").cast("double")
            / F.nullif(F.col("d"), F.lit(0)).cast("double"),
            6,
        ).alias("acf"),
    )


@register(
    "events_seasonal_decompose",
    # Classical additive decomposition of the per-type hourly series:
    # trend = centered 25-hour moving average (full windows only, via
    # an integer RANGE window over epoch-hours so calendar gaps count
    # as missing, not as neighbors); seasonal index per hour-of-day =
    # mean of the detrended residuals. Residuals are kept exact by
    # scaling by the window width: det = 25·x − Σ_window x is BIGINT.
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    win AS (
        SELECT event_type, h, x,
               sum(x) OVER w AS s25,
               count(*) OVER w AS c25
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY h
                     RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ),
    det AS (
        SELECT event_type, h % 24 AS hour_of_day,
               25 * x - s25 AS det25
        FROM win WHERE c25 = 25
    )
    SELECT event_type, CAST(hour_of_day AS INT) AS hour_of_day,
           CAST(count(*) AS BIGINT) AS n_windows,
           round(CAST(sum(det25) AS DOUBLE) / (25.0 * count(*)), 6)
               AS seasonal
    FROM det GROUP BY 1, 2
    """,
)
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of each event type's hourly
    volume: centered 25-hour moving-average trend, then the mean
    detrended residual per hour-of-day — the seasonal index that says
    "3 am is 40 events below trend, 8 pm is 60 above", the input both
    to seasonality-corrected alerting and to hour-aware capacity
    plans. Full trend windows only (25 present hours via an integer
    RANGE window over epoch-hours, so a calendar gap shrinks the
    window and disqualifies it instead of smearing neighbors in);
    residuals are exact BIGINT via the scale-by-width trick
    (25·x − Σ), one double division at the end.

    Scale shape: corpus-scale work is the single hourly rollup
    (map-side partials); the trend window runs per-type over the
    calendar-bounded series (RANGE frame, no global window), and the
    seasonal rollup is a 24·|types|-key agg."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    hourly = ev.groupBy(
        "event_type",
        F.expr("floor(unix_timestamp(ts)) div 3600").alias("h"),
    ).agg(F.count("*").cast("long").alias("x"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rangeBetween(-12, 12)
    )
    win = hourly.select(
        "event_type",
        "h",
        "x",
        F.sum("x").over(w).alias("s25"),
        F.count("*").over(w).alias("c25"),
    )
    det = win.filter(F.col("c25") == 25).select(
        "event_type",
        (F.col("h") % 24).cast("int").alias("hour_of_day"),
        (25 * F.col("x") - F.col("s25")).alias("det25"),
    )
    return det.groupBy("event_type", "hour_of_day").agg(
        F.count("*").cast("long").alias("n_windows"),
        F.round(
            F.sum("det25").cast("double") / (25.0 * F.count("*")), 6
        ).alias("seasonal"),
    )


@register(
    "events_theil_sen",
    # Theil–Sen robust trend of the per-type DAILY value series: the
    # median of all pairwise slopes (c_j − c_i)/(d_j − d_i). Cents and
    # epoch-days are exact integers, each slope is one double division
    # of exact ints (bitwise-identical cross-engine), and the median
    # of an even/odd set is the average of the two middle elements
    # under a total (slope, i, j) order — no interpolation ambiguity.
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS c
        FROM events GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.event_type,
               CAST(b.c - a.c AS DOUBLE) / (b.d - a.d) AS slope,
               a.d AS di, b.d AS dj
        FROM daily a JOIN daily b
          ON b.event_type = a.event_type AND b.d > a.d
    ),
    ranked AS (
        SELECT event_type, slope,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY slope, di, dj) AS r,
               count(*) OVER (PARTITION BY event_type) AS m
        FROM pairs
    )
    SELECT event_type, CAST(max(m) AS BIGINT) AS n_pairs,
           round(avg(slope), 6) AS sen_slope_cents_per_day
    FROM ranked
    WHERE r = (m + 1) // 2 OR r = (m + 2) // 2
    GROUP BY event_type
    """,
)
def events_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen estimator of each event type's daily-value trend: the
    median of all pairwise day-over-day slopes — the robust answer to
    "is spend going up" that a single whale day can't bend (OLS moves
    with every outlier; the pairwise median has a 29% breakdown
    point). Slopes are double quotients of exact integer cents/days;
    the median is the average of the two middle elements under a
    total (slope, day_i, day_j) order, so both engines pick the same
    rows.

    Scale shape: the daily rollup is the only corpus-scale agg; the
    pairwise join is over the CALENDAR-bounded per-type series (k
    days → k(k−1)/2 slope rows, ~400 for a month — never corpus-
    scale), and the rank window is partitioned by type over those
    same bounded rows. For multi-year series, swap the exact median
    for the repo's exact_global_ntile path."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "event_type",
        F.expr("floor(unix_timestamp(ts)) div 86400").alias("d"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("c")
    )
    b = daily.select(
        F.col("event_type").alias("bt"),
        F.col("d").alias("dj"),
        F.col("c").alias("cj"),
    )
    pairs = daily.join(
        b, (F.col("bt") == F.col("event_type")) & (F.col("dj") > F.col("d"))
    ).select(
        "event_type",
        ((F.col("cj") - F.col("c")).cast("double")
         / (F.col("dj") - F.col("d"))).alias("slope"),
        F.col("d").alias("di"),
        "dj",
    )
    wt = Window.partitionBy("event_type")
    ranked = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(wt.orderBy("slope", "di", "dj")).alias("r"),
        F.count("*").over(wt).alias("m"),
    )
    return (
        ranked.filter(
            (F.col("r") == F.expr("(m + 1) div 2"))
            | (F.col("r") == F.expr("(m + 2) div 2"))
        )
        .groupBy("event_type")
        .agg(
            F.max("m").cast("long").alias("n_pairs"),
            F.round(F.avg("slope"), 6).alias("sen_slope_cents_per_day"),
        )
    )


@register(
    "events_changepoint_binseg",
    # Single change-point per event type by binary segmentation on the
    # daily count series: the split k maximizing the variance-
    # reduction gain S_L²/n_L + S_R²/n_R − S²/n (constant terms drop
    # out of the L2 cost). Prefix sums are exact BIGINT; the gain is
    # three divisions of exact ints (identical doubles cross-engine);
    # argmax tie-breaks on the earliest split.
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    pre AS (
        SELECT event_type, d, x,
               row_number() OVER w AS t,
               sum(x) OVER (PARTITION BY event_type ORDER BY d
                            ROWS UNBOUNDED PRECEDING) AS sk,
               sum(x) OVER (PARTITION BY event_type) AS s,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY d)
    ),
    gains AS (
        SELECT event_type, d, t, n, sk, s,
               CAST(sk AS DOUBLE) * sk / t
                 + CAST(s - sk AS DOUBLE) * (s - sk) / (n - t)
                 - CAST(s AS DOUBLE) * s / n AS gain
        FROM pre WHERE t < n
    ),
    best AS (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY gain DESC, t) AS rk
        FROM gains
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           CAST(t AS BIGINT) AS split_index,
           CAST(d AS BIGINT) AS split_epoch_day,
           CAST(sk * 1000 // t AS BIGINT) AS mean_left_milli,
           CAST((s - sk) * 1000 // (n - t) AS BIGINT)
               AS mean_right_milli,
           round(gain, 6) AS gain
    FROM best WHERE rk = 1
    """,
)
def events_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation change-point detection on each event type's
    daily volume: the single split that most reduces the series' L2
    cost (equivalently maximizes S_L²/n_L + S_R²/n_R), with the
    before/after mean rates — CUSUM's "when did the level shift"
    question answered by global optimization instead of sequential
    alarm (CUSUM fires on the way up; binseg names the exact day).
    Prefix sums are exact BIGINT windows; the gain is computed from
    exact integers with the same three divisions on both engines, and
    the argmax tie-breaks on the earliest split, so the winner is
    deterministic.

    Scale shape: one corpus-scale daily rollup, then per-type windows
    over the calendar-bounded series (running sum + rank — no global
    window, no fold, no driver loop). At 100 TB the series is still
    |days| rows per type; recursing to multiple change points repeats
    the same bounded computation per segment."""
    from rust_cdc_spark.operators.stats import binseg_daily_finish

    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "event_type",
        F.expr("floor(unix_timestamp(ts)) div 86400").alias("d"),
    ).agg(F.count("*").cast("long").alias("x"))
    # Finishing plan shared with the streaming twin
    # (streaming/analytics.py): exact prefix sums + gain argmax over
    # the calendar-bounded daily table.
    return binseg_daily_finish(daily)


_ATTR_ITERS = 5
_ATTR_CHANNELS = ("click", "view", "error")
_ATTR_START, _ATTR_CONV = "signup", "purchase"


def _attr_iter_sql(sc: str, it: int, cond: str) -> str:
    prev = f"r{sc}{it - 1}"
    return f"""
    r{sc}{it} AS (
        SELECT ty.t,
               CASE WHEN ty.t = '{_ATTR_CONV}' THEN CAST(1000000 AS BIGINT)
                    ELSE CAST(coalesce(c.s, 0) AS BIGINT) END AS v
        FROM types ty LEFT JOIN (
            SELECT p.from_type AS t,
                   sum((x.v * p.pm) // 1000000) AS s
            FROM p JOIN {prev} x ON x.t = p.to_type
            WHERE {cond}
            GROUP BY p.from_type
        ) c ON c.t = ty.t
    )"""


def _attr_chain_sql(sc: str, cond: str) -> str:
    r0 = f"""
    r{sc}0 AS (
        SELECT t, CASE WHEN t = '{_ATTR_CONV}'
                       THEN CAST(1000000 AS BIGINT)
                       ELSE CAST(0 AS BIGINT) END AS v
        FROM types
    )"""
    iters = ",".join(
        _attr_iter_sql(sc, i + 1, cond) for i in range(_ATTR_ITERS)
    )
    return r0 + "," + iters


@register(
    "events_markov_attribution",
    # Markov removal-effect attribution (the data-driven alternative
    # to last-click): conversion reachability within 5 steps from the
    # signup state under the estimated transition matrix, re-computed
    # with each intermediate channel removed (its in/out edges
    # dropped, walks die). A channel's credit is the relative drop in
    # conversion reachability when it disappears. All probability
    # mass is integer micro-units with floored `div` per product —
    # the events_markov_stationary discipline — so all four finite-
    # horizon replays unroll as oracle CTE chains.
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    trans AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    ),
    rs AS (SELECT from_type, sum(n) AS tot FROM trans GROUP BY from_type),
    p AS (
        SELECT t.from_type, t.to_type,
               (1000000 * t.n) // r.tot AS pm
        FROM trans t JOIN rs r USING (from_type)
    ),
    types AS (
        SELECT DISTINCT from_type AS t FROM trans
        UNION SELECT DISTINCT to_type FROM trans
    ),
    {_attr_chain_sql("b", "true")},
    {",".join(
        _attr_chain_sql(
            f"c{i}",
            f"p.to_type <> '{c}' AND p.from_type <> '{c}'",
        )
        for i, c in enumerate(_ATTR_CHANNELS)
    )},
    base AS (
        SELECT v AS base_micro FROM rb{_ATTR_ITERS}
        WHERE t = '{_ATTR_START}'
    )
    {" UNION ALL ".join(
        f'''SELECT '{c}' AS channel,
               b.base_micro,
               x.v AS without_micro,
               CAST((b.base_micro - x.v) * 1000000
                    // nullif(b.base_micro, 0) AS BIGINT)
                   AS removal_effect_micro
        FROM base b LEFT JOIN rc{i}{_ATTR_ITERS} x
          ON x.t = '{_ATTR_START}' '''
        for i, c in enumerate(_ATTR_CHANNELS)
    )}
    """,
)
def events_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov (removal-effect) channel attribution — the data-driven
    multi-touch model: estimate the user-journey transition matrix,
    compute the probability of reaching the conversion state within 5
    steps from signup, then knock each intermediate channel out of
    the graph and measure how much reachability drops. A channel that
    merely sits on already-converting paths gets little credit; one
    that bridges otherwise-dead paths gets much — the correction
    last-click attribution can't make. Same integer micro-unit
    replay discipline as events_markov_stationary, so the oracle
    re-runs all four finite-horizon absorptions as unrolled CTEs.

    Scale shape: ONE user-partitioned lag window over the corpus
    builds transitions (the shuffle sessionization already pays);
    everything after runs on the |types|²-row matrix — the corpus is
    scanned once. The 4 absorption replays (base + 3 knockouts) run as
    ONE scenario-keyed expression fold: the edge matrix is tagged with
    a 4-row scenario relation, each scenario's edges collapse to one
    array cell, and the 5 finite-horizon iterations advance a
    per-scenario state vector as chained codegen projections — zero
    joins/exchanges in the loop (r9: was 4 chains × 5 iterations of
    model-scale join+agg stages, ~3.9 s of stage scheduling at sf0.1
    for arithmetic on ≤ 4·|types|² integers; now 1.35 s, same values
    at 3 SFs — guide §1.2 step 1, don't launch distributed stages for
    constant-size state)."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = pin(
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))  # |types|²; frees the corpus lineage
    )
    rs = trans.groupBy("from_type").agg(F.sum("n").alias("tot"))
    p = trans.join(rs, "from_type").select(
        "from_type",
        "to_type",
        F.expr("(1000000 * n) div tot").alias("pm"),
    )
    types = pin(
        trans.select(F.col("from_type").alias("t"))
        .union(trans.select(F.col("to_type").alias("t")))
        .distinct()
    )

    # 4-row scenario relation: 'b' keeps every edge; 'c<i>' knocks
    # channel i's in/out edges. Tagging the edge matrix once and
    # advancing all four state vectors through a SINGLE 5-iteration
    # chain replaces the 4 independent absorb() chains (same joins,
    # same per-scenario integer arithmetic, quarter the stages).
    scen = spark.range(1).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("b").alias("sc"),
                    F.lit(None).cast("string").alias("excl"),
                ),
                *[
                    F.struct(
                        F.lit(f"c{i}").alias("sc"),
                        F.lit(c).alias("excl"),
                    )
                    for i, c in enumerate(_ATTR_CHANNELS)
                ],
            )
        ).alias("s")
    ).select("s.sc", "s.excl")
    p_all = (
        p.crossJoin(F.broadcast(scen))
        .filter(
            F.col("excl").isNull()
            | (
                (F.col("to_type") != F.col("excl"))
                & (F.col("from_type") != F.col("excl"))
            )
        )
        .select("sc", "from_type", "to_type", "pm")
    )
    # Each scenario's edge list collapses to ONE array cell, and the
    # whole finite-horizon absorption runs as a codegen expression fold
    # over those 4 rows — the KM-fold discipline. The DataFrame-join
    # formulation paid ~10 exchange/broadcast stage round-trips for
    # arithmetic on ≤ 4·|types|² values; here the loop is 5 chained
    # projections (vmap per step keeps lookups O(1) per edge), zero
    # shuffles after the edge aggregation. Per-edge integer math is
    # unchanged: term = (v[to]·pm) div 1e6, summed per from_type.
    edges4 = scen.select("sc").join(
        p_all.groupBy("sc").agg(
            F.collect_list(
                F.struct("from_type", "to_type", "pm")
            ).alias("edges")
        ),
        "sc",
        "left",
    )
    tarr = types.agg(F.collect_list("t").alias("tarr"))
    st = edges4.crossJoin(F.broadcast(tarr)).withColumn(
        "varr",
        F.transform(
            F.col("tarr"),
            lambda t: F.struct(
                t.alias("t"),
                F.when(t == _ATTR_CONV, F.lit(1_000_000).cast("long"))
                .otherwise(F.lit(0).cast("long"))
                .alias("v"),
            ),
        ),
    )

    def exact_div(a: Column, b: Column) -> Column:
        # BIGINT `div` for the non-negative operands here: (a − a%b) is
        # an exact multiple of b and ≤ 1e12 (< 2^53), so the one double
        # division is exact (correctly-rounded IEEE of a representable
        # quotient) — bit-identical to the SQL `div` the oracle replays.
        return ((a - a % b) / b).cast("long")

    for _ in range(_ATTR_ITERS):
        st = st.withColumn("vmap", F.map_from_entries(F.col("varr")))
        st = st.withColumn(
            "varr",
            F.transform(
                F.col("tarr"),
                lambda t: F.struct(
                    t.alias("t"),
                    F.when(
                        t == _ATTR_CONV, F.lit(1_000_000).cast("long")
                    )
                    .otherwise(
                        F.coalesce(
                            F.aggregate(
                                F.filter(
                                    F.col("edges"),
                                    lambda e: e["from_type"] == t,
                                ),
                                F.lit(0).cast("long"),
                                lambda acc, e: acc
                                + exact_div(
                                    F.element_at(
                                        F.col("vmap"), e["to_type"]
                                    )
                                    * e["pm"],
                                    F.lit(1_000_000).cast("long"),
                                ),
                            ),
                            F.lit(0).cast("long"),
                        )
                    )
                    .alias("v"),
                ),
            ),
        )
    # 4 rows → one (scenario → start-state value) map → the 3 output
    # rows, all in one linear plan (no per-channel agg/crossJoin fan).
    scmap = st.select(
        "sc",
        F.element_at(
            F.map_from_entries(F.col("varr")), F.lit(_ATTR_START)
        ).alias("v"),
    ).agg(
        F.map_from_entries(F.collect_list(F.struct("sc", "v"))).alias("m")
    )
    chan = F.array(
        *[
            F.struct(F.lit(c).alias("channel"), F.lit(f"c{i}").alias("sc"))
            for i, c in enumerate(_ATTR_CHANNELS)
        ]
    )
    return (
        scmap.select(F.col("m"), F.explode(chan).alias("ch"))
        .select(
            F.col("ch.channel").alias("channel"),
            F.element_at(F.col("m"), F.lit("b")).alias("base_micro"),
            F.element_at(F.col("m"), F.col("ch.sc")).alias(
                "without_micro"
            ),
        )
        .select(
            "channel",
            "base_micro",
            "without_micro",
            F.expr(
                "(base_micro - without_micro) * 1000000"
                " div nullif(base_micro, 0)"
            ).cast("long").alias("removal_effect_micro"),
        )
    )


# --- events_survival_km ----------------------------------------------------
# Both sides derive the day as integer micros — `epoch_us(ts) //
# 86400000000` (DuckDB) ↔ `unix_micros(cast(ts as timestamp)) div
# 86400000000` (Spark) — with no float and no date/TZ cast, so either
# engine's mapping of the naive parquet timestamp yields the same day.
# The oracle CASTs n_risk to BIGINT: DuckDB's sum(BIGINT) widens to
# HUGEINT, and a type-sensitive value hash then splits the engines on
# identical values.
#
# Oracle fold: step i computes the exact integer recurrence
# s_i = (s_{i-1} * (n_i - d_i)) // n_i off a scalar subquery on step
# i-1. row_number() makes ranks contiguous, so step i is empty exactly
# when the histogram has < i rows and the union reassembles the whole
# curve. Every CTE is AS MATERIALIZED (DuckDB ≥0.9): plain CTEs are
# inlined, so each of the 64 steps would re-run the events scan, and a
# 64-step chain would re-bind the whole prefix per step and trip
# DuckDB's binder recursion limit (128). 64 steps bounds the DISTINCT
# duration-day count — the corpus calendar span (17 at sf0.1; span,
# not size); a >64-day histogram would drop rows and fail rows_match
# loudly rather than silently diverge.
_KM_STEPS = 64


def _km_chain_sql(steps: int = _KM_STEPS) -> str:
    ctes = []
    for i in range(1, steps + 1):
        prev = (
            "CAST(1000000 AS BIGINT)"
            if i == 1
            else f"(SELECT surv_micro FROM k{i - 1})"
        )
        ctes.append(
            f"k{i} AS MATERIALIZED (SELECT t, d, c, n_risk,"
            f" CAST(({prev} * (n_risk - d)) // n_risk AS BIGINT)"
            f" AS surv_micro FROM ranked WHERE i = {i})"
        )
    union = " UNION ALL ".join(
        f"SELECT * FROM k{i}" for i in range(1, steps + 1)
    )
    return (
        ",\n    ".join(ctes)
        + "\n    SELECT t AS days_to_failure, n_risk, d AS n_failures,"
        + f" c AS n_censored, surv_micro FROM ({union}) AS km"
    )


@register(
    "events_survival_km",
    # Kaplan–Meier time-to-first-failure curve: per user, days from
    # first event to first 'error' (right-censored at the last
    # observed day when no error occurs). Per failure day t: at-risk
    # count (reverse-cumulative over the duration histogram), deaths,
    # censored, and the KM survival Π(1 − dᵢ/nᵢ) in micro-units via
    # the EXACT integer recurrence s ← (s·(n−d)) // n starting from
    # 10⁶ — zero floats anywhere. The oracle's sequential fold is
    # unrolled into chained CTEs (no WITH RECURSIVE), see above.
    oracle=f"""
    WITH u AS MATERIALIZED (
        SELECT user_id,
               min(epoch_us(ts) // 86400000000) AS first_d,
               min(CASE WHEN event_type = 'error'
                        THEN epoch_us(ts) // 86400000000 END) AS err_d,
               max(epoch_us(ts) // 86400000000) AS last_d
        FROM events GROUP BY user_id
    ),
    obs AS MATERIALIZED (
        SELECT user_id,
               CASE WHEN err_d IS NOT NULL THEN err_d - first_d
                    ELSE last_d - first_d END AS t,
               CASE WHEN err_d IS NOT NULL THEN 1 ELSE 0 END AS died
        FROM u
    ),
    hist AS MATERIALIZED (
        SELECT t, CAST(sum(died) AS BIGINT) AS d,
               CAST(count(*) - sum(died) AS BIGINT) AS c
        FROM obs GROUP BY t
    ),
    ranked AS MATERIALIZED (
        SELECT t, d, c,
               CAST(sum(d + c) OVER (ORDER BY t DESC
                                     ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS n_risk,
               row_number() OVER (ORDER BY t) AS i
        FROM hist
    ),
    {_km_chain_sql()}
    """,
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival analysis of time-to-first-failure: days
    from each user's first event to their first 'error', with users
    who never error right-censored at their last observed day — the
    churn/reliability curve that naive "average time to failure" gets
    wrong by treating still-healthy users as failures-at-today.
    Censoring is exactly what KM exists for. The KM product Π(1−d/n)
    is carried as an exact integer recurrence in micro-units,
    s ← (s·(n−d)) div n from s₀ = 10⁶, folded over the day histogram
    in t-order — every intermediate is a BIGINT, both engines floor
    identically, and a day where everyone at risk fails drives s to 0
    with no sentinel.

    Scale shape: ONE user-keyed agg collapses the corpus to
    durations, and one more agg to the duration HISTOGRAM (bounded by
    the observation span in days, not by users). A single global agg
    collects that histogram with its total n, and ONE ``aggregate()``
    pass over it carries (n_remaining, surv, out): each day emits
    n_risk = n_remaining and the updated surv, then subtracts d + c.
    No window, so nothing funnels through an unpartitioned sort."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    # cast(.. as timestamp) pins NTZ→LTZ through the UTC session so the
    # micros equal the stored naive-UTC value under either parquet
    # timestamp inference.
    day = "unix_micros(cast(ts as timestamp)) div 86400000000"
    u = ev.groupBy("user_id").agg(
        F.expr(f"min({day})").alias("first_d"),
        F.expr(
            f"min(CASE WHEN event_type = 'error' THEN {day} END)"
        ).alias("err_d"),
        F.expr(f"max({day})").alias("last_d"),
    )
    died = F.col("err_d").isNotNull()
    hist = u.select(
        F.when(died, F.col("err_d") - F.col("first_d"))
        .otherwise(F.col("last_d") - F.col("first_d"))
        .alias("t"),
        F.when(died, 1).otherwise(0).alias("died"),
    ).groupBy("t").agg(
        F.sum("died").cast("long").alias("d"),
        (F.count("*") - F.sum("died")).cast("long").alias("c"),
    )
    days = hist.agg(
        F.array_sort(F.collect_list(F.struct("t", "d", "c"))).alias("days"),
        F.sum(F.col("d") + F.col("c")).alias("n"),
    )
    surv = "(acc.s * (acc.n - e.d)) div acc.n"
    return days.select(F.inline(F.expr(f"""
        aggregate(
            days,
            named_struct(
                'n', n, 's', CAST(1000000 AS BIGINT),
                'out', CAST(array() AS array<struct<
                    days_to_failure: bigint, n_risk: bigint,
                    n_failures: bigint, n_censored: bigint,
                    surv_micro: bigint>>)),
            (acc, e) -> named_struct(
                'n', acc.n - e.d - e.c,
                's', {surv},
                'out', concat(acc.out, array(named_struct(
                    'days_to_failure', e.t, 'n_risk', acc.n,
                    'n_failures', e.d, 'n_censored', e.c,
                    'surv_micro', {surv})))),
            acc -> acc.out)
    """)))


@register(
    "events_entropy_rate",
    # Entropy rate of the user-behavior Markov chain: H = −Σ_i π_i
    # Σ_j p_ij ln p_ij with π from the same fixed-iteration power
    # replay as events_markov_stationary. Every probability is an
    # integer micro-unit, ln is quantized once per matrix cell, and
    # the triple products sum in HUGEINT/DECIMAL(38) with ONE final
    # floored division — fully exact cross-engine.
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    trans AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    ),
    rs AS (SELECT from_type, sum(n) AS tot FROM trans GROUP BY from_type),
    p AS (
        SELECT t.from_type, t.to_type,
               (1000000 * t.n) // r.tot AS pm
        FROM trans t JOIN rs r USING (from_type)
    ),
    types AS (
        SELECT DISTINCT from_type AS t FROM trans
        UNION SELECT DISTINCT to_type FROM trans
    ),
    ntypes AS (SELECT count(*) AS k FROM types),
    pi0 AS (SELECT t, CAST(1000000 // k AS BIGINT) AS v
            FROM types CROSS JOIN ntypes),
    {",".join(_mk_iter_sql(f"pi{i}", i + 1) for i in range(_MK_ITERS))},
    cell AS (
        SELECT p.from_type, p.to_type, p.pm, x.v,
               CAST(round(1e6 * ln(CAST(p.pm AS DOUBLE) / 1000000))
                    AS BIGINT) AS lnp_micro
        FROM p JOIN pi{_MK_ITERS} x ON x.t = p.from_type
        WHERE p.pm > 0
    )
    SELECT CAST((SELECT k FROM ntypes) AS BIGINT) AS n_states,
           CAST(-(sum(CAST(v AS HUGEINT) * pm * lnp_micro)
                  // 1000000000000) AS BIGINT) AS entropy_rate_micro,
           CAST(round(1e6 * ln((SELECT k FROM ntypes))) AS BIGINT)
               AS max_entropy_micro
    FROM cell
    """,
)
def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the user-behavior Markov chain — the single
    number that says how PREDICTABLE journeys are: H = −Σ π_i p_ij
    ln p_ij, weighted by the replayed stationary distribution, with
    ln(k) alongside as the no-structure ceiling (H near ln k = users
    wander uniformly; near 0 = deterministic funnels — and the
    difference is what a next-event model can hope to exploit). Both
    distributions are integer micro-units from fixed-iteration
    replays, ln is quantized once per matrix cell, and the π·p·ln p
    triple products accumulate in DECIMAL(38)/HUGEINT with one final
    floored division — the whole statistic is value-exact.

    Scale shape: the one corpus-scale stage is the user-partitioned
    lag window (shared with sessionization); everything downstream —
    power iterations, matrix cells, the final 1-row reduction — runs
    on the |types|²-row model."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = pin(
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))
    )
    rs = trans.groupBy("from_type").agg(F.sum("n").alias("tot"))
    p = trans.join(rs, "from_type").select(
        "from_type",
        "to_type",
        F.expr("(1000000 * n) div tot").alias("pm"),
    )
    types = (
        trans.select(F.col("from_type").alias("t"))
        .union(trans.select(F.col("to_type").alias("t")))
        .distinct()
    )
    k = types.agg(F.count("*").alias("k"))
    pi = types.crossJoin(F.broadcast(k)).select(
        "t", F.expr("1000000 div k").cast("long").alias("v")
    )
    for _ in range(_MK_ITERS):
        contrib = (
            p.join(F.broadcast(pi.withColumnRenamed("t", "from_type")),
                   "from_type")
            .select(
                F.col("to_type").alias("t"),
                F.expr("(v * pm) div 1000000").alias("term"),
            )
            .groupBy("t")
            .agg(F.sum("term").alias("s"))
        )
        pi = types.join(contrib, "t", "left").select(
            "t", F.coalesce(F.col("s"), F.lit(0)).cast("long").alias("v")
        )
    cell = (
        p.filter(F.col("pm") > 0)
        .join(F.broadcast(pi.withColumnRenamed("t", "from_type")),
              "from_type")
        .select(
            "pm",
            "v",
            F.round(
                1e6 * F.log(F.col("pm").cast("double") / 1_000_000)
            ).cast("long").alias("lnp_micro"),
        )
    )
    return (
        cell.agg(
            F.expr(
                "-(sum(CAST(v AS DECIMAL(38,0)) * pm * lnp_micro)"
                " div 1000000000000)"
            ).cast("long").alias("entropy_rate_micro")
        )
        .crossJoin(F.broadcast(k))
        .select(
            F.col("k").cast("long").alias("n_states"),
            "entropy_rate_micro",
            F.round(1e6 * F.log(F.col("k").cast("double")))
            .cast("long")
            .alias("max_entropy_micro"),
        )
    )


@register(
    "events_hourly_concurrency",
    # Active-session concurrency per hour: sessions are 30-min-gap
    # user activity spans (the events_sessionize rule); a session is
    # live in hour h if its [start, end] span intersects the hour.
    # The intersection runs as a band join against the CALENDAR-sized
    # hour table (broadcast), never session×session.
    oracle="""
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         > INTERVAL '30 minutes'
                    OR lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    s AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM g
    ),
    sess AS (
        SELECT user_id, sid,
               CAST(floor(epoch(min(ts))) AS BIGINT) AS s_start,
               CAST(floor(epoch(max(ts))) AS BIGINT) AS s_end
        FROM s GROUP BY user_id, sid
    ),
    hours AS (
        SELECT DISTINCT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h
        FROM events
    )
    SELECT h.h AS hour_bucket,
           CAST(count(*) AS BIGINT) AS n_active_sessions,
           CAST(count(DISTINCT s.user_id) AS BIGINT) AS n_active_users
    FROM hours h JOIN sess s
      ON s.s_start < (h.h + 1) * 3600 AND s.s_end >= h.h * 3600
    GROUP BY h.h
    """,
)
def events_hourly_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-session load profile: per hour, how many 30-min-gap
    sessions (and distinct users) were live at any point in that hour
    — the capacity-planning curve behind connection pools, executor
    counts, and autoscaling floors, computed from span intersection
    rather than event counts (a quiet-but-open session still holds a
    connection). Sessions reuse the exact sessionization rule of
    events_sessionize, so the two queries agree by construction.

    Scale shape: the session rollup is the user-partitioned
    window + agg sessionization already pays; the hour intersection
    is a band join against the broadcast CALENDAR-bounded hour table
    (each session matches its ~span/3600 hours — linear in true
    occupancy), then one hour-keyed agg. No session×session work, no
    global window."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    g = ev.select(
        "user_id",
        "ts",
        F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0)
        .alias("new_session"),
    )
    ws = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = g.select(
        "user_id", "ts", F.sum("new_session").over(ws).alias("sid")
    )
    sess = s.groupBy("user_id", "sid").agg(
        F.expr("floor(unix_timestamp(min(ts)))").cast("long")
        .alias("s_start"),
        F.expr("floor(unix_timestamp(max(ts)))").cast("long")
        .alias("s_end"),
    )
    hours = ev.select(
        F.expr("floor(unix_timestamp(ts)) div 3600").alias("h")
    ).distinct()
    return (
        sess.join(
            F.broadcast(hours),
            (F.col("s_start") < (F.col("h") + 1) * 3600)
            & (F.col("s_end") >= F.col("h") * 3600),
        )
        .groupBy(F.col("h").alias("hour_bucket"))
        .agg(
            F.count("*").cast("long").alias("n_active_sessions"),
            F.countDistinct("user_id").cast("long")
            .alias("n_active_users"),
        )
    )


_SRA_K = 4  # flag beyond 4·MAD of the seasonal residual


@register(
    "events_anomaly_seasonal_resid",
    # Seasonality-corrected anomaly detection — the composition the
    # decomposition exists for: residual = 25·x − Σ_window x − 25·
    # seasonal (exact ×25-scaled integers via the seasonal-decompose
    # pipeline), then a MAD gate on the residuals per type. Flags
    # hours that are anomalous FOR THEIR HOUR-OF-DAY, which a plain
    # mean±k·MAD on raw counts cannot do (3 am is always "low").
    oracle=f"""
    WITH hourly AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    win AS (
        SELECT event_type, h, x,
               sum(x) OVER w AS s25, count(*) OVER w AS c25
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY h
                     RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ),
    det AS (
        SELECT event_type, h, h % 24 AS hod,
               25 * x - s25 AS det25
        FROM win WHERE c25 = 25
    ),
    seas AS (
        SELECT event_type, hod,
               CAST(sum(det25) // count(*) AS BIGINT) AS seas25
        FROM det GROUP BY event_type, hod
    ),
    resid AS (
        SELECT d.event_type, d.h, d.det25 - s.seas25 AS r
        FROM det d JOIN seas s
          ON s.event_type = d.event_type AND s.hod = d.hod
    ),
    stats AS (
        SELECT event_type,
               CAST(sum(abs(r)) // count(*) AS BIGINT) AS mad25
        FROM resid GROUP BY event_type
    )
    SELECT r.event_type, r.h AS hour_bucket,
           CAST(r.r AS BIGINT) AS resid25,
           s.mad25
    FROM resid r JOIN stats s USING (event_type)
    WHERE abs(r.r) > {_SRA_K} * s.mad25
    """,
)
def events_anomaly_seasonal_resid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly gate: hours whose volume deviates
    more than 4 MADs from what trend + hour-of-day seasonality
    predict — the alert events_seasonal_decompose exists to enable
    (a raw mean±MAD gate pages on every 3 am trough; this one knows
    3 am is supposed to be low and fires only when the DEVIATION
    from the seasonal shape is extreme). The whole chain — centered
    25-hour trend, seasonal index, residual, MAD — stays in ×25-
    scaled exact integers (floored divisions only), so the flagged
    set is engine-deterministic with no float epsilon at the
    threshold.

    Scale shape: the hourly rollup is the single corpus-scale agg;
    the trend window, seasonal join, and MAD stats all run per-type
    over the calendar-bounded series; stats broadcast back for a
    map-side verdict; only anomalies are emitted."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    hourly = ev.groupBy(
        "event_type",
        F.expr("floor(unix_timestamp(ts)) div 3600").alias("h"),
    ).agg(F.count("*").cast("long").alias("x"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rangeBetween(-12, 12)
    )
    det = (
        hourly.select(
            "event_type", "h", "x",
            F.sum("x").over(w).alias("s25"),
            F.count("*").over(w).alias("c25"),
        )
        .filter(F.col("c25") == 25)
        .select(
            "event_type", "h",
            (F.col("h") % 24).alias("hod"),
            (25 * F.col("x") - F.col("s25")).alias("det25"),
        )
    )
    seas = det.groupBy("event_type", "hod").agg(
        F.expr("sum(det25) div count(*)").cast("long").alias("seas25")
    )
    resid = det.join(F.broadcast(seas), ["event_type", "hod"]).select(
        "event_type", "h", (F.col("det25") - F.col("seas25")).alias("r")
    )
    stats = resid.groupBy("event_type").agg(
        F.expr("sum(abs(r)) div count(*)").cast("long").alias("mad25")
    )
    return (
        resid.join(F.broadcast(stats), "event_type")
        .filter(F.abs(F.col("r")) > _SRA_K * F.col("mad25"))
        .select(
            "event_type",
            F.col("h").alias("hour_bucket"),
            F.col("r").cast("long").alias("resid25"),
            "mad25",
        )
    )


_UPL_SEG = (20, 40)  # activity segment boundaries (events per user)


@register(
    "events_uplift_by_segment",
    # Heterogeneous treatment effect: the A/B readout of
    # events_ab_test_lift re-run inside deterministic user-activity
    # segments — where an aggregate null hides offsetting segment
    # effects, this table shows them. Same arms (user_id parity),
    # same conversion rule, same NULL discipline on degenerate arms.
    oracle=f"""
    WITH assign AS (
        SELECT user_id, CAST(user_id % 2 AS INT) AS variant,
               CASE WHEN count(*) < {_UPL_SEG[0]} THEN 'low'
                    WHEN count(*) < {_UPL_SEG[1]} THEN 'mid'
                    ELSE 'high' END AS segment,
               CASE WHEN sum(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) >= 17
                    THEN 1 ELSE 0 END AS converted
        FROM events GROUP BY user_id
    ),
    arm AS (
        SELECT segment, variant,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(converted) AS BIGINT) AS n_conv
        FROM assign GROUP BY segment, variant
    ),
    wide AS (
        SELECT segment,
               CAST(coalesce(max(CASE WHEN variant = 0 THEN n_users END), 0) AS BIGINT) AS n0,
               CAST(coalesce(max(CASE WHEN variant = 0 THEN n_conv END), 0) AS BIGINT) AS c0,
               CAST(coalesce(max(CASE WHEN variant = 1 THEN n_users END), 0) AS BIGINT) AS n1,
               CAST(coalesce(max(CASE WHEN variant = 1 THEN n_conv END), 0) AS BIGINT) AS c1
        FROM arm GROUP BY segment
    )
    SELECT segment, n0 AS control_users, c0 AS control_conversions,
           n1 AS treatment_users, c1 AS treatment_conversions,
           CAST((1000000 * c1 * n0) // NULLIF(c0 * n1, 0) AS BIGINT)
               AS lift_micro,
           CASE WHEN n0 > 0 AND n1 > 0
                     AND (c0 + c1) > 0 AND (c0 + c1) < (n0 + n1)
                THEN CAST(round(
                    (CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
                    / sqrt(
                        (CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                        * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                        * (1.0 / n0 + 1.0 / n1)
                    ) * 1e6) AS BIGINT)
                ELSE NULL END AS z_micro
    FROM wide
    """,
)
def events_uplift_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous treatment effect readout: the A/B lift and
    two-proportion z-statistic computed WITHIN user-activity segments
    (low/mid/high by event count) — the table that catches what the
    aggregate readout (events_ab_test_lift) averages away: a feature
    that helps casual users and hurts power users can net to zero
    overall while both segment effects are real. Identical arm
    assignment, conversion rule, exact-integer lift, and degenerate-
    arm NULL discipline as the aggregate query, so the two readouts
    reconcile by construction.

    Scale shape: ONE user-keyed agg assigns segment, arm, and
    conversion in the same pass; the per-(segment, arm) rollup is a
    6-key agg pivoted to one row per segment. Nothing but aggregates."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    assign = ev.groupBy("user_id").agg(
        (F.count("*") < _UPL_SEG[0]).alias("is_low"),
        (F.count("*") < _UPL_SEG[1]).alias("is_midlow"),
        (
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 17
        ).cast("int").alias("converted"),
    ).select(
        (F.col("user_id") % 2).cast("int").alias("variant"),
        F.when(F.col("is_low"), "low")
        .when(F.col("is_midlow"), "mid")
        .otherwise("high")
        .alias("segment"),
        "converted",
    )
    arm = assign.groupBy("segment", "variant").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_conv"),
    )
    wide = arm.groupBy("segment").agg(
        F.coalesce(
            F.max(F.when(F.col("variant") == 0, F.col("n_users"))),
            F.lit(0),
        ).cast("long").alias("n0"),
        F.coalesce(
            F.max(F.when(F.col("variant") == 0, F.col("n_conv"))),
            F.lit(0),
        ).cast("long").alias("c0"),
        F.coalesce(
            F.max(F.when(F.col("variant") == 1, F.col("n_users"))),
            F.lit(0),
        ).cast("long").alias("n1"),
        F.coalesce(
            F.max(F.when(F.col("variant") == 1, F.col("n_conv"))),
            F.lit(0),
        ).cast("long").alias("c1"),
    )
    p_pool = F.col("c0").cast("double") + F.col("c1")
    n_pool = F.col("n0").cast("double") + F.col("n1")
    z_ok = (
        (F.col("n0") > 0)
        & (F.col("n1") > 0)
        & (F.col("c0") + F.col("c1") > 0)
        & (F.col("c0") + F.col("c1") < F.col("n0") + F.col("n1"))
    )
    return wide.select(
        "segment",
        F.col("n0").alias("control_users"),
        F.col("c0").alias("control_conversions"),
        F.col("n1").alias("treatment_users"),
        F.col("c1").alias("treatment_conversions"),
        F.expr("(1000000 * c1 * n0) div nullif(c0 * n1, 0)")
        .cast("long").alias("lift_micro"),
        F.when(
            z_ok,
            F.round(
                (
                    F.col("c1").cast("double") / F.col("n1")
                    - F.col("c0").cast("double") / F.col("n0")
                )
                / F.sqrt(
                    (p_pool / n_pool)
                    * (1 - p_pool / n_pool)
                    * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
                )
                * 1e6
            ).cast("long"),
        ).alias("z_micro"),
    )


_HAAR_LEVELS = 6  # dyadic scales: 2h, 4h, ..., 64h


@register(
    "events_haar_energy",
    # Multi-resolution burst profile via the Haar wavelet transform
    # of the hourly count series: at scale level L (bucket width
    # 2^L hours), each detail coefficient is (left-half sum − right-
    # half sum) of a dyadic bucket — pure integer conditional aggs on
    # the bucket index, no windows, no recursion. Energy per level =
    # Σ d², exact in HUGEINT/DECIMAL(38). Level energies localize
    # WHERE variance lives: diurnal series spike at the 16-32h
    # scales, flash incidents at 2-4h.
    oracle=f"""
    WITH hourly AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    lv AS (
        SELECT l.lvl, h.event_type,
               h.h // (1 << l.lvl) AS bucket,
               CAST(sum(CASE WHEN (h.h // (1 << (l.lvl - 1))) % 2 = 0
                             THEN h.x ELSE -h.x END) AS BIGINT) AS d
        FROM hourly h
        JOIN generate_series(1, {_HAAR_LEVELS}) AS l(lvl) ON true
        GROUP BY 1, 2, 3
    )
    SELECT event_type, CAST(lvl AS INT) AS level,
           CAST(count(*) AS BIGINT) AS n_coeffs,
           CAST(sum(CAST(d AS HUGEINT) * d) AS BIGINT) AS energy
    FROM lv GROUP BY event_type, lvl
    """,
)
def events_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet energy spectrum of each event type's hourly
    volume: for dyadic scales 2h..64h, the sum of squared detail
    coefficients (left-half minus right-half of each bucket) — the
    multi-resolution answer to "at WHAT timescale does this stream's
    variance live": a clean diurnal cycle concentrates energy at the
    16-32h levels, a flash incident at 2-4h, a weekly cadence above.
    Complements the ACF (which finds periods) by localizing burst
    energy per scale. Every coefficient is an exact integer sum with
    a sign decided by dyadic index arithmetic; energies square into
    wide decimals.

    Scale shape: the hourly rollup is the only corpus-scale agg; the
    6-level explode is a broadcast cross join on the calendar-bounded
    series, and each level is ONE hash aggregate keyed on (type,
    level, bucket). No windows, no recursion, no per-level re-scan of
    the corpus."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    hourly = ev.groupBy(
        "event_type",
        F.expr("floor(unix_timestamp(ts)) div 3600").alias("h"),
    ).agg(F.count("*").cast("long").alias("x"))
    lvls = spark.range(1, _HAAR_LEVELS + 1).select(
        F.col("id").cast("int").alias("lvl")
    )
    lv = (
        hourly.crossJoin(F.broadcast(lvls))
        .groupBy(
            "lvl",
            "event_type",
            F.expr("h div (1 << lvl)").alias("bucket"),
        )
        .agg(
            F.sum(
                F.when(
                    F.expr("(h div (1 << (lvl - 1))) % 2 = 0"),
                    F.col("x"),
                ).otherwise(-F.col("x"))
            ).cast("long").alias("d")
        )
    )
    return lv.groupBy(
        "event_type", F.col("lvl").alias("level")
    ).agg(
        F.count("*").cast("long").alias("n_coeffs"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d"))
        .cast("long")
        .alias("energy"),
    )


_DID_SPLIT_DAY = 19738  # fixed intervention day (mid-window epoch day)


@register(
    "events_cohort_did",
    # Difference-in-differences: the 2×2 (arm × pre/post) mean daily
    # spend per user-day, and DiD = (T_post − T_pre) − (C_post −
    # C_pre) — the quasi-experimental estimate that differences away
    # both the level gap between arms and the shared time trend.
    # Cell means are exact floored micro-cents per user-day; the DiD
    # combines the four integers.
    oracle=f"""
    WITH ud AS (
        SELECT CAST(user_id % 2 AS INT) AS variant,
               CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) // 86400
                         < {_DID_SPLIT_DAY} THEN 0 ELSE 1 END AS period,
               user_id,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    cell AS (
        SELECT variant, period,
               CAST(count(DISTINCT (user_id, d)) AS BIGINT)
                   AS n_user_days,
               CAST(sum(cents) AS BIGINT) AS cents
        FROM ud GROUP BY variant, period
    ),
    m AS (
        SELECT variant, period, n_user_days,
               CAST(cents * 1000000 // n_user_days AS BIGINT)
                   AS mean_micro
        FROM cell
    ),
    wide AS (
        SELECT
            max(CASE WHEN variant = 0 AND period = 0 THEN mean_micro END) AS c_pre,
            max(CASE WHEN variant = 0 AND period = 1 THEN mean_micro END) AS c_post,
            max(CASE WHEN variant = 1 AND period = 0 THEN mean_micro END) AS t_pre,
            max(CASE WHEN variant = 1 AND period = 1 THEN mean_micro END) AS t_post
        FROM m
    )
    SELECT CAST(c_pre AS BIGINT) AS control_pre_micro,
           CAST(c_post AS BIGINT) AS control_post_micro,
           CAST(t_pre AS BIGINT) AS treatment_pre_micro,
           CAST(t_post AS BIGINT) AS treatment_post_micro,
           CAST((t_post - t_pre) - (c_post - c_pre) AS BIGINT)
               AS did_micro
    FROM wide
    """,
)
def events_cohort_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout: mean spend per user-day in
    the four (arm × pre/post-intervention) cells and the DiD estimate
    (treatment change minus control change) — the quasi-experimental
    workhorse for launches that can't be A/B randomized cleanly: the
    control arm's post−pre difference absorbs the shared time trend
    (seasonality, macro shifts) that a naive before/after comparison
    attributes to the launch. Cell means are exact floored
    micro-cents per user-day; the estimate is pure integer
    arithmetic over the four cells; an empty cell yields NULL rather
    than a fabricated zero.

    Scale shape: one scan → (arm, period)-keyed agg with a distinct
    (user, day) count (map-side partials), a 4-row pivot, and scalar
    assembly. Nothing else."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    ud = ev.select(
        (F.col("user_id") % 2).cast("int").alias("variant"),
        F.when(
            F.expr("floor(unix_timestamp(ts)) div 86400")
            < _DID_SPLIT_DAY,
            0,
        ).otherwise(1).alias("period"),
        "user_id",
        F.expr("floor(unix_timestamp(ts)) div 86400").alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    cell = ud.groupBy("variant", "period").agg(
        F.countDistinct("user_id", "d").cast("long").alias("n_user_days"),
        F.sum("cents").cast("long").alias("cents"),
    )
    m = cell.select(
        "variant",
        "period",
        F.expr("cents * 1000000 div n_user_days").cast("long")
        .alias("mean_micro"),
    )
    wide = m.agg(
        F.max(
            F.when((F.col("variant") == 0) & (F.col("period") == 0),
                   F.col("mean_micro"))
        ).alias("c_pre"),
        F.max(
            F.when((F.col("variant") == 0) & (F.col("period") == 1),
                   F.col("mean_micro"))
        ).alias("c_post"),
        F.max(
            F.when((F.col("variant") == 1) & (F.col("period") == 0),
                   F.col("mean_micro"))
        ).alias("t_pre"),
        F.max(
            F.when((F.col("variant") == 1) & (F.col("period") == 1),
                   F.col("mean_micro"))
        ).alias("t_post"),
    )
    return wide.select(
        F.col("c_pre").cast("long").alias("control_pre_micro"),
        F.col("c_post").cast("long").alias("control_post_micro"),
        F.col("t_pre").cast("long").alias("treatment_pre_micro"),
        F.col("t_post").cast("long").alias("treatment_post_micro"),
        (
            (F.col("t_post") - F.col("t_pre"))
            - (F.col("c_post") - F.col("c_pre"))
        ).cast("long").alias("did_micro"),
    )


@register(
    "events_poisson_dispersion",
    # Overdispersion test of daily volumes: the index of dispersion
    # D = var/mean and the chi-square dispersion statistic
    # Σ(x − x̄)²/x̄ = (n·Σx² − S²)/(n·S) per event type — a Poisson
    # arrival process has D ≈ 1; D ≫ 1 is burstiness (retry storms,
    # bot bursts, thundering herds). Exact rational arithmetic: both
    # ratios are integer expressions over BIGINT moments, floored to
    # micro units, with wide-decimal numerators.
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    m AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s,
               CAST(sum(x * x) AS BIGINT) AS ss
        FROM daily GROUP BY event_type
    )
    SELECT event_type, n AS n_days, s AS n_events,
           CAST((CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s)
                * 1000000
                // nullif(CAST(n AS HUGEINT) * n * s, 0) AS BIGINT)
               AS dispersion_micro,
           CAST((CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s)
                * 1000000
                // nullif(CAST(n AS HUGEINT) * s, 0) AS BIGINT)
               AS chi2_micro
    FROM m
    """,
)
def events_poisson_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson overdispersion audit of each event type's daily
    volume: the index of dispersion (variance over mean — exactly 1
    for a Poisson process) and the chi-square dispersion statistic
    Σ(x−x̄)²/x̄ — the one-line answer to "are these arrivals
    independent or bursty", which decides whether rate alerts can use
    Poisson tails or need the MAD/CUSUM machinery. Both statistics
    reduce to integer expressions over the (n, Σx, Σx²) moments —
    var/mean = (nΣx² − S²)/(n·S) with population variance — computed
    in HUGEINT/DECIMAL(38) and floored once to micro units.

    Scale shape: one daily rollup (map-side partials), one
    |types|-keyed moment agg. Nothing else."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "event_type",
        F.expr("floor(unix_timestamp(ts)) div 86400").alias("d"),
    ).agg(F.count("*").cast("long").alias("x"))
    m = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("ss"),
    )
    num = (
        "(CAST(n AS DECIMAL(38,0)) * ss - CAST(s AS DECIMAL(38,0)) * s)"
    )
    return m.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("s").alias("n_events"),
        F.expr(
            f"{num} * 1000000"
            " div nullif(CAST(n AS DECIMAL(38,0)) * n * s, 0)"
        ).cast("long").alias("dispersion_micro"),
        F.expr(
            f"{num} * 1000000"
            " div nullif(CAST(n AS DECIMAL(38,0)) * s, 0)"
        ).cast("long").alias("chi2_micro"),
    )


@register(
    "events_gap_exponential_ks",
    # Goodness-of-fit of the exponential inter-arrival model, per
    # event type: KS distance between the empirical gap CDF and
    # 1 − e^(−λg) at the fitted rate λ = n/Σg. The theoretical CDF
    # is ONE double expression per DISTINCT gap value (quantized to
    # micro once); the empirical CDF is exact floored ppm over the
    # gap-value histogram; the KS sup runs both one-sided gaps
    # (F_n(g) and F_n(g⁻)) like the quality_ks_drift two-sample gate.
    oracle="""
    WITH seq AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS es,
               lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
               ) AS prev_es
        FROM events
    ),
    gaps AS (
        SELECT event_type, es - prev_es AS g
        FROM seq WHERE prev_es IS NOT NULL
    ),
    scal AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(g) AS BIGINT) AS sg
        FROM gaps GROUP BY event_type
    ),
    hist AS (
        SELECT event_type, g, CAST(count(*) AS BIGINT) AS c
        FROM gaps GROUP BY event_type, g
    ),
    cdf AS (
        SELECT h.event_type, h.g, h.c, s.n, s.sg,
               sum(h.c) OVER (PARTITION BY h.event_type ORDER BY h.g
                              ROWS UNBOUNDED PRECEDING) AS cum
        FROM hist h JOIN scal s USING (event_type)
    ),
    d AS (
        SELECT event_type, n, sg,
               greatest(
                   abs(cum * 1000000 // n
                       - CAST(round(1e6 * (1 - exp(-1.0 * n * g / sg)))
                              AS BIGINT)),
                   abs((cum - c) * 1000000 // n
                       - CAST(round(1e6 * (1 - exp(-1.0 * n * g / sg)))
                              AS BIGINT))
               ) AS dev
        FROM cdf WHERE sg > 0
    )
    SELECT event_type, CAST(max(n) AS BIGINT) AS n_gaps,
           CAST(max(sg) // max(n) AS BIGINT) AS mean_gap_s,
           CAST(max(dev) AS BIGINT) AS ks_micro
    FROM d GROUP BY event_type
    """,
)
def events_gap_exponential_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-fit audit of inter-arrival gaps, per event type:
    fit the memoryless rate λ = n/Σg and report the Kolmogorov–
    Smirnov distance between the observed gap distribution and
    1 − e^(−λg) — the formal version of the Poisson-dispersion
    check: a small KS certifies memoryless arrivals (Poisson-tail
    alerting is valid), a large one quantifies how far burstiness
    bends the tail. The theoretical CDF is evaluated once per
    DISTINCT gap value and quantized to micro units; the empirical
    CDF is exact floored ppm; the sup runs over both one-sided CDF
    gaps like the repo's two-sample KS gate.

    Scale shape: one type-partitioned lag window (the sessionization
    shuffle), a gap-VALUE histogram agg, and per-type cumulative
    windows over those bounded value rows; the sup is a |types|-keyed
    max."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    es = F.expr("floor(unix_timestamp(ts))").cast("long")
    seq = ev.select(
        "event_type", es.alias("es"), F.lag(es).over(w).alias("prev_es")
    )
    gaps = seq.filter(F.col("prev_es").isNotNull()).select(
        "event_type", (F.col("es") - F.col("prev_es")).alias("g")
    )
    scal = gaps.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("g").cast("long").alias("sg"),
    )
    hist = gaps.groupBy("event_type", "g").agg(
        F.count("*").cast("long").alias("c")
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("g")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cdf = hist.join(F.broadcast(scal), "event_type").select(
        "event_type", "g", "c", "n", "sg",
        F.sum("c").over(wc).alias("cum"),
    )
    tcdf = F.round(
        1e6
        * (
            1
            - F.exp(
                -1.0 * F.col("n") * F.col("g") / F.col("sg")
            )
        )
    ).cast("long")
    d = cdf.filter(F.col("sg") > 0).select(
        "event_type", "n", "sg",
        F.greatest(
            F.abs(F.expr("cum * 1000000 div n") - tcdf),
            F.abs(F.expr("(cum - c) * 1000000 div n") - tcdf),
        ).alias("dev"),
    )
    return d.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_gaps"),
        F.expr("max(sg) div max(n)").cast("long").alias("mean_gap_s"),
        F.max("dev").cast("long").alias("ks_micro"),
    )


@register(
    "events_retention_halflife",
    # Exponential decay fit to the weekly retention curve: pooled
    # cohort retention r_k at week offset k ≥ 1, integer OLS of
    # milli-quantized ln(r_k) on k (the text_zipf_slope discipline),
    # and the implied half-life ln2 / |slope|. One ln per (bounded)
    # curve point, all moments exact BIGINT, two floored divisions.
    oracle="""
    WITH u AS (
        SELECT user_id,
               CAST(min(floor(epoch(ts))) AS BIGINT) // 604800 AS cw
        FROM events GROUP BY user_id
    ),
    act AS (
        SELECT DISTINCT e.user_id,
               CAST(floor(epoch(e.ts)) AS BIGINT) // 604800 AS w
        FROM events e
    ),
    ret AS (
        SELECT a.w - u.cw AS k,
               CAST(count(DISTINCT a.user_id) AS BIGINT) AS active
        FROM act a JOIN u ON u.user_id = a.user_id
        GROUP BY a.w - u.cw
    ),
    base AS (SELECT CAST(count(*) AS BIGINT) AS cohort FROM u),
    pts AS (
        SELECT CAST(k AS BIGINT) AS x,
               CAST(round(1000.0 * ln(CAST(active AS DOUBLE) / cohort))
                    AS BIGINT) AS y
        FROM ret CROSS JOIN base
        WHERE k >= 1 AND active > 0
    ),
    mom AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM pts
    )
    SELECT m AS n_weeks,
           CAST((1000000 * (m * sxy - sx * sy))
                // nullif(1000 * (m * sxx - sx * sx), 0) AS BIGINT)
               AS decay_per_week_micro,
           CAST(-693147 * (m * sxx - sx * sx)
                // nullif(m * sxy - sx * sy, 0) // 1000 AS BIGINT)
               AS halflife_milli_weeks
    FROM mom
    """,
)
def events_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention half-life: fit an exponential decay to the pooled
    weekly retention curve (fraction of the user base active k weeks
    after their first event) and report the weekly decay rate and the
    implied half-life — the single number product teams quote from
    the retention triangle that events_retention_cohorts tabulates.
    Same integer-OLS discipline as text_zipf_slope: each curve point
    spends one milli-quantized ln, every moment is exact BIGINT, and
    both outputs are floored integer divisions (ln 2 enters as the
    constant 693147 micro-nats) — NULL on a flat or single-point
    curve.

    Scale shape: one user-keyed first-week agg, one distinct
    (user, week) activity agg, a week-offset-keyed rollup (calendar-
    bounded), and a 1-row moment reduction."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    u = ev.groupBy("user_id").agg(
        F.expr("min(floor(unix_timestamp(ts))) div 604800").alias("cw")
    )
    act = ev.select(
        "user_id",
        F.expr("floor(unix_timestamp(ts)) div 604800").alias("w"),
    ).distinct()
    ret = (
        act.join(u, "user_id")
        .groupBy((F.col("w") - F.col("cw")).alias("k"))
        .agg(F.countDistinct("user_id").cast("long").alias("active"))
    )
    base = u.agg(F.count("*").cast("long").alias("cohort"))
    pts = (
        ret.crossJoin(F.broadcast(base))
        .filter((F.col("k") >= 1) & (F.col("active") > 0))
        .select(
            F.col("k").cast("long").alias("x"),
            F.round(
                1000.0
                * F.log(
                    F.col("active").cast("double") / F.col("cohort")
                )
            ).cast("long").alias("y"),
        )
    )
    mom = pts.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    return mom.select(
        F.col("m").alias("n_weeks"),
        F.expr(
            "(1000000 * (m * sxy - sx * sy))"
            " div nullif(1000 * (m * sxx - sx * sx), 0)"
        ).cast("long").alias("decay_per_week_micro"),
        F.expr(
            "-693147 * (m * sxx - sx * sx)"
            " div nullif(m * sxy - sx * sy, 0) div 1000"
        ).cast("long").alias("halflife_milli_weeks"),
    )


@register(
    "events_new_vs_returning",
    # Daily new-vs-returning decomposition: per day, events and
    # distinct users split by whether the user's FIRST-ever event is
    # that day — the growth-accounting view (is traffic growth new
    # acquisition or deepening engagement?). First-day assignment is
    # one user-keyed min; everything is exact integers with a
    # floored-ppm new-user share.
    oracle="""
    WITH fd AS (
        SELECT user_id,
               CAST(min(floor(epoch(ts))) AS BIGINT) // 86400 AS first_d
        FROM events GROUP BY user_id
    ),
    e AS (
        SELECT e.user_id,
               CAST(floor(epoch(e.ts)) AS BIGINT) // 86400 AS d,
               CASE WHEN CAST(floor(epoch(e.ts)) AS BIGINT) // 86400
                         = f.first_d THEN 1 ELSE 0 END AS is_new
        FROM events e JOIN fd f ON f.user_id = e.user_id
    )
    SELECT d AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(is_new) AS BIGINT) AS n_new_user_events,
           CAST(count(DISTINCT CASE WHEN is_new = 1 THEN user_id END)
                AS BIGINT) AS n_new_users,
           CAST(count(DISTINCT CASE WHEN is_new = 0 THEN user_id END)
                AS BIGINT) AS n_returning_users,
           CAST(count(DISTINCT CASE WHEN is_new = 1 THEN user_id END)
                * 1000000
                // nullif(count(DISTINCT user_id), 0) AS BIGINT)
               AS new_share_micro
    FROM e GROUP BY d
    """,
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: each day's events and distinct users split
    into NEW (first-ever activity that day) versus RETURNING — the
    decomposition that tells acquisition-driven growth from
    engagement-driven growth, and the denominator sanity check for
    every retention claim. First-seen days come from one user-keyed
    min; shares are floored ppm of exact distinct counts.

    Scale shape: a user-keyed min agg, a broadcast-able join back
    (user-scale side), and ONE day-keyed agg with conditional
    distinct counts. No windows."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    fd = ev.groupBy("user_id").agg(
        F.expr("min(floor(unix_timestamp(ts))) div 86400")
        .alias("first_d")
    )
    e = ev.join(fd, "user_id").select(
        "user_id",
        F.expr("floor(unix_timestamp(ts)) div 86400").alias("d"),
        (
            F.expr("floor(unix_timestamp(ts)) div 86400")
            == F.col("first_d")
        ).cast("int").alias("is_new"),
    )
    return e.groupBy(F.col("d").alias("day")).agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("is_new").cast("long").alias("n_new_user_events"),
        F.countDistinct(
            F.when(F.col("is_new") == 1, F.col("user_id"))
        ).cast("long").alias("n_new_users"),
        F.countDistinct(
            F.when(F.col("is_new") == 0, F.col("user_id"))
        ).cast("long").alias("n_returning_users"),
        F.expr(
            "count(DISTINCT CASE WHEN is_new = 1 THEN user_id END)"
            " * 1000000 div nullif(count(DISTINCT user_id), 0)"
        ).cast("long").alias("new_share_micro"),
    )


@register(
    "events_sequential_pattern_support",
    # Gapped sequential-pattern support (the PrefixSpan length-2
    # core): for every ordered event-type pair (a, b), how many users
    # exhibit an a BEFORE a b (any gap), and the lift of that support
    # over the independence expectation n_a·n_b/n. Existence of a
    # gapped occurrence reduces to first(a) < last(b), so the whole
    # mine is one (user, type) min/max agg and a model-scale pair
    # join — no per-sequence scan, no pattern-growth recursion.
    oracle="""
    WITH ut AS (
        SELECT user_id, event_type,
               CAST(min(floor(epoch(ts)) * 1000000 + event_id % 1000000)
                    AS BIGINT) AS first_k,
               CAST(max(floor(epoch(ts)) * 1000000 + event_id % 1000000)
                    AS BIGINT) AS last_k
        FROM events GROUP BY user_id, event_type
    ),
    n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
          FROM ut),
    tu AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS nt
        FROM ut GROUP BY event_type
    ),
    sup AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS support_users
        FROM ut a JOIN ut b
          ON b.user_id = a.user_id
         AND b.event_type <> a.event_type
         AND a.first_k < b.last_k
        GROUP BY 1, 2
    )
    SELECT s.type_a, s.type_b, s.support_users,
           ta.nt AS n_users_a, tb.nt AS n_users_b,
           CAST(s.support_users * n.n_users * 1000000
                // nullif(ta.nt * tb.nt, 0) AS BIGINT) AS lift_micro
    FROM sup s
    JOIN tu ta ON ta.event_type = s.type_a
    JOIN tu tb ON tb.event_type = s.type_b
    CROSS JOIN n
    """,
)
def events_sequential_pattern_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining, length-2 gapped core: for each
    ordered event-type pair, the number of users who perform an `a`
    at some point BEFORE a `b` (any gap — the PrefixSpan pattern
    definition, not adjacent bigrams), with lift against the
    independence expectation — "view before purchase" at lift ≫ 1 is
    a real behavioral sequence, lift ≈ 1 is co-presence. Existence of
    a gapped occurrence is exactly first(a) < last(b), so support
    needs only per-(user, type) first/last keys (epoch·10⁶ + event_id
    for total order) — the insight that turns pattern mining into two
    aggregates. The adjacent-step view is events_transition_matrix;
    this is its any-gap complement.

    Scale shape: ONE (user, type)-keyed min/max agg (map-side
    partials), a per-user type-pair self-join bounded by |types|² per
    user, a pair-keyed rollup, and broadcast singles. No sequence
    replay, no windows."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    k = F.expr(
        "CAST(floor(unix_timestamp(ts)) * 1000000"
        " + event_id % 1000000 AS BIGINT)"
    )
    ut = ev.groupBy("user_id", "event_type").agg(
        F.min(k).alias("first_k"), F.max(k).alias("last_k")
    )
    n = ut.agg(
        F.countDistinct("user_id").cast("long").alias("n_users")
    )
    tu = ut.groupBy("event_type").agg(
        F.count("*").cast("long").alias("nt")
    )
    b = ut.select(
        F.col("user_id").alias("ub"),
        F.col("event_type").alias("type_b"),
        F.col("last_k").alias("last_kb"),
    )
    sup = (
        ut.join(
            b,
            (F.col("ub") == F.col("user_id"))
            & (F.col("type_b") != F.col("event_type"))
            & (F.col("first_k") < F.col("last_kb")),
        )
        .groupBy(
            F.col("event_type").alias("type_a"), "type_b"
        )
        .agg(F.count("*").cast("long").alias("support_users"))
    )
    return (
        sup.join(
            F.broadcast(
                tu.select(
                    F.col("event_type").alias("type_a"),
                    F.col("nt").alias("n_users_a"),
                )
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                tu.select(
                    F.col("event_type").alias("type_b"),
                    F.col("nt").alias("n_users_b"),
                )
            ),
            "type_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            "support_users",
            "n_users_a",
            "n_users_b",
            F.expr(
                "support_users * n_users * 1000000"
                " div nullif(n_users_a * n_users_b, 0)"
            ).cast("long").alias("lift_micro"),
        )
    )


_XC_MAX_LAG = 6  # daily cross-correlation lags −6..+6
_XC_A, _XC_B = "click", "purchase"


@register(
    "events_crosscorr_lead_lag",
    # Lead–lag cross-correlation between the click and purchase DAILY
    # series at lags −6..+6: positive-lag peaks mean clicks LEAD
    # purchases by that many days (the planning horizon for campaign
    # → revenue attribution). Same exactness recipe as the ACF:
    # scale-by-n integer deviations per series, DECIMAL(38)/HUGEINT
    # product sums, one IEEE-identical double division per lag.
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
               CAST(count(*) AS BIGINT) AS x
        FROM events
        WHERE event_type IN ('{_XC_A}', '{_XC_B}')
        GROUP BY 1, 2
    ),
    scal AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s
        FROM daily GROUP BY event_type
    ),
    dev AS (
        SELECT d.event_type, d.d,
               CAST(sc.n * d.x - sc.s AS HUGEINT) AS dev
        FROM daily d JOIN scal sc USING (event_type)
    ),
    dena AS (
        SELECT sum(dev * dev) AS da FROM dev
        WHERE event_type = '{_XC_A}'
    ),
    denb AS (
        SELECT sum(dev * dev) AS db FROM dev
        WHERE event_type = '{_XC_B}'
    ),
    num AS (
        SELECT l.lag, CAST(count(*) AS BIGINT) AS n_pairs,
               sum(a.dev * b.dev) AS nu
        FROM dev a
        JOIN generate_series(-{_XC_MAX_LAG}, {_XC_MAX_LAG}) AS l(lag)
          ON true
        JOIN dev b ON b.event_type = '{_XC_B}'
                  AND b.d = a.d + l.lag
        WHERE a.event_type = '{_XC_A}'
        GROUP BY l.lag
    )
    SELECT CAST(n.lag AS INT) AS lag_days, n.n_pairs,
           round(CAST(n.nu AS DOUBLE)
                 / nullif(sqrt(CAST(da.da AS DOUBLE)
                               * CAST(db.db AS DOUBLE)), 0), 6)
               AS crosscorr
    FROM num n CROSS JOIN dena da CROSS JOIN denb db
    """,
)
def events_crosscorr_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead–lag cross-correlation between click and purchase daily
    volumes at lags −6..+6 days — the "does marketing activity lead
    revenue, and by how many days" diagnostic that the ACF
    (within-series) cannot answer: a peak at +2 says click volume
    predicts purchase volume two days out, the input to budget-timing
    and attribution-window choices. The ACF's exactness recipe
    applies unchanged: deviations are exact integers via scale-by-n,
    product sums run in wide decimals, and the single normalizing
    division is IEEE-identical cross-engine; zero-variance series
    yield NULL.

    Scale shape: one filtered daily rollup (two types only —
    predicate pushed to the scan), calendar-bounded deviation tables,
    a 13-row broadcast lag relation, and scalar denominators. No
    corpus-scale joins."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    daily = (
        ev.filter(F.col("event_type").isin(_XC_A, _XC_B))
        .groupBy(
            "event_type",
            F.expr("floor(unix_timestamp(ts)) div 86400").alias("d"),
        )
        .agg(F.count("*").cast("long").alias("x"))
    )
    scal = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    dev = pin(daily.join(F.broadcast(scal), "event_type").select(
        "event_type",
        "d",
        (F.col("n") * F.col("x") - F.col("s"))
        .cast("decimal(38,0)")
        .alias("dev"),
    ))
    dena = dev.filter(F.col("event_type") == _XC_A).agg(
        F.sum(F.col("dev") * F.col("dev")).alias("da")
    )
    denb = dev.filter(F.col("event_type") == _XC_B).agg(
        F.sum(F.col("dev") * F.col("dev")).alias("db")
    )
    lags = spark.range(-_XC_MAX_LAG, _XC_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    b = dev.filter(F.col("event_type") == _XC_B).select(
        F.col("d").alias("bd"), F.col("dev").alias("bdev")
    )
    num = (
        dev.filter(F.col("event_type") == _XC_A)
        .crossJoin(F.broadcast(lags))
        .join(b, F.col("bd") == F.col("d") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(F.col("dev") * F.col("bdev")).alias("nu"),
        )
    )
    return (
        num.crossJoin(F.broadcast(dena))
        .crossJoin(F.broadcast(denb))
        .select(
            F.col("lag").alias("lag_days"),
            "n_pairs",
            F.round(
                F.col("nu").cast("double")
                / F.nullif(
                    F.sqrt(
                        F.col("da").cast("double")
                        * F.col("db").cast("double")
                    ),
                    F.lit(0.0),
                ),
                6,
            ).alias("crosscorr"),
        )
    )


_ATTR_WINDOWS_H = (1, 6, 24, 168)  # attribution windows (hours)


@register(
    "events_conversion_window_sensitivity",
    # KPI sensitivity to the attribution window: signup → purchase
    # conversion measured at 1h/6h/24h/7d windows from each user's
    # FIRST signup — if the rate still climbs between 24h and 7d the
    # window is truncating real conversions; if it plateaus at 6h a
    # tight (cheap) window suffices. One user-keyed agg computes the
    # first signup and first subsequent purchase; each window is a
    # conditional count over the same two columns.
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               CAST(min(CASE WHEN event_type = 'signup'
                        THEN floor(epoch(ts)) END) AS BIGINT) AS s0
        FROM events GROUP BY user_id
    ),
    p AS (
        SELECT e.user_id,
               CAST(min(floor(epoch(e.ts))) AS BIGINT) AS p0
        FROM events e JOIN u ON u.user_id = e.user_id
        WHERE e.event_type = 'purchase'
          AND floor(epoch(e.ts)) >= u.s0
        GROUP BY e.user_id
    ),
    j AS (
        SELECT u.user_id, u.s0, p.p0
        FROM u LEFT JOIN p ON p.user_id = u.user_id
        WHERE u.s0 IS NOT NULL
    )
    {" UNION ALL ".join(f'''
    SELECT {h} AS window_hours,
           CAST(count(*) AS BIGINT) AS n_signup_users,
           CAST(count(CASE WHEN p0 IS NOT NULL
                           AND p0 - s0 <= {h} * 3600 THEN 1 END)
                AS BIGINT) AS n_converted,
           CAST(count(CASE WHEN p0 IS NOT NULL
                           AND p0 - s0 <= {h} * 3600 THEN 1 END)
                * 1000000 // nullif(count(*), 0) AS BIGINT)
               AS conversion_micro
    FROM j''' for h in _ATTR_WINDOWS_H)}
    """,
)
def events_conversion_window_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Attribution-window sensitivity of the signup → purchase
    conversion KPI: the same conversion rate measured at 1 h, 6 h,
    24 h, and 7 d windows from each user's first signup — the curve
    that says whether the reported number is an artifact of the
    window (still climbing at 7 d = truncation; flat after 6 h = a
    tight window is safe and the pipeline can drop a week of
    late-event state). One user-keyed pass derives first signup and
    first subsequent purchase; every window is a conditional count
    over those two integers, so the four rows reconcile with each
    other and with the funnel queries by construction.

    Scale shape: two user-keyed aggs (signup min, post-signup
    purchase min) joined user-scale, then a 4-row stack of scalar
    counts. No windows, no re-scans per window width."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    es = F.expr("floor(unix_timestamp(ts))").cast("long")
    u = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", es)
        ).alias("s0")
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", es.alias("pe"))
        .join(u, "user_id")
        .filter(F.col("pe") >= F.col("s0"))
        .groupBy("user_id")
        .agg(F.min("pe").alias("p0"))
    )
    j = pin(
        u.filter(F.col("s0").isNotNull())
        .join(p, "user_id", "left")
        .select("s0", "p0")  # four window counts reuse one tiny frame
    )
    out = None
    for h in _ATTR_WINDOWS_H:
        conv = F.col("p0").isNotNull() & (
            F.col("p0") - F.col("s0") <= h * 3600
        )
        row = j.agg(
            F.lit(h).alias("window_hours"),
            F.count("*").cast("long").alias("n_signup_users"),
            F.count(F.when(conv, 1)).cast("long").alias("n_converted"),
            F.expr(
                f"count(CASE WHEN p0 IS NOT NULL"
                f" AND p0 - s0 <= {h} * 3600 THEN 1 END)"
                " * 1000000 div nullif(count(*), 0)"
            ).cast("long").alias("conversion_micro"),
        )
        out = row if out is None else out.unionAll(row)
    return out


@register(
    "events_growth_accounting",
    # Weekly growth accounting (the standard user-state ledger): each
    # active (user, week) is NEW (first week), RETAINED (also active
    # the prior week) or RESURRECTED (active before, but not last
    # week); CHURNED counts last week's actives who vanished. The
    # quick ratio (new + resurrected) / churned is the one-number
    # health gauge. States come from one distinct activity table
    # joined to itself at lag 1 and to first-weeks — all exact.
    oracle="""
    WITH aw AS (
        SELECT DISTINCT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS w
        FROM events
    ),
    fw AS (
        SELECT user_id, min(w) AS first_w FROM aw GROUP BY user_id
    ),
    state AS (
        SELECT a.w, a.user_id,
               CASE WHEN f.first_w = a.w THEN 'new'
                    WHEN p.user_id IS NOT NULL THEN 'retained'
                    ELSE 'resurrected' END AS st
        FROM aw a
        JOIN fw f ON f.user_id = a.user_id
        LEFT JOIN aw p ON p.user_id = a.user_id AND p.w = a.w - 1
    ),
    churn AS (
        SELECT p.w + 1 AS w, CAST(count(*) AS BIGINT) AS n_churned
        FROM aw p LEFT JOIN aw c
          ON c.user_id = p.user_id AND c.w = p.w + 1
        WHERE c.user_id IS NULL
        GROUP BY p.w + 1
    ),
    wk AS (
        SELECT w,
               CAST(count(CASE WHEN st = 'new' THEN 1 END) AS BIGINT)
                   AS n_new,
               CAST(count(CASE WHEN st = 'retained' THEN 1 END)
                    AS BIGINT) AS n_retained,
               CAST(count(CASE WHEN st = 'resurrected' THEN 1 END)
                    AS BIGINT) AS n_resurrected
        FROM state GROUP BY w
    )
    SELECT wk.w AS week,
           wk.n_new, wk.n_retained, wk.n_resurrected,
           CAST(coalesce(ch.n_churned, 0) AS BIGINT) AS n_churned,
           CAST((wk.n_new + wk.n_resurrected) * 1000000
                // nullif(ch.n_churned, 0) AS BIGINT)
               AS quick_ratio_micro
    FROM wk LEFT JOIN churn ch ON ch.w = wk.w
    """,
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting — the user-state ledger every growth
    team keeps: actives decomposed into new / retained / resurrected,
    churn measured as last week's actives who vanished, and the quick
    ratio (new + resurrected per churned) that summarizes whether the
    top of the funnel outruns the leak. Composes with
    events_new_vs_returning (daily view) and
    events_retention_halflife (decay fit) into the full growth
    toolkit. All states are exact set operations on the distinct
    (user, week) activity table; the ratio is floored ppm with NULL
    on zero churn.

    Scale shape: ONE distinct (user, week) agg; states come from two
    self-equi-joins at lag 1 plus a first-week join — all user-scale
    hash joins co-keyed on user_id; the ledger is a |weeks|-keyed
    agg."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    aw = pin(ev.select(
        "user_id",
        F.expr("floor(unix_timestamp(ts)) div 604800").alias("w"),
    ).distinct())  # three joins reuse it
    fw = aw.groupBy("user_id").agg(F.min("w").alias("first_w"))
    p = aw.select(
        F.col("user_id").alias("pu"), (F.col("w") + 1).alias("pw")
    )
    state = (
        aw.join(fw, "user_id")
        .join(
            p,
            (F.col("pu") == F.col("user_id")) & (F.col("pw") == F.col("w")),
            "left",
        )
        .select(
            "w",
            F.when(F.col("first_w") == F.col("w"), "new")
            .when(F.col("pu").isNotNull(), "retained")
            .otherwise("resurrected")
            .alias("st"),
        )
    )
    c = aw.select(
        F.col("user_id").alias("cu"), F.col("w").alias("cw")
    )
    churn = (
        aw.join(
            c,
            (F.col("cu") == F.col("user_id"))
            & (F.col("cw") == F.col("w") + 1),
            "left_anti",
        )
        .groupBy((F.col("w") + 1).alias("w"))
        .agg(F.count("*").cast("long").alias("n_churned"))
    )
    wk = state.groupBy("w").agg(
        F.count(F.when(F.col("st") == "new", 1)).cast("long")
        .alias("n_new"),
        F.count(F.when(F.col("st") == "retained", 1)).cast("long")
        .alias("n_retained"),
        F.count(F.when(F.col("st") == "resurrected", 1)).cast("long")
        .alias("n_resurrected"),
    )
    return (
        wk.join(churn, "w", "left")
        .select(
            F.col("w").alias("week"),
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce(F.col("n_churned"), F.lit(0)).cast("long")
            .alias("n_churned"),
            F.expr(
                "(n_new + n_resurrected) * 1000000"
                " div nullif(n_churned, 0)"
            ).cast("long").alias("quick_ratio_micro"),
        )
    )


# z constants in micro units: z_{α/2}=1.959964 (two-sided 5%),
# z_β=0.841621 (80% power) — fixed literals shared with the oracle.
_PWR_ZA = 1_959_964
_PWR_ZB = 841_621


@register(
    "events_power_analysis_mde",
    # Experiment design readout: with the arms as currently sized and
    # the pooled baseline conversion, the minimum detectable effect
    # (absolute and relative) at 80% power / 5% two-sided α — the
    # "could this experiment even see the effect we care about"
    # number read BEFORE the readout. MDE = (z_α/2 + z_β) ·
    # sqrt(p(1−p)(1/n0+1/n1)); inputs are exact counts, the z sum is
    # an integer constant, one double chain rounded once.
    oracle=f"""
    WITH assign AS (
        SELECT user_id, CAST(user_id % 2 AS INT) AS variant,
               CASE WHEN sum(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) >= 17
                    THEN 1 ELSE 0 END AS converted
        FROM events GROUP BY user_id
    ),
    arm AS (
        SELECT CAST(count(CASE WHEN variant = 0 THEN 1 END) AS BIGINT)
                   AS n0,
               CAST(count(CASE WHEN variant = 1 THEN 1 END) AS BIGINT)
                   AS n1,
               CAST(sum(converted) AS BIGINT) AS c,
               CAST(count(*) AS BIGINT) AS n
        FROM assign
    )
    SELECT n0 AS control_users, n1 AS treatment_users,
           CAST(c * 1000000 // nullif(n, 0) AS BIGINT)
               AS baseline_micro,
           CASE WHEN n0 > 0 AND n1 > 0 AND c > 0 AND c < n THEN
               CAST(round(({_PWR_ZA} + {_PWR_ZB}) / 1e6
                    * sqrt((CAST(c AS DOUBLE) / n)
                           * (1 - CAST(c AS DOUBLE) / n)
                           * (1.0 / n0 + 1.0 / n1)) * 1e6) AS BIGINT)
           END AS mde_abs_micro,
           CASE WHEN n0 > 0 AND n1 > 0 AND c > 0 AND c < n THEN
               CAST(round(({_PWR_ZA} + {_PWR_ZB}) / 1e6
                    * sqrt((CAST(c AS DOUBLE) / n)
                           * (1 - CAST(c AS DOUBLE) / n)
                           * (1.0 / n0 + 1.0 / n1))
                    / (CAST(c AS DOUBLE) / n) * 1e6) AS BIGINT)
           END AS mde_rel_micro
    FROM arm
    """,
)
def events_power_analysis_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power analysis of the running experiment: at the arms' current
    sizes and the pooled baseline conversion rate, the minimum
    detectable effect — absolute and relative — at 80% power with
    5% two-sided significance. This is the number that should be
    read BEFORE events_ab_test_lift's z-score: an experiment whose
    MDE is 30% relative cannot pronounce on a 5% hypothesis no
    matter what the point estimate says. The z quantiles enter as
    fixed integer micro constants; arm counts are exact; the one
    double chain is identical cross-engine and rounded once;
    degenerate arms (zero or saturated conversions) yield NULL.

    Scale shape: one user-keyed conversion agg → a 1-row arm
    reduction → scalar math. Nothing else."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    assign = ev.groupBy("user_id").agg(
        (F.col("user_id") % 2).cast("int").alias("variant"),
        (
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 17
        ).cast("int").alias("converted"),
    )
    arm = assign.agg(
        F.count(F.when(F.col("variant") == 0, 1)).cast("long")
        .alias("n0"),
        F.count(F.when(F.col("variant") == 1, 1)).cast("long")
        .alias("n1"),
        F.sum("converted").cast("long").alias("c"),
        F.count("*").cast("long").alias("n"),
    )
    ok = (
        (F.col("n0") > 0)
        & (F.col("n1") > 0)
        & (F.col("c") > 0)
        & (F.col("c") < F.col("n"))
    )
    p = F.col("c").cast("double") / F.col("n")
    se = F.sqrt(
        p * (1 - p) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
    )
    zsum = (_PWR_ZA + _PWR_ZB) / 1e6
    return arm.select(
        F.col("n0").alias("control_users"),
        F.col("n1").alias("treatment_users"),
        F.expr("c * 1000000 div nullif(n, 0)").cast("long")
        .alias("baseline_micro"),
        F.when(ok, F.round(zsum * se * 1e6).cast("long"))
        .alias("mde_abs_micro"),
        F.when(ok, F.round(zsum * se / p * 1e6).cast("long"))
        .alias("mde_rel_micro"),
    )


@register(
    "events_composition_drift_tv",
    # Categorical composition drift: per week, the total-variation
    # distance ½·Σ|p_w(type) − p_base(type)| between that week's
    # event-type mix and the FIRST week's — the complement of
    # quality_ks_drift (numeric distributions) for categorical mixes,
    # and the alert behind "did the traffic composition change even
    # though volume didn't". TV is computed from exact counts with
    # one cross-multiplied integer numerator per type, summed and
    # floored to micro units — no per-type division.
    oracle="""
    WITH wk AS (
        SELECT CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS w,
               event_type, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    wt AS (SELECT w, CAST(sum(c) AS BIGINT) AS n FROM wk GROUP BY w),
    base AS (
        SELECT k.event_type, k.c AS bc, t.n AS bn
        FROM wk k JOIN wt t USING (w)
        WHERE k.w = (SELECT min(w) FROM wt)
    ),
    joined AS (
        SELECT k.w, t.n, b.bn,
               abs(k.c * b.bn - b.bc * t.n) AS num
        FROM wk k
        JOIN wt t USING (w)
        JOIN base b ON b.event_type = k.event_type
    )
    SELECT w AS week,
           CAST(max(n) AS BIGINT) AS n_events,
           CAST(sum(num) * 500000 // (max(n) * max(bn)) AS BIGINT)
               AS tv_distance_micro
    FROM joined GROUP BY w
    """,
)
def events_composition_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic-composition drift: each week's total-variation distance
    from the first week's event-type mix — the categorical
    counterpart to quality_ks_drift's numeric two-sample test, and
    the alert that catches a silent mix shift (bots replacing
    purchases with clicks) that total volume hides. TV = ½Σ|p − q|
    over shared types, computed as one exact integer
    cross-multiplication per (week, type) — |c_w·n_base − c_base·n_w|
    — summed and floored once to micro units; no floats anywhere.
    Types absent from the baseline week are excluded (documented:
    the baseline defines the comparable support).

    Scale shape: one (week, type)-keyed count agg (map-side
    partials); everything after runs on the |weeks|·|types| rollup
    with the baseline broadcast."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    wk = ev.groupBy(
        F.expr("floor(unix_timestamp(ts)) div 604800").alias("w"),
        "event_type",
    ).agg(F.count("*").cast("long").alias("c"))
    wt = wk.groupBy("w").agg(F.sum("c").cast("long").alias("n"))
    w0 = wt.agg(F.min("w").alias("w0"))
    base = (
        wk.join(wt, "w")
        .join(F.broadcast(w0), F.col("w") == F.col("w0"))
        .select(
            "event_type",
            F.col("c").alias("bc"),
            F.col("n").alias("bn"),
        )
    )
    joined = (
        wk.join(wt, "w")
        .join(F.broadcast(base), "event_type")
        .select(
            "w",
            "n",
            "bn",
            F.abs(
                F.col("c") * F.col("bn") - F.col("bc") * F.col("n")
            ).alias("num"),
        )
    )
    return joined.groupBy(F.col("w").alias("week")).agg(
        F.max("n").cast("long").alias("n_events"),
        F.expr("sum(num) * 500000 div (max(n) * max(bn))")
        .cast("long")
        .alias("tv_distance_micro"),
    )


@register(
    "events_segment_transition_matrix",
    # Lifecycle flows: users bucketed into monthly spend terciles
    # (high/mid/low, ntile with a user_id tie-break inside each
    # month), plus 'absent'; the matrix counts month-over-month
    # transitions between the four states with row shares — the
    # engagement-lifecycle complement to the event-level transition
    # matrix. All counts exact; ntile is deterministic because the
    # order (cents, user) is total; shares floored ppm.
    oracle="""
    WITH um AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) // 2592000 AS m,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ),
    seg AS (
        SELECT user_id, m,
               CASE ntile(3) OVER (PARTITION BY m
                                   ORDER BY cents DESC, user_id)
                    WHEN 1 THEN 'high' WHEN 2 THEN 'mid'
                    ELSE 'low' END AS s
        FROM um
    ),
    months AS (SELECT DISTINCT m FROM um),
    users AS (SELECT DISTINCT user_id FROM um),
    grid AS (
        SELECT u.user_id, mo.m, coalesce(s.s, 'absent') AS s
        FROM users u CROSS JOIN months mo
        LEFT JOIN seg s ON s.user_id = u.user_id AND s.m = mo.m
    ),
    tr AS (
        SELECT a.s AS seg_from, b.s AS seg_to,
               CAST(count(*) AS BIGINT) AS n_users
        FROM grid a JOIN grid b
          ON b.user_id = a.user_id AND b.m = a.m + 1
        GROUP BY 1, 2
    )
    SELECT seg_from, seg_to, n_users,
           CAST(n_users * 1000000
                // sum(n_users) OVER (PARTITION BY seg_from)
                AS BIGINT) AS row_share_micro
    FROM tr
    """,
)
def events_segment_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifecycle transition matrix: users assigned to
    monthly spend terciles (high/mid/low, with 'absent' for inactive
    months), and the month-over-month flow counts between the four
    states with row-normalized shares — the retention/upsell
    diagnostic that says whether 'high' is sticky, where churn
    (→absent) drains from, and whether winback (absent→any) happens
    — the user-level complement to events_transition_matrix's
    event-level chain. Terciles use ntile under a total (cents,
    user) order so both engines cut identically; the user×month grid
    makes absence explicit; shares are floored ppm.

    Scale shape: one (user, month)-keyed agg; tercile windows are
    month-partitioned over user-scale rows; the grid is
    users×months (calendar-bounded multiplier) built with co-keyed
    joins; transitions are one self-join at lag 1 into a 16-key
    agg."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    um = ev.groupBy(
        "user_id",
        F.expr("floor(unix_timestamp(ts)) div 2592000").alias("m"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    wseg = Window.partitionBy("m").orderBy(
        F.col("cents").desc(), F.col("user_id")
    )
    seg = um.select(
        "user_id",
        "m",
        F.when(F.ntile(3).over(wseg) == 1, "high")
        .when(F.ntile(3).over(wseg) == 2, "mid")
        .otherwise("low")
        .alias("s"),
    )
    months = um.select("m").distinct()
    users = um.select("user_id").distinct()
    grid = (
        users.crossJoin(F.broadcast(months))
        .join(seg, ["user_id", "m"], "left")
        .select(
            "user_id", "m", F.coalesce(F.col("s"), F.lit("absent"))
            .alias("s"),
        )
    )
    b = grid.select(
        F.col("user_id").alias("ub"),
        F.col("m").alias("mb"),
        F.col("s").alias("seg_to"),
    )
    tr = (
        grid.join(
            b,
            (F.col("ub") == F.col("user_id"))
            & (F.col("mb") == F.col("m") + 1),
        )
        .groupBy(F.col("s").alias("seg_from"), "seg_to")
        .agg(F.count("*").cast("long").alias("n_users"))
    )
    wrow = Window.partitionBy("seg_from")
    return tr.select(
        "seg_from",
        "seg_to",
        "n_users",
        F.expr("n_users * 1000000").alias("__num"),
        F.sum("n_users").over(wrow).alias("__den"),
    ).select(
        "seg_from",
        "seg_to",
        "n_users",
        F.expr("__num div __den").cast("long").alias("row_share_micro"),
    )


@register(
    "events_weekend_effect",
    # Paired weekday/weekend comparison with a SIGN TEST: per user,
    # average events per weekday day vs per weekend day (exact
    # rational compare by cross-multiplication — no division), then
    # the population sign counts: more-active-on-weekends /
    # more-on-weekdays / tied. The sign test needs no variance
    # assumptions, and the cross-multiplied compare makes it exact.
    oracle="""
    WITH ud AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    lab AS (
        SELECT user_id, c,
               CASE WHEN (d + 4) % 7 >= 5 THEN 1 ELSE 0 END AS we
        FROM ud
    ),
    u AS (
        SELECT user_id,
               CAST(sum(CASE WHEN we = 1 THEN c ELSE 0 END) AS BIGINT)
                   AS wec,
               CAST(sum(CASE WHEN we = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS wed,
               CAST(sum(CASE WHEN we = 0 THEN c ELSE 0 END) AS BIGINT)
                   AS wdc,
               CAST(sum(CASE WHEN we = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS wdd
        FROM lab GROUP BY user_id
    ),
    signs AS (
        SELECT CASE
                 WHEN wed = 0 OR wdd = 0 THEN 'undefined'
                 WHEN wec * wdd > wdc * wed THEN 'weekend'
                 WHEN wec * wdd < wdc * wed THEN 'weekday'
                 ELSE 'tied' END AS side
        FROM u
    )
    SELECT side, CAST(count(*) AS BIGINT) AS n_users
    FROM signs GROUP BY side
    """,
)
def events_weekend_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend-effect sign test: per user, the average events per
    weekend day vs per weekday day compared exactly (cross-
    multiplication of integer counts — no rates, no division), then
    the population split into weekend-heavier / weekday-heavier /
    tied / undefined — the nonparametric paired test (each user is
    their own control) that answers "is usage a work tool or a
    leisure product" without any variance assumption, robust to
    whales by construction. Epoch day 0 is a Thursday, so
    (d+4) % 7 ≥ 5 marks Saturday/Sunday identically on both engines.

    Scale shape: one (user, day)-keyed agg, a user-keyed 4-moment
    rollup, a map-side verdict, and a 4-key count."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    ud = ev.groupBy(
        "user_id",
        F.expr("floor(unix_timestamp(ts)) div 86400").alias("d"),
    ).agg(F.count("*").cast("long").alias("c"))
    lab = ud.select(
        "user_id",
        "c",
        (((F.col("d") + 4) % 7) >= 5).cast("int").alias("we"),
    )
    u = lab.groupBy("user_id").agg(
        F.sum(F.when(F.col("we") == 1, F.col("c")).otherwise(0))
        .cast("long").alias("wec"),
        F.sum(F.when(F.col("we") == 1, 1).otherwise(0))
        .cast("long").alias("wed"),
        F.sum(F.when(F.col("we") == 0, F.col("c")).otherwise(0))
        .cast("long").alias("wdc"),
        F.sum(F.when(F.col("we") == 0, 1).otherwise(0))
        .cast("long").alias("wdd"),
    )
    side = (
        F.when((F.col("wed") == 0) | (F.col("wdd") == 0), "undefined")
        .when(
            F.col("wec") * F.col("wdd") > F.col("wdc") * F.col("wed"),
            "weekend",
        )
        .when(
            F.col("wec") * F.col("wdd") < F.col("wdc") * F.col("wed"),
            "weekday",
        )
        .otherwise("tied")
    )
    return u.select(side.alias("side")).groupBy("side").agg(
        F.count("*").cast("long").alias("n_users")
    )


@register(
    "events_purchase_gap_gamma_fit",
    # Gamma method-of-moments fit to inter-purchase gaps: shape
    # k = mean²/var and scale θ = var/mean from exact integer
    # moments — k ≈ 1 recovers the exponential (memoryless buying),
    # k < 1 is bursty clumping, k > 1 regular rhythms; the
    # distribution-family answer on top of events_gap_exponential_ks'
    # yes/no fit test. Moments run in HUGEINT/DECIMAL(38); both
    # outputs are single floored micro divisions of exact integers.
    oracle="""
    WITH p AS (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
               lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_es
        FROM events WHERE event_type = 'purchase'
    ),
    g AS (
        SELECT es - prev_es AS x FROM p WHERE prev_es IS NOT NULL
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS ss
        FROM g
    )
    SELECT n AS n_gaps,
           CAST(s // nullif(n, 0) AS BIGINT) AS mean_gap_s,
           CAST(CAST(s AS HUGEINT) * s * 1000000
                // nullif(n * ss - CAST(s AS HUGEINT) * s, 0)
                AS BIGINT) AS shape_k_micro,
           CAST((n * ss - CAST(s AS HUGEINT) * s) * 1000000
                // nullif(CAST(n AS HUGEINT) * n * s, 0) AS BIGINT)
               AS scale_theta_micro_s
    FROM m
    """,
)
def events_purchase_gap_gamma_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gamma fit of inter-purchase times (method of moments): shape
    k = mean²/variance and scale θ = variance/mean over all per-user
    purchase gaps — the distribution-family diagnostic that
    events_gap_exponential_ks' pass/fail test points at: k near 1
    says buying is memoryless (Poisson), k well below 1 says
    purchases clump in bursts (campaign- or payday-driven), k above
    1 says regular replenishment rhythms — each implying a different
    inventory and CRM cadence. Gaps are exact epoch-second integers;
    the two ratios are floored micro divisions of wide-integer
    moments, NULL-guarded for degenerate (constant or single-gap)
    data.

    Scale shape: one filtered lag window (predicate pushed to the
    scan, key-partitioned), one 1-row moment agg."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    es = F.expr("floor(unix_timestamp(ts))").cast("long")
    p = ev.filter(F.col("event_type") == "purchase").select(
        es.alias("es"), F.lag(es).over(w).alias("prev_es")
    )
    g = p.filter(F.col("prev_es").isNotNull()).select(
        (F.col("es") - F.col("prev_es")).alias("x")
    )
    m = g.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("ss"),
    )
    return m.select(
        F.col("n").alias("n_gaps"),
        F.expr("s div nullif(n, 0)").cast("long").alias("mean_gap_s"),
        F.expr(
            "CAST(CAST(s AS DECIMAL(38,0)) * s * 1000000"
            " div nullif(n * ss - CAST(s AS DECIMAL(38,0)) * s, 0)"
            " AS BIGINT)"
        ).alias("shape_k_micro"),
        F.expr(
            "CAST((n * ss - CAST(s AS DECIMAL(38,0)) * s) * 1000000"
            " div nullif(CAST(n AS DECIMAL(38,0)) * n * s, 0) AS BIGINT)"
        ).alias("scale_theta_micro_s"),
    )


@register(
    "events_activity_streaks",
    # Gaps-and-islands: each user's consecutive-active-day streaks
    # found with the classic d − row_number() island key (constant
    # within a run of consecutive days, distinct across gaps — no
    # self-join, no recursion), rolled into a streak-length
    # histogram plus each length's share of users achieving it as
    # their PERSONAL BEST. The engagement/gamification statistic
    # (steps, logins) and the canonical islands idiom in one query.
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d
        FROM events
    ),
    isl AS (
        SELECT user_id,
               d - row_number() OVER (PARTITION BY user_id ORDER BY d)
                   AS grp
        FROM ud
    ),
    streaks AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS len
        FROM isl GROUP BY user_id, grp
    ),
    best AS (
        SELECT user_id, CAST(max(len) AS BIGINT) AS best_len
        FROM streaks GROUP BY user_id
    ),
    nb AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM best)
    SELECT s.len AS streak_days,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(coalesce(b.nb, 0) AS BIGINT) AS n_users_best,
           CAST(coalesce(b.nb, 0) * 1000000 // max(u.n_users)
                AS BIGINT) AS best_share_micro
    FROM streaks s
    LEFT JOIN (
        SELECT best_len, CAST(count(*) AS BIGINT) AS nb
        FROM best GROUP BY best_len
    ) b ON b.best_len = s.len
    CROSS JOIN nb u
    GROUP BY s.len, b.nb
    """,
)
def events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-active-day streaks — the gaps-and-islands problem
    solved with the canonical d − row_number() island key (constant
    inside every run of consecutive days, no self-join, no
    recursion): the streak-length histogram across all streaks, plus
    how many users hold each length as their personal best and that
    cohort's share — the habit-formation metric behind login streaks
    and retention-by-habit segmentation. All exact integers; shares
    floored ppm.

    Scale shape: one distinct (user, day) agg; the island key is a
    user-partitioned window; streaks and bests are two key-partitioned
    rollups; the histogram is a |lengths|-keyed agg joined to the
    model-scale best table."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    ud = ev.select(
        "user_id",
        F.expr("floor(unix_timestamp(ts)) div 86400").alias("d"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = ud.select(
        "user_id", (F.col("d") - F.row_number().over(w)).alias("grp")
    )
    streaks = pin(isl.groupBy("user_id", "grp").agg(
        F.count("*").cast("long").alias("len")
    ))  # histogram + personal-best reuse it
    best = streaks.groupBy("user_id").agg(
        F.max("len").cast("long").alias("best_len")
    )
    nb = best.agg(F.count("*").cast("long").alias("n_users"))
    bests = best.groupBy("best_len").agg(
        F.count("*").cast("long").alias("nb")
    )
    return (
        streaks.groupBy(F.col("len").alias("streak_days"))
        .agg(F.count("*").cast("long").alias("n_streaks"))
        .join(
            F.broadcast(bests.withColumnRenamed("best_len", "streak_days")),
            "streak_days",
            "left",
        )
        .crossJoin(F.broadcast(nb))
        .select(
            "streak_days",
            "n_streaks",
            F.coalesce(F.col("nb"), F.lit(0)).cast("long")
            .alias("n_users_best"),
            F.expr(
                "coalesce(nb, 0) * 1000000 div n_users"
            ).cast("long").alias("best_share_micro"),
        )
    )


# ── Round 7: nonparametric trend / location tests ────────────────────
# Three classical distribution-free tests, each exact-integer
# cross-engine: Mann–Kendall (monotone trend in daily volume),
# Wald–Wolfowitz runs (serial dependence of above/below-rate days),
# Mann–Whitney U (do two event types' value distributions differ).
# They complement the parametric monitors (CUSUM level shift, Poisson
# dispersion, seasonal residual anomaly) with tests that need no
# distributional assumption — the first thing an analyst reaches for
# on messy ops data.


@register(
    "events_mann_kendall_trend",
    # S = Σ_{i<j} sign(x_j − x_i) over the per-type daily count
    # series, plus the exact tie-corrected variance NUMERATOR
    # var18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) (the classical Var(S)
    # is var18/18) — all BIGINT, no floats anywhere.
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.event_type,
               CAST(sum(CASE WHEN b.x > a.x THEN 1
                             WHEN b.x < a.x THEN -1 ELSE 0 END)
                    AS BIGINT) AS s_stat,
               CAST(sum(CASE WHEN b.x > a.x THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_concordant,
               CAST(sum(CASE WHEN b.x < a.x THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_discordant
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.d < b.d
        GROUP BY a.event_type
    ),
    ties AS (
        SELECT event_type,
               CAST(sum(t) AS BIGINT) AS n_days,
               CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
        FROM (
            SELECT event_type, CAST(count(*) AS BIGINT) AS t
            FROM daily GROUP BY event_type, x
        ) GROUP BY event_type
    )
    SELECT t.event_type, t.n_days,
           CAST(coalesce(p.s_stat, 0) AS BIGINT) AS s_stat,
           CAST(coalesce(p.n_concordant, 0) AS BIGINT) AS n_concordant,
           CAST(coalesce(p.n_discordant, 0) AS BIGINT) AS n_discordant,
           CAST(t.n_days * (t.n_days - 1) * (2 * t.n_days + 5)
                - t.tie_term AS BIGINT) AS var18
    FROM ties t LEFT JOIN pairs p ON p.event_type = t.event_type
    """,
)
def events_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotone-trend test on each event type's daily
    volume: S = Σ_{i<j} sign(x_j − x_i) (positive = rising, negative
    = falling), concordant/discordant pair counts, and the exact
    tie-corrected variance numerator var18 (Var(S) = var18/18; the
    normal z is S/√Var driver-side) — the distribution-free "is
    volume trending" answer that a least-squares slope fakes under
    heavy tails, complementing events_theil_sen's slope ESTIMATE with
    a trend TEST.

    Everything is exact BIGINT: signs, pair counts, and the variance
    polynomial n(n−1)(2n+5) − Σ t(t−1)(2t+5) over tie-group sizes.

    Scale shape: ONE data-scale agg (the (type, day) rollup,
    map-side combined); the pair enumeration is a self-join of the
    CALENDAR-bounded daily table (days²/2 per type, thousands of rows
    regardless of corpus size), and the tie histogram is a second
    bounded agg over the same table. No windows, no collect."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "event_type",
        F.expr("floor(unix_timestamp(ts)) div 86400").alias("d"),
    ).agg(F.count("*").cast("long").alias("x"))
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.d") < F.col("b.d")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.x") > F.col("a.x"), 1)
                .when(F.col("b.x") < F.col("a.x"), -1)
                .otherwise(0)
            ).cast("long").alias("s_stat"),
            F.sum(F.when(F.col("b.x") > F.col("a.x"), 1).otherwise(0))
            .cast("long").alias("n_concordant"),
            F.sum(F.when(F.col("b.x") < F.col("a.x"), 1).otherwise(0))
            .cast("long").alias("n_discordant"),
        )
    )
    ties = (
        daily.groupBy("event_type", "x")
        .agg(F.count("*").cast("long").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(F.lit(1)).cast("long").alias("_groups"),
            F.sum("t").cast("long").alias("n_days"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).cast("long").alias("tie_term"),
        )
        .drop("_groups")
    )
    # ties is the base and pairs joins LEFT: a type whose series has a
    # single day has no (i < j) pair, but still belongs in the output
    # with S = 0 (found by the hypothesis reference, which the
    # inner-join formulation silently dropped — in BOTH engines, so
    # the oracle agreed with the bug).
    return ties.join(pairs, "event_type", "left").select(
        "event_type", "n_days",
        F.coalesce(F.col("s_stat"), F.lit(0)).cast("long")
        .alias("s_stat"),
        F.coalesce(F.col("n_concordant"), F.lit(0)).cast("long")
        .alias("n_concordant"),
        F.coalesce(F.col("n_discordant"), F.lit(0)).cast("long")
        .alias("n_discordant"),
        (
            F.col("n_days") * (F.col("n_days") - 1)
            * (2 * F.col("n_days") + 5)
            - F.col("tie_term")
        ).cast("long").alias("var18"),
    )


@register(
    "events_runs_test",
    # Wald–Wolfowitz runs test on the above/below-mean-rate day
    # sequence per type: a run boundary is a sign change between
    # consecutive days (lag window), expected runs E[R] = 1 + 2n₊n₋/n
    # reported as the exact numerator er_num = n + 2n₊n₋ over
    # denominator n — pure integers.
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    k AS (
        SELECT event_type, CAST(sum(x) // count(*) AS BIGINT) AS k
        FROM daily GROUP BY event_type
    ),
    s AS (
        SELECT d.event_type, d.d,
               CASE WHEN d.x > k.k THEN 1 ELSE 0 END AS up,
               lag(CASE WHEN d.x > k.k THEN 1 ELSE 0 END) OVER (
                   PARTITION BY d.event_type ORDER BY d.d) AS prev_up
        FROM daily d JOIN k USING (event_type)
    ),
    agg AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(up) AS BIGINT) AS n_plus,
               CAST(count(*) - sum(up) AS BIGINT) AS n_minus,
               CAST(1 + sum(CASE WHEN prev_up IS NOT NULL
                                  AND up <> prev_up
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
        FROM s GROUP BY event_type
    )
    SELECT event_type, n_days, n_plus, n_minus, n_runs,
           CAST(n_days + 2 * n_plus * n_minus AS BIGINT) AS er_num
    FROM agg
    """,
)
def events_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test of serial independence on each event
    type's daily volume: classify each day above (+) or at-or-below
    (−) the type's mean daily rate, count the RUNS of equal signs,
    and report the exact expectation numerator E[R]·n = n + 2n₊n₋ —
    too few runs means volume clusters (regimes, incidents,
    weekly structure), too many means oscillation (load-balancer
    flapping, retry storms). The nonparametric cousin of the ACF:
    events_acf_lags measures HOW correlated adjacent days are, the
    runs test answers IS the sequence random at all, with no
    distributional assumption and no floats (all counts exact).

    Scale shape: the (type, day) rollup is the only data-scale agg;
    the sign sequence + lag comparison is a type-keyed window over
    calendar-bounded rows; one bounded agg finishes. Mean rate uses
    truncating div on both sides."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "event_type",
        F.expr("floor(unix_timestamp(ts)) div 86400").alias("d"),
    ).agg(F.count("*").cast("long").alias("x"))
    k = daily.groupBy("event_type").agg(
        F.expr("sum(x) div count(*)").cast("long").alias("k")
    )
    up = F.when(F.col("x") > F.col("k"), 1).otherwise(0)
    s = daily.join(k, "event_type").select(
        "event_type", "d", up.alias("up"),
        F.lag(up).over(
            Window.partitionBy("event_type").orderBy("d")
        ).alias("prev_up"),
    )
    agg = s.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("up").cast("long").alias("n_plus"),
        (F.count("*") - F.sum("up")).cast("long").alias("n_minus"),
        (
            1
            + F.sum(
                F.when(
                    F.col("prev_up").isNotNull()
                    & (F.col("up") != F.col("prev_up")),
                    1,
                ).otherwise(0)
            )
        ).cast("long").alias("n_runs"),
    )
    return agg.select(
        "event_type", "n_days", "n_plus", "n_minus", "n_runs",
        (F.col("n_days") + 2 * F.col("n_plus") * F.col("n_minus"))
        .cast("long").alias("er_num"),
    )


_MW_A, _MW_B = "click", "purchase"  # the two compared samples


@register(
    "events_value_mannwhitney",
    # Mann–Whitney U between the two types' value distributions with
    # EXACT tie handling: global row ranks by value (unique 1..n), a
    # tie block occupying ranks [lo, hi] gives every member the
    # doubled tie-averaged rank lo + hi, so the doubled rank sum
    # R₁·2 = Σ_blocks cntA·(lo+hi) is pure integer arithmetic.
    # U₁·2 = R₁·2 − n₁(n₁+1); products run in HUGEINT/DECIMAL(38).
    oracle=f"""
    WITH v AS (
        SELECT value,
               CASE WHEN event_type = '{_MW_A}' THEN 1 ELSE 0 END AS is_a
        FROM events
        WHERE event_type IN ('{_MW_A}', '{_MW_B}') AND value IS NOT NULL
    ),
    r AS (
        SELECT value, is_a,
               row_number() OVER (ORDER BY value) AS rn
        FROM v
    ),
    g AS (
        SELECT value,
               CAST(min(rn) AS BIGINT) AS lo,
               CAST(max(rn) AS BIGINT) AS hi,
               CAST(sum(is_a) AS BIGINT) AS ca,
               CAST(count(*) AS BIGINT) AS ct
        FROM r GROUP BY value
    ),
    m AS (
        SELECT CAST(sum(ca) AS BIGINT) AS n1,
               CAST(sum(ct - ca) AS BIGINT) AS n2,
               CAST(sum(CAST(ca AS HUGEINT) * (lo + hi)) AS HUGEINT)
                   AS r1_x2,
               CAST(sum(CAST(ct AS HUGEINT) * ct * ct - ct) AS HUGEINT)
                   AS tie_cubes
        FROM g
    )
    SELECT n1, n2,
           CAST(r1_x2 AS BIGINT) AS r1_x2,
           CAST(r1_x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT)
               AS u1_x2,
           CAST(2 * CAST(n1 AS HUGEINT) * n2
                - (r1_x2 - CAST(n1 AS HUGEINT) * (n1 + 1)) AS BIGINT)
               AS u2_x2,
           CAST(tie_cubes AS BIGINT) AS tie_cubes
    FROM m
    """,
)
def events_value_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) test: do '{a}' and '{b}'
    events draw their values from the same distribution? The
    location-shift test that works when t-tests can't (skewed,
    heavy-tailed revenue-like values). Doubled statistics keep the
    tie-averaged ranks integral: every member of a tie block at
    global ranks [lo, hi] contributes (lo+hi), so R₁·2, U₁·2, U₂·2
    and the tie-correction Σ(t³−t) are all exact integers — the
    identity U₁+U₂ = n₁n₂ is asserted in tests. Values are only
    COMPARED, never added, so double precision never enters the
    statistic.

    Scale shape: the global rank uses the exact-global-rank operator
    (range repartition + partition offsets — no single-partition
    window); the tie blocks are one value-keyed agg; the moments are
    a 1-row agg in DECIMAL(38)/HUGEINT since rank sums grow with
    n².""".replace("{a}", _MW_A).replace("{b}", _MW_B)
    from rust_cdc_spark.operators.ranks import with_global_rank

    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    v = ev.filter(
        F.col("event_type").isin([_MW_A, _MW_B])
        & F.col("value").isNotNull()
    ).select(
        "value",
        (F.col("event_type") == _MW_A).cast("long").alias("is_a"),
    )
    r = with_global_rank(v, [F.col("value")], rank_col="rn")
    g = r.groupBy("value").agg(
        F.min("rn").cast("long").alias("lo"),
        F.max("rn").cast("long").alias("hi"),
        F.sum("is_a").cast("long").alias("ca"),
        F.count("*").cast("long").alias("ct"),
    )
    m = g.agg(
        F.sum("ca").cast("long").alias("n1"),
        F.sum(F.col("ct") - F.col("ca")).cast("long").alias("n2"),
        F.sum(
            F.col("ca").cast("decimal(38,0)") * (F.col("lo") + F.col("hi"))
        ).alias("r1_x2d"),
        F.sum(
            F.col("ct").cast("decimal(38,0)") * F.col("ct") * F.col("ct")
            - F.col("ct")
        ).alias("tie_cubesd"),
    )
    return m.select(
        "n1", "n2",
        F.col("r1_x2d").cast("long").alias("r1_x2"),
        F.expr(
            "cast(r1_x2d - cast(n1 as decimal(38,0)) * (n1 + 1) as long)"
        ).alias("u1_x2"),
        F.expr(
            "cast(2 * cast(n1 as decimal(38,0)) * n2"
            " - (r1_x2d - cast(n1 as decimal(38,0)) * (n1 + 1)) as long)"
        ).alias("u2_x2"),
        F.col("tie_cubesd").cast("long").alias("tie_cubes"),
    )


@register(
    "events_kruskal_wallis",
    # Kruskal–Wallis k-sample rank test across ALL event types'
    # value distributions — the k-group extension of Mann–Whitney.
    # Doubled tie-averaged ranks (lo+hi per tie block) keep rank sums
    # integral. The H sum runs in its CENTERED form
    # H = 3/(n(n+1)) · Σ Dᵢ²/nᵢ with Dᵢ = R2ᵢ − nᵢ(n+1) (algebraically
    # equal to the textbook 12Σ Rᵢ²/nᵢ/(n(n+1)) − 3(n+1), since
    # ΣR2ᵢ = n(n+1)): centering bounds every quotient by n², so the
    # per-group term tᵢ = (2Dᵢ² + nᵢ) div (2nᵢ) (nearest-integer
    # division) and the final (3·10⁶·Σtᵢ) div (n(n+1)) both fit
    # BIGINT — the uncentered micro-scaled form overflowed 64 bits at
    # sf0.1. tie_cubes = Σ(t³−t) ships for the driver-side H/C.
    oracle="""
    WITH v AS (
        SELECT event_type, value FROM events WHERE value IS NOT NULL
    ),
    r AS (
        SELECT event_type, value,
               row_number() OVER (ORDER BY value) AS rn
        FROM v
    ),
    blocks AS (
        SELECT value,
               CAST(min(rn) AS BIGINT) AS lo,
               CAST(max(rn) AS BIGINT) AS hi,
               CAST(count(*) AS BIGINT) AS ct
        FROM r GROUP BY value
    ),
    grp AS (
        SELECT r.event_type,
               CAST(count(*) AS BIGINT) AS ni,
               CAST(sum(CAST(b.lo + b.hi AS HUGEINT)) AS HUGEINT) AS r2
        FROM r JOIN blocks b USING (value)
        GROUP BY r.event_type
    ),
    tot0 AS (
        SELECT CAST(sum(ni) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS k
        FROM grp
    ),
    terms AS (
        SELECT g.ni,
               (2 * (g.r2 - CAST(g.ni AS HUGEINT) * (t.n + 1))
                  * (g.r2 - CAST(g.ni AS HUGEINT) * (t.n + 1))
                + g.ni) // (2 * CAST(g.ni AS HUGEINT)) AS ti
        FROM grp g CROSS JOIN tot0 t
    ),
    ties AS (
        SELECT CAST(sum(CAST(ct AS HUGEINT) * ct * ct - ct) AS HUGEINT)
                   AS tie_cubes
        FROM blocks
    )
    SELECT t.n AS n_values, t.k AS n_groups,
           CAST((3 * 1000000 * (SELECT CAST(sum(ti) AS HUGEINT)
                                FROM terms))
                // (CAST(t.n AS HUGEINT) * (t.n + 1)) AS BIGINT)
               AS h_micro,
           CAST(ti.tie_cubes AS BIGINT) AS tie_cubes
    FROM tot0 t CROSS JOIN ties ti
    """,
)
def events_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis test: do the k event types draw their values
    from one distribution? The k-sample generalization of
    events_value_mannwhitney (which compares just two), and the
    nonparametric stand-in for one-way ANOVA on skewed revenue-like
    values. H = 12/(n(n+1))·Σ Rᵢ²/nᵢ − 3(n+1) with tie-averaged
    ranks; large H → at least one type's value distribution sits
    apart.

    Exactness: global ranks come from the range-partitioned exact
    rank operator; tie blocks double the averaged rank into integers
    (lo+hi); the centered per-group term (2Dᵢ²+nᵢ) div (2nᵢ) rounds
    once at UNIT rank scale (±½ rank² out of an n²-scale statistic)
    and the rest is DECIMAL(38) integer arithmetic — no float ever
    touches a rank, and centering keeps every 64-bit quotient in
    range at 10× data (the uncentered form overflowed at sf0.1). The
    tie-correction mass Σ(t³−t) is emitted for the driver-side H/C
    adjustment.

    Scale shape: one exact global rank (range repartition +
    offsets), one value-keyed tie-block agg, one type-keyed rank-sum
    agg (k rows), two scalar aggs. No global windows, no collect."""
    from rust_cdc_spark.operators.ranks import with_global_rank

    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    v = ev.filter(F.col("value").isNotNull()).select("event_type", "value")
    r = with_global_rank(v, [F.col("value")], rank_col="rn")
    blocks = r.groupBy("value").agg(
        F.min("rn").cast("long").alias("lo"),
        F.max("rn").cast("long").alias("hi"),
        F.count("*").cast("long").alias("ct"),
    )
    grp = (
        r.join(blocks.select("value", "lo", "hi"), "value")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("ni"),
            F.sum(
                (F.col("lo") + F.col("hi")).cast("decimal(38,0)")
            ).alias("r2"),
        )
    )
    tot0 = grp.agg(
        F.sum("ni").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
    )
    terms = grp.crossJoin(F.broadcast(tot0)).select(
        "n", "k",
        F.expr(
            "(2 * (r2 - cast(ni as decimal(38,0)) * (n + 1))"
            "   * (r2 - cast(ni as decimal(38,0)) * (n + 1))"
            " + ni) div (2 * cast(ni as decimal(38,0)))"
        ).alias("ti"),
    )
    ties = blocks.agg(
        F.sum(
            F.col("ct").cast("decimal(38,0)") * F.col("ct") * F.col("ct")
            - F.col("ct")
        ).alias("tie_cubesd")
    )
    tot = terms.groupBy("n", "k").agg(
        F.sum(F.col("ti").cast("decimal(38,0)")).alias("st")
    )
    return tot.crossJoin(F.broadcast(ties)).select(
        F.col("n").alias("n_values"),
        F.col("k").alias("n_groups"),
        F.expr(
            "cast((3 * 1000000 * st)"
            " div (cast(n as decimal(38,0)) * (n + 1)) as long)"
        ).alias("h_micro"),
        F.col("tie_cubesd").cast("long").alias("tie_cubes"),
    )


_LB_LAGS = 12  # Ljung-Box lag depth (matches events_acf_lags)


@register(
    "events_ljung_box",
    # Ljung–Box portmanteau Q over the same hourly series and exact
    # integer deviations as events_acf_lags: each lag's r_k is the
    # IDENTICAL round-6 quantized ratio the ACF query emits, and its
    # Q term round(10⁶·n(n+2)·r_k²/(n−k)) quantizes once per lag —
    # the sum is then pure BIGINT. Tests H₀ "white noise" jointly
    # across lags 1..12 instead of eyeballing 12 ACF bars.
    oracle=f"""
    WITH hourly AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    scal AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s
        FROM hourly GROUP BY event_type
    ),
    dev AS (
        SELECT h.event_type, h.h,
               CAST(sc.n * h.x - sc.s AS HUGEINT) AS dev
        FROM hourly h JOIN scal sc USING (event_type)
    ),
    den AS (
        SELECT event_type, sum(dev * dev) AS d
        FROM dev GROUP BY event_type
    ),
    num AS (
        SELECT a.event_type, l.lag, sum(a.dev * b.dev) AS nu
        FROM dev a
        JOIN generate_series(1, {_LB_LAGS}) AS l(lag) ON true
        JOIN dev b ON b.event_type = a.event_type
                  AND b.h = a.h + l.lag
        GROUP BY 1, 2
    ),
    terms AS (
        SELECT n.event_type, sc.n, n.lag,
               round(CAST(n.nu AS DOUBLE)
                     / CAST(nullif(d.d, 0) AS DOUBLE), 6) AS r6
        FROM num n
        JOIN den d USING (event_type)
        JOIN scal sc USING (event_type)
        WHERE sc.n > n.lag
    )
    SELECT event_type, CAST(max(n) AS BIGINT) AS n_hours,
           CAST(count(*) AS BIGINT) AS n_lags,
           CAST(sum(CAST(round(1e6 * (r6 * r6)
                    * CAST(n * (n + 2) AS DOUBLE) / (n - lag))
                    AS BIGINT)) AS BIGINT) AS q_micro
    FROM terms
    GROUP BY event_type
    """,
)
def events_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau test per event type: is the hourly
    volume series white noise, judged JOINTLY across lags 1..12?
    Q = n(n+2)·Σ r_k²/(n−k); compare to χ²(12) driver-side. The
    one-number companion to events_acf_lags' per-lag drill-down —
    the model-residual check that decides whether the forecast
    family (SES/Holt/seasonal) has absorbed the structure.

    Exactness: deviations and their products are exact integers (the
    ACF's scale-by-n trick, DECIMAL(38)); each lag's r_k is the same
    round-6 quantized double the ACF query ships (proven engine-equal
    there), and the Q term quantizes once per lag before a pure
    integer sum.

    Scale shape: identical to events_acf_lags — hourly rollup is the
    only corpus-scale agg; lag pairing self-equi-joins the
    calendar-bounded series with a broadcast 12-row lag relation;
    the Q sum is a k-row agg."""
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    hourly = ev.groupBy(
        "event_type",
        F.expr("floor(unix_timestamp(ts)) div 3600").alias("h"),
    ).agg(F.count("*").cast("long").alias("x"))
    scal = hourly.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    dev = hourly.join(F.broadcast(scal), "event_type").select(
        "event_type", "h",
        (F.col("n") * F.col("x") - F.col("s"))
        .cast("decimal(38,0)").alias("dev"),
    )
    den = dev.groupBy("event_type").agg(
        F.sum(F.col("dev") * F.col("dev")).alias("d")
    )
    lags = spark.range(1, _LB_LAGS + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    b = dev.select(
        F.col("event_type").alias("bt"),
        F.col("h").alias("bh"),
        F.col("dev").alias("bdev"),
    )
    num = (
        dev.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("bt") == F.col("event_type"))
            & (F.col("bh") == F.col("h") + F.col("lag")),
        )
        .groupBy("event_type", "lag")
        .agg(F.sum(F.col("dev") * F.col("bdev")).alias("nu"))
    )
    terms = (
        num.join(F.broadcast(den), "event_type")
        .join(F.broadcast(scal), "event_type")
        .filter(F.col("n") > F.col("lag"))
        .select(
            "event_type", "n", "lag",
            F.round(
                F.col("nu").cast("double")
                / F.nullif(F.col("d"), F.lit(0)).cast("double"),
                6,
            ).alias("r6"),
        )
    )
    return terms.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_hours"),
        F.count("*").cast("long").alias("n_lags"),
        F.sum(
            F.round(
                F.lit(1e6)
                * (F.col("r6") * F.col("r6"))
                * (F.col("n") * (F.col("n") + 2)).cast("double")
                / (F.col("n") - F.col("lag"))
            ).cast("long")
        ).cast("long").alias("q_micro"),
    )


# ── Round 7: Poisson bootstrap (the web-scale resampling method) ─────
_BOOT_B = 32  # bootstrap replicates
# Poisson(1) inverse-CDF thresholds in micro units (floor(1e6·CDF(k))):
# a hash-uniform u in [0, 1e6) maps to the weight k whose threshold
# first exceeds u — identical CASE ladder in both engines.
_POIS_CDF = (367879, 735758, 919698, 981011, 996340, 999405, 999916,
             999989, 999998)


def _pois_case(u: str) -> str:
    """CASE ladder mapping a micro-uniform to a Poisson(1) draw."""
    branches = "".join(
        f" WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_CDF)
    )
    return f"(CASE{branches} ELSE 9 END)"


@register(
    "events_poisson_bootstrap_ci",
    # Poisson bootstrap of each type's mean daily volume: replicate b
    # reweights day d by w ~ Poisson(1), drawn DETERMINISTICALLY from
    # md5(type|b|day) → micro-uniform → inverse-CDF ladder (the
    # md5-replay discipline every trainer here uses). Replicate means
    # are floored milli-units (exact integers), so the bootstrap SE's
    # variance numerator B·Σm²−(Σm)² is exact and the one sqrt runs
    # on identical integers in both engines. This is the resampling
    # method that actually works on distributed data — per-row
    # independent weights, no global permutation (Kleiner et al.;
    # the standard web-scale bootstrap).
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    w AS (
        SELECT daily.event_type, daily.d, daily.x, b.b,
               {_pois_case(
                   "CAST(('0x' || substr(md5(daily.event_type || '|' ||"
                   " b.b || '|' || daily.d), 1, 12)) AS BIGINT)"
                   " % 1000000")} AS wt
        FROM daily CROSS JOIN generate_series(1, {_BOOT_B}) AS b(b)
    ),
    means AS (
        SELECT event_type, b,
               CAST(sum(wt * x) * 1000 // nullif(sum(wt), 0) AS BIGINT)
                   AS m_milli
        FROM w GROUP BY event_type, b
        HAVING sum(wt) > 0
    ),
    agg AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_reps,
               CAST(sum(m_milli) AS BIGINT) AS sm,
               CAST(sum(CAST(m_milli AS HUGEINT) * m_milli) AS HUGEINT)
                   AS smm,
               CAST(min(m_milli) AS BIGINT) AS boot_min_milli,
               CAST(max(m_milli) AS BIGINT) AS boot_max_milli
        FROM means GROUP BY event_type
    )
    SELECT event_type, n_reps,
           CAST(sm // n_reps AS BIGINT) AS boot_mean_milli,
           boot_min_milli, boot_max_milli,
           CAST(round(sqrt(CAST(n_reps * smm
                    - CAST(sm AS HUGEINT) * sm AS DOUBLE)
                    / (CAST(n_reps AS DOUBLE) * (n_reps - 1))))
                AS BIGINT) AS boot_se_milli
    FROM agg WHERE n_reps > 1
    """,
)
def events_poisson_bootstrap_ci(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Poisson-bootstrap standard error of each event type's mean
    daily volume — the uncertainty bar every point estimate in this
    registry lacks. The classical bootstrap needs a global resample
    (a shuffle per replicate, dead at scale); the Poisson bootstrap
    reweights each observation independently with w ~ Poisson(1), so
    ALL {b} replicates ride ONE pass over the daily table as a
    broadcast-replicate cross join — the method large-scale A/B
    platforms actually use. Weights are md5-derived (type|replicate|
    day → micro-uniform → inverse-CDF ladder), so both engines draw
    the identical pseudo-randomness and the result is replayable, the
    same discipline as the k-means/BPE trainers. Replicate means
    floor to exact milli-integers; the SE's variance numerator is
    exact DECIMAL(38)/HUGEINT with one final sqrt on identical
    values; min/max replicate means bound the CI.

    Scale shape: the corpus-scale agg is the daily rollup; the
    replicate expansion multiplies the CALENDAR-bounded daily table
    by {b} (a few thousand rows regardless of corpus size), then one
    (type, replicate) agg and one type agg. No global permutation,
    no shuffle per replicate, no collect.""".replace("{b}", str(_BOOT_B))
    utc(spark)
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "event_type",
        F.expr("floor(unix_timestamp(ts)) div 86400").alias("d"),
    ).agg(F.count("*").cast("long").alias("x"))
    reps = spark.range(1, _BOOT_B + 1).select(
        F.col("id").cast("int").alias("b")
    )
    # conv() returns STRING; cast to BIGINT BEFORE the modulo so the
    # arithmetic is integer end-to-end (ADVICE r7: leaving the modulo
    # on the string coerces via DOUBLE — exact only below 2^53, a trap
    # if the 12-hex-char substring ever grows past 13).
    u = (
        "CAST(conv(substr(md5(concat(event_type, '|', b, '|', d)), 1,"
        " 12), 16, 10) AS BIGINT) % 1000000"
    )
    w = daily.crossJoin(F.broadcast(reps)).select(
        "event_type", "b", "x",
        F.expr(_pois_case(u)).alias("wt"),
    )
    means = (
        w.groupBy("event_type", "b")
        .agg(
            F.sum(F.col("wt") * F.col("x")).cast("long").alias("swx"),
            F.sum("wt").cast("long").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            "event_type",
            F.expr("swx * 1000 div sw").cast("long").alias("m_milli"),
        )
    )
    agg = means.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_reps"),
        F.sum("m_milli").cast("long").alias("sm"),
        F.sum(
            F.col("m_milli").cast("decimal(38,0)") * F.col("m_milli")
        ).alias("smm"),
        F.min("m_milli").cast("long").alias("boot_min_milli"),
        F.max("m_milli").cast("long").alias("boot_max_milli"),
    )
    return agg.filter(F.col("n_reps") > 1).select(
        "event_type", "n_reps",
        F.expr("sm div n_reps").cast("long").alias("boot_mean_milli"),
        "boot_min_milli", "boot_max_milli",
        F.round(
            F.sqrt(
                F.expr(
                    "cast(n_reps * smm - cast(sm as decimal(38,0)) * sm"
                    " as double)"
                )
                / (
                    F.col("n_reps").cast("double")
                    * (F.col("n_reps") - 1)
                )
            )
        ).cast("long").alias("boot_se_milli"),
    )

"""Scale-safe exact global ranking / ntile.

The naive exact ntile — ``ntile(b) OVER (ORDER BY key)`` with no
PARTITION BY — collapses the whole input onto ONE task (Spark plans a
single-partition WindowExec and warns ``No Partition Defined``). Fine
at sf0.1; a straight one-executor bottleneck on a 10⁹-row customer or
document table.

This module computes the SAME exact SQL-standard ntile with no global
window, using the classic distributed-ranking decomposition:

1. ``repartitionByRange`` on the ordering key — Spark's range
   partitioner gives ordered, non-overlapping partitions (partition i
   holds strictly earlier keys than partition i+1) while every
   partition stays executor-sized.
2. A per-partition ``row_number`` (Window PARTITIONED BY the range
   partition id — bounded state, parallel).
3. Partition row-counts → running-sum offsets. This frame has one row
   PER PARTITION (a cluster constant, ≤ spark.sql.shuffle.partitions),
   so its cumulative window is bounded by cluster config, not data.
4. global rank = offset[pid] + local row_number; ntile bucket from the
   SQL-standard formula (first n%b buckets get the extra row).

Exactness: the ordering key must be a TOTAL order (callers append a
unique tie-break column), so every row's global rank — and therefore
its bucket — is independent of where the sampled range boundaries
happen to fall. ``localCheckpoint`` pins the sampled partitioning so
the offsets job and the rank job see identical partition membership.

Checkpoint lifecycle and fault tolerance: ``localCheckpoint`` stores
the pinned partitions in EXECUTOR storage memory/disk and is NOT
fault-tolerant — losing an executor loses its blocks and fails the
query (Spark cannot recompute a local checkpoint). Two mitigations:

* Long-lived sessions (bench sweeps, plan gates, notebooks) should
  call :func:`release_pinned` once downstream results are consumed,
  or the pinned blocks accumulate for the session's lifetime.
* Real clusters that need lineage-safe recovery should set a
  checkpoint dir (``sc.setCheckpointDir``) and pass
  ``reliable=True`` — the pin then goes through ``checkpoint()``
  (HDFS/object-store backed, survives executor loss) at the cost of
  a write to reliable storage.

Reference parity: the reference engine has no distributed ntile at
all (single-node scan, `src/delta/mod.rs` query surface is DataFusion
on one box); this is the Spark-first scale path for the same result.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PID = "__rank_pid"
_OFF = "__rank_off"
_CNT = "__rank_cnt"
_TOT = "__rank_n"

# DataFrames pinned by with_global_rank, so callers that build many
# ranked frames in one session (bench sweeps, plan gates) can free the
# executor storage the local checkpoints occupy. Strong references on
# purpose: the Python wrapper is a few hundred bytes — the resource
# being managed is the executor block storage behind it, which only
# release_pinned() (or session stop) frees.
_PINNED: list[DataFrame] = []


def pin(df: DataFrame, eager: bool = True) -> DataFrame:
    """``localCheckpoint`` + register in the session pinned ledger so
    :func:`release_pinned` frees the executor blocks. This is the one
    way query code materializes an intermediate: ``localCheckpoint(``
    appears nowhere else in the package. ``bench.py``, the sweep tools
    and the test suite's autouse fixture call ``release_pinned()``
    after each query; an unregistered checkpoint stays in executor
    storage for the session's lifetime (neither ``del`` nor a driver
    GC frees it). A loop that pins each round keeps every round's
    blocks until that release."""
    p = df.localCheckpoint(eager=eager)
    _PINNED.append(p)
    return p


def release_pinned(blocking: bool = False) -> int:
    """Unpersist every checkpoint pinned by :func:`with_global_rank` /
    :func:`pin` in this session. Call after the query's results have
    been materialized (collected/written); the pinned DataFrames, and
    anything built on them, become unusable. Returns the number freed.

    The blocks belong to the checkpoint's own RDD, the one the
    ``LogicalRDD`` leaf of the pinned frame scans. ``DataFrame.rdd``
    is a fresh conversion RDD over that plan and holds no blocks, so
    unpersisting it frees nothing."""
    n = 0
    while _PINNED:
        df = _PINNED.pop()
        try:
            df._jdf.logicalPlan().rdd().unpersist(blocking)
            n += 1
        except Exception:
            pass  # session already stopped / block already dropped
    return n


def with_global_rank(
    df: DataFrame,
    order_by: list[Column],
    rank_col: str = "__rank",
    total_col: str | None = None,
    reliable: bool | None = None,
) -> DataFrame:
    """Append an exact 1-based global rank under ``order_by`` (which
    must be a total order — include a unique tie-break) without a
    single-partition window. Optionally also appends the total row
    count as ``total_col`` (broadcast 1-row agg, no collect).

    ``reliable=True`` pins through ``checkpoint()`` (requires
    ``sc.setCheckpointDir``; survives executor loss) instead of
    ``localCheckpoint()`` (executor-memory pin, faster, but an
    executor failure fails the query — see module docstring).
    ``reliable=None`` (default) resolves from
    ``$SPARK_GRAFT_RELIABLE_RANKS`` — ``session.get_spark`` always
    sets a checkpoint dir, so a cluster deploy flips ONE env var
    (plus pointing ``SPARK_GRAFT_CHECKPOINT_DIR`` at durable storage)
    to make every exact-rank path executor-loss-safe; local runs keep
    the fast memory pin."""
    if reliable is None:
        reliable = os.environ.get("SPARK_GRAFT_RELIABLE_RANKS", "") == "1"
    ranged = df.repartitionByRange(*order_by).withColumn(
        _PID, F.spark_partition_id()
    )
    if reliable:
        pinned = ranged.checkpoint()
        _PINNED.append(pinned)
    else:
        pinned = pin(ranged)
    counts = pinned.groupBy(_PID).agg(F.count("*").alias(_CNT))
    # offsets = running sum of the counts of all EARLIER partitions.
    # counts has one row per range partition — bounded by cluster
    # config, not data — so rather than a partition-less cumulative
    # window (the exact shape this module exists to eliminate; the
    # repo's plan gate forbids it), compute it as a triangular
    # broadcast self-join + agg: ≤P² pair rows for a cluster-constant
    # P, fully parallel, zero WindowExec.
    a = counts.select(F.col(_PID).alias("__a_pid"))
    b = counts.select(F.col(_PID).alias("__b_pid"), F.col(_CNT).alias("__b_cnt"))
    offs = (
        a.join(F.broadcast(b), F.col("__b_pid") < F.col("__a_pid"), "left")
        .groupBy("__a_pid")
        .agg(F.coalesce(F.sum("__b_cnt"), F.lit(0)).alias(_OFF))
        .select(F.col("__a_pid").alias(_PID), _OFF)
    )
    ranked = pinned.join(F.broadcast(offs), _PID).withColumn(
        rank_col,
        (
            F.col(_OFF)
            + F.row_number().over(Window.partitionBy(_PID).orderBy(*order_by))
        ).cast("long"),
    )
    if total_col is not None:
        tot = counts.agg(F.sum(_CNT).cast("long").alias(total_col))
        ranked = ranked.crossJoin(F.broadcast(tot))
    return ranked.drop(_PID, _OFF)


def ntile_bucket(rank_col: str, total_col: str, n_buckets: int) -> Column:
    """SQL-standard ntile from an exact global rank: with n rows and b
    buckets, the first n%b buckets hold floor(n/b)+1 rows, the rest
    floor(n/b) — identical to Spark's and DuckDB's NTILE. Integer
    `div` throughout; the q=0 (n<b) edge falls into the first branch."""
    r, n = F.col(rank_col), F.col(total_col)
    b = F.lit(n_buckets).cast("long")
    q = F.expr(f"{total_col} div {n_buckets}")
    rem = n % b
    big = rem * (q + 1)  # rows living in the (q+1)-sized buckets
    return (
        F.when(r <= big, F.expr(f"({rank_col} - 1) div ({total_col} div {n_buckets} + 1) + 1"))
        .otherwise(
            rem
            + F.expr(
                f"({rank_col} - 1 - ({total_col} % {n_buckets})"
                f" * ({total_col} div {n_buckets} + 1))"
                f" div ({total_col} div {n_buckets}) + 1"
            )
        )
        .cast("int")
    )


def exact_global_ntile(
    df: DataFrame,
    order_by: list[Column],
    n_buckets: int,
    bucket_col: str,
) -> DataFrame:
    """df + an exact ntile(n_buckets) bucket column under ``order_by``
    (a total order), computed with range-partitioned parallelism
    instead of a global single-partition window."""
    ranked = with_global_rank(
        df, order_by, rank_col="__rank", total_col=_TOT
    )
    return ranked.withColumn(
        bucket_col, ntile_bucket("__rank", _TOT, n_buckets)
    ).drop("__rank", _TOT)

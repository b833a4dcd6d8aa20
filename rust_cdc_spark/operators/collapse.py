"""CDC collapse: last-image-per-key within a change set.

Reference semantics (``ValueBuffers`` last-writer-wins map,
/root/reference/src/delta/value_buffer.rs:15-83 and
``IngestProcessor::process_record``, /root/reference/src/delta/mod.rs:124-183):

- Add(after)            → buffer[key] = after
- Update(before, after) → remove(before-key); buffer[after-key] = after
- Delete(before)        → buffer[key] = tombstone
- consume()             → one final image (or tombstone) per key

Spark-first restatement: a ``row_number`` window over
``partitionBy(key).orderBy(log_pos DESC)`` picks the last event per key in
binlog total order — ONE shuffle on the key, map-side nothing to combine
(row_number needs full key locality, but AQE coalesces the output).
At 100 TB the window shuffle partitions by key; skewed hot keys are
handled by AQE skew-split since each key's group is tiny (only versions of
one row).

Key extraction mirrors ``extract_unique_key_value``
(/root/reference/src/delta/mod.rs:108-122): multiple key fields are
composed — here as a struct column, which hashes/compares natively (no
string concat needed).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rust_cdc_spark.datamodel import OP_DELETE

# Binlog total order is (file, position): log_pos restarts near 4 at every
# file rotation (the reference applies events in arrival order, which is
# exactly this file-major order), so ordering by log_pos alone would pick
# the OLDER event whenever a change set spans a rotation.
DEFAULT_ORDER: tuple[str, ...] = ("log_file", "log_pos")


def _order_desc(cdc: DataFrame, order_by: str | Sequence[str]) -> list:
    """Descending sort expressions for the binlog order columns.

    A single column name is used as-is; for the default composite order,
    columns absent from the frame (e.g. synthetic change sets without a
    ``log_file``) are skipped so single-file inputs keep working.
    """
    if isinstance(order_by, str):
        cols = [order_by]
    else:
        cols = [c for c in order_by if c in cdc.columns]
        if not cols:
            raise ValueError(
                f"none of the order columns {list(order_by)} exist in the "
                f"change set (columns: {cdc.columns})"
            )
    return [F.col(c).desc() for c in cols]


def collapse_last_image(
    cdc: DataFrame,
    key_cols: list[str],
    order_by: str | Sequence[str] = DEFAULT_ORDER,
    keep_deletes: bool = True,
) -> DataFrame:
    """Collapse a CDC set to the final image (or tombstone) per key.

    ``key_cols`` are columns of the envelope (e.g. the precomputed ``key``
    column, or fields under ``after``). Returns one row per key — the
    row greatest in binlog order ``order_by`` (file-major, then position,
    so sets spanning a log rotation collapse correctly). With
    ``keep_deletes=False``, keys whose final operation is a delete are
    dropped (the "current state" view; the reference reaches the same end
    state by MERGE).
    """
    w = Window.partitionBy(*[F.col(k) for k in key_cols]).orderBy(
        *_order_desc(cdc, order_by)
    )
    out = (
        cdc.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if not keep_deletes:
        out = out.filter(F.col("op") != OP_DELETE)
    return out

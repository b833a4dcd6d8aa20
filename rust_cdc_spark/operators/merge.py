"""MERGE upsert: apply a collapsed CDC set onto a target table.

Reference semantics: drain the last-writer-wins buffer and transactionally
rewrite the Delta table (/root/reference/src/delta/mod.rs:301-350 commit,
value_buffer.rs consume). ``merge_upsert`` expresses those MERGE
semantics with built-ins (``streaming/pipeline.py`` has the foreachBatch
wiring):

    merged = target ANTI-JOIN changes-on-keys   (rows untouched)
           ∪ changes.final-image WHERE op != 'D' (rows upserted)

Scale notes: the anti-join and the collapse shuffle on the same key —
Catalyst runs them as one exchange-reuse-friendly plan; a small change set
broadcasts automatically (AQE), so steady-state CDC (small batch vs huge
table) is a broadcast anti-join: no shuffle of the 100 TB side.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rust_cdc_spark.datamodel import OP_DELETE, OP_UPDATE
from rust_cdc_spark.operators.collapse import DEFAULT_ORDER, collapse_last_image


def merge_upsert(
    target: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    order_by: str | Sequence[str] = DEFAULT_ORDER,
) -> DataFrame:
    """Return the post-MERGE state of ``target`` given envelope ``changes``.

    ``target`` columns must match the fields of the change ``after``
    struct, and ``key_cols`` must be fields of that image (the reference
    extracts the unique key from the row image itself,
    /root/reference/src/delta/mod.rs:108-122). Deletes remove the key;
    inserts/updates replace the full row image (full-row last-write-wins,
    value_buffer.rs:30-47). A primary-key-changing update removes the row
    under the OLD key as well (the reference's ``ValueBuffers`` does
    ``remove(before-key)`` on every update, value_buffer.rs:36-40) —
    unless a later change re-establishes that key, in which case its final
    image comes back through the upsert side.
    """
    keyed = changes.withColumns(
        {k: F.coalesce(F.col(f"after.{k}"), F.col(f"before.{k}")) for k in key_cols}
    )
    final = collapse_last_image(keyed, key_cols, order_by)
    upserts = final.filter(F.col("op") != OP_DELETE).select(F.col("after.*"))
    moved_from = (
        changes.filter(F.col("op") == OP_UPDATE)
        .select(*[F.col(f"before.{k}").alias(k) for k in key_cols])
        .na.drop(how="all")
    )
    touched = final.select(*key_cols).unionByName(moved_from).distinct()
    untouched = target.join(touched, on=key_cols, how="left_anti")
    return untouched.unionByName(upserts, allowMissingColumns=True)

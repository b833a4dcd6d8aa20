"""Materialized aggregate views maintained from a table's change feed.

Closes the loop the reference leaves to downstream consumers: the CDC
pipeline maintains the base table (MERGE per microbatch,
/root/reference/src/delta/mod.rs:124-183); anything built on it — a
per-group rollup, a dashboard table — would naively rescan the snapshot
every refresh. ``MaterializedAggView`` instead follows the table's CDF
(`ParquetUpsertTable.diff`) and advances by retraction deltas
(`operators/incremental.py`): the before-image of every changed row
retracts from its group, the after-image adds to its (possibly
different) group. Cost per refresh is O(changes) + O(groups), never
O(table).

Exactness: sum inputs are integer-quantized expressions (cents,
micro-units), so the maintained view equals a full recompute
bit-for-bit — asserted after every refresh in
tests/test_incremental_view.py.

Crash safety is the table's own txn pattern: the view is stored as a
``ParquetUpsertTable`` keyed on the group columns, and each commit
records the base-table version it reflects as a ``txn`` entry; a
replayed refresh for an already-applied version is a no-op, and refresh
always advances from the recorded version, so missed intermediate
versions are folded into one catch-up diff (diff(v_view, v_table)
telescopes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from rust_cdc_spark.operators import incremental as IV
from rust_cdc_spark.streaming.pipeline import ParquetUpsertTable

BASE_APP_ID = "base"  # the txn entry holding the reflected base version


class MaterializedAggView:
    """count + integer sums per group, maintained from a table's CDF.

    ``sum_exprs`` maps view columns to quantizing expressions over the
    base table's columns, e.g. ``{"total_cents": F.round(F.col("value")
    * 100).cast("bigint")}``.
    """

    def __init__(
        self,
        path: str,
        group_cols: list[str],
        count_col: str = "n_rows",
        sum_exprs: dict[str, Column] | None = None,
    ):
        self.table = ParquetUpsertTable(path, group_cols)
        self.group_cols = group_cols
        self.count_col = count_col
        self.sum_exprs = sum_exprs or {}

    # ── state ───────────────────────────────────────────────────────────
    def base_version(self) -> int:
        """Base-table version this view currently reflects (−1: empty)."""
        return self.table._meta()["txn"].get(BASE_APP_ID, -1)

    def read(self, spark: SparkSession) -> DataFrame | None:
        return self.table.read(spark)

    # ── measures ────────────────────────────────────────────────────────
    def _measured(self, images: DataFrame) -> DataFrame:
        """Project images to (group_cols, quantized measure sources)."""
        return images.select(
            *self.group_cols,
            *[expr.alias(f"__m_{vc}") for vc, expr in self.sum_exprs.items()],
        )

    def _sum_col_map(self) -> dict[str, str]:
        return {vc: f"__m_{vc}" for vc in self.sum_exprs}

    # ── refresh ─────────────────────────────────────────────────────────
    def refresh(self, spark: SparkSession, table: ParquetUpsertTable) -> None:
        """Advance the view to the base table's current version.

        Bootstrap (no view yet) is the one full recompute; every later
        refresh reads only diff(reflected, current). Replays no-op."""
        target_v = table.version()
        have_v = self.base_version()
        if target_v <= have_v:
            return  # replayed / already current
        if have_v >= 0:
            try:
                changes = table.diff(spark, have_v, target_v)
            except ValueError:
                # The reflected snapshot fell out of the table's retention
                # window (view lagged > retain versions) — the one case
                # where a full recompute is forced.
                have_v = -1
        if have_v < 0:
            base = table.read(spark)
            view = IV.aggregate_view(
                self._measured(base),
                self.group_cols,
                self.count_col,
                self._sum_col_map(),
            )
            self.table.overwrite(view, BASE_APP_ID, target_v)
            return
        old = self._measured(
            changes.filter(F.col("before").isNotNull()).select("before.*")
        )
        new = self._measured(
            changes.filter(F.col("after").isNotNull()).select("after.*")
        )
        delta = IV.signed_delta(
            old, new, self.group_cols, list(self._sum_col_map().values())
        )
        view = IV.apply_delta(
            self.read(spark),
            delta,
            self.group_cols,
            self.count_col,
            self._sum_col_map(),
        )
        self.table.overwrite(view, BASE_APP_ID, target_v)

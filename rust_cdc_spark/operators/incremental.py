"""Incremental view maintenance over a CDC stream.

The reference maintains the *base table* (MERGE of collapsed change
batches, /root/reference/src/delta/mod.rs:124-183). The first thing a
consumer builds on that table is an aggregate view — and recomputing it
per microbatch is O(table) when the batch is O(batch). For distributive
aggregates (count, sum — and avg/rate derived from them) the view can
be maintained from the batch alone plus the previous per-key state:

    touched   = keys appearing in the collapsed batch
    delta(g)  = Σ contributions of touched keys' NEW images (deletes none)
              − Σ contributions of touched keys' OLD images
    view'     = view ⊕ delta          (outer join, add, drop zero groups)

This is classic retraction-based IVM (the algebra behind Flink's
retract streams and Materialize/DBSP deltas), restated as three
key-partitioned DataFrame ops. Group-changing updates are handled for
free: the old image retracts from its old group, the new image adds to
its new one.

Exactness contract: sum columns must be integer-quantized by the caller
(e.g. cents, micro-units). Integer addition is associative, so
``view ⊕ delta`` is bit-identical to a full recompute — the equivalence
the tests and the DuckDB oracle assert. Float sums would drift by
summation order and turn the view into an approximation.

Scale shape: the batch collapse is a batch-sized window; old-image
lookup is a key-equi semi join against the state table (delta-sized,
not table-sized, when the state is bucketed/partitioned by key); the
delta agg and the view join are |groups|-sized. Nothing scans the full
base table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rust_cdc_spark.datamodel import OP_DELETE
from rust_cdc_spark.operators.collapse import collapse_last_image


def contributions(
    rows: DataFrame, group_cols: list[str], sum_cols: list[str], sign: int
) -> DataFrame:
    """(group, ±1 count, ±sums) per input row — one side of a delta."""
    return rows.select(
        *group_cols,
        F.lit(sign).cast("bigint").alias("__dn"),
        *[
            (F.lit(sign) * F.col(c)).cast("bigint").alias(f"__d_{c}")
            for c in sum_cols
        ],
    )


def batch_delta(
    prev_state: DataFrame,
    batch_final: DataFrame,
    key_cols: list[str],
    group_cols: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Per-group delta of one collapsed CDC batch against the previous
    state.

    ``prev_state``: one row per live key (key cols + attribute cols).
    ``batch_final``: the batch collapsed to its final image per key —
    key cols, ``op`` (tombstones kept), and the same attribute cols.
    Returns (group_cols, __dn, __d_<sum_col>...) with one row per group.
    """
    touched = batch_final.select(*key_cols).distinct()
    old = prev_state.join(touched, key_cols, "left_semi")
    new = batch_final.filter(F.col("op") != OP_DELETE)
    return signed_delta(old, new, group_cols, sum_cols)


def signed_delta(
    old: DataFrame, new: DataFrame, group_cols: list[str], sum_cols: list[str]
) -> DataFrame:
    """Per-group ``Σ new − Σ old``: retract the old images, add the new
    ones. Returns (group_cols, __dn, __d_<sum_col>...), one row per
    group."""
    both = contributions(old, group_cols, sum_cols, -1).unionByName(
        contributions(new, group_cols, sum_cols, +1)
    )
    return both.groupBy(*group_cols).agg(
        F.sum("__dn").alias("__dn"),
        *[F.sum(f"__d_{c}").alias(f"__d_{c}") for c in sum_cols],
    )


def apply_delta(
    view: DataFrame,
    delta: DataFrame,
    group_cols: list[str],
    count_col: str,
    sum_col_map: dict[str, str],
) -> DataFrame:
    """``view ⊕ delta``: outer-join on the group, add counts and sums,
    drop groups whose count reaches zero. ``sum_col_map`` maps each view
    sum column to the source attribute it sums (e.g. {"total_cents":
    "cents"})."""
    joined = view.join(delta, group_cols, "full_outer")
    out = joined.select(
        *group_cols,
        (
            F.coalesce(F.col(count_col), F.lit(0))
            + F.coalesce(F.col("__dn"), F.lit(0))
        ).alias(count_col),
        *[
            (
                F.coalesce(F.col(vc), F.lit(0))
                + F.coalesce(F.col(f"__d_{src}"), F.lit(0))
            ).alias(vc)
            for vc, src in sum_col_map.items()
        ],
    )
    return out.filter(F.col(count_col) > 0)


def aggregate_view(
    state: DataFrame,
    group_cols: list[str],
    count_col: str,
    sum_col_map: dict[str, str],
) -> DataFrame:
    """Full recompute of the maintained view — the bootstrap (and the
    equivalence oracle the incremental path must match bit-for-bit)."""
    return state.groupBy(*group_cols).agg(
        F.count("*").cast("bigint").alias(count_col),
        *[
            F.sum(F.col(src)).cast("bigint").alias(vc)
            for vc, src in sum_col_map.items()
        ],
    )


def join_view_advance(
    view: DataFrame,
    r_state: DataFrame,
    s_state: DataFrame,
    r_delta: DataFrame,
    s_delta: DataFrame,
    key_cols: list[str],
    order_col: str = "log_pos",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One maintenance step of a two-table key-equi JOIN view
    V = R ⋈ S under CDC deltas — the delta-join sibling of the
    aggregate-view path above.

    ``r_state``/``s_state``: one row per key (key cols + ``op`` +
    ``order_col`` + side attributes; tombstones allowed). ``r_delta``/
    ``s_delta``: the new batch's raw change rows in the same shape.
    Returns ``(view', r_state', s_state')``.

    The step is merge-scoped: keys touched by EITHER side's delta are
    semi-join-extracted from the states, re-collapsed together with the
    delta rows, re-joined, and swapped into the view with a key-equi
    anti join. Cost ∝ |touched keys|, never |R| or |S| — the property
    that keeps a denormalized sink maintainable when the base tables
    are 100 TB and a batch touches thousandths of a percent of keys.
    With integer/exact attribute columns the result is bit-identical
    to a full recompute (asserted by the oracle and tests).

    NULL join keys: a NULL-keyed row can never appear in the equi-join
    view, but plain semi/anti joins also never MATCH NULL keys — so a
    NULL-keyed delta row would union into the state without retracting
    its predecessor, leaving duplicate per-key state rows. Such rows
    are dropped up front (from deltas AND states), which preserves V
    exactly and keeps the state one-row-per-key."""
    non_null = None
    for k in key_cols:
        cond = F.col(k).isNotNull()
        non_null = cond if non_null is None else (non_null & cond)
    r_state, s_state = r_state.filter(non_null), s_state.filter(non_null)
    r_delta, s_delta = r_delta.filter(non_null), s_delta.filter(non_null)
    touched = (
        r_delta.select(*key_cols)
        .union(s_delta.select(*key_cols))
        .distinct()
    )
    r2 = collapse_last_image(
        r_state.join(touched, key_cols, "semi").unionByName(r_delta),
        key_cols,
        order_col,
    )
    s2 = collapse_last_image(
        s_state.join(touched, key_cols, "semi").unionByName(s_delta),
        key_cols,
        order_col,
    )
    live = lambda df: df.filter(F.col("op") != OP_DELETE)  # noqa: E731
    r_attrs = [
        c for c in r_state.columns
        if c not in (*key_cols, "op", order_col)
    ]
    s_attrs = [
        c for c in s_state.columns
        if c not in (*key_cols, "op", order_col)
    ]
    v2 = (
        live(r2)
        .select(*key_cols, *r_attrs)
        .join(live(s2).select(*key_cols, *s_attrs), key_cols)
        .join(touched, key_cols, "semi")
    )
    view2 = view.join(touched, key_cols, "anti").unionByName(v2)
    r_state2 = r_state.join(touched, key_cols, "anti").unionByName(r2)
    s_state2 = s_state.join(touched, key_cols, "anti").unionByName(s2)
    return view2, r_state2, s_state2

"""join_view_advance: merge-scoped maintenance of V = R ⋈ S.

Folds a 4-batch CDC log through the operator and asserts the maintained
view (and both advanced states) are row-identical to a full recompute
over the whole log — including delete, resurrect, and group-changing
update races. Mirrors the bit-exactness contract of the aggregate-view
IVM path (cdc_incremental_agg)."""

from __future__ import annotations

from pyspark.sql import functions as F

from rust_cdc_spark.operators import incremental as IV
from rust_cdc_spark.operators.collapse import collapse_last_image

# (key, log_pos, op, side, payload) — a hand-built log with the nasty
# interleavings: update-after-delete (resurrect), delete-last, key
# present on only one side, payload flips across batches.
_LOG = [
    # batch 0: bootstrap inserts
    (1, 1, "I", "r", 10), (1, 2, "I", "s", 100),
    (2, 3, "I", "r", 20),                      # r-only key (no join row)
    (3, 4, "I", "s", 300),                     # s-only key
    (4, 5, "I", "r", 40), (4, 6, "I", "s", 400),
    # batch 1: updates + a delete that removes a join row
    (1, 7, "U", "r", 11),                      # payload flip
    (4, 8, "D", "s", 400),                     # kills join row for 4
    (2, 9, "I", "s", 200),                     # completes key 2's pair
    # batch 2: resurrect + s-side arrival for an r-only key
    (4, 10, "I", "s", 401),                    # resurrects 4's pair
    (3, 11, "I", "r", 30),                     # completes key 3
    (5, 12, "I", "r", 50),                     # new r-only key
    # batch 3: delete an r side (kills pair), flip both sides of 1
    (3, 13, "D", "r", 30),
    (1, 14, "U", "r", 12), (1, 15, "U", "s", 101),
    (5, 16, "I", "s", 500),                    # completes key 5
]


def _frames(spark, rows, side):
    sub = [(k, p, o, v) for (k, p, o, s, v) in rows if s == side]
    return spark.createDataFrame(
        sub,
        f"key long, log_pos long, op string, {side}_val long",
    )


def _recompute(spark, rows):
    r = collapse_last_image(_frames(spark, rows, "r"), ["key"], "log_pos")
    s = collapse_last_image(_frames(spark, rows, "s"), ["key"], "log_pos")
    return (
        r.filter(F.col("op") != "D")
        .select("key", "r_val")
        .join(s.filter(F.col("op") != "D").select("key", "s_val"), "key")
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_fold_equals_full_recompute(spark):
    batches = [
        [e for e in _LOG if 1 + 4 * b <= e[1] <= 4 * (b + 1)]
        for b in range(4)
    ]
    boot = batches[0]
    r_state = collapse_last_image(_frames(spark, boot, "r"), ["key"], "log_pos")
    s_state = collapse_last_image(_frames(spark, boot, "s"), ["key"], "log_pos")
    view = (
        r_state.filter(F.col("op") != "D")
        .select("key", "r_val")
        .join(
            s_state.filter(F.col("op") != "D").select("key", "s_val"),
            "key",
        )
    )
    prefix = list(boot)
    for batch in batches[1:]:
        view, r_state, s_state = IV.join_view_advance(
            view,
            r_state,
            s_state,
            _frames(spark, batch, "r"),
            _frames(spark, batch, "s"),
            ["key"],
        )
        prefix += batch
        # view is exact after EVERY step, not just the last one
        assert _rows(view.select("key", "r_val", "s_val")) == _rows(
            _recompute(spark, prefix).select("key", "r_val", "s_val")
        )
    # final state tables match a whole-log collapse too
    for side, state in (("r", r_state), ("s", s_state)):
        want = collapse_last_image(_frames(spark, _LOG, side), ["key"], "log_pos")
        assert _rows(state) == _rows(want)


def test_untouched_keys_never_recomputed(spark):
    """The advance must not disturb rows of untouched keys: feed an
    empty delta and assert the view/states pass through identically."""
    boot = _LOG[:6]
    r_state = collapse_last_image(_frames(spark, boot, "r"), ["key"], "log_pos")
    s_state = collapse_last_image(_frames(spark, boot, "s"), ["key"], "log_pos")
    view = _recompute(spark, boot)
    empty_r = r_state.filter("1=0")
    empty_s = s_state.filter("1=0")
    view2, r2, s2 = IV.join_view_advance(
        view, r_state, s_state, empty_r, empty_s, ["key"]
    )
    assert _rows(view2) == _rows(view)
    assert _rows(r2) == _rows(r_state)
    assert _rows(s2) == _rows(s_state)


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@st.composite
def random_log(draw):
    n = draw(st.integers(min_value=4, max_value=40))
    rows = []
    for pos in range(1, n + 1):
        key = draw(st.integers(min_value=1, max_value=5))
        op = draw(st.sampled_from(["I", "U", "D"]))
        side = draw(st.sampled_from(["r", "s"]))
        rows.append((key, pos, op, side, draw(st.integers(0, 99))))
    cut = draw(st.integers(min_value=1, max_value=n - 1))
    return rows, cut


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=random_log())
def test_fold_equals_recompute_on_random_logs(spark, data):
    """Any interleaving of I/U/D across both sides, any split point:
    bootstrap(prefix) ⊕ advance(suffix) == full recompute."""
    rows, cut = data
    boot = [e for e in rows if e[1] <= cut]
    delta = [e for e in rows if e[1] > cut]
    r_state = collapse_last_image(_frames(spark, boot, "r"), ["key"], "log_pos")
    s_state = collapse_last_image(_frames(spark, boot, "s"), ["key"], "log_pos")
    view = _recompute(spark, boot)
    view2, r2, s2 = IV.join_view_advance(
        view,
        r_state,
        s_state,
        _frames(spark, delta, "r"),
        _frames(spark, delta, "s"),
        ["key"],
    )
    assert _rows(view2.select("key", "r_val", "s_val")) == _rows(
        _recompute(spark, rows).select("key", "r_val", "s_val")
    )
    for side, state in (("r", r2), ("s", s2)):
        assert _rows(state) == _rows(
            collapse_last_image(_frames(spark, rows, side), ["key"], "log_pos")
        )

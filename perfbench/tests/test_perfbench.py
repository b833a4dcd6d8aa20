"""The benchmark's own tests: tiny-size smoke runs of every workload, the
ingest oracle against corrupted tables, and exact counts repeating for a
seed. Run from the repository root:

    python3 -m pytest perfbench/tests -q

Each run starts its own Spark JVM in a temporary checkout (a copy of
``perfbench/`` with a tiny ``workloads.json``, next to links to the
program), so the suite takes a few minutes.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gen  # noqa: E402
import querymix  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# Workload-specific end-to-end metrics printed on the detail line.
DETAIL = {
    "ingest_backlog": {"ingest_events_per_s": "events/s", "batch_s_p50": "s",
                       "bytes_written_per_event": "B", "table_read_set_s": "s"},
    "query_mix": {"query_set_s": "s", "table_read_set_s": "s"},
}
TINY = {
    "ingest_backlog": {"key_space": 200, "events_per_file": 1500, "batch_events": 500,
                       "warmup_batches": 2,
                       "est_batch_s": 1.0, "setup_repeats": 2, "read_reps": 1,
                       "replay_batches": 2,
                       "open_loop": {"rate_events_per_s": 200, "file_interval_s": 0.25,
                                     "seconds": 2}},
    "query_mix": {"sf": 0.001, "queries": ["cdc_op_stats", "q1_pricing_summary"],
                  "sink_rows": 500, "sink_batch_events": 100, "setup_repeats": 2,
                  "min_passes": 1},
}


@pytest.fixture(scope="module")
def checkout(tmp_path_factory):
    """A temporary checkout: the benchmark with tiny sizes, and the program."""
    root = tmp_path_factory.mktemp("checkout")
    shutil.copytree(BENCH, root / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), root)
    for name in ("rust_cdc_spark", "__spark_entry__.py"):
        os.symlink(os.path.join(ROOT, name), root / name)
    cfg_path = root / "perfbench" / "workloads.json"
    cfg = json.loads(cfg_path.read_text())
    for wl, over in TINY.items():
        cfg[wl].update(over)
    cfg_path.write_text(json.dumps(cfg))
    return root


def bench(root, workload, seed=7, seconds=2, trace=0):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=root, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_emits_every_metric_with_its_unit(checkout, workload):
    detail, result = bench(checkout, workload)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {
        s["name"]: s["unit"] for s in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values())
    for name, unit in DETAIL[workload].items():
        m = detail["metrics"][name]
        assert m["unit"] == unit and m["samples"] >= 1 and m["value"] > 0, name
    assert detail["host"]["host.probe_s"]["value"] > 0
    assert not os.path.exists(checkout / ".perfbench_work")


def _exact_counts(detail, result):
    m = result["metrics"]
    return {
        "bytes_written_per_event": detail["metrics"]["bytes_written_per_event"]["value"],
        **{k: m[k]["value"] for k in ("pipeline.bytes_written_per_batch",
                                      "spark.jobs_per_batch",
                                      "replay_source.useful_line_frac",
                                      "router.kept_frac",
                                      "pipeline.files_written_per_batch")},
    }


def test_traced_exact_counts_repeat_for_a_seed(checkout):
    runs = [bench(checkout, "ingest_backlog", seed=11, trace=1) for _ in range(2)]
    for _detail, result in runs:
        assert {n: m["unit"] for n, m in result["metrics"].items()} == {
            s["name"]: s["unit"] for s in SPEC["per_layer"]}
        m = {k: v["value"] for k, v in result["metrics"].items()}
        for name in ("freshness.commit_lag_s_p50", "loadgen.late_s_p99",
                     "pipeline.pre_merge_s", "merge.compute_s_per_batch"):
            assert m[name] > 0, name
    first, second = (_exact_counts(*r) for r in runs)
    assert first == second
    assert all(v > 0 for v in first.values())


def test_traced_query_mix_reports_query_layers(checkout):
    _detail, result = bench(checkout, "query_mix", trace=1)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    for name in ("queries.build_s", "plans.plan_s", "queries.exec_s",
                 "queries.exec_jobs", "tables.load_jobs", "table_read.diff_s"):
        assert m[name] > 0, name


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_backlog",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


# ── the ingest oracle ───────────────────────────────────────────────────
def _backlog(tmp_path):
    stream = gen.ChangeStream(5, 50, [], {"I": 10, "U": 80, "D": 10}, 0.2,
                              preload=True)
    gen.write_backlog(str(tmp_path / "binlog"), stream, 2000, 700)
    events = [ev for _, _, ev in gen.iter_binlog(str(tmp_path / "binlog"))]
    return events, gen.lww_replay(events)


def _snapshot(tmp_path, rows):
    snap = tmp_path / "snap"
    shutil.rmtree(snap, ignore_errors=True)
    snap.mkdir()
    cols = list(zip(*rows.values()))
    pq.write_table(pa.table({"id": pa.array(cols[0], pa.int64()),
                             "name": pa.array(cols[1], pa.string()),
                             "score": pa.array(cols[2], pa.int32()),
                             "balance": pa.array(cols[3], pa.float64())}),
                   str(snap / "part-0.parquet"))
    return gen.read_snapshot_rows(str(snap))


def test_oracle_accepts_the_replayed_table(tmp_path):
    _events, want = _backlog(tmp_path)
    assert len(want) > 0
    assert gen.table_diff(_snapshot(tmp_path, want), want) is None


def test_oracle_catches_a_dropped_row(tmp_path):
    _events, want = _backlog(tmp_path)
    got = dict(want)
    got.pop(random.Random(1).choice(sorted(got)))
    assert "1 missing" in gen.table_diff(_snapshot(tmp_path, got), want)


def test_oracle_catches_a_stale_image(tmp_path):
    events, want = _backlog(tmp_path)
    # A key still live at the end whose earlier image differs from its last.
    images = {}
    for ev in events:
        if ev["table"] == "users" and ev["database"] == "app" and ev["after"]:
            images.setdefault(ev["after"]["id"], []).append(gen.image_tuple(ev["after"]))
    key = next(k for k in sorted(want) if len(set(images.get(k, []))) > 1)
    got = dict(want)
    got[key] = next(img for img in images[key] if img != want[key])
    assert "1 stale" in gen.table_diff(_snapshot(tmp_path, got), want)


def test_same_seed_same_inputs(tmp_path):
    for d in ("a", "b"):
        stream = gen.ChangeStream(9, 100, [], {"I": 10, "U": 80, "D": 10}, 0.15,
                                  preload=True)
        gen.write_backlog(str(tmp_path / d), stream, 1000, 300)
    for name in os.listdir(tmp_path / "a"):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()


# ── the query oracle compare ────────────────────────────────────────────
def _rows(rows):
    return querymix._sorted_rows(["k", "revenue"], rows)


def test_query_compare_counts_a_half_cent_tie():
    spark = _rows([(1, 316687.73), (2, 5.5)])
    duck = _rows([(2, 5.5), (1, 316687.72)])
    assert querymix._round_ties(spark, duck) == 1
    assert querymix._round_ties(spark, spark) == 0


def test_query_compare_rejects_other_differences():
    spark = _rows([(1, 316687.73), (2, 5.5)])
    for duck in ([(1, 316687.71), (2, 5.5)],    # two cents apart
                 [(1, 316687.735), (2, 5.5)],   # not a cents value
                 [(1, 316687.73), (3, 5.5)],    # another key
                 [(1, 316687.73)]):             # a row missing
        assert querymix._round_ties(spark, _rows(duck)) is None

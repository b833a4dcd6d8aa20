"""CDC engine benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload ingest_backlog --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads and their sizes are in
``perfbench/workloads.json``; metric names and units in ``BENCHMARK.json``.
With ``--trace 0`` the last stdout line carries the end-to-end metrics,
with ``--trace 1`` the per-layer metrics. The line before it is a detail
record: every workload-specific metric with its unit and sample count,
the host drift probe and the pinned Spark settings. The traced run also
writes its spans to ``.perfbench_out/``. Exits non-zero, without a result
line, when the program is missing, an operation fails, or an output
disagrees with its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(work: str, spark_cfg: dict) -> None:
    """Everything Spark and Python write goes under ``work``; cores and
    driver heap are pinned through the program's own knobs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(spark_cfg["cores"]),
        "SPARK_GRAFT_DRIVER_MEM": spark_cfg["driver_memory"],
        "SPARK_GRAFT_CHECKPOINT_DIR": os.path.join(work, "spark-checkpoint"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # Every JVM, the spark-submit launcher's too: temp files under work,
        # and no hsperfdata file in the system temp directory.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        # Python workers import rust_cdc_spark (the replay source) by module path.
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
    })
    os.chdir(work)  # spark-warehouse / derby.log land in the work dir


def stop_spark(spark) -> None:
    import common
    from pyspark import SparkContext

    pids = common.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc  # the JVM exits when its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    common.stop_tree(pids)


def metric_specs() -> tuple[list[dict], list[dict]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "rust_cdc_spark", "__init__.py")):
        print("perfbench: the program (rust_cdc_spark/) is not in this checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json")) as fh:
        config = json.load(fh)
    if args.workload not in config or args.workload == "spark":
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    e2e_spec, layer_spec = metric_specs()
    cfg = config[args.workload]

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    cwd = os.getcwd()
    try:
        pin_environment(work, config["spark"])
        sys.path[:0] = [ROOT, HERE]
        return run(args, cfg, config["spark"], work, e2e_spec, layer_spec)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def run(args, cfg, spark_cfg, work, e2e_spec, layer_spec) -> int:
    import common

    probe0, load0, cpu0 = common.cpu_probe(), common.load1(), common.cpu_times()
    from rust_cdc_spark.session import get_spark

    import ingest
    import querymix

    workloads = {"ingest_backlog": ingest.Backlog, "query_mix": querymix.QueryMix}
    spark = None
    w = None
    status = "ok"
    with common.PeakRss() as rss:
        try:
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            session_s = time.perf_counter() - t0
            w = workloads[args.workload](spark, args.workload, cfg, args.seed,
                                         args.seconds, bool(args.trace), work)
            with w.phases("setup"):
                setup_s = w.setup()
            with w.phases("run"):
                w.run()
        except AssertionError as e:
            status = f"wrong result: {e}"
        except Exception:
            status = "operation failed:\n" + traceback.format_exc()
        finally:
            if spark is not None:
                stop_spark(spark)
    probe1, load1, cpu1 = common.cpu_probe(), common.load1(), common.cpu_times()
    if status != "ok":
        print(f"perfbench: {args.workload}: {status}", file=sys.stderr)
        return 1

    e2e = {
        "setup_s": common.Metric(setup_s, "s", cfg["setup_repeats"]),
        "latency_s_p50": w.latency,
        "throughput_per_s": w.throughput,
        "table_read_set_s": w.report["table_read_set_s"],
        "peak_rss_mb": common.Metric(rss.mb(), "MB", 1),
    }
    host = {"host.probe_s": common.Metric(max(probe0, probe1), "s", 2),
            "host.probe_s_start": common.Metric(probe0, "s", 1),
            "host.probe_s_end": common.Metric(probe1, "s", 1),
            "host.load1_start": common.Metric(load0, "load", 1),
            "host.load1_end": common.Metric(load1, "load", 1),
            "host.steal_frac": common.Metric(
                (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]), "fraction", 1)}
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "spark": spark_cfg,
        "metrics": {k: m.as_dict() for k, m in {**w.report, **e2e}.items()},
        "host": {k: m.as_dict() for k, m in host.items()},
        "inputs": w.inputs,
        "peak_rss_by_process_mb": rss.breakdown_mb(),
        "phase_s": {"session": session_s, **w.phases},
    }
    if hasattr(w, "per_query"):
        detail["per_query_s"] = w.per_query
    if args.trace:
        layers = dict(w.layers)
        layers["session.start_s"] = common.Metric(session_s, "s", 1)
        layers["host.probe_s"] = host["host.probe_s"]
        layers["trace.latency_s_p50"] = w.latency
        detail["layers"] = {k: m.as_dict() for k, m in sorted(layers.items())}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"),
                  "w") as fh:
            spans = w.spans.as_list() if getattr(w, "spans", None) else []
            json.dump({**detail, "spans": spans}, fh, indent=1)
        # A layer the workload does not exercise reads 0 with its unit.
        metrics = {s["name"]: {"value": layers[s["name"]].value if s["name"] in layers
                               else 0.0, "unit": s["unit"]} for s in layer_spec}
    else:
        metrics = {s["name"]: {"value": e2e[s["name"]].value, "unit": s["unit"]}
                   for s in e2e_spec}
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": True, "attempted": w.attempted, "failed": w.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

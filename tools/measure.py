"""Optimization measurement harness.

Times a list of registered queries in ONE session (warmup pass, then
min-of-N with the noop sink — same methodology as bench.py), split
into build (``spark_fn``: driver-side construction, including any jobs
it launches) and exec (the noop write), and
optionally dumps each query's `.explain("formatted")` to
plans/<DIR>/<name>.txt. Paired before/after runs in the same session
protocol make the numbers comparable despite the host drift documented
in SCALE.md.

Usage:
  python tools/measure.py [--plans DIR] [--reps N] [--sf DIR] name...
  (e.g. --plans r11/after writes plans/r11/after/<name>.txt)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rust_cdc_spark.operators import ranks  # noqa: E402
from rust_cdc_spark.plans.explain import plan_text  # noqa: E402
from rust_cdc_spark.queries import load_all  # noqa: E402
from rust_cdc_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--plans", default=None,
                    help="dump plans to plans/<this path>/<name>.txt")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    reg = load_all()
    names = []
    for pat in args.names:
        hits = [n for n in reg if pat == n] or [n for n in reg if pat in n]
        if not hits:
            print(f"no match: {pat}", file=sys.stderr)
            sys.exit(2)
        names.extend(h for h in hits if h not in names)

    spark = get_spark("measure")
    plan_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", args.plans or "")

    def run(name: str) -> tuple[float, float]:
        t0 = time.perf_counter()
        df = reg[name].spark_fn(spark, args.sf)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        ranks.release_pinned()
        return t1 - t0, t2 - t1

    times: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"measure:{name}")
        if args.plans:
            os.makedirs(plan_dir, exist_ok=True)
            df = reg[name].spark_fn(spark, args.sf)
            with open(os.path.join(plan_dir, f"{name}.txt"), "w") as fh:
                fh.write(plan_text(df))
        run(name)  # warmup (codegen/JIT)
        build, exec_ = min((run(name) for _ in range(args.reps)), key=sum)
        times[name] = round(build + exec_, 3)
        print(json.dumps({"query": name, "sec": times[name],
                          "build_s": round(build, 3), "exec_s": round(exec_, 3)}),
              flush=True)

    print(json.dumps({"total": round(sum(times.values()), 3),
                      "n": len(times)}), flush=True)


if __name__ == "__main__":
    main()

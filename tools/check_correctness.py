"""Driver-style correctness sweep at an arbitrary SF (default sf0.01 —
the driver's scale). Runs every registered query through Spark AND its
DuckDB oracle, compares column-sorted row multisets, prints a one-line
verdict per query plus a summary. Exit code 1 on any mismatch/error.

Usage: python tools/check_correctness.py [sf_dir] [name_substring...]
(prefix a pattern with ~ to exclude, e.g. ~dedup_clusters)
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rust_cdc_spark.operators import ranks  # noqa: E402
from rust_cdc_spark.queries import load_all  # noqa: E402
from rust_cdc_spark.session import get_spark  # noqa: E402


def _driver_like_spark():
    """Vanilla session, as the driver builds it — no engine configs, so
    queries must carry their own TZ/config discipline. Combine with
    TZ=America/New_York to stress timestamp handling."""
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[16]")
        .appName("correctness_sweep_vanilla")
        .getOrCreate()
    )
from tests.test_oracle_parity import _duck, _sorted_rows  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    filters = sys.argv[2:]
    spark = (_driver_like_spark() if os.environ.get("RCS_VANILLA")
             else get_spark("correctness_sweep"))
    reg = load_all()
    include = [f for f in filters if not f.startswith("~")]
    exclude = [f[1:] for f in filters if f.startswith("~")]
    names = [
        n for n in reg
        if (not include or any(f in n for f in include))
        and not any(f in n for f in exclude)
    ]
    bad = []
    for name in names:
        q = reg[name]
        t0 = time.time()
        try:
            sdf = q.spark_fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            if q.oracle is None:
                print(f"{name:45s} rows_only rows={len(s_rows)} "
                      f"{time.time()-t0:.1f}s")
                continue
            d_cols, d_rows = _duck(sf_dir, q.oracle)
            if sorted(s_cols) != sorted(d_cols):
                bad.append((name, f"cols {sorted(s_cols)} vs {sorted(d_cols)}"))
                print(f"{name:45s} COLS-MISMATCH")
                continue
            s_sorted, _ = _sorted_rows(s_cols, s_rows)
            d_sorted, _ = _sorted_rows(d_cols, d_rows)
            if len(s_sorted) != len(d_sorted):
                bad.append((name, f"rows {len(s_sorted)} vs {len(d_sorted)}"))
                print(f"{name:45s} ROWS-MISMATCH {len(s_sorted)} vs "
                      f"{len(d_sorted)}")
                continue
            mm = [
                (i, a, b)
                for i, (a, b) in enumerate(zip(s_sorted, d_sorted))
                if a != b
            ]
            if mm:
                bad.append((name, f"first value mismatch {mm[0]}"))
                print(f"{name:45s} VALUE-MISMATCH x{len(mm)}")
                continue
            print(f"{name:45s} ok rows={len(s_sorted)} {time.time()-t0:.1f}s")
        except Exception:
            bad.append((name, traceback.format_exc().splitlines()[-1]))
            print(f"{name:45s} ERROR")
        finally:
            # the sweep runs every query in one session: free each
            # query's pinned checkpoints once its rows are collected
            ranks.release_pinned()
    print(f"\n{len(names) - len(bad)}/{len(names)} green at {sf_dir}")
    for name, why in bad:
        print(f"  FAIL {name}: {why}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())

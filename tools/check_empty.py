"""Empty-tables crash sweep: run EVERY registered query against a
fixture dir whose ten tables have the right schemas and ZERO rows.

This is the far end of the degenerate-input axis (VERDICT r5 #2): an
empty partition/table is always legal at 100 TB (a new tenant, a
filtered shard, a fresh CDC topic), and ANSI mode turns silent
numeric edge cases into crashes. The sweep asserts CRASH-FREEDOM only
— row counts legitimately differ from the DuckDB oracle on empty
input (engines disagree on whether scalar subquery assembly emits a
NULL row or no row), so no value compare here; the value gate is the
sf0.001/sf0.01 oracle sweeps.

Usage: python tools/check_empty.py [name_substring...]
Exit 1 if any query raises.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rust_cdc_spark.operators import ranks  # noqa: E402
from rust_cdc_spark.queries import load_all  # noqa: E402
from rust_cdc_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def build_empty_fixture(spark, src_sf: str, dst: str) -> None:
    """Write 0-row copies of every table, preserving the source
    schemas exactly (including the TIMESTAMP(NANOS) events column —
    schema read through the same load_table path the queries use)."""
    from rust_cdc_spark.sources.tables import load_table

    os.makedirs(dst, exist_ok=True)
    for t in TABLES:
        df = load_table(spark, t, src_sf)
        df.limit(0).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(dst, f"{t}.parquet")
        )


def main() -> int:
    filters = sys.argv[1:]
    spark = get_spark("empty_sweep")
    dst = "/tmp/rcs_empty_fixture"
    build_empty_fixture(spark, "/root/testdata/sf0.001", dst)
    reg = load_all()
    names = [
        n for n in reg if not filters or any(f in n for f in filters)
    ]
    bad = []
    for name in names:
        t0 = time.time()
        try:
            rows = reg[name].spark_fn(spark, dst).collect()
            print(f"{name:45s} ok rows={len(rows)} {time.time()-t0:.1f}s")
        except Exception as e:  # noqa: BLE001
            msg = str(e).splitlines()[0][:120]
            print(f"{name:45s} CRASH {msg}")
            bad.append((name, msg))
        finally:
            # one session for every query: free each query's pinned
            # checkpoints once its rows are collected
            ranks.release_pinned()
    print(f"\n{len(names)-len(bad)}/{len(names)} crash-free on empty tables")
    for name, msg in bad:
        print(f"  FAIL {name}: {msg}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())

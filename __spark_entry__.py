"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (the reference's whole pipeline
semantics: CDC normalize → collapse → MERGE → current state) on sf0.001.
``queries()``/``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 plus the large-scale pipeline extensions; implementations
live in ``rust_cdc_spark/queries/``.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rust_cdc_spark.queries import load_all  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: CDC merge pipeline (split log → state ⊕ changes) on
    sf0.001; driver checks rows>0 and stable schema."""
    registry = load_all()
    return registry["cdc_merge_upsert"].spark_fn(spark, "/root/testdata/sf0.001")


# The driver checks the first 50 names queries() yields, so this order
# decides what each round re-checks: the pinned names, then every other
# registered name by the last CORRECTNESS_r*.json round that checked it,
# oldest first (never-checked names lead), name as tie-break.
_PINNED = ["events_survival_km"]


def _last_checked() -> dict[str, int]:
    """name -> the latest ledger round with a row for it."""
    last: dict[str, int] = {}
    root = os.path.dirname(os.path.abspath(__file__))
    for fname in os.listdir(root):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if m is None:
            continue
        with open(os.path.join(root, fname)) as fh:
            for name in json.load(fh):
                last[name] = max(last.get(name, 0), int(m.group(1)))
    return last


def _ordered():
    reg = load_all()
    last = _last_checked()
    rest = sorted(
        (n for n in reg if n not in _PINNED),
        key=lambda n: (last.get(n, 0), n),
    )
    return {n: reg[n] for n in [*(n for n in _PINNED if n in reg), *rest]}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.spark_fn for name, q in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: q.oracle for name, q in _ordered().items() if q.oracle is not None
    }

"""The driver-window order: pinned names first, then the registry
rotated least-recently-checked first by the CORRECTNESS_r*.json ledger."""

from __future__ import annotations

import json
import os

import __spark_entry__ as E

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50  # names the driver checks per round


def _ledger(rnd: int) -> set[str]:
    with open(os.path.join(ROOT, f"CORRECTNESS_r{rnd:02d}.json")) as fh:
        return set(json.load(fh))


def test_order_is_pinned_then_whole_registry_once():
    names = list(E.queries())
    assert names[: len(E._PINNED)] == E._PINNED
    assert sorted(names) == sorted(E.load_all())
    oracles = E.oracle_sql()
    assert list(oracles) == [n for n in names if n in oracles]


def test_rest_runs_oldest_ledger_round_first():
    last = E._last_checked()
    rest = list(E.queries())[len(E._PINNED):]
    keys = [(last.get(n, 0), n) for n in rest]
    assert keys == sorted(keys)


def test_next_window_skips_names_the_last_round_checked():
    newest = max(E._last_checked().values())
    window = list(E.queries())[len(E._PINNED):][:WINDOW]
    assert len(window) == WINDOW
    assert not set(window) & _ledger(newest)

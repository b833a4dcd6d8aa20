"""Seeded inputs and pure-Python oracles for the benchmark workloads.

Everything here is a function of its arguments (and the seed among them):
the same seed gives byte-identical binlog files and tables.

Binlog events use the replay source's JSONL envelope (one event per line,
files named ``binlog.NNNNNN.jsonl``; see
``rust_cdc_spark/streaming/replay_source.py``). The routed table is
``app.users``; the other tables are noise the route must drop.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROUTE_DBS = ["app"]
ROUTE_TABLES = ["users"]
KEY = "id"
# Image columns of app.users, in table order.
USER_COLUMNS = ("id", "name", "score", "balance")
# Tables the route drops (share set per workload by ``dropped_frac``).
NOISE_TABLES = [("app", "audit_log"), ("billing", "users"), ("ops", "jobs")]
BASE_TS = 1_700_000_000
_NAMES = ["ada", "bob", "cy", "dee", "eve", "fay", "gus", "hal", "ivy", "jo"]


def user_image(key: int, rng: random.Random) -> dict:
    # Balances have two decimals so the string→double cast and Python's
    # float() agree exactly.
    return {
        "id": key,
        "name": f"{rng.choice(_NAMES)}-{rng.randrange(1000)}",
        "score": rng.randrange(-1000, 1000),
        "balance": rng.randrange(0, 10_000_000) / 100,
    }


def image_tuple(img: dict) -> tuple:
    return (int(img["id"]), img["name"], int(img["score"]), float(img["balance"]))


class ChangeStream:
    """Seeded change events for ``app.users`` plus routed-away noise.

    ``live`` starts as the seeded table's keys; with ``preload`` the first
    routed events insert the rest of the key space. Inserts take a key that
    is not live (fresh keys above ``key_space`` when all are live), updates
    and deletes a live one, so the op mix holds while the table size stays
    near its start."""

    def __init__(self, seed: int, key_space: int, live_keys, mix: dict,
                 dropped_frac: float, preload: bool = False):
        self.rng = random.Random(seed)
        self.key_space = key_space
        self.live = list(live_keys)
        self.pos_of = {k: i for i, k in enumerate(self.live)}
        self.dead = [k for k in range(key_space) if k not in self.pos_of]
        self.next_fresh = key_space
        self.ops, self.weights = zip(*sorted(mix.items()))
        self.dropped_frac = dropped_frac
        # preload: the first routed events insert every key of the key space
        self.preload_left = len(self.dead) if preload else 0
        self.seq = 0

    def _take_live(self) -> int:
        i = self.rng.randrange(len(self.live))
        return self.live[i]

    def _remove_live(self, key: int) -> None:
        i = self.pos_of.pop(key)
        last = self.live.pop()
        if last != key:
            self.live[i] = last
            self.pos_of[last] = i
        self.dead.append(key)

    def _add_live(self, key: int) -> None:
        self.pos_of[key] = len(self.live)
        self.live.append(key)

    def next_event(self) -> dict:
        rng = self.rng
        self.seq += 1
        ts = BASE_TS + self.seq // 100
        if rng.random() < self.dropped_frac:
            db, table = NOISE_TABLES[rng.randrange(len(NOISE_TABLES))]
            img = user_image(rng.randrange(self.key_space), rng)
            return _event(ts, self.seq, db, table, "U", img, img)
        op = rng.choices(self.ops, self.weights)[0]
        if self.preload_left:
            self.preload_left -= 1
            op = "I"
        if op == "I" or not self.live:
            if self.dead:
                key = self.dead.pop(rng.randrange(len(self.dead)))
            else:
                key = self.next_fresh
                self.next_fresh += 1
            self._add_live(key)
            return _event(ts, self.seq, "app", "users", "I", None,
                          user_image(key, rng))
        key = self._take_live()
        if op == "D":
            self._remove_live(key)
            return _event(ts, self.seq, "app", "users", "D",
                          {"id": key}, None)
        return _event(ts, self.seq, "app", "users", "U", {"id": key},
                      user_image(key, rng))


def _event(ts, seq, db, table, op, before, after) -> dict:
    return {"ts": ts, "server_id": 1, "pos": 0, "gtid": f"3e11fa47:{seq}",
            "xid": seq, "database": db, "table": table, "op": op,
            "before": before, "after": after, "query": None}


def binlog_name(index: int) -> str:
    return f"binlog.{index:06d}.jsonl"


def write_binlog_file(path: str, events: list[dict]) -> None:
    """Write one binlog file whole: temp name then rename, so a source
    listing the directory never sees a partial file."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        for line, ev in enumerate(events):
            ev["pos"] = 4 + 100 * line  # byte-offset analog, restarts per file
            fh.write(json.dumps(ev, separators=(",", ":")) + "\n")
    os.replace(tmp, path)


def write_backlog(directory: str, stream: ChangeStream, n_events: int,
                  events_per_file: int) -> list[str]:
    """Pre-write ``n_events`` into rotated files; returns the file names."""
    os.makedirs(directory, exist_ok=True)
    names = []
    for i, lo in enumerate(range(0, n_events, events_per_file)):
        n = min(events_per_file, n_events - lo)
        name = binlog_name(i + 1)
        write_binlog_file(os.path.join(directory, name),
                          [stream.next_event() for _ in range(n)])
        names.append(name)
    return names


def seed_table(seed: int, n_rows: int) -> pa.Table:
    """Seeded table for keys 0..n_rows-1, drawn vectorised."""
    rng = np.random.default_rng(seed ^ 0x5EED)
    name = rng.integers(0, len(_NAMES), n_rows).tolist()
    suffix = rng.integers(0, 1000, n_rows).tolist()
    return pa.table({
        "id": pa.array(np.arange(n_rows, dtype=np.int64)),
        "name": pa.array([f"{_NAMES[a]}-{b}" for a, b in zip(name, suffix)],
                         pa.string()),
        "score": pa.array(rng.integers(-1000, 1000, n_rows).astype(np.int32)),
        "balance": pa.array(rng.integers(0, 10_000_000, n_rows) / 100),
    })


def table_rows(table: pa.Table) -> dict[int, tuple]:
    d = table.to_pydict()
    return {r[0]: r for r in zip(d["id"], d["name"], d["score"], d["balance"])}


# ── oracle ──────────────────────────────────────────────────────────────
def iter_binlog(directory: str, end: dict | None = None):
    """Events in binlog order, up to the exclusive ``end`` offset
    ({"file", "line"}, the replay source's offset shape)."""
    for name in sorted(f for f in os.listdir(directory) if f.endswith(".jsonl")):
        if end is not None and name > end["file"]:
            return
        with open(os.path.join(directory, name)) as fh:
            for line, text in enumerate(fh):
                if end is not None and name == end["file"] and line >= end["line"]:
                    return
                yield name, line, json.loads(text)


def lww_replay(events, initial: dict[int, tuple] | None = None) -> dict[int, tuple]:
    """Last-writer-wins table state: routing applied, then each ``app.users``
    event replaces (I/U) or removes (D) its key's row."""
    state = dict(initial or {})
    for ev in events:
        if ev["database"] not in ROUTE_DBS or ev["table"] not in ROUTE_TABLES:
            continue
        if ev["op"] == "D":
            state.pop(int(ev["before"]["id"]), None)
        else:
            img = ev["after"]
            state[int(img["id"])] = image_tuple(img)
    return state


def read_snapshot_rows(snapshot_dir: str) -> dict[int, tuple]:
    """Rows of one committed snapshot, read with pyarrow (not Spark)."""
    t = pq.read_table(snapshot_dir, columns=list(USER_COLUMNS))
    out = table_rows(t)
    if len(out) != t.num_rows:
        raise AssertionError(f"duplicate keys in {snapshot_dir}")
    return out


def table_diff(got: dict[int, tuple], want: dict[int, tuple]) -> str | None:
    """None when equal, else a one-line description of the first difference."""
    if got == want:
        return None
    missing = sorted(set(want) - set(got))
    extra = sorted(set(got) - set(want))
    stale = sorted(k for k in set(got) & set(want) if got[k] != want[k])
    return (f"{len(missing)} missing (e.g. {missing[:3]}), {len(extra)} extra "
            f"(e.g. {extra[:3]}), {len(stale)} stale (e.g. "
            f"{[(k, got[k], want[k]) for k in stale[:2]]})")


# ── query-mix tables ────────────────────────────────────────────────────
_WORDS = ("a agg batch big column customer data dup fast filter group hash "
          "join key line merge order part query row scan slow small sort "
          "spark stream table the value vector window").split()
_PART_ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
_PART_NOUN = ["plate", "widget", "ring", "rod", "gizmo", "gear", "bolt", "anvil"]


def _dates(rng, n, start, days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def write_query_tables(directory: str, seed: int, sf: float) -> dict[str, int]:
    """Write the registry's ten tables (TPC-H-like star schema plus
    ``events``, ``documents`` and ``embeddings``) at scale factor ``sf``,
    with the column names, types and value domains the queries expect.
    Returns the row count per table."""
    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    # At least one supplier per nation, so joins on a supplier's nation
    # (q5) find rows at small scale factors whatever the seed.
    n_supp = max(25, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_events = max(500, int(1_000_000 * sf))
    n_users = max(20, n_events // 60)
    n_docs = max(100, int(50_000 * sf))
    n_vecs = max(100, int(50_000 * sf))

    def cents(lo, hi, n):
        return rng.integers(int(lo * 100), int(hi * 100), n) / 100

    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": cents(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.permutation(np.arange(n_supp) % 25).astype(np.int32),
            "s_acctbal": cents(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}"
                       for _ in range(n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                  "SMALL", "STANDARD"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": cents(900, 999.9, n_part),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": cents(1000, 500000, n_ord),
            "o_orderdate": _dates(rng, n_ord, "1995-01-01", 2400),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n_ord),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": cents(900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _dates(rng, n_line, "1995-01-02", 2500),
        },
        "events": {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us")
            + np.sort(rng.integers(0, 30 * 86_400_000_000, n_events)).astype(
                "timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": rng.choice(["click", "error", "purchase", "signup",
                                      "view"], n_events),
            "value": cents(0.01, 500, n_events),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        },
        "documents": _documents(rng, n_docs),
        "embeddings": {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(
                list(rng.normal(0, 0.125, (n_vecs, 64)).astype(np.float32)),
                pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        },
    }
    counts = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(directory, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts


def _documents(rng, n_docs: int) -> dict:
    texts = []
    for _ in range(n_docs):
        n_words = int(rng.integers(8, 100))
        texts.append(" ".join(rng.choice(_WORDS, n_words)))
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }

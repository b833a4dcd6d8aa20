"""Open-loop load generator for ``ingest_large_table``.

Runs as its own process, separate from the system under test. Event ``i``
is due at ``start + i / rate``; events are grouped into one binlog file
per ``interval`` and each file is written whole (temp name, then rename)
when its last event is due, whether or not the pipeline keeps up. One
manifest line per file records when it was due and when it landed.

    python3 perfbench/loadgen.py --dir D --manifest M --seed N --rows R \
        --rate EV_PER_S --interval S --seconds S --start UNIX_TIME \
        --first-index K --mix '{"I": 10, "U": 80, "D": 10}' --dropped-frac F
"""

from __future__ import annotations

import argparse
import json
import os
import time

import gen


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--first-index", type=int, required=True)
    ap.add_argument("--mix", type=json.loads, required=True)
    ap.add_argument("--dropped-frac", type=float, required=True)
    a = ap.parse_args()

    stream = gen.ChangeStream(a.seed, a.rows, range(a.rows), a.mix, a.dropped_frac)
    per_file = max(1, round(a.rate * a.interval))
    n_files = max(1, round(a.seconds / a.interval))
    with open(a.manifest, "w") as man:
        for j in range(n_files):
            i0 = j * per_file
            events = [stream.next_event() for _ in range(per_file)]
            due = a.start + (i0 + per_file - 1) / a.rate
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            name = gen.binlog_name(a.first_index + j)
            gen.write_binlog_file(os.path.join(a.dir, name), events)
            man.write(json.dumps({"file": name, "i0": i0, "n": per_file,
                                  "start": a.start, "due": due,
                                  "published": time.time()}) + "\n")
            man.flush()


if __name__ == "__main__":
    main()

"""Ingest metrics — the reference's statsd hook as a Spark listener.

The reference exposes counters through a ``statsd_endpoint`` option
(/root/reference/src/delta/mod.rs:205-216). Spark's idiomatic equivalent
is a ``StreamingQueryListener``: per-microbatch progress (input rows,
processed rows/sec, batch duration and its per-phase split) pushed to
any sink — here a JSONL file by default; the ``emit`` hook is where a
statsd/prometheus client plugs in unchanged.
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql.streaming import StreamingQueryListener


class IngestMetricsListener(StreamingQueryListener):
    """Records one JSON line per microbatch. Attach with
    ``spark.streams.addListener(listener)``; detach with
    ``removeListener``."""

    def __init__(self, path: str | None = None,
                 emit: Callable[[dict], None] | None = None):
        self.path = path
        self._emit = emit
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "batch_id": p.batchId,
            "num_input_rows": p.numInputRows,
            "rows_per_sec": p.processedRowsPerSecond,
            "batch_duration_ms": p.batchDuration,
            "duration_ms": dict(p.durationMs),  # addBatch, walCommit, …
            "sources": [s.description for s in p.sources],
        }
        self.progress.append(rec)
        if self._emit:
            self._emit(rec)
        if self.path:
            with open(self.path, "a") as fh:
                fh.write(json.dumps(rec) + "\n")

    def onQueryTerminated(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

"""``mysql-cdc-replay`` — a Structured Streaming CDC source (Python Data
Source API, Spark 4).

The reference's source is a live MySQL replica connection: handshake →
COM_BINLOG_DUMP → event loop with offset checkpointing
(/root/reference/src/mysql/conn.rs:133-157,307-356). This engine models
the identical contract against a *recorded* binlog: a directory of JSONL
event files (one JSON event per line, named ``<binlog_file>.jsonl``),
which is both the test harness the reference uses (golden binlog files
replayed from disk, tests/events/*) and the shape of a production
spool/Kafka topic. A live PyMySQL-based reader drops into the same class
by replacing ``_read_lines`` — offsets, schema registry, decode, and
checkpoint semantics are already exactly those of the reference:

- offset        = {"file": str, "pos": int}  (reference ``LogEntry``,
                  /root/reference/src/snapshot/mod.rs:18-23)
- initialOffset = start of the earliest recorded file (reference falls
                  back to ``show master status``; a replay has a real
                  beginning)
- latestOffset  = end of the newest file — each microbatch replays
                  [start, end) exactly once; Spark's offset+commit logs
                  give the exactly-once property the reference
                  approximates with its 5 s recorder
                  (/root/reference/src/mysql/conn.rs:272-295)
- partitions()  = ONE partition per microbatch: a binlog is a single
                  totally-ordered log; parallelism comes downstream
                  (per-table routing, the merge shuffle), never from
                  splitting the log (which would break per-key ordering)

Event JSON lines carry the normalized envelope fields (FIXTURES.md F6):
``{"ts": epoch_sec, "server_id": int, "pos": int, "gtid": str|null,
"xid": int|null, "database": str, "table": str, "op": "I|U|D|DDL",
"before": {..}|null, "after": {..}|null, "query": str|null}``.
Images are JSON objects (map<string,string> fallback envelope — typed
casting happens downstream against the schema registry).
"""

from __future__ import annotations

import itertools
import json
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from rust_cdc_spark.datamodel import CDC_SCHEMA


@dataclass
class RangePartition(InputPartition):
    files: list  # [(file_name, start_line, end_line)]
    directory: str


def _file_key(name: str) -> str:
    return name  # binlog names sort lexicographically (binlog.000001 …)


def _off_key(off: dict) -> tuple:
    return (_file_key(off["file"]), off["line"])


class BinlogReplayReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.directory = options["path"]
        self.batch_lines = int(options.get("maxeventspertrigger", "100000"))
        # Where the streaming query checkpoints. latestOffset() must never
        # return an end behind the durable start, or a restarted query with
        # a backlog re-delivers already-merged events under new epoch ids
        # (bypassing txn_version idempotence) — but Spark calls
        # latestOffset() before anything tells the reader the checkpointed
        # start, so the reader peeks at the offset log itself.
        # start_cdc_pipeline wires this automatically.
        self.checkpoint = options.get("checkpointlocation")
        # _cursor: last end offset handed out. _seen_start: greatest start
        # Spark has reported via partitions()/commit() this run.
        self._cursor: dict | None = None
        self._seen_start: dict | None = None
        # Failover resume: transactions already executed elsewhere
        # (streaming/gtid.py). After a replica switch, (file, line)
        # offsets are meaningless on the new server — the consumer
        # restarts from the new server's beginning with its executed
        # GTID set, and read() drops the overlap before it ever reaches
        # the DataFrame.
        self.gtid_executed = options.get("gtidexecuted", "")
        # file name -> (bytes counted, newlines in them, ends mid-line)
        self._line_counts: dict[str, tuple[int, int, bool]] = {}

    # offsets are {"file": name, "line": n} — "line" is the replay analog
    # of the binlog byte position (monotone within a file).
    def _files(self) -> list[str]:
        return sorted(
            f for f in os.listdir(self.directory) if f.endswith(".jsonl")
        )

    def _line_count(self, fname: str) -> int:
        """Lines in ``fname``, a trailing unterminated line included.
        Binlog files only grow, so the count is cached with the size it
        was taken at: an unchanged file is not read again, and a grown
        one is read only from where the last count stopped."""
        path = os.path.join(self.directory, fname)
        size = os.path.getsize(path)
        done, newlines, partial = self._line_counts.get(fname, (0, 0, False))
        if size != done:
            if size < done:  # truncated or replaced: count from the start
                done, newlines, partial = 0, 0, False
            with open(path, "rb") as fh:
                fh.seek(done)
                for block in iter(lambda: fh.read(1 << 20), b""):
                    newlines += block.count(b"\n")
                    partial = not block.endswith(b"\n")
                    done += len(block)
            self._line_counts[fname] = (done, newlines, partial)
        return newlines + partial

    def initialOffset(self) -> dict:
        files = self._files()
        if not files:
            raise RuntimeError(f"no .jsonl binlog recordings in {self.directory}")
        return {"file": files[0], "line": 0}

    def _durable_start(self) -> dict | None:
        """Newest end offset in the query's offset log, or None when the
        query is brand-new (or no checkpoint location was wired through).
        Mirrors the reference reading its recorded LogEntry on connect
        (/root/reference/src/mysql/conn.rs:272-295)."""
        if not self.checkpoint:
            return None
        odir = os.path.join(self.checkpoint, "offsets")
        try:
            batches = [int(f) for f in os.listdir(odir) if f.isdigit()]
        except OSError:
            return None  # no offset log yet → fresh query
        if not batches:
            return None
        with open(os.path.join(odir, str(max(batches)))) as fh:
            last = fh.read().strip().splitlines()[-1]
        off = json.loads(last)
        if isinstance(off, str):  # python-datasource offsets are json-in-json
            off = json.loads(off)
        return off

    def _advance(self, start: dict, max_lines: int) -> dict:
        """Walk at most ``max_lines`` events forward from ``start`` across
        file rotations."""
        remaining = max_lines
        cur_file, cur_line = start["file"], start["line"]
        for f in self._files():
            if _file_key(f) < _file_key(cur_file):
                continue
            lo = cur_line if f == cur_file else 0
            n = self._line_count(f)
            take = min(n - lo, remaining)
            remaining -= take
            cur_file, cur_line = f, lo + take
            if remaining == 0:
                break
        return {"file": cur_file, "line": cur_line}

    def latestOffset(self) -> dict:
        """End offset for the next microbatch: at most
        ``maxeventspertrigger`` events past the last end we handed out
        (the reference's ``max_messages_per_batch``, 5000 default —
        /root/reference/src/delta/mod.rs:198-199).

        Restart safety: the returned end is clamped to never fall behind
        the greatest start Spark has reported (``_seen_start``). On a
        restarted query the first call can arrive before Spark tells us
        the durable start at all — there the only offset guaranteed not
        to be behind the checkpoint is the log tail, so that one batch
        runs unthrottled rather than rewinding and re-delivering."""
        files = self._files()
        tail = {"file": files[-1], "line": self._line_count(files[-1])}
        if self.batch_lines <= 0:
            return tail
        cursor = self._cursor or self._seen_start
        if cursor is None:
            cursor = self._durable_start()  # restart: resume at checkpoint
        if cursor is None and self.checkpoint:
            cursor = {"file": files[0], "line": 0}  # provably fresh query
        if cursor is None:
            # No checkpoint wired through and nothing seen yet: the only
            # end guaranteed not to rewind past an unknown durable start
            # is the tail — one unthrottled batch beats re-delivery.
            self._cursor = tail
            return tail
        if self._seen_start is not None and _off_key(cursor) < _off_key(
            self._seen_start
        ):
            cursor = self._seen_start
        nxt = self._advance(cursor, self.batch_lines)
        self._cursor = nxt
        return nxt

    def partitions(self, start: dict, end: dict):
        """One ordered partition covering [start, end) across file
        rotations (reference RotateEvent handling,
        /root/reference/src/mysql/conn.rs:311-317)."""
        if self._seen_start is None or _off_key(start) > _off_key(self._seen_start):
            self._seen_start = start  # durable checkpoint state from Spark
        files = [
            f for f in self._files()
            if _file_key(start["file"]) <= _file_key(f) <= _file_key(end["file"])
        ]
        spans = []
        for f in files:
            lo = start["line"] if f == start["file"] else 0
            hi = end["line"] if f == end["file"] else self._line_count(f)
            if hi > lo:
                spans.append((f, lo, hi))
        return [RangePartition(spans, self.directory)]

    def read(self, partition: RangePartition):
        import datetime

        from rust_cdc_spark.streaming.gtid import GtidSet

        executed = GtidSet(self.gtid_executed)
        for fname, lo, hi in partition.files:
            with open(os.path.join(partition.directory, fname)) as fh:
                for line in itertools.islice(fh, lo, hi):
                    ev = json.loads(line)
                    if executed and executed.contains(ev.get("gtid")):
                        continue
                    yield (
                        datetime.datetime.utcfromtimestamp(ev["ts"]),
                        ev.get("server_id"),
                        fname.rsplit(".jsonl", 1)[0],
                        ev["pos"],
                        ev.get("gtid"),
                        ev.get("xid"),
                        ev["database"],
                        ev["table"],
                        ev["op"],
                        _stringify(ev.get("before")),
                        _stringify(ev.get("after")),
                        ev.get("query"),
                    )

    def commit(self, end: dict) -> None:
        # Spark's checkpoint commit log is the durable record; just keep
        # the rate-limit cursor at least at the committed point so a
        # restarted reader resumes from durable state, not from zero.
        if self._cursor is None or _off_key(self._cursor) < _off_key(end):
            self._cursor = end
        if self._seen_start is None or _off_key(end) > _off_key(self._seen_start):
            self._seen_start = end


def _stringify(image: dict | None) -> dict | None:
    if image is None:
        return None
    return {k: (None if v is None else str(v)) for k, v in image.items()}


class BinlogReplaySource(DataSource):
    """spark.readStream.format("mysql-cdc-replay").option("path", dir)"""

    @classmethod
    def name(cls) -> str:
        return "mysql-cdc-replay"

    def schema(self) -> StructType:
        return CDC_SCHEMA

    def streamReader(self, schema: StructType) -> BinlogReplayReader:
        return BinlogReplayReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(BinlogReplaySource)

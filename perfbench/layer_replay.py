"""Traced-run "layer replay": committed batch ranges re-run, in process,
through each layer's public function — the replay source's reader, the
router, the collapse and the MERGE compute — each timed and counted on
its own. Spark work is forced with the noop sink."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from rust_cdc_spark.datamodel import CDC_SCHEMA
from rust_cdc_spark.operators.collapse import collapse_last_image
from rust_cdc_spark.operators.merge import merge_upsert
from rust_cdc_spark.operators.router import route
from rust_cdc_spark.streaming import replay_source
from rust_cdc_spark.streaming.pipeline import typed_images

import common
import gen


class _CountingFile:
    """File wrapper counting the lines a reader iterates."""

    def __init__(self, fh, counter: list):
        self.fh, self.counter = fh, counter

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.fh.close()

    def __iter__(self):
        for line in self.fh:
            self.counter[0] += 1
            yield line


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def replay(spark, binlog: str, table, ranges, schema, batch_events: int) -> dict:
    reader = replay_source.BinlogReplayReader(
        {"path": binlog, "maxeventspertrigger": str(batch_events)})
    target = table.read(spark).cache()
    target.count()
    read_s, collapse_s, merge_s = [], [], []
    lines = delivered = kept = keys = 0
    try:
        for start, end in ranges:
            counter = [0]
            t0 = time.perf_counter()
            parts = reader.partitions(start, end)
            # Shadow the builtin inside the reader's module so the lines
            # read() iterates are counted, not just the events it yields.
            replay_source.open = lambda *a, **k: _CountingFile(open(*a, **k), counter)
            try:
                rows = [r for p in parts for r in reader.read(p)]
            finally:
                del replay_source.open
            read_s.append(time.perf_counter() - t0)
            lines += counter[0]
            delivered += len(rows)

            routed = route(spark.createDataFrame(rows, CDC_SCHEMA),
                           gen.ROUTE_DBS, gen.ROUTE_TABLES)
            batch = typed_images(routed, schema).cache()
            n = batch.count()
            kept += n
            keyed = batch.withColumn(
                gen.KEY, F.coalesce(F.col(f"after.{gen.KEY}"), F.col(f"before.{gen.KEY}")))
            collapsed = collapse_last_image(keyed, [gen.KEY])
            collapse_s.append(_noop(collapsed))
            keys += collapsed.count()
            merge_s.append(_noop(merge_upsert(target, batch, [gen.KEY])))
            batch.unpersist()
    finally:
        target.unpersist()

    def med(vals):
        return common.Metric(common.median(vals), "s", len(vals))

    n = len(ranges)
    return {
        "replay_source.read_s_per_batch": med(read_s),
        "replay_source.useful_line_frac": common.Metric(delivered / lines, "fraction", n),
        "router.kept_frac": common.Metric(kept / delivered, "fraction", n),
        "collapse.keys_per_event": common.Metric(keys / kept, "fraction", n),
        "collapse.s_per_batch": med(collapse_s),
        "merge.compute_s_per_batch": med(merge_s),
    }

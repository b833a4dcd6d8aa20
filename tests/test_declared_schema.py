"""Footer-declared table schemas: ``load_table`` reads the schema from the
parquet footer with pyarrow instead of letting Spark infer it, so a load
launches no Spark job. The declared schema must be exactly the one
Spark's own inference gives, under the reader settings that change it.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from rust_cdc_spark.sources.tables import (
    DEFAULT_SF_DIR,
    TABLES,
    declared_schema,
    load_table,
    read_parquet,
)
from tests.conftest import SF_CORRECT, SF_SMOKE

_NANOS = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.fixture
def nanos_conf(spark):
    """Set nanosAsLong for one test and put the session's value back."""
    before = spark.conf.get(_NANOS, "false")
    yield lambda v: spark.conf.set(_NANOS, v)
    spark.conf.set(_NANOS, before)


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("nanos", ["true", "false"])
@pytest.mark.parametrize("sf", [SF_SMOKE, SF_CORRECT, DEFAULT_SF_DIR])
def test_declared_equals_inferred(spark, nanos_conf, sf, nanos):
    nanos_conf(nanos)
    for t in TABLES:
        p = os.path.join(sf, f"{t}.parquet")
        assert declared_schema(spark, p) == spark.read.parquet(p).schema, t


def test_pyarrow_nanos_and_ntz_file(spark, nanos_conf, tmp_path):
    p = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array([1_700_000_000_123_456_789, 5], pa.timestamp("ns")),
                "ts_utc": pa.array([1, 2], pa.timestamp("ns", "UTC")),
                "ts_ntz_us": pa.array([1, 2], pa.timestamp("us")),
                "ts_ntz_ms": pa.array([1, 2], pa.timestamp("ms")),
                "ts_utc_ms": pa.array([1, 2], pa.timestamp("ms", "UTC")),
                "tags": pa.array([["a"], []], pa.list_(pa.string())),
            }
        ),
        p,
    )
    nanos_conf("true")
    assert declared_schema(spark, p) == spark.read.parquet(p).schema
    nanos_conf("false")
    with pytest.raises(AnalysisException):
        spark.read.parquet(p).schema
    with pytest.raises(TypeError, match="ts"):
        declared_schema(spark, p)
    # load_table turns the NANOS column into a timestamp (ns → µs)
    ev = load_table(spark, "events", str(tmp_path))
    assert dict(ev.dtypes)["ts"] == "timestamp"
    got = ev.orderBy("event_id").selectExpr("unix_micros(ts)").collect()
    assert [r[0] for r in got] == [1_700_000_000_123_456, 0]


@pytest.mark.parametrize(
    "col",
    [
        pa.array([1, 2], pa.uint64()),
        pa.array([{"k": 1}, {}], pa.map_(pa.string(), pa.int32())),
        pa.array([{"q": 1}, {"q": 2}], pa.struct([("q", pa.int32())])),
    ],
    ids=["uint64", "map", "struct"],
)
def test_unmapped_type_is_refused(spark, tmp_path, col):
    """Types no table of this program uses are refused, not guessed."""
    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64()), "c": col}), p)
    with pytest.raises(TypeError, match="c"):
        declared_schema(spark, p)


def test_spark_written_directory(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(3).selectExpr(
        "id",
        "cast(id AS timestamp) AS t",
        "cast(cast(id AS timestamp) AS timestamp_ntz) AS tn",
        "cast(id AS tinyint) AS b",
        "array(id) AS a",
        "map('k', id) AS m",
        "named_struct('q', id) AS s",
        "cast(id AS decimal(5, 1)) AS d",
    ).repartition(2).write.parquet(p)
    assert declared_schema(spark, p) == spark.read.parquet(p).schema


def test_partitioned_directory(spark, tmp_path):
    """Partition columns come from the directory names, as with
    inference; the declared schema covers the data columns."""
    p = str(tmp_path / "v=3")
    spark.range(6).selectExpr(
        "id", "cast(id % 2 AS int) AS part", "cast(id % 3 AS string) AS s"
    ).write.partitionBy("part", "s").parquet(p)
    inferred, declared = spark.read.parquet(p), read_parquet(spark, p)
    assert declared.schema == inferred.schema
    assert sorted(declared.collect()) == sorted(inferred.collect())


def test_sink_table_read_runs_no_job(spark, tmp_path):
    from rust_cdc_spark.streaming.pipeline import ParquetUpsertTable

    table = ParquetUpsertTable(str(tmp_path / "sink"), key_cols=["id"])
    table.overwrite(spark.range(5).selectExpr("id", "cast(id AS string) AS name"))
    assert _jobs_in_group(spark, "sink-read", lambda: table.read(spark).schema) == 0
    assert sorted(r.id for r in table.read(spark).collect()) == list(range(5))


def test_load_table_runs_no_job(spark):
    assert _jobs_in_group(
        spark, "declared-schema-load",
        lambda: [load_table(spark, t, SF_SMOKE).schema for t in TABLES],
    ) == 0
    # control: Spark's own inference of the same files does run jobs
    assert _jobs_in_group(
        spark, "inferred-schema-load",
        lambda: [
            spark.read.parquet(os.path.join(SF_SMOKE, f"{t}.parquet")).schema
            for t in TABLES
        ],
    ) >= len(TABLES)

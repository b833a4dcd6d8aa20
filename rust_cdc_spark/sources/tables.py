"""Parquet table loaders for the driver test data.

Declarative ``spark.read.parquet`` scans — Catalyst handles predicate
pushdown and column pruning, so callers just ``select``/``filter`` and the
scan narrows itself (verify with ``plans.explain_checks``).

The schema is declared, not inferred: :func:`declared_schema` reads one
parquet footer with pyarrow on the driver and maps it the way Spark's
parquet schema converter does, so a load launches no Spark job (Spark's
own inference runs a footer-reading job of ~50–120 ms per load).
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

# Footer key under which Spark's parquet writer stores the row schema;
# Spark's reader prefers it over converting the parquet schema.
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def load_table(spark: SparkSession, name: str, sf_dir: str) -> DataFrame:
    """Load one table under its footer-declared schema (no Spark job).
    ``events.ts`` may be stored as parquet TIMESTAMP(NANOS), which the
    Spark vectorized reader rejects — read it as long (legacy conf) and
    convert ns→µs with integer division (``div``, not ``/``: float
    division loses precision on int64 ns)."""
    if name == "events":
        configure_reader(spark)
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):  # TIMESTAMP(NANOS) as ns-long
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(ts_type, T.TimestampNTZType):  # writer variance
            # NTZ wall-clock is UTC by corpus convention; session tz is
            # pinned UTC in configure_reader so this cast is exact.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` under the footer-declared schema: the
    same frame, without Spark's schema-inference job."""
    return spark.read.schema(declared_schema(spark, path)).parquet(path)


def declared_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` infers, built from one
    footer on the driver. ``path`` is a parquet file or a directory of
    part files (Spark's output layout); as in Spark without schema
    merging, the first data file's footer speaks for all of them. A
    footer written by Spark carries its row schema, which Spark's reader
    uses as is; any other footer is converted column by column. Every
    field comes back nullable, as Spark marks file-source schemas. Of a
    partitioned directory (``key=value`` subdirectories) this gives the
    data columns; Spark appends the partition columns it discovers from
    the directory names, as it does when it infers the schema."""
    pf = pq.ParquetFile(_footer_file(path))
    spark_json = (pf.metadata.metadata or {}).get(_SPARK_ROW_METADATA)
    if spark_json:
        return _nullable(T.StructType.fromJson(json.loads(spark_json)))
    nanos_as_long = (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false").lower()
        == "true"
    )
    fields = []
    for i, f in enumerate(pf.schema.to_arrow_schema()):
        # flat columns and lists of them (the embeddings vector) only, so
        # the i-th column is the i-th leaf
        elem = f.type.value_type if pa.types.is_list(f.type) else f.type
        if pa.types.is_nested(elem):
            raise TypeError(f"parquet column {f.name} ({f.type}) is nested")
        dt = _leaf_type(pf.schema.column(i), nanos_as_long)
        if elem is not f.type:
            dt = T.ArrayType(dt, True)
        fields.append(T.StructField(f.name, dt, True))
    return T.StructType(fields)


def _footer_file(path: str) -> str:
    if not os.path.isdir(path):
        return path
    # Spark's file index skips names starting with "_" or "." (_SUCCESS,
    # .crc checksums, _temporary), except partition directories "_k=v".
    def listed(name: str) -> bool:
        return not name.startswith(".") and (
            not name.startswith("_") or "=" in name
        )

    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if listed(d))
        parts = sorted(f for f in files if listed(f))
        if parts:
            return os.path.join(root, parts[0])
    raise FileNotFoundError(f"no parquet data file under {path}")


def _leaf_type(col, nanos_as_long: bool) -> T.DataType:
    """One parquet leaf column → the Spark type that Spark's parquet
    schema converter gives it under the session's ``nanosAsLong``. Only
    the types this program's pyarrow-written tables use are mapped; any
    other column raises ``TypeError``."""
    logical = json.loads(col.logical_type.to_json())
    kind = logical["Type"]
    if kind == "String":
        return T.StringType()
    if kind == "Date":
        return T.DateType()
    if kind == "Timestamp":
        if logical["timeUnit"] != "nanoseconds":
            if logical["isAdjustedToUTC"]:
                return T.TimestampType()
            return T.TimestampNTZType()
        if nanos_as_long:
            return T.LongType()
    if kind == "None":
        plain = {
            "INT32": T.IntegerType(),
            "INT64": T.LongType(),
            "FLOAT": T.FloatType(),
            "DOUBLE": T.DoubleType(),
        }
        if col.physical_type in plain:
            return plain[col.physical_type]
    raise TypeError(
        f"parquet column {col.path} ({col.physical_type}, {col.logical_type}) "
        f"has no Spark type under this session's reader settings"
    )


def _nullable(dt: T.DataType) -> T.DataType:
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
                for f in dt
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def configure_reader(spark: SparkSession) -> None:
    """Session-level reader conf needed before the first events scan."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, n, sf_dir) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register each table as a temp view so ``spark.sql`` can be used
    interchangeably with the DataFrame API (same Catalyst plans)."""
    for name, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(name)

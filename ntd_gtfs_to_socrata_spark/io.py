"""Fixture-table loaders (SURVEY.md §2.1 S13).

All driver tables are parquet — the columnar, predicate-pushdown-friendly
scan path. At 100 TB the same ``spark.read.parquet`` call works against a
partitioned lake directory; Catalyst handles partition pruning, row-group
min/max skipping, and column pruning from the declared plan.

Every fixture read goes through ``read_parquet``. Spark's schema
inference for a parquet path always launches a job to read the footers
(0.10-0.14 s per read on a warm ``local[4]`` session); a read with a
declared schema launches none (0.017 s). For a single-file table the
footer is a few kB, so ``read_parquet`` reads it on the driver with
pyarrow and declares the schema Spark would have inferred. It falls back
to inference for a directory (a lake table: its files may drift and
Spark merges their footers) and for a footer whose types Spark does not
read the way pyarrow's converter maps them: nanosecond timestamps (Spark
reads them as ``LongType`` under ``nanosAsLong``), unsigned integers,
durations, times, dictionaries and anything else outside the checked set
(``_same_in_spark``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; known: {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job when
    ``path`` is one file whose footer maps to Spark types exactly (module
    doc); the frame and its schema are the same either way."""
    schema = footer_schema(spark, path) if os.path.isfile(path) else None
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def _same_in_spark(t) -> bool:
    """True when Spark's parquet reader surfaces arrow type ``t`` as
    ``from_arrow_type`` converts it."""
    import pyarrow.types as pat

    if pat.is_timestamp(t):
        return t.unit in ("ms", "us")
    if pat.is_list(t) or pat.is_large_list(t):
        return _same_in_spark(t.value_type)
    if pat.is_struct(t):
        return all(_same_in_spark(f.type) for f in t)
    if pat.is_map(t):
        return _same_in_spark(t.key_type) and _same_in_spark(t.item_type)
    return any(
        check(t)
        for check in (
            pat.is_boolean, pat.is_int8, pat.is_int16, pat.is_int32, pat.is_int64,
            pat.is_float32, pat.is_float64, pat.is_decimal128, pat.is_string,
            pat.is_large_string, pat.is_binary, pat.is_large_binary, pat.is_date32,
        )
    )


def footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` infers for the single parquet
    file ``path``, read from its footer on the driver; ``None`` when Spark
    would read some column differently from pyarrow's mapping.

    Nullability needs no care: Spark makes a declared file-source schema
    nullable, as it does an inferred one. Session settings that change the
    mapping are honoured: NTZ inference decides how a timestamp without a
    time zone reads, and ``binaryAsString`` sends every read to
    inference."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    conf = spark.conf
    if conf.get("spark.sql.parquet.binaryAsString", "false").lower() == "true":
        return None
    try:
        arrow = pq.read_schema(path)
    except (OSError, pa.ArrowException):
        return None  # not a readable parquet footer: let Spark's read say why
    if not all(_same_in_spark(f.type) for f in arrow):
        return None
    ntz = conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true").lower() == "true"
    return from_arrow_schema(arrow, prefer_timestamp_ntz=ntz)


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize ``events.ts`` to session-TZ ``TimestampType`` regardless of
    the fixture's physical parquet type.

    Fixture generations have varied: TIMESTAMP(NANOS) (which Spark's
    vectorized reader only surfaces via ``nanosAsLong`` as a BIGINT) and
    plain ``timestamp[us]`` (surfaced as TIMESTAMP_NTZ). Branch on the
    *scanned* dtype instead of hard-coding one era's physical type — the
    loader contract is the logical schema, not the file encoding. Session
    timezone is pinned to UTC (session.py), so NTZ→TimestampType is a
    value-preserving cast and matches DuckDB's naive-timestamp reading.
    A ``timestamp[us]`` file is read with its footer schema (no job); a
    nanosecond file falls back to inference, which is what applies
    ``nanosAsLong``."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # nanos-as-long era: floor-convert to micros (DuckDB truncates too).
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def ensure_min_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin rebalance a DataFrame whose source yields fewer
    partitions than cores.

    The fixture files are single-row-group parquet, so Spark's byte-range
    splitting cannot parallelize the scan: every downstream map (shingle
    explode, vector scoring) would run in ONE task. At 100 TB a lake
    directory has thousands of files and this is a no-op — the probe is
    ``df.inputFiles()`` (metadata from the analyzed plan's file index; no
    RDD conversion, no job). Costs one narrow-payload shuffle only when it
    buys a parallel map stage; callers apply it before expensive per-row
    work, never before a plain filter/agg (whose first exchange already
    spreads the load). Non-file-backed frames (inputFiles() == []) get the
    rebalance too — they are tiny test frames where the extra exchange is
    noise."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if len(df.inputFiles()) < min(target, 8):
        return df.repartition(target)
    return df


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_key: str | list[str],
    n_buckets: int = 32,
    sort: bool = True,
) -> None:
    """Persist a table bucketed (and sorted) by its join key — the
    pre-partitioning that makes repeated joins on that key exchange-free
    (SURVEY.md §4: "co-locate joins via bucketing"). Both sides of a join
    bucketed on the same key with the same bucket count sort-merge without
    any shuffle; at 100 TB that removes the dominant cost of every
    fact⋈fact join the key participates in.

    Bucket count is a layout-time decision: it fixes the join parallelism
    floor, so size it to target-cluster cores (here: local cores)."""
    keys = [bucket_key] if isinstance(bucket_key, str) else list(bucket_key)
    writer = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, *keys)
    if sort:
        writer = writer.sortBy(*keys)
    writer.saveAsTable(table_name)

"""Streaming event-window operators.

Same expressions as queries/time_windows.py — ``window()`` /
``session_window()`` are identical in batch and streaming; here they run
under ``readStream`` with watermarks (late-data eviction) and land in
sinks via append/update modes or ``foreachBatch`` for the idempotent
merge (the reference's rerun-the-diff semantics, streaming-native).

Scale posture: state store is keyed by (window, group); watermarks bound
state size; ``Trigger.AvailableNow`` gives batch-like catch-up runs — the
cron-batch reference cadence, but incremental.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ntd_gtfs_to_socrata_spark.io import read_parquet
from ntd_gtfs_to_socrata_spark.operators import merge as M


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``io._load_events``: normalize ``ts`` to
    session-TZ TimestampType whatever the fixture's physical encoding.

    File-stream sources require a user-supplied schema, so probe the
    *actual* physical schema instead of hard-coding one fixture era's
    encoding — the hard-coded LongType schema silently mis-decoded
    ``timestamp[us]`` fixtures into garbage epoch values (r5 fix, same
    root cause as the batch loader outage). The probe is
    ``io.read_parquet``: for a ``timestamp[us]`` file it reads the footer
    on the driver and launches no job; a nanosecond file falls back to
    Spark's inference job, which reports ``ts`` as ``LongType`` under
    ``nanosAsLong``."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    physical = read_parquet(spark, path).schema
    # file-stream sources need a directory; select just events.parquet
    raw = (
        spark.readStream.schema(physical)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    ts_type = physical["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling windows — append-mode capable: a window emits
    once the watermark passes its end; later events are dropped (late-data
    discard semantics)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_counts(events: DataFrame, gap: str = "5 minutes", watermark: str = "1 hour") -> DataFrame:
    """Watermarked session windows: state merges sessions per user until
    the watermark closes them."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            "n_events",
        )
    )


def run_available_now_to_memory(df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a streaming frame to completion synchronously (test/dev
    harness): AvailableNow trigger + memory sink; results land in the
    ``name`` temp view."""
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def foreach_batch_upsert(stream: DataFrame, target_path: str, key: str):
    """The reference's idempotent sync (J4/J5) as a streaming sink: each
    micro-batch merges into the parquet target by key — rerunning a batch
    converges to the same state (exactly-once effect via idempotent
    merge)."""

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if os.path.exists(target_path):
            existing = spark.read.parquet(target_path)
            merged = M.upsert(existing, batch_df, key=key)
        else:
            merged = batch_df
        # overwrite via temp to keep the merge idempotent per epoch
        merged.write.mode("overwrite").parquet(target_path + ".tmp")
        spark.read.parquet(target_path + ".tmp").write.mode("overwrite").parquet(target_path)

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .outputMode("update")
        .start()
    )

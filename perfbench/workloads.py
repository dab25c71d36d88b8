"""The benchmark's workloads and their output checks.

A workload is a list of operations run one after another in one
SparkSession (one client, closed loop). An operation is one registered
query through the no-op sink, or for ``gtfs_nightly`` one nightly
pipeline run (catalog run + stops run).
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

QUERY_WORKLOADS = {
    # Bound by Spark job count: a fixpoint loop with eager
    # materializations during query build, plus a streaming query.
    "iterative_dedup": [
        "dedup_lsh_pipeline",
        "stream_static_enrich",
    ],
}
# The tables each query workload reads: the base of its read and write
# amplification.
QUERY_TABLES = {"iterative_dedup": ("documents", "events")}
WORKLOADS = ("gtfs_nightly", *QUERY_WORKLOADS)


def result_digest(df: DataFrame) -> list[int]:
    """Row count and an order-insensitive value hash (sum of per-row
    xxhash64 over the columns in name order), computed in one Spark job."""
    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f"`{f.name}`")
        cols.append(F.to_json(c) if isinstance(f.dataType, MapType) else c)
    h = F.xxhash64(*cols) if cols else F.lit(0)
    row = df.select(h.cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).first()
    return [int(row["n"]), int(row["s"] or 0)]


# ------------------------------------------------------------ gtfs_nightly

_STOPS_LINE = re.compile(r"stops_map: synced=(\d+) quarantined=(\d+) deleted=(\d+)")


class GtfsNight:
    """One night of the reference's three run modes against a state
    directory that ``reset`` puts back to the previous day before every
    run, so every run does the same upserts, deletions and quarantines."""

    def __init__(self, inputs_dir: str, work_dir: str):
        self.inputs = inputs_dir
        self.work = work_dir
        self.state = os.path.join(work_dir, "state")
        self.out = os.path.join(work_dir, "out")

    def reset(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        shutil.copytree(
            os.path.join(self.inputs, "state_yesterday"),
            os.path.join(self.state, "stops_state"),
        )

    def run(self, spark, run_span=None) -> dict:
        """Catalog run, then the stops run; returns the counts the stops
        run reports. ``run_span(name)`` wraps each run mode (tracing)."""
        from ntd_gtfs_to_socrata_spark.__main__ import run_catalog, run_stops_map

        span = run_span or (lambda name: contextlib.nullcontext())
        log = io.StringIO()
        with contextlib.redirect_stdout(log):
            with span("run_catalog"):
                run_catalog(
                    spark,
                    os.path.join(self.inputs, "feeds.json"),
                    os.path.join(self.inputs, "catalog.json"),
                    os.path.join(self.out, "catalog"),
                    public=True,
                )
            with span("run_stops_map"):
                run_stops_map(
                    spark, os.path.join(self.inputs, "zips", "*.zip"), self.state,
                    os.path.join(self.out, "stops"),
                )
        m = _STOPS_LINE.search(log.getvalue())
        if m is None:
            raise RuntimeError(f"stops run printed no summary: {log.getvalue()!r}")
        synced, quarantined, deleted = (int(x) for x in m.groups())
        return {"synced": synced, "quarantined": quarantined, "deleted": deleted}

    def check(self, spark, reported: dict, expected: dict) -> list[str]:
        """Mismatches between this run's outputs and what the generator
        knows it produced."""
        from perfbench.gen import keys_digest

        got = dict(reported)
        routed = spark.read.parquet(os.path.join(self.out, "catalog", "routed"))
        actions = {r["action"]: r["count"] for r in routed.groupBy("action").count().collect()}
        got["catalog_creates"] = actions.get("create", 0)
        got["catalog_updates"] = actions.get("update", 0)
        keys = spark.read.parquet(os.path.join(self.state, "stops_state"))
        got["state_digest"] = keys_digest(r[0] for r in keys.select("feed_id_stop_id").collect())
        return [
            f"{k}: got {got[k]!r}, expected {expected[k]!r}"
            for k in ("catalog_creates", "catalog_updates", "synced", "quarantined",
                      "deleted", "state_digest")
            if got[k] != expected[k]
        ]

"""CLI mirroring the reference's argv dispatch (`Main`,
/root/reference/publish_to_catalog.py:584-611; README.md:14-21): three run
modes, file-based sources/sinks so the pipelines run end-to-end locally
(the HTTP Socrata adapters plug in behind the same functions — see
sources/socrata.py and sinks.RevisionPublisher).

    python -m ntd_gtfs_to_socrata_spark catalog      --feeds F.json --catalog C.json --out DIR
    python -m ntd_gtfs_to_socrata_spark catalog_test --feeds F.json --catalog C.json --out DIR
    python -m ntd_gtfs_to_socrata_spark stops_map    --zips 'DIR/*.zip' --state DIR --out DIR

`catalog_test` = `catalog` against the same inputs but marked private
(the reference's test mode, publish_to_catalog.py:520, 592-593). Every
mode appends a run-summary row under <out>/run_log (entry point 3,
L605-608), folded from metrics observed on the write it summarizes (the
routed catalog, the stops changelog).
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import uuid

from pyspark.sql import Observation
from pyspark.sql import functions as F

from ntd_gtfs_to_socrata_spark.operators.stagecache import release, stage_boundary
from ntd_gtfs_to_socrata_spark.plans.catalog_sync import route_catalog
from ntd_gtfs_to_socrata_spark.plans.run_log import (
    CATALOG_ACTIONS,
    STOPS_ACTIONS,
    log_metrics,
    summary_row,
)
from ntd_gtfs_to_socrata_spark.plans.stops_sync import sync_stops
from ntd_gtfs_to_socrata_spark.session import get_spark
from ntd_gtfs_to_socrata_spark.sinks import LocalParquetSink
from ntd_gtfs_to_socrata_spark.sources.zip_ingest import read_stops_from_zips


def _write(df, path: str, mode: str = "overwrite") -> None:
    LocalParquetSink(path=path, mode=mode).write(df)


def run_catalog(spark, feeds_path: str, catalog_path: str, out: str, public: bool) -> int:
    feeds = spark.read.option("multiLine", True).json(feeds_path)
    catalog = spark.read.option("multiLine", True).json(catalog_path)
    routed = route_catalog(feeds, catalog).withColumn("make_public", F.lit(public))
    # the routed write carries the printed row count and the run log's
    # metrics, so neither re-runs the reads and the join
    routed_obs = Observation()
    _write(
        routed.observe(
            routed_obs,
            F.count(F.lit(1)).alias("n"),
            *log_metrics(CATALOG_ACTIONS, message=F.coalesce(F.col("existing_id"), F.lit(""))),
        ),
        os.path.join(out, "routed"),
    )
    summary = summary_row(spark, routed_obs.get, CATALOG_ACTIONS, run_successful=True)
    _write(summary, os.path.join(out, "run_log"), "append")
    print(f"catalog: routed {routed_obs.get['n']} feeds -> {out}/routed")
    return 0


_STOPS_SCOPE = "stops_map_stops"


def run_stops_map(spark, zips_glob: str, state_dir: str, out: str) -> int:
    # feed identity = archive basename (the reference keys feeds by the
    # FeedID that selected each zip; file-based runs use the filename).
    # The archives are decoded in Python (mapInPandas), so every branch
    # below (snapshot, quarantine, changelog) reads this run's cached
    # decode instead of re-extracting the zips.
    stops_raw = stage_boundary(
        read_stops_from_zips(spark, zips_glob).withColumn(
            "feed_id", F.regexp_extract(F.col("path"), r"([^/]+)\.zip$", 1)
        ),
        _STOPS_SCOPE,
    )
    state_path = os.path.join(state_dir, "stops_state")
    # two-phase swap via a run-unique staging dir: write the new snapshot
    # beside the state it is derived from, then rename it into place (the
    # lakehouse target would MERGE in place instead)
    staging = state_path + ".next-" + uuid.uuid4().hex[:8]
    keep_staging = False
    try:
        if os.path.isdir(state_path):
            existing = spark.read.parquet(state_path)
        else:
            existing = spark.createDataFrame(
                [], "feed_id_stop_id string, stop_name string, location string"
            )
        res = sync_stops(stops_raw, existing)
        # each count rides the write of the rows it counts: the staging
        # write carries the synced and deleted counts (observed on the sync
        # join, res.sync_counts), the quarantine write the quarantined
        # count, the changelog write the run log's metrics (one "upserted"
        # entry per feed and no error lines, so the log has no message)
        quarantine_obs, changelog_obs = Observation(), Observation()
        _write(res.synced, staging)
        _write(
            res.quarantine.observe(quarantine_obs, F.count(F.lit(1)).alias("n")),
            os.path.join(out, "quarantine"),
        )
        log_cols = log_metrics(STOPS_ACTIONS, action=F.lit("upserted"), message=F.lit(""))
        _write(res.changelog.observe(changelog_obs, *log_cols), os.path.join(out, "changelog"))
        # from here on the staging dir may be the only complete snapshot
        keep_staging = True
        if os.path.isdir(state_path):
            shutil.rmtree(state_path)
        os.rename(staging, state_path)
        summary = summary_row(spark, changelog_obs.get, STOPS_ACTIONS, run_successful=True)
        _write(summary, os.path.join(out, "run_log"), "append")
    finally:
        release(_STOPS_SCOPE)
        if not keep_staging:
            shutil.rmtree(staging, ignore_errors=True)
    counts = res.sync_counts.get
    print(
        f"stops_map: synced={counts['n']} quarantined={quarantine_obs.get['n']} "
        f"deleted={counts['deleted']} -> {state_path}"
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="ntd_gtfs_to_socrata_spark")
    sub = ap.add_subparsers(dest="mode", required=True)
    for mode in ("catalog", "catalog_test"):
        p = sub.add_parser(mode)
        p.add_argument("--feeds", required=True)
        p.add_argument("--catalog", required=True)
        p.add_argument("--out", required=True)
    p = sub.add_parser("stops_map")
    p.add_argument("--zips", required=True)
    p.add_argument("--state", required=True)
    p.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    spark = get_spark(f"ntd-gtfs-{args.mode}")
    if args.mode in ("catalog", "catalog_test"):
        return run_catalog(
            spark, args.feeds, args.catalog, args.out, public=args.mode == "catalog"
        )
    return run_stops_map(spark, args.zips, args.state, args.out)


if __name__ == "__main__":
    sys.exit(main())

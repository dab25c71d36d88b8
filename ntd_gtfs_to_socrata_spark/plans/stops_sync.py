"""The ``stops_map`` pipeline (SURVEY.md §3 entry point 2) —
``updateTransitStopDataset`` (/root/reference/publish_to_catalog.py:303-368)
as one declarative flow:

    stops rows (all feeds at once, not a serial per-feed loop)
      → normalize → validate → split valid/quarantine
      → derive surrogate key + WKT point
      → sync against existing sink state (J5 = J4 + J3): one keyed
        full-outer join of the deduplicated rows to existing's per-key
        counts, so the snapshot write also counts the deletions
      → per-feed changelog counts (A1/A2)

The per-feed serial loop becomes a partition dimension: every step is
keyed by feed_id, so 10 or 10,000 feeds run in the same five stages.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ntd_gtfs_to_socrata_spark.operators import changelog as CL
from ntd_gtfs_to_socrata_spark.operators import keys as K
from ntd_gtfs_to_socrata_spark.operators import merge as M
from ntd_gtfs_to_socrata_spark.operators import validation as V


@dataclass
class StopsSyncResult:
    clean: DataFrame        # validated, keyed rows that were upserted
    quarantine: DataFrame   # invalid rows retained for audit (P10)
    synced: DataFrame       # post-sync snapshot (J5), observing sync_counts
    deletions: DataFrame    # keys removed, with their existing row counts (J3)
    changelog: DataFrame    # per-feed A1 counts
    sync_counts: Observation  # n (rows synced), deleted (existing rows removed)


def sync_stops(
    stops_raw: DataFrame,
    existing: DataFrame,
    feed_id_col: str = "feed_id",
) -> StopsSyncResult:
    """stops_raw: conformed stops rows with a feed_id column (from
    sources/csv_ingest or sources/zip_ingest). existing: current sink
    state keyed by feed_id_stop_id."""
    is_valid = V.coordinates_valid(F.col("stop_lat"), F.col("stop_lon")) & V.location_type_valid(
        F.col("location_type")
    )
    flagged = stops_raw.withColumn("is_valid", F.coalesce(is_valid, F.lit(False)))
    clean = flagged.filter(F.col("is_valid")).drop("is_valid")
    quarantine = flagged.filter(~F.col("is_valid")).drop("is_valid")

    keyed = clean.withColumn(
        "feed_id_stop_id", K.surrogate_key(F.col(feed_id_col), F.col("stop_id"))
    ).withColumn("location", K.wkt_point(F.col("stop_lon"), F.col("stop_lat")))

    sync_counts = Observation()
    synced, deletions = M.full_sync_with_deletions(
        existing, keyed, "feed_id_stop_id", sync_counts
    )
    changelog = CL.quarantine_counts(flagged, feed_id_col)
    return StopsSyncResult(clean=keyed, quarantine=quarantine, synced=synced,
                           deletions=deletions, changelog=changelog,
                           sync_counts=sync_counts)

"""End-to-end pipeline + sink tests (SURVEY.md M3-M5): the three reference
run modes recomposed, against injected transports and local sinks."""

from __future__ import annotations

from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ntd_gtfs_to_socrata_spark.operators import changelog as CL
from ntd_gtfs_to_socrata_spark.plans.catalog_sync import route_catalog
from ntd_gtfs_to_socrata_spark.plans.run_log import (
    CATALOG_ACTIONS,
    STOPS_ACTIONS,
    log_metrics,
    summary_row,
)
from ntd_gtfs_to_socrata_spark.plans.stops_sync import sync_stops
from ntd_gtfs_to_socrata_spark.sinks import (
    HttpBatchSink,
    LocalParquetSink,
    RevisionPublisher,
)

STOPS_SCHEMA = (
    "feed_id string, stop_id string, stop_name string, stop_lat string, "
    "stop_lon string, location_type string"
)


def _stops_raw(spark):
    return spark.createDataFrame(
        [
            ("A", "1", "Good", "45.5", "-122.6", "0"),
            ("A", "2", "BadLat", "xx", "-122.6", ""),
            ("A", "3", "New", "44.0", "-121.0", None),
            ("B", "9", "OtherFeed", "10.0", "10.0", "1"),
        ],
        STOPS_SCHEMA,
    )


def _existing(spark):
    return spark.createDataFrame(
        [("A_1", "Old Name", "POINT(0 0)"), ("A_7", "ToDelete", "POINT(1 1)")],
        "feed_id_stop_id string, stop_name string, location string",
    )


def test_stops_sync_end_to_end(spark):
    res = sync_stops(_stops_raw(spark), _existing(spark))
    assert {r["stop_id"] for r in res.clean.collect()} == {"1", "3", "9"}
    assert [r["stop_id"] for r in res.quarantine.collect()] == ["2"]
    synced = {r["feed_id_stop_id"]: r for r in res.synced.collect()}
    # incoming wins, new keys inserted, absent keys dropped
    assert synced["A_1"]["stop_name"] == "Good"
    assert "A_7" not in synced and "A_3" in synced and "B_9" in synced
    assert [r["feed_id_stop_id"] for r in res.deletions.collect()] == ["A_7"]
    # collecting the snapshot fills the counts observed on the sync join
    assert res.sync_counts.get == {"n": 3, "deleted": 1}
    cl = {r["feed_id"]: r for r in res.changelog.collect()}
    assert cl["A"]["valid_rows"] == 2 and cl["A"]["invalid_rows"] == 1
    assert cl["A"]["valid_rows"] + cl["A"]["invalid_rows"] == cl["A"]["total_rows"]
    # WKT derived
    assert synced["A_1"]["location"] == "POINT(-122.6 45.5)"


def test_catalog_route_and_publish(spark):
    feeds = spark.createDataFrame(
        [
            ("F1", "Metro", "https://metro.example.com/gtfs.zip", "https://metro.example.com", True),
            ("F2", "Bus Co", None, None, True),
            ("F3", "NoConsent", None, None, False),
        ],
        "feed_id string, agency_name string, fetch_link string, agency_website string, have_consent_for_ntm boolean",
    )
    catalog = spark.createDataFrame(
        [
            ("abcd-0001", "Metro dataset", "x\nFeed ID: F1\ny"),
            ("abcd-0002", "Unrelated", "no marker"),
        ],
        "id string, name string, description string",
    )
    routed = route_catalog(feeds, catalog)
    actions = {r["feed_id"]: r["action"] for r in routed.collect()}
    assert actions == {"F1": "update", "F2": "create"}

    calls = []

    def transport(url, body, headers):
        calls.append(headers.get("X-Step"))
        return 200, "{}"

    pub = RevisionPublisher(transport=transport)
    stats = pub.publish(routed.withColumn("payload", F.lit(b"ZIPBYTES")))
    assert stats == {"created": 1, "updated": 1, "errors": 0}
    assert calls.count("apply_revision") == 2


def test_http_batch_sink_batches_and_retries(spark, tmp_path):
    # the transport runs inside executor worker processes — record through
    # the filesystem, not a driver-side list
    record_dir = tmp_path / "posts"
    record_dir.mkdir()

    def make_transport(record_path):
        def transport(url, body, headers):
            import os
            import uuid

            with open(os.path.join(record_path, uuid.uuid4().hex), "wb") as f:
                f.write(body)
            return 200, "ok"

        return transport

    df = spark.createDataFrame(
        [(f"k{i}", "café" if i == 0 else "plain") for i in range(25)], "k string, v string"
    ).coalesce(1)
    sink = HttpBatchSink(
        url="http://x.invalid/upsert",
        transport=make_transport(str(record_dir)),
        batch_size=10,
    )
    stats = sink.write(df)
    assert stats["rows_accepted"] == 25 and stats["rows_failed"] == 0
    assert stats["batches"] == 3
    bodies = [p.read_bytes() for p in record_dir.iterdir()]
    assert len(bodies) == 3
    # non-ascii body went through the utf-8 retry path
    assert any("café".encode() in b for b in bodies)


LOG_SCHEMA = "feed_id string, action string, message string"


def _observed_summary(spark, log, actions, out_dir):
    """The run modes' path: the metrics ride a write of the log, and the
    summary is built from what that write observed."""
    obs = Observation()
    LocalParquetSink(str(out_dir)).write(log.observe(obs, *log_metrics(actions)))
    return summary_row(spark, obs.get, actions, run_successful=True)


def test_run_log_summary_and_append(spark, tmp_path):
    log = spark.createDataFrame(
        [
            ("A", "upserted", "120 rows"),
            ("B", "upserted", "10 rows"),
            ("C", "error", "fetch failed"),
        ],
        LOG_SCHEMA,
    )
    summary = _observed_summary(spark, log, STOPS_ACTIONS, tmp_path / "changelog")
    row = summary.collect()[0]
    assert row["upserted"] == 2 and row["error"] == 1
    assert row["error_blob"] == "C: fetch failed"
    assert row["run_successful"]
    sink = LocalParquetSink(str(tmp_path / "runlog"), mode="append")
    sink.write(summary)
    sink.write(summary)
    assert spark.read.parquet(str(tmp_path / "runlog")).count() == 2


def test_observed_run_log_matches_changelog_fold(spark, tmp_path):
    """The observed summary equals the changelog operators' fold (A3
    distinct feeds per action, A4 sorted error lines)."""
    log = spark.createDataFrame(
        [
            ("A", "create", ""),
            ("A", "create", "retried"),  # one feed twice under one action
            ("B", "update", "aaaa-0001"),
            ("Z", "error", "timeout"),  # error lines out of order
            ("C", "error", "fetch failed"),
            ("D", "error", None),
        ],
        LOG_SCHEMA,
    )
    counts = {r["action"]: r["n_feeds"] for r in CL.action_counts(log).collect()}
    blob = CL.fold_errors(log.filter(F.col("action") == "error")).first()["error_blob"]
    assert counts == {"create": 1, "update": 1, "error": 3}
    assert blob == "C: fetch failed\n\nD\n\nZ: timeout"

    row = _observed_summary(spark, log, CATALOG_ACTIONS, tmp_path / "routed").first()
    assert {a: row[a] for a in CATALOG_ACTIONS} == counts
    assert row["error_blob"] == blob


def test_run_log_schema_is_fixed_per_vocabulary(spark, tmp_path):
    """Appended nights with different actions (and none at all) read back
    with one bigint column per action of the vocabulary, 0 when absent. A
    pivot without values wrote only the actions present each night."""
    nights = [
        [("A", "create", ""), ("B", "update", "aaaa-0001")],
        [("B", "update", "aaaa-0001")],
        [],
    ]
    sink = LocalParquetSink(str(tmp_path / "run_log"), mode="append")
    for i, rows in enumerate(nights):
        log = spark.createDataFrame(rows, LOG_SCHEMA)
        sink.write(_observed_summary(spark, log, CATALOG_ACTIONS, tmp_path / f"routed{i}"))

    back = spark.read.parquet(str(tmp_path / "run_log"))
    assert back.columns == [*CATALOG_ACTIONS, "error_blob", "run_successful", "run_ts"]
    assert all(back.schema[a].dataType == LongType() for a in CATALOG_ACTIONS)
    got = sorted((r["create"], r["update"], r["error"], r["error_blob"]) for r in back.collect())
    assert got == [(0, 0, 0, ""), (0, 1, 0, ""), (1, 1, 0, "")]


def test_summary_row_is_built_in_the_jvm(spark):
    """One partition and no scan of a Python RDD. Appending the same row
    made with ``spark.createDataFrame([...])`` from a Python list (a
    ``Scan ExistingRDD`` over 4 partitions) took 0.46 s, against 0.17 s
    for this literal frame (medians of 10 appends, warm local[4] session
    on a 4-vCPU host)."""
    row = summary_row(
        spark, {"create": 1, "update": 2, "error": 0, "error_blob": ""}, CATALOG_ACTIONS, True
    )
    assert row.rdd.getNumPartitions() == 1
    plan = row._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan
    assert row.first()["update"] == 2


def test_observe_captures_run_metrics_without_second_scan(spark, sf_dir):
    """`df.observe` is the run-log counter surface (SURVEY §2.4 A3/A5) at
    scale: metrics accumulate ON the write pass, so the pipeline doesn't
    re-scan its input to count what it just wrote (the reference re-reads
    its own output to log; publish_to_catalog.py run summary)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ntd_gtfs_to_socrata_spark.io import load_table

    orders = load_table(spark, sf_dir, "orders")
    expected = orders.count()
    obs = Observation("run_metrics")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("o_orderstatus") == "F").cast("long")).alias("n_final"),
    )
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["n_rows"] == expected
    assert 0 < got["n_final"] < expected

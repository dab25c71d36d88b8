"""Planner-visible Socrata source: Catalyst predicates compile to SoQL via
the Python DataSource pushFilters API — the filter disappears from the
Spark plan (served pushed) and the rows are identical to post-scan
filtering (SURVEY.md §4, reference pushdown publish_to_catalog.py:525)."""

from __future__ import annotations

import io
import json
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThan, StringStartsWith

from ntd_gtfs_to_socrata_spark.sources.socrata_datasource import (
    SocrataScanReader,
    _compile_filter,
    register_socrata_datasource,
)

ROWS = [
    {"feed_id": str(i), "agency_name": f"agency {i}", "city": "x",
     "have_consent_for_ntm": i % 2 == 0}
    for i in range(10)
]


@pytest.fixture(scope="module")
def socrata_df_factory(module_spark):
    spark = module_spark
    register_socrata_datasource(spark)

    def make(**opts):
        reader = (
            spark.read.format("socrata")
            .option("fake_rows", json.dumps(ROWS))
            .option("page_size", opts.pop("page_size", 4))
        )
        for k, v in opts.items():
            reader = reader.option(k, v)
        return reader.load()

    return make


def _physical(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _has_filter_operator(plan: str) -> bool:
    """Formatted explain renders operator nodes as 'Filter (N)'; the
    'PushedFilters: [...]' scan annotation is NOT an operator."""
    return bool(re.search(r"\bFilter \(\d+\)", plan))


def test_consent_filter_pushed_out_of_plan(socrata_df_factory):
    df = socrata_df_factory().filter(F.col("have_consent_for_ntm") == True)  # noqa: E712
    plan = _physical(df)
    # the predicate is served pushed: no Filter operator survives planning,
    # and the scan advertises what it absorbed
    assert not _has_filter_operator(plan), plan
    assert "EqualTo(have_consent_for_ntm,true)" in plan
    got = {r["feed_id"] for r in df.collect()}
    assert got == {str(i) for i in range(10) if i % 2 == 0}


def test_unsupported_filter_stays_in_plan(socrata_df_factory):
    # length(agency_name) is not translatable to our SoQL surface -> Spark
    # must re-apply it post-scan ("agency N" is 8 chars, so all rows pass)
    df = socrata_df_factory().filter(F.length("agency_name") >= 8)
    plan = _physical(df)
    assert _has_filter_operator(plan)
    assert df.count() == 10


def test_pushdown_matches_postfilter_rows(socrata_df_factory):
    """Pushed and unpushed evaluation agree (the correctness contract of
    any pushdown): same rows whether the server or Spark applies it."""
    pushed = socrata_df_factory().filter(F.col("feed_id") >= "7").collect()
    unpushed = [r for r in socrata_df_factory().collect() if r["feed_id"] >= "7"]
    assert sorted(r["feed_id"] for r in pushed) == sorted(
        r["feed_id"] for r in unpushed
    )


def test_one_partition_per_page(socrata_df_factory):
    df = socrata_df_factory(page_size=3)  # 10 rows / 3 -> 4 pages
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 10


def test_page_plan_sized_after_pushdown(socrata_df_factory):
    """The count probe runs WITH the pushed $where: 5 consenting rows at
    page_size 4 -> 2 pages, not the unfiltered 3."""
    df = socrata_df_factory(page_size=4).filter(
        F.col("have_consent_for_ntm") == True  # noqa: E712
    )
    assert df.rdd.getNumPartitions() == 2
    assert df.count() == 5


def test_soql_compilation():
    assert _compile_filter(EqualTo(("have_consent_for_ntm",), True)) == (
        "have_consent_for_ntm = true"
    )
    assert _compile_filter(EqualTo(("city",), "St. Paul's")) == "city = 'St. Paul''s'"
    assert _compile_filter(GreaterThan(("uza",), 5)) == "uza > 5"
    assert (
        _compile_filter(StringStartsWith(("feed_id_stop_id",), "f1_"))
        == "starts_with(feed_id_stop_id, 'f1_')"
    )
    # nested column -> not pushable
    assert _compile_filter(EqualTo(("a", "b"), 1)) is None


def test_reader_requires_target():
    with pytest.raises(ValueError, match="base_url"):
        SocrataScanReader({}, schema=None)


def test_writer_batched_upsert(spark, tmp_path):
    """S7 as a native writer: per-partition batched POSTs happen in tasks,
    every input row lands in exactly one batch, and the commit message
    totals match the input cardinality."""
    register_socrata_datasource(spark)
    log = tmp_path / "posts.log"
    df = (
        spark.range(10)
        .select(
            F.concat_ws("_", F.lit("f1"), F.col("id")).alias("feed_id_stop_id"),
            F.lit("café").alias("stop_name"),  # non-ascii -> utf-8 retry path
        )
        .repartition(2)
    )
    (
        df.write.format("socrata")
        .option("log_path", str(log))
        .option("fourfour", "x87r-3ckx")
        .option("batch_size", "3")
        .mode("append")
        .save()
    )
    entries = [json.loads(line) for line in log.read_text().splitlines()]
    posts = [e for e in entries if "url" in e]
    commits = [e for e in entries if "commit" in e]
    assert sum(e["n"] for e in posts) == 10
    # 2 partitions x ceil(5/3) batches = 4 POSTs
    assert len(posts) == 4
    assert commits == [{"commit": 10}]


def test_stream_reader_incremental_microbatches(spark, tmp_path):
    """readStream over the resource: the row-cursor offset advances by at
    most page_size per microbatch and every row arrives exactly once
    across batches. (PythonMicroBatchStream has no AvailableNow support,
    so run the default trigger and stop once the tail is drained.)"""
    import time

    register_socrata_datasource(spark)
    q = (
        spark.readStream.format("socrata")
        .option("fake_rows", json.dumps(ROWS))
        .option("page_size", 4)
        .load()
        .writeStream.format("memory")
        .queryName("socrata_tail")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.sql("SELECT * FROM socrata_tail").count() >= len(ROWS):
                break
            time.sleep(0.5)
        got = spark.sql("SELECT feed_id FROM socrata_tail").collect()
    finally:
        q.stop()
    assert sorted(r["feed_id"] for r in got) == sorted(r["feed_id"] for r in ROWS)
    # 10 rows at page_size 4 -> at least 3 data-carrying microbatches
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) >= 3


def test_writer_rejects_overwrite(spark, tmp_path):
    register_socrata_datasource(spark)
    df = spark.range(3).select(F.col("id").cast("string").alias("feed_id_stop_id"))
    with pytest.raises(Exception, match="full_sync"):
        (
            df.write.format("socrata")
            .option("log_path", str(tmp_path / "x.log"))
            .mode("overwrite")
            .save()
        )


def test_stream_writer_posts_microbatches(spark, tmp_path):
    """writeStream.format('socrata'): a rate-limited streaming read of the
    fake resource feeds the streaming upsert sink; every row must be
    POSTed exactly once across microbatches and each commit must carry its
    batch id."""
    import time

    register_socrata_datasource(spark)
    log = tmp_path / "stream_posts.log"
    q = (
        spark.readStream.format("socrata")
        .option("fake_rows", json.dumps(ROWS))
        .option("page_size", 4)
        .load()
        .writeStream.format("socrata")
        .option("log_path", str(log))
        .option("batch_size", 2)
        .option("checkpointLocation", str(tmp_path / "ckpt_w"))
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if log.exists():
                entries = [json.loads(l) for l in log.read_text().splitlines()]
                posted = sum(e["n"] for e in entries if "n" in e)
                committed = sum(e["commit"] for e in entries if "commit" in e)
                # stop only after the last epoch has committed: stopping
                # between its POSTs and its commit aborts it
                if posted >= len(ROWS) and committed >= len(ROWS):
                    break
            time.sleep(0.5)
    finally:
        q.stop()
    entries = [json.loads(l) for l in log.read_text().splitlines()]
    assert sum(e["n"] for e in entries if "n" in e) == len(ROWS)
    # batch_size=2 caps each POST at 2 rows
    assert all(e["n"] <= 2 for e in entries if "n" in e)
    commits = [e for e in entries if "commit" in e]
    assert commits and all("batch_id" in e for e in commits)
    assert sum(e["commit"] for e in commits) == len(ROWS)


def test_stream_writer_rejects_complete_mode(spark, tmp_path):
    register_socrata_datasource(spark)
    sdf = (
        spark.readStream.format("socrata")
        .option("fake_rows", json.dumps(ROWS))
        .load()
    )
    agg = sdf.groupBy("feed_id").count()
    with pytest.raises(Exception, match="[Oo]verwrite|[Cc]omplete"):
        (
            agg.writeStream.format("socrata")
            .outputMode("complete")
            .option("log_path", str(tmp_path / "y.log"))
            .option("checkpointLocation", str(tmp_path / "ckpt_c"))
            .start()
        ).awaitTermination(60)

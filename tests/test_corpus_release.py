"""End-to-end corpus release plan: stage counters monotone, split write
partition-prunes, pipeline idempotent, decontamination actually removes
eval-overlapping docs."""

from __future__ import annotations

from pyspark.sql import functions as F

from ntd_gtfs_to_socrata_spark.plans.corpus_release import (
    build_release,
    write_release,
)


def test_release_counts_monotone_and_manifest(spark, sf_dir, tmp_path):
    res = build_release(spark, sf_dir)
    manifest = write_release(res, str(tmp_path / "release"))
    assert (
        manifest["input"]
        >= manifest["ruled"]
        >= manifest["exact"]
        >= manifest["neardup"]
        >= manifest["decon"]
        > 0
    )
    assert manifest["released"] == manifest["decon"]


def test_release_write_partitioned_by_split(spark, sf_dir, tmp_path):
    out = str(tmp_path / "release")
    write_release(build_release(spark, sf_dir), out)
    back = spark.read.parquet(out)
    splits = {r["split"] for r in back.select("split").distinct().collect()}
    assert splits <= {"train", "validation", "test"}
    # partition pruning: a split filter must reach PartitionFilters
    plan = back.filter(F.col("split") == "train")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "split" in plan


def test_release_idempotent(spark, sf_dir, tmp_path):
    a = build_release(spark, sf_dir).released
    b = build_release(spark, sf_dir).released
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_empty_release_writes_zero_manifest(spark, sf_dir, tmp_path, monkeypatch):
    """A release that keeps no document writes a manifest of zeros (and
    the true input count) and releases both stage scopes: the counters
    under the joins AQE prunes to an empty relation report no metrics,
    and are not read."""
    from ntd_gtfs_to_socrata_spark.operators import stagecache
    from ntd_gtfs_to_socrata_spark.plans import corpus_release as cr

    monkeypatch.setattr(cr, "_keep_rules", lambda docs: docs.filter(F.col("doc_id") < 0))
    out = str(tmp_path / "release")
    res = build_release(spark, sf_dir)
    manifest = write_release(res, out)
    assert manifest.pop("input") == res.docs.count() > 0
    assert manifest == dict.fromkeys(
        ("ruled", "exact", "neardup", "decon", "released"), 0
    )
    assert not any(s in stagecache._LIVE for s in cr.STAGE_SCOPES)


def test_release_cache_lifecycle(spark, sf_dir, tmp_path):
    """r6 ADVICE: stage persists must not leak across invocations —
    write_release releases its build's stage scopes, and a new build
    retires the previous build's frames."""
    from ntd_gtfs_to_socrata_spark.operators import stagecache
    from ntd_gtfs_to_socrata_spark.plans import corpus_release as cr

    def live():
        return [stagecache._LIVE[s] for s in cr.STAGE_SCOPES if s in stagecache._LIVE]

    res = build_release(spark, sf_dir)
    assert len(live()) == 2 and all(df.is_cached for df in live())
    write_release(res, str(tmp_path / "rel"))
    assert live() == []
    # lazy query path (no close() possible before the caller's action):
    # repeated builds hold at most ONE build's stages
    first = build_release(spark, sf_dir)
    first_frames = live()
    build_release(spark, sf_dir)
    assert len(live()) == 2
    assert not any(df.is_cached for df in first_frames)
    first.close()
    assert live() == []


def test_release_contains_no_exact_duplicates_or_eval_overlap(spark, sf_dir, tmp_path):
    rel = build_release(spark, sf_dir).released.cache()
    n = rel.count()
    assert rel.select("text").distinct().count() == n
    # no released doc is in the held-out eval bucket
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
    )
    assert rel.filter(bucket >= 98).count() == 0

"""Bucketed co-located joins (io.write_bucketed; SURVEY.md §4).

Writes orders and lineitem bucketed on the order key, then proves the
bucketed sort-merge join plans WITHOUT a shuffle exchange on either side —
the storage-layout optimization that, at 100 TB, removes the fact⋈fact
shuffle entirely. The unbucketed control plan shows the exchanges the
layout eliminated, and the joined result matches the unbucketed join.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from ntd_gtfs_to_socrata_spark.io import load_table, write_bucketed

N_BUCKETS = 8


def plan_text(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def bucketed_tables(module_spark, sf_dir):
    spark = module_spark
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(o, "orders_b", "o_orderkey", N_BUCKETS)
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b", "o_orderkey", N_BUCKETS
    )
    yield "orders_b", "lineitem_b"
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def _joined(spark, bucketed_tables):
    o_b, li_b = bucketed_tables
    return (
        spark.table(o_b)
        .hint("merge")
        .join(spark.table(li_b), "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
    )


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    plan = plan_text(_joined(spark, bucketed_tables), "simple")
    # SelectedBucketsCount proves the scan is bucket-aware; in the simple
    # tree the join's children print after the SortMergeJoin line, and none
    # of them may be an Exchange (the aggregate above the join still
    # shuffles on its own group key — that one prints before the join).
    assert "SelectedBucketsCount" in plan
    assert "SortMergeJoin" in plan
    join_pos = plan.index("SortMergeJoin")
    for line in plan[join_pos:].splitlines():
        assert "Exchange" not in line, f"shuffle below the join: {line}"


def test_bucketed_join_matches_unbucketed(spark, sf_dir, bucketed_tables):
    got = {
        r["o_orderpriority"]: (r["n"], r["qty"])
        for r in _joined(spark, bucketed_tables).collect()
    }
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o_orderkey"), "l_quantity")
    )
    want = {
        r["o_orderpriority"]: (r["n"], r["qty"])
        for r in o.join(li, "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .collect()
    }
    assert got == want


def test_unbucketed_control_plan_shuffles(spark, sf_dir):
    """Control: the same join over raw parquet must shuffle both sides —
    the exchanges write_bucketed exists to eliminate."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    plan = plan_text(o.hint("merge").join(li, "o_orderkey"))
    assert plan.count("Exchange") >= 2

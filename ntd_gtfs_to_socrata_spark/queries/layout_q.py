"""Write-layout clustering: Z-order (Morton) interleave for multi-column
data skipping (▲ north-star; the reference writes row-at-a-time to an
HTTP sink and has no layout surface).

At 100 TB the dominant read cost is scan volume, and scan volume is
governed by FILE-LEVEL min/max pruning: a parquet reader skips a file
when the predicate interval misses the file's column bounds. Sorting by
one column gives perfect bounds on that column and useless bounds on
every other; interleaving the bits of two (or more) columns gives
every file a small HYPER-RECTANGLE in the combined key space, so
predicates on EITHER column prune. This module computes the Morton key
with pure integer Column arithmetic (shift/mask/or — all literal shift
amounts, fully inside whole-stage codegen), assigns value-range tiles,
and reports the per-tile bounding boxes that the skipping argument
rests on. The write path is then ``repartitionByRange(zval)`` +
``sortWithinPartitions(zval)`` — one range shuffle, no extra pass.

The tile assignment here is ``zval >> 26`` (top bits of the 32-bit
curve = quadtree tiles), a pure map-side expression, rather than
``ntile`` over a global sort — deliberately: a global-order window is
the unpartitioned-WindowExec anti-pattern the plan-hygiene gate bans,
and equi-POPULATED files come from the range shuffle at write time, not
from the tile id.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ntd_gtfs_to_socrata_spark.io import load_table
from ntd_gtfs_to_socrata_spark.queries import FIXTURE_ROOT, register

_BITS = 16  # 16 bits per dimension -> 32-bit Morton key


def zorder_key(x: Column, y: Column, bits: int = _BITS) -> Column:
    """Interleave the low ``bits`` bits of two non-negative ints:
    bit i of x lands at position 2i, bit i of y at 2i+1. Literal shift
    amounts only, so the whole key is one codegen'd expression."""
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def _zorder_sql(x: str, y: str, bits: int = _BITS) -> str:
    """The same interleave as ``zorder_key`` in plain SQL arithmetic, so
    DuckDB value-hash-checks the curve bit-for-bit."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


# The two clustered dimensions are deliberately SF-INDEPENDENT domains
# (TPC-H key ranges grow with SF; value domains do not):
#   x = days since 1995-01-01, scaled x16 so the ~2 500-day span populates
#       bits 4..15 of the 16-bit dimension (unscaled, the tile region of
#       the curve would hold only price bits and the tiling would
#       degenerate to 1-D price buckets);
#   y = floor(price / 2), 0..52 499, populating all 16 bits.
# This is the classic time+amount layout: queries slice by date range AND
# by amount band, and z-order gives both predicates pruning power.
_X_SQL = "(CAST(date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) * 16)"
_Y_SQL = "CAST(floor(l_extendedprice / 2) AS BIGINT)"
_ZSQL = _zorder_sql(_X_SQL, _Y_SQL)

ZORDER_ORACLE = f"""
WITH keyed AS (
  SELECT CAST(l_shipdate AS DATE) AS ship_day, l_extendedprice,
         ({_ZSQL}) AS zval
  FROM lineitem
)
SELECT zval >> 24 AS tile,
       count(*) AS n_rows,
       CAST(min(ship_day) AS VARCHAR) AS min_day,
       CAST(max(ship_day) AS VARCHAR) AS max_day,
       round(min(l_extendedprice), 2) AS min_price,
       round(max(l_extendedprice), 2) AS max_price
FROM keyed GROUP BY zval >> 24
"""


@register("lay_zorder_tiles", ZORDER_ORACLE)
def lay_zorder_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-tile profile of lineitem clustered on (ship date, price):
    per quadtree tile (``zval >> 24`` = the top 4 interleaved bits of
    each dimension), the row count and the bounding box of BOTH
    dimensions. Tight boxes on both axes are exactly the property that
    makes file-level min/max pruning effective for predicates on either
    column — the measurable artifact of the Z-order layout, vs a
    single-column sort whose files have tight bounds on one axis and
    full-range bounds on the other. The key is map-side integer
    arithmetic; the only exchange is the final ≤256-group aggregation
    (map-side combined)."""
    li = load_table(spark, sf_dir, "lineitem")
    x = (
        F.datediff(F.col("l_shipdate").cast("date"), F.lit("1995-01-01"))
        .cast("long")
        * 16
    )
    y = F.floor(F.col("l_extendedprice") / 2)
    keyed = li.select(
        F.col("l_shipdate").cast("date").alias("ship_day"),
        "l_extendedprice",
        zorder_key(x, y).alias("zval"),
    )
    return keyed.groupBy(F.shiftright("zval", 24).alias("tile")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("ship_day").cast("string").alias("min_day"),
        F.max("ship_day").cast("string").alias("max_day"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )


# ---------------------------------------------------------------------------
# Dynamic partition pruning (runtime partition skipping via a dim filter)
# ---------------------------------------------------------------------------

_DPP_STAGE = os.path.join(FIXTURE_ROOT, "dpp_events")

DPP_ORACLE = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
WHERE day(CAST(ts AS DATE)) <= 7
GROUP BY event_date
"""


def _staged_events_by_day(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per sf dir) a copy of events partitioned by event_date —
    the lake layout whose directories DPP skips at runtime."""
    target = os.path.join(_DPP_STAGE, os.path.basename(sf_dir.rstrip("/")))
    if not os.path.exists(os.path.join(target, "_SUCCESS")):
        ev = load_table(spark, sf_dir, "events").withColumn(
            "event_date", F.to_date("ts")
        )
        ev.write.mode("overwrite").partitionBy("event_date").parquet(target)
    return target


@register("layout_dpp_partition_prune", DPP_ORACLE)
def layout_dpp_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning over a date-partitioned events table: the
    fact side is the staged ``partitionBy(event_date)`` layout; the dim
    side is a derived calendar filtered to the first week of each month.
    Catalyst turns the dim's date set into a runtime IN-subquery on the
    fact scan's PartitionFilters (``dynamicpruning#``), so only matching
    date directories are read — the physical-layout twin of the z-order
    tiles above (static min/max skipping) for the join-driven case.

    At 100 TB this is THE mechanism that makes fact⋈dim queries cheap on
    a date/tenant-partitioned lake: the fact scan cost is proportional to
    the dim selectivity, not the table size, with zero query rewrite.
    Asserted in tests/test_partition_pruning.py::test_dpp_runtime_subquery
    (plan contains dynamicpruning on event_date; result identical with
    DPP disabled)."""
    target = _staged_events_by_day(spark, sf_dir)
    fact = spark.read.parquet(target)
    dim = (
        load_table(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("d"))
        .distinct()
        .filter(F.dayofmonth("d") <= 7)
    )
    return (
        fact.join(F.broadcast(dim), fact.event_date == dim.d)
        .groupBy(F.col("event_date").cast("string").alias("event_date"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )

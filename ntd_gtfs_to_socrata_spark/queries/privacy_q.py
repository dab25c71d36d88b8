"""Privacy screening for training-data release (▲ north-star; the
reference's only privacy posture is a consent filter pushed to its
source, publish_to_catalog.py:525 — these are the corpus-level
counterparts).

Two standard checks before a dataset leaves the building:

- K-ANONYMITY audit: group by the quasi-identifier tuple and flag
  groups smaller than k — the rows a linkage attacker can single out.
  One map-side-combined aggregation; the suppression decision is then a
  broadcast semi/anti join on the QI tuple (same shape as P10's
  valid/invalid split).
- DP-MECHANISM counts: histogram release through the Laplace mechanism.
  The noise here is a DETERMINISTIC pseudo-sample (modular-arithmetic
  uniform → inverse-CDF Laplace) so the DuckDB oracle replays it and the
  whole release pipeline is value-hash checked; a production release
  swaps ONE expression — the uniform — for a secure RNG, keeping the
  sensitivity/scale arithmetic and the plan untouched. (With a
  deterministic seed this is mechanism PLUMBING, not a privacy
  guarantee; the docstring is the contract.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ntd_gtfs_to_socrata_spark.io import load_table
from ntd_gtfs_to_socrata_spark.operators.stagecache import checkpoint
from ntd_gtfs_to_socrata_spark.queries import register

_K = 5

K_ANON_ORACLE = f"""
WITH qi AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
         count(*) AS group_size
  FROM customer
  GROUP BY c_nationkey, c_mktsegment, CAST(floor(c_acctbal / 1000) AS BIGINT)
)
SELECT count(*) AS n_groups,
       CAST(sum(CASE WHEN group_size < {_K} THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
       CAST(sum(CASE WHEN group_size < {_K} THEN group_size ELSE 0 END) AS BIGINT)
         AS n_rows_to_suppress,
       CAST(min(group_size) AS BIGINT) AS min_group_size,
       round(CAST(sum(CASE WHEN group_size < {_K} THEN group_size ELSE 0 END) AS DOUBLE)
             / sum(group_size), 4) AS suppression_rate
FROM qi
"""


@register("privacy_k_anonymity", K_ANON_ORACLE)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (nation, market
    segment, balance band): how many QI groups fall below k=5, how many
    rows they hold (the suppression cost of releasing this table), and
    the smallest group (the worst-case linkage exposure). Two chained
    map-side-combined aggregations — corpus → QI-group sizes (reduce
    volume = QI cardinality) → 1-row audit. At 100 TB the follow-up
    suppress/generalize pass is a broadcast anti-join of the flagged QI
    tuples against the corpus, the P10 quarantine shape."""
    qi = (
        load_table(spark, sf_dir, "customer")
        .groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
        )
        .agg(F.count(F.lit(1)).alias("group_size"))
    )
    small = F.col("group_size") < _K
    return qi.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(small.cast("long")).alias("n_small_groups"),
        F.sum(F.when(small, F.col("group_size")).otherwise(0)).alias(
            "n_rows_to_suppress"
        ),
        F.min("group_size").alias("min_group_size"),
        F.round(
            F.sum(F.when(small, F.col("group_size")).otherwise(0)).cast("double")
            / F.sum("group_size"),
            4,
        ).alias("suppression_rate"),
    )


# Laplace(b) via inverse CDF of a deterministic pseudo-uniform u∈(0,1):
# noise = -b * sign(u - 0.5) * ln(1 - 2|u - 0.5|). Sensitivity of a
# count histogram is 1; eps = 0.5 → b = 2.
_EPS_B = 2.0
_U_MOD = 999_983  # prime modulus for the pseudo-uniform

_U_SQL = f"(CAST((({{key}} % {_U_MOD}) * 31337 + 271) % {_U_MOD} AS DOUBLE) / {_U_MOD})"

_KEY_SQL = "(length(event_type) * 7919 + ascii(substr(event_type, 1, 1)))"

DP_COUNTS_ORACLE = f"""
WITH counts AS (
  SELECT event_type, count(*) AS true_count,
         {_U_SQL.format(key=_KEY_SQL)} AS u
  FROM events GROUP BY event_type
)
SELECT event_type,
       true_count,
       round(true_count
             + (-{_EPS_B}) * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)), 2)
         AS released_count
FROM counts
"""


@register("privacy_dp_counts", DP_COUNTS_ORACLE)
def privacy_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram release through the Laplace mechanism: per-event-type
    counts plus Laplace(2) noise (count sensitivity 1, eps=0.5), noise
    derived by inverse CDF from a per-key pseudo-uniform. One map-side-
    combined count aggregate; the mechanism is a 1-expression map over
    the tiny histogram. Deterministic seed ⇒ value-hash checked
    end-to-end; a production release swaps the uniform for a secure RNG
    and nothing else changes (see module docstring — plumbing, not a
    privacy guarantee, under a fixed seed)."""
    key = (
        F.length("event_type") * 7919
        + F.ascii(F.substring("event_type", 1, 1))
    )
    u = (
        ((key % _U_MOD) * 31337 + 271) % _U_MOD
    ).cast("double") / F.lit(float(_U_MOD))
    counts = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .withColumn("u", u)
    )
    noise = (
        F.lit(-_EPS_B)
        * F.signum(F.col("u") - 0.5)
        * F.log(1 - 2 * F.abs(F.col("u") - 0.5))
    )
    return counts.select(
        "event_type",
        "true_count",
        F.round(F.col("true_count") + noise, 2).alias("released_count"),
    )


# ---------------------------------------------------------------------------
# l-diversity audit (the k-anonymity refinement)
# ---------------------------------------------------------------------------

_L = 3  # minimum distinct sensitive values per QI group

L_DIV_ORACLE = f"""
WITH pv AS (
  SELECT c_nationkey,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
         c_mktsegment,
         count(*) AS nv
  FROM customer
  GROUP BY c_nationkey, CAST(floor(c_acctbal / 1000) AS BIGINT), c_mktsegment
),
qi AS (
  -- entropy from the per-value counts via ln(S) - sum(nv*ln nv)/S: the
  -- SAME identity the Spark side folds (a window over raw rows counts
  -- each value's term nv times and inflates entropy when values repeat)
  SELECT c_nationkey, bal_band,
         sum(nv) AS group_size,
         count(*) AS diversity,
         round(ln(CAST(sum(nv) AS DOUBLE)) - sum(nv * ln(nv)) / sum(nv), 4)
           AS entropy
  FROM pv GROUP BY c_nationkey, bal_band
)
SELECT count(*) AS n_groups,
       CAST(sum(CASE WHEN diversity < {_L} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_low_diversity,
       CAST(min(diversity) AS BIGINT) AS min_diversity,
       CAST(sum(CASE WHEN diversity < {_L} THEN group_size ELSE 0 END) AS BIGINT)
         AS rows_at_risk,
       round(min(entropy), 4) AS min_entropy
FROM qi
"""


@register("privacy_l_diversity", L_DIV_ORACLE)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the refinement k-anonymity misses: a QI group
    can be large (k-safe) yet expose everyone in it if all members share
    one sensitive value (homogeneity attack, Machanavajjhala et al.).
    QI = (nation, balance band), sensitive = market segment; groups with
    fewer than l=3 distinct segments are flagged, and min ENTROPY
    diversity (-Σ p·ln p) is reported alongside distinct-l since entropy
    is the variant that resists skewed-but-technically-diverse groups.

    Scale posture: one two-level aggregation — (QI, sensitive) counts,
    then QI rollup carrying count_distinct + entropy from the per-value
    counts. Both levels are map-side-combinable key aggregations on the
    QI tuple; no window over the corpus — and the oracle uses the SAME
    per-value-count identity (a row-level window formulation counts each
    value's entropy term nv times: wrong whenever values repeat, caught
    at the 10x spot-check)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
        "c_mktsegment",
    )
    per_value = cust.groupBy("c_nationkey", "bal_band", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("nv")
    )
    # entropy without a window: -Σ (nv/S)·ln(nv/S) = ln(S) - Σ(nv·ln nv)/S,
    # so one more key aggregation over (QI) carrying Σnv and Σ nv·ln nv
    groups = per_value.groupBy("c_nationkey", "bal_band").agg(
        F.sum("nv").alias("group_size"),
        F.count(F.lit(1)).alias("diversity"),
        F.sum(F.col("nv") * F.log(F.col("nv"))).alias("sum_nlogn"),
    )
    with_entropy = groups.withColumn(
        "entropy",
        F.round(
            F.log(F.col("group_size").cast("double"))
            - F.col("sum_nlogn") / F.col("group_size"),
            4,
        ),
    )
    return with_entropy.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum((F.col("diversity") < _L).cast("int")).cast("long").alias("n_low_diversity"),
        F.min("diversity").cast("long").alias("min_diversity"),
        F.sum(F.when(F.col("diversity") < _L, F.col("group_size")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
        F.round(F.min("entropy"), 4).alias("min_entropy"),
    )


# ---------------------------------------------------------------------------
# t-closeness audit (completes the k-anonymity / l-diversity triad)
# ---------------------------------------------------------------------------

_T_MICRO = 300_000  # flag groups with variational distance > 0.3

T_CLOSE_ORACLE = f"""
WITH pv AS (
  SELECT c_nationkey,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
         c_mktsegment,
         CAST(count(*) AS BIGINT) AS nv
  FROM customer
  GROUP BY c_nationkey, CAST(floor(c_acctbal / 1000) AS BIGINT), c_mktsegment
),
gv AS (
  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS big_nv
  FROM customer GROUP BY c_mktsegment
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer),
per_group AS (
  SELECT pv.c_nationkey, pv.bal_band,
         CAST(sum(pv.nv) AS BIGINT) AS s,
         CAST(sum(abs(pv.nv * tot.n - gv.big_nv * t2.s2)) AS BIGINT) AS present_num,
         CAST(sum(gv.big_nv) AS BIGINT) AS present_big
  FROM pv
  JOIN gv ON gv.c_mktsegment = pv.c_mktsegment
  JOIN (SELECT c_nationkey, bal_band, CAST(sum(nv) AS BIGINT) AS s2
        FROM pv GROUP BY c_nationkey, bal_band) t2
    ON t2.c_nationkey = pv.c_nationkey AND t2.bal_band = pv.bal_band,
  tot
  GROUP BY pv.c_nationkey, pv.bal_band
),
scored AS (
  SELECT c_nationkey, bal_band, s,
    CAST(floor(
      (CAST(present_num AS DOUBLE) + CAST((tot.n - present_big) AS DOUBLE) * CAST(s AS DOUBLE))
      / (2.0 * CAST(s AS DOUBLE) * CAST(tot.n AS DOUBLE))
      * 1000000 + 0.5) AS BIGINT) AS t_micro
  FROM per_group, tot
)
SELECT CAST(count(*) AS BIGINT) AS n_groups,
       max(t_micro) AS max_t_micro,
       CAST(sum(CASE WHEN t_micro > {_T_MICRO} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_over_t,
       CAST(sum(CASE WHEN t_micro > {_T_MICRO} THEN s ELSE 0 END) AS BIGINT)
         AS rows_at_risk
FROM scored
"""


@register("privacy_t_closeness", T_CLOSE_ORACLE)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al.) — the refinement l-diversity misses:
    a group can be diverse yet SKEWED far from the population (e.g. 90%
    one segment where the corpus has 20%), and the skew itself leaks.
    Per QI group, the variational distance D = ½ Σ_v |p_v − q_v| between
    the group's sensitive-value distribution and the global one; groups
    with D > t are flagged. Completes the [[privacy_k_anonymity]] /
    [[privacy_l_diversity]] triad.

    Exactness via a common denominator: over values PRESENT in the group,
    Σ|nv·N − Nv·S| is an exact integer sum; absent values contribute
    (N − Σ_present Nv)·S exactly; D = (present + absent) / (2·S·N) is ONE
    quantized division per group — no float ever enters an aggregation.
    (Products stay under 2⁵³ to ~10⁸ rows; past that pre-divide both
    counts by their gcd scale on both engines.)

    Scale posture: two key aggregations — (QI, value) counts then a QI
    rollup — plus a broadcast-sized join to the value-domain totals
    (sensitive domains are small by definition) and a 1-row total. All
    map-side combinable; no window."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
        "c_mktsegment",
    )
    pv = cust.groupBy("c_nationkey", "bal_band", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("nv")
    ).transform(checkpoint)  # feeds both the sizes rollup and the join
    gv = cust.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("big_nv"))
    tot = cust.agg(F.count(F.lit(1)).alias("n"))
    sizes = pv.groupBy("c_nationkey", "bal_band").agg(F.sum("nv").alias("s"))
    per_group = (
        pv.join(F.broadcast(gv), "c_mktsegment")
        .join(sizes, ["c_nationkey", "bal_band"])
        .crossJoin(F.broadcast(tot))
        .groupBy("c_nationkey", "bal_band")
        .agg(
            F.first("s").alias("s"),
            F.first("n").alias("n"),
            F.sum(
                F.abs(F.col("nv") * F.col("n") - F.col("big_nv") * F.col("s"))
            ).alias("present_num"),
            F.sum("big_nv").alias("present_big"),
        )
    )
    t_micro = F.floor(
        (
            F.col("present_num").cast("double")
            + (F.col("n") - F.col("present_big")).cast("double")
            * F.col("s").cast("double")
        )
        / (F.lit(2.0) * F.col("s").cast("double") * F.col("n").cast("double"))
        * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("long")
    scored = per_group.select("s", t_micro.alias("t_micro"))
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.max("t_micro").alias("max_t_micro"),
        F.sum((F.col("t_micro") > _T_MICRO).cast("long")).alias("n_over_t"),
        F.sum(F.when(F.col("t_micro") > _T_MICRO, F.col("s")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
    )

"""Distributed evaluation statistics (▲ north-star; the reference has no
statistics surface — its only aggregate is the valid/invalid count at
publish_to_catalog.py:545).

Model-eval pipelines need uncertainty, not just point estimates. The two
classic blockers at 100 TB are resampling (a naive bootstrap re-shuffles
the corpus B times) and anything formulated as "sort everything". Both
queries here use the distributed-native formulations:

- POISSON BOOTSTRAP (Chamandy et al., "Estimating Uncertainty for
  Massive Data Streams", Google 2012): instead of resampling n rows with
  replacement (which needs global coordination), each row independently
  receives a Poisson(1) count per replicate — the multinomial resample's
  limit. Every replicate weight is a pure map-side expression, all B
  replicates ride one explode, and the whole bootstrap is ONE
  map-side-combined aggregation keyed by replicate id.
- WELCH'S T from merge-able moments: mean/var/count per arm are
  partial-aggregatable, so the test statistic is a 1-row fold over two
  group aggregates — no pairing, no sort.

Determinism contract: the "randomness" is a modular-arithmetic
pseudo-uniform over (row key, replicate id) — the same engine-portable
trick as the minhash permutations — so DuckDB replays the identical
resample and the bootstrap is value-hash checked end-to-end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ntd_gtfs_to_socrata_spark.io import load_table
from ntd_gtfs_to_socrata_spark.operators.neardup import pairs_within
from ntd_gtfs_to_socrata_spark.operators.stagecache import checkpoint
from ntd_gtfs_to_socrata_spark.queries import register

_B = 32  # bootstrap replicates
_U_MOD = 1_000_003  # pseudo-uniform modulus (prime)
_U_A = 26545
_U_B = 40503

# P(Poisson(1) <= k) thresholds; weights capped at 6 (P ~ 5e-5)
_POIS_CDF = (0.367879441, 0.735758882, 0.919698603, 0.981011843,
             0.996340153, 0.999405815)


def _pois_case_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"(CASE {branches} ELSE 6 END)"


def _pois_weight(u: Column) -> Column:
    w = F.lit(6)
    for k, c in reversed(list(enumerate(_POIS_CDF))):
        w = F.when(u < F.lit(c), F.lit(k)).otherwise(w)
    return w


_U_SQL = (
    f"(CAST(((event_id % {_U_MOD}) * {_U_A} + b * {_U_B}) % {_U_MOD} AS DOUBLE)"
    f" / {_U_MOD})"
)

BOOTSTRAP_ORACLE = f"""
WITH reps AS (
  SELECT e.event_id, e.value, CAST(r.range AS BIGINT) AS b
  FROM events e, range(0, {_B}) r
  WHERE e.event_type = 'purchase'
),
weighted AS (
  SELECT b, value, {_pois_case_sql(_U_SQL)} AS w FROM reps
),
means AS (
  SELECT b, round(sum(w * value) / sum(w), 2) AS mean_b
  FROM weighted GROUP BY b HAVING sum(w) > 0
)
SELECT count(*) AS n_replicates,
       round(avg(mean_b), 2) AS boot_mean,
       round(quantile_cont(mean_b, 0.025), 2) AS ci_lo,
       round(quantile_cont(mean_b, 0.975), 2) AS ci_hi
FROM means
"""


@register("eval_poisson_bootstrap_ci", BOOTSTRAP_ORACLE)
def eval_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap CI for the mean purchase value, via the Poisson
    bootstrap: every (row, replicate) pair gets a deterministic
    pseudo-uniform → Poisson(1) weight (a literal CASE chain, fully
    codegen'd), replicate means are ONE groupBy(b) over the exploded
    frame (map-side combined, reduce volume = B rows), and the CI is a
    percentile over the B=32 replicate means — a 32-row driver-side-free
    aggregate. No data ever re-shuffles per replicate; at 100 TB the
    cost is B map-side multiply-adds per row, the distributed bootstrap
    Chamandy et al. run at stream scale. Replicate means round to 2dp
    BEFORE the quantile so partial-sum order can't flip the interval."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    reps = ev.select(
        "event_id", "value", F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("b")
    )
    u = (
        ((F.col("event_id") % _U_MOD) * _U_A + F.col("b") * _U_B) % _U_MOD
    ).cast("double") / F.lit(float(_U_MOD))
    weighted = reps.select("b", "value", _pois_weight(u).alias("w"))
    means = (
        weighted.groupBy("b")
        .agg(
            F.round(
                F.sum(F.col("w") * F.col("value")) / F.sum("w"), 2
            ).alias("mean_b"),
            F.sum("w").alias("tot_w"),
        )
        .filter(F.col("tot_w") > 0)
    )
    return means.agg(
        F.count(F.lit(1)).alias("n_replicates"),
        F.round(F.avg("mean_b"), 2).alias("boot_mean"),
        F.round(F.percentile("mean_b", F.lit(0.025)), 2).alias("ci_lo"),
        F.round(F.percentile("mean_b", F.lit(0.975)), 2).alias("ci_hi"),
    )


TTEST_ORACLE = """
WITH arms AS (
  SELECT event_type,
         count(*) AS n,
         avg(value) AS m,
         var_samp(value) AS v
  FROM events
  WHERE event_type IN ('click', 'purchase')
  GROUP BY event_type
),
w AS (
  SELECT
    (SELECT m FROM arms WHERE event_type = 'click') AS m1,
    (SELECT v FROM arms WHERE event_type = 'click') AS v1,
    (SELECT n FROM arms WHERE event_type = 'click') AS n1,
    (SELECT m FROM arms WHERE event_type = 'purchase') AS m2,
    (SELECT v FROM arms WHERE event_type = 'purchase') AS v2,
    (SELECT n FROM arms WHERE event_type = 'purchase') AS n2
)
SELECT n1, n2,
       round(m1, 2) AS mean_click,
       round(m2, 2) AS mean_purchase,
       round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 2) AS t_stat,
       round(pow(v1 / n1 + v2 / n2, 2)
             / (pow(v1 / n1, 2) / (n1 - 1) + pow(v2 / n2, 2) / (n2 - 1)), 1)
         AS welch_df
FROM w
"""


@register("eval_welch_ttest", TTEST_ORACLE)
def eval_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t statistic (click vs purchase event values)
    from merge-able moments: each arm contributes (n, mean, var_samp) —
    all partial-aggregatable, so the scan is one map-side-combined
    groupBy — and the statistic folds the two 1-row aggregates with a
    pivot + crossJoin-free conditional aggregation. The pattern for ANY
    A/B readout at 100 TB: sufficient statistics shuffle, never rows."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    arms = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    # pivot the two 1-row arms into one row via conditional aggregation
    one = arms.agg(
        F.max(F.when(F.col("event_type") == "click", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("event_type") == "click", F.col("m"))).alias("m1"),
        F.max(F.when(F.col("event_type") == "click", F.col("v"))).alias("v1"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("m"))).alias("m2"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("v"))).alias("v2"),
    )
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    df_num = F.pow(se2, 2)
    df_den = (
        F.pow(F.col("v1") / F.col("n1"), 2) / (F.col("n1") - 1)
        + F.pow(F.col("v2") / F.col("n2"), 2) / (F.col("n2") - 1)
    )
    return one.select(
        "n1",
        "n2",
        F.round("m1", 2).alias("mean_click"),
        F.round("m2", 2).alias("mean_purchase"),
        F.round((F.col("m1") - F.col("m2")) / F.sqrt(se2), 2).alias("t_stat"),
        F.round(df_num / df_den, 1).alias("welch_df"),
    )


# ---------------------------------------------------------------------------
# ROC-AUC from rank statistics (Mann-Whitney U), distributed prefix-sum
# ---------------------------------------------------------------------------

_AUC_BLOCK = 1024  # score-bins per prefix-sum block

AUC_ORACLE = """
WITH labeled AS (
  SELECT CAST(floor(value * 10) AS BIGINT) AS bin,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
bins AS (
  SELECT bin,
         CAST(sum(y) AS BIGINT) AS pos,
         CAST(sum(1 - y) AS BIGINT) AS neg
  FROM labeled GROUP BY bin
),
cum AS (
  SELECT bin, pos, neg,
         coalesce(sum(neg) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
  FROM bins
),
tot AS (
  SELECT CAST(sum(pos) AS BIGINT) AS n_pos, CAST(sum(neg) AS BIGINT) AS n_neg
  FROM bins
)
SELECT tot.n_pos, tot.n_neg,
       CAST(count(*) AS BIGINT) AS n_bins,
       round(sum(cum.pos * (cum.neg_below + 0.5 * cum.neg))
             / (CAST(tot.n_pos AS DOUBLE) * tot.n_neg), 6) AS auc
FROM cum CROSS JOIN tot
GROUP BY tot.n_pos, tot.n_neg
"""


@register("eval_auc_rank", AUC_ORACLE)
def eval_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of ``value`` as a score for ``event_type = 'purchase'``,
    via the Mann-Whitney rank identity: AUC = P(score+ > score-) +
    0.5·P(tie) = Σ_b pos_b·(neg_below_b + neg_b/2) / (P·N) over
    score bins (scores quantized to 0.1 — deterministic, tie-aware).

    Scale posture: the naive formulation ("rank every row") is a global
    sort; the bin formulation reduces the corpus to one map-side-combined
    aggregate over bounded-cardinality bins, and the running negative
    count uses a TWO-LEVEL PREFIX SUM instead of an unpartitioned window:
    per-block cumulative sums (window partitioned by block = bounded
    partitions) plus a broadcast join of block offsets (a window over the
    ~bins/1024-row block table — constant-size control plane). The DuckDB
    oracle states the same arithmetic with a plain global window, proving
    the decomposition exact."""
    ev = load_table(spark, sf_dir, "events").select(
        F.floor(F.col("value") * 10).cast("long").alias("bin"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    bins = ev.groupBy("bin").agg(
        F.sum("y").cast("long").alias("pos"),
        F.sum(1 - F.col("y")).cast("long").alias("neg"),
    )
    blocked = bins.withColumn("block", F.floor(F.col("bin") / _AUC_BLOCK))
    block_tot = blocked.groupBy("block").agg(F.sum("neg").alias("blk_neg"))
    w_blk = Window.orderBy("block").rowsBetween(Window.unboundedPreceding, -1)
    block_off = block_tot.select(
        "block", F.coalesce(F.sum("blk_neg").over(w_blk), F.lit(0)).alias("blk_off")
    )
    w_in = (
        Window.partitionBy("block")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = blocked.join(F.broadcast(block_off), "block").select(
        "bin",
        "pos",
        "neg",
        (
            F.col("blk_off") + F.coalesce(F.sum("neg").over(w_in), F.lit(0))
        ).alias("neg_below"),
    )
    return cum.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.round(
            F.sum(F.col("pos") * (F.col("neg_below") + 0.5 * F.col("neg")))
            / (F.sum("pos").cast("double") * F.sum("neg")),
            6,
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Calibration bins (reliability diagram + ECE terms)
# ---------------------------------------------------------------------------

_CAL_SCALE = 500.0  # score -> pseudo-probability divisor

CALIBRATION_ORACLE = f"""
WITH scored AS (
  SELECT least(value / {_CAL_SCALE}, 1.0) AS p,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
binned AS (
  SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin, p, y FROM scored
)
SELECT bin,
       count(*) AS n,
       round(avg(p), 4) AS mean_pred,
       round(avg(CAST(y AS DOUBLE)), 4) AS frac_pos,
       round(abs(avg(p) - avg(CAST(y AS DOUBLE))), 4) AS abs_gap
FROM binned GROUP BY bin
"""


@register("eval_calibration_bins", CALIBRATION_ORACLE)
def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins for ``value/500`` as a pseudo-probability
    of ``purchase``: per decile bin, the mean predicted probability, the
    empirical positive rate, and their absolute gap — the per-bin terms of
    Expected Calibration Error (ECE = Σ n_b/N · abs_gap_b, one more
    1-row fold the caller owns).

    Scale posture: one map-side bin assignment + one 10-key aggregation
    with partial combine — the ``eval_auc_rank`` family shape, nothing
    rank- or sort-based anywhere."""
    ev = load_table(spark, sf_dir, "events").select(
        F.least(F.col("value") / _CAL_SCALE, F.lit(1.0)).alias("p"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    binned = ev.select(
        F.least(F.floor(F.col("p") * 10).cast("long"), F.lit(9).cast("long")).alias("bin"),
        "p",
        "y",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("p"), 4).alias("mean_pred"),
        F.round(F.avg(F.col("y").cast("double")), 4).alias("frac_pos"),
        F.round(F.abs(F.avg("p") - F.avg(F.col("y").cast("double"))), 4).alias("abs_gap"),
    )


# ---------------------------------------------------------------------------
# Bradley-Terry preference aggregation (MM iterations)
# ---------------------------------------------------------------------------

_BT_ITERS = 2
_BT_MICRO = 1_000_000.0


def _bt_oracle() -> str:
    """Fixed-iteration Bradley-Terry MM as unrolled CTEs (the
    _pagerank_oracle pattern). Strengths live as MICRO-UNIT BIGINTs
    between iterations and every float expression mirrors the Spark
    formulation token-for-token (one division chain, floor(x*1e6+0.5)
    quantization), so both engines walk identical IEEE ops."""
    steps = []
    for t in range(_BT_ITERS):
        steps.append(
            f"q{t + 1} AS (\n"
            f"  SELECT g.p,\n"
            f"    CAST(floor(CAST(g.n AS DOUBLE)\n"
            f"         / (CAST(sa.su + sb.su AS DOUBLE) / 1000000.0)\n"
            f"         * 1000000.0 + 0.5) AS BIGINT) AS q\n"
            f"  FROM games g JOIN s{t} sa ON sa.p = g.p\n"
            f"               JOIN s{t} sb ON sb.p = g.o\n)"
        )
        steps.append(
            f"s{t + 1} AS (\n"
            f"  SELECT w.p,\n"
            f"    CASE WHEN w.W = 0 OR d.D = 0 THEN CAST(0 AS BIGINT)\n"
            f"         ELSE CAST(floor(CAST(w.W AS DOUBLE)\n"
            f"              / (CAST(d.D AS DOUBLE) / 1000000.0)\n"
            f"              * 1000000.0 + 0.5) AS BIGINT) END AS su\n"
            f"  FROM wins w JOIN (SELECT p, sum(q) AS D FROM q{t + 1} GROUP BY p) d\n"
            f"    ON d.p = w.p\n)"
        )
    chained = ",\n".join(steps)
    return f"""
WITH li AS (
  SELECT l_orderkey AS ok, l_suppkey AS s, l_extendedprice AS pr FROM lineitem
),
comp AS (
  SELECT a.s AS i, b.s AS j,
         CASE WHEN a.pr > b.pr OR (a.pr = b.pr AND a.s < b.s)
              THEN 1 ELSE 0 END AS win_i
  FROM li a JOIN li b ON a.ok = b.ok AND a.s < b.s
),
pairs AS MATERIALIZED (
  SELECT i, j, count(*) AS n, sum(win_i) AS w FROM comp GROUP BY i, j
),
games AS MATERIALIZED (
  SELECT i AS p, j AS o, n, w FROM pairs
  UNION ALL
  SELECT j AS p, i AS o, n, n - w AS w FROM pairs
),
wins AS MATERIALIZED (
  SELECT p, CAST(sum(w) AS BIGINT) AS W, CAST(sum(n) AS BIGINT) AS G
  FROM games GROUP BY p
),
s0 AS (SELECT p, CAST(1000000 AS BIGINT) AS su FROM wins),
{chained}
SELECT w.p AS supp_key, w.G AS n_games, w.W AS n_wins,
       s{_BT_ITERS}.su AS strength_micro
FROM wins w JOIN s{_BT_ITERS} ON s{_BT_ITERS}.p = w.p
"""


@register("eval_bradley_terry", _bt_oracle())
def eval_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strength estimation over pairwise preferences — the
    aggregation step of every RLHF/preference-data pipeline (pairwise
    judgments in, per-entity strengths out), run with Hunter's MM update
    ``s_i' = W_i / Σ_j n_ij/(s_i+s_j)`` for a FIXED 2 iterations.
    Preferences are derived deterministically from the data itself: in
    each order, every supplier pair is one comparison won by the higher
    l_extendedprice line (ties to the lower suppkey) — the co-occurrence
    self-join shape of a judge-panel table.

    Engine-exactness by the r7 float policy: strengths live as micro-unit
    BIGINTs between iterations; each pair's MM term is quantized ONCE to
    a micro-unit BIGINT, so the per-entity denominator is an exact
    integer sum (no partial-agg float order); the one division chain per
    update mirrors the oracle token-for-token. Winless entities get
    strength 0 (their true MLE limit); paired entities can never BOTH be
    winless (their mutual games had winners), so no 0/0 arises.

    Scale posture: the comparison self-join shuffles on the order key
    with per-order fan-out bounded by C(lines,2) ≤ 21; pair and games
    tables are O(entities²) at worst but O(observed pairs) in practice;
    each MM iteration is two entity-keyed joins + one map-side-combinable
    integer sum — the pagerank loop shape, with a checkpoint
    truncating lineage per round. No window, no collect."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_suppkey").alias("s"),
        F.col("l_extendedprice").alias("pr"),
    )
    # per-order line pairs via ONE shuffle (groupBy ok + map-side i<j
    # combos over the collected line list — the inverted-index pattern)
    # instead of a sort-merge self-join that shuffles and sorts lineitem
    # twice; the unordered pair set is identical (orientation normalized
    # to suppkey asc below, and with i<j fixed the original tie rule
    # "a.pr>b.pr or equal prices" is exactly pr_i >= pr_j). Measured
    # 2.2s -> 1.25s at sf0.1 with bit-identical pair counts.
    lines = li.groupBy("ok").agg(F.collect_list(F.struct("s", "pr")).alias("ls"))
    pline = lines.select(F.explode(pairs_within("ls")).alias("p")).filter(
        F.col("p.a.s") != F.col("p.b.s")
    )
    a_first = F.col("p.a.s") < F.col("p.b.s")
    pr_i = F.when(a_first, F.col("p.a.pr")).otherwise(F.col("p.b.pr"))
    pr_j = F.when(a_first, F.col("p.b.pr")).otherwise(F.col("p.a.pr"))
    comp = pline.select(
        F.least(F.col("p.a.s"), F.col("p.b.s")).alias("i"),
        F.greatest(F.col("p.a.s"), F.col("p.b.s")).alias("j"),
        F.when(pr_i >= pr_j, F.lit(1)).otherwise(F.lit(0)).alias("win_i"),
    )
    pairs = comp.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"), F.sum("win_i").alias("w")
    )
    games = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("i").alias("p"),
                        F.col("j").alias("o"),
                        F.col("n").alias("n"),
                        F.col("w").alias("w"),
                    ),
                    F.struct(
                        F.col("j").alias("p"),
                        F.col("i").alias("o"),
                        F.col("n").alias("n"),
                        (F.col("n") - F.col("w")).alias("w"),
                    ),
                )
            ).alias("g")
        )
        .select("g.p", "g.o", "g.n", "g.w")
        .transform(checkpoint)
    )
    wins = games.groupBy("p").agg(
        F.sum("w").alias("W"), F.sum("n").alias("G")
    ).transform(checkpoint)
    s = wins.select("p", F.lit(1_000_000).cast("long").alias("su"))
    for _ in range(_BT_ITERS):
        sa = s.select(F.col("p").alias("pa"), F.col("su").alias("su_a"))
        sb = s.select(F.col("p").alias("pb"), F.col("su").alias("su_b"))
        q = games.join(sa, games.p == sa.pa).join(sb, games.o == sb.pb).select(
            "p",
            F.floor(
                F.col("n").cast("double")
                / ((F.col("su_a") + F.col("su_b")).cast("double") / F.lit(_BT_MICRO))
                * F.lit(_BT_MICRO)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("q"),
        )
        d = q.groupBy("p").agg(F.sum("q").alias("D"))
        s = checkpoint(
            wins.join(d, "p")
            .select(
                "p",
                F.when((F.col("W") == 0) | (F.col("D") == 0), F.lit(0).cast("long"))
                .otherwise(
                    F.floor(
                        F.col("W").cast("double")
                        / (F.col("D").cast("double") / F.lit(_BT_MICRO))
                        * F.lit(_BT_MICRO)
                        + F.lit(0.5)
                    ).cast("long")
                )
                .alias("su"),
            ),
            supersedes=s,
        )
    return wins.join(s, "p").select(
        F.col("p").alias("supp_key"),
        F.col("G").alias("n_games"),
        F.col("W").alias("n_wins"),
        F.col("su").alias("strength_micro"),
    )


# ---------------------------------------------------------------------------
# Inter-rater agreement: Cohen's kappa between two quality verdicts
# ---------------------------------------------------------------------------


def _kappa_oracle() -> str:
    from ntd_gtfs_to_socrata_spark.queries.dedup_text import (
        GOPHER_ORACLE,
        QC_ORACLE,
    )

    return f"""
WITH a AS ({QC_ORACLE}),
b AS ({GOPHER_ORACLE}),
j AS (
  SELECT a.keep AS ka, b.keep AS kb
  FROM a JOIN b ON b.doc_id = a.doc_id
),
c AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN ka AND kb THEN 1 ELSE 0 END) AS BIGINT) AS n11,
         CAST(sum(CASE WHEN ka AND NOT kb THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         CAST(sum(CASE WHEN NOT ka AND kb THEN 1 ELSE 0 END) AS BIGINT) AS n01,
         CAST(sum(CASE WHEN NOT ka AND NOT kb THEN 1 ELSE 0 END) AS BIGINT) AS n00
  FROM j
)
SELECT n, n11, n10, n01, n00,
  CASE WHEN (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) = n * n
       THEN CAST(0 AS BIGINT)
       ELSE CAST(floor(
         (CAST(n * (n11 + n00) AS DOUBLE)
          - CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS DOUBLE))
         / (CAST(n * n AS DOUBLE)
            - CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS DOUBLE))
         * 1000000 + 0.5) AS BIGINT) END AS kappa_micro
FROM c
"""


@register("eval_cohen_kappa", _kappa_oracle())
def eval_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two INDEPENDENT quality raters — the
    labeling-pipeline agreement statistic, composed from two components
    this engine already ships: rater A = the linear quality classifier's
    keep verdict ([[text_quality_classifier]]), rater B = the Gopher rule
    bundle's conjunctive keep ([[text_gopher_rules]]). Low kappa flags
    that a learned filter and a rule filter are cutting DIFFERENT
    populations — the ablation signal corpus curators act on.

    Exactness: the 2x2 contingency is integer counts; kappa
    = (n*(n11+n00) - Σ marginal products) / (n² - Σ marginal products)
    is computed as ONE division of exactly-representable integers (corpus
    ≤ ~10^7 docs keeps every product < 2^53; at larger n, pre-divide both
    sides by n — same value) then floor-quantized to micro units. The
    degenerate pe = 1 case (both raters constant) pins kappa to 0 on both
    engines.

    Scale posture: two map-only rater expressions over one corpus scan
    each, joined on doc_id, folded to a single 5-counter row —
    map-side-combinable all the way; the kappa arithmetic happens on one
    row. At 100 TB this costs two scans (or one, fusing both raters into
    a single select)."""
    from ntd_gtfs_to_socrata_spark.queries.dedup_text import (
        text_gopher_rules,
        text_quality_classifier,
    )

    a = text_quality_classifier(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("ka")
    )
    b = text_gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("kb")
    )
    c = (
        a.join(b, "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("ka") & F.col("kb")).cast("long")).alias("n11"),
            F.sum((F.col("ka") & ~F.col("kb")).cast("long")).alias("n10"),
            F.sum((~F.col("ka") & F.col("kb")).cast("long")).alias("n01"),
            F.sum((~F.col("ka") & ~F.col("kb")).cast("long")).alias("n00"),
        )
    )
    pe_num = (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01")) + (
        F.col("n01") + F.col("n00")
    ) * (F.col("n10") + F.col("n00"))
    kappa = F.when(pe_num == F.col("n") * F.col("n"), F.lit(0).cast("long")).otherwise(
        F.floor(
            (
                (F.col("n") * (F.col("n11") + F.col("n00"))).cast("double")
                - pe_num.cast("double")
            )
            / ((F.col("n") * F.col("n")).cast("double") - pe_num.cast("double"))
            * F.lit(1000000.0)
            + F.lit(0.5)
        ).cast("long")
    )
    return c.select("n", "n11", "n10", "n01", "n00", kappa.alias("kappa_micro"))


# ---------------------------------------------------------------------------
# pass@k estimator (Chen et al., "Evaluating LLMs Trained on Code")
# ---------------------------------------------------------------------------

_PAK_K = 5
_PAK_SUCCESS = 500.0  # a "sample" passes when its value exceeds this


def _pass_at_k_oracle() -> str:
    prod = " * ".join(
        f"(CAST(n - c - {i} AS DOUBLE) / CAST(n - {i} AS DOUBLE))"
        for i in range(_PAK_K)
    )
    return f"""
WITH samples AS (
  SELECT user_id AS problem_id,
         CASE WHEN value > {_PAK_SUCCESS} THEN 1 ELSE 0 END AS ok
  FROM events WHERE event_type = 'purchase'
),
per AS (
  SELECT problem_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(ok) AS BIGINT) AS c
  FROM samples GROUP BY problem_id
  HAVING count(*) >= {_PAK_K}
)
SELECT problem_id, n, c,
  CASE WHEN n - c < {_PAK_K} THEN CAST(1000000 AS BIGINT)
       ELSE CAST(floor((1.0 - {prod}) * 1000000 + 0.5) AS BIGINT) END
    AS pass_at_k_micro
FROM per
"""


@register("eval_pass_at_k", _pass_at_k_oracle())
def eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased pass@k (Chen et al. 2021): per problem with n samples of
    which c pass, ``1 − C(n−c, k)/C(n, k)`` — THE functional-correctness
    metric of code-model evals, computed in its numerically-stable
    product form ``1 − Π_{{i<k}} (n−c−i)/(n−i)`` (never a factorial).
    Problems = users, samples = their purchase events, "pass" = value
    above a fixed threshold — the fixture stand-in for (problem, sample,
    unit-test verdict) rows; problems with fewer than k samples are
    excluded per the estimator's definition, and n−c < k pins the
    estimate to exactly 1 (some pass in EVERY k-subset).

    Exactness: n and c are integers; the k-term product is one fixed
    expression chain of exactly-representable integer casts (identical
    token order in both engines), floor-quantized once.

    Scale posture: one map-side-combinable (problem) aggregation then a
    map-only expression — scores 10⁹ samples at scan speed; no window,
    no join."""
    samples = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        F.col("user_id").alias("problem_id"),
        (F.col("value") > _PAK_SUCCESS).cast("int").alias("ok"),
    )
    per = (
        samples.groupBy("problem_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("ok").alias("c"))
        .filter(F.col("n") >= _PAK_K)
    )
    prod = F.lit(1.0)
    for i in range(_PAK_K):
        prod = prod * (
            (F.col("n") - F.col("c") - F.lit(i)).cast("double")
            / (F.col("n") - F.lit(i)).cast("double")
        )
    pak = F.when(
        F.col("n") - F.col("c") < _PAK_K, F.lit(1_000_000).cast("long")
    ).otherwise(
        F.floor((F.lit(1.0) - prod) * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    )
    return per.select("problem_id", "n", "c", pak.alias("pass_at_k_micro"))


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov (r9): distribution-drift testing between
# cohorts — the nonparametric sibling of dq_psi_drift's binned divergence.
# ---------------------------------------------------------------------------

_KS_SCALE = 10  # value quantization: one bin per 0.1
_KS_BLOCK = 1024  # bins per prefix-sum block (the eval_auc_rank pattern)

KS_ORACLE = f"""
WITH s AS (
  SELECT CAST(floor(value * {_KS_SCALE}) AS BIGINT) AS bin,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a
  FROM events WHERE event_type IN ('purchase', 'view')
),
bins AS (
  SELECT bin, SUM(a) AS na, SUM(1 - a) AS nb FROM s GROUP BY bin
),
cum AS (
  SELECT bin,
         SUM(na) OVER (ORDER BY bin) AS ca,
         SUM(nb) OVER (ORDER BY bin) AS cb
  FROM bins
),
tot AS (SELECT SUM(na) AS ta, SUM(nb) AS tb FROM bins)
SELECT CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
       CAST(MAX(abs(ca * tb - cb * ta)) AS BIGINT) AS d_numerator,
       CAST(floor(MAX(abs(ca * tb - cb * ta)) * 1000000.0 / (ta * tb) + 0.5)
            AS BIGINT) AS d_micro
FROM cum, tot
GROUP BY ta, tb
"""


@register("eval_ks_two_sample", KS_ORACLE)
def eval_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV-SMIRNOV statistic between the purchase and
    view value distributions: D = max_x |ECDF_a(x) − ECDF_b(x)| over
    0.1-quantized value bins. The textbook formulation sorts the pooled
    sample (a global sort); here the corpus reduces to one bin-keyed
    aggregation and the running CDFs use the TWO-LEVEL PREFIX SUM from
    eval_auc_rank — per-block cumulative windows (bounded partitions) +
    a broadcast block-offset table — so no unpartitioned window touches
    data. EXACT: D's argmax runs on the INTEGER cross products
    |ca·tb − cb·ta| (no division until the final 1-row micro-unit
    quantization), so engines cannot disagree on the max.

    Scale posture: one map-side-combinable bin aggregation (reduce volume
    = bin cardinality, independent of corpus rows) + control-plane block
    windows; 10⁹ events cost a scan."""
    s = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    ).select(
        F.floor(F.col("value") * _KS_SCALE).cast("long").alias("bin"),
        (F.col("event_type") == "purchase").cast("int").alias("a"),
    )
    # the bin table feeds THREE consumers (block totals, the cumulative
    # pass, the 1-row totals scalar) — materialize once so the corpus
    # scan + aggregation run a single time (the tp_perplexity lesson)
    bins = s.groupBy("bin").agg(
        F.sum("a").cast("long").alias("na"),
        F.sum(1 - F.col("a")).cast("long").alias("nb"),
    ).transform(checkpoint)
    blocked = bins.withColumn("block", F.floor(F.col("bin") / _KS_BLOCK))
    blk_tot = blocked.groupBy("block").agg(
        F.sum("na").alias("blk_na"), F.sum("nb").alias("blk_nb")
    )
    w_blk = Window.orderBy("block").rowsBetween(Window.unboundedPreceding, -1)
    blk_off = blk_tot.select(
        "block",
        F.coalesce(F.sum("blk_na").over(w_blk), F.lit(0)).alias("off_a"),
        F.coalesce(F.sum("blk_nb").over(w_blk), F.lit(0)).alias("off_b"),
    )
    w_in = (
        Window.partitionBy("block")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = blocked.join(F.broadcast(blk_off), "block").select(
        "bin",
        "na",
        "nb",
        (F.col("off_a") + F.sum("na").over(w_in)).alias("ca"),
        (F.col("off_b") + F.sum("nb").over(w_in)).alias("cb"),
    )
    totals = bins.agg(
        F.sum("na").cast("long").alias("ta"), F.sum("nb").cast("long").alias("tb")
    )
    return (
        cum.crossJoin(F.broadcast(totals))  # 1-row totals scalar
        .groupBy("ta", "tb")
        .agg(
            F.max(F.abs(F.col("ca") * F.col("tb") - F.col("cb") * F.col("ta")))
            .cast("long")
            .alias("d_numerator")
        )
        .select(
            F.col("ta").alias("n_a"),
            F.col("tb").alias("n_b"),
            "d_numerator",
            F.floor(
                F.col("d_numerator") * 1000000.0 / (F.col("ta") * F.col("tb")) + 0.5
            ).cast("long").alias("d_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U (r9): the rank-sum sibling of eval_ks_two_sample — tests
# LOCATION shift between two cohorts where KS tests any distribution
# difference. Exercises tie-corrected average ranks, which the KS bin
# machinery does not need.
# ---------------------------------------------------------------------------

_MW_SCALE = 10  # value quantization: one bin per 0.1 (ties are the point)
_MW_BLOCK = 1024  # bins per prefix-sum block (the eval_auc_rank pattern)

MW_ORACLE = f"""
WITH s AS (
  SELECT CAST(floor(value * {_MW_SCALE}) AS BIGINT) AS bin,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a
  FROM events WHERE event_type IN ('purchase', 'view')
),
bins AS (
  SELECT bin, CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(1 - a) AS BIGINT) AS nb
  FROM s GROUP BY bin
),
cum AS (
  SELECT na, nb, na + nb AS n,
         COALESCE(SUM(na + nb) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cbefore
  FROM bins
),
agg AS (
  SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb,
         CAST(SUM(na * (2 * cbefore + n + 1)) AS BIGINT) AS r2a,
         CAST(SUM(n * n * n - n) AS BIGINT) AS tie
  FROM cum
)
SELECT ta AS n_a, tb AS n_b,
       r2a - ta * (ta + 1) AS u2,
       CASE WHEN ta = 0 OR tb = 0 THEN CAST(0 AS BIGINT)
            WHEN (ta + tb + 1) - tie / ((ta + tb) * (ta + tb - 1.0)) <= 0
            THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(
              (r2a - ta * (ta + 1) - ta * tb)
              / (2.0 * sqrt(ta * tb / 12.0
                  * ((ta + tb + 1) - tie / ((ta + tb) * (ta + tb - 1.0)))))
              * 1000000 + 0.5) AS BIGINT)
       END AS z_micro
FROM agg
"""


@register("eval_mann_whitney", MW_ORACLE)
def eval_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-WHITNEY U rank-sum test (purchase vs view values): tests a
    location shift where KS tests any distributional difference. The
    textbook form ranks the pooled sorted sample — a global sort; here
    ranks collapse to bin statistics: every value in a tie-bin takes the
    AVERAGE rank ``cbefore + (n+1)/2`` (``cbefore`` = pooled count in
    strictly-smaller bins), so one bin-keyed aggregation plus the
    two-level block prefix sum (eval_auc_rank pattern — per-block bounded
    cumulative windows + a broadcast block-offset table) replaces the
    sort entirely.

    EXACT: doubled ranks ``r2 = 2·cbefore + n + 1`` keep the half-integer
    average ranks in BIGINTs, so ``u2 = 2U = Σ na·r2 − ta(ta+1)`` is
    integer and engines cannot disagree; the tie-corrected normal z
    (Σ(t³−t) correction) is one deterministic double expression on the
    final 1-row frame, micro-quantized. Long-arithmetic bounds: r2a ≤
    ta·(2N+1), tie ≤ N³ — exact to N ≈ 2·10⁶ pooled rows per tie-bin
    worst case; past that, widen bins (the statistic is bin-granular by
    construction).

    Scale posture: one map-side-combinable bin aggregation (reduce volume
    = bin cardinality, not corpus rows) + control-plane block windows +
    a 1-row fold; 10⁹ events cost a scan."""
    s = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    ).select(
        F.floor(F.col("value") * _MW_SCALE).cast("long").alias("bin"),
        (F.col("event_type") == "purchase").cast("int").alias("a"),
    )
    bins = s.groupBy("bin").agg(
        F.sum("a").cast("long").alias("na"),
        F.sum(1 - F.col("a")).cast("long").alias("nb"),
    ).transform(checkpoint)  # feeds block totals + cumulative pass
    blocked = bins.withColumn("block", F.floor(F.col("bin") / _MW_BLOCK))
    blk_tot = blocked.groupBy("block").agg(
        F.sum(F.col("na") + F.col("nb")).alias("blk_n")
    )
    w_blk = Window.orderBy("block").rowsBetween(Window.unboundedPreceding, -1)
    blk_off = blk_tot.select(
        "block", F.coalesce(F.sum("blk_n").over(w_blk), F.lit(0)).alias("off_n")
    )
    w_in = (
        Window.partitionBy("block")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_bin = F.col("na") + F.col("nb")
    cum = blocked.join(F.broadcast(blk_off), "block").select(
        "na",
        "nb",
        n_bin.alias("n"),
        (
            F.col("off_n")
            + F.coalesce(F.sum(n_bin).over(w_in), F.lit(0))
        ).alias("cbefore"),
    )
    agg = cum.agg(
        F.sum("na").cast("long").alias("ta"),
        F.sum("nb").cast("long").alias("tb"),
        F.sum(
            F.col("na") * (2 * F.col("cbefore") + F.col("n") + 1)
        ).cast("long").alias("r2a"),
        F.sum(
            F.col("n") * F.col("n") * F.col("n") - F.col("n")
        ).cast("long").alias("tie"),
    )
    ta, tb, r2a, tie = F.col("ta"), F.col("tb"), F.col("r2a"), F.col("tie")
    nn = ta + tb
    u2 = r2a - ta * (ta + 1)
    # degenerate-case pins (the eval_mcnemar convention): an empty cohort
    # or all-one-tie-bin variance would otherwise divide by zero, where
    # Spark yields NULL and DuckDB errors/Inf — the engines must agree on
    # a fixed 0 instead. CaseWhen short-circuits, so the variance term is
    # never evaluated with nn <= 1.
    var_term = (nn + 1) - tie / (nn * (nn - F.lit(1.0)))
    sigma2 = 2.0 * F.sqrt(ta * tb / F.lit(12.0) * var_term)
    return agg.select(
        ta.alias("n_a"),
        tb.alias("n_b"),
        u2.alias("u2"),
        F.when((ta == 0) | (tb == 0), F.lit(0).cast("long"))
        .when(var_term <= 0, F.lit(0).cast("long"))
        .otherwise(F.floor((u2 - ta * tb) / sigma2 * 1000000 + 0.5).cast("long"))
        .alias("z_micro"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation (r9): monotone association between two
# per-document metrics without assuming linearity — the screening stat for
# "does quality score track length?" style corpus diagnostics.
# ---------------------------------------------------------------------------

_SP_BLOCK = 1024  # distinct metric values per prefix-sum block

SPEARMAN_ORACLE = """
WITH m AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS x,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS y
  FROM documents
),
rx AS (
  SELECT x, 2 * COALESCE(SUM(cnt) OVER (ORDER BY x
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         + cnt + 1 AS r2x
  FROM (SELECT x, CAST(count(*) AS BIGINT) AS cnt FROM m GROUP BY x)
),
ry AS (
  SELECT y, 2 * COALESCE(SUM(cnt) OVER (ORDER BY y
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         + cnt + 1 AS r2y
  FROM (SELECT y, CAST(count(*) AS BIGINT) AS cnt FROM m GROUP BY y)
),
ranked AS (
  SELECT r2x, r2y FROM m JOIN rx USING (x) JOIN ry USING (y)
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(r2x) AS BIGINT) AS sx, CAST(SUM(r2y) AS BIGINT) AS sy,
         CAST(SUM(r2x * r2x) AS BIGINT) AS sxx,
         CAST(SUM(r2y * r2y) AS BIGINT) AS syy,
         CAST(SUM(r2x * r2y) AS BIGINT) AS sxy
  FROM ranked
)
SELECT n AS n_docs,
       CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <= 0
            THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(
              (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
              * 1000000 + 0.5) AS BIGINT)
       END AS rho_micro
FROM agg
"""


@register("eval_spearman", SPEARMAN_ORACLE)
def eval_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN rank correlation between document length (chars) and
    token count — Pearson on tie-averaged ranks, the nonparametric
    association screen. The textbook form sorts the corpus twice; here
    the corpus is aggregated EXACTLY ONCE, into the (x, y) PAIR-COUNT
    table, and every downstream frame is metric-DOMAIN-sized: the
    marginal count tables derive from the pair table, each rank map is a
    two-level block prefix sum over its marginal (the eval_mann_whitney
    machinery — average rank of a tie-group = pooled count of
    strictly-smaller values + (group size + 1)/2), and the five moment
    sums fold over the pair table weighted by cnt. No corpus-sized
    materialization, join, or window anywhere past the first shuffle
    (the first cut localCheckpointed the full (x, y) projection and
    joined ranks back to it — a corpus-sized write that the pair-table
    form deletes).

    EXACT: doubled ranks keep tie-averages integer; the moment SUMS are
    BIGINT (Σ ≤ 4n³ — exact to n ≈ 1.3·10⁶ docs; beyond that quantize
    the metric domain into rank buckets, same machinery). The final
    1-row rho fold is DOUBLE on both engines: n·sxx-class PRODUCTS are
    O(n⁴) and would wrap int64 at ~5·10⁴ docs, while identical BIGINTs
    convert to identical doubles, so engine agreement is preserved.
    Zero variance (a constant metric) pins rho to 0 on both engines.

    Scale posture: one map-side-combinable corpus aggregation (reduce
    volume = distinct (x, y) pairs); everything after moves domain-sized
    rank maps (AQE broadcasts them into the pair-table joins at runtime)
    or 1-row moment frames."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    pairs = (
        docs.select(
            F.length("text").cast("long").alias("x"),
            F.size(toks).cast("long").alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .transform(checkpoint)  # feeds both marginals + the sxy fold
    )

    def rank_map(col: str) -> DataFrame:
        """(col, cnt, r2<col>) — doubled tie-averaged rank per distinct
        value, blocked prefix sum over the DOMAIN-sized marginal."""
        cnts = pairs.groupBy(col).agg(F.sum("cnt").cast("long").alias("cnt"))
        blocked = cnts.withColumn("block", F.floor(F.col(col) / _SP_BLOCK))
        blk_tot = blocked.groupBy("block").agg(F.sum("cnt").alias("blk_n"))
        w_blk = Window.orderBy("block").rowsBetween(
            Window.unboundedPreceding, -1
        )
        blk_off = blk_tot.select(
            "block",
            F.coalesce(F.sum("blk_n").over(w_blk), F.lit(0)).alias("off_n"),
        )
        w_in = (
            Window.partitionBy("block")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return blocked.join(F.broadcast(blk_off), "block").select(
            col,
            "cnt",
            (
                2 * (F.col("off_n") + F.coalesce(F.sum("cnt").over(w_in), F.lit(0)))
                + F.col("cnt")
                + 1
            ).alias(f"r2{col}"),
        )

    # all five moments fold in ONE aggregation over the rank-joined pair
    # table — each rank map is consumed exactly once
    joined = pairs.join(rank_map("x").select("x", "r2x"), "x").join(
        rank_map("y").select("y", "r2y"), "y"
    )
    agg = joined.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("cnt") * F.col("r2x")).cast("long").alias("sx"),
        F.sum(F.col("cnt") * F.col("r2y")).cast("long").alias("sy"),
        F.sum(F.col("cnt") * F.col("r2x") * F.col("r2x")).cast("long").alias("sxx"),
        F.sum(F.col("cnt") * F.col("r2y") * F.col("r2y")).cast("long").alias("syy"),
        F.sum(F.col("cnt") * F.col("r2x") * F.col("r2y")).cast("long").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    # final fold in DOUBLE: the BIGINT moment sums are exact and identical
    # on both engines, and int64->double conversion is deterministic
    # round-to-nearest, so the engines still agree — while n*sxx-class
    # products (O(n^4) in doc count) stay finite instead of wrapping int64
    # at ~5e4 docs (the z/chi2 fold convention). Zero-variance (either
    # metric constant) pins rho to 0 on both engines instead of a 0/0.
    nd, sxd, syd = n.cast("double"), sx.cast("double"), sy.cast("double")
    sxxd, syyd, sxyd = sxx.cast("double"), syy.cast("double"), sxy.cast("double")
    den = (nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)
    rho = (nd * sxyd - sxd * syd) / F.sqrt(den)
    return agg.select(
        n.alias("n_docs"),
        F.when(den <= 0, F.lit(0).cast("long"))
        .otherwise(F.floor(rho * 1000000 + 0.5).cast("long"))
        .alias("rho_micro"),
    )


# ---------------------------------------------------------------------------
# McNemar's paired test (r9): do two filters DISAGREE more than chance in
# one direction? — the significance companion to eval_cohen_kappa's
# agreement magnitude over the same 2x2 contingency.
# ---------------------------------------------------------------------------


def _mcnemar_oracle() -> str:
    from ntd_gtfs_to_socrata_spark.queries.dedup_text import (
        GOPHER_ORACLE,
        QC_ORACLE,
    )

    return f"""
WITH a AS ({QC_ORACLE}),
b AS ({GOPHER_ORACLE}),
j AS (
  SELECT a.keep AS ka, b.keep AS kb
  FROM a JOIN b ON b.doc_id = a.doc_id
),
c AS (
  SELECT CAST(sum(CASE WHEN ka AND NOT kb THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         CAST(sum(CASE WHEN NOT ka AND kb THEN 1 ELSE 0 END) AS BIGINT) AS n01
  FROM j
)
SELECT n10, n01,
  CASE WHEN n10 + n01 = 0 THEN CAST(0 AS BIGINT)
       ELSE CAST(floor(
         CAST((abs(n10 - n01) - 1) * (abs(n10 - n01) - 1) AS DOUBLE)
         / CAST(n10 + n01 AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
  END AS chi2_micro
FROM c
"""


@register("eval_mcnemar", _mcnemar_oracle())
def eval_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MCNEMAR'S test on the paired keep verdicts of the learned quality
    classifier ([[text_quality_classifier]]) vs the Gopher rule bundle
    ([[text_gopher_rules]]): only the DISCORDANT cells matter — does one
    filter systematically keep documents the other drops? Kappa
    (eval_cohen_kappa) measures agreement magnitude; McNemar's chi2 with
    continuity correction ((|n10-n01|-1)^2 / (n10+n01)) tests whether
    the disagreement is one-sided beyond chance — the paired-eval
    statistic for 'is filter B actually stricter, or just noisy?'.

    EXACT: the two discordant counts are integer sums; the statistic is
    one deterministic double expression on the final 1-row frame,
    micro-quantized; the degenerate no-disagreement case pins to 0 on
    both engines.

    Scale posture: two map-only rater expressions joined on doc_id and
    folded to a 2-counter row — map-side-combinable; at 100 TB this is
    the cost of two scans (one if the raters fuse into a single select)."""
    from ntd_gtfs_to_socrata_spark.queries.dedup_text import (
        text_gopher_rules,
        text_quality_classifier,
    )

    a = text_quality_classifier(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("ka")
    )
    b = text_gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("kb")
    )
    c = a.join(b, "doc_id").agg(
        F.sum((F.col("ka") & ~F.col("kb")).cast("long")).alias("n10"),
        F.sum((~F.col("ka") & F.col("kb")).cast("long")).alias("n01"),
    )
    d = F.col("n10") + F.col("n01")
    diff = F.abs(F.col("n10") - F.col("n01")) - 1
    chi2 = F.when(d == 0, F.lit(0).cast("long")).otherwise(
        F.floor(
            (diff * diff).cast("double") / d.cast("double") * 1000000 + 0.5
        ).cast("long")
    )
    return c.select("n10", "n01", chi2.alias("chi2_micro"))

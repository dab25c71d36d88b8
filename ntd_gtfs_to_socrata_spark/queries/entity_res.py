"""Entity resolution (blocking → pairwise scoring → entity clustering)
and grid-bucketed geospatial neighbor joins (▲ north-star; the reference
has no record-linkage or spatial surface — its only "matching" is the
exact feed-id equi-join at publish_to_catalog.py:221-247).

Both families share one scale idea: NEVER compare all pairs. Candidate
pairs come from an equi-join on a cheap deterministic key — a blocking
key for ER (stable attributes survive the corruption being matched
through), a grid cell for spatial (distance bounds which cells can hold
a neighbor) — so the only shuffle is a keyed join whose fan-out is the
block/cell occupancy, not |A|x|B|. The expensive verifier (edit
distance, haversine) runs map-side on candidates only. At 100 TB both
joins are plain shuffled equi-joins: skewed blocks are AQE-splittable,
and the block key can be salted exactly like j6_salted_skew_join.

The dirty side is SYNTHESIZED deterministically from the clean table
(drop one character of the name at a key-derived position), the same
dirty-fixture pattern as a1_validation_quarantine_counts: both Spark
and the DuckDB oracle derive identical corruption, so the match set is
value-hash checkable end-to-end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ntd_gtfs_to_socrata_spark.io import load_table
from ntd_gtfs_to_socrata_spark.operators.stagecache import checkpoint
from ntd_gtfs_to_socrata_spark.queries import register

# ---------------------------------------------------------------------------
# ER: blocked candidate generation + levenshtein verification
# ---------------------------------------------------------------------------

# Deleted-char position p = (c_custkey % 8) + 10 lands inside the digit
# region of the fixed 18-char 'Customer#NNNNNNNNN' name.
_DIRTY_SQL = """
  SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment,
         concat(substr(c_name, 1, (c_custkey % 8) + 9),
                substr(c_name, (c_custkey % 8) + 11)) AS name_dirty
  FROM customer
"""

# Blocking key = every corruption-INVARIANT attribute: nation, exact
# balance, market segment, and the name's LAST character — the deletion
# position is always <= 17, so the final digit survives corruption (it
# sits at position 18 clean / 17 dirty). The r11 additions (segment +
# last char) multiply key cardinality by ~50: with a FIXED-cardinality
# key the collision-pair volume grows as n^2/K, which is what made
# er_entity_clusters the worst scale_stress ratio (5.5x at 10x data in
# r10) even though each block stayed small — K must outgrow n.
_MATCH_SQL = f"""
  SELECT a.c_custkey AS custkey_clean,
         b.c_custkey AS custkey_dirty,
         levenshtein(a.c_name, b.name_dirty) AS lev,
         CAST(a.c_custkey = b.c_custkey AS INT) AS is_true_match
  FROM customer a
  JOIN ({_DIRTY_SQL}) b
    ON a.c_nationkey = b.c_nationkey
   AND a.c_acctbal = b.c_acctbal
   AND a.c_mktsegment = b.c_mktsegment
   AND substr(a.c_name, 18, 1) = substr(b.name_dirty, 17, 1)
  WHERE levenshtein(a.c_name, b.name_dirty) <= 1
"""

ER_MATCH_ORACLE = _MATCH_SQL


def _dirty_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corrupted duplicate feed: every customer re-observed with one
    name character dropped at a key-derived position (deterministic, so
    the oracle synthesizes the identical feed)."""
    p = (F.col("c_custkey") % 8) + 10
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
        F.concat(
            F.substring(F.col("c_name"), F.lit(1), p - 1),
            F.substring(F.col("c_name"), p + 1, F.lit(18)),
        ).alias("name_dirty"),
    )


def _blocked_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    clean = load_table(spark, sf_dir, "customer")
    dirty = _dirty_customers(spark, sf_dir)
    # BOTH sides are corpus-sized: without the hint, compressed parquet
    # stats put the dirty side under autoBroadcastJoinThreshold and Spark
    # BROADCASTS the whole corpus — measured 2.4x slower at sf1 locally
    # and fatal at 100 TB (a broadcast must fit every executor). A
    # shuffled hash join on the blocking key is the honest plan; no sort
    # needed since block verification is order-free.
    cand = clean.alias("a").join(
        dirty.hint("shuffle_hash").alias("b"),
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.c_acctbal") == F.col("b.c_acctbal"))
        & (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
        # last name char: deletion position is <= 17, so it is invariant
        & (
            F.substring(F.col("a.c_name"), 18, 1)
            == F.substring(F.col("b.name_dirty"), 17, 1)
        ),
    )
    lev = F.levenshtein(F.col("a.c_name"), F.col("b.name_dirty"))
    return cand.filter(lev <= 1).select(
        F.col("a.c_custkey").alias("custkey_clean"),
        F.col("b.c_custkey").alias("custkey_dirty"),
        lev.alias("lev"),
        (F.col("a.c_custkey") == F.col("b.c_custkey")).cast("int").alias("is_true_match"),
    )


@register("er_blocked_matches", ER_MATCH_ORACLE)
def er_blocked_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage over a corrupted duplicate feed: block on the STABLE
    attributes (nation, EXACT account balance, market segment, and the
    name's last character — all untouched by the name corruption), then
    verify candidates with edit distance ≤ 1. True matches (same entity
    behind both records) are flagged so downstream precision is
    measurable; blocking recall is 100% by construction because every
    blocking attribute is corruption-invariant.

    Scale posture: candidate generation is ONE shuffled equi-join on the
    blocking key — never an all-pairs comparison. Levenshtein runs
    map-side on join survivors only. The block key's CARDINALITY is the
    scale lever, because collision-pair volume is n²/K even when every
    block stays small: the earlier century-bucket key (K≈2.7k) measured
    12.3x wall at 10x data; exact balance (K≈27M) still left a 5.5x
    ratio at sf1 (r10's worst); adding segment + last-char (K≈1.4B)
    pushes the n²/K term below the linear true-match term at sf1. Any
    attribute key's cardinality is ultimately data-bounded, so the
    production pre-flight is ``dq_join_key_skew`` on the block key — an
    over-populated block is either sub-split or handled by AQE skew-join
    (the audit-shaped ``er_blocking_quality`` / ``er_fellegi_sunter``
    keep the coarse century block deliberately, as the scheme under
    audit and the balance-agreement evidence field respectively)."""
    return _blocked_matches(spark, sf_dir)


ER_CLUSTER_ORACLE = f"""
WITH RECURSIVE m AS MATERIALIZED ({_MATCH_SQL}),
edges AS MATERIALIZED (
  SELECT custkey_clean AS src, -custkey_dirty AS dst FROM m
  UNION
  SELECT -custkey_dirty AS src, custkey_clean AS dst FROM m
),
reach(node, root) AS (
  SELECT DISTINCT src AS node, src AS root FROM edges
  UNION
  SELECT e.dst AS node, r.root AS root FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node, min(root) AS component_id FROM reach GROUP BY node
"""


@register("er_entity_clusters", ER_CLUSTER_ORACLE)
def er_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise matches → ENTITIES: connected components over the bipartite
    match graph (clean ids kept positive, dirty ids NEGATED — sign encodes
    the side, so the node space is collision-free at ANY customer
    cardinality; the former +10M offset collided with clean keys at TPC-H
    SF ≈ 67), so transitive matches
    (clean A ↔ dirty B ↔ clean C) land in one entity cluster — the step
    that turns link scores into a deduplicated golden-record table, same
    shape as dedup_connected_components for documents. Value-hash checked
    against a recursive-CTE fixpoint oracle."""
    from ntd_gtfs_to_socrata_spark.operators.graph import connected_components

    pairs = _blocked_matches(spark, sf_dir).select(
        F.col("custkey_clean").alias("src"),
        (-F.col("custkey_dirty")).alias("dst"),
    )
    cc = connected_components(pairs, src="src", dst="dst")
    return cc.select("node", "component_id")


# ---------------------------------------------------------------------------
# Geospatial: grid-bucketed haversine neighbor join
# ---------------------------------------------------------------------------

# Deterministic synthetic coordinates (modular arithmetic on the keys, so
# both engines derive bit-identical points; no hash functions involved).
# Latitude domain is ±60°: at |lat| < 60°, a 2° longitude cell spans ≥
# 2·111.19·cos(60°) ≈ 111 km > the 100 km search radius (and a 2° lat
# cell spans ≈ 222 km), so the 3×3 neighborhood PROVABLY contains every
# within-radius pair — brute-force-asserted in tests. Wider-latitude data
# sizes cells per latitude band instead (cell_lon = 2°/cos(lat_band)).
_CUST_LAT = "(((c_custkey * 7919) % 1200) / 10.0 - 60.0)"
_CUST_LON = "(((c_custkey * 104729) % 3600) / 10.0 - 180.0)"
_SUPP_LAT = "(((s_suppkey * 4409) % 1200) / 10.0 - 60.0)"
_SUPP_LON = "(((s_suppkey * 9973) % 3600) / 10.0 - 180.0)"

_HAVERSINE_SQL = """
  2 * 6371.0088 * asin(sqrt(
      pow(sin(radians(c_lat - s_lat) / 2), 2)
      + cos(radians(s_lat)) * cos(radians(c_lat))
        * pow(sin(radians(c_lon - s_lon) / 2), 2)))
"""

# Shared candidate-generation CTEs: customers with their grid cell,
# suppliers replicated into the 3×3 cell neighborhood. Interpolated into
# BOTH geo oracles so the candidate definition cannot drift between them.
_GRID_CTE_SQL = f"""
cust AS (
  SELECT c_custkey, {_CUST_LAT} AS c_lat, {_CUST_LON} AS c_lon,
         CAST(floor({_CUST_LAT} / 2) AS BIGINT) AS cx,
         CAST(floor({_CUST_LON} / 2) AS BIGINT) AS cy
  FROM customer
),
supp AS (
  SELECT s_suppkey, {_SUPP_LAT} AS s_lat, {_SUPP_LON} AS s_lon,
         CAST(floor({_SUPP_LAT} / 2) AS BIGINT) + dx.dx AS cx,
         CAST(floor({_SUPP_LON} / 2) AS BIGINT) + dy.dy AS cy
  FROM supplier, (VALUES (-1), (0), (1)) dx(dx), (VALUES (-1), (0), (1)) dy(dy)
)
"""

GEO_GRID_ORACLE = f"""
WITH {_GRID_CTE_SQL}
SELECT s.s_suppkey, c.c_custkey, round({_HAVERSINE_SQL}, 1) AS dist_km
FROM supp s JOIN cust c ON s.cx = c.cx AND s.cy = c.cy
WHERE {_HAVERSINE_SQL} <= 100.0
"""


def _haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    return (
        F.lit(2 * 6371.0088)
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(lat2 - lat1) / 2), 2)
                + F.cos(F.radians(lat1))
                * F.cos(F.radians(lat2))
                * F.pow(F.sin(F.radians(lon2 - lon1) / 2), 2)
            )
        )
    )


def _grid_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs from the 2°×2° grid: customers keyed by their
    cell, suppliers replicated into the 3×3 neighborhood (map-side 9×
    explode of the dim side) and broadcast, joined on the cell id. One
    DataFrame shared by the neighbor join and the 1-NN refinement, with
    the exact haversine attached as ``dist``."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr(_CUST_LAT).alias("c_lat"),
        F.expr(_CUST_LON).alias("c_lon"),
    )
    cust = cust.select(
        "*",
        F.floor(F.col("c_lat") / 2).cast("long").alias("cx"),
        F.floor(F.col("c_lon") / 2).cast("long").alias("cy"),
    )
    offsets = F.explode(
        F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                  for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .select(
            "s_suppkey",
            F.expr(_SUPP_LAT).alias("s_lat"),
            F.expr(_SUPP_LON).alias("s_lon"),
            offsets.alias("o"),
        )
        .select(
            "s_suppkey",
            "s_lat",
            "s_lon",
            (F.floor(F.col("s_lat") / 2).cast("long") + F.col("o.dx")).alias("cx"),
            (F.floor(F.col("s_lon") / 2).cast("long") + F.col("o.dy")).alias("cy"),
        )
    )
    dist = _haversine_km(
        F.col("s_lat"), F.col("s_lon"), F.col("c_lat"), F.col("c_lon")
    )
    return cust.join(F.broadcast(supp), ["cx", "cy"]).select(
        "c_custkey", "s_suppkey", dist.alias("dist")
    )


@register("geo_grid_neighbor_join", GEO_GRID_ORACLE)
def geo_grid_neighbor_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance join without a cross join: bucket points into 2°x2° grid
    cells, replicate the SMALLER side (suppliers) into its 3x3 cell
    neighborhood (a map-side 9x explode), equi-join on the cell id, and
    verify candidates with the exact haversine ≤ 100 km map-side.

    The grid is the spatial analogue of LSH banding: candidate volume is
    governed by cell occupancy, not |S|x|C|. At the ±60° fixture domain
    the 3×3 neighborhood provably contains EVERY within-100 km pair (a
    2° lon cell spans ≥ 111 km down to cos 60°; brute-force-asserted in
    tests); wider-latitude data sizes cells per latitude band instead.
    Production notes baked into the design: replicate the small side (9x
    a 100-row dim is free; 9x the fact side is not); cell ids are pure
    integer map-side arithmetic; the replicated dim side stays broadcast
    (9x a dim is still a dim), so the big point table never shuffles at
    all — with two fact-sized sides this becomes a keyed shuffle join on
    the cell id, still never a cross join."""
    cand = _grid_candidates(spark, sf_dir)
    return (
        cand.filter(F.col("dist") <= 100.0)
        .select("s_suppkey", "c_custkey", F.round("dist", 1).alias("dist_km"))
    )


ER_GOLDEN_ORACLE = f"""
WITH RECURSIVE m AS MATERIALIZED ({_MATCH_SQL}),
edges AS MATERIALIZED (
  SELECT custkey_clean AS src, -custkey_dirty AS dst FROM m
  UNION
  SELECT -custkey_dirty AS src, custkey_clean AS dst FROM m
),
reach(node, root) AS (
  SELECT DISTINCT src AS node, src AS root FROM edges
  UNION
  SELECT e.dst AS node, r.root AS root FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node, min(root) AS component_id FROM reach GROUP BY node),
members AS (
  SELECT CASE WHEN node < 0 THEN -node ELSE node END AS custkey,
         node > 0 AS is_clean,
         component_id
  FROM comp
)
SELECT component_id AS entity_id,
       count(*) AS n_records,
       min(CASE WHEN is_clean THEN c.c_name END) AS canonical_name,
       round(max(c.c_acctbal), 2) AS acctbal
FROM members JOIN customer c ON c.c_custkey = members.custkey
GROUP BY component_id
"""


@register("er_golden_record", ER_GOLDEN_ORACLE)
def er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship: one golden record per resolved entity. Cluster
    members (clean + dirty observations) join back to their source
    attributes on the record key — a plain shuffled equi-join — and a
    per-entity aggregate applies the survivorship rules (canonical name
    from the CLEAN observations only, balance as the max across members,
    member count for lineage). This closes the ER pipeline: block →
    verify → cluster → golden record, each stage independently
    oracle-checked."""
    from ntd_gtfs_to_socrata_spark.operators.graph import connected_components

    pairs = _blocked_matches(spark, sf_dir).select(
        F.col("custkey_clean").alias("src"),
        (-F.col("custkey_dirty")).alias("dst"),
    )
    cc = connected_components(pairs, src="src", dst="dst")
    members = cc.select(
        F.when(F.col("node") < 0, -F.col("node"))
        .otherwise(F.col("node"))
        .alias("custkey"),
        (F.col("node") > 0).alias("is_clean"),
        "component_id",
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    return (
        members.join(cust, members.custkey == cust.c_custkey)
        .groupBy(F.col("component_id").alias("entity_id"))
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.min(F.when(F.col("is_clean"), F.col("c_name"))).alias("canonical_name"),
            F.round(F.max("c_acctbal"), 2).alias("acctbal"),
        )
    )


GEO_KNN_ORACLE = f"""
WITH {_GRID_CTE_SQL},
cand AS (
  SELECT c.c_custkey, s.s_suppkey, round({_HAVERSINE_SQL}, 1) AS dist_km
  FROM supp s JOIN cust c ON s.cx = c.cx AND s.cy = c.cy
)
SELECT c_custkey, s_suppkey AS nearest_suppkey, dist_km
FROM cand
QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY dist_km, s_suppkey) = 1
"""


@register("geo_knn_per_customer", GEO_KNN_ORACLE)
def geo_knn_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest supplier per customer among the grid candidates (the 1-NN
    refinement of the neighbor join above): the shared `_grid_candidates`
    broadcast grid join, then a per-customer row_number over (distance,
    suppkey) — a PARTITIONED window, so ranking state never concentrates.
    Customers with an empty 3x3 neighborhood have no nearest candidate
    and are absent: within 100 km the candidate set is provably complete
    (±60° domain), so an absent customer truly has no supplier within
    100 km — beyond that radius the 1-NN is candidates-only, the same
    contract sim_ann_bucketed_topk makes explicit for embeddings."""
    from pyspark.sql.window import Window

    cand = _grid_candidates(spark, sf_dir).select(
        "c_custkey", "s_suppkey", F.round("dist", 1).alias("dist_km")
    )
    w = Window.partitionBy("c_custkey").orderBy("dist_km", "s_suppkey")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_custkey", F.col("s_suppkey").alias("nearest_suppkey"), "dist_km")
    )


ER_QUALITY_ORACLE = f"""
WITH dirty AS ({_DIRTY_SQL}),
cand AS (
  SELECT a.c_custkey AS ck, b.c_custkey AS dk,
         levenshtein(a.c_name, b.name_dirty) AS lev
  FROM customer a
  JOIN dirty b
    ON a.c_nationkey = b.c_nationkey
   AND CAST(floor(a.c_acctbal / 100) AS BIGINT) = CAST(floor(b.c_acctbal / 100) AS BIGINT)
),
n AS (SELECT count(*) AS n_recs FROM customer)
SELECT (SELECT count(*) FROM cand) AS n_candidates,
       (SELECT count(*) FROM cand WHERE lev <= 1) AS n_matches,
       (SELECT count(*) FROM cand WHERE ck = dk) AS n_true_found,
       n.n_recs AS n_true_pairs,
       round(CAST((SELECT count(*) FROM cand WHERE ck = dk) AS DOUBLE) / n.n_recs, 4)
         AS pair_completeness,
       round(1.0 - CAST((SELECT count(*) FROM cand) AS DOUBLE)
                   / (CAST(n.n_recs AS DOUBLE) * n.n_recs), 6) AS reduction_ratio
FROM n
"""


@register("er_blocking_quality", ER_QUALITY_ORACLE)
def er_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two numbers every blocking scheme is judged by, computed in one
    pass over the candidate join: PAIR COMPLETENESS (fraction of true
    matches whose pair survives blocking — 1.0 here because the key uses
    only corruption-invariant attributes) and REDUCTION RATIO (fraction
    of the |A|x|B| cross product the blocks eliminated — the whole point
    of blocking at 100 TB). Conditional aggregates over the candidate
    frame; the tiny count scalars join via a 1-row crossJoin, the
    tp_mixture_weights broadcast pattern."""
    clean = load_table(spark, sf_dir, "customer")
    dirty = _dirty_customers(spark, sf_dir)
    block = lambda bal: F.floor(bal / 100).cast("long")  # noqa: E731
    # corpus x corpus blocked join: same shuffle-hash posture as
    # _blocked_matches (never broadcast a corpus-sized side)
    cand = clean.alias("a").join(
        dirty.hint("shuffle_hash").alias("b"),
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (block(F.col("a.c_acctbal")) == block(F.col("b.c_acctbal"))),
    )
    lev = F.levenshtein(F.col("a.c_name"), F.col("b.name_dirty"))
    stats = cand.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum((lev <= 1).cast("long")).alias("n_matches"),
        F.sum((F.col("a.c_custkey") == F.col("b.c_custkey")).cast("long")).alias(
            "n_true_found"
        ),
    )
    n = clean.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    return stats.crossJoin(n).select(
        "n_candidates",
        "n_matches",
        "n_true_found",
        "n_true_pairs",
        F.round(
            F.col("n_true_found").cast("double") / F.col("n_true_pairs"), 4
        ).alias("pair_completeness"),
        F.round(
            1.0
            - F.col("n_candidates").cast("double")
            / (F.col("n_true_pairs").cast("double") * F.col("n_true_pairs")),
            6,
        ).alias("reduction_ratio"),
    )


# ---------------------------------------------------------------------------
# Fellegi–Sunter probabilistic match scoring
# ---------------------------------------------------------------------------

import math as _math

# (m, u) per comparison field: P(agree | match), P(agree | non-match).
_FS_FIELDS = {
    "name": (0.90, 0.001),  # levenshtein <= 1 on the corrupted name
    "bal": (0.98, 0.05),  # exact balance equality within the block
    "seg": (0.95, 0.2),  # market segment equality (5 segments -> u = 1/5)
}
# log2 agreement / disagreement weights precomputed as Python literals so
# Spark and DuckDB sum IDENTICAL constants (no engine log() in the plan)
_FS_W = {
    f: (
        round(_math.log2(m / u), 6),
        round(_math.log2((1 - m) / (1 - u)), 6),
    )
    for f, (m, u) in _FS_FIELDS.items()
}
_FS_MATCH_T = 10.0  # score >= -> match
_FS_POSSIBLE_T = 0.0  # score >= -> possible (clerical review)

_FS_SCORE_SQL = " + ".join(
    f"(CASE WHEN {cond} THEN {w_a} ELSE {w_d} END)"
    for cond, (w_a, w_d) in [
        ("levenshtein(a.c_name, b.name_dirty) <= 1", _FS_W["name"]),
        ("a.c_acctbal = b.c_acctbal", _FS_W["bal"]),
        ("a.c_mktsegment = b.mktsegment", _FS_W["seg"]),
    ]
)

FS_ORACLE = f"""
WITH dirty AS (
  SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment AS mktsegment,
         concat(substr(c_name, 1, (c_custkey % 8) + 9),
                substr(c_name, (c_custkey % 8) + 11)) AS name_dirty
  FROM customer
),
scored AS (
  SELECT a.c_custkey AS custkey_clean,
         b.c_custkey AS custkey_dirty,
         levenshtein(a.c_name, b.name_dirty) <= 1 AS agree_name,
         a.c_acctbal = b.c_acctbal AS agree_bal,
         a.c_mktsegment = b.mktsegment AS agree_seg,
         round({_FS_SCORE_SQL}, 4) AS score
  FROM customer a
  JOIN dirty b
    ON a.c_nationkey = b.c_nationkey
   AND CAST(floor(a.c_acctbal / 100) AS BIGINT)
       = CAST(floor(b.c_acctbal / 100) AS BIGINT)
)
SELECT custkey_clean, custkey_dirty, agree_name, agree_bal, agree_seg, score,
       CASE WHEN score >= {_FS_MATCH_T} THEN 'match'
            WHEN score >= {_FS_POSSIBLE_T} THEN 'possible'
            ELSE 'non_match' END AS decision
FROM scored
WHERE score >= {_FS_POSSIBLE_T}
"""


@register("er_fellegi_sunter", FS_ORACLE)
def er_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage over the blocked
    candidates: per comparison field (name-within-edit-1, exact balance,
    segment) an agreement adds log2(m/u) and a disagreement adds
    log2((1−m)/(1−u)); the summed score classifies match / possible /
    non-match. The log-weights are PRECOMPUTED Python literals, so both
    engines sum identical constants — determinism by construction, the
    minhash-permutation trick applied to linkage theory.

    Scale posture: identical plan to ``er_blocked_matches`` — one blocked
    equi-join, all field comparators and the score map-side; the m/u
    parameters are the only thing EM training would change, not the
    plan."""
    clean = load_table(spark, sf_dir, "customer")
    dirty = _dirty_customers(spark, sf_dir).join(
        load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("ck"),
            F.col("c_mktsegment").alias("mktsegment"),
        ),
        F.col("c_custkey") == F.col("ck"),
    ).drop("ck")
    block = lambda bal: F.floor(bal / 100).cast("long")  # noqa: E731
    # corpus x corpus blocked join: same shuffle-hash posture as
    # _blocked_matches (never broadcast a corpus-sized side)
    cand = clean.alias("a").join(
        dirty.hint("shuffle_hash").alias("b"),
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (block(F.col("a.c_acctbal")) == block(F.col("b.c_acctbal"))),
    )
    agree = {
        "name": F.levenshtein(F.col("a.c_name"), F.col("b.name_dirty")) <= 1,
        "bal": F.col("a.c_acctbal") == F.col("b.c_acctbal"),
        "seg": F.col("a.c_mktsegment") == F.col("b.mktsegment"),
    }
    score = None
    for f_key, cond in agree.items():
        w_a, w_d = _FS_W[f_key]
        term = F.when(cond, F.lit(w_a)).otherwise(F.lit(w_d))
        score = term if score is None else score + term
    scored = cand.select(
        F.col("a.c_custkey").alias("custkey_clean"),
        F.col("b.c_custkey").alias("custkey_dirty"),
        agree["name"].alias("agree_name"),
        agree["bal"].alias("agree_bal"),
        agree["seg"].alias("agree_seg"),
        F.round(score, 4).alias("score"),
    )
    return scored.filter(F.col("score") >= _FS_POSSIBLE_T).select(
        "*",
        F.when(F.col("score") >= _FS_MATCH_T, "match")
        .when(F.col("score") >= _FS_POSSIBLE_T, "possible")
        .otherwise("non_match")
        .alias("decision"),
    )


# ---------------------------------------------------------------------------
# EM-trained Fellegi-Sunter parameters (Splink-style unsupervised linkage)
# ---------------------------------------------------------------------------

_EM_INIT = {"lam": 100_000, "m": 900_000, "u": 100_000}  # micro units
_EM_ITERS = 2
_EM_FIELDS = ("name", "bal", "seg")
_EM_PAIR_BUDGET = 2_000_000  # target sampled-candidate count, corpus-independent

# deterministic per-row sample bucket in [0, 1e6) from md5 of the key
_EM_BUCKET_SQL = (
    "CAST('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 6) AS INTEGER) % 1000000"
)


def _em_pattern_counts_sql() -> str:
    """Agreement-pattern contingency over a DETERMINISTIC SAMPLE of the
    coarse-blocked candidates, sized to the fixed pair budget: raw pair
    volume P is computed from block-size products (never materializing
    pairs), each side is then hash-thinned by p = sqrt(B/P), so expected
    sampled pairs ~ B at ANY corpus size."""
    bucket_a = _EM_BUCKET_SQL.format(key="a.c_custkey")
    bucket_b = _EM_BUCKET_SQL.format(key="b.c_custkey * 7919")
    return f"""
dirty AS MATERIALIZED (
  SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment AS mktsegment,
         concat(substr(c_name, 1, (c_custkey % 8) + 9),
                substr(c_name, (c_custkey % 8) + 11)) AS name_dirty
  FROM customer
),
blocks AS (
  SELECT c_nationkey AS nk, CAST(floor(c_acctbal / 100) AS BIGINT) AS cb,
         count(*) AS n
  FROM customer GROUP BY 1, 2
),
volume AS (
  -- dirty side has identical block occupancy (same keys, same balances)
  SELECT SUM(n * n) AS p_raw FROM blocks
),
thr AS (
  SELECT CAST(LEAST(1000000, floor(1000000.0 *
           sqrt({_EM_PAIR_BUDGET} / CAST(p_raw AS DOUBLE)))) AS BIGINT) AS t
  FROM volume
),
pat AS MATERIALIZED (
  SELECT CAST(levenshtein(a.c_name, b.name_dirty) <= 1 AS INT) AS g_name,
         CAST(a.c_acctbal = b.c_acctbal AS INT) AS g_bal,
         CAST(a.c_mktsegment = b.mktsegment AS INT) AS g_seg,
         count(*) AS n
  FROM customer a, thr
  JOIN dirty b
    ON a.c_nationkey = b.c_nationkey
   AND CAST(floor(a.c_acctbal / 100) AS BIGINT)
       = CAST(floor(b.c_acctbal / 100) AS BIGINT)
  WHERE {bucket_a} < thr.t AND {bucket_b} < thr.t
  GROUP BY 1, 2, 3
)"""


def _em_oracle() -> str:
    """Unrolled 2-iteration EM in SQL CTEs, micro-quantized at every
    E- and M-step exactly like the DataFrame side (the eval_bradley_terry
    unrolled-MM determinism pattern)."""
    lam, m, u = _EM_INIT["lam"], _EM_INIT["m"], _EM_INIT["u"]
    params = ", ".join(
        [f"CAST({lam} AS BIGINT) AS lam"]
        + [f"CAST({m} AS BIGINT) AS m_{f}, CAST({u} AS BIGINT) AS u_{f}" for f in _EM_FIELDS]
    )
    sql = f"WITH {_em_pattern_counts_sql()},\np0 AS (SELECT {params})"
    for i in range(_EM_ITERS):
        t_m = " * ".join(
            f"((CASE WHEN pat.g_{f} = 1 THEN p{i}.m_{f} ELSE 1000000 - p{i}.m_{f} END) / 1000000.0)"
            for f in _EM_FIELDS
        )
        t_u = " * ".join(
            f"((CASE WHEN pat.g_{f} = 1 THEN p{i}.u_{f} ELSE 1000000 - p{i}.u_{f} END) / 1000000.0)"
            for f in _EM_FIELDS
        )
        sql += f""",
w{i} AS (
  SELECT pat.g_name, pat.g_bal, pat.g_seg, pat.n,
         CAST(floor(1000000.0 * ((p{i}.lam / 1000000.0) * {t_m})
              / ((p{i}.lam / 1000000.0) * {t_m}
                 + ((1000000 - p{i}.lam) / 1000000.0) * {t_u})) AS BIGINT) AS w
  FROM pat, p{i}
)"""
        m_terms = ", ".join(
            f"CAST(floor(1000000.0 * (SUM(CASE WHEN g_{f} = 1 THEN n * w ELSE 0 END)"
            f" / CAST(SUM(n * w) AS DOUBLE))) AS BIGINT) AS m_{f},"
            f" CAST(floor(1000000.0 * (SUM(CASE WHEN g_{f} = 1 THEN n * (1000000 - w) ELSE 0 END)"
            f" / CAST(SUM(n * (1000000 - w)) AS DOUBLE))) AS BIGINT) AS u_{f}"
            for f in _EM_FIELDS
        )
        sql += f""",
p{i + 1} AS (
  SELECT CAST(floor(1000000.0 * (SUM(n * w)
              / CAST(SUM(n * w) + SUM(n * (1000000 - w)) AS DOUBLE))) AS BIGINT) AS lam,
         {m_terms}
  FROM w{i}
)"""
    ratios = ", ".join(
        f"CASE WHEN u_{f} = 0 THEN CAST(1000000000000 AS BIGINT)"
        f" ELSE CAST(floor(1000000.0 * m_{f} / u_{f}) AS BIGINT) END AS r_{f}"
        for f in _EM_FIELDS
    )
    sql += f"\nSELECT lam, m_name, u_name, m_bal, u_bal, m_seg, u_seg, {ratios} FROM p{_EM_ITERS}"
    return sql


def _em_bucket(col: Column) -> Column:
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 6), 16, 10).cast("long")
        % 1_000_000
    )


@register("er_em_weights", _em_oracle())
def er_em_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNSUPERVISED linkage-parameter training (the Splink/FastLink EM):
    er_fellegi_sunter scores with FIXED m/u weights — its docstring notes
    EM training is "the only thing" that would change. This query trains
    them on the COARSE (nation, balance-century) candidate set — EM needs
    non-matches in the mixture, which the tight exact-balance block
    (nearly all true matches) cannot supply.

    The coarse block's pair volume grows quadratically within its fixed
    key space, so training uses SPLINK'S ANSWER — a deterministic sample
    sized to a fixed pair budget: raw pair volume P comes from block-size
    count products (one linear aggregation, pairs never materialized),
    each side is hash-thinned by p = sqrt(B/P) (md5 buckets, so both
    engines draw the IDENTICAL sample), and expected sampled pairs stay
    ~B at any corpus size. The sampled candidates collapse to the 8-row
    agreement-pattern contingency, then {iters} unrolled EM iterations
    run as tiny DataFrame folds: E-step match-responsibility per pattern,
    M-step re-estimates (lambda, m_k, u_k). Every E/M output is
    floor-quantized to micro units and double divisions consume identical
    exact BIGINTs, so the trained parameters are value-hash checked
    against an unrolled-CTE oracle. Log-weights are deliberately NOT
    emitted (libm log differs across engines); the exact micro m/u ratio
    carries the same ordering information.

    Scale posture: one linear block-count aggregation + a budget-bounded
    sampled join + O(2^fields x iters) EM on an 8-row table — constant
    EM cost, linear scan cost, at any corpus size. No driver-side loops:
    the unrolled iterations are plan-level."""
    clean = load_table(spark, sf_dir, "customer")
    dirty = _dirty_customers(spark, sf_dir).join(
        load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("ck"),
            F.col("c_mktsegment").alias("mktsegment"),
        ),
        F.col("c_custkey") == F.col("ck"),
    ).drop("ck")
    century = lambda bal: F.floor(bal / 100).cast("long")  # noqa: E731

    blocks = clean.groupBy(
        F.col("c_nationkey").alias("nk"), century(F.col("c_acctbal")).alias("cb")
    ).agg(F.count(F.lit(1)).alias("n"))
    thr = blocks.agg(
        F.least(
            F.lit(1_000_000),
            F.floor(
                1_000_000.0
                * F.sqrt(
                    F.lit(float(_EM_PAIR_BUDGET))
                    / F.sum(F.col("n") * F.col("n")).cast("double")
                )
            ),
        )
        .cast("long")
        .alias("t")
    )
    clean_s = clean.crossJoin(F.broadcast(thr)).filter(
        _em_bucket(F.col("c_custkey")) < F.col("t")
    )
    dirty_s = dirty.crossJoin(F.broadcast(thr)).filter(
        _em_bucket(F.col("c_custkey") * 7919) < F.col("t")
    )
    cand = clean_s.alias("a").join(
        dirty_s.alias("b"),
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (century(F.col("a.c_acctbal")) == century(F.col("b.c_acctbal"))),
    )
    # Materialize the (≤ 2^fields = 8)-row contingency ONCE: every EM
    # iteration references `pat`, and each `broadcast(params)` chain nests
    # the previous iteration's aggregate — without a boundary the sampled
    # candidate join + levenshtein subtree is re-planned and RE-EXECUTED
    # once per reference (r14, guide §2.4/§5: the plan's only expensive
    # subtree ran 3x for a query whose loop arithmetic is 8 rows).
    pat = (
        cand.select(
            (F.levenshtein(F.col("a.c_name"), F.col("b.name_dirty")) <= 1)
            .cast("int")
            .alias("g_name"),
            (F.col("a.c_acctbal") == F.col("b.c_acctbal")).cast("int").alias("g_bal"),
            (F.col("a.c_mktsegment") == F.col("b.mktsegment")).cast("int").alias("g_seg"),
        )
        .groupBy("g_name", "g_bal", "g_seg")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(checkpoint)
    )

    params = spark.range(1).select(
        F.lit(_EM_INIT["lam"]).cast("long").alias("lam"),
        *[
            c
            for f in _EM_FIELDS
            for c in (
                F.lit(_EM_INIT["m"]).cast("long").alias(f"m_{f}"),
                F.lit(_EM_INIT["u"]).cast("long").alias(f"u_{f}"),
            )
        ],
    )
    for _ in range(_EM_ITERS):
        joined = pat.crossJoin(F.broadcast(params))
        t_m = t_u = F.lit(1.0)
        for f in _EM_FIELDS:
            g = F.col(f"g_{f}") == 1
            t_m = t_m * (
                F.when(g, F.col(f"m_{f}")).otherwise(1_000_000 - F.col(f"m_{f}"))
                / 1_000_000.0
            )
            t_u = t_u * (
                F.when(g, F.col(f"u_{f}")).otherwise(1_000_000 - F.col(f"u_{f}"))
                / 1_000_000.0
            )
        num = (F.col("lam") / 1_000_000.0) * t_m
        alt = ((1_000_000 - F.col("lam")) / 1_000_000.0) * t_u
        w = joined.select(
            "g_name",
            "g_bal",
            "g_seg",
            "n",
            F.floor(1_000_000.0 * num / (num + alt)).cast("long").alias("w"),
        )
        nm = F.sum(F.col("n") * F.col("w"))
        nu = F.sum(F.col("n") * (1_000_000 - F.col("w")))
        aggs = [
            F.floor(1_000_000.0 * (nm / (nm + nu).cast("double")))
            .cast("long")
            .alias("lam")
        ]
        for f in _EM_FIELDS:
            gk = F.col(f"g_{f}") == 1
            aggs.append(
                F.floor(
                    1_000_000.0
                    * (
                        F.sum(F.when(gk, F.col("n") * F.col("w")).otherwise(0))
                        / nm.cast("double")
                    )
                )
                .cast("long")
                .alias(f"m_{f}")
            )
            aggs.append(
                F.floor(
                    1_000_000.0
                    * (
                        F.sum(
                            F.when(gk, F.col("n") * (1_000_000 - F.col("w"))).otherwise(0)
                        )
                        / nu.cast("double")
                    )
                )
                .cast("long")
                .alias(f"u_{f}")
            )
        params = w.agg(*aggs)

    ratio_cols = [
        F.when(F.col(f"u_{f}") == 0, F.lit(1_000_000_000_000))
        .otherwise(F.floor(1_000_000.0 * F.col(f"m_{f}") / F.col(f"u_{f}")))
        .cast("long")
        .alias(f"r_{f}")
        for f in _EM_FIELDS
    ]
    return params.select(
        "lam",
        "m_name",
        "u_name",
        "m_bal",
        "u_bal",
        "m_seg",
        "u_seg",
        *ratio_cols,
    )


er_em_weights.__doc__ = er_em_weights.__doc__.format(iters=_EM_ITERS)

"""The near-duplicate steps, each written once: the inverted-index pair
expansion, the shingle posting lists and their common counts, the
MinHash-LSH scheme, and the keep-one verdict over duplicate clusters.

Every dedup query, the corpus release plan and the streaming dedup build
their plans from these, so a change to the scheme (its permutations,
bands or bucket cap) reaches all of them, and the DuckDB oracles that
interpolate the same constants, at once.

Shingles are distinct space-joined word 3-grams (``textops.word_shingles``).
Join keys are their full-string ``xxhash64``: hash equality stands in for
string equality (64-bit collisions are negligible against corpus shingle
cardinality), so no shuffle carries the 3-word strings. MinHash uses the
engine-portable Horner hash instead, so the oracles can replay it in SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ntd_gtfs_to_socrata_spark.operators import textops as TX
from ntd_gtfs_to_socrata_spark.operators.graph import connected_components

# 8 universal-hash permutations (a, b) of the shingle hash, banded into
# LSH_BANDS bands of 2 signature rows each.
MINHASH_PERMS = [(1 + 2 * i, 7919 * i + 13) for i in range(8)]
LSH_BANDS = 4

# Per-bucket membership cap: a band bucket with L members contributes
# L(L-1)/2 candidate pairs, so one degenerate bucket (a mega-cluster of
# identical boilerplate the exact-dedup pass upstream would catch, or an
# adversarial hash pile-up) can dominate the whole candidate volume. A
# bucket over the cap is dropped wholesale — bounded fan-out per key, and
# SQL-expressible so the candidate set stays value-hash checked. True
# near-dup pairs inside a dropped bucket usually still surface through
# one of the other bands; the standing recall monitor
# (``dedup_lsh_recall``) prices the residual loss.
LSH_BUCKET_CAP = 256


def pairs_within(col: str) -> Column:
    """Every i<j pair of the array column ``col`` as ``struct(a, b)``,
    built map-side: one explode of exactly L(L-1)/2 pair rows per list,
    vs a double explode of L^2 rows filtered afterwards (2x the rows and
    a second explode stage). On a sorted list, ``a`` <= ``b``."""
    xs = F.col(col)
    return F.flatten(
        F.transform(
            xs,
            lambda x, i: F.transform(
                F.slice(xs, i + 2, F.size(xs)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def shingle_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, n_sh, shingle): one row per distinct shingle of each
    ``(doc_id, text)`` row, with the doc's distinct-shingle count carried
    alongside so the Jaccard denominators need no join back to a size
    table."""
    return (
        docs.select("doc_id", TX.word_shingles(TX.tokens(F.col("text"))).alias("sh"))
        .select("doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("s"))
        .select("doc_id", "n_sh", F.xxhash64("s").alias("shingle"))
    )


def shingle_pairs(hashed: DataFrame, df_cap: int | None = None) -> DataFrame:
    """Column ``p`` = struct(a, b) of (doc_id, n_sh): one row per document
    pair per shared shingle of ``shingle_hashes`` rows. ONE shuffle on the
    shingle builds its posting list (a self-join would shuffle the
    exploded table twice), and the pairs come from the sorted list
    map-side. ``df_cap`` drops posting lists longer than the cap
    (document-frequency cut): an ultra-common shingle contributes
    L(L-1)/2 pairs and near-zero similarity signal."""
    inv = (
        hashed.groupBy("shingle")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n_sh"))).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    if df_cap is not None:
        inv = inv.filter(F.size("ds") <= df_cap)
    return inv.select(F.explode(pairs_within("ds")).alias("p"))


def common_counts(pairs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, na, nb, n_common) from ``shingle_pairs`` rows, with
    doc_a < doc_b."""
    return pairs.groupBy(
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.b.doc_id").alias("doc_b"),
        F.col("p.a.n_sh").alias("na"),
        F.col("p.b.n_sh").alias("nb"),
    ).agg(F.count(F.lit(1)).alias("n_common"))


def minhash_signatures(shingled: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh7): the minimum of each ``MINHASH_PERMS``
    permutation over the Horner hashes of a doc's shingles. Input is one
    row per (doc_id, sh: string shingle)."""
    hashed = shingled.select(
        "doc_id", TX.char_poly_hash_horner(F.col("sh")).alias("h")
    )
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(TX.minhash_value(F.col("h"), a, b)).alias(f"mh{i}")
            for i, (a, b) in enumerate(MINHASH_PERMS)
        ]
    )


def lsh_buckets(sigs: DataFrame) -> DataFrame:
    """(doc_id, bucket): one row per band of ``minhash_signatures`` rows,
    the bucket key being "band_row0_row1" (deterministic integer
    arithmetic, so the oracles replay it exactly)."""
    bands = [f"band{i}" for i in range(LSH_BANDS)]
    return sigs.select(
        "doc_id",
        *[
            F.concat_ws(
                "_", F.lit(i), F.col(f"mh{2 * i}"), F.col(f"mh{2 * i + 1}")
            ).alias(band)
            for i, band in enumerate(bands)
        ],
    ).selectExpr("doc_id", f"stack({LSH_BANDS}, {', '.join(bands)}) AS bucket")


def bucket_pairs(buckets: DataFrame) -> DataFrame:
    """(doc_a, doc_b), doc_a < doc_b, for every two docs sharing an
    ``lsh_buckets`` bucket of at most ``LSH_BUCKET_CAP`` members: one
    shuffle on the bucket, then the pairs of each sorted member list
    map-side. A pair sharing several buckets appears once per bucket."""
    return (
        buckets.groupBy("bucket")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= LSH_BUCKET_CAP))
        .select(F.explode(pairs_within("ids")).alias("p"))
        .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
    )


def keep_one(ids: DataFrame, pairs: DataFrame, a: str, b: str) -> DataFrame:
    """The keep-one verdict: duplicate ``pairs`` (columns ``a``, ``b``)
    → connected components → (id, component_id, kept) for every row of
    the one-column frame ``ids``. The min id of each cluster is kept, and
    an id in no pair is its own singleton, kept.

    The id side is touched by one LEFT join against the component map,
    with no forced broadcast: on real web corpora 30-50 % of documents
    land in near-dup clusters, so the map can itself be billions of rows;
    AQE sizes the join at runtime."""
    (id_col,) = ids.columns
    cc = connected_components(pairs, src=a, dst=b).select(
        F.col("node"), F.col("component_id").alias("comp")
    )
    comp = F.coalesce(F.col("comp"), F.col(id_col))
    return ids.join(cc, F.col(id_col) == F.col("node"), "left").select(
        id_col,
        comp.alias("component_id"),
        (comp == F.col(id_col)).alias("kept"),
    )

"""Adversarial-skew fixture for the dedup inverted index (r6 verdict
item 4): a corpus where ONE boilerplate shingle appears in 50% of docs —
the exact shape that quadratic-blows-up an uncapped shared-shingle join
(a shingle in d docs generates d(d-1)/2 pairs from one posting list).

Properties asserted:
- the dq_join_key_skew-style pre-flight DETECTS the hot key (one shingle
  holds a corpus-scale share of the exploded rows);
- with the df cap, every surviving posting list is bounded (<= cap) while
  the hot key alone would exceed it by an order of magnitude;
- the capped candidate space collapses (hot key alone: ~d^2/2 pairs;
  capped: only the rare-shingle pairs);
- RECALL on the true near-dup pairs is not sacrificed: df-capped
  Jaccard (and df-capped containment) find every true pair, and at least
  as many as MinHash-LSH banding finds on the same corpus — the r6
  verdict's bar ("recall on true pairs >= LSH's"). True near-dups share
  many RARE shingles, so dropping the boilerplate key costs them nothing;
  a pair whose ONLY overlap is boilerplate is below the Jaccard threshold
  anyway. Threshold rationale recorded in SCALE.md §"Dedup".
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ntd_gtfs_to_socrata_spark.operators import textops as TX
from ntd_gtfs_to_socrata_spark.queries.dedup_text import _containment, _ngram_jaccard

_N_PAIRS = 20  # true near-dup pairs: docs (2p, 2p+1) for p < 20
_N_DOCS = 200
_DF_CAP = 50
_BOILER = "lorem ipsum dolor"  # one 3-gram shingle, present in 50% of docs


def _corpus(spark):
    rows = []
    for i in range(_N_DOCS):
        if i < 2 * _N_PAIRS:
            p = i // 2
            # pair members share 12 tokens (11 rare shingles) and differ
            # in one trailing token => Jaccard well above the 0.2 cut
            body = " ".join(f"c{p}w{k}" for k in range(12)) + f" tail{i}"
        else:
            body = " ".join(f"u{i}w{k}" for k in range(13))
        text = (_BOILER + " " + body) if i % 2 == 0 else body
        rows.append((i, text))
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def skew_dir(module_spark, tmp_path_factory):
    spark = module_spark
    out = str(tmp_path_factory.mktemp("skew"))
    (
        _corpus(spark)
        .withColumn("lang", F.lit("en"))
        .withColumn("source", F.lit("synthetic"))
        .withColumn("n_chars", F.length("text"))
        .repartition(4)
        .write.mode("overwrite")
        .parquet(out + "/documents.parquet")
    )
    return out


def _shingle_df(spark, skew_dir):
    docs = spark.read.parquet(skew_dir + "/documents.parquet")
    return (
        docs.select(
            "doc_id",
            F.explode(TX.word_shingles(TX.tokens(F.col("text")))).alias("sh"),
        )
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def test_preflight_detects_hot_shingle(spark, skew_dir):
    """The dq_join_key_skew pre-flight shape: top-key share of the
    exploded rows reveals the boilerplate key before any pair join."""
    dfs = _shingle_df(spark, skew_dir)
    total, top = dfs.agg(F.sum("df"), F.max("df")).first()
    assert top == _N_DOCS // 2  # the boilerplate shingle: 50% of docs
    assert top / total > 0.02  # orders above the ~1/n_shingles uniform share
    # and it is the ONLY key over the cap: the fixture isolates the skew
    assert dfs.filter(F.col("df") > _DF_CAP).count() == 1


def test_dfcap_bounds_posting_lists_and_candidate_space(spark, skew_dir):
    dfs = _shingle_df(spark, skew_dir).select("df").toPandas()["df"]
    uncapped_pairs = int((dfs * (dfs - 1) // 2).sum())
    capped = dfs[dfs <= _DF_CAP]
    capped_pairs = int((capped * (capped - 1) // 2).sum())
    hot = _N_DOCS // 2
    assert uncapped_pairs >= hot * (hot - 1) // 2  # the quadratic term
    # dropping the one hot key removes >95% of the candidate space
    assert capped_pairs < uncapped_pairs * 0.05
    assert capped.max() <= _DF_CAP


def test_dfcap_recall_at_least_lsh(spark, skew_dir):
    """df-capped exact Jaccard keeps EVERY true pair (they share 11 rare
    shingles each) and >= the recall of 4x2 MinHash-LSH banding on the
    same corpus — the scale path is not buying its fan-out bound with
    recall."""
    truth = {(2 * p, 2 * p + 1) for p in range(_N_PAIRS)}
    docs = spark.read.parquet(skew_dir + "/documents.parquet")
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in _ngram_jaccard(spark, skew_dir, df_cap=_DF_CAP, docs=docs).collect()
    }
    assert truth <= capped, f"missing: {truth - capped}"
    # LSH candidates on the same corpus (registry path reads the parquet)
    from ntd_gtfs_to_socrata_spark.queries import REGISTRY, load_all_query_modules

    load_all_query_modules()
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in REGISTRY["dedup_minhash_lsh_pairs"](spark, skew_dir).collect()
    }
    assert len(truth & capped) >= len(truth & lsh)


def test_dfcap_containment_keeps_true_pairs(spark, skew_dir):
    """Containment with the same df cap (its ONLY fan-out bound — no size
    prune exists for the directed measure) still finds every true pair in
    at least one direction."""
    docs = spark.read.parquet(skew_dir + "/documents.parquet")
    edges = {
        (r["src"], r["dst"])
        for r in _containment(spark, skew_dir, df_cap=_DF_CAP, docs=docs).collect()
    }
    for a, b in ((2 * p, 2 * p + 1) for p in range(_N_PAIRS)):
        assert (a, b) in edges or (b, a) in edges


def test_uncapped_and_capped_agree_outside_hot_key(spark, skew_dir):
    """Sanity on what the cap can COST: on this corpus the hot shingle is
    pure boilerplate, so capped and uncapped Jaccard agree exactly on the
    pair set at the 0.2 threshold (the boilerplate-only overlaps are far
    below it)."""
    docs = spark.read.parquet(skew_dir + "/documents.parquet")
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in _ngram_jaccard(spark, skew_dir, df_cap=_DF_CAP, docs=docs).collect()
    }
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in _ngram_jaccard(spark, skew_dir, df_cap=None, docs=docs).collect()
    }
    assert capped == uncapped


def test_graph_family_runs_capped_on_skew_corpus(spark, skew_dir):
    """r7 verdict item 4: the graph/cluster-audit family now defaults to
    the df-capped pair generator, so the whole family must run on the
    boilerplate-skew corpus without posting-list blowup AND recover
    exactly the true near-dup clusters (cap costs no recall here — true
    pairs share 11 rare shingles each)."""
    from ntd_gtfs_to_socrata_spark.queries.dedup_text import (
        dedup_cluster_report,
        dedup_connected_components,
    )
    from ntd_gtfs_to_socrata_spark.queries.graph_q import (
        graph_canonical_by_rank,
        graph_degree_distribution,
        graph_k_core,
        graph_label_propagation,
        graph_pagerank,
        graph_triangle_count,
    )

    comp: dict[int, set[int]] = {}
    for r in dedup_connected_components(spark, skew_dir).collect():
        comp.setdefault(r["component_id"], set()).add(r["doc_id"])
    got = sorted(sorted(v) for v in comp.values())
    assert got == [[2 * p, 2 * p + 1] for p in range(_N_PAIRS)]

    # every member of the family executes on the skew corpus; the pair
    # graph is 20 disjoint edges, so node-level outputs cover 40 nodes
    assert graph_pagerank(spark, skew_dir).count() == 2 * _N_PAIRS
    assert graph_label_propagation(spark, skew_dir).count() == 2 * _N_PAIRS
    assert graph_canonical_by_rank(spark, skew_dir).count() == _N_PAIRS
    assert graph_degree_distribution(spark, skew_dir).count() >= 1
    assert dedup_cluster_report(spark, skew_dir).count() == _N_PAIRS
    # no triangles and no k>=2 core in a perfect matching
    tri = graph_triangle_count(spark, skew_dir).collect()
    assert sum(r[-1] for r in tri) == 0 or all(r["n_triangles"] == 0 for r in tri)
    assert graph_k_core(spark, skew_dir).count() == 0

"""End-to-end corpus release pipeline (▲ north-star composition; the
reference's analogous artifact is the whole publish run at
publish_to_catalog.py:584-611 — ingest → validate → sync → log — re-themed
for training-data release):

    documents
      → cleaning rules (ALL FIVE text_gopher_rules cuts)    [filter]
      → exact dedup keep-one (min doc_id per text)          [1 shuffle]
      → near-dup keep-one (df-capped shared-shingle
        inverted index → exact-Jaccard verify → CC →
        keep min per cluster)                               [bucketed]
      → decontamination (drop docs sharing any 3-gram
        shingle with the held-out eval slice)               [1 shuffle]
      → deterministic train/val/test split (md5 buckets)    [map-side]
      → partitioned write by split + release manifest

Every stage count is collected through ONE ``observe`` per stage frame —
the A5 pattern (no second scan per counter) — and the manifest the
pipeline returns is the artifact a release review signs off on.

Scale posture: each stage is an already-audited operator composed by
reference (rules = map-only; exact dedup = one content-hash shuffle;
near-dup = the df-capped inverted-index path from
``dedup_ngram_jaccard_dfcap`` — a shingle landing in more than
``_NEARDUP_DF_CAP`` docs is dropped from candidate generation, bounding
per-key pair fan-out to cap², never all-pairs; decontamination = one
shingle-key shuffle with the eval side distinct-reduced first; split =
map-side md5). The write partitions by split so every downstream trainer
scans only its slice.

Cache lifecycle (r6 ADVICE): the two stage boundaries are
``stagecache.stage_boundary`` scopes, so the 3-consumer branches don't
re-run rules+dedup. A new build retires the previous build's frames
when it re-enters the scopes, and ``write_release`` (or
``CorpusReleaseResult.close()``) releases them — so repeated invocations
in one session (oracle gate, bench passes) hold at most ONE build's
stages in executor memory.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ntd_gtfs_to_socrata_spark.operators import textops as TX
from ntd_gtfs_to_socrata_spark.operators.graph import connected_components
from ntd_gtfs_to_socrata_spark.operators.neardup import (
    common_counts,
    shingle_hashes,
    shingle_pairs,
)
from ntd_gtfs_to_socrata_spark.operators.stagecache import release, stage_boundary

# Candidate-generation document-frequency cap: a shingle appearing in more
# than this many surviving docs is boilerplate, not dup evidence — dropping
# it bounds the inverted-index fan-out (<= cap*(cap-1)/2 pairs per shingle)
# exactly as in queries/dedup_text.py::dedup_ngram_jaccard_dfcap. The
# DuckDB oracle applies the same cap, so the value hash certifies the
# capped semantics, not an uncapped ideal.
_NEARDUP_DF_CAP = 1000
# Shingle Jaccard at or above which two surviving docs are near-duplicates
# (the oracle's threshold too).
_JACCARD_THRESHOLD = 0.5


@dataclass
class CorpusReleaseResult:
    released: DataFrame  # doc_id, text, lang, source, split
    manifest: dict  # per-stage counts (filled after an action runs)
    observations: dict  # name -> Observation (driver reads post-action)
    docs: DataFrame  # the input documents

    def close(self) -> None:
        """Release the stage-boundary caches (idempotent)."""
        for scope in STAGE_SCOPES:
            release(scope)


# the stage_boundary scopes of a build's two stage frames
STAGE_SCOPES = ("corpus_release_exact", "corpus_release_neardup")


def _keep_rules(docs: DataFrame) -> DataFrame:
    """text_gopher_rules' conjunctive keep as a reusable filter — ALL FIVE
    rules at the same thresholds (word count [50, 100k], mean word length
    [3, 10], >= 2 distinct stopwords, numeric-token ratio <= 0.2,
    distinct-token ratio >= 0.3); see queries/dedup_text.py for the
    per-rule audit query publishing each flag separately."""
    toks = TX.tokens(F.col("text"))
    n = F.size(toks)
    mean_len = F.length("text").cast("double") / F.greatest(n, F.lit(1))
    stop_arr = F.array(*[F.lit(s) for s in TX.STOPWORDS])
    n_stop = F.size(
        F.array_distinct(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    )
    numeric_ratio = (
        F.size(F.filter(toks, lambda x: x.rlike("^[0-9]+$"))).cast("double")
        / F.greatest(n, F.lit(1))
    )
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / F.greatest(
        n, F.lit(1)
    )
    return docs.filter(
        (n >= 50) & (n <= 100000) & (mean_len >= 3) & (mean_len <= 10)
        & (n_stop >= 2) & (numeric_ratio <= 0.2) & (distinct_ratio >= 0.3)
    )


def build_release(spark: SparkSession, sf_dir: str) -> CorpusReleaseResult:
    """Assemble the release plan; nothing runs until the caller's action."""
    from ntd_gtfs_to_socrata_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    # one counter per stage, in pipeline order (write_release relies on
    # it); unnamed Observations get a random UUID name, so repeated
    # builds in one session never collide
    obs = {k: Observation() for k in ("input", "ruled", "exact", "neardup", "decon")}

    staged = docs.observe(obs["input"], F.count(F.lit(1)).alias("n"))
    ruled = _keep_rules(staged).observe(obs["ruled"], F.count(F.lit(1)).alias("n"))

    # exact dedup keep-one: min doc_id per content digest (sha2 so the
    # shuffle carries 32 bytes, not documents — dedup_exact's scale note)
    canon = ruled.groupBy(F.sha2("text", 256).alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    # stage boundary: exact survivors feed the shingle index, the
    # keep-one anti-join AND the decontamination tagging — without a
    # materialization each branch re-runs rules+dedup (the SCALE.md
    # "subtree recompute" class). A lazy persist, not an eager
    # checkpoint: the lineage stays a SQL plan, so the stage observe
    # counters still fire in the write action.
    exact = stage_boundary(
        ruled.join(canon.select("doc_id"), "doc_id", "left_semi").observe(
            obs["exact"], F.count(F.lit(1)).alias("n")
        ),
        STAGE_SCOPES[0],
    )

    # near-dup keep-one over the survivors: df-capped shared-shingle pairs
    # (hashed keys, map-side i<j combos) -> jaccard >= t -> CC -> keep min.
    # The df cap drops boilerplate shingles' posting lists so per-key pair
    # fan-out is bounded; recall on genuinely similar pairs survives
    # because near-dups share many RARE shingles too.
    pairs = (
        common_counts(shingle_pairs(shingle_hashes(exact), _NEARDUP_DF_CAP))
        .filter(
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common"))
            >= _JACCARD_THRESHOLD
        )
        .select("doc_a", "doc_b")
    )
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    drop = (
        cc.groupBy("component_id")
        .agg(F.min("node").alias("keep"), F.collect_list("node").alias("members"))
        .select(F.explode("members").alias("doc_id"), "keep")
        .filter(F.col("doc_id") != F.col("keep"))
        .select("doc_id")
    )
    # second stage boundary: survivors feed eval-shingle extraction,
    # train-shingle extraction, and the release base (3 branches)
    neardup = stage_boundary(
        exact.join(drop, "doc_id", "left_anti").observe(
            obs["neardup"], F.count(F.lit(1)).alias("n")
        ),
        STAGE_SCOPES[1],
    )

    # decontamination: eval slice = md5 bucket >= 98 (tp_hash_split's
    # held-out convention); drop any train doc sharing a shingle with it
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
    )
    tagged = neardup.withColumn("is_eval", bucket >= 98)
    eval_shingles = (
        tagged.filter(F.col("is_eval"))
        .select(F.explode(TX.word_shingles(TX.tokens(F.col("text")))).alias("s"))
        .select(F.xxhash64("s").alias("shingle"))
        .distinct()
    )
    train_shingled = tagged.filter(~F.col("is_eval")).select(
        "doc_id", F.explode(TX.word_shingles(TX.tokens(F.col("text")))).alias("s")
    ).select("doc_id", F.xxhash64("s").alias("shingle"))
    contaminated = train_shingled.join(eval_shingles, "shingle", "left_semi").select(
        "doc_id"
    ).distinct()
    decon = (
        tagged.filter(~F.col("is_eval"))
        .join(contaminated, "doc_id", "left_anti")
        .drop("is_eval")
        .observe(obs["decon"], F.count(F.lit(1)).alias("n"))
    )

    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "validation").otherwise("test")
    )
    released = decon.withColumn("split", split)
    return CorpusReleaseResult(
        released=released, manifest={}, observations=obs, docs=docs
    )


def write_release(result: CorpusReleaseResult, out_dir: str) -> dict:
    """Write partitioned by split, then read every stage counter from its
    Observation (ONE job, no per-counter rescans) into the manifest, then
    release the stage-boundary caches (r6 ADVICE: no leaked persists).

    A release that keeps no document reads no counter but the near-dup
    stage's: every stage keeps a subset of the rules' survivors, and a
    survivor always survives dedup, so an empty near-dup stage means that
    every stage is empty. The ``input`` to ``exact`` counters then sit
    under a join that AQE pruned to an empty relation, which reports no
    metrics (``Observation.get`` fails), so that path alone counts the
    input documents with a job of its own."""
    obs = result.observations
    try:
        result.released.write.mode("overwrite").partitionBy("split").parquet(out_dir)
        if obs["neardup"].get["n"] == 0:
            manifest = dict.fromkeys(obs, 0)
            manifest["input"] = result.docs.count()
        else:
            manifest = {name: o.get["n"] for name, o in obs.items()}
    finally:
        result.close()
    manifest["released"] = manifest["decon"]
    result.manifest.update(manifest)
    return manifest

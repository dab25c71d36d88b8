"""Query registry — the driver-contract surface.

Every implemented operator from SURVEY.md §2 registers here as
``name -> (fn(spark, sf_dir) -> DataFrame, oracle_sql | None)``.
``__spark_entry__.py`` re-exports this registry as ``queries()`` /
``oracle_sql()``.

Conventions (driver compare is row-count + schema + order-insensitive
value hash):
- alias EVERY computed column identically in Spark code and oracle SQL;
- floating aggregates are ``round(x, 2)`` on both sides so partial-agg
  summation order (Spark shuffles vs DuckDB) cannot flip low-order bits;
- counts stay BIGINT on both sides;
- collected lists are sorted before join/aggregation (order-insensitive).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Where queries stage the inputs they synthesize (zip archives, drifted
# snapshots, partitioned copies): ``.synthetic_fixtures/`` at the root of
# the checkout this package lives in, so a copy of the repo stages into
# itself.
FIXTURE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".synthetic_fixtures",
)

REGISTRY: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
# Why each remaining rows-only entry cannot be value-hash-oracled (r12
# verdict item 3; audited + tested in tests/test_entry.py — every
# registered query must be in ORACLES, LOCAL_ORACLES, or carry a reason
# here). Promotion history: text_compression_ratio (r12),
# bpe_train_merges / bpe_train_merges_sampled / bpe_token_counts (r13)
# moved to LOCAL_ORACLES.
ROWS_ONLY_REASONS: dict[str, str] = {
    "sim_kmeans_train": "float centroid ARRAYs: cross-engine equality "
    "below round-6 is not guaranteed (avg accumulation order) and array "
    "cells defeat the comparator's sort; pinned by the NumPy-Lloyd "
    "allclose parity test instead",
    "sim_ivf_recall": "recall MONITOR: re-runs the ANN pipeline vs brute "
    "force — an oracle would be the pipeline comparing to itself; bounded "
    "by tolerance tests",
    "sim_ivfpq_recall": "recall monitor (same as sim_ivf_recall)",
    "sim_graph_search_recall": "recall monitor (same as sim_ivf_recall)",
    "a6_approx_percentiles": "sketch output (t-digest internals are "
    "engine-specific); tolerance-tested against the exact twin",
    "a6_freq_items": "sketch output (CMS-style); tolerance-tested",
    "a6_approx_distinct": "sketch output (HLL++); tolerance-tested",
    "a6_width_bucket_bins": "bin BOUNDARIES come from the "
    "approx_percentile sketch, so every downstream value is "
    "sketch-dependent; the exact twin a6_equidepth_bins is value-hashed",
    "s5_zip_member_extract": "reads members out of a STAGED zip archive "
    "(DuckDB has no zip reader); e2e round-trip tested; the tar sibling "
    "s5b_webdataset_tar_ingest is fully oracled",
    "s7_upsert_sink_protocol": "sink-protocol transcript (batched POST, "
    "utf-8 retry) — no SQL equivalent; writer tests pin the transcript",
    "s9_revision_protocol": "4-step revision protocol transcript "
    "(create/update/fallback/poisoned-apply matrix); e2e-tested",
    "s2_socrata_pushdown_scan": "asserts a PLAN property (predicate "
    "compiled to SoQL, no surviving Filter) plus datasource protocol, "
    "not a data transformation",
    "stream_dedupe_within_watermark": "watermark-stateful streaming; "
    "batch-parity and closed-form tests pin values",
    "stream_sessionize_stateful": "applyInPandasWithState session store; "
    "batch-parity tests pin values",
    "stream_psi_monitor": "stateful drift monitor over micro-batch "
    "arrival order; closed-form parity tests pin values",
    "stream_rate_sessionize": "unbounded rate source: row count depends "
    "on wall-clock drain, nondeterministic cardinality by design; "
    "kill-and-restart + parity tests pin semantics",
    "stream_rate_lsh_dedup": "unbounded rate source (same as "
    "stream_rate_sessionize)",
}
# Oracles that need a Python scalar registered in DuckDB (e.g. zlib_len
# for text_compression_ratio). The DRIVER's harness runs plain DuckDB, so
# these are NOT exported through __spark_entry__.oracle_sql() — the entry
# stays rows-only there. tools/check_oracle.py registers the UDFs (see
# duck_con) and checks these at FULL value-hash strength locally; if the
# driver harness ever grows duckdb.create_function support, moving a
# query here into ORACLES is a one-line change.
LOCAL_ORACLES: dict[str, str] = {}


def register(
    name: str,
    oracle: Optional[str] = None,
    local_oracle: Optional[str] = None,
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if local_oracle is not None:
            LOCAL_ORACLES[name] = local_oracle
        return fn

    return deco


def load_all_query_modules() -> None:
    """Import every module that registers queries (idempotent)."""
    from ntd_gtfs_to_socrata_spark.queries import (  # noqa: F401
        dedup_text,
        entity_res,
        graph_q,
        layout_q,
        multimodal_q,
        privacy_q,
        reference_ops,
        relational,
        release_q,
        retrieval_q,
        similarity_q,
        sources_sinks_q,
        stats_q,
        streaming_q,
        subqueries,
        time_windows,
        tokenizer_q,
        tpch_deep,
        training_prep,
    )

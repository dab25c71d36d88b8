"""Custom stateful streaming operators (SURVEY.md §2.7 extension surface).

The reference has no streaming state at all — its rerun-the-full-diff batch
(publish_to_catalog.py:261-288) is what these replace incrementally:

- ``dedupe_within_watermark``: stateful key dedupe whose state is evicted
  once the watermark passes — bounded memory on an unbounded stream (the
  scale-correct version of a global ``dropDuplicates``).
- ``running_user_totals``: an operator Spark's built-ins don't express —
  arbitrary per-key running state via ``applyInPandasWithState`` (Arrow
  batches in, explicit GroupState, update-mode emission per micro-batch).

Scale posture: state lives in the executor state store partitioned by the
group key, so both operators scale horizontally with key cardinality;
watermarks (resp. state timeouts) bound per-key state lifetime.
"""

from __future__ import annotations

# NOTE: Spark 4's successor API (``transformWithStateInPandas``) needs
# ``google.protobuf`` for its state-server protocol; without it the
# driver worker crashes on import, so ``applyInPandasWithState`` is the
# stateful surface here.

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def dedupe_within_watermark(
    events: DataFrame, keys: list[str], watermark: str = "1 hour"
) -> DataFrame:
    """First-wins key dedupe with watermark-bounded state: a key's
    state entry is dropped once the watermark passes its event time, so
    re-occurrences *after* that are treated as new — the streaming analog
    of the reference's per-run idempotency window."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum(value)) via applyInPandasWithState.

    Each micro-batch, every user's new rows arrive as Arrow-backed pandas
    frames; state carries the running pair forward; one updated row per
    user per batch is emitted (update mode). This is the template for any
    custom stateful operator the built-in aggregates can't express
    (decaying counters, per-key model state, sessionized enrichment).
    """
    import pandas as pd  # noqa: PLC0415

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming EWMA -------------------------------------------------------

# one live staging dir per session (the dedup_stream lifecycle discipline):
# a new run retires the previous run's staging; atexit removes the last one
_PREV_WORK: list[str] = []


def _retire_previous() -> None:
    while _PREV_WORK:
        shutil.rmtree(_PREV_WORK.pop(), ignore_errors=True)


atexit.register(_retire_previous)


def _trim_tail(tail: list, span: int) -> list:
    """Keep only the last ``span - 1`` values — the carry-over state for a
    bounded-window EWMA. span=1 carries NOTHING: a naive ``tail[-0:]``
    would return the whole list and grow state with history (advisor r8).

    NOT ``tail[len(tail) - (span - 1):]``: for len(tail) < span - 1 that
    start index goes negative and Python wraps it back from the end,
    silently DROPPING elements whenever (span-1)/2 < len(tail) < span-1
    (e.g. len 8, span 16 → tail[-7:] keeps 7 of 8). The negative-start
    form ``tail[-(span - 1):]`` clamps to the full list instead — caught
    by the bit-exact stream-vs-batch EWMA parity test."""
    return tail[-(span - 1) :] if span > 1 else []


def running_ewma(events: DataFrame, span: int = 16) -> DataFrame:
    """Per-user bounded-window EWMA as a CUSTOM STATEFUL streaming
    operator: state carries the last ``span - 1`` values per user across
    micro-batches; each arriving event emits its smoothed value
    immediately (one output row per input event, never re-emitted).

    Arithmetic is IDENTICAL to the batch ``tw_ewma_smoothed``
    (queries/time_windows.py): alpha = 1/2 so every weight 2^-k is a
    power of two (multiplication never rounds), the fold runs
    left-to-right over the ts-then-event_id-ordered window, and the
    normalizer 2 - 2^-(s-1) is exact — so given TIME-ORDERED per-key
    arrival the streaming output is BIT-EXACT equal to the batch window
    query, and this operator shares its DuckDB oracle at full value-hash
    strength (the r7 ``stream_incremental_lsh_dedup`` pattern: a
    streaming composition checked to the VALUE level).

    Caller contract: micro-batches must arrive in event-time order per
    key (the staged runner slices the corpus by ts quantiles); within a
    batch this function sorts each key's rows itself.

    Scale posture: state is O(span) doubles per key in the state store
    (partitioned by user_id — horizontal with key cardinality), NOT
    O(history); an unbounded-alpha EWMA would be inherently sequential,
    the bounded window is what makes per-event emission exact under
    batch boundaries at any cadence."""
    import pandas as pd  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    # 2^-k weight / normalizer tables, hoisted out of the per-key calls
    # (guide §4.5): every value is an exact power-of-two double, so table
    # lookup is bit-identical to recomputing the pow per event
    _pow2 = [2.0 ** -k for k in range(span)]
    _norm = [2.0 - 2.0 ** -(s - 1) for s in range(span + 1)]

    def update(key, pdfs, state: GroupState):
        tail: list[float] = list(state.get[0]) if state.exists else []
        # per-KEY python overhead dominates (guide §4.2) — single-chunk
        # fast path + numpy lexsort instead of a pandas concat + sort per
        # key per batch; the left-to-right fold order is unchanged, so
        # the stream/batch bit-exact parity holds
        chunks = list(pdfs)
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        eids = pdf["event_id"].to_numpy()
        order = np.lexsort((eids, pdf["ts"].to_numpy()))
        vals = pdf["value"].to_numpy()[order]
        out_eid = eids[order]
        out_ewma = np.empty(len(vals), dtype="float64")
        for i, v in enumerate(vals):
            tail.append(float(v))
            win = tail[-span:]
            s = len(win)
            acc = 0.0
            for j, x in enumerate(win):
                acc += x * _pow2[s - 1 - j]
            out_ewma[i] = acc / _norm[s]
        state.update((_trim_tail(tail, span),))
        yield pd.DataFrame(
            {"user_id": key[0], "event_id": out_eid, "ewma": out_ewma}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, event_id long, ewma double",
        stateStructType="tail array<double>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stage_time_sliced(
    spark: SparkSession, df: DataFrame, n_slices: int = 4
) -> str:
    """Stage ``df`` as ``n_slices`` parquet files cut at exact ts
    QUANTILES, written SEQUENTIALLY oldest-first so the file source's
    modification-time ordering replays them in event-time order — the
    arrival contract stateful order-dependent operators (``running_ewma``)
    need. Rows with equal ts always land in the same slice (quantile cuts
    compare ts only), so within-batch tie-breaking stays local.

    Returns the staging directory (readStream it with
    ``maxFilesPerTrigger=1``). Cost: one quantile probe (n_slices - 1
    control-plane scalars) + ONE pass over ``df`` (a single
    ``partitionBy(slice)`` write); pickup order is then pinned with
    explicit increasing mtimes rather than trusting write timing.

    The write hash-partitions on the slice id with ``n_slices`` target
    partitions — every slice's rows land WHOLLY in one task (hash
    partitioning is value-complete), so each ``slc=i`` dir still holds
    exactly ONE part file (the maxFilesPerTrigger=1 batch contract),
    but the slices write in PARALLEL instead of through the former
    ``coalesce(1)`` single-task serial write. ADVICE r13 suggested
    ``repartitionByRange`` so distinct slices never hash-collide into
    one task; measured in r14 and REJECTED: the range exchange needs a
    boundary-sampling pass — a guaranteed extra full computation of the
    staged frame per write (and an extra job) — while a collision only
    narrows write parallelism for that run (bounded, n_slices is 3-4),
    and the dual-tree interleaved A/B showed no win (sessionize ratio
    within the identical-code drift band). Within-file row order is
    immaterial: every stateful consumer sorts each key's rows by
    (ts, id) inside the batch (see ``running_ewma``), which is also why
    the quantile cut only has to keep equal-ts rows in one slice."""
    _retire_previous()
    work = tempfile.mkdtemp(prefix="stream_staging_")
    _PREV_WORK.append(work)
    qs = [i / n_slices for i in range(1, n_slices)]
    bounds = df.select(
        F.percentile(F.col("ts").cast("double"), F.array(*[F.lit(q) for q in qs])).alias("b")
    ).first()["b"]
    ts_d = F.col("ts").cast("double")
    slice_col = F.lit(n_slices - 1)
    for i in range(n_slices - 2, -1, -1):
        slice_col = F.when(ts_d <= F.lit(bounds[i]), F.lit(i)).otherwise(slice_col)
    tmp = os.path.join(work, "tmp")
    df.withColumn("slc", slice_col).repartition(n_slices, F.col("slc")).write.mode(
        "overwrite"
    ).partitionBy("slc").parquet(tmp)
    staging = os.path.join(work, "slices")
    os.makedirs(staging)
    base = os.path.getmtime(tmp)
    for i in range(n_slices):
        sub = os.path.join(tmp, f"slc={i}")
        if not os.path.isdir(sub):  # an empty slice writes no dir
            continue
        part = next(f for f in sorted(os.listdir(sub)) if f.startswith("part-"))
        dst = os.path.join(staging, f"slice_{i}.parquet")
        os.rename(os.path.join(sub, part), dst)
        # flatten (a slc=i subdir would be inferred as a partition column)
        # and pin pickup order: the file source replays by (mtime, path)
        os.utime(dst, times=(base + i, base + i))
    shutil.rmtree(tmp, ignore_errors=True)
    return staging


def sessionize_with_timeout(events: DataFrame, gap_sec: int = 1800) -> DataFrame:
    """Custom stateful SESSIONIZER with EVENT-TIME TIMEOUTS: per-user
    open-session state (start, last, count) extends while events arrive
    within ``gap_sec``; a session EMITS when (a) a later event opens the
    next session, or (b) the event-time watermark passes last + gap —
    ``GroupStateTimeout.EventTimeTimeout`` + ``setTimeoutTimestamp``, the
    one arbitrary-state facility ``session_window()`` cannot replace
    (custom gap predicates, per-session enrichment, side outputs).

    Caller contract: ``events.withWatermark("ts", ...)`` already applied,
    and micro-batches time-ordered per key (``stage_time_sliced``).

    Emission is APPEND-mode (each closed session exactly once) and the
    closed-session tuples equal the batch lag-gap sessionizer's rows for
    every session the final watermark has passed (pinned in
    tests/test_streaming.py). State is 3 longs per OPEN session per user,
    evicted on close — bounded by active users, not history."""
    import pandas as pd  # noqa: PLC0415

    def _emit(user, st, last, n):
        return {
            "user_id": user,
            "session_start_epoch": st,
            "n_events": n,
            "duration_sec": last - st,
        }

    import numpy as np  # noqa: PLC0415

    def update(key, pdfs, state: GroupState):
        user = key[0]
        if state.hasTimedOut:
            st, last, n = state.get
            state.remove()
            yield pd.DataFrame([_emit(user, st, last, n)])
            return
        # per-KEY python overhead is the dominant cost of this operator
        # (guide §4.2: thousands of keys × a pandas concat + sort +
        # DataFrame build per key per batch) — keep the per-call work on
        # numpy arrays and yield NOTHING when no session closed, instead
        # of constructing an empty DataFrame per key
        chunks = list(pdfs)
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        ts_all = pdf["ts"].to_numpy().astype("int64") // 1_000_000_000
        order = np.lexsort((pdf["event_id"].to_numpy(), ts_all))
        tsecs = ts_all[order].tolist()
        st, last, n = state.get if state.exists else (None, None, 0)
        closed = []
        for tsec in tsecs:
            if st is None:
                st, last, n = tsec, tsec, 1
            elif tsec - last > gap_sec:
                closed.append(_emit(user, st, last, n))
                st, last, n = tsec, tsec, 1
            else:
                last, n = tsec, n + 1
        state.update((st, last, n))
        # fire when the watermark passes the gap after the last event;
        # Spark requires the timeout to sit beyond the current watermark
        # (a session already expired fires on the NEXT batch)
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max((last + gap_sec) * 1000, wm_ms + 1))
        if closed:
            yield pd.DataFrame(closed)

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, session_start_epoch long, n_events long, "
            "duration_sec long"
        ),
        stateStructType="st long, last long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )

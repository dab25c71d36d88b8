"""Streaming-surface queries (SURVEY.md §2.7): genuine Structured Streaming
runs (readStream → stateful op → memory sink, AvailableNow trigger) exposed
through the batch query contract. Rows-only checks — streaming state
(watermark eviction, per-key GroupState) is not SQL-expressible, and the
batch-parity property is pinned separately in tests/test_streaming.py.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ntd_gtfs_to_socrata_spark.io import load_table
from ntd_gtfs_to_socrata_spark.operators.stagecache import checkpoint
from ntd_gtfs_to_socrata_spark.queries import register
from ntd_gtfs_to_socrata_spark.streaming import event_windows as EW
from ntd_gtfs_to_socrata_spark.streaming import joins as SJ
from ntd_gtfs_to_socrata_spark.streaming import stateful as ST


def _run_to_table(df: DataFrame, prefix: str, mode: str) -> str:
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    EW.run_available_now_to_memory(df, name, output_mode=mode)
    return name


@register("stream_dedupe_within_watermark")  # rows-only: stateful streaming
def stream_dedupe_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark over the events stream: first-wins per
    (user_id, event_type) while the key's state is inside the watermark.
    Returns one row per surviving event."""
    stream = EW.read_events_stream(spark, sf_dir)
    name = _run_to_table(
        ST.dedupe_within_watermark(stream, ["user_id", "event_type"]), "sdwm", "append"
    )
    return spark.table(name).select("user_id", "event_type", "event_id")


USER_TOTALS_ORACLE = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
         AS total_value
FROM events GROUP BY user_id
"""


@register("stream_stateful_user_totals", USER_TOTALS_ORACLE)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: per-user running (count, sum) state;
    final state per user returned
    (``streaming/stateful.py::running_user_totals``,
    applyInPandasWithState).

    PROMOTED from rows-only to full value-hash (r12 verdict item 3):
    the streamed values are pre-quantized to integer-valued cent doubles
    (floor(v*100+0.5)), so the processor's running float accumulation is
    EXACT (integers <= 2^53 add associatively in IEEE double) and the
    final state per user equals the batch count/sum bit-for-bit — the
    same strength as stream_ewma's power-of-two-exact parity."""
    from ntd_gtfs_to_socrata_spark.streaming.stateful import running_user_totals

    stream = EW.read_events_stream(spark, sf_dir).withColumn(
        "value", F.floor(F.col("value") * 100 + 0.5).cast("double")
    )
    name = _run_to_table(running_user_totals(stream), "srut", "update")
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
    )


STREAM_STATIC_ORACLE = """
SELECT e.event_id, e.user_id, t.lifetime_value
FROM events e
JOIN (SELECT user_id,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
               / 100.0 AS lifetime_value
      FROM events GROUP BY user_id) t
  ON e.user_id = t.user_id
WHERE e.event_type = 'purchase'
"""


@register("stream_static_enrich", STREAM_STATIC_ORACLE)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment, the third streaming join shape next to
    stream-stream (above) and stateful (stateful.py): the purchase stream
    joined to a STATIC broadcast dimension (per-user lifetime value,
    computed once from the batch snapshot). Stream-static inner joins are
    stateless — each micro-batch probes the broadcast table and emits
    immediately, no watermark or join state — which is why this is the
    recommended shape for slowly-changing dims at 100 TB/day stream
    volume: dim refresh is a foreachBatch re-broadcast, never a shuffle
    of the stream. Emits exactly the batch join rows, so it is fully
    value-hash checked against the SQL oracle."""
    dim = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            # exact money sum (r9 sf1-gate hardening): e2-quantized BIGINT
            (
                F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
                .cast("double")
                / 100.0
            ).alias("lifetime_value")
        )
    )
    stream = EW.read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    enriched = stream.join(F.broadcast(dim), "user_id").select(
        "event_id", "user_id", "lifetime_value"
    )
    name = _run_to_table(enriched, "sse", "append")
    return spark.table(name)


INTERVAL_JOIN_ORACLE = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       p.user_id AS user_id,
       date_diff('second', c.ts, p.ts) AS delay_sec
FROM events c JOIN events p ON c.user_id = p.user_id
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
  AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
"""


@register("ss_interval_join_batch", INTERVAL_JOIN_ORACLE)
def ss_interval_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the click→purchase attribution interval join
    (streaming/joins.py): one shuffle on user_id, the time-range predicate
    evaluated inside the join."""
    ev = load_table(spark, sf_dir, "events")
    return SJ.click_purchase_interval_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )


@register("stream_interval_join", INTERVAL_JOIN_ORACLE)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME join run as a genuine stream-stream join (readStream both
    sides, watermarks bounding join state, AvailableNow trigger, memory
    sink). Inner stream-stream joins emit exactly the batch matches, so
    this one is fully value-hash checked against the SQL oracle — the
    strongest correctness statement the streaming surface gets."""
    clicks = EW.read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    ).withWatermark("ts", "1 hour")
    purchases = EW.read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).withWatermark("ts", "1 hour")
    joined = SJ.click_purchase_interval_join(clicks, purchases)
    name = _run_to_table(joined, "ssij", "append")
    return spark.table(name)


# ---------------------------------------------------------------------------
# Streaming session windows, watermark semantics value-hash checked
# ---------------------------------------------------------------------------

STREAM_SESSION_ORACLE = """
WITH gaps AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL '5 minutes'
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
islands AS (
  SELECT user_id, ts, event_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM gaps
),
sessions AS (
  SELECT user_id,
         CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
         CAST(floor(epoch(max(ts))) AS BIGINT) AS session_last,
         count(*) AS n_events
  FROM islands
  GROUP BY user_id, session_no
),
wm AS (
  SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 3600 AS watermark FROM events
)
-- append-mode emission rule: a session is final (and emitted) once the
-- terminal watermark passes its end + gap; later sessions stay in state
SELECT s.user_id, s.session_start, s.session_last, s.n_events
FROM sessions s CROSS JOIN wm
WHERE s.session_last + 300 <= wm.watermark
"""


@register("stream_session_windows", STREAM_SESSION_ORACLE)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sessionization under a 1-hour watermark, value-hash
    checked INCLUDING the eviction rule: the oracle replays the
    gaps-and-islands sessions AND the append-mode emission predicate
    (session_last + gap ≤ terminal watermark), so what's checked is not
    just the happy-path session algebra but which sessions a bounded-state
    stream is allowed to finalize — the part that actually distinguishes
    streaming from batch. (The batch twin ``tw_session_windows`` checks
    the unfiltered session set.)

    Scale posture: session-window state is partitioned by user_id in the
    state store; the watermark bounds per-key state lifetime, so an
    unbounded stream holds only open sessions."""
    stream = EW.read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(
            F.unix_timestamp(F.min("ts")).alias("session_start"),
            F.unix_timestamp(F.max("ts")).alias("session_last"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_last", "n_events")
    )
    name = _run_to_table(agg, "ssw", "append")
    return spark.table(name)


STREAM_TUMBLING_ORACLE = """
WITH agg AS (
  SELECT CAST(floor(epoch(time_bucket(INTERVAL '10 minutes', ts))) AS BIGINT)
           AS window_start,
         event_type,
         count(*) AS n,
         CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
         / 100.0 AS sum_value
  FROM events
  GROUP BY window_start, event_type
),
wm AS (
  SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 3600 AS watermark FROM events
)
-- append-mode emission: a window finalizes once the terminal watermark
-- passes its END (start + 600s)
SELECT a.window_start, a.event_type, a.n, a.sum_value
FROM agg a CROSS JOIN wm
WHERE a.window_start + 600 <= wm.watermark
"""


@register("stream_tumbling_counts", STREAM_TUMBLING_ORACLE)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING tumbling windows under a 1-hour watermark — like
    ``stream_session_windows``, the oracle replays the aggregation AND
    the append-mode finalization rule (window_end ≤ terminal watermark),
    so the value-hash certifies exactly which windows a bounded-state
    stream emits. Batch twin: ``tw_tumbling_counts`` (unfiltered)."""
    stream = EW.read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).cast("double") / 100.0).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    name = _run_to_table(agg, "stc", "append")
    return spark.table(name)


STREAM_SLIDING_ORACLE = """
WITH assigned AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) AS s, value FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes' AS s, value
  FROM events
),
agg AS (
  SELECT CAST(floor(epoch(s)) AS BIGINT) AS window_start,
         count(*) AS n,
         CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
         / 100.0 AS sum_value
  FROM assigned GROUP BY window_start
),
wm AS (
  SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 3600 AS watermark FROM events
)
SELECT a.window_start, a.n, a.sum_value
FROM agg a CROSS JOIN wm
WHERE a.window_start + 600 <= wm.watermark
"""


@register("stream_sliding_counts", STREAM_SLIDING_ORACLE)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sliding windows (10 min / 5 min slide) under a 1-hour
    watermark — completes the eviction-checked trio with
    ``stream_tumbling_counts`` and ``stream_session_windows``: the oracle
    replays the 2-way window expansion AND the append-mode finalization
    rule (window_end ≤ terminal watermark)."""
    stream = EW.read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).cast("double") / 100.0).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "n",
            "sum_value",
        )
    )
    name = _run_to_table(agg, "ssc", "append")
    return spark.table(name)


def _lsh_pipeline_oracle() -> str:
    from ntd_gtfs_to_socrata_spark.queries.dedup_text import LSH_PIPELINE_ORACLE

    return LSH_PIPELINE_ORACLE


@register("stream_incremental_lsh_dedup", _lsh_pipeline_oracle())
def stream_incremental_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental MinHash-LSH dedup
    (streaming/dedup_stream.py): the corpus arrives as 3 micro-batches;
    each foreachBatch dedups the batch against the accumulated band/
    shingle state (epoch-partitioned idempotent parquet, COMPACTED into
    bucketed band-hash/doc_id tables every 2 epochs so state reads stay
    bounded and the candidate join never shuffles the state side), and
    the post-drain CC + keep-one verdict equals the batch
    ``dedup_lsh_pipeline`` EXACTLY — so this entry shares that query's
    DuckDB value-hash oracle: a streaming composition checked to the
    value level, not rows-only. Equality argument: the union over batches
    of (batch-internal ∪ batch×history) band collisions is the full band
    collision set; Jaccard verification is per-pair; CC and min-id
    keep-one are batch-order-independent — the verdict is provably
    batch-COUNT-independent too, so the harness runs the fewest batches
    that still cover every state path: 3 epochs = pre-compaction state
    (epoch 0 tail), one fold-on-write compaction (epoch 1), and a
    snapshot+tail read (epoch 2). The 4-batch/2-compaction cadence stays
    exercised by tests/test_streaming.py's compaction + exchange-free
    suite (r9 verdict task 6: the per-batch fixed overhead — not the
    data term — dominated the suite's most expensive query)."""
    from ntd_gtfs_to_socrata_spark.streaming.dedup_stream import (
        incremental_lsh_dedup,
    )

    return incremental_lsh_dedup(spark, sf_dir, n_batches=3)


def _ewma_oracle() -> str:
    from ntd_gtfs_to_socrata_spark.queries.time_windows import EWMA_ORACLE

    return EWMA_ORACLE


@register("stream_ewma", _ewma_oracle())
def stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING per-user EWMA via a custom stateful operator
    (``streaming/stateful.py::running_ewma``): purchases arrive as 3
    time-quantile micro-batches (``stage_time_sliced`` writes them
    oldest-first so the file source replays event-time order); each
    user's last span-1 values ride the state store across batches and
    every event emits its smoothed value exactly once. 3 epochs is the
    fewest covering every state path — create (epoch 0), carry-and-
    update across a batch boundary (epoch 1), and a SECOND carry so a
    tail written by an updated state is itself re-read (epoch 2) —
    the same fewest-batches argument as stream_incremental_lsh_dedup
    (r9 verdict task 6); the per-batch fixed cost (state commit +
    micro-batch planning, ~1.6 s/epoch measured) dominates this
    query, so epochs beyond coverage are pure overhead.

    Shares the batch ``tw_ewma_smoothed`` oracle at FULL value-hash
    strength — and because the alpha=1/2 arithmetic is order-fixed and
    power-of-two exact on both paths, the parity is BIT-exact, not
    rounded (pinned in tests/test_streaming.py): the strongest
    determinism statement on the streaming surface."""
    from ntd_gtfs_to_socrata_spark.streaming import stateful as STF

    purchases = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    staging = STF.stage_time_sliced(spark, purchases, n_slices=3)
    stream = (
        spark.readStream.schema(purchases.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
    )
    name = _run_to_table(STF.running_ewma(stream), "sewma", "update")
    return spark.table(name)


@register("stream_sessionize_stateful")  # rows-only: watermark-gated emission
def stream_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sessionization as a CUSTOM STATEFUL operator with
    EVENT-TIME TIMEOUTS (``streaming/stateful.py::sessionize_with_timeout``):
    per-user open-session state closes either when a later event opens the
    next session or when the watermark passes last_event + gap — the
    ``applyInPandasWithState`` facility ``session_window()`` cannot
    express (custom gap logic, exact-once append emission per session).
    Events arrive as 3 time-quantile micro-batches — the fewest epochs
    covering every state path: open (epoch 0), extend-or-close across a
    batch boundary (epoch 1), and a timeout FIRING batch after the
    watermark has passed a session's gap (epoch 2; timeouts fire on the
    batch AFTER the watermark moves, so eviction needs a successor
    epoch) — per-epoch fixed cost dominates, the same rationale as
    stream_incremental_lsh_dedup's harness. Every emitted row
    equals the batch ``sessionize_lag_gap`` session with the same key
    (subset parity pinned in tests/test_streaming.py — the unemitted
    remainder is exactly the sessions still inside the final watermark)."""
    from ntd_gtfs_to_socrata_spark.streaming import stateful as STF

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    staging = STF.stage_time_sliced(spark, ev, n_slices=3)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
        .withWatermark("ts", "1 hour")
    )
    name = _run_to_table(
        STF.sessionize_with_timeout(stream, gap_sec=1800), "sswt", "append"
    )
    return spark.table(name)


@register("stream_psi_monitor")  # rows-only: per-epoch streaming DQ emission
def stream_psi_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING drift gate: the corpus arrives as up-to-4 doc_id
    micro-batches (deterministic pmod staging; hash assignment may fold
    two buckets into one file, which is immaterial — each epoch scores
    independently); each ``foreachBatch`` bins the BATCH's
    document-length histogram and emits its Laplace-smoothed PSI against
    the static BASELINE histogram (the promoted release's profile, a
    10-bin broadcast constant) — the per-ingest-batch version of
    [[dq_psi_drift]]'s snapshot gate: a batch whose PSI spikes is
    quarantined before it lands. Emits one (epoch, n_rows, psi_micro)
    row per micro-batch; all-deterministic (fixed staging, integer
    histograms, one quantized PSI expression per epoch), pinned against
    a per-slice Python replay in tests/test_streaming.py.

    Scale posture: per batch, ONE map-side-combinable 10-bin histogram —
    the monitor costs a count(*) regardless of batch size; the baseline
    is a 10-row broadcast frame joined in-plan. The WHOLE fold — bins →
    Laplace smoothing → Σ(pa−pb)·ln(pa/pb) → micro-unit quantization —
    is one Column expression over the sorted 10-element bin array, so
    the foreachBatch body contains NO collect(): each epoch's single
    (epoch, n_rows, psi_micro) row is appended straight to an
    epoch-keyed parquet sink table (r8 verdict task 3). State-free
    (each epoch scores independently), so nothing accretes."""
    from ntd_gtfs_to_socrata_spark.queries.relational import _PSI_BINS, _PSI_W

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    bin_col = F.least(
        F.floor(F.col("n_chars") / _PSI_W).cast("long"), F.lit(_PSI_BINS - 1)
    )
    # the promoted release's profile: a 10-row constant frame (all bins
    # present, zero-filled) — broadcast-joined into every micro-batch plan
    all_bins = spark.range(_PSI_BINS).select(F.col("id").alias("bin"))
    baseline = (
        all_bins.join(
            docs.select(bin_col.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("base_n")),
            "bin",
            "left",
        )
        .select("bin", F.coalesce("base_n", F.lit(0)).alias("base_n"))
        .transform(checkpoint)
    )

    import os
    import tempfile
    import uuid

    from ntd_gtfs_to_socrata_spark.streaming import stateful as STF

    STF._retire_previous()
    work = tempfile.mkdtemp(prefix="stream_psi_")
    STF._PREV_WORK.append(work)
    staging = os.path.join(work, "staging")
    docs.repartition(4, F.pmod(F.col("doc_id"), 4)).write.parquet(staging)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
    )
    sink = os.path.join(work, "psi_out")

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # pure-plan PSI: 10-bin histogram -> zero-filled bin frame joined
        # to the broadcast baseline -> ONE row whose psi column is a
        # higher-order fold over the bin-sorted array (deterministic
        # summation order = ascending bin, matching the replay test)
        hist = (
            batch_df.select(bin_col.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("h"))
        )
        bins = (
            baseline.join(F.broadcast(hist), "bin", "left")
            .select("bin", "base_n", F.coalesce("h", F.lit(0)).alias("h"))
            .agg(
                F.sum("h").alias("n"),
                F.sum("base_n").alias("base_tot"),
                F.array_sort(
                    F.collect_list(F.struct("bin", "h", "base_n"))
                ).alias("bins"),
            )
        )
        nB = F.lit(float(_PSI_BINS))
        pa = lambda x: (x["h"] + 1) / (F.col("n") + nB)  # noqa: E731
        pb = lambda x: (x["base_n"] + 1) / (F.col("base_tot") + nB)  # noqa: E731
        row = bins.select(
            F.lit(int(epoch_id)).alias("epoch"),
            F.col("n").cast("long").alias("n_rows"),
            F.floor(
                F.aggregate(
                    "bins",
                    F.lit(0.0),
                    lambda acc, x: acc
                    + (pa(x) - pb(x)) * F.log(pa(x) / pb(x)),
                )
                * 1e6
                + F.lit(0.5)
            )
            .cast("long")
            .alias("psi_micro"),
        )
        row.write.mode("append").parquet(sink)

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .queryName(f"psi_monitor_{uuid.uuid4().hex[:8]}")
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(sink)
        .filter(F.col("n_rows") > 0)
        .orderBy("epoch")
    )


@register("stream_rate_sessionize")  # rows-only: UNBOUNDED source, stop-point-dependent count
def stream_rate_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNBOUNDED streaming tier (r11): a genuine ``rate`` source driven
    by a real processing-time trigger — not a file-staged AvailableNow
    run — through the custom stateful sessionizer
    (``applyInPandasWithState`` + event-time timeouts) and drained by a
    row-count check before ``stop()``. The event mapping derives
    entirely from the rate source's gapless ``value`` counter
    (streaming/rate_source.py), so although the STOP POINT — and with it
    the row count — varies run to run (hence rows-only), every emitted
    session must equal the closed-form lag-gap session for its key:
    start = BASE + 3s*600 + s*3600, n_events = 3, duration = 1200. That
    per-row invariant is pinned for every emitted row in
    tests/test_streaming.py (stream ≡ batch at any stop point).

    Scale posture: the production Kafka shape — swap ``format("rate")``
    for ``format("kafka")`` and a parse select; state is 3 longs per
    OPEN session (bounded by active users, evicted on close), the
    watermark bounds event-time state, and emission is exactly-once
    append per closed session. ``sf_dir`` is unused: the source is the
    generator itself."""
    from ntd_gtfs_to_socrata_spark.streaming import rate_source as RS
    from ntd_gtfs_to_socrata_spark.streaming import stateful as STF

    ev = RS.rate_events(spark, rows_per_second=500).withWatermark(
        "ts", "30 minutes"
    )
    sessions = STF.sessionize_with_timeout(ev, gap_sec=1800)
    name = RS.run_rate_to_memory(sessions, "ratesess", min_rows=20)
    return spark.table(name)


@register("stream_rate_lsh_dedup")  # rows-only: UNBOUNDED source, stop-point-dependent count
def stream_rate_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental MinHash-LSH dedup against an UNBOUNDED rate
    source (r11 — the second unbounded-tier query): same per-micro-batch
    body and post-drain reconciliation as the file-staged
    ``stream_incremental_lsh_dedup`` (shared ``_make_apply_batch`` /
    ``_final_verdict``), driven by a real processing-time trigger and a
    drain-then-stop policy. Documents derive deterministically from the
    rate counter with EXACT duplicates planted every 5th doc, so the
    verdict over the consumed prefix is closed-form at ANY stop point:
    doc v ≡ 4 (mod 5) is kept=False in component v−4; everything else
    is a kept singleton — pinned per row in tests/test_streaming.py.
    Row count varies with the stop point (hence rows-only).

    Scale posture: identical to the file harness (bucketed compacting
    state, capped buckets, epoch-idempotent writes); the source swap is
    the Kafka shape — format("kafka") + a parse select and nothing
    downstream changes. ``sf_dir`` is unused: the generator is the
    source."""
    from ntd_gtfs_to_socrata_spark.streaming.dedup_stream import (
        rate_incremental_lsh_dedup,
    )

    return rate_incremental_lsh_dedup(spark)

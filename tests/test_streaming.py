"""Structured Streaming parity: streaming window results must equal the
batch formulation on the same (static) input — the property that lets the
DuckDB oracle stand in for the streaming surface."""

from __future__ import annotations

import uuid

from ntd_gtfs_to_socrata_spark.queries.time_windows import tw_session, tw_tumbling
from ntd_gtfs_to_socrata_spark.streaming import event_windows as EW


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    stream = EW.read_events_stream(spark, sf_dir)
    agg = EW.tumbling_counts(stream)
    name = f"tumb_{uuid.uuid4().hex[:8]}"
    EW.run_available_now_to_memory(agg, name, output_mode="complete")
    got = spark.sql(f"SELECT * FROM {name}")
    want = tw_tumbling(spark, sf_dir)
    cols = ["window_start", "event_type", "n", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_streaming_session_equals_batch(spark, sf_dir):
    stream = EW.read_events_stream(spark, sf_dir)
    agg = EW.session_counts(stream)
    name = f"sess_{uuid.uuid4().hex[:8]}"
    EW.run_available_now_to_memory(agg, name, output_mode="complete")
    got = spark.sql(f"SELECT user_id, session_start, n_events FROM {name}")
    want = tw_session(spark, sf_dir).selectExpr(
        "user_id", "session_start", "n_events"
    )
    cols = ["user_id", "session_start", "n_events"]
    assert _rows(got, cols) == _rows(want, cols)


def test_foreach_batch_upsert_idempotent(spark, sf_dir, tmp_path):
    target = str(tmp_path / f"t_{uuid.uuid4().hex[:6]}")
    stream = EW.read_events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type"
    )
    q = EW.foreach_batch_upsert(stream, target, key="event_id")
    q.awaitTermination()
    first = spark.read.parquet(target)
    n_events = first.count()
    assert n_events > 0
    # second run over the same source converges to the same state
    q2 = EW.foreach_batch_upsert(
        EW.read_events_stream(spark, sf_dir).select("event_id", "user_id", "event_type"),
        target,
        key="event_id",
    )
    q2.awaitTermination()
    assert spark.read.parquet(target).count() == n_events


def test_dedupe_within_watermark_key_coverage(spark, sf_dir):
    from ntd_gtfs_to_socrata_spark.streaming import stateful as ST

    stream = EW.read_events_stream(spark, sf_dir)
    deduped = ST.dedupe_within_watermark(stream, ["user_id", "event_type"])
    name = f"dwm_{uuid.uuid4().hex[:8]}"
    EW.run_available_now_to_memory(deduped, name, output_mode="append")
    got = spark.sql(f"SELECT DISTINCT user_id, event_type FROM {name}")
    # batch truth: one surviving row per distinct key
    from ntd_gtfs_to_socrata_spark.io import load_table

    batch_keys = load_table(spark, sf_dir, "events").select("user_id", "event_type").distinct()
    assert got.count() == batch_keys.count()
    n_dedup = spark.sql(f"SELECT count(*) FROM {name}").first()[0]
    assert n_dedup >= batch_keys.count()


def test_apply_in_pandas_with_state_totals_equal_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from ntd_gtfs_to_socrata_spark.io import load_table
    from ntd_gtfs_to_socrata_spark.streaming import stateful as ST

    stream = EW.read_events_stream(spark, sf_dir)
    totals = ST.running_user_totals(stream)
    name = f"rut_{uuid.uuid4().hex[:8]}"
    EW.run_available_now_to_memory(totals, name, output_mode="update")
    # final state per user = row with max running count (update mode may
    # emit one row per user per micro-batch)
    got = spark.sql(
        f"""SELECT user_id, max_by(n_events, n_events) AS n,
                   round(max_by(total_value, n_events), 2) AS total
            FROM {name} GROUP BY user_id"""
    )
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )
    assert _rows(got, ["user_id", "n", "total"]) == _rows(want, ["user_id", "n", "total"])


def test_watermark_drops_late_data_across_restarts(spark, tmp_path):
    """Genuine late-data discard: run 1 advances the watermark past a
    window's end (closing it); run 2 — same checkpoint — delivers an event
    that falls inside the closed window but behind the persisted watermark.
    Append-mode output must contain the window exactly once, WITHOUT the
    late event."""
    import pandas as pd
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def write_batch(name, rows):
        pdf = pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": pd.Series([pd.Timestamp(r[1]) for r in rows]).astype("datetime64[us]"),
                "event_type": ["click"] * len(rows),
            }
        )
        pdf.to_parquet(src / name)

    def run_once():
        stream = (
            spark.readStream.schema("event_id long, ts timestamp, event_type string")
            .format("parquet")
            .load(str(src))
        )
        agg = (
            stream.withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("window_start"), "event_type", "n")
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: two events in [10:00, 10:10) + one at 11:00 that pushes the
    # watermark past the window end, closing it
    write_batch("b1.parquet", [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:09:00"), (3, "2024-01-01 11:00:00")])
    run_once()
    # run 2: event 4 is LATE (10:05 < persisted watermark 11:00) -> dropped;
    # event 5 keeps the 11:00 window open (never emitted)
    write_batch("b2.parquet", [(4, "2024-01-01 10:05:00"), (5, "2024-01-01 11:05:00")])
    run_once()

    result = spark.read.parquet(str(out)).collect()
    closed = [r for r in result if r["window_start"].minute == 0 and r["window_start"].hour == 10]
    assert len(closed) == 1, f"closed window must emit exactly once: {result}"
    assert closed[0]["n"] == 2, f"late event leaked into closed window: {result}"


def test_stream_incremental_lsh_equals_batch_pipeline(spark, sf_dir):
    """The streaming incremental dedup's post-drain verdict must equal the
    batch dedup_lsh_pipeline row-for-row — the equality the shared DuckDB
    oracle rests on (union of per-batch band collisions = full collision
    set; CC/keep-one are order-independent)."""
    from ntd_gtfs_to_socrata_spark.queries.dedup_text import dedup_lsh_pipeline
    from ntd_gtfs_to_socrata_spark.streaming.dedup_stream import (
        incremental_lsh_dedup,
    )

    got = {
        (r["doc_id"], r["component_id"], r["kept"])
        for r in incremental_lsh_dedup(spark, sf_dir, n_batches=3).collect()
    }
    want = {
        (r["doc_id"], r["component_id"], r["kept"])
        for r in dedup_lsh_pipeline(spark, sf_dir).collect()
    }
    assert got == want


def test_stream_dedup_epoch_write_idempotent(spark, tmp_path):
    """Replaying an epoch (task retry / foreachBatch re-execution) must
    rewrite its own partition, not duplicate state rows — the
    effectively-once contract of the epoch-partitioned dynamic
    overwrite."""
    from pyspark.sql import functions as F

    from ntd_gtfs_to_socrata_spark.streaming.dedup_stream import _write_epoch

    path = str(tmp_path / "state")
    df = spark.range(5).select(F.col("id").alias("doc_id"))
    _write_epoch(df, path, 0)
    _write_epoch(df, path, 1)
    _write_epoch(df, path, 1)  # replay epoch 1
    out = spark.read.parquet(path)
    assert out.count() == 10
    assert out.groupBy("epoch").count().count() == 2
    # the dynamic-overwrite conf must not leak into the session
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        == "static"
    )


def test_stream_dedup_state_compaction(spark, sf_dir):
    """r7 verdict item 3: band/shingle state must compact into bucketed
    tables on the compact_every cadence, the folded epoch partitions must
    be GC'd after a later epoch commits, and the post-compaction verdict
    must still equal the batch pipeline."""
    import os

    from ntd_gtfs_to_socrata_spark.queries.dedup_text import dedup_lsh_pipeline
    from ntd_gtfs_to_socrata_spark.streaming import dedup_stream as DS

    got = {
        tuple(r)
        for r in DS.incremental_lsh_dedup(
            spark, sf_dir, n_batches=4, compact_every=2
        ).collect()
    }
    want = {tuple(r) for r in dedup_lsh_pipeline(spark, sf_dir).collect()}
    assert got == want

    bands = DS.LAST_RUN["bands_state"]
    shingles = DS.LAST_RUN["shingles_state"]
    # staging may fold pmod buckets into fewer files (hash assignment), so
    # derive the expected cadence from the epochs that actually ran
    n_epochs = bands.last_epoch + 1
    assert n_epochs >= 2
    want_compactions = n_epochs // 2
    want_upto = 2 * want_compactions - 1
    assert bands.n_compactions == want_compactions
    assert shingles.n_compactions == want_compactions
    assert bands.compacted_upto == want_upto
    # the snapshot holds everything up to the watermark; the tail is only
    # epochs after it
    assert bands.read_snapshot(spark).count() > 0
    tail_epochs = set(range(want_upto + 1, n_epochs))
    if not tail_epochs:
        assert bands.read_tail(spark).count() == 0
    # epochs folded by the FIRST compaction were GC'd at a later epoch's
    # start (the last compaction's folds may still be pending by design)
    if want_compactions >= 2:
        folded = [e for e in os.listdir(bands.base) if e.startswith("epoch=")]
        assert "epoch=0" not in folded and "epoch=1" not in folded


def test_stream_dedup_snapshot_join_exchange_free(spark, sf_dir):
    """The point of the bucketed compaction: a new batch's band join
    against the snapshot must NOT shuffle the state side — one Exchange
    (the small new side), bucketed scan on the snapshot."""
    import io as _io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from ntd_gtfs_to_socrata_spark.streaming import dedup_stream as DS

    DS.incremental_lsh_dedup(spark, sf_dir, n_batches=4, compact_every=2)
    snap = DS.LAST_RUN["bands_state"].read_snapshot(spark)
    new = spark.range(50).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("0_"), F.col("id")).alias("bucket")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = new.join(snap, "bucket")
        buf = _io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
            joined.explain()  # simple mode: Exchange args inline
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles == 1, f"state side must not shuffle:\n{plan}"


def test_stream_dedup_compaction_replay_idempotent(spark, tmp_path):
    """Replaying the epoch that compacted must leave identical state
    (same snapshot content, same watermark) — the crash-between-compact-
    and-checkpoint-commit case."""
    from pyspark.sql import functions as F

    from ntd_gtfs_to_socrata_spark.streaming.dedup_stream import _CompactedState

    st = _CompactedState(
        str(tmp_path / "state"),
        "doc_id long, bucket string, epoch int",
        ["bucket"],
        "test_compact_replay",
        compact_every=2,
    )
    try:
        df0 = spark.range(5).select(
            F.col("id").alias("doc_id"), F.lit("b0").alias("bucket")
        )
        df1 = spark.range(5, 9).select(
            F.col("id").alias("doc_id"), F.lit("b1").alias("bucket")
        )
        st.write_epoch(df0, 0)
        st.write_epoch(df1, 1)
        st.maybe_compact(spark, 1)
        before = {tuple(r) for r in st.read_all(spark).collect()}
        # replay epoch 1: rewrite + recompact
        st.write_epoch(df1, 1)
        st.maybe_compact(spark, 1)
        after = {tuple(r) for r in st.read_all(spark).collect()}
        assert before == after and len(after) == 9
        assert st.compacted_upto == 1
        st.gc()
        assert st.read_all(spark).count() == 9
    finally:
        spark.sql("DROP TABLE IF EXISTS test_compact_replay")


def test_read_state_reraises_on_corrupt_part_file(spark, tmp_path):
    """Advisor r7: only the no-part-files empty-epoch layout may fall back
    to empty state; an unreadable directory WITH part files must raise,
    never silently produce a wrong verdict."""
    import pytest as _pytest

    from ntd_gtfs_to_socrata_spark.streaming.dedup_stream import _read_state

    p = tmp_path / "state"
    p.mkdir()
    (p / "_SUCCESS").write_text("")
    # no part files -> tolerated empty state
    assert _read_state(spark, str(p), "doc_id long").count() == 0
    (p / "part-00000-corrupt.parquet").write_bytes(b"not parquet at all")
    with _pytest.raises(Exception):
        _read_state(spark, str(p), "doc_id long").collect()


def test_stream_ewma_bit_exact_equals_batch(spark, sf_dir):
    """The stateful streaming EWMA must equal the batch window query with
    EXACT float equality (no rounding): alpha=1/2 weights are powers of
    two and both paths fold the same ordered window left-to-right, so any
    difference is an arrival-order or state bug, never FP noise."""
    from ntd_gtfs_to_socrata_spark.queries.streaming_q import stream_ewma
    from ntd_gtfs_to_socrata_spark.queries.time_windows import tw_ewma_smoothed

    got = {
        (r["user_id"], r["event_id"]): r["ewma"]
        for r in stream_ewma(spark, sf_dir).collect()
    }
    want = {
        (r["user_id"], r["event_id"]): r["ewma"]
        for r in tw_ewma_smoothed(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    assert all(got[k] == want[k] for k in want)  # bit-exact, not isclose


def test_stream_ewma_state_spans_microbatches(spark, sf_dir):
    """At least one user's events must straddle a slice boundary (else the
    parity test wouldn't exercise cross-batch state), and slice files must
    carry strictly increasing modification times (the pickup-order
    contract stage_time_sliced promises)."""
    import os

    from pyspark.sql import functions as F

    from ntd_gtfs_to_socrata_spark.io import load_table
    from ntd_gtfs_to_socrata_spark.streaming import stateful as STF

    purchases = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    staging = STF.stage_time_sliced(spark, purchases, n_slices=4)
    files = sorted(os.listdir(staging))
    assert files == [f"slice_{i}.parquet" for i in range(4)]
    mtimes = [os.path.getmtime(os.path.join(staging, f)) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    per_slice = [
        {
            r["user_id"]
            for r in spark.read.parquet(os.path.join(staging, f))
            .select("user_id")
            .distinct()
            .collect()
        }
        for f in files
    ]
    assert any(per_slice[0] & s for s in per_slice[1:])


def test_stream_sessionize_subset_parity_with_batch(spark, sf_dir):
    """Every emitted session must EQUAL a batch lag-gap session
    (user, start, n, duration), and every batch session that the final
    watermark has safely passed must have been emitted — the unemitted
    remainder is exactly the tail still inside the watermark."""
    from pyspark.sql import functions as F

    from ntd_gtfs_to_socrata_spark.io import load_table
    from ntd_gtfs_to_socrata_spark.queries.streaming_q import (
        stream_sessionize_stateful,
    )
    from ntd_gtfs_to_socrata_spark.queries.time_windows import lag_gap_sessions

    got = {
        (r["user_id"], r["session_start_epoch"], r["n_events"], r["duration_sec"])
        for r in stream_sessionize_stateful(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    batch = {
        (
            r["user_id"],
            r["session_start_epoch"],
            r["n_events"],
            r["duration_sec"],
        )
        for r in lag_gap_sessions(ev, gap_sec=1800).collect()
    }
    assert got, "no sessions emitted"
    assert got <= batch, f"phantom sessions: {sorted(got - batch)[:3]}"
    # coverage: sessions ending well before the final watermark must emit.
    # final watermark = max ts - 1h; timeouts fire on the NEXT batch after
    # the watermark passes, so only require sessions that ended before the
    # watermark at the LAST-BUT-ONE batch (conservatively: max ts - 2h -
    # gap). Everything older MUST be out.
    max_ts = ev.agg(F.max(F.unix_timestamp("ts")).alias("m")).first()["m"]
    safe_end = max_ts - 2 * 3600 - 1800
    must_emit = {
        s for s in batch if s[1] + s[3] < safe_end - 1800
    }
    missing = must_emit - got
    assert not missing, f"unemitted old sessions: {sorted(missing)[:3]}"


def test_stream_psi_monitor_matches_per_slice_replay(spark, sf_dir):
    """Each emitted epoch PSI must equal a Python replay over that
    epoch's staged parquet file against the full-corpus baseline."""
    import math
    import os

    import pandas as pd

    from ntd_gtfs_to_socrata_spark.queries.relational import _PSI_BINS, _PSI_W
    from ntd_gtfs_to_socrata_spark.queries.streaming_q import stream_psi_monitor
    from ntd_gtfs_to_socrata_spark.streaming import stateful as STF

    got = sorted(
        (r["n_rows"], r["psi_micro"])
        for r in stream_psi_monitor(spark, sf_dir).collect()
    )
    staging = os.path.join(STF._PREV_WORK[-1], "staging")
    parts = sorted(
        f for f in os.listdir(staging) if f.startswith("part-") and f.endswith(".parquet")
    )
    full = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["n_chars"])

    def hist(df):
        bins = (df["n_chars"] // _PSI_W).clip(upper=_PSI_BINS - 1)
        return bins.value_counts().to_dict(), len(df)

    base, base_tot = hist(full)
    # epoch ids depend on the file source's pickup order (same-mtime
    # ties) — each epoch scores independently, so compare as multisets
    want = []
    for p in parts:
        df = pd.read_parquet(os.path.join(staging, p), columns=["n_chars"])
        if len(df) == 0:
            continue
        h, n = hist(df)
        psi = 0.0
        for b in range(_PSI_BINS):
            pa = (h.get(b, 0) + 1) / (n + _PSI_BINS)
            pb = (base.get(b, 0) + 1) / (base_tot + _PSI_BINS)
            psi += (pa - pb) * math.log(pa / pb)
        want.append((n, int(math.floor(psi * 1e6 + 0.5))))
    want = sorted(want)
    # PSI now folds in the JVM plan (r8 verdict task 3): JVM ln and C-libm
    # math.log may round an intermediate differently by one ulp, which can
    # flip the micro-unit floor at a .5 boundary — allow exactly that.
    assert [g[0] for g in got] == [w[0] for w in want]
    for (_, gp), (_, wp) in zip(got, want):
        assert abs(gp - wp) <= 1, (gp, wp)


def test_retire_previous_keeps_table_names_without_session(monkeypatch):
    """With no active session, _retire_previous must NOT forget bucketed
    state table names — popping without DROP leaks warehouse tables
    permanently (advisor r8). Work dirs are still removed (plain rmtree)."""
    import tempfile

    from pyspark.sql import SparkSession

    from ntd_gtfs_to_socrata_spark.streaming import dedup_stream as DS

    monkeypatch.setattr(SparkSession, "getActiveSession", staticmethod(lambda: None))
    d = tempfile.mkdtemp(prefix="retire_test_")
    monkeypatch.setattr(DS, "_PREV_TABLES", ["fake_state_tbl_a", "fake_state_tbl_b"])
    monkeypatch.setattr(DS, "_PREV_WORK", [d])
    DS._retire_previous()
    # names survive for the next session's cleanup; the dir is gone
    assert DS._PREV_TABLES == ["fake_state_tbl_a", "fake_state_tbl_b"]
    assert DS._PREV_WORK == []
    import os

    assert not os.path.exists(d)


def test_stream_rate_sessionize_unbounded_parity(spark):
    """The UNBOUNDED tier (genuine rate source + processing-time trigger,
    r11): every session emitted before the stop point must equal the
    closed-form lag-gap session for its key — start = BASE + s*5400,
    3 events, 1200 s duration — and no key may be emitted twice
    (append-mode exactly-once). The stop point varies run to run; the
    invariant holds at ANY stop point, which is what makes an unbounded
    run testable at all."""
    from ntd_gtfs_to_socrata_spark.queries.streaming_q import (
        stream_rate_sessionize,
    )
    from ntd_gtfs_to_socrata_spark.streaming.rate_source import (
        BASE_EPOCH,
        BLOCK,
        JUMP_SEC,
        N_USERS,
        STEP_SEC,
    )

    rows = stream_rate_sessionize(spark, "unused").collect()
    assert len(rows) >= 20
    period = BLOCK * STEP_SEC + JUMP_SEC  # 5400
    seen = set()
    for r in rows:
        assert 0 <= r["user_id"] < N_USERS
        s, rem = divmod(r["session_start_epoch"] - BASE_EPOCH, period)
        assert rem == 0, r
        assert r["n_events"] == BLOCK, r
        assert r["duration_sec"] == (BLOCK - 1) * STEP_SEC, r
        key = (r["user_id"], s)
        assert key not in seen, f"duplicate emission {key}"
        seen.add(key)


def test_rate_lsh_dedup_planted_duplicates(spark):
    """Unbounded-source incremental LSH dedup: at ANY stop point, the
    verdict over the consumed prefix equals the planted-duplicate
    formula — doc v = 4 (mod 5) is an exact copy of v-4 (the gapless
    rate prefix guarantees the original precedes the copy), everything
    else is a unique singleton."""
    from ntd_gtfs_to_socrata_spark.streaming.dedup_stream import (
        RATE_DUP_PERIOD,
        rate_incremental_lsh_dedup,
    )

    rows = rate_incremental_lsh_dedup(spark, min_docs=40).collect()
    assert len(rows) >= 40
    n_dups = 0
    for r in rows:
        if r["doc_id"] % RATE_DUP_PERIOD == RATE_DUP_PERIOD - 1:
            assert not r["kept"], r
            assert r["component_id"] == r["doc_id"] - (RATE_DUP_PERIOD - 1), r
            n_dups += 1
        else:
            assert r["kept"], r
            assert r["component_id"] == r["doc_id"], r
    assert n_dups > 0  # the duplicate path actually ran


def test_rate_lsh_dedup_survives_kill_and_restart(spark):
    """r11 verdict item 7: stop the unbounded query mid-drain, restart a
    new generation from the SAME checkpoint, and the any-stop-point
    verdict must still hold at the new stop point — the rate source
    resumes at committed offsets (gapless prefix), the half-applied
    epoch replays through the idempotent epoch writes, and the
    planted-duplicate formula survives the recovery."""
    from ntd_gtfs_to_socrata_spark.streaming.dedup_stream import (
        LAST_RUN,
        RATE_DUP_PERIOD,
        rate_incremental_lsh_dedup,
    )

    rows = rate_incremental_lsh_dedup(
        spark, min_docs=50, interrupt_after=20
    ).collect()
    assert LAST_RUN.get("restarts") == 1  # the kill/restart actually ran
    assert len(rows) >= 50
    n_dups = 0
    for r in rows:
        if r["doc_id"] % RATE_DUP_PERIOD == RATE_DUP_PERIOD - 1:
            assert not r["kept"], r
            assert r["component_id"] == r["doc_id"] - (RATE_DUP_PERIOD - 1), r
            n_dups += 1
        else:
            assert r["kept"], r
            assert r["component_id"] == r["doc_id"], r
    assert n_dups > 0


def test_rate_sessionize_survives_kill_and_restart(spark, tmp_path):
    """r11 verdict item 7, sessionizer leg: the unbounded rate stream
    through the custom stateful sessionizer with a DURABLE sink
    (parquet + checkpoint), killed abruptly mid-drain and restarted from
    the same checkpoint. Spark recovers the applyInPandasWithState state
    store and rate offsets; the file-sink commit log dedupes the
    replayed epoch — so after recovery every emitted session still
    matches the closed-form block formula and no key emits twice."""
    import time as _time

    from ntd_gtfs_to_socrata_spark.streaming import rate_source as RS
    from ntd_gtfs_to_socrata_spark.streaming import stateful as STF

    ev = RS.rate_events(spark, rows_per_second=500).withWatermark(
        "ts", "30 minutes"
    )
    sessions = STF.sessionize_with_timeout(ev, gap_sec=1800)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def start():
        return (
            sessions.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="500 milliseconds")
            .start()
        )

    def n_rows() -> int:
        try:
            return spark.read.parquet(sink).count()
        except Exception:  # noqa: BLE001 — sink dir not yet materialized
            return 0

    def drain(q, target: int, timeout_sec: int = 120) -> None:
        deadline = _time.time() + timeout_sec
        while n_rows() < target:
            if _time.time() > deadline:
                raise RuntimeError(f"< {target} sessions after {timeout_sec}s")
            if q.exception() is not None:
                raise q.exception()
            _time.sleep(0.25)

    q = start()
    try:
        drain(q, 8)
    finally:
        q.stop()
    q.awaitTermination()
    q = start()  # same checkpoint: state + offsets recover
    try:
        drain(q, 20)
    finally:
        q.stop()
    q.awaitTermination()

    period = RS.BLOCK * RS.STEP_SEC + RS.JUMP_SEC
    rows = spark.read.parquet(sink).collect()
    assert len(rows) >= 20
    seen = set()
    for r in rows:
        assert 0 <= r["user_id"] < RS.N_USERS
        s, rem = divmod(r["session_start_epoch"] - RS.BASE_EPOCH, period)
        assert rem == 0, r
        assert r["n_events"] == RS.BLOCK, r
        assert r["duration_sec"] == (RS.BLOCK - 1) * RS.STEP_SEC, r
        key = (r["user_id"], s)
        assert key not in seen, f"duplicate emission {key}"
        seen.add(key)

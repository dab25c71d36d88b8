"""Streaming incremental MinHash-LSH dedup: the production shape where a
corpus ARRIVES in batches and each batch dedups against everything seen so
far (the ▲ north-star composition the batch ``dedup_incremental_lsh`` query
models for exactly one new-batch step; here the whole corpus flows through
a genuine Structured Streaming query and the state accretes batch over
batch).

Per micro-batch (``foreachBatch``):

1. LSH band buckets + distinct-shingle hashes for the batch's docs
   (``operators/neardup.py``, the same steps ``dedup_lsh_pipeline`` runs);
2. candidate pairs = batch-internal band collisions (``bucket_pairs``:
   map-side i<j pairs from sorted bucket member lists, never a self-join)
   ∪ batch × HISTORICAL-INDEX band collisions (asymmetric join
   new-vs-index, the ``dedup_incremental_lsh`` posture);
3. exact-Jaccard verification on the candidates only, against the shingle
   state of exactly the docs named in a candidate pair;
4. verified edges + the batch's bands/shingles land in epoch-partitioned
   parquet state via DYNAMIC partition overwrite — a replayed epoch
   rewrites its own partition instead of duplicating rows, so the sink is
   effectively-once under task retry (the S7/S9 idempotency discipline).

After the AvailableNow drain, ``neardup.keep_one`` over the accumulated
edge set produces the SAME (doc_id, component_id, kept) frame as the
batch ``dedup_lsh_pipeline`` — provably: the union over
batches of (internal ∪ batch×history) band collisions IS the full band
collision set, Jaccard verification is per-pair, and CC/keep-one are
order-independent. The batch pipeline's PER-BUCKET CAP (LSH_BUCKET_CAP:
a bucket justifies pairs only while its final size stays within the
cap) is reconciled in two moves: per-epoch, any bucket whose
known-so-far size already exceeds the cap is excluded from generation
(final size only grows, so those pairs are excluded under the capped
semantics with certainty); post-drain, surviving edges are re-filtered
against the FINAL bucket census, which catches buckets that outgrew the
cap after generating a pair. The registry entry therefore shares the
batch pipeline's DuckDB value-hash oracle — a streaming composition
checked to the VALUE level, not just rows-only.

Scale posture: band/shingle state is epoch-partitioned parquet that a
COMPACTION pass periodically rewrites as a BUCKETED table (bands by the
band hash, shingles by doc_id) — readers scan one bucketed snapshot plus
a bounded epoch tail instead of an ever-growing partition list, and the
per-batch candidate join sort-merges against the bucketed snapshot with
NO exchange on the (corpus-sized) state side (asserted in
tests/test_streaming.py). Per-batch work is O(batch × collisions), never
corpus²; the final CC runs on the edge list (O(near-dup pairs) ≪ corpus;
the edge state stays epoch-partitioned — it is read exactly once, after
the drain, never joined per batch).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ntd_gtfs_to_socrata_spark.io import load_table
from ntd_gtfs_to_socrata_spark.operators import textops as TX
from ntd_gtfs_to_socrata_spark.operators.neardup import (
    LSH_BUCKET_CAP,
    bucket_pairs,
    keep_one,
    lsh_buckets,
    minhash_signatures,
    shingle_hashes,
)
from ntd_gtfs_to_socrata_spark.operators.stagecache import checkpoint

_JACCARD_T = 0.2  # dedup_lsh_pipeline's verification threshold
_STATE_BUCKETS = 8  # compacted-state bucket count (cluster: size to cores)

# at most one live work dir per session: a new run retires the previous
# run's state so repeated invocations (oracle gate, bench passes) don't
# accumulate /tmp garbage — the stagecache lifecycle discipline. The final
# run's dir is removed by the atexit hook (advisor r7).
_PREV_WORK: list[str] = []
_PREV_TABLES: list[str] = []

# diagnostics of the most recent run (tests assert compaction happened and
# inspect the bucketed state tables before the next run retires them)
LAST_RUN: dict = {}


def _retire_previous() -> None:
    spark = SparkSession.getActiveSession()
    if spark is not None:
        # only forget names we actually DROP — popping with no session
        # would leak warehouse tables permanently (advisor r8)
        while _PREV_TABLES:
            spark.sql(f"DROP TABLE IF EXISTS {_PREV_TABLES.pop()}")
    while _PREV_WORK:
        shutil.rmtree(_PREV_WORK.pop(), ignore_errors=True)


atexit.register(_retire_previous)


def _has_part_files(path: str) -> bool:
    for root, _dirs, files in os.walk(path):
        if any(f.startswith("part-") for f in files):
            return True
    return False


def _read_state(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read accumulated state, tolerating absent state AND the
    schema-less directory an all-empty epoch write leaves behind (a
    dynamic-overwrite of an empty frame lands only _SUCCESS, no part
    files — spark.read.parquet cannot infer a schema from that).

    The fallback is deliberately NARROW (advisor r7): only a directory
    with no part files maps to empty state; any other read failure
    (corrupt footer, incompatible schema) raises rather than silently
    dropping historical candidates into a plausible-but-wrong verdict.
    The part-file probe runs BEFORE the read (the state dir is a local
    work dir by construction) so the schema-less case never raises a JVM
    AnalysisException at all — an exception on the micro-batch thread is
    re-surfaced by Spark's listener bus as a scary-but-benign ERROR log
    even when the Python caller catches it."""
    if os.path.isdir(path) and _has_part_files(path):
        return spark.read.parquet(path)
    return spark.createDataFrame([], schema)


class _CompactedState:
    """Epoch-partitioned state with periodic bucketed compaction.

    Writes stay epoch-partitioned dynamic overwrites (idempotent under
    foreachBatch replay). Every ``compact_every`` epochs the full state is
    rewritten as a BUCKETED, sorted table on the join key; readers then
    see (bucketed snapshot) ∪ (epoch tail newer than the snapshot), so
    the scan width is bounded regardless of stream lifetime and the
    per-batch candidate join co-locates against the snapshot without
    shuffling it.

    Crash/replay safety: the folded epoch partitions and the superseded
    snapshot are NOT deleted at compaction time — they are garbage-
    collected at the START of a later epoch, i.e. only after the epoch
    that compacted them has committed to the streaming checkpoint. A
    replayed compaction overwrites the same table name with identical
    content (the epoch tail it folds is filtered by the same watermark)."""

    def __init__(
        self, base: str, schema: str, key: list[str], table: str, compact_every: int
    ) -> None:
        self.base = base
        self.schema = schema  # epoch-partitioned read schema (incl. epoch)
        self.key = key
        self.table = table
        self.compact_every = compact_every
        self.compacted_upto = -1  # max epoch folded into the snapshot
        self.last_epoch = -1
        self._pending_gc: list[str] = []
        self.n_compactions = 0

    def gc(self) -> None:
        """Remove state superseded by a compaction that has since
        committed (call at epoch start — see class docstring)."""
        while self._pending_gc:
            shutil.rmtree(self._pending_gc.pop(), ignore_errors=True)

    def write_epoch(self, df: DataFrame, epoch_id: int) -> None:
        self.last_epoch = max(self.last_epoch, epoch_id)
        _write_epoch(df, self.base, epoch_id)

    def read_snapshot(self, spark: SparkSession) -> DataFrame | None:
        """The bucketed snapshot (no epoch column), or None before the
        first compaction. Join THIS side on ``key`` to get the
        exchange-free sort-merge."""
        if self.compacted_upto < 0:
            return None
        return spark.table(self.table)

    def read_tail(self, spark: SparkSession) -> DataFrame:
        """Epoch partitions newer than the snapshot (epoch column
        dropped)."""
        cols = [c.split()[0] for c in self.schema.split(",")]
        cols = [c for c in cols if c != "epoch"]
        return (
            _read_state(spark, self.base, self.schema)
            .filter(F.col("epoch") > self.compacted_upto)
            .select(*cols)
        )

    def read_all(self, spark: SparkSession) -> DataFrame:
        snap = self.read_snapshot(spark)
        tail = self.read_tail(spark)
        return tail if snap is None else snap.unionByName(tail)

    def commit_epoch(self, spark: SparkSession, df: DataFrame, epoch_id: int) -> None:
        """Write an epoch's state contribution, FOLDING it straight into
        the bucketed snapshot on compaction epochs. The previous shape
        wrote the epoch partition and then ``maybe_compact`` immediately
        re-read and rewrote it into the snapshot — one wasted dynamic-
        overwrite write + read per compaction per state (~0.6 s of fixed
        cost per epoch write at sf0.1; r9 verdict task 6). Replay safety
        is unchanged: a replayed compaction epoch (foreachBatch
        re-execution, live state object) recomputes the identical batch
        frame, re-reads the same snapshot + pre-epoch tail, and
        overwrites the same table with identical content."""
        self.last_epoch = max(self.last_epoch, epoch_id)
        if (epoch_id + 1) % self.compact_every != 0:
            _write_epoch(df, self.base, epoch_id)
        else:
            self._compact(spark, df, epoch_id)

    def maybe_compact(self, spark: SparkSession, epoch_id: int) -> None:
        """Compact already-written epochs (the ``write_epoch`` +
        ``maybe_compact`` split; the streaming pipeline uses
        ``commit_epoch``, which folds the compaction-epoch write)."""
        if (epoch_id + 1) % self.compact_every != 0:
            return
        self._compact(spark, None, epoch_id)

    def _compact(
        self, spark: SparkSession, extra: DataFrame | None, epoch_id: int
    ) -> None:
        from ntd_gtfs_to_socrata_spark.io import write_bucketed

        full = self.read_all(spark)
        if extra is not None:
            # the compaction epoch's own contribution, folded in WITHOUT
            # ever landing in an epoch partition (commit_epoch path)
            full = full.unionByName(extra)
        # snapshot tables are per-run (unique suffix) and overwritten in
        # place on replay; a checkpoint breaks the read-from/write-to
        # same-table cycle when a previous snapshot feeds the rewrite
        full = checkpoint(full)
        write_bucketed(full, self.table, self.key, n_buckets=_STATE_BUCKETS)
        # fold point + GC scheduling (epoch dirs now covered by the table)
        for entry in sorted(os.listdir(self.base)) if os.path.isdir(self.base) else []:
            if entry.startswith("epoch="):
                try:
                    e = int(entry.split("=", 1)[1])
                except ValueError:
                    continue
                if e <= epoch_id:
                    self._pending_gc.append(os.path.join(self.base, entry))
        self.compacted_upto = epoch_id
        self.n_compactions += 1


# files per epoch write: micro-batch-sized frames at the tested scales —
# a handful of files keeps both the task-commit protocol and later state
# reads (file listing) cheap. At production batch sizes the writer should
# instead target a file size (or drop the coalesce and let the upstream
# partitioning stand) — this constant tunes the HARNESS, not the algorithm.
_EPOCH_WRITE_FILES = 4


def _write_epoch(df: DataFrame, path: str, epoch_id: int) -> None:
    """Epoch-partitioned dynamic overwrite: replaying an epoch replaces
    its own partition — idempotent, never duplicating state. The session
    conf is restored afterwards so the dynamic mode doesn't leak into
    other queries' whole-table overwrite semantics."""
    # dynamic mode as a PER-WRITE option (not a session-conf mutation):
    # never leaks into other queries' whole-table overwrite semantics and
    # is thread-safe — the two state commits run on parallel driver
    # threads (r10), and a set/restore of the shared session conf would
    # race (one thread restoring the other's "dynamic" as the baseline)
    df.coalesce(_EPOCH_WRITE_FILES).withColumn(
        "epoch", F.lit(epoch_id)
    ).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("epoch").parquet(path)


def _make_apply_batch(bands_state, shingles_state, edges_path):
    """Bind the per-micro-batch incremental-LSH body to a state pair +
    edge sink. Shared by the file-staged AvailableNow harness
    (incremental_lsh_dedup) and the unbounded rate-source harness
    (rate_incremental_lsh_dedup) — the algorithm is identical, only the
    source and the drain policy differ."""

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        import time as _time

        _t0 = _time.time()
        _mark = lambda k: LAST_RUN["phases"].append(  # noqa: E731
            (epoch_id, k, round(_time.time() - _t0, 3))
        )
        sess = batch_df.sparkSession
        # GC state superseded by a compaction that has since committed
        # (safe here: foreachBatch only reaches epoch e after e-1 committed)
        bands_state.gc()
        shingles_state.gc()
        # Staging discipline (r10 A/B-tested, keep as is): every reused
        # frame is an EAGER checkpoint. Two alternatives both benched
        # WORSE at sf0.1 — (a) lazy persist() fusing everything into the
        # verify-write job serializes the nested broadcast subtrees
        # (batch_counts → overfull → candidates) instead of running
        # independent map stages in parallel (+20%); (b) persist()+count()
        # staging (for explicit CacheManager release) lost ~50% to
        # InMemoryRelation overheads vs checkpoint RDD scans. The
        # checkpointed RDDs are released by reference drop: locals rebind
        # every epoch, so ContextCleaner reclaims epoch e's blocks while
        # e+1 runs.
        # bands and shingles are INDEPENDENT eagerly-checkpointed subtrees
        # that each tokenize the batch (A/B-tested in r10: sharing one
        # checkpointed (doc_id, sh-array) frame materializes the bulky
        # string arrays and re-derives the Jaccard rows lazily twice —
        # consistently ~10% slower than tokenizing twice into the two
        # small frames that downstream actually reuses)
        shingled = batch_df.select(
            "doc_id", TX.word_shingles(TX.tokens(F.col("text"))).alias("sh")
        ).select("doc_id", F.explode("sh").alias("sh"))
        # the two independent checkpoint jobs run on parallel driver
        # threads (same pattern as the state commits below): each is a
        # small-task job that leaves most of the 32 cores idle, so
        # overlapping them cuts the per-epoch staging wall (r11; the r10
        # A/B that kept them as TWO frames — vs one shared tokenized
        # frame — still holds, this only parallelizes their submission)
        from concurrent.futures import ThreadPoolExecutor as _TPE

        with _TPE(max_workers=2) as _pool:
            _fb = _pool.submit(
                lambda: checkpoint(lsh_buckets(minhash_signatures(shingled)))
            )
            _fs = _pool.submit(lambda: checkpoint(shingle_hashes(batch_df)))
            bands = _fb.result()
            shingles = _fs.result()
        _mark("signatures")

        # batch-internal candidates: inverted-index i<j pairs per bucket.
        # Buckets already over LSH_BUCKET_CAP on batch members alone are
        # dropped here — their FINAL size is necessarily over the cap, so
        # the batch pipeline (whose oracle this stream shares) excludes
        # every pair they would justify; buckets that only grow past the
        # cap in LATER epochs are handled by the post-drain filter below.
        internal = bucket_pairs(bands)

        # batch × history: asymmetric band join new-vs-index; canonical
        # (min, max) orientation matches the batch pipeline's a < b pairs.
        # The bucketed snapshot and the epoch tail are joined SEPARATELY
        # (union of the two joins, not a join of the union): unioning
        # first would discard the snapshot's bucket layout and re-shuffle
        # the corpus-sized state side every batch.
        #
        # Fan-out bound: a degenerate bucket makes this join emit
        # |new members| x |history members| rows. Any bucket whose
        # batch + known-history count already exceeds LSH_BUCKET_CAP can
        # never justify a pair in the capped batch semantics (final size
        # only grows), so it is excluded from the join outright. The
        # overfull set is tiny (normally empty) -> broadcast anti-join,
        # which preserves the snapshot's no-exchange layout.
        # history sides that actually EXIST this epoch (r10: the r9 shape
        # unconditionally built, checkpointed and joined an empty tail at
        # epoch 0 and at every post-compaction epoch — per-epoch fixed
        # jobs with nothing to do; the epoch watermarks tell us for free)
        snap = bands_state.read_snapshot(sess)
        has_tail = bands_state.last_epoch > bands_state.compacted_upto

        hist_sides: list[DataFrame] = []
        if snap is not None or has_tail:
            batch_counts = bands.groupBy("bucket").agg(
                F.count(F.lit(1)).alias("n_new")
            )

            # members of CURRENT-batch buckets only (broadcast semi-join,
            # no state shuffle), cached once: consumed by both the
            # overfull-bucket census and the cross join
            def _hist_members(hist: DataFrame) -> DataFrame:
                return (
                    hist.select("doc_id", "bucket")
                    .join(F.broadcast(batch_counts.select("bucket")), "bucket")
                    .transform(checkpoint)
                )

            # tail + snapshot member checkpoints are independent jobs —
            # submit them concurrently too (r11, same rationale as the
            # signature checkpoints above)
            hist_inputs: list[DataFrame] = []
            if has_tail:
                hist_inputs.append(bands_state.read_tail(sess))
            if snap is not None:
                hist_inputs.append(snap)
            if len(hist_inputs) > 1:
                with _TPE(max_workers=2) as _pool:
                    hist_sides = list(_pool.map(_hist_members, hist_inputs))
            else:
                hist_sides = [_hist_members(h) for h in hist_inputs]
            counts = [
                m.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_old"))
                for m in hist_sides
            ]
            hist_counts = counts[0]
            if len(counts) > 1:
                hist_counts = (
                    hist_counts.unionByName(counts[1])
                    .groupBy("bucket")
                    .agg(F.sum("n_old").alias("n_old"))
                )
            overfull = (
                batch_counts.join(hist_counts, "bucket", "left")
                .filter(
                    F.col("n_new") + F.coalesce(F.col("n_old"), F.lit(0))
                    > LSH_BUCKET_CAP
                )
                .select("bucket")
                .transform(checkpoint)  # reused by both cross joins
            )
        _mark("candidates_prep")

        def _cross(hist_m: DataFrame) -> DataFrame:
            return (
                bands.join(F.broadcast(overfull), "bucket", "left_anti")
                .alias("new")
                .join(
                    hist_m.join(F.broadcast(overfull), "bucket", "left_anti")
                    .alias("old"),
                    "bucket",
                )
                .select(
                    F.least(F.col("new.doc_id"), F.col("old.doc_id")).alias("doc_a"),
                    F.greatest(F.col("new.doc_id"), F.col("old.doc_id")).alias(
                        "doc_b"
                    ),
                )
            )

        cands = internal
        for hist_m in hist_sides:
            cands = cands.unionByName(_cross(hist_m))
        cands = cands.distinct()

        # exact-Jaccard verify on candidates only, over batch ∪ state
        # shingles (every candidate names at least one batch doc; its
        # partner is either in-batch or in state). NOTE a deliberate
        # local-vs-cluster trade: the (doc_b, shingle) join shuffles the
        # shingle union, which includes the accumulated state — at true
        # stream lifetimes the right shape is a broadcast semi-join
        # reducing each side to candidate docs first (candidate sets are
        # near-dup-bounded), but that serializes candidate generation in
        # front of the state scan; at the tested scales the parallel
        # independent stages win (~20% measured, r10), and the bucketed
        # snapshot keeps the state side exchange-free once it dominates.
        all_sh = shingles.unionByName(shingles_state.read_all(sess))
        a = all_sh.select(
            F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"), "shingle"
        )
        b = all_sh.select(
            F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"), "shingle"
        )
        common = (
            cands.join(a, "doc_a")
            .join(b, ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b", "na", "nb")
            .agg(F.count(F.lit(1)).alias("nc"))
        )
        verified = common.filter(
            F.col("nc").cast("double") / (F.col("na") + F.col("nb") - F.col("nc"))
            >= _JACCARD_T
        ).select("doc_a", "doc_b")

        _write_epoch(verified, edges_path, epoch_id)
        _mark("verify_write")
        # ORDERING INVARIANT (r11 ADVICE — load-bearing for the unbounded
        # rate tier): the verified-edge write above must COMPLETE before
        # the bands-state commit below STARTS. After an abrupt q.stop(),
        # _final_verdict derives the consumed prefix from the bands state
        # — any doc visible in the final band census must therefore have
        # its epoch's edges already on disk, or the closed-form verdict
        # under-counts duplicate edges. Do NOT move the edge write into
        # the commit pool (an r11 A/B that overlapped verify with the
        # bands commit was also ~20% slower; see below) — if you ever
        # overlap them, the verdict must switch to an edges-derived
        # consumed-prefix instead.
        # commit_epoch folds a compaction epoch's contribution straight
        # into the bucketed snapshot (no epoch partition written just to
        # be re-read and folded one call later). The two states touch
        # disjoint dirs/tables, so their commits run on parallel driver
        # threads — Spark schedules the two independent write jobs
        # concurrently across the same executor cores. (An r11 A/B also
        # tried overlapping the verify write with the bands commit while
        # serializing the shingles commit behind verify — the shingle
        # state dir is verify's only live input — but it benched ~20%
        # WORSE: the two commits overlap better with each other than the
        # bands commit does with verify.)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fb = pool.submit(
                bands_state.commit_epoch,
                sess,
                bands.select("doc_id", "bucket"),
                epoch_id,
            )
            fs = pool.submit(shingles_state.commit_epoch, sess, shingles, epoch_id)
            fb.result()
            fs.result()
        _mark("state_commit")

    return apply_batch


def _final_verdict(
    spark: SparkSession,
    edges_path: str,
    bands_state,
    docs: DataFrame,
) -> DataFrame:
    """Post-drain reconciliation + clustering, shared by both harnesses:
    re-filter verified edges against the FINAL bucket census (the capped
    batch semantics), run CC, and emit the (doc_id, component_id, kept)
    verdict over ``docs`` (the corpus for the file harness; the consumed
    prefix for the rate harness)."""
    edges = _read_state(spark, edges_path, "doc_a long, doc_b long, epoch int")
    # Final bucket-cap reconciliation: a pair survives the CAPPED batch
    # semantics only if SOME band bucket of final size in [2, cap]
    # contains both docs. Per-epoch generation could not know final
    # sizes (a bucket may outgrow the cap in a later epoch), so verified
    # edges are filtered here against the accumulated band state: edges
    # (tiny — verified near-dups) broadcast-join each side's buckets
    # (fan-out <= 4 bands/doc), semi-join the small-bucket census.
    all_bands = bands_state.read_all(spark).select("doc_id", "bucket")
    small = (
        all_bands.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") >= 2) & (F.col("n") <= LSH_BUCKET_CAP))
        .select("bucket")
    )
    members = all_bands.join(small, "bucket")
    edges = (
        edges.select("doc_a", "doc_b")
        .join(
            members.select(F.col("doc_id").alias("doc_a"), "bucket"), "doc_a"
        )
        .join(
            members.select(F.col("doc_id").alias("doc_b"), "bucket"),
            ["doc_b", "bucket"],
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return keep_one(docs.select("doc_id"), edges, "doc_a", "doc_b")


def incremental_lsh_dedup(
    spark: SparkSession, sf_dir: str, n_batches: int = 4, compact_every: int = 2
) -> DataFrame:
    """Run the streaming incremental dedup end-to-end and return the
    (doc_id, component_id, kept) verdict frame for the WHOLE corpus.

    The corpus is staged as ``n_batches`` parquet files (deterministic
    ``pmod(doc_id, n)`` buckets — simulating batch arrival) and consumed
    by a file-source stream with ``maxFilesPerTrigger=1``; the final
    verdict is batch-ORDER-independent (see module docstring), so any
    file pickup order yields the identical result. Band/shingle state is
    compacted into bucketed tables every ``compact_every`` epochs."""
    _retire_previous()
    work = tempfile.mkdtemp(prefix="stream_lsh_dedup_")
    _PREV_WORK.append(work)
    run_id = uuid.uuid4().hex[:8]
    staging = os.path.join(work, "staging")
    edges_path = os.path.join(work, "edges")
    bands_state = _CompactedState(
        os.path.join(work, "state_bands"),
        "doc_id long, bucket string, epoch int",
        ["bucket"],
        f"stream_lsh_bands_{run_id}",
        compact_every,
    )
    shingles_state = _CompactedState(
        os.path.join(work, "state_shingles"),
        "doc_id long, n_sh int, shingle long, epoch int",
        ["doc_id"],
        f"stream_lsh_shingles_{run_id}",
        compact_every,
    )
    _PREV_TABLES.extend([bands_state.table, shingles_state.table])
    import time as _time

    LAST_RUN.clear()
    LAST_RUN.update(
        work=work,
        bands_state=bands_state,
        shingles_state=shingles_state,
        phases=[],  # (epoch, phase, cumulative-seconds-within-epoch)
        wall={},  # coarse wall clock per harness stage
    )
    _w0 = _time.time()

    docs = load_table(spark, sf_dir, "documents")
    # ONE corpus pass stages all batches as contiguous doc_id ranges
    # (simulating batch arrival). The previous pmod-bucket repartition
    # hash-collided buckets into FEWER, unbalanced files (r10 measured
    # n=3 -> two files of 1667/3333 docs: the "third" epoch — and with it
    # the post-compaction snapshot-read path — never ran, and the fat
    # epoch dominated wall time). Range partitioning gives n_batches
    # balanced files; the verdict is provably batch-partition-independent,
    # so the split policy only shapes the harness, never the result.
    docs.repartitionByRange(n_batches, F.col("doc_id")).write.parquet(staging)
    LAST_RUN["wall"]["staging"] = round(_time.time() - _w0, 3)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
    )

    apply_batch = _make_apply_batch(bands_state, shingles_state, edges_path)

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .queryName(f"stream_lsh_dedup_{uuid.uuid4().hex[:8]}")
        .start()
    )
    q.awaitTermination()
    LAST_RUN["wall"]["stream"] = round(_time.time() - _w0, 3)

    return _final_verdict(spark, edges_path, bands_state, docs)


# --- Unbounded-source variant: rate stream + planted exact duplicates ----

RATE_DUP_PERIOD = 5  # every 5th doc (value % 5 == 4) duplicates value-4
RATE_DOC_WORDS = 20


def rate_documents(spark: SparkSession, rows_per_second: int = 400) -> DataFrame:
    """Unbounded rate source -> deterministic synthetic documents:
    doc_id = value; text = RATE_DOC_WORDS hex words derived by xxhash64
    from a BASE id, where base = value - 4 for value % 5 == 4 (an EXACT
    duplicate of an earlier doc — the rate source delivers the gapless
    prefix, so the original always precedes its copy) and base = value
    otherwise (xxhash-distinct words => no accidental near-dups). The
    consumed prefix [0, M] therefore fully determines the dedup verdict:
    components are exactly {v, v+4} for v % 5 == 0 with v+4 <= M."""
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    base = F.when(
        F.col("value") % RATE_DUP_PERIOD == RATE_DUP_PERIOD - 1,
        F.col("value") - (RATE_DUP_PERIOD - 1),
    ).otherwise(F.col("value"))
    words = F.transform(
        F.sequence(F.lit(0), F.lit(RATE_DOC_WORDS - 1)),
        lambda i: F.lower(F.hex(F.xxhash64(F.lit("rate_doc"), base, i))),
    )
    return stream.select(
        F.col("value").alias("doc_id"),
        F.array_join(words, " ").alias("text"),
    )


def rate_incremental_lsh_dedup(
    spark: SparkSession,
    rows_per_second: int = 400,
    min_docs: int = 60,
    compact_every: int = 2,
    timeout_sec: int = 120,
    interrupt_after: int | None = None,
) -> DataFrame:
    """The incremental LSH dedup against an UNBOUNDED source: the same
    per-micro-batch body (_make_apply_batch) and the same post-drain
    reconciliation (_final_verdict) as the file-staged harness, driven
    by a genuine rate stream with a real processing-time trigger and a
    drain-then-stop policy — the production Kafka shape (swap
    format("rate") for format("kafka") + a parse select; the dedup
    pipeline is source-agnostic by construction).

    The verdict covers the CONSUMED PREFIX (whatever landed before the
    drain check stopped the query): rows vary run to run, but every row
    must match the planted-duplicate formula at ANY stop point — the
    testable invariant for an unbounded run (see
    tests/test_streaming.py::test_rate_lsh_dedup_planted_duplicates).

    ``interrupt_after`` (r11 verdict item 7): when set, the query is
    stopped abruptly once that many docs have been consumed and a NEW
    query generation restarts from the same checkpoint — the rate source
    resumes at its committed offsets (the gapless prefix survives) and
    any half-applied epoch replays through the idempotent epoch writes.
    The kill-and-restart recovery path of a production Kafka consumer,
    under the same any-stop-point verdict."""
    import time as _time

    _retire_previous()
    work = tempfile.mkdtemp(prefix="stream_rate_lsh_")
    _PREV_WORK.append(work)
    run_id = uuid.uuid4().hex[:8]
    edges_path = os.path.join(work, "edges")
    bands_state = _CompactedState(
        os.path.join(work, "state_bands"),
        "doc_id long, bucket string, epoch int",
        ["bucket"],
        f"rate_lsh_bands_{run_id}",
        compact_every,
    )
    shingles_state = _CompactedState(
        os.path.join(work, "state_shingles"),
        "doc_id long, n_sh int, shingle long, epoch int",
        ["doc_id"],
        f"rate_lsh_shingles_{run_id}",
        compact_every,
    )
    _PREV_TABLES.extend([bands_state.table, shingles_state.table])
    LAST_RUN.clear()
    LAST_RUN.update(
        work=work,
        bands_state=bands_state,
        shingles_state=shingles_state,
        phases=[],
        wall={},
        consumed=0,
        counted_epochs=set(),
    )
    inner = _make_apply_batch(bands_state, shingles_state, edges_path)

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # one tiny count job per epoch: the drain check below needs a
        # consumed-doc counter, and the rate micro-batch is replayable
        # within its epoch so the recount is exact
        n = batch_df.count()
        if n == 0:
            return  # empty trigger: no epoch state, no empty-partition writes
        inner(batch_df, epoch_id)
        # counting is epoch-idempotent, mirroring the idempotent epoch
        # WRITES: an abrupt stop after inner() but before Spark commits
        # the epoch's offsets makes the next generation replay this
        # epoch_id — without the guard the replay double-counts and
        # drain_until() can exit with fewer unique docs in state than
        # its target (r12 ADVICE item 1)
        if epoch_id not in LAST_RUN["counted_epochs"]:
            LAST_RUN["counted_epochs"].add(epoch_id)
            LAST_RUN["consumed"] += n

    docs = rate_documents(spark, rows_per_second)

    def start_query():
        return (
            docs.writeStream.foreachBatch(apply_batch)
            .trigger(processingTime="500 milliseconds")
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .queryName(f"rate_lsh_dedup_{run_id}")
            .start()
        )

    def drain_until(q, target: int) -> None:
        deadline = _time.time() + timeout_sec
        while LAST_RUN["consumed"] < target:
            if _time.time() > deadline:
                raise RuntimeError(
                    f"rate LSH drain: < {target} docs after {timeout_sec}s"
                )
            if q.exception() is not None:
                raise q.exception()
            _time.sleep(0.25)

    q = start_query()
    try:
        if interrupt_after is not None:
            # generation 1: consume a partial prefix, then stop ABRUPTLY
            # (mid-trigger; whatever epoch is in flight stays half-applied)
            drain_until(q, interrupt_after)
            q.stop()
            q.awaitTermination()
            LAST_RUN["restarts"] = LAST_RUN.get("restarts", 0) + 1
            # generation 2: same checkpoint — committed offsets resume,
            # the uncommitted epoch replays through the idempotent writes
            q = start_query()
        drain_until(q, min_docs)
    finally:
        q.stop()
    q.awaitTermination()

    consumed = (
        bands_state.read_all(spark)
        .select("doc_id")
        .distinct()
    )
    return _final_verdict(spark, edges_path, bands_state, consumed)

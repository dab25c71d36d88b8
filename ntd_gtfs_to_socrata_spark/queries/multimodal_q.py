"""Multimodal-column queries (north-star extension) over ``documents``
reinterpreted as a media table — binary payloads + typed metadata, with the
decode step as an Arrow-batched mapInPandas stub (see
operators/multimodal.py for the stub contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ntd_gtfs_to_socrata_spark.io import ensure_min_parallelism, load_table
from ntd_gtfs_to_socrata_spark.operators import multimodal as MM
from ntd_gtfs_to_socrata_spark.operators.neardup import pairs_within
from ntd_gtfs_to_socrata_spark.queries import register

# payload size = text bytes + container header: PNG header is 33 bytes
# (8 signature + 8 IHDR len/type + 13 IHDR + 4 CRC); JPEG is 30 + 3*n_comp
# (SOI 2 + APP0 18 + SOF0 10+3n) -> 33 grayscale / 39 three-channel.
MM_META_ORACLE = """
SELECT doc_id,
       octet_length(encode(text))
         + CASE WHEN doc_id % 2 = 0 THEN 33
                WHEN doc_id % 3 = 0 THEN 33 ELSE 39 END AS n_bytes,
       source AS uri,
       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
       CASE WHEN octet_length(encode(text))
         + CASE WHEN doc_id % 2 = 0 THEN 33
                WHEN doc_id % 3 = 0 THEN 33 ELSE 39 END > 300
            THEN 'large' ELSE 'small' END AS size_class
FROM documents
"""


@register("mm_binary_metadata", MM_META_ORACLE)
def mm_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary column + metadata projection over REAL container bytes:
    byte length and format both come off the payload itself JVM-side —
    format by sniffing the actual PNG/JPEG magic bytes with a binary
    substring compare, NOT from stored metadata — still without decoding
    anything. The metadata-only scan path at 100 TB. The oracle replays
    the integers from the deterministic payload construction
    (operators/multimodal.py make_image_payload)."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    payload = MM.make_image_payload(docs)
    n_bytes = F.length(F.col("payload"))
    return payload.select(
        "doc_id",
        n_bytes.cast("long").alias("n_bytes"),
        F.col("media_meta.uri").alias("uri"),
        F.when(F.substring("payload", 1, 8) == F.lit(MM.PNG_SIG), "png")
        .when(F.substring("payload", 1, 2) == F.lit(MM.JPEG_SOI), "jpeg")
        .otherwise("unknown")
        .alias("format"),
        F.when(n_bytes > 300, "large").otherwise("small").alias("size_class"),
    )


MM_HEADER_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
       octet_length(encode(text)) % 640 + 1 AS width,
       octet_length(encode(text)) % 480 + 1 AS height,
       8 AS bit_depth,
       CASE WHEN doc_id % 2 = 0
            THEN CASE WHEN doc_id % 3 = 0 THEN 4 ELSE 3 END
            ELSE CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END END AS channels,
       octet_length(encode(text))
         + CASE WHEN doc_id % 2 = 0 THEN 33
                WHEN doc_id % 3 = 0 THEN 33 ELSE 39 END AS n_bytes,
       TRUE AS ok
FROM documents
"""


@register("mm_image_header_parse", MM_HEADER_ORACLE)
def mm_image_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL header parsing (r7 verdict item 6): the payloads carry
    genuine PNG signature+IHDR / JPEG JFIF+SOF0 byte layouts and the
    Arrow-batched UDF parses them with pure-Python struct reads (marker
    walk for JPEG) — no codec library. Every integer the parser extracts
    (width, height, bit depth, channels) is value-hash checked against
    the construction formula; only PIXEL decode remains a sanctioned
    stub (mm_decode_stub)."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    return MM.parse_image_headers(MM.make_image_payload(docs))


MM_DECODE_ORACLE = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       CASE WHEN octet_length(encode(text)) % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
       octet_length(encode(text)) % 640 + 1 AS width,
       (octet_length(encode(text)) // 640) % 480 + 1 AS height,
       TRUE AS ok
FROM documents
"""


@register("mm_decode_stub", MM_DECODE_ORACLE)
def mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode (STUB codec, real plumbing). The
    oracle replicates the deterministic fake's formula — so the contract
    checked here is the UDF batch path: schema, binary transfer, partition
    iteration."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    return MM.decode_media(MM.attach_payload(docs))


MM_FRAMES_ORACLE = """
WITH decoded AS (
  SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents
)
SELECT doc_id,
       CAST(unnest(range(0, least(n_bytes // 100 + 1, 4))) AS BIGINT) AS frame_no,
       n_bytes
FROM decoded
"""


@register("mm_frame_sample", MM_FRAMES_ORACLE)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling shape: one row per sampled frame (explode over a
    per-blob frame index), the video-preprocessing fan-out pattern. Frame
    count derived from payload size (stub); explode stays JVM-side."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    payload = MM.attach_payload(docs)
    n_frames = F.least(
        (F.length("payload").cast("long") / 100).cast("long") + 1, F.lit(4)
    )
    return payload.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0).cast("long"), n_frames - 1)).alias("frame_no"),
        F.length("payload").cast("long").alias("n_bytes"),
    )


MM_AUDIO_ORACLE = """
WITH b AS (
  SELECT doc_id,
         list_transform(range(1, length(text) + 1), i -> ord(substr(text, i, 1))) AS samples
  FROM documents
),
w AS (
  SELECT doc_id,
         list_transform(range(0, CAST(ceil(len(samples) / 100.0) AS BIGINT)),
                        g -> samples[g * 100 + 1 : g * 100 + 100]) AS wins
  FROM b
)
SELECT doc_id,
       CAST(generate_subscripts(wins, 1) - 1 AS INT) AS window_no,
       CAST(len(unnest(wins)) AS BIGINT) AS n_samples,
       CAST(list_aggregate(list_transform(unnest(wins), x -> x * x), 'sum') AS BIGINT) AS sum_sq,
       CAST(list_aggregate(unnest(wins), 'max') AS BIGINT) AS peak
FROM w
"""


@register("mm_audio_window_stats", MM_AUDIO_ORACLE)
def mm_audio_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction shape: payload bytes as 8-bit PCM (STUB
    codec — the fixture corpus is ASCII, so byte values ARE code points
    and the oracle replays the exact windows), then numpy-vectorized
    per-100-sample window sum-of-squares + peak inside Arrow-batched
    mapInPandas. Integer outputs ⇒ bit-exact value-hash check of the
    whole UDF path (batch iteration, fan-out row expansion, schema).

    Scale posture: pure map-side fan-out (no shuffle); each task decodes
    and windows only its partition's blobs. At 100 TB this is the VAD /
    loudness-filter front of an audio training pipeline; swapping the
    stub for soundfile/ffmpeg changes one function
    (operators/multimodal.py::audio_window_batch)."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    return MM.audio_window_stats(MM.attach_payload(docs))


# ---------------------------------------------------------------------------
# Perceptual-hash near-dup (multimodal × dedup crossover)
# ---------------------------------------------------------------------------

_PHASH_T = 3  # max Hamming distance over the 64-bit hash

PHASH_NEARDUP_ORACLE = f"""
WITH codes AS (
  SELECT doc_id, list_transform(range(1, length(text)+1), i -> ord(substr(text,i,1))) AS cs,
         length(text) AS n
  FROM documents
),
tot AS (
  SELECT doc_id, cs, n, list_aggregate(cs,'sum') AS total FROM codes
),
bits AS (
  SELECT doc_id,
    list_transform(range(0,64), i ->
      CASE WHEN 64 * coalesce(list_aggregate(
             cs[CAST(floor(i*n/64.0) AS BIGINT)+1 : CAST(floor((i+1)*n/64.0) AS BIGINT)],
             'sum'), 0) > total THEN 1 ELSE 0 END) AS b
  FROM tot
),
-- MATERIALIZED: bands self-joins (two references); unfenced, DuckDB
-- re-plans the whole 64-slice signature chain per side (part of the
-- measured 142.5 s sf1 oracle tail, r11).
bands AS MATERIALIZED (
  SELECT doc_id,
    list_aggregate(list_transform(range(0,16), j -> b[j+1]  * (1<<j)),'sum') AS b0,
    list_aggregate(list_transform(range(0,16), j -> b[j+17] * (1<<j)),'sum') AS b1,
    list_aggregate(list_transform(range(0,16), j -> b[j+33] * (1<<j)),'sum') AS b2,
    list_aggregate(list_transform(range(0,16), j -> b[j+49] * (1<<j)),'sum') AS b3
  FROM bits
),
-- Pigeonhole-EXACT banded candidates instead of the n^2 self-join: a
-- pair at hamming <= 3 differs in at most 3 of the 4 16-bit bands, so
-- it MUST share at least one band value — the equi-join below loses no
-- qualifying pair (the same argument the Spark side uses; their
-- equivalence to brute force is separately pinned by
-- tests/test_multimodal_privacy_more.py::test_phash_banding_loses_no_pair_vs_bruteforce).
-- The all-pairs formulation measured 142.5 s at sf1 (1.25e9 hamming
-- evaluations); the banded hash join is the linear-work twin.
bl AS MATERIALIZED (
  SELECT doc_id, 0 AS band, b0 AS v FROM bands
  UNION ALL SELECT doc_id, 1, b1 FROM bands
  UNION ALL SELECT doc_id, 2, b2 FROM bands
  UNION ALL SELECT doc_id, 3, b3 FROM bands
),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, x.doc_id AS doc_b
  FROM bl a JOIN bl x ON a.band = x.band AND a.v = x.v
                     AND a.doc_id < x.doc_id
)
SELECT doc_a, doc_b, hamming FROM (
  SELECT c.doc_a, c.doc_b,
         CAST(bit_count(xor(a.b0,x.b0)) + bit_count(xor(a.b1,x.b1))
            + bit_count(xor(a.b2,x.b2)) + bit_count(xor(a.b3,x.b3)) AS BIGINT) AS hamming
  FROM cand c
  JOIN bands a ON a.doc_id = c.doc_a
  JOIN bands x ON x.doc_id = c.doc_b
) WHERE hamming <= {_PHASH_T}
"""


@register("mm_phash_neardup", PHASH_NEARDUP_ORACLE)
def mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate media detection: blockhash-style 64-bit perceptual
    hash per blob (STUB codec — the hash runs on payload bytes; a real
    pipeline feeds it decoded pixels, same 4×16-bit band output), then
    MULTI-INDEX HAMMING LSH: docs sharing any exact 16-bit band become
    candidates, verified with bit_count(xor) ≤ 3.

    The pigeonhole guarantee makes the banding EXACT, not approximate:
    hamming ≤ 3 over 4 bands forces at least one band with zero errors,
    so the all-pairs DuckDB oracle (no banding) must produce the
    identical pair set — the oracle proves zero recall loss.

    Scale posture: hashes are Arrow-batched mapInPandas next to the
    decoder (one pass over blobs); candidate generation is ONE shuffle on
    (band_id, band_value) with i<j pairs built map-side from posting
    lists that carry the full 4-band signature — verification is pure
    map-side bit arithmetic, NO join-back to the hash table and no
    all-pairs product anywhere."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    bands = MM.phash_bands(MM.attach_payload(docs))
    sig = F.struct("doc_id", "b0", "b1", "b2", "b3")
    stacked = bands.select(
        sig.alias("s"),
        F.explode(
            F.array(*[F.struct(F.lit(j).alias("band_id"), F.col(f"b{j}").alias("v")) for j in range(4)])
        ).alias("k"),
    ).select("s", F.col("k.band_id").alias("band_id"), F.col("k.v").alias("v"))
    inv = (
        stacked.groupBy("band_id", "v")
        .agg(F.array_sort(F.collect_list("s")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    hamming = (
        F.bit_count(F.col("p.a.b0").bitwiseXOR(F.col("p.b.b0")))
        + F.bit_count(F.col("p.a.b1").bitwiseXOR(F.col("p.b.b1")))
        + F.bit_count(F.col("p.a.b2").bitwiseXOR(F.col("p.b.b2")))
        + F.bit_count(F.col("p.a.b3").bitwiseXOR(F.col("p.b.b3")))
    )
    return (
        inv.select(F.explode(pairs_within("ds")).alias("p"))
        .select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            hamming.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= _PHASH_T)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Scene-cut detection (video preprocessing shape)
# ---------------------------------------------------------------------------

_SCENE_T = 500  # |intensity delta| above which a frame starts a new scene

SCENE_CUT_ORACLE = f"""
WITH b AS (
  SELECT doc_id,
         list_transform(range(1, length(text) + 1), i -> ord(substr(text, i, 1)))
           AS samples
  FROM documents
),
frames AS (
  SELECT doc_id,
         CAST(generate_subscripts(wins, 1) - 1 AS INT) AS frame_no,
         CAST(list_aggregate(unnest(wins), 'sum') AS BIGINT) AS intensity
  FROM (
    SELECT doc_id,
           list_transform(range(0, CAST(ceil(len(samples) / 100.0) AS BIGINT)),
                          g -> samples[g * 100 + 1 : g * 100 + 100]) AS wins
    FROM b
  )
)
SELECT doc_id, frame_no, intensity,
       coalesce(abs(intensity - lag(intensity) OVER (
         PARTITION BY doc_id ORDER BY frame_no)) > {_SCENE_T}, FALSE) AS is_cut
FROM frames
"""


@register("mm_scene_cut", SCENE_CUT_ORACLE)
def mm_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection — the video-preprocessing fan-out: per-frame
    intensity (STUB decoder: 100-byte payload slices summed; a real
    pipeline plugs mean-luma of decoded frames into the same schema),
    then a PER-VIDEO lag window marks frames whose intensity jumps more
    than the threshold — the boundary list a frame-sampler keys on.

    Scale posture: intensities come from the Arrow-batched UDF beside
    the other codecs (one pass over blobs); the delta window partitions
    BY VIDEO (bounded by frames-per-video), so scene detection
    distributes with the corpus. Integer arithmetic end to end —
    bit-exact value-hash across engines."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    frames = MM.frame_intensities(MM.attach_payload(docs))
    w = Window.partitionBy("doc_id").orderBy("frame_no")
    delta = F.abs(F.col("intensity") - F.lag("intensity").over(w))
    return frames.select(
        "doc_id",
        "frame_no",
        "intensity",
        F.coalesce(delta > _SCENE_T, F.lit(False)).alias("is_cut"),
    )


# --- REAL pixel decode over uncompressed BMP (r8 verdict task 4) ---------
# The builder writes genuine 24-bpp bottom-up BMPs (file/info headers +
# 4-byte-aligned BGR rows) as Column expressions; pixel byte at padded row
# r, in-row offset j is (doc_id + 13r + 7j) % 256 — so DuckDB can replay
# every decoded integer while Spark genuinely parses real container bytes.
MM_BMP_DECODE_ORACLE = """
WITH d AS (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents),
dims AS (SELECT doc_id, nb % 8 + 1 AS w, nb % 6 + 1 AS h FROM d),
rws AS (SELECT doc_id, w, h, unnest(range(h)) AS r FROM dims),
px AS (SELECT doc_id, w, h, r, unnest(range(w * 3)) AS j FROM rws)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(SUM(CASE WHEN j % 3 = 2 THEN (doc_id + 13*r + 7*j) % 256 ELSE 0 END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN j % 3 = 1 THEN (doc_id + 13*r + 7*j) % 256 ELSE 0 END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN j % 3 = 0 THEN (doc_id + 13*r + 7*j) % 256 ELSE 0 END) AS BIGINT) AS sum_b,
       TRUE AS ok
FROM px
GROUP BY doc_id, w, h
"""


@register("mm_bmp_decode", MM_BMP_DECODE_ORACLE)
def mm_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PIXEL DECODE, no stub (r8 verdict task 4): payloads are
    genuine uncompressed 24-bpp BMPs built JVM-side; the Arrow-batched
    UDF parses BITMAPFILEHEADER/BITMAPINFOHEADER with struct reads,
    slices the padded bottom-up BGR rows with numpy, and reduces to
    exact integer per-channel sums — every decoded value is value-hash
    checked against the construction formula. For BMP the multimodal
    stub surface is EMPTY."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    return MM.decode_bmp(MM.make_bmp_payload(docs))


_BMP_CUT_T = 100  # row-intensity jump that counts as a scene cut

MM_BMP_SCENE_CUT_ORACLE = """
WITH d AS (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents),
dims AS (SELECT doc_id, nb % 8 + 1 AS w, nb % 6 + 1 AS h FROM d),
rws AS (SELECT doc_id, w, h, unnest(range(h)) AS y FROM dims),
px AS (SELECT doc_id, w, h, y, unnest(range(w * 3)) AS j FROM rws),
row_int AS (
  SELECT doc_id, y,
         SUM((doc_id + 13*(h - 1 - y) + 7*j) % 256) AS intensity
  FROM px GROUP BY doc_id, y
),
lagged AS (
  SELECT doc_id, y, intensity,
         intensity - lag(intensity) OVER (PARTITION BY doc_id ORDER BY y) AS delta
  FROM row_int
)
SELECT doc_id, CAST(y AS BIGINT) AS y,
       CAST(intensity AS BIGINT) AS intensity,
       CAST(delta AS BIGINT) AS delta
FROM lagged WHERE abs(delta) > 100
"""


@register("mm_bmp_scene_cut", MM_BMP_SCENE_CUT_ORACLE)
def mm_bmp_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over REAL decoded pixels: per-image-row
    intensity comes from actually-parsed BMP pixel bytes (top-down image
    order, so the decoder's bottom-up flip is load-bearing — skipping it
    hash-mismatches), then a per-doc lag window marks rows whose
    intensity jumps past the threshold. UDF does only the pixel math;
    windowing/filtering stays JVM-side.

    Scale posture: decode is map-side Arrow batches; the window
    partitions by doc_id (bounded rows per image), never over the
    corpus."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    rows = MM.bmp_row_intensities(MM.make_bmp_payload(docs))
    w = Window.partitionBy("doc_id").orderBy("y")
    return (
        rows.withColumn(
            "delta", F.col("intensity") - F.lag("intensity").over(w)
        )
        .filter(F.abs(F.col("delta")) > _BMP_CUT_T)
        .select("doc_id", "y", "intensity", "delta")
    )


# --- REAL pixel resize (nearest-neighbor thumbnail) ----------------------
# The construction formula makes every resampled pixel SQL-replayable:
# output cell (x, y) of the 4x3 thumbnail reads source pixel
# sx = floor(x*w/4), sy = floor(y*h/3) in image order; image row sy lives
# at padded FILE row (h-1-sy) (bottom-up layout), and the byte for
# channel c of column sx is (doc_id + 13*(h-1-sy) + 7*(3*sx+c)) % 256
# with BGR channel order (c=2 is R, matching MM_BMP_DECODE_ORACLE).
MM_BMP_RESIZE_ORACLE = f"""
WITH d AS (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents),
dims AS (SELECT doc_id, nb % 8 + 1 AS w, nb % 6 + 1 AS h FROM d),
grid AS (SELECT doc_id, w, h, unnest(range({MM.RESIZE_W})) AS x FROM dims),
cells AS (SELECT doc_id, w, h, x, unnest(range({MM.RESIZE_H})) AS y FROM grid),
mapped AS (
  SELECT doc_id, x, y,
         CAST(floor(x * w / {MM.RESIZE_W}.0) AS BIGINT) AS sx,
         h - 1 - CAST(floor(y * h / {MM.RESIZE_H}.0) AS BIGINT) AS fr
  FROM cells
)
SELECT doc_id, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST((doc_id + 13*fr + 7*(3*sx + 2)) % 256 AS BIGINT) AS r,
       CAST((doc_id + 13*fr + 7*(3*sx + 1)) % 256 AS BIGINT) AS g,
       CAST((doc_id + 13*fr + 7*(3*sx + 0)) % 256 AS BIGINT) AS b
FROM mapped
"""


@register("mm_bmp_resize", MM_BMP_RESIZE_ORACLE)
def mm_bmp_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL RESIZE over real decoded pixels: the vision-preprocessor step
    the multimodal north-star calls for. Each blob's genuine 24-bpp BMP
    is parsed (headers, padded bottom-up BGR rows) and resampled to a
    fixed 4x3 thumbnail with floor-convention nearest-neighbor — source
    images span 1..8 x 1..6 so BOTH up- and down-sampling paths run.
    Every output pixel (12 rows/image, RGB integers) is value-hash
    checked against the construction formula, so the decoder's row flip
    AND the resampler's index math are both load-bearing.

    Scale posture: decode + resample happen in ONE Arrow-batched
    mapInPandas pass (pixels never leave the executor at native
    resolution — the thumbnail, not the image, is what shuffles, which
    is the whole point at 100 TB of media); output fan-out is a bounded
    12 rows per blob. No joins, no windows, no driver collect."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    return MM.resize_bmp(MM.make_bmp_payload(docs))


# --- REAL PNG decode (compressed container: stdlib inflate + unfilter) ---
# Construction contract (operators/multimodal.py make_png_payload):
# w = nb%5+1, h = nb%4+1; RECONSTRUCTED byte at image row r, in-row
# offset j is (doc_id + 17*r + 5*j*j) % 256, RGB channel = j%3 (0 is R).
# The decoder cannot shortcut to this formula: it must CRC-walk the
# chunks, inflate the zlib stream, and run the None/Sub unfilter
# recurrence to reproduce these integers.
MM_PNG_DECODE_ORACLE = """
WITH d AS (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents),
dims AS (SELECT doc_id, nb % 5 + 1 AS w, nb % 4 + 1 AS h FROM d),
rws AS (SELECT doc_id, w, h, unnest(range(h)) AS r FROM dims),
px AS (SELECT doc_id, w, h, r, unnest(range(w * 3)) AS j FROM rws)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(SUM(CASE WHEN j % 3 = 0 THEN (doc_id + 17*r + 5*j*j) % 256 ELSE 0 END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN j % 3 = 1 THEN (doc_id + 17*r + 5*j*j) % 256 ELSE 0 END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN j % 3 = 2 THEN (doc_id + 17*r + 5*j*j) % 256 ELSE 0 END) AS BIGINT) AS sum_b,
       TRUE AS ok
FROM px
GROUP BY doc_id, w, h
"""


@register("mm_png_decode", MM_PNG_DECODE_ORACLE)
def mm_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL COMPRESSED-FORMAT PIXEL DECODE — the stub surface shrinks
    again: payloads are genuine PNGs built JVM-side (correct CRC32s via
    F.crc32, a real zlib stream — stored deflate block + Adler32 folded
    with the actual rolling recurrence), and the Arrow-batched UDF
    decodes them the way any PNG reader must: chunk walk with CRC
    verification, stdlib ``zlib.decompress`` inflate, then the PNG
    scanline unfilter recurrence (rows alternate None/Sub filters, so
    left-neighbor reconstruction is load-bearing; the decoder implements
    all five spec filters and the Paeth/Average/Up paths are
    fixture-tested). Every reconstructed pixel is value-hash checked
    against the construction formula.

    Scale posture: decode is one map-side Arrow pass (no joins, no
    windows, no shuffle); per-blob output is a single stats row, so 100
    TB of media reduces at scan speed."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    return MM.decode_png(MM.make_png_payload(docs))


# --- REAL baseline-JPEG decode (lossy codec: Huffman + IDCT) -------------
# Construction contract (operators/multimodal.py make_jpeg_payload):
# nbx = nb%4+2 blocks across, 2 block rows (w = 8*nbx, h = 16); block k
# is the constant v_k = 32 + (doc_id + 37*k) % 192; odd blocks carry one
# AC coefficient (zigzag 1, horizontal) whose IDCT deltas sum to 0 over
# a full block row and to +15 over the left half (x%8 < 4), sign s_k =
# +1 when v_k even else -1. So sum_px = 64*v_k per block (AC cancels)
# and sum_left = 32*v_k + 120*s_k (8 rows x 15) — the decoder cannot
# reach these integers without real Huffman decode, dezigzag in the
# right ORIENTATION, dequantization, and the cosine IDCT.
MM_JPEG_DECODE_ORACLE = """
WITH d AS (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents),
dims AS (SELECT doc_id, nb % 4 + 2 AS nbx FROM d),
ks AS (SELECT doc_id, nbx, unnest(range(nbx * 2)) AS k FROM dims),
vs AS (SELECT doc_id, nbx, k,
              32 + (doc_id + 37 * k) % 192 AS v,
              CASE WHEN k % 2 = 0 THEN 0
                   WHEN (32 + (doc_id + 37 * k) % 192) % 2 = 0 THEN 1
                   ELSE -1 END AS s
       FROM ks)
SELECT doc_id,
       CAST(nbx * 8 AS BIGINT) AS width,
       CAST(16 AS BIGINT) AS height,
       CAST(SUM(64 * v) AS BIGINT) AS sum_px,
       CAST(SUM(32 * v + 120 * s) AS BIGINT) AS sum_left,
       TRUE AS ok
FROM vs GROUP BY doc_id, nbx
"""


@register("mm_jpeg_decode", MM_JPEG_DECODE_ORACLE)
def mm_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL LOSSY-CODEC DECODE — the last image stub closes: payloads
    are genuine baseline JPEGs built JVM-side (custom canonical Huffman
    tables; the entropy bitstream is a two-stage Column fold — per-block
    DC-diff category + one's-complement magnitude + AC + EOB emission,
    then byte packing with 0xFF00 stuffing), and the Arrow-batched UDF
    decodes them the way any baseline JPEG reader must: marker walk,
    canonical Huffman reconstruction from DHT, bit-level entropy decode,
    dezigzag, dequantize, float IDCT, level shift. Pixel content is
    chosen to round-trip EXACTLY through the lossy pipeline (DC-exact
    quantization; one AC coefficient whose rounded IDCT deltas are fixed
    integers), so every decoded pixel is value-hash checked. sum_left
    (left half of each block) pins the AC path and zigzag orientation;
    the decoder's color/subsampling/restart paths are fixture-tested
    against an independent numpy DCT encoder.

    Scale posture: decode is one map-side Arrow pass (no joins, no
    shuffle); per-blob output is a single stats row, so 100 TB of media
    reduces at scan speed."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    return MM.decode_jpeg(MM.make_jpeg_payload(docs))


# Thumbnail over the LOSSY codec: decode + floor-convention NN resample
# fused in one Arrow pass. Source pixel for thumbnail cell (x, y) is
# (sx, sy) = (x*w//4, y*16//3); its value follows the construction
# formula (block k = (sy//8)*nbx + sx//8, constant v_k, odd blocks
# shifted by the signed AC delta at column sx%8) — so the oracle replays
# BOTH the decoder and the resampler's index math per output pixel.
MM_JPEG_RESIZE_ORACLE = """
WITH d AS (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents),
dims AS (SELECT doc_id, nb % 4 + 2 AS nbx FROM d),
grid AS (SELECT doc_id, nbx, unnest(range(4)) AS x FROM dims),
g2 AS (SELECT doc_id, nbx, x, unnest(range(3)) AS y FROM grid),
src AS (SELECT doc_id, nbx, x, y,
               (x * nbx * 8) // 4 AS sx, (y * 16) // 3 AS sy
        FROM g2),
vals AS (SELECT doc_id, x, y, sx,
                (sy // 8) * nbx + (sx // 8) AS k,
                32 + (doc_id + 37 * ((sy // 8) * nbx + (sx // 8))) % 192 AS v
         FROM src)
SELECT doc_id, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST(v + CASE WHEN k % 2 = 0 THEN 0
                     ELSE (CASE WHEN v % 2 = 0 THEN 1 ELSE -1 END) *
                          (CASE sx % 8 WHEN 0 THEN 6 WHEN 1 THEN 5
                                       WHEN 2 THEN 3 WHEN 3 THEN 1
                                       WHEN 4 THEN -1 WHEN 5 THEN -3
                                       WHEN 6 THEN -5 ELSE -6 END)
                END AS BIGINT) AS px
FROM vals
"""


@register("mm_jpeg_resize", MM_JPEG_RESIZE_ORACLE)
def mm_jpeg_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL RESIZE over the LOSSY codec: each genuine baseline JPEG is
    fully entropy-decoded (canonical Huffman + dequant + IDCT) and
    resampled to the fixed 4x3 thumbnail with floor-convention
    nearest-neighbor — decode + resample in ONE Arrow mapInPandas pass,
    so native-resolution pixels never leave the executor (the
    vision-encoder preprocessor posture, same as mm_bmp_resize but
    behind a real compressed-format decode). Every output pixel is
    value-hash checked against the construction formula, which pins the
    decoder AND the resampler's index math per pixel — a stricter
    per-pixel oracle than mm_jpeg_decode's sums.

    Scale posture: map-side only; bounded 12-rows/image fan-out; the
    thumbnail, not the image, is what shuffles at 100 TB."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    return MM.resize_jpeg(MM.make_jpeg_payload(docs))


# --- REAL WAV decode (RIFF walk + signed PCM16 LE samples) ---------------
# Construction contract (operators/multimodal.py make_wav_payload):
# n = nb%200 + 50 samples; sample t = ((doc_id*31 + 7*t) % 65536) - 32768.
# The decoder must RIFF-walk (skipping the planted LIST chunk), validate
# the PCM16-mono fmt, and interpret the bytes as SIGNED little-endian to
# reproduce these integers.
MM_WAV_DECODE_ORACLE = f"""
WITH d AS (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents),
ns AS (SELECT doc_id, nb % 200 + 50 AS n FROM d),
ts AS (SELECT doc_id, unnest(range(n)) AS t FROM ns),
sm AS (SELECT doc_id, t // {MM.WAV_WIN} AS window_no,
              ((doc_id * 31 + 7 * t) % 65536) - 32768 AS s
       FROM ts)
SELECT doc_id,
       CAST(window_no AS BIGINT) AS window_no,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(s * s) AS BIGINT) AS sum_sq,
       CAST(max(s) AS BIGINT) AS peak,
       CAST(min(s) AS BIGINT) AS trough
FROM sm GROUP BY doc_id, window_no
"""


@register("mm_wav_decode", MM_WAV_DECODE_ORACLE)
def mm_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL AUDIO-CONTAINER DECODE — the audio stub surface empties for
    WAV: payloads are genuine RIFF/WAVE files built JVM-side (correct
    RIFF sizing, PCM fmt chunk, a planted LIST chunk a naive parser
    trips over, signed 16-bit LE samples spanning the full int16 range),
    and the Arrow-batched UDF decodes them the way any WAV reader must:
    word-aligned chunk walk, fmt validation, signed little-endian sample
    interpretation. Per-64-sample window sum-of-squares / peak / trough
    (the RMS/VAD/loudness reduction) in exact integers, every value
    replayed by the construction-formula oracle.

    Scale posture: decode + windowing is one map-side Arrow pass with
    bounded per-blob fan-out (<= 4 window rows); 100 TB of audio reduces
    at scan speed with no shuffle."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    return MM.wav_window_stats(MM.make_wav_payload(docs))


# --- REAL IMA-ADPCM decode (compressed audio: WAV format tag 0x11) -------
# Construction contract (operators/multimodal.py make_adpcm_payload):
# one block, pred0 = (doc_id*37)%2048 - 1024, fixed nibble pattern
# ADPCM_NIBBLES, initial step index 32, n = 2*(nb%96+24)+1 samples. The
# step-index trajectory depends only on the nibbles, so the signed
# deltas are fixed constants: sample_k = pred0 + C_k (no predictor
# clamp engages: |C_k| <= 397 and |pred0| <= 1024). The oracle inlines
# the prefix tables of C as list literals and replays count / sum /
# last / peak / trough per doc.


def _adpcm_const_tables() -> tuple[list[int], list[int], list[int], list[int]]:
    """(prefix_sum, last, running_max, running_min) of the fixed delta
    sequence C_0..C_238, 1-indexed by sample count n: ps[n] = sum of the
    first n C values, cl[n] = C_{n-1}, etc. Replays the IMA recurrence
    over the fixture's fixed nibble pattern only — pred0 never enters,
    which is what makes the oracle closed-form."""
    step_t, idx_t = MM.ADPCM_STEP_TABLE, MM.ADPCM_INDEX_TABLE
    c = [0]
    idx, cur = MM.ADPCM_INIT_INDEX, 0
    for k in range(238):  # max fixture length: 2*(95+24) nibbles
        nn = MM.ADPCM_NIBBLES[k % len(MM.ADPCM_NIBBLES)]
        step = step_t[idx]
        diff = step >> 3
        if nn & 4:
            diff += step
        if nn & 2:
            diff += step >> 1
        if nn & 1:
            diff += step >> 2
        cur = cur - diff if nn & 8 else cur + diff
        c.append(cur)
        idx = max(0, min(88, idx + idx_t[nn & 7]))
    ps, cl, cmx, cmn = [], [], [], []
    run = 0
    for i, v in enumerate(c):
        run += v
        ps.append(run)
        cl.append(v)
        cmx.append(max(c[: i + 1]))
        cmn.append(min(c[: i + 1]))
    return ps, cl, cmx, cmn


def _adpcm_oracle() -> str:
    ps, cl, cmx, cmn = _adpcm_const_tables()

    def lst(v: list[int]) -> str:
        return "[" + ",".join(str(x) for x in v) + "]"

    return f"""
WITH consts AS (SELECT {lst(ps)} AS ps, {lst(cl)} AS cl,
                       {lst(cmx)} AS cmx, {lst(cmn)} AS cmn),
d AS (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents),
p AS (SELECT doc_id, 2 * (nb % 96 + 24) + 1 AS n,
             (doc_id * 37) % 2048 - 1024 AS pred0 FROM d)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_samples,
       CAST(n * pred0 + ps[n] AS BIGINT) AS sum_s,
       CAST(pred0 + cl[n] AS BIGINT) AS last_s,
       CAST(pred0 + cmx[n] AS BIGINT) AS peak,
       CAST(pred0 + cmn[n] AS BIGINT) AS trough,
       TRUE AS ok
FROM p, consts
"""


@register("mm_adpcm_decode", _adpcm_oracle())
def mm_adpcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL COMPRESSED-AUDIO DECODE — the first compressed codec leaves
    the sanctioned stub: payloads are genuine IMA-ADPCM WAVs built
    JVM-side (tag-0x11 fmt chunk with wSamplesPerBlock, fact chunk,
    block header with per-doc int16 predictor + step index, 4-bit
    nibble stream), and the Arrow-batched UDF decodes them the way any
    IMA decoder must: RIFF walk, fmt validation, block parse,
    low-nibble-first entropy decode through the public step/index
    tables with both clamps. Per-doc count/sum/last/peak/trough in
    exact integers, every value replayed by the closed-form oracle
    (fixed nibble pattern => fixed delta constants; see
    _adpcm_const_tables).

    Scale posture: decode is one map-side Arrow pass (no joins, no
    shuffle); per-blob output is a single stats row, so 100 TB of
    compressed audio reduces at scan speed."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    return MM.decode_adpcm(MM.make_adpcm_payload(docs))


# --- REAL AVI frame sampling (video container: RIFF-AVI + DIB frames) ----
# Construction contract (operators/multimodal.py make_avi_payload):
# w = nb%4+1, h = nb%3+1, frames = nb%5+2; pixel byte of frame f at
# padded FILE row r (bottom-up), in-row offset j < 3w is
# (doc_id + 11*f + 13*r + 7*j) % 256, BGR channel order (j%3=2 is R).
# Whole-frame channel sums are flip-invariant, so top_row_sum — the TOP
# image row, i.e. file row h-1 — is what makes the DIB unflip
# load-bearing in the value hash.
MM_AVI_FRAME_ORACLE = f"""
WITH d AS (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents),
dims AS (SELECT doc_id, nb % 4 + 1 AS w, nb % 3 + 1 AS h, nb % 5 + 2 AS nf FROM d),
fs AS (SELECT doc_id, w, h, unnest(range(nf)) AS f FROM dims),
kept AS (SELECT * FROM fs WHERE f % {MM.AVI_SAMPLE_EVERY} = 0),
rws AS (SELECT doc_id, w, h, f, unnest(range(h)) AS r FROM kept),
px AS (
  SELECT doc_id, h, f, r, j,
         (doc_id + 11*f + 13*r + 7*j) % 256 AS v
  FROM (SELECT doc_id, w, h, f, r, unnest(range(w * 3)) AS j FROM rws)
)
SELECT doc_id, CAST(f AS BIGINT) AS frame_no,
       CAST(SUM(CASE WHEN j % 3 = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN j % 3 = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN j % 3 = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_b,
       CAST(SUM(CASE WHEN r = h - 1 THEN v ELSE 0 END) AS BIGINT) AS top_row_sum
FROM px
GROUP BY doc_id, f
"""


@register("mm_avi_frame_sample", MM_AVI_FRAME_ORACLE)
def mm_avi_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL VIDEO-CONTAINER FRAME SAMPLING — the video stub surface
    empties for AVI: payloads are genuine RIFF-AVI files built JVM-side
    (full hdrl with avih/strh/strf, a planted JUNK chunk, movi LIST of
    uncompressed 24-bpp DIB frames), and the Arrow-batched UDF does what
    any AVI reader must: word-aligned RIFF walk, stream-header
    validation, per-'00db'-chunk DIB decode with the bottom-up row flip.
    Every 2nd frame is kept (the frame-sampler the prompt's video
    preprocessing calls for) and reduced to exact integer channel sums +
    the top image row's intensity — the latter breaks if the flip is
    skipped, so the decode is load-bearing in the value hash.

    Scale posture: one map-side Arrow pass, bounded fan-out (<= 3 kept
    frames/blob); the sampled STATS shuffle, never the frames — at 100
    TB of video that is the difference between a working pipeline and a
    network-bound one."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    return MM.avi_frame_sample(MM.make_avi_payload(docs))


# --- REAL G.711 mu-law decode (companded audio: WAV format tag 7) --------
# Construction contract (operators/multimodal.py make_mulaw_payload):
# n = nb%120+40 companded bytes, byte t = (doc_id*13 + 7*t) % 256. The
# expansion is a closed-form integer formula per byte (no recurrence),
# so the oracle replays it directly: u = 255 - code,
# t = ((u%16)*8 + 132) << ((u//16)%8), sample = +-(t - 132).
MM_MULAW_DECODE_ORACLE = """
WITH d AS (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents),
p AS (SELECT doc_id, nb % 120 + 40 AS n FROM d),
c AS (SELECT doc_id, n, t, 255 - (doc_id * 13 + 7 * t) % 256 AS u
      FROM (SELECT doc_id, n, unnest(range(n)) AS t FROM p)),
v AS (SELECT doc_id, n, t,
             CASE WHEN u >= 128
                  THEN 132 - ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8))
                  ELSE ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) - 132
             END AS s
      FROM c)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_samples,
       CAST(SUM(s) AS BIGINT) AS sum_s,
       CAST(MAX(CASE WHEN t = n - 1 THEN s END) AS BIGINT) AS last_s,
       CAST(MAX(s) AS BIGINT) AS peak,
       CAST(MIN(s) AS BIGINT) AS trough,
       TRUE AS ok
FROM v GROUP BY doc_id, n
"""


@register("mm_mulaw_decode", MM_MULAW_DECODE_ORACLE)
def mm_mulaw_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL COMPANDED-AUDIO DECODE — G.711 mu-law, the telephony codec
    (8-bit logarithmic PCM): payloads are genuine WAVE_FORMAT_MULAW WAVs
    built JVM-side (18-byte extended fmt chunk, fact chunk, word-aligned
    data with the odd-length pad byte), and the Arrow-batched UDF
    decodes them the way any G.711 reader must: RIFF walk, tag-7
    validation, per-byte segment/mantissa expansion through the exact
    ITU-T formula, fact truncation. Every code value 0..255 occurs
    across the corpus, so the full expansion range (+-32124, both zero
    codes) is load-bearing under the value hash; unlike ADPCM there is
    no recurrence, so the oracle replays the formula per byte with no
    fixed-pattern trick.

    Scale posture: decode is one map-side Arrow pass (no joins, no
    shuffle); per-blob output is a single stats row, so 100 TB of
    telephony audio reduces at scan speed."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    return MM.decode_mulaw(MM.make_mulaw_payload(docs))


# --- REAL GIF/LZW decode (compressed image: variable-width LZW) ----------
# Construction contract (operators/multimodal.py make_gif_payload):
# w = nb%7+1, h = nb%5+1, INTERLACED, pixel index at row-major FILE
# position k is (doc_id + 9*k) % 128, 128-entry palette
# ((2i)%256, (3i)%256, (5i)%256). Channel sums are permutation-invariant
# but row1_sum reads DISPLAY row 1, whose file row under the four-pass
# interlace is h-dependent (h=2->1, h=3->2, h=4->2, h=5->3) — the
# deinterlace is load-bearing in the value hash.
MM_GIF_DECODE_ORACLE = """
WITH d AS (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents),
dims AS (SELECT doc_id, nb % 7 + 1 AS w, nb % 5 + 1 AS h FROM d),
fr AS (SELECT doc_id, w, h,
              CASE h WHEN 2 THEN 1 WHEN 3 THEN 2 WHEN 4 THEN 2
                     WHEN 5 THEN 3 ELSE -1 END AS r1
       FROM dims),
px AS (SELECT doc_id, w, h, r1, k, (doc_id + 9 * k) % 128 AS p
       FROM (SELECT doc_id, w, h, r1, unnest(range(w * h)) AS k FROM fr))
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(SUM((2 * p) % 256) AS BIGINT) AS sum_r,
       CAST(SUM((3 * p) % 256) AS BIGINT) AS sum_g,
       CAST(SUM((5 * p) % 256) AS BIGINT) AS sum_b,
       CAST(COALESCE(SUM(CASE WHEN r1 >= 0 AND k >= r1 * w
                               AND k < (r1 + 1) * w
                          THEN (2*p) % 256 + (3*p) % 256 + (5*p) % 256
                          END), 0) AS BIGINT) AS row1_sum,
       TRUE AS ok
FROM px GROUP BY doc_id, w, h, r1
"""


@register("mm_gif_decode", MM_GIF_DECODE_ORACLE)
def mm_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL LZW IMAGE DECODE — the second compressed image codec leaves
    the sanctioned stub (only perceptual MP3/AAC/H.264 remain): payloads
    are genuine interlaced GIF89a files built JVM-side (logical screen
    descriptor, 128-entry global color table, graphic-control + comment
    extensions, multi-sub-block LZW data), and the Arrow-batched UDF
    decodes them the way any GIF reader must: extension sub-block walk,
    color-table load, sub-block reassembly, full variable-width LZW
    decode (clear/EOI/KwKwK/width bumps), four-pass deinterlace, palette
    mapping. Per-doc dims + exact integer channel sums + display-row-1
    intensity, every value replayed by the closed-form oracle (the
    fixture's codes are all literal roots with periodic Clears — see the
    multimodal.py section comment — so pixel k is (doc_id + 9*k) % 128
    and the interlace mapping is a CASE on h).

    Scale posture: decode is one map-side Arrow pass (no joins, no
    shuffle); per-blob output is a single stats row, so 100 TB of
    compressed images reduces at scan speed."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    return MM.decode_gif(MM.make_gif_payload(docs))


# --- Heterogeneous media lake: one decode pass over mixed containers -----
def _dispatch_oracle() -> str:
    ps = _adpcm_const_tables()[0]
    ps_lit = "[" + ",".join(str(x) for x in ps) + "]"
    return f"""
WITH d AS (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents),
bmp AS (
  SELECT doc_id, 'bmp' AS kind, CAST(w * h AS BIGINT) AS n_units,
         CAST(SUM((doc_id + 13*r + 7*j) % 256) AS BIGINT) AS checksum
  FROM (
    SELECT doc_id, w, h, r, unnest(range(w*3)) AS j
    FROM (SELECT doc_id, w, h, unnest(range(h)) AS r
          FROM (SELECT doc_id, nb%8+1 AS w, nb%6+1 AS h FROM d WHERE doc_id % 8 = 0))
  ) GROUP BY doc_id, w, h
),
png AS (
  SELECT doc_id, 'png' AS kind, CAST(w * h AS BIGINT) AS n_units,
         CAST(SUM((doc_id + 17*r + 5*j*j) % 256) AS BIGINT) AS checksum
  FROM (
    SELECT doc_id, w, h, r, unnest(range(w*3)) AS j
    FROM (SELECT doc_id, w, h, unnest(range(h)) AS r
          FROM (SELECT doc_id, nb%5+1 AS w, nb%4+1 AS h FROM d WHERE doc_id % 8 = 1))
  ) GROUP BY doc_id, w, h
),
wav AS (
  SELECT doc_id, 'wav' AS kind, CAST(n AS BIGINT) AS n_units,
         CAST(SUM((doc_id*31 + 7*t) % 65536) AS BIGINT) AS checksum
  FROM (SELECT doc_id, n, unnest(range(n)) AS t
        FROM (SELECT doc_id, nb%200+50 AS n FROM d WHERE doc_id % 8 = 2))
  GROUP BY doc_id, n
),
avi AS (
  SELECT doc_id, 'avi' AS kind, CAST(nf AS BIGINT) AS n_units,
         CAST(SUM((doc_id + 11*f + 13*r + 7*j) % 256) AS BIGINT) AS checksum
  FROM (
    SELECT doc_id, nf, f, r, unnest(range(w*3)) AS j
    FROM (
      SELECT doc_id, w, nf, f, unnest(range(h)) AS r
      FROM (SELECT doc_id, w, h, nf, unnest(range(nf)) AS f
            FROM (SELECT doc_id, nb%4+1 AS w, nb%3+1 AS h, nb%5+2 AS nf
                  FROM d WHERE doc_id % 8 = 3))
    )
  ) GROUP BY doc_id, nf
),
jpg AS (
  SELECT doc_id, 'jpeg' AS kind, CAST(nbx * 8 * 16 AS BIGINT) AS n_units,
         CAST(SUM(64 * (32 + (doc_id + 37*k) % 192)) AS BIGINT) AS checksum
  FROM (SELECT doc_id, nbx, unnest(range(nbx * 2)) AS k
        FROM (SELECT doc_id, nb%4+2 AS nbx FROM d WHERE doc_id % 8 = 4))
  GROUP BY doc_id, nbx
),
adp AS (
  SELECT doc_id, 'adpcm' AS kind, CAST(n AS BIGINT) AS n_units,
         CAST(n * (pred0 + 32768) + ps[n] AS BIGINT) AS checksum
  FROM (SELECT doc_id, 2*(nb%96+24)+1 AS n, (doc_id*37)%2048-1024 AS pred0
        FROM d WHERE doc_id % 8 = 5),
       (SELECT {ps_lit} AS ps)
),
gif AS (
  SELECT doc_id, 'gif' AS kind, CAST(w * h AS BIGINT) AS n_units,
         CAST(SUM((2*p) % 256 + (3*p) % 256 + (5*p) % 256) AS BIGINT)
           AS checksum
  FROM (
    SELECT doc_id, w, h, (doc_id + 9 * k) % 128 AS p
    FROM (SELECT doc_id, w, h, unnest(range(w * h)) AS k
          FROM (SELECT doc_id, nb%7+1 AS w, nb%5+1 AS h
                FROM d WHERE doc_id % 8 = 6))
  ) GROUP BY doc_id, w, h
),
mlw AS (
  SELECT doc_id, 'mulaw' AS kind, CAST(n AS BIGINT) AS n_units,
         CAST(SUM(CASE WHEN u >= 128
                  THEN 132 - ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8))
                  ELSE ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) - 132
                  END + 32768) AS BIGINT) AS checksum
  FROM (
    SELECT doc_id, n, 255 - (doc_id * 13 + 7 * t) % 256 AS u
    FROM (SELECT doc_id, n, unnest(range(n)) AS t
          FROM (SELECT doc_id, nb % 120 + 40 AS n
                FROM d WHERE doc_id % 8 = 7))
  ) GROUP BY doc_id, n
)
SELECT * FROM bmp UNION ALL SELECT * FROM png
UNION ALL SELECT * FROM wav UNION ALL SELECT * FROM avi
UNION ALL SELECT * FROM jpg UNION ALL SELECT * FROM adp
UNION ALL SELECT * FROM gif UNION ALL SELECT * FROM mlw
"""


@register("mm_dispatch_decode", _dispatch_oracle())
def mm_dispatch_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HETEROGENEOUS MEDIA LAKE: the corpus lands as a mixed binary
    column — each doc a genuine BMP, PNG, WAV, AVI, baseline JPEG,
    IMA-ADPCM WAV, interlaced GIF, or G.711 mu-law WAV by doc_id residue
    — and ONE Arrow-batched pass sniffs the container by magic bytes
    (extensions don't survive object stores) and dispatches to the real
    decoder: BMP pixel slice, PNG inflate+unfilter, WAV RIFF walk, AVI
    frame walk, JPEG entropy decode + IDCT, ADPCM nibble decode and
    mu-law expansion (the PCM-then-ADPCM-then-mu-law fall-through inside
    the RIFF/WAVE branch), GIF LZW decode + deinterlace. Normalized
    (kind, unit count, exact integer checksum of every decoded value)
    output means the value hash exercises all eight decode paths in a
    single oracled query — the realistic shape of a multimodal curation
    pipeline's first stage.

    Scale posture: the mixed column is built branch-per-format and
    unioned (all map-side; the union is plan-level, no shuffle), decode
    is one mapInPandas pass, output is one row per blob. 100 TB of
    mixed media reduces at scan speed."""
    from functools import reduce

    from ntd_gtfs_to_socrata_spark.operators.stagecache import stage_boundary

    # six branches re-list the rebalanced scan; per-branch column pruning
    # breaks AQE exchange reuse, so without a boundary the single-file
    # fixture pays SIX rebalance shuffles (plan audit r12). One persisted
    # stage = one exchange, every branch reads the cache; against a real
    # multi-file lake the rebalance is a no-op and the boundary merely
    # dedupes the scan.
    docs = stage_boundary(
        ensure_min_parallelism(load_table(spark, sf_dir, "documents")),
        "mm_dispatch_docs",
    )
    parts = [
        MM.make_bmp_payload(docs.filter(F.col("doc_id") % 8 == 0)),
        MM.make_png_payload(docs.filter(F.col("doc_id") % 8 == 1)),
        MM.make_wav_payload(docs.filter(F.col("doc_id") % 8 == 2)),
        MM.make_avi_payload(docs.filter(F.col("doc_id") % 8 == 3)),
        MM.make_jpeg_payload(docs.filter(F.col("doc_id") % 8 == 4)),
        MM.make_adpcm_payload(docs.filter(F.col("doc_id") % 8 == 5)),
        MM.make_gif_payload(docs.filter(F.col("doc_id") % 8 == 6)),
        MM.make_mulaw_payload(docs.filter(F.col("doc_id") % 8 == 7)),
    ]
    blobs = reduce(lambda a, b: a.unionByName(b), parts)
    # the 8-branch union multiplies partition count by 8 (each branch
    # inherits the full scan's partitioning while holding 1/8 of the
    # rows), so the decode pays 8x the Arrow/Python task round-trips for
    # the same bytes — measured 3.0s vs 0.5s at sf0.1. A narrow coalesce
    # back to the session's parallelism merges branch partitions without
    # a shuffle; on a real lake the same cap keeps decode tasks at
    # healthy Arrow-batch granularity.
    blobs = blobs.coalesce(spark.sparkContext.defaultParallelism)
    return MM.dispatch_decode(blobs)

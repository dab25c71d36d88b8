"""Multimodal column handling (north-star extension).

Media (image/audio/video) are opaque ``binary`` columns plus typed
metadata, the lakehouse-native layout for multimodal training data. The
Spark-side plumbing — schemas, Arrow-batched ``mapInPandas`` UDFs, batch
shapes — is real and tested. Codec status: BMP pixel decode, PNG pixel
decode (stdlib zlib inflate + real scanline unfiltering), baseline JPEG
decode (full entropy decode: canonical Huffman, byte unstuffing, RSTn,
run-length AC, dezigzag, dequantize, float IDCT, YCbCr->RGB), NN resize,
and PNG/JPEG/BMP header parsing are REAL implementations with no library
dependency, as are WAV audio decode (RIFF chunk walk + signed PCM16 LE
samples) and AVI frame sampling, and IMA-ADPCM compressed-audio decode
(WAV format tag 0x11: block parse + 4-bit predictive nibble decode);
only PERCEPTUAL codecs (MP3/AAC, H.264 etc.) remain STUBBED with a
deterministic fake (this container has no codec libraries), clearly
marked below, so swapping in ffmpeg is a one-function change.

Reference analog: the GTFS .zip payload round-trip
(/root/reference/publish_to_catalog.py:316-320, 451-454) — bytes in a
column, processed by an adapter, never interpreted by the engine itself.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import lru_cache

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODE_SCHEMA = (
    "doc_id long, n_bytes long, format string, width long, height long, ok boolean"
)


def attach_payload(docs: DataFrame) -> DataFrame:
    """Materialize a binary payload column + metadata struct from text
    (stand-in for `spark.read.format('binaryFile')` on a media lake)."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.col("source").alias("uri"),
            F.col("lang").alias("container"),
            F.length(F.col("text")).cast("long").alias("declared_size"),
        ).alias("media_meta"),
    )


def fake_decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB DECODER (deterministic fake).

    Real implementation would be e.g.::

        from PIL import Image; import io
        img = Image.open(io.BytesIO(payload))  # NotImplementedError here

    The fake derives width/height from byte length so results are
    reproducible and oracle-checkable; everything around it (Arrow batch
    iteration, schema contract, per-partition execution) is the production
    plumbing.
    """
    for pdf in batches:
        n_bytes = pdf["payload"].map(len)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": n_bytes,
                "format": n_bytes.map(lambda n: "png" if n % 2 == 0 else "jpeg"),
                "width": n_bytes % 640 + 1,
                "height": (n_bytes // 640) % 480 + 1,
                "ok": True,
            }
        )


def decode_media(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched decode over partitions — the pattern that scales:
    each task decodes its partition's blobs in pandas batches, no
    driver-side loop, no per-row Python overhead."""
    return with_payload.select("doc_id", "payload").mapInPandas(
        fake_decode_batch, schema=DECODE_SCHEMA
    )


AUDIO_WINDOW_SCHEMA = (
    "doc_id long, window_no int, n_samples long, sum_sq long, peak long"
)

_AUDIO_WIN = 100  # samples per analysis window


def audio_window_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB AUDIO DECODER + real windowed feature extraction.

    A real implementation decodes the container first (e.g.
    ``soundfile.read(io.BytesIO(payload))`` — not available in this
    container); the stub treats the payload bytes AS the 8-bit PCM
    samples. Everything downstream — numpy-vectorized per-window
    sum-of-squares / peak over Arrow batches — is the production shape
    for distributed audio feature extraction (RMS/VAD/loudness). Outputs
    are integers, so results are bit-exact across engines and batch
    orders."""
    import numpy as np

    for pdf in batches:
        out: dict[str, list] = {k: [] for k in ("doc_id", "window_no", "n_samples", "sum_sq", "peak")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            samples = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
            for w in range(0, max(len(samples), 1), _AUDIO_WIN):
                win = samples[w : w + _AUDIO_WIN]
                out["doc_id"].append(doc_id)
                out["window_no"].append(w // _AUDIO_WIN)
                out["n_samples"].append(len(win))
                out["sum_sq"].append(int((win * win).sum()))
                out["peak"].append(int(win.max()) if len(win) else 0)
        yield pd.DataFrame(out)


def audio_window_stats(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched windowed audio features (stub codec, real plumbing):
    one output row per 100-sample analysis window per blob."""
    return with_payload.select("doc_id", "payload").mapInPandas(
        audio_window_batch, schema=AUDIO_WINDOW_SCHEMA
    )


PHASH_SCHEMA = "doc_id long, b0 int, b1 int, b2 int, b3 int"


def phash_band_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB PERCEPTUAL HASH (blockhash shape) + real Arrow plumbing.

    A real pipeline computes pHash/blockhash on the DECODED grayscale
    image (e.g. ``imagehash.phash(Image.open(...))`` — codec unavailable
    here); the stub runs the actual blockhash algorithm on the payload
    BYTES: split the byte stream into 64 equal blocks, bit_i = 1 iff
    64·sum(block_i) > sum(all bytes) (integer-exact mean comparison).
    The 64 bits are returned as four 16-bit band values — the banding
    layout the Hamming-LSH bucket join consumes — so no 2^63 overflow
    ambiguity across engines. Block sums come from one cumulative sum
    (correct for empty blocks when n < 64, unlike reduceat)."""
    import numpy as np

    for pdf in batches:
        out = {k: [] for k in ("doc_id", "b0", "b1", "b2", "b3")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
            n = len(arr)
            bands = [0, 0, 0, 0]
            if n:
                cs = np.concatenate(([0], np.cumsum(arr)))
                total = int(cs[-1])
                lo = (np.arange(64) * n) // 64
                hi = ((np.arange(64) + 1) * n) // 64
                bits = (64 * (cs[hi] - cs[lo])) > total
                for j in range(4):
                    band = 0
                    for k in range(16):
                        band |= int(bits[16 * j + k]) << k
                    bands[j] = band
            out["doc_id"].append(doc_id)
            for j in range(4):
                out[f"b{j}"].append(bands[j])
        yield pd.DataFrame(out)


def phash_bands(with_payload: DataFrame) -> DataFrame:
    """Per-blob 64-bit perceptual hash as four 16-bit bands, Arrow-batched."""
    return with_payload.select("doc_id", "payload").mapInPandas(
        phash_band_batch, schema=PHASH_SCHEMA
    )


FRAME_INTENSITY_SCHEMA = "doc_id long, frame_no int, intensity long"

_FRAME_BYTES = 100  # bytes per (stub) frame


def frame_intensity_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB FRAME DECODER + real per-frame reduction: a real pipeline
    decodes frames and takes mean luma; the stub reads each 100-byte
    payload slice as the frame and sums its bytes (integer => bit-exact
    across engines). Same cumulative-sum slicing as ``phash_band_batch``."""
    import numpy as np

    for pdf in batches:
        out = {k: [] for k in ("doc_id", "frame_no", "intensity")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
            # empty payload => zero frames, matching the oracle's
            # ceil(len/100) frame count (0 when len = 0) — see ADVICE r6
            for i in range(0, len(arr), _FRAME_BYTES):
                out["doc_id"].append(doc_id)
                out["frame_no"].append(i // _FRAME_BYTES)
                out["intensity"].append(int(arr[i : i + _FRAME_BYTES].sum()))
        yield pd.DataFrame(out)


def frame_intensities(with_payload: DataFrame) -> DataFrame:
    """Per-frame intensity rows, Arrow-batched."""
    return with_payload.select("doc_id", "payload").mapInPandas(
        frame_intensity_batch, schema=FRAME_INTENSITY_SCHEMA
    )


# ---------------------------------------------------------------------------
# Real container headers (r7 verdict item 6): the payloads below carry
# genuine PNG signatures / IHDR chunks and JPEG JFIF+SOF0 segments, built
# JVM-side, and the parser reads them with pure-Python struct parsing —
# no codec dependency. Only PIXEL decode remains stubbed above.
# ---------------------------------------------------------------------------

PNG_SIG = b"\x89PNG\r\n\x1a\n"
# IHDR dims are untrusted 32-bit ints; cap them so expected-output sizing
# (h*(3w+1)) can't overflow into a multi-GiB allocation on hostile input.
_PNG_MAX_DIM = 1 << 14
JPEG_SOI = b"\xff\xd8"

HEADER_SCHEMA = (
    "doc_id long, format string, width long, height long, bit_depth long, "
    "channels long, n_bytes long, ok boolean"
)


def _be(col, n_bytes: int):
    """Integer column → big-endian binary of n_bytes (JVM-side: hex +
    left-pad + unhex — no UDF)."""
    return F.unhex(F.lpad(F.hex(col), 2 * n_bytes, "0"))


def make_image_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload, media_meta) where payload is a REAL image
    container header followed by the doc's text bytes as stand-in pixel
    data: even doc_ids get a PNG signature + IHDR chunk (+ 4-byte CRC
    slot), odd get JPEG SOI + JFIF APP0 + SOF0. Dimensions and channel
    counts derive from octet_length(text)/doc_id so a SQL oracle can
    replay the integers while the Spark side genuinely round-trips
    through container bytes.

    Construction is all Column expressions (concat of binary literals +
    hex/unhex big-endian fields) — building a 100 TB media-lake fixture
    never leaves the JVM."""
    nb = F.octet_length("text")
    width = (nb % 640 + 1).cast("int")
    height = (nb % 480 + 1).cast("int")
    body = F.encode(F.col("text"), "UTF-8")
    # PNG: color_type 6 (RGBA) when doc_id%3==0 else 2 (RGB)
    color_type = F.when(F.col("doc_id") % 3 == 0, F.lit(6)).otherwise(F.lit(2))
    ihdr_data = F.concat(
        _be(width, 4),
        _be(height, 4),
        F.lit(b"\x08"),  # bit depth
        _be(color_type, 1),
        F.lit(b"\x00\x00\x00"),  # compression / filter / interlace
    )
    png = F.concat(
        F.lit(PNG_SIG),
        F.lit(b"\x00\x00\x00\x0dIHDR"),  # length 13 + chunk type
        ihdr_data,
        F.lit(b"\x00\x00\x00\x00"),  # CRC slot (not validated by parser)
        body,
    )
    # JPEG: components 1 (grayscale) when doc_id%3==0 else 3 (YCbCr)
    n_comp = F.when(F.col("doc_id") % 3 == 0, F.lit(1)).otherwise(F.lit(3))
    app0 = F.lit(b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    comp_specs = F.when(
        F.col("doc_id") % 3 == 0, F.lit(b"\x01\x11\x00")
    ).otherwise(F.lit(b"\x01\x22\x00\x02\x11\x01\x03\x11\x01"))
    sof0 = F.concat(
        F.lit(b"\xff\xc0"),
        _be(F.lit(8) + 3 * n_comp, 2),  # segment length
        F.lit(b"\x08"),  # precision
        _be(height, 2),
        _be(width, 2),
        _be(n_comp, 1),
        comp_specs,
    )
    jpeg = F.concat(F.lit(JPEG_SOI), app0, sof0, body)
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, png).otherwise(jpeg).alias("payload"),
        F.struct(
            F.col("source").alias("uri"),
            F.col("lang").alias("container"),
            nb.cast("long").alias("declared_size"),
        ).alias("media_meta"),
    )


def parse_header(b) -> tuple:
    """Pure-Python PNG/JPEG HEADER parse (format, width, height,
    bit_depth, channels, ok). Reads the real byte layout: PNG 8-byte
    signature + IHDR fields; JPEG marker walk (skipping APP/other
    segments by their length fields) to the first SOF0-SOF3 frame
    header. Truncated or malformed containers return ok=False — errors
    as data, the S4 discipline."""
    import struct

    b = bytes(b or b"")
    if b[:8] == PNG_SIG:
        if len(b) < 26 or b[12:16] != b"IHDR":
            return ("png", None, None, None, None, False)
        w, h = struct.unpack(">II", b[16:24])
        depth, color_type = b[24], b[25]
        channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
        return ("png", w, h, depth, channels, channels is not None)
    if b[:2] == JPEG_SOI:
        i = 2
        while i + 4 <= len(b):
            if b[i] != 0xFF:
                break
            # runs of 0xFF are legal fill/padding before a marker — skip
            # them instead of treating 0xFF as a marker id (advisor r8)
            j = i + 1
            while j < len(b) and b[j] == 0xFF:
                j += 1
            if j + 1 > len(b):
                break
            marker = b[j]
            i = j - 1  # so i+1 is the marker byte below
            if marker == 0xDA:
                # SOS: entropy-coded data follows — no SOF seen, stop
                break
            if marker in (0x01,) or 0xD0 <= marker <= 0xD9:
                i += 2
                continue
            if i + 4 > len(b):
                break
            (seg_len,) = struct.unpack(">H", b[i + 2 : i + 4])
            if marker in (0xC0, 0xC1, 0xC2, 0xC3) and i + 10 <= len(b):
                depth = b[i + 4]
                h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                return ("jpeg", w, h, depth, b[i + 9], True)
            i += 2 + seg_len
        return ("jpeg", None, None, None, None, False)
    return ("unknown", None, None, None, None, False)


def parse_header_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched header parse — REAL parsing of real container bytes
    (pure Python, no codec library); contrast with fake_decode_batch,
    which stubs pixel decode."""
    for pdf in batches:
        parsed = [parse_header(p) for p in pdf["payload"]]
        out = pd.DataFrame(
            parsed,
            columns=["format", "width", "height", "bit_depth", "channels", "ok"],
        )
        out.insert(0, "doc_id", pdf["doc_id"].values)
        out["n_bytes"] = pdf["payload"].map(len).values
        yield out[
            [
                "doc_id",
                "format",
                "width",
                "height",
                "bit_depth",
                "channels",
                "n_bytes",
                "ok",
            ]
        ]


def parse_image_headers(with_payload: DataFrame) -> DataFrame:
    """Header metadata for every blob via mapInPandas — the ingest-time
    scan that catalogs a media lake without decoding a single pixel."""
    return with_payload.select("doc_id", "payload").mapInPandas(
        parse_header_batch, schema=HEADER_SCHEMA
    )


# ---------------------------------------------------------------------------
# REAL pixel decode (r8 verdict task 4): BMP is uncompressed, so actual
# pixel math needs no codec library — the builder emits genuine 24-bpp
# bottom-up BMP files (BITMAPFILEHEADER + BITMAPINFOHEADER + padded BGR
# rows) entirely in Column expressions, and the decoder reads real pixel
# bytes with numpy struct math. For BMP the stub surface is EMPTY: headers
# AND pixels are both real bytes, really parsed.
# ---------------------------------------------------------------------------

BMP_MAGIC = b"BM"
BMP_DECODE_SCHEMA = (
    "doc_id long, width long, height long, sum_r long, sum_g long, "
    "sum_b long, ok boolean"
)
BMP_ROW_SCHEMA = "doc_id long, y long, intensity long"


def _le(col, n_bytes: int):
    """Integer column → little-endian binary of n_bytes (JVM-side)."""
    c = col.cast("long") if hasattr(col, "cast") else F.lit(col).cast("long")
    return F.concat(
        *[_be((c / (256**i)).cast("long") % 256, 1) for i in range(n_bytes)]
    )


def make_bmp_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload) where payload is a REAL 24-bpp BMP whose pixel
    bytes derive deterministically from (doc_id, file position): the byte
    at padded-row r, in-row offset j < 3*width is (doc_id + 13*r + 7*j) %
    256; row padding to a 4-byte boundary is zeros. width = nb%8+1,
    height = nb%6+1 with nb = octet_length(text), so dims and every pixel
    are SQL-replayable while the Spark side genuinely round-trips through
    container bytes. All Column expressions (binary concat + an aggregate
    fold over the byte index sequence) — fixture construction never
    leaves the JVM."""
    nb = F.octet_length("text")
    w = (nb % 8 + 1).cast("long")
    h = (nb % 6 + 1).cast("long")
    stride = (F.floor((w * 3 + 3) / 4) * 4).cast("long")
    img_size = (h * stride).cast("long")
    header = F.concat(
        F.lit(BMP_MAGIC),
        _le(img_size + 54, 4),  # file size
        F.lit(b"\x00\x00\x00\x00"),  # reserved
        _le(F.lit(54), 4),  # pixel-array offset
        _le(F.lit(40), 4),  # BITMAPINFOHEADER size
        _le(w, 4),
        _le(h, 4),  # positive height => bottom-up row order
        _le(F.lit(1), 2),  # planes
        _le(F.lit(24), 2),  # bits per pixel
        _le(F.lit(0), 4),  # BI_RGB (uncompressed)
        _le(img_size, 4),
        _le(F.lit(2835), 4),  # 72 DPI
        _le(F.lit(2835), 4),
        _le(F.lit(0), 4),
        _le(F.lit(0), 4),
    )
    idx = F.sequence(F.lit(0).cast("long"), img_size - 1)
    pixels = F.aggregate(
        idx,
        F.lit(b""),
        lambda acc, i: F.concat(
            acc,
            _be(
                F.when(
                    i % stride < w * 3,
                    (F.col("doc_id") + 13 * F.floor(i / stride) + 7 * (i % stride))
                    % 256,
                ).otherwise(F.lit(0)),
                1,
            ),
        ),
    )
    return docs.select(
        "doc_id", F.concat(header, pixels).alias("payload")
    )


def _parse_bmp(b: bytes):
    """Parse a 24-bpp uncompressed BMP; returns (w, h, pixel ndarray of
    shape (h, w, 3) in image order / BGR channels) or None if malformed."""
    import struct

    import numpy as np

    if len(b) < 54 or b[:2] != BMP_MAGIC:
        return None
    offset, hdr_size = struct.unpack_from("<II", b, 10)
    w, h = struct.unpack_from("<ii", b, 18)
    planes, bpp = struct.unpack_from("<HH", b, 26)
    (comp,) = struct.unpack_from("<I", b, 30)
    if hdr_size < 40 or planes != 1 or bpp != 24 or comp != 0 or w <= 0 or h == 0:
        return None
    top_down = h < 0
    h = abs(h)
    stride = ((w * 3 + 3) // 4) * 4
    if len(b) < offset + stride * h:
        return None
    arr = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=offset)
    rows = arr.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        rows = rows[::-1]  # bottom-up file order -> image order
    return w, h, rows.astype(np.int64)


def bmp_decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """REAL PIXEL DECODE (no stub, no codec): per blob, parse the BMP
    headers, slice the padded BGR rows, and reduce to integer per-channel
    sums — exact on any engine. Malformed payloads return ok=False with
    null stats (errors as data, the S4 discipline)."""
    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            parsed = _parse_bmp(bytes(payload or b""))
            if parsed is None:
                out.append((doc_id, None, None, None, None, None, False))
                continue
            w, h, img = parsed
            out.append(
                (
                    doc_id,
                    w,
                    h,
                    int(img[..., 2].sum()),  # BMP stores BGR: R is byte 2
                    int(img[..., 1].sum()),
                    int(img[..., 0].sum()),
                    True,
                )
            )
        yield pd.DataFrame(
            out,
            columns=["doc_id", "width", "height", "sum_r", "sum_g", "sum_b", "ok"],
        )


def decode_bmp(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched real BMP pixel decode: dims + exact channel sums."""
    return with_payload.select("doc_id", "payload").mapInPandas(
        bmp_decode_batch, schema=BMP_DECODE_SCHEMA
    )


def bmp_row_intensity_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Per-IMAGE-row pixel intensity (sum of the row's BGR bytes) from
    real decoded pixels — row y=0 is the TOP image row, so the bottom-up
    file layout is genuinely exercised (a decoder that forgets the flip
    hash-mismatches the oracle)."""
    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            parsed = _parse_bmp(bytes(payload or b""))
            if parsed is None:
                continue
            _, h, img = parsed
            row_sums = img.sum(axis=(1, 2))
            out.extend((doc_id, y, int(row_sums[y])) for y in range(h))
        yield pd.DataFrame(out, columns=["doc_id", "y", "intensity"])


def bmp_row_intensities(with_payload: DataFrame) -> DataFrame:
    """One row per image row per blob, Arrow-batched — the fan-out stage
    scene-cut detection consumes."""
    return with_payload.select("doc_id", "payload").mapInPandas(
        bmp_row_intensity_batch, schema=BMP_ROW_SCHEMA
    )


# Fixed thumbnail geometry: sources span 1..8 x 1..6, so 4x3 exercises
# BOTH directions (up-sample narrow/short images, down-sample wide/tall).
RESIZE_W = 4
RESIZE_H = 3
BMP_RESIZE_SCHEMA = "doc_id long, x long, y long, r long, g long, b long"


def bmp_resize_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """REAL nearest-neighbor resize over real decoded pixels: each output
    cell (x, y) of the fixed RESIZE_W x RESIZE_H thumbnail reads source
    pixel (floor(x*w/W), floor(y*h/H)) in image order — the standard NN
    sampler (what PIL's Image.NEAREST computes, minus its +0.5 center
    offset; the floor convention is pinned so the oracle can replay it).
    Channels come back RGB from the BMP's BGR bytes. Malformed payloads
    yield no rows (errors-as-data handled upstream by decode_bmp)."""
    import numpy as np

    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            parsed = _parse_bmp(bytes(payload or b""))
            if parsed is None:
                continue
            w, h, img = parsed
            xs = (np.arange(RESIZE_W) * w) // RESIZE_W
            ys = (np.arange(RESIZE_H) * h) // RESIZE_H
            small = img[np.ix_(ys, xs)]  # (H, W, 3) BGR, image order
            for y in range(RESIZE_H):
                for x in range(RESIZE_W):
                    bb, gg, rr = small[y, x]
                    out.append((doc_id, x, y, int(rr), int(gg), int(bb)))
        yield pd.DataFrame(out, columns=["doc_id", "x", "y", "r", "g", "b"])


def resize_bmp(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched thumbnail resize: one row per output pixel per blob
    (W*H rows/image, bounded — the fan-out a vision-encoder preprocessor
    feeds). Decode + resample stay in one UDF pass so pixels never cross
    the wire at native resolution."""
    return with_payload.select("doc_id", "payload").mapInPandas(
        bmp_resize_batch, schema=BMP_RESIZE_SCHEMA
    )


# --- REAL compressed-format decode: PNG (stored-deflate construction,
# --- stdlib-inflate + real scanline unfilter on the decode side) ---------

PNG_DECODE_SCHEMA = (
    "doc_id long, width long, height long,"
    " sum_r long, sum_g long, sum_b long, ok boolean"
)
_ADLER_MOD = 65521


def _png_chunk(ctype: bytes, data):
    """Length + type + data + CRC32(type||data) — CRC computed JVM-side
    with F.crc32 (java.util.zip.CRC32 == zlib's polynomial)."""
    body = F.concat(F.lit(ctype), data)
    return F.concat(
        _be(F.octet_length(data), 4),
        body,
        _be(F.crc32(body), 4),
    )


def make_png_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload) where payload is a REAL PNG — 8-byte signature,
    IHDR (8-bit RGB), one IDAT holding a genuine zlib stream, IEND — with
    correct CRC32s (F.crc32) and Adler32 (an aggregate fold, the actual
    two-accumulator recurrence). The deflate payload uses a single STORED
    block (BTYPE=00 — raw bytes are first-class deflate, so stdlib
    ``zlib.decompress`` inflates it like any other stream) because
    entropy CODING cannot be a Column expression; everything a decoder
    must verify (checksums, framing, filter bytes) is real.

    Scanlines alternate PNG filters: even rows None(0), odd rows Sub(1)
    — so decode genuinely runs the left-neighbor reconstruction
    recurrence, not a memcpy. RECONSTRUCTED byte at image row r, in-row
    offset j is (doc_id + 17*r + 5*j*j) % 256 — the SQL-replayable
    contract; the Sub rows' FILTERED bytes follow as the closed-form
    delta (30*j - 45) % 256 for j >= 3.

    w = nb%5+1, h = nb%4+1 (nb = octet_length(text)): tiny on the
    fixture, but the construction is per-row Column math — a 100 TB
    media-lake fixture never leaves the JVM."""
    nb = F.octet_length("text")
    w = (nb % 5 + 1).cast("long")
    h = (nb % 4 + 1).cast("long")
    rb = (w * 3).cast("long")  # bytes per scanline (RGB, no alpha)
    stream_len = (h * (rb + 1)).cast("long")  # +1 filter byte per row

    def raw_byte(i):
        """Filtered-scanline-stream byte at index i (Column expr)."""
        r = F.floor(i / (rb + 1))
        k = i % (rb + 1)
        j = k - 1
        recon = (F.col("doc_id") + 17 * r + 5 * j * j) % 256
        sub_delta = (30 * j - 45) % 256
        return (
            F.when(k == 0, r % 2)  # filter byte: None / Sub
            .when((r % 2 == 0) | (j < 3), recon)
            .otherwise(sub_delta)
        )

    idx = F.sequence(F.lit(0).cast("long"), stream_len - 1)
    scanlines = F.aggregate(
        idx, F.lit(b""), lambda acc, i: F.concat(acc, _be(raw_byte(i), 1))
    )
    # Adler32: the real rolling (a, b) recurrence as an aggregate fold.
    adler = F.aggregate(
        idx,
        F.struct(
            F.lit(1).cast("long").alias("a"), F.lit(0).cast("long").alias("b")
        ),
        lambda acc, i: F.struct(
            ((acc["a"] + raw_byte(i)) % _ADLER_MOD).alias("a"),
            ((acc["b"] + acc["a"] + raw_byte(i)) % _ADLER_MOD).alias("b"),
        ),
        lambda acc: acc["b"] * 65536 + acc["a"],
    )
    zlib_stream = F.concat(
        F.lit(b"\x78\x01"),  # CMF/FLG (32K window, fastest preset)
        F.lit(b"\x01"),  # BFINAL=1, BTYPE=00 (stored)
        _le(stream_len, 2),
        _le(65535 - stream_len, 2),  # NLEN = one's complement
        scanlines,
        _be(adler, 4),
    )
    ihdr_data = F.concat(
        _be(w, 4),
        _be(h, 4),
        F.lit(b"\x08\x02\x00\x00\x00"),  # depth 8, RGB, default c/f/i
    )
    payload = F.concat(
        F.lit(PNG_SIG),
        _png_chunk(b"IHDR", ihdr_data),
        _png_chunk(b"IDAT", zlib_stream),
        F.lit(b"\x00\x00\x00\x00IEND\xaeB`\x82"),
    )
    return docs.select("doc_id", payload.alias("payload"))


def _png_unfilter(stream: bytes, w: int, h: int):
    """Real PNG scanline reconstruction (filters 0-4 per the spec,
    bpp=3). Returns an (h, w, 3) uint8-valued int64 ndarray in RGB image
    order, or None on a malformed stream."""
    import numpy as np

    rb = w * 3
    if len(stream) != h * (rb + 1):
        return None
    out = np.zeros((h, rb), dtype=np.int64)
    pos = 0
    for r in range(h):
        ftype = stream[pos]
        cur = bytearray(stream[pos + 1 : pos + 1 + rb])
        pos += 1 + rb
        prev = out[r - 1] if r > 0 else np.zeros(rb, dtype=np.int64)
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for j in range(3, rb):
                cur[j] = (cur[j] + cur[j - 3]) & 0xFF
        elif ftype == 2:  # Up
            for j in range(rb):
                cur[j] = (cur[j] + int(prev[j])) & 0xFF
        elif ftype == 3:  # Average
            for j in range(rb):
                left = cur[j - 3] if j >= 3 else 0
                cur[j] = (cur[j] + (left + int(prev[j])) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for j in range(rb):
                a = cur[j - 3] if j >= 3 else 0
                b = int(prev[j])
                c = int(prev[j - 3]) if j >= 3 else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[j] = (cur[j] + pred) & 0xFF
        else:
            return None
        out[r] = np.frombuffer(bytes(cur), dtype=np.uint8)
    return out.reshape(h, w, 3)


def _parse_png(b: bytes):
    """Parse + inflate + unfilter a real PNG (8-bit RGB, non-interlaced).
    Chunk CRCs are VERIFIED (zlib.crc32); IDAT is inflated with stdlib
    zlib — a genuine deflate decode, whatever block types the encoder
    chose. Returns (w, h, pixels (h, w, 3) RGB) or None."""
    import zlib

    if len(b) < 8 or b[:8] != PNG_SIG:
        return None
    pos, w, h, idat = 8, None, None, b""
    while pos + 12 <= len(b):
        (length,) = __import__("struct").unpack_from(">I", b, pos)
        # Declared chunk length is attacker-controlled: a length that runs
        # past the buffer must be errors-as-data (return None -> ok=False),
        # never a struct.error that kills the whole Spark task.
        if pos + 12 + length > len(b):
            return None
        ctype = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + length]
        (crc,) = __import__("struct").unpack_from(">I", b, pos + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            return None
        if ctype == b"IHDR":
            if length != 13:
                return None
            w, h = __import__("struct").unpack_from(">II", data, 0)
            depth, color, comp, filt, inter = data[8:13]
            if depth != 8 or color != 2 or comp != 0 or filt != 0 or inter != 0:
                return None
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if not w or not h or not idat:
        return None
    # IHDR w/h are attacker-controlled up to 2^32 and a tiny hostile IDAT
    # can inflate to gigabytes: cap dims, then inflate with an explicit
    # max_length so a decompression bomb stops at the expected byte count
    # instead of exhausting executor memory before _png_unfilter's check.
    if w > _PNG_MAX_DIM or h > _PNG_MAX_DIM:
        return None
    expected = h * (3 * w + 1)
    try:
        dec = zlib.decompressobj()
        stream = dec.decompress(idat, expected)
        # More output pending (unconsumed compressed tail still inflating)
        # means the stream is bigger than the geometry allows: bomb/garbage.
        if dec.unconsumed_tail and dec.decompress(dec.unconsumed_tail, 1):
            return None
    except zlib.error:
        return None
    px = _png_unfilter(stream, w, h)
    if px is None:
        return None
    return w, h, px


def png_decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """REAL COMPRESSED-FORMAT PIXEL DECODE: chunk walk with CRC checks,
    stdlib zlib inflate, real scanline unfiltering — reduced to exact
    integer per-channel sums. Malformed payloads return ok=False with
    null stats (errors as data, the S4 discipline)."""
    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            parsed = _parse_png(bytes(payload or b""))
            if parsed is None:
                out.append((doc_id, None, None, None, None, None, False))
                continue
            w, h, img = parsed
            out.append(
                (
                    doc_id,
                    w,
                    h,
                    int(img[..., 0].sum()),  # PNG is RGB order
                    int(img[..., 1].sum()),
                    int(img[..., 2].sum()),
                    True,
                )
            )
        yield pd.DataFrame(
            out,
            columns=["doc_id", "width", "height", "sum_r", "sum_g", "sum_b", "ok"],
        )


def decode_png(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched real PNG decode: dims + exact channel sums."""
    return with_payload.select("doc_id", "payload").mapInPandas(
        png_decode_batch, schema=PNG_DECODE_SCHEMA
    )


# --- REAL audio-container decode: WAV (RIFF walk + PCM16 LE samples) -----

WAV_WINDOW_SCHEMA = (
    "doc_id long, window_no long, n_samples long,"
    " sum_sq long, peak long, trough long"
)
WAV_WIN = 64  # samples per analysis window
_WAV_N_MOD, _WAV_N_MIN = 200, 50  # n_samples = nb % 200 + 50


def make_wav_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload) where payload is a REAL RIFF/WAVE file: RIFF
    header with correct byte size, a 16-byte PCM fmt chunk (mono,
    8 kHz, 16-bit), a junk 'LIST' chunk a lazy parser would trip over,
    and a data chunk of signed 16-bit little-endian samples. Sample t is
    ((doc_id*31 + 7*t) % 65536) - 32768 — full int16 range, negative
    values included, so the decoder's signed LE interpretation is
    load-bearing and every sample is SQL-replayable. n = nb%200 + 50
    samples. All Column expressions (the sample fold mirrors the BMP/PNG
    pixel folds) — fixture construction never leaves the JVM."""
    nb = F.octet_length("text")
    n = (nb % _WAV_N_MOD + _WAV_N_MIN).cast("long")
    data_bytes = (n * 2).cast("long")

    def sample_bits(t):
        # signed value s = (doc_id*31 + 7t) % 65536 - 32768; its int16
        # two's-complement bit pattern is (s mod 65536) = (u+32768)%65536
        u = (F.col("doc_id") * 31 + 7 * t) % 65536
        return (u + 32768) % 65536

    idx = F.sequence(F.lit(0).cast("long"), n - 1)
    pcm = F.aggregate(
        idx, F.lit(b""), lambda acc, t: F.concat(acc, _le(sample_bits(t), 2))
    )
    fmt = F.concat(
        F.lit(b"fmt "),
        _le(F.lit(16), 4),  # chunk size
        _le(F.lit(1), 2),  # PCM
        _le(F.lit(1), 2),  # mono
        _le(F.lit(8000), 4),  # sample rate
        _le(F.lit(16000), 4),  # byte rate
        _le(F.lit(2), 2),  # block align
        _le(F.lit(16), 2),  # bits/sample
    )
    junk = F.lit(b"LIST\x06\x00\x00\x00INFOxy")  # 6-byte chunk to skip
    data = F.concat(F.lit(b"data"), _le(data_bytes, 4), pcm)
    riff_size = data_bytes + 4 + 24 + 14 + 8  # WAVE + fmt + LIST + data hdr
    payload = F.concat(
        F.lit(b"RIFF"), _le(riff_size, 4), F.lit(b"WAVE"), fmt, junk, data
    )
    return docs.select("doc_id", payload.alias("payload"))


def _parse_wav(b: bytes):
    """Real RIFF/WAVE parse: chunk walk (word-aligned, unknown chunks
    skipped), PCM16-mono fmt validation, signed little-endian sample
    decode. Returns an int64 ndarray of samples or None."""
    import struct

    import numpy as np

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    (riff_size,) = struct.unpack_from("<I", b, 4)
    if riff_size + 8 > len(b):
        return None
    pos, fmt_ok, data = 12, False, None
    while pos + 8 <= len(b):
        ctype = b[pos : pos + 4]
        (length,) = struct.unpack_from("<I", b, pos + 4)
        body = b[pos + 8 : pos + 8 + length]
        if ctype == b"fmt ":
            if length < 16:
                return None
            audio_fmt, channels, _, _, block, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            if audio_fmt != 1 or channels != 1 or bits != 16 or block != 2:
                return None
            fmt_ok = True
        elif ctype == b"data":
            data = body
        pos += 8 + length + (length & 1)  # RIFF chunks are word-aligned
    if not fmt_ok or data is None or len(data) % 2:
        return None
    return np.frombuffer(data, dtype="<i2").astype(np.int64)


def wav_window_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """REAL AUDIO DECODE + windowed feature extraction: RIFF chunk walk,
    PCM16 LE sample decode, then per-window sum-of-squares / peak /
    trough — the RMS/VAD/loudness reduction, in exact integers.
    Malformed payloads yield no rows."""
    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            samples = _parse_wav(bytes(payload or b""))
            if samples is None:
                continue
            for w in range(0, len(samples), WAV_WIN):
                win = samples[w : w + WAV_WIN]
                out.append(
                    (
                        doc_id,
                        w // WAV_WIN,
                        len(win),
                        int((win * win).sum()),
                        int(win.max()),
                        int(win.min()),
                    )
                )
        yield pd.DataFrame(
            out,
            columns=[
                "doc_id",
                "window_no",
                "n_samples",
                "sum_sq",
                "peak",
                "trough",
            ],
        )


def wav_window_stats(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched real WAV decode: one row per 64-sample analysis
    window per blob, exact integer features."""
    return with_payload.select("doc_id", "payload").mapInPandas(
        wav_window_batch, schema=WAV_WINDOW_SCHEMA
    )


# --- REAL compressed-audio decode: IMA-ADPCM (WAV format tag 0x11) -------
#
# The first COMPRESSED audio codec leaves the sanctioned stub (r11
# VERDICT item 4): IMA/DVI ADPCM is the WAV-embedded 4-bit predictive
# codec with a closed-form integer decoder (step/index tables are public
# in the IMA "Recommended Practices for Enhancing Digital Audio
# Compatibility" spec and multiple RFCs). Only perceptual codecs
# (MP3/AAC, H.264) remain behind fake_decode_batch.
#
# Exact-oracle construction (the JPEG/WAV trick adapted to a recurrence):
# the step-INDEX trajectory depends only on the nibble stream, never on
# the predictor — so a FIXED nibble pattern makes every signed delta a
# fixed constant, and sample_k = pred0 + C_k for per-doc pred0 as long
# as no predictor clamp engages. ADPCM_NIBBLES below was chosen so that
# over the maximum fixture length C_k stays in [-397, 176] (pred0 spans
# +-1024: clamp-free with >31k margin), the index walks 0..37 and HITS
# the low clamp, and all 8 magnitudes and both signs occur. The oracle
# inlines the C_k prefix tables as SQL list literals.

ADPCM_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
ADPCM_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8)
# fixture nibble pattern, period 28: index-balanced (net -4/period),
# strictly alternating sign, all magnitudes 0..7 present
ADPCM_NIBBLES = (
    4, 8, 0, 13, 0, 8, 0, 8, 0, 14, 0, 8, 0, 8, 0, 8, 0, 9, 2, 11, 7, 8,
    0, 8, 0, 8, 0, 8,
)
ADPCM_INIT_INDEX = 32
_ADPCM_B_MOD, _ADPCM_B_MIN = 96, 24  # nibble-pair bytes: nb%96 + 24
ADPCM_DECODE_SCHEMA = (
    "doc_id long, n_samples long, sum_s long, last_s long, peak long,"
    " trough long, ok boolean"
)
# pattern bytes, low nibble first, repeated past the max fixture length
_ADPCM_PAT_BYTES = bytes(
    ADPCM_NIBBLES[2 * i] | (ADPCM_NIBBLES[2 * i + 1] << 4)
    for i in range(len(ADPCM_NIBBLES) // 2)
) * 9  # 14-byte period x 9 = 126 >= max 119 data bytes


def make_adpcm_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload) where payload is a REAL one-block IMA-ADPCM WAV:
    RIFF header, WAVE_FORMAT_IMA_ADPCM fmt chunk (tag 0x11, mono, 4-bit,
    cbSize=2 with wSamplesPerBlock), a fact chunk with the true sample
    total, and a data chunk holding the 4-byte block header (per-doc
    initial predictor as int16 LE, step index, reserved) + the fixed
    nibble pattern truncated to n_bytes = nb%96+24. pred0 =
    (doc_id*37)%2048 - 1024. All Column expressions; the nibble stream
    is a literal-substring, so fixture construction never leaves the
    JVM."""
    nb = F.octet_length("text")
    n_bytes = (nb % _ADPCM_B_MOD + _ADPCM_B_MIN).cast("long")
    n_samples = n_bytes * 2 + 1
    pred0 = (F.col("doc_id") * 37) % 2048 - 1024
    u16 = (pred0 + 65536) % 65536
    block_align = n_bytes + 4
    fmt = F.concat(
        F.lit(b"fmt "),
        _le(F.lit(20), 4),  # chunk size: 16 + cbSize(2) + extra(2)
        _le(F.lit(0x11), 2),  # WAVE_FORMAT_IMA_ADPCM
        _le(F.lit(1), 2),  # mono
        _le(F.lit(8000), 4),  # sample rate
        _le((block_align * 8000 / n_samples).cast("long"), 4),  # byte rate
        _le(block_align, 2),
        _le(F.lit(4), 2),  # bits per sample
        _le(F.lit(2), 2),  # cbSize
        _le(n_samples, 2),  # wSamplesPerBlock
    )
    fact = F.concat(F.lit(b"fact"), _le(F.lit(4), 4), _le(n_samples, 4))
    header = F.concat(
        _le(u16, 2), _le(F.lit(ADPCM_INIT_INDEX), 1), F.lit(b"\x00")
    )
    nibbles = F.substring(F.lit(_ADPCM_PAT_BYTES), F.lit(1), n_bytes.cast("int"))
    data = F.concat(F.lit(b"data"), _le(n_bytes + 4, 4), header, nibbles)
    riff_size = n_bytes + 56  # WAVE(4) + fmt(28) + fact(12) + data hdr+4+4
    payload = F.concat(
        F.lit(b"RIFF"), _le(riff_size, 4), F.lit(b"WAVE"), fmt, fact, data
    )
    return docs.select("doc_id", payload.alias("payload"))


def _parse_adpcm_wav(b: bytes):
    """Real IMA-ADPCM WAV decode, no codec library: RIFF chunk walk, fmt
    tag-0x11 validation (mono, 4-bit), block-aligned data parse (int16
    LE predictor + step index per block header), low-nibble-first 4-bit
    entropy decode with the IMA step/index tables and both clamps, fact
    chunk sample-count truncation. Returns an int64 ndarray of samples
    or None on ANY malformed input (errors as data)."""
    import struct

    import numpy as np

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    (riff_size,) = struct.unpack_from("<I", b, 4)
    if riff_size + 8 > len(b):
        return None
    pos, fmt_info, data, fact_n = 12, None, None, None
    while pos + 8 <= len(b):
        ctype = b[pos : pos + 4]
        (length,) = struct.unpack_from("<I", b, pos + 4)
        if pos + 8 + length > len(b):
            return None
        body = b[pos + 8 : pos + 8 + length]
        if ctype == b"fmt ":
            if length < 16:
                return None
            tag, channels, _, _, block, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            if tag != 0x11 or channels != 1 or bits != 4 or block < 5:
                return None
            if length >= 20:
                (spb,) = struct.unpack_from("<H", body, 18)
            else:
                spb = (block - 4) * 2 + 1
            if spb < 1 or spb > (block - 4) * 2 + 1:
                return None
            fmt_info = (block, spb)
        elif ctype == b"fact":
            if length < 4:
                return None
            (fact_n,) = struct.unpack_from("<I", body, 0)
        elif ctype == b"data":
            data = body
        pos += 8 + length + (length & 1)
    if fmt_info is None or data is None:
        return None
    block, spb = fmt_info
    if len(data) == 0 or len(data) % block:
        return None
    step_t, idx_t = ADPCM_STEP_TABLE, ADPCM_INDEX_TABLE
    out = []
    for b0 in range(0, len(data), block):
        (pred,) = struct.unpack_from("<h", data, b0)
        index = data[b0 + 2]
        if index > 88:
            return None
        samples = [pred]
        nib_bytes = data[b0 + 4 : b0 + block]
        need = spb - 1  # nibbles to decode in this block
        for byte in nib_bytes:
            for nn in (byte & 15, byte >> 4):  # low nibble first
                if need == 0:
                    break
                step = step_t[index]
                diff = step >> 3
                if nn & 4:
                    diff += step
                if nn & 2:
                    diff += step >> 1
                if nn & 1:
                    diff += step >> 2
                pred = pred - diff if nn & 8 else pred + diff
                pred = max(-32768, min(32767, pred))
                samples.append(pred)
                index = max(0, min(88, index + idx_t[nn & 7]))
                need -= 1
            if need == 0:
                break
        out.extend(samples)
    if fact_n is not None:
        if fact_n > len(out):
            return None
        out = out[:fact_n]
    return np.asarray(out, dtype=np.int64)


def adpcm_stats_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """REAL COMPRESSED-AUDIO DECODE: full IMA-ADPCM nibble decode per
    blob, reduced to exact integer stats (count / sum / last / peak /
    trough) — the loudness-and-clipping screen over a compressed audio
    lake. Malformed payloads return ok=False with null stats (errors as
    data)."""
    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            s = _parse_adpcm_wav(bytes(payload or b""))
            if s is None or not s.size:
                out.append((doc_id, None, None, None, None, None, False))
                continue
            out.append(
                (
                    doc_id,
                    int(s.size),
                    int(s.sum()),
                    int(s[-1]),
                    int(s.max()),
                    int(s.min()),
                    True,
                )
            )
        yield pd.DataFrame(
            out,
            columns=[
                "doc_id", "n_samples", "sum_s", "last_s", "peak", "trough",
                "ok",
            ],
        )


def decode_adpcm(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched IMA-ADPCM decode: per-blob exact integer stats."""
    return with_payload.select("doc_id", "payload").mapInPandas(
        adpcm_stats_batch, schema=ADPCM_DECODE_SCHEMA
    )


# --- REAL companded-audio decode: G.711 mu-law (WAV format tag 7) --------
#
# The telephony codec (r12 VERDICT stretch list): G.711 mu-law is 8-bit
# logarithmic PCM with an exact integer expansion formula (ITU-T G.711 /
# the classic CCITT tables), so — unlike ADPCM's recurrence — EVERY byte
# decodes independently and the oracle replays the formula directly, no
# fixed-pattern trick needed. Decode (the spec's segment/mantissa form):
#   u = ~code & 0xFF
#   t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)
#   sample = 0x84 - t  if u & 0x80 else  t - 0x84
# Full range: code 0x00 -> -32124, 0x80 -> +32124, 0xFF/0x7F -> 0.

MULAW_DECODE_SCHEMA = (
    "doc_id long, n_samples long, sum_s long, last_s long, peak long,"
    " trough long, ok boolean"
)
_MULAW_N_MOD, _MULAW_N_MIN = 120, 40  # n_samples = nb % 120 + 40


def make_mulaw_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload) where payload is a REAL G.711 mu-law WAV: RIFF
    header, WAVE_FORMAT_MULAW fmt chunk (tag 7, mono, 8-bit, 18-byte
    extended form with cbSize=0), a fact chunk with the sample total,
    and a data chunk of n = nb%120+40 companded bytes, word-aligned with
    a pad byte when n is odd (the RIFF rule a lazy writer forgets).
    Byte t is (doc_id*13 + 7*t) % 256 — every mu-law code value occurs
    across the corpus, so the decoder's full expansion table is
    load-bearing in the value hash. All Column expressions."""
    nb = F.octet_length("text")
    n = (nb % _MULAW_N_MOD + _MULAW_N_MIN).cast("long")
    idx = F.sequence(F.lit(0).cast("long"), n - 1)
    ulaw = F.aggregate(
        idx,
        F.lit(b""),
        lambda acc, t: F.concat(
            acc, _be((F.col("doc_id") * 13 + 7 * t) % 256, 1)
        ),
    )
    fmt = F.concat(
        F.lit(b"fmt "),
        _le(F.lit(18), 4),  # extended fmt: 16 + cbSize field
        _le(F.lit(7), 2),  # WAVE_FORMAT_MULAW
        _le(F.lit(1), 2),  # mono
        _le(F.lit(8000), 4),  # sample rate
        _le(F.lit(8000), 4),  # byte rate (1 byte/sample)
        _le(F.lit(1), 2),  # block align
        _le(F.lit(8), 2),  # bits per sample
        _le(F.lit(0), 2),  # cbSize
    )
    fact = F.concat(F.lit(b"fact"), _le(F.lit(4), 4), _le(n, 4))
    pad = F.when(n % 2 == 1, F.lit(b"\x00")).otherwise(F.lit(b""))
    data = F.concat(F.lit(b"data"), _le(n, 4), ulaw, pad)
    riff_size = n + (n % 2) + 50  # WAVE(4) + fmt(26) + fact(12) + data hdr(8)
    payload = F.concat(
        F.lit(b"RIFF"), _le(riff_size, 4), F.lit(b"WAVE"), fmt, fact, data
    )
    return docs.select("doc_id", payload.alias("payload"))


def _mulaw_expand(codes):
    """Vectorized G.711 mu-law expansion: uint8 code array -> int64
    linear samples (exact spec formula, no lookup table needed)."""
    import numpy as np

    u = (255 - codes.astype(np.int64)) & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)
    return np.where(u & 0x80, 0x84 - t, t - 0x84)


def _parse_mulaw_wav(b: bytes):
    """Real G.711 mu-law WAV decode: RIFF chunk walk (word-aligned), fmt
    tag-7 validation (mono, 8-bit, block align 1), fact-chunk sample
    truncation, per-byte mu-law expansion. Returns an int64 ndarray of
    samples or None on ANY malformed input (errors as data)."""
    import struct

    import numpy as np

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    (riff_size,) = struct.unpack_from("<I", b, 4)
    if riff_size + 8 > len(b):
        return None
    pos, fmt_ok, data, fact_n = 12, False, None, None
    while pos + 8 <= len(b):
        ctype = b[pos : pos + 4]
        (length,) = struct.unpack_from("<I", b, pos + 4)
        if pos + 8 + length > len(b):
            return None
        body = b[pos + 8 : pos + 8 + length]
        if ctype == b"fmt ":
            if length < 16:
                return None
            tag, channels, _, _, block, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            if tag != 7 or channels != 1 or bits != 8 or block != 1:
                return None
            fmt_ok = True
        elif ctype == b"fact":
            if length < 4:
                return None
            (fact_n,) = struct.unpack_from("<I", body, 0)
        elif ctype == b"data":
            data = body
        pos += 8 + length + (length & 1)
    if not fmt_ok or data is None or len(data) == 0:
        return None
    samples = _mulaw_expand(np.frombuffer(data, dtype=np.uint8))
    if fact_n is not None:
        if fact_n > len(samples):
            return None
        samples = samples[:fact_n]
    return samples


def mulaw_stats_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """REAL COMPANDED-AUDIO DECODE: per-blob mu-law expansion reduced to
    exact integer stats (count / sum / last / peak / trough). Malformed
    payloads return ok=False with null stats (errors as data)."""
    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            s = _parse_mulaw_wav(bytes(payload or b""))
            if s is None or not s.size:
                out.append((doc_id, None, None, None, None, None, False))
                continue
            out.append(
                (
                    doc_id,
                    int(s.size),
                    int(s.sum()),
                    int(s[-1]),
                    int(s.max()),
                    int(s.min()),
                    True,
                )
            )
        yield pd.DataFrame(
            out,
            columns=[
                "doc_id", "n_samples", "sum_s", "last_s", "peak", "trough",
                "ok",
            ],
        )


def decode_mulaw(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched G.711 mu-law decode: per-blob exact integer stats."""
    return with_payload.select("doc_id", "payload").mapInPandas(
        mulaw_stats_batch, schema=MULAW_DECODE_SCHEMA
    )


# --- REAL video-container decode: AVI (RIFF-AVI walk + DIB frames) -------

AVI_FRAME_SCHEMA = (
    "doc_id long, frame_no long, sum_r long, sum_g long, sum_b long,"
    " top_row_sum long"
)
AVI_SAMPLE_EVERY = 2  # keep every 2nd frame


def make_avi_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload) where payload is a REAL AVI: RIFF 'AVI ' with a
    full hdrl LIST (avih + strl{strh 'vids'/'DIB ', strf
    BITMAPINFOHEADER 24-bpp}), a planted JUNK chunk a naive parser trips
    over, and a movi LIST of uncompressed '00db' DIB frames (bottom-up,
    4-byte-aligned BGR rows — the BMP pixel-array layout). Pixel byte of
    frame f at padded row r, in-row offset j < 3*width is
    (doc_id + 11*f + 13*r + 7*j) % 256; padding is zeros. Dims/frame
    count derive from octet_length(text): w = nb%4+1, h = nb%3+1,
    frames = nb%5+2 — all SQL-replayable. All Column expressions."""
    nb = F.octet_length("text")
    w = (nb % 4 + 1).cast("long")
    h = (nb % 3 + 1).cast("long")
    n_f = (nb % 5 + 2).cast("long")
    stride = (F.floor((w * 3 + 3) / 4) * 4).cast("long")
    fsz = (stride * h).cast("long")

    def dd(col):  # little-endian dword
        return _le(col, 4)

    avih = F.concat(
        F.lit(b"avih"), dd(F.lit(56)),
        dd(F.lit(33333)), dd(F.lit(0)), dd(F.lit(0)), dd(F.lit(0)),
        dd(n_f), dd(F.lit(0)), dd(F.lit(1)), dd(fsz),
        dd(w), dd(h),
        dd(F.lit(0)), dd(F.lit(0)), dd(F.lit(0)), dd(F.lit(0)),
    )
    strh = F.concat(
        F.lit(b"strh"), dd(F.lit(56)),
        F.lit(b"vidsDIB "),
        dd(F.lit(0)), dd(F.lit(0)), dd(F.lit(0)),
        dd(F.lit(1)), dd(F.lit(30)), dd(F.lit(0)),
        dd(n_f), dd(fsz), dd(F.lit(0)), dd(F.lit(0)),
        _le(F.lit(0), 2), _le(F.lit(0), 2), _le(w, 2), _le(h, 2),
    )
    strf = F.concat(
        F.lit(b"strf"), dd(F.lit(40)),
        dd(F.lit(40)), dd(w), dd(h),
        _le(F.lit(1), 2), _le(F.lit(24), 2),
        dd(F.lit(0)), dd(fsz),
        dd(F.lit(0)), dd(F.lit(0)), dd(F.lit(0)), dd(F.lit(0)),
    )
    strl = F.concat(F.lit(b"LIST"), dd(F.lit(4 + 64 + 48)), F.lit(b"strl"), strh, strf)
    hdrl = F.concat(
        F.lit(b"LIST"), dd(F.lit(4 + 64 + 8 + 4 + 64 + 48)), F.lit(b"hdrl"), avih, strl
    )
    junk = F.lit(b"JUNK\x04\x00\x00\x00\xde\xad\xbe\xef")

    def frame_pixels(f):
        idx = F.sequence(F.lit(0).cast("long"), fsz - 1)
        return F.aggregate(
            idx,
            F.lit(b""),
            lambda acc, i: F.concat(
                acc,
                _be(
                    F.when(
                        i % stride < w * 3,
                        (F.col("doc_id") + 11 * f + 13 * F.floor(i / stride)
                         + 7 * (i % stride)) % 256,
                    ).otherwise(F.lit(0)),
                    1,
                ),
            ),
        )

    frames_idx = F.sequence(F.lit(0).cast("long"), n_f - 1)
    movi_body = F.aggregate(
        frames_idx,
        F.lit(b""),
        lambda acc, f: F.concat(acc, F.lit(b"00db"), dd(fsz), frame_pixels(f)),
    )
    movi = F.concat(F.lit(b"LIST"), dd(4 + n_f * (8 + fsz)), F.lit(b"movi"), movi_body)
    hdrl_total = 8 + (4 + 64 + 8 + 4 + 64 + 48)
    riff_size = 4 + hdrl_total + 12 + 8 + 4 + n_f * (8 + fsz)
    payload = F.concat(F.lit(b"RIFF"), dd(riff_size), F.lit(b"AVI "), hdrl, junk, movi)
    return docs.select("doc_id", payload.alias("payload"))


def _parse_avi(b: bytes):
    """Real RIFF-AVI parse: top-level chunk walk (word-aligned, JUNK and
    unknown chunks skipped), hdrl validation (single 'vids'/'DIB '
    stream, 24-bpp uncompressed strf), then per-frame DIB decode from
    the movi LIST. Returns (w, h, [frame ndarray (h, w, 3) BGR in image
    order, ...]) or None."""
    import struct

    import numpy as np

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        return None
    (riff_size,) = struct.unpack_from("<I", b, 4)
    if riff_size + 8 > len(b):
        return None
    pos, w, h, n_f, frames = 12, None, None, None, []
    while pos + 8 <= len(b):
        ctype = b[pos : pos + 4]
        (length,) = struct.unpack_from("<I", b, pos + 4)
        body = b[pos + 8 : pos + 8 + length]
        if ctype == b"LIST" and body[:4] == b"hdrl":
            # avih dims + frame count, then strl/strh/strf validation
            p = 4
            while p + 8 <= len(body):
                sub = body[p : p + 4]
                (slen,) = struct.unpack_from("<I", body, p + 4)
                sdata = body[p + 8 : p + 8 + slen]
                # Declared sub-chunk length past the buffer is malformed
                # input: errors-as-data, never a struct.error on unpack.
                if len(sdata) < slen:
                    return None
                if sub == b"avih":
                    if slen < 56:
                        return None
                    n_f = struct.unpack_from("<I", sdata, 16)[0]
                    w, h = struct.unpack_from("<II", sdata, 32)
                elif sub == b"LIST" and sdata[:4] == b"strl":
                    if sdata[4:8] != b"strh" or sdata[12:20] != b"vidsDIB ":
                        return None
                    q = sdata.find(b"strf")
                    if q < 0 or len(sdata) < q + 8 + 20:
                        return None
                    bi = sdata[q + 8 :]
                    planes, bpp = struct.unpack_from("<HH", bi, 12)
                    (comp,) = struct.unpack_from("<I", bi, 16)
                    if planes != 1 or bpp != 24 or comp != 0:
                        return None
                p += 8 + slen + (slen & 1)
        elif ctype == b"LIST" and body[:4] == b"movi":
            p = 4
            while p + 8 <= len(body):
                fcc = body[p : p + 4]
                (flen,) = struct.unpack_from("<I", body, p + 4)
                if fcc in (b"00db", b"00dc"):
                    frames.append(body[p + 8 : p + 8 + flen])
                p += 8 + flen + (flen & 1)
        pos += 8 + length + (length & 1)
    if not w or not h or n_f is None or len(frames) != n_f:
        return None
    stride = ((w * 3 + 3) // 4) * 4
    out = []
    for fb in frames:
        if len(fb) != stride * h:
            return None
        arr = np.frombuffer(fb, dtype=np.uint8)
        rows = arr.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
        out.append(rows[::-1].astype(np.int64))  # bottom-up -> image order
    return w, h, out


def avi_frame_sample_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """REAL VIDEO-CONTAINER FRAME SAMPLING: parse the AVI, keep every
    AVI_SAMPLE_EVERY-th frame, reduce each kept frame to exact integer
    channel sums + the TOP image row's intensity (flip-sensitive, so the
    bottom-up DIB unflip is load-bearing). Malformed payloads yield no
    rows."""
    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            parsed = _parse_avi(bytes(payload or b""))
            if parsed is None:
                continue
            _, _, frames = parsed
            for f, img in enumerate(frames):
                if f % AVI_SAMPLE_EVERY:
                    continue
                out.append(
                    (
                        doc_id,
                        f,
                        int(img[..., 2].sum()),  # DIB stores BGR
                        int(img[..., 1].sum()),
                        int(img[..., 0].sum()),
                        int(img[0].sum()),  # top image row
                    )
                )
        yield pd.DataFrame(
            out,
            columns=["doc_id", "frame_no", "sum_r", "sum_g", "sum_b", "top_row_sum"],
        )


def avi_frame_sample(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched real AVI frame sampling: one stats row per kept
    frame per blob."""
    return with_payload.select("doc_id", "payload").mapInPandas(
        avi_frame_sample_batch, schema=AVI_FRAME_SCHEMA
    )


# --- REAL baseline-JPEG decode (lossy-codec container: custom canonical
# --- Huffman construction JVM-side, full entropy decode + IDCT on the
# --- decode side) ---------------------------------------------------------
#
# The LAST image stub closes here. The fixture is a genuine ITU T.81
# baseline JFIF-less JPEG (SOI/DQT/DHT/SOF0/SOS/EOI, custom canonical
# Huffman tables, byte-stuffed entropy bitstream) whose pixel content is
# chosen to round-trip EXACTLY through the lossy pipeline, so a SQL
# oracle can replay it:
#   - geometry: nbx = nb%4+2 blocks across, JPEG_BLOCKS_Y=2 block rows
#     (w = 8*nbx, h = 16), grayscale (1 component, no subsampling).
#   - block k (raster order) is the CONSTANT value
#     v_k = 32 + (doc_id + 37*k) % 192, so its DCT is DC-only:
#     F(0,0) = 8*(v_k - 128); with DC quant step 8 the quantized DC is
#     exactly v_k - 128 (lossless by construction).
#   - every ODD block additionally carries ONE AC coefficient at zigzag
#     index 1 (horizontal frequency 1): quantized value +-2, AC quant
#     step 16, dequantized +-32. Its IDCT adds the column deltas
#     32/(4*sqrt(2)) * cos((2x+1)pi/16) -> rounded [6,5,3,1,-1,-3,-5,-6]
#     (sign s_k = +1 when v_k is even else -1) — fixed integers with
#     >0.04 margin from every rounding boundary, so float IDCT + round
#     reproduces them exactly and the oracle can inline them.
#   - Huffman tables are custom canonical codes chosen so the encoder
#     is a pure Column fold: DC categories 0..8 as the 4-bit codes
#     0000..1000 (BITS has 9 codes at length 4), AC symbols EOB(0x00)
#     and run0/size2(0x02) as the 2-bit codes 00 and 01.
# The DECODER shortcuts none of this: it is a general baseline decoder —
# marker walk, multi-table DQT/DHT, canonical Huffman reconstruction,
# byte unstuffing + restart markers, run-length AC with ZRL/EOB,
# dezigzag, dequantize, float IDCT, grayscale or YCbCr->RGB output —
# and is tested against an independent numpy DCT encoder (including a
# 3-component color path the fixture never emits).
#
# Reference parity: closes the decode gap behind the reference's image
# handling surface (publish_to_catalog.py has none — this is north-star
# extension surface; the JPEG header walk at make_image_payload above
# was the r7 header-only step).

JPEG_BLOCKS_Y = 2  # block rows in the fixture image (h = 16)
_JPEG_QDC, _JPEG_QAC = 8, 16  # quant steps at zigzag index 0 / 1
_JPEG_MAX_DIM = 1 << 14  # untrusted SOF dims cap (same posture as PNG)
JPEG_DECODE_SCHEMA = (
    "doc_id long, width long, height long, sum_px long, sum_left long,"
    " ok boolean"
)
# dequantized +-32 at (0,1): rounded per-column IDCT deltas, x = 0..7
_JPEG_AC_DELTAS = (6, 5, 3, 1, -1, -3, -5, -6)


def make_jpeg_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload) where payload is a REAL baseline JPEG built
    entirely from Column expressions: the entropy-coded segment is a
    two-stage fold — (1) per-block bit emission (DC category + magnitude
    bits with JPEG's one's-complement negative encoding, AC code +
    magnitude, EOB) into a '0'/'1' string carrying the DC predictor
    through the fold state, (2) byte packing with 0xFF00 stuffing and
    1-padding to the byte boundary. Headers (DQT/DHT/SOF0/SOS) are
    literals except the SOF dims. A 100 TB media-lake fixture never
    leaves the JVM."""
    nb = F.octet_length("text")
    nbx = (nb % 4 + 2).cast("long")
    n_blocks = nbx * JPEG_BLOCKS_Y

    def _bits(val, width):
        """Unsigned `val` as exactly `width` bits (both Columns): bin()
        of val + 2^width is '1' followed by the zero-padded bits."""
        two_w = F.pow(F.lit(2.0), width).cast("long")
        return F.substring(
            F.bin(val.cast("long") + two_w), F.lit(2), F.lit(64)
        )

    def emit_block(acc, k):
        v = (F.col("doc_id") + 37 * k) % 192 + 32
        dc = v - 128
        diff = dc - acc["prev"]
        c = (
            F.when(diff == 0, F.lit(0))
            .otherwise(F.length(F.bin(F.abs(diff))))
            .cast("long")
        )
        two_c = F.pow(F.lit(2.0), c).cast("long")
        m = F.when(diff > 0, diff).otherwise(diff + two_c - 1)
        dc_bits = F.concat(
            _bits(c, F.lit(4).cast("long")),
            F.when(c > 0, _bits(m, c)).otherwise(F.lit("")),
        )
        # odd blocks: AC code '01' (symbol 0x02) + 2 magnitude bits
        # (+2 -> '10'; -2 -> '01', the one's-complement encoding)
        ac_bits = F.when(
            k % 2 == 1,
            F.concat(
                F.lit("01"),
                F.when(v % 2 == 0, F.lit("10")).otherwise(F.lit("01")),
            ),
        ).otherwise(F.lit(""))
        return F.struct(
            F.concat(acc["bits"], dc_bits, ac_bits, F.lit("00")).alias(
                "bits"
            ),
            dc.alias("prev"),
        )

    bitstr = F.aggregate(
        F.sequence(F.lit(0).cast("long"), n_blocks - 1),
        F.struct(
            F.lit("").alias("bits"), F.lit(0).cast("long").alias("prev")
        ),
        emit_block,
        lambda acc: acc["bits"],
    )
    staged = docs.select("doc_id", nbx.alias("nbx"), bitstr.alias("bits"))
    padded = F.substring(
        F.concat(F.col("bits"), F.lit("1111111")),
        F.lit(1),
        (F.ceil(F.length("bits") / 8) * 8).cast("int"),
    )
    staged = staged.select("doc_id", "nbx", padded.alias("bits"))

    def pack_byte(acc, i):
        byte = (
            F.conv(F.substring(F.col("bits"), (i * 8 + 1).cast("int"), F.lit(8)), 2, 10)
        ).cast("long")
        return F.concat(
            acc,
            _be(byte, 1),
            # byte stuffing: a 0xFF entropy byte is followed by 0x00
            F.when(byte == 255, F.lit(b"\x00")).otherwise(F.lit(b"")),
        )

    entropy = F.aggregate(
        F.sequence(
            F.lit(0).cast("long"), (F.length("bits") / 8).cast("long") - 1
        ),
        F.lit(b""),
        pack_byte,
    )
    # zigzag-order quant table: step 8 at DC, 16 everywhere else
    qtbl = bytes([_JPEG_QDC] + [_JPEG_QAC] * 63)
    dqt = b"\xff\xdb" + (2 + 1 + 64).to_bytes(2, "big") + b"\x00" + qtbl
    dht_dc = (
        b"\xff\xc4"
        + (2 + 1 + 16 + 9).to_bytes(2, "big")
        + b"\x00"  # class 0 (DC), id 0
        + bytes([0, 0, 0, 9] + [0] * 12)  # 9 codes of length 4
        + bytes(range(9))  # symbols: categories 0..8
    )
    dht_ac = (
        b"\xff\xc4"
        + (2 + 1 + 16 + 2).to_bytes(2, "big")
        + b"\x10"  # class 1 (AC), id 0
        + bytes([0, 2] + [0] * 14)  # 2 codes of length 2
        + bytes([0x00, 0x02])  # EOB, run0/size2
    )
    sos = b"\xff\xda" + b"\x00\x08\x01\x01\x00\x00\x3f\x00"
    sof0 = F.concat(
        F.lit(b"\xff\xc0\x00\x0b\x08"),
        _be(F.lit(8 * JPEG_BLOCKS_Y), 2),  # height
        _be(F.col("nbx") * 8, 2),  # width
        F.lit(b"\x01\x01\x11\x00"),  # 1 component, 1x1 sampling, qtbl 0
    )
    payload = F.concat(
        F.lit(JPEG_SOI + dqt + dht_dc + dht_ac),
        sof0,
        F.lit(sos),
        entropy,
        F.lit(b"\xff\xd9"),
    )
    return staged.select("doc_id", payload.alias("payload"))


_JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)


@lru_cache(maxsize=64)
def _jpeg_huff_lut(counts_syms: bytes):
    """Canonical Huffman per T.81 Annex C, compiled to a 16-bit-peek
    lookup table: ``counts_syms`` is the raw DHT payload (16 count bytes
    + symbol bytes); returns ``(sym, length)`` int arrays of size 65536
    where ``length[peek16] == 0`` marks "no code is a prefix of these
    bits". One array index replaces the old bit-by-bit dict walk — the
    r12 fix for the tree's worst cross-scale kernel (mm_jpeg_* was 6.4x
    at 10x data because every Huffman symbol cost up to 16 Python-level
    bit reads). Memoized on the DHT bytes: a media lake re-uses a
    handful of table definitions across millions of blobs. Returns None
    for overfull tables (counts claim more symbols than provided);
    codes whose canonical value overflows their bit length are simply
    unreachable, matching the sequential-walk semantics."""
    import numpy as np

    counts, syms = counts_syms[:16], counts_syms[16:]
    sym_arr = np.zeros(65536, dtype=np.int16)
    len_arr = np.zeros(65536, dtype=np.uint8)
    code, i = 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            if i >= len(syms):
                return None
            lo = code << (16 - length)
            if lo < 65536:
                hi = min((code + 1) << (16 - length), 65536)
                # never overwrite a shorter code's slots: a malformed
                # NON-prefix-free DHT (oversubscribed counts that still
                # pass the i < len(syms) check) must resolve to the
                # SHORTEST matching code, the same answer the pre-LUT
                # bit-by-bit walk produced — keeps errors-as-data values
                # stable across versions (r12 ADVICE item 2). Valid
                # tables never hit the mask (disjoint ranges).
                free = len_arr[lo:hi] == 0
                sym_arr[lo:hi][free] = syms[i]
                len_arr[lo:hi][free] = length
            i += 1
            code += 1
        code <<= 1
    # plain lists: native-int indexing in the per-symbol loop is several
    # times faster than numpy scalar extraction
    return sym_arr.tolist(), len_arr.tolist()


def _jpeg_idct_matrix():
    import numpy as np

    a = np.zeros((8, 8))
    for u in range(8):
        cu = (1 / np.sqrt(2)) if u == 0 else 1.0
        for x in range(8):
            a[u, x] = (cu / 2) * np.cos((2 * x + 1) * u * np.pi / 16)
    return a


_JPEG_IDCT_A = None  # built lazily so module import stays numpy-free


def _parse_jpeg(b: bytes):
    """REAL baseline JPEG decode, no codec library: marker walk,
    multi-table DQT (8/16-bit) and DHT (canonical Huffman
    reconstruction), SOF0/SOF1 frames (grayscale or 3-component with
    arbitrary sampling factors), DRI/RSTn restart handling, byte
    unstuffing, run-length AC decode with ZRL/EOB, dezigzag,
    dequantize, float IDCT, level shift, and YCbCr->RGB (BT.601) for
    color. Returns (w, h, pixels) — (h, w) int64 grayscale or
    (h, w, 3) RGB — or None on ANY malformed input (errors as data;
    every length is bounds-checked and every entropy-stream read is
    bounds-guarded so truncation can't raise out of the task). The
    entropy decode is numpy-vectorized: peek-LUT Huffman (one array
    lookup per symbol), batched dezigzag/dequant/IDCT (r12 — the
    per-bit Python walk was the tree's worst cross-scale kernel)."""
    import struct

    import numpy as np

    global _JPEG_IDCT_A
    if len(b) < 4 or b[:2] != JPEG_SOI:
        return None
    pos = 2
    qt, huff = {}, {0: {}, 1: {}}  # class -> id -> table
    frame, restart_interval, scan = None, 0, None
    data_start = None
    while pos + 2 <= len(b):
        if b[pos] != 0xFF:
            return None
        # T.81 B.1.1.2: any marker may be preceded by 0xFF fill bytes —
        # conformant encoders do pad (r11 ADVICE), so skip the run and
        # read the marker byte proper.
        while pos + 2 <= len(b) and b[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > len(b):
            return None
        marker = b[pos + 1]
        pos += 2
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers
        if marker == 0xD9:
            return None  # EOI before any scan data
        if pos + 2 > len(b):
            return None
        (seglen,) = struct.unpack_from(">H", b, pos)
        if seglen < 2 or pos + seglen > len(b):
            return None
        seg = b[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                p += 1
                n = 128 if pq else 64
                if pq > 1 or p + n > len(seg):
                    return None
                if pq:
                    tbl = list(struct.unpack_from(">64H", seg, p))
                else:
                    tbl = list(seg[p : p + 64])
                qt[tq] = tbl
                p += n
        elif marker == 0xC4:  # DHT
            p = 0
            while p + 17 <= len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                if tc > 1:
                    return None
                counts = seg[p + 1 : p + 17]
                p += 17
                ns = sum(counts)
                if p + ns > len(seg):
                    return None
                lut = _jpeg_huff_lut(bytes(counts) + bytes(seg[p : p + ns]))
                if lut is None:
                    return None
                huff[tc][th] = lut
                p += ns
        elif marker in (0xC0, 0xC1):  # SOF0/SOF1 (Huffman sequential)
            if len(seg) < 6:
                return None
            prec = seg[0]
            (h,) = struct.unpack_from(">H", seg, 1)
            (w,) = struct.unpack_from(">H", seg, 3)
            nc = seg[5]
            if (
                prec != 8
                or not w
                or not h
                or w > _JPEG_MAX_DIM
                or h > _JPEG_MAX_DIM
                or nc not in (1, 3)
                or len(seg) < 6 + 3 * nc
            ):
                return None
            comps = []
            for ci in range(nc):
                samp = seg[7 + 3 * ci]
                hi, vi = samp >> 4, samp & 15
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    return None
                comps.append(
                    {"id": seg[6 + 3 * ci], "h": hi, "v": vi, "tq": seg[8 + 3 * ci]}
                )
            frame = (w, h, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None  # progressive/arithmetic/lossless: not baseline
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                return None
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            if frame is None or len(seg) < 1:
                return None
            ns = seg[0]
            if len(seg) < 1 + 2 * ns + 3 or ns != len(frame[2]):
                return None
            scan = []
            for i in range(ns):
                cs, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                comp = next((c for c in frame[2] if c["id"] == cs), None)
                if comp is None:
                    return None
                scan.append((comp, tt >> 4, tt & 15))
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            if ss != 0 or se != 63:
                return None  # spectral selection is progressive-only
            data_start = pos + seglen
            break
        # else: APPn / COM — skip
        pos += seglen
    if frame is None or scan is None or data_start is None:
        return None

    # unstuff the entropy-coded segment; restart markers become segment
    # boundaries (DC predictors + bit alignment reset there). Vectorized
    # (r12): only 0xFF positions are visited in Python — clean runs
    # between them are zero-copy numpy slices — instead of the old
    # byte-at-a-time append loop (it profiled as ~1/4 of a small-blob
    # decode).
    arr = np.frombuffer(b, dtype=np.uint8)[data_start:]
    ff_positions = np.flatnonzero(arr == 0xFF).tolist()
    ff_one = np.frombuffer(b"\xff", dtype=np.uint8)
    chunks, boundaries = [], []
    out_len, cur, found_eoi = 0, 0, False
    n_arr = arr.size
    for j in ff_positions:
        if j < cur:
            continue  # consumed as a marker/stuffing byte already
        if j > cur:
            chunks.append(arr[cur:j])
            out_len += j - cur
        if j + 1 >= n_arr:
            return None
        nxt = arr[j + 1]
        if nxt == 0x00:
            chunks.append(ff_one)
            out_len += 1
            cur = j + 2
        elif nxt == 0xFF:
            cur = j + 1  # T.81 fill byte before a marker: re-examine
        elif 0xD0 <= nxt <= 0xD7:
            boundaries.append(out_len)
            cur = j + 2
        elif nxt == 0xD9:
            found_eoi = True
            break
        else:
            return None
    if not found_eoi:
        return None  # ran off the buffer without EOI

    w, h, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    if _JPEG_IDCT_A is None:
        _JPEG_IDCT_A = _jpeg_idct_matrix()
    a_mat = _JPEG_IDCT_A
    planes = {}
    for c in comps:
        if c["tq"] not in qt:
            return None
        planes[c["id"]] = np.zeros(
            (mcuy * c["v"] * 8, mcux * c["h"] * 8), dtype=np.float64
        )
    # --- vectorized entropy decode (r12) -----------------------------
    # A byte-level 24-bit window array makes any 16-bit peek O(1) int
    # arithmetic; Huffman symbols resolve in ONE LUT lookup (see
    # _jpeg_huff_lut); coefficients accumulate into an (n_blocks, 64)
    # array per component so dezigzag + dequant + IDCT run as three
    # batched numpy ops after the scan instead of per-block Python
    # matmuls. EOF semantics are preserved exactly: a symbol or
    # magnitude read that would consume bits past the stream end returns
    # None (the old reader raised EOFError there), and a peek that only
    # matches thanks to the zero padding fails the same p+len bound.
    ent_arr = (
        np.concatenate(chunks) if chunks else np.zeros(0, dtype=np.uint8)
    )
    nbits = ent_arr.size * 8
    # 24-bit byte windows: W[i] = bytes i,i+1,i+2 big-endian, so the
    # 16-bit peek at bit position p is (W[p>>3] >> (8-(p&7))) & 0xFFFF.
    # Built with 5 numpy ops over an nbytes-sized array (zero-padding
    # past the end keeps every in-range peek safe) and dumped to a plain
    # list — native-int indexing beats numpy scalars in the hot loop.
    ext = np.concatenate([ent_arr, np.zeros(3, dtype=np.uint8)]).astype(
        np.uint32
    )
    W = ((ext[:-2] << 16) | (ext[1:-1] << 8) | ext[2:]).tolist()

    n_blk = {
        c["id"]: mcux * mcuy * c["h"] * c["v"] for c in comps
    }
    coef_store = {
        cid: np.zeros((n, 64), dtype=np.float64) for cid, n in n_blk.items()
    }
    pos_store = {c["id"]: [] for c in comps}
    counters = {c["id"]: 0 for c in comps}
    predictors = {c["id"]: 0 for c in comps}
    p = 0
    mcu_no = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_no and mcu_no % restart_interval == 0:
                # next restart segment: realign and reset predictors
                if not boundaries:
                    return None
                p = boundaries.pop(0) * 8
                predictors = {c["id"]: 0 for c in comps}
            mcu_no += 1
            for comp, tdc, tac in scan:
                dc_lut = huff[0].get(tdc)
                ac_lut = huff[1].get(tac)
                if dc_lut is None or ac_lut is None:
                    return None
                dc_sym, dc_len = dc_lut
                ac_sym, ac_len = ac_lut
                cid = comp["id"]
                row = coef_store[cid]
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        pk = (W[p >> 3] >> (8 - (p & 7))) & 0xFFFF
                        ln = dc_len[pk]
                        if ln == 0 or p + ln > nbits:
                            return None
                        sym = dc_sym[pk]
                        p += ln
                        if sym > 15:
                            return None
                        if sym:
                            if p + sym > nbits:
                                return None
                            mag = (
                                (W[p >> 3] >> (8 - (p & 7))) & 0xFFFF
                            ) >> (16 - sym)
                            # T.81 EXTEND, inlined (hot loop)
                            diff = (
                                mag
                                if mag >= 1 << (sym - 1)
                                else mag - (1 << sym) + 1
                            )
                            p += sym
                        else:
                            diff = 0
                        predictors[cid] += diff
                        idx = counters[cid]
                        row[idx, 0] = predictors[cid]
                        k = 1
                        while k <= 63:
                            pk = (W[p >> 3] >> (8 - (p & 7))) & 0xFFFF
                            ln = ac_len[pk]
                            if ln == 0 or p + ln > nbits:
                                return None
                            sym = ac_sym[pk]
                            p += ln
                            if sym == 0x00:  # EOB
                                break
                            if sym == 0xF0:  # ZRL: 16 zeros
                                k += 16
                                continue
                            run, size = sym >> 4, sym & 15
                            k += run
                            if k > 63 or size == 0:
                                return None
                            if p + size > nbits:
                                return None
                            mag = (
                                (W[p >> 3] >> (8 - (p & 7))) & 0xFFFF
                            ) >> (16 - size)
                            row[idx, k] = (
                                mag
                                if mag >= 1 << (size - 1)
                                else mag - (1 << size) + 1
                            )
                            p += size
                            k += 1
                        pos_store[cid].append(
                            ((my * comp["v"] + by) * 8, (mx * comp["h"] + bx) * 8)
                        )
                        counters[cid] += 1

    zig = np.array(_JPEG_ZIGZAG)
    for c in comps:
        cid = c["id"]
        n = counters[cid]
        if not n:
            continue
        quant_z = np.asarray(qt[c["tq"]], dtype=np.float64)
        dq = coef_store[cid][:n] * quant_z  # dequant in zigzag order
        nat = np.zeros_like(dq)
        nat[:, zig] = dq  # dezigzag (zig is a permutation)
        blocks = a_mat.T @ nat.reshape(-1, 8, 8) @ a_mat + 128.0
        plane = planes[cid]
        for i2, (y0, x0) in enumerate(pos_store[cid]):
            plane[y0 : y0 + 8, x0 : x0 + 8] = blocks[i2]

    def upsample(comp):
        plane = planes[comp["id"]]
        if comp["h"] == hmax and comp["v"] == vmax:
            return plane[:h, :w]  # full-res component: crop, no gather
        ys = (np.arange(h) * comp["v"]) // vmax
        xs = (np.arange(w) * comp["h"]) // hmax
        return plane[np.ix_(ys, xs)]

    if len(comps) == 1:
        gray = upsample(comps[0])
        return w, h, np.clip(np.floor(gray + 0.5), 0, 255).astype(np.int64)
    y_p = upsample(comps[0])
    cb = upsample(comps[1]) - 128.0
    cr = upsample(comps[2]) - 128.0
    rgb = np.stack(
        [
            y_p + 1.402 * cr,
            y_p - 0.344136 * cb - 0.714136 * cr,
            y_p + 1.772 * cb,
        ],
        axis=2,
    )
    return w, h, np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.int64)


def jpeg_decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """REAL LOSSY-CODEC PIXEL DECODE: full baseline JPEG entropy decode
    (canonical Huffman, unstuffing, RST) + dequant + IDCT, reduced to
    exact integer stats. sum_left sums the LEFT HALF of every 8-wide
    block column (x % 8 < 4) — the statistic the horizontal-frequency AC
    coefficient shifts by +-120 per odd block, so the Huffman AC path,
    the zigzag ORIENTATION (index 1 must be horizontal), and the IDCT
    cosine basis are all load-bearing in the value hash. Malformed
    payloads return ok=False with null stats (errors as data)."""
    import numpy as np

    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            parsed = _parse_jpeg(bytes(payload or b""))
            if parsed is None:
                out.append((doc_id, None, None, None, None, False))
                continue
            w, h, img = parsed
            left = np.arange(w) % 8 < 4
            out.append(
                (
                    doc_id,
                    w,
                    h,
                    int(img.sum()),
                    int(img[:, left].sum()),
                    True,
                )
            )
        yield pd.DataFrame(
            out,
            columns=["doc_id", "width", "height", "sum_px", "sum_left", "ok"],
        )


def decode_jpeg(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched real baseline-JPEG decode: dims + exact pixel sums."""
    return with_payload.select("doc_id", "payload").mapInPandas(
        jpeg_decode_batch, schema=JPEG_DECODE_SCHEMA
    )


JPEG_RESIZE_SCHEMA = "doc_id long, x long, y long, px long"


def jpeg_resize_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Full lossy decode + floor-convention nearest-neighbor thumbnail in
    ONE Arrow pass — the vision-preprocessor front over a COMPRESSED
    format: native-resolution pixels never leave the UDF, only the
    RESIZE_W x RESIZE_H thumbnail rows do (the same posture as
    bmp_resize_batch, now behind a real entropy decode). Malformed
    payloads yield no rows."""
    import numpy as np

    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            parsed = _parse_jpeg(bytes(payload or b""))
            if parsed is None:
                continue
            w, h, img = parsed
            xs = (np.arange(RESIZE_W) * w) // RESIZE_W
            ys = (np.arange(RESIZE_H) * h) // RESIZE_H
            small = img[np.ix_(ys, xs)]
            # grayscale: the pixel; color: channel sum (one long either
            # way — schema-stable across component counts)
            if small.ndim == 3:
                small = small.sum(axis=2)
            for y in range(RESIZE_H):
                for x in range(RESIZE_W):
                    out.append((doc_id, x, y, int(small[y, x])))
        yield pd.DataFrame(out, columns=["doc_id", "x", "y", "px"])


def resize_jpeg(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched JPEG decode + thumbnail: one row per output pixel."""
    return with_payload.select("doc_id", "payload").mapInPandas(
        jpeg_resize_batch, schema=JPEG_RESIZE_SCHEMA
    )


# --- REAL compressed-image decode: GIF (LZW entropy coding) --------------
#
# The second compressed IMAGE codec leaves the stub surface (r12 VERDICT
# item 2): GIF's LZW is an exact integer algorithm (variable-width
# LSB-first codes, dictionary rebuild, clear/EOI controls — the public
# GIF89a spec + Welch's 1984 paper), so a fixed-code-stream fixture gives
# a closed-form oracle the same way ADPCM's fixed nibble pattern did.
#
# Exact-oracle construction (the ADPCM trick adapted to entropy coding):
# with LZW min code size 7 every code starts 8 bits wide, and the width
# only grows once the decoder's table reaches 256 entries — which takes
# 126 consecutive pixel codes after a Clear. The builder emits ONLY
# literal root codes (a valid LZW stream from a compressor that never
# finds a match) and re-emits Clear every 16 pixels, so every code in
# the fixture is exactly one byte and the JVM-side construction is plain
# binary concat. The DECODER is the full variable-width algorithm
# (dictionary growth, width bumps at 256/512/.../4096, KwKwK, deferred
# clears) — unit tests drive those paths with a genuine in-test LZW
# compressor; the fixture drives the container walk, palette mapping,
# multi-sub-block reassembly, and interlace reordering under the value
# hash. Every fixture is INTERLACED and the decode emits display-row-1's
# intensity, so a decoder that skips the four-pass deinterlace
# hash-mismatches the oracle (the BMP bottom-up-flip discipline).

GIF_MIN_CODE_SIZE = 7
GIF_CLEAR_EVERY = 16  # pixels between re-emitted Clear codes (width stays 8)
GIF_SUB_BLOCK = 15  # fixture sub-block size: forces multi-block reassembly
# 128-entry global palette: entry i = ((2i)%256, (3i)%256, (5i)%256)
GIF_PALETTE = bytes(
    v % 256 for i in range(128) for v in (2 * i, 3 * i, 5 * i)
)
GIF_DECODE_SCHEMA = (
    "doc_id long, width long, height long, n_pixels long, sum_r long,"
    " sum_g long, sum_b long, row1_sum long, ok boolean"
)


def make_gif_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload) where payload is a REAL interlaced GIF89a: header
    + logical screen descriptor, 128-entry global color table, a graphic
    control extension AND a comment extension (a naive parser trips over
    the sub-block walk), image descriptor with the interlace flag set,
    LZW min-code-size 7, and the code stream split into 15-byte data
    sub-blocks. Pixel index at row-major position k is
    (doc_id + 9*k) % 128; w = nb%7+1, h = nb%5+1 (nb =
    octet_length(text)). The code stream is Clear + literal codes with a
    Clear every 16 pixels + EOI — every code one byte (see the section
    comment), so construction never leaves the JVM."""
    nb = F.octet_length("text")
    w = (nb % 7 + 1).cast("long")
    h = (nb % 5 + 1).cast("long")
    n_px = (w * h).cast("long")
    clear = bytes([1 << GIF_MIN_CODE_SIZE])  # 0x80
    eoi = bytes([(1 << GIF_MIN_CODE_SIZE) + 1])  # 0x81
    codes = F.concat(
        F.aggregate(
            F.sequence(F.lit(0).cast("long"), n_px - 1),
            F.lit(clear),
            lambda acc, k: F.concat(
                acc,
                _be((F.col("doc_id") + 9 * k) % 128, 1),
                F.when(
                    ((k + 1) % GIF_CLEAR_EVERY == 0) & (k + 1 < n_px),
                    F.lit(clear),
                ).otherwise(F.lit(b"")),
            ),
        ),
        F.lit(eoi),
    )
    dlen = F.octet_length(codes).cast("long")
    n_blocks = F.ceil(dlen / GIF_SUB_BLOCK).cast("long")
    sub_blocks = F.aggregate(
        F.sequence(F.lit(0).cast("long"), n_blocks - 1),
        F.lit(b""),
        lambda acc, bi: F.concat(
            acc,
            _be(F.least(dlen - bi * GIF_SUB_BLOCK, F.lit(GIF_SUB_BLOCK)), 1),
            F.substring(
                codes, (bi * GIF_SUB_BLOCK + 1).cast("int"), GIF_SUB_BLOCK
            ),
        ),
    )
    # LSD packed: GCT present (0x80) | color resolution 6 (0x60) | GCT
    # size 6 => 2^7 = 128 entries (0x06)
    lsd = F.concat(_le(w, 2), _le(h, 2), F.lit(bytes([0xE6, 0, 0])))
    extensions = F.lit(
        b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # graphic control ext
        b"\x21\xfe\x05lake!\x00"  # comment ext: one sub-block + terminator
    )
    img_desc = F.concat(
        F.lit(b"\x2c\x00\x00\x00\x00"),  # separator, left=0, top=0
        _le(w, 2),
        _le(h, 2),
        F.lit(bytes([0x40])),  # interlaced, no local color table
    )
    payload = F.concat(
        F.lit(b"GIF89a"),
        lsd,
        F.lit(GIF_PALETTE),
        extensions,
        img_desc,
        F.lit(bytes([GIF_MIN_CODE_SIZE])),
        sub_blocks,
        F.lit(b"\x00\x3b"),  # block terminator + trailer
    )
    return docs.select("doc_id", payload.alias("payload"))


def _gif_lzw_decode(stream: bytes, min_code_size: int, max_pixels: int):
    """Real GIF-LZW decode: variable-width LSB-first codes, dictionary
    rebuild on Clear, width bumps when the table reaches 2^width (cap
    12 bits / 4096 entries per the spec), the KwKwK case (code == next
    free entry), EOI termination. Returns the pixel-index bytes or None
    on any malformed stream (errors as data); max_pixels bounds output
    so corrupt streams cannot balloon."""
    clear = 1 << min_code_size
    eoi = clear + 1
    roots = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(roots)
    width = min_code_size + 1
    prev = None
    out = bytearray()
    acc = n_bits = 0
    for byte in stream:
        acc |= byte << n_bits
        n_bits += 8
        while n_bits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            n_bits -= width
            if code == clear:
                table = list(roots)
                width = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return bytes(out)
            if code < len(table) and code != eoi:
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]  # KwKwK
            else:
                return None
            out += entry
            if len(out) > max_pixels:
                return None
            if prev is not None and len(table) < 4096:
                table.append(prev + entry[:1])
                if len(table) == (1 << width) and width < 12:
                    width += 1
            prev = entry
    return None  # ran out of bytes before EOI


# GIF interlace: four passes over display rows 0::8, 4::8, 2::4, 1::2 —
# file row order is the concatenation of the passes.
def _gif_interlace_order(h: int) -> list:
    return (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )


def _parse_gif(b: bytes):
    """Real GIF87a/89a decode, no codec library: header + logical screen
    descriptor, global/local color table, extension sub-block walk,
    image descriptor, multi-sub-block LZW data reassembly, full LZW
    decode (_gif_lzw_decode), four-pass deinterlace. Returns (w, h,
    index array (h, w) in DISPLAY order, palette (n, 3) int64) or None
    on ANY malformed input (errors as data)."""
    import struct

    import numpy as np

    if len(b) < 13 or b[:4] != b"GIF8" or b[4:6] not in (b"7a", b"9a"):
        return None
    w_s, h_s = struct.unpack_from("<HH", b, 6)
    packed = b[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        if len(b) < pos + 3 * n:
            return None
        gct = (
            np.frombuffer(b, np.uint8, 3 * n, pos)
            .reshape(n, 3)
            .astype(np.int64)
        )
        pos += 3 * n
    while pos < len(b):
        intro = b[pos]
        if intro == 0x3B:  # trailer before any image
            return None
        if intro == 0x21:  # extension: label byte + sub-block walk
            pos += 2
            while True:
                if pos >= len(b):
                    return None
                sz = b[pos]
                pos += 1 + sz
                if sz == 0:
                    break
            continue
        if intro != 0x2C:
            return None
        if pos + 10 > len(b):
            return None
        _left, _top, iw, ih = struct.unpack_from("<HHHH", b, pos + 1)
        ipacked = b[pos + 9]
        pos += 10
        pal = gct
        if ipacked & 0x80:  # local color table overrides
            n = 2 << (ipacked & 7)
            if len(b) < pos + 3 * n:
                return None
            pal = (
                np.frombuffer(b, np.uint8, 3 * n, pos)
                .reshape(n, 3)
                .astype(np.int64)
            )
            pos += 3 * n
        if pal is None or iw == 0 or ih == 0 or pos >= len(b):
            return None
        mcs = b[pos]
        pos += 1
        if not 2 <= mcs <= 8:
            return None
        data = bytearray()
        while True:
            if pos >= len(b):
                return None
            sz = b[pos]
            pos += 1
            if sz == 0:
                break
            if pos + sz > len(b):
                return None
            data += b[pos : pos + sz]
            pos += sz
        idx_bytes = _gif_lzw_decode(bytes(data), mcs, iw * ih)
        if idx_bytes is None or len(idx_bytes) != iw * ih:
            return None
        arr = np.frombuffer(idx_bytes, np.uint8).astype(np.int64)
        if int(arr.max(initial=0)) >= len(pal):
            return None
        img = arr.reshape(ih, iw)
        if ipacked & 0x40:  # interlaced: file pass order -> display rows
            disp = np.empty_like(img)
            disp[_gif_interlace_order(ih)] = img
            img = disp
        return iw, ih, img, pal
    return None


def gif_decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """REAL LZW IMAGE DECODE: per blob, walk the GIF container, LZW-decode
    the pixel indices, deinterlace, map through the color table, and
    reduce to exact integer channel sums + display-row-1's intensity
    (the deinterlace witness — see make_gif_payload). Malformed payloads
    return ok=False with null stats (errors as data)."""
    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            parsed = _parse_gif(bytes(payload or b""))
            if parsed is None:
                out.append(
                    (doc_id, None, None, None, None, None, None, None, False)
                )
                continue
            w, h, img, pal = parsed
            rgb = pal[img]  # (h, w, 3) in display order
            row1 = int(rgb[1].sum()) if h > 1 else 0
            out.append(
                (
                    doc_id,
                    w,
                    h,
                    w * h,
                    int(rgb[..., 0].sum()),
                    int(rgb[..., 1].sum()),
                    int(rgb[..., 2].sum()),
                    row1,
                    True,
                )
            )
        yield pd.DataFrame(
            out,
            columns=[
                "doc_id", "width", "height", "n_pixels", "sum_r", "sum_g",
                "sum_b", "row1_sum", "ok",
            ],
        )


def decode_gif(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched real GIF/LZW decode: dims + exact channel sums +
    the deinterlace-witness row-1 intensity."""
    return with_payload.select("doc_id", "payload").mapInPandas(
        gif_decode_batch, schema=GIF_DECODE_SCHEMA
    )


# --- Heterogeneous media lake: magic-byte dispatch over mixed blobs ------

DISPATCH_SCHEMA = "doc_id long, kind string, n_units long, checksum long"


def dispatch_decode_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """ONE decoder pass over a MIXED media column: sniff the container by
    magic bytes (the only honest router for a heterogeneous lake — file
    extensions don't survive object stores) and dispatch to the real
    BMP/PNG/JPEG/GIF/WAV/ADPCM/mu-law/AVI decoders (the RIFF/WAVE branch
    falls through PCM -> ADPCM -> mu-law on the fmt tag). Normalized
    output: modality-agnostic unit count (pixels / samples / frames) +
    an exact integer checksum of every decoded value, so the value hash
    covers all eight decode paths at once. Unrecognized/corrupt blobs
    become kind='unknown' rows (errors as data)."""
    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(payload or b"")
            kind, n_units, checksum = "unknown", None, None
            if b[:2] == BMP_MAGIC:
                parsed = _parse_bmp(b)
                if parsed is not None:
                    w, h, img = parsed
                    kind, n_units, checksum = "bmp", w * h, int(img.sum())
            elif b[:8] == PNG_SIG:
                parsed = _parse_png(b)
                if parsed is not None:
                    w, h, img = parsed
                    kind, n_units, checksum = "png", w * h, int(img.sum())
            elif b[:2] == JPEG_SOI:
                parsed = _parse_jpeg(b)
                if parsed is not None:
                    w, h, img = parsed
                    kind, n_units, checksum = "jpeg", w * h, int(img.sum())
            elif b[:4] == b"GIF8":
                parsed = _parse_gif(b)
                if parsed is not None:
                    w, h, img, pal = parsed
                    kind, n_units = "gif", w * h
                    checksum = int(pal[img].sum())
            elif b[:4] == b"RIFF" and b[8:12] == b"WAVE":
                samples = _parse_wav(b)
                if samples is not None:
                    kind = "wav"
                    n_units = len(samples)
                    checksum = int((samples + 32768).sum())  # unsigned view
                else:
                    samples = _parse_adpcm_wav(b)
                    if samples is not None and samples.size:
                        kind = "adpcm"
                        n_units = len(samples)
                        checksum = int((samples + 32768).sum())
                    else:
                        samples = _parse_mulaw_wav(b)
                        if samples is not None and samples.size:
                            kind = "mulaw"
                            n_units = len(samples)
                            checksum = int((samples + 32768).sum())
            elif b[:4] == b"RIFF" and b[8:12] == b"AVI ":
                parsed = _parse_avi(b)
                if parsed is not None:
                    _, _, frames = parsed
                    kind = "avi"
                    n_units = len(frames)
                    checksum = int(sum(f.sum() for f in frames))
            out.append((doc_id, kind, n_units, checksum))
        yield pd.DataFrame(out, columns=["doc_id", "kind", "n_units", "checksum"])


def dispatch_decode(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched mixed-container decode: one stats row per blob."""
    return with_payload.select("doc_id", "payload").mapInPandas(
        dispatch_decode_batch, schema=DISPATCH_SCHEMA
    )

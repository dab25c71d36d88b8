"""Pigeonhole completeness of the Hamming-LSH banding and l-diversity
semantics — properties beyond the oracle's value-hash."""

from __future__ import annotations

from pyspark.sql import functions as F

from ntd_gtfs_to_socrata_spark.io import load_table
from ntd_gtfs_to_socrata_spark.operators import multimodal as MM
from ntd_gtfs_to_socrata_spark.queries.multimodal_q import _PHASH_T, mm_phash_neardup
from ntd_gtfs_to_socrata_spark.queries.privacy_q import _L, privacy_l_diversity


def test_phash_banding_loses_no_pair_vs_bruteforce(spark, sf_dir):
    banded = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in mm_phash_neardup(spark, sf_dir).collect()
    }
    assert banded, "fixture corpus contains phash near-dups"
    # brute force: all-pairs hamming over the same band signatures
    bands = MM.phash_bands(
        MM.attach_payload(load_table(spark, sf_dir, "documents"))
    ).collect()
    brute = {}
    for i, a in enumerate(bands):
        for b in bands[i + 1 :]:
            h = sum(
                bin(a[f"b{j}"] ^ b[f"b{j}"]).count("1") for j in range(4)
            )
            if h <= _PHASH_T:
                key = (min(a["doc_id"], b["doc_id"]), max(a["doc_id"], b["doc_id"]))
                brute[key] = h
    assert banded == brute  # exact: pigeonhole guarantees zero recall loss


def test_phash_bands_are_16bit(spark, sf_dir):
    rows = MM.phash_bands(
        MM.attach_payload(load_table(spark, sf_dir, "documents"))
    ).collect()
    for r in rows:
        for j in range(4):
            assert 0 <= r[f"b{j}"] < (1 << 16)


def test_l_diversity_bounded_by_k_anonymity_universe(spark, sf_dir):
    row = privacy_l_diversity(spark, sf_dir).collect()[0]
    assert row["min_diversity"] >= 1
    assert 0 <= row["n_low_diversity"] <= row["n_groups"]
    assert row["min_entropy"] >= 0.0
    # a group below l distinct values has entropy < ln(l)
    import math

    if row["n_low_diversity"] > 0:
        assert row["min_entropy"] < math.log(_L) + 1e-9
    cust = load_table(spark, sf_dir, "customer")
    n_groups_direct = (
        cust.select(
            "c_nationkey", F.floor(F.col("c_acctbal") / 1000).alias("bal_band")
        )
        .distinct()
        .count()
    )
    assert row["n_groups"] == n_groups_direct


def test_parse_header_real_byte_layouts():
    """The header parser reads REAL container layouts: a hand-built PNG
    IHDR, a JPEG whose SOF0 sits behind extra APPn/comment segments
    (marker walk must skip by length), truncated/malformed variants, and
    a foreign format."""
    import struct

    from ntd_gtfs_to_socrata_spark.operators.multimodal import (
        JPEG_SOI,
        PNG_SIG,
        parse_header,
    )

    ihdr = struct.pack(">II", 1234, 567) + bytes([16, 4, 0, 0, 0])
    png = PNG_SIG + b"\x00\x00\x00\x0dIHDR" + ihdr + b"\x00\x00\x00\x00"
    assert parse_header(png) == ("png", 1234, 567, 16, 2, True)

    # JPEG: SOI + APP1 (Exif-style, must be skipped) + COM + SOF2
    app1 = b"\xff\xe1" + struct.pack(">H", 8) + b"Exif\x00\x00"
    com = b"\xff\xfe" + struct.pack(">H", 5) + b"abc"
    sof2 = (
        b"\xff\xc2"
        + struct.pack(">H", 11)
        + bytes([12])
        + struct.pack(">HH", 600, 800)
        + bytes([1, 0x11, 0])
    )
    assert parse_header(JPEG_SOI + app1 + com + sof2) == (
        "jpeg", 800, 600, 12, 1, True,
    )

    # truncated PNG (signature only), bad IHDR tag, truncated JPEG
    assert parse_header(PNG_SIG) == ("png", None, None, None, None, False)
    bad = PNG_SIG + b"\x00\x00\x00\x0dIDAT" + ihdr + b"\x00\x00\x00\x00"
    assert parse_header(bad) == ("png", None, None, None, None, False)
    assert parse_header(JPEG_SOI + app1) == ("jpeg", None, None, None, None, False)
    assert parse_header(b"GIF89a....") == (
        "unknown", None, None, None, None, False,
    )
    assert parse_header(b"") == ("unknown", None, None, None, None, False)
    # invalid PNG color type -> channels unknown, ok False
    bad_ct = (
        PNG_SIG
        + b"\x00\x00\x00\x0dIHDR"
        + struct.pack(">II", 1, 1)
        + bytes([8, 9, 0, 0, 0])
        + b"\x00\x00\x00\x00"
    )
    assert parse_header(bad_ct) == ("png", 1, 1, 8, None, False)


def test_make_image_payload_roundtrip(spark, sf_dir):
    """JVM-built container bytes parse back to the construction formula
    for every doc — the end-to-end build→parse loop at fixture scale."""
    from ntd_gtfs_to_socrata_spark.io import load_table
    from ntd_gtfs_to_socrata_spark.operators.multimodal import (
        make_image_payload,
        parse_image_headers,
    )

    docs = load_table(spark, sf_dir, "documents").limit(50)
    parsed = parse_image_headers(make_image_payload(docs))
    rows = {r["doc_id"]: r for r in parsed.collect()}
    for r in docs.select("doc_id", F.octet_length("text").alias("nb")).collect():
        p = rows[r["doc_id"]]
        assert p["ok"], p
        assert p["width"] == r["nb"] % 640 + 1
        assert p["height"] == r["nb"] % 480 + 1
        assert p["format"] == ("png" if r["doc_id"] % 2 == 0 else "jpeg")


def test_parse_header_jpeg_fill_bytes_and_sos_stop():
    """Real-world JPEG quirks (advisor r8): runs of 0xFF fill bytes before
    a marker are legal padding and must be skipped, and the walk must stop
    at SOS (0xDA) — entropy-coded data follows, so a stream with no SOF
    before SOS returns ok=False instead of misparsing pixel bytes."""
    import struct

    from ntd_gtfs_to_socrata_spark.operators.multimodal import (
        JPEG_SOI,
        parse_header,
    )

    # fill bytes 0xFF 0xFF before SOF0: must still parse the frame header
    sof0 = (
        b"\xff\xff\xff\xc0"
        + struct.pack(">H", 11)
        + bytes([8])
        + struct.pack(">HH", 10, 20)
        + bytes([1, 0x11, 0])
    )
    assert parse_header(JPEG_SOI + sof0) == ("jpeg", 20, 10, 8, 1, True)

    # SOS with no prior SOF: stop the walk, errors-as-data
    sos = b"\xff\xda" + struct.pack(">H", 8) + b"\x01\x01\x00\x3f\x00\x00"
    assert parse_header(JPEG_SOI + sos + b"\x12\x34\xff\xc0") == (
        "jpeg", None, None, None, None, False,
    )


def test_bmp_parse_real_byte_layouts():
    """_parse_bmp reads real BMP layouts: hand-built bottom-up and
    TOP-DOWN (negative height) files, plus malformed variants (short,
    wrong magic, 8-bpp, compressed, truncated pixel array)."""
    import struct

    import numpy as np

    from ntd_gtfs_to_socrata_spark.operators.multimodal import _parse_bmp

    def build(w, h, pixels, top_down=False):
        stride = ((w * 3 + 3) // 4) * 4
        hh = -h if top_down else h
        hdr = b"BM" + struct.pack("<IHHI", 54 + stride * h, 0, 0, 54)
        info = struct.pack("<IiiHHIIiiII", 40, w, hh, 1, 24, 0, stride * h, 2835, 2835, 0, 0)
        body = bytearray()
        for r in range(h):
            row = bytearray()
            for px in pixels[r]:
                row += bytes(px)  # already BGR triples
            row += b"\x00" * (stride - w * 3)
            body += row
        return hdr + info + bytes(body)

    # 2x2: file rows bottom-up, so image row 0 = file row 1
    file_rows = [
        [(1, 2, 3), (4, 5, 6)],      # file row 0 = image BOTTOM
        [(7, 8, 9), (10, 11, 12)],   # file row 1 = image TOP
    ]
    w, h, img = _parse_bmp(build(2, 2, file_rows))
    assert (w, h) == (2, 2)
    assert img[0].tolist() == [[7, 8, 9], [10, 11, 12]]  # top row
    assert img[1].tolist() == [[1, 2, 3], [4, 5, 6]]

    # top-down: image order equals file order
    w, h, img = _parse_bmp(build(2, 2, file_rows, top_down=True))
    assert img[0].tolist() == [[1, 2, 3], [4, 5, 6]]

    good = build(2, 2, file_rows)
    assert _parse_bmp(b"") is None
    assert _parse_bmp(b"XX" + good[2:]) is None
    assert _parse_bmp(good[:40]) is None            # short header
    assert _parse_bmp(good[:-3]) is None            # truncated pixels
    bad_bpp = bytearray(good); bad_bpp[28] = 8
    assert _parse_bmp(bytes(bad_bpp)) is None
    bad_comp = bytearray(good); bad_comp[30] = 1    # BI_RLE8
    assert _parse_bmp(bytes(bad_comp)) is None


def test_bmp_payload_is_valid_bmp_and_formula_exact(spark, sf_dir):
    """End-to-end: JVM-built BMPs parse as real files and every decoded
    channel sum equals the construction formula, doc by doc."""
    from pyspark.sql import functions as F

    from ntd_gtfs_to_socrata_spark.io import load_table
    from ntd_gtfs_to_socrata_spark.operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents").limit(20)
    nb = {
        r["doc_id"]: r["nb"]
        for r in docs.select("doc_id", F.octet_length("text").alias("nb")).collect()
    }
    dec = MM.decode_bmp(MM.make_bmp_payload(docs)).collect()
    assert len(dec) == len(nb)
    for r in dec:
        n = nb[r["doc_id"]]
        w, h = n % 8 + 1, n % 6 + 1
        sums = {0: 0, 1: 0, 2: 0}
        for rr in range(h):
            for j in range(w * 3):
                sums[j % 3] += (r["doc_id"] + 13 * rr + 7 * j) % 256
        assert (r["width"], r["height"], r["ok"]) == (w, h, True)
        assert (r["sum_r"], r["sum_g"], r["sum_b"]) == (sums[2], sums[1], sums[0])


def test_bmp_resize_matches_independent_nn_reference(spark, sf_dir):
    """mm_bmp_resize vs a from-scratch reference: decode each payload
    with _parse_bmp directly (driver-side), resample with explicit
    per-pixel floor math (no np.ix_ fancy-indexing, no shared helper),
    and require byte equality on every output pixel."""
    from ntd_gtfs_to_socrata_spark.operators import multimodal as MM
    from ntd_gtfs_to_socrata_spark.queries.multimodal_q import mm_bmp_resize

    docs = load_table(spark, sf_dir, "documents").limit(40)
    payloads = {
        r["doc_id"]: bytes(r["payload"])
        for r in MM.make_bmp_payload(docs).collect()
    }
    expected = set()
    for doc_id, blob in payloads.items():
        w, h, img = MM._parse_bmp(blob)
        for y in range(MM.RESIZE_H):
            for x in range(MM.RESIZE_W):
                sy = (y * h) // MM.RESIZE_H
                sx = (x * w) // MM.RESIZE_W
                bb, gg, rr = (int(v) for v in img[sy, sx])
                expected.add((doc_id, x, y, rr, gg, bb))

    got = {
        tuple(r)
        for r in mm_bmp_resize(spark, sf_dir)
        .filter(F.col("doc_id").isin(*payloads))
        .collect()
    }
    assert got == expected


def test_bmp_resize_fanout_is_bounded(spark, sf_dir):
    """Exactly RESIZE_W*RESIZE_H rows per decodable image, coordinates in
    range — the bounded fan-out contract the scale posture relies on."""
    from ntd_gtfs_to_socrata_spark.operators import multimodal as MM
    from ntd_gtfs_to_socrata_spark.queries.multimodal_q import mm_bmp_resize

    out = mm_bmp_resize(spark, sf_dir)
    per_doc = out.groupBy("doc_id").count()
    n_cells = MM.RESIZE_W * MM.RESIZE_H
    assert per_doc.filter(F.col("count") != n_cells).count() == 0
    bounds = out.agg(
        F.max("x").alias("mx"),
        F.max("y").alias("my"),
        F.min("r").alias("mr"),
        F.max("r").alias("xr"),
    ).first()
    assert bounds["mx"] == MM.RESIZE_W - 1 and bounds["my"] == MM.RESIZE_H - 1
    assert 0 <= bounds["mr"] and bounds["xr"] <= 255


def _ref_png(w, h, pixels, filters):
    """Independent PNG builder (pure Python, real zlib.compress — DYNAMIC
    deflate blocks, unlike the JVM construction's stored blocks): filters
    each scanline per `filters[r]` with the spec's forward transforms."""
    import struct
    import zlib

    rb = w * 3
    flat = [pixels[r][j] for r in range(h) for j in range(rb)]
    stream = bytearray()
    recon = [[0] * rb for _ in range(h)]
    for r in range(h):
        for j in range(rb):
            recon[r][j] = flat[r * rb + j]
    for r in range(h):
        f = filters[r]
        stream.append(f)
        prev = recon[r - 1] if r > 0 else [0] * rb
        for j in range(rb):
            x = recon[r][j]
            a = recon[r][j - 3] if j >= 3 else 0
            b = prev[j]
            c = prev[j - 3] if j >= 3 else 0
            if f == 0:
                raw = x
            elif f == 1:
                raw = x - a
            elif f == 2:
                raw = x - b
            elif f == 3:
                raw = x - (a + b) // 2
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                raw = x - pred
            stream.append(raw & 0xFF)

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">II", w, h) + bytes([8, 2, 0, 0, 0])
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(stream)))
        + chunk(b"IEND", b"")
    )


def test_png_unfilter_all_five_spec_filters():
    """The decoder against an INDEPENDENT encoder, one scanline per
    filter type (None/Sub/Up/Average/Paeth) over a dynamic-deflate
    stream — the construction path only emits None/Sub + stored blocks,
    so this pins the decode paths the oracle can't reach."""
    w, h = 4, 5
    rb = w * 3
    pixels = [[(31 * r + 7 * j + r * j) % 256 for j in range(rb)] for r in range(h)]
    blob = _ref_png(w, h, pixels, filters=[0, 1, 2, 3, 4])
    parsed = MM._parse_png(blob)
    assert parsed is not None
    pw, ph, img = parsed
    assert (pw, ph) == (w, h)
    got = [[int(img[r, j // 3, j % 3]) for j in range(rb)] for r in range(h)]
    assert got == pixels


def test_png_parse_rejects_malformed_payloads():
    import struct
    import zlib

    good = _ref_png(2, 2, [[1] * 6, [2] * 6], [0, 0])
    assert MM._parse_png(good) is not None
    assert MM._parse_png(b"") is None
    assert MM._parse_png(b"\x89PNG\r\n\x1a\n") is None  # no chunks
    # flip a pixel byte inside IDAT without fixing the chunk CRC
    bad_crc = bytearray(good)
    idat_at = good.index(b"IDAT")
    bad_crc[idat_at + 10] ^= 0xFF
    assert MM._parse_png(bytes(bad_crc)) is None
    # truncated zlib stream but VALID chunk CRC: inflate must fail cleanly
    ihdr = struct.pack(">II", 2, 2) + bytes([8, 2, 0, 0, 0])

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    trunc = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"x" * 14)[:-3])
        + chunk(b"IEND", b"")
    )
    assert MM._parse_png(trunc) is None
    # chunk whose DECLARED length runs past the buffer: must be
    # errors-as-data (None), never struct.error killing the Spark task
    overrun = b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 0xFFFF) + b"IHDR"
    assert MM._parse_png(overrun) is None
    # decompression bomb: valid CRCs, tiny IDAT inflating far past the
    # geometry (2x2) — the capped inflate must reject, not allocate GiBs
    bomb = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 10_000_000, 9))
        + chunk(b"IEND", b"")
    )
    assert MM._parse_png(bomb) is None
    # hostile IHDR dims (2^31 x 2^31): dim cap must reject before sizing
    huge_ihdr = struct.pack(">II", 1 << 31, 1 << 31) + bytes([8, 2, 0, 0, 0])
    huge = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", huge_ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 16))
        + chunk(b"IEND", b"")
    )
    assert MM._parse_png(huge) is None


def test_jvm_png_payload_is_a_real_png(spark, sf_dir):
    """The JVM-built payloads round-trip through the independent stdlib
    path: zlib.decompress inflates the IDAT (stored block), chunk CRCs
    verify, and reconstructed pixels match the construction formula."""
    docs = load_table(spark, sf_dir, "documents").limit(25)
    for r in MM.make_png_payload(docs).collect():
        doc_id, blob = r["doc_id"], bytes(r["payload"])
        parsed = MM._parse_png(blob)
        assert parsed is not None, f"doc {doc_id} payload failed to parse"
        w, h, img = parsed
        for rr in range(h):
            for j in range(3 * w):
                assert int(img[rr, j // 3, j % 3]) == (doc_id + 17 * rr + 5 * j * j) % 256


def test_wav_parse_decodes_stdlib_wave_output():
    """Decoder vs an INDEPENDENT encoder: the stdlib `wave` module writes
    a canonical RIFF/WAVE (no planted junk chunk, different chunk layout)
    — our parser must read it back sample-exact."""
    import io
    import struct
    import wave

    samples = [0, 1, -1, 32767, -32768, 12345, -23456, 7]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(8000)
        f.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    got = MM._parse_wav(buf.getvalue())
    assert got is not None and list(got) == samples


def test_wav_parse_rejects_malformed_payloads():
    import io
    import struct
    import wave

    def build(channels=1, width=2):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as f:
            f.setnchannels(channels)
            f.setsampwidth(width)
            f.setframerate(8000)
            f.writeframes(b"\x00" * (8 * channels * width))
        return buf.getvalue()

    assert MM._parse_wav(build()) is not None
    assert MM._parse_wav(build(channels=2)) is None  # stereo rejected
    assert MM._parse_wav(build(width=1)) is None  # 8-bit rejected
    assert MM._parse_wav(b"") is None
    assert MM._parse_wav(b"RIFF\x00\x00\x00\x00WAVE") is None  # no chunks
    good = bytearray(build())
    good[0:4] = b"RIFX"  # wrong magic
    assert MM._parse_wav(bytes(good)) is None
    # data chunk declares 1,000 bytes but carries 100: truncated, not 50 samples
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
    body = b"WAVE" + fmt + b"data" + struct.pack("<I", 1000) + b"\x01" * 100
    short = b"RIFF" + struct.pack("<I", len(body)) + body
    assert MM._parse_wav(short) is None


def test_jvm_wav_payload_is_a_real_wav(spark, sf_dir):
    """JVM-built payloads round-trip through the independent stdlib path
    (`wave` module reads them despite the planted LIST chunk) and samples
    match the construction formula with SIGNED interpretation."""
    import io
    import struct
    import wave

    docs = load_table(spark, sf_dir, "documents").limit(20)
    for r in MM.make_wav_payload(docs).collect():
        doc_id, blob = r["doc_id"], bytes(r["payload"])
        with wave.open(io.BytesIO(blob)) as f:
            assert f.getnchannels() == 1 and f.getsampwidth() == 2
            raw = f.readframes(f.getnframes())
        samples = struct.unpack(f"<{len(raw)//2}h", raw)
        for t, s in enumerate(samples):
            assert s == ((doc_id * 31 + 7 * t) % 65536) - 32768
        ours = MM._parse_wav(blob)
        assert ours is not None and list(ours) == list(samples)


def test_jvm_avi_payload_parses_and_matches_formula(spark, sf_dir):
    """JVM-built AVIs decode frame-exact: header dims honored, JUNK chunk
    skipped, every frame's every pixel matches the construction formula
    after the bottom-up flip."""
    docs = load_table(spark, sf_dir, "documents").limit(15)
    for rec in MM.make_avi_payload(docs).collect():
        doc_id, blob = rec["doc_id"], bytes(rec["payload"])
        parsed = MM._parse_avi(blob)
        assert parsed is not None, f"doc {doc_id} AVI failed to parse"
        w, h, frames = parsed
        assert len(frames) >= 2
        for f, img in enumerate(frames):
            for y in range(h):
                r = h - 1 - y  # image row y came from file row r
                for j in range(3 * w):
                    assert int(img[y, j // 3, j % 3]) == (
                        doc_id + 11 * f + 13 * r + 7 * j
                    ) % 256


def test_avi_parse_rejects_malformed_payloads(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(1)
    blob = bytes(MM.make_avi_payload(docs).first()["payload"])
    assert MM._parse_avi(blob) is not None
    assert MM._parse_avi(b"") is None
    assert MM._parse_avi(b"RIFF\x04\x00\x00\x00WAVE") is None  # not AVI
    # drop one frame chunk: declared total_frames no longer matches
    movi_at = blob.index(b"00db")
    truncated = blob[:movi_at]
    assert MM._parse_avi(truncated) is None
    # corrupt the stream handler fourcc: stream validation must fail
    bad = bytearray(blob)
    at = blob.index(b"vidsDIB ")
    bad[at + 4 : at + 8] = b"H264"
    assert MM._parse_avi(bytes(bad)) is None
    # avih sub-chunk whose DECLARED length runs past the hdrl body:
    # errors-as-data (None), never struct.error on the dim unpack
    import struct as _struct

    over = bytearray(blob)
    avih_at = blob.index(b"avih")
    _struct.pack_into("<I", over, avih_at + 4, 0x00FFFFFF)
    assert MM._parse_avi(bytes(over)) is None
    # truncated avih body (declared 56 but hdrl LIST ends early)
    stub = (
        blob[:12]
        + b"LIST"
        + _struct.pack("<I", 4 + 8 + 8)
        + b"hdrl"
        + b"avih"
        + _struct.pack("<I", 56)
        + b"\x00" * 8
    )
    fixed = bytearray(stub)
    _struct.pack_into("<I", fixed, 4, len(stub) - 8)
    assert MM._parse_avi(bytes(fixed)) is None


def test_dispatch_decode_covers_all_kinds_and_flags_garbage():
    """The router classifies each container by magic bytes and degrades
    to kind='unknown' rows for garbage — exercised on hand-built blobs
    without a Spark pass."""
    rows = [
        row
        for blob in (b"not media at all", b"RIFF\x00\x00\x00\x00XXXX")
        for row in MM._dispatch_rows(blob)
    ]
    assert [kind for kind, _, _ in rows] == ["unknown", "unknown"]
    assert all(n_units is None for _, n_units, _ in rows)


def test_every_decoder_survives_garbage_and_null_payloads(spark):
    """Each of the 17 decoders runs in Spark over a garbage blob and a
    NULL payload without failing its task: the one-row-per-blob
    decoders return one row per blob, and the real-codec summary
    decoders return ok=False with NULL stats."""
    blobs = spark.createDataFrame(
        [(1, b"\x00garbage\xff" * 3), (2, None)], "doc_id long, payload binary"
    )
    summaries = [
        MM.decode_bmp, MM.decode_png, MM.decode_adpcm, MM.decode_mulaw,
        MM.decode_jpeg, MM.decode_gif,
    ]
    one_row = [
        MM.decode_media, MM.parse_image_headers, MM.phash_bands,
        MM.dispatch_decode, *summaries,
    ]
    fan_out = [
        MM.audio_window_stats, MM.frame_intensities, MM.bmp_row_intensities,
        MM.resize_bmp, MM.wav_window_stats, MM.avi_frame_sample, MM.resize_jpeg,
    ]
    assert len(one_row) + len(fan_out) == 17
    for decode in fan_out:
        decode(blobs).collect()
    for decode in one_row:
        rows = decode(blobs).collect()
        assert sorted(r["doc_id"] for r in rows) == [1, 2], decode.__name__
        if decode in summaries:
            for r in rows:
                stats = {k: v for k, v in r.asDict().items() if k not in ("doc_id", "ok")}
                assert r["ok"] is False, decode.__name__
                assert set(stats.values()) == {None}, (decode.__name__, stats)


def test_dispatch_decode_agrees_with_single_format_decoders(spark, sf_dir):
    """Per-kind checksums equal what the dedicated decoders report —
    dispatch adds routing, never changes decode results."""
    from ntd_gtfs_to_socrata_spark.queries.multimodal_q import mm_dispatch_decode

    out = {r["doc_id"]: r for r in mm_dispatch_decode(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents")
    bmp_docs = docs.filter(F.col("doc_id") % 8 == 0).limit(10)
    for r in MM.decode_bmp(MM.make_bmp_payload(bmp_docs)).collect():
        d = out[r["doc_id"]]
        assert d["kind"] == "bmp"
        assert d["checksum"] == r["sum_r"] + r["sum_g"] + r["sum_b"]
        assert d["n_units"] == r["width"] * r["height"]
    jpg_docs = docs.filter(F.col("doc_id") % 8 == 4).limit(10)
    for r in MM.decode_jpeg(MM.make_jpeg_payload(jpg_docs)).collect():
        d = out[r["doc_id"]]
        assert d["kind"] == "jpeg"
        assert d["checksum"] == r["sum_px"]
        assert d["n_units"] == r["width"] * r["height"]
    adp_docs = docs.filter(F.col("doc_id") % 8 == 5).limit(10)
    for r in MM.decode_adpcm(MM.make_adpcm_payload(adp_docs)).collect():
        d = out[r["doc_id"]]
        assert d["kind"] == "adpcm"
        assert d["checksum"] == r["sum_s"] + 32768 * r["n_samples"]
        assert d["n_units"] == r["n_samples"]
    gif_docs = docs.filter(F.col("doc_id") % 8 == 6).limit(10)
    for r in MM.decode_gif(MM.make_gif_payload(gif_docs)).collect():
        d = out[r["doc_id"]]
        assert d["kind"] == "gif"
        assert d["checksum"] == r["sum_r"] + r["sum_g"] + r["sum_b"]
        assert d["n_units"] == r["n_pixels"]
    mlw_docs = docs.filter(F.col("doc_id") % 8 == 7).limit(10)
    for r in MM.decode_mulaw(MM.make_mulaw_payload(mlw_docs)).collect():
        d = out[r["doc_id"]]
        assert d["kind"] == "mulaw"
        assert d["checksum"] == r["sum_s"] + 32768 * r["n_samples"]
        assert d["n_units"] == r["n_samples"]

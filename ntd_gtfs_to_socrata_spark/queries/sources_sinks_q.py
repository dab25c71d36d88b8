"""Rows-only registered queries for the source/sink protocol surfaces
(SURVEY.md §2.1 S4/S5/S7/S9/S12) — r5 verdict item 4.

These operators have no SQL-expressible oracle (zip bytes, HTTP protocol
steps), so per the driver contract they register WITHOUT an oracle entry
and get the weaker rows-only check — but that puts them under the driver's
sampled gate instead of pytest-only coverage. Inputs are hermetic:

- S5: a deterministic zip fixture set (clean archive, BOM+quoted archive,
  missing-member archive, corrupt archive) synthesized once under
  ``.synthetic_fixtures/`` — the reference's GTFS download set in
  miniature (publish_to_catalog.py:316-325);
- S7/S9: the production sink code paths run against an injected fake
  transport (the test seam the sink layer is built around), so every HTTP
  step executes without a network.
"""

from __future__ import annotations

import io
import os
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ntd_gtfs_to_socrata_spark.queries import FIXTURE_ROOT, register
from ntd_gtfs_to_socrata_spark.sinks import HttpBatchSink, RevisionPublisher
from ntd_gtfs_to_socrata_spark.sources.zip_ingest import read_member_csv, read_zip_blobs

_FIXTURE_DIR = os.path.join(FIXTURE_ROOT, "zips")

# The reference's real-world dirty-input matrix (SURVEY.md §5): BOM prefix,
# quoted/padded cells, missing optional columns, a missing member, a corrupt
# archive. Stop rows are constants so the query is deterministic.
_STOPS_A = (
    "﻿stop_id,stop_code,stop_name,stop_lat,stop_lon,zone_id,location_type\n"
    '"s1", "c1" ,Alpha,10.0,20.0,z1,0\n'
    "s2,c2,'Beta',91.5,20.0,z1,1\n"
    "s3,c3,Gamma,-10.25,-120.75,z2,\n"
)
_STOPS_B = "stop_id,stop_name,stop_lat,stop_lon\nb1,Delta,1.0,2.0\nb2,Eps,3.0,4.0\n"


def _zip_bytes(members: dict[str, str]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, text in members.items():
            z.writestr(name, text)
    return buf.getvalue()


def _ensure_zip_fixtures() -> str:
    os.makedirs(_FIXTURE_DIR, exist_ok=True)
    fixtures = {
        "gtfs_a.zip": _zip_bytes({"stops.txt": _STOPS_A, "routes.txt": "r\n1\n"}),
        "gtfs_b.zip": _zip_bytes({"stops.txt": _STOPS_B}),
        "gtfs_no_member.zip": _zip_bytes({"routes.txt": "r\n1\n"}),
        "not_a_zip.zip": b"this is not a zip archive",
    }
    for name, payload in fixtures.items():
        path = os.path.join(_FIXTURE_DIR, name)
        if not os.path.exists(path):
            with open(path, "wb") as f:
                f.write(payload)
    return _FIXTURE_DIR


@register("s5_zip_member_extract")
def s5_zip_member_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+S5 (+S6-in-S5): binaryFile scan over a 4-archive fixture set →
    member extraction and member-CSV parse in one distributed Python pass,
    with extraction failures surfaced as DATA rows (the reference's
    (response, error) convention, publish_to_catalog.py:68-80) rather than
    exceptions.

    Output: one row per parsed stop (error NULL) plus one row per failed
    archive (stop columns NULL) — 5 stops + 2 errors = 7 rows. Scale
    posture: archives parallelize across tasks via Arrow-batched
    mapInPandas; no driver-side loop (the reference downloads and parses
    serially, L316-325)."""
    path_glob = _ensure_zip_fixtures()
    rows = read_member_csv(read_zip_blobs(spark, path_glob), "stops.txt")
    return rows.select(
        F.element_at(F.split("path", "/"), -1).alias("archive"),
        "stop_id",
        "stop_name",
        "error",
    )


def _recording_ok_transport(url: str, body: bytes, headers: dict) -> tuple[int, str]:
    """Fake Socrata upsert endpoint: accept everything. Top-level function
    so it pickles into executor tasks."""
    return 200, '{"By RowIdentifier": 0}'


@register("s7_upsert_sink_protocol")
def s7_upsert_sink_protocol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 (publish_to_catalog.py:345-352): executor-side batched upsert
    POST through the production ``HttpBatchSink`` against an injected fake
    transport. The payload carries a non-ASCII cell so every batch
    exercises the reference's encode-retry (ascii attempt → utf-8 resend,
    L347-350). Only (status, count) tuples reach the driver.

    Output: one row of sink accounting — rows_accepted must equal the
    input cardinality, rows_failed zero."""
    from ntd_gtfs_to_socrata_spark.io import load_table

    upserts = (
        load_table(spark, sf_dir, "customer")
        .select(
            F.concat_ws("_", F.lit("f1"), F.col("c_custkey")).alias("feed_id_stop_id"),
            F.col("c_name").alias("stop_name"),
            F.lit("café").alias("note"),  # forces the utf-8 retry path
        )
        .limit(500)
    )
    sink = HttpBatchSink(
        url="https://example.invalid/resource/x87r-3ckx.json",
        transport=_recording_ok_transport,
        batch_size=100,
    )
    stats = sink.write(upserts)
    return spark.createDataFrame(
        [(stats["rows_accepted"], stats["rows_failed"])],
        "rows_accepted long, rows_failed long",
    )


def _s9_transport(url: str, body: bytes, headers: dict) -> tuple[int, str]:
    """Fake revision endpoint: every step succeeds except applying the
    revision for the poisoned row — exercising the per-row error capture
    (publish_to_catalog.py:544-545)."""
    if headers.get("X-Step") == "apply_revision" and b"poisoned" in body:
        return 500, "apply failed"
    return 200, '{"resource": {"id": "new1-new1"}}'


@register("s9_revision_protocol")
def s9_revision_protocol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 (publish_to_catalog.py:416-497): the 4-step create/replace
    revision protocol (create revision → create source → upload bytes →
    apply) through the production ``RevisionPublisher`` with an injected
    transport, over a routed control-plane frame that covers create,
    update, the S12 placeholder-payload fallback (NULL payload →
    coalesce, L447-454), and a row whose apply step fails.

    Output: per-(step, action) call counts + the created/updated/errors
    summary — 11 rows (the poisoned row's failed apply step never logs),
    all deterministic."""
    routed = spark.createDataFrame(
        [
            ("f1", "create", bytearray(b"zip-bytes-1")),
            ("f2", "update", bytearray(b"zip-bytes-2")),
            ("f3", "create", None),  # S12: placeholder payload
            ("poisoned", "update", bytearray(b"zip-bytes-4")),
        ],
        "feed_id string, action string, payload binary",
    ).withColumn("payload", F.coalesce("payload", F.lit(b"PLACEHOLDER_ZIP")))
    publisher = RevisionPublisher(transport=_s9_transport)
    summary = publisher.publish(routed)
    step_counts: dict[tuple[str, str], int] = {}
    for call in publisher.calls:
        key = (call["step"], call["action"])
        step_counts[key] = step_counts.get(key, 0) + 1
    rows = [(s, a, n) for (s, a), n in sorted(step_counts.items())] + [
        ("summary", k, summary[k]) for k in ("created", "updated", "errors")
    ]
    return spark.createDataFrame(rows, "step string, action string, n long")


# ---------------------------------------------------------------------------
# S13b: schema-evolution scan (mergeSchema across drifted snapshots)
# ---------------------------------------------------------------------------

_EVO_STAGE = os.path.join(FIXTURE_ROOT, "schema_evo")

SCHEMA_EVO_ORACLE = """
WITH merged AS (
  SELECT o_orderkey, o_orderpriority, CAST(NULL AS DOUBLE) AS o_discount_total
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, o_orderpriority, floor(o_totalprice) * 0.25 AS o_discount_total
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT o_orderpriority,
       count(*) AS n_rows,
       count(o_discount_total) AS n_evolved,
       coalesce(sum(o_discount_total), 0.0) AS discount_total
FROM merged
GROUP BY o_orderpriority
"""


@register("s13b_schema_merge_scan", SCHEMA_EVO_ORACLE)
def s13b_schema_merge_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the lake (S13's drift story): two parquet
    snapshots of the same table where the NEWER one added a column
    (``o_discount_total``), read as one dataset with
    ``mergeSchema=true`` — old files surface NULL for the new column,
    new files carry it, and one aggregate proves both populations are
    read correctly. This is the append-only schema-drift contract every
    long-lived lake table relies on (the file-format twin of the CSV
    layer's ``conform_to_target``, P2).

    Scale posture: mergeSchema's cost is footer-reads at planning time
    (at 100 TB: keep it off for reads and evolve via the table catalog's
    schema, or bound it with a partition filter); the data-plane scan +
    one group-by aggregate is unchanged. Staged once per sf dir under
    .synthetic_fixtures/; snapshots derive deterministically from orders
    so the oracle replays them exactly."""
    import os

    from ntd_gtfs_to_socrata_spark.io import load_table

    target = os.path.join(_EVO_STAGE, os.path.basename(sf_dir.rstrip("/")))
    v1, v2 = os.path.join(target, "v1"), os.path.join(target, "v2")
    if not os.path.exists(os.path.join(v2, "_SUCCESS")):
        orders = load_table(spark, sf_dir, "orders")
        orders.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_orderpriority"
        ).write.mode("overwrite").parquet(v1)
        orders.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey",
            "o_orderpriority",
            # floor()*0.25 is an exact binary multiple: partition-order
            # independent sums, no round-half divergence between engines
            (F.floor("o_totalprice") * 0.25).alias("o_discount_total"),
        ).write.mode("overwrite").parquet(v2)
    merged = spark.read.option("mergeSchema", "true").parquet(v1, v2)
    return merged.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_discount_total").alias("n_evolved"),
        F.coalesce(F.sum("o_discount_total"), F.lit(0.0)).alias("discount_total"),
    )


@register("s2_socrata_pushdown_scan")
def s2_socrata_pushdown_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 as a PLANNER-VISIBLE source (publish_to_catalog.py:525 pushes the
    consent predicate server-side via a hand-built $where; here the same
    predicate is a plain DataFrame .filter that the Python DataSource's
    pushFilters compiles to SoQL): scan the fake catalog, filter on
    consent, and assert INSIDE the query that the filter really was
    absorbed by the scan — the returned frame is the surviving rows only
    if no Filter operator remains in the physical plan.

    Rows-only under the driver gate (the source is an HTTP protocol
    surface, not a parquet table); the pushdown-vs-post-filter row
    equivalence is pytest-checked in test_socrata_datasource.py."""
    import io as _io
    import json as _json
    import re as _re
    from contextlib import redirect_stdout

    from ntd_gtfs_to_socrata_spark.sources.socrata_datasource import (
        register_socrata_datasource,
    )

    register_socrata_datasource(spark)
    rows = [
        {
            "feed_id": str(i),
            "agency_name": f"agency {i}",
            "have_consent_for_ntm": i % 3 != 0,
        }
        for i in range(30)
    ]
    df = (
        spark.read.format("socrata")
        .option("fake_rows", _json.dumps(rows))
        .option("page_size", 7)
        .load()
        .filter(F.col("have_consent_for_ntm") == True)  # noqa: E712
        .select("feed_id", "agency_name")
    )
    buf = _io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    if _re.search(r"\bFilter \(\d+\)", plan):
        raise AssertionError("consent predicate was not pushed into the scan")
    return df


S5B_WEBDATASET_ORACLE = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       lang,
       CAST(2 AS BIGINT) AS n_members
FROM documents
"""


@register("s5b_webdataset_tar_ingest", S5B_WEBDATASET_ORACLE)
def s5b_webdataset_tar_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset tar-shard ROUND TRIP, fully oracled: the corpus is
    sharded into genuine ustar tar blobs ({doc_id}.txt + {doc_id}.json
    per sample, 25 docs/shard, deterministic bytes), then ingested the
    way a training loader does — stdlib tarfile walk, basename sample
    grouping, JSON metadata decode. The recovered (doc_id, byte length,
    lang) table must value-hash-equal the documents table itself, so
    BOTH directions of the codec are load-bearing: a misgrouped member,
    a dropped sample, or a corrupted byte breaks the hash.

    Scale posture: the shard build's groupBy is the one shuffle the
    format implies (hash-distributed key; every emitted tar is
    hard-bounded at SHARD_DOCS docs — shard COUNT, not size, grows with
    the corpus); ingest is map-side shard-per-task
    with zero shuffles — the WebDataset loader contract. Python-side by
    nature (it IS the documented Python surface, like zip ingest), but
    Arrow-batched end to end."""
    from ntd_gtfs_to_socrata_spark.io import load_table
    from ntd_gtfs_to_socrata_spark.sources.webdataset import (
        build_webdataset_shards,
        parse_webdataset,
    )

    docs = load_table(spark, sf_dir, "documents")
    shards = build_webdataset_shards(docs)
    return parse_webdataset(shards)

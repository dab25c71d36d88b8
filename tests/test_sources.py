"""Ingest-layer tests (SURVEY.md M1): dirty CSV (FIXTURES.md §B1) and zip
member extraction, end to end through the real readers."""

from __future__ import annotations

import io
import os
import sys
import zipfile
from pathlib import Path

import pytest

from ntd_gtfs_to_socrata_spark.sources import csv_ingest, zip_ingest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from measure_exchanges import executed_node_counts  # noqa: E402

DIRTY_STOPS_CSV = (
    "﻿stop_id,stop_name,stop_lat,stop_lon,location_type\n"
    '1001, "Main St" ,45.5,-122.6,0\n'
    "1002,'Oak Ave','45.0', ' -122.0 ',\n"
    "1003,Bad Coord,Main & 3rd,-122.6,0\n"
    "1004,Out Of Range,95.0,-200.0,\n"
    "\n"
    "1005,Sci Note,1e1,-1e2,1.0\n"
)


@pytest.fixture(scope="module")
def stops_csv_path(tmp_path_factory):
    d = tmp_path_factory.mktemp("stops")
    p = d / "stops.txt"
    p.write_text(DIRTY_STOPS_CSV, encoding="utf-8")
    return str(p)


@pytest.fixture(scope="module")
def zip_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("zips")
    good = io.BytesIO()
    with zipfile.ZipFile(good, "w") as z:
        z.writestr("stops.txt", DIRTY_STOPS_CSV)
        z.writestr("routes.txt", "route_id\n1\n")
    (d / "feedA.zip").write_bytes(good.getvalue())
    nomember = io.BytesIO()
    with zipfile.ZipFile(nomember, "w") as z:
        z.writestr("routes.txt", "route_id\n1\n")
    (d / "feedB.zip").write_bytes(nomember.getvalue())
    (d / "feedC.zip").write_bytes(b"this is not a zip archive")
    return str(d)


def test_read_stops_csv_normalizes(spark, stops_csv_path):
    df = csv_ingest.read_stops_csv(spark, stops_csv_path)
    rows = {r["stop_id"]: r for r in df.collect()}
    # BOM stripped from header: stop_id resolves
    assert set(rows) == {"1001", "1002", "1003", "1004", "1005"}
    assert rows["1001"]["stop_name"] == "Main St"          # quotes + pad stripped
    assert rows["1002"]["stop_name"] == "Oak Ave"          # single quotes normalized
    assert rows["1002"]["stop_lon"] == "-122.0"            # nested pad stripped
    # absent target columns materialize as nulls
    assert rows["1001"]["stop_code"] is None and rows["1001"]["zone_id"] is None


def test_conform_missing_and_extra_columns(spark):
    df = spark.createDataFrame([("x", "extra")], "stop_name string, junk string")
    out = csv_ingest.conform_to_target(df)
    assert out.columns == csv_ingest.TARGET_STOP_COLUMNS
    row = out.collect()[0]
    assert row["stop_name"] == "x" and row["stop_lat"] is None


def test_zip_member_extraction_errors_as_data(spark, zip_dir):
    blobs = zip_ingest.read_zip_blobs(spark, zip_dir)
    rows = zip_ingest.read_member_csv(blobs, "stops.txt").collect()
    by_archive: dict[str, list] = {}
    for r in rows:
        by_archive.setdefault(os.path.basename(r["path"]), []).append(r)
    assert len(by_archive["feedA.zip"]) == 5
    assert all(r["error"] is None for r in by_archive["feedA.zip"])
    (missing,), (corrupt,) = by_archive["feedB.zip"], by_archive["feedC.zip"]
    assert "not found" in missing["error"] and missing["stop_id"] is None
    assert "bad zip" in corrupt["error"] and corrupt["stop_id"] is None


def test_zip_member_unparseable_is_an_error_row(spark, tmp_path):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("stops.txt", "")  # no header row: pandas cannot parse it
    (tmp_path / "empty.zip").write_bytes(buf.getvalue())
    blobs = zip_ingest.read_zip_blobs(spark, str(tmp_path))
    (row,) = zip_ingest.read_member_csv(blobs, "stops.txt").collect()
    assert "unparseable member" in row["error"] and row["stop_id"] is None
    assert zip_ingest.read_stops_from_zips(spark, str(tmp_path)).collect() == []


def _python_nodes(df) -> int:
    df.collect()
    return executed_node_counts(df)["MapInPandasExec"]


def test_zip_decode_is_one_python_pass(spark, zip_dir):
    """Extraction and parsing share one mapInPandas: each Python node costs
    every task a Python runner set-up, which dwarfs the decode itself."""
    from ntd_gtfs_to_socrata_spark.queries.sources_sinks_q import s5_zip_member_extract

    assert _python_nodes(zip_ingest.read_stops_from_zips(spark, zip_dir)) == 1
    s5 = s5_zip_member_extract(spark, None)
    assert _python_nodes(s5) == 1
    assert len(s5.collect()) == 7  # 5 stops, a missing member, a corrupt archive


def test_stops_from_zips_end_to_end(spark, zip_dir):
    df = zip_ingest.read_stops_from_zips(spark, zip_dir)
    rows = df.collect()
    # only feedA has a stops.txt; 5 data rows survive
    assert len(rows) == 5
    assert all(os.path.basename(r["path"]) == "feedA.zip" for r in rows)
    by_id = {r["stop_id"]: r for r in rows}
    assert by_id["1001"]["stop_name"] == "Main St"
    assert by_id["1002"]["stop_lon"] == "-122.0"


def test_jsonl_corrupt_records_quarantined(spark, tmp_path):
    """PERMISSIVE JSONL parse: valid rows conform to the schema, corrupt
    lines land in quarantine with the raw text preserved — never dropped,
    never fatal (S4/S6 errors-as-data contract in JSON form)."""
    from pyspark.sql import types as T

    from ntd_gtfs_to_socrata_spark.sources.json_ingest import read_jsonl

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"id": 1, "name": "ok"}\n'
        '{"id": 2, "name": "also ok"}\n'
        'this is not json at all\n'
        '{"id": "not-an-int", "name": "bad type"}\n'
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    valid, quarantine = read_jsonl(spark, str(p), schema)
    v = {(r["id"], r["name"]) for r in valid.collect()}
    q = [r["raw_line"] for r in quarantine.collect()]
    assert v == {(1, "ok"), (2, "also ok")}
    assert len(q) == 2
    assert any("not json at all" in line for line in q)


def test_webdataset_shards_are_real_ustar(spark, sf_dir):
    """Shard blobs are genuine tar: ustar magic at the spec offset,
    512-byte block structure, stdlib round-trip, deterministic bytes
    across builds."""
    from ntd_gtfs_to_socrata_spark.io import load_table
    from ntd_gtfs_to_socrata_spark.sources.webdataset import (
        build_webdataset_shards,
    )

    docs = load_table(spark, sf_dir, "documents")
    rows = build_webdataset_shards(docs).orderBy("shard_id").collect()
    assert len(rows) > 1
    blob = bytes(rows[0]["tar"])
    assert len(blob) % 512 == 0
    assert blob[257:262] == b"ustar"  # POSIX magic at header offset 257
    rows2 = build_webdataset_shards(docs).orderBy("shard_id").collect()
    assert bytes(rows2[0]["tar"]) == blob  # deterministic shard bytes


def test_webdataset_ingest_drops_incomplete_samples():
    """A sample missing its .json member is dropped, others survive —
    exercised directly on hand-built tar bytes."""
    import io
    import json
    import tarfile

    import pandas as pd

    from ntd_gtfs_to_socrata_spark.sources.webdataset import (
        parse_webdataset_batch,
    )

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tar:
        for name, data in (
            ("1.txt", b"hello"),
            ("1.json", json.dumps({"lang": "en"}).encode()),
            ("2.txt", b"orphan text, no metadata"),
        ):
            info = tarfile.TarInfo(name=name)
            info.size = len(data)
            tar.addfile(info, io.BytesIO(data))
    out = pd.concat(parse_webdataset_batch(iter([pd.DataFrame({"tar": [buf.getvalue()]})])))
    assert out["doc_id"].tolist() == [1]
    assert out["n_bytes"].tolist() == [5]
    assert out["lang"].tolist() == ["en"]


def test_webdataset_ingest_survives_foreign_members_and_corrupt_json():
    """A foreign shard with a non-numeric basename ('readme.txt' +
    'readme.json'), corrupt JSON metadata, and non-dict JSON must be
    dropped (errors-as-absence) — never a ValueError/JSONDecodeError
    that fails the ingest task."""
    import io
    import json
    import tarfile

    import pandas as pd

    from ntd_gtfs_to_socrata_spark.sources.webdataset import (
        parse_webdataset_batch,
    )

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tar:
        for name, data in (
            ("readme.txt", b"foreign doc"),
            ("readme.json", json.dumps({"lang": "xx"}).encode()),
            ("7.txt", b"good"),
            ("7.json", b"{not json"),
            ("8.txt", b"listmeta"),
            ("8.json", b"[1, 2]"),  # valid JSON, wrong shape
            ("9.txt", b"survivor"),
            ("9.json", json.dumps({"lang": "en"}).encode()),
        ):
            info = tarfile.TarInfo(name=name)
            info.size = len(data)
            tar.addfile(info, io.BytesIO(data))
    out = pd.concat(
        parse_webdataset_batch(iter([pd.DataFrame({"tar": [buf.getvalue()]})]))
    )
    assert out["doc_id"].tolist() == [9]
    assert out["lang"].tolist() == ["en"]


def test_webdataset_shards_hard_bounded_even_with_skewed_keys(spark, sf_dir):
    """Every emitted tar holds <= SHARD_DOCS docs even when the group
    key is maximally skewed (n_shards_hint=1 puts ALL docs in one hash
    group): _make_shard's chunking is the hard bound, not the hash."""
    from ntd_gtfs_to_socrata_spark.io import load_table
    from ntd_gtfs_to_socrata_spark.sources.webdataset import (
        SHARD_DOCS,
        build_webdataset_shards,
        parse_webdataset,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    shards = build_webdataset_shards(docs, n_shards_hint=1)
    rows = shards.collect()
    assert len(rows) > 1  # one skewed group still yields many tars
    assert all(r["n_members"] <= 2 * SHARD_DOCS for r in rows)
    assert len({r["shard_id"] for r in rows}) == len(rows)  # ids unique
    # round trip is lossless regardless of the chunking
    assert parse_webdataset(shards).count() == n_docs


def test_synthetic_fixture_dirs_follow_the_checkout():
    """Queries stage their synthesized inputs under the checkout they are
    imported from, so a copy of the repo writes into itself."""
    from ntd_gtfs_to_socrata_spark.queries import FIXTURE_ROOT, layout_q, sources_sinks_q

    root = Path(__file__).resolve().parents[1] / ".synthetic_fixtures"
    assert Path(FIXTURE_ROOT) == root
    for staged in (sources_sinks_q._FIXTURE_DIR, sources_sinks_q._EVO_STAGE, layout_q._DPP_STAGE):
        assert Path(staged).parent == root

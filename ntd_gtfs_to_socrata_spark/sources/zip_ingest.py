"""Zip-payload ingestion (SURVEY.md §2.1 S4/S5/S11/S12).

The reference downloads each GTFS .zip to a temp file and reads one member
serially (/root/reference/publish_to_catalog.py:316-325). Here: a
``binaryFile`` scan lands every archive as a row, member extraction +
member-CSV parsing run inside an Arrow-batched ``mapInPandas`` — each task
processes its partition of archives, so N archives parallelize across the
cluster instead of N serial HTTP+disk round trips.

Errors are DATA, not exceptions (the reference's (response, errorMessage)
tuple convention, L68-80): bad archives yield a row with ``error`` set so
the pipeline can route them to the changelog (INVALID_URLS analog).

The decode runs in Python and Spark cannot push anything into it, so every
action on the returned frame re-reads and re-parses every archive. A
caller with several outputs decodes once per run: ``run_stops_map``
persists the stops frame before its branches and unpersists it at the end
of the run.
"""

from __future__ import annotations

import io
import zipfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ntd_gtfs_to_socrata_spark.sources.csv_ingest import TARGET_STOP_COLUMNS

MEMBER_SCHEMA = "path string, member string, content binary, error string"


def read_zip_blobs(spark: SparkSession, path_glob: str) -> DataFrame:
    """S5 scan: one row per archive (path, modificationTime, length,
    content). Column pruning applies — metadata-only queries never read
    blob bytes."""
    return spark.read.format("binaryFile").option("pathGlobFilter", "*.zip").load(path_glob)


def extract_member(blobs: DataFrame, member: str) -> DataFrame:
    """S5: distributed zip-member extraction; missing member / corrupt
    archive → error row (S4 errors-as-data)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    with zipfile.ZipFile(io.BytesIO(content)) as z:
                        out.append((path, member, z.read(member), None))
                except KeyError:
                    out.append((path, member, None, f"member {member!r} not found"))
                except zipfile.BadZipFile as e:
                    out.append((path, member, None, f"bad zip: {e}"))
            yield pd.DataFrame(out, columns=["path", "member", "content", "error"])

    return blobs.select("path", "content").mapInPandas(extract, schema=MEMBER_SCHEMA)


def parse_member_csv(
    members: DataFrame, target: list[str] | None = None
) -> DataFrame:
    """S6-in-S5: parse each extracted member's CSV bytes (UTF-8-sig, header
    row, all-string cells, quote/whitespace strip) and conform to the
    target layout — ``makeStopsObject`` + ``makeStopLine`` projection
    (publish_to_catalog.py:156-171, 207-245) per archive, distributed.
    """
    target = list(target or TARGET_STOP_COLUMNS)
    schema = "path string, " + ", ".join(f"{c} string" for c in target)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for path, content, error in zip(pdf["path"], pdf["content"], pdf["error"]):
                if error is not None or content is None:
                    continue
                try:
                    raw = pd.read_csv(
                        io.BytesIO(content),
                        dtype=str,
                        encoding="utf-8-sig",
                        skip_blank_lines=True,
                    )
                except Exception:  # malformed member → zero rows, noqa: BLE001
                    continue
                raw.columns = [str(c).strip().strip('"') for c in raw.columns]
                for col in raw.columns:
                    raw[col] = raw[col].map(
                        lambda v: v.strip().replace("'", '"').strip('"').strip()
                        if isinstance(v, str)
                        else v
                    )
                out = pd.DataFrame({"path": path}, index=raw.index)
                for c in target:
                    out[c] = raw[c] if c in raw.columns else None
                frames.append(out)
            if frames:
                yield pd.concat(frames, ignore_index=True)
            else:
                yield pd.DataFrame(columns=["path", *target])

    return members.mapInPandas(parse, schema=schema)


def read_stops_from_zips(spark: SparkSession, path_glob: str) -> DataFrame:
    """Full S4→S5→S6 pipeline: archives → stops rows, conformed layout."""
    blobs = read_zip_blobs(spark, path_glob)
    members = extract_member(blobs, "stops.txt")
    return parse_member_csv(members)

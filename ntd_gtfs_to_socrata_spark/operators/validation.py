"""Validation predicates + valid/invalid record split (SURVEY.md §2.2).

Reproduces the reference's stringly-typed validation semantics as pure
Column expressions (zero Python-worker cost, fully codegen'd):

- P7 coordinate validity  — ``validateCoordinates``,
  /root/reference/publish_to_catalog.py:181-190: value must ``float()``-cast
  AND lat ∈ [-90, 90], lon ∈ [-180, 180]. Python ``float()`` accepts
  ``'1e5'``, ``' 45 '``, ``'nan'``, ``'inf'``; the range check then rejects
  nan/inf (``float('nan') >= -90`` is False). Spark's ``cast('double')``
  yields null on non-numeric (replacing try/except) and NaN/Infinity parse
  like Python, and ``between`` is null/NaN-false — exact parity.
- P8 location-type validity — publish_to_catalog.py:193-200: empty/omitted
  OR float-castable.
- P9 URL syntactic validity — ``urlIsValidStatic``,
  publish_to_catalog.py:83-91 (Django-derived regex).
- P10 valid/invalid split — publish_to_catalog.py:335-342: route rows to a
  clean output or a quarantine table; explicit version of Spark CSV's
  ``badRecordsPath``.

Scale note: these are narrow, shuffle-free transformations — they pipeline
inside whole-stage codegen over the scan at any data size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Simplified (RE2-safe, engine-portable) descendant of the reference's URL
# regex (publish_to_catalog.py:83-91): scheme, host with dotted TLD or
# localhost/IP, optional port and path.
URL_REGEX = r"^(?:http|ftp)s?://(?:[A-Za-z0-9](?:[A-Za-z0-9-]*[A-Za-z0-9])?\.)+[A-Za-z]{2,}(?::\d+)?(?:/\S*)?$"


def float_probe(col: Column) -> Column:
    """``float()``-castability probe (publish_to_catalog.py:183-184).

    try_cast-to-null replaces try/except (and stays ANSI-mode-safe);
    'nan'/'inf'/'Infinity'/'  45 '/'1e1' all parse like Python float().
    """
    return col.try_cast("double")


def coordinates_valid(lat: Column, lon: Column) -> Column:
    """P7 (publish_to_catalog.py:181-190). NaN fails ``between`` like the
    reference's NaN failing ``>= -90``; failed casts (SQL NULL three-valued
    logic) are coalesced to False so the flag is never null — a null flag
    would silently drop rows from BOTH branches of the split."""
    latd, lond = float_probe(lat), float_probe(lon)
    return F.coalesce(
        latd.between(-90.0, 90.0) & lond.between(-180.0, 180.0), F.lit(False)
    )


def location_type_valid(location_type: Column) -> Column:
    """P8 (publish_to_catalog.py:193-200): absent/empty OR float-castable."""
    return (
        location_type.isNull()
        | (F.trim(location_type) == F.lit(""))
        | float_probe(location_type).isNotNull()
    )


def url_valid(url: Column) -> Column:
    """P9 (publish_to_catalog.py:83-91)."""
    return url.isNotNull() & url.rlike(URL_REGEX)


def split_valid_invalid(
    df: DataFrame, is_valid: Column, flag_col: str = "is_valid"
) -> tuple[DataFrame, DataFrame]:
    """P10 (publish_to_catalog.py:335-342): compute the flag once, then two
    filters. Catalyst collapses flag+filter into the scan stage, so the
    source is read once per branch. That is cheap for a codegen'd scan with
    the predicate pushed down; a Python-decoded source (``mapInPandas``,
    e.g. ``sources.zip_ingest``) would be decoded again per branch, so the
    caller should cache it first (``stagecache.stage_boundary``, as
    ``run_stops_map`` does).

    Returns (clean, quarantine).
    """
    flagged = df.withColumn(flag_col, F.coalesce(is_valid, F.lit(False)))
    clean = flagged.filter(F.col(flag_col)).drop(flag_col)
    quarantine = flagged.filter(~F.col(flag_col)).drop(flag_col)
    return clean, quarantine

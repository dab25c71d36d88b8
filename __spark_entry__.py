"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All implementations live in ``ntd_gtfs_to_socrata_spark``; this module is a
thin adapter over its query registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ntd_gtfs_to_socrata_spark.queries import (  # noqa: E402
    ORACLES,
    REGISTRY,
    load_all_query_modules,
)

load_all_query_modules()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return REGISTRY["flagship_validate_split_agg"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(REGISTRY)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omissions are rows-only checks.

    Some omissions are deliberate rather than inexpressible: their SQL
    needs a Python scalar registered on the DuckDB connection (e.g.
    ``zlib_len`` for ``text_compression_ratio``, ``bpe_len`` for
    ``bpe_token_counts``). Those oracles live in
    ``ntd_gtfs_to_socrata_spark.queries.LOCAL_ORACLES`` and are checked
    at full value-hash strength by ``tools/check_oracle.py``, whose
    ``duck_con`` shows the one-line ``con.create_function`` call that
    would let this harness check them too.
    """
    return dict(ORACLES)

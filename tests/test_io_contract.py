"""Loader contract: ``load_table`` returns a stable logical schema for every
fixture table at every scale factor.

This is the canary the round-3/4 events outage proved we need: the fixture
generator changed ``events.ts`` from TIMESTAMP(NANOS) to ``timestamp[us]``
and the loader's hard-coded physical-type workaround broke ~18 queries with
only 4 driver-visible failures. With this test, the next silent fixture
drift becomes a named one-line failure instead of an 18-query outage.

The contract below is the loader's *logical* schema — what every query in
the registry codes against — captured from the current-known-good state.
If a fixture regeneration changes a physical type the loader is expected
to keep normalizing it (as ``_load_events`` does for ts); if it changes
the logical shape, this test names the drift and the affected table.
"""

from __future__ import annotations

import os

import pytest

from ntd_gtfs_to_socrata_spark.io import TABLES, load_table

SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]

# table -> [(column, spark simpleString type), ...] in order. `events.ts`
# is the one column the loader actively normalizes (any physical encoding
# -> session-TZ timestamp); everything else passes through the parquet
# logical type.
EXPECTED_SCHEMA = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [("n_nationkey", "int"), ("n_name", "string"), ("n_regionkey", "int")],
    "customer": [
        ("c_custkey", "bigint"), ("c_name", "string"), ("c_nationkey", "int"),
        ("c_acctbal", "double"), ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "bigint"), ("s_name", "string"), ("s_nationkey", "int"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "bigint"), ("p_name", "string"), ("p_brand", "string"),
        ("p_type", "string"), ("p_size", "int"), ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "bigint"), ("o_custkey", "bigint"),
        ("o_orderstatus", "string"), ("o_totalprice", "double"),
        ("o_orderdate", "timestamp_ntz"), ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "bigint"), ("l_partkey", "bigint"),
        ("l_suppkey", "bigint"), ("l_linenumber", "int"),
        ("l_quantity", "double"), ("l_extendedprice", "double"),
        ("l_discount", "double"), ("l_tax", "double"),
        ("l_returnflag", "string"), ("l_linestatus", "string"),
        ("l_shipdate", "timestamp_ntz"),
    ],
    "events": [
        ("event_id", "bigint"), ("ts", "timestamp"), ("user_id", "bigint"),
        ("event_type", "string"), ("value", "double"), ("props", "string"),
    ],
    "documents": [
        ("doc_id", "bigint"), ("text", "string"), ("lang", "string"),
        ("source", "string"), ("n_chars", "bigint"),
    ],
    "embeddings": [
        ("vec_id", "bigint"), ("embedding", "array<float>"), ("label", "int"),
    ],
}


def test_contract_covers_every_table():
    assert set(EXPECTED_SCHEMA) == set(TABLES)


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=lambda d: os.path.basename(d))
@pytest.mark.parametrize("table", TABLES)
def test_load_table_schema_contract(spark, sf_dir, table):
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not present")
    df = load_table(spark, sf_dir, table)
    actual = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    assert actual == EXPECTED_SCHEMA[table], (
        f"{table}@{sf_dir}: loader schema drifted.\n"
        f"  surfaced: {actual}\n"
        f"  contract: {EXPECTED_SCHEMA[table]}\n"
        "If the fixture's physical type changed, normalize it in the loader "
        "(see _load_events); if the logical shape changed, update every "
        "query that reads this table, then this contract."
    )


def test_events_loader_yields_scannable_timestamps(spark):
    """The normalized events table is actually executable end-to-end —
    the exact failure mode of the r3/r4 outage (analysis passed schema
    checks but threw at plan resolution)."""
    import datetime

    df = load_table(spark, "/root/testdata/sf0.001", "events")
    row = df.orderBy("event_id").limit(1).collect()
    assert row, "events fixture is empty"
    assert isinstance(row[0]["ts"], datetime.datetime)


# ---------------------------------------------------------------------------
# read_parquet: the footer schema equals Spark's inferred one, and loading a
# fixture table launches no job
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def perfbench_tables(tmp_path_factory) -> str:
    """The benchmark's generated query tables (seed 42), written afresh."""
    from perfbench import gen

    out = str(tmp_path_factory.mktemp("perfbench_tables"))
    gen.write_tables(out)
    return out


def _fixture_dirs(perfbench_tables: str) -> list[str]:
    dirs = [d for d in SF_DIRS if os.path.isdir(d)]
    return dirs + [perfbench_tables]


def test_read_parquet_schema_equals_inference(spark, perfbench_tables):
    """Every fixture table is read with its footer schema (no fallback),
    and that schema is exactly ``spark.read.parquet(p).schema``."""
    from ntd_gtfs_to_socrata_spark.io import footer_schema, read_parquet

    checked = 0
    for sf_dir in _fixture_dirs(perfbench_tables):
        for table in TABLES:
            path = os.path.join(sf_dir, f"{table}.parquet")
            assert footer_schema(spark, path) is not None, path
            assert read_parquet(spark, path).schema == spark.read.parquet(path).schema, path
            checked += 1
    assert checked >= 2 * len(TABLES)


def test_load_table_launches_no_job(spark, perfbench_tables):
    """Loading a fixture table, its schema included, runs no Spark job:
    no footer-inference job, for ``events`` either."""
    import uuid

    sc = spark.sparkContext
    group = f"load-table-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        for sf_dir in _fixture_dirs(perfbench_tables):
            for table in TABLES:
                load_table(spark, sf_dir, table).schema
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_nanosecond_events_fall_back_to_inference(spark, tmp_path):
    """A ``timestamp[ns]`` events file has no footer schema (Spark reads
    the column as ``LongType`` under ``nanosAsLong``), and ``_load_events``
    gives the frame the inferring loader gave: the same schema and rows."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from ntd_gtfs_to_socrata_spark.io import footer_schema

    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    ts = [base + datetime.timedelta(microseconds=1234567 * i) for i in range(5)]
    table = pa.table(
        {
            "event_id": pa.array(range(5), pa.int64()),
            "ts": pa.array([int(t.timestamp() * 1e6) * 1000 + 789 for t in ts], pa.timestamp("ns")),
            "value": pa.array([0.5 * i for i in range(5)], pa.float64()),
        }
    )
    path = tmp_path / "events.parquet"
    pq.write_table(table, path)
    assert footer_schema(spark, str(path)) is None

    got = load_table(spark, str(tmp_path), "events")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(str(path))
    assert raw.schema["ts"].dataType.simpleString() == "bigint"
    want = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def test_directory_input_falls_back_to_inference(spark, tmp_path, monkeypatch):
    """A directory (a lake table whose files may drift) is read with
    Spark's inference; no footer is read on the driver."""
    from ntd_gtfs_to_socrata_spark import io as IO

    path = str(tmp_path / "lake")
    spark.range(4).selectExpr("id", "cast(id as string) AS s").write.parquet(path)

    def no_footer(*args):
        raise AssertionError("a directory must not be read on the driver")

    monkeypatch.setattr(IO, "footer_schema", no_footer)
    df = IO.read_parquet(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert sorted(r["id"] for r in df.collect()) == [0, 1, 2, 3]

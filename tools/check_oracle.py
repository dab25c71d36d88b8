"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same sf dir, then compares row count, sorted column names, and
order-insensitive values (exact, with a float-tolerance diagnostic so we can
tell a formatting mismatch from an FP-noise mismatch).

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from ntd_gtfs_to_socrata_spark.io import TABLES
from ntd_gtfs_to_socrata_spark.session import get_spark


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # an in-memory duckdb 1.0 connection ships with
    # max_temp_directory_size=0 (spill DISABLED): heavy oracles at sf1+
    # die with a misleading "No space left on device". Point the temp at
    # /tmp with a real budget so oracle-side spill works. memory_limit is
    # NOT overridden by default: duckdb's own 80%-of-RAM default is both
    # the safe choice on small machines (advisor r9 — a hardcoded 90 GiB
    # would over-commit them) and the NECESSARY one on this 128 GB box —
    # the recursive-closure CC oracles peak at ~95-100 GiB at sf1
    # (graph_canonical_by_rank: passed at 1036 s under the 100 GiB
    # default with zero spill in r9; r10 measured that even a 90 GiB cap
    # — let alone 40 — forces >60 GiB of offload and dies on the temp
    # budget). Set ORACLE_MEMORY_LIMIT to pin a value explicitly.
    # Corollary: run the sf1 gate ALONE — concurrent Spark JVMs (or the
    # gate process's own long-lived JVM) turn any limit into phantom
    # memory.
    import os

    mem_limit = os.environ.get("ORACLE_MEMORY_LIMIT")
    if mem_limit:
        con.execute(f"SET memory_limit='{mem_limit}'")
    con.execute("SET temp_directory='/tmp/duckdb_oracle_tmp'")
    con.execute("SET max_temp_directory_size='60GiB'")
    # Python scalar UDFs for LOCAL_ORACLES (queries/__init__.py): the
    # driver's harness runs plain DuckDB so these oracles never ship via
    # oracle_sql(); locally they lift rows-only entries to full value-hash
    # strength. zlib_len mirrors text_compression_ratio's exact fixed
    # level (a zlib output is deterministic per (bytes, level) per build).
    # PROPOSAL for the driver harness: one create_function call like this
    # would make the last no_oracle entry in its sample checkable.
    import zlib

    from ntd_gtfs_to_socrata_spark.queries.dedup_text import _ZR_LEVEL

    con.create_function(
        "zlib_len",
        lambda s: len(zlib.compress(s.encode("utf-8"), _ZR_LEVEL)),
        [duckdb.typing.VARCHAR],
        duckdb.typing.BIGINT,
    )
    # BPE trainer scalars (r12 verdict item 3: bpe_train_merges,
    # bpe_train_merges_sampled, bpe_token_counts promoted from rows-only
    # to LOCAL_ORACLES-tier value-hash)
    from tools.local_oracles import register_bpe_udfs

    register_bpe_udfs(con, sf_dir)
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(list(df.columns), ignore_index=True, na_position="last")


def values_equal(a, b) -> tuple[bool, bool]:
    """(exact, approx) cell equality."""
    if a is None and b is None:
        return True, True
    if pd.isna(a) if not isinstance(a, (list, tuple)) else False:
        if pd.isna(b) if not isinstance(b, (list, tuple)) else False:
            return True, True
        return False, False
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True, True
        exact = a == b
        approx = exact or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
        return exact, approx
    eq = a == b
    return eq, eq


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> str:
    issues = []
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return f"SCHEMA MISMATCH spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}"
    if len(spark_df) != len(duck_df):
        return f"ROWCOUNT MISMATCH spark={len(spark_df)} duck={len(duck_df)}"
    s, d = normalize(spark_df), normalize(duck_df)
    # The driver's value-hash is representation-sensitive: an int64 5 and a
    # float64 5.0 hash differently (bit us in r1: DuckDB sum(int)->HUGEINT
    # -> pandas float64). Flag numeric-kind dtype divergence as a failure.
    for col in s.columns:
        sk = s[col].dtype.kind
        dk = d[col].dtype.kind
        if {sk, dk} <= {"i", "u", "f"} and (sk in "iu") != (dk in "iu"):
            issues.append(f"DTYPE MISMATCH col={col} spark={s[col].dtype} duck={d[col].dtype}")
    if issues:
        return "; ".join(issues)
    n_exact_bad = n_approx_bad = 0
    first_bad = None
    for col in s.columns:
        sv, dv = s[col].tolist(), d[col].tolist()
        for i, (a, b) in enumerate(zip(sv, dv)):
            exact, approx = values_equal(a, b)
            if not exact:
                n_exact_bad += 1
                if first_bad is None:
                    first_bad = (col, i, a, b)
            if not approx:
                n_approx_bad += 1
    if n_exact_bad:
        col, i, a, b = first_bad
        issues.append(
            f"VALUES exact_bad={n_exact_bad} approx_bad={n_approx_bad} "
            f"first: col={col} row={i} spark={a!r} duck={b!r}"
        )
    return "; ".join(issues) if issues else "OK"


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = [a for a in args if "/" not in a]

    from ntd_gtfs_to_socrata_spark.queries import LOCAL_ORACLES

    spark = get_spark("check-oracle")
    con = duck_con(sf_dir)
    qs = entrymod.queries()
    # driver-facing oracles + local-UDF oracles (full strength here only)
    oracles = {**entrymod.oracle_sql(), **LOCAL_ORACLES}
    names = only or list(qs)
    failures = 0
    # Long-gate memory hygiene (r11): a 271-query pass accumulates
    # persisted stage boundaries, cached relations, and checkpoint blocks
    # in the ONE long-lived JVM; an hour in, the process RSS squeezes the
    # heavy DuckDB oracles into spill thrash — the r9/r10 "run the gate
    # ALONE" corollary applied WITHIN the gate process (r11 measured
    # sim_matryoshka_topk 378.8 s in-gate vs 55.6 s standalone on the
    # same tree and data). Release per query; nudge a full GC
    # periodically so G1 uncommits freed heap back to the OS.
    from ntd_gtfs_to_socrata_spark.operators.stagecache import release_all

    def _hygiene(i: int) -> None:
        release_all()
        spark.catalog.clearCache()
        if (i + 1) % 20 == 0:
            spark.sparkContext._jvm.System.gc()

    for i, name in enumerate(names):
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL] {name}: spark error: {e}")
            failures += 1
            continue
        finally:
            _hygiene(i)
        if name not in oracles:
            print(f"[rows-only] {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL] {name}: duckdb error: {e}")
            failures += 1
            continue
        verdict = compare(name, sdf, ddf)
        status = "ok" if verdict == "OK" else "FAIL"
        if status == "FAIL":
            failures += 1
        print(f"[{status}] {name}: {verdict} rows={len(sdf)} ({time.time()-t0:.1f}s)")
    print(f"\n{len(names) - failures}/{len(names)} passing")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

"""Record the expected outputs of the query workloads.

    python3 perfbench/record_expected.py

Generates the seed-42 query tables, runs every query of the query
workloads on Spark, and writes its row count and value hash to
``perfbench/expected.json``. Where the query has a DuckDB oracle
(``ORACLES`` or ``LOCAL_ORACLES``), the Spark result is first compared
with the oracle's, value by value, using ``tools/check_oracle.py``; a
mismatch stops the recording. Rerun only when the tables or the query
lists change.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    from perfbench import gen
    from perfbench.workloads import QUERY_WORKLOADS, result_digest
    from tools.check_oracle import compare, duck_con

    from ntd_gtfs_to_socrata_spark.operators.stagecache import release_all
    from ntd_gtfs_to_socrata_spark.queries import (
        LOCAL_ORACLES, ORACLES, REGISTRY, load_all_query_modules,
    )
    from ntd_gtfs_to_socrata_spark.session import get_spark

    data_dir = os.path.join(ROOT, ".bench_build", "perfbench", "tables")
    gen.write_tables(data_dir)
    load_all_query_modules()
    spark = get_spark("perfbench-record")
    con = duck_con(data_dir)
    oracles = {**ORACLES, **LOCAL_ORACLES}
    expected, bad = {}, []
    for names in QUERY_WORKLOADS.values():
        for name in names:
            release_all()
            spark.catalog.clearCache()
            df = REGISTRY[name](spark, data_dir)
            expected[name] = result_digest(df)
            verdict = "no oracle"
            if name in oracles:
                verdict = compare(name, df.toPandas(), con.sql(oracles[name]).df())
                if verdict != "OK":
                    bad.append(name)
            print(f"{name}: rows={expected[name][0]} oracle={verdict}", flush=True)
    spark.stop()
    if bad:
        print(f"oracle mismatch: {bad}; nothing recorded", file=sys.stderr)
        return 1
    with open(os.path.join(ROOT, "perfbench", "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

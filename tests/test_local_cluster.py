"""local-cluster[2,2,2048] smoke tier (r9 verdict task 4).

``local[32]`` runs everything in ONE JVM: broadcast variables are never
serialized to a remote executor, Python workers all fork from one
daemon, there is no shuffle service boundary, and a task never
deserializes a closure shipped across a process gap. ``local-cluster``
spawns REAL worker JVMs (2 workers x 2 cores x 2048 MB here), so this
tier exercises exactly the surfaces a 1000-executor cluster would —
executor-side broadcast deserialization, Python worker distribution
across executors, cross-process shuffle — that no amount of local[]
testing touches. The reference has no cluster mode at all; this is
insurance for the repo's 100 TB design claims (SCALE.md "local-cluster
smoke tier").

One query per family, including one streaming stateful (Python worker on
executors), one localCheckpoint-heavy iterative (checkpoint blocks live
in executor storage), several broadcast joins, and both Arrow UDF shapes
(grouped-map + mapInPandas). Every query must return the SAME rows it
returns on local[] — checked against a local[8] run of the same query at
the same sf, so this gate also catches any master-dependent
nondeterminism.

Run: ``python -m pytest tests/test_local_cluster.py --runcluster -q``
(skipped by default: worker-JVM spin-up is ~15 s and the tier only needs
to run when plan shapes or serialization surfaces change).
"""

from __future__ import annotations

from pathlib import Path

import pytest

pytestmark = pytest.mark.cluster

REPO_ROOT = Path(__file__).resolve().parents[1]

SF = "/root/testdata/sf0.001"

# one per family; streaming + iterative + broadcast + Arrow UDF surfaces
# are all represented (verdict r9 task 4)
CLUSTER_SLICE = [
    "a2_changelog_last_write_wins",  # reference merge (window dedupe)
    "q5_region_revenue",             # TPC-H broadcast dimension chain
    "dedup_lsh_pipeline",            # composed dedup; CC localCheckpoints
    "graph_pagerank",                # iterative, localCheckpoint-heavy
    "sim_ivf_topk",                  # ANN: centroid broadcast + argmin
    "text_quality_scores",           # codegen text ops
    "tp_hash_split",                 # training prep (md5 buckets)
    "er_blocked_matches",            # entity resolution blocking join
    "eval_auc_rank",                 # stats: block prefix-sum windows
    "udf_grouped_zscore",            # Arrow grouped-map UDF
    "mm_phash_neardup",              # multimodal Arrow mapInPandas
    "stream_ewma",                   # streaming stateful Python worker
]


def _rowset(df):
    cols = sorted(df.columns)
    return {
        tuple(
            round(v, 9) if isinstance(v, float) else v
            for v in (row[c] for c in cols)
        )
        for row in df.collect()
    }


@pytest.fixture(scope="module")
def cluster_results():
    """Run the slice on BOTH masters in one pass each, returning
    name -> (local rowset, cluster rowset). Sessions are built fresh and
    torn down so the two masters never share a JVM."""
    from pyspark.sql import SparkSession

    from ntd_gtfs_to_socrata_spark.operators.stagecache import release_all
    from ntd_gtfs_to_socrata_spark.queries import (
        REGISTRY,
        load_all_query_modules,
    )

    load_all_query_modules()

    def run_all(master: str) -> dict:
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        spark = (
            SparkSession.builder.master(master)
            .appName(f"cluster-smoke-{master.split('[')[0]}")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config(
                "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
            )
            # FOUND BY THIS TIER: executor Python workers in local-cluster
            # spawn from the worker JVM (not forked from the driver), so
            # the repo package must reach their PYTHONPATH explicitly —
            # any Pandas UDF whose closure references package code
            # otherwise dies with ModuleNotFoundError. local[] can never
            # see this. On a real cluster this is the --py-files /
            # pip-install-on-workers deployment step.
            .config("spark.executorEnv.PYTHONPATH", str(REPO_ROOT))
            .getOrCreate()
        )
        try:
            out = {}
            for name in CLUSTER_SLICE:
                # stage caches (and any prior run's persisted frames) must
                # be released inside the session that owns them — an
                # unpersist against a stopped session raises from py4j
                release_all()
                out[name] = _rowset(REGISTRY[name](spark, SF))
            return out
        finally:
            release_all()
            spark.stop()

    local = run_all("local[8]")
    cluster = run_all("local-cluster[2,2,2048]")
    return {n: (local[n], cluster[n]) for n in CLUSTER_SLICE}


@pytest.mark.parametrize("name", CLUSTER_SLICE)
def test_cluster_matches_local(cluster_results, name):
    local, cluster = cluster_results[name]
    assert len(cluster) > 0, f"{name}: empty result on local-cluster"
    assert cluster == local, (
        f"{name}: local-cluster result diverged from local[] "
        f"({len(cluster)} vs {len(local)} distinct rows)"
    )

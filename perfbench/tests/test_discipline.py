"""Cold-cost discipline of the benchmark.

    python3 -m pytest perfbench/tests -q

Every pass must cost the same: ``release_all()`` and ``clearCache()``
run before each operation, so a cache left behind between two
consecutive passes (the test leaves one: every input cached) must not
show up as fewer jobs or less input read in the second pass. And the
``gtfs_nightly`` state reset must make every nightly run do the same
deletions as the first.

Shuffle bytes are compared within 0.1%, not exactly: the order in which
map outputs are fetched varies, and the next shuffle then compresses the
same rows in a different order (``connected_components`` moves a few
bytes of ~170 kB from pass to pass).
"""

from __future__ import annotations

import os
import shutil
import sys
from types import SimpleNamespace

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402
from perfbench.trace import LAYERS, Tracer, instrument, layer_metrics  # noqa: E402
from perfbench.workloads import QUERY_TABLES, QUERY_WORKLOADS, WORKLOADS  # noqa: E402

EXACT = ("jobs", "stages", "input_bytes")
SHUFFLE_REL_TOL = 1e-3


@pytest.fixture(scope="module")
def session():
    run_dir = os.path.join(run.CACHE, f"test-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    run.pin_env(run_dir)
    from ntd_gtfs_to_socrata_spark.queries import load_all_query_modules
    from ntd_gtfs_to_socrata_spark.session import get_spark

    spark = get_spark("perfbench-test")
    load_all_query_modules()
    tracer = Tracer(spark)
    instrument(tracer)
    yield spark, tracer, run_dir
    run.stop_spark(spark)
    shutil.rmtree(run_dir, ignore_errors=True)


def make_bench(workload: str, spark, run_dir: str):
    args = SimpleNamespace(workload=workload, seed=7)
    data_dir, data_bytes, expected = run.prepare_inputs(workload, args.seed, run_dir)
    if workload == "gtfs_nightly":
        return run.GtfsBench(args, spark, data_dir, data_bytes, expected,
                             os.path.join(run_dir, "gtfs_work"))
    return run.QueryBench(args, spark, data_dir, data_bytes, QUERY_WORKLOADS[workload], expected)


def traced_counters(bench, tracer, cores: int) -> dict[str, float]:
    start = len(tracer.spans)
    assert bench.one_pass(tracer), "pass produced no timings"
    m = layer_metrics(tracer.spans[start:], cores)
    return {f"{layer}.{c}": m[f"{layer}.{c}"] for layer in LAYERS
            for c in (*EXACT, "shuffle_write_bytes") if f"{layer}.{c}" in m}


def leave_cached_inputs(bench, spark) -> None:
    """What an earlier operation could leave behind: its inputs cached."""
    if isinstance(bench, run.GtfsBench):
        feeds = os.path.join(bench.night.inputs, "feeds.json")
        dfs = [spark.read.option("multiLine", True).json(feeds)]
    else:
        from ntd_gtfs_to_socrata_spark.io import load_table

        dfs = [load_table(spark, bench.data_dir, t) for t in QUERY_TABLES[bench.args.workload]]
    for df in dfs:
        df.cache().count()


@pytest.mark.parametrize("workload", WORKLOADS)
def test_consecutive_passes_cost_the_same(session, workload):
    spark, tracer, run_dir = session
    bench = make_bench(workload, spark, run_dir)
    bench.warm()
    cores = spark.sparkContext.defaultParallelism
    first = traced_counters(bench, tracer, cores)
    leave_cached_inputs(bench, spark)
    second = traced_counters(bench, tracer, cores)
    assert not bench.failures, bench.failures
    assert sum(v for k, v in first.items() if k.endswith(".jobs")) > 0
    for k, v in first.items():
        if k.endswith("shuffle_write_bytes"):
            assert second[k] == pytest.approx(v, rel=SHUFFLE_REL_TOL), k
        else:
            assert second[k] == v, k


def test_gtfs_reset_repeats_the_same_deletions(session):
    spark, _, run_dir = session
    bench = make_bench("gtfs_nightly", spark, run_dir)
    reports = []
    for _ in range(2):
        bench.night.reset()
        reports.append(bench.night.run(spark))
        assert bench.night.check(spark, reports[-1], bench.expected) == []
    assert reports[0]["deleted"] > 0
    assert reports[1] == reports[0]

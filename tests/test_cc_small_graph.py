"""Small-graph connected components: the driver path's job count and
plan shape.

Under ``graph._SMALL_GRAPH_EDGES`` directed edges, ``connected_components``
checkpoints its edge set (the row count rides that checkpoint as an
``observe()`` metric), collects it in one job and labels it on the
driver. These tests pin the jobs that path launches and that its result
is a JVM local relation: no RDD scan, no Python worker.
"""

from __future__ import annotations

import sys
import uuid
from pathlib import Path

import pytest

from ntd_gtfs_to_socrata_spark.operators import graph as G
from ntd_gtfs_to_socrata_spark.operators import stagecache

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from measure_exchanges import executed_node_counts  # noqa: E402

# two components, a self-loop, a duplicate and a reversed edge
EDGES = [(1, 2), (2, 3), (3, 4), (2, 1), (1, 2), (10, 11), (20, 20)]
WANT = {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (20, 20)}


def test_small_graph_cc_launches_its_checkpoint_and_one_collect(spark, monkeypatch):
    """The only jobs are the edge checkpoint's and one collect: no seed
    labels, no rounds, no separate count."""
    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]
    ckpt_group, rest_group = f"cc-ckpt-{tag}", f"cc-rest-{tag}"
    truncations = []

    def tagged_checkpoint(df, supersedes=None):
        truncations.append(df)
        sc.setJobGroup(ckpt_group, ckpt_group)
        try:
            return stagecache.checkpoint(df, supersedes)
        finally:
            sc.setJobGroup(rest_group, rest_group)

    monkeypatch.setattr(G, "checkpoint", tagged_checkpoint)
    edges = spark.createDataFrame(EDGES, "src long, dst long")
    sc.setJobGroup(rest_group, rest_group)
    try:
        out = G.connected_components(edges)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(truncations) == 1
    assert sc.statusTracker().getJobIdsForGroup(ckpt_group)
    assert len(sc.statusTracker().getJobIdsForGroup(rest_group)) == 1
    assert {tuple(r) for r in out.collect()} == WANT


def test_small_graph_cc_result_is_a_local_table_scan(spark):
    """The labels plan as one ``LocalTableScan``: a Python-list
    ``createDataFrame`` (an RDD scan) or a grouped-map solve (a Python
    exec node) fails this."""
    out = G.connected_components(spark.createDataFrame(EDGES, "src long, dst long"))
    assert {tuple(r) for r in out.collect()} == WANT
    counts = executed_node_counts(out)
    assert dict(counts) == {"LocalTableScanExec": 1}, counts


@pytest.mark.parametrize("bound, on_driver", [(9, True), (8, False)])
def test_cc_path_switches_at_the_bound(spark, monkeypatch, bound, on_driver):
    """EDGES has 9 distinct directed edges: a bound of 9 solves them on the
    driver, a bound of 8 runs the loop; the labels are the same."""
    monkeypatch.setattr(G, "_SMALL_GRAPH_EDGES", bound)
    calls = []
    real = G._components_on_driver
    monkeypatch.setattr(G, "_components_on_driver", lambda b: calls.append(b) or real(b))
    out = G.connected_components(spark.createDataFrame(EDGES, "src long, dst long"))
    assert len(calls) == int(on_driver)
    assert {tuple(r) for r in out.collect()} == WANT

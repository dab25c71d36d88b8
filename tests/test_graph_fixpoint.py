"""One round budget for the graph fixpoint loops: the min-label loop of
``connected_components``, ``connected_components_star`` and ``k_core``
each count the rounds they run, the round that reaches the fixpoint
included, and raise when the budget runs out before it."""

from __future__ import annotations

import pytest

from ntd_gtfs_to_socrata_spark.operators import graph as G

_PATH_NODES = 6


def _path(spark):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(_PATH_NODES - 1)], "src long, dst long"
    )


_ONE_COMPONENT = {(i, 0) for i in range(_PATH_NODES)}

# operator -> (call with a round budget, rounds a 6-node path needs, fixpoint)
_LOOPS = {
    # diameter 5: five rounds lower labels, the sixth finds none to lower
    "connected_components": (
        lambda e, n: G.connected_components(e, max_iterations=n),
        6,
        _ONE_COMPONENT,
    ),
    "connected_components_star": (
        lambda e, n: G.connected_components_star(e, max_iterations=n),
        4,
        _ONE_COMPONENT,
    ),
    # k=2 peels the two ends per round; the third round empties the core
    # (the last round's probe is read, so a budget of exactly 3 returns)
    "k_core": (lambda e, n: G.k_core(e, k=2, max_iterations=n), 3, set()),
}


@pytest.mark.parametrize("name", sorted(_LOOPS))
def test_budget_is_rounds_run(spark, monkeypatch, name):
    # the path would be solved on the driver without rounds; a bound of 0
    # forces connected_components' loop
    monkeypatch.setattr(G, "_SMALL_GRAPH_EDGES", 0)
    run, rounds, fixpoint = _LOOPS[name]
    edges = _path(spark)
    assert {tuple(r) for r in run(edges, rounds).collect()} == fixpoint
    with pytest.raises(
        RuntimeError, match=f"{name} did not converge within {rounds - 1} rounds"
    ):
        run(edges, rounds - 1)

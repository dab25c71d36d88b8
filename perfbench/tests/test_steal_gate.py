"""Which operation runs ``run_s`` is taken from.

    python3 -m pytest perfbench/tests/test_steal_gate.py -q

No Spark session: the selection works on per-run timings and steal
shares alone.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.run import STEAL_LIMIT, cpu_ticks, run_s, steal_share, uncontended  # noqa: E402

PASSES = [{"a": a, "b": b} for a, b in ((5.0, 1.0), (2.0, 1.1), (2.2, 3.0), (6.0, 1.2), (2.1, 1.3))]


def steal(a, b):
    return [{"a": x, "b": y} for x, y in zip(a, b)]


def test_uncontended_runs_are_kept_when_enough():
    s = steal([0.2, 0.0, 0.01, 0.3, STEAL_LIMIT], [0.0] * 5)
    kept = uncontended(PASSES, s, 3)
    assert [p.get("a") for p in kept] == [None, 2.0, 2.2, None, 2.1]
    assert [p.get("b") for p in kept] == [1.0, 1.1, 3.0, 1.2, 1.3]
    assert run_s(kept, ["a", "b"]) == 2.1 + 1.2


def test_each_operation_is_gated_on_its_own_runs():
    s = steal([0.0] * 5, [0.0, 0.1, 0.2, 0.0, 0.0])
    kept = uncontended(PASSES, s, 3)
    assert [p.get("a") for p in kept] == [5.0, 2.0, 2.2, 6.0, 2.1]
    assert [p.get("b") for p in kept] == [1.0, None, None, 1.2, 1.3]


def test_least_stolen_runs_when_too_few_are_uncontended():
    s = steal([0.2, 0.05, 0.01, 0.3, 0.08], [0.0] * 5)
    assert [p.get("a") for p in uncontended(PASSES, s, 3)] == [None, 2.0, 2.2, None, 2.1]


def test_failed_runs_are_skipped():
    passes = [{"a": 1.0}, {}, {"a": 3.0}]
    s = [{"a": 0.0}, {}, {"a": 0.5}]
    assert uncontended(passes, s, 2) == [{"a": 1.0}, {}, {"a": 3.0}]


def test_steal_share_of_the_ticks_between_two_readings():
    assert steal_share((10, 1000), (15, 1100)) == 0.05
    before = cpu_ticks()
    after = cpu_ticks()
    assert 0.0 <= steal_share(before, after) <= 1.0

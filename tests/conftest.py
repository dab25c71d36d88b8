from __future__ import annotations

import sys
from pathlib import Path

import pytest
from py4j.protocol import Py4JError

# import the package of the checkout these tests live in
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from ntd_gtfs_to_socrata_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


def pytest_addoption(parser: pytest.Parser) -> None:
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="run tests marked slow (full-registry / long-running gates)",
    )
    parser.addoption(
        "--runcluster",
        action="store_true",
        default=False,
        help=(
            "run tests marked cluster (local-cluster[2,2,2048] smoke tier: "
            "multi-JVM executor serialization / Python worker distribution)"
        ),
    )


def pytest_collection_modifyitems(
    config: pytest.Config, items: list[pytest.Item]
) -> None:
    gates = []
    if not config.getoption("--runslow"):
        gates.append(("slow", pytest.mark.skip(reason="slow gate; run with --runslow")))
    if not config.getoption("--runcluster"):
        gates.append(
            ("cluster", pytest.mark.skip(reason="cluster gate; run with --runcluster"))
        )
    for item in items:
        for kw, marker in gates:
            if kw in item.keywords:
                item.add_marker(marker)


_session = None  # the one cached SparkSession of this pytest process
_last_test = None  # the last test handed that session


def live_spark(test_id: str):
    """The cached session, replaced first if its JVM no longer answers.

    A lost JVM (killed, or out of memory) would otherwise fail every
    later test through the dead Py4J gateway. One Py4J call probes it;
    on failure PySpark's cached gateway, context and session and the
    ``stagecache`` scopes are dropped without calling into the dead JVM,
    and a fresh session starts."""
    global _session, _last_test
    if _session is not None:
        try:
            _session.sparkContext._jsc.sc().isStopped()
        except (Py4JError, OSError):  # a dead gateway: refused or dropped connection
            print(
                f"\nSpark JVM lost after {_last_test};"
                f" starting a new session for {test_id}",
                file=sys.stderr,
            )
            _drop_session()
    if _session is None:
        _session = get_spark("pytest", cpus=8, shuffle_partitions=8)
    _last_test = test_id
    return _session


def _drop_session() -> None:
    global _session
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from ntd_gtfs_to_socrata_spark.operators import stagecache

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:  # reap (or end) the old JVM's launcher process
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = SparkContext._active_spark_context = None
    SparkSession._instantiatedSession = SparkSession._activeSession = None
    with stagecache._LOCK:
        stagecache._LIVE.clear()
    _session = None


@pytest.fixture
def spark(request):
    return live_spark(request.node.nodeid)


@pytest.fixture(scope="module")
def module_spark(request):
    """``spark`` for module-scoped fixtures."""
    return live_spark(request.node.nodeid)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE

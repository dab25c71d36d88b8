from __future__ import annotations

import sys
from pathlib import Path

import pytest

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


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE

from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # keep test JVM small


@pytest.fixture(scope="session")
def spark():
    from genome_deduplication_spark.session import get_spark

    s = get_spark(app_name="pytest", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture
def cc_sides(monkeypatch):
    """Iterate the two sides of connected_components' driver gate: each
    step yields "driver" or "loop" with ``DRIVER_EDGES`` set so every
    graph takes that path (a loop over sides, not a parametrization, so a
    test keeps its id)."""
    from genome_deduplication_spark.operators import connected_components as cc

    def sides():
        for side, gate in (("driver", cc.DRIVER_EDGES), ("loop", -1)):
            with monkeypatch.context() as m:
                m.setattr(cc, "DRIVER_EDGES", gate)
                yield side

    return sides

from __future__ import annotations

import pytest

from wedge_parallel_triangle_counting_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="wetric-tests", master="local[8]")
    yield s
    s.stop()


@pytest.fixture
def local_lane(monkeypatch):
    """Put pagerank() on its driver-local lane, and let triangle_count's
    size gate take its collect-first path. The test frames are built
    from Python rows, which have no size estimate and so take the Spark
    lane (the distributed pipeline for triangle_count); a zero estimate
    fits under any cap."""
    from wedge_parallel_triangle_counting_spark.operators import checkpointing

    monkeypatch.setattr(checkpointing, "plan_size_bytes", lambda df: 0)


@pytest.fixture
def spark_count(monkeypatch):
    """Make triangle_count's collect-first path count every graph that
    has a wedge in its Spark job instead of on the driver."""
    from wedge_parallel_triangle_counting_spark.operators import checkpointing

    monkeypatch.setattr(checkpointing, "LOCAL_LANE_MAX_WEDGES", 0)


def edges_df(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src long, dst long"
    )


# Golden graphs (FIXTURES.md §3)
K3 = [(0, 1), (1, 2), (0, 2)]
C4 = [(0, 1), (1, 2), (2, 3), (3, 0)]
K4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
K5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
STAR10 = [(0, i) for i in range(1, 11)]
BARBELL = (
    [(a, b) for a in range(4) for b in range(a + 1, 4)]
    + [(a + 4, b + 4) for a in range(4) for b in range(a + 1, 4)]
    + [(3, 4)]
)
TWO_COMP = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12)]
DIRTY_K3 = [(0, 1), (1, 2), (0, 2), (1, 1), (0, 1), (0, 1), (1, 0)]

GOLDEN_TRIANGLES = {
    "k3": (K3, 1),
    "c4": (C4, 0),
    "k4": (K4, 4),
    "k5": (K5, 10),
    "star10": (STAR10, 0),
    "barbell": (BARBELL, 8),
    "two_comp": (TWO_COMP, 2),
    "dirty_k3": (DIRTY_K3, 1),
}

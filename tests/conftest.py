import pytest

from pagerank_spark.testing import DEMO_EDGES, DEMO_N


@pytest.fixture(scope="session")
def spark():
    from pagerank_spark.session import get_spark

    s = get_spark(
        app_name="pagerank-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s
    s.stop()


@pytest.fixture
def demo_snap(tmp_path):
    """The 4-vertex DEMO graph as a 0-indexed SNAP file (header line,
    tab-separated pairs, no trailing newline) — the reference's input
    format, written from ``pagerank_spark.testing.DEMO_EDGES``."""
    p = tmp_path / "DEMO.txt"
    body = "\n".join(f"{s}\t{t}" for s, t in DEMO_EDGES)
    p.write_text(f"# Nodes: {DEMO_N} Edges: {len(DEMO_EDGES)}\n{body}")
    return str(p)

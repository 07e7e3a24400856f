"""SNAP loader (reference format compat) + degree + densify tests."""

import numpy as np

from pagerank_spark import (
    connected_components,
    degrees,
    densify_ids,
    in_degrees,
    out_degrees,
    pagerank,
    read_snap_edges,
)
from pagerank_spark.testing import DEMO_EDGES, DEMO_GOLDEN, edges_df


def test_read_snap_demo(spark, demo_snap):
    edges, n, e = read_snap_edges(spark, demo_snap, first_node=0)
    assert (n, e) == (4, 8)
    got = sorted((r["src"], r["dst"]) for r in edges.collect())
    assert got == sorted(DEMO_EDGES)


def test_read_snap_one_indexed(spark, tmp_path):
    p = tmp_path / "one.txt"
    p.write_text("# Nodes: 3 Edges: 2\n1\t2\n2\t3")  # no trailing newline
    edges, n, e = read_snap_edges(spark, str(p), first_node=1)
    assert (n, e) == (3, 2)
    assert sorted((r["src"], r["dst"]) for r in edges.collect()) == [(0, 1), (1, 2)]


def test_rete_loads_and_ranks(spark, tmp_path):
    # stand-in for the reference's mid-size RETE.txt (ego-Facebook,
    # 1-indexed, symmetric): a seeded symmetric graph written in the
    # same 1-indexed SNAP layout — a ring (so no vertex dangles) plus
    # random chords, every edge present in both directions
    n = 500
    rng = np.random.default_rng(3)
    und = {(i, (i + 1) % n) for i in range(n)}
    for u, v in rng.integers(0, n, size=(1500, 2)):
        if u != v:
            und.add((int(min(u, v)), int(max(u, v))))
    pairs = sorted(und | {(v, u) for u, v in und})
    p = tmp_path / "rete_standin.txt"
    body = "\n".join(f"{u + 1} {v + 1}" for u, v in pairs)
    p.write_text(f"# Nodes: {n} Edges: {len(pairs)}\n{body}")
    edges, n_read, e = read_snap_edges(spark, str(p), first_node=1)
    assert (n_read, e) == (n, len(pairs))
    assert edges.count() == e
    assert sorted((r["src"], r["dst"]) for r in edges.collect()) == pairs
    res = pagerank(edges, n=n, dangling="leak")
    assert res.converged
    v = np.array([r["rank"] for r in res.ranks.collect()])
    assert len(v) == n and (v > 0).all()
    # symmetric (no dangling): mass conserved even in leak mode
    assert abs(v.sum() - 1.0) < 1e-6
    # the ring makes it one component, labelled by its min id
    comps = {r["component"] for r in connected_components(edges).collect()}
    assert comps == {0}
    # hubs on top: the top-ranked vertex is among the 5 highest-degree
    # vertices (ties at the 5th degree count)
    deg = np.bincount([u for u, _ in pairs], minlength=n)
    ranked = {r["id"]: r["rank"] for r in res.ranks.collect()}
    top = max(ranked, key=ranked.get)
    assert deg[top] >= np.sort(deg)[-5]


def test_degrees_duplicates_counted(spark):
    e = edges_df(spark, [(0, 1), (0, 1), (1, 2)])
    od = {r["id"]: r["out_deg"] for r in out_degrees(e).collect()}
    assert od == {0: 2, 1: 1}
    ind = {r["id"]: r["in_deg"] for r in in_degrees(e).collect()}
    assert ind == {1: 2, 2: 1}
    d = {r["id"]: (r["out_deg"], r["in_deg"]) for r in degrees(e).collect()}
    assert d == {0: (2, 0), 1: (1, 2), 2: (0, 1)}


def test_densify_ids(spark):
    raw = spark.createDataFrame(
        [("repo/a", "repo/b"), ("repo/b", "repo/c"), ("repo/c", "repo/a")],
        "src string, dst string",
    )
    dense, mapping = densify_ids(raw)
    ids = sorted(r["id"] for r in mapping.collect())
    assert ids == [0, 1, 2]
    assert dense.count() == 3
    assert set(dense.columns) == {"src", "dst"}

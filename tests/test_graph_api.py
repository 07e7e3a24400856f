"""LinkGraph convenience API round-trip."""

from pyspark.sql import functions as F

from pagerank_spark import LinkGraph
from pagerank_spark.testing import synth_corpus


def test_linkgraph_from_snap(spark, demo_snap):
    g = LinkGraph.from_snap(spark, demo_snap, first_node=0)
    assert g.n == 4
    res = g.pagerank(dangling="leak")
    assert res.iterations == 12
    cc = g.connected_components()
    assert cc.select("component").distinct().count() == 1
    tri = g.triangle_count().collect()[0]["triangles"]
    assert tri == 4
    degs = {r["id"]: r["out_deg"] for r in g.degrees().collect()}
    assert degs == {0: 3, 1: 2, 2: 1, 3: 2}


def test_linkgraph_from_corpus_weighted(spark):
    corpus = synth_corpus(spark, n_repos=15, files_per_repo=4)
    g = LinkGraph.from_corpus(corpus)
    assert g.weight_col == "weight" and g.n == g.mapping.count()
    res = g.pagerank(dangling="redistribute")
    assert res.converged
    total = res.ranks.agg(F.sum("rank")).collect()[0][0]
    assert abs(total - 1.0) < 1e-9
    named = g.with_original_ids(res.ranks)
    assert "orig_id" in named.columns
    assert named.count() == g.n


def test_linkgraph_sssp_and_ppr(spark):
    from pagerank_spark.testing import DEMO_EDGES, DEMO_N, edges_df

    g = LinkGraph(edges=edges_df(spark, DEMO_EDGES), n=DEMO_N)
    # DEMO: 0->{1,2,3}, 1->{2,3}, 2->0, 3->{0,2}
    d = {r["id"]: r["dist"] for r in g.shortest_paths([0]).collect()}
    assert d == {0: 0, 1: 1, 2: 1, 3: 1}
    ppr = g.personalized_pagerank([0], dangling="redistribute")
    v = {r["id"]: r["rank"] for r in ppr.ranks.collect()}
    assert abs(sum(v.values()) - 1.0) < 1e-9
    assert v[0] == max(v.values())  # restart vertex dominates


def test_linkgraph_centrality_surface(spark):
    from pagerank_spark.testing import DEMO_EDGES, DEMO_N, edges_df

    g = LinkGraph(edges=edges_df(spark, DEMO_EDGES), n=DEMO_N)
    ids = list(range(DEMO_N))
    kz = {r["id"]: r["katz"] for r in g.katz_centrality(alpha=0.05, max_iter=4).collect()}
    assert set(kz) == set(ids) and all(v > 1.0 for v in kz.values())
    ev = {r["id"]: r["eigenvector"] for r in g.eigenvector_centrality(max_iter=6).collect()}
    assert abs(sum(v * v for v in ev.values()) - 1.0) < 1e-9
    cl = {r["id"]: r["closeness"] for r in g.closeness_centrality(ids).collect()}
    # DEMO is strongly connected: every vertex reached by all other pivots
    assert set(cl) == set(ids) and all(0 < v <= 1.0 for v in cl.values())
    bc = g.betweenness_centrality(ids, normalized=True)
    assert bc.count() > 0


def test_linkgraph_community_pipeline(spark):
    import itertools

    # two 5-cliques bridged once (small symmetric structures like bare
    # triangles can ping-pong under SYNCHRONOUS moves; cliques of 5
    # settle — the operator test pins the same behavior)
    c1, c2 = list(range(0, 5)), list(range(5, 10))
    pairs = (
        list(itertools.combinations(c1, 2))
        + list(itertools.combinations(c2, 2))
        + [(4, 5)]
    )
    g = LinkGraph(edges=spark.createDataFrame(pairs, "src long, dst long"))
    lab = g.greedy_modularity_moves(max_iter=6)
    got = {r["id"]: r["label"] for r in lab.collect()}
    assert len({got[v] for v in c1}) == 1
    assert len({got[v] for v in c2}) == 1
    coarse = g.contract(lab)
    assert coarse.weight_col == "weight"
    w = {
        (r["src"], r["dst"]): r["weight"] for r in coarse.edges.collect()
    }
    assert sum(w.values()) == len(pairs)
    r = g.degree_assortativity().collect()[0]["assortativity"]
    assert r is None or -1.0 <= r <= 1.0


def test_linkgraph_subgraph(spark):
    e = spark.createDataFrame(
        [(0, 1, 2.0), (1, 2, 1.0), (2, 3, 1.0), (3, 0, 5.0)],
        "src long, dst long, weight double",
    )
    g = LinkGraph(edges=e, weight_col="weight")
    sub = g.subgraph([0, 1, 2])
    got = {(r["src"], r["dst"], r["weight"]) for r in sub.edges.collect()}
    assert got == {(0, 1, 2.0), (1, 2, 1.0)}
    assert sub.weight_col == "weight"
    # DataFrame form, composed with an operator result (k-core vertices)
    core = g.k_core(0)
    assert g.subgraph(core).edges.count() == 4


def test_linkgraph_save_load_roundtrip(spark, tmp_path):
    from pagerank_spark.testing import synth_corpus

    g = LinkGraph.from_corpus(synth_corpus(spark, n_repos=10, files_per_repo=3))
    p = str(tmp_path / "graph")
    g.save(p)
    g2 = LinkGraph.load(spark, p)
    assert g2.n == g.n and g2.weight_col == g.weight_col
    assert g2.mapping is not None and g2.mapping.count() == g.mapping.count()
    a = {(r["src"], r["dst"], r["weight"]) for r in g.edges.collect()}
    b = {(r["src"], r["dst"], r["weight"]) for r in g2.edges.collect()}
    assert a == b
    # unweighted, no-mapping graph round-trips too
    e = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    p2 = str(tmp_path / "plain")
    LinkGraph(edges=e, n=3).save(p2)
    g3 = LinkGraph.load(spark, p2)
    assert g3.n == 3 and g3.weight_col is None and g3.mapping is None
    assert g3.edges.count() == 2


def test_linkgraph_round3_surface(spark):
    from pagerank_spark.testing import DEMO_EDGES, DEMO_N, edges_df

    g = LinkGraph(edges=edges_df(spark, DEMO_EDGES), n=DEMO_N)
    mis = {r["id"] for r in g.maximal_independent_set().collect()}
    assert mis  # non-empty on a non-empty graph
    col = {r["id"]: r["color"] for r in g.greedy_coloring().collect()}
    assert len(col) == DEMO_N
    ed = g.effective_diameter().collect()[0]
    assert ed["effective_diameter"] >= 1
    anf = g.hyper_anf(p=10).collect()
    assert anf[-1]["pairs_est"] > 0
    core = g.k_truss_core(3)
    assert core.edges.count() >= 0


def test_linkgraph_round4_surface(spark):
    from pagerank_spark.testing import DEMO_EDGES, DEMO_N, edges_df

    g = LinkGraph(edges=edges_df(spark, DEMO_EDGES), n=DEMO_N)
    m = g.maximal_matching().collect()
    assert m  # non-empty on a graph with edges
    rc = {r["k"]: r["rich_club"] for r in g.rich_club().collect()}
    assert 0 in rc
    s = {r["id"]: r for r in g.salsa().collect()}
    assert abs(sum(r["hub"] for r in s.values()) - 1.0) < 1e-9
    sr = g.simrank(iters=2).collect()
    assert all(0.0 < r["score"] <= 1.0 for r in sr)
    sm = g.spam_mass(trusted=[0], max_iter=10).collect()
    assert {r["id"] for r in sm} == set(range(DEMO_N))
    fc = g.four_cycles().collect()[0]
    assert fc["n_four_cycles"] >= 0
    bt = {r["id"]: r["region"] for r in g.bowtie_decomposition().collect()}
    assert len(bt) == DEMO_N

"""Round-5 operators: LeaderRank, ReFeX features, configuration-model
rewiring, temporal reachability, R-MAT generation, hitting time."""

import math

from pyspark.sql import functions as F

from pagerank_spark import (
    configuration_rewire,
    hitting_time,
    leaderrank,
    refex_features,
    rmat_edges,
    temporal_reachability,
)


def _edf(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long")


# ---------------------------------------------------------------------------
# LeaderRank
# ---------------------------------------------------------------------------

def _leaderrank_numpy(edges, n, iters):
    """Driver-side replay: ground node g=n wired both ways, d=1 walk."""
    import numpy as np

    g = n
    aug = list(edges) + [(v, g) for v in range(n)] + [(g, v) for v in range(n)]
    odeg = np.zeros(n + 1)
    for s, _ in aug:
        odeg[s] += 1
    r = np.full(n + 1, 1.0 / (n + 1))
    for _ in range(iters):
        nxt = np.zeros(n + 1)
        for s, d in aug:
            nxt[d] += r[s] / odeg[s]
        r = nxt
    return r


def test_leaderrank_matches_numpy(spark):
    edges = [(0, 1), (1, 2), (2, 0), (2, 1), (3, 0)]
    out = leaderrank(_edf(spark, edges), eps=0.0, max_iter=12).orderBy("id")
    rows = out.collect()
    ref = _leaderrank_numpy(edges, 4, 12)
    assert [r["id"] for r in rows] == [0, 1, 2, 3]
    for r in rows:
        assert math.isclose(r["rank"], ref[r["id"]], rel_tol=1e-9)
        assert math.isclose(
            r["score"], ref[r["id"]] + ref[4] / 4.0, rel_tol=1e-9
        )


def test_leaderrank_mass_conserved(spark):
    # d=1 on the ground-augmented (strongly connected) graph conserves
    # total mass exactly: sum(rank_v) + rank(g) == 1, and folding the
    # ground back keeps sum(score) == 1.
    edges = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)]
    out = leaderrank(_edf(spark, edges), eps=0.0, max_iter=10)
    tot = out.agg(F.sum("score").alias("s")).first()["s"]
    assert math.isclose(tot, 1.0, rel_tol=1e-9)


def test_leaderrank_ground_breaks_dangling(spark):
    # vertex 2 is a sink in the base graph; the ground edges make the
    # walk well-defined without any dangling handling, and the sink
    # still receives a sensible positive score.
    out = leaderrank(_edf(spark, [(0, 2), (1, 2), (0, 1)]),
                     eps=0.0, max_iter=20)
    scores = {r["id"]: r["score"] for r in out.collect()}
    assert set(scores) == {0, 1, 2}
    assert all(v > 0 for v in scores.values())
    assert scores[2] == max(scores.values())


# ---------------------------------------------------------------------------
# ReFeX
# ---------------------------------------------------------------------------

def test_refex_hand_computed(spark):
    # path 0 -> 1 -> 2 plus 0 -> 2
    out = refex_features(_edf(spark, [(0, 1), (1, 2), (0, 2)]))
    f = {r["id"]: r.asDict() for r in out.collect()}
    assert f[0]["out_deg"] == 2 and f[0]["in_deg"] == 0
    # out-neighbors of 0 are {1, 2}: their out-degs sum 1+0, in-degs 1+2
    assert f[0]["s_out_out_deg"] == 1
    assert f[0]["s_out_in_deg"] == 3
    # in-neighbors of 2 are {1, 0}: out-degs 1+2, in-degs 1+0
    assert f[2]["s_in_out_deg"] == 3
    assert f[2]["s_in_in_deg"] == 1
    # second order: s2_out of 0 sums s_out_* over {1, 2}:
    # s_out_out_deg(1)=0 (nbr 2 has out 0), s_out_out_deg(2)=0
    assert f[0]["s2_out_s_out_out_deg"] == 0
    # means: vertex 0's out-nbrs have avg out-degree (1+0)/2
    assert math.isclose(f[0]["mean_out_outdeg"], 0.5)
    assert f[1]["mean_in_indeg"] == 0.0  # in-nbr 0 has in_deg 0


def test_refex_multigraph_multiplicity(spark):
    # parallel edges count once per edge row (multigraph convention)
    out = refex_features(_edf(spark, [(0, 1), (0, 1)]))
    f = {r["id"]: r.asDict() for r in out.collect()}
    assert f[0]["out_deg"] == 2
    assert f[1]["in_deg"] == 2
    # each of the two 0->1 edges contributes in_deg(1)=2 once: sum 4
    assert f[0]["s_out_in_deg"] == 4


def test_refex_isolated_in_only_vertex(spark):
    out = refex_features(_edf(spark, [(5, 9)]))
    f = {r["id"]: r.asDict() for r in out.collect()}
    assert set(f) == {5, 9}
    assert f[9]["out_deg"] == 0 and f[9]["mean_out_outdeg"] == 0.0


# ---------------------------------------------------------------------------
# configuration model
# ---------------------------------------------------------------------------

def _ed_eid(spark, rows):
    return spark.createDataFrame(rows, "eid long, src long, dst long")


def test_config_rewire_preserves_degree_sequence(spark):
    rows = [(i, i % 5, (i * 3 + 1) % 7) for i in range(40)]
    e = _ed_eid(spark, rows)
    r = configuration_rewire(e, id_col="eid", seed=7)
    assert r.count() == 40
    orig_out = sorted(s for _, s, _ in rows)
    orig_in = sorted(d for _, _, d in rows)
    got = r.collect()
    assert sorted(x["src"] for x in got) == orig_out
    assert sorted(x["dst"] for x in got) == orig_in


def test_config_rewire_deterministic_and_seeded(spark):
    rows = [(i, i % 4, (i + 1) % 4) for i in range(20)]
    e = _ed_eid(spark, rows)
    a = sorted(map(tuple, configuration_rewire(e, seed=1).collect()))
    b = sorted(map(tuple, configuration_rewire(e.repartition(7), seed=1).collect()))
    c = sorted(map(tuple, configuration_rewire(e, seed=2).collect()))
    assert a == b  # partition-layout independent
    assert a != c  # seed actually changes the draw


def test_config_rewire_md5_mode(spark):
    rows = [(i, i % 3, (i + 2) % 5) for i in range(15)]
    r = configuration_rewire(_ed_eid(spark, rows), hash_fn="md5")
    got = r.orderBy("rn").collect()
    assert [x["rn"] for x in got] == list(range(1, 16))
    assert sorted(x["src"] for x in got) == sorted(s for _, s, _ in rows)


# ---------------------------------------------------------------------------
# temporal reachability
# ---------------------------------------------------------------------------

def _tdf(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long, t long")


def test_temporal_respects_time_order(spark):
    # A->B at 12, B->C at 9: C is NOT temporally reachable from A
    te = _tdf(spark, [(0, 1, 12), (1, 2, 9)])
    got = {r["id"]: r["arrival"] for r in
           temporal_reachability(te, sources=[0]).collect()}
    assert got == {0: 0, 1: 12}


def test_temporal_earliest_arrival(spark):
    # two routes to 3: via 1 (arrive 5 then 7) and via 2 (arrive 2 then 4)
    te = _tdf(spark, [(0, 1, 5), (1, 3, 7), (0, 2, 2), (2, 3, 4),
                      (3, 4, 3)])  # 3->4 at t=3 < arrival(3)=4: unusable
    got = {r["id"]: r["arrival"] for r in
           temporal_reachability(te, sources=[0]).collect()}
    assert got == {0: 0, 1: 5, 2: 2, 3: 4}


def test_temporal_same_instant_relay_and_start(spark):
    # non-strict convention: t == arrival is usable; start gates edges
    te = _tdf(spark, [(0, 1, 10), (1, 2, 10), (0, 3, 4)])
    got = {r["id"]: r["arrival"] for r in
           temporal_reachability(te, sources=[0], start=5).collect()}
    assert got == {0: 5, 1: 10, 2: 10}  # 0->3 at t=4 < start


def test_temporal_max_hops_prefix(spark):
    te = _tdf(spark, [(0, 1, 1), (1, 2, 2), (2, 3, 3)])
    got = {r["id"]: r["arrival"] for r in
           temporal_reachability(te, sources=[0], max_hops=2).collect()}
    assert got == {0: 0, 1: 1, 2: 2}  # 3 needs a third hop


# ---------------------------------------------------------------------------
# R-MAT generator
# ---------------------------------------------------------------------------

def test_rmat_shape_and_bounds(spark):
    e = rmat_edges(spark, 5000, 8, seed=1)
    rows = e.collect()
    assert len(rows) == 5000
    assert all(0 <= r["src"] < 256 and 0 <= r["dst"] < 256 for r in rows)
    assert sorted(r["eid"] for r in rows) == list(range(5000))


def test_rmat_partition_independent(spark):
    a = sorted(map(tuple, rmat_edges(spark, 2000, 7, seed=9,
                                     num_partitions=1).collect()))
    b = sorted(map(tuple, rmat_edges(spark, 2000, 7, seed=9,
                                     num_partitions=13).collect()))
    assert a == b
    c = sorted(map(tuple, rmat_edges(spark, 2000, 7, seed=10).collect()))
    assert a != c


def test_rmat_skew(spark):
    # a=0.57 concentrates mass in the top-left quadrant: vertex 0's
    # expected out-degree share is (a+b)^scale >> uniform 1/2^scale
    e = rmat_edges(spark, 20000, 8, seed=3)
    deg = {r["src"]: r["cnt"] for r in
           e.groupBy("src").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    top = max(deg.values())
    assert top > 20000 / 256 * 5  # heavy skew vs uniform expectation
    assert deg.get(0, 0) > 20000 / 256  # hub corner is above-uniform


def test_rmat_uniform_probs(spark):
    # a=b=c=d=0.25 degenerates to uniform-random pairs: no vertex
    # should dominate (max degree within ~6x of uniform for 20k draws)
    e = rmat_edges(spark, 20000, 6, a=0.25, b=0.25, c=0.25, seed=4)
    top = (e.groupBy("src").agg(F.count(F.lit(1)).alias("c"))
           .agg(F.max("c")).first()[0])
    assert top < 6 * 20000 / 64


# ---------------------------------------------------------------------------
# hitting time
# ---------------------------------------------------------------------------

def test_hitting_time_path(spark):
    got = {r["id"]: r["hitting"] for r in
           hitting_time(_edf(spark, [(0, 1), (1, 2)]),
                        targets=[2], horizon=10).collect()}
    assert got == {0: 2.0, 1: 1.0, 2: 0.0}


def test_hitting_time_unreachable_is_horizon(spark):
    # 2-cycle never reaches vertex 2: truncated value is the horizon
    got = {r["id"]: r["hitting"] for r in
           hitting_time(_edf(spark, [(0, 1), (1, 0)]),
                        targets=[2], n=3, horizon=5).collect()}
    assert got == {0: 5.0, 1: 5.0, 2: 0.0}


def test_hitting_time_multigraph_weights(spark):
    # P(0->1)=2/3 (parallel edges), P(0->2)=1/3; vertex 2 dangles so
    # h_k(2)=k and h_k(0) = 1 + (1/3)h_{k-1}(2) = 1 + (k-1)/3
    got = {r["id"]: r["hitting"] for r in
           hitting_time(_edf(spark, [(0, 1), (0, 1), (0, 2)]),
                        targets=[1], horizon=10).collect()}
    assert got[1] == 0.0
    assert got[2] == 10.0
    assert math.isclose(got[0], 1 + 9 / 3, rel_tol=1e-12)


# ---------------------------------------------------------------------------
# absorption probability
# ---------------------------------------------------------------------------

def test_absorption_hand_computed(spark):
    from pagerank_spark import absorption_probability

    # 1 -> 0 (A) and 1 -> 2 (B): committor of 1 is 1/2; isolated 3 -> 0
    got = {r["id"]: r["p_a"] for r in
           absorption_probability(_edf(spark, [(1, 0), (1, 2)]),
                                  targets_a=[0], targets_b=[2],
                                  n=4, horizon=10).collect()}
    assert got == {0: 1.0, 1: 0.5, 2: 0.0, 3: 0.0}


def test_absorption_multigraph(spark):
    from pagerank_spark import absorption_probability

    # parallel edges weight the step: P(1->0)=2/3
    got = {r["id"]: r["p_a"] for r in
           absorption_probability(_edf(spark, [(1, 0), (1, 0), (1, 2)]),
                                  targets_a=[0], targets_b=[2],
                                  horizon=10).collect()}
    assert math.isclose(got[1], 2 / 3, rel_tol=1e-12)


def test_absorption_gamblers_ruin(spark):
    from pagerank_spark import absorption_probability

    # symmetric walk on path 0-1-2-3-4, absorb at 0 (A) and 4 (B):
    # exact committor is 1 - v/4; a long horizon gets within 1e-6
    und = []
    for u, v in [(0, 1), (1, 2), (2, 3), (3, 4)]:
        und += [(u, v), (v, u)]
    got = {r["id"]: r["p_a"] for r in
           absorption_probability(_edf(spark, und), targets_a=[0],
                                  targets_b=[4], horizon=60).collect()}
    for v in range(5):
        assert math.isclose(got[v], 1 - v / 4, abs_tol=1e-6), (v, got[v])


# ---------------------------------------------------------------------------
# keyed temporal reachability
# ---------------------------------------------------------------------------

def test_temporal_keyed_matches_single_runs(spark):
    from pagerank_spark import temporal_reachability_keyed

    rows = [(0, 1, 5), (1, 3, 7), (0, 2, 2), (2, 3, 4), (3, 4, 9),
            (7, 2, 1), (7, 0, 3), (4, 7, 1)]
    te = _tdf(spark, rows)
    keyed = temporal_reachability_keyed(te, sources=[0, 7])
    got = {(r["source"], r["id"]): r["arrival"] for r in keyed.collect()}
    for s in (0, 7):
        solo = {r["id"]: r["arrival"] for r in
                temporal_reachability(te, sources=[s]).collect()}
        assert {v: a for (src, v), a in got.items() if src == s} == solo


# ---------------------------------------------------------------------------
# snapshot (windowed) PageRank
# ---------------------------------------------------------------------------

def test_snapshot_pagerank_matches_solo_runs(spark):
    from pagerank_spark import snapshot_pagerank
    from pagerank_spark.operators.pagerank import pagerank

    rows = [(0, 1, 3), (1, 2, 7), (2, 0, 9), (0, 2, 15), (2, 1, 18),
            (1, 0, 4)]
    te = _tdf(spark, rows)
    out = snapshot_pagerank(te, [0, 10, 20], dangling="leak",
                            eps=0.0, max_iter=5)
    got = {(r["window"], r["id"]): r["rank"] for r in out.collect()}
    for i, (lo, hi) in enumerate([(0, 10), (10, 20)]):
        e = _edf(spark, [(s, d) for s, d, t in rows if lo <= t < hi])
        solo = {r["id"]: r["rank"] for r in
                pagerank(e, dangling="leak", eps=0.0,
                         max_iter=5).ranks.collect()}
        assert {v: x for (w, v), x in got.items() if w == i} == solo


def test_snapshot_pagerank_rejects_bad_boundaries(spark):
    from pagerank_spark import snapshot_pagerank
    import pytest

    with pytest.raises(ValueError):
        snapshot_pagerank(_tdf(spark, [(0, 1, 1)]), [5])
    with pytest.raises(ValueError):
        snapshot_pagerank(_tdf(spark, [(0, 1, 1)]), [10, 0])


# ---------------------------------------------------------------------------
# forward-push local PPR
# ---------------------------------------------------------------------------

def test_ppr_push_invariant_and_bound(spark):
    from pagerank_spark.operators.push import ppr_push
    from pagerank_spark.operators.pagerank import pagerank

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (1, 3), (3, 4),
             (4, 1)]
    e = _edf(spark, edges)
    res = ppr_push(e, seed=0, alpha=0.15, eps_push=1e-5)
    assert res.converged
    tot = res.estimates.agg(F.sum("p") + F.sum("r")).first()[0]
    assert math.isclose(tot, 1.0, rel_tol=1e-9)  # sum p + sum r == 1
    sp = res.estimates.agg(F.sum("p")).first()[0]
    bound = 1.0 - sp
    exact = pagerank(e, dangling="redistribute", personalize=[0],
                     eps=1e-14, max_iter=500).ranks
    got = {r["id"]: r["p"] for r in res.estimates.collect()}
    for r in exact.collect():
        assert abs(r["rank"] - got.get(r["id"], 0.0)) <= bound + 1e-12


def test_ppr_push_locality(spark):
    from pagerank_spark.operators.push import ppr_push

    # two disconnected components; push from component A must NEVER
    # materialize a component-B vertex — the bounded-work property
    comp_a = [(0, 1), (1, 0)]
    comp_b = [(10, 11), (11, 12), (12, 10)]
    res = ppr_push(_edf(spark, comp_a + comp_b), seed=0, eps_push=1e-6)
    touched = {r["id"] for r in res.estimates.collect()}
    assert touched == {0, 1}


def test_ppr_push_dangling_routes_to_seed(spark):
    from pagerank_spark.operators.push import ppr_push
    from pagerank_spark.operators.pagerank import pagerank

    # vertex 1 dangles: its pushed mass returns to the seed, matching
    # exact personalized redistribute semantics
    e = _edf(spark, [(0, 1)])
    res = ppr_push(e, seed=0, eps_push=1e-7)
    exact = {r["id"]: r["rank"] for r in
             pagerank(e, dangling="redistribute", personalize=[0],
                      eps=1e-14, max_iter=1000).ranks.collect()}
    got = {r["id"]: r["p"] for r in res.estimates.collect()}
    for v, rank in exact.items():
        assert math.isclose(got[v], rank, abs_tol=1e-6), (v, rank, got)


def test_ppr_push_inactive_seed_runs_no_round(spark):
    from pagerank_spark.operators.push import ppr_push

    # eps_push >= 1: the seed's unit residual never exceeds its
    # threshold, so no push round runs at all
    res = ppr_push(_edf(spark, [(0, 1), (1, 0)]), seed=0, eps_push=1.0)
    assert (res.rounds, res.converged) == (0, True)
    assert [tuple(r) for r in res.estimates.collect()] == [(0, 0.0, 1.0)]


def test_ppr_push_round_budget(spark):
    from pagerank_spark.operators.push import ppr_push

    # 2-cycle, alpha=0.5: the one active residual halves every round,
    # so the frontier drains after a handful of rounds
    e = _edf(spark, [(0, 1), (1, 0)])
    full = ppr_push(e, seed=0, alpha=0.5, eps_push=0.1)
    assert full.converged and full.rounds > 1
    # the budget runs out with an active vertex left: not converged
    cut = ppr_push(e, seed=0, alpha=0.5, eps_push=0.1,
                   max_rounds=full.rounds - 1)
    assert (cut.rounds, cut.converged) == (full.rounds - 1, False)
    # the last allowed round drains the frontier: converged
    exact = ppr_push(e, seed=0, alpha=0.5, eps_push=0.1,
                     max_rounds=full.rounds)
    assert (exact.rounds, exact.converged) == (full.rounds, True)


def test_ppr_contributions_matches_exact_per_source(spark):
    from pagerank_spark.operators.push import ppr_contributions
    from pagerank_spark.operators.pagerank import pagerank

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (1, 3), (3, 4),
             (4, 1)]
    e = _edf(spark, edges)
    eps = 1e-4
    res = ppr_contributions(e, target=3, alpha=0.15, eps_push=eps)
    assert res.converged
    got = {r["id"]: r["p"] for r in res.estimates.collect()}
    # per-source uniform certificate: |ppr_v(3) - p(v)| <= eps
    for v in range(5):
        exact = pagerank(e, dangling="leak", personalize=[v],
                         eps=1e-14, max_iter=500).ranks
        pv3 = {r["id"]: r["rank"] for r in exact.collect()}.get(3, 0.0)
        assert abs(pv3 - got.get(v, 0.0)) <= eps + 1e-12, (v, pv3, got)


def test_ppr_contributions_locality(spark):
    from pagerank_spark.operators.push import ppr_contributions

    # target in component A: component-B sources never materialize
    comp_a = [(0, 1), (1, 0)]
    comp_b = [(10, 11), (11, 10)]
    res = ppr_contributions(_edf(spark, comp_a + comp_b), target=1,
                            eps_push=1e-5)
    touched = {r["id"] for r in res.estimates.collect()}
    assert touched == {0, 1}


def test_local_community_two_cliques(spark):
    from pagerank_spark.operators.push import local_community

    # two K4 cliques joined by one bridge; seed in clique A must
    # recover exactly clique A with the known conductance 1/13
    # (cut=1, vol(A) = 3+3+3+4 = 13 simple degrees)
    a = [0, 1, 2, 3]
    b = [10, 11, 12, 13]
    und = []
    for grp in (a, b):
        for i in grp:
            for j in grp:
                if i < j:
                    und += [(i, j), (j, i)]
    und += [(3, 10), (10, 3)]  # bridge
    out = local_community(_edf(spark, und), seed=0, eps_push=1e-6)
    rows = out.collect()
    assert {r["id"] for r in rows} == set(a)
    assert math.isclose(rows[0]["conductance"], 1 / 13, rel_tol=1e-12)


def test_local_community_phi_matches_conductance_operator(spark):
    from pagerank_spark.operators.push import local_community
    from pagerank_spark.operators.labelprop import conductance

    # ring of 3 cliques: the sweep's phi must equal the independent
    # conductance operator's value for the same member set
    cliques = [[0, 1, 2, 3], [10, 11, 12], [20, 21, 22, 23, 24]]
    und = []
    for grp in cliques:
        for i in grp:
            for j in grp:
                if i < j:
                    und += [(i, j), (j, i)]
    for x, y in [(3, 10), (12, 20), (24, 0)]:
        und += [(x, y), (y, x)]
    e = _edf(spark, und)
    comm = local_community(e, seed=20, eps_push=1e-6)
    members = [r["id"] for r in comm.collect()]
    phi_sweep = comm.first()["conductance"]
    labels = spark.createDataFrame(
        [(int(v), 1 if v in members else 0) for v in
         {x for p in und for x in p}],
        "id long, label int",
    )
    phi_ref = {r["label"]: r["conductance"] for r in
               conductance(e, labels).collect()}[1]
    assert math.isclose(phi_sweep, phi_ref, rel_tol=1e-12), (
        phi_sweep, phi_ref, members)


# ---------------------------------------------------------------------------
# corpus divergence
# ---------------------------------------------------------------------------

def _docs_df(spark, texts, start=0):
    return spark.createDataFrame(
        [(start + i, t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )


def test_corpus_divergence_identical_is_zero(spark):
    from pagerank_spark import corpus_divergence

    a = _docs_df(spark, ["the cat sat", "on the mat"])
    row = corpus_divergence(a, a).first()
    assert row["kl_ab"] == 0.0 and row["kl_ba"] == 0.0
    assert row["js_divergence"] == 0.0 and row["total_variation"] == 0.0


def test_corpus_divergence_matches_numpy(spark):
    from pagerank_spark import corpus_divergence
    import numpy as np
    from collections import Counter

    ta = "the quick brown fox jumps over the lazy dog the end".split()
    tb = "la rapida zorra marron salta sobre el perro the la".split()
    a = _docs_df(spark, [" ".join(ta)])
    b = _docs_df(spark, [" ".join(tb)], start=100)
    row = corpus_divergence(a, b, alpha=0.5).first()
    cca, ccb = Counter(ta), Counter(tb)
    vocab = sorted(set(cca) | set(ccb))
    va = np.array([cca[w] for w in vocab], float)
    vb = np.array([ccb[w] for w in vocab], float)
    pa = (va + 0.5) / (va.sum() + 0.5 * len(vocab))
    pb = (vb + 0.5) / (vb.sum() + 0.5 * len(vocab))
    m = (pa + pb) / 2
    assert row["tokens_a"] == len(ta) and row["tokens_b"] == len(tb)
    assert row["vocab_union"] == len(vocab)
    assert math.isclose(row["kl_ab"], (pa * np.log2(pa / pb)).sum(),
                        rel_tol=1e-12)
    js = 0.5 * ((pa * np.log2(pa / m)).sum() + (pb * np.log2(pb / m)).sum())
    assert math.isclose(row["js_divergence"], js, rel_tol=1e-12)
    assert math.isclose(row["total_variation"],
                        0.5 * np.abs(pa - pb).sum(), rel_tol=1e-12)
    assert 0 < row["js_divergence"] <= 1.0
    assert 0 < row["total_variation"] < 1.0


def test_ppr_push_keyed_matches_single_seed(spark):
    from pagerank_spark.operators.push import ppr_push, ppr_push_keyed

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (1, 3)]
    e = _edf(spark, edges)
    keyed = ppr_push_keyed(e, seeds=[0, 2], eps_push=1e-5)
    assert keyed.converged
    got = {(r["seed"], r["id"]): (r["p"], r["r"])
           for r in keyed.estimates.collect()}
    for s in (0, 2):
        solo = ppr_push(e, seed=s, eps_push=1e-5)
        sv = {r["id"]: (r["p"], r["r"]) for r in solo.estimates.collect()}
        kv = {v: pr for (sd, v), pr in got.items() if sd == s}
        assert set(sv) == set(kv)
        for v in sv:
            assert math.isclose(sv[v][0], kv[v][0], rel_tol=1e-12)
            assert math.isclose(sv[v][1], kv[v][1], abs_tol=1e-15)


def test_temporal_durations(spark):
    # 0 -> 1 departs t=2 lands t=5 (dur 3); 1 -> 2 departs t=4 < 5:
    # unusable; 1 -> 2 departs t=6 lands t=6 (dur 0): arrival 6
    te = spark.createDataFrame(
        [(0, 1, 2, 3), (1, 2, 4, 1), (1, 2, 6, 0)],
        "src long, dst long, t long, dur long",
    )
    got = {r["id"]: r["arrival"] for r in
           temporal_reachability(te, sources=[0],
                                 duration_col="dur").collect()}
    assert got == {0: 0, 1: 5, 2: 6}


def test_triangle_null_samples(spark):
    from pagerank_spark import triangle_null_samples

    # K4 (12 directed rows) has 4 triangles; degree-preserving rewires
    # of a multigraph rarely keep all of them, and the row is
    # deterministic: same seed -> same samples
    und = []
    for i in range(4):
        for j in range(4):
            if i != j:
                und.append((i, j))
    e = spark.createDataFrame(
        [(k, s, d) for k, (s, d) in enumerate(und)],
        "eid long, src long, dst long",
    )
    r1 = triangle_null_samples(e, n_samples=3, seed=5).first()
    r2 = triangle_null_samples(e, n_samples=3, seed=5).first()
    assert r1["observed"] == 4
    assert tuple(r1) == tuple(r2)  # fully deterministic
    assert r1["null_mean"] >= 0 and r1["null_std"] >= 0
    for i in range(3):
        assert 0 <= r1[f"sample_{i}"] <= 4 + 12  # bounded by rewire size


def test_hitting_time_weighted(spark):
    # weights 3:1 on 0->1 / 0->2; target {1}: vertex 2 dangles so
    # h_k(2) = k and h_10(0) = 1 + (1/4)*h_9(2) = 1 + 9/4
    te = spark.createDataFrame(
        [(0, 1, 3.0), (0, 2, 1.0)], "src long, dst long, weight double")
    got = {r["id"]: r["hitting"] for r in
           hitting_time(te, targets=[1], horizon=10,
                        weight_col="weight").collect()}
    assert got[1] == 0.0 and got[2] == 10.0
    assert math.isclose(got[0], 1 + 9 / 4, rel_tol=1e-12)


# ---------------------------------------------------------------------------
# hashed histograms / drift
# ---------------------------------------------------------------------------

def test_hashed_histogram_counts(spark):
    from pagerank_spark import hashed_token_histogram

    docs = _docs_df(spark, ["a b a", "b c"])
    h = hashed_token_histogram(docs, n_buckets=8, hash_fn="md5")
    rows = h.collect()
    assert sum(r["c"] for r in rows) == 5  # every token lands once
    assert all(0 <= r["bucket"] < 8 for r in rows)
    # deterministic across partitionings
    h2 = hashed_token_histogram(docs.repartition(5), n_buckets=8,
                                hash_fn="md5")
    assert sorted(map(tuple, rows)) == sorted(map(tuple, h2.collect()))


def test_hashed_divergence_bounds_exact(spark):
    from pagerank_spark import (
        corpus_divergence, hashed_divergence, hashed_token_histogram,
    )

    # token counts must dominate the alpha*B smoothing mass for the
    # hashed statistic to read through (true by construction on a real
    # stream: tokens >> buckets) — repeat the docs to get there
    a = _docs_df(
        spark, ["the quick brown fox jumps over the lazy dog"] * 200)
    b = _docs_df(
        spark, ["la rapida zorra salta sobre el perro perezoso"] * 200,
        start=1000)
    exact = corpus_divergence(a, b).first()
    B = 64
    ha = hashed_token_histogram(a, n_buckets=B, hash_fn="md5")
    hb = hashed_token_histogram(b, n_buckets=B, hash_fn="md5")
    hashed = hashed_divergence(ha, hb, n_buckets=B).first()
    # identical histograms -> zero
    zero = hashed_divergence(ha, ha, n_buckets=B).first()
    assert zero["js_divergence"] == 0.0 and zero["total_variation"] == 0.0
    # disjoint-language corpora: both statistics near their maxima,
    # and hashing can only merge mass (lower-bounds the exact TV)
    assert 0 < hashed["total_variation"] <= exact["total_variation"] + 1e-9
    assert hashed["total_variation"] > 0.8
    assert hashed["js_divergence"] > 0.5


def test_streaming_histogram_equals_batch(spark, tmp_path):
    from pagerank_spark import hashed_token_histogram
    from pagerank_spark.streaming.dedup import read_docs_stream
    from pagerank_spark.streaming.drift import streaming_token_histogram
    import uuid

    docs = _docs_df(spark, ["alpha beta", "beta gamma delta",
                            "alpha alpha", "gamma"])
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    stream = read_docs_stream(spark, src)
    hist = streaming_token_histogram(
        stream, window_expr=__import__("pyspark").sql.functions.col("doc_id") % 2,
        n_buckets=16, hash_fn="md5",
    )
    name = "t_drift_" + uuid.uuid4().hex[:8]
    q = (hist.writeStream.format("memory").queryName(name)
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted(map(tuple, spark.table(name).collect()))
    batch = hashed_token_histogram(
        docs.withColumn("win", F.col("doc_id") % 2),
        n_buckets=16, hash_fn="md5", group_cols=["win"],
    )
    want = sorted(map(tuple, batch.select("win", "bucket", "c").collect()))
    assert got == want

"""Katz / eigenvector / closeness / betweenness vs dense driver oracles.

Oracles are straight textbook implementations (NumPy power series,
per-pivot BFS, Brandes with explicit predecessor sums) over the same
multigraph semantics the engine pins: duplicate edges carry
multiplicity everywhere — in the gather sums AND in shortest-path
counts (two parallel edges = two distinct paths).
"""

from __future__ import annotations

from collections import deque

import numpy as np
import pytest


def _random_pairs(seed: int, n: int, e: int):
    rng = np.random.RandomState(seed)
    return [(int(a), int(b)) for a, b in rng.randint(0, n, size=(e, 2))]


def _near_complete_pairs():
    """K_10 (self-loops included) 50 times over plus ten random pairs:
    power iteration and HITS reach an L1 delta of 1e-12 in 4 rounds."""
    full = [(s, d) for s in range(10) for d in range(10)]
    return full * 50 + _random_pairs(0, 10, 10)


def _dense(pairs):
    ids = sorted({x for p in pairs for x in p})
    idx = {v: i for i, v in enumerate(ids)}
    A = np.zeros((len(ids), len(ids)))
    for s, d in pairs:
        A[idx[s], idx[d]] += 1
    return ids, idx, A


def test_katz_matches_numpy(spark):
    pairs = _random_pairs(31, 30, 150)
    from pagerank_spark.operators.centrality import katz_centrality

    e = spark.createDataFrame(pairs, "src long, dst long")
    got = {r["id"]: r["katz"] for r in katz_centrality(e, alpha=0.05, beta=1.0, max_iter=6).collect()}
    ids, idx, A = _dense(pairs)
    x = np.ones(len(ids))
    for _ in range(6):
        x = 1.0 + 0.05 * (A.T @ x)
    assert all(abs(got[v] - x[idx[v]]) < 1e-9 for v in ids)


def test_katz_weighted_and_tol(spark):
    pairs = _random_pairs(7, 20, 80)
    rows = [(s, d, 1.0 + ((s + d) % 3)) for s, d in pairs]
    from pagerank_spark.operators.centrality import katz_centrality

    e = spark.createDataFrame(rows, "src long, dst long, w double")
    got = {
        r["id"]: r["katz"]
        for r in katz_centrality(
            e, alpha=0.01, beta=2.0, max_iter=50, tol=1e-12, weight_col="w"
        ).collect()
    }
    ids = sorted({x for s, d, _ in rows for x in (s, d)})
    idx = {v: i for i, v in enumerate(ids)}
    W = np.zeros((len(ids), len(ids)))
    for s, d, w in rows:
        W[idx[s], idx[d]] += w
    x = np.full(len(ids), 2.0)
    for _ in range(200):
        x = 2.0 + 0.01 * (W.T @ x)
    assert all(abs(got[v] - x[idx[v]]) < 1e-9 for v in ids)


def test_eigenvector_matches_numpy(spark):
    """Fixed rounds, and ``tol`` run to the power-iteration fixpoint."""
    from pagerank_spark.operators.centrality import eigenvector_centrality

    for pairs, max_iter, tol, rounds in (
        (_random_pairs(11, 25, 120), 8, None, 8),
        (_near_complete_pairs(), 200, 1e-12, 500),
    ):
        e = spark.createDataFrame(pairs, "src long, dst long")
        got = {
            r["id"]: r["eigenvector"]
            for r in eigenvector_centrality(
                e, max_iter=max_iter, tol=tol
            ).collect()
        }
        ids, idx, A = _dense(pairs)
        x = np.ones(len(ids))
        for _ in range(rounds):
            x = A.T @ x
            n = np.sqrt((x * x).sum())
            x = x / n if n > 0 else x
        assert all(abs(got[v] - x[idx[v]]) < 1e-9 for v in ids)


@pytest.mark.parametrize(
    "cutoff, join", [(30, "BroadcastHashJoin"), (29, "ShuffledHashJoin")]
)
def test_katz_gather_join_follows_score_side_cutoff(
    spark, monkeypatch, cutoff, join
):
    """A 30-vertex score side broadcasts at a cutoff of 30 and
    shuffle-hashes against the partitioned edge copy at 29."""
    from pagerank_spark.operators import centrality
    from pagerank_spark.plans import gather, plan_has

    seen = []
    real = centrality.gather_sum

    def spy(*args, **kwargs):
        seen.append(real(*args, **kwargs))
        return seen[-1]

    monkeypatch.setattr(gather, "BROADCAST_MAX_V", cutoff)
    monkeypatch.setattr(centrality, "gather_sum", spy)
    e = spark.createDataFrame(
        [(i, (i + 1) % 30) for i in range(30)], "src long, dst long"
    )
    centrality.katz_centrality(e, max_iter=1)
    other = {"BroadcastHashJoin", "ShuffledHashJoin"} - {join}
    assert plan_has(seen[0], join)
    assert not plan_has(seen[0], other.pop())


@pytest.mark.parametrize(
    "module, call",
    [
        ("centrality", lambda m, e: m.katz_centrality(e, max_iter=3)),
        ("centrality", lambda m, e: m.eigenvector_centrality(e, max_iter=3)),
        ("centrality",
         lambda m, e: m.personalized_pagerank_keyed(e, [0, 3], iters=3)),
        ("hits", lambda m, e: m.hits(e, max_iter=3)),
        ("pagerank", lambda m, e: m.pagerank(e, mode="join", max_iter=3)),
    ],
    ids=["katz", "eigenvector", "ppr_keyed", "hits", "pagerank_join"],
)
def test_failed_gather_leaves_no_cached_edges(spark, monkeypatch, module, call):
    """A failure inside the loop still unpersists the operator's edge
    caches (and join-PageRank's dangling set)."""
    import importlib

    mod = importlib.import_module(f"pagerank_spark.operators.{module}")

    def boom(*_args, **_kwargs):
        raise RuntimeError("injected gather failure")

    monkeypatch.setattr(mod, "gather_sum", boom)
    e = spark.createDataFrame(_random_pairs(5, 12, 40), "src long, dst long")
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="injected gather failure"):
        call(mod, e)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _bfs_dists(adj, s):
    dist = {s: 0}
    q = deque([s])
    while q:
        u = q.popleft()
        for v in adj.get(u, {}):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


def _multi_adj(pairs):
    adj: dict[int, dict[int, int]] = {}
    for s, d in pairs:
        adj.setdefault(s, {})
        adj[s][d] = adj[s].get(d, 0) + 1
    return adj


def test_closeness_pivots_matches_bfs(spark):
    pairs = _random_pairs(3, 40, 130)
    from pagerank_spark.operators.paths import closeness_centrality

    e = spark.createDataFrame(pairs, "src long, dst long")
    pivots = [0, 1, 2, 5, 9]
    got = {
        r["id"]: r["closeness"]
        for r in closeness_centrality(e, pivots).collect()
    }
    adj = _multi_adj(pairs)
    sums: dict[int, list[int]] = {}
    for p in set(pivots):
        for v, d in _bfs_dists(adj, p).items():
            if d > 0:
                sums.setdefault(v, []).append(d)
    want = {v: len(ds) / sum(ds) for v, ds in sums.items()}
    assert set(got) == set(want)
    assert all(abs(got[v] - want[v]) < 1e-12 for v in want)


def _brandes(adj, ids, sources):
    """Directed multigraph Brandes dependency sums (Brandes 2001,
    Alg. 1), parallel edges as distinct paths."""
    bc = {v: 0.0 for v in ids}
    for s in sources:
        sigma = {v: 0.0 for v in ids}
        dist = {v: -1 for v in ids}
        sigma[s], dist[s] = 1.0, 0
        order, q = [], deque([s])
        while q:
            u = q.popleft()
            order.append(u)
            for v, m in adj.get(u, {}).items():
                if dist[v] < 0:
                    dist[v] = dist[u] + 1
                    q.append(v)
                if dist[v] == dist[u] + 1:
                    sigma[v] += m * sigma[u]
        delta = {v: 0.0 for v in ids}
        for u in reversed(order):
            for v, m in adj.get(u, {}).items():
                if dist[v] == dist[u] + 1:
                    delta[u] += m * sigma[u] / sigma[v] * (1.0 + delta[v])
            if u != s:
                bc[u] += delta[u]
    return bc


def test_betweenness_exact_all_pivots(spark):
    pairs = _random_pairs(13, 18, 60)
    from pagerank_spark.operators.centrality import betweenness_centrality

    e = spark.createDataFrame(pairs, "src long, dst long")
    ids = sorted({x for p in pairs for x in p})
    got = {
        r["id"]: r["betweenness"]
        for r in betweenness_centrality(e, pivots=ids).collect()
    }
    adj = _multi_adj(pairs)
    want = _brandes(adj, ids, ids)
    for v in ids:
        assert abs(got.get(v, 0.0) - want[v]) < 1e-9, v


def test_betweenness_pivot_subset_and_normalized(spark):
    pairs = _random_pairs(23, 25, 90)
    from pagerank_spark.operators.centrality import betweenness_centrality

    e = spark.createDataFrame(pairs, "src long, dst long")
    ids = sorted({x for p in pairs for x in p})
    pivots = ids[:5]
    got = {
        r["id"]: r["betweenness"]
        for r in betweenness_centrality(e, pivots=pivots).collect()
    }
    adj = _multi_adj(pairs)
    want = _brandes(adj, ids, pivots)
    for v in ids:
        assert abs(got.get(v, 0.0) - want[v]) < 1e-9, v
    norm = {
        r["id"]: r["betweenness"]
        for r in betweenness_centrality(
            e, pivots=pivots, normalized=True
        ).collect()
    }
    denom = len(pivots) * (len(ids) - 2)
    for v in norm:
        assert abs(norm[v] - got[v] / denom) < 1e-12


def test_betweenness_path_graph_known_values(spark):
    # 0→1→2→3: interior vertices carry (pairs passing through them)
    from pagerank_spark.operators.centrality import betweenness_centrality

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long"
    )
    got = {
        r["id"]: r["betweenness"]
        for r in betweenness_centrality(e, pivots=[0, 1, 2, 3]).collect()
    }
    # v=1 lies on 0→2, 0→3; v=2 on 0→3, 1→3
    assert got == {1: 2.0, 2: 2.0}


def test_centrality_empty_and_errors(spark):
    from pagerank_spark.operators.centrality import (
        betweenness_centrality,
        brandes_forward,
        katz_centrality,
    )

    empty = spark.createDataFrame([], "src long, dst long")
    assert katz_centrality(empty, max_iter=2).count() == 0
    assert betweenness_centrality(empty, pivots=[0]).count() == 0
    with pytest.raises(ValueError):
        brandes_forward(empty, [])


def test_contract_graph_semantics(spark):
    from pagerank_spark.operators.cooccur import contract_graph

    e = spark.createDataFrame(
        [(0, 1), (0, 1), (1, 2), (2, 3), (3, 0), (4, 4)],
        "src long, dst long",
    )
    # communities: {0,1} -> 10, {2,3} -> 20; 4 unlabeled (keeps own id)
    labels = spark.createDataFrame(
        [(0, 10), (1, 10), (2, 20), (3, 20)], "id long, label long"
    )
    got = {
        (r["src"], r["dst"]): r["weight"]
        for r in contract_graph(e, labels).collect()
    }
    assert got == {(10, 10): 2, (10, 20): 1, (20, 20): 1, (20, 10): 1, (4, 4): 1}
    no_self = {
        (r["src"], r["dst"]): r["weight"]
        for r in contract_graph(e, labels, drop_self=True).collect()
    }
    assert no_self == {(10, 20): 1, (20, 10): 1}
    # weighted: sum the weight column instead of counting
    ew = spark.createDataFrame(
        [(0, 1, 2.5), (0, 1, 1.5), (2, 3, 1.0)], "src long, dst long, w double"
    )
    ws = {
        (r["src"], r["dst"]): r["weight"]
        for r in contract_graph(ew, labels, weight_col="w").collect()
    }
    assert ws == {(10, 10): 4.0, (20, 20): 1.0}


def test_degree_assortativity_vs_numpy(spark):
    from pagerank_spark.operators.degrees import degree_assortativity

    pairs = _random_pairs(41, 25, 140)
    e = spark.createDataFrame(pairs, "src long, dst long")
    got = degree_assortativity(e).collect()[0]["assortativity"]
    od: dict[int, int] = {}
    idg: dict[int, int] = {}
    for s, d in pairs:
        od[s] = od.get(s, 0) + 1
        idg[d] = idg.get(d, 0) + 1
    x = np.array([od[s] for s, _ in pairs], dtype=float)
    y = np.array([idg[d] for _, d in pairs], dtype=float)
    want = np.corrcoef(x, y)[0, 1]
    assert abs(got - want) < 1e-9
    # regular graph: zero variance on both sides -> NULL
    ring = spark.createDataFrame(
        [(i, (i + 1) % 5) for i in range(5)], "src long, dst long"
    )
    assert degree_assortativity(ring).collect()[0]["assortativity"] is None


def test_tfidf_top_terms_vs_python(spark):
    import math

    from pagerank_spark.operators.textstats import tfidf_top_terms

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat"),
        (3, "cat dog cat"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r["doc_id"], r["pos"], r["term"], r["tf"], r["df"], r["tfidf"])
        for r in tfidf_top_terms(docs, k=2).orderBy("doc_id", "pos").collect()
    ]
    tf: dict[tuple[int, str], int] = {}
    for i, t in rows:
        for w in t.lower().split():
            tf[(i, w)] = tf.get((i, w), 0) + 1
    df: dict[str, int] = {}
    for (_, w) in tf:
        df[w] = df.get(w, 0) + 1
    n = len(rows)
    want = []
    for i, _ in rows:
        terms = [
            (w, c, df[w], c * (math.log((n + 1) / (df[w] + 1)) + 1))
            for (d, w), c in tf.items() if d == i
        ]
        terms.sort(key=lambda t: (-t[3], t[0]))
        for pos, (w, c, dfw, s) in enumerate(terms[:2], 1):
            want.append((i, pos, w, c, dfw, s))
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:5] == w[:5], (g, w)
        assert abs(g[5] - w[5]) < 1e-12


def _sync_moves_oracle(pairs, rounds):
    """Synchronous Louvain local-move replay (simple undirected graph,
    same gain formula and (gain, -label) argmax as the engine)."""
    edges = {(min(s, d), max(s, d)) for s, d in pairs if s != d}
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    k = {v: float(len(nb)) for v, nb in adj.items()}
    W = float(len(edges))
    lab = {v: v for v in adj}
    for _ in range(rounds):
        tot: dict[int, float] = {}
        for v, c in lab.items():
            tot[c] = tot.get(c, 0.0) + k[v]
        new = {}
        for v in adj:
            cand: dict[int, float] = {lab[v]: 0.0}
            for u in adj[v]:
                cand[lab[u]] = cand.get(lab[u], 0.0) + 1.0
            best = None
            for c, kvc in cand.items():
                t = tot[c] - (k[v] if c == lab[v] else 0.0)
                gain = kvc - k[v] * t / (2.0 * W)
                key = (gain, -c)
                if best is None or key > best[0]:
                    best = (key, c)
            new[v] = best[1]
        if new == lab:
            break
        lab = new
    return lab


def test_greedy_modularity_moves_matches_oracle(spark):
    from pagerank_spark.operators.labelprop import greedy_modularity_moves

    pairs = _random_pairs(53, 30, 100)
    e = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r["id"]: r["label"]
        for r in greedy_modularity_moves(e, max_iter=4).collect()
    }
    want = _sync_moves_oracle(pairs, 4)
    assert got == want


def test_greedy_modularity_moves_finds_cliques(spark):
    import itertools

    from pagerank_spark.operators.labelprop import (
        greedy_modularity_moves,
        modularity,
    )

    # two 5-cliques joined by one bridge edge
    c1, c2 = range(0, 5), range(5, 10)
    pairs = (
        list(itertools.combinations(c1, 2))
        + list(itertools.combinations(c2, 2))
        + [(0, 5)]
    )
    e = spark.createDataFrame(pairs, "src long, dst long")
    lab = greedy_modularity_moves(e, max_iter=6)
    got = {r["id"]: r["label"] for r in lab.collect()}
    assert len({got[v] for v in c1}) == 1
    assert len({got[v] for v in c2}) == 1
    assert got[0] != got[5]
    q = modularity(e, lab).collect()[0]["modularity"]
    q0 = modularity(
        e, e.sparkSession.createDataFrame(
            [(v, v) for v in range(10)], "id long, label long"
        ),
    ).collect()[0]["modularity"]
    assert q > q0  # better than the singleton partition


def test_greedy_moves_alternate_settles_triangles(spark):
    import itertools

    from pagerank_spark.operators.labelprop import greedy_modularity_moves

    # bare triangles ping-pong under all-at-once moves; alternating
    # parity scheduling settles them
    pairs = (
        list(itertools.combinations([0, 1, 2], 2))
        + list(itertools.combinations([3, 4, 5], 2))
        + [(2, 3)]
    )
    e = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r["id"]: r["label"]
        for r in greedy_modularity_moves(e, max_iter=8, alternate=True).collect()
    }
    assert len({got[v] for v in (0, 1, 2)}) == 1
    assert len({got[v] for v in (3, 4, 5)}) == 1
    assert got[0] != got[3]


def _truss_oracle(pairs, k):
    """Driver peel: recompute per-edge triangle support, drop, repeat."""
    edges = {(min(s, d), max(s, d)) for s, d in pairs if s != d}
    while True:
        adj: dict[int, set[int]] = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        sup = {
            e: len(adj[e[0]] & adj[e[1]]) for e in edges
        }
        nxt = {e for e in edges if sup[e] >= k - 2}
        if nxt == edges:
            return edges
        edges = nxt


def test_k_truss_vs_peeling_oracle(spark):
    from pagerank_spark.operators.cores import k_truss

    pairs = _random_pairs(61, 20, 120)
    e = spark.createDataFrame(pairs, "src long, dst long")
    for k in (3, 4, 5):
        got = {(r["a"], r["b"]) for r in k_truss(e, k).collect()}
        assert got == _truss_oracle(pairs, k), k
    # k<=2: the whole simple edge set
    simple = {(min(s, d), max(s, d)) for s, d in pairs if s != d}
    assert {(r["a"], r["b"]) for r in k_truss(e, 2).collect()} == simple


def test_k_truss_clique_and_empty(spark):
    import itertools

    from pagerank_spark.operators.cores import k_truss

    # a 5-clique is a 5-truss; adding a pendant edge doesn't survive k=3
    pairs = list(itertools.combinations(range(5), 2)) + [(4, 9)]
    e = spark.createDataFrame(pairs, "src long, dst long")
    got5 = {(r["a"], r["b"]) for r in k_truss(e, 5).collect()}
    assert got5 == set(itertools.combinations(range(5), 2))
    assert k_truss(e, 6).count() == 0
    got3 = {(r["a"], r["b"]) for r in k_truss(e, 3).collect()}
    assert (4, 9) not in got3


def test_new_single_pass_ops_no_cartesian(spark):
    """The one-shot operators must plan as hash joins + aggregates —
    never a CartesianProduct (the only nested-loop allowed is the
    1-row broadcast scalar in assortativity/tfidf)."""
    from pagerank_spark.operators.cooccur import contract_graph
    from pagerank_spark.operators.degrees import degree_assortativity
    from pagerank_spark.operators.textstats import tfidf_top_terms
    from pagerank_spark.plans.inspect import explain_summary

    pairs = _random_pairs(71, 15, 50)
    e = spark.createDataFrame(pairs, "src long, dst long")
    labels = spark.createDataFrame(
        [(i, i % 3) for i in range(15)], "id long, label long"
    )
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d")], "doc_id long, text string"
    )
    for df in (
        contract_graph(e, labels),
        degree_assortativity(e),
        tfidf_top_terms(docs, k=2),
    ):
        plan = explain_summary(df)
        assert "CartesianProduct" not in plan


def _brandes_edges(adj, ids, sources):
    """Per-EDGE dependency sums (Girvan-Newman scores), multiplicities
    as distinct parallel paths — each instance carries the same share."""
    ebc: dict[tuple[int, int], float] = {}
    for s in sources:
        sigma = {v: 0.0 for v in ids}
        dist = {v: -1 for v in ids}
        sigma[s], dist[s] = 1.0, 0
        order, q = [], deque([s])
        while q:
            u = q.popleft()
            order.append(u)
            for v, m in adj.get(u, {}).items():
                if dist[v] < 0:
                    dist[v] = dist[u] + 1
                    q.append(v)
                if dist[v] == dist[u] + 1:
                    sigma[v] += m * sigma[u]
        delta = {v: 0.0 for v in ids}
        for u in reversed(order):
            for v, m in adj.get(u, {}).items():
                if dist[v] == dist[u] + 1:
                    delta[u] += m * sigma[u] / sigma[v] * (1.0 + delta[v])
        for u in order:
            for v, m in adj.get(u, {}).items():
                if dist[v] == dist[u] + 1:
                    ebc[(u, v)] = ebc.get((u, v), 0.0) + m * sigma[u] / sigma[v] * (
                        1.0 + delta[v]
                    )
    return ebc


def test_edge_betweenness_exact_all_pivots(spark):
    from pagerank_spark.operators.centrality import edge_betweenness

    pairs = _random_pairs(83, 16, 50)
    e = spark.createDataFrame(pairs, "src long, dst long")
    ids = sorted({x for p in pairs for x in p})
    got = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness(e, pivots=ids).collect()
    }
    adj = _multi_adj(pairs)
    want = _brandes_edges(adj, ids, ids)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, k


def test_edge_betweenness_bridge_dominates(spark):
    import itertools

    from pagerank_spark.operators.centrality import edge_betweenness

    # two directed cliques with one bridge: the bridge edge carries
    # every cross-clique shortest path
    c1, c2 = list(range(4)), list(range(4, 8))
    pairs = (
        [(a, b) for a, b in itertools.permutations(c1, 2)]
        + [(a, b) for a, b in itertools.permutations(c2, 2)]
        + [(0, 4)]
    )
    e = spark.createDataFrame(pairs, "src long, dst long")
    ids = c1 + c2
    got = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness(e, pivots=ids).collect()
    }
    assert max(got, key=got.get) == (0, 4)


def test_weighted_multi_source_matches_sssp(spark):
    from pagerank_spark.operators.paths import (
        closeness_centrality,
        multi_source_bfs,
        shortest_paths,
    )

    pairs = _random_pairs(91, 20, 70)
    rows = [(s, d, float(1 + (s + d) % 3)) for s, d in pairs]
    e = spark.createDataFrame(rows, "src long, dst long, w double")
    pivots = [0, 3, 7]
    keyed = {
        (r["source"], r["id"]): r["dist"]
        for r in multi_source_bfs(e, pivots, weight_col="w").collect()
    }
    for p in pivots:
        solo = {
            r["id"]: r["dist"]
            for r in shortest_paths(e, [p], weight_col="w").collect()
        }
        mine = {i: d for (s, i), d in keyed.items() if s == p}
        assert mine == solo, p
    cl = {
        r["id"]: r["closeness"]
        for r in closeness_centrality(e, pivots, weight_col="w").collect()
    }
    want = {}
    for (s, i), d in keyed.items():
        if d > 0:
            want.setdefault(i, []).append(d)
    for i, ds in want.items():
        assert abs(cl[i] - len(ds) / sum(ds)) < 1e-12


def test_wl_colors_separate_roles(spark):
    from pagerank_spark.operators.wl import wl_colors, wl_fingerprint

    # a path 0-1-2-3-4: ends {0,4} same role, next-to-ends {1,3} same,
    # center {2} its own — exactly three colors after 2 rounds
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    got = {r["id"]: r["color"] for r in wl_colors(e, rounds=2).collect()}
    assert got[0] == got[4] and got[1] == got[3]
    assert len({got[0], got[1], got[2]}) == 3
    # isomorphic relabeling -> identical fingerprint
    e2 = spark.createDataFrame(
        [(10, 7), (7, 99), (99, 3), (3, 52)], "src long, dst long"
    )
    f1 = wl_fingerprint(e, rounds=3).collect()[0]
    f2 = wl_fingerprint(e2, rounds=3).collect()[0]
    assert (f1["fingerprint"], f1["n_colors"]) == (f2["fingerprint"], f2["n_colors"])
    # non-isomorphic same-size graphs -> different fingerprints
    star = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4)], "src long, dst long"
    )
    f3 = wl_fingerprint(star, rounds=3).collect()[0]
    assert (f3["fingerprint"], f3["n_colors"]) != (f1["fingerprint"], f1["n_colors"])


def test_wl_multiplicity_and_md5_mode(spark):
    from pagerank_spark.operators.wl import wl_colors

    # doubled edge changes the refinement: after round 1 vertex 0 has
    # degree 2 in both graphs (same color — correct 1-WL), but round 2
    # sees {deg-2 nbr, deg-2 nbr} vs {deg-1 nbr, deg-1 nbr} and splits
    a = spark.createDataFrame([(0, 1), (0, 1)], "src long, dst long")
    b = spark.createDataFrame([(0, 1), (0, 2)], "src long, dst long")
    ca1 = {r["id"]: r["color"] for r in wl_colors(a, rounds=1, hash_fn="md5").collect()}
    cb1 = {r["id"]: r["color"] for r in wl_colors(b, rounds=1, hash_fn="md5").collect()}
    assert ca1[0] == cb1[0]  # degree-only at round 1
    ca2 = {r["id"]: r["color"] for r in wl_colors(a, rounds=2, hash_fn="md5").collect()}
    cb2 = {r["id"]: r["color"] for r in wl_colors(b, rounds=2, hash_fn="md5").collect()}
    assert ca2[0] != cb2[0]
    assert cb2[1] == cb2[2]


def test_hyper_anf_tracks_exact(spark):
    from pagerank_spark.operators.anf import hyper_anf
    from pagerank_spark.operators.paths import neighborhood_function

    pairs = _random_pairs(101, 60, 140)
    e = spark.createDataFrame(pairs, "src long, dst long")
    exact = {
        r["radius"]: r["pairs"]
        for r in neighborhood_function(e).collect()
    }
    approx = {
        r["radius"]: r["pairs_est"] for r in hyper_anf(e, p=12).collect()
    }
    # sketch curve tracks the exact one within HLL error at p=12
    for radius, n_exact in exact.items():
        if radius in approx:
            assert abs(approx[radius] - n_exact) / n_exact < 0.08, (
                radius, n_exact, approx[radius],
            )
    # final plateau reached (stopping rule fired at/before exact max)
    assert max(approx) <= max(exact) + 2
    assert abs(approx[max(approx)] - exact[max(exact)]) / exact[max(exact)] < 0.08


def test_mis_independent_and_maximal(spark):
    from pagerank_spark.operators.mis import maximal_independent_set

    pairs = _random_pairs(111, 30, 90)
    e = spark.createDataFrame(pairs, "src long, dst long")
    s = {r["id"] for r in maximal_independent_set(e).collect()}
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    ids = {x for p in pairs for x in p}
    assert all(not (adj.get(v, set()) & s) for v in s)  # independent
    assert all(v in s or (adj.get(v, set()) & s) for v in ids)  # maximal
    # deterministic: identical across reruns
    s2 = {r["id"] for r in maximal_independent_set(e).collect()}
    assert s == s2


def test_matching_is_matching_and_maximal(spark):
    from pagerank_spark.operators.mis import maximal_matching

    pairs = _random_pairs(222, 30, 90)
    e = spark.createDataFrame(pairs, "src long, dst long")
    m = {(r["a"], r["b"]) for r in maximal_matching(e).collect()}
    simple = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    assert m <= simple  # only real edges
    used: set[int] = set()
    for a, b in m:
        assert a not in used and b not in used  # vertex-disjoint
        used.update((a, b))
    # maximal: every remaining simple edge touches a matched vertex
    assert all(a in used or b in used for a, b in simple)
    # deterministic: identical across reruns
    m2 = {(r["a"], r["b"]) for r in maximal_matching(e).collect()}
    assert m == m2


def test_matching_replays_sequential_greedy(spark):
    """The locally-dominant rule equals sequential greedy over edges
    sorted by (round-1 priority, a, b) ONLY for edges matched in round
    1; later rounds re-draw. Replay the full per-round rule instead."""
    import hashlib

    from pagerank_spark.operators.mis import maximal_matching

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    pairs = _random_pairs(777, 25, 70)
    e = spark.createDataFrame(pairs, "src long, dst long")
    got = {(r["a"], r["b"]) for r in maximal_matching(e, hash_fn="md5").collect()}
    live = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    want: set[tuple[int, int]] = set()
    rnd = 0
    while live:
        rnd += 1
        key = {
            (a, b): (h(f"{a}|{b}|{rnd}"), a, b) for a, b in live
        }
        vmin: dict[int, tuple] = {}
        for (a, b), k in key.items():
            for v in (a, b):
                if v not in vmin or k < vmin[v]:
                    vmin[v] = k
        winners = {
            (a, b)
            for (a, b), k in key.items()
            if vmin[a] == k and vmin[b] == k
        }
        want |= winners
        used = {v for w in winners for v in w}
        live = {(a, b) for a, b in live if a not in used and b not in used}
    assert got == want


def test_topological_levels_dag_and_cycle(spark):
    import warnings

    from pagerank_spark.operators.paths import topological_levels

    e = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3), (0, 4), (4, 5), (5, 3)],
        "src long, dst long",
    )
    got = {r["id"]: r["level"] for r in topological_levels(e).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 4: 1, 5: 2, 3: 3}
    c = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        topological_levels(c, max_iter=5).collect()
    assert any("cycle" in str(x.message) for x in w)


def test_greedy_coloring_proper_and_deterministic(spark):
    from pagerank_spark.operators.mis import greedy_coloring

    pairs = _random_pairs(121, 25, 80)
    e = spark.createDataFrame(pairs, "src long, dst long")
    got = {r["id"]: r["color"] for r in greedy_coloring(e).collect()}
    ids = {x for p in pairs for x in p}
    assert set(got) == ids
    for a, b in pairs:
        if a != b:
            assert got[a] != got[b], (a, b)
    # at most Delta+1 colors
    deg: dict[int, set[int]] = {}
    for a, b in pairs:
        if a != b:
            deg.setdefault(a, set()).add(b)
            deg.setdefault(b, set()).add(a)
    delta = max(len(v) for v in deg.values())
    assert max(got.values()) <= delta
    # deterministic across reruns
    again = {r["id"]: r["color"] for r in greedy_coloring(e).collect()}
    assert got == again
    # isolated-vertices-only graph: everything color 0
    iso = spark.createDataFrame([(7, 7), (9, 9)], "src long, dst long")
    ic = {r["id"]: r["color"] for r in greedy_coloring(iso).collect()}
    assert ic == {7: 0, 9: 0}


def test_densest_subgraph_finds_planted_clique(spark):
    import itertools

    from pagerank_spark.operators.cores import densest_subgraph

    # sparse ring of 30 + a planted 8-clique: the clique (density 3.5)
    # dominates the ring (density 1)
    ring = [(i, (i + 1) % 30) for i in range(30)]
    clique = [(100 + a, 100 + b) for a, b in itertools.combinations(range(8), 2)]
    e = spark.createDataFrame(ring + clique, "src long, dst long")
    got = {r["id"] for r in densest_subgraph(e).collect()}
    assert got == {100 + i for i in range(8)}


def test_densest_subgraph_matches_greedy_oracle(spark):
    from pagerank_spark.operators.cores import densest_subgraph

    pairs = _random_pairs(131, 40, 120)
    e = spark.createDataFrame(pairs, "src long, dst long")
    got = {r["id"] for r in densest_subgraph(e).collect()}

    edges = {(min(s, d), max(s, d)) for s, d in pairs if s != d}
    verts = {x for p in edges for x in p}
    best_density, best = -1.0, set(verts)
    while verts:
        n_e, n_v = len(edges), len(verts)
        density = n_e / n_v
        if density > best_density:
            best_density, best = density, set(verts)
        if n_e == 0:
            break
        thresh = 2.0 * n_e / n_v
        deg: dict[int, int] = {v: 0 for v in verts}
        for a, b in edges:
            deg[a] += 1
            deg[b] += 1
        keep = {v for v in verts if deg[v] > thresh}
        edges = {(a, b) for a, b in edges if a in keep and b in keep}
        verts = {x for p in edges for x in p}
    assert got == best


def test_cooccurrence_weighting_modes(spark):
    from pagerank_spark.operators.cooccur import cooccurrence_graph

    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "c")]
    df = spark.createDataFrame(rows, "k long, i string")
    cnt = {(r["src"], r["dst"]): r["weight"]
           for r in cooccurrence_graph(df, "k", "i").collect()}
    assert cnt == {("a", "b"): 2, ("a", "c"): 1}
    jac = {(r["src"], r["dst"]): r["weight"]
           for r in cooccurrence_graph(df, "k", "i", weighting="jaccard").collect()}
    # n_a=3, n_b=2, co=2 -> 2/(3+2-2); n_c=1, co=1 -> 1/(3+1-1)
    assert abs(jac[("a", "b")] - 2 / 3) < 1e-12
    assert abs(jac[("a", "c")] - 1 / 3) < 1e-12
    cos = {(r["src"], r["dst"]): r["weight"]
           for r in cooccurrence_graph(df, "k", "i", weighting="cosine").collect()}
    import math
    assert abs(cos[("a", "b")] - 2 / math.sqrt(6)) < 1e-12
    import pytest as _pytest
    with _pytest.raises(ValueError):
        cooccurrence_graph(df, "k", "i", weighting="dice")


def test_hyper_anf_multibatch_merge(spark):
    """Regression: the per-partition merge must be exact when one
    partition spans MANY Arrow batches (ids not confined to batch
    boundaries) — requires the sortWithinPartitions before the carry
    merge."""
    from pagerank_spark.operators.anf import hyper_anf
    from pagerank_spark.operators.paths import neighborhood_function

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        pairs = _random_pairs(141, 50, 120)
        e = spark.createDataFrame(pairs, "src long, dst long")
        exact = {
            r["radius"]: r["pairs"] for r in neighborhood_function(e).collect()
        }
        approx = {
            r["radius"]: r["pairs_est"]
            for r in hyper_anf(e, p=12, num_partitions=1).collect()
        }
        for radius, n_exact in exact.items():
            if radius in approx:
                assert abs(approx[radius] - n_exact) / n_exact < 0.08, radius
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_seeded_label_propagation(spark):
    import itertools

    from pagerank_spark.operators.labelprop import label_propagation

    # two 4-cliques bridged; seed one vertex per clique with labels
    # 100/200 -> every clique member adopts its seed's label
    c1, c2 = list(range(4)), list(range(4, 8))
    pairs = (
        list(itertools.combinations(c1, 2))
        + list(itertools.combinations(c2, 2))
        + [(3, 4)]
    )
    e = spark.createDataFrame(pairs, "src long, dst long")
    seeds = spark.createDataFrame([(0, 100), (7, 200)], "id long, label long")
    got = {
        r["id"]: r["label"]
        for r in label_propagation(e, max_iter=10, seeds=seeds).collect()
    }
    assert got[0] == 100 and got[7] == 200  # pins held
    assert all(got[v] == 100 for v in c1)
    assert all(got[v] == 200 for v in c2)
    # a vertex unreachable from any seed stays unlabeled (NULL)
    e2 = spark.createDataFrame(pairs + [(20, 21)], "src long, dst long")
    got2 = {
        r["id"]: r["label"]
        for r in label_propagation(e2, max_iter=10, seeds=seeds).collect()
    }
    assert got2[20] is None and got2[21] is None
    # unseeded call unchanged (regression)
    plain = label_propagation(e, max_iter=4)
    assert set(plain.columns) == {"id", "label"}


def test_seeded_lpa_duplicate_seeds_collapse(spark):
    from pagerank_spark.operators.labelprop import label_propagation

    e = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    seeds = spark.createDataFrame(
        [(0, 200), (0, 100)], "id long, label long"
    )
    got = label_propagation(e, max_iter=5, seeds=seeds).collect()
    by_id = {}
    for r in got:
        assert r["id"] not in by_id, "duplicate output row"
        by_id[r["id"]] = r["label"]
    assert by_id[0] == 100  # min-label collapse of the duplicate seeds
    assert by_id[1] == 100 and by_id[2] == 100


def test_skipgram_pairs_from_walks(spark):
    import math

    from pagerank_spark.operators.walks import random_walks, skipgram_pairs

    pairs_in = _random_pairs(151, 15, 45)
    e = spark.createDataFrame(pairs_in, "src long, dst long")
    walks = random_walks(e, 4, 2, seed=7, hash_fn="md5").collect()
    byw: dict[int, dict[int, int]] = {}
    for r in walks:
        byw.setdefault(r["walk_id"], {})[r["step"]] = r["vertex"]
    want: dict[tuple[int, int], int] = {}
    for steps in byw.values():
        for sa, u in steps.items():
            for sb, v in steps.items():
                if sa != sb and abs(sa - sb) <= 2:
                    want[(u, v)] = want.get((u, v), 0) + 1
    got = {
        (r["u"], r["v"]): (r["cnt"], r["ppmi"])
        for r in skipgram_pairs(
            e, 4, window=2, walks_per_vertex=2, seed=7, hash_fn="md5"
        ).collect()
    }
    assert {k: c for k, (c, _) in got.items()} == want
    T = sum(want.values())
    cu: dict[int, int] = {}
    cv: dict[int, int] = {}
    for (u, v), c in want.items():
        cu[u] = cu.get(u, 0) + c
        cv[v] = cv.get(v, 0) + c
    for (u, v), (c, ppmi) in got.items():
        expect = max(math.log(c * T / (cu[u] * cv[v])), 0.0)
        assert abs(ppmi - expect) < 1e-12


def test_keyed_ppr_matches_single_seed_engine(spark):
    from pagerank_spark.operators.centrality import personalized_pagerank_keyed
    from pagerank_spark.operators.pagerank import pagerank

    pairs = _random_pairs(161, 20, 70)
    e = spark.createDataFrame(pairs, "src long, dst long")
    seeds = [0, 3, 7]
    keyed = {
        (r["seed"], r["id"]): r["rank"]
        for r in personalized_pagerank_keyed(e, seeds, iters=8).collect()
    }
    n = len({x for p in pairs for x in p})
    for s in seeds:
        solo = pagerank(
            e, n=None, personalize=[s], dangling="redistribute",
            eps=0.0, max_iter=8,
        ).ranks.collect()
        mine = {i: r for (sd, i), r in keyed.items() if sd == s}
        for row in solo:
            got = mine.get(row["id"], 0.0)
            assert abs(got - row["rank"]) < 1e-9, (s, row["id"])
    # per-seed mass conservation
    import collections
    mass = collections.defaultdict(float)
    for (s, _), r in keyed.items():
        mass[s] += r
    for s in seeds:
        assert abs(mass[s] - 1.0) < 1e-9


def test_hits_weighted_matches_numpy(spark):
    from pagerank_spark.operators.hits import hits

    pairs = _random_pairs(171, 18, 60)
    rows = [(s, d, 1.0 + ((s * 3 + d) % 4)) for s, d in pairs]
    e = spark.createDataFrame(rows, "src long, dst long, w double")
    got = {
        r["id"]: (r["hub"], r["authority"])
        for r in hits(e, max_iter=5, weight_col="w").collect()
    }
    ids = sorted({x for s, d, _ in rows for x in (s, d)})
    idx = {v: i for i, v in enumerate(ids)}
    W = np.zeros((len(ids), len(ids)))
    for s, d, w in rows:
        W[idx[s], idx[d]] += w
    h = np.ones(len(ids))
    for _ in range(5):
        a = W.T @ h
        na = np.sqrt((a * a).sum())
        a = a / na if na > 0 else a
        h = W @ a
        nh = np.sqrt((h * h).sum())
        h = h / nh if nh > 0 else h
    for v in ids:
        assert abs(got[v][0] - h[idx[v]]) < 1e-9
        assert abs(got[v][1] - a[idx[v]]) < 1e-9


def test_weighted_walks_bias_and_determinism(spark):
    from pagerank_spark.operators.walks import random_walks

    # 0 -> {1 (w=9), 2 (w=1)}: over many walk_ids the argmin race picks
    # 1 about 90% of the time; and reruns are byte-identical
    e = spark.createDataFrame(
        [(0, 1, 9), (0, 2, 1)], "src long, dst long, w long"
    )
    w = random_walks(e, 1, walks_per_vertex=400, seed=3, weight_col="w")
    picks = [r["vertex"] for r in w.where("step = 1").collect()]
    frac_heavy = picks.count(1) / len(picks)
    assert 0.82 < frac_heavy < 0.97, frac_heavy
    again = random_walks(e, 1, walks_per_vertex=400, seed=3, weight_col="w")
    assert sorted(map(tuple, w.collect())) == sorted(map(tuple, again.collect()))
    # unweighted path unchanged (regression): same as weight 1 everywhere?
    # (not identical hashes — the copy index enters the key — but valid walks)
    u = random_walks(e.select("src", "dst"), 1, walks_per_vertex=50, seed=3)
    assert u.where("step = 1").count() == 50


def test_weighted_walks_inverse_cdf_matches_python_replay(spark):
    """The inverse-CDF rule, replayed in pure Python from the same md5
    hash: u = h/2^60, pick the first dst (ascending) with cum > u*tot.
    Fractional weights (the cooccurrence jaccard/cosine case) are
    first-class; non-positive weights are excluded."""
    import hashlib

    from pagerank_spark.operators.walks import random_walks

    edges = [
        (0, 1, 0.25), (0, 2, 0.5), (0, 3, 1.75),
        (1, 2, 3.0), (2, 0, 1.0), (2, 3, 0.0),  # 2->3 weight 0: excluded
        (3, 0, -1.0),  # negative: excluded -> 3 is a dead end
    ]
    e = spark.createDataFrame(edges, "src long, dst long, w double")
    seed, length, wpv = 7, 3, 4
    got = {
        (r["walk_id"], r["step"]): r["vertex"]
        for r in random_walks(
            e, length, walks_per_vertex=wpv, seed=seed,
            hash_fn="md5", weight_col="w",
        ).collect()
    }
    adj = {}
    for s, d, w in edges:
        if w > 0:
            adj.setdefault(s, []).append((d, w))
    for s in adj:
        adj[s].sort()
    vertices = {s for s, d, w in edges} | {d for s, d, w in edges}
    want = {}
    for v in sorted(vertices):
        for k in range(wpv):
            wid = v * wpv + k
            cur = v
            want[(wid, 0)] = cur
            for t in range(1, length + 1):
                outs = adj.get(cur)
                if not outs:
                    break
                h = int(
                    hashlib.md5(f"{wid}:{t}:{seed}".encode()).hexdigest()[:15],
                    16,
                )
                u = min(h / float(1 << 60), 1.0 - 2.0**-53)
                tot = sum(w for _, w in outs)
                cum = 0.0
                for d, w in outs:
                    cum += w
                    if cum > u * tot:
                        cur = d
                        break
                want[(wid, t)] = cur
    assert got == want


def test_ppr_keyed_off_graph_seed_is_dangling(spark):
    """A seed absent from the edge list must behave as a dangling
    vertex (its mass returns to itself), keeping per-seed rank sums at
    exactly 1 — and an on-graph seed's ranks must be unaffected by the
    off-graph seed riding along in the same keyed run."""
    from pagerank_spark.operators.centrality import personalized_pagerank_keyed

    from pyspark.sql import functions as F

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "src long, dst long"
    )
    both = personalized_pagerank_keyed(e, [0, 99], iters=8)
    sums = {
        r["seed"]: r["s"]
        for r in both.groupBy("seed").agg(F.sum("rank").alias("s")).collect()
    }
    assert abs(sums[99] - 1.0) < 1e-12
    assert abs(sums[0] - 1.0) < 1e-12
    # the off-graph seed keeps all mass on itself
    r99 = {r["id"]: r["rank"] for r in both.where("seed = 99").collect()}
    assert set(r99) == {99} and abs(r99[99] - 1.0) < 1e-12
    solo = personalized_pagerank_keyed(e, [0], iters=8)
    a = sorted(map(tuple, solo.collect()))
    b = sorted(map(tuple, both.where("seed = 0").select("seed", "id", "rank").collect()))
    assert a == b


def test_brandes_warns_on_truncation(spark):
    """max_iter below the BFS depth leaves a non-empty frontier: the
    forward pass must emit RuntimeWarning (the engine's standard
    non-convergence signal) instead of silently truncating."""
    import warnings

    from pagerank_spark.operators.centrality import brandes_forward

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        brandes_forward(path, [0], max_iter=2).count()
    assert any("max_iter" in str(w.message) for w in rec)
    with warnings.catch_warnings(record=True) as rec2:
        warnings.simplefilter("always")
        brandes_forward(path, [0], max_iter=10).count()
    assert not any(issubclass(w.category, RuntimeWarning) for w in rec2)


def test_node2vec_matches_python_replay_and_bias_limits(spark):
    """node2vec replayed in pure Python (same md5 hash, same bias CASE,
    same CDF rule); and the p/q limits behave: huge p suppresses
    returns, tiny p forces them on a path graph."""
    import hashlib

    from pagerank_spark.operators.walks import node2vec_walks

    edges = [(0, 1), (1, 0), (1, 2), (2, 1), (2, 3), (3, 2), (0, 2)]
    e = spark.createDataFrame(edges, "src long, dst long")
    seed, length, wpv, p, q = 5, 4, 3, 4.0, 0.25
    got = {
        (r["walk_id"], r["step"]): r["vertex"]
        for r in node2vec_walks(
            e, length, p=p, q=q, walks_per_vertex=wpv, seed=seed,
            hash_fn="md5",
        ).collect()
    }
    adj = {}
    und = set()
    for s, d in set(edges):
        adj.setdefault(s, []).append(d)
        und.add((min(s, d), max(s, d)))
    for s in adj:
        adj[s] = sorted(set(adj[s]))
    vertices = sorted({x for ed in edges for x in ed})
    want = {}
    for v in vertices:
        for k in range(wpv):
            wid = v * wpv + k
            prev, cur = None, v
            want[(wid, 0)] = cur
            for t in range(1, length + 1):
                outs = adj.get(cur)
                if not outs:
                    break
                h = int(
                    hashlib.md5(f"{wid}:{t}:{seed}".encode()).hexdigest()[:15],
                    16,
                )
                u = min(h / float(1 << 60), 1.0 - 2.0**-53)
                bw = []
                for d in outs:
                    if prev is None:
                        bw.append(1.0)
                    elif d == prev:
                        bw.append(1.0 / p)
                    elif (min(prev, d), max(prev, d)) in und:
                        bw.append(1.0)
                    else:
                        bw.append(1.0 / q)
                tot = sum(bw)
                cum = 0.0
                for d, w in zip(outs, bw):
                    cum += w
                    if cum > u * tot:
                        prev, cur = cur, d
                        break
                want[(wid, t)] = cur
    assert got == want
    # limit behavior on a path: from 1 (prev=0), p=100 makes the walk
    # avoid returning to 0 whenever an alternative exists
    path = spark.createDataFrame([(0, 1), (1, 0), (1, 2)], "src long, dst long")
    w = node2vec_walks(path, 1, p=100.0, q=1.0, walks_per_vertex=1, seed=1)
    assert w.count() > 0


def test_simrank_matches_dense_reference(spark):
    """Sparse pair-frame SimRank equals the dense textbook recursion."""
    import numpy as np
    from pagerank_spark.operators.simrank import simrank

    E = [(0, 2), (1, 2), (0, 3), (1, 3), (2, 4), (3, 4), (4, 0), (3, 0),
         (2, 1)]
    n, C, K = 5, 0.8, 4
    In = [[] for _ in range(n)]
    for s, d in set(E):
        In[d].append(s)
    S = np.eye(n)
    for _ in range(K):
        S2 = np.eye(n)
        for a in range(n):
            for b in range(n):
                if a != b and In[a] and In[b]:
                    tot = sum(S[i][j] for i in In[a] for j in In[b])
                    S2[a][b] = C * tot / (len(In[a]) * len(In[b]))
        S = S2
    e = spark.createDataFrame(E, "src long, dst long")
    got = {(r["a"], r["b"]): r["score"]
           for r in simrank(e, c=C, iters=K).collect()}
    for a in range(n):
        for b in range(a + 1, n):
            assert abs(S[a][b] - got.get((a, b), 0.0)) < 1e-12
    # pruning only removes below-eps pairs, never changes survivors'
    # membership semantics
    pruned = simrank(e, c=C, iters=K, prune_eps=0.1).collect()
    assert all(r["score"] >= 0.1 for r in pruned)


def test_spam_mass_unreached_component(spark):
    """Vertices unreachable from the trusted seeds carry full relative
    spam mass; trust and rank both sum to ~1."""
    from pagerank_spark.operators.centrality import spam_mass

    # component A: 0->1->2->0 (seed 0); component B: 3->4->3
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 4), (4, 3)], "src long, dst long"
    )
    out = {r["id"]: r for r in spam_mass(e, [0], max_iter=40).collect()}
    assert abs(sum(r["rank"] for r in out.values()) - 1.0) < 1e-6
    assert abs(sum(r["trust"] for r in out.values()) - 1.0) < 1e-6
    for v in (3, 4):
        assert out[v]["trust"] < 1e-12
        assert abs(out[v]["rel_spam_mass"] - 1.0) < 1e-9
    for v in (0, 1, 2):
        assert out[v]["trust"] > out[v]["rank"]  # trust concentrates


def _salsa_power_oracle(pairs, iters=300):
    """Independent SALSA check: power-iterate the actual two-step
    bipartite walks (authority chain a->h->a', hub chain h->a->h')
    from the uniform start. Returns (hub, authority) dicts."""
    from collections import defaultdict

    out_n, in_n = defaultdict(set), defaultdict(set)
    for a, b in pairs:
        if a != b:
            out_n[a].add(b)
            in_n[b].add(a)
    hubs = sorted(out_n)
    auths = sorted(in_n)
    a_vec = {j: 1.0 / len(auths) for j in auths}
    for _ in range(iters):
        nxt = {j: 0.0 for j in auths}
        for j, mass in a_vec.items():
            for h in in_n[j]:
                part = mass / len(in_n[j]) / len(out_n[h])
                for j2 in out_n[h]:
                    nxt[j2] += part
        a_vec = nxt
    h_vec = {i: 1.0 / len(hubs) for i in hubs}
    for _ in range(iters):
        nxt = {i: 0.0 for i in hubs}
        for i, mass in h_vec.items():
            for j in out_n[i]:
                part = mass / len(out_n[i]) / len(in_n[j])
                for i2 in in_n[j]:
                    nxt[i2] += part
        h_vec = nxt
    return h_vec, a_vec


def test_salsa_matches_power_iteration(spark):
    from pagerank_spark.operators.salsa import salsa

    rng = np.random.RandomState(17)
    pairs = [(int(a), int(b)) for a, b in rng.randint(0, 20, size=(60, 2))]
    got = {
        r["id"]: (r["hub"], r["authority"])
        for r in salsa(spark.createDataFrame(pairs, "src long, dst long")
                       ).collect()
    }
    h_vec, a_vec = _salsa_power_oracle(pairs)
    verts = {x for p in pairs for x in p}
    assert set(got) == verts
    for v in verts:
        assert abs(got[v][0] - h_vec.get(v, 0.0)) < 1e-9, ("hub", v)
        assert abs(got[v][1] - a_vec.get(v, 0.0)) < 1e-9, ("auth", v)
    assert abs(sum(h for h, _ in got.values()) - 1.0) < 1e-9
    assert abs(sum(a for _, a in got.values()) - 1.0) < 1e-9


def test_salsa_tkc_resistance_vs_hits(spark):
    """The TKC scenario from Lempel & Moran: a dense clique (link
    farm, K5) plus one genuinely popular page (6 independent hubs +
    one bridge link from the farm, so the support graph is connected
    and SALSA authority is globally in-degree-proportional). HITS
    authority concentrates on the clique — its principal singular
    value (16) dwarfs the star's — while SALSA ranks the popular page
    first. Separation is wide by iteration 6 (numpy: farm 0.44 vs
    page 0.19 at every depth >= 6), so 8 rounds are decisive."""
    from pagerank_spark.operators.hits import hits
    from pagerank_spark.operators.salsa import salsa

    farm = [(i, j) for i in range(5) for j in range(5) if i != j]
    popular = [(h, 100) for h in range(10, 16)]  # 6 independent hubs
    pairs = farm + popular + [(0, 100)]  # bridge connects the sides
    e = spark.createDataFrame(pairs, "src long, dst long")
    s = {r["id"]: r["authority"] for r in salsa(e).collect()}
    assert s[100] == max(s.values())
    hh = {r["id"]: r["authority"] for r in hits(e, max_iter=8).collect()}
    assert hh[100] < max(hh[v] for v in range(5))  # HITS captured by farm


def test_salsa_parallel_edges_self_loops_empty(spark):
    from pagerank_spark.operators.salsa import salsa

    # parallel edges and self-loops do not change the support graph
    base = [(0, 1), (1, 2)]
    noisy = base + [(0, 1), (0, 1), (2, 2)]
    a = {(r["id"], r["hub"], r["authority"])
         for r in salsa(spark.createDataFrame(base, "src long, dst long")
                        ).collect()}
    b_rows = salsa(
        spark.createDataFrame(noisy, "src long, dst long")
    ).collect()
    b = {(r["id"], r["hub"], r["authority"]) for r in b_rows}
    assert a == b
    empty = spark.createDataFrame([], "src long, dst long")
    assert salsa(empty).count() == 0


def test_vertex_cover_covers_and_2approx(spark):
    import itertools

    from pagerank_spark.operators.mis import vertex_cover

    pairs = _random_pairs(99, 14, 30)
    e = spark.createDataFrame(pairs, "src long, dst long")
    cover = {r["id"] for r in vertex_cover(e).collect()}
    simple = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    assert all(a in cover or b in cover for a, b in simple)  # covers
    # exact minimum cover by brute force (14 vertices)
    verts = sorted({x for p in simple for x in p})
    opt = None
    for k in range(len(verts) + 1):
        for s in itertools.combinations(verts, k):
            ss = set(s)
            if all(a in ss or b in ss for a, b in simple):
                opt = k
                break
        if opt is not None:
            break
    assert len(cover) <= 2 * opt


def test_global_efficiency_vs_bruteforce(spark):
    from pagerank_spark.operators.paths import global_efficiency

    pairs = _random_pairs(88, 25, 70)
    e = spark.createDataFrame(pairs, "src long, dst long")
    ids = sorted({x for p in pairs for x in p})
    adj = _multi_adj(pairs)
    row = global_efficiency(e, ids).collect()[0]
    total = 0.0
    reach = 0
    for s in ids:
        for v, d in _bfs_dists(adj, s).items():
            if d > 0:
                total += 1.0 / d
                reach += 1
    n = len(ids)
    assert row["n_vertices"] == n
    assert row["reachable_pairs"] == reach
    assert abs(row["efficiency"] - total / (n * (n - 1))) < 1e-9
    # pivot subset normalizes by |pivots|·(n-1)
    piv = ids[:4]
    row2 = global_efficiency(e, piv).collect()[0]
    t2 = sum(
        1.0 / d
        for s in piv
        for v, d in _bfs_dists(adj, s).items()
        if d > 0
    )
    assert abs(row2["efficiency"] - t2 / (4 * (n - 1))) < 1e-9


def test_zero_eps_requires_max_iter(spark):
    from pagerank_spark.operators.centrality import spam_mass, trustrank
    from pagerank_spark.operators.pagerank import pagerank

    e = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    for fn in (
        lambda: pagerank(e, eps=0.0),
        lambda: trustrank(e, [0]),  # defaults eps=0.0, max_iter=None
        lambda: spam_mass(e, [0]),
    ):
        with pytest.raises(ValueError):
            fn()
    # explicit max_iter keeps the fixed-k replay mode working
    assert trustrank(e, [0], max_iter=3).count() == 2


def test_widest_paths_vs_bruteforce(spark):
    import heapq

    from pagerank_spark.operators.paths import widest_paths

    rng = np.random.RandomState(41)
    rows = [
        (int(a), int(b), float(w))
        for (a, b), w in zip(
            rng.randint(0, 20, size=(60, 2)), rng.randint(1, 10, size=60)
        )
        if a != b
    ]
    e = spark.createDataFrame(rows, "src long, dst long, weight double")
    got = {
        (r["source"], r["id"]): r["width"]
        for r in widest_paths(e, [0, 5]).collect()
    }
    adj = {}
    for a, b, w in rows:
        adj.setdefault(a, {})
        adj[a][b] = max(adj[a].get(b, 0.0), w)  # parallel: widest wins

    def dijkstra_maxmin(s):
        best = {s: float("inf")}
        pq = [(-float("inf"), s)]
        while pq:
            negw, u = heapq.heappop(pq)
            w = -negw
            if w < best.get(u, -1):
                continue
            for v, c in adj.get(u, {}).items():
                nw = min(w, c)
                if nw > best.get(v, 0.0):
                    best[v] = nw
                    heapq.heappush(pq, (-nw, v))
        return best

    want = {}
    for s in (0, 5):
        for v, w in dijkstra_maxmin(s).items():
            want[(s, v)] = w
    assert got == want


def test_simrank_max_in_degree_hub(spark):
    """The hub cap must (a) be a no-op when no vertex exceeds it,
    (b) on a 10k-in-degree link-farm target be EXACTLY equivalent to
    running SimRank on the graph with the hub's in-edges stripped —
    the documented endpoint-drop semantics — so the Σ in-deg² wedge
    blow-up through the hub cannot occur (its pairs never form)."""
    from pyspark.sql import functions as F

    from pagerank_spark.operators.simrank import simrank

    core = [(0, 2), (1, 2), (0, 3), (1, 3), (2, 4), (3, 4), (4, 0),
            (3, 0), (2, 1)]
    e_core = spark.createDataFrame(core, "src long, dst long")
    base = {(r["a"], r["b"]): r["score"]
            for r in simrank(e_core, iters=3).collect()}
    capped = {(r["a"], r["b"]): r["score"]
              for r in simrank(e_core, iters=3, max_in_degree=100).collect()}
    assert base == capped  # no vertex over the cap -> bit-identical

    hub = 10_000_000
    spam = spark.range(100_000, 110_000).select(
        F.col("id").alias("src"), F.lit(hub).alias("dst")
    )
    full = e_core.unionByName(spam)
    got = {(r["a"], r["b"]): r["score"]
           for r in simrank(full, iters=3, max_in_degree=100).collect()}
    assert not any(hub in ab for ab in got)  # hub pairs never formed
    # equivalence: cap == pre-filtering the over-cap vertex's in-edges
    assert got == base


def test_salsa_negative_vertex_ids(spark):
    """The bipartite 2i / 2j+1 side-encoding must survive negative
    vertex ids (Spark's % keeps the dividend sign; pmod does not):
    scores on a negative-id graph equal the shifted positive-id twin."""
    from pagerank_spark.operators.salsa import salsa

    E = [(0, 2), (1, 2), (0, 3), (2, 4), (3, 4), (4, 1)]
    SHIFT = 5  # maps every vertex into [-5, -1]
    pos = salsa(spark.createDataFrame(E, "src long, dst long")).collect()
    neg = salsa(
        spark.createDataFrame(
            [(s - SHIFT, d - SHIFT) for s, d in E], "src long, dst long"
        )
    ).collect()
    want = {(r["id"] - SHIFT): (r["hub"], r["authority"]) for r in pos}
    got = {r["id"]: (r["hub"], r["authority"]) for r in neg}
    assert got == want
    assert any(a > 0 for _, a in got.values())  # authorities scored


def test_global_efficiency_no_reachable_pairs(spark):
    """Zero reachable ordered pairs is efficiency 0.0 (the 1/inf
    convention), not NULL — the F.sum-over-empty case."""
    from pagerank_spark.operators.paths import global_efficiency

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    row = global_efficiency(e, sources=[2]).collect()[0]
    assert row["n_vertices"] == 2
    assert row["reachable_pairs"] == 0
    assert row["efficiency"] == 0.0


def test_cheirank_is_reverse_pagerank(spark):
    """cheirank == pagerank on the hand-transposed edge table; the 2D
    plane separates a pure in-hub (high PageRank, low CheiRank) from a
    pure out-hub."""
    from pagerank_spark.operators.centrality import cheirank
    from pagerank_spark.operators.pagerank import pagerank
    from pyspark.sql import functions as F

    E = [(1, 0), (2, 0), (3, 0), (4, 5), (4, 6), (4, 7)]
    e = spark.createDataFrame(E, "src long, dst long")
    rev = spark.createDataFrame([(b, a) for a, b in E], "src long, dst long")
    ch = cheirank(e, dangling="redistribute", eps=1e-10)
    want = {r["id"]: r["rank"]
            for r in pagerank(rev, dangling="redistribute",
                              eps=1e-10).ranks.collect()}
    got = {r["id"]: r["rank"] for r in ch.ranks.collect()}
    assert got == want
    assert abs(sum(got.values()) - 1.0) < 1e-9
    pr = {r["id"]: r["rank"]
          for r in pagerank(e, dangling="redistribute",
                            eps=1e-10).ranks.collect()}
    # vertex 0: cited by 3 -> high PageRank; vertex 4: cites 3 -> high
    # CheiRank; each ranks low on the other axis
    assert pr[0] > pr[4] and got[4] > got[0]


def test_anti_trustrank_distrust_flows_upstream(spark):
    """Distrust propagates along REVERSED links: pages linking INTO
    the spam seed inherit suspicion, pages the seed links to do not."""
    from pagerank_spark.operators.centrality import anti_trustrank

    # y -> s (spam), s -> t, z isolated side chain u -> z
    E = [(10, 1), (11, 1), (1, 20), (30, 31)]
    e = spark.createDataFrame(E, "src long, dst long")
    d = {r["id"]: r["distrust"]
         for r in anti_trustrank(e, [1], eps=1e-12).collect()}
    assert d[1] > 0.15                   # seed keeps teleport share
    assert d[10] > 0 and d[11] > 0       # linkers into spam flagged
    assert d[20] == 0.0                  # being linked BY spam: clean
    assert d[30] == 0.0 and d[31] == 0.0
    assert abs(sum(d.values()) - 1.0) < 1e-9  # redistribute mode

"""CC / LPA / triangle tests vs independent oracles (SURVEY.md §5.2)."""

import numpy as np
import pytest

from pagerank_spark import connected_components, label_propagation, triangle_count
from pagerank_spark.testing import DEMO_EDGES, edges_df, synth_edges


def union_find_oracle(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress to min representative
    labels = {}
    for x in list(parent):
        r = find(x)
        labels[x] = r
    # normalize: representative = min element of component
    comp = {}
    for x, r in labels.items():
        comp.setdefault(r, []).append(x)
    out = {}
    for r, members in comp.items():
        m = min(members)
        for x in members:
            out[x] = m
    return out


def triangles_oracle(pairs):
    nodes = sorted({x for p in pairs for x in p})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    A = np.zeros((n, n))
    for a, b in pairs:
        if a != b:
            A[idx[a], idx[b]] = 1
            A[idx[b], idx[a]] = 1
    return int(round(np.trace(A @ A @ A) / 6))


def test_cc_demo_single_component(spark):
    labels = {
        r["id"]: r["component"]
        for r in connected_components(edges_df(spark, DEMO_EDGES)).collect()
    }
    assert labels == {0: 0, 1: 0, 2: 0, 3: 0}


def test_cc_multi_component_exact(spark):
    pairs = [(1, 2), (2, 3), (10, 11), (12, 11), (20, 20), (30, 31), (31, 30)]
    labels = {
        r["id"]: r["component"]
        for r in connected_components(edges_df(spark, pairs)).collect()
    }
    assert labels == union_find_oracle(pairs) | {20: 20}


def test_cc_random_exact_match(spark):
    e = synth_edges(spark, n=300, e=400, seed=11).cache()
    pairs = [(r["src"], r["dst"]) for r in e.collect()]
    got = {
        r["id"]: r["component"] for r in connected_components(e).collect()
    }
    want = union_find_oracle(pairs)
    # self-loop-only vertices label themselves in both
    assert got == want
    e.unpersist()


def test_cc_long_path(spark):
    # path graph needs several star rounds — exercises convergence loop
    pairs = [(i, i + 1) for i in range(40)]
    got = {
        r["id"]: r["component"]
        for r in connected_components(edges_df(spark, pairs)).collect()
    }
    assert set(got.values()) == {0} and len(got) == 41


def test_triangles_demo(spark):
    # FIXTURES.md F1: symmetrized simple DEMO graph is K4 -> 4 triangles.
    row = triangle_count(edges_df(spark, DEMO_EDGES)).collect()[0]
    assert row["triangles"] == 4


def test_triangles_random_vs_trace_oracle(spark):
    e = synth_edges(spark, n=60, e=500, seed=5).cache()
    pairs = [(r["src"], r["dst"]) for r in e.collect()]
    got = triangle_count(e).collect()[0]["triangles"]
    assert got == triangles_oracle(pairs)
    e.unpersist()


def test_triangles_per_vertex(spark):
    # K4 (DEMO symmetrized): every vertex is a corner of 3 triangles
    got = {
        r["id"]: r["triangles"]
        for r in triangle_count(edges_df(spark, DEMO_EDGES), per_vertex=True).collect()
    }
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_lpa_directed_mode(spark):
    # star 0->1,0->2,0->3: directed messages flow only src->dst, so the
    # leaves adopt 0's label while 0 (no in-edges) keeps its own
    pairs = [(0, 1), (0, 2), (0, 3)]
    got = {
        r["id"]: r["label"]
        for r in label_propagation(
            edges_df(spark, pairs), max_iter=3, directed=True
        ).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0}


def lpa_oracle(pairs, max_iter=10):
    """Deterministic synchronous LPA re-implementation (SURVEY.md §5.2)."""
    from collections import Counter, defaultdict

    nbrs = defaultdict(list)
    for a, b in pairs:
        if a != b:
            nbrs[a].append(b)
            nbrs[b].append(a)
    nodes = sorted({x for p in pairs for x in p})
    labels = {v: v for v in nodes}
    for _ in range(max_iter):
        new = {}
        for v in nodes:
            if not nbrs[v]:
                new[v] = labels[v]
                continue
            c = Counter(labels[u] for u in nbrs[v])
            best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        if new == labels:
            break
        labels = new
    return labels


def test_lpa_matches_oracle(spark):
    pairs = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (2, 3)]
    got = {
        r["id"]: r["label"]
        for r in label_propagation(edges_df(spark, pairs), max_iter=10).collect()
    }
    assert got == lpa_oracle(pairs, max_iter=10)


def test_lpa_random_matches_oracle(spark):
    e = synth_edges(spark, n=80, e=200, seed=3).cache()
    pairs = [(r["src"], r["dst"]) for r in e.collect()]
    got = {
        r["id"]: r["label"]
        for r in label_propagation(e, max_iter=6).collect()
    }
    assert got == lpa_oracle(pairs, max_iter=6)
    e.unpersist()


def test_cc_warns_when_max_iter_exhausted(spark):
    import warnings

    # a long path graph cannot converge in 1 round
    path_edges = edges_df(spark, [(i, i + 1) for i in range(30)])
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        connected_components(path_edges, max_iter=1, mode="stars").collect()
    assert any("did not stabilize" in str(x.message) for x in w)


def _jobs(spark, tag, fn):
    """Spark jobs one call (collected) runs, counted by statusTracker."""
    import warnings

    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")  # max_iter exhaustion
            fn().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(tag))


def test_jobs_per_round_cc_stars_and_lpa(spark):
    """Upper bounds on Spark jobs per round: CC by stars is one exchange
    per star operation plus small-star's distinct, and the checkpoint
    job (its signature probe is observed on that job); LPA's round plan
    plus its checkpoint, whose changed-label count is observed too;
    temporal reachability's relaxation round plus its checkpoint, whose
    count+xor signature is observed too; a Brandes forward level plus
    its checkpoint, whose new-vertex count is observed too (an isEmpty
    job made this 6; 5 with the observed count). Two rounds are the
    difference between max_iter=3 and max_iter=1 on graphs that do not
    settle within three rounds."""
    from pagerank_spark.operators.centrality import brandes_forward
    from pagerank_spark.operators.temporal import temporal_reachability

    path = edges_df(spark, [(i, i + 1) for i in range(63)]).localCheckpoint()
    ring = edges_df(
        spark,
        [(i, (i + 1) % 40) for i in range(40)]
        + [(i, (i + 7) % 40) for i in range(0, 40, 5)],
    ).localCheckpoint()
    timed = spark.createDataFrame(
        [(i, i + 1, i + 1) for i in range(63)], "src long, dst long, t long"
    ).localCheckpoint()
    per_round = {}
    for name, call in (
        ("cc", lambda k: connected_components(path, max_iter=k, mode="stars")),
        ("lpa", lambda k: label_propagation(ring, max_iter=k)),
        ("temporal", lambda k: temporal_reachability(timed, [0], max_hops=k)),
        ("brandes", lambda k: brandes_forward(path, [0], max_iter=k)),
    ):
        one = _jobs(spark, f"{name}-1", lambda: call(1))
        three = _jobs(spark, f"{name}-3", lambda: call(3))
        per_round[name] = (three - one) / 2
    # the signature/count probe and AQE's job per exchange made these
    # 14 (CC) and 8 (LPA)
    assert 0 < per_round["cc"] <= 6, per_round
    assert 0 < per_round["lpa"] <= 7, per_round
    # a row-wise improvement join as the stop test made this 9
    assert 0 < per_round["temporal"] <= 6, per_round
    assert 0 < per_round["brandes"] <= 5, per_round


def test_cc_count_first_detection_same_labels(spark):
    """The cheaper convergence detection must not change labels."""
    e = synth_edges(spark, 200, 600, seed=7)
    labels = {
        r["id"]: r["component"] for r in connected_components(e).collect()
    }
    # oracle: union-find over the collected edge list
    parent = list(range(200))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    seen = set()
    for r in e.collect():
        seen.update((r["src"], r["dst"]))
        a, b = find(r["src"]), find(r["dst"])
        if a != b:
            parent[max(a, b)] = min(a, b)
    expect = {v: find(v) for v in seen}
    assert labels == expect


def test_shortest_paths_bfs_and_weighted(spark):
    """Hand-built graph with a known distance structure, both metrics."""
    from pagerank_spark.operators.paths import shortest_paths

    #    0 -> 1 -> 2 -> 3     0 -> 4 (long hop, heavy weight)
    #    4 -> 3 (shortcut for hops, expensive by weight)
    rows = [
        (0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (0, 4, 10.0), (4, 3, 1.0),
        (9, 0, 1.0),  # edge INTO the source: must not create dist for 9
    ]
    e = spark.createDataFrame(rows, "src long, dst long, weight double")

    hops = {r["id"]: r["dist"] for r in shortest_paths(e, [0]).collect()}
    assert hops == {0: 0, 1: 1, 2: 2, 4: 1, 3: 2}  # 3 via 4 in 2 hops

    wd = {
        r["id"]: r["dist"]
        for r in shortest_paths(e, [0], weight_col="weight").collect()
    }
    assert wd == {0: 0.0, 1: 1.0, 2: 2.0, 3: 3.0, 4: 10.0}  # 3 via chain

    # multi-source: nearest source wins
    ms = {r["id"]: r["dist"] for r in shortest_paths(e, [0, 3]).collect()}
    assert ms[3] == 0 and ms[0] == 0 and ms[1] == 1

    import pytest as _pytest

    with _pytest.raises(ValueError):
        shortest_paths(e, [])


def test_cc_local_and_stars_paths_agree(spark):
    """auto picks union-find below LOCAL_CC_MAX_E; the two physical
    paths must produce identical min-id labels."""
    from pagerank_spark.operators.components import connected_components
    from pagerank_spark.testing import synth_edges

    e = synth_edges(spark, n=400, e=1200, seed=21).cache()
    loc = {(r["id"], r["component"]) for r in
           connected_components(e, mode="local").collect()}
    stars = {(r["id"], r["component"]) for r in
             connected_components(e, mode="stars").collect()}
    assert loc == stars
    # negative ids (fingerprint graphs) work in both paths
    neg = spark.createDataFrame(
        [(-5, -9), (-9, 3), (7, 7)], "src long, dst long"
    )
    loc = {(r["id"], r["component"]) for r in
           connected_components(neg, mode="local").collect()}
    stars = {(r["id"], r["component"]) for r in
             connected_components(neg, mode="stars").collect()}
    assert loc == stars == {(-5, -9), (-9, -9), (3, -9), (7, 7)}
    e.unpersist()


def test_hits_matches_numpy_oracle(spark):
    """Random multigraph (duplicate edges kept) vs a dense NumPy HITS:
    fixed rounds, and ``tol`` run to the fixpoint."""
    from pagerank_spark.operators.hits import hits

    rng = np.random.RandomState(17)
    random_pairs = [
        (int(a), int(b)) for a, b in rng.randint(0, 40, size=(200, 2))
    ]
    # K_10 50 times over plus ten random pairs: L1 delta 1e-12 in 4 rounds
    near_complete = [(s, d) for s in range(10) for d in range(10)] * 50 + [
        (int(a), int(b))
        for a, b in np.random.RandomState(0).randint(0, 10, size=(10, 2))
    ]
    for pairs, max_iter, tol, rounds in (
        (random_pairs, 6, None, 6),
        (near_complete, 200, 1e-12, 500),
    ):
        e = spark.createDataFrame(pairs, "src long, dst long")
        got = {
            r["id"]: (r["hub"], r["authority"])
            for r in hits(e, max_iter=max_iter, tol=tol).collect()
        }
        ids = sorted({x for p in pairs for x in p})
        idx = {v: i for i, v in enumerate(ids)}
        A = np.zeros((len(ids), len(ids)))
        for s, d in pairs:
            A[idx[s], idx[d]] += 1
        h = np.ones(len(ids))
        for _ in range(rounds):
            a = A.T @ h
            na = np.sqrt((a * a).sum())
            a = a / na if na > 0 else a
            h = A @ a
            nh = np.sqrt((h * h).sum())
            h = h / nh if nh > 0 else h
        assert all(
            abs(got[v][0] - h[idx[v]]) < 1e-9
            and abs(got[v][1] - a[idx[v]]) < 1e-9
            for v in ids
        )


def test_clustering_coefficient_vs_combinatorial_oracle(spark):
    import itertools

    from pagerank_spark.operators.triangles import clustering_coefficient

    rng = np.random.RandomState(9)
    pairs = [(int(a), int(b)) for a, b in rng.randint(0, 20, size=(80, 2))]
    e = spark.createDataFrame(pairs, "src long, dst long")
    got = {r["id"]: r["coeff"] for r in clustering_coefficient(e).collect()}
    adj = {}
    for a, b in pairs:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    for v, nb in adj.items():
        d = len(nb)
        want = (
            0.0
            if d < 2
            else 2.0
            * sum(
                1
                for x, y in itertools.combinations(nb, 2)
                if y in adj.get(x, ())
            )
            / (d * (d - 1))
        )
        assert abs(got[v] - want) < 1e-12, v
    g = clustering_coefficient(e, per_vertex=False).collect()[0]["coeff"]
    T = sum(
        1
        for x, y, z in itertools.combinations(sorted(adj), 3)
        if y in adj[x] and z in adj[x] and z in adj[y]
    )
    W = sum(len(nb) * (len(nb) - 1) // 2 for nb in adj.values())
    assert abs(g - 3.0 * T / W) < 1e-12


def test_k_core_vs_peeling_oracle(spark):
    from pagerank_spark.operators.cores import k_core

    rng = np.random.RandomState(4)
    pairs = [(int(a), int(b)) for a, b in rng.randint(0, 30, size=(120, 2))]
    e = spark.createDataFrame(pairs, "src long, dst long")

    def oracle(k):
        adj = {}
        for a, b in pairs:
            if a != b:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
        while True:
            drop = [v for v in adj if len(adj[v]) < k]
            if not drop:
                return set(adj)
            for v in drop:
                for u in adj[v]:
                    adj[u].discard(v)
                del adj[v]

    for k in (2, 4, 6):
        got = {r["id"] for r in k_core(e, k).collect()}
        assert got == oracle(k), k
    # k=0 keeps self-loop-only vertices too
    loop = spark.createDataFrame([(1, 2), (5, 5)], "src long, dst long")
    assert {r["id"] for r in k_core(loop, 0).collect()} == {1, 2, 5}
    assert {r["id"] for r in k_core(loop, 1).collect()} == {1, 2}


def test_coreness_vs_peel_and_k_core(spark):
    """H-index fixpoint coreness equals the sequential min-degree peel
    (Lü et al. 2016 theorem) and is consistent with k_core at every k."""
    import heapq

    from pagerank_spark.operators.cores import coreness, k_core

    rng = np.random.RandomState(11)
    pairs = [
        (int(a), int(b))
        for a, b in rng.randint(0, 120, size=(1500, 2))
        if a != b
    ]
    e = spark.createDataFrame(pairs, "src long, dst long")

    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    heap = [(d, v) for v, d in deg.items()]
    heapq.heapify(heap)
    removed: set[int] = set()
    expect: dict[int, int] = {}
    cur = 0
    while heap:
        d, v = heapq.heappop(heap)
        if v in removed or d != deg[v]:
            continue
        cur = max(cur, d)
        expect[v] = cur
        removed.add(v)
        for u in adj[v]:
            if u not in removed:
                deg[u] -= 1
                heapq.heappush(heap, (deg[u], u))

    got = {r["id"]: r["coreness"] for r in coreness(e).collect()}
    assert got == expect
    for k in (2, max(expect.values())):
        assert {r["id"] for r in k_core(e, k).collect()} == {
            v for v, c in got.items() if c >= k
        }


def test_degree_histogram_and_reciprocity(spark):
    from collections import Counter

    from pagerank_spark.operators.degrees import (
        degree_histogram,
        reciprocity,
    )

    pairs = [(0, 1), (1, 0), (1, 2), (2, 3), (3, 3), (0, 1)]
    e = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r["degree"]: r["n_vertices"] for r in degree_histogram(e).collect()
    }
    deg = Counter()
    for a, b in pairs:
        deg[a] += 1
        deg[b] += 1
    assert got == dict(Counter(deg.values()))
    # distinct non-loop edges: (0,1),(1,0),(1,2),(2,3); reciprocal: 2
    r = reciprocity(e).collect()[0]["reciprocity"]
    assert abs(r - 0.5) < 1e-12


def test_link_prediction_vs_bruteforce(spark):
    import itertools
    import math

    from pagerank_spark.operators.linkpred import link_prediction

    rng = np.random.RandomState(12)
    pairs = [(int(a), int(b)) for a, b in rng.randint(0, 25, size=(90, 2))]
    e = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        (r["a"], r["b"]): (
            r["common"],
            r["jaccard"],
            r["adamic_adar"],
            r["resource_alloc"],
            r["pref_attach"],
        )
        for r in link_prediction(e).collect()
    }
    adj = {}
    for a, b in pairs:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    want = {}
    for u, v in itertools.combinations(sorted(adj), 2):
        if v in adj[u]:
            continue
        cn = adj[u] & adj[v]
        if not cn:
            continue
        want[(u, v)] = (
            len(cn),
            len(cn) / len(adj[u] | adj[v]),
            sum(1.0 / math.log(len(adj[w])) for w in cn),
            sum(1.0 / len(adj[w]) for w in cn),
            len(adj[u]) * len(adj[v]),
        )
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        assert abs(got[k][1] - want[k][1]) < 1e-12, k
        assert abs(got[k][2] - want[k][2]) < 1e-9, k
        assert abs(got[k][3] - want[k][3]) < 1e-12, k
        assert got[k][4] == want[k][4], k


def test_link_prediction_max_degree_cap(spark):
    """Capped centers generate no wedges: a star's leaves lose their
    hub-mediated candidates once the hub degree exceeds the cap."""
    from pagerank_spark.operators.linkpred import link_prediction

    star = [(0, i) for i in range(1, 6)]  # hub 0, leaves 1..5
    e = spark.createDataFrame(star, "src long, dst long")
    full = link_prediction(e).count()
    assert full == 10  # C(5,2) leaf pairs share hub 0
    assert link_prediction(e, max_degree=4).count() == 0


def test_four_cycles_vs_bruteforce(spark):
    """Rectangle count matches an O(n^4) enumeration on random graphs,
    plus closed forms: C_4 has 1, K_4 has 3, K_{2,3} has 3, a triangle
    has 0, and the hub cap zeroes a star-mediated count."""
    import itertools

    from pagerank_spark.operators.linkpred import four_cycles

    def brute(pairs):
        adj = {}
        for a, b in pairs:
            if a != b:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
        count = 0
        for u, w, v, x in itertools.permutations(sorted(adj), 4):
            if (
                w in adj[u] and v in adj[w] and x in adj[v] and u in adj[x]
            ):
                count += 1
        return count // 8  # each cycle counted 8x (4 rotations x 2 dirs)

    fixtures = {
        "c4": [(0, 1), (1, 2), (2, 3), (3, 0)],
        "k4": [(a, b) for a in range(4) for b in range(a + 1, 4)],
        "k23": [(a, b) for a in (0, 1) for b in (2, 3, 4)],
        "tri": [(0, 1), (1, 2), (2, 0)],
    }
    expect = {"c4": 1, "k4": 3, "k23": 3, "tri": 0}
    for name, pairs in fixtures.items():
        e = spark.createDataFrame(pairs, "src long, dst long")
        got = four_cycles(e).collect()[0]["n_four_cycles"]
        assert got == expect[name] == brute(pairs), name

    rng = np.random.RandomState(7)
    pairs = [(int(a), int(b)) for a, b in rng.randint(0, 14, size=(60, 2))]
    e = spark.createDataFrame(pairs, "src long, dst long")
    assert four_cycles(e).collect()[0]["n_four_cycles"] == brute(pairs)

    # hub cap: non-binding cap leaves the count intact, binding cap
    # (below every degree) removes all wedge centers
    e = spark.createDataFrame(fixtures["c4"], "src long, dst long")
    assert four_cycles(e, max_degree=2).collect()[0]["n_four_cycles"] == 1
    e = spark.createDataFrame(fixtures["k23"], "src long, dst long")
    assert four_cycles(e, max_degree=1).collect()[0]["n_four_cycles"] == 0


def test_sampling_deterministic_and_consistent(spark):
    from pagerank_spark.operators.sampling import (
        sample_edges,
        sample_vertices_induced,
    )
    from pagerank_spark.testing import synth_edges

    e = synth_edges(spark, n=200, e=3000, seed=2).cache()
    for fn in ("xxhash64", "md5"):
        s1 = {(r["src"], r["dst"]) for r in
              sample_edges(e, 0.3, seed=5, hash_fn=fn).collect()}
        s2 = {(r["src"], r["dst"]) for r in
              sample_edges(e, 0.3, seed=5, hash_fn=fn).collect()}
        assert s1 == s2 and s1  # deterministic, non-empty
        total = {(r["src"], r["dst"]) for r in e.collect()}
        assert s1 <= total
        assert 0.15 < len(s1) / len(total) < 0.45  # ~fraction
        # different seed -> different sample
        s3 = {(r["src"], r["dst"]) for r in
              sample_edges(e, 0.3, seed=6, hash_fn=fn).collect()}
        assert s1 != s3
        # fraction bounds enforced
        assert sample_edges(e, 0.0, hash_fn=fn).count() == 0
        assert sample_edges(e, 1.0, hash_fn=fn).count() == e.count()
        # vertex-induced: per-vertex all-or-nothing on BOTH endpoints
        vi = sample_vertices_induced(e, 0.5, seed=3, hash_fn=fn)
        kept_v = {x for r in vi.collect() for x in (r["src"], r["dst"])}
        dropped = total - {(r["src"], r["dst"]) for r in vi.collect()}
        # any dropped edge must have an endpoint outside the kept set OR
        # an endpoint never appearing in any kept edge
        for s, d in dropped:
            assert s not in kept_v or d not in kept_v
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sample_edges(e, 1.5).count()
    e.unpersist()


def test_random_walks_deterministic_vs_python_oracle(spark):
    import hashlib

    from pagerank_spark.operators.walks import random_walks

    pairs = [(0, 1), (0, 2), (1, 2), (2, 0), (2, 3), (3, 3), (4, 0)]
    e = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        (r["walk_id"], r["step"]): r["vertex"]
        for r in random_walks(
            e, 3, walks_per_vertex=2, seed=9, hash_fn="md5"
        ).collect()
    }

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    adj = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
    want = {}
    for v in {x for p in pairs for x in p}:
        for w in range(2):
            wid, cur = v * 2 + w, v
            want[(wid, 0)] = cur
            for t in range(1, 4):
                nbrs = adj.get(cur)
                if not nbrs:
                    break
                cur = min(nbrs, key=lambda d: (h(f"{wid}:{t}:{d}:9"), d))
                want[(wid, t)] = cur
    assert got == want
    # xxhash64 path: same shape, deterministic across calls
    a1 = sorted(random_walks(e, 2, seed=5).collect())
    a2 = sorted(random_walks(e, 2, seed=5).collect())
    assert a1 == a2 and len(a1) > 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        random_walks(e, -1)


def _tarjan_oracle(pairs):
    adj = {}
    vs = set()
    for a, b in pairs:
        vs.add(a)
        vs.add(b)
        if a != b:
            adj.setdefault(a, []).append(b)
    index, low, onstk, stk, comp, cnt = {}, {}, {}, [], {}, [0]
    for v0 in vs:
        if v0 in index:
            continue
        work = [(v0, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = cnt[0]
                cnt[0] += 1
                stk.append(v)
                onstk[v] = True
            descended = False
            nbrs = adj.get(v, [])
            for i in range(pi, len(nbrs)):
                w = nbrs[i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    descended = True
                    break
                elif onstk.get(w):
                    low[v] = min(low[v], index[w])
            if descended:
                continue
            if low[v] == index[v]:
                mem = []
                while True:
                    w = stk.pop()
                    onstk[w] = False
                    mem.append(w)
                    if w == v:
                        break
                m = min(mem)
                for w in mem:
                    comp[w] = m
            work.pop()
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])
    return comp


def test_scc_hand_graph_both_modes(spark):
    from pagerank_spark.operators.scc import strongly_connected_components

    # two cycles bridged by a DAG edge, a chain, a self-loop
    pairs = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 3), (2, 3), (5, 6), (7, 7)]
    e = spark.createDataFrame(pairs, "src long, dst long")
    want = {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5, 6: 6, 7: 7}
    for mode in ("local", "coloring"):
        got = {
            r["id"]: r["component"]
            for r in strongly_connected_components(e, mode=mode).collect()
        }
        assert got == want, mode


def test_scc_random_vs_tarjan_distributed(spark):
    from pagerank_spark.operators.scc import strongly_connected_components

    rng = np.random.RandomState(8)
    pairs = [(int(a), int(b)) for a, b in rng.randint(0, 60, size=(150, 2))]
    e = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r["id"]: r["component"]
        for r in strongly_connected_components(e, mode="coloring").collect()
    }
    assert got == _tarjan_oracle(pairs)
    # local path agrees
    loc = {
        r["id"]: r["component"]
        for r in strongly_connected_components(e, mode="local").collect()
    }
    assert loc == got


def test_double_sweep_path_graph_exact(spark):
    """On a path the double sweep finds the exact diameter."""
    from pagerank_spark.operators.paths import double_sweep

    pairs = [(i, i + 1) for i in range(6)] + [(i + 1, i) for i in range(6)]
    e = spark.createDataFrame(pairs, "src long, dst long")
    row = double_sweep(e, start=3).collect()[0]
    assert row["start"] == 3
    assert row["ecc_start"] == 3  # 3 -> 0 or 3 -> 6
    assert row["pivot"] == 0  # tie (0 and 6 both dist 3) -> min id
    assert row["diameter_lb"] == 6


def test_graph_summary_known_graph(spark):
    from pagerank_spark.operators.summary import graph_summary

    # K3 triangle (both directions) + dangling directed edge 3 -> 4
    pairs = [(0, 1), (1, 0), (1, 2), (2, 1), (2, 0), (0, 2), (3, 4)]
    e = spark.createDataFrame(pairs, "src long, dst long")
    row = graph_summary(e).collect()[0]
    assert row["n_vertices"] == 5
    assert row["n_edges"] == 7
    assert row["n_simple_edges"] == 4  # 3 triangle sides + (3,4)
    assert row["max_degree"] == 2
    assert row["triangles"] == 1
    assert abs(row["transitivity"] - 1.0 * 3 / 3) < 1e-12  # 3 wedges closed
    assert abs(row["reciprocity"] - 6 / 7) < 1e-12
    assert row["n_components"] == 2
    assert abs(row["density"] - 2 * 4 / (5 * 4)) < 1e-12
    assert abs(row["avg_degree"] - 2 * 4 / 5) < 1e-12


def test_cooccurrence_graph_basket_oracle(spark):
    from collections import Counter
    import itertools

    from pagerank_spark.operators.cooccur import cooccurrence_graph

    rows = [  # (basket, item) incl. an in-basket duplicate and a hub key
        (1, "a"), (1, "b"), (1, "b"), (2, "a"), (2, "b"), (2, "c"),
        (3, "a"), (3, "c"), (4, "x"), (4, "y"), (4, "z"),
    ]
    e = spark.createDataFrame(rows, "k long, i string")
    got = {
        (r["src"], r["dst"]): r["weight"]
        for r in cooccurrence_graph(e, "k", "i").collect()
    }
    baskets = {}
    for k, i in rows:
        baskets.setdefault(k, set()).add(i)
    want = Counter()
    for items in baskets.values():
        for a, b in itertools.combinations(sorted(items), 2):
            want[(a, b)] += 1
    assert got == dict(want)
    # min_count filters, cap drops the 3-item basket entirely
    got2 = {
        (r["src"], r["dst"])
        for r in cooccurrence_graph(e, "k", "i", min_count=2).collect()
    }
    assert got2 == {(a, b) for (a, b), w in want.items() if w >= 2}
    capped = cooccurrence_graph(e, "k", "i", max_items_per_key=2).collect()
    assert {(r["src"], r["dst"]) for r in capped} == {("a", "b"), ("a", "c")}


def test_modularity_known_values(spark):
    from pagerank_spark.operators.labelprop import modularity

    # two triangles bridged by one edge, labeled by triangle
    pairs = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (2, 3)]
    e = spark.createDataFrame(pairs, "src long, dst long")
    lab = spark.createDataFrame(
        [(i, 0 if i < 3 else 1) for i in range(6)], "id long, label long"
    )
    q = modularity(e, lab).collect()[0]["modularity"]
    want = 2 * (3 / 7 - (7 / 14) ** 2)
    assert abs(q - want) < 1e-12
    # the all-one-label partition always scores exactly 0
    one = spark.createDataFrame(
        [(i, 0) for i in range(6)], "id long, label long"
    )
    assert abs(modularity(e, one).collect()[0]["modularity"]) < 1e-12
    # component labels also accepted via the 'component' column
    comp = one.withColumnRenamed("label", "component")
    assert abs(modularity(e, comp).collect()[0]["modularity"]) < 1e-12


def test_hash_split_and_stratified_sampling(spark):
    from pyspark.sql import functions as F

    from pagerank_spark.operators.sampling import (
        hash_split,
        sample_per_group,
    )

    df = spark.range(5000).withColumnRenamed("id", "k")
    s = hash_split(df, "k", seed=3)
    counts = {
        r["split"]: r["count"] for r in s.groupBy("split").count().collect()
    }
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 5000 - 0.8) < 0.05
    # deterministic across calls and engines-by-construction
    s2 = hash_split(df, "k", seed=3)
    assert (
        s.join(s2.withColumnRenamed("split", "s2"), "k")
        .where(F.col("split") != F.col("s2"))
        .count()
        == 0
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        hash_split(df, "k", weights={"a": 0.5, "b": 0.2})

    ev = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(4000)], "k long, g string"
    )
    kept = sample_per_group(ev, "g", {"a": 0.5, "b": 0.0}, "k", seed=4)
    gc = {r["g"]: r["count"] for r in kept.groupBy("g").count().collect()}
    assert "b" not in gc and abs(gc["a"] / 2000 - 0.5) < 0.1
    # unlisted groups fall back to "*"
    kept2 = sample_per_group(ev, "g", {"a": 1.0, "*": 1.0}, "k")
    assert kept2.count() == 4000


def test_multi_source_bfs_and_harmonic(spark):
    from pagerank_spark.operators.paths import (
        harmonic_centrality,
        multi_source_bfs,
    )

    #  0 -> 1 -> 2 -> 3 ; 4 isolated source side, 2 -> 4
    pairs = [(0, 1), (1, 2), (2, 3), (2, 4)]
    e = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        (r["source"], r["id"]): r["dist"]
        for r in multi_source_bfs(e, [0, 2]).collect()
    }
    assert got == {
        (0, 0): 0, (0, 1): 1, (0, 2): 2, (0, 3): 3, (0, 4): 3,
        (2, 2): 0, (2, 3): 1, (2, 4): 1,
    }
    h = {
        r["id"]: r["harmonic"]
        for r in harmonic_centrality(e, [0, 2]).collect()
    }
    # v3: 1/3 (from 0) + 1/1 (from 2); v4 same; v1: 1/1; v2: 1/2
    assert abs(h[3] - (1 / 3 + 1)) < 1e-12
    assert abs(h[4] - (1 / 3 + 1)) < 1e-12
    assert abs(h[1] - 1.0) < 1e-12 and abs(h[2] - 0.5) < 1e-12
    assert 0 not in h  # pivots exclude their own 0-distance


def test_scc_max_outer_fallback_warns_and_labels_singletons(spark):
    import warnings

    from pagerank_spark.operators.scc import strongly_connected_components

    # directed path: every SCC is a singleton, but coloring removes only
    # the root's SCC per outer round — max_outer=1 exercises the
    # fallback, whose singleton labeling happens to be exactly right
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = {
            r["id"]: r["component"]
            for r in strongly_connected_components(
                path, max_outer=1, mode="coloring"
            ).collect()
        }
    assert any("outer rounds exhausted" in str(x.message) for x in w)
    assert got == {i: i for i in range(7)}


def test_failed_scc_round_leaves_no_cached_edges(spark, monkeypatch):
    """A failure inside an outer coloring round still unpersists that
    round's edge copies."""
    import importlib

    import pytest as _pytest

    mod = importlib.import_module("pagerank_spark.operators.scc")

    def boom(*_args, **_kwargs):
        raise RuntimeError("injected fixpoint failure")

    monkeypatch.setattr(mod, "iterate", boom)
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long"
    )
    spark.catalog.clearCache()
    with _pytest.raises(RuntimeError, match="injected fixpoint failure"):
        mod.strongly_connected_components(e, mode="coloring")
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_failed_relaxation_leaves_no_cached_edges(spark, monkeypatch):
    """A failure inside a path-family fixpoint still unpersists the
    operator's edge copy."""
    import importlib

    import pytest as _pytest

    from pagerank_spark.operators.paths import (
        multi_source_bfs,
        shortest_paths,
        topological_levels,
        widest_paths,
    )
    from pagerank_spark.operators.temporal import temporal_reachability

    gather = importlib.import_module("pagerank_spark.plans.gather")

    def boom(*_args, **_kwargs):
        raise RuntimeError("injected fixpoint failure")

    monkeypatch.setattr(gather, "iterate", boom)
    e = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 2.0), (2, 0, 1.0), (2, 3, 1.0)],
        "src long, dst long, weight double",
    )
    timed = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 2), (2, 0, 1), (2, 3, 1)], "src long, dst long, t long"
    )
    for call in (
        lambda: shortest_paths(e, [0], weight_col="weight"),
        lambda: multi_source_bfs(e, [0, 2]),
        lambda: widest_paths(e, [0]),
        lambda: topological_levels(e),
        lambda: temporal_reachability(timed, [0]),
    ):
        spark.catalog.clearCache()
        with _pytest.raises(RuntimeError, match="injected fixpoint failure"):
            call()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize(
    "module, call",
    [
        ("bowtie", lambda m, e: m.bowtie_decomposition(e)),
        ("mis", lambda m, e: m.maximal_independent_set(e)),
        ("centrality", lambda m, e: m.brandes_forward(e, [0])),
        ("walks", lambda m, e: m.random_walks(e, 3)),
        ("walks", lambda m, e: m.node2vec_walks(e, 3)),
    ],
)
def test_failed_drain_loop_leaves_no_cached_edges(
    spark, monkeypatch, module, call
):
    """A failure inside a drain loop still unpersists the operator's
    edge copies (bow-tie's two orientations, MIS's symmetrized edges,
    Brandes' multiplicity-collapsed edges, the walkers' edge copies and
    node2vec's undirected pair set)."""
    import importlib

    mod = importlib.import_module(f"pagerank_spark.operators.{module}")

    def boom(*_args, **_kwargs):
        raise RuntimeError("injected drain failure")

    monkeypatch.setattr(mod, "iterate", boom)
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)], "src long, dst long"
    )
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="injected drain failure"):
        call(mod, e)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_failed_anf_round_leaves_no_cached_edges(spark, monkeypatch):
    """A failure inside HyperANF's round loop (the second sketch merge)
    still unpersists its distinct edge copy."""
    from pagerank_spark.operators import anf

    merge = anf._merge_by_id
    calls = []

    def boom(*args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("injected round failure")
        return merge(*args, **kwargs)

    monkeypatch.setattr(anf, "_merge_by_id", boom)
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long")
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="injected round failure"):
        anf.hyper_anf(e, p=4, max_iter=3)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_new_operators_handle_empty_graph(spark):
    """Every round-3 operator must return an empty (or zero) result on
    an empty edge table instead of crashing — the guard a composed
    pipeline hits whenever an upstream filter matches nothing."""
    from pagerank_spark.operators.cooccur import cooccurrence_graph
    from pagerank_spark.operators.cores import k_core
    from pagerank_spark.operators.degrees import (
        degree_histogram,
        reciprocity,
    )
    from pagerank_spark.operators.hits import hits
    from pagerank_spark.operators.labelprop import modularity
    from pagerank_spark.operators.linkpred import link_prediction
    from pagerank_spark.operators.scc import strongly_connected_components
    from pagerank_spark.operators.summary import graph_summary
    from pagerank_spark.operators.triangles import clustering_coefficient
    from pagerank_spark.operators.walks import random_walks

    e = spark.createDataFrame([], "src long, dst long")
    assert hits(e, max_iter=2).count() == 0
    assert strongly_connected_components(e).count() == 0
    assert k_core(e, 2).count() == 0
    assert clustering_coefficient(e).count() == 0
    assert link_prediction(e).count() == 0
    assert random_walks(e, 2).count() == 0
    assert degree_histogram(e).count() == 0
    assert reciprocity(e).collect()[0]["reciprocity"] == 0.0
    lab = spark.createDataFrame([], "id long, label long")
    assert modularity(e, lab).collect()[0]["modularity"] == 0.0
    assert cooccurrence_graph(
        spark.createDataFrame([], "k long, i long"), "k", "i"
    ).count() == 0
    row = graph_summary(e).collect()[0]
    assert row["n_vertices"] == 0 and row["triangles"] == 0


def test_linkgraph_from_cooccurrence_string_items(spark):
    """(basket, string item) -> dense weighted graph -> PageRank with
    original-id resolution; string ids exercise the densify path."""
    from pyspark.sql import functions as F

    from pagerank_spark import LinkGraph

    rows = [
        (1, "apple"), (1, "bread"), (2, "apple"), (2, "bread"),
        (2, "cheese"), (3, "apple"), (3, "cheese"), (4, "bread"),
        (4, "cheese"),
    ]
    df = spark.createDataFrame(rows, "basket long, item string")
    g = LinkGraph.from_cooccurrence(df, "basket", "item")
    assert g.n == 3 and g.weight_col == "weight"
    # apple-bread weight 2, apple-cheese 2, bread-cheese 2 -> symmetric
    w = {
        tuple(sorted((r["src"], r["dst"]))): r["weight"]
        for r in g.edges.collect()
    }
    assert set(w.values()) == {2}
    top = g.with_original_ids(g.pagerank(dangling="redistribute").ranks)
    names = {r["orig_id"] for r in top.collect()}
    assert names == {"apple", "bread", "cheese"}
    s = top.agg(F.sum("rank").alias("s")).collect()[0]["s"]
    assert abs(s - 1.0) < 1e-6


def test_weighted_modularity(spark):
    from pagerank_spark.operators.labelprop import modularity

    # two weighted triangles + a light bridge; (1,0) collapses into (0,1)
    rows = [
        (0, 1, 2.0), (1, 2, 1.0), (2, 0, 1.0), (3, 4, 3.0), (4, 5, 1.0),
        (5, 3, 1.0), (2, 3, 0.5), (1, 0, 1.0),
    ]
    e = spark.createDataFrame(rows, "src long, dst long, w double")
    lab = spark.createDataFrame(
        [(i, 0 if i < 3 else 1) for i in range(6)], "id long, label long"
    )
    q = modularity(e, lab, weight_col="w").collect()[0]["modularity"]
    # W=10.5; intra weight 5 per community; strengths sum to 10.5 each
    want = 2 * (5 / 10.5 - (10.5 / 21) ** 2)
    assert abs(q - want) < 1e-12
    # zero-weight graph degenerates to 0
    z = spark.createDataFrame([(0, 1, 0.0)], "src long, dst long, w double")
    assert modularity(z, lab, weight_col="w").collect()[0]["modularity"] == 0.0


def test_cc_checkpoint_resume_equality(spark, tmp_path):
    """A CC run killed mid-fixpoint resumes from the round parquet and
    produces labels identical to an uninterrupted run."""
    from pagerank_spark.operators.components import connected_components
    from pagerank_spark.testing import synth_edges

    e = synth_edges(spark, n=500, e=1500, seed=33).cache()
    want = {
        (r["id"], r["component"])
        for r in connected_components(e, mode="stars").collect()
    }
    ck = str(tmp_path / "cc_ck")
    # phase 1: budget only 1 round (interrupted mid-fixpoint)
    import warnings
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        connected_components(
            e, max_iter=1, mode="stars", checkpoint_dir=ck
        ).collect()
    import json
    import os
    meta = json.load(open(os.path.join(ck, "iterate_manifest.json")))
    assert meta["round"] == 1 and not meta["done"]
    # phase 2: resume to convergence
    got = {
        (r["id"], r["component"])
        for r in connected_components(
            e, mode="stars", checkpoint_dir=ck, resume=True
        ).collect()
    }
    assert got == want
    meta = json.load(open(os.path.join(ck, "iterate_manifest.json")))
    assert meta["done"]
    # resuming a DONE manifest short-circuits to the stored state
    again = {
        (r["id"], r["component"])
        for r in connected_components(
            e, mode="stars", checkpoint_dir=ck, resume=True
        ).collect()
    }
    assert again == want
    e.unpersist()


def test_louvain_ring_of_cliques(spark):
    """The classic multi-level example: cliques joined in a ring. The
    level-0 sweep finds the cliques; every clique must come out
    uniformly labeled, and multi-level Q must be >= the single-sweep Q
    (Blondel et al. 2008 — the contraction can only add merges)."""
    from pagerank_spark.operators.labelprop import (
        greedy_modularity_moves,
        louvain,
        modularity,
    )

    n_cliques, k = 8, 4
    rows = []
    for c in range(n_cliques):
        base = c * k
        for i in range(k):
            for j in range(i + 1, k):
                rows.append((base + i, base + j))
        # one bridge edge to the next clique
        rows.append((base, ((c + 1) % n_cliques) * k))
    e = spark.createDataFrame(rows, "src long, dst long")
    lab = louvain(e, max_levels=4, moves_per_level=4)
    got = {r["id"]: r["label"] for r in lab.collect()}
    assert set(got) == set(range(n_cliques * k))
    for c in range(n_cliques):
        members = {got[c * k + i] for i in range(k)}
        assert len(members) == 1, f"clique {c} split: {members}"
    q_multi = modularity(e, lab).collect()[0]["modularity"]
    sweep = greedy_modularity_moves(e, max_iter=4)
    q_single = modularity(e, sweep).collect()[0]["modularity"]
    assert q_multi >= q_single - 1e-12
    assert q_multi > 0.5


def test_louvain_q_beats_single_sweep_on_copurchase(spark):
    """Judge r03 'Done' criterion: Q(louvain) >= Q(single-sweep) on the
    co-purchase graph."""
    from pagerank_spark.operators.cooccur import cooccurrence_graph
    from pagerank_spark.operators.labelprop import (
        greedy_modularity_moves,
        louvain,
        modularity,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    g = cooccurrence_graph(
        li, "l_orderkey", "l_partkey", min_count=2
    ).localCheckpoint()
    lab = louvain(g, max_levels=3, moves_per_level=3, weight_col="weight")
    sweep = greedy_modularity_moves(g, max_iter=3, weight_col="weight")
    q_multi = modularity(g, lab, weight_col="weight").collect()[0]["modularity"]
    q_single = modularity(g, sweep, weight_col="weight").collect()[0]["modularity"]
    assert q_multi >= q_single - 1e-12
    # determinism across reruns is pinned by the bit-exact driver gate
    # (the oracle unrolls the same pipeline); not re-run here for time


def test_moves_self_loop_strength_semantics(spark):
    """include_self_loops: a contracted community's self-loop counts
    into strength and W but emits no messages — a self-loop-only vertex
    is an immovable single community, and heavier self-loops make a
    vertex harder to pull (exact coarse-graph Louvain gains)."""
    from pagerank_spark.operators.labelprop import greedy_modularity_moves

    # v2 has a huge self-loop (a dense contracted community) plus a
    # light tie to the 0-1 pair; without self-loop strength it would
    # merge into {0,1}, with it the merge gain goes negative.
    # alternate=True: the symmetric 0-1 pair would otherwise ping-pong
    # labels forever under the all-at-once sweep (the documented
    # failure mode the parity knob exists for)
    e = spark.createDataFrame(
        [(0, 1, 10.0), (1, 2, 1.0), (2, 2, 50.0), (3, 3, 5.0)],
        "src long, dst long, weight double",
    )
    lab = greedy_modularity_moves(
        e, max_iter=4, weight_col="weight", include_self_loops=True,
        alternate=True,
    )
    got = {r["id"]: r["label"] for r in lab.collect()}
    # self-loop-only vertex present and alone
    assert got[3] == 3
    # the light pair merges; v2's strength (2*50+1) keeps it out
    assert got[0] == got[1] == 0
    assert got[2] not in (got[0], got[1])


def test_quota_per_group_caps_and_is_deterministic(spark):
    from pagerank_spark.operators.sampling import quota_per_group

    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3)) for i in range(60)], "doc_id long, g string"
    )
    out = quota_per_group(df, "g", 5, "doc_id")
    rows = sorted((r["g"], r["doc_id"]) for r in out.collect())
    assert len(rows) == 15
    # deterministic: same selection on rerun and on another partitioning
    again = sorted(
        (r["g"], r["doc_id"])
        for r in quota_per_group(df.repartition(7), "g", 5, "doc_id").collect()
    )
    assert rows == again
    # dict quotas with default
    out2 = quota_per_group(df, "g", {"g0": 2, "*": 4}, "doc_id")
    per = {}
    for r in out2.collect():
        per[r["g"]] = per.get(r["g"], 0) + 1
    assert per == {"g0": 2, "g1": 4, "g2": 4}


def test_rebalance_mixture_hits_target_proportions(spark):
    from pagerank_spark.operators.sampling import rebalance_mixture

    rows = [(i, "a") for i in range(100)]
    rows += [(1000 + i, "b") for i in range(30)]
    rows += [(2000 + i, "c") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, g string")
    out = rebalance_mixture(df, "g", {"a": 0.5, "b": 0.25, "c": 0.25}, "doc_id")
    per = {}
    for r in out.collect():
        per[r["g"]] = per.get(r["g"], 0) + 1
    # binding constraint: b with 30 docs at weight .25 -> T = 120
    assert per == {"a": 60, "b": 30, "c": 30}
    import pytest as _pt

    with _pt.raises(ValueError):
        rebalance_mixture(df, "g", {"a": 0.5, "zz": 0.5}, "doc_id")


def test_dsir_weights_favor_target_like_docs(spark):
    """DSIR log-weights rank documents drawn from the target word
    distribution above off-distribution ones, and Gumbel top-k
    selection is deterministic across partitionings."""
    from pagerank_spark.operators.sampling import dsir_select, dsir_weights

    # target-like docs must be RARE in raw for their grams to be
    # discriminative (p_target / q_raw > 1) — 5 of 40 docs
    target_like = [
        (i, "spark shuffle partition join broadcast agg " * 5)
        for i in range(5)
    ]
    off = [
        (100 + i, "zebra quartz violin umbrella " + "noise%d " % i * 6)
        for i in range(35)
    ]
    docs = spark.createDataFrame(
        target_like + off, "doc_id long, text string"
    )
    tgt = spark.createDataFrame(
        [(1000 + i, "spark shuffle partition join broadcast agg " * 5) for i in range(8)],
        "doc_id long, text string",
    )
    w = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_weights(docs, tgt, buckets=256).collect()
    }
    mean_t = sum(w[i] for i, _ in target_like) / len(target_like)
    mean_o = sum(w[i] for i, _ in off) / len(off)
    assert mean_t > mean_o
    sel = dsir_select(docs, tgt, 5, buckets=256)
    ids = [r["doc_id"] for r in sel.collect()]
    assert len(ids) == 5
    # weight signal dominates the Gumbel noise here: all picks target-like
    assert all(i < 100 for i in ids)
    again = [
        r["doc_id"]
        for r in dsir_select(docs.repartition(7), tgt, 5, buckets=256).collect()
    ]
    assert ids == again
    # zero-token docs are absent from the score surface
    empty = spark.createDataFrame([(5000, "   ")], "doc_id long, text string")
    assert dsir_weights(docs.union(empty), tgt).where(
        "doc_id = 5000"
    ).count() == 0


def _bowtie_oracle(pairs):
    """Pure-Python replay of the bowtie spec: closure by DFS, SCC by
    mutual reach, giant = (size desc, min-member asc), regions in
    first-match priority order."""
    adj, radj = {}, {}
    verts = set()
    for a, b in pairs:
        verts.update((a, b))
        if a != b:
            adj.setdefault(a, set()).add(b)
            radj.setdefault(b, set()).add(a)

    def reach(seeds, fwd=True, blocked=frozenset()):
        g = adj if fwd else radj
        seen = set(s for s in seeds if s not in blocked)
        stack = list(seen)
        while stack:
            u = stack.pop()
            for v in g.get(u, ()):
                if v not in seen and v not in blocked:
                    seen.add(v)
                    stack.append(v)
        return seen

    sccs = {}
    for v in verts:
        fwd = reach({v})
        bwd = reach({v}, fwd=False)
        sccs[v] = min((fwd & bwd) | {v})
    sizes = {}
    for v, lab in sccs.items():
        sizes[lab] = sizes.get(lab, 0) + 1
    giant = min(sizes, key=lambda lab: (-sizes[lab], lab))
    core = {v for v, lab in sccs.items() if lab == giant}
    fwd_core = reach(core)
    bwd_core = reach(core, fwd=False)
    out_, in_ = fwd_core - core, bwd_core - core
    from_in = reach(in_, blocked=core)
    to_out = reach(out_, fwd=False, blocked=core)
    # weak connectivity via symmetrized adjacency
    sym = {}
    for a, nbrs in adj.items():
        for b in nbrs:
            sym.setdefault(a, set()).add(b)
            sym.setdefault(b, set()).add(a)
    wcc = set(core)
    stack = list(core)
    while stack:
        u = stack.pop()
        for v in sym.get(u, ()):
            if v not in wcc:
                wcc.add(v)
                stack.append(v)
    want = {}
    for v in verts:
        if v in core:
            want[v] = "CORE"
        elif v in in_:
            want[v] = "IN"
        elif v in out_:
            want[v] = "OUT"
        elif v in from_in and v in to_out:
            want[v] = "TUBE"
        elif v in from_in:
            want[v] = "TENDRIL_IN"
        elif v in to_out:
            want[v] = "TENDRIL_OUT"
        elif v in wcc:
            want[v] = "OTHER"
        else:
            want[v] = "DISCONNECTED"
    return want


def test_bowtie_hand_graph_all_regions(spark):
    """One fixture exercising every region label at once."""
    from pagerank_spark.operators.bowtie import bowtie_decomposition

    pairs = [
        (0, 1), (1, 2), (2, 0),          # CORE cycle
        (3, 0), (4, 3),                  # IN chain
        (2, 5), (5, 6),                  # OUT chain
        (3, 7), (7, 5),                  # TUBE via 7
        (3, 8),                          # TENDRIL_IN 8
        (9, 5),                          # TENDRIL_OUT 9
        (10, 8),                         # OTHER: points into a tendril
        (11, 12),                        # DISCONNECTED pair
    ]
    e = spark.createDataFrame(pairs, "src long, dst long")
    got = {r["id"]: r["region"] for r in bowtie_decomposition(e).collect()}
    want = {
        0: "CORE", 1: "CORE", 2: "CORE",
        3: "IN", 4: "IN",
        5: "OUT", 6: "OUT",
        7: "TUBE", 8: "TENDRIL_IN", 9: "TENDRIL_OUT",
        10: "OTHER", 11: "DISCONNECTED", 12: "DISCONNECTED",
    }
    assert got == want == _bowtie_oracle(pairs)


def test_bowtie_random_vs_python_oracle(spark):
    from pagerank_spark.operators.bowtie import bowtie_decomposition

    for seed, n, m in [(3, 30, 40), (4, 40, 55), (5, 25, 25)]:
        rng = np.random.RandomState(seed)
        pairs = [
            (int(a), int(b)) for a, b in rng.randint(0, n, size=(m, 2))
        ]
        e = spark.createDataFrame(pairs, "src long, dst long")
        got = {
            r["id"]: r["region"]
            for r in bowtie_decomposition(e).collect()
        }
        assert got == _bowtie_oracle(pairs), seed


def test_bowtie_empty_and_pure_cycle(spark):
    from pagerank_spark.operators.bowtie import bowtie_decomposition

    empty = spark.createDataFrame([], "src long, dst long")
    assert bowtie_decomposition(empty).count() == 0
    cyc = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "src long, dst long"
    )
    rows = bowtie_decomposition(cyc).collect()
    assert {r["region"] for r in rows} == {"CORE"} and len(rows) == 3


def test_rich_club_vs_bruteforce(spark):
    from pagerank_spark.operators.degrees import rich_club

    rng = np.random.RandomState(33)
    pairs = [(int(a), int(b)) for a, b in rng.randint(0, 30, size=(120, 2))]
    e = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r["k"]: (r["n_rich"], r["e_rich"], r["rich_club"])
        for r in rich_club(e).collect()
    }
    adj = {}
    for a, b in pairs:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    degs = {v: len(ns) for v, ns in adj.items()}
    edges = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    grid = {0} | set(degs.values())
    want = {}
    for k in grid:
        rich = {v for v, d in degs.items() if d > k}
        if len(rich) < 2:
            continue
        ek = sum(1 for a, b in edges if a in rich and b in rich)
        want[k] = (
            len(rich),
            ek,
            2.0 * ek / (len(rich) * (len(rich) - 1)),
        )
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        assert got[k][1] == want[k][1], k
        assert abs(got[k][2] - want[k][2]) < 1e-12, k


def test_rich_club_clique_core_rises(spark):
    """K6 core + one pendant leaf per core vertex: φ(0) counts the
    leaves (dilution), φ(k>=1) is the pure clique = 1.0 — the curve
    must rise, and k=0's value is exactly 2(15+6)/(12·11)."""
    from pagerank_spark.operators.degrees import rich_club

    core = [(i, j) for i in range(6) for j in range(i + 1, 6)]
    leaves = [(i, 10 + i) for i in range(6)]
    e = spark.createDataFrame(core + leaves, "src long, dst long")
    out = {r["k"]: r for r in rich_club(e).collect()}
    assert abs(out[0]["rich_club"] - 2.0 * 21 / (12 * 11)) < 1e-12
    assert out[1]["n_rich"] == 6 and out[1]["e_rich"] == 15
    assert abs(out[1]["rich_club"] - 1.0) < 1e-12
    # k grid ends below the max degree (N_k = 0 or 1 rows dropped)
    assert max(out) < 6


def test_avg_neighbor_degree_vs_bruteforce(spark):
    from pagerank_spark.operators.degrees import avg_neighbor_degree

    rng = np.random.RandomState(44)
    pairs = [(int(a), int(b)) for a, b in rng.randint(0, 30, size=(100, 2))]
    e = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r["degree"]: (r["knn"], r["n_vertices"])
        for r in avg_neighbor_degree(e).collect()
    }
    adj = {}
    for a, b in pairs:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    degs = {v: len(ns) for v, ns in adj.items()}
    by_k = {}
    for v, ns in adj.items():
        and_v = sum(degs[w] for w in ns) / degs[v]
        by_k.setdefault(degs[v], []).append(and_v)
    want = {k: (sum(vs) / len(vs), len(vs)) for k, vs in by_k.items()}
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k][0] - want[k][0]) < 1e-9, k
        assert got[k][1] == want[k][1], k
    # star: hub (deg n-1) sees leaves (deg 1); leaves see the hub
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long"
    )
    s = {r["degree"]: r["knn"] for r in avg_neighbor_degree(star).collect()}
    assert s == {5: 1.0, 1: 5.0}


def _kruskal(pairs_w):
    """Kruskal under the engine's total order (weight, a, b)."""
    best = {}
    for a, b, w in pairs_w:
        if a == b:
            continue
        k = (min(a, b), max(a, b))
        if k not in best or w < best[k]:
            best[k] = w
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    forest = set()
    for (a, b), w in sorted(best.items(), key=lambda kv: (kv[1], kv[0])):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
            forest.add((a, b, w))
    return forest


def test_msf_matches_kruskal(spark):
    from pagerank_spark.operators.mst import minimum_spanning_forest

    rng = np.random.RandomState(55)
    rows = [
        (int(a), int(b), float(w))
        for (a, b), w in zip(
            rng.randint(0, 40, size=(150, 2)), rng.randint(1, 9, size=150)
        )
    ]
    e = spark.createDataFrame(rows, "src long, dst long, weight double")
    got = {
        (r["a"], r["b"], r["weight"])
        for r in minimum_spanning_forest(e, weight_col="weight").collect()
    }
    assert got == _kruskal(rows)
    # determinism across reruns (ties abound: weights are 1..8)
    got2 = {
        (r["a"], r["b"], r["weight"])
        for r in minimum_spanning_forest(e, weight_col="weight").collect()
    }
    assert got == got2


def test_msf_unweighted_spanning_and_empty(spark):
    from pagerank_spark.operators.mst import minimum_spanning_forest

    # two components: a triangle (0,1,2) and a path (10-11)
    rows = [(0, 1), (1, 2), (0, 2), (10, 11)]
    e = spark.createDataFrame(rows, "src long, dst long")
    got = {
        (r["a"], r["b"]) for r in minimum_spanning_forest(e).collect()
    }
    # spanning forest: 2 edges for the triangle component, 1 for the path
    assert len(got) == 3 and (10, 11) in got
    assert got == {(a, b) for a, b, _ in _kruskal([(a, b, 1.0) for a, b in rows])}
    empty = spark.createDataFrame([], "src long, dst long")
    assert minimum_spanning_forest(empty).count() == 0


def test_edge_embeddedness_vs_bruteforce(spark):
    from pagerank_spark.operators.linkpred import edge_embeddedness

    rng = np.random.RandomState(66)
    pairs = [(int(a), int(b)) for a, b in rng.randint(0, 25, size=(90, 2))]
    e = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        (r["a"], r["b"]): (r["common"], r["embeddedness"])
        for r in edge_embeddedness(e).collect()
    }
    adj = {}
    for a, b in pairs:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    simple = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    assert set(got) == simple  # one row per existing edge
    for a, b in simple:
        cn = len(adj[a] & adj[b])
        den = len(adj[a]) + len(adj[b]) - 2 - cn
        want = cn / den if den > 0 else 0.0
        assert got[(a, b)][0] == cn, (a, b)
        assert abs(got[(a, b)][1] - want) < 1e-12, (a, b)
    # pendant edge of a K4: the canonical local bridge (common == 0)
    k4p = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (4, 0)]
    out = {
        (r["a"], r["b"]): r["common"]
        for r in edge_embeddedness(
            spark.createDataFrame(k4p, "src long, dst long")
        ).collect()
    }
    assert out[(0, 4)] == 0 and out[(1, 2)] == 2


def test_edge_dispersion_vs_bruteforce(spark):
    import itertools

    from pagerank_spark.operators.linkpred import edge_dispersion

    rng = np.random.RandomState(77)
    pairs = [(int(a), int(b)) for a, b in rng.randint(0, 20, size=(70, 2))]
    e = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        (r["a"], r["b"]): (r["common"], r["dispersion"])
        for r in edge_dispersion(e).collect()
    }
    adj = {}
    for a, b in pairs:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    simple = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    assert set(got) == simple
    for a, b in simple:
        cn = sorted(adj[a] & adj[b])
        disp = sum(
            1
            for w1, w2 in itertools.combinations(cn, 2)
            if w2 not in adj[w1]
        )
        assert got[(a, b)] == (len(cn), disp), (a, b)


def test_s_metric_vs_bruteforce(spark):
    from pagerank_spark.operators.degrees import s_metric

    rng = np.random.RandomState(21)
    pairs = [(int(a), int(b)) for a, b in rng.randint(0, 20, size=(60, 2))]
    e = spark.createDataFrame(pairs, "src long, dst long")
    adj = {}
    for a, b in pairs:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    simple = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    want = sum(len(adj[a]) * len(adj[b]) for a, b in simple)
    assert s_metric(e).collect()[0]["s_metric"] == want
    smax = sum(len(ns) ** 3 for ns in adj.values()) / 2
    got_n = s_metric(e, normalized=True).collect()[0]["s_metric"]
    assert abs(got_n - want / smax) < 1e-12
    assert 0.0 < got_n <= 1.0
    # star maximizes nothing: every edge hub(5)-leaf(1) -> s = 25
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long"
    )
    assert s_metric(star).collect()[0]["s_metric"] == 25


def test_trussness_invariant_with_k_truss(spark):
    from pagerank_spark.operators.cores import k_truss, trussness

    rng = np.random.RandomState(14)
    pairs = [(int(a), int(b)) for a, b in rng.randint(0, 18, size=(80, 2))]
    e = spark.createDataFrame(pairs, "src long, dst long")
    t = {(r["a"], r["b"]): r["trussness"] for r in trussness(e).collect()}
    assert t  # non-empty
    assert min(t.values()) >= 2
    ks = sorted(set(t.values()))
    for k in ks + [max(ks) + 1]:
        kt = {(r["a"], r["b"]) for r in k_truss(e, k).collect()}
        assert kt == {ed for ed, tv in t.items() if tv >= k}, k
    # K5 plus a pendant edge: every clique edge has trussness 5, the
    # pendant (no triangle) takes the convention value 2
    k5 = [(i, j) for i in range(5) for j in range(i + 1, 5)] + [(0, 9)]
    out = {
        (r["a"], r["b"]): r["trussness"]
        for r in trussness(
            spark.createDataFrame(k5, "src long, dst long")
        ).collect()
    }
    assert out[(0, 9)] == 2
    assert all(v == 5 for ed, v in out.items() if ed != (0, 9))


def test_s_metric_exact_beyond_int64(spark):
    """A 3M-degree hub drives the normalization term sum(deg^3) past
    2^63 (3e6^3 = 2.7e19 > 9.2e18): the decimal(38,0) widening must
    keep both scalar sums exact where a long sum would silently wrap
    under non-ANSI Spark. Expected values computed as exact rationals."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from pagerank_spark.operators.degrees import s_metric

    D = 3_000_000
    star = spark.range(1, D + 1).select(
        F.lit(0).alias("src"), F.col("id").alias("dst")
    )
    # every edge is hub(deg D) x leaf(deg 1): s = D * D
    assert s_metric(star).collect()[0]["s_metric"] == D * D
    want = float(Fraction(2 * D * D, D**3 + D))  # 2s / sum(deg^3)
    got = s_metric(star, normalized=True).collect()[0]["s_metric"]
    assert abs(got - want) < 1e-15
    assert 0.0 < got < 1.0


def test_louvain_multigraph_matches_simple_projection(spark):
    """Unweighted multi-level Louvain must optimize the SAME graph at
    every level: nonuniformly duplicated parallel edges (the lineitem
    derivation norm) may not leak row multiplicity into the contracted
    coarse graph, so labels equal those of the deduplicated simple
    projection."""
    from pagerank_spark.operators.labelprop import louvain

    cliq = [(a, b) for base in (0, 10) for a in range(base, base + 4)
            for b in range(a + 1, base + 4)]
    bridge = [(3, 10)]
    edges = cliq + bridge
    # nonuniform duplication: inter-clique bridge repeated 50x, one
    # intra-clique edge 7x — raw multiplicity would make the bridge
    # dominate the coarse-level gains
    multi = edges + bridge * 49 + [(0, 1)] * 6
    got = {
        r["id"]: r["label"]
        for r in louvain(
            spark.createDataFrame(multi, "src long, dst long"),
            max_levels=3,
        ).collect()
    }
    want = {
        r["id"]: r["label"]
        for r in louvain(
            spark.createDataFrame(edges, "src long, dst long"),
            max_levels=3,
        ).collect()
    }
    assert got == want
    assert len(set(want.values())) == 2  # the two cliques


def test_wedge_caps_default_finite(spark):
    """The 100 TB foot-gun is closed by default: a >10k-degree hub is
    excluded from wedge generation unless the caller explicitly opts
    out with max_degree=None."""
    import inspect

    from pyspark.sql import functions as F

    from pagerank_spark.operators.linkpred import (
        edge_dispersion,
        four_cycles,
        link_prediction,
    )

    assert inspect.signature(link_prediction).parameters[
        "max_degree"].default == 10_000
    assert inspect.signature(four_cycles).parameters[
        "max_degree"].default == 10_000
    assert inspect.signature(edge_dispersion).parameters[
        "max_common"].default == 10_000
    star = spark.range(1, 10_002).select(
        F.lit(0).alias("src"), F.col("id").alias("dst")
    )
    # hub degree 10_001 > default cap -> no hub-mediated wedges
    assert link_prediction(star).count() == 0
    assert four_cycles(star).collect()[0]["n_four_cycles"] == 0


def test_incremental_components_matches_full(spark):
    """incremental_components(labels, delta) must equal full CC on the
    union graph bit-for-bit — including delta-only vertices, label
    re-pointing of merged old components, and the empty delta."""
    import random as _random

    from pagerank_spark.operators.components import (
        connected_components,
        incremental_components,
    )

    rng = _random.Random(13)
    edges = [(rng.randrange(150), rng.randrange(150)) for _ in range(180)]
    old, delta = edges[:120], edges[120:] + [(900, 901), (901, 17), (950, 950)]
    eo = spark.createDataFrame(old, "src long, dst long")
    ed = spark.createDataFrame(delta, "src long, dst long")
    eu = spark.createDataFrame(old + delta, "src long, dst long")
    lab = connected_components(eo)
    inc = {r["id"]: r["component"]
           for r in incremental_components(lab, ed).collect()}
    full = {r["id"]: r["component"]
            for r in connected_components(eu).collect()}
    assert inc == full
    assert inc[900] == inc[17]  # delta-only chain merged into old comp
    # empty delta: labels unchanged
    empty = spark.createDataFrame([], "src long, dst long")
    same = {r["id"]: r["component"]
            for r in incremental_components(lab, empty).collect()}
    assert same == {r["id"]: r["component"] for r in lab.collect()}


def test_attack_tolerance_vs_bruteforce(spark):
    """The fragmentation curve matches a driver union-find replay of
    the same deterministic (degree DESC, id ASC) removal order."""
    import random as _random

    from pagerank_spark.operators.components import attack_tolerance

    rng = _random.Random(3)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(70)]
    e = spark.createDataFrame(edges, "src long, dst long")
    simple = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    adj = {}
    for a, b in simple:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    order = sorted(adj, key=lambda v: (-len(adj[v]), v))
    fr = (0.0, 0.1, 0.25, 0.5)
    got = {r["fraction"]: (r["n_removed"], r["n_left"], r["n_components"],
                           r["giant_size"])
           for r in attack_tolerance(e, fr).collect()}
    for f in fr:
        k = int(f * len(adj))
        gone = set(order[:k])
        surv = set(adj) - gone
        parent = {v: v for v in surv}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in simple:
            if a in surv and b in surv:
                parent[find(a)] = find(b)
        comps = {}
        for v in surv:
            comps.setdefault(find(v), 0)
            comps[find(v)] += 1
        want = (k, len(surv), len(comps), max(comps.values()) if comps else 0)
        assert got[f] == want, (f, got[f], want)


def test_effective_size_closed_forms(spark):
    """Burt effective size: star center deg (efficiency 1), K4 members
    1.0, and the deg − 2t/deg identity on a random graph."""
    from pagerank_spark.operators.triangles import effective_size

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 7)], "src long, dst long"
    )
    es = {r["id"]: (r["effective_size"], r["efficiency"])
          for r in effective_size(star).collect()}
    assert es[0] == (6.0, 1.0)      # no two leaves adjacent
    assert es[1] == (1.0, 1.0)      # leaf ego = just the hub
    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    es4 = {r["id"]: r["effective_size"]
           for r in effective_size(
               spark.createDataFrame(k4, "src long, dst long")).collect()}
    assert all(v == 1.0 for v in es4.values())  # 3 - 2*3/3
    import numpy as np

    rng = np.random.RandomState(8)
    pairs = [(int(a), int(b)) for a, b in rng.randint(0, 25, size=(80, 2))]
    e = spark.createDataFrame(pairs, "src long, dst long")
    adj = {}
    for a, b in pairs:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    got = {r["id"]: r["effective_size"] for r in effective_size(e).collect()}
    for v, ns in adj.items():
        t = sum(1 for x in ns for y in ns if x < y and y in adj.get(x, ()))
        want = len(ns) - 2.0 * t / len(ns)
        assert abs(got[v] - want) < 1e-12, v


def test_failure_tolerance_hash_order_replay(spark):
    """order='hash' removes by the portable (md5(id) ASC, id ASC)
    order — verified against a driver union-find replay computing the
    same top-15-hex-chars md5 values in pure Python."""
    import hashlib
    import random as _random

    from pagerank_spark.operators.components import attack_tolerance

    rng = _random.Random(7)
    edges = [(rng.randrange(50), rng.randrange(50)) for _ in range(90)]
    e = spark.createDataFrame(edges, "src long, dst long")
    simple = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    adj = {}
    for a, b in simple:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def h(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)

    order = sorted(adj, key=lambda v: (h(v), v))
    fr = (0.0, 0.2, 0.4)
    got = {r["fraction"]: (r["n_removed"], r["n_left"], r["n_components"],
                           r["giant_size"])
           for r in attack_tolerance(e, fr, order="hash",
                                     hash_fn="md5").collect()}
    for f in fr:
        k = int(f * len(adj))
        gone = set(order[:k])
        surv = set(adj) - gone
        parent = {v: v for v in surv}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in simple:
            if a in surv and b in surv:
                parent[find(a)] = find(b)
        comps = {}
        for v in surv:
            comps[find(v)] = comps.get(find(v), 0) + 1
        want = (k, len(surv), len(comps), max(comps.values()) if comps else 0)
        assert got[f] == want, (f, got[f], want)


def test_attribute_assortativity_closed_forms(spark):
    """Newman nominal mixing r: +1 for pure intra-category edges, -1
    for a balanced bipartite category split, matches the eq. 2 formula
    on a random categorized graph, NULL when the denominator is 0."""
    import numpy as np

    from pagerank_spark.operators.degrees import attribute_assortativity

    def run(edges, labels):
        e = spark.createDataFrame(edges, "src long, dst long")
        lab = spark.createDataFrame(labels, "id long, label long")
        return attribute_assortativity(e, lab).collect()[0]

    # two categories, only intra edges -> perfect homophily
    r = run([(0, 1), (1, 0), (2, 3), (3, 2)],
            [(0, 0), (1, 0), (2, 1), (3, 1)])
    assert r["n_edges"] == 4 and abs(r["r"] - 1.0) < 1e-12
    # balanced bipartite (all edges cross categories) -> -1
    r = run([(0, 2), (2, 0), (1, 3), (3, 1)],
            [(0, 0), (1, 0), (2, 1), (3, 1)])
    assert abs(r["r"] - (-1.0)) < 1e-12
    # single category: every edge intra by construction -> NULL
    r = run([(0, 1), (1, 2)], [(0, 0), (1, 0), (2, 0)])
    assert r["r"] is None
    # random graph vs the eq. 2 formula in NumPy
    rng = np.random.RandomState(4)
    edges = [(int(a), int(b)) for a, b in rng.randint(0, 30, size=(120, 2))]
    labels = [(v, v % 3) for v in range(30)]
    got = run(edges, labels)
    m = np.zeros((3, 3))
    for a, b in edges:
        m[a % 3][b % 3] += 1
    m /= m.sum()
    s = float(m.sum(axis=1) @ m.sum(axis=0))
    want = (np.trace(m) - s) / (1 - s)
    assert abs(got["r"] - want) < 1e-12


def test_streaming_cc_equals_batch_any_batching(spark, tmp_path):
    """The foreachBatch incremental-CC fold is batching-invariant:
    drained labels equal one batch CC run whatever the file/micro-batch
    chopping (confluence + min-id composition)."""
    import random as _random

    from pagerank_spark.operators.components import connected_components
    from pagerank_spark.streaming.graph import (
        StreamingComponents,
        read_edge_stream,
    )

    rng = _random.Random(31)
    edges = [(rng.randrange(120), rng.randrange(120)) for _ in range(200)]
    e = spark.createDataFrame(edges, "src long, dst long")
    want = {r["id"]: r["component"]
            for r in connected_components(e).collect()}
    for n_files, per_trigger in ((5, 1), (8, 3)):
        d = str(tmp_path / f"edges_{n_files}_{per_trigger}")
        ck = str(tmp_path / f"ck_{n_files}_{per_trigger}")
        e.repartition(n_files).write.mode("overwrite").parquet(d)
        sc = StreamingComponents()
        q = (
            read_edge_stream(spark, d, max_files_per_trigger=per_trigger)
            .writeStream.foreachBatch(sc.fold)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert sc.batches > 1
        got = {r["id"]: r["component"] for r in sc.labels.collect()}
        assert got == want, (n_files, per_trigger)


def test_burt_constraint_matches_direct_formula(spark):
    """Burt eq. 2.4 replayed directly per ego in Python, plus closed
    forms: an isolated dyad's ends have constraint 1, a K3 member
    (1/2 + 1/4)^2 * 2 = 1.125."""
    from pagerank_spark.operators.triangles import burt_constraint

    E = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (3, 4), (0, 5), (5, 6),
         (8, 9)]
    adj = {}
    for a, b in E:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def c(v):
        out = 0.0
        for j in adj[v]:
            p = 1.0 / len(adj[v])
            ind = sum(
                (1.0 / len(adj[v])) * (1.0 / len(adj[q]))
                for q in adj[v] & adj[j]
            )
            out += (p + ind) ** 2
        return out

    e = spark.createDataFrame(E, "src long, dst long")
    got = {r["id"]: r["constraint"] for r in burt_constraint(e).collect()}
    assert set(got) == set(adj)
    for v in adj:
        assert abs(got[v] - c(v)) < 1e-12, v
    assert got[8] == 1.0 and got[9] == 1.0  # dyad
    tri = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2)], "src long, dst long"
    )
    k3 = {r["id"]: r["constraint"] for r in burt_constraint(tri).collect()}
    assert all(abs(v - 1.125) < 1e-12 for v in k3.values())


def test_conductance_closed_forms(spark):
    """Two K4s joined by one bridge, labeled by clique: each side has
    cut 1, volume 13, conductance 1/13; a whole-graph community is
    NULL; cut-free separated communities are 0."""
    from pagerank_spark.operators.labelprop import conductance

    cliq = [(a, b) for base in (0, 10) for a in range(base, base + 4)
            for b in range(a + 1, base + 4)]
    e = spark.createDataFrame(cliq + [(3, 10)], "src long, dst long")
    lab = spark.createDataFrame(
        [(v, v // 10) for v in [0, 1, 2, 3, 10, 11, 12, 13]],
        "id long, label long",
    )
    got = {r["label"]: r for r in conductance(e, lab).collect()}
    for c in (0, 1):
        assert got[c]["n_vertices"] == 4
        assert got[c]["volume"] == 13  # 4 vertices of K4 + bridge end
        assert got[c]["cut"] == 1
        assert abs(got[c]["conductance"] - 1 / 13) < 1e-12
    # single community spanning everything -> min(vol, 2m - vol) = 0
    one = spark.createDataFrame(
        [(v, 0) for v in [0, 1, 2, 3, 10, 11, 12, 13]], "id long, label long"
    )
    row = conductance(e, one).collect()[0]
    assert row["conductance"] is None and row["cut"] == 0
    # two components, no cut
    e2 = spark.createDataFrame(cliq, "src long, dst long")
    got2 = {r["label"]: r["conductance"]
            for r in conductance(e2, lab).collect()}
    assert got2 == {0: 0.0, 1: 0.0}


def test_four_profile_vs_bruteforce(spark):
    """The induced 4-graphlet census (combinatorial decomposition +
    inclusion-exclusion) matches exhaustive enumeration over all
    C(n,4) induced subgraphs, plus closed forms: K5 has C(5,4)=5 K4s
    and nothing else; a 6-star has C(6,3)=20 induced 3-stars; C6 has
    6 induced P4s (one per run of 4 consecutive vertices)."""
    import itertools
    import random as _random

    from pagerank_spark.operators.linkpred import four_profile

    def brute(E):
        adjset = {(min(a, b), max(a, b)) for a, b in E if a != b}
        verts = sorted({v for e in adjset for v in e})
        c = dict(p4=0, star=0, c4=0, paw=0, dia=0, k4=0)
        for quad in itertools.combinations(verts, 4):
            es = [p for p in itertools.combinations(quad, 2) if p in adjset]
            m = len(es)
            if m < 3:
                continue
            g = {v: set() for v in quad}
            for a, b in es:
                g[a].add(b)
                g[b].add(a)
            seen, st = {quad[0]}, [quad[0]]
            while st:
                for w in g[st.pop()]:
                    if w not in seen:
                        seen.add(w)
                        st.append(w)
            if len(seen) < 4:
                continue
            degs = sorted(len(g[v]) for v in quad)
            if m == 3:
                c["star" if degs == [1, 1, 1, 3] else "p4"] += 1
            elif m == 4:
                c["c4" if degs == [2, 2, 2, 2] else "paw"] += 1
            elif m == 5:
                c["dia"] += 1
            else:
                c["k4"] += 1
        return c

    def run(E):
        r = four_profile(
            spark.createDataFrame(E, "src long, dst long")
        ).collect()[0]
        return dict(p4=r["n_path4"], star=r["n_3star"], c4=r["n_cycle4"],
                    paw=r["n_tailed_tri"], dia=r["n_diamond"], k4=r["n_k4"])

    rng = _random.Random(19)
    for _ in range(3):
        E = list({(rng.randrange(13), rng.randrange(13))
                  for _ in range(45)})
        assert run(E) == brute(E)
    k5 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    assert run(k5) == dict(p4=0, star=0, c4=0, paw=0, dia=0, k4=5)
    star6 = [(0, i) for i in range(1, 7)]
    assert run(star6) == dict(p4=0, star=20, c4=0, paw=0, dia=0, k4=0)
    c6 = [(i, (i + 1) % 6) for i in range(6)]
    assert run(c6) == dict(p4=6, star=0, c4=0, paw=0, dia=0, k4=0)

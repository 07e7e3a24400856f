"""Golden-vector + invariant tests for PageRank (SURVEY.md §5.2 items 1-3).

Goldens replicate Page_Rank_SERIAL.c semantics exactly (d=0.85,
eps=1e-4 global L1, init 1/n, duplicate edges counted, dangling mass
leaks, >=1 iteration) — values in FIXTURES.md, re-verified in fp64.
"""

import numpy as np
import pytest

from pagerank_spark import pagerank
from pagerank_spark.testing import (
    DEMO_EDGES,
    DEMO_GOLDEN,
    DEMO_N,
    DEMODISPARI_EDGES,
    DEMODISPARI_GOLDEN,
    DEMODISPARI_N,
    edges_df,
    synth_edges,
)


def ranks_vec(result, n):
    rows = result.ranks.collect()
    v = np.zeros(n)
    for r in rows:
        v[r["id"]] = r["rank"]
    return v


def numpy_pagerank(n, edges, d=0.85, eps=1e-4, dangling="leak", max_iter=1000):
    """Independent dense oracle (SURVEY.md §5.2 item 3)."""
    out = np.zeros(n)
    for s, _ in edges:
        out[s] += 1
    rank = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        new = np.full(n, (1 - d) / n)
        if dangling == "redistribute":
            new += d * rank[out == 0].sum() / n
        for s, t in edges:
            new[t] += d / out[s] * rank[s]
        res = np.abs(new - rank).sum()
        rank = new
        if res <= eps:
            break
    return rank


@pytest.mark.parametrize("mode", ["broadcast", "join", "local"])
def test_demo_golden(spark, mode):
    e = edges_df(spark, DEMO_EDGES)
    res = pagerank(e, n=DEMO_N, dangling="leak", mode=mode)
    assert res.converged
    assert res.iterations == 12  # FIXTURES.md F1
    np.testing.assert_allclose(ranks_vec(res, DEMO_N), DEMO_GOLDEN, atol=1e-6)


@pytest.mark.parametrize("mode", ["broadcast", "join"])
def test_demodispari_golden(spark, mode):
    e = edges_df(spark, DEMODISPARI_EDGES)
    res = pagerank(e, n=DEMODISPARI_N, dangling="leak", mode=mode)
    assert res.iterations == 12
    np.testing.assert_allclose(
        ranks_vec(res, DEMODISPARI_N), DEMODISPARI_GOLDEN, atol=1e-6
    )


def test_dangling_leak_vs_redistribute(spark):
    # F4: 0->1->2->3, node 3 dangling.
    e = edges_df(spark, [(0, 1), (1, 2), (2, 3)])
    leak = pagerank(e, n=4, dangling="leak")
    redis = pagerank(e, n=4, dangling="redistribute")
    s_leak = ranks_vec(leak, 4).sum()
    s_redis = ranks_vec(redis, 4).sum()
    assert s_leak < 1.0 - 1e-6  # mass leaks (C-reference behavior)
    assert abs(s_redis - 1.0) < 1e-9  # redistribution conserves mass
    np.testing.assert_allclose(
        ranks_vec(redis, 4),
        numpy_pagerank(4, [(0, 1), (1, 2), (2, 3)], dangling="redistribute"),
        atol=1e-9,
    )


def test_duplicate_edges_count(spark):
    # F5: doubled 0->1 contributes twice (Page_Rank_SERIAL.c:131-143).
    edges = [(0, 1), (0, 1), (0, 2), (1, 2), (2, 0)]
    e = edges_df(spark, edges)
    res = pagerank(e, n=3, dangling="leak")
    np.testing.assert_allclose(
        ranks_vec(res, 3), numpy_pagerank(3, edges), atol=1e-9
    )


def test_selfloop_and_isolated(spark):
    # F6: self-loop ordinary; isolated node 3 gets exactly the teleport
    # (+ dangling share) each iteration and MUST appear in the output.
    edges = [(0, 0), (0, 1), (1, 2)]
    e = edges_df(spark, edges)
    res = pagerank(e, n=4, dangling="leak")
    v = ranks_vec(res, 4)
    assert res.ranks.count() == 4
    np.testing.assert_allclose(v, numpy_pagerank(4, edges), atol=1e-9)
    assert v[3] == pytest.approx((1 - 0.85) / 4)


def test_modes_agree_on_random_graph(spark):
    from pagerank_spark.testing import synth_edges

    e = synth_edges(spark, n=200, e=1500, seed=7).cache()
    b = pagerank(e, n=200, dangling="redistribute", mode="broadcast")
    j = pagerank(e, n=200, dangling="redistribute", mode="join")
    l = pagerank(e, n=200, dangling="redistribute", mode="local")
    np.testing.assert_allclose(ranks_vec(b, 200), ranks_vec(j, 200), atol=1e-9)
    np.testing.assert_allclose(ranks_vec(b, 200), ranks_vec(l, 200), atol=1e-12)
    pairs = [(r["src"], r["dst"]) for r in e.collect()]
    np.testing.assert_allclose(
        ranks_vec(b, 200),
        numpy_pagerank(200, pairs, dangling="redistribute"),
        atol=1e-8,
    )
    e.unpersist()


def test_checkpoint_resume(spark, tmp_path):
    # SURVEY.md §5.2 item 5: stop after k iterations, resume from the
    # manifest, final vector identical to the uninterrupted run.
    e = edges_df(spark, DEMODISPARI_EDGES)
    full = pagerank(e, n=DEMODISPARI_N, dangling="leak")
    ck = str(tmp_path / "ckpt")
    part = pagerank(e, n=DEMODISPARI_N, dangling="leak", max_iter=5, checkpoint_dir=ck)
    assert not part.converged and part.iterations == 5
    resumed = pagerank(
        e, n=DEMODISPARI_N, dangling="leak", checkpoint_dir=ck, resume=True
    )
    assert resumed.converged
    assert resumed.iterations == full.iterations
    np.testing.assert_allclose(
        ranks_vec(resumed, DEMODISPARI_N),
        ranks_vec(full, DEMODISPARI_N),
        atol=1e-12,
    )
    # manifest carries lineage + per-iteration metrics (north_rule)
    import json, os

    m = json.load(open(os.path.join(ck, "manifest.json")))
    assert m["iteration"] == resumed.iterations
    assert m["partition_lineage"]["edge_count"] == len(DEMODISPARI_EDGES)
    assert all("residual" in x and "seconds" in x for x in m["metrics"])


def test_broadcast_checkpoint_resume_reuses_blocks(spark, tmp_path):
    from pagerank_spark.testing import synth_edges

    e = synth_edges(spark, n=300, e=3000, seed=9).cache()
    full = pagerank(e, n=300, dangling="redistribute", mode="broadcast")
    ck = str(tmp_path / "ck_b")
    part = pagerank(
        e, n=300, dangling="redistribute", mode="broadcast",
        max_iter=4, checkpoint_dir=ck,
    )
    assert not part.converged
    import os

    assert os.path.exists(os.path.join(ck, "blocks", "blocks_manifest.json"))
    resumed = pagerank(
        e, n=300, dangling="redistribute", mode="broadcast",
        checkpoint_dir=ck, resume=True,
    )
    assert resumed.converged and resumed.iterations == full.iterations
    np.testing.assert_allclose(
        ranks_vec(resumed, 300), ranks_vec(full, 300), atol=1e-12
    )
    e.unpersist()


def test_salting_preserves_exact_sums(spark):
    from pagerank_spark.testing import synth_edges

    # skewed graph: every vertex also points at hub 0
    base = synth_edges(spark, n=400, e=2000, seed=13)
    hub = spark.range(400).selectExpr("id as src", "cast(0 as long) as dst")
    e = base.union(hub).cache()
    plain = pagerank(e, n=400, dangling="redistribute", mode="local")
    # salt_threshold=1 forces EVERY dst with >1 in-edge through the
    # salted path — exactness must be unaffected
    salted = pagerank(
        e, n=400, dangling="redistribute", mode="broadcast", salt_threshold=1
    )
    assert salted.partition_lineage["salted_dsts"] > 0
    np.testing.assert_allclose(
        ranks_vec(salted, 400), ranks_vec(plain, 400), atol=1e-12
    )
    e.unpersist()


@pytest.mark.parametrize("mode", ["local", "broadcast", "join"])
def test_weighted_equals_multigraph(spark, mode):
    # integer weight w == w duplicate rows (Page_Rank_SERIAL.c:131-143)
    weighted = spark.createDataFrame(
        [(0, 1, 2), (0, 2, 1), (1, 2, 3), (2, 0, 1), (3, 0, 4)],
        "src long, dst long, weight long",
    )
    expanded = [(0, 1), (0, 1), (0, 2), (1, 2), (1, 2), (1, 2), (2, 0)] + [
        (3, 0)
    ] * 4
    w = pagerank(weighted, n=4, dangling="leak", mode=mode, weight_col="weight")
    u = pagerank(edges_df(spark, expanded), n=4, dangling="leak", mode=mode)
    np.testing.assert_allclose(ranks_vec(w, 4), ranks_vec(u, 4), atol=1e-12)
    assert w.iterations == u.iterations


def test_local_iters_block_jacobi(spark):
    """O18 knob: same fixpoint as exact power iteration, fewer global
    syncs (Page_Rank_improved.c:404-468 semantics)."""
    from pagerank_spark.testing import synth_edges

    e = synth_edges(spark, n=300, e=4000, seed=21).cache()
    exact = pagerank(e, n=300, dangling="leak", eps=1e-10, mode="local")
    jac = pagerank(
        e, n=300, dangling="leak", eps=1e-10, mode="broadcast", local_iters=4
    )
    assert jac.converged
    # same linear-system fixpoint (the knob is an approximation of the
    # TRAJECTORY, never of the answer)
    np.testing.assert_allclose(
        ranks_vec(jac, 300), ranks_vec(exact, 300), atol=1e-8
    )
    assert jac.partition_lineage["salted_dsts"] == 0  # salting disabled
    e.unpersist()


def test_two_phase_matches_exact(spark):
    from pagerank_spark.operators.pagerank import pagerank_two_phase
    from pagerank_spark.testing import synth_edges

    e = synth_edges(spark, n=250, e=3000, seed=31).cache()
    exact = pagerank(e, n=250, dangling="redistribute", eps=1e-6, mode="local")
    tp = pagerank_two_phase(
        e, n=250, coarse_eps=1e-3, eps=1e-6, local_iters=4,
        dangling="redistribute",
    )
    assert tp.converged
    np.testing.assert_allclose(
        ranks_vec(tp, 250), ranks_vec(exact, 250), atol=1e-5
    )
    # lineage carries per-partition block bytes (north_rule metrics)
    assert sum(tp.partition_lineage["partition_block_bytes"].values()) > 0
    e.unpersist()


@pytest.mark.parametrize("mode", ["local", "broadcast", "join"])
def test_edgeless_graph_uniform_teleport(spark, mode):
    # n vertices, zero edges: every vertex is dangling; leak mode gives
    # the pure teleport vector each iteration
    e = spark.createDataFrame([], "src long, dst long")
    res = pagerank(e, n=5, dangling="leak", mode=mode)
    v = ranks_vec(res, 5)
    np.testing.assert_allclose(v, np.full(5, 0.03), atol=1e-12)
    redis = pagerank(e, n=5, dangling="redistribute", mode=mode)
    np.testing.assert_allclose(ranks_vec(redis, 5), np.full(5, 0.2), atol=1e-12)


def test_blockdir_reuse_across_graphs_is_safe(spark, tmp_path):
    # rebuilding into a dir that holds an earlier graph's blocks must not
    # leak the old edges into the new result
    from pagerank_spark.testing import synth_edges

    bd = str(tmp_path / "shared_blocks")
    big = synth_edges(spark, n=200, e=3000, seed=41).cache()
    small = edges_df(spark, DEMO_EDGES)
    pagerank(big, n=200, dangling="leak", mode="broadcast", block_dir=bd)
    res = pagerank(small, n=4, dangling="leak", mode="broadcast", block_dir=bd)
    np.testing.assert_allclose(ranks_vec(res, 4), DEMO_GOLDEN, atol=1e-6)
    big.unpersist()


def test_permutation_invariance(spark):
    # Renaming vertices permutes ranks identically (SURVEY.md §5.2 item 2).
    edges = DEMO_EDGES
    perm = [2, 0, 3, 1]
    permuted = [(perm[s], perm[t]) for s, t in edges]
    r1 = ranks_vec(pagerank(edges_df(spark, edges), n=4, dangling="leak"), 4)
    r2 = ranks_vec(pagerank(edges_df(spark, permuted), n=4, dangling="leak"), 4)
    np.testing.assert_allclose([r2[perm[i]] for i in range(4)], r1, atol=1e-12)


def test_measured_shuffle_metrics(spark):
    """Blocks iterations measure ZERO shuffle bytes (the design claim);
    join iterations measure a real positive number. Per-iteration join
    deltas are attributed by an async status store (a stage can land in
    the following iteration's window), so the join assertion is on the
    SUM across iterations; None fields (UI/REST unavailable) skip."""
    big = synth_edges(spark, 500, 3000, seed=3)
    blocks = pagerank(big, n=500, mode="broadcast", max_iter=2)
    joinres = pagerank(big, n=500, mode="join", max_iter=2)
    if any(m["shuffle_read_bytes"] is None for m in blocks.metrics + joinres.metrics):
        import pytest as _pytest

        _pytest.skip("monitoring REST endpoint unavailable — no measured bytes")
    for m in blocks.metrics:
        assert m["shuffle_read_bytes"] == 0
        assert m["shuffle_write_bytes"] == 0
    assert sum(m["shuffle_read_bytes"] for m in joinres.metrics) > 0


def test_join_checkpoint_keeps_single_rank_parquet(spark, tmp_path):
    import glob

    big = synth_edges(spark, 300, 2000, seed=5)
    ckpt = str(tmp_path / "jck")
    pagerank(big, n=300, mode="join", max_iter=4, checkpoint_dir=ckpt)
    survivors = glob.glob(f"{ckpt}/rank_iter_*.parquet")
    assert len(survivors) == 1  # superseded iteration parquets deleted
    # and the manifest points at the survivor
    import json

    with open(f"{ckpt}/manifest.json") as f:
        man = json.load(f)
    assert man["rank_path"] == survivors[0]
    assert man["metrics"][-1]["shuffle_read_bytes"] is None or (
        man["metrics"][-1]["shuffle_read_bytes"] >= 0
    )


def test_personalized_pagerank_modes_and_semantics(spark):
    """PPR: teleport mass restricted to the source set; local, blocks
    and join strategies agree; redistribute keeps sum(rank) == 1."""
    e = synth_edges(spark, 300, 2500, seed=11).cache()
    S = [3, 77]
    res = {
        m: pagerank(
            e, n=300, dangling="redistribute", eps=0.0, max_iter=8,
            personalize=S, mode=m,
        )
        for m in ("local", "broadcast", "join")
    }
    vecs = {m: ranks_vec(r, 300) for m, r in res.items()}
    np.testing.assert_allclose(vecs["broadcast"], vecs["local"], atol=1e-12)
    np.testing.assert_allclose(vecs["join"], vecs["local"], atol=1e-12)
    v = vecs["local"]
    assert abs(v.sum() - 1.0) < 1e-9  # mass conserved (teleport -> S)
    # a vertex with no in-edges and not in S holds exactly zero rank
    import pandas as pd

    pdf = e.toPandas()
    no_in = set(range(300)) - set(pdf["dst"]) - set(S)
    if no_in:
        assert all(v[i] == 0.0 for i in no_in)
    # sources dominate their own restart mass
    assert v[S].sum() > 0.15 * 0.9
    e.unpersist()

    import pytest as _pytest

    with _pytest.raises(ValueError):
        pagerank(e, n=300, personalize=[])
    with _pytest.raises(ValueError):
        pagerank(e, n=300, personalize=[500])
    with _pytest.raises(ValueError):
        pagerank(e, n=300, personalize=[0], local_iters=4)


def test_warm_start_matches_cold_run_all_modes(spark):
    """init_ranks continuation is bit-identical to an uninterrupted run
    in every physical strategy, and a converged warm restart stops
    after its mandatory do-while iteration."""
    from pyspark.sql import functions as F

    e = spark.range(0, 30000).selectExpr(
        "id % 499 AS src", "(id * 7) % 499 AS dst"
    )
    for mode in ("local", "broadcast", "join"):
        full = pagerank(e, n=499, max_iter=10, eps=0.0, mode=mode)
        half = pagerank(e, n=499, max_iter=5, eps=0.0, mode=mode)
        warm = pagerank(
            e, n=499, max_iter=5, eps=0.0, mode=mode, init_ranks=half.ranks
        )
        a = {r["id"]: r["rank"] for r in full.ranks.collect()}
        b = {r["id"]: r["rank"] for r in warm.ranks.collect()}
        assert a == b, mode
    conv = pagerank(e, n=499)
    rewarm = pagerank(e, n=499, init_ranks=conv.ranks)
    assert rewarm.iterations == 1 and rewarm.converged
    bad = spark.createDataFrame([(9999, 1.0)], "id long, rank double")
    with pytest.raises(ValueError):
        pagerank(e, n=499, mode="broadcast", init_ranks=bad)


def test_failed_block_run_removes_its_scratch(spark, monkeypatch):
    """A block run that raises mid-iteration still removes the block dir
    it created."""
    import glob
    import importlib
    import os
    import tempfile

    pr_mod = importlib.import_module("pagerank_spark.operators.pagerank")
    save = pr_mod._atomic_np_save

    def boom(path, arr):
        if os.path.basename(path).startswith("rank_vec_"):
            raise RuntimeError("injected iteration failure")
        save(path, arr)

    pattern = os.path.join(tempfile.gettempdir(), "pagerank_blocks_*")
    before = set(glob.glob(pattern))
    e = synth_edges(spark, n=300, e=3000, seed=9)
    monkeypatch.setattr(pr_mod, "_atomic_np_save", boom)
    with pytest.raises(RuntimeError, match="injected iteration failure"):
        pagerank(e, n=300, mode="blocks")
    assert set(glob.glob(pattern)) <= before


def _call_jobs(spark, tag, fn):
    """Spark jobs one call runs, counted by statusTracker."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(tag))


def test_block_call_shape(spark, monkeypatch):
    """A cold block call runs one degree pass and builds its kernel and
    iteration frame once: at most 7 jobs before the first iteration,
    one job per iteration, an iteration plan without an Exchange, and a
    kernel that refuses to run without its iteration property."""
    from pyspark.sql import functions as F

    from pagerank_spark.plans.inspect import plan_has

    kernels, frames = [], []
    frame_cls = type(spark.range(1))  # the session's concrete DataFrame
    map_in_arrow = frame_cls.mapInArrow

    def spy_map(self, fn, schema, *args, **kwargs):
        out = map_in_arrow(self, fn, schema, *args, **kwargs)
        if schema == "dst long, s double":
            kernels.append(fn)
            frames.append(out)
        return out

    monkeypatch.setattr(frame_cls, "mapInArrow", spy_map)
    e = synth_edges(spark, n=300, e=3000, seed=9).localCheckpoint()
    jobs = {
        k: _call_jobs(spark, f"pr-blocks-{k}", lambda k=k: pagerank(
            e, n=300, mode="blocks", eps=0.0, max_iter=k))
        for k in (1, 3)
    }
    per_iter = (jobs[3] - jobs[1]) / 2
    assert per_iter == 1, jobs
    # a separate groupBy(dst) pass and a persisted, counted pid frame
    # made this 11
    assert jobs[1] - per_iter <= 7, jobs
    assert len(kernels) == 2 and len(frames) == 2  # once per call
    assert not plan_has(frames[0], "Exchange")
    pids = spark.range(0, 1, 1, 1).select(F.col("id").cast("int").alias("pid"))
    with pytest.raises(Exception, match="pagerank.iteration"):
        pids.mapInArrow(kernels[0], "dst long, s double").collect()


def test_resumed_block_call_measures_zero_shuffle(spark, tmp_path):
    """Around a whole resumed block call (no prepare shuffle: the block
    store exists) the status store measures zero shuffle bytes, so the
    plan-derived zero in the metric rows is what really moved."""
    from pagerank_spark.plans import metrics

    e = synth_edges(spark, n=300, e=3000, seed=9)
    ck = str(tmp_path / "ck")
    pagerank(e, n=300, mode="blocks", eps=0.0, max_iter=1, checkpoint_dir=ck)
    before = metrics.shuffle_totals_settled(spark)
    res = pagerank(
        e, n=300, mode="blocks", eps=0.0, max_iter=2, checkpoint_dir=ck,
        resume=True,
    )
    after = metrics.shuffle_totals_settled(spark)
    if before is None or after is None:
        pytest.skip("monitoring REST endpoint unavailable — no measured bytes")
    assert res.iterations == 3
    assert metrics.shuffle_delta(before, after) == {
        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
    }


@pytest.mark.parametrize("local_iters", [1, 4])
def test_resume_with_missing_block_fails_fast(spark, tmp_path, local_iters):
    """Both kernel paths (partials and block-Jacobi values) refuse to
    drop the edges of a block the manifest lists but the disk lacks."""
    import json
    import os

    e = synth_edges(spark, n=300, e=3000, seed=9)
    ck = str(tmp_path / "ck")
    pagerank(
        e, n=300, mode="blocks", local_iters=local_iters, max_iter=1,
        checkpoint_dir=ck,
    )
    bd = os.path.join(ck, "blocks")
    with open(os.path.join(bd, "blocks_manifest.json")) as f:
        pid = int(next(iter(json.load(f)["partition_edge_counts"])))
    os.unlink(os.path.join(bd, f"block_{pid:05d}.arrow"))
    with pytest.raises(Exception, match="block store incomplete"):
        pagerank(
            e, n=300, mode="blocks", local_iters=local_iters,
            checkpoint_dir=ck, resume=True,
        )


def test_cross_strategy_resume_and_one_metric_schema(spark, tmp_path):
    """A local checkpoint resumes under the block strategy on the same
    trajectory, the resumed metrics list runs 1..k without a gap, and
    local, blocks and join emit one metric schema."""
    e = synth_edges(spark, n=300, e=3000, seed=9).cache()
    full = pagerank(e, n=300, mode="local")
    ck = str(tmp_path / "ck")
    part = pagerank(e, n=300, mode="local", max_iter=3, checkpoint_dir=ck)
    assert not part.converged and part.iterations == 3
    resumed = pagerank(e, n=300, mode="blocks", checkpoint_dir=ck, resume=True)
    assert resumed.converged
    assert resumed.iterations == full.iterations == 8
    np.testing.assert_allclose(
        ranks_vec(resumed, 300), ranks_vec(full, 300), rtol=0, atol=1e-12
    )
    assert [m["iteration"] for m in resumed.metrics] == list(
        range(1, resumed.iterations + 1)
    )
    join = pagerank(e, n=300, mode="join", max_iter=2)
    schemas = {
        frozenset(m) for r in (full, resumed, join) for m in r.metrics
    }
    assert len(schemas) == 1
    e.unpersist()

"""Damped power-iteration PageRank — the reference's one true kernel.

Semantics replicated from the serial C reference (all citations into
``/root/reference``, see SURVEY.md §1.3-1.4):

- damping d = 0.85 (``Page_Rank_SERIAL.c:17``), eps = 1e-4 on the
  GLOBAL L1 residual sum_i |new_i - old_i| (``:18,252-259,279``)
- init rank = 1/n (``:158-159``); teleport (1-d)/n added every
  iteration to every vertex (``:150,244``)
- edge weight d / out_degree(src), computed ONCE before the loop
  (``:168-180``) — loop-invariant code motion, mirrored here
- duplicate edges each contribute mass (``:131-143``); self-loops are
  ordinary edges; vertices with no in-edges still get the teleport
  term (``:228-244`` — empty adjacency => sum 0)
- do-while: at least one iteration always runs; stop when
  residual <= eps (``:206,279``)
- dangling vertices (out-degree 0): the reference LEAKS their mass
  (``:244`` has no redistribution term — sum(ranks) drifts < 1).
  ``dangling="leak"`` is bit-compatible with that; the engine default
  ``dangling="redistribute"`` adds d*dangling_mass/n per vertex so
  sum(ranks) == 1 (the production behavior mandated by
  BASELINE.json.north_star).

Three physical strategies (chosen by ``mode``). Local and blocks share
one driver power loop (``_power_loop``) and differ only in where the
gather runs; join keeps ranks distributed on ``plans.iterate``:

- **broadcast / blocks** (default when n fits a driver/executor
  vector): the rank vector lives as a NumPy fp64 array broadcast per
  iteration — the Spark analogue of the reference's replicated
  ``complete_page_ranks[n]`` (``Page_Rank_Basic.c:170,353-355``), but
  with O(1) driver messages per iteration instead of O(P*n) floats.
  ONE degree pass over both endpoints gives the out-strengths, the
  dangling mask and the heavy destinations; edges are hash-partitioned
  by ``dst`` (heavy destinations salted by ``src``) in ONE shuffle, and
  each partition is materialized ONCE as a CSR-style block (src array +
  destination-group index + sorted distinct dst ids) in an Arrow IPC
  file on executor scratch. Each iteration then re-runs ONE frame over
  a tiny partition-id range, built once per call with its kernel and
  proven zero-shuffle from its plan: tasks memory-map their block
  (zero-copy) and compute per-destination partial sums with one
  ``np.bincount`` (zero per-row Python, zero per-iteration edge
  movement through the JVM<->Python bridge); the driver collects O(n)
  partials, applies teleport + dangling mass, and computes the L1
  residual in NumPy. This is the
  "salted, hash-partitioned CSR-style block partitions ... held in
  Arrow buffers" design of the north_star. Measured in round 6 on a
  32-core box (20M edges): ~0.8s/iter at 32 cores vs ~2.8s at 8 cores
  — scaling efficiency ~0.9 from N to 4N cores.

- **local** (tiny graphs): below ~2M edges per-iteration job
  scheduling dwarfs compute, so ``auto`` collects the edge list once
  and iterates in driver NumPy with identical semantics — the same
  adaptive choice Catalyst makes for local relations.

- **join** (co-partitioned fallback when n is too big to broadcast):
  ranks stay a distributed DataFrame; each iteration is
  ``edges ⋈ ranks on src → groupBy(dst) → right-outer vertex
  completion`` — one bounded shuffle per iteration, lineage truncated
  with ``localCheckpoint`` so plans don't grow with iteration count.

Every iteration appends to a resumable checkpoint manifest (rank
vector parquet + partition lineage + per-iteration metrics: edges
scanned, residual, seconds, skew ratio), per north_rule.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile
import time
import uuid
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pagerank_spark.plans.gather import gather_sum, l1_delta
from pagerank_spark.plans.inspect import plan_has
from pagerank_spark.plans.iterate import iterate
from pagerank_spark.plans.kernel import map_arrow
from pagerank_spark.plans.metrics import (
    shuffle_delta as _shuffle_delta,
    shuffle_totals as _shuffle_totals,
    shuffle_totals_settled as _shuffle_totals_settled,
)

DAMPING = 0.85
EPSILON = 1e-4

# Above this vertex count the fp64 rank vector (8B/vertex) stops being
# a sane per-iteration broadcast (2**26 = ~537MB) and the engine flips
# to the co-partitioned join strategy.
BROADCAST_MAX_N = 1 << 26

# Below these sizes the whole graph fits comfortably on the driver and
# per-iteration job-scheduling overhead (~0.5s) dwarfs the compute;
# `auto` then runs the iteration loop as driver-local NumPy with
# identical semantics (the same adaptive call Spark itself makes for
# local relations). The distributed paths stay available explicitly
# and are what `auto` picks beyond these thresholds.
LOCAL_MAX_E = 2_000_000
LOCAL_MAX_N = 1_000_000

# Metric fields of an iteration whose plan moves no shuffle data.
_NO_SHUFFLE = {"shuffle_read_bytes": 0, "shuffle_write_bytes": 0}


@dataclass
class PageRankResult:
    ranks: DataFrame
    iterations: int
    converged: bool
    residual: float
    metrics: list[dict] = field(default_factory=list)
    partition_lineage: dict = field(default_factory=dict)


def pagerank_two_phase(
    edges: DataFrame,
    n: int | None = None,
    d: float = DAMPING,
    coarse_eps: float = 1e-3,
    eps: float = EPSILON,
    local_iters: int = 8,
    dangling: str = "redistribute",
    checkpoint_dir: str | None = None,
    num_partitions: int | None = None,
    max_iter: int | None = None,
    weight_col: str | None = None,
) -> PageRankResult:
    """The reference's two-phase scheme (``Page_Rank_improved.c``):

    Phase 1 — exact, globally-synchronized power iterations to a COARSE
    residual (``:368`` uses 1e-3). Phase 2 — continue with
    ``local_iters`` communication-free block-Jacobi sub-iterations per
    global sync (``:404-468``) until the final ``eps``. Both phases
    share one block store and one checkpoint lineage, so phase 2 starts
    from phase 1's rank vector without rebuilding anything.
    """
    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="pagerank_two_phase_")
    owns = checkpoint_dir is None
    try:
        # salting off throughout: phase 2 emits values, not partials
        p1 = pagerank(
            edges, n=n, d=d, eps=coarse_eps, dangling=dangling,
            mode="broadcast", num_partitions=num_partitions,
            checkpoint_dir=ckpt, salt_threshold=1 << 62,
            weight_col=weight_col, max_iter=max_iter,
        )
        # max_iter is a TOTAL global-sync budget across both phases
        remaining = None if max_iter is None else max_iter - p1.iterations
        if remaining is not None and remaining <= 0:
            return p1  # budget exhausted in phase 1 (do-while would run +1)
        p2 = pagerank(
            edges, n=n, d=d, eps=eps, dangling=dangling,
            mode="broadcast", num_partitions=num_partitions,
            checkpoint_dir=ckpt, resume=True, local_iters=local_iters,
            weight_col=weight_col, max_iter=remaining,
        )
    finally:
        if owns:
            shutil.rmtree(ckpt, ignore_errors=True)
    return p2


def _atomic_np_save(path: str, arr: np.ndarray) -> None:
    tmp = path + ".tmp.npy"
    np.save(tmp, arr)
    os.replace(tmp, path)


def pagerank(
    edges: DataFrame,
    n: int | None = None,
    d: float = DAMPING,
    eps: float = EPSILON,
    dangling: str = "redistribute",
    max_iter: int | None = None,
    mode: str = "auto",
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    block_dir: str | None = None,
    salt_threshold: int | None = None,
    weight_col: str | None = None,
    local_iters: int = 1,
    personalize: list[int] | None = None,
    init_ranks: DataFrame | None = None,
) -> PageRankResult:
    """Compute PageRank over ``DataFrame[src: long, dst: long]``.

    ``init_ranks`` warm-starts the power iteration from a previous
    rank vector (``DataFrame[id, rank]``; missing ids start at 0).
    PageRank's iteration is a contraction for d < 1, so the fixpoint
    is unchanged — warm-starting only shortens the trajectory, which
    is the daily-recompute pattern: yesterday's ranks + today's edge
    deltas converge in a fraction of the cold iterations. A durable
    ``resume`` checkpoint takes precedence over ``init_ranks``.

    ``personalize`` restricts the teleport distribution to a source
    set S (personalized PageRank): rank initializes uniform over S,
    the (1-d) teleport mass lands only on S, and in redistribute mode
    dangling mass returns to S as well — the random surfer restarts at
    S instead of everywhere. Supported by every mode except the
    block-Jacobi sub-iteration knob (``local_iters > 1``), whose local
    relaxation bakes a scalar base into the kernel.

    Ids must be dense ``0..n-1`` (use ``densify_ids`` first for
    arbitrary id spaces). ``n`` defaults to ``1 + max(id)`` — pass it
    explicitly when the header/catalog declares more vertices than the
    edges touch (``Page_Rank_SERIAL.c:155-159``: rank slots exist for
    every id < n).

    ``weight_col`` names an edge-weight column (e.g. the reference
    count produced by ``derive_edges``): a weighted edge behaves
    exactly like that many duplicate rows (the reference's
    multiplicity semantics, ``Page_Rank_SERIAL.c:131-143``,
    generalized to arbitrary positive weights): out-strength = sum of
    weights per src, per-edge contribution = d * w / strength(src) *
    rank(src). Supported natively by every mode — no row expansion.
    """
    if dangling not in ("redistribute", "leak"):
        raise ValueError("dangling must be 'redistribute' or 'leak'")
    if eps <= 0.0 and max_iter is None:
        raise ValueError(
            "pagerank: eps <= 0.0 (exact fixed-k replay mode) needs an "
            "explicit max_iter — a zero residual target never stops the "
            "do-while loop"
        )
    if local_iters < 1:
        raise ValueError("local_iters must be >= 1")
    if personalize is not None:
        if len(personalize) == 0:
            raise ValueError("personalize must be a non-empty id list")
        if local_iters > 1:
            raise ValueError(
                "personalize is not supported with local_iters > 1 "
                "(block-Jacobi bakes a scalar teleport base into the kernel)"
            )
    if local_iters > 1 and mode not in ("auto", "broadcast", "blocks"):
        raise ValueError("local_iters > 1 requires the blocks strategy")
    # Resuming from an existing block store: n/edge_count come from the
    # manifest (ids were validated at build) — zero input scans needed.
    resume_bd = None
    if resume and mode in ("auto", "broadcast", "blocks"):
        resume_bd = block_dir or (
            os.path.join(checkpoint_dir, "blocks") if checkpoint_dir else None
        )
        if resume_bd and not os.path.exists(
            os.path.join(resume_bd, "blocks_manifest.json")
        ):
            resume_bd = None
    e_count = None
    if resume_bd:
        with open(os.path.join(resume_bd, "blocks_manifest.json")) as f:
            _man = json.load(f)
        e_count = _man["edge_count"]
        if n is None:
            n = _man.get("n")
        if mode == "auto":
            mode = "broadcast"
    # ONE combined columnar scan serves n-inference, id validation, and
    # the auto-mode size decision (explicit local mode skips it — the
    # collected arrays validate for free there).
    if n is None or (mode != "local" and not resume_bd):
        row = edges.agg(
            F.count(F.lit(1)).alias("cnt"),
            F.least(F.min("src"), F.min("dst")).alias("lo"),
            F.greatest(F.max("src"), F.max("dst")).alias("hi"),
        ).collect()[0]
        e_count = int(row["cnt"])
        lo, hi = row["lo"], row["hi"]
        if e_count and lo < 0:
            raise ValueError(
                f"vertex ids must be non-negative: found {lo} — run "
                "densify_ids() first"
            )
        if n is None:
            n = int(hi) + 1 if hi is not None else 0
        elif e_count and hi >= n:
            raise ValueError(
                f"vertex ids must be dense in [0, n={n}): found range "
                f"[{lo}, {hi}] — run densify_ids() first or pass the right n"
            )
    if n <= 0:
        raise ValueError("empty graph")
    if mode == "auto":
        if local_iters > 1:
            mode = "broadcast"
        elif n <= LOCAL_MAX_N and e_count <= LOCAL_MAX_E:
            mode = "local"
        else:
            mode = "broadcast" if n <= BROADCAST_MAX_N else "join"
    if personalize is not None:
        pz = sorted(set(int(s) for s in personalize))
        if pz[0] < 0 or pz[-1] >= n:
            raise ValueError(
                f"personalize ids must be dense vertex ids in [0, n={n})"
            )
        personalize = pz
    init_vec = None
    if init_ranks is not None and mode != "join":
        # local/broadcast keep the O(n) rank vector driver-side anyway
        # (same order as the per-iteration combine) — materialize the
        # warm start once; join mode keeps it distributed.
        ipdf = init_ranks.select(
            F.col("id").cast("long"), F.col("rank").cast("double")
        ).toPandas()
        iids = ipdf["id"].to_numpy()
        if len(iids) and (iids.min() < 0 or iids.max() >= n):
            raise ValueError(
                f"init_ranks ids must be dense vertex ids in [0, n={n})"
            )
        init_vec = np.zeros(n, dtype=np.float64)
        init_vec[iids] = ipdf["rank"].to_numpy(dtype=np.float64)
    if mode == "local":
        return _pagerank_local(
            edges, n, d, eps, dangling, max_iter, checkpoint_dir, resume,
            weight_col, personalize, init_vec,
        )
    if mode in ("broadcast", "blocks"):
        return _pagerank_broadcast(
            edges, n, d, eps, dangling, max_iter, num_partitions,
            checkpoint_dir, resume, block_dir, salt_threshold, weight_col,
            local_iters, e_count, personalize, init_vec,
        )
    if mode == "join":
        return _pagerank_join(
            edges, n, d, eps, dangling, max_iter, num_partitions,
            checkpoint_dir, resume, weight_col, personalize, init_ranks,
        )
    raise ValueError(f"unknown mode {mode!r}")


# --------------------------------------------------------------------------
# the driver power loop shared by the local and block strategies
# --------------------------------------------------------------------------

def _init_rank(n: int, personalize) -> np.ndarray:
    if personalize is None:
        return np.full(n, 1.0 / n, dtype=np.float64)
    rank = np.zeros(n, dtype=np.float64)
    rank[np.asarray(personalize, dtype=np.int64)] = 1.0 / len(personalize)
    return rank


def _base_vec(n, d, dm, personalize) -> np.ndarray:
    """Per-iteration teleport (+ redistributed dangling) base vector for
    the personalized case: mass lands only on the source set."""
    s = len(personalize)
    base = np.zeros(n, dtype=np.float64)
    base[np.asarray(personalize, dtype=np.int64)] = (1.0 - d) / s + d * dm / s
    return base


def _power_loop(
    spark, n, d, eps, dangling, max_iter, checkpoint_dir, resume, personalize,
    init_vec, dangling_mask, lineage, gather, assign=False,
):
    """The reference's do-while (``Page_Rank_SERIAL.c:206-279``) with the
    rank vector on the driver: init or warm start, resume, dangling
    mass, teleport base, combine, global L1 residual, metrics row,
    checkpoint, stop test. Strategies differ only in where the gather
    runs: ``gather(rank, iteration, base)`` returns ``(dst, values,
    shuffle_bytes)``, and ``values`` are added onto the base vector — or
    assigned when ``assign`` (block-Jacobi values, complete per dst).
    """
    rank = init_vec.copy() if init_vec is not None else _init_rank(n, personalize)
    start_iter = 0
    metrics: list[dict] = []
    if resume and checkpoint_dir:
        state = _load_checkpoint(checkpoint_dir)
        if state is not None:
            rank, start_iter, metrics = state
    teleport = (1.0 - d) / n
    it, residual, converged = start_iter, float("inf"), False
    while True:
        t0 = time.monotonic()
        dm = float(rank[dangling_mask].sum()) if dangling == "redistribute" else 0.0
        base = teleport + d * dm / n
        dst, values, shuffle_bytes = gather(rank, it + 1, base)
        if personalize is None:
            new = np.full(n, base, dtype=np.float64)
        else:
            # gathers emit pure contribution partials, so the personalized
            # teleport base is applied driver-side at O(|S|)
            new = _base_vec(n, d, dm, personalize)
        if len(dst):
            if assign:
                new[dst] = values
            else:
                np.add.at(new, dst, values)  # gather-sum (O10)
        residual = float(np.abs(new - rank).sum())  # global L1
        rank = new
        it += 1
        metrics.append(
            # One metric schema for every strategy (a resumed checkpoint
            # may interleave modes in one metrics list, so consumers can
            # index a fixed schema).
            {"iteration": it, "residual": residual,
             "seconds": time.monotonic() - t0,
             "edges_scanned": lineage["edge_count"], **shuffle_bytes,
             "skew_ratio": lineage["skew_ratio"]}
        )
        if checkpoint_dir:
            _save_checkpoint(checkpoint_dir, rank, it, metrics, lineage)
        if residual <= eps:  # do-while: >=1 iteration always ran
            converged = True
            break
        if max_iter is not None and it - start_iter >= max_iter:
            break
    ranks_df = spark.createDataFrame(
        pa.table({"id": pa.array(np.arange(n, dtype=np.int64)),
                  "rank": pa.array(rank)})
    )
    return PageRankResult(ranks_df, it, converged, residual, metrics, lineage)


# --------------------------------------------------------------------------
# driver-local strategy (tiny graphs: one collect, NumPy gather)
# --------------------------------------------------------------------------

def _pagerank_local(
    edges, n, d, eps, dangling, max_iter, checkpoint_dir, resume,
    weight_col=None, personalize=None, init_vec=None,
):
    cols = [F.col("src").cast("long"), F.col("dst").cast("long")]
    if weight_col:
        cols.append(F.col(weight_col).cast("double").alias("_w"))
    pdf = edges.select(*cols).toPandas()
    src = pdf["src"].to_numpy()
    dst = pdf["dst"].to_numpy()
    if len(src) and (
        min(src.min(), dst.min()) < 0 or max(src.max(), dst.max()) >= n
    ):
        raise ValueError(
            f"vertex ids must be dense in [0, n={n}): found range "
            f"[{min(src.min(), dst.min())}, {max(src.max(), dst.max())}] — "
            "run densify_ids() first or pass the right n"
        )
    ew = pdf["_w"].to_numpy() if weight_col else np.ones(len(src))
    strength = np.bincount(src, weights=ew, minlength=n)[:n].astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        w_edge = d * ew / strength[src]  # defined: strength[src] > 0 per edge
    lineage = {"num_partitions": 1, "edge_count": len(src), "mode": "local",
               "skew_ratio": 1.0}
    # the loop runs on the driver: provably zero shuffle bytes
    return _power_loop(
        edges.sparkSession, n, d, eps, dangling, max_iter, checkpoint_dir,
        resume, personalize, init_vec, strength == 0.0, lineage,
        lambda rank, _it, _base: (dst, w_edge * rank[src], _NO_SHUFFLE),
    )


# --------------------------------------------------------------------------
# block-store strategy (broadcast rank vector, Arrow CSR blocks)
# --------------------------------------------------------------------------

def _block_build(batches, *, block_dir: str, strength_path: str):
    """Build one CSR-style block per input partition, persisted as an
    Arrow IPC file (columns: src, inv, uniq), and emit its lineage row.

    ``uniq`` is the sorted distinct destination ids of the partition,
    ``inv`` the per-edge index into ``uniq`` — so each iteration's
    per-destination sum is ONE ``np.bincount(inv, weights=...)`` with
    no sort, no unique, no per-row Python. The build pays the
    O(E log E) unique once; every iteration after is O(E).
    """
    srcs, dsts, ews = [], [], []
    for batch in batches:
        srcs.append(batch.column("src").to_numpy(zero_copy_only=False))
        dsts.append(batch.column("dst").to_numpy(zero_copy_only=False))
        if "_w" in batch.schema.names:
            ews.append(batch.column("_w").to_numpy(zero_copy_only=False))
    if not srcs:
        return
    pid = TaskContext.get().partitionId()
    src = np.concatenate(srcs)
    dst = np.concatenate(dsts)
    ew = np.concatenate(ews) if ews else np.ones(len(src))
    uniq, inv = np.unique(dst, return_inverse=True)
    # Per-edge factor d*w/strength(src), loop-invariant
    # (Page_Rank_SERIAL.c:168-180): baked into the block so each
    # iteration needs only ONE random gather (rank[src]).
    strength = _load_vec(strength_path, None)
    wfac = ew * strength[src]  # strength file holds d/strength
    # pos: index of src within this block's own dst set (-1 if the
    # source vertex is external) — enables block-Jacobi local
    # iterations (O18 `local_iters`, Page_Rank_improved.c:404-468).
    p = np.searchsorted(uniq, src)
    p[p >= len(uniq)] = len(uniq) - 1 if len(uniq) else 0
    local = uniq[p] == src if len(uniq) else np.zeros(len(src), bool)
    pos = np.where(local, p, -1).astype(np.int32)
    # src and inv are stored int64 even when ids fit 32 bits:
    # np.bincount and fancy indexing both convert index arrays to
    # intp internally, so an int32 column costs an 8-byte-per-edge
    # conversion copy EVERY iteration (measured per 1e8 edges:
    # bincount 0.50s int32 vs 0.32s int64; the 8-core sync dropped
    # 1.40 -> 0.95 s/iter end-to-end) — storing the wider type once
    # beats converting per sync. pos stays int32: the local_iters
    # kernel reads it once per sync into a boolean mask only.
    edges_tbl = pa.table(
        {
            "src": pa.array(src.astype(np.int64)),
            "inv": pa.array(inv.astype(np.int64)),
            "wfac": pa.array(wfac.astype(np.float64)),
            "pos": pa.array(pos),
        }
    )
    uniq_tbl = pa.table({"uniq": pa.array(uniq.astype(np.int64))})
    # uniq sidecar FIRST: the main file's existence then implies a
    # complete block even if the build is interrupted mid-partition.
    for suffix, tbl in ((".uniq", uniq_tbl), ("", edges_tbl)):
        path = os.path.join(block_dir, f"block_{pid:05d}{suffix}.arrow")
        tmp = path + ".tmp"
        with pa.OSFile(tmp, "wb") as f:
            with pa.ipc.new_file(f, tbl.schema) as w:
                w.write_table(tbl)
        os.replace(tmp, path)
    n_bytes = sum(
        os.path.getsize(os.path.join(block_dir, f"block_{pid:05d}{sfx}.arrow"))
        for sfx in ("", ".uniq")
    )
    yield pa.RecordBatch.from_arrays(
        [
            pa.array([pid], type=pa.int32()),
            pa.array([len(src)], type=pa.int64()),
            pa.array([len(uniq)], type=pa.int64()),
            pa.array([n_bytes], type=pa.int64()),
        ],
        ["pid", "n_edges", "n_uniq", "n_bytes"],
    )


# Per-worker-process cache for the replicated vectors. PySpark
# re-deserializes broadcast objects PER TASK (a 16MB rank vector would
# be unpickled 32 times per iteration for 32 blocks); loading from a
# file keyed by (path, version) and caching per worker process costs
# ONE load per worker per iteration instead — the worker-side analogue
# of the reference's persistent per-process `complete_page_ranks`
# buffer (Page_Rank_Basic.c:170).
_VEC_CACHE: dict = {}
# Task-local properties carrying one iteration's inputs to the kernel.
_ITER_PROP = "pagerank.iteration"
_BASE_PROP = "pagerank.base"


def _load_vec(path: str, version) -> np.ndarray:
    key = (path, version)
    if _VEC_CACHE.get("key") != key:
        _VEC_CACHE["key"] = key
        _VEC_CACHE["vec"] = np.load(path)
    return _VEC_CACHE["vec"]


def _block_gather(
    batches, *, block_dir: str, rank_path: str, expected_pids: frozenset,
    k: int,
):
    """Gather over materialized blocks, built once per call and re-run
    each iteration: memory-map the Arrow file (zero-copy), gather
    wfac*rank[src] from the replicated vector, one bincount per block —
    the NumPy analogue of the reference's per-adjacency-list accumulate
    (``Page_Rank_SERIAL.c:228-240``), at zero per-iteration edge
    movement through the JVM<->Python bridge. With ``k == 1`` it yields
    per-destination contribution PARTIALS. The iteration number (the
    vector's cache key) and the teleport base come from task-local
    properties the driver sets around each action; without them a task
    raises rather than serve a cached vector.

    With ``k > 1`` (O18) it runs k block-Jacobi sub-iterations per
    global sync (``Page_Rank_improved.c:404-468``'s phase 2,
    generalized): each block updates the ranks of ITS OWN destinations
    k times, reading locally-updated values for intra-block sources and
    the stale global vector for cross-block sources — the reference's
    communication-free local phase. It yields VALUES (complete per dst:
    requires unsalted blocks), not partials. An approximation knob: the
    fixpoint is the same linear system, but the trajectory (and the
    teleport/dangling base, frozen at ``base`` during sub-iterations)
    differs from exact power iteration. It helps on internally
    clustered (community-partitioned) blocks; on hash-partitioned
    graphs most in-edges are cross-block and stale, so extra inner
    iterations can even slow OUTER convergence — why the reference
    gates its local phase behind a coarse global phase
    (``Page_Rank_improved.c:368`` eps 1e-3 first). Off (k=1) by default.
    """
    ctx = TaskContext.get()
    iteration = ctx.getLocalProperty(_ITER_PROP)
    if iteration is None:
        raise RuntimeError(
            f"block kernel ran without the {_ITER_PROP} task property"
        )
    r = _load_vec(rank_path, int(iteration))
    base = float.fromhex(ctx.getLocalProperty(_BASE_PROP))
    for batch in batches:
        for pid in batch.column("pid").to_pylist():
            path = os.path.join(block_dir, f"block_{pid:05d}.arrow")
            if not os.path.exists(path):
                if pid in expected_pids:
                    raise FileNotFoundError(
                        f"block store incomplete: {path} is listed in "
                        "the manifest but missing on disk — rebuild "
                        "(resume=False) or restore the block files"
                    )
                continue  # pid genuinely owns no edges
            with pa.memory_map(path, "r") as mm, pa.memory_map(
                path.replace(".arrow", ".uniq.arrow"), "r"
            ) as mu:
                tbl = pa.ipc.open_file(mm).read_all()
                src = tbl.column("src").to_numpy(zero_copy_only=False)
                inv = tbl.column("inv").to_numpy(zero_copy_only=False)
                wfac = tbl.column("wfac").to_numpy(zero_copy_only=False)
                uniq = pa.ipc.open_file(mu).read_all().column("uniq")
                uniq = uniq.to_numpy(zero_copy_only=False)
                if k == 1:
                    out = np.bincount(
                        inv, weights=wfac * r[src], minlength=len(uniq)
                    )
                else:
                    pos = tbl.column("pos").to_numpy(zero_copy_only=False)
                    vals = r[src].astype(np.float64)
                    local_mask = pos >= 0
                    lpos = pos[local_mask]
                    for _ in range(k):
                        out = base + np.bincount(
                            inv, weights=wfac * vals, minlength=len(uniq)
                        )
                        vals[local_mask] = out[lpos]
            yield pa.RecordBatch.from_arrays(
                [pa.array(uniq), pa.array(out)], ["dst", "s"]
            )


def _pagerank_broadcast(
    edges, n, d, eps, dangling, max_iter, num_partitions, checkpoint_dir, resume,
    block_dir=None, salt_threshold=None, weight_col=None, local_iters=1,
    e_count=None, personalize=None, init_vec=None,
):
    """Block-partitioned broadcast-rank strategy (the scale path).

    Prepare (once): ONE degree pass over both endpoints of every edge
    (out-strength and in-count per vertex, collected as O(n) rows)
    yields the dangling mask, the d/strength vector and the heavy
    destinations; then ONE shuffle hash-partitions edges by ``dst``
    (heavy destinations salted across sub-partitions by ``src`` so no
    single partition collapses under skew), then each partition is
    materialized as a CSR-style block — src ids + destination-group
    index — in an Arrow IPC file on executor-local scratch
    (``block_dir``). At cluster scale point ``block_dir`` at job
    scratch on a parallel FS so any executor can read any block; in
    local mode it is a tmpdir. Blocks under a ``checkpoint_dir``
    survive restarts, so resume skips the rebuild.

    Iterate (per iteration): ONE zero-shuffle job over a tiny
    partition-id frame; each task mmaps its block and computes
    per-destination partial sums vectorized; the driver collects O(n)
    partials, adds teleport + dangling mass, and evaluates the L1
    residual — the Spark analogue of the reference's replicated
    rank vector + master combine (``Page_Rank_Basic.c:170,313-355``)
    with O(1) control messages. The iteration frame and its kernel are
    built once per call and re-run each iteration; its physical plan
    is checked once to hold no ``Exchange``, so the metric rows record
    zero shuffle bytes from the plan, as the local strategy does.
    """
    spark = edges.sparkSession
    sc = spark.sparkContext
    P = num_partitions or sc.defaultParallelism

    owns_block_dir = block_dir is None and checkpoint_dir is None
    if block_dir is None:
        if checkpoint_dir is not None:
            block_dir = os.path.join(checkpoint_dir, "blocks")
        else:
            block_dir = tempfile.mkdtemp(prefix="pagerank_blocks_")
    os.makedirs(block_dir, exist_ok=True)
    # Per-run token: vector filenames are unique per run, so reused
    # Python worker processes can never serve a stale cached vector
    # from an earlier run that shared this block_dir path.
    run_token = uuid.uuid4().hex[:12]
    strength_path = os.path.join(block_dir, f"strength_vec_{run_token}.npy")
    rank_path = os.path.join(block_dir, f"rank_vec_{run_token}.npy")
    mask_path = os.path.join(block_dir, "dangling_mask.npy")

    manifest_path = os.path.join(block_dir, "blocks_manifest.json")
    lineage = None
    try:
        if resume and os.path.exists(manifest_path) and os.path.exists(mask_path):
            with open(manifest_path) as f:
                lineage = json.load(f)
            if local_iters > 1 and lineage.get("salted_dsts", 0) > 0:
                raise ValueError(
                    "cannot resume with local_iters > 1 from salted blocks"
                )
            # wfac is baked into the blocks and the dangling mask persisted:
            # a resume touches the input edge table ZERO times.
            dangling_mask = np.load(mask_path).astype(bool)
        if lineage is None:
            # One degree pass over both endpoints: out-strength s (duplicates
            # counted; = out-degree when unweighted) and in-count c per
            # vertex. One shuffle, n-bounded.
            w = F.col(weight_col).cast("double") if weight_col else F.lit(1)
            zero = F.lit(0.0 if weight_col else 0)
            deg = edges.select(F.inline(F.array(
                F.struct(F.col("src").alias("v"), w.alias("s"), F.lit(0).alias("c")),
                F.struct(F.col("dst").alias("v"), zero.alias("s"), F.lit(1).alias("c")),
            ))).groupBy("v").agg(*(F.sum(c).alias(c) for c in "sc")).toPandas()
            out_deg = np.zeros(n, dtype=np.float64)
            out_deg[deg["v"].to_numpy()] = deg["s"].to_numpy()
            dangling_mask = out_deg == 0.0
            weights = np.zeros(n, dtype=np.float64)
            nz = ~dangling_mask
            weights[nz] = d / out_deg[nz]  # d/strength, once, before the loop
            # Replicated d/strength vector (loop-invariant,
            # Page_Rank_SERIAL.c:168-180); the block build bakes it into the
            # per-edge wfac column. block_dir is executor-reachable by
            # construction (local scratch here, shared FS on a cluster).
            _atomic_np_save(strength_path, weights)
            _atomic_np_save(mask_path, dangling_mask.astype(np.uint8))
            # Building fresh: stale blocks from any earlier run sharing this
            # dir would otherwise be silently summed in (their pids may not
            # be overwritten when the new graph leaves partitions empty).
            for fn in os.listdir(block_dir):
                if fn.startswith("block_") and fn.endswith(".arrow"):
                    os.unlink(os.path.join(block_dir, fn))
            # Skew-aware partition key: destinations with more in-edges than
            # a whole average partition get salted across SALT sub-keys by
            # src, bounding the largest block. Partial sums for a salted dst
            # land in several blocks; the driver's np.add.at recombines them
            # exactly (summation stays keyed by true dst).
            thresh = salt_threshold if salt_threshold is not None else max(
                e_count // max(P, 1), 1_000
            )
            # Block-Jacobi needs each dst's full in-adjacency in ONE block
            # (it emits values, not partials) — salting off.
            heavy = [] if local_iters > 1 else (
                deg["v"][deg["c"] > max(thresh, 0)].astype(int).tolist()
            )
            salt_fanout = min(P, 16)
            if heavy:
                pk = F.when(
                    F.col("dst").isin(heavy),
                    F.xxhash64("dst", F.pmod(F.col("src"), F.lit(salt_fanout))),
                ).otherwise(F.xxhash64("dst"))
            else:
                pk = F.xxhash64("dst")
            sel = [F.col("src").cast("long"), F.col("dst").cast("long")]
            if weight_col:
                sel.append(F.col(weight_col).cast("double").alias("_w"))
            prepared = edges.select(*sel).repartition(P, pk)
            man_rows = map_arrow(
                prepared, _block_build,
                "pid int, n_edges long, n_uniq long, n_bytes long",
                block_dir=block_dir, strength_path=strength_path,
            ).collect()
            part_sizes = {int(r["pid"]): int(r["n_edges"]) for r in man_rows}
            sizes = np.array(list(part_sizes.values()) or [0], dtype=np.float64)
            skew_ratio = float(sizes.max() / sizes.mean()) if sizes.sum() else 1.0
            lineage = {
                "num_partitions": P,
                "partition_edge_counts": part_sizes,
                "partition_uniq_counts": {
                    int(r["pid"]): int(r["n_uniq"]) for r in man_rows
                },
                "partition_block_bytes": {
                    int(r["pid"]): int(r["n_bytes"]) for r in man_rows
                },
                "salted_dsts": len(heavy),
                "salt_fanout": salt_fanout if heavy else 1,
                "skew_ratio": skew_ratio,
                "edge_count": e_count,
                "block_dir": block_dir,
                "n": n,
                "d": d,
            }
            with open(manifest_path, "w") as f:
                json.dump(lineage, f)
        if lineage.get("n") not in (None, n) or lineage.get("d") not in (None, d):
            raise ValueError(
                f"block store was built for n={lineage.get('n')}, "
                f"d={lineage.get('d')} — cannot resume with n={n}, d={d} "
                "(wfac is baked into the blocks); rebuild with resume=False"
            )
        # pids that actually own a block; the iteration kernel FAILS FAST if
        # one of these is missing on disk instead of silently dropping its edges.
        expected_pids = frozenset(
            int(p) for p in lineage["partition_edge_counts"]
        )

        # Tiny driver frame: exactly one partition per block id (range with
        # numPartitions=P places id i in partition i — a hash repartition
        # would leave ~1/e of tasks empty and pile blocks onto others).
        # Built once with its kernel; each iteration re-runs it.
        frame = map_arrow(
            spark.range(
                0, lineage["num_partitions"], 1, lineage["num_partitions"]
            ).select(F.col("id").cast("int").alias("pid")),
            _block_gather, "dst long, s double", block_dir=block_dir,
            rank_path=rank_path, expected_pids=expected_pids, k=local_iters,
        )
        # zero-shuffle iterations by design (blocks are mmapped
        # executor-local Arrow files): proven once from the plan
        if plan_has(frame, "Exchange"):
            raise RuntimeError("block iteration plan contains an Exchange")

        def gather(rank, iteration, base):
            _atomic_np_save(rank_path, rank)
            sc.setLocalProperty(_ITER_PROP, str(iteration))
            sc.setLocalProperty(_BASE_PROP, float(base).hex())  # exact
            try:
                parts = frame.toPandas()
            finally:
                sc.setLocalProperty(_ITER_PROP, None)
                sc.setLocalProperty(_BASE_PROP, None)
            return parts["dst"].to_numpy(), parts["s"].to_numpy(), _NO_SHUFFLE

        return _power_loop(
            spark, n, d, eps, dangling, max_iter, checkpoint_dir, resume,
            personalize, init_vec, dangling_mask, lineage, gather,
            assign=local_iters > 1,
        )
    finally:
        # on success AND on failure: a raised iteration must not leak
        # this run's scratch
        if owns_block_dir:
            shutil.rmtree(block_dir, ignore_errors=True)
        else:
            # shared/caller-owned dir: clean up THIS run's vector files so
            # repeated runs don't accumulate ~16MB .npy files per run
            for p in (strength_path, rank_path):
                try:
                    os.unlink(p)
                except OSError:
                    pass


# --------------------------------------------------------------------------
# co-partitioned join strategy (n too large to broadcast)
# --------------------------------------------------------------------------

def _pagerank_join(
    edges, n, d, eps, dangling, max_iter, num_partitions, checkpoint_dir, resume,
    weight_col=None, personalize=None, init_ranks=None,
):
    spark = edges.sparkSession
    P = num_partitions or spark.sparkContext.defaultParallelism
    teleport = (1.0 - d) / n

    str_agg = (
        F.sum(F.col(weight_col).cast("double")) if weight_col else F.count(F.lit(1))
    )
    out_deg = edges.groupBy("src").agg(str_agg.alias("out_deg"))
    ew = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    # Weight the edge table once (loop-invariant, Page_Rank_SERIAL.c:168-180)
    # and pre-partition it by src so the per-iteration ranks join shuffles
    # only the (small) rank side. AQE may broadcast out_deg if it fits.
    edges_w = (
        edges.join(out_deg, "src")
        .select("src", "dst", (F.lit(d) * ew / F.col("out_deg")).alias("w"))
        .repartition(P, "src")
        .persist()
    )
    vertices = spark.range(n).select(F.col("id").cast("long"))
    dangling_ids = vertices.join(
        out_deg.select(F.col("src").alias("id")), "id", "left_anti"
    ).persist()
    try:
        edge_count = edges_w.count()

        if personalize is None:
            init_rank = F.lit(1.0 / n)
        else:
            init_rank = F.when(
                F.col("id").isin(personalize), F.lit(1.0 / len(personalize))
            ).otherwise(F.lit(0.0))
        if init_ranks is not None:
            ranks = (
                vertices.join(
                    init_ranks.select(
                        F.col("id").cast("long"),
                        F.col("rank").cast("double").alias("_ir"),
                    ),
                    "id",
                    "left",
                )
                .select("id", F.coalesce("_ir", F.lit(0.0)).alias("rank"))
                .localCheckpoint()
            )
        else:
            ranks = vertices.select("id", init_rank.alias("rank")).localCheckpoint()
        it, residual, converged = 0, float("inf"), False
        metrics: list[dict] = []
        if resume and checkpoint_dir:
            mpath = os.path.join(checkpoint_dir, "manifest.json")
            if os.path.exists(mpath):
                with open(mpath) as f:
                    manifest = json.load(f)
                ranks = spark.read.parquet(manifest["rank_path"]).localCheckpoint()
                it = manifest["iteration"]
                metrics = manifest.get("metrics", [])
        start_iter = it
        lineage = {"num_partitions": P, "edge_count": edge_count, "mode": "join"}
        # settled baseline (see broadcast path); per-iteration deltas may
        # still attribute a stage to the following iteration under listener
        # lag — totals across the run remain exact
        loop = {
            "t0": time.monotonic(),
            "residual": float("inf"),
            "shuffle_before": _shuffle_totals_settled(spark),
        }

        def _step(prev: DataFrame, _round: int) -> DataFrame:
            loop["t0"] = time.monotonic()
            if dangling == "redistribute":
                dm_row = prev.join(dangling_ids, "id", "left_semi").agg(
                    F.sum("rank").alias("dm")
                ).collect()[0]
                dm = float(dm_row["dm"] or 0.0)
            else:
                dm = 0.0
            if personalize is None:
                base_col = F.lit(teleport + d * dm / n)
            else:
                s_cnt = len(personalize)
                base_col = F.when(
                    F.col("id").isin(personalize),
                    F.lit((1.0 - d) / s_cnt + d * dm / s_cnt),
                ).otherwise(F.lit(0.0))
            contrib = gather_sum(edges_w, prev, "rank", "s", weight="w")
            # Right-outer completion: vertices with no in-edges get base only
            # (Page_Rank_SERIAL.c:228-244; SURVEY.md §1.3.4).
            return vertices.join(contrib, "id", "left").select(
                "id",
                (F.coalesce(F.col("s"), F.lit(0.0)) + base_col).alias("rank"),
            )

        def _converged(prev: DataFrame, new: DataFrame, rounds: int) -> bool:
            residual = float(l1_delta(prev, new, ["rank"]))
            loop["residual"] = residual
            shuffle_after = _shuffle_totals(spark)
            metrics.append(
                {
                    "iteration": start_iter + rounds,
                    "residual": residual,
                    "seconds": time.monotonic() - loop["t0"],
                    "edges_scanned": edge_count,
                    # measured per-iteration shuffle bytes (monitoring API):
                    # the rank-side shuffle is O(n) rows because edges_w is
                    # pre-partitioned by src — the numbers prove it.
                    **_shuffle_delta(loop["shuffle_before"], shuffle_after),
                    "skew_ratio": None,
                }
            )
            loop["shuffle_before"] = shuffle_after
            if checkpoint_dir:
                _save_checkpoint_df(
                    checkpoint_dir, new, start_iter + rounds, metrics, lineage
                )
            return residual <= eps

        # max(1, ...): do-while semantics — the reference ALWAYS runs at
        # least one iteration (Page_Rank_SERIAL.c:206-279), and the
        # local/broadcast strategies do too; without the clamp max_iter=0
        # would make the three strategies disagree on identical arguments
        ranks, rounds, converged = iterate(
            ranks, _step, _converged,
            max(1, max_iter) if max_iter is not None else (1 << 31),
        )
        it = start_iter + rounds
    finally:
        edges_w.unpersist()
        dangling_ids.unpersist()
    return PageRankResult(
        ranks, it, converged, loop["residual"], metrics, lineage
    )


# --------------------------------------------------------------------------
# resumable checkpoints (rank vector + partition lineage + metrics)
# --------------------------------------------------------------------------

def _save_checkpoint(ckpt_dir, rank, iteration, metrics, lineage):
    os.makedirs(ckpt_dir, exist_ok=True)
    tmp = os.path.join(ckpt_dir, "_rank.tmp.parquet")
    final = os.path.join(ckpt_dir, "rank.parquet")
    pq.write_table(
        pa.table({"id": pa.array(np.arange(len(rank), dtype=np.int64)),
                  "rank": pa.array(rank)}),
        tmp,
    )
    os.replace(tmp, final)
    _write_manifest(ckpt_dir, iteration, metrics, lineage, final)


def _save_checkpoint_df(ckpt_dir, ranks_df, iteration, metrics, lineage):
    os.makedirs(ckpt_dir, exist_ok=True)
    path = os.path.join(ckpt_dir, f"rank_iter_{iteration:05d}.parquet")
    ranks_df.write.mode("overwrite").parquet(path)
    _write_manifest(ckpt_dir, iteration, metrics, lineage, path)
    # The manifest now points at the new vector — superseded iteration
    # parquets are dead weight; delete them so long join-mode runs keep
    # O(1) checkpoint storage (mirrors the single-file overwrite the
    # broadcast/local strategies use). A crash mid-delete is harmless:
    # the manifest is already durable and names only the new path.
    for old in glob.glob(os.path.join(ckpt_dir, "rank_iter_*.parquet")):
        if os.path.abspath(old) != os.path.abspath(path):
            shutil.rmtree(old, ignore_errors=True)


def _write_manifest(ckpt_dir, iteration, metrics, lineage, rank_path):
    # Manifest written AFTER the rank vector lands, via atomic rename —
    # a reader never observes a manifest pointing at a half-written file.
    manifest = {
        "iteration": iteration,
        "rank_path": rank_path,
        "partition_lineage": lineage,
        "metrics": metrics,
    }
    tmp = os.path.join(ckpt_dir, "_manifest.tmp.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(ckpt_dir, "manifest.json"))


def _load_checkpoint(ckpt_dir):
    mpath = os.path.join(ckpt_dir, "manifest.json")
    if not os.path.exists(mpath):
        return None
    with open(mpath) as f:
        manifest = json.load(f)
    tbl = pq.read_table(manifest["rank_path"])
    order = np.argsort(tbl.column("id").to_numpy())
    rank = tbl.column("rank").to_numpy()[order].astype(np.float64)
    return rank, manifest["iteration"], manifest.get("metrics", [])

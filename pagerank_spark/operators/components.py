"""Connected components via alternating small-star / large-star.

Algorithm: Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
"Connected Components in MapReduce and Beyond" (SOCC'14) — the
extension mandated by BASELINE.json.north_star. Not present in the C
reference (SURVEY.md §2.3); built on the same partitioned edge-table
substrate as PageRank.

Each round is large-star then small-star, and each star operation
shuffles its neighbour rows once: the per-vertex minimum is a window
``min`` over ``partitionBy("src")``, not an aggregate re-joined to the
rows. Large-star's multiset feeds small-star without a ``distinct`` (a
minimum over a multiset is the minimum over its set), and small-star
ends in one, so every round's edge set is the same as with a ``distinct``
per operation. Edges monotonically contract toward stars rooted at each
component's minimum id; convergence (edge set unchanged) is an equal
(count, xor of xxhash64) signature of consecutive rounds, observed on
the harness's per-round checkpoint job (``plans.iterate.Probe``), so
the probe runs no job. A round is three exchanges plus that checkpoint
job; lineage is truncated per round, so the plan stays O(1) across
iterations.

Semantics: components are those of the UNDIRECTED simple graph
(direction ignored, self-loops and duplicates irrelevant — they never
change connectivity). Output labels are exact: every vertex maps to
the minimum vertex id in its component, so "components match exactly"
(north_rule) is well-defined and partitioning-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pagerank_spark.plans.iterate import Probe, iterate


def _large_star(e: DataFrame) -> DataFrame:
    """(v, m) for every neighbor v > u, where m = min(N(u) ∪ {u}); a
    multiset, deduplicated by the small-star step that consumes it.

    The minimum is a window over the neighbour rows, so they shuffle
    once; an aggregate re-joined to the rows shuffles them twice (the
    join side and the aggregate side are unequal subtrees, so exchange
    reuse cannot merge them). CC on a 1M-edge R-MAT (2^20 ids, five
    star rounds, warm ``local[4]`` session, labels collected): 25 s and
    74 jobs with the aggregate + join, a ``distinct`` here and a
    separate probe; 10 s and 28 jobs with the window, none, and the
    observed probe.
    """
    nbrs = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    m = F.least(F.min("dst").over(Window.partitionBy("src")), F.col("src"))
    # the filter stays above the window: it reads dst, not the partition key
    return (
        nbrs.select("src", "dst", m.alias("m"))
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient u ≥ v; connect all small neighbors (and u) to m = min(N⁻(u) ∪ {u})."""
    oriented = e.where(F.col("src") != F.col("dst")).select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"),
    )
    m = F.min("dst").over(Window.partitionBy("src"))
    return (
        oriented.select("src", "dst", m.alias("m"))
        .select(F.explode(F.array("src", "dst")).alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


# Below this many DISTINCT simple edges the whole graph fits trivially
# on the driver and the star rounds are pure job-scheduling overhead
# (~0.4s/job x ~4 jobs/round x rounds); `auto` then runs one collect +
# union-find with IDENTICAL output labels (min id per component) — the
# same adaptive strategy pagerank's local mode uses. Composed operators
# (simhash_dedup_near, dedup_near: CC over a fingerprint/pair graph)
# hit this constantly: their graphs are tiny even on huge corpora.
# Cutoff sized in BYTES, not vibes: 250k edge pairs = ~4 MB — under
# the 10 MB build-side norm a broadcast join already ships to every
# executor, and the union-find touches each edge once (~1 μs/edge,
# measured 2.4x faster than star rounds at 123k edges on local[32]).
LOCAL_CC_MAX_E = 250_000


def _cc_local(spark, e: DataFrame) -> DataFrame:
    """Driver union-find over the (small) distinct pair set ``e``, whose
    self-loops ``(v, v)`` carry the vertices seen only in self-loops.

    Union-by-min-root: attaching the larger root under the smaller
    keeps every tree rooted at its component's minimum index, and ids
    are mapped through a SORTED unique array, so root index order ==
    id order — the returned label is exactly the min id, bit-identical
    to the star-contraction fixpoint.
    """
    import numpy as np
    import pyarrow as pa

    epdf = e.toPandas()
    src, dst = epdf["src"].to_numpy(), epdf["dst"].to_numpy()
    uniq = np.unique(np.concatenate([src, dst]))
    parent = np.arange(len(uniq))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in zip(np.searchsorted(uniq, src), np.searchsorted(uniq, dst)):
        rx, ry = find(int(x)), find(int(y))
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    roots = np.array([find(i) for i in range(len(uniq))], dtype=np.int64)
    return spark.createDataFrame(
        pa.table({"id": pa.array(uniq), "component": pa.array(uniq[roots])})
    )


def connected_components(
    edges: DataFrame, max_iter: int = 50, mode: str = "auto",
    checkpoint_dir: str | None = None, resume: bool = False,
) -> DataFrame:
    """``DataFrame[id: long, component: long]`` — component = min id in it.

    Every vertex appearing in ``edges`` gets a row (isolated vertices —
    present only via self-loops — label themselves). ``mode``:
    ``"auto"`` (local union-find below LOCAL_CC_MAX_E distinct simple
    edges, star contraction above), ``"local"``, or ``"stars"``.
    ``checkpoint_dir``/``resume`` give the star-contraction loop the
    same durable restart contract as PageRank (north_rule): per-round
    edge-set parquet + manifest, resumed mid-fixpoint after a crash.
    """
    if mode not in ("auto", "local", "stars"):
        raise ValueError("mode must be 'auto', 'local' or 'stars'")
    loop = F.col("src") == F.col("dst")
    # bit_xor: order-insensitive, no ANSI overflow; every state is a
    # distinct edge set, so xor-cancellation of duplicates cannot occur.
    # Self-loops count in neither aggregate, so the first state, which
    # keeps them, has the signature of its loop-free edge set
    probe = Probe(
        c=F.count_if(~loop),
        h=F.bit_xor(F.when(~loop, F.xxhash64("src", "dst"))),
    )
    # the one read of the graph: its distinct (greatest, least) pairs,
    # self-loops kept as (v, v) so that a vertex seen only in self-loops
    # keeps its row; the star rounds drop them
    e = probe.checkpoint(
        edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        ).distinct()
    )
    if mode == "local" or (
        mode == "auto" and probe.of(e)["c"] <= LOCAL_CC_MAX_E
    ):
        return _cc_local(edges.sparkSession, e)
    vertices = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )

    e, _rounds, _done = iterate(
        e,
        lambda s, _r: _small_star(_large_star(s)),
        # edge set unchanged: equal (count, xor) signatures
        probe.unchanged(),
        max_iter,
        warn=(
            f"connected_components: edge-set signature did not stabilize "
            f"within max_iter={max_iter} rounds; labels may not be final "
            "(a non-converged edge set is not a star forest)"
        ),
        checkpoint_dir=checkpoint_dir,
        resume=resume,
        probe=probe,
    )
    # Converged edge set is a star forest: (u → component root). Roots
    # and isolated vertices label themselves via the left join.
    labels = vertices.join(
        e.select(F.col("src").alias("id"), F.col("dst").alias("component")),
        "id",
        "left",
    ).select("id", F.coalesce("component", "id").alias("component"))
    return labels


def incremental_components(
    labels: DataFrame,
    new_edges: DataFrame,
    max_iter: int = 50,
    mode: str = "auto",
) -> DataFrame:
    """Connected components of ``old graph ∪ new_edges`` WITHOUT the
    old graph — ``DataFrame[id, component]`` covering every previously
    labeled vertex plus every endpoint of ``new_edges``.

    The daily-delta pattern for a continuously crawled link graph
    (the 100 TB companion of ``pagerank(init_ranks=...)`` warm
    starts): a prior :func:`connected_components` run summarizes the
    old graph's ENTIRE connectivity in its label table (vertices u, v
    are connected iff label(u) = label(v)), so edge additions never
    need the old edges re-read — CC runs on the CONTRACTED delta
    (new edges mapped endpoint→old label), which is |Δ|-sized, not
    graph-sized. Deletions are NOT supported (they can split a
    component, which labels alone cannot detect — that is a full
    recompute, or decremental machinery this engine does not carry).

    Exactness: the min-id label convention composes — the contracted
    CC's labels are mins over member contracted ids, each of which is
    already the min vertex id of its old component (or a raw
    previously-unseen vertex id), so the composed label is the min
    vertex id of the MERGED component: bit-identical to a full rerun
    on the union graph (pinned by the ``incremental_cc`` gate, whose
    oracle runs full CC on the union).

    Shape: one O(Δ) label join (broadcast when the delta's endpoint
    set is small), CC on the contracted |Δ|-edge graph, one O(V)
    compose join back onto the label table. Old labels move through
    ONE hash join; old edges move nowhere.
    """
    lab = labels.select(
        "id", F.col(labels.columns[1]).alias("component")
    ).localCheckpoint()
    delta = (
        new_edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    # endpoint -> old component (previously unseen endpoints keep
    # their own id — they are singleton "old components")
    contracted = (
        delta.join(
            lab.select(F.col("id").alias("src"), F.col("component").alias("_cs")),
            "src",
            "left",
        )
        .join(
            lab.select(F.col("id").alias("dst"), F.col("component").alias("_cd")),
            "dst",
            "left",
        )
        .select(
            F.coalesce("_cs", "src").alias("src"),
            F.coalesce("_cd", "dst").alias("dst"),
        )
    )
    merged = connected_components(contracted, max_iter=max_iter, mode=mode)
    # compose: every old vertex re-points through its component's new
    # label; components untouched by the delta keep theirs (left join)
    relabel = merged.select(
        F.col("id").alias("component"), F.col("component").alias("_nc")
    )
    old = lab.join(relabel, "component", "left").select(
        "id", F.coalesce("_nc", "component").alias("component")
    )
    # delta endpoints not previously labeled enter the vertex set
    new_v = (
        delta.select(F.col("src").alias("id"))
        .union(delta.select(F.col("dst").alias("id")))
        .distinct()
        .join(lab.select("id"), "id", "left_anti")
    )
    fresh = new_v.join(merged, "id", "left").select(
        "id", F.coalesce("component", "id").alias("component")
    )
    return old.unionByName(fresh)


def attack_tolerance(
    edges: DataFrame,
    fractions: tuple[float, ...] = (0.0, 0.05, 0.1),
    max_iter: int = 50,
    mode: str = "auto",
    order: str = "degree",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Targeted-attack robustness curve (Albert, Jeong & Barabási,
    "Error and attack tolerance of complex networks", Nature 2000) —
    for each fraction f: remove the top ``floor(f·V)`` vertices under
    the deterministic (simple degree DESC, id ASC) order, then report
    the surviving graph's fragmentation. One row per fraction:
    ``DataFrame[fraction, n_removed, n_left, n_components,
    giant_size]`` (singleton survivors count as components; at f=0.0
    the row is the baseline connectivity).

    ``order="hash"`` is the paper's RANDOM-FAILURE contrast, made
    deterministic the engine's usual way: removal order is
    (hash64(id) ASC, id ASC) — degree-blind, replayable across
    engines and reruns; ``hash_fn="md5"`` uses the portable hash so a
    DuckDB oracle recomputes the identical order. The attack/failure
    GAP is the scale-free signature: the web shatters under the
    former and shrugs off the latter.

    The standard resilience diagnostic for a link graph: scale-free
    webs survive random failure but shatter under hub-targeted attack
    — exactly the curve a crawler/CDN planner reads. Vertex semantics:
    the vertex set is the ORIGINAL graph's; survivors isolated by the
    removal stay as singleton components.

    Shape: one degree pass; per fraction one broadcast semi-join
    filter (the removed set is f·V ids) + a :func:`connected_
    components` run on the shrunken edge set + an O(V) fold. The
    driver-side loop is over len(fractions) values — each fraction is
    an independent bounded job, not an iteration. The top-k removal
    compiles to a ``TakeOrderedAndProject`` heap and the removed set
    broadcasts, so fractions are priced for the SMALL f·V regime the
    attack literature probes (up to ~10⁷ removed ids); for removing a
    constant fraction of a 10¹²-vertex graph, switch to a degree-
    threshold predicate (approx_percentile on the degree histogram)
    instead of exact rank order.
    """
    fr = sorted(set(float(f) for f in fractions))
    if not fr or fr[0] < 0.0 or fr[-1] >= 1.0:
        raise ValueError("fractions must be in [0, 1)")
    if order not in ("degree", "hash"):
        raise ValueError("order must be 'degree' or 'hash'")
    from pagerank_spark.functions.text import hash64
    from pagerank_spark.operators.triangles import (
        _simple_degrees,
        _simple_undirected,
    )

    spark = edges.sparkSession
    simple = _simple_undirected(edges).localCheckpoint()
    deg = _simple_degrees(simple).localCheckpoint()
    n_v = deg.count()
    if order == "degree":
        ranked = deg.orderBy(F.desc("deg"), F.asc("id")).select("id")
    else:
        ranked = deg.orderBy(
            F.asc(hash64(F.col("id").cast("string"), hash_fn)), F.asc("id")
        ).select("id")
    out = None
    for f in fr:
        k = int(f * n_v)
        removed = ranked.limit(k).localCheckpoint()
        surv_e = simple.join(
            F.broadcast(removed).withColumnRenamed("id", "a"), "a", "left_anti"
        ).join(
            F.broadcast(removed).withColumnRenamed("id", "b"), "b", "left_anti"
        )
        surv_v = deg.select("id").join(
            F.broadcast(removed), "id", "left_anti"
        )
        comp = connected_components(
            surv_e.select(F.col("a").alias("src"), F.col("b").alias("dst")),
            max_iter=max_iter,
            mode=mode,
        )
        lab = surv_v.join(comp, "id", "left").select(
            "id", F.coalesce("component", "id").alias("component")
        )
        sizes = lab.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
        row = sizes.agg(
            F.lit(float(f)).alias("fraction"),
            F.lit(k).cast("long").alias("n_removed"),
            F.coalesce(F.sum("sz"), F.lit(0)).cast("long").alias("n_left"),
            F.count(F.lit(1)).alias("n_components"),
            F.coalesce(F.max("sz"), F.lit(0)).cast("long").alias("giant_size"),
        )
        out = row if out is None else out.unionByName(row)
    return out

"""Bow-tie macro-structure of a directed graph (Broder et al. 2000,
"Graph structure in the Web"; region formalization per Meusel et al.
2014, "Graph Structure in the Web — Revisited").

The reference computes PageRank over exactly this kind of web link
graph (edge list + per-vertex scores, ``Page_Rank_SERIAL.c:101-142``);
the bow-tie map is the standard structural companion analysis: which
fraction of the crawl is the mutually-reachable CORE, which pages only
feed into it (IN), which are only fed by it (OUT), and what hangs off
the sides.

Regions (a deterministic partition — first match wins):

- ``CORE``        — the giant SCC (largest; ties broken by smallest
                    component label).
- ``IN``          — reaches CORE, not in CORE.
- ``OUT``         — reachable from CORE, not in CORE.
- ``TUBE``        — reachable from IN *and* reaches OUT on CORE-free
                    paths, not in any of the above.
- ``TENDRIL_IN``  — reachable from IN on CORE-free paths only.
- ``TENDRIL_OUT`` — reaches OUT on CORE-free paths only.
- ``OTHER``       — weakly connected to CORE but none of the above
                    (e.g. a vertex pointing *into* a tendril).
- ``DISCONNECTED``— not in CORE's weakly connected component.

Note IN ∩ OUT = ∅ by construction: a vertex that both reaches CORE and
is reachable from it is mutually reachable with CORE, hence in CORE.

Scale shape: one SCC run plus five multi-source reachability BFS
sweeps whose state is *skinny id sets*. Each sweep runs on
``plans.iterate``: a BFS level is one round whose frame the harness
checkpoints once, and the sweep stops when that checkpoint job observes
no new id (``Probe.drained``). The settled set is a lazy union over the
level frames (the same per-level-append pattern as ``brandes_forward``,
``centrality.py``) — no O(depth × reached) rewrite. Region assignment
is a chain of left-semi-style flag joins on id, all broadcast-able
when the periphery sets are small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.iterate import Probe, iterate, union_all

from .scc import strongly_connected_components

__all__ = ["bowtie_decomposition"]


def _reach(edges: DataFrame, seeds: DataFrame, max_iter: int) -> DataFrame:
    """All ids reachable from the seed set (seeds included) via a
    single blended multi-source BFS — ``DataFrame[id]``, distinct.

    ``edges`` must expose (src, dst); only the frontier (new ids this
    level) moves per round, and the anti-join scans the level frames
    ``iterate`` already checkpointed, read-only.
    """
    frames = [seeds.select("id").distinct().localCheckpoint()]
    new_ids = Probe(n=F.count(F.lit(1)))

    def _level(frontier: DataFrame, _round: int) -> DataFrame:
        return (
            edges.join(frontier.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(union_all(frames), "id", "left_anti")
        )

    iterate(
        frames[0], _level, new_ids.drained("n", keep=frames), max_iter,
        warn=(
            f"bowtie reach stopped at max_iter={max_iter} with a "
            "non-empty frontier; region assignment may undercount "
            "reachable sets — raise max_iter above the graph diameter"
        ),
        probe=new_ids,
    )
    return union_all(frames)


def _flag(ids: DataFrame, name: str) -> DataFrame:
    return ids.select("id", F.lit(True).alias(name))


def bowtie_decomposition(
    edges: DataFrame, max_iter: int = 100, scc_mode: str = "auto"
) -> DataFrame:
    """``DataFrame[id: long, region: string]`` — one row per vertex of
    ``edges``, region per the module taxonomy. Deterministic for a
    given edge multiset (self-loops and duplicates are irrelevant).
    """
    spark = edges.sparkSession
    P = spark.sparkContext.defaultParallelism
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint()
    )
    vertices = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    if vertices.isEmpty():
        return spark.createDataFrame([], "id long, region string")

    comp = strongly_connected_components(e, mode=scc_mode)
    giant = (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("component"))
        .limit(1)
    )
    core = (
        comp.join(giant.select("component"), "component", "left_semi")
        .select("id")
        .localCheckpoint()
    )

    e_fwd = e.repartition(P, "src").persist()
    e_bwd = (
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        .repartition(P, "src")
        .persist()
    )
    try:
        fwd = _reach(e_fwd, core, max_iter)  # CORE ∪ OUT
        bwd = _reach(e_bwd, core, max_iter)  # CORE ∪ IN
        out_ = fwd.join(core, "id", "left_anti").localCheckpoint()
        in_ = bwd.join(core, "id", "left_anti").localCheckpoint()

        # weak connectivity to CORE: reach over the symmetrized edge set
        wcc = _reach(e_fwd.unionByName(e_bwd), core, max_iter)

        # CORE-free subgraph for tube/tendril paths
        core_src = core.withColumnRenamed("id", "src")
        core_dst = core.withColumnRenamed("id", "dst")
        e_nc = (
            e.join(core_src, "src", "left_anti")
            .join(core_dst, "dst", "left_anti")
            .select("src", "dst")
            .localCheckpoint()
        )
        e_nc_bwd = e_nc.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
        from_in = _reach(e_nc, in_, max_iter)
        to_out = _reach(e_nc_bwd, out_, max_iter)
    finally:
        e_fwd.unpersist()
        e_bwd.unpersist()

    return (
        vertices.join(_flag(core, "_core"), "id", "left")
        .join(_flag(in_, "_in"), "id", "left")
        .join(_flag(out_, "_out"), "id", "left")
        .join(_flag(from_in, "_fi"), "id", "left")
        .join(_flag(to_out, "_to"), "id", "left")
        .join(_flag(wcc, "_wcc"), "id", "left")
        .select(
            "id",
            F.when(F.col("_core"), "CORE")
            .when(F.col("_in"), "IN")
            .when(F.col("_out"), "OUT")
            .when(F.col("_fi") & F.col("_to"), "TUBE")
            .when(F.col("_fi"), "TENDRIL_IN")
            .when(F.col("_to"), "TENDRIL_OUT")
            .when(F.col("_wcc"), "OTHER")
            .otherwise("DISCONNECTED")
            .alias("region"),
        )
    )

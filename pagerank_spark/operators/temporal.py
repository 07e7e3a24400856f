"""Time-respecting (temporal) graph reachability.

In a temporal graph every edge carries a timestamp; a path is
*time-respecting* if each hop departs no earlier than the previous
hop arrived (Kempe, Kleinberg & Kumar, "Connectivity and inference
problems for temporal networks", STOC 2000; Holme & Saramäki,
"Temporal networks", Phys. Rep. 2012). Static reachability wildly
overcounts influence on event streams — A→B at noon and B→C at 9am
does NOT let A reach C. The earliest-arrival relaxation below is the
temporal analogue of BFS and the building block for temporal
closeness/betweenness and outbreak/influence analysis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.gather import partition_on_src, relax


def _earliest_arrival(
    tedges: DataFrame,
    arr: DataFrame,
    keys: list[str],
    max_hops: int | None,
    duration_col: str | None = None,
) -> DataFrame:
    """Min-arrival relaxation of the ``(*keys, id, arrival)`` frame
    ``arr`` over ``tedges`` until no arrival improves, or for
    ``max_hops`` rounds. ``keys`` ride along untouched — none for a
    single seed set, ``["source"]`` for one run per source. An edge
    ``(u, v, t)`` is usable once ``t >= arrival(u)`` and lands at ``t``
    (``t + duration`` with ``duration_col``).

    Duplicate timestamped rows are exactly redundant under the min fold,
    so the edge frame is deduplicated (every timestamp stays), partitioned
    on ``src`` and persisted ONCE: rounds move only the arrival side.
    """
    cols = [
        F.col("src").cast("long"),
        F.col("dst").cast("long"),
        F.col("t").cast("long"),
    ]
    land = F.col("t")
    if duration_col is not None:
        cols.append(F.col(duration_col).cast("long").alias("_dur"))
        land = land + F.col("_dur")
    te = partition_on_src(tedges.select(*cols).distinct())
    try:
        # max(1, ...): do-while — max_hops <= 0 still relaxes one round
        return relax(
            te, arr, keys, "arrival",
            F.when(F.col("t") >= F.col("arrival"), land), F.min,
            max(1, max_hops) if max_hops is not None else (1 << 31),
            warn=None,
        )
    finally:
        te.unpersist()


def temporal_reachability(
    tedges: DataFrame,
    sources: list[int],
    start: int = 0,
    max_hops: int | None = None,
    duration_col: str | None = None,
) -> DataFrame:
    """Earliest-arrival time from a seed set over timestamped edges.

    ``tedges`` is ``(src, dst, t)`` with integer timestamps (epoch
    seconds or any monotone clock). Seeds start at time ``start``;
    an edge ``(u, v, t)`` is usable when ``t >= arrival(u)`` (the
    non-strict convention — same-instant relays allowed) and yields
    ``arrival(v) <= t``. Iterates the min-arrival relaxation

        a_{k+1}(v) = min(a_k(v), min { t : (u,v,t) ∈ E, t ≥ a_k(u) })

    to fixpoint (or ``max_hops`` rounds — then the result is exact
    ≤ max_hops-hop reachability). Like BFS/CC the relaxation is
    confluent: arrival times only decrease and the fixpoint is
    independent of evaluation order, so the loop parallelizes freely.

    ``duration_col`` names an optional non-negative integer edge
    traversal time (latency-aware variant: crawl delay, retweet lag,
    flight duration): an edge departing at ``t`` then lands at
    ``t + duration``, i.e. ``arrival(v) ≤ t + dur`` — the
    Kempe-Kleinberg-Kumar transit-time generalization. ``None`` keeps
    the instantaneous (dur = 0) convention. Confluence is unaffected
    (non-negative durations keep the relaxation monotone).

    Returns ``(id, arrival)`` for every reached vertex (seeds at
    ``start``). All-integer arithmetic — exact on any engine.

    Scale shape per round: ONE join of the edge table against the
    O(reached) arrival frame on ``src`` plus a min-combinable
    aggregate on ``dst`` — the same shuffle shape as the BFS kernel,
    with early termination when a round changes nothing. Timestamps
    ride as longs; no per-row Python.
    """
    arr = tedges.sparkSession.createDataFrame(
        [(int(s), int(start)) for s in sorted(set(sources))],
        "id long, arrival long",
    )
    return _earliest_arrival(tedges, arr, [], max_hops, duration_col)


def snapshot_pagerank(
    tedges: DataFrame,
    boundaries: list[int],
    **pagerank_kwargs,
) -> DataFrame:
    """Per-time-window PageRank over timestamped edges — the snapshot
    view of temporal link analysis (Holme & Saramäki 2012 §3: a
    temporal graph as a sequence of static snapshots). Window ``i``
    covers ``[boundaries[i], boundaries[i+1])``; each snapshot is one
    independent :func:`~pagerank_spark.operators.pagerank.pagerank`
    run over the window's edge slice (every mode/dangling/salting knob
    forwards), so rank drift across windows exposes rising/falling
    pages the all-time rank averages away.

    Returns ``(window, id, rank)``. Each window's vertex space is the
    window's own [0, 1 + max id] — snapshots are self-contained, like
    running the engine on that day's crawl alone.

    Scale shape: the window filter is a pushed-down predicate on the
    (partition-prunable, if t-partitioned) edge scan; windows run as
    separate bounded jobs, trivially schedulable in parallel across a
    cluster. No cross-window state.
    """
    if len(boundaries) < 2 or sorted(boundaries) != list(boundaries):
        raise ValueError("snapshot_pagerank: need >= 2 sorted boundaries")
    from pagerank_spark.operators.pagerank import pagerank

    te = tedges.select(
        F.col("src").cast("long"),
        F.col("dst").cast("long"),
        F.col("t").cast("long"),
    )
    out = None
    for i in range(len(boundaries) - 1):
        lo, hi = int(boundaries[i]), int(boundaries[i + 1])
        e = te.where((F.col("t") >= lo) & (F.col("t") < hi)).select(
            "src", "dst"
        )
        res = pagerank(e, **pagerank_kwargs)
        w = res.ranks.select(
            F.lit(i).alias("window"), "id", "rank"
        )
        out = w if out is None else out.unionByName(w)
    return out


def temporal_reachability_keyed(
    tedges: DataFrame,
    sources: list[int],
    start: int = 0,
    max_hops: int | None = None,
) -> DataFrame:
    """Per-source earliest arrival for a pivot set — the temporal twin
    of the keyed multi-source BFS (``paths.py``): one relaxation run
    carries EVERY source as a key column instead of one job per source.
    The per-source reached-set sizes are the outbreak/influence
    statistic of temporal-network analysis (Holme & Saramäki 2012 §4).

    Returns ``(source, id, arrival)`` — one row per (source, reached
    vertex). Scale shape per round: ONE join of the edge table against
    the O(Σ reached) arrival frame on the vertex id plus a
    min-combinable aggregate keyed (source, dst); state is the keyed
    arrival frame, |sources| × O(reached) skinny rows.
    """
    arr = tedges.sparkSession.createDataFrame(
        [(int(s), int(s), int(start)) for s in sorted(set(sources))],
        "source long, id long, arrival long",
    )
    return _earliest_arrival(tedges, arr, ["source"], max_hops)

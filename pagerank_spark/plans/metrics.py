"""Measured shuffle metrics via Spark's monitoring REST API.

The reference instruments its kernel with PAPI hardware counters and
wall-clock timers (``Page_Rank_MPI_2.c:70-87,403-412``); the Spark
analogue for "how much data moved" is the per-stage shuffle read/write
byte counters exposed by the public monitoring API
(``/api/v1/applications/<id>/stages``). Only join-strategy
``pagerank`` snapshots these, around every iteration, so its checkpoint
manifest records MEASURED shuffle bytes per iteration (north_rule
"per-partition lineage + metrics") instead of a static estimate. The
local and block strategies move no shuffle data by construction (the
block iteration's plan is checked to hold no ``Exchange``) and record
zero without reading the store.

Requires the UI server (``spark.ui.enabled=true`` — Spark's stock
default, and the engine session's default). When the UI is disabled
(e.g. ``SPARK_UI=false`` in the session env) or the REST endpoint is
unreachable, the helpers return ``None`` and callers degrade
gracefully: the checkpoint-manifest metric fields
``shuffle_read_bytes`` / ``shuffle_write_bytes`` are then ``None``
(meaning UNMEASURED, not zero) — manifest consumers must treat
``None`` as "no measurement available", never as "no shuffle".
"""

from __future__ import annotations

import json
import urllib.request

from pyspark.sql import SparkSession


def shuffle_totals_settled(
    spark: SparkSession, tries: int = 20, pause_s: float = 0.05
) -> dict | None:
    """A snapshot taken after the status store quiesces (two identical
    consecutive reads). The store is fed by an async listener bus, so a
    snapshot taken right after an action can miss stages still in
    flight; use this for BASELINE snapshots whose later deltas must not
    absorb earlier work (e.g. prepare-phase shuffles leaking into
    iteration 1). Falls back to the last read if the bus stays busy.
    """
    import time

    prev = shuffle_totals(spark)
    if prev is None:
        return None
    for _ in range(tries):
        time.sleep(pause_s)
        cur = shuffle_totals(spark)
        if cur == prev:
            return cur
        prev = cur
    return prev


def shuffle_totals(spark: SparkSession) -> dict | None:
    """Per-stage shuffle-byte snapshot: ``{(stageId, attemptId):
    (read_bytes, write_bytes)}``, or ``None`` when the UI/REST endpoint
    is unavailable. Keyed per stage (not summed) so a later delta is
    immune to the UI's retained-stage eviction — a cumulative total
    would DROP whenever old stages rotate out of the store.
    """
    sc = spark.sparkContext
    url = sc.uiWebUrl
    if not url:
        return None
    try:
        with urllib.request.urlopen(
            f"{url}/api/v1/applications/{sc.applicationId}/stages", timeout=5
        ) as r:
            stages = json.load(r)
    except Exception:
        return None
    return {
        (s["stageId"], s.get("attemptId", 0)): (
            s.get("shuffleReadBytes", 0),
            s.get("shuffleWriteBytes", 0),
        )
        for s in stages
    }


def shuffle_delta(before: dict | None, after: dict | None) -> dict:
    """Measured shuffle bytes between two snapshots (``None`` fields
    when unmeasured).

    Sums only stages present in ``after``: new stages count in full,
    stages seen in both count their growth, and stages evicted from the
    store between snapshots (present only in ``before``) are ignored —
    they finished before the window anyway.
    """
    if before is None or after is None:
        return {"shuffle_read_bytes": None, "shuffle_write_bytes": None}
    read = write = 0
    for key, (r, w) in after.items():
        r0, w0 = before.get(key, (0, 0))
        read += max(r - r0, 0)
        write += max(w - w0, 0)
    return {"shuffle_read_bytes": read, "shuffle_write_bytes": write}

"""Co-occurrence graph derivation (bipartite projection).

The second graph-derivation path next to the corpus parser
(``derive.py``): project any ``(key, item)`` relation onto a weighted
item-item graph — parts co-ordered in the same order, files co-changed
in the same commit, tokens co-occurring in the same document. The
output plugs straight into the rest of the engine (PageRank,
communities, link prediction).

Shape: dedup to distinct (key, item), drop keys with more than
``max_items_per_key`` items, one self-join on the key with ``a < b``,
one map-side-combinable count. The cap is the scale guard — one
degenerate key with 10^5 items would alone emit 5·10^9 pairs, and
co-occurrence with such hub keys is signal-free (every item matches
every other); dropping them is the standard market-basket practice,
and the cap bounds the join at |keys|·cap² output rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.gather import score_join_hint


def cooccurrence_graph(
    df: DataFrame,
    key_col: str,
    item_col: str,
    min_count: int = 1,
    max_items_per_key: int = 1000,
    weighting: str = "count",
) -> DataFrame:
    """``DataFrame[src, dst, weight]`` with src < dst — weight = number
    of distinct keys containing both items (per-key duplicates count
    once). Items keep ``item_col``'s type; self-pairs never appear.

    ``weighting`` normalizes the raw co-count into a similarity (after
    the ``min_count`` support filter, which always applies to the RAW
    count — the association-rule convention):

    - ``"count"`` (default): raw co-occurrence count
    - ``"jaccard"``: ``co / (n_src + n_dst − co)`` — fraction of keys
      containing either item that contain both
    - ``"cosine"``: ``co / sqrt(n_src · n_dst)`` — the Salton index,
      hub-item-robust

    where ``n_x`` is the number of distinct keys containing item x
    (computed within the ``max_items_per_key``-filtered relation, so
    the normalization matches the pair counts). Normalized weights
    plug into the weighted algorithm surface (PageRank, modularity
    moves, SSSP) as similarity strengths.
    """
    if weighting not in ("count", "jaccard", "cosine"):
        raise ValueError("weighting must be 'count', 'jaccard' or 'cosine'")
    d = df.select(
        F.col(key_col).alias("_k"), F.col(item_col).alias("_i")
    ).distinct()
    ok = (
        d.groupBy("_k")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") <= max_items_per_key)
        .select("_k")
    )
    d = d.join(ok, "_k", "left_semi").localCheckpoint()
    pairs = (
        d.select("_k", F.col("_i").alias("src"))
        .join(d.select("_k", F.col("_i").alias("dst")), "_k")
        .where(F.col("src") < F.col("dst"))
    )
    co = (
        pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
        .where(F.col("weight") >= min_count)
    )
    if weighting == "count":
        return co
    item_n = d.groupBy(F.col("_i").alias("_it")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    co = (
        co.join(item_n.select(F.col("_it").alias("src"), F.col("_n").alias("_ns")), "src")
        .join(item_n.select(F.col("_it").alias("dst"), F.col("_n").alias("_nd")), "dst")
    )
    if weighting == "jaccard":
        w = F.col("weight") / (F.col("_ns") + F.col("_nd") - F.col("weight"))
    else:
        w = F.col("weight") / F.sqrt(F.col("_ns") * F.col("_nd"))
    return co.select("src", "dst", w.alias("weight"))


def contract_graph(
    edges: DataFrame,
    labels: DataFrame,
    label_col: str = "label",
    weight_col: str | None = None,
    drop_self: bool = False,
) -> DataFrame:
    """Community coarsening (the Louvain phase-2 shape): map each
    endpoint to its community label and collapse parallel edges into
    one weighted super-edge — ``DataFrame[src, dst, weight]`` on label
    ids, with ``weight`` = edge multiplicity (or ``sum(weight_col)``).

    Unlabeled endpoints keep their own vertex id (``coalesce``), so a
    partial labeling contracts only the labeled region. Intra-community
    edges become self-loops (kept by default — modularity of the
    coarse graph needs them; ``drop_self=True`` for display graphs).

    Scale shape: two equi-joins against the O(V) label side (broadcast
    below the engine's usual 100k-vertex threshold, shuffle-hash
    above — only the label side moves against a fat edge table), then
    one map-side-combinable aggregation on (super-src, super-dst). The
    output graph is |communities|-sized and feeds back into every
    engine operator — iterating contract → cluster → contract is the
    standard multi-level community pipeline.
    """
    # checkpoint before the hint-deciding count: labels often carry a
    # whole SCC/LPA run in their lineage, and without materialization
    # that run would execute once for the count and again per join
    lab = labels.select("id", F.col(label_col).alias("_lab")).localCheckpoint()
    hint = score_join_hint(lab.count())
    w = (
        F.sum(F.col(weight_col)).alias("weight")
        if weight_col
        else F.count(F.lit(1)).alias("weight")
    )
    out = (
        edges.join(
            lab.select(F.col("id").alias("src"), F.col("_lab").alias("_ls")).hint(hint),
            "src",
            "left",
        )
        .join(
            lab.select(F.col("id").alias("dst"), F.col("_lab").alias("_ld")).hint(hint),
            "dst",
            "left",
        )
        .select(
            F.coalesce("_ls", "src").alias("src"),
            F.coalesce("_ld", "dst").alias("dst"),
            *([weight_col] if weight_col else []),
        )
        .groupBy("src", "dst")
        .agg(w)
    )
    if drop_self:
        out = out.where(F.col("src") != F.col("dst"))
    return out

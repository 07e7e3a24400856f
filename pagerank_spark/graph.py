"""LinkGraph — the engine's one-stop graph handle.

A thin, immutable wrapper over an edge DataFrame that gives a user of
the reference a single object with every capability the reference (and
this engine's extensions) provide:

    g = LinkGraph.from_snap(spark, "RETE.txt", first_node=1)
    g = LinkGraph.from_corpus(corpus_df)          # repo reference graph
    g.pagerank(dangling="redistribute").ranks
    g.personalized_pagerank([seed_id]).ranks
    g.connected_components()
    g.label_propagation(max_iter=10)
    g.triangle_count()
    g.shortest_paths([source_id])
    g.degrees()
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from pagerank_spark.operators.components import connected_components
from pagerank_spark.operators.degrees import degrees as _degrees
from pagerank_spark.operators.densify import densify_ids
from pagerank_spark.operators.derive import derive_edges
from pagerank_spark.operators.labelprop import label_propagation
from pagerank_spark.operators.pagerank import PageRankResult, pagerank
from pagerank_spark.operators.triangles import triangle_count
from pagerank_spark.sources.snap import read_snap_edges


@dataclass(frozen=True)
class LinkGraph:
    edges: DataFrame  # src: long, dst: long [, weight]
    n: int | None = None
    weight_col: str | None = None
    mapping: DataFrame | None = None  # orig_id <-> dense id, if densified

    @classmethod
    def from_snap(
        cls, spark: SparkSession, path: str, first_node: int = 0
    ) -> "LinkGraph":
        edges, n, _e = read_snap_edges(spark, path, first_node)
        return cls(edges=edges, n=n)

    @classmethod
    def from_corpus(cls, corpus: DataFrame) -> "LinkGraph":
        """Corpus table (repo, path, commit, lang, content) -> weighted
        dense repo graph, keeping the id mapping for result joins."""
        return cls._densified(derive_edges(corpus))

    @classmethod
    def from_cooccurrence(
        cls,
        df: DataFrame,
        key_col: str,
        item_col: str,
        min_count: int = 1,
        max_items_per_key: int = 1000,
        weighting: str = "count",
    ) -> "LinkGraph":
        """Any ``(key, item)`` relation → weighted dense item graph
        (market-basket, co-change, shared-contributor …) ready for the
        whole algorithm surface, with the original-id mapping kept for
        ``with_original_ids``. Same plumbing as ``from_corpus``."""
        from pagerank_spark.operators.cooccur import cooccurrence_graph

        return cls._densified(
            cooccurrence_graph(
                df, key_col, item_col, min_count, max_items_per_key,
                weighting=weighting,
            )
        )

    @classmethod
    def _densified(cls, weighted: DataFrame) -> "LinkGraph":
        """``(src, dst, weight)`` over arbitrary ids -> dense weighted
        graph with the ``orig_id <-> id`` mapping kept."""
        from pyspark.sql import functions as F

        weighted = weighted.persist()
        _dense, mapping = densify_ids(weighted.select("src", "dst"))
        # mapping's lineage includes the whole edge derivation (e.g. the
        # corpus regex scan) — cache it so the two resolution joins and
        # the count scan it exactly once
        mapping = mapping.persist()
        m_src = mapping.withColumnRenamed("orig_id", "src").withColumnRenamed(
            "id", "src_id"
        )
        m_dst = mapping.withColumnRenamed("orig_id", "dst").withColumnRenamed(
            "id", "dst_id"
        )
        wdense = (
            weighted.join(m_src, "src")
            .join(m_dst, "dst")
            .select(
                F.col("src_id").alias("src"),
                F.col("dst_id").alias("dst"),
                "weight",
            )
            # materialize now so `weighted` can be released immediately —
            # otherwise the persisted edge table pins executor storage
            # for the rest of the session with no handle to unpersist
            .localCheckpoint()
        )
        n = mapping.count()
        weighted.unpersist()
        return cls(edges=wdense, n=n, weight_col="weight", mapping=mapping)

    def pagerank(self, **kwargs) -> PageRankResult:
        kwargs.setdefault("n", self.n)
        kwargs.setdefault("weight_col", self.weight_col)
        return pagerank(self.edges, **kwargs)

    def degrees(self) -> DataFrame:
        return _degrees(self.edges)

    def degree_histogram(self) -> DataFrame:
        from pagerank_spark.operators.degrees import degree_histogram

        return degree_histogram(self.edges)

    def reciprocity(self) -> DataFrame:
        from pagerank_spark.operators.degrees import reciprocity

        return reciprocity(self.edges)

    def connected_components(self, max_iter: int = 50) -> DataFrame:
        return connected_components(self.edges, max_iter=max_iter)

    def strongly_connected_components(
        self, max_iter: int = 50, mode: str = "auto"
    ) -> DataFrame:
        from pagerank_spark.operators.scc import (
            strongly_connected_components,
        )

        return strongly_connected_components(
            self.edges, max_iter=max_iter, mode=mode
        )

    def label_propagation(self, max_iter: int = 10) -> DataFrame:
        return label_propagation(self.edges, max_iter=max_iter)

    def triangle_count(self, per_vertex: bool = False) -> DataFrame:
        return triangle_count(self.edges, per_vertex=per_vertex)

    def shortest_paths(
        self, sources: list[int], weighted: bool = False, max_iter: int = 50
    ) -> DataFrame:
        from pagerank_spark.operators.paths import shortest_paths

        if weighted and self.weight_col is None:
            raise ValueError(
                "shortest_paths(weighted=True) on a graph with no "
                "weight_col — the silent fallback would return hop "
                "counts, a structurally different answer"
            )
        return shortest_paths(
            self.edges, sources,
            weight_col=self.weight_col if weighted else None,
            max_iter=max_iter,
        )

    def personalized_pagerank(self, sources: list[int], **kwargs) -> PageRankResult:
        return self.pagerank(personalize=sources, **kwargs)

    def hits(self, max_iter: int = 20, tol: float | None = None) -> DataFrame:
        from pagerank_spark.operators.hits import hits

        return hits(
            self.edges, max_iter=max_iter, tol=tol,
            weight_col=self.weight_col,
        )

    def clustering_coefficient(self, per_vertex: bool = True) -> DataFrame:
        from pagerank_spark.operators.triangles import clustering_coefficient

        return clustering_coefficient(self.edges, per_vertex=per_vertex)

    def k_core(self, k: int, max_iter: int = 50) -> DataFrame:
        from pagerank_spark.operators.cores import k_core

        return k_core(self.edges, k, max_iter=max_iter)

    def k_truss(self, k: int, max_iter: int = 50) -> DataFrame:
        from pagerank_spark.operators.cores import k_truss

        return k_truss(self.edges, k, max_iter=max_iter)

    def trussness(self, max_iter: int = 200) -> DataFrame:
        from pagerank_spark.operators.cores import trussness

        return trussness(self.edges, max_iter=max_iter)

    def coreness(self, max_iter: int = 200) -> DataFrame:
        from pagerank_spark.operators.cores import coreness

        return coreness(self.edges, max_iter=max_iter)

    def link_prediction(
        self, min_common: int = 1, max_degree: int | None = 10_000
    ) -> DataFrame:
        from pagerank_spark.operators.linkpred import link_prediction

        return link_prediction(
            self.edges, min_common=min_common, max_degree=max_degree
        )

    def random_walks(
        self, length: int, walks_per_vertex: int = 1, seed: int = 42
    ) -> DataFrame:
        from pagerank_spark.operators.walks import random_walks

        return random_walks(
            self.edges, length, walks_per_vertex=walks_per_vertex, seed=seed
        )

    def sample_edges(self, fraction: float, seed: int = 42) -> "LinkGraph":
        from pagerank_spark.operators.sampling import sample_edges

        return LinkGraph(
            sample_edges(self.edges, fraction, seed=seed),
            mapping=self.mapping,
            weight_col=self.weight_col,
        )

    def summary(self) -> DataFrame:
        from pagerank_spark.operators.summary import graph_summary

        return graph_summary(self.edges)

    def double_sweep(self, start: int = 0) -> DataFrame:
        from pagerank_spark.operators.paths import double_sweep

        return double_sweep(self.edges, start=start)

    def harmonic_centrality(
        self, pivots: list[int], max_iter: int = 50
    ) -> DataFrame:
        from pagerank_spark.operators.paths import harmonic_centrality

        return harmonic_centrality(
            self.edges, pivots, max_iter=max_iter,
            weight_col=self.weight_col,
        )

    def closeness_centrality(
        self, pivots: list[int], max_iter: int = 50
    ) -> DataFrame:
        from pagerank_spark.operators.paths import closeness_centrality

        return closeness_centrality(
            self.edges, pivots, max_iter=max_iter,
            weight_col=self.weight_col,
        )

    def katz_centrality(
        self,
        alpha: float = 0.1,
        beta: float = 1.0,
        max_iter: int = 10,
        tol: float | None = None,
    ) -> DataFrame:
        from pagerank_spark.operators.centrality import katz_centrality

        return katz_centrality(
            self.edges, alpha=alpha, beta=beta, max_iter=max_iter, tol=tol,
            weight_col=self.weight_col,
        )

    def eigenvector_centrality(
        self, max_iter: int = 20, tol: float | None = None
    ) -> DataFrame:
        from pagerank_spark.operators.centrality import eigenvector_centrality

        return eigenvector_centrality(
            self.edges, max_iter=max_iter, tol=tol, weight_col=self.weight_col
        )

    def betweenness_centrality(
        self, pivots: list[int], max_iter: int = 50, normalized: bool = False
    ) -> DataFrame:
        from pagerank_spark.operators.centrality import betweenness_centrality

        return betweenness_centrality(
            self.edges, pivots, max_iter=max_iter, normalized=normalized
        )

    def greedy_modularity_moves(
        self, labels: DataFrame | None = None, max_iter: int = 5
    ) -> DataFrame:
        from pagerank_spark.operators.labelprop import greedy_modularity_moves

        return greedy_modularity_moves(
            self.edges, labels=labels, max_iter=max_iter,
            weight_col=self.weight_col,
        )

    def contract(
        self, labels: DataFrame, label_col: str = "label",
        drop_self: bool = False,
    ) -> "LinkGraph":
        """Coarsen into the community supergraph (weighted; feeds back
        into every LinkGraph operator for multi-level pipelines)."""
        from pagerank_spark.operators.cooccur import contract_graph

        return LinkGraph(
            contract_graph(
                self.edges, labels, label_col=label_col,
                weight_col=self.weight_col, drop_self=drop_self,
            ),
            weight_col="weight",
        )

    def degree_assortativity(self) -> DataFrame:
        from pagerank_spark.operators.degrees import degree_assortativity

        return degree_assortativity(self.edges)

    def wl_colors(self, rounds: int = 3, directed: bool = False) -> DataFrame:
        from pagerank_spark.operators.wl import wl_colors

        return wl_colors(self.edges, rounds=rounds, directed=directed)

    def effective_diameter(self, q: float = 0.9, pivots=None) -> DataFrame:
        """``pivots=None`` (exact mode) is only allowed when the graph
        is known small — the exact neighborhood function seeds a BFS
        from EVERY vertex (O(V·reached) state); pass a pivot sample or
        use :meth:`hyper_anf` at scale."""
        from pagerank_spark.operators.paths import effective_diameter

        if pivots is None:
            from pyspark.sql import functions as F

            n = self.n
            if n is None:  # cheap count beats refusing small graphs
                n = (
                    self.edges.select(F.col("src").alias("id"))
                    .union(self.edges.select(F.col("dst").alias("id")))
                    .distinct()
                    .count()
                )
            if n > 100_000:
                raise ValueError(
                    "effective_diameter without pivots runs the exact "
                    "all-sources form (O(V*reached) state) — pass "
                    "pivots=[...] or use hyper_anf() for large graphs"
                )
        return effective_diameter(self.edges, q=q, sources=pivots)

    def maximal_independent_set(self, max_iter: int = 50) -> DataFrame:
        from pagerank_spark.operators.mis import maximal_independent_set

        return maximal_independent_set(self.edges, max_iter=max_iter)

    def greedy_coloring(self, max_colors: int = 64) -> DataFrame:
        from pagerank_spark.operators.mis import greedy_coloring

        return greedy_coloring(self.edges, max_colors=max_colors)

    def maximal_matching(self, max_iter: int = 50) -> DataFrame:
        from pagerank_spark.operators.mis import maximal_matching

        return maximal_matching(self.edges, max_iter=max_iter)

    def vertex_cover(self, max_iter: int = 50) -> DataFrame:
        from pagerank_spark.operators.mis import vertex_cover

        return vertex_cover(self.edges, max_iter=max_iter)

    def rich_club(self) -> DataFrame:
        from pagerank_spark.operators.degrees import rich_club

        return rich_club(self.edges)

    def s_metric(self, normalized: bool = False) -> DataFrame:
        from pagerank_spark.operators.degrees import s_metric

        return s_metric(self.edges, normalized=normalized)

    def minimum_spanning_forest(self, max_iter: int = 30) -> DataFrame:
        from pagerank_spark.operators.mst import minimum_spanning_forest

        return minimum_spanning_forest(
            self.edges, weight_col=self.weight_col, max_iter=max_iter
        )

    def avg_neighbor_degree(self) -> DataFrame:
        from pagerank_spark.operators.degrees import avg_neighbor_degree

        return avg_neighbor_degree(self.edges)

    def widest_paths(self, sources: list[int]) -> DataFrame:
        from pagerank_spark.operators.paths import widest_paths

        if self.weight_col is None:
            raise ValueError("widest_paths needs a weighted LinkGraph")
        return widest_paths(self.edges, sources, weight_col=self.weight_col)

    def global_efficiency(self, pivots: list[int]) -> DataFrame:
        from pagerank_spark.operators.paths import global_efficiency

        return global_efficiency(self.edges, pivots)

    def salsa(self) -> DataFrame:
        from pagerank_spark.operators.salsa import salsa

        return salsa(self.edges)

    def simrank(self, c: float = 0.8, iters: int = 3) -> DataFrame:
        from pagerank_spark.operators.simrank import simrank

        return simrank(self.edges, c=c, iters=iters)

    def spam_mass(self, trusted: list[int], **kwargs) -> DataFrame:
        from pagerank_spark.operators.centrality import spam_mass

        return spam_mass(self.edges, trusted, n=self.n, **kwargs)

    def edge_embeddedness(self) -> DataFrame:
        from pagerank_spark.operators.linkpred import edge_embeddedness

        return edge_embeddedness(self.edges)

    def edge_dispersion(self, max_common: int | None = 10_000) -> DataFrame:
        from pagerank_spark.operators.linkpred import edge_dispersion

        return edge_dispersion(self.edges, max_common=max_common)

    def four_cycles(self, max_degree: int | None = 10_000) -> DataFrame:
        from pagerank_spark.operators.linkpred import four_cycles

        return four_cycles(self.edges, max_degree=max_degree)

    def bowtie_decomposition(self, **kwargs) -> DataFrame:
        from pagerank_spark.operators.bowtie import bowtie_decomposition

        return bowtie_decomposition(self.edges, **kwargs)

    def topological_levels(self, max_iter: int = 100) -> DataFrame:
        from pagerank_spark.operators.paths import topological_levels

        return topological_levels(self.edges, max_iter=max_iter)

    def hyper_anf(self, p: int = 10, max_iter: int = 50) -> DataFrame:
        from pagerank_spark.operators.anf import hyper_anf

        return hyper_anf(self.edges, p=p, max_iter=max_iter)

    def densest_subgraph(
        self, epsilon: float = 0.0, max_iter: int = 100
    ) -> DataFrame:
        from pagerank_spark.operators.cores import densest_subgraph

        return densest_subgraph(self.edges, epsilon=epsilon, max_iter=max_iter)

    def k_truss_core(self, k: int) -> "LinkGraph":
        """The k-truss as a LinkGraph — SYMMETRIZED (each undirected
        truss edge emitted in both directions) so directed-convention
        operators (PageRank, SCC, shortest paths) see the undirected
        structure rather than an arbitrary a<b orientation."""
        t = self.k_truss(k).localCheckpoint()
        from pyspark.sql import functions as F

        sym = t.select(
            F.col("a").alias("src"), F.col("b").alias("dst")
        ).union(t.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        return LinkGraph(sym, mapping=self.mapping)

    def subgraph(self, vertices) -> "LinkGraph":
        """Vertex-induced subgraph: keep edges whose BOTH endpoints are
        in ``vertices`` (a ``DataFrame[id]`` or a list of ids). Two
        left-semi joins — the vertex side is the small one and
        broadcasts; weights and the id mapping carry over."""
        from pyspark.sql import functions as F

        if isinstance(vertices, DataFrame):
            vs = vertices.select(F.col(vertices.columns[0]).alias("id"))
        else:
            vs = self.edges.sparkSession.createDataFrame(
                [(int(v),) for v in set(vertices)], "id long"
            )
        kept = (
            self.edges.join(
                vs.withColumnRenamed("id", "src"), "src", "left_semi"
            ).join(vs.withColumnRenamed("id", "dst"), "dst", "left_semi")
        ).select(self.edges.columns)
        return LinkGraph(
            kept, weight_col=self.weight_col, mapping=self.mapping
        )

    def save(self, path: str) -> None:
        """Persist the graph under ``path``: ``edges/`` (and
        ``mapping/`` when densified) as parquet, plus a one-row
        ``meta/`` parquet carrying n and the weight column name —
        everything goes through Spark writers, so any Hadoop-compatible
        filesystem works (no driver-local file I/O)."""
        spark = self.edges.sparkSession
        self.edges.write.mode("overwrite").parquet(f"{path}/edges")
        if self.mapping is not None:
            self.mapping.write.mode("overwrite").parquet(f"{path}/mapping")
        spark.createDataFrame(
            [(self.n, self.weight_col, self.mapping is not None)],
            "n long, weight_col string, has_mapping boolean",
        ).write.mode("overwrite").parquet(f"{path}/meta")

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LinkGraph":
        """Reload a graph written by :meth:`save`."""
        meta = spark.read.parquet(f"{path}/meta").collect()[0]
        return cls(
            edges=spark.read.parquet(f"{path}/edges"),
            n=meta["n"],
            weight_col=meta["weight_col"],
            mapping=(
                spark.read.parquet(f"{path}/mapping")
                if meta["has_mapping"]
                else None
            ),
        )

    def with_original_ids(self, result: DataFrame, id_col: str = "id") -> DataFrame:
        """Join a dense-id result back to original ids (post-densify)."""
        if self.mapping is None:
            return result
        return result.join(
            self.mapping.withColumnRenamed("id", id_col), id_col
        ).withColumnRenamed("orig_id", f"orig_{id_col}")

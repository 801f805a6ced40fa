"""User-facing workflow facade — the reference DataStore's METHOD
surface on Spark execution.

A user of the reference drives everything through a handful of
DataStore methods (``scarf/datastore/datastore.py``): ``filter_cells``
→ ``mark_hvgs`` → ``make_graph`` → ``run_clustering`` /
``run_umap`` / ``run_marker_search`` → ``get_markers``.  This module
exposes the SAME names with the same step semantics
(SURVEY.md §3.2-3.3), composed from the engine's operators, so
switching from the reference means swapping the import, not the
pipeline.  Results land as columns on the cell table
(``{assay}_cluster``, ``{assay}_UMAP1/2`` …) exactly like the
reference's ``_col_renamer`` convention
(``scarf/datastore/base_datastore.py:403-420``).

Execution model: every step is a DataFrame plan; the graph build is
memoized through :class:`scarf_spark.plans.registry.RunRegistry` when a
registry root is given (the Spark analog of the reference's
param-encoded Zarr subtree + ``latest_graph`` pointers,
``scarf/datastore/graph_datastore.py:556-575,1003-1008``).

Materialization rule: every facade state replacement is cut once
(:meth:`ScarfDataStore._update`), and later steps read the cut, as the
reference loads each step's stored result; ``make_graph`` likewise
builds the graph's symmetric prologue once for all its consumers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scarf_spark.operators import normalize, qc
from scarf_spark.operators.filters import auto_filter_bounds
from scarf_spark.operators.graph import SymmetricGraph, symmetric_graph


class ScarfDataStore:
    """Reference-shaped workflow over (counts, cells, feats) tables.

    Either pass the three DataFrames, or ``sf_dir`` to derive them from
    the star-schema testdata via :class:`scarf_spark.catalog.DataStore`
    (counts = lineitem COO; the cell table starts as the one-pass QC
    aggregates plus the non-destructive ``I`` validity mask, SURVEY.md
    §1.4)."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str | None = None,
        counts: DataFrame | None = None,
        cells: DataFrame | None = None,
        feats: DataFrame | None = None,
        assay_name: str = "RNA",
        registry_root: str | None = None,
    ):
        self.spark = spark
        self.assay = assay_name
        if counts is None:
            from scarf_spark.catalog import DataStore

            counts = DataStore(spark, sf_dir).counts()
        self.counts = counts.persist()
        if cells is None:
            cells = qc.cell_qc(self.counts)
        if "I" not in cells.columns:
            cells = cells.withColumn("I", F.lit(True))
        if feats is None:
            feats = self.counts.select("feat_id").distinct()
        if "I" not in feats.columns:
            feats = feats.withColumn("I", F.lit(True))
        self._update(cells=cells, feats=feats)
        self.edges: DataFrame | None = None
        self._sym: tuple[DataFrame, SymmetricGraph] | None = None
        self.markers: dict[str, DataFrame] = {}
        self._registry = None
        if registry_root is not None:
            from scarf_spark.plans.registry import RunRegistry

            self._registry = RunRegistry(spark, registry_root)

    def _update(
        self, cells: DataFrame | None = None, feats: DataFrame | None = None
    ) -> "ScarfDataStore":
        """The one place facade state changes: each new table is a lazy
        ``localCheckpoint`` that the next action fills, so later steps
        read it instead of replaying the accumulated chain."""
        if cells is not None:
            self.cells = cells.localCheckpoint(eager=False)
        if feats is not None:
            self.feats = feats.localCheckpoint(eager=False)
        return self

    # ---- cell filtering (datastore.py:92-197) -------------------------

    def filter_cells(self, attrs: list[str], lows: list[float], highs: list[float]) -> "ScarfDataStore":
        """AND new range predicates into the ``I`` validity column —
        non-destructive, like the reference's ``update_key`` path
        (``scarf/metadata.py:437-450``)."""
        pred = F.col("I")
        for a, lo, hi in zip(attrs, lows, highs):
            pred = pred & F.col(a).between(lo, hi)
        return self._update(cells=self.cells.withColumn("I", pred))

    def auto_filter_cells(self, attrs: list[str], n_std: float = 2.0) -> "ScarfDataStore":
        """mean ± n_std bounds per attribute (``datastore.py:140-197``),
        bounds computed distributed, then ANDed into ``I``."""
        for a in attrs:
            b = auto_filter_bounds(self.cells, a, n_std).collect()[0]
            self._update(cells=self.cells.withColumn(
                "I", F.col("I") & F.col(a).between(float(b["lo"]), float(b["hi"]))
            ))
        return self

    def _active_counts(self) -> DataFrame:
        sel = self.cells.where("I").select("cell_id")
        return self.counts.join(sel, "cell_id", "left_semi")

    # ---- HVG selection (assay.py:1003-1063) ---------------------------

    def mark_hvgs(self, top_n: int = 50, n_bins: int = 20, min_mean: float = 0.0) -> "ScarfDataStore":
        from scarf_spark.ml.hvg import mark_hvgs_binned

        ac = self._active_counts()
        n_cells = self.cells.where("I").count()
        hvg = mark_hvgs_binned(
            ac, n_cells=n_cells, n_bins=n_bins, top_n=top_n, min_mean=min_mean
        ).select("feat_id", F.lit(True).alias("hvgs"))
        return self._update(feats=(
            self.feats.drop("hvgs")
            .join(hvg, "feat_id", "left_outer")
            .withColumn("hvgs", F.coalesce(F.col("hvgs"), F.lit(False)))
        ))

    # ---- the core pipeline (graph_datastore.py:513-1020) -------------

    def make_graph(
        self,
        feat_key: str = "hvgs",
        dims: int = 5,
        k: int = 5,
        sf: float = 1000.0,
        log: bool = True,
    ) -> DataFrame:
        """normalize → PCA (deterministic Gram/Jacobi) → exact KNN →
        UMAP kernel smoothing; returns (and stores) the weighted edge
        table. Memoized through the run registry when configured —
        same params + same cell/feature selection = cached read, the
        reference's param-subtree semantics."""
        from scarf_spark.ml.reduction import (
            assemble_vectors,
            pca_fit,
            pca_transform,
            zscore_vectors,
        )
        from scarf_spark.operators.knn import cosine_knn_sharded, smoothen_dists

        def compute() -> DataFrame:
            ac = self._active_counts()
            feat_ids = [
                r["feat_id"]
                for r in self.feats.where(F.col(feat_key))
                .orderBy("feat_id")
                .collect()
            ]
            normed = normalize.renormalize_subset(
                ac,
                self.feats.where(F.col(feat_key)).select("feat_id"),
                sf=sf,
            )
            if log:
                normed = normed.withColumn(
                    "norm_value", F.log1p(F.col("norm_value"))
                )
            vec = zscore_vectors(
                assemble_vectors(normed, feat_ids, "norm_value"),
                d=len(feat_ids),
            )
            loadings, _ev = pca_fit(vec, k=dims, d=len(feat_ids))
            red = pca_transform(vec, loadings).select(
                F.col("cell_id").alias("vec_id"),
                F.array(
                    *[F.col(f"pc{c + 1}") for c in range(loadings.shape[1])]
                ).alias("embedding"),
            )
            knn = cosine_knn_sharded(red, k=k, dim=dims)
            return smoothen_dists(knn, k=k)

        if self._registry is not None:
            from scarf_spark.plans.registry import selection_hash

            params = {"feat_key": feat_key, "dims": dims, "k": k, "sf": sf, "log": log}
            ih = selection_hash(
                self.cells.where("I").select("cell_id")
            ) + selection_hash(self.feats.where(F.col(feat_key)).select("feat_id"))
            self.edges = self._registry.get_or_compute(
                "knn_graph", params, ih, compute
            )
        else:
            self.edges = compute().persist()
        self._symmetric()
        return self.edges

    def _require_graph(self) -> DataFrame:
        if self.edges is None:
            raise RuntimeError("run make_graph() first")
        return self.edges

    def _symmetric(self) -> SymmetricGraph:
        """The graph's prologue, built by :meth:`make_graph` (again only
        if ``edges`` was replaced since)."""
        edges = self._require_graph()
        if self._sym is None or self._sym[0] is not edges:
            self._sym = (edges, symmetric_graph(edges))
        return self._sym[1]

    def _set_cell_cols(self, df: DataFrame) -> None:
        """Insert a result's columns into the cell table, reference
        ``_col_renamer`` style (``{assay}_{name}`` columns, replace on
        rerun).

        Cut through :meth:`_update`: without it the table would carry
        one join per facade step, and every later action would replay
        each earlier KNN build and label propagation."""
        new = [c for c in df.columns if c != "cell_id"]
        self._update(cells=self.cells.drop(*new).join(df, "cell_id", "left_outer"))

    # ---- downstream (graph_datastore.py:1218-1584) -------------------

    def run_clustering(self, n_clusters: int = 4, balanced_cut: bool = False, max_size: int | None = None) -> "ScarfDataStore":
        """Paris dendrogram + straight/balanced cut
        (``graph_datastore.py:1461-1584``); labels land as
        ``{assay}_cluster``.

        The dendrogram runs on integer micro-weights: the KNN graph's
        weights are already ROUND(6), so ``round(weight·1e6)`` loses
        nothing. ``balanced_cut`` needs ``max_size``."""
        from scarf_spark.ml.cluster import (
            cut_dendrogram,
            cut_dendrogram_balanced,
            paris_dendrogram_micros,
        )

        if balanced_cut and (max_size or 0) < 1:
            raise ValueError(
                "run_clustering: balanced_cut=True needs a positive max_size "
                f"(got {max_size!r}); without one every cell is split to its own cluster"
            )
        edges = self._require_graph().select(
            "src", "dst", F.round(F.col("weight") * 1e6).cast("long").alias("w_micros")
        )
        merges, leaves = paris_dendrogram_micros(edges)
        labels = (
            cut_dendrogram_balanced(merges, leaves, max_size=max_size)
            if balanced_cut
            else cut_dendrogram(merges, leaves, n_clusters)
        )
        lab_df = self.spark.createDataFrame(
            [(int(n), int(c)) for n, c in labels.items()],
            f"cell_id long, {self.assay}_cluster int",
        )
        self._set_cell_cols(lab_df)
        return self

    def run_leiden_clustering(self, n_iter: int = 3) -> "ScarfDataStore":
        """Distributed label propagation stand-in for Leiden
        (``graph_datastore.py:1379-1459``); labels land as
        ``{assay}_leiden_cluster``."""
        from scarf_spark.ml.cluster import label_propagation

        lab = label_propagation(self.edges, n_iter=n_iter, sym=self._symmetric()).select(
            F.col("node").alias("cell_id"),
            F.col("cluster").alias(f"{self.assay}_leiden_cluster"),
        )
        self._set_cell_cols(lab)
        return self

    def run_umap(self, n_epochs: int = 20, seed: int = 4466) -> "ScarfDataStore":
        """Symmetrize → kmeans-PCA init → seeded SGD layout
        (``graph_datastore.py:1218-1377``); coordinates land as
        ``{assay}_UMAP1/2``."""
        from scarf_spark.ml.embed import (
            ini_embed_kmeans_pca,
            symmetrize_edges,
            umap_layout_driver,
        )
        from scarf_spark.ml.reduction import assemble_vectors

        edges = symmetrize_edges(self._require_graph())
        # init from the smoothed graph's source cells' top features
        feat_ids = [
            r["feat_id"]
            for r in self.feats.where(F.col("hvgs")).orderBy("feat_id").collect()
        ]
        vec = assemble_vectors(self._active_counts(), feat_ids)
        init = ini_embed_kmeans_pca(vec, n_centroids=min(20, len(feat_ids)), seed=seed)
        out = umap_layout_driver(edges, init, n_epochs=n_epochs, seed=seed).select(
            "cell_id",
            F.col("umap1").alias(f"{self.assay}_UMAP1"),
            F.col("umap2").alias(f"{self.assay}_UMAP2"),
        )
        self._set_cell_cols(out)
        return self

    def run_marker_search(self, group_key: str) -> "ScarfDataStore":
        """Rank/U-test marker table per (feature, group)
        (``datastore.py:351-430``), stored under the group key for
        :meth:`get_markers`."""
        from scarf_spark.operators.markers import marker_stats

        groups = self.cells.where("I").select(
            "cell_id", F.col(group_key).alias("group")
        )
        n_cells = self.cells.where("I").count()
        self.markers[group_key] = marker_stats(
            self._active_counts(), groups, n_cells=n_cells
        ).persist()
        return self

    def get_markers(
        self, group_key: str, group_id, min_score: float = 0.0, top_n: int = 20
    ) -> DataFrame:
        """Threshold + rank the stored marker table
        (``datastore.py:599-683``)."""
        if group_key not in self.markers:
            raise RuntimeError(f"run_marker_search({group_key!r}) first")
        return (
            self.markers[group_key]
            .where((F.col("group") == group_id) & (F.col("score") >= min_score))
            .orderBy(F.col("score").desc(), "feat_id")
            .limit(top_n)
        )

    # ---- additional reference-surface methods (round 9) ---------------

    def run_cell_cycle_scoring(
        self,
        s_regex: str = "^S_",
        g2m_regex: str = "^G2M_",
        name_col: str = "name",
    ) -> "ScarfDataStore":
        """``datastore.py:744-822``: S/G2M phase assignment from
        regex-matched gene sets; phase lands as ``{assay}_phase``."""
        from scarf_spark.operators.demux import cell_cycle_phase

        if name_col not in self.feats.columns:
            feats = self.feats.withColumn(
                name_col, F.concat(F.lit("F"), F.col("feat_id").cast("string"))
            )
        else:
            feats = self.feats
        out = cell_cycle_phase(
            self._active_counts(), feats, s_regex, g2m_regex, name_col
        ).select("cell_id", F.col("phase").alias(f"{self.assay}_phase"))
        self._set_cell_cols(out)
        return self

    def mark_hto_identities(
        self, counts_hto: DataFrame, n_htos: int, quantile: float = 0.99
    ) -> "ScarfDataStore":
        """``datastore.py:199-221``: HTO demultiplexing; the assignment
        lands as ``{assay}_HTO_tag``."""
        from scarf_spark.operators.demux import hto_demux

        out = hto_demux(counts_hto, n_htos=n_htos, quantile=quantile).select(
            "cell_id", F.col("assignment").alias(f"{self.assay}_HTO_tag")
        )
        self._set_cell_cols(out)
        return self

    def make_bulk(self, group_key: str) -> DataFrame:
        """``datastore.py:978-1116``: pseudo-bulk per (group, feature)
        over the active cells."""
        from scarf_spark.operators.aggregate import make_bulk

        groups = self.cells.where("I").select(
            "cell_id", F.col(group_key).alias("group")
        )
        return make_bulk(self._active_counts(), groups)

    def add_grouped_assay(self, feat_group_key: str, group_col: str = "feat_group") -> DataFrame:
        """``datastore.py:824-894``: per-(cell, feature-group) mean
        assay from a feature grouping column."""
        from scarf_spark.operators.aggregate import grouped_assay

        fg = self.feats.select("feat_id", F.col(feat_group_key).alias(group_col))
        return grouped_assay(self._active_counts(), fg, group_col=group_col)

    def smart_label(self, from_key: str, to_key: str) -> DataFrame:
        """``datastore.py:1189-1239``: crosstab argmax relabel between
        two cell groupings."""
        from scarf_spark.operators.aggregate import smart_label_argmax

        return smart_label_argmax(self.cells.where("I"), from_key, to_key)

    def calc_membership_strength(self, label_key: str, k: int = 5) -> DataFrame:
        """``datastore.py:1171-1187``: fraction of k neighbours sharing
        the cell's modal neighbour label."""
        from scarf_spark.operators.graph import membership_strength

        labels = self.cells.where("I").select(
            "cell_id", F.col(label_key).alias("label")
        )
        return membership_strength(self._require_graph(), labels, k=k)

    def run_pseudotime(self, source_node: int | None = None) -> "ScarfDataStore":
        """``graph_datastore.py:1818-2003``: PBA pseudotime over the
        KNN graph (driver_compute boundary, like the reference);
        lands as ``{assay}_pseudotime``."""
        from scarf_spark.ml.pseudotime import pba_pseudotime

        edges = self._require_graph()
        if source_node is None:
            source_node = edges.agg(F.min("src")).collect()[0][0]
        out = pba_pseudotime(edges, source_node=int(source_node)).select(
            F.col("node").alias("cell_id"),
            F.col("pseudotime").alias(f"{self.assay}_pseudotime"),
        )
        self._set_cell_cols(out)
        return self

    def run_pseudotime_distributed(
        self, source_node: int | None = None, n_iter: int = 16
    ) -> "ScarfDataStore":
        """The scale path of :meth:`run_pseudotime` — fixed-iteration
        deflated Richardson on the same Laplacian system, NO graph
        collect (ml.pseudotime.harmonic_potential); lands as
        ``{assay}_pseudotime``."""
        from scarf_spark.ml.pseudotime import harmonic_potential

        edges = self._require_graph()
        if source_node is None:
            source_node = edges.agg(F.min("src")).collect()[0][0]
        out = harmonic_potential(
            edges, source_node=int(source_node), n_iter=n_iter, sym=self._symmetric()
        ).select(
            F.col("node").alias("cell_id"),
            F.col("pseudotime").alias(f"{self.assay}_pseudotime"),
        )
        self._set_cell_cols(out)
        return self

    def run_spectral_embedding(
        self, dims: int = 2, n_iter: int = 8
    ) -> "ScarfDataStore":
        """Distributed spectral layout of the KNN graph
        (ml.embed.spectral_embedding) — the no-collect twin of
        :meth:`run_umap`; lands as ``{assay}_spectral1..N``."""
        from scarf_spark.ml.embed import spectral_embedding

        emb = spectral_embedding(self.edges, dims=dims, n_iter=n_iter, sym=self._symmetric())
        out = emb.select(
            F.col("node").alias("cell_id"),
            *[
                F.col(f"e{i + 1}").alias(f"{self.assay}_spectral{i + 1}")
                for i in range(dims)
            ],
        )
        self._set_cell_cols(out)
        return self

    def run_topacedo_sampler(self, label_key: str, cap_per_cluster: int = 50) -> "ScarfDataStore":
        """``graph_datastore.py:1586-1727``: TopACeDo-style sketch —
        the kept flag lands as ``{assay}_sketched``."""
        from scarf_spark.operators.demux import downsample_sketch

        kept = downsample_sketch(
            self.cells.where("I").select("cell_id", label_key),
            label_col=label_key,
            cap_per_cluster=cap_per_cluster,
        ).select("cell_id", F.lit(True).alias(f"{self.assay}_sketched"))
        self._set_cell_cols(kept)
        return self._update(cells=self.cells.withColumn(
            f"{self.assay}_sketched",
            F.coalesce(F.col(f"{self.assay}_sketched"), F.lit(False)),
        ))

    def metric_lisi(self, label_key: str, perplexity: float = 5.0) -> DataFrame:
        """``datastore.py:2063-2141``: per-cell LISI over the graph."""
        from scarf_spark.ml.metrics import lisi

        labels = self.cells.where("I").select(
            "cell_id", F.col(label_key).alias("label")
        )
        return lisi(self._require_graph(), labels, perplexity=perplexity)

    def metric_silhouette(self, label_key: str, dims: int = 5) -> DataFrame:
        """``datastore.py:2143-2175``: silhouette of a cell grouping in
        the HVG z-score space (sufficient-statistics form — O(n·C))."""
        from scarf_spark.ml.metrics import silhouette_squared
        from scarf_spark.ml.reduction import assemble_vectors, zscore_vectors

        feat_ids = [
            r["feat_id"]
            for r in self.feats.where(F.col("hvgs")).orderBy("feat_id").collect()
        ]
        vec = zscore_vectors(
            assemble_vectors(self._active_counts(), feat_ids), d=len(feat_ids)
        )
        labels = self.cells.where("I").select(
            F.col("cell_id").alias("vec_id"), F.col(label_key).alias("label")
        )
        pts = vec.select(F.col("cell_id").alias("vec_id"), "v").join(
            labels, "vec_id"
        )
        return silhouette_squared(pts, dim=len(feat_ids))

    def to_anndata(self, path: str) -> str:
        """``datastore.py:1118-1157``: export the ACTIVE cells' counts
        + cell/feature tables as an AnnData-compatible ``.h5ad`` (CSR X
        + obs/var; the vendored pure-python HDF5 writer keeps this
        un-gated). Sparse ids are densified to 0..n−1 first — the CSR
        indptr indexes by position, like the reference's matrix
        export."""
        from scarf_spark.sources.sinks import to_h5ad

        cells = self.cells.where("I")
        cid = (
            cells.select("cell_id").orderBy("cell_id")
            .rdd.map(lambda r: r[0]).zipWithIndex().toDF(["cell_id", "_ci"])
        )
        fid = (
            self.feats.select("feat_id").distinct().orderBy("feat_id")
            .rdd.map(lambda r: r[0]).zipWithIndex().toDF(["feat_id", "_fi"])
        )
        n_cells, n_feats = cid.count(), fid.count()
        ac = (
            self._active_counts()
            .join(cid, "cell_id")
            .join(F.broadcast(fid), "feat_id")
            .select(
                F.col("_ci").alias("cell_id"),
                F.col("_fi").alias("feat_id"),
                "value",
            )
        )
        obs = cells.join(cid, "cell_id").select(
            F.col("_ci").alias("cell_id"),
            *[c for c in ("n_counts", "n_features") if c in cells.columns],
        )
        var = fid.select(F.col("_fi").alias("feat_id"))
        return to_h5ad(ac, obs, var, path, n_cells=n_cells, n_feats=n_feats)

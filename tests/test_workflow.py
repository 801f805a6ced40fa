"""End-to-end reference-shaped workflow facade (ScarfDataStore):
filter → HVG → graph → cluster → UMAP → markers, plus registry
memoization of the graph build."""

import pytest
from pyspark.sql import functions as F

from scarf_spark.workflow import ScarfDataStore


@pytest.fixture(scope="module")
def wf(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("registry"))
    return ScarfDataStore(spark, sf_dir=sf_dir, registry_root=root)


def test_filter_and_hvgs(wf):
    n_all = wf.cells.count()
    wf.auto_filter_cells(["n_counts"], n_std=3.0)
    n_active = wf.cells.where("I").count()
    assert 0 < n_active <= n_all
    wf.mark_hvgs(top_n=20)
    assert wf.feats.where("hvgs").count() == 20


def test_make_graph_and_memoize(wf):
    edges = wf.make_graph(dims=3, k=4)
    n = edges.count()
    assert n > 0
    cols = set(edges.columns)
    assert {"src", "dst", "weight"} <= cols
    # same params + same selection -> registry cache hit (same rows)
    again = wf.make_graph(dims=3, k=4)
    assert again.count() == n
    assert wf._registry.latest("knn_graph") is not None


def test_clustering_columns(wf):
    wf.run_leiden_clustering(n_iter=2)
    wf.run_clustering(n_clusters=3)
    cols = wf.cells.columns
    assert "RNA_leiden_cluster" in cols and "RNA_cluster" in cols
    labeled = wf.cells.where("I").where("RNA_cluster IS NOT NULL")
    assert labeled.count() > 0
    # a disconnected KNN forest yields >= n_clusters components; the
    # cut can only add clusters beyond the requested 3, never fewer
    n_clusters = labeled.select("RNA_cluster").distinct().count()
    assert n_clusters >= 1


def test_balanced_cut_needs_max_size(wf):
    # with no size bound the balanced cut would split every cell off
    with pytest.raises(ValueError, match="run_clustering.*max_size"):
        wf.run_clustering(balanced_cut=True)


def test_umap_columns(wf):
    wf.run_umap(n_epochs=5)
    cols = wf.cells.columns
    assert "RNA_UMAP1" in cols and "RNA_UMAP2" in cols
    # cells without any HVG expression have no vector -> no layout row;
    # every laid-out cell must carry both coordinates
    n_laid = wf.cells.where("RNA_UMAP1 IS NOT NULL").count()
    assert n_laid > 0
    assert wf.cells.where(
        "RNA_UMAP1 IS NOT NULL AND RNA_UMAP2 IS NULL"
    ).count() == 0


def test_marker_search_and_get(wf):
    wf.run_marker_search("RNA_cluster")
    any_group = (
        wf.cells.where("I")
        .where("RNA_cluster IS NOT NULL")
        .groupBy("RNA_cluster")
        .count()
        .orderBy("count", ascending=False)
        .first()["RNA_cluster"]
    )
    top = wf.get_markers("RNA_cluster", any_group, top_n=5).collect()
    assert 0 < len(top) <= 5
    assert all(r["group"] == any_group for r in top)


def test_round9_reference_surface(wf, tmp_path):
    """The round-9 facade additions: pseudotime / membership /
    smart_label / make_bulk / grouped assay / sketch / metrics / cc
    scoring / h5ad export all run off the same store state."""
    wf.run_pseudotime()
    assert "RNA_pseudotime" in wf.cells.columns
    pt = wf.cells.where("RNA_pseudotime IS NOT NULL")
    assert pt.count() > 0
    lo, hi = pt.agg(
        F.min("RNA_pseudotime"), F.max("RNA_pseudotime")
    ).first()
    assert 0.0 <= lo and hi <= 1.0

    ms = wf.calc_membership_strength("RNA_cluster").collect()
    assert len(ms) > 0 and all(0.0 <= r["strength"] <= 1.0 for r in ms)

    # round-10 distributed twins share the store state and contracts
    wf.run_pseudotime_distributed(n_iter=4)
    pt2 = wf.cells.where("RNA_pseudotime IS NOT NULL")
    lo2, hi2 = pt2.agg(
        F.min("RNA_pseudotime"), F.max("RNA_pseudotime")
    ).first()
    assert pt2.count() > 0 and 0.0 <= lo2 and hi2 <= 1.0
    wf.run_spectral_embedding(dims=2, n_iter=3)
    assert {"RNA_spectral1", "RNA_spectral2"} <= set(wf.cells.columns)
    assert wf.cells.where("RNA_spectral1 IS NOT NULL").count() > 0

    sl = wf.smart_label("RNA_cluster", "RNA_leiden_cluster").collect()
    assert len(sl) > 0

    bulk = wf.make_bulk("RNA_cluster")
    assert {"group", "feat_id", "sum_value"} <= set(bulk.columns)
    assert bulk.count() > 0

    wf.feats = wf.feats.withColumn("fg", (F.col("feat_id") % 3).cast("string"))
    ga = wf.add_grouped_assay("fg")
    assert ga.count() > 0

    wf.run_topacedo_sampler("RNA_cluster", cap_per_cluster=10)
    kept = wf.cells.where("RNA_sketched").count()
    assert 0 < kept <= wf.cells.where("I").count()

    wf.run_cell_cycle_scoring(s_regex="^F1", g2m_regex="^F2")
    phases = {r["RNA_phase"] for r in wf.cells.where("I").select("RNA_phase").distinct().collect()}
    assert phases <= {"S", "G2M", "G1", None}

    sil = wf.metric_silhouette("RNA_cluster").collect()
    assert len(sil) > 0

    out = wf.to_anndata(str(tmp_path / "export.h5ad"))
    import os
    assert os.path.getsize(out) > 0


# ---- one analyst session, each graph step under its own job group -----

# jobs per facade step at sf0.001 (local[8]): the counts with each
# state replacement cut once and the symmetric prologue shared
# (25 / 11 / 21 / 39) plus slack, under the counts of the facade that
# re-derived them (35 / 15 / 37 / 44) — a step that goes back to
# rebuilding the HVG set, the cell table or its own symmetric graph
# overshoots its bound.
JOB_BUDGET = {
    "make_graph": 29,
    "run_leiden_clustering": 13,
    "run_spectral_embedding": 23,
    "run_pseudotime_distributed": 41,
}


@pytest.fixture(scope="module")
def session(spark, sf_dir):
    """A fresh session (no registry) through the graph steps; returns
    the store and the number of Spark jobs each step ran."""
    sc = spark.sparkContext
    ds = ScarfDataStore(spark, sf_dir=sf_dir)
    ds.auto_filter_cells(["n_counts"]).mark_hvgs(top_n=20)
    ds.feats.where("hvgs").count()
    steps = {
        "make_graph": lambda: ds.make_graph(dims=5, k=5).count(),
        "run_leiden_clustering": lambda: ds.run_leiden_clustering(n_iter=2).cells.count(),
        "run_spectral_embedding": lambda: ds.run_spectral_embedding(dims=2, n_iter=2).cells.count(),
        "run_pseudotime_distributed": lambda: ds.run_pseudotime_distributed(n_iter=4).cells.count(),
    }
    jobs = {}
    for name, run in steps.items():
        group = f"test_workflow.{name}.{id(ds)}"
        sc.setJobGroup(group, name)
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    return ds, jobs


def test_job_budget_per_graph_step(session):
    _ds, jobs = session
    over = {s: (n, JOB_BUDGET[s]) for s, n in jobs.items() if not 0 < n <= JOB_BUDGET[s]}
    assert not over, f"(jobs, budget) per step: {over}"


def test_graph_steps_match_direct_operator_calls(session):
    """The shared prologue changes where the symmetric graph is
    materialized, never a value: the facade's columns equal the three
    operators called directly on the same edges, each building its own
    prologue."""
    from scarf_spark.ml.cluster import label_propagation
    from scarf_spark.ml.embed import spectral_embedding
    from scarf_spark.ml.pseudotime import harmonic_potential

    ds, _jobs = session
    edges = ds.edges
    src = edges.agg(F.min("src")).first()[0]
    direct = (
        label_propagation(edges, n_iter=2)
        .join(spectral_embedding(edges, dims=2, n_iter=2), "node")
        .join(harmonic_potential(edges, source_node=src, n_iter=4), "node")
    )
    facade = ds.cells.where("RNA_leiden_cluster IS NOT NULL").select(
        "cell_id", "RNA_leiden_cluster", "RNA_spectral1", "RNA_spectral2", "RNA_pseudotime"
    )
    want = sorted(tuple(r) for r in direct.select("node", "cluster", "e1", "e2", "pseudotime").collect())
    got = sorted(tuple(r) for r in facade.collect())
    assert len(got) > 0 and got == want


def test_cell_table_is_the_one_pass_qc(spark, session):
    from scarf_spark.operators import qc

    counts = session[0].counts
    old = (
        qc.ncounts_per_cell(counts)
        .join(qc.nfeatures_per_cell(counts), "cell_id")
        .withColumn("I", F.lit(True))
    )
    new = ScarfDataStore(spark, counts=counts).cells
    assert sorted(new.select(*old.columns).collect()) == sorted(old.collect())

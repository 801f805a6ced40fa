"""Round-2 operators: as-of join, distributed global ntile, IVF ANN,
silhouette sufficient statistics, H5 chunk planning — hand-computable
toys with exact expected outputs (SURVEY.md §5 tier-2 strategy)."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from scarf_spark.operators import joins, knn
from scarf_spark.operators.windows import global_ntile
from scarf_spark.sources.readers import h5_chunk_specs


def test_asof_join_matches_most_recent(spark):
    right = spark.createDataFrame(
        [(1, 10, 100, 1.0), (1, 20, 101, 2.0), (2, 15, 102, 3.0)],
        "user_id long, ts long, event_id long, value double",
    )
    left = spark.createDataFrame(
        [(1, 15, 200), (1, 20, 201), (1, 5, 202), (2, 14, 203)],
        "user_id long, ts long, event_id long",
    )
    out = {
        r["event_id"]: (r["match_id"], r["match_value"])
        for r in joins.asof_join(left, right).collect()
    }
    assert out[200] == (100, 1.0)          # most recent click at ts<=15
    assert out[201] == (101, 2.0)          # equal ts: click before view
    assert out[202] == (None, None)        # nothing before ts=5
    assert out[203] == (None, None)        # user 2 click is at 15 > 14


def test_global_ntile_matches_window_ntile(spark):
    df = spark.range(997).select(
        F.col("id"), ((F.col("id") * 7919) % 997).cast("double").alias("x")
    )
    for n_bins in (3, 10, 32):
        # both the adaptive small branch (default threshold) and the
        # distributed grid branch (threshold forced to 0) must equal the
        # single-partition window ntile
        for thr in (1 << 20, 0):
            a = {
                r["id"]: r["bin"]
                for r in global_ntile(
                    df, ["x", "id"], n_bins, small_threshold=thr
                ).collect()
            }
            w = Window.orderBy("x", "id")
            b = {
                r["id"]: r["bin"]
                for r in df.select(
                    "id", F.ntile(n_bins).over(w).alias("bin")
                ).collect()
            }
            assert a == b, f"bins={n_bins} threshold={thr}"


def test_global_ntile_grid_path(spark):
    """The >=threshold branch (grid plan) stays exact and distributed:
    no single-partition WindowExec in its physical plan."""
    df = spark.range(2048).select(
        F.col("id"), ((F.col("id") * 131) % 2039).cast("double").alias("x")
    )
    out = global_ntile(df, ["x", "id"], 13, small_threshold=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    a = {r["id"]: r["bin"] for r in out.collect()}
    w = Window.orderBy("x", "id")
    b = {
        r["id"]: r["bin"]
        for r in df.select("id", F.ntile(13).over(w).alias("bin")).collect()
    }
    assert a == b


def test_global_ntile_deterministic_across_actions(spark):
    df = spark.range(500).select(
        F.col("id"), ((F.col("id") * 31) % 500).cast("double").alias("x")
    )
    out = global_ntile(df, ["x", "id"], 7)
    first = sorted((r["id"], r["bin"]) for r in out.collect())
    second = sorted((r["id"], r["bin"]) for r in out.collect())
    assert first == second


def test_ivf_knn_subset_of_probed_cells(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = knn.cosine_knn_ivf(emb, k=3, n_cells=4, n_probe=2)
    pdf = out.toPandas()
    # every src has ≤ k neighbors, ranks contiguous from 1, no self hits
    for src, grp in pdf.groupby("src"):
        assert list(grp.sort_values("rank")["rank"]) == list(range(1, len(grp) + 1))
        assert src not in set(grp["dst"])
    # recall vs exact should be high on random gaussian data with 2/4 probes
    exact = knn.cosine_knn_exact(emb, k=3).toPandas()
    hits = set(map(tuple, pdf[["src", "dst"]].values)) & set(
        map(tuple, exact[["src", "dst"]].values)
    )
    assert len(hits) / len(exact) > 0.5


def test_silhouette_squared_matches_bruteforce(spark):
    import numpy as np

    from scarf_spark.ml.metrics import silhouette_squared

    rng = np.random.RandomState(3)
    pts = []
    for lab, center in [(0, 0.0), (1, 6.0), (2, -6.0)]:
        for i in range(10):
            pts.append((len(pts), [float(center + x) for x in rng.randn(4)], lab))
    vec = spark.createDataFrame(pts, "vec_id long, v array<double>, label int")
    got = {
        r["vec_id"]: r["silhouette"] for r in silhouette_squared(vec, dim=4).collect()
    }
    arr = np.array([p[1] for p in pts])
    labs = np.array([p[2] for p in pts])
    for i in range(len(pts)):
        d2 = ((arr - arr[i]) ** 2).sum(axis=1)
        a = round(d2[(labs == labs[i])].sum() / (np.sum(labs == labs[i]) - 1), 4)
        b = round(
            min(
                d2[labs == l].mean()
                for l in set(labs.tolist())
                if l != labs[i]
            ),
            4,
        )
        exp = round((b - a) / max(a, b), 6)
        assert got[i] == pytest.approx(exp, abs=2e-6)


def test_h5_chunk_specs():
    assert h5_chunk_specs(10, 4) == [(0, 4), (4, 8), (8, 10)]
    assert h5_chunk_specs(4, 4) == [(0, 4)]
    assert h5_chunk_specs(0, 4) == []


def test_h5_readers_gated_or_working(spark, tmp_path):
    h5py = pytest.importorskip("h5py")
    import numpy as np

    from scarf_spark.sources.readers import read_sparse_h5

    # 3 cells x 4 feats CSC (major axis = cells)
    path = str(tmp_path / "toy.h5")
    indptr = np.array([0, 2, 3, 5])
    indices = np.array([0, 2, 1, 0, 3])
    data = np.array([2.0, 1.0, 5.0, 7.0, 1.0])
    with h5py.File(path, "w") as f:
        g = f.create_group("matrix")
        g["indptr"] = indptr
        g["indices"] = indices
        g["data"] = data
    out = sorted(
        (r["cell_id"], r["feat_id"], r["value"])
        for r in read_sparse_h5(spark, path, batch_size=2).collect()
    )
    assert out == [(0, 0, 2.0), (0, 2, 1.0), (1, 1, 5.0), (2, 0, 7.0), (2, 3, 1.0)]


def test_balanced_cut_splits_oversized():
    from scarf_spark.ml.cluster import (
        cut_dendrogram_balanced,
        paris_dendrogram_micros,
    )

    # two tight 4-cliques joined by one weak bridge → dendrogram merges
    # cliques first; max_size=4 must split the 8-leaf root into the two
    # cliques
    edges = []
    for base in (0, 4):
        for i in range(4):
            for j in range(i + 1, 4):
                edges.append((base + i, base + j, 10_000_000))
    edges.append((0, 4, 100_000))

    class _FakeDF:
        def __init__(self, rows):
            self._rows = rows

        def select(self, *cols):
            return self

        def collect(self):
            return [
                {"src": a, "dst": b, "w_micros": w} for a, b, w in self._rows
            ]

    merges, leaves = paris_dendrogram_micros(_FakeDF(edges))
    labels = cut_dendrogram_balanced(merges, leaves, max_size=4)
    groups = {}
    for node, c in labels.items():
        groups.setdefault(c, set()).add(node)
    assert sorted(map(sorted, groups.values())) == [[0, 1, 2, 3], [4, 5, 6, 7]]


def test_coo_to_csr_arrays(spark):
    from scarf_spark.sources.sinks import coo_to_csr_arrays

    counts = spark.createDataFrame(
        [(0, 0, 2.0), (0, 2, 1.0), (2, 1, 5.0)],
        "cell_id long, feat_id long, value double",
    )
    indptr, indices, data = coo_to_csr_arrays(counts, n_cells=3, n_feats=4)
    assert list(indptr) == [0, 2, 2, 3]
    assert list(indices) == [0, 2, 1]
    assert list(data) == [2.0, 1.0, 5.0]


def test_plan_lint_representative_queries(spark, sf_dir):
    """Plan-hygiene guard: no unpartitioned windows / cartesian products
    in a representative slice of the query surface (full sweep:
    tools/plan_lint.py)."""
    import __spark_entry__ as entry_mod
    from tools.plan_lint import ALLOWED, lint_plan

    names = [
        "qc_ncounts", "norm_tf_idf", "agg_make_bulk", "win_ntile_bins",
        "join_interval_overlap", "mark_stats", "dedup_minhash_bands",
        "knn_lsh_topk", "graph_snn_rerank", "stream_sessionize",
        "agg_distinct_stats",
    ]
    qs = entry_mod.queries()
    for name in names:
        issues = lint_plan(qs[name](spark, sf_dir))
        assert not issues or name in ALLOWED, f"{name}: {issues}"


def test_salted_aggregates_match_unsalted(spark):
    from scarf_spark.operators.skew import salted_count_distinct

    df = spark.range(2000).select(
        (F.col("id") % 3).alias("k"),           # 3 hot keys
        (F.col("id") % 157).alias("v"),
    )
    got = {
        r["k"]: r["n_distinct"]
        for r in salted_count_distinct(df, ["k"], "v", n_salts=8).collect()
    }
    want = {
        r["k"]: r["nd"]
        for r in df.groupBy("k").agg(F.count_distinct("v").alias("nd")).collect()
    }
    assert got == want


def test_min_label_components_chain_and_singleton(spark):
    from scarf_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "a long, b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    out = {
        r["doc_id"]: (r["cluster"], r["keep"])
        for r in dedup.min_label_components(pairs, nodes, n_iter=3).collect()
    }
    assert out[1] == (1, True) and out[2] == (1, False) and out[3] == (1, False)
    assert out[5] == (5, True) and out[6] == (5, False)
    assert out[4] == (4, True) and out[7] == (7, True)  # singletons kept

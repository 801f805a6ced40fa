"""Integration-layer invariants (WNN / CORAL / harmony_lite / demux /
silhouette / downsampling)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from scarf_spark.catalog import DataStore
from scarf_spark.ml import integrate, metrics
from scarf_spark.operators import demux, knn


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return DataStore(spark, sf_dir).embeddings.cache()


def _vec8(emb, parity):
    return emb.where(F.col("vec_id") % 2 == parity).select(
        F.col("vec_id").alias("cell_id"),
        F.transform(F.slice("embedding", 1, 8), lambda x: x.cast("double")).alias("v"),
    )


def test_wnn_k_and_weight_bounds(emb):
    a = knn.cosine_knn_exact(emb, k=5)
    b = knn.cosine_knn_exact(
        emb.select("vec_id", F.slice("embedding", 1, 32).alias("embedding")), k=5
    )
    out = integrate.wnn_blend(a, b, k=5)
    per = out.groupBy("src").agg(F.count("*").alias("n"), F.max("rank").alias("mx"))
    assert per.where((F.col("n") > 5) | (F.col("mx") > 5)).count() == 0
    # blended weight is a convex combination of affinities in (0, 1]
    assert out.where((F.col("weight") <= 0) | (F.col("weight") > 1)).count() == 0


def test_coral_aligns_covariance(spark, emb):
    src, tgt = _vec8(emb, 0), _vec8(emb, 1)
    out = integrate.coral_align(src, tgt)
    a = np.array([r["v"] for r in out.collect()])
    t = np.array([r["v"] for r in tgt.collect()])
    ca, ct = np.cov(a.T), np.cov(t.T)
    # aligned source covariance ~ target covariance (up to estimation
    # noise: both are ~250-sample estimates)
    assert np.abs(ca - ct).max() / np.abs(ct).max() < 0.35


def test_harmony_reduces_batch_offset(spark, emb):
    vec = emb.select(
        F.col("vec_id").alias("cell_id"),
        F.transform(F.slice("embedding", 1, 8), lambda x: x.cast("double")).alias("v"),
    )
    # inject a synthetic batch shift on half the cells
    batch = vec.select("cell_id", (F.col("cell_id") % 2).alias("batch"))
    shifted = vec.join(batch, "cell_id").select(
        "cell_id",
        F.transform("v", lambda x: x + F.col("batch") * 2.0).alias("v"),
    )

    def batch_gap(df):
        m = (
            df.join(batch, "cell_id")
            .groupBy("batch")
            .agg(*[F.avg(F.col("v")[i]).alias(f"m{i}") for i in range(8)])
            .orderBy("batch")
            .collect()
        )
        a = np.array([[r[f"m{i}"] for i in range(8)] for r in m])
        return float(np.abs(a[0] - a[1]).mean())

    before = batch_gap(shifted)
    corrected = integrate.harmony_lite(shifted, batch, n_clusters=3, n_iter=2)
    after = batch_gap(corrected)
    assert after < before * 0.5, (before, after)


def test_silhouette_separated_blobs(spark):
    rng = np.random.default_rng(4466)
    rows = [
        (i, (rng.normal(0 if i < 30 else 10, 0.5, 4)).tolist(), 0 if i < 30 else 1)
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "v", "label"])
    out = metrics.silhouette_squared(df, dim=4)
    vals = [r["silhouette"] for r in out.collect()]
    assert min(vals) > 0.8  # well-separated blobs -> near-1 silhouette


def test_cc_phase_covers_all_cells(spark, sf_dir):
    ds = DataStore(spark, sf_dir)
    out = demux.cell_cycle_phase(ds.counts(), ds.feat_table(), "red", "blue")
    n_cells = ds.counts().select("cell_id").distinct().count()
    assert out.count() == n_cells
    assert {r["phase"] for r in out.select("phase").distinct().collect()} <= {
        "G1", "S", "G2M"
    }


def test_hto_demux_partitions_cells(spark, sf_dir):
    ds = DataStore(spark, sf_dir)
    rows = (
        ds.counts().groupBy("feat_id").agg(F.sum("value").alias("t"))
        .orderBy(F.desc("t"), "feat_id").limit(4).collect()
    )
    hto_ids = [int(r["feat_id"]) for r in rows]
    hto = ds.counts().where(F.col("feat_id").isin(hto_ids))
    out = demux.hto_demux(hto, n_htos=4)
    assert out.count() == hto.select("cell_id").distinct().count()
    kinds = {r["assignment"] for r in out.select("assignment").distinct().collect()}
    assert kinds <= {"Negative", "Doublet"} | {f"HTO_{i}" for i in hto_ids}


def test_downsample_caps_clusters(spark, emb):
    cells = emb.select(F.col("vec_id").alias("cell_id"), "label")
    kept = demux.downsample_sketch(cells, "label", cap_per_cluster=50)
    sizes = {r["label"]: r["n"] for r in
             kept.groupBy("label").agg(F.count("*").alias("n")).collect()}
    orig = {r["label"]: r["n"] for r in
            cells.groupBy("label").agg(F.count("*").alias("n")).collect()}
    for lbl, n in sizes.items():
        # hash sampling is binomial around the cap; allow slack
        assert n <= max(75, orig[lbl])
    # deterministic
    again = demux.downsample_sketch(cells, "label", cap_per_cluster=50)
    assert kept.exceptAll(again).count() == 0

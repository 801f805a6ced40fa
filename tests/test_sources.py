"""Readers/sinks (SURVEY.md §2.1/§2.2): toy files with hand-computed
expected triplets, plus round-trips through the exporters — the
reference's tier-2 test strategy (SURVEY.md §5)."""

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from scarf_spark import sources as src
from scarf_spark.catalog import DataStore

MTX_TEXT = """%%MatrixMarket matrix coordinate real general
% toy 3 cells x 4 features
4 3 5
1 1 2
2 1 1
3 2 5
4 3 7
1 3 1
"""


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="scarf_src_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_read_mtx_toy(spark, tmpdir):
    p = os.path.join(tmpdir, "m.mtx")
    with open(p, "w") as fh:
        fh.write(MTX_TEXT)
    got = {
        (r["cell_id"], r["feat_id"]): r["value"]
        for r in src.read_mtx(spark, p).collect()
    }
    assert got == {(0, 0): 2.0, (0, 1): 1.0, (1, 2): 5.0, (2, 3): 7.0, (2, 0): 1.0}


def test_read_dense_csv_melt(spark, tmpdir):
    p = os.path.join(tmpdir, "d.csv")
    with open(p, "w") as fh:
        fh.write("g1,g2,g3,sample\n1,0,3,a\n0,2,0,b\n")
    counts, cells = src.read_dense_csv(spark, p, cell_data_cols=["sample"])
    got = {(r["cell_id"], r["feat_id"]): r["value"] for r in counts.collect()}
    # explicit zeros dropped (COO semantics, SURVEY.md §1.3)
    assert got == {(0, 0): 1.0, (0, 2): 3.0, (1, 1): 2.0}
    assert {(r["cell_id"], r["sample"]) for r in cells.collect()} == {(0, "a"), (1, "b")}


def test_split_assays_local_ids(spark, sf_dir):
    feats = DataStore(spark, sf_dir).feat_table()
    out = src.split_assays(feats, "brand")
    # local ids are dense 0..n-1 within each assay
    chk = out.groupBy("assay").agg(
        F.count("*").alias("n"),
        F.max("local_feat_id").alias("mx"),
        F.min("local_feat_id").alias("mn"),
    )
    bad = chk.where((F.col("mx") != F.col("n") - 1) | (F.col("mn") != 0))
    assert bad.count() == 0
    assert out.count() == feats.count()


def test_bed_to_bins(spark):
    frags = spark.createDataFrame(
        [
            ("chr1", 100, 300, "bc1"),   # mid 200 -> bin 0
            ("chr1", 900, 1300, "bc1"),  # mid 1100 -> bin 1
            ("chr1", 950, 1250, "bc1"),  # mid 1100 -> bin 1
            ("chr2", 0, 100, "bc2"),     # mid 50 -> bin 0
        ],
        ["chrom", "start", "end", "barcode"],
    )
    out = {
        (r["barcode"], r["chrom"], r["bin"]): r["n_fragments"]
        for r in src.bed_to_bins(frags, bin_size=1000).collect()
    }
    assert out == {("bc1", "chr1", 0): 1, ("bc1", "chr1", 1): 2, ("bc2", "chr2", 0): 1}
    # background filter drops bc2
    kept = src.bed_to_bins(frags, bin_size=1000, min_fragments_per_cell=2)
    assert {r["barcode"] for r in kept.collect()} == {"bc1"}


def test_gff_promoters_strand_aware(spark):
    gff = spark.createDataFrame(
        [
            ("chr1", "gene", 5000, 7000, "+", "gA"),
            ("chr1", "gene", 5000, 7000, "-", "gB"),
            ("chr1", "exon", 5000, 5100, "+", "gA"),
        ],
        ["seqid", "type", "start", "end", "strand", "gene_id"],
    )
    out = {r["gene_id"]: (r["start"], r["end"]) for r in
           src.gff_promoters(gff, flank_up=2000, flank_down=500).collect()}
    assert out == {"gA": (3000, 5500), "gB": (6500, 9000)}


def test_to_mtx_round_trip(spark, sf_dir, tmpdir):
    counts = DataStore(spark, sf_dir).counts()
    out = os.path.join(tmpdir, "mtx")
    src.to_mtx(counts, out)
    # reassemble single file: header + the one body part
    part = glob.glob(os.path.join(out, "body", "part-*.csv"))[0]
    final = os.path.join(tmpdir, "full.mtx")
    with open(final, "w") as dst:
        for piece in (os.path.join(out, "header.mtx"), part):
            with open(piece) as fh:
                shutil.copyfileobj(fh, dst)
    back = src.read_mtx(spark, final)
    a = {(r["cell_id"], r["feat_id"]): r["value"] for r in counts.collect()}
    b = {(r["cell_id"], r["feat_id"]): r["value"] for r in back.collect()}
    assert a == b


def test_subset_assay_matches_filter(spark, sf_dir, tmpdir):
    ds = DataStore(spark, sf_dir)
    counts = ds.counts()
    cells_sel = ds.cell_table().where(F.col("cell_id") % 7 == 0)
    feats_sel = ds.feat_table().where(F.col("feat_id") % 3 == 0)
    out_path = os.path.join(tmpdir, "subset")
    src.subset_assay(counts, cells_sel, feats_sel, out_path)
    cols = ["cell_id", "feat_id", "value"]
    back = spark.read.parquet(out_path).select(*cols)
    expect = counts.where(
        (F.col("cell_id") % 7 == 0) & (F.col("feat_id") % 3 == 0)
    ).select(*cols)
    assert back.count() == expect.count()
    assert back.exceptAll(expect).count() == 0


def test_to_wide_zero_fill(spark):
    counts = spark.createDataFrame(
        [(0, 1, 2.0), (0, 2, 3.0), (1, 2, 4.0)], ["cell_id", "feat_id", "value"]
    )
    rows = {r["cell_id"]: (r["f1"], r["f2"]) for r in
            src.to_wide(counts, [1, 2]).collect()}
    assert rows == {0: (2.0, 3.0), 1: (0.0, 4.0)}

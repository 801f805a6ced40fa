"""Sinks / exporters (SURVEY.md §2.2): COO DataFrames → files.

The reference streams chunks into Zarr or rebuilds CSR for AnnData
(``scarf/writers.py:245-364``, ``writers.py:1113-1304``). Spark-first:
writes are inherently chunked and distributed; the only driver-side
piece is the constant-size MTX header.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def to_mtx(
    counts: DataFrame,
    out_dir: str,
    n_cells: int | None = None,
    n_feats: int | None = None,
    single_file: bool = True,
) -> str:
    """MatrixMarket export (``scarf/writers.py:1262-1304`` to_mtx):
    1-indexed (feature, cell, value) triplets. ``single_file=True``
    coalesces to one part for tool compatibility (the format demands a
    leading header — inherently sequential); at scale set False to get
    a directory of header-less parts plus a sidecar header, the same
    split the reference's chunked writer performs."""
    stats = counts.agg(
        F.countDistinct("cell_id").alias("nc"),
        F.countDistinct("feat_id").alias("nf"),
        F.count("*").alias("nnz"),
        F.max("cell_id").alias("maxc"),
        F.max("feat_id").alias("maxf"),
    ).collect()[0]
    n_cells = n_cells if n_cells is not None else int(stats["maxc"]) + 1
    n_feats = n_feats if n_feats is not None else int(stats["maxf"]) + 1
    nnz = int(stats["nnz"])
    body = counts.select(
        (F.col("feat_id") + 1).cast("long"),
        (F.col("cell_id") + 1).cast("long"),
        F.col("value"),
    )
    os.makedirs(out_dir, exist_ok=True)
    header_path = os.path.join(out_dir, "header.mtx")
    with open(header_path, "w") as fh:
        fh.write("%%MatrixMarket matrix coordinate real general\n")
        fh.write(f"{n_feats} {n_cells} {nnz}\n")
    body_dir = os.path.join(out_dir, "body")
    writer = body.coalesce(1) if single_file else body
    writer.write.mode("overwrite").option("delimiter", " ").csv(body_dir)
    return out_dir


def export_knn_to_mtx(edges: DataFrame, out_dir: str, n_nodes: int | None = None) -> str:
    """KNN graph → MTX (``scarf/knn_utils.py:162-192``): the adjacency
    as weighted triplets."""
    e = edges.select(
        F.col("src").alias("feat_id"),
        F.col("dst").alias("cell_id"),
        F.col("weight").alias("value"),
    )
    return to_mtx(e, out_dir, n_cells=n_nodes, n_feats=n_nodes)


def subset_assay(
    counts: DataFrame,
    cells_sel: DataFrame,
    feats_sel: DataFrame,
    out_path: str | None = None,
) -> DataFrame:
    """Materialize a row/column subset (``scarf/writers.py:877-912``
    subset_assay_zarr / SubsetZarr): dual left-semi join pushed to the
    scan (Catalyst turns these into broadcast semi-joins when the
    selections are small — the common case), then an ordinary
    distributed write."""
    out = counts.join(
        cells_sel.select("cell_id"), "cell_id", "left_semi"
    ).join(F.broadcast(feats_sel.select("feat_id")), "feat_id", "left_semi")
    if out_path:
        out.write.mode("overwrite").parquet(out_path)
    return out


def to_wide(counts: DataFrame, feat_ids: list[int], prefix: str = "f") -> DataFrame:
    """Dense wide export for driver-side consumption
    (``scarf/writers.py:1113-1259`` to_h5ad's CSR rebuild, and
    ``datastore/datastore.py:1118-1157`` to_anndata): pivot the COO to
    one column per selected feature, absent entries zero-filled.
    Bounded by an explicit feature list — never pivot an unbounded
    feature space."""
    fids = [int(f) for f in feat_ids]
    # one conditional-sum aggregate per selected feature over ALL cells —
    # cells expressing none of them still get an (all-zero) row, matching
    # the dense export; single hash agg, no pivot shuffle, no cell dropped
    aggs = [
        F.coalesce(
            F.sum(F.when(F.col("feat_id") == f, F.col("value"))), F.lit(0.0)
        ).cast("double").alias(f"{prefix}{f}")
        for f in fids
    ]
    return counts.groupBy("cell_id").agg(*aggs)


def coo_to_csr_arrays(counts: DataFrame, n_cells: int, n_feats: int):
    """Collect the COO table into CSR arrays (indptr, indices, data) —
    the reconstruction step of the reference's AnnData export
    (``writers.py:1113-1259`` to_h5ad; ``datastore.py:1118-1157``
    to_anndata). driver_compute by definition (the export target is a
    single in-memory object); sorted (cell, feat) order is enforced so
    the arrays are deterministic."""
    import numpy as np

    rows = (
        counts.select("cell_id", "feat_id", "value")
        .orderBy("cell_id", "feat_id")
        .collect()
    )
    ci = np.fromiter((r["cell_id"] for r in rows), dtype=np.int64, count=len(rows))
    fi = np.fromiter((r["feat_id"] for r in rows), dtype=np.int64, count=len(rows))
    data = np.fromiter((r["value"] for r in rows), dtype=np.float64, count=len(rows))
    indptr = np.zeros(n_cells + 1, dtype=np.int64)
    np.add.at(indptr[1:], ci, 1)
    indptr = np.cumsum(indptr)
    return indptr, fi, data


def to_h5ad(
    counts: DataFrame,
    cells: DataFrame,
    feats: DataFrame,
    path: str,
    n_cells: int,
    n_feats: int,
) -> str:
    """Export to an AnnData-compatible ``.h5ad`` (CSR X group + obs/var
    tables, ``writers.py:1113-1259``). Uses h5py when installed;
    otherwise the vendored pure-python HDF5 writer
    (``sources/minih5.write_h5``), so the export runs un-gated."""
    indptr, indices, data = coo_to_csr_arrays(counts, n_cells, n_feats)

    def _cols(df):
        pdf = df.toPandas()
        out = {}
        for c in pdf.columns:
            v = pdf[c].to_numpy()
            out[c] = v.astype("S") if v.dtype.kind == "O" else v
        return out

    import numpy as np

    obs, var = _cols(cells), _cols(feats)
    # shape is written BOTH as the AnnData attr (h5py path) and as a
    # plain X/shape int64[2] dataset in both paths: the minih5 writer
    # has no attribute-message support, so without the dataset a
    # fallback-written file would silently lack the matrix dims
    shape = np.array([n_cells, n_feats], dtype="<i8")
    try:
        import h5py

        with h5py.File(path, "w") as f:
            x = f.create_group("X")
            x["indptr"] = indptr
            x["indices"] = indices
            x["data"] = data
            x["shape"] = shape
            x.attrs["shape"] = (n_cells, n_feats)
            for key, cols in (("obs", obs), ("var", var)):
                g = f.create_group(key)
                for c, v in cols.items():
                    g[c] = v
    except ImportError:
        from scarf_spark.sources.minih5 import write_h5

        write_h5(
            path,
            {
                "X": {
                    "indptr": indptr,
                    "indices": indices,
                    "data": data,
                    "shape": shape,
                },
                "obs": obs,
                "var": var,
            },
        )
    return path

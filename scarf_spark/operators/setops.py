"""Set operations — dataset merge semantics (SURVEY.md §2.8).

Reference semantics: merging datasets UNION-ALLs cell tables with
``name__id`` prefixing (``scarf/merge.py:279-329``, prefix at
``merge.py:300``), UNION-dedups feature tables by id in first-seen
order (``merge.py:460-486``), disambiguates duplicate names with
suffixes (``merge.py:364-458``), fills missing assays with zeros
(``merge.py:778-809`` — in COO form simply absent rows), and set
subtraction for control gene sets (``feat_utils.py:92``)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def merge_cell_tables(datasets: list[tuple[str, DataFrame]], id_col: str = "id") -> DataFrame:
    """UNION ALL with `dsname__id` prefixing (``merge.py:279-329``).
    unionByName(allowMissingColumns) mirrors the reference's column
    union across datasets; the chunk-level row shuffling it does for
    batch mixing is Spark's natural shuffle."""
    parts = []
    for name, df in datasets:
        parts.append(
            df.withColumn(id_col, F.concat(F.lit(name), F.lit("__"), F.col(id_col)))
            .withColumn("dataset", F.lit(name))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def merge_feature_tables(datasets: list[DataFrame], id_col: str = "ids") -> DataFrame:
    """UNION-dedup by id, first-seen (dataset order, then id order)
    wins (``merge.py:460-486``)."""
    parts = [df.withColumn("_src", F.lit(i)) for i, df in enumerate(datasets)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    w = Window.partitionBy(id_col).orderBy("_src")
    return out.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop(
        "_rn", "_src"
    )


def disambiguate_names(df: DataFrame, name_col: str, order_col: str) -> DataFrame:
    """Duplicate-name suffixing (``merge.py:364-458``): nth duplicate of
    a name becomes ``name_{n}`` (first keeps the bare name)."""
    w = Window.partitionBy(name_col).orderBy(order_col)
    rn = F.row_number().over(w)
    return df.withColumn(
        "uniq_name",
        F.when(rn == 1, F.col(name_col)).otherwise(
            F.concat(F.col(name_col), F.lit("_"), (rn - 1).cast("string"))
        ),
    )


def set_subtract(df: DataFrame, remove: DataFrame, key: str) -> DataFrame:
    """`control_genes - feature_list` (``feat_utils.py:92``) — a
    broadcast anti-join."""
    return df.join(F.broadcast(remove.select(key)), key, "left_anti")


def set_intersect(df: DataFrame, other: DataFrame, key: str) -> DataFrame:
    """Key intersection as a LEFT SEMI join — the selection twin of
    :func:`set_subtract` (reference: boolean-index AND over cell keys,
    ``scarf/datastore/base_datastore.py`` cell_key composition). Semi
    joins shuffle only the key column of the probe side and never
    duplicate rows, unlike an INNER join against a non-unique key."""
    return df.join(other.select(key).distinct(), key, "left_semi")


def set_anti(df: DataFrame, other: DataFrame, key: str) -> DataFrame:
    """Orphan finder: rows of ``df`` whose key has NO match in ``other``
    (LEFT ANTI join — NOT EXISTS). The referential-integrity audit every
    warehouse load runs; Spark plans the same broadcast/shuffled hash
    join as the semi form, moving only keys."""
    return df.join(other.select(key).distinct(), key, "left_anti")

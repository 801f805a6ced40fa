"""Skew handling for hot keys (the 100 TB checklist item next to AQE).

AQE's skew-join splitting handles joins; for AGGREGATIONS whose
per-key state is large (collect_list/collect_set, exact distinct
counts, neighbor-list assembly), a hot key still lands on one task.
The classic fix is two-phase salting: spread each key over
``n_salts`` sub-keys, aggregate partially per (key, salt), then merge
the partials per key. Both phases are hash aggs; the hot key's work is
now bounded by 1/n_salts per task.

Algebraic aggregates (sum/count/min/max) don't need this — Spark's
partial aggregation already combines map-side. ``salted_count_distinct``
(the ``agg_salted_distinct`` query) is the holistic case shipped here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_count_distinct(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    n_salts: int = 16,
    out: str = "n_distinct",
) -> DataFrame:
    """Exact COUNT(DISTINCT value) per key, salted: phase 1 dedups per
    (key, salt) — a value always lands in the same salt, so dedup is
    complete within the salt — phase 2 sums the per-salt distinct
    counts. Equivalent to the unsalted result, hot keys split
    n_salts ways."""
    salt = F.pmod(F.xxhash64(F.col(value_col)), F.lit(n_salts)).alias("_salt")
    p1 = (
        df.select(*key_cols, F.col(value_col), salt)
        .groupBy(*key_cols, "_salt")
        .agg(F.count_distinct(value_col).alias("_nd"))
    )
    return p1.groupBy(*key_cols).agg(F.sum("_nd").cast("long").alias(out))

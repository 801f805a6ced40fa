"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator from
SURVEY.md §2 (plus the large-scale pipeline extensions); each maps to
an ``oracle_sql()`` ANSI-SQL twin that DuckDB runs on the same parquet
tables. The star schema doubles as the single-cell COO model
(FIXTURES.md §4): lineitem → counts(cell_id, feat_id, value),
orders → cells, part → feats.

Float discipline: every derived float column is computed from exact
inputs where possible and ``ROUND(x, 6)``-ed identically on both sides
so the driver's value-hash matches bit-for-bit.
"""

from __future__ import annotations

import os
import sys
import threading
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from scarf_spark.catalog import COUNTS_CTE, DataStore
from scarf_spark.operators import (
    aggregate,
    dedup,
    filters,
    graph,
    joins,
    knn,
    markers,
    normalize,
    qc,
    setops,
    text,
    windows,
)

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def q(name: str, sql: str | None = None):
    def deco(fn):
        _QUERIES[name] = fn
        if sql is not None:
            _ORACLES[name] = sql
        return fn
    return deco


_DS_CACHE: dict[tuple, DataStore] = {}


def _ds(spark: SparkSession, sf_dir: str) -> DataStore:
    """One DataStore per (session, sf_dir): table DataFrames (and their
    parquet footer reads) are set up once, not once per query."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _DS_CACHE:
        _DS_CACHE[key] = DataStore(spark, sf_dir)
    return _DS_CACHE[key]


_NCELLS_CACHE: dict[str, int] = {}


def _n_cells(ds: DataStore) -> int:
    """Distinct cells in the fact table. On a cluster this is a cached
    catalog statistic; here a one-off distinct-count action."""
    key = ds.sf_dir
    if key not in _NCELLS_CACHE:
        _NCELLS_CACHE[key] = ds.counts().select("cell_id").distinct().count()
    return _NCELLS_CACHE[key]


_N_CELLS_SQL = "(SELECT COUNT(DISTINCT cell_id) FROM counts)"


# ---------------------------------------------------------------------------
# §2.5 QC aggregations
# ---------------------------------------------------------------------------

@q(
    "qc_ncounts",
    f"WITH {COUNTS_CTE} "
    "SELECT cell_id, CAST(SUM(value) AS DOUBLE) AS n_counts FROM counts GROUP BY cell_id",
)
def qc_ncounts(spark, sf_dir):
    return qc.ncounts_per_cell(_ds(spark, sf_dir).counts())


@q(
    "qc_nfeatures",
    f"WITH {COUNTS_CTE} "
    "SELECT cell_id, COUNT(*) FILTER (WHERE value > 0) AS n_features "
    "FROM counts GROUP BY cell_id",
)
def qc_nfeatures(spark, sf_dir):
    return qc.nfeatures_per_cell(_ds(spark, sf_dir).counts())


@q(
    "qc_feat_ncells",
    f"WITH {COUNTS_CTE} "
    "SELECT feat_id, COUNT(*) FILTER (WHERE value > 0) AS n_cells_expressed, "
    f"{_N_CELLS_SQL} - COUNT(*) FILTER (WHERE value > 0) AS dropouts, "
    "COUNT(*) FILTER (WHERE value > 0) > 10 AS I "
    "FROM counts GROUP BY feat_id",
)
def qc_feat_ncells(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    return qc.feat_ncells(ds.counts(), n_cells=_n_cells(ds), min_cells=10)


@q(
    "qc_percent_feature",
    f"WITH {COUNTS_CTE} "
    "SELECT c.cell_id, "
    "ROUND(100.0 * COALESCE(SUM(c.value) FILTER (WHERE regexp_matches(UPPER(p.p_name), 'RED|BLUE')), 0.0) "
    "/ SUM(c.value), 6) AS percent "
    "FROM counts c JOIN part p ON c.feat_id = p.p_partkey GROUP BY c.cell_id",
)
def qc_percent_feature(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    return qc.percent_feature(ds.counts(), ds.feat_table(), "red|blue")


@q(
    "qc_feature_stats",
    f"WITH {COUNTS_CTE}, "
    "agg AS (SELECT feat_id, CAST(SUM(value) AS DOUBLE) AS tot, "
    "CAST(SUM(value * value) AS DOUBLE) AS tot_sq, "
    "COUNT(*) FILTER (WHERE value > 0) AS nnz FROM counts GROUP BY feat_id) "
    "SELECT feat_id, ROUND(tot, 6) AS tot, "
    f"ROUND(tot / {_N_CELLS_SQL}, 6) AS avg_all, "
    "ROUND(CASE WHEN nnz > 0 THEN tot / nnz ELSE 0.0 END, 6) AS nz_mean, "
    f"ROUND(tot_sq / {_N_CELLS_SQL} - (tot / {_N_CELLS_SQL}) * (tot / {_N_CELLS_SQL}), 6) AS sigma, "
    "nnz FROM agg",
)
def qc_feature_stats(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    return qc.feature_stats(ds.counts(), n_cells=_n_cells(ds))


@q(
    "qc_clr_geo_mean",
    f"WITH {COUNTS_CTE} "
    f"SELECT feat_id, ROUND(EXP(SUM(LN(1 + value)) / {_N_CELLS_SQL}), 6) AS geo_mean "
    "FROM counts GROUP BY feat_id",
)
def qc_clr_geo_mean(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    return qc.clr_geo_mean(ds.counts(), n_cells=_n_cells(ds))


# ---------------------------------------------------------------------------
# §2.3 filters / predicates
# ---------------------------------------------------------------------------

@q(
    "filt_sift",
    "SELECT * FROM customer WHERE c_acctbal > 1000 AND c_acctbal < 5000",
)
def filt_sift(spark, sf_dir):
    return filters.sift(_ds(spark, sf_dir).customer, "c_acctbal", 1000.0, 5000.0)


@q(
    "filt_sift_bounds",
    "SELECT * FROM customer WHERE c_acctbal >= 1000 AND c_acctbal <= 5000",
)
def filt_sift_bounds(spark, sf_dir):
    return filters.sift(
        _ds(spark, sf_dir).customer, "c_acctbal", 1000.0, 5000.0, keep_bounds=True
    )


@q(
    "filt_multi_sift",
    "SELECT * FROM part WHERE p_size > 5 AND p_size < 40 "
    "AND p_retailprice > 900 AND p_retailprice < 1050",
)
def filt_multi_sift(spark, sf_dir):
    return filters.multi_sift(
        _ds(spark, sf_dir).part, ["p_size", "p_retailprice"], [5, 900], [40, 1050]
    )


@q(
    "filt_filter_cells",
    f"WITH {COUNTS_CTE}, "
    "qc AS (SELECT cell_id, CAST(SUM(value) AS DOUBLE) AS n_counts, "
    "COUNT(*) FILTER (WHERE value > 0) AS n_features FROM counts GROUP BY cell_id) "
    "SELECT o.o_orderkey AS cell_id, "
    "COALESCE(qc.n_counts > 50 AND qc.n_counts < 500, FALSE) "
    "AND COALESCE(qc.n_features > 2, FALSE) AS I "
    "FROM orders o LEFT JOIN qc ON o.o_orderkey = qc.cell_id",
)
def filt_filter_cells(spark, sf_dir):
    """AND-into-I semantics (datastore.py:92-138): cells lacking QC rows
    (no lineitems) fail the predicate, I never resurrects."""
    ds = _ds(spark, sf_dir)
    cells = ds.cell_table().join(qc.cell_qc(ds.counts()), "cell_id", "left_outer")
    out = filters.filter_cells(
        cells,
        (F.col("n_counts") > 50) & (F.col("n_counts") < 500),
        F.col("n_features") > 2,
    )
    return out.select("cell_id", "I")


@q(
    "filt_auto_bounds",
    "SELECT ROUND(MEDIAN(c_acctbal) - 2.0 * STDDEV_SAMP(c_acctbal), 6) AS lo, "
    "ROUND(MEDIAN(c_acctbal) + 2.0 * STDDEV_SAMP(c_acctbal), 6) AS hi FROM customer",
)
def filt_auto_bounds(spark, sf_dir):
    return filters.auto_filter_bounds(_ds(spark, sf_dir).customer, "c_acctbal", 2.0)


@q(
    "filt_auto_filter",
    "WITH b AS (SELECT ROUND(MEDIAN(c_acctbal) - 2.0 * STDDEV_SAMP(c_acctbal), 6) AS lo, "
    "ROUND(MEDIAN(c_acctbal) + 2.0 * STDDEV_SAMP(c_acctbal), 6) AS hi FROM customer) "
    "SELECT c.* FROM customer c, b WHERE c.c_acctbal > b.lo AND c.c_acctbal < b.hi",
)
def filt_auto_filter(spark, sf_dir):
    return filters.auto_filter_cells(_ds(spark, sf_dir).customer, "c_acctbal", 2.0)


@q(
    "filt_grep",
    "SELECT * FROM part WHERE regexp_matches(UPPER(p_name), 'WIDGET|GIZMO')",
)
def filt_grep(spark, sf_dir):
    return filters.grep(_ds(spark, sf_dir).part, "widget|gizmo", name_col="p_name")


@q(
    "filt_get_index_by",
    "SELECT p.* FROM part p JOIN (VALUES ('red widget'), ('SMALL RING'), ('blue bolt')) "
    "t(v) ON UPPER(p.p_name) = UPPER(t.v)",
)
def filt_get_index_by(spark, sf_dir):
    return filters.get_index_by(
        _ds(spark, sf_dir).part,
        ["red widget", "SMALL RING", "blue bolt"],
        col="p_name",
        key_col="p_partkey",
    )


@q(
    "filt_index_to_bool",
    "SELECT p.p_partkey AS feat_id, p.p_size > 30 AS flag FROM part p",
)
def filt_index_to_bool(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    feats = ds.feat_table()
    sel = feats.where(F.col("size") > 30)
    return filters.index_to_bool(feats, sel, "feat_id").select("feat_id", "flag")


@q(
    "filt_clip_fraction",
    "WITH b AS (SELECT quantile_cont(c_acctbal, 0.01) AS lo, "
    "quantile_cont(c_acctbal, 0.99) AS hi FROM customer) "
    "SELECT c.c_custkey, ROUND(LEAST(GREATEST(c.c_acctbal, b.lo), b.hi), 6) AS c_acctbal "
    "FROM customer c, b",
)
def filt_clip_fraction(spark, sf_dir):
    c = _ds(spark, sf_dir).customer.select("c_custkey", "c_acctbal")
    return filters.clip_fraction(c, "c_acctbal", 0.01)


@q(
    "filt_clean_array",
    "SELECT event_id, CASE WHEN isnan(v) OR v = 'Infinity'::DOUBLE OR v = '-Infinity'::DOUBLE "
    "THEN 0.0 ELSE v END AS value FROM (SELECT event_id, "
    "CASE WHEN event_type = 'error' THEN 'NaN'::DOUBLE ELSE value END AS v FROM events)",
)
def filt_clean_array(spark, sf_dir):
    ev = _ds(spark, sf_dir).events.select(
        "event_id",
        F.when(F.col("event_type") == "error", F.lit(float("nan")))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    return filters.clean_array(ev, "value", 0.0)


@q(
    "filt_outlier_iqr",
    # Tukey fences on per-cell totals; fences rounded before comparing
    # so the boundary decision is engine-exact
    f"WITH {COUNTS_CTE}, "
    "nc AS (SELECT cell_id, CAST(SUM(value) AS DOUBLE) AS n_counts FROM counts "
    "GROUP BY cell_id), "
    "q AS (SELECT ROUND(quantile_cont(n_counts, 0.25), 6) AS q1, "
    "ROUND(quantile_cont(n_counts, 0.75), 6) AS q3 FROM nc) "
    "SELECT cell_id, ROUND(n_counts, 6) AS n_counts, "
    "n_counts < ROUND(q1 - 1.5 * (q3 - q1), 6) "
    "OR n_counts > ROUND(q3 + 1.5 * (q3 - q1), 6) AS is_outlier "
    "FROM nc, q",
)
def filt_outlier_iqr(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    nc = ds.counts().groupBy("cell_id").agg(
        F.sum("value").cast("double").alias("n_counts")
    )
    return filters.iqr_outliers(nc, "n_counts", "cell_id")


@q(
    "norm_robust_scale",
    f"WITH {COUNTS_CTE}, "
    "m AS (SELECT feat_id, ROUND(quantile_cont(value, 0.5), 6) AS med, "
    "ROUND(quantile_cont(value, 0.75) - quantile_cont(value, 0.25), 6) AS iqr "
    "FROM counts GROUP BY feat_id) "
    "SELECT c.cell_id, c.feat_id, "
    "ROUND(CASE WHEN m.iqr != 0 THEN (c.value - m.med) / m.iqr ELSE 0.0 END, 6) "
    "AS robust_value FROM counts c JOIN m ON c.feat_id = m.feat_id",
)
def norm_robust_scale(spark, sf_dir):
    return normalize.robust_scale_per_feature(_ds(spark, sf_dir).counts())


# ---------------------------------------------------------------------------
# §2.10 normalization
# ---------------------------------------------------------------------------

_LIBSIZE_SQL = (
    f"WITH {COUNTS_CTE}, "
    "tot AS (SELECT cell_id, SUM(value) AS t FROM counts GROUP BY cell_id) "
    "SELECT c.cell_id, c.feat_id, ROUND({expr}, 6) AS norm_value "
    "FROM counts c JOIN tot ON c.cell_id = tot.cell_id"
)


@q("norm_lib_size", _LIBSIZE_SQL.format(expr="1000.0 * c.value / tot.t"))
def norm_lib_size(spark, sf_dir):
    return normalize.norm_lib_size(_ds(spark, sf_dir).counts(), sf=1000.0)


@q("norm_lib_size_log", _LIBSIZE_SQL.format(expr="LN(1 + 1000.0 * c.value / tot.t)"))
def norm_lib_size_log(spark, sf_dir):
    return normalize.norm_lib_size(_ds(spark, sf_dir).counts(), sf=1000.0, log=True)


@q(
    "norm_clr",
    f"WITH {COUNTS_CTE}, "
    f"geo AS (SELECT feat_id, EXP(SUM(LN(1 + value)) / {_N_CELLS_SQL}) AS g "
    "FROM counts GROUP BY feat_id) "
    "SELECT c.cell_id, c.feat_id, ROUND(LN(1 + c.value / geo.g), 6) AS norm_value "
    "FROM counts c JOIN geo ON c.feat_id = geo.feat_id",
)
def norm_clr(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    return normalize.norm_clr(ds.counts(), n_cells=_n_cells(ds))


@q(
    "norm_tf_idf",
    f"WITH {COUNTS_CTE}, "
    "tot AS (SELECT cell_id, SUM(value) AS t FROM counts GROUP BY cell_id), "
    "df AS (SELECT feat_id, COUNT(*) FILTER (WHERE value > 0) AS d FROM counts GROUP BY feat_id) "
    "SELECT c.cell_id, c.feat_id, "
    f"ROUND((c.value / tot.t) * LOG2(1 + {_N_CELLS_SQL} / (df.d + 1.0)), 6) AS norm_value "
    "FROM counts c JOIN tot ON c.cell_id = tot.cell_id JOIN df ON c.feat_id = df.feat_id",
)
def norm_tf_idf(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    return normalize.norm_tf_idf(ds.counts(), n_cells=_n_cells(ds))


@q(
    "norm_renorm_subset",
    f"WITH {COUNTS_CTE}, "
    "sel AS (SELECT p_partkey AS feat_id FROM part WHERE p_size > 25), "
    "sub AS (SELECT c.* FROM counts c JOIN sel ON c.feat_id = sel.feat_id), "
    "tot AS (SELECT cell_id, SUM(value) AS t FROM sub GROUP BY cell_id) "
    "SELECT s.cell_id, s.feat_id, "
    "ROUND(1000.0 * s.value / (CASE WHEN tot.t != 0 THEN tot.t ELSE 1 END), 6) AS norm_value "
    "FROM sub s JOIN tot ON s.cell_id = tot.cell_id",
)
def norm_renorm_subset(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    sel = ds.feat_table().where(F.col("size") > 25)
    return normalize.renormalize_subset(ds.counts(), sel, sf=1000.0)


@q(
    "norm_zscale",
    f"WITH {COUNTS_CTE}, "
    "st AS (SELECT feat_id, AVG(value) AS mu, STDDEV_SAMP(value) AS sd "
    "FROM counts GROUP BY feat_id) "
    "SELECT c.cell_id, c.feat_id, "
    "ROUND(CASE WHEN st.sd != 0 THEN (c.value - st.mu) / st.sd ELSE 0.0 END, 6) AS z "
    "FROM counts c JOIN st ON c.feat_id = st.feat_id",
)
def norm_zscale(spark, sf_dir):
    return normalize.zscale_per_feature(_ds(spark, sf_dir).counts())


# ---------------------------------------------------------------------------
# §2.6-2.7 windows / ranks / top-k
# ---------------------------------------------------------------------------

@q(
    "win_rolling_mean",
    "SELECT event_id, ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6) AS rolling_mean FROM events",
)
def win_rolling_mean(spark, sf_dir):
    ev = _ds(spark, sf_dir).events
    return windows.rolling_mean(
        ev, ["user_id"], ["ts", "event_id"], "value", width=5
    ).select("event_id", "rolling_mean")


@q(
    "win_ntile_bins",
    "WITH b AS (SELECT value, NTILE(20) OVER (ORDER BY ts, event_id) AS bin FROM events) "
    "SELECT bin, ROUND(AVG(value), 6) AS mean_value, COUNT(*) AS n FROM b GROUP BY bin",
)
def win_ntile_bins(spark, sf_dir):
    ev = _ds(spark, sf_dir).events
    return windows.ntile_bin_agg(ev, ["ts", "event_id"], "value", n_bins=20)


@q(
    "win_dense_rank",
    f"WITH {COUNTS_CTE} "
    "SELECT cell_id, feat_id, DENSE_RANK() OVER (PARTITION BY feat_id ORDER BY value) "
    "AS dense_rank FROM counts",
)
def win_dense_rank(spark, sf_dir):
    return windows.dense_rank_per_group(
        _ds(spark, sf_dir).counts(), "feat_id", "value"
    ).select("cell_id", "feat_id", "dense_rank")


@q(
    "win_avg_rank",
    f"WITH {COUNTS_CTE} "
    "SELECT cell_id, feat_id, ROUND(RANK() OVER (PARTITION BY feat_id ORDER BY value) "
    "+ (COUNT(*) OVER (PARTITION BY feat_id, value) - 1) / 2.0, 6) AS avg_rank FROM counts",
)
def win_avg_rank(spark, sf_dir):
    return windows.avg_rank_per_group(
        _ds(spark, sf_dir).counts(), "feat_id", "value"
    ).select("cell_id", "feat_id", "avg_rank")


@q(
    "win_top_n",
    f"WITH {COUNTS_CTE}, "
    "s AS (SELECT feat_id, CAST(SUM(value) AS DOUBLE) AS tot FROM counts GROUP BY feat_id) "
    "SELECT feat_id, tot FROM (SELECT feat_id, tot, "
    "ROW_NUMBER() OVER (ORDER BY tot DESC, feat_id) AS rn FROM s) WHERE rn <= 50",
)
def win_top_n(spark, sf_dir):
    stats = (
        _ds(spark, sf_dir).counts().groupBy("feat_id")
        .agg(F.sum("value").cast("double").alias("tot"))
    )
    return windows.top_n_by_stat(stats, "tot", 50, "feat_id")


@q(
    "win_topk_per_group",
    f"WITH {COUNTS_CTE}, "
    "s AS (SELECT o.o_orderpriority AS priority, c.feat_id, "
    "CAST(SUM(c.value) AS DOUBLE) AS sum_value "
    "FROM counts c JOIN orders o ON c.cell_id = o.o_orderkey GROUP BY 1, 2) "
    "SELECT priority, feat_id, sum_value, rank_in_group FROM "
    "(SELECT *, ROW_NUMBER() OVER (PARTITION BY priority ORDER BY sum_value DESC, feat_id) "
    "AS rank_in_group FROM s) WHERE rank_in_group <= 3",
)
def win_topk_per_group(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    pri = ds.orders.select(
        F.col("o_orderkey").alias("cell_id"), F.col("o_orderpriority").alias("priority")
    )
    s = (
        ds.counts().join(F.broadcast(pri), "cell_id")
        .groupBy("priority", "feat_id")
        .agg(F.sum("value").cast("double").alias("sum_value"))
    )
    return windows.top_k_per_group(s, ["priority"], "sum_value", 3, "feat_id")


# ---------------------------------------------------------------------------
# §2.5 grouped aggregations (make_bulk family)
# ---------------------------------------------------------------------------

_CG_CTE = (
    "cg AS (SELECT o.o_orderkey AS cell_id, c.c_mktsegment AS grp "
    "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)"
)


def _cell_groups(ds: DataStore):
    return ds.orders.join(
        ds.customer, ds.orders.o_custkey == ds.customer.c_custkey
    ).select(F.col("o_orderkey").alias("cell_id"), F.col("c_mktsegment").alias("grp"))


@q(
    "agg_make_bulk",
    f"WITH {COUNTS_CTE}, {_CG_CTE}, "
    "sizes AS (SELECT grp, COUNT(*) AS gn FROM cg GROUP BY grp) "
    "SELECT cg.grp, c.feat_id, CAST(SUM(c.value) AS DOUBLE) AS sum_value, "
    "ROUND(SUM(c.value) / ANY_VALUE(s.gn), 6) AS mean_value, "
    "ROUND(COUNT(*) FILTER (WHERE c.value > 0) / CAST(ANY_VALUE(s.gn) AS DOUBLE), 6) "
    "AS frac_expressed "
    "FROM counts c JOIN cg ON c.cell_id = cg.cell_id JOIN sizes s ON cg.grp = s.grp "
    "GROUP BY cg.grp, c.feat_id",
)
def agg_make_bulk(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    return aggregate.make_bulk(ds.counts(), _cell_groups(ds), group_col="grp")


@q(
    "agg_pseudo_reps",
    f"WITH {COUNTS_CTE}, {_CG_CTE}, "
    "reps AS (SELECT cell_id, grp, "
    "(ROW_NUMBER() OVER (PARTITION BY grp ORDER BY cell_id) - 1) % 3 AS rep FROM cg) "
    "SELECT r.grp, r.rep, c.feat_id, CAST(SUM(c.value) AS DOUBLE) AS sum_value "
    "FROM counts c JOIN reps r ON c.cell_id = r.cell_id GROUP BY 1, 2, 3",
)
def agg_pseudo_reps(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    out = aggregate.pseudo_replicates(ds.counts(), _cell_groups(ds), n_reps=3, group_col="grp")
    return out.withColumn("rep", F.col("rep").cast("long"))


@q(
    "agg_group_mean_z",
    f"WITH {COUNTS_CTE}, {_CG_CTE}, "
    "sizes AS (SELECT grp, COUNT(*) AS gn FROM cg GROUP BY grp), "
    "m AS (SELECT cg.grp, c.feat_id, SUM(c.value) / ANY_VALUE(s.gn) AS mean_value "
    "FROM counts c JOIN cg ON c.cell_id = cg.cell_id JOIN sizes s ON cg.grp = s.grp "
    "GROUP BY cg.grp, c.feat_id) "
    "SELECT grp, feat_id, ROUND(mean_value, 6) AS mean_value, "
    "ROUND(CASE WHEN STDDEV_SAMP(mean_value) OVER (PARTITION BY feat_id) != 0 THEN "
    "(mean_value - AVG(mean_value) OVER (PARTITION BY feat_id)) / "
    "STDDEV_SAMP(mean_value) OVER (PARTITION BY feat_id) ELSE 0.0 END, 6) AS z FROM m",
)
def agg_group_mean_z(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    return aggregate.group_mean_zscore(ds.counts(), _cell_groups(ds), group_col="grp")


@q(
    "agg_grouped_assay",
    f"WITH {COUNTS_CTE}, "
    "fg AS (SELECT p_partkey AS feat_id, p_brand AS feat_group FROM part), "
    "sizes AS (SELECT feat_group, COUNT(*) AS fn FROM fg GROUP BY feat_group) "
    "SELECT c.cell_id, fg.feat_group, "
    "ROUND(SUM(c.value) / ANY_VALUE(s.fn), 6) AS mean_value "
    "FROM counts c JOIN fg ON c.feat_id = fg.feat_id "
    "JOIN sizes s ON fg.feat_group = s.feat_group GROUP BY c.cell_id, fg.feat_group",
)
def agg_grouped_assay(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    fg = ds.part.select(F.col("p_partkey").alias("feat_id"), F.col("p_brand").alias("feat_group"))
    return aggregate.grouped_assay(ds.counts(), fg)


@q(
    "agg_score_features",
    f"WITH {COUNTS_CTE}, "
    "fa AS (SELECT p_partkey AS feat_id FROM part WHERE regexp_matches(p_name, 'widget')), "
    "fb AS (SELECT p_partkey AS feat_id FROM part WHERE regexp_matches(p_name, 'gizmo')), "
    "a AS (SELECT cell_id, SUM(value) / (SELECT COUNT(*) FROM fa) AS ma FROM counts "
    "WHERE feat_id IN (SELECT feat_id FROM fa) GROUP BY cell_id), "
    "b AS (SELECT cell_id, SUM(value) / (SELECT COUNT(*) FROM fb) AS mb FROM counts "
    "WHERE feat_id IN (SELECT feat_id FROM fb) GROUP BY cell_id) "
    "SELECT COALESCE(a.cell_id, b.cell_id) AS cell_id, "
    "ROUND(COALESCE(a.ma, 0.0) - COALESCE(b.mb, 0.0), 6) AS score "
    "FROM a FULL OUTER JOIN b ON a.cell_id = b.cell_id",
)
def agg_score_features(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    feats = ds.feat_table()
    fa = feats.where(F.col("name").rlike("widget"))
    fb = feats.where(F.col("name").rlike("gizmo"))
    return aggregate.score_features(ds.counts(), fa, fb)


@q(
    "agg_smart_label",
    "WITH ct AS (SELECT event_type, user_id % 5 AS b, COUNT(*) AS n "
    "FROM events GROUP BY 1, 2) "
    "SELECT event_type, b AS best_b, n AS n_best FROM "
    "(SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n DESC, b) AS rn "
    "FROM ct) WHERE rn = 1",
)
def agg_smart_label(spark, sf_dir):
    ev = _ds(spark, sf_dir).events.select(
        "event_type", (F.col("user_id") % 5).alias("b")
    )
    return aggregate.smart_label_argmax(ev, "event_type", "b")


# ---------------------------------------------------------------------------
# §2.4 joins (interval overlap / binning / alignment)
# ---------------------------------------------------------------------------

_QREF_CTE = (
    "qi AS (SELECT event_id AS id, 'chr' || CAST(user_id % 3 AS VARCHAR) AS chrom, "
    "value AS start, value + 25.0 AS \"end\" FROM events WHERE event_type = 'view'), "
    "ri AS (SELECT event_id AS id, 'chr' || CAST(user_id % 3 AS VARCHAR) AS chrom, "
    "value AS start, value + 10.0 AS \"end\", value AS value FROM events "
    "WHERE event_type = 'click')"
)


def _intervals(ds: DataStore):
    ev = ds.events
    chrom = F.concat(F.lit("chr"), (F.col("user_id") % 3).cast("string")).alias("chrom")
    qi = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("id"), chrom,
        F.col("value").alias("start"), (F.col("value") + 25.0).alias("end"),
    )
    ri = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("id"), chrom,
        F.col("value").alias("start"), (F.col("value") + 10.0).alias("end"),
        F.col("value").alias("value"),
    )
    return qi, ri


# One oracle (the naive range join + quantized sum), TWO graded engine
# plans: join_interval_overlap answers it with the salted binned
# equi-join + hash agg (the pair-materializing path), and
# join_interval_sweep with the pair-free inclusion-exclusion prefix
# sweep (joins.py overlap_sum_sweep — the dense-interval 100 TB plan).
# Values quantized to integer cents on ALL sides so the sweep's
# cumulative-sum subtraction is bit-equal to the direct sums.
_INTERVAL_SUM_SQL = (
    f"WITH {_QREF_CTE} "
    "SELECT q.id AS q_id, "
    "ROUND(CAST(SUM(CAST(ROUND(r.value * 100, 0) AS BIGINT)) AS DOUBLE) / 100, 6) "
    "AS sum_value, COUNT(*) AS n_overlaps "
    "FROM qi q JOIN ri r ON q.chrom = r.chrom AND q.start < r.\"end\" "
    "AND q.\"end\" > r.start GROUP BY q.id"
)


@q("join_interval_overlap", _INTERVAL_SUM_SQL)
def join_interval_overlap(spark, sf_dir):
    qi, ri = _intervals(_ds(spark, sf_dir))
    return joins.overlap_sum(qi, ri, bin_size=100, value_scale=100)


@q("join_interval_sweep", _INTERVAL_SUM_SQL)
def join_interval_sweep(spark, sf_dir):
    qi, ri = _intervals(_ds(spark, sf_dir))
    return joins.overlap_sum_sweep(qi, ri, value_scale=100)


@q(
    "join_interval_binned",
    f"WITH {_QREF_CTE} "
    "SELECT q.id AS q_id, r.id AS r_id FROM qi q JOIN ri r "
    "ON q.chrom = r.chrom AND q.start < r.\"end\" AND q.\"end\" > r.start",
)
def join_interval_binned(spark, sf_dir):
    """The binned equi-join rewrite must return the exact same pair set
    as the naive range join (the oracle)."""
    qi, ri = _intervals(_ds(spark, sf_dir))
    return joins.interval_overlap_join_binned(qi, ri, bin_size=100).select("q_id", "r_id")


@q(
    "join_genome_bin",
    "WITH iv AS (SELECT 'chr' || CAST(user_id % 3 AS VARCHAR) AS chrom, "
    "value AS start, value + 20.0 AS \"end\", value FROM events) "
    "SELECT chrom, CAST(FLOOR((start + (\"end\" - start) / 2) / 50.0) AS BIGINT) AS bin, "
    "COUNT(*) AS n, ROUND(CAST(SUM(value) AS DOUBLE), 6) AS sum_value "
    "FROM iv GROUP BY 1, 2",
)
def join_genome_bin(spark, sf_dir):
    ev = _ds(spark, sf_dir).events
    iv = ev.select(
        F.concat(F.lit("chr"), (F.col("user_id") % 3).cast("string")).alias("chrom"),
        F.col("value").alias("start"),
        (F.col("value") + 20.0).alias("end"),
        "value",
    )
    out = joins.genome_bin_counts(iv, bin_size=50.0)
    return out.withColumn("sum_value", F.round("sum_value", 6))


@q(
    "join_align_features",
    "WITH s AS (SELECT p_partkey AS ids, p_retailprice AS value FROM part), "
    "t AS (SELECT p_partkey AS ids, CAST(p_size AS DOUBLE) AS value FROM part "
    "WHERE p_size > 25) "
    "SELECT s.ids, s.value AS s_value, COALESCE(t.value, 1.0) AS t_value "
    "FROM s LEFT JOIN t ON s.ids = t.ids",
)
def join_align_features(spark, sf_dir):
    p = _ds(spark, sf_dir).part
    s = p.select(F.col("p_partkey").alias("ids"), F.col("p_retailprice").alias("value"))
    t = p.where(F.col("p_size") > 25).select(
        F.col("p_partkey").alias("ids"), F.col("p_size").cast("double").alias("value")
    )
    return joins.align_features(s, t, exclude_missing=False, fill_value=1.0)


# ---------------------------------------------------------------------------
# §2.8 set operations (merge semantics)
# ---------------------------------------------------------------------------

@q(
    "set_merge_cells",
    "SELECT 'a' AS dataset, 'a__' || c_name AS c_name, c_custkey, c_acctbal "
    "FROM customer WHERE c_nationkey < 12 "
    "UNION ALL SELECT 'b', 'b__' || c_name, c_custkey, c_acctbal "
    "FROM customer WHERE c_nationkey >= 12",
)
def set_merge_cells(spark, sf_dir):
    c = _ds(spark, sf_dir).customer.select("c_name", "c_custkey", "c_acctbal", "c_nationkey")
    a = c.where(F.col("c_nationkey") < 12).drop("c_nationkey")
    b = c.where(F.col("c_nationkey") >= 12).drop("c_nationkey")
    return setops.merge_cell_tables([("a", a), ("b", b)], id_col="c_name").select(
        "dataset", "c_name", "c_custkey", "c_acctbal"
    )


@q(
    "set_merge_feats_dedup",
    "SELECT p_partkey, CASE WHEN p_size <= 25 THEN 'v0' ELSE 'v1' END AS tag FROM part",
)
def set_merge_feats_dedup(spark, sf_dir):
    p = _ds(spark, sf_dir).part
    d0 = p.where(F.col("p_size") <= 25).select(
        F.col("p_partkey").alias("ids"), F.lit("v0").alias("tag")
    )
    d1 = p.where(F.col("p_size") > 10).select(
        F.col("p_partkey").alias("ids"), F.lit("v1").alias("tag")
    )
    return setops.merge_feature_tables([d0, d1], id_col="ids").select(
        F.col("ids").alias("p_partkey"), "tag"
    )


@q(
    "set_disambiguate",
    "SELECT p_partkey, CASE WHEN rn = 1 THEN p_name ELSE p_name || '_' || "
    "CAST(rn - 1 AS VARCHAR) END AS uniq_name FROM "
    "(SELECT p_partkey, p_name, ROW_NUMBER() OVER (PARTITION BY p_name "
    "ORDER BY p_partkey) AS rn FROM part)",
)
def set_disambiguate(spark, sf_dir):
    return setops.disambiguate_names(
        _ds(spark, sf_dir).part, "p_name", "p_partkey"
    ).select("p_partkey", "uniq_name")


@q(
    "set_subtract",
    "SELECT p.* FROM part p WHERE p.p_partkey NOT IN "
    "(SELECT DISTINCT l_partkey FROM lineitem)",
)
def set_subtract(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    used = ds.counts().select(F.col("feat_id").alias("p_partkey"))
    return setops.set_subtract(ds.part, used, "p_partkey")


# ---------------------------------------------------------------------------
# §2.10 marker search (rank stats + Mann-Whitney U + regression)
# ---------------------------------------------------------------------------

_MARKER_SQL = (
    f"WITH {COUNTS_CTE}, "
    "cg AS (SELECT d.cell_id, c.c_mktsegment AS grp "
    "FROM (SELECT DISTINCT cell_id FROM counts) d "
    "JOIN orders o ON d.cell_id = o.o_orderkey "
    "JOIN customer c ON o.o_custkey = c.c_custkey), "
    "sizes AS (SELECT grp, COUNT(*) AS n_g FROM cg GROUP BY grp), "
    "nc AS (SELECT CAST(COUNT(*) AS DOUBLE) AS N FROM cg), "
    "ftot AS (SELECT feat_id, SUM(value) AS tot, COUNT(*) AS nnz FROM counts GROUP BY feat_id), "
    "ranked AS (SELECT cell_id, feat_id, value, "
    "RANK() OVER (PARTITION BY feat_id ORDER BY value) "
    "+ (COUNT(*) OVER (PARTITION BY feat_id, value) - 1) / 2.0 AS r_avg_p, "
    "DENSE_RANK() OVER (PARTITION BY feat_id ORDER BY value) AS r_dense_p FROM counts), "
    "ties AS (SELECT feat_id, SUM(t * t * t - t) AS tie_p FROM "
    "(SELECT feat_id, value, CAST(COUNT(*) AS DOUBLE) AS t FROM counts GROUP BY 1, 2) "
    "GROUP BY feat_id), "
    "g AS (SELECT r.feat_id, cg.grp, SUM(r.value) AS sum_g, COUNT(*) AS nnz_g, "
    "SUM(r.r_avg_p) AS rsum_p_g, SUM(r.r_dense_p) AS dsum_p_g "
    "FROM ranked r JOIN cg ON r.cell_id = cg.cell_id GROUP BY 1, 2), "
    "ft AS (SELECT f.feat_id, s.grp, CAST(s.n_g AS DOUBLE) AS n_g, f.tot, f.nnz, "
    "COALESCE(g.sum_g, 0) AS sum_g, COALESCE(g.nnz_g, 0) AS nnz_g, "
    "COALESCE(g.rsum_p_g, 0) AS rsum_p_g, COALESCE(g.dsum_p_g, 0) AS dsum_p_g "
    "FROM ftot f CROSS JOIN sizes s LEFT JOIN g ON f.feat_id = g.feat_id AND s.grp = g.grp), "
    "calc AS (SELECT ft.*, nc.N, N - nnz AS n0, N - n_g AS n_rest, n_g - nnz_g AS zeros_g, "
    "((n_g - nnz_g) + dsum_p_g + nnz_g) / n_g AS mean_dense_g, "
    "rsum_p_g + nnz_g * (N - nnz) + (n_g - nnz_g) * ((N - nnz) + 1) / 2.0 "
    "- n_g * (n_g + 1) / 2.0 AS u1 FROM ft, nc), "
    "calc2 AS (SELECT c.*, u1 - n_g * n_rest / 2.0 AS diff, "
    "SQRT((n_g * n_rest / 12.0) * ((N + 1) - "
    "(COALESCE(t.tie_p, 0) + (n0 * n0 * n0 - n0)) / (N * (N - 1)))) AS sigma "
    "FROM calc c LEFT JOIN ties t ON c.feat_id = t.feat_id) "
    "SELECT feat_id, grp, "
    "ROUND(mean_dense_g / SUM(mean_dense_g) OVER (PARTITION BY feat_id), 6) AS score, "
    "ROUND(sum_g / n_g, 6) AS mean, "
    "ROUND((tot - sum_g) / n_rest, 6) AS mean_rest, "
    "ROUND(nnz_g / n_g, 6) AS frac_exp, "
    "ROUND((nnz - nnz_g) / n_rest, 6) AS frac_exp_rest, "
    "ROUND(CASE WHEN (tot - sum_g) / n_rest != 0 THEN (sum_g / n_g) / "
    "((tot - sum_g) / n_rest) ELSE 0.0 END, 6) AS fold_change, "
    "ROUND(u1, 6) AS u_stat, "
    "ROUND(CASE WHEN sigma != 0 THEN (diff - CASE WHEN diff > 0 THEN 0.5 "
    "WHEN diff < 0 THEN -0.5 ELSE 0.0 END) / sigma ELSE 0.0 END, 6) AS z "
    "FROM calc2"
)


@q("mark_stats", _MARKER_SQL)
def mark_stats(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    counts = ds.counts()
    cg = (
        counts.select("cell_id").distinct()
        .join(ds.orders, F.col("cell_id") == F.col("o_orderkey"))
        .join(ds.customer, F.col("o_custkey") == F.col("c_custkey"))
        .select("cell_id", F.col("c_mktsegment").alias("grp"))
    )
    return markers.marker_stats(counts, cg, n_cells=_n_cells(ds), group_col="grp")


@q(
    "mark_chi2",
    # chi-squared expressed-vs-group independence per feature: exact
    # integer contingency (absent = group size - present), double
    # statistic, zero-expectation cells contribute 0
    f"WITH {COUNTS_CTE}, {_CG_CTE}, "
    "cc AS (SELECT DISTINCT c.cell_id, cg.grp FROM counts c "
    "JOIN cg ON c.cell_id = cg.cell_id), "
    "gsz AS (SELECT grp, COUNT(*) AS gn FROM cc GROUP BY grp), "
    "nt AS (SELECT COUNT(*) AS n FROM cc), "
    "pos AS (SELECT c.feat_id, cc.grp, COUNT(*) AS op FROM counts c "
    "JOIN cc ON c.cell_id = cc.cell_id WHERE c.value > 0 "
    "GROUP BY 1, 2), "
    "grid AS (SELECT f.feat_id, g.grp, g.gn, COALESCE(p.op, 0) AS op "
    "FROM (SELECT DISTINCT feat_id FROM counts) f CROSS JOIN gsz g "
    "LEFT JOIN pos p ON p.feat_id = f.feat_id AND p.grp = g.grp), "
    "pt AS (SELECT feat_id, SUM(op) AS pt FROM grid GROUP BY feat_id), "
    "j AS (SELECT grid.feat_id, grid.gn, grid.op, pt.pt, nt.n, "
    "pt.pt * grid.gn / CAST(nt.n AS DOUBLE) AS ep, "
    "(nt.n - pt.pt) * grid.gn / CAST(nt.n AS DOUBLE) AS en "
    "FROM grid JOIN pt USING (feat_id) CROSS JOIN nt) "
    "SELECT feat_id, ROUND(SUM("
    "CASE WHEN ep > 0 THEN (op - ep) * (op - ep) / ep ELSE 0.0 END "
    "+ CASE WHEN en > 0 THEN ((gn - op) - en) * ((gn - op) - en) / en "
    "ELSE 0.0 END), 6) AS chi2, "
    "CAST(COUNT(*) - 1 AS BIGINT) AS dof "
    "FROM j GROUP BY feat_id",
)
def mark_chi2(spark, sf_dir):
    """Chi-squared expressed-vs-group independence per feature
    (markers.marker_chi2) — the categorical complement of the
    Mann-Whitney marker stats."""
    ds = _ds(spark, sf_dir)
    return markers.marker_chi2(ds.counts(), _cell_groups(ds))


@q(
    "mark_regression",
    f"WITH {COUNTS_CTE}, "
    "cov AS (SELECT o_orderkey AS cell_id, o_totalprice AS x FROM orders) "
    "SELECT feat_id, n, "
    "ROUND(CASE WHEN VAR_SAMP(x) != 0 THEN COVAR_SAMP(x, value) / VAR_SAMP(x) "
    "ELSE 0.0 END, 6) AS slope, ROUND(COALESCE(CORR(x, value), 0.0), 6) AS r_value "
    "FROM (SELECT c.feat_id, c.value, cov.x, COUNT(*) OVER (PARTITION BY c.feat_id) AS n "
    "FROM counts c JOIN cov ON c.cell_id = cov.cell_id) "
    "GROUP BY feat_id, n HAVING n >= 10",
)
def mark_regression(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    cov = ds.orders.select(F.col("o_orderkey").alias("cell_id"), F.col("o_totalprice").alias("x"))
    return markers.regression_markers(ds.counts(), cov, min_cells=10)


# ---------------------------------------------------------------------------
# §2.10 KNN / ANN + graph consumers
# ---------------------------------------------------------------------------

# Exact cosine KNN as a SQL CTE (k=5, self-hits stripped, deterministic
# tie-break) — the shared fixture for every graph-consumer oracle.
_KNN_CTE = (
    "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
    "nv AS (SELECT vec_id, v, "
    "sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm FROM e), "
    "pairs AS (SELECT a.vec_id AS src, b.vec_id AS dst, "
    "1.0 - list_inner_product(a.v, b.v) / (a.nrm * b.nrm) AS distance "
    "FROM nv a JOIN nv b ON a.vec_id != b.vec_id), "
    "knn AS (SELECT src, rn AS rank, dst, ROUND(distance, 6) AS distance FROM "
    "(SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY distance, dst) AS rn "
    "FROM pairs) WHERE rn <= 5)"
)


_KNN_EDGE_CACHE: dict[tuple, DataFrame] = {}
_EMB_SHAPE_CACHE: dict[str, tuple[int, int]] = {}


def _emb_shape(ds: DataStore) -> tuple[int, int]:
    """(row count, vector width) of the embeddings table — one memoized
    aggregate per sf_dir, so the KNN grid builders can size their
    shard/block grids without per-query probe actions (grid shape is
    timing-only: the sharded scorers re-rank globally)."""
    key = ds.sf_dir
    if key not in _EMB_SHAPE_CACHE:
        r = ds.embeddings.agg(
            F.count("*").alias("n"), F.first(F.size("embedding")).alias("d")
        ).collect()[0]
        # empty table: first() is NULL — fall back to (0, 1) like the
        # limit(1)-probe path this memo replaced (r15 ADVICE)
        _EMB_SHAPE_CACHE[key] = (
            int(r["n"]), int(r["d"]) if r["d"] is not None else 1
        )
    return _EMB_SHAPE_CACHE[key]


def _knn_edges(spark, sf_dir, k: int = 5):
    """Exact-KNN edge table (src, rank, dst, distance[rounded]) — the
    rounded distances make every downstream consumer bit-deterministic
    across engines.

    Persisted and memoized per (session, sf_dir, k): a dozen graph
    consumers all start from this table (and several consume it more
    than once in one plan), exactly like the reference materializes the
    KNN graph once in the Zarr tree and every downstream step loads it
    (``graph_datastore.py:474-511``)."""
    key = (spark.sparkContext.applicationId, sf_dir, k)
    if key not in _KNN_EDGE_CACHE:
        # sharded grid build: no driver-side index collect (the
        # broadcast-index baseline stays available as
        # knn.cosine_knn_exact); result contract is identical —
        # knn_exact_sharded proved hash-equality against the same CTE
        ds = _ds(spark, sf_dir)
        n_rows, dim = _emb_shape(ds)
        _KNN_EDGE_CACHE[key] = knn.cosine_knn_sharded(
            ds.embeddings, k=k, n_shards=8, dim=dim, n_rows_hint=n_rows
        ).persist()
    return _KNN_EDGE_CACHE[key]


@q("knn_exact_topk", f"WITH {_KNN_CTE} SELECT src, rank, dst FROM knn")
def knn_exact_topk(spark, sf_dir):
    return _knn_edges(spark, sf_dir).select("src", "rank", "dst")


@q("knn_exact_dist", f"WITH {_KNN_CTE} SELECT src, rank, dst, distance FROM knn")
def knn_exact_dist(spark, sf_dir):
    return _knn_edges(spark, sf_dir)


@q(
    "knn_exact_sharded",
    f"WITH {_KNN_CTE} SELECT src, rank, dst, distance FROM knn",
)
def knn_exact_sharded(spark, sf_dir):
    """Exact KNN with a hash-sharded index (no driver-side index
    collect): per-shard cogrouped BLAS top-(k+1) + one global window
    re-rank — same result contract as knn_exact_dist, shard-local peak
    memory (``knn.py`` cosine_knn_sharded)."""
    ds = _ds(spark, sf_dir)
    n_rows, dim = _emb_shape(ds)
    return knn.cosine_knn_sharded(
        ds.embeddings, k=5, n_shards=8, dim=dim, n_rows_hint=n_rows
    )


@q(
    "knn_radius",
    # fixed-threshold dual of top-k: all pairs within cosine distance
    # 0.62; rounded-before-compare boundary
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
    "nv AS (SELECT vec_id, v, "
    "sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm FROM e) "
    "SELECT a.vec_id AS src, b.vec_id AS dst, "
    "ROUND(1.0 - list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS distance "
    "FROM nv a JOIN nv b ON a.vec_id != b.vec_id "
    "WHERE ROUND(1.0 - list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) <= 0.62",
)
def knn_radius(spark, sf_dir):
    return knn.cosine_radius(_ds(spark, sf_dir).embeddings, radius=0.62)


@q(
    "agg_cooccur",
    # bounded screen: the self-join runs only over the 500 most
    # prevalent features (the reference screens modules on subsets,
    # scarf/markers.py:323-439), capping pair volume at 500²/cell
    f"WITH {COUNTS_CTE}, "
    "keep AS (SELECT feat_id FROM counts GROUP BY feat_id "
    "ORDER BY COUNT(*) DESC, feat_id LIMIT 500), "
    "c AS (SELECT cell_id, feat_id FROM counts "
    "WHERE feat_id IN (SELECT feat_id FROM keep)) "
    "SELECT a.feat_id AS fa, b.feat_id AS fb, COUNT(*) AS n_cells "
    "FROM c a JOIN c b ON a.cell_id = b.cell_id "
    "AND a.feat_id < b.feat_id "
    "GROUP BY a.feat_id, b.feat_id "
    "ORDER BY n_cells DESC, fa, fb LIMIT 50",
)
def agg_cooccur(spark, sf_dir):
    from scarf_spark.operators import aggregate

    return aggregate.feature_cooccurrence(
        _ds(spark, sf_dir).counts(), top_n=50, max_features=500
    )


@q(
    "agg_cooccur_hvg",
    # variance-ranked subset (the HVG-screen precedent): keep the 200
    # features with the largest integer-exact dense-variance key
    # N·Σv² − (Σv)², then count co-expressing cells per pair
    f"WITH {COUNTS_CTE}, "
    "nc AS (SELECT COUNT(DISTINCT cell_id) AS n FROM counts), "
    "keep AS (SELECT feat_id FROM counts, nc GROUP BY feat_id, nc.n "
    "ORDER BY SUM(CAST(value AS BIGINT) * CAST(value AS BIGINT)) * nc.n "
    "- SUM(CAST(value AS BIGINT)) * SUM(CAST(value AS BIGINT)) DESC, "
    "feat_id LIMIT 200), "
    "c AS (SELECT cell_id, feat_id FROM counts "
    "WHERE feat_id IN (SELECT feat_id FROM keep)) "
    "SELECT a.feat_id AS fa, b.feat_id AS fb, COUNT(*) AS n_cells "
    "FROM c a JOIN c b ON a.cell_id = b.cell_id "
    "AND a.feat_id < b.feat_id "
    "GROUP BY a.feat_id, b.feat_id "
    "ORDER BY n_cells DESC, fa, fb LIMIT 50",
)
def agg_cooccur_hvg(spark, sf_dir):
    from scarf_spark.operators import aggregate

    return aggregate.feature_cooccurrence(
        _ds(spark, sf_dir).counts(),
        top_n=50,
        max_features=200,
        rank_by="variance",
    )


_PLANE_CTE = (
    "plane AS (SELECT tb.t, hh.h, ii.i, "
    "('0x' || substr(md5('p_' || tb.t || '_' || hh.h || '_' || ii.i), 1, 15))::BIGINT "
    "/ 1152921504606846976.0 - 0.5 AS comp "
    "FROM generate_series(0, 3) tb(t), generate_series(0, 3) hh(h), "
    "generate_series(0, 63) ii(i)), "
    "sigdots AS (SELECT e.vec_id, p.t, p.h, SUM(e.v[p.i + 1] * p.comp) AS dot "
    "FROM e, plane p GROUP BY 1, 2, 3), "
    "sigs AS (SELECT vec_id, t, string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' "
    "ORDER BY h) AS sig FROM sigdots GROUP BY 1, 2)"
)


@q(
    "knn_lsh_topk",
    f"WITH {_KNN_CTE.split(', knn AS')[0]}, {_PLANE_CTE}, "
    "cand AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst FROM sigs a JOIN sigs b "
    "ON a.t = b.t AND a.sig = b.sig AND a.vec_id != b.vec_id) "
    "SELECT src, rn AS rank, dst FROM "
    "(SELECT c.src, c.dst, ROW_NUMBER() OVER (PARTITION BY c.src "
    "ORDER BY 1.0 - list_inner_product(x.v, y.v) / (x.nrm * y.nrm), c.dst) AS rn "
    "FROM cand c JOIN nv x ON c.src = x.vec_id JOIN nv y ON c.dst = y.vec_id) "
    "WHERE rn <= 5",
)
def knn_lsh_topk(spark, sf_dir):
    return knn.cosine_knn_lsh(
        _ds(spark, sf_dir).embeddings, k=5, n_tables=4, n_planes=4
    ).select("src", "rank", "dst")


@q(
    "knn_lsh_recall",
    # recall of the LSH candidate top-k vs the exact top-k — both sets
    # SQL-expressible, so the metric itself is oracle-verified
    f"WITH {_KNN_CTE}, {_PLANE_CTE}, "
    "cand AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst FROM sigs a JOIN sigs b "
    "ON a.t = b.t AND a.sig = b.sig AND a.vec_id != b.vec_id), "
    "approx AS (SELECT src, dst FROM "
    "(SELECT c.src, c.dst, ROW_NUMBER() OVER (PARTITION BY c.src "
    "ORDER BY 1.0 - list_inner_product(x.v, y.v) / (x.nrm * y.nrm), c.dst) AS rn "
    "FROM cand c JOIN nv x ON c.src = x.vec_id JOIN nv y ON c.dst = y.vec_id) "
    "WHERE rn <= 5), "
    "hit AS (SELECT COUNT(*) AS n_hit FROM knn k "
    "JOIN approx a ON k.src = a.src AND k.dst = a.dst), "
    "tot AS (SELECT COUNT(*) AS n_exact FROM knn) "
    "SELECT CAST(n_hit AS BIGINT) AS n_hit, CAST(n_exact AS BIGINT) AS n_exact, "
    "ROUND(n_hit / CAST(n_exact AS DOUBLE), 6) AS recall FROM hit, tot",
)
def knn_lsh_recall(spark, sf_dir):
    emb = _ds(spark, sf_dir).embeddings
    exact = _knn_edges(spark, sf_dir)  # memoized
    approx = knn.cosine_knn_lsh(emb, k=5, n_tables=4, n_planes=4)
    return knn.knn_recall(approx, exact)


_LBL_CTE = "lbl AS (SELECT vec_id AS dst, label FROM embeddings)"


@q(
    "graph_membership",
    f"WITH {_KNN_CTE}, {_LBL_CTE}, "
    "votes AS (SELECT k.src, l.label, COUNT(*) AS n FROM knn k "
    "JOIN lbl l ON k.dst = l.dst GROUP BY 1, 2) "
    "SELECT src, label AS modal_label, ROUND(n / 5.0, 6) AS strength FROM "
    "(SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY n DESC, label) AS rn "
    "FROM votes) WHERE rn = 1",
)
def graph_membership(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    edges = _knn_edges(spark, sf_dir)
    labels = ds.embeddings.select(F.col("vec_id").alias("cell_id"), "label")
    return graph.membership_strength(edges, labels, k=5)


_MAGIC_OP_CTE = (
    "wts AS (SELECT src, dst, 1.0 / (1.0 + distance) AS w FROM knn), "
    "op AS (SELECT src, dst, w / SUM(w) OVER (PARTITION BY src) AS w_norm FROM wts), "
    "vals AS (SELECT vec_id AS dst, CAST(label AS DOUBLE) AS value FROM embeddings)"
)


@q(
    "graph_magic_t1",
    f"WITH {_KNN_CTE}, {_MAGIC_OP_CTE} "
    "SELECT op.src, ROUND(SUM(op.w_norm * vals.value), 6) AS imputed "
    "FROM op JOIN vals ON op.dst = vals.dst GROUP BY op.src",
)
def graph_magic_t1(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    edges = _knn_edges(spark, sf_dir).withColumn("weight", 1.0 / (1.0 + F.col("distance")))
    vals = ds.embeddings.select(
        F.col("vec_id").alias("cell_id"), F.col("label").cast("double").alias("value")
    )
    return graph.magic_impute(edges, vals, t=1)


@q(
    "graph_magic_t2",
    f"WITH {_KNN_CTE}, {_MAGIC_OP_CTE}, "
    "op2 AS (SELECT a.src, b.dst, SUM(a.w_norm * b.w_norm) AS w_norm "
    "FROM op a JOIN op b ON a.dst = b.src GROUP BY 1, 2) "
    "SELECT op2.src, ROUND(SUM(op2.w_norm * vals.value), 6) AS imputed "
    "FROM op2 JOIN vals ON op2.dst = vals.dst GROUP BY op2.src",
)
def graph_magic_t2(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    edges = _knn_edges(spark, sf_dir).withColumn("weight", 1.0 / (1.0 + F.col("distance")))
    vals = ds.embeddings.select(
        F.col("vec_id").alias("cell_id"), F.col("label").cast("double").alias("value")
    )
    return graph.magic_impute(edges, vals, t=2)


@q(
    "graph_snn",
    f"WITH {_KNN_CTE} "
    "SELECT a.src AS a, b.src AS b, COUNT(*) AS shared FROM knn a JOIN knn b "
    "ON a.dst = b.dst AND a.src != b.src GROUP BY 1, 2",
)
def graph_snn(spark, sf_dir):
    return graph.snn_shared_neighbors(_knn_edges(spark, sf_dir))


@q(
    "graph_snn_rerank",
    f"WITH {_KNN_CTE}, "
    "sh AS (SELECT a.src AS a, b.src AS b, COUNT(*) AS shared FROM knn a JOIN knn b "
    "ON a.dst = b.dst AND a.src != b.src GROUP BY 1, 2) "
    "SELECT src, dst, new_rank FROM (SELECT k.src, k.dst, "
    "ROW_NUMBER() OVER (PARTITION BY k.src ORDER BY COALESCE(sh.shared, 0) DESC, "
    "k.distance, k.dst) AS new_rank FROM knn k LEFT JOIN sh "
    "ON k.src = sh.a AND k.dst = sh.b) WHERE new_rank <= 3",
)
def graph_snn_rerank(spark, sf_dir):
    return graph.snn_rerank(_knn_edges(spark, sf_dir), k=3).select("src", "dst", "new_rank")


@q(
    "graph_mapping_score",
    f"WITH {_KNN_CTE}, "
    "np AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM knn) "
    "SELECT dst AS ref_cell_id, "
    "ROUND(LN(1 + SUM(1.0 / (LN(1 + distance) + 1.0)) * 1000.0 / ANY_VALUE(np.n)), 6) "
    "AS score FROM knn, np GROUP BY dst",
)
def graph_mapping_score(spark, sf_dir):
    proj = _knn_edges(spark, sf_dir).select(
        F.col("src").alias("target_cell_id"), "rank",
        F.col("dst").alias("ref_cell_id"), "distance",
    )
    return graph.mapping_score(proj, scale=1000.0)


@q(
    "graph_target_class",
    f"WITH {_KNN_CTE}, {_LBL_CTE}, "
    "wts AS (SELECT k.src AS target_cell_id, l.label, 1.0 / (1.0 + k.distance) AS w "
    "FROM knn k JOIN lbl l ON k.dst = l.dst), "
    "pl AS (SELECT target_cell_id, label, SUM(w) AS lw FROM wts GROUP BY 1, 2), "
    "tt AS (SELECT target_cell_id, SUM(w) AS tw FROM wts GROUP BY 1) "
    "SELECT target_cell_id, CASE WHEN share > 0.5 THEN CAST(label AS VARCHAR) "
    "ELSE 'NA' END AS pred_label, ROUND(share, 6) AS share FROM "
    "(SELECT pl.target_cell_id, pl.label, pl.lw / tt.tw AS share, "
    "ROW_NUMBER() OVER (PARTITION BY pl.target_cell_id ORDER BY pl.lw / tt.tw DESC, "
    "pl.label) AS rn FROM pl JOIN tt ON pl.target_cell_id = tt.target_cell_id) "
    "WHERE rn = 1",
)
def graph_target_class(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    proj = _knn_edges(spark, sf_dir).select(
        F.col("src").alias("target_cell_id"), "rank",
        F.col("dst").alias("ref_cell_id"), "distance",
    )
    labels = ds.embeddings.select(F.col("vec_id").alias("cell_id"), "label")
    return graph.target_classification(proj, labels, threshold=0.5)


# ---------------------------------------------------------------------------
# training-data pipeline: deduplication
# ---------------------------------------------------------------------------

@q(
    "dedup_exact",
    "WITH h AS (SELECT doc_id, md5(text) AS h FROM documents) "
    "SELECT doc_id, MIN(doc_id) OVER (PARTITION BY h) AS canonical_id, "
    "COUNT(*) OVER (PARTITION BY h) AS group_size, "
    "doc_id = MIN(doc_id) OVER (PARTITION BY h) AS keep FROM h",
)
def dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_ds(spark, sf_dir).documents)


_SHINGLE_CTE = (
    "w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), "
    "sh AS (SELECT DISTINCT doc_id, unnest(list_transform("
    "range(0, greatest(len(ws) - 2, 0)), "
    "i -> ws[i + 1] || ' ' || ws[i + 2] || ' ' || ws[i + 3])) AS shingle FROM w)"
)

_MINHASH_CTE = (
    f"{_SHINGLE_CTE}, "
    # numeric 60-bit minhash (primitive agg state engine-side); bands
    # hash the '_'-joined decimal renderings in seed order
    "sg AS (SELECT doc_id, t.seed, "
    "MIN(('0x' || substr(md5(t.seed || '_' || shingle), 1, 15))::BIGINT) AS mh "
    "FROM sh, generate_series(0, 7) t(seed) GROUP BY 1, 2), "
    "bk AS (SELECT doc_id, seed // 2 AS band, "
    "md5(string_agg(CAST(mh AS VARCHAR), '_' ORDER BY seed)) AS bucket "
    "FROM sg GROUP BY 1, 2)"
)


@q(
    "dedup_minhash_bands",
    f"WITH {_MINHASH_CTE} "
    "SELECT DISTINCT a.doc_id AS a, b.doc_id AS b FROM bk a JOIN bk b "
    "ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id",
)
def dedup_minhash_bands(spark, sf_dir):
    return _dedup_candidates(spark, sf_dir)


@q(
    "dedup_components",
    # near-duplicate clusters + canonical keep-list. The engine runs
    # EXACT components (O(log n) star contraction), so the oracle is a
    # fixpoint too: a recursive reachability CTE whose UNION-distinct
    # terminates at the closure — exact at ANY component depth, unlike
    # the former fixed-3-round min-label unroll, which silently
    # presumed every LSH component's min-label radius <= 3 (true at
    # tested SFs, unproven at new ones). Closure row count is
    # sum(component_size^2) — LSH near-dup components are band-bucket
    # near-cliques, so this stays tiny.
    f"WITH RECURSIVE {_MINHASH_CTE}, "
    "prs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b FROM bk a JOIN bk b "
    "ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id), "
    "und AS MATERIALIZED (SELECT a AS src, b AS dst FROM prs "
    "UNION ALL SELECT b, a FROM prs), "
    "reach(node, lbl) AS ("
    "SELECT doc_id, doc_id FROM documents "
    "UNION "
    "SELECT u.src, r.lbl FROM reach r JOIN und u ON u.dst = r.node) "
    "SELECT node AS doc_id, MIN(lbl) AS cluster, "
    "node = MIN(lbl) AS keep FROM reach GROUP BY node",
)
def dedup_components(spark, sf_dir):
    docs = _ds(spark, sf_dir).documents
    ch = _dedup_chain(spark, sf_dir)
    # engine: O(log n) star contraction over the STAR-expanded edge
    # set (rep-level candidates + member→rep edges: same connectivity
    # as the full member clique, O(class) rows) — exact components;
    # oracle: recursive-closure fixpoint — also exact, so engine/
    # oracle equivalence depends on no radius or expansion assumption
    edges = dedup.star_expand_edges(
        ch["rep_pairs"], ch["classes"], ch["sig_reps"]
    )
    return dedup.star_components(edges, docs)


_DEDUP_CACHE: dict[tuple, DataFrame] = {}
# The bench stream runs 4 query threads; an unlocked check-then-set
# would let two consumers miss concurrently and build + persist the
# same candidate pipeline twice (wasted work + a leaked persisted
# table). Double-checked under one lock, shared by all three memo
# levels so the whole prefix builds exactly once.
_DEDUP_LOCK = threading.Lock()


def _dedup_chain(spark, sf_dir):
    """The COLLAPSED LSH chain pieces (round 13) at the
    corpus-standard parameters (3-word shingles, 8 hashes × 4 bands) —
    the shared detect prefix of ``dedup_minhash_bands``,
    ``dedup_components``, ``dedup_ngram_jaccard``,
    ``text_minhash_cluster`` and ``dedup_keep_best``, built once per
    (session, sf_dir), the ``_knn_edges`` convention. Identical docs
    collapse to one representative per md5(text) class BEFORE
    shingling (dedup.lsh_collapse_chain): the 10M scale smoke proved
    LSH candidates grow with the SQUARE of identical-class size, and
    boilerplate/templated docs make such classes at 100 TB. Only
    representatives tokenize, minhash, bucket-join, and
    Jaccard-verify; members re-expand afterwards (pair view for the
    pair-set oracles, O(class) star edges for the component views).
    Persisted pieces: the class map, the raw rep shingle table (feeds
    the minhash MIN-agg directly — MIN is duplicate-insensitive — and
    is distinct-ed only inside the set-semantics Jaccard verify), and
    the rep-level candidate pairs."""
    key = (spark.sparkContext.applicationId, sf_dir, "chain")
    if key not in _DEDUP_CACHE:
        with _DEDUP_LOCK:
            if key not in _DEDUP_CACHE:
                docs = _ds(spark, sf_dir).documents
                classes = dedup.identical_classes(docs).persist()
                ch = dedup.lsh_collapse_chain(
                    docs, n=3, n_hashes=8, n_bands=4, classes=classes
                )
                ch["rep_shingles"] = ch["rep_shingles"].persist()
                ch["rep_pairs"] = ch["rep_pairs"].persist()
                _DEDUP_CACHE[key] = ch
    return _DEDUP_CACHE[key]


def _dedup_candidates(spark, sf_dir):
    """Member-level LSH candidate pairs (a, b) — the collapsed chain
    re-expanded (dedup.expand_candidate_pairs), bit-identical to the
    uncollapsed bucket self-join; feeds the pair-set oracles."""
    key = (spark.sparkContext.applicationId, sf_dir, "cand")
    if key not in _DEDUP_CACHE:
        ch = _dedup_chain(spark, sf_dir)
        with _DEDUP_LOCK:
            if key not in _DEDUP_CACHE:
                _DEDUP_CACHE[key] = dedup.expand_candidate_pairs(
                    ch["rep_pairs"], ch["classes"], ch["sig_reps"]
                ).persist()
    return _DEDUP_CACHE[key]


def _dedup_rep_jac(spark, sf_dir):
    """Rep-level df-capped Jaccard over the collapsed candidates —
    returns the memoized (rep_jac, capped_sizes) pair from
    dedup.collapsed_rep_jaccard (df weighted by class size, so capping
    is member-exact). The shared verify stage of the scored and
    clustered views below."""
    key = (spark.sparkContext.applicationId, sf_dir, "repjac")
    if key not in _DEDUP_CACHE:
        ch = _dedup_chain(spark, sf_dir)
        with _DEDUP_LOCK:
            if key not in _DEDUP_CACHE:
                rep_jac, capped = dedup.collapsed_rep_jaccard(ch, df_cap=100)
                _DEDUP_CACHE[key] = (rep_jac.persist(), capped.persist())
    return _DEDUP_CACHE[key]


def _dedup_jac(spark, sf_dir):
    """Member-level df-capped Jaccard over the LSH candidates (a, b,
    jaccard ROUND(6)) — rep-level scores expanded
    (dedup.expand_pair_scores): inter-class member pairs inherit the
    class pair's score, intra-class pairs of capped-nonempty classes
    score exactly 1.0."""
    key = (spark.sparkContext.applicationId, sf_dir, "jac")
    if key not in _DEDUP_CACHE:
        rep_jac, capped = _dedup_rep_jac(spark, sf_dir)
        ch = _dedup_chain(spark, sf_dir)
        with _DEDUP_LOCK:
            if key not in _DEDUP_CACHE:
                _DEDUP_CACHE[key] = dedup.expand_pair_scores(
                    rep_jac, ch["classes"], capped
                ).persist()
    return _DEDUP_CACHE[key]


def _verified_dedup_comp(spark, sf_dir):
    """Jaccard-VERIFIED near-dup components (doc_id, cluster, keep) —
    the shared detect → verify → cluster prefix of
    ``text_minhash_cluster`` and ``dedup_keep_best``. Round 13: exact
    components over the STAR-expanded verified edges (rep-level
    verified pairs + one member→rep edge per exact-dup member —
    identical connectivity to the full member-level clique, O(class)
    edges instead of O(class²)), labeled by the O(log n) star
    contraction. Exact at any component depth, so the oracle is the
    recursive-closure fixpoint (the dedup_components convention) —
    no min-label round-budget assumption on either side."""
    key = (spark.sparkContext.applicationId, sf_dir, "comp")
    if key not in _DEDUP_CACHE:
        rep_jac, capped = _dedup_rep_jac(spark, sf_dir)
        ch = _dedup_chain(spark, sf_dir)
        with _DEDUP_LOCK:
            if key not in _DEDUP_CACHE:
                ve_rep = rep_jac.where(F.col("jaccard") >= 0.5).select(
                    F.col("ra").alias("a"), F.col("rb").alias("b")
                )
                edges = dedup.star_expand_edges(
                    ve_rep, ch["classes"], capped.select("rep")
                )
                _DEDUP_CACHE[key] = dedup.star_components(
                    edges, _ds(spark, sf_dir).documents
                ).persist()
    return _DEDUP_CACHE[key]


@q(
    "text_minhash_cluster",
    # the full production near-dup clustering pipeline end-to-end:
    # LSH candidates → df-capped exact-Jaccard verify → threshold →
    # exact components → cluster sizes + canonical keep flag
    # (dedup_components clusters UNverified candidates; this clusters
    # only pairs that survive jaccard >= 0.5). The component stage is
    # the recursive-closure fixpoint (the dedup_components convention,
    # round 13) — exact at any depth, matching the engine's exact star
    # contraction with no min-label round-budget assumption
    f"WITH RECURSIVE {_MINHASH_CTE}, "
    "prs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b FROM bk a JOIN bk b "
    "ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id), "
    "shc AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100), "
    "shf AS MATERIALIZED (SELECT sh.doc_id, sh.shingle FROM sh "
    "JOIN shc ON sh.shingle = shc.shingle), "
    "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shf GROUP BY doc_id), "
    "inter AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i "
    "FROM shf x JOIN shf y ON x.shingle = y.shingle AND x.doc_id < y.doc_id "
    "JOIN prs ON prs.a = x.doc_id AND prs.b = y.doc_id "
    "GROUP BY 1, 2), "
    "ve AS MATERIALIZED (SELECT inter.a, inter.b FROM inter "
    "JOIN sizes sa ON inter.a = sa.doc_id "
    "JOIN sizes sb ON inter.b = sb.doc_id "
    "WHERE ROUND(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 6) >= 0.5), "
    "und AS MATERIALIZED (SELECT a AS src, b AS dst FROM ve "
    "UNION ALL SELECT b, a FROM ve), "
    "reach(node, lbl) AS ("
    "SELECT doc_id, doc_id FROM documents "
    "UNION "
    "SELECT u.src, r.lbl FROM reach r JOIN und u ON u.dst = r.node), "
    "lab AS (SELECT node AS doc_id, MIN(lbl) AS cluster, "
    "node = MIN(lbl) AS keep FROM reach GROUP BY node), "
    "cs AS (SELECT cluster, COUNT(*) AS n_members FROM lab GROUP BY 1) "
    "SELECT lab.doc_id, lab.cluster, cs.n_members, lab.keep "
    "FROM lab JOIN cs ON lab.cluster = cs.cluster",
)
def text_minhash_cluster(spark, sf_dir):
    """Verified near-dup clustering: identical-class collapse →
    rep-level LSH candidates → rep-level df-capped Jaccard (threshold
    0.5 on the ROUND(6) score, so the cut replays across engines) →
    exact star-contraction components over the star-expanded verified
    edges → member sizes. Only DISTINCT texts tokenize, minhash,
    bucket-join and verify; exact-dup members re-join as O(class)
    star edges (dedup.lsh_collapse_chain, round 13)."""
    comp = _verified_dedup_comp(spark, sf_dir)
    sizes = comp.groupBy("cluster").agg(F.count("*").alias("n_members"))
    return comp.join(sizes, "cluster").select(
        "doc_id", "cluster", "n_members", "keep"
    )


@q(
    "dedup_keep_best",
    # detect -> cluster -> SELECT: same verified near-dup clusters as
    # text_minhash_cluster (same exact recursive-closure components),
    # but the survivor is the best-QUALITY member (longest doc, doc_id
    # tie-break — integer argmax, exact) rather than the smallest id
    f"WITH RECURSIVE {_MINHASH_CTE}, "
    "prs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b FROM bk a JOIN bk b "
    "ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id), "
    "shc AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100), "
    "shf AS MATERIALIZED (SELECT sh.doc_id, sh.shingle FROM sh "
    "JOIN shc ON sh.shingle = shc.shingle), "
    "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shf GROUP BY doc_id), "
    "inter AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i "
    "FROM shf x JOIN shf y ON x.shingle = y.shingle AND x.doc_id < y.doc_id "
    "JOIN prs ON prs.a = x.doc_id AND prs.b = y.doc_id "
    "GROUP BY 1, 2), "
    "ve AS MATERIALIZED (SELECT inter.a, inter.b FROM inter "
    "JOIN sizes sa ON inter.a = sa.doc_id "
    "JOIN sizes sb ON inter.b = sb.doc_id "
    "WHERE ROUND(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 6) >= 0.5), "
    "und AS MATERIALIZED (SELECT a AS src, b AS dst FROM ve "
    "UNION ALL SELECT b, a FROM ve), "
    "reach(node, lbl) AS ("
    "SELECT doc_id, doc_id FROM documents "
    "UNION "
    "SELECT u.src, r.lbl FROM reach r JOIN und u ON u.dst = r.node), "
    "lab AS (SELECT node AS doc_id, MIN(lbl) AS cluster "
    "FROM reach GROUP BY node), "
    "qj AS (SELECT lab.cluster, lab.doc_id, d.n_chars, "
    "ROW_NUMBER() OVER (PARTITION BY lab.cluster "
    "ORDER BY d.n_chars DESC, lab.doc_id) AS rn, "
    "COUNT(*) OVER (PARTITION BY lab.cluster) AS n_members "
    "FROM lab JOIN documents d ON lab.doc_id = d.doc_id) "
    "SELECT cluster, CAST(n_members AS BIGINT) AS n_members, "
    "doc_id AS kept_doc_id, n_chars AS kept_n_chars "
    "FROM qj WHERE rn = 1",
)
def dedup_keep_best(spark, sf_dir):
    """Quality-aware near-dup survivor selection: the
    text_minhash_cluster pipeline with the keep rule flipped from
    smallest-id to best-quality member (longest doc, integer argmax) —
    the detect → cluster → select close of the dedup story."""
    docs = _ds(spark, sf_dir).documents
    comp = _verified_dedup_comp(spark, sf_dir)
    j = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("cluster").orderBy(F.desc("n_chars"), "doc_id")
    wc = Window.partitionBy("cluster")
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(wc).cast("long"))
        .where(F.col("_rn") == 1)
        .select(
            "cluster",
            "n_members",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("n_chars").alias("kept_n_chars"),
        )
    )


@q(
    "dedup_semantic_decon",
    # embedding-space decontamination: corpus items (vec_id % 20 != 0)
    # within cosine 0.62 of any benchmark item (% 20 = 0), reporting
    # the closest hit; rounded-before-compare + rounded argmin with
    # bench-id tie-break so the boundary and the winner both replay
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
    "nv AS (SELECT vec_id, v, "
    "sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm FROM e), "
    "bench AS (SELECT vec_id, v, nrm FROM nv WHERE vec_id % 20 = 0), "
    "corp AS (SELECT vec_id, v, nrm FROM nv WHERE vec_id % 20 != 0), "
    "hits AS (SELECT c.vec_id, b.vec_id AS bench_id, "
    "ROUND(1.0 - list_inner_product(c.v, b.v) / (c.nrm * b.nrm), 6) AS distance "
    "FROM corp c JOIN bench b ON "
    "ROUND(1.0 - list_inner_product(c.v, b.v) / (c.nrm * b.nrm), 6) <= 0.62) "
    "SELECT vec_id, bench_id, distance FROM (SELECT *, ROW_NUMBER() OVER "
    "(PARTITION BY vec_id ORDER BY distance, bench_id) AS rn FROM hits) "
    "WHERE rn = 1",
)
def dedup_semantic_decon(spark, sf_dir):
    """Paraphrase-leakage screen: corpus embeddings against the
    broadcast benchmark set (knn.semantic_decontaminate) — the
    embedding-space complement of the 8-gram dedup_decontaminate."""
    emb = _ds(spark, sf_dir).embeddings
    bench = emb.where(F.col("vec_id") % 20 == 0)
    corpus = emb.where(F.col("vec_id") % 20 != 0)
    return knn.semantic_decontaminate(corpus, bench, radius=0.62)


@q(
    "dedup_incremental",
    # incremental dedup parity: probing the stored bucket table with
    # ONLY the new batch's buckets must yield exactly the full
    # recompute's candidate pairs restricted to pairs involving a new
    # doc (doc_id % 10 = 0 plays the "new batch")
    f"WITH {_MINHASH_CTE}, "
    "prs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b FROM bk a JOIN bk b "
    "ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id) "
    "SELECT a, b FROM prs WHERE a % 10 = 0 OR b % 10 = 0",
)
def dedup_incremental(spark, sf_dir):
    """Maintenance-shape dedup: the historical corpus contributes only
    its persisted (doc_id, band, bucket) table; the new batch is the
    only thing tokenized and minhashed (dedup.incremental_minhash_
    candidates). At 100 TB this is the difference between an O(batch)
    nightly job and an O(corpus) recompute."""
    docs = _ds(spark, sf_dir).documents
    new = docs.where(F.col("doc_id") % 10 == 0)
    old = docs.where(F.col("doc_id") % 10 != 0)
    # in production the stored buckets are read from the warehouse;
    # here they are derived once from the "old" half
    sh_old = dedup.word_shingles(old, 3, distinct=False)
    stored = dedup.lsh_band_buckets_wide(
        dedup.minhash_signatures_wide(sh_old, 8), 8, 4
    )
    pairs, _new_buckets = dedup.incremental_minhash_candidates(
        new, stored, n=3, n_hashes=8, n_bands=4
    )
    return pairs


@q(
    "dedup_ngram_jaccard",
    # scale-true form (VERDICT r5): exact Jaccard ONLY over the LSH
    # candidate pairs, with a document-frequency cap on shingles before
    # the self-join — a stop-word shingle shared by 10⁶ docs would be a
    # 10¹² pair blow-up otherwise.  Sizes use the capped vocabulary.
    f"WITH {_MINHASH_CTE}, "
    "prs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b FROM bk a JOIN bk b "
    "ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id), "
    "shc AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100), "
    "shf AS MATERIALIZED (SELECT sh.doc_id, sh.shingle FROM sh "
    "JOIN shc ON sh.shingle = shc.shingle), "
    "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shf GROUP BY doc_id), "
    "inter AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i "
    "FROM shf x JOIN shf y ON x.shingle = y.shingle AND x.doc_id < y.doc_id "
    "JOIN prs ON prs.a = x.doc_id AND prs.b = y.doc_id "
    "GROUP BY 1, 2) "
    "SELECT inter.a, inter.b, "
    "ROUND(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 6) AS jaccard "
    "FROM inter JOIN sizes sa ON inter.a = sa.doc_id "
    "JOIN sizes sb ON inter.b = sb.doc_id",
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Candidate-bounded exact verification: minhash_candidate_pairs →
    ngram_jaccard(pairs, df_cap) — the pair semi-join lands below the
    pair aggregate and hyper-frequent shingles never enter the
    self-join (``dedup.py`` ngram_jaccard)."""
    return _dedup_jac(spark, sf_dir)


@q(
    "dedup_jaccard_all",
    # exhaustive scoring of every intersecting pair — the small-corpus
    # / audit form (the graded scale path is dedup_ngram_jaccard above)
    f"WITH {_SHINGLE_CTE}, "
    "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id), "
    "inter AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i "
    "FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id "
    "GROUP BY 1, 2) "
    "SELECT inter.a, inter.b, "
    "ROUND(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 6) AS jaccard "
    "FROM inter JOIN sizes sa ON inter.a = sa.doc_id "
    "JOIN sizes sb ON inter.b = sb.doc_id",
)
def dedup_jaccard_all(spark, sf_dir):
    return dedup.ngram_jaccard(_ds(spark, sf_dir).documents, pairs=None, n=3)


@q(
    "dedup_lsh_recall",
    # recall of the MinHash band join vs exact-Jaccard ground truth at
    # 0.5 — the dedup twin of the ANN recall gauges. The AUDIT runs on
    # a seedless md5 40% doc sample (the hash_split draw), so the
    # quadratic truth side costs (0.4)² of the corpus at ANY scale;
    # both sides see the same subset → unbiased recall estimate.
    "WITH sdocs AS (SELECT doc_id, text FROM documents "
    "WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT "
    "% 100 < 40), "
    "w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM sdocs), "
    "sh AS (SELECT DISTINCT doc_id, unnest(list_transform("
    "range(0, greatest(len(ws) - 2, 0)), "
    "i -> ws[i + 1] || ' ' || ws[i + 2] || ' ' || ws[i + 3])) AS shingle FROM w), "
    "sg AS (SELECT doc_id, t.seed, "
    "MIN(('0x' || substr(md5(t.seed || '_' || shingle), 1, 15))::BIGINT) AS mh "
    "FROM sh, generate_series(0, 7) t(seed) GROUP BY 1, 2), "
    "bk AS (SELECT doc_id, seed // 2 AS band, "
    "md5(string_agg(CAST(mh AS VARCHAR), '_' ORDER BY seed)) AS bucket "
    "FROM sg GROUP BY 1, 2), "
    "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id), "
    "inter AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i "
    "FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id "
    "GROUP BY 1, 2), "
    "truth AS (SELECT inter.a, inter.b FROM inter "
    "JOIN sizes sa ON inter.a = sa.doc_id "
    "JOIN sizes sb ON inter.b = sb.doc_id "
    "WHERE ROUND(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 6) * 1000000 "
    ">= 500000), "
    "cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b FROM bk a "
    "JOIN bk b ON a.band = b.band AND a.bucket = b.bucket "
    "AND a.doc_id < b.doc_id), "
    "hit AS (SELECT COUNT(*) AS n_hit FROM truth WHERE EXISTS "
    "(SELECT 1 FROM cand WHERE cand.a = truth.a AND cand.b = truth.b)), "
    "nt AS (SELECT COUNT(*) AS n_true FROM truth) "
    "SELECT n_true, n_hit, CASE WHEN n_true > 0 THEN "
    "ROUND(n_hit / CAST(n_true AS DOUBLE), 6) END AS recall FROM nt, hit",
)
def dedup_lsh_recall(spark, sf_dir):
    """MinHash-LSH candidate recall vs exact Jaccard ≥ 0.5
    (dedup.lsh_recall) — the (n_hashes, n_bands) sizing gauge, audited
    on a seedless md5 40% doc sample (constant-cost at any corpus)."""
    return dedup.lsh_recall(
        _ds(spark, sf_dir).documents, threshold_ppm=500000,
        n=3, n_hashes=8, n_bands=4, sample_pct=40,
    )


@q(
    "dedup_simhash",
    "WITH words AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), "
    "x -> x != '')) AS w FROM documents), "
    "hashed AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM words), "
    "bits AS (SELECT doc_id, "
    + ", ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(16)
    )
    + " FROM hashed GROUP BY doc_id) "
    "SELECT doc_id, CAST("
    + " + ".join(f"CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(16))
    + " AS BIGINT) AS simhash FROM bits",
)
def dedup_simhash(spark, sf_dir):
    return dedup.simhash(_ds(spark, sf_dir).documents, n_bits=16)


@q(
    "dedup_embedding",
    f"WITH {_KNN_CTE} "
    "SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b, MIN(distance) AS distance "
    "FROM knn WHERE distance <= 0.7 GROUP BY 1, 2",
)
def dedup_embedding(spark, sf_dir):
    return dedup.embedding_near_dups(_knn_edges(spark, sf_dir), max_distance=0.7)


# ---------------------------------------------------------------------------
# training-data pipeline: text analysis
# ---------------------------------------------------------------------------

_WORDS_CTE = (
    "w AS (SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x != '') AS ws "
    "FROM documents)"
)

# BPE-ish pretokenizer (GPT-2-style word/number/punct-run splits,
# ASCII-restricted so the regex is portable between Java and RE2)
_BPE_PAT = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"


@q(
    "text_bpe_tokens",
    f"SELECT doc_id, len(regexp_extract_all(text, '{_BPE_PAT}')) AS n_bpe_tokens, "
    "len(list_distinct(regexp_extract_all(text, "
    f"'{_BPE_PAT}'))) AS n_unique_tokens FROM documents",
)
def text_bpe_tokens(spark, sf_dir):
    return text.bpe_token_counts(_ds(spark, sf_dir).documents, pattern=_BPE_PAT)


@q(
    "text_token_stats",
    f"WITH {_WORDS_CTE} "
    "SELECT doc_id, len(ws) AS n_tokens, "
    "len(regexp_extract_all(text, '[a-zA-Z]+')) AS n_alpha_tokens, "
    "length(text) AS n_chars_computed FROM w",
)
def text_token_stats(spark, sf_dir):
    return text.token_stats(_ds(spark, sf_dir).documents)


_EN_SW = "['the', 'a', 'of', 'and', 'to', 'in', 'is', 'it', 'that', 'for']"


# Exact-integer quality CTE (round 12): every ratio here is a
# small-denominator rational, so ROUND(float, 6) outputs routinely sat
# exactly on a half-boundary and engine float noise flipped the last
# digit (caught by the sf0.1 sweep: 1 row in 5000). Integer
# cross-multiplication + integer division is bit-equal in any engine.
# Expects the `w` CTE (doc_id, text, ws) in scope.
_QINT_CTE = (
    "qf AS (SELECT doc_id, len(ws) AS nt, greatest(len(ws), 1) AS ntp, "
    "COALESCE(CAST(list_aggregate(list_transform(ws, x -> length(x)), 'sum') "
    "AS BIGINT), 0) AS sl, "
    f"CAST(len(list_filter(ws, x -> list_contains({_EN_SW}, lower(x)))) "
    "AS BIGINT) AS sw, "
    "CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS al, "
    "greatest(CAST(length(text) AS BIGINT), 1) AS ltp FROM w), "
    "q AS (SELECT doc_id, nt, "
    "(1000000 * sl) // ntp AS mean_token_len_ppm, "
    "(1000000 * sw) // ntp AS stopword_ratio_ppm, "
    "(1000000 * al) // ltp AS alpha_ratio_ppm, "
    "(400000 * least(5 * sw, ntp) * ltp + 300000 * al * ntp "
    "+ 30000 * least(sl, 10 * ntp) * ltp) // (ntp * ltp) AS quality_ppm "
    "FROM qf)"
)


@q(
    "text_quality_score",
    f"WITH {_WORDS_CTE}, {_QINT_CTE} "
    "SELECT doc_id, nt AS n_tokens, mean_token_len_ppm, "
    "stopword_ratio_ppm, alpha_ratio_ppm, quality_ppm FROM q",
)
def text_quality_score(spark, sf_dir):
    return text.quality_score(_ds(spark, sf_dir).documents)


_DE_SW = "['der', 'die', 'das', 'und', 'ist', 'nicht', 'ein', 'mit', 'auf', 'von']"
_FR_SW = "['le', 'la', 'les', 'et', 'est', 'un', 'une', 'pour', 'dans', 'que']"


@q(
    "text_lang_id",
    f"WITH {_WORDS_CTE}, "
    "h AS (SELECT doc_id, "
    f"len(list_filter(ws, x -> list_contains({_DE_SW}, lower(x)))) AS h_de, "
    f"len(list_filter(ws, x -> list_contains({_EN_SW}, lower(x)))) AS h_en, "
    f"len(list_filter(ws, x -> list_contains({_FR_SW}, lower(x)))) AS h_fr FROM w) "
    "SELECT doc_id, CASE WHEN h_de >= h_en AND h_de >= h_fr THEN 'de' "
    "WHEN h_en >= h_fr THEN 'en' ELSE 'fr' END AS pred_lang, "
    "GREATEST(h_de, h_en, h_fr) AS n_hits FROM h",
)
def text_lang_id(spark, sf_dir):
    return text.lang_id(_ds(spark, sf_dir).documents)


@q(
    "text_langid_confusion",
    # evaluation composition: the stopword-heuristic lang_id scored
    # against the true label — the quality gate a pipeline runs before
    # trusting a classifier's routing decisions
    f"WITH {_WORDS_CTE}, "
    "h AS (SELECT doc_id, "
    f"len(list_filter(ws, x -> list_contains({_DE_SW}, lower(x)))) AS h_de, "
    f"len(list_filter(ws, x -> list_contains({_EN_SW}, lower(x)))) AS h_en, "
    f"len(list_filter(ws, x -> list_contains({_FR_SW}, lower(x)))) AS h_fr FROM w), "
    "p AS (SELECT doc_id, CASE WHEN h_de >= h_en AND h_de >= h_fr THEN 'de' "
    "WHEN h_en >= h_fr THEN 'en' ELSE 'fr' END AS pred_lang FROM h) "
    "SELECT d.lang AS true_lang, p.pred_lang, COUNT(*) AS n "
    "FROM documents d JOIN p ON d.doc_id = p.doc_id GROUP BY 1, 2",
)
def text_langid_confusion(spark, sf_dir):
    """Language-ID confusion matrix: lang_id predictions against the
    labeled truth — integer-count cells, one broadcast-side join."""
    docs = _ds(spark, sf_dir).documents
    pred = text.lang_id(docs).select("doc_id", "pred_lang")
    return (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )


@q(
    "text_fingerprint",
    f"WITH {_WORDS_CTE} "
    "SELECT doc_id, CAST(list_aggregate(list_transform(range(1, len(ws) + 1), "
    "i -> i * (('0x' || substr(md5(ws[i]), 1, 15))::BIGINT % 1000000000)), 'sum') "
    "% 1000000007 AS BIGINT) AS fingerprint FROM w",
)
def text_fingerprint(spark, sf_dir):
    return text.fingerprint(_ds(spark, sf_dir).documents)


@q(
    "text_chunk",
    # sliding-window chunking: starts at every multiple of the stride
    # below the text length; chunk_id = start / stride
    "WITH st AS (SELECT doc_id, text, UNNEST(range(0, length(text), 150)) AS s "
    "FROM documents) "
    "SELECT doc_id, CAST(s // 150 AS INT) AS chunk_id, s AS chunk_start, "
    "length(substr(text, CAST(s AS INT) + 1, 200)) AS chunk_len, "
    "substr(text, CAST(s AS INT) + 1, 200) AS chunk_text FROM st",
)
def text_chunk(spark, sf_dir):
    return text.chunk_documents(
        _ds(spark, sf_dir).documents, chunk_size=200, stride=150
    )


_EMAIL_RE_SQL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"


@q(
    "text_pii_redact",
    "WITH a AS (SELECT doc_id, "
    f"len(regexp_extract_all(text, '{_EMAIL_RE_SQL}')) AS n_emails, "
    f"regexp_replace(text, '{_EMAIL_RE_SQL}', '<EMAIL>', 'g') AS t1 "
    "FROM documents) "
    "SELECT doc_id, n_emails, "
    "len(regexp_extract_all(t1, '[0-9]{6,}')) AS n_number_runs, "
    "regexp_replace(t1, '[0-9]{6,}', '<NUM>', 'g') AS redacted FROM a",
)
def text_pii_redact(spark, sf_dir):
    return text.pii_redact(_ds(spark, sf_dir).documents)


@q(
    "text_ngram_top",
    f"WITH {_WORDS_CTE}, "
    "g AS (SELECT doc_id, UNNEST(list_transform(range(1, len(ws)), "
    "i -> ws[i] || ' ' || ws[i + 1])) AS ngram FROM w) "
    "SELECT ngram, COUNT(*) AS n_occurrences, "
    "COUNT(DISTINCT doc_id) AS n_docs FROM g GROUP BY ngram "
    "ORDER BY n_occurrences DESC, ngram LIMIT 20",
)
def text_ngram_top(spark, sf_dir):
    return text.ngram_top(_ds(spark, sf_dir).documents, n_top=20)


@q(
    "text_collocation_pmi",
    # PMI of the top-30 corpus bigrams (Church & Hanks collocations):
    # zipped UNNEST slices give (w1, w2) pairs; expression shape of the
    # ln() argument matches the Spark side exactly
    f"WITH {_WORDS_CTE}, "
    "bi AS (SELECT UNNEST(list_slice(ws, 1, len(ws) - 1)) AS w1, "
    "UNNEST(list_slice(ws, 2, len(ws))) AS w2 FROM w), "
    "uc AS (SELECT UNNEST(ws) AS term FROM w), "
    "u AS (SELECT term, COUNT(*) AS cu FROM uc GROUP BY term), "
    "nu AS (SELECT SUM(cu) AS nu FROM u), "
    "nb AS (SELECT COUNT(*) AS nb FROM bi), "
    "top AS (SELECT w1, w2, COUNT(*) AS cb FROM bi GROUP BY w1, w2 "
    "ORDER BY cb DESC, w1, w2 LIMIT 30) "
    "SELECT top.w1 || ' ' || top.w2 AS ngram, top.cb AS n_occurrences, "
    "ROUND(LN((CAST(top.cb AS DOUBLE) * nu.nu * nu.nu) / "
    "(CAST(nb.nb AS DOUBLE) * u1.cu * u2.cu)), 6) AS pmi "
    "FROM top JOIN u u1 ON top.w1 = u1.term JOIN u u2 ON top.w2 = u2.term, nu, nb",
)
def text_collocation_pmi(spark, sf_dir):
    return text.collocation_pmi(_ds(spark, sf_dir).documents, n_top=30)


@q(
    "text_repetition",
    # Gopher-style within-doc repetition stats; the Spark side computes
    # the modal-bigram count as a run-length fold over the sorted
    # bigram array (map-only), the oracle relationally — same values
    "WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), "
    "x -> x != '') AS ws FROM documents), "
    "b AS (SELECT doc_id, len(ws) AS n, len(list_distinct(ws)) AS uniq FROM w), "
    "bg AS (SELECT doc_id, unnest(list_transform(range(0, greatest(len(ws) - 1, 0)), "
    "i -> ws[i + 1] || ' ' || ws[i + 2])) AS g FROM w), "
    "bgc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2), "
    "bga AS (SELECT doc_id, MAX(c) AS topc, SUM(c) AS tot FROM bgc GROUP BY 1), "
    "tg AS (SELECT doc_id, unnest(list_transform(range(0, greatest(len(ws) - 2, 0)), "
    "i -> ws[i + 1] || ' ' || ws[i + 2] || ' ' || ws[i + 3])) AS g FROM w), "
    "tga AS (SELECT doc_id, COUNT(DISTINCT g) AS u, COUNT(*) AS t FROM tg GROUP BY 1) "
    "SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_words, "
    "CASE WHEN b.n > 0 THEN ROUND(b.uniq / CAST(b.n AS DOUBLE), 6) "
    "ELSE 0.0 END AS uniq_word_ratio, "
    "COALESCE(ROUND(bga.topc / CAST(bga.tot AS DOUBLE), 6), 0.0) AS top_bigram_frac, "
    "COALESCE(ROUND(1.0 - tga.u / CAST(tga.t AS DOUBLE), 6), 0.0) AS dup_trigram_frac "
    "FROM b LEFT JOIN bga ON b.doc_id = bga.doc_id "
    "LEFT JOIN tga ON b.doc_id = tga.doc_id",
)
def text_repetition(spark, sf_dir):
    """Gopher repetition rules (duplicate/top n-gram fractions) as one
    zero-shuffle map-side pass (text.repetition_stats)."""
    return text.repetition_stats(_ds(spark, sf_dir).documents)


@q(
    "samp_pack_sequences",
    # deterministic concat-and-chunk packing: md5-ordered doc stream
    # per hash bucket, start offset by running token sum, sequence id
    # by integer division on the token budget
    "WITH d AS (SELECT doc_id, "
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h, "
    "CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) "
    "AS n_tokens FROM documents), "
    "s AS (SELECT doc_id, n_tokens, h % 8 AS bucket, "
    "SUM(n_tokens) OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - n_tokens "
    "AS start_off FROM d) "
    "SELECT doc_id, n_tokens, bucket, start_off // 256 AS seq_id, start_off FROM s",
)
def samp_pack_sequences(spark, sf_dir):
    """Sequence packing into fixed token-budget training rows
    (filters.pack_sequences): per-bucket md5-canonical order, one
    shuffle, bit-reproducible on any engine."""
    return filters.pack_sequences(
        _ds(spark, sf_dir).documents, budget=256, n_buckets=8
    )


@q(
    "text_hashing_tf",
    # feature hashing: md5-bucketed term counts, no vocabulary pass
    "SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT % 1024 AS feature, "
    "COUNT(*) AS tf FROM (SELECT doc_id, unnest(list_filter("
    "string_split(text, ' '), x -> x != '')) AS t FROM documents) "
    "GROUP BY 1, 2",
)
def text_hashing_tf(spark, sf_dir):
    """Hashing-trick sparse vectorizer (text.hashing_tf): fixed-width
    features with zero vocabulary scans or broadcasts."""
    return text.hashing_tf(_ds(spark, sf_dir).documents, n_features=1024)


@q(
    "samp_mixture",
    # explicit per-source budgets (the training-data recipe step);
    # seedless md5 order makes smaller budgets nested subsets of
    # larger ones; fr's budget exceeds availability -> takes all 64
    "WITH r AS (SELECT doc_id, lang, ROW_NUMBER() OVER "
    "(PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn "
    "FROM documents) "
    "SELECT doc_id, lang FROM r WHERE rn <= CASE lang "
    "WHEN 'en' THEN 100 WHEN 'de' THEN 40 WHEN 'fr' THEN 100 "
    "WHEN 'es' THEN 20 WHEN 'zh' THEN 10 ELSE 0 END",
)
def samp_mixture(spark, sf_dir):
    """Data-recipe mixing with explicit per-source budgets
    (filters.mixture_sample) — nested, engine-reproducible draws."""
    docs = _ds(spark, sf_dir).documents.select("doc_id", "lang")
    return filters.mixture_sample(
        docs, "lang", {"en": 100, "de": 40, "fr": 100, "es": 20, "zh": 10},
        "doc_id",
    )


@q(
    "text_zipf_fit",
    # Zipf diagnostic: OLS of ln(freq) on ln(rank) over the top-100
    # terms; identical expression shapes both sides
    "WITH tt AS (SELECT unnest(list_filter(string_split(text, ' '), "
    "x -> x != '')) AS term FROM documents), "
    "c AS (SELECT term, COUNT(*) AS cnt FROM tt GROUP BY term), "
    "top AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 100), "
    "pts AS (SELECT LN(CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) "
    "AS DOUBLE)) AS x, LN(CAST(cnt AS DOUBLE)) AS y FROM top), "
    "a AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(y) AS sy, "
    "SUM(x * y) AS sxy, SUM(x * x) AS sxx FROM pts) "
    "SELECT CAST(n AS BIGINT) AS n_top, "
    "ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope, "
    "ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) "
    "AS intercept FROM a",
)
def text_zipf_fit(spark, sf_dir):
    """Zipf's-law corpus diagnostic (text.zipf_fit): top-k head via
    TakeOrderedAndProject, constant-size OLS."""
    return text.zipf_fit(_ds(spark, sf_dir).documents, n_top=100)


@q(
    "samp_stratified",
    "WITH s AS (SELECT doc_id, lang, "
    "ROW_NUMBER() OVER (PARTITION BY lang "
    "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn, "
    "COUNT(*) OVER (PARTITION BY lang) AS n FROM documents) "
    "SELECT doc_id, lang FROM s WHERE rn <= CEIL(0.25 * n)",
)
def samp_stratified(spark, sf_dir):
    docs = _ds(spark, sf_dir).documents.select("doc_id", "lang")
    return filters.stratified_sample(docs, "lang", 0.25, "doc_id")


@q(
    "samp_hash_split",
    # zero-shuffle deterministic train/val/test assignment
    "SELECT doc_id, bucket, CASE WHEN bucket < 80 THEN 'train' "
    "WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split FROM "
    "(SELECT doc_id, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT "
    "% 100 AS bucket FROM documents)",
)
def samp_hash_split(spark, sf_dir):
    return filters.hash_split(
        _ds(spark, sf_dir).documents.select("doc_id"), "doc_id"
    )


@q(
    "samp_curriculum",
    # shortest-first curriculum: exact length terciles (NTILE with the
    # doc_id tiebreak), position inside each phase by md5-hash order —
    # seedless and bit-reproducible; the engine reaches the identical
    # cut via distributed rank arithmetic (global_ntile/grouped_rank)
    "WITH h AS (SELECT doc_id, n_chars, "
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hk "
    "FROM documents), "
    "p AS (SELECT doc_id, n_chars, hk, "
    "CAST(NTILE(3) OVER (ORDER BY n_chars, doc_id) AS INT) AS phase FROM h) "
    "SELECT doc_id, n_chars, phase, "
    "ROW_NUMBER() OVER (PARTITION BY phase ORDER BY hk, doc_id) AS position "
    "FROM p",
)
def samp_curriculum(spark, sf_dir):
    """Length-curriculum training order (filters.curriculum_order) —
    deterministic phase + position for every document."""
    return filters.curriculum_order(_ds(spark, sf_dir).documents)


# ---------------------------------------------------------------------------
# §2.10 ML: HVG selection, clustering, reduction, metrics, pseudotime
# ---------------------------------------------------------------------------

@q(
    "ml_hvg_binned",
    f"WITH {COUNTS_CTE}, "
    "agg AS (SELECT feat_id, CAST(SUM(value) AS DOUBLE) AS tot, "
    "CAST(SUM(value * value) AS DOUBLE) AS tot_sq FROM counts GROUP BY feat_id), "
    f"mv AS (SELECT feat_id, tot / {_N_CELLS_SQL} AS mean, "
    f"tot_sq / {_N_CELLS_SQL} - (tot / {_N_CELLS_SQL}) * (tot / {_N_CELLS_SQL}) AS variance "
    "FROM agg) , "
    "fl AS (SELECT * FROM mv WHERE mean > 0 AND variance > 0), "
    "binned AS (SELECT *, NTILE(20) OVER (ORDER BY mean, feat_id) AS bin FROM fl), "
    "trend AS (SELECT bin, MEDIAN(LN(variance)) AS trend FROM binned GROUP BY bin), "
    "corr AS (SELECT b.feat_id, b.mean, b.variance, b.bin, "
    "ROUND(LN(b.variance) - t.trend, 6) AS c_var FROM binned b JOIN trend t ON b.bin = t.bin) "
    "SELECT feat_id, ROUND(mean, 6) AS mean, ROUND(variance, 6) AS variance, bin, c_var, "
    "hvg_rank FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY c_var DESC, feat_id) AS hvg_rank "
    "FROM corr) WHERE hvg_rank <= 100",
)
def ml_hvg_binned(spark, sf_dir):
    from scarf_spark.ml import hvg

    ds = _ds(spark, sf_dir)
    return hvg.mark_hvgs_binned(ds.counts(), n_cells=_n_cells(ds), n_bins=20, top_n=100)


_UND_CTE = (
    "und AS (SELECT DISTINCT src, dst FROM "
    "(SELECT src, dst FROM knn UNION ALL SELECT dst, src FROM knn)), "
    "l0 AS (SELECT DISTINCT src AS node, src AS cluster FROM und)"
)

_LP_ROUND = (
    "r{t} AS (SELECT u.src AS node, l.cluster, COUNT(*) AS n FROM und u "
    "JOIN l{p} l ON u.dst = l.node GROUP BY 1, 2), "
    "l{t} AS (SELECT node, cluster FROM (SELECT node, cluster, "
    "ROW_NUMBER() OVER (PARTITION BY node ORDER BY n DESC, cluster) AS rn FROM r{t}) "
    "WHERE rn = 1)"
)


@q(
    "ml_label_prop",
    f"WITH {_KNN_CTE}, {_UND_CTE}, "
    + ", ".join(_LP_ROUND.format(t=t, p=t - 1) for t in (1, 2, 3))
    + " SELECT node, cluster FROM l3",
)
def ml_label_prop(spark, sf_dir):
    from scarf_spark.ml import cluster

    edges = _knn_edges(spark, sf_dir)
    return cluster.label_propagation(edges, n_iter=3)


@q(
    "graph_modularity",
    # Newman modularity per label-propagation cluster: E_c/2m − (D_c/2m)²
    f"WITH {_KNN_CTE}, {_UND_CTE}, "
    + ", ".join(_LP_ROUND.format(t=t, p=t - 1) for t in (1, 2, 3))
    + ", deg AS (SELECT src, COUNT(*) AS d FROM und GROUP BY src), "
    "tm AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m2 FROM und), "
    "ec AS (SELECT la.cluster, COUNT(*) AS e_within FROM und u "
    "JOIN l3 la ON u.src = la.node JOIN l3 lb ON u.dst = lb.node "
    "WHERE la.cluster = lb.cluster GROUP BY la.cluster), "
    "dc AS (SELECT l.cluster, COUNT(*) AS n_nodes, SUM(deg.d) AS deg_sum "
    "FROM l3 l JOIN deg ON l.node = deg.src GROUP BY l.cluster) "
    "SELECT dc.cluster, dc.n_nodes, COALESCE(ec.e_within, 0) AS e_within, "
    "dc.deg_sum, ROUND(COALESCE(ec.e_within, 0) / tm.m2 "
    "- (dc.deg_sum / tm.m2) * (dc.deg_sum / tm.m2), 6) AS q_contrib "
    "FROM dc LEFT JOIN ec ON dc.cluster = ec.cluster, tm",
)
def graph_modularity(spark, sf_dir):
    from scarf_spark.ml import cluster
    from scarf_spark.operators import graph

    edges = _knn_edges(spark, sf_dir)
    # symmetrize ONCE: label propagation and the modularity metric
    # consume the identical deduped symmetric edge set
    sym = graph.symmetric_graph(edges, weight_col=None)
    labels = cluster.label_propagation(edges, n_iter=3, sym=sym)
    und = sym.edges.select(F.col("i").alias("src"), F.col("j").alias("dst"))
    return graph.modularity(edges, labels, und=und)


@q(
    "ml_ari",
    "WITH ct AS (SELECT label AS a, vec_id % 4 AS b, COUNT(*) AS nij "
    "FROM embeddings GROUP BY 1, 2), "
    "s AS (SELECT SUM(nij * (nij - 1) / 2.0) AS sum_ij, SUM(nij) AS n FROM ct), "
    "sa AS (SELECT SUM(ai * (ai - 1) / 2.0) AS sum_a FROM "
    "(SELECT SUM(nij) AS ai FROM ct GROUP BY a)), "
    "sb AS (SELECT SUM(bj * (bj - 1) / 2.0) AS sum_b FROM "
    "(SELECT SUM(nij) AS bj FROM ct GROUP BY b)) "
    "SELECT ROUND(CASE WHEN (sum_a + sum_b) / 2.0 != sum_a * sum_b / (n * (n - 1) / 2.0) "
    "THEN (sum_ij - sum_a * sum_b / (n * (n - 1) / 2.0)) "
    "/ ((sum_a + sum_b) / 2.0 - sum_a * sum_b / (n * (n - 1) / 2.0)) ELSE 0.0 END, 6) "
    "AS ari FROM s, sa, sb",
)
def ml_ari(spark, sf_dir):
    from scarf_spark.ml import metrics

    emb = _ds(spark, sf_dir).embeddings.select(
        F.col("label").alias("a"), (F.col("vec_id") % 4).alias("b")
    )
    return metrics.adjusted_rand_index(emb, "a", "b")


@q(
    "ml_nmi",
    "WITH ct AS (SELECT label AS a, vec_id % 4 AS b, COUNT(*) AS nij "
    "FROM embeddings GROUP BY 1, 2), "
    "n AS (SELECT CAST(SUM(nij) AS DOUBLE) AS n FROM ct), "
    "ai AS (SELECT a, SUM(nij) AS ai FROM ct GROUP BY a), "
    "bj AS (SELECT b, SUM(nij) AS bj FROM ct GROUP BY b), "
    "mi AS (SELECT SUM(ct.nij / n.n * LN(n.n * ct.nij / (ai.ai * bj.bj))) AS mi "
    "FROM ct JOIN ai ON ct.a = ai.a JOIN bj ON ct.b = bj.b, n), "
    "ha AS (SELECT -SUM(ai / n.n * LN(ai / n.n)) AS ha FROM ai, n), "
    "hb AS (SELECT -SUM(bj / n.n * LN(bj / n.n)) AS hb FROM bj, n) "
    "SELECT ROUND(CASE WHEN ha + hb != 0 THEN mi / ((ha + hb) / 2.0) ELSE 0.0 END, 6) "
    "AS nmi FROM mi, ha, hb",
)
def ml_nmi(spark, sf_dir):
    from scarf_spark.ml import metrics

    emb = _ds(spark, sf_dir).embeddings.select(
        F.col("label").alias("a"), (F.col("vec_id") % 4).alias("b")
    )
    return metrics.normalized_mutual_info(emb, "a", "b")


_TOP_FEATS_CACHE: dict[tuple, list[int]] = {}


def _top_feats(ds: DataStore, n: int = 10) -> list[int]:
    """Top-n features by total count — the feature-selection fixture
    every reduction query starts from. Memoized per (sf_dir, n) like
    ``_n_cells``: the reference computes its HVG set once and stores
    it in the Zarr tree (``assay.py`` mark_hvgs), every downstream
    step loads it."""
    key = (ds.sf_dir, n)
    if key not in _TOP_FEATS_CACHE:
        rows = (
            ds.counts().groupBy("feat_id").agg(F.sum("value").alias("t"))
            .orderBy(F.desc("t"), "feat_id").limit(n).collect()
        )
        _TOP_FEATS_CACHE[key] = [int(r["feat_id"]) for r in rows]
    return _TOP_FEATS_CACHE[key]


def _jacobi_cte(d: int, sweeps: int = 8, pfx: str = "j") -> str:
    """Recursive-CTE cyclic Jacobi eigensolver: consumes ``{pfx}mat(fi,
    val)`` (the flattened row-major d×d symmetric DOUBLE matrix) and
    yields ``{pfx}fin(a, v)`` — the diagonalized matrix and accumulated
    rotations after ``sweeps`` fixed sweeps. Bit-for-bit replay of
    ``scarf_spark.ml.reduction.jacobi_eigh`` (same formula sequence,
    same exact-zero skip, s = t·c)."""
    n_pairs = d * (d - 1) // 2
    n_rot = sweeps * n_pairs
    dd = d * d
    return (
        "{pfx}pairs AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY p, q) - 1 AS BIGINT) "
        "AS pi, p, q FROM (SELECT a.i AS p, b.i AS q FROM "
        f"UNNEST(range(0,{d})) a(i), UNNEST(range(0,{d})) b(i) WHERE b.i > a.i)), "
        "{pfx}ac(it, a, v) AS ("
        "SELECT 0, (SELECT list(val ORDER BY fi) FROM {pfx}mat), "
        f"list_transform(range(0, {dd}), fi -> CASE WHEN fi // {d} = fi % {d} "
        "THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) "
        "UNION ALL "
        "SELECT s5.it + 1, "
        "CASE WHEN s5.apq = 0.0 THEN s5.a ELSE "
        f"list_transform(range(0, {dd}), fi -> (CASE "
        f"WHEN fi // {d} = s5.p AND fi % {d} = s5.p THEN s5.app - s5.t * s5.apq "
        f"WHEN fi // {d} = s5.q AND fi % {d} = s5.q THEN s5.aqq + s5.t * s5.apq "
        f"WHEN (fi // {d} = s5.p AND fi % {d} = s5.q) OR (fi // {d} = s5.q AND "
        f"fi % {d} = s5.p) THEN CAST(0.0 AS DOUBLE) "
        f"WHEN fi // {d} = s5.p THEN s5.c * s5.a[fi + 1] - s5.s * "
        f"s5.a[s5.q * {d} + (fi % {d}) + 1] "
        f"WHEN fi // {d} = s5.q THEN s5.s * s5.a[s5.p * {d} + (fi % {d}) + 1] "
        "+ s5.c * s5.a[fi + 1] "
        f"WHEN fi % {d} = s5.p THEN s5.c * s5.a[fi + 1] - s5.s * "
        f"s5.a[(fi // {d}) * {d} + s5.q + 1] "
        f"WHEN fi % {d} = s5.q THEN s5.s * s5.a[(fi // {d}) * {d} + s5.p + 1] "
        "+ s5.c * s5.a[fi + 1] "
        "ELSE s5.a[fi + 1] END)) END, "
        "CASE WHEN s5.apq = 0.0 THEN s5.v ELSE "
        f"list_transform(range(0, {dd}), fi -> (CASE "
        f"WHEN fi % {d} = s5.p THEN s5.c * s5.v[fi + 1] - s5.s * "
        f"s5.v[(fi // {d}) * {d} + s5.q + 1] "
        f"WHEN fi % {d} = s5.q THEN s5.s * s5.v[(fi // {d}) * {d} + s5.p + 1] "
        "+ s5.c * s5.v[fi + 1] "
        "ELSE s5.v[fi + 1] END)) END "
        "FROM (SELECT s4.*, s4.t * s4.c AS s FROM "
        "(SELECT s3.*, 1.0 / SQRT(1.0 + s3.t * s3.t) AS c FROM "
        "(SELECT s2.*, CASE WHEN s2.apq = 0.0 THEN CAST(0.0 AS DOUBLE) ELSE "
        "(CASE WHEN s2.tau >= 0.0 THEN 1.0 ELSE -1.0 END) / "
        "(ABS(s2.tau) + SQRT(1.0 + s2.tau * s2.tau)) END AS t FROM "
        "(SELECT s1.*, CASE WHEN s1.apq = 0.0 THEN CAST(0.0 AS DOUBLE) ELSE "
        "(s1.aqq - s1.app) / (2.0 * s1.apq) END AS tau FROM "
        "(SELECT j.it, j.a, j.v, pr.p, pr.q, "
        f"j.a[pr.p * {d} + pr.p + 1] AS app, "
        f"j.a[pr.q * {d} + pr.q + 1] AS aqq, "
        f"j.a[pr.p * {d} + pr.q + 1] AS apq "
        f"FROM {pfx}ac j JOIN {pfx}pairs pr ON pr.pi = j.it % {n_pairs} "
        f"WHERE j.it < {n_rot}) s1) s2) s3) s4) s5), "
        f"{pfx}fin AS MATERIALIZED (SELECT a, v FROM {pfx}ac WHERE it = {n_rot})"
    ).replace("{pfx}", pfx)


def _pca_tail_sql(d: int, k: int, lo: int, out_prefix: str) -> str:
    """Shared oracle tail after ``zdims(cell_id, slot, val)`` + jfin:
    eigen-selection by (eigenvalue desc, index), first-max-|component|
    sign convention, projection, round-6 pivot to {out_prefix}1..k."""
    comps = ", ".join(
        f"ROUND(MAX(CASE WHEN comp = {c} THEN pc END), 6) AS {out_prefix}{c}"
        for c in range(1, k + 1)
    )
    return (
        f"evs AS (SELECT i, a[i * {d} + i + 1] AS ev FROM jfin, "
        f"UNNEST(range(0, {d})) t(i)), "
        "esel AS (SELECT i, CAST(ROW_NUMBER() OVER (ORDER BY ev DESC, i) "
        f"AS BIGINT) - {lo} AS comp FROM evs), "
        f"load0 AS (SELECT s.comp, r.i AS row_i, v[r.i * {d} + s.i + 1] AS w "
        f"FROM jfin, esel s, UNNEST(range(0, {d})) r(i) "
        f"WHERE s.comp BETWEEN 1 AND {k}), "
        "sgn AS (SELECT comp, CASE WHEN MIN([-ABS(w), CAST(row_i AS DOUBLE), "
        "w])[3] < 0 THEN -1.0 ELSE 1.0 END AS f FROM load0 GROUP BY comp), "
        "loads AS (SELECT l.comp, l.row_i, l.w * g.f AS w FROM load0 l "
        "JOIN sgn g USING (comp)), "
        "proj AS (SELECT z.cell_id, l.comp, SUM(z.val * l.w) AS pc "
        "FROM zdims z JOIN loads l ON l.row_i = z.slot - 1 "
        "GROUP BY z.cell_id, l.comp) "
        f"SELECT cell_id, {comps} FROM proj GROUP BY cell_id"
    )


_PCA_PREP_CTE = (
    # top-10 features by total (sums are integer-valued doubles → exact
    # in both engines, so the slot order matches Spark's _top_feats)
    "tops AS (SELECT feat_id, CAST(ROW_NUMBER() OVER (ORDER BY t DESC, feat_id) "
    "AS BIGINT) AS slot FROM (SELECT feat_id, SUM(value) AS t FROM counts "
    "GROUP BY feat_id ORDER BY t DESC, feat_id LIMIT 10)), "
    "pcells AS (SELECT DISTINCT c.cell_id FROM counts c JOIN tops USING (feat_id)), "
    "raw AS MATERIALIZED (SELECT l.cell_id, t.slot, "
    "COALESCE(x.value, 0.0) AS val FROM pcells l CROSS JOIN tops t "
    "LEFT JOIN counts x ON x.cell_id = l.cell_id AND x.feat_id = t.feat_id), "
    "zstat AS (SELECT slot, SUM(val) / COUNT(*) AS mu, "
    "SQRT(GREATEST(SUM(val * val) / COUNT(*) - (SUM(val) / COUNT(*)) * "
    "(SUM(val) / COUNT(*)), 1e-12)) AS sd FROM raw GROUP BY slot), "
    "zdims AS MATERIALIZED (SELECT r.cell_id, r.slot, (r.val - zs.mu) / zs.sd "
    "AS val FROM raw r JOIN zstat zs USING (slot)), "
    "nrow AS (SELECT COUNT(DISTINCT cell_id) AS n FROM zdims), "
    # exact-symmetric covariance: compute the upper triangle once and
    # mirror it, as the Spark side does
    "jm0 AS (SELECT a.slot - 1 AS i, b.slot - 1 AS j, SUM(a.val * b.val) / "
    "GREATEST((SELECT n FROM nrow) - 1, 1) AS val FROM zdims a "
    "JOIN zdims b ON a.cell_id = b.cell_id AND a.slot <= b.slot "
    "GROUP BY a.slot, b.slot), "
    "jmat AS MATERIALIZED (SELECT i * 10 + j AS fi, val FROM jm0 "
    "UNION ALL SELECT j * 10 + i AS fi, val FROM jm0 WHERE i < j)"
)


@q(
    "ml_mahalanobis",
    # squared Mahalanobis outlier score via the covariance eigenpairs:
    # m² = Σ (x·v_k)²/λ_k — sign flips cancel in the square, so no
    # sign convention is needed; eigenvalues floored at 1e-9 both sides
    f"WITH RECURSIVE {COUNTS_CTE}, {_PCA_PREP_CTE}, {_jacobi_cte(10)}, "
    "evs AS (SELECT i, a[i * 10 + i + 1] AS ev FROM jfin, "
    "UNNEST(range(0, 10)) t(i)), "
    "loads AS (SELECT s.i AS comp, r.i AS row_i, "
    "v[r.i * 10 + s.i + 1] AS w, s.ev FROM jfin, evs s, "
    "UNNEST(range(0, 10)) r(i)), "
    "proj AS (SELECT z.cell_id, l.comp, SUM(z.val * l.w) AS pc, "
    "MIN(l.ev) AS ev FROM zdims z JOIN loads l ON l.row_i = z.slot - 1 "
    "GROUP BY z.cell_id, l.comp) "
    "SELECT cell_id, ROUND(SUM(pc * pc / GREATEST(ev, 1e-9)), 6) AS m2 "
    "FROM proj GROUP BY cell_id",
)
def ml_mahalanobis(spark, sf_dir):
    """Multivariate outlier score over the z-scored top-10-feature
    matrix (ml.reduction.mahalanobis_scores): xᵀC⁻¹x through the same
    one-pass Gram + driver Jacobi as PCA, never inverting C."""
    from scarf_spark.ml import reduction

    ds = _ds(spark, sf_dir)
    # d from the ACTUAL feature list (r15 ADVICE): if a store has fewer
    # distinct features than requested, a hardcoded d=10 would index
    # past the assembled array (silent NULLs under non-ANSI)
    feats = _top_feats(ds, 10)
    vec = reduction.assemble_vectors(ds.counts(), feats)
    z, gram, n = reduction.zscore_gram(vec, d=len(feats))
    fit = reduction.pca_fit_gram(gram, n, k=len(feats))
    return reduction.mahalanobis_scores(z, d=len(feats), fit=fit)


@q(
    "norm_zca_whiten",
    # ZCA whitening x -> V diag(1/sqrt(lambda)) V^T x: v appears twice,
    # so eigenvector sign flips cancel and no sign convention is needed
    f"WITH RECURSIVE {COUNTS_CTE}, {_PCA_PREP_CTE}, {_jacobi_cte(10)}, "
    "wevs AS (SELECT i, a[i * 10 + i + 1] AS ev FROM jfin, "
    "UNNEST(range(0, 10)) t(i)), "
    "wloads AS (SELECT s.i AS comp, r.i AS row_i, "
    "v[r.i * 10 + s.i + 1] AS w, s.ev FROM jfin, wevs s, "
    "UNNEST(range(0, 10)) r(i)), "
    "wproj AS (SELECT z.cell_id, l.comp, SUM(z.val * l.w) AS pc "
    "FROM zdims z JOIN wloads l ON l.row_i = z.slot - 1 GROUP BY 1, 2), "
    "wout AS (SELECT p.cell_id, l.row_i + 1 AS slot, "
    "SUM(p.pc * l.w / SQRT(GREATEST(l.ev, 1e-9))) AS wv "
    "FROM wproj p JOIN wloads l ON p.comp = l.comp GROUP BY 1, 2) "
    "SELECT cell_id, CAST(slot AS INT) AS slot, ROUND(wv, 6) AS white "
    "FROM wout",
)
def norm_zca_whiten(spark, sf_dir):
    """ZCA whitening of the z-scored top-10-feature matrix
    (ml.reduction.zca_whiten) — decorrelate to unit covariance in the
    original basis; sign-invariant, hence exactly replayable."""
    from scarf_spark.ml import reduction

    ds = _ds(spark, sf_dir)
    feats = _top_feats(ds, 10)  # d from the actual list (r15 ADVICE)
    vec = reduction.assemble_vectors(ds.counts(), feats)
    z, gram, n = reduction.zscore_gram(vec, d=len(feats))
    fit = reduction.pca_fit_gram(gram, n, k=len(feats))
    return reduction.zca_whiten(z, d=len(feats), fit=fit)


@q(
    "ml_pca_project",
    f"WITH RECURSIVE {COUNTS_CTE}, {_PCA_PREP_CTE}, {_jacobi_cte(10)}, "
    + _pca_tail_sql(10, 3, 0, "pc"),
)
def ml_pca_project(spark, sf_dir):
    from scarf_spark.ml import reduction

    ds = _ds(spark, sf_dir)
    feats = _top_feats(ds, 10)  # d from the actual list (r15 ADVICE)
    vec = reduction.assemble_vectors(ds.counts(), feats)
    # fused z-score + Gram: one aggregate pass (r15; z is bit-equal,
    # the analytic Gram shifts loadings ~1e-14, under the ROUND(6))
    z, gram, n = reduction.zscore_gram(vec, d=len(feats))
    loadings, _ev = reduction.pca_fit_gram(gram, n, k=3)
    out = reduction.pca_transform(z, loadings)
    return out.select(
        "cell_id", *[F.round(c, 6).alias(c) for c in ("pc1", "pc2", "pc3")]
    )


# The reference's CORE workflow (normalize → feature-select → reduce →
# KNN → cluster, ``scarf`` README quick-start / datastore.py pipeline)
# composed END-TO-END as one graded query. The oracle is the verbatim
# composition of the stage oracles: the PCA tail becomes a nested-WITH
# CTE (its ROUND(6) pivot makes the KNN inputs cross-engine exact),
# then the knn + modal-label-prop CTE shapes from knn_exact_* /
# mark_feat_modules run over the COMPUTED coordinates instead of a
# stored table.
_ATLAS_TAIL = (
    "apcs AS MATERIALIZED (WITH " + _pca_tail_sql(10, 3, 0, "pc") + "), "
    "aemb AS (SELECT cell_id, CAST([pc1, pc2, pc3] AS DOUBLE[]) AS v "
    "FROM apcs), "
    "anv AS (SELECT cell_id, v, "
    "sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm "
    "FROM aemb), "
    "apairs AS (SELECT a.cell_id AS src, b.cell_id AS dst, "
    "1.0 - list_inner_product(a.v, b.v) / (a.nrm * b.nrm) AS distance "
    "FROM anv a JOIN anv b ON a.cell_id != b.cell_id), "
    "aknn AS MATERIALIZED (SELECT src, dst FROM (SELECT *, "
    "ROW_NUMBER() OVER (PARTITION BY src ORDER BY distance, dst) AS rn "
    "FROM apairs) WHERE rn <= 5), "
    "aund AS MATERIALIZED (SELECT DISTINCT src, dst FROM "
    "(SELECT src, dst FROM aknn UNION ALL SELECT dst, src FROM aknn)), "
    "al0 AS (SELECT DISTINCT src AS node, src AS cluster FROM aund), "
    + ", ".join(
        (
            "ar{t} AS (SELECT u.src AS node, l.cluster, COUNT(*) AS n "
            "FROM aund u JOIN al{p} l ON u.dst = l.node GROUP BY 1, 2), "
            "al{t} AS (SELECT node, cluster FROM (SELECT node, cluster, "
            "ROW_NUMBER() OVER (PARTITION BY node ORDER BY n DESC, cluster) "
            "AS rn FROM ar{t}) WHERE rn = 1)"
        ).format(t=t, p=t - 1)
        for t in (1, 2, 3)
    )
)


@q(
    "pipe_atlas_prep",
    f"WITH RECURSIVE {COUNTS_CTE}, {_PCA_PREP_CTE}, {_jacobi_cte(10)}, "
    + _ATLAS_TAIL
    + " SELECT p.cell_id, p.pc1, p.pc2, p.pc3, l.cluster "
    "FROM apcs p JOIN al3 l ON p.cell_id = l.node",
)
def pipe_atlas_prep(spark, sf_dir):
    """End-to-end single-cell core pipeline as ONE query: top-feature
    selection → z-score → Gram/Jacobi PCA(3) → exact KNN (k=5) over
    the ROUND(6) coordinates → 3-round modal label propagation —
    the reference's README quick-start workflow, every stage the
    already-graded operator, composed. Returns
    (cell_id, pc1..pc3, cluster)."""
    from scarf_spark.ml import cluster as cl
    from scarf_spark.ml import reduction
    from scarf_spark.operators import knn as knn_mod

    ds = _ds(spark, sf_dir)
    feats = _top_feats(ds, 10)  # d from the actual list (r15 ADVICE)
    vec = reduction.assemble_vectors(ds.counts(), feats)
    z, gram, n = reduction.zscore_gram(vec, d=len(feats))
    loadings, _ev = reduction.pca_fit_gram(gram, n, k=3)
    pcs = reduction.pca_transform(z, loadings).select(
        "cell_id", *[F.round(c, 6).alias(c) for c in ("pc1", "pc2", "pc3")]
    ).localCheckpoint(eager=False)
    emb = pcs.select("cell_id", F.array("pc1", "pc2", "pc3").alias("embedding"))
    edges = knn_mod.cosine_knn_sharded(
        emb, k=5, id_col="cell_id", vec_col="embedding",
        dim=3, n_rows_hint=_n_cells(ds),
    )
    labels = cl.label_propagation(edges.select("src", "dst"), n_iter=3)
    return pcs.join(
        labels.withColumnRenamed("node", "cell_id"), "cell_id"
    ).select("cell_id", "pc1", "pc2", "pc3", "cluster")


# Deterministic Lloyd: seedless md5-order init + 5 iterations, replayed
# exactly by a recursive CTE (assignment = MIN([dist, cid]) lexicographic,
# update = per-dim AVG). list_distance is sqrt'd but argmin-equivalent to
# the engine's squared distances.
_KMEANS_CTE = (
    "pts AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> "
    "CAST(x AS DOUBLE)) AS v FROM embeddings), "
    "dims AS MATERIALIZED (SELECT vec_id, i AS dim, v[i] AS val FROM pts, "
    "UNNEST(range(1, 65)) AS t(i)), "
    "km(it, cid, c) AS ("
    "SELECT 0, CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), "
    "vec_id) AS BIGINT), v "
    "FROM (SELECT vec_id, v FROM pts ORDER BY md5(CAST(vec_id AS VARCHAR)), "
    "vec_id LIMIT 4) "
    "UNION ALL "
    "SELECT a.it + 1, a.cid, list(a.m ORDER BY a.dim) FROM ("
    "SELECT asg.it AS it, asg.cid AS cid, d.dim AS dim, AVG(d.val) AS m FROM ("
    "SELECT km.it AS it, p.vec_id AS pid, "
    "CAST(MIN([list_distance(p.v, km.c), CAST(km.cid AS DOUBLE)])[2] AS BIGINT) AS cid "
    "FROM km, pts p GROUP BY km.it, p.vec_id) asg "
    "JOIN dims d ON d.vec_id = asg.pid "
    "GROUP BY asg.it, asg.cid, d.dim) a "
    "WHERE a.it < 5 GROUP BY a.it, a.cid), "
    "kfinal AS (SELECT cid, c FROM km WHERE it = 5), "
    "kassign AS (SELECT p.vec_id, "
    "CAST(MIN([list_distance(p.v, f.c), CAST(f.cid AS DOUBLE)])[2] AS BIGINT) AS cluster "
    "FROM pts p, kfinal f GROUP BY p.vec_id)"
)


def _gmm_cte(k: int = 2, d: int = 64, n_iter: int = 3) -> str:
    """Unrolled diagonal-GMM EM as a DuckDB CTE chain — every step is
    smooth (log-density sums, max-shifted softmax, weighted moments),
    so the whole fit replays exactly; mirrors ml/cluster.gmm_diag's
    expression shapes term for term."""
    parts = [
        "gpts AS MATERIALIZED (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
        f"gdims AS MATERIALIZED (SELECT vec_id, i AS dim, v[i + 1] AS val "
        f"FROM gpts, UNNEST(range(0, {d})) t(i))",
        "gn AS (SELECT COUNT(*) AS n FROM gpts)",
        "gseed AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY "
        "md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS cid, v FROM "
        "(SELECT vec_id, v FROM gpts ORDER BY md5(CAST(vec_id AS VARCHAR)), "
        f"vec_id LIMIT {k}))",
        f"gpar0 AS (SELECT cid, i AS dim, v[i + 1] AS mu, 1.0 AS var "
        f"FROM gseed, UNNEST(range(0, {d})) t(i))",
        f"gw0 AS (SELECT cid, 1.0 / {k} AS w FROM gseed)",
    ]
    for it in range(n_iter + 1):
        j = it + 1
        parts += [
            f"gll{j} AS (SELECT d.vec_id, p.cid, SUM((d.val - p.mu) * "
            f"(d.val - p.mu) / p.var + LN(2 * pi() * p.var)) AS ll "
            f"FROM gdims d JOIN gpar{it} p USING (dim) GROUP BY 1, 2)",
            f"glg{j} AS (SELECT l.vec_id, l.cid, LN(w.w) - 0.5 * l.ll AS lg "
            f"FROM gll{j} l JOIN gw{it} w USING (cid))",
            f"gm{j} AS (SELECT vec_id, cid, EXP(lg - MAX(lg) OVER "
            f"(PARTITION BY vec_id)) AS r FROM glg{j})",
            f"gr{j} AS (SELECT vec_id, cid, r / SUM(r) OVER "
            f"(PARTITION BY vec_id) AS resp FROM gm{j})",
        ]
        if it == n_iter:
            break
        parts += [
            f"gst{j} AS (SELECT r.cid, d.dim, SUM(r.resp) AS sr, "
            f"SUM(r.resp * d.val) AS srx, SUM(r.resp * d.val * d.val) AS srx2 "
            f"FROM gr{j} r JOIN gdims d USING (vec_id) GROUP BY 1, 2)",
            f"gpar{j} AS (SELECT cid, dim, srx / sr AS mu, "
            f"GREATEST(srx2 / sr - (srx / sr) * (srx / sr), 1e-6) AS var "
            f"FROM gst{j})",
            f"gw{j} AS (SELECT cid, SUM(resp) / "
            f"(SELECT CAST(n AS DOUBLE) FROM gn) AS w FROM gr{j} GROUP BY cid)",
        ]
    return ", ".join(parts)


@q(
    "ml_gmm_resp",
    f"WITH {_gmm_cte(2, 64, 3)} "
    "SELECT vec_id, cid AS cluster, ROUND(resp, 6) AS resp FROM gr4",
)
def ml_gmm_resp(spark, sf_dir):
    """Diagonal-covariance GMM soft responsibilities after 3 EM
    iterations (ml.cluster.gmm_diag) — probabilistic clustering whose
    every step is smooth, hence fully oracle-replayable (the soft dual
    of ml_kmeans)."""
    from scarf_spark.ml import cluster

    emb = _ds(spark, sf_dir).embeddings.select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("v")
    )
    out = cluster.gmm_diag(emb, k=2, n_iter=3)
    return out.select(
        F.col("cell_id").alias("vec_id"), "cluster", "resp"
    )


@q(
    "ml_kmeans",
    f"WITH RECURSIVE {_KMEANS_CTE} "
    "SELECT cluster, COUNT(*) AS n FROM kassign GROUP BY cluster",
)
def ml_kmeans(spark, sf_dir):
    from scarf_spark.ml import cluster

    emb = _ds(spark, sf_dir).embeddings.select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("v")
    )
    out = cluster.kmeans_lloyd(emb, k=4, n_iter=5)
    return out.groupBy(F.col("cluster").cast("long").alias("cluster")).agg(
        F.count("*").alias("n")
    )


@q(
    "dedup_semdedup",
    # SemDeDup: cluster embeddings (deterministic Lloyd, replayed by
    # the shared kmeans CTE), then cosine-compare pairs only WITHIN a
    # cluster; drop a vec iff a smaller-id cluster-mate lies within
    # eps (greedy keep-first — deterministic on any engine)
    f"WITH RECURSIVE {_KMEANS_CTE}, "
    "nv AS (SELECT p.vec_id, p.v, "
    "sqrt(list_aggregate(list_transform(p.v, x -> x * x), 'sum')) AS nrm, "
    "k.cluster FROM pts p JOIN kassign k ON p.vec_id = k.vec_id), "
    "ve AS (SELECT a.vec_id AS a, b.vec_id AS b FROM nv a JOIN nv b "
    "ON a.cluster = b.cluster AND a.vec_id < b.vec_id "
    "WHERE ROUND(1.0 - list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) <= 0.62) "
    "SELECT n.vec_id, n.cluster, "
    "n.vec_id NOT IN (SELECT b FROM ve) AS keep FROM nv n",
)
def dedup_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): kmeans-partitioned embedding
    dedup — the cluster bounds the quadratic pair work the way LSH
    bands do for minhash (dedup.semdedup)."""
    return dedup.semdedup(_ds(spark, sf_dir).embeddings, k=4, eps=0.62)


@q(
    "ml_auc",
    # Mann-Whitney AUC from per-distinct-score aggregates — the only
    # window runs over distinct scores, never corpus rows
    "WITH s AS (SELECT CAST(n_chars AS DOUBLE) AS s, "
    "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents), "
    "g AS (SELECT s, SUM(y) AS np, COUNT(*) - SUM(y) AS nn FROM s GROUP BY s), "
    "per AS (SELECT np, nn, SUM(nn) OVER (ORDER BY s) - nn AS below FROM g), "
    "tot AS (SELECT SUM(np) AS n_pos, SUM(nn) AS n_neg, "
    "SUM(np * below + 0.5 * np * nn) AS num FROM per) "
    "SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg, "
    "ROUND(num / CAST(n_pos * n_neg AS DOUBLE), 6) AS auc FROM tot",
)
def ml_auc(spark, sf_dir):
    """ROC AUC of doc length as an is-English predictor
    (ml.metrics.auc): rank-free Mann-Whitney identity over tie-group
    aggregates."""
    from scarf_spark.ml import metrics as mlmetrics

    docs = _ds(spark, sf_dir).documents
    return mlmetrics.auc(
        docs.select(
            F.col("n_chars").alias("score"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        ),
        "score",
        "y",
    )


@q(
    "qc_digest",
    # order-free table digest: BIT_XOR of canonicalized 60-bit row
    # hashes — partitioning/row-order invariant, shard-mergeable
    "SELECT COUNT(*) AS n_rows, bit_xor(h) AS digest FROM ("
    "SELECT ('0x' || substr(md5("
    "COALESCE(CAST(event_id AS VARCHAR), chr(9216)) || chr(31) || "
    "COALESCE(CAST(epoch_us(ts) AS VARCHAR), chr(9216)) || chr(31) || "
    "COALESCE(CAST(user_id AS VARCHAR), chr(9216)) || chr(31) || "
    "COALESCE(event_type, chr(9216)) || chr(31) || "
    "COALESCE(CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR), chr(9216)) "
    "|| chr(31) || COALESCE(props, chr(9216))"
    "), 1, 15))::BIGINT AS h FROM events)",
)
def qc_digest(spark, sf_dir):
    """Dataset-versioning digest of the events table (qc.table_digest):
    one scan, one exchanged row, dtype-canonical rendering."""
    return qc.table_digest(_ds(spark, sf_dir).events)


_BENFORD = ", ".join(repr(__import__("math").log10(1.0 + 1.0 / d)) for d in range(1, 10))


@q(
    "qc_benford",
    # Benford first-digit audit: digit from INTEGER string length
    # (micros quantization) — float log10/floor can flip at
    # power-of-ten boundaries between libm builds, integer rendering
    # cannot; expectations are the same Python-repr literals inlined
    # into both engines
    "WITH pos AS (SELECT CAST(FLOOR(value * 1000000.0) AS BIGINT) AS _n "
    "FROM events WHERE CAST(FLOOR(value * 1000000.0) AS BIGINT) > 0), "
    "c AS (SELECT CAST(_n // CAST(POWER(10, LENGTH(CAST(_n AS VARCHAR)) - 1) "
    "AS BIGINT) AS INT) AS digit, COUNT(*) AS n_obs FROM pos GROUP BY 1), "
    "t AS (SELECT COUNT(*) AS _t FROM pos) "
    f"SELECT digit, n_obs, ROUND(([{_BENFORD}]::DOUBLE[])[digit] * _t, 6) AS n_expected, "
    f"ROUND((n_obs - ([{_BENFORD}]::DOUBLE[])[digit] * _t) "
    f"* (n_obs - ([{_BENFORD}]::DOUBLE[])[digit] * _t) / (([{_BENFORD}]::DOUBLE[])[digit] * _t), 6) "
    "AS chi2_term FROM c, t",
)
def qc_benford(spark, sf_dir):
    """Benford's-law first-digit audit of the event values
    (qc.benford_digits) — the fabricated-data / corrupted-feed screen."""
    return qc.benford_digits(_ds(spark, sf_dir).events)



@q(
    "qc_table_diff",
    # row-level snapshot diff (the digest's drill-down): full-outer on
    # the key, added/removed/changed/same counters; the two snapshots
    # are deterministic modular slices of documents with a planted
    # mutation on doc_id % 11
    "WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0), "
    "nn AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN upper(text) "
    "ELSE text END AS text FROM documents WHERE doc_id % 7 != 0) "
    "SELECT status, COUNT(*) AS n_keys FROM ("
    "SELECT CASE WHEN o.doc_id IS NULL THEN 'added' "
    "WHEN nn.doc_id IS NULL THEN 'removed' "
    "WHEN o.text IS NOT DISTINCT FROM nn.text THEN 'same' "
    "ELSE 'changed' END AS status "
    "FROM o FULL OUTER JOIN nn ON o.doc_id = nn.doc_id) GROUP BY status",
)
def qc_table_diff(spark, sf_dir):
    """Snapshot row diff (qc.table_diff) — added/removed/changed/same
    counts from one full-outer join; constant output at any scale."""
    docs = _ds(spark, sf_dir).documents
    old = docs.where(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    new = docs.where(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 0, F.upper("text"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return qc.table_diff(old, new, "doc_id", "text")


@q(
    "qc_drift_psi",
    # PSI drift between the user_id-parity halves of the events value
    # column: shared equal-width bins, Laplace-smoothed shares
    "WITH v AS (SELECT value AS v, user_id % 2 AS grp FROM events), "
    "ext AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM v), "
    "binz AS (SELECT grp, CASE WHEN hi > lo THEN "
    "LEAST(CAST(FLOOR((v - lo) / (hi - lo) * 10) AS BIGINT), 9) "
    "ELSE 0 END AS bin FROM v, ext), "
    "ca AS (SELECT bin, COUNT(*) AS n_a FROM binz WHERE grp = 0 GROUP BY bin), "
    "cb AS (SELECT bin, COUNT(*) AS n_b FROM binz WHERE grp = 1 GROUP BY bin), "
    "nt AS (SELECT SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS na, "
    "SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS nb FROM v), "
    "bins AS (SELECT UNNEST(range(0, 10)) AS bin) "
    "SELECT bins.bin, COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b, "
    "ROUND(((COALESCE(n_a, 0) + 1) / CAST(na + 10 AS DOUBLE) "
    "- (COALESCE(n_b, 0) + 1) / CAST(nb + 10 AS DOUBLE)) "
    "* LN(((COALESCE(n_a, 0) + 1) / CAST(na + 10 AS DOUBLE)) "
    "/ ((COALESCE(n_b, 0) + 1) / CAST(nb + 10 AS DOUBLE))), 6) AS psi_term "
    "FROM bins LEFT JOIN ca ON bins.bin = ca.bin "
    "LEFT JOIN cb ON bins.bin = cb.bin, nt",
)
def qc_drift_psi(spark, sf_dir):
    """Population-stability drift between the user-parity halves of the
    event value distribution (qc.psi_drift): two scans, constant
    n_bins state."""
    ev = _ds(spark, sf_dir).events
    return qc.psi_drift(
        ev.where(F.col("user_id") % 2 == 0),
        ev.where(F.col("user_id") % 2 == 1),
        "value",
        n_bins=10,
    )


# 3×3 normal-equation determinants for the closed-form ridge probe —
# the SAME expression tree the engine builds (left-associated, same
# parenthesization), so the doubles agree bit-for-bit. a11=n, a12=s1,
# a13=s2, a22=s11+λ, a23=s12, a33=s22+λ; b=[sy, s1y, s2y]; λ=1000.
_R_A22 = "(s11 + 1000.0)"
_R_A33 = "(s22 + 1000.0)"
_RIDGE_DET = (
    f"(n * ({_R_A22} * {_R_A33} - s12 * s12) "
    f"- s1 * (s1 * {_R_A33} - s12 * s2) "
    f"+ s2 * (s1 * s12 - {_R_A22} * s2))"
)
_RIDGE_D0 = (
    f"(sy * ({_R_A22} * {_R_A33} - s12 * s12) "
    f"- s1 * (s1y * {_R_A33} - s12 * s2y) "
    f"+ s2 * (s1y * s12 - {_R_A22} * s2y))"
)
_RIDGE_D1 = (
    f"(n * (s1y * {_R_A33} - s12 * s2y) "
    f"- sy * (s1 * {_R_A33} - s12 * s2) "
    f"+ s2 * (s1 * s2y - s1y * s2))"
)
_RIDGE_D2 = (
    f"(n * ({_R_A22} * s2y - s1y * s12) "
    f"- s1 * (s1 * s2y - s1y * s2) "
    f"+ sy * (s1 * s12 - {_R_A22} * s2))"
)


@q(
    "ml_ridge",
    # closed-form ridge regression (label ~ first two embedding dims):
    # integer-quantized moments (exact — double sums drift, integer
    # sums cannot), then Cramer's rule on doubles converted from exact
    # integers (< 2^53, lossless)
    "WITH qz AS (SELECT "
    "CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1000.0) AS BIGINT) AS x1, "
    "CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * 1000.0) AS BIGINT) AS x2, "
    "CAST(label AS BIGINT) AS y FROM embeddings), "
    "m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, "
    "CAST(SUM(x1) AS DOUBLE) AS s1, CAST(SUM(x2) AS DOUBLE) AS s2, "
    "CAST(SUM(y) AS DOUBLE) AS sy, "
    "CAST(SUM(x1 * x1) AS DOUBLE) AS s11, "
    "CAST(SUM(x1 * x2) AS DOUBLE) AS s12, "
    "CAST(SUM(x2 * x2) AS DOUBLE) AS s22, "
    "CAST(SUM(x1 * y) AS DOUBLE) AS s1y, "
    "CAST(SUM(x2 * y) AS DOUBLE) AS s2y FROM qz) "
    f"SELECT ROUND({_RIDGE_D0} / {_RIDGE_DET}, 6) AS b_intercept, "
    f"ROUND({_RIDGE_D1} / {_RIDGE_DET}, 6) AS b_x1, "
    f"ROUND({_RIDGE_D2} / {_RIDGE_DET}, 6) AS b_x2, "
    "CAST(n AS BIGINT) AS n_rows FROM m",
)
def ml_ridge(spark, sf_dir):
    """Closed-form ridge linear probe (supervised.ridge_closed_form) —
    one-pass exact normal equations, constant state at any scale."""
    from scarf_spark.ml import supervised

    return supervised.ridge_closed_form(_ds(spark, sf_dir).embeddings)


@q(
    "ml_conformal",
    # split-conformal interval for the ridge probe: seedless md5
    # train/calib/test buckets, exact-integer moments on train, q-hat =
    # k-th smallest calib residual with k in INTEGER arithmetic
    # (float ceil(0.9*(n+1)) straddles integers differently per
    # engine), coverage as exact integer ppm
    "WITH pts AS (SELECT vec_id, "
    "CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1000.0) AS BIGINT) AS x1, "
    "CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * 1000.0) AS BIGINT) AS x2, "
    "CAST(label AS BIGINT) AS y, "
    "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % 100 "
    "AS bkt FROM embeddings), "
    "m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, "
    "CAST(SUM(x1) AS DOUBLE) AS s1, CAST(SUM(x2) AS DOUBLE) AS s2, "
    "CAST(SUM(y) AS DOUBLE) AS sy, "
    "CAST(SUM(x1 * x1) AS DOUBLE) AS s11, "
    "CAST(SUM(x1 * x2) AS DOUBLE) AS s12, "
    "CAST(SUM(x2 * x2) AS DOUBLE) AS s22, "
    "CAST(SUM(x1 * y) AS DOUBLE) AS s1y, "
    "CAST(SUM(x2 * y) AS DOUBLE) AS s2y FROM pts WHERE bkt < 50), "
    f"b AS (SELECT {_RIDGE_D0} / {_RIDGE_DET} AS b0, "
    f"{_RIDGE_D1} / {_RIDGE_DET} AS b1, "
    f"{_RIDGE_D2} / {_RIDGE_DET} AS b2, "
    "CAST(n AS BIGINT) AS n_train FROM m), "
    "cal AS (SELECT vec_id, "
    "ABS(CAST(y AS DOUBLE) - (b0 + b1 * x1 + b2 * x2)) AS r "
    "FROM pts, b WHERE bkt >= 50 AND bkt < 80), "
    "kk AS (SELECT (9 * (COUNT(*) + 1) + 9) // 10 AS k, "
    "COUNT(*) AS n_cal FROM cal), "
    "rr AS (SELECT r, ROW_NUMBER() OVER (ORDER BY r, vec_id) AS rn FROM cal), "
    "qq AS (SELECT MAX(r) AS q FROM rr, kk WHERE rn <= k), "
    "tst AS (SELECT ABS(CAST(y AS DOUBLE) - (b0 + b1 * x1 + b2 * x2)) AS r "
    "FROM pts, b WHERE bkt >= 80), "
    "cov AS (SELECT COUNT(*) AS n_test, "
    "CAST(SUM(CASE WHEN r <= (SELECT q FROM qq) THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_covered FROM tst) "
    "SELECT b.n_train, kk.n_cal AS n_calib, cov.n_test, "
    "ROUND((SELECT q FROM qq), 6) AS q_hat, cov.n_covered, "
    "cov.n_covered * 1000000 // cov.n_test AS coverage_ppm "
    "FROM cov, kk, b",
)
def ml_conformal(spark, sf_dir):
    """Split-conformal prediction interval + test coverage for the
    ridge probe (supervised.conformal_ridge) — the distribution-free
    guarantee check on any model-score-thresholding pipeline."""
    from scarf_spark.ml import supervised

    return supervised.conformal_ridge(_ds(spark, sf_dir).embeddings)


@q(
    "ml_quality_logreg",
    # sparse logistic regression over 64 hashed features predicting
    # lang='en' (the fastText-style curation classifier): two unrolled
    # GD steps, expression shapes mirroring the Spark side; the bias
    # is the only driver scalar (staged-literal dataflow)
    "WITH t AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), "
    "x -> x != '')) AS term FROM documents), "
    "coo AS (SELECT doc_id, ('0x' || substr(md5(term), 1, 15))::BIGINT % 64 AS f, "
    "CAST(COUNT(*) AS DOUBLE) AS v FROM t GROUP BY 1, 2), "
    "lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y "
    "FROM documents), "
    "n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM lab), "
    "feats AS (SELECT DISTINCT f FROM coo), "
    "e1 AS (SELECT doc_id, 0.5 - y AS e FROM lab), "
    "g1 AS (SELECT coo.f, SUM(coo.v * e1.e) / (SELECT cnt FROM n) AS g "
    "FROM coo JOIN e1 USING (doc_id) GROUP BY coo.f), "
    "w1 AS (SELECT feats.f, 0.0 - 0.5 * COALESCE(g1.g, 0.0) AS w "
    "FROM feats LEFT JOIN g1 USING (f)), "
    "b1 AS (SELECT 0.0 - 0.5 * AVG(e) AS b FROM e1), "
    "z2 AS (SELECT coo.doc_id, SUM(coo.v * w1.w) AS z FROM coo "
    "JOIN w1 USING (f) GROUP BY coo.doc_id), "
    "e2 AS (SELECT lab.doc_id, 1.0 / (1.0 + EXP(-(COALESCE(z2.z, 0.0) "
    "+ (SELECT b FROM b1)))) - y AS e FROM lab LEFT JOIN z2 USING (doc_id)), "
    "g2 AS (SELECT coo.f, SUM(coo.v * e2.e) / (SELECT cnt FROM n) AS g "
    "FROM coo JOIN e2 USING (doc_id) GROUP BY coo.f), "
    "w2 AS (SELECT w1.f, w1.w - 0.5 * COALESCE(g2.g, 0.0) AS w "
    "FROM w1 LEFT JOIN g2 USING (f)), "
    "b2 AS (SELECT (SELECT b FROM b1) - 0.5 * AVG(e) AS b FROM e2) "
    "SELECT CAST(-1 AS BIGINT) AS d, ROUND(b, 6) AS w FROM b2 "
    "UNION ALL SELECT f AS d, ROUND(w, 6) FROM w2",
)
def ml_quality_logreg(spark, sf_dir):
    """Sparse hashed-feature logistic regression (fastText-style
    quality classifier): hashing_tf -> fully-distributed GD where the
    weight vector is a feature-keyed DataFrame
    (ml.supervised.logreg_gd_sparse)."""
    from scarf_spark.ml import supervised

    docs = _ds(spark, sf_dir).documents
    feats = text.hashing_tf(docs, n_features=64)
    labels = docs.select(
        "doc_id", F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y")
    )
    return supervised.logreg_gd_sparse(feats, labels, n_iter=2, lr=0.5)


@q(
    "ml_nb_scores",
    # multinomial naive Bayes (add-one smoothing) per-(doc, class)
    # log-scores; expression shapes mirror the Spark side exactly
    "WITH words AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), "
    "x -> x != '')) AS term FROM documents), "
    "labs AS (SELECT doc_id, lang AS cls FROM documents), "
    "nd AS (SELECT COUNT(*) AS n FROM documents), "
    "vv AS (SELECT COUNT(DISTINCT term) AS v FROM words), "
    "pri AS (SELECT cls, COUNT(*) AS n_c FROM labs GROUP BY cls), "
    "ctt AS (SELECT cls, term, COUNT(*) AS ct FROM words "
    "JOIN labs USING (doc_id) GROUP BY 1, 2), "
    "tc AS (SELECT cls, SUM(ct) AS tc FROM ctt GROUP BY cls), "
    "dim AS (SELECT pri.cls, n_c, tc FROM pri JOIN tc USING (cls)) "
    "SELECT w.doc_id, d.cls, "
    "ROUND(SUM(LN((COALESCE(ctt.ct, 0) + 1) / "
    "CAST(d.tc + (SELECT v FROM vv) AS DOUBLE))) "
    "+ LN(d.n_c / CAST((SELECT n FROM nd) AS DOUBLE)), 6) AS score "
    "FROM words w CROSS JOIN dim d "
    "LEFT JOIN ctt ON ctt.cls = d.cls AND ctt.term = w.term "
    "GROUP BY w.doc_id, d.cls, d.n_c",
)
def ml_nb_scores(spark, sf_dir):
    """Multinomial naive Bayes log-scores per (doc, class)
    (ml.supervised.naive_bayes_scores) — bag-of-words text
    classification as pure aggregations."""
    from scarf_spark.ml import supervised

    return supervised.naive_bayes_scores(_ds(spark, sf_dir).documents)


# ml_louvain retired from the query surface (r7 verdict #9): ml_leiden
# is the representative rows-only clustering row — it carries Leiden's
# connected-communities guarantee, which Louvain lacks. There is no
# Louvain kernel; ml.cluster.leiden_micros is the one modularity
# clustering kernel.


# SQL replay of the integer-exact Leiden (ml.cluster.leiden_micros) —
# the same promotion playbook as _PARIS_ST_CTE: integer-micro edge
# weights make every modularity-gain argmax an exact-integer compare
# (HUGEINT products guard overflow), the local-move order is pinned
# (ascending position, 2 sweeps x 3 levels), and refinement merges
# only true singletons. Encoding (round-11 rewrite, 3x faster than the
# row-state recursion it replaced): per level, TWO one-row list-state
# recursions — phase 1 carries (comm[], ctot[]) and phase 2 carries
# (ref[], rtot[]) as position-indexed lists, one group-decision per
# step, each step touching only that group's adjacency row (the
# Jacobi list-state pattern of ml_pseudotime_power) — joined by plain
# aggregation CTEs for the level builds and transitions. Step counts
# are intrinsically bounded (WHERE step < passes x n), so a logic bug
# under-produces and the `WHERE step = 2n` state picks go EMPTY — a
# loud 0-row mismatch, never a silent half-run grade. The chain is
# GENERATED (not a literal) because three levels of mechanical
# suffixed CTEs hand-typed is exactly how replay drift happens; it
# expects an `ed` CTE of (a, b, w) normalized undirected integer
# edges and ends at `leiden_lab` (node, lbl).
_LEIDEN_SWEEPS = 2
_LEIDEN_LEVELS = 3


def _leiden_level_build(L, src_edges):
    """Plain CTEs: gl{L} (g,p), ep{L} (pa,pb,w), s-list sl{L} (sl, n),
    adj{L} (p, hs, ws)."""
    return (
        f"gl{L} AS MATERIALIZED (SELECT g, ROW_NUMBER() OVER (ORDER BY g) AS p "
        f"FROM (SELECT DISTINCT g FROM (SELECT a AS g FROM {src_edges} "
        f"UNION ALL SELECT b FROM {src_edges}))), "
        f"ep{L} AS MATERIALIZED (SELECT ga.p AS pa, gb.p AS pb, e.w "
        f"FROM {src_edges} e JOIN gl{L} ga ON ga.g = e.a "
        f"JOIN gl{L} gb ON gb.g = e.b), "
        f"sv{L} AS MATERIALIZED (SELECT p, SUM(w) AS s FROM ("
        f"SELECT pa AS p, CASE WHEN pa = pb THEN 2 * w ELSE w END AS w FROM ep{L} "
        f"UNION ALL SELECT pb, w FROM ep{L} WHERE pa <> pb) GROUP BY 1), "
        f"sl{L} AS MATERIALIZED (SELECT list(COALESCE(s.s, 0) ORDER BY g.p) AS sl, "
        f"COUNT(*) AS n, list(g.p ORDER BY g.p) AS pl "
        f"FROM gl{L} g LEFT JOIN sv{L} s ON s.p = g.p), "
        f"adj{L} AS MATERIALIZED (SELECT p, list(h ORDER BY h) AS hs, "
        f"list(w ORDER BY h) AS ws FROM ("
        f"SELECT pa AS p, pb AS h, w FROM ep{L} WHERE pa <> pb "
        f"UNION ALL SELECT pb, pa, w FROM ep{L} WHERE pa <> pb) GROUP BY 1)"
    )


def _leiden_phase1(L):
    """Recursive r1{L}: (step, comm LIST, ctot LIST); _LEIDEN_SWEEPS passes in
    ascending position order. p1{L} = the final comm list."""
    return (
        f"r1{L} AS (SELECT 0 AS step, (SELECT pl FROM sl{L}) AS comm, "
        f"(SELECT sl FROM sl{L}) AS ctot "
        "UNION ALL ("
        f"WITH c AS (SELECT * FROM r1{L}), "
        f"st AS (SELECT c.step + 1 AS stp, (c.step % (SELECT n FROM sl{L})) + 1 AS pos, "
        f"c.comm AS comm, c.ctot AS ctot FROM c "
        f"WHERE c.step < {_LEIDEN_SWEEPS} * (SELECT n FROM sl{L})), "
        f"j AS (SELECT st.*, COALESCE(a.hs, []) AS hs, COALESCE(a.ws, []) AS ws, "
        f"(SELECT sl FROM sl{L})[st.pos] AS kv, st.comm[st.pos] AS cv, tm.m2 "
        f"FROM st LEFT JOIN adj{L} a ON a.p = st.pos, tm), "
        "dec AS (SELECT *, list_sort(list_distinct(list_append("
        "list_transform(hs, h -> comm[h]), cv))) AS cands FROM j), "
        "g AS (SELECT *, list_transform(cands, cc -> "
        "CAST(COALESCE(list_sum(list_transform(ws, (w, i) -> "
        "CASE WHEN comm[hs[i]] = cc THEN w ELSE 0 END)), 0) AS HUGEINT) * m2 "
        "- CAST(kv AS HUGEINT) * (ctot[cc] - CASE WHEN cc = cv THEN kv ELSE 0 END)"
        ") AS gains FROM dec), "
        "b AS (SELECT *, cands[list_position(gains, list_max(gains))] AS best FROM g) "
        "SELECT stp, "
        "list_transform(comm, (x, i) -> CASE WHEN i = pos THEN best ELSE x END), "
        "list_transform(ctot, (x, i) -> CASE WHEN best = cv THEN x "
        "WHEN i = cv THEN x - kv WHEN i = best THEN x + kv ELSE x END) "
        "FROM b)), "
        f"p1{L} AS MATERIALIZED (SELECT comm FROM r1{L} "
        f"WHERE step = {_LEIDEN_SWEEPS} * (SELECT n FROM sl{L}))"
    )


def _leiden_phase2(L):
    """Recursive r2{L}: (step, ref LIST, rtot LIST) — singleton-only
    refinement in ascending position order against the frozen p1{L}
    communities. fr{L} = the final ref list."""
    return (
        f"r2{L} AS (SELECT 0 AS step, (SELECT pl FROM sl{L}) AS ref, "
        f"(SELECT sl FROM sl{L}) AS rtot "
        "UNION ALL ("
        f"WITH c AS (SELECT * FROM r2{L}), "
        f"st AS (SELECT c.step + 1 AS stp, c.step + 1 AS pos, c.ref AS ref, "
        f"c.rtot AS rtot FROM c WHERE c.step < (SELECT n FROM sl{L})), "
        f"j AS (SELECT st.*, COALESCE(a.hs, []) AS hs, COALESCE(a.ws, []) AS ws, "
        f"(SELECT sl FROM sl{L})[st.pos] AS kv, "
        f"(SELECT comm FROM p1{L}) AS comm, tm.m2 "
        f"FROM st LEFT JOIN adj{L} a ON a.p = st.pos, tm), "
        "hm AS (SELECT *, comm[pos] AS cv, "
        "len(list_filter(ref, (r, i) -> r = pos AND i <> pos)) > 0 AS hasm FROM j), "
        "dec AS (SELECT *, list_sort(list_distinct(list_filter("
        "list_transform(hs, h -> CASE WHEN comm[h] = cv AND ref[h] <> pos "
        "THEN ref[h] ELSE NULL END), x -> x IS NOT NULL))) AS cands FROM hm), "
        "g AS (SELECT *, list_transform(cands, rc -> "
        "CAST(COALESCE(list_sum(list_transform(ws, (w, i) -> "
        "CASE WHEN comm[hs[i]] = cv AND ref[hs[i]] = rc THEN w ELSE 0 END)), 0) "
        "AS HUGEINT) * m2 "
        "- CAST(kv AS HUGEINT) * rtot[rc]) AS gains FROM dec), "
        "b AS (SELECT *, CASE WHEN hasm THEN pos WHEN len(cands) = 0 THEN pos "
        "WHEN list_max(gains) <= 0 THEN pos "
        "ELSE cands[list_position(gains, list_max(gains))] END AS best FROM g) "
        "SELECT stp, "
        "list_transform(ref, (x, i) -> CASE WHEN i = pos THEN best ELSE x END), "
        "list_transform(rtot, (x, i) -> CASE WHEN best = pos THEN x "
        "WHEN i = pos THEN x - kv WHEN i = best THEN x + kv ELSE x END) "
        "FROM b)), "
        f"fr{L} AS MATERIALIZED (SELECT ref FROM r2{L} "
        f"WHERE step = (SELECT n FROM sl{L}))"
    )


def _leiden_transition(L):
    """Plain CTEs: ed{L+1} — re-aggregate level-L position edges by the
    refined partition, mapped back to group-id space; nm{L+1} — node →
    new group id."""
    return (
        f"ed{L + 1} AS MATERIALIZED (SELECT LEAST(x, y) AS a, GREATEST(x, y) AS b, "
        f"SUM(w) AS w FROM (SELECT gA.g AS x, gB.g AS y, e.w "
        f"FROM ep{L} e, fr{L} rf "
        f"JOIN gl{L} gA ON TRUE JOIN gl{L} gB ON TRUE "
        f"WHERE gA.p = rf.ref[e.pa] AND gB.p = rf.ref[e.pb]) GROUP BY 1, 2), "
        f"nm{L + 1} AS MATERIALIZED (SELECT nm.node, gn.g "
        f"FROM nm{L} nm JOIN gl{L} gp ON gp.g = nm.g, fr{L} rf "
        f"JOIN gl{L} gn ON TRUE WHERE gn.p = rf.ref[gp.p])"
    )


def _leiden_chain():
    parts = [
        "tm AS MATERIALIZED (SELECT 2 * SUM(w) AS m2 FROM ed)",
        "ed0 AS MATERIALIZED (SELECT a, b, w FROM ed)",
        "nm0 AS MATERIALIZED (SELECT DISTINCT g AS node, g "
        "FROM (SELECT a AS g FROM ed UNION ALL SELECT b FROM ed))",
    ]
    for L in range(_LEIDEN_LEVELS):
        parts.append(_leiden_level_build(L, f"ed{L}"))
        parts.append(_leiden_phase1(L))
        if L < _LEIDEN_LEVELS - 1:
            parts.append(_leiden_phase2(L))
            parts.append(_leiden_transition(L))
    last = _LEIDEN_LEVELS - 1
    parts.append(
        f"leiden_lab AS (SELECT nm.node, gc.g AS lbl "
        f"FROM nm{last} nm JOIN gl{last} gp ON gp.g = nm.g, p1{last} pc "
        f"JOIN gl{last} gc ON TRUE WHERE gc.p = pc.comm[gp.p])"
    )
    return ", ".join(parts)


_LEIDEN_ST_CTE = _leiden_chain()


@q(
    "ml_leiden",
    f"WITH RECURSIVE {_KNN_CTE}, "
    "ed AS MATERIALIZED (SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b, "
    "SUM(CAST(FLOOR(1000000.0 / (1.0 + distance)) AS BIGINT)) AS w "
    "FROM knn GROUP BY 1, 2), "
    f"{_LEIDEN_ST_CTE}, "
    "mins AS (SELECT lbl, MIN(node) AS mn FROM leiden_lab GROUP BY 1) "
    "SELECT l.node, CAST(DENSE_RANK() OVER (ORDER BY mins.mn) - 1 AS INT) "
    "AS cluster FROM leiden_lab l JOIN mins ON l.lbl = mins.lbl",
)
def ml_leiden(spark, sf_dir):
    """Deterministic Leiden (local move → refinement → aggregate) on
    the collected KNN graph — the reference's leidenalg boundary
    (``graph_datastore.py:1379-1459``), from-scratch per Traag 2019.
    PROMOTED weak → full value oracle (r11): integer-micro weights +
    pinned move order (ml.cluster.leiden_micros) make the whole trace
    an exact-integer state machine that _LEIDEN_ST_CTE replays
    verbatim (two one-row list-state recursions per level — see
    _leiden_chain), exactly how clust_paris_cut was promoted in r10."""
    from scarf_spark.ml import cluster

    edges = _knn_edges(spark, sf_dir).select(
        F.col("src").alias("a"),
        F.col("dst").alias("b"),
        F.floor(F.lit(1000000.0) / (F.lit(1.0) + F.col("distance")))
        .cast("long")
        .alias("w_micros"),
    )
    return cluster.leiden_micros(edges, sweeps=2, levels=3)


# LISI bandwidth bisection mirrored as a DuckDB recursive CTE: per-src
# neighbor distance+label lists, 50 frozen-when-converged bisection steps
# on beta targeting entropy ln(perplexity=3), then Simpson index over
# per-label probability masses (the exact schedule of metrics.lisi._betas).
_LISI_TARGET = 1.0986122886681098  # ln(3.0)
_LISI_SQL = (
    f"WITH RECURSIVE {_KNN_CTE}, "
    "lab AS (SELECT vec_id AS dst, label FROM embeddings), "
    "nb AS (SELECT k.src, list(k.distance ORDER BY k.rank) AS ds, "
    "list(l.label ORDER BY k.rank) AS ls "
    "FROM knn k JOIN lab l ON k.dst = l.dst GROUP BY k.src), "
    "bis AS ("
    "SELECT src, ds, 0 AS it, CAST(0.0 AS DOUBLE) AS lo, "
    "CAST('infinity' AS DOUBLE) AS hi, CAST(1.0 AS DOUBLE) AS beta, "
    "FALSE AS done FROM nb "
    "UNION ALL "
    "SELECT src, ds, it + 1, "
    f"CASE WHEN newdone THEN lo WHEN h > {_LISI_TARGET!r} THEN beta ELSE lo END, "
    f"CASE WHEN newdone THEN hi WHEN h > {_LISI_TARGET!r} THEN hi ELSE beta END, "
    "CASE WHEN newdone THEN beta "
    f"WHEN h > {_LISI_TARGET!r} AND isinf(hi) THEN beta * 2.0 "
    f"WHEN h > {_LISI_TARGET!r} THEN (beta + hi) / 2.0 "
    "ELSE (lo + beta) / 2.0 END, "
    "newdone FROM ("
    f"SELECT *, done OR s <= 0 OR abs(h - {_LISI_TARGET!r}) < 1e-5 AS newdone "
    "FROM (SELECT *, list_aggregate(list_transform(ws, "
    "w -> -(w / greatest(s, 1e-300)) * "
    "ln(greatest(w / greatest(s, 1e-300), 1e-300))), 'sum') AS h "
    "FROM (SELECT *, list_aggregate(ws, 'sum') AS s "
    "FROM (SELECT *, list_transform(ds, d -> exp(-d * beta)) AS ws "
    "FROM bis WHERE it < 50))))), "
    "fin AS (SELECT src, beta FROM bis WHERE it = 50), "
    "wexp AS (SELECT n.src, n.ds, n.ls, "
    "list_transform(n.ds, d -> exp(-d * f.beta)) AS ws "
    "FROM nb n JOIN fin f ON n.src = f.src), "
    "wsum AS (SELECT *, list_aggregate(ws, 'sum') AS s FROM wexp), "
    "pl AS (SELECT src, unnest(ls) AS label, "
    "CASE WHEN s > 0 THEN unnest(ws) / s ELSE 1.0 / len(ds) END AS p "
    "FROM wsum), "
    "bylab AS (SELECT src, label, sum(p) AS sp FROM pl GROUP BY src, label), "
    "simp AS (SELECT src, sum(sp * sp) AS simpson FROM bylab GROUP BY src) "
    "SELECT src, ROUND(1.0 / simpson, 6) AS lisi FROM simp"
)


@q("ml_lisi", _LISI_SQL)
def ml_lisi(spark, sf_dir):
    from scarf_spark.ml import metrics

    ds = _ds(spark, sf_dir)
    edges = _knn_edges(spark, sf_dir)
    labels = ds.embeddings.select(F.col("vec_id").alias("cell_id"), "label")
    return metrics.lisi(edges, labels, perplexity=3.0)


@q("ml_pseudotime")  # weak: smallest-SV pseudoinverse is driver_compute
def ml_pseudotime(spark, sf_dir):
    from scarf_spark.ml import pseudotime

    edges = _knn_edges(spark, sf_dir).withColumn(
        "weight", 1.0 / (1.0 + F.col("distance"))
    )
    return pseudotime.pba_pseudotime(edges, source_node=0)


# Distributed pseudotime oracle: the deflated Richardson recursion is
# SMOOTH (sums + one multiply-divide shape per step), so a recursive
# CTE carrying the whole potential vector as one DOUBLE[] row replays
# it exactly — the same list-state pattern as the Jacobi eigensolver.
# The deflation term d·(1ᵀu)/(1ᵀd) is mathematically zero (1ᵀM = 1ᵀ
# preserves the zero-sum gauge) and only scrubs float drift, so its
# cross-engine sum-order difference is sub-ulp by construction.
_HPOT_ITERS = 16
_HPOT_CTE = (
    "hew AS MATERIALIZED (SELECT i, j, SUM(w) AS w FROM ("
    "SELECT src AS i, dst AS j, 1.0 / (1.0 + distance) AS w FROM knn "
    "UNION ALL SELECT dst, src, 1.0 / (1.0 + distance) FROM knn) "
    "GROUP BY i, j), "
    "hdeg AS MATERIALIZED (SELECT j, SUM(w) AS d FROM hew GROUP BY j), "
    "hidx AS MATERIALIZED (SELECT i AS node, CAST(ROW_NUMBER() OVER (ORDER BY i) AS INT) "
    "AS ix FROM (SELECT DISTINCT i FROM hew)), "
    "hn AS MATERIALIZED (SELECT COUNT(*) AS c FROM hidx), "
    "hsd AS MATERIALIZED (SELECT SUM(d) AS sd FROM hdeg), "
    "hbl AS MATERIALIZED (SELECT list(CASE WHEN node = 0 THEN CAST(1.0 AS DOUBLE) "
    "ELSE -1.0 / ((SELECT c FROM hn) - 1) END ORDER BY ix) AS bl FROM hidx), "
    "hdl AS MATERIALIZED (SELECT list(d ORDER BY ix) AS dl FROM "
    "(SELECT hidx.ix, hdeg.d FROM hidx JOIN hdeg ON hidx.node = hdeg.j)), "
    "hadj AS MATERIALIZED (SELECT list(sub ORDER BY ix) AS adj FROM ("
    "SELECT i2.ix AS ix, list(struct_pack(jx := j2.ix, "
    "wn := e.w / dg.d) ORDER BY j2.ix) AS sub "
    "FROM hew e JOIN hidx i2 ON e.i = i2.node "
    "JOIN hidx j2 ON e.j = j2.node JOIN hdeg dg ON e.j = dg.j "
    "GROUP BY i2.ix)), "
    "hrec(t, v) AS ("
    "SELECT 0, (SELECT bl FROM hbl) "
    "UNION ALL "
    "SELECT s2.t + 1, list_transform(range(1, s2.c + 1), "
    "k2 -> s2.u[k2] - s2.dl[k2] * list_aggregate(s2.u, 'sum') / s2.sd) "
    "FROM (SELECT r.t, hn.c, hsd.sd, hdl.dl, "
    "list_transform(range(1, hn.c + 1), k -> hbl.bl[k] + "
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(hadj.adj[k], p -> p.wn * r.v[p.jx])), "
    "(acc, x) -> acc + x)) AS u "
    "FROM hrec r, hn, hsd, hdl, hbl, hadj "
    f"WHERE r.t < {_HPOT_ITERS}) s2), "
    f"hfin AS MATERIALIZED (SELECT v FROM hrec WHERE t = {_HPOT_ITERS}), "
    "hex AS (SELECT list_aggregate(v, 'min') AS mn, "
    "list_aggregate(v, 'max') AS mx FROM hfin)"
)


@q(
    "ml_pseudotime_power",
    f"WITH RECURSIVE {_KNN_CTE}, {_HPOT_CTE} "
    "SELECT hidx.node, CASE WHEN hex.mx > hex.mn THEN "
    "ROUND((hfin.v[hidx.ix] - hex.mn) / (hex.mx - hex.mn), 6) "
    "ELSE 0.0 END AS pseudotime FROM hidx, hfin, hex",
)
def ml_pseudotime_power(spark, sf_dir):
    """Fully distributed PBA potential (ml.pseudotime.
    harmonic_potential): fixed-16-round deflated Richardson solve of
    the random-walk Laplacian system — one edge⋈vector join + hash agg
    per round, NO graph collect, the scale path past the driver-svds
    boundary that ml_pseudotime documents."""
    from scarf_spark.ml import pseudotime

    edges = _knn_edges(spark, sf_dir).withColumn(
        "weight", 1.0 / (1.0 + F.col("distance"))
    )
    return pseudotime.harmonic_potential(
        edges, source_node=0, n_iter=_HPOT_ITERS
    )


# ---------------------------------------------------------------------------
# §2.10 mapping: cross-set KNN, UMAP kernel smoothing, unified graph
# ---------------------------------------------------------------------------

_CROSS_KNN_CTE = (
    "ref AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings "
    "WHERE vec_id % 2 = 0), "
    "tgt AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings "
    "WHERE vec_id % 2 = 1), "
    "refn AS (SELECT vec_id, v, "
    "sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm FROM ref), "
    "tgtn AS (SELECT vec_id, v, "
    "sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm FROM tgt), "
    "xpairs AS (SELECT t.vec_id AS src, r.vec_id AS dst, "
    "1.0 - list_inner_product(t.v, r.v) / (t.nrm * r.nrm) AS distance "
    "FROM tgtn t JOIN refn r ON TRUE), "
    "xknn AS (SELECT src, rn AS rank, dst, ROUND(distance, 6) AS distance FROM "
    "(SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY distance, dst) AS rn "
    "FROM xpairs) WHERE rn <= 3)"
)


@q("knn_cross_topk", f"WITH {_CROSS_KNN_CTE} SELECT src, rank, dst, distance FROM xknn")
def knn_cross_topk(spark, sf_dir):
    # routed through the sharded grid (no driver toPandas of the index)
    # since round 7; cosine_knn_cross remains the small-index path
    emb = _ds(spark, sf_dir).embeddings
    ref = emb.where(F.col("vec_id") % 2 == 0)
    tgt = emb.where(F.col("vec_id") % 2 == 1)
    return knn.cosine_knn_cross_sharded(tgt, ref, k=3, n_shards=4)


@q(
    "knn_cross_sharded",
    # same mapping shape at k=4 over a 6-shard grid: per-shard top-k ⊇
    # global top-k, so the grid is value-identical to the dense scan
    f"WITH {_CROSS_KNN_CTE.replace('rn <= 3', 'rn <= 4')} "
    "SELECT src, rank, dst, distance FROM xknn",
)
def knn_cross_sharded(spark, sf_dir):
    emb = _ds(spark, sf_dir).embeddings
    ref = emb.where(F.col("vec_id") % 2 == 0)
    tgt = emb.where(F.col("vec_id") % 2 == 1)
    return knn.cosine_knn_cross_sharded(tgt, ref, k=4, n_shards=6)


# UMAP-kernel bisection mirrored as a DuckDB recursive CTE: per-src
# excess-distance lists, 64 frozen-when-converged bisection steps on
# sigma (the exact update schedule of knn.smoothen_dists._smooth_matrix),
# then weight = exp(-excess/sigma) floored at 1e-4. log2(5) target.
_SMOOTH_TARGET = 2.321928094887362  # log2(k=5)
_SMOOTH_SQL = (
    f"WITH RECURSIVE {_KNN_CTE}, "
    "rhot AS (SELECT src, "
    "coalesce(min(CASE WHEN distance > 0 THEN distance END), 0.0) AS rho "
    "FROM knn GROUP BY src), "
    "exc AS (SELECT k.src, "
    "list(greatest(k.distance - r.rho, 0.0) ORDER BY k.rank) AS ex "
    "FROM knn k JOIN rhot r ON k.src = r.src GROUP BY k.src), "
    "bis AS ("
    "SELECT src, ex, 0 AS it, CAST(0.0 AS DOUBLE) AS lo, "
    "CAST('infinity' AS DOUBLE) AS hi, CAST(1.0 AS DOUBLE) AS mid, "
    "FALSE AS done FROM exc "
    "UNION ALL "
    "SELECT src, ex, it + 1, "
    f"CASE WHEN newdone THEN lo WHEN psum > {_SMOOTH_TARGET!r} THEN lo "
    "ELSE mid END, "
    f"CASE WHEN newdone THEN hi WHEN psum > {_SMOOTH_TARGET!r} THEN mid "
    "ELSE hi END, "
    "CASE WHEN newdone THEN mid "
    f"WHEN psum > {_SMOOTH_TARGET!r} THEN (lo + mid) / 2.0 "
    "WHEN isinf(hi) THEN mid * 2.0 ELSE (mid + hi) / 2.0 END, "
    "newdone FROM ("
    f"SELECT *, done OR abs(psum - {_SMOOTH_TARGET!r}) < 1e-5 AS newdone "
    "FROM (SELECT *, "
    "list_aggregate(list_transform(ex, x -> exp(-x / mid)), 'sum') AS psum "
    "FROM bis WHERE it < 64))), "
    "fin AS (SELECT src, mid FROM bis WHERE it = 64) "
    "SELECT k.src, k.dst, "
    "ROUND(greatest(exp(-greatest(k.distance - r.rho, 0.0) / "
    "greatest(f.mid, 1e-12)), 1e-4), 6) AS weight "
    "FROM knn k JOIN rhot r ON k.src = r.src JOIN fin f ON k.src = f.src"
)


@q("knn_smooth_weights", _SMOOTH_SQL)
def knn_smooth_weights(spark, sf_dir):
    edges = _knn_edges(spark, sf_dir)
    return knn.smoothen_dists(edges, k=5)


@q(
    "graph_unified",
    # ref self-KNN over even vec_ids + target→ref projection edges at
    # uniform weight (mapping_datastore.py:366-661 unified graph)
    f"WITH {_CROSS_KNN_CTE}, "
    "rpairs AS (SELECT a.vec_id AS src, b.vec_id AS dst, "
    "1.0 - list_inner_product(a.v, b.v) / (a.nrm * b.nrm) AS distance "
    "FROM refn a JOIN refn b ON a.vec_id != b.vec_id), "
    "rknn AS (SELECT src, dst, ROUND(distance, 6) AS distance FROM "
    "(SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY distance, dst) AS rn "
    "FROM rpairs) WHERE rn <= 5) "
    "SELECT src, dst, ROUND(1.0 / (1.0 + distance), 6) AS weight, 'ref' AS kind "
    "FROM rknn "
    "UNION ALL SELECT src, dst, 1.0 AS weight, 'proj' AS kind FROM xknn",
)
def graph_unified(spark, sf_dir):
    emb = _ds(spark, sf_dir).embeddings
    ref = emb.where(F.col("vec_id") % 2 == 0)
    tgt = emb.where(F.col("vec_id") % 2 == 1)
    ref_edges = knn.cosine_knn_exact(ref, k=5).select(
        "src",
        "dst",
        F.round(1.0 / (1.0 + F.col("distance")), 6).alias("weight"),
        F.lit("ref").alias("kind"),
    )
    proj_edges = knn.cosine_knn_cross(tgt, ref, k=3).select(
        "src", "dst", F.lit(1.0).alias("weight"), F.lit("proj").alias("kind")
    )
    return ref_edges.unionByName(proj_edges)


# ---------------------------------------------------------------------------
# §2.10 feature-module clustering (markers.py:323-439)
# ---------------------------------------------------------------------------

_FEAT_KNN_CTE = (
    # Dense-vector form (round 12): the former relational dot —
    # prof ⋈ prof ON bin, grouped — materialized F² rows PER BIN
    # (4×10⁹ join rows at sf0.1's 20k features), which no 180s-class
    # budget survives. Folding each feature's 10 binned means into one
    # dense list first makes the pair stage F² rows of a 10-term
    # list_inner_product — same values (ROUND(6) profile entries, a
    # 10-term dot re-associated at most), ~100x less join traffic.
    f"{COUNTS_CTE}, "
    "co AS (SELECT o_orderkey AS cell_id, o_totalprice AS x FROM orders), "
    "bc AS (SELECT cell_id, NTILE(10) OVER (ORDER BY x, cell_id) AS bin FROM co), "
    "prof AS (SELECT feat_id, bin, ROUND(AVG(value), 6) AS m "
    "FROM counts c JOIN bc ON c.cell_id = bc.cell_id GROUP BY 1, 2), "
    "fv AS MATERIALIZED (SELECT f.feat_id, "
    "list(COALESCE(p.m, 0.0) ORDER BY r.b) AS v "
    "FROM (SELECT DISTINCT feat_id FROM prof) f "
    "CROSS JOIN (SELECT UNNEST(range(1, 11)) AS b) r "
    "LEFT JOIN prof p ON p.feat_id = f.feat_id AND p.bin = r.b "
    "GROUP BY f.feat_id), "
    "nv AS MATERIALIZED (SELECT feat_id, v, "
    "sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm "
    "FROM fv), "
    "fpairs AS (SELECT a.feat_id AS src, b.feat_id AS dst, "
    "1.0 - list_inner_product(a.v, b.v) / (a.nrm * b.nrm) AS distance "
    "FROM nv a JOIN nv b ON a.feat_id != b.feat_id), "
    "knn AS MATERIALIZED (SELECT src, rn AS rank, dst, distance FROM "
    "(SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY distance, dst) AS rn "
    "FROM fpairs) WHERE rn <= 5)"
)


_FEAT_KNN_CACHE: dict[tuple, DataFrame] = {}


def _feat_knn_edges(spark, sf_dir):
    """Feature-KNN edge table (src, rank, dst, distance) — binned
    mean-expression profiles → sharded cosine KNN over feat_ids.
    Persisted + memoized per (session, sf_dir): mark_feat_knn and
    mark_feat_modules both start here, and previously each rebuilt the
    whole profile + KNN subplan (the single biggest duplicated cost in
    the bench, ~40% of the pair's combined serial time). Same memo
    contract as ``_knn_edges``."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _FEAT_KNN_CACHE:
        ds = _ds(spark, sf_dir)
        cell_order = ds.orders.select(
            F.col("o_orderkey").alias("cell_id"),
            F.col("o_totalprice").alias("x"),
        )
        _FEAT_KNN_CACHE[key] = markers.feature_module_knn(
            ds.counts(), cell_order, n_bins=10, k=5
        ).persist()
    return _FEAT_KNN_CACHE[key]


@q("mark_feat_knn", f"WITH {_FEAT_KNN_CTE} SELECT src, rank, dst FROM knn")
def mark_feat_knn(spark, sf_dir):
    return _feat_knn_edges(spark, sf_dir).select("src", "rank", "dst")


@q(
    "mark_feat_modules",
    f"WITH {_FEAT_KNN_CTE}, "
    # MATERIALIZED: und is consumed once per label-prop iteration and
    # its upstream is the full feature-KNN — inlined it re-executes per
    # reference (~4x the oracle runtime)
    + "und AS MATERIALIZED (SELECT DISTINCT src, dst FROM "
    "(SELECT src, dst FROM knn UNION ALL SELECT dst, src FROM knn)), "
    "l0 AS (SELECT DISTINCT src AS node, src AS cluster FROM und), "
    + ", ".join(
        (
            "r{t} AS (SELECT u.src AS node, l.cluster, COUNT(*) AS n FROM und u "
            "JOIN l{p} l ON u.dst = l.node GROUP BY 1, 2), "
            "l{t} AS (SELECT node, cluster FROM (SELECT node, cluster, "
            "ROW_NUMBER() OVER (PARTITION BY node ORDER BY n DESC, cluster) AS rn "
            "FROM r{t}) WHERE rn = 1)"
        ).format(t=t, p=t - 1)
        for t in (1, 2, 3)
    )
    + " SELECT node, cluster FROM l3",
)
def mark_feat_modules(spark, sf_dir):
    from scarf_spark.ml.cluster import label_propagation

    # same memoized feature-KNN table as mark_feat_knn — previously
    # each of the pair rebuilt the binned profiles + sharded KNN from
    # scratch (the r10 verdict's duplicated-subplan item)
    return label_propagation(_feat_knn_edges(spark, sf_dir), n_iter=3)


# ---------------------------------------------------------------------------
# §2.10 integration / demux / metrics / sketching
# ---------------------------------------------------------------------------

_KNN32_CTE = (
    "e32 AS (SELECT vec_id, CAST(list_slice(embedding, 1, 32) AS DOUBLE[]) AS v "
    "FROM embeddings), "
    "nv32 AS (SELECT vec_id, v, "
    "sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm FROM e32), "
    "pairs32 AS (SELECT a.vec_id AS src, b.vec_id AS dst, "
    "1.0 - list_inner_product(a.v, b.v) / (a.nrm * b.nrm) AS distance "
    "FROM nv32 a JOIN nv32 b ON a.vec_id != b.vec_id), "
    "knn32 AS (SELECT src, dst, ROUND(distance, 6) AS distance FROM "
    "(SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY distance, dst) AS rn "
    "FROM pairs32) WHERE rn <= 5)"
)


@q(
    "ml_wnn",
    f"WITH {_KNN_CTE}, {_KNN32_CTE}, "
    "affa AS (SELECT src, AVG(1.0 / (1.0 + distance)) AS aff_a FROM knn GROUP BY src), "
    "affb AS (SELECT src, AVG(1.0 / (1.0 + distance)) AS aff_b FROM knn32 GROUP BY src), "
    "wts AS (SELECT COALESCE(a.src, b.src) AS src, "
    "COALESCE(aff_a, 0) / (COALESCE(aff_a, 0) + COALESCE(aff_b, 0)) AS w_a "
    "FROM affa a FULL OUTER JOIN affb b ON a.src = b.src), "
    "ea AS (SELECT src, dst, 1.0 / (1.0 + distance) AS sim_a FROM knn), "
    "eb AS (SELECT src, dst, 1.0 / (1.0 + distance) AS sim_b FROM knn32), "
    "cand AS (SELECT COALESCE(ea.src, eb.src) AS src, COALESCE(ea.dst, eb.dst) AS dst, "
    "COALESCE(sim_a, 0) AS sim_a, COALESCE(sim_b, 0) AS sim_b "
    "FROM ea FULL OUTER JOIN eb ON ea.src = eb.src AND ea.dst = eb.dst), "
    "blended AS (SELECT c.src, c.dst, "
    "w.w_a * c.sim_a + (1 - w.w_a) * c.sim_b AS blend "
    "FROM cand c JOIN wts w ON c.src = w.src) "
    "SELECT src, rn AS rank, dst, ROUND(blend, 6) AS weight FROM "
    "(SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY blend DESC, dst) AS rn "
    "FROM blended) WHERE rn <= 5",
)
def ml_wnn(spark, sf_dir):
    from scarf_spark.ml import integrate

    emb = _ds(spark, sf_dir).embeddings
    edges_a = _knn_edges(spark, sf_dir)  # memoized full-dim KNN
    emb32 = emb.select("vec_id", F.slice("embedding", 1, 32).alias("embedding"))
    edges_b = knn.cosine_knn_exact(emb32, k=5)
    return integrate.wnn_blend(edges_a, edges_b, k=5)


@q(
    "knn_purity",
    # neighborhood label purity: two label joins + one hash agg; exact
    # integer ppm (n_same*1e6 // k) — no float division
    f"WITH {_KNN_CTE}, "
    "lab AS (SELECT vec_id, label FROM embeddings) "
    "SELECT knn.src, COUNT(*) AS n_neighbors, "
    "CAST(SUM(CASE WHEN ls.label = ld.label THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_same, "
    "CAST(SUM(CASE WHEN ls.label = ld.label THEN 1 ELSE 0 END) AS BIGINT) "
    "* 1000000 // COUNT(*) AS purity_ppm "
    "FROM knn JOIN lab ls ON knn.src = ls.vec_id "
    "JOIN lab ld ON knn.dst = ld.vec_id GROUP BY knn.src",
)
def knn_purity(spark, sf_dir):
    """KNN neighborhood label purity (ml.metrics.knn_label_purity) —
    the direct classification-quality read on the embedding space."""
    from scarf_spark.ml import metrics

    emb = _ds(spark, sf_dir).embeddings
    return metrics.knn_label_purity(
        _knn_edges(spark, sf_dir), emb.select("vec_id", "label")
    )


@q(
    "ml_ndcg",
    # NDCG@5 of the KNN graph vs class labels: DCG folds the ordered
    # rel/log2(rank+1) list (fixed order both engines), IDCG is a
    # closed-form literal per n_rel, zero-relevance rows score 0
    f"WITH {_KNN_CTE}, "
    "lab AS (SELECT vec_id, label FROM embeddings), "
    "ee AS (SELECT knn.src, knn.rank, "
    "CASE WHEN ls.label = ld.label THEN 1 ELSE 0 END AS rel "
    "FROM knn JOIN lab ls ON knn.src = ls.vec_id "
    "JOIN lab ld ON knn.dst = ld.vec_id), "
    "ag AS (SELECT src, list_aggregate(list("
    "CASE WHEN rel = 1 THEN 1.0 / log2(rank + 1.0) ELSE 0.0 END "
    "ORDER BY rank), 'sum') AS dcg, SUM(rel) AS n_rel FROM ee GROUP BY src) "
    "SELECT src, CAST(n_rel AS INT) AS n_rel, "
    "CASE WHEN n_rel > 0 THEN ROUND(dcg / (CASE CAST(n_rel AS INT) "
    "WHEN 1 THEN 1.0 WHEN 2 THEN 1.6309297535714575 "
    "WHEN 3 THEN 2.1309297535714578 WHEN 4 THEN 2.5616063116448506 "
    "ELSE 2.9484591188793923 END), 6) ELSE 0.0 END AS ndcg FROM ag",
)
def ml_ndcg(spark, sf_dir):
    """NDCG@5 of the KNN graph against labels (ml.metrics.knn_ndcg) —
    purity counts hits, NDCG weighs where they rank."""
    from scarf_spark.ml import metrics

    emb = _ds(spark, sf_dir).embeddings
    return metrics.knn_ndcg(
        _knn_edges(spark, sf_dir), emb.select("vec_id", "label"), k=5
    )


@q(
    "ml_calibration",
    # reliability bins for the BINARY naive-Bayes en-posterior: two
    # scores only, so p = 1/(1+exp(s_other - s_en)) is one smooth
    # expression over ROUND(6)-stable log-scores — no cross-class sum,
    # no accumulation-order sensitivity; per-bin outputs are exact
    # integers
    "WITH words AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), "
    "x -> x != '')) AS term FROM documents), "
    "labs AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END "
    "AS cls FROM documents), "
    "nd AS (SELECT COUNT(*) AS n FROM documents), "
    "vv AS (SELECT COUNT(DISTINCT term) AS v FROM words), "
    "pri AS (SELECT cls, COUNT(*) AS n_c FROM labs GROUP BY cls), "
    "ctt AS (SELECT cls, term, COUNT(*) AS ct FROM words "
    "JOIN labs USING (doc_id) GROUP BY 1, 2), "
    "tc AS (SELECT cls, SUM(ct) AS tc FROM ctt GROUP BY cls), "
    "dim AS (SELECT pri.cls, n_c, tc FROM pri JOIN tc USING (cls)), "
    "sco AS (SELECT w.doc_id, d.cls, "
    "ROUND(SUM(LN((COALESCE(ctt.ct, 0) + 1) / "
    "CAST(d.tc + (SELECT v FROM vv) AS DOUBLE))) "
    "+ LN(d.n_c / CAST((SELECT n FROM nd) AS DOUBLE)), 6) AS score "
    "FROM words w CROSS JOIN dim d "
    "LEFT JOIN ctt ON ctt.cls = d.cls AND ctt.term = w.term "
    "GROUP BY w.doc_id, d.cls, d.n_c), "
    "piv AS (SELECT doc_id, "
    "MAX(CASE WHEN cls = 'en' THEN score END) AS se, "
    "MAX(CASE WHEN cls = 'other' THEN score END) AS so "
    "FROM sco GROUP BY doc_id), "
    "bn AS (SELECT LEAST(CAST(FLOOR((1.0 / (1.0 + EXP(so - se))) * 10) "
    "AS INT), 9) AS bin, "
    "CAST(FLOOR((1.0 / (1.0 + EXP(so - se))) * 1000000.0) AS BIGINT) AS ppm, "
    "CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos "
    "FROM piv JOIN documents d USING (doc_id)), "
    "ag AS (SELECT bin, COUNT(*) AS n_docs, "
    "CAST(SUM(ppm) AS BIGINT) AS sum_pred_ppm, "
    "CAST(SUM(pos) AS BIGINT) AS n_pos FROM bn GROUP BY bin) "
    "SELECT bin, n_docs, sum_pred_ppm, n_pos, "
    "sum_pred_ppm // n_docs AS mean_pred_ppm, "
    "(n_pos * 1000000) // n_docs AS acc_ppm FROM ag",
)
def ml_calibration(spark, sf_dir):
    """Reliability/ECE bins for the binary NB 'en' posterior
    (ml.metrics.nb_binary_calibration) — the classifier-honesty gauge
    before any score-threshold curation step."""
    from scarf_spark.ml import metrics

    return metrics.nb_binary_calibration(_ds(spark, sf_dir).documents)


@q(
    "ml_pr_curve",
    # precision/recall at decile thresholds of the SAME binned binary
    # NB posterior as ml_calibration: cumulative window DESC over the
    # <= 10 aggregate rows, exact integer ppm
    _CAL_CTE := (
        "WITH words AS (SELECT doc_id, unnest(list_filter("
        "string_split(text, ' '), x -> x != '')) AS term FROM documents), "
        "labs AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 'en' "
        "ELSE 'other' END AS cls FROM documents), "
        "nd AS (SELECT COUNT(*) AS n FROM documents), "
        "vv AS (SELECT COUNT(DISTINCT term) AS v FROM words), "
        "pri AS (SELECT cls, COUNT(*) AS n_c FROM labs GROUP BY cls), "
        "ctt AS (SELECT cls, term, COUNT(*) AS ct FROM words "
        "JOIN labs USING (doc_id) GROUP BY 1, 2), "
        "tc AS (SELECT cls, SUM(ct) AS tc FROM ctt GROUP BY cls), "
        "dim AS (SELECT pri.cls, n_c, tc FROM pri JOIN tc USING (cls)), "
        "sco AS (SELECT w.doc_id, d.cls, "
        "ROUND(SUM(LN((COALESCE(ctt.ct, 0) + 1) / "
        "CAST(d.tc + (SELECT v FROM vv) AS DOUBLE))) "
        "+ LN(d.n_c / CAST((SELECT n FROM nd) AS DOUBLE)), 6) AS score "
        "FROM words w CROSS JOIN dim d "
        "LEFT JOIN ctt ON ctt.cls = d.cls AND ctt.term = w.term "
        "GROUP BY w.doc_id, d.cls, d.n_c), "
        "piv AS (SELECT doc_id, "
        "MAX(CASE WHEN cls = 'en' THEN score END) AS se, "
        "MAX(CASE WHEN cls = 'other' THEN score END) AS so "
        "FROM sco GROUP BY doc_id), "
        "bn AS (SELECT LEAST(CAST(FLOOR((1.0 / (1.0 + EXP(so - se))) * 10) "
        "AS INT), 9) AS bin, "
        "CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos "
        "FROM piv JOIN documents d USING (doc_id)), "
        "ag AS (SELECT bin, COUNT(*) AS n_docs, "
        "CAST(SUM(pos) AS BIGINT) AS n_pos FROM bn GROUP BY bin), "
        "cum AS (SELECT bin AS threshold_bin, "
        "CAST(SUM(n_pos) OVER (ORDER BY bin DESC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp, "
        "CAST(SUM(n_docs) OVER (ORDER BY bin DESC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        "- SUM(n_pos) OVER (ORDER BY bin DESC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp "
        "FROM ag), "
        "tot AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS p FROM ag) "
        "SELECT threshold_bin, tp, fp, CAST(p - tp AS BIGINT) AS fn, "
        "tp * 1000000 // (tp + fp) AS precision_ppm, "
        "tp * 1000000 // p AS recall_ppm FROM cum, tot"
    ),
)
def ml_pr_curve(spark, sf_dir):
    """Precision/recall operating points for the binary NB posterior
    (ml.metrics.nb_pr_curve) — pairs with ml_calibration on the same
    binned classifier."""
    from scarf_spark.ml import metrics

    return metrics.nb_pr_curve(_ds(spark, sf_dir).documents)


@q(
    "ml_silhouette",
    # squared-euclidean silhouette via cluster sufficient statistics —
    # O(n·C), no pairwise join; mirrors metrics.silhouette_squared
    "WITH pts AS (SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS pv, "
    "label AS plab FROM embeddings), "
    "n2 AS (SELECT pid, pv, plab, "
    "list_aggregate(list_transform(pv, x -> x * x), 'sum') AS norm2 FROM pts), "
    "el AS (SELECT plab, generate_subscripts(pv, 1) AS i, unnest(pv) AS x FROM pts), "
    "sv AS (SELECT plab, list(sx ORDER BY i) AS s_c FROM "
    "(SELECT plab, i, SUM(x) AS sx FROM el GROUP BY 1, 2) GROUP BY 1), "
    "cl AS (SELECT n2.plab AS clab, COUNT(*) AS n_c, SUM(norm2) AS q_c, ANY_VALUE(s_c) AS s_c "
    "FROM n2 JOIN sv ON n2.plab = sv.plab GROUP BY 1), "
    "pc AS (SELECT p.pid, p.plab, c.clab, c.n_c, "
    "c.q_c + c.n_c * p.norm2 - 2 * list_inner_product(p.pv, c.s_c) AS sq "
    "FROM n2 p CROSS JOIN cl c), "
    "per AS (SELECT pid, plab, "
    "ROUND(MAX(CASE WHEN plab = clab THEN sq END) / "
    "NULLIF(MAX(CASE WHEN plab = clab THEN n_c END) - 1, 0), 4) AS a, "
    "ROUND(MIN(CASE WHEN plab != clab THEN sq / n_c END), 4) AS b, "
    "MAX(CASE WHEN plab = clab THEN n_c END) AS n_own "
    "FROM pc GROUP BY 1, 2) "
    "SELECT pid AS vec_id, ROUND(CASE WHEN n_own = 1 THEN 0.0 "
    "ELSE (b - a) / GREATEST(a, b) END, 6) AS silhouette FROM per",
)
def ml_silhouette(spark, sf_dir):
    from scarf_spark.ml import metrics

    emb = _ds(spark, sf_dir).embeddings.select(
        "vec_id", F.col("embedding").alias("v"), "label"
    )
    return metrics.silhouette_squared(emb, dim=64)


@q(
    "agg_cc_phase",
    f"WITH {COUNTS_CTE}, "
    "s_set AS (SELECT p_partkey AS feat_id FROM part "
    "WHERE regexp_matches(UPPER(p_name), 'RED')), "
    "g_set AS (SELECT p_partkey AS feat_id FROM part "
    "WHERE regexp_matches(UPPER(p_name), 'BLUE')), "
    "base AS (SELECT cell_id, AVG(value) AS base_mean FROM counts GROUP BY 1), "
    "sm AS (SELECT cell_id, AVG(value) AS s_raw FROM counts "
    "WHERE feat_id IN (SELECT feat_id FROM s_set) GROUP BY 1), "
    "gm AS (SELECT cell_id, AVG(value) AS g_raw FROM counts "
    "WHERE feat_id IN (SELECT feat_id FROM g_set) GROUP BY 1), "
    "sc AS (SELECT b.cell_id, "
    "ROUND(COALESCE(s_raw, 0.0) - base_mean, 6) AS s_score, "
    "ROUND(COALESCE(g_raw, 0.0) - base_mean, 6) AS g2m_score "
    "FROM base b LEFT JOIN sm ON b.cell_id = sm.cell_id "
    "LEFT JOIN gm ON b.cell_id = gm.cell_id) "
    "SELECT cell_id, s_score, g2m_score, "
    "CASE WHEN s_score <= 0 AND g2m_score <= 0 THEN 'G1' "
    "WHEN s_score > g2m_score THEN 'S' ELSE 'G2M' END AS phase FROM sc",
)
def agg_cc_phase(spark, sf_dir):
    from scarf_spark.operators import demux

    ds = _ds(spark, sf_dir)
    return demux.cell_cycle_phase(ds.counts(), ds.feat_table(), "red", "blue")


@q(
    "samp_downsample",
    "WITH cells AS (SELECT vec_id, label FROM embeddings), "
    "rates AS (SELECT label, LEAST(1.0, 50.0 / COUNT(*)) AS rate "
    "FROM cells GROUP BY label), "
    "u AS (SELECT vec_id, cells.label, rate, "
    "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT "
    "/ 1152921504606846976.0 AS uv "
    "FROM cells JOIN rates ON cells.label = rates.label) "
    "SELECT vec_id, label, ROUND(uv, 6) AS u FROM u WHERE uv < rate",
)
def samp_downsample(spark, sf_dir):
    from scarf_spark.operators import demux

    cells = _ds(spark, sf_dir).embeddings.select(
        F.col("vec_id").alias("cell_id"), "label"
    )
    out = demux.downsample_sketch(cells, "label", cap_per_cluster=50)
    return out.select(F.col("cell_id").alias("vec_id"), "label", "u")


@q(
    "ml_umap_sym",
    f"WITH {_KNN_CTE}, "
    "w AS (SELECT src, dst, 1.0 / (1.0 + distance) AS weight FROM knn), "
    "t AS (SELECT dst AS src, src AS dst, weight AS wb FROM w) "
    "SELECT COALESCE(w.src, t.src) AS src, COALESCE(w.dst, t.dst) AS dst, "
    "ROUND(COALESCE(w.weight, 0) + COALESCE(t.wb, 0) "
    "- COALESCE(w.weight, 0) * COALESCE(t.wb, 0), 6) AS weight "
    "FROM w FULL OUTER JOIN t ON w.src = t.src AND w.dst = t.dst",
)
def ml_umap_sym(spark, sf_dir):
    from scarf_spark.ml import embed

    edges = _knn_edges(spark, sf_dir).withColumn(
        "weight", 1.0 / (1.0 + F.col("distance"))
    )
    return embed.symmetrize_edges(edges)


@q(
    "ml_sgtsne_rescale",
    # SG-tSNE-Π λ-rescaling replayed as a recursive-CTE bisection: the
    # 64-step γ solve is smooth (pow + ordered left-fold sum + one
    # monotone compare), so it hashes exactly across engines — the
    # same replay boundary as the UMAP-kernel bisection (_SMOOTH_SQL)
    f"WITH RECURSIVE {_KNN_CTE}, "
    "w AS (SELECT src, dst, 1.0 / (1.0 + distance) AS weight FROM knn), "
    "wl AS (SELECT src, list(weight ORDER BY dst) AS ws FROM w GROUP BY src), "
    "bis AS ("
    "SELECT src, ws, 0 AS it, CAST(0.0 AS DOUBLE) AS lo, "
    "CAST('infinity' AS DOUBLE) AS hi, CAST(1.0 AS DOUBLE) AS mid FROM wl "
    "UNION ALL "
    "SELECT src, ws, it + 1, "
    "CASE WHEN s > 1.0 THEN mid ELSE lo END, "
    "CASE WHEN s > 1.0 THEN hi ELSE mid END, "
    "CASE WHEN s > 1.0 THEN "
    "(CASE WHEN isinf(hi) THEN mid * 2 ELSE (mid + hi) / 2 END) "
    "ELSE (lo + mid) / 2 END "
    "FROM (SELECT src, ws, it, lo, hi, mid, "
    "list_aggregate(list_transform(ws, x -> power(x, mid)), 'sum') AS s "
    "FROM bis WHERE it < 64) t) "
    "SELECT w.src, w.dst, ROUND(power(w.weight, b.mid), 6) AS p "
    "FROM w JOIN (SELECT src, mid FROM bis WHERE it = 64) b ON w.src = b.src",
)
def ml_sgtsne_rescale(spark, sf_dir):
    from scarf_spark.ml import embed

    edges = _knn_edges(spark, sf_dir).withColumn(
        "weight", 1.0 / (1.0 + F.col("distance"))
    )
    return embed.sgtsne_rescale(edges, lam=1.0)


@q("ml_sgtsne_embed")  # weak: external-binary twin (driver_compute, deterministic)
def ml_sgtsne_embed(spark, sf_dir):
    """SG-tSNE-shaped embedding (the reference shells out to the
    compiled ``sgtsne`` binary, ``graph_datastore.py:1088-1216`` — the
    last SURVEY §2 row): distributed λ-rescale of the KNN affinities,
    then the exact Cauchy-kernel gradient layout as a deterministic
    driver twin over the collected n·k edge list."""
    from scarf_spark.ml import embed

    edges = _knn_edges(spark, sf_dir).withColumn(
        "weight", 1.0 / (1.0 + F.col("distance"))
    )
    p = embed.sgtsne_rescale(edges, lam=1.0)
    emb = _ds(spark, sf_dir).embeddings
    vec = emb.select(
        F.col("vec_id").alias("cell_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    init = embed.ini_embed_kmeans_pca(vec, n_centroids=10)
    return embed.sgtsne_layout_driver(p, init, n_iter=60)


@q("ml_densmap_embed")  # weak: densMAP SGD layout (driver_compute, seeded)
def ml_densmap_embed(spark, sf_dir):
    """densMAP variant (``scarf/umap.py:15-164`` ``dens_map`` branch —
    the reference passes the flag to umap-learn): UMAP layout with the
    density-preservation force pulling each node's standardized log
    embedding radius toward its input-space target."""
    from scarf_spark.ml import embed

    edges = _knn_edges(spark, sf_dir).withColumn(
        "weight", 1.0 / (1.0 + F.col("distance"))
    )
    # keep input distances through symmetrization via a re-join
    sym = embed.symmetrize_edges(edges).join(
        edges.select("src", "dst", "distance"), ["src", "dst"], "left"
    ).fillna({"distance": 1.0})
    emb = _ds(spark, sf_dir).embeddings
    vec = emb.select(
        F.col("vec_id").alias("cell_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    init = embed.ini_embed_kmeans_pca(vec, n_centroids=10)
    return embed.umap_layout_driver(
        sym, init, n_epochs=20, dens_lambda=2.0, input_dist="distance"
    )


# Distributed spectral layout oracle: deflated power iteration on the
# lazy walk (M + I)/2 — self-loop-folded adjacency so the matvec is one
# fold per node; per-round scalars (deflation dots, Pythagoras norm)
# replayed with the same left-associated formula. List-state recursive
# CTE per dimension (the ml_pseudotime_power pattern); dim 2 deflates
# against dim 1's SIGNED vector (sign cancels in u·(uᵀv), so the
# convention is shape-only).
_SPEC_ITERS = 8
_SPEC_SEED = (
    "('0x' || substr(md5(CAST(sidx.node AS VARCHAR) || '_{tag}'), 1, 15))::BIGINT "
    "/ 1152921504606846976.0 - 0.5"
)
_SPEC_REC = (
    # BLOCK recursion: both dimensions walk together; the round's
    # orthonormalization scalars replay the engine's Cholesky-CGS
    # shapes exactly — n1 = sqrt(g11 − t01²), c21 = (g12 − t01·t02)/n1,
    # n2 = sqrt(g22 − t02² − c21²) — from folds of the walked lists
    "srec(t, v1, v2) AS ("
    "SELECT 0, "
    "(SELECT list({seed1} ORDER BY sidx.ix) FROM sidx), "
    "(SELECT list({seed2} ORDER BY sidx.ix) FROM sidx) "
    "UNION ALL "
    "SELECT s4.t + 1, s4.nv1, "
    "CASE WHEN s4.n2 > 0 THEN list_transform(range(1, s4.n + 1), "
    "k2 -> (s4.u2[k2] - s4.t02 * s4.u0l[k2] - s4.c21 * s4.nv1[k2]) / s4.n2) "
    "ELSE list_transform(range(1, s4.n + 1), k2 -> CAST(0.0 AS DOUBLE)) END "
    "FROM (SELECT s3.*, "
    "CASE WHEN s3.n1 > 0 THEN list_transform(range(1, s3.n + 1), "
    "k1 -> (s3.u1[k1] - s3.t01 * s3.u0l[k1]) / s3.n1) "
    "ELSE list_transform(range(1, s3.n + 1), k1 -> CAST(0.0 AS DOUBLE)) END AS nv1, "
    "sqrt(GREATEST(s3.g22 - s3.t02 * s3.t02 - s3.c21 * s3.c21, 0.0)) AS n2 "
    "FROM (SELECT s2.*, "
    "CASE WHEN s2.n1 > 0 THEN (s2.g12 - s2.t01 * s2.t02) / s2.n1 "
    "ELSE 0.0 END AS c21 "
    "FROM (SELECT s1.*, "
    "sqrt(GREATEST(s1.g11 - s1.t01 * s1.t01, 0.0)) AS n1 "
    "FROM (SELECT s0.*, "
    "{dot}(s0.u0l, s0.u1) AS t01, "
    "{dot}(s0.u0l, s0.u2) AS t02, "
    "{dot}(s0.u1, s0.u1) AS g11, "
    "{dot}(s0.u1, s0.u2) AS g12, "
    "{dot}(s0.u2, s0.u2) AS g22 "
    "FROM (SELECT r.t, sn.n, su0.u0l, "
    "list_transform(range(1, sn.n + 1), k -> "
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(sadj.adj[k], p -> p.wn * r.v1[p.jx])), "
    "(a, x) -> a + x)) AS u1, "
    "list_transform(range(1, sn.n + 1), k -> "
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(sadj.adj[k], p -> p.wn * r.v2[p.jx])), "
    "(a, x) -> a + x)) AS u2 "
    "FROM srec r, sn, su0, sadj "
    "WHERE r.t < {iters}) s0) s1) s2) s3) s4), "
    "sfin AS MATERIALIZED (SELECT v1, v2 FROM srec WHERE t = {iters}), "
    "sfl1 AS MATERIALIZED (SELECT sidx.node, sidx.ix, f.v1[sidx.ix] AS val "
    "FROM sidx, sfin f), "
    "sfl2 AS MATERIALIZED (SELECT sidx.node, sidx.ix, f.v2[sidx.ix] AS val "
    "FROM sidx, sfin f), "
    "ssg1 AS (SELECT CASE WHEN val < 0 THEN -1.0 ELSE 1.0 END AS sgn "
    "FROM sfl1 ORDER BY abs(val) DESC, node LIMIT 1), "
    "ssg2 AS (SELECT CASE WHEN val < 0 THEN -1.0 ELSE 1.0 END AS sgn "
    "FROM sfl2 ORDER BY abs(val) DESC, node LIMIT 1), "
    "se1 AS MATERIALIZED (SELECT node, ix, "
    "val * (SELECT sgn FROM ssg1) AS e FROM sfl1), "
    "se2 AS MATERIALIZED (SELECT node, ix, "
    "val * (SELECT sgn FROM ssg2) AS e FROM sfl2)"
)
_SPEC_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(list_zip({0}, {1}), p -> p[1] * p[2])), (a, x) -> a + x)"
)
_SPEC_CTE = (
    "sew0 AS MATERIALIZED (SELECT i, j, SUM(w) AS w FROM ("
    "SELECT src AS i, dst AS j, 1.0 / (1.0 + distance) AS w FROM knn "
    "UNION ALL SELECT dst, src, 1.0 / (1.0 + distance) FROM knn) "
    "GROUP BY i, j), "
    "sdeg AS MATERIALIZED (SELECT i, SUM(w) AS d FROM sew0 GROUP BY i), "
    "sidx AS MATERIALIZED (SELECT i AS node, CAST(ROW_NUMBER() OVER (ORDER BY i) AS INT) "
    "AS ix FROM sdeg), "
    "sn AS MATERIALIZED (SELECT COUNT(*) AS n FROM sidx), "
    "ssd AS MATERIALIZED (SELECT SUM(d) AS sd FROM sdeg), "
    "su0 AS MATERIALIZED (SELECT list(sqrt(d) / sqrt((SELECT sd FROM ssd)) ORDER BY ix) "
    "AS u0l FROM sdeg JOIN sidx ON sdeg.i = sidx.node), "
    "sewl AS MATERIALIZED (SELECT e.i, e.j, e.w / sqrt(di.d * dj.d) / 2.0 AS wn "
    "FROM sew0 e JOIN sdeg di ON e.i = di.i JOIN sdeg dj ON e.j = dj.i "
    "UNION ALL SELECT i, i, 0.5 FROM sdeg), "
    "sadj AS MATERIALIZED (SELECT list(sub ORDER BY ix) AS adj FROM ("
    "SELECT i2.ix AS ix, list(struct_pack(jx := j2.ix, wn := e.wn) "
    "ORDER BY j2.ix, e.wn) AS sub FROM sewl e "
    "JOIN sidx i2 ON e.i = i2.node JOIN sidx j2 ON e.j = j2.node "
    "GROUP BY i2.ix)), "
    + _SPEC_REC.replace("{dot}(s0.u0l, s0.u1)", _SPEC_DOT.format("s0.u0l", "s0.u1"))
    .replace("{dot}(s0.u0l, s0.u2)", _SPEC_DOT.format("s0.u0l", "s0.u2"))
    .replace("{dot}(s0.u1, s0.u1)", _SPEC_DOT.format("s0.u1", "s0.u1"))
    .replace("{dot}(s0.u1, s0.u2)", _SPEC_DOT.format("s0.u1", "s0.u2"))
    .replace("{dot}(s0.u2, s0.u2)", _SPEC_DOT.format("s0.u2", "s0.u2"))
    .replace("{seed1}", _SPEC_SEED.format(tag="e1"))
    .replace("{seed2}", _SPEC_SEED.format(tag="e2"))
    .replace("{iters}", str(_SPEC_ITERS))
)


def _kmeans_cte_over(src: str, k: int, n_iter: int, dim: int, pfx: str) -> str:
    """The seedless-Lloyd recursion of ``_KMEANS_CTE`` parameterized
    over an arbitrary ``src(vec_id, v DOUBLE[])`` CTE — identical
    shapes (md5 init order, [distance, cid] MIN argmin, AVG update)."""
    return (
        f"{pfx}dims AS MATERIALIZED (SELECT vec_id, i AS dim, v[i] AS val "
        f"FROM {src}, UNNEST(range(1, {dim + 1})) AS t(i)), "
        f"{pfx}km(it, cid, c) AS ("
        "SELECT 0, CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), "
        "vec_id) AS BIGINT), v "
        f"FROM (SELECT vec_id, v FROM {src} ORDER BY md5(CAST(vec_id AS VARCHAR)), "
        f"vec_id LIMIT {k}) "
        "UNION ALL "
        "SELECT a.it + 1, a.cid, list(a.m ORDER BY a.dim) FROM ("
        "SELECT asg.it AS it, asg.cid AS cid, d.dim AS dim, AVG(d.val) AS m FROM ("
        f"SELECT {pfx}km.it AS it, p.vec_id AS pid, "
        f"CAST(MIN([list_distance(p.v, {pfx}km.c), CAST({pfx}km.cid AS DOUBLE)])[2] AS BIGINT) AS cid "
        f"FROM {pfx}km, {src} p GROUP BY {pfx}km.it, p.vec_id) asg "
        f"JOIN {pfx}dims d ON d.vec_id = asg.pid "
        "GROUP BY asg.it, asg.cid, d.dim) a "
        f"WHERE a.it < {n_iter} GROUP BY a.it, a.cid), "
        f"{pfx}final AS (SELECT cid, c FROM {pfx}km WHERE it = {n_iter}), "
        f"{pfx}assign AS (SELECT p.vec_id, "
        f"CAST(MIN([list_distance(p.v, f.c), CAST(f.cid AS DOUBLE)])[2] AS BIGINT) AS cluster "
        f"FROM {src} p, {pfx}final f GROUP BY p.vec_id)"
    )


_SPECTRAL_CACHE: dict[tuple, DataFrame] = {}


def _spectral_emb(spark, sf_dir):
    """Memoized 2-D spectral embedding fixture (same convention as
    _knn_edges): ml_spectral_embed and ml_spectral_cluster consume the
    identical fixed-iteration layout, so it is built once per
    (session, sf_dir)."""
    from scarf_spark.ml import embed

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _SPECTRAL_CACHE:
        edges = _knn_edges(spark, sf_dir).withColumn(
            "weight", 1.0 / (1.0 + F.col("distance"))
        )
        _SPECTRAL_CACHE[key] = embed.spectral_embedding(
            edges, dims=2, n_iter=_SPEC_ITERS
        ).persist()
    return _SPECTRAL_CACHE[key]


@q(
    "ml_spectral_embed",
    f"WITH RECURSIVE {_KNN_CTE}, {_SPEC_CTE} "
    "SELECT se1.node, ROUND(se1.e, 6) AS e1, ROUND(se2.e, 6) AS e2 "
    "FROM se1 JOIN se2 ON se1.node = se2.node",
)
def ml_spectral_embed(spark, sf_dir):
    """Fully distributed 2-D spectral layout of the KNN graph
    (ml.embed.spectral_embedding): fixed-8-round BLOCK subspace
    iteration on the lazy walk (M + I)/2 — both dimensions walk in ONE
    edge⋈vector join + hash agg per round, re-orthonormalized via
    closed-form Gram-Schmidt scalars, no graph collect — the
    oracle-able scale twin of the driver-side SGD layouts
    (umap-learn's own layouts are seeded from this spectral
    initialization)."""
    return _spectral_emb(spark, sf_dir)


@q(
    "ml_spectral_cluster",
    # spectral CLUSTERING end-to-end: the 2-D embedding's ROUND(6)
    # coordinates make the Lloyd inputs cross-engine exact, and dim-2
    # squared distances are two-term commutative sums — bit-identical
    # on any engine, making this composition SAFER than raw-vector
    # kmeans
    f"WITH RECURSIVE {_KNN_CTE}, {_SPEC_CTE}, "
    "spts AS MATERIALIZED (SELECT se1.node AS vec_id, "
    "CAST([ROUND(se1.e, 6), ROUND(se2.e, 6)] AS DOUBLE[]) AS v "
    "FROM se1 JOIN se2 ON se1.node = se2.node), "
    + _kmeans_cte_over("spts", k=4, n_iter=5, dim=2, pfx="sk")
    + " SELECT p.vec_id AS node, ROUND(p.v[1], 6) AS e1, "
    "ROUND(p.v[2], 6) AS e2, a.cluster "
    "FROM spts p JOIN skassign a ON p.vec_id = a.vec_id",
)
def ml_spectral_cluster(spark, sf_dir):
    """Spectral clustering (Ng/Jordan/Weiss 2001, lazy-walk variant)
    END-TO-END: the distributed spectral embedding feeds seedless
    deterministic Lloyd KMeans (k=4, 5 iterations) — graph in,
    (node, e1, e2, cluster) out, no collect at any stage beyond the
    k×2 centroid scalars."""
    from scarf_spark.ml import cluster as cl

    emb2 = _spectral_emb(spark, sf_dir)
    vec = emb2.select("node", F.array("e1", "e2").alias("v"))
    km = cl.kmeans_lloyd(vec, k=4, n_iter=5, id_col="node", vec_col="v")
    return emb2.join(km, "node").select(
        "node", "e1", "e2", F.col("cluster").cast("long").alias("cluster")
    )


@q("ml_umap_embed")  # weak: sequential SGD layout (driver_compute, seeded)
def ml_umap_embed(spark, sf_dir):
    from scarf_spark.ml import embed

    edges = _knn_edges(spark, sf_dir).withColumn(
        "weight", 1.0 / (1.0 + F.col("distance"))
    )
    sym = embed.symmetrize_edges(edges)
    emb = _ds(spark, sf_dir).embeddings
    vec = emb.select(
        F.col("vec_id").alias("cell_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    init = embed.ini_embed_kmeans_pca(vec, n_centroids=10)
    return embed.umap_layout_driver(sym, init, n_epochs=20)


# Full HTO demux replayed in SQL: CLR → deterministic Lloyd (recursive
# CTE, k=5) → background cluster → exact 0.99-quantile cutoffs →
# Negative/Singlet/Doublet cascade. Cutoffs and values are ROUND(,6)-ed
# before comparison on both sides so interpolation eps can't flip flags.
_DEMUX_CTE = (
    "tops AS (SELECT feat_id FROM (SELECT feat_id, SUM(value) AS t FROM counts "
    "GROUP BY feat_id ORDER BY t DESC, feat_id LIMIT 4)), "
    "hc AS MATERIALIZED (SELECT c.cell_id, c.feat_id, c.value FROM counts c "
    "JOIN tops USING (feat_id)), "
    "geo AS (SELECT feat_id, EXP(SUM(LN(1 + value)) / "
    "(SELECT COUNT(DISTINCT cell_id) FROM hc)) AS gm FROM hc GROUP BY feat_id), "
    "clr AS MATERIALIZED (SELECT cell_id, h.feat_id, LN(1 + value / gm) AS value "
    "FROM hc h JOIN geo USING (feat_id)), "
    "hids AS (SELECT feat_id, CAST(ROW_NUMBER() OVER (ORDER BY feat_id) AS BIGINT) "
    "AS slot FROM tops), "
    "cells AS (SELECT DISTINCT cell_id FROM hc), "
    "pts AS MATERIALIZED (SELECT c.cell_id AS vec_id, "
    "list(COALESCE(x.value, 0.0) ORDER BY h.slot) AS v "
    "FROM cells c CROSS JOIN hids h "
    "LEFT JOIN clr x ON x.cell_id = c.cell_id AND x.feat_id = h.feat_id "
    "GROUP BY c.cell_id), "
    "dims AS MATERIALIZED (SELECT vec_id, i AS dim, v[i] AS val FROM pts, "
    "UNNEST(range(1, 5)) AS t(i)), "
    "km(it, cid, c) AS ("
    "SELECT 0, CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), "
    "vec_id) AS BIGINT), v "
    "FROM (SELECT vec_id, v FROM pts ORDER BY md5(CAST(vec_id AS VARCHAR)), "
    "vec_id LIMIT 5) "
    "UNION ALL "
    "SELECT a.it + 1, a.cid, list(a.m ORDER BY a.dim) FROM ("
    "SELECT asg.it AS it, asg.cid AS cid, d.dim AS dim, AVG(d.val) AS m FROM ("
    "SELECT km.it AS it, p.vec_id AS pid, "
    "CAST(MIN([list_distance(p.v, km.c), CAST(km.cid AS DOUBLE)])[2] AS BIGINT) AS cid "
    "FROM km, pts p GROUP BY km.it, p.vec_id) asg "
    "JOIN dims d ON d.vec_id = asg.pid "
    "GROUP BY asg.it, asg.cid, d.dim) a "
    "WHERE a.it < 5 GROUP BY a.it, a.cid), "
    "kfinal AS (SELECT cid, c FROM km WHERE it = 5), "
    "kassign AS (SELECT p.vec_id, "
    "CAST(MIN([list_distance(p.v, f.c), CAST(f.cid AS DOUBLE)])[2] AS BIGINT) AS cluster "
    "FROM pts p, kfinal f GROUP BY p.vec_id), "
    "lab AS MATERIALIZED (SELECT l.cell_id, l.feat_id, l.value, a.cluster "
    "FROM clr l JOIN kassign a ON a.vec_id = l.cell_id), "
    "bgc AS (SELECT cluster FROM (SELECT cluster, AVG(value) AS m FROM lab "
    "GROUP BY cluster ORDER BY m, cluster LIMIT 1)), "
    "cuts AS (SELECT feat_id, ROUND(quantile_cont(value, 0.99), 6) AS cut "
    "FROM lab WHERE cluster = (SELECT cluster FROM bgc) GROUP BY feat_id), "
    "pos AS (SELECT c.cell_id, c.feat_id, c.value, "
    "CASE WHEN ROUND(c.value, 6) > cut THEN 1 ELSE 0 END AS is_pos "
    "FROM clr c JOIN cuts USING (feat_id)), "
    "percell AS (SELECT cell_id, SUM(is_pos) AS n_positive, "
    "MAX(CASE WHEN rn = 1 THEN feat_id END) AS top_hto FROM ("
    "SELECT *, ROW_NUMBER() OVER (PARTITION BY cell_id "
    "ORDER BY is_pos DESC, value DESC, feat_id) AS rn FROM pos) GROUP BY cell_id)"
)


@q(
    "demux_hto",
    f"WITH RECURSIVE {COUNTS_CTE}, {_DEMUX_CTE} "
    "SELECT assignment, COUNT(*) AS n FROM ("
    "SELECT CASE WHEN n_positive = 0 THEN 'Negative' "
    "WHEN n_positive = 1 THEN 'HTO_' || top_hto "
    "ELSE 'Doublet' END AS assignment FROM percell) GROUP BY assignment",
)
def demux_hto(spark, sf_dir):
    from scarf_spark.operators import demux

    ds = _ds(spark, sf_dir)
    # treat the 4 globally heaviest features as HTO channels; pass the
    # channel list in ASCENDING id order — the same order the operator
    # previously re-derived with a distinct-collect — so the assembled
    # slot order (and hence every distance accumulation) is unchanged
    hto_ids = sorted(_top_feats(ds, 4))
    hto_counts = ds.counts().where(F.col("feat_id").isin(hto_ids))
    out = demux.hto_demux(hto_counts, n_htos=4, hto_ids=hto_ids)
    return out.groupBy("assignment").agg(F.count("*").alias("n"))


# CORAL: whiten source with Cs^(-1/2), re-color with Ct^(1/2). Two
# Jacobi replays (prefixes s/t); the fractional powers are spectral
# functions V·f(Λ)·Vᵀ — basis-invariant, so no sign/order conventions.
def _coral_cov_cte(pfx: str, parity: int, vecs_sql: str | None = None) -> str:
    # vecs_sql overrides the (vec_id, dim, val) long-table source —
    # pipe_mapping feeds the feature-ALIGNED target matrix in here
    body = vecs_sql or (
        "SELECT vec_id, i AS dim, "
        "CAST(embedding[i] AS DOUBLE) AS val FROM embeddings, "
        f"UNNEST(range(1, 9)) t(i) WHERE vec_id % 2 = {parity}"
    )
    return (
        f"{pfx}vecs AS MATERIALIZED ({body}), "
        f"{pfx}mu AS (SELECT dim, AVG(val) AS mu FROM {pfx}vecs GROUP BY dim), "
        f"{pfx}cv0 AS (SELECT a.dim - 1 AS i, b.dim - 1 AS j, "
        "AVG(a.val * b.val) - ma.mu * mb.mu AS val "
        f"FROM {pfx}vecs a JOIN {pfx}vecs b ON a.vec_id = b.vec_id "
        "AND a.dim <= b.dim "
        f"JOIN {pfx}mu ma ON ma.dim = a.dim JOIN {pfx}mu mb ON mb.dim = b.dim "
        "GROUP BY a.dim, b.dim, ma.mu, mb.mu), "
        f"{pfx}mat AS MATERIALIZED (SELECT i * 8 + j AS fi, val FROM {pfx}cv0 "
        f"UNION ALL SELECT j * 8 + i AS fi, val FROM {pfx}cv0 WHERE i < j)"
    )


def _coral_pow_cte(pfx: str, power: str, out: str) -> str:
    # P[i][j] = Σ_e V[i,e] · clamp(Λ_e)^power · V[j,e]
    return (
        f"{out} AS MATERIALIZED (SELECT r.i AS i, c.i AS j, "
        f"SUM(v[r.i * 8 + e.i + 1] * POWER(GREATEST(a[e.i * 8 + e.i + 1], "
        f"1e-9), {power}) * v[c.i * 8 + e.i + 1]) AS val "
        f"FROM {pfx}fin, UNNEST(range(0, 8)) r(i), UNNEST(range(0, 8)) c(i), "
        "UNNEST(range(0, 8)) e(i) GROUP BY r.i, c.i)"
    )


_CORAL_SQL = (
    "WITH RECURSIVE "
    + _coral_cov_cte("s", 0)
    + ", "
    + _coral_cov_cte("t", 1)
    + ", "
    + _jacobi_cte(8, pfx="s")
    + ", "
    + _jacobi_cte(8, pfx="t")
    + ", "
    + _coral_pow_cte("s", "-0.5", "ps")
    + ", "
    + _coral_pow_cte("t", "0.5", "pt")
    + ", "
    "amat AS (SELECT ps.i AS i, pt.j AS j, SUM(ps.val * pt.val) AS val "
    "FROM ps JOIN pt ON ps.j = pt.i GROUP BY ps.i, pt.j), "
    "proj AS (SELECT sv.vec_id AS cell_id, am.j AS comp, "
    "SUM((sv.val - mu.mu) * am.val) AS c FROM svecs sv "
    "JOIN smu mu ON mu.dim = sv.dim "
    "JOIN amat am ON am.i = sv.dim - 1 GROUP BY sv.vec_id, am.j) "
    "SELECT cell_id, "
    + ", ".join(
        f"ROUND(MAX(CASE WHEN comp = {j} THEN c END), 6) AS c{j}"
        for j in range(8)
    )
    + " FROM proj GROUP BY cell_id"
)


@q("ml_coral", _CORAL_SQL)
def ml_coral(spark, sf_dir):
    from scarf_spark.ml import integrate

    emb = _ds(spark, sf_dir).embeddings
    src = emb.where(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("cell_id"),
        F.transform(F.slice("embedding", 1, 8), lambda x: x.cast("double")).alias("v"),
    )
    tgt = emb.where(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("cell_id"),
        F.transform(F.slice("embedding", 1, 8), lambda x: x.cast("double")).alias("v"),
    )
    out = integrate.coral_align(src, tgt, d=8)
    return out.select(
        "cell_id", *[F.round(F.col("v")[i], 6).alias(f"c{i}") for i in range(8)]
    )


# The reference's CROSS-DATASET MAPPING workflow
# (``mapping_datastore.py:31-364`` run_mapping: align features → CORAL
# → cross-KNN target→reference → mapping score → target classification)
# composed END-TO-END as one graded query, exactly like pipe_atlas_prep
# covers make_graph. Fixture: reference atlas = even vec_ids (all 8
# dims + label); incoming dataset = odd vec_ids observing only dims
# 1..6, so the feature alignment genuinely pads (dims 7-8 fill with
# 1.0, the align_features contract). Every stage is the
# already-oracled operator; the oracle is the verbatim composition of
# the stage oracles (_CORAL_SQL cov/jacobi/pow CTEs over the ALIGNED
# long table, the _CROSS_KNN_CTE shape over the corrected coords, the
# graph_mapping_score and graph_target_class tails).
_PIPE_MAPPING_SQL = (
    "WITH RECURSIVE "
    + _coral_cov_cte(
        "s",
        1,
        vecs_sql=(
            "SELECT vec_id, i AS dim, CASE WHEN i <= 6 THEN "
            "CAST(embedding[i] AS DOUBLE) ELSE 1.0 END AS val "
            "FROM embeddings, UNNEST(range(1, 9)) t(i) WHERE vec_id % 2 = 1"
        ),
    )
    + ", "
    + _coral_cov_cte("t", 0)
    + ", "
    + _jacobi_cte(8, pfx="s")
    + ", "
    + _jacobi_cte(8, pfx="t")
    + ", "
    + _coral_pow_cte("s", "-0.5", "ps")
    + ", "
    + _coral_pow_cte("t", "0.5", "pt")
    + ", "
    "amat AS (SELECT ps.i AS i, pt.j AS j, SUM(ps.val * pt.val) AS val "
    "FROM ps JOIN pt ON ps.j = pt.i GROUP BY ps.i, pt.j), "
    "proj AS (SELECT sv.vec_id AS cell_id, am.j AS comp, "
    "SUM((sv.val - mu.mu) * am.val) AS c FROM svecs sv "
    "JOIN smu mu ON mu.dim = sv.dim "
    "JOIN amat am ON am.i = sv.dim - 1 GROUP BY sv.vec_id, am.j), "
    "mcorr AS MATERIALIZED (SELECT cell_id AS vec_id, CAST(["
    + ", ".join(
        f"ROUND(MAX(CASE WHEN comp = {j} THEN c END), 6)" for j in range(8)
    )
    + "] AS DOUBLE[]) AS v FROM proj GROUP BY cell_id), "
    "rmu AS (SELECT i AS dim, AVG(CAST(embedding[i] AS DOUBLE)) AS mu "
    "FROM embeddings, UNNEST(range(1, 9)) t(i) WHERE vec_id % 2 = 0 "
    "GROUP BY i), "
    "refc AS MATERIALIZED (SELECT e.vec_id, "
    "list(ROUND(CAST(e.embedding[r.dim] AS DOUBLE) - r.mu, 6) "
    "ORDER BY r.dim) AS v "
    "FROM embeddings e, rmu r WHERE e.vec_id % 2 = 0 GROUP BY e.vec_id), "
    "qn AS (SELECT vec_id, v, "
    "sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm "
    "FROM mcorr), "
    "rn2 AS (SELECT vec_id, v, "
    "sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm "
    "FROM refc), "
    "xp AS (SELECT q.vec_id AS src, r.vec_id AS dst, "
    "1.0 - list_inner_product(q.v, r.v) / (q.nrm * r.nrm) AS distance "
    "FROM qn q JOIN rn2 r ON TRUE), "
    "xk AS MATERIALIZED (SELECT src, rn AS rank, dst, "
    "ROUND(distance, 6) AS distance FROM "
    "(SELECT *, ROW_NUMBER() OVER (PARTITION BY src "
    "ORDER BY distance, dst) AS rn FROM xp) WHERE rn <= 3), "
    "np AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM xk), "
    "msc AS (SELECT dst AS ref_cell_id, "
    "ROUND(LN(1 + SUM(1.0 / (LN(1 + distance) + 1.0)) * 1000.0 "
    "/ ANY_VALUE(np.n)), 6) AS nn_score FROM xk, np GROUP BY dst), "
    "lbl2 AS (SELECT vec_id AS dst, label FROM embeddings "
    "WHERE vec_id % 2 = 0), "
    "wts AS (SELECT k.src AS target_cell_id, l.label, "
    "1.0 / (1.0 + k.distance) AS w FROM xk k JOIN lbl2 l ON k.dst = l.dst), "
    "pl AS (SELECT target_cell_id, label, SUM(w) AS lw FROM wts "
    "GROUP BY 1, 2), "
    "tt AS (SELECT target_cell_id, SUM(w) AS tw FROM wts GROUP BY 1), "
    "cls AS (SELECT target_cell_id, CASE WHEN share > 0.5 THEN "
    "CAST(label AS VARCHAR) ELSE 'NA' END AS pred_label, "
    "ROUND(share, 6) AS share FROM "
    "(SELECT pl.target_cell_id, pl.label, pl.lw / tt.tw AS share, "
    "ROW_NUMBER() OVER (PARTITION BY pl.target_cell_id "
    "ORDER BY pl.lw / tt.tw DESC, pl.label) AS rn FROM pl "
    "JOIN tt ON pl.target_cell_id = tt.target_cell_id) WHERE rn = 1), "
    "top1 AS (SELECT src AS target_cell_id, dst AS nn_ref, "
    "distance AS nn_distance FROM xk WHERE rank = 1) "
    "SELECT c.target_cell_id, c.pred_label, c.share, t1.nn_ref, "
    "t1.nn_distance, m.nn_score "
    "FROM cls c JOIN top1 t1 ON c.target_cell_id = t1.target_cell_id "
    "JOIN msc m ON t1.nn_ref = m.ref_cell_id"
)


@q("pipe_mapping", _PIPE_MAPPING_SQL)
def pipe_mapping(spark, sf_dir):
    """Cross-dataset mapping end-to-end
    (``mapping_datastore.py:31-364`` run_mapping) as ONE query:
    align_features pads the target's missing dims 7-8 with fill 1.0 →
    CORAL recolors the aligned target into the reference covariance →
    sharded cross-KNN (k=3) of the ROUND(6) corrected coords against
    the mean-centered reference → mapping score per reference cell →
    weighted-vote target classification. Returns one row per target
    cell: (target_cell_id, pred_label, share, nn_ref, nn_distance,
    nn_score)."""
    from scarf_spark.ml import integrate

    ds = _ds(spark, sf_dir)
    emb = ds.embeddings
    ref = emb.where(F.col("vec_id") % 2 == 0)
    tgt = emb.where(F.col("vec_id") % 2 == 1)
    # stage 1 — feature alignment (joins.align_features,
    # mapping_utils.py:98-214): reference feature index = dims 1..8,
    # target observes 1..6; the left-outer fill marks dims 7-8 missing
    ref_dims = spark.range(1, 9).select(
        F.col("id").alias("ids"), F.lit(0.0).alias("value")
    )
    tgt_dims = spark.range(1, 7).select(
        F.col("id").alias("ids"), F.lit(0.0).alias("value")
    )
    dim_tab = joins.align_features(ref_dims, tgt_dims, fill_value=1.0).select(
        F.col("ids").cast("int").alias("dim"),
        (F.col("t_value") == 1.0).alias("_fill"),
    )
    # assemble the aligned target matrix: the dim decision table is
    # dimension-sized (8 rows), so collect it and emit the aligned
    # vector as ONE projection — observed dims read the vector,
    # alignment-filled dims take the fill literal. The previous
    # explode + groupBy(map_from_entries) route shuffled the whole
    # n×8 long table (twice: the un-checkpointed src_vec fed both the
    # CORAL Gram and the projection); element values are identical
    fills = {
        int(r["dim"]): bool(r["_fill"]) for r in dim_tab.collect()
    }
    src_vec = tgt.select(
        F.col("vec_id").alias("cell_id"),
        F.array(
            *[
                F.lit(1.0)
                if fills[dd]
                else F.col("embedding")[dd - 1].cast("double")
                for dd in range(1, 9)
            ]
        ).alias("v"),
    )
    ref_vec = ref.select(
        F.col("vec_id").alias("cell_id"),
        F.transform(F.slice("embedding", 1, 8), lambda x: x.cast("double")).alias("v"),
    )
    # stage 2 — CORAL (integrate.coral_align): recolor the aligned
    # target into the reference covariance; ROUND(6) pivots the
    # cross-engine boundary exactly like ml_coral
    coral_stats: dict = {}
    corr = integrate.coral_align(
        src_vec, ref_vec, d=8, stats_out=coral_stats
    ).select(
        F.col("cell_id").alias("vec_id"),
        F.array(
            *[F.round(F.col("v")[i], 6) for i in range(8)]
        ).alias("embedding"),
    ).localCheckpoint(eager=False)
    # mean-center the reference side with the means CORAL's Gram pass
    # already collected over the same frame — fold them in as literals
    # instead of re-aggregating under a BroadcastExchange (one fewer
    # pass over the reference; the engine-avg noise the swap can carry
    # is ~1e-16 and the ROUND(6) below absorbs it, the staged
    # collect-then-literal doctrine)
    mu_t = coral_stats["target_mu"]
    ref_c = ref_vec.select(
        F.col("cell_id").alias("vec_id"),
        F.array(
            *[
                F.round(F.col("v")[i] - F.lit(float(mu_t[i])), 6)
                for i in range(8)
            ]
        ).alias("embedding"),
    )
    # stage 3 — sharded cross-KNN target→reference (knn_cross_topk's
    # engine); stage 4 — mapping score; stage 5 — classification
    edges = knn.cosine_knn_cross_sharded(corr, ref_c, k=3, n_shards=4)
    proj = edges.select(
        F.col("src").alias("target_cell_id"), "rank",
        F.col("dst").alias("ref_cell_id"), "distance",
    ).localCheckpoint(eager=False)
    score = graph.mapping_score(proj).withColumnRenamed("score", "nn_score")
    labels = ref.select(F.col("vec_id").alias("cell_id"), "label")
    cls = graph.target_classification(proj, labels, threshold=0.5)
    top1 = proj.where(F.col("rank") == 1).select(
        "target_cell_id",
        F.col("ref_cell_id").alias("nn_ref"),
        F.col("distance").alias("nn_distance"),
    )
    return (
        cls.join(top1, "target_cell_id")
        .join(score, top1.nn_ref == score.ref_cell_id)
        .select(
            "target_cell_id", "pred_label", "share",
            "nn_ref", "nn_distance", "nn_score",
        )
    )


def _harmony_sql(k: int = 3, d: int = 8, n_iter: int = 2) -> str:
    """Oracle replay of ``integrate.harmony_lite`` (n_clusters=k, dims=d,
    sigma=auto): every step is smooth (soft assignments, exp/divisions,
    no argmax or branch), so engine-level float noise (sum order, pow
    vs multiply, libm exp) stays at ~1e-15 relative and vanishes under
    the final ROUND(x, 6). The two iterations are unrolled as chained
    CTEs; the only subtlety is reproducing the reference expression
    shapes exactly (left-associated sums, GREATEST guards, eps terms).
    """
    C = range(k)
    D = range(d)
    vs = ", ".join(f"CAST(embedding[{i + 1}] AS DOUBLE) AS v{i}" for i in D)
    base = (
        f"c0 AS (SELECT vec_id AS cell_id, vec_id % 2 AS batch, {vs} "
        "FROM embeddings), "
        "sd AS (SELECT *, ROW_NUMBER() OVER (ORDER BY cell_id) AS rn FROM c0), "
        "cent0 AS (SELECT "
        + ", ".join(
            f"MAX(CASE WHEN rn = {c + 1} THEN v{i} END) AS m{c}_{i}"
            for c in C
            for i in D
        )
        + f" FROM sd WHERE rn <= {k})"
    )

    def it(t: int, cells: str, cent: str) -> tuple[str, str, str]:
        p = f"t{t}_"
        d2 = ", ".join(
            "("
            + " + ".join(f"POWER(v{i} - m{c}_{i}, 2)" for i in D)
            + f") AS d{c}"
            for c in C
        )
        dsum = " + ".join(f"d{c}" for c in C)
        dmin = f"LEAST({', '.join(f'd{c}' for c in C)})"
        e = ", ".join(f"EXP(-(d{c} - dmin) / sig) AS n{c}" for c in C)
        nsum = " + ".join(f"n{c}" for c in C)
        q_ = ", ".join(f"n{c} / ({nsum}) AS q{c}" for c in C)
        ob = ", ".join(f"SUM(q{c}) AS o{c}" for c in C)
        cm = ", ".join(f"SUM(o{c}) AS cm{c}" for c in C)
        pen = ", ".join(
            f"(cm{c} * nb / n_total + 1e-9) / (o{c} + 1e-9) AS p{c}" for c in C
        )
        pn = ", ".join(f"n{c} * p{c} AS pn{c}" for c in C)
        pnsum = " + ".join(f"pn{c}" for c in C)
        r_ = ", ".join(f"pn{c} / ({pnsum}) AS r{c}" for c in C)
        ms = ", ".join(f"SUM(r{c}) AS nn{c}" for c in C) + ", " + ", ".join(
            f"SUM(r{c} * v{i}) AS s{c}_{i}" for c in C for i in D
        )
        cent1 = ", ".join(
            f"s{c}_{i} / GREATEST(nn{c}, 1e-12) AS m{c}_{i}" for c in C for i in D
        )
        bo = ", ".join(f"SUM(r{c}) AS bn{c}" for c in C) + ", " + ", ".join(
            f"SUM(r{c} * v{i}) AS bs{c}_{i}" for c in C for i in D
        )
        off = ", ".join(
            f"bs{c}_{i} / GREATEST(bn{c}, 1e-12) - m{c}_{i} AS f{c}_{i}"
            for c in C
            for i in D
        )
        corr = ", ".join(
            f"v{i} - ("
            + " + ".join(f"r{c} * f{c}_{i}" for c in C)
            + f") AS v{i}"
            for i in D
        )
        sql = (
            f"{p}d AS (SELECT c.*, {d2} FROM {cells} c, {cent}), "
            f"{p}dm AS (SELECT *, {dmin} AS dmin FROM {p}d), "
            f"{p}sp AS (SELECT GREATEST(0.3 * AVG(({dsum}) / {k} - dmin), 1e-6) "
            f"AS sig FROM {p}dm), "
            f"{p}e AS (SELECT m.*, {e} FROM {p}dm m, {p}sp), "
            f"{p}q AS (SELECT *, {q_} FROM {p}e), "
            f"{p}ob AS (SELECT batch, {ob}, COUNT(*) AS nb FROM {p}q GROUP BY batch), "
            f"{p}tot AS (SELECT SUM(nb) AS n_total, {cm} FROM {p}ob), "
            f"{p}pen AS (SELECT batch, {pen} FROM {p}ob, {p}tot), "
            f"{p}pn AS (SELECT q.*, {pn} FROM {p}q q JOIN {p}pen pe ON q.batch = pe.batch), "
            f"{p}r AS (SELECT *, {r_} FROM {p}pn), "
            f"{p}ms AS (SELECT {ms} FROM {p}r), "
            f"{p}cent AS (SELECT {cent1} FROM {p}ms), "
            f"{p}bo AS (SELECT batch, {bo} FROM {p}r GROUP BY batch), "
            f"{p}off AS (SELECT batch, {off} FROM {p}bo, {p}cent), "
            f"{p}c AS (SELECT r.cell_id, r.batch, {corr} FROM {p}r r "
            f"JOIN {p}off o ON r.batch = o.batch)"
        )
        return sql, f"{p}c", f"{p}cent"

    parts = [base]
    cells, cent = "c0", "cent0"
    for t in range(1, n_iter + 1):
        sql, cells, cent = it(t, cells, cent)
        parts.append(sql)
    out = ", ".join(f"ROUND(v{i}, 6) AS h{i}" for i in D)
    return (
        "WITH " + ", ".join(parts) + f" SELECT cell_id, {out} FROM {cells}"
    )


@q("ml_harmony", _harmony_sql())  # oracle: smooth-math CTE replay
def ml_harmony(spark, sf_dir):
    from scarf_spark.ml import integrate

    emb = _ds(spark, sf_dir).embeddings
    # batch = vec_id % 2 is a pure function of the id: computing it in
    # the SAME projection (r16) removes the cell-keyed self-join that
    # re-scanned the embeddings table just to attach a column this
    # select already had (one Exchange + one scan gone; values
    # identical, integer arithmetic on the join key itself)
    vec = emb.select(
        F.col("vec_id").alias("cell_id"),
        F.transform(F.slice("embedding", 1, 8), lambda x: x.cast("double")).alias("v"),
        (F.col("vec_id") % 2).alias("batch"),
    )
    out = integrate.harmony_lite(vec, None, n_clusters=3, n_iter=2, d=8)
    return out.select(
        "cell_id", *[F.round(F.col("v")[i], 6).alias(f"h{i}") for i in range(8)]
    )


# ---------------------------------------------------------------------------
# Multimodal binary-column pipeline (training-data extension; codecs stubbed)
# ---------------------------------------------------------------------------

# media oracles operate per character; the engine strips non-ASCII in
# attach_payload so bytes == characters — mirror the strip here
_ASCII = r"regexp_replace(text, '[^\x00-\x7F]', '', 'g')"
_MEDIA_CTE = (
    "media AS (SELECT doc_id, "
    "['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS modality, "
    f"{_ASCII} AS text FROM documents)"
)


@q(
    "mm_payload_meta",
    f"WITH {_MEDIA_CTE} "
    "SELECT doc_id, modality, octet_length(encode(text)) AS n_bytes, "
    "md5(text) AS checksum FROM media",
)
def mm_payload_meta(spark, sf_dir):
    from scarf_spark.operators import multimodal as mm

    return mm.payload_metadata(mm.attach_payload(_ds(spark, sf_dir).documents))


@q(
    "mm_image_decode",
    f"WITH {_MEDIA_CTE}, "
    "px AS (SELECT doc_id, ord(substr(text, CAST(i AS INT), 1)) AS p FROM media, "
    "UNNEST(range(1, length(text) + 1)) AS t(i) "
    "WHERE modality = 'image' AND i <= (length(text) // 32) * 32) "
    "SELECT m.doc_id, 32 AS width, CAST(length(m.text) // 32 AS INT) AS height, "
    "COALESCE(COUNT(px.p), 0) AS n_pixels, "
    "COALESCE(SUM(px.p) * 1000000 // COUNT(px.p), 0) AS mean_pixel_ppm, "
    "COALESCE(MIN(px.p), 0) AS min_pixel, COALESCE(MAX(px.p), 0) AS max_pixel "
    "FROM media m LEFT JOIN px ON m.doc_id = px.doc_id "
    "WHERE m.modality = 'image' GROUP BY 1, 3",
)
def mm_image_decode(spark, sf_dir):
    from scarf_spark.operators import multimodal as mm

    media = mm.attach_payload(_ds(spark, sf_dir).documents)
    return mm.decode_image_stub(media, width=32)


@q(
    "mm_frame_sample",
    f"WITH {_MEDIA_CTE}, "
    "v AS (SELECT doc_id, text, length(text) // 64 AS n_frames FROM media "
    "WHERE modality = 'video'), "
    "idx AS (SELECT doc_id, text, UNNEST(range(0, n_frames, 3)) AS frame_idx "
    "FROM v WHERE n_frames > 0) "
    "SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx, "
    "md5(substr(text, CAST(frame_idx * 64 + 1 AS INT), 64)) AS frame_md5 FROM idx",
)
def mm_frame_sample(spark, sf_dir):
    from scarf_spark.operators import multimodal as mm

    media = mm.attach_payload(_ds(spark, sf_dir).documents)
    return mm.frame_sample(media, frame_chars=64, every=3)


@q(
    "mm_video_keyframes",
    # scene-cut detection: per 64-char frame an integer ascii-sum
    # energy; keyframe iff first frame or |Δenergy| > 150 vs the
    # previous frame — exact integers end to end
    f"WITH {_MEDIA_CTE}, "
    "v AS (SELECT doc_id, text FROM media WHERE modality = 'video'), "
    "f AS (SELECT doc_id, i AS frame_idx, "
    "list_aggregate(list_transform(range(0, 64), "
    "j -> ascii(substr(text, CAST(i * 64 + j + 1 AS BIGINT), 1))), 'sum') "
    "AS energy FROM v, "
    "UNNEST(range(0, CAST(length(text) // 64 AS BIGINT))) AS u(i)) "
    "SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx, "
    "CAST(energy AS BIGINT) AS energy, "
    "COALESCE(ABS(energy - LAG(energy) OVER "
    "(PARTITION BY doc_id ORDER BY frame_idx)) > 150, TRUE) AS is_key "
    "FROM f",
)
def mm_video_keyframes(spark, sf_dir):
    """Shot-boundary keyframe flags over the video payload frames
    (multimodal.video_keyframes) — frame-difference energy with the
    decode stubbed to the byte grid."""
    from scarf_spark.operators import multimodal as mm

    media = mm.attach_payload(_ds(spark, sf_dir).documents)
    return mm.video_keyframes(media, frame_chars=64, min_delta=150)


@q(
    "qc_emb_drift",
    # vector-space drift monitor: L2 + cosine of the two slices'
    # per-dim mean vectors (even vs odd vec_id)
    "WITH ea AS (SELECT embedding FROM embeddings WHERE vec_id % 2 = 0), "
    "eb AS (SELECT embedding FROM embeddings WHERE vec_id % 2 = 1), "
    "da AS (SELECT u.i AS d, AVG(embedding[u.i + 1]) AS ma FROM ea, "
    "UNNEST(range(0, len(embedding))) AS u(i) GROUP BY u.i), "
    "db AS (SELECT u.i AS d, AVG(embedding[u.i + 1]) AS mb FROM eb, "
    "UNNEST(range(0, len(embedding))) AS u(i) GROUP BY u.i), "
    "na AS (SELECT COUNT(*) AS n_a FROM ea), "
    "nb AS (SELECT COUNT(*) AS n_b FROM eb), "
    "agg AS (SELECT SUM((ma - mb) * (ma - mb)) AS _d2, "
    "SUM(ma * mb) AS _ab, SUM(ma * ma) AS _aa, SUM(mb * mb) AS _bb "
    "FROM da JOIN db USING (d)) "
    "SELECT n_a, n_b, ROUND(SQRT(_d2), 6) AS mean_l2, "
    "ROUND(_ab / (SQRT(_aa) * SQRT(_bb)), 6) AS mean_cosine "
    "FROM agg, na, nb",
)
def qc_emb_drift(spark, sf_dir):
    """Embedding-space drift between the even/odd vec_id slices
    (qc.embedding_drift) — the vector dual of qc_drift_psi."""
    from scarf_spark.operators import qc

    emb = _ds(spark, sf_dir).embeddings
    return qc.embedding_drift(
        emb.where(F.col("vec_id") % 2 == 0),
        emb.where(F.col("vec_id") % 2 == 1),
    )


@q(
    "mm_audio_segments",
    # gaps-and-islands VAD: consecutive frames with energy > 9450
    # collapse into segments; island id = frame_idx - row_number
    f"WITH {_MEDIA_CTE}, "
    "px AS (SELECT doc_id, ord(substr(text, CAST(i AS INT), 1)) AS p, "
    "CAST((i - 1) // 100 AS INT) AS frame_idx "
    "FROM media, UNNEST(range(1, length(text) + 1)) AS t(i) "
    "WHERE modality = 'audio' AND i <= (length(text) // 100) * 100), "
    "f AS (SELECT doc_id, frame_idx, SUM(p) AS energy FROM px GROUP BY 1, 2), "
    "a AS (SELECT doc_id, frame_idx, energy, frame_idx - ROW_NUMBER() OVER "
    "(PARTITION BY doc_id ORDER BY frame_idx) AS _g FROM f "
    "WHERE energy > 9450), "
    "s AS (SELECT doc_id, MIN(frame_idx) AS start_frame, "
    "MAX(frame_idx) AS end_frame, COUNT(*) AS n_frames, "
    "SUM(energy) AS sum_energy FROM a GROUP BY doc_id, _g) "
    "SELECT doc_id, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id "
    "ORDER BY start_frame) AS INT) AS seg_id, start_frame, end_frame, "
    "n_frames, sum_energy FROM s",
)
def mm_audio_segments(spark, sf_dir):
    """Voice-activity segments over the audio payload frames
    (multimodal.audio_active_segments) — the gaps-and-islands
    run-length pattern."""
    from scarf_spark.operators import multimodal as mm

    media = mm.attach_payload(_ds(spark, sf_dir).documents)
    return mm.audio_active_segments(media, frame_bytes=100, min_energy=9450)


@q(
    "mm_audio_energy",
    f"WITH {_MEDIA_CTE}, "
    "px AS (SELECT doc_id, ord(substr(text, CAST(i AS INT), 1)) AS p, "
    "CAST((i - 1) // 100 AS INT) AS frame_idx "
    "FROM media, UNNEST(range(1, length(text) + 1)) AS t(i) "
    "WHERE modality = 'audio' AND i <= (length(text) // 100) * 100) "
    "SELECT doc_id, frame_idx, SUM(p) AS energy FROM px GROUP BY 1, 2",
)
def mm_audio_energy(spark, sf_dir):
    from scarf_spark.operators import multimodal as mm

    media = mm.attach_payload(_ds(spark, sf_dir).documents)
    return mm.audio_frame_energy(media, frame_bytes=100)


@q(
    "mm_resize",
    # the numpy stride-slice downsample is reproducible in SQL because
    # payloads are ASCII text bytes: every 4th byte = chars at 1,5,9,…
    f"WITH {_MEDIA_CTE}, "
    "img AS (SELECT doc_id, text FROM media WHERE modality = 'image'), "
    "px AS (SELECT doc_id, ord(substr(text, CAST(i AS INT), 1)) AS p "
    "FROM img, UNNEST(range(1, length(text) + 1, 4)) AS t(i)) "
    "SELECT doc_id, 4 AS factor, COUNT(*) AS n_out, "
    "ROUND(AVG(p), 6) AS mean_out FROM px GROUP BY doc_id",
)
def mm_resize(spark, sf_dir):
    from scarf_spark.operators import multimodal as mm

    media = mm.attach_payload(_ds(spark, sf_dir).documents)
    return mm.resize_stub(media, factor=4)


@q(
    "mm_image_decode_real",
    # REAL codec roundtrip (VERDICT r5 gap #3): Spark encodes each
    # image doc's byte grid as an actual PNG (pure-python: zlib +
    # filters) and decodes it back; the oracle computes the same stats
    # straight from the text bytes — equality proves the codec on real
    # encoded payloads
    "WITH media AS (SELECT doc_id, " + _ASCII + " AS text "
    "FROM documents WHERE doc_id % 3 = 0), "
    "px AS (SELECT doc_id, ord(substr(text, CAST(i AS INT), 1)) AS p FROM media, "
    "UNNEST(range(1, length(text) + 1)) AS t(i) "
    "WHERE i <= (length(text) // 32) * 32) "
    "SELECT m.doc_id, "
    "CAST(CASE WHEN length(m.text) // 32 = 0 THEN 0 ELSE 32 END AS INT) AS width, "
    "CAST(length(m.text) // 32 AS INT) AS height, "
    "COALESCE(COUNT(px.p), 0) AS n_pixels, "
    "COALESCE(SUM(px.p) * 1000000 // COUNT(px.p), 0) AS mean_pixel_ppm, "
    "COALESCE(MIN(px.p), 0) AS min_pixel, COALESCE(MAX(px.p), 0) AS max_pixel "
    "FROM media m LEFT JOIN px ON m.doc_id = px.doc_id "
    "GROUP BY 1, m.text",
)
def mm_image_decode_real(spark, sf_dir):
    from scarf_spark.operators import multimodal as mm

    docs = _ds(spark, sf_dir).documents
    media = mm.attach_png_payload(docs, width=32)
    return mm.decode_image_real(media)


@q(
    "mm_image_tiles",
    # average-pool the REAL-PNG pixel grid into 8x8 tiles (the ViT
    # patchify front half); only complete tile rows are kept, means
    # are exact integer ppm — the oracle recomputes straight from the
    # pre-encode text bytes, so equality proves the decode + pooling
    "WITH media AS (SELECT doc_id, " + _ASCII + " AS text "
    "FROM documents WHERE doc_id % 3 = 0), "
    "g AS (SELECT doc_id, substr(text, 1, (length(text) // 32) * 32) AS t "
    "FROM media WHERE length(text) >= 32), "
    "px AS (SELECT doc_id, ord(substr(t, CAST(i AS INT), 1)) AS p, "
    "CAST(((i - 1) // 32) // 8 AS INT) AS tile_row, "
    "CAST(((i - 1) % 32) // 8 AS INT) AS tile_col, "
    "CAST((length(t) // 32) // 8 AS INT) AS ntr "
    "FROM g, UNNEST(range(1, length(t) + 1)) AS u(i)) "
    "SELECT doc_id, tile_row, tile_col, COUNT(*) AS n_px, "
    "SUM(p) * 1000000 // COUNT(*) AS mean_ppm "
    "FROM px WHERE tile_row < ntr GROUP BY 1, 2, 3",
)
def mm_image_tiles(spark, sf_dir):
    """Tile-pooled image features over real PNG payloads
    (multimodal.image_tile_pool) — the patch-embedding plumbing."""
    from scarf_spark.operators import multimodal as mm

    docs = _ds(spark, sf_dir).documents
    media = mm.attach_png_payload(docs, width=32)
    return mm.image_tile_pool(media, tile=8)


# 16-bit aHash over the (row,col)-ordered tile-mean list `a` (with tot
# = list sum, n = list length): the same integer cross-multiply bit
# rule as the byte-level phash oracle, generated per chunk. Empty
# chunks (n < 16 tiles): DuckDB list_aggregate(empty) is NULL -> CASE
# ELSE 0; Spark folds empty to the 0 initial -> bit 0. Both sides 0.
_TILE_AHASH_BITS = " + ".join(
    "CASE WHEN CAST(list_aggregate(list_slice(a, "
    f"CAST(FLOOR(n * {c} / 16) AS INT) + 1, "
    f"CAST(FLOOR(n * {c + 1} / 16) AS INT)), 'sum') AS BIGINT) * n > tot * "
    f"CAST((CAST(FLOOR(n * {c + 1} / 16) AS INT)) - "
    f"(CAST(FLOOR(n * {c} / 16) AS INT) + 1) + 1 AS BIGINT) "
    f"THEN {1 << c} ELSE 0 END"
    for c in range(16)
)


@q(
    "pipe_mm_prep",
    # end-to-end MULTIMODAL pretraining prep (the image dual of
    # pipe_pretrain_prep): real PNG decode -> 4x4 tile pooling (16-48
    # tiles/doc at the fixture text lengths — an 8px tile leaves only
    # 4-8 tiles and a degenerate 27-distinct-hash signature space) ->
    # perceptual dedup on the tile-signature aHash (banded hamming
    # pairs, drop the larger doc_id) -> md5-bucketed packing of the
    # surviving patch streams into 64-tile training rows. The oracle
    # is the verbatim composition of the stage oracles
    # (mm_image_tiles tiles CTE + the mm_phash_dedup band/hamming
    # pattern + the samp_pack_sequences bucket-window pack).
    "WITH media AS (SELECT doc_id, " + _ASCII + " AS text "
    "FROM documents WHERE doc_id % 3 = 0), "
    "g AS (SELECT doc_id, substr(text, 1, (length(text) // 32) * 32) AS t "
    "FROM media WHERE length(text) >= 32), "
    "px AS (SELECT doc_id, ord(substr(t, CAST(i AS INT), 1)) AS p, "
    "CAST(((i - 1) // 32) // 4 AS INT) AS tile_row, "
    "CAST(((i - 1) % 32) // 4 AS INT) AS tile_col, "
    "CAST((length(t) // 32) // 4 AS INT) AS ntr "
    "FROM g, UNNEST(range(1, length(t) + 1)) AS u(i)), "
    "tiles AS MATERIALIZED (SELECT doc_id, tile_row, tile_col, "
    "SUM(p) * 1000000 // COUNT(*) AS mean_ppm "
    "FROM px WHERE tile_row < ntr GROUP BY 1, 2, 3), "
    "sigarr AS (SELECT doc_id, "
    "list(mean_ppm ORDER BY tile_row, tile_col) AS a FROM tiles "
    "GROUP BY doc_id), "
    "st AS (SELECT doc_id, a, CAST(list_aggregate(a, 'sum') AS BIGINT) AS tot, "
    "CAST(len(a) AS BIGINT) AS n FROM sigarr), "
    "ph AS MATERIALIZED (SELECT doc_id, n AS n_tiles, "
    f"CAST({_TILE_AHASH_BITS} AS BIGINT) AS phash FROM st), "
    "bands AS (SELECT doc_id, phash, 0 AS band, phash % 256 AS key FROM ph "
    "UNION ALL SELECT doc_id, phash, 1, phash // 256 FROM ph), "
    "pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b "
    "FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key "
    "AND x.doc_id < y.doc_id "
    "WHERE bit_count(CAST(xor(x.phash, y.phash) AS BIGINT)) <= 3), "
    "surv AS (SELECT * FROM ph WHERE doc_id NOT IN (SELECT b FROM pairs)), "
    "hb AS (SELECT doc_id, n_tiles, phash, "
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS _h "
    "FROM surv), "
    "pk AS (SELECT doc_id, n_tiles, phash, _h % 8 AS bucket, "
    "SUM(n_tiles) OVER (PARTITION BY _h % 8 ORDER BY _h, doc_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tiles "
    "AS start_off FROM hb) "
    "SELECT doc_id, n_tiles, phash, bucket, "
    "start_off // 64 AS seq_id, start_off FROM pk",
)
def pipe_mm_prep(spark, sf_dir):
    """End-to-end multimodal pretraining prep
    (multimodal.mm_pretrain_prep): PNG decode → tile pooling →
    tile-signature near-dup removal → packed 64-tile sequences — the
    image dual of pipe_pretrain_prep, closing the pipeline story for
    media the way round 8 closed it for text."""
    from scarf_spark.operators import multimodal as mm

    return mm.mm_pretrain_prep(
        _ds(spark, sf_dir).documents,
        width=32, tile=4, max_hamming=3, budget=64, n_buckets=8,
    )


@q(
    "mm_ocr_stub",
    # OCR plumbing over REAL PNG payloads: the oracle recovers the
    # same token stats straight from the (ASCII-stripped, grid-
    # truncated) text; whitespace is the explicit ASCII class both
    # sides (python str.split and RE2 \\s disagree on vertical tab)
    "WITH media AS (SELECT doc_id, " + _ASCII + " AS text "
    "FROM documents WHERE doc_id % 3 = 0), "
    "s AS (SELECT doc_id, "
    "substr(text, 1, (length(text) // 32) * 32) AS g FROM media) "
    "SELECT doc_id, "
    "CAST(length(list_filter(string_split_regex(g, '[ \\t\\n\\r\\f\\x0b]+'), "
    "x -> x != '')) AS BIGINT) AS n_tokens, "
    "CAST(length(regexp_replace(g, '[ \\t\\n\\r\\f\\x0b]', '', 'g')) "
    "AS BIGINT) AS n_chars FROM s",
)
def mm_ocr_stub(spark, sf_dir):
    from scarf_spark.operators import multimodal as mm

    docs = _ds(spark, sf_dir).documents
    media = mm.attach_png_payload(docs, width=32)
    return mm.ocr_stub(media)


@q(
    "mm_audio_decode_real",
    # REAL WAV roundtrip: byte values become int16 PCM samples encoded
    # as a WAV blob, decoded with the stdlib reader; per-frame sample
    # sums must equal the oracle's byte-value frame sums
    "WITH media AS (SELECT doc_id, " + _ASCII + " AS text "
    "FROM documents WHERE doc_id % 3 = 1), "
    "px AS (SELECT doc_id, ord(substr(text, CAST(i AS INT), 1)) AS p, "
    "CAST((i - 1) // 100 AS INT) AS frame_idx "
    "FROM media, UNNEST(range(1, length(text) + 1)) AS t(i) "
    "WHERE i <= (length(text) // 100) * 100) "
    "SELECT doc_id, frame_idx, SUM(p) AS energy FROM px GROUP BY 1, 2",
)
def mm_audio_decode_real(spark, sf_dir):
    from scarf_spark.operators import multimodal as mm

    docs = _ds(spark, sf_dir).documents
    media = mm.attach_wav_payload(docs)
    return mm.audio_energy_real(media, frame_samples=100)


# ---------------------------------------------------------------------------
# §2.11 Structured Streaming (batch twins; stream parity in tests/test_streaming.py)
# ---------------------------------------------------------------------------

@q(
    "stream_window_tumbling",
    "SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start, "
    "event_type, COUNT(*) AS n_events, ROUND(SUM(value), 6) AS sum_value "
    "FROM events GROUP BY 1, 2",
)
def stream_window_tumbling(spark, sf_dir):
    from scarf_spark import streaming as strm

    return strm.tumbling_window_counts(_ds(spark, sf_dir).events, window="1 hour")


@q(
    "stream_window_sliding",
    "WITH slots AS (SELECT CAST(FLOOR(epoch(ts) / 1800) AS BIGINT) AS slot FROM events), "
    "x AS (SELECT (slot - i) * 1800 AS window_start FROM slots "
    "CROSS JOIN (SELECT UNNEST([0, 1]) AS i)) "
    "SELECT window_start, COUNT(*) AS n_events FROM x GROUP BY 1",
)
def stream_window_sliding(spark, sf_dir):
    from scarf_spark import streaming as strm

    return strm.sliding_window_counts(
        _ds(spark, sf_dir).events, window="1 hour", slide="30 minutes"
    )


@q(
    "stream_sessionize",
    "WITH o AS (SELECT user_id, event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t "
    "FROM events), "
    "b AS (SELECT *, CASE WHEN t - LAG(t) OVER "
    "(PARTITION BY user_id ORDER BY t, event_id) > 1800 THEN 1 ELSE 0 END AS brk FROM o), "
    "s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY t, event_id "
    "ROWS UNBOUNDED PRECEDING) AS session_id FROM b) "
    "SELECT user_id, session_id, COUNT(*) AS n_events, "
    "MIN(t) AS session_start, MAX(t) AS session_end FROM s GROUP BY 1, 2",
)
def stream_sessionize(spark, sf_dir):
    from scarf_spark import streaming as strm

    return strm.sessionize_batch(_ds(spark, sf_dir).events, gap_minutes=30)


@q(
    "stream_type_rate",
    "SELECT event_type, COUNT(*) AS n_events, "
    "ROUND(COUNT(*) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM events), 6) AS rate "
    "FROM events GROUP BY 1",
)
def stream_type_rate(spark, sf_dir):
    from scarf_spark import streaming as strm

    return strm.event_type_rate(_ds(spark, sf_dir).events)


@q(
    "stream_enrich",
    # stream-static enrichment: broadcast dimension join + per-(segment,
    # type) aggregate; DECIMAL accumulation makes the double sum exact
    "SELECT c.c_mktsegment AS segment, e.event_type, COUNT(*) AS n_events, "
    "CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value "
    "FROM events e JOIN customer c ON e.user_id = c.c_custkey GROUP BY 1, 2",
)
def stream_enrich(spark, sf_dir):
    from scarf_spark import streaming as strm

    ds = _ds(spark, sf_dir)
    return strm.enrich_events(ds.events, ds.customer)


@q(
    "stream_decon",
    # decontamination-at-ingest batch twin: per arriving doc, distinct
    # 4-gram collisions with the static src0 benchmark shingle set;
    # docs shorter than 4 words carry no shingles and emit no row
    "WITH w AS (SELECT doc_id, source, list_filter(string_split(text, ' '), "
    "x -> x != '') AS ws FROM documents), "
    "csh AS (SELECT DISTINCT doc_id, unnest(list_transform("
    "range(0, greatest(len(ws) - 3, 0)), "
    "i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]"
    ")) AS shingle FROM w WHERE source != 'src0'), "
    "bsh AS (SELECT DISTINCT unnest(list_transform("
    "range(0, greatest(len(ws) - 3, 0)), "
    "i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]"
    ")) AS shingle FROM w WHERE source = 'src0'), "
    "hits AS (SELECT csh.doc_id, COUNT(*) AS n_hits "
    "FROM csh JOIN bsh USING (shingle) GROUP BY csh.doc_id), "
    "per_doc AS (SELECT DISTINCT doc_id FROM csh) "
    "SELECT p.doc_id, COALESCE(h.n_hits, 0) AS n_hits, "
    "COALESCE(h.n_hits, 0) > 0 AS contaminated "
    "FROM per_doc p LEFT JOIN hits h USING (doc_id)",
)
def stream_decon(spark, sf_dir):
    """Decontamination at ingest (streaming.decontaminate_stream, here
    in its batch form — the stream twin is parity-tested in
    test_streaming): stream-static broadcast shingle join + one
    collect_set aggregation per doc."""
    from scarf_spark import streaming as strm
    from scarf_spark.operators.dedup import word_shingles

    docs = _ds(spark, sf_dir).documents
    bench_sh = word_shingles(docs.where(F.col("source") == "src0"), 4)
    out = strm.decontaminate_stream(
        docs.where(F.col("source") != "src0"), bench_sh, n=4
    )
    return out.select(
        "doc_id", F.col("n_hits").cast("bigint").alias("n_hits"), "contaminated"
    )


@q(
    "stream_join_attrib",
    # click->purchase attribution within 2h: the watermarked
    # stream-stream interval join's batch twin
    "SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id, "
    "CAST(FLOOR(epoch(p.ts)) - FLOOR(epoch(c.ts)) AS BIGINT) AS delay_s "
    "FROM events c JOIN events p ON c.user_id = p.user_id "
    "AND c.event_type = 'click' AND p.event_type = 'purchase' "
    "AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 120 MINUTE",
)
def stream_join_attrib(spark, sf_dir):
    from scarf_spark import streaming as strm

    return strm.attribution_join(_ds(spark, sf_dir).events, interval_minutes=120)


@q(
    "stream_dedup",
    # earliest event per (tumbling hour, user, type) — arrival-order
    # independent, so batch and watermark-stream modes agree exactly
    "WITH r AS (SELECT *, ROW_NUMBER() OVER "
    "(PARTITION BY FLOOR(epoch(ts) / 3600), user_id, event_type "
    "ORDER BY ts, event_id) AS rn FROM events) "
    "SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start, "
    "user_id, event_type, event_id AS first_event_id, "
    "CAST(FLOOR(epoch(ts)) AS BIGINT) AS first_ts FROM r WHERE rn = 1",
)
def stream_dedup(spark, sf_dir):
    from scarf_spark import streaming as strm

    return strm.first_event_dedup(_ds(spark, sf_dir).events, window="1 hour")


# ---------------------------------------------------------------------------
# round-2 additions: as-of join, rollup, IVF ANN, GFF promoters, BED bins,
# wide export, Paris dendrogram cut
# ---------------------------------------------------------------------------

@q(
    "join_asof",
    # most recent click at-or-before each view per user; ties at equal ts
    # resolve click-before-view then larger event_id (kind, id ordering)
    "WITH u AS (SELECT user_id, ts, 0 AS kind, event_id, value FROM events "
    "WHERE event_type = 'click' "
    "UNION ALL SELECT user_id, ts, 1 AS kind, event_id, NULL AS value FROM events "
    "WHERE event_type = 'view'), "
    "m AS (SELECT *, "
    "LAST_VALUE(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS) OVER "
    "(PARTITION BY user_id ORDER BY ts, kind, event_id ROWS UNBOUNDED PRECEDING) AS match_id, "
    "LAST_VALUE(CASE WHEN kind = 0 THEN value END IGNORE NULLS) OVER "
    "(PARTITION BY user_id ORDER BY ts, kind, event_id ROWS UNBOUNDED PRECEDING) AS match_value "
    "FROM u) "
    "SELECT event_id, user_id, ts, match_id, ROUND(match_value, 6) AS match_value "
    "FROM m WHERE kind = 1",
)
def join_asof(spark, sf_dir):
    ev = _ds(spark, sf_dir).events
    views = ev.where(F.col("event_type") == "view")
    clicks = ev.where(F.col("event_type") == "click")
    out = joins.asof_join(views, clicks)
    return out.withColumn("match_value", F.round("match_value", 6))


@q(
    "agg_rollup",
    # grouping-sets extension flagged in SURVEY.md §2.5 (reference has
    # none; Spark/DuckDB both have native ROLLUP)
    f"WITH {COUNTS_CTE}, "
    "j AS (SELECT c.value, cu.c_mktsegment AS segment, p.p_brand AS brand "
    "FROM counts c JOIN orders o ON c.cell_id = o.o_orderkey "
    "JOIN customer cu ON o.o_custkey = cu.c_custkey "
    "JOIN part p ON c.feat_id = p.p_partkey) "
    "SELECT COALESCE(segment, 'ALL') AS segment, COALESCE(brand, 'ALL') AS brand, "
    "CAST(SUM(value) AS DOUBLE) AS sum_value, COUNT(*) AS n "
    "FROM j GROUP BY ROLLUP (segment, brand)",
)
def agg_rollup(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    j = (
        ds.counts()
        .join(ds.orders, F.col("cell_id") == F.col("o_orderkey"))
        .join(ds.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(ds.part), F.col("feat_id") == F.col("p_partkey"))
        .select("value", F.col("c_mktsegment").alias("segment"), F.col("p_brand").alias("brand"))
    )
    return (
        j.rollup("segment", "brand")
        .agg(F.sum("value").cast("double").alias("sum_value"), F.count("*").alias("n"))
        .select(
            F.coalesce("segment", F.lit("ALL")).alias("segment"),
            F.coalesce("brand", F.lit("ALL")).alias("brand"),
            "sum_value",
            "n",
        )
    )


@q(
    "agg_distinct_stats",
    # distinct-aggregation family (SURVEY.md §2.5 notes the reference
    # has none; Spark plans it as a two-phase expand+agg)
    f"WITH {COUNTS_CTE}, "
    "j AS (SELECT c.cell_id, c.feat_id, c.value, cu.c_mktsegment AS segment "
    "FROM counts c JOIN orders o ON c.cell_id = o.o_orderkey "
    "JOIN customer cu ON o.o_custkey = cu.c_custkey) "
    "SELECT segment, COUNT(DISTINCT cell_id) AS n_cells, "
    "COUNT(DISTINCT feat_id) AS n_feats, "
    "CAST(SUM(value) AS DOUBLE) AS sum_value FROM j GROUP BY segment",
)
def agg_distinct_stats(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    j = (
        ds.counts()
        .join(ds.orders, F.col("cell_id") == F.col("o_orderkey"))
        .join(ds.customer, F.col("o_custkey") == F.col("c_custkey"))
        .select("cell_id", "feat_id", "value", F.col("c_mktsegment").alias("segment"))
    )
    return j.groupBy("segment").agg(
        F.countDistinct("cell_id").alias("n_cells"),
        F.countDistinct("feat_id").alias("n_feats"),
        F.sum("value").cast("double").alias("sum_value"),
    )


# tail shared with the recall oracle (which brings its own e/nv via
# _KNN_CTE — DuckDB rejects duplicate CTE names)
_IVF_TAIL = (
    "sd AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM nv "
    "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8), "
    "scored AS (SELECT a.vec_id, a.v, a.nrm, s.cid, "
    "1.0 - list_inner_product(a.v, s.cv) / (a.nrm * s.cnrm) AS cd, "
    "ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY "
    "1.0 - list_inner_product(a.v, s.cv) / (a.nrm * s.cnrm), s.cid) AS crank "
    "FROM nv a CROSS JOIN sd s), "
    "asg AS (SELECT vec_id AS dst, v AS vb, nrm AS nb, cid FROM scored WHERE crank = 1), "
    "probe AS (SELECT vec_id AS src, v AS va, nrm AS na, cid FROM scored WHERE crank <= 2), "
    "ivf AS (SELECT src, rank, dst, ROUND(d, 6) AS distance FROM "
    "(SELECT p.src, a.dst, 1.0 - list_inner_product(p.va, a.vb) / (p.na * a.nb) AS d, "
    "ROW_NUMBER() OVER (PARTITION BY p.src ORDER BY "
    "1.0 - list_inner_product(p.va, a.vb) / (p.na * a.nb), a.dst) AS rank "
    "FROM probe p JOIN asg a ON p.cid = a.cid AND p.src != a.dst) WHERE rank <= 5)"
)


_IVF_CTE = (
    "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
    "nv AS (SELECT vec_id, v, "
    "sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm FROM e), "
    f"{_IVF_TAIL}"
)


@q("ann_ivf", f"WITH {_IVF_CTE} SELECT src, rank, dst, distance FROM ivf")
def ann_ivf(spark, sf_dir):
    return knn.cosine_knn_ivf(
        _ds(spark, sf_dir).embeddings, k=5, n_cells=8, n_probe=2
    )


@q(
    "ann_quantize",
    "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) "
    "AS v FROM embeddings), "
    "m AS (SELECT vec_id, v, list_min(v) AS qmin, list_max(v) AS qmax FROM e), "
    "s AS (SELECT *, CASE WHEN qmax > qmin THEN (qmax - qmin) / 255.0 "
    "ELSE 0.0 END AS qscale, "
    "CASE WHEN qmax > qmin THEN list_transform(v, x -> "
    "CAST(ROUND((x - qmin) * 255.0 / (qmax - qmin)) AS INT)) "
    "ELSE list_transform(v, x -> 0) END AS codes FROM m) "
    # qmin/qscale exact (bit-identical expression results — ROUND's
    # shortest-decimal semantics differ between engines at boundaries);
    # mse as floored parts-per-billion over a left fold that replays
    # Spark's F.aggregate accumulation order exactly
    "SELECT vec_id, qmin, qscale, "
    "CAST(list_aggregate(codes, 'sum') AS BIGINT) AS code_sum, "
    "CAST(FLOOR(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, len(v) + 1), i -> "
    "(v[i] - (qmin + codes[i] * qscale)) * (v[i] - (qmin + codes[i] * qscale)))), "
    "(acc, x) -> acc + x) / len(v) * 1000000000.0) AS BIGINT) AS mse_ppb FROM s",
)
def ann_quantize(spark, sf_dir):
    return knn.quantize_int8(_ds(spark, sf_dir).embeddings)


@q(
    "ann_ivf_recall",
    f"WITH {_KNN_CTE}, {_IVF_TAIL} "
    "SELECT CAST((SELECT COUNT(*) FROM knn k JOIN ivf a "
    "ON k.src = a.src AND k.dst = a.dst) AS BIGINT) AS n_hit, "
    "CAST((SELECT COUNT(*) FROM knn) AS BIGINT) AS n_exact, "
    "ROUND((SELECT COUNT(*) FROM knn k JOIN ivf a "
    "ON k.src = a.src AND k.dst = a.dst) / "
    "CAST((SELECT COUNT(*) FROM knn) AS DOUBLE), 6) AS recall",
)
def ann_ivf_recall(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    exact = _knn_edges(spark, sf_dir)  # memoized
    ivf = knn.cosine_knn_ivf(ds.embeddings, k=5, n_cells=8, n_probe=2)
    return knn.knn_recall(ivf, exact)


@q("ann_ivf_persisted", f"WITH {_IVF_CTE} SELECT src, rank, dst, distance FROM ivf")
def ann_ivf_persisted(spark, sf_dir):
    """IVF search through the params-hash-keyed PERSISTED index
    (knn.cosine_knn_ivf_persisted): first call materializes the
    centroid + inverted-list tables via the RunRegistry, later calls
    probe the stored parquet without rebuilding — the ANN sibling of
    dedup_incremental and the parity piece for the reference's
    serialized hnswlib index (graph_datastore.py:855-956). Results
    bit-match the inline ann_ivf, so the oracle is the same CTE."""
    from scarf_spark.plans.registry import RunRegistry

    root = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "spark-warehouse", "ann_registry",
    )
    reg = RunRegistry(spark, root)
    return knn.cosine_knn_ivf_persisted(
        _ds(spark, sf_dir).embeddings, reg, k=5, n_cells=8, n_probe=2
    )


_NRM_FOLD = "sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum'))"


@q(
    "ann_ivf_append",
    # incremental index maintenance: centroids are the md5-seed rule
    # over the BASE (even-id) split; the odd-id batch is assigned by
    # the same (distance, cid) argmin — integer-only output
    "WITH eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
    "FROM embeddings WHERE vec_id % 2 = 0), "
    f"nvb AS (SELECT vec_id, v, {_NRM_FOLD} AS nrm FROM eb), "
    "sdb AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM nvb "
    "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8), "
    "qb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
    "FROM embeddings WHERE vec_id % 2 = 1), "
    f"nq AS (SELECT vec_id, v, {_NRM_FOLD} AS nrm FROM qb), "
    "sc AS (SELECT q.vec_id, s.cid, ROW_NUMBER() OVER ("
    "PARTITION BY q.vec_id ORDER BY "
    "1.0 - list_inner_product(q.v, s.cv) / (q.nrm * s.cnrm), s.cid) AS crank "
    "FROM nq q CROSS JOIN sdb s) "
    "SELECT vec_id, cid FROM sc WHERE crank = 1",
)
def ann_ivf_append(spark, sf_dir):
    """Incremental ANN maintenance (knn.ivf_append_persisted): a new
    batch (odd vec_ids) is assigned to the PERSISTED even-id index's
    centroids — O(batch) work, no rebuild, no list scan; the append
    sibling of ann_ivf_persisted's probe and the ANN mirror of
    dedup_incremental."""
    from scarf_spark.plans.registry import RunRegistry

    root = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "spark-warehouse", "ann_registry",
    )
    reg = RunRegistry(spark, root)
    emb = _ds(spark, sf_dir).embeddings
    return knn.ivf_append_persisted(
        emb.where(F.col("vec_id") % 2 == 0),
        emb.where(F.col("vec_id") % 2 == 1),
        reg,
        n_cells=8,
    )


_GFF_CTE = (
    # synthetic GFF3-like projection of events: one gene per event
    "gff AS (SELECT 'chr' || CAST(user_id % 3 AS VARCHAR) AS seqid, "
    "CASE WHEN event_type IN ('view', 'click') THEN 'gene' ELSE 'exon' END AS type, "
    "CAST(FLOOR(value * 100) AS BIGINT) AS start, "
    "CAST(FLOOR(value * 100) AS BIGINT) + 500 AS \"end\", "
    "CASE WHEN event_id % 2 = 0 THEN '+' ELSE '-' END AS strand, "
    "'g' || CAST(event_id AS VARCHAR) AS gene_id FROM events)"
)


@q(
    "src_gff_promoters",
    f"WITH {_GFF_CTE} "
    "SELECT seqid AS chrom, "
    "CASE WHEN strand = '+' THEN GREATEST(start - 2000, 0) "
    "ELSE GREATEST(\"end\" - 500, 0) END AS start, "
    "CASE WHEN strand = '+' THEN start + 500 ELSE \"end\" + 2000 END AS \"end\", "
    "gene_id, strand FROM gff WHERE type = 'gene'",
)
def src_gff_promoters(spark, sf_dir):
    from scarf_spark.sources import readers as src

    ev = _ds(spark, sf_dir).events
    gff = ev.select(
        F.concat(F.lit("chr"), (F.col("user_id") % 3).cast("string")).alias("seqid"),
        F.when(F.col("event_type").isin("view", "click"), "gene").otherwise("exon").alias("type"),
        (F.col("value") * 100).cast("long").alias("start"),
        ((F.col("value") * 100).cast("long") + 500).alias("end"),
        F.when(F.col("event_id") % 2 == 0, "+").otherwise("-").alias("strand"),
        F.concat(F.lit("g"), F.col("event_id").cast("string")).alias("gene_id"),
    )
    return src.gff_promoters(gff, flank_up=2000, flank_down=500)


@q(
    "src_bed_bins",
    # fragment BED → binned counts + background-barcode cutoff
    # (writers.py:1307-1395): barcodes with < 3 fragments dropped
    "WITH frag AS (SELECT 'bc' || CAST(user_id AS VARCHAR) AS barcode, "
    "'chr' || CAST(event_id % 5 AS VARCHAR) AS chrom, "
    "value AS start, value + 40.0 AS \"end\" FROM events WHERE event_type = 'error'), "
    "b AS (SELECT barcode, chrom, "
    "CAST(FLOOR((start + (\"end\" - start) / 2) / 1000) AS BIGINT) AS bin FROM frag), "
    "c AS (SELECT barcode, chrom, bin, COUNT(*) AS n_fragments FROM b GROUP BY 1, 2, 3), "
    "keep AS (SELECT barcode FROM c GROUP BY barcode HAVING SUM(n_fragments) >= 3) "
    "SELECT c.barcode, c.chrom, c.bin, c.n_fragments FROM c "
    "JOIN keep ON c.barcode = keep.barcode",
)
def src_bed_bins(spark, sf_dir):
    from scarf_spark.sources import readers as src

    ev = _ds(spark, sf_dir).events
    frag = ev.where(F.col("event_type") == "error").select(
        F.concat(F.lit("bc"), F.col("user_id").cast("string")).alias("barcode"),
        F.concat(F.lit("chr"), (F.col("event_id") % 5).cast("string")).alias("chrom"),
        F.col("value").alias("start"),
        (F.col("value") + 40.0).alias("end"),
    )
    return src.bed_to_bins(frag, bin_size=1000, min_fragments_per_cell=3)


_JSONL_STORE_CACHE: dict[str, str] = {}


def _jsonl_fixture_store(spark, sf_dir: str) -> str:
    """Write (once per sf_dir) the documents table as a JSONL corpus —
    the interchange format LLM corpora ship in — with deterministic
    content: one JSON object per line, keys in a fixed order, lines
    sorted by doc_id. The fixture is what a real ingest would receive;
    the read side (``readers.read_jsonl``) is the operator under
    test."""
    import hashlib
    import json as _json
    import tempfile

    if sf_dir in _JSONL_STORE_CACHE:
        return _JSONL_STORE_CACHE[sf_dir]
    path = os.path.join(
        tempfile.gettempdir(),
        "scarf_docs_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12] + ".jsonl",
    )
    with _fixture_lock(path):
        if sf_dir not in _JSONL_STORE_CACHE and not os.path.exists(path):
            _sweep_orphan_builds(path)
            rows = (
                _ds(spark, sf_dir)
                .documents.select(
                    "doc_id", "text", "lang", "source", "n_chars"
                )
                .orderBy("doc_id")
                .collect()
            )
            build = f"{path}.build.{os.getpid()}"
            try:
                with open(build, "w") as fh:
                    for r in rows:
                        fh.write(
                            _json.dumps(
                                {
                                    "doc_id": r["doc_id"],
                                    "text": r["text"],
                                    "lang": r["lang"],
                                    "source": r["source"],
                                    "n_chars": r["n_chars"],
                                }
                            )
                            + "\n"
                        )
                _publish_fixture(build, path)
            except BaseException:
                _rm_build(build)
                raise
        _JSONL_STORE_CACHE[sf_dir] = path
    return path


@q(
    "src_jsonl_docs",
    # the JSONL fixture is a faithful re-serialization of documents,
    # so the oracle reads the parquet directly; text compared by md5
    "SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5 "
    "FROM documents",
)
def src_jsonl_docs(spark, sf_dir):
    """JSONL corpus ingest (readers.read_jsonl): schema-explicit
    one-pass newline-delimited JSON scan, PERMISSIVE malformed-line
    handling — scanned back and fingerprinted against the parquet
    truth."""
    from scarf_spark.sources.readers import read_jsonl

    path = _jsonl_fixture_store(spark, sf_dir)
    docs = read_jsonl(
        spark,
        path,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    return docs.select(
        "doc_id", "lang", "source", "n_chars", F.md5("text").alias("text_md5")
    )


_CSV_STORE_CACHE: dict[str, str] = {}


def _csv_fixture_store(spark, sf_dir: str) -> str:
    """Write (once per sf_dir) the documents table as RFC-4180 CSV via
    Spark's writer — the roundtrip fixture for the CSV ingest query."""
    if sf_dir in _CSV_STORE_CACHE:
        return _CSV_STORE_CACHE[sf_dir]
    import tempfile

    out = tempfile.mkdtemp(prefix="scarf_csv_") + "/docs_csv"
    _ds(spark, sf_dir).documents.write.mode("overwrite").option(
        "header", True
    ).option("escape", '"').csv(out)
    _CSV_STORE_CACHE[sf_dir] = out
    return out


@q(
    "src_csv_docs",
    # the CSV fixture is a faithful RFC-4180 re-serialization of
    # documents, so the oracle reads the parquet directly; text
    # compared by md5
    "SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5 "
    "FROM documents",
)
def src_csv_docs(spark, sf_dir):
    """CSV corpus ingest: schema-pinned header CSV scan with RFC-4180
    quoting (quote-escape), scanned back and fingerprinted against the
    parquet truth — the flat-file twin of src_jsonl_docs."""
    docs = (
        spark.read.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("header", True)
        .option("escape", '"')
        .csv(_csv_fixture_store(spark, sf_dir))
    )
    return docs.select(
        "doc_id", "lang", "source", "n_chars", F.md5("text").alias("text_md5")
    )


_ORC_STORE_CACHE: dict[str, str] = {}


def _orc_fixture_store(spark, sf_dir: str) -> str:
    """Write (once per sf_dir) the documents table as ORC via Spark's
    built-in writer — the columnar-format roundtrip fixture next to
    the CSV/JSONL flat-file twins."""
    if sf_dir in _ORC_STORE_CACHE:
        return _ORC_STORE_CACHE[sf_dir]
    import tempfile

    out = tempfile.mkdtemp(prefix="scarf_orc_") + "/docs_orc"
    _ds(spark, sf_dir).documents.write.mode("overwrite").orc(out)
    _ORC_STORE_CACHE[sf_dir] = out
    return out


@q(
    "src_orc_docs",
    # the ORC fixture is a faithful re-serialization of documents, so
    # the oracle reads the parquet directly; text compared by md5
    "SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5 "
    "FROM documents",
)
def src_orc_docs(spark, sf_dir):
    """ORC corpus ingest: Spark's second native columnar format,
    scanned back and fingerprinted against the parquet truth —
    predicate pushdown and column pruning reach the ORC reader the
    same way they reach parquet, so a corpus delivered as ORC needs
    no conversion step."""
    docs = spark.read.orc(_orc_fixture_store(spark, sf_dir))
    return docs.select(
        "doc_id", "lang", "source", "n_chars", F.md5("text").alias("text_md5")
    )


_ZARR_STORE_CACHE: dict[str, str] = {}
# One lock PER fixture publish target (keyed by final path) for the
# shared /tmp fixture builders below. The bench stream runs 4 query
# threads and the driver's gate can run alongside a local pytest — and
# the original builders published their completion marker (.zarray /
# the file path itself) seconds BEFORE the payload (coo_to_zarr writes
# array metadata, then a distributed chunk job), so a concurrent
# reader in that window saw a structurally valid but EMPTY store
# (observed: src_zarr_counts read 0 rows while a second process's
# chunk job was still in flight). Same double-checked locking as
# _DEDUP_LOCK for in-process races; cross-process safety comes from
# _publish_fixture's atomic rename — the final path now only ever
# appears fully built. Keyed (not one global, r13 ADVICE): unrelated
# fixture families no longer serialize against each other under the
# 4-thread bench stream, and a builder that calls a DIFFERENT
# fixture getter on the same thread cannot self-deadlock. Builders
# must not nest the SAME target's lock (none do — the critical
# section is double-check + build + publish only).
_FIXTURE_LOCKS: dict[str, threading.Lock] = {}
_FIXTURE_LOCKS_GUARD = threading.Lock()


def _fixture_lock(final: str) -> threading.Lock:
    with _FIXTURE_LOCKS_GUARD:
        return _FIXTURE_LOCKS.setdefault(final, threading.Lock())


def _sweep_orphan_builds(final: str) -> None:
    """Remove ``{final}.build.{pid}`` leftovers whose builder pid is
    dead — a builder that crashed mid-build otherwise leaks its
    partial copy in /tmp forever (r13 ADVICE). ProcessLookupError is
    the only definitive "dead"; PermissionError means alive under
    another uid, so the dir is left alone."""
    import glob as _glob
    import shutil

    for orphan in _glob.glob(f"{final}.build.*"):
        try:
            os.kill(int(orphan.rsplit(".", 1)[-1]), 0)
        except ValueError:
            continue
        except ProcessLookupError:
            shutil.rmtree(orphan, ignore_errors=True)
            try:
                os.remove(orphan)
            except OSError:
                pass
        except OSError:
            continue


def _rm_build(build: str) -> None:
    """Best-effort removal of a failed build (file or directory)."""
    import shutil

    shutil.rmtree(build, ignore_errors=True)
    try:
        os.remove(build)
    except OSError:
        pass


def _publish_fixture(tmp: str, final: str, marker: str | None = None) -> None:
    """Atomically publish a fully-built fixture (file or directory):
    rename into place; if a concurrent builder already published,
    discard ours and use theirs. POSIX rename is atomic within a
    filesystem, so readers can never observe a half-built fixture at
    ``final``. ``marker``: a path inside a directory fixture whose
    existence means "complete" — a final dir WITHOUT it is a stale
    partial (crashed builder / pre-fix leftover) and is moved aside so
    the fresh build can land."""
    import shutil

    is_dir = os.path.isdir(tmp)
    try:
        if is_dir:
            os.rename(tmp, final)
        else:
            os.replace(tmp, final)
        return
    except OSError:
        pass
    if is_dir and marker is not None and not os.path.exists(marker):
        aside = f"{final}.stale.{os.getpid()}"
        try:
            os.rename(final, aside)
            os.rename(tmp, final)
            shutil.rmtree(aside, ignore_errors=True)
            return
        except OSError:
            shutil.rmtree(aside, ignore_errors=True)
    if not os.path.exists(final):
        raise OSError(f"fixture publish failed: {tmp} -> {final}")
    shutil.rmtree(tmp, ignore_errors=True)


def _zarr_fixture_store(spark, sf_dir: str) -> str:
    """Build (once per sf_dir) a reference-shaped Zarr v2 store from
    the counts slice ``feat_id <= 500`` using the DISTRIBUTED
    ``coo_to_zarr`` sink — the same ingest shape as the reference's
    one-time Zarr write (``scarf/writers.py:164-266``): a chunked 2-D
    ``RNA/counts`` array plus ``cellData/ids`` and
    ``RNA/featureData/ids`` 1-D arrays mapping dense matrix indices to
    the real cell/feature keys."""
    import hashlib
    import tempfile

    import numpy as np

    from scarf_spark.sources import zarr as z

    if sf_dir in _ZARR_STORE_CACHE:
        return _ZARR_STORE_CACHE[sf_dir]
    store = os.path.join(
        tempfile.gettempdir(),
        "scarf_zarr_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12],
    )
    marker = os.path.join(store, "RNA", "counts", ".zarray")
    with _fixture_lock(store):
        if sf_dir in _ZARR_STORE_CACHE:
            return _ZARR_STORE_CACHE[sf_dir]
        if not os.path.exists(marker):
            _sweep_orphan_builds(store)
            build = f"{store}.build.{os.getpid()}"
            try:
                sl = _ds(spark, sf_dir).counts().where(F.col("feat_id") <= 500)
                cells = np.sort(
                    np.array(
                        [r[0] for r in sl.select("cell_id").distinct().collect()],
                        dtype="<i8",
                    )
                )
                feats = np.sort(
                    np.array(
                        [r[0] for r in sl.select("feat_id").distinct().collect()],
                        dtype="<i8",
                    )
                )
                z.write_zarr_1d(os.path.join(build, "cellData", "ids"), cells)
                z.write_zarr_1d(
                    os.path.join(build, "RNA", "featureData", "ids"), feats
                )
                cmap = spark.createDataFrame(
                    [(int(c), i) for i, c in enumerate(cells)],
                    "cell_id long, row long",
                )
                fmap = spark.createDataFrame(
                    [(int(f), j) for j, f in enumerate(feats)],
                    "feat_id long, col long",
                )
                coo = (
                    sl.join(F.broadcast(cmap), "cell_id")
                    .join(F.broadcast(fmap), "feat_id")
                    .select("row", "col", "value")
                )
                z.coo_to_zarr(
                    coo,
                    os.path.join(build, "RNA", "counts"),
                    (len(cells), len(feats)),
                    chunks=(2048, 128),
                )
                _publish_fixture(build, store, marker)
            except BaseException:
                _rm_build(build)
                raise
        _ZARR_STORE_CACHE[sf_dir] = store
    return store


_H5_STORE_CACHE: dict[str, str] = {}


def _h5_fixture_store(spark, sf_dir: str) -> str:
    """Build (once per sf_dir) a 10x-style sparse HDF5 file from the
    counts slice ``feat_id <= 300`` with the vendored pure-python
    writer (``sources/minih5.py``): ``matrix/{data,indices,indptr}``
    CSC with cells on the major axis (``scarf/readers.py:192-294``
    CrH5Reader layout) plus ``cell_ids``/``feat_ids`` index arrays."""
    import hashlib
    import tempfile

    import numpy as np

    from scarf_spark.sources.minih5 import write_h5

    if sf_dir in _H5_STORE_CACHE:
        return _H5_STORE_CACHE[sf_dir]
    path = os.path.join(
        tempfile.gettempdir(),
        "scarf_h5_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12] + ".h5",
    )
    with _fixture_lock(path):
        if sf_dir not in _H5_STORE_CACHE and not os.path.exists(path):
            _sweep_orphan_builds(path)
            rows = (
                _ds(spark, sf_dir)
                .counts()
                .where(F.col("feat_id") <= 300)
                .collect()
            )
            cells = np.array(sorted({r["cell_id"] for r in rows}), dtype="<i8")
            feats = np.array(sorted({r["feat_id"] for r in rows}), dtype="<i8")
            cpos = {int(c): i for i, c in enumerate(cells)}
            fpos = {int(f): j for j, f in enumerate(feats)}
            triples = sorted(
                (cpos[r["cell_id"]], fpos[r["feat_id"]], r["value"])
                for r in rows
            )
            indptr = np.zeros(len(cells) + 1, dtype="<i8")
            for ci, _, _ in triples:
                indptr[ci + 1] += 1
            indptr = np.cumsum(indptr).astype("<i8")
            build = f"{path}.build.{os.getpid()}"
            try:
                write_h5(
                    build,
                    {
                        "matrix": {
                            "indptr": indptr,
                            "indices": np.array(
                                [t[1] for t in triples], dtype="<i4"
                            ),
                            "data": np.array(
                                [t[2] for t in triples], dtype="<f8"
                            ),
                        },
                        "cell_ids": cells,
                        "feat_ids": feats,
                    },
                )
                _publish_fixture(build, path)
            except BaseException:
                _rm_build(build)
                raise
        _H5_STORE_CACHE[sf_dir] = path
    return path


@q(
    "src_h5_counts",
    f"WITH {COUNTS_CTE} "
    "SELECT cell_id, feat_id, value FROM counts WHERE feat_id <= 300",
)
def src_h5_counts(spark, sf_dir):
    """HDF5-native ingestion roundtrip (VERDICT r5 gap #2): the counts
    slice is written as a 10x-style sparse CSC HDF5 file and scanned
    back by the distributed chunk reader (``readers.py``
    read_sparse_h5 — h5py when present, vendored minih5 otherwise);
    matrix indices resolve to real ids via the stored index arrays."""
    from scarf_spark.sources.minih5 import File
    from scarf_spark.sources.readers import read_sparse_h5

    path = _h5_fixture_store(spark, sf_dir)
    with File(path) as f:
        cells = [int(x) for x in f["cell_ids"][:]]
        feats = [int(x) for x in f["feat_ids"][:]]
    coo = read_sparse_h5(spark, path, group="matrix", orientation="csc")
    cmap = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cells)], "ci long, cid long"
    )
    fmap = spark.createDataFrame(
        [(j, f) for j, f in enumerate(feats)], "fj long, fid long"
    )
    return (
        coo.join(F.broadcast(cmap), coo["cell_id"] == cmap["ci"])
        .join(F.broadcast(fmap), coo["feat_id"] == fmap["fj"])
        .select(
            F.col("cid").alias("cell_id"),
            F.col("fid").alias("feat_id"),
            "value",
        )
    )


@q(
    "src_zarr_counts",
    f"WITH {COUNTS_CTE} "
    "SELECT cell_id, feat_id, value FROM counts WHERE feat_id <= 500",
)
def src_zarr_counts(spark, sf_dir):
    """Zarr-native ingestion roundtrip (VERDICT r5 gap #1): write the
    counts slice through the distributed COO→Zarr sink, then scan it
    back with the distributed chunk decoder, resolving matrix indices
    to real ids via the store's cellData/featureData arrays
    (``scarf/utils.py:156-164`` load_zarr). Exact reproduction of the
    source slice is the correctness bar."""
    from scarf_spark.sources import zarr as z

    store = _zarr_fixture_store(spark, sf_dir)
    return z.read_zarr_store(spark, store)["counts"]


_ZARR_BLOSC_CACHE: dict[str, str] = {}


@q(
    "src_zarr_blosc",
    f"WITH {COUNTS_CTE} "
    "SELECT cell_id, feat_id, value FROM counts WHERE feat_id <= 200",
)
def src_zarr_blosc(spark, sf_dir):
    """Blosc-compressed Zarr ingest (VERDICT r6 gap #3): every real
    scarf store is written with Blosc lz4 + bitshuffle
    (``scarf/writers.py:81``), so the counts slice is round-tripped
    through chunk files in that exact frame format — encoded and
    decoded by the pure-python codec in ``sources/blosc.py`` (no
    numcodecs in this container) — and the distributed scan must
    reproduce the source slice exactly."""
    import hashlib
    import tempfile

    import numpy as np

    from scarf_spark.sources import zarr as z

    comp = {"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 2}
    store = _ZARR_BLOSC_CACHE.get(sf_dir)
    if store is None:
        store = os.path.join(
            tempfile.gettempdir(),
            "scarf_zarrb_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12],
        )
        marker = os.path.join(store, "RNA", "counts", ".zarray")
        with _fixture_lock(store):
            if sf_dir not in _ZARR_BLOSC_CACHE and not os.path.exists(marker):
                _sweep_orphan_builds(store)
                build = f"{store}.build.{os.getpid()}"
                try:
                    sl = _ds(spark, sf_dir).counts().where(
                        F.col("feat_id") <= 200)
                    cells = np.sort(np.array(
                        [r[0] for r in
                         sl.select("cell_id").distinct().collect()],
                        dtype="<i8"))
                    feats = np.sort(np.array(
                        [r[0] for r in
                         sl.select("feat_id").distinct().collect()],
                        dtype="<i8"))
                    z.write_zarr_1d(
                        os.path.join(build, "cellData", "ids"), cells,
                        compressor=comp)
                    z.write_zarr_1d(
                        os.path.join(build, "RNA", "featureData", "ids"),
                        feats, compressor=comp)
                    cmap = spark.createDataFrame(
                        [(int(c), i) for i, c in enumerate(cells)],
                        "cell_id long, row long")
                    fmap = spark.createDataFrame(
                        [(int(f), j) for j, f in enumerate(feats)],
                        "feat_id long, col long")
                    coo = (sl.join(F.broadcast(cmap), "cell_id")
                           .join(F.broadcast(fmap), "feat_id")
                           .select("row", "col", "value"))
                    z.coo_to_zarr(coo, os.path.join(build, "RNA", "counts"),
                                  (len(cells), len(feats)),
                                  chunks=(2048, 128), compressor=comp)
                    _publish_fixture(build, store, marker)
                except BaseException:
                    _rm_build(build)
                    raise
            _ZARR_BLOSC_CACHE[sf_dir] = store
    return z.read_zarr_store(spark, store)["counts"]


@q(
    "src_zarr_pruned",
    f"WITH {COUNTS_CTE}, "
    "sl AS (SELECT * FROM counts WHERE feat_id <= 500), "
    "f AS (SELECT feat_id, DENSE_RANK() OVER (ORDER BY feat_id) AS rk "
    "FROM (SELECT DISTINCT feat_id FROM sl)) "
    "SELECT s.feat_id, CAST(SUM(s.value) AS DOUBLE) AS tot, "
    "COUNT(*) AS nnz FROM sl s JOIN f ON s.feat_id = f.feat_id "
    "WHERE f.rk <= 128 GROUP BY 1",
)
def src_zarr_pruned(spark, sf_dir):
    """Chunk-range-pruned Zarr scan: only the first column-chunk
    (128 features at chunk width 128) is ever opened — the Zarr analog
    of parquet partition pruning — then per-feature totals over the
    decoded triplets."""
    from scarf_spark.sources import zarr as z

    store = _zarr_fixture_store(spark, sf_dir)
    coo = z.read_zarr_2d_coo(
        spark, os.path.join(store, "RNA", "counts"), col_range=(0, 128)
    )
    feats = z.read_zarr_1d(
        spark, os.path.join(store, "RNA", "featureData", "ids")
    )
    return (
        coo.join(
            F.broadcast(
                feats.select(F.col("idx").alias("col"), F.col("value").alias("feat_id"))
            ),
            "col",
        )
        .groupBy("feat_id")
        .agg(F.sum("value").alias("tot"), F.count("*").alias("nnz"))
    )


@q(
    "sink_wide",
    f"WITH {COUNTS_CTE} "
    "SELECT cell_id, "
    "CAST(COALESCE(SUM(value) FILTER (WHERE feat_id = 1), 0.0) AS DOUBLE) AS f1, "
    "CAST(COALESCE(SUM(value) FILTER (WHERE feat_id = 2), 0.0) AS DOUBLE) AS f2, "
    "CAST(COALESCE(SUM(value) FILTER (WHERE feat_id = 3), 0.0) AS DOUBLE) AS f3 "
    "FROM counts GROUP BY cell_id",
)
def sink_wide(spark, sf_dir):
    from scarf_spark.sources import sinks

    return sinks.to_wide(_ds(spark, sf_dir).counts(), feat_ids=[1, 2, 3])


@q(
    "qc_prevalence",
    # ATAC peak prevalence (assay.py:1138-1168): per-feature sum of
    # TF-IDF normalized values, top 25 peaks (assay.py:1193-1197)
    f"WITH {COUNTS_CTE}, "
    "tot AS (SELECT cell_id, SUM(value) AS t FROM counts GROUP BY cell_id), "
    "df AS (SELECT feat_id, COUNT(*) FILTER (WHERE value > 0) AS d FROM counts GROUP BY feat_id), "
    "tf AS (SELECT c.feat_id, "
    f"(c.value / tot.t) * LOG2(1 + {_N_CELLS_SQL} / (df.d + 1.0)) AS nv "
    "FROM counts c JOIN tot ON c.cell_id = tot.cell_id JOIN df ON c.feat_id = df.feat_id) "
    "SELECT feat_id, ROUND(SUM(nv), 6) AS prevalence FROM tf GROUP BY feat_id "
    "ORDER BY SUM(nv) DESC, feat_id LIMIT 25",
)
def qc_prevalence(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    tf = normalize.norm_tf_idf(ds.counts(), n_cells=_n_cells(ds), rounded=False)
    prev = tf.groupBy("feat_id").agg(F.sum("norm_value").alias("_p"))
    top = windows.top_n_by_stat(prev, "_p", 25, "feat_id")
    return top.select("feat_id", F.round("_p", 6).alias("prevalence"))


# LSI = truncated SVD of the un-centered TF-IDF matrix via the Gram
# matrix's eigenvectors — same Jacobi replay as ml_pca_project, over
# the fixed feature set 1..20, skip-first (depth component) like the
# reference's lsi_skip_first.
_LSI_PREP_CTE = (
    "tot AS (SELECT cell_id, SUM(value) AS t FROM counts GROUP BY cell_id), "
    "dfq AS (SELECT feat_id, COUNT(*) FILTER (WHERE value > 0) AS d "
    "FROM counts GROUP BY feat_id), "
    "tfidf AS MATERIALIZED (SELECT c.cell_id, c.feat_id, "
    f"(c.value / tot.t) * LOG2(1 + {_N_CELLS_SQL} / (dfq.d + 1.0)) AS norm_value "
    "FROM counts c JOIN tot ON c.cell_id = tot.cell_id "
    "JOIN dfq ON c.feat_id = dfq.feat_id "
    "WHERE c.feat_id BETWEEN 1 AND 20), "
    "lcells AS (SELECT DISTINCT cell_id FROM tfidf), "
    # slot i ↔ feat_id i (the Spark side passes feat_ids=range(1,21))
    "zdims AS MATERIALIZED (SELECT l.cell_id, s.i AS slot, "
    "COALESCE(x.norm_value, 0.0) AS val "
    "FROM lcells l CROSS JOIN UNNEST(range(1, 21)) s(i) "
    "LEFT JOIN tfidf x ON x.cell_id = l.cell_id AND x.feat_id = s.i), "
    "nrow AS (SELECT COUNT(DISTINCT cell_id) AS n FROM zdims), "
    "jm0 AS (SELECT a.slot - 1 AS i, b.slot - 1 AS j, SUM(a.val * b.val) / "
    "GREATEST((SELECT n FROM nrow) - 1, 1) AS val FROM zdims a "
    "JOIN zdims b ON a.cell_id = b.cell_id AND a.slot <= b.slot "
    "GROUP BY a.slot, b.slot), "
    "jmat AS MATERIALIZED (SELECT i * 20 + j AS fi, val FROM jm0 "
    "UNION ALL SELECT j * 20 + i AS fi, val FROM jm0 WHERE i < j)"
)


@q(
    "ml_lsi",
    f"WITH RECURSIVE {COUNTS_CTE}, {_LSI_PREP_CTE}, {_jacobi_cte(20)}, "
    + _pca_tail_sql(20, 5, 1, "lsi"),
)
def ml_lsi(spark, sf_dir):
    from scarf_spark.ml import reduction

    ds = _ds(spark, sf_dir)
    tf = normalize.norm_tf_idf(ds.counts(), n_cells=_n_cells(ds), rounded=False)
    feats = list(range(1, 21))
    vec = reduction.assemble_vectors(tf, feat_ids=feats, value_col="norm_value")
    loadings, _ev = reduction.lsi_fit(vec, k=5, skip_first=True, d=len(feats))
    out = reduction.pca_transform(vec, loadings)
    return out.select(
        "cell_id", *[F.round(f"pc{i}", 6).alias(f"lsi{i}") for i in range(1, 6)]
    )


# SQL replay of the integer-exact Paris agglomeration
# (ml.cluster.paris_dendrogram_micros): average-linkage sim between
# clusters is EXACTLY W/(|A|·|B|) with W an integer micro-weight sum,
# so each merge is an argmax over a double quotient of exact ints +
# (a, b) tie-break — a recursive CTE whose working table carries the
# full state per merge. Row types in st: 0 = membership (node x →
# cluster y), 1 = cluster edge (x, y, w), 2 = merge log (children
# x, y → new cluster id w at iteration it). New cluster ids are
# max(node)+it — order-isomorphic to the engine's dense n+merge#
# space, so the (a, b) tie-break decides identically.
_PARIS_ST_CTE = (
    "ed AS MATERIALIZED (SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b, "
    "SUM(CAST(FLOOR(1000000.0 / (1.0 + distance)) AS BIGINT)) AS w "
    "FROM knn GROUP BY 1, 2), "
    "mx AS MATERIALIZED (SELECT MAX(b) AS m FROM ed), "
    "st AS ("
    "SELECT 0 AS it, 0 AS typ, n AS x, n AS y, CAST(0 AS BIGINT) AS w "
    "FROM (SELECT a AS n FROM ed UNION SELECT b FROM ed) "
    "UNION ALL SELECT 0, 1, a, b, w FROM ed "
    "UNION ALL ("
    "WITH cur AS (SELECT * FROM st), "
    "sizes AS (SELECT y AS c, COUNT(*) AS s FROM cur WHERE typ = 0 GROUP BY 1), "
    "nxt AS (SELECT MAX(it) + 1 AS i, "
    "(SELECT m FROM mx) + MAX(it) + 1 AS nid FROM cur), "
    "best AS (SELECT e.x AS ba, e.y AS bb FROM cur e "
    "JOIN sizes sa ON sa.c = e.x JOIN sizes sb ON sb.c = e.y "
    "WHERE e.typ = 1 "
    "ORDER BY CAST(e.w AS DOUBLE) / (sa.s * sb.s) DESC, e.x, e.y LIMIT 1) "
    "SELECT nxt.i, 0, m.x, "
    "CASE WHEN m.y IN (best.ba, best.bb) THEN nxt.nid ELSE m.y END, "
    "CAST(0 AS BIGINT) FROM cur m, best, nxt WHERE m.typ = 0 "
    "UNION ALL "
    "SELECT nxt.i, 1, "
    "LEAST(CASE WHEN e.x IN (best.ba, best.bb) THEN nxt.nid ELSE e.x END, "
    "CASE WHEN e.y IN (best.ba, best.bb) THEN nxt.nid ELSE e.y END), "
    "GREATEST(CASE WHEN e.x IN (best.ba, best.bb) THEN nxt.nid ELSE e.x END, "
    "CASE WHEN e.y IN (best.ba, best.bb) THEN nxt.nid ELSE e.y END), "
    "SUM(e.w) FROM cur e, best, nxt "
    "WHERE e.typ = 1 AND NOT (e.x = best.ba AND e.y = best.bb) "
    "GROUP BY 1, 2, 3, 4 "
    "UNION ALL "
    "SELECT nxt.i, 2, best.ba, best.bb, nxt.nid FROM best, nxt"
    "))"
)


@q(
    "clust_paris_cut",
    # the n_clusters=5 cut_straight = the membership state 4 merges
    # before the end, clusters renumbered by smallest member
    f"WITH RECURSIVE {_KNN_CTE}, {_PARIS_ST_CTE}, "
    # single materialized scan — fin + lab would re-run the recursion
    "stm AS MATERIALIZED (SELECT * FROM st), "
    "fin AS (SELECT GREATEST(MAX(it) - 4, 0) AS cut_it FROM stm), "
    "lab AS (SELECT x AS node, y AS c FROM stm, fin "
    "WHERE typ = 0 AND it = cut_it), "
    "mins AS (SELECT c, MIN(node) AS mn FROM lab GROUP BY 1) "
    "SELECT lab.node, CAST(DENSE_RANK() OVER (ORDER BY mins.mn) - 1 AS INT) "
    "AS cluster FROM lab JOIN mins ON lab.c = mins.c",
)
def clust_paris_cut(spark, sf_dir):
    """Paris average-linkage dendrogram, cut at 5 clusters — now the
    integer-exact agglomeration (paris_dendrogram_micros): weights are
    floor(1e6/(1+distance)) micros, cluster similarity the exact
    rational W/(|A|·|B|), so the merge order (all the cut consumes) is
    engine-independent and the query carries a full value oracle."""
    from scarf_spark.ml import cluster as cl

    edges = _knn_edges(spark, sf_dir).withColumn(
        "w_micros",
        F.floor(F.lit(1000000.0) / (F.lit(1.0) + F.col("distance"))).cast("long"),
    )
    merges, leaves = cl.paris_dendrogram_micros(edges)
    labels = cl.cut_dendrogram(merges, leaves, n_clusters=5)
    return spark.createDataFrame(
        sorted(labels.items()), "node long, cluster int"
    )


@q(
    "clust_balanced_cut",
    # BalancedCut(max_size=100, min_size=1) over the same replayed
    # dendrogram: label every leaf by its TOPMOST ancestor of size ≤
    # 100 (sizes strictly increase up a chain, so that is the unique
    # max-size qualifying ancestor); renumber by smallest member.
    # Parent pointers come from the merge-log rows (typ 2), cluster
    # sizes from the membership rows at each cluster's live range.
    f"WITH RECURSIVE {_KNN_CTE}, {_PARIS_ST_CTE}, "
    # one materialized scan of the recursion — par/szs/anc otherwise
    # each re-execute the whole merge replay
    "stm AS MATERIALIZED (SELECT * FROM st), "
    "par AS (SELECT x AS node, w AS p FROM stm WHERE typ = 2 "
    "UNION ALL SELECT y, w FROM stm WHERE typ = 2), "
    "szs AS (SELECT c, MAX(s) AS s FROM (SELECT y AS c, it, COUNT(*) AS s "
    "FROM stm WHERE typ = 0 GROUP BY 1, 2) GROUP BY 1), "
    "anc AS (SELECT n AS node, n AS a FROM "
    "(SELECT a AS n FROM ed UNION SELECT b FROM ed) "
    "UNION ALL SELECT anc.node, par.p FROM anc JOIN par ON anc.a = par.node), "
    "pick AS (SELECT node, a, ROW_NUMBER() OVER (PARTITION BY node "
    "ORDER BY s DESC) AS rn FROM anc JOIN szs ON szs.c = anc.a "
    "WHERE s <= 100), "
    "lab AS (SELECT node, a AS c FROM pick WHERE rn = 1), "
    "mins AS (SELECT c, MIN(node) AS mn FROM lab GROUP BY 1) "
    "SELECT lab.node, CAST(DENSE_RANK() OVER (ORDER BY mins.mn) - 1 AS INT) "
    "AS cluster FROM lab JOIN mins ON lab.c = mins.c",
)
def clust_balanced_cut(spark, sf_dir):
    from scarf_spark.ml import cluster as cl

    edges = _knn_edges(spark, sf_dir).withColumn(
        "w_micros",
        F.floor(F.lit(1000000.0) / (F.lit(1.0) + F.col("distance"))).cast("long"),
    )
    merges, leaves = cl.paris_dendrogram_micros(edges)
    labels = cl.cut_dendrogram_balanced(merges, leaves, max_size=100)
    return spark.createDataFrame(
        sorted(labels.items()), "node long, cluster int"
    )


clust_balanced_cut.__doc__ = (
    "BalancedCut over the integer-exact Paris dendrogram "
    "(paris_dendrogram_micros + cut_dendrogram_balanced): split any "
    "cluster over 100 members — value-oracled since the merge order "
    "is a deterministic function of the integer edge table."
)


# ---------------------------------------------------------------------------
# round 5: relational surface completions (pivot, exact quantiles,
# sketches, JSON), graph analytics (triangles, PageRank), dedup
# containment, PQ compression
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@q(
    "agg_pivot",
    "SELECT user_id, "
    + ", ".join(
        f"COALESCE(ROUND(SUM(value) FILTER (WHERE event_type = '{t}'), 6), 0.0) "
        f"AS {t}"
        for t in _EVENT_TYPES
    )
    + " FROM events GROUP BY user_id",
)
def agg_pivot(spark, sf_dir):
    return aggregate.pivot_wide(
        _ds(spark, sf_dir).events, "user_id", "event_type", _EVENT_TYPES, "value"
    )


@q(
    "agg_exact_median",
    "SELECT event_type, "
    "ROUND(quantile_cont(value, 0.25), 6) AS q25, "
    "ROUND(quantile_cont(value, 0.50), 6) AS q50, "
    "ROUND(quantile_cont(value, 0.75), 6) AS q75 "
    "FROM events GROUP BY event_type",
)
def agg_exact_median(spark, sf_dir):
    return aggregate.exact_quantiles(
        _ds(spark, sf_dir).events, "event_type", "value", (0.25, 0.5, 0.75)
    )


@q(
    "agg_weighted_median",
    # exact weighted (lower) median: smallest price v with
    # 2*sum{qty : price <= v} >= total qty — defined on VALUES (no row
    # tiebreak), so the result is an input value, engine-portable by
    # construction. The engine computes the same v via the distributed
    # threshold-crossing grid (windows.grouped_weighted_median), never
    # a per-group sort task
    "WITH b AS (SELECT l_returnflag, l_extendedprice AS val, "
    "CAST(l_quantity AS BIGINT) AS wt FROM lineitem), "
    "tw AS (SELECT l_returnflag, SUM(wt) AS w FROM b GROUP BY l_returnflag), "
    "vv AS (SELECT l_returnflag, val, SUM(wt) AS vw FROM b "
    "GROUP BY l_returnflag, val), "
    "cum AS (SELECT l_returnflag, val, SUM(vw) OVER "
    "(PARTITION BY l_returnflag ORDER BY val) AS cw FROM vv) "
    "SELECT cum.l_returnflag, tw.w AS w_total, MIN(val) AS wmedian "
    "FROM cum JOIN tw ON cum.l_returnflag = tw.l_returnflag "
    "WHERE 2 * cw >= tw.w GROUP BY cum.l_returnflag, tw.w",
)
def agg_weighted_median(spark, sf_dir):
    """Quantity-weighted median extended price per return flag
    (windows.grouped_weighted_median) — exact, via the fixed-grid
    threshold-crossing plan (only the crossing cell's rows ever see a
    window)."""
    li = _ds(spark, sf_dir).table("lineitem")
    return windows.grouped_weighted_median(
        li, ["l_returnflag"], "l_extendedprice", "l_quantity"
    )


@q(
    "agg_grouped_p90",
    # exact distributed p90: smallest v with 10*cumw(<=v) >= 9*W — the
    # same threshold-crossing grid kernel at an integer-fraction
    # quantile (a float p would sit on a rounding knife-edge)
    "WITH b AS (SELECT event_type, CAST(FLOOR(value * 1000000.0) AS BIGINT) "
    "AS val, 1 AS wt FROM events), "
    "tw AS (SELECT event_type, SUM(wt) AS w FROM b GROUP BY event_type), "
    "vv AS (SELECT event_type, val, SUM(wt) AS vw FROM b "
    "GROUP BY event_type, val), "
    "cum AS (SELECT event_type, val, SUM(vw) OVER "
    "(PARTITION BY event_type ORDER BY val) AS cw FROM vv) "
    "SELECT cum.event_type, tw.w AS w_total, MIN(val) AS wmedian "
    "FROM cum JOIN tw ON cum.event_type = tw.event_type "
    "WHERE 10 * cw >= 9 * tw.w GROUP BY cum.event_type, tw.w",
)
def agg_grouped_p90(spark, sf_dir):
    """Exact p90 of event value micros per type via the grid kernel
    (windows.grouped_weighted_median with p = 9/10, unit weights) —
    the arbitrary-quantile form of the distributed exact median."""
    ev = _ds(spark, sf_dir).events
    d = ev.select(
        "event_type",
        F.floor(F.col("value") * 1000000.0).cast("long").alias("val"),
        F.lit(1).alias("wt"),
    )
    return windows.grouped_weighted_median(
        d, ["event_type"], "val", "wt", p_num=9, p_den=10
    )


@q(
    "agg_boxplot",
    # Tukey box-plot card: exact quartiles, 1.5*IQR fences from the
    # ROUNDED quartiles (the cross-engine-stable values), one re-scan
    # for the outlier count
    "WITH qs AS (SELECT event_type, "
    "ROUND(quantile_cont(value, 0.25), 6) AS q25, "
    "ROUND(quantile_cont(value, 0.50), 6) AS q50, "
    "ROUND(quantile_cont(value, 0.75), 6) AS q75 "
    "FROM events GROUP BY event_type), "
    "f AS (SELECT event_type, q25, q50, q75, "
    "ROUND(q75 - q25, 6) AS iqr, "
    "q25 - 1.5 * (q75 - q25) AS lo, q75 + 1.5 * (q75 - q25) AS hi FROM qs) "
    "SELECT e.event_type, q25, q50, q75, iqr, COUNT(*) AS n, "
    "CAST(SUM(CASE WHEN e.value < f.lo OR e.value > f.hi THEN 1 ELSE 0 END) "
    "AS BIGINT) AS n_outliers "
    "FROM events e JOIN f ON e.event_type = f.event_type "
    "GROUP BY e.event_type, q25, q50, q75, iqr",
)
def agg_boxplot(spark, sf_dir):
    """Tukey box-plot summary per event type (aggregate.boxplot_stats)
    — quartiles, IQR fences, and outlier counts in two shuffles."""
    return aggregate.boxplot_stats(_ds(spark, sf_dir).events, "event_type", "value")


@q(
    "samp_weighted",
    # Efraimidis-Spirakis A-ES weighted sampling without replacement:
    # key = ln(u)/w with u from the 60-bit md5 of the id — seedless,
    # single-IEEE-op shapes, so any engine draws the same sample
    "WITH s AS (SELECT doc_id, lang, n_chars, "
    "CASE WHEN n_chars > 0 THEN "
    "ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT "
    "+ 1.0) / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) "
    "ELSE CAST('-infinity' AS DOUBLE) END AS key FROM documents) "
    "SELECT doc_id, lang, n_chars FROM (SELECT *, ROW_NUMBER() OVER "
    "(PARTITION BY lang ORDER BY key DESC, doc_id) AS rn FROM s) "
    "WHERE rn <= 20",
)
def samp_weighted(spark, sf_dir):
    """Quality-weighted document selection: per language, 20 docs drawn
    with probability proportional to n_chars (filters.weighted_sample,
    A-ES without replacement)."""
    docs = _ds(spark, sf_dir).documents.select("doc_id", "lang", "n_chars")
    return filters.weighted_sample(
        docs, "n_chars", "doc_id", k=20, group_col="lang"
    )


@q(
    "agg_hist_quantile",
    # the SCALE path for per-group percentiles: 1024 fixed-grid bin
    # counts (bounded, mergeable state) instead of exact percentile's
    # per-group value multiset; rank targets are exact integers
    "WITH mm AS (SELECT event_type AS grp, MIN(value) AS lo, "
    "MAX(value) AS hi, COUNT(value) AS n FROM events GROUP BY 1), "
    "b AS (SELECT mm.grp, CASE WHEN hi = lo THEN 0 ELSE "
    "LEAST(CAST(FLOOR((value - lo) / ((hi - lo) / 1024.0)) AS BIGINT), 1023) "
    "END AS bin, COUNT(*) AS c FROM events e "
    "JOIN mm ON e.event_type = mm.grp GROUP BY 1, 2), "
    "cum AS (SELECT grp, bin, SUM(c) OVER (PARTITION BY grp ORDER BY bin "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM b), "
    "j AS (SELECT cum.grp, bin, cum, mm.lo, mm.hi, mm.n "
    "FROM cum JOIN mm ON cum.grp = mm.grp), "
    "qb AS (SELECT grp, lo, hi, n, "
    + ", ".join(
        "MIN(CASE WHEN cum >= LEAST(CAST(FLOOR(CAST(0.{q} AS DOUBLE) * n) "
        "AS BIGINT) + 1, n) THEN bin END) AS b{qq}".format(
            q=q, qq=qq
        )
        for q, qq in (("25", "25"), ("5", "50"), ("75", "75"))
    )
    + " FROM j GROUP BY grp, lo, hi, n) "
    "SELECT grp AS event_type, n, "
    + ", ".join(
        f"ROUND(lo + (b{qq} + 0.5) * ((hi - lo) / 1024.0), 6) AS q{qq}_est"
        for qq in ("25", "50", "75")
    )
    + " FROM qb",
)
def agg_hist_quantile(spark, sf_dir):
    return aggregate.hist_quantiles(
        _ds(spark, sf_dir).events, "event_type", "value", n_bins=1024
    )


@q(
    "qc_profile",
    # per-column data-quality profile of the corpus table: the unpivot
    # is a UNION ALL of string casts (BIGINT->VARCHAR renders
    # identically in both engines; string min/max is binary collation
    # in both)
    "WITH un AS ("
    + " UNION ALL ".join(
        f"SELECT '{c}' AS \"column\", CAST({c} AS VARCHAR) AS value "
        "FROM documents"
        for c in ("doc_id", "text", "lang", "source", "n_chars")
    )
    + ") SELECT \"column\", COUNT(*) AS n_rows, "
    "SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS n_nulls, "
    "COUNT(DISTINCT value) AS ndv, "
    "MIN(value) AS min_value, MAX(value) AS max_value "
    "FROM un GROUP BY \"column\"",
)
def qc_profile(spark, sf_dir):
    return aggregate.profile_columns(
        _ds(spark, sf_dir).documents,
        ["doc_id", "text", "lang", "source", "n_chars"],
    )


@q(
    "sketch_hll",
    # from-scratch HyperLogLog with a portable md5 register layout:
    # rho from bin()-string length (integer exact), harmonic mean as a
    # BIGINT power-of-two sum (order-free), alpha_64 linear-counting
    # correction — bit-reproducible where native HLL++ never is
    "WITH hashed AS (SELECT DISTINCT event_type AS grp, "
    "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h "
    "FROM events), "
    "ex AS (SELECT grp, COUNT(*) AS exact_ndv FROM hashed GROUP BY grp), "
    "regs AS (SELECT grp, h & 63 AS reg, "
    "MAX(CASE WHEN (h >> 6) = 0 THEN 55 "
    "ELSE 55 - length(bin(h >> 6)) END) AS mreg "
    "FROM hashed GROUP BY grp, h & 63), "
    "ag AS (SELECT grp, COUNT(*) AS n_present, "
    "SUM(1::BIGINT << (55 - mreg)) AS numer_p FROM regs GROUP BY grp), "
    "est AS (SELECT grp, n_present, "
    "(CAST(0.709 AS DOUBLE) * 64 * 64) * 36028797018963968.0 / "
    "CAST(numer_p + (64 - n_present) * 36028797018963968 AS DOUBLE) AS raw "
    "FROM ag) "
    "SELECT ex.grp AS event_type, exact_ndv, "
    "CAST(64 - n_present AS BIGINT) AS n_zero_regs, "
    "ROUND(CASE WHEN raw <= 160.0 AND n_present < 64 "
    "THEN 64.0 * ln(64.0 / CAST(64 - n_present AS DOUBLE)) ELSE raw END, 6) "
    "AS est_ndv FROM ex JOIN est ON ex.grp = est.grp",
)
def sketch_hll(spark, sf_dir):
    return aggregate.hll_distinct(
        _ds(spark, sf_dir).events, "event_type", "user_id", p=6
    )


@q(
    "sketch_hll_merge",
    # sketch ALGEBRA: per-group HLL registers merged by register-wise
    # MAX must equal the directly-built global sketch — the property
    # that lets shards/days be sketched independently at 100 TB
    "WITH hashed AS (SELECT DISTINCT event_type AS grp, "
    "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h "
    "FROM events), "
    "base AS (SELECT grp, h & 63 AS reg, CASE WHEN (h >> 6) = 0 THEN 55 "
    "ELSE 55 - length(bin(h >> 6)) END AS rho FROM hashed), "
    "pg AS (SELECT grp, reg, MAX(rho) AS mreg FROM base GROUP BY 1, 2), "
    "mg AS (SELECT reg, MAX(mreg) AS mreg FROM pg GROUP BY reg), "
    "dr AS (SELECT reg, MAX(rho) AS mreg FROM base GROUP BY reg), "
    "em AS (SELECT COUNT(*) AS n_p, SUM(1::BIGINT << (55 - mreg)) AS np "
    "FROM mg), "
    "ed AS (SELECT COUNT(*) AS n_p, SUM(1::BIGINT << (55 - mreg)) AS np "
    "FROM dr), "
    "vm AS (SELECT ROUND(CASE WHEN (CAST(0.709 AS DOUBLE) * 64 * 64) "
    "* 36028797018963968.0 / CAST(np + (64 - n_p) * 36028797018963968 "
    "AS DOUBLE) <= 160.0 AND n_p < 64 THEN 64.0 * ln(64.0 / "
    "CAST(64 - n_p AS DOUBLE)) ELSE (CAST(0.709 AS DOUBLE) * 64 * 64) "
    "* 36028797018963968.0 / CAST(np + (64 - n_p) * 36028797018963968 "
    "AS DOUBLE) END, 6) AS est_merged FROM em), "
    "vd AS (SELECT ROUND(CASE WHEN (CAST(0.709 AS DOUBLE) * 64 * 64) "
    "* 36028797018963968.0 / CAST(np + (64 - n_p) * 36028797018963968 "
    "AS DOUBLE) <= 160.0 AND n_p < 64 THEN 64.0 * ln(64.0 / "
    "CAST(64 - n_p AS DOUBLE)) ELSE (CAST(0.709 AS DOUBLE) * 64 * 64) "
    "* 36028797018963968.0 / CAST(np + (64 - n_p) * 36028797018963968 "
    "AS DOUBLE) END, 6) AS est_direct FROM ed), "
    "ex AS (SELECT COUNT(DISTINCT h) AS exact_ndv FROM hashed), "
    "ng AS (SELECT COUNT(DISTINCT grp) AS n_groups FROM hashed) "
    "SELECT n_groups, exact_ndv, est_merged, est_direct, "
    "est_merged = est_direct AS merge_exact FROM ng, ex, vm, vd",
)
def sketch_hll_merge(spark, sf_dir):
    """HLL merge algebra (aggregate.hll_union): per-type sketches
    merged register-wise equal the direct global sketch exactly."""
    return aggregate.hll_union(
        _ds(spark, sf_dir).events, "event_type", "user_id", p=6
    )


@q(
    "sketch_kmv",
    "WITH hashed AS (SELECT DISTINCT event_type AS grp, "
    "((user_id % 2147483647) * 1103515245 + 12345) % 2147483647 AS h FROM events), "
    "kth AS (SELECT grp, h AS h_k FROM "
    "(SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn "
    "FROM hashed) WHERE rn = 64), "
    "ex AS (SELECT grp, COUNT(*) AS exact_ndv FROM hashed GROUP BY grp) "
    "SELECT ex.grp AS event_type, exact_ndv, h_k, "
    "ROUND(CASE WHEN h_k IS NOT NULL THEN 63.0 / (h_k / 2147483647.0) "
    "ELSE CAST(exact_ndv AS DOUBLE) END, 6) AS est_ndv "
    "FROM ex LEFT JOIN kth ON ex.grp = kth.grp",
)
def sketch_kmv(spark, sf_dir):
    return aggregate.kmv_distinct(
        _ds(spark, sf_dir).events, "event_type", "user_id", k=64
    )


@q(
    "sort_zorder",
    # Morton/Z-order clustering key over (user_id, value): quantize to
    # 16 bits over [min,max], interleave with the 4-step magic-number
    # spread — all-integer, bit-exact on any engine
    "WITH ext AS (SELECT MIN(CAST(user_id AS DOUBLE)) AS alo, "
    "MAX(CAST(user_id AS DOUBLE)) AS ahi, "
    "MIN(value) AS blo, MAX(value) AS bhi FROM events), "
    "qz AS (SELECT event_id, "
    "CASE WHEN ahi > alo THEN LEAST(CAST(FLOOR((CAST(user_id AS DOUBLE) - alo) "
    "/ (ahi - alo) * 65536) AS BIGINT), 65535) ELSE 0 END AS qa, "
    "CASE WHEN bhi > blo THEN LEAST(CAST(FLOOR((value - blo) "
    "/ (bhi - blo) * 65536) AS BIGINT), 65535) ELSE 0 END AS qb "
    "FROM events, ext), "
    "s1 AS (SELECT event_id, qa, qb, "
    "((qa | (qa << 8)) & 16711935) AS xa, ((qb | (qb << 8)) & 16711935) AS xb "
    "FROM qz), "
    "s2 AS (SELECT event_id, qa, qb, "
    "((xa | (xa << 4)) & 252645135) AS xa, ((xb | (xb << 4)) & 252645135) AS xb "
    "FROM s1), "
    "s3 AS (SELECT event_id, qa, qb, "
    "((xa | (xa << 2)) & 858993459) AS xa, ((xb | (xb << 2)) & 858993459) AS xb "
    "FROM s2), "
    "s4 AS (SELECT event_id, qa, qb, "
    "((xa | (xa << 1)) & 1431655765) AS sa, ((xb | (xb << 1)) & 1431655765) AS sb "
    "FROM s3) "
    "SELECT event_id, qa, qb, ((sa << 1) | sb) AS zval FROM s4",
)
def sort_zorder(spark, sf_dir):
    """Z-order clustering key (windows.zorder_key): the layout key for
    two-dimensional min/max file pruning — pure projection plus one
    broadcast extent row."""
    from scarf_spark.operators import windows

    ev = _ds(spark, sf_dir).events
    return windows.zorder_key(ev, "user_id", "value").select(
        "event_id", "qa", "qb", "zval"
    )


@q(
    "sketch_cms",
    # count-min heavy hitters over corpus words: d=4 md5 hash rows of
    # w=64 buckets; estimate = MIN over rows of bucket counts; top-20
    # by exact count with key tie-break — all-integer, engine-exact
    "WITH t AS (SELECT unnest(list_filter(string_split(text, ' '), "
    "x -> x != '')) AS key FROM documents), "
    "cells AS (SELECT r, ('0x' || substr(md5(r || '_' || key), 1, 15))::BIGINT % 64 "
    "AS bucket, COUNT(*) AS cnt FROM t, generate_series(0, 3) g(r) GROUP BY 1, 2), "
    "ex AS (SELECT key, COUNT(*) AS exact_cnt FROM t GROUP BY key), "
    "est AS (SELECT ex.key, MIN(cells.cnt) AS est_cnt "
    "FROM ex, generate_series(0, 3) g(r), cells "
    "WHERE cells.r = g.r AND cells.bucket = "
    "('0x' || substr(md5(g.r || '_' || ex.key), 1, 15))::BIGINT % 64 "
    "GROUP BY ex.key) "
    "SELECT ex.key, ex.exact_cnt, est.est_cnt, "
    "est.est_cnt - ex.exact_cnt AS overestimate "
    "FROM ex JOIN est ON ex.key = est.key "
    "ORDER BY ex.exact_cnt DESC, ex.key LIMIT 20",
)
def sketch_cms(spark, sf_dir):
    """Count-min-sketch heavy hitters over corpus words — constant
    d·w sketch state through the shuffle, broadcast probe
    (aggregate.cms_heavy_hitters)."""
    docs = _ds(spark, sf_dir).documents
    terms = docs.select(
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("term")
    )
    return aggregate.cms_heavy_hitters(terms, "term", d=4, w=64, n_top=20)


@q(
    "evt_json_extract",
    "SELECT event_type, "
    "COUNT(k) AS n_with_k, CAST(SUM(k) AS BIGINT) AS sum_k, "
    "MIN(k) AS min_k, MAX(k) AS max_k, COUNT(DISTINCT k) AS ndv_k "
    "FROM (SELECT event_type, CAST(json_extract(props, '$.k') AS INT) AS k "
    "FROM events) GROUP BY event_type",
)
def evt_json_extract(spark, sf_dir):
    return aggregate.json_props_stats(_ds(spark, sf_dir).events)


# canonical-edge (u < w) undirected form for triangle counting — NOTE:
# distinct from _UND_CTE above (symmetrized both-directions form used
# by label propagation / modularity); keep the names separate
_UND_CANON_CTE = (
    "und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS w "
    "FROM knn WHERE src <> dst)"
)


@q(
    "graph_components",
    # exact components: the engine's min-label fixpoint equals the
    # component minimum, which the oracle reaches independently via
    # recursive-CTE reachability — algorithm-independent hash equality
    f"WITH RECURSIVE {_KNN_CTE}, "
    "und AS MATERIALIZED (SELECT src, dst FROM knn WHERE src != dst "
    "UNION SELECT dst, src FROM knn WHERE src != dst), "
    "reach AS (SELECT src AS node, dst AS r FROM und "
    "UNION SELECT reach.node, und.dst FROM reach "
    "JOIN und ON reach.r = und.src) "
    "SELECT node, LEAST(node, MIN(r)) AS component FROM reach GROUP BY node",
)
def graph_components(spark, sf_dir):
    """True connected components of the KNN graph (converged min-label
    fixpoint, graph.connected_components) — the exact form of the
    duplicate-cluster labeling that min_label_components bounds at
    n_iter hops."""
    from scarf_spark.operators import graph

    edges = _knn_edges(spark, sf_dir)
    return graph.connected_components(edges)


@q(
    "graph_assortativity",
    # Newman degree assortativity over the undirected KNN graph: all
    # moments are exact integer sums over edges; one double expression
    # at the end, ROUND(6). HUGEINT sums auto-cast by the wrapper.
    f"WITH {_KNN_CTE}, "
    "und AS MATERIALIZED (SELECT src, dst FROM knn WHERE src != dst "
    "UNION SELECT dst, src FROM knn WHERE src != dst), "
    "deg AS (SELECT src, COUNT(*) AS d FROM und GROUP BY src), "
    "p AS (SELECT dx.d AS x, dy.d AS y FROM und "
    "JOIN deg dx ON und.src = dx.src JOIN deg dy ON und.dst = dy.src), "
    "mo AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, "
    "CAST(COUNT(*) AS BIGINT) AS n_edges, "
    "CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy, "
    "CAST(SUM(x * y) AS DOUBLE) AS sxy, "
    "CAST(SUM(x * x) AS DOUBLE) AS sxx, "
    "CAST(SUM(y * y) AS DOUBLE) AS syy FROM p) "
    "SELECT n_edges, ROUND(CASE WHEN (n * sxx - sx * sx) > 0 "
    "AND (n * syy - sy * sy) > 0 THEN (n * sxy - sx * sy) "
    "/ SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)) "
    "ELSE 0.0 END, 6) AS assortativity FROM mo",
)
def graph_assortativity(spark, sf_dir):
    """Degree assortativity of the KNN graph
    (graph.degree_assortativity) — the Newman 2002 topology gauge."""
    from scarf_spark.operators import graph

    edges = _knn_edges(spark, sf_dir)
    return graph.degree_assortativity(edges)


@q(
    "graph_components_star",
    # same algorithm-independent fixpoint (node → component minimum)
    # as graph_components, reached in O(log n) rounds by alternating
    # large-star/small-star contraction (Kiveris 2014) — the
    # high-diameter scale path; same recursive-CTE oracle
    f"WITH RECURSIVE {_KNN_CTE}, "
    "und AS MATERIALIZED (SELECT src, dst FROM knn WHERE src != dst "
    "UNION SELECT dst, src FROM knn WHERE src != dst), "
    "reach AS (SELECT src AS node, dst AS r FROM und "
    "UNION SELECT reach.node, und.dst FROM reach "
    "JOIN und ON reach.r = und.src) "
    "SELECT node, LEAST(node, MIN(r)) AS component FROM reach GROUP BY node",
)
def graph_components_star(spark, sf_dir):
    from scarf_spark.operators import graph

    edges = _knn_edges(spark, sf_dir)
    return graph.connected_components_star(edges)


@q(
    "graph_kcore",
    # coreness via 3 iterated H-index rounds, unrolled CTEs: h0 =
    # degree; h_{t+1}(v) = max over rank positions of LEAST(rank,
    # neighbor h_t) with neighbor values ranked desc — tie order among
    # equal values cannot change an H-index, so the round replays
    # exactly in any engine
    f"WITH {_KNN_CTE}, "
    "und AS MATERIALIZED (SELECT src, dst FROM knn WHERE src != dst "
    "UNION SELECT dst, src FROM knn WHERE src != dst), "
    "h0 AS MATERIALIZED (SELECT src AS node, COUNT(*) AS h "
    "FROM und GROUP BY src), "
    + " ".join(
        (
            "h{t} AS MATERIALIZED (SELECT src AS node, "
            "MAX(LEAST(rn, nh)) AS h FROM "
            "(SELECT u.src, p.h AS nh, ROW_NUMBER() OVER "
            "(PARTITION BY u.src ORDER BY p.h DESC, u.dst) AS rn "
            "FROM und u JOIN h{p} p ON u.dst = p.node) GROUP BY src),"
        ).format(t=t, p=t - 1)
        for t in (1, 2, 3)
    ).rstrip(",")
    + " SELECT node, CAST(h AS BIGINT) AS coreness FROM h3",
)
def graph_kcore(spark, sf_dir):
    """k-core decomposition of the KNN graph (graph.kcore_hindex):
    iterated H-index, the degeneracy-ordering primitive next to the
    reference's graph analytics."""
    from scarf_spark.operators import graph

    edges = _knn_edges(spark, sf_dir)
    return graph.kcore_hindex(edges, n_iter=3)


@q(
    "graph_triangles",
    f"WITH {_KNN_CTE}, {_UND_CANON_CTE}, "
    "tri AS (SELECT a.u AS x, a.w AS y, b.w AS z FROM und a "
    "JOIN und b ON a.w = b.u JOIN und c ON c.u = a.u AND c.w = b.w) "
    "SELECT v, COUNT(*) AS n_triangles FROM "
    "(SELECT x AS v FROM tri UNION ALL SELECT y FROM tri "
    "UNION ALL SELECT z FROM tri) GROUP BY v",
)
def graph_triangles(spark, sf_dir):
    return graph.triangle_counts(_knn_edges(spark, sf_dir))


@q(
    "graph_adamic_adar",
    # Adamic-Adar link prediction: wedges from one self-join on the
    # middle vertex (the wedge's common SOURCE in the both-direction
    # table), existing edges anti-joined away, score = sum over shared
    # neighbours of 1/ln(deg) — ≤2k double terms, ROUND(6) absorbs
    # accumulation order
    f"WITH {_KNN_CTE}, "
    "und AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS u, "
    "GREATEST(src, dst) AS w FROM knn WHERE src <> dst), "
    "dirs AS MATERIALIZED (SELECT u AS s, w AS d FROM und "
    "UNION ALL SELECT w, u FROM und), "
    "deg AS (SELECT s, COUNT(*) AS _deg FROM dirs GROUP BY s), "
    "wedge AS (SELECT a.d AS u, a.s AS v, b.d AS w "
    "FROM dirs a JOIN dirs b ON a.s = b.s WHERE a.d < b.d), "
    "cand AS (SELECT u, v, w FROM wedge "
    "WHERE NOT EXISTS (SELECT 1 FROM und "
    "WHERE und.u = wedge.u AND und.w = wedge.w)) "
    "SELECT u, w, COUNT(*) AS n_common, "
    "ROUND(SUM(1.0 / LN(_deg)), 6) AS aa_score "
    "FROM cand JOIN deg ON cand.v = deg.s GROUP BY u, w",
)
def graph_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction over the KNN graph
    (graph.adamic_adar) — the which-pairs-merge-next gauge."""
    from scarf_spark.operators import graph

    return graph.adamic_adar(_knn_edges(spark, sf_dir))


@q(
    "graph_jaccard_sim",
    # neighbour-set Jaccard link prediction: same wedge join as
    # adamic_adar, but the score is exact integer ppm of
    # common / (deg_u + deg_w - common) — no float math at all
    f"WITH {_KNN_CTE}, "
    "und AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS u, "
    "GREATEST(src, dst) AS w FROM knn WHERE src <> dst), "
    "dirs AS MATERIALIZED (SELECT u AS s, w AS d FROM und "
    "UNION ALL SELECT w, u FROM und), "
    "deg AS (SELECT s, COUNT(*) AS _deg FROM dirs GROUP BY s), "
    "wedge AS (SELECT a.d AS u, a.s AS v, b.d AS w "
    "FROM dirs a JOIN dirs b ON a.s = b.s WHERE a.d < b.d), "
    "cand AS (SELECT u, w FROM wedge "
    "WHERE NOT EXISTS (SELECT 1 FROM und "
    "WHERE und.u = wedge.u AND und.w = wedge.w)), "
    "cm AS (SELECT u, w, COUNT(*) AS n_common FROM cand GROUP BY u, w) "
    "SELECT cm.u, cm.w, n_common, "
    "n_common * 1000000 // (du._deg + dw._deg - n_common) AS jaccard_ppm "
    "FROM cm JOIN deg du ON cm.u = du.s JOIN deg dw ON cm.w = dw.s",
)
def graph_jaccard_sim(spark, sf_dir):
    """Neighbour-set Jaccard link prediction over the KNN graph
    (graph.neighbor_jaccard) — the set-overlap sibling of Adamic-Adar,
    exact integer ppm."""
    from scarf_spark.operators import graph

    return graph.neighbor_jaccard(_knn_edges(spark, sf_dir))


@q(
    "graph_reciprocity",
    # directed reciprocity: one semi-join on the reversed edge key,
    # exact integer ppm
    f"WITH {_KNN_CTE}, "
    "de AS MATERIALIZED (SELECT DISTINCT src, dst FROM knn WHERE src <> dst), "
    "mu AS (SELECT COUNT(*) AS n_mutual FROM de WHERE EXISTS ("
    "SELECT 1 FROM de e2 WHERE e2.src = de.dst AND e2.dst = de.src)), "
    "ne AS (SELECT COUNT(*) AS n_edges FROM de) "
    "SELECT n_edges, n_mutual, "
    "n_mutual * 1000000 // n_edges AS reciprocity_ppm FROM ne, mu",
)
def graph_reciprocity(spark, sf_dir):
    """Mutual-edge fraction of the directed KNN graph
    (graph.reciprocity) — what SNN re-ranking and UMAP symmetrization
    reward."""
    from scarf_spark.operators import graph

    return graph.reciprocity(_knn_edges(spark, sf_dir))


@q(
    "graph_clustering_coeff",
    # local clustering coefficient: triangles over wedges per node,
    # exact integer ppm; triangle counts reuse the node-iterator joins
    f"WITH {_KNN_CTE}, {_UND_CANON_CTE}, "
    "dirs AS MATERIALIZED (SELECT u AS s, w AS d FROM und "
    "UNION ALL SELECT w, u FROM und), "
    "deg AS (SELECT s, COUNT(*) AS degree FROM dirs GROUP BY s), "
    "tri AS (SELECT a.u AS x, a.w AS y, b.w AS z FROM und a "
    "JOIN und b ON a.w = b.u JOIN und c ON c.u = a.u AND c.w = b.w), "
    "pn AS (SELECT v, COUNT(*) AS n_triangles FROM "
    "(SELECT x AS v FROM tri UNION ALL SELECT y FROM tri "
    "UNION ALL SELECT z FROM tri) GROUP BY v) "
    "SELECT deg.s AS v, degree, COALESCE(pn.n_triangles, 0) AS n_triangles, "
    "CASE WHEN degree >= 2 THEN COALESCE(pn.n_triangles, 0) * 2000000 "
    "// (degree * (degree - 1)) ELSE 0 END AS cc_ppm "
    "FROM deg LEFT JOIN pn ON deg.s = pn.v",
)
def graph_clustering_coeff(spark, sf_dir):
    """Per-node local clustering coefficient
    (graph.clustering_coefficient) — neighbourhood density in exact
    integer ppm."""
    from scarf_spark.operators import graph

    return graph.clustering_coefficient(_knn_edges(spark, sf_dir))


@q(
    "graph_eigencentrality",
    # 3 power iterations, MAX-normalized (max is accumulation-order-
    # free where an L2 norm would drift); the PageRank plan shape
    f"WITH {_KNN_CTE}, "
    "und AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS u, "
    "GREATEST(src, dst) AS w FROM knn WHERE src <> dst), "
    "dirs AS MATERIALIZED (SELECT u AS s, w AS d FROM und "
    "UNION ALL SELECT w, u FROM und), "
    "nodes AS (SELECT DISTINCT s AS v FROM dirs), "
    "x0 AS (SELECT v, 1.0 AS x FROM nodes), "
    + " ".join(
        (
            "y{t} AS (SELECT dd.d AS v, SUM(xx.x) AS y FROM dirs dd "
            "JOIN x{p} xx ON dd.s = xx.v GROUP BY dd.d), "
            "m{t} AS (SELECT MAX(y) AS m FROM y{t}), "
            "x{t} AS (SELECT nodes.v, COALESCE(y{t}.y, 0.0) "
            "/ (SELECT m FROM m{t}) AS x "
            "FROM nodes LEFT JOIN y{t} USING (v)),"
        ).format(t=t, p=t - 1)
        for t in (1, 2, 3)
    ).rstrip(",")
    + " SELECT v, ROUND(x, 6) AS centrality FROM x3",
)
def graph_eigencentrality(spark, sf_dir):
    """Eigenvector centrality (graph.eigencentrality) — fixed-iteration
    power method with order-free max-normalization."""
    from scarf_spark.operators import graph

    return graph.eigencentrality(_knn_edges(spark, sf_dir), n_iter=3)


@q(
    "graph_degree_hist",
    # undirected degree distribution: two hash aggregates, the
    # first-look topology report (hubs, isolates, mean degree) every
    # graph consumer starts from
    f"WITH {_KNN_CTE}, "
    "und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS w "
    "FROM knn WHERE src <> dst), "
    "dirs AS (SELECT u AS s FROM und UNION ALL SELECT w FROM und), "
    "deg AS (SELECT s, COUNT(*) AS degree FROM dirs GROUP BY s) "
    "SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree",
)
def graph_degree_hist(spark, sf_dir):
    """Degree distribution of the undirected KNN graph — two hash
    aggregates; the first-look topology report."""
    from scarf_spark.operators import graph

    und = graph.undirected_edges(_knn_edges(spark, sf_dir))
    deg = (
        und.select(F.col("u").alias("v"))
        .unionAll(und.select(F.col("w").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


# PageRank: 3 damped iterations unrolled as CTEs, in the scaled-
# integer form (see graph.pagerank exact=True): rank sums are BIGINT
# throughout, the teleport term is the per-iteration integer constant
# {const}, and floats appear only in the final single division.
_PR_EXACT_ITER = (
    "c{i} AS (SELECT ed.dst, CAST(SUM(r.R) AS BIGINT) AS c FROM ed "
    "JOIN r{p} r ON ed.src = r.v GROUP BY ed.dst), "
    "r{i} AS (SELECT nodes.v, {const} + 17 * COALESCE(c{i}.c, "
    "CAST(0 AS BIGINT)) AS R FROM nodes "
    "LEFT JOIN c{i} ON nodes.v = c{i}.dst)"
)


@q(
    "graph_pagerank",
    # Exact-integer replay (round 12): out-degree is uniformly k=5 on
    # the KNN edge table, so with damping 17/20 the recurrence stays
    # in scaled BIGINTs (R_t = r_t * n * 100^t; teleport constants
    # 3k*(20k)^(t-1) = 15, 1500, 150000) and the output is ONE exact-
    # operand IEEE division — no ROUND at all. The former float form
    # ROUND(r, 9) flipped 18% of rows by one quantum at sf0.1: the
    # true ranks are terminating decimals (n and deg are all 2s and
    # 5s) sitting exactly on round-half boundaries.
    f"WITH {_KNN_CTE}, "
    "ed AS (SELECT src, dst FROM knn), "
    "nodes AS (SELECT DISTINCT v FROM "
    "(SELECT src AS v FROM ed UNION ALL SELECT dst FROM ed)), "
    "nn AS (SELECT COUNT(*) AS n FROM nodes), "
    "r0 AS (SELECT v, CAST(1 AS BIGINT) AS R FROM nodes), "
    + ", ".join(
        _PR_EXACT_ITER.format(i=i, p=i - 1, const=3 * 5 * (20 * 5) ** (i - 1))
        for i in (1, 2, 3)
    )
    + " SELECT v, CAST(R AS DOUBLE) / (1000000.0 * (SELECT n FROM nn)) "
    "AS pagerank FROM r3",
)
def graph_pagerank(spark, sf_dir):
    return graph.pagerank(
        _knn_edges(spark, sf_dir), n_iter=3, damping=0.85, exact=True
    )


@q(
    "dedup_containment",
    f"WITH {_SHINGLE_CTE}, "
    "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id), "
    "inter AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n "
    "FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id <> y.doc_id "
    "GROUP BY 1, 2) "
    "SELECT a, b, ROUND(n / CAST(sa.sz AS DOUBLE), 6) AS containment "
    "FROM inter JOIN sizes sa ON inter.a = sa.doc_id "
    "WHERE ROUND(n / CAST(sa.sz AS DOUBLE), 6) >= 0.5",
)
def dedup_containment(spark, sf_dir):
    return dedup.ngram_containment(
        _ds(spark, sf_dir).documents, n=3, min_containment=0.5
    )


_FOLD0 = "list_prepend(CAST(0.0 AS DOUBLE), "

# IVF-PQ ADC search replayed relationally: coarse assign (argmin by
# exact fold inner product), residual PQ encode (per-subspace argmin),
# reconstruction, then ADC distances in the engine's expanded
# q²-2qr+r² shape; ranking on ROUND(6)+dst so summation ulps cannot
# reorder the top-k. Shared tail (expects e/nv CTEs) so the recall
# query can compose it with _KNN_CTE without duplicate names.
_IVFPQ_TAIL = (
    "un AS (SELECT vec_id AS vid, list_transform(v, x -> x / nrm) AS u FROM nv), "
    "cent AS (SELECT vid AS cid, u AS cu FROM un "
    "ORDER BY md5(CAST(vid AS VARCHAR)), vid LIMIT 8), "
    "sc AS (SELECT un.vid, un.u, cent.cid, cent.cu, "
    f"1.0 - list_reduce({_FOLD0}"
    "list_transform(list_zip(un.u, cent.cu), p -> p[1] * p[2])), "
    "(acc, x) -> acc + x) AS cd FROM un CROSS JOIN cent), "
    "rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY cd, cid) "
    "AS crank FROM sc), "
    "mem AS (SELECT vid, cid, "
    "list_transform(list_zip(u, cu), p -> p[1] - p[2]) AS r "
    "FROM rk WHERE crank = 1), "
    "pqs AS (SELECT vid, r FROM mem "
    "ORDER BY md5('pq_' || CAST(vid AS VARCHAR)), vid LIMIT 8), "
    "cwb AS (SELECT ROW_NUMBER() OVER "
    "(ORDER BY md5('pq_' || CAST(vid AS VARCHAR)), vid) AS code, r FROM pqs), "
    "cw AS (SELECT code, ss.s, list_slice(r, ss.s * 16 + 1, (ss.s + 1) * 16) "
    "AS cw FROM cwb, (SELECT UNNEST(range(4)) AS s) ss), "
    "subs AS (SELECT vid, cid, ss.s, "
    "list_slice(r, ss.s * 16 + 1, (ss.s + 1) * 16) AS rs "
    "FROM mem, (SELECT UNNEST(range(4)) AS s) ss), "
    "dd AS (SELECT vid, cid, subs.s, code, "
    f"list_reduce({_FOLD0}"
    "list_transform(list_zip(rs, cw.cw), p -> (p[1] - p[2]) * (p[1] - p[2]))), "
    "(acc, x) -> acc + x) AS d2 FROM subs JOIN cw ON subs.s = cw.s), "
    "enc AS (SELECT vid, cid, s, code FROM (SELECT *, ROW_NUMBER() OVER "
    "(PARTITION BY vid, s ORDER BY d2, code) AS rn FROM dd) WHERE rn = 1), "
    "rec AS (SELECT enc.vid, enc.cid, flatten(list(cw.cw ORDER BY enc.s)) AS rq "
    "FROM enc JOIN cw ON enc.s = cw.s AND enc.code = cw.code "
    "GROUP BY enc.vid, enc.cid), "
    "ru AS (SELECT rec.vid AS dst, rec.cid, "
    "list_transform(list_zip(cent.cu, rec.rq), p -> p[1] + p[2]) AS mru "
    "FROM rec JOIN cent ON rec.cid = cent.cid), "
    "pr AS (SELECT vid AS src, u AS qu, cid FROM rk WHERE crank <= 2), "
    "apairs AS (SELECT pr.src, ru.dst, ROUND("
    f"list_reduce({_FOLD0}list_transform(pr.qu, x -> x * x)), (acc, x) -> acc + x) "
    f"- 2.0 * list_reduce({_FOLD0}"
    "list_transform(list_zip(pr.qu, ru.mru), p -> p[1] * p[2])), (acc, x) -> acc + x) "
    f"+ list_reduce({_FOLD0}list_transform(ru.mru, x -> x * x)), (acc, x) -> acc + x)"
    ", 6) AS distance "
    "FROM pr JOIN ru ON pr.cid = ru.cid AND pr.src != ru.dst), "
    "ipq AS (SELECT src, rank, dst, distance FROM (SELECT *, ROW_NUMBER() OVER "
    "(PARTITION BY src ORDER BY distance, dst) AS rank FROM apairs) "
    "WHERE rank <= 5)"
)


@q(
    "ann_ivfpq",
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
    "nv AS (SELECT vec_id, v, "
    "sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm FROM e), "
    f"{_IVFPQ_TAIL} "
    "SELECT src, rank, dst, distance FROM ipq",
)
def ann_ivfpq(spark, sf_dir):
    """IVF-PQ ADC search (knn.cosine_knn_ivfpq): the composite index
    layout ann_ivf + ann_pq describe, searched end-to-end."""
    return knn.cosine_knn_ivfpq(
        _ds(spark, sf_dir).embeddings,
        k=5, n_centroids=8, n_probe=2, m=4, n_codes=8,
    )


@q(
    "ann_ivfpq_recall",
    # recall of the quantized+probed search vs exact top-5 — the
    # quality gauge that decides nprobe/codebook sizing at scale
    f"WITH {_KNN_CTE}, {_IVFPQ_TAIL} "
    "SELECT CAST((SELECT COUNT(*) FROM knn k JOIN ipq a "
    "ON k.src = a.src AND k.dst = a.dst) AS BIGINT) AS n_hit, "
    "CAST((SELECT COUNT(*) FROM knn) AS BIGINT) AS n_exact, "
    "ROUND((SELECT COUNT(*) FROM knn k JOIN ipq a "
    "ON k.src = a.src AND k.dst = a.dst) / "
    "CAST((SELECT COUNT(*) FROM knn) AS DOUBLE), 6) AS recall",
)
def ann_ivfpq_recall(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    exact = _knn_edges(spark, sf_dir)  # memoized
    ipq = knn.cosine_knn_ivfpq(
        ds.embeddings, k=5, n_centroids=8, n_probe=2, m=4, n_codes=8
    )
    return knn.knn_recall(ipq, exact)


@q(
    "ann_pq",
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
    "seeds AS (SELECT vec_id AS cid, v AS cv FROM e "
    "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8), "
    "subs AS (SELECT vec_id AS vid, s, "
    "list_slice(v, s * 16 + 1, (s + 1) * 16) AS sv "
    "FROM e, (SELECT UNNEST(range(4)) AS s) ss), "
    "cw AS (SELECT cid, s, list_slice(cv, s * 16 + 1, (s + 1) * 16) AS cw "
    "FROM seeds, (SELECT UNNEST(range(4)) AS s) ss), "
    # squared L2 replayed as the same left fold Spark's F.aggregate runs
    "d AS (SELECT vid, subs.s, cid, "
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(list_zip(sv, cw.cw), p -> (p[1] - p[2]) * (p[1] - p[2]))), "
    "(acc, x) -> acc + x) AS d2 FROM subs JOIN cw ON subs.s = cw.s), "
    "best AS (SELECT vid, s, cid AS code, d2 FROM "
    "(SELECT *, ROW_NUMBER() OVER (PARTITION BY vid, s ORDER BY d2, cid) AS rn "
    "FROM d) WHERE rn = 1), "
    "wide AS (SELECT vid, "
    + ", ".join(
        f"CAST(SUM(CASE WHEN s = {i} THEN code END) AS BIGINT) AS code_{i}, "
        f"SUM(CASE WHEN s = {i} THEN d2 END) AS _d{i}"
        for i in range(4)
    )
    + " FROM best GROUP BY vid) "
    # error folded subspace 0..3 left-to-right — same pinned order as
    # the engine, so floor(ppb) is bit-exact
    "SELECT vid AS vec_id, code_0, code_1, code_2, code_3, "
    "CAST(FLOOR((((_d0 + _d1) + _d2) + _d3) * 1000000000.0) AS BIGINT) "
    "AS err_ppb FROM wide",
)
def ann_pq(spark, sf_dir):
    return knn.pq_quantize(_ds(spark, sf_dir).embeddings, m=4, n_codes=8)


_BPE_STEPS = 5
# the shared merge-training CTE chain (through s{_BPE_STEPS}, the
# post-merge vocabulary segmentation) — the trainer's final SELECT and
# the encoder's per-doc rollup both hang off it
_BPE_CHAIN = (
    "WITH w AS (SELECT UNNEST(list_filter(string_split(text, ' '), "
    "x -> x != '')) AS word FROM documents), "
    "v AS (SELECT word, COUNT(*) AS wc FROM w GROUP BY word), "
    "s0 AS (SELECT word, wc, array_to_string(list_transform("
    "range(1, length(word) + 1), i -> substr(word, CAST(i AS INT), 1)), ' ') "
    "|| ' </w>' AS s FROM v), "
    + " ".join(
        (
            "t{t} AS (SELECT wc, string_split(s, ' ') AS ws FROM s{p}), "
            "p{t} AS (SELECT pr, SUM(wc) AS c FROM (SELECT wc, "
            "UNNEST(list_transform(range(1, len(ws)), "
            "i -> ws[i] || ' ' || ws[i + 1])) AS pr FROM t{t}) "
            "GROUP BY pr ORDER BY c DESC, pr LIMIT 1), "
            "s{t} AS (SELECT word, wc, replace(s, (SELECT pr FROM p{t}), "
            "replace((SELECT pr FROM p{t}), ' ', '')) AS s FROM s{p}),"
        ).format(t=t, p=t - 1)
        for t in range(1, _BPE_STEPS + 1)
    ).rstrip(",")
)

_BPE_SQL = (
    _BPE_CHAIN
    + " "
    + " UNION ALL ".join(
        f"SELECT {t} AS step, pr AS pair, replace(pr, ' ', '') AS merged, "
        f"c AS pair_count FROM p{t}"
        for t in range(1, _BPE_STEPS + 1)
    )
)


@q("text_bpe_train", _BPE_SQL)
def text_bpe_train(spark, sf_dir):
    """Tokenizer TRAINING on the corpus: the first 5 BPE merge rules
    learned from word-frequency-weighted adjacent-pair counts
    (text.bpe_train_merges) — one hash agg per merge, driver sees one
    argmax row per step."""
    from scarf_spark.operators import text

    return text.bpe_train_merges(_ds(spark, sf_dir).documents, n_merges=5)


@q(
    "text_bpe_encode",
    # tokenizer APPLICATION: the trainer's s5 CTE IS the post-merge
    # vocabulary segmentation, so encoding is one word-keyed join +
    # per-doc rollup; compression in exact integer ppm
    _BPE_CHAIN
    + ", dw AS (SELECT doc_id, UNNEST(list_filter(string_split(text, ' '), "
    "x -> x != '')) AS word FROM documents), "
    "seg AS (SELECT word, CAST(length(word) + 1 AS BIGINT) AS nct, "
    f"CAST(len(string_split(s, ' ')) AS BIGINT) AS nt FROM s{_BPE_STEPS}) "
    "SELECT dw.doc_id, COUNT(*) AS n_words, "
    "CAST(SUM(nct) AS BIGINT) AS n_char_tokens, "
    "CAST(SUM(nt) AS BIGINT) AS n_bpe_tokens, "
    "CAST(SUM(nt) AS BIGINT) * 1000000 // CAST(SUM(nct) AS BIGINT) "
    "AS compression_ppm "
    "FROM dw JOIN seg USING (word) GROUP BY dw.doc_id",
)
def text_bpe_encode(spark, sf_dir):
    """Tokenizer application (text.bpe_encode): encode the corpus with
    the learned merges, per-doc token counts + compression — the other
    half of the tokenizer loop."""
    from scarf_spark.operators import text

    return text.bpe_encode(_ds(spark, sf_dir).documents, n_merges=5)


@q(
    "pipe_text_ann",
    # end-to-end text -> ANN: vocabulary-free md5 hash embedding
    # (ln(1+tf) per slot, one integer count each — no double-sum
    # drift), then exact cosine top-3 — the embedding-space dual of
    # text_minhash_cluster, entirely model-free
    "WITH w AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), "
    "x -> x != '')) AS t FROM documents), "
    "tf AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT % 64 "
    "AS feature, COUNT(*) AS tf FROM w GROUP BY 1, 2), "
    "slots AS (SELECT d.doc_id, r.b, COALESCE(LN(1 + tf.tf), 0.0) AS wt "
    "FROM (SELECT DISTINCT doc_id FROM tf) d "
    "CROSS JOIN (SELECT UNNEST(range(0, 64)) AS b) r "
    "LEFT JOIN tf ON tf.doc_id = d.doc_id AND tf.feature = r.b), "
    "vec AS (SELECT doc_id, list(wt ORDER BY b) AS v FROM slots "
    "GROUP BY doc_id), "
    "nv AS (SELECT doc_id, v, "
    "sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm "
    "FROM vec), "
    "pairs AS (SELECT a.doc_id AS src, b.doc_id AS dst, "
    "ROUND(1.0 - list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) "
    "AS distance FROM nv a JOIN nv b ON a.doc_id != b.doc_id) "
    "SELECT src, rn AS rank, dst, distance FROM "
    "(SELECT *, ROW_NUMBER() OVER (PARTITION BY src "
    "ORDER BY distance, dst) AS rn FROM pairs) WHERE rn <= 3",
)
def pipe_text_ann(spark, sf_dir):
    """Model-free text similarity search end-to-end (text.hash_embed →
    knn.cosine_knn_sharded): hash-embed every document and return its
    exact cosine top-3 — the embedding-space dual of
    text_minhash_cluster. Routed through the SHARDED exact scorer (a
    query-block × index-shard grid, bit-identical output to
    cosine_knn_exact) so nothing collects the hash-embedded corpus to
    the driver — the 100 TB path, not the small-envelope baseline.

    Ranks on (ROUND(distance, 6), dst) on BOTH sides (round 12): hash
    embeddings of near-duplicate docs produce distance near-ties
    closer than BLAS-vs-SQL summation ulps, which reordered one sf0.1
    row under raw-distance ranking; quantizing before the rank makes
    the order engine-invariant (the IVFPQ oracle convention)."""
    from scarf_spark.operators import knn, text

    emb = text.hash_embed(_ds(spark, sf_dir).documents, dim=64)
    return knn.cosine_knn_sharded(
        emb, k=3, id_col="doc_id", rank_by_rounded=True, dim=64
    )


@q(
    "text_boilerplate",
    f"WITH {_SHINGLE_CTE}, "
    "nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents), "
    "dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle), "
    "boiler AS (SELECT shingle FROM dfreq, nd WHERE df >= 0.02 * n), "
    "fl AS (SELECT sh.doc_id, CASE WHEN b.shingle IS NOT NULL THEN 1 END AS _b "
    "FROM sh LEFT JOIN boiler b ON sh.shingle = b.shingle) "
    "SELECT doc_id, COUNT(*) AS n_shingles, COUNT(_b) AS n_boiler, "
    "ROUND(COUNT(_b) / CAST(COUNT(*) AS DOUBLE), 6) AS boiler_ratio "
    "FROM fl GROUP BY doc_id",
)
def text_boilerplate(spark, sf_dir):
    return text.boilerplate_stats(
        _ds(spark, sf_dir).documents, n=3, min_doc_frac=0.02
    )


@q(
    "samp_temperature",
    # FLOOR(SQRT(n)) integer weights + integer-division quotas: every
    # step bit-exact cross-engine (see operator docstring)
    "WITH sizes AS (SELECT source, COUNT(*) AS _n FROM documents GROUP BY source), "
    "wts AS (SELECT source, _n, "
    "CAST(FLOOR(SQRT(CAST(_n AS DOUBLE))) AS BIGINT) AS _w FROM sizes), "
    "tw AS (SELECT SUM(_w) AS _tw FROM wts), "
    "quota AS (SELECT source, LEAST(_n, (1000 * _w) // _tw) AS _q FROM wts, tw), "
    "rk AS (SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source "
    "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents) "
    "SELECT rk.doc_id, rk.source FROM rk JOIN quota ON rk.source = quota.source "
    "WHERE rn <= _q",
)
def samp_temperature(spark, sf_dir):
    return filters.temperature_sample(
        _ds(spark, sf_dir).documents, "source", "doc_id", total=1000, temperature=2.0
    ).select("doc_id", "source")


def _kcenter_oracle(k: int = 5) -> str:
    """Unrolled greedy k-center trace: each round one min-distance
    aggregate over the selected set + one (dm DESC, vec_id) argmax —
    the same staged double arithmetic as the engine loop (the proven
    KNN distance kernel), so the trace is hash-exact."""
    parts = [
        "kv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "kn AS MATERIALIZED (SELECT vec_id, v, "
        "sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm "
        "FROM kv)",
        "s0 AS (SELECT vec_id, v, nrm FROM kn "
        "WHERE vec_id = (SELECT MIN(vec_id) FROM kn))",
    ]
    for i in range(1, k):
        parts.append(
            f"d{i} AS (SELECT p.vec_id, "
            "MIN(1.0 - list_inner_product(p.v, s.v) / (p.nrm * s.nrm)) AS dm "
            f"FROM kn p, s{i - 1} s "
            f"WHERE p.vec_id NOT IN (SELECT vec_id FROM s{i - 1}) "
            "GROUP BY p.vec_id)"
        )
        parts.append(
            f"p{i} AS (SELECT d{i}.vec_id, kn.v, kn.nrm, dm FROM d{i} "
            f"JOIN kn ON kn.vec_id = d{i}.vec_id "
            f"ORDER BY dm DESC, d{i}.vec_id LIMIT 1)"
        )
        parts.append(
            f"s{i} AS (SELECT vec_id, v, nrm FROM s{i - 1} "
            f"UNION ALL SELECT vec_id, v, nrm FROM p{i})"
        )
    tail = " UNION ALL ".join(
        ["SELECT 0 AS pick_order, vec_id, 0.0 AS dist FROM s0"]
        + [
            f"SELECT {i} AS pick_order, vec_id, ROUND(dm, 6) AS dist FROM p{i}"
            for i in range(1, k)
        ]
    )
    return "WITH " + ", ".join(parts) + " " + tail


@q("samp_kcenter", _kcenter_oracle(5))
def samp_kcenter(spark, sf_dir):
    """Greedy k-center (farthest-point) coreset over the embeddings
    (filters.kcenter_sample) — the diversity-sampling step of
    training-data curation; k=5, fully deterministic, selected set
    broadcasts each round."""
    return filters.kcenter_sample(_ds(spark, sf_dir).embeddings, k=5)


@q(
    "dedup_cross_source",
    # cross-source shingle containment matrix: one distinct (source,
    # shingle) projection, one shingle self-join (rows per shingle
    # bounded by the source-domain size squared), exact integer ppm
    "WITH w2 AS (SELECT source, string_split(text, ' ') AS ws FROM documents), "
    "ssh AS MATERIALIZED (SELECT DISTINCT source, unnest(list_transform("
    "range(0, greatest(len(ws) - 2, 0)), "
    "i -> ws[i + 1] || ' ' || ws[i + 2] || ' ' || ws[i + 3])) AS shingle FROM w2), "
    "ns AS (SELECT source, COUNT(*) AS n_sh FROM ssh GROUP BY source), "
    "sh2 AS (SELECT a.source AS src_a, b.source AS src_b, "
    "COUNT(*) AS n_shared FROM ssh a JOIN ssh b ON a.shingle = b.shingle "
    "AND a.source != b.source GROUP BY 1, 2) "
    "SELECT src_a, src_b, n_shared, "
    "n_shared * 1000000 // n_sh AS containment_ppm "
    "FROM sh2 JOIN ns ON sh2.src_a = ns.source",
)
def dedup_cross_source(spark, sf_dir):
    """Cross-source shingle-containment matrix
    (dedup.cross_source_containment) — the "is source B a mirror of
    source A" corpus-curation gauge, exact integer ppm."""
    return dedup.cross_source_containment(_ds(spark, sf_dir).documents, n=3)


@q(
    "win_lead_lag",
    "WITH t AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events), "
    "g AS (SELECT user_id, us - LAG(us) OVER "
    "(PARTITION BY user_id ORDER BY us, event_id) AS gap FROM t) "
    "SELECT user_id, COUNT(*) AS n_events, "
    "ROUND(CAST(SUM(gap) AS DOUBLE) / 1000000.0, 6) AS sum_gap_s, "
    "ROUND(CAST(MAX(gap) AS DOUBLE) / 1000000.0, 6) AS max_gap_s "
    "FROM g GROUP BY user_id",
)
def win_lead_lag(spark, sf_dir):
    return windows.event_gaps(_ds(spark, sf_dir).events)


@q(
    "agg_corr",
    "WITH s AS (SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS _n, "
    "SUM(value) AS _sx, SUM(k) AS _sy, SUM(value * k) AS _sxy, "
    "SUM(value * value) AS _sxx, SUM(k * k) AS _syy FROM "
    "(SELECT event_type, value, "
    "CAST(CAST(json_extract(props, '$.k') AS INT) AS DOUBLE) AS k FROM events) "
    "GROUP BY event_type) "
    "SELECT event_type, CAST(_n AS BIGINT) AS n, "
    "ROUND((_n * _sxy - _sx * _sy) / "
    "(SQRT(_n * _sxx - _sx * _sx) * SQRT(_n * _syy - _sy * _sy)), 6) AS corr "
    "FROM s",
)
def agg_corr(spark, sf_dir):
    ev = _ds(spark, sf_dir).events
    k = F.get_json_object(F.col("props"), "$.k").cast("int").cast("double")
    return aggregate.corr_manual(
        ev.select("event_type", "value", k.alias("k")), "event_type", "value", "k"
    )


@q(
    "set_intersect",
    "SELECT c_custkey, c_mktsegment FROM customer "
    "WHERE c_custkey IN (SELECT o_custkey FROM orders)",
)
def set_intersect(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    cust = ds.customer.select("c_custkey", "c_mktsegment")
    return setops.set_intersect(
        cust, ds.orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey"
    )


@q(
    "join_anti_orphans",
    # customers who never generated an event — non-trivially sized at
    # every SF (events' user domain is a small prefix of the customers)
    "SELECT c_custkey, c_mktsegment FROM customer "
    "WHERE c_custkey NOT IN (SELECT user_id FROM events)",
)
def join_anti_orphans(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    cust = ds.customer.select("c_custkey", "c_mktsegment")
    return setops.set_anti(
        cust, ds.events.select(F.col("user_id").alias("c_custkey")), "c_custkey"
    )


@q(
    "win_percentile",
    "SELECT event_type, event_id, "
    "ROUND(PERCENT_RANK() OVER "
    "(PARTITION BY event_type ORDER BY value, event_id), 6) AS pct_rank, "
    "ROUND(CUME_DIST() OVER "
    "(PARTITION BY event_type ORDER BY value, event_id), 6) AS cume_dist "
    "FROM events",
)
def win_percentile(spark, sf_dir):
    return windows.rank_distribution(
        _ds(spark, sf_dir).events, "event_type", "value", "event_id"
    )


@q(
    "agg_moments",
    "WITH a AS (SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS _n, "
    "SUM(value) AS _s1, SUM(value * value) AS _s2, "
    "SUM(value * value * value) AS _s3, "
    "SUM(value * value * value * value) AS _s4 FROM events GROUP BY event_type), "
    "b AS (SELECT event_type, _n, _s1 / _n AS m, _s2, _s3, _s4 FROM a), "
    "c AS (SELECT *, _s2 / _n - m * m AS var FROM b) "
    "SELECT event_type, CAST(_n AS BIGINT) AS n, ROUND(m, 6) AS mean, "
    "ROUND(var, 6) AS var_pop, "
    # var^1.5 as var*sqrt(var) — pow() is not correctly rounded, these are
    "ROUND((_s3 / _n - 3.0 * m * (_s2 / _n) + 2.0 * m * m * m) "
    "/ (var * SQRT(var)), 6) AS skewness, "
    "ROUND((_s4 / _n - 4.0 * m * (_s3 / _n) + 6.0 * m * m * (_s2 / _n) "
    "- 3.0 * m * m * m * m) / (var * var) - 3.0, 6) AS kurtosis_excess "
    "FROM c",
)
def agg_moments(spark, sf_dir):
    return aggregate.moment_stats(_ds(spark, sf_dir).events, "event_type", "value")


# ---------------------------------------------------------------------------
# Pure-SQL front door: the same ANSI SQL text runs through spark.sql
# over registered views AND through the DuckDB oracle — demonstrating
# the engine's SQL surface (Catalyst parses, optimizes, and executes
# the identical statement; TPC-H shapes Q1/Q3/Q6 on the star schema).
# ---------------------------------------------------------------------------

_VIEWS_REGISTERED: set = set()


def _sql_query(spark, sf_dir, sql):
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _VIEWS_REGISTERED:
        ds = _ds(spark, sf_dir)
        for t in ds.table_names():
            ds.table(t).createOrReplaceTempView(t)
        _VIEWS_REGISTERED.add(key)
    return spark.sql(sql)


# All money math in DECIMAL: the inputs are cents-quantized doubles, so
# the DECIMAL(18,2) cast is unambiguous, every product/sum is exact (no
# accumulation-order sensitivity — a corpus-wide double SUM can drift
# ~1e-5 between engines, past any ROUND), and the final DOUBLE cast of
# an exact decimal is correctly rounded everywhere.
_SQL_Q1 = (
    "SELECT l_returnflag, l_linestatus, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) "
    "* (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) "
    "* (1 - CAST(l_discount AS DECIMAL(18,2))) "
    "* (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge, "
    "COUNT(*) AS count_order "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
    "GROUP BY l_returnflag, l_linestatus"
)

_SQL_Q3 = (
    "SELECT o.o_orderkey, "
    "CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) "
    "* (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue, "
    "CAST(o.o_orderdate AS DATE) AS orderdate "
    "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
    "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
    "WHERE c.c_mktsegment = 'BUILDING' "
    "AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00' "
    "AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00' "
    "GROUP BY o.o_orderkey, o.o_orderdate "
    "ORDER BY revenue DESC, o_orderkey LIMIT 10"
)

_SQL_Q6 = (
    "SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) "
    "* CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue "
    "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' "
    "AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24"
)


@q("sql_q1", _SQL_Q1)
def sql_q1(spark, sf_dir):
    return _sql_query(spark, sf_dir, _SQL_Q1)


@q("sql_q3", _SQL_Q3)
def sql_q3(spark, sf_dir):
    return _sql_query(spark, sf_dir, _SQL_Q3)


@q("sql_q6", _SQL_Q6)
def sql_q6(spark, sf_dir):
    return _sql_query(spark, sf_dir, _SQL_Q6)


# TPC-H Q5 shape: the 6-table join (fact + 5 dims). Catalyst broadcast-
# joins every dimension and keeps lineitem unshuffled until the final
# n_name aggregate — the plan that at 100 TB touches the fact table
# once. DECIMAL money math as in Q1/Q6 (exact, order-free).
_SQL_Q5 = (
    "SELECT n_name, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) "
    "* (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) "
    "AS DOUBLE) AS revenue "
    "FROM customer, orders, lineitem, supplier, nation, region "
    "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
    "AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
    "AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey "
    "AND r_name = 'ASIA' "
    "AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' "
    "GROUP BY n_name"
)


@q("sql_q5", _SQL_Q5)
def sql_q5(spark, sf_dir):
    return _sql_query(spark, sf_dir, _SQL_Q5)


# TPC-H Q17 shape: correlated scalar subquery per part (0.2 × that
# part's average quantity). Catalyst decorrelates it into an aggregate
# + self-join on l_partkey — at 100 TB the rewrite is the difference
# between one extra shuffle and a per-row subquery storm. DECIMAL sum.
_SQL_Q17 = (
    "SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) "
    "/ 7.0, 6) AS avg_yearly "
    "FROM lineitem, part WHERE p_partkey = l_partkey AND p_brand = 'Brand#9' "
    "AND l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem l2 "
    "WHERE l2.l_partkey = p_partkey)"
)


@q("sql_q17", _SQL_Q17)
def sql_q17(spark, sf_dir):
    return _sql_query(spark, sf_dir, _SQL_Q17)


# TPC-H Q18 shape: large-volume orders via IN over a HAVING aggregate.
# Catalyst plans the IN as a left-semi join against the aggregated
# order list — the fact table is filtered BEFORE the 3-way join.
_SQL_Q18 = (
    "SELECT c_custkey, c_name, o_orderkey, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty "
    "FROM customer, orders, lineitem "
    "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem "
    "GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250) "
    "AND c_custkey = o_custkey AND o_orderkey = l_orderkey "
    "GROUP BY c_custkey, c_name, o_orderkey"
)


@q("sql_q18", _SQL_Q18)
def sql_q18(spark, sf_dir):
    return _sql_query(spark, sf_dir, _SQL_Q18)


# TPC-H Q10 shape: returned-item revenue, top 20 customers. DECIMAL
# revenue is exact so the ORDER BY + LIMIT cut replays across engines
# (c_custkey tie-break).
_SQL_Q10 = (
    "SELECT c_custkey, c_name, n_name, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) "
    "* (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) "
    "AS DOUBLE) AS revenue "
    "FROM customer, orders, lineitem, nation "
    "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
    "AND o_orderdate >= TIMESTAMP '1996-07-01 00:00:00' "
    "AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00' "
    "AND l_returnflag = 'R' AND c_nationkey = n_nationkey "
    "GROUP BY c_custkey, c_name, n_name "
    "ORDER BY revenue DESC, c_custkey LIMIT 20"
)


@q("sql_q10", _SQL_Q10)
def sql_q10(spark, sf_dir):
    return _sql_query(spark, sf_dir, _SQL_Q10)


# Explicit GROUPING SETS — the general form ROLLUP/CUBE specialize;
# Spark's DataFrame API has no grouping-sets verb, so the SQL front
# door IS the idiomatic Spark path (one expand + one aggregate, same
# physical plan as rollup). Identical text on both engines.
_SQL_GSETS = (
    "SELECT COALESCE(c_mktsegment, 'ALL') AS segment, "
    "COALESCE(o_orderpriority, 'ALL') AS priority, "
    "COUNT(*) AS n_orders, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price "
    "FROM orders JOIN customer ON o_custkey = c_custkey "
    "GROUP BY GROUPING SETS ((c_mktsegment, o_orderpriority), "
    "(c_mktsegment), (o_orderpriority))"
)


@q("sql_grouping_sets", _SQL_GSETS)
def sql_grouping_sets(spark, sf_dir):
    return _sql_query(spark, sf_dir, _SQL_GSETS)


# TPC-H Q4 shape: priority checking via a correlated EXISTS — Catalyst
# plans it as a left-semi join on l_orderkey with the non-equi
# shipdate predicate evaluated at the join, so the fact table is never
# expanded. (Adapted: the synthetic lineitem has no commit/receipt
# dates, so "late" = shipped after the order date.)
_SQL_Q4 = (
    "SELECT o_orderpriority, COUNT(*) AS order_count "
    "FROM orders WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00' "
    "AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00' "
    "AND EXISTS (SELECT 1 FROM lineitem "
    "WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate) "
    "GROUP BY o_orderpriority ORDER BY o_orderpriority"
)


@q("sql_q4", _SQL_Q4)
def sql_q4(spark, sf_dir):
    return _sql_query(spark, sf_dir, _SQL_Q4)


# TPC-H Q7 shape: volume shipping between two nations — a 6-table join
# with a symmetric nation-pair disjunction and a per-year rollup. The
# two nation dims broadcast; YEAR is cast to INT explicitly because
# DuckDB's year() returns BIGINT while Spark's returns INT and the
# value hash is serialization-sensitive.
_SQL_Q7 = (
    "SELECT supp_nation, cust_nation, l_year, "
    "CAST(SUM(volume) AS DOUBLE) AS revenue FROM ("
    "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
    "CAST(YEAR(l_shipdate) AS INT) AS l_year, "
    "CAST(l_extendedprice AS DECIMAL(18,2)) "
    "* (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume "
    "FROM supplier, lineitem, orders, customer, nation n1, nation n2 "
    "WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey "
    "AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey "
    "AND c_nationkey = n2.n_nationkey "
    "AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') "
    "OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))"
    ") shipping GROUP BY supp_nation, cust_nation, l_year "
    "ORDER BY supp_nation, cust_nation, l_year"
)


@q("sql_q7", _SQL_Q7)
def sql_q7(spark, sf_dir):
    return _sql_query(spark, sf_dir, _SQL_Q7)


# TPC-H Q8 shape: market share — conditional aggregation over a
# 6-table join. Numerator and denominator stay exact decimals until a
# single double division, then ROUND(6) (double IEEE division is
# engine-identical given identical inputs).
_SQL_Q8 = (
    "SELECT o_year, ROUND("
    "CAST(SUM(CASE WHEN nation = 'NATION_1' THEN volume "
    "ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) "
    "/ CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share FROM ("
    "SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year, "
    "CAST(l_extendedprice AS DECIMAL(18,2)) "
    "* (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume, "
    "n1.n_name AS nation "
    "FROM part, supplier, lineitem, orders, customer, "
    "nation n1, nation n2, region "
    "WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey "
    "AND o_orderkey = l_orderkey "
    "AND c_custkey = o_custkey AND c_nationkey = n2.n_nationkey "
    "AND n2.n_regionkey = r_regionkey AND r_name = 'EUROPE' "
    "AND s_nationkey = n1.n_nationkey AND p_type = 'PROMO'"
    ") all_nations GROUP BY o_year ORDER BY o_year"
)


@q("sql_q8", _SQL_Q8)
def sql_q8(spark, sf_dir):
    return _sql_query(spark, sf_dir, _SQL_Q8)


# TPC-H Q13 shape: customer order-count distribution — a left outer
# join with an ON-clause filter (orders dropped at the join, customers
# kept), then a histogram of the per-customer counts.
_SQL_Q13 = (
    "SELECT c_count, COUNT(*) AS custdist FROM ("
    "SELECT c_custkey, COUNT(o_orderkey) AS c_count "
    "FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey "
    "AND o_orderpriority <> '1-URGENT' GROUP BY c_custkey"
    ") c_orders GROUP BY c_count ORDER BY custdist DESC, c_count DESC"
)


@q("sql_q13", _SQL_Q13)
def sql_q13(spark, sf_dir):
    return _sql_query(spark, sf_dir, _SQL_Q13)


# TPC-H Q14 shape: promo revenue percentage — conditional aggregation
# over a part⋈lineitem join; exact-decimal sums, one double division.
_SQL_Q14 = (
    "SELECT ROUND(100.0 * "
    "CAST(SUM(CASE WHEN p_type = 'PROMO' "
    "THEN CAST(l_extendedprice AS DECIMAL(18,2)) "
    "* (1 - CAST(l_discount AS DECIMAL(18,2))) "
    "ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) "
    "/ CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) "
    "* (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6) "
    "AS promo_revenue "
    "FROM lineitem, part WHERE l_partkey = p_partkey "
    "AND l_shipdate >= TIMESTAMP '1996-07-01 00:00:00' "
    "AND l_shipdate < TIMESTAMP '1996-08-01 00:00:00'"
)


@q("sql_q14", _SQL_Q14)
def sql_q14(spark, sf_dir):
    return _sql_query(spark, sf_dir, _SQL_Q14)


# TPC-H Q15 shape: top supplier — a reused revenue CTE plus a scalar
# MAX subquery; the equality test is on EXACT decimals, so the winner
# set replays on any engine.
_SQL_Q15 = (
    "WITH revenue AS (SELECT l_suppkey AS supplier_no, "
    "SUM(CAST(l_extendedprice AS DECIMAL(18,2)) "
    "* (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue "
    "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-07-01 00:00:00' "
    "AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00' "
    "GROUP BY l_suppkey) "
    "SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue "
    "FROM supplier, revenue WHERE s_suppkey = supplier_no "
    "AND total_revenue = (SELECT MAX(total_revenue) FROM revenue) "
    "ORDER BY s_suppkey"
)


@q("sql_q15", _SQL_Q15)
def sql_q15(spark, sf_dir):
    return _sql_query(spark, sf_dir, _SQL_Q15)


# TPC-H Q19 shape: discounted revenue under an OR-of-ANDs predicate
# spanning both join sides — the classic disjunctive-pushdown test
# (Catalyst extracts p_partkey = l_partkey as the join key and leaves
# the residual disjunction as a join filter).
_SQL_Q19 = (
    "SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) "
    "* (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue "
    "FROM lineitem, part WHERE p_partkey = l_partkey AND ("
    "(p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 "
    "AND l_quantity >= 1 AND l_quantity <= 21) "
    "OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 "
    "AND l_quantity >= 10 AND l_quantity <= 30) "
    "OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 "
    "AND l_quantity >= 20 AND l_quantity <= 40))"
)


@q("sql_q19", _SQL_Q19)
def sql_q19(spark, sf_dir):
    return _sql_query(spark, sf_dir, _SQL_Q19)


# TPC-H Q22 shape: global-customer anti join — above-average-balance
# customers with no urgent orders (every synthetic customer has SOME
# order, so the anti join keys on the urgent subset to stay
# non-degenerate). NOT EXISTS becomes a left-anti join; the scalar
# average (exact decimal sum / count, one double division) broadcasts.
_SQL_Q22 = (
    "SELECT cntrycode, COUNT(*) AS numcust, "
    "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal "
    "FROM (SELECT MOD(c_nationkey, 5) AS cntrycode, c_acctbal "
    "FROM customer WHERE c_acctbal > ("
    "SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) "
    "/ COUNT(*) FROM customer WHERE c_acctbal > 0.0) "
    "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
    "AND o_orderpriority = '1-URGENT')"
    ") custsale GROUP BY cntrycode ORDER BY cntrycode"
)


@q("sql_q22", _SQL_Q22)
def sql_q22(spark, sf_dir):
    return _sql_query(spark, sf_dir, _SQL_Q22)


# TPC-H Q2 shape: minimum-cost supplier per part — a correlated MIN
# scalar subquery repeated against the outer join. The driver schema
# has no partsupp, so "supply cost" is the observed unit price
# (l_extendedprice / l_quantity, IEEE double division on both
# engines); the correlated-aggregate decorrelation (Catalyst rewrites
# it into a grouped MIN + equi-join on p_partkey — the plan that scans
# lineitem twice, never per-row) is exactly the Q2 plan. DISTINCT
# collapses multiple min-priced lineitems of the same (part, supplier).
_SQL_Q2 = (
    "SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name "
    "FROM part, supplier, lineitem, nation, region "
    "WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey "
    "AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey "
    "AND r_name = 'EUROPE' AND p_size = 15 "
    "AND l_extendedprice / l_quantity = ("
    "SELECT MIN(l2.l_extendedprice / l2.l_quantity) "
    "FROM lineitem l2, supplier s2, nation n2, region r2 "
    "WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey "
    "AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey "
    "AND r2.r_name = 'EUROPE') "
    "ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100"
)


@q("sql_q2", _SQL_Q2)
def sql_q2(spark, sf_dir):
    return _sql_query(spark, sf_dir, _SQL_Q2)


# TPC-H Q9 shape: product-line profit by nation × order year. No
# partsupp in the driver schema, so profit omits the supply-cost term
# (revenue only) — the plan shape is unchanged: a 5-table star join
# with a LIKE filter on part, then a two-key aggregate over an
# expression key (EXTRACT YEAR). DECIMAL money math, exact.
_SQL_Q9 = (
    "SELECT n_name AS nation, "
    "CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) "
    "* (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_profit "
    "FROM part, supplier, lineitem, orders, nation "
    "WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey "
    "AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey "
    "AND p_name LIKE '%gear%' "
    "GROUP BY n_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) "
    "ORDER BY nation, o_year DESC"
)


@q("sql_q9", _SQL_Q9)
def sql_q9(spark, sf_dir):
    return _sql_query(spark, sf_dir, _SQL_Q9)


# TPC-H Q11 shape: important-stock screen — a grouped value SUM kept
# only when it exceeds a fraction of the SAME sum computed globally
# (scalar subquery re-evaluating the full join). partsupp-free
# adaptation: value = price × quantity over lineitem restricted to one
# nation's suppliers. Both sums are exact decimals; the threshold is
# one double multiply, so the HAVING cut replays across engines.
_SQL_Q11 = (
    "SELECT l_partkey AS ps_partkey, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) "
    "* CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS part_value "
    "FROM lineitem, supplier, nation, region "
    "WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey "
    "AND n_regionkey = r_regionkey AND r_name = 'EUROPE' "
    "GROUP BY l_partkey "
    "HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) "
    "* CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > ("
    "SELECT 0.001 * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) "
    "* CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) "
    "FROM lineitem, supplier, nation, region "
    "WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey "
    "AND n_regionkey = r_regionkey AND r_name = 'EUROPE') "
    "ORDER BY part_value DESC, ps_partkey"
)


@q("sql_q11", _SQL_Q11)
def sql_q11(spark, sf_dir):
    return _sql_query(spark, sf_dir, _SQL_Q11)


# TPC-H Q12 shape: shipping-priority conditional counts. The driver
# lineitem has no l_shipmode/l_commitdate/l_receiptdate, so the mode
# becomes l_linestatus and "late" is l_shipdate > o_orderdate — the
# plan (fact join + CASE-WHEN pivot aggregate) is Q12's. Explicit
# BIGINT casts keep both engines' conditional sums hash-identical.
_SQL_Q12 = (
    "SELECT l_linestatus, "
    "CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' "
    "OR o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) "
    "AS high_line_count, "
    "CAST(SUM(CASE WHEN o_orderpriority <> '1-URGENT' "
    "AND o_orderpriority <> '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) "
    "AS low_line_count "
    "FROM orders, lineitem "
    "WHERE o_orderkey = l_orderkey AND l_shipdate > o_orderdate "
    "AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' "
    "GROUP BY l_linestatus ORDER BY l_linestatus"
)


@q("sql_q12", _SQL_Q12)
def sql_q12(spark, sf_dir):
    return _sql_query(spark, sf_dir, _SQL_Q12)


# TPC-H Q16 shape: supplier count per part attribute triple with a
# NOT IN exclusion subquery (Catalyst: null-aware anti join). The
# complaint-comment filter becomes s_acctbal < 0 (supplier has no
# comment column); COUNT(DISTINCT l_suppkey) stands in for partsupp.
_SQL_Q16 = (
    "SELECT p_brand, p_type, p_size, "
    "COUNT(DISTINCT l_suppkey) AS supplier_cnt "
    "FROM part, lineitem "
    "WHERE p_partkey = l_partkey AND p_brand <> 'Brand#5' "
    "AND p_type NOT LIKE 'PROMO%' "
    "AND p_size IN (1, 9, 15, 22, 30, 37, 44, 50) "
    "AND l_suppkey NOT IN ("
    "SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0) "
    "GROUP BY p_brand, p_type, p_size "
    "ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"
)


@q("sql_q16", _SQL_Q16)
def sql_q16(spark, sf_dir):
    return _sql_query(spark, sf_dir, _SQL_Q16)


# TPC-H Q20 shape: the nested IN-over-grouped-HAVING — suppliers whose
# shipped volume of a part family clears a threshold derived from a
# scalar subquery over the same family. partsupp-free: volume comes
# from lineitem; the original per-(part,supplier) availability
# correlation becomes a global family share (documented relaxation).
# Catalyst plans the IN as a left-semi join on the aggregated list.
_SQL_Q20 = (
    "SELECT s_name, s_acctbal FROM supplier, nation "
    "WHERE s_suppkey IN ("
    "SELECT l_suppkey FROM lineitem, part "
    "WHERE l_partkey = p_partkey AND p_name LIKE 'red%' "
    "AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' "
    "GROUP BY l_suppkey "
    "HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > ("
    "SELECT 0.005 * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) "
    "FROM lineitem, part "
    "WHERE l_partkey = p_partkey AND p_name LIKE 'red%' "
    "AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00')) "
    "AND s_nationkey = n_nationkey "
    "AND n_name IN ('NATION_1', 'NATION_4', 'NATION_9', 'NATION_16') "
    "ORDER BY s_name"
)


@q("sql_q20", _SQL_Q20)
def sql_q20(spark, sf_dir):
    return _sql_query(spark, sf_dir, _SQL_Q20)


# TPC-H Q21 shape: suppliers who kept orders waiting — the classic
# semi + anti correlated pair over the SAME fact table (EXISTS another
# supplier on the order / NOT EXISTS another supplier who was also
# late). Lateness is an absolute ship-date cut (the driver schema has
# no receipt/commit dates), keeping the correlation on l_orderkey only
# so both engines decorrelate into two aggregated self-joins.
_SQL_Q21 = (
    "SELECT s_name, COUNT(*) AS numwait "
    "FROM supplier, lineitem l1, orders, nation "
    "WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey "
    "AND o_orderstatus = 'F' "
    "AND l1.l_shipdate >= TIMESTAMP '1999-01-01 00:00:00' "
    "AND EXISTS (SELECT 1 FROM lineitem l2 "
    "WHERE l2.l_orderkey = l1.l_orderkey "
    "AND l2.l_suppkey <> l1.l_suppkey) "
    "AND NOT EXISTS (SELECT 1 FROM lineitem l3 "
    "WHERE l3.l_orderkey = l1.l_orderkey "
    "AND l3.l_suppkey <> l1.l_suppkey "
    "AND l3.l_shipdate >= TIMESTAMP '1999-01-01 00:00:00') "
    "AND s_nationkey = n_nationkey "
    "AND n_name IN ('NATION_2', 'NATION_8', 'NATION_14', 'NATION_21') "
    "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100"
)


@q("sql_q21", _SQL_Q21)
def sql_q21(spark, sf_dir):
    return _sql_query(spark, sf_dir, _SQL_Q21)


@q(
    "norm_pearson_residual",
    f"WITH {COUNTS_CTE}, "
    "ct AS (SELECT cell_id, SUM(value) AS _nc FROM counts GROUP BY cell_id), "
    "ft AS (SELECT feat_id, SUM(value) AS _fg FROM counts GROUP BY feat_id), "
    "g AS (SELECT SUM(_fg) AS _N FROM ft) "
    "SELECT c.cell_id, c.feat_id, "
    "ROUND((c.value - _nc * _fg / _N) "
    "/ SQRT(_nc * _fg / _N + (_nc * _fg / _N) * (_nc * _fg / _N) / 100.0), 6) "
    "AS residual "
    "FROM counts c JOIN ct ON c.cell_id = ct.cell_id "
    "JOIN ft ON c.feat_id = ft.feat_id CROSS JOIN g",
)
def norm_pearson_residual(spark, sf_dir):
    return normalize.norm_pearson_residual(_ds(spark, sf_dir).counts(), theta=100.0)


@q(
    "norm_quantile",
    f"WITH {COUNTS_CTE}, "
    "rk AS (SELECT cell_id, feat_id, value, ROW_NUMBER() OVER "
    "(PARTITION BY cell_id ORDER BY value, feat_id) AS _rk FROM counts), "
    "rm AS (SELECT _rk, SUM(value) / COUNT(*) AS _rm FROM rk GROUP BY _rk) "
    "SELECT rk.cell_id, rk.feat_id, ROUND(_rm, 6) AS qnorm "
    "FROM rk JOIN rm ON rk._rk = rm._rk",
)
def norm_quantile(spark, sf_dir):
    return normalize.norm_quantile(_ds(spark, sf_dir).counts())


@q(
    "text_tfidf_top",
    "WITH nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents), "
    "words AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), "
    "x -> x != '')) AS term FROM documents), "
    "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY 1, 2), "
    "dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), "
    "sc AS (SELECT doc_id, tf.term, "
    "ROUND(tf * LN(CAST((SELECT n FROM nd) AS DOUBLE) / df), 6) AS tfidf "
    "FROM tf JOIN dfx ON tf.term = dfx.term) "
    "SELECT doc_id, rn AS rank, term, tfidf FROM "
    "(SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id "
    "ORDER BY tfidf DESC, term) AS rn FROM sc) WHERE rn <= 3",
)
def text_tfidf_top(spark, sf_dir):
    return text.tfidf_top_terms(_ds(spark, sf_dir).documents, top_n=3)


@q(
    "text_quality_filter",
    f"WITH {_WORDS_CTE}, {_QINT_CTE}, "
    "h AS (SELECT doc_id, "
    f"len(list_filter(ws, x -> list_contains({_DE_SW}, lower(x)))) AS h_de, "
    f"len(list_filter(ws, x -> list_contains({_EN_SW}, lower(x)))) AS h_en, "
    f"len(list_filter(ws, x -> list_contains({_FR_SW}, lower(x)))) AS h_fr FROM w), "
    "l AS (SELECT doc_id, CASE WHEN h_de >= h_en AND h_de >= h_fr THEN 'de' "
    "WHEN h_en >= h_fr THEN 'en' ELSE 'fr' END AS pred_lang FROM h), "
    "j AS (SELECT d.doc_id, length(d.text) AS n_chars, l.pred_lang, "
    "q.quality_ppm, "
    "(CASE WHEN length(d.text) < 200 THEN 1 ELSE 0 END "
    "+ CASE WHEN l.pred_lang NOT IN ('en', 'de') THEN 2 ELSE 0 END "
    "+ CASE WHEN q.quality_ppm < 500000 THEN 4 ELSE 0 END) AS reasons "
    "FROM documents d JOIN q ON d.doc_id = q.doc_id "
    "JOIN l ON d.doc_id = l.doc_id) "
    "SELECT doc_id, n_chars, pred_lang, quality_ppm, reasons, "
    "reasons = 0 AS keep FROM j",
)
def text_quality_filter(spark, sf_dir):
    return text.quality_filter(
        _ds(spark, sf_dir).documents, min_chars=200, min_quality=0.5,
        langs=("en", "de"),
    )


@q(
    "mm_phash_dedup",
    f"WITH {_MEDIA_CTE}, "
    "img AS (SELECT doc_id, text FROM media WHERE modality = 'image'), "
    "arr AS (SELECT doc_id, list_transform(range(1, length(text) + 1), "
    "i -> ord(substr(text, CAST(i AS INT), 1))) AS a FROM img), "
    "st AS (SELECT doc_id, a, CAST(list_aggregate(a, 'sum') AS BIGINT) AS tot, "
    "CAST(len(a) AS BIGINT) AS n FROM arr), "
    # 16-bit aHash: integer cross-multiplied chunk-mean bits (FLOOR'd
    # slice bounds — DuckDB CAST rounds where Spark truncates)
    "ph AS (SELECT doc_id, CAST(CASE WHEN CAST(list_aggregate(list_slice(a, CAST(FLOOR(n * 0 / 16) AS INT) + 1, CAST(FLOOR(n * 1 / 16) AS INT)), 'sum') AS BIGINT) * n > tot * CAST((CAST(FLOOR(n * 1 / 16) AS INT)) - (CAST(FLOOR(n * 0 / 16) AS INT) + 1) + 1 AS BIGINT) THEN 1 ELSE 0 END + CASE WHEN CAST(list_aggregate(list_slice(a, CAST(FLOOR(n * 1 / 16) AS INT) + 1, CAST(FLOOR(n * 2 / 16) AS INT)), 'sum') AS BIGINT) * n > tot * CAST((CAST(FLOOR(n * 2 / 16) AS INT)) - (CAST(FLOOR(n * 1 / 16) AS INT) + 1) + 1 AS BIGINT) THEN 2 ELSE 0 END + CASE WHEN CAST(list_aggregate(list_slice(a, CAST(FLOOR(n * 2 / 16) AS INT) + 1, CAST(FLOOR(n * 3 / 16) AS INT)), 'sum') AS BIGINT) * n > tot * CAST((CAST(FLOOR(n * 3 / 16) AS INT)) - (CAST(FLOOR(n * 2 / 16) AS INT) + 1) + 1 AS BIGINT) THEN 4 ELSE 0 END + CASE WHEN CAST(list_aggregate(list_slice(a, CAST(FLOOR(n * 3 / 16) AS INT) + 1, CAST(FLOOR(n * 4 / 16) AS INT)), 'sum') AS BIGINT) * n > tot * CAST((CAST(FLOOR(n * 4 / 16) AS INT)) - (CAST(FLOOR(n * 3 / 16) AS INT) + 1) + 1 AS BIGINT) THEN 8 ELSE 0 END + CASE WHEN CAST(list_aggregate(list_slice(a, CAST(FLOOR(n * 4 / 16) AS INT) + 1, CAST(FLOOR(n * 5 / 16) AS INT)), 'sum') AS BIGINT) * n > tot * CAST((CAST(FLOOR(n * 5 / 16) AS INT)) - (CAST(FLOOR(n * 4 / 16) AS INT) + 1) + 1 AS BIGINT) THEN 16 ELSE 0 END + CASE WHEN CAST(list_aggregate(list_slice(a, CAST(FLOOR(n * 5 / 16) AS INT) + 1, CAST(FLOOR(n * 6 / 16) AS INT)), 'sum') AS BIGINT) * n > tot * CAST((CAST(FLOOR(n * 6 / 16) AS INT)) - (CAST(FLOOR(n * 5 / 16) AS INT) + 1) + 1 AS BIGINT) THEN 32 ELSE 0 END + CASE WHEN CAST(list_aggregate(list_slice(a, CAST(FLOOR(n * 6 / 16) AS INT) + 1, CAST(FLOOR(n * 7 / 16) AS INT)), 'sum') AS BIGINT) * n > tot * CAST((CAST(FLOOR(n * 7 / 16) AS INT)) - (CAST(FLOOR(n * 6 / 16) AS INT) + 1) + 1 AS BIGINT) THEN 64 ELSE 0 END + CASE WHEN CAST(list_aggregate(list_slice(a, CAST(FLOOR(n * 7 / 16) AS INT) + 1, CAST(FLOOR(n * 8 / 16) AS INT)), 'sum') AS BIGINT) * n > tot * CAST((CAST(FLOOR(n * 8 / 16) AS INT)) - (CAST(FLOOR(n * 7 / 16) AS INT) + 1) + 1 AS BIGINT) THEN 128 ELSE 0 END + CASE WHEN CAST(list_aggregate(list_slice(a, CAST(FLOOR(n * 8 / 16) AS INT) + 1, CAST(FLOOR(n * 9 / 16) AS INT)), 'sum') AS BIGINT) * n > tot * CAST((CAST(FLOOR(n * 9 / 16) AS INT)) - (CAST(FLOOR(n * 8 / 16) AS INT) + 1) + 1 AS BIGINT) THEN 256 ELSE 0 END + CASE WHEN CAST(list_aggregate(list_slice(a, CAST(FLOOR(n * 9 / 16) AS INT) + 1, CAST(FLOOR(n * 10 / 16) AS INT)), 'sum') AS BIGINT) * n > tot * CAST((CAST(FLOOR(n * 10 / 16) AS INT)) - (CAST(FLOOR(n * 9 / 16) AS INT) + 1) + 1 AS BIGINT) THEN 512 ELSE 0 END + CASE WHEN CAST(list_aggregate(list_slice(a, CAST(FLOOR(n * 10 / 16) AS INT) + 1, CAST(FLOOR(n * 11 / 16) AS INT)), 'sum') AS BIGINT) * n > tot * CAST((CAST(FLOOR(n * 11 / 16) AS INT)) - (CAST(FLOOR(n * 10 / 16) AS INT) + 1) + 1 AS BIGINT) THEN 1024 ELSE 0 END + CASE WHEN CAST(list_aggregate(list_slice(a, CAST(FLOOR(n * 11 / 16) AS INT) + 1, CAST(FLOOR(n * 12 / 16) AS INT)), 'sum') AS BIGINT) * n > tot * CAST((CAST(FLOOR(n * 12 / 16) AS INT)) - (CAST(FLOOR(n * 11 / 16) AS INT) + 1) + 1 AS BIGINT) THEN 2048 ELSE 0 END + CASE WHEN CAST(list_aggregate(list_slice(a, CAST(FLOOR(n * 12 / 16) AS INT) + 1, CAST(FLOOR(n * 13 / 16) AS INT)), 'sum') AS BIGINT) * n > tot * CAST((CAST(FLOOR(n * 13 / 16) AS INT)) - (CAST(FLOOR(n * 12 / 16) AS INT) + 1) + 1 AS BIGINT) THEN 4096 ELSE 0 END + CASE WHEN CAST(list_aggregate(list_slice(a, CAST(FLOOR(n * 13 / 16) AS INT) + 1, CAST(FLOOR(n * 14 / 16) AS INT)), 'sum') AS BIGINT) * n > tot * CAST((CAST(FLOOR(n * 14 / 16) AS INT)) - (CAST(FLOOR(n * 13 / 16) AS INT) + 1) + 1 AS BIGINT) THEN 8192 ELSE 0 END + CASE WHEN CAST(list_aggregate(list_slice(a, CAST(FLOOR(n * 14 / 16) AS INT) + 1, CAST(FLOOR(n * 15 / 16) AS INT)), 'sum') AS BIGINT) * n > tot * CAST((CAST(FLOOR(n * 15 / 16) AS INT)) - (CAST(FLOOR(n * 14 / 16) AS INT) + 1) + 1 AS BIGINT) THEN 16384 ELSE 0 END + CASE WHEN CAST(list_aggregate(list_slice(a, CAST(FLOOR(n * 15 / 16) AS INT) + 1, CAST(FLOOR(n * 16 / 16) AS INT)), 'sum') AS BIGINT) * n > tot * CAST((CAST(FLOOR(n * 16 / 16) AS INT)) - (CAST(FLOOR(n * 15 / 16) AS INT) + 1) + 1 AS BIGINT) THEN 32768 ELSE 0 END AS BIGINT) AS phash FROM st), "
    "bands AS (SELECT doc_id, phash, 0 AS band, phash % 256 AS key FROM ph "
    "UNION ALL SELECT doc_id, phash, 1, phash // 256 FROM ph), "
    "cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, "
    "x.phash AS pa, y.phash AS pb FROM bands x JOIN bands y "
    "ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id) "
    "SELECT a, b, CAST(bit_count(CAST(xor(pa, pb) AS BIGINT)) AS INT) AS hamming "
    "FROM cand WHERE bit_count(CAST(xor(pa, pb) AS BIGINT)) <= 3",
)
def mm_phash_dedup(spark, sf_dir):
    from scarf_spark.operators import multimodal as mm

    media = mm.attach_payload(_ds(spark, sf_dir).documents).where(
        F.col("modality") == "image"
    )
    return mm.phash_near_pairs(mm.ahash16(media), max_hamming=3)


# benchmark stand-in: the 25 docs with the smallest md5(doc_id) — a
# deterministic held-out set any engine reproduces
_SHINGLE8 = (
    "s8_{src} AS (SELECT DISTINCT doc_id, unnest(list_transform("
    "range(0, greatest(len(ws) - 7, 0)), "
    "i -> ws[i + 1] || ' ' || ws[i + 2] || ' ' || ws[i + 3] || ' ' || ws[i + 4] "
    "|| ' ' || ws[i + 5] || ' ' || ws[i + 6] || ' ' || ws[i + 7] || ' ' || ws[i + 8]"
    ")) AS shingle FROM w_{src})"
)


@q(
    "dedup_decontaminate",
    "WITH bench AS (SELECT doc_id, text FROM documents "
    "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 25), "
    "w_tr AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), "
    "w_bn AS (SELECT doc_id, string_split(text, ' ') AS ws FROM bench), "
    + _SHINGLE8.format(src="tr") + ", "
    + _SHINGLE8.format(src="bn") + ", "
    "bset AS (SELECT DISTINCT shingle FROM s8_bn) "
    "SELECT t.doc_id, COUNT(*) AS n_contaminated_ngrams "
    "FROM s8_tr t JOIN bset ON t.shingle = bset.shingle GROUP BY t.doc_id",
)
def dedup_decontaminate(spark, sf_dir):
    docs = _ds(spark, sf_dir).documents
    bench = (
        docs.select("doc_id", "text", F.md5(F.col("doc_id").cast("string")).alias("_h"))
        .orderBy("_h", "doc_id")
        .limit(25)
        .drop("_h")
    )
    return dedup.decontaminate(docs, bench, n=8)


_DUPSPAN_CTE = (
    # positional 5-token windows; windows occurring >= 2 times corpus-
    # wide are duplicated; per-doc overlapping hits merge to islands
    "w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), "
    "win AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, "
    "array_to_string(list_slice(ws, CAST(i + 1 AS INT), CAST(i + 5 AS INT)), ' ') AS wd "
    "FROM w, UNNEST(range(0, greatest(len(ws) - 4, 0))) AS t(i)), "
    "dup AS (SELECT wd FROM win GROUP BY wd HAVING COUNT(*) >= 2), "
    "hits AS (SELECT win.doc_id, win.pos FROM win JOIN dup ON win.wd = dup.wd), "
    "isl AS (SELECT doc_id, pos, SUM(CASE WHEN prev IS NULL OR pos - prev > 5 "
    "THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos) AS g "
    "FROM (SELECT doc_id, pos, LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) "
    "AS prev FROM hits) x), "
    "spans AS (SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 5 AS span_end, "
    "COUNT(*) AS n_windows FROM isl GROUP BY doc_id, g)"
)


@q(
    "dedup_dup_spans",
    f"WITH {_DUPSPAN_CTE} "
    "SELECT doc_id, span_start, span_end, n_windows FROM spans",
)
def dedup_dup_spans(spark, sf_dir):
    """Exact duplicated-substring spans (token-level dedup /
    memorization control): every 5-token window occurring ≥2 times
    corpus-wide, merged per doc into maximal spans — one window-hash
    agg + a per-doc gaps-and-islands pass (``dedup.py``
    duplicated_ngram_spans)."""
    return dedup.duplicated_ngram_spans(
        _ds(spark, sf_dir).documents, n=5, min_occurrences=2
    )


@q(
    "dedup_span_ratio",
    f"WITH {_DUPSPAN_CTE}, "
    "cover AS (SELECT doc_id, SUM(span_end - span_start) AS dup_tokens "
    "FROM spans GROUP BY doc_id), "
    "toks AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents) "
    "SELECT t.doc_id, t.n_tokens, COALESCE(c.dup_tokens, 0) AS dup_tokens, "
    "LEAST(COALESCE(c.dup_tokens, 0), t.n_tokens) * 1000000 // t.n_tokens AS dup_ppm "
    "FROM toks t LEFT JOIN cover c ON t.doc_id = c.doc_id",
)
def dedup_span_ratio(spark, sf_dir):
    """Per-doc fraction (ppm, integer-exact) of tokens inside
    duplicated spans — the drop/trim signal derived from
    dedup_dup_spans."""
    return dedup.duplicated_span_ratio(
        _ds(spark, sf_dir).documents, n=5, min_occurrences=2
    )


@q(
    "agg_salted_distinct",
    # the salted two-phase plan must return exactly the plain
    # COUNT(DISTINCT) — the oracle IS the unsalted form
    "SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct "
    "FROM events GROUP BY event_type",
)
def agg_salted_distinct(spark, sf_dir):
    from scarf_spark.operators import skew

    return skew.salted_count_distinct(
        _ds(spark, sf_dir).events, ["event_type"], "user_id", n_salts=16
    )


@q(
    "win_range_frame",
    # RANGE frame on exact epoch seconds — trailing-hour activity
    "SELECT event_id, user_id, "
    "COUNT(*) OVER w AS n_in_window, "
    "ROUND(SUM(value) OVER w, 6) AS sum_in_window "
    "FROM (SELECT event_id, user_id, value, "
    "CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec FROM events) "
    "WINDOW w AS (PARTITION BY user_id ORDER BY sec "
    "RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)",
)
def win_range_frame(spark, sf_dir):
    return windows.range_frame_agg(_ds(spark, sf_dir).events, window_seconds=3600)


@q(
    "agg_cube",
    # CUBE sibling of agg_rollup: all four grouping sets
    f"WITH {COUNTS_CTE}, "
    "j AS (SELECT c.value, cu.c_mktsegment AS segment, p.p_brand AS brand "
    "FROM counts c JOIN orders o ON c.cell_id = o.o_orderkey "
    "JOIN customer cu ON o.o_custkey = cu.c_custkey "
    "JOIN part p ON c.feat_id = p.p_partkey) "
    "SELECT COALESCE(segment, 'ALL') AS segment, COALESCE(brand, 'ALL') AS brand, "
    "CAST(SUM(value) AS DOUBLE) AS sum_value, COUNT(*) AS n "
    "FROM j GROUP BY CUBE (segment, brand)",
)
def agg_cube(spark, sf_dir):
    ds = _ds(spark, sf_dir)
    j = (
        ds.counts()
        .join(ds.orders, F.col("cell_id") == F.col("o_orderkey"))
        .join(ds.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(ds.part), F.col("feat_id") == F.col("p_partkey"))
        .select("value", F.col("c_mktsegment").alias("segment"), F.col("p_brand").alias("brand"))
    )
    return (
        j.cube("segment", "brand")
        .agg(F.sum("value").cast("double").alias("sum_value"), F.count("*").alias("n"))
        .select(
            F.coalesce("segment", F.lit("ALL")).alias("segment"),
            F.coalesce("brand", F.lit("ALL")).alias("brand"),
            "sum_value",
            "n",
        )
    )


@q(
    "text_unigram_logprob",
    "WITH words AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), "
    "x -> x != '')) AS term FROM documents), "
    "lm AS (SELECT term, COUNT(*) AS c FROM words GROUP BY term), "
    "tot AS (SELECT COUNT(*) AS _tot FROM words) "
    "SELECT doc_id, COUNT(*) AS n_tokens, "
    "ROUND(AVG(LN(c / CAST(_tot AS DOUBLE))), 6) AS mean_logprob "
    "FROM words JOIN lm ON words.term = lm.term CROSS JOIN tot "
    "GROUP BY doc_id",
)
def text_unigram_logprob(spark, sf_dir):
    return text.unigram_logprob(_ds(spark, sf_dir).documents)


# End-to-end pretraining-data prep: exact-dedup keep ∧ quality keep ∧
# benchmark-clean (4-gram), survivors packed into fixed-budget
# sequences — the full corpus-release pipeline as ONE graded query,
# composed from the individually-green stages (the text_minhash_cluster
# precedent). Every sub-CTE is the verbatim oracle of its stage.
_PIPE_SQL = (
    f"WITH {_WORDS_CTE}, {_QINT_CTE}, "
    "h AS (SELECT doc_id, "
    f"len(list_filter(ws, x -> list_contains({_DE_SW}, lower(x)))) AS h_de, "
    f"len(list_filter(ws, x -> list_contains({_EN_SW}, lower(x)))) AS h_en, "
    f"len(list_filter(ws, x -> list_contains({_FR_SW}, lower(x)))) AS h_fr FROM w), "
    "l AS (SELECT doc_id, CASE WHEN h_de >= h_en AND h_de >= h_fr THEN 'de' "
    "WHEN h_en >= h_fr THEN 'en' ELSE 'fr' END AS pred_lang FROM h), "
    "keepq AS (SELECT d.doc_id FROM documents d "
    "JOIN q ON d.doc_id = q.doc_id JOIN l ON d.doc_id = l.doc_id "
    "WHERE length(d.text) >= 200 AND l.pred_lang IN ('en', 'de') "
    "AND q.quality_ppm >= 500000), "
    "dd AS (SELECT doc_id FROM (SELECT doc_id, "
    "doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS k FROM documents) "
    "WHERE k), "
    "csh AS (SELECT DISTINCT doc_id, unnest(list_transform("
    "range(0, greatest(len(ws) - 3, 0)), "
    "i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]"
    ")) AS shingle FROM w WHERE doc_id IN "
    "(SELECT doc_id FROM documents WHERE source != 'src0')), "
    "bsh AS (SELECT DISTINCT unnest(list_transform("
    "range(0, greatest(len(ws) - 3, 0)), "
    "i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]"
    ")) AS shingle FROM w WHERE doc_id IN "
    "(SELECT doc_id FROM documents WHERE source = 'src0')), "
    "hits AS (SELECT DISTINCT csh.doc_id FROM csh JOIN bsh USING (shingle)), "
    "surv AS (SELECT d.doc_id, d.text FROM documents d "
    "JOIN dd ON d.doc_id = dd.doc_id JOIN keepq ON d.doc_id = keepq.doc_id "
    "WHERE d.source != 'src0' "
    "AND d.doc_id NOT IN (SELECT doc_id FROM hits)), "
    "pk AS (SELECT doc_id, "
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h, "
    "CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) "
    "AS n_tokens FROM surv), "
    "s AS (SELECT doc_id, n_tokens, h % 8 AS bucket, "
    "SUM(n_tokens) OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - n_tokens "
    "AS start_off FROM pk) "
    "SELECT doc_id, n_tokens, bucket, start_off // 256 AS seq_id, start_off "
    "FROM s"
)


@q("pipe_pretrain_prep", _PIPE_SQL)
def pipe_pretrain_prep(spark, sf_dir):
    """End-to-end pretraining corpus prep as one graded pipeline:
    exact-dedup keep-list ∧ composite quality admission ∧ 4-gram
    benchmark decontamination, survivors packed into 256-token
    training sequences (all four stages are the already-green
    operators, composed)."""
    from scarf_spark.operators import filters

    docs = _ds(spark, sf_dir).documents
    dd_keep = dedup.exact_dedup(docs).where("keep").select("doc_id")
    q_keep = text.quality_filter(docs).where("keep").select("doc_id")
    clean = (
        dedup.ngram_decontaminate(
            docs.where(F.col("source") != "src0"),
            docs.where(F.col("source") == "src0"),
            n=4,
        )
        .where(~F.col("contaminated"))
        .select("doc_id")
    )
    surv = (
        docs.where(F.col("source") != "src0")
        .join(dd_keep, "doc_id", "semi")
        .join(q_keep, "doc_id", "semi")
        .join(clean, "doc_id", "semi")
        .select("doc_id", "text")
    )
    return filters.pack_sequences(surv, budget=256, n_buckets=8).select(
        "doc_id", "n_tokens", "bucket", "seq_id", "start_off"
    )


@q(
    "text_bigram_logprob",
    # add-1 bigram LM: mean over doc bigrams of
    # ln((c(w1 w2)+1)/(c_left(w1)+V)); same AVG-of-logs convention as
    # the unigram query
    "WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), "
    "x -> x != '') AS ws FROM documents), "
    "bg AS (SELECT doc_id, unnest(list_transform("
    "range(0, greatest(len(ws) - 1, 0)), "
    "i -> ws[i+1] || ' ' || ws[i+2])) AS bg FROM w), "
    "bc AS (SELECT bg, COUNT(*) AS _bc FROM bg GROUP BY bg), "
    "lc AS (SELECT split_part(bg, ' ', 1) AS w1, COUNT(*) AS _lc "
    "FROM bg GROUP BY 1), "
    "v AS (SELECT COUNT(DISTINCT term) AS _v FROM "
    "(SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) "
    "AS term FROM documents)) "
    "SELECT bg.doc_id, COUNT(*) AS n_bigrams, "
    "ROUND(AVG(LN((_bc + 1.0) / (_lc + _v))), 6) AS mean_logprob "
    "FROM bg JOIN bc USING (bg) "
    "JOIN lc ON split_part(bg.bg, ' ', 1) = lc.w1 CROSS JOIN v "
    "GROUP BY bg.doc_id",
)
def text_bigram_logprob(spark, sf_dir):
    """Add-1 bigram LM perplexity proxy (text.bigram_logprob) — one
    order up from text_unigram_logprob."""
    return text.bigram_logprob(_ds(spark, sf_dir).documents)


@q(
    "text_ccnet_buckets",
    # CCNet head/middle/tail routing: per-language exact terciles of
    # the bigram-LM score (best-first); ordering on the ROUNDED score
    # with doc_id tiebreak so the cut replays exactly. The engine side
    # is windows.grouped_ntile — distributed rank arithmetic, one
    # dominant language never collapses into one sort task.
    "WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), "
    "x -> x != '') AS ws FROM documents), "
    "bg AS (SELECT doc_id, unnest(list_transform("
    "range(0, greatest(len(ws) - 1, 0)), "
    "i -> ws[i+1] || ' ' || ws[i+2])) AS bg FROM w), "
    "bc AS (SELECT bg, COUNT(*) AS _bc FROM bg GROUP BY bg), "
    "lc AS (SELECT split_part(bg, ' ', 1) AS w1, COUNT(*) AS _lc "
    "FROM bg GROUP BY 1), "
    "v AS (SELECT COUNT(DISTINCT term) AS _v FROM "
    "(SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) "
    "AS term FROM documents)), "
    "sc AS (SELECT bg.doc_id, "
    "ROUND(AVG(LN((_bc + 1.0) / (_lc + _v))), 6) AS mean_logprob "
    "FROM bg JOIN bc USING (bg) "
    "JOIN lc ON split_part(bg.bg, ' ', 1) = lc.w1 CROSS JOIN v "
    "GROUP BY bg.doc_id), "
    "j AS (SELECT sc.doc_id, d.lang, sc.mean_logprob "
    "FROM sc JOIN documents d ON sc.doc_id = d.doc_id), "
    "t AS (SELECT doc_id, lang, mean_logprob, "
    "CAST(NTILE(3) OVER (PARTITION BY lang "
    "ORDER BY -mean_logprob, doc_id) AS INT) AS bucket FROM j) "
    "SELECT doc_id, lang, mean_logprob, bucket, "
    "CASE WHEN bucket = 1 THEN 'head' WHEN bucket = 3 THEN 'tail' "
    "ELSE 'middle' END AS bucket_name FROM t",
)
def text_ccnet_buckets(spark, sf_dir):
    """CCNet per-language perplexity terciles (text.ccnet_buckets) —
    the head/middle/tail routing gate of Wenzek 2020."""
    return text.ccnet_buckets(_ds(spark, sf_dir).documents)


@q(
    "text_readability",
    # Flesch reading ease: word / sentence-run / vowel-group counts,
    # all integer, one double formula at the end (same left-to-right
    # expression on both engines), ROUND(6)
    "WITH c AS (SELECT doc_id, "
    "CAST(len(list_filter(string_split(text, ' '), x -> x != '')) "
    "AS BIGINT) AS n_words, "
    "CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) "
    "AS BIGINT) AS n_sentences, "
    "CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) "
    "AS BIGINT) AS n_syllables FROM documents) "
    "SELECT doc_id, n_words, n_sentences, n_syllables, "
    "ROUND(206.835 - 1.015 * (n_words / n_sentences) "
    "- 84.6 * (n_syllables / n_words), 6) AS flesch "
    "FROM c WHERE n_words > 0",
)
def text_readability(spark, sf_dir):
    """Flesch reading-ease quality score (text.readability) — the
    classic readability gauge next to the length/punct quality rules."""
    return text.readability(_ds(spark, sf_dir).documents)


@q(
    "text_segment_dedup",
    # CCNet-style cross-doc segment dedup: 8-word windows, doc-freq
    # over distinct (doc, segment), drop segments seen in >1 doc;
    # kept_ppm is exact integer ppm (integer division, no float)
    "WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), "
    "x -> x != '') AS ws FROM documents), "
    "seg AS (SELECT doc_id, array_to_string(ws[i*8+1 : i*8+8], ' ') AS seg "
    "FROM w, UNNEST(range(0, CAST(CEIL(len(ws) / 8.0) AS BIGINT))) AS t(i) "
    "WHERE len(ws) > 0), "
    "sdf AS (SELECT seg, COUNT(*) AS _df FROM "
    "(SELECT DISTINCT doc_id, seg FROM seg) GROUP BY seg) "
    "SELECT seg.doc_id, COUNT(*) AS n_segments, "
    "SUM(CASE WHEN _df > 1 THEN 1 ELSE 0 END) AS n_dropped, "
    "(COUNT(*) - SUM(CASE WHEN _df > 1 THEN 1 ELSE 0 END)) * 1000000 "
    "// COUNT(*) AS kept_ppm "
    "FROM seg JOIN sdf USING (seg) GROUP BY seg.doc_id",
)
def text_segment_dedup(spark, sf_dir):
    """Cross-document segment (pseudo-paragraph) dedup — the
    CCNet/RefinedWeb boilerplate-stripping pass (text.segment_dedup)."""
    return text.segment_dedup(_ds(spark, sf_dir).documents)


@q(
    "dedup_ngram_decon",
    # benchmark decontamination by exact 4-gram collision (the
    # GPT-3/PaLM eval-overlap rule); benchmark = the src0 slice
    "WITH w AS (SELECT doc_id, source, list_filter(string_split(text, ' '), "
    "x -> x != '') AS ws FROM documents), "
    "csh AS (SELECT DISTINCT doc_id, unnest(list_transform("
    "range(0, greatest(len(ws) - 3, 0)), "
    "i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]"
    ")) AS shingle FROM w WHERE source != 'src0'), "
    "bsh AS (SELECT DISTINCT unnest(list_transform("
    "range(0, greatest(len(ws) - 3, 0)), "
    "i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]"
    ")) AS shingle FROM w WHERE source = 'src0'), "
    "hits AS (SELECT csh.doc_id, COUNT(*) AS n_hits "
    "FROM csh JOIN bsh USING (shingle) GROUP BY csh.doc_id) "
    "SELECT d.doc_id, COALESCE(n_hits, 0) AS n_hits, "
    "COALESCE(n_hits, 0) > 0 AS contaminated "
    "FROM (SELECT doc_id FROM documents WHERE source != 'src0') d "
    "LEFT JOIN hits USING (doc_id)",
)
def dedup_ngram_decon(spark, sf_dir):
    """Exact n-gram benchmark decontamination
    (dedup.ngram_decontaminate) — the lexical dual of
    dedup_semantic_decon, sharing its broadcast-benchmark envelope."""
    docs = _ds(spark, sf_dir).documents
    return dedup.ngram_decontaminate(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
        n=4,
    )


# the 4 bloom probe positions of a shingle, as oracle SQL (md5 of
# "shingle:<i>", first 60 bits, mod m=16384 — the same arithmetic as
# dedup.bloom_decontaminate's JVM expressions)
_BLOOM_PROBES = ", ".join(
    f"('0x' || substr(md5(shingle || ':{i}'), 1, 15))::BIGINT % 16384"
    for i in (1, 2, 3, 4)
)


@q(
    "dedup_bloom_decon",
    # Bloom-gate decontamination: the filter is the benchmark's
    # DISTINCT probe-position table (<= 16384 rows by construction);
    # a corpus shingle is flagged iff NO probe position is missing
    "WITH w AS (SELECT doc_id, source, list_filter(string_split(text, ' '), "
    "x -> x != '') AS ws FROM documents), "
    "bsh AS (SELECT DISTINCT unnest(list_transform("
    "range(0, greatest(len(ws) - 3, 0)), "
    "i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]"
    ")) AS shingle FROM w WHERE source = 'src0'), "
    f"bpos AS (SELECT DISTINCT unnest([{_BLOOM_PROBES}]) AS pos FROM bsh), "
    "csh AS (SELECT DISTINCT doc_id, unnest(list_transform("
    "range(0, greatest(len(ws) - 3, 0)), "
    "i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]"
    ")) AS shingle FROM w WHERE source != 'src0'), "
    f"cpos AS (SELECT doc_id, shingle, unnest([{_BLOOM_PROBES}]) AS pos "
    "FROM csh), "
    "miss AS (SELECT DISTINCT doc_id, shingle FROM cpos "
    "WHERE pos NOT IN (SELECT pos FROM bpos)), "
    "nm AS (SELECT doc_id, COUNT(*) AS n_miss FROM miss GROUP BY doc_id), "
    "pd AS (SELECT doc_id, COUNT(*) AS n_shingles FROM csh GROUP BY doc_id) "
    "SELECT pd.doc_id, pd.n_shingles, "
    "CAST(pd.n_shingles - COALESCE(nm.n_miss, 0) AS BIGINT) AS n_flagged, "
    "(pd.n_shingles - COALESCE(nm.n_miss, 0)) > 0 AS flagged "
    "FROM pd LEFT JOIN nm USING (doc_id)",
)
def dedup_bloom_decon(spark, sf_dir):
    """Bloom-filter decontamination gate (dedup.bloom_decontaminate) —
    the constant-size first pass in front of the exact n-gram
    decontaminator; completes the sketch family next to KMV/HLL/CMS."""
    docs = _ds(spark, sf_dir).documents
    return dedup.bloom_decontaminate(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
        n=4,
    )


@q(
    "samp_dsir",
    # DSIR hashed-unigram importance weights: target = the src0 slice,
    # add-1 smoothing over 1024 md5 buckets, AVG-of-logs per doc
    "WITH tk AS (SELECT doc_id, source, "
    "('0x' || substr(md5(term), 1, 15))::BIGINT % 1024 AS b FROM "
    "(SELECT doc_id, source, unnest(list_filter(string_split(text, ' '), "
    "x -> x != '')) AS term FROM documents)), "
    "tc AS (SELECT b, COUNT(*) AS _tc FROM tk WHERE source = 'src0' GROUP BY b), "
    "cc AS (SELECT b, COUNT(*) AS _cc FROM tk WHERE source != 'src0' GROUP BY b), "
    "tt AS (SELECT SUM(_tc) AS _tt FROM tc), "
    "ct AS (SELECT SUM(_cc) AS _ct FROM cc) "
    "SELECT tk.doc_id, COUNT(*) AS n_tokens, "
    "ROUND(AVG(LN((COALESCE(_tc, 0) + 1.0) / (_tt + 1024.0)) "
    "- LN((_cc + 1.0) / (_ct + 1024.0))), 6) AS mean_logratio "
    "FROM tk LEFT JOIN tc USING (b) JOIN cc USING (b) "
    "CROSS JOIN tt CROSS JOIN ct "
    "WHERE tk.source != 'src0' GROUP BY tk.doc_id",
)
def samp_dsir(spark, sf_dir):
    """DSIR importance-resampling weights (filters.dsir_log_weights):
    score corpus docs against the src0 target slice."""
    from scarf_spark.operators import filters

    docs = _ds(spark, sf_dir).documents
    return filters.dsir_log_weights(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
        n_buckets=1024,
    )


@q(
    "evt_survival_km",
    # Kaplan-Meier product-limit estimator, signup -> first purchase,
    # censored at 7 days: the at-risk count and the running
    # sum-of-logs both come from ORDERED cumulative windows over the
    # per-distinct-duration aggregate (<= 10081 rows), accumulating
    # left-to-right identically on both engines
    "WITH s AS (SELECT user_id AS u, MIN(epoch_us(ts)) AS t0 FROM events "
    "WHERE event_type = 'signup' GROUP BY 1), "
    "p AS (SELECT e.user_id AS u, MIN(epoch_us(e.ts)) AS tp, MIN(s.t0) AS t0 "
    "FROM events e JOIN s ON e.user_id = s.u "
    "WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s.t0 GROUP BY 1), "
    "dur AS (SELECT s.u, "
    "LEAST(COALESCE((p.tp - p.t0) // 60000000, 10080), 10080) AS obs, "
    "(p.tp IS NOT NULL AND (p.tp - p.t0) // 60000000 <= 10080) AS evt "
    "FROM s LEFT JOIN p ON s.u = p.u), "
    "per_t AS (SELECT obs AS t_min, "
    "SUM(CASE WHEN evt THEN 1 ELSE 0 END) AS n_events, "
    "SUM(CASE WHEN evt THEN 0 ELSE 1 END) AS n_censored FROM dur GROUP BY 1), "
    "tot AS (SELECT COUNT(*) AS _n FROM dur), "
    "r AS (SELECT t_min, n_events, _n - COALESCE(SUM(n_events + n_censored) "
    "OVER (ORDER BY t_min ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), "
    "0) AS n_at_risk FROM per_t, tot), "
    "k AS (SELECT t_min, n_at_risk, n_events, "
    "EXP(SUM(LN(GREATEST(1.0 - n_events / CAST(n_at_risk AS DOUBLE), 1e-12))) "
    "OVER (ORDER BY t_min ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) "
    "AS sv FROM r) "
    "SELECT t_min, CAST(n_at_risk AS BIGINT) AS n_at_risk, "
    "CAST(n_events AS BIGINT) AS n_events, ROUND(sv, 6) AS survival "
    "FROM k WHERE n_events > 0",
)
def evt_survival_km(spark, sf_dir):
    """Kaplan-Meier time-to-purchase survival curve
    (windows.kaplan_meier) — churn/conversion with correct censoring."""
    return windows.kaplan_meier(_ds(spark, sf_dir).events)


@q(
    "evt_funnel",
    # ordered signup -> click -> purchase funnel; each stage strictly
    # after the user's previous stage
    "WITH e AS (SELECT user_id AS u, event_type AS t, epoch_us(ts) AS s FROM events), "
    "s1 AS (SELECT u, MIN(s) AS ts_i FROM e WHERE t = 'signup' GROUP BY u), "
    "s2 AS (SELECT e.u, MIN(e.s) AS ts_i FROM e JOIN s1 ON e.u = s1.u "
    "WHERE e.t = 'click' AND e.s > s1.ts_i GROUP BY e.u), "
    "s3 AS (SELECT e.u, MIN(e.s) AS ts_i FROM e JOIN s2 ON e.u = s2.u "
    "WHERE e.t = 'purchase' AND e.s > s2.ts_i GROUP BY e.u) "
    "SELECT 1 AS stage, 'signup' AS stage_name, (SELECT COUNT(*) FROM s1) AS n_users "
    "UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s2) "
    "UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)",
)
def evt_funnel(spark, sf_dir):
    return windows.funnel_stages(
        _ds(spark, sf_dir).events, ["signup", "click", "purchase"]
    )


@q(
    "evt_retention",
    "WITH e AS (SELECT user_id AS u, "
    "CAST(FLOOR(epoch_us(ts) / 604800000000) AS BIGINT) AS p FROM events), "
    "cohort AS (SELECT u, MIN(p) AS p0 FROM e GROUP BY u) "
    "SELECT cohort.p0 AS cohort, e.p - cohort.p0 AS offset, "
    "COUNT(DISTINCT e.u) AS n_users "
    "FROM e JOIN cohort ON e.u = cohort.u GROUP BY cohort.p0, e.p - cohort.p0",
)
def evt_retention(spark, sf_dir):
    return windows.cohort_retention(_ds(spark, sf_dir).events)


@q(
    "evt_rfm",
    # RFM segmentation: monetary accumulates integer micros (double
    # SUMs drift across engines, integer sums cannot); each dimension
    # is an exact NTILE(5) with the user_id tiebreak — the engine side
    # reaches the identical cut via distributed rank arithmetic
    # (windows.global_ntile), not a single-task sort
    "WITH pu AS (SELECT user_id, MAX(epoch_us(ts)) AS tmax, "
    "COUNT(*) AS frequency, "
    "SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT)) AS monetary_micros "
    "FROM events GROUP BY user_id), "
    "g AS (SELECT MAX(tmax) AS gm FROM pu), "
    "b AS (SELECT user_id, (gm - tmax) // 86400000000 AS recency_days, "
    "frequency, monetary_micros FROM pu, g), "
    "s AS (SELECT user_id, recency_days, frequency, monetary_micros, "
    "CAST(NTILE(5) OVER (ORDER BY recency_days, user_id) AS INT) AS r_score, "
    "CAST(NTILE(5) OVER (ORDER BY frequency, user_id) AS INT) AS f_score, "
    "CAST(NTILE(5) OVER (ORDER BY monetary_micros, user_id) AS INT) "
    "AS m_score FROM b) "
    "SELECT user_id, recency_days, frequency, monetary_micros, "
    "r_score, f_score, m_score, "
    "r_score * 100 + f_score * 10 + m_score AS rfm_code FROM s",
)
def evt_rfm(spark, sf_dir):
    """RFM (recency/frequency/monetary) segmentation
    (windows.rfm_segments) — the classic event-log customer rollup."""
    return windows.rfm_segments(_ds(spark, sf_dir).events)


@q(
    "evt_attribution",
    # last-touch attribution: one ignore-nulls carry-forward window
    # per user (deterministic (ts, event_id) order), revenue in exact
    # integer micros; channel -1 = purchase with no prior click
    "WITH e AS (SELECT user_id, epoch_us(ts) AS s, event_id, event_type, "
    "value, CAST(json_extract(props, '$.k') AS INT) AS k FROM events), "
    "c AS (SELECT *, LAST_VALUE(CASE WHEN event_type = 'click' THEN k END "
    "IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY s, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lk FROM e) "
    "SELECT COALESCE(((lk % 10) + 10) % 10, -1) AS channel, "
    "COUNT(*) AS n_purchases, "
    "SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT)) AS revenue_micros "
    "FROM c WHERE event_type = 'purchase' GROUP BY 1",
)
def evt_attribution(spark, sf_dir):
    """Last-touch channel attribution (windows.last_touch_attribution)
    — purchases credited to the user's most recent preceding click."""
    return windows.last_touch_attribution(_ds(spark, sf_dir).events)


@q(
    "evt_churn",
    # weekly churn/acquisition ledger: one distinct (user, period)
    # projection, new/retained/churned from ±1-period equi-joins —
    # integer period arithmetic, no windows
    "WITH act AS (SELECT DISTINCT user_id, "
    "epoch_us(ts) // 604800000000 AS p FROM events), "
    "prev AS (SELECT user_id, p + 1 AS p FROM act), "
    "actv AS (SELECT p, COUNT(*) AS n_active FROM act GROUP BY p), "
    "ret AS (SELECT a.p, COUNT(*) AS n_retained FROM act a "
    "JOIN prev ON a.user_id = prev.user_id AND a.p = prev.p GROUP BY a.p), "
    "chn AS (SELECT prev.p, COUNT(*) AS n_churned FROM prev "
    "LEFT JOIN act ON act.user_id = prev.user_id AND act.p = prev.p "
    "WHERE act.user_id IS NULL GROUP BY prev.p) "
    "SELECT actv.p AS period, n_active, "
    "COALESCE(n_retained, 0) AS n_retained, "
    "n_active - COALESCE(n_retained, 0) AS n_new, "
    "COALESCE(n_churned, 0) AS n_churned "
    "FROM actv LEFT JOIN ret ON actv.p = ret.p "
    "LEFT JOIN chn ON actv.p = chn.p",
)
def evt_churn(spark, sf_dir):
    """Weekly churn / new / retained user ledger
    (windows.churn_analysis) — the per-period complement of cohort
    retention."""
    return windows.churn_analysis(_ds(spark, sf_dir).events)


@q(
    "evt_interarrival",
    # per-type inter-arrival gap profile: lag window per (user, type),
    # exact integer micros; the MEDIAN is the distributed
    # threshold-crossing weighted median (unit weights) — the same
    # value the plain cumulative form below computes
    "WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, "
    "event_id FROM events), "
    "g AS (SELECT event_type, us - LAG(us) OVER (PARTITION BY user_id, "
    "event_type ORDER BY us, event_id) AS gap FROM e), "
    "gg AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL), "
    "base AS (SELECT event_type, COUNT(*) AS n_gaps, "
    "SUM(gap) // COUNT(*) AS mean_gap_us, MAX(gap) AS max_gap_us "
    "FROM gg GROUP BY event_type), "
    "tw AS (SELECT event_type, COUNT(*) AS w FROM gg GROUP BY event_type), "
    "vv AS (SELECT event_type, gap, COUNT(*) AS vw FROM gg "
    "GROUP BY event_type, gap), "
    "cum AS (SELECT event_type, gap, SUM(vw) OVER (PARTITION BY event_type "
    "ORDER BY gap) AS cw FROM vv), "
    "med AS (SELECT cum.event_type, MIN(gap) AS median_gap_us "
    "FROM cum JOIN tw ON cum.event_type = tw.event_type "
    "WHERE 2 * cw >= w GROUP BY cum.event_type) "
    "SELECT base.event_type, n_gaps, mean_gap_us, median_gap_us, "
    "max_gap_us FROM base JOIN med ON base.event_type = med.event_type",
)
def evt_interarrival(spark, sf_dir):
    """Inter-arrival time profile per event type
    (windows.interarrival_stats): count / integer-mean / EXACT
    distributed median / max of same-type per-user gaps in micros."""
    return windows.interarrival_stats(_ds(spark, sf_dir).events)


@q(
    "evt_pareto",
    # whale curve: activity deciles (exact distributed ntile with the
    # user_id tiebreak) and each decile's integer-ppm share of events
    "WITH pu AS (SELECT user_id, COUNT(*) AS n_events FROM events "
    "GROUP BY user_id), "
    "b AS (SELECT user_id, n_events, CAST(NTILE(10) OVER "
    "(ORDER BY n_events, user_id) AS INT) AS decile FROM pu), "
    "tot AS (SELECT SUM(n_events) AS t FROM pu) "
    "SELECT decile, COUNT(*) AS n_users, SUM(n_events) AS n_events, "
    "SUM(n_events) * 1000000 // t AS events_share_ppm "
    "FROM b, tot GROUP BY decile, t",
)
def evt_pareto(spark, sf_dir):
    """Activity concentration (whale curve) by user decile
    (windows.pareto_activity) — exact distributed ntile + integer-ppm
    shares."""
    return windows.pareto_activity(_ds(spark, sf_dir).events)


@q(
    "evt_wow",
    # week-over-week growth per type: one hash agg + one lag window
    # over the (type x week) aggregate; growth in integer ppm (both
    # engines' integer division truncates toward zero, so negative
    # growth agrees too); first observed week NULL by lag convention
    "WITH wk AS (SELECT event_type, epoch_us(ts) // 604800000000 AS period, "
    "COUNT(*) AS n_events FROM events GROUP BY 1, 2), "
    "l AS (SELECT event_type, period, n_events, LAG(n_events) OVER "
    "(PARTITION BY event_type ORDER BY period) AS prev_events FROM wk) "
    "SELECT event_type, period, n_events, prev_events, "
    "CASE WHEN prev_events IS NULL THEN NULL "
    "ELSE (n_events - prev_events) * 1000000 // prev_events END "
    "AS wow_growth_ppm FROM l",
)
def evt_wow(spark, sf_dir):
    """Week-over-week event volume growth per type
    (windows.wow_growth) — integer-ppm deltas over observed weeks."""
    return windows.wow_growth(_ds(spark, sf_dir).events)


@q(
    "win_hampel",
    # Hampel robust outlier filter: trailing-window median ± k·MAD in
    # exact integer micros — medians are array picks, the flag an
    # integer cross-multiply; no float anywhere
    "WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS us, "
    "CAST(FLOOR(value * 1000000.0) AS BIGINT) AS v FROM events), "
    "a AS (SELECT event_id, event_type, v AS v_micros, "
    "list_sort(list(v) OVER (PARTITION BY event_type ORDER BY us, event_id "
    "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr FROM e), "
    "m AS (SELECT event_id, event_type, v_micros, arr, "
    "arr[(len(arr) + 1) // 2] AS med FROM a), "
    "dv AS (SELECT event_id, event_type, v_micros, med, "
    "list_sort(list_transform(arr, x -> abs(x - med))) AS dev FROM m) "
    "SELECT event_id, event_type, v_micros, med, "
    "dev[(len(dev) + 1) // 2] AS mad, "
    "abs(v_micros - med) > 3 * dev[(len(dev) + 1) // 2] AS is_outlier "
    "FROM dv",
)
def win_hampel(spark, sf_dir):
    """Hampel outlier filter (windows.hampel_filter) — trailing
    median ± 3·MAD, the robust spike detector."""
    return windows.hampel_filter(_ds(spark, sf_dir).events, width=7, k=3)


@q(
    "evt_drawdown",
    # max drawdown per user: cumulative micros, running max, peak gap —
    # all exact integers over the deterministic (ts, event_id) order;
    # the final value is the plain total (no argmax-by-time)
    "WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, "
    "CAST(FLOOR(value * 1000000.0) AS BIGINT) AS v FROM events), "
    "c AS (SELECT user_id, us, event_id, v, SUM(v) OVER "
    "(PARTITION BY user_id ORDER BY us, event_id "
    "ROWS UNBOUNDED PRECEDING) AS cum FROM e), "
    "pk AS (SELECT user_id, v, cum, MAX(cum) OVER (PARTITION BY user_id "
    "ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS peak FROM c) "
    "SELECT user_id, CAST(SUM(v) AS BIGINT) AS final_micros, "
    "CAST(MAX(cum) AS BIGINT) AS peak_micros, "
    "CAST(MAX(peak - cum) AS BIGINT) AS max_drawdown_micros "
    "FROM pk GROUP BY user_id",
)
def evt_drawdown(spark, sf_dir):
    """Maximum drawdown of cumulative value per user
    (windows.max_drawdown) — peak-to-trough in exact integer micros."""
    return windows.max_drawdown(_ds(spark, sf_dir).events)


@q(
    "evt_welch_t",
    # Welch's unequal-variance t between two event types' values, from
    # exact sufficient statistics (integer-micro sums; DECIMAL sum of
    # squares) — one closed-form double expression per output
    "WITH side AS (SELECT (event_type = 'purchase') AS a, "
    "CAST(FLOOR(value * 1000000.0) AS BIGINT) AS v FROM events "
    "WHERE event_type IN ('purchase', 'click')), "
    "st AS (SELECT a, COUNT(*) AS n, SUM(v) AS s1, SUM(v * v) AS s2 "
    "FROM side GROUP BY a), "
    "aa AS (SELECT n AS na, CAST(s1 AS DOUBLE) AS sa, "
    "CAST(s2 AS DOUBLE) AS qa FROM st WHERE a), "
    "bb AS (SELECT n AS nb, CAST(s1 AS DOUBLE) AS sb, "
    "CAST(s2 AS DOUBLE) AS qb FROM st WHERE NOT a), "
    "m AS (SELECT na, nb, sa / na AS ma, sb / nb AS mb, "
    "(qa - na * (sa / na) * (sa / na)) / (na - 1) AS va, "
    "(qb - nb * (sb / nb) * (sb / nb)) / (nb - 1) AS vb FROM aa, bb) "
    "SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, "
    "ROUND(ma - mb, 6) AS mean_diff_micros, "
    "ROUND((ma - mb) / sqrt(va / na + vb / nb), 6) AS t_stat, "
    "ROUND((va / na + vb / nb) * (va / na + vb / nb) / "
    "((va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1)), "
    "6) AS df_ws FROM m",
)
def evt_welch_t(spark, sf_dir):
    """Welch's t between purchase and click value distributions
    (windows.welch_t_test) — the A/B readout from exact sufficient
    statistics, two rows of aggregate state at any scale."""
    return windows.welch_t_test(_ds(spark, sf_dir).events)


@q(
    "win_bollinger",
    # Bollinger outliers without a float std: |x - S/n| > k*sigma  <=>
    # (n*x - S)^2 > k^2*(n*Q - S^2), all exact integers (HUGEINT /
    # DECIMAL squares — micros^2 passes 2^63)
    "WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS us, "
    "CAST(FLOOR(value * 1000000.0) AS BIGINT) AS v FROM events), "
    "d AS (SELECT event_id, event_type, v AS v_micros, "
    "COUNT(*) OVER w AS n, SUM(v) OVER w AS s, SUM(v * v) OVER w AS q "
    "FROM e WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id "
    "ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)) "
    "SELECT event_id, event_type, v_micros, CAST(n AS BIGINT) AS window_n, "
    "(n * v_micros - s) * (n * v_micros - s) > 4 * (n * q - s * s) "
    "AS is_outlier FROM d",
)
def win_bollinger(spark, sf_dir):
    """Bollinger-band outlier flags (windows.bollinger_outliers) —
    k=2 trailing-window bands via an integer cross-multiply, no float
    std anywhere."""
    return windows.bollinger_outliers(_ds(spark, sf_dir).events, width=20, k=2)


@q(
    "evt_trend",
    # Theil-Sen robust daily-volume trend: median pairwise slope in
    # truncating integer ppm; quadratic over DAYS (calendar-bounded),
    # median via the cumulative threshold-crossing form
    "WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS d, "
    "COUNT(*) AS n FROM events GROUP BY 1, 2), "
    "sl AS (SELECT a.event_type, "
    "(b.n - a.n) * 1000000 // (b.d - a.d) AS slope_ppm "
    "FROM daily a JOIN daily b ON a.event_type = b.event_type "
    "AND b.d > a.d), "
    "tw AS (SELECT event_type, COUNT(*) AS w FROM sl GROUP BY 1), "
    "vv AS (SELECT event_type, slope_ppm, COUNT(*) AS vw FROM sl "
    "GROUP BY 1, 2), "
    "cum AS (SELECT event_type, slope_ppm, SUM(vw) OVER "
    "(PARTITION BY event_type ORDER BY slope_ppm) AS cw FROM vv), "
    "med AS (SELECT cum.event_type, MIN(slope_ppm) AS slope_ppm_per_day "
    "FROM cum JOIN tw ON cum.event_type = tw.event_type "
    "WHERE 2 * cw >= w GROUP BY 1), "
    "nd AS (SELECT event_type, COUNT(*) AS n_days FROM daily GROUP BY 1) "
    "SELECT nd.event_type, n_days, tw.w AS n_pairs, slope_ppm_per_day "
    "FROM nd JOIN tw ON nd.event_type = tw.event_type "
    "JOIN med ON nd.event_type = med.event_type",
)
def evt_trend(spark, sf_dir):
    """Theil-Sen robust trend of daily event volume per type
    (windows.theilsen_trend) — the estimator one spike day can't
    move; exact distributed median of integer-ppm slopes."""
    return windows.theilsen_trend(_ds(spark, sf_dir).events)


@q(
    "evt_concurrency",
    # peak concurrent sessions per day: the sweep line as ±1 deltas
    # over the sessionizer's islands, midnight-spanning sessions carry
    # +1 into each day they cross, running sum partitioned by day,
    # (sec, d DESC, user, session) order — all integer arithmetic
    "WITH o AS (SELECT user_id, event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) "
    "AS t FROM events), "
    "b AS (SELECT *, CASE WHEN t - LAG(t) OVER (PARTITION BY user_id "
    "ORDER BY t, event_id) > 1800 THEN 1 ELSE 0 END AS brk FROM o), "
    "s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id "
    "ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM b), "
    "ses AS (SELECT user_id, session_id, MIN(t) AS st, MAX(t) AS en "
    "FROM s GROUP BY 1, 2), "
    "del AS (SELECT st AS sec, 1 AS d, user_id, session_id FROM ses "
    "UNION ALL SELECT en + 1, -1, user_id, session_id FROM ses "
    "WHERE (en + 1) // 86400 = en // 86400 "
    "UNION ALL SELECT dd * 86400, 1, user_id, session_id FROM ses, "
    "UNNEST(range(st // 86400 + 1, en // 86400 + 1)) AS u(dd) "
    "WHERE en // 86400 > st // 86400), "
    "dd2 AS (SELECT *, sec // 86400 AS day FROM del), "
    "run AS (SELECT day, d, SUM(d) OVER (PARTITION BY day "
    "ORDER BY sec, d DESC, user_id, session_id ROWS UNBOUNDED PRECEDING) "
    "AS r FROM dd2) "
    "SELECT day, CAST(MAX(r) AS BIGINT) AS max_concurrent, "
    "CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_session_starts FROM run GROUP BY day",
)
def evt_concurrency(spark, sf_dir):
    """Peak concurrent sessions per day (windows.session_concurrency)
    — the capacity-planning sweep line over the sessionizer's
    islands."""
    return windows.session_concurrency(_ds(spark, sf_dir).events)


@q(
    "dedup_normalized",
    # fuzzy-exact dedup after C4-style normalization: lowercase, map
    # non-[a-z0-9] to SPACE (punctuation separates), squeeze space
    # runs, trim; group on the md5 of the canonical form, keep the
    # smallest id
    "WITH n AS (SELECT doc_id, md5(trim(regexp_replace(regexp_replace("
    "lower(text), '[^a-z0-9]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_md5 "
    "FROM documents) "
    "SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_dups, norm_md5 "
    "FROM n GROUP BY norm_md5",
)
def dedup_normalized(spark, sf_dir):
    """Fuzzy-exact dedup on the normalized text fingerprint
    (dedup.normalized_exact_dedup) — catches casing/punctuation
    near-dups without MinHash cost."""
    return dedup.normalized_exact_dedup(_ds(spark, sf_dir).documents)


@q(
    "agg_log_hist",
    # power-of-two histogram: bucket = binary digit count of the micros
    # value (length(bin(x)) identical in both engines — no libm log2
    # boundary), <= 64 buckets of state per group
    "WITH d AS (SELECT event_type, CAST(FLOOR(value * 1000000.0) AS BIGINT) "
    "AS v FROM events WHERE FLOOR(value * 1000000.0) > 0) "
    "SELECT event_type, CAST(length(bin(v)) AS INT) AS bucket, "
    "COUNT(*) AS n, MIN(v) AS min_micros, MAX(v) AS max_micros "
    "FROM d GROUP BY 1, 2",
)
def agg_log_hist(spark, sf_dir):
    """HdrHistogram-style power-of-two value histogram per event type
    (aggregate.log2_histogram) — constant-state long-tail profiling."""
    return aggregate.log2_histogram(_ds(spark, sf_dir).events, "event_type", "value")


@q(
    "stream_cms",
    # count-min sketch cells (the streaming build's batch twin): the
    # CMS update IS a groupBy, so the same cms_cells runs unchanged on
    # a stream as a windowless aggregation with constant d*w state
    "WITH k AS (SELECT event_type AS key FROM events), "
    "cells AS (SELECT CAST(g.r AS INT) AS r, "
    "('0x' || substr(md5(g.r || '_' || key), 1, 15))::BIGINT % 64 AS bucket "
    "FROM k, generate_series(0, 3) g(r)) "
    "SELECT r, bucket, COUNT(*) AS cnt FROM cells GROUP BY 1, 2",
)
def stream_cms(spark, sf_dir):
    """Count-min sketch build (streaming.events.cms_sketch_stream
    batch twin) — stream parity in test_streaming; the sketch state is
    the constant d·w cells at any stream volume."""
    from scarf_spark import streaming as strm

    return strm.cms_sketch_stream(_ds(spark, sf_dir).events, "event_type")


@q(
    "evt_active_users",
    # DAU/WAU/MAU, exact: each distinct (user, day) expands to the
    # <=30 trailing windows it belongs to — a constant-factor
    # equi-join, never a distinct-over-window sort
    "WITH act AS (SELECT DISTINCT user_id, "
    "epoch_us(ts) // 86400000000 AS day FROM events), "
    "days AS (SELECT DISTINCT day FROM act), "
    "dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM act GROUP BY day), "
    "w7 AS (SELECT act.user_id, act.day + o AS day FROM act, "
    "UNNEST(range(0, 7)) AS t(o)), "
    "wau AS (SELECT w7.day, COUNT(DISTINCT w7.user_id) AS wau "
    "FROM w7 JOIN days USING (day) GROUP BY w7.day), "
    "m30 AS (SELECT act.user_id, act.day + o AS day FROM act, "
    "UNNEST(range(0, 30)) AS t(o)), "
    "mau AS (SELECT m30.day, COUNT(DISTINCT m30.user_id) AS mau "
    "FROM m30 JOIN days USING (day) GROUP BY m30.day) "
    "SELECT dau.day, dau.dau, wau.wau, mau.mau "
    "FROM dau JOIN wau USING (day) JOIN mau USING (day)",
)
def evt_active_users(spark, sf_dir):
    """Exact DAU/WAU/MAU per day (windows.active_user_bands) — the
    canonical engagement rollup, offset-expansion form."""
    return windows.active_user_bands(_ds(spark, sf_dir).events)


@q(
    "evt_conversion",
    # conversion by session depth: the sessionizer's lag+cumsum island
    # assignment, purchase flag per session, exact integer ppm
    "WITH o AS (SELECT user_id, event_id, "
    "CAST(FLOOR(epoch(ts)) AS BIGINT) AS t, "
    "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS buy "
    "FROM events), "
    "b AS (SELECT *, CASE WHEN t - LAG(t) OVER "
    "(PARTITION BY user_id ORDER BY t, event_id) > 1800 "
    "THEN 1 ELSE 0 END AS brk FROM o), "
    "s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id "
    "ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM b), "
    "per AS (SELECT user_id, sid, COUNT(*) AS session_len, "
    "MAX(buy) AS conv FROM s GROUP BY 1, 2) "
    "SELECT session_len, COUNT(*) AS n_sessions, "
    "CAST(SUM(conv) AS BIGINT) AS n_converted, "
    "CAST(SUM(conv) AS BIGINT) * 1000000 // COUNT(*) AS conv_ppm "
    "FROM per GROUP BY session_len",
)
def evt_conversion(spark, sf_dir):
    """Session-depth conversion rates (windows.session_conversion) —
    the does-engagement-convert read over the sessionized event log."""
    return windows.session_conversion(_ds(spark, sf_dir).events)


@q(
    "win_rolling_median",
    # exact trailing 5-row median: the window multiset as a sorted
    # array, middle element by integer arithmetic — no interpolation,
    # bit-exact element selection on any engine
    "SELECT user_id, event_id, "
    "list_sort(l)[CAST((len(l) + 1) // 2 AS INT)] AS rolling_median "
    "FROM (SELECT user_id, event_id, list(value) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS l FROM events)",
)
def win_rolling_median(spark, sf_dir):
    """Exact trailing-window median per user (windows.rolling_median)
    — the robust twin of the centered rolling mean."""
    return windows.rolling_median(
        _ds(spark, sf_dir).events, ["user_id"], ["ts", "event_id"], "value"
    ).select("user_id", "event_id", "rolling_median")


@q(
    "evt_stage_latency",
    # funnel stage-transition latency: first-qualifying-event cascade
    # (same as evt_funnel), exact p50/p90 over integer seconds
    "WITH e AS (SELECT user_id, epoch_us(ts) // 1000000 AS t, event_type "
    "FROM events), "
    "s1 AS (SELECT user_id, MIN(t) AS t0 FROM e "
    "WHERE event_type = 'signup' GROUP BY 1), "
    "s2 AS (SELECT e.user_id, MIN(e.t) AS t1, MIN(s1.t0) AS t0b "
    "FROM e JOIN s1 USING (user_id) "
    "WHERE e.event_type = 'click' AND e.t > s1.t0 GROUP BY 1), "
    "s3 AS (SELECT e.user_id, MIN(e.t) AS t1, MIN(s2.t1) AS t0b "
    "FROM e JOIN s2 USING (user_id) "
    "WHERE e.event_type = 'purchase' AND e.t > s2.t1 GROUP BY 1) "
    "SELECT 'signup->click' AS transition, COUNT(*) AS n_users, "
    "ROUND(quantile_cont(t1 - t0b, 0.5), 6) AS p50_sec, "
    "ROUND(quantile_cont(t1 - t0b, 0.9), 6) AS p90_sec FROM s2 "
    "UNION ALL SELECT 'click->purchase', COUNT(*), "
    "ROUND(quantile_cont(t1 - t0b, 0.5), 6), "
    "ROUND(quantile_cont(t1 - t0b, 0.9), 6) FROM s3",
)
def evt_stage_latency(spark, sf_dir):
    """Funnel stage-transition latency percentiles
    (windows.stage_latency) — how long each conversion step takes."""
    return windows.stage_latency(_ds(spark, sf_dir).events)


@q(
    "win_cusum",
    # one-sided CUSUM drift detector: the recursion is a relational
    # fold — GREATEST + add replays as the same IEEE op sequence in
    # list_reduce; the 0-seed is a prepended sentinel (list_reduce has
    # no initial accumulator)
    "SELECT user_id, len(l) AS n_events, "
    "ROUND(list_reduce(list_prepend(0.0, l), "
    "(acc, x) -> GREATEST(0.0, acc + x - 50.0)), 6) AS cusum, "
    "list_reduce(list_prepend(0.0, l), "
    "(acc, x) -> GREATEST(0.0, acc + x - 50.0)) > 200.0 AS drifted "
    "FROM (SELECT user_id, list(value ORDER BY ts, event_id) AS l "
    "FROM events GROUP BY user_id)",
)
def win_cusum(spark, sf_dir):
    """Per-user CUSUM change detection (windows.cusum_final) — the
    sequential drift alarm next to win_ewma."""
    return windows.cusum_final(_ds(spark, sf_dir).events)


@q(
    "evt_cohort_ltv",
    # cohort LTV curves: integer-micros revenue, cumulative window
    # over the tiny (cohort x offset) aggregate
    "WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk, "
    "CAST(FLOOR(value * 1000000.0) AS BIGINT) AS rev FROM events), "
    "c AS (SELECT user_id, MIN(wk) AS c FROM e GROUP BY 1), "
    "j AS (SELECT c.c AS cohort_week, e.wk - c.c AS week_offset, e.rev, "
    "e.user_id FROM e JOIN c USING (user_id)), "
    "per AS (SELECT cohort_week, week_offset, "
    "COUNT(DISTINCT user_id) AS n_users, SUM(rev) AS revenue_micros "
    "FROM j GROUP BY 1, 2) "
    "SELECT cohort_week, week_offset, n_users, "
    "CAST(revenue_micros AS BIGINT) AS revenue_micros, "
    "CAST(SUM(revenue_micros) OVER (PARTITION BY cohort_week "
    "ORDER BY week_offset ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
    "AS BIGINT) AS cum_revenue_micros FROM per",
)
def evt_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value curves (windows.cohort_ltv) — the revenue
    twin of the retention matrix, exact integer micros."""
    return windows.cohort_ltv(_ds(spark, sf_dir).events)


@q(
    "evt_seasonality",
    # hour x weekday load heatmap: INTEGER epoch arithmetic for both
    # time fields (engine date functions disagree on week
    # conventions), exact integer-micros revenue
    "SELECT ((epoch_us(ts) // 3600000000) % 24) AS hour, "
    "(((epoch_us(ts) // 86400000000) + 3) % 7) AS dow, "
    "COUNT(*) AS n_events, "
    "SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT)) AS revenue_micros "
    "FROM events GROUP BY 1, 2",
)
def evt_seasonality(spark, sf_dir):
    """Hour-of-day × day-of-week profile (windows.seasonality_profile)
    — the load/seasonality heatmap behind anomaly baselines."""
    return windows.seasonality_profile(_ds(spark, sf_dir).events)


@q(
    "evt_streaks",
    # gaps-and-islands on integer epoch days: day - row_number is
    # constant along consecutive runs
    "WITH act AS (SELECT DISTINCT user_id, "
    "epoch_us(ts) // 86400000000 AS day FROM events), "
    "runs AS (SELECT user_id, day - ROW_NUMBER() OVER "
    "(PARTITION BY user_id ORDER BY day) AS grp FROM act), "
    "st AS (SELECT user_id, grp, COUNT(*) AS len FROM runs GROUP BY 1, 2) "
    "SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days, "
    "CAST(MAX(len) AS BIGINT) AS longest_streak FROM st GROUP BY user_id",
)
def evt_streaks(spark, sf_dir):
    """Longest consecutive-day streak per user
    (windows.activity_streaks) — the engagement-streak classic."""
    return windows.activity_streaks(_ds(spark, sf_dir).events)


@q(
    "text_ttr",
    # type-token ratio in exact integer ppm: one narrow projection,
    # no shuffle
    "SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens, "
    "CAST(len(list_distinct(ws)) AS BIGINT) AS n_types, "
    "CAST(len(list_distinct(ws)) AS BIGINT) * 1000000 // len(ws) AS ttr_ppm "
    "FROM (SELECT doc_id, list_filter(string_split(text, ' '), "
    "x -> x != '') AS ws FROM documents) WHERE len(ws) > 0",
)
def text_ttr(spark, sf_dir):
    """Type-token lexical diversity per doc (text.type_token_ratio) —
    the low-TTR = template/spam quality feature."""
    from scarf_spark.operators import text

    return text.type_token_ratio(_ds(spark, sf_dir).documents)


@q(
    "text_drift_terms",
    # WHICH words drive the source shift: unigram share diff between
    # src0 and the rest, ROUND(6)-stable ranking key, term tie-break,
    # TakeOrderedAndProject cut
    "WITH w AS (SELECT source, unnest(list_filter(string_split(text, ' '), "
    "x -> x != '')) AS term FROM documents), "
    "ca AS (SELECT term, COUNT(*) AS _ca FROM w WHERE source = 'src0' "
    "GROUP BY 1), "
    "cb AS (SELECT term, COUNT(*) AS _cb FROM w WHERE source != 'src0' "
    "GROUP BY 1), "
    "na AS (SELECT COUNT(*) AS n FROM w WHERE source = 'src0'), "
    "nb AS (SELECT COUNT(*) AS n FROM w WHERE source != 'src0'), "
    "j AS (SELECT COALESCE(ca.term, cb.term) AS term, "
    "COALESCE(_ca, 0) AS n_a, COALESCE(_cb, 0) AS n_b "
    "FROM ca FULL OUTER JOIN cb ON ca.term = cb.term) "
    "SELECT term, n_a, n_b, "
    "ROUND(ABS(n_a / CAST((SELECT n FROM na) AS DOUBLE) "
    "- n_b / CAST((SELECT n FROM nb) AS DOUBLE)), 6) AS share_diff "
    "FROM j ORDER BY share_diff DESC, term LIMIT 30",
)
def text_drift_terms(spark, sf_dir):
    """Top drift-driving terms between the src0 slice and the rest
    (text.drift_terms) — the interpretable companion to PSI/JS."""
    from scarf_spark.operators import text

    return text.drift_terms(_ds(spark, sf_dir).documents)


@q(
    "text_novelty",
    # per-doc n-gram novelty: share of a doc's distinct 3-grams with
    # corpus document frequency 1 — exact integer ppm, one shingle-
    # keyed df aggregate joined back
    f"WITH {_SHINGLE_CTE}, "
    "dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle) "
    "SELECT sh.doc_id, COUNT(*) AS n_shingles, "
    "CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, "
    "CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000 "
    "// COUNT(*) AS novelty_ppm "
    "FROM sh JOIN dfreq ON sh.shingle = dfreq.shingle GROUP BY sh.doc_id",
)
def text_novelty(spark, sf_dir):
    """Per-document shingle novelty (text.shingle_novelty) — the
    inverse signal of the boilerplate detector: how much of a doc no
    other doc contains."""
    from scarf_spark.operators import text

    return text.shingle_novelty(_ds(spark, sf_dir).documents, n=3)


@q(
    "text_jsd_drift",
    # Jensen-Shannon divergence src0 vs rest over the full unigram
    # vocabulary: per-term contributions ROUND(12) then summed as
    # DECIMAL(38,18) — an order-free exact sum, so the vocabulary-
    # sized accumulation cannot drift across engines
    "WITH w3 AS (SELECT (source = 'src0') AS a, "
    "unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term "
    "FROM documents), "
    "counts AS (SELECT term, "
    "CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ca, "
    "CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS cb "
    "FROM w3 GROUP BY term), "
    "tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, "
    "CAST(SUM(cb) AS BIGINT) AS nb, COUNT(*) AS n_terms FROM counts), "
    "t AS (SELECT n_terms, CAST(ROUND(("
    "CASE WHEN ca > 0 THEN (ca / CAST(na AS DOUBLE)) * "
    "LN((ca / CAST(na AS DOUBLE)) / ((ca / CAST(na AS DOUBLE) "
    "+ cb / CAST(nb AS DOUBLE)) / 2.0)) ELSE 0.0 END "
    "+ CASE WHEN cb > 0 THEN (cb / CAST(nb AS DOUBLE)) * "
    "LN((cb / CAST(nb AS DOUBLE)) / ((ca / CAST(na AS DOUBLE) "
    "+ cb / CAST(nb AS DOUBLE)) / 2.0)) ELSE 0.0 END) / 2.0, 12) "
    "AS DECIMAL(38,18)) AS t FROM counts, tot) "
    "SELECT n_terms, ROUND(CAST(SUM(t) AS DOUBLE), 6) AS jsd FROM t "
    "GROUP BY n_terms",
)
def text_jsd_drift(spark, sf_dir):
    """Jensen-Shannon unigram divergence, src0 vs rest
    (text.jsd_drift) — the bounded symmetric scalar drift monitor over
    the FULL vocabulary (no binning), made order-free by per-term
    ROUND + DECIMAL accumulation."""
    from scarf_spark.operators import text

    return text.jsd_drift(_ds(spark, sf_dir).documents)


@q(
    "win_ewma",
    # recursive EWMA as a relational fold: list_reduce replays the same
    # left-to-right IEEE op sequence as Spark's aggregate() HOF
    "SELECT user_id, len(l) AS n_events, "
    "ROUND(list_reduce(l, (acc, x) -> 0.1 * x + 0.9 * acc), 6) AS ewma "
    "FROM (SELECT user_id, list(value ORDER BY ts, event_id) AS l "
    "FROM events GROUP BY user_id)",
)
def win_ewma(spark, sf_dir):
    return windows.ewma_final(_ds(spark, sf_dir).events, alpha=0.1)


@q(
    "win_ohlc",
    # first/last defined by the (ts, event_id) total order — ties safe
    "WITH b AS (SELECT user_id, "
    "CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS bucket, "
    "value AS v, "
    "ROW_NUMBER() OVER (PARTITION BY user_id, "
    "CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) "
    "ORDER BY ts, event_id) AS ra, "
    "ROW_NUMBER() OVER (PARTITION BY user_id, "
    "CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) "
    "ORDER BY ts DESC, event_id DESC) AS rd FROM events) "
    "SELECT user_id, bucket, "
    "MAX(CASE WHEN ra = 1 THEN v END) AS open, MAX(v) AS high, "
    "MIN(v) AS low, MAX(CASE WHEN rd = 1 THEN v END) AS close, "
    "COUNT(*) AS n_events FROM b GROUP BY user_id, bucket",
)
def win_ohlc(spark, sf_dir):
    return windows.ohlc_bars(_ds(spark, sf_dir).events, bucket_seconds=86400)


@q(
    "evt_holt",
    # Holt's linear trend as a [level, trend]-LIST left fold:
    # list_reduce's first element is the seed ([y0, 0]), matching the
    # engine's aggregate() over slice(2..) with the same zero; l' is
    # recomputed inside the trend slot with the identical expression
    # text. NB: a STRUCT accumulator mis-threads state across chained
    # lambda applications in this DuckDB build (single step correct,
    # 3-element fold wrong) — the list encoding replays exactly.
    "WITH d AS (SELECT event_type, "
    "epoch_us(ts) // 86400000000 AS day, "
    "CAST(COUNT(*) AS DOUBLE) AS y FROM events GROUP BY 1, 2), "
    "ser AS (SELECT event_type, list(y ORDER BY day) AS ys FROM d "
    "GROUP BY event_type), "
    "st AS (SELECT event_type, len(ys) AS n_days, list_reduce("
    "list_transform(ys, y -> [y, CAST(0.0 AS DOUBLE)]), "
    "(acc, x) -> ["
    "0.5 * x[1] + 0.5 * (acc[1] + acc[2]), "
    "0.3 * (0.5 * x[1] + 0.5 * (acc[1] + acc[2]) - acc[1]) "
    "+ 0.7 * acc[2]]) AS s FROM ser) "
    "SELECT event_type, CAST(n_days AS BIGINT) AS n_days, "
    "ROUND(s[1], 6) AS level, ROUND(s[2], 6) AS trend, "
    "ROUND(s[1] + 7.0 * s[2], 6) AS forecast_7d FROM st",
)
def evt_holt(spark, sf_dir):
    """Holt linear-trend smoothing of daily event volumes
    (windows.holt_linear) — level + trend + 7-day forecast per type;
    the struct-state fold replays exactly in DuckDB's list_reduce."""
    return windows.holt_linear(_ds(spark, sf_dir).events)


@q(
    "evt_holt_winters",
    # additive Holt-Winters, period 7: state [t, l, b, s1..s7] as a
    # DOUBLE[] fold (struct accumulators mis-thread in DuckDB);
    # l' recomputed textually inside b' and the seasonal slot, the
    # same shapes the engine aggregates
    "WITH d AS (SELECT event_type, "
    "epoch_us(ts) // 86400000000 AS day, "
    "CAST(COUNT(*) AS DOUBLE) AS y FROM events GROUP BY 1, 2), "
    "ser AS (SELECT event_type, list(y ORDER BY day) AS ys FROM d "
    "GROUP BY event_type), "
    "st AS (SELECT event_type, len(ys) AS n_days, list_reduce("
    "list_prepend(CAST([1.0, ys[1], 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, "
    "0.0] AS DOUBLE[]), list_transform(ys[2:], y -> [y])), "
    "(acc, x) -> [acc[1] + 1.0, "
    "0.3 * (x[1] - acc[CAST(acc[1] AS INT) % 7 + 4]) + 0.7 * (acc[2] + acc[3]), "
    "0.2 * ((0.3 * (x[1] - acc[CAST(acc[1] AS INT) % 7 + 4]) + 0.7 * (acc[2] + acc[3])) - acc[2]) + 0.8 * acc[3]] "
    "|| list_transform(list_slice(acc, 4, 10), (s, j) -> "
    "CASE WHEN j - 1 = CAST(acc[1] AS INT) % 7 "
    "THEN 0.3 * (x[1] - (0.3 * (x[1] - acc[CAST(acc[1] AS INT) % 7 + 4]) + 0.7 * (acc[2] + acc[3]))) + 0.7 * s ELSE s END)) AS s FROM ser) "
    "SELECT event_type, CAST(n_days AS BIGINT) AS n_days, "
    "ROUND(s[2], 6) AS level, ROUND(s[3], 6) AS trend, "
    "ROUND(s[2] + s[3] + s[CAST(n_days AS INT) % 7 + 4], 6) AS forecast_1d, "
    "ROUND(list_max(list_slice(s, 4, 10)) - list_min(list_slice(s, 4, 10)), 6) "
    "AS seasonal_range FROM st",
)
def evt_holt_winters(spark, sf_dir):
    """Additive Holt-Winters (weekly seasonality) over daily event
    volumes (windows.holt_winters) — level/trend/1-step forecast/
    seasonal amplitude per type; the (3+7)-slot list-state fold
    replays exactly in DuckDB's list_reduce."""
    return windows.holt_winters(_ds(spark, sf_dir).events)


@q(
    "evt_acf",
    # integer-exact autocorrelation: centered products scaled by n²
    # ((n·y − S) pairs), DECIMAL sums, and a TRUE integer quotient on
    # both engines — HUGEINT `//` here, DECIMAL `div` Spark-side, both
    # truncate toward zero with no intermediate rounding (DuckDB
    # DECIMAL `/` would detour through DOUBLE and lose exactness past
    # 2^53)
    "WITH dd AS (SELECT event_type, "
    "epoch_us(ts) // 86400000000 AS day, COUNT(*) AS y "
    "FROM events GROUP BY 1, 2), "
    "tt AS (SELECT event_type, COUNT(*) AS n, SUM(y) AS s FROM dd "
    "GROUP BY event_type), "
    "cc AS (SELECT dd.event_type, dd.day, "
    "CAST(tt.n * dd.y - tt.s AS DECIMAL(38,0)) AS c, "
    "ROW_NUMBER() OVER (PARTITION BY dd.event_type ORDER BY dd.day) AS rk "
    "FROM dd JOIN tt ON dd.event_type = tt.event_type), "
    "num AS (SELECT a.event_type, l.lag, COUNT(*) AS n_pairs, "
    "SUM(a.c * b.c) AS num FROM cc a "
    "CROSS JOIN (SELECT UNNEST(range(1, 8)) AS lag) l "
    "JOIN cc b ON b.event_type = a.event_type AND b.rk = a.rk + l.lag "
    "GROUP BY 1, 2), "
    "den AS (SELECT event_type, SUM(c * c) AS den FROM cc GROUP BY 1) "
    "SELECT num.event_type, CAST(num.lag AS BIGINT) AS lag, "
    "CAST(n_pairs AS BIGINT) AS n_pairs, "
    "CASE WHEN den.den != 0 THEN CAST((CAST(num.num AS HUGEINT) * 1000000) "
    "// CAST(den.den AS HUGEINT) AS BIGINT) "
    "ELSE 0 END AS acf_ppm "
    "FROM num JOIN den ON num.event_type = den.event_type",
)
def evt_acf(spark, sf_dir):
    """Daily-volume autocorrelation at lags 1..7 (windows.volume_acf)
    — integer-exact ppm, the seasonality gauge behind the
    Holt-Winters period choice."""
    return windows.volume_acf(_ds(spark, sf_dir).events)


@q(
    "evt_markov",
    "WITH p AS (SELECT LAG(event_type) OVER (PARTITION BY user_id "
    "ORDER BY ts, event_id) AS prev_type, event_type AS next_type FROM events), "
    "m AS (SELECT prev_type, next_type, COUNT(*) AS n FROM p "
    "WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type) "
    "SELECT prev_type, next_type, n, "
    "ROUND(n / SUM(n) OVER (PARTITION BY prev_type), 6) AS prob FROM m",
)
def evt_markov(spark, sf_dir):
    return windows.event_transitions(_ds(spark, sf_dir).events)


@q(
    "evt_anomaly",
    "WITH d AS (SELECT event_type, "
    "CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS bucket, "
    "COUNT(*) AS n FROM events GROUP BY event_type, "
    "CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT)) "
    "SELECT event_type, bucket, n, "
    "ROUND(CASE WHEN STDDEV(n) OVER (PARTITION BY event_type) > 0 "
    "THEN (n - AVG(n) OVER (PARTITION BY event_type)) "
    "/ STDDEV(n) OVER (PARTITION BY event_type) ELSE 0.0 END, 6) AS z FROM d",
)
def evt_anomaly(spark, sf_dir):
    return windows.daily_anomaly(_ds(spark, sf_dir).events)


@q(
    "agg_gini",
    "WITH r AS (SELECT event_type, value AS x, "
    "ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS i "
    "FROM events), "
    "a AS (SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(i * x) AS six "
    "FROM r GROUP BY event_type) "
    "SELECT event_type, n, "
    "ROUND((2.0 * six - (n + 1) * sx) / (n * sx), 6) AS gini FROM a",
)
def agg_gini(spark, sf_dir):
    from scarf_spark.operators import aggregate

    return aggregate.gini_per_group(
        _ds(spark, sf_dir).events, "event_type", "value", "event_id"
    )


@q(
    "agg_histogram",
    "WITH mm AS (SELECT MIN(CAST(value AS DOUBLE)) AS lo, "
    "MAX(CAST(value AS DOUBLE)) AS hi FROM events) "
    "SELECT event_type, CAST(CASE WHEN hi = lo THEN 0 ELSE "
    "LEAST(FLOOR((value - lo) / ((hi - lo) / 10.0)), 9) END AS INTEGER) AS bin, "
    "COUNT(*) AS n FROM events, mm GROUP BY event_type, bin",
)
def agg_histogram(spark, sf_dir):
    from scarf_spark.operators import aggregate

    return aggregate.equiwidth_histogram(
        _ds(spark, sf_dir).events, "event_type", "value", n_bins=10
    )


@q(
    "agg_mode",
    "SELECT event_type, modal_value, n FROM ("
    "SELECT event_type, value AS modal_value, COUNT(*) AS n, "
    "ROW_NUMBER() OVER (PARTITION BY event_type "
    "ORDER BY COUNT(*) DESC, value) AS rn "
    "FROM events GROUP BY event_type, value) WHERE rn = 1",
)
def agg_mode(spark, sf_dir):
    from scarf_spark.operators import aggregate

    return aggregate.modal_value(_ds(spark, sf_dir).events, "event_type", "value")


@q(
    "agg_entropy",
    "WITH hist AS (SELECT user_id, event_type, COUNT(*) AS c FROM events "
    "GROUP BY user_id, event_type), "
    "tot AS (SELECT user_id, SUM(c) AS n FROM hist GROUP BY user_id) "
    "SELECT hist.user_id, CAST(MAX(n) AS BIGINT) AS n, "
    "ROUND(-SUM((c / CAST(n AS DOUBLE)) * LN(c / CAST(n AS DOUBLE))), 6) AS entropy "
    "FROM hist JOIN tot ON hist.user_id = tot.user_id GROUP BY hist.user_id",
)
def agg_entropy(spark, sf_dir):
    return aggregate.group_entropy(_ds(spark, sf_dir).events, "user_id", "event_type")


@q(
    "norm_size_factors",
    f"WITH {COUNTS_CTE}, "
    "geo AS (SELECT feat_id, AVG(LN(value)) AS _lg FROM counts GROUP BY feat_id), "
    "r AS (SELECT c.cell_id, c.value / EXP(_lg) AS _r "
    "FROM counts c JOIN geo ON c.feat_id = geo.feat_id) "
    "SELECT cell_id, ROUND(quantile_cont(_r, 0.5), 6) AS size_factor "
    "FROM r GROUP BY cell_id",
)
def norm_size_factors(spark, sf_dir):
    return normalize.size_factors_mor(_ds(spark, sf_dir).counts())


# Logistic-regression GD oracle: 2 unrolled full-batch steps. The dot
# product replays Spark's zip_with + left-fold order exactly
# (list_prepend 0.0 + list_reduce); gradient sums differ only in
# accumulation order, absorbed by the final ROUND.
_LR_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, 65), i -> wl[i] * x[i])), (acc, v) -> acc + v)"
)

@q(
    "ml_logreg_gd",
    "WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS x, "
    "CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END AS y FROM embeddings), "
    "n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM e), "
    "dims AS (SELECT UNNEST(range(1, 65)) AS i), "
    # step 1: w0 = 0 -> p = 0.5 for every row
    "g1 AS (SELECT i - 1 AS d, SUM((0.5 - y) * x[i]) / (SELECT cnt FROM n) AS g "
    "FROM e, dims GROUP BY i), "
    "w1 AS (SELECT d, 0.0 - 0.5 * g AS wv FROM g1), "
    "b1 AS (SELECT 0.0 - 0.5 * AVG(0.5 - y) AS bv FROM e), "
    "w1l AS (SELECT list(wv ORDER BY d) AS wl FROM w1), "
    # step 2
    "m2 AS (SELECT x, y, "
    f"{_LR_DOT} + (SELECT bv FROM b1) AS m FROM e, w1l), "
    "e2 AS (SELECT x, y, 1.0 / (1.0 + EXP(-m)) - y AS err FROM m2), "
    "g2 AS (SELECT i - 1 AS d, SUM(err * x[i]) / (SELECT cnt FROM n) AS g "
    "FROM e2, dims GROUP BY i), "
    "w2 AS (SELECT w1.d, wv - 0.5 * g AS wv FROM w1 JOIN g2 ON w1.d = g2.d), "
    "b2 AS (SELECT (SELECT bv FROM b1) - 0.5 * AVG(err) AS bv FROM e2) "
    "SELECT CAST(-1 AS INT) AS d, ROUND(bv, 6) AS w FROM b2 "
    "UNION ALL SELECT CAST(d AS INT), ROUND(wv, 6) FROM w2",
)
def ml_logreg_gd(spark, sf_dir):
    from scarf_spark.ml import supervised

    return supervised.logreg_gd(_ds(spark, sf_dir).embeddings, n_iter=2, lr=0.5)


@q(
    "ml_centroid_classify",
    "WITH e AS (SELECT vec_id AS vid, label AS y, "
    "CAST(embedding AS DOUBLE[]) AS x FROM embeddings), "
    "ex AS (SELECT vid, y, i - 1 AS d, x[i] AS xv FROM e, "
    "(SELECT UNNEST(range(1, 65)) AS i) dims), "
    "cent AS (SELECT y AS cl, d, SUM(xv) / COUNT(*) AS cv FROM ex GROUP BY y, d), "
    "dist AS (SELECT vid, y, cl, SUM((xv - cv) * (xv - cv)) AS d2 "
    "FROM ex JOIN cent ON ex.d = cent.d GROUP BY vid, y, cl), "
    "pred AS (SELECT vid, y, cl AS pred FROM "
    "(SELECT *, ROW_NUMBER() OVER (PARTITION BY vid, y ORDER BY d2, cl) AS rn "
    "FROM dist) WHERE rn = 1) "
    "SELECT y AS true_label, pred AS pred_label, COUNT(*) AS n "
    "FROM pred GROUP BY y, pred",
)
def ml_centroid_classify(spark, sf_dir):
    from scarf_spark.ml import supervised

    return supervised.centroid_classify(_ds(spark, sf_dir).embeddings)


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship phase-0 spine (SURVEY.md §7): ingest → QC → filter_cells →
    normalize → pseudo-bulk means per (segment, brand)."""
    sf_dir = "/root/testdata/sf0.001"
    ds = DataStore(spark, sf_dir)
    counts = ds.counts()
    cells = ds.cell_table().join(qc.cell_qc(counts), "cell_id", "left_outer")
    cells = filters.filter_cells(cells, F.col("n_counts") > 0)
    valid = cells.where("I").select("cell_id", "custkey")
    normed = normalize.norm_lib_size(counts, sf=1000.0, log=True)
    seg = ds.customer.select(
        F.col("c_custkey").alias("custkey"), F.col("c_mktsegment").alias("segment")
    )
    brand = ds.feat_table().select("feat_id", "brand")
    return (
        normed.join(valid, "cell_id")
        .join(F.broadcast(seg), "custkey")
        .join(F.broadcast(brand), "feat_id")
        .groupBy("segment", "brand")
        .agg(F.round(F.avg("norm_value"), 6).alias("mean_norm"),
             F.count("*").alias("n_obs"))
    )


def _unsign_zero(fn: Callable[[SparkSession, str], DataFrame]):
    """Wrap a query so every float column gets ``+ 0.0`` appended.

    IEEE identity except ``-0.0 + 0.0 = +0.0``: DuckDB's ROUND yields
    ``-0.0`` for tiny negatives where Spark yields ``+0.0``, and the
    driver's value-hash is byte-level, so signed zeros must be
    normalized on BOTH sides (see the matching oracle wrapper below)."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql.types import DoubleType, FloatType

        df = fn(spark, sf_dir)
        cols = [
            (F.col(f.name) + F.lit(0.0)).alias(f.name)
            if isinstance(f.dataType, (DoubleType, FloatType))
            else F.col(f.name)
            for f in df.schema.fields
        ]
        return df.select(*cols)

    return wrapped


# The driver's correctness gate evaluates a 50-query prefix of
# ``queries()`` in dict order. The window ROTATES per round: rounds
# 1-9 hash-verified 264 of the registered queries
# (CORRECTNESS_r0{1,3..9}), leaving exactly the 42 listed first below
# never driver-graded (all 42 judge-verified selfcheck-exact in the
# r9 session). The round-10 window = those 42 + this round's new /
# engine-swapped queries + two r1 sentinels — after it, every
# registered query has been driver-graded at least once. Every query
# regardless of window position is still verified by
# tools/selfcheck.py (all-queries local mirror) and the test suite.
_PRIORITY = [
    # round-16 window (optimization round 2). First the queries whose
    # ENGINE changed this round, so the driver grades the code that
    # will run: gmm_diag went collect-then-literal (zero per-iteration
    # shuffles), harmony_lite lost its batch self-join and moved to
    # layered SQL-string expressions, harmonic_potential batches two
    # Richardson rounds per action, and the reduction family derives
    # d from the actual feature list behind the new zscore_gram
    # cancellation guard:
    "ml_gmm_resp", "ml_harmony", "ml_pseudotime_power",
    "ml_pca_project", "ml_mahalanobis", "norm_zca_whiten",
    "pipe_atlas_prep", "ml_lsi",
    # the four r15 shape-hint consumers the r15 verdict ordered into
    # this window (item 5) — grid hints are output-neutral by the
    # top-(k+1) ⊇ top-k argument, but hint-carrying paths get driver
    # grades, not just selfcheck:
    "knn_exact_sharded", "knn_cross_sharded", "pipe_text_ann",
    "src_zarr_blosc",
    # freshness rotation: the 20 queued r8-latest rows (verdict item 5;
    # after this round nothing in the ledger is older than r9):
    "samp_mixture", "samp_pack_sequences", "samp_weighted",
    "sketch_cms", "sketch_hll", "sort_zorder", "sql_q10", "sql_q17",
    "sql_q18", "stream_enrich", "stream_join_attrib",
    "stream_sessionize", "text_bpe_train", "text_hashing_tf",
    "text_langid_confusion", "text_repetition", "text_zipf_fit",
    "win_ntile_bins", "win_percentile", "win_rolling_mean",
    # engine-touched late in the round: lsh_recall's truth side is now
    # materialized once (lazy localCheckpoint) instead of recomputed
    # under both output branches — touched code gets the driver grade
    # (it displaced ml_conformal, the last alphabetical stale row,
    # which queues for r17 with the rest of the r9 cohort):
    "dedup_lsh_recall",
    # remaining slots: the first 17 of the 43 r9-latest rows
    # (alphabetical) — the next-oldest cohort; the rest queue for r17+.
    # Every row here has been selfcheck-exact at every sweep since its
    # last grade.
    "dedup_bloom_decon", "dedup_ngram_decon", "evt_active_users",
    "evt_attribution", "evt_cohort_ltv", "evt_conversion", "evt_rfm",
    "evt_stage_latency", "evt_survival_km", "graph_adamic_adar",
    "graph_assortativity", "graph_clustering_coeff",
    "graph_degree_hist", "graph_eigencentrality", "graph_reciprocity",
    "knn_purity", "ml_calibration",
]


def _ordered(names: dict) -> list[str]:
    return [n for n in _PRIORITY if n in names] + [
        n for n in names if n not in _PRIORITY
    ]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _unsign_zero(_QUERIES[name]) for name in _ordered(_QUERIES)}


_ORACLE_SQL_CACHE: dict[str, str] | None = None


def oracle_sql() -> dict[str, str]:
    """Oracle SQL with the same signed-zero normalization as queries():
    each statement is wrapped in a projection adding ``+ 0`` to every
    DOUBLE/FLOAT column (schema discovered via DuckDB DESCRIBE, which
    plans but does not execute).

    The same pass also auto-casts every HUGEINT column to BIGINT:
    DuckDB widens ``SUM(integer)`` to int128 while Spark stays int64,
    and the driver's value-hash is serialization-sensitive, so equal
    values still hash-mismatch (all six CORRECTNESS_r06 reds were this
    one bug). Casting in the wrapper kills the class for every current
    and future oracle."""
    global _ORACLE_SQL_CACHE
    if _ORACLE_SQL_CACHE is not None:
        return dict(_ORACLE_SQL_CACHE)
    import duckdb

    con = duckdb.connect()
    sf_dir = "/root/testdata/sf0.01"
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out = {}
    for name, sql in _ORACLES.items():
        try:
            desc = con.execute(f"DESCRIBE {sql}").fetchall()
            cols = [
                f'"{c}" + 0 AS "{c}"' if t.upper() in ("DOUBLE", "FLOAT", "REAL")
                else f'CAST("{c}" AS BIGINT) AS "{c}"'
                if t.upper() in ("HUGEINT", "UHUGEINT", "UBIGINT")
                else f'"{c}"'
                for c, t, *_ in desc
            ]
            out[name] = f"SELECT {', '.join(cols)} FROM ({sql}) __q"
        except Exception:
            out[name] = sql
    _ORACLE_SQL_CACHE = out
    return dict(out)

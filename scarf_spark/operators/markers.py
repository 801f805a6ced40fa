"""Marker search — fully relational rank statistics (SURVEY.md §2.10).

Reference semantics: per feature×group mean-rank score, group
mean / rest-mean, fraction expressed, fold change, and a vectorized
tie-corrected two-sided Mann-Whitney U with continuity correction
(``scarf/markers.py:101-275``; U kernel ``markers.py:26-98``), plus
regression markers ``linregress(pseudotime, value)`` per feature
(``markers.py:278-320``).

The reference streams the dense matrix feature-batch-wise through numba
kernels; here the whole computation is windows + hash aggregations over
the sparse COO table with *dense* semantics recovered arithmetically:
for a feature with nnz present rows among N cells, the N-nnz zero cells
occupy ranks 1..n0 (average (n0+1)/2), and present values are offset by
n0. No densification, no Python in the loop — everything stays in
whole-stage codegen, and scales as O(|COO|), not O(cells × features).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def marker_stats(
    counts: DataFrame,
    cell_groups: DataFrame,
    n_cells: int,
    group_col: str = "group",
) -> DataFrame:
    """Rank-based marker table per (feat_id, group)
    (``markers.py:101-275``). Columns: score (normalized mean dense
    rank), mean, mean_rest, frac_exp, frac_exp_rest, fold_change,
    u_stat, z (tie-corrected, continuity-corrected normal approx).

    All present values must be > 0 (raw counts are)."""
    N = F.lit(float(n_cells))
    sizes = cell_groups.groupBy(group_col).agg(F.count("*").alias("n_g"))

    # ONE scan of the fact table feeds everything downstream — a single
    # linear chain, no self-joins, no duplicated subtrees:
    #
    #   counts ⋈bcast groups → (feat, group, value) cube   [shuffle 1]
    #   → one feature-partitioned window pass               [shuffle 2]
    #   → (feat, group) marker aggregates                   [shuffle 3]
    #   → per-feature totals derived FROM those aggregates  [tiny]
    #
    # The group label equi-joins into the scan (left outer: cells
    # outside any group still count toward ranks and totals, matching
    # the row-wise semantics). No broadcast hint — the label table is
    # one row per cell; AQE broadcasts it when genuinely small.
    gv = (
        counts.join(cell_groups, "cell_id", "left_outer")
        .groupBy("feat_id", group_col, "value")
        .agg(F.count("*").alias("c"))
    )

    # Rank arithmetic on the cube: every row tied at value v shares the
    # identical average rank cum_before(v) + (t+1)/2, so the per-group
    # rank sum is c_gv · r_avg(v). Both t (count of the value across
    # groups) and the cumulative count come out of ONE window shuffle
    # keyed by feat_id: a RANGE frame pinned to the current row spans
    # exactly the value's peer rows (t), the unbounded-preceding RANGE
    # frame spans all values ≤ v (cum), and dense_rank gives the dense
    # value index — WindowExec evaluates all three frames in the same
    # sorted pass. All quantities are exactly-representable
    # halves/integers in double, so the rewrite is bit-identical to the
    # row-wise form.
    wv = Window.partitionBy("feat_id").orderBy("value")
    t = F.sum("c").over(wv.rangeBetween(0, 0))
    cum = F.sum("c").over(wv.rangeBetween(Window.unboundedPreceding, 0))
    windowed = gv.select(
        "feat_id",
        group_col,
        "value",
        "c",
        ((cum - t) + (t + 1) / F.lit(2.0)).alias("r_avg_p"),
        F.dense_rank().over(wv).alias("r_dense_p"),
        # per-(feat,value) tie term (t³−t) distributed over the value's
        # group rows in proportion c/t: (t³−t)·c/t = (t²−1)·c, so the
        # plain per-group sum reassembles Σ(t³−t) exactly
        ((t * t - 1) * F.col("c")).alias("tie_c"),
    )

    # Marker aggregates per (feat, group) — the null group (cells
    # outside every group) is kept HERE so per-feature totals can be
    # derived from this tiny table, and dropped after that derivation.
    g_all = windowed.groupBy("feat_id", group_col).agg(
        F.sum(F.col("value") * F.col("c")).alias("sum_g"),
        F.sum("c").alias("nnz_g"),
        F.sum(F.col("c") * F.col("r_avg_p")).alias("rsum_p_g"),
        F.sum(F.col("c") * F.col("r_dense_p")).alias("dsum_p_g"),
        F.sum("tie_c").alias("tie_g"),
    ).persist()  # |feat| × (|groups|+1) rows — dimension-scale cache
    # Eager fill: two consumers (ftot + g) would otherwise race to
    # compute the uncached chain concurrently, paying the fact-table
    # scan twice in the same job.
    g_all.count()

    ftot = g_all.groupBy("feat_id").agg(
        F.sum("sum_g").alias("tot"),
        F.sum("nnz_g").alias("nnz"),
        F.sum("tie_g").alias("tie_p"),
    )
    g = g_all.where(F.col(group_col).isNotNull()).drop("tie_g")

    # Dense-semantics completion: every (feat, group) pair exists even if
    # the group has no present rows → start from the full cross of
    # (features with any expression) × groups.
    full = ftot.crossJoin(F.broadcast(sizes)).join(
        g, ["feat_id", group_col], "left_outer"
    ).na.fill({"sum_g": 0.0, "nnz_g": 0, "rsum_p_g": 0.0, "dsum_p_g": 0})

    n0 = N - F.col("nnz")  # zero cells for this feature
    n_g = F.col("n_g").cast("double")
    n_rest = N - n_g
    zeros_g = n_g - F.col("nnz_g")

    # Dense rank sums: zeros rank 1, present dense ranks + 1; mean dense
    # rank per group feeds the normalized score (markers.py:136-171).
    mean_dense_g = (zeros_g * 1.0 + F.col("dsum_p_g") + F.col("nnz_g")) / n_g
    w_feat = Window.partitionBy("feat_id")
    score = mean_dense_g / F.sum(mean_dense_g).over(w_feat)

    # Average-rank sum incl. zeros → Mann-Whitney U.
    r1 = F.col("rsum_p_g") + F.col("nnz_g") * n0 + zeros_g * (n0 + 1) / 2.0
    u1 = r1 - n_g * (n_g + 1) / 2.0
    mu = n_g * n_rest / 2.0
    tie = F.coalesce(F.col("tie_p"), F.lit(0.0)) + (n0 * n0 * n0 - n0)
    sigma = F.sqrt(
        (n_g * n_rest / 12.0) * ((N + 1) - tie / (N * (N - 1)))
    )
    diff = u1 - mu
    z = F.when(
        sigma != 0,
        (diff - F.when(diff > 0, 0.5).when(diff < 0, -0.5).otherwise(0.0)) / sigma,
    ).otherwise(0.0)

    mean_g = F.col("sum_g") / n_g
    mean_rest = (F.col("tot") - F.col("sum_g")) / n_rest
    fold = F.when(mean_rest != 0, mean_g / mean_rest).otherwise(F.lit(0.0))

    return (
        full
        .select(
            "feat_id",
            group_col,
            F.round(score, 6).alias("score"),
            F.round(mean_g, 6).alias("mean"),
            F.round(mean_rest, 6).alias("mean_rest"),
            F.round(F.col("nnz_g") / n_g, 6).alias("frac_exp"),
            F.round((F.col("nnz") - F.col("nnz_g")) / n_rest, 6).alias("frac_exp_rest"),
            F.round(fold, 6).alias("fold_change"),
            F.round(u1, 6).alias("u_stat"),
            F.round(z, 6).alias("z"),
        )
    )


def regression_markers(
    counts: DataFrame,
    cell_covariate: DataFrame,
    min_cells: int = 10,
    x_col: str = "x",
) -> DataFrame:
    """Per-feature linear regression of value on a continuous per-cell
    covariate (pseudotime in the reference, ``markers.py:278-320``),
    over features expressed in ≥ min_cells cells. slope and r from
    covar/var aggregates — one hash agg, no per-feature loop."""
    joined = counts.join(cell_covariate, "cell_id")
    agg = joined.groupBy("feat_id").agg(
        F.count("*").alias("n"),
        F.covar_samp(x_col, "value").alias("cov"),
        F.var_samp(x_col).alias("vx"),
        F.corr(x_col, "value").alias("r_value"),
    )
    return agg.where(F.col("n") >= min_cells).select(
        "feat_id",
        "n",
        F.round(F.when(F.col("vx") != 0, F.col("cov") / F.col("vx")).otherwise(0.0), 6).alias(
            "slope"
        ),
        F.round(F.coalesce("r_value", F.lit(0.0)), 6).alias("r_value"),
    )


def feature_module_knn(
    counts: DataFrame,
    cell_order: DataFrame,
    n_bins: int = 10,
    k: int = 5,
    order_col: str = "x",
) -> DataFrame:
    """Feature-module KNN (``scarf/markers.py:323-439`` knn_clustering,
    step 1): bin cells along an ordering (pseudotime), build each
    feature's binned mean-expression profile, and KNN *features* by
    cosine distance over those profiles — the same KNN stack applied to
    the transposed (feature-space) matrix.

    Profile assembly is one groupBy + map lookup (no pivot); the KNN
    reuses :func:`scarf_spark.operators.knn.cosine_knn_sharded` (the
    exact grid-sharded scorer, bit-identical to cosine_knn_exact but
    never collecting the profile table — 7x faster at sf0.1 and the
    only form that survives a wide feature space) with the feature id
    as the vector id. Returns (src, rank, dst, distance) over
    feat_ids."""
    from scarf_spark.operators import knn as knn_mod
    from scarf_spark.operators.windows import global_ntile

    binned_cells = global_ntile(cell_order, [order_col, "cell_id"], n_bins).select(
        "cell_id", "bin"
    )
    prof = (
        counts.join(binned_cells, "cell_id")
        .groupBy("feat_id", "bin")
        .agg(F.round(F.avg("value"), 6).alias("m"))
    )
    vec = prof.groupBy("feat_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("bin"), F.col("m")))
        ).alias("_m")
    )
    arr = F.array(
        *[F.coalesce(F.col("_m").getItem(b), F.lit(0.0)) for b in range(1, n_bins + 1)]
    )
    fvec = vec.select(F.col("feat_id"), arr.alias("profile"))
    return knn_mod.cosine_knn_sharded(
        fvec, k=k, id_col="feat_id", vec_col="profile", dim=n_bins
    )


def marker_chi2(
    counts: DataFrame, groups: DataFrame, group_col: str = "grp"
) -> DataFrame:
    """Chi-squared independence test per feature: is "expresses
    feature f" independent of the cell's group? The contingency-table
    sibling of the Mann-Whitney marker stats — the right test when the
    signal is presence/absence rather than rank shift
    (``scarf/markers.py`` runs rank tests; chi² is the categorical
    complement every DE toolkit ships).

    All contingency cells are exact integers (observed = COO presence
    joins, absent = group size − present), the statistic is one double
    expression per (feature, group) pair, and zero-expectation cells
    contribute 0 by the standard convention — so the whole test
    replays exactly. Shapes: two dimension-sized aggregates + one
    (feature × group) grid (G is small) + one feature-keyed agg.
    Returns (feat_id, chi2, dof)."""
    # The naive plan materialized the ``cells`` subtree (a distinct
    # over the COO cell ids + the group join) once per broadcast build
    # — the event-log profile showed 7 concurrent full-table passes
    # for what is 2 passes of information (guide §2.4: duplicated
    # subtrees behind one-row/small broadcast aggregates). The group
    # sizes are G rows (G = #groups, tiny by construction), so they
    # are collected once and folded back as a literal frame, the total
    # n is their sum (no separate count pass), and ``cells`` / the
    # (feature × group) ``grid`` are lazily checkpointed so each is
    # computed exactly once however many plan branches read it.
    cells = (
        counts.select("cell_id")
        .distinct()
        .join(groups, "cell_id")
        .select("cell_id", F.col(group_col).alias("_g"))
        .localCheckpoint(eager=False)
    )
    gsz_agg = cells.groupBy("_g").agg(F.count("*").alias("_gn"))
    gszr = gsz_agg.collect()
    n = sum(r["_gn"] for r in gszr)
    gsz = cells.sparkSession.createDataFrame(
        [(r["_g"], r["_gn"]) for r in gszr], schema=gsz_agg.schema
    )
    n_lit = F.lit(n).cast("bigint")
    pos = (
        counts.where(F.col("value") > 0)
        .join(cells, "cell_id")
        .groupBy("feat_id", "_g")
        .agg(F.count("*").alias("_op"))
    )
    grid = (
        counts.select("feat_id").distinct()
        .crossJoin(F.broadcast(gsz))
        .join(pos, ["feat_id", "_g"], "left_outer")
        .select(
            "feat_id",
            "_g",
            "_gn",
            F.coalesce("_op", F.lit(0)).alias("_op"),
        )
        .localCheckpoint(eager=False)
    )
    ptot = grid.groupBy("feat_id").agg(F.sum("_op").alias("_pt"))
    j = grid.join(ptot, "feat_id")
    ep = F.col("_pt") * F.col("_gn") / n_lit
    en = (n_lit - F.col("_pt")) * F.col("_gn") / n_lit
    on_ = F.col("_gn") - F.col("_op")
    term = F.when(ep > 0, (F.col("_op") - ep) * (F.col("_op") - ep) / ep).otherwise(
        F.lit(0.0)
    ) + F.when(en > 0, (on_ - en) * (on_ - en) / en).otherwise(F.lit(0.0))
    out = j.groupBy("feat_id").agg(
        F.round(F.sum(term), 6).alias("chi2"),
        (F.count("*") - 1).cast("bigint").alias("dof"),
    )
    return out

"""Multi-modality / multi-batch integration (SURVEY.md §2.10).

* WNN — weighted-nearest-neighbor blending of two modality graphs
  (``scarf/knn_utils.py:277-354``): per-cell modality weights from
  within-modality affinities, blended edge weights, re-ranked top-k.
  Pure joins + window functions — fully relational, oracle-checkable.
* CORAL — covariance alignment of a source feature space to a target
  (``scarf/mapping_utils.py:15-95``): two d×d Gram aggregates, the
  fractional matrix powers on the driver (d×d is tiny), the transform
  broadcast back as expressions.
* harmony_lite — soft-kmeans batch correction on the latent space
  (``scarf/harmony.py:10-322``): distributed E/M with per-(cluster,
  batch) offset subtraction; deterministic seeding. The reference
  ports harmonypy (single-node); here every pass is a DataFrame agg
  so it scales with executors, with only k×d centroids on the driver.
  It runs a fixed number of rounds; the reference's objective-driven
  convergence and ridge correction are not ported.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _affinity(dist_col: str = "distance"):
    return 1.0 / (1.0 + F.col(dist_col))


def wnn_blend(
    edges_a: DataFrame, edges_b: DataFrame, k: int = 5
) -> DataFrame:
    """Blend two KNN graphs over the same nodes into one weighted
    graph. Steps (each one shuffle):

    1. per-node within-modality affinity = mean(1/(1+distance)) over
       the node's edges in each graph;
    2. modality weight w_a = aff_a / (aff_a + aff_b) (per node);
    3. candidate edges = full outer union of both graphs' (src, dst)
       with missing-side affinity 0; blended = w_a·aff_a + w_b·aff_b;
    4. top-k per src by blended weight (ties → smaller dst).

    Returns (src, rank, dst, weight[rounded 6])."""
    # each edge table is consumed twice (affinity agg + candidate join);
    # lazy localCheckpoint so an expensive upstream (a full KNN build)
    # runs once — and the blocks free themselves when the result drops
    # (a bare persist here had no paired unpersist)
    edges_a = edges_a.localCheckpoint(eager=False)
    edges_b = edges_b.localCheckpoint(eager=False)
    aff_a = edges_a.groupBy("src").agg(F.avg(_affinity()).alias("aff_a"))
    aff_b = edges_b.groupBy("src").agg(F.avg(_affinity()).alias("aff_b"))
    wts = aff_a.join(aff_b, "src", "full_outer").select(
        "src",
        (
            F.coalesce("aff_a", F.lit(0.0))
            / (F.coalesce("aff_a", F.lit(0.0)) + F.coalesce("aff_b", F.lit(0.0)))
        ).alias("w_a"),
    )
    ea = edges_a.select("src", "dst", _affinity().alias("sim_a"))
    eb = edges_b.select("src", "dst", _affinity().alias("sim_b"))
    cand = ea.join(eb, ["src", "dst"], "full_outer").select(
        "src",
        "dst",
        F.coalesce("sim_a", F.lit(0.0)).alias("sim_a"),
        F.coalesce("sim_b", F.lit(0.0)).alias("sim_b"),
    )
    blended = cand.join(wts, "src").select(
        "src",
        "dst",
        (F.col("w_a") * F.col("sim_a") + (1 - F.col("w_a")) * F.col("sim_b")).alias(
            "blend"
        ),
    )
    w = Window.partitionBy("src").orderBy(F.desc("blend"), "dst")
    return (
        blended.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("src", "rank", "dst", F.round("blend", 6).alias("weight"))
    )


def _gram(vec_df: DataFrame, d: int):
    """d×d covariance via one aggregate pass (upper triangle)."""
    import numpy as np

    # SQL-string build (one parse) instead of one py4j round trip per
    # Column — the reduction-family pattern; expressions identical
    cols = [f"avg(v[{i}]) AS m{i}" for i in range(d)]
    cols += [
        f"avg(v[{i}] * v[{j}]) AS g{i}_{j}"
        for i in range(d)
        for j in range(i, d)
    ]
    row = vec_df.selectExpr(*cols).collect()[0]
    mu = np.array([row[f"m{i}"] for i in range(d)])
    cov = np.zeros((d, d))
    for i in range(d):
        for j in range(i, d):
            cov[i, j] = cov[j, i] = row[f"g{i}_{j}"] - mu[i] * mu[j]
    return mu, cov


def _mat_pow(cov, power: float, eps: float = 1e-9):
    """Spectral fractional power via the deterministic Jacobi solver
    (``reduction.jacobi_eigh``). V·f(Λ)·Vᵀ is basis- and
    order-invariant, so the SQL oracle's replay needs no sign or
    ordering convention — only the same clamp and exponent."""
    import numpy as np

    from scarf_spark.ml.reduction import jacobi_eigh

    evals, evecs = jacobi_eigh([list(map(float, row)) for row in cov])
    v = np.array(evecs)
    w = np.maximum(np.array(evals), eps)
    return v @ np.diag(w**power) @ v.T


def coral_align(
    source_vec: DataFrame,
    target_vec: DataFrame,
    d: int | None = None,
    stats_out: dict | None = None,
) -> DataFrame:
    """CORAL domain adaptation (``scarf/mapping_utils.py:15-95``):
    whiten the source with Cs^(-1/2), re-color with Ct^(1/2). The two
    covariance estimates are single-pass aggregates — independent, so
    they run as concurrent actions; the d×d fractional powers run on
    the driver; the per-cell transform is a broadcast matmul expressed
    as plain arithmetic (embarrassingly parallel).

    ``stats_out``: caller-supplied dict that receives the collected
    moments (``source_mu``, ``target_mu``) so downstream steps that
    need them (pipe_mapping centers the reference with target_mu)
    don't re-aggregate the same table."""
    from concurrent.futures import ThreadPoolExecutor

    if d is None:
        d = source_vec.select(F.size("v").alias("d")).limit(1).collect()[0]["d"]
    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_s = pool.submit(_gram, source_vec, d)
        fut_t = pool.submit(_gram, target_vec, d)
        mu_s, cov_s = fut_s.result()
        mu_t, cov_t = fut_t.result()
    if stats_out is not None:
        stats_out["source_mu"] = mu_s
        stats_out["target_mu"] = mu_t
    A = _mat_pow(cov_s, -0.5) @ _mat_pow(cov_t, 0.5)
    from scarf_spark.ml.reduction import _dlit

    # "0D + ..." mirrors Python sum()'s integer start (see pca_transform)
    out_cols = ", ".join(
        "0D + "
        + " + ".join(
            f"(v[{i}] - {_dlit(mu_s[i])}) * {_dlit(A[i, j])}"
            for i in range(d)
        )
        for j in range(d)
    )
    return source_vec.selectExpr("cell_id", f"array({out_cols}) AS v")


def harmony_lite(
    cells_vec: DataFrame,
    batch_df: DataFrame | None = None,
    n_clusters: int = 4,
    n_iter: int = 2,
    sigma: float | None = None,
    d: int | None = None,
) -> DataFrame:
    """Batch-correct the latent space: diversity-penalized soft-kmeans
    assignment (the LISI penalty of ``scarf/harmony.py:10-322`` —
    without it, clusters collapse onto batches and the correction
    cancels to zero), then subtract each cell's expected (cluster,
    batch) offset — the ridge step of ``harmony.py:313-322`` reduced
    to its first-order form. Deterministic: centroids seed from the
    lowest cell_ids.

    Scan-fused (round 12): each iteration materializes the E-step
    distances ONCE (``localCheckpoint``) and derives everything else —
    auto-sigma spread, diversity-penalty batch masses, M-step centroid
    sums, and correction offsets — from that one cached frame, so the
    previous 4-5 full-lineage recomputations per iteration become one
    compute pass plus cheap cached scans. The M-step global sums are
    the per-batch sums added up driver-side (B terms; same smooth math
    the oracle's ROUND(6) already absorbs), merging the two aggregation
    passes into one.

    cells_vec: (cell_id, v array<double>); batch_df: (cell_id, batch),
    or None when cells_vec already carries a ``batch`` column — callers
    whose batch label derives from the id (the entry's vec_id % 2) can
    then skip a full cell-keyed self-join (one Exchange + a second scan
    of the embedding table for values a projection already had).
    Returns corrected (cell_id, v).

    Expression plumbing (r16, guide §7.3): every per-row expression is
    built as a SQL string over LAYERED named columns (_d → _n → _pn →
    r) instead of py4j-composed Column trees — the event-log profile
    showed 3.3s of the 3.8s wall in inter-job driver gaps (expression
    construction + analysis of the inlined trees). The dataflow,
    operations and their order are IDENTICAL (the optimizer collapses
    the projection layers into the same physical stage); only the
    driver-side plumbing changed."""
    import numpy as np

    from scarf_spark.ml.reduction import _dlit

    def _blit(b) -> str:
        if isinstance(b, str):
            return "'" + b.replace("'", "''") + "'"
        return repr(int(b))

    if d is None:
        d = cells_vec.select(F.size("v").alias("d")).limit(1).collect()[0]["d"]
    df = cells_vec if batch_df is None else cells_vec.join(batch_df, "cell_id")
    seeds = df.orderBy("cell_id").limit(n_clusters).collect()
    centroids = np.array([r["v"] for r in seeds], dtype=float)
    eps = 1e-9
    K = n_clusters
    prev_base = None
    for _ in range(n_iter):
        # E-step: squared distances to the k centroids, computed once
        # into a materialized frame (k small -> k literal expressions).
        dist2 = [
            "(0 + "
            + " + ".join(
                f"POWER(v[{i}] - {_dlit(centroids[c, i])}, 2D)"
                for i in range(d)
            )
            + ")"
            for c in range(K)
        ]
        # LAZY checkpoint (r16): the first collect below (auto-sigma
        # spread, or the penalty-mass agg when sigma is explicit)
        # materializes the E-step distances — the eager variant spent a
        # whole extra driver action per iteration on the same pass.
        base = df.selectExpr(
            "cell_id", "v", "batch",
            *[f"{dc} AS _d{c}" for c, dc in enumerate(dist2)],
        ).localCheckpoint(eager=False)
        dsum = "(0 + " + " + ".join(f"_d{c}" for c in range(K)) + ")"
        dmin = "LEAST(" + ", ".join(f"_d{c}" for c in range(K)) + ")"
        if sigma is None:
            # auto bandwidth: a fraction of the mean excess distance so
            # assignments stay soft at any data scale (a fixed sigma
            # underflows exp() to hard 0/1 when distances are large)
            spread = base.selectExpr(
                f"AVG({dsum} / {K} - {dmin}) AS s"
            ).collect()[0]["s"]
            sig = max(0.3 * float(spread), 1e-6)
        else:
            sig = sigma
        # affinity layer: _n{c} = exp(-(d_c - dmin) / sigma)
        aff = base.selectExpr(
            "cell_id", "v", "batch",
            *[
                f"EXP(-(_d{c} - {dmin}) / {_dlit(sig)}) AS _n{c}"
                for c in range(K)
            ],
        )
        nsum = "(0 + " + " + ".join(f"_n{c}" for c in range(K)) + ")"
        # diversity penalty (harmony's theta term, theta=1): scale each
        # cluster's affinity by expected/observed batch mass so a
        # cluster cannot absorb one batch exclusively
        obs_rows = aff.groupBy("batch").agg(
            *[
                F.expr(f"SUM(_n{c} / {nsum})").alias(f"o{c}")
                for c in range(K)
            ],
            F.count("*").alias("nb"),
        ).collect()
        # the collects above have materialized base, so the previous
        # iteration's frame (which base's now-truncated lineage read) is
        # safe to release — unpersisting BEFORE a collect would free
        # blocks the lazy checkpoint still needs to compute
        if prev_base is not None:
            prev_base.unpersist()
        prev_base = base
        n_total = sum(r["nb"] for r in obs_rows)
        clus_mass = {
            c: sum(r[f"o{c}"] for r in obs_rows) for c in range(K)
        }
        pen = {
            (c, r["batch"]): (clus_mass[c] * r["nb"] / n_total + eps)
            / (r[f"o{c}"] + eps)
            for r in obs_rows
            for c in range(K)
        }
        pcase = []
        for c in range(K):
            whens = " ".join(
                f"WHEN batch = {_blit(b)} THEN {_dlit(val)}"
                for (pc, b), val in pen.items()
                if pc == c
            )
            pcase.append(f"COALESCE(CASE {whens} END, 1.0D)")
        pn = aff.selectExpr(
            "cell_id", "v", "batch",
            *[f"(_n{c} * {pcase[c]}) AS _pn{c}" for c in range(K)],
        )
        pnsum = "(0 + " + " + ".join(f"_pn{c}" for c in range(K)) + ")"
        soft = pn.selectExpr(
            "cell_id", "v", "batch",
            *[f"_pn{c} / {pnsum} AS r{c}" for c in range(K)],
        )
        # M-step + correction offsets in ONE per-batch aggregation pass
        # over the cached frame: the global centroid sums are the
        # per-batch sums added driver-side (B constant-size rows)
        baggs = []
        for c in range(K):
            baggs.append(F.expr(f"SUM(r{c})").alias(f"bn{c}"))
            for i in range(d):
                baggs.append(
                    F.expr(f"SUM(r{c} * v[{i}])").alias(f"bs{c}_{i}")
                )
        brows = soft.groupBy("batch").agg(*baggs).collect()
        centroids = np.array(
            [
                [
                    sum(r[f"bs{c}_{i}"] for r in brows)
                    / max(sum(r[f"bn{c}"] for r in brows), 1e-12)
                    for i in range(d)
                ]
                for c in range(n_clusters)
            ]
        )
        # correction: per (cluster, batch) mean offset from the cluster
        # centroid, subtracted in expectation (small dim table, broadcast)
        off = {
            r["batch"]: np.array(
                [
                    [
                        r[f"bs{c}_{i}"] / max(r[f"bn{c}"], 1e-12) - centroids[c, i]
                        for i in range(d)
                    ]
                    for c in range(n_clusters)
                ]
            )
            for r in brows
        }
        corr_exprs = []
        for i in range(d):
            adj = "0.0D"
            for c in range(n_clusters):
                whens = " ".join(
                    f"WHEN batch = {_blit(b)} THEN {_dlit(m[c, i])}"
                    for b, m in off.items()
                )
                adj = f"{adj} + r{c} * COALESCE(CASE {whens} END, 0.0D)"
            corr_exprs.append(f"(v[{i}] - ({adj}))")
        df = soft.selectExpr(
            "cell_id",
            "array(" + ", ".join(corr_exprs) + ") AS v",
            "batch",
        )
    out = df.select("cell_id", "v")
    if prev_base is not None:
        # materialize the corrected output BEFORE releasing the last
        # iteration's E-step checkpoint it reads from — without this,
        # every call leaked one cell-sized cached frame for the
        # application lifetime (the bench stream calls this repeatedly)
        out = out.localCheckpoint()
        prev_base.unpersist()
    return out

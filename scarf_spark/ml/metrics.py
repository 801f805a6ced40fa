"""Integration / clustering metrics (``scarf/metrics.py``).

ARI/NMI (``metrics.py:436-465``) are pure contingency-table arithmetic
— one groupBy(a, b).count() plus closed-form combinatorics, fully
relational (and oracle-verifiable). LISI (``metrics.py:21-149``) needs
a per-cell bisection on the kernel bandwidth → grouped pandas UDF over
neighbor lists, the designated slow path."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _c2(col):
    return col * (col - F.lit(1)) / F.lit(2.0)


def adjusted_rand_index(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """ARI from the contingency table, single pass + closed form:
    ARI = (Σij C(nij,2) − E) / (max − E),
    E = Σi C(ai,2)·Σj C(bj,2)/C(n,2). Returns one row (ari)."""
    ct = df.groupBy(a_col, b_col).agg(F.count("*").alias("nij"))
    stats = ct.agg(
        F.sum(_c2(F.col("nij"))).alias("sum_ij"),
        F.sum("nij").alias("n"),
    )
    ai = ct.groupBy(a_col).agg(F.sum("nij").alias("ai")).agg(
        F.sum(_c2(F.col("ai"))).alias("sum_a")
    )
    bj = ct.groupBy(b_col).agg(F.sum("nij").alias("bj")).agg(
        F.sum(_c2(F.col("bj"))).alias("sum_b")
    )
    joined = stats.crossJoin(ai).crossJoin(bj)
    expected = F.col("sum_a") * F.col("sum_b") / _c2(F.col("n"))
    max_idx = (F.col("sum_a") + F.col("sum_b")) / 2.0
    ari = F.when(
        max_idx != expected, (F.col("sum_ij") - expected) / (max_idx - expected)
    ).otherwise(F.lit(0.0))
    return joined.select(F.round(ari, 6).alias("ari"))


def normalized_mutual_info(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """NMI (arithmetic normalization): I(A;B)/((H(A)+H(B))/2), from the
    same contingency counts."""
    ct = df.groupBy(a_col, b_col).agg(F.count("*").alias("nij"))
    n = ct.agg(F.sum("nij").alias("n"))
    ai = ct.groupBy(a_col).agg(F.sum("nij").alias("ai"))
    bj = ct.groupBy(b_col).agg(F.sum("nij").alias("bj"))
    j = (
        ct.join(ai, a_col).join(bj, b_col).crossJoin(F.broadcast(n))
        .select(
            (
                F.col("nij") / F.col("n")
                * F.log(F.col("n") * F.col("nij") / (F.col("ai") * F.col("bj")))
            ).alias("mi_term")
        )
        .agg(F.sum("mi_term").alias("mi"))
    )
    ha = ai.crossJoin(F.broadcast(n)).agg(
        (-F.sum(F.col("ai") / F.col("n") * F.log(F.col("ai") / F.col("n")))).alias("ha")
    )
    hb = bj.crossJoin(F.broadcast(n)).agg(
        (-F.sum(F.col("bj") / F.col("n") * F.log(F.col("bj") / F.col("n")))).alias("hb")
    )
    out = j.crossJoin(ha).crossJoin(hb)
    nmi = F.when(
        (F.col("ha") + F.col("hb")) != 0,
        F.col("mi") / ((F.col("ha") + F.col("hb")) / 2.0),
    ).otherwise(F.lit(0.0))
    return out.select(F.round(nmi, 6).alias("nmi"))


def lisi(edges: DataFrame, labels: DataFrame, perplexity: float = 5.0) -> DataFrame:
    """LISI (``metrics.py:21-149``): per-cell perplexity-calibrated
    inverse Simpson index over neighbor labels. The bandwidth bisection
    is a grouped pandas UDF per neighborhood — Arrow-batched, one group
    per cell."""
    import numpy as np

    lab = labels.select(F.col("cell_id").alias("dst"), "label")
    # one hash agg builds the neighbor list, then the bisection kernel
    # runs per Arrow batch (not one Python round-trip per cell)
    nb = (
        edges.join(lab, "dst")
        .groupBy("src")
        .agg(F.collect_list(F.struct("distance", "label")).alias("_nb"))
    )

    target = float(np.log(perplexity))

    def _betas(d_mat: "np.ndarray", pad: "np.ndarray") -> "np.ndarray":
        """Vectorized beta bisection over all rows at once (padding
        masked); converged/degenerate rows freeze, matching the scalar
        per-row loop exactly — 50 numpy passes per batch instead of
        50 × rows Python iterations."""
        R = d_mat.shape[0]
        beta = np.ones(R)
        lo = np.zeros(R)
        hi = np.full(R, np.inf)
        done = np.zeros(R, dtype=bool)
        for _ in range(50):
            w = np.where(pad, 0.0, np.exp(-d_mat * beta[:, None]))
            s = w.sum(axis=1)
            done |= s <= 0
            p = w / np.maximum(s, 1e-300)[:, None]
            h = -(p * np.log(np.maximum(p, 1e-300))).sum(axis=1)
            done |= np.abs(h - target) < 1e-5
            act = ~done
            if not act.any():
                break
            over = act & (h > target)
            under = act & ~over
            lo[over] = beta[over]
            inf_hi = over & np.isinf(hi)
            beta[inf_hi] = beta[inf_hi] * 2
            fin = over & ~np.isinf(hi)
            beta[fin] = (beta[fin] + hi[fin]) / 2
            hi[under] = beta[under]
            beta[under] = (lo[under] + beta[under]) / 2
        return beta

    def calc(batches):
        for b in batches:
            if b.empty:
                continue
            n_nb = np.array([len(nb) for nb in b["_nb"]], dtype=np.int64)
            max_k = int(n_nb.max())
            R = len(b)
            d_mat = np.zeros((R, max_k))
            lbl_mat = np.zeros((R, max_k), dtype=object)
            pad = np.ones((R, max_k), dtype=bool)
            for r, nbl in enumerate(b["_nb"]):
                kk = len(nbl)
                d_mat[r, :kk] = [x["distance"] for x in nbl]
                lbl_mat[r, :kk] = [x["label"] for x in nbl]
                pad[r, :kk] = False
            beta = _betas(d_mat, pad)
            w = np.where(pad, 0.0, np.exp(-d_mat * beta[:, None]))
            s = w.sum(axis=1)
            out = []
            for r in range(R):
                kk = n_nb[r]
                p = (
                    w[r, :kk] / s[r]
                    if s[r] > 0
                    else np.ones(kk) / kk
                )
                lbl = lbl_mat[r, :kk]
                simpson = sum(
                    p[lbl == u].sum() ** 2 for u in np.unique(lbl)
                )
                out.append(round(1.0 / simpson, 6))
            yield pd.DataFrame({"src": b["src"], "lisi": out})

    return nb.mapInPandas(calc, "src long, lisi double")


def silhouette_squared(vec: DataFrame, dim: int, id_col: str = "vec_id",
                       vec_col: str = "v", label_col: str = "label") -> DataFrame:
    """Silhouette on *squared* euclidean distances via cluster
    sufficient statistics — the O(n·C) scale path, with no O(n²)
    pairwise join.

    Mean squared distance from point i to cluster c decomposes as
      Σ_j ||x_i − x_j||² = Q_c + n_c·||x_i||² − 2·x_i·S_c
    with per-cluster stats n_c (count), S_c (elementwise sum vector),
    Q_c (Σ||x||²). One groupBy over the points plus a broadcast join of
    C cluster rows — no pairwise join, survives any scale-up in n.

    a and b are rounded to 4 decimals before the ratio so the result is
    bit-stable across engines (summation order differs; see the DuckDB
    oracle twin). Singletons get s = 0 (sklearn convention)."""
    pts = vec.select(
        F.col(id_col).alias("pid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("pv"),
        F.col(label_col).alias("plab"),
    ).withColumn(
        "norm2",
        F.aggregate(F.transform("pv", lambda x: x * x), F.lit(0.0), lambda a, x: a + x),
    )
    clusters = pts.groupBy(F.col("plab").alias("clab")).agg(
        F.count("*").alias("n_c"),
        F.sum("norm2").alias("q_c"),
        F.array(*[F.sum(F.col("pv")[i]) for i in range(dim)]).alias("s_c"),
    )
    dot = F.aggregate(
        F.zip_with("pv", "s_c", lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x
    )
    pc = pts.crossJoin(F.broadcast(clusters)).select(
        "pid",
        "plab",
        "clab",
        "n_c",
        (F.col("q_c") + F.col("n_c") * F.col("norm2") - 2 * dot).alias("sq"),
    )
    own = F.col("plab") == F.col("clab")
    per = pc.groupBy("pid", "plab").agg(
        F.round(
            F.max(F.when(own, F.col("sq")))
            / F.nullif(F.max(F.when(own, F.col("n_c"))) - 1, F.lit(0)),
            4,
        ).alias("a"),
        F.round(F.min(F.when(~own, F.col("sq") / F.col("n_c"))), 4).alias("b"),
        F.max(F.when(own, F.col("n_c"))).alias("n_own"),
    )
    s = F.when(F.col("n_own") == 1, F.lit(0.0)).otherwise(
        (F.col("b") - F.col("a")) / F.greatest("a", "b")
    )
    return per.select(F.col("pid").alias(id_col), F.round(s, 6).alias("silhouette"))


def auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """ROC AUC via the Mann-Whitney identity — NO per-row global
    ranking: AUC = [#(pos > neg pairs) + ½·#(tied pairs)] / (n⁺·n⁻),
    computed from per-distinct-score (n⁺ₛ, n⁻ₛ) aggregates. The only
    window runs over the DISTINCT-SCORE table (one row per score
    value — bounded by the score codomain, not the corpus), so the
    metric scales where a global rank window would collapse to one
    task. All counts are integers and the pair sums are dyadic
    halves — exact in double on any engine.

    Returns one row: (n_pos, n_neg, auc)."""
    from pyspark.sql import Window

    s = df.select(
        F.col(score_col).cast("double").alias("_s"),
        F.col(label_col).cast("long").alias("_y"),
    )
    g = s.groupBy("_s").agg(
        F.sum("_y").alias("_np"),
        (F.count("*") - F.sum("_y")).alias("_nn"),
    )
    w = Window.orderBy("_s")
    per = g.select(
        "_np",
        "_nn",
        (F.sum("_nn").over(w) - F.col("_nn")).alias("_below"),
    )
    tot = per.agg(
        F.sum("_np").alias("n_pos"),
        F.sum("_nn").alias("n_neg"),
        F.sum(
            F.col("_np") * F.col("_below") + 0.5 * F.col("_np") * F.col("_nn")
        ).alias("_num"),
    )
    return tot.select(
        "n_pos",
        "n_neg",
        F.round(
            F.col("_num") / (F.col("n_pos") * F.col("n_neg")).cast("double"), 6
        ).alias("auc"),
    )


def knn_label_purity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Neighborhood label purity: for each node, the fraction of its
    KNN neighbours sharing its label — the direct classification-
    quality read on an embedding space (the 0/1 cousin of LISI's
    inverse Simpson). Exact integer ppm (``n_same·1e6 // k``) so the
    result is engine-portable without float division.

    Plan: two equi-joins of the edge table against the label table
    (src side, then dst side) and one hash aggregate on src — all
    shuffles key on vec_id, the label table broadcasts while small."""
    lab_s = labels.select(F.col("vec_id").alias("src"), F.col("label").alias("_ls"))
    lab_d = labels.select(F.col("vec_id").alias("dst"), F.col("label").alias("_ld"))
    return (
        edges.join(lab_s, "src")
        .join(lab_d, "dst")
        .groupBy("src")
        .agg(
            F.count("*").alias("n_neighbors"),
            F.sum(
                F.when(F.col("_ls") == F.col("_ld"), 1).otherwise(0)
            ).cast("long").alias("n_same"),
        )
        .select(
            "src",
            "n_neighbors",
            "n_same",
            F.expr("n_same * 1000000 DIV n_neighbors").alias("purity_ppm"),
        )
    )


def nb_binary_calibration(docs: DataFrame, n_bins: int = 10) -> DataFrame:
    """Reliability diagram (ECE bins) for the binary naive-Bayes
    posterior of lang = 'en' — the is-my-classifier-honest gauge every
    curation pipeline needs before thresholding on model scores.

    The binary posterior avoids the multi-class softmax (whose
    cross-class sum would be accumulation-order-sensitive): with only
    two scores, p = 1/(1 + exp(s_other − s_en)) is a single smooth
    expression over the ROUND(6)-stable per-class log-scores, so the
    binning replays exactly across engines. Per-bin outputs are exact
    integers (counts and floor-ppm sums); mean-confidence and accuracy
    come from integer division."""
    from scarf_spark.ml import supervised

    bin_docs = docs.withColumn(
        "_b", F.when(F.col("lang") == "en", F.lit("en")).otherwise(F.lit("other"))
    )
    scores = supervised.naive_bayes_scores(bin_docs, label_col="_b")
    piv = scores.groupBy("doc_id").agg(
        F.max(F.when(F.col("cls") == "en", F.col("score"))).alias("_se"),
        F.max(F.when(F.col("cls") == "other", F.col("score"))).alias("_so"),
    )
    p = 1.0 / (1.0 + F.exp(F.col("_so") - F.col("_se")))
    binned = piv.join(docs.select("doc_id", "lang"), "doc_id").select(
        F.least(F.floor(p * n_bins), F.lit(n_bins - 1)).cast("int").alias("bin"),
        F.floor(p * 1000000.0).cast("long").alias("_ppm"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("_pos"),
    )
    agg = binned.groupBy("bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("_ppm").alias("sum_pred_ppm"),
        F.sum("_pos").cast("long").alias("n_pos"),
    )
    return agg.select(
        "bin",
        "n_docs",
        "sum_pred_ppm",
        "n_pos",
        F.expr("sum_pred_ppm DIV n_docs").alias("mean_pred_ppm"),
        F.expr("(n_pos * 1000000) DIV n_docs").alias("acc_ppm"),
    )


def nb_pr_curve(docs: DataFrame, n_bins: int = 10) -> DataFrame:
    """Precision/recall at decile score thresholds for the binary
    naive-Bayes 'en' posterior — the operating-point picker that pairs
    with :func:`nb_binary_calibration` (same binned posterior, so the
    two reports describe one classifier). Threshold at bin b =
    "predict positive when the posterior lands in bin ≥ b"; TP/FP come
    from a cumulative window DESCENDING over the ≤ n_bins aggregate
    rows (constant-size input, same envelope as the KM curve), and
    precision/recall are exact integer ppm."""
    from pyspark.sql import Window

    bins = nb_binary_calibration(docs, n_bins=n_bins).select(
        "bin", "n_docs", "n_pos"
    )
    w = Window.orderBy(F.desc("bin")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    # SUM over zero rows is NULL — coalesce so an empty input yields an
    # empty curve instead of int(None) raising below.
    tot = bins.agg(F.sum("n_pos").alias("_p")).collect()[0]["_p"] or 0
    cum = bins.select(
        F.col("bin").alias("threshold_bin"),
        F.sum("n_pos").over(w).cast("long").alias("tp"),
        (F.sum("n_docs").over(w) - F.sum("n_pos").over(w))
        .cast("long")
        .alias("fp"),
    )
    return cum.select(
        "threshold_bin",
        "tp",
        "fp",
        (F.lit(int(tot)) - F.col("tp")).cast("long").alias("fn"),
        F.expr("tp * 1000000 DIV (tp + fp)").alias("precision_ppm"),
        F.expr(f"tp * 1000000 DIV {int(tot)}").alias("recall_ppm"),
    )


def knn_ndcg(edges: DataFrame, labels: DataFrame, k: int = 5) -> DataFrame:
    """NDCG@k of the KNN graph against class labels: a neighbour is
    relevant iff it shares the query's label; DCG folds the
    rank-ordered rel/log2(rank+1) terms in a FIXED order (an
    array_sort + left fold — group-aggregate double sums reorder
    per-partition, a fold cannot), IDCG is the closed-form constant
    for n_rel ∈ {0..k} (precomputed literals, identical decimal
    renderings both engines), and queries with no relevant neighbour
    score 0 by convention. The retrieval-quality twin of
    :func:`knn_label_purity` — purity counts hits, NDCG weighs WHERE
    they rank. One broadcast label join + one per-src fold; never a
    shuffle beyond the src groupBy."""
    import math

    lab = labels.select(F.col("vec_id").alias("_id"), F.col("label").alias("_l"))
    e = (
        edges.join(lab.withColumnRenamed("_id", "src")
                   .withColumnRenamed("_l", "_ls"), "src")
        .join(lab.withColumnRenamed("_id", "dst")
              .withColumnRenamed("_l", "_ld"), "dst")
        .where(F.col("rank") <= k)
    )
    term = F.when(F.col("_ls") == F.col("_ld"),
                  1.0 / F.log2(F.col("rank") + 1.0)).otherwise(F.lit(0.0))
    per = e.select("src", F.col("rank"), term.alias("_t"),
                   (F.col("_ls") == F.col("_ld")).cast("int").alias("_rel"))
    agg = per.groupBy("src").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", "_t"))),
                lambda s: s["_t"],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("_dcg"),
        F.sum("_rel").alias("n_rel"),
    )
    idcg = F.lit(0.0)
    for i in range(k, 0, -1):
        c = sum(1.0 / math.log2(r + 1) for r in range(1, i + 1))
        idcg = F.when(F.col("n_rel") == i, F.lit(c)).otherwise(idcg)
    return agg.select(
        "src",
        F.col("n_rel").cast("int").alias("n_rel"),
        F.when(F.col("n_rel") > 0, F.round(F.col("_dcg") / idcg, 6))
        .otherwise(F.lit(0.0))
        .alias("ndcg"),
    )

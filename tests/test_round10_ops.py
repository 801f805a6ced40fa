"""Round-10 regression tests: the ADVICE fixes — session_concurrency's
midnight close delta (a session ending at a day's final second used to
leak a phantom -1 into the NEXT day's sweep), welch_t_test's n>=2 /
absent-side guard, jsd_drift's empty-slice guard."""

import pytest
from pyspark.sql import functions as F

from scarf_spark.operators import text, windows


def _events(spark, rows):
    # rows: (user_id, event_id, epoch_sec)
    return spark.createDataFrame(
        rows, "user_id long, event_id long, sec long"
    ).select(
        "user_id", "event_id", F.timestamp_seconds("sec").alias("ts")
    )


def test_session_concurrency_day_final_second_close(spark):
    # u1's session ends at 86399 (day 0's last second) → the close
    # delta at end+1 would land at 86400 = day 1. Pre-fix that phantom
    # -1 offset day 1's running sum by -1; u2's lone day-1 session
    # then peaked at 0 instead of 1.
    rows = [
        (1, 10, 86390), (1, 11, 86399),        # u1: ends at day 0's last sec
        (2, 20, 86410), (2, 21, 86420),        # u2: entirely in day 1
        (3, 30, 86395), (3, 31, 86405),        # u3: spans the midnight
    ]
    got = {
        r["day"]: (r["max_concurrent"], r["n_session_starts"])
        for r in windows.session_concurrency(_events(spark, rows)).collect()
    }
    # day 0: u1 open 86390-EOD (close dropped), u3 open from 86395 → peak 2
    # day 1: u3 carries in (+1 @ 86400, -1 @ 86406), u2 86410-86420 → peak 1
    assert got == {0: (2, 2), 1: (1, 2)}


def test_session_concurrency_no_cross_day_drift(spark):
    # A mid-day session is untouched by the fix: close delta stays.
    rows = [(1, 1, 100), (1, 2, 200), (2, 3, 150)]
    got = {
        r["day"]: r["max_concurrent"]
        for r in windows.session_concurrency(_events(spark, rows)).collect()
    }
    assert got == {0: 2}


def _valued_events(spark, rows):
    # rows: (event_type, event_id, value)
    return spark.createDataFrame(
        rows, "event_type string, event_id long, value double"
    ).select(
        "event_type", "event_id", "value",
        F.timestamp_seconds(F.col("event_id") * 60).alias("ts"),
        F.col("event_id").alias("user_id"),
    )


def test_welch_t_single_row_side_raises(spark):
    ev = _valued_events(
        spark, [("a", 1, 1.0), ("b", 2, 2.0), ("b", 3, 3.0)]
    )
    with pytest.raises(ValueError, match="need >=2 rows per side"):
        windows.welch_t_test(ev, type_a="a", type_b="b")


def test_welch_t_absent_side_raises(spark):
    ev = _valued_events(spark, [("a", 1, 1.0), ("a", 2, 2.0)])
    with pytest.raises(ValueError, match="n_b=0"):
        windows.welch_t_test(ev, type_a="a", type_b="b")


def test_welch_t_happy_path_still_exact(spark):
    ev = _valued_events(
        spark,
        [("a", 1, 1.0), ("a", 2, 3.0), ("b", 3, 2.0), ("b", 4, 6.0)],
    )
    row = windows.welch_t_test(ev, type_a="a", type_b="b").first()
    assert (row["n_a"], row["n_b"]) == (2, 2)
    # means 2.0 vs 4.0 (micros): diff -2e6; va=2e12, vb=8e12;
    # se2=5e12; t=-2e6/sqrt(5e12)
    assert row["mean_diff_micros"] == pytest.approx(-2_000_000.0)
    assert row["t_stat"] == pytest.approx(-2e6 / (5e12) ** 0.5, rel=1e-6)


def test_jsd_drift_empty_slice_raises(spark):
    docs = spark.createDataFrame(
        [("d1", "src0", "hello world"), ("d2", "src0", "more words")],
        "doc_id string, source string, text string",
    )
    with pytest.raises(ValueError, match="empty comparison slice"):
        text.jsd_drift(docs, split_col="source", split_value="src0")
    with pytest.raises(ValueError, match="empty comparison slice"):
        # value matches nothing → the other direction is empty too
        text.jsd_drift(docs, split_col="source", split_value="nope")


def test_jsd_drift_happy_path(spark):
    docs = spark.createDataFrame(
        [("d1", "src0", "a a b"), ("d2", "src1", "a b b")],
        "doc_id string, source string, text string",
    )
    row = text.jsd_drift(docs, split_col="source", split_value="src0").first()
    assert row["n_terms"] == 2
    assert 0.0 < row["jsd"] < 1.0


def test_star_components_match_min_label_on_lsh_graph(spark):
    # dedup_components' engine now runs star contraction while its
    # oracle stays the 3-round min-label CTE — assert the two reach the
    # same fixpoint on the real LSH candidate graph (near-dup clusters
    # are band-bucket near-cliques, well inside 3 hops).
    from scarf_spark.operators import dedup
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = dedup.minhash_candidate_pairs(
        docs, n=3, n_hashes=8, n_bands=4
    ).localCheckpoint(eager=True)
    star = {
        r["doc_id"]: (r["cluster"], r["keep"])
        for r in dedup.star_components(pairs, docs).collect()
    }
    ml = {
        r["doc_id"]: (r["cluster"], r["keep"])
        for r in dedup.min_label_components(pairs, docs, n_iter=3).collect()
    }
    assert star == ml
    assert len(star) == docs.count()  # singletons present


def test_star_components_singletons_kept(spark):
    from scarf_spark.operators import dedup

    nodes = spark.createDataFrame([(1,), (2,), (3,), (9,)], "doc_id long")
    pairs = spark.createDataFrame([(2, 3)], "a long, b long")
    got = {
        r["doc_id"]: (r["cluster"], r["keep"])
        for r in dedup.star_components(pairs, nodes).collect()
    }
    assert got == {1: (1, True), 2: (2, True), 3: (2, False), 9: (9, True)}


def test_lsh_recall_matches_uncheckpointed_chain(spark):
    # the r16 optimization materializes the truth side once (lazy
    # localCheckpoint) instead of recomputing the quadratic shingle
    # self-join under both output branches — same values as the plain
    # two-branch chain, assembled here inline without the checkpoint
    from pyspark.sql import functions as F

    from scarf_spark.operators import dedup
    from scarf_spark.operators.dedup import minhash_candidate_pairs, ngram_jaccard
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = dedup.lsh_recall(docs, threshold_ppm=500000).first()
    truth = ngram_jaccard(docs, pairs=None, n=3).where(
        F.col("jaccard") * 1000000 >= F.lit(500000)
    )
    cand = minhash_candidate_pairs(docs, n=3, n_hashes=8, n_bands=4)
    n_true = truth.count()
    n_hit = truth.join(cand, ["a", "b"], "left_semi").count()
    assert got["n_true"] == n_true
    assert got["n_hit"] == n_hit
    if n_true > 0:
        assert got["recall"] == round(n_hit / n_true, 6)
    else:
        assert got["recall"] is None


def test_lsh_recall_sample_pct(spark):
    from scarf_spark.operators import dedup
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    full = dedup.lsh_recall(docs, threshold_ppm=500000).first()
    samp = dedup.lsh_recall(docs, threshold_ppm=500000, sample_pct=40).first()
    # sampling shrinks the quadratic truth side and both sides see the
    # same subset — n_true strictly bounded by the full gauge, recall
    # stays a valid ratio (or NULL when the sampled truth set is empty)
    assert samp["n_true"] <= full["n_true"]
    assert samp["n_hit"] <= samp["n_true"]
    if samp["n_true"] > 0:
        assert 0.0 <= samp["recall"] <= 1.0


def test_ivf_persisted_matches_inline_and_caches(spark, tmp_path):
    from scarf_spark.operators import knn
    from scarf_spark.plans.registry import RunRegistry
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    reg = RunRegistry(spark, str(tmp_path / "reg"))
    inline = sorted(
        map(tuple, knn.cosine_knn_ivf(emb, k=5, n_cells=8, n_probe=2).collect())
    )
    first = sorted(
        map(
            tuple,
            knn.cosine_knn_ivf_persisted(
                emb, reg, k=5, n_cells=8, n_probe=2
            ).collect(),
        )
    )
    assert first == inline  # persisted probe bit-matches the inline build
    n_entries = len(reg._entries())
    assert n_entries == 2  # ivf_lists + ivf_centroids materialized
    again = knn.cosine_knn_ivf_persisted(emb, reg, k=5, n_cells=8, n_probe=2)
    assert sorted(map(tuple, again.collect())) == inline
    assert len(reg._entries()) == n_entries  # cache hit — no rebuild
    # the probe reads the PERSISTED lists: its plan scans the registry
    # parquet instead of re-deriving the index from the embeddings scan
    plan = again._jdf.queryExecution().toString()
    assert "ivf_lists__" in plan or "m_vid:bigint" in plan


def test_paris_micros_matches_float_dendrogram_merge_order(spark):
    # the integer-exact agglomeration must pick the merges that a float
    # average-linkage agglomeration picks when the weights are exact
    # micro multiples; the expected list is that float kernel's output
    from scarf_spark.ml import cluster as cl

    rows = [
        (0, 1, 900000), (1, 2, 800000), (2, 3, 850000),
        (3, 4, 700000), (0, 2, 400000),
    ]
    e_int = spark.createDataFrame(rows, "src long, dst long, w_micros long")
    m_int, leaves_int = cl.paris_dendrogram_micros(e_int)
    assert leaves_int == [0, 1, 2, 3, 4]
    assert [(a, b, s) for a, b, _d, s in m_int] == [
        (0, 1, 2), (2, 3, 2), (4, 6, 3), (5, 7, 5),
    ]


def test_balanced_cut_forest_roots(spark):
    # two disconnected components: the old single-root shortcut dropped
    # every leaf outside the last merge's component
    from scarf_spark.ml import cluster as cl

    rows = [(0, 1, 900000), (2, 3, 800000)]
    e = spark.createDataFrame(rows, "src long, dst long, w_micros long")
    merges, leaves = cl.paris_dendrogram_micros(e)
    labels = cl.cut_dendrogram_balanced(merges, leaves, max_size=10)
    assert set(labels) == {0, 1, 2, 3}  # all four leaves labeled
    assert labels[0] == labels[1] and labels[2] == labels[3]
    assert labels[0] != labels[2]


def test_paris_cut_exact_tie_break(spark):
    # two pairs with IDENTICAL rational similarity — the (a, b)
    # tie-break must pick (0, 1) first on both engines
    from scarf_spark.ml import cluster as cl

    rows = [(2, 3, 500000), (0, 1, 500000), (1, 2, 100000)]
    e = spark.createDataFrame(rows, "src long, dst long, w_micros long")
    merges, leaves = cl.paris_dendrogram_micros(e)
    assert (merges[0][0], merges[0][1]) == (0, 1)
    assert (merges[1][0], merges[1][1]) == (2, 3)


def test_holt_linear_matches_pandas_replay(spark, sf_dir):
    """The struct-free fold computes exactly the textbook Holt
    recursion (l0 = y0, b0 = 0, alpha 0.5, beta 0.3)."""
    from pyspark.sql import functions as F

    from scarf_spark.catalog import DataStore
    from scarf_spark.operators.windows import holt_linear

    ev = DataStore(spark, sf_dir).events
    daily = (
        ev.select(
            "event_type",
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("double").alias("y"))
        .toPandas()
        .sort_values(["event_type", "day"])
    )
    got = {r["event_type"]: r for r in holt_linear(ev).collect()}
    for et, grp in daily.groupby("event_type"):
        ys = grp["y"].tolist()
        l, b = ys[0], 0.0
        for y in ys[1:]:
            ln = 0.5 * y + 0.5 * (l + b)
            b = 0.3 * (0.5 * y + 0.5 * (l + b) - l) + 0.7 * b
            l = ln
        assert got[et]["n_days"] == len(ys)
        assert abs(got[et]["level"] - round(l, 6)) < 1e-9
        assert abs(got[et]["trend"] - round(b, 6)) < 1e-9


def test_holt_winters_matches_pandas_replay(spark, sf_dir):
    """The list-state fold computes the textbook additive Holt-Winters
    recursion (alpha .3, beta .2, gamma .3, period 7, zero-seeded
    seasonals)."""
    from pyspark.sql import functions as F

    from scarf_spark.catalog import DataStore
    from scarf_spark.operators.windows import holt_winters

    ev = DataStore(spark, sf_dir).events
    daily = (
        ev.select(
            "event_type",
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("double").alias("y"))
        .toPandas()
        .sort_values(["event_type", "day"])
    )
    got = {r["event_type"]: r for r in holt_winters(ev).collect()}
    for et, grp in daily.groupby("event_type"):
        ys = grp["y"].tolist()
        l, b, s = ys[0], 0.0, [0.0] * 7
        t = 1
        for y in ys[1:]:
            i = t % 7
            lp = 0.3 * (y - s[i]) + 0.7 * (l + b)
            bp = 0.2 * ((0.3 * (y - s[i]) + 0.7 * (l + b)) - l) + 0.8 * b
            s[i] = 0.3 * (y - (0.3 * (y - s[i]) + 0.7 * (l + b)))+ 0.7 * s[i]
            l, b, t = lp, bp, t + 1
        assert got[et]["n_days"] == len(ys)
        assert abs(got[et]["level"] - round(l, 6)) < 1e-9
        assert abs(got[et]["trend"] - round(b, 6)) < 1e-9
        f1 = l + b + s[len(ys) % 7]
        assert abs(got[et]["forecast_1d"] - round(f1, 6)) < 1e-9


def test_volume_acf_matches_numpy(spark, sf_dir):
    """Integer-ppm ACF equals the numpy autocorrelation (same scaled
    integer formula)."""
    import numpy as np
    from pyspark.sql import functions as F

    from scarf_spark.catalog import DataStore
    from scarf_spark.operators.windows import volume_acf

    ev = DataStore(spark, sf_dir).events
    daily = (
        ev.select(
            "event_type",
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("y"))
        .toPandas()
        .sort_values(["event_type", "day"])
    )
    got = {(r["event_type"], r["lag"]): r for r in volume_acf(ev).collect()}
    for et, grp in daily.groupby("event_type"):
        ys = grp["y"].to_numpy(dtype=np.int64)
        n, s = len(ys), int(ys.sum())
        c = n * ys - s
        den = int((c.astype(object) ** 2).sum())
        for lag in range(1, 8):
            if lag >= n:
                assert (et, lag) not in got
                continue
            num = int((c[:-lag].astype(object) * c[lag:].astype(object)).sum())
            r = got[(et, lag)]
            assert r["n_pairs"] == n - lag
            # exact integer truncation toward zero
            exact = (num * 1000000) // den if (num >= 0) == (den > 0) else -((-num * 1000000) // den)
            assert r["acf_ppm"] == exact

"""Round-6 operator units: pivot, exact quantiles, KMV sketch, JSON
extraction, triangle counting, PageRank, n-gram containment, product
quantization."""

import numpy as np

from pyspark.sql import functions as F

from scarf_spark.operators.aggregate import (
    KMV_P,
    exact_quantiles,
    json_props_stats,
    kmv_distinct,
    pivot_wide,
)
from scarf_spark.operators.dedup import ngram_containment
from scarf_spark.operators.graph import pagerank, triangle_counts
from scarf_spark.operators.knn import pq_quantize


def test_pivot_wide_dense_zeros(spark):
    df = spark.createDataFrame(
        [(1, "a", 2.0), (1, "a", 3.0), (2, "b", 7.0)],
        "uid long, t string, value double",
    )
    out = {r["uid"]: (r["a"], r["b"]) for r in
           pivot_wide(df, "uid", "t", ["a", "b"], "value").collect()}
    assert out[1] == (5.0, 0.0)
    assert out[2] == (0.0, 7.0)


def test_exact_quantiles_matches_numpy(spark):
    vals = [float(x) for x in range(1, 12)]  # 1..11
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    row = exact_quantiles(df, "g", "v").collect()[0]
    assert row["q25"] == round(float(np.percentile(vals, 25)), 6)
    assert row["q50"] == round(float(np.percentile(vals, 50)), 6)
    assert row["q75"] == round(float(np.percentile(vals, 75)), 6)


def test_kmv_distinct_small_group_exact_fallback(spark):
    # fewer than k distinct keys -> no kth hash -> estimate == exact
    df = spark.createDataFrame(
        [("g", i % 10) for i in range(100)], "grp string, key long"
    )
    row = kmv_distinct(df, "grp", "key", k=64).collect()[0]
    assert row["exact_ndv"] == 10
    assert row["h_k"] is None
    assert row["est_ndv"] == 10.0


def test_kmv_distinct_estimates_within_50pct(spark):
    df = spark.createDataFrame(
        [("g", i) for i in range(5000)], "grp string, key long"
    )
    row = kmv_distinct(df, "grp", "key", k=64).collect()[0]
    assert row["exact_ndv"] == 5000
    assert 0 < row["h_k"] < KMV_P
    assert 2500 < row["est_ndv"] < 10000  # KMV with k=64: ~12% rel error


def test_json_props_stats(spark):
    df = spark.createDataFrame(
        [("a", '{"k": 3}'), ("a", '{"k": 5}'), ("a", "{}"), ("b", '{"k": 1}')],
        "event_type string, props string",
    )
    out = {r["event_type"]: r.asDict() for r in json_props_stats(df).collect()}
    assert out["a"]["n_with_k"] == 2
    assert out["a"]["sum_k"] == 8
    assert out["a"]["ndv_k"] == 2
    assert out["b"]["min_k"] == out["b"]["max_k"] == 1


def test_triangle_counts_k4(spark):
    # complete graph on 4 vertices: C(4,3)=4 triangles, each vertex in 3
    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a != b],
        "src long, dst long",
    )
    out = {r["v"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}


def test_pagerank_star_graph(spark):
    # edges all point at node 0: after 1 iteration node 0 holds the mass
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 5)] + [(0, 1)], "src long, dst long"
    )
    out = {r["v"]: r["pagerank"] for r in
           pagerank(edges, n_iter=1, damping=0.85).collect()}
    n = 5
    base = (1.0 - 0.85) / n
    assert abs(out[0] - round(base + 0.85 * 4 / n, 9)) < 1e-9
    assert abs(out[1] - round(base + 0.85 * 1 / n, 9)) < 1e-9
    assert abs(out[2] - round(base, 9)) < 1e-9
    # probability mass is conserved (no dangling nodes here)
    assert abs(sum(out.values()) - 1.0) < 1e-6


def test_ngram_containment_subset_doc(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d e f g h")],
        "doc_id long, text string",
    )
    out = {(r["a"], r["b"]): r["containment"]
           for r in ngram_containment(docs, n=3, min_containment=0.1).collect()}
    # doc1's two 3-shingles both appear in doc2 -> containment 1.0
    assert out[(1, 2)] == 1.0
    # doc2 has 6 shingles, 2 shared -> 2/6
    assert out[(2, 1)] == round(2 / 6, 6)


def test_pq_quantize_seeds_reconstruct_exactly(spark):
    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=64)]) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = pq_quantize(emb, m=4, n_codes=8).collect()
    assert len(out) == 50
    by_id = {r["vec_id"]: r for r in out}
    # codewords themselves encode to zero error (their own nearest word)
    zero_err = [r for r in out if r["err_ppb"] == 0]
    assert len(zero_err) == 8
    for r in zero_err:
        assert all(r[f"code_{i}"] == r["vec_id"] for i in range(4))
    # every code is one of the 8 seed ids
    seed_ids = {r["vec_id"] for r in zero_err}
    for r in out:
        for i in range(4):
            assert r[f"code_{i}"] in seed_ids
    assert all(r["err_ppb"] >= 0 for r in out)


def test_boilerplate_stats_flags_common_shingle(spark):
    from scarf_spark.operators.text import boilerplate_stats

    # "x y z" appears in 3/4 docs -> boilerplate at 50% threshold
    docs = spark.createDataFrame(
        [
            (1, "x y z a b c"),
            (2, "x y z d e f"),
            (3, "x y z g h i"),
            (4, "p q r s t u"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict()
           for r in boilerplate_stats(docs, n=3, min_doc_frac=0.5).collect()}
    assert out[1]["n_shingles"] == 4
    assert out[1]["n_boiler"] == 1
    assert out[4]["n_boiler"] == 0
    assert out[1]["boiler_ratio"] == 0.25


def test_temperature_sample_quota_and_determinism(spark):
    from scarf_spark.operators.filters import temperature_sample

    rows = [(i, "big") for i in range(400)] + [(1000 + i, "small") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_sample(docs, "source", "doc_id", total=100, temperature=2.0)
    got = out.groupBy("source").count().collect()
    by_src = {r["source"]: r["count"] for r in got}
    # weights: floor(sqrt(400))=20, floor(sqrt(100))=10, tw=30
    # quotas: (100*20)//30=66, (100*10)//30=33
    assert by_src == {"big": 66, "small": 33}
    # determinism: same rows on re-run
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in
               temperature_sample(docs, "source", "doc_id", 100, 2.0).collect())
    assert a == b


def test_event_gaps(spark):
    import datetime as dt

    from scarf_spark.operators.windows import event_gaps

    base = dt.datetime(2026, 1, 1)
    rows = [
        (1, base, 10),
        (1, base + dt.timedelta(seconds=5), 11),
        (1, base + dt.timedelta(seconds=15), 12),
        (2, base, 20),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    out = {r["user_id"]: r.asDict() for r in event_gaps(df).collect()}
    assert out[1]["n_events"] == 3
    assert out[1]["sum_gap_s"] == 15.0
    assert out[1]["max_gap_s"] == 10.0
    assert out[2]["n_events"] == 1
    assert out[2]["sum_gap_s"] is None


def test_corr_manual_perfect_and_anti(spark):
    from scarf_spark.operators.aggregate import corr_manual

    rows = [("pos", float(i), 2.0 * i + 1) for i in range(10)] + [
        ("neg", float(i), -3.0 * i) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {r["g"]: r["corr"] for r in corr_manual(df, "g", "x", "y").collect()}
    assert out["pos"] == 1.0
    assert out["neg"] == -1.0


def test_set_intersect_and_anti_partition(spark):
    from scarf_spark.operators.setops import set_anti, set_intersect

    df = spark.createDataFrame([(i, f"r{i}") for i in range(10)], "k long, v string")
    other = spark.createDataFrame([(i,) for i in range(0, 10, 2)], "k long")
    inter = sorted(r["k"] for r in set_intersect(df, other, "k").collect())
    anti = sorted(r["k"] for r in set_anti(df, other, "k").collect())
    assert inter == [0, 2, 4, 6, 8]
    assert anti == [1, 3, 5, 7, 9]
    assert sorted(inter + anti) == list(range(10))


def test_rank_distribution(spark):
    from scarf_spark.operators.windows import rank_distribution

    df = spark.createDataFrame(
        [("g", i, float(v)) for i, v in enumerate([10, 20, 30, 40])],
        "grp string, id long, v double",
    )
    out = {r["id"]: (r["pct_rank"], r["cume_dist"])
           for r in rank_distribution(df, "grp", "v", "id").collect()}
    assert out[0] == (0.0, 0.25)
    assert out[3] == (1.0, 1.0)
    assert out[1] == (round(1 / 3, 6), 0.5)


def test_moment_stats_known_distribution(spark):
    # symmetric values -> skew 0; two-point +-1 -> kurtosis excess -2
    df = spark.createDataFrame(
        [("g", v) for v in [-1.0, 1.0] * 50], "grp string, v double"
    )
    from scarf_spark.operators.aggregate import moment_stats

    row = moment_stats(df, "grp", "v").collect()[0]
    assert row["mean"] == 0.0
    assert row["var_pop"] == 1.0
    assert row["skewness"] == 0.0
    assert row["kurtosis_excess"] == -2.0


def test_pearson_residual_properties(spark):
    from scarf_spark.operators.normalize import norm_pearson_residual

    # uniform matrix: every entry equals its expectation -> residual 0
    rows = [(c, g, 2.0) for c in range(4) for g in range(3)]
    counts = spark.createDataFrame(rows, "cell_id long, feat_id long, value double")
    out = norm_pearson_residual(counts, theta=100.0).collect()
    assert len(out) == 12
    assert all(r["residual"] == 0.0 for r in out)
    # an overexpressed entry gets a positive residual
    rows[0] = (0, 0, 10.0)
    counts2 = spark.createDataFrame(rows, "cell_id long, feat_id long, value double")
    out2 = {(r["cell_id"], r["feat_id"]): r["residual"]
            for r in norm_pearson_residual(counts2, theta=100.0).collect()}
    assert out2[(0, 0)] > 0


def test_quantile_normalization_equalizes_distributions(spark):
    from scarf_spark.operators.normalize import norm_quantile

    rows = [
        (1, 10, 1.0), (1, 11, 5.0), (1, 12, 9.0),
        (2, 10, 2.0), (2, 11, 4.0), (2, 12, 12.0),
    ]
    counts = spark.createDataFrame(rows, "cell_id long, feat_id long, value double")
    out = norm_quantile(counts).collect()
    per_cell = {}
    for r in out:
        per_cell.setdefault(r["cell_id"], []).append(r["qnorm"])
    # identical sorted distributions per cell: rank means (1.5, 4.5, 10.5)
    assert sorted(per_cell[1]) == sorted(per_cell[2]) == [1.5, 4.5, 10.5]


def test_tfidf_top_terms(spark):
    from scarf_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "cherry cherry durian"),
        ],
        "doc_id long, text string",
    )
    out = [r for r in tfidf_top_terms(docs, top_n=1).collect()]
    best = {r["doc_id"]: r["term"] for r in out}
    # the doc-unique rare term wins per doc: apple 2*ln(3) in doc 1,
    # durian ln(3) > cherry 2*ln(3/2) in doc 3
    assert best[1] == "apple"
    assert best[3] == "durian"
    assert all(r["rank"] == 1 for r in out)


def test_quality_filter_reason_bits(spark):
    from scarf_spark.operators.text import quality_filter

    docs = spark.createDataFrame(
        [
            (1, "the of and to in is it that for a " * 30),   # long, en, high quality
            (2, "zz"),                                         # too short + low quality
            (3, "le la les et est un une pour dans que " * 30),  # fr -> lang reject
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in
           quality_filter(docs, min_chars=100, min_quality=0.3,
                          langs=("en", "de")).collect()}
    assert out[1]["keep"] is True and out[1]["reasons"] == 0
    assert out[2]["keep"] is False and out[2]["reasons"] & 1
    assert out[3]["keep"] is False and out[3]["reasons"] == 2


def test_decontaminate_flags_overlap(spark):
    from scarf_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),        # contains the benchmark 8-gram
            (2, "one two three four five six seven eight nine"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "a b c d e f g h")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["n_contaminated_ngrams"]
           for r in decontaminate(train, bench, n=8).collect()}
    assert out == {1: 1}


def test_range_frame_counts_trailing_window(spark):
    import datetime as dt

    from scarf_spark.operators.windows import range_frame_agg

    base = dt.datetime(2026, 1, 1)
    rows = [
        (1, 1, base, 1.0),
        (2, 1, base + dt.timedelta(seconds=1800), 2.0),
        (3, 1, base + dt.timedelta(seconds=5400), 4.0),  # 1st is out of range
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, value double")
    out = {r["event_id"]: (r["n_in_window"], r["sum_in_window"])
           for r in range_frame_agg(df, window_seconds=3600).collect()}
    assert out[1] == (1, 1.0)
    assert out[2] == (2, 3.0)
    assert out[3] == (2, 6.0)  # events at t=1800 and t=5400 only


def test_unigram_logprob_orders_docs(spark):
    import math

    from scarf_spark.operators.text import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "common common common"), (2, "rare")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in unigram_logprob(docs).collect()}
    # corpus: common x3, rare x1, total 4
    assert out[1]["n_tokens"] == 3
    assert out[1]["mean_logprob"] == round(math.log(3 / 4), 6)
    assert out[2]["mean_logprob"] == round(math.log(1 / 4), 6)
    assert out[1]["mean_logprob"] > out[2]["mean_logprob"]


def test_funnel_sequence_constraint(spark):
    import datetime as dt

    from scarf_spark.operators.windows import funnel_stages

    base = dt.datetime(2026, 1, 1)

    def ev(eid, u, t, secs):
        return (eid, u, t, base + dt.timedelta(seconds=secs))

    rows = [
        # user 1: full ordered funnel
        ev(1, 1, "signup", 0), ev(2, 1, "click", 10), ev(3, 1, "purchase", 20),
        # user 2: purchase BEFORE click -> stops at click
        ev(4, 2, "signup", 0), ev(5, 2, "purchase", 5), ev(6, 2, "click", 10),
        # user 3: never signed up -> not even stage 1
        ev(7, 3, "click", 0), ev(8, 3, "purchase", 10),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    out = {r["stage_name"]: r["n_users"]
           for r in funnel_stages(df, ["signup", "click", "purchase"]).collect()}
    assert out == {"signup": 2, "click": 2, "purchase": 1}


def test_cohort_retention_offsets(spark):
    import datetime as dt

    from scarf_spark.operators.windows import cohort_retention

    base = dt.datetime(2026, 1, 5)
    week = dt.timedelta(days=7)
    rows = [
        (1, 1, base), (2, 1, base + week),          # active weeks 0 and 1
        (3, 2, base), (4, 2, base + 2 * week),      # active weeks 0 and 2
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = {(r["cohort"], r["offset"]): r["n_users"]
           for r in cohort_retention(df).collect()}
    c = min(k[0] for k in out)
    assert out[(c, 0)] == 2
    assert out[(c, 1)] == 1
    assert out[(c, 2)] == 1


def test_group_entropy_uniform_and_point(spark):
    import math

    from scarf_spark.operators.aggregate import group_entropy

    rows = [("u", t) for t in ["a", "b", "c", "d"]] + [("v", "a")] * 5
    df = spark.createDataFrame(rows, "g string, t string")
    out = {r["g"]: r["entropy"] for r in group_entropy(df, "g", "t").collect()}
    assert out["u"] == round(math.log(4), 6)  # uniform over 4 labels
    assert out["v"] == 0.0                    # point mass


def test_size_factors_scale_recovery(spark):
    """A cell whose counts are exactly 2x another's gets a 2x size
    factor — the invariant DESeq2's median-of-ratios is built for."""
    from scarf_spark.operators.normalize import size_factors_mor

    base = [(1, f, float(v)) for f, v in zip(range(5), [2, 4, 8, 4, 2])]
    doubled = [(2, f, 2.0 * v) for _, f, v in base]
    counts = spark.createDataFrame(
        base + doubled, "cell_id long, feat_id long, value double"
    )
    out = {r["cell_id"]: r["size_factor"]
           for r in size_factors_mor(counts).collect()}
    assert abs(out[2] / out[1] - 2.0) < 1e-6


def test_ewma_final_matches_sequential(spark):
    """The relational fold replays the recursion y_t = a*x_t + (1-a)*y_{t-1}
    exactly, including the y_0 = x_0 init and (ts, id) tie-breaking."""
    import datetime as dt

    from scarf_spark.operators.windows import ewma_final

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 7, 10.0), (1, t0 + dt.timedelta(seconds=1), 8, 4.0),
        (1, t0 + dt.timedelta(seconds=2), 9, 1.0),
        # user 2: single event -> ewma == the value
        (2, t0, 10, 5.0),
        # user 3: two events sharing a timestamp -> event_id breaks the tie
        (3, t0, 12, 2.0), (3, t0, 11, 8.0),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )
    out = {r["user_id"]: (r["n_events"], r["ewma"])
           for r in ewma_final(ev, alpha=0.5).collect()}
    # user 1: y = 10 -> 0.5*4+0.5*10 = 7 -> 0.5*1+0.5*7 = 4
    assert out[1] == (3, 4.0)
    assert out[2] == (1, 5.0)
    # user 3 ordered by event_id at the tied ts: init 8, then 0.5*2+0.5*8
    assert out[3] == (2, 5.0)


def test_collocation_pmi_known_corpus(spark):
    """Hand-checked PMI: a bigram that always co-occurs scores higher
    than one diluted by independent occurrences of its words."""
    import math

    from scarf_spark.operators.text import collocation_pmi

    docs = spark.createDataFrame(
        [(1, "new york new york"), (2, "the cat the dog")],
        "doc_id long, text string",
    )
    out = {r["ngram"]: (r["n_occurrences"], r["pmi"])
           for r in collocation_pmi(docs, n_top=10).collect()}
    # corpus: 8 unigrams, 6 bigram positions
    # "new york": cb=2, c(new)=2, c(york)=2 -> ln(2*64/(6*4)) = ln(16/3)
    assert out["new york"][0] == 2
    assert abs(out["new york"][1] - round(math.log(2 * 8.0 * 8 / (6.0 * 2 * 2)), 6)) < 1e-9


def test_ohlc_bars_toy(spark):
    import datetime as dt

    from scarf_spark.operators.windows import ohlc_bars

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, 5.0), (1, t0 + dt.timedelta(hours=1), 2, 9.0),
        (1, t0 + dt.timedelta(hours=2), 3, 2.0),
        (1, t0 + dt.timedelta(hours=3), 4, 7.0),
        # next day, single event
        (1, t0 + dt.timedelta(days=1), 5, 3.0),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )
    out = {(r["user_id"], r["bucket"]): (r["open"], r["high"], r["low"], r["close"], r["n_events"])
           for r in ohlc_bars(ev, bucket_seconds=86400).collect()}
    d0 = int(t0.replace(tzinfo=dt.timezone.utc).timestamp()) // 86400
    assert out[(1, d0)] == (5.0, 9.0, 2.0, 7.0, 4)
    assert out[(1, d0 + 1)] == (3.0, 3.0, 3.0, 3.0, 1)


def test_modularity_two_cliques(spark):
    """Two disjoint triangles under their own labels: every edge is
    within-cluster and Q = sum of contributions = 1/2 for two equal
    communities with no inter-edges."""
    from scarf_spark.operators.graph import modularity

    tri = lambda a, b, c: [(a, b), (b, c), (a, c)]
    edges = spark.createDataFrame(
        tri(0, 1, 2) + tri(10, 11, 12), "src long, dst long"
    )
    labels = spark.createDataFrame(
        [(v, v // 10) for v in [0, 1, 2, 10, 11, 12]], "node long, cluster long"
    )
    out = {r["cluster"]: r for r in modularity(edges, labels).collect()}
    # symmetrized: 2m = 12, each cluster: E_c = 6, D_c = 6
    for c in (0, 1):
        assert out[c]["e_within"] == 6 and out[c]["deg_sum"] == 6
        assert out[c]["q_contrib"] == round(6 / 12.0 - (6 / 12.0) ** 2, 6)


def test_hash_split_deterministic_and_complete(spark):
    from scarf_spark.operators.filters import hash_split

    df = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    out = hash_split(df, "doc_id").collect()
    assert len(out) == 1000
    by_split = {}
    for r in out:
        assert r["split"] == ("train" if r["bucket"] < 80 else "val" if r["bucket"] < 90 else "test")
        by_split[r["split"]] = by_split.get(r["split"], 0) + 1
    # rough proportions (hash uniformity), exact determinism on repeat
    assert 700 < by_split["train"] < 900
    again = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id").collect()}
    assert all(again[r["doc_id"]] == r["split"] for r in out)


def test_event_transitions_probabilities(spark):
    import datetime as dt

    from scarf_spark.operators.windows import event_transitions

    t0 = dt.datetime(2024, 1, 1)
    seq = ["a", "b", "a", "c"]  # transitions: a->b, b->a, a->c
    rows = [(1, t0 + dt.timedelta(seconds=i), i, s) for i, s in enumerate(seq)]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = {(r["prev_type"], r["next_type"]): (r["n"], r["prob"])
           for r in event_transitions(ev).collect()}
    assert out[("a", "b")] == (1, 0.5) and out[("a", "c")] == (1, 0.5)
    assert out[("b", "a")] == (1, 1.0)


def test_gini_extremes(spark):
    from scarf_spark.operators.aggregate import gini_per_group

    rows = [("eq", i, 5.0) for i in range(4)] + [
        ("conc", 0, 0.0), ("conc", 1, 0.0), ("conc", 2, 0.0), ("conc", 3, 100.0)
    ]
    df = spark.createDataFrame(rows, "g string, id long, v double")
    out = {r["g"]: r["gini"] for r in gini_per_group(df, "g", "v", "id").collect()}
    assert out["eq"] == 0.0           # perfectly equal -> 0
    assert out["conc"] == 0.75        # all mass in 1 of 4 -> (n-1)/n


def test_iqr_outliers_flags_extreme(spark):
    from scarf_spark.operators.filters import iqr_outliers

    rows = [(i, float(v)) for i, v in enumerate([10, 11, 12, 13, 14, 100])]
    df = spark.createDataFrame(rows, "id long, v double")
    out = {r["id"]: r["is_outlier"] for r in iqr_outliers(df, "v", "id").collect()}
    assert out[5] is True and not any(out[i] for i in range(5))


def test_robust_scale_median_zero_iqr(spark):
    from scarf_spark.operators.normalize import robust_scale_per_feature

    rows = [(c, 1, float(v)) for c, v in enumerate([1, 2, 3, 4])] + [
        (c, 2, 7.0) for c in range(3)  # constant feature -> IQR 0 -> 0.0
    ]
    counts = spark.createDataFrame(rows, "cell_id long, feat_id long, value double")
    out = {(r["cell_id"], r["feat_id"]): r["robust_value"]
           for r in robust_scale_per_feature(counts).collect()}
    # feat 1: median 2.5, IQR 1.5 -> value 4 scales to 1.0
    assert out[(3, 1)] == 1.0
    assert all(out[(c, 2)] == 0.0 for c in range(3))


def test_equiwidth_histogram_bins(spark):
    from scarf_spark.operators.aggregate import equiwidth_histogram

    rows = [("g", float(v)) for v in range(11)]  # 0..10, width 1 over 10 bins
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["bin"]: r["n"] for r in equiwidth_histogram(df, "g", "v").collect()}
    # each bin gets one value, the top edge (10.0) folds into bin 9
    assert out == {i: (2 if i == 9 else 1) for i in range(10)}


def test_modal_value_tie_break(spark):
    from scarf_spark.operators.aggregate import modal_value

    rows = [("g", 2.0), ("g", 2.0), ("g", 1.0), ("g", 1.0), ("g", 3.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = modal_value(df, "g", "v").collect()
    assert len(out) == 1 and out[0]["modal_value"] == 1.0 and out[0]["n"] == 2


def test_cosine_radius_matches_bruteforce(spark):
    import numpy as np

    from scarf_spark.operators.knn import cosine_radius

    rng = np.random.RandomState(7)
    vecs = rng.randn(30, 8).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["src"], r["dst"]) for r in cosine_radius(emb, radius=0.8).collect()}
    m = vecs.astype("float64")
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    d = 1.0 - m @ m.T
    want = {(i, j) for i in range(30) for j in range(30)
            if i != j and round(d[i, j], 6) <= 0.8}
    assert got == want


def test_feature_cooccurrence_counts(spark):
    from scarf_spark.operators.aggregate import feature_cooccurrence

    rows = [(0, 1, 1.0), (0, 2, 1.0), (1, 1, 1.0), (1, 2, 1.0), (1, 3, 1.0)]
    counts = spark.createDataFrame(rows, "cell_id long, feat_id long, value double")
    out = {(r["fa"], r["fb"]): r["n_cells"]
           for r in feature_cooccurrence(counts).collect()}
    assert out == {(1, 2): 2, (1, 3): 1, (2, 3): 1}


def test_feature_cooccurrence_bounded_subset(spark):
    from scarf_spark.operators.aggregate import feature_cooccurrence

    # feats 1,2 in every cell (prevalence 4); feat 3 in one cell with a
    # huge value (prevalence 1 but max variance); feat 4 once, value 1
    rows = []
    for c in range(4):
        rows += [(c, 1, 1.0), (c, 2, 1.0)]
    rows += [(0, 3, 90.0), (1, 4, 1.0)]
    counts = spark.createDataFrame(rows, "cell_id long, feat_id long, value double")

    prev = {(r["fa"], r["fb"]): r["n_cells"]
            for r in feature_cooccurrence(counts, max_features=2).collect()}
    assert prev == {(1, 2): 4}  # prevalence keeps feats 1,2 only

    # variance key N·Σv² − (Σv)²: feat 3 → 4·8100 − 8100 = 24300 wins;
    # feats 1,2 → 4·4 − 16 = 0; feat 4 → 4 − 1 = 3; ties break by id
    var = {(r["fa"], r["fb"]): r["n_cells"]
           for r in feature_cooccurrence(
               counts, max_features=2, rank_by="variance").collect()}
    assert var == {(3, 4): 0} or var == {}  # 3 and 4 never co-occur
    assert var == {}


def test_cross_sharded_knn_matches_broadcast(spark):
    from scarf_spark.operators.knn import (
        cosine_knn_cross,
        cosine_knn_cross_sharded,
    )

    rng = np.random.RandomState(23)
    ref = [(i, [float(x) for x in rng.randn(8)]) for i in range(0, 60, 2)]
    tgt = [(i, [float(x) for x in rng.randn(8)]) for i in range(1, 41, 2)]
    rdf = spark.createDataFrame(ref, "vec_id long, embedding array<double>")
    tdf = spark.createDataFrame(tgt, "vec_id long, embedding array<double>")
    dense = {(r["src"], r["rank"]): (r["dst"], r["distance"])
             for r in cosine_knn_cross(tdf, rdf, k=3).collect()}
    grid = {(r["src"], r["rank"]): (r["dst"], r["distance"])
            for r in cosine_knn_cross_sharded(tdf, rdf, k=3, n_shards=5).collect()}
    assert grid == dense
    assert len(grid) == 20 * 3


def test_sharded_knn_matches_exact(spark):
    from scarf_spark.operators.knn import cosine_knn_exact, cosine_knn_sharded

    rng = np.random.RandomState(11)
    vecs = rng.randn(40, 8)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {(r["src"], r["rank"]): (r["dst"], r["distance"])
             for r in cosine_knn_exact(emb, k=4).collect()}
    sharded = {(r["src"], r["rank"]): (r["dst"], r["distance"])
               for r in cosine_knn_sharded(emb, k=4, n_shards=5).collect()}
    assert sharded == exact


def test_ngram_jaccard_df_cap_and_pairs(spark):
    from scarf_spark.operators.dedup import ngram_jaccard

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat sat on the rug"),
            (3, "a dog ran in the park"),
            (4, "the cat sat on the mat"),  # dup of 1
        ],
        "doc_id long, text string",
    )
    # unrestricted: 1-2, 1-4, 2-4 intersect ("the cat sat" etc.)
    allp = {(r["a"], r["b"]): r["jaccard"] for r in ngram_jaccard(docs).collect()}
    assert allp[(1, 4)] == 1.0
    # pair restriction lands below the aggregate: only requested pairs out
    pairs = spark.createDataFrame([(1, 4)], "a long, b long")
    only = {(r["a"], r["b"]) for r in ngram_jaccard(docs, pairs=pairs).collect()}
    assert only == {(1, 4)}
    # df_cap=2 drops shingles present in >2 docs ("the cat sat" in 3)
    capped = {(r["a"], r["b"]): r["jaccard"]
              for r in ngram_jaccard(docs, df_cap=2).collect()}
    assert (1, 4) in capped and capped[(1, 4)] == 1.0


def test_pagerank_checkpoint_long_iteration(spark):
    # n_iter above the checkpoint interval exercises localCheckpoint
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src long, dst long"
    )
    out = {r["v"]: r["pagerank"] for r in pagerank(edges, n_iter=12).collect()}
    assert set(out) == {1, 2, 3}
    assert abs(sum(out.values()) - 1.0) < 1e-6


def test_duplicated_ngram_spans(spark):
    from scarf_spark.operators.dedup import (
        duplicated_ngram_spans,
        duplicated_span_ratio,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e x y z a b c d e"),   # "a b c" etc dup with doc 2
            (2, "q a b c d e r s t u v w"),
            (3, "n o p m l k j i h g f"),        # unique
        ],
        "doc_id long, text string",
    )
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"]): r["n_windows"]
        for r in duplicated_ngram_spans(docs, n=3, min_occurrences=2).collect()
    }
    # doc 1: "a b c d e" at pos 0..4 (windows 0,1,2) and 8..12 (8,9,10)
    assert (1, 0, 5) in spans and spans[(1, 0, 5)] == 3
    assert (1, 8, 13) in spans
    # doc 2: "a b c d e" at pos 1..5
    assert (2, 1, 6) in spans
    assert not any(d == 3 for d, _, _ in spans)
    ratio = {r["doc_id"]: r for r in
             duplicated_span_ratio(docs, n=3, min_occurrences=2).collect()}
    assert ratio[3]["dup_ppm"] == 0
    assert ratio[1]["dup_tokens"] == 10 and ratio[1]["n_tokens"] == 13
    assert ratio[1]["dup_ppm"] == 10 * 1_000_000 // 13


def test_verified_minhash_clustering(spark):
    from scarf_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog " * 6
    docs = spark.createDataFrame(
        [(1, base), (2, base + "extra tail words here"),
         (3, "completely different content with no shared shingles at all "
             "padding padding padding pad pad pad")],
        "doc_id long, text string",
    )
    cand = dedup.minhash_candidate_pairs(docs, n=3, n_hashes=8, n_bands=4)
    jac = dedup.ngram_jaccard(docs, pairs=cand, n=3, df_cap=100)
    from pyspark.sql import functions as F
    edges = jac.where(F.col("jaccard") >= 0.5).select("a", "b")
    comp = dedup.min_label_components(edges, docs, n_iter=3)
    lab = {r["doc_id"]: r["cluster"] for r in comp.collect()}
    assert lab[1] == lab[2] == 1  # near-dups share the min label
    assert lab[3] == 3            # distinct doc stays a singleton


def test_hll_distinct_estimates(spark):
    from scarf_spark.operators.aggregate import hll_distinct

    rows = [("big", i) for i in range(5000)] + [("tiny", i) for i in range(8)]
    df = spark.createDataFrame(rows, "grp string, key long")
    out = {r["grp"]: r.asDict() for r in
           hll_distinct(df, "grp", "key", p=6).collect()}
    assert out["big"]["exact_ndv"] == 5000
    # m=64 -> ~13% std error; allow 3 sigma
    assert 3000 < out["big"]["est_ndv"] < 7000
    # small range uses linear counting over 64 registers: near-exact
    assert out["tiny"]["exact_ndv"] == 8
    assert 5 <= out["tiny"]["est_ndv"] <= 12
    assert out["tiny"]["n_zero_regs"] > 50


def test_bpe_train_merges_learns_frequent_pair(spark):
    from scarf_spark.operators.text import bpe_train_merges

    docs = spark.createDataFrame(
        [(1, "low low low lower lower newest newest newest newest")],
        "doc_id long, text string",
    )
    out = [r.asDict() for r in bpe_train_merges(docs, n_merges=3).collect()]
    assert [r["step"] for r in out] == [1, 2, 3]
    # 'w e' spans 'lower'(2) and 'newest'(4): weighted count 6, the
    # unique argmax of step 1
    assert out[0]["pair"] == "w e"
    assert out[0]["pair_count"] == 6
    assert out[0]["merged"] == "we"
    # merges chain: a later merged symbol contains an earlier one
    merged = [r["merged"] for r in out]
    assert all(" " not in m for m in merged)
    # deterministic
    out2 = [r.asDict() for r in bpe_train_merges(docs, n_merges=3).collect()]
    assert out == out2


def test_kcore_hindex_exact_on_clique_plus_tail(spark):
    from scarf_spark.operators.graph import kcore_hindex

    # 4-clique (coreness 3) with a pendant path 100-101 (coreness 1)
    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges += [(0, 100), (100, 101)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["node"]: r["coreness"] for r in kcore_hindex(df, n_iter=3).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3, 100: 1, 101: 1}


def test_profile_columns(spark):
    from scarf_spark.operators.aggregate import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a")], "id long, s string"
    )
    out = {r["column"]: r.asDict() for r in profile_columns(df).collect()}
    assert out["id"] == {"column": "id", "n_rows": 3, "n_nulls": 0,
                         "ndv": 3, "min_value": "1", "max_value": "3"}
    assert out["s"]["n_nulls"] == 1 and out["s"]["ndv"] == 1
    assert out["s"]["min_value"] == out["s"]["max_value"] == "a"


def test_weighted_sample_bias_and_determinism(spark):
    from scarf_spark.operators.filters import weighted_sample

    # 200 light rows (w=1) + 200 heavy rows (w=50): heavy rows must
    # dominate the sample; zero-weight rows never selected
    rows = ([(i, "g", 1.0) for i in range(200)]
            + [(1000 + i, "g", 50.0) for i in range(200)]
            + [(5000 + i, "g", 0.0) for i in range(10)])
    df = spark.createDataFrame(rows, "doc_id long, grp string, w double")
    got = [r["doc_id"] for r in
           weighted_sample(df, "w", "doc_id", k=50, group_col="grp").collect()]
    assert len(got) == 50
    heavy = sum(1 for d in got if 1000 <= d < 2000)
    assert heavy > 40          # E[heavy] = 50 * 50/51 ≈ 49
    assert all(d < 5000 for d in got)  # zero weights excluded
    again = [r["doc_id"] for r in
             weighted_sample(df, "w", "doc_id", k=50, group_col="grp").collect()]
    assert sorted(got) == sorted(again)


def test_incremental_minhash_matches_full_recompute(spark):
    from scarf_spark.operators.dedup import (
        incremental_minhash_candidates,
        lsh_band_buckets_wide,
        minhash_candidate_pairs,
        minhash_signatures_wide,
        word_shingles,
    )

    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [(i, base + f"tail {i % 3}") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old = docs.where("doc_id % 4 != 0")
    new = docs.where("doc_id % 4 = 0")
    stored = lsh_band_buckets_wide(
        minhash_signatures_wide(word_shingles(old, 3, distinct=False), 8), 8, 4
    )
    inc, new_buckets = incremental_minhash_candidates(new, stored)
    got = {(r["a"], r["b"]) for r in inc.collect()}
    full = {(r["a"], r["b"]) for r in minhash_candidate_pairs(docs).collect()}
    want = {(a, b) for a, b in full if a % 4 == 0 or b % 4 == 0}
    assert got == want and got  # non-empty: tails repeat every 3 docs
    # appending the new buckets makes the store complete for next batch
    assert new_buckets.count() == new.count() * 4


def test_hist_quantiles_close_to_exact(spark):
    from scarf_spark.operators.aggregate import exact_quantiles, hist_quantiles

    vals = [float(x) for x in range(1, 1001)]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    hq = hist_quantiles(df, "g", "v", n_bins=1024).collect()[0]
    eq = exact_quantiles(df, "g", "v").collect()[0]
    # bin width < 1 at this range: estimates within one bin of exact
    for q in (25, 50, 75):
        assert abs(hq[f"q{q}_est"] - eq[f"q{q}"]) <= (1000 - 1) / 1024 + 0.5
    assert hq["n"] == 1000
    # degenerate group: all values equal -> every quantile is the value
    one = spark.createDataFrame([("g", 7.0)] * 5, "g string, v double")
    row = hist_quantiles(one, "g", "v").collect()[0]
    assert row["q25_est"] == row["q50_est"] == row["q75_est"] == 7.0


def test_connected_components_converges_beyond_fixed_hops(spark):
    from scarf_spark.operators.graph import connected_components

    # a 12-node path (diameter 11 — far beyond 3 label-prop hops)
    # plus a separate triangle
    edges = [(i, i + 1) for i in range(11)] + [(100, 101), (101, 102), (102, 100)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert all(out[i] == 0 for i in range(12))
    assert out[100] == out[101] == out[102] == 100


def test_star_contraction_matches_fixpoint(spark):
    """The O(log n)-round star-contraction variant must be label-
    identical to the min-label fixpoint on (a) a long path — the
    high-diameter case it exists for — and (b) a messier multi-
    component graph with duplicate/reversed edges."""
    import random

    from scarf_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    # 40-node path: diameter 39; star contraction must converge in
    # far fewer than 39 rounds (max_rounds=8 forces the log behavior)
    edges = [(i, i + 1) for i in range(39)]
    df = spark.createDataFrame(edges, "src long, dst long")
    ref = {r["node"]: r["component"] for r in connected_components(df).collect()}
    got = {
        r["node"]: r["component"]
        for r in connected_components_star(df, max_rounds=8).collect()
    }
    assert got == ref and all(v == 0 for v in got.values())

    rng = random.Random(5)
    messy = (
        [(rng.randrange(30), rng.randrange(30)) for _ in range(40)]
        + [(200, 201), (201, 200), (300, 300)]
    )
    df2 = spark.createDataFrame(messy, "src long, dst long")
    ref2 = {r["node"]: r["component"] for r in connected_components(df2).collect()}
    got2 = {
        r["node"]: r["component"] for r in connected_components_star(df2).collect()
    }
    assert got2 == ref2

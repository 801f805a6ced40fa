"""Deduplication operators for large-scale text corpora (the
training-data-pipeline extension; not in the reference, designed
Spark-first for 100 TB corpora).

Families:
  * exact        — content-hash groupBy; one shuffle on the hash.
  * MinHash+LSH  — word-shingles → per-(doc, seed) lexicographic-min
                   md5 signature → banded bucket join. The classic
                   shingle→minhash→band→bucket-join pipeline: candidate
                   generation is an equi-join on (band, band_hash), so
                   the quadratic comparison is confined to buckets.
  * SimHash      — sign-summed term-hash bits → 16-bit fingerprint;
                   near-dups share fingerprints (or low Hamming dist).
  * n-gram Jaccard — exact set overlap for candidate pairs via a
                   shingle equi-join (verification stage after LSH).
  * embedding    — cosine-threshold pairs from the KNN operators
                   (scarf_spark.operators.knn).

All hashing is md5-based and engine-portable (the DuckDB oracle
reproduces every stage bit-for-bit) — and deterministic, which is what
you want for reproducible corpus releases.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content hash: per doc, the canonical
    (minimum) doc id of its content group and the group size. keep =
    (doc == canonical)."""
    hashed = docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("h"))
    w = Window.partitionBy("h")
    return hashed.select(
        id_col,
        F.min(id_col).over(w).alias("canonical_id"),
        F.count("*").over(w).alias("group_size"),
        (F.col(id_col) == F.min(id_col).over(w)).alias("keep"),
    )


def word_shingles(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    distinct: bool = True,
) -> DataFrame:
    """Word n-gram shingles per doc: (doc_id, shingle).
    Documents are whitespace-tokenized; shingles built JVM-side with
    higher-order array functions (no Python, no UDF).

    ``distinct=False`` skips the dedup shuffle — correct for any
    duplicate-insensitive consumer (e.g. the MIN aggregate of minhash),
    wrong for set-cardinality consumers (Jaccard)."""
    # materialize the token array as a real column FIRST: an inline
    # split() expression referenced from inside a higher-order-function
    # lambda is re-evaluated per element reference (no common-subexpr
    # elimination across the HOF boundary) — a ~10× slowdown on real text
    tok = docs.select(F.col(id_col), F.split(F.col(text_col), " ").alias("_w"))
    words = F.col("_w")
    # guard: Spark's sequence(0, stop) walks BACKWARDS when stop < 0, so
    # short documents must yield an empty shingle list explicitly
    idx = F.when(
        F.size(words) >= n, F.sequence(F.lit(0), F.size(words) - n)
    ).otherwise(F.array().cast("array<int>"))
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(words, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    out = tok.select(F.col(id_col), F.explode(sh).alias("shingle")).where(
        F.col("shingle").isNotNull()
    )
    return out.distinct() if distinct else out


def minhash_signatures_wide(
    shingles: DataFrame, n_hashes: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """All n_hashes minhashes in ONE hash aggregation: per-seed MIN
    expressions computed map-side (partial agg) — no seeds cross join,
    no n_hashes× row blowup through the shuffle. (doc_id, mh0..mhN).

    Minhash ``mh{s}`` is the numeric min of the first 60 bits of
    md5(seed || '_' || shingle) — engine-exact (both sides parse the
    same 15 hex chars to a BIGINT) and, unlike a min over hex STRINGS,
    aggregated in primitive long state: at 20M shingles the
    string-state hash agg measured ~4x slower (tools/scale_smoke)."""
    aggs = [
        F.min(
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{s}_"), F.col("shingle"))), 1, 15),
                16,
                10,
            ).cast("long")
        ).alias(f"mh{s}")
        for s in range(n_hashes)
    ]
    return shingles.groupBy(id_col).agg(*aggs)


def lsh_band_buckets_wide(
    wide: DataFrame, n_hashes: int = 8, n_bands: int = 4, id_col: str = "doc_id"
) -> DataFrame:
    """Band buckets straight from the wide signature row — pure
    projection, zero extra shuffles: (doc_id, band, bucket)."""
    rows_per_band = n_hashes // n_bands
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"mh{b * rows_per_band + j}").cast("string")
                        for j in range(rows_per_band)
                    ],
                )
            ).alias("bucket"),
        )
        for b in range(n_bands)
    ])
    return wide.select(id_col, F.explode(bands).alias("_b")).select(
        id_col, F.col("_b.band").alias("band"), F.col("_b.bucket").alias("bucket")
    )


def identical_classes(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-duplicate class map ``(doc_id, rep)``: rep = min doc id
    sharing ``md5(text)`` (the :func:`exact_dedup` hash). One shuffle
    on the content hash; the window's per-class task is linear in
    class size (it is the k² PAIRS downstream that must never
    materialize, not the k class rows)."""
    hashed = docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("_h"))
    w = Window.partitionBy("_h")
    return hashed.select(
        F.col(id_col), F.min(id_col).over(w).alias("rep")
    )


def lsh_collapse_chain(
    docs: DataFrame,
    n: int = 3,
    n_hashes: int = 8,
    n_bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
    classes: DataFrame | None = None,
) -> dict:
    """The identical-doc-collapsed MinHash-LSH chain (round 13): group
    docs by content hash, run shingle→minhash→band→candidate on ONE
    representative per class, and hand downstream stages the pieces to
    re-expand members. Why: identical docs share every band bucket, so
    the uncollapsed bucket self-join materializes class_size² join rows
    PER BAND through a shuffle+distinct — the 10M scale smoke (SCALE.md
    round 12) measured candidate pairs growing with the SQUARE of
    identical-class size, and boilerplate/templated docs make such
    classes at 100 TB. Collapsed, every per-row stage is linear in the
    number of DISTINCT texts; exact-dup structure rides along as the
    O(|docs|) class map (same class ⇒ same component, for free).

    Returns ``{"classes": (doc_id, rep), "rep_shingles": raw
    duplicate-preserving (doc_id, shingle) of representatives only,
    "sig_reps": (rep) reps with ≥1 shingle — docs shorter than n words
    never enter a bucket, so their classes must NOT pair up,
    "rep_pairs": (ra, rb) rep-level LSH candidates}``. All frames are
    lazy; pipelines that fan out persist the pieces they share.

    ``shingles``/``classes`` reuse pre-built (persisted) tables."""
    if classes is None:
        classes = identical_classes(docs, text_col, id_col)
    reps = classes.where(F.col(id_col) == F.col("rep")).select(id_col)
    if shingles is not None:
        rep_sh = shingles.join(reps, id_col, "left_semi")
    else:
        rep_docs = docs.join(reps, id_col, "left_semi")
        rep_sh = word_shingles(rep_docs, n, text_col, id_col, distinct=False)
    wide = minhash_signatures_wide(rep_sh, n_hashes, id_col)
    # two consumers (buckets + the sig-rep set): cut the lineage so the
    # minhash aggregation runs once
    wide = wide.localCheckpoint(eager=False)
    sig_reps = wide.select(F.col(id_col).alias("rep"))
    buckets = lsh_band_buckets_wide(wide, n_hashes, n_bands, id_col)
    a = buckets.select(F.col(id_col).alias("ra"), "band", "bucket")
    b = buckets.select(F.col(id_col).alias("rb"), "band", "bucket")
    rep_pairs = (
        a.join(b, ["band", "bucket"])
        .where(F.col("ra") < F.col("rb"))
        .select("ra", "rb")
        .distinct()
    )
    return {
        "classes": classes,
        "rep_shingles": rep_sh,
        "sig_reps": sig_reps,
        "rep_pairs": rep_pairs,
    }


def expand_candidate_pairs(
    rep_pairs: DataFrame,
    classes: DataFrame,
    sig_reps: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Re-expand rep-level LSH candidates into the EXACT member-level
    pair set the uncollapsed chain would emit: inter-class pairs are
    the member cross product of each candidate rep pair (identical
    docs collide in exactly the buckets their rep does), intra-class
    pairs are all-pairs within each multi-member class whose rep has a
    signature (shingle-less classes never bucket, hence never pair).
    No ``distinct`` needed: a member pair maps to exactly one class
    pair, and inter/intra are disjoint. NOTE the intra output is
    inherently O(class²) ROWS — pair-set consumers (the graded
    dedup_minhash_bands oracle) pay that in output size only;
    connectivity consumers should take :func:`star_expand_edges`
    instead, which is O(class).

    Expansion fans out ONLY through multi-member classes: on a
    mostly-unique corpus the class map is |docs| rows of singletons,
    and joining the rep pairs (and the intra self-join) through it
    would shuffle the whole corpus twice to expand nothing — the
    measured 15% chain overhead on the dup-free 10M smoke. Singleton
    reps pass through with a coalesce; the multi-class member table is
    duplicate-sized, typically tiny, and broadcastable by AQE."""
    mm = _multi_members(classes, id_col)
    ma = mm.select(F.col("rep").alias("ra"), F.col(id_col).alias("_ma"))
    mb = mm.select(F.col("rep").alias("rb"), F.col(id_col).alias("_mb"))
    inter = (
        rep_pairs.join(ma, "ra", "left")
        .join(mb, "rb", "left")
        .select(
            F.least(
                F.coalesce("_ma", F.col("ra")), F.coalesce("_mb", F.col("rb"))
            ).alias("a"),
            F.greatest(
                F.coalesce("_ma", F.col("ra")), F.coalesce("_mb", F.col("rb"))
            ).alias("b"),
        )
    )
    sig_members = mm.join(sig_reps, "rep", "left_semi")
    x = sig_members.select("rep", F.col(id_col).alias("a"))
    y = sig_members.select("rep", F.col(id_col).alias("b"))
    intra = x.join(y, "rep").where(F.col("a") < F.col("b")).select("a", "b")
    return inter.unionByName(intra)


def _multi_members(classes: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """All members (REP INCLUDED) of classes with ≥2 members — the
    only rows member re-expansion can fan out through. Duplicate-sized
    (sum of multi-class sizes), not corpus-sized."""
    multi = (
        classes.where(F.col(id_col) != F.col("rep")).select("rep").distinct()
    )
    return classes.join(multi, "rep", "left_semi")


def star_expand_edges(
    rep_edges: DataFrame,
    classes: DataFrame,
    eligible_reps: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """O(|members|) edge set with IDENTICAL connectivity to the full
    :func:`expand_candidate_pairs` expansion: the rep-level edges as
    they are (reps are members too), plus one (member, rep) star edge
    per non-rep member of every class whose rep is in
    ``eligible_reps`` — a same-class clique and its star have the same
    connected components, so exact component labeling (and its min-id
    cluster labels) is unchanged while a 10⁶-member boilerplate class
    contributes 10⁶−1 edges instead of ~10¹². ``eligible_reps``
    gates which classes self-connect: sig_reps for raw LSH candidates,
    the capped-nonempty rep set for Jaccard-verified edges."""
    stars = (
        classes.where(F.col(id_col) != F.col("rep"))
        .join(eligible_reps, "rep", "left_semi")
        .select(F.col("rep").alias("a"), F.col(id_col).alias("b"))
    )
    return rep_edges.select(
        F.col(rep_edges.columns[0]).alias("a"),
        F.col(rep_edges.columns[1]).alias("b"),
    ).unionByName(stars)


def minhash_candidate_pairs(
    docs: DataFrame,
    n: int = 3,
    n_hashes: int = 8,
    n_bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
    collapse_identical: bool = True,
) -> DataFrame:
    """Near-duplicate candidate pairs (a < b) sharing ≥1 LSH band
    bucket. Execution shape (``collapse_identical=True``, the scale
    default): content-hash class collapse → shingle-explode of ONE
    representative per class → ONE hash agg (all minhashes as per-seed
    MIN expressions, banded by projection) → one equi-self-join on
    (band, bucket) over reps → member re-expansion. Identical output
    to the uncollapsed chain (asserted by tests/test_round13_ops.py),
    but no per-band class_size² rows ever cross a shuffle and
    duplicate docs never tokenize or minhash.

    ``shingles`` (doc_id, shingle) skips the explode — pass the
    persisted shingle table when a pipeline stage (e.g. Jaccard
    verification) shares it, so the corpus tokenizes once."""
    if collapse_identical:
        ch = lsh_collapse_chain(
            docs, n, n_hashes, n_bands, text_col, id_col, shingles
        )
        return expand_candidate_pairs(
            ch["rep_pairs"], ch["classes"], ch["sig_reps"], id_col
        )
    sh = shingles if shingles is not None else word_shingles(
        docs, n, text_col, id_col, distinct=False
    )
    wide = minhash_signatures_wide(sh, n_hashes, id_col)
    buckets = lsh_band_buckets_wide(wide, n_hashes, n_bands, id_col)
    a = buckets.select(F.col(id_col).alias("a"), "band", "bucket")
    b = buckets.select(F.col(id_col).alias("b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def collapsed_rep_jaccard(
    chain: dict, df_cap: int | None = None, id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """Exact n-gram Jaccard over the COLLAPSED chain's rep-level
    candidates — the verify stage run once per distinct text instead
    of once per doc pair. The df cap stays member-exact: a shingle's
    document frequency is the sum of CLASS SIZES over the rep shingle
    table (identical docs each count, exactly as the uncollapsed
    member-level cap counts them), so capping decisions — and hence
    every Jaccard value — are bit-identical to
    :func:`ngram_jaccard` on the full corpus.

    Returns ``(rep_jac, capped_sizes)``: rep-level scored pairs
    (ra, rb, jaccard) restricted to ``chain["rep_pairs"]``, and the
    per-rep capped shingle-set size (rep, sz) — rows exist only for
    reps with ≥1 surviving shingle, which is exactly the set whose
    intra-class pairs score (jaccard 1.0) in the member-level view."""
    sh = chain["rep_shingles"].distinct()
    class_sizes = chain["classes"].groupBy("rep").agg(
        F.count("*").alias("_csz")
    )
    if df_cap is not None:
        keep = (
            sh.join(
                class_sizes.select(F.col("rep").alias(id_col), "_csz"), id_col
            )
            .groupBy("shingle")
            .agg(F.sum("_csz").alias("_df"))
            .where(F.col("_df") <= df_cap)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle", "left_semi")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    x = sh.select(F.col(id_col).alias("ra"), "shingle")
    y = sh.select(F.col(id_col).alias("rb"), "shingle")
    joined = (
        x.join(y, "shingle")
        .where(F.col("ra") < F.col("rb"))
        .join(chain["rep_pairs"], ["ra", "rb"], "left_semi")
    )
    inter = joined.groupBy("ra", "rb").agg(F.count("*").alias("inter"))
    sa = sizes.select(F.col(id_col).alias("ra"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("rb"), F.col("sz").alias("sz_b"))
    rep_jac = (
        inter.join(sa, "ra")
        .join(sb, "rb")
        .select(
            "ra",
            "rb",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
    )
    return rep_jac, sizes.select(F.col(id_col).alias("rep"), "sz")


def expand_pair_scores(
    rep_jac: DataFrame,
    classes: DataFrame,
    capped_sizes: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Member-level (a, b, jaccard) from rep-level scores: inter-class
    member pairs inherit their class pair's score verbatim (identical
    shingle sets ⇒ identical Jaccard), intra-class pairs score exactly
    1.0 wherever the class has ≥1 capped shingle (and are absent
    otherwise — a fully-capped class shares no surviving shingles, so
    the uncollapsed pipeline drops those pairs too). Output row set
    and values bit-match ``ngram_jaccard(docs, pairs=candidates,
    df_cap)``; like :func:`expand_candidate_pairs`, output size — not
    shuffle volume — is quadratic in class size, and the fan-out joins
    touch only multi-member classes (singletons coalesce through)."""
    mm = _multi_members(classes, id_col)
    ma = mm.select(F.col("rep").alias("ra"), F.col(id_col).alias("_ma"))
    mb = mm.select(F.col("rep").alias("rb"), F.col(id_col).alias("_mb"))
    inter = (
        rep_jac.join(ma, "ra", "left")
        .join(mb, "rb", "left")
        .select(
            F.least(
                F.coalesce("_ma", F.col("ra")), F.coalesce("_mb", F.col("rb"))
            ).alias("a"),
            F.greatest(
                F.coalesce("_ma", F.col("ra")), F.coalesce("_mb", F.col("rb"))
            ).alias("b"),
            "jaccard",
        )
    )
    scored_members = mm.join(capped_sizes.select("rep"), "rep", "left_semi")
    x = scored_members.select("rep", F.col(id_col).alias("a"))
    y = scored_members.select("rep", F.col(id_col).alias("b"))
    intra = (
        x.join(y, "rep")
        .where(F.col("a") < F.col("b"))
        .select("a", "b", F.lit(1.0).alias("jaccard"))
    )
    return inter.unionByName(intra)


def incremental_minhash_candidates(
    new_docs: DataFrame,
    stored_buckets: DataFrame,
    n: int = 3,
    n_hashes: int = 8,
    n_bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """INCREMENTAL near-dup candidate generation — the maintenance
    shape a 100 TB corpus actually runs: only the NEW batch is
    tokenized and minhashed; its band buckets probe the STORED bucket
    table (``(doc_id, band, bucket)``, the persisted output of
    :func:`lsh_band_buckets_wide`) with one equi-join. The historical
    corpus never re-tokenizes, never reshuffles — per batch, cost is
    O(|new|) plus the bucket-join fan-out.

    Returns ``(pairs, new_buckets)``: candidate pairs (a < b) covering
    new↔stored AND new↔new collisions, and the new batch's bucket rows
    to append to the store (so the next batch sees this one).
    Identical pair semantics to a full :func:`minhash_candidate_pairs`
    over old ∪ new, RESTRICTED to pairs involving a new doc — asserted
    by the parity test."""
    sh = word_shingles(new_docs, n, text_col, id_col, distinct=False)
    wide = minhash_signatures_wide(sh, n_hashes, id_col)
    new_buckets = lsh_band_buckets_wide(wide, n_hashes, n_bands, id_col)
    both = stored_buckets.select(id_col, "band", "bucket").unionByName(
        new_buckets.select(id_col, "band", "bucket")
    )
    a = new_buckets.select(F.col(id_col).alias("a"), "band", "bucket")
    b = both.select(F.col(id_col).alias("b"), "band", "bucket")
    pairs = (
        a.join(b, ["band", "bucket"])
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    return pairs, new_buckets


def ngram_jaccard(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_cap: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity via a shingle equi-join:
    |A∩B| from the join, |A∪B| = |A|+|B|-|A∩B|. With `pairs` given,
    scoring is restricted to LSH candidates and the semi-join lands
    BELOW the pair aggregate — on the shingle-joined rows — so
    non-candidate pairs never enter the groupBy state (the scale
    path). Without `pairs`, all intersecting pairs are scored (still
    an equi-join on shingle — never a cross join).

    ``df_cap`` drops shingles whose document frequency exceeds the cap
    BEFORE the self-join; a stop-word shingle shared by 10⁶ docs is
    otherwise a 10¹² pair blow-up at corpus scale. Sizes are computed
    over the capped shingle universe, so Jaccard stays consistent
    (intersection and union use the same vocabulary).

    ``shingles``: pre-built DISTINCT (doc_id, shingle) table — pass the
    persisted shingle table shared with candidate generation so the
    corpus tokenizes once per pipeline, not once per stage."""
    sh = shingles if shingles is not None else word_shingles(
        docs, n, text_col, id_col
    )
    if df_cap is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") <= df_cap)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle", "left_semi")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    x = sh.select(F.col(id_col).alias("a"), "shingle")
    y = sh.select(F.col(id_col).alias("b"), "shingle")
    joined = x.join(y, "shingle").where(F.col("a") < F.col("b"))
    if pairs is not None:
        joined = joined.join(pairs, ["a", "b"], "left_semi")
    inter = joined.groupBy("a", "b").agg(F.count("*").alias("inter"))
    sa = sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ).alias("jaccard"),
        )
    )


def _word_hash60(col) -> F.Column:
    """60-bit integer hash of a string via md5 — portable to SQL."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash(
    docs: DataFrame, n_bits: int = 16, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash fingerprint: explode words, hash each, sum ±1 per bit
    (weighted by term frequency via the explode itself), fingerprint
    bit j = sign of the sum. n_bits kept small so the whole thing stays
    a single groupBy with n_bits conditional-sum aggregates."""
    words = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w")
    ).where(F.col("w") != "")
    hashed = words.select(id_col, _word_hash60(F.col("w")).alias("h"))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(n_bits)
    ]
    summed = hashed.groupBy(id_col).agg(*aggs)
    fp = F.lit(0).cast("long")
    for j in range(n_bits):
        fp = fp + F.when(F.col(f"b{j}") > 0, F.lit(1 << j).cast("long")).otherwise(0)
    return summed.select(id_col, fp.alias("simhash"))


def min_label_components(
    pairs: DataFrame,
    nodes: DataFrame,
    n_iter: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Duplicate-cluster labeling: synchronous min-label propagation
    over the candidate-pair graph for a FIXED number of iterations
    (deterministic and oracle-reproducible; components wider than
    n_iter hops keep distinct labels, which only splits a cluster,
    never merges two). The release keep-list is ``keep = (doc ==
    cluster)`` — one canonical doc per near-duplicate cluster,
    singletons kept.

    Each iteration is one join + hash agg on the (sparse) pair graph —
    the same shape as distributed label propagation, linear per round."""
    # persist the pair list BEFORE the union: its two branches would
    # otherwise evaluate the (possibly expensive — minhash+jaccard)
    # upstream pipeline twice inside one job
    pairs = pairs.persist()
    und = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(pairs.select(F.col("b"), F.col("a")))
        .persist()
    )
    labels0 = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("lbl")
    ).persist()
    labels = labels0
    for _ in range(n_iter):
        nb_min = (
            und.join(
                labels.select(F.col("node").alias("dst"), F.col("lbl").alias("_nl")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("_nl").alias("_nbl"))
        )
        # localCheckpoint, not persist: labels appears TWICE per
        # iteration (neighbor lookup + carry-over join), so the logical
        # plan doubles each round and analysis time grows exponentially
        # — the checkpoint truncates lineage (same lesson as
        # graph.connected_components)
        labels = labels.join(
            nb_min.select(F.col("src").alias("node"), "_nbl"), "node", "left_outer"
        ).select(
            "node", F.least(F.col("lbl"), F.coalesce("_nbl", F.col("lbl"))).alias("lbl")
        ).localCheckpoint()
    # the final labels table is an EAGER checkpoint — the loop inputs'
    # caches are no longer reachable from the returned plan, so free
    # executor storage now instead of leaking it across repeated calls
    # in a long-lived session
    und.unpersist()
    pairs.unpersist()
    if n_iter > 0:  # labels is a checkpoint; the seed cache is unreachable
        labels0.unpersist()
    return labels.select(
        F.col("node").alias(id_col),
        F.col("lbl").alias("cluster"),
        (F.col("node") == F.col("lbl")).alias("keep"),
    )


def star_components(
    pairs: DataFrame, nodes: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Duplicate-cluster labeling via alternating large-star/small-star
    contraction (:func:`scarf_spark.operators.graph.
    connected_components_star`) — the O(log n)-round scale path for
    :func:`min_label_components` (which needs O(diameter) rounds).
    Same output contract: (id_col, cluster, keep) over ALL nodes,
    singletons labeled by themselves, ``keep = (doc == cluster)``.

    On the LSH candidate graph both reach the identical fixpoint when
    every node is within the min-label round budget of its component
    minimum — near-dup clusters are band-bucket near-cliques, so this
    holds at every tested SF and is asserted by the equality test in
    tests/test_round10_ops.py (the min-label CTE stays the oracle)."""
    from scarf_spark.operators.graph import connected_components_star

    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    comp = connected_components_star(edges)
    return (
        nodes.select(F.col(id_col).alias("node"))
        .join(comp, "node", "left_outer")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("component", F.col("node")).alias("cluster"),
            (
                F.col("node") == F.coalesce("component", F.col("node"))
            ).alias("keep"),
        )
    )


def embedding_near_dups(knn_edges: DataFrame, max_distance: float = 0.05) -> DataFrame:
    """Embedding-cosine near-duplicate pairs from a KNN edge table:
    unordered pairs with distance ≤ threshold."""
    return (
        knn_edges.where(F.col("distance") <= max_distance)
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            "distance",
        )
        .groupBy("a", "b")
        .agg(F.min("distance").alias("distance"))
    )


def ngram_containment(
    docs: DataFrame,
    n: int = 3,
    min_containment: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Asymmetric n-gram containment C(A→B) = |A∩B| / |A|: catches
    near-SUPERSET duplication (a short doc wholly contained in a longer
    one) that symmetric Jaccard dilutes away — the standard complement
    to Jaccard in training-data dedup (e.g. suffix-array containment in
    public dedup pipelines).

    Same shingle equi-join spine as :func:`ngram_jaccard` — never a
    cross join; both directions of each intersecting pair are emitted
    and filtered on the containment floor."""
    sh = word_shingles(docs, n, text_col, id_col)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    x = sh.select(F.col(id_col).alias("a"), "shingle")
    y = sh.select(F.col(id_col).alias("b"), "shingle")
    inter = (
        x.join(y, "shingle")
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sz_a"))
    return (
        inter.join(sa, "a")
        .select(
            "a",
            "b",
            F.round(F.col("inter") / F.col("sz_a"), 6).alias("containment"),
        )
        .where(F.col("containment") >= min_containment)
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination — the canonical pre-training hygiene
    pass: flag every training document sharing at least one word
    ``n``-gram with a held-out benchmark set (n=8 is the n-gram length
    used by public LLM decontamination pipelines, e.g. GPT-3's 13-gram
    and Llama's 8-10-gram variants).

    Plan: benchmark n-grams are a SMALL distinct set → broadcast
    semi-ish join against the train shingles (inner + count), one
    shuffle keyed by train doc. At 100 TB the benchmark side stays
    KB–MB-sized no matter how big the corpus is — the join never
    shuffles the corpus."""
    tr = word_shingles(train, n, text_col, id_col)
    bn = word_shingles(benchmark, n, text_col, id_col).select("shingle").distinct()
    return (
        tr.join(F.broadcast(bn), "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contaminated_ngrams"))
    )


def duplicated_ngram_spans(
    docs: DataFrame,
    n: int = 10,
    min_occurrences: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicated-substring span detection — the token-level
    dedup pass LLM training pipelines run for memorization control
    (find every n-token window occurring ≥ ``min_occurrences`` times
    across the corpus, then merge each doc's overlapping duplicated
    windows into maximal spans).

    Execution shape (three shuffles, all hash-partitioned — no suffix
    array, no driver state):

    1. positional windows: per doc, every n-token window with its start
       position — JVM-side higher-order functions (transform over
       sequence + slice + concat_ws), no Python;
    2. window frequency: ONE hash agg on the window hash; windows below
       ``min_occurrences`` total occurrences drop (map-side partial agg
       absorbs the unique-window long tail);
    3. span merge: per-doc gaps-and-islands — duplicated start
       positions sorted per doc, a new island wherever the gap to the
       previous start exceeds the window length, then one group-by on
       (doc, island) for [span_start, span_end).

    Returns (doc_id, span_start, span_end, n_windows): token-index
    half-open spans. Window-partitioned by doc — never a global sort.
    """
    tok = docs.select(F.col(id_col), F.split(F.col(text_col), " ").alias("_w"))
    words = F.col("_w")
    idx = F.when(
        F.size(words) >= n, F.sequence(F.lit(0), F.size(words) - n)
    ).otherwise(F.array().cast("array<int>"))
    win = tok.select(
        id_col,
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("pos"),
                    F.concat_ws(" ", F.slice(words, i + 1, n)).alias("w"),
                ),
            )
        ).alias("_e"),
    ).select(id_col, F.col("_e.pos").alias("pos"), F.col("_e.w").alias("w"))
    dup = (
        win.groupBy("w")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") >= min_occurrences)
        .select("w")
    )
    hits = win.join(dup, "w", "left_semi")
    w_ord = Window.partitionBy(id_col).orderBy("pos")
    islands = (
        hits.withColumn("_prev", F.lag("pos").over(w_ord))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull() | (F.col("pos") - F.col("_prev") > n),
                1,
            ).otherwise(0),
        )
        .withColumn("_isl", F.sum("_new").over(w_ord))
    )
    return islands.groupBy(id_col, "_isl").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + n).alias("span_end"),
        F.count("*").alias("n_windows"),
    ).select(id_col, "span_start", "span_end", "n_windows")


def duplicated_span_ratio(
    docs: DataFrame,
    n: int = 10,
    min_occurrences: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc fraction of tokens covered by duplicated spans — the
    scalar quality signal derived from :func:`duplicated_ngram_spans`
    (docs above a threshold get dropped or trimmed in a training-data
    pipeline). Exact integer arithmetic (parts-per-million) so the
    boundary replays on any engine."""
    spans = duplicated_ngram_spans(docs, n, min_occurrences, text_col, id_col)
    cover = spans.groupBy(id_col).agg(
        F.sum(F.col("span_end") - F.col("span_start")).alias("_dup_tokens")
    )
    toks = docs.select(
        F.col(id_col), F.size(F.split(F.col(text_col), " ")).alias("_n_tokens")
    )
    return (
        toks.join(cover, id_col, "left_outer")
        .select(
            id_col,
            F.col("_n_tokens").alias("n_tokens"),
            F.coalesce(F.col("_dup_tokens"), F.lit(0)).alias("dup_tokens"),
            # integer division (div), not float: ppm stays bit-exact
            # across engines
            (
                F.least(F.coalesce(F.col("_dup_tokens"), F.lit(0)), F.col("_n_tokens"))
                * F.lit(1_000_000)
            ).alias("_scaled"),
        )
        .select(
            id_col,
            "n_tokens",
            "dup_tokens",
            F.expr("_scaled div n_tokens").alias("dup_ppm"),
        )
    )


def semdedup(
    emb: DataFrame,
    k: int = 4,
    n_iter: int = 5,
    eps: float = 0.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shard_cap: int = 8192,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    clustering embeddings FIRST, then comparing pairs only WITHIN a
    cluster — the cluster assignment bounds the quadratic work the way
    LSH bands bound it for minhash, which is what makes embedding-level
    dedup feasible at corpus scale (k grows with the corpus, per-
    cluster work stays constant).

    Clustering is the deterministic seedless Lloyd of
    :func:`scarf_spark.ml.cluster.kmeans_lloyd`; within-cluster
    pairwise cosine runs as one Arrow-batched BLAS kernel per cluster
    (``applyInPandas`` — the cluster IS the partitioning, the same
    shape as the IVF index search). A doc is dropped iff some
    SMALLER-id doc in its cluster lies within cosine ``eps``
    (greedy keep-first, deterministic on any engine; the numpy
    pre-filter over-captures by 5.01e-7 and the authoritative
    ROUND(6) compare happens JVM-side). Returns
    (id, cluster, keep).

    **Skew guard**: a degenerate mega-cluster (boilerplate-heavy
    corpora produce them) would otherwise be O(|cluster|²) BLAS inside
    ONE task — a straggler/OOM at corpus scale. Clusters above
    ``shard_cap`` members are split into ``g = ceil(n/cap)``
    md5-hash shards and every shard PAIR ``(i ≤ j)`` becomes its own
    task (the ``cosine_knn_sharded`` grid trick): each member is
    replicated g ways, every within-cluster pair is scored exactly
    once, per-task memory is bounded by ``(2·shard_cap)²``, and the
    keep flags are shard-assignment-invariant — bit-identical to the
    unsharded result."""
    import numpy as np
    import pandas as pd

    from scarf_spark.ml.cluster import kmeans_lloyd

    assign = kmeans_lloyd(
        emb.select(F.col(id_col).alias("cell_id"), F.col(vec_col).alias("v")),
        k=k,
        n_iter=n_iter,
    )
    # eager localCheckpoint, not persist: the blocks are GC-reclaimed
    # once the result is consumed, instead of leaking executor storage
    # across repeated calls in a long-lived session (r7 advice)
    pts = emb.select(F.col(id_col), F.col(vec_col)).join(
        assign.select(
            F.col("cell_id").alias(id_col), F.col("cluster").cast("long").alias("cluster")
        ),
        id_col,
    ).localCheckpoint(eager=True)
    sizes = pts.groupBy("cluster").agg(F.count("*").alias("_cn"))
    sharded = (
        pts.join(F.broadcast(sizes), "cluster")
        .withColumn(
            "_g",
            F.greatest(
                F.lit(1), F.ceil(F.col("_cn") / F.lit(int(shard_cap)))
            ).cast("int"),
        )
        .withColumn(
            "_s",
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.col(id_col).cast("string")), 1, 15),
                    16,
                    10,
                ).cast("long"),
                F.col("_g"),
            ).cast("int"),
        )
        # replicate each member into every shard-pair group it belongs
        # to: for other-shard o in [0,g) the copy lands in group
        # (min(s,o), max(s,o)) — a cross pair (x∈i, y∈j) meets exactly
        # once in group (i,j); same-shard pairs meet once in (s,s)
        .select(
            id_col,
            vec_col,
            "cluster",
            "_s",
            F.explode(F.sequence(F.lit(0), F.col("_g") - 1)).alias("_o"),
        )
        .select(
            id_col,
            vec_col,
            "cluster",
            "_s",
            F.least("_s", "_o").alias("_i"),
            F.greatest("_s", "_o").alias("_j"),
        )
    )

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"a": [], "b": [], "distance": []}).astype(
            {"a": "int64", "b": "int64", "distance": "float64"}
        )
        i, j = int(pdf["_i"].iat[0]), int(pdf["_j"].iat[0])
        if i == j:  # triangle within one shard (or an unsharded cluster)
            ids = pdf[id_col].to_numpy()
            o = np.argsort(ids)
            ids = ids[o]
            m = np.array(pdf[vec_col].tolist(), dtype=np.float64)[o]
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            dist = 1.0 - m @ m.T
            iu = np.triu_indices(len(ids), 1)
            keep = dist[iu] <= eps + 5.01e-7
            return pd.DataFrame(
                {
                    "a": ids[iu[0][keep]],
                    "b": ids[iu[1][keep]],
                    "distance": dist[iu][keep],
                }
            )
        a_side = pdf[pdf["_s"] == i]
        b_side = pdf[pdf["_s"] == j]
        if a_side.empty or b_side.empty:
            return empty
        ia = a_side[id_col].to_numpy()
        ib = b_side[id_col].to_numpy()
        ma = np.array(a_side[vec_col].tolist(), dtype=np.float64)
        mb = np.array(b_side[vec_col].tolist(), dtype=np.float64)
        ma /= np.linalg.norm(ma, axis=1, keepdims=True)
        mb /= np.linalg.norm(mb, axis=1, keepdims=True)
        dist = 1.0 - ma @ mb.T
        keep = dist <= eps + 5.01e-7
        rr, cc = np.nonzero(keep)
        lo = np.minimum(ia[rr], ib[cc])
        hi = np.maximum(ia[rr], ib[cc])
        return pd.DataFrame({"a": lo, "b": hi, "distance": dist[rr, cc]})

    cand = sharded.groupBy("cluster", "_i", "_j").applyInPandas(
        pairs, "a long, b long, distance double"
    )
    close = cand.select(
        "a", "b", F.round("distance", 6).alias("distance")
    ).where(F.col("distance") <= eps)
    drops = close.select(F.col("b").alias(id_col)).distinct()
    return pts.join(
        drops.withColumn("_drop", F.lit(True)), id_col, "left_outer"
    ).select(
        id_col,
        "cluster",
        F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep"),
    )


def ngram_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination by exact n-gram collision (the
    GPT-3/PaLM eval-contamination rule: a training doc is contaminated
    if it shares any length-``n`` word n-gram with the benchmark set).
    Returns one row per corpus doc: (doc_id, n_hits, contaminated)
    with n_hits = number of DISTINCT benchmark-colliding n-grams.

    Shape: both sides shingle JVM-side (no Python); the benchmark
    shingle set is DISTINCT and broadcast — benchmarks are small by
    construction (the same broadcast envelope as
    ``semantic_decontaminate``), so the corpus stream is scored in one
    broadcast-hash semi pass, never reshuffled. If the benchmark ever
    outgrew the broadcast ceiling, drop the hint and the same plan
    becomes a shuffle join on the shingle key."""
    c_sh = word_shingles(corpus, n, text_col=text_col, id_col=id_col)
    b_sh = (
        word_shingles(benchmark, n, text_col=text_col, id_col=id_col)
        .select("shingle")
        .distinct()
    )
    hits = (
        c_sh.join(F.broadcast(b_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left_outer")
        .select(
            id_col,
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 4,
    k_hashes: int = 4,
    m_bits: int = 16384,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-filter benchmark decontamination — the sketch-family
    completion next to KMV/HLL/CMS: the benchmark's n-gram shingles
    set ``k_hashes`` md5-derived positions each in an ``m_bits``-slot
    filter; a corpus shingle is flagged iff ALL its positions are set
    (the Bloom membership rule, with its deterministic and engine-
    portable false-positive behaviour — same md5 arithmetic both
    sides).

    Relational Bloom: the filter is the DISTINCT position table
    (≤ m_bits rows — broadcast-sized BY CONSTRUCTION no matter how big
    the benchmark grows, the whole point of a Bloom gate), the probe
    is one left-semi join of the corpus' (shingle, position) stream,
    and a shingle hits when its surviving position count equals
    ``k_hashes``. The corpus is never reshuffled; at 100 TB this is
    the cheap first gate in front of the exact n-gram decontaminator."""
    probes = F.array(
        *[
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("shingle"), F.lit(f":{i}"))), 1, 15
                ),
                16,
                10,
            ).cast("long")
            % m_bits
            for i in range(1, k_hashes + 1)
        ]
    )
    bench_pos = (
        word_shingles(benchmark, n=n, text_col=text_col, id_col=id_col)
        .select(F.explode(probes).alias("pos"))
        .distinct()
    )
    corp_sh = word_shingles(corpus, n=n, text_col=text_col, id_col=id_col)
    corp_pos = corp_sh.select(id_col, "shingle", F.explode(probes).alias("pos"))
    # membership = NO probe position missing (counting surviving
    # positions against k would under-count when two of a shingle's
    # probes collide onto the same slot)
    missing = (
        corp_pos.join(F.broadcast(bench_pos), "pos", "left_anti")
        .select(id_col, "shingle")
        .distinct()
        .groupBy(id_col)
        .agg(F.count("*").alias("_n_miss"))
    )
    per_doc = corp_sh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    return per_doc.join(missing, id_col, "left_outer").select(
        id_col,
        "n_shingles",
        (F.col("n_shingles") - F.coalesce(F.col("_n_miss"), F.lit(0)))
        .cast("long")
        .alias("n_flagged"),
        (
            F.col("n_shingles") - F.coalesce(F.col("_n_miss"), F.lit(0)) > 0
        ).alias("flagged"),
    )


def cross_source_containment(
    docs: DataFrame,
    n: int = 3,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Cross-source overlap matrix: for every ordered source pair
    (a, b), how many of a's DISTINCT word n-gram shingles also occur in
    b — the corpus-curation gauge for "source b is a re-crawl/mirror of
    a" and the source-level generalization of pairwise containment
    dedup. Exact integer ppm (shared · 1e6 // |a's shingles|).

    One distinct (source, shingle) projection (:func:`word_shingles`
    keyed by source), one self-equi-join on the shingle, one pair
    aggregate. A shingle shared by s sources contributes s·(s−1)
    join rows — bounded by the SOURCE-domain size squared, never by
    corpus size, so the plan survives any corpus with a small source
    domain; the shingle join key is the only shuffle."""
    sh = word_shingles(
        docs, n=n, text_col=text_col, id_col=source_col
    ).localCheckpoint(eager=True)
    per_src = sh.groupBy(source_col).agg(F.count("*").alias("_n_sh"))
    a = sh.select(F.col(source_col).alias("src_a"), "shingle")
    b = sh.select(F.col(source_col).alias("src_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .where(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return shared.join(
        per_src.select(F.col(source_col).alias("src_a"), "_n_sh"), "src_a"
    ).select(
        "src_a",
        "src_b",
        "n_shared",
        F.expr("n_shared * 1000000 div _n_sh").alias("containment_ppm"),
    )


def lsh_recall(
    docs: DataFrame,
    threshold_ppm: int = 500000,
    n: int = 3,
    n_hashes: int = 8,
    n_bands: int = 4,
    df_cap: int | None = None,
    sample_pct: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Recall of the MinHash-LSH banding against ground truth: of the
    pairs whose EXACT shingle Jaccard ≥ threshold, what fraction did
    the band join surface as candidates — the quality gauge that
    decides (n_hashes, n_bands) sizing, the dedup twin of the ANN
    recall queries. Returns one row (n_true, n_hit, recall).

    The ground-truth side scores every intersecting pair
    (:func:`ngram_jaccard` with pairs=None) — an AUDIT query by
    nature: run it on a sample at 100 TB (the graded scale dedup path
    is candidate-bounded ngram_jaccard; this measures that path's
    miss rate). The threshold compares the ROUND(6) jaccard against
    an integer-ppm literal, so the cut is bit-stable cross-engine.

    ``sample_pct`` makes the audit constant-cost at any corpus size:
    keep only docs whose seedless md5 bucket (first 60 bits mod 100,
    the :func:`scarf_spark.operators.filters.hash_split` draw) is <
    ``sample_pct``, then measure recall of the band join over the
    SAMPLED corpus — both truth and candidate sides see the same
    subset, so the ratio is an unbiased estimate of full-corpus recall
    while the quadratic truth side shrinks by (pct/100)². Seedless and
    engine-portable, so the sampled gauge oracles exactly."""
    if sample_pct is not None:
        h = F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
        )
        docs = docs.where(h.cast("bigint") % 100 < F.lit(sample_pct))
    # truth feeds BOTH output branches (the n_true aggregate and the
    # semi-joined n_hit aggregate); without a lineage cut the quadratic
    # shingle self-join underneath it executes once per branch — the
    # checkpoint (post-threshold, so only the few true near-dup pairs
    # are stored) makes the audit's expensive pass run exactly once.
    truth = ngram_jaccard(docs, pairs=None, n=n, df_cap=df_cap).where(
        F.col("jaccard") * 1000000 >= F.lit(threshold_ppm)
    ).localCheckpoint(eager=False)
    cand = minhash_candidate_pairs(docs, n=n, n_hashes=n_hashes, n_bands=n_bands)
    hit = truth.join(cand, ["a", "b"], "left_semi")
    return (
        truth.agg(F.count("*").alias("n_true"))
        .crossJoin(hit.agg(F.count("*").alias("n_hit")))
        .select(
            "n_true",
            "n_hit",
            F.when(
                F.col("n_true") > 0,
                F.round(F.col("n_hit") / F.col("n_true").cast("double"), 6),
            ).alias("recall"),
        )
    )


def normalized_exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fuzzy-exact dedup after canonical text normalization (the C4
    rule family): lowercase, map every non-[a-z0-9] character to a
    SPACE (so punctuation acts as a separator — "hello-world" and
    "hello world" collapse), squeeze space runs, trim — then
    exact-group on the md5 of the normalized form and keep the
    smallest id. Catches the casing/punctuation near-dups exact dedup
    misses without paying for MinHash. One hash agg on the
    fingerprint; survivors carry their group size.
    Returns (doc_id, n_dups, norm_md5)."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", " "),
            " +",
            " ",
        )
    )
    d = docs.select(F.col(id_col), F.md5(norm).alias("norm_md5"))
    return (
        d.groupBy("norm_md5")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").cast("long").alias("n_dups"),
        )
        .select(id_col, "n_dups", "norm_md5")
    )

"""KNN-graph consumers as edge-DataFrame algebra (SURVEY.md §2.10).

Reference semantics: UMAP-kernel edge weighting produces a weighted
graph (``scarf/knn_utils.py:89-159``); consumers are membership
strength (``scarf/datastore/datastore.py:1171-1187``), MAGIC imputation
via row-normalized adjacency powers (``graph_datastore.py:1729-1816``,
operator calc ``:1757-1762``), SNN shared-neighbor graphs
(``knn_utils.py:195-274``), mapping scores
(``mapping_datastore.py:211-285``) and target classification
(``mapping_datastore.py:287-364``).

Everything is join+groupBy on an edges table (src, dst, rank, distance,
weight) — n·k rows, so even 4M cells × k=11 is 44M rows: comfortably
distributed, no driver collection. Matrix powers are edge self-joins
(sparse matmul); label votes are plain equi-joins against the per-cell
attribute table — NOT hint-forced broadcasts: the label/value tables
are node-sized (one row per cell), so at 100× node counts a forced
broadcast is a multi-GB driver collect. AQE still picks a broadcast
join on its own whenever the table is actually under the threshold;
only genuinely constant-size frames (one-row totals) carry hints."""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def row_normalize(edges: DataFrame, weight_col: str = "weight") -> DataFrame:
    """D⁻¹A — divide each edge weight by its source's weight sum
    (``graph_datastore.py:1757``)."""
    tot = edges.groupBy("src").agg(F.sum(weight_col).alias("_tot"))
    return edges.join(tot, "src").withColumn(
        "w_norm", F.col(weight_col) / F.col("_tot")
    ).drop("_tot")


def membership_strength(
    edges: DataFrame, labels: DataFrame, k: int
) -> DataFrame:
    """Fraction of k neighbors sharing the cell's modal neighbor label
    (``datastore.py:1171-1187``): join neighbor labels, per-src modal
    label (deterministic tie-break on label), strength = n_modal/k."""
    lab = labels.select(F.col("cell_id").alias("dst"), "label")
    votes = (
        edges.join(lab, "dst")
        .groupBy("src", "label")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("src").orderBy(F.col("n").desc(), F.col("label"))
    return (
        votes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "src",
            F.col("label").alias("modal_label"),
            F.round(F.col("n") / F.lit(float(k)), 6).alias("strength"),
        )
    )


def magic_impute(
    edges: DataFrame, values: DataFrame, t: int = 1, weight_col: str = "weight"
) -> DataFrame:
    """MAGIC (``graph_datastore.py:1729-1816``): diff_op = (D⁻¹A)ᵗ,
    imputed = diff_op · value. Sparse matrix power as t-1 edge
    self-joins; each power is one shuffle on the join key. The graph
    stays |edges| ≈ n·k^t rows — for small t (reference default t≤3)
    this is the scalable plan."""
    op = row_normalize(edges, weight_col).select("src", "dst", "w_norm")
    cur = op
    for _ in range(t - 1):
        b = op.select(F.col("src").alias("_mid"), F.col("dst").alias("b_dst"),
                      F.col("w_norm").alias("b_w"))
        cur = (
            cur.withColumnRenamed("dst", "_mid")
            .join(b, "_mid")
            .groupBy("src", F.col("b_dst").alias("dst"))
            .agg(F.sum(F.col("w_norm") * F.col("b_w")).alias("w_norm"))
        )
    vals = values.select(F.col("cell_id").alias("dst"), "value")
    return (
        cur.join(vals, "dst")
        .groupBy("src")
        .agg(F.round(F.sum(F.col("w_norm") * F.col("value")), 6).alias("imputed"))
    )


def snn_shared_neighbors(edges: DataFrame) -> DataFrame:
    """Shared-neighbor counts (``knn_utils.py:195-274`` calc_snn):
    |N(a) ∩ N(b)| via an edge self-join on the shared endpoint —
    the classic sparse A·Aᵀ."""
    a = edges.select(F.col("src").alias("a"), "dst")
    b = edges.select(F.col("src").alias("b"), "dst")
    return (
        a.join(b, "dst")
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("shared"))
    )


def snn_rerank(edges: DataFrame, k: int) -> DataFrame:
    """Merge-graphs re-rank (``knn_utils.py:241-274``): order candidate
    neighbors by (shared-neighbor count desc, distance asc), keep k."""
    shared = snn_shared_neighbors(edges)
    cand = edges.select("src", "dst", "distance").join(
        shared,
        (F.col("src") == F.col("a")) & (F.col("dst") == F.col("b")),
        "left_outer",
    ).select("src", "dst", "distance", F.coalesce("shared", F.lit(0)).alias("shared"))
    w = Window.partitionBy("src").orderBy(F.col("shared").desc(), F.col("distance"), F.col("dst"))
    return cand.withColumn("new_rank", F.row_number().over(w)).where(F.col("new_rank") <= k)


def mapping_score(proj: DataFrame, scale: float = 1000.0) -> DataFrame:
    """Per-reference-cell accumulated weight 1/(log1p(d)+1) from target
    neighbor lists, scaled and log1p'd (``mapping_datastore.py:211-285``).
    proj: (target_cell_id, rank, ref_cell_id, distance)."""
    n_pairs = proj.count()
    return (
        proj.groupBy(F.col("ref_cell_id"))
        .agg(F.sum(1.0 / (F.log1p("distance") + 1.0)).alias("_s"))
        .select(
            "ref_cell_id",
            F.round(F.log1p(F.col("_s") * F.lit(scale) / F.lit(float(n_pairs))), 6).alias("score"),
        )
    )


def target_classification(
    proj: DataFrame, ref_labels: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Weighted vote over reference labels per target cell with
    threshold; below threshold → 'NA' (``mapping_datastore.py:287-364``).
    Weight = 1/(1+distance); vote share = label weight / total weight."""
    lab = ref_labels.select(F.col("cell_id").alias("ref_cell_id"), "label")
    wts = proj.join(lab, "ref_cell_id").withColumn(
        "w", 1.0 / (1.0 + F.col("distance"))
    )
    per_label = wts.groupBy("target_cell_id", "label").agg(F.sum("w").alias("lw"))
    tot = wts.groupBy("target_cell_id").agg(F.sum("w").alias("tw"))
    w = Window.partitionBy("target_cell_id").orderBy(F.col("share").desc(), F.col("label"))
    best = (
        per_label.join(tot, "target_cell_id")
        .withColumn("share", F.col("lw") / F.col("tw"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
    )
    return best.select(
        "target_cell_id",
        F.when(F.col("share") > threshold, F.col("label").cast("string"))
        .otherwise(F.lit("NA"))
        .alias("pred_label"),
        F.round("share", 6).alias("share"),
    )


def undirected_edges(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set from a directed KNN edge table:
    (u, w) with u < w, deduped — the input to triangle counting and any
    symmetric-graph consumer."""
    return (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("w")
        )
        .where(F.col("u") != F.col("w"))
        .distinct()
    )


class SymmetricGraph(NamedTuple):
    """``edges`` (i, j, w): A + Aᵀ, one row per ordered pair; ``deg``
    (node, d): weighted degrees; ``n`` nodes; ``sumd`` = Σd."""

    edges: DataFrame
    deg: DataFrame
    n: int
    sumd: float


def symmetric_graph(edges: DataFrame, weight_col: str | None = "weight") -> SymmetricGraph:
    """The shared prologue of spectral_embedding, harmonic_potential and
    label_propagation (Pregelix's split: vertex and edge state built
    once, each superstep a join + group-by over it). Both tables are
    lazy cuts that ONE aggregate action fills while computing
    ``n``/``sumd``; the directed input is cut before the self-union so
    an unpersisted upstream runs once. ``weight_col=None``: weight 1."""
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    base = edges.select(
        F.col("src").alias("i"), F.col("dst").alias("j"), w.alias("w")
    ).localCheckpoint(eager=False)
    und = (
        base.unionAll(base.select(F.col("j").alias("i"), F.col("i").alias("j"), "w"))
        .groupBy("i", "j")
        .agg(F.sum("w").alias("w"))
        .localCheckpoint(eager=False)
    )
    deg = (
        und.groupBy(F.col("i").alias("node"))
        .agg(F.sum("w").alias("d"))
        .localCheckpoint(eager=False)
    )
    r = deg.agg(F.count("*").alias("n"), F.sum("d").alias("sumd")).collect()[0]
    return SymmetricGraph(und, deg, int(r["n"]), float(r["sumd"] or 0.0))


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts over the undirected KNN graph — the
    clustering-coefficient building block the reference's graph
    analytics sit next to (its Leiden/Paris clustering consumes the same
    symmetric KNN graph, ``scarf/datastore/graph_datastore.py``).

    Plan: with canonical edges (u < w) a triangle u<v<w is found ONCE
    by the two-hop equi-join e1(u,v) ⋈ e2(v,w) ⋈ e3(u,w) — the
    node-iterator algorithm as three relational joins, all on edge
    endpoints, so Catalyst shuffles by join key and no pair-enumeration
    ever exceeds the true wedge count. KNN graphs are degree-bounded
    (deg ≤ 2k), so wedges ≤ |V|·(2k)² — linear in nodes, safe at any
    scale; for skewed general graphs the classic refinement (orient
    edges by degree) drops wedge count to O(m^1.5)."""
    und = undirected_edges(edges).localCheckpoint(eager=True)
    e1 = und.select(F.col("u").alias("a"), F.col("w").alias("b"))
    e2 = und.select(F.col("u").alias("b"), F.col("w").alias("c"))
    e3 = und.select(F.col("u").alias("a"), F.col("w").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    per_node = (
        tri.select(F.col("a").alias("v"))
        .unionAll(tri.select(F.col("b").alias("v")))
        .unionAll(tri.select(F.col("c").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("n_triangles"))
    )
    return per_node


def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    weight_col: str | None = None,
    exact: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over the directed KNN edge table (every
    node has out-degree k, in-degree varies — the hub structure of the
    neighbour graph; the reference's TopACeDo sampler uses exactly this
    kind of neighbourhood-degree prestige to pick seed cells,
    ``scarf/datastore/graph_datastore.py`` run_topacedo_sampler).

    Iterative DataFrame loop, shaped so the per-iteration cost is
    minimal: the out-degree is folded into the edge table ONCE and the
    result is hash-partitioned by src and persisted — every iteration's
    edge ⋈ rank join then reuses that partitioning and exchanges only
    the node-sized rank vector, followed by one shuffle keyed by dst
    for the contribution sum. A fixed iteration count keeps it smooth
    math end-to-end (sums and scalar ops, no data-dependent branches),
    so an unrolled SQL CTE replays it exactly; dangling mass is
    redistributed uniformly each step, keeping the distribution
    normalized.

    Lineage is bounded: every ``_CHECKPOINT_EVERY`` iterations the
    node-sized rank vector is localCheckpoint()ed (truncating the
    recursive plan) and the previous materialization released — without
    this, raising ``n_iter`` grows an exponential-reuse plan that
    eventually stalls the optimizer and re-executes early iterations."""
    _CHECKPOINT_EVERY = 5
    e = edges.select("src", "dst")
    nodes = (
        e.select(F.col("src").alias("v"))
        .unionAll(e.select(F.col("dst").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    outdeg = e.groupBy("src").agg(F.count("*").alias("deg"))
    if exact:
        # exact mode folds the (uniform) out-degree into the scaling
        # constants — the per-edge deg column is never read, so skip
        # the outdeg join and checkpoint the bare repartitioned edges
        ed = e.repartition("src").localCheckpoint(eager=True)
    else:
        ed = e.join(outdeg, "src").repartition("src").localCheckpoint(eager=True)
    ranks = nodes.select("v", F.lit(1.0 / n).alias("r"))
    if exact:
        # Exact-integer mode (round 12): on a uniform-out-degree graph
        # (every KNN edge table) with damping 17/20, the recurrence
        # stays in scaled integers — R_t = r_t * n * (20k)^t — so the
        # final value is ONE exact-operand IEEE division, identical in
        # any engine. The float path's ROUND(r, 9) was boundary-
        # unstable at sf0.1: with n and deg made only of 2s and 5s the
        # TRUE ranks are terminating decimals that sit exactly on
        # rounding half-boundaries, and accumulated sum noise flipped
        # 18% of rows by one quantum between Spark and DuckDB.
        if abs(damping - 0.85) > 1e-12 or weight_col is not None:
            raise ValueError("exact pagerank supports damping=0.85, unweighted")
        lo_hi = outdeg.agg(
            F.min("deg").alias("lo"), F.max("deg").alias("hi")
        ).collect()[0]
        if lo_hi["lo"] != lo_hi["hi"]:
            raise ValueError("exact pagerank needs uniform out-degree")
        k = int(lo_hi["lo"])
        if n * (20 * k) ** n_iter >= 2**53:
            raise ValueError("exact pagerank scale overflows: lower n_iter")
        ranks = nodes.select("v", F.lit(1).cast("long").alias("R"))
        add_const = 3 * k  # 3k * (20k)^(it), the teleport term scaled
        for it in range(n_iter):
            contrib = (
                ed.join(ranks.withColumnRenamed("v", "src"), "src")
                .groupBy("dst")
                .agg(F.sum("R").alias("c"))
            )
            ranks = nodes.join(
                contrib.withColumnRenamed("dst", "v"), "v", "left_outer"
            ).select(
                "v",
                (
                    F.lit(add_const)
                    + F.lit(17) * F.coalesce(F.col("c"), F.lit(0).cast("long"))
                ).alias("R"),
            )
            add_const *= 20 * k
            if (it + 1) % _CHECKPOINT_EVERY == 0 and it + 1 < n_iter:
                ranks = ranks.localCheckpoint(eager=True)
        denom = float(n) * float((20 * k) ** n_iter)
        return ranks.select(
            "v", (F.col("R").cast("double") / F.lit(denom)).alias("pagerank")
        )
    for it in range(n_iter):
        contrib = (
            ed.join(ranks.withColumnRenamed("v", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.col("deg")).alias("c"))
        )
        # dangling nodes (none in a KNN graph, every node has out-deg k)
        ranks = (
            nodes.join(contrib.withColumnRenamed("dst", "v"), "v", "left_outer")
            .select(
                "v",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("r"),
            )
        )
        if (it + 1) % _CHECKPOINT_EVERY == 0 and it + 1 < n_iter:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("v", F.round("r", 9).alias("pagerank"))


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    node_col: str = "node",
    cluster_col: str = "cluster",
    und: DataFrame | None = None,
) -> DataFrame:
    """Newman modularity of a clustering, per cluster: for each cluster
    c, its contribution Q_c = E_c/2m − (D_c/2m)² where E_c counts
    directed (symmetrized) within-cluster edges, D_c the degree mass —
    the objective Louvain/Leiden maximize (``leidenalg``'s
    RBConfiguration at resolution 1 in the reference,
    ``scarf/datastore/graph_datastore.py:1379-1459``), here as the
    *evaluation* metric next to silhouette for any label column.

    One symmetrized edge materialization; E_c and D_c are two
    label equi-joins producing cluster-sized aggregates (labels are
    node-sized — no forced broadcast; AQE broadcasts when small); 2m
    is one count off the cached edge table, folded in as a literal.
    Integer counts stay exact; the only float is the final
    contribution expression, whose shape the oracle mirrors
    verbatim.

    ``und``: optional pre-symmetrized deduped (src, dst) table shared
    with another consumer of the same graph (see label_propagation) —
    skips this function's own symmetrize shuffle."""
    if und is None:
        und = (
            edges.select("src", "dst")
            .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .distinct()
            .localCheckpoint(eager=True)
        )
    la = labels.select(F.col(node_col).alias("src"), F.col(cluster_col).alias("_ca"))
    lb = labels.select(F.col(node_col).alias("dst"), F.col(cluster_col).alias("_cb"))
    # 2m is ONE long off the cached edge table: fold it in as a literal
    # instead of planning a BroadcastExchange + CrossJoin around a
    # one-row aggregate (the harmonic_potential deflation lesson)
    m2 = float(und.count())
    ec = (
        und.join(la, "src").join(lb, "dst")
        .where(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias(cluster_col))
        .agg(F.count("*").alias("e_within"))
    )
    deg = und.groupBy("src").agg(F.count("*").alias("_deg"))
    dc = (
        deg.join(labels.select(F.col(node_col).alias("src"), cluster_col), "src")
        .groupBy(cluster_col)
        .agg(F.count("*").alias("n_nodes"), F.sum("_deg").alias("deg_sum"))
    )
    return (
        dc.join(ec, cluster_col, "left_outer")
        .na.fill({"e_within": 0})
        .select(
            cluster_col,
            "n_nodes",
            "e_within",
            "deg_sum",
            F.round(
                F.col("e_within") / F.lit(m2)
                - (F.col("deg_sum") / F.lit(m2)) * (F.col("deg_sum") / F.lit(m2)),
                6,
            ).alias("q_contrib"),
        )
    )


def kcore_hindex(edges: DataFrame, n_iter: int = 3) -> DataFrame:
    """Coreness via the iterated H-index (Lü/Zhou/Zhang/Stanley 2016,
    "The H-index of a network node"): h₀ = degree, hₜ₊₁(v) = H of the
    neighbors' hₜ values, converging monotonically DOWN to the k-core
    number. A fixed ``n_iter`` rounds keeps it deterministic and
    oracle-replayable (the same fixed-round convention as min-label
    components); the result is an exact coreness wherever the peel
    depth ≤ n_iter and a tight upper bound elsewhere.

    Distributed shape: each round is one join (neighbor values onto
    edges) + one per-node window (rank neighbor values desc; H =
    MAX(LEAST(rank, value)) — tie order among equal values cannot
    change the H-index) + one hash agg. Linear per round, node-sized
    state, no driver traffic. Returns (node, coreness)."""
    # eager localCheckpoint, not persist: the per-round tables would
    # otherwise pin executor storage forever (nothing ever unpersists
    # them in a long-lived session); checkpoint blocks are GC-reclaimed
    # once no plan references them (same convention as pagerank)
    und = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    h = und.groupBy("src").agg(F.count("*").alias("h")).select(
        F.col("src").alias("node"), "h"
    )
    for _ in range(n_iter):
        nb = und.join(
            h.select(F.col("node").alias("dst"), F.col("h").alias("nh")), "dst"
        )
        w = Window.partitionBy("src").orderBy(F.col("nh").desc(), "dst")
        h = (
            nb.withColumn("rn", F.row_number().over(w))
            .select("src", F.least(F.col("rn"), F.col("nh")).alias("_m"))
            .groupBy("src")
            .agg(F.max("_m").alias("h"))
            .select(F.col("src").alias("node"), "h")
            .localCheckpoint(eager=True)
        )
    return h.select("node", F.col("h").alias("coreness"))


def connected_components(
    edges: DataFrame, max_rounds: int = 50, rounds_out: list | None = None
) -> DataFrame:
    """Connected components to TRUE convergence: synchronous min-label
    propagation with a fixpoint check each round (one count action on
    the changed-label set), so every node ends with its component's
    minimum id — unlike the fixed-iteration
    ``dedup.min_label_components``, whose labels are exact only within
    n_iter hops. Rounds = graph diameter (small for KNN graphs'
    small-world topology; for high-diameter graphs at extreme scale
    switch to star-contraction, which converges in O(log n) rounds).

    The fixpoint is algorithm-independent — the component minimum — so
    the result hash-matches any other exact method (the oracle replays
    it as recursive-CTE reachability). Each round: one join + one hash
    agg; the label table is ``localCheckpoint``-ed every round — a
    convergence loop's lineage otherwise grows a plan tree that is
    EXPONENTIAL in rounds (persist caches data but keeps the logical
    plan; a 12-round path graph OOM-ed the plan stringifier).
    Raises ``RuntimeError`` if ``max_rounds`` is exhausted before the
    fixpoint — silently returning labels that are only exact within
    max_rounds hops would corrupt every downstream dedup/cluster
    consumer; high-diameter graphs belong on
    :func:`connected_components_star`. ``rounds_out``, when a list, is
    appended with the number of rounds executed (scale telemetry).
    Returns (node, component)."""
    und = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint()
    )
    converged = False
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        nb_min = (
            und.join(
                labels.select(F.col("node").alias("dst"), F.col("lbl").alias("_nl")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("_nl").alias("_m"))
        )
        new_labels = (
            labels.join(
                nb_min.select(F.col("src").alias("node"), "_m"), "node", "left_outer"
            )
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce("_m", F.col("lbl"))).alias("lbl"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    # labels is an eager checkpoint: the edge cache is unreachable from
    # the returned plan — free it instead of leaking across calls
    und.unpersist()
    if rounds_out is not None:
        rounds_out.append(rounds)
    if not converged:
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_rounds} rounds "
            "(graph diameter exceeds the cap) — use "
            "connected_components_star, which converges in O(log n) rounds"
        )
    return labels.select("node", F.col("lbl").alias("component"))


def connected_components_star(
    edges: DataFrame, max_rounds: int = 25, rounds_out: list | None = None
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond") — the O(log n)-round exact method for
    HIGH-DIAMETER graphs, where :func:`connected_components`' min-label
    fixpoint needs O(diameter) rounds. Dedup similarity graphs (the
    ``text_minhash_cluster`` consumer) can carry long chain
    components; this is their scale path.

    Each round halves star depth: *large-star* connects every
    strictly-larger neighbor of u to ``m = min(Γ(u) ∪ {u})``;
    *small-star* (on edges oriented u > v) connects every smaller
    neighbor and u itself to the minimum. Both emit edges oriented
    (larger → smaller), each is one hash-agg + one join on the edge
    set, and the edge table is ``localCheckpoint``-ed per round (the
    same exponential-lineage lesson as the fixpoint loop). Convergence
    is detected by an order-free edge-set signature (count +
    bit_xor(xxhash64)) going stable — at that point the edge set IS
    the star forest (child → component-minimum root).

    The fixpoint is algorithm-independent — every node labeled with
    its component minimum — so the output hash-matches
    :func:`connected_components` and the recursive-CTE oracle exactly.
    Returns (node, component)."""
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("u"),
            F.least("src", "dst").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    prev_sig = None
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        # large-star: neighbors in both directions; every v > u links
        # to m = min(min neighbor, u). Each undirected edge is emitted
        # exactly once (from its smaller endpoint's perspective).
        nb = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmins = (
            nb.groupBy("u")
            .agg(F.min("v").alias("_mv"))
            .select("u", F.least("_mv", F.col("u")).alias("m"))
        )
        e = (
            nb.join(lmins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
            # lazy: the small-star agg below materializes it; an eager
            # checkpoint added a blocking job per round for no reuse
            .localCheckpoint(eager=False)
        )
        # small-star: on (u > v) edges, u and all its smaller
        # neighbors link to the minimum neighbor.
        smins = e.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            e.join(smins, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smins.select("u", F.col("m").alias("v")))
            .distinct()
            # lazy: the per-round signature collect materializes it
            .localCheckpoint(eager=False)
        )
        sig = e.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("x"),
        ).collect()[0]
        sig = (sig["n"], sig["x"])
        if sig == prev_sig:
            break
        prev_sig = sig
    if rounds_out is not None:
        rounds_out.append(rounds)
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .union(
            e.select(F.col("v").alias("node"), F.col("v").alias("component"))
        )
        .distinct()
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over the undirected edge set —
    positive when hubs link to hubs (social graphs), negative for
    hub-and-spoke (KNN and web graphs). One of the standard
    health/topology gauges next to triangles and coreness.

    Every moment is an INTEGER sum over edges (degrees are counts), so
    the correlation's numerator and both variance terms are exact on
    any engine; accumulation is DECIMAL(38,0) (bigint Σd² overflows
    under ANSI at ~10¹⁸) and only the final division happens in
    doubles, ROUND(6). Shape: one degree agg + two broadcast-free
    joins keyed by endpoint + one scalar agg — linear in edges, no
    driver state. Returns (n_edges, assortativity)."""
    und = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    deg = und.groupBy("src").agg(F.count("*").alias("d"))
    pairs = (
        und.join(deg.select(F.col("src"), F.col("d").alias("dx")), "src")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("d").alias("dy")),
            "dst",
        )
        .select(
            F.col("dx").cast("decimal(38,0)").alias("x"),
            F.col("dy").cast("decimal(38,0)").alias("y"),
        )
    )
    m = pairs.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    # cast each EXACT decimal sum to double BEFORE the products: a
    # (38,0)x(38,0) decimal multiply overflows Spark's 38-digit cap
    # (ANSI throws) long before the statistic loses meaning, while
    # double arithmetic over exactly-converted sums is the same IEEE
    # op sequence on every engine
    md = m.select(
        F.col("n").cast("bigint").alias("n_edges"),
        F.col("n").cast("double").alias("n"),
        F.col("sx").cast("double").alias("sx"),
        F.col("sy").cast("double").alias("sy"),
        F.col("sxy").cast("double").alias("sxy"),
        F.col("sxx").cast("double").alias("sxx"),
        F.col("syy").cast("double").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return md.select(
        "n_edges",
        F.round(
            F.when(
                (vx > 0) & (vy > 0), num / F.sqrt(vx * vy)
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("assortativity"),
    )


def adamic_adar(edges: DataFrame) -> DataFrame:
    """Adamic-Adar link prediction over the undirected KNN graph: for
    every non-adjacent pair (u, w) with at least one common neighbour,
    score = Σ_v 1/ln(deg(v)) over the shared neighbours v — the
    standard "which cells/documents are about to merge" gauge next to
    the same KNN graph the reference's clustering consumes
    (``scarf/datastore/graph_datastore.py``).

    Plan: wedges come from one self-join of the both-direction edge
    table on the middle vertex (u < w keeps each pair once), existing
    edges drop out with a left-anti join against the canonical edge
    set, and degrees equi-join onto the wedge stream. Everything
    shuffles on edge endpoints; wedge volume is |V|·(2k)² on a
    degree-bounded KNN graph (linear in nodes), never all-pairs. Every
    middle vertex has deg ≥ 2 (it sits on a wedge), so ln(deg) > 0.
    Scores are ≤ 2k-term double sums — ROUND(6) absorbs accumulation-
    order drift."""
    und = undirected_edges(edges).localCheckpoint(eager=True)
    dirs = und.select(F.col("u").alias("s"), F.col("w").alias("d")).unionAll(
        und.select(F.col("w").alias("s"), F.col("u").alias("d"))
    )
    deg = dirs.groupBy("s").agg(F.count("*").alias("_deg"))
    wedge = (
        dirs.select(F.col("d").alias("u"), F.col("s").alias("v"))
        .join(dirs.select(F.col("s").alias("v"), F.col("d").alias("w")), "v")
        .where(F.col("u") < F.col("w"))
    )
    cand = wedge.join(
        und, (wedge["u"] == und["u"]) & (wedge["w"] == und["w"]), "left_anti"
    )
    scored = cand.join(deg, cand["v"] == deg["s"]).groupBy("u", "w").agg(
        F.count("*").alias("n_common"),
        F.round(F.sum(1.0 / F.log(F.col("_deg"))), 6).alias("aa_score"),
    )
    return scored


def reciprocity(edges: DataFrame) -> DataFrame:
    """Directed-graph reciprocity of the KNN edge table: the fraction
    of directed edges whose reverse edge also exists — the classic
    are-neighbourhoods-mutual gauge (mutual KNN pairs are exactly what
    SNN re-ranking and UMAP symmetrization reward). One self-join on
    the reversed key + exact integer ppm; both sides shuffle on the
    edge key, linear in |E|."""
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    mutual = e.join(rev, ["src", "dst"], "left_semi")
    return e.agg(F.count("*").alias("n_edges")).crossJoin(
        mutual.agg(F.count("*").alias("n_mutual"))
    ).select(
        "n_edges",
        "n_mutual",
        F.expr("n_mutual * 1000000 DIV n_edges").alias("reciprocity_ppm"),
    )


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient over the undirected KNN
    graph: C(v) = 2·T(v) / (deg(v)·(deg(v)−1)) — how close each
    neighbourhood is to a clique, the density gauge Leiden/Paris
    communities optimize implicitly. Composes :func:`triangle_counts`
    (node-iterator joins) with the degree table; nodes of degree < 2
    report 0. Exact integer ppm (2·T·1e6 // wedges) so the result is
    engine-portable without float division."""
    und = undirected_edges(edges).localCheckpoint(eager=True)
    deg = (
        und.select(F.col("u").alias("v"))
        .unionAll(und.select(F.col("w").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("degree"))
    )
    tri = triangle_counts(und.select(F.col("u").alias("src"), F.col("w").alias("dst")))
    return (
        deg.join(tri, "v", "left_outer")
        .select(
            "v",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                F.expr(
                    "coalesce(n_triangles, 0) * 2000000 "
                    "DIV (degree * (degree - 1))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("cc_ppm"),
        )
    )


def eigencentrality(edges: DataFrame, n_iter: int = 3) -> DataFrame:
    """Eigenvector centrality by ``n_iter`` power iterations over the
    undirected KNN graph, max-normalized each round — prestige beyond
    degree (the same neighbourhood-influence axis PageRank measures,
    without teleportation). Max-normalization instead of the L2 norm
    is deliberate: MAX is accumulation-order-free, so the iteration
    replays across engines where a global sum-of-squares would drift.

    Each round is one edge join + hash aggregate + a broadcast scalar
    — the PageRank plan shape, linear per round, no driver state."""
    und = undirected_edges(edges).localCheckpoint(eager=True)
    dirs = und.select(F.col("u").alias("s"), F.col("w").alias("d")).unionAll(
        und.select(F.col("w").alias("s"), F.col("u").alias("d"))
    )
    nodes = dirs.select(F.col("s").alias("v")).distinct()
    x = nodes.select("v", F.lit(1.0).alias("x"))
    for _ in range(n_iter):
        y = (
            dirs.join(x.withColumnRenamed("v", "s"), "s")
            .groupBy(F.col("d").alias("v"))
            .agg(F.sum("x").alias("y"))
        )
        m = y.agg(F.max("y").alias("_m"))
        x = (
            nodes.join(y, "v", "left_outer")
            .crossJoin(F.broadcast(m))
            .select(
                "v",
                (F.coalesce(F.col("y"), F.lit(0.0)) / F.col("_m")).alias("x"),
            )
        )
    return x.select("v", F.round("x", 6).alias("centrality"))


def neighbor_jaccard(edges: DataFrame) -> DataFrame:
    """Neighbour-set Jaccard link prediction over the undirected KNN
    graph: for every non-adjacent pair (u, w) sharing at least one
    neighbour, |N(u) ∩ N(w)| / |N(u) ∪ N(w)| — the set-overlap sibling
    of :func:`adamic_adar` (same which-pairs-merge-next gauge the
    reference's clustering consumes, ``graph_datastore.py``), in EXACT
    integer ppm (common · 1e6 // (deg_u + deg_w − common); no float
    sum at all, so not even ROUND is needed).

    Plan: identical wedge shape to adamic_adar — one self-join of the
    both-direction edge table on the middle vertex, existing edges
    anti-joined away, degrees joined onto the pair aggregate. Wedge
    volume is |V|·(2k)² on a degree-bounded KNN graph, never
    all-pairs."""
    und = undirected_edges(edges).localCheckpoint(eager=True)
    dirs = und.select(F.col("u").alias("s"), F.col("w").alias("d")).unionAll(
        und.select(F.col("w").alias("s"), F.col("u").alias("d"))
    )
    deg = dirs.groupBy("s").agg(F.count("*").alias("_deg"))
    wedge = (
        dirs.select(F.col("d").alias("u"), F.col("s").alias("v"))
        .join(dirs.select(F.col("s").alias("v"), F.col("d").alias("w")), "v")
        .where(F.col("u") < F.col("w"))
    )
    cand = wedge.join(
        und, (wedge["u"] == und["u"]) & (wedge["w"] == und["w"]), "left_anti"
    )
    common = cand.groupBy("u", "w").agg(F.count("*").alias("n_common"))
    return (
        common.join(deg.select(F.col("s").alias("u"), F.col("_deg").alias("_du")), "u")
        .join(deg.select(F.col("s").alias("w"), F.col("_deg").alias("_dw")), "w")
        .select(
            "u",
            "w",
            "n_common",
            F.expr("n_common * 1000000 div (_du + _dw - n_common)").alias(
                "jaccard_ppm"
            ),
        )
    )

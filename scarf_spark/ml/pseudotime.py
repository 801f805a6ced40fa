"""Pseudotime (PBA) — ``scarf/datastore/graph_datastore.py:1818-2003``.

Reference: random-walk Laplacian L = I − A·D⁻¹, smallest-k singular
vectors → Moore–Penrose pseudoinverse applied to a source/sink
potential, min-max normalized. Smallest-singular-value SVD is not
distributable with stock Spark (SURVEY.md §7 hard part 2) — this is a
designated driver_compute step over the linear-size (n·k) graph: the
adjacency is collected, the dense pseudoinverse solved with numpy, and
the resulting potential joined back as a cell column, exactly the
boundary the reference draws.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scarf_spark.operators.graph import SymmetricGraph, symmetric_graph


def pba_pseudotime(
    edges: DataFrame, source_node: int, weight_col: str = "weight"
) -> DataFrame:
    """driver_compute: V = L⁺ · b with b the source-potential vector
    (+1 at source, balanced elsewhere); min-max normalized to [0,1].
    Returns (node, pseudotime).

    L⁺b is computed WITHOUT an SVD-based pinv (O(n³) with a ~10×
    constant): L = I − A·D⁻¹ has right null span(d) and left null
    span(1), and b sums to zero (b ∈ range(L)), so solving the
    rank-one-corrected nonsingular system (L + 1·dᵀ/1ᵀd)·x = b forces
    dᵀx = 0 (multiply through by 1ᵀ) and hence x = L⁺b exactly — one
    LU solve, ~9× faster and identical to pinv to machine eps
    (test_pseudotime_solve_matches_pinv)."""
    import numpy as np

    rows = edges.select("src", "dst", weight_col).collect()
    nodes = sorted({r["src"] for r in rows} | {r["dst"] for r in rows})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    a = np.zeros((n, n))
    for r in rows:
        i, j = idx[r["src"]], idx[r["dst"]]
        w = float(r[weight_col])
        a[i, j] += w
        a[j, i] += w  # symmetrize, as the reference's undirected kernel graph
    deg = a.sum(axis=1)
    deg[deg == 0] = 1.0
    lap = np.eye(n) - a / deg[None, :]
    b = np.full(n, -1.0 / max(n - 1, 1))
    b[idx[source_node]] = 1.0
    lap += np.outer(np.ones(n), deg) / deg.sum()
    v = np.linalg.solve(lap, b)
    v = (v - v.min()) / (v.max() - v.min()) if v.max() > v.min() else np.zeros(n)
    spark = edges.sparkSession
    return spark.createDataFrame(
        [(int(node), round(float(v[idx[node]]), 6)) for node in nodes],
        ["node", "pseudotime"],
    )


def harmonic_potential(
    edges: DataFrame,
    source_node: int,
    n_iter: int = 16,
    weight_col: str = "weight",
    sym: SymmetricGraph | None = None,
) -> DataFrame:
    """Fully DISTRIBUTED twin of :func:`pba_pseudotime` — the scale
    path that never collects the graph: a fixed-``n_iter`` deflated
    Richardson iteration on the same random-walk Laplacian system
    L·v = b (L = I − A·D⁻¹, b = +1 at the source and −1/(n−1)
    elsewhere).  Each round is one edge⋈vector join + hash agg
    (v ← b + A·D⁻¹·v) followed by removal of the span(d) component in
    the 1ᵀ gauge (v ← v − d·(1ᵀv)/(1ᵀd), the spectral projector along
    the unit left-eigenvector, which keeps the contraction rate at
    |λ₂| < 1).  The fixed iteration count keeps every step SMOOTH
    (sums, one multiply-divide shape), so a recursive SQL CTE replays
    it exactly — same doctrine as ``graph.pagerank``.

    Gauge note: the exact pinv solution satisfies dᵀv = 0 where this
    iteration's limit satisfies 1ᵀv = 0; the two differ by a multiple
    of d, i.e. the same harmonic potential in a different gauge — the
    min-max-normalized ordering is what PBA consumes
    (``graph_datastore.py:1818-2003``), and both gauges rank the
    source at the extremum (test_harmonic_potential_orders_path).

    Returns (node, pseudotime) min-max normalized to [0, 1],
    ROUND(6). ``sym``: a shared ``symmetric_graph`` of ``edges``;
    built here if absent."""
    if sym is None:
        sym = symmetric_graph(edges, weight_col)
    n = sym.n
    # fail loud on degenerate inputs instead of emitting a constant/NULL
    # potential (the welch_t/drift_terms doctrine): a <2-node graph has
    # no potential and a missing source makes b a constant vector
    if n < 2:
        raise ValueError(f"harmonic_potential: need >= 2 nodes, got {n}")
    if not sym.deg.where(F.col("node") == source_node).collect():
        raise ValueError(
            f"harmonic_potential: source node {source_node} not in the graph"
        )
    # fold D⁻¹ into the edge table once (A·D⁻¹ is column-stochastic,
    # so divide by the degree of j); the first round fills the lazy
    # cut and every later one reuses it (the pagerank shape)
    ew = (
        sym.edges.join(sym.deg.withColumnRenamed("node", "j"), "j")
        .select("i", "j", (F.col("w") / F.col("d")).alias("wn"))
        .localCheckpoint(eager=False)
    )
    sumd = sym.sumd
    base = sym.deg.select(
        "node",
        F.when(F.col("node") == source_node, F.lit(1.0))
        .otherwise(F.lit(-1.0 / max(n - 1, 1)))
        .alias("b"),
        "d",
    )
    v = base.select("node", F.col("b").alias("v"))
    for t in range(n_iter):
        # no broadcast hints in the loop: the explicit broadcast of an
        # unmaterialized node-sized plan costs a build-job + collect +
        # torrent push per round; the shuffle join is far cheaper (the
        # spectral_embedding lesson).
        contrib = (
            ew.join(v.select(F.col("node").alias("j"), "v"), "j")
            .groupBy("i")
            .agg(F.sum(F.col("wn") * F.col("v")).alias("c"))
        )
        u = base.join(
            contrib.select(F.col("i").alias("node"), "c"),
            "node",
            "left_outer",
        ).select(
            "node", "b", "d", (F.col("b") + F.coalesce("c", F.lit(0.0))).alias("u")
        ).localCheckpoint(eager=False)
        # the deflation scalar s = 1ᵀu is ONE double off the cached u.
        # TWO ROUNDS PER DRIVER ACTION (r16): even-numbered rounds fold
        # s in as a broadcast one-row frame over the lazily-checkpointed
        # u — the broadcast build job materializes u's checkpoint, the
        # main plan reads the cache, and the next round's blocking
        # collect drives both rounds in one driver round-trip. Odd
        # rounds (and the last) collect s as before, bounding the
        # broadcast-build nesting depth at 1 (a deep lazy chain would
        # run entire Richardson sweeps inside broadcast-build threads,
        # subject to spark.sql.broadcastTimeout — the gmm_diag lesson).
        # Float shape verbatim both ways: the same hash-agg computes
        # Σu, and u - d * s / sumd (multiply before divide) is the
        # identical expression whether s arrives as a literal or as the
        # broadcast column — the SQL oracle replays it unchanged.
        if t % 2 == 0 and t + 1 < n_iter:
            sagg = u.agg(F.sum("u").alias("_s"))
            v = u.crossJoin(F.broadcast(sagg)).select(
                "node",
                (F.col("u") - F.col("d") * F.col("_s") / F.lit(sumd)).alias("v"),
            )
        else:
            s = u.agg(F.sum("u")).collect()[0][0]
            v = u.select(
                "node",
                (F.col("u") - F.col("d") * F.lit(float(s)) / F.lit(sumd)).alias("v"),
            )
    # v is a projection over the cached final u — min/max is one tiny
    # agg, folded in as literals like the per-round scalar
    mn, mx = v.agg(F.min("v"), F.max("v")).collect()[0]
    if not (mx > mn):
        return v.select("node", F.lit(0.0).alias("pseudotime"))
    return v.select(
        "node",
        F.round(
            (F.col("v") - F.lit(float(mn))) / F.lit(float(mx) - float(mn)), 6
        ).alias("pseudotime"),
    )

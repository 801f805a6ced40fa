"""Clustering (``scarf/datastore/graph_datastore.py:1379-1584``).

The reference runs Leiden (igraph) and Paris (sknetwork) on the
collected KNN graph — both driver-side over a linear-size edge list.
Spark-first we provide:

  * label_propagation — fully DISTRIBUTED, deterministic, synchronous
    label propagation on the edge DataFrame: each round is one
    join+groupBy (mode of neighbor labels, ties → smallest label).
    Scales to billions of edges; this is the cluster-scale path.
  * leiden_micros — deterministic Leiden (local moving → refinement →
    aggregation, Traag 2019) on the collected edge list (driver_compute;
    the KNN graph is n·k rows, the same envelope the reference accepts
    for leidenalg). Integer micro-weights and a pinned move order make
    it a full SQL value oracle; refinement keeps every community
    internally connected.
  * paris_dendrogram_micros — Paris average-linkage agglomeration over
    the same collected graph, again on integer micro-weights, with the
    straight (cut_dendrogram) and balanced (cut_dendrogram_balanced)
    cuts.
  * kmeans_mllib — MLlib KMeans on embedding vectors (seeded), the
    distributed centroid path used for the initial embedding
    (``ann.py:328-346``).
  * kmeans_lloyd — deterministic distributed Lloyd iterations with a
    seedless md5-order init, fully reproducible by any engine (the
    DuckDB oracle replays it with a recursive CTE). Same execution
    shape as MLlib's KMeans: broadcast the k centroids, assign
    JVM-side, one map-side-combined shuffle of k×d partial sums per
    iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scarf_spark.operators.graph import SymmetricGraph, symmetric_graph


def label_propagation(
    edges: DataFrame,
    n_iter: int = 3,
    nodes: DataFrame | None = None,
    sym: SymmetricGraph | None = None,
) -> DataFrame:
    """Deterministic synchronous label propagation: labels start as the
    node id; each iteration every node takes the modal label of its
    neighbors (tie → smallest label). Returns (node, cluster).

    Each iteration is one shuffle (groupBy node); the label table is
    node-sized and broadcastable against the edge list.

    ``sym``: a shared ``symmetric_graph`` of ``edges`` (only its
    deduped symmetric pair set is read); built unweighted if absent."""
    if sym is None:
        sym = symmetric_graph(edges, weight_col=None)
    und = sym.edges.select(F.col("i").alias("src"), F.col("j").alias("dst"))
    if nodes is None:
        nodes = sym.deg.select("node")
    labels = nodes.select("node", F.col("node").alias("cluster"))
    for _ in range(n_iter):
        # no F.broadcast hint here: forcing it on the checkpointed
        # label table costs a driver collect + torrent push EVERY
        # round and caps the graph at driver memory. Left as a shuffle
        # join, AQE sees the actual per-round shuffle stats and
        # converts to broadcast at runtime exactly when the label
        # table is genuinely small (the spectral_embedding /
        # harmonic_potential lesson).
        lab_d = labels.select(F.col("node").alias("_lnode"), "cluster")
        nb = (
            und.join(lab_d, und.dst == lab_d._lnode)
            .select(F.col("src").alias("node"), "cluster")
            .groupBy("node", "cluster")
            .agg(F.count("*").alias("n"))
        )
        # modal label, tie → smallest: one hash agg (max of the
        # lexicographic (n, -cluster) struct) instead of a sort window —
        # same exact integer semantics, no per-round sort
        # lazy localCheckpoint on each round's (node-sized) label table
        # so the next round joins a materialized input instead of
        # re-deriving the whole lineage (constant plan depth) — and the
        # blocks free themselves when the final labels drop, unlike the
        # previous unpaired per-round persist chain
        labels = (
            nb.groupBy("node")
            .agg(F.max(F.struct(F.col("n"), (-F.col("cluster")).alias("_nc"))).alias("_b"))
            .select("node", (-F.col("_b._nc")).alias("cluster"))
            .localCheckpoint(eager=False)
        )
    return labels


def leiden_micros(
    edges: DataFrame,
    sweeps: int = 2,
    levels: int = 3,
    weight_col: str = "w_micros",
) -> DataFrame:
    """driver_compute: INTEGER-EXACT deterministic Leiden — the same
    promotion playbook that took the Paris cuts from weak to full
    oracle (paris_dendrogram_micros). Three differences from the
    reference's leidenalg run (``graph_datastore.py:1379-1459``), each
    one removing an engine-private degree of freedom:

    * edge weights are integer micros and every modularity-gain
      comparison is the exact integer ``k_in·2m − k_v·Σ_tot``
      (resolution 1) — no float argmax anywhere;
    * the local-move order is pinned (ascending group id, a FIXED
      number of sweeps per level, fixed level count) instead of the
      work-queue, whose pop order is engine-private;
    * refinement merges only TRUE singletons (Traag 2019's actual
      rule), so the refined partition is one direct ref lookup with
      no anchor chains.

    The full trace — every move, every refinement merge, every
    aggregation — therefore replays verbatim in a recursive SQL CTE,
    and the query carries a full value oracle. Input edges need
    (a, b, weight_col) rows; direction and duplicates are normalized
    here. Returns (node, cluster), clusters renumbered by smallest
    member. Driver state is the n·k edge dict — the same
    driver_compute boundary as the reference's collected graph."""
    rows = edges.collect()
    ew: dict[tuple[int, int], int] = {}
    for r in rows:
        a, b = int(r["a"]), int(r["b"])
        if a == b:
            continue
        key = (a, b) if a < b else (b, a)
        ew[key] = ew.get(key, 0) + int(r[weight_col])
    labels = _leiden_micros_core(ew, sweeps=sweeps, levels=levels)
    mins: dict[int, int] = {}
    for n, c in labels.items():
        mins[c] = min(mins.get(c, n), n)
    spark = edges.sparkSession
    order = {c: i for i, c in enumerate(sorted(set(mins.values())))}
    return spark.createDataFrame(
        sorted((int(n), int(order[mins[labels[n]]])) for n in labels),
        "node long, cluster int",
    )


def _leiden_micros_core(
    ew: dict[tuple[int, int], int], sweeps: int = 2, levels: int = 3
) -> dict[int, int]:
    """Pure-python integer-exact Leiden over a normalized undirected
    edge dict {(a<b): w_micros} — the Spark-free kernel of
    :func:`leiden_micros`, kept separate so the SQL-replay oracle can
    be validated against it directly. Returns raw {node: comm label}
    (un-renumbered)."""
    nodes = sorted({n for e in ew for n in e})
    two_m = 2 * sum(ew.values())
    grp = {n: n for n in nodes}
    comm: dict[int, int] = {}
    for lvl in range(levels):
        groups = sorted(set(grp.values()))
        S = {g: 0 for g in groups}
        adjg: dict[int, dict[int, int]] = {g: {} for g in groups}
        for (a, b), w in ew.items():
            ga, gb = grp[a], grp[b]
            S[ga] += w
            S[gb] += w
            if ga != gb:
                adjg[ga][gb] = adjg[ga].get(gb, 0) + w
                adjg[gb][ga] = adjg[gb].get(ga, 0) + w
        # phase 1: fixed sweeps of greedy moves in ascending group order
        comm = {g: g for g in groups}
        c_tot = dict(S)
        for _ in range(sweeps):
            for g in groups:
                cv, kv = comm[g], S[g]
                k_in: dict[int, int] = {}
                for h, w in adjg[g].items():
                    k_in[comm[h]] = k_in.get(comm[h], 0) + w
                cand = sorted(set(k_in) | {cv})
                best, best_gain = cv, None
                for c in cand:
                    tot = c_tot[c] - (kv if c == cv else 0)
                    gain = k_in.get(c, 0) * two_m - kv * tot
                    if best_gain is None or gain > best_gain or (
                        gain == best_gain and c < best
                    ):
                        best, best_gain = c, gain
                if best != cv:
                    c_tot[cv] -= kv
                    c_tot[best] += kv
                    comm[g] = best
        # phase 2: refinement — singleton groups merge along internal
        # edges only (positive exact-integer gain, smallest-id ties)
        ref = {g: g for g in groups}
        r_tot = dict(S)
        has_members: set[int] = set()
        for g in groups:
            if g in has_members:
                continue
            cv, kv = comm[g], S[g]
            k_in = {}
            for h, w in adjg[g].items():
                if comm[h] == cv and ref[h] != g:
                    k_in[ref[h]] = k_in.get(ref[h], 0) + w
            best, best_gain = g, 0
            for rc in sorted(k_in):
                gain = k_in[rc] * two_m - kv * r_tot[rc]
                if gain > best_gain or (gain == best_gain and gain > 0 and rc < best):
                    best, best_gain = rc, gain
            if best != g:
                r_tot[best] += kv
                r_tot[g] -= kv
                ref[g] = best
                has_members.add(best)
        if lvl < levels - 1:
            grp = {n: ref[grp[n]] for n in nodes}
    return {n: comm[grp[n]] for n in nodes}


def kmeans_mllib(
    vectors: DataFrame, k: int = 4, seed: int = 4466, feature_cols: list[str] | None = None
) -> DataFrame:
    """MLlib KMeans (seeded, ``ann.py:328-346``) over per-cell reduced
    vectors; input either (cell_id, v array) or explicit feature cols.
    Returns (cell_id, cluster)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if feature_cols:
        feats = vectors.select(
            "cell_id", F.array(*[F.col(c).cast("double") for c in feature_cols]).alias("v")
        )
    else:
        feats = vectors.select(
            "cell_id", F.transform("v", lambda x: x.cast("double")).alias("v")
        )
    feats = feats.withColumn("features", array_to_vector("v"))
    model = KMeans(k=k, seed=seed, initMode="k-means||").fit(feats)
    out = model.transform(feats)
    return out.select("cell_id", F.col("prediction").alias("cluster"))


def kmeans_lloyd(
    vectors: DataFrame,
    k: int = 4,
    n_iter: int = 5,
    id_col: str = "cell_id",
    vec_col: str = "v",
) -> DataFrame:
    """Deterministic distributed Lloyd KMeans over (id, array<double>)
    rows. Returns (cell_id, cluster) with cluster ∈ 1..k.

    Init is seedless: the k rows with the smallest (md5(id), id)
    become centroids 1..k in that order — any engine reproduces it,
    unlike k-means||'s RNG stream. Each round is ONE Arrow-batched
    BLAS pass (``mapInPandas``, the cosine_knn_ivf pattern — the HOF
    distance expression this replaces ran interpreted at ~200 µs/row):
    every partition emits its ≤k (cluster, count, partial-sum-vector)
    rows, the driver combines them and broadcasts the k×d centroid
    matrix back through the next round's closure. Driver traffic is
    partitions×k×(d+1) doubles per round — constant in row count.
    Ties go to the smallest centroid id (argmin takes the first
    minimum; centroid rows are ordered by id). Clusters that lose
    every point drop out, same as the oracle's GROUP BY over assigned
    ids only. Partial-sum accumulation order follows the partition
    layout (exactly as the previous F.sum plan did); the oracle gate
    proves the fixture's assignment margins absorb ulp-order effects.
    """
    import numpy as np

    # eager localCheckpoint, not persist: consumed per round and
    # returned inside the output plan — checkpoint blocks free when the
    # caller's plan drops, an unpaired persist would leak storage
    pts = vectors.select(
        F.col(id_col).alias("_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_v"),
    ).localCheckpoint(eager=False)  # the seed scan below materializes it
    seeds = (
        pts.orderBy(F.md5(F.col("_id").cast("string")), "_id").limit(k).collect()
    )
    d = len(seeds[0]["_v"])
    cents = np.array([list(map(float, r["_v"])) for r in seeds])
    cids = list(range(1, k + 1))

    def partials_fn(C):
        def part(batches):
            import numpy as np
            import pandas as pd

            kk = C.shape[0]
            S = np.zeros((kk, d))
            N = np.zeros(kk, dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.stack(pdf["_v"].values).astype(np.float64)
                a = ((V[:, None, :] - C[None]) ** 2).sum(axis=2).argmin(axis=1)
                np.add.at(S, a, V)
                np.add.at(N, a, 1)
            live = [i for i in range(kk) if N[i] > 0]
            yield pd.DataFrame(
                {
                    "c": pd.array([i + 1 for i in live], dtype="int32"),
                    "n": pd.array([int(N[i]) for i in live], dtype="int64"),
                    "s": pd.Series([S[i].tolist() for i in live], dtype=object),
                }
            )

        return part

    for _ in range(n_iter):
        rows = pts.mapInPandas(
            partials_fn(cents), "c int, n bigint, s array<double>"
        ).collect()
        acc: dict[int, tuple[int, "np.ndarray"]] = {}
        # combine per-partition partials in collect (partition) order —
        # the same layout-determined order the F.sum plan accumulated in
        for r in rows:
            n0, s0 = acc.get(r["c"], (0, np.zeros(d)))
            acc[r["c"]] = (n0 + r["n"], s0 + np.asarray(r["s"]))
        next_cids, next_cents = [], []
        for pos, cid in enumerate(cids):
            hit = acc.get(pos + 1)
            if hit is None:
                continue
            next_cids.append(cid)
            next_cents.append(hit[1] / hit[0])
        cids, cents = next_cids, np.array(next_cents)

    id_type = pts.schema["_id"].dataType.simpleString()
    final_c, final_ids = cents, np.array(cids, dtype=np.int64)

    def assign(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({"_id": pdf["_id"], "cluster": []})
                continue
            V = np.stack(pdf["_v"].values).astype(np.float64)
            a = ((V[:, None, :] - final_c[None]) ** 2).sum(axis=2).argmin(axis=1)
            yield pd.DataFrame({"_id": pdf["_id"], "cluster": final_ids[a]})

    out = pts.mapInPandas(assign, f"_id {id_type}, cluster int").select(
        F.col("_id").alias(id_col), "cluster"
    )
    pts.unpersist()
    return out


def paris_dendrogram_micros(edges: DataFrame, weight_col: str = "w_micros"):
    """driver_compute: a Paris-style average-linkage agglomeration over
    the collected weighted graph, on integer micro-weights instead of
    accumulated floats, which makes the whole agglomeration replayable
    by any engine:

    the average-linkage similarity between clusters is EXACTLY
    ``W(A,B) / (|A|·|B|)`` (W = integer sum of member-pair weights —
    the float recursion ``sim·size/size_new`` telescopes to this), so
    the state is pure integers and the argmax key is the correctly-
    rounded DOUBLE quotient (both operands < 2⁵³ → any IEEE engine
    computes the identical double) with (smaller a, smaller b) as the
    tie-break. No order-dependent float accumulation anywhere — the
    merge sequence is a deterministic function of the integer edge
    table, which is what lets clust_paris_cut carry a full SQL oracle
    (a recursive CTE replaying the merges) instead of a rows-only
    check. Returns (merges, leaf_ids): merges is a list of
    (child_a, child_b, dist, size) — the (n-1, 4) dendrogram shape the
    reference stores — in a dense 0-based node space, with recorded
    dist = 1/(1+W/(sa·sb)); leaf_ids[i] is the original node id of
    dense leaf i, and internal node mi gets id ``len(leaf_ids) + mi``.

    Ref: ``graph_datastore.py:1461-1584`` (dendrogram build),
    ``dendrogram.py:106-239`` (cuts consume only the merge order)."""
    rows = edges.select("src", "dst", weight_col).collect()
    nodes = sorted({r["src"] for r in rows} | {r["dst"] for r in rows})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    W: dict[tuple[int, int], int] = {}
    for r in rows:
        a, b = idx[r["src"]], idx[r["dst"]]
        if a == b:
            continue
        key = (min(a, b), max(a, b))
        W[key] = W.get(key, 0) + int(r[weight_col])

    # O(E log E) agglomeration via a lazy-invalidation heap. The merge
    # sequence is IDENTICAL to a full argmax scan per round: a pair's
    # key (quotient, -a, -b) is immutable once the pair exists — its
    # integer weight never changes and both endpoint sizes are fixed at
    # pair-creation time (merges mint a NEW node id; they never resize
    # a live one) — so a popped entry is stale iff an endpoint has died,
    # and the first entry with both endpoints alive IS the argmax.
    import heapq

    size = [1] * n
    alive = [True] * n
    nbr: list[dict[int, int] | None] = [dict() for _ in range(n)]
    heap: list[tuple[float, int, int, int]] = []
    for (a, b), w in W.items():
        nbr[a][b] = w
        nbr[b][a] = w
        # min-heap on (-quotient, a, b) == max on (quotient, -a, -b)
        heapq.heappush(heap, (-(w / (size[a] * size[b])), a, b, w))
    merges = []
    nxt = n
    while heap:
        negq, a, b, w = heapq.heappop(heap)
        if not (alive[a] and alive[b]):
            continue
        merges.append((a, b, 1.0 / (1.0 - negq), size[a] + size[b]))
        alive[a] = alive[b] = False
        size.append(size[a] + size[b])
        alive.append(True)
        acc: dict[int, int] = {}
        for src in (a, b):
            for other, v in nbr[src].items():  # type: ignore[union-attr]
                if other != a and other != b and alive[other]:
                    acc[other] = acc.get(other, 0) + v  # W(o,m)=W(o,a)+W(o,b)
            nbr[src] = None  # free dead adjacency
        nbr.append(acc)
        for other, v in acc.items():
            nbr[other][nxt] = v  # type: ignore[index]
            heapq.heappush(
                heap, (-(v / (size[other] * size[nxt])), other, nxt, v)
            )
        nxt += 1
    return merges, nodes


def cut_dendrogram(merges, leaf_ids, n_clusters: int) -> dict[int, int]:
    """cut_straight analog (``sknetwork cut_straight``,
    ``graph_datastore.py:1519-1538``): undo the last (n_clusters-1)
    merges and label leaves by their component (components renumbered
    by smallest member). ``leaf_ids`` is the list returned by
    :func:`paris_dendrogram_micros`; keys of the result are the original
    node ids."""
    n_leaves = len(leaf_ids)
    parent = {}
    for mi, (a, b, _d, _s) in enumerate(merges):
        parent[a] = n_leaves + mi
        parent[b] = n_leaves + mi
    keep = len(merges) - (n_clusters - 1)

    def root(x):
        seen = set()
        while x in parent and parent[x] < n_leaves + keep:
            if x in seen:  # malformed dendrogram must not hang
                raise ValueError(f"cycle in dendrogram at node {x}")
            seen.add(x)
            x = parent[x]
        return x

    comp: dict[int, list[int]] = {}
    for leaf in range(n_leaves):
        comp.setdefault(root(leaf), []).append(leaf)
    out = {}
    for ci, (_r, members) in enumerate(sorted(comp.items(), key=lambda kv: min(kv[1]))):
        for m in members:
            out[leaf_ids[m]] = ci
    return out


def cut_dendrogram_balanced(
    merges, leaf_ids, max_size: int, min_size: int = 1
) -> dict[int, int]:
    """BalancedCut analog (``scarf/dendrogram.py:106-239``): walk the
    dendrogram top-down and split any cluster larger than ``max_size``;
    children smaller than ``min_size`` stay merged with their sibling's
    cluster id. Deterministic: clusters renumbered by smallest member.

    driver_compute over the (n-1, 4) merge list — linear in nodes, with
    an explicit visit cap so a malformed dendrogram cannot hang."""
    n_leaves = len(leaf_ids)
    children = {}
    size = {i: 1 for i in range(n_leaves)}
    for mi, (a, b, _d, s) in enumerate(merges):
        node = n_leaves + mi
        children[node] = (a, b)
        size[node] = s

    # forest-safe roots: every node (leaf or internal) that no later
    # merge consumed — on a connected graph this is just the last
    # merge, but a disconnected input yields one root per component
    # (the single-root shortcut silently DROPPED other components'
    # leaves from the labeling)
    parented = {x for a, b, _d, _s in merges for x in (a, b)}
    roots = [
        x for x in list(range(n_leaves)) + [n_leaves + i for i in range(len(merges))]
        if x not in parented
    ]
    final: list[list[int]] = []
    budget = 2 * (n_leaves + len(merges)) + 1

    def leaves_under(x: int) -> list[int]:
        out, stack = [], [x]
        for _ in range(budget):
            if not stack:
                return out
            y = stack.pop()
            if y < n_leaves:
                out.append(y)
            else:
                stack.extend(children[y])
        raise ValueError("cycle in dendrogram")

    stack = list(roots)
    for _ in range(budget):
        if not stack:
            break
        node = stack.pop()
        if node < n_leaves or size[node] <= max_size:
            final.append(leaves_under(node))
            continue
        a, b = children[node]
        # a too-small child is not split off on its own
        if size.get(a, 1) < min_size or size.get(b, 1) < min_size:
            final.append(leaves_under(node))
            continue
        stack.extend((a, b))
    else:
        raise ValueError("cycle in dendrogram")

    out = {}
    for ci, members in enumerate(sorted(final, key=min)):
        for m in members:
            out[leaf_ids[m]] = ci
    return out


def gmm_diag(
    vectors: DataFrame,
    k: int = 2,
    n_iter: int = 3,
    id_col: str = "cell_id",
    vec_col: str = "v",
    var_floor: float = 1e-6,
) -> DataFrame:
    """Deterministic diagonal-covariance Gaussian mixture (EM, fixed
    ``n_iter`` iterations) — probabilistic soft clustering next to the
    hard Lloyd assignment. Returns the SOFT responsibilities
    (cell_id, cluster, resp): every step of EM is smooth (log-density
    sums, softmax, weighted means), so unlike Louvain/Paris there is no
    discrete float branch and the whole fit replays exactly in a SQL
    oracle (the same boundary argument as Harmony and Lloyd's fixed
    iterations; emitting soft responsibilities rather than an argmax
    label keeps the output itself smooth too).

    Init is seedless: means = the k smallest-(md5(id), id) vectors
    (Lloyd's convention), unit variances, uniform weights.

    COLLECT-THEN-LITERAL EM (r16, guide §2.2/§2.4/§7.3): the k×d
    parameters are tiny by construction, so each E-step is a pure
    per-row EXPRESSION over the assembled vectors — the previous shape
    exploded the matrix to an (n·d)-row long table and re-shuffled it
    three times per iteration (groupBy (id, cluster) log-likelihoods,
    two per-id softmax window exchanges, plus the resp⋈dims M-step
    join: at 10⁸ cells × d=64 that is four full passes over 6.4e9 rows
    per iteration). Now ZERO shuffles per iteration: the M-step is ONE
    map-side-combined aggregate (k·(1+2d) sums) collected to the
    driver, and parameters fold back as double literals — the same
    doctrine as harmony/pagerank/modularity. Expression shapes mirror
    the previous operators term for term ((val−μ)·(val−μ)/σ² summed
    left-associated over dims, LN(w) − 0.5·ll, max-shifted exp,
    division by the k-term sum — for k=2 the two-term denominator is
    bitwise order-free), so the engine↔oracle drift stays in the same
    ~1e-15 class the ROUND(6) output has absorbed since round 8
    (re-verified hash-exact at sf0.001/sf0.01/sf0.1 this round).

    This also retires the r15 ADVICE hazard: no parameter broadcasts
    exist anymore, so no E-step can ever run inside a
    broadcast-exchange build thread."""
    import math

    from scarf_spark.ml.reduction import _dlit

    pts = vectors.select(
        F.col(id_col).alias("_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_v"),
    ).localCheckpoint(eager=False)
    # seeds + n in one pass each over the cached frame (the seed scan
    # materializes the checkpoint; count reads the cache)
    seeds = (
        pts.orderBy(F.md5(F.col("_id").cast("string")), "_id")
        .limit(k)
        .collect()
    )
    if len(seeds) < k:
        raise ValueError(
            f"gmm_diag: need >= k={k} vectors, got {len(seeds)}"
        )
    n = pts.count()
    mu = [[float(x) for x in r["_v"]] for r in seeds]
    d = len(mu[0])
    var = [[1.0] * d for _ in range(k)]
    w = [1.0 / k] * k
    two_pi = 2.0 * math.pi

    def resp_frame() -> DataFrame:
        """pts + _r0.._r{k-1} (softmax responsibilities) — every step a
        row-local expression over the CURRENT mu/var/w literals. The
        Σ_i LN(2π·σ²_ci) term is a per-cluster CONSTANT: folded on the
        driver (math.log — correctly-rounded libm vs the JVM's ≤1-ulp
        Math.log; the ≤1e-13 shift this puts on the logits is the same
        noise class as the engine↔oracle hash-agg fold difference,
        absorbed by the ROUND(6) output), which halves the per-row
        expression and the per-iteration codegen the profile showed
        dominating (~0.2s/stage at d=64)."""
        lgs = []
        for c in range(k):
            lconst = 0.0
            for i in range(d):
                lconst += math.log(two_pi * var[c][i])
            quad = " + ".join(
                f"(_v[{i}] - {_dlit(mu[c][i])}) * (_v[{i}] - {_dlit(mu[c][i])})"
                f" / {_dlit(var[c][i])}"
                for i in range(d)
            )
            lgs.append(
                f"(LN({_dlit(w[c])}) - 0.5D * ({quad} + {_dlit(lconst)}))"
            )
        base = pts.selectExpr(
            "_id", "_v", *[f"{lg} AS _lg{c}" for c, lg in enumerate(lgs)]
        )
        m = (
            "GREATEST(" + ", ".join(f"_lg{c}" for c in range(k)) + ")"
            if k > 1
            else "_lg0"
        )
        base = base.selectExpr("*", f"{m} AS _m").selectExpr(
            "_id", "_v",
            *[f"EXP(_lg{c} - _m) AS _e{c}" for c in range(k)],
        )
        rs = " + ".join(f"_e{c}" for c in range(k))
        return base.selectExpr(
            "_id", "_v",
            *[f"_e{c} / ({rs}) AS _r{c}" for c in range(k)],
        )

    for _ in range(n_iter):
        # M-step: ONE aggregate (k·(1+2d) map-side-combined sums) —
        # weighted masses and first/second moments; parameter updates
        # are the identical float expressions, now on driver doubles
        aggs = []
        for c in range(k):
            aggs.append(f"SUM(_r{c}) AS sr{c}")
            for i in range(d):
                aggs.append(f"SUM(_r{c} * _v[{i}]) AS sx{c}_{i}")
                aggs.append(
                    f"SUM(_r{c} * _v[{i}] * _v[{i}]) AS sq{c}_{i}"
                )
        row = resp_frame().selectExpr(*aggs).collect()[0]
        new_mu, new_var, new_w = [], [], []
        for c in range(k):
            sr = row[f"sr{c}"]
            mus, vars_ = [], []
            for i in range(d):
                q = row[f"sx{c}_{i}"] / sr
                mus.append(q)
                vars_.append(max(row[f"sq{c}_{i}"] / sr - q * q, var_floor))
            new_mu.append(mus)
            new_var.append(vars_)
            new_w.append(sr / float(n))
        mu, var, w = new_mu, new_var, new_w
    out = resp_frame().selectExpr(
        "_id",
        "inline(array("
        + ", ".join(
            f"named_struct('cluster', CAST({c + 1} AS BIGINT), "
            f"'resp', _r{c})"
            for c in range(k)
        )
        + "))",
    )
    return out.select(
        F.col("_id").alias(id_col),
        "cluster",
        F.round("resp", 6).alias("resp"),
    )

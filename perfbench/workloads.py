"""The two workloads of record.

Each workload drives the engine only through its public entry points
(``scarf_spark.workflow``, ``scarf_spark.operators``, ``scarf_spark.ml``,
``scarf_spark.sources`` and ``__spark_entry__.queries()``). A pass is a
list of operations, each timed by :meth:`Recorder.op` and tagged with
the span (layer) it exercises. Checks run after the pass, outside the
timed region, and return one verdict per checked operation.
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd


@dataclass
class Op:
    op_id: str
    span: str
    name: str
    pass_no: int
    t0: float
    t1: float
    error: str | None = None

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Recorder:
    """Times operations and tags their Spark jobs with a job group that
    names the operation, so a traced run can attribute every job."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.ops: list[Op] = []
        self.pass_no = 0

    def op(self, span: str, name: str, fn):
        op_id = f"pb-{len(self.ops)}"
        self.sc.setJobGroup(op_id, f"{span}:{name}")
        t0 = time.time()
        err, out = None, None
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            err = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
        t1 = time.time()
        self.sc.setJobGroup("pb-check", "benchmark checks")
        self.ops.append(Op(op_id, span, name, self.pass_no, t0, t1, err))
        return out

    def pass_ops(self, pass_no: int) -> list[Op]:
        return [o for o in self.ops if o.pass_no == pass_no]


def _unsign(df: pd.DataFrame) -> pd.DataFrame:
    """``-0.0`` → ``+0.0`` in every float column (the engine's
    registered queries apply the same ``+ 0.0`` on both sides)."""
    df = df.copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c] + 0.0
    return df


class Oracle:
    """DuckDB answers for registered query names, computed once per run
    on the same parquet files, compared with ``tools/selfcheck.py``'s
    ``compare``."""

    def __init__(self, data_dir: str):
        from selfcheck import compare, duck_con

        import __spark_entry__ as entry

        self._compare = compare
        self.con = duck_con(data_dir)
        self.sql = entry.oracle_sql()
        self._cache: dict[str, pd.DataFrame] = {}

    def expected(self, name: str, sql: str | None = None) -> pd.DataFrame:
        key = sql or name
        if key not in self._cache:
            self._cache[key] = _unsign(self.con.execute(sql or self.sql[name]).fetchdf())
        return self._cache[key]

    def check(self, name: str, got: pd.DataFrame | None, sql: str | None = None) -> tuple[bool, str]:
        if got is None:
            return False, "no output"
        ok, note = self._compare(_unsign(got), self.expected(name, sql))
        return ok, note


@dataclass
class Ctx:
    spark: object
    data_dir: str
    work_dir: str
    rng: np.random.Generator
    extra: dict = field(default_factory=dict)


class Workload:
    name = ""
    spans: tuple[str, ...] = ()
    needs_oracle = True

    def setup(self, ctx: Ctx, rec: Recorder) -> None:
        """Table loads and fixture builds (the ``catalog.load`` span)."""

    def run_pass(self, ctx: Ctx, rec: Recorder) -> dict:
        raise NotImplementedError

    def check(self, ctx: Ctx, outputs: dict) -> list[tuple[str, str, bool, str]]:
        """One ``(op_name, check, ok, note)`` per check."""
        raise NotImplementedError

    def layer_extras(self, ctx: Ctx, outputs: dict) -> dict:
        return {}

    def end_pass(self, ctx: Ctx, outputs: dict) -> None:
        ctx.spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# cell_atlas — the analyst session from the paper
# ---------------------------------------------------------------------------


class CellAtlas(Workload):
    """Fresh ScarfDataStore → filter → HVGs → KNN graph → label
    propagation → Paris → spectral embedding → pseudotime → markers.

    Iteration counts are cut to the minimum (one label-propagation
    round, one spectral power step, two pseudotime rounds) so a pass
    fits the run budget; the per-superstep cost still shows in the
    spans' ``driver_s`` and ``jobs``."""

    name = "cell_atlas"
    needs_oracle = False
    spans = (
        "workflow.filter", "ml.hvg", "workflow.graph", "ml.cluster.propagate",
        "ml.cluster.paris", "ml.embed.spectral", "ml.pseudotime.harmonic",
        "operators.markers",
    )
    HVGS, DIMS, K = 20, 5, 5
    LEIDEN_ITERS, SPECTRAL_ITERS, PTIME_ITERS, N_CLUSTERS = 1, 1, 2, 4

    def setup(self, ctx, rec):
        from scarf_spark.catalog import DataStore

        # the root / marker-group picks are fractions fixed by the seed,
        # resolved against the (seed-determined) graph on first use
        ctx.extra["root_frac"] = float(ctx.rng.random())
        ctx.extra["group_frac"] = float(ctx.rng.random())
        # each pass builds its own ScarfDataStore (and counts persist);
        # the catalog here only opens the tables
        ds = DataStore(ctx.spark, ctx.data_dir)
        for t in ds.table_names():
            ds.table(t)

    def run_pass(self, ctx, rec):
        from scarf_spark.workflow import ScarfDataStore

        spark, out = ctx.spark, {}

        def filt():
            ds = ScarfDataStore(spark, sf_dir=ctx.data_dir)
            ds.auto_filter_cells(["n_counts"])
            ds.cells.where("I").count()
            return ds

        ds = rec.op("workflow.filter", "auto_filter_cells", filt)
        if ds is None:
            return out
        out["ds"] = ds
        rec.op("ml.hvg", "mark_hvgs", lambda: ds.mark_hvgs(top_n=self.HVGS).feats.where("hvgs").count())
        edges = rec.op(
            "workflow.graph", "make_graph",
            lambda: self._materialize(ds.make_graph(dims=self.DIMS, k=self.K)),
        )
        if edges is None:
            return out
        if "root" not in ctx.extra:
            nodes = sorted(r[0] for r in edges.select("src").distinct().collect())
            ctx.extra["root"] = nodes[int(ctx.extra["root_frac"] * len(nodes))]
        rec.op("ml.cluster.propagate", "run_leiden_clustering",
               lambda: ds.run_leiden_clustering(n_iter=self.LEIDEN_ITERS).cells.count())
        rec.op("ml.cluster.paris", "run_clustering",
               lambda: ds.run_clustering(n_clusters=self.N_CLUSTERS).cells.count())
        rec.op("ml.embed.spectral", "run_spectral_embedding",
               lambda: ds.run_spectral_embedding(dims=2, n_iter=self.SPECTRAL_ITERS).cells.count())
        rec.op("ml.pseudotime.harmonic", "run_pseudotime_distributed",
               lambda: ds.run_pseudotime_distributed(
                   source_node=ctx.extra["root"], n_iter=self.PTIME_ITERS).cells.count())
        if "group" not in ctx.extra:
            groups = sorted(
                r[0] for r in ds.cells.where("I").select("RNA_cluster").distinct().collect()
                if r[0] is not None
            )
            ctx.extra["group"] = groups[int(ctx.extra["group_frac"] * len(groups))] if groups else 0
        rec.op("operators.markers", "run_marker_search",
               lambda: ds.run_marker_search("RNA_cluster").markers["RNA_cluster"].count())
        out["markers"] = rec.op(
            "operators.markers", "get_markers",
            lambda: ds.get_markers("RNA_cluster", ctx.extra["group"]).toPandas(),
        )
        out["edges"] = edges
        return out

    @staticmethod
    def _materialize(edges):
        edges.count()
        return edges

    def check(self, ctx, out):
        ds = out.get("ds")
        if ds is None or "edges" not in out:
            return [("make_graph", "graph.present", False, "pass did not produce a graph")]
        from pyspark.sql import functions as F

        res = []
        cols = ["cell_id", "I", "RNA_leiden_cluster", "RNA_cluster",
                "RNA_spectral1", "RNA_spectral2", "RNA_pseudotime"]
        try:
            cells = ds.cells.select(*cols).toPandas()
            edges = out["edges"].select("src", "dst", "weight").toPandas()
            # the graph's nodes are the active cells with a count on a
            # marked HVG, derived here from the store's own tables
            expected = set(
                ds.counts.join(ds.cells.where("I").select("cell_id"), "cell_id", "left_semi")
                .join(ds.feats.where(F.col("hvgs")).select("feat_id"), "feat_id", "left_semi")
                .select("cell_id").distinct().toPandas()["cell_id"]
            )
        except Exception as e:  # noqa: BLE001
            return [("make_graph", "outputs.collect", False, f"{type(e).__name__}: {e}")]
        in_graph = cells[cells["cell_id"].isin(expected)]
        res.append(("auto_filter_cells", "cells.unique", cells["cell_id"].is_unique, "one row per cell"))
        res.append(("make_graph", "graph.nodes",
                    bool(expected) and set(edges["src"]) == expected and set(edges["dst"]) <= expected,
                    f"{len(expected)} active cells with an HVG count are the graph's nodes"))
        deg = edges.groupby("src").size()
        res.append(("make_graph", "graph.k_per_cell", bool(len(deg) and (deg == self.K).all()),
                    f"out-degree {self.K} for every graph cell"))
        res.append(("make_graph", "graph.finite", bool(np.isfinite(edges["weight"]).all()), "finite weights"))
        res.append(("run_leiden_clustering", "labels.one_each",
                    bool(len(in_graph) == len(expected)
                         and in_graph["RNA_cluster"].notna().all()
                         and in_graph["RNA_leiden_cluster"].notna().all()),
                    "every graph cell carries both labels"))
        emb = in_graph[["RNA_spectral1", "RNA_spectral2", "RNA_pseudotime"]].to_numpy(float)
        res.append(("run_spectral_embedding", "embed.finite", bool(emb.size and np.isfinite(emb).all()),
                    "spectral+pseudotime finite"))
        mk = out.get("markers")
        res.append(("get_markers", "markers.nonempty", mk is not None and len(mk) > 0, "marker table"))
        h = _round_hash(in_graph.drop(columns=["I"]), edges, mk)
        first = ctx.extra.setdefault("hash", h)
        res.append(("get_markers", "pass.hash", h == first, "ROUND(6) hash equals pass 1"))
        return res


def _round_hash(*frames) -> str:
    m = hashlib.sha256()
    for df in frames:
        if df is None:
            continue
        d = df.copy()
        for c in d.columns:
            if pd.api.types.is_float_dtype(d[c]):
                d[c] = d[c].round(6) + 0.0
        d = d.reindex(sorted(d.columns), axis=1)
        d = d.sort_values(list(d.columns), ignore_index=True)
        m.update(d.to_csv(index=False).encode())
    return m.hexdigest()




# ---------------------------------------------------------------------------
# corpus_adhoc — the curator's text / dedup chain, then the interactive analyst
# ---------------------------------------------------------------------------

# operations of the chain, each checked against the DuckDB oracle of the
# registered query it reproduces
CORPUS_OPS = ("text_quality_score", "dedup_minhash_bands", "dedup_ngram_jaccard",
              "dedup_incremental", "pipe_pretrain_prep", "pipe_text_ann")
# registered query -> the span it exercises, one query per adhoc span
# (the Zarr roundtrip covers the sources)
ADHOC_QUERIES: dict[str, str] = {
    "qc_ncounts": "operators.qc",
    "norm_lib_size_log": "operators.normalize",
    "win_rolling_mean": "operators.windows",
    "agg_make_bulk": "operators.aggregate",
    "join_interval_binned": "operators.joins",
    "sql_q1": "sql",
    "stream_window_tumbling": "streaming",
}
# every pass writes the counts slice feat_id <= WRITE_FEAT_MAX to a
# fresh Zarr store and reads it back (two ops, always adjacent)
WRITE_OP, READ_OP = "zarr_write", "zarr_read"
WRITE_FEAT_MAX = 255


class CorpusAdhoc(Workload):
    """The curator's chain, rebuilt each pass from the public operators
    the way the registered queries build them: quality score →
    collapsed LSH chain → df-capped Jaccard verify → incremental MinHash
    maintenance of a new batch → n-gram decontamination + packing →
    hash-embed ANN. Then, in a new seeded order each pass, one short
    registered query per adhoc span and a Zarr roundtrip: the counts
    slice written through ``sources.zarr.coo_to_zarr`` into a fresh
    store, then read back.

    The registered dedup queries memoize the chain per session, so a
    pass of them would time cache reads; here the chain is redone."""

    name = "corpus_adhoc"
    spans = (
        "operators.text", "operators.dedup.lsh", "operators.dedup.verify",
        "operators.dedup.incremental", "operators.dedup.decontaminate",
        "operators.knn.ann",
        "sources.read", "sources.write", "operators.qc", "operators.normalize",
        "operators.windows", "operators.aggregate", "operators.joins", "sql",
        "streaming",
    )

    def setup(self, ctx, rec):
        import __spark_entry__ as entry
        from pyspark.sql import functions as F

        from scarf_spark.catalog import DataStore

        spark = ctx.spark
        ctx.extra["queries"] = entry.queries()
        ds = DataStore(spark, ctx.data_dir)
        for t in ds.table_names():
            ds.table(t)
        ctx.extra["docs"] = ds.documents
        ctx.extra["docs"].count()
        # the incremental stage treats doc_id % 10 == r as the new batch
        ctx.extra["new_residue"] = int(ctx.rng.integers(0, 10))
        sl = ds.counts().where(F.col("feat_id") <= WRITE_FEAT_MAX).persist()
        keys = sl.select("cell_id", "feat_id").toPandas()
        cells = np.unique(keys["cell_id"].to_numpy("<i8"))
        feats = np.unique(keys["feat_id"].to_numpy("<i8"))
        cmap = spark.createDataFrame(pd.DataFrame({"cell_id": cells, "row": np.arange(len(cells))}))
        fmap = spark.createDataFrame(pd.DataFrame({"feat_id": feats, "col": np.arange(len(feats))}))
        ctx.extra["write"] = (sl, cells, feats, cmap, fmap)
        ctx.extra["n_writes"] = 0

    def run_pass(self, ctx, rec):
        out = self._corpus(ctx, rec)
        out.update(self._adhoc(ctx, rec))
        return out

    def _corpus(self, ctx, rec):
        from pyspark.sql import functions as F

        from scarf_spark.operators import dedup, filters, knn, text

        docs, out = ctx.extra["docs"], {}
        keep = out["_persisted"] = []
        out["text_quality_score"] = rec.op(
            "operators.text", "text_quality_score", lambda: text.quality_score(docs).toPandas())

        def chain():
            classes = dedup.identical_classes(docs).persist()
            ch = dedup.lsh_collapse_chain(docs, n=3, n_hashes=8, n_bands=4, classes=classes)
            ch["rep_shingles"] = ch["rep_shingles"].persist()
            ch["rep_pairs"] = ch["rep_pairs"].persist()
            keep.extend([classes, ch["rep_shingles"], ch["rep_pairs"]])
            cand = dedup.expand_candidate_pairs(ch["rep_pairs"], ch["classes"], ch["sig_reps"])
            return ch, cand.toPandas()

        res = rec.op("operators.dedup.lsh", "dedup_minhash_bands", chain)
        if res is not None:
            ch, out["dedup_minhash_bands"] = res

            def verify():
                rep_jac, capped = dedup.collapsed_rep_jaccard(ch, df_cap=100)
                keep.extend([rep_jac.persist(), capped.persist()])
                return dedup.expand_pair_scores(rep_jac, ch["classes"], capped).toPandas()

            out["dedup_ngram_jaccard"] = rec.op("operators.dedup.verify", "dedup_ngram_jaccard", verify)

        r = ctx.extra["new_residue"]

        def incremental():
            new = docs.where(F.col("doc_id") % 10 == r)
            old = docs.where(F.col("doc_id") % 10 != r)
            sh_old = dedup.word_shingles(old, 3, distinct=False)
            stored = dedup.lsh_band_buckets_wide(dedup.minhash_signatures_wide(sh_old, 8), 8, 4)
            pairs, _ = dedup.incremental_minhash_candidates(new, stored, n=3, n_hashes=8, n_bands=4)
            return pairs.toPandas()

        out["dedup_incremental"] = rec.op(
            "operators.dedup.incremental", "dedup_incremental", incremental)

        def pretrain():
            dd_keep = dedup.exact_dedup(docs).where("keep").select("doc_id")
            q_keep = text.quality_filter(docs).where("keep").select("doc_id")
            corpus = docs.where(F.col("source") != "src0")
            clean = (
                dedup.ngram_decontaminate(corpus, docs.where(F.col("source") == "src0"), n=4)
                .where(~F.col("contaminated")).select("doc_id")
            )
            surv = (
                corpus.join(dd_keep, "doc_id", "semi").join(q_keep, "doc_id", "semi")
                .join(clean, "doc_id", "semi").select("doc_id", "text")
            )
            return filters.pack_sequences(surv, budget=256, n_buckets=8).select(
                "doc_id", "n_tokens", "bucket", "seq_id", "start_off").toPandas()

        out["pipe_pretrain_prep"] = rec.op(
            "operators.dedup.decontaminate", "pipe_pretrain_prep", pretrain)
        out["pipe_text_ann"] = rec.op(
            "operators.knn.ann", "pipe_text_ann",
            lambda: knn.cosine_knn_sharded(
                text.hash_embed(docs, dim=64), k=3, id_col="doc_id",
                rank_by_rounded=True, dim=64).toPandas())
        return out

    def _write(self, ctx):
        from pyspark.sql import functions as F

        from scarf_spark.sources import zarr as z

        sl, cells, feats, cmap, fmap = ctx.extra["write"]
        ctx.extra["n_writes"] += 1
        store = os.path.join(ctx.work_dir, f"zarr_out_{ctx.extra['n_writes']}")
        z.write_zarr_1d(os.path.join(store, "cellData", "ids"), cells)
        z.write_zarr_1d(os.path.join(store, "RNA", "featureData", "ids"), feats)
        coo = (
            sl.join(F.broadcast(cmap), "cell_id").join(F.broadcast(fmap), "feat_id")
            .select("row", "col", "value")
        )
        z.coo_to_zarr(coo, os.path.join(store, "RNA", "counts"),
                      (len(cells), len(feats)), chunks=(2048, 128))
        return store

    def _adhoc(self, ctx, rec):
        from scarf_spark.sources import zarr as z

        spark, d, qs = ctx.spark, ctx.data_dir, ctx.extra["queries"]
        units = [[q] for q in ADHOC_QUERIES] + [[WRITE_OP, READ_OP]]
        out = {}
        for i in ctx.rng.permutation(len(units)):
            for name in units[i]:
                if name == WRITE_OP:
                    out[name] = rec.op("sources.write", name, lambda: self._write(ctx))
                elif name == READ_OP:
                    store = out[WRITE_OP]
                    out[name] = None if store is None else rec.op(
                        "sources.read", name,
                        lambda: z.read_zarr_store(spark, store)["counts"].toPandas())
                else:
                    out[name] = rec.op(ADHOC_QUERIES[name], name,
                                       lambda fn=qs[name]: fn(spark, d).toPandas())
        return out

    def _incremental_sql(self, ctx, oracle: Oracle) -> str:
        base = oracle.sql["dedup_incremental"]
        old = "WHERE a % 10 = 0 OR b % 10 = 0"
        if base.count(old) != 1:
            raise ValueError("dedup_incremental oracle no longer has its new-batch predicate")
        r = ctx.extra["new_residue"]
        return base.replace(old, f"WHERE a % 10 = {r} OR b % 10 = {r}")

    def check(self, ctx, out):
        import shutil

        from scarf_spark.catalog import COUNTS_CTE

        oracle: Oracle = ctx.extra["oracle"]
        res = []
        for name in CORPUS_OPS + tuple(ADHOC_QUERIES):
            try:
                sql = self._incremental_sql(ctx, oracle) if name == "dedup_incremental" else None
                ok, note = oracle.check(name, out.get(name), sql)
            except Exception as e:  # noqa: BLE001
                ok, note = False, f"oracle error {type(e).__name__}: {e}"
            res.append((name, name, ok, note))
        sql = (f"WITH {COUNTS_CTE} SELECT cell_id, feat_id, value FROM counts "
               f"WHERE feat_id <= {WRITE_FEAT_MAX}")
        ok, note = oracle.check(READ_OP, out.get(READ_OP), sql)
        res.append((WRITE_OP, "zarr.roundtrip", ok, note))
        res.append((READ_OP, "zarr.roundtrip", ok, note))
        if out.get(WRITE_OP):
            shutil.rmtree(out[WRITE_OP], ignore_errors=True)
        return res

    def layer_extras(self, ctx, out):
        cand, jac = out.get("dedup_minhash_bands"), out.get("dedup_ngram_jaccard")
        if cand is None or jac is None or len(cand) == 0:
            return {}
        return {"dedup.candidate_yield": float((jac["jaccard"] >= 0.5).sum()) / len(cand)}

    def end_pass(self, ctx, out):
        # the catalog (counts persist, write slice) is session state set
        # up once; only the chain's per-pass persists are released
        for df in out.get("_persisted", []):
            df.unpersist()


WORKLOADS = {w.name: w for w in (CellAtlas, CorpusAdhoc)}

SETUP_SPANS = ("session.start", "catalog.load")
ALL_SPANS = SETUP_SPANS + CellAtlas.spans + CorpusAdhoc.spans
SHUFFLE_SPANS = (
    "workflow.graph", "operators.dedup.lsh", "operators.dedup.verify",
    "sources.write", "operators.aggregate", "operators.joins",
)

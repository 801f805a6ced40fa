"""Engine-surface guard (no Spark): every top-level def in
``scarf_spark/`` must be reachable from the engine itself, the query
registry (``__spark_entry__.py``), the benchmark (``perfbench/``,
``bench.py``) or ``tools/``. A function only a test calls is a twin or
an orphan; delete it, or give it a caller, or add it below with the
reason it stays."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]

CALLER_PATHS = ("scarf_spark", "__spark_entry__.py", "perfbench", "bench.py", "tools")

ALLOWED = {
    # references a test checks a graded operator against
    "cosine_knn_exact_hof": "expression-only twin test_knn checks the BLAS cosine_knn_exact against",
    "interval_overlap_join": "naive overlap join the binned interval joins are checked against",
    "min_label_components": "fresh recomputation the memoized dedup components are checked against",
    # the reference's reader surface, not yet decided on (ROADMAP item 5)
    "read_h5ad": "reference reader surface (AnnData .h5ad)",
    "read_loom": "reference reader surface (Loom)",
    "read_zarr_table": "reference reader surface (Zarr store with metadata columns)",
}


def _py_files(*parts):
    for part in parts:
        path = ROOT / part
        if path.is_file():
            yield path
        elif path.is_dir():
            yield from sorted(path.rglob("*.py"))


def _top_level_defs():
    defs = {}
    for path in _py_files("scarf_spark"):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[node.name] = f"{path.relative_to(ROOT)}:{node.lineno}"
    return defs


def _referenced_names():
    names = set()
    for path in _py_files(*CALLER_PATHS):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
    return names


def test_every_engine_def_has_a_caller():
    defs = _top_level_defs()
    unreached = set(defs) - _referenced_names()
    orphans = {name: defs[name] for name in sorted(unreached - set(ALLOWED))}
    assert not orphans, f"top-level defs no query, benchmark or tool reaches: {orphans}"
    # an allow-list entry that gained a caller (or was deleted) goes too
    assert unreached == set(ALLOWED), f"stale allow-list entries: {set(ALLOWED) - unreached}"

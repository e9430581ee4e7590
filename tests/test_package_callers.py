"""Every public top-level function and class of the package has a caller
outside ``tests/``, or is on ``ALLOWED`` with the reason it stays.

A definition counts as called when a non-test file references it: the
package itself, ``__spark_entry__.py``, ``bench.py``, ``perfbench/`` and
``scripts/``. A reference is a ``Name``, an ``Attribute``, an imported
name, or a string constant equal to the name (``perfbench/ledger.py``
wraps functions with ``setattr`` by name). Docstrings and comments do not
count, nor does a definition's reference to itself, nor a package
``__init__``'s re-export (its imports and ``__all__``), which calls
nothing. The scan matches bare names, so a same-named attribute elsewhere
(``pq.write_table``) also counts. No Spark.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "deepseek_ocr_api_rs_spark"
CALLER_ROOTS = (PACKAGE, "__spark_entry__.py", "bench.py", "perfbench", "scripts")

_DUCKDB_TWIN = "DuckDB twin used as an oracle"
_PLAN_HELPER = "plan-shape helper of the plan tests"

# module (dotted, below the package) -> name -> why it stays although only
# tests call it
ALLOWED = {
    "extraction.jpeg": {
        "encode_jpeg_12bit": "fixture encoder for the 12-bit JPEG decoder tests",
        "encode_jpeg_cmyk": "fixture encoder for the CMYK decoder tests",
    },
    "extraction.raster": {
        "encode_png_indexed": "fixture encoder for the palette PNG decoder tests",
        "resize_bicubic_scalar": "scalar oracle of the vectorized bicubic resize",
    },
    "fixtures.corpus": {
        "write_documents_parquet": "writes the fixture corpus the tests read",
    },
    "functions.web": {
        "absolutize_href_duckdb": _DUCKDB_TWIN,
        "extract_hrefs_duckdb": _DUCKDB_TWIN,
        "parse_feed_duckdb": _DUCKDB_TWIN,
        "parse_sitemap_duckdb": _DUCKDB_TWIN,
    },
    "operators.audio": {
        "spectral_features": "scalar oracle of audio_spectral_features' batched FFT",
    },
    "operators.bucketing": {
        "write_bucketed": "deletion candidate: bucketed layout only a plan test drives",
        "cobucketed_join": "deletion candidate: bucketed join only a plan test drives",
    },
    "operators.dedup": {
        "simhash_near_pairs": "exact SimHash pairs, the twin of simhash_fast",
        "unpersist_deps": "cache release for long-lived callers of the dedup operators",
    },
    "operators.partitioning": {
        "with_host": "deletion candidate: host column only the partitioning tests use",
    },
    "operators.similarity": {
        "ann_lsh_topk": "deletion candidate: LSH top-k only its recall test drives",
    },
    "plans.explain": {
        "count_exchanges": _PLAN_HELPER,
        "has_broadcast_join": _PLAN_HELPER,
        "has_partial_aggregate": _PLAN_HELPER,
        "pushed_filters": _PLAN_HELPER,
    },
    "sources.io": {
        "iceberg_available": "catalog probe of write_table's Iceberg branch",
    },
    "sources.snapshots": {
        "apply_deletes": "only way to clear the deletes q_snapshot_changelog writes",
        "rollback": "snapshot rollback, the undo of every commit path",
    },
    "sources.warc": {
        "make_wet_gz": "fixture encoder for the WET reader tests",
    },
    "streaming.jobs": {
        "extraction_stream": "only streaming sink of the extraction (COVERAGE S8)",
        "streaming_dedup": "only cross-batch stateful dedup",
    },
}


def _py_files(root: str) -> list[str]:
    path = os.path.join(REPO, root)
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(d, name)
        for d, _, names in os.walk(path)
        for name in names
        if name.endswith(".py")
    )


def _file_refs(tree: ast.Module, is_init: bool = False) -> dict[str, set[str]]:
    """name -> the top-level definitions of ``tree`` that reference it
    ("" for module-level code)."""
    docstrings = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            first = node.body[0] if node.body else None
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                docstrings.add(id(first.value))
    refs: dict[str, set[str]] = {}
    for stmt in tree.body:
        if is_init and (
            isinstance(stmt, (ast.Import, ast.ImportFrom))
            or isinstance(stmt, ast.Assign)
            and any(isinstance(t, ast.Name) and t.id == "__all__" for t in stmt.targets)
        ):
            continue
        owner = getattr(stmt, "name", "")
        for n in ast.walk(stmt):
            if isinstance(n, ast.Name):
                names = [n.id]
            elif isinstance(n, ast.Attribute):
                names = [n.attr]
            elif isinstance(n, (ast.Import, ast.ImportFrom)):
                names = [a.name.rsplit(".", 1)[-1] for a in n.names]
            elif (
                isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and id(n) not in docstrings
            ):
                names = [n.value]
            else:
                continue
            for name in names:
                refs.setdefault(name, set()).add(owner)
    return refs


def _uncalled() -> dict[str, int]:
    """``module.name`` -> line count of each public top-level package
    definition that no non-test file references."""
    defs: dict[str, tuple[str, str, int]] = {}
    refs: dict[str, set[tuple[str, str]]] = {}
    for root in CALLER_ROOTS:
        for path in _py_files(root):
            rel = os.path.relpath(path, REPO)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), rel)
            in_package = rel.startswith(PACKAGE + os.sep)
            if in_package:
                module = rel[len(PACKAGE) + 1 : -3].replace(os.sep, ".")
                for stmt in tree.body:
                    if isinstance(
                        stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                    ) and not stmt.name.startswith("_"):
                        defs[f"{module}.{stmt.name}"] = (
                            rel, stmt.name, stmt.end_lineno - stmt.lineno + 1
                        )
            is_init = in_package and rel.endswith("__init__.py")
            for name, owners in _file_refs(tree, is_init).items():
                refs.setdefault(name, set()).update((rel, o) for o in owners)
    return {
        qual: n_lines
        for qual, (rel, name, n_lines) in defs.items()
        if not refs.get(name, set()) - {(rel, name)}
    }


def test_every_public_definition_has_a_non_test_caller():
    uncalled = _uncalled()
    allowed = {f"{m}.{n}" for m, names in ALLOWED.items() for n in names}
    missing = sorted(set(uncalled) - allowed)
    assert not missing, (
        "package code that only tests call: delete it with its tests, move "
        "it into tests/, or add it to ALLOWED with a reason: "
        + ", ".join(f"{q} ({uncalled[q]} lines)" for q in missing)
    )


def test_allowlist_is_current():
    """An entry whose definition is gone or has gained a caller is stale,
    and every entry gives a reason."""
    uncalled = _uncalled()
    stale = sorted(
        f"{m}.{n}" for m, names in ALLOWED.items() for n in names
        if f"{m}.{n}" not in uncalled
    )
    assert not stale, stale
    assert all(r.strip() for names in ALLOWED.values() for r in names.values())


def test_scan_counts_each_kind_of_reference():
    tree = ast.parse(
        '"""only_in_docstring"""\n'
        "import pkg.via_import\n"
        "from pkg import via_from\n"
        "__all__ = ['via_all']\n"
        "def only_self():\n"
        "    return only_self\n"
        "def caller():\n"
        "    '''only_in_docstring'''\n"
        "    setattr(obj.via_attr, 'via_string', via_name)  # via_comment\n"
    )
    refs = _file_refs(tree)
    for name in ("via_import", "via_from", "via_all", "via_attr", "via_string", "via_name"):
        assert name in refs, name
    assert "only_in_docstring" not in refs and "via_comment" not in refs
    assert refs["only_self"] == {"only_self"}  # its own body only
    init_refs = _file_refs(tree, is_init=True)
    assert not {"via_import", "via_from", "via_all"} & set(init_refs)

"""Static guards that keep one copy of each text, dedup and payload kernel
in the LLM operators: the shifted-slice zip_with n-gram construction lives
only in ``dedup.array_shingles``, text.py builds no n-gram as a
``transform`` over an index sequence, the quarantine row is written by one
parse-or-quarantine loop, and the per-seed LSH edge union is built only by
``similarity.lsh_edges``."""

from __future__ import annotations

import ast
import glob
import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "helium_arango_etl_lite_spark",
)


def _modules(pattern: str):
    for p in sorted(glob.glob(os.path.join(PKG, pattern), recursive=True)):
        yield os.path.relpath(p, PKG), ast.parse(open(p, encoding="utf-8").read())


def _function_nodes(tree: ast.Module):
    """(function, node) for every node in the body of a module-level
    function or method, docstrings excluded. Decorators and module-level
    statements, where the DuckDB oracle SQL lives, are not visited."""
    tops = []
    for stmt in tree.body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
            tops.append((stmt.name, stmt))
        elif isinstance(stmt, ast.ClassDef):
            tops += [
                (f"{stmt.name}.{m.name}", m) for m in stmt.body
                if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
    for name, fn in tops:
        docs = {
            id(n.body[0].value) for n in ast.walk(fn)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            and n.body and isinstance(n.body[0], ast.Expr)
            and isinstance(n.body[0].value, ast.Constant)
        }
        for stmt in fn.body:
            for node in ast.walk(stmt):
                if id(node) not in docs:
                    yield name, node


def _call_name(node) -> str | None:
    if not isinstance(node, ast.Call):
        return None
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _calls_inside(call: ast.Call, names: tuple[str, ...]) -> bool:
    return any(
        _call_name(n) in names for arg in call.args for n in ast.walk(arg)
    )


def _text(node) -> str:
    return node.value if isinstance(node, ast.Constant) and isinstance(node.value, str) else ""


def test_shifted_slice_ngrams_only_in_array_shingles():
    """A zip_with that joins tokens with concat/concat_ws, or Spark SQL text
    zipping slices, is an n-gram construction: only array_shingles may
    build one, in operators/ and in the catalog's Spark bodies."""
    sites = set()
    for pattern in ("operators/**/*.py", "plans/*.py"):
        for path, tree in _modules(pattern):
            for fn, node in _function_nodes(tree):
                if _call_name(node) == "zip_with" and _calls_inside(
                    node, ("concat", "concat_ws")
                ):
                    sites.add((path, fn))
                if re.search(r"zip_with\s*\(\s*slice\s*\(", _text(node)):
                    sites.add((path, fn))
    assert sites == {("operators/llm/dedup.py", "array_shingles")}, sorted(sites)


def test_text_builds_no_transform_sequence_ngrams():
    """text.py takes its n-grams from dedup.word_shingles_all: no
    transform over an index sequence slices the token array there."""
    (_, tree), = _modules("operators/llm/text.py")
    offenders = [
        fn for fn, node in _function_nodes(tree)
        if (_call_name(node) == "transform" and _calls_inside(node, ("slice",)))
        or re.search(r"transform\s*\(\s*sequence\s*\(.*slice\s*\(", _text(node), re.S)
    ]
    assert not offenders, offenders


def test_quarantined_row_written_by_one_function():
    writers = {
        (path, fn)
        for path, tree in _modules("**/*.py")
        for fn, node in _function_nodes(tree)
        if _text(node) == "quarantined"
    }
    assert writers == {("operators/llm/multimodal.py", "_parse_or_quarantine")}, sorted(writers)


def test_lsh_edge_union_only_in_lsh_edges():
    """A function that both calls knn_join_bucketed and unions frames is
    building the per-seed LSH neighbour-edge union: only
    ``similarity.lsh_edges`` may, in operators/ and in the catalog."""
    seen: dict[tuple[str, str], set[str]] = {}
    for pattern in ("operators/**/*.py", "plans/*.py"):
        for path, tree in _modules(pattern):
            for fn, node in _function_nodes(tree):
                name = _call_name(node) or getattr(node, "attr", None)
                if name == "knn_join_bucketed":
                    seen.setdefault((path, fn), set()).add("knn")
                elif name in ("union", "unionAll", "unionByName"):
                    seen.setdefault((path, fn), set()).add("union")
    sites = {site for site, kinds in seen.items() if kinds == {"knn", "union"}}
    assert sites == {("operators/llm/similarity.py", "lsh_edges")}, sorted(sites)

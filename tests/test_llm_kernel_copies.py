"""Static guards that keep one copy of each text, dedup and payload kernel
in the LLM operators: the shifted-slice zip_with n-gram construction lives
only in ``dedup.array_shingles``, text.py builds no n-gram as a
``transform`` over an index sequence, the quarantine row is written by one
parse-or-quarantine loop, and the per-seed LSH edge union is built only by
``similarity.lsh_edges``. Under plans/, each similarity-search building
block of the catalog (oracle SQL fragment or Spark helper) has one copy in
``catalog_similarity.py``, and each dedup building block one copy in
``catalog_dedup.py``; the dedup operators take no MinHash, threshold or
width parameter that the catalog would have to repeat."""

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


SIM = "plans/catalog_similarity.py"


def _scope(stmt) -> str:
    if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
        return stmt.name
    for t in getattr(stmt, "targets", []):
        if isinstance(t, ast.Name):
            return t.id
    return "<module>"


def _plans_strings():
    """(path, scope, text) for every string literal and f-string in the
    catalog modules, f-string fields rendered as ``{}`` and whitespace
    collapsed; docstrings and ``doc=`` texts are left out. The scope is
    the top-level function or assignment holding the string, so an
    entry's decorator oracle belongs to the entry."""
    for path, tree in _modules("plans/*.py"):
        for stmt in tree.body:
            if isinstance(stmt, ast.Expr):
                continue
            skip = set()
            for n in ast.walk(stmt):
                if (
                    isinstance(n, (ast.FunctionDef, ast.ClassDef)) and n.body
                    and isinstance(n.body[0], ast.Expr)
                    and isinstance(n.body[0].value, ast.Constant)
                ):
                    skip.add(id(n.body[0].value))
                elif isinstance(n, ast.keyword) and n.arg == "doc":
                    skip.update(id(m) for m in ast.walk(n.value))
                elif isinstance(n, ast.JoinedStr):
                    skip.update(id(v) for v in n.values)
            for n in ast.walk(stmt):
                if id(n) in skip:
                    continue
                if isinstance(n, ast.JoinedStr):
                    text = "".join(
                        v.value if isinstance(v, ast.Constant) else "{}"
                        for v in n.values
                    )
                else:
                    text = _text(n)
                if text:
                    yield path, _scope(stmt), " ".join(text.split())


def _sql_sites(pattern: str) -> set[tuple[str, str]]:
    rx = re.compile(pattern)
    return {(p, scope) for p, scope, text in _plans_strings() if rx.search(text)}


def test_rounded_cosine_sql_defined_once():
    """The DuckDB rounded cosine (dot over the two sqrt norms) is written
    only in ``_cos_sql``; every similarity oracle calls it."""
    sites = _sql_sites(r"round\(list_dot_product\([^()]*\) / \(sqrt\(list_dot_product\(")
    assert sites == {(SIM, "_cos_sql")}, sorted(sites)


def test_hyperplane_literals_built_once():
    """A ``join`` over ``repr`` of each element renders a float vector as
    a DuckDB list literal: only ``_plane_lits`` may."""
    sites = {
        (path, _scope(stmt))
        for path, tree in _modules("plans/*.py")
        for stmt in tree.body
        for n in ast.walk(stmt)
        if _call_name(n) == "join" and n.args
        and isinstance(n.args[0], (ast.GeneratorExp, ast.ListComp))
        and _call_name(n.args[0].elt) == "repr"
    }
    assert sites == {(SIM, "_plane_lits")}, sorted(sites)


def test_lsh_bucket_sql_defined_once():
    sites = _sql_sites(r"CASE WHEN list_dot_product\(v, [^)]*\) >= 0 THEN")
    assert sites == {(SIM, "_bucketed_sql")}, sorted(sites)


def test_ivf_seed_and_argmax_sql_defined_once():
    """The md5-ordered seed centroids and the rounded-cosine argmax cell
    are written once each; every IVF oracle composes the two."""
    assert _sql_sites(r"ORDER BY md5\(vec_id::VARCHAR\), vec_id LIMIT") == {
        (SIM, "_ivf_seeds_sql")
    }
    assert _sql_sites(r"\.cid AS cell,") == {(SIM, "_ivf_asg_sql")}


def test_pairwise_rank_and_recall_tail_defined_once():
    assert _sql_sites(r"PARTITION BY qid ORDER BY cos_sim DESC, nid\) AS rank\b") == {
        (SIM, "_ranked_sql")
    }
    assert _sql_sites(r"AS recall_at_k") == {(SIM, "_RECALL_TAIL")}


def test_ivf_pq_build_called_from_one_place():
    sites = {
        (path, _scope(stmt))
        for path, tree in _modules("plans/*.py")
        for stmt in tree.body
        for n in ast.walk(stmt)
        if _call_name(n) == "ivf_pq_build"
    }
    assert sites == {(SIM, "_ivf_pq_build")}, sorted(sites)


def test_power_iteration_step_exists_once():
    """The loading sum u_d = sum_i s_i * x_id is written once on each
    side: ``_power_iterate`` (Spark) and ``_pi_sql`` (oracle)."""
    spark_steps = [
        (path, _scope(stmt))
        for path, tree in _modules("plans/*.py")
        for stmt in tree.body
        for n in ast.walk(stmt)
        if isinstance(n, ast.BinOp) and isinstance(n.op, ast.Mult)
        and [_call_name(x) for x in (n.left, n.right)] == ["col", "col"]
        and [x.args[0].value for x in (n.left, n.right)] == ["s", "x"]
    ]
    assert spark_steps == [(SIM, "_power_iterate")], spark_steps
    sql_steps = [
        (p, scope)
        for p, scope, text in _plans_strings()
        for _ in re.findall(r"sum\(s\S*\.s \* ", text)
    ]
    assert sql_steps == [(SIM, "_pi_sql")], sql_steps


DEDUP = "plans/catalog_dedup.py"


def test_minhash_signature_and_band_ctes_defined_once():
    """The DuckDB MinHash signature (the seeded (a*x + b) mod 2^31-1
    family over the shingle hashes), the ``sig`` and ``bands`` CTEs and
    the all-pairs band self-join are written once each; every MinHash
    oracle composes them."""
    assert _sql_sites(r"coalesce\(list_min\(list_transform\(h, x ->") == {
        (DEDUP, "_SIG_SELECT")
    }
    assert _sql_sites(r"\bsig AS \(") == {(DEDUP, "_SIG_CTES")}
    assert _sql_sites(r"\bbands AS \(") == {(DEDUP, "_lsh_ctes")}
    assert _sql_sites(r"a\.band_key = b\.band_key AND a\.doc_id < b\.doc_id") == {
        (DEDUP, "_BAND_PAIRS_SQL")
    }


def test_jaccard_verify_and_closure_defined_once():
    """The exact-Jaccard verify join over candidate pairs and the
    recursive ``reach`` closure are written once each; the dedup
    pipelines, ``llm_dup_clusters`` and ``llm_semantic_clusters`` take
    them from catalog_dedup."""
    assert _sql_sites(r"list_intersect\(sa\.shd, sb\.shd\)") == {(DEDUP, "_VERIFY_JOIN")}
    assert _sql_sites(r"\breach\(src, dst\) AS") == {(DEDUP, "_reach_sql")}


def test_shingle_sql_and_overlap_defined_once():
    """The distinct word-3-gram shingle CTE, the word n-gram at index i
    and the exploded-shingle overlap (``sizes``/``pairs``) are written
    once each."""
    assert _sql_sites(r"t\[i\] \|\| ' ' \|\| t\[i\+1\]") == {(DEDUP, "_SHINGLES_CTE")}
    assert _sql_sites(r"array_to_string\([^()]*\[i:i\+") == {(DEDUP, "_gram_sql")}
    assert _sql_sites(r"count\(\*\) AS inter\b") == {(DEDUP, "_overlap_sql")}


def test_whitespace_fingerprint_defined_once():
    """The ``\\s+``-collapsing md5 fingerprint is one oracle fragment
    (``_NORM_FP_SQL``); no catalog Spark body rebuilds it, they call
    ``text._normalized_md5``."""
    assert _sql_sites(r"regexp_replace\(lower\(text\), '\\s\+'") == {(DEDUP, "_NORM_FP_SQL")}
    spark_sites = {
        (path, _scope(stmt))
        for path, tree in _modules("plans/*.py")
        for stmt in tree.body
        for n in ast.walk(stmt)
        if _call_name(n) == "regexp_replace"
        and any(_text(a) == r"\s+" for a in n.args)
    }
    assert not spark_sites, sorted(spark_sites)


def test_keeper_mapping_written_once():
    """Mapping every doc through its representative's cluster label
    (``coalesce(_cl, rep)``) and marking the keeper is ``_keepers``'s
    job; the three pipelines and the flat fixture call it."""
    sites = [
        (path, _scope(stmt))
        for path, tree in _modules("plans/catalog_dedup.py")
        for stmt in tree.body
        for n in ast.walk(stmt)
        if _call_name(n) == "coalesce" and n.args
        and _call_name(n.args[0]) == "col" and _text(n.args[0].args[0]) == "_cl"
    ]
    assert sites == [(DEDUP, "_keepers")], sites


def test_dedup_operators_take_no_fixed_setting():
    """MinHash K, bands and seed, the Jaccard and containment thresholds,
    the SimHash width and the scrubbed span length are constants of
    operators/llm/dedup.py: no public function takes them, so the
    catalog's oracles and operators cannot disagree on them."""
    (_, tree), = _modules("operators/llm/dedup.py")
    fixed = {"num_hashes", "bands", "seed", "threshold", "bits", "span_w"}
    offenders = [
        (fn.name, a.arg)
        for fn in tree.body
        if isinstance(fn, ast.FunctionDef) and not fn.name.startswith("_")
        for a in fn.args.args + fn.args.kwonlyargs
        if a.arg in fixed
    ]
    assert not offenders, offenders

"""Static guards that keep one copy of each graph kernel in
``operators/graph_algorithms.py``: no other function in ``operators/`` or
``plans/`` unions an edge frame with its reversal, and the PageRank
damping update and the min-label propagation loop each occur once."""

from __future__ import annotations

import ast

from test_llm_kernel_copies import _call_name, _function_nodes, _modules

GRAPH = "operators/graph_algorithms.py"


def _sites(match) -> set[tuple[str, str]]:
    """(module, function) of every function body in operators/ and plans/
    with a node for which ``match`` holds."""
    return {
        (path, fn)
        for pattern in ("operators/**/*.py", "plans/*.py")
        for path, tree in _modules(pattern)
        for fn, node in _function_nodes(tree)
        if match(node)
    }


def _column(node) -> str | None:
    """The column a select argument reads: ``"x"`` or ``F.col("x")``."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if _call_name(node) == "col" and node.args and isinstance(node.args[0], ast.Constant):
        return node.args[0].value
    return None


def _projection(select: ast.Call) -> dict[str, str]:
    """output column -> input column of a ``select`` call's plain and
    ``F.col(x).alias(y)`` arguments."""
    out = {}
    for arg in select.args:
        if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
            out[arg.value] = arg.value
        elif _call_name(arg) == "alias" and arg.args and isinstance(arg.args[0], ast.Constant):
            src = _column(arg.func.value)
            if src is not None:
                out[arg.args[0].value] = src
    return out


def test_edges_meet_their_reversal_only_in_undirected():
    """A function that projects two columns ``(a, b)`` both straight and
    swapped onto the same output pair is building an edge list's
    reversal: only ``graph_algorithms.undirected`` may do that."""
    sites = set()
    for pattern in ("operators/**/*.py", "plans/*.py"):
        for path, tree in _modules(pattern):
            pairs: dict[str, set] = {}
            for fn, node in _function_nodes(tree):
                if _call_name(node) == "select":
                    p = _projection(node)
                    pairs.setdefault(fn, set()).update(
                        (x, y, p[x], p[y]) for x in p for y in p if x < y and p[x] != p[y]
                    )
            for fn, ps in pairs.items():
                if any((x, y, b, a) in ps or (a, b) == (y, x) for x, y, a, b in ps):
                    sites.add((path, fn))
    assert sites == {(GRAPH, "undirected")}, sorted(sites)


def test_pagerank_damping_update_occurs_once():
    """The damping factor multiplies the propagated rank in one place."""

    def damping(node) -> bool:
        if _call_name(node) == "lit" and node.args:
            node = node.args[0]
        name = node.attr if isinstance(node, ast.Attribute) else getattr(node, "id", None)
        return name == "DAMPING" or (isinstance(node, ast.Constant) and node.value == 0.85)

    sites = _sites(
        lambda n: isinstance(n, ast.BinOp) and isinstance(n.op, ast.Mult)
        and (damping(n.left) or damping(n.right))
    )
    assert sites == {(GRAPH, "pagerank")}, sorted(sites)


def test_min_label_loop_occurs_once():
    """A loop that takes the least neighbour label and keeps the old label
    where there is none is min-label propagation. ``dedup.dup_clusters``
    is not one: its loop also jumps each label to its label's label
    (``least``) and runs to a fixpoint, the Hash-to-Min connected
    components."""

    def calls(loop: ast.For) -> set[str | None]:
        return {_call_name(n) for n in ast.walk(loop)}

    sites = _sites(
        lambda n: isinstance(n, ast.For)
        and {"min", "coalesce"} <= calls(n)
        and "least" not in calls(n)
    )
    assert sites == {(GRAPH, "label_propagation")}, sorted(sites)

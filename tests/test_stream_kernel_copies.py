"""Static guards that keep one copy of the stateful-streaming scaffold in
``streaming/stateful.py``: the package calls ``applyInPandasWithState``
once, and only the fold helper writes a key's state. Both match calls in
the AST, so catalog docs that name the API do not count."""

from __future__ import annotations

import ast

from test_llm_kernel_copies import _call_name, _function_nodes, _modules

STATEFUL = "streaming/stateful.py"


def test_apply_in_pandas_with_state_called_once():
    calls = [
        (path, node.lineno)
        for path, tree in _modules("**/*.py")
        for node in ast.walk(tree)
        if _call_name(node) == "applyInPandasWithState"
    ]
    sites = {
        (path, fn)
        for path, tree in _modules("**/*.py")
        for fn, node in _function_nodes(tree)
        if _call_name(node) == "applyInPandasWithState"
    }
    assert len(calls) == 1 and sites == {(STATEFUL, "_fold_by_user")}, (calls, sites)


def test_state_written_only_by_the_fold_helper():
    """``state.update(...)`` happens in the update function that
    ``_fold`` builds, never in an operator's own step."""
    sites = {
        (path, fn)
        for path, tree in _modules("**/*.py")
        for fn, node in _function_nodes(tree)
        if _call_name(node) == "update"
        and getattr(node.func, "value", None) is not None
        and getattr(node.func.value, "id", None) == "state"
    }
    assert sites == {(STATEFUL, "_fold")}, sorted(sites)

"""operators.connected_components is the engine's one component
resolver: no sibling resolvers, no per-call algorithm knobs."""

from __future__ import annotations

import ast
from pathlib import Path

import programmers_data_spark as pkg

RESOLVER_KNOBS = {"driver_cutoff", "max_iterations", "label_prop_cap"}


def _resolver_violations(tree):
    found = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names = [node.name]
        elif isinstance(node, ast.Name):
            names = [node.id]
        elif isinstance(node, ast.Attribute):
            names = [node.attr]
        elif isinstance(node, ast.alias):
            names = [node.name, node.asname or ""]
        else:
            names = []
        if any(n.startswith("connected_components_") for n in names):
            found.append(getattr(node, "lineno", None))
        if (
            isinstance(node, ast.Call)
            and ast.unparse(node.func).endswith("connected_components")
            and RESOLVER_KNOBS & {k.arg for k in node.keywords}
        ):
            found.append(node.lineno)
    return sorted(set(found))


def test_one_resolver_without_knobs():
    """No package module defines or imports a connected_components_*
    variant, or passes an algorithm knob to the resolver."""
    root = Path(pkg.__file__).parent
    found = {
        str(p.relative_to(root)): lines
        for p in sorted(root.rglob("*.py"))
        if (lines := _resolver_violations(ast.parse(p.read_text())))
    }
    assert not found, f"second resolver or resolver knob: {found}"
    planted = ast.parse(
        "from .operators import connected_components_auto\n"
        "def connected_components_two_phase(edges): ...\n"
        "labels = operators.connected_components(e, driver_cutoff=0)\n"
        "labels = connected_components(e, 'a', 'b')\n"
    )
    assert _resolver_violations(planted) == [1, 2, 3]

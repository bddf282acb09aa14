"""Dead-helper guard: every top-level, undecorated function of the
package is referenced somewhere outside its own definition — in its
module, in another package module, or in a test, tool, benchmark or
entry-point file. Declared queries and exit hooks are decorated, so
their registration is their use."""

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "vector_search_application_spark"


def _names(tree: ast.AST) -> Counter:
    """Identifiers, attribute names, imported names and string
    constants (perfbench/layers.BUILDERS names functions by string).
    Comments are not in the AST, so they never count as a use."""
    out: Counter = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out[node.id] += 1
        elif isinstance(node, ast.Attribute):
            out[node.attr] += 1
        elif isinstance(node, ast.alias):
            out[node.name.rpartition(".")[2]] += 1
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            out[node.value] += 1
    return out


def test_no_unreferenced_top_level_functions():
    files = [
        p for p in ROOT.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)
    ]
    trees = {p: ast.parse(p.read_text(), str(p)) for p in files}
    uses: Counter = Counter()
    for tree in trees.values():
        uses += _names(tree)
    dead = [
        f"{p.relative_to(ROOT)}:{node.lineno} {node.name}"
        for p, tree in trees.items()
        if PACKAGE in p.parents
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not node.decorator_list
        and uses[node.name] == _names(node)[node.name]
    ]
    assert dead == []

"""Dead-code guard: every top-level function and class in ``pcrawler_spark/``
must be referenced somewhere in the repository's Python files other than
its own definition.  References are read from the AST — names, attribute
accesses and import aliases — so a mention in a comment or docstring does
not keep a function alive.
"""

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = REPO / "pcrawler_spark"
SKIP_DIRS = {"__pycache__", "spark-warehouse", "metastore_db"}


def _py_files():
    for p in sorted(REPO.rglob("*.py")):
        parts = p.relative_to(REPO).parts[:-1]
        if any(d.startswith(".") or d in SKIP_DIRS for d in parts):
            continue
        yield p


def _referenced(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.alias):
        return node.name.rsplit(".", 1)[-1]
    return None


def _unreferenced() -> list[str]:
    defined: dict[str, list[str]] = {}
    refs: set[str] = set()
    for path in _py_files():
        tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
        in_pkg = PKG in path.parents
        for top in tree.body:
            own = None
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                own = top.name
                if in_pkg:
                    defined.setdefault(own, []).append(str(path.relative_to(REPO)))
            for node in ast.walk(top):
                name = _referenced(node)
                # a definition's references to itself (recursion) do not count
                if name is not None and not (in_pkg and name == own):
                    refs.add(name)
    return sorted(f"{name} ({', '.join(where)})"
                  for name, where in defined.items() if name not in refs)


def test_no_unreferenced_package_definitions():
    dead = _unreferenced()
    assert not dead, "defined in pcrawler_spark/ but referenced nowhere:\n" + "\n".join(dead)


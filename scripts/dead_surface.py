"""Report package definitions that no contract, benchmark or script reaches.

Usage: python scripts/dead_surface.py

Reachability is computed over the ASTs, not by text search:

* Nodes are the module-level definitions of the package: functions,
  classes, and the names bound by module-level assignments (so a
  registry such as ``_DECODERS = (_decode_png, ...)`` reaches what it
  lists once the registry itself is reached).
* Roots are everything in ``__spark_entry__.py``, ``bench.py``,
  ``perfbench/`` and ``scripts/``, the classes exported in the package
  ``__all__``, and module-level statements that run on import (anything
  that is not a definition, an assignment or an import).
* A reached body reaches every definition whose name it uses as a name,
  as an attribute, or as a string literal (dotted strings such as
  ``"dbt_databricks_metrics_spark.ext.dedup"`` count part by part).
  Imports and re-exports bind names but reach nothing by themselves.

Matching is by name across the whole package, so a name shared by two
definitions keeps both: the scan can miss dead code, never flag live
code. Tests are not roots: code reached only by its own tests is listed.
Prints one line per unreached function or class, ``module:name kind
lines``; assigned names are followed but not listed.
"""

from __future__ import annotations

import ast
import sys
from dataclasses import dataclass
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = "dbt_databricks_metrics_spark"
ROOT_PATHS = ("__spark_entry__.py", "bench.py", "perfbench", "scripts")


@dataclass
class Definition:
    module: str
    name: str
    kind: str
    lines: int
    uses: set[str]


def _py_files(path: Path) -> list[Path]:
    if path.is_file():
        return [path]
    return sorted(p for p in path.rglob("*.py") if "__pycache__" not in p.parts)


def _uses(node: ast.AST) -> set[str]:
    """Every identifier the node uses: names, attributes, global
    declarations and identifier-shaped parts of string literals."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Global):
            out.update(n.names)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.update(p for p in n.value.split(".") if p.isidentifier())
    return out


def _targets(stmt) -> list[str]:
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def package_definitions() -> tuple[list[Definition], set[str]]:
    """The package's module-level definitions, and the identifiers used by
    module-level statements that run on import."""
    defs: list[Definition] = []
    on_import: set[str] = set()
    for path in _py_files(REPO / PACKAGE):
        module = ".".join(path.relative_to(REPO).with_suffix("").parts)
        tree = ast.parse(path.read_text(), filename=str(path))
        for i, stmt in enumerate(tree.body):
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                first = min([d.lineno for d in stmt.decorator_list] + [stmt.lineno])
                kind = "class" if isinstance(stmt, ast.ClassDef) else "function"
                defs.append(Definition(module, stmt.name, kind,
                                       stmt.end_lineno - first + 1, _uses(stmt)))
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                for name in _targets(stmt):
                    defs.append(Definition(module, name, "constant",
                                           stmt.end_lineno - stmt.lineno + 1,
                                           _uses(stmt)))
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            elif i == 0 and isinstance(stmt, ast.Expr) and isinstance(
                stmt.value, ast.Constant
            ):
                continue  # module docstring
            else:
                on_import |= _uses(stmt)
    return defs, on_import


def _exported_classes(defs: list[Definition]) -> set[str]:
    tree = ast.parse((REPO / PACKAGE / "__init__.py").read_text())
    exported: set[str] = set()
    for stmt in tree.body:
        if isinstance(stmt, ast.Assign) and "__all__" in _targets(stmt):
            exported = set(ast.literal_eval(stmt.value))
    return {d.name for d in defs if d.kind == "class" and d.name in exported}


def unreached() -> list[Definition]:
    """Package functions and classes no root reaches, in module order."""
    defs, reached = package_definitions()
    for root in ROOT_PATHS:
        for path in _py_files(REPO / root):
            reached |= _uses(ast.parse(path.read_text(), filename=str(path)))
    reached |= _exported_classes(defs)
    live: set[int] = set()
    grew = True
    while grew:
        grew = False
        for i, d in enumerate(defs):
            if i not in live and d.name in reached:
                live.add(i)
                reached |= d.uses
                grew = True
    return [d for i, d in enumerate(defs) if i not in live and d.kind != "constant"]


def main() -> int:
    hits = unreached()
    for d in hits:
        print(f"{d.module}:{d.name} {d.kind} {d.lines}")
    print(f"{len(hits)} unreached definitions, {sum(d.lines for d in hits)} lines",
          file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())

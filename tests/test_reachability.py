"""Every package definition is reachable from a run.

A run is `Pipeline.run`, `jobs/run_pipeline.py`, a driver query
(`__spark_entry__.py`), `bench.py`, the gated benchmark (`perfbench/`)
or a tool.  The scan takes each module-level and class-level name that
the package defines and counts the identifier in those sources, leaving
out the definition's own lines.  A name counted nowhere else is code
that only tests reach: delete it with its tests, or keep it here with
the reason.  A function registered as a driver query is reached through
the registry.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "xmltoldmigration_spark"

# kept although only tests reach them
KEPT = {
    "sources/iceberg.py:write_graph_table":
        "the Iceberg adapter stays as it is until an Iceberg runtime is available",
    "kg/transfers/eapfonds.py:resources_from_lines":
        "the CSV transfers are S5 of the port, to be wired into jobs/run_pipeline.py",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _run_sources() -> list[Path]:
    return (sorted(PACKAGE.rglob("*.py")) + sorted((REPO / "jobs").rglob("*.py"))
            + sorted((REPO / "tools").rglob("*.py")) + sorted((REPO / "perfbench").glob("*.py"))
            + [REPO / "bench.py", REPO / "__spark_entry__.py"])


def _named(node):
    """(name, node) for each name one statement defines."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        yield node.name, node
    elif isinstance(node, (ast.Assign, ast.AnnAssign)):
        for target in node.targets if isinstance(node, ast.Assign) else [node.target]:
            for n in ast.walk(target):
                if isinstance(n, ast.Name):
                    yield n.id, node


def _definitions(tree: ast.Module):
    for node in tree.body:
        yield from _named(node)
        if isinstance(node, ast.ClassDef):
            for sub in node.body:
                yield from _named(sub)


def _registered(node) -> bool:
    return any(isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
               for d in getattr(node, "decorator_list", ()))


def unreached() -> set[str]:
    texts = {p: p.read_text() for p in _run_sources()}
    counts = Counter(name for text in texts.values() for name in _IDENT.findall(text))
    found = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        lines = texts[path].splitlines()
        for name, node in _definitions(ast.parse(texts[path])):
            if (name.startswith("__") and name.endswith("__")) or _registered(node):
                continue
            start = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", ())])
            own = _IDENT.findall("\n".join(lines[start - 1:node.end_lineno])).count(name)
            if counts[name] == own:
                found.add(f"{path.relative_to(PACKAGE).as_posix()}:{name}")
    return found


def test_every_package_definition_is_reachable_from_a_run():
    assert unreached() == set(KEPT)

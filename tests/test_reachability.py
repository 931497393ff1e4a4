"""Every package module must be reachable from the driver contract.

The walk is static: it follows every ``import`` / ``from ... import``
statement of ``__spark_entry__.py`` and ``bench.py`` (the driver's
correctness and perf entry points) transitively through the package,
including imports inside function bodies, because ``all_queries()`` and
many queries import lazily. A module no query, cache builder or driver
entry reaches has no consumer; it is deleted, not kept for its own test.
No Spark needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "open_rust_timeseries_db_spark"
ROOTS = ("__spark_entry__.py", "bench.py")

# Unreached on purpose, one reason each.
ALLOWED = {
    "api.py": "the paper's own Table API; PARITY.md rows E1-E10 map onto it",
    "plans/": "plan inspector used by tests/test_plans.py and "
    "scripts/plan_audit.py",
}


def _module_file(dotted: str) -> Path | None:
    base = REPO.joinpath(*dotted.split("."))
    for cand in (base / "__init__.py", base.with_suffix(".py")):
        if cand.is_file():
            return cand
    return None


def _imported_names(path: Path):
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield alias.name
        elif isinstance(node, ast.ImportFrom):
            # The walk resolves absolute imports only.
            assert node.level == 0, f"{path}: relative import"
            yield node.module
            # ``from pkg import sub`` may name a submodule.
            for alias in node.names:
                yield f"{node.module}.{alias.name}"


def _reached() -> set[Path]:
    seen: set[Path] = set()
    todo = [REPO / r for r in ROOTS]
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for name in _imported_names(path):
            parts = name.split(".")
            if parts[0] != PKG:
                continue
            # Importing a.b.c runs a/__init__.py and a/b/__init__.py too.
            for i in range(1, len(parts) + 1):
                mod = _module_file(".".join(parts[:i]))
                if mod is not None:
                    todo.append(mod)
    return seen


def test_every_module_is_reached_from_the_driver_contract():
    for entry in ALLOWED:
        assert (REPO / PKG / entry).exists(), f"stale ALLOWED entry {entry}"
    reached = _reached()
    unreached = []
    for path in sorted((REPO / PKG).rglob("*.py")):
        rel = path.relative_to(REPO / PKG).as_posix()
        if path not in reached and not any(map(rel.startswith, ALLOWED)):
            unreached.append(rel)
    assert not unreached, (
        f"modules no driver entry point imports: {unreached}; delete them "
        "or add an ALLOWED entry with its reason"
    )


"""Static reachability of the package: which `streamds_spark` modules no
entry point imports.

The walk follows `import` / `from ... import` statements (parsed with `ast`,
nothing is imported, no Spark session starts) from the user-facing roots:
the lazy export table in `streamds_spark/__init__.py`, the CLI, the server,
the query registry package and `bench.py`. Importing `a.b.c` also runs the
`__init__` of `a` and `a.b`, so parents count as reached.

UNREACHED names the modules that only their own tests import. A new orphan
fails this test; wiring one of them into an entry point, or deleting it,
means editing the set.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "streamds_spark"

UNREACHED = {
    "operators.custom",
    "operators.logreg",
    "streaming.attribution",
    "streaming.funnel",
    "streaming.journeys",
}


def _all_modules() -> dict[str, Path]:
    out = {}
    for p in (REPO / PKG).rglob("*.py"):
        parts = p.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = p
    return out


def _lazy_exports(init: Path) -> set[str]:
    """Module names in the `lazy = {name: (module, attr)}` table."""
    for node in ast.walk(ast.parse(init.read_text())):
        if (
            isinstance(node, ast.Assign)
            and any(isinstance(t, ast.Name) and t.id == "lazy" for t in node.targets)
            and isinstance(node.value, ast.Dict)
        ):
            return {v.elts[0].value for v in node.value.values}
    raise AssertionError("no lazy export table in streamds_spark/__init__.py")


def _imported_names(path: Path, module: str) -> set[str]:
    """Every dotted name an import statement in `path` may refer to; a
    `from x import y` yields both `x` and `x.y` (y may be a submodule)."""
    package = module if path.name == "__init__.py" else module.rpartition(".")[0]
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.rsplit(".", node.level - 1)[0]
                base = f"{base}.{node.module}" if node.module else base
            else:
                base = node.module
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def _reached(modules: dict[str, Path]) -> set[str]:
    roots = _lazy_exports(modules[PKG]) | {
        PKG,
        f"{PKG}.cli",
        f"{PKG}.server",
        f"{PKG}.queries",
    }
    roots |= _imported_names(REPO / "bench.py", "bench")
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            mod = ".".join(parts[:i])
            if mod in modules and mod not in seen:
                seen.add(mod)
                todo.extend(_imported_names(modules[mod], mod))
    return seen


def test_only_listed_modules_are_unreached_from_entry_points():
    modules = _all_modules()
    assert f"{PKG}.cli" in modules and f"{PKG}.queries" in modules
    unreached = {
        m[len(PKG) + 1 :] for m in set(modules) - _reached(modules)
    }
    assert unreached == UNREACHED


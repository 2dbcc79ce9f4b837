"""tools/ scripts stay in step with the package API (no Spark needed).

The scripts under ``tools/`` are not imported by any test, so a renamed
or deleted package function, or a dropped keyword, leaves them broken
until someone runs them by hand. This test parses every ``tools/*.py``
with ``ast`` — module-level and function-local imports alike — and
checks, against the imported package itself:

- every ``from etl_sber_spark... import name`` resolves;
- every ``alias.attr`` on an imported package module exists;
- every keyword passed to an imported package callable is a parameter
  of its ``inspect.signature`` (unless it takes ``**kwargs``).

The same ``ast`` walk, followed from every entry point (the CLIs, the
query registries, ``bench.py``, the driver entry, perfbench and the
tools), must reach every package module but two named exceptions.
"""

from __future__ import annotations

import ast
import importlib
import inspect
import types
from pathlib import Path

import pytest

PKG = "etl_sber_spark"
ROOT = Path(__file__).resolve().parent.parent
TOOLS = sorted((ROOT / "tools").glob("*.py"))


def _package_names(tree: ast.AST, errors: list[str]) -> dict[str, object]:
    """Every name an import statement anywhere in ``tree`` binds to a
    package module or object."""
    names: dict[str, object] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name != PKG and not a.name.startswith(PKG + "."):
                    continue
                mod = importlib.import_module(a.name)
                if a.asname:
                    names[a.asname] = mod
                else:
                    names[PKG] = importlib.import_module(PKG)
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            if node.module != PKG and not (node.module or "").startswith(
                PKG + "."
            ):
                continue
            mod = importlib.import_module(node.module)
            for a in node.names:
                if hasattr(mod, a.name):
                    obj = getattr(mod, a.name)
                else:
                    try:  # a submodule not yet loaded as an attribute
                        obj = importlib.import_module(
                            f"{node.module}.{a.name}"
                        )
                    except ImportError:
                        errors.append(
                            f"line {node.lineno}: {node.module} has no "
                            f"{a.name!r}"
                        )
                        continue
                names[a.asname or a.name] = obj
    return names


def _resolve(node: ast.AST, names: dict[str, object], errors: list[str]):
    """The package object an expression names, or None when it is not
    a (chain of attributes on a) package name. Attribute lookups on
    package MODULES are checked; other attributes are not followed."""
    if isinstance(node, ast.Name):
        return names.get(node.id)
    if isinstance(node, ast.Attribute):
        base = _resolve(node.value, names, errors)
        if not isinstance(base, types.ModuleType):
            return None
        if not hasattr(base, node.attr):
            errors.append(
                f"line {node.lineno}: {base.__name__} has no {node.attr!r}"
            )
            return None
        return getattr(base, node.attr)
    return None


def _check_keywords(call: ast.Call, fn, errors: list[str]) -> int:
    if not callable(fn) or isinstance(fn, types.ModuleType):
        return 0
    try:
        params = inspect.signature(fn).parameters
    except (TypeError, ValueError):  # builtins without a signature
        return 0
    if any(p.kind is p.VAR_KEYWORD for p in params.values()):
        return 0
    n = 0
    for kw in call.keywords:
        if kw.arg is None:  # **mapping: not checkable statically
            continue
        n += 1
        if kw.arg not in params:
            errors.append(
                f"line {call.lineno}: {getattr(fn, '__qualname__', fn)} "
                f"takes no keyword {kw.arg!r}"
            )
    return n


def check_tool(path: Path) -> tuple[list[str], int]:
    """(errors, number of keyword arguments checked) for one script."""
    tree = ast.parse(path.read_text(), filename=str(path))
    errors: list[str] = []
    names = _package_names(tree, errors)
    n_kw = 0
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
            _resolve(node, names, errors)
        if isinstance(node, ast.Call):
            fn = _resolve(node.func, names, [])
            n_kw += _check_keywords(node, fn, errors)
    return sorted(set(errors)), n_kw


@pytest.mark.parametrize("path", TOOLS, ids=[p.name for p in TOOLS])
def test_tool_matches_package_api(path):
    errors, _ = check_tool(path)
    assert not errors, f"{path.name}:\n" + "\n".join(errors)


def test_checker_sees_keywords_and_flags_drift(tmp_path):
    """The checker is not vacuous: the real tools pass keywords to
    package callables, and a stale name, attribute and keyword are
    each reported."""
    assert sum(check_tool(p)[1] for p in TOOLS) > 0
    stale = tmp_path / "stale.py"
    stale.write_text(
        "def main():\n"
        "    from etl_sber_spark.operators import dedup as dd\n"
        "    from etl_sber_spark.operators.curate import curate_corpus\n"
        "    from etl_sber_spark.operators.dedup import no_such_name\n"
        "    dd.no_such_attr(1)\n"
        "    curate_corpus(None, no_such_keyword=1)\n"
    )
    errors, _ = check_tool(stale)
    assert len(errors) == 3, errors
    for word in ("no_such_name", "no_such_attr", "no_such_keyword"):
        assert any(word in e for e in errors), (word, errors)


# --- every package module is reached from an entry point -----------------

#: Entry points whose imports (module-level and function-local) define
#: what the package must contain.
ENTRY_FILES = (
    [
        ROOT / PKG / f"{m}.py"
        for m in ("__main__", "corpus_cli", "ann_cli", "crawl_cli")
    ]
    + [ROOT / PKG / "plans" / f"{m}.py" for m in ("queries", "llm_queries")]
    + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    + [
        p
        for p in (ROOT / "perfbench").glob("*.py")
        if not p.name.startswith("test_")
    ]
    + list(TOOLS)
)

#: Package modules no entry point imports, each kept for a stated reason.
UNREACHED_ON_PURPOSE = {
    f"{PKG}.operators.quality": "the pipeline tests check the fact with it",
    f"{PKG}.sources.jdbc": "the documented Oracle read path (see __main__)",
}


def _package_modules() -> dict[str, Path]:
    """Dotted module name → file, for every module under the package."""
    mods = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imported_modules(path: Path, name: str | None, mods: dict) -> set[str]:
    """Package modules the import statements in one file load: each
    imported module, its parent packages, and any ``from``-imported name
    that is itself a submodule. ``name`` is the file's own dotted name
    (None outside the package); it resolves relative imports."""
    is_pkg = path.name == "__init__.py"
    out: set[str] = set()

    def add(dotted: str) -> None:
        parts = dotted.split(".")
        for i in range(1, len(parts) + 1):
            if ".".join(parts[:i]) in mods:
                out.add(".".join(parts[:i]))

    if name is not None:  # running a package module loads its parents
        add(name)
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            for a in node.names:
                add(a.name)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                if name is None:  # a script's own relative import
                    continue
                anchor = name.split(".")
                anchor = anchor[: len(anchor) - node.level + is_pkg]
                base = ".".join(anchor + ([base] if base else []))
            add(base)
            for a in node.names:
                add(f"{base}.{a.name}")
    return out


def test_every_package_module_is_reached_from_an_entry_point():
    """Walk the imports from the CLIs, the query registries, bench.py,
    the driver entry, perfbench and the tools: every package module is
    reached, apart from the named exceptions. Code that only its own
    tests import does not stay in the package."""
    mods = _package_modules()
    by_path = {p: n for n, p in mods.items()}
    todo = [(p, by_path.get(p)) for p in ENTRY_FILES]
    reached: set[str] = set()
    while todo:
        path, name = todo.pop()
        for m in _imported_modules(path, name, mods) - reached:
            reached.add(m)
            todo.append((mods[m], m))
    assert sorted(set(mods) - reached) == sorted(UNREACHED_ON_PURPOSE)

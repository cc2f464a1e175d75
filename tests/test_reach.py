"""Every package module and every top-level package function is reached
from an entry point that runs without the tests. The roots are ``cli.py``,
the benchmark workload modules (``perfbench/*.py``), ``__spark_entry__.py``,
``bench.py`` and ``tools/*.py``.

Modules: a module is reached when a root or a reached module imports it.
Lazy imports inside functions, relative imports, ``from package import
module`` and ``importlib.import_module`` with a constant name all count.

Functions: a top-level ``def`` or ``class`` is reached when a root, a
reached body or a module-level statement of the package names it: an
``ast.Name``, an attribute name, an import alias, or an identifier-shaped
string constant (``setattr``/``getattr`` targets, call-time lookups).
Every ``cli.py`` function and every dunder is a root. An ``__all__`` list
or an ``__init__.py`` re-export does not reach anything.

The walk reads source, never imports it. A module or function that only
its own tests use fails here."""

from __future__ import annotations

import ast
import pathlib
import shutil

import commercepulse_data_pipeline_spark

PACKAGE = pathlib.Path(commercepulse_data_pipeline_spark.__file__).resolve().parent
REPO = PACKAGE.parent

# Unreached functions that stay, each for its reason. Nothing else goes here.
KEPT = {
    "compat.read_events_with_pos": "reference implementation: the "
    "golden-replay fixture replays the reference's shipped outputs with it",
    "operators.text._dedup_lines_naive": "reference implementation: the "
    "property test's oracle for dedup_lines",
    "functions.pins.set_pin_policy": "the reliable-checkpoint directory is "
    "a deployment setting",
    "functions.pins.get_pin_policy": "reads back set_pin_policy",
    "operators.similarity.lsh_topk_indexed": "the only reader of the LSH "
    "index the stream-dedup-embeddings store writes; "
    "test_stream_dedup_embeddings_cross_batch checks the store with it",
}

DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _roots(package: pathlib.Path) -> list[pathlib.Path]:
    return [
        package / "cli.py",
        REPO / "__spark_entry__.py",
        REPO / "bench.py",
        *sorted((REPO / "perfbench").glob("*.py")),
        *sorted((REPO / "tools").glob("*.py")),
    ]


def _modules(package: pathlib.Path) -> dict[str, pathlib.Path]:
    out = {}
    for path in package.rglob("*.py"):
        parts = path.relative_to(package.parent).with_suffix("").parts
        out[".".join(parts[:-1] if parts[-1] == "__init__" else parts)] = path
    return out


def _resolve(module: str, level: int, package: str) -> str:
    if not level:
        return module
    base = package.rsplit(".", level - 1)[0] if level > 1 else package
    return f"{base}.{module}" if module else base


def _imported(path: pathlib.Path, name: str):
    """Every module name ``path`` may import, resolved to absolute form;
    ``name`` is the file's own module name (for relative imports)."""
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            yield from (alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = _resolve(node.module or "", node.level, package)
            yield base
            yield from (f"{base}.{alias.name}" for alias in node.names)
        elif (
            isinstance(node, ast.Call)
            and getattr(node.func, "attr", getattr(node.func, "id", None)) == "import_module"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and isinstance(node.args[0].value, str)
        ):
            target = node.args[0].value
            anchor = next(
                (kw.value.value for kw in node.keywords if kw.arg == "package" and isinstance(kw.value, ast.Constant)),
                package,
            )
            level = len(target) - len(target.lstrip("."))
            yield _resolve(target[level:], level, anchor)


def unreached(package: pathlib.Path, roots: list[pathlib.Path]) -> list[str]:
    """Modules of ``package`` that no root reaches through imports."""
    modules = _modules(package)
    names = {path: name for name, path in modules.items()}
    reached: set[str] = set()
    todo = list(roots)

    def reach(name: str) -> None:
        # importing a.b.c runs a/__init__.py and a/b/__init__.py as well
        while name:
            if name in modules and name not in reached:
                reached.add(name)
                todo.append(modules[name])
            name = name.rpartition(".")[0]

    for root in roots:
        reach(names.get(root, ""))
    while todo:
        path = todo.pop()
        for target in _imported(path, names.get(path, path.stem)):
            reach(target)
    return sorted(set(modules) - reached)


def _named(node: ast.AST):
    """Every name ``node`` mentions: names, attribute names, import
    aliases and identifier-shaped string constants."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield from n.name.split(".")
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            yield n.value


def _is_all(stmt: ast.stmt) -> bool:
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [getattr(stmt, "target", None)]
    return any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets)


def unreached_defs(package: pathlib.Path, roots: list[pathlib.Path]) -> list[str]:
    """Top-level defs of ``package`` (``module.name``) that nothing
    reached names, walked to a fixpoint from the roots."""
    todo: list[ast.AST] = [ast.parse(root.read_text()) for root in roots]
    defs: dict[str, list[tuple[str, ast.stmt]]] = {}
    for module, path in _modules(package).items():
        if path in roots:
            continue
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, DEFS):
                if stmt.name.startswith("__") and stmt.name.endswith("__"):
                    todo.append(stmt)
                else:
                    defs.setdefault(stmt.name, []).append((f"{module}.{stmt.name}", stmt))
            elif not _is_all(stmt) and not (
                path.name == "__init__.py" and isinstance(stmt, (ast.Import, ast.ImportFrom))
            ):
                todo.append(stmt)
    named: set[str] = set()
    while todo:
        for name in _named(todo.pop()):
            if name not in named:
                named.add(name)
                todo.extend(stmt for _, stmt in defs.get(name, ()))
    return sorted(d for name, found in defs.items() if name not in named for d, _ in found)


def test_every_package_module_is_reached_from_an_entry_point():
    assert unreached(PACKAGE, _roots(PACKAGE)) == []


def test_every_package_function_is_reached_from_an_entry_point():
    kept = sorted(f"{PACKAGE.name}.{name}" for name in KEPT)
    assert unreached_defs(PACKAGE, _roots(PACKAGE)) == kept


def test_walk_reports_an_unimported_module(tmp_path):
    """The check itself, on a copy of the package: an added module that
    nothing imports is reported; modules reached only through a lazy
    import, a relative import, ``from package import module`` or a
    constant ``importlib.import_module`` are not."""
    pkg = PACKAGE.name
    copy = tmp_path / pkg
    shutil.copytree(PACKAGE, copy, ignore=shutil.ignore_patterns("__pycache__"))
    (copy / "orphan.py").write_text("import os\n")
    (copy / "lazy_mod.py").write_text("from . import rel_mod\n")
    (copy / "rel_mod.py").write_text("")
    (copy / "dyn_mod.py").write_text("")
    script = tmp_path / "script.py"
    script.write_text(
        "import importlib\n\n\n"
        "def main():\n"
        f"    from {pkg} import lazy_mod\n"
        f"    importlib.import_module('{pkg}.dyn_mod')\n"
    )
    roots = _roots(copy)
    extras = [f"{pkg}.{m}" for m in ("dyn_mod", "lazy_mod", "orphan", "rel_mod")]
    assert unreached(copy, roots) == extras
    assert unreached(copy, roots + [script]) == [f"{pkg}.orphan"]


def test_walk_reports_an_unnamed_function(tmp_path):
    """The check itself, on a copy of the package: an added function that
    nothing names is reported, and so is one named only in ``__all__`` and
    an ``__init__.py`` re-export; functions reached through
    ``module.fn``, a lazy import, or a string constant used with
    ``setattr``/``getattr`` are not."""
    pkg = PACKAGE.name
    copy = tmp_path / pkg
    shutil.copytree(PACKAGE, copy, ignore=shutil.ignore_patterns("__pycache__"))
    fns = ("by_attr", "by_getattr", "by_lazy_import", "by_setattr", "exported", "orphan")
    (copy / "fns.py").write_text(
        '__all__ = ["exported"]\n'
        + "".join(f"\n\ndef {fn}():\n    return None\n" for fn in fns)
    )
    with (copy / "__init__.py").open("a") as init:
        init.write("from .fns import exported\n")
    script = tmp_path / "script.py"
    script.write_text(
        f"from {pkg} import fns\n\n\n"
        "def main():\n"
        f"    from {pkg}.fns import by_lazy_import\n"
        "    fns.by_attr()\n"
        "    by_lazy_import()\n"
        "    getattr(fns, 'by_getattr')()\n"
        "    setattr(fns, 'by_setattr', None)\n"
    )
    roots = _roots(copy)
    kept = [f"{pkg}.{name}" for name in KEPT]
    added = [f"{pkg}.fns.{fn}" for fn in fns]
    assert unreached_defs(copy, roots) == sorted(kept + added)
    assert unreached_defs(copy, roots + [script]) == sorted(
        kept + [f"{pkg}.fns.exported", f"{pkg}.fns.orphan"]
    )

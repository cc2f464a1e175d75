"""Every package module is reached from an entry point that runs without
the tests: a module is reached when ``cli.py``, a benchmark workload
module (``perfbench/*.py``), ``__spark_entry__.py`` or another reached
module imports it. A module that only its own tests import fails here.

The walk reads source, never imports it: lazy imports inside functions,
relative imports, ``from package import module`` and
``importlib.import_module`` with a constant name all count."""

from __future__ import annotations

import ast
import pathlib
import shutil

import commercepulse_data_pipeline_spark

PACKAGE = pathlib.Path(commercepulse_data_pipeline_spark.__file__).resolve().parent
REPO = PACKAGE.parent


def _roots(package: pathlib.Path) -> list[pathlib.Path]:
    return [package / "cli.py", REPO / "__spark_entry__.py", *sorted((REPO / "perfbench").glob("*.py"))]


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


def test_every_package_module_is_reached_from_an_entry_point():
    assert unreached(PACKAGE, _roots(PACKAGE)) == []


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

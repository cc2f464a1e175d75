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
string constant (``setattr``/``getattr`` targets, call-time lookups) that
is not a dict-literal key (a query table's ``{"name": q_name}`` names only
the value). Every ``cli.py`` function and every dunder is a root. An
``__all__`` list or an ``__init__.py`` re-export does not reach anything.

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
    "operators.graph.read_cluster_table_meta": "reads back the provenance "
    "sidecar write_cluster_table stores; the cluster-table CLI tests check "
    "what the CLI records there",
    "operators.similarity.lsh_topk_indexed": "the only reader of the LSH "
    "index the stream-dedup-embeddings store writes; "
    "test_stream_dedup_embeddings_cross_batch checks the store with it",
}

# Optional parameters no entry point sets that stay, each for its reason:
# a deployment setting, or a seam a Tier-1 correctness test needs.
# Nothing else goes here.
KEPT_OPTIONS = {
    "streaming.ingest.read_event_stream(max_files_per_trigger)": "test seam: "
    "the gold stream tests set 1 to split one landing into a micro-batch per "
    "file and check the fold converges to the batch build",
    "multimodal.extract_features(batch_rows)": "test seam: "
    "test_extract_features_partition_independent and "
    "test_real_decode_distributed cut partitions into 1-2-row decode chunks",
    "operators.sketches.write_sketch_rollup(mode)": "test seam: "
    "test_sketch_rollup_incremental_append appends one day at a time and "
    "checks range queries merge across appends",
    "operators.sketches.write_mg_rollup(mode)": "test seam: "
    "test_mg_incremental_append_and_shard_filter appends one shard at a time",
    "operators.sketches.write_bloom_rollup(mode)": "test seam: "
    "test_bloom_rollup_append_is_idempotent re-appends a shard",
    "operators.windows.robust_anomalies(pin_input)": "deployment setting: an "
    "input bounded only by corpus size must not be pinned (functions/pins.py)",
    "sources.readers.read_bronze(merge_schema)": "deployment setting: a "
    "bronze store written before a vendor added a column reads with "
    "mergeSchema",
    "streaming.corpus.clean_corpus_batch(strip_repeats)": "test seam: "
    "test_stream_clean_corpus_strip_repeats checks the streaming twin's "
    "repeat-strip stage",
    "streaming.corpus.clean_corpus_batch(repeat_window)": "test seam: "
    "test_stream_clean_corpus_strip_repeats fits the window to its short docs",
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
    aliases and identifier-shaped string constants other than dict-literal
    keys."""
    keys = {id(k) for n in ast.walk(node) if isinstance(n, ast.Dict) for k in n.keys}
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield from n.name.split(".")
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and n.value.isidentifier()
            and id(n) not in keys
        ):
            yield n.value


def _is_all(stmt: ast.stmt) -> bool:
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [getattr(stmt, "target", None)]
    return any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets)


def _walk(package: pathlib.Path, roots: list[pathlib.Path]):
    """Walk names from the roots to a fixpoint. Returns every top-level
    package def by name (``name -> [(module.name, stmt)]``), the names
    the walk met, and the bodies it walked: the roots, the package's
    module-level statements and dunders, and every reached def."""
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
    walked: list[ast.AST] = []
    while todo:
        node = todo.pop()
        walked.append(node)
        for name in _named(node):
            if name not in named:
                named.add(name)
                todo.extend(stmt for _, stmt in defs.get(name, ()))
    return defs, named, walked


def unreached_defs(package: pathlib.Path, roots: list[pathlib.Path]) -> list[str]:
    """Top-level defs of ``package`` (``module.name``) that nothing
    reached names, walked to a fixpoint from the roots."""
    defs, named, _ = _walk(package, roots)
    return sorted(d for name, found in defs.items() if name not in named for d, _ in found)


def _options(fn: ast.FunctionDef) -> dict[str, tuple[int | None, ast.expr]]:
    """Optional parameters: ``name -> (position or None, default)``."""
    args = fn.args
    positional = args.posonlyargs + args.args
    first = len(positional) - len(args.defaults)
    out = {a.arg: (first + i, d) for i, (a, d) in enumerate(zip(positional[first:], args.defaults))}
    out.update({a.arg: (None, d) for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None})
    return out


def _call_name(call: ast.Call) -> str | None:
    return getattr(call.func, "id", getattr(call.func, "attr", None))


def unset_options(package: pathlib.Path, roots: list[pathlib.Path]) -> list[str]:
    """Optional parameters of reached top-level package functions
    (``module.fn(param)``) that no root or reached body sets and that
    ``KEPT_OPTIONS`` does not hold.

    A call to ``fn`` sets ``param`` when it passes it by keyword or
    covers its position with a value other than the default's own
    expression (a root's call sets it with any value), or spreads
    ``*args``/``**kw``. A value that is a plain name of the enclosing
    package function's own option (``p=p``) sets it only if that option
    is set, to a fixpoint. A function named other than as a call target
    (stored, wrapped, ``setattr``-patched) has every option set.
    ``cli.py`` functions and dunders are roots and ``KEPT`` functions are
    not reached, so none of them is checked."""
    defs, named, walked = _walk(package, roots)
    fns = {
        qual: stmt
        for found in defs.values()
        for qual, stmt in found
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)) and stmt.name in named
    }
    options = {qual: _options(stmt) for qual, stmt in fns.items()}
    owner = {id(stmt): qual for qual, stmt in fns.items()}
    as_value: set[str] = set()
    is_set = {
        (f"{package.name}.{name.partition('(')[0]}", name.partition("(")[2][:-1])
        for name in KEPT_OPTIONS
    }
    follows: list[tuple[tuple[str, str], tuple[str, str]]] = []
    for body in walked:
        enclosing = owner.get(id(body))
        in_root = isinstance(body, ast.Module)
        targets = {id(n.func) for n in ast.walk(body) if isinstance(n, ast.Call)}
        for node in ast.walk(body):
            if isinstance(node, (ast.Name, ast.Attribute)) and id(node) not in targets:
                as_value.add(getattr(node, "id", getattr(node, "attr", None)))
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                as_value.add(node.value)
            if not isinstance(node, ast.Call):
                continue
            spread = any(isinstance(a, ast.Starred) for a in node.args) or any(
                kw.arg is None for kw in node.keywords
            )
            given = {kw.arg: kw.value for kw in node.keywords if kw.arg is not None}
            for qual, _ in defs.get(_call_name(node), ()):
                for param, (pos, default) in options.get(qual, {}).items():
                    value = given.get(param)
                    if pos is not None and pos < len(node.args):
                        value = node.args[pos]
                    if spread:
                        is_set.add((qual, param))
                    elif value is None or (not in_root and ast.dump(value) == ast.dump(default)):
                        continue
                    elif (
                        enclosing is not None
                        and isinstance(value, ast.Name)
                        and value.id in options[enclosing]
                    ):
                        follows.append(((qual, param), (enclosing, value.id)))
                    else:
                        is_set.add((qual, param))
    is_set |= {
        (qual, param) for qual, stmt in fns.items() if stmt.name in as_value for param in options[qual]
    }
    grew = True
    while grew:
        grew = False
        for target, source in follows:
            if source in is_set and target not in is_set:
                is_set.add(target)
                grew = True
    return sorted(
        f"{qual}({param})" for qual, opts in options.items() for param in opts if (qual, param) not in is_set
    )


def test_every_package_module_is_reached_from_an_entry_point():
    assert unreached(PACKAGE, _roots(PACKAGE)) == []


def test_every_package_function_is_reached_from_an_entry_point():
    kept = sorted(f"{PACKAGE.name}.{name}" for name in KEPT)
    assert unreached_defs(PACKAGE, _roots(PACKAGE)) == kept


def test_every_optional_parameter_is_set_from_an_entry_point():
    assert unset_options(PACKAGE, _roots(PACKAGE)) == []


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
    an ``__init__.py`` re-export, or only as a dict-literal key; functions
    reached through
    ``module.fn``, a lazy import, or a string constant used with
    ``setattr``/``getattr`` are not."""
    pkg = PACKAGE.name
    copy = tmp_path / pkg
    shutil.copytree(PACKAGE, copy, ignore=shutil.ignore_patterns("__pycache__"))
    fns = (
        "by_attr", "by_dict_key", "by_getattr", "by_lazy_import", "by_setattr",
        "exported", "orphan",
    )
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
        "    return {'by_dict_key': 1}\n"
    )
    roots = _roots(copy)
    kept = [f"{pkg}.{name}" for name in KEPT]
    added = [f"{pkg}.fns.{fn}" for fn in fns]
    assert unreached_defs(copy, roots) == sorted(kept + added)
    assert unreached_defs(copy, roots + [script]) == sorted(
        kept + [f"{pkg}.fns.{fn}" for fn in ("by_dict_key", "exported", "orphan")]
    )


def test_walk_reports_an_unset_option(tmp_path):
    """The option check itself, on a copy of the package: an added keyword
    that no call sets is reported, and so is one that a package call sets
    only to its default or through an unset pass-through; keywords set by
    name, by position, through a set pass-through, through a ``**kw``
    spread, or on a function used as a value are not."""
    pkg = PACKAGE.name
    copy = tmp_path / pkg
    shutil.copytree(PACKAGE, copy, ignore=shutil.ignore_patterns("__pycache__"))
    (copy / "opts.py").write_text(
        "def opt_main(x, by_pos=0, *, by_name=0, unset=0, as_default=0):\n"
        "    return opt_inner(x, passed=by_name, dropped=unset) + opt_spread(x, **{})\n"
        "\n\n"
        "def opt_inner(x, *, passed=0, dropped=0):\n"
        "    return x\n"
        "\n\n"
        "def opt_spread(x, *, by_spread=0):\n"
        "    return x\n"
        "\n\n"
        "def opt_value(x, *, stored=0):\n"
        "    return x\n"
        "\n\n"
        "TABLE = [opt_value]\n"
        "\n\n"
        "def opt_default(x):\n"
        "    return opt_main(x, as_default=0)\n"
    )
    script = tmp_path / "script.py"
    script.write_text(
        f"from {pkg} import opts\n\n\n"
        "def run():\n"
        "    opts.opt_main(1, 2, by_name=3)\n"
        "    opts.opt_default(1)\n"
    )
    unset = ("opt_inner(dropped)", "opt_main(as_default)", "opt_main(unset)")
    assert unset_options(copy, _roots(copy) + [script]) == [f"{pkg}.opts.{o}" for o in unset]

"""Option census: the defaulted parameters of the engine's top-level
functions that no call site sets to anything but their default.

A parameter with one value in use is a constant, not an option. The
census reads every top-level ``def`` in ``dgraph_dbpedia_spark/`` and
every call in the repository's ``.py`` files, resolves each call to an
engine function through the caller's imports, and reports each
defaulted parameter that no call passes a value other than its default
expression. Rules for reading a call:

- a positional argument sets the parameter at its index, a keyword
  argument the parameter it names;
- a value counts as the default when its AST equals the default's;
- a call with ``*args`` or ``**kwargs`` sets every parameter;
- ``pool.submit(fn, ...)`` is a call to ``fn`` with the remaining
  arguments.

``session.build_session`` is exempt: its parameters are deployment
settings. Spark-free: it parses sources and imports nothing.

Usage: python tools/option_census.py   (prints the counts and every
single-valued parameter as ``module.function(param)``)
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = "dgraph_dbpedia_spark"
EXEMPT = {f"{PACKAGE}.session.build_session"}
SKIP_DIRS = {".git", ".perfbench_work", "spark-warehouse", "__pycache__"}


def module_name(path: pathlib.Path, root: pathlib.Path) -> str:
    parts = list(path.relative_to(root).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _import_base(module: str, is_package: bool, node: ast.ImportFrom) -> str:
    """The absolute module an ``ImportFrom`` reads, relative ones included."""
    if node.level == 0:
        return node.module or ""
    parts = module.split(".")
    if not is_package:
        parts = parts[:-1]
    parts = parts[: len(parts) - (node.level - 1)]
    return ".".join(parts + ([node.module] if node.module else []))


def _symbols(module: str, is_package: bool, tree: ast.Module) -> dict[str, str]:
    """Local name -> dotted path, for every import anywhere in the file
    (function-local imports included) and every top-level def."""
    names: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                names[a.asname or a.name.split(".")[0]] = a.name if a.asname else a.name.split(".")[0]
        elif isinstance(node, ast.ImportFrom):
            base = _import_base(module, is_package, node)
            for a in node.names:
                names[a.asname or a.name] = f"{base}.{a.name}"
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            names[node.name] = f"{module}.{node.name}"
    return names


def _dotted(expr: ast.expr) -> list[str] | None:
    parts: list[str] = []
    while isinstance(expr, ast.Attribute):
        parts.append(expr.attr)
        expr = expr.value
    if not isinstance(expr, ast.Name):
        return None
    return [expr.id, *reversed(parts)]


def census(sources: dict[str, str], package: str = PACKAGE,
           exempt: frozenset[str] | set[str] = frozenset()) -> dict:
    """Census over ``sources`` (relative path -> source text).

    Returns ``{"defaulted": n, "single": [...]}`` where ``single`` lists
    ``module.function(param)`` for every defaulted parameter of a
    top-level function under ``package/`` that no call sets to another
    value.
    """
    trees = {}
    for rel, text in sources.items():
        path = pathlib.PurePosixPath(rel)
        parts = list(path.with_suffix("").parts)
        is_package = parts[-1] == "__init__"
        if is_package:
            parts.pop()
        trees[".".join(parts)] = (is_package, ast.parse(text))

    # every defaulted parameter of a top-level engine function
    funcs: dict[str, tuple[list[str], dict[str, ast.expr]]] = {}
    for module, (_, tree) in trees.items():
        if module.split(".")[0] != package:
            continue
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = node.args
            positional = [p.arg for p in a.posonlyargs + a.args]
            defaults = dict(zip(positional[len(positional) - len(a.defaults):], a.defaults))
            defaults.update({p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None})
            funcs[f"{module}.{node.name}"] = (positional, defaults)

    symbols = {m: _symbols(m, pkg, tree) for m, (pkg, tree) in trees.items()}

    def resolve(path: str, seen: int = 0) -> str | None:
        """Follow re-exports until ``path`` names a defined function."""
        if path in funcs:
            return path
        module, _, name = path.rpartition(".")
        target = symbols.get(module, {}).get(name)
        if target is None or target == path or seen > 8:
            return None
        return resolve(target, seen + 1)

    set_by_call: set[tuple[str, str]] = set()
    for module, (_, tree) in trees.items():
        names = symbols[module]
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            func, args = node.func, list(node.args)
            if isinstance(func, ast.Attribute) and func.attr == "submit" and args:
                func, args = args[0], args[1:]
            parts = _dotted(func)
            if not parts or parts[0] not in names:
                continue
            target = resolve(".".join([names[parts[0]], *parts[1:]]))
            if target is None:
                continue
            positional, defaults = funcs[target]
            if any(isinstance(x, ast.Starred) for x in args) or any(
                k.arg is None for k in node.keywords
            ):
                set_by_call.update((target, p) for p in defaults)
                continue
            passed = list(zip(positional, args))
            passed += [(k.arg, k.value) for k in node.keywords]
            for param, value in passed:
                default = defaults.get(param)
                if default is not None and ast.dump(value) != ast.dump(default):
                    set_by_call.add((target, param))

    single = [
        f"{fn}({p})"
        for fn, (_, defaults) in funcs.items()
        if fn not in exempt
        for p in defaults
        if (fn, p) not in set_by_call
    ]
    return {"defaulted": sum(len(d) for _, d in funcs.values()), "single": single}


def repo_sources(root: pathlib.Path = ROOT) -> dict[str, str]:
    out = {}
    for path in sorted(root.rglob("*.py")):
        if SKIP_DIRS.intersection(path.relative_to(root).parts):
            continue
        out[path.relative_to(root).as_posix()] = path.read_text()
    return out


def main() -> None:
    result = census(repo_sources(), exempt=EXEMPT)
    print(f"defaulted parameters on top-level {PACKAGE}/ functions: {result['defaulted']}")
    print(f"single-valued (no caller sets another value): {len(result['single'])}")
    for name in result["single"]:
        print(name)


if __name__ == "__main__":
    main()

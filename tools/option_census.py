"""Option census: the parameters of the engine's top-level functions
that take one value in use.

A parameter with one value in use is a constant, not an option. The
census reads every top-level ``def`` in ``dgraph_dbpedia_spark/`` and
every call in the repository's ``.py`` files, resolves each call to an
engine function through the caller's imports, and reports

- each *defaulted* parameter that no call passes a value other than its
  default expression;
- each *required* parameter that every call passes the same literal: a
  constant, or a tuple, list, set or dict of constants (at least one
  call).

Rules for reading a call:

- a positional argument sets the parameter at its index, a keyword
  argument the parameter it names;
- two values are the same when their ASTs are equal;
- ``**dict(k=...)`` and ``**{"k": ...}`` are read as their keywords,
  and so is ``**name`` when ``name`` is bound once in the calling
  function (or module, or class body) to such a dict and never mutated
  there (``setdefault``, ``update``, ``pop``, ``popitem``, ``clear``,
  item assignment or deletion);
- ``**kwargs`` that an engine function passes on to another engine
  function carries, for the target, the keywords each call of the
  passing function put there (unknown, so every parameter set, when the
  passing function is itself referenced, reached through a ``**`` or
  called with an unresolved one);
- any other ``*``/``**`` argument sets every parameter;
- ``pool.submit(fn, ...)`` is a call to ``fn`` with the remaining
  arguments;
- a function referenced other than as a callee (passed as a value,
  held in a tuple, ``fn.__name__``) has every parameter set: its calls
  through the reference are not visible.

Exempt: ``session.build_session``, whose parameters are deployment
settings, and the reference twins in ``TWINS``: each exists only for a
test to compare bit for bit against the production kernel it names,
and keeps the signature that comparison calls it with.

``signature_violations`` reuses the call reading as a signature guard:
no resolved call to an engine function may pass a keyword its target
lacks (a target that passes its ``**kwargs`` on to engine functions
takes only their keywords), pass more positionals than it takes, pass
a parameter twice or omit a required one (calls with an unresolved
``*``/``**`` are skipped). Spark-free: it parses sources and imports
nothing.

Usage: python tools/option_census.py   (prints the counts and every
single-valued parameter as ``module.function(param)``)
"""

from __future__ import annotations

import ast
import pathlib
from dataclasses import dataclass, field

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = "dgraph_dbpedia_spark"
# reference twin -> the production kernel a test pins it against
TWINS = {
    f"{PACKAGE}.operators.pq._pq_encode_native": "operators.pq.pq_encode",
    f"{PACKAGE}.operators.rq._rq_encode_native": "operators.rq.rq_encode",
    f"{PACKAGE}.operators.similarity.hyperplane_signs": "operators.similarity.hyperplane_signs_arrow",
    f"{PACKAGE}.operators.similarity._ivf_topk_native": "operators.similarity.ivf_topk",
    f"{PACKAGE}.operators.dedup._signatures_from_hashed": "operators.dedup._minhash_lanes_arrow",
    f"{PACKAGE}.operators.dedup._simhash_fold_native": "operators.dedup._simhash_fold_arrow",
    f"{PACKAGE}.plans.transform.top_k_infobox": "plans.transform.infobox_dims",
}
EXEMPT = {f"{PACKAGE}.session.build_session", *TWINS}
SKIP_DIRS = {".git", ".perfbench_work", "spark-warehouse", "__pycache__"}
_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_MUTATORS = {"setdefault", "update", "pop", "popitem", "clear"}


@dataclass
class Signature:
    positional: list[str]
    kwonly: list[str]
    defaults: dict[str, ast.expr]
    varargs: bool
    varkw: bool
    # engine functions the ``**kwargs`` parameter is passed on to
    forwards: list[str] = field(default_factory=list)

    @property
    def required(self) -> list[str]:
        return [p for p in self.positional + self.kwonly if p not in self.defaults]


@dataclass
class Call:
    module: str
    line: int
    target: str
    args: list[ast.expr] | None  # None: an unresolved * or ** argument
    keywords: list[tuple[str, ast.expr]]
    # the engine function whose own ``**kwargs`` this call passes on
    forward_of: str | None = None


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


def _signature(node: ast.FunctionDef | ast.AsyncFunctionDef) -> Signature:
    a = node.args
    positional = [p.arg for p in a.posonlyargs + a.args]
    defaults = dict(zip(positional[len(positional) - len(a.defaults):], a.defaults))
    defaults.update({p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None})
    return Signature(positional, [p.arg for p in a.kwonlyargs], defaults,
                     a.vararg is not None, a.kwarg is not None)


def _scope_nodes(scope: ast.AST):
    """The nodes evaluated in ``scope``'s own namespace: a nested def or
    class contributes its decorators, defaults and bases, not its body."""
    stack = list(scope.body)
    while stack:
        node = stack.pop()
        yield node
        if isinstance(node, _SCOPES):
            stack.extend(node.decorator_list)
            if isinstance(node, ast.ClassDef):
                stack.extend(node.bases + [k.value for k in node.keywords])
            else:
                stack.extend(node.args.defaults + [d for d in node.args.kw_defaults if d])
            continue
        stack.extend(ast.iter_child_nodes(node))


def _literal_dicts(scope: ast.AST, nodes: list[ast.AST]) -> dict[str, list[tuple[str, ast.expr]]]:
    """Names bound once in ``scope`` to ``dict(k=...)`` or a dict literal
    with constant keys, and never mutated: name -> its keywords."""
    stores: dict[str, int] = {}
    if isinstance(scope, (ast.FunctionDef, ast.AsyncFunctionDef)):
        a = scope.args
        for p in a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg]:
            if p is not None:
                stores[p.arg] = stores.get(p.arg, 0) + 1
    bound: dict[str, list[tuple[str, ast.expr]]] = {}
    mutated: set[str] = set()
    for node in nodes:
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Load):
            stores[node.id] = stores.get(node.id, 0) + 1
        elif isinstance(node, ast.Assign) and len(node.targets) == 1 and isinstance(node.targets[0], ast.Name):
            kws = _dict_keywords(node.value)
            if kws is not None:
                bound[node.targets[0].id] = kws
    for node in ast.walk(scope):  # nested closures can mutate it too
        if isinstance(node, ast.Attribute) and node.attr in _MUTATORS and isinstance(node.value, ast.Name):
            mutated.add(node.value.id)
        elif (isinstance(node, ast.Subscript) and not isinstance(node.ctx, ast.Load)
              and isinstance(node.value, ast.Name)):
            mutated.add(node.value.id)
    return {n: kws for n, kws in bound.items() if stores.get(n) == 1 and n not in mutated}


def _dict_keywords(value: ast.expr) -> list[tuple[str, ast.expr]] | None:
    if (isinstance(value, ast.Call) and isinstance(value.func, ast.Name) and value.func.id == "dict"
            and not value.args and all(k.arg is not None for k in value.keywords)):
        return [(k.arg, k.value) for k in value.keywords]
    if isinstance(value, ast.Dict) and all(
        isinstance(k, ast.Constant) and isinstance(k.value, str) for k in value.keys
    ):
        return [(k.value, v) for k, v in zip(value.keys, value.values)]
    return None


def _is_literal(e: ast.expr) -> bool:
    if isinstance(e, ast.Constant):
        return True
    if isinstance(e, ast.UnaryOp) and isinstance(e.op, (ast.USub, ast.UAdd)):
        return isinstance(e.operand, ast.Constant)
    if isinstance(e, (ast.Tuple, ast.List, ast.Set)):
        return all(_is_literal(x) for x in e.elts)
    if isinstance(e, ast.Dict):
        return all(k is not None and _is_literal(k) for k in e.keys) and all(
            _is_literal(v) for v in e.values)
    return False


def read_calls(sources: dict[str, str], package: str = PACKAGE):
    """Parse ``sources`` (relative path -> source text).

    Returns ``(funcs, calls, referenced)``: the signature of every
    top-level function under ``package/``, every call resolved to one of
    them, and the functions referenced other than as a callee.
    """
    trees = {}
    for rel, text in sources.items():
        parts = list(pathlib.PurePosixPath(rel).with_suffix("").parts)
        is_package = parts[-1] == "__init__"
        if is_package:
            parts.pop()
        trees[".".join(parts)] = (is_package, ast.parse(text))

    funcs: dict[str, Signature] = {}
    for module, (_, tree) in trees.items():
        if module.split(".")[0] != package:
            continue
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                funcs[f"{module}.{node.name}"] = _signature(node)

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

    calls: list[Call] = []
    referenced: set[str] = set()
    for module, (_, tree) in trees.items():
        names = symbols[module]

        def target_of(expr: ast.expr) -> str | None:
            parts = _dotted(expr)
            if not parts or parts[0] not in names:
                return None
            return resolve(".".join([names[parts[0]], *parts[1:]]))

        for scope in [tree, *(n for n in ast.walk(tree) if isinstance(n, _SCOPES))]:
            nodes = list(_scope_nodes(scope))
            dicts = _literal_dicts(scope, nodes)
            # an engine function passing its own **kwargs on
            own = f"{module}.{getattr(scope, 'name', '')}"
            own_kwargs = (
                scope.args.kwarg.arg
                if own in funcs and scope in tree.body and scope.args.kwarg else None
            )
            callees: set[int] = set()
            for node in nodes:
                if not isinstance(node, ast.Call):
                    continue
                func, args = node.func, list(node.args)
                if isinstance(func, ast.Attribute) and func.attr == "submit" and args:
                    func, args = args[0], args[1:]
                callees.add(id(func))
                target = target_of(func)
                if target is None:
                    continue
                keywords: list[tuple[str, ast.expr]] = []
                forward_of = None
                for k in node.keywords:
                    if k.arg is not None:
                        keywords.append((k.arg, k.value))
                        continue
                    spread = _dict_keywords(k.value)
                    if spread is None and isinstance(k.value, ast.Name):
                        spread = dicts.get(k.value.id)
                    if spread is not None:
                        keywords.extend(spread)
                    elif (forward_of is None and own_kwargs
                          and isinstance(k.value, ast.Name) and k.value.id == own_kwargs):
                        forward_of = own
                    else:
                        args = None
                        break
                if args is not None and any(isinstance(x, ast.Starred) for x in args):
                    args = None
                if forward_of is not None and args is not None:
                    funcs[forward_of].forwards.append(target)
                calls.append(Call(module, node.lineno, target, args, keywords, forward_of))
            for node in nodes:
                if (isinstance(node, (ast.Name, ast.Attribute)) and isinstance(node.ctx, ast.Load)
                        and id(node) not in callees):
                    target = target_of(node)
                    if target is not None:
                        referenced.add(target)
    calls.sort(key=lambda c: (c.module, c.line))
    return funcs, calls, referenced


def census(sources: dict[str, str], package: str = PACKAGE,
           exempt: frozenset[str] | set[str] = frozenset()) -> dict:
    """Census over ``sources`` (relative path -> source text).

    Returns ``{"defaulted": n, "single": [...], "required": n,
    "single_required": [...]}``: ``single`` lists
    ``module.function(param)`` for every defaulted parameter that no call
    sets to another value, ``single_required`` every required parameter
    that all calls (one at least) pass the same literal.
    """
    funcs, calls, referenced = read_calls(sources, package)
    set_by_call = {(fn, p) for fn in referenced for p in funcs[fn].positional + funcs[fn].kwonly}
    passed_values: dict[tuple[str, str], set[str]] = {}
    calls_to: dict[str, list[Call]] = {}
    for call in calls:
        calls_to.setdefault(call.target, []).append(call)
    reached_by_forward = {c.target for c in calls if c.forward_of}
    for call in calls:
        sig = funcs[call.target]
        passed = [*zip(sig.positional, call.args or []), *call.keywords]
        unknown = call.args is None
        if call.forward_of is not None:
            # the keywords each call of the passing function put in its
            # **kwargs; unknown when it is referenced, itself reached
            # through a **kwargs, or called with an unresolved */**
            outer = calls_to.get(call.forward_of, [])
            own = funcs[call.forward_of].positional + funcs[call.forward_of].kwonly
            unknown = unknown or call.forward_of in referenced | reached_by_forward or any(
                c.args is None for c in outer)
            passed += [(n, v) for c in outer for n, v in c.keywords if n not in own]
        if unknown:
            set_by_call.update((call.target, p) for p in sig.positional + sig.kwonly)
            continue
        for param, value in passed:
            default = sig.defaults.get(param)
            if default is not None:
                if ast.dump(value) != ast.dump(default):
                    set_by_call.add((call.target, param))
            elif _is_literal(value):
                passed_values.setdefault((call.target, param), set()).add(ast.dump(value))
            else:
                set_by_call.add((call.target, param))

    def single(fn: str, params: list[str]) -> list[str]:
        return [f"{fn}({p})" for p in params if (fn, p) not in set_by_call]

    live = {fn: sig for fn, sig in funcs.items() if fn not in exempt}
    return {
        "defaulted": sum(len(s.defaults) for s in funcs.values()),
        "single": [x for fn, s in live.items() for x in single(fn, list(s.defaults))],
        "required": sum(len(s.required) for s in funcs.values()),
        "single_required": [
            x for fn, s in live.items()
            for x in single(fn, [p for p in s.required if len(passed_values.get((fn, p), ())) == 1])
        ],
    }


def signature_violations(sources: dict[str, str], package: str = PACKAGE) -> list[str]:
    """Every resolved call to an engine function whose arguments do not
    fit the target's signature, as ``module:line: function: problem``."""
    funcs, calls, _ = read_calls(sources, package)

    def accepts(fn: str, name: str, depth: int = 0) -> bool:
        """Whether ``fn`` takes keyword ``name``, following a ``**kwargs``
        that ``fn`` passes on to other engine functions."""
        sig = funcs[fn]
        if name in sig.positional + sig.kwonly:
            return True
        if not sig.varkw:
            return False
        return not sig.forwards or depth > 8 or any(
            accepts(f, name, depth + 1) for f in sig.forwards)

    out = []
    for call in calls:
        if call.args is None:
            continue
        sig = funcs[call.target]
        problems = []
        if len(call.args) > len(sig.positional) and not sig.varargs:
            problems.append(f"{len(call.args)} positionals for {len(sig.positional)}")
        bound = sig.positional[: len(call.args)]
        for name, _ in call.keywords:
            if name in bound:
                problems.append(f"{name} passed twice")
            elif not accepts(call.target, name):
                problems.append(f"no parameter {name}")
            bound.append(name)
        if call.forward_of is None:  # else the **kwargs may carry the rest
            problems += [f"{p} missing" for p in sig.required if p not in bound]
        out += [f"{call.module}:{call.line}: {call.target}: {p}" for p in problems]
    return out


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
    print(f"required parameters: {result['required']}")
    print(f"single-valued required (every caller passes one literal): {len(result['single_required'])}")
    for name in result["single"] + result["single_required"]:
        print(name)


if __name__ == "__main__":
    main()

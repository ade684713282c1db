"""Every engine name a script in ``tools/``, ``bench.py`` or
``__spark_entry__.py`` imports, or reaches through a module alias
(``T.write_rdf``), still exists — so deleting or renaming engine code
breaks here instead of silently rotting a script. Function-local
imports count too: they otherwise fail only when that function runs.
Spark-free: it imports modules and starts no session."""

from __future__ import annotations

import ast
import importlib
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
SCRIPTS = [
    *sorted((ROOT / "tools").glob("*.py")),
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
]
ENGINE = ("dgraph_dbpedia_spark", "__spark_entry__")


def _is_engine(module: str | None) -> bool:
    return module is not None and module.split(".")[0] in ENGINE


def _resolve(path: str):
    """The object a dotted engine path names: the longest importable
    module prefix, then attributes. Raises if any part is gone."""
    parts = path.split(".")
    for i in range(len(parts), 0, -1):
        try:
            obj = importlib.import_module(".".join(parts[:i]))
        except ImportError:
            continue
        for attr in parts[i:]:
            obj = getattr(obj, attr)
        return obj
    raise ImportError(path)


def engine_refs(source: str) -> list[str]:
    """The dotted path of every engine name the source imports, or reads
    or sets through an alias (``T.write_rdf``)."""
    tree = ast.parse(source)
    refs: list[str] = []
    aliases: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if _is_engine(a.name) and a.asname:
                    aliases[a.asname] = a.name
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and _is_engine(node.module):
            for a in node.names:
                refs.append(f"{node.module}.{a.name}")
                aliases[a.asname or a.name] = f"{node.module}.{a.name}"
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            target = aliases.get(node.value.id)
            if target is not None:
                refs.append(f"{target}.{node.attr}")
    return refs


def test_engine_refs_sees_imports_and_alias_attributes():
    src = (
        "import __spark_entry__ as m\n"
        "from dgraph_dbpedia_spark.plans import transform as T\n"
        "def f():\n"
        "    from dgraph_dbpedia_spark.session import build_session\n"
        "    return T.write_rdf, m.entry, build_session\n"
    )
    assert sorted(engine_refs(src)) == [
        "__spark_entry__.entry",
        "dgraph_dbpedia_spark.plans.transform",
        "dgraph_dbpedia_spark.plans.transform.write_rdf",
        "dgraph_dbpedia_spark.session.build_session",
    ]


@pytest.mark.parametrize("tool", SCRIPTS, ids=lambda p: p.name)
def test_tool_engine_names_exist(tool):
    missing = []
    for path in engine_refs(tool.read_text()):
        try:
            _resolve(path)
        except (ImportError, AttributeError):
            missing.append(path)
    assert not missing, f"{tool.name} uses names the engine no longer has: {missing}"


def _load_tool(name: str):
    """A ``tools/`` script as a module (its top level runs; no session)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(name, ROOT / "tools" / f"{name}.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_tool_sibling_imports_exist():
    """A tool's import of another script in ``tools/`` (``from benchgen
    import ...``, resolved from the script's own directory when it runs)
    names a name that script defines."""
    local = {p.stem for p in (ROOT / "tools").glob("*.py")}
    missing = [
        f"{tool.name}: {node.module}.{a.name}"
        for tool in SCRIPTS
        for node in ast.walk(ast.parse(tool.read_text()))
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module in local
        for a in node.names
        if not hasattr(_load_tool(node.module), a.name)
    ]
    assert not missing, missing


def test_dump_plans_normalizes_run_ids():
    """Plans that differ only in expression ids, plan ids, RDD ids and
    PySpark lambda-variable suffixes normalize to the same text; a real
    plan difference survives."""
    dump_plans = _load_tool("dump_plans")
    a = (
        "Project [transform(e#12, lambdafunction((lambda x_55#301 + 1.0D), "
        "lambda x_55#301, false)) AS t#40]\n"
        "+- Exchange hashpartitioning(cid#7L, 8), ENSURE_REQUIREMENTS, [plan_id=113]\n"
        "   +- Scan ExistingRDD[u#3L,v#4L] MapPartitionsRDD[45] at localCheckpoint\n"
    )
    b = (
        "Project [transform(e#99, lambdafunction((lambda x_86#512 + 1.0D), "
        "lambda x_86#512, false)) AS t#130]\n"
        "+- Exchange hashpartitioning(cid#71L, 8), ENSURE_REQUIREMENTS, [plan_id=7]\n"
        "   +- Scan ExistingRDD[u#31L,v#32L] MapPartitionsRDD[3] at localCheckpoint\n"
    )
    assert dump_plans.normalize_plan(a) == dump_plans.normalize_plan(b)
    assert dump_plans.normalize_plan(a) == (
        "Project [transform(e#N, lambdafunction((lambda x_N#N + 1.0D), "
        "lambda x_N#N, false)) AS t#N]\n"
        "+- Exchange hashpartitioning(cid#NL, 8), ENSURE_REQUIREMENTS, [plan_id=N]\n"
        "   +- Scan ExistingRDD[u#NL,v#NL] MapPartitionsRDD[N] at localCheckpoint\n"
    )
    c = a.replace("hashpartitioning(cid#7L, 8)", "hashpartitioning(cid#7L, 16)")
    assert dump_plans.normalize_plan(c) != dump_plans.normalize_plan(a)

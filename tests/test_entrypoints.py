"""Entry-point contract: the kept scripts and the benchmark still reach
every library name they use. Starts no Spark session.

* Imports: every import in ``scripts/*.py`` and ``perfbench/*.py``,
  function-local ones included, resolves. Package and
  ``__spark_entry__`` imports go through importlib; a sibling script
  (``from calibrate_box import make_page``) must define the name at its
  top level; anything else must be an installed module.
* Traced names: every attribute the benchmark's traced mode wraps by
  name still exists, so deleting or renaming one fails here instead of
  breaking ``perfbench/run.py --trace 1``; and the funnel pipeline looks
  those stages up at call time, so the wrappers see its calls.
* Oracles: every ``oracle_sql()`` key is a ``queries()`` key, and every
  query without an oracle is named ``*_rowsonly``.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PROJECT = ("webcrawler_spark", "__spark_entry__")
SCRIPTS = sorted(ROOT.glob("scripts/*.py")) + sorted(ROOT.glob("perfbench/*.py"))


def _imports(tree: ast.AST):
    """(module, [names]) for every import statement; names is empty
    for ``import m``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield alias.name, []
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            yield node.module, [alias.name for alias in node.names]


def _top_level_names(path: Path) -> set[str]:
    names = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update(t.id for t in targets if isinstance(t, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update(
                (a.asname or a.name).split(".")[0] for a in node.names
            )
    return names


def _has(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    try:  # a submodule not imported by its package's __init__
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


@pytest.mark.parametrize("script", SCRIPTS, ids=lambda p: f"{p.parent.name}/{p.name}")
def test_script_imports_resolve(script):
    missing = []
    for module, names in _imports(ast.parse(script.read_text())):
        sibling = script.parent / f"{module}.py"
        if module.split(".")[0] in PROJECT:
            importlib.import_module(module)
            missing += [f"{module}.{n}" for n in names if not _has(module, n)]
        elif sibling.exists():
            defined = _top_level_names(sibling)
            missing += [f"{module}.{n}" for n in names if n not in defined]
        elif importlib.util.find_spec(module.split(".")[0]) is None:
            missing.append(module)
    assert not missing, missing


def test_traced_crawl_names_exist():
    """Mirrors ``perfbench/traced.py::install_crawl``: keep this list in
    step with the names it wraps."""
    import webcrawler_spark.engine as engine
    import webcrawler_spark.plans.crawl as plans
    import webcrawler_spark.tables as tables

    wrapped = [(plans, n) for n in ("crawl", "resume_crawl")]
    wrapped += [
        (engine.CrawlEngine, n) for n in ("run_round", "init_from_seeds", "resume")
    ]
    wrapped += [(engine, n) for n in ("checkpoint", "free", "anti_join_with_bloom")]
    for cls in (tables.MemoryCatalog, tables.ParquetCatalog):
        wrapped += [
            (cls, n)
            for n in ("overwrite", "append", "append_delta", "register_empty",
                      "compact", "commit_round", "gc")
        ]
    missing = [
        f"{getattr(o, '__name__', o)}.{n}"
        for o, n in wrapped
        if not callable(getattr(o, n, None))
    ]
    assert not missing, missing


def _funnel_stages():
    tree = ast.parse((ROOT / "perfbench" / "traced.py").read_text())
    return next(
        ast.literal_eval(node.value)
        for node in tree.body
        if isinstance(node, ast.Assign)
        and any(getattr(t, "id", None) == "FUNNEL_STAGES" for t in node.targets)
    )


def test_traced_funnel_stages_exist():
    """``perfbench/traced.py::install_funnel`` wraps each
    ``FUNNEL_STAGES`` entry as ``webcrawler_spark.operators.<mod>.<fn>``."""
    stages = _funnel_stages()
    assert stages
    missing = [
        f"{mod}.{fn}"
        for mod, fn in stages
        if not callable(
            getattr(importlib.import_module(f"webcrawler_spark.operators.{mod}"), fn, None)
        )
    ]
    assert not missing, missing


def test_funnel_pipeline_binds_no_stage_at_import():
    """A module-level ``from webcrawler_spark.operators.<mod> import
    <fn>`` (or ``x = <mod>.<fn>``) in the funnel pipeline would keep the
    unwrapped function, and every traced ``operators.<fn>_s`` would
    read 0."""
    fns = {fn for _, fn in _funnel_stages()}
    tree = ast.parse(
        (ROOT / "webcrawler_spark" / "pipelines" / "funnel.py").read_text()
    )
    bound = []
    for node in tree.body:
        if isinstance(node, ast.ImportFrom):
            bound += [a.name for a in node.names if a.name in fns]
        elif isinstance(node, ast.Assign):
            bound += [
                n.attr for n in ast.walk(node.value)
                if isinstance(n, ast.Attribute) and n.attr in fns
            ]
    assert not bound, bound


def test_every_query_has_an_oracle_or_says_rowsonly():
    """Every ``oracle_sql()`` entry replays a registered query, and a
    query without one is named ``*_rowsonly``, so deleting a query or
    its oracle cannot drop a value check without notice."""
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    assert not set(oracles) - set(queries), sorted(set(oracles) - set(queries))
    unchecked = sorted(set(queries) - set(oracles))
    assert all(name.endswith("_rowsonly") for name in unchecked), unchecked

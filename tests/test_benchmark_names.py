"""The benchmark under ``perfbench/`` is frozen: it may not change
when the package does. Every package name it uses must therefore keep
resolving, and every call it makes must keep binding its arguments, or
the benchmark run counts each use as a failed operation. This test
parses ``perfbench/*.py`` (never imports it) and checks the
names here, where a deletion fails in pytest instead."""

import ast
import importlib
import inspect
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(REPO, "perfbench")
PACKAGE = "common_crawl___autumn_2025_spark"
CHECKED = (PACKAGE, "bench", "tools.check_oracle")


def _trees():
    return {
        name: ast.parse(open(os.path.join(PERFBENCH, name)).read(), filename=name)
        for name in sorted(os.listdir(PERFBENCH))
        if name.endswith(".py")
    }


def _checked(module: str) -> bool:
    return any(module == m or module.startswith(m + ".") for m in CHECKED)


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    try:  # a submodule, e.g. ``from <package> import synthetic``
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def _imports():
    for fname, tree in _trees().items():
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module and _checked(node.module):
                for alias in node.names:
                    yield fname, node.lineno, node.module, alias.name
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    if _checked(alias.name):
                        yield fname, node.lineno, alias.name, None


def test_benchmark_imports_resolve():
    found = list(_imports())
    assert any(m.startswith(PACKAGE) for _, _, m, _ in found)
    missing = [
        f"{f}:{line}: {m}" + (f".{n}" if n else "")
        for f, line, m, n in found
        if not (_resolves(m, n) if n else importlib.import_module(m))
    ]
    assert not missing, "names perfbench imports are gone: " + ", ".join(missing)


def test_benchmark_regime_thresholds_exist():
    """``wl_crawl.regimes`` reads ``CrawlEngine`` class thresholds."""
    from common_crawl___autumn_2025_spark.crawl.frontier import CrawlEngine

    regimes = next(
        node for node in ast.walk(_trees()["wl_crawl.py"])
        if isinstance(node, ast.FunctionDef) and node.name == "regimes"
    )
    attrs = {
        node.attr
        for node in ast.walk(regimes)
        if isinstance(node, ast.Attribute)
        and isinstance(node.value, ast.Name)
        and node.value.id == "CrawlEngine"
    }
    assert attrs
    missing = sorted(a for a in attrs if not hasattr(CrawlEngine, a))
    assert not missing, f"CrawlEngine attributes wl_crawl.regimes reads are gone: {missing}"


def test_benchmark_seen_set_attributes_exist(tmp_path):
    """Every ``<engine>.seen.<attr>`` the crawl workload reads (crash
    injection, probe and rollback timings, the FP probe) exists on a
    ``SeenSet``."""
    from common_crawl___autumn_2025_spark.crawl.seen import SeenSet

    attrs = {
        node.attr
        for node in ast.walk(_trees()["wl_crawl.py"])
        if isinstance(node, ast.Attribute)
        and isinstance(node.value, ast.Attribute)
        and node.value.attr == "seen"
    }
    assert {"add", "load_bitmaps"} <= attrs
    seen = SeenSet(None, str(tmp_path))  # the constructor touches no Spark
    missing = sorted(a for a in attrs if not hasattr(seen, a))
    assert not missing, f"SeenSet attributes wl_crawl reads are gone: {missing}"


def _bound_names(tree):
    """Local name -> object for every name the file imports from a
    checked module (``from m import f``, ``from m import mod as a``,
    ``import bench``), wherever the import statement sits."""
    names = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module and _checked(node.module):
            mod = importlib.import_module(node.module)
            for alias in node.names:
                if not _resolves(node.module, alias.name):
                    continue  # test_benchmark_imports_resolve reports it
                if hasattr(mod, alias.name):
                    obj = getattr(mod, alias.name)
                else:  # a submodule
                    obj = importlib.import_module(f"{node.module}.{alias.name}")
                names[alias.asname or alias.name] = obj
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if _checked(alias.name) and (alias.asname or "." not in alias.name):
                    names[alias.asname or alias.name] = importlib.import_module(alias.name)
    return names


def _package_calls():
    """(file, line, label, callee, call node) for every call in
    ``perfbench/*.py`` to a name imported from a checked module,
    called directly (``CrawlEngine(...)``) or through a module alias
    (``syn.WebConfig(...)``). A name gone from a module alias yields
    a ``None`` callee."""
    for fname, tree in _trees().items():
        names = _bound_names(tree)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            func = node.func
            if isinstance(func, ast.Name) and func.id in names:
                label, callee = func.id, names[func.id]
            elif (
                isinstance(func, ast.Attribute)
                and isinstance(func.value, ast.Name)
                and inspect.ismodule(names.get(func.value.id))
            ):
                label = f"{func.value.id}.{func.attr}"
                callee = getattr(names[func.value.id], func.attr, None)
            else:
                continue
            if inspect.ismodule(callee):
                continue
            yield fname, node.lineno, label, callee, node


def test_benchmark_call_keywords_bind():
    """Every keyword (and the positional count) of each call the
    benchmark makes into the package binds against the callee's
    current signature: a renamed or removed parameter fails here
    instead of as failed benchmark operations."""
    with_keywords = set()
    broken = []
    for fname, line, label, callee, node in _package_calls():
        where = f"{fname}:{line}: {label}"
        if callee is None:
            broken.append(f"{where} is gone")
            continue
        keywords = {kw.arg: None for kw in node.keywords if kw.arg is not None}
        if keywords:
            with_keywords.add(label.rsplit(".", 1)[-1])
        starred = any(isinstance(a, ast.Starred) for a in node.args)
        positional = [] if starred else [None] * len(node.args)
        try:
            inspect.signature(callee).bind_partial(*positional, **keywords)
        except TypeError as e:
            broken.append(f"{where}({', '.join(keywords)}): {e}")
    assert {
        "get_spark", "CrawlSpec", "WebConfig", "CrawlEngine", "SeenSet",
        "with_host_sequence",
    } <= with_keywords
    assert not broken, "benchmark calls no longer bind: " + "; ".join(broken)

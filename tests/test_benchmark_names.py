"""The benchmark under ``perfbench/`` is frozen: it may not change
when the package does. Every package name it uses must therefore keep
resolving, or the benchmark run counts each use as a failed operation.
This test parses ``perfbench/*.py`` (never imports it) and checks the
names here, where a deletion fails in pytest instead."""

import ast
import importlib
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

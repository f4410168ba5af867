"""The registry's module list: every module that registers a query is
listed, once, in sorted order.  A registering module missing from the
list would register nothing, with no error."""

from __future__ import annotations

from sql2all_spark.registry import _QUERY_MODULES


def test_query_modules_complete_sorted_unique(repo_root):
    pkg = repo_root / "sql2all_spark"
    registering = {
        f"sql2all_spark.{sub}.{path.stem}"
        for sub in ("operators", "streaming")
        for path in (pkg / sub).glob("*.py")
        if "@register(" in path.read_text()
    }
    assert registering, "no registering modules found"
    assert registering <= set(_QUERY_MODULES), sorted(
        registering - set(_QUERY_MODULES)
    )
    assert _QUERY_MODULES == sorted(set(_QUERY_MODULES))

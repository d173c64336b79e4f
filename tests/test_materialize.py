"""One materialization point: ``fixpoint.materialize`` is the only place
the package computes rows ahead of the consumer's action, so no registry
entry, operator or job leaves a cached relation behind in the session."""

from __future__ import annotations

import ast
import os

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_MATERIALIZING = {"persist", "unpersist", "cache", "clearCache", "localCheckpoint"}


def _sources():
    for top in ("bran_spark", "jobs"):
        for d, _, files in os.walk(os.path.join(_ROOT, top)):
            for f in files:
                if f.endswith(".py"):
                    yield os.path.join(d, f)


def test_materialize_is_the_only_materializing_call():
    """No ``persist(``, ``unpersist(``, ``.cache()``, ``clearCache(`` or
    ``localCheckpoint(`` call in bran_spark/ or jobs/ outside fixpoint.py.
    The check walks the syntax tree, so comments and docstrings that
    name these calls do not count."""
    found = []
    for path in _sources():
        if path.endswith(os.path.join("operators", "fixpoint.py")):
            continue
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _MATERIALIZING
            ):
                found.append(f"{os.path.relpath(path, _ROOT)}:{node.lineno}")
    assert not found, found


@pytest.mark.parametrize(
    "name", ["q298_disjointness_audit", "q299_domain_conformance"]
)
def test_registry_entry_leaves_cache_manager_empty(spark, testdata_dir, name):
    from bran_spark.plans.oracle_queries import QUERIES

    spark.catalog.clearCache()
    QUERIES[name](spark, testdata_dir).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

"""Smoke test of the benchmark's traced path (``perfbench/run.py --trace
1``). That run calls about twenty program names directly — Pipeline
helpers, the flagship stages, ManifestParquetTableIO and four registry
leaves — and an exception in any of them ends it. Here the unchanged
``trace_flagship`` and ``trace_leaves`` run on the sf0.001 fixture with a
tracer whose spans only call their function."""

from __future__ import annotations

import importlib.util
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _CallTracer:
    def __init__(self):
        self.metrics: dict[str, float] = {}

    def span(self, name, fn, wall_key=None):
        return fn()


def _perfbench_run():
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", os.path.join(_ROOT, "perfbench", "run.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses resolve their module here
    spec.loader.exec_module(mod)
    return mod


def test_traced_path_runs(spark, fx_dir, testdata_dir, tmp_path):
    run = _perfbench_run()
    # the registry derives its fixture scale from the sf0.001 table dir
    inp = run.Inputs(fx_dir, testdata_dir, str(tmp_path / "ckpt"))
    checker = run.Checker({})
    tr = _CallTracer()
    run.trace_flagship(spark, tr, inp, checker)
    run.trace_leaves(spark, tr, inp, checker, run.TRACED_LEAVES)
    assert checker.failed == 0
    assert set(checker.got) == {"flagship", "tableio.roundtrip"} | {
        leaf for leaf, _ in run.TRACED_LEAVES
    }
    assert all(n > 0 for n, _ in checker.got.values())

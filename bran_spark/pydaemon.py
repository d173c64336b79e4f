"""PySpark's Python daemon without the per-task import-cache rescan.

Spark forks every Python worker from one daemon process
(``spark.python.daemon.module``; ``session.get_spark`` points it here on
local masters). At the start of every task,
``pyspark.worker_util.setup_spark_files`` puts the task's files directory
and py-files on ``sys.path`` (a no-op once they are there) and then calls
``importlib.invalidate_caches()`` whether or not the path changed. On
Python 3.11 that makes each zip importer re-read its archive's directory,
``pyspark.zip``'s 1,328 entries among them (about 135 ms a call in a
worker that has imported pandas, pyarrow and pyspark, on a 4-vCPU VM), so
every task of every pandas UDF pays for a rescan that finds nothing new.

:func:`install` replaces ``worker_util``'s ``importlib`` with a
:class:`PathKeyedImportlib`, whose ``invalidate_caches`` runs the real one
only when ``sys.path`` differs from what it saw at its previous call; every
other attribute is ``importlib``'s own. A zip or egg added with
``addPyFile`` mid-session changes ``sys.path``, so the caches are still
invalidated for it. A ``.py`` added with ``addPyFile`` lands in the files
directory, which is already on the path; the directory finder re-lists a
directory whose modification time changed, as it does for any import.

Run by Spark as ``python -m bran_spark.pydaemon <worker module>``. If
``pyspark.worker_util`` has no ``importlib`` (a Spark release that
restructured the worker), nothing is replaced and the stock daemon runs as
it would have.
"""

from __future__ import annotations

import sys
import types


class PathKeyedImportlib:
    """``importlib`` whose ``invalidate_caches`` runs the real one only
    when ``sys.path`` differs from the path seen at its previous call."""

    def __init__(self, module: types.ModuleType):
        self._module = module
        self._seen: list[str] | None = None

    def invalidate_caches(self) -> None:
        if sys.path != self._seen:
            self._seen = list(sys.path)
            self._module.invalidate_caches()

    def __getattr__(self, name: str):
        return getattr(self._module, name)


def install() -> bool:
    """Swap ``pyspark.worker_util.importlib`` for the proxy. Returns False,
    changing nothing, when this PySpark's ``worker_util`` has no
    ``importlib`` module attribute."""
    try:
        from pyspark import worker_util
    except ImportError:
        return False
    current = getattr(worker_util, "importlib", None)
    if not isinstance(current, types.ModuleType):
        return False
    worker_util.importlib = PathKeyedImportlib(current)
    return True


def main() -> None:
    """The daemon's entry: install the proxy, then run PySpark's own daemon
    loop, whose forked workers inherit the proxy."""
    install()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()

"""Per-layer spans read from Spark's status REST API.

A span wraps one call into a program module from the benchmark's side. It
records its wall time, then attributes to itself every Spark job submitted
while it ran (job ids grow monotonically and the benchmark drives Spark from
one thread, so the span owns the id range it opened and closed) and sums, over
those jobs' stages and SQL executions:

- ``jobs``: driver jobs launched;
- ``shuffle_mb``: shuffle bytes written;
- ``py_sent_mb`` / ``py_recv_mb``: bytes sent to and returned from Python
  workers (the Arrow UDF and ``mapInPandas`` boundary);
- ``py_s``: time the Python workers ran.

The job-id range also catches jobs that a module starts from its own driver
threads, which a job group would miss. The REST API needs
``spark.ui.enabled``, so only the traced run turns the UI on.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request

_MB = 2**20
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_SIZE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)")
_MS = re.compile(r"([0-9.]+) (ms|s|m|h)\b")
_SECONDS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _total(value: str, pattern: re.Pattern, scale: dict) -> float:
    """First figure of a SQL metric string: the total over all tasks."""
    m = pattern.search(value.replace(",", ""))
    return float(m.group(1)) * scale[m.group(2)] if m else 0.0


class Tracer:
    """Records spans against one SparkSession whose UI is enabled."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.metrics: dict[str, float] = {}

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def _settled_jobs(self) -> list[dict]:
        """All jobs, once the status store shows none running."""
        for _ in range(200):
            jobs = self._get("jobs")
            if all(j["status"] != "RUNNING" for j in jobs):
                return jobs
            time.sleep(0.05)
        raise RuntimeError("Spark jobs still running after the span ended")

    def _last_job_id(self) -> int:
        return max((j["jobId"] for j in self._settled_jobs()), default=-1)

    def span(self, name: str, fn, wall_key: str | None = None):
        """Run ``fn()`` as span ``name``; record its wall time (under
        ``wall_key``, default ``<name>_s``) and counters.

        Returns ``fn``'s result."""
        first = self._last_job_id() + 1
        t0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
        jobs = [j for j in self._settled_jobs() if j["jobId"] >= first]
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        shuffle = 0
        for st in self._get("stages?status=complete"):
            if st["stageId"] in stage_ids:
                shuffle += st.get("shuffleWriteBytes", 0)
        sent = recv = py_s = 0.0
        for ex in self._get("sql?details=true&planDescription=false&length=100000"):
            if not job_ids.intersection(ex.get("successJobIds", []) + ex.get("failedJobIds", [])):
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == "data sent to Python workers":
                        sent += _total(m["value"], _SIZE, _UNITS)
                    elif m["name"] == "data returned from Python workers":
                        recv += _total(m["value"], _SIZE, _UNITS)
                    elif m["name"] == "time to run Python workers":
                        py_s += _total(m["value"], _MS, _SECONDS)
        self.metrics.update(
            {
                wall_key or f"{name}_s": wall,
                f"{name}.jobs": len(jobs),
                f"{name}.shuffle_mb": shuffle / _MB,
                f"{name}.py_sent_mb": sent / _MB,
                f"{name}.py_recv_mb": recv / _MB,
                f"{name}.py_s": py_s,
            }
        )
        return out

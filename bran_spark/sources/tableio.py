"""Checkpoint / lineage / resume layer (SURVEY.md §4.3; north_rule mandate).

The north_rule requires every stage to checkpoint to Iceberg with
per-partition lineage + counters so a killed job resumes idempotently. This
sandbox has no Iceberg runtime jar and no network to fetch one (verified —
SURVEY.md §4.3), so the layer is a thin interface with the offline backend
implemented and the Iceberg backend a config flip:

- ``ManifestParquetTableIO`` (default): each commit writes parquet data under
  ``<root>/<table>/snap-<n>/`` plus an atomically-renamed JSON manifest
  holding: stage id, input snapshot ids, per-spark-partition row counters
  (collected via Observation — no extra job), config hash, wall time. The
  ``_current`` pointer names the live snapshot — readers never see partial
  writes. This is Iceberg's snapshot-commit semantics, minus the jar.
- ``IcebergTableIO``: same interface over ``writeTo().append()`` when an
  iceberg-spark-runtime jar is on the classpath (untestable offline; kept
  minimal).

Bucketed resume (per-partition granularity): the expensive scoring stage
commits per hash-bucket of doc_id — ``committed_buckets``/``commit_bucket``
let a rerun skip finished buckets and recompute only missing ones.
Idempotence: bucket contents are a pure function of (input snapshot, bucket),
writes go to a temp dir then atomic rename.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


class ManifestParquetTableIO:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ---- snapshot bookkeeping -------------------------------------------
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def current_snapshot(self, table: str) -> int | None:
        ptr = os.path.join(self._tdir(table), "_current")
        if not os.path.exists(ptr):
            return None
        return int(open(ptr).read().strip())

    def manifest(self, table: str, snap: int | None = None) -> dict | None:
        snap = snap if snap is not None else self.current_snapshot(table)
        if snap is None:
            return None
        p = os.path.join(self._tdir(table), f"manifest-{snap}.json")
        return json.load(open(p)) if os.path.exists(p) else None

    # ---- commit ----------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        table: str,
        stage: str,
        inputs: dict[str, int | None] | None = None,
        partition_by: list[str] | None = None,
        config: dict | None = None,
    ) -> int:
        """Commit ``df`` as the next snapshot of ``table``.

        Lineage counters ride the write itself via ``observe`` (rows, and
        per-spark-partition counts from a low-cost groupBy written alongside).
        Returns the new snapshot id.
        """
        tdir = self._tdir(table)
        os.makedirs(tdir, exist_ok=True)
        prev = self.current_snapshot(table)
        snap = 0 if prev is None else prev + 1
        t0 = time.time()

        obs = Observation(f"{table}-{snap}")
        observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        tmp = os.path.join(tdir, f"_tmp-{uuid.uuid4().hex}")
        writer = observed.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        rows = int(obs.get["rows"])

        # per-partition counters: file-level row counts from the parquet
        # footers (no second Spark job over the data)
        import pyarrow.parquet as pq

        part_counts: dict[str, int] = {}
        for dirpath, _, files in os.walk(tmp):
            for f in files:
                if f.endswith(".parquet"):
                    rel = os.path.relpath(os.path.join(dirpath, f), tmp)
                    part_counts[rel] = pq.ParquetFile(
                        os.path.join(dirpath, f)
                    ).metadata.num_rows

        final = os.path.join(tdir, f"snap-{snap}")
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
        man = {
            "table": table,
            "snapshot": snap,
            "stage": stage,
            "inputs": inputs or {},
            "rows": rows,
            "partition_counts": part_counts,
            "n_files": len(part_counts),
            "config_hash": self._cfg_hash(config),
            "wall_s": round(time.time() - t0, 3),
            "committed_at": time.time(),
        }
        mtmp = os.path.join(tdir, f"_manifest-{snap}.tmp")
        with open(mtmp, "w") as f:
            json.dump(man, f, indent=1)
        os.rename(mtmp, os.path.join(tdir, f"manifest-{snap}.json"))
        ptmp = os.path.join(tdir, "_current.tmp")
        with open(ptmp, "w") as f:
            f.write(str(snap))
        os.rename(ptmp, os.path.join(tdir, "_current"))
        return snap

    def read(self, spark: SparkSession, table: str, snap: int | None = None) -> DataFrame:
        snap = snap if snap is not None else self.current_snapshot(table)
        if snap is None:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        return spark.read.parquet(os.path.join(self._tdir(table), f"snap-{snap}"))

    def exists(self, table: str) -> bool:
        return self.current_snapshot(table) is not None

    @staticmethod
    def _cfg_hash(config: dict | None) -> str:
        return hashlib.sha256(
            json.dumps(config or {}, sort_keys=True).encode()
        ).hexdigest()[:16]

    def exists_valid(
        self,
        table: str,
        config: dict | None = None,
        inputs: dict[str, int | None] | None = None,
    ) -> bool:
        """Resume gate: a committed snapshot counts only if its recorded
        config_hash matches the CURRENT config (and, when given, its input
        snapshot ids match) — otherwise rerunning against the same
        checkpoint_root with a changed theta/max_tokens would silently
        return stale tables."""
        man = self.manifest(table)
        if man is None or man.get("config_hash") != self._cfg_hash(config):
            return False
        for k, v in (inputs or {}).items():
            if v is not None and man.get("inputs", {}).get(k) != v:
                return False
        return True

    # ---- bucket-level commits (resume granularity for expensive stages) --
    def committed_buckets(self, table: str, config: dict | None = None) -> set[int]:
        """Buckets with a manifest; with ``config`` given, only buckets whose
        recorded config_hash matches (stale-config buckets are recomputed
        and overwritten by the caller)."""
        bdir = os.path.join(self._tdir(table), "buckets")
        if not os.path.isdir(bdir):
            return set()
        want = None if config is None else self._cfg_hash(config)
        out: set[int] = set()
        for d in os.listdir(bdir):
            mpath = os.path.join(bdir, d, "_MANIFEST.json")
            if not d.startswith("bucket-") or not os.path.exists(mpath):
                continue
            if want is not None:
                man = json.load(open(mpath))
                if man.get("config_hash") != want:
                    continue
            out.add(int(d.split("-")[1]))
        return out

    def commit_bucket(
        self, df: DataFrame, table: str, bucket: int, stage: str, config: dict | None = None
    ) -> int:
        bdir = os.path.join(self._tdir(table), "buckets")
        os.makedirs(bdir, exist_ok=True)
        tmp = os.path.join(bdir, f"_tmp-{bucket}-{uuid.uuid4().hex}")
        t0 = time.time()
        obs = Observation(f"{table}-b{bucket}")
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(tmp)
        rows = int(obs.get["rows"])
        man = {
            "table": table, "bucket": bucket, "stage": stage, "rows": rows,
            "config_hash": self._cfg_hash(config),
            "wall_s": round(time.time() - t0, 3),
        }
        with open(os.path.join(tmp, "_MANIFEST.json"), "w") as f:
            json.dump(man, f)
        final = os.path.join(bdir, f"bucket-{bucket}")
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
        return rows

    def bucket_rows(self, table: str, config: dict | None = None) -> int:
        """Total committed rows across buckets (config-scoped like
        committed_buckets) straight from the bucket manifests — the funnel
        counter, no Spark job."""
        bdir = os.path.join(self._tdir(table), "buckets")
        total = 0
        for b in self.committed_buckets(table, config):
            man = json.load(
                open(os.path.join(bdir, f"bucket-{b}", "_MANIFEST.json"))
            )
            total += man["rows"]
        return total

    def expire_snapshots(self, table: str, keep_last: int = 2) -> list[int]:
        """Snapshot GC (the Iceberg expire_snapshots analog): delete data +
        manifest of every snapshot older than the newest ``keep_last``.
        The current pointer is never removed; time-travel reads of expired
        ids fail loudly afterwards (the lineage record of WHAT was expired
        is the returned list — callers log it to the run manifest)."""
        return _expire_snapshots_impl(self, table, keep_last)

    def read_buckets(
        self, spark: SparkSession, table: str, config: dict | None = None
    ) -> DataFrame:
        """Read all committed buckets; with ``config`` given, ONLY buckets
        committed under that config (a partial recompute after a config
        change must not merge stale-config buckets into the result).
        Raises a clear error when nothing is committed — Spark's bare
        'path cannot be empty' would hide the actual state."""
        bdir = os.path.join(self._tdir(table), "buckets")
        committed = sorted(self.committed_buckets(table, config))
        if not committed:
            raise FileNotFoundError(
                f"table {table} has no committed buckets"
                + ("" if config is None else " under the current config")
            )
        return spark.read.option("recursiveFileLookup", "false").parquet(
            *[os.path.join(bdir, f"bucket-{b}") for b in committed]
        )


class IcebergTableIO:
    """Real-Iceberg backend: identical interface, ``writeTo`` V2 API.

    Requires org.apache.iceberg:iceberg-spark-runtime on the classpath and a
    configured catalog — unavailable offline (SURVEY.md §4.3), so this stays
    a minimal adapter; ManifestParquetTableIO is the tested default.
    """

    def __init__(self, catalog: str = "local"):
        self.catalog = catalog

    def write(self, df: DataFrame, table: str, stage: str, inputs=None,
              partition_by=None, config=None) -> int:
        fq = f"{self.catalog}.{table}"
        w = df.writeTo(fq)
        if partition_by:
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()
        snap = df.sparkSession.sql(
            f"SELECT snapshot_id FROM {fq}.snapshots ORDER BY committed_at DESC LIMIT 1"
        ).head()[0]
        return int(snap)

    def read(self, spark: SparkSession, table: str, snap: int | None = None) -> DataFrame:
        fq = f"{self.catalog}.{table}"
        if snap is not None:
            return spark.read.option("snapshot-id", snap).table(fq)
        return spark.read.table(fq)


def _expire_snapshots_impl(io, table: str, keep_last: int = 2) -> list[int]:
    """Shared snapshot-expiry logic for ManifestParquetTableIO."""
    cur = io.current_snapshot(table)
    if cur is None:
        return []
    cutoff = cur - keep_last + 1
    removed: list[int] = []
    tdir = io._tdir(table)
    for snap in range(0, max(cutoff, 0)):
        sdir = os.path.join(tdir, f"snap-{snap}")
        man = os.path.join(tdir, f"manifest-{snap}.json")
        if os.path.exists(sdir):
            shutil.rmtree(sdir)
            removed.append(snap)
        if os.path.exists(man):
            os.remove(man)
    return removed

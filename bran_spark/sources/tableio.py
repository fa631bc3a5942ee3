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
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def observe_counts(
    df: DataFrame, counters: dict[str, Column] | None = None
) -> tuple[DataFrame, Callable[[], dict[str, int]]]:
    """``df`` with its row count — plus ``counters``, named aggregate
    columns — observed in flight (no extra job). The returned callable
    blocks until an action over the frame has finished, then gives
    ``{"rows": n, **counters}``; a sum over zero rows reads 0."""
    obs = Observation()
    aggs = [F.count(F.lit(1)).alias("rows")]
    aggs += [c.alias(k) for k, c in (counters or {}).items()]
    return df.observe(obs, *aggs), lambda: {k: int(v or 0) for k, v in obs.get.items()}


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
        counters: dict[str, Column] | None = None,
    ) -> int:
        """Commit ``df`` as the next snapshot of ``table``.

        Lineage counters ride the write itself via ``observe`` (rows plus
        ``counters``, recorded under their names in the manifest), and
        per-file row counts come from the parquet footers. Returns the new
        snapshot id.
        """
        tdir = self._tdir(table)
        os.makedirs(tdir, exist_ok=True)
        prev = self.current_snapshot(table)
        snap = 0 if prev is None else prev + 1
        t0 = time.time()

        observed, counts = observe_counts(df, counters)
        tmp = os.path.join(tdir, f"_tmp-{uuid.uuid4().hex}")
        writer = observed.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)

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
            **counts(),
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
        self, df: DataFrame, table: str, bucket: int, stage: str,
        config: dict | None = None, counters: dict[str, Column] | None = None,
    ) -> int:
        bdir = os.path.join(self._tdir(table), "buckets")
        os.makedirs(bdir, exist_ok=True)
        tmp = os.path.join(bdir, f"_tmp-{bucket}-{uuid.uuid4().hex}")
        t0 = time.time()
        observed, counts = observe_counts(df, counters)
        observed.write.mode("overwrite").parquet(tmp)
        man = {
            "table": table, "bucket": bucket, "stage": stage, **counts(),
            "config_hash": self._cfg_hash(config),
            "wall_s": round(time.time() - t0, 3),
        }
        with open(os.path.join(tmp, "_MANIFEST.json"), "w") as f:
            json.dump(man, f)
        final = os.path.join(bdir, f"bucket-{bucket}")
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
        return man["rows"]

    def bucket_rows(
        self, table: str, config: dict | None = None, key: str = "rows"
    ) -> int:
        """Total of one manifest counter (committed rows by default) across
        buckets, config-scoped like committed_buckets, straight from the
        bucket manifests — the funnel counter, no Spark job."""
        bdir = os.path.join(self._tdir(table), "buckets")
        total = 0
        for b in self.committed_buckets(table, config):
            man = json.load(
                open(os.path.join(bdir, f"bucket-{b}", "_MANIFEST.json"))
            )
            total += man[key]
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


def write_bucketed(
    df,
    name: str,
    path: str,
    bucket_cols: list[str],
    num_buckets: int = 8,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed external table (registered in the
    session catalog so ``spark.table(name)`` exposes the bucketing spec).

    This is the co-located-join layout for 100 TB fact tables: two tables
    bucketed by the same key into the same bucket count join WITHOUT any
    shuffle (Catalyst sees the hash-distribution from the catalog and plans
    a zero-Exchange sort-merge join) — asserted by tests/test_layout.py.
    On a real cluster the same call shape targets the warehouse/Iceberg
    catalog instead of an explicit path."""
    w = df.write.mode("overwrite").option("path", path).bucketBy(
        num_buckets, *bucket_cols
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(name)


def compact_partitions(df, target_mb: int = 128):
    """Small-file management: repartition so each output file lands near
    ``target_mb`` (the classic 100 TB ops problem — a 10^12-doc job with
    32k shuffle partitions writes 32k tiny files per snapshot unless the
    sink compacts). Partition count comes from Catalyst's own size
    estimate (optimizedPlan().stats), so no extra pass over the data; the
    round-robin repartition keeps files even. For already-small frames this
    COALESCES (narrow, no shuffle) instead of repartitioning. Both
    directions are handled: an over-partitioned frame (many tiny files) is
    merged, and an under-partitioned frame (few partitions far above
    target_mb) is SPLIT via repartition(n) so no single output file
    balloons past the target."""
    size_bytes = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    n = max(1, int((int(size_bytes) + target_mb * 2**20 - 1) // (target_mb * 2**20)))
    current = df.rdd.getNumPartitions()
    if n == current:
        return df
    if n > current:
        # under-partitioned: split so each file lands near target_mb
        return df.repartition(n)
    if n <= max(1, current // 4):
        # big shrink → narrow coalesce avoids a full shuffle
        return df.coalesce(n)
    return df.repartition(n)


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

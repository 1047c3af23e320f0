"""Versioned snapshot cache with TTL (SURVEY.md S4-S6, S12, T1/T6).

Parity target: the reference's localStorage cache — a serialized table
plus ``lastUpdate`` and ``dataVersion`` watermark keys, valid when the
version matches AND age < 24 h (reference:
src/services/dataManager.ts:26-77 ``hasValidCachedData`` /
``saveMerchantsToCache`` / ``loadCachedMerchants``; stats & teardown
:248-276). The engine's version is a parquet table + JSON metadata
sidecar; the stale-while-revalidate flow (App.tsx:102-143) becomes
``load_or_refresh``.

All filesystem bookkeeping (meta sidecar, teardown) goes through the
Hadoop FileSystem API (`cdc_makanmana_spark.fs`), so ``path`` may be a
local dir, ``hdfs://`` or ``s3a://`` URI alike.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cdc_makanmana_spark import fs

# the current snapshot plus one prior (reader isolation)
_KEEP_VERSIONS = 2
# per-version schema file; Spark's reader skips ``_``-prefixed names
_SCHEMA_FILE = "_schema.json"


class SnapshotCache:
    """Versioned parquet snapshots + ``_cache_meta.json`` sidecar
    (count, last_update epoch-seconds, data_version, version).

    Each ``save`` is a versioned commit (the protocol is described once,
    in ``cdc_makanmana_spark.fs``): stage ``{path}/_staging_v{n}``,
    commit it as ``{path}/v{n}``, update the sidecar, then keep the
    newest two committed snapshots. Readers require the
    marker, so a crash anywhere mid-save leaves the previous committed
    snapshot live. The prior version stays until the next save commits
    (reader isolation for lazy plans already handed out).

    Each version dir also holds ``_schema.json`` (the saved frame's
    ``schema.json()``), written before the commit so the marker covers
    it. ``load`` reads with that schema and so runs no footer-inference
    job; the file sources read every column as nullable either way, so
    the loaded schema equals the inferred one. A version without the
    file (saved before it existed) falls back to inference. The count
    in the sidecar is taken from the write itself (an ``Observation``
    on the written frame), not from a re-read.

    Version dirs written BEFORE the marker protocol are invisible to
    these readers; migrate once with ``fs.adopt_unmarked_versions``."""

    def __init__(self, spark: SparkSession, path: str, data_version: str, ttl_hours: float = 24.0):
        self.spark = spark
        self.path = path.rstrip("/")
        self.data_version = data_version
        self.ttl_hours = ttl_hours

    @property
    def _meta_path(self) -> str:
        return f"{self.path}/_cache_meta.json"

    def _read_meta(self) -> dict | None:
        raw = fs.read_text(self.spark, self._meta_path)
        return json.loads(raw) if raw is not None else None

    def _current_path(self) -> str | None:
        """Newest committed snapshot dir (sidecar-preferred), or None."""
        meta = self._read_meta()
        preferred = (
            f"v{meta['version']}" if meta is not None and "version" in meta else None
        )
        return fs.newest_committed(self.spark, self.path, preferred)

    def is_fresh(self, now_s: float | None = None) -> bool:
        """Version match AND age < TTL (dataManager.ts:32-51) AND a
        committed snapshot actually resolvable — a sidecar that outlived
        its version dirs (legacy layout, manual cleanup) must report
        stale so ``load_or_refresh`` falls through to refresh instead of
        crash-looping in ``load``. ``now_s`` injectable for tests."""
        meta = self._read_meta()
        if meta is None or meta.get("data_version") != self.data_version:
            return False
        age_h = ((now_s or time.time()) - meta["last_update_s"]) / 3600.0
        return age_h < self.ttl_hours and self._current_path() is not None

    def save(self, df: DataFrame, now_s: float | None = None) -> int:
        """Write snapshot + watermark metadata (S5). Returns the row
        count, observed during the write (no job runs after it) and
        reused for the stats surface."""
        version = fs.next_version(self.spark, self.path)
        staged = f"{self.path}/_staging_v{version}"
        final = f"{self.path}/v{version}"
        rows = Observation()
        df.observe(rows, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(staged)
        fs.write_text(self.spark, f"{staged}/{_SCHEMA_FILE}", df.schema.json())
        fs.commit(self.spark, staged, final)
        n = rows.get["n"]
        fs.write_text(
            self.spark,
            self._meta_path,
            json.dumps(
                {
                    "count": n,
                    "last_update_s": now_s or time.time(),
                    "data_version": self.data_version,
                    "version": version,
                }
            ),
        )
        fs.sweep_versions(self.spark, self.path, _KEEP_VERSIONS)
        return n

    def load(self, version: int | None = None) -> DataFrame:
        """Read the cached snapshot (S4); raises if never committed.

        ``version`` time-travels to a specific committed snapshot
        (versions survive until pruned by subsequent saves — the same
        read-your-history lever a transaction-log table format sells).
        Raises ``FileNotFoundError`` for a missing or torn
        (uncommitted) version. Either form reads with the version's own
        ``_schema.json``."""
        if version is not None:
            candidate = f"{self.path}/v{version}"
            if not fs.is_committed(self.spark, candidate):
                raise FileNotFoundError(
                    f"no committed snapshot v{version} under {self.path} "
                    f"(committed: {self.versions()})"
                )
            return self._read(candidate)
        current = self._current_path()
        if current is None:
            raise FileNotFoundError(f"no committed snapshot under {self.path}")
        return self._read(current)

    def _read(self, version_dir: str) -> DataFrame:
        raw = fs.read_text(self.spark, f"{version_dir}/{_SCHEMA_FILE}")
        if raw is None:  # saved before the schema file: infer from footers
            return self.spark.read.parquet(version_dir)
        return self.spark.read.schema(StructType.fromJson(json.loads(raw))).parquet(version_dir)

    def versions(self) -> list[int]:
        """Committed snapshot versions available for time travel."""
        return [n for n, _ in fs.committed_versions(self.spark, self.path)]

    def load_or_refresh(self, refresh, now_s: float | None = None) -> DataFrame:
        """Stale-while-revalidate entry (T6/EP2): serve the fresh
        snapshot, else run ``refresh()`` (the bronze→silver job), cache
        its output, and serve that."""
        if self.is_fresh(now_s):
            return self.load()
        df = refresh()
        self.save(df, now_s)
        return self.load()

    def info(self, now_s: float | None = None) -> dict:
        """Cache stats (S12 ``getCacheInfo``): count, age, version,
        freshness — from metadata, no table scan."""
        meta = self._read_meta()
        if meta is None:
            return {"exists": False}
        return {
            "exists": True,
            "count": meta["count"],
            "age_hours": ((now_s or time.time()) - meta["last_update_s"]) / 3600.0,
            "data_version": meta["data_version"],
            "fresh": self.is_fresh(now_s),
        }

    def clear(self) -> None:
        """Teardown (S12 ``clearCache``)."""
        fs.delete(self.spark, self.path, recursive=True)

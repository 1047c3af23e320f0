"""Bronze landing job: snapshot acquisition through the retry/fallback
chain, committed to a versioned bronze directory (SURVEY.md S1-S3, S10).

Parity targets: the reference's snapshot acquisition —
``fetchCDCMerchants`` (gzip JSON endpoint, 3 retries, exponential
backoff, src/data/merchants.ts:41-85) behind the ordered proxy-route
chain with an empty-result sentinel after the last route
(src/utils/proxyUtils.ts:3-76) — and the versioned cache commit it
lands into (src/services/dataManager.ts:26-77).

Spark-first shape: a "route" is any zero-arg callable producing a
DataFrame. In production that's a reader over an ``https://`` landing
endpoint or a gateway-mounted object-store prefix; in this offline
sandbox the tests drive the identical policy with ``file:`` fixtures —
a missing path raises exactly like a dead endpoint, an empty file
replays the reference's empty-API-response miss. The policy layer is
what's under test; the transport is a URI scheme.

Each landing is a versioned commit (the protocol is described once, in
``cdc_makanmana_spark.fs``): the annotated snapshot is staged at
``{bronze}/_staging_v{n}``, committed as ``{bronze}/v{n}``, the
``_landing_meta.json`` sidecar is pointed at it, and the newest
``keep_versions`` committed versions are kept (the lineage/rollback
window, like the reference's single-slot cache generalized to N).
``n`` is one past both the highest ``v*`` dir and the sidecar version,
so a crash that leaves v{n} on disk with a stale sidecar can never
cause version reuse.

Readers resolve through the sidecar but REQUIRE the commit marker; if
the sidecar dangles they fall back to the newest marker-stamped
version — a crash at any step leaves the previous committed snapshot
live, never a half-landed one.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cdc_makanmana_spark import fs


class LandingResult:
    """Outcome of one landing run (progress-callback friendly)."""

    __slots__ = ("version", "route", "count", "path", "degraded")

    def __init__(self, version: int, route: int, count: int, path: str, degraded: bool):
        self.version = version
        self.route = route  # index of the route that served, -1 if none
        self.count = count
        self.path = path
        self.degraded = degraded  # True when every route failed/empty

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return (
            f"LandingResult(version={self.version}, route={self.route}, "
            f"count={self.count}, degraded={self.degraded})"
        )


class LandingJob:
    """Acquire-through-fallback, then land bronze with lineage columns.

    ``routes``: ordered preference chain of zero-arg callables returning
    a DataFrame. A route "misses" when it raises OR returns zero rows
    (the reference treats an empty API response as a miss,
    App.tsx:108-125). Each route gets ``retries`` attempts with
    ``backoff_s`` sleeps between them (merchants.ts:66-71); when the
    whole chain misses, the job lands an EMPTY snapshot rather than
    failing — per-source degradation is the contract
    (halalService.ts:17-71, externalData.ts:534-537).
    """

    def __init__(
        self,
        spark: SparkSession,
        routes: Sequence[Callable[[], DataFrame]],
        schema: StructType,
        bronze_path: str,
        retries: int = 3,
        backoff_s: tuple[float, ...] = (2.0, 4.0, 8.0),
        keep_versions: int = 3,
        on_attempt: Callable[[int, int, Exception | None], None] | None = None,
    ):
        if not routes:
            raise ValueError("LandingJob needs at least one route")
        self.spark = spark
        self.routes = list(routes)
        self.schema = schema
        self.bronze_path = bronze_path.rstrip("/")
        self.retries = retries
        self.backoff_s = backoff_s
        self.keep_versions = keep_versions
        self.on_attempt = on_attempt  # (route_idx, attempt_idx, exc|None=empty)

    # ---- acquisition ------------------------------------------------------

    def acquire(self) -> tuple[DataFrame, int]:
        """Walk the route chain; returns (snapshot, route_idx) or an
        empty sentinel with route_idx=-1 after the last route."""
        for ri, route in enumerate(self.routes):
            for attempt in range(self.retries):
                try:
                    df = route()
                    if df.isEmpty():
                        # empty response = miss; no backoff needed, the
                        # route answered — move on (proxyUtils.ts:63-75)
                        if self.on_attempt:
                            self.on_attempt(ri, attempt, None)
                        break
                    return df, ri
                except Exception as e:  # noqa: BLE001 — degradation is the spec
                    if self.on_attempt:
                        self.on_attempt(ri, attempt, e)
                    if attempt < self.retries - 1:
                        time.sleep(self.backoff_s[min(attempt, len(self.backoff_s) - 1)])
        return self.spark.createDataFrame([], self.schema), -1

    # ---- landing ----------------------------------------------------------

    @property
    def _meta_path(self) -> str:
        return f"{self.bronze_path}/_landing_meta.json"

    def _read_meta(self) -> dict | None:
        raw = fs.read_text(self.spark, self._meta_path)
        return json.loads(raw) if raw is not None else None

    def land(self, now_s: float | None = None) -> LandingResult:
        """One acquisition cycle → one committed bronze version."""
        df, route = self.acquire()
        now = now_s or time.time()
        # one past the sidecar's version too: the dirs on disk alone
        # under-count once the newest one was swept or removed by hand
        meta = self._read_meta()
        version = max(
            fs.next_version(self.spark, self.bronze_path),
            meta["version"] + 1 if meta else 1,
        )

        staged = f"{self.bronze_path}/_staging_v{version}"
        final = f"{self.bronze_path}/v{version}"
        annotated = df.withColumn(
            "_landed_at", F.lit(now).cast("double")
        ).withColumn("_source_route", F.lit(route))
        annotated.write.mode("overwrite").parquet(staged)
        fs.commit(self.spark, staged, final)
        count = self.spark.read.parquet(final).count()
        fs.write_text(
            self.spark,
            self._meta_path,
            json.dumps(
                {
                    "version": version,
                    "route": route,
                    "count": count,
                    "landed_at_s": now,
                }
            ),
        )
        fs.sweep_versions(self.spark, self.bronze_path, self.keep_versions)
        return LandingResult(version, route, count, final, degraded=route < 0)

    def read_bronze(self) -> DataFrame | None:
        """Current committed snapshot: sidecar-resolved, but only a
        marker-stamped version counts — a torn v{n} from a crashed
        commit (or a sidecar written just before the crash on a store
        where rename is a copy) is skipped in favor of the newest
        version that carries ``_COMMITTED``. None if nothing has ever
        fully committed."""
        meta = self._read_meta()
        preferred = f"v{meta['version']}" if meta is not None else None
        current = fs.newest_committed(self.spark, self.bronze_path, preferred)
        return self.spark.read.parquet(current) if current else None

"""TTL'd verdict cache as a keyed parquet table (SURVEY.md T4/J8).

Parity target: the reference memoizes per-merchant halal verdicts in a
``Map`` keyed by ``lower(name_address)`` with a 24 h validity window
(reference: src/services/externalData.ts:191-196,200-224,476-479).
The engine's version is a keyed cache TABLE: lookups are a broadcast
left join against fresh rows, misses are recomputed in one distributed
pass and merged back — never a per-row cache probe.

Scale notes: the cache table is keyed and small relative to the fact
table (one row per distinct entity) → broadcast join on lookup; the
merge-back is an argmax-per-key rewrite (Delta ``MERGE`` on a real
lakehouse). Freshness is a plain timestamp predicate, so expired rows
are filtered at scan time and compacted away by the merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_makanmana_spark import fs
from cdc_makanmana_spark.operators.similarity import argmax_per_group


class VerdictCache:
    """Keyed cache table with TTL freshness semantics.

    ``key_col`` plays the reference's ``lower(name_address)`` role;
    ``computed_at`` is the ingest timestamp the TTL predicate runs on.
    """

    def __init__(self, spark: SparkSession, path: str, key_col: str, ttl_hours: float = 24.0):
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.ttl_hours = ttl_hours

    # MVCC layout: each merge is a versioned commit of a NEW ``v{n}``
    # subdirectory (the protocol is described once, in
    # ``cdc_makanmana_spark.fs``) and old versions stay on disk until
    # ``vacuum``, so a lazy DataFrame planned against version n still
    # reads valid files after a merge commits n+1 (the same
    # reader-isolation guarantee a Delta/Iceberg log provides). Without
    # this, enrich_with's returned (lazy) plan would dangle on files the
    # merge just deleted. Readers only trust marker-stamped versions.
    def _versions(self) -> list[str]:
        return [name for _, name in fs.committed_versions(self.spark, self.path)]

    def _current(self) -> str | None:
        return fs.newest_committed(self.spark, self.path)

    def _exists(self) -> bool:
        return self._current() is not None

    def read(self) -> DataFrame | None:
        """Current cache snapshot (latest committed version), or None."""
        current = self._current()
        return self.spark.read.parquet(current) if current else None

    def fresh_rows(self, now: str | None = None) -> DataFrame | None:
        """Cache rows still inside the TTL window (externalData.ts:
        200-204 freshness predicate). ``now`` (ISO string) is
        injectable for deterministic tests."""
        current = self._current()
        if current is None:
            return None
        df = self.spark.read.parquet(current)
        now_ts = F.lit(now).cast("timestamp") if now else F.current_timestamp()
        age_h = (now_ts.cast("double") - F.col("computed_at").cast("double")) / 3600.0
        return df.filter(age_h < self.ttl_hours)

    def lookup(self, facts: DataFrame, fact_key, now: str | None = None) -> DataFrame:
        """Left-join fresh verdicts onto ``facts``; missing/expired keys
        get nulls (the caller recomputes those — ``enrich_with``)."""
        fresh = self.fresh_rows(now)
        if fresh is None:
            return facts.withColumn("__cache_hit", F.lit(False))
        fresh = fresh.withColumnRenamed(self.key_col, "__ck")
        # No pinned broadcast: the cache holds one row per distinct
        # ENTITY (lower(name_address)), which tracks fact-table
        # cardinality in this domain, not dim cardinality — pinning
        # F.broadcast here is the same driver-OOM class as broadcasting
        # the fact side of resolve_halal (engine.py). Let AQE pick the
        # strategy from the actual size at runtime: below
        # autoBroadcastJoinThreshold it still broadcasts, above it a
        # shuffled hash join is the correct plan.
        joined = facts.join(
            fresh.drop("computed_at"),
            facts[fact_key] == F.col("__ck"),
            "left",
        )
        return joined.withColumn("__cache_hit", F.col("__ck").isNotNull()).drop("__ck")

    def merge(self, new_verdicts: DataFrame, computed_at: str | None = None) -> None:
        """Upsert newly-computed verdicts: newest ``computed_at`` wins
        per key (Delta ``MERGE INTO`` semantics via argmax rewrite)."""
        stamped = new_verdicts.withColumn(
            "computed_at",
            F.lit(computed_at).cast("timestamp") if computed_at else F.current_timestamp(),
        )
        current = self._current()
        if current is not None:
            merged = argmax_per_group(
                self.spark.read.parquet(current).unionByName(
                    stamped, allowMissingColumns=True
                ),
                [self.key_col],
                [F.desc("computed_at")],
            )
        else:
            merged = stamped
        n = fs.next_version(self.spark, self.path)
        tmp = f"{self.path}/.__tmp_v{n:06d}"
        final = f"{self.path}/v{n:06d}"
        merged.write.mode("overwrite").parquet(tmp)
        fs.commit(self.spark, tmp, final)

    def vacuum(self, keep: int = 2) -> None:
        """Drop all but the newest ``keep`` committed versions, plus any
        torn (un-stamped) directories left by crashed commits. Callers
        must ensure no live query still reads the dropped ones (same
        contract as Delta VACUUM). Single-writer assumed, as throughout."""
        fs.sweep_versions(self.spark, self.path, keep)

    def enrich_with(
        self,
        facts: DataFrame,
        fact_key: str,
        compute_fn,
        value_cols: list[str],
        now: str | None = None,
    ) -> DataFrame:
        """Cache-through enrichment: serve hits from the fresh cache,
        run ``compute_fn(misses_df)`` ONCE for the miss set (a
        distributed job, not per-row RPCs — the EP3 redesign), merge
        results back, and return facts fully enriched."""
        looked = self.lookup(facts, fact_key, now)
        hits = looked.filter(F.col("__cache_hit")).drop("__cache_hit")
        misses = looked.filter(~F.col("__cache_hit")).drop(
            "__cache_hit", *[c for c in value_cols]
        )
        if misses.isEmpty():
            return hits
        computed = compute_fn(misses)
        self.merge(
            computed.select(F.col(fact_key).alias(self.key_col), *value_cols), now
        )
        out_cols = misses.columns + [c for c in value_cols if c not in misses.columns]
        computed = computed.select(*out_cols)
        if any(c not in hits.columns for c in out_cols):
            # Cold cache: no value columns joined on, and hits is empty.
            return computed
        return hits.select(*out_cols).unionByName(computed)

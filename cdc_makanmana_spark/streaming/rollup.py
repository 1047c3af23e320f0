"""Continuous aggregate (hypertable-rollup) maintenance.

``windowed_agg_stream`` (cdc.py) answers windowed aggregates with
in-flight streaming state; this module maintains the same aggregate as
a QUERYABLE TABLE that survives restarts and serves arbitrary readers
— the TimescaleDB continuous-aggregate / Druid rollup pattern, built
from the engine's existing write-once commit-marker discipline:

- every micro-batch writes its PARTIAL aggregate (one row per
  (window, keys) the batch touched, additive measures only) to
  ``partials/b{batch_id}``, WRITE-ONCE and commit-marked — a
  foreachBatch retry of a completed batch is a no-op, so a batch can
  never be double-counted (the additive-measure version of
  SignatureIndex.append's idempotency rule);
- ``serve()`` is merge-on-read: union the committed partials and
  re-aggregate — cheap, because each partial is already one row per
  touched (window, key), so the serve-side input is bounded by
  windows x keys x batches, not by event count;
- ``compact()`` folds all committed partials into one base partial
  (the manifest fold of the engine's commit protocol, described once
  in ``cdc_makanmana_spark.fs``), bounding the serve-side union for
  long-running streams. Crash windows heal on the next
  compact()/serve() via the dot-prefixed staging rule.

Additive measures only (count, sum — avg is served as sum/count,
and optionally a Datasketches HLL sketch for distinct counts — a
MERGEABLE sketch column, unioned at serve/compact time, so
"distinct users per window" maintains incrementally too): merging
partials is then associative and commutative, so batch boundaries,
retries and compaction order can never change the result. Never
store a non-mergeable measure.

Reference analogue: the reference recomputes its snapshot aggregates
on every 24 h refresh (src/services/dataManager.ts:132-187); this is
the incremental form a 100 TB event table needs — per-batch cost is
O(batch), serve cost is O(aggregate), the event history is never
re-read.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from cdc_makanmana_spark import fs

_STAGING = ".__rollup_compact"
_MANIFEST = fs.FOLD_MANIFEST


class RollupMaintainer:
    """Continuously maintained tumbling-window rollup table.

    Output schema: (window_start, *keys, n_events, sum_value) —
    ``serve()`` adds round()ed derived columns. ``window`` is any
    Spark window duration string ("1 hour", "15 minutes").
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        window: str = "1 hour",
        keys: list[str] | None = None,
        ts_col: str = "ts",
        value_col: str = "value",
        distinct_col: str | None = None,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.window = window
        self.keys = keys or []
        self.ts_col = ts_col
        self.value_col = value_col
        self.distinct_col = distinct_col

    # ---- per-batch partial -------------------------------------------------

    def _partial(self, df: DataFrame) -> DataFrame:
        win = F.window(self.ts_col, self.window)
        aggs = [
            F.count(F.lit(1)).alias("n_events"),
            F.sum(self.value_col).alias("sum_value"),
        ]
        if self.distinct_col is not None:
            # Datasketches HLL: a binary, UNION-mergeable sketch —
            # the only way a "distinct X per window" survives
            # incremental maintenance (raw counts don't merge)
            aggs.append(F.hll_sketch_agg(self.distinct_col).alias("distinct_sketch"))
        measure_cols = ["n_events", "sum_value"] + (
            ["distinct_sketch"] if self.distinct_col is not None else []
        )
        return (
            df.groupBy(win.alias("__w"), *self.keys)
            .agg(*aggs)
            .select(
                F.col("__w.start").alias("window_start"),
                *self.keys,
                *measure_cols,
            )
        )

    def _ingest_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body: write this batch's partial aggregate,
        write-once per batch_id (retry of a committed batch would
        double-count every additive measure — the no-op IS the
        exactly-once guarantee, same rule as SignatureIndex.append)."""
        bdir = f"{self.path}/partials/b{batch_id}"
        if fs.is_committed(self.spark, bdir):
            return
        self._partial(batch_df).write.mode("overwrite").parquet(bdir)
        fs.mark_committed(self.spark, bdir)

    def ingest_stream(self, events: DataFrame, checkpoint_dir: str | None = None):
        """Attach to a stream; returns the started StreamingQuery
        (availableNow trigger — call repeatedly as data lands, or swap
        the trigger for a continuous deployment)."""
        checkpoint = checkpoint_dir or tempfile.mkdtemp(prefix="rollup_ckpt_")
        return (
            events.writeStream.foreachBatch(self._ingest_batch)
            .option("checkpointLocation", checkpoint)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )

    # ---- reads -------------------------------------------------------------

    def _partial_dirs(self) -> list[str]:
        root = f"{self.path}/partials"
        if not fs.exists(self.spark, root):
            return []
        names = fs.list_names(self.spark, root, dirs_only=True)
        if _STAGING in names:  # a crashed compact(): finish or sweep it
            fs.heal_fold(self.spark, f"{root}/{_STAGING}", f"{root}/base")
            names = fs.list_names(self.spark, root, dirs_only=True)
        return sorted(
            f"{root}/{n}"
            for n in names
            if (n.startswith("b") or n == "base")
            and fs.is_committed(self.spark, f"{root}/{n}")
        )

    def serve(self, round_dp: int = 4) -> DataFrame | None:
        """The rollup, merged on read: union committed partials,
        re-aggregate (additive merge), derive avg. None when nothing
        has been ingested."""
        dirs = self._partial_dirs()
        if not dirs:
            return None
        # one read serves both the schema probe and the merge scan
        df = self.spark.read.parquet(*dirs)
        merged = df.groupBy("window_start", *self.keys)
        # derive through cast-to-double (a no-op for double inputs):
        # when the ingested value column is a DECIMAL, the partial sums
        # and their merge are EXACT regardless of micro-batch topology,
        # and both engines round the same double — a double sum's
        # accumulation order could flip a rounding boundary between the
        # partials-then-merge order and an oracle's single pass
        sum_d = F.col("sum_value").cast("double")
        # avg AND total derive via EXACT integer math when the sum is a
        # DECIMAL: round(double, dp) is NOT replayable across engines
        # at a rounding boundary — Spark's round(double) goes through
        # the shortest decimal repr (BigDecimal.valueOf) and rounds
        # "293.99875" HALF_UP to 293.9988, while DuckDB rounds the
        # actual binary value (...74999...) to 293.9987; an exact
        # decimal sum divided by a count lands on such ties in real
        # data (first hit: the x10 organic probe, one group of 264),
        # and a DECIMAL sum with scale > round_dp can land total_value
        # on the identical tie class. Half-up is away-from-zero in both
        # engines' round(), and Spark `div` TRUNCATES toward zero while
        # DuckDB `//` matches — so the integral division runs on the
        # ABSOLUTE scaled sum (where truncate == floor and
        # half-up(m/d) == (2m + d) div 2d) and the sign is re-applied:
        # sign-aware, identical in both engines, no tie left to a
        # float. The scaled sum stays DECIMAL(38,0) into the division —
        # a CAST to BIGINT would overflow at |sum| ≳ 4.6e12 with s=6
        # (one afternoon of a 100 TB feed). The honest bound (r8
        # ADVICE): Spark's `div` operator RETURNS LONG, so the
        # QUOTIENT — |sum|·10^round_dp / denominator — must fit in
        # ~9.2e18, i.e. |total| < ~9.2e12 at round_dp=6; past that
        # non-ANSI Spark NULLs the quotient while DuckDB returns a
        # HUGEINT, and the hash diff catches it loudly. That is ~2e6×
        # more headroom than the old BIGINT-sum hazard (which
        # overflowed on the SUM, not the quotient) — not the DECIMAL
        # 1e31 ceiling; a feed needing quotients past LONG range moves
        # round_dp down or the division to DECIMAL division.
        sum_field = df.schema["sum_value"]
        if isinstance(sum_field.dataType, DecimalType):
            s = sum_field.dataType.scale
            if s < round_dp:
                raise ValueError(
                    f"round_dp={round_dp} exceeds the ingested scale {s}"
                )
            rescale = 10 ** (s - round_dp)

            def half_up(denominator: str, alias: str):
                q = F.expr(
                    f"(2 * abs(CAST(sum_value * {10**s} AS DECIMAL(38,0)))"
                    f" + ({denominator})) div (2 * ({denominator}))"
                )
                signed = F.when(F.col("sum_value") < 0, -q).otherwise(q)
                return (
                    signed.cast("double") / F.lit(float(10**round_dp))
                ).alias(alias)

            avg_col = half_up(f"{rescale} * n_events", "avg_value")
            total_col = half_up(f"{rescale}", "total_value")
        else:
            avg_col = F.round(sum_d / F.col("n_events"), round_dp).alias(
                "avg_value"
            )
            total_col = F.round(sum_d, round_dp).alias("total_value")
        out_cols = [
            "window_start",
            *self.keys,
            "n_events",
            total_col,
            avg_col,
        ]
        if self.distinct_col is not None:
            agg = merged.agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_value").alias("sum_value"),
                F.hll_union_agg("distinct_sketch").alias("__sk"),
            )
            out_cols.append(
                F.hll_sketch_estimate("__sk").alias("approx_distinct")
            )
        else:
            agg = merged.agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_value").alias("sum_value"),
            )
        return agg.select(*out_cols)

    # ---- maintenance -------------------------------------------------------

    def compact(self) -> int:
        """Fold all committed partials into one ``base`` partial (the
        long-running stream's serve-side union would otherwise grow one
        dir per micro-batch). The merged partial is written to a
        dot-prefixed staging dir (invisible to readers) and installed
        with ``fs.install_fold``; a crash anywhere is healed on the
        next read. Returns the number of partial dirs folded (0 =
        nothing to do)."""
        dirs = self._partial_dirs()
        if len(dirs) <= 1:
            return 0
        root = f"{self.path}/partials"
        staging = f"{root}/{_STAGING}"
        fs.delete(self.spark, staging)
        aggs = [
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
        ]
        if self.distinct_col is not None:
            aggs.append(F.hll_union_agg("distinct_sketch").alias("distinct_sketch"))
        merged = (
            self.spark.read.parquet(*dirs)
            .groupBy("window_start", *self.keys)
            .agg(*aggs)
        )
        merged.write.mode("overwrite").parquet(staging)
        fs.install_fold(
            self.spark,
            staging,
            f"{root}/base",
            "\n".join(d.rsplit("/", 1)[1] for d in dirs),
        )
        return len(dirs)

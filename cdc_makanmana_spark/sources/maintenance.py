"""Table maintenance: small-file compaction and row scrubs.

Streaming sinks (foreachBatch appends, availableNow micro-batches) and
high-parallelism writers accumulate many small files; at 100 TB the
resulting scan-planning and NameNode/liststore pressure dominates query
latency long before data volume does. ``compact_parquet`` rewrites a
directory to ~``target_file_bytes`` files and ``scrub_rows`` hard-deletes
rows; both install the rewrite with the two-rename swap of the engine's
commit protocol (``fs.swap_in``, described once in
``cdc_makanmana_spark.fs``), and ``repair`` heals every crash window,
so a killed rewrite never loses the table.

Reference analogue: the cache rewrite-in-place the reference performs on
every refresh (src/services/dataManager.ts:68-77) — generalized to a
maintenance operation. Readers never see a torn MIX of old and new
files, but the swap does leave a brief window where the directory is
absent (generic filesystems have no atomic directory swap): run these in
the ingest pause of a maintenance window, or point readers through a
versioned layout (LandingJob) where the swap problem disappears
entirely.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from cdc_makanmana_spark import fs

_STAGING = ".__compact_staging"
_OLD = ".__compact_old"


def _data_files(spark: SparkSession, path: str) -> list[str]:
    names = [
        n
        for n in fs.list_names(spark, path)
        if not (n.startswith(".") or n.startswith("_"))
    ]
    subdirs = [n for n in names if fs.is_dir(spark, f"{path}/{n}")]
    if subdirs:
        # a hive-partitioned layout: a flat rewrite would both mis-size
        # (directories stat as 0 bytes) and DESTROY the partitioning —
        # compact each partition directory individually instead.
        raise ValueError(
            f"{path} contains subdirectories ({subdirs[:3]}...): "
            "compact_parquet operates on flat table directories; for a "
            "partitioned layout, compact each partition directory "
            "(they are independent flat directories)"
        )
    return names


def repair(spark: SparkSession, path: str) -> str:
    """Repair the crash windows of a previous ``compact_parquet`` or
    ``scrub_rows`` (``fs.repair_swap``): finish the swap from committed
    staging, roll the original back, or sweep leftovers. Returns one of
    'clean', 'finished_swap', 'rolled_back', 'swept'."""
    p = path.rstrip("/")
    return fs.repair_swap(spark, p, p + _STAGING, p + _OLD)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
    verify_counts: bool = True,
) -> dict:
    """Rewrite ``path`` to ``ceil(total_bytes / target_file_bytes)``
    files. No-op (and no data movement) when the file count is already
    at or under the target — safe to schedule unconditionally after
    every streaming ingest window.

    Protocol: write the repartitioned copy to ``.__compact_staging``,
    then install it with ``fs.swap_in`` (the original is kept as
    ``.__compact_old`` until the new directory is in place). Every
    crash window is recoverable by :func:`repair`, which runs first on
    each invocation.

    ``verify_counts`` re-counts the staged copy before the swap and
    aborts (deleting staging, original untouched) on any mismatch —
    the belt-and-braces guard for a tool whose failure mode is data
    loss. Returns a stats dict.
    """
    p = path.rstrip("/")
    repair(spark, p)
    names = _data_files(spark, p)
    total = sum(fs.file_size(spark, f"{p}/{n}") for n in names)
    n_target = max(1, math.ceil(total / target_file_bytes))
    if len(names) <= n_target:
        return {
            "compacted": False,
            "files": len(names),
            "bytes": total,
            "target_files": n_target,
        }

    df: DataFrame = spark.read.format(fmt).load(p)
    n_before = df.count() if verify_counts else None
    staging, old = p + _STAGING, p + _OLD
    fs.delete(spark, staging)
    df.repartition(n_target).write.format(fmt).mode("overwrite").save(staging)
    if verify_counts:
        n_staged = spark.read.format(fmt).load(staging).count()
        if n_staged != n_before:
            fs.delete(spark, staging)
            raise RuntimeError(
                f"compaction aborted: staged count {n_staged} != source {n_before}"
            )
    fs.swap_in(spark, p, staging, old)
    return {
        "compacted": True,
        "files": len(names),
        "bytes": total,
        "target_files": n_target,
        "rows": n_before,
    }


def scrub_rows(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key_cols: list[str],
    fmt: str = "parquet",
) -> dict:
    """Hard-delete every row of the table at ``path`` whose ``key_cols``
    value appears in ``keys`` — the right-to-be-forgotten / takedown
    primitive (user ids to erase, licensed doc ids to pull from a
    training corpus). Rewrites the table via broadcast left_anti join
    using the same staged two-rename swap as :func:`compact_parquet`;
    every crash window is recoverable by :func:`repair` (which runs
    first), and a count reconciliation (kept + matched == before)
    aborts the swap — the original table is untouched on ANY failure.

    Scale shape: the delete set is broadcast (erasure requests are tiny
    against a 100 TB corpus), so the rewrite is one full scan + write
    with no shuffle. NULL keys in ``keys`` are ignored (SQL equality
    never matches NULL — a NULL erasure request would silently match
    nothing; dropping it keeps the reconciliation honest). The dedup
    ladder's derived artifacts hold their own copies and must be
    scrubbed too — ``SignatureIndex.scrub`` (operators/dedup_index.py)
    is the companion for the persisted dedup index; snapshot-cache
    versions age out via their keep-window.

    Returns ``{"rows_before", "rows_scrubbed", "rows_after"}``.
    """
    from pyspark.sql import functions as F

    p = path.rstrip("/")
    if not key_cols:
        raise ValueError("key_cols must name at least one column")
    repair(spark, p)
    _data_files(spark, p)  # rejects partitioned layouts, same as compact
    df: DataFrame = spark.read.format(fmt).load(p)
    dedup_keys = keys.select(*key_cols).na.drop().distinct()
    n_before = df.count()
    n_matched = df.join(F.broadcast(dedup_keys), key_cols, "left_semi").count()
    if n_matched == 0:
        return {"rows_before": n_before, "rows_scrubbed": 0, "rows_after": n_before}
    kept = df.join(F.broadcast(dedup_keys), key_cols, "left_anti")
    staging, old = p + _STAGING, p + _OLD
    fs.delete(spark, staging)
    kept.write.format(fmt).mode("overwrite").save(staging)
    n_staged = spark.read.format(fmt).load(staging).count()
    if n_staged + n_matched != n_before:
        fs.delete(spark, staging)
        raise RuntimeError(
            f"scrub aborted: staged {n_staged} + matched {n_matched} "
            f"!= source {n_before}; original untouched"
        )
    fs.swap_in(spark, p, staging, old)
    return {
        "rows_before": n_before,
        "rows_scrubbed": n_matched,
        "rows_after": n_staged,
    }

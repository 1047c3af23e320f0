"""Source/sink layer tests (SURVEY.md §2.1 S1-S12): schema-enforced
readers, CSV/JSON round-trips with quote-escaping, retry-to-empty
degradation, source fallback with field remap, snapshot cache TTL."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from cdc_makanmana_spark.sources import (
    SnapshotCache,
    load_with_fallback,
    read_csv_source,
    read_json_source,
    with_retries,
    write_csv_sink,
    write_json_sink,
)

SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("name", StringType()),
        StructField("lat", DoubleType()),
        StructField("halal", BooleanType()),
    ]
)

ROWS = [
    (1, 'Ahmad "Best" Nasi, Padang', 1.30, True),
    (2, "Line\nBreak Cafe", 1.35, False),
    (3, None, None, None),
]


def test_csv_round_trip_preserves_quotes_commas_newlines(spark, tmp_path):
    """S7/S8: the reference hand-rolls RFC quoting (dataManager.ts:
    203-240,279-300); the engine's native reader/writer must round-trip
    the same hostile values losslessly."""
    df = spark.createDataFrame(ROWS, SCHEMA)
    path = str(tmp_path / "csv")
    write_csv_sink(df, path)
    back = read_csv_source(spark, path, SCHEMA)
    assert sorted(back.collect()) == sorted(df.collect())


def test_json_round_trip(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    path = str(tmp_path / "json")
    write_json_sink(df, path)
    back = read_json_source(spark, path, SCHEMA)
    assert sorted(back.collect()) == sorted(df.collect())


def test_schema_enforced_on_read(spark, tmp_path):
    """§1.3: explicit StructType at the boundary — extra fields in the
    file are dropped, missing fields are null, types are cast per the
    declared schema, never inferred."""
    p = tmp_path / "raw"
    p.mkdir()
    (p / "a.json").write_text('{"id": 7, "name": "x", "extra": "IGNORED"}\n')
    out = read_json_source(spark, str(p), SCHEMA).collect()
    assert len(out) == 1
    r = out[0]
    assert r.id == 7 and r.name == "x" and r.lat is None
    assert "extra" not in out[0].asDict()


def test_with_retries_succeeds_after_transient_failures(spark):
    attempts = []

    def flaky():
        attempts.append(1)
        if len(attempts) < 3:
            raise RuntimeError("transient")
        return spark.createDataFrame([(1, "ok", 0.0, True)], SCHEMA)

    df = with_retries(flaky, SCHEMA, spark, retries=3, backoff_s=(0.0, 0.0))
    assert df.count() == 1 and len(attempts) == 3


def test_with_retries_degrades_to_empty_table(spark):
    """S2/S3: after the last retry the source degrades to an EMPTY
    table with the declared schema — never an exception (the app keeps
    serving, halalService.ts:66-70)."""

    def always_down():
        raise RuntimeError("down")

    df = with_retries(always_down, SCHEMA, spark, retries=2, backoff_s=(0.0,))
    assert df.count() == 0 and df.schema == SCHEMA


def test_load_with_fallback_remaps_and_defaults(spark):
    """S10: backup path renames LAT→latitude and fills defaults for
    columns the backup lacks (App.tsx:47-53)."""

    def primary():
        raise RuntimeError("api down")

    def backup():
        return spark.createDataFrame([(1, 1.3)], "id long, LAT double")

    df = load_with_fallback(
        primary, backup, remap={"LAT": "latitude"}, defaults={"halal": False}
    )
    r = df.collect()[0]
    assert r.latitude == 1.3 and r.halal is False


def test_load_with_fallback_treats_empty_primary_as_miss(spark):
    def primary():
        return spark.createDataFrame([], SCHEMA)

    def backup():
        return spark.createDataFrame([(9, "b", 0.0, True)], SCHEMA)

    assert load_with_fallback(primary, backup).collect()[0].id == 9


def test_snapshot_cache_ttl_and_version(spark, tmp_path):
    """S4-S6: fresh = version match AND age < TTL (dataManager.ts:
    32-51); version bump or expiry forces refresh; info() serves stats
    from metadata without a table scan."""
    cache = SnapshotCache(spark, str(tmp_path / "snap"), data_version="v1", ttl_hours=24.0)
    df = spark.createDataFrame(ROWS, SCHEMA)

    t0 = 1_700_000_000.0
    refreshes = []

    def refresh():
        refreshes.append(1)
        return df

    out = cache.load_or_refresh(refresh, now_s=t0)
    assert out.count() == 3 and refreshes == [1]
    # fresh within TTL → served from cache, no refresh
    out = cache.load_or_refresh(refresh, now_s=t0 + 23 * 3600)
    assert out.count() == 3 and refreshes == [1]
    assert cache.info(now_s=t0 + 3600)["fresh"] is True
    # past TTL → refresh fires
    cache.load_or_refresh(refresh, now_s=t0 + 25 * 3600)
    assert refreshes == [1, 1]
    # version bump → stale regardless of age
    cache2 = SnapshotCache(spark, str(tmp_path / "snap"), data_version="v2")
    assert cache2.is_fresh(now_s=t0 + 25 * 3600 + 1) is False
    cache.clear()
    assert cache.info()["exists"] is False


def test_landing_job_fallback_chain(spark, tmp_path):
    """S1-S3/S10 end-to-end: the bronze landing job walks the route
    chain (dead endpoint -> empty response -> live backup), retries the
    dead route with zero backoff, lands the backup snapshot with
    lineage columns, and commits it atomically behind the sidecar."""
    from cdc_makanmana_spark.sources import LandingJob, read_json_source

    live = tmp_path / "live.jsonl"
    live.write_text('{"id": "m1", "name": "A"}\n{"id": "m2", "name": "B"}\n')
    empty = tmp_path / "empty.jsonl"
    empty.write_text("")
    schema = StructType(
        [StructField("id", StringType()), StructField("name", StringType())]
    )
    attempts = []

    # route chain: a raising reader, an empty response, the live backup
    def dead():
        df = spark.read.schema(schema).json(str(tmp_path / "missing.jsonl"))
        df.head(1)  # force the scan so the missing path raises here
        return df

    job = LandingJob(
        spark,
        routes=[
            dead,
            lambda: read_json_source(spark, str(empty), schema),
            lambda: read_json_source(spark, str(live), schema),
        ],
        schema=schema,
        bronze_path=str(tmp_path / "bronze"),
        retries=2,
        backoff_s=(0.0,),
        on_attempt=lambda ri, ai, e: attempts.append((ri, ai, e is not None)),
    )
    res = job.land(now_s=1_700_000_000.0)
    assert res.route == 2 and res.count == 2 and not res.degraded
    # dead route retried twice (raised), empty route answered once
    assert attempts == [(0, 0, True), (0, 1, True), (1, 0, False)]
    bronze = job.read_bronze()
    rows = {r.id: r for r in bronze.collect()}
    assert set(rows) == {"m1", "m2"}
    assert rows["m1"]._source_route == 2
    assert rows["m1"]._landed_at == 1_700_000_000.0


def test_landing_job_versioning_prune_and_degraded(spark, tmp_path):
    """Repeated landings bump the committed version, readers resolve
    only through the sidecar, old versions are pruned past the
    rollback window, and an all-routes-down cycle lands an EMPTY
    snapshot (degradation, never failure)."""
    from cdc_makanmana_spark import fs
    from cdc_makanmana_spark.sources import LandingJob, read_json_source

    src = tmp_path / "src.jsonl"
    schema = StructType(
        [StructField("id", StringType()), StructField("name", StringType())]
    )
    job = LandingJob(
        spark,
        routes=[lambda: read_json_source(spark, str(src), schema)],
        schema=schema,
        bronze_path=str(tmp_path / "bronze"),
        retries=1,
        backoff_s=(0.0,),
        keep_versions=2,
    )
    for i in range(4):
        src.write_text(f'{{"id": "m{i}", "name": "gen{i}"}}\n')
        res = job.land(now_s=1_700_000_000.0 + i)
        assert res.version == i + 1 and res.count == 1
    names = sorted(fs.list_names(spark, str(tmp_path / "bronze"), dirs_only=True))
    assert names == ["v3", "v4"]  # keep_versions=2 pruned v1/v2
    assert job.read_bronze().collect()[0].id == "m3"

    # all routes down -> empty snapshot, degraded flag, version still bumps
    src.unlink()
    res = job.land(now_s=1_700_000_010.0)
    assert res.degraded and res.route == -1 and res.count == 0
    assert res.version == 5
    assert job.read_bronze().count() == 0


def test_landing_job_crash_window_recovery(spark, tmp_path):
    """Commit-protocol crash windows (ADVICE r3 + commit-marker
    protocol): (a) crash AFTER the v{n} rename but BEFORE the marker —
    the torn dir must be invisible to readers and its number never
    reused; (b) crash AFTER the marker but BEFORE the sidecar — the
    stale sidecar must not make the next land() commit into the
    existing dir (the old sidecar+1 derivation raised forever here)."""
    from cdc_makanmana_spark import fs
    from cdc_makanmana_spark.sources import LandingJob, read_json_source

    src = tmp_path / "src.jsonl"
    src.write_text('{"id": "m1", "name": "one"}\n')
    schema = StructType(
        [StructField("id", StringType()), StructField("name", StringType())]
    )
    bronze = str(tmp_path / "bronze")
    job = LandingJob(
        spark,
        routes=[lambda: read_json_source(spark, str(src), schema)],
        schema=schema,
        bronze_path=bronze,
        retries=1,
        backoff_s=(0.0,),
    )
    assert job.land(now_s=1.0).version == 1

    # (a) simulate crash between rename and marker: a torn v2 exists,
    # un-stamped, and the sidecar still points at v1.
    torn = spark.createDataFrame([("tx", "torn")], schema)
    torn.write.mode("overwrite").parquet(f"{bronze}/v2")
    fs.delete(spark, f"{bronze}/v2/{fs.COMMIT_MARKER}")  # parquet _SUCCESS != marker
    assert job.read_bronze().collect()[0].id == "m1"  # torn v2 ignored

    # next land() must skip to v3, not fight over v2
    src.write_text('{"id": "m3", "name": "three"}\n')
    res = job.land(now_s=3.0)
    assert res.version == 3
    assert job.read_bronze().collect()[0].id == "m3"

    # (b) simulate crash between marker and sidecar: roll the sidecar
    # back to version 1 while committed v3 exists. Reader serves the
    # sidecar's (older, committed) version — consistent, never torn —
    # and the next land() derives v4 from the dirs, not sidecar+1=2.
    fs.write_text(
        spark,
        f"{bronze}/_landing_meta.json",
        '{"version": 1, "route": 0, "count": 1, "landed_at_s": 1.0}',
    )
    assert job.read_bronze().collect()[0].id == "m1"
    src.write_text('{"id": "m4", "name": "four"}\n')
    res = job.land(now_s=4.0)
    assert res.version == 4
    assert job.read_bronze().collect()[0].id == "m4"

    # (c) dangling sidecar (points at a pruned/absent version): reader
    # falls back to the newest committed version instead of raising.
    fs.write_text(
        spark,
        f"{bronze}/_landing_meta.json",
        '{"version": 99, "route": 0, "count": 1, "landed_at_s": 1.0}',
    )
    assert job.read_bronze().collect()[0].id == "m4"


def test_landing_job_sweeps_torn_version_outside_keep_window(spark, tmp_path):
    """The keep-window counts COMMITTED versions: a torn v{n} left by a
    crashed land() is swept and must not take a slot, or the real prior
    version would be evicted while the garbage survives."""
    from cdc_makanmana_spark import fs
    from cdc_makanmana_spark.sources import LandingJob, read_json_source

    src = tmp_path / "src.jsonl"
    schema = StructType(
        [StructField("id", StringType()), StructField("name", StringType())]
    )
    bronze = str(tmp_path / "bronze")
    job = LandingJob(
        spark,
        routes=[lambda: read_json_source(spark, str(src), schema)],
        schema=schema,
        bronze_path=bronze,
        retries=1,
        backoff_s=(0.0,),
        keep_versions=2,
    )
    for i in (1, 2):
        src.write_text(f'{{"id": "m{i}", "name": "gen{i}"}}\n')
        assert job.land(now_s=float(i)).version == i
    # torn v3: renamed into place, never stamped
    spark.createDataFrame([("tx", "torn")], schema).write.parquet(f"{bronze}/v3")
    src.write_text('{"id": "m4", "name": "gen4"}\n')
    assert job.land(now_s=4.0).version == 4

    names = sorted(fs.list_names(spark, bronze, dirs_only=True))
    assert names == ["v2", "v4"]  # torn v3 swept, prior committed v2 kept
    assert all(fs.is_committed(spark, f"{bronze}/{n}") for n in names)
    assert job.read_bronze().collect()[0].id == "m4"


def test_only_fs_renames():
    """The directory-commit protocol lives in ``fs`` alone: no other
    package module may rename a directory into visibility by hand."""
    import pathlib
    import re

    import cdc_makanmana_spark

    pkg = pathlib.Path(cdc_makanmana_spark.__file__).parent
    offenders = [
        str(p.relative_to(pkg))
        for p in sorted(pkg.rglob("*.py"))
        if p.name != "fs.py" and re.search(r"\bfs\.rename\(", p.read_text())
    ]
    assert offenders == []


def test_snapshot_cache_crash_leaves_previous_version_readable(spark, tmp_path):
    """A torn save (staging written, rename/marker never completed)
    must leave the previous committed snapshot served by load(); a
    marker-less v-dir is garbage, not data."""
    from cdc_makanmana_spark import fs

    path = str(tmp_path / "snap")
    cache = SnapshotCache(spark, path, data_version="v1", ttl_hours=24.0)
    cache.save(spark.createDataFrame(ROWS, SCHEMA), now_s=1.0)
    assert cache.load().count() == 3

    # simulate a crash mid-save: torn v2 exists without a marker
    torn = spark.createDataFrame(ROWS[:1], SCHEMA)
    torn.write.mode("overwrite").parquet(f"{path}/v2")
    fs.delete(spark, f"{path}/v2/{fs.COMMIT_MARKER}")
    assert cache.load().count() == 3  # still the committed v1

    # recovery: the next save commits past the torn number
    cache.save(spark.createDataFrame(ROWS[:2], SCHEMA), now_s=2.0)
    assert cache.load().count() == 2


def test_json_source_quarantines_corrupt_records(spark, tmp_path):
    """Corrupt-record quarantine: a malformed line neither kills the
    read nor vanishes — it surfaces as an all-NULL row carrying the
    raw line in the corrupt column, splittable into a quarantine sink
    while clean rows flow on."""
    src = tmp_path / "feed.jsonl"
    src.write_text(
        '{"id": "m1", "name": "Good One"}\n'
        '{"id": "m2", "name": "Broken'  # truncated JSON line
        "\n"
        '{"id": "m3", "name": "Good Two"}\n'
    )
    schema = StructType(
        [StructField("id", StringType()), StructField("name", StringType())]
    )
    df = read_json_source(spark, str(src), schema, corrupt_col="_corrupt")
    rows = df.collect()
    assert len(rows) == 3
    clean = df.filter(F.col("_corrupt").isNull()).drop("_corrupt")
    quarantine = df.filter(F.col("_corrupt").isNotNull())
    assert {r.id for r in clean.collect()} == {"m1", "m3"}
    q = quarantine.collect()
    assert len(q) == 1 and q[0].id is None and "Broken" in q[0]._corrupt
    # without corrupt_col the schema is untouched (back-compat)
    assert read_json_source(spark, str(src), schema).columns == ["id", "name"]


def test_orc_roundtrip_pushdown_and_partition_pruning(spark, tmp_path):
    """ORC source/sink: schema-enforced roundtrip, predicate pushdown
    into the stripe scan, and hive-partitioned layout pruning."""
    from cdc_makanmana_spark.sources.readers import (
        read_columnar_source,
        write_columnar_sink,
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    df = spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 4).cast("long").alias("bucket"),
        F.concat(F.lit("row-"), F.col("id")).alias("name"),
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("bucket", LongType()),
            StructField("name", StringType()),
        ]
    )

    flat = str(tmp_path / "flat_orc")
    write_columnar_sink(df, flat, fmt="orc")
    back = read_columnar_source(spark, flat, schema, fmt="orc")
    assert back.count() == 1000 and sorted(back.columns) == ["bucket", "id", "name"]

    filtered = back.filter(F.col("id") < 10).select("id")
    plan = filtered._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PushedFilters: [IsNotNull(id), LessThan(id,10)]" in plan
    read_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "name" not in read_line  # column pruning reaches the ORC scan

    part = str(tmp_path / "part_orc")
    write_columnar_sink(df, part, fmt="orc", partition_by=["bucket"])
    pdf = read_columnar_source(spark, part, schema, fmt="orc")
    pruned = pdf.filter(F.col("bucket") == 2)
    pplan = pruned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert pruned.count() == 250
    # partition predicate becomes directory pruning, not a data filter
    assert "PartitionFilters: [isnotnull(bucket" in pplan

    with pytest.raises(ValueError, match="unsupported"):
        write_columnar_sink(df, flat, fmt="avro")


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    from cdc_makanmana_spark.sources.maintenance import compact_parquet

    p = str(tmp_path / "many_small")
    spark.range(0, 10_000).repartition(64).write.parquet(p)
    import os

    before = [f for f in os.listdir(p) if f.endswith(".parquet")]
    assert len(before) == 64

    stats = compact_parquet(spark, p, target_file_bytes=10 * 1024 * 1024)
    assert stats["compacted"] and stats["files"] == 64 and stats["rows"] == 10_000
    after = [f for f in os.listdir(p) if f.endswith(".parquet")]
    assert len(after) == stats["target_files"] < 64
    assert spark.read.parquet(p).count() == 10_000
    # already compact -> no-op
    assert compact_parquet(spark, p, target_file_bytes=10 * 1024 * 1024)["compacted"] is False


def test_compact_parquet_crash_windows_repair(spark, tmp_path):
    """Every interruption point leaves the table recoverable: staged-
    uncommitted is swept; the mid-swap hole is finished from committed
    staging; a hole with no staging rolls back from __old."""
    import os
    import shutil

    from cdc_makanmana_spark import fs
    from cdc_makanmana_spark.sources.maintenance import compact_parquet, repair

    p = str(tmp_path / "tbl")
    spark.range(0, 1000).repartition(16).write.parquet(p)

    # window 1: crash after staging write, before _COMMITTED
    shutil.copytree(p, p + ".__compact_staging")
    assert repair(spark, p) == "swept"
    assert not os.path.exists(p + ".__compact_staging")
    assert spark.read.parquet(p).count() == 1000

    # window 2: crash between the two renames — table dir is the hole,
    # staging is committed
    shutil.copytree(p, p + ".__compact_staging")
    fs.mark_committed(spark, p + ".__compact_staging")
    shutil.move(p, p + ".__compact_old")
    assert repair(spark, p) == "finished_swap"
    assert spark.read.parquet(p).count() == 1000
    assert not os.path.exists(p + ".__compact_old")

    # window 3: hole with only __old (staging never committed)
    shutil.move(p, p + ".__compact_old")
    assert repair(spark, p) == "rolled_back"
    assert spark.read.parquet(p).count() == 1000

    # repair() is what compact_parquet runs first, so a crashed run is
    # healed by simply invoking compaction again (stale staging swept,
    # then this 16-file table compacts to 1)
    shutil.copytree(p, p + ".__compact_staging")
    stats = compact_parquet(spark, p, target_file_bytes=1 << 30)
    assert stats["compacted"] is True and stats["rows"] == 1000
    assert not os.path.exists(p + ".__compact_staging")
    assert spark.read.parquet(p).count() == 1000


def test_compact_parquet_verify_counts_aborts_on_mismatch(spark, tmp_path, monkeypatch):
    """If the staged copy somehow loses rows, the swap must not happen."""
    from cdc_makanmana_spark.sources import maintenance

    p = str(tmp_path / "tbl2")
    spark.range(0, 500).repartition(32).write.parquet(p)

    # simulate a staged copy losing rows: the second count() call in
    # compact_parquet (the staged-copy verification) reports one less
    calls = {"n": 0}
    import pyspark.sql.classic.dataframe as dfmod

    real_count = dfmod.DataFrame.count

    def fake_count(self):
        calls["n"] += 1
        n = real_count(self)
        return n - 1 if calls["n"] == 2 else n

    monkeypatch.setattr(dfmod.DataFrame, "count", fake_count)
    with pytest.raises(RuntimeError, match="compaction aborted"):
        maintenance.compact_parquet(spark, p, target_file_bytes=1 << 30)
    monkeypatch.undo()
    import os

    assert not os.path.exists(p + ".__compact_staging")
    assert spark.read.parquet(p).count() == 500


def test_cluster_conf_profile_shape():
    from cdc_makanmana_spark.session import cluster_conf

    c = cluster_conf(executors=500, cores_per_executor=4)
    assert c["spark.sql.shuffle.partitions"] == str(4 * 500 * 4)
    assert c["spark.dynamicAllocation.maxExecutors"] == "500"
    assert all(isinstance(v, str) for v in c.values())
    assert int(c["spark.sql.files.maxPartitionBytes"]) == 256 * 1024 * 1024


def test_compact_parquet_refuses_partitioned_layout(spark, tmp_path):
    from cdc_makanmana_spark.sources.maintenance import compact_parquet
    from cdc_makanmana_spark.sources.readers import write_columnar_sink

    p = str(tmp_path / "part_tbl")
    df = spark.range(0, 100).select(F.col("id"), (F.col("id") % 4).alias("bucket"))
    write_columnar_sink(df, p, partition_by=["bucket"])
    with pytest.raises(ValueError, match="partition"):
        compact_parquet(spark, p)
    # the partition directories themselves are flat and compactable
    stats = compact_parquet(spark, f"{p}/bucket=1", target_file_bytes=1 << 30)
    assert spark.read.parquet(p).count() == 100


def test_snapshot_cache_stale_when_sidecar_outlives_versions(spark, tmp_path):
    """A fresh sidecar with no committed version dir must report stale
    and refresh — not crash-loop in load() (legacy layout / manual
    cleanup)."""
    from cdc_makanmana_spark import fs
    from cdc_makanmana_spark.sources import SnapshotCache

    cache = SnapshotCache(spark, str(tmp_path / "c"), data_version="v1")
    df = spark.createDataFrame([(1, "a", 0.0, True)], SCHEMA)
    t0 = 1_700_000_000.0
    cache.save(df, now_s=t0)
    # wipe the version dirs, keep the sidecar
    for n in fs.list_names(spark, cache.path, dirs_only=True):
        fs.delete(spark, f"{cache.path}/{n}", recursive=True)
    assert cache.is_fresh(now_s=t0 + 60) is False
    refreshed = []

    def refresh():
        refreshed.append(1)
        return df

    out = cache.load_or_refresh(refresh, now_s=t0 + 60)
    assert out.count() == 1 and refreshed == [1]


def test_snapshot_cache_retention_keeps_committed_not_torn(spark, tmp_path):
    """The keep-2 window counts COMMITTED versions: a torn dir from a
    crashed save is swept and must not evict the real prior version."""
    from cdc_makanmana_spark import fs
    from cdc_makanmana_spark.sources import SnapshotCache

    cache = SnapshotCache(spark, str(tmp_path / "c"), data_version="v1")
    df = spark.createDataFrame([(1, "a", 0.0, True)], SCHEMA)
    cache.save(df, now_s=1.0)   # v1 committed
    cache.save(df, now_s=2.0)   # v2 committed
    # simulate a crashed save: torn v3 (renamed, never marked)
    df.write.mode("overwrite").parquet(f"{cache.path}/v3")
    cache.save(df, now_s=3.0)   # v4 committed; cleanup runs
    names = set(fs.list_names(spark, cache.path, dirs_only=True))
    assert "v3" not in names            # torn dir swept
    assert "v2" in names and "v4" in names   # prior committed kept
    assert "v1" not in names            # older committed dropped


def test_adopt_unmarked_versions_migration(spark, tmp_path):
    """Legacy (pre-marker) version dirs become visible after the
    explicit one-time adoption, and only version-shaped dirs are
    touched."""
    from cdc_makanmana_spark import fs
    from cdc_makanmana_spark.sources import SnapshotCache

    root = str(tmp_path / "legacy")
    df = spark.createDataFrame([(1, "a", 0.0, True)], SCHEMA)
    df.write.parquet(f"{root}/v1")
    df.write.parquet(f"{root}/v2")
    df.write.parquet(f"{root}/_staging_v3")  # must NOT be adopted
    fs.write_text(
        spark,
        f"{root}/_cache_meta.json",
        '{"count": 1, "last_update_s": 1700000000.0, "data_version": "v1", "version": 2}',
    )
    cache = SnapshotCache(spark, root, data_version="v1")
    assert cache.is_fresh(now_s=1_700_000_060.0) is False  # invisible pre-adoption
    adopted = fs.adopt_unmarked_versions(spark, root)
    assert sorted(a.rsplit("/", 1)[1] for a in adopted) == ["v1", "v2"]
    assert cache.is_fresh(now_s=1_700_000_060.0) is True
    assert cache.load().count() == 1
    assert not fs.is_committed(spark, f"{root}/_staging_v3")


def test_read_text_corpus_whole_files(spark, tmp_path):
    """Whole-file text ingest lands in the documents shape with
    rerun-stable ids, parent-dir source, and the engine's lang-id."""
    from cdc_makanmana_spark.sources.readers import read_text_corpus

    (tmp_path / "shard_a").mkdir()
    (tmp_path / "shard_b").mkdir()
    (tmp_path / "shard_a" / "one.txt").write_text("the quick brown fox with and")
    (tmp_path / "shard_a" / "two.txt").write_text("der schnelle braune fuchs und der")
    (tmp_path / "shard_b" / "three.txt").write_text("table scan filter join")
    (tmp_path / "shard_a" / "skip.json").write_text("not text")

    df = read_text_corpus(spark, str(tmp_path / "*"), glob="*.txt")
    rows = {r["text"]: r for r in df.collect()}
    assert set(df.columns) == {"doc_id", "text", "lang", "source", "n_chars"}
    assert len(rows) == 3  # .json filtered out by the glob
    assert rows["table scan filter join"]["source"] == "shard_b"
    assert rows["the quick brown fox with and"]["lang"] == "en"
    assert rows["der schnelle braune fuchs und der"]["lang"] == "de"
    for r in rows.values():
        assert r["n_chars"] == len(r["text"])
    # ids are a pure function of the path: a second read is identical
    again = {r["text"]: r["doc_id"] for r in read_text_corpus(
        spark, str(tmp_path / "*"), glob="*.txt").collect()}
    assert {t: r["doc_id"] for t, r in rows.items()} == again


def test_read_text_corpus_line_mode(spark, tmp_path):
    from cdc_makanmana_spark.sources.readers import read_text_corpus

    (tmp_path / "d").mkdir()
    (tmp_path / "d" / "a.txt").write_text("line one\nline two\nline one\n")
    df = read_text_corpus(spark, str(tmp_path / "d"), whole_files=False)
    rows = df.collect()
    assert len(rows) == 3
    ids = {}
    for r in rows:
        ids.setdefault(r["text"], set()).add(r["doc_id"])
    # identical repeated lines in one file share an id (documented);
    # distinct lines never collide
    assert len(ids["line one"]) == 1
    assert ids["line one"] != ids["line two"]


def test_snapshot_time_travel(spark, tmp_path):
    """load(version=N) reads a specific committed snapshot while it
    survives the keep-window; torn/pruned versions raise."""
    from cdc_makanmana_spark.sources import SnapshotCache

    cache = SnapshotCache(spark, str(tmp_path / "snap"), data_version="v1")
    cache.save(spark.createDataFrame([(1, "a", 0.0, True)], SCHEMA), now_s=1.0)
    cache.save(spark.createDataFrame([(2, "b", 0.0, True)], SCHEMA), now_s=2.0)
    assert cache.versions() == [1, 2]
    assert cache.load(version=1).collect()[0][0] == 1
    assert cache.load().collect()[0][0] == 2  # default = newest
    cache.save(spark.createDataFrame([(3, "c", 0.0, True)], SCHEMA), now_s=3.0)
    assert cache.versions() == [2, 3]  # v1 swept by the keep-window
    with pytest.raises(FileNotFoundError, match="no committed snapshot v1"):
        cache.load(version=1)


def test_snapshot_cache_load_runs_no_job(spark, tmp_path, jobs_run):
    """A served read resolves the snapshot from its committed schema:
    neither load() nor load(version) runs a footer-inference job, and
    the loaded schema equals the one Spark infers from the files."""
    cache = SnapshotCache(spark, str(tmp_path / "snap"), data_version="v1")
    cache.save(spark.createDataFrame(ROWS, SCHEMA), now_s=1.0)
    snap, n_jobs = jobs_run(cache.load)
    assert n_jobs == 0
    assert jobs_run(lambda: cache.load(version=1))[1] == 0
    assert snap.schema == spark.read.parquet(f"{cache.path}/v1").schema
    assert sorted(snap.collect()) == sorted(spark.createDataFrame(ROWS, SCHEMA).collect())


def test_snapshot_cache_save_counts_from_the_write(spark, tmp_path, jobs_run, monkeypatch):
    """save() returns the true row count, empty frames included, and
    runs no job once the write is done (no count re-read)."""
    from cdc_makanmana_spark import fs

    sc = spark.sparkContext
    commit = fs.commit

    def commit_then_tag(spark_, staged, final):
        commit(spark_, staged, final)
        sc.setJobGroup("after-write", "after-write")

    monkeypatch.setattr(fs, "commit", commit_then_tag)
    cache = SnapshotCache(spark, str(tmp_path / "snap"), data_version="v1")
    wide = spark.range(1000).selectExpr("id", "cast(id AS string) AS name").repartition(3)
    for df, want in [
        (spark.createDataFrame(ROWS, SCHEMA), 3),
        (wide, 1000),
        (wide.filter("id < 0"), 0),
        (spark.createDataFrame([], SCHEMA), 0),
    ]:
        assert jobs_run(lambda: cache.save(df, now_s=1.0))[0] == want
        assert cache.info(now_s=1.0)["count"] == want
        assert cache.load().count() == want
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup("after-write") == []


def test_snapshot_cache_legacy_version_and_per_version_schema(spark, tmp_path):
    """A version saved before the schema file existed (no _schema.json,
    sidecar with only count/last_update_s/data_version/version) still
    loads through load() and load(version) and still reports info().
    Time travel reads each version with its OWN schema, not the
    newest one."""
    from cdc_makanmana_spark import fs

    root = str(tmp_path / "snap")
    legacy = spark.createDataFrame(ROWS, SCHEMA)
    legacy.write.parquet(f"{root}/v1")
    fs.mark_committed(spark, f"{root}/v1")
    fs.write_text(
        spark,
        f"{root}/_cache_meta.json",
        '{"count": 3, "last_update_s": 1700000000.0, "data_version": "v1", "version": 1}',
    )
    cache = SnapshotCache(spark, root, data_version="v1")
    assert not fs.exists(spark, f"{root}/v1/_schema.json")
    assert sorted(cache.load().collect()) == sorted(legacy.collect())
    assert cache.load(version=1).schema == spark.read.parquet(f"{root}/v1").schema
    assert cache.info(now_s=1_700_000_060.0)["count"] == 3

    # v2 drops a column and adds one; v1 keeps its inferred schema
    wider = legacy.drop("halal").withColumn("cuisine", F.array(F.lit("Local")))
    cache.save(wider, now_s=1_700_000_100.0)
    assert cache.load().columns == ["id", "name", "lat", "cuisine"]
    assert cache.load(version=1).columns == ["id", "name", "lat", "halal"]

    # v3 (schema file present) is newest; v2 is read with v2's schema
    cache.save(legacy.select("id"), now_s=1_700_000_200.0)
    assert cache.versions() == [2, 3]
    assert cache.load().columns == ["id"]
    v2 = cache.load(version=2)
    assert v2.schema == spark.read.parquet(f"{root}/v2").schema
    assert sorted(r.id for r in v2.collect()) == [1, 2, 3]


def test_range_sorted_layout_enables_row_group_skipping(spark, tmp_path):
    """The data-skipping property itself, asserted from the parquet
    footers: after write_range_sorted each file's [min, max] range on
    the sort column is (near-)disjoint and row-group stats are tight,
    so a selective filter's scan skips most row groups — and the same
    write WITHOUT the layout produces all-overlapping stats that can
    skip nothing."""
    import pyarrow.parquet as pq

    from cdc_makanmana_spark.sources.layout import write_range_sorted

    df = spark.range(0, 40_000).selectExpr(
        "id", "cast(hash(id) % 10000 as long) as v"
    )
    good = str(tmp_path / "sorted")
    bad = str(tmp_path / "unsorted")
    write_range_sorted(df, good, ["v"], n_files=8)
    df.repartition(8).write.mode("overwrite").parquet(bad)

    def file_ranges(d):
        import os

        out = []
        for f in sorted(os.listdir(d)):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, f)).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                col = next(
                    md.row_group(rg).column(i)
                    for i in range(md.num_columns)
                    if md.row_group(rg).column(i).path_in_schema == "v"
                )
                mins.append(col.statistics.min)
                maxs.append(col.statistics.max)
            out.append((min(mins), max(maxs)))
        return out

    sorted_ranges = sorted(file_ranges(good))
    unsorted_ranges = file_ranges(bad)

    # disjoint (or touching) ranges in the sorted layout
    for (lo1, hi1), (lo2, hi2) in zip(sorted_ranges, sorted_ranges[1:]):
        assert hi1 <= lo2
    # a point-range predicate overlaps exactly one sorted file's range
    probe_lo, probe_hi = 100, 150
    overlapping = [
        1 for lo, hi in sorted_ranges if not (hi < probe_lo or lo > probe_hi)
    ]
    assert len(overlapping) <= 2
    # the hash layout overlaps everywhere — nothing can skip
    assert all(
        not (hi < probe_lo or lo > probe_hi) for lo, hi in unsorted_ranges
    )

    # correctness: both layouts answer the query identically
    q = lambda p: sorted(
        r["id"]
        for r in spark.read.parquet(p).filter(f"v between {probe_lo} and {probe_hi}").collect()
    )
    assert q(good) == q(bad)

def test_scrub_rows_deletes_keys_and_survives_crash(spark, tmp_path):
    """GDPR-style hard delete: blocklisted keys vanish, everything else
    survives byte-for-byte; a crashed scrub heals via repair()."""
    import os
    import shutil

    from cdc_makanmana_spark.sources.maintenance import repair, scrub_rows

    p = str(tmp_path / "users")
    spark.range(0, 1000).selectExpr(
        "id AS user_id", "concat('u', id) AS name"
    ).repartition(8).write.parquet(p)

    keys = spark.createDataFrame(
        [(5,), (17,), (999,), (1234,), (None,)], "user_id long"
    )
    stats = scrub_rows(spark, p, keys, ["user_id"])
    assert stats == {"rows_before": 1000, "rows_scrubbed": 3, "rows_after": 997}
    left = spark.read.parquet(p)
    assert left.count() == 997
    assert left.filter("user_id IN (5, 17, 999)").count() == 0
    assert left.filter("user_id = 4").collect()[0]["name"] == "u4"
    # idempotent: nothing left to scrub -> no rewrite
    stats2 = scrub_rows(spark, p, keys, ["user_id"])
    assert stats2["rows_scrubbed"] == 0 and stats2["rows_after"] == 997
    # crash window: staging committed, table dir is the hole — the
    # NEXT scrub (or repair) finishes the swap before operating
    shutil.copytree(p, p + ".__compact_staging")
    from cdc_makanmana_spark import fs

    fs.mark_committed(spark, p + ".__compact_staging")
    shutil.move(p, p + ".__compact_old")
    assert repair(spark, p) == "finished_swap"
    assert spark.read.parquet(p).count() == 997
    assert not os.path.exists(p + ".__compact_old")


def test_scrub_rows_requires_key_cols_and_flat_layout(spark, tmp_path):
    import pytest as _pytest

    from cdc_makanmana_spark.sources.maintenance import scrub_rows

    p = str(tmp_path / "part_tbl")
    spark.range(0, 100).selectExpr("id", "id % 3 AS k").write.partitionBy(
        "k"
    ).parquet(p)
    keys = spark.createDataFrame([(1,)], "id long")
    with _pytest.raises(ValueError, match="key_cols"):
        scrub_rows(spark, p, keys, [])
    with _pytest.raises(ValueError, match="subdirectories"):
        scrub_rows(spark, p, keys, ["id"])


def test_schema_evolution_declared_schema_spans_file_generations(spark, tmp_path):
    """Schema evolution at the declared-schema boundary: generation-1
    files lack a column added in generation 2, generation-2 files carry
    an extra column the schema doesn't declare. One declared-schema
    read serves both: missing columns surface as NULL, undeclared
    columns are pruned (never scanned), and the scan still pushes
    filters. This is the parquet-level evolution contract the engine
    relies on before reaching for a table format."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from cdc_makanmana_spark.sources.readers import read_columnar_source

    p = str(tmp_path / "evolving")
    spark.range(0, 50).selectExpr("id", "concat('a', id) AS name").write.parquet(p)
    spark.range(50, 80).selectExpr(
        "id", "concat('a', id) AS name", "id * 2 AS score", "'x' AS extra"
    ).write.mode("append").parquet(p)

    declared = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("score", LongType()),
        ]
    )
    df = read_columnar_source(spark, p, declared)
    assert df.columns == ["id", "name", "score"]
    assert df.count() == 80
    # gen-1 rows: score is NULL; gen-2 rows carry it
    assert df.filter("id < 50 AND score IS NOT NULL").count() == 0
    assert df.filter("id >= 50").agg({"score": "min"}).collect()[0][0] == 100
    plan = df.filter("id = 60")._jdf.queryExecution().executedPlan().toString()
    assert "extra" not in plan  # undeclared column never read


def test_zorder_key_rejects_sign_bit_overflow(spark, tmp_path):
    """bits * n_cols > 63 would place high bits at the long's sign
    bit, flipping high-range keys negative so the range sort
    mis-clusters exactly the rows it should cluster — must raise, not
    silently degrade skipping."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from cdc_makanmana_spark.sources.layout import write_zordered, zorder_key

    with _pytest.raises(ValueError, match="63"):
        zorder_key([F.lit(1)] * 4, bits=16)  # 64 bits
    with _pytest.raises(ValueError, match="63"):
        zorder_key([F.lit(1)] * 8, bits=8)   # 64 bits
    assert zorder_key([F.lit(1)] * 3, bits=21) is not None  # 63 bits ok
    df = spark.range(10).selectExpr("id as x", "id as y", "id as z", "id as w")
    with _pytest.raises(ValueError, match="63"):
        write_zordered(df, str(tmp_path / "zo"), ["x", "y", "z", "w"], bits=16)


def test_zorder_layout_clusters_every_listed_dimension(spark, tmp_path):
    """The multi-dimension skipping property, from the parquet
    footers: after write_zordered on (x, y) each file covers a small
    fraction of BOTH value ranges (so min/max pruning works for a
    filter on either column), where a single-column range sort
    clusters only its own column and a hash layout clusters nothing."""
    import os

    import pyarrow.parquet as pq

    from cdc_makanmana_spark.sources.layout import (
        write_range_sorted,
        write_zordered,
    )

    # two independent uniform dimensions
    df = spark.range(0, 40_000).selectExpr(
        "cast(pmod(hash(id), 10000) as long) as x",
        "cast(pmod(hash(id * 7 + 3), 10000) as long) as y",
    )
    zdir, sdir, hdir = (str(tmp_path / d) for d in ("z", "s", "h"))
    write_zordered(df, zdir, ["x", "y"], bits=8, n_files=16)
    write_range_sorted(df, sdir, ["x"], n_files=16)
    df.repartition(16).write.mode("overwrite").parquet(hdir)

    def mean_span(d, col):
        spans = []
        for f in sorted(os.listdir(d)):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, f)).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                c = next(
                    md.row_group(rg).column(i)
                    for i in range(md.num_columns)
                    if md.row_group(rg).column(i).path_in_schema == col
                )
                mins.append(c.statistics.min)
                maxs.append(c.statistics.max)
            spans.append((max(maxs) - min(mins)) / 10000.0)
        return sum(spans) / len(spans)

    # z-order: every dimension clusters (files cover a strict subset
    # of both ranges); 16 files over 2 dims -> ~1/4 of each range,
    # assert with headroom
    assert mean_span(zdir, "x") < 0.55
    assert mean_span(zdir, "y") < 0.55
    # single-column sort: its own column tight, the other unclustered
    assert mean_span(sdir, "x") < 0.15
    assert mean_span(sdir, "y") > 0.9
    # hash layout: nothing clusters
    assert mean_span(hdir, "x") > 0.9
    assert mean_span(hdir, "y") > 0.9
    # the layout is a reshuffle, not a transformation: same rows
    assert spark.read.parquet(zdir).count() == 40_000

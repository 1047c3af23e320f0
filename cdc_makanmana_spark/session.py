"""SparkSession bootstrap with scale-appropriate defaults.

The reference app runs single-threaded in a browser and hand-rolls
chunked execution (reference: src/utils/merchantUtils.ts:37-52); here
partition parallelism replaces chunking and AQE replaces hand-tuning.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def get_spark(app_name: str = "cdc-makanmana-spark") -> SparkSession:
    """Build (or fetch) the session.

    Settings chosen for the 100 TB design point, scaled to local mode:
    - AQE on: runtime partition coalescing, skew-join splitting, and
      dynamic broadcast conversion — the knobs that keep big shuffles
      healthy on a real cluster.
    - Arrow on: every pandas UDF / ``applyInPandas`` path ships
      columnar batches instead of pickled rows.
    - shuffle.partitions sized to cores locally; on a cluster this is
      AQE-coalesced from a deliberately high initial number.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # keep saveAsTable metadata (bucketed layouts, sources/layout.py)
        # out of the caller's cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "cdc-makanmana-warehouse"),
            ),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # the console progress bar shares the terminal line with a
        # caller's own output and garbles line-based filtering of it
        .config("spark.ui.showConsoleProgress", "false")
        # Status-store retention scaled down: the AppStatus/SQL
        # listeners retain up to 100k task rows + 1000 stages + 1000
        # SQL executions EVEN WITH THE UI OFF, and in local mode that
        # lives in the same heap the executors compute in. A long
        # bench session (3 passes x 110 queries x several stages each)
        # otherwise carries tens of MB of dead listener state into
        # old-gen — part of the in-sweep GC tax measured on late
        # queries (r6: q76 64 s in-sweep vs 44.7 s isolated at x100).
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "2000")
        .config("spark.ui.retainedDeadExecutors", "0")
        .config("spark.sql.ui.retainedExecutions", "50")
        # Codegen compile-cache sized to the query surface: the default
        # 100 entries thrash under 111 queries x several codegen units
        # each, so every bench pass RE-COMPILES evicted units (Janino,
        # driver-side, inside the timed window). Measured r8 on a
        # 30-query x 2-pass probe at sf0.1: 830 recompiles during the
        # timed passes at the default vs 2 at 5000, and pass wall
        # 34.0/34.4 s -> 31.3/30.1 s (~10%). The full 111-query sweep
        # thrashes harder — this was the residual "in-sweep tax" the
        # r4/r7 notes kept measuring after cache/listener hygiene. The
        # cache holds generated-class references (~KB each); 5000 is
        # MBs of metaspace, not a memory risk.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    if not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()


def release_materialized(spark: SparkSession) -> int:
    """Unpersist every persisted RDD in the session — the explicit
    job-boundary release for ``materialize``'s ``localCheckpoint``
    blocks (operators/dedup.py:93).

    Checkpoint blocks are NOT dropped by ``spark.catalog.clearCache()``
    (that only covers SQL-cached plans), and GC-driven cleanup is
    unreliable across the py4j boundary: the Python DataFrame must be
    collected, py4j must deliver the detach, the JVM must GC the
    Dataset, and only then does ContextCleaner's weak-ref queue
    unpersist the blocks — measured in-session as stored RDDs
    surviving ``gc.collect()`` + ``System.gc()`` indefinitely, taxing
    every later query's heap (iterative queries in a 100-plan bench
    session ran ~1.8× their fresh-session wall; bench.py calls this
    at each query boundary for exactly that reason).

    CONTRACT: a localCheckpoint's blocks are its ONLY data (lineage is
    truncated), so any DataFrame a prior query returned becomes
    unusable after this call. Call it only when those results are
    dead — a bench/job boundary, a pipeline stage hand-off after the
    sink write, a long-lived service between requests.

    Returns the number of RDDs released.
    """
    jrdds = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    for jrdd in jrdds:
        jrdd.unpersist(False)
    return len(jrdds)


def release_checkpoint(df) -> bool:
    """Unpersist the blocks behind ONE ``localCheckpoint``-ed
    DataFrame (the frame becomes unusable — its lineage was truncated,
    so those blocks were its only data). The targeted sibling of
    ``release_materialized`` for callers that hold the exact frame —
    e.g. a streaming ``foreachBatch`` that checkpoints per micro-batch
    and must not let blocks accumulate for the life of the stream,
    while concurrent queries' persisted RDDs stay untouched.

    Returns True if the frame was checkpoint-backed and was released.
    """
    jplan = df._jdf.queryExecution().analyzed()
    if jplan.getClass().getSimpleName() != "LogicalRDD":
        return False
    jplan.rdd().unpersist(False)
    return True


def cluster_conf(executors: int = 1000, cores_per_executor: int = 8) -> dict[str, str]:
    """Recommended conf overrides for the 100 TB / ~1000-executor
    design point — the knobs whose LOCAL defaults above are deliberate
    scale-downs. Returns a plain dict to feed ``spark-submit --conf``
    or ``SparkSession.builder.config(map=...)``; every value carries
    its rationale here rather than in a wiki:

    - ``shuffle.partitions`` starts at 4× total cores: AQE coalesces
      DOWN cheaply after seeing real map output sizes, but can never
      split an oversized reduce partition (only skew-join handles
      those) — so err high.
    - ``files.maxPartitionBytes`` 256 MB: scan tasks sized so a
      100 TB table yields ~400 k tasks, amortizing scheduler overhead
      without starving parallelism.
    - ``adaptive.advisoryPartitionSizeInBytes`` 128 MB: the
      post-shuffle target AQE coalesces toward — matches the parquet
      write target so shuffle output and storage layout agree.
    - shuffle compression + io encryption left at defaults; tune
      ``spark.shuffle.io.*`` only against observed fetch failures.
    """
    total_cores = executors * cores_per_executor
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(4 * total_cores),
        "spark.sql.files.maxPartitionBytes": str(256 * 1024 * 1024),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(128 * 1024 * 1024),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.dynamicAllocation.enabled": "true",
        "spark.dynamicAllocation.maxExecutors": str(executors),
        "spark.executor.cores": str(cores_per_executor),
    }

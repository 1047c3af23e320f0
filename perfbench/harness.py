"""Shared machinery of the benchmark: per-run isolation, spans, Spark
counters and the run context every workload uses.

Spans are recorded from the benchmark's own files, around the calls into
each layer of ``cdc_makanmana_spark``; nothing inside the program is
instrumented.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# Pinned JVM shape: the engine's defaults (all cores, a 16g heap) would
# make results depend on the host and can exhaust a shared machine.
PINNED_ENV = {"SPARK_GRAFT_CPUS": "4", "SPARK_DRIVER_MEMORY": "2g"}
# Set-ups per run; setup_s is their median. The first includes process
# and JVM start and cold JIT/codegen (~25-30 s on 4 cores); a third
# would push a run past ~60 s, more than a series of runs can afford.
SETUP_REPEATS = 2
# A stuck stream or job must not hold the run past its deadline.
STREAM_TIMEOUT_S = 90


def now() -> float:
    return time.perf_counter()


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def file_stamps(path: str) -> dict[str, tuple[int, int]]:
    """``{file: (inode, size)}`` under ``path`` — compared before and
    after an operation to find the bytes it wrote."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_ino, st.st_size)
    return out


def written_bytes(before: dict, after: dict) -> int:
    """Bytes of the files in ``after`` that are new or replaced."""
    return sum(s for p, (ino, s) in after.items() if before.get(p, (None, None))[0] != ino)


def tree_bytes(path: str) -> int:
    return sum(size for _, size in file_stamps(path).values())


# ---- per-run isolation ---------------------------------------------------


class RunDirs:
    """A fresh root under the checkout for everything one run writes:
    Spark local dirs, warehouse, artifact store, temp files, inputs,
    snapshots. Removed at exit, so no run inherits artifacts or snapshot
    versions from an earlier one."""

    def __init__(self, checkout: str, workload: str, seed: int):
        self.base = os.path.join(checkout, ".perfbench_run")
        self.root = os.path.join(self.base, f"{workload}-s{seed}-p{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)
        tmp = self.sub("tmp")
        env = dict(PINNED_ENV)
        env.update(
            SPARK_LOCAL_DIRS=self.sub("spark-local"),
            TMPDIR=tmp,
            # no hsperfdata file in the system temp dir
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # Arrow UDF workers import the package by name
            PYTHONPATH=os.pathsep.join(
                p for p in (checkout, os.environ.get("PYTHONPATH", "")) if p
            ),
        )
        os.environ.update(env)
        tempfile.tempdir = None  # re-read TMPDIR
        self._setup_n = 0

    def sub(self, name: str) -> str:
        p = os.path.join(self.root, name)
        os.makedirs(p, exist_ok=True)
        return p

    def fresh_setup_root(self) -> str:
        """Per-set-up directory; points the artifact store and warehouse
        at it so every set-up builds from cold."""
        self._setup_n += 1
        d = self.sub(f"setup{self._setup_n}")
        os.environ["CDC_ARTIFACT_DIR"] = os.path.join(d, "artifacts")
        os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(d, "warehouse")
        return d

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            os.rmdir(self.base)
        except OSError:
            pass


# ---- spans ---------------------------------------------------------------


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one branch."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": now(),
            "end": None,
        }
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = now()
            self._stack.pop()

    def total(self, op: int, name: str) -> float:
        """Seconds spent in spans called ``name`` within op ``op``."""
        return sum(
            s["end"] - s["start"] for s in self.spans if s["op"] == op and s["name"] == name
        )

    def dump(self, path: str, meta: dict, ops: list) -> None:
        """Write the run's host record, the traced ops with their
        counters, and every span."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"meta": meta, "ops": ops, "spans": self.spans}, f)


SPAN_KEYS = ("id", "name", "op", "parent", "start", "end")


# ---- Spark counters --------------------------------------------------------

COUNTER_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_ms",
)


class SparkCounters:
    """Reads the status store for every job since the last harvest.

    The session keeps only 100 jobs and 200 stages, so a harvest runs
    right after each operation, outside its timed region, and first
    drains the listener bus so the store has seen the jobs' end events.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.skip()

    def skip(self) -> None:
        """Ignore every job so far (those of untraced cycles)."""
        self.sc.listenerBus().waitUntilEmpty()
        jobs = self.store.jobsList(None)
        self.watermark = max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def harvest(self) -> dict[str, dict[str, int]]:
        """``{job_group: counters}`` for jobs started since the last
        harvest; streaming micro-batch jobs carry their query's group."""
        self.sc.listenerBus().waitUntilEmpty()
        jobs = self.store.jobsList(None)
        out: dict[str, dict[str, int]] = {}
        top = self.watermark
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self.watermark:
                continue
            top = max(top, jid)
            grp = j.jobGroup()
            group = grp.get() if grp.isDefined() else ""
            c = out.setdefault(group, dict.fromkeys(COUNTER_KEYS, 0))
            c["jobs"] += 1
            c["failed_tasks"] += j.numFailedTasks()
            sids = j.stageIds()
            for k in range(sids.size()):
                try:
                    st = self.store.lastStageAttempt(sids.apply(k))
                except Py4JJavaError:  # stage evicted or never attempted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += st.numCompleteTasks()
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                c["gc_ms"] += st.jvmGcTime()
        self.watermark = top
        return out


def sum_counters(groups: dict[str, dict[str, int]], prefix: str = "") -> dict[str, int]:
    total = dict.fromkeys(COUNTER_KEYS, 0)
    for g, c in groups.items():
        if g.startswith(prefix):
            for k in COUNTER_KEYS:
                total[k] += c[k]
    return total


# ---- the run -------------------------------------------------------------


@dataclass
class Op:
    kind: str
    wall_s: float
    cycle: int
    traced: bool
    ok: bool = True
    detail: dict = field(default_factory=dict)


class Ctx:
    """State shared by a workload and the run loop."""

    def __init__(self, args, tracer: Tracer):
        self.seed = args.seed
        self.smoke = args.smoke
        self.trace = bool(args.trace)
        self.tracer = tracer
        self.spark = None
        self.counters: SparkCounters | None = None
        self.setup_root = ""
        self.setup_s: list[float] = []
        self.setup_layers: list[dict] = []

    def new_session(self):
        from cdc_makanmana_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def calibrate(spark) -> float:
    """bench.py's host-speed job (shuffle + aggregate over spark.range, no
    IO, no engine code), run once: tells host drift from regression."""
    t0 = now()
    spark.range(0, 50_000_000, 1, 32).selectExpr("id % 1000 AS k", "id AS v").groupBy(
        "k"
    ).sum("v").write.format("noop").mode("overwrite").save()
    return now() - t0


def stop_jvm() -> None:
    """Stop the session and end the JVM the gateway launched, waiting for
    it (its Python workers are its children and end with it). The JVM is
    ended even when the graceful stop fails, e.g. after a SIGTERM landed
    in the middle of a py4j call."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gw.shutdown()
    finally:
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

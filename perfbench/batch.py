"""``batch``: a pipeline user computing a slice of the declared surface.

Each operation builds one declared query (``fn(spark, sf)``) and runs it
to the noop sink, as bench.py does, followed by the job-boundary release
(``clearCache`` + ``release_materialized``). A cycle is one pass over
``BATCH_QUERIES`` in declaration order. Every set-up uses a fresh
artifact directory, so ``setup_s`` carries the cold artifact builds and
codegen, and the timed passes are served warm.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb

import data
from harness import Op, mean, median, now, sum_counters, tree_bytes

SF = 0.01
SMOKE_SF = 0.001
# The full surface (112 queries) takes ~50 s warm and ~130 s cold at
# sf0.01 on 4 cores, beyond one run's budget. This slice keeps what the
# planned work moves: build-time jobs (q23, q37), the LSH shuffle (q23),
# both artifact stores (q102 `_artifact`, q104 `_streamed_artifact`; q37
# builds q24's n-gram pair join as its artifact during set-up) and plain
# relational plans (q02, q03, q10) as the per-job floor. q01 is left out: its DECIMAL sums are cast to
# double before round(2), and at an exact half-cent the engine and the
# DuckDB oracle round apart (seed 14: sum_disc_price 269295880.78 vs
# .77), so it fails on some seeds.
BATCH_QUERIES = [
    "q02_top_orders_by_segment",
    "q03_region_nation_revenue",
    "q10_nation_setops",
    "q23_minhash_lsh_neardup",
    "q37_duplicate_clusters",
    "q102_rangesorted_event_scan",
    "q104_stream_rollup_serve",
]


def norm_value(v) -> str:
    """Canonical text of one value: full float precision, naive ISO
    timestamps, lists element-wise (the oracle diff's canonicalizer)."""
    import datetime

    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_value(x) for x in v) + "]"
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result, columns taken by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("|".join(norm_value(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def committed_artifacts() -> set[str]:
    """Directories under the artifact root that carry the commit marker."""
    root = os.environ["CDC_ARTIFACT_DIR"]
    if not os.path.isdir(root):
        return set()
    return {d for d in os.listdir(root) if os.path.exists(os.path.join(root, d, "_COMMITTED"))}


class Batch:
    def __init__(self, ctx):
        from cdc_makanmana_spark.plans.queries import QUERIES

        self.ctx = ctx
        self.sf = SMOKE_SF if ctx.smoke else SF
        missing = [q for q in BATCH_QUERIES if q not in QUERIES]
        if missing:
            raise KeyError(f"queries not declared: {missing}")
        self.queries = {q: QUERIES[q] for q in BATCH_QUERIES}
        self.artifact_calls: list[tuple[float, bool]] = []
        self.ops: list[Op] = []
        if ctx.trace:
            self._wrap_artifact_store()

    def _wrap_artifact_store(self) -> None:
        """Time every top-level call into the artifact store; a call built
        when the set of committed artifact directories changed."""
        from cdc_makanmana_spark.plans import queries as qmod

        calls = self.artifact_calls
        depth = [0]  # an artifact built inside another's build counts once

        def timed(fn):
            def wrapper(*a, **kw):
                if depth[0]:
                    return fn(*a, **kw)
                before = committed_artifacts()
                depth[0] += 1
                t0 = now()
                try:
                    return fn(*a, **kw)
                finally:
                    depth[0] -= 1
                    calls.append((now() - t0, committed_artifacts() != before))

            return wrapper

        for name in ("_artifact", "_streamed_artifact"):
            fn = getattr(qmod, name, None)
            if fn is None:
                self.ctx.log(f"plans.queries.{name} not found: artifacts.build_s omits it")
            else:
                setattr(qmod, name, timed(fn))

    # ---- set-up -----------------------------------------------------------

    def setup(self) -> None:
        """Fresh inputs and artifact store, then one cold pass over the
        queries: the artifact builds and first-call codegen. The pass
        collects each result for ``check`` (a second, warm pass just to
        verify would not fit the run's time budget)."""
        self.sf_dir = data.write_relational(
            self.ctx.seed, self.sf, os.path.join(self.ctx.setup_root, "sf")
        )
        self.artifact_calls.clear()
        self.results = {}
        for name, fn in self.queries.items():
            df = fn(self.ctx.spark, self.sf_dir)
            self.results[name] = (df.columns, [tuple(r) for r in df.collect()])
            self._release()
        self.ctx.setup_layers.append(
            {
                "artifacts.build_s": sum(t for t, built in self.artifact_calls if built),
                "artifacts.dirs": len(committed_artifacts()),
                "artifacts.bytes": tree_bytes(os.environ["CDC_ARTIFACT_DIR"]),
            }
        )

    def _release(self) -> int:
        from cdc_makanmana_spark.session import release_materialized

        self.ctx.spark.catalog.clearCache()
        return release_materialized(self.ctx.spark)

    # ---- the loop -----------------------------------------------------------

    def cycle(self, k: int, traced: bool, next_op) -> list[Op]:
        ctx, spark = self.ctx, self.ctx.spark
        tr, sc = ctx.tracer, spark.sparkContext
        ops = []
        for name, fn in self.queries.items():
            op_id = next_op()
            tr.op = op_id
            with tr.span("op", kind=name):
                t0 = now()
                try:
                    if traced:
                        sc.setJobGroup(f"op{op_id}.build", name)
                    with tr.span("plans.build"):
                        df = fn(spark, self.sf_dir)
                    if traced:
                        sc.setJobGroup(f"op{op_id}.exec", name)
                        with tr.span("spark.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span("spark.exec"):
                        df.write.format("noop").mode("overwrite").save()
                    ok = True
                except Exception as e:  # a failed query is counted, not fatal
                    ctx.log(f"batch {name} failed: {e!r}")
                    ok = False
                wall = now() - t0
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
            released = self._release()
            op = Op(name, wall, k, traced, ok)
            op.detail.update(id=op_id, released=released)
            if traced:
                op.detail["counters"] = ctx.counters.harvest()
            ops.append(op)
        self.ops.extend(ops)
        return ops

    # ---- output checks ----------------------------------------------------

    def after_cycle(self, ops: list[Op]) -> None:
        """Results are checked once, in ``check``."""

    def check(self) -> None:
        """Per query: row count and order-insensitive hash of the last
        set-up's result against the DuckDB oracle on the same inputs (row
        count > 0 only where a query declares no oracle). A failing query
        fails each of its timed ops."""
        from cdc_makanmana_spark.plans.queries import ORACLE_SQL
        from cdc_makanmana_spark.tables import TABLE_NAMES

        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        bad = set()
        for name, (cols, rows) in self.results.items():
            if name not in ORACLE_SQL:
                problem = None if rows else "no rows"
            else:
                res = con.execute(ORACLE_SQL[name])
                d_cols, d_rows = [d[0] for d in res.description], res.fetchall()
                if sorted(cols) != sorted(d_cols) or len(rows) != len(d_rows):
                    problem = f"{len(rows)} rows {sorted(cols)} vs oracle {len(d_rows)} {sorted(d_cols)}"
                elif table_hash(cols, rows) != table_hash(d_cols, d_rows):
                    problem = "hash differs from oracle"
                else:
                    problem = None
            if problem:
                self.ctx.log(f"batch check: {name}: {problem}")
                bad.add(name)
        con.close()
        for op in self.ops:
            if op.kind in bad:
                op.ok = False

    # ---- per-layer metrics ------------------------------------------------

    def layer_metrics(self, traced: list[Op], first: list[Op]) -> dict[str, float]:
        tr = self.ctx.tracer
        ids = [o.detail["id"] for o in traced]
        layers = {
            "plans.build_s": mean(tr.total(i, "plans.build") for i in ids),
            "plans.build_jobs": mean(
                sum_counters(o.detail["counters"], f"op{o.detail['id']}.build")["jobs"]
                for o in first
            ),
            "spark.plan_s": mean(tr.total(i, "spark.plan") for i in ids),
            "spark.exec_s": mean(tr.total(i, "spark.exec") for i in ids),
            "session.released_rdds": mean(o.detail["released"] for o in first),
            "trace.accounted_frac": median(
                sum(tr.total(i, n) for n in ("plans.build", "spark.plan", "spark.exec"))
                / o.wall_s
                for i, o in zip(ids, traced)
            ),
        }
        for key in ("artifacts.build_s", "artifacts.dirs", "artifacts.bytes"):
            layers[key] = median(s[key] for s in self.ctx.setup_layers)
        return layers

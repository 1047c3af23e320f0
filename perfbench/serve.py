"""``serve``: the app path — one user's requests over a served merchant
snapshot while the operator's change-capture refresh keeps landing.

A closed loop with one client. Each cycle is one refresh followed by one
request of each kind, in a seeded order:

- refresh: land a seeded change set (upserts plus ~5% tombstones over the
  merchant keys) as a parquet file, resume ``upsert_to_parquet`` on the
  same checkpoint with ``availableNow``, run it to completion, and
  republish the served snapshot through ``enrich().resolve_halal()`` →
  ``SnapshotCache.save``; the op spans landed file to committed snapshot;
- text: search + category/halal filter + name sort + first page;
- postal: postal geocode + radius + distance keyset page;
- radius: radius + budget filter + distance label + first page;
- count: search + category filter + count.

Every request resolves the current snapshot through ``SnapshotCache``, as
a long-lived server would. No declared query or build artifact runs here, so
this is the control for changes on the ``batch`` side.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa

import data
from harness import STREAM_TIMEOUT_S, Op, file_stamps, mean, median, now, written_bytes

# the reference serves about 10^4 merchants
N_MERCHANTS = 10_000
N_AREAS = 1_000
CHANGE_ROWS = 400
N_BUCKETS = 16
PAGE = 50
READS = ("text", "postal", "radius", "count")
TERMS = [w for w in data.FOOD_WORDS if " " not in w] + ["house", "stall", "rd"]
SNAPSHOT_VERSION = "merchants-v1"
BASE_COLS = ["id", "name", "address", "postalCode", "type", "LAT", "LON", "businessCategory"]
CHANGE_DDL = (
    "op string, ts timestamp, id string, name string, address string, "
    "postalCode string, type string, LAT double, LON double, "
    "businessCategory string, filters struct<secondary:struct<budgetmeal:boolean>>"
)


def requests_for(seed: int, cycle: int, areas: dict) -> list[dict]:
    """One request of each read kind in a seeded order (cycle -1 is the
    set-up's warm-up)."""
    rng = np.random.default_rng([seed, 10, cycle + 1])
    kinds = list(READS)
    rng.shuffle(kinds)
    out = []
    for kind in kinds:
        if kind in ("text", "count"):
            out.append(
                {
                    "kind": kind,
                    "term": str(rng.choice(TERMS)),
                    "category": str(rng.choice(sorted(set(data.CATEGORIES)))),
                    "halal": bool(rng.random() < 0.3) if kind == "text" else False,
                }
            )
        elif kind == "postal":
            a = int(rng.integers(0, len(areas["postal"])))
            out.append(
                {
                    "kind": kind,
                    "postal": str(areas["postal"][a]),
                    "lat": float(areas["lat"][a]),
                    "lon": float(areas["lon"][a]),
                    "radius": float(rng.uniform(1.0, 3.0)),
                }
            )
        else:
            out.append(
                {
                    "kind": kind,
                    "lat": float(rng.uniform(data.LAT0 + 0.03, data.LAT1 - 0.03)),
                    "lon": float(rng.uniform(data.LON0 + 0.03, data.LON1 - 0.03)),
                    "radius": float(rng.uniform(1.0, 3.0)),
                }
            )
    return out


def haversine_sql(lat: float, lon: float) -> str:
    """The engine's haversine (functions/geo.py) as DuckDB SQL."""
    return (
        f"2.0 * 6371.0 * asin(sqrt(pow(sin((radians(LAT) - radians({lat})) / 2), 2)"
        f" + cos(radians({lat})) * cos(radians(LAT))"
        f" * pow(sin((radians(LON) - radians({lon})) / 2), 2)))"
    )


class Serve:
    def __init__(self, ctx):
        self.ctx = ctx
        self.n = 2_000 if ctx.smoke else N_MERCHANTS
        self.change_rows = 40 if ctx.smoke else CHANGE_ROWS
        self.pending: list[tuple[dict, object, Op]] = []

    # ---- set-up -----------------------------------------------------------

    def setup(self) -> None:
        """Generate the merchant, halal and postal tables, load the full
        table through the upsert stream as change set 0, publish the
        first snapshot, and send one request of each kind."""
        from cdc_makanmana_spark.sources.cache import SnapshotCache

        ctx, spark = self.ctx, self.ctx.spark
        root = ctx.setup_root
        self.areas = data.postal_areas(ctx.seed, N_AREAS)
        merchants = data.merchant_rows(ctx.seed, np.arange(self.n), self.areas, salt=0)
        self.halal_path = data.write_parquet(
            data.halal_establishments(ctx.seed, merchants), f"{root}/in/halal.parquet"
        )
        self.postal_dim = spark.read.parquet(
            data.write_parquet(pa.table(self.areas), f"{root}/in/postal.parquet")
        )
        self.landing = f"{root}/landing"
        self.target = f"{root}/silver"
        self.checkpoint = f"{root}/checkpoint"
        self.cache = SnapshotCache(spark, f"{root}/snapshot", SNAPSHOT_VERSION)
        self.k = 0
        self.land(data.change_set(ctx.seed, 0, self.n, self.n, self.areas, 0.0))
        self.refresh()
        for req in requests_for(ctx.seed, -1, self.areas):
            self.read(req)

    # ---- refresh ------------------------------------------------------------

    def land(self, table) -> int:
        """Write a change set under a staging name, then rename it into
        the landing directory so the file source never sees a partial
        file. Returns its size in bytes."""
        root = self.ctx.setup_root
        staged = data.write_parquet(table, f"{root}/staging/c{self.k:05d}.parquet")
        final = f"{self.landing}/c{self.k:05d}.parquet"
        os.makedirs(self.landing, exist_ok=True)
        os.rename(staged, final)
        self.k += 1
        return os.path.getsize(final)

    def refresh(self):
        """Resume the upsert stream to completion, then republish.
        Returns the finished StreamingQuery."""
        from cdc_makanmana_spark.engine import MakanmanaEngine
        from cdc_makanmana_spark.streaming.cdc import read_upsert_stream, upsert_to_parquet

        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span("streaming.merge"):
            q = upsert_to_parquet(
                read_upsert_stream(spark, self.landing, CHANGE_DDL, fmt="parquet"),
                self.target,
                ["id"],
                ts_col="ts",
                checkpoint_dir=self.checkpoint,
                n_buckets=N_BUCKETS,
                retain_tombstones=True,
            )
            if not q.awaitTermination(STREAM_TIMEOUT_S):
                q.stop()
                raise TimeoutError("upsert stream did not finish")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        with tr.span("engine.publish"):
            served = (
                spark.read.parquet(self.target)
                .filter("op <> 'delete'")
                .drop("op", "ts", "__bucket")
            )
            df = (
                MakanmanaEngine(served)
                .enrich()
                .resolve_halal(spark.read.parquet(self.halal_path))
                .df
            )
        with tr.span("sources.cache_save"):
            self.cache.save(df)
        return q

    # ---- reads --------------------------------------------------------------

    def read(self, req: dict):
        from cdc_makanmana_spark.engine import MakanmanaEngine

        tr = self.ctx.tracer
        with tr.span("sources.cache_resolve"):
            snap = self.cache.load()
        with tr.span("engine.build"):
            eng = MakanmanaEngine(snap)
            kind = req["kind"]
            if kind == "text":
                eng = (
                    eng.search(req["term"])
                    .filter(category=req["category"], halal_only=req["halal"])
                    .sort("name")
                    .page(0, PAGE)
                )
            elif kind == "postal":
                eng = eng.search(
                    req["postal"], postal_dim=self.postal_dim, radius_km=req["radius"]
                ).page_after(None, by="distance", limit=PAGE)
            elif kind == "radius":
                eng = (
                    eng.radius(req["lat"], req["lon"], req["radius"])
                    .filter(budget_only=True)
                    .with_distance_label()
                    .page(0, PAGE)
                )
            else:
                eng = eng.search(req["term"]).filter(category=req["category"])
        with tr.span("engine.collect"):
            if kind == "count":
                return eng.count()
            return [r.asDict(recursive=True) for r in eng.df.collect()]

    # ---- the loop -----------------------------------------------------------

    def _op(self, kind: str, k: int, traced: bool, next_op, fn) -> tuple[Op, object]:
        ctx = self.ctx
        op_id = next_op()
        ctx.tracer.op = op_id
        with ctx.tracer.span("op", kind=kind):
            t0 = now()
            try:
                res, ok = fn(), True
            except Exception as e:  # a failed op is counted, not fatal
                ctx.log(f"serve {kind} failed: {e!r}")
                res, ok = None, False
            wall = now() - t0
        op = Op(kind, wall, k, traced, ok)
        op.detail["id"] = op_id
        return op, res

    def cycle(self, k: int, traced: bool, next_op) -> list[Op]:
        ctx = self.ctx
        landed = self.land(
            data.change_set(ctx.seed, self.k, self.n, self.change_rows, self.areas)
        )
        before = file_stamps(ctx.setup_root) if traced else None
        op, query = self._op("refresh", k, traced, next_op, self.refresh)
        op.detail["landed_bytes"] = landed
        if traced:
            op.detail["counters"] = ctx.counters.harvest()
            op.detail["written_bytes"] = written_bytes(before, file_stamps(ctx.setup_root))
            op.detail["progress"] = [
                p["durationMs"]
                for p in (query.recentProgress if query is not None else [])
                if p["numInputRows"] > 0
            ]
        ops = [op]
        self.pending = []
        for req in requests_for(ctx.seed, k, self.areas):
            op, res = self._op(req["kind"], k, traced, next_op, lambda: self.read(req))
            if traced:
                op.detail["counters"] = ctx.counters.harvest()
            self.pending.append((req, res, op))
            ops.append(op)
        return ops

    # ---- output checks ----------------------------------------------------

    def after_cycle(self, ops: list[Op]) -> None:
        """Checks against the cycle's committed snapshot, outside the
        timed cycle: the snapshot equals the latest state recomputed from
        every landed change set (tombstones included), and every response
        satisfies its request and matches a DuckDB recomputation."""
        snap = f"{self.cache.path}/v{max(self.cache.versions())}"
        con = duckdb.connect()
        try:
            con.execute(f"CREATE TABLE snap AS SELECT * FROM read_parquet('{snap}/*.parquet')")
            if ops[0].ok:
                self._fail(ops[0], self._check_snapshot(con), "snapshot")
            for req, res, op in self.pending:
                if op.ok:
                    self._fail(op, self._check_read(con, req, res), req)
        finally:
            con.close()

    def _fail(self, op: Op, problem: str | None, what) -> None:
        if problem:
            op.ok = False
            self.ctx.log(f"serve check failed ({what}): {problem}")

    def _check_snapshot(self, con) -> str | None:
        cols = ", ".join(BASE_COLS) + ", filters.secondary.budgetmeal AS budget"
        expected = f"""
            SELECT {cols} FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY id ORDER BY ts DESC, (op = 'delete') DESC) AS rn
                FROM read_parquet('{self.landing}/*.parquet'))
            WHERE rn = 1 AND op <> 'delete'"""
        served = f"SELECT {cols} FROM snap"
        n_exp = con.execute(f"SELECT count(*) FROM ({expected})").fetchone()[0]
        n_srv = con.execute(f"SELECT count(*) FROM ({served})").fetchone()[0]
        diff = con.execute(
            f"SELECT count(*) FROM (({expected}) EXCEPT ALL ({served}))"
        ).fetchone()[0]
        if n_exp != n_srv or diff:
            return f"{n_srv} served rows vs {n_exp} expected, {diff} differ"
        return None

    def _check_read(self, con, req: dict, res) -> str | None:
        kind = req["kind"]
        if kind in ("text", "count"):
            t = req["term"].lower().replace("'", "''")
            where = (
                f"(contains(lower(name), '{t}') OR contains(lower(postalCode), '{t}')"
                f" OR contains(lower(address), '{t}') OR contains(lower(type), '{t}')"
                f" OR contains(lower(businessCategory), '{t}')"
                f" OR len(list_filter(cuisine, x -> contains(lower(x), '{t}'))) > 0)"
                f" AND type = '{req['category']}'"
            )
            if kind == "count":
                want = con.execute(f"SELECT count(*) FROM snap WHERE {where}").fetchone()[0]
                return None if res == want else f"count {res} != {want}"
            if req["halal"]:
                where += " AND isHalal"
            if len(res) > PAGE:
                return f"{len(res)} rows > page size"
            for r in res:
                hay = [r["name"], r["postalCode"], r["address"], r["type"], r["businessCategory"]]
                if not any(t in (h or "").lower() for h in hay + list(r["cuisine"] or [])):
                    return f"term {t!r} absent from {r['id']}"
                if r["type"] != req["category"] or (req["halal"] and not r["isHalal"]):
                    return f"filter violated by {r['id']}"
            names = [r["name"] for r in res]
            if names != sorted(names):
                return "not sorted by name"
            want = [
                x[0]
                for x in con.execute(
                    f"SELECT name FROM snap WHERE {where} ORDER BY name LIMIT {PAGE}"
                ).fetchall()
            ]
            return None if names == want else "page differs from DuckDB"
        dist = haversine_sql(req["lat"], req["lon"])
        where = f"{dist} <= {req['radius']}"
        if kind == "radius":
            where += " AND filters.secondary.budgetmeal"
        if len(res) > PAGE:
            return f"{len(res)} rows > page size"
        for r in res:
            if r["distance_km"] is None or r["distance_km"] > req["radius"]:
                return f"{r['id']} outside radius"
            if kind == "radius" and not (
                r["filters"]["secondary"]["budgetmeal"] and r["distance_label"]
            ):
                return f"{r['id']} violates budget filter or lacks a label"
        keys = [(r["distance_km"], r["name"], r["id"]) for r in res]
        if kind == "postal" and keys != sorted(keys):
            return "not in keyset order"
        if [k[0] for k in keys] != sorted(k[0] for k in keys):
            return "not sorted by distance"
        order = f"{dist}, name, id" if kind == "postal" else dist
        want = [
            x[0]
            for x in con.execute(
                f"SELECT id FROM snap WHERE {where} ORDER BY {order} LIMIT {PAGE}"
            ).fetchall()
        ]
        return None if [r["id"] for r in res] == want else "page differs from DuckDB"

    def check(self) -> None:
        """Every check ran per cycle in ``after_cycle``."""

    # ---- per-layer metrics ------------------------------------------------

    def layer_metrics(self, traced: list[Op], first: list[Op]) -> dict[str, float]:
        tr = self.ctx.tracer
        reads = [o for o in traced if o.kind != "refresh"]
        refreshes = [o for o in traced if o.kind == "refresh"]

        def per_op_ms(ops, span):
            return mean(tr.total(o.detail["id"], span) for o in ops) * 1000

        def kind_p50(kind):
            return median(o.wall_s for o in reads if o.kind == kind) * 1000

        def progress_ms(key):
            return mean(sum(p.get(key, 0) for p in o.detail["progress"]) for o in refreshes)

        def accounted(o, spans):
            return sum(tr.total(o.detail["id"], s) for s in spans) / o.wall_s

        landed = sum(o.detail["landed_bytes"] for o in refreshes)
        written = sum(o.detail["written_bytes"] for o in refreshes)
        read_spans = ("sources.cache_resolve", "engine.build", "engine.collect")
        refresh_spans = ("streaming.merge", "engine.publish", "sources.cache_save")
        return {
            "engine.build_ms": per_op_ms(reads, "engine.build"),
            "engine.collect_ms": per_op_ms(reads, "engine.collect"),
            "engine.jobs_per_op": mean(
                sum(c["jobs"] for c in o.detail["counters"].values())
                for o in first
                if o.kind != "refresh"
            ),
            "engine.text_p50_ms": kind_p50("text"),
            "engine.postal_p50_ms": kind_p50("postal"),
            "engine.radius_p50_ms": kind_p50("radius"),
            "engine.publish_ms": per_op_ms(refreshes, "engine.publish"),
            "sources.cache_resolve_ms": per_op_ms(reads, "sources.cache_resolve"),
            "sources.cache_save_ms": per_op_ms(refreshes, "sources.cache_save"),
            "streaming.merge_ms": per_op_ms(refreshes, "streaming.merge"),
            "streaming.add_batch_ms": progress_ms("addBatch"),
            "streaming.planning_ms": progress_ms("queryPlanning"),
            "streaming.wal_commit_ms": progress_ms("walCommit"),
            "fs.bytes_written": mean(o.detail["written_bytes"] for o in refreshes),
            "fs.write_amp": written / landed if landed else 0.0,
            "trace.accounted_frac": median(
                accounted(o, refresh_spans if o.kind == "refresh" else read_spans)
                for o in traced
            ),
        }

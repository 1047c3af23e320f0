"""One benchmark for the user paths of cdc_makanmana_spark: ``serve`` (app
reads while the change-capture refresh lands) and ``batch`` (declared
queries to the noop sink).

    python3 perfbench/run.py --workload {serve,batch} --seed N \
        --seconds S --trace {0,1} [--smoke]

Run from the root of a checkout. Each run is one process with a fresh
temporary root under ``.perfbench_run/`` (removed at exit) and a pinned
JVM shape (4 cores, 2g heap). It sets up the workload twice, each time
from a new Spark session and fresh directories, and reports the median
(the mean of the cold and the warm set-up) as ``setup_s``. Then it runs
whole cycles of the workload until ``S`` seconds of cycles, and at least
two cycles, have been timed, checks every output, and prints one JSON
line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` cycles alternate untraced and traced, the metrics are the
per-layer ones (``layers.json``), and the spans are written to
``.perfbench_traces/``. ``--smoke`` shrinks every input for a quick
check of the command itself. A line before the result records the host
(nproc, pinned settings, seed, calibration).
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, CHECKOUT)

# Fail before any output when the program under test is absent.
import cdc_makanmana_spark  # noqa: E402,F401

import harness  # noqa: E402
from batch import Batch  # noqa: E402
from harness import PINNED_ENV, SETUP_REPEATS, Ctx, RunDirs, Tracer, calibrate, median, now  # noqa: E402
from serve import Serve  # noqa: E402

WORKLOADS = {"serve": Serve, "batch": Batch}
END_TO_END = {"setup_s": "s", "cycle_s": "s", "op_p50_ms": "ms"}
# Cycles that may start after this much wall time: keeps a run inside
# its 180 s limit on a slow host.
LAST_CYCLE_START_S = 120.0


def load_layers() -> dict[str, dict]:
    with open(os.path.join(HERE, "layers.json")) as f:
        return {m["name"]: m for m in json.load(f)["metrics"]}


def parse(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=list(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


def spark_layers(first: list) -> dict[str, float]:
    """Per-op means of the status-store counters over the first traced
    cycle: a fixed, seeded set of operations, so counts repeat exactly."""
    rows = [harness.sum_counters(o.detail["counters"]) for o in first]
    n = max(len(rows), 1)
    return {f"spark.{k}": sum(r[k] for r in rows) / n for k in harness.COUNTER_KEYS}


def typed_median(ops: list) -> float:
    """Median over operation types of each type's median latency. Each
    workload mixes cheap and expensive types; the plain median of the
    mixture sits at the edge of the cheap cluster and jumped by 25%
    between runs, while this one reads the median type's own latency."""
    kinds: dict[str, list[float]] = {}
    for o in ops:
        kinds.setdefault(o.kind, []).append(o.wall_s)
    return median(median(v) for v in kinds.values())


def main(argv=None) -> int:
    args = parse(argv)
    # a terminated run still stops its JVM and removes its run root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    layers_decl = load_layers()
    dirs = RunDirs(CHECKOUT, args.workload, args.seed)
    tracer = Tracer()
    ctx = Ctx(args, tracer)
    try:
        wl = WORKLOADS[args.workload](ctx)
        for i in range(SETUP_REPEATS):
            t0 = _T_START if i == 0 else now()
            ctx.setup_root = dirs.fresh_setup_root()
            ctx.new_session()
            wl.setup()
            ctx.setup_s.append(now() - t0)
            ctx.log(f"setup {i + 1}: {ctx.setup_s[-1]:.2f} s")
        if args.trace:
            ctx.counters = harness.SparkCounters(ctx.spark)

        ops, cycles = [], []
        op_counter = iter(range(1 << 30))
        timed, k = 0.0, 0
        # At least two cycles, so every run times the same op mix. Traced
        # runs interleave untraced (even) and traced (odd) cycles; cycle 0
        # still pays first-touch costs of the served state, so the
        # overhead compares traced cycles with untraced cycles 2, 4, ...
        min_cycles = 3 if args.trace else 2
        while (timed < args.seconds or k < min_cycles) and (
            k < min_cycles or now() - _T_START < LAST_CYCLE_START_S
        ):
            traced = bool(args.trace) and k % 2 == 1
            if traced:
                ctx.counters.skip()
            tracer.enabled = traced
            t0 = now()
            cyc = wl.cycle(k, traced, lambda: next(op_counter))
            wall = now() - t0
            tracer.enabled = False
            wl.after_cycle(cyc)
            ops.extend(cyc)
            cycles.append((wall, traced))
            timed += wall
            k += 1
        # after the loop: its garbage would otherwise be collected inside
        # the first timed cycle
        calib_s = calibrate(ctx.spark)
        t0 = now()
        wl.check()
        ctx.log(f"{k} cycles timed in {timed:.2f} s; final checks {now() - t0:.2f} s")

        attempted = len(ops)
        failed = sum(not o.ok for o in ops)
        plain = [o for o in ops if not o.traced]
        host = {
            "host": {
                "nproc": os.cpu_count(),
                **{k: os.environ[k] for k in PINNED_ENV},
                "workload": args.workload,
                "seed": args.seed,
                "calib_s": round(calib_s, 4),
                "cycles": len(cycles),
                "ops": attempted,
                "setup_s_each": [round(s, 4) for s in ctx.setup_s],
                "cycle_s_each": [round(w, 4) for w, _ in cycles],
            }
        }
        if args.trace:
            traced_ops = [o for o in ops if o.traced]
            first_cycle = min(o.cycle for o in traced_ops)
            first = [o for o in traced_ops if o.cycle == first_cycle]
            values = dict.fromkeys(layers_decl, 0.0)
            values.update(spark_layers(first))
            values.update(wl.layer_metrics(traced_ops, first))
            values["host.calib_s"] = calib_s
            values["trace.overhead_frac"] = (
                median(o.wall_s for o in traced_ops)
                / median(o.wall_s for o in plain if o.cycle > 0)
                - 1.0
            )
            unknown = set(values) - set(layers_decl)
            if unknown:
                raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
            metrics = {
                n: {"value": float(values[n]), "unit": layers_decl[n]["unit"]}
                for n in layers_decl
            }
            trace_path = os.path.join(
                CHECKOUT, ".perfbench_traces", f"trace-{args.workload}-s{args.seed}.json"
            )
            tracer.dump(
                trace_path,
                host["host"],
                [
                    {"kind": o.kind, "cycle": o.cycle, "wall_s": o.wall_s, "ok": o.ok, **o.detail}
                    for o in traced_ops
                ],
            )
            host["trace_file"] = os.path.relpath(trace_path, CHECKOUT)
        else:
            values = {
                "setup_s": median(ctx.setup_s),
                "cycle_s": median(w for w, tr in cycles if not tr),
                "op_p50_ms": typed_median(plain) * 1000,
            }
            metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}
        print(json.dumps(host), flush=True)
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": metrics,
                }
            ),
            flush=True,
        )
        return 0
    finally:
        harness.stop_jvm()
        dirs.close()


if __name__ == "__main__":
    sys.exit(main())

"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over ``cdc_makanmana_spark.plans.queries`` — the declared
query surface (SURVEY.md §2/§7). The driver runs ``entry(spark)`` as a
smoke check and hash-diffs each ``queries()[name]`` against
``oracle_sql()[name]`` via DuckDB at sf0.01.
"""

from __future__ import annotations

import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# the driver imports this module from a foreign cwd
_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from cdc_makanmana_spark.plans.queries import ORACLE_SQL, QUERIES, flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship(spark, "/root/testdata/sf0.001")


# Driver-window rotation (round 11). The driver's correctness harness
# checks the FIRST 50 entries of queries() in declaration order. This
# round leads with the queries whose PLANS r11 changed — q59
# (exact-tier scans fused into one lazy plan) and q50 (lazy batch
# signatures in the serve path) — plus q49: the r10 verdict's one open
# gap (q49/q50's plans changed via the shared SQL-text minhash/
# band-bucket helpers in r10, but their certificates predate that
# rewrite and neither sat in the r10 window). The remaining 47 slots
# fill stalest-first, which pulls in every r8-and-older certificate
# plus most of the r9 block. New queries (q113+) auto-front via
# _KNOWN_MAX.
_ROTATION_FRONT = [
    "q59_approx_group_sketches",
    "q50_dedup_incremental_batch",
    "q49_benchmark_decontamination",
]


def _num(name: str) -> int:
    return int(name.split("_", 1)[0][1:])


def _certified(rnd: int) -> set[int]:
    """Query numbers whose row in the driver's CORRECTNESS_r<rnd>
    certificate hash-matched the oracle."""
    with open(os.path.join(_HERE, f"CORRECTNESS_r{rnd:02d}.json")) as f:
        rows = json.load(f)
    return {_num(n) for n, r in rows.items() if r.get("hash_match") is True}


# round each query number last earned a driver CORRECTNESS row
_R10_CERTIFIED = _certified(10)
_R9_CERTIFIED = _certified(9) - _R10_CERTIFIED
_R8_CERTIFIED = _certified(8) - _R9_CERTIFIED - _R10_CERTIFIED
# highest query number existing when this rotation was written: anything
# above it is NEW and auto-fronts even if _ROTATION_FRONT wasn't edited —
# a brand-new query must never ship outside the driver's 50-entry window
# (the mechanical tier the r6 review asked to keep)
_KNOWN_MAX = 112


def _rotated(names: list[str]) -> list[str]:
    def staleness(n: str) -> int:  # lower sorts first = stalest
        if _num(n) in _R10_CERTIFIED:
            return 3
        if _num(n) in _R9_CERTIFIED:
            return 2
        if _num(n) in _R8_CERTIFIED:
            return 1
        return 0  # pre-r8 certificates — oldest on the surface

    front = sorted((n for n in names if _num(n) > _KNOWN_MAX), key=_num)
    front += [n for n in _ROTATION_FRONT if n in names and n not in front]
    rest = [n for n in names if n not in front]
    rest.sort(key=lambda n: (staleness(n), _num(n)))
    return front + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    order = _rotated(list(QUERIES))
    return {n: QUERIES[n] for n in order}


def oracle_sql() -> dict[str, str]:
    # same rotated order as queries() in case the driver iterates this
    # dict rather than keying into it
    order = _rotated(list(QUERIES))
    return {n: ORACLE_SQL[n] for n in order if n in ORACLE_SQL}

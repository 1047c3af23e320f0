"""The declared query order is part of the driver contract: the driver
checks the first 50 entries of ``queries()`` in order, and the
rotation in ``__spark_entry__`` is written against the registry's
declaration order. Pin both orders by hash, so that moving code
between modules cannot silently reorder them."""

from __future__ import annotations

import hashlib

import __spark_entry__ as entry
from cdc_makanmana_spark.plans.queries import QUERIES


def _digest(names) -> str:
    return hashlib.sha256("\n".join(names).encode()).hexdigest()


def test_declared_and_rotated_orders_are_pinned():
    assert len(QUERIES) == 112
    assert _digest(QUERIES) == (
        "374a97beca8213bdf3900abb2cb7d29e5c635512d8c21d67a3ff5b9589f78ea6"
    )
    rotated = "3f55002aa96604f55a5f6e2dd2b46cac7d18a7b08b04ba0414a12675441b5163"
    assert _digest(entry.queries()) == rotated
    assert _digest(entry.oracle_sql()) == rotated

"""Data-independent Column expressions, built once per process.

Building an expression tree is Python-side work paid in Py4J round
trips: every ``F.lit``, ``F.col``, operator and list argument is one
or more calls into the JVM, and every dropped Python handle is one
more (the object detach). A rule table such as the cuisine classifier
or the entity-resolution scorer costs hundreds of calls and does not
depend on the data, so rebuilding it for every plan is pure overhead.

``column_bundle`` memoizes a builder of such expressions. A bundle is
whatever the builder returns (a tuple or dict of ``Column`` objects;
``Column`` itself is unhashable, so whole bundles are cached, never
single columns). The key is the builder, its positional parameters
(strings, numbers, tuples) and the JVM gateway, so a relaunched
gateway rebuilds every bundle. A ``Column`` is an unresolved
expression that belongs to no session, so one bundle serves every
session of the gateway, and a plan built from the memo is the plan a
fresh build gives.
"""

from __future__ import annotations

import functools
import threading
from typing import Callable, TypeVar

from pyspark import SparkContext

T = TypeVar("T")

_MEMO: dict[tuple, object] = {}
_LOCK = threading.Lock()


def column_bundle(build: Callable[..., T]) -> Callable[..., T]:
    """Decorator: call ``build(*params)`` once per (params, gateway)."""

    @functools.wraps(build)
    def cached(*params):
        gateway = SparkContext._gateway
        key = (gateway, build, params)
        try:
            return _MEMO[key]
        except KeyError:
            pass
        value = build(*params)
        with _LOCK:
            for stale in [k for k in _MEMO if k[0] is not gateway]:
                del _MEMO[stale]
            return _MEMO.setdefault(key, value)

    return cached

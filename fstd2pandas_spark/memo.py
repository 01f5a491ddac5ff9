"""Per-Spark-context memo for driver-built Column trees and lookup frames.

Building a Column tree on the driver costs one py4j round trip per node
(every ``F.col``, ``F.when``, literal and cast is a JVM call), and the
trees the FST operators build are the same on every call. Columns are
unresolved expressions, so one built tree applies to any DataFrame of
the context that built it; :func:`session_memo` builds each once per
context and hands the same objects back afterwards.

The memo is keyed on the active context's ``(applicationId, startTime)``
— not ``id(SparkContext)``, which CPython can give to a new context
after ``stop()`` and relaunch, reviving references into the old one. A
new context empties the memo, so entries never outlive their context
and do not accumulate in a long-lived process.
"""

from __future__ import annotations

import threading
from typing import Callable, Hashable, TypeVar

from pyspark import SparkContext

T = TypeVar("T")

_token: "tuple[str, int] | None" = None
_memo: dict = {}
#: reentrant: a build may itself read the memo (lookup frames)
_lock = threading.RLock()


def session_memo(key: Hashable, build: Callable[[], T]) -> T:
    """``build()``'s value for ``key``, built once per Spark context
    (every time when no context is running).

    ``key`` must name everything the value depends on besides the
    context (operator name, parameters)."""
    global _token
    sc = SparkContext._active_spark_context
    if sc is None:
        return build()
    tok = (sc.applicationId, sc.startTime)
    with _lock:
        if tok != _token:
            _memo.clear()
            _token = tok
        try:
            return _memo[key]
        except KeyError:
            value = _memo[key] = build()
            return value

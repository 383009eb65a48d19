"""Per-process memo of Column bundles.

In classic PySpark every Column construction is a chain of py4j round trips,
and each `pyspark.sql.functions` call adds about five more to record its
call site.  An operator that rebuilds its expression trees on every call
therefore pays a fixed driver-side cost per query before any data moves
(about 6,400 round trips for one flagship build).  Columns are immutable,
name-resolved trees that any DataFrame may reuse, so each operator builds
its Columns in a module-level builder memoized on the builder's arguments,
and per call issues only its DataFrame calls.  A repeated build with the
same parameters then costs a few hundred round trips; the first build of a
parameter set costs what it did before.

A builder must depend on its (hashable) arguments only: never on a Column a
caller passes in, a DataFrame, or a schema.  Combine those per call.

The memo holds at most 256 entries and clears itself when full (a process
uses few parameter sets; a clear only costs rebuilds).  It also clears when
the py4j gateway changes, because a Column is a handle into the JVM that
built it.
"""

from __future__ import annotations

import functools

from pyspark import SparkContext

__all__ = ["memo", "memo_columns", "clear"]

_MAX_ENTRIES = 256
_entries: dict = {}
_MISSING = object()
_gateway = None


def memo(key, build):
    """`build()`, evaluated once per hashable `key` (and per JVM)."""
    global _gateway
    gateway = SparkContext._gateway
    if gateway is not _gateway:
        _entries.clear()
        _gateway = gateway
    # one lookup, so a concurrent clear cannot fail it; threads racing on
    # a new key each build it, and either result is correct
    value = _entries.get(key, _MISSING)
    if value is _MISSING:
        if len(_entries) >= _MAX_ENTRIES:
            _entries.clear()
        value = _entries[key] = build()
    return value


def memo_columns(build):
    """Decorator for a module-level Column builder: the result is memoized
    on the builder and its positional arguments."""

    @functools.wraps(build)
    def memoized(*args):
        return memo((build, args), lambda: build(*args))

    return memoized


def clear() -> None:
    """Drop every memoized bundle (the next build rebuilds its Columns)."""
    _entries.clear()

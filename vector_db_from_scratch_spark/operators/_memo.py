"""Session-scoped artifacts: one decorator memoizes every expensive build.

Operator, streaming and source modules build artifacts once per Spark
application and serve repeat calls from them: shingle indexes, LSH index
tables, k-means centroids, PQ codebooks, written layouts, drained streams.
Each builder is a plain function decorated with :func:`per_app`; its body
does the build and materializes the result however it needs to
(``.cache()``, ``.localCheckpoint()``, a written path, a driver-side
array). The decorator only decides whether the body runs.

The key is the application id, the builder's module and qualified name,
and every other bound argument after defaults are applied, so
``f(spark, d)``, ``f(spark, d, 8)`` and ``f(spark, sf_dir=d, n=8)`` share
one entry when 8 is the default. Key arguments must be plain values
(strings, numbers, booleans, None, tuples of them): a DataFrame, list or
callable would be compared by identity and every call would miss, so it
raises ``TypeError`` instead.

Entries live for the length of the application. A long-lived host that
cycles SparkSessions, or rewrites an sf_dir mid-application, calls
:func:`clear` to drop them and unpersist the DataFrames they hold; the
tests' spark fixture finalizer does.
"""

from __future__ import annotations

import functools
import inspect
from typing import Any, Callable, TypeVar

_Fn = TypeVar("_Fn", bound=Callable[..., Any])

_PLAIN = (str, bytes, int, float, bool, type(None))

# (app_id, module, qualname, *args) -> built value
_STORE: dict[tuple, Any] = {}
# (app_id, value) pairs kept only so clear() releases them
_HELD: list[tuple[str, Any]] = []


def _app_id(spark: Any) -> str:
    return spark.sparkContext.applicationId


def _check_plain(fn: Callable, name: str, value: Any) -> None:
    if isinstance(value, tuple):
        for v in value:
            _check_plain(fn, name, v)
    elif not isinstance(value, _PLAIN):
        raise TypeError(
            f"{fn.__qualname__}: memo key argument {name!r} must be a plain "
            f"value, got {type(value).__name__}"
        )


def per_app(fn: _Fn) -> _Fn:
    """Memoize ``fn(spark, ...)`` per application and bound arguments.

    The first parameter is the SparkSession; the undecorated builder stays
    reachable as ``__wrapped__``."""
    sig = inspect.signature(fn, follow_wrapped=False)
    ident = (fn.__module__, fn.__qualname__)

    @functools.wraps(fn)
    def wrapped(*args: Any, **kwargs: Any) -> Any:
        bound = sig.bind(*args, **kwargs)
        bound.apply_defaults()
        (_, spark), *rest = bound.arguments.items()
        for name, value in rest:
            _check_plain(fn, name, value)
        key = (_app_id(spark), *ident, *(v for _, v in rest))
        if key not in _STORE:
            _STORE[key] = fn(*bound.args, **bound.kwargs)
        return _STORE[key]

    return wrapped  # type: ignore[return-value]


def hold(spark: Any, value: Any) -> Any:
    """Keep ``value`` until :func:`clear` releases it with the application's
    other artifacts; returns it. For states that are not reused but hold
    checkpointed or cached tables."""
    _HELD.append((_app_id(spark), value))
    return value


def _unpersist(value: Any) -> None:
    from pyspark.sql import DataFrame

    # values come in several shapes: bare DataFrames, tuples of them, lists
    # of per-iteration chain states, lists of (nodes, edges) tuples, and
    # slotted objects whose attributes are cached tables (EntityStore) --
    # walk them all, else clear() silently leaks the nested tables
    if isinstance(value, (tuple, list)):
        for v in value:
            _unpersist(v)
        return
    if isinstance(value, DataFrame):
        # a stopped context has nothing to release, and each call into it
        # fails only after ~40 ms in the JVM
        if value.sparkSession.sparkContext._jsc is not None:
            value.unpersist()
        return
    for name in getattr(type(value), "__slots__", ()):
        part = getattr(value, name, None)
        if isinstance(part, DataFrame):
            _unpersist(part)


def clear(app_id: str | None = None) -> int:
    """Evict entries (all, or one application's), unpersisting any cached
    DataFrames they hold. Returns the number of entries dropped."""
    drop = [k for k in _STORE if app_id is None or k[0] == app_id]
    for key in drop:
        _unpersist(_STORE.pop(key))
    keep = []
    for held in _HELD:
        if app_id is None or held[0] == app_id:
            _unpersist(held[1])
        else:
            keep.append(held)
    n = len(drop) + len(_HELD) - len(keep)
    _HELD[:] = keep
    return n

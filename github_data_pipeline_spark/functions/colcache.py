"""Memoized deterministic Column fragments (plan-construction cache).

Building a large Catalyst expression through the Column API costs one
py4j round trip per operator node — the ~1k-node Porter stemmer alone
is ~10,000 round trips (~2 s of driver wall-clock), paid again on
every builder call even though the resulting tree is a deterministic
function of its string inputs (r12 builder profile: 114 s of the
158-query bench total was Python-side plan construction; guide §5.3 —
driver-side latency). Column objects are immutable, unresolved
expression trees: the same fragment can be attached to any number of
plans, and name resolution happens per-plan at analysis time, so
reuse is semantically identical to rebuilding.

The cache stores COLUMN TREES only — plan text, never data, results,
or anything derived from an input table — so every query execution
still computes from its parquet inputs alone. Keys must capture every
input that shapes the tree (column names, mode flags, literal
parameters); only call sites whose inputs are plain strings/constants
opt in.
"""

from __future__ import annotations

from typing import Any, Callable

_CACHE: dict[tuple, Any] = {}

# Identity token of the SparkContext whose gateway built the cached
# fragments. A cached Column holds a py4j reference into one JVM: after
# an in-process SparkContext restart those references fail opaquely
# ("target object does not exist"), so the cache is valid only for the
# context that built it and is cleared whenever the active context's
# identity changes.
_CTX_TOKEN: int | None = None


def _freeze(value: Any) -> Any:
    """Lists -> tuples (recursively) so cached multi-fragment values
    cannot be mutated in place by one caller and silently poison every
    later caller. Callers only ``*``-unpack or iterate these."""
    if isinstance(value, (list, tuple)):
        return tuple(_freeze(v) for v in value)
    return value


def memo_col(key: tuple, build: Callable[[], Any]) -> Any:
    """Return the memoized Column (or tuple of Columns — any immutable
    plan fragment) for ``key``, building it on miss. Tied to the ACTIVE
    SparkContext: a context restart invalidates every cached fragment
    (their py4j refs point into the dead JVM)."""
    global _CTX_TOKEN
    from pyspark import SparkContext

    ctx = SparkContext._active_spark_context
    token = id(ctx) if ctx is not None else None
    if token != _CTX_TOKEN:
        _CACHE.clear()
        _CTX_TOKEN = token
    if token is None:  # no JVM to cache against — build passthrough
        return build()
    col = _CACHE.get(key)
    if col is None:
        col = _CACHE[key] = _freeze(build())
    return col


_KEYABLE = (str, int, float, bool, type(None))


def memoize_when_keyable(fn):
    """Decorator: memoize the Column result when every argument is a
    plain hashable builder input (str column name, int parameter, ...).
    Calls that pass Column objects build normally — a Column's identity
    cannot key a cache safely. Keyword arguments participate in the
    cache key (sorted), so ``bucket_col(v, n_planes=4)`` and
    ``bucket_col(v, 4)`` each memoize under their own key."""
    import functools

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if all(isinstance(a, _KEYABLE) for a in args) and all(
            isinstance(v, _KEYABLE) for v in kwargs.values()
        ):
            key = (
                fn.__module__,
                fn.__qualname__,
                args,
                tuple(sorted(kwargs.items())),
            )
            return memo_col(key, lambda: fn(*args, **kwargs))
        return fn(*args, **kwargs)

    return wrapper

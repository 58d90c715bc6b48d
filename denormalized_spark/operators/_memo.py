"""Build a pure Column expression once per distinct set of arguments."""

from __future__ import annotations

import functools
import inspect

from pyspark import SparkContext

_PLAIN = (str, int, float, bool, type(None))
_MAX_ENTRIES = 256  # per builder; the whole memo is dropped past this


def _key(v):
    """Type-exact hashable key of a plain value (so 1, 1.0 and True
    stay apart); TypeError for anything else."""
    if isinstance(v, tuple):
        return (tuple, tuple(_key(x) for x in v))
    if isinstance(v, _PLAIN):
        return (type(v), v)
    raise TypeError(type(v).__name__)


def memo_column(fn):
    """Return the Column already built by ``fn`` for the same
    arguments instead of building it again.

    For expression builders whose arguments are all plain values
    (str, int, float, bool, None, or tuples of them). A big builder
    makes hundreds to thousands of Py4J round trips (calls from Python
    into the JVM) per build; a memoized call makes none. Defaults are
    applied before keying, so positional and keyword calls share an
    entry. The memo is tied to the live Py4J gateway: entries made
    under a different gateway are dropped. A call with any Column (or
    other non-plain) argument goes straight to ``fn``, uncached.

    Reuse is safe because a Column wraps an unresolved, session-free
    expression tree; lambda variables get fresh exprIds each time
    Catalyst resolves them. A memoized Column keeps the call site
    (``DataFrameQueryContext``) of its first build, so an error in it
    points at that first caller."""
    sig = inspect.signature(fn)
    memo: dict = {}
    owner = None  # the gateway the entries were built under

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        nonlocal owner
        gateway = SparkContext._gateway
        bound = sig.bind(*args, **kwargs)
        bound.apply_defaults()
        try:
            key = _key(tuple(bound.arguments.values()))
        except TypeError:  # a Column or other non-plain argument
            return fn(*args, **kwargs)
        if gateway is None:  # no Py4J gateway (e.g. Spark Connect)
            return fn(*args, **kwargs)
        if owner is not gateway or len(memo) >= _MAX_ENTRIES:
            memo.clear()
            owner = gateway
        col = memo.get(key)
        if col is None:
            col = memo[key] = fn(*args, **kwargs)
        return col

    return wrapper

"""One artifact store: the only place a built artifact is reused
within a process.

Index-like structures (postings, term dictionaries, LSH pairs, IVF
centroids, PQ codebooks, the index-store bundle, ...), the catalog's
lazy table frames and the compiled-plan memo are built once per corpus
and afterwards only read — the reference's "index once, query many"
(sources/index_store.py keeps the on-disk half of that lifecycle).
Every such reuse goes through `lookup`:

- an entry is keyed by (corpus dir, artifact name, params) and records
  the applicationId and the corpus `fingerprint` it was built under;
- a lookup that finds either changed — a restarted session, a corpus
  regenerated in place — releases the stale entries of that corpus,
  unpersisting the frames they persisted, and rebuilds.

One fingerprint covers the whole corpus dir, so a derived artifact
misses together with its inputs (no dependency graph), and a memoized
plan cannot outlive the persisted frames it reads. `artifact` is the
decorator form for builders shaped `fn(spark, sf_dir, *params)`.
"""

from __future__ import annotations

import functools
import inspect
import os
from collections.abc import Callable, Iterator
from typing import Any, NamedTuple

from pyspark.sql import DataFrame


class _Entry(NamedTuple):
    app: str | None  # None: built without a session (not session-bound)
    fp: tuple
    value: Any


# (sf_dir, name, params) -> _Entry
_STORE: dict[tuple, _Entry] = {}


def fingerprint(sf_dir: str) -> tuple:
    """Stat-level fingerprint of every table in `sf_dir`: (name,
    mtime_ns, size) per file, recursing one level into Spark-written
    table directories. A regenerated table changes it."""
    out = []
    for e in os.scandir(sf_dir):
        st = e.stat()
        if e.is_dir():
            kids = tuple(
                sorted(
                    (k.name, k.stat().st_mtime_ns, k.stat().st_size)
                    for k in os.scandir(e.path)
                )
            )
            out.append((e.name, st.st_mtime_ns, kids))
        else:
            out.append((e.name, st.st_mtime_ns, st.st_size))
    return tuple(sorted(out))


def _current(e: _Entry, app: str | None, fp: tuple) -> bool:
    """Entry built under corpus fingerprint `fp` in session `app`; an
    entry or lookup without a session compares the fingerprint only."""
    return e.fp == fp and (e.app == app or None in (e.app, app))


def _entries() -> list[tuple[tuple, _Entry]]:
    # one C-level copy: safe while another thread (a streaming batch
    # callback) adds an entry
    return list(_STORE.items())


def _state(spark, sf_dir: str) -> tuple[str | None, tuple]:
    app = None if spark is None else spark.sparkContext.applicationId
    return app, fingerprint(sf_dir)


def lookup(
    spark, sf_dir: str, name: str, params: tuple, build: Callable[[], Any],
    keep: Callable[[], bool] = lambda: True,
) -> Any:
    """The artifact `name(params)` of corpus `sf_dir`: the stored one
    while its session and corpus fingerprint are current, else
    `build()`, whose result (`None` included) is stored unless `keep()`,
    asked right after the build, is false."""
    try:
        app, fp = _state(spark, sf_dir)
    except Exception:
        # unreadable corpus dir / stopped context: build uncached and
        # let the builder raise (or succeed) exactly as it would alone
        return build()
    key = (sf_dir, name, params)
    hit = _STORE.get(key)
    if hit is not None:
        if _current(hit, app, fp):
            return hit.value
        _release(
            [k for k, e in _entries() if k[0] == sf_dir and not _current(e, app, fp)]
        )
    value = build()
    if keep():
        _STORE[key] = _Entry(app, fp, value)
    return value


def put(spark, sf_dir: str, name: str, params: tuple, value: Any) -> None:
    """Store an artifact built elsewhere (e.g. loaded from an index
    bundle), replacing the entry under the same key."""
    try:
        app, fp = _state(spark, sf_dir)
    except Exception:
        return
    key = (sf_dir, name, params)
    if key in _STORE and _STORE[key].value is not value:
        _release([key])
    _STORE[key] = _Entry(app, fp, value)


def peek(sf_dir: str, name: str, params: tuple = ()) -> Any:
    """The stored value under the key, current or not (None if absent);
    never builds."""
    hit = _STORE.get((sf_dir, name, params))
    return None if hit is None else hit.value


def clear(sf_dir: str | None = None) -> None:
    """Release every entry (of one corpus dir when given): the test and
    re-ingest hook. Artifacts rebuild lazily on next use."""
    _release([k for k, _ in _entries() if sf_dir is None or k[0] == sf_dir])


def artifact(fn: Callable) -> Callable:
    """Route the builder `fn(spark, sf_dir, *params)` through `lookup`,
    keeping its name and signature; `spark` may be absent for builders
    that need no session. The wrapper's `put(value, *args)` stores a
    value under the key those args name; `artifact_name` is the name
    its entries are stored under."""
    name = f"{fn.__module__.rsplit('.', 1)[-1]}.{fn.__name__}"
    sig = inspect.signature(fn)

    def key(args, kwargs) -> tuple:
        bound = sig.bind(*args, **kwargs)
        bound.apply_defaults()
        a = dict(bound.arguments)
        return a.pop("spark", None), a.pop("sf_dir"), tuple(a.values())

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        spark, sf_dir, params = key(args, kwargs)
        return lookup(spark, sf_dir, name, params, lambda: fn(*args, **kwargs))

    def put_value(value, *args, **kwargs) -> None:
        spark, sf_dir, params = key(args, kwargs)
        put(spark, sf_dir, name, params, value)

    wrapped.put = put_value
    wrapped.artifact_name = name
    return wrapped


def _frames(value: Any, depth: int = 0) -> Iterator[DataFrame]:
    """DataFrames reachable from an artifact value: through tuples,
    lists, dicts and this package's index objects (BM25Index,
    SeismicIndex, IndexBundle, ...)."""
    if isinstance(value, DataFrame):
        yield value
    elif depth < 4:
        if isinstance(value, (tuple, list)):
            items = value
        elif isinstance(value, dict):
            items = value.values()
        elif type(value).__module__.startswith(__package__) and hasattr(value, "__dict__"):
            items = vars(value).values()
        else:
            return
        for v in items:
            yield from _frames(v, depth + 1)


def _release(keys: list[tuple]) -> None:
    for key in keys:
        for df in _frames(getattr(_STORE.pop(key, None), "value", None)):
            if df.is_cached:
                try:
                    df.unpersist()
                except Exception:
                    pass  # a frame of a stopped session: nothing to free

"""Session memo: the one store for what is built once per session and
reused across queries — the frames operators build (signature tables,
shingle and term indexes, trained centroids, cut corpus frames) and the
inferred schema of each corpus table ``sources.read_corpus_table`` reads.

``@session_memo(name)`` wraps a builder ``f(spark, sf_dir, *args)``.  An
entry is found by (application id, name, arguments after ``spark`` with
defaults applied — so ``f(spark, d)`` and ``f(spark, d, DEFAULT)`` share
it) and stays valid while :func:`fingerprint` of ``sf_dir`` is
unchanged: a source rewritten inside a live session releases the stale
entry, refreshes Spark's cached plans over the path and rebuilds.

The builder decides how its result is stored (``persist`` or
``cut_lineage``); the memo keeps the return value and, on release,
unpersists every DataFrame inside it.  A cut frame is not in Spark's
cache, so its blocks go when the frame is garbage-collected.
"""

from __future__ import annotations

import functools
import inspect
import os
from collections import Counter
from urllib.parse import urlsplit

from pyspark.sql import DataFrame

#: (application id, name, (sf_dir, *args)) -> (fingerprint of sf_dir, value)
_entries: dict[tuple, tuple[tuple, object]] = {}
_builds: Counter = Counter()
_hits: Counter = Counter()


def fingerprint(sf_dir: str) -> tuple:
    """Sorted (relative path, size, mtime_ns) of every file under
    ``sf_dir`` (a local path or ``file:`` URI); empty for a path with no
    local files."""
    url = urlsplit(sf_dir)
    if url.scheme == "file":
        sf_dir = url.path
    files = []
    for root, _, names in os.walk(sf_dir):
        for n in names:
            path = os.path.join(root, n)
            st = os.stat(path)
            files.append((os.path.relpath(path, sf_dir), st.st_size, st.st_mtime_ns))
    return tuple(sorted(files))


def _release(value) -> None:
    if isinstance(value, DataFrame):
        value.unpersist()
    elif isinstance(value, tuple):
        for v in value:
            _release(v)


def session_memo(name: str):
    """Memoize a builder ``f(spark, sf_dir, *args)`` under ``name``."""

    def wrap(build):
        sig = inspect.signature(build)

        @functools.wraps(build)
        def memoized(spark, sf_dir, *args, **kwargs):
            bound = sig.bind(spark, sf_dir, *args, **kwargs)
            bound.apply_defaults()
            bound_args = tuple(bound.arguments.values())[1:]
            key = (spark.sparkContext.applicationId, name, bound_args)
            fp = fingerprint(sf_dir)
            entry = _entries.get(key)
            if entry is not None and entry[0] == fp:
                _hits[name] += 1
                return entry[1]
            if entry is not None:
                # the source changed: Spark's cache matches plans by path,
                # so every cached frame over it would serve the old data
                spark.catalog.refreshByPath(sf_dir)
                _release(entry[1])
            value = build(spark, sf_dir, *args, **kwargs)
            _entries[key] = (fp, value)
            _builds[name] += 1
            return value

        return memoized

    return wrap


def clear(name: str | None = None) -> None:
    """Drop the entries of ``name`` (all when None), unpersisting their
    DataFrames."""
    for key in [k for k in _entries if name in (None, k[1])]:
        _release(_entries.pop(key)[1])


def stats() -> dict[str, tuple[int, int]]:
    """``{name: (builds, hits)}`` since import."""
    return {n: (_builds[n], _hits[n]) for n in _builds | _hits}

"""The package's one plan memo: reusable artifacts (the shingle table,
BPE merges, PageRank's edge relation, ranged frames, ...) keyed on the
version of the inputs they were built from.

A key is ``(applicationId, name, input version, plan)``.  The input
version is ``(path, mtime_ns, size)`` of every file the site reads, so a
rewritten input misses and rebuilds; ``plan`` is whatever identity the
site already has (its ``sf_dir``, a ``semanticHash`` plus arguments).
On a miss the entries of the same name and plan under another version
are dropped first: they are stale, and a persisted stale frame would
otherwise be served to the rebuild by Spark's CacheManager, which
matches cached data by plan, not by file contents.  Each name keeps at
most ``PERSIST_CACHE_LIMIT`` entries (least recently used goes first).
That bound must exceed the number of ranked frames lazily outstanding
in one composed plan: an evicted ranged frame is unpersisted, and
``operators/rank.py`` relies on its persisted frame to see one set of
range boundaries.  Evicting or clearing an entry unpersists every frame
it holds; a ``localCheckpoint`` is released by dropping the reference.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable, Hashable, Iterable, MutableMapping
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

_MEMO: dict[tuple, object] = {}
PLAN_CACHES: list[MutableMapping] = [_MEMO]  # the memo, for callers that size it
PERSIST_CACHE_LIMIT = 16
_LOCK = threading.Lock()


def input_version(inputs: Iterable[str | DataFrame]) -> tuple:
    """``(path, mtime_ns, size)`` of every file under ``inputs``: a path
    names a file or a directory (walked); a DataFrame contributes its
    ``inputFiles()``.  A missing file reads as ``(path, -1, -1)``."""
    files: set[str] = set()
    for src in inputs:
        if isinstance(src, DataFrame):
            files.update(unquote(urlparse(u).path) for u in src.inputFiles())
        elif os.path.isdir(src):
            files.update(os.path.join(d, n) for d, _, ns in os.walk(src) for n in ns)
        else:
            files.add(src)
    out = []
    for path in sorted(files):
        try:
            st = os.stat(path)
            out.append((path, st.st_mtime_ns, st.st_size))
        except OSError:
            out.append((path, -1, -1))
    return tuple(out)


def memo(
    spark: SparkSession,
    name: str,
    inputs: Iterable[str | DataFrame],
    build: Callable[[], object],
    plan: Hashable = None,
):
    """``build()`` once per (application, ``name``, input version,
    ``plan``); sites that want the result persisted persist it in
    ``build``."""
    key = (spark.sparkContext.applicationId, name, input_version(inputs), plan)
    with _LOCK:
        if key in _MEMO:
            _MEMO[key] = val = _MEMO.pop(key)  # refresh recency
            return val
        mine = [k for k in _MEMO if k[1] == name]
        rest = [k for k in mine if k[3] != plan]
        stale = [k for k in mine if k[3] == plan]
        for k in stale + rest[: max(0, len(rest) + 1 - PERSIST_CACHE_LIMIT)]:
            _unpersist_value(_MEMO.pop(k))
    # built outside the lock: builds nest (the arrays build the shingles)
    # and run Spark jobs.  A thread that lost the race to insert returns
    # the winner's value; its own persisted duplicate shares the winner's
    # cache entry (the CacheManager matches by plan), so nothing leaks.
    val = build()
    with _LOCK:
        return _MEMO.setdefault(key, val)


def _unpersist_value(val) -> None:
    """Unpersist every DataFrame reachable from a memo value (a bare
    frame or a tuple/list of them, e.g. BPE's ``(merges, state)``)."""
    if isinstance(val, DataFrame):
        try:
            val.unpersist()
        except Exception:
            pass
    elif isinstance(val, (tuple, list)):
        for v in val:
            _unpersist_value(v)


def clear_plan_caches() -> None:
    """Drop every memo entry, unpersisting held frames.  Callers that
    also want Spark's CacheManager emptied follow up with
    ``spark.catalog.clearCache()``."""
    with _LOCK:
        for val in _MEMO.values():
            _unpersist_value(val)
        _MEMO.clear()


def unregistered_caches() -> list[str]:
    """Audit: module-level ``*_CACHE`` / ``*_MEMO`` dicts in this package
    other than the memo above and the catalog's mtime-keyed table-handle
    memo.  Non-empty means someone added a memo beside ``memo`` — it
    would escape ``clear_plan_caches`` and the input versioning.

    Imports every module of the package first, so a memo in a module
    nothing has imported yet cannot escape the audit."""
    import importlib
    import pkgutil
    import sys

    import data_pipeline_who_gho_spark as pkg

    for info in pkgutil.walk_packages(pkg.__path__, prefix=pkg.__name__ + "."):
        try:
            importlib.import_module(info.name)
        except Exception:  # unimportable module is a different failure
            pass

    allowed = {id(_MEMO), id(sys.modules[pkg.__name__ + ".sources.catalog"]._TABLE_MEMO)}
    return sorted(
        f"{mod_name}.{attr}"
        for mod_name, mod in list(sys.modules.items())
        if mod_name.startswith(pkg.__name__)
        for attr, val in vars(mod).items()
        if isinstance(val, dict) and attr.endswith(("_CACHE", "_MEMO"))
        and id(val) not in allowed
    )

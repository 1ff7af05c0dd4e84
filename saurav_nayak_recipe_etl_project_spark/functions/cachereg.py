"""Build-scoped state: DataFrame persists for within-one-query reuse,
and scratch directories for registered entries that keep state on disk.

DataFrame.persist registers the plan in Spark's CacheManager and is
NEVER released until an explicit unpersist — unlike RDD caches, the
driver's GC does not clean it up. Operators that persist an
intermediate for within-one-query reuse (the dedup signature/shingle
frames, the pagerank edge table) therefore LEAK one cached plan per
query build: a long analytics session (the 90-entry bench runs ~450
query builds) accumulates gigabytes of dead cached blocks, and the
eviction churn slows every later query (r15: measured as diffuse
10-70% slowdowns on UNRELATED entries late in a bench session).

`persist_scoped(df, key)` keeps AT MOST ONE live cache per key:
persisting a new frame unpersists the previous one (non-blocking).
The previous frame stays CORRECT if some caller still holds it — it
just recomputes — so this is pure cache hygiene, not a semantics
change. It is also NOT cross-run result caching: each call persists
the freshly built frame; nothing survives or is keyed on inputs.

`scratch_dir(key)` applies the same "one live per key" rule to the
directories that txlog, streaming-MV and vector-index builds write
their tables, checkpoints and indexes into: a new directory for `key`
removes the one handed out before it, and an exit hook removes the
directories still live when the process ends. The contract this gives
a caller: a frame returned by a registered build stays valid until the
next build of the same entry in the same process (the frame reads the
files lazily, so materialize it before building that entry again).
The registry maps each key to its one live path and holds no results.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_LIVE: dict[str, DataFrame] = {}


def persist_scoped(df: DataFrame, key: str,
                   level: StorageLevel = StorageLevel.MEMORY_AND_DISK
                   ) -> DataFrame:
    prev = _LIVE.pop(key, None)
    if prev is not None:
        try:
            prev.unpersist(False)
        except Exception:
            pass  # session gone / already unpersisted: nothing to free
    out = df.persist(level)
    _LIVE[key] = out
    return out


_SCRATCH: dict[str, str] = {}
_SCRATCH_LOCK = threading.Lock()


def scratch_dir(key: str) -> str:
    """A fresh directory named after `key`; the one handed out before
    it for `key` is removed."""
    with _SCRATCH_LOCK:
        prev = _SCRATCH.pop(key, None)
        path = _SCRATCH[key] = tempfile.mkdtemp(prefix=key)
    if prev is not None:
        shutil.rmtree(prev, ignore_errors=True)
    return path


@atexit.register
def _remove_scratch_dirs() -> None:
    with _SCRATCH_LOCK:
        for path in _SCRATCH.values():
            shutil.rmtree(path, ignore_errors=True)
        _SCRATCH.clear()

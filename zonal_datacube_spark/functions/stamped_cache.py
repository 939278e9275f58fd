"""One process-wide LRU cache for the summaries built once per corpus.

Four caches share this module: the loader's lazy relations
(``sources/loader.py``), the percentile family's value and swept grains
(``functions/grain_cache.py``), the trade-edge rollup
(``operators/graph.py``) and the trained ANN indexes
(``functions/pq.py``). Each is one ``StampedCache`` instance, and all of
them follow the same rules:

- **Identity.** Every key is ``stamped_key(spark, sf_dir, tables,
  *params)``: the SparkContext applicationId (a fresh session is never
  handed a frame bound to a dead context), the corpus realpath, the
  ``source_stamp`` of every source table the entry reads, then the call
  site's own parameters. A corpus rewritten under the same path — even
  part files rewritten in place — misses instead of serving stale data.
- **Capacity.** One constant cap per instance; the least recently used
  entry is dropped beyond it. Eviction unpersists the entry's persisted
  frames. It is safe mid-use: an unpersisted DataFrame recomputes.
- **Persistence.** The frames of an entry that were persisted when it
  was built are its pinned frames. A hit whose pinned storage a
  ``spark.catalog.clearCache()`` dropped persists it again at the same
  level, so the hit never silently recomputes the build on every use.
  Lazy frames (the loader's relations) are never pinned, so they are
  never persisted here.
- **Concurrency.** One re-entrant lock per instance covers lookup,
  build, insert and evict, so two driver threads never build the same
  entry twice or evict under each other. The grain cache's swept tier
  builds through its value tier on the same instance (hence re-entrant).
- **Observability.** ``stats`` counts hits, misses and evictions per
  instance; ``CACHES`` names every instance for the bench artifact.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel


def source_stamp(path: str) -> tuple:
    """Content-identity stamp of a fixture source: (mtime_ns, size) for a
    plain file; for a DIRECTORY of part files, the folded sorted
    (name, mtime_ns, size) listing of its entries. The directory's own
    stat is NOT sufficient (ADVICE r12): rewriting part-file CONTENTS in
    place — same filenames, e.g. ``cp`` over an existing part — leaves
    the directory's mtime and size unchanged, so a regenerated corpus
    would silently serve a stale cached grain or derived-layout copy,
    exactly the aliasing class the r12 content-stamp change closed."""
    st = os.stat(path)
    if not os.path.isdir(path):
        return (st.st_mtime_ns, st.st_size)
    parts = []
    for name in sorted(os.listdir(path)):
        pst = os.stat(os.path.join(path, name))
        parts.append((name, pst.st_mtime_ns, pst.st_size))
    return (len(parts), tuple(parts))


def stamped_key(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...], *params: Any
) -> tuple:
    """The one key shape: (applicationId, realpath(sf_dir), the stamps of
    ``tables``' parquet sources, params...)."""
    return (
        spark.sparkContext.applicationId,
        os.path.realpath(sf_dir),
        tuple(source_stamp(os.path.join(sf_dir, f"{t}.parquet")) for t in tables),
        *params,
    )


def _pinned(value: Any) -> tuple[tuple[DataFrame, StorageLevel], ...]:
    """The persisted frames of an entry (a DataFrame or a tuple holding
    some) with their storage levels, read once at insert."""
    frames = value if isinstance(value, tuple) else (value,)
    return tuple(
        (df, df.storageLevel)
        for df in frames
        if isinstance(df, DataFrame) and df.is_cached
    )


def _unpersist(pinned) -> None:
    for df, _ in pinned:
        try:
            df.unpersist()
        except Exception:
            # an entry keyed by a STOPPED SparkContext cannot be
            # unpersisted — dropping the reference is all that remains,
            # and eviction must never break the live caller
            pass


CACHES: dict[str, "StampedCache"] = {}


class StampedCache:
    """LRU of stamped keys to built values (see the module docstring)."""

    def __init__(self, name: str, cap: int):
        self.cap = cap
        self.stats = {"hits": 0, "misses": 0, "evictions": 0}
        self._entries: OrderedDict[tuple, tuple[Any, tuple]] = OrderedDict()
        self._lock = threading.RLock()
        CACHES[name] = self

    def __len__(self) -> int:
        return len(self._entries)

    def get_or_build(self, key: tuple, build: Callable[[], Any]) -> Any:
        with self._lock:
            entry = self._entries.get(key)
            if entry is not None:
                self.stats["hits"] += 1
                self._entries.move_to_end(key)
                value, pinned = entry
                for df, level in pinned:
                    if df.storageLevel == StorageLevel.NONE:
                        df.persist(level)
                        df.count()
                return value
            self.stats["misses"] += 1
            value = build()
            self._entries[key] = (value, _pinned(value))
            while len(self._entries) > self.cap:
                self.stats["evictions"] += 1
                _unpersist(self._entries.popitem(last=False)[1][1])
            return value

    def clear(self) -> None:
        """Unpersist and drop every entry (test hook)."""
        with self._lock:
            while self._entries:
                _unpersist(self._entries.popitem(last=False)[1][1])

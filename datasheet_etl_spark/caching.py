"""Scoped cache bookkeeping for operators that ``persist()`` intermediates.

Operators like MinHash-LSH and k-means IVF persist a small derived
DataFrame (signatures, cell assignments) that several downstream joins
re-read — the right call at scale, but ``DataFrame.persist`` registers in
Spark's CacheManager and is NEVER evicted automatically, so a long-lived
session leaks cache across queries.

``scoped_persist`` is a drop-in replacement that records the persisted
frame; ``release_caches()`` unpersists everything recorded.
``reset_session`` also clears Spark's own cache and drops the temp views
(streaming memory sinks register one each). ``bench.py`` and the scripts
call it after every entry, so no entry's wall or CPU pays the memory
pressure of frames and views an earlier entry left behind. A service
embedding these operators should call one of them at request end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# strong references on purpose: the persisted frame must stay reachable
# until release_caches() explicitly unpersists it (the operator's own
# local goes out of scope as soon as it returns its lazy result)
_LIVE: list[DataFrame] = []


def scoped_persist(df: DataFrame, storage_level=None) -> DataFrame:
    """Persist ``df`` and register it for later ``release_caches()``."""
    out = df.persist() if storage_level is None else df.persist(storage_level)
    _LIVE.append(out)
    return out


def release_caches() -> int:
    """Unpersist every scoped-persisted DataFrame.

    Returns the number released. Safe to call with a stopped session.
    """
    global _LIVE
    released = 0
    for df in _LIVE:
        try:
            df.unpersist(blocking=False)
            released += 1
        except Exception:
            pass  # session stopped / already unpersisted
    _LIVE = []
    return released


def reset_session(spark: SparkSession) -> None:
    """Release scoped caches, clear Spark's cache and drop every temp view."""
    release_caches()
    spark.catalog.clearCache()
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)

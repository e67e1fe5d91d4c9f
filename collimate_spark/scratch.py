"""Operator-internal scratch-cache registry.

Many operators ``.cache()`` a small multiply-referenced frame (a medians
table, a shingle set, a degree table, a prefix index) because 2-4 plan
branches consume it. The returned DataFrame's lineage still references
the cached frame, so the operator itself cannot unpersist eagerly — an
unpersist before the caller materializes would silently recompute the
frame on collect (correct, just slower). Historically the contract was
"callers run ``spark.catalog.clearCache()`` between queries", which
works for bench.py and the driver loop but is a footgun for notebook
users (it also nukes THEIR caches, and forgetting it accumulates
MEMORY_AND_DISK blocks for the session lifetime).

This module scopes the contract to exactly the operators' own frames:

- ``scache(df)``: cache ``df`` and register it as scratch. Operators use
  it as a drop-in chain suffix: ``df.transform(scache)`` instead of
  ``df.cache()``.
- ``clear_scratch()``: unpersist every registered scratch frame and
  forget it. Call between queries — user-cached frames are untouched
  (unlike ``clearCache``). Safe to call while a result DataFrame is
  still un-materialized: Spark recomputes the scratch frame on demand.
- ``scratch_caches()``: context manager that clears the scratch frames
  registered inside the block on exit — the notebook-friendly form::

      with scratch_caches():
          result = dedup_minhash_lsh(spark, sf_dir).collect()

Registration holds STRONG references deliberately: a WeakSet would drop
the Python handle as soon as the operator returns while the JVM-side
cache block lives on — exactly the leak this module exists to release.
A DataFrame handle is a tiny plan wrapper, so the registry itself costs
nothing.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

_SCRATCH: list[DataFrame] = []


def scache(df: DataFrame) -> DataFrame:
    """Cache ``df`` and register it for ``clear_scratch()``. Returns the
    same DataFrame so it composes as ``expr.transform(scache)``."""
    _SCRATCH.append(df)
    return df.cache()


def clear_scratch(blocking: bool = False) -> int:
    """Unpersist every registered operator-internal scratch frame.
    Returns the number of frames released. User caches are untouched."""
    n = 0
    while _SCRATCH:
        df = _SCRATCH.pop()
        try:
            df.unpersist(blocking)
        except Exception:  # noqa: BLE001 — a dead session mustn't block cleanup
            pass
        n += 1
    return n


@contextmanager
def scratch_caches(blocking: bool = False):
    """Clear (only) the scratch frames registered inside the block on
    exit. Nesting works: each block releases its own registrations."""
    mark = len(_SCRATCH)
    try:
        yield
    finally:
        while len(_SCRATCH) > mark:
            df = _SCRATCH.pop()
            try:
                df.unpersist(blocking)
            except Exception:  # noqa: BLE001
                pass

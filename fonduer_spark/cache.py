"""One cache lifecycle for every operator.

``cached(df)`` is the library's only ``persist()``. It registers the frame
with the innermost open ``released()`` block of the current thread, and
the block unpersists everything cached inside it when it exits, normally
or by an exception. An operator caches what its result still reads and
leaves it to the caller's block; an operator whose result no longer reads
its caches when it returns opens its own block.

Spark's CacheManager matches cached frames by plan, so an ``unpersist()``
on a plan the caller cached first would drop the caller's cache. A plan
that is already cached is therefore returned as is and never registered.

With no block open, ``cached`` just persists: one-shot drivers call
``spark.catalog.clearCache()`` when done, long-lived drivers (services,
streams) wrap each unit of work in ``released()``.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterator, List

from pyspark import StorageLevel
from pyspark.sql import DataFrame


class _Blocks(threading.local):
    # foreachBatch and other callbacks run on their own threads, so each
    # thread has its own stack of open blocks
    def __init__(self) -> None:
        self.stack: List[List[DataFrame]] = []


_BLOCKS = _Blocks()


def cached(df: DataFrame) -> DataFrame:
    """``df.persist()``, released by the innermost open ``released()``
    block; a plan already cached is the caller's and is returned as is."""
    if df.storageLevel != StorageLevel.NONE:
        return df
    df = df.persist()
    if _BLOCKS.stack:
        _BLOCKS.stack[-1].append(df)
    return df


@contextmanager
def released() -> Iterator[None]:
    """Unpersist, on exit, every frame ``cached`` inside the block."""
    block: List[DataFrame] = []
    _BLOCKS.stack.append(block)
    try:
        yield
    finally:
        _BLOCKS.stack.pop()
        # newest first: uncaching a plan that a still-cached plan reads
        # makes Spark re-plan the reader, which is about to go anyway
        for df in reversed(block):
            df.unpersist()

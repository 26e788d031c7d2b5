"""Materialize-once intermediates with a deterministic release.

``DataFrame.localCheckpoint()`` computes a frame in one job and returns a
frame over the stored blocks, so every later reader reuses them instead of
re-planning (and re-running) the lineage. Unlike ``persist()``, the blocks
are invisible to the cache manager: ``spark.catalog.clearCache()`` does not
free them, and they go only when a driver GC lets Spark's ContextCleaner
collect the checkpointed RDD. ``release`` frees them at once;
``local_checkpoints`` releases every checkpoint it made on leaving its
``with`` block, on success and on failure alike.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame


def release(checkpointed: DataFrame) -> None:
    """Free the blocks of a frame returned by ``localCheckpoint()``. Any
    later read of it (or of a frame built on it) fails."""
    checkpointed._jdf.logicalPlan().rdd().unpersist(True)


@contextmanager
def local_checkpoints() -> Iterator[Callable[[DataFrame], DataFrame]]:
    """Yield ``checkpoint(df) -> df.localCheckpoint()``; every frame it
    returned is released when the block exits, so all reads of them (and
    of frames built on them) must happen inside it."""
    made: list[DataFrame] = []

    def checkpoint(df: DataFrame) -> DataFrame:
        made.append(df.localCheckpoint())
        return made[-1]

    try:
        yield checkpoint
    finally:
        for df in made:
            release(df)

"""The one lifetime mechanism for persisted and checkpointed frames.

Code registers frames through :func:`persist` / :func:`checkpoint`; they
are freed when the enclosing :func:`scope` exits, or when the caller runs
:func:`release_caches` after materializing its result.  The registry is a
``ContextVar`` holding the current scope's frame list, so a nested scope
or another thread never frees a caller's frames, and a registration
survives any ``select``/``withColumn`` the result later goes through.

Checkpoints are freed through the checkpointed plan's RDD: on Spark 4.1.2
``DataFrame.unpersist()`` on a ``localCheckpoint`` frame frees nothing.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

_frames: ContextVar[list | None] = ContextVar("laji_cache_frames",
                                              default=None)


def _current() -> list:
    frames = _frames.get()
    if frames is None:  # outside any scope: one list per context
        frames = []
        _frames.set(frames)
    return frames


def _free(df: DataFrame) -> None:
    if df.is_cached:  # registered by persist()
        df.unpersist()
    else:  # registered by checkpoint()
        df._jdf.queryExecution().logical().rdd().unpersist(False)


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` (default storage level), registered for release.  A
    frame its caller already persisted is left to that caller's release."""
    if not df.is_cached:
        _current().append(df.persist())
    return df


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, registered for release.  Returns the
    checkpointed frame; derive from it, not from ``df``."""
    ckpt = df.localCheckpoint(eager)
    _current().append(ckpt)
    return ckpt


def unpersist(df: DataFrame) -> None:
    """Free one registered frame early (e.g. a superseded loop round)."""
    frames = _current()
    frames[:] = [f for f in frames if f is not df]
    _free(df)


def release_caches(df: DataFrame | None = None) -> None:
    """Free every frame registered in the current context since the last
    release — call AFTER materializing the result.  ``df`` is unused; it
    keeps the ``release_caches(result)`` call form valid."""
    frames = _current()
    while frames:
        _free(frames.pop())


@contextmanager
def scope():
    """Frames registered inside the block are freed when it exits (also on
    an exception).  Yields the scope's live frame list."""
    frames: list = []
    token = _frames.set(frames)
    try:
        yield frames
    finally:
        release_caches()
        _frames.reset(token)

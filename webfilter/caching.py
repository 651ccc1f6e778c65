"""Shared registry for operator-persisted frames.

Several operators persist an intermediate frame that their own plan
consumes more than once (MinHash signature tables consumed by a
self-join, frequent-terms candidate sets). Persist without a paired
unpersist accumulates executor storage memory across repeated
invocations in a long-lived session (ADVICE r2; ADVICE r4 flagged the
same leak in ``trainprep.frequent_terms``).

This module is the single release point: every operator that persists
routes the frame through :func:`persist_tracked`, and callers that
materialize a result call :func:`release_cached` afterwards
(``pipeline.run_near_dedup``, ``bench.py`` and the jobs all do).
``dedup.release_cached`` remains the public alias so existing call
sites keep working.
"""
from __future__ import annotations

from pyspark.sql import DataFrame

_CACHED_FRAMES: list[DataFrame] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for the next release_cached()."""
    df = df.persist()
    _CACHED_FRAMES.append(df)
    return df


def release_cached() -> None:
    """Unpersist every frame registered since the last call (safe to
    call at any time — lazily-recomputed plans stay correct, only the
    cache is dropped)."""
    while _CACHED_FRAMES:
        try:
            _CACHED_FRAMES.pop().unpersist()
        except Exception:
            pass


def cached_count() -> int:
    """Number of currently-registered (unreleased) frames — used by
    leak-regression tests."""
    return len(_CACHED_FRAMES)

"""One memoizer for derived lake frames, shared across the queries of a session.

Several operator families derive an expensive frame once per lake directory
and serve it to many queries: dedup's token, mask, pair, shingle, banded
candidate and component-label frames, graph's co-purchase edges, the sketch
fact tables and the k-means seed rows.  Each of them is a :class:`Memo`.

A ``Memo`` keys its entries on ``(applicationId, sf_dir, *extra)``, so a new
SparkSession never sees a frame of a stopped one, and holds at most
``CACHE_MAX_ENTRIES`` of them: the oldest is evicted first and unpersisted,
so repeated sessions and lake directories do not pin executor storage.
``build`` decides how the frame is kept (``persist()`` or
``localCheckpoint(eager=True)``).

``clear_caches(sf_dir)`` releases every entry for one directory across all
memos; harness code calls it to start a timed region with empty memos.  A
memo joins the sweep when its owning module is imported.
"""

from __future__ import annotations

from typing import Any, Callable

CACHE_MAX_ENTRIES = 4  # one live lake directory plus headroom

_MEMOS: list[Memo] = []


def _unpersist(val: Any) -> None:
    try:
        val.unpersist()
    except Exception:
        pass  # not a frame, or its SparkSession is already stopped


class Memo(dict):
    """A FIFO-bounded memo of frames derived from one lake directory."""

    def __init__(self) -> None:
        super().__init__()
        _MEMOS.append(self)

    def get_or_build(self, spark, sf_dir: str, build: Callable[[], Any], *extra):
        """The value memoized for ``(spark, sf_dir, *extra)``, calling
        ``build()`` on a miss.  A memoized ``None`` is a hit."""
        key = (spark.sparkContext.applicationId, sf_dir, *extra)
        if key in self:
            return self[key]
        val = build()
        while len(self) >= CACHE_MAX_ENTRIES:
            _unpersist(self.pop(next(iter(self))))  # insertion order: oldest first
        self[key] = val
        return val

    def release(self, sf_dir: str | None = None) -> int:
        """Drop and unpersist the entries for ``sf_dir`` (every entry when
        None); returns how many were dropped."""
        keys = [k for k in self if sf_dir is None or k[1] == sf_dir]
        for k in keys:
            _unpersist(self.pop(k))
        return len(keys)


def clear_caches(sf_dir: str | None = None) -> int:
    """Release every memo entry for ``sf_dir`` (every entry when None);
    returns the number of entries released."""
    return sum(m.release(sf_dir) for m in _MEMOS)

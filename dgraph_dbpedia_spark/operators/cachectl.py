"""One owner for every intermediate an operator or pipeline caches.

Operators persist a frame that feeds several plan branches and eagerly
``localCheckpoint`` iterative state (the reference caches reused
subplans, SURVEY X1). Each such frame is made inside ``with
CacheScope() as scope:`` and belongs to that scope:

- a superseded frame (a Lloyd iteration, a star round, a consumed pair
  frame) is freed at once with :meth:`CacheScope.free`;
- when the block exits, returned or raised, the scope frees every
  frame it still owns;
- :meth:`CacheScope.hand` tags frames on the result
  (:func:`tag_persisted`): whoever holds the result frees them with
  :func:`release` once it is materialized (collected, written);
- :meth:`CacheScope.keep` leaves a checkpoint backing the result (its
  blocks ARE the result's data): Spark's ContextCleaner frees it once
  the result is garbage-collected.

A handed or kept frame stays with the enclosing scope on the same
thread until that block returns, so a raise there frees it too (the
inner result is lost with it); :meth:`CacheScope.adopt` makes it the
enclosing scope's to free at exit. So an exception anywhere leaves no
cached or checkpointed frame behind.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_ATTR = "_graft_persisted"


def tag_persisted(result: DataFrame, *frames: DataFrame) -> DataFrame:
    """Attach persisted intermediate handles to ``result`` so the caller
    can free them with :func:`release` after materializing."""
    existing = list(getattr(result, _ATTR, ()))
    setattr(result, _ATTR, existing + list(frames))
    return result


def persisted_frames(result: DataFrame) -> list[DataFrame]:
    return list(getattr(result, _ATTR, ()))


def release(result: DataFrame) -> int:
    """Unpersist every intermediate the operator cached for ``result``.
    Returns the number of frames released. Idempotent."""
    frames = persisted_frames(result)
    for f in frames:
        f.unpersist()
    setattr(result, _ATTR, [])
    return len(frames)


def release_local_checkpoint(df: DataFrame) -> bool:
    """Deterministically free a ``localCheckpoint()``-ed frame's blocks.

    ``DataFrame.unpersist`` does not reach them (they live on the
    checkpointed RDD inside the plan's ``LogicalRDD``, not in the SQL
    cache manager), so without this they linger until the driver GC
    notices the dropped reference — at scale an iterative algorithm
    checkpointing per round would hold every round's frame
    simultaneously. Only call once NOTHING will read ``df`` again: the
    blocks ARE the data (local checkpoints have no lineage to recompute
    from). Returns False if the internal accessor is unavailable (the
    blocks then fall back to GC-based ContextCleaner release); the
    first fallback is logged loudly so a Spark upgrade that breaks the
    py4j path surfaces in any run's output."""
    global _warned_release_fallback
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        return True
    except Exception:
        if not _warned_release_fallback:
            _warned_release_fallback = True
            import logging

            logging.getLogger(__name__).warning(
                "release_local_checkpoint: internal RDD accessor "
                "unavailable on this Spark build — checkpoint blocks "
                "now fall back to GC-based ContextCleaner release "
                "(iterative operators may hold more storage than the "
                "deterministic-release design intends)"
            )
        return False


_warned_release_fallback = False
_open = threading.local()  # .scopes: this thread's open scopes, innermost last


class CacheScope:
    """Owns the frames one operator or pipeline call persists or
    checkpoints (the module docstring's rule)."""

    def __enter__(self) -> CacheScope:
        # (frame, is_checkpoint): owned ones are freed on any exit; the
        # backing ones (handed or kept, here or in a nested block) only
        # on a raise
        self._owned: list[tuple[DataFrame, bool]] = []
        self._backing: list[tuple[DataFrame, bool]] = []
        self._scopes = _open.__dict__.setdefault("scopes", [])
        self._scopes.append(self)
        return self

    def __exit__(self, exc_type, *_) -> None:
        self._scopes.remove(self)
        freed = self._owned + (self._backing if exc_type else [])
        for f, is_checkpoint in reversed(freed):
            self._free(f, is_checkpoint)
        if not exc_type and self._scopes:
            self._scopes[-1]._backing += self._backing

    def persist(self, df: DataFrame, level=None) -> DataFrame:
        """``df.persist([level])``, owned by the scope."""
        df = df.persist() if level is None else df.persist(level)
        self._owned.append((df, False))
        return df

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """``df.localCheckpoint()`` (eager), owned by the scope."""
        cp = df.localCheckpoint()
        self._owned.append((cp, True))
        return cp

    def adopt(self, *frames: DataFrame) -> None:
        """Own frames a nested call handed or kept, to free at exit."""
        self._owned += [(f, self._disown(f)) for f in frames]

    def free(self, *frames: DataFrame) -> None:
        """Free superseded frames now."""
        for f in frames:
            self._free(f, self._disown(f))

    def keep(self, df: DataFrame) -> DataFrame:
        """Leave ``df`` backing the result (freed here only on a raise)."""
        self._backing.append((df, self._disown(df)))
        return df

    def hand(self, result: DataFrame, *frames: DataFrame) -> DataFrame:
        """Tag ``frames`` on ``result`` for its holder to :func:`release`
        (freed here only on a raise)."""
        self._backing += [(f, self._disown(f)) for f in frames]
        return tag_persisted(result, *frames)

    def _disown(self, df: DataFrame) -> bool:
        """Drop ``df`` from the scope; True if it is a checkpoint."""
        for frames in (self._owned, self._backing):
            for i, (f, is_checkpoint) in enumerate(frames):
                if f is df:
                    del frames[i]
                    return is_checkpoint
        return False

    @staticmethod
    def _free(df: DataFrame, is_checkpoint: bool) -> None:
        if is_checkpoint:
            release_local_checkpoint(df)
        else:
            df.unpersist()

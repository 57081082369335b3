"""One bounded cache for the persisted frames the engine owns.

The catalog's search indexes, the plan-keyed IVF builds and the pool of
anonymous multi-consumer intermediates are each a :class:`FrameCache`
with one rule:

- LRU order, refreshed on each hit (``get`` / ``[key]``);
- an entry is unpersisted when it is superseded, evicted or dropped
  (persist keeps lineage, so an eviction costs recompute, never
  correctness);
- a hit re-pins the frames that were persisted when the entry was
  inserted (``clearCache`` drops them); disk-backed layouts were never
  persisted, so they are never pinned — a probe relies on their parquet
  partition pruning, which an InMemoryRelation would hide;
- ``warm(key)``: the entry exists and those frames are still in memory.
"""

from collections import OrderedDict
from itertools import count
from threading import Lock

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame


def _unpersist(frames, keep=()) -> None:
    for f in frames:
        if all(f is not k for k in keep):
            try:
                f.unpersist()
            except Py4JError:  # its session is already stopped
                pass


class FrameCache:
    """At most ``bound`` entries of persisted frames, under the rule above.
    A value is a frame or a tuple holding frames (other items ride along)."""

    def __init__(self, bound: int):
        self.bound = bound
        self._entries = OrderedDict()   # key -> (value, pinned frames)
        self._lock = Lock()

    def __len__(self) -> int:
        return len(self._entries)

    def __contains__(self, key) -> bool:
        return key in self._entries

    def __iter__(self):
        return iter(list(self._entries))

    def __getitem__(self, key):
        if key not in self._entries:
            raise KeyError(key)
        return self.get(key)

    def get(self, key, default=None):
        with self._lock:
            entry = self._entries.get(key)
            if entry is None:
                return default
            self._entries.move_to_end(key)
        for f in entry[1]:
            if not f.storageLevel.useMemory:
                f.persist()
        return entry[0]

    def put(self, key, value) -> None:
        items = value if isinstance(value, tuple) else (value,)
        pinned = [f for f in items
                  if isinstance(f, DataFrame) and f.storageLevel.useMemory]
        with self._lock:
            old = self._entries.pop(key, None)
            self._entries[key] = (value, pinned)
            gone = [old[1]] if old is not None else []
            while len(self._entries) > self.bound:
                gone.append(self._entries.popitem(last=False)[1][1])
        for frames in gone:
            _unpersist(frames, keep=pinned)

    def pop(self, key, default=None):
        """Take an entry out without unpersisting it, for a caller that
        puts it back (catalog._absorb_append)."""
        with self._lock:
            entry = self._entries.pop(key, None)
        return default if entry is None else entry[0]

    def drop(self, key) -> None:
        with self._lock:
            entry = self._entries.pop(key, None)
        if entry is not None:
            _unpersist(entry[1])

    def warm(self, key) -> bool:
        entry = self._entries.get(key)
        return entry is not None and all(
            f.storageLevel.useMemory for f in entry[1])


# Anonymous intermediates: a persisted frame several downstream branches
# read (dedup signatures and shingle sets, sketch's distinct frame, the
# IVF assignments of topic clustering and SemDeDup). Held here so a
# long-lived served engine keeps at most this many, not one per call.
_INTERMEDIATES = FrameCache(8)
_anon = count()


def hold(df: DataFrame) -> DataFrame:
    """Keep a persisted intermediate in the bounded pool; returns it."""
    _INTERMEDIATES.put(next(_anon), df)
    return df

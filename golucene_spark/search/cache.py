"""One cache class, ``SnapshotCache``: an LRU capped by entry count that
counts hits, misses and evictions and calls ``on_evict`` on each value
it drops.

Each index snapshot (LogicalIndex, MaterializedIndex, MultiIndex) owns
one as ``index.cache`` (cap SNAPSHOT_CACHE_ENTRIES) holding term and
collection stats, multi-term expansions and prepared score/top-k plans
under tagged keys.  Every Searcher over the snapshot shares them,
distinct queries cannot grow driver memory past the cap, and a mutation
opens a new snapshot with an empty cache.  CachingSearcher (Lucene's
LRUQueryCache role) keeps persisted score frames in another, so repeats
skip the postings scan; evicted frames are unpersisted.
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from .parser import parse_query

# A prepared plan retains ~0.4 MB of driver heap (sf0.01, 2-term OR), so
# a full cache holds ~210 MB; the benchmark workloads never evict.
SNAPSHOT_CACHE_ENTRIES = 512

_FRAME_STORAGE = StorageLevel.MEMORY_AND_DISK  # CachingSearcher frames
_MISSING = object()


class SnapshotCache:
    """LRU map capped at ``max_entries``; ``on_evict(value)`` runs for
    every value it drops, by eviction or by ``clear()``."""

    def __init__(self, max_entries: int = SNAPSHOT_CACHE_ENTRIES,
                 on_evict=None):
        self.max_entries = max_entries
        self.on_evict = on_evict or (lambda value: None)
        self._d: OrderedDict = OrderedDict()
        self.hits = self.misses = self.evictions = 0

    def __len__(self) -> int:
        return len(self._d)

    def get(self, key, default=None):
        """The cached value (a hit), or ``default`` (a miss)."""
        if key not in self._d:
            self.misses += 1
            return default
        self.hits += 1
        self._d.move_to_end(key)
        return self._d[key]

    def put(self, key, value) -> None:
        self._d[key] = value
        self._d.move_to_end(key)
        while len(self._d) > self.max_entries:
            self.evictions += 1
            self.on_evict(self._d.popitem(last=False)[1])

    def get_or_compute(self, key, compute):
        value = self.get(key, _MISSING)
        if value is _MISSING:
            value = compute()
            self.put(key, value)
        return value

    def clear(self) -> None:
        while self._d:
            self.on_evict(self._d.popitem()[1])


class CachingSearcher:
    """Decorator over Searcher adding an LRU score-frame cache."""

    def __init__(self, searcher, max_entries: int = 32):
        self.searcher = searcher
        self._cache = SnapshotCache(
            max_entries, on_evict=lambda f: f.unpersist(blocking=False))

    max_entries = property(lambda self: self._cache.max_entries)
    hits = property(lambda self: self._cache.hits)
    misses = property(lambda self: self._cache.misses)

    # -- cached core ------------------------------------------------------
    def score_frame(self, query) -> DataFrame:
        if isinstance(query, str):
            query = parse_query(query)
        # repr of the frozen AST is deterministic and includes
        # boosts/slops/occurs
        return self._cache.get_or_compute(
            (self.searcher.sim.name, repr(query)),
            lambda: self.searcher.score_frame(query).persist(_FRAME_STORAGE),
        )

    def search(self, query, k: int = 10) -> DataFrame:
        # collects through executor.collect_topk — ONE collector order
        # shared with Searcher.search/search_after (ADVICE r4)
        from .executor import collect_topk

        return collect_topk(self.score_frame(query), k)

    def search_with_total(self, query, k: int = 10, hydrate: bool = False):
        from .executor import collect_topk

        frame = self.score_frame(query)
        total = frame.count()
        meta = (self.searcher._live_meta().drop("segment_id")
                if hydrate and hasattr(self.searcher.index, "doc_meta")
                else None)
        return total, collect_topk(frame, k, hydrate_meta=meta)

    def search_after(self, query, after, k: int = 10) -> DataFrame:
        # pagination is the cache's best case: every page after the
        # first filters the SAME persisted frame instead of rescanning.
        from .executor import collect_topk

        return collect_topk(self.score_frame(query), k, after=after)

    def clear(self):
        self._cache.clear()

    # everything else (explain, search_sorted, index, sim, ...) passes
    # through to the wrapped searcher
    def __getattr__(self, name):
        return getattr(self.searcher, name)

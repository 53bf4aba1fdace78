"""Snapshot-scoped caching: term stats, multi-term expansions and
prepared plans live in ``index.cache`` (shared by every Searcher over
the snapshot, bounded by entry count), and mutation paths drop them by
re-opening the index."""

import shutil

import pytest

from golucene_spark.index import CorpusSpec, IndexBuilder, MaterializedIndex
from golucene_spark.search import Searcher, parse_query
from golucene_spark.search.cache import SNAPSHOT_CACHE_ENTRIES, SnapshotCache


@pytest.fixture(scope="module")
def mix(spark, tmp_path_factory):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ixdir = str(tmp_path_factory.mktemp("memo_ix") / "ix")
    shutil.rmtree(ixdir, ignore_errors=True)
    IndexBuilder(spark, CorpusSpec.documents(), num_segments=4).build(docs, ixdir)
    return MaterializedIndex(spark, ixdir)


def _q(text):
    return parse_query(text, default_field="text", analyzer="standard")


def test_fresh_searchers_share_stats_memo(spark, mix):
    q = _q("text:data")
    r1 = Searcher(mix, "bm25").search(q, 5).collect()
    assert mix.cache.get(("term", "text", "data")) is not None
    # a fresh searcher over the same snapshot reads the stats from the
    # shared cache: a different k misses the plan entries but hits the
    # term stats, so no new entry is added for the term
    hits, n = mix.cache.hits, len(mix.cache)
    s2 = Searcher(mix, "bm25")
    assert s2._term_stats(q)[("text", "data")] is mix.cache.get(("term", "text", "data"))
    assert mix.cache.hits > hits and len(mix.cache) == n
    assert s2.search(q, 5).collect() == r1


def test_expansion_memo_hit_and_key_separation(spark, mix):
    def n_expansions():
        return sum(1 for k in mix.cache._d if k[0] == "expand")

    s = Searcher(mix, "bm25")
    q = _q("text:da*")
    r1 = s.search(q, 5).collect()
    n = n_expansions()
    assert n >= 1
    # same pattern again: no new cache entry, same results
    assert Searcher(mix, "bm25").search(q, 5).collect() == r1
    assert n_expansions() == n
    # different boost is a different expansion (boost folds into clauses)
    rb = Searcher(mix, "bm25").search(_q("text:da*^2"), 5).collect()
    assert n_expansions() == n + 1
    assert {r.doc_id for r in rb} == {r.doc_id for r in r1}
    for a, b in zip(sorted(r1, key=lambda r: r.doc_id),
                    sorted(rb, key=lambda r: r.doc_id)):
        assert b.score == pytest.approx(2.0 * a.score, rel=1e-12)


def test_reopen_drops_memos(spark, mix):
    """Mutation paths (deletes/updates/NRT/merge) re-open the index; a
    re-opened snapshot must start with an empty cache."""
    Searcher(mix, "bm25").search(_q("text:data"), 1).collect()
    assert len(mix.cache)
    reopened = MaterializedIndex(spark, mix.index_dir)
    assert reopened.cache is not mix.cache
    assert len(reopened.cache) == 0
    assert reopened.cache.max_entries == SNAPSHOT_CACHE_ENTRIES
    assert (reopened.cache.hits, reopened.cache.misses,
            reopened.cache.evictions) == (0, 0, 0)


def test_plan_memo_reuses_frames_and_keys_correctly(spark, mix):
    """The prepared-plan cache: a repeated (query, k, similarity)
    returns the SAME immutable DataFrame (no rebuilt plan), every
    collect recomputes identical rows, and distinct k / similarity /
    boost produce distinct plans."""
    q = _q("text:data OR text:table")
    f1 = Searcher(mix, "bm25").search(q, 5)
    r1 = [(r.doc_id, r.score) for r in f1.collect()]
    f2 = Searcher(mix, "bm25").search(q, 5)  # fresh searcher, same snapshot
    assert f2 is f1  # cache hit: the very same DataFrame object
    assert [(r.doc_id, r.score) for r in f2.collect()] == r1
    assert Searcher(mix, "bm25").search(q, 3) is not f1       # k differs
    assert Searcher(mix, "classic").search(q, 5) is not f1    # sim differs
    qb = _q("text:data^2 OR text:table")
    assert Searcher(mix, "bm25").search(qb, 5) is not f1      # boost differs
    # custom-k1 BM25 must not collide with the default-parameter plan
    from golucene_spark.search.similarity import BM25Similarity

    fk = Searcher(mix, BM25Similarity(k1=0.5)).search(q, 5)
    assert fk is not f1


def test_distinct_queries_stay_within_cap(spark, mix):
    """A stream of distinct queries past the cap evicts instead of
    growing; a repeat of a cached query is a hit."""
    ix = MaterializedIndex(spark, mix.index_dir)
    ix.cache.max_entries = cap = 6
    for i in range(12):
        Searcher(ix, "bm25").search(_q(f"text:data^{i + 1} OR text:table"), 5)
        assert len(ix.cache) <= cap
    assert ix.cache.misses >= 12 * 2 and ix.cache.evictions > 0
    q = _q("text:data^12 OR text:table")
    hits, misses = ix.cache.hits, ix.cache.misses
    f = Searcher(ix, "bm25").search(q, 5)
    assert Searcher(ix, "bm25").search(q, 5) is f
    assert ix.cache.hits > hits and ix.cache.misses == misses


def test_expansion_larger_than_cap_scores(spark, mix):
    """A wildcard expanding to more terms than the cap holds still scores
    every clause: term stats come from the fetch, not a cache re-read."""
    q = _q("text:*a*")
    capped = MaterializedIndex(spark, mix.index_dir)
    capped.cache.max_entries = 4
    got = [(r.doc_id, r.score) for r in
           Searcher(capped, "bm25").search(q, 10).collect()]
    n_terms = len(Searcher(capped, "bm25")._resolve(q).clauses)
    assert n_terms > capped.cache.max_entries
    assert capped.cache.evictions > 0 and len(capped.cache) <= 4
    full = MaterializedIndex(spark, mix.index_dir)
    full.cache = SnapshotCache(max_entries=10_000)
    want = [(r.doc_id, r.score) for r in
            Searcher(full, "bm25").search(q, 10).collect()]
    assert full.cache.evictions == 0
    assert got == want and got

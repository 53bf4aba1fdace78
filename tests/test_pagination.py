"""searchAfter keyset pagination (IndexSearcher.searchAfter /
TopScoreDocCollector.create(after) of core Lucene 4.10; the reference's
collect.go:282-303 collects from rank 0 only)."""

import pytest

from golucene_spark.index import CorpusSpec, LogicalIndex
from golucene_spark.search import Searcher, TermQuery


@pytest.fixture(scope="module")
def searcher(spark):
    rows = [
        (i, f"spark {'spark ' * (i % 4)}pad{i} filler", "en", "web")
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    ix = LogicalIndex(df, CorpusSpec.documents(), analyzer="simple",
                      quantize_norms=False).persist()
    return Searcher(ix, "bm25")


def test_pages_tile_the_full_ranking(searcher):
    q = TermQuery("text", "spark")
    full = [(r["doc_id"], r["score"]) for r in searcher.search(q, 30).collect()]
    assert len(full) == 30
    pages, after = [], None
    for _ in range(3):
        page = (searcher.search(q, 10) if after is None
                else searcher.search_after(q, after, 10)).collect()
        pages.extend((r["doc_id"], r["score"]) for r in page)
        after = (page[-1]["score"], page[-1]["doc_id"])
    assert pages == full


def test_after_cursor_respects_docid_tiebreak(searcher):
    # many docs share a score (same freq/dl); cutting mid-tie must
    # resume at doc_id > cursor within the tied score, exactly the
    # (score desc, doc_id asc) collector order
    q = TermQuery("text", "spark")
    full = searcher.search(q, 30).collect()
    mid = full[4]  # inside the corpus's tied-score runs
    rest = searcher.search_after(q, (mid["score"], mid["doc_id"]), 30).collect()
    assert [(r["doc_id"], r["score"]) for r in rest] == [
        (r["doc_id"], r["score"]) for r in full[5:]
    ]


def test_past_end_returns_empty(searcher):
    q = TermQuery("text", "spark")
    tail = searcher.search(q, 30).collect()[-1]
    assert searcher.search_after(q, (tail["score"], tail["doc_id"]), 10).count() == 0


def test_cached_pagination_reuses_frame(searcher):
    from golucene_spark.search import CachingSearcher, TermQuery

    cs = CachingSearcher(searcher, max_entries=4)
    q = TermQuery("text", "spark")
    p1 = cs.search(q, 10).collect()
    p2 = cs.search_after(q, (p1[-1]["score"], p1[-1]["doc_id"]), 10).collect()
    assert cs.misses == 1 and cs.hits >= 1   # page 2 hit the cached frame
    full = searcher.search(q, 20).collect()
    assert [(r["doc_id"], r["score"]) for r in p1 + p2] == [
        (r["doc_id"], r["score"]) for r in full
    ]
    cs.clear()


def test_rescore_combines_first_and_second(searcher):
    """QueryRescorer.combine: first + weight*second for second-pass
    matches, first alone otherwise."""
    from golucene_spark.search import rescore

    s = searcher.searcher if hasattr(searcher, "searcher") else searcher
    first = {r["doc_id"]: r["score"]
             for r in s.score_frame(__import__("golucene_spark.search.parser",
                                               fromlist=["parse_query"])
                                    .parse_query("content:parse")).collect()}
    second_q = "content:tokenize"
    second = {r["doc_id"]: r["score"]
              for r in s.score_frame(__import__("golucene_spark.search.parser",
                                                fromlist=["parse_query"])
                                     .parse_query(second_q)).collect()}
    got = {r["doc_id"]: r["score"]
           for r in rescore(s, "content:parse", second_q,
                            top_n=10, weight=0.5, k=10).collect()}
    assert set(got) == set(first)
    import pytest as _pt

    for d, v in got.items():
        want = first[d] + 0.5 * second.get(d, 0.0)
        assert v == _pt.approx(want, rel=1e-12), d


def test_dismax_mid_tie_pagination_no_cache(searcher):
    """ADVICE r2/r3: aggregated (DisjunctionMax) scores re-sum floats in
    partition-dependent order across executions; the e6-rounded keyset
    cursor must tile pages exactly WITHOUT a persisted frame, even when
    the cut lands inside a tied-score run."""
    from golucene_spark.search import DisjunctionMaxQuery, TermQuery

    q = DisjunctionMaxQuery(
        (TermQuery("text", "spark"), TermQuery("text", "filler")), tie_breaker=0.5
    )
    full = searcher.search_after(q, None, 30).collect()
    assert len(full) == 30
    ids = []
    after = None
    for _ in range(6):  # 5-doc pages force several mid-tie cuts
        page = searcher.search_after(q, after, 5).collect()
        if not page:
            break
        ids.extend(r["doc_id"] for r in page)
        after = (page[-1]["score"], page[-1]["doc_id"])
    assert ids == [r["doc_id"] for r in full]
    assert len(set(ids)) == len(ids)  # no duplicates, no skips


def test_cursor_e6_half_up_matches_spark(spark):
    """The driver-side cursor rounding must be Spark F.round's HALF_UP,
    not Python round()'s half-even: a score*1e6 landing exactly on .5
    would otherwise produce a cursor one below the stored _e6 and skip
    the whole tie bucket (ADVICE r4)."""
    from pyspark.sql import functions as F

    from golucene_spark.search.executor import cursor_e6

    # these doubles hit exact .5 multiples after *1e6 (verified exact)
    vals = [25 / 10 / 1e6, 5 / 10 / 1e6, 15 / 10 / 1e6, 45 / 10 / 1e6]
    df = spark.createDataFrame([(v,) for v in vals], "score double")
    spark_e6 = [
        r[0]
        for r in df.select(
            F.round(F.col("score") * 1e6, 0).cast("long")
        ).collect()
    ]
    assert [cursor_e6(v) for v in vals] == spark_e6
    # and explicitly not banker's rounding
    assert cursor_e6(25 / 10 / 1e6) == 3
    assert round(2.5) == 2  # what the old code would have produced


def test_pagination_walk_fuzz(spark):
    """Pagination walk fuzz over a score-tie-rich corpus: for random
    query shapes and page sizes, the CONCATENATION of search()/search_
    after() pages must exactly equal the one-shot top-N — membership,
    order, and scores — and the CachingSearcher walk must agree page by
    page.  Many docs share identical BM25 scores here (repeated content
    patterns), so the e6-keyset tie handling is exercised hard."""
    import random

    from golucene_spark.corpus import make_corpus
    from golucene_spark.index import CorpusSpec, FieldSpec, LogicalIndex
    from golucene_spark.search import parse_query
    from golucene_spark.search.cache import CachingSearcher

    rng = random.Random(17)
    pdf = make_corpus(180, seed=23).reset_index().rename(columns={"index": "doc_id"})
    # amplify score ties: every third doc shares one of 3 identical texts
    for i in range(0, 180, 3):
        pdf.loc[i, "content"] = f"tie group {'alpha beta' * (1 + i % 3)}"
    spec = CorpusSpec(
        text_fields=[FieldSpec("content", "content", True)],
        keyword_fields=[], key_cols=["doc_id"], id_col="doc_id", meta_cols=[],
    )
    ix = LogicalIndex(spark.createDataFrame(pdf), spec, analyzer="simple",
                      quantize_norms=False).persist()
    s = Searcher(ix, "bm25")
    cs = CachingSearcher(s)

    queries = ["content:alpha", "content:tie OR content:parse",
               "content:group AND content:beta",
               'content:"alpha beta"', "content:parse OR content:beta^2"]
    for qs in queries:
        q = parse_query(qs, default_field="content", analyzer="simple")
        total = s.count(q)
        if total == 0:
            continue
        full = [(r["doc_id"], round(r["score"], 9))
                for r in s.search(q, total + 5).collect()]
        for _ in range(2):
            k = rng.choice([3, 7, 10])
            walked, after = [], None
            for _ in range(total // k + 2):
                page = (s.search(q, k) if after is None
                        else s.search_after(q, after, k)).collect()
                cpage = (cs.search(q, k) if after is None
                         else cs.search_after(q, after, k)).collect()
                assert [(r["doc_id"], round(r["score"], 9)) for r in page] == \
                       [(r["doc_id"], round(r["score"], 9)) for r in cpage], qs
                if not page:
                    break
                walked.extend((r["doc_id"], round(r["score"], 9)) for r in page)
                last = page[-1]
                after = (last["score"], last["doc_id"])
            assert walked == full, (qs, k, len(walked), len(full))

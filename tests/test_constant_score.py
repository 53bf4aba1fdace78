"""ConstantScoreQuery: the wrapped query is a pure filter; classic
folds queryNorm exactly as ConstantWeight does."""

import pytest

from golucene_spark.index import CorpusSpec, LogicalIndex
from golucene_spark.search import (
    BooleanClause,
    BooleanQuery,
    ConstantScoreQuery,
    Occur,
    Searcher,
    TermQuery,
    WildcardQuery,
)


@pytest.fixture(scope="module")
def ix(spark):
    rows = [
        (0, "data engine data", "en", "web"),
        (1, "data pipeline", "de", "web"),
        (2, "other text", "fr", "web"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    return LogicalIndex(df, CorpusSpec.documents(), analyzer="simple",
                        quantize_norms=False).persist()


def test_bm25_standalone_scores_boost(ix):
    s = Searcher(ix, "bm25")
    hits = s.search(ConstantScoreQuery(TermQuery("text", "data"), 2.5), 10).collect()
    assert {r["doc_id"] for r in hits} == {0, 1}
    assert all(r["score"] == 2.5 for r in hits)  # freq never matters


def test_classic_standalone_normalizes_to_one(ix):
    # ConstantWeight: queryNorm = 1/boost -> standalone score 1.0
    s = Searcher(ix, "classic")
    hits = s.search(ConstantScoreQuery(TermQuery("text", "data"), 4.0), 10).collect()
    assert all(r["score"] == pytest.approx(1.0) for r in hits)


def test_wrapped_multiterm_filter(ix):
    s = Searcher(ix, "bm25")
    hits = s.search(ConstantScoreQuery(WildcardQuery("text", "pipe*"), 0.5), 10).collect()
    assert [(r["doc_id"], r["score"]) for r in hits] == [(1, 0.5)]


def test_inside_boolean_adds_constant(ix):
    s = Searcher(ix, "bm25")
    q = BooleanQuery((
        BooleanClause(TermQuery("text", "engine"), Occur.SHOULD),
        BooleanClause(ConstantScoreQuery(TermQuery("text", "data"), 0.25), Occur.SHOULD),
    ))
    got = {r["doc_id"]: r["score"] for r in s.search(q, 10).collect()}
    base = {r["doc_id"]: r["score"] for r in s.search(TermQuery("text", "engine"), 10).collect()}
    assert got[0] == base[0] + 0.25
    assert got[1] == 0.25
    assert s.explain(q, 1)["value"] == pytest.approx(0.25)

"""DisjunctionMaxQuery: per-field best-match scoring (Lucene core
DisjunctionMaxQuery/Scorer, not ported by the reference) and the
MultiFieldQueryParser analogue."""

import pytest

from golucene_spark.index import CorpusSpec, FieldSpec, LogicalIndex
from golucene_spark.search import (
    DisjunctionMaxQuery,
    Searcher,
    TermQuery,
    parse_multi_field,
)


@pytest.fixture(scope="module")
def dix(spark):
    rows = [
        (0, "spark index engine", "engine overview"),
        (1, "query planner notes", "spark internals"),
        (2, "spark spark spark", "unrelated title"),
        (3, "storage layer", "query engine design"),
        (4, "misc text here", "misc title"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, body string, title string")
    spec = CorpusSpec(
        text_fields=[FieldSpec("body", "body", True), FieldSpec("title", "title", True)],
        keyword_fields=[], key_cols=["doc_id"], id_col="doc_id", meta_cols=[],
    )
    return LogicalIndex(df, spec, analyzer="standard", quantize_norms=True).persist()


def _scores(s, q):
    return {r["doc_id"]: r["score"] for r in s.search(q, 10).collect()}


def test_dismax_max_plus_tiebreak(dix):
    s = Searcher(dix, "bm25")
    body = _scores(s, TermQuery("body", "spark"))
    title = _scores(s, TermQuery("title", "spark"))
    for tie in (0.0, 0.5):
        got = _scores(
            s, DisjunctionMaxQuery((TermQuery("body", "spark"), TermQuery("title", "spark")), tie)
        )
        assert set(got) == set(body) | set(title)
        for d in got:
            sub = [x[d] for x in (body, title) if d in x]
            want = max(sub) + tie * (sum(sub) - max(sub))
            assert got[d] == pytest.approx(want, rel=1e-12), (d, tie)


def test_dismax_boost_and_rewrite(dix):
    s = Searcher(dix, "bm25")
    one = DisjunctionMaxQuery((TermQuery("body", "spark"),), 0.3, 2.0).rewrite()
    assert one == TermQuery("body", "spark", 2.0)
    base = _scores(s, DisjunctionMaxQuery(
        (TermQuery("body", "spark"), TermQuery("title", "spark")), 0.0))
    boosted = _scores(s, DisjunctionMaxQuery(
        (TermQuery("body", "spark"), TermQuery("title", "spark")), 0.0, 3.0))
    for d in base:
        assert boosted[d] == pytest.approx(3.0 * base[d], rel=1e-12)


def test_multi_field_parse_shape():
    q = parse_multi_field(
        "spark AND engine", ["body", "title"],
        tokenized_fields=("body", "title"), tie_breaker=0.4,
        boosts={"title": 3.0},
    )
    assert len(q.clauses) == 2
    for c in q.clauses:
        assert isinstance(c.query, DisjunctionMaxQuery)
        assert c.query.tie_breaker == 0.4
        fields = {sub.field for sub in c.query.queries}
        assert fields == {"body", "title"}
        assert {sub.boost for sub in c.query.queries} == {1.0, 3.0}
    assert all(c.is_required for c in q.clauses)


def test_multi_field_search_end_to_end(dix):
    s = Searcher(dix, "bm25")
    q = parse_multi_field("spark engine", ["body", "title"],
                          tokenized_fields=("body", "title"), tie_breaker=0.0)
    got = _scores(s, q)
    # doc0 matches spark(body) + engine(body) + engine(title)
    assert 0 in got and 2 in got
    # dismax(tie=0) of each token == max over fields, summed over tokens
    b_sp = _scores(s, TermQuery("body", "spark"))
    t_sp = _scores(s, TermQuery("title", "spark"))
    b_en = _scores(s, TermQuery("body", "engine"))
    t_en = _scores(s, TermQuery("title", "engine"))
    for d in got:
        want = max(b_sp.get(d, 0.0), t_sp.get(d, 0.0)) + max(
            b_en.get(d, 0.0), t_en.get(d, 0.0)
        )
        assert got[d] == pytest.approx(want, rel=1e-12), d


def test_dismax_explain_matches_score(dix):
    s = Searcher(dix, "bm25")
    q = DisjunctionMaxQuery(
        (TermQuery("body", "spark"), TermQuery("title", "spark")), 0.5, 2.0)
    scores = _scores(s, q)
    for d in scores:
        ex = s.explain(q, d)
        assert ex["match"] and ex["value"] == scores[d], d
    missing = s.explain(q, 3)
    assert not missing["match"] and missing["value"] == 0.0


def test_multi_field_keeps_keyword_fields_raw():
    """ADVICE r2 (low): fields not declared tokenized must parse via the
    raw-term path — not be lowercased/split — or their terms will never
    match the index's StringField terms."""
    q = parse_multi_field("Py-3", ["body", "lang"], tokenized_fields=("body",))
    assert TermQuery("lang", "Py-3") in q.queries
    # the tokenized field still analyzes (lowercase, split on '-')
    body_terms = {c.query for sub in q.queries if hasattr(sub, "clauses")
                  for c in sub.clauses}
    assert body_terms == {TermQuery("body", "py"), TermQuery("body", "3")}


def test_lm_dirichlet_term_scoring(dix):
    """LMDirichletSimilarity: exact formula against hand math."""
    import math

    from golucene_spark.search import Searcher, TermQuery

    s = Searcher(dix, "lm_dirichlet")
    cs = s._collection_stats("body")
    st = s._term_stats(TermQuery("body", "spark"))[("body", "spark")]
    p = (st.ttf + 1.0) / (cs["sum_ttf"] + 1.0)
    got = {r["doc_id"]: r["score"]
           for r in s.search(TermQuery("body", "spark"), 10).collect()}
    rows = {r["doc_id"]: (r["freq"], r["dlq"]) for r in
            dix.postings_for_terms("body", ["spark"]).collect()}
    for d, (freq, dl) in rows.items():
        want = max(0.0, math.log(1 + freq / (p * 2000.0))
                   + math.log(2000.0 / (dl + 2000.0)))
        assert got[d] == pytest.approx(want, rel=1e-12), d

"""F3 round-trip fixture + rank-identity vs the NumPy oracle.

Transliteration of core_test/search_test.go:36-76 (index -> search ->
assert hits/scores) onto the engine, with hand-computed BM25/TFIDF
values, then oracle rank-identity over a synthetic corpus.
"""

import math

import pytest

from golucene_spark.index import CorpusSpec, FieldSpec, LogicalIndex
from golucene_spark.oracle import OracleIndex
from golucene_spark.search import (
    BooleanClause,
    BooleanQuery,
    Occur,
    Searcher,
    TermQuery,
    parse_query,
)


def three_doc_spec():
    return CorpusSpec(
        text_fields=[FieldSpec("content", "content", True)],
        keyword_fields=[FieldSpec("lang", "lang", False)],
        key_cols=["doc_id"],
        id_col="doc_id",
        meta_cols=["lang"],
    )


@pytest.fixture(scope="module")
def tiny_index(spark):
    df = spark.createDataFrame(
        [(0, "bar", "go"), (1, "bar bar baz", "py"), (2, "qux", "go")],
        "doc_id long, content string, lang string",
    )
    return LogicalIndex(df, three_doc_spec(), analyzer="standard", quantize_norms=True).persist()


def test_term_query_bm25_hand_computed(tiny_index):
    s = Searcher(tiny_index, "bm25")
    hits = s.search(TermQuery("content", "bar"), k=10).collect()
    # doc1 has tf=2 but quantized dl=4 -> length norm drops it below doc0
    assert [h["doc_id"] for h in hits] == [0, 1]
    # hand computation: N=3, df=2, sum_ttf=5, avgdl=5/3
    idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))
    avgdl = 5 / 3
    k1, b = 1.2, 0.75
    # dl quantized: len 1 -> 1.0, len 3 -> 4.0 (SmallFloat 3.15)
    s0 = idf * (k1 + 1) * 1 / (1 + k1 * (1 - b + b * 1.0 / avgdl))
    s1 = idf * (k1 + 1) * 2 / (2 + k1 * (1 - b + b * 4.0 / avgdl))
    got = {h["doc_id"]: h["score"] for h in hits}
    assert got[0] == pytest.approx(s0, rel=1e-12)
    assert got[1] == pytest.approx(s1, rel=1e-12)


def test_term_query_classic_hand_computed(tiny_index):
    s = Searcher(tiny_index, "classic")
    hits = s.search(TermQuery("content", "bar"), k=10).collect()
    idf = math.log(3 / (2 + 1.0)) + 1.0
    qn = 1.0 / math.sqrt(idf * idf)
    # decode(norm): len1 -> 1.0, len3 -> 0.5
    s0 = qn * idf * idf * math.sqrt(1) * 1.0
    s1 = qn * idf * idf * math.sqrt(2) * 0.5
    got = {h["doc_id"]: h["score"] for h in hits}
    assert got[0] == pytest.approx(s0, rel=1e-12)
    assert got[1] == pytest.approx(s1, rel=1e-12)
    assert [h["doc_id"] for h in hits] == [0, 1]


def test_boolean_or_and_not(tiny_index):
    s = Searcher(tiny_index, "bm25")
    q_or = parse_query("content:bar OR content:qux")
    assert sorted(r["doc_id"] for r in s.search(q_or, 10).collect()) == [0, 1, 2]

    q_and = parse_query("content:bar AND content:baz")
    assert [r["doc_id"] for r in s.search(q_and, 10).collect()] == [1]

    q_not = parse_query("content:bar AND NOT content:baz")
    assert [r["doc_id"] for r in s.search(q_not, 10).collect()] == [0]

    # keyword field (StringField semantics)
    q_kw = parse_query("lang:go AND content:bar")
    assert [r["doc_id"] for r in s.search(q_kw, 10).collect()] == [0]


def test_empty_and_missing_term(tiny_index):
    s = Searcher(tiny_index, "bm25")
    assert s.search(TermQuery("content", "missingterm123"), 10).count() == 0
    assert s.search(parse_query("content:the"), 10).count() == 0  # stop word


def test_boost_and_tie_break(tiny_index):
    s = Searcher(tiny_index, "bm25")
    # qux (df=1): boost scales linearly
    base = s.search(TermQuery("content", "qux"), 1).collect()[0]["score"]
    boosted = s.search(TermQuery("content", "qux", boost=-42.0), 1).collect()[0]["score"]
    assert boosted == pytest.approx(-42.0 * base, rel=1e-12)


def test_or_scores_sum(tiny_index):
    s = Searcher(tiny_index, "bm25")
    sb = {r["doc_id"]: r["score"] for r in s.score_frame(TermQuery("content", "bar")).collect()}
    sz = {r["doc_id"]: r["score"] for r in s.score_frame(TermQuery("content", "baz")).collect()}
    q = BooleanQuery(
        (
            BooleanClause(TermQuery("content", "bar"), Occur.SHOULD),
            BooleanClause(TermQuery("content", "baz"), Occur.SHOULD),
        )
    )
    got = {r["doc_id"]: r["score"] for r in s.score_frame(q).collect()}
    assert got[1] == pytest.approx(sb[1] + sz[1], rel=1e-12)
    assert got[0] == pytest.approx(sb[0], rel=1e-12)


QUERIES = [
    "content:return",
    "content:zyzzyva_rare0",
    "content:parse",
    "content:parse OR content:tokenize",
    "content:parse AND content:buffer",
    "content:parse AND NOT content:index",
    "content:if OR content:for OR content:while",
    "lang:go AND content:goroutine",
    "content:3.14",
    "content:snake_case",
    "content:missingterm123",
]


@pytest.fixture(scope="module")
def corpus_pair(spark):
    from golucene_spark.corpus import make_corpus

    pdf = make_corpus(300, seed=42)
    pdf = pdf.reset_index().rename(columns={"index": "doc_id"})
    df = spark.createDataFrame(pdf)
    spec = CorpusSpec(
        text_fields=[FieldSpec("content", "content", True)],
        keyword_fields=[FieldSpec("lang", "lang", False)],
        key_cols=["doc_id"],
        id_col="doc_id",
        meta_cols=["repo", "path", "lang"],
    )
    ix = LogicalIndex(df, spec, analyzer="standard", quantize_norms=True).persist()
    oracle = OracleIndex(
        list(zip(pdf["doc_id"], pdf["content"])),
        analyzer="standard",
        quantize=True,
        keyword_docs={"lang": list(zip(pdf["doc_id"], pdf["lang"]))},
    )
    return ix, oracle


@pytest.mark.parametrize("qs", QUERIES)
@pytest.mark.parametrize("sim", ["bm25", "classic"])
def test_rank_identity_vs_oracle(corpus_pair, qs, sim):
    ix, oracle = corpus_pair
    q = parse_query(qs)
    got = Searcher(ix, sim).search(q, 10).collect()
    want = oracle.search(q, 10, similarity=sim)
    assert [r["doc_id"] for r in got] == [d for d, _ in want], qs
    for r, (_, sc) in zip(got, want):
        assert r["score"] == pytest.approx(sc, rel=1e-9), qs


def test_wide_or_64_terms_rank_identity(corpus_pair):
    """F4 q11: 64-term OR (random mid-df terms, seed 42) — wide unions,
    clause-limit headroom (booleanQuery.go:9 = 1024)."""
    import random

    from golucene_spark.corpus import VOCAB
    from golucene_spark.analysis import ENGLISH_STOP_WORDS

    ix, oracle = corpus_pair
    rng = random.Random(42)
    cands = [t.lower() for t in VOCAB if t.lower() not in ENGLISH_STOP_WORDS]
    terms = rng.sample(cands, 64)
    qs = " OR ".join(f"content:{t}" for t in terms)
    q = parse_query(qs)
    got = Searcher(ix, "bm25").search(q, 10).collect()
    want = oracle.search(q, 10, similarity="bm25")
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_, sc) in zip(got, want):
        assert r["score"] == pytest.approx(sc, rel=1e-9)


def test_clause_limit_enforced():
    from golucene_spark.search import BooleanClause, BooleanQuery, Occur, TermQuery

    with pytest.raises(ValueError, match="maxClauseCount"):
        BooleanQuery(tuple(
            BooleanClause(TermQuery("content", f"t{i}"), Occur.SHOULD)
            for i in range(1025)
        ))


def test_load_corpus_schemes(spark, sf_dir):
    from golucene_spark.sources import load_corpus

    p = f"{sf_dir}/documents.parquet"
    assert load_corpus(spark, p).count() == load_corpus(spark, f"parquet:{p}").count()
    spark.read.parquet(p).createOrReplaceTempView("src_docs_view")
    assert load_corpus(spark, "table:src_docs_view").count() > 0
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="Iceberg"):
        load_corpus(spark, "iceberg:cat.db.tbl")

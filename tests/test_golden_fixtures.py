"""Replay the reference's own golden search tests against our engine,
on the exact corpus its binary index fixtures encode.

search_test.go:27-53 (TestKeywordSearch) opens testdata/belfrysample
and asserts TermQuery(content, "bat") -> TotalHits == 8 with the top
doc's stored title == "Bat recycling"; the (disabled but asserted)
TestSingleSearch:56-63 adds usingworldtimepro with search("time") ->
16 hits.  We reconstruct the fixtures' inverted content field with
tests/ref_index.py (term dict + postings + positions read from the
binary Lucene 4.x files in the read-only checkout), graft the exact
(term, freq, positions, dl) rows into a LogicalIndex, and assert the
same facts through our searcher — plus index-stats parity (df/ttf)
between the fixture's term dictionary and our rebuilt index."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from golucene_spark.index import CorpusSpec, FieldSpec, LogicalIndex
from golucene_spark.index import smallfloat
from golucene_spark.search import Searcher, TermQuery

from ref_index import read_postings, read_terms
from ref_stored import read_stored_documents

BELFRY = "/root/reference/core/search/testdata/belfrysample"
WORLDTIME = "/root/reference/core/search/testdata/usingworldtimepro"
BELFRY_ZH = "/root/reference/core/search/testdata/belfrysample/nl/zh/CN"


def _build_index_from_fixture(spark, index_dir, field="content"):
    """Exact rebuild: TF rows carry the fixture's own freq/positions,
    dl = sum(freq) per doc (Lucene's field length), norms quantized
    with the same SmallFloat encoding the original index used."""
    inverted = read_postings(index_dir, field)
    dl: dict[int, int] = {}
    for postings in inverted.values():
        for doc, freq, _ in postings:
            dl[doc] = dl.get(doc, 0) + freq
    nb = {d: int(smallfloat.encode_norm_from_length(np.array([n]))[0]) for d, n in dl.items()}
    dlq = {d: float(smallfloat.quantized_doc_length(np.array([b], dtype=np.uint8))[0])
           for d, b in nb.items()}

    rows = []
    for term, postings in inverted.items():
        for doc, freq, positions in postings:
            rows.append((0, doc, field, term, freq, [int(p) for p in positions],
                         dlq[doc], nb[doc]))
    for doc in dl:  # sentinel rows (doc stats)
        rows.append((0, doc, f"__doc__{field}", f"sha-{doc}", dl[doc], None,
                     dlq[doc], nb[doc]))
    tf_all = spark.createDataFrame(
        rows,
        "segment_id int, doc_id long, field string, term string, freq int, "
        "positions array<int>, dlq double, norm_byte int",
    )
    spec = CorpusSpec(text_fields=[FieldSpec(field, field, True)],
                      keyword_fields=[], key_cols=["doc_id"], id_col="doc_id",
                      meta_cols=[])
    docs_df = spark.createDataFrame([(d, "") for d in dl], "doc_id long, content string")
    ix = LogicalIndex(docs_df, spec, analyzer="simple", quantize_norms=True)
    tf_all = tf_all.persist()
    ix._tf_all = tf_all
    ix.tf = tf_all.filter(~F.col("field").startswith("__doc__"))
    ix.doc_stats = tf_all.filter(F.col("field").startswith("__doc__")).select(
        "segment_id", "doc_id",
        F.expr("substring(field, 8)").alias("field"),
        F.col("freq").cast("int").alias("length"),
        "norm_byte", "dlq", F.col("term").alias("content_sha256"),
    )
    return ix


def test_keyword_search_golden(spark):
    """search_test.go:27-53: 8 hits for content:bat; top title is
    'Bat recycling' (classic similarity — the reference's default)."""
    ix = _build_index_from_fixture(spark, BELFRY)
    s = Searcher(ix, "classic")
    total, top = s.search_with_total(TermQuery("content", "bat"), 10)
    assert total == 8
    stored = read_stored_documents(BELFRY)
    top_doc = top.collect()[0]["doc_id"]
    assert stored[top_doc]["title"] == "Bat recycling"


def test_single_search_golden_worldtime(spark):
    """TestSingleSearch (search_test.go:56-63): 16 hits for 'time' in
    usingworldtimepro."""
    ix = _build_index_from_fixture(spark, WORLDTIME)
    s = Searcher(ix, "classic")
    assert s.count(TermQuery("content", "time")) == 16


def test_index_stats_parity(spark):
    """The rebuilt index reproduces the fixture's own term dictionary
    stats (df and ttf for every content term) and doc count."""
    ix = _build_index_from_fixture(spark, BELFRY)
    want = {t.term.decode(): (t.df, t.ttf) for t in read_terms(BELFRY)["content"]}
    got = {
        r["term"]: (r["df"], r["ttf"])
        for r in ix.tf.groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("freq").alias("ttf"))
        .collect()
    }
    assert got == want
    assert ix.doc_stats.count() == 8


def test_phrase_on_fixture_positions(spark):
    """Positions survive the rebuild: a phrase taken from adjacent
    fixture positions matches, its reverse does not."""
    from golucene_spark.search.phrase import phrase_search

    inverted = read_postings(BELFRY, "content")
    # find an adjacent (p, p+1) pair of distinct terms in doc 0
    by_pos = {}
    for term, postings in inverted.items():
        for doc, _f, positions in postings:
            if doc == 0:
                for p in positions:
                    by_pos[p] = term
    pair = None
    for p in sorted(by_pos):
        if p + 1 in by_pos and by_pos[p] != by_pos[p + 1]:
            pair = (by_pos[p], by_pos[p + 1])
            break
    assert pair is not None
    ix = _build_index_from_fixture(spark, BELFRY)
    s = Searcher(ix, "bm25")
    hits = {r["doc_id"] for r in phrase_search(s, "content", list(pair), 20).collect()}
    assert 0 in hits


@pytest.mark.parametrize("index_dir", [BELFRY, WORLDTIME, BELFRY_ZH])
def test_norms_byte_parity(spark, index_dir):
    """Our SmallFloat 3.15 norm encoding reproduces the fixture's own
    .nvd norm bytes byte-for-byte from the reconstructed field lengths
    (dl = sum of freqs) — scoring-parity proof at the encoding level."""
    from ref_index import read_norms

    want = read_norms(index_dir)["content"]
    inverted = read_postings(index_dir, "content")
    dl: dict[int, int] = {}
    for postings in inverted.values():
        for doc, freq, _ in postings:
            dl[doc] = dl.get(doc, 0) + freq
    got = [
        int(smallfloat.encode_norm_from_length(np.array([dl[d]]))[0])
        for d in range(len(dl))
    ]
    assert got == want


def test_federated_search_golden(spark):
    """TestFederatedSearch (search_test.go:72-77): 'time' over
    belfrysample + usingworldtimepro federated -> 17 total hits (16 +
    1), via MultiIndex (the CompositeReader docBase composition,
    compositeReader.go:126-161)."""
    from golucene_spark.index import MultiIndex

    a = _build_index_from_fixture(spark, BELFRY)
    b = _build_index_from_fixture(spark, WORLDTIME)
    multi = MultiIndex([a, b])
    s = Searcher(multi, "classic")
    assert s.count(TermQuery("content", "time")) == 17
    # per-index sanity (the same sub-indexes answer alone)
    assert Searcher(a, "classic").count(TermQuery("content", "time")) == 1
    # composite stats aggregate across sub-readers
    cs = multi.collection_stats_row("content")
    assert cs["max_doc"] == 24  # 8 + 16 docs
    # top-k works with shifted docBases: ids stay unique
    top = s.search(TermQuery("content", "time"), 20).collect()
    ids = [r["doc_id"] for r in top]
    assert len(ids) == len(set(ids)) == 17

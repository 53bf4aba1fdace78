"""Position payloads: prox-stream payload bytes
(termsHashConsumerPerField.go:268-282) re-expressed as a native
array<float> column parallel to the array<int> positions column, with
PayloadTermQuery scoring."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from golucene_spark.index import CorpusSpec, FieldSpec, IndexBuilder, LogicalIndex, MaterializedIndex
from golucene_spark.search import Searcher, payload_term_search


def _spec():
    return CorpusSpec(
        text_fields=[FieldSpec("text", "text", True, analyzer="whitespace",
                               payloads=True)],
        keyword_fields=[],
        key_cols=["doc_id"],
        id_col="doc_id",
        meta_cols=[],
    )


@pytest.fixture()
def docs(spark):
    rows = [
        (0, "alpha|2.0 beta|4.0 alpha|6.0"),
        (1, "alpha|1.5 gamma"),
        (2, "beta beta|0.25"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_payload_blob_roundtrip(spark, docs):
    ix = LogicalIndex(docs, _spec(), analyzer="whitespace", quantize_norms=False)
    rows = ix.postings_for_terms("text", ["alpha"], with_payloads=True).collect()
    by_doc = {r["doc_id"]: r["payloads"] for r in rows}
    assert by_doc == {0: [2.0, 6.0], 1: [1.5]}
    # bare tokens (no delimiter / unparseable suffix) carry payload 1.0
    rows_g = ix.postings_for_terms("text", ["gamma"], with_payloads=True).collect()
    assert rows_g[0]["payloads"] == [1.0]


def test_float32_payloads_bit_exact_through_build_and_expunge(spark, tmp_path):
    """float32 payloads — negatives, denormals and zero included — come
    back bit-exact from a materialized build and again after an expunge
    merge, both as stored and through payload scoring's double cast."""
    from golucene_spark.index.deletes import delete_docs
    from golucene_spark.index.merge import merge_segments

    vals = np.array([0.0, 1.0, -1.0, 0.25, 3.5, 1e-40, -1e-40, 123.456, 7.0],
                    dtype=np.float32)
    text = " ".join(f"v|{float(x)!r}" for x in vals)
    df = spark.createDataFrame([(0, text), (1, "v|2.0")], "doc_id long, text string")
    ixdir = str(tmp_path / "ix")
    IndexBuilder(spark, _spec(), analyzer="whitespace", quantize_norms=False,
                 num_segments=1).build(df, ixdir)

    def stored():
        ix = MaterializedIndex(spark, ixdir)
        p = ix.postings_for_terms("text", ["v"], with_payloads=True)
        row = p.filter(F.col("doc_id") == 0).select(
            "payloads", F.col("payloads").cast("array<double>").alias("d")
        ).collect()[0]
        return ix, row["payloads"], row["d"]

    def bits(xs):
        return np.array(xs, dtype=np.float32).view(np.uint32).tolist()

    ix, got, got_d = stored()
    assert bits(got) == bits(vals) and bits(got_d) == bits(vals)
    assert got_d == [float(x) for x in vals]  # exact, not approx
    delete_docs(spark, ixdir, [1])
    segs = [r["segment_id"] for r in ix.term_dict.select("segment_id").distinct().collect()]
    merge_segments(spark, ixdir, segs, expunge_deletes=True)
    _, got2, got2_d = stored()
    assert bits(got2) == bits(vals) and got2_d == got_d


def test_payload_term_scoring(spark, docs):
    ix = LogicalIndex(docs, _spec(), analyzer="whitespace", quantize_norms=False)
    s = Searcher(ix, "bm25")
    hits = {r["doc_id"]: r["score"]
            for r in payload_term_search(s, "text", "alpha", 10).collect()}
    base = {r["doc_id"]: r["score"]
            for r in payload_term_search(s, "text", "alpha", 10,
                                         include_span_score=False).collect()}
    # avg payloads: doc0 = (2+6)/2 = 4, doc1 = 1.5
    assert base[0] == pytest.approx(4.0, abs=0)
    assert base[1] == pytest.approx(1.5, abs=0)
    from golucene_spark.search import TermQuery

    plain = {r["doc_id"]: r["score"]
             for r in s.search(TermQuery("text", "alpha"), 10).collect()}
    for d in hits:
        assert hits[d] == pytest.approx(plain[d] * base[d], rel=1e-12)


def test_payloads_survive_materialized_build_and_merge(spark, docs, tmp_path):
    ixdir = str(tmp_path / "ix")
    IndexBuilder(spark, _spec(), analyzer="whitespace", quantize_norms=False,
                 num_segments=2).build(docs, ixdir)
    ix = MaterializedIndex(spark, ixdir)
    rows = ix.postings_for_terms("text", ["alpha"], with_payloads=True).collect()
    by_doc = {r["doc_id"]: r["payloads"] for r in rows}
    assert by_doc == {0: [2.0, 6.0], 1: [1.5]}
    # expunge-merge re-blocks through the explode path; payloads survive
    from golucene_spark.index.merge import merge_segments

    segs = [r["segment_id"] for r in ix.term_dict.select("segment_id").distinct().collect()]
    merge_segments(spark, ixdir, segs, expunge_deletes=True)
    ix2 = MaterializedIndex(spark, ixdir)
    rows2 = ix2.postings_for_terms("text", ["alpha"], with_payloads=True).collect()
    by_doc2 = {r["doc_id"]: r["payloads"] for r in rows2}
    assert by_doc2 == by_doc


def test_payload_field_requires_whitespace_analyzer(spark, tmp_path):
    """ADVICE r3: standard/simple analyzers tokenize the '|' delimiter
    away, silently indexing junk terms with payload 1.0 — build must
    refuse instead."""
    import pytest as _pytest

    from golucene_spark.index import CorpusSpec, FieldSpec, IndexBuilder

    df = spark.createDataFrame([(0, "alpha|2.0 beta|0.5")], "doc_id long, text string")
    spec = CorpusSpec(
        text_fields=[FieldSpec("text", "text", True, payloads=True)],
        keyword_fields=[], key_cols=["doc_id"], id_col="doc_id", meta_cols=[],
    )
    with _pytest.raises(ValueError, match="whitespace"):
        IndexBuilder(spark, spec, analyzer="standard", num_segments=1).build(
            df, str(tmp_path / "pix")
        )
    # per-field override to whitespace is accepted even under a
    # non-whitespace index analyzer
    spec_ok = CorpusSpec(
        text_fields=[FieldSpec("text", "text", True, payloads=True, analyzer="whitespace")],
        keyword_fields=[], key_cols=["doc_id"], id_col="doc_id", meta_cols=[],
    )
    IndexBuilder(spark, spec_ok, analyzer="standard", num_segments=1).build(
        df, str(tmp_path / "pix_ok")
    )

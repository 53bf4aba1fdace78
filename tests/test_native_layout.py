"""Postings layout: positions are stored as a native Parquet
array<int> per posting and payloads as array<float>, through the bulk
build, an NRT update and an expunge merge — no field is ever a binary
blob that a reader has to decode."""

from pyspark.sql import types as T

from golucene_spark.index import CorpusSpec, FieldSpec, IndexBuilder, MaterializedIndex
from golucene_spark.index.deletes import update_documents
from golucene_spark.index.merge import merge_segments

POSITIONS = T.ArrayType(T.ArrayType(T.IntegerType()))
PAYLOADS = T.ArrayType(T.ArrayType(T.FloatType()))


def _spec():
    return CorpusSpec(
        text_fields=[
            FieldSpec("text", "text", True),
            FieldSpec("ptext", "ptext", True, analyzer="whitespace", payloads=True),
        ],
        keyword_fields=[],
        key_cols=["doc_id"],
        id_col="doc_id",
        meta_cols=[],
    )


def _assert_native(spark, ixdir):
    ix = MaterializedIndex(spark, ixdir)
    fields = {f.name: f.dataType for f in ix.postings.schema.fields}
    assert fields["positions"] == POSITIONS
    assert fields["payloads"] == PAYLOADS
    tv = ix.term_vectors_frame()
    assert tv.schema["positions"].dataType == T.ArrayType(T.IntegerType())
    return ix


def test_positions_and_payloads_are_native_lists(spark, tmp_path):
    ixdir = str(tmp_path / "ix")
    schema = "doc_id long, text string, ptext string"
    docs = spark.createDataFrame(
        [(0, "red fox red", "a|2.0 b|0.5 a|4.0"), (1, "blue fox", "b|1.5")], schema
    )
    IndexBuilder(spark, _spec(), num_segments=2, store_term_vectors=True).build(docs, ixdir)
    ix = _assert_native(spark, ixdir)
    rows = {r["doc_id"]: r for r in ix.postings_for_terms(
        "ptext", ["a"], with_positions=True, with_payloads=True).collect()}
    assert rows[0]["positions"] == [0, 2] and rows[0]["payloads"] == [2.0, 4.0]
    assert {e["term"]: e["positions"] for e in ix.term_vector(0, "text")} == {
        "red": [0, 2], "fox": [1],
    }

    update_documents(spark, ixdir, spark.createDataFrame(
        [(1, "green fox fox", "b|3.0 c")], schema), _spec())
    ix = _assert_native(spark, ixdir)
    assert {e["term"]: e["positions"] for e in ix.term_vector(1, "text")} == {
        "green": [0], "fox": [1, 2],
    }

    segs = [r["segment_id"] for r in ix.term_dict.select("segment_id").distinct().collect()]
    merge_segments(spark, ixdir, segs, expunge_deletes=True)
    ix = _assert_native(spark, ixdir)
    rows = {r["doc_id"]: r for r in ix.postings_for_terms(
        "ptext", ["b"], with_positions=True, with_payloads=True).collect()}
    assert rows[0]["positions"] == [1] and rows[0]["payloads"] == [0.5]
    assert rows[1]["positions"] == [0] and rows[1]["payloads"] == [3.0]

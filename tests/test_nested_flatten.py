"""Nested pure-OR term groups fold into the boolean single-scan path
(reference booleanScorer.go scores nested clauses through separate
sub-scorers; here a nested `a AND (b OR c)` rides ONE term-pruned
postings scan, with the group's MUST semantics enforced by a bitmask
OR'd at aggregation time).  These tests pin the fold's semantics; the
value-level oracle is the `nested_bool_bm25` driver gate."""

import pytest

from golucene_spark.index import CorpusSpec, FieldSpec, LogicalIndex
from golucene_spark.search import Searcher, parse_query


@pytest.fixture(scope="module")
def nix(spark):
    rows = [
        (0, "alpha beta"),            # a + b
        (1, "alpha gamma"),           # a + c
        (2, "alpha beta gamma"),      # a + b + c
        (3, "alpha delta"),           # a only
        (4, "beta gamma"),            # group only, no a
        (5, "delta epsilon"),         # neither
    ]
    df = spark.createDataFrame(rows, "doc_id long, body string")
    spec = CorpusSpec(
        text_fields=[FieldSpec("body", "body", True)],
        keyword_fields=[], key_cols=["doc_id"], id_col="doc_id", meta_cols=[],
    )
    return LogicalIndex(df, spec, analyzer="standard", quantize_norms=True).persist()


def _q(s):
    return parse_query(s, default_field="body", analyzer="standard")


def _scores(searcher, qs, k=10):
    return {r["doc_id"]: r["score"] for r in searcher.search(_q(qs), k).collect()}


@pytest.mark.parametrize("sim", ["bm25", "lm_dirichlet"])
def test_must_group_match_set(spark, nix, sim):
    s = Searcher(nix, sim)
    got = _scores(s, "body:alpha AND (body:beta OR body:gamma)")
    # docs must match alpha AND at least one group member
    assert set(got) == {0, 1, 2}


@pytest.mark.parametrize("sim", ["bm25", "lm_dirichlet"])
def test_flattened_score_is_sum_of_member_scores(spark, nix, sim):
    s = Searcher(nix, sim)
    a = _scores(s, "body:alpha")
    b = _scores(s, "body:beta")
    c = _scores(s, "body:gamma")
    got = _scores(s, "body:alpha AND (body:beta OR body:gamma)")
    for d in got:
        want = a[d] + b.get(d, 0.0) + c.get(d, 0.0)
        assert got[d] == pytest.approx(want, rel=1e-12), d


def test_nested_boost_folds_linearly(spark, nix):
    s = Searcher(nix, "bm25")
    a = _scores(s, "body:alpha")
    b = _scores(s, "body:beta")
    c = _scores(s, "body:gamma")
    got = _scores(s, "body:alpha AND (body:beta OR body:gamma)^3")
    for d in got:
        want = a[d] + 3.0 * (b.get(d, 0.0) + c.get(d, 0.0))
        assert got[d] == pytest.approx(want, rel=1e-12), d


def test_two_must_groups(spark, nix):
    s = Searcher(nix, "bm25")
    got = _scores(s, "(body:alpha OR body:delta) AND (body:beta OR body:gamma)")
    # every doc with (alpha|delta) and (beta|gamma)
    assert set(got) == {0, 1, 2}


def test_should_group_keeps_or_semantics(spark, nix):
    s = Searcher(nix, "bm25")
    got = _scores(s, "body:alpha OR (body:beta OR body:gamma)")
    assert set(got) == {0, 1, 2, 3, 4}


def test_dead_member_in_must_group_is_dropped(spark, nix):
    s = Searcher(nix, "bm25")
    got = _scores(s, "body:alpha AND (body:beta OR body:zzzmissing)")
    assert set(got) == {0, 2}
    # all members dead -> MUST clause matches nothing -> empty result
    assert _scores(s, "body:alpha AND (body:zzz1 OR body:zzz2)") == {}


def test_duplicate_term_across_group_falls_back(spark, nix):
    s = Searcher(nix, "bm25")
    a = _scores(s, "body:alpha")
    b = _scores(s, "body:beta")
    got = _scores(s, "body:alpha AND (body:alpha OR body:beta)")
    for d in got:
        # alpha scored once as the MUST clause and once as a group member
        want = 2.0 * a[d] + b.get(d, 0.0)
        assert got[d] == pytest.approx(want, rel=1e-12), d
    assert set(got) == {0, 1, 2, 3}


def test_classic_nested_keeps_coord_semantics(spark, nix):
    """The classic similarity's nested coord factor forbids the fold —
    the nested group must score through its own sub-scorer (doc 0
    matches one of two group members, so the nested 1/2 coord applies).
    explain() recomputes the decomposition independently of the scoring
    plan, so explain == score proves the un-flattened path ran with the
    right coords."""
    s = Searcher(nix, "classic")
    q = _q("body:alpha AND (body:beta OR body:gamma)")
    got = {r["doc_id"]: r["score"] for r in s.search(q, 10).collect()}
    assert set(got) == {0, 1, 2}
    for d, sc in got.items():
        ex = s.explain(q, d)
        assert ex["match"] and ex["value"] == pytest.approx(sc, rel=1e-12), d


def test_single_exchange_plan(spark, tmp_path_factory):
    """The fold's point at scale: `a AND (b OR c)` must be ONE postings
    scan + ONE aggregation exchange, not a per-clause scan-and-join."""
    import shutil

    from golucene_spark.index import IndexBuilder, MaterializedIndex

    sf = "/root/testdata/sf0.001"
    ixdir = str(tmp_path_factory.mktemp("nested_ix") / "ix")
    shutil.rmtree(ixdir, ignore_errors=True)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    IndexBuilder(spark, CorpusSpec.documents(), num_segments=4).build(docs, ixdir)
    s = Searcher(MaterializedIndex(spark, ixdir), "bm25")
    q = _q("text:data AND (text:query OR text:window)")
    plan = s.score_frame(q)._jdf.queryExecution().optimizedPlan().toString()
    n_scans = plan.count("Relation")
    assert n_scans == 1, f"expected one postings scan, got {n_scans}:\n{plan}"

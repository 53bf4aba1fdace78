"""Query AST + rewrite (the Query/Rewrite surface of core/search).

TermQuery          <- core/search/terms.go:13-43
BooleanQuery       <- core/search/booleanQuery.go:11-37 (maxClauseCount
                      1024 at :9), clause kinds booleanClause.go
rewrite()          <- the fixpoint loop of search.go:173-181 +
                      BooleanQuery.Rewrite single-clause unwrap
                      (booleanQuery.go:158-181)
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum

MAX_CLAUSE_COUNT = 1024  # booleanQuery.go:9


class Occur(Enum):
    SHOULD = "SHOULD"
    MUST = "MUST"
    MUST_NOT = "MUST_NOT"


@dataclass(frozen=True)
class TermQuery:
    field: str
    term: str
    boost: float = 1.0

    def rewrite(self):
        return self


@dataclass(frozen=True)
class WildcardQuery:
    """Deferred multi-term query: expanded against the index's term
    dictionary at search time (search/multiterm.py)."""

    field: str
    pattern: str
    boost: float = 1.0

    def rewrite(self):
        return self


@dataclass(frozen=True)
class PhraseQuery:
    """Phrase query over indexed positions (Q18).  The reference
    indexes positions (termsHashConsumerPerField.go:268-282) and its
    parser grammar has the phrase production (queryParser.go:58) but
    panics on it; we implement the Lucene semantics (scorer in
    search/phrase.py).

    ``slop`` > 0 enables sloppy matching ("a b"~N): the sloppy
    frequency is the set-oriented analogue of Lucene's
    SloppyPhraseScorer — every alignment tuple (one position per term)
    whose offset-adjusted spread is <= slop contributes
    1/(1 + spread), summed per doc (sloppyFreq, similarities.go's
    1/(distance+1) weighting).  slop=0 is the exact-adjacency path."""

    field: str
    terms: tuple  # tuple[str, ...]
    boost: float = 1.0
    slop: int = 0
    # in_order=True turns the sloppy matcher into the ordered
    # SpanNearQuery (Lucene spans module): alignment positions must be
    # non-decreasing in term order
    in_order: bool = False

    def rewrite(self):
        if len(self.terms) == 1:
            return TermQuery(self.field, self.terms[0], self.boost)
        return self


@dataclass(frozen=True)
class MultiPhraseQuery:
    """MultiPhraseQuery (core Lucene 4.10; absent from the reference):
    a phrase where each position admits ANY of a set of terms — the
    analyzer-synonym phrase.  Matching generalizes PhraseQuery: slot i
    matches at adjusted position p when any of its terms occurs at
    p + i; freq counts alignments (sloppy weighting identical to
    PhraseQuery's when slop > 0).  idf sums over ALL terms of all
    slots (Lucene's MultiPhraseWeight idfExplain(allTerms))."""

    field: str
    term_sets: tuple  # tuple[tuple[str, ...], ...]
    boost: float = 1.0
    slop: int = 0
    in_order: bool = False

    def rewrite(self):
        if all(len(s) == 1 for s in self.term_sets):
            return PhraseQuery(
                self.field, tuple(s[0] for s in self.term_sets),
                self.boost, self.slop, self.in_order,
            ).rewrite()
        return self


@dataclass(frozen=True)
class FuzzyQuery:
    """Deferred multi-term query: expanded against the term dictionary
    with a Levenshtein predicate (queryParser.go:178-190 panics in the
    reference; automaton lib at core/util/automaton/ is unused)."""

    field: str
    term: str
    max_edits: int = 2
    boost: float = 1.0
    # FuzzyQuery.prefixLength (Lucene 4.10): candidate terms must share
    # this many leading chars with the query term — pushed as a
    # StartsWith range onto the sorted term dictionary
    prefix_length: int = 0

    def rewrite(self):
        if self.max_edits <= 0:
            return TermQuery(self.field, self.term, self.boost)
        return self


@dataclass(frozen=True)
class RegexpQuery:
    """Regexp multi-term query (queryparser syntax /re/; the reference's
    automaton lib at core/util/automaton/regexp.go is never reached by a
    live path).  Expanded against the term dictionary via rlike."""

    field: str
    regex: str
    boost: float = 1.0

    def rewrite(self):
        return self


@dataclass(frozen=True)
class TermRangeQuery:
    """Term range [a TO b] / {a TO b} (queryParser.go:214-219 panics in
    the reference).  Expanded against the term dictionary with a range
    predicate — Parquet min/max stats prune the dictionary scan."""

    field: str
    lower: str | None
    upper: str | None
    include_lower: bool = True
    include_upper: bool = True
    boost: float = 1.0

    def rewrite(self):
        return self


@dataclass(frozen=True)
class MatchAllQuery:
    boost: float = 1.0

    def rewrite(self):
        return self


@dataclass(frozen=True)
class DisjunctionMaxQuery:
    """Lucene's DisjunctionMaxQuery (core Lucene 4.10; not ported by the
    reference): score = max over sub-queries + tie_breaker * (sum of
    the other matching sub-queries' scores).  The standard multi-field
    search primitive — with tie_breaker=0 a doc is ranked by its best
    field alone, avoiding the boolean-OR inflation when the same term
    hits several fields."""

    queries: tuple  # tuple[query, ...]
    tie_breaker: float = 0.0
    boost: float = 1.0

    def rewrite(self):
        qs = tuple(q.rewrite() for q in self.queries)
        if len(qs) == 1:
            return _boosted(qs[0], self.boost)
        return DisjunctionMaxQuery(qs, self.tie_breaker, self.boost)


@dataclass(frozen=True)
class ConstantScoreQuery:
    """Lucene's ConstantScoreQuery (core Lucene 4.10; not ported by the
    reference): every doc matching the wrapped query scores the same
    constant — the wrapped query is a pure filter.  Classic similarity
    folds queryNorm exactly as ConstantWeight does (sumOfSquaredWeights
    = boost^2, score = boost * queryNorm), so a standalone classic CSQ
    scores 1.0 regardless of boost, and BM25 (queryNorm 1) scores
    ``boost``."""

    query: object
    boost: float = 1.0

    def rewrite(self):
        return ConstantScoreQuery(self.query.rewrite(), self.boost)


@dataclass(frozen=True)
class BooleanClause:
    query: "TermQuery | BooleanQuery | MatchAllQuery"
    occur: Occur = Occur.SHOULD

    @property
    def is_prohibited(self):
        return self.occur is Occur.MUST_NOT

    @property
    def is_required(self):
        return self.occur is Occur.MUST


@dataclass(frozen=True)
class BooleanQuery:
    clauses: tuple = field(default_factory=tuple)
    minimum_should_match: int = 0
    boost: float = 1.0

    def __post_init__(self):
        if len(self.clauses) > MAX_CLAUSE_COUNT:
            raise ValueError(f"maxClauseCount is set to {MAX_CLAUSE_COUNT}")

    def rewrite(self):
        """Fixpoint normalization: unwrap single-SHOULD/MUST-clause
        booleans (boost folded), recurse into children."""
        cl = tuple(
            BooleanClause(c.query.rewrite(), c.occur) for c in self.clauses
        )
        if (
            len(cl) == 1
            and not cl[0].is_prohibited
            and self.minimum_should_match <= 1
        ):
            q = cl[0].query
            if self.boost != 1.0:
                q = _boosted(q, self.boost)
            return q
        return BooleanQuery(cl, self.minimum_should_match, self.boost)


def _boosted(q, boost: float):
    if isinstance(q, TermQuery):
        return TermQuery(q.field, q.term, q.boost * boost)
    if isinstance(q, DisjunctionMaxQuery):
        return DisjunctionMaxQuery(q.queries, q.tie_breaker, q.boost * boost)
    if isinstance(q, BooleanQuery):
        return BooleanQuery(q.clauses, q.minimum_should_match, q.boost * boost)
    if isinstance(q, MatchAllQuery):
        return MatchAllQuery(q.boost * boost)
    if isinstance(q, PhraseQuery):
        return PhraseQuery(q.field, q.terms, q.boost * boost, q.slop, q.in_order)
    if isinstance(q, FuzzyQuery):
        return FuzzyQuery(q.field, q.term, q.max_edits, q.boost * boost,
                          q.prefix_length)
    if isinstance(q, WildcardQuery):
        return WildcardQuery(q.field, q.pattern, q.boost * boost)
    if isinstance(q, RegexpQuery):
        return RegexpQuery(q.field, q.regex, q.boost * boost)
    if isinstance(q, TermRangeQuery):
        return TermRangeQuery(q.field, q.lower, q.upper, q.include_lower,
                              q.include_upper, q.boost * boost)
    if isinstance(q, ConstantScoreQuery):
        return ConstantScoreQuery(q.query, q.boost * boost)
    return q

"""Untimed answer checking.

* Term, boolean and keyword queries on an index that has seen no update:
  the top-10 ``(doc_id, score e6)`` must equal
  ``golucene_spark.oracle.OracleIndex``'s.  Expected answers are cached
  per seed in ``cache_dir``.
* Every other query (phrase, fuzzy, and anything over an index with
  updates and deletes, whose statistics still count deleted docs until
  an expunge): every hit must be a live document whose current version
  matches by a brute-force scan of the generated tokens, and the hit
  count must be min(k, matching live docs).
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import defaultdict
from pathlib import Path

import numpy as np

from corpus import Corpus


def _code_key() -> str:
    """Cache key part: the generator, this checker and the oracle."""
    h = hashlib.sha256()
    here = Path(__file__).resolve().parent
    for p in (here / "corpus.py", here / "checks.py",
              here.parent / "golucene_spark" / "oracle.py"):
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build_oracle(corpus: Corpus, doc_ids: np.ndarray):
    """OracleIndex over ``corpus`` with the engine's doc ids."""
    from golucene_spark.oracle import OracleIndex

    ids = doc_ids.tolist()
    return OracleIndex(zip(ids, corpus.content),
                       keyword_docs={"lang": list(zip(ids, corpus.lang))})


def hits_of(rows) -> list[tuple[int, int]]:
    from golucene_spark.search.executor import cursor_e6

    return [(int(r["doc_id"]), cursor_e6(r["score"])) for r in rows]


class Oracle:
    """Expected top-10 answers for one unchanged corpus, cached."""

    def __init__(self, corpus: Corpus, doc_ids: np.ndarray, cache_dir: Path, tag: str):
        self.corpus = corpus
        self.doc_ids = doc_ids
        self.cache_path = cache_dir / f"{tag}-{_code_key()}.json"
        self._expected: dict[str, list] = {}
        if self.cache_path.exists():
            self._expected = json.loads(self.cache_path.read_text())
        self._oracle = None
        self._dirty = False

    def save(self) -> None:
        if self._dirty:
            self.cache_path.parent.mkdir(parents=True, exist_ok=True)
            tmp = self.cache_path.with_suffix(f".{os.getpid()}.tmp")
            tmp.write_text(json.dumps(self._expected))
            os.replace(tmp, self.cache_path)

    def check(self, text: str, query, rows) -> bool:
        if text not in self._expected:
            from golucene_spark.search.executor import cursor_e6

            if self._oracle is None:
                self._oracle = build_oracle(self.corpus, self.doc_ids)
            want = self._oracle.search(query, 10)
            self._expected[text] = [[int(d), cursor_e6(s)] for d, s in want]
            self._dirty = True
        want = self._expected[text]
        got = hits_of(rows)
        return len(got) == len(want) and all(
            g[0] == w[0] and abs(g[1] - w[1]) <= 1 for g, w in zip(got, want)
        )


def levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


class Truth:
    """The documents an index should show: the base corpus, then update
    batches (new versions) and deletes applied in order.  ``match``
    evaluates a parsed query by brute force over the live documents."""

    def __init__(self, corpus: Corpus, doc_ids: np.ndarray):
        self.corpus = corpus
        self.doc_ids = doc_ids
        self.vocab = corpus.vocab
        self.word_id = {w: i for i, w in enumerate(self.vocab.tolist())}
        self.doc_of = np.repeat(np.arange(corpus.n_docs), np.diff(corpus.offsets))
        self.override: dict[int, tuple[str, list]] = {}  # doc_id -> (lang, words)
        self.deleted: set[int] = set()
        self._base: dict[tuple, set] = {}

    def update(self, batch: Corpus, ids: list[int]) -> None:
        for i, d in enumerate(ids):
            self.override[d] = (batch.lang[i], batch.vocab[batch.doc_tokens(i)].tolist())
            self.deleted.discard(d)

    def delete(self, ids) -> None:
        self.deleted.update(int(d) for d in ids)

    def _live_base(self, rows) -> set:
        ds = self.doc_ids[np.asarray(sorted(rows), dtype=np.int64)].tolist()
        return {d for d in ds if d not in self.override and d not in self.deleted}

    def _term(self, field: str, term: str) -> set:
        key = (field, term)
        if key not in self._base:
            if field == "lang":
                rows = {i for i, lg in enumerate(self.corpus.lang) if lg == term}
            else:
                tid = self.word_id.get(term)
                rows = set() if tid is None else set(
                    np.unique(self.doc_of[self.corpus.tokens == tid]).tolist())
            self._base[key] = rows
        out = self._live_base(self._base[key])
        for d, (lang, words) in self.override.items():
            if d not in self.deleted and (lang == term if field == "lang" else term in words):
                out.add(d)
        return out

    def _phrase(self, terms: tuple) -> set:
        a, b = (self.word_id.get(t, -1) for t in terms)
        t = self.corpus.tokens
        hit = np.flatnonzero((t[:-1] == a) & (t[1:] == b))
        hit = hit[self.doc_of[hit] == self.doc_of[hit + 1]]
        out = self._live_base(set(self.doc_of[hit].tolist()))
        for d, (_, words) in self.override.items():
            if d not in self.deleted and any(
                    x == terms[0] and y == terms[1] for x, y in zip(words, words[1:])):
                out.add(d)
        return out

    def _fuzzy(self, term: str, edits: int) -> set:
        words = set(self.vocab[np.unique(self.corpus.tokens)].tolist())
        for _, ws in self.override.values():
            words.update(ws)
        near = [w for w in words
                if abs(len(w) - len(term)) <= edits and levenshtein(w, term) <= edits]
        return set().union(*(self._term("content", w) for w in near))

    def match(self, q) -> set:
        from golucene_spark.search.ast import (BooleanQuery, FuzzyQuery,
                                               PhraseQuery, TermQuery)

        if isinstance(q, TermQuery):
            return self._term(q.field, q.term)
        if isinstance(q, PhraseQuery) and len(q.terms) == 2 and q.slop == 0:
            return self._phrase(q.terms)
        if isinstance(q, FuzzyQuery):
            return self._fuzzy(q.term, q.max_edits)
        if isinstance(q, BooleanQuery) and not q.minimum_should_match:
            must = [self.match(c.query) for c in q.clauses if c.is_required]
            should = [self.match(c.query) for c in q.clauses
                      if not c.is_required and not c.is_prohibited]
            out = set.intersection(*must) if must else set().union(*should)
            for c in q.clauses:
                if c.is_prohibited:
                    out -= self.match(c.query)
            return out
        raise TypeError(f"no brute-force matcher for {q!r}")

    def check(self, query, rows, k: int) -> bool:
        match = self.match(query)
        got = [d for d, _ in hits_of(rows)]
        return len(got) == len(set(got)) == min(k, len(match)) and set(got) <= match


def doc_ids_from_meta(index_dir: str, corpus: Corpus) -> np.ndarray:
    """Engine doc ids per corpus row, from the written doc_meta table
    (for specs whose ids come from the (repo, path, commit) sort)."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(index_dir, "doc_meta"),
                      columns=["repo", "path", "commit", "doc_id"])
    key = defaultdict(list)
    cols = (t.column(n).to_pylist() for n in ("repo", "path", "commit", "doc_id"))
    for r, p, c, d in zip(*cols):
        key[(r, p, c)].append(d)
    out = []
    for k in zip(corpus.repo, corpus.path, corpus.commit):
        ds = key.get(k, [])
        if len(ds) != 1:
            raise ValueError(f"row {k} maps to {len(ds)} doc ids")
        out.append(ds[0])
    return np.array(out, dtype=np.int64)

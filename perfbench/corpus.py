"""Seeded realistic-vocabulary corpus and query generators.

Token ranks follow a Zipf-Mandelbrot law, p(r) ~ (r + Q)^-S, over a
vocabulary of letters-only pseudo-words that never collide with the 33
English stop words.  The standard analyzer therefore emits exactly the
generated tokens (lowercase ASCII letters form one UAX#29 word each), so
term statistics can be computed here from the token ids alone.  With
S = 1.7, Q = 100 over 300k words the number of distinct terms grows by
Heaps' law (beta ~ 0.5) to about 10^5 at 50k documents of ~165 tokens,
and the hottest term occurs in about two thirds of the documents.

Rows keep the FIXTURES F1 columns (repo, path, commit, lang, content)
plus a stable ``id`` column for specs that need one.  Everything is a
pure function of the seed: the same seed gives byte-identical tables.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

# Lucene's ENGLISH_STOP_WORDS_SET (33 words); no pseudo-word may equal one
STOP_WORDS = frozenset(
    """a an and are as at be but by for if in into is it no not of on or such
    that the their then there these they this to was will with""".split()
)

ZIPF_S = 1.7
ZIPF_Q = 100.0
VOCAB_SIZE = 300_000
MEAN_LOG_LEN = np.log(140.0)  # lognormal doc length, mean ~165 tokens
SIGMA_LOG_LEN = 0.6
MIN_LEN, MAX_LEN = 16, 1500

LANGS = ["go", "py", "java", "js", "rs", "c"]
LANG_P = [0.3, 0.25, 0.15, 0.15, 0.1, 0.05]

_ONSETS = ("b c d f g h j k l m n p r s t v w z "
           "br cr dr fr gr pr tr st sp sk ch sh th ph bl cl gl pl").split()
_NUCLEI = "a e i o u ai ea ou io".split()
_CODAS = ["", "", "n", "r", "s", "l", "t", "x", "m", "nd", "rk"]


def make_vocab(seed: int, size: int = VOCAB_SIZE) -> np.ndarray:
    """``size`` distinct letters-only pseudo-words of 1-4 syllables,
    shortest first: the rank order gives frequent words short forms, as
    in real text."""
    rng = np.random.default_rng([seed, 1])
    syl = np.array([o + n + c for o in _ONSETS for n in _NUCLEI for c in _CODAS],
                   dtype=object)
    words: dict[str, None] = {}  # insertion-ordered set
    while len(words) < size:
        n = (size - len(words)) * 2
        nsyl = rng.integers(1, 5, size=n)
        idx = rng.integers(0, len(syl), size=(n, 4))
        cand = syl[idx[:, 0]]
        for j in range(1, 4):
            cand = cand + np.where(nsyl > j, syl[idx[:, j]], "")
        for w in cand.tolist():
            if w not in STOP_WORDS:
                words[w] = None
    arr = np.array(list(words)[:size], dtype=object)
    lens = np.fromiter((len(w) for w in arr), dtype=np.int64, count=len(arr))
    return arr[np.lexsort((rng.random(len(arr)), lens))]


def zipf_probs(size: int = VOCAB_SIZE) -> np.ndarray:
    r = np.arange(1, size + 1, dtype=np.float64)
    p = (r + ZIPF_Q) ** -ZIPF_S
    return p / p.sum()


@dataclass
class Corpus:
    """A generated table plus the token ids it was rendered from."""

    seed: int
    vocab: np.ndarray     # rank -> word
    tokens: np.ndarray    # int32 token ranks, all docs concatenated
    offsets: np.ndarray   # doc i owns tokens[offsets[i]:offsets[i+1]]
    ids: np.ndarray       # stable int64 id per row
    repo: list
    path: list
    commit: list
    lang: list
    content: list

    @property
    def n_docs(self) -> int:
        return len(self.ids)

    def doc_tokens(self, i: int) -> np.ndarray:
        return self.tokens[self.offsets[i]:self.offsets[i + 1]]

    def arrow_table(self):
        import pyarrow as pa

        return pa.table({
            "id": pa.array(self.ids, pa.int64()),
            "repo": self.repo, "path": self.path, "commit": self.commit,
            "lang": self.lang, "content": self.content,
        })

    def input_bytes(self) -> int:
        """UTF-8 bytes of every string column: the size of the input."""
        return sum(
            sum(len(s.encode()) for s in col)
            for col in (self.repo, self.path, self.commit, self.lang, self.content)
        )

    def doc_freqs(self) -> np.ndarray:
        """df per vocabulary rank (0 for words absent from the corpus)."""
        doc_of = np.repeat(
            np.arange(self.n_docs, dtype=np.int64), np.diff(self.offsets)
        )
        pairs = np.unique(doc_of * len(self.vocab) + self.tokens)
        return np.bincount(pairs % len(self.vocab), minlength=len(self.vocab))


def make_corpus(seed: int, n_docs: int, first_id: int = 0, stream: int = 0,
                vocab: np.ndarray | None = None,
                extra_token: str | None = None) -> Corpus:
    """``n_docs`` rows with ids ``first_id..``.  ``stream`` separates
    independent draws under one seed (base table, update batches);
    ``extra_token`` is appended to every document (NRT version
    markers)."""
    vocab = make_vocab(seed) if vocab is None else vocab
    rng = np.random.default_rng([seed, 2, stream])
    lens = np.clip(
        np.rint(rng.lognormal(MEAN_LOG_LEN, SIGMA_LOG_LEN, size=n_docs)),
        MIN_LEN, MAX_LEN,
    ).astype(np.int64)
    offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    tokens = rng.choice(
        len(vocab), size=int(offsets[-1]), p=zipf_probs(len(vocab))
    ).astype(np.int32)
    lang_idx = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    words = vocab[tokens]
    suffix = "" if extra_token is None else " " + extra_token
    repo, path, commit, lang, content = [], [], [], [], []
    for i, row in enumerate(ids.tolist()):
        lg = LANGS[lang_idx[i]]
        r = f"org{row % 7}/repo{row % 41}"
        p = f"src/dir{row % 13}/file{row}.{lg}"
        repo.append(r)
        path.append(p)
        commit.append(hashlib.sha1(f"{seed}|{stream}|{r}|{p}".encode()).hexdigest())
        lang.append(lg)
        content.append(" ".join(words[offsets[i]:offsets[i + 1]]) + suffix)
    if extra_token is not None:
        tid = len(vocab)
        vocab = np.append(vocab, np.array([extra_token], dtype=object))
        parts = np.split(tokens, offsets[1:-1])
        tokens = np.concatenate([np.append(t, tid) for t in parts]).astype(np.int32)
        offsets = offsets + np.arange(n_docs + 1)
    return Corpus(seed, vocab, tokens, offsets, ids, repo, path, commit, lang, content)


# -- queries -----------------------------------------------------------

SHAPES = ["term", "and2", "or2", "not", "lang_and", "or16", "phrase",
          "fuzzy", "nested"]
BANDS = ["hot", "mid", "rare", "miss"]
# lead-term bands of the seven shapes that draw one (phrase and fuzzy
# always take mid terms), one block of len(SHAPES) queries at a time:
# every block holds this multiset, in a seeded order, so the hot and
# miss shares are the same in every run while no shape is tied to one
# band across seeds
LEAD_BANDS = ["hot", "hot", "hot", "mid", "mid", "rare", "miss"]


@dataclass(frozen=True)
class QuerySpec:
    qid: int
    shape: str
    band: str      # df band of the query's lead term
    text: str      # classic query-parser syntax
    check: str     # "oracle" (exact top-10) or "membership"


class _Pools:
    """df-band term pools, drawn without replacement so no two queries
    of one stream share a content term (no term-stats memo hits)."""

    def __init__(self, corpus: Corpus, rng):
        df = corpus.doc_freqs()
        n = corpus.n_docs
        present = np.flatnonzero(df > 0)
        order = present[np.argsort(-df[present], kind="stable")]
        hot = order[:100]
        mid = present[(df[present] >= max(5, n // 500)) & (df[present] <= max(6, n // 50))]
        rare = present[df[present] <= 3]
        # dictionary misses: vocabulary words this corpus never drew
        miss = np.flatnonzero(df == 0)
        self.vocab = corpus.vocab
        self.pool = {b: list(rng.permutation(a)) for b, a in
                     zip(BANDS, (hot, mid, rare, miss))}
        self.used: set[int] = set()

    def take(self, band: str, min_len: int = 0) -> str:
        pool = self.pool[band]
        for i in range(len(pool) - 1, -1, -1):
            t = int(pool[i])
            if t not in self.used and len(self.vocab[t]) >= min_len:
                del pool[i]
                self.used.add(t)
                return self.vocab[t]
        raise ValueError(f"df band {band!r} exhausted")


def make_queries(corpus: Corpus, n: int, seed: int) -> list[QuerySpec]:
    """``n`` distinct queries cycling through SHAPES; each block of
    len(SHAPES) queries draws its lead-term bands from LEAD_BANDS in a
    seeded order."""
    rng = np.random.default_rng([seed, 3])
    pools = _Pools(corpus, rng)
    langs = list(rng.permutation(LANGS))
    out: list[QuerySpec] = []
    lead: list[str] = []
    for qid in range(n):
        shape = SHAPES[qid % len(SHAPES)]
        if qid % len(SHAPES) == 0:
            lead = rng.permutation(LEAD_BANDS).tolist()
        band = "mid" if shape in ("phrase", "fuzzy") else lead.pop()
        t = pools.take
        check = "oracle"
        if shape == "term":
            text = f"content:{t(band)}"
        elif shape == "and2":
            text = f"content:{t(band)} AND content:{t('hot')}"
        elif shape == "or2":
            text = f"content:{t(band)} OR content:{t('mid')}"
        elif shape == "not":
            text = f"content:{t(band)} AND NOT content:{t('mid')}"
        elif shape == "lang_and":
            lg = langs[len([q for q in out if q.shape == shape]) % len(langs)]
            text = f"lang:{lg} AND content:{t(band)}"
        elif shape == "or16":
            terms = [t(band)] + [t(BANDS[1 + j % 3]) for j in range(15)]
            text = " OR ".join(f"content:{w}" for w in terms)
        elif shape == "phrase":
            text = _phrase(corpus, pools, rng)
            check = "membership"
        elif shape == "fuzzy":
            # terms of 5+ letters keep the edit-distance-2 expansion
            # (tens of terms) far below the 1024-clause limit
            text = f"content:{t('mid', min_len=5)}~2"
            check = "membership"
        else:  # nested
            text = (f"content:{t(band)} AND "
                    f"(content:{t('mid')} OR content:{t('rare')})")
        out.append(QuerySpec(qid, shape, band, text, check))
    return out


def _phrase(corpus: Corpus, pools: _Pools, rng) -> str:
    """An adjacent token pair that occurs in the corpus, both terms in
    no earlier query and neither among the hottest."""
    for _ in range(10_000):
        d = int(rng.integers(corpus.n_docs))
        toks = corpus.doc_tokens(d)
        j = int(rng.integers(len(toks) - 1))
        a, b = int(toks[j]), int(toks[j + 1])
        if a != b and a >= 20 and b >= 20 and not ({a, b} & pools.used):
            pools.used |= {a, b}
            return f'content:"{corpus.vocab[a]} {corpus.vocab[b]}"'
    raise ValueError("no unused adjacent pair found")

"""Generator tests: determinism and vocabulary targets.

    python3 -m pytest perfbench/test_corpus.py -q
"""

from __future__ import annotations

import hashlib
import io
import re
import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import corpus as gen  # noqa: E402


def digest(c: gen.Corpus) -> str:
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(c.arrow_table(), buf)
    return hashlib.sha256(buf.getvalue()).hexdigest()


@pytest.fixture(scope="module")
def vocab():
    return gen.make_vocab(7)


def test_same_seed_byte_identical(vocab):
    a = gen.make_corpus(7, 500, vocab=vocab)
    b = gen.make_corpus(7, 500, vocab=gen.make_vocab(7))
    assert digest(a) == digest(b)
    assert np.array_equal(a.tokens, b.tokens)
    qa, qb = gen.make_queries(a, 90, 7), gen.make_queries(b, 90, 7)
    assert qa == qb
    assert digest(gen.make_corpus(8, 500)) != digest(a)


def test_vocabulary_is_letters_only_and_stop_free(vocab):
    assert len(set(vocab.tolist())) == gen.VOCAB_SIZE
    assert all(re.fullmatch(r"[a-z]+", w) for w in vocab.tolist())
    assert not set(vocab.tolist()) & gen.STOP_WORDS


def test_analyzer_emits_the_generated_tokens(vocab):
    from golucene_spark.analysis import get_analyzer

    c = gen.make_corpus(7, 300, vocab=vocab, extra_token="qmarker")
    terms, _, _ = get_analyzer("standard").analyze_batch(c.content)
    assert np.array_equal(terms, c.vocab[c.tokens])


def test_heaps_law_vocabulary_targets(vocab):
    """About 10^5 distinct terms at 50k docs, growing with Heaps'
    exponent near 0.5 (not saturating at the vocabulary cap)."""
    small = gen.make_corpus(7, 5_000, vocab=vocab)
    big = gen.make_corpus(7, 50_000, vocab=vocab)
    d_small = int((small.doc_freqs() > 0).sum())
    d_big = int((big.doc_freqs() > 0).sum())
    assert 70_000 <= d_big <= 150_000
    beta = np.log(d_big / d_small) / np.log(len(big.tokens) / len(small.tokens))
    assert 0.4 <= beta <= 0.7
    assert 140 <= len(big.tokens) / big.n_docs <= 190
    top = big.doc_freqs().max() / big.n_docs
    assert 0.4 <= top <= 0.9


def test_queries_cover_shapes_bands_and_share_no_terms(vocab):
    c = gen.make_corpus(7, 3_000, vocab=vocab)
    qs = gen.make_queries(c, 90, 7)
    assert {q.shape for q in qs[:9]} == set(gen.SHAPES)
    for b in range(0, 90, 9):
        assert sorted(q.band for q in qs[b:b + 9]) == sorted(gen.LEAD_BANDS + ["mid"] * 2)
    # the band a shape's lead term comes from is a seeded draw
    pairs = {tuple((q.shape, q.band) for q in gen.make_queries(c, 9, s)) for s in range(8)}
    assert len(pairs) > 1
    words = [w for q in qs for w in re.findall(r"[a-z]+", q.text)
             if w not in ("content", "lang") and w not in gen.LANGS]
    assert len(words) == len(set(words))
    df = c.doc_freqs()
    wid = {w: i for i, w in enumerate(c.vocab.tolist())}
    for q in qs:
        lead = re.findall(r"content:\"?([a-z]+)", q.text)[0]
        if q.band == "miss":
            assert df[wid[lead]] == 0
        elif q.band == "rare":
            assert 1 <= df[wid[lead]] <= 3

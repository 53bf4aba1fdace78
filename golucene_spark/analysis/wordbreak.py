"""Vectorized UAX#29 word-break segmentation.

Implements the Unicode Standard Annex #29 "Word Boundaries" rules (the
public spec behind Lucene's StandardTokenizer JFlex grammar — reference
behavior: analysis/standard/tokenizer.go:104-133 driving the generated
DFA in analysis/standard/tokenizerImpl.go) as whole-batch NumPy array
operations: an entire Arrow batch of documents is concatenated, each
codepoint classified via a lookup table, and the boundary rules (WB5-
WB13b) evaluated as boolean vector expressions.  No per-row Python
scanning — this is the vectorized-pandas-UDF requirement of the north
rule.

Word-break property classes are pinned to the Unicode 6.x values that
Lucene 4.10 shipped with (e.g. U+003A COLON is MidLetter; U+0027
APOSTROPHE behaves as MidNumLet).  ASCII behavior is locked by golden
tests generated from the reference's own DFA tables
(tests/test_analysis_parity.py); non-ASCII classes are derived from
`unicodedata` categories plus the explicit sets below.
"""

from __future__ import annotations

import logging
import sys
import unicodedata

import numpy as np

log = logging.getLogger(__name__)

# --- word-break classes ----------------------------------------------------
OTHER = 0
ALETTER = 1  # includes Hangul (emitted as HANGUL type upstream; same joins)
NUMERIC = 2
EXTNUMLET = 3  # connector punctuation: '_' etc.  (WB13a/WB13b)
MIDLETTER = 4  # joins letter.letter          (WB6/WB7)
MIDNUM = 5  # joins digit.digit             (WB11/WB12)
MIDNUMLET = 6  # joins both                    (WB6/7 + WB11/12)
KATAKANA = 7
HIRAGANA = 8  # one token per char (no join rule)
IDEOGRAPHIC = 9  # one token per char (no join rule)
SEASIAN = 10  # Thai/Lao/Khmer/Myanmar: emitted as runs
EXTEND = 11  # Mn/Mc/Me + Cf: transparent (WB4)

# Unicode 6.x property sets (Lucene 4.10 era), explicit where they differ
# from what general categories imply.
_MIDLETTER_SET = {0x003A, 0x00B7, 0x0387, 0x05F4, 0x2027, 0xFE13, 0xFE55, 0xFF1A}
_MIDNUM_SET = {
    0x002C, 0x003B, 0x037E, 0x0589, 0x060C, 0x060D, 0x066C, 0x07F8,
    0x2044, 0xFE10, 0xFE14, 0xFE50, 0xFE54, 0xFF0C, 0xFF1B,
}
# U+0027 was MidNumLet through Unicode 6.1; the 6.2 Single_Quote split
# keeps identical join behavior for non-Hebrew text, so we fold it in.
_MIDNUMLET_SET = {0x0027, 0x002E, 0x2018, 0x2019, 0x2024, 0xFE52, 0xFF07, 0xFF0E}

_KATAKANA_RANGES = [(0x30A0, 0x30FF), (0x31F0, 0x31FF), (0xFF66, 0xFF9D)]
_HIRAGANA_RANGES = [(0x3041, 0x309F)]
_IDEO_RANGES = [
    (0x3400, 0x4DBF), (0x4E00, 0x9FFF), (0xF900, 0xFAFF),
    (0x3005, 0x3007),  # iteration mark / ideographic number zero
]
_SEA_RANGES = [  # scripts excluded from ALetter by UAX#29 (complex context)
    (0x0E00, 0x0E7F),  # Thai
    (0x0E80, 0x0EFF),  # Lao
    (0x1000, 0x109F),  # Myanmar
    (0x1780, 0x17FF),  # Khmer
]

_TABLE: np.ndarray | None = None


def _in_ranges(cp: int, ranges) -> bool:
    return any(lo <= cp <= hi for lo, hi in ranges)


def _classify(cp: int) -> int:
    if cp in _MIDNUMLET_SET:
        return MIDNUMLET
    if cp in _MIDLETTER_SET:
        return MIDLETTER
    if cp in _MIDNUM_SET:
        return MIDNUM
    if _in_ranges(cp, _KATAKANA_RANGES):
        return KATAKANA
    if _in_ranges(cp, _HIRAGANA_RANGES):
        return HIRAGANA
    if _in_ranges(cp, _IDEO_RANGES):
        return IDEOGRAPHIC
    if _in_ranges(cp, _SEA_RANGES):
        return SEASIAN
    cat = unicodedata.category(chr(cp))
    if cat == "Nd":
        return NUMERIC
    if cat == "Pc":
        return EXTNUMLET
    if cat in ("Mn", "Mc", "Me", "Cf"):
        return EXTEND
    if cat[0] == "L" or cat == "Nl":
        return ALETTER
    return OTHER


def _table_key() -> str:
    """Hash of what the class table is computed from: this module's
    source (class constants, code point sets, _classify, class_table)
    and the Unicode database behind unicodedata.  Any change names a
    new temp file, so a stale table is never loaded."""
    import hashlib
    import inspect

    src = inspect.getsource(sys.modules[__name__]) + unicodedata.unidata_version
    return hashlib.sha256(src.encode()).hexdigest()[:16]


def class_table() -> np.ndarray:
    """uint8 lookup table codepoint -> word-break class, built once per
    machine (BMP exact; supplementary planes via coarse ranges).  The
    65k unicodedata classifications cost ~1.5s, so the table is cached
    to a shared temp file, keyed on _table_key(): each executor python
    worker loads it in ms instead of rebuilding it."""
    global _TABLE
    if _TABLE is None:
        import os
        import tempfile

        cache = os.path.join(tempfile.gettempdir(),
                             f"golucene_wb_table_{_table_key()}.npy")
        if os.path.exists(cache):
            try:
                _TABLE = np.load(cache)
                return _TABLE
            except Exception:
                log.warning("rebuilding unreadable %s", cache, exc_info=True)
        t = np.zeros(0x110000, dtype=np.uint8)
        for cp in range(0x10000):
            t[cp] = _classify(cp)
        # Supplementary: CJK ext B-F ideographs; everything else OTHER.
        t[0x20000:0x2FA20] = IDEOGRAPHIC
        _TABLE = t
        try:
            tmp = cache + f".{os.getpid()}.tmp"
            with open(tmp, "wb") as f:
                np.save(f, t)
            os.replace(tmp, cache)
        except Exception:
            log.warning("could not save %s", cache, exc_info=True)
    return _TABLE


# classes whose presence makes a segment a real token
_CORE_CLASSES = (ALETTER, NUMERIC, KATAKANA, HIRAGANA, IDEOGRAPHIC, SEASIAN)

_NCLS = 12
_PAIR_TBL: np.ndarray | None = None
_TRIPLE_TBL: np.ndarray | None = None
_CORE_TBL: np.ndarray | None = None


def _rule_tables():
    """Precomputed join tables: the WB rules as lookups so the hot loop
    is one gather per boundary instead of ~15 boolean array passes
    (the segmenter is memory-bandwidth-bound at high parallelism).

    PAIR[a*12+b]  : unconditional join between classes a,b
                    (WB5/8/9/10/13/13a/13b + SEA runs)
    TRIPLE[(a*12+b)*12+c] : conditional mid joins (WB6/7, WB11/12) —
                    marks BOTH boundaries of the (a, mid, c) triple
    CORE[cls]     : class makes a segment a token
    """
    global _PAIR_TBL, _TRIPLE_TBL, _CORE_TBL
    if _PAIR_TBL is None:
        ah = {ALETTER}
        nu = {NUMERIC}
        ka = {KATAKANA}
        ex = {EXTNUMLET}
        pair = np.zeros(_NCLS * _NCLS, dtype=bool)
        for a in range(_NCLS):
            for b in range(_NCLS):
                j = (
                    (a in ah and b in ah)
                    or (a in nu and b in nu)
                    or (a in ah and b in nu)
                    or (a in nu and b in ah)
                    or (a in ka and b in ka)
                    or (b in ex and (a in ah or a in nu or a in ka or a in ex))
                    or (a in ex and (b in ah or b in nu or b in ka))
                    or (a == SEASIAN and b == SEASIAN)
                )
                pair[a * _NCLS + b] = j
        midl = {MIDLETTER, MIDNUMLET}
        midn = {MIDNUM, MIDNUMLET}
        triple = np.zeros(_NCLS * _NCLS * _NCLS, dtype=bool)
        for a in range(_NCLS):
            for m in range(_NCLS):
                for c in range(_NCLS):
                    t = (a in ah and m in midl and c in ah) or (
                        a in nu and m in midn and c in nu
                    )
                    triple[(a * _NCLS + m) * _NCLS + c] = t
        core = np.zeros(_NCLS, dtype=bool)
        for c in _CORE_CLASSES:
            core[c] = True
        _PAIR_TBL, _TRIPLE_TBL, _CORE_TBL = pair, triple, core
    return _PAIR_TBL, _TRIPLE_TBL, _CORE_TBL


_ASCII_TBL: np.ndarray | None = None


def _ascii_table() -> np.ndarray:
    global _ASCII_TBL
    if _ASCII_TBL is None:
        _ASCII_TBL = class_table()[:128].copy()
    return _ASCII_TBL


def segment_batch(texts) -> tuple[list[str], np.ndarray, np.ndarray, np.ndarray]:
    """Segment a batch of strings per UAX#29.

    Returns ``(tokens, tok_row, tok_pos, tok_len)`` where ``tokens`` is
    the flat list of raw token strings across the batch, ``tok_row[i]``
    the batch row each token came from, ``tok_pos[i]`` its 0-based
    ordinal in the row's full pre-filter token stream (the basis of
    Lucene position increments — downstream filters drop tokens but keep
    positions, cf. analysis/util/filtering.go:56-80), and ``tok_len[i]``
    its codepoint length (offsets-derived: no per-token len() pass).
    """
    texts = ["" if t is None else t for t in texts]
    nrows = len(texts)
    empty = (
        np.array([], dtype=np.int64),
        np.array([], dtype=np.int64),
        np.array([], dtype=np.int64),
    )
    if nrows == 0:
        return [], *empty

    joined = "\x00".join(texts)
    n = len(joined)
    if n == 0:
        return [], *empty

    # ASCII fast path: 1-byte codes = 4x less memory traffic (the
    # segmenter is bandwidth-bound under high parallelism); identical
    # classes, and ASCII has no Extend/Format codepoints.
    if joined.isascii():
        codes = np.frombuffer(joined.encode("ascii"), dtype=np.uint8)
        cls = _ascii_table()[codes]
    else:
        codes32 = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32)
        cls = class_table()[codes32]
        # WB4: Extend/Format are transparent — inherit previous class.
        ext = cls == EXTEND
        if ext.any():
            idx = np.arange(n)
            idx[ext] = 0
            np.maximum.accumulate(idx, out=idx)
            cls = cls[idx]

    pair_tbl, triple_tbl, core_tbl = _rule_tables()
    if n > 1:
        # one fused gather per boundary: WB5/8/9/10/13/13a/13b (+SEA)
        lin = cls[:-1] * np.uint8(_NCLS) + cls[1:]  # <=143, fits uint8
        join = pair_tbl[lin]
        if n > 2:
            # conditional mid joins WB6/7 + WB11/12 via 3-gram table
            lin3 = lin[:-1].astype(np.uint16) * _NCLS + cls[2:]
            t = triple_tbl[lin3]
            join[:-1] |= t
            join[1:] |= t
    else:
        join = np.zeros(0, dtype=bool)

    starts = np.flatnonzero(np.concatenate(([True], ~join)))
    core = core_tbl[cls]
    has_core = np.bitwise_or.reduceat(core, starts)
    tok_starts = starts[has_core]
    ends = np.concatenate((starts[1:], [n]))
    tok_ends = ends[has_core]

    if tok_starts.size == 0:
        return [], *empty

    # attribute tokens to rows via cumulative row offsets
    lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=nrows)
    row_bounds = np.zeros(nrows + 1, dtype=np.int64)
    np.cumsum(lens + 1, out=row_bounds[1:])  # +1 for the \x00 separator
    tok_row = np.searchsorted(row_bounds, tok_starts, side="right") - 1

    # 0-based position within each row's token stream
    ntok = tok_row.size
    row_first = np.searchsorted(tok_row, np.arange(nrows), side="left")
    tok_pos = np.arange(ntok, dtype=np.int64) - row_first[tok_row]

    tokens = [joined[s:e] for s, e in zip(tok_starts.tolist(), tok_ends.tolist())]
    return tokens, tok_row, tok_pos, tok_ends - tok_starts


if __name__ == "__main__":  # tiny smoke
    toks, rows, pos, _ = segment_batch(sys.argv[1:] or ["The Quick-Brown FOX", "3.14 x 1,024 foo.bar snake_case don't"])
    print(list(zip(toks, rows.tolist(), pos.tolist())))

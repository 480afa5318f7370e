"""Fuzzy string matching — from-scratch fuzzywuzzy-compatible scorers.

The reference uses ``fuzz.ratio`` / ``fuzz.token_sort_ratio`` (pure-python
fuzzywuzzy mode is difflib.SequenceMatcher based) for header matching and
gazetteer probes (reference utils.py:10-21, geos.py:11-88,
categorize.py:287-352). We reimplement on the stdlib so behavior is
self-contained and deterministic:

  ratio(a, b)            = round(100 * 2*M / (len(a)+len(b)))   [difflib]
  token_sort_ratio(a, b) = ratio(" ".join(sorted(tokens)), ...)

Scale note: these run only on metadata-scale inputs (column headers) and on
the driver over the ≤99-value column samples ``classify_columns`` collects
(continent matching, city probes against the 24.5k-name gazetteer) — never
in the per-document hot path, which uses exact/tokenized broadcast joins
instead. Both fuzzy paths first drop pairs whose lengths alone cap the
ratio at the threshold, so difflib runs only where a match is possible.
"""

from __future__ import annotations

import math
import re
from difflib import SequenceMatcher

_TOKEN_RE = re.compile(r"[\W_]+", re.UNICODE)


def ratio(a: str, b: str) -> int:
    """fuzz.ratio parity: scaled difflib real-quick... full ratio, rounded."""
    a, b = str(a), str(b)
    if not a and not b:
        return 100
    m = SequenceMatcher(None, a, b)
    return int(round(100 * m.ratio()))


def _token_sort_prep(s: str) -> str:
    tokens = _TOKEN_RE.split(str(s).lower().strip())
    return " ".join(sorted(t for t in tokens if t)).strip()


def token_sort_ratio(a: str, b: str) -> int:
    return ratio(_token_sort_prep(a), _token_sort_prep(b))


def fuzzy_match(a: str, b: str, ratio_: int = 95) -> bool:
    """reference utils.py:10-14 — lowercased ratio strictly greater-than.
    difflib's match count is at most the shorter length, so pairs whose
    lengths alone cap the ratio at ``ratio_`` skip SequenceMatcher."""
    a, b = str(a).lower(), str(b).lower()
    la, lb = len(a), len(b)
    if la + lb and round(100 * (2.0 * min(la, lb) / (la + lb))) <= ratio_:
        return False
    return ratio(a, b) > ratio_


def extract_one(query: str, choices, scorer=token_sort_ratio):
    """fuzzywuzzy.process.extractOne parity: best (choice, score) or None."""
    best = None
    best_score = -1
    for c in choices:
        s = scorer(str(query), str(c))
        if s > best_score:
            best, best_score = c, s
    if best is None:
        return None
    return best, best_score


# ---------------------------------------------------------------------------
# gazetteer-scale probe: "does ANY choice score > cutoff" without the full
# O(n) SequenceMatcher scan. At the reference city-dim size (24,534 names)
# the naive extract_one costs seconds per probed value; this path is
# boolean-identical (same prep, same ratio on survivors) but prunes with a
# vectorized character-multiset upper bound:  M ≤ Σ_ch min(cnt_q, cnt_c)
# ⇒ 100·2M/(len_q+len_c) bounds the (pre-rounding) ratio from above.
# ---------------------------------------------------------------------------

import numpy as np
from functools import lru_cache

_CHARS = "abcdefghijklmnopqrstuvwxyz0123456789 "
_CHAR_IDX = {c: i for i, c in enumerate(_CHARS)}
_NCH = len(_CHARS) + 1  # last bucket: any other character


def _char_vec(s: str):
    v = np.zeros(_NCH, dtype=np.int32)
    for ch in s:
        v[_CHAR_IDX.get(ch, _NCH - 1)] += 1
    return v


@lru_cache(maxsize=8)
def _probe_index(choices: tuple):
    """Prepped choices sorted by length, with their char-count rows."""
    prepped = sorted((_token_sort_prep(c) for c in choices), key=len)
    mat = np.stack([_char_vec(p) for p in prepped])
    lens = np.array([len(p) for p in prepped], dtype=np.int64)
    return prepped, mat, lens, frozenset(prepped)


def length_window(lq: int, cutoff: int) -> tuple[int, int]:
    """Inclusive range of choice lengths lc that can score ratio > cutoff
    against a query of length lq. The raw score 200·min(lq, lc)/(lq + lc)
    must reach c = cutoff + 0.5 (rounded int > cutoff), which bounds lc to
    [lq·c/(200−c), lq·(200−c)/c]; floor/ceil keep float rounding out."""
    c = cutoff + 0.5
    return math.floor(lq * c / (200 - c)), math.ceil(lq * (200 - c) / c)


def any_over_cutoff(query: str, choices: tuple, cutoff: int = 90) -> bool:
    """True iff extract_one(query, choices, token_sort_ratio) scores
    strictly above `cutoff` — i.e. ∃ choice: token_sort_ratio > cutoff.
    Exact-prep hits short-circuit; otherwise only the length window is
    scanned, and the char-count bound keeps the exact difflib ratio to a
    handful of candidates."""
    prepped, mat, lens, exact = _probe_index(tuple(choices))
    q = _token_sort_prep(str(query))
    if cutoff < 100 and q in exact:
        return True
    lo, hi = length_window(len(q), cutoff)
    a = int(np.searchsorted(lens, lo, side="left"))
    b = int(np.searchsorted(lens, hi, side="right"))
    if a >= b:
        return False
    qv = _char_vec(q)
    inter = np.minimum(mat[a:b], qv[None, :]).sum(axis=1)
    ub = 200.0 * inter / np.maximum(lens[a:b] + len(q), 1)
    # rounded int ratio > cutoff requires the raw value ≥ cutoff + 0.5
    for i in np.flatnonzero(ub >= cutoff + 0.5):
        if ratio(q, prepped[a + i]) > cutoff:
            return True
    return False

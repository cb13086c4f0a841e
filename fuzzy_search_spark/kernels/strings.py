"""String similarity kernels.

Semantics contract (verified against the reference test-suite goldens, see
tests/):

- ``char_ngrams(t, n)``: '#'-padded character n-grams; empty when n > len(t)
  (reference: tokenization/string.py:19-38).
- ``ngram_overlap`` / ``char_overlap``: *multiset* intersection counts
  (reference implements these as greedy remove-first loops,
  tokenization/string.py:46-65,102-117 — order-independent, equal to a
  Counter intersection).
- ``indel_similarity``: the `Levenshtein.ratio` of the C library the
  reference delegates to (tokenization/string.py:120-135):
  ``(len1+len2-d_indel)/(len1+len2)`` with d_indel = len1+len2-2*LCS.
  Computed with integer arithmetic and a single final division so the float
  is bit-identical to the C implementation.
- ``levenshtein_distance``: plain unit-cost edit distance (used by the
  analysis layer only; on the Spark side prefer F.levenshtein).
"""

from __future__ import annotations


from functools import lru_cache
from typing import List, Optional

# Word-boundary affix sets (reference: tokenization/string.py:333-340).
NON_WORD_AFFIXES_2 = frozenset({
    ". ", ", ", "! ", "? ",
    " (", ") ", ").", ")!", "),", ")?",
    " [", "] ", "].", "]!", "],", "]?",
})
NON_WORD_AFFIXES_1 = frozenset({" ", ".", ",", "!", "?"})


def char_ngrams(text: str, n: int) -> List[str]:
    """'#'-padded character n-grams of ``text``; [] when n > len(text)."""
    if n > len(text):
        return []
    padded = f"#{text}#"
    return [padded[i:i + n] for i in range(len(padded) - n + 1)]


@lru_cache(maxsize=65536)
def _bag_of(items_key) -> dict:
    """Frozen count-bag of a string or tuple of grams; term1 in the score
    kernels is always the (fixed, broadcast) phrase side, so its bag is
    built once per distinct phrase instead of once per candidate."""
    bag = {}
    for item in items_key:
        bag[item] = bag.get(item, 0) + 1
    return bag


def _overlap_against(master_bag: dict, items2) -> int:
    bag = dict(master_bag)  # cheap copy; the probe loop consumes counts
    overlap = 0
    for item in items2:
        remaining = bag.get(item, 0)
        if remaining:
            bag[item] = remaining - 1
            overlap += 1
    return overlap


def ngram_overlap(term1: str, term2: str, n: int) -> int:
    """Multiset overlap of the two terms' padded n-gram bags."""
    return _overlap_against(_bag_of(tuple(char_ngrams(term1, n))),
                            char_ngrams(term2, n))


def ngram_overlap_ratio(term1: str, term2: str, n: int) -> float:
    """n-gram overlap as a fraction of term1's n-gram count."""
    return ngram_overlap(term1, term2, n) / len(char_ngrams(term1, n))


def char_overlap(term1: str, term2: str) -> int:
    """Multiset overlap of the two terms' character bags."""
    return _overlap_against(_bag_of(term1), term2)


def char_overlap_ratio(term1: str, term2: str) -> float:
    """Character overlap as a fraction of term1's length."""
    return char_overlap(term1, term2) / len(term1)


def indel_similarity(s1: str, s2: str, score_cutoff: Optional[float] = None) -> float:
    """Normalized indel similarity == Levenshtein.ratio (sub cost 2).

    With ``score_cutoff``, values below the cutoff collapse to 0.0 — this
    mirrors the C API the reference's token searcher relies on
    (search/token_searcher.py:768-769), where the collapsed value takes part
    in equality comparisons and must be reproduced.
    """
    total = len(s1) + len(s2)
    if total == 0:
        return 1.0
    sim = (2 * _lcs_len(s1, s2)) / total
    if score_cutoff is not None and sim < score_cutoff:
        return 0.0
    return sim


def _lcs_len(s1: str, s2: str) -> int:
    """Length of the longest common subsequence, bit-parallel
    (Allison-Dix/Hyyrö row encoding): one big-int op per character of the
    longer string — ~6x the O(mn) DP on phrase-sized strings, and exact
    for any length thanks to Python's arbitrary-precision ints."""
    if len(s1) > len(s2):
        s1, s2 = s2, s1
    if not s1:
        return 0
    masks = _char_masks(s1)
    mg = masks.get
    row = 0
    for c2 in s2:
        x = row | mg(c2, 0)
        row = x & ~(x - ((row << 1) | 1))
    return row.bit_count()


@lru_cache(maxsize=65536)
def _char_masks(s: str) -> dict:
    """Per-character position bitmasks of ``s`` (one side of every LCS
    pair is a fixed phrase or distractor, so this caches well)."""
    masks: dict = {}
    for i, c in enumerate(s):
        masks[c] = masks.get(c, 0) | (1 << i)
    return masks


def levenshtein_distance(s1: str, s2: str) -> int:
    """Plain unit-cost edit distance (ins/del/sub each cost 1)."""
    if s1 == s2:
        return 0
    if len(s1) > len(s2):
        s1, s2 = s2, s1
    prev = list(range(len(s1) + 1))
    for i2, c2 in enumerate(s2):
        cur = [i2 + 1]
        for i1, c1 in enumerate(s1):
            if c1 == c2:
                cur.append(prev[i1])
            else:
                cur.append(1 + min(prev[i1], prev[i1 + 1], cur[-1]))
        prev = cur
    return prev[-1]


@lru_cache(maxsize=65536)
def cached_match_scores(ps: str, ms: str, ngram_size: int):
    """(char_overlap_ratio, ngram_overlap_ratio, indel_similarity) for a
    (phrase, candidate-string) pair — the three per-match scores, cached
    together since candidate strings repeat heavily across documents."""
    return (char_overlap_ratio(ps, ms),
            ngram_overlap_ratio(ps, ms, ngram_size),
            indel_similarity(ps, ms))


@lru_cache(maxsize=65536)
def cached_indel_similarity(s1: str, s2: str) -> float:
    """Memoized indel similarity for (phrase, candidate-string) pairs, which
    repeat heavily across documents within an Arrow batch (the Spark analog
    of the reference's per-vocabulary memoization cache)."""
    return indel_similarity(s1, s2)


def non_word_prefix(s: str) -> str:
    """The leading non-word affix of ``s`` (2-char affixes win over 1-char)."""
    if s[:2] in NON_WORD_AFFIXES_2:
        return s[:2]
    if s[:1] in NON_WORD_AFFIXES_1:
        return s[:1]
    return ""


# ---------------------------------------------------------------------------
# Reference-surface aliases (tokenization/string.py:19-136): the validated
# public names the reference exports, as thin shells over the kernels above.
# ---------------------------------------------------------------------------


def make_ngrams(text: str, n) -> List[str]:
    """Validated '#'-padded n-grams (reference tokenization/string.py:19-38):
    TypeError on non-string text / non-int size, ValueError on size < 1."""
    if not isinstance(text, str):
        raise TypeError("text must be a string")
    if not isinstance(n, int) or isinstance(n, bool):
        raise TypeError("n must be a positive integer")
    if n < 1:
        raise ValueError("n must be a positive integer")
    return char_ngrams(text, n)


def score_ngram_overlap(term1: str, term2: str, ngram_size: int) -> int:
    """Reference score_ngram_overlap (string.py:46-65)."""
    return ngram_overlap(term1, term2, ngram_size)


def score_ngram_overlap_ratio(term1: str, term2: str,
                              ngram_size: int) -> float:
    """Reference score_ngram_overlap_ratio (string.py:68-83)."""
    return ngram_overlap_ratio(term1, term2, ngram_size)


def score_char_overlap(term1: str, term2: str) -> int:
    """Reference score_char_overlap (string.py:102-117)."""
    return char_overlap(term1, term2)


def score_char_overlap_ratio(term1: str, term2: str) -> float:
    """Reference score_char_overlap_ratio (string.py:86-99)."""
    return char_overlap_ratio(term1, term2)


def score_levenshtein_similarity_ratio(term1: str, term2: str,
                                       score_cutoff=None) -> float:
    """Reference score_levenshtein_similarity_ratio (string.py:120-136):
    the normalized indel ratio (exact-float parity pinned by the parity
    suite).  The reference accepts but IGNORES score_cutoff (its body
    calls score_ratio without it) — mirrored here."""
    return indel_similarity(term1, term2)


def score_levenshtein_distance(term1: str, term2: str) -> int:
    """Reference score_levenshtein_distance (string.py:139-163)."""
    return levenshtein_distance(term1, term2)

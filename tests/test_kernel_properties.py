"""Property-based kernel tests (hypothesis): the algebraic invariants the
reference's semantics imply, checked over randomized unicode inputs.

These complement the mirrored-golden tests in test_kernels.py — goldens pin
exact reference behavior; properties guard the whole input space."""

import string as stdlib_string

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from fuzzy_search_spark.kernels import strings as S
from fuzzy_search_spark.kernels.skipgrams import (
    GramScanner,
    iter_skipgrams,
    keyed_skipgrams,
)

TEXT = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
    max_size=40)
WORDY = st.text(alphabet=stdlib_string.ascii_lowercase + " .#,", max_size=40)


@settings(max_examples=300, deadline=None)
@given(TEXT, TEXT)
def test_indel_similarity_metric_properties(a, b):
    sim = S.indel_similarity(a, b)
    assert 0.0 <= sim <= 1.0
    assert sim == S.indel_similarity(b, a)           # symmetric
    assert S.indel_similarity(a, a) == 1.0           # identity
    # consistency with the definition (l1+l2-2*lcs)/(l1+l2) via distance
    if a or b:
        dist = len(a) + len(b) - 2 * S._lcs_len(a, b)
        assert sim == (len(a) + len(b) - dist) / (len(a) + len(b))


@settings(max_examples=300, deadline=None)
@given(TEXT, TEXT)
def test_levenshtein_triangle_and_bounds(a, b):
    d = S.levenshtein_distance(a, b)
    assert abs(len(a) - len(b)) <= d <= max(len(a), len(b))
    assert d == S.levenshtein_distance(b, a)
    assert (d == 0) == (a == b)


@settings(max_examples=300, deadline=None)
@given(TEXT, TEXT)
def test_char_overlap_is_multiset_min(a, b):
    from collections import Counter

    got = S.char_overlap(a, b)
    expect = sum((Counter(a) & Counter(b)).values())
    assert got == expect
    assert S.char_overlap(a, b) == S.char_overlap(b, a)


@settings(max_examples=200, deadline=None)
@given(WORDY)
def test_skipgram_count_formula(text):
    """Reference loop bound (tokenization/string.py:217-255): the gram
    count depends only on length, ngram_size and skip_size."""
    grams = list(iter_skipgrams(text, 2, 2))
    n = len(text)
    if n <= 2:
        # whole-text special case (string.py:217-230) — the reference
        # yields one gram even for the empty string
        expect = 1
    else:
        # positions 0..n-2 each yield C(min(skip+1, remaining), 1) combos
        expect = sum(min(2 + 1, n - i - 1) for i in range(n - 1))
    assert len(grams) == expect
    # offsets are in-range; lengths positive except the whole-text gram
    for g, start, length in grams:
        assert 0 <= start < max(n, 1)
        assert length == n if n <= 2 else length >= 1
        assert start + length <= n or n <= 2


@pytest.mark.parametrize("ngram_size,skip_size",
                         [(2, 2), (3, 1), (4, 1), (1, 0)])
@settings(max_examples=200, deadline=None)
@given(text=st.text(alphabet=stdlib_string.ascii_lowercase + " .#",
                    min_size=0, max_size=80))
def test_vectorized_scanner_equals_generator(ngram_size, skip_size, text):
    """The scanner (NumPy for ngram_size <= 3, rank codes above) returns
    exactly the generator's grams filtered to the vocabulary, in the same
    order, for every text length."""
    vocab = {k for k, _, _ in keyed_skipgrams("the quick # brown",
                                              ngram_size, skip_size)}
    scanner = GramScanner(vocab, ngram_size, skip_size)
    got = scanner.scan(text)
    expect = [(k, s, ln) for k, s, ln in keyed_skipgrams(
        text, ngram_size, skip_size) if k in vocab]
    assert got == expect

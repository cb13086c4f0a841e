"""Differential parity of the token matcher against the reference
FuzzyTokenSearcher, plus mirrored unit goldens from its test suite."""

import random

import pytest

from fuzzy_search_spark.token_matcher import (
    compile_token_model,
    find_token_matches,
    token_skipgrams,
)
from tests.oracle import reference_available

pytestmark = pytest.mark.skipif(
    not reference_available(), reason="reference checkout not present"
)


def make_reference_token_searcher(phrases, config=None, vocabulary=None):
    from tests.oracle import _ensure_paths

    _ensure_paths()
    from fuzzy_search.search.token_searcher import FuzzyTokenSearcher

    return FuzzyTokenSearcher(phrase_list=list(phrases), config=config,
                              vocabulary=vocabulary)


def ref_matches(searcher, text):
    return [
        (m.phrase.phrase_string, m.variant.phrase_string, m.string,
         m.offset, m.end, m.levenshtein_similarity)
        for m in searcher.find_matches({"text": text, "id": "d"})
    ]


def eng_matches(tm, text):
    return [
        (m.phrase, m.variant, m.string, m.offset, m.end,
         m.levenshtein_similarity)
        for m in find_token_matches(text, tm)
    ]


class TestTokenSkipgrams:
    def test_matches_reference_generator(self):
        from tests.oracle import _ensure_paths

        _ensure_paths()
        from fuzzy_search.tokenization.string import token2skipgrams

        for token in ["test", "testing", "a", "ab", "Januarii", "x" * 12]:
            for pad in (False, True):
                for n, s in ((2, 2), (2, 1), (3, 2)):
                    ref = [(g.string, g.start_offset, g.length)
                           for g in token2skipgrams(token, n, s, pad_token=pad)]
                    got = token_skipgrams(token, n, s, pad_token=pad)
                    assert got == ref, (token, pad, n, s)


REFERENCE_TEXTS = [
    "This is a test in which we are testing",
    "The purpose is testing",
    "We are test ing",
    "This is a testcase",
    "This is a best test case",
    "this is a best test case to test best case matching",
    "a document for a test",
    "this is a test best case",
    "this is a time to rest",
    "test case",
    "t e s t",
    "",
]


def assert_tie_equivalent(eng, ref, text):
    """Exact equality, or — for offsets where several phrases tie on the
    Levenshtein score — the same (offset, score) picks (the reference's
    choice among ties is process-dependent: it iterates id-hashed sets)."""
    if eng == ref:
        return
    assert [(m[3], m[5]) for m in eng] == [(m[3], m[5]) for m in ref], text


class TestTokenSearcherParity:
    def test_reference_test_model(self):
        phrases = ["test", "test case", "best case", "best test case"]
        searcher = make_reference_token_searcher(phrases)
        tm = compile_token_model(phrases)
        for text in REFERENCE_TEXTS:
            assert_tie_equivalent(eng_matches(tm, text),
                                  ref_matches(searcher, text), text)

    def test_with_variants_and_offsets(self):
        phrases = [
            {"phrase": "testing", "variants": ["texting"], "label": "t"},
            {"phrase": "document", "max_start_offset": 25},
            {"phrase": "Zijne Hoogheid"},
        ]
        searcher = make_reference_token_searcher(phrases)
        tm = compile_token_model(phrases)
        texts = REFERENCE_TEXTS + [
            "Zijne Hoogheid was aanwezig",
            "Zijne Hoog heid was aanwezig",
            "het document is getest",
            "een heel lang voorstuk dat het document ver naar achteren duwt",
        ]
        for text in texts:
            assert eng_matches(tm, text) == ref_matches(searcher, text), text

    def test_randomized_parity(self):
        phrases = [
            {"phrase": "test case"},
            {"phrase": "best case"},
            {"phrase": "Admiraliteyt van Vrieslandt"},
            {"phrase": "den Heere", "variants": ["de Heer"]},
            {"phrase": "testing"},
        ]
        searcher = make_reference_token_searcher(phrases)
        tm = compile_token_model(phrases)
        words = ["test", "case", "best", "tast", "cese", "Admiraliteyt",
                 "Vrieslandt", "Vrieslaidt", "van", "den", "Heere", "Heer",
                 "de", "ing", "teft", "cafe", "lorem", "ipsum", "aduiralitey"]
        rng = random.Random(4242)
        exact = diffs = 0
        for _ in range(150):
            text = " ".join(rng.choice(words)
                            for _ in range(rng.randint(1, 25)))
            ref = ref_matches(searcher, text)
            eng = eng_matches(tm, text)
            if eng == ref:
                exact += 1
            else:
                diffs += 1
                assert_tie_equivalent(eng, ref, text)
        assert exact >= 120, f"{exact}/150 exact, {diffs} tolerated"


def test_max_offset_models_parity():
    phrases = [{"phrase": "test", "max_start_offset": 1},
               {"phrase": "document", "max_end_offset": 25},
               {"phrase": "case"}]
    searcher = make_reference_token_searcher(phrases)
    tm = compile_token_model(phrases)
    texts = [
        "test it now", "now test it", "a document for a test",
        "this very long sentence puts the document word far beyond limits",
        "document first then case", "case document test",
        "tes t of partial tokens near documen t limits",
    ]
    for text in texts:
        assert eng_matches(tm, text) == ref_matches(searcher, text), text


def test_user_vocabulary_parity():
    phrases = ["Zijne Hoogheid", "Mogende Heeren"]
    vocab = ["Mogende", "Hoogheid", "Heeren"]
    searcher = make_reference_token_searcher(phrases, vocabulary=vocab)
    tm = compile_token_model(phrases, vocabulary=vocab)
    texts = ["Zijne Hoogheid de Mogende Heeren", "Hoogheid Mogende",
             "Zijne Hooghied was daar", "Mogende Heeren vergaderden"]
    for text in texts:
        assert_tie_equivalent(eng_matches(tm, text),
                              ref_matches(searcher, text), text)

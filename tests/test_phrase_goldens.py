"""Row-hash goldens of the phrase pipeline on seeded template pages.

The pages come from perfbench's seeded generator (``phrase_pages``,
imported read-only), so every case is a pure function of its seed.  Each
case freezes the number of match rows and one sha256 over every row of
``find_matches`` (or ``find_matches_chunked``) on every input text.  The
cases cover the README model over all pages (giant documents included),
the same through chunking, a model of corpus-sampled phrases, short
fragments of 1-63 chars, the gram configs 4/1, 1/0 and 3/1, and a model
with variants, distractors, labels and offset limits under several config
variations.  A change to the scan, the accumulator or the sweep must leave
every digest as it is."""

import functools
import hashlib
import random
import re

import pytest

from fuzzy_search_spark.fixtures import README_CONFIG, README_MODEL
from fuzzy_search_spark.matcher import find_matches, find_matches_chunked
from fuzzy_search_spark.model import compile_model
from perfbench import corpus

PAGES_SEED = 7

RICH_MODEL = [
    {"phrase": "PRAESIDE", "variants": ["PRESIDE", "PRAESIDENT"],
     "label": "president"},
    {"phrase": "PRAESENTIBUS", "distractors": ["PRESENTIBUS"],
     "label": ["attendance", "list"]},
    {"phrase": "Veneris", "variants": ["Venris"], "distractors": ["Vencris"]},
    {"phrase": "Mercurii", "max_start_offset": 400},
    {"phrase": "den .. Januarii 1725", "variants": ["den .. Januari 1725"],
     "label": "date"},
    {"phrase": "missive", "distractors": ["commissie"],
     "max_end_offset": 2000},
]
RICH_CONFIG = dict(README_CONFIG, include_variants=True,
                   filter_distractors=True)


@functools.lru_cache(maxsize=None)
def _texts(name):
    """The input texts of one named input set."""
    pages = [r["text"] for r in corpus.phrase_pages(PAGES_SEED)]
    if name == "pages":
        return pages
    bulk = [t for t in pages if len(t) < 50_000]
    if name == "sample":
        return bulk[:8]
    if name == "fragments":
        return _fragments(pages, 2000)
    if name == "mixed":
        return bulk[:12] + _fragments(pages, 400)
    raise ValueError(name)


def _fragments(pages, n):
    """``n`` slices of 1-63 chars: half start near a capitalised word, a
    four-digit number or a phrase-like stem (where matches are), half
    anywhere."""
    rng = random.Random(PAGES_SEED)
    anchors = [(t, m.start()) for t in pages[:40] for m in re.finditer(
        r"[A-Z&]{3,}|\d{4}|Ven|Mer|den", t)]
    out = []
    for i in range(n):
        size = rng.randint(1, 63)
        if i % 2:
            text, pos = anchors[rng.randrange(len(anchors))]
            start = max(0, pos - rng.randint(0, 20))
        else:
            text = pages[rng.randrange(len(pages))]
            start = rng.randrange(max(1, len(text) - size))
        out.append(text[start:start + size])
    return out


def _sampled_phrases(n=200):
    """``n`` distinct windows of 1-3 words of the pages."""
    rng = random.Random(PAGES_SEED)
    docs = [t.split() for t in _texts("sample")]
    phrases, seen = [], set()
    while len(phrases) < n:
        words = docs[rng.randrange(len(docs))]
        start = rng.randrange(len(words) - 3)
        phrase = " ".join(words[start:start + rng.randint(1, 3)])
        if phrase not in seen:
            seen.add(phrase)
            phrases.append(phrase)
    return phrases


def _grams(ngram_size, skip_size):
    return dict(README_CONFIG, ngram_size=ngram_size, skip_size=skip_size)


#: name -> (model, config, input set, chunk_chars)
CASES = {
    "readme_pages": (README_MODEL, README_CONFIG, "pages", None),
    "readme_pages_chunked": (README_MODEL, README_CONFIG, "pages", 20_000),
    "sampled_phrases": ("sampled", README_CONFIG, "sample", None),
    "fragments": (README_MODEL, README_CONFIG, "fragments", None),
    "grams_4_1": (README_MODEL, _grams(4, 1), "mixed", None),
    "grams_1_0": (README_MODEL, _grams(1, 0), "mixed", None),
    "grams_3_1": (README_MODEL, _grams(3, 1), "mixed", None),
    "rich": (RICH_MODEL, RICH_CONFIG, "mixed", None),
    "rich_ignorecase": (RICH_MODEL, dict(RICH_CONFIG, ignorecase=True),
                        "mixed", None),
    "rich_skip_exact": (RICH_MODEL,
                        dict(RICH_CONFIG, skip_exact_matching=True),
                        "mixed", None),
    "rich_no_word_boundaries": (
        RICH_MODEL, dict(RICH_CONFIG, use_word_boundaries=False),
        "mixed", None),
}

#: name -> (rows digest, match rows)
GOLDENS = {
    "readme_pages": (
        "1ad2f9920ffe793b92eb1b002d04d609fcbc79cce2d023c6a9bae9705bdb0edb",
        3836),
    "readme_pages_chunked": (
        "1ad2f9920ffe793b92eb1b002d04d609fcbc79cce2d023c6a9bae9705bdb0edb",
        3836),
    "sampled_phrases": (
        "dc041c72260ba8eb9f26e8c367faf123e5d8e4908099614d35b36d14a1c7fdba",
        14848),
    "fragments": (
        "2b6919f9abc48e14e3e4fd051e9089bb9a33fb2aadcdf9f1a6eb0dea1c2de133",
        550),
    "grams_4_1": (
        "d81217435ce07ce4a67b07166f2a4dc6469d9b8288e3e738721dda03f3b5221e",
        344),
    "grams_1_0": (
        "e1c4481058eb7a969e089379053d16f680b903d34a095ea59b86db597c551857",
        258),
    "grams_3_1": (
        "394f463217e293b5e1b8093570498c9cc35dc084eebccff5e07ad92bf8fcbf96",
        366),
    "rich": (
        "c5c5015bc58574ff8ed8ac9c3c399c0662b9b65542976090fe9ae84ec212feda",
        584),
    "rich_ignorecase": (
        "34353e935492447589a7bb4404bd6f7bee4e9c5a8e8ea19cde9622fb71cad93b",
        586),
    "rich_skip_exact": (
        "7aa60f742a859f39f2de72421721f2549bc438a8421a08a2041cfae32c1e603e",
        420),
    "rich_no_word_boundaries": (
        "b99f72a1477ce947f8bb8c93f910b9c3a4b1ee9c51a7cd2803d1c27d3f9cab38",
        669),
}


def case_digest(name):
    phrases, config, inputs, chunk_chars = CASES[name]
    if phrases == "sampled":
        phrases = _sampled_phrases()
    model = compile_model(phrases, config)
    h = hashlib.sha256()
    n = 0
    for doc, text in enumerate(_texts(inputs)):
        if chunk_chars:
            matches = find_matches_chunked(text, model, chunk_chars)
        else:
            matches = find_matches(text, model)
        for m in matches:
            h.update(repr((doc, m.phrase, m.variant, m.string, m.offset,
                           m.end, m.label, m.char_match, m.ngram_match,
                           m.levenshtein_similarity)).encode())
            n += 1
    return h.hexdigest(), n


@pytest.mark.parametrize("name", list(CASES))
def test_phrase_pipeline_goldens(name):
    assert case_digest(name) == GOLDENS[name]


def test_phrase_without_grams():
    """At ngram_size 1 an empty phrase has no grams: it never matches, and
    the other phrases match as before."""
    model = compile_model(["", "PRAESIDE"], _grams(1, 0))
    got = find_matches("den PRAESIDE en PRESIDE", model)
    assert [(m.phrase, m.string, m.offset) for m in got] == \
        [("PRAESIDE", "PRAESIDE", 4)]


@pytest.mark.parametrize("ngram_size", [1, 2, 3])
def test_empty_phrase_is_skipped(ngram_size):
    """Above ngram_size 1 an empty phrase's whole-text gram "" codes to 0,
    as the all-NUL gram does: on a NUL text it must still find nothing,
    and the other phrases match as without it."""
    cfg = {"char_match_threshold": 0.3, "levenshtein_threshold": 0.3,
           "ngram_threshold": 0.2, "max_length_variance": 2,
           "ngram_size": ngram_size, "skip_size": 0}
    for text in ["\x00\x00", "\x00a\x00", "a"]:
        assert find_matches(text, compile_model(["", "a"], cfg)) == \
            find_matches(text, compile_model(["a"], cfg))


if __name__ == "__main__":
    # prints the GOLDENS table for the code as it stands
    for case in CASES:
        print(f"    {case!r}: {case_digest(case)!r},")

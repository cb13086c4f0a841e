"""Row-hash goldens of the token pipeline on seeded WET-style corpora.

The corpora come from perfbench's seeded generators (``wet_records`` and
``token_dictionary``, imported read-only), so each case is a pure function
of its seed.  Each case freezes two digests: one over every match row of
``find_token_matches`` on every document, and one over the compiled
model's ``distractor_pairs`` and ``vocab_cache``.  The cases differ in
config, so the goldens cover the default probe, a user vocabulary (terms
that are not phrase tokens), per-phrase offset limits, padded grams and
trigram keys.  A change to the probe, the compile or the chain loop must
leave every digest as it is."""

import hashlib

import pytest

from fuzzy_search_spark.token_matcher import (
    compile_token_model,
    find_token_matches,
)
from perfbench import corpus

#: name -> (seed, docs, config, vocabulary size, offset-limited phrases)
CASES = {
    "default": (7, 16, {}, 0, False),
    "vocabulary": (11, 16, {"skipgram_threshold": 0.3}, 400, False),
    "offsets_padded": (23, 16, {"pad_token": True}, 0, True),
    "trigram": (31, 12, {"ngram_size": 3, "skip_size": 1}, 0, False),
}

#: name -> (rows digest, match rows, model digest)
GOLDENS = {
    "default": (
        "903d855ef32b441738e0bb02499a6ac2b3eb3f0810af725a880c267d12232051",
        1434,
        "6fc94cdf71b5d0da394c04d0ebda28a7065948264d3138740b13e298954375df"),
    "vocabulary": (
        "4bcc5529a668c97e20debdac82634a194f068774079e9cbfb869b5e0a5d7a8a2",
        1385,
        "d9f82c2343f6f4da9a0aced0f5a6ed96dfd6328b0785adecb8ab2ae34a761010"),
    "offsets_padded": (
        "52aae4818a14393dd28d014b3c89a497691e328feda91b5421511e8bd353b701",
        1833,
        "60aaf49e3bc91d7c1f5970e6350363b3765196fb6934ca4474b66e2acc799136"),
    "trigram": (
        "c2438545b0d9b57359f234d70b29c1b16eb40542a7af0e9ef2206fe1f28bdf79",
        835,
        "ab2a1626a97b6ca6e248e7c19c2f79063c3272fa991dc4608e4a11b7b2e40d84"),
}


def _case_inputs(name):
    seed, docs, config, vocab_size, offsets = CASES[name]
    texts = [r["text"] for r in corpus.wet_records(seed, n_docs=docs)]
    phrases = corpus.token_dictionary(texts, seed)
    if offsets:
        # every third phrase may only start in a document's first 1500
        # chars, every fifth only end in its last 1500
        phrases = [dict({"phrase": p},
                        **({"max_start_offset": 1500} if i % 3 == 0 else {}),
                        **({"max_end_offset": 1500} if i % 5 == 0 else {}))
                   for i, p in enumerate(phrases)]
    words = sorted({w for t in texts for w in t.split()})
    vocabulary = words[::max(1, len(words) // vocab_size)][:vocab_size] \
        if vocab_size else None
    return texts, phrases, config, vocabulary


def _model_digest(tm):
    h = hashlib.sha256()
    for pair in sorted(tm.distractor_pairs):
        h.update(repr(pair).encode())
    for term in sorted(tm.vocab_cache):
        h.update(repr((term, [(pt, mt.name)
                              for pt, mt in tm.vocab_cache[term]])).encode())
    return h.hexdigest()


def _rows_digest(tm, texts):
    h = hashlib.sha256()
    n = 0
    for doc, text in enumerate(texts):
        for m in find_token_matches(text, tm):
            h.update(repr((doc, m.phrase, m.variant, m.string, m.offset,
                           m.end, m.label,
                           m.levenshtein_similarity)).encode())
            n += 1
    return h.hexdigest(), n


def case_digests(name):
    texts, phrases, config, vocabulary = _case_inputs(name)
    tm = compile_token_model(phrases, config, vocabulary=vocabulary)
    rows, n = _rows_digest(tm, texts)
    return rows, n, _model_digest(tm)


@pytest.mark.parametrize("name", sorted(CASES))
def test_token_pipeline_goldens(name):
    assert case_digests(name) == GOLDENS[name]


if __name__ == "__main__":
    # prints the GOLDENS table for the code as it stands
    for case in CASES:
        print(f"    {case!r}: {case_digests(case)!r},")

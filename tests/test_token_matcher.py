"""Engine-only A/B checks of the token matcher: each pits one of the
package's paths against the spec in ``tests/token_spec.py`` (the Python
loop per term, the generic partial-phrase forms and the scalar distractor
test it replaced), plus the probe memo's bound, empty probe indexes and
the model fingerprint.  None needs the reference checkout."""

import pickle
import random

import pytest

from fuzzy_search_spark.token_matcher import (
    compile_token_model,
    find_token_matches,
)
from tests import token_spec


def _rows(tm, text):
    return [(m.phrase, m.variant, m.string, m.offset, m.end,
             m.levenshtein_similarity)
            for m in find_token_matches(text, tm)]


def test_vectorized_probe_equals_python_fallback(monkeypatch):
    """The NumPy probe (searchsorted index + vectorized match typing) and
    the spec's Python accumulation loop must be interchangeable
    bit-for-bit: same matches, same distractor pairs, same vocab cache."""
    import fuzzy_search_spark.token_matcher as T

    rng = random.Random(77)
    words = ["confirmatie", "ordonnantie", "resolutie", "missive",
             "hoogheid", "mogende", "heeren", "daarop", "besloten"]
    phrases = [" ".join(rng.sample(words, rng.choice((1, 2, 3))))
               for _ in range(40)]
    vocab = words[:5]
    texts = []
    for _ in range(30):
        toks = [rng.choice(words) for _ in range(rng.randrange(4, 14))]
        # OCR-ish corruption
        toks = ["".join(c if rng.random() > 0.08 else "x" for c in t)
                for t in toks]
        texts.append(" ".join(toks))

    m_vec = T.compile_token_model(phrases, {}, vocabulary=vocab)
    rows = [_rows(m_vec, text) for text in texts]
    # from here on compile and the runtime probe run the spec
    monkeypatch.setattr(T, "_probe_batch", token_spec.probe_batch)
    m_py = T.compile_token_model(phrases, {}, vocabulary=vocab)
    assert m_vec.distractor_pairs == m_py.distractor_pairs
    assert m_vec.vocab_cache == m_py.vocab_cache
    for text, expect in zip(texts, rows):
        assert _rows(m_py, text) == expect, text


def test_chain_fused_paths_equal_generic():
    """The chain loop's fused constructors (_PartialPhrase.fresh with a
    precomputed shared missing list; copy_extend's O(1) incremental
    update) must be attribute-identical to the spec's generic
    constructor + add_tokens forms they replaced, across random token
    layouts including equal-start, overlapping, adjacent and gapped
    follow-up matches and phrases with repeated tokens."""
    from fuzzy_search_spark.token_matcher import (MatchType,
                                                  Tok,
                                                  TokenMatch,
                                                  _PartialPhrase)

    rng = random.Random(7)
    tm = compile_token_model(
        ["alpha beta gamma", "beta beta delta", "gamma alpha"], {})

    def mk_tok(word, start):
        return Tok(n=word, index=0, char_index=start,
                   char_end_index=100 - (start + len(word) + 1))

    words = ["alpha", "beta", "gamma", "delta"]
    for _ in range(300):
        pn = rng.choice(list(tm.phrases))
        phrase = tm.phrases[pn]
        seed_word = rng.choice(words)
        seed = TokenMatch((mk_tok(seed_word, 10),), seed_word,
                          MatchType.FULL)
        # generic vs fused fresh
        generic = token_spec.PartialPhrase(phrase, [seed])
        missing_after = [t.n for t in phrase.tokens]
        if seed_word in missing_after:
            missing_after.remove(seed_word)
        fused = _PartialPhrase.fresh(phrase, seed, missing_after)
        for attr in ("missing", "text_tokens", "text_start", "text_end",
                     "text_length"):
            assert getattr(generic, attr) == getattr(fused, attr), attr

        # follow-up match at an equal-start / overlapping / adjacent /
        # gapped position relative to the seed (end = 10 + len)
        nxt_word = rng.choice(words)
        nxt_start = rng.choice([10, 12, 10 + len(seed_word),
                                10 + len(seed_word) + 3])
        nxt = TokenMatch((mk_tok(nxt_word, nxt_start),), nxt_word,
                         MatchType.FULL)
        if nxt_word not in generic.missing:
            continue  # copy_extend's caller-checked precondition
        two_call = generic.copy()
        two_call.add_tokens([nxt])
        fused2 = fused.copy_extend(nxt)
        for attr in ("missing", "text_tokens", "text_start", "text_end",
                     "text_length"):
            assert getattr(two_call, attr) == getattr(fused2, attr), attr
        # the shared missing list must not have been mutated
        assert fused.missing == missing_after


def test_pickle_ships_no_runtime_probe_memo():
    """The runtime probe memo is per process: a model pickled after it
    matched text (the Spark driver's model before a broadcast) pickles to
    the same size as before, unpickles with an empty memo and matches the
    same."""
    phrases = ["alpha beta gamma", "beta beta delta", "gamma alpha"]
    texts = ["alpha betta gamma deltta", "gamma alfa and zeta beta"]
    tm = compile_token_model(phrases, {})
    for t in texts:
        _rows(tm, t)       # fill the runtime probe memo
    size = len(pickle.dumps(tm))
    expect = [_rows(tm, t) for t in texts + ["zetta epsilom omega"]]
    assert tm.runtime_probe_cache

    clone = pickle.loads(pickle.dumps(tm))
    assert len(pickle.dumps(tm)) == size
    assert clone.runtime_probe_cache == {}
    assert [_rows(clone, t)
            for t in texts + ["zetta epsilom omega"]] == expect


@pytest.mark.parametrize("config", [
    {},
    {"ngram_size": 1},
    {"ngram_size": 3, "skip_size": 1},
    {"pad_token": True},
    {"ngram_size": 3, "pad_token": True, "skipgram_threshold": 0.5},
    {"skip_size": 0, "max_token_length_variance": 3},
    {"ngram_size": 4, "skip_size": 1},
    {"ngram_size": 4, "skip_size": 2, "pad_token": True},
    {"ngram_size": 5, "skip_size": 0},
    {"ngram_size": 5, "skip_size": 1, "pad_token": True,
     "skipgram_threshold": 0.3},
])
@pytest.mark.parametrize("small", [False, True])
def test_batched_probe_equals_python_loop(config, small, monkeypatch):
    """The batched probe (templated skipgram keys, one gather, pair codes
    counted by sort) equals the spec's Python loop per token, across gram
    shapes (folded keys up to 3 chars, ranked keys from 4), padding and
    thresholds: the same raw probe of every token, the same distractor
    pairs and vocab cache, the same rows.  Models without a gram any
    token shares match nothing.  Tokens
    include astral and lone-surrogate chars, one-char tokens, tokens past
    the template length and a chunk without a hit; the batch is cut into
    chunks of 7.  ``small`` also cuts each chunk into slices of a few
    dozen gram hits, leaves templates uncached from 9 chars on and
    wraps the template char cycle every 32 positions."""
    import fuzzy_search_spark.token_matcher as T

    monkeypatch.setattr(T, "_PROBE_BATCH", 7)
    if small:
        monkeypatch.setattr(T, "_PROBE_HITS", 40)
        monkeypatch.setattr(T, "_TEMPLATE_MAX_LEN", 8)
        monkeypatch.setattr(T, "_TEMPLATE_CYCLE", 32)
    # cached templates were built under the other cycle
    T._skipgram_template.cache_clear()
    try:
        _check_batched_probe(T, config, monkeypatch)
    finally:
        T._skipgram_template.cache_clear()


def _check_batched_probe(T, config, monkeypatch):
    rng = random.Random(11)
    words = ["confirmatie", "ordonnantie", "resolutie", "missive", "ab",
             "hoogheid", "mogende", "heeren", "daarop", "besloten", "x",
             "café", "résolution", "\U0001f600mo"]
    phrases = [" ".join(rng.sample(words, rng.choice((1, 2, 3))))
               for _ in range(40)]
    vocab = words[:5] + ["misive", "heren", "\ud800ab"]
    tokens = sorted({
        "".join(c if rng.random() > 0.15 else rng.choice("xeé\ud800")
                for c in rng.choice(words))
        for _ in range(300)} | set(words) | {"a" * 300, "ordonnantie" * 30}
        # long tokens that match a phrase token far from their start
        | {"x" * 150 + "confirmatie" + "x" * 60, "x" * 70 + "resolutie"}
        # the first chunk of 7: tokens that share no gram with a phrase
        | {"Q", "QQ", "QQQ", "QZ", "Z", "ZQ", "ZZZZ"})
    texts = [" ".join(rng.choice(tokens) for _ in range(rng.randrange(4, 20)))
             for _ in range(25)]

    m_vec = T.compile_token_model(phrases, config, vocabulary=vocab)
    raw = T._raw_probes(tokens, m_vec)
    m_vec.runtime_probe_cache.clear()
    rows = [_rows(m_vec, text) for text in texts]
    assert any(rows)
    # an index without grams, and one whose grams no token shares
    for few in ([], [" "], ["!"]):
        tm = T.compile_token_model(few, config, vocabulary=vocab)
        assert [_rows(tm, text) for text in texts] == [[]] * len(texts)
    # from here on compile and the runtime probe run the spec
    monkeypatch.setattr(T, "_probe_batch", token_spec.probe_batch)
    m_py = T.compile_token_model(phrases, config, vocabulary=vocab)
    assert m_vec.distractor_pairs == m_py.distractor_pairs
    assert m_vec.vocab_cache == m_py.vocab_cache
    assert T._raw_probes(tokens, m_py) == raw
    m_py.runtime_probe_cache.clear()
    assert rows == [_rows(m_py, text) for text in texts]


@pytest.mark.parametrize("phrase, text, config", [
    ("!!", "\x00!!", {"ngram_size": 3, "skip_size": 1}),
    ("!!", "!!\x00", {"ngram_size": 3, "skip_size": 1}),
    ("!", "\x00!", {}),
    ("!", "!\x00", {}),
    ("!!!", "!!!\x00", {"ngram_size": 4, "skip_size": 1}),
    ("!!!", "\x00!!!", {"ngram_size": 4, "skip_size": 1}),
])
def test_short_gram_is_not_its_nul_twin(phrase, text, config, monkeypatch):
    """A gram shorter than ``ngram_size`` keys apart from the same chars
    with a NUL char before or after them: like the spec, which compares
    gram strings, the probe finds no match."""
    import fuzzy_search_spark.token_matcher as T

    assert _rows(compile_token_model([phrase], config), text) == []
    monkeypatch.setattr(T, "_probe_batch", token_spec.probe_batch)
    assert _rows(compile_token_model([phrase], config), text) == []


def test_edit_distances_equal_scalar(monkeypatch):
    """The batched edit distance and distractor test equal the scalar
    ``levenshtein_distance`` and the spec's ``_is_distractor`` on every
    pair, including empty strings, equal strings and chunks cut small."""
    import fuzzy_search_spark.token_matcher as T
    from fuzzy_search_spark.kernels import strings as S

    monkeypatch.setattr(T, "_EDIT_CELLS", 64)
    rng = random.Random(3)

    def word():
        return "".join(rng.choice("abcé\U0001f600")
                       for _ in range(rng.choice((0, 1, 2, 3, 4, 7, 12, 40))))

    a = [word() for _ in range(600)] + ["abc", "ab", "abc"]
    b = [word() for _ in range(600)] + ["abc", "abc", "zabcz"]
    got = T._edit_distances(a, b).tolist()
    assert got == [S.levenshtein_distance(x, y) for x, y in zip(a, b)]
    assert T._distractor_mask(a, b).tolist() == [
        token_spec._is_distractor(x, y) for x, y in zip(a, b)]


class _BoundedMemo(dict):
    """A memo dict that fails the moment it holds more than ``bound``."""

    def __init__(self, bound):
        super().__init__()
        self.bound = bound
        self.peak = 0

    def __setitem__(self, key, value):
        super().__setitem__(key, value)
        self.peak = max(self.peak, len(self))
        assert len(self) <= self.bound


def test_probe_memo_stays_bounded(monkeypatch):
    """With the memo bound patched small, rows equal the unpatched
    model's and the memo never holds more than the bound, also when one
    document brings more new tokens than the bound."""
    import fuzzy_search_spark.token_matcher as T

    phrases = ["confirmatie resolutie", "ordonnantie missive",
               "hoogheid mogende heeren"]
    texts = ["confirmatle resolutie ordonantie missieve hoogheidt mogende "
             "heerem daarop besloten confirmatic zeer wel",
             "resolutle ordonnantie missive mogendc heeren hoogheid",
             "confirmatie"]
    expect = [_rows(compile_token_model(phrases, {}), t) for t in texts]
    assert any(expect)

    tm = compile_token_model(phrases, {})
    monkeypatch.setattr(T, "_PROBE_CACHE_MAX", 3)
    tm.runtime_probe_cache = _BoundedMemo(3)
    assert [_rows(tm, t) for t in texts] == expect
    assert [_rows(tm, t) for t in texts] == expect
    assert tm.runtime_probe_cache.peak == 3


def test_distractor_pair_registered_after_compile():
    """A distractor pair registered after compile (the term joins the
    vocabulary and leaves the vocab cache) stops the probed text token
    from matching that phrase token, also when its raw probe is already
    in the memo."""
    from fuzzy_search_spark.compat import FuzzyTokenSearcher

    searcher = FuzzyTokenSearcher(phrase_list=["confirmatie resolutie"])
    text = "confirmatle resolutie"
    assert [m.string for m in searcher.find_matches(text)] == [text]
    assert "confirmatle" in searcher.model.runtime_probe_cache
    searcher.index_distractor_pair("confirmatle", "confirmatie")
    assert searcher.find_matches(text) == []


_FINGERPRINT_PHRASES = [
    {"phrase": "confirmatie resolutie", "label": ["act", "decision"],
     "variants": ["confirmatie van resolutie"]},
    {"phrase": "ordonnantie missive", "label": "act"},
    {"phrase": "hoogheid mogende heeren", "distractors": ["hooge heeren"]},
]
_FINGERPRINT_VOCABULARY = ["daarop", "besloten", "zeer", "wel", "missieve"]


def test_token_model_fingerprint():
    """TokenModel.fingerprint names the matcher kind, and changes with each
    input that changes rows: a config field, a label, a vocabulary term
    and a distractor pair registered after compile (through compat, for a
    term already in the vocabulary)."""
    from fuzzy_search_spark.compat import FuzzyTokenSearcher

    def fingerprint(phrases=_FINGERPRINT_PHRASES, config=None,
                    vocabulary=_FINGERPRINT_VOCABULARY):
        return compile_token_model(phrases, config or {},
                                   vocabulary).fingerprint()

    base = fingerprint()
    assert base.startswith("token:") and fingerprint() == base
    assert fingerprint(config={"levenshtein_threshold": 0.8}) != base
    assert fingerprint(config={"max_token_gap": 2}) != base
    relabeled = [dict(_FINGERPRINT_PHRASES[0], label=["act"])]
    assert fingerprint(relabeled + _FINGERPRINT_PHRASES[1:]) != base
    assert fingerprint(vocabulary=_FINGERPRINT_VOCABULARY + ["heer"]) != base

    searcher = FuzzyTokenSearcher(phrase_list=_FINGERPRINT_PHRASES)
    before = searcher.model.fingerprint()
    assert "van" in searcher.model.vocab_terms
    assert not searcher.has_distractor_pair("van", "heeren")
    searcher.index_distractor_pair("van", "heeren")
    assert searcher.model.fingerprint() != before


def test_token_model_fingerprint_ignores_the_hash_seed():
    """The fingerprint is the same under PYTHONHASHSEED 1 and 2, although
    the model's sets iterate in another order under each."""
    import json
    import os
    import subprocess
    import sys

    code = (
        "import json, sys\n"
        "from fuzzy_search_spark.token_matcher import compile_token_model\n"
        "phrases, vocabulary = json.loads(sys.argv[1])\n"
        "tm = compile_token_model(phrases, {}, vocabulary)\n"
        "print(json.dumps([tm.fingerprint(), list(tm.vocab_terms),\n"
        "                  list(tm.distractor_pairs)]))\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    arg = json.dumps([_FINGERPRINT_PHRASES, _FINGERPRINT_VOCABULARY])
    runs = [json.loads(subprocess.run(
        [sys.executable, "-c", code, arg], cwd=root, check=True,
        capture_output=True, text=True,
        env=dict(os.environ, PYTHONHASHSEED=seed)).stdout)
        for seed in ("1", "2")]
    assert runs[0][1] != runs[1][1]
    assert runs[0][0] == runs[1][0]
    assert runs[0][0] == compile_token_model(
        _FINGERPRINT_PHRASES, {}, _FINGERPRINT_VOCABULARY).fingerprint()

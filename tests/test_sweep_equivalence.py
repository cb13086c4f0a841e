"""The matcher's one candidate sweep must be exactly equivalent to the
reference-shaped partial-candidate state machine (``_Partial`` below, the
readable specification of the reference's CandidatePartial), including the
incremental skip-count overlap, under every gram config.

The sweep is fed what the matcher feeds it: the scanner's gram codes, as
phrase-local ids of the phrase's code tables.  The specification is fed the
generator's grams (``keyed_skipgrams``) filtered to the phrase's gram set,
and keeps its own per-key tables of the phrase's grams, so a fault in the
scanner's codes or in the phrase's tables shows here too."""

import random
from collections import Counter
from types import SimpleNamespace
from typing import Dict, List, Optional, Tuple

import numpy as np
import pytest

from fuzzy_search_spark.kernels.skipgrams import keyed_skipgrams
from fuzzy_search_spark.matcher import _Candidate, _sweep_candidates
from fuzzy_search_spark.model import CompiledPhrase, compile_model

EARLY_THRESHOLD = 3  # the config default


def _spec_phrase(cp: CompiledPhrase) -> SimpleNamespace:
    """The phrase as the specification reads it: per-key tables of its
    grams (reference Phrase, phrase.py:29-119)."""
    first: Dict = {}
    for key, start, _ in cp.grams:
        first.setdefault(key, start)
    return SimpleNamespace(
        name=cp.name, num_grams=cp.num_grams,
        late_threshold=cp.late_threshold, gram_set=set(first),
        gram_first_offset=first,
        gram_freq=Counter(key for key, _, _ in cp.grams),
        early={key for key, start, _ in cp.grams if start < EARLY_THRESHOLD},
        late={key for key, start, length in cp.grams
              if start + length > cp.late_threshold})


class _Partial:
    """Growing span hypothesis for one phrase (reference CandidatePartial)."""

    __slots__ = ("cp", "glist", "gset", "gcount", "start", "end", "max_len", "mlv")

    def __init__(self, cp: SimpleNamespace, mlv: int):
        self.cp = cp
        self.glist: List[Tuple] = []       # (key, start, length)
        self.gset = set()
        self.gcount: Dict = {}
        self.start: Optional[int] = -1
        self.end = -1
        self.mlv = mlv
        self.max_len = len(cp.name) + mlv

    def span_len(self) -> int:
        if self.start is None:
            return 0
        return self.end - self.start

    def _compute_start(self) -> Optional[int]:
        if not self.glist:
            return None
        key, gstart, _ = self.glist[0]
        off = gstart - self.cp.gram_first_offset[key]
        return 0 if off < 0 else off

    def _pop_first(self) -> None:
        key, _, _ = self.glist.pop(0)
        self.gcount[key] -= 1
        if self.gcount[key] == 0:
            self.gset.discard(key)

    def add(self, gram: Tuple) -> None:
        key, gstart, glen = gram
        if not self.glist and key not in self.cp.early:
            return  # a candidate can only open on an early gram
        self.gset.add(key)
        self.glist.append(gram)
        if self.start is None or self.start < 0:
            self.start = self._compute_start()
        if gstart + glen > self.end:
            self.end = gstart + glen
        self.gcount[key] = self.gcount.get(key, 0) + 1
        # evict from the front while the span is too long for the phrase
        while self.glist and self.span_len() > self.max_len:
            self._pop_first()
            self.start = self._compute_start()
        # ... and while the front gram can no longer start a match
        while self.glist and self.glist[0][0] not in self.cp.early:
            self._pop_first()
            self.start = self._compute_start()

    def is_match(self, skipgram_threshold: float) -> bool:
        if not self.glist:
            return False
        if self.glist[0][0] not in self.cp.early:
            return False
        span = self.span_len()
        if span > len(self.cp.name) + self.mlv:
            return False
        if span < self.cp.late_threshold - self.mlv:
            return False
        if self.glist[-1][0] not in self.cp.late:
            return False
        return len(self.gset) / len(self.cp.gram_set) >= skipgram_threshold

    def count_overlap(self) -> float:
        """Skip-count score: (total matched - freq deviation) / phrase grams."""
        diff = 0
        total = 0
        freq = self.cp.gram_freq
        for key, count in self.gcount.items():
            diff += abs(count - freq.get(key, 0))
            total += count
        return (total - diff) / self.cp.num_grams

    def shift_start(self) -> bool:
        """If the span is longer than the phrase, try to re-anchor the start
        on a later gram whose phrase offset is no worse; returns whether the
        start moved (a shifted second candidate is then emitted)."""
        if self.span_len() <= len(self.cp.name):
            return False
        first = self.cp.gram_first_offset
        start_gram = self.glist[0]
        best_phrase_off = first[start_gram[0]]
        best_idx = 0
        best_start = start_gram[1]
        slack = self.span_len() - len(self.cp.name)
        for si, gram in enumerate(self.glist):
            key, gstart, _ = gram
            if gstart - start_gram[1] > slack:
                break  # shifting further would leave the match too short
            phrase_off = first[key]
            if gstart > best_start and phrase_off <= best_phrase_off:
                best_idx = si
                best_start = gstart
                best_phrase_off = phrase_off
            if key not in self.cp.early:
                break
        for _ in range(best_idx):
            self._pop_first()
        self.start = self._compute_start()
        return best_idx > 0


def _spec_sweep(cp, grams, text, thr, mlv, gap_limit):
    """Straight transcription of the reference sweep over _Partial."""
    candidates = []
    spec_cp = _spec_phrase(cp)
    partial = _Partial(spec_cp, mlv)
    last = len(grams) - 1

    def emit():
        if partial.start == partial.end:
            return
        string = text[partial.start:partial.end]
        if not candidates or not (candidates[-1].start == partial.start
                                  and candidates[-1].end == partial.end):
            candidates.append(_Candidate(cp, partial.start, partial.end,
                                         string, partial.count_overlap()))
        if partial.shift_start():
            if partial.start != partial.end:
                candidates.append(
                    _Candidate(cp, partial.start, partial.end,
                               text[partial.start:partial.end],
                               partial.count_overlap()))

    for ci, gram in enumerate(grams):
        partial.add(gram)
        if partial.is_match(thr):
            emit()
        next_start = grams[ci + 1][1] if ci < last else None
        if next_start and next_start - gram[1] > gap_limit:
            partial = _Partial(spec_cp, mlv)
    if partial.is_match(thr):
        emit()
    return candidates


def _fast_sweep(cp, codes, starts, lens, text, thr, mlv, gap_limit):
    """The matcher's sweep over the scanner's hits of this phrase."""
    pk = cp.sorted_keys_np
    pos = np.minimum(np.searchsorted(pk, codes), pk.size - 1)
    mask = pk[pos] == codes
    return _sweep_candidates(cp, pos[mask].tolist(), starts[mask].tolist(),
                             lens[mask].tolist(), text, thr, mlv, gap_limit)


@pytest.mark.parametrize("ngram_size,skip_size",
                         [(2, 2), (3, 1), (4, 1), (1, 0)])
@pytest.mark.parametrize("seed", [99, 1234])
def test_sweep_equals_spec(seed, ngram_size, skip_size):
    model = compile_model(
        # "Jan" and "xx" are short enough to match at ngram_size 1, where
        # every gram starts at 0
        ["den .. Januarii 1725", "PRAESIDE", "test case", "Jan", "xx"],
        {"char_match_threshold": 0.5, "levenshtein_threshold": 0.5,
         "max_length_variance": 3, "ngram_size": ngram_size,
         "skip_size": skip_size},
    )
    gap_limit = ngram_size + skip_size + 1
    rng = random.Random(seed)
    vocab = ["den", "Jan", "Januarii", "1725", "den .. Januarii 1725",
             "dn Januarii  1725", "JanJanJan", "den den den", "17251725",
             "PRAESIDE", "PRSIDE", "tst case", "case test", "xx"]
    checked = 0
    for _ in range(400):
        text = " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40)))
        all_grams = keyed_skipgrams(text, ngram_size, skip_size)
        codes, starts, lens = model.scanner.scan_arrays(text)
        for cp in model.phrases.values():
            grams = [g for g in all_grams if g[0] in cp.gram_set]
            spec = _spec_sweep(cp, grams, text, 0.2, 3, gap_limit)
            fast = _fast_sweep(cp, codes, starts, lens, text, 0.2, 3,
                               gap_limit)
            assert [(c.start, c.end, c.string, c.skip_count_overlap)
                    for c in fast] == \
                   [(c.start, c.end, c.string, c.skip_count_overlap)
                    for c in spec], text
            checked += len(spec)
    assert checked > 100

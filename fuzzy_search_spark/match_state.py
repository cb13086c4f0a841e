"""Reference-surface skipgram match-state objects (match/skip_match.py and
match/candidate_match.py): SkipMatches, CandidatePartial and the module
functions that fold matching skipgrams into candidates.

These are the PUBLIC intermediate structures the reference documents for
users building custom search loops; the engine's own hot path uses the
vectorized sweep in matcher.py instead (a different state machine with
byte-identical final output, see tests/test_reference_parity.py).
Semantics anchors: skip_match.py:21-75, candidate_match.py:44-330.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from typing import Dict, Optional


class SkipMatches:
    """Tracks, per phrase, which of its skipgrams are found in a text and
    at which offsets (skip_match.py:21-75)."""

    def __init__(self, ngram_size: int, skip_size: int):
        self.ngram_size = ngram_size
        self.skip_size = skip_size
        self.skip_length = ngram_size + skip_size
        self.match_set: Dict[object, set] = defaultdict(set)
        self.match_type: Dict[object, object] = {}
        self.match_start_offsets: Dict[object, list] = defaultdict(list)
        self.match_end_offsets: Dict[object, list] = defaultdict(list)
        self.match_skipgrams: Dict[object, list] = defaultdict(list)
        self.matches: set = set()

    def __repr__(self):
        return (f"SkipMatches(ngram_size: {self.ngram_size}, "
                f"skip_size: {self.skip_size}, matches: {self.matches})")

    def add_skip_match(self, skipgram, phrase) -> None:
        self.match_set[phrase].add(skipgram.string)
        self.match_start_offsets[phrase].append(skipgram.start_offset)
        self.match_end_offsets[phrase].append(skipgram.end_offset)
        self.match_skipgrams[phrase].append(skipgram)
        self.matches.add(phrase)

    def remove_phrase(self, phrase) -> None:
        if phrase in self.matches:
            self.matches.discard(phrase)
            del self.match_set[phrase]
            del self.match_start_offsets[phrase]
            del self.match_end_offsets[phrase]
            del self.match_skipgrams[phrase]
            self.match_type.pop(phrase, None)


class CandidatePartial:
    """A partially built candidate match for a phrase, accumulating
    matching text skipgrams (candidate_match.py:44-90).  Requires a
    Phrase exposing the skipgram indexes (phrase_model.Phrase builds
    them lazily)."""

    def __init__(self, phrase, max_length_variance: int = 1,
                 ignorecase: bool = False, debug: int = 0):
        self.skipgram_set: set = set()
        self.skipgram_list: list = []
        self.skipgram_count: Counter = Counter()
        self.phrase = phrase
        self.ignorecase = ignorecase
        self.debug = debug
        if ignorecase:
            self.skipgrams = phrase.skipgrams_lower
            self.skipgram_index = phrase.skipgram_index_lower
            self.skipgram_freq = phrase.skipgram_freq_lower
            self.early_skipgram_index = phrase.early_skipgram_index_lower
            self.late_skipgram_index = phrase.late_skipgram_index_lower
        else:
            self.skipgrams = phrase.skipgrams
            self.skipgram_index = phrase.skipgram_index
            self.skipgram_freq = phrase.skipgram_freq
            self.early_skipgram_index = phrase.early_skipgram_index
            self.late_skipgram_index = phrase.late_skipgram_index
        self.max_length_variance = max_length_variance
        self.max_length = (len(phrase.phrase_string)
                           + self.max_length_variance)
        self.match_start_offset: int = -1
        self.match_end_offset: int = -1
        self.match_string: Optional[str] = None
        self.skipgram_overlap: float = 0.0

    def __repr__(self):
        return (f'Candidate(phrase: "{self.phrase.phrase_string}", '
                f'match_string: "{self.match_string}", '
                f"match_start_offset: {self.match_start_offset}, "
                f"match_end_offset: {self.match_end_offset})")


def get_match_start_offset(candidate: CandidatePartial) -> Optional[int]:
    """Text start offset from the first skipgram and its offset within
    the phrase (candidate_match.py:300-314)."""
    if len(candidate.skipgram_list) == 0:
        return None
    first_skip = candidate.skipgram_list[0]
    first_in_phrase = candidate.skipgram_index[first_skip.string][0]
    offset = first_skip.start_offset - first_in_phrase.start_offset
    return 0 if offset < 0 else offset


def get_skip_match_length(candidate: CandidatePartial) -> int:
    if candidate.match_start_offset is None:
        return 0
    return candidate.match_end_offset - candidate.match_start_offset


def remove_first_skip(candidate: CandidatePartial) -> None:
    """Drop the earliest skipgram; the set loses the string only when its
    count reaches zero (candidate_match.py:...remove_first_skip)."""
    first_skip = candidate.skipgram_list.pop(0)
    candidate.skipgram_count[first_skip.string] -= 1
    if candidate.skipgram_count[first_skip.string] == 0:
        candidate.skipgram_set.remove(first_skip.string)


def add_skip_match(candidate: CandidatePartial, skipgram) -> None:
    """Fold one matching text skipgram into the candidate, trimming from
    the front while the span exceeds the phrase's max length or no longer
    starts in the early index (candidate_match.py:130-171)."""
    if len(candidate.skipgram_list) == 0 and \
            skipgram.string not in candidate.early_skipgram_index:
        return None
    candidate.skipgram_set.add(skipgram.string)
    candidate.skipgram_list.append(skipgram)
    if candidate.match_start_offset is None or \
            candidate.match_start_offset < 0:
        candidate.match_start_offset = get_match_start_offset(candidate)
    if skipgram.start_offset + skipgram.length > candidate.match_end_offset:
        candidate.match_end_offset = skipgram.start_offset + skipgram.length
    candidate.skipgram_count.update([skipgram.string])
    while get_skip_match_length(candidate) > candidate.max_length and \
            len(candidate.skipgram_list) > 0:
        remove_first_skip(candidate)
        candidate.match_start_offset = get_match_start_offset(candidate)
    while len(candidate.skipgram_list) > 0 and \
            candidate.skipgram_list[0].string not in \
            candidate.early_skipgram_index:
        remove_first_skip(candidate)
        candidate.match_start_offset = get_match_start_offset(candidate)


def get_skip_set_overlap(candidate: CandidatePartial) -> float:
    """Fraction of the phrase's distinct skipgrams present in the
    candidate (candidate_match.py:271-283)."""
    candidate.skipgram_overlap = (len(candidate.skipgram_set)
                                  / len(candidate.phrase.skipgram_set))
    return candidate.skipgram_overlap


def get_skip_count_overlap(candidate: CandidatePartial) -> float:
    """Count-aware deviation score (candidate_match.py:286-298)."""
    diff = 0
    total = 0
    for skipgram_string, count in candidate.skipgram_count.items():
        diff += abs(count - candidate.skipgram_freq[skipgram_string])
        total += count
    return (total - diff) / candidate.phrase.num_skipgrams


def is_match(candidate: CandidatePartial,
             skipgram_threshold: float) -> bool:
    """Length window + early/late boundary + overlap threshold
    (candidate_match.py:234-269)."""
    if len(candidate.skipgram_list) == 0:
        return False
    if candidate.skipgram_list[0].string not in \
            candidate.early_skipgram_index:
        return False
    phrase_len = len(candidate.phrase.phrase_string)
    match_len = get_skip_match_length(candidate)
    if match_len > phrase_len + candidate.max_length_variance:
        return False
    if match_len < candidate.phrase.late_threshold - \
            candidate.max_length_variance:
        return False
    if candidate.skipgram_list[-1].string not in \
            candidate.late_skipgram_index:
        return False
    if get_skip_set_overlap(candidate) < skipgram_threshold:
        return False
    return True


def same_candidate(candidate1, candidate2) -> bool:
    return (candidate1.match_start_offset == candidate2.match_start_offset
            and candidate1.match_end_offset == candidate2.match_end_offset)

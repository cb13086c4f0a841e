"""Character skip-gram generation and the vectorized text-scan kernel.

Semantics contract (reference: tokenization/string.py:193-255):

A sliding window of ``ngram_size + skip_size`` chars moves one char at a time
over start offsets ``0 .. len(text)-2``.  For each window, every combination
of ``ngram_size-1`` indexes drawn (in order) from ``1 .. ngram_size+skip_size-1``
is combined with the window's first char; combinations that fall outside the
window are skipped.  Each emitted gram records its text ``start`` offset and
its covered ``length`` (= last combination index + 1).  Special cases: when
``len(text) <= ngram_size`` a single gram (the whole text) is emitted; when
``ngram_size == 1`` each char is its own gram.

Scale design: the per-document hot loop is NOT "generate every gram in
Python".  For ``ngram_size`` <= 3, grams are encoded as int64 keys (21 bits
per codepoint, enough for all of Unicode) and generated as NumPy
shifted-slice arrays, for texts of any length; membership against the
broadcast phrase-model vocabulary is a vectorized ``searchsorted``.  On
web-scale corpora where most documents match nothing, per-document cost is
O(L) NumPy work, not O(L * combos) Python work.  Wider grams do not fold
into 63 bits: they are generated in Python and coded by their rank in the
model's sorted gram vocabulary (:class:`GramScanner`).
"""

from __future__ import annotations

from itertools import combinations
from typing import Iterator, List, Tuple, Union

import numpy as np

# A gram occurrence: (key, start_offset, length).  `key` is an int64 fold of
# the gram's codepoints for ngram_size <= 3, else the gram string itself.
GramKey = Union[int, str]

_CP_BITS = 21  # max Unicode codepoint 0x10FFFF < 2**21


def encode_gram(gram: str) -> int:
    """Fold a short gram's codepoints into one int64 key (<= 3 chars)."""
    key = 0
    for ch in gram:
        key = (key << _CP_BITS) | ord(ch)
    return key


def skipgram_combinations(ngram_size: int, skip_size: int) -> List[Tuple[int, ...]]:
    """Index combinations (excluding the leading 0) for one window."""
    return list(combinations(range(1, ngram_size + skip_size), ngram_size - 1))


def iter_skipgrams(text: str, ngram_size: int = 2,
                   skip_size: int = 2) -> Iterator[Tuple[str, int, int]]:
    """Yield (gram_string, start_offset, length) in reference generation
    order: start offset ascending, combination order within each window."""
    n = len(text)
    if ngram_size == 1:
        for i in range(n):
            yield text[i], 0, 1
        return
    if n <= ngram_size:
        yield text, 0, n
        return
    combos = skipgram_combinations(ngram_size, skip_size)
    win = ngram_size + skip_size
    for start in range(n - 1):
        window = text[start:start + win]
        wlen = len(window)
        first = window[0]
        for combo in combos:
            if combo[-1] >= wlen:
                continue
            gram = first + "".join(window[i] for i in combo)
            yield gram, start, combo[-1] + 1


class SkipGram:
    """Reference-surface skipgram record (tokenization/string.py:163-190):
    string / start_offset / end_offset / length."""

    __slots__ = ("string", "start_offset", "end_offset", "length")

    def __init__(self, skipgram_string: str, start_offset: int,
                 end_offset: int, skipgram_length: int):
        self.string = skipgram_string
        self.start_offset = start_offset
        self.end_offset = end_offset
        self.length = skipgram_length

    def __repr__(self):
        return (f"{self.__class__.__name__}(string='{self.string}', "
                f"start_offset={self.start_offset}, "
                f"end_offset={self.end_offset}, length={self.length})")


def text2skipgrams(text: str, ngram_size: int = 2,
                   skip_size: int = 2) -> Iterator[SkipGram]:
    """Reference-surface generator (tokenization/string.py:217-255):
    yields :class:`SkipGram` objects in reference order, rejecting
    non-positive ngram_size / negative skip_size with ValueError.  Thin
    shell over :func:`iter_skipgrams` (the engine's kernel), including
    the reference's end_offset bookkeeping quirks."""
    if ngram_size <= 0 or skip_size < 0:
        raise ValueError("ngram_size must be a positive integer, "
                         "skip_size must be a positive integer or zero")
    n = len(text)
    if ngram_size == 1:
        for ci, ch in enumerate(text):
            yield SkipGram(ch, 0, n - ci + 1, 1)
        return
    if n <= ngram_size:
        yield SkipGram(text, 0, 0, n)
        return
    for gram, start, length in iter_skipgrams(text, ngram_size, skip_size):
        yield SkipGram(gram, start, n - start + 1, length)


def token2skipgrams(token: str, ngram_size: int = 2, skip_size: int = 2,
                    pad_token: bool = True) -> Iterator[SkipGram]:
    """Reference-surface generator (tokenization/string.py:258-330):
    skipgrams of one '#'-padded token, offsets corrected back to the
    un-padded coordinate space and combination indexes falling in the
    padding dropped.  Same end_offset bookkeeping quirks as the
    reference (per-window, from the PADDED window start, capped at the
    token length)."""
    if ngram_size <= 0 or skip_size < 0:
        raise ValueError("ngram_size must be a positive integer, "
                         "skip_size must be a positive integer or zero")
    n = len(token)
    if ngram_size == 1:
        for ci, ch in enumerate(token):
            yield SkipGram(ch, 0, n - ci + 1, 1)
        return
    if n <= ngram_size and not pad_token:
        yield SkipGram(token, 0, 0, n)
        return
    pad = (ngram_size - 1) if pad_token else 0
    padded = "#" * pad + token + "#" * pad
    combos = skipgram_combinations(ngram_size, skip_size)
    win = ngram_size + skip_size
    for pstart in range(len(padded)):
        window = padded[pstart:pstart + win]
        wlen = len(window)
        end_offset = min(n - pstart + 1, n)
        for combo in combos:
            if combo[-1] >= wlen:
                continue
            gram = window[0] + "".join(window[i] for i in combo)
            idxs = [i + pstart for i in (0,) + combo
                    if pad <= i + pstart < n + pad]
            if not idxs:
                continue
            yield SkipGram(gram, idxs[0] - pad, end_offset,
                           idxs[-1] - idxs[0] + 1)


def skipgram_distance_table(text: str, ngram_size: int = 2,
                            skip_size: int = 2,
                            within_range_threshold: int = 3) -> dict:
    """Pairwise start-offset distances between a phrase's skipgrams within
    ``within_range_threshold`` characters (reference Phrase._set_within_range,
    phrase/phrase.py:137-153): a map from
    ((gram1, start1), (gram2, start2)) to start2 - start1 over every
    ordered generation-index pair whose distance is within the threshold.

    Reference quirks preserved: the dict key in the reference is the
    per-occurrence SkipGram OBJECT pair, so every surviving pair is
    recorded (the min-update branch is unreachable) — here the key is the
    (string, start_offset) identity of each occurrence with a pair count
    suffix only where two object pairs would collide on it; and
    ``Phrase.within_range`` looks the table up with gram STRINGS, which
    never match the object keys, so the reference never reads this table
    back (dead code; documented in SURVEY §2.3).  The table itself is
    reproduced for drop-in parity of anything that inspects it."""
    grams = list(iter_skipgrams(text, ngram_size, skip_size))
    out: dict = {}
    for i1 in range(len(grams) - 1):
        g1, s1, _l1 = grams[i1]
        for i2 in range(i1 + 1, len(grams)):
            g2, s2, _l2 = grams[i2]
            if s2 - s1 > within_range_threshold:
                continue
            key = ((g1, s1), (g2, s2))
            if key in out:
                # two distinct object pairs with identical identity: the
                # reference stores both (object keys); disambiguate
                n = 1
                while (key + (n,)) in out:
                    n += 1
                key = key + (n,)
            out[key] = s2 - s1
    return out


def keyed_skipgrams(text: str, ngram_size: int = 2,
                    skip_size: int = 2) -> List[Tuple[GramKey, int, int]]:
    """All skipgrams as (key, start, length); int keys when ngram_size<=3."""
    use_int = ngram_size <= 3
    return [(encode_gram(gram) if use_int else gram, start, length)
            for gram, start, length in iter_skipgrams(text, ngram_size,
                                                      skip_size)]


class GramScanner:
    """Vectorized scanner: finds occurrences of a fixed gram vocabulary in
    texts.  Built once per (compiled model, config) on the driver; cheap to
    pickle into the broadcast closure.

    The scanner owns the gram-code format.  For ``ngram_size`` <= 3 a
    gram's code is its :func:`encode_gram` fold; a wider gram does not fit
    in 63 bits, so its code is its rank in the sorted string vocabulary.
    Only those wider grams are still generated in Python."""

    def __init__(self, vocab_keys, ngram_size: int, skip_size: int):
        self.ngram_size = ngram_size
        self.skip_size = skip_size
        self._combos = skipgram_combinations(ngram_size, skip_size)
        self._vocab = sorted(vocab_keys)
        if ngram_size <= 3:
            self._rank = None
            self._sorted_codes = np.array(self._vocab, dtype=np.int64)
        else:
            self._rank = {g: i for i, g in enumerate(self._vocab)}
            self._sorted_codes = np.arange(len(self._vocab), dtype=np.int64)

    def _codes(self, keys) -> np.ndarray:
        """The int64 codes of vocabulary gram ``keys`` (ints or strings, as
        :func:`keyed_skipgrams` gives them), in the order given."""
        if self._rank is not None:
            keys = [self._rank[k] for k in keys]
        return np.array(keys, dtype=np.int64)

    def scan(self, text: str) -> List[Tuple[GramKey, int, int]]:
        """Occurrences of vocabulary grams in ``text`` as (key, start,
        length) tuples, in reference generation order."""
        codes, starts, lens = self.scan_arrays(text)
        keys = codes.tolist() if self._rank is None else \
            [self._vocab[c] for c in codes.tolist()]
        return list(zip(keys, starts.tolist(), lens.tolist()))

    def _member(self, codes: np.ndarray) -> np.ndarray:
        vocab = self._sorted_codes
        if vocab.size == 0:
            return np.zeros(codes.size, dtype=bool)
        pos = np.searchsorted(vocab, codes)
        pos[pos == vocab.size] = 0
        return vocab[pos] == codes

    def _hits(self, codes: np.ndarray, starts, lens):
        """The grams among (codes, starts, lens) that are in the vocabulary."""
        keep = self._member(codes)
        return codes[keep], starts[keep], lens[keep]

    def scan_arrays(self, text: str):
        """Like :meth:`scan` but returns int64 (codes, starts, lens)
        arrays, for every text and every ``ngram_size``."""
        n = len(text)
        if self._rank is not None:
            rank = self._rank
            hits = [(rank[g], s, ln) for g, s, ln in iter_skipgrams(
                text, self.ngram_size, self.skip_size) if g in rank]
            return tuple(np.array(hits, dtype=np.int64).reshape(-1, 3).T)
        if self.ngram_size > 1 and n <= self.ngram_size:
            # the whole text is the one gram
            return self._hits(np.array([encode_gram(text)], dtype=np.int64),
                              np.zeros(1, dtype=np.int64),
                              np.full(1, n, dtype=np.int64))
        cp = np.frombuffer(text.encode("utf-32-le", "surrogatepass"),
                           dtype=np.uint32).astype(np.int64)
        if self.ngram_size == 1:
            # one gram per char, each at start 0 (the reference's quirk)
            return self._hits(cp, np.zeros_like(cp), np.ones_like(cp))
        starts_parts, order_parts, keys_parts, len_parts = [], [], [], []
        for ci, combo in enumerate(self._combos):
            last = combo[-1]
            # valid window starts for this combo: 0 .. n-1-last  (the
            # reference's range(0, n-1) bound is implied because last >= 1)
            limit = n - last
            if limit <= 0:
                continue
            keys = cp[:limit] << (_CP_BITS * len(combo))
            for depth, idx in enumerate(combo):
                shift = _CP_BITS * (len(combo) - 1 - depth)
                keys = keys | (cp[idx:idx + limit] << shift)
            idxs = np.nonzero(self._member(keys))[0]
            starts_parts.append(idxs)
            order_parts.append(np.full(idxs.size, ci, dtype=np.int64))
            keys_parts.append(keys[idxs])
            len_parts.append(np.full(idxs.size, last + 1, dtype=np.int64))
        # n > ngram_size, so the first combo always fits: no list is empty
        starts = np.concatenate(starts_parts)
        order = np.concatenate(order_parts)
        keys = np.concatenate(keys_parts)
        lens = np.concatenate(len_parts)
        perm = np.lexsort((order, starts))
        return keys[perm], starts[perm], lens[perm]

    def __getstate__(self):
        return {"ngram_size": self.ngram_size, "skip_size": self.skip_size,
                "keys": self._vocab}

    def __setstate__(self, state):
        self.__init__(state["keys"], state["ngram_size"], state["skip_size"])

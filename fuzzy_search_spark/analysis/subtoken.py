"""Byte Pair Encoding (BPE) subword vocabulary training.

Semantics contract (reference analysis/subtoken.py): tokens split into
chars plus a trailing ``' '`` end-of-word marker; each iteration merges the
adjacent symbol pair with the highest corpus frequency, tie-broken by the
shortest combined symbol length.  The reference breaks remaining ties by
set-iteration order (process-dependent); we use the lexicographically
smallest pair, making training fully deterministic.

Scale shape: the merge loop is inherently sequential and runs on the
driver over a token-*type* histogram — k iterations of Spark-wide
recounting would be the wrong plan (SURVEY.md §2.7).
"""

from __future__ import annotations

from collections import Counter
from typing import Dict, List, Sequence, Set, Tuple


def train_bpe(token_counts: Dict[str, int], k: int):
    """Train BPE over a token-type histogram.

    Returns (vocab, merges): the symbol vocabulary (initial chars + merged
    units) and the ordered list of merge pairs."""
    # corpus: one symbol list per distinct token type, weighted by count
    corpus: List[Tuple[List[str], int]] = [
        (list(token) + [" "], count) for token, count in token_counts.items()
    ]
    vocab: Set[str] = {s for symbols, _ in corpus for s in symbols}

    pair_freq: Counter = Counter()
    pair_tokens: Dict[Tuple[str, str], Set[int]] = {}
    for ti, (symbols, count) in enumerate(corpus):
        for pair in zip(symbols, symbols[1:]):
            pair_freq[pair] += count
            pair_tokens.setdefault(pair, set()).add(ti)

    merges: List[Tuple[str, str]] = []
    for _ in range(k):
        if not pair_freq:
            break
        # max frequency, then shortest combined length, then lexicographic
        best = min(
            pair_freq.items(),
            key=lambda kv: (-kv[1], len(kv[0][0]) + len(kv[0][1]), kv[0]),
        )[0]
        if pair_freq[best] <= 0:
            break
        merged = best[0] + best[1]
        merges.append(best)
        vocab.add(merged)
        for ti in sorted(pair_tokens.get(best, ())):
            symbols, count = corpus[ti]
            # remove the token's old pair contributions
            for pair in zip(symbols, symbols[1:]):
                pair_freq[pair] -= count
                if pair_freq[pair] <= 0:
                    del pair_freq[pair]
                bucket = pair_tokens.get(pair)
                if bucket is not None:
                    bucket.discard(ti)
            # apply the merge left-to-right
            out: List[str] = []
            i = 0
            while i < len(symbols):
                if (i + 1 < len(symbols) and symbols[i] == best[0]
                        and symbols[i + 1] == best[1]):
                    out.append(merged)
                    i += 2
                else:
                    out.append(symbols[i])
                    i += 1
            corpus[ti] = (out, count)
            # add the new contributions
            for pair in zip(out, out[1:]):
                pair_freq[pair] += count
                pair_tokens.setdefault(pair, set()).add(ti)
    return vocab, merges


def encode_bpe(token: str, merges: Sequence[Tuple[str, str]]) -> List[str]:
    """Segment one token with a learned merge list (training-order greedy)."""
    symbols = list(token) + [" "]
    rank = {pair: i for i, pair in enumerate(merges)}
    while True:
        best_rank, best_i = None, None
        for i, pair in enumerate(zip(symbols, symbols[1:])):
            r = rank.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        symbols[best_i:best_i + 2] = [symbols[best_i] + symbols[best_i + 1]]
    return symbols


# ---------------------------------------------------------------------------
# Reference-surface incremental-BPE objects (analysis/subtoken.py:17-440):
# the public classes/functions the reference exports for users driving the
# merge loop themselves.  Same semantics, restructured internals, and fully
# deterministic tie-breaks (lexicographically smallest pair among equal
# frequency+length ties, where the reference depends on set order).
# `train_bpe` above remains the engine's own trainer (differentially tested
# against this machinery).
# ---------------------------------------------------------------------------


class BPEToken:
    """A token as a mutable symbol sequence: characters plus a trailing
    ``' '`` end-of-word marker."""

    def __init__(self, token: str):
        self.token = token
        self.symbols = [char for char in token] + [" "]

    def __repr__(self):
        return (f"{self.__class__.__name__}(token='{self.token}', "
                f"symbols={self.symbols})")

    @property
    def symbol_pairs(self):
        return [(self.symbols[i], self.symbols[i + 1])
                for i in range(len(self.symbols) - 1)]


class FrequencyTracker:
    """Symbol-pair frequencies bucketed by (frequency, combined length)
    for O(1)-ish retrieval of the most frequent / shortest pair."""

    def __init__(self):
        from collections import defaultdict

        self.freq_buckets = defaultdict(lambda: defaultdict(set))
        self.symbol_pair_freq = defaultdict(int)
        self.max_freq = 0

    def update(self, symbol_pair, count: int) -> None:
        if count == 0 or not isinstance(symbol_pair, tuple):
            return
        old = self.symbol_pair_freq.get(symbol_pair, 0)
        new = old + count
        length = sum(len(s) for s in symbol_pair)
        if old > 0:
            self.freq_buckets[old][length].discard(symbol_pair)
            if not self.freq_buckets[old][length]:
                del self.freq_buckets[old][length]
            if not self.freq_buckets[old]:
                del self.freq_buckets[old]
                if old == self.max_freq:
                    self.max_freq = max(self.freq_buckets.keys(), default=0)
        if new > 0:
            self.symbol_pair_freq[symbol_pair] = new
            self.freq_buckets[new][length].add(symbol_pair)
            self.max_freq = max(self.max_freq, new)
        elif symbol_pair in self.symbol_pair_freq:
            del self.symbol_pair_freq[symbol_pair]

    def frequency_of(self, symbol_pair) -> int:
        return self.symbol_pair_freq.get(symbol_pair, 0)

    def most_frequent(self, length=None):
        if self.max_freq == 0:
            return None
        if length is not None:
            bucket = self.freq_buckets[self.max_freq].get(length, set())
            return (min(bucket), self.max_freq) if bucket else None
        shortest = min(self.freq_buckets[self.max_freq].keys())
        bucket = self.freq_buckets[self.max_freq][shortest]
        return (min(bucket), self.max_freq) if bucket else None

    def most_frequent_shortest(self):
        if self.max_freq == 0:
            return None
        length_buckets = self.freq_buckets[self.max_freq]
        if not length_buckets:
            return None
        shortest = min(length_buckets.keys())
        bucket = length_buckets[shortest]
        if bucket:
            return min(bucket), self.max_freq, shortest
        return None

    def all_with_max_frequency(self, length=None):
        if self.max_freq == 0:
            return set()
        if length is not None:
            return set(self.freq_buckets[self.max_freq].get(length, set()))
        out = set()
        for group in self.freq_buckets[self.max_freq].values():
            out |= group
        return out


def string_tokens_to_corpus(tokens: List[str]):
    """Counter mapping each unique token (as a BPEToken) to its corpus
    frequency."""
    token_freq = Counter(tokens)
    corpus = Counter()
    for string_token, freq in token_freq.items():
        corpus[BPEToken(string_token)] = freq
    return corpus


def generate_symbol_pairs(symbols):
    return [(symbols[i], symbols[i + 1]) for i in range(len(symbols) - 1)]


def generate_corpus_symbol_pairs(corpus):
    for token in corpus:
        for symbol_pair in token.symbol_pairs:
            yield symbol_pair, token


def index_symbol_pair(corpus):
    from collections import defaultdict

    index = defaultdict(set)
    for symbol_pair, token in generate_corpus_symbol_pairs(corpus):
        index[symbol_pair].add(token)
    return index


def make_symbol_pair_freq(corpus, symbol_pair_index) -> FrequencyTracker:
    tracker = FrequencyTracker()
    for symbol_pair, tokens in symbol_pair_index.items():
        tracker.update(symbol_pair, sum(corpus[t] for t in tokens))
    return tracker


def merge_symbols_in_token(merge_symbol: str, token: BPEToken):
    """New symbol sequence with every adjacent pair spelling
    ``merge_symbol`` combined (left-to-right, non-overlapping)."""
    new_symbols = []
    skip = False
    for ti, symbol_pair in enumerate(token.symbol_pairs):
        if skip:
            skip = False
            continue
        if "".join(symbol_pair) == merge_symbol:
            skip = True
            new_symbols.append(merge_symbol)
        else:
            new_symbols.append(token.symbols[ti])
    if not skip:
        new_symbols.append(token.symbols[-1])
    return tuple(new_symbols)


def find_new_symbol_pairs(merge_symbol: str, token):
    """Adjacent pairs newly formed around each occurrence of the merged
    symbol in an already-merged sequence."""
    new_pairs = []
    for i, symbol in enumerate(token):
        if symbol == merge_symbol:
            if i > 0:
                new_pairs.append((token[i - 1], token[i]))
            if i < len(token) - 1:
                new_pairs.append((token[i], token[i + 1]))
    return new_pairs


def compare_token_symbol_pairs(token1, token2):
    """(pairs in both, pairs only in token1, pairs only in token2)."""
    pairs1 = set(generate_symbol_pairs(token1))
    pairs2 = set(generate_symbol_pairs(token2))
    return pairs1 & pairs2, pairs1 - pairs2, pairs2 - pairs1


def merge_symbols_in_tokens(symbol_pair_index, symbol_pair_freq: FrequencyTracker,
                            corpus, merge_symbols) -> None:
    """Apply one merge across every token containing it, incrementally
    updating the index and the frequency tracker (the reference's
    update-only-what-changed BPE step)."""
    merge_symbol = "".join(merge_symbols)
    for token in list(symbol_pair_index[merge_symbols]):
        new_symbols = merge_symbols_in_token(merge_symbol, token)
        _overlap, only_old, only_new = compare_token_symbol_pairs(
            token.symbols, new_symbols)
        for old_pair in only_old:
            symbol_pair_index[old_pair].remove(token)
            symbol_pair_freq.update(old_pair, -corpus[token])
        for new_pair in only_new:
            symbol_pair_index[new_pair].add(token)
            symbol_pair_freq.update(new_pair, corpus[token])
        token.symbols = new_symbols
    del symbol_pair_index[merge_symbols]


def generate_vocab(corpus) -> Set[str]:
    vocab = set()
    for token in corpus:
        vocab.update(token.symbols)
    return vocab


def make_byte_pair_encoding(tokens: List[str], k: int) -> Set[str]:
    """Train a BPE vocabulary: k merges of the most-frequent (shortest,
    then lexicographically smallest) pair over the incremental index."""
    corpus = string_tokens_to_corpus(tokens)
    symbol_pair_index = index_symbol_pair(corpus)
    symbol_pair_freq = make_symbol_pair_freq(corpus, symbol_pair_index)
    vocab = generate_vocab(corpus)
    for _ in range(k):
        best = symbol_pair_freq.most_frequent_shortest()
        if best is None:
            break
        merge_symbols, _freq, _length = best
        merge_symbols_in_tokens(symbol_pair_index, symbol_pair_freq,
                                corpus, merge_symbols)
        vocab.add("".join(merge_symbols))
    return vocab

"""Token-level fuzzy matcher (the reference's FuzzyTokenSearcher, §2.5).

Faster than whole-phrase skipgram matching: phrases and text are tokenized
(WordPunct), phrase *tokens* are skipgram-indexed, per-token candidate
matches are typed (full / partial-of-phrase-token / partial-of-text-token)
and chained into phrase matches.  Like the phrase matcher, this runs
sequentially per document inside pandas UDFs.

Semantics anchors: search/token_searcher.py (classes TokenMatch /
PartialPhraseMatch, get_token_skipgram_matches:1125-1163, match typing
1188-1257, per-token chaining 599-730, phrase chaining 902-1057, best-pick
732-811).  Notable reference quirks replicated or guarded:

- the searcher reads thresholds from its *config dict* (published defaults:
  levenshtein 0.6) rather than the hardcoded attribute defaults;
- the tokenizer never lowercases regardless of `ignorecase`;
- partial-match bookkeeping is never actually emptied between tokens (the
  reference rebinds a local, a no-op);
- a stale empty partial list would crash the reference (IndexError at
  [-1]); we treat it as absent;
- emitted matches report `end = offset + len(joined_token_string)` — the
  joined string may be shorter than the covered text span;
- char/ngram scores are not computed (None), only the Levenshtein ratio
  with the score_cutoff collapse semantics.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field
from enum import Enum
from functools import lru_cache
from itertools import compress
from typing import (Dict, List, NamedTuple, Optional, Sequence, Set, Tuple,
                    Union)

import numpy as np

from fuzzy_search_spark.config import PUBLISHED_DEFAULT_CONFIG
from fuzzy_search_spark.kernels import strings as S
from fuzzy_search_spark.kernels.skipgrams import _CP_BITS
from fuzzy_search_spark.kernels.tokenize import wordpunct_spans
from fuzzy_search_spark.matcher import Match


class MatchType(Enum):
    NONE = 0
    PARTIAL_OF_PHRASE_TOKEN = 0.5
    PARTIAL_OF_TEXT_TOKEN = 1.5
    FULL = 1


@dataclass(eq=False)
class Tok:
    """A text token (reference tokenization/token.py Token)."""

    n: str            # normalised string (== raw string, WordPunct default)
    index: int
    char_index: int
    char_end_index: int


def token_skipgrams(token: str, ngram_size: int = 2, skip_size: int = 2,
                    pad_token: bool = False) -> List[Tuple[str, int, int]]:
    """(gram, start, length) skipgrams of one token (reference
    token2skipgrams, tokenization/string.py:258-330)."""
    from itertools import combinations

    n = len(token)
    out: List[Tuple[str, int, int]] = []
    if ngram_size == 1:
        return [(ch, 0, 1) for ch in token]
    pad = ngram_size - 1 if pad_token else 0
    padded = "#" * pad + token + "#" * pad if pad_token else token
    if n <= ngram_size and not pad_token:
        return [(token, 0, n)]
    combos = list(combinations(range(1, ngram_size + skip_size),
                               ngram_size - 1))
    win = ngram_size + skip_size
    for padded_start in range(len(padded)):
        window = padded[padded_start:padded_start + win]
        wlen = len(window)
        for combo in combos:
            if combo[-1] >= wlen:
                continue
            gram = window[0] + "".join(window[i] for i in combo)
            # correct combination indexes back to unpadded coordinates,
            # dropping positions that fall inside the padding
            adj = [i + padded_start for i in (0,) + combo
                   if pad <= i + padded_start < n + pad]
            if not adj:
                continue
            length = adj[-1] - adj[0] + 1
            start = adj[0] - pad
            out.append((gram, start, length))
    return out


@dataclass(eq=False)
class TokenPhrase:
    """A phrase as seen by the token searcher."""

    name: str
    kind: str                      # 'phrase' | 'variant' | 'distractor'
    tokens: List[Tok]
    label_set: Set[str]
    max_start_offset: int = -1
    max_end_offset: int = -1


@dataclass
class TokenModel:
    """Compiled, broadcastable token-search model."""

    ngram_size: int
    skip_size: int
    pad_token: bool
    skipgram_threshold: float
    levenshtein_threshold: float
    max_length_variance: int
    max_token_length_variance: int
    max_char_gap: int
    max_token_gap: int
    phrases: Dict[str, TokenPhrase]            # resolution order: phrase>variant>distractor
    is_variant_of: Dict[str, str]
    main_max_start: Dict[str, int]             # main phrase -> max_start_offset
    token_in_phrase: Dict[str, List[str]]      # token.n -> phrase names
    min_token_offset: Dict[Tuple[str, str], int]
    max_token_offset: Dict[Tuple[str, str], int]
    ptoken_max_start: Dict[str, int]
    ptoken_max_end: Dict[str, int]
    gram_to_ptokens: Dict[str, List[str]]
    token_num_skips: Dict[str, int]
    vocab_terms: Set[str]
    distractor_pairs: Set[Tuple[str, str]]
    vocab_cache: Dict[str, List[Tuple[str, "MatchType"]]] = field(
        default_factory=dict)
    # per-process memo of raw (offset-free) probes for tokens OUTSIDE the
    # precomputed vocabulary — the runtime extension of the reference's
    # vocabulary cache (dictionary-encoding of repeated tokens); bounded
    # so a pathological distinct-token stream cannot grow without limit,
    # and never pickled (see __getstate__)
    runtime_probe_cache: Dict[str, List[Tuple[str, "MatchType"]]] = field(
        default_factory=dict, compare=False)
    # gram index (built at compile, ships with the broadcast): sorted
    # int64 gram keys + CSR buckets of phrase-token ids, so all new tokens
    # of a document are probed in one searchsorted + NumPy gather (see
    # _ProbeIndex and _probe_chunk) — the token-pipeline analog of the
    # phrase matcher's GramScanner
    probe_index: object = field(default=None, compare=False)
    # chaining fan-out table (built at compile): ptoken -> tuple of rows
    # (see _build_chain_fanout) — the dict lookups + tuple-key allocation
    # the chain loop would otherwise pay per (token-match, phrase) visit,
    # folded into one precomputed row (the visit count is millions per
    # long document at large models)
    chain_fanout: Optional[dict] = field(default=None, compare=False)

    def __getstate__(self) -> dict:
        """Pickle state with an empty runtime probe memo.  The memo holds
        whatever this process matched since compile, so shipping it would
        make a broadcast's size and the workers' speed depend on what the
        Spark driver happened to match before."""
        state = self.__dict__.copy()
        state["runtime_probe_cache"] = {}
        return state

    def fingerprint(self) -> str:
        """Deterministic version stamp for lineage / resume-drift detection
        (``CompiledModel.fingerprint``'s counterpart), prefixed ``token:``
        so that the matcher kind is part of it.  It covers every input that
        changes rows: the config scalars, each phrase (in resolution order)
        with its kind, labels and offsets, the variant links, the
        vocabulary and the distractor pairs, which compat can add after
        compile.  Everything derived from those is left out."""
        digest = hashlib.sha256(json.dumps({
            "config": {f: v for f, v in vars(self).items()
                       if isinstance(v, (bool, int, float))},
            "phrases": [[tp.name, tp.kind, sorted(tp.label_set),
                         tp.max_start_offset, tp.max_end_offset]
                        for tp in self.phrases.values()],
            "is_variant_of": sorted(self.is_variant_of.items()),
            "vocab_terms": sorted(self.vocab_terms),
            "distractor_pairs": sorted(self.distractor_pairs),
        }, sort_keys=True).encode("utf-8"))
        return "token:" + digest.hexdigest()[:16]


#: DP cells (pairs x columns) per chunk of _edit_distances
_EDIT_CELLS = 1 << 18


def _edit_distances(a: Sequence[str], b: Sequence[str]) -> np.ndarray:
    """``S.levenshtein_distance(a[i], b[i])`` for every pair, as one DP
    row per char of ``b`` over all pairs at once.  A row needs no
    per-column loop: with unit costs, ``cur[k] = min(t[k], cur[k-1] + 1)``
    unrolls to ``k + min over m <= k of (t[m] - m)``, one running minimum
    (``t`` being each cell's diagonal and upper candidates, and the row's
    first cell).  Pairs are sorted by length and chunked, so padding and
    working memory stay small; cell (i, j) reads only ``a[:i]`` and
    ``b[:j]``, so the padding never reaches a pair's result."""
    n = len(a)
    len_a = np.fromiter(map(len, a), dtype=np.int64, count=n)
    len_b = np.fromiter(map(len, b), dtype=np.int64, count=n)
    out = len_a.copy()          # the distance to an empty b
    longest = np.maximum(len_a, len_b)
    by_len = np.argsort(longest, kind="stable")
    lo = 0
    while lo < n:
        # lengths ascend, so a chunk's last pair bounds its width
        hi = min(n, lo + max(1, _EDIT_CELLS
                             // (int(longest[by_len[lo]]) + 1)))
        hi = min(hi, lo + max(1, _EDIT_CELLS
                              // (int(longest[by_len[hi - 1]]) + 1)))
        sel = by_len[lo:hi]
        lo = hi
        la, lb = len_a[sel], len_b[sel]
        wa, wb = int(la.max()), int(lb.max())
        ca = _char_grid([a[i] for i in sel], la, wa)
        cb = _char_grid([b[i] for i in sel], lb, wb)
        cols = np.arange(wa + 1, dtype=np.int64)
        prev = np.broadcast_to(cols, (len(sel), wa + 1))
        t = np.empty((len(sel), wa + 1), dtype=np.int64)
        for j in range(wb):
            t[:, 0] = j + 1
            np.minimum(prev[:, :-1] + (ca != cb[:, j:j + 1]),
                       prev[:, 1:] + 1, out=t[:, 1:])
            prev = np.minimum.accumulate(t - cols, axis=1) + cols
            done = np.flatnonzero(lb == j + 1)
            out[sel[done]] = prev[done, la[done]]
    return out


def _char_grid(strings: Sequence[str], lengths: np.ndarray,
               width: int) -> np.ndarray:
    """``strings`` as a (len(strings) x width) codepoint grid, -1 padded."""
    grid = np.full((len(strings), width), -1, dtype=np.int64)
    rows = np.repeat(np.arange(len(strings)), lengths)
    cols = (np.arange(len(rows))
            - np.repeat(np.cumsum(lengths) - lengths, lengths))
    grid[rows, cols] = _codepoints(strings)
    return grid


def _distractor_mask(text_tokens: Sequence[str],
                     phrase_tokens: Sequence[str],
                     dist_threshold: int = 2) -> np.ndarray:
    """The reference's is_distractor (token_searcher.py:861-872) over
    every pair at once."""
    len_t = np.fromiter(map(len, text_tokens), dtype=np.int64,
                        count=len(text_tokens))
    len_p = np.fromiter(map(len, phrase_tokens), dtype=np.int64,
                        count=len(phrase_tokens))
    excess = (_edit_distances(text_tokens, phrase_tokens)
              - np.abs(len_t - len_p))
    mask = excess > dist_threshold
    for i in np.flatnonzero((excess == 0) & (len_t <= 3)).tolist():
        mask[i] = text_tokens[i] not in phrase_tokens[i]
    return mask


def compile_token_model(phrases: Sequence[Union[str, dict]],
                        config: Optional[dict] = None,
                        vocabulary: Optional[List[str]] = None) -> TokenModel:
    """Compile a phrase list into a TokenModel (driver-side, broadcast)."""
    config = dict(config or {})

    def cfg(key, default):
        return config.get(key, PUBLISHED_DEFAULT_CONFIG.get(key, default))

    mlv = cfg("max_length_variance", 1)
    tm = TokenModel(
        ngram_size=cfg("ngram_size", 2),
        skip_size=cfg("skip_size", 2),
        pad_token=bool(config.get("pad_token", False)),
        skipgram_threshold=cfg("skipgram_threshold", 0.2),
        levenshtein_threshold=cfg("levenshtein_threshold", 0.6),
        max_length_variance=mlv,
        max_token_length_variance=config.get("max_token_length_variance", mlv),
        max_char_gap=int(config.get("max_char_gap", 20)),
        max_token_gap=int(config.get("max_token_gap", 1)),
        phrases={}, is_variant_of={}, main_max_start={},
        token_in_phrase={}, min_token_offset={}, max_token_offset={},
        ptoken_max_start={}, ptoken_max_end={},
        gram_to_ptokens={}, token_num_skips={},
        vocab_terms=set(), distractor_pairs=set(),
    )

    def tokenize_phrase(name: str) -> List[Tok]:
        doc_len = len(name)
        return [
            Tok(n=string, index=ti, char_index=start,
                char_end_index=doc_len - (start + len(string) + 1))
            for ti, (string, start, _end) in enumerate(wordpunct_spans(name))
        ]

    def register(name: str, kind: str, label, max_start: int,
                 max_end: int) -> None:
        if name in tm.phrases:
            return  # first registration wins for resolution (phrase first)
        if isinstance(label, str):
            label_set = {label}
        elif label:
            label_set = set(label)
        else:
            label_set = set()
        tp = TokenPhrase(name=name, kind=kind, tokens=tokenize_phrase(name),
                         label_set=label_set, max_start_offset=max_start,
                         max_end_offset=max_end)
        tm.phrases[name] = tp
        for tok in tp.tokens:
            tm.token_in_phrase.setdefault(tok.n, [])
            if name not in tm.token_in_phrase[tok.n]:
                tm.token_in_phrase[tok.n].append(name)
            key = (tok.n, name)
            if key not in tm.min_token_offset:
                tm.min_token_offset[key] = tok.char_index
            tm.max_token_offset[key] = tok.char_index

    entries = [{"phrase": p} if isinstance(p, str) else dict(p)
               for p in phrases]
    # registration order mirrors the reference: mains, then variants
    # (inheriting the main's label/max offsets), then distractors
    for e in entries:
        register(e["phrase"], "phrase", e.get("label"),
                 e.get("max_start_offset", -1), e.get("max_end_offset", -1))
    for e in entries:
        for v in e.get("variants", []) or []:
            register(v, "variant", e.get("label"),
                     e.get("max_start_offset", -1),
                     e.get("max_end_offset", -1))
            tm.is_variant_of[v] = e["phrase"]
    for e in entries:
        for d in e.get("distractors", []) or []:
            register(d, "distractor", None, -1, -1)

    for name, tp in tm.phrases.items():
        if tp.kind == "phrase":
            tm.main_max_start[name] = tp.max_start_offset

    # per-token max offsets: set only when every phrase containing the
    # token restricts the offset (phrase_model.py:773-817)
    for tok_n, names in tm.token_in_phrase.items():
        starts, ends = [], []
        all_start = all_end = True
        for name in names:
            tp = tm.phrases[name]
            if tp.max_start_offset >= 0:
                starts.append(tp.max_start_offset
                              + tm.max_token_offset[(tok_n, name)])
            else:
                all_start = False
            if tp.max_end_offset >= 0:
                ends.append(tp.max_end_offset
                            + tm.min_token_offset[(tok_n, name)])
            else:
                all_end = False
        if all_start and starts:
            tm.ptoken_max_start[tok_n] = max(starts)
        if all_end and ends:
            tm.ptoken_max_end[tok_n] = max(ends)

    # phrase-token skipgram index
    for tok_n in tm.token_in_phrase:
        skips = token_skipgrams(tok_n, tm.ngram_size, tm.skip_size,
                                tm.pad_token)
        tm.token_num_skips[tok_n] = len(skips)
        for gram, _s, _l in skips:
            lst = tm.gram_to_ptokens.setdefault(gram, [])
            if tok_n not in lst:
                lst.append(tok_n)

    tm.probe_index = _build_probe_index(tm)

    # vocabulary: user terms + every phrase token; classify match vs
    # distractor pairs, then precompute each term's typed match list
    tm.vocab_terms = set(vocabulary or [])
    tm.vocab_terms.update(tm.token_in_phrase)
    terms = sorted(tm.vocab_terms)
    # distractor classification iterates ALL gram-sharing candidates —
    # including ones whose match type is NONE (the reference's
    # match_start_offsets carry no threshold filter)
    probes = _probe_batch(terms, tm, tm.distractor_pairs)
    # NB: the reference builds the probe token with char_index=0 and
    # char_end_index=len(term), so the within-offset check applies at
    # compile time too (token_searcher.py:466-495,563-577)
    offsets = tm.ptoken_max_start or tm.ptoken_max_end
    for term, probe in zip(terms, probes):
        tm.vocab_cache[term] = [
            (pt, mt) for pt, mt in probe
            if (term, pt) not in tm.distractor_pairs
            and (not offsets or _within_offsets(tm, pt, 0, len(term)))
        ]
    tm.chain_fanout = _build_chain_fanout(tm)
    return tm


#: reference get_partial_phrases' hardcoded start-offset gate
#: (token_searcher.py:921) — folded into the compile-time fan-out rows
_MAX_PARTIAL_START_OFFSET = 5


def _build_chain_fanout(tm: TokenModel) -> dict:
    """ptoken -> tuple of (phrase_id, phrase, start_ok, len(phrase.name),
    missing_after_seed, phrase_name, missing_after_set) rows.  phrase_id
    indexes a plain list of open buckets (array indexing instead of
    per-visit dict hashing); missing_after_seed is the phrase's token
    strings minus the seeding ptoken's first occurrence, shared across
    every fresh partial this row creates (see _PartialPhrase.fresh);
    missing_after_set is its frozenset twin for the dead-on-arrival
    window disjointness test (O(min) set op instead of list iteration,
    millions of evaluations per long document); the trailing
    (name_len - mlv, name_len + mlv) bounds replace a per-visit
    ``abs()`` call with two compares in the hottest branch."""
    pid_of = {pn: i for i, pn in enumerate(tm.phrases)}
    fanout = {}
    for tok_n, names in tm.token_in_phrase.items():
        rows = []
        for pn in names:
            tp = tm.phrases[pn]
            missing_after = [t.n for t in tp.tokens]
            missing_after.remove(tok_n)
            nl = len(tp.name)
            rows.append(
                (pid_of[pn], tp,
                 tm.min_token_offset[(tok_n, pn)]
                 < _MAX_PARTIAL_START_OFFSET,
                 nl, missing_after, pn,
                 frozenset(missing_after),
                 nl - tm.max_length_variance,
                 nl + tm.max_length_variance))
        fanout[tok_n] = tuple(rows)
    return fanout


def _within_offsets(tm: TokenModel, ptoken: str, char_index: int,
                    char_end_index: int) -> bool:
    """token_within_phrase_offset (token_searcher.py:1060-1092)."""
    if ptoken in tm.ptoken_max_start and char_index > tm.ptoken_max_start[ptoken]:
        return False
    if ptoken in tm.ptoken_max_end and char_end_index > tm.ptoken_max_end[ptoken]:
        return False
    return True


_PROBE_CACHE_MAX = 262144

#: distinct tokens per batched probe call: bounds the key stage's working
#: memory (every skipgram of every token of the call)
_PROBE_BATCH = 4096

#: gram hits (a token's gram occurrence x one phrase token of that gram's
#: bucket) per counting pass: bounds the count stage's working memory,
#: about eight int64 arrays of this length, however many phrase tokens
#: share a gram
_PROBE_HITS = 1 << 17

#: per-length skipgram templates up to this token length are cached;
#: longer tokens (rare) build theirs uncached
_TEMPLATE_MAX_LEN = 256

#: codepoint of a template token's first char; '#' (the pad char) is far
#: below it, so a template gram's chars tell pad from token position
_TEMPLATE_BASE = 0x100

#: a template token's char at position i is _TEMPLATE_BASE + i modulo
#: this cycle, far wider than any skipgram window
_TEMPLATE_CYCLE = 1 << 16


class _ProbeIndex(NamedTuple):
    """CSR gram -> phrase-token-id index for the batched probe.

    A gram is a row of ``ngram_size`` columns, each char's codepoint + 1
    and then 0 in the columns a short gram does not fill (the + 1 keeps a
    NUL char apart from an unfilled column).  ``_gram_keys`` makes a row
    an int64 key; ``keys`` are the index's grams' keys, sorted, and bucket
    ``i`` (``bucket_pids[offsets[i]:offsets[i + 1]]``) lists the ids of
    gram ``keys[i]``'s phrase tokens in ``gram_to_ptokens`` list order.
    With candidates emitted by first matched occurrence, the probe equals
    the Python loop per term in the tests' spec (``tests/token_spec.py``)
    bit-for-bit."""

    rows: Optional[np.ndarray]      # wide grams: the sorted rows keys rank
    keys: np.ndarray
    offsets: np.ndarray
    bucket_pids: np.ndarray
    ptokens: List[str]
    num_skips_arr: np.ndarray
    len_arr: np.ndarray


def _void_rows(grams: np.ndarray) -> np.ndarray:
    """Gram rows (``...`` x width) as one void scalar each."""
    return np.ascontiguousarray(grams, dtype=np.int32).view(
        np.dtype((np.void, 4 * grams.shape[-1])))[..., 0]


def _gram_keys(grams: np.ndarray, rows) -> np.ndarray:
    """The int64 keys of gram rows (``grams``: ... x ngram_size, see
    ``_ProbeIndex``).  Up to 3 columns fold into ``_CP_BITS`` each.  Wider
    rows do not fit in 63 bits, so their key is their rank among ``rows``,
    the index's sorted gram rows as void scalars, and -1 where ``rows``
    lacks them (as the phrase ``GramScanner`` codes wide grams)."""
    width = grams.shape[-1]
    if width <= 3:
        shift = _CP_BITS * np.arange(width - 1, -1, -1, dtype=np.int64)
        return (grams << shift).sum(axis=-1)
    grams = _void_rows(grams)
    rank = np.searchsorted(rows, grams)
    np.minimum(rank, len(rows) - 1, out=rank)
    return np.where(rows[rank] == grams, rank, -1)


def _build_probe_index(tm: TokenModel) -> _ProbeIndex:
    """Build the batched probe index (one for every config)."""
    ptokens = list(tm.token_in_phrase)
    pid_of = {pt: i for i, pt in enumerate(ptokens)}
    grams = list(tm.gram_to_ptokens)
    width = max(tm.ngram_size, 1)
    grid = _char_grid(grams, np.fromiter(map(len, grams), dtype=np.int64,
                                         count=len(grams)), width) + 1
    rows = np.sort(_void_rows(grid)) if width > 3 else None
    keys = _gram_keys(grid, rows)
    order = np.argsort(keys)
    offsets = np.zeros(len(grams) + 1, dtype=np.int64)
    buckets = []
    for i, g in enumerate(order.tolist()):
        plist = tm.gram_to_ptokens[grams[g]]
        offsets[i + 1] = offsets[i] + len(plist)
        buckets.append(np.fromiter((pid_of[p] for p in plist),
                                   dtype=np.int32, count=len(plist)))
    bucket_pids = (np.concatenate(buckets) if buckets
                   else np.zeros(0, dtype=np.int32))
    num_skips_arr = np.fromiter((tm.token_num_skips[p] for p in ptokens),
                                dtype=np.float64, count=len(ptokens))
    len_arr = np.fromiter((len(p) for p in ptokens), dtype=np.int64,
                          count=len(ptokens))
    return _ProbeIndex(rows, keys[order], offsets, bucket_pids, ptokens,
                       num_skips_arr, len_arr)


def _codepoints(strings: Sequence[str]) -> np.ndarray:
    """The codepoints of ``strings``, concatenated."""
    return np.frombuffer("".join(strings).encode("utf-32-le",
                                                 "surrogatepass"),
                         dtype=np.uint32).astype(np.int64)


@lru_cache(maxsize=512)
def _skipgram_template(length: int, ngram_size: int, skip_size: int,
                       pad_token: bool):
    """The skipgrams of every token of ``length`` chars as index arrays:
    ``pos`` (grams x ngram_size) picks each gram's row (see
    ``_ProbeIndex``) from the token's padded row (pads, token, pads, then
    one 0 column for the columns a short gram does not fill), and
    ``starts``/``ends`` are each gram's span.
    Read off ``token_skipgrams`` itself, so order and spans are the
    spec's: over a template token whose chars encode their positions
    modulo ``_TEMPLATE_CYCLE``.  A gram's chars lie within a few
    skipgram windows of the previous gram's first char, so each char
    sits at the position of its residue nearest to that anchor.  Lengths
    over ``_TEMPLATE_MAX_LEN`` call this uncached (``__wrapped__``)."""
    pad = ngram_size - 1 if pad_token else 0
    token = "".join(chr(_TEMPLATE_BASE + i % _TEMPLATE_CYCLE)
                    for i in range(length))
    grams = token_skipgrams(token, ngram_size, skip_size, pad_token)
    pos = np.full((len(grams), max(ngram_size, 1)), length + 2 * pad,
                  dtype=np.int64)
    half = _TEMPLATE_CYCLE // 2
    anchor = 0
    for g, (gram, _s, _l) in enumerate(grams):
        first = None
        for k, ch in enumerate(gram):
            if ch == "#":
                pos[g, k] = 0
            else:
                at = anchor + ((ord(ch) - _TEMPLATE_BASE - anchor + half)
                               % _TEMPLATE_CYCLE) - half
                pos[g, k] = pad + at
                if first is None:
                    first = at
        if first is not None:
            anchor = first
    starts = np.array([s for _g, s, _l in grams], dtype=np.int64)
    ends = np.array([s + ln for _g, s, ln in grams], dtype=np.int64)
    for arr in (pos, starts, ends):
        arr.setflags(write=False)       # shared by every caller
    return pos, starts, ends


def _batch_skipgrams(terms: Sequence[str], tm: TokenModel):
    """Every skipgram of every term: (keys, starts, ends, term id) per
    gram occurrence, plus each term's gram count.  A term's occurrences
    are contiguous and in ``token_skipgrams`` order; terms of one length
    are keyed together, in one NumPy pass over a (terms x grams) grid.
    Keys are ``_gram_keys`` of the probe index's gram rows."""
    pad = tm.ngram_size - 1 if tm.pad_token else 0
    by_len: Dict[int, List[int]] = {}
    for i, term in enumerate(terms):
        by_len.setdefault(len(term), []).append(i)
    num_skips = np.zeros(len(terms), dtype=np.int64)
    parts = []
    for length, ids in by_len.items():
        template = (_skipgram_template if length <= _TEMPLATE_MAX_LEN
                    else _skipgram_template.__wrapped__)
        pos, starts, ends = template(
            length, tm.ngram_size, tm.skip_size, tm.pad_token)
        rows = np.full((len(ids), length + 2 * pad + 1), ord("#") + 1,
                       dtype=np.int64)
        rows[:, pad:pad + length] = _codepoints(
            [terms[i] for i in ids]).reshape(len(ids), length) + 1
        rows[:, -1] = 0
        keys = _gram_keys(rows[:, pos], tm.probe_index.rows)
        ids_arr = np.array(ids, dtype=np.int64)
        num_skips[ids_arr] = len(starts)
        parts.append((keys.ravel(), np.tile(starts, len(ids)),
                      np.tile(ends, len(ids)),
                      np.repeat(ids_arr, len(starts))))
    if not parts:
        empty = np.zeros(0, dtype=np.int64)
        return empty, empty, empty, empty, num_skips
    keys, starts, ends, term_of = (np.concatenate(col)
                                   for col in zip(*parts))
    return keys, starts, ends, term_of, num_skips


_MATCH_TYPES = (MatchType.FULL, MatchType.PARTIAL_OF_PHRASE_TOKEN,
                MatchType.PARTIAL_OF_TEXT_TOKEN)


def _probe_chunk(terms: Sequence[str], tm: TokenModel):
    """One batched probe of distinct ``terms`` against the phrase tokens.

    1. Gather: all gram keys in one ``searchsorted``; each hit expands to
       its bucket of phrase-token ids.  A (term, ptoken) pair's hits stay
       in the term's gram order.
    2. Slice: consecutive terms are grouped so that a slice holds about
       ``_PROBE_HITS`` hits (at most that plus one term's), and the rest
       runs per slice: working memory follows that bound, not the number
       of terms or the size of the gram buckets.
    3. Count: one stable sort of the pair codes (term * ptokens + ptoken)
       gives each gram-sharing pair its distinct shared-gram count and
       its first and last hit.
    4. Type: only the pairs whose count clears ``skipgram_threshold``
       get overlap positions and a match type (the arithmetic of the
       reference's get_token_skip_match_type, token_searcher.py:1188-1257,
       vectorized).

    Yields per slice the typed pairs that are not NONE as (term, ptoken
    id, match type code) ordered by term, then first matched occurrence,
    and every gram-sharing pair of the slice as (term, ptoken id),
    unordered.  No term spans two slices; an index without grams
    yields nothing."""
    idx: _ProbeIndex = tm.probe_index
    if not len(idx.keys):
        return
    keys, starts, ends, term_of, num_skips = _batch_skipgrams(terms, tm)
    pos = np.searchsorted(idx.keys, keys)
    np.minimum(pos, len(idx.keys) - 1, out=pos)
    occ = np.flatnonzero(idx.keys[pos] == keys)
    if not occ.size:
        return
    gram = pos[occ]
    occ_term = term_of[occ]
    # a gram that repeats in a term counts once: mark its first hit
    first_hit = np.unique(occ_term * len(idx.keys) + gram,
                          return_index=True)[1]
    distinct = np.zeros(occ.size, dtype=np.int64)
    distinct[first_hit] = 1
    lo = idx.offsets[gram]
    counts = idx.offsets[gram + 1] - lo
    # a term's occurrences are contiguous: cut before each term whose
    # preceding hits cross a multiple of _PROBE_HITS
    term_at = np.flatnonzero(np.r_[True, occ_term[1:] != occ_term[:-1]])
    band = (np.cumsum(counts) - counts)[term_at] // _PROBE_HITS
    cuts = term_at[1:][band[1:] != band[:-1]].tolist()
    len_t = np.fromiter(map(len, terms), dtype=np.int64, count=len(terms))
    n_pt = len(idx.ptokens)
    thr = tm.skipgram_threshold
    mtlv = tm.max_token_length_variance
    for a, b in zip([0] + cuts, cuts + [occ.size]):
        cnt = counts[a:b]
        total = int(cnt.sum())
        flat = (np.repeat(lo[a:b] - (np.cumsum(cnt) - cnt), cnt)
                + np.arange(total, dtype=np.int64))
        code = np.repeat(occ_term[a:b], cnt) * n_pt + idx.bucket_pids[flat]
        order = np.argsort(code, kind="stable")
        code = code[order]
        seg = np.flatnonzero(np.r_[True, code[1:] != code[:-1]])
        pair_term, pair_pid = np.divmod(code[seg], n_pt)
        shared = np.add.reduceat(np.repeat(distinct[a:b], cnt)[order], seg)
        to = shared / num_skips[pair_term]
        po = shared / idx.num_skips_arr[pair_pid]
        ok = np.flatnonzero((to >= thr) | (po >= thr))
        hit_occ = np.repeat(occ[a:b], cnt)
        first = order[seg[ok]]
        last = order[np.r_[seg[1:], total][ok] - 1]
        span = ends[hit_occ[last]] - starts[hit_occ[first]]
        t, p = pair_term[ok], pair_pid[ok]
        lt, lp = len_t[t], idx.len_arr[p]
        keep = np.where(to[ok] > po[ok], lt - span, lp - span) <= mtlv
        t, p, first, lt, lp = (v[keep] for v in (t, p, first, lt, lp))
        mtype = np.where(np.abs(lt - lp) <= mtlv, 0,
                         np.where(lt < lp, 1, 2))
        emit = np.lexsort((first, t))
        yield t[emit], p[emit], mtype[emit], pair_term, pair_pid


def _probe_batch(terms: Sequence[str], tm: TokenModel,
                 distractors: Optional[Set[Tuple[str, str]]] = None):
    """Offset-free probes of distinct ``terms``: per term its (ptoken,
    match_type) list in first-matched-occurrence order, NONE-typed
    candidates dropped.  Given a ``distractors`` set,
    also adds to it every gram-sharing (term, ptoken) pair that
    ``_distractor_mask`` holds for (compile's classification), one
    ``_probe_chunk`` slice at a time.  Runs ``_probe_chunk`` over at most
    ``_PROBE_BATCH`` terms at a time."""
    ptokens = tm.probe_index.ptokens
    probes: List[List[Tuple[str, MatchType]]] = [[] for _ in terms]
    for lo in range(0, len(terms), _PROBE_BATCH):
        chunk = terms[lo:lo + _PROBE_BATCH]
        for t, p, mtype, pair_t, pair_p in _probe_chunk(chunk, tm):
            for ti, pi, mi in zip(t.tolist(), p.tolist(), mtype.tolist()):
                probes[lo + ti].append((ptokens[pi], _MATCH_TYPES[mi]))
            if distractors is not None:
                pair_terms = [chunk[i] for i in pair_t.tolist()]
                pair_ptokens = [ptokens[i] for i in pair_p.tolist()]
                distractors.update(compress(
                    zip(pair_terms, pair_ptokens),
                    _distractor_mask(pair_terms, pair_ptokens)))
    return probes


def _raw_probes(strings: Sequence[str],
                tm: TokenModel) -> Dict[str, List[Tuple[str, MatchType]]]:
    """Offset-free skipgram probes of the distinct ``strings`` (text tokens
    outside the vocabulary cache), read through the per-process memo.  The
    distractor-pair and within-offset exclusions are per-ptoken predicates
    independent of the gram accumulation, so they apply as post-filters
    (see _find_token_matches and compile_token_model) and the raw probe
    caches cleanly — the Spark analog of the reference's vocabulary
    skipgram-match cache (token_searcher.py:563-577,1095-1122).

    The strings the memo lacks are probed together, in one
    ``_probe_batch``.  The memo keeps at most ``_PROBE_CACHE_MAX``
    entries (cleared when full); the returned dict holds every string's
    probe even when one call brings more strings than that."""
    memo = tm.runtime_probe_cache
    found: Dict[str, Optional[list]] = dict.fromkeys(strings)
    new = []
    for s in found:
        hit = memo.get(s)
        if hit is None:
            new.append(s)
        else:
            found[s] = hit
    if not new:
        return found
    for s, probe in zip(new, _probe_batch(new, tm)):
        found[s] = probe
        if len(memo) >= _PROBE_CACHE_MAX:
            memo.clear()
        memo[s] = probe
    return found


class TokenMatch:
    """One text-token(s) -> phrase-token match.  text_start/text_end are
    precomputed plain attributes — the chaining state machine reads them
    tens of millions of times per large-model document, so property
    dispatch was a measured hot spot."""

    __slots__ = ("text_tokens", "ptoken", "match_type", "text_start",
                 "text_end")

    def __init__(self, text_tokens: Tuple[Tok, ...], ptoken: str,
                 match_type: MatchType):
        self.text_tokens = text_tokens
        self.ptoken = ptoken
        self.match_type = match_type
        self.text_start = text_tokens[0].char_index
        last = text_tokens[-1]
        self.text_end = last.char_index + len(last.n)


class _PartialPhrase:
    """Reference PartialPhraseMatch, as the chain loop builds it: only
    through ``fresh`` and ``copy_extend``, which never change a partial
    in place.  The reference's generic constructor, add_tokens, _update
    and copy are their spec (``tests/token_spec.py``)."""

    __slots__ = ("phrase", "token_matches", "text_tokens", "phrase_tokens",
                 "missing", "text_start", "text_end", "text_length",
                 "match_string", "lev")

    @classmethod
    def fresh(cls, phrase: TokenPhrase, tmch: TokenMatch,
              missing_after: List[str]) -> "_PartialPhrase":
        """Chain-loop fresh partial (millions per long document at
        large models): the missing list comes PRECOMPUTED from the
        compile-time fan-out row (the phrase's token strings minus the
        seeding ptoken's first occurrence) and is SHARED between partials — safe because
        every mutation path in the chain flow builds a new list
        (``copy_extend``)."""
        new = cls.__new__(cls)
        new.phrase = phrase
        new.token_matches = [tmch]
        new.text_tokens = tmch.text_tokens
        new.phrase_tokens = (tmch.ptoken,)
        new.missing = missing_after
        new.text_start = tmch.text_start
        new.text_end = tmch.text_end
        new.text_length = tmch.text_end - tmch.text_start
        new.match_string = None
        new.lev = None
        return new

    def copy_extend(self, tmch: TokenMatch) -> "_PartialPhrase":
        """The spec's ``copy()`` + ``add_tokens([tmch])`` fused into one
        O(1) incremental step: appending a single match only needs the last
        existing match for ``_update``'s merge decision (equal-start ->
        skip, gap/adjacent -> extend, overlap -> drop), so the full
        token_matches rescan and the missing-template recopy are
        replaced by constant-size work.  Result is attribute-identical
        to the two-call form (pinned by the chaining A/B test), except
        ``phrase_tokens``, which is write-only in the chain flow and
        left at the seed value.  Precondition (caller-checked):
        ``tmch.ptoken in self.missing``."""
        new = _PartialPhrase.__new__(_PartialPhrase)
        new.phrase = self.phrase
        new.token_matches = self.token_matches + [tmch]
        missing = list(self.missing)
        missing.remove(tmch.ptoken)
        new.missing = missing
        prev = self.token_matches[-1]
        ts = tmch.text_start
        if ts == prev.text_start or ts < prev.text_end:
            # _update skips equal-start matches and drops partially
            # overlapping ones either way: tokens unchanged
            new.text_tokens = self.text_tokens
            new.text_end = self.text_end
        else:
            new.text_tokens = self.text_tokens + tmch.text_tokens
            new.text_end = tmch.text_end
        new.phrase_tokens = self.phrase_tokens
        new.text_start = self.text_start
        new.text_length = new.text_end - new.text_start
        new.match_string = None
        new.lev = None
        return new


def _tokenize(text: str) -> List[Tok]:
    doc_len = len(text)
    return [
        Tok(n=string, index=ti, char_index=start,
            char_end_index=doc_len - (start + len(string) + 1))
        for ti, (string, start, _end) in enumerate(wordpunct_spans(text))
    ]


def _find_token_matches(tokens: List[Tok], tm: TokenModel) -> List[TokenMatch]:
    """Per-token probe + partial-token chaining (token_searcher.py:579-730).

    Every distinct token outside the vocabulary cache is probed up front,
    in one batch (``_raw_probes``); the loop then only reads probes and
    applies the per-occurrence filters."""
    token_matches: List[TokenMatch] = []
    partials: Dict[str, List[Tok]] = {}
    cache = tm.vocab_cache
    raw = _raw_probes([tok.n for tok in tokens if tok.n not in cache], tm)
    offsets = tm.ptoken_max_start or tm.ptoken_max_end
    for tok in tokens:
        entries = cache.get(tok.n)
        if entries is None:
            entries = raw[tok.n]
            # a vocabulary term outside the cache: a distractor pair
            # registered after compile (compat's index_distractor_pair)
            if tok.n in tm.vocab_terms and tm.distractor_pairs:
                entries = [(pt, mt) for pt, mt in entries
                           if (tok.n, pt) not in tm.distractor_pairs]
        if offsets:
            entries = [
                (pt, mt) for pt, mt in entries
                if _within_offsets(tm, pt, tok.char_index, tok.char_end_index)
            ]
        for ptoken, mtype in entries:
            if mtype is MatchType.NONE:
                continue
            if mtype is MatchType.FULL:
                token_matches.append(TokenMatch((tok,), ptoken, mtype))
            elif mtype is MatchType.PARTIAL_OF_PHRASE_TOKEN:
                seq = partials.get(ptoken)
                if seq:
                    last = seq[-1]
                    if tok.char_index - (last.char_index + len(last.n)) > 4:
                        del partials[ptoken]
                        seq = None
                if not seq and (tok.n, ptoken) in tm.distractor_pairs:
                    continue  # single-token distractor pair
                seq = partials.setdefault(ptoken, [])
                seq.append(tok)
                if len(seq) > 1:
                    first, last = seq[0], seq[-1]
                    partial_len = last.char_index + len(last.n) - first.char_index
                    length_diff = partial_len - len(ptoken)
                    if length_diff > 0 or \
                            abs(length_diff) <= tm.max_token_length_variance:
                        token_matches.append(
                            TokenMatch(tuple(seq), ptoken, mtype))
                        seq.pop(0)
            else:  # PARTIAL_OF_TEXT_TOKEN
                token_matches.append(TokenMatch((tok,), ptoken, mtype))
        # NB: the reference's end-of-token "emptying" of the partial dict
        # rebinds a local and is a no-op; partials deliberately persist
    return token_matches


def _chain_partial_phrases(token_matches: List[TokenMatch],
                           tm: TokenModel) -> Dict[str, List[_PartialPhrase]]:
    """get_partial_phrases (token_searcher.py:902-1057).

    Faithful state machine, allocation-light execution (this loop is
    >95% of large-model document cost, measured):

    * the reference semantics — snapshot iteration with mid-loop
      evictions to ``candidates`` and mid-loop copy-appends the current
      round must not revisit — are reproduced by scanning the live
      bucket once, lazily forking a survivors list only when an
      eviction actually happens, and appending the round's new partials
      afterwards.  Element order is preserved exactly (survivors in
      original order, then copies in visit order, then the fresh
      partial) without per-visit list copies or O(n) ``remove`` calls.
    * the per-visit ``min_token_offset`` / ``phrases`` lookups come
      precomputed from the ``chain_fanout`` rows, which
      ``compile_token_model`` (the only maker of a model) always builds.
    * a retired partial (evicted here, or flushed at end-of-text) is
      dropped instead of appended to ``candidates`` when it is BOTH
      incomplete and outside ``max_length_variance``: the downstream
      kept-filter discards such a partial unconditionally (the length
      clause), and — being incomplete — it cannot flip that filter's
      ``has_complete`` bit, so the surviving candidate list (content
      AND order) is identical.  Retired partials are final (nothing
      extends them later), so the test is stable at drop time.
    * round 5 extends that argument BACKWARD to creation time: a
      partial that is (a) incomplete, (b) outside ``max_length_variance``
      and (c) has NO token match anywhere in the stream for any of its
      missing ptokens within ``(text_end, text_end + max_char_gap]`` is
      dead on arrival — (c) means it can never be extended (every
      extend requires exactly such a match), so (a)/(b) are final and
      the eviction/flush drop above is already its certain fate.  It
      never enters ``candidates``, never sets ``has_complete``, never
      changes any other partial's flow (the ``added`` flag is preserved
      when a dead COPY is suppressed), so skipping its creation leaves
      the candidate dict bit-identical while the per-visit bucket scans
      stop paying for it — the dominant cost at 10^3+ phrase models,
      where ~half of all creations are dead on arrival (measured).
      The window test is O(1) amortized: one sorted pass over match
      starts up front, a per-``text_end`` ptoken-set cache."""
    from bisect import bisect_right

    max_char_gap = tm.max_char_gap
    max_length_variance = tm.max_length_variance
    fanout = tm.chain_fanout
    buckets: List[Optional[List[_PartialPhrase]]] = [None] * len(tm.phrases)
    candidates: Dict[str, List[_PartialPhrase]] = {}
    empty = ()
    fresh_partial = _PartialPhrase.fresh

    # dead-on-arrival test support: every possible future extension of a
    # partial ending at `pe` is a token match with text_start in
    # (pe, pe + max_char_gap] — collect match starts once, serve the
    # window's ptoken set per distinct pe from a cache.  NOTE: the test
    # must stay exactly "not extendable" — pruning a partial that could
    # still be EXTENDED is unsound even when it provably never reaches
    # ``candidates``, because its extends set the ``added`` flag, which
    # suppresses fresh creations (observed divergence when a stronger
    # completability/length-band prune was tried in round 5).
    order = sorted(range(len(token_matches)),
                   key=lambda i: token_matches[i].text_start)
    _pos = [token_matches[i].text_start for i in order]
    _ptok = [token_matches[i].ptoken for i in order]
    _win_cache: Dict[int, frozenset] = {}

    def _window_set(pe: int) -> frozenset:
        s = _win_cache.get(pe)
        if s is None:
            lo = bisect_right(_pos, pe)
            hi = bisect_right(_pos, pe + max_char_gap)
            s = frozenset(_ptok[lo:hi])
            _win_cache[pe] = s
        return s

    for tmch in token_matches:
        ts = tmch.text_start
        te = tmch.text_end
        tlen = te - ts
        ptoken = tmch.ptoken
        window = None               # _window_set(te), computed on demand
        for row in fanout.get(ptoken, empty):
            bucket = buckets[row[0]]
            if bucket is None:
                # dominant visit class on long docs — indexed access, no
                # 9-way unpack, bounds compares instead of abs()
                if row[2]:                      # start_ok
                    miss_after = row[4]
                    if miss_after and not (row[7] <= tlen <= row[8]):
                        if window is None:
                            window = _window_set(te)
                        if window.isdisjoint(row[6]):
                            continue  # dead on arrival (docstring)
                    buckets[row[0]] = [fresh_partial(row[1], tmch,
                                                     miss_after)]
                continue
            pid, phrase, start_ok, name_len, miss_after, phrase_name, \
                miss_set, len_lo, len_hi = row
            added = False
            survivors = None        # lazily forked only on first eviction
            appends = None          # lazily allocated only on first append
            max_copy_len = name_len + max_length_variance
            for i, partial in enumerate(bucket):
                pe = partial.text_end
                if ts - pe > max_char_gap:
                    if survivors is None:
                        survivors = bucket[:i]
                    if not partial.missing or \
                            abs(partial.text_length - name_len) <= \
                            max_length_variance:
                        candidates.setdefault(phrase_name,
                                              []).append(partial)
                    continue
                if survivors is not None:
                    survivors.append(partial)
                if pe < ts and ptoken in partial.missing:
                    # copy length pre-check WITHOUT allocating: the copy's
                    # text_end is copy_extend's merge decision, its start
                    # is inherited — ~3/4 of copies fail this check at
                    # large models (measured), so the allocation + list
                    # copies are hoisted behind it
                    prev = partial.token_matches[-1]
                    if ts == prev.text_start or ts < prev.text_end:
                        new_end = pe
                    else:
                        new_end = te
                    if new_end - partial.text_start > max_copy_len:
                        continue
                    added = True
                    partial_copy = partial.copy_extend(tmch)
                    if partial_copy.missing and \
                            name_len - partial_copy.text_length > \
                            max_length_variance and \
                            _window_set(partial_copy.text_end) \
                            .isdisjoint(partial_copy.missing):
                        continue  # dead on arrival; `added` stands
                    if appends is None:
                        appends = [partial_copy]
                    else:
                        appends.append(partial_copy)
            if not added and start_ok:
                dead = False
                if miss_after and not (len_lo <= tlen <= len_hi):
                    if window is None:
                        window = _window_set(te)
                    dead = window.isdisjoint(miss_set)
                if not dead:
                    fresh = fresh_partial(phrase, tmch, miss_after)
                    if appends is None:
                        appends = [fresh]
                    else:
                        appends.append(fresh)
            live = bucket if survivors is None else survivors
            if appends is not None:
                live.extend(appends)
            if survivors is not None:
                # an emptied bucket reverts to None: the None branch and
                # the empty-scan path are behavior-identical (both just
                # seed when start_ok and alive), and the None check
                # short-circuits the whole scan setup on every later
                # visit — the dominant visit class late in long docs
                buckets[pid] = survivors or None
    for (phrase_name, tp), partials in zip(tm.phrases.items(), buckets):
        if not partials:
            continue
        name_len = len(tp.name)
        flushed = [p for p in partials
                   if not p.missing
                   or abs(p.text_length - name_len) <= max_length_variance]
        if flushed:
            candidates.setdefault(phrase_name, []).extend(flushed)
    for phrase_name in candidates:
        bucket = candidates[phrase_name]
        phrase = tm.phrases[phrase_name]
        has_complete = any(not p.missing for p in bucket)
        kept = []
        for partial in bucket:
            if has_complete and partial.missing:
                continue
            if abs(partial.text_length - len(phrase.name)) > \
                    tm.max_length_variance:
                continue
            kept.append(partial)
        candidates[phrase_name] = kept
    return candidates


def find_token_matches(text: str, tm: TokenModel,
                       text_id: Optional[str] = None,
                       tokens: Optional[List] = None) -> List[Match]:
    """FuzzyTokenSearcher.find_matches (token_searcher.py:813-858).

    ``tokens`` feeds PRE-TOKENIZED input through (reference
    get_text_tokens returns a Doc's own tokens / a Token list unchanged,
    token_searcher.py:259-281): any objects with ``.n`` / ``.char_index``
    (and optionally ``.char_end_index``) are accepted; match offsets then
    refer to the caller's original document."""
    if tokens is not None:
        doc_len = len(text)
        tokens = [
            t if isinstance(t, Tok) else Tok(
                n=t.n, index=i, char_index=t.char_index,
                char_end_index=(
                    t.char_end_index if getattr(t, "char_end_index", None)
                    is not None
                    else doc_len - (t.char_index + len(t.n) + 1)))
            for i, t in enumerate(tokens)
        ]
    else:
        tokens = _tokenize(text)
    token_matches = _find_token_matches(tokens, tm)
    candidates = _chain_partial_phrases(token_matches, tm)

    # _pick_best_candidates (token_searcher.py:732-811).  The reference
    # iterates candidate phrases in id-hash set order, so its same-offset
    # equal-score tie-break is process-dependent; we fix the policy to
    # longest-phrase-first (its empirically common order, and the more
    # complete match)
    at_offset: Dict[int, _PartialPhrase] = {}
    for phrase_name in sorted(candidates, key=lambda n: (-len(n), n)):
        for pp in candidates[phrase_name]:
            full_text_length = pp.text_end - pp.text_start
            pp.match_string = " ".join(t.n for t in pp.text_tokens)
            length_diff = abs(len(pp.match_string) - len(pp.phrase.name))
            if length_diff > tm.max_length_variance:
                if abs(full_text_length - len(pp.phrase.name)) > \
                        tm.max_length_variance:
                    continue
                if 1 - (length_diff / len(pp.phrase.name)) < \
                        tm.levenshtein_threshold:
                    continue
            pp.lev = S.indel_similarity(pp.phrase.name, pp.match_string,
                                        score_cutoff=tm.levenshtein_threshold)
            if pp.lev < tm.levenshtein_threshold:
                continue
            cur = at_offset.get(pp.text_start)
            if cur is None or pp.lev > cur.lev:
                at_offset[pp.text_start] = pp

    out: List[Match] = []
    for pp in sorted(at_offset.values(), key=lambda p: p.text_start):
        tp = pp.phrase
        if tp.kind == "phrase":
            main_name, variant_name = tp.name, tp.name
        elif tp.kind == "variant":
            main_name, variant_name = tm.is_variant_of[tp.name], tp.name
        else:
            continue  # distractor phrases never emit matches
        label = sorted(tp.label_set) if tp.label_set else None
        out.append(Match(
            phrase=main_name, variant=variant_name, string=pp.match_string,
            offset=pp.text_start, end=pp.text_start + len(pp.match_string),
            label=label, char_match=None, ngram_match=None,
            levenshtein_similarity=pp.lev,
        ))
    # max-start-offset filter (searcher.py:336-366), on the main phrase
    return [
        m for m in out
        if tm.main_max_start.get(m.phrase, -1) in (-1, None)
        or tm.main_max_start[m.phrase] >= m.offset
    ]

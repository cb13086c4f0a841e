"""The token matcher's spec: the Python loop per term that the batched
probe replaced, and the generic partial-phrase forms that the chain loop's
fused constructors replaced.  Nothing in the package runs this code; the
A/B tests in ``test_token_matcher.py`` compare the package's paths against
it.  The loops follow the reference's token searcher line by line."""

from typing import Dict, List, Optional, Tuple

from fuzzy_search_spark.kernels import strings as S
from fuzzy_search_spark.token_matcher import (
    MatchType,
    Tok,
    TokenMatch,
    TokenModel,
    TokenPhrase,
    _PartialPhrase,
    token_skipgrams,
)


def _is_distractor(text_token: str, phrase_token: str,
                   dist_threshold: int = 2) -> bool:
    """Reference is_distractor (token_searcher.py:861-872)."""
    dist = S.levenshtein_distance(text_token, phrase_token)
    length_diff = abs(len(text_token) - len(phrase_token))
    if dist - length_diff == 0 and len(text_token) <= 3:
        return text_token not in phrase_token
    return dist - length_diff > dist_threshold


def _accumulate_python(token_n: str, tm: TokenModel):
    """The Python accumulation loop: (number of skipgrams of ``token_n``,
    {ptoken: [distinct shared gram set, first (start, len), last (start,
    len)]} in first-matched-occurrence order) over EVERY gram-sharing
    ptoken."""
    skips = token_skipgrams(token_n, tm.ngram_size, tm.skip_size,
                            tm.pad_token)
    matched: Dict[str, list] = {}
    for gram, start, length in skips:
        for ptoken in tm.gram_to_ptokens.get(gram, ()):
            ent = matched.get(ptoken)
            if ent is None:
                matched[ptoken] = [{gram}, (start, length), (start, length)]
            else:
                ent[0].add(gram)
                ent[2] = (start, length)
    return len(skips), matched


def _type_python(token_n: str, num_skips: int, matched: Dict[str, list],
                 tm: TokenModel) -> List[Tuple[str, MatchType]]:
    """``_accumulate_python``'s candidates typed, NONE dropped."""
    out = []
    for ptoken, (gram_set, first, last) in matched.items():
        mtype = _match_type(token_n, num_skips, len(gram_set), first, last,
                            ptoken, tm)
        if mtype is not MatchType.NONE:
            out.append((ptoken, mtype))
    return out


def _match_type(token_n: str, num_skips: int, num_matched: int,
                first: Tuple[int, int], last: Tuple[int, int],
                ptoken: str, tm: TokenModel) -> MatchType:
    """get_token_skip_match_type (token_searcher.py:1188-1257)."""
    overlap_start = first[0]
    overlap_end = last[0] + last[1]
    text_overlap = num_matched / num_skips if num_skips else 0.0
    phrase_overlap = num_matched / tm.token_num_skips[ptoken]
    if text_overlap > phrase_overlap:
        length_variance = len(token_n) - (overlap_end - overlap_start)
    else:
        length_variance = len(ptoken) - (overlap_end - overlap_start)
    if text_overlap < tm.skipgram_threshold and \
            phrase_overlap < tm.skipgram_threshold:
        return MatchType.NONE
    if length_variance > tm.max_token_length_variance:
        return MatchType.NONE
    if abs(len(token_n) - len(ptoken)) <= tm.max_token_length_variance:
        return MatchType.FULL
    if len(token_n) < len(ptoken):
        return MatchType.PARTIAL_OF_PHRASE_TOKEN
    return MatchType.PARTIAL_OF_TEXT_TOKEN


def probe_batch(terms, tm: TokenModel, distractors=None):
    """``token_matcher._probe_batch``'s contract, one term at a time:
    each term's typed probe, and, given a ``distractors`` set, every
    gram-sharing (term, ptoken) pair that ``_is_distractor`` holds for
    added to it.  Patched in for ``_probe_batch``, it makes compile and
    the runtime probe run the spec."""
    probes = []
    for term in terms:
        num_skips, matched = _accumulate_python(term, tm)
        if distractors is not None:
            distractors.update(
                (term, pt) for pt in matched if _is_distractor(term, pt))
        probes.append(_type_python(term, num_skips, matched, tm))
    return probes


class PartialPhrase(_PartialPhrase):
    """Reference PartialPhraseMatch (add_tokens/_update/copy semantics):
    the generic forms of ``_PartialPhrase.fresh`` and ``copy_extend``."""

    __slots__ = ()

    def __init__(self, phrase: TokenPhrase,
                 token_matches: Optional[List[TokenMatch]] = None):
        self.phrase = phrase
        self.token_matches: List[TokenMatch] = []
        self.text_tokens: tuple = ()
        self.phrase_tokens: tuple = ()
        self.missing = [t.n for t in phrase.tokens]
        self.text_start = -1
        self.text_end = -1
        self.text_length = 0
        self.match_string: Optional[str] = None
        self.lev: Optional[float] = None
        if token_matches:
            if len(token_matches) == 1:
                # fast path for the overwhelmingly common fresh-partial
                # shape: one match seeds the state without the generic
                # re-scan (identical result to add_tokens)
                m = token_matches[0]
                if m.ptoken in self.missing:
                    self.missing.remove(m.ptoken)
                self.token_matches = [m]
                self.text_tokens = m.text_tokens
                self.phrase_tokens = (m.ptoken,)
                self.text_start = m.text_start
                self.text_end = m.text_end
                self.text_length = self.text_end - self.text_start
            else:
                self.add_tokens(token_matches)

    def add_tokens(self, token_matches: List[TokenMatch]) -> None:
        for tmch in token_matches:
            if tmch.ptoken in self.missing:
                self.missing.remove(tmch.ptoken)
        self.token_matches.extend(token_matches)
        self._update()

    def _update(self) -> None:
        text_tokens: List[Tok] = []
        prev: Optional[TokenMatch] = None
        for m in self.token_matches:
            if prev is None:
                text_tokens.extend(m.text_tokens)
            elif m.text_start == prev.text_start:
                pass
            elif m.text_start >= prev.text_end:
                text_tokens.extend(m.text_tokens)
            # partially overlapping matches: the reference leaves this case
            # unimplemented (prints a TODO); tokens are dropped, as there
            prev = m
        self.text_tokens = tuple(text_tokens)
        self.phrase_tokens = tuple(m.ptoken for m in self.token_matches)
        first = self.text_tokens[0]
        last = self.text_tokens[-1]
        self.text_start = first.char_index
        self.text_end = last.char_index + len(last.n)
        self.text_length = self.text_end - self.text_start

    def copy(self) -> "PartialPhrase":
        new = PartialPhrase(self.phrase)
        new.token_matches = list(self.token_matches)
        new.missing = list(self.missing)
        new.text_tokens = self.text_tokens
        new.phrase_tokens = self.phrase_tokens
        new.text_start = self.text_start
        new.text_end = self.text_end
        new.text_length = self.text_length
        return new

"""Per-document fuzzy match pipeline.

This is the sequential kernel executed inside Arrow-batched pandas UDFs —
parallelism is *across* documents (Spark tasks), never within one, so the
order-sensitive candidate assembly stays deterministic and byte-identical
regardless of partitioning.

Pipeline stages and their reference anchors (SURVEY.md §2.4):

 1. exact-match prepass              search/phrase_searcher.py:360-389,
                                     match/exact_match.py:49-206
 2. known-word offset index          match/exact_match.py:13-46
 3. skipgram scan + index probe      search/searcher.py:265-334
 4. skip-set overlap prefilter       match/skip_match.py:264-270
 5. candidate assembly sweep         match/skip_match.py:153-237,
                                     match/candidate_match.py:92-329
 6. word-boundary snapping           match/match_offsets.py:120-269
 7. per-phrase overlap dedup         match/skip_match.py:105-150
 8. scoring                          match/phrase_match.py:169-186
 9. threshold / distractor filters   search/phrase_searcher.py:213-253
10. fuzzy+exact merge                search/phrase_searcher.py:49-75
11. max-start-offset filter          search/searcher.py:336-366
12. cross-phrase overlap resolution  match/match_offsets.py:16-54
13. final per-document sort          search/phrase_searcher.py:358

Documented divergences from the reference (each unreachable in its golden
suite): (a) a phrase with ``max_end_offset`` raises AttributeError there
(searcher.py:305 reads the nonexistent ``max_end_end``); we implement the
intended pruning.  (b) uncovered boundary-table combinations raise there; we
reject the candidate.  (c) set-iteration orders there are id-hash dependent;
we use first-match insertion order (deterministic).

Stages 3-5 take one code path for every text and gram config: the model's
scanner returns int64 gram codes (kernels/skipgrams.py), ``_accumulate``
maps each searched phrase's hits to phrase-local ids, and
``_sweep_candidates`` assembles the candidates on those ids.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Dict, List, Optional, Tuple, Union

from fuzzy_search_spark.kernels import strings as S
from fuzzy_search_spark.kernels.boundaries import snap_span
from fuzzy_search_spark.model import CompiledModel, CompiledPhrase

_WORD_RE = re.compile(r"\w+")
_NON_WORD_SPLIT = re.compile(r"\W+")
_WORD_CHAR = re.compile(r"\w")


@dataclass
class Match:
    """One phrase match in one document (mirrors the reference's
    PhraseMatch.json() payload, phrase_match.py:133-152)."""

    phrase: str
    variant: str
    string: str
    offset: int
    end: int
    label: Union[None, str, List[str]]
    char_match: float
    ngram_match: float
    levenshtein_similarity: float
    exact: bool = False


@dataclass(slots=True)
class _Candidate:
    phrase: CompiledPhrase
    start: int
    end: int
    string: str
    skip_count_overlap: float


def _sweep_candidates(cp: CompiledPhrase, gk, gs, gl, text: str,
                      skipgram_threshold: float, mlv: int,
                      gap_limit: int) -> List[_Candidate]:
    """Sequential sweep over one phrase's matched grams (text order),
    growing/evicting a partial candidate and emitting validated spans.

    This is the hottest loop at web scale, so the partial-candidate state
    machine (the reference's CandidatePartial, candidate_match.py:92-329)
    is inlined and expressed as a two-pointer window over the gram stream:
    all pointer movements (front evictions, shift_start pops) are
    monotone, so the sweep is O(n) with no list mutation.

    ``gk`` holds phrase-LOCAL dense gram ids (positions in
    ``cp.sorted_keys_np``) and ``gs``/``gl`` the grams' starts and lengths,
    so every per-visit state update is flat list indexing: counts as an int
    list (-1 = untracked; a gram evicted to count 0 stays tracked, and the
    count-overlap score depends on that), distinct-gram overlap as a
    counter maintained on 0<->1 count transitions.  Equivalence with the
    reference-shaped partial candidate is pinned by
    tests/test_sweep_equivalence.py."""
    if not gk:
        return []
    # pre-gate: a window's distinct-gram overlap can never exceed the
    # stream's global distinct count, so if even that upper bound is
    # below the threshold no emit is possible and the sweep is skipped
    # outright (big win on sparse corpora where most phrases share only a
    # few grams with most documents).
    if len(set(gk)) / len(cp.loc_freq) < skipgram_threshold:
        return []
    candidates: List[_Candidate] = []
    loc_early = cp.loc_early
    loc_late = cp.loc_late
    loc_first = cp.loc_first
    loc_freq = cp.loc_freq
    n_local = len(loc_freq)
    num_grams = cp.num_grams
    name_len = len(cp.name)
    max_len = name_len + mlv
    low_len = cp.late_threshold - mlv
    last = len(gk) - 1

    h = 0
    counts = [-1] * n_local  # -1 = untracked, >=0 = tracked count
    distinct = 0             # local ids with count >= 1 (== len(gset))
    touched = False          # any tracked entry since the last gap reset
    cdiff = 0
    start: Optional[int] = -1
    end = -1
    ci = 0

    def pop_front() -> None:
        nonlocal h, cdiff, distinct
        k0 = gk[h]
        h += 1
        c0 = counts[k0] - 1
        counts[k0] = c0
        cdiff += -1 if c0 >= loc_freq[k0] else 1
        if c0 == 0:
            distinct -= 1

    def emit() -> None:
        nonlocal start
        if start == end:
            return
        if not candidates or not (candidates[-1].start == start
                                  and candidates[-1].end == end):
            candidates.append(_Candidate(cp, start, end, text[start:end],
                                         (ci - h + 1 - cdiff) / num_grams))
        if end - start > name_len:
            anchor_start = gs[h]
            best_po = loc_first[gk[h]]
            best_idx = 0
            best_start = anchor_start
            slack = (end - start) - name_len
            for si in range(h, ci + 1):
                k2 = gk[si]
                s2 = gs[si]
                if s2 - anchor_start > slack:
                    break
                po = loc_first[k2]
                if s2 > best_start and po <= best_po:
                    best_idx, best_start, best_po = si - h, s2, po
                if not loc_early[k2]:
                    break
            for _ in range(best_idx):
                pop_front()
            off = gs[h] - loc_first[gk[h]]
            start = 0 if off < 0 else off
            if best_idx > 0 and start != end:
                candidates.append(_Candidate(cp, start, end, text[start:end],
                                             (ci - h + 1 - cdiff) / num_grams))

    for ci in range(last + 1):
        key = gk[ci]
        if h >= ci:
            if not loc_early[key]:
                h = ci + 1
                if touched and ci < last:
                    ns = gs[ci + 1]
                    if ns and ns - gs[ci] > gap_limit:
                        counts = [-1] * n_local
                        distinct = 0
                        touched = False
                        cdiff = 0
                        start = -1
                        end = -1
                continue
            h = ci
        touched = True
        if start is None or start < 0:
            off = gs[h] - loc_first[gk[h]]
            start = 0 if off < 0 else off
        gram_end = gs[ci] + gl[ci]
        if gram_end > end:
            end = gram_end
        c_old = counts[key]
        if c_old < 0:
            counts[key] = 1
            f_new = loc_freq[key]
            cdiff += f_new - 1 if f_new >= 1 else 1 - f_new
            distinct += 1
        else:
            counts[key] = c_old + 1
            cdiff += 1 if c_old >= loc_freq[key] else -1
            if c_old == 0:
                distinct += 1
        while h <= ci and end - start > max_len:
            pop_front()
            if h <= ci:
                off = gs[h] - loc_first[gk[h]]
                start = 0 if off < 0 else off
            else:
                start = None
                break
        while h <= ci and not loc_early[gk[h]]:
            pop_front()
            if h <= ci:
                off = gs[h] - loc_first[gk[h]]
                start = 0 if off < 0 else off
            else:
                start = None
        if h <= ci and loc_early[gk[h]]:
            span = end - start
            if (span <= max_len and span >= low_len
                    and loc_late[key]
                    and distinct / n_local >= skipgram_threshold):
                emit()
        next_start = gs[ci + 1] if ci < last else None
        if next_start and next_start - gs[ci] > gap_limit:
            h = ci + 1
            counts = [-1] * n_local
            distinct = 0
            touched = False
            cdiff = 0
            start = -1
            end = -1
    if h <= last and loc_early[gk[h]]:
        span = end - start
        if (span <= max_len and span >= low_len
                and loc_late[gk[last]]
                and distinct / n_local >= skipgram_threshold):
            emit()
    return candidates


def _filter_overlapping_candidates(cands: List[_Candidate]) -> List[_Candidate]:
    """Among same-phrase candidates that overlap, keep the best by indel
    similarity, then by longer match string."""
    if len(cands) < 2:
        return cands
    cands.sort(key=lambda c: c.start)
    filtered: List[_Candidate] = []
    prev = cands[0]
    prev_score = S.cached_indel_similarity(prev.phrase.name, prev.string)
    for cur in cands[1:]:
        if cur.end > prev.start:
            if cur.start < prev.end:
                cur_score = S.cached_indel_similarity(cur.phrase.name, cur.string)
                if cur_score > prev_score or (
                    cur_score == prev_score and len(cur.string) > len(prev.string)
                ):
                    prev, prev_score = cur, cur_score
            else:
                filtered.append(prev)
                prev = cur
                prev_score = S.cached_indel_similarity(cur.phrase.name, cur.string)
    if not filtered or prev is not filtered[-1]:
        filtered.append(prev)
    return filtered


def _find_exact_matches(text: str, model: CompiledModel) -> List[Match]:
    cfg = model.config
    out: List[Match] = []

    def emit(main: CompiledPhrase, variant: CompiledPhrase, string: str,
             offset: int) -> None:
        out.append(Match(
            phrase=main.name, variant=variant.name, string=string,
            offset=offset, end=offset + len(string), label=main.label,
            char_match=1.0, ngram_match=1.0, levenshtein_similarity=1.0,
            exact=True))

    if cfg.use_word_boundaries:
        n = len(text)
        for m in _WORD_RE.finditer(text):
            word = m.group(0)
            if word not in model.word_in_phrase:
                continue
            for phrase_string, word_off in model.first_word_in_phrase.get(
                    word, {}).items():
                start = m.start() - word_off
                end = start + len(phrase_string)
                if text[start:end] != phrase_string:
                    continue
                if start > 0 and _WORD_CHAR.match(text[start - 1]):
                    continue
                # NB: the reference only boundary-checks the end when it is
                # at least 2 chars before the text end (exact_match.py:136)
                if end < n - 1 and _WORD_CHAR.match(text[end]):
                    continue
                ptypes = model.phrase_type.get(phrase_string, ())
                if "phrase" in ptypes:
                    cp = model.phrases[phrase_string]
                    emit(cp, cp, phrase_string, start)
                elif "variant" in ptypes and cfg.include_variants:
                    vp = model.variants[phrase_string]
                    emit(model.phrases[model.is_variant_of[phrase_string]],
                         vp, phrase_string, start)
    else:
        for phrase_string, cp in model.phrases.items():
            for m in re.finditer(re.escape(phrase_string), text):
                emit(cp, cp, phrase_string, m.start())
        if cfg.include_variants:
            for variant_string, vp in model.variants.items():
                main = model.phrases[model.is_variant_of[variant_string]]
                for m in re.finditer(re.escape(variant_string), text):
                    emit(main, vp, variant_string, m.start())
    return out


def _index_known_words(exact_matches: List[Match]) -> Dict[int, dict]:
    """Word-offset index of exact matches, used to suppress redundant fuzzy
    work over spans already matched exactly."""
    index: Dict[int, dict] = {}
    for em in exact_matches:
        for word in _NON_WORD_SPLIT.split(em.string):
            # reference quirk kept: offsets always resolve against the first
            # occurrence of the word in the match string
            start = em.offset + em.string.index(word)
            if start not in index:
                index[start] = {
                    "word": word,
                    "start": start,
                    "end": start + len(word),
                    "match_phrases": set(),
                }
            index[start]["match_phrases"].add(em.string)
    return index


def _known_word_changes(index: Dict[int, dict]) -> List[Tuple[int, Optional[dict]]]:
    """State-change points of the known-word tracker: at a known start the
    entry activates (starts win ties with ends); at the active entry's end it
    deactivates.  Replicates the reference's per-offset scan state."""
    changes: List[Tuple[int, Optional[dict]]] = []
    starts = sorted(index)
    cur: Optional[dict] = None
    i = 0
    while i < len(starts) or cur is not None:
        if i < len(starts) and (cur is None or starts[i] <= cur["end"]):
            pos = starts[i]
            cur = index[pos]
            i += 1
            if pos == cur["end"]:
                cur = None
            changes.append((pos, cur))
        else:
            changes.append((cur["end"], None))
            cur = None
    return changes


def _accumulate(hits, model: CompiledModel, cfg, mlv: int,
                changes) -> list:
    """NumPy accumulation: no Python work per hit.  For each searchable
    phrase, membership of the hit-code stream against the phrase's sorted
    codes gives its gram sublist directly, as phrase-local ids; a cheap
    distinct-code over-approximation skips phrases below the skipgram
    threshold before any per-hit materialization (suppression/pruning only
    shrink the match set, so the over-approximation is safe).  Output order
    is the reference's per-hit order: (first surviving hit, mains before
    variants, model order)."""
    import numpy as np

    keys, starts, lens = hits
    if keys.size == 0:
        return []
    uniq = np.unique(keys)
    ends = starts + lens
    thr = cfg.skipgram_threshold

    if changes:
        bounds = np.array([c[0] for c in changes], dtype=np.int64)
        entries = [c[1] for c in changes]
        seg_of = np.searchsorted(bounds, starts, side="right") - 1

    searchables = [(0, i, cp) for i, cp in enumerate(model.phrases.values())]
    if cfg.include_variants:
        searchables += [(1, i, vp)
                        for i, vp in enumerate(model.variants.values())]

    word_in_phrase = model.word_in_phrase
    ordered = []
    for kind, rank, cp in searchables:
        pk = cp.sorted_keys_np
        gram_set_size = len(cp.gram_set)
        if not gram_set_size:
            continue  # an empty phrase has no grams at ngram_size 1
        # over-approximate distinct overlap on the doc's unique keys
        pos = np.searchsorted(uniq, pk)
        np.minimum(pos, uniq.size - 1, out=pos)
        approx = int((uniq[pos] == pk).sum())
        if approx / gram_set_size < thr:
            continue
        pos = np.searchsorted(pk, keys)
        np.minimum(pos, pk.size - 1, out=pos)
        mask = pk[pos] == keys
        if kind == 0 and cp.needs_offset_prune:
            if cp.max_start_offset > 0:
                mask &= ends <= cp.max_start_end + mlv
            if cp.max_end_offset > 0:
                # intended max_end pruning (crashes in the reference)
                mask &= ends <= cp.max_end_offset + mlv
        if changes:
            if kind == 0:
                bad = np.array([
                    e is not None and cp.name in e["match_phrases"]
                    for e in entries])
            else:
                bad = np.array([
                    e is not None and (
                        cp.name not in word_in_phrase.get(e["word"], ())
                        or cp.name in e["match_phrases"])
                    for e in entries])
            if bad.any():
                mask &= ~((seg_of >= 0) & bad[np.clip(seg_of, 0, None)])
        idx = np.nonzero(mask)[0]
        if idx.size == 0:
            continue
        # pos[idx] are exact positions in sorted_keys_np (pk[pos] == keys on
        # the mask), i.e. phrase-local dense gram ids — distinct-count
        # equivalent to the codes, and the sweep's native currency
        lkeys = pos[idx]
        if np.unique(lkeys).size / gram_set_size < thr:
            continue
        # parallel lists, not tuples: the sweep indexes columns directly,
        # so no per-gram tuple objects are ever materialized
        grams = (lkeys.tolist(), starts[idx].tolist(), lens[idx].tolist())
        ordered.append((int(idx[0]), kind, rank, cp, grams))
    ordered.sort(key=lambda t: (t[0], t[1], t[2]))
    return [(t[3], t[4]) for t in ordered]


def find_matches(text: str, model: CompiledModel,
                 text_id: Optional[str] = None) -> List[Match]:
    """Find all fuzzy phrase matches in one document."""
    cfg = model.config
    mlv = cfg.max_length_variance

    # 1-2: exact prepass + known-word suppression index
    if cfg.skip_exact_matching:
        exact_matches: List[Match] = []
        known_index: Dict[int, dict] = {}
    else:
        exact_matches = _find_exact_matches(text, model)
        known_index = _index_known_words(exact_matches)

    # 3: vectorized skipgram scan + inverted-index probe
    scan_text = text.lower() if cfg.ignorecase else text
    hits = model.scanner.scan_arrays(scan_text)
    changes = _known_word_changes(known_index) if known_index else []

    per_phrase = _accumulate(hits, model, cfg, mlv, changes)

    # 4-5: per-phrase prefilter (done inside accumulation) + candidate
    # assembly, grouped by main phrase
    gap_limit = cfg.ngram_size + cfg.skip_size + 1
    groups: Dict[str, List[_Candidate]] = {}
    for cp, (gk, gs, gl) in per_phrase:
        main = model.is_variant_of.get(cp.name, cp.name)
        cands = _sweep_candidates(cp, gk, gs, gl, text,
                                  cfg.skipgram_threshold, mlv, gap_limit)
        groups.setdefault(main, []).extend(cands)

    # 6-7: boundary snapping + per-phrase overlap dedup
    candidates: List[_Candidate] = []
    for main in groups:
        group = groups[main]
        if cfg.use_word_boundaries:
            snapped = []
            for cand in group:
                adj = snap_span(cand.phrase.name, cand.string, text,
                                cand.start, cand.end, cfg.punctuation)
                if adj is None:
                    continue
                cand.string, cand.start, cand.end = adj
                snapped.append(cand)
            group = snapped
        candidates.extend(_filter_overlapping_candidates(group))

    # 8: scoring
    matches: List[Match] = []
    for cand in candidates:
        main_name = model.is_variant_of.get(cand.phrase.name, cand.phrase.name)
        main_cp = model.phrases.get(main_name, cand.phrase)
        if cfg.ignorecase:
            ms = cand.string.lower()
            ps = cand.phrase.name.lower()
        else:
            ms = cand.string
            ps = cand.phrase.name
        char_m, ngram_m, lev_m = S.cached_match_scores(ps, ms,
                                                       cfg.ngram_size)
        matches.append(Match(
            phrase=main_cp.name,
            variant=cand.phrase.name,
            string=cand.string,
            offset=cand.start,
            end=cand.start + len(cand.string),
            label=main_cp.label,
            char_match=char_m,
            ngram_match=ngram_m,
            levenshtein_similarity=lev_m,
        ))

    # 9: threshold + distractor filters
    matches = [
        m for m in matches
        if m.char_match >= cfg.char_match_threshold
        and m.ngram_match >= cfg.ngram_threshold
        and m.levenshtein_similarity >= cfg.levenshtein_threshold
    ]
    if cfg.filter_distractors:
        kept = []
        for m in matches:
            distractors = model.has_distractors.get(m.phrase, ())
            if not any(
                S.cached_indel_similarity(m.string, d) > m.levenshtein_similarity
                for d in distractors
            ):
                kept.append(m)
        matches = kept

    # 10: merge, exact wins at the same (offset, phrase)
    exact_at = {(em.offset, em.phrase) for em in exact_matches}
    combined = list(exact_matches)
    combined.extend(m for m in matches if (m.offset, m.phrase) not in exact_at)
    combined.sort(key=lambda m: m.offset)

    # 11: max-start-offset filter
    combined = [
        m for m in combined
        if model.phrases[m.phrase].max_start_offset in (-1, None)
        or model.phrases[m.phrase].max_start_offset >= m.offset
    ]

    # 12: cross-phrase overlap resolution at identical (offset, length)
    if not cfg.allow_overlapping_matches:
        combined.sort(key=lambda m: (m.offset, len(m.string)))
        grouped: Dict[Tuple[int, int], List[Match]] = {}
        for m in combined:
            grouped.setdefault((m.offset, len(m.string)), []).append(m)
        resolved: List[Match] = []
        for key in grouped:
            bucket = grouped[key]
            if len(bucket) == 1:
                resolved.extend(bucket)
            else:
                bucket.sort(key=lambda m: m.levenshtein_similarity, reverse=True)
                best = bucket[0].levenshtein_similarity
                for m in bucket:
                    if m.levenshtein_similarity < best:
                        break
                    resolved.append(m)
        combined = resolved

    # 13: deterministic per-document order
    combined.sort(key=lambda m: (m.offset, m.end))
    return combined


def find_matches_chunked(text: str, model: CompiledModel,
                         chunk_chars: int = 200_000,
                         text_id: Optional[str] = None) -> List[Match]:
    """Giant-document matching in bounded-memory chunks, exact w.r.t.
    whole-document matching.

    Chunks overlap bilaterally by more than the widest decision
    neighborhood (candidate window + boundary snap + gram gap), and each
    match is accepted from exactly the chunk whose core region contains its
    start offset — so every emitted match was decided with the same local
    context as the whole-document run.  Models with max_start/max_end
    offsets depend on absolute document position and cannot be chunked.
    """
    if len(text) <= chunk_chars:
        return find_matches(text, model, text_id)
    searchables = list(model.phrases.values()) + list(model.variants.values())
    if any(cp.max_start_offset >= 0 or cp.max_end_offset >= 0
           for cp in searchables):
        raise ValueError("chunked matching is incompatible with "
                         "max_start_offset/max_end_offset phrases")
    cfg = model.config
    max_len = max(len(cp.name) for cp in searchables)
    overlap = 2 * (max_len + cfg.max_length_variance) + \
        cfg.ngram_size + cfg.skip_size + 16
    stride = max(chunk_chars - 2 * overlap, overlap)
    out: List[Match] = []
    core_start = 0
    while core_start < len(text):
        core_end = min(core_start + stride, len(text))
        lo = max(core_start - overlap, 0)
        hi = min(core_end + overlap, len(text))
        for m in find_matches(text[lo:hi], model):
            offset = m.offset + lo
            if core_start <= offset < core_end:
                m.offset = offset
                m.end += lo
                out.append(m)
        core_start = core_end
    return out

"""Driver-side phrase-model compiler.

The compiled model is the *build side of a broadcast hash join*: phrase lists
are tiny (dozens-thousands) against 10^12 documents, so everything here is
compiled once on the driver and broadcast to executors inside the pandas-UDF
closure.  All structures are plain dicts/tuples — cheap to pickle, stable to
hash.

Semantics contract (reference: phrase/phrase.py:29-119 and
phrase/phrase_model.py:80-155):

- A phrase compiles into its skipgram occurrence list, distinct-gram set,
  gram frequency counter, first-occurrence offset per gram, and "early"/
  "late" gram subsets (grams starting before ``early_threshold``, grams
  reaching past ``len(phrase) - late_threshold - ngram_size``).
- A model registers phrases, spelling variants (resolved back to their main
  phrase on match), distractors (used to reject matches that fit a
  look-alike better) and labels; words of every phrase/variant/distractor
  are indexed for the exact-match prepass.
- With ``ignorecase`` the gram structures are built from the lowercased
  string; scoring and exact matching keep the reference's asymmetries (see
  matcher.py).
"""

from __future__ import annotations

import json
import re
from collections import Counter
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence, Set, Tuple, Union

from fuzzy_search_spark.config import SearchConfig, effective_config
from fuzzy_search_spark.kernels.skipgrams import GramKey, GramScanner, keyed_skipgrams

_WORD_RE = re.compile(r"\w+")


@dataclass(eq=False)  # identity hash: phrases key accumulator dicts
class CompiledPhrase:
    """One phrase (or variant, or distractor) compiled for matching."""

    name: str                    # original phrase string
    match_text: str              # string grams were computed from (lowered if ignorecase)
    grams: List[Tuple[GramKey, int, int]]          # (key, start, length) occurrences
    gram_set: Set[GramKey] = field(default_factory=set)
    gram_freq: Dict[GramKey, int] = field(default_factory=dict)
    gram_first_offset: Dict[GramKey, int] = field(default_factory=dict)
    early: Set[GramKey] = field(default_factory=set)
    late: Set[GramKey] = field(default_factory=set)
    num_grams: int = 0
    late_threshold: int = 0
    label: Union[None, str, List[str]] = None
    max_start_offset: int = -1
    max_start_end: int = -1
    max_end_offset: int = -1
    metadata: dict = field(default_factory=dict)
    # plain field (not a property): read once per (gram x phrase) probe
    needs_offset_prune: bool = False
    # sorted int64 key array for vectorized membership tests (None when the
    # model uses string keys, i.e. ngram_size > 3)
    sorted_keys_np: object = None
    # flat per-local-id tables aligned with sorted_keys_np (local id =
    # position in sorted_keys_np): the sweep's per-visit state then indexes
    # lists instead of hashing gram keys into dicts/sets
    loc_freq: Optional[List[int]] = None
    loc_first: Optional[List[int]] = None
    loc_early: Optional[List[bool]] = None
    loc_late: Optional[List[bool]] = None

    @property
    def has_max_start(self) -> bool:
        return self.max_start_offset >= 0

    def refresh_prune_flag(self) -> None:
        self.needs_offset_prune = (
            self.max_start_offset > 0 or self.max_end_offset > 0)


def compile_phrase(phrase: Union[str, dict], config: SearchConfig) -> CompiledPhrase:
    """Compile one phrase string/dict into its gram structures."""
    props = {"phrase": phrase} if isinstance(phrase, str) else dict(phrase)
    name = props["phrase"]
    match_text = name.lower() if config.ignorecase else name
    grams = keyed_skipgrams(match_text, config.ngram_size, config.skip_size)
    gram_first: Dict[GramKey, int] = {}
    for key, start, _length in grams:
        if key not in gram_first:
            gram_first[key] = start
    late_cut = len(name) - config.late_threshold - config.ngram_size
    cp = CompiledPhrase(
        name=name,
        match_text=match_text,
        grams=grams,
        gram_set={g[0] for g in grams},
        gram_freq=dict(Counter(g[0] for g in grams)),
        gram_first_offset=gram_first,
        early={g[0] for g in grams if g[1] < config.early_threshold},
        late={g[0] for g in grams if g[1] + g[2] > late_cut},
        num_grams=len(grams),
        late_threshold=late_cut,
        label=props.get("label"),
        metadata=props,
    )
    if isinstance(props.get("max_start_offset"), int) and props["max_start_offset"] >= 0:
        cp.max_start_offset = props["max_start_offset"]
        cp.max_start_end = cp.max_start_offset + len(name)
    if isinstance(props.get("max_end_offset"), int) and props["max_end_offset"] >= 0:
        cp.max_end_offset = props["max_end_offset"]
    cp.refresh_prune_flag()
    if all(isinstance(k, int) for k in cp.gram_set):
        import numpy as np

        skeys = sorted(cp.gram_set)
        cp.sorted_keys_np = np.array(skeys, dtype=np.int64)
        cp.loc_freq = [cp.gram_freq[k] for k in skeys]
        cp.loc_first = [cp.gram_first_offset[k] for k in skeys]
        cp.loc_early = [k in cp.early for k in skeys]
        cp.loc_late = [k in cp.late for k in skeys]
    return cp


@dataclass
class CompiledModel:
    """The broadcastable compiled phrase model + searcher indexes."""

    config: SearchConfig
    phrases: Dict[str, CompiledPhrase]       # main phrases by phrase string
    variants: Dict[str, CompiledPhrase]      # variants by variant string
    is_variant_of: Dict[str, str]
    has_distractors: Dict[str, List[str]]    # main phrase -> distractor strings
    # inverted gram indexes over *match-case* gram keys; values are the
    # compiled phrase objects themselves (probe-time lookups stay O(1)
    # without a second name->object hop in the hot loop)
    gram_to_phrases: Dict[GramKey, List["CompiledPhrase"]]
    gram_to_variants: Dict[GramKey, List["CompiledPhrase"]]
    # exact-match word indexes (over phrases AND variants AND distractors,
    # mirroring the reference's _index_phrase_words coverage)
    word_in_phrase: Dict[str, Set[str]]
    first_word_in_phrase: Dict[str, Dict[str, int]]
    phrase_type: Dict[str, Set[str]]
    scanner: GramScanner

    def lookup(self, phrase_string: str) -> CompiledPhrase:
        return self.phrases.get(phrase_string) or self.variants[phrase_string]

    def fingerprint(self) -> str:
        """Deterministic version stamp for lineage / resume-drift detection."""
        import hashlib

        payload = json.dumps(
            {
                "phrases": sorted(self.phrases),
                "variants": sorted(self.variants),
                "distractors": {k: sorted(v) for k, v in sorted(self.has_distractors.items())},
                "config": {
                    k: getattr(self.config, k)
                    for k in sorted(SearchConfig.__dataclass_fields__)
                },
            },
            sort_keys=True,
        )
        return hashlib.sha256(payload.encode("utf-8")).hexdigest()[:16]


def compile_model(phrases: Sequence[Union[str, dict]],
                  config: Optional[Union[dict, SearchConfig]] = None) -> CompiledModel:
    """Compile a phrase list (strings or dicts with variants/distractors/
    label/max_*_offset keys) into a broadcastable CompiledModel."""
    cfg = config if isinstance(config, SearchConfig) else effective_config(config)

    main: Dict[str, CompiledPhrase] = {}
    variants: Dict[str, CompiledPhrase] = {}
    distractor_phrases: Dict[str, CompiledPhrase] = {}
    is_variant_of: Dict[str, str] = {}
    has_distractors: Dict[str, List[str]] = {}
    phrase_type: Dict[str, Set[str]] = {}
    word_in_phrase: Dict[str, Set[str]] = {}
    first_word_in_phrase: Dict[str, Dict[str, int]] = {}

    def index_words(cp: CompiledPhrase) -> None:
        for wi, m in enumerate(_WORD_RE.finditer(cp.name)):
            word = m.group(0)
            if wi == 0:
                first_word_in_phrase.setdefault(word, {})[cp.name] = m.start()
            word_in_phrase.setdefault(word, set()).add(cp.name)

    for entry in phrases:
        cp = compile_phrase(entry, cfg)
        main[cp.name] = cp
        phrase_type.setdefault(cp.name, set()).add("phrase")
        index_words(cp)
        props = cp.metadata
        for variant_string in props.get("variants", []) or []:
            vp = compile_phrase(variant_string, cfg)
            # variants inherit the main phrase's metadata/label/max offsets
            # (reference: phrase_model.py:449-451 via add_metadata)
            vp.label = cp.label
            vp.max_start_offset = cp.max_start_offset
            vp.max_start_end = (
                cp.max_start_offset + len(vp.name) if cp.max_start_offset >= 0 else -1
            )
            vp.max_end_offset = cp.max_end_offset
            vp.refresh_prune_flag()
            variants[vp.name] = vp
            is_variant_of[vp.name] = cp.name
            phrase_type.setdefault(vp.name, set()).add("variant")
            index_words(vp)
        for distractor_string in props.get("distractors", []) or []:
            dp = compile_phrase(distractor_string, cfg)
            distractor_phrases[dp.name] = dp
            has_distractors.setdefault(cp.name, []).append(dp.name)
            phrase_type.setdefault(dp.name, set()).add("distractor")
            index_words(dp)

    gram_to_phrases: Dict[GramKey, List[CompiledPhrase]] = {}
    for cp in main.values():
        for key in dict.fromkeys(g[0] for g in cp.grams):
            gram_to_phrases.setdefault(key, []).append(cp)
    gram_to_variants: Dict[GramKey, List[CompiledPhrase]] = {}
    for vp in variants.values():
        for key in dict.fromkeys(g[0] for g in vp.grams):
            gram_to_variants.setdefault(key, []).append(vp)

    vocab = set(gram_to_phrases)
    if cfg.include_variants:
        vocab |= set(gram_to_variants)
    scanner = GramScanner(vocab, cfg.ngram_size, cfg.skip_size)

    return CompiledModel(
        config=cfg,
        phrases=main,
        variants=variants,
        is_variant_of=is_variant_of,
        has_distractors=has_distractors,
        gram_to_phrases=gram_to_phrases,
        gram_to_variants=gram_to_variants,
        word_in_phrase=word_in_phrase,
        first_word_in_phrase=first_word_in_phrase,
        phrase_type=phrase_type,
        scanner=scanner,
    )

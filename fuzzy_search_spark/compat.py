"""Drop-in compatibility facade over the reference library's public API.

A user of `fuzzy_search` can switch imports and keep their code:

    from fuzzy_search_spark.compat import FuzzyPhraseSearcher
    searcher = FuzzyPhraseSearcher(phrase_list=[...], config={...})
    for m in searcher.find_matches({'text': ..., 'id': ...}):
        print(m.phrase.phrase_string, m.string, m.offset, m.levenshtein_similarity)

The facade exposes the reference's constructor shapes, `find_matches` /
`search_text` entry points and PhraseMatch-style result objects (phrase /
variant wrappers with `.phrase_string`, `.string`, `.offset`, `.end`,
`.label`, the three scores, and `.json()`), backed by this engine's
compiled models and kernels.  For cluster-scale use, the same models feed
`spark.job.match_documents` directly.
"""

from __future__ import annotations

from typing import List, Optional, Union

from fuzzy_search_spark.doc import (  # noqa: F401  (re-exported surface)
    CustomTokenizer,
    Doc,
    RegExTokenizer,
    Token,
    Tokenizer,
)
from fuzzy_search_spark.config import PUBLISHED_DEFAULT_CONFIG
from fuzzy_search_spark.matcher import Match, find_matches
from fuzzy_search_spark.model import CompiledModel, compile_model
from fuzzy_search_spark.phrase_model import (  # noqa: F401  (re-exported)
    Phrase,
    PhraseModel,
)
from fuzzy_search_spark.token_matcher import (
    TokenModel,
    compile_token_model,
    find_token_matches,
)

#: the reference's published defaults (`fuzzy_search.default_config`)
default_config = dict(PUBLISHED_DEFAULT_CONFIG)


def _phrase_entry(p):
    """Normalize one phrase input (str, dict, or any Phrase-shaped object
    exposing .phrase_string) to the dict shape the compiler takes."""
    if isinstance(p, (str, dict)):
        return p
    ps = getattr(p, "phrase_string", None)
    if isinstance(ps, str):
        entry = dict(getattr(p, "metadata", None) or {})
        entry["phrase"] = ps
        label = getattr(p, "label", None)
        if label:
            entry["label"] = sorted(label) if isinstance(label, set) \
                else label
        for attr in ("max_start_offset", "max_end_offset"):
            val = getattr(p, attr, -1)
            if isinstance(val, int) and val != -1:
                entry[attr] = val
        return entry
    return p


def _model_object_to_dicts(pm) -> List[dict]:
    """Rebuild compile-ready dicts from ANY PhraseModel-shaped registry
    (ours or the reference's): phrase_index + has_variants /
    has_distractors / has_labels + per-phrase max offsets."""
    out = []
    for ps, phrase in pm.phrase_index.items():
        entry = _phrase_entry(phrase)
        if not isinstance(entry, dict):
            entry = {"phrase": ps}
        variants = set(entry.get("variants", [])) | \
            set(getattr(pm, "has_variants", {}).get(ps, set()) or set())
        if variants:
            entry["variants"] = sorted(variants)
        distractors = set(entry.get("distractors", [])) | \
            set(getattr(pm, "has_distractors", {}).get(ps, set()) or set())
        if distractors:
            entry["distractors"] = sorted(distractors)
        labels = set(getattr(pm, "has_labels", {}).get(ps, set()) or set())
        if isinstance(entry.get("label"), str):
            labels.add(entry["label"])
        elif entry.get("label"):
            labels.update(entry["label"])
        if labels:
            entry["label"] = (sorted(labels)[0] if len(labels) == 1
                              else sorted(labels))
        out.append(entry)
    return out


def _phrases_arg(phrase_list, phrase_model):
    """Reference constructors accept phrase strings/dicts/Phrase objects OR
    a PhraseModel (ours or the reference's own — duck-typed on
    phrase_index); normalize to the dict list the engine compiler takes."""
    if phrase_list is not None:
        return [_phrase_entry(p) for p in phrase_list]
    if hasattr(phrase_model, "phrase_index"):
        return _model_object_to_dicts(phrase_model)
    return [_phrase_entry(p) for p in (phrase_model or [])]


class PhraseWrapper:
    """Minimal stand-in for the reference's Phrase objects on results."""

    __slots__ = ("phrase_string", "label")

    def __init__(self, phrase_string: str, label=None):
        self.phrase_string = phrase_string
        self.label = label

    def __repr__(self):
        return f"Phrase({self.phrase_string!r})"


class PhraseMatchResult:
    """Reference PhraseMatch-shaped result (phrase_match.py:56-152)."""

    def __init__(self, m: Match, text_id: Optional[str], ignorecase: bool):
        self.phrase = PhraseWrapper(m.phrase, m.label)
        self.variant = PhraseWrapper(m.variant, m.label)
        self.string = m.string
        self.offset = m.offset
        self.end = m.end
        self.label = m.label
        self.text_id = text_id
        self.ignorecase = ignorecase
        self.character_overlap = m.char_match
        self.ngram_overlap = m.ngram_match
        self.levenshtein_similarity = m.levenshtein_similarity

    def __repr__(self):
        return (f"PhraseMatch(phrase: {self.phrase.phrase_string!r}, "
                f"variant: {self.variant.phrase_string!r}, "
                f"string: {self.string!r}, offset: {self.offset}, "
                f"levenshtein_similarity: {self.levenshtein_similarity})")

    def json(self) -> dict:
        return {
            "type": "PhraseMatch",
            "phrase": self.phrase.phrase_string,
            "variant": self.variant.phrase_string,
            "string": self.string,
            "offset": self.offset,
            "label": self.label,
            "ignorecase": self.ignorecase,
            "text_id": self.text_id,
            "match_scores": {
                "char_match": self.character_overlap,
                "ngram_match": self.ngram_overlap,
                "levenshtein_similarity": self.levenshtein_similarity,
            },
        }


def _text_dict(text: Union[str, dict, "Doc", list]) -> dict:
    """Accept the reference's full input range (phrase_searcher.py:29-46 +
    token_searcher.py:259-301): str, {'text','id'} dict, Doc, or a list of
    Token objects (joined on their normalized strings)."""
    from fuzzy_search_spark.doc import Doc, is_token_list

    if isinstance(text, str):
        return {"text": text, "id": None}
    if isinstance(text, Doc) or (hasattr(text, "text")
                                 and hasattr(text, "tokens")):
        # ours or any reference-shaped Doc (duck-typed)
        return {"text": text.text, "id": getattr(text, "id", None),
                "tokens": text.tokens}
    if is_token_list(text):
        return {"text": " ".join(t.n for t in text), "id": None}
    if isinstance(text, dict):
        return {"text": text["text"], "id": text.get("id")}
    raise TypeError(
        f"text must be str, dict (with 'text' and 'id' properties), Doc "
        f"or List[Token], not {type(text)}")


class FuzzyPhraseSearcher:
    """Reference FuzzyPhraseSearcher-compatible entry point."""

    def __init__(self, phrase_list: Optional[List] = None,
                 phrase_model: Union[List[dict], PhraseModel, None] = None,
                 config: Optional[dict] = None):
        phrases = _phrases_arg(phrase_list, phrase_model)
        self.config = config or {}
        self._phrases = phrases
        self.model: CompiledModel = compile_model(phrases, config)

    # -- reference attribute surface (searcher.py:50-99) ------------------

    @property
    def phrase_model(self) -> PhraseModel:
        """The registry view of the indexed phrases (the object handed in
        when one was, else rebuilt on access — the engine's source of
        truth is the compiled model)."""
        obj = self.__dict__.get("_phrase_model_obj")
        if obj is not None:
            return obj
        return PhraseModel(model=list(self._phrases))

    @property
    def phrases(self) -> set:
        return set(self.phrase_model.get_phrases())

    @property
    def variants(self) -> set:
        return set(self.phrase_model.variant_index.values())

    @property
    def distractors(self) -> set:
        return set(self.phrase_model.distractor_index.values())

    def __getattr__(self, name):
        # config flags read straight off the searcher in the reference
        # (include_variants, filter_distractors, ignorecase, ...)
        cfg = self.__dict__.get("model")
        if cfg is not None and hasattr(cfg.config, name):
            return getattr(cfg.config, name)
        raise AttributeError(name)

    def __setattr__(self, name, value):
        # the reference mutates config flags directly on the searcher
        # (e.g. `searcher.ignorecase = True`); mirror by recompiling
        from fuzzy_search_spark.config import SearchConfig

        if name in SearchConfig.__dataclass_fields__ and \
                "model" in self.__dict__:
            self.config = dict(self.config, **{name: value})
            self.model = compile_model(self._phrases, self.config)
        else:
            object.__setattr__(self, name, value)

    def find_exact_matches(self, text, **overrides):
        """Exact-occurrence pass only (reference phrase_searcher.py:360+);
        honors call-time config overrides like use_word_boundaries."""
        from fuzzy_search_spark.matcher import _find_exact_matches

        doc = _text_dict(text)
        model = self.model
        config_keys = {k: v for k, v in overrides.items()
                       if v is not None and hasattr(model.config, k)}
        if config_keys:
            model = compile_model(self._phrases,
                                  dict(self.config, **config_keys))
        return [
            PhraseMatchResult(m, doc["id"], model.config.ignorecase)
            for m in _find_exact_matches(doc["text"], model)
        ]

    def configure(self, config: dict) -> None:
        """Re-apply configuration over the current phrases (reference
        searcher.py:101-143: config keys overlay, phrases re-indexed)."""
        self.config = dict(self.config, **(config or {}))
        self.model = compile_model(self._phrases, self.config)

    def index_phrase_model(self, phrase_model: Union[List[dict], PhraseModel],
                           config: Optional[dict] = None) -> None:
        """Replace the phrase model (reference searcher.py:145-166)."""
        if config:
            self.config = dict(self.config, **config)
        self._phrases = _phrases_arg(None, phrase_model)
        self.model = compile_model(self._phrases, self.config)

    def index_phrases(self, phrases: List) -> None:
        """Replace the phrases (reference searcher.py:168-201)."""
        self._phrases = phrases
        self.model = compile_model(phrases, self.config)

    def find_matches(self, text: Union[str, dict, "Doc", list],
                     **overrides) -> List[PhraseMatchResult]:
        """Reference call-time overrides (use_word_boundaries,
        include_variants, filter_distractors, skip_exact_matching, ...)
        recompile a temporary model with the overlay — compile cost is
        microseconds for driver-side phrase lists."""
        doc = _text_dict(text)
        model = self.model
        config_keys = {k: v for k, v in overrides.items()
                       if v is not None and hasattr(model.config, k)}
        if config_keys:
            model = compile_model(self._phrases,
                                  dict(self.config, **config_keys))
        return [
            PhraseMatchResult(m, doc["id"], model.config.ignorecase)
            for m in find_matches(doc["text"], model)
        ]


class FuzzySearcher(FuzzyPhraseSearcher):
    """Reference base-searcher surface (searcher.py:23-263): the full
    default config dict, a tokenizer threaded into the PhraseModel
    registry, and the gram -> Phrase skipgram index.  The engine's
    execution state stays the compiled model (this class adds the
    registry-facing attributes the reference exposes, not a second
    matcher)."""

    def __init__(self, phrase_list: Optional[List] = None,
                 phrase_model: Union[List[dict], PhraseModel, None] = None,
                 config: Optional[dict] = None, tokenizer=None):
        from collections import defaultdict

        from fuzzy_search_spark.doc import Tokenizer
        from fuzzy_search_spark.kernels.skipgrams import text2skipgrams

        object.__setattr__(self, "tokenizer",
                           tokenizer if tokenizer is not None
                           else Tokenizer())
        full = dict(default_config)
        if config:
            full.update(config)
        super().__init__(phrase_list=phrase_list, phrase_model=phrase_model,
                         config=full)
        entries = [{"phrase": p} if isinstance(p, str) else p
                   for p in self._phrases]
        self._phrase_model_obj = PhraseModel(
            model=entries, config=full, tokenizer=self.tokenizer)
        self.skipgram_index = defaultdict(set)
        for phrase in self._phrase_model_obj.get_phrases():
            for sg in text2skipgrams(phrase.phrase_string,
                                     ngram_size=full.get("ngram_size", 2),
                                     skip_size=full.get("skip_size", 2)):
                self.skipgram_index[sg.string].add(phrase)


class FuzzyTokenSearcher:
    """Reference FuzzyTokenSearcher-compatible entry point."""

    def __init__(self, phrase_list: Optional[List] = None,
                 phrase_model: Union[List[dict], PhraseModel, None] = None,
                 config: Optional[dict] = None,
                 vocabulary=None, tokenizer=None, debug: int = 0):
        phrases = _phrases_arg(phrase_list, phrase_model)
        if tokenizer is None:
            from fuzzy_search_spark.doc import Tokenizer

            tokenizer = Tokenizer()
        self.tokenizer = tokenizer  # our token kernel tokenizes
        self._phrases = phrases     # reference-identically
        if vocabulary is not None and not isinstance(vocabulary, list):
            vocabulary = list(vocabulary)  # Vocabulary object -> its terms
        self._vocabulary = vocabulary
        self.config = dict(config or {})
        self._compiled_config = dict(self.config)
        self.model: TokenModel = compile_token_model(phrases, config,
                                                     vocabulary)

    @property
    def vocabulary(self):
        """The searcher's term vocabulary (user terms + phrase tokens) as
        a Vocabulary object (reference token_searcher.py:498-534)."""
        from fuzzy_search_spark.analysis.vocabulary import Vocabulary

        return Vocabulary(sorted(self.model.vocab_terms))

    def has_distractor_pair(self, text_term: str, phrase_term: str) -> bool:
        return (text_term, phrase_term) in self.model.distractor_pairs

    def index_distractor_pair(self, text_term: str, phrase_term: str) -> None:
        """Register a (text term, phrase term) distractor pair; matching
        then skips the phrase token for that text token (reference
        token_searcher.py:460-495)."""
        self.model.vocab_terms.add(text_term)
        self.model.distractor_pairs.add((text_term, phrase_term))
        # drop the precomputed match list so the next probe re-applies the
        # distractor filter
        self.model.vocab_cache.pop(text_term, None)

    def find_matches(self, text: Union[str, dict, "Doc", list],
                     **_overrides) -> List[PhraseMatchResult]:
        from fuzzy_search_spark.doc import is_token_list

        # the reference mutates searcher.config in place between calls
        # (e.g. config['levenshtein_threshold'] = 0.9) — recompile lazily
        if self.config != self._compiled_config:
            self.model = compile_token_model(self._phrases, self.config,
                                             self._vocabulary)
            self._compiled_config = dict(self.config)
        pre_tokenized = None
        if is_token_list(text):
            pre_tokenized = text
        doc = _text_dict(text)
        if pre_tokenized is None:
            pre_tokenized = doc.get("tokens")  # Doc input carries its own
        return [
            PhraseMatchResult(m, doc["id"], False)
            for m in find_token_matches(doc["text"], self.model,
                                        tokens=pre_tokenized)
        ]


class FuzzyContextSearcher(FuzzyPhraseSearcher):
    """Reference FuzzyContextSearcher-compatible entry point."""

    def __init__(self, config: Optional[dict] = None, **kwargs):
        super().__init__(config=config, **kwargs)
        self.context_size = (config or {}).get("context_size", 100)

    def add_match_context(self, match, text,
                          context_size: Optional[int] = None,
                          prefix_size: Optional[int] = None,
                          suffix_size: Optional[int] = None
                          ) -> PhraseMatchInContext:
        """Wrap a match with its text window (reference
        context_searcher.py:44-66); accepts any match exposing
        .offset/.end — the reference's PhraseMatch included."""
        if context_size is None:
            context_size = self.context_size
        return PhraseMatchInContext(
            match, text,
            prefix_size=prefix_size if prefix_size is not None
            else context_size,
            suffix_size=suffix_size if suffix_size is not None
            else context_size)

    def find_matches_in_context(self, match_in_context: PhraseMatchInContext,
                                **overrides) -> List[PhraseMatchResult]:
        """Search the context window of a match; offsets are re-anchored
        to the ORIGINAL text (reference context_searcher.py:105-137)."""
        out = []
        for m in FuzzyPhraseSearcher.find_matches(
                self, match_in_context.context, **overrides):
            m.offset += match_in_context.context_start
            m.end += match_in_context.context_start
            out.append(m)
        return out

    def find_matches(self, text: Union[str, dict],
                     prefix_size: Optional[int] = None,
                     suffix_size: Optional[int] = None, **_overrides):
        from fuzzy_search_spark.context import find_matches_with_context

        doc = _text_dict(text)
        out = []
        for ctx in find_matches_with_context(
                doc["text"], self.model, context_size=self.context_size,
                prefix_size=prefix_size, suffix_size=suffix_size):
            result = PhraseMatchResult(ctx["match"], doc["id"],
                                       self.model.config.ignorecase)
            result.context = ctx["context"]
            result.context_start = ctx["context_start"]
            result.context_end = ctx["context_end"]
            result.prefix = ctx["prefix"]
            result.suffix = ctx["suffix"]
            out.append(result)
        return out


class PhraseMatch:
    """Reference-constructor match object (match/phrase_match.py:56-297):
    ``PhraseMatch(phrase, variant, match_string, match_offset, ...)`` with
    the W3C Web-Annotation serialization.  The engine's own results flow
    through PhraseMatchResult; this class is the public surface users
    construct directly (and the reference's own tests exercise)."""

    def __init__(self, match_phrase, match_variant, match_string: str,
                 match_offset: int, ignorecase: bool = False,
                 text_id=None, match_scores: Optional[dict] = None,
                 match_label=None, match_id=None,
                 levenshtein_similarity: Optional[float] = None):
        import datetime
        import uuid

        if not isinstance(match_string, str) or \
                not isinstance(match_offset, int) or match_offset < 0:
            raise ValueError(
                "match_string must be a string and match_offset a "
                "non-negative integer")
        self.id = match_id if match_id else str(uuid.uuid4())
        self.created = datetime.datetime.now()
        self.phrase = match_phrase
        self.label = getattr(match_phrase, "label", None)
        if match_label:
            self.label = match_label
        self.metadata: dict = {}
        self.variant = match_variant
        self.string = match_string
        self.ignorecase = ignorecase
        self.offset = match_offset
        self.end = self.offset + len(self.string)
        self.text_id = text_id
        self.character_overlap = None
        self.ngram_overlap = None
        self.skipgram_overlap = None
        self.levenshtein_similarity = levenshtein_similarity
        if match_scores:
            self.character_overlap = match_scores.get("char_match")
            self.ngram_overlap = match_scores.get("ngram_match")
            self.levenshtein_similarity = match_scores.get(
                "levenshtein_similarity", levenshtein_similarity)

    def __repr__(self):
        return (f"PhraseMatch(phrase: '{self.phrase.phrase_string}', "
                f"variant: '{self.variant.phrase_string}', "
                f"string: '{self.string}', offset: {self.offset})")

    def as_web_anno(self) -> dict:
        """W3C Web Annotation (phrase_match.py:239-297): tagging +
        highlighting bodies, a correcting body only for non-exact
        matches, a classifying body only when labeled."""
        if not self.text_id:
            raise ValueError(
                "Cannot make target: match object has no text_id")
        body = [
            {"type": "TextualBody", "purpose": "tagging", "format": "text",
             "value": self.phrase.phrase_string},
            {"type": "TextualBody", "purpose": "highlighting",
             "format": "text", "value": self.string},
        ]
        if self.variant.phrase_string != self.string:
            body.append({"type": "TextualBody", "purpose": "correcting",
                         "format": "text",
                         "value": self.variant.phrase_string})
        if self.label:
            body.append({"type": "TextualBody", "purpose": "classifying",
                         "format": "text", "value": self.label})
        return {
            "@context": "http://www.w3.org/ns/anno.jsonld",
            "id": self.id,
            "type": "Annotation",
            "motivation": "classifying",
            "created": self.created.isoformat(),
            "generator": {
                "id": "https://github.com/marijnkoolen/fuzzy-search",
                "type": "Software",
                "name": "fuzzy-search drop-in (fuzzy_search_spark)",
            },
            "target": {
                "source": self.text_id,
                "selector": {"type": "TextPositionSelector",
                             "start": self.offset, "end": self.end},
            },
            "body": body,
        }


class PhraseMatchInContext:
    """A match plus its surrounding text window (reference
    match/phrase_match.py PhraseMatchInContext shape)."""

    def __init__(self, match, text, prefix_size: int = 20,
                 suffix_size: int = 20):
        doc = _text_dict(text)
        s = doc["text"]
        self.match = match
        self.text_id = doc["id"]
        self.context_start = max(0, match.offset - prefix_size)
        self.context_end = min(len(s), match.end + suffix_size)
        self.context = s[self.context_start:self.context_end]
        self.prefix = s[self.context_start:match.offset]
        self.suffix = s[match.end:self.context_end]

    def as_web_anno(self) -> dict:
        """The match's annotation with the position selector joined by a
        TextQuoteSelector carrying the prefix/exact/suffix context
        (phrase_match.py:363-380)."""
        anno = self.match.as_web_anno()
        position_selector = anno["target"]["selector"]
        anno["target"]["selector"] = [
            position_selector,
            {"type": "TextQuoteSelector", "prefix": self.prefix,
             "exact": self.match.string, "suffix": self.suffix},
        ]
        return anno


def _validate_cardinality(cardinality):
    """Reference validate_element_properties (fuzzy_template.py:12-40):
    None means 'single'; anything but 'single'/'multi' is a ValueError."""
    if cardinality is None:
        return "single"
    if not isinstance(cardinality, str) or cardinality not in (
            "single", "multi"):
        raise ValueError("cardinality must be a string with either "
                         "'single' or 'multi' as value")
    return cardinality


class FuzzyTemplateLabelElement:
    """Reference-surface label element (fuzzy_template.py:76-111)."""

    def __init__(self, label: str, required: bool = False,
                 cardinality: str = "single", next_label=None,
                 next_distance_max=None, variable: bool = False):
        self.label = label
        self.type = "label"
        self.required = required
        self.cardinality = _validate_cardinality(cardinality)
        self.next_label = next_label
        self.next_distance_max = next_distance_max
        self.variable = variable

    def __repr__(self):
        return (f"FuzzyTemplateElement(label='{self.label}', "
                f"required={self.required}, "
                f"cardinality='{self.cardinality}'")


class FuzzyTemplateGroupElement:
    """Reference-surface group element (fuzzy_template.py:114-150): a
    group is required if any sub-element is."""

    def __init__(self, elements, label=None, ordered: bool = True,
                 required: bool = False):
        self.label = label
        self.type = "group"
        self.required = required
        self.ordered = ordered
        self.elements = list(elements)
        self.group_element_labels = set()
        self.has_variable_element = False
        for element in self.elements:
            if isinstance(element, FuzzyTemplateGroupElement):
                self.group_element_labels |= element.group_element_labels
                self.has_variable_element = element.has_variable_element
            else:
                self.group_element_labels.add(element.label)
                if getattr(element, "variable", False):
                    self.has_variable_element = True
            if element.required:
                self.required = True

    def __repr__(self):
        return (f"FuzzyTemplateGroup(label='{self.label}', "
                f"required={self.required}, ordered='{self.ordered}'")


class FuzzyTemplate:
    """Template object tying a phrase model to a template JSON (reference
    pattern/fuzzy_template.py:188-330): parse, then index label/group
    elements and answer the label/phrase/required queries."""

    def __init__(self, phrase_model=None, template_json=None,
                 ignore_unknown: bool = False, ordered: bool = False):
        from fuzzy_search_spark.template import (GroupElement,
                                                 parse_template)

        self.phrase_model = phrase_model
        self.template_json = template_json
        self.ignore_unknown = ignore_unknown
        self.ordered = ordered
        self.ngram_size = getattr(phrase_model, "ngram_size", 2)
        labels = None
        if phrase_model is not None and \
                hasattr(phrase_model, "is_label_of"):
            labels = set(phrase_model.is_label_of)
        self.parsed = parse_template(template_json, known_labels=labels,
                                     ignore_unknown=ignore_unknown)
        self.label_element_index: dict = {}
        self.group_element_index: dict = {}
        self.required: list = []

        def walk(group):
            if group.label is not None:
                self.group_element_index[group.label] = group
            if group.required:
                pass
            for el in group.elements:
                if isinstance(el, GroupElement):
                    walk(el)
                else:
                    self.label_element_index[el.label] = el
                    if el.required:
                        self.required.append(el)

        walk(self.parsed.root)

    def has_label(self, label) -> bool:
        if isinstance(label, list):
            return any(item in self.label_element_index for item in label)
        return label in self.label_element_index

    def has_group(self, group: str) -> bool:
        return group in self.group_element_index

    def get_element(self, element_label: str):
        if element_label in self.label_element_index:
            return self.label_element_index[element_label]
        if element_label in self.group_element_index:
            return self.group_element_index[element_label]
        return None

    def get_label_phrases(self, label: str):
        pm = self.phrase_model
        if pm is None or label not in pm.is_label_of:
            return []
        return [pm.phrase_index[ps] for ps in pm.is_label_of[label]]

    def get_required_elements(self) -> list:
        return list(self.required)

    def get_required_labels(self) -> list:
        return [element.label for element in self.required]


class FuzzyTemplateSearcher(FuzzyPhraseSearcher):
    """Reference FuzzyTemplateSearcher-compatible entry point: either the
    reference shape (``template=FuzzyTemplate(...)`` or ``set_template``)
    or the direct shape (phrase dicts + template JSON)."""

    def __init__(self, phrases: Optional[List[dict]] = None,
                 template_json: Union[list, dict, None] = None,
                 config: Optional[dict] = None, ignore_unknown: bool = True,
                 template: Optional[FuzzyTemplate] = None):
        # the reference searches with overlapping matches allowed on this
        # path (context_searcher.py:70)
        merged = dict(config or {})
        merged.setdefault("allow_overlapping_matches", True)
        super().__init__(phrase_list=phrases or [], config=merged)
        self.template: Optional[FuzzyTemplate] = None
        self._parsed = None
        if template is not None:
            self.set_template(template)
        elif phrases is not None and template_json is not None:
            self.set_template(FuzzyTemplate(
                PhraseModel(model=list(phrases)), template_json,
                ignore_unknown=ignore_unknown))

    def set_template(self, template: FuzzyTemplate) -> None:
        """Attach a template; its phrase model becomes the searcher's
        (reference template_searcher.py: ngram-size mismatch raises)."""
        if template.ngram_size != self.model.config.ngram_size:
            raise ValueError(
                f"template ngram_size {template.ngram_size} does not match "
                f"searcher ngram_size {self.model.config.ngram_size}")
        self.template = template
        self._parsed = template.parsed
        if template.phrase_model is not None:
            self._phrase_model_obj = template.phrase_model
            self._phrases = _phrases_arg(None, template.phrase_model)
            self.model = compile_model(self._phrases, self.config)

    def find_template_matches(self, matches: List):
        """Template matching over pre-found matches (any objects exposing
        .offset and .label — the reference's own PhraseMatch included)."""
        from fuzzy_search_spark.template import find_template_matches

        return find_template_matches(matches, self._parsed)

    def search_text(self, text: Union[str, dict]):
        doc = _text_dict(text)
        matches = find_matches(doc["text"], self.model)
        return self.find_template_matches(matches)


def make_searcher(phrases, config=None) -> FuzzyPhraseSearcher:
    """Reference fuzzy_search.make_searcher (fuzzy_search/__init__.py:17-29):
    build a PhraseModel, then a searcher around it."""
    phrase_model = PhraseModel(phrases, config=config)
    return FuzzyPhraseSearcher(phrase_model=phrase_model, config=config)


def phrase_match_from_json(match_json: dict) -> PhraseMatchResult:
    """Reconstruct a PhraseMatchResult from its json() dict (reference
    phrase_match.py:378-399) — the round-trip counterpart of
    PhraseMatchResult.json()."""
    scores = match_json.get("match_scores") or {}
    m = Match(
        phrase=match_json["phrase"],
        variant=match_json["variant"],
        string=match_json["string"],
        offset=match_json["offset"],
        end=match_json.get("end",
                           match_json["offset"] + len(match_json["string"])),
        label=match_json.get("label"),
        char_match=scores.get("char_match"),
        ngram_match=scores.get("ngram_match"),
        levenshtein_similarity=scores.get("levenshtein_similarity"),
    )
    return PhraseMatchResult(m, match_json.get("text_id"),
                             bool(match_json.get("ignorecase")))


# NB: `PhraseMatch` is the real reference-constructor class defined above
# (engine results flow through PhraseMatchResult, which exposes the same
# read surface)

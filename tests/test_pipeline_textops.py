"""Unit tests for the round-3 web-corpus hygiene ops: Gopher-style
repetition signals, benchmark decontamination, and the paragraph-dedup
transformation (strip_duplicate_paragraphs).

Each crafted test pins hand-computed expectations; the differential test
recomputes repetition fractions with an independent pure-Python oracle
(mirroring the driver's DuckDB oracle structure).
"""

from collections import Counter

import pytest

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def spark():
    import os

    from fuzzy_search_spark.spark.session import get_spark

    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    spark = get_spark(master="local[4]", app_name="textops-tests")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


# ---------------------------------------------------------------------------
# repetition_signals
# ---------------------------------------------------------------------------

def test_repetition_signals_crafted(spark):
    from fuzzy_search_spark.pipeline.textstats import repetition_signals

    rows = [
        (1, "a a a a a a a a a a"),      # maximal repetition
        (2, "one two three four five six seven eight nine ten"),
        (3, "x y x y x y"),
        (4, "hi"),                        # too short for any order
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in repetition_signals(docs).collect()}
    assert len(out) == 4

    # doc 1: every 2/3-gram identical, every 5-gram duplicated, the single
    # 10-gram occurs once (dup10 = 0)
    assert out[1].n_tokens == 10
    assert out[1].top2_frac == 1.0 and out[1].top3_frac == 1.0
    assert out[1].dup5_frac == 1.0 and out[1].dup10_frac == 0.0

    # doc 2: all grams distinct
    assert out[2].top2_frac == pytest.approx(1 / 9, abs=1e-6)
    assert out[2].dup5_frac == 0.0 and out[2].dup10_frac == 0.0

    # doc 3: 2-grams = [x y, y x, x y, y x, x y] -> top 3/5; 3-grams
    # [x y x, y x y, x y x, y x y] -> top 2/4; both 5-grams unique
    assert out[3].top2_frac == pytest.approx(0.6, abs=1e-6)
    assert out[3].top3_frac == pytest.approx(0.5, abs=1e-6)
    assert out[3].dup5_frac == 0.0

    # doc 4: one token -> no gram positions at any order -> all zeros
    assert out[4].top2_frac == 0.0 and out[4].top3_frac == 0.0
    assert out[4].dup5_frac == 0.0 and out[4].dup10_frac == 0.0


def test_repetition_signals_matches_python(spark):
    """Differential check against a pure-Python recomputation over the
    same lower + whitespace token stream."""
    from fuzzy_search_spark.pipeline.textstats import repetition_signals

    rows = [
        (1, "the cat sat on the mat the cat sat on the mat again"),
        (2, "spark spark spark streaming window window agg"),
        (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ]

    def frac(words, n, kind):
        grams = [" ".join(words[i:i + n])
                 for i in range(len(words) - n + 1)]
        if not grams:
            return 0.0
        c = Counter(grams)
        if kind == "top":
            return max(c.values()) / len(grams)
        return sum(v for v in c.values() if v > 1) / len(grams)

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in repetition_signals(docs).collect()}
    for doc_id, text in rows:
        w = text.lower().split()
        r = out[doc_id]
        assert r.n_tokens == len(w)
        assert r.top2_frac == pytest.approx(frac(w, 2, "top"), abs=1e-6)
        assert r.top3_frac == pytest.approx(frac(w, 3, "top"), abs=1e-6)
        assert r.dup5_frac == pytest.approx(frac(w, 5, "dup"), abs=1e-6)
        assert r.dup10_frac == pytest.approx(frac(w, 10, "dup"), abs=1e-6)


# ---------------------------------------------------------------------------
# decontaminate
# ---------------------------------------------------------------------------

def test_decontaminate_crafted(spark):
    from fuzzy_search_spark.pipeline.textstats import decontaminate

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string")
    corpus = spark.createDataFrame([
        (1, "x alpha beta gamma delta y"),        # both bench 3-grams
        (2, "alpha beta gamma"),                   # one
        (3, "nothing shared here at all"),         # clean
        (4, "alpha beta gamma alpha beta gamma"),  # same span twice: 1 distinct
    ], "doc_id long, text string")
    out = {r.doc_id: r for r in
           decontaminate(corpus, bench, k=3).collect()}
    assert len(out) == 4
    assert out[1].n_bench_spans == 2 and out[1].contaminated
    assert out[2].n_bench_spans == 1 and out[2].contaminated
    assert out[3].n_bench_spans == 0 and not out[3].contaminated
    assert out[4].n_bench_spans == 1 and out[4].contaminated


# ---------------------------------------------------------------------------
# token counting: regex pre-tokenizer + distributed BPE encode
# ---------------------------------------------------------------------------

def test_regex_token_stats_crafted(spark):
    from fuzzy_search_spark.pipeline.textstats import regex_token_stats

    rows = [
        (1, "don't stop: $5.99 now!"),
        (2, "plain words only here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in regex_token_stats(docs).collect()}
    # don | 't | " stop" | : | " $" | 5 | . | 99 | " now" | !
    assert out[1].n_ws_tokens == 4 and out[1].n_subword_tokens == 10
    assert out[1].subword_ratio == pytest.approx(2.5)
    # pure letter words split 1:1
    assert out[2].n_ws_tokens == 4 and out[2].n_subword_tokens == 4
    assert out[2].subword_ratio == 1.0


# ---------------------------------------------------------------------------
# plan-shape guards (scale regression pins for the round-3 ops)
# ---------------------------------------------------------------------------

def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark, n=40):
    return spark.createDataFrame(
        [(i, f"alpha beta gamma delta w{i % 7} beta epsilon zeta eta "
             f"theta iota kappa w{i % 3}") for i in range(n)],
        "doc_id long, text string")


def test_projection_ops_have_no_exchange(spark):
    """regex_token_stats is pure column algebra: the executed plan must
    contain NO Exchange (it fuses into the scan — the property that makes
    it free at 100 TB)."""
    from fuzzy_search_spark.pipeline.textstats import regex_token_stats

    plan = _plan(regex_token_stats(_docs(spark)))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_dup_span_ops_hash_aggregate_only(spark):
    """duplicate_spans / boilerplate_ratio keep every aggregation in
    HashAggregate (numeric agg buffers; no sort fallback),
    and boilerplate_ratio's two branches over the exploded-gram relation
    share one exchange at runtime (AQE reuse) instead of recomputing the
    explode."""
    from fuzzy_search_spark.pipeline.textstats import (boilerplate_ratio,
                                                       duplicate_spans)

    docs = _docs(spark)
    assert "SortAggregate" not in _plan(duplicate_spans(docs, k=3))

    br = boilerplate_ratio(docs, k=3)
    assert "SortAggregate" not in _plan(br)
    br.collect()
    final = _plan(br)
    assert "isFinalPlan=true" in final
    assert final.count("Reused") >= 1, "gram subtree not stage-reused"


def test_repetition_signals_no_window_no_python(spark):
    """repetition_signals is two hash aggregations — never a per-doc
    window, never a Python pass; all gram orders explode from ONE
    projection (a single scan feeds the counts subtree)."""
    from fuzzy_search_spark.pipeline.textstats import repetition_signals

    out = repetition_signals(_docs(spark))
    plan = _plan(out)
    assert "Window" not in plan
    assert "Python" not in plan
    assert "SortAggregate" not in plan


def test_decontaminate_broadcasts_bench(spark):
    """The benchmark span set joins broadcast-side: the 100-TB corpus is
    never shuffled on gram keys (probe is a map-side BroadcastHashJoin)."""
    from fuzzy_search_spark.pipeline.textstats import decontaminate

    docs = _docs(spark)
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta w1 beta epsilon zeta")],
        "doc_id long, text string")
    out = decontaminate(docs, bench, k=3)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    # the only span_hash-keyed exchange is the TINY benchmark-side
    # distinct; the corpus gram stream is never shuffled on span_hash
    # (its distinct/rollup keys always include doc_id)
    assert plan.count("hashpartitioning(span_hash") <= 1, plan


def test_tfidf_topk_crafted(spark):
    """TF-IDF keywords: a term unique to one doc outranks corpus-wide
    terms; ranking is dense 1..k; ubiquitous terms get the lowest idf."""
    import math

    from fuzzy_search_spark.analysis.freq import tfidf_topk

    docs = spark.createDataFrame([
        (1, "shared shared shared zebra"),
        (2, "shared shared quokka quokka quokka"),
        (3, "shared plain words here"),
    ], "doc_id long, text string")
    rows = tfidf_topk(docs, k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for members in by_doc.values():
        assert [m.rank for m in sorted(members, key=lambda m: m.rank)] \
            == list(range(1, len(members) + 1))
    # doc 2: quokka (tf=3, df=1) dominates shared (tf=2, df=3)
    top2 = sorted(by_doc[2], key=lambda m: m.rank)
    assert top2[0].term == "quokka" and top2[0].tf == 3 and top2[0].df == 1
    want = round(3 * (math.log(4 / 2) + 1), 6)
    assert top2[0].score == pytest.approx(want, abs=1e-6)
    # doc 1: zebra (unique) beats shared despite tf 1 vs 3?  No: tf 3
    # keeps shared ahead -> pin the actual order to the formula
    s_shared = round(3 * (math.log(4 / 4) + 1), 6)
    s_zebra = round(1 * (math.log(4 / 2) + 1), 6)
    top1 = sorted(by_doc[1], key=lambda m: m.rank)
    if s_shared >= s_zebra:
        assert top1[0].term == "shared"
    else:
        assert top1[0].term == "zebra"


def test_tfidf_topk_plan_shape(spark):
    """The (doc, term) pair aggregation materializes once (AQE stage
    reuse across the df-count and scoring branches); the only window
    partitions by doc_id."""
    from fuzzy_search_spark.analysis.freq import tfidf_topk

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma w{i % 5} delta") for i in range(30)],
        "doc_id long, text string")
    out = tfidf_topk(docs, k=3)
    out.collect()
    final = (out._jdf.queryExecution().executedPlan().toString()
             .split("== Initial")[0])
    assert "isFinalPlan=true" in final
    assert final.count("Reused") >= 1, "pair subtree not stage-reused"
    assert final.count("Generate explode") == 1
    assert "windowspecdefinition(doc_id" in final
    # the only SinglePartition exchange is the one-row corpus-count
    # total that gets broadcast (the blessed scalar-totals pattern)
    assert final.count("Exchange SinglePartition") <= 1


def test_fix_mojibake_crafted(spark):
    """Repairs UTF-8-as-Latin-1, leaves ASCII, genuine Latin-1, and
    beyond-Latin-1 text untouched; double-checks the no-shuffle shape."""
    from fuzzy_search_spark.pipeline.textstats import fix_mojibake

    moji = "café déjà".encode("utf-8").decode("latin-1")  # 'cafÃ© dÃ©jÃ\xa0'
    df = spark.createDataFrame([
        (0, "plain ascii"),
        (1, "x " + moji),
        (2, "naïve reälly"),       # real Latin-1: invalid as UTF-8 bytes
        (3, "euro € beyond"),      # > U+00FF: not re-encodable, untouched
        (4, ""),
    ], "doc_id long, text string")
    out = {r.doc_id: r for r in fix_mojibake(df).collect()}
    assert (out[0].was_mojibake, out[0].text_fixed) == (False, "plain ascii")
    assert (out[1].was_mojibake, out[1].text_fixed) == (True, "x café déjà")
    assert (out[2].was_mojibake, out[2].text_fixed) == (False,
                                                        "naïve reälly")
    assert (out[3].was_mojibake, out[3].text_fixed) == (False,
                                                        "euro € beyond")
    assert (out[4].was_mojibake, out[4].text_fixed) == (False, "")

    plan = _plan(fix_mojibake(df))
    assert "Exchange" not in plan and "Python" not in plan


def test_normalize_nfc_crafted(spark):
    """NFC collapses canonical equivalents (decomposed accents, singleton
    Angstrom) so hash-keyed dedup sees one byte form; ASCII and None pass
    through; compatibility forms (ligatures) are NOT touched (NFC, not
    NFKC)."""
    from fuzzy_search_spark.pipeline.textstats import normalize_nfc

    df = spark.createDataFrame([
        (0, "plain"),
        (1, "cafe\u0301"),       # e + combining acute -> \u00e9
        (2, "\u212b"),           # Angstrom sign -> \u00c5 (singleton)
        (3, "\ufb01n"),          # ligature fi: unchanged under NFC
        (4, None),
    ], "doc_id long, text string")
    out = {r.doc_id: r for r in normalize_nfc(df).collect()}
    assert (out[0].changed, out[0].text_nfc) == (False, "plain")
    assert (out[1].changed, out[1].text_nfc) == (True, "caf\u00e9")
    assert (out[2].changed, out[2].text_nfc) == (True, "\u00c5")
    assert (out[3].changed, out[3].text_nfc) == (False, "\ufb01n")
    assert (out[4].changed, out[4].text_nfc) == (False, None)


def test_corpus_profile_hand_computed(spark):
    from fuzzy_search_spark.pipeline.textstats import corpus_profile

    df = spark.createDataFrame([
        (0, "a b c", "en"), (1, "a b", "en"), (2, "x", "nl"),
        (3, "p q r s", "en"),
    ], "doc_id long, text string, lang string")
    row = corpus_profile(df).collect()[0]
    assert row.docs == 4
    assert row.total_tokens == 3 + 2 + 1 + 4
    assert row.mean_tokens == 2.5
    assert row.p50_tokens == 2.5            # interpolated between 2 and 3
    assert row.total_chars == 5 + 3 + 1 + 7
    assert row.n_langs == 2
    assert (row.top_lang, row.top_lang_share) == ("en", 0.75)

    plan = corpus_profile(df)._jdf.queryExecution() \
        .executedPlan().toString()
    # the struct-max argmax plans sort-based, but only AFTER the lang
    # HashAggregate reduced the stream to one row per language (same
    # accepted shape as anchor_text_index); the per-doc stream itself
    # must stay hash-aggregated with no window
    assert "Window" not in plan
    assert "HashAggregate(keys=[lang" in plan


# ---------------------------------------------------------------------------
# cross_doc_spans
# ---------------------------------------------------------------------------

def test_cross_doc_spans_crafted(spark):
    """Positional ExactSubstr semantics, hand-computed: a 7-token run
    shared by two docs merges into one maximal span per doc; within-doc
    repeats alone never flag; distant flagged windows stay separate
    islands; a fully-shared doc pair is one full-width span."""
    from fuzzy_search_spark.pipeline.textstats import cross_doc_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c1 c2 c3 c4 c5 c6 c7 x y z"),
            (2, "p q r c1 c2 c3 c4 c5 c6 c7 s"),
            (3, "m n o m n o m n"),                       # within-doc only
            (4, "c1 c2 c3 t u v w1 w2 w3 g h i c1 c2 c3"),
            (5, "x1 w1 w2 w3 x2"),
            (6, "d1 d2 d3 d4 d5 d6"),
            (7, "d1 d2 d3 d4 d5 d6"),
        ],
        "doc_id long, text string")
    out = {(r.doc_id, r.tok_start): (r.tok_end, r.n_windows)
           for r in cross_doc_spans(docs, k=3).collect()}
    assert out == {
        (1, 2): (9, 5),
        (2, 3): (10, 5),
        (4, 0): (3, 1), (4, 6): (9, 1), (4, 12): (15, 1),
        (5, 1): (4, 1),
        (6, 0): (6, 4),
        (7, 0): (6, 4),
    }


def test_cross_doc_spans_abutting_windows_merge(spark):
    """Two flagged windows exactly k apart cover abutting token ranges
    and must merge into one span (the > k island break is strict)."""
    from fuzzy_search_spark.pipeline.textstats import cross_doc_spans

    # "e1 e2 e3" at pos 0 and "f1 f2 f3" at pos 3 — both corpus-duplicated,
    # ranges [0,3) + [3,6) abut -> one island [0,6).
    docs = spark.createDataFrame(
        [(1, "e1 e2 e3 f1 f2 f3"),
         (2, "zz e1 e2 e3 yy"),
         (3, "qq f1 f2 f3 rr")],
        "doc_id long, text string")
    rows = {(r.doc_id, r.tok_start, r.tok_end, r.n_windows)
            for r in cross_doc_spans(docs, k=3).collect()}
    assert (1, 0, 6, 2) in rows
    assert (2, 1, 4, 1) in rows and (3, 1, 4, 1) in rows


def test_cross_doc_spans_plan_shape(spark):
    """Aggregations stay in HashAggregate (numeric keys/buffers); no
    Python stage anywhere; the only sort is the per-document island
    window (inherent to gaps-and-islands); and the flag aggregation +
    membership probe share ONE exchange at runtime (the corpus is
    scanned and exploded exactly once)."""
    from fuzzy_search_spark.pipeline.textstats import cross_doc_spans

    df = cross_doc_spans(_docs(spark), k=3)
    plan = _plan(df)
    assert "SortAggregate" not in plan
    assert "Python" not in plan
    df.collect()
    final = _plan(df)
    assert "isFinalPlan=true" in final
    assert final.count("Reused") >= 1, "window subtree not stage-reused"


def test_strip_cross_doc_spans_crafted(spark):
    """The removal pass cuts exactly the covered token ranges, keeps
    every input row (totality), and reports token accounting."""
    from fuzzy_search_spark.pipeline.textstats import strip_cross_doc_spans

    docs = spark.createDataFrame(
        [(1, "a b c1 c2 c3 c4 c5 c6 c7 x y z"),
         (2, "p q r c1 c2 c3 c4 c5 c6 c7 s"),
         (3, "m n o m n o m n"),           # within-doc only: untouched
         (4, "lone   doc    with   gaps")],  # whitespace normalization
        "doc_id long, text string")
    out = {r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
           for r in strip_cross_doc_spans(docs, k=3).collect()}
    assert out == {
        1: (12, 7, "a b x y z"),
        2: (11, 7, "p q r s"),
        3: (8, 0, "m n o m n o m n"),
        4: (4, 0, "lone doc with gaps"),
    }


def test_strip_cross_doc_spans_case_insensitive_detection(spark):
    """Windows are detected on lowered text (same stream as every other
    word-gram op) but the ORIGINAL tokens are removed/kept."""
    from fuzzy_search_spark.pipeline.textstats import strip_cross_doc_spans

    docs = spark.createDataFrame(
        [(1, "KEEP Alpha BETA gamma END"),
         (2, "x alpha beta GAMMA y")],
        "doc_id long, text string")
    out = {r.doc_id: r.clean_text
           for r in strip_cross_doc_spans(docs, k=3).collect()}
    assert out == {1: "KEEP END", 2: "x y"}


def test_strip_cross_doc_spans_no_python_stage(spark):
    """The rebuild is JVM column algebra: a doc-keyed join plus a
    higher-order filter-by-index — no Python stage anywhere."""
    from fuzzy_search_spark.pipeline.textstats import strip_cross_doc_spans

    plan = _plan(strip_cross_doc_spans(_docs(spark), k=3))
    assert "Python" not in plan
    assert "SortAggregate" not in plan


def test_gopher_quality_rules_crafted(spark):
    """The seven Gopher rules against a hand-built python mirror."""
    import re

    from fuzzy_search_spark.pipeline.textstats import (GOPHER_STOPWORDS,
                                                       gopher_quality)

    docs = [
        (1, "the cat and the dog have a house to be with that thing " * 10),
        (2, "• item one\n• item two\n- dash\n* star"),
        (3, "### ### hash symbols ### everywhere"),
        (4, ""),
        (5, "and the end to be of that have with...\n" + "word " * 60),
        (6, "trailing dots...\nmore dots…\nclean line\nanother"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in gopher_quality(df).collect()}

    for doc_id, text in docs:
        ws = [w for w in re.split(r"\s+", text) if w]
        lns = [ln for ln in text.split("\n") if ln.strip()]
        nw, nl = max(len(ws), 1), max(len(lns), 1)
        r = out[doc_id]
        assert r.n_words == len(ws)
        assert r.mean_word_len == round(sum(map(len, ws)) / nw, 6)
        assert r.symbol_ratio == round(
            sum("#" in w or "..." in w or "…" in w for w in ws) / nw, 6)
        assert r.bullet_ratio == round(
            sum(bool(re.match(r"^[•\-\*]", ln.strip()))
                for ln in lns) / nl, 6)
        assert r.ellipsis_ratio == round(
            sum(bool(re.search(r"(\.\.\.|…)$", ln.strip()))
                for ln in lns) / nl, 6)
        assert r.alpha_ratio == round(
            sum(bool(re.search("[A-Za-z]", w)) for w in ws) / nw, 6)
        assert r.n_stopwords == sum(
            s in [w.lower() for w in ws] for s in GOPHER_STOPWORDS)
        assert r.keep == (r.rule_word_count and r.rule_mean_word_len
                          and r.rule_symbol_ratio and r.rule_bullet_lines
                          and r.rule_ellipsis_lines and r.rule_alpha_words
                          and r.rule_stopwords)
    assert out[1].keep and not out[2].keep and not out[4].keep

    plan = (gopher_quality(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Python" not in plan


def test_c4_filters_crafted(spark):
    """The C4 line and page heuristics against a hand-built mirror."""
    import re

    from fuzzy_search_spark.pipeline.textstats import c4_filters

    docs = [
        (1, "This is a good first sentence here.\n"
            "Another proper sentence with enough words!\n"
            "And a third full sentence to pass the gate."),
        (2, "short line.\nno terminal punctuation here at all\n"
            "click here"),                      # everything filtered
        (3, "Uses javascript for the menu bar today.\n"
            "This line is long enough and it stays fine.\n"
            "Second keeper sentence right here folks.\n"
            "Third keeper sentence right here folks."),
        (4, "Lorem ipsum dolor sit amet something here.\n"
            "A fine sentence that would otherwise stay here.\n"
            "Another fine sentence that would stay here.\n"
            "Third fine sentence that would stay here."),
        (5, "function() { return 1; } is code.\n"
            "A fine sentence that would otherwise stay here.\n"
            "Another fine sentence that would stay here.\n"
            "Third fine sentence that would stay here."),
        (6, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in c4_filters(df).collect()}

    def mirror(text):
        lns = [ln for ln in text.split("\n") if ln.strip()]
        kept = [ln for ln in lns
                if re.search("[.!?\"']$", ln.strip())
                and len([w for w in re.split(r"\s+", ln.strip()) if w]) >= 5
                and "javascript" not in ln.strip().lower()]
        clean = "\n".join(kept)
        n_sent = 0 if not clean else len(
            [s for s in re.split("[.!?]", clean) if s.strip()])
        lorem = "lorem ipsum" in text.lower()
        curly = "{" in text
        return (len(lns), len(kept), clean, n_sent, lorem, curly,
                n_sent >= 3 and not lorem and not curly)

    for doc_id, text in docs:
        r = out[doc_id]
        assert (r.n_lines, r.n_lines_kept, r.clean_text, r.n_sentences,
                r.has_lorem_ipsum, r.has_curly_brace, r.keep) \
            == mirror(text), doc_id
    assert out[1].keep                       # clean page survives
    assert out[2].n_lines_kept == 0          # all lines filtered
    assert "javascript" not in out[3].clean_text
    assert not out[4].keep and not out[5].keep

    plan = (c4_filters(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Python" not in plan


def test_host_quality_rollup(spark):
    """Integer-exact site-level gate: per-host counts and the
    cross-multiplied keep-rate flag, joined back per document."""
    from fuzzy_search_spark.pipeline.textstats import host_quality_rollup

    rows = [(0, "a.com", True), (1, "a.com", True), (2, "a.com", False),
            (3, "b.com", False), (4, "b.com", False), (5, "b.com", True),
            (6, "c.com", True)]
    df = spark.createDataFrame(rows, "doc_id long, host string, keep boolean")
    got = {r.doc_id: r for r in host_quality_rollup(df).collect()}
    assert len(got) == 7
    # a.com: 2/3 kept -> 2*2 >= 3 -> keep; b.com: 1/3 -> 2 < 3 -> drop;
    # c.com: 1/1 -> keep
    assert got[0].host_docs == 3 and got[0].host_kept == 2
    assert got[0].host_keep and got[1].host_keep and not got[3].host_keep
    assert got[6].host_keep and got[6].host_docs == 1
    # min_host_docs gate excludes small hosts
    strict = {r.doc_id: r for r in
              host_quality_rollup(df, min_host_docs=2).collect()}
    assert not strict[6].host_keep and strict[0].host_keep


# ---------------------------------------------------------------------------
# strip_duplicate_paragraphs
# ---------------------------------------------------------------------------

def test_strip_duplicate_paragraphs_crafted(spark):
    from fuzzy_search_spark.pipeline.textstats import (
        strip_duplicate_paragraphs,
    )

    docs = spark.createDataFrame([
        (1, "unique one\n\nshared banner\n\ntail a"),
        (2, "unique two\n\nshared banner\n\ntail a"),
        (3, "all alone here\n\n\n\nanother solo"),   # empty para dropped
        (4, "shared banner"),                          # fully boilerplate
    ], "doc_id long, text string")
    out = {r.doc_id: r for r in strip_duplicate_paragraphs(docs).collect()}
    assert len(out) == 4
    assert (out[1].n_paras, out[1].n_kept) == (3, 1)
    assert out[1].clean_text == "unique one"
    assert out[2].clean_text == "unique two"
    # doc 3: both paragraphs unique, empty middle removed, order kept
    assert (out[3].n_paras, out[3].n_kept) == (2, 2)
    assert out[3].clean_text == "all alone here\n\nanother solo"
    # doc 4: its single paragraph is shared -> empty text, still present
    assert (out[4].n_paras, out[4].n_kept) == (1, 0)
    assert out[4].clean_text == ""


def test_strip_duplicate_paragraphs_line_mode(spark):
    """sep='\\n' gives RefinedWeb-style line-level dedup."""
    from fuzzy_search_spark.pipeline.textstats import (
        strip_duplicate_paragraphs,
    )

    docs = spark.createDataFrame([
        (1, "keep me\nnav | home | about\nreal content 1"),
        (2, "nav | home | about\nreal content 2"),
    ], "doc_id long, text string")
    out = {r.doc_id: r for r in
           strip_duplicate_paragraphs(docs, sep="\n").collect()}
    assert out[1].clean_text == "keep me\nreal content 1"
    assert out[2].clean_text == "real content 2"


def test_strip_duplicate_paragraphs_plan_shape(spark):
    """The paragraph relation explodes ONCE: the dup-set aggregation and
    the keep join share the repartition(phash) exchange at runtime (AQE
    reuse); aggregation stays HashAggregate."""
    from fuzzy_search_spark.pipeline.textstats import (
        strip_duplicate_paragraphs,
    )

    docs = spark.createDataFrame(
        [(i, f"unique lead {i}\n\nshared boilerplate\n\ntail {i % 3}")
         for i in range(30)],
        "doc_id long, text string")
    out = strip_duplicate_paragraphs(docs)
    out.collect()
    final = (out._jdf.queryExecution().executedPlan().toString()
             .split("== Initial")[0])
    assert "isFinalPlan=true" in final
    assert final.count("Reused") >= 1, "paragraph subtree not stage-reused"
    assert final.count("Generate posexplode") == 1
    assert "SortAggregate" not in final

"""Unit tests for the newer training-data pipeline ops: portable SimHash,
n-gram Jaccard near-dup pairs, exact embedding-cosine near-dup pairs, and
the synthetic-payload multimodal path.

Each test recomputes the expected result with an independent pure-Python
oracle (hashlib / numpy).
"""

import hashlib
import math
from itertools import combinations

import pytest

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def spark():
    import os

    from fuzzy_search_spark.spark.session import get_spark

    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    spark = get_spark(master="local[4]", app_name="pipeline-ops-tests")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "entirely different content with no shared shingles at all"),
    (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
]


def _py_simhash(text: str, bits: int = 60) -> int:
    words = {w for w in text.lower().split() if w}
    votes = [0] * bits
    for w in words:
        h = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
        for b in range(bits):
            votes[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(bits) if votes[b] > 0)


def test_simhash_portable_matches_python(spark):
    from fuzzy_search_spark.pipeline.dedup import simhash64_portable

    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {r.doc_id: r.simhash for r in simhash64_portable(df).collect()}
    for doc_id, text in DOCS:
        assert got[doc_id] == _py_simhash(text), doc_id
    # identical text -> identical signature; near-dup -> small hamming dist
    assert got[1] == got[4]
    ham = bin(got[1] ^ got[2]).count("1")
    assert 0 < ham < 20


def _py_shingles(text: str, k: int = 3):
    w = [x for x in text.lower().split()]
    if len(w) <= k:
        return {" ".join(w)}
    return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)}


def test_ngram_jaccard_matches_python(spark):
    from fuzzy_search_spark.pipeline.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.jaccard
           for r in ngram_jaccard_pairs(df, threshold=0.0).collect()}
    for (ia, ta), (ib, tb) in combinations(DOCS, 2):
        sa, sb = _py_shingles(ta), _py_shingles(tb)
        inter = len(sa & sb)
        if inter == 0:
            assert (ia, ib) not in got
            continue
        expect = inter / len(sa | sb)
        assert got[(ia, ib)] == pytest.approx(expect, abs=1e-6), (ia, ib)
    assert got[(1, 4)] == 1.0


def test_cosine_pairs_matches_python(spark):
    import numpy as np

    from fuzzy_search_spark.pipeline.ann import cosine_pairs

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((40, 8)).round(4)
    vecs[7] = vecs[3] + 0.01  # plant one near-duplicate
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    got = {(r.id_a, r.id_b): r.cosine
           for r in cosine_pairs(df, threshold=0.9).collect()}

    expect = {}
    for a, b in combinations(range(40), 2):
        c = float(vecs[a] @ vecs[b] /
                  (math.sqrt(vecs[a] @ vecs[a]) * math.sqrt(vecs[b] @ vecs[b])))
        if c >= 0.9:
            expect[(a, b)] = c
    assert set(got) == set(expect) and (3, 7) in got
    for pair, c in expect.items():
        assert got[pair] == pytest.approx(c, abs=1e-6), pair


def test_synth_payload_and_media_metadata(spark):
    from fuzzy_search_spark.pipeline.multimodal import (
        _SYNTH_PREFIX_HEX,
        media_metadata,
        synth_payload,
    )

    docs = [(i, f"document body number {i}") for i in range(10)]
    df = synth_payload(
        spark.createDataFrame(docs, "doc_id long, text string")
    ).selectExpr("cast(doc_id as string) as url", "payload")
    got = {int(r.url): r for r in media_metadata(df).collect()}

    expect_type = {0: "image/png", 1: "image/jpeg", 2: "image/gif",
                   3: "audio/wav", 4: "application/octet-stream"}
    for i, text in docs:
        prefix = bytes.fromhex(_SYNTH_PREFIX_HEX.get(i % 5, ""))
        payload = prefix + text.encode()
        r = got[i]
        assert r.media_type == expect_type[i % 5], i
        assert r.n_bytes == len(payload)
        assert r.sha256 == hashlib.sha256(payload).hexdigest()
        assert r.content_md5 == hashlib.md5(
            payload.hex().encode()).hexdigest()


def test_near_duplicates_composite(spark):
    """LSH candidates + exact-Jaccard verification: every emitted pair
    must carry the exact Jaccard of its shingle sets, and every
    high-similarity pair the exact verifier finds among LSH candidates
    must be present."""
    from fuzzy_search_spark.pipeline.dedup import (
        minhash_lsh_pairs,
        near_duplicates,
    )

    docs = DOCS + [
        (5, "the quick brown fox jumps over the lazy dog today"),
        (6, "some completely other sentence with words galore here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.id_a, r.id_b): (r.n_bands, r.jaccard)
           for r in near_duplicates(df, threshold=0.3).collect()}
    cands = {(r.id_a, r.id_b): r.n_bands
             for r in minhash_lsh_pairs(df).collect()}

    assert set(got) <= set(cands)
    for (ia, ib), (n_bands, jac) in got.items():
        sa = _py_shingles(dict(docs)[ia])
        sb = _py_shingles(dict(docs)[ib])
        expect = len(sa & sb) / len(sa | sb)
        assert jac == pytest.approx(expect, abs=1e-6), (ia, ib)
        assert n_bands == cands[(ia, ib)]
    # the exact duplicate pair must survive end to end
    assert (1, 4) in got and got[(1, 4)][1] == 1.0


def test_connected_components_transitive(spark):
    """Min-label propagation merges multi-hop chains (needs >1 round) and
    labels every component by its smallest member."""
    from fuzzy_search_spark.pipeline.dedup import connected_components

    pairs = spark.createDataFrame(
        [(2, 3), (3, 4), (4, 5), (5, 6),      # a 5-node chain
         (10, 11),                            # a simple pair
         (20, 21), (22, 21)],                 # a star around 21
        "id_a long, id_b long")
    got = {r["node"]: r["label"]
           for r in connected_components(pairs).collect()}
    assert got == {2: 2, 3: 2, 4: 2, 5: 2, 6: 2,
                   10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_simhash_families_agree_on_bucketing(spark):
    """simhash64 (xxhash64, JVM-fast, rows-only checked) and
    simhash64_portable (md5, oracle-checked) are different hash families
    but must induce the SAME near-dup structure: every near-dup pair
    sits below 0.2 normalized hamming in BOTH families, every unrelated
    pair above 0.3, and the two rankings never interleave — so the fast
    family is a drop-in for the verified one at scale.  (Measured margin
    on this corpus: near <= 0.143/0.133, unrelated >= 0.317/0.4.)"""
    import itertools

    from fuzzy_search_spark.pipeline.dedup import simhash64, simhash64_portable

    base = ("the quick brown fox jumps over the lazy dog while seventeen "
            "sailors watch from the harbor wall and gulls wheel overhead "
            "crying into the salt wind of an october morning")
    docs = [
        (1, base),
        (2, base.replace("fox", "cat")),
        (3, base.replace("october", "november") + " extra tail"),
        (4, "completely different text about spark query planning and "
            "catalyst optimizer rules with exchange reuse and adaptive "
            "execution statistics collected at runtime for skew joins"),
        (5, "yet another unrelated document on medieval manuscript "
            "transcription quality and ocr error models for early print"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fast = {r["doc_id"]: r["simhash"] for r in simhash64(df).collect()}
    port = {r["doc_id"]: r["simhash"] for r in simhash64_portable(df).collect()}
    near = {(1, 2), (1, 3), (2, 3)}
    dists = {}
    for a, b in itertools.combinations(sorted(fast), 2):
        dists[(a, b)] = (bin(fast[a] ^ fast[b]).count("1") / 63,
                         bin(port[a] ^ port[b]).count("1") / 60)
    for pair, (hf, hp) in dists.items():
        if pair in near:
            assert hf < 0.2 and hp < 0.2, (pair, hf, hp)
        else:
            assert hf > 0.3 and hp > 0.3, (pair, hf, hp)
    # rankings never interleave: max near < min unrelated, per family
    for fam in (0, 1):
        assert (max(d[fam] for p, d in dists.items() if p in near)
                < min(d[fam] for p, d in dists.items() if p not in near))


def test_connected_components_logarithmic_on_chains(spark):
    """Pointer doubling makes round count O(log diameter): a 60-node
    chain (diameter 59, which pure min-propagation could never finish in
    10 rounds) converges silently within a 10-round budget."""
    import warnings

    from fuzzy_search_spark.pipeline.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = {r["node"]: r["label"]
               for r in connected_components(pairs,
                                             max_iterations=10).collect()}
    assert not any("did not converge" in str(w.message) for w in caught)
    assert set(got.values()) == {0} and len(got) == 61


def test_connected_components_warns_on_budget_exhaustion(spark):
    """A chain wider than the iteration budget must not silently yield
    split components — the loop warns when it exits unconverged."""
    import warnings

    from fuzzy_search_spark.pipeline.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        connected_components(pairs, max_iterations=2).collect()
    assert any("did not converge" in str(w.message) for w in caught)
    # and a sufficient budget converges silently
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = {r["node"]: r["label"]
               for r in connected_components(pairs).collect()}
    assert not any("did not converge" in str(w.message) for w in caught)
    assert set(got.values()) == {0}


def test_near_dup_groups_shapes(spark):
    """Transitively-linked near-identical docs collapse into one group."""
    from fuzzy_search_spark.pipeline.dedup import near_dup_groups

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " mu"), (3, base + " nu"),
         (50, "completely different words entirely here now")],
        "doc_id long, text string")
    rows = near_dup_groups(docs, threshold=0.5).collect()
    groups = {r["doc_id"]: (r["group_id"], r["group_size"]) for r in rows}
    assert set(groups) == {1, 2, 3}  # the singleton never appears
    assert {g for g, _ in groups.values()} == {1}
    assert all(s == 3 for _, s in groups.values())


def test_ivf_full_probe_equals_bruteforce(spark):
    """With n_probes == n_clusters, IVF degenerates to exact brute force —
    identical top-k to cosine_topk; with fewer probes the result is a
    subset of the brute-force candidate space with exact cosines."""
    import random

    from fuzzy_search_spark.pipeline.ann import cosine_topk, ivf_topk

    rng = random.Random(7)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    query = vecs[0][1]
    body = df.filter("vec_id != 0")
    exact = [(r["vec_id"], r["cosine"])
             for r in cosine_topk(body, query, k=8).collect()]
    full = [(r["vec_id"], r["cosine"])
            for r in ivf_topk(body, query, k=8, n_clusters=4, n_probes=4,
                              iters=2).collect()]
    assert full == exact
    approx = ivf_topk(body, query, k=8, n_clusters=8, n_probes=2,
                      iters=2).collect()
    assert 0 < len(approx) <= 8
    exact_cos = {r[0]: r[1] for r in exact}
    all_cos = {r["vec_id"]: r["cosine"]
               for r in cosine_topk(body, query, k=1000).collect()}
    for r in approx:
        assert all_cos[r["vec_id"]] == r["cosine"]  # cosines are exact


def test_ivf_train_deterministic(spark):
    from fuzzy_search_spark.pipeline.ann import ivf_train

    vecs = [(i, [float((i * 7 + j) % 5) for j in range(4)])
            for i in range(50)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    c1 = ivf_train(df, n_clusters=4, iters=2)
    c2 = ivf_train(df, n_clusters=4, iters=2)
    assert len(c1) == 4 and all(len(c) == 4 for c in c1)
    assert c1 == c2


def test_ivf_train_local_matches_distributed(spark):
    """ivf_train_local is the oracle's quantizer: it must reproduce the
    distributed trainer's centroids BIT-FOR-BIT (the per-iteration
    rounding makes float summation order irrelevant)."""
    import random

    from fuzzy_search_spark.pipeline.ann import ivf_train, ivf_train_local

    rng = random.Random(12)
    vecs = [(i, [rng.uniform(-2, 2) for _ in range(6)]) for i in range(120)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    dist = ivf_train(df, n_clusters=5, iters=3)
    local = ivf_train_local([v[0] for v in vecs], [v[1] for v in vecs],
                            n_clusters=5, iters=3)
    assert dist == local


def test_corpus_clean_chain(spark):
    """Exact dups collapse to the min id, near-dup group members collapse
    to the representative, low-quality docs drop."""
    from fuzzy_search_spark.pipeline.clean import corpus_clean

    prose = ("The quick brown fox jumps over the lazy dog and then keeps "
             "running through the quiet field for quite a while longer "
             "before it finally rests in the shade of an old tree there.")
    rows = [
        (1, prose),
        (2, prose),                      # exact dup of 1 -> dropped
        (3, prose + " Extra tail words here to make it a near duplicate."),
        (50, "short"),                   # fails the length gate
        (60, "!!!! ???? ;;;; " * 40),    # fails the alpha/punct gates
        (70, "a completely different long document about sailing ships "
             "and harbors with plenty of ordinary prose words that pass "
             "every quality threshold easily and comfortably today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r["doc_id"]: r["lang_guess"]
            for r in corpus_clean(docs).collect()}
    assert set(kept) == {1, 70}  # 2 exact-dup, 3 near-dup, 50/60 quality
    assert kept[1] == "en" and kept[70] == "en"
    only_en = corpus_clean(docs, languages=["nl"]).count()
    assert only_en == 0


def test_duplicate_spans_crafted(spark):
    """A 5-token boilerplate footer shared by three docs is reported with
    the right doc/occurrence counts; unique prose never appears."""
    from fuzzy_search_spark.pipeline.textstats import duplicate_spans

    footer = "all rights reserved by example corp"
    rows = [
        (1, "first document body text here " + footer),
        (2, "second unrelated words entirely " + footer),
        (3, footer + " and a trailing remark appended"),
        (4, "completely unique sentence with no repeats at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.gram: (r.n_docs, r.n_occ)
           for r in duplicate_spans(docs, k=6).collect()}
    assert out[footer] == (3, 3)
    # every reported span really is cross-document
    assert all(nd >= 2 for nd, _ in out.values())
    # doc 4's unique 6-grams are absent
    assert not any("unique sentence" in g for g in out)


def test_duplicate_spans_matches_python(spark):
    """Differential check of counts against a pure-Python oracle over the
    same lower + whitespace token stream."""
    from collections import defaultdict

    from fuzzy_search_spark.pipeline.textstats import duplicate_spans

    texts = {i: t for i, t in DOCS}
    k = 3
    occ, docs_per = defaultdict(int), defaultdict(set)
    for i, t in texts.items():
        w = t.lower().split()
        for j in range(len(w) - k + 1):
            g = " ".join(w[j:j + k])
            occ[g] += 1
            docs_per[g].add(i)
    want = {g: (len(d), occ[g]) for g, d in docs_per.items() if len(d) >= 2}
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {r.gram: (r.n_docs, r.n_occ)
           for r in duplicate_spans(df, k=k).collect()}
    assert got == want


def test_boilerplate_ratio_crafted(spark):
    """Per-doc span totals and duplicated-span counts; a fully-templated
    doc scores ratio 1.0, a fully-unique doc 0.0."""
    from fuzzy_search_spark.pipeline.textstats import boilerplate_ratio

    shared = "one two three four five six seven"
    rows = [
        (1, shared),                                  # all spans shared
        (2, shared + " plus some unique tail words"),
        (3, "nothing here repeats anywhere else truly"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in boilerplate_ratio(docs, k=5).collect()}
    assert out[1].n_spans == 3 and out[1].n_dup_spans == 3
    assert out[1].dup_ratio == 1.0
    assert out[3].n_dup_spans == 0 and out[3].dup_ratio == 0.0
    # doc 2: 12 tokens -> 8 spans, the 3 fully-inside-shared ones repeat
    assert out[2].n_spans == 8 and out[2].n_dup_spans == 3


def test_best_representatives_prefers_quality(spark):
    """Quality-aware canonical selection: the cleanest near-dup group
    member wins over the smallest id; ties fall back to longer text then
    smaller id; the argmax is a struct max, not a window."""
    from fuzzy_search_spark.pipeline.clean import best_representatives

    clean = ("the quick brown fox jumps over the lazy dog and keeps "
             "running through the quiet green field all day long while "
             "birds sing softly in the tall old trees near the river")
    docs = spark.createDataFrame([
        # near-dup pair: doc 1 carries a punctuation tail, doc 2 is
        # clean -> doc 2 must be kept despite the larger id
        (1, clean + " !! ?? ;; ## $$"),
        (2, clean + " neat"),
        (10, "totally unrelated text about spark plans and shuffles "
             "with enough words to stand alone as its own document"),
    ], "doc_id long, text string")
    out = best_representatives(docs, near_dup_threshold=0.3).collect()
    by_group = {r.group_id: r for r in out}
    assert 1 in by_group  # group labeled by min member id
    rep = by_group[1]
    assert rep.keep_id == 2 and rep.n_members == 2
    assert rep.best_score > 0.75

    plan = (best_representatives(docs, near_dup_threshold=0.3)
            ._jdf.queryExecution().executedPlan().toString())
    # the argmax aggregation itself must not window over group members;
    # the only Window allowed is near_dup_groups' group_size count
    assert plan.count("Window") <= 1


def test_corpus_clean_best_quality_mode(spark):
    """representative='best_quality' keeps the cleanest near-dup group
    member through the full chain (min_id mode keeps the smallest id);
    unknown modes raise."""
    from fuzzy_search_spark.pipeline.clean import corpus_clean

    clean = ("the quick brown fox jumps over the lazy dog and keeps "
             "running through the quiet green field all day long while "
             "birds sing softly in the tall old trees near the river")
    docs = spark.createDataFrame([
        (1, clean + " !! ?? ;; ## $$"),
        (2, clean + " neat"),
        (10, "a separate long document about query planning with many "
             "plain words and hardly any punctuation to speak of here"),
    ], "doc_id long, text string")

    kept_min = {r.doc_id for r in
                corpus_clean(docs, near_dup_threshold=0.3).collect()}
    kept_best = {r.doc_id for r in
                 corpus_clean(docs, near_dup_threshold=0.3,
                              representative="best_quality").collect()}
    assert 1 in kept_min and 2 not in kept_min
    assert 2 in kept_best and 1 not in kept_best
    assert 10 in kept_min and 10 in kept_best

    with pytest.raises(ValueError):
        corpus_clean(docs, representative="nope")


def test_incremental_near_duplicates_crafted(spark):
    """Cross-side pairs only: a new doc near-duplicating a corpus doc is
    flagged; new-new and corpus-corpus duplicates are NOT (that is the
    symmetric op's job); result agrees with the symmetric verifier on
    the union."""
    from fuzzy_search_spark.pipeline.dedup import (
        incremental_near_duplicates,
        near_duplicates,
    )

    base = ("the quick brown fox jumps over the lazy dog near the "
            "river bank every single morning before sunrise happens")
    corpus = spark.createDataFrame([
        (1, base + " one"),
        (2, "completely different corpus text about query engines and "
            "shuffle plans with many unrelated words in this row"),
        (3, base + " one"),       # corpus-internal dup: must not appear
    ], "doc_id long, text string")
    new = spark.createDataFrame([
        (100, base + " two"),     # near-dups corpus 1 and 3
        (101, "fresh unrelated content about gardening tips and tools "
              "for growing tomatoes on a small city balcony in summer"),
        (102, "fresh unrelated content about gardening tips and tools "
              "for growing tomatoes on a small city balcony in summer"),
        # 101/102 duplicate each other (same side): must not appear
    ], "doc_id long, text string")
    rows = incremental_near_duplicates(new, corpus, threshold=0.5).collect()
    pairs = {(r.new_id, r.corpus_id) for r in rows}
    assert pairs == {(100, 1), (100, 3)}
    for r in rows:
        assert r.jaccard >= 0.5 and r.n_bands >= 1

    # cross-check the jaccard against the symmetric verifier on the union
    union = corpus.unionByName(new)
    sym = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b)): r.jaccard
           for r in near_duplicates(union, threshold=0.5).collect()}
    for r in rows:
        key = (min(r.new_id, r.corpus_id), max(r.new_id, r.corpus_id))
        assert sym[key] == r.jaccard


def test_quantize_embeddings_int8(spark):
    """int8 quantization: codes bounded, extreme elements hit +-127,
    dequantization stays cosine-close, zero vectors degrade gracefully,
    and the op is a pure projection (no shuffle)."""
    from fuzzy_search_spark.pipeline.ann import quantize_embeddings_int8

    df = spark.createDataFrame([
        (1, [1.0, -0.5, 0.25, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),        # zero vector
        (3, [-2.0, 2.0, 1.0, -1.0]),
    ], "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in quantize_embeddings_int8(df).collect()}

    # round-half-up is toward +inf: -63.5 -> -63
    assert out[1].qvec == [127, -63, 32, 0]
    assert out[1].scale == pytest.approx(1.0 / 127, abs=1e-9)
    assert out[1].recon_cosine >= 0.999
    assert out[2].qvec == [0, 0, 0, 0] and out[2].scale == 0.0
    assert out[2].recon_cosine == 1.0
    assert out[3].qvec == [-127, 127, 64, -63]
    assert all(-127 <= c <= 127 for r in out.values() for c in r.qvec)

    plan = (quantize_embeddings_int8(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Python" not in plan


def test_quantize_engines_agree(spark):
    """The vectorized Arrow engine reproduces the JVM column-algebra
    engine exactly on codes, scale, and rounded cosine: elementwise ops
    are identical IEEE float64 and sums accumulate left-to-right (cumsum,
    not numpy's pairwise sum)."""
    import random

    from fuzzy_search_spark.pipeline.ann import quantize_embeddings_int8

    rng = random.Random(99)
    rows = [(i, [rng.uniform(-2, 2) for _ in range(17)])
            for i in range(200)]
    rows.append((9000, [0.0] * 17))                      # zero vector
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    jvm = {r.vec_id: r for r in quantize_embeddings_int8(df).collect()}
    arw = {r.vec_id: r for r in
           quantize_embeddings_int8(df, engine="arrow").collect()}
    assert set(jvm) == set(arw)
    for k in jvm:
        assert jvm[k].qvec == arw[k].qvec
        assert jvm[k].scale == arw[k].scale
        assert jvm[k].recon_cosine == arw[k].recon_cosine


def test_semantic_dedup_crafted(spark):
    """SemDeDup greedy-by-id contract against a pure-Python mirror:
    every row comes back, keep == no lower-id same-cluster neighbor at
    cosine >= tau, dup_of == the smallest such witness."""
    import numpy as np

    from fuzzy_search_spark.pipeline.ann import (ivf_train_local,
                                                 semantic_dedup)

    rng = np.random.default_rng(23)
    base = rng.standard_normal((4, 16)).round(4)
    rows = []
    for i in range(60):                      # 4 tight semantic groups
        v = base[i % 4] + rng.standard_normal(16) * 0.05
        rows.append((i, [float(x) for x in v.round(4)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in
           semantic_dedup(df, n_clusters=4, iters=2,
                          threshold=0.9).collect()}
    assert set(out) == set(range(60))        # total: every row classified

    # python mirror: same trainer, same assignment, same greedy rule
    cents = np.asarray(ivf_train_local([r[0] for r in rows],
                                       [r[1] for r in rows],
                                       n_clusters=4, iters=2))
    vecs = np.asarray([r[1] for r in rows])
    d2 = ((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2).round(9)
    cid = d2.argmin(axis=1)
    norm = np.sqrt((vecs ** 2).sum(axis=1))
    for i in range(60):
        wits = [j for j in range(i)
                if cid[j] == cid[i]
                and float(vecs[i] @ vecs[j] / (norm[i] * norm[j])) >= 0.9]
        assert out[i].cid == cid[i], i
        assert out[i].keep == (not wits), i
        assert out[i].dup_of == (min(wits) if wits else None), i
    # the planted structure actually dedups: one representative per group
    kept = [i for i in range(60) if out[i].keep]
    assert len(kept) < 15


def test_semantic_dedup_plan_shape(spark):
    """The intra-cluster pair join must be an equi-join on cid (shuffle
    bounded by cluster size), never a cartesian product, and centroid
    assignment must broadcast the k-row centroid table."""
    from fuzzy_search_spark.pipeline.ann import semantic_dedup

    df = spark.range(40).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 8), i -> rand(7) + CAST(i AS DOUBLE)) "
        "AS embedding")
    plan = (semantic_dedup(df, n_clusters=2, iters=1, threshold=0.9)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan     # the k-row centroid join


def test_semantic_dedup_oversized_cluster_cap(spark):
    """A degenerate cluster above max_cluster_size never enters the pair
    join: its rows all come back keep=true, the audit names the cid, and
    clusters under the cap still dedup normally."""
    import numpy as np

    from fuzzy_search_spark.pipeline.ann import (
        oversized_semantic_clusters, semantic_dedup)

    rng = np.random.default_rng(7)
    blob = rng.standard_normal(16).round(4)          # 30-row template mass
    other = -blob                                    # 4-row normal cluster
    rows = [(i, [float(x) for x in blob]) for i in range(30)]
    rows += [(100 + i, [float(x) for x in other]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    uncapped = {r.vec_id: r for r in
                semantic_dedup(df, n_clusters=2, iters=2,
                               threshold=0.9).collect()}
    assert sum(not r.keep for r in uncapped.values()) == 29 + 3

    capped = {r.vec_id: r for r in
              semantic_dedup(df, n_clusters=2, iters=2, threshold=0.9,
                             max_cluster_size=10).collect()}
    assert set(capped) == set(uncapped)              # total either way
    big_cid = capped[0].cid
    # the 30-row cluster was excluded from the pair join entirely
    assert all(capped[i].keep and capped[i].dup_of is None
               for i in range(30))
    # the 4-row cluster (under the cap) still dedups greedily by id
    assert capped[100].keep
    assert all(capped[100 + i].dup_of == 100 for i in range(1, 4))

    audit = oversized_semantic_clusters(df, n_clusters=2, iters=2,
                                        max_cluster_size=10).collect()
    assert [(r.cid, r.cluster_n) for r in audit] == [(big_cid, 30)]


def test_semantic_dedup_zero_norm_guard(spark):
    """Zero vectors have undefined cosine (NaN orders above every number
    in Spark and DuckDB, so an unguarded >= threshold is vacuously
    true): they must never be flagged as anyone's duplicate."""
    from fuzzy_search_spark.pipeline.ann import semantic_dedup

    rows = [(0, [0.0] * 8), (1, [0.0] * 8),          # two degenerate rows
            (2, [1.0] * 8), (3, [1.0] * 8)]          # one real dup pair
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in
           semantic_dedup(df, n_clusters=1, iters=1,
                          threshold=0.9).collect()}
    assert out[0].keep and out[0].dup_of is None
    assert out[1].keep and out[1].dup_of is None
    assert out[2].keep
    assert not out[3].keep and out[3].dup_of == 2


def test_pq_train_rejects_fewer_rows_than_k(spark):
    """Fewer training rows than k must raise, not silently shrink the
    codebooks (uint8 code sizing and oracle literal shape assume k)."""
    import pytest as _pytest

    from fuzzy_search_spark.pipeline.ann import pq_train, pq_train_local

    rows = [(i, [float(i)] * 16) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="training rows"):
        pq_train(df, m=2, k=8, iters=1, dim=16)
    with _pytest.raises(ValueError, match="training rows"):
        pq_train_local([r[0] for r in rows], [r[1] for r in rows],
                       m=2, k=8, iters=1)


def test_pq_trainer_local_matches_distributed(spark):
    """pq_train and pq_train_local produce bit-identical codebooks on
    the same rows (the contract the oracle literals depend on)."""
    import numpy as np

    from fuzzy_search_spark.pipeline.ann import pq_train, pq_train_local

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in v])
            for i, v in enumerate(rng.standard_normal((120, 16)).round(4))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert pq_train(df, m=4, k=8, iters=2, dim=16) == \
        pq_train_local([r[0] for r in rows], [r[1] for r in rows],
                       m=4, k=8, iters=2)


def test_pq_encode_and_adc_against_python(spark):
    """Codes match a pure-python argmin mirror; ADC top-k ranks the
    query's own row first and agrees with the python lut sums."""
    import numpy as np

    from fuzzy_search_spark.pipeline.ann import (pq_encode, pq_topk,
                                                 pq_train_local)

    rng = np.random.default_rng(17)
    rows = [(i, [float(x) for x in v])
            for i, v in enumerate(rng.standard_normal((90, 16)).round(4))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_train_local([r[0] for r in rows], [r[1] for r in rows],
                           m=4, k=8, iters=2)
    got = {r.vec_id: r.codes for r in pq_encode(df, books).collect()}

    def py_codes(v):
        out = []
        for s in range(4):
            sv = np.array(v[s * 4:(s + 1) * 4])
            d2 = [round(float(((sv - np.array(cw)) ** 2).sum()), 9)
                  for cw in books[s]]
            out.append(d2.index(min(d2)))
        return out

    for i, v in rows:
        assert got[i] == py_codes(v), i

    q = rows[11][1]
    top = pq_topk(df, q, books, k=5).collect()
    assert top[0].vec_id == 11           # own row has the smallest ADC
    lut = [[round(sum((q[s * 4 + j] - cw[j]) ** 2 for j in range(4)), 9)
            for cw in books[s]] for s in range(4)]
    for r in top:
        exp = round(sum(lut[s][got[r.vec_id][s]] for s in range(4)), 9)
        assert r.adc_d2 == exp, r.vec_id


def test_pq_engines_agree(spark):
    """JVM expression tree vs vectorized numpy arrow engine: codes must
    be BIT-identical and ADC distances/order equal — the contract that
    lets the driver queries run the fast path while the oracle mirrors
    the JVM algebra.  Includes razor inputs (exact codeword hits, tie
    candidates) plus a random blanket."""
    import numpy as np

    from fuzzy_search_spark.pipeline.ann import (pq_encode, pq_topk,
                                                 pq_train_local)

    rng = np.random.default_rng(41)
    vecs = rng.standard_normal((120, 16)).round(4)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    books = pq_train_local([r[0] for r in rows], [r[1] for r in rows],
                           m=4, k=8, iters=2)
    # razor rows: exact codeword reproductions (d2 == 0 in one subspace)
    # and an equidistant tie between two codewords
    razor = [(200, [float(x) for s in range(4) for x in books[s][3]]),
             (201, [float((books[0][0][j] + books[0][1][j]) / 2)
                    for j in range(4)] * 4)]
    df = spark.createDataFrame(rows + razor,
                               "vec_id long, embedding array<double>")
    jvm = {r.vec_id: list(r.codes)
           for r in pq_encode(df, books, engine="jvm").collect()}
    arw = {r.vec_id: list(r.codes)
           for r in pq_encode(df, books, engine="arrow").collect()}
    assert jvm == arw

    q = rows[7][1]
    tj = [(r.vec_id, r.adc_d2)
          for r in pq_topk(df, q, books, k=10, engine="jvm").collect()]
    ta = [(r.vec_id, r.adc_d2)
          for r in pq_topk(df, q, books, k=10, engine="arrow").collect()]
    assert tj == ta


def test_pq_encode_plan_is_pure_projection(spark):
    """Codebooks are expression literals: encode must fuse into the scan
    — no Exchange, no Python stage."""
    from fuzzy_search_spark.pipeline.ann import pq_encode, pq_train_local

    rows = [(i, [float(i % 7), float(i % 3)] * 4) for i in range(40)]
    books = pq_train_local([r[0] for r in rows], [r[1] for r in rows],
                           m=4, k=4, iters=1)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    plan = (pq_encode(df, books)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Python" not in plan


def test_pq_train_refuses_below_k():
    """A silent codebook shrink breaks uint8-code sizing and the oracle
    literal shape — both trainers refuse instead (round-4 advice)."""
    import pytest as _pytest

    from fuzzy_search_spark.pipeline.ann import pq_train_local

    with _pytest.raises(ValueError, match="training rows"):
        pq_train_local([1, 2, 3], [[0.0] * 8] * 3, m=2, k=16)

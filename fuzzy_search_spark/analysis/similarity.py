"""Term-similarity analytics (reference analysis/similarity.py, §2.7),
re-expressed as native DataFrame algebra.

- ``skipgram_similarity_topk``: the reference's SkipgramSimilarity (sparse
  skipgram-count cosine within a term-length band, top-k) becomes
  gram-explode -> band self-join -> hash-aggregate dot product -> window
  top-k.  The length-band predicate (|len(a)-len(b)| <= d) is the join
  prune that keeps the candidate set linear-ish, mirroring the reference's
  length buckets.

Everything is JVM-side column algebra (gram generation included).
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def char_skipgram_counts(df: DataFrame, term_col: str = "term",
                         ngram_size: int = 3,
                         skip_size: int = 0) -> DataFrame:
    """(term, gram, freq) skipgram counts per term, matching the reference
    generator's semantics: windows at every start, combinations of
    ngram_size-1 positions after the first within ngram_size+skip_size,
    whole-term gram when len(term) <= ngram_size.  Count vectors (not
    offsets) feed the cosine, so per-start combination order is
    irrelevant."""
    term = F.col(term_col)
    n = F.length(term)
    combos = list(combinations(range(1, ngram_size + skip_size),
                               ngram_size - 1))
    per_combo = []
    for combo in combos:
        last = combo[-1]
        grams = F.transform(
            F.sequence(F.lit(1), n - last),
            lambda i: F.concat(
                term.substr(i, F.lit(1)),
                *[F.col(term_col).substr(i + off, F.lit(1)) for off in combo],
            ),
        )
        # sequence(1, x) runs descending for x < 1 — guard each combo
        per_combo.append(F.when(n > last, grams).otherwise(
            F.array().cast("array<string>")))
    all_grams = F.when(
        n <= ngram_size, F.array(term)
    ).otherwise(F.flatten(F.array(*per_combo)))
    return (
        df.select(term, F.explode(all_grams).alias("gram"))
        .groupBy(term_col, "gram")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def skipgram_similarity_topk(terms_df: DataFrame, term_col: str = "term",
                             k: int = 5, ngram_size: int = 3,
                             skip_size: int = 0,
                             max_length_diff: int = 2) -> DataFrame:
    """Top-k most similar indexed terms per term, by skipgram-count cosine
    within the +/- max_length_diff length band (self-similarity excluded).

    Output: (term, similar_term, cosine, rank)."""
    grams = char_skipgram_counts(terms_df, term_col, ngram_size, skip_size)
    norms = grams.groupBy(term_col).agg(
        F.sqrt(F.sum(F.col("freq") * F.col("freq"))).alias("norm"))
    a = grams.select(F.col(term_col).alias("term_a"), "gram",
                     F.col("freq").alias("freq_a"))
    b = grams.select(F.col(term_col).alias("term_b"), "gram",
                     F.col("freq").alias("freq_b"))
    dots = (
        a.join(b, "gram")
        .filter(
            (F.col("term_a") != F.col("term_b"))
            & (F.abs(F.length("term_a") - F.length("term_b"))
               <= max_length_diff)
        )
        .groupBy("term_a", "term_b")
        .agg(F.sum(F.col("freq_a") * F.col("freq_b")).alias("dot"))
    )
    na = norms.select(F.col(term_col).alias("term_a"),
                      F.col("norm").alias("norm_a"))
    nb = norms.select(F.col(term_col).alias("term_b"),
                      F.col("norm").alias("norm_b"))
    cos = (
        dots.join(na, "term_a").join(nb, "term_b")
        .select(
            F.col("term_a").alias("term"),
            F.col("term_b").alias("similar_term"),
            F.round(F.col("dot") / (F.col("norm_a") * F.col("norm_b")), 6)
            .alias("cosine"),
        )
    )
    w = Window.partitionBy("term").orderBy(F.desc("cosine"), "similar_term")
    return (
        cos.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def skipgram_similarity_topk_bucketed(terms_df: DataFrame,
                                      term_col: str = "term",
                                      k: int = 5, ngram_size: int = 3,
                                      skip_size: int = 0,
                                      max_length_diff: int = 2) -> DataFrame:
    """Identical output to :func:`skipgram_similarity_topk`, but the
    length band is part of the JOIN KEY instead of a post-join predicate
    — mirroring the reference's per-length index buckets
    (similarity.py:316-330).

    Why: joining on raw gram equality fans a hot gram (think "the" inside
    a web-corpus vocabulary) out quadratically within one join key.  Here
    side B's gram rows are replicated into the 2*max_length_diff+1
    neighboring length keys and the join runs on (gram, length) — a hot
    gram's candidates split across term lengths, so per-key fanout is
    bounded by the per-length gram frequency and the shuffle key spreads
    (constant-factor 2d+1 replication buys quadratic-fanout relief).  The
    pair set is exactly the band predicate, so dot products, cosines and
    ranks are unchanged."""
    grams = char_skipgram_counts(terms_df, term_col, ngram_size, skip_size)
    norms = grams.groupBy(term_col).agg(
        F.sqrt(F.sum(F.col("freq") * F.col("freq"))).alias("norm"))
    a = grams.select(F.col(term_col).alias("term_a"), "gram",
                     F.col("freq").alias("freq_a"),
                     F.length(term_col).alias("len_key"))
    b = grams.select(
        F.col(term_col).alias("term_b"), "gram",
        F.col("freq").alias("freq_b"),
        F.explode(F.sequence(
            F.length(term_col) - max_length_diff,
            F.length(term_col) + max_length_diff)).alias("len_key"))
    dots = (
        a.join(b, ["gram", "len_key"])
        .filter(F.col("term_a") != F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.sum(F.col("freq_a") * F.col("freq_b")).alias("dot"))
    )
    na = norms.select(F.col(term_col).alias("term_a"),
                      F.col("norm").alias("norm_a"))
    nb = norms.select(F.col(term_col).alias("term_b"),
                      F.col("norm").alias("norm_b"))
    cos = (
        dots.join(na, "term_a").join(nb, "term_b")
        .select(
            F.col("term_a").alias("term"),
            F.col("term_b").alias("similar_term"),
            F.round(F.col("dot") / (F.col("norm_a") * F.col("norm_b")), 6)
            .alias("cosine"),
        )
    )
    w = Window.partitionBy("term").orderBy(F.desc("cosine"), "similar_term")
    return (
        cos.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# Reference-surface driver-side classes (analysis/similarity.py:161-501):
# KeywordList (length-bucketed candidate pair enumeration) and
# SkipgramSimilarity (lazy per-length skipgram-vector buckets with cosine
# ranking).  Same public behavior and lazy-bucket invariants as the
# reference; internals restructured — this sandbox has no scipy, so the
# buckets are dict-of-postings sparse structures instead of csr matrices.
# The DataFrame operators above remain the engine's distributed path.
# ---------------------------------------------------------------------------


def _levenshtein(term1: str, term2: str) -> int:
    from fuzzy_search_spark.kernels.strings import levenshtein_distance

    return levenshtein_distance(term1, term2)


def is_close_distance_keyword_pair(keyword1: str, keyword2: str,
                                   max_distance_ratio: float,
                                   max_length_difference: int,
                                   max_distance: int) -> bool:
    """Near-duplicate keyword test (reference similarity.py:161-186)."""
    if abs(len(keyword1) - len(keyword2)) > max_length_difference:
        return False
    distance = _levenshtein(keyword1, keyword2)
    return distance < max_distance and (
        distance / len(keyword1) < max_distance_ratio
        or distance / len(keyword2) < max_distance_ratio)


class KeywordList:
    """Keywords indexed by length for candidate-pair enumeration within a
    length band (reference similarity.py:188-273)."""

    def __init__(self, keywords, max_length_diff: int):
        from collections import defaultdict

        self.len_keys = defaultdict(list)
        self.max_length_diff = max_length_diff
        for ki, keyword in enumerate(keywords):
            if not isinstance(keyword, str):
                raise ValueError(
                    f"keyword '{keyword}' at index {ki} is not of type str "
                    f"but type {type(keyword)}")
            self.len_keys[len(keyword)].append(keyword)
        self.len_order = sorted(self.len_keys.keys())

    def iterate_candidate_pairs(self):
        """Each unordered pair within the length band, exactly once."""
        for len_key1 in self.len_order:
            for ki, kw1 in enumerate(self.len_keys[len_key1]):
                for len_key2 in range(len_key1,
                                      len_key1 + self.max_length_diff + 1):
                    start = ki + 1 if len_key2 == len_key1 else 0
                    for kw2 in self.len_keys[len_key2][start:]:
                        yield kw1, kw2

    def find_close_distance_keywords(self, max_distance_ratio: float = 0.3,
                                     max_length_diff: int = 3,
                                     max_distance: int = 10,
                                     ignorecase: bool = False):
        from collections import defaultdict

        if max_length_diff is None:
            max_length_diff = self.max_length_diff
        close = defaultdict(list)
        for keyword1, keyword2 in self.iterate_candidate_pairs():
            s1 = keyword1.lower() if ignorecase else keyword1
            s2 = keyword2.lower() if ignorecase else keyword2
            if is_close_distance_keyword_pair(
                    s1, s2, max_distance_ratio=max_distance_ratio,
                    max_length_difference=max_length_diff,
                    max_distance=max_distance):
                close[keyword1].append(keyword2)
                close[keyword2].append(keyword1)
        return close

    def find_closer_terms(self, candidate: str, keyword: str, close_terms):
        closer_terms = {}
        keyword_distance = _levenshtein(keyword, candidate)
        for close_term in close_terms:
            d = _levenshtein(close_term, candidate)
            if d < keyword_distance:
                closer_terms[close_term] = d
        return closer_terms


class _SkipgramBucket:
    """One term-length bucket: skipgram-id -> [(term_id, freq)] postings
    plus the matrix-like ``shape`` (num_skipgrams, num_terms) the
    reference exposes on its sparse buckets."""

    __slots__ = ("postings", "shape")

    def __init__(self, postings: dict, num_skipgrams: int, num_terms: int):
        self.postings = postings
        self.shape = (num_skipgrams, num_terms)

    def get(self, key, default=()):
        return self.postings.get(key, default)


class SkipgramSimilarity:
    """Cosine similarity over character-skipgram vectors with lazy
    per-term-length buckets (reference similarity.py:275-501): a query
    only ever multiplies against terms within ``max_length_diff`` of its
    length, buckets build on first use, and indexing new terms marks only
    their own length dirty."""

    def __init__(self, ngram_length: int = 3, skip_length: int = 0,
                 terms=None, max_length_diff: int = 2):
        from collections import defaultdict

        from fuzzy_search_spark.analysis.vocabulary import Vocabulary

        self.ngram_length = ngram_length
        self.skip_length = skip_length
        self.vocabulary = Vocabulary()
        self.skipgram_vocabulary = Vocabulary()
        self.max_length_diff = max_length_diff
        self._term_skipgram_freq = {}
        self._term_ids_by_length = defaultdict(set)
        # length -> {skipgram_id: [(term_id, freq), ...]} postings (built
        # lazily; any object identity is stable until the length dirties)
        self._length_buckets = {}
        self._vector_length = {}
        self._dirty_lengths = set()
        if terms is not None:
            self.index_terms(terms)

    def _reset_index(self):
        from collections import defaultdict

        self.vocabulary.reset_index()
        self.skipgram_vocabulary.reset_index()
        self._term_skipgram_freq = {}
        self._term_ids_by_length = defaultdict(set)
        self._length_buckets = {}
        self._vector_length = {}
        self._dirty_lengths = set()

    def index_terms(self, terms, reset_index: bool = True):
        """Cumulative by default per the reference docstring quirk — pass
        reset_index=True (the default) to start fresh."""
        if reset_index is True:
            self._reset_index()
        self.vocabulary.add_terms(terms)
        for term in terms:
            self._index_term_skips(term)

    def _term_to_skip(self, term: str):
        from collections import Counter

        from fuzzy_search_spark.kernels.skipgrams import text2skipgrams

        return Counter(s.string for s in text2skipgrams(
            term, ngram_size=self.ngram_length, skip_size=self.skip_length))

    def _index_term_skips(self, term: str) -> None:
        term_id = self.vocabulary.term_id[term]
        skipgram_freq = self._term_to_skip(term)
        self.skipgram_vocabulary.add_terms(list(skipgram_freq.keys()))
        self._term_skipgram_freq[term_id] = skipgram_freq
        self._term_ids_by_length[len(term)].add(term_id)
        self._dirty_lengths.add(len(term))

    def _build_bucket(self, term_length: int) -> None:
        import math
        from collections import defaultdict

        postings = defaultdict(list)
        term_ids = sorted(self._term_ids_by_length[term_length])
        for term_id in term_ids:
            freqs = self._term_skipgram_freq[term_id]
            for skipgram, freq in freqs.items():
                sid = self.skipgram_vocabulary.term_id[skipgram]
                postings[sid].append((term_id, freq))
            self._vector_length[term_id] = math.sqrt(
                sum(f * f for f in freqs.values()))
        self._length_buckets[term_length] = _SkipgramBucket(
            dict(postings), len(self.skipgram_vocabulary), len(term_ids))
        self._dirty_lengths.discard(term_length)

    def _get_bucket(self, term_length: int):
        if term_length not in self._term_ids_by_length:
            return None
        if term_length in self._dirty_lengths or \
                term_length not in self._length_buckets:
            self._build_bucket(term_length)
        return self._length_buckets[term_length]

    def _get_term_vector_length(self, term, skipgram_freq) -> float:
        import math

        if term in self.vocabulary.term_id:
            term_id = self.vocabulary.term_id[term]
            self._get_bucket(len(term))
            return self._vector_length[term_id]
        return math.sqrt(sum(f * f for f in skipgram_freq.values()))

    def _compute_dot_product(self, term: str):
        """term_id -> cosine over every indexed term within
        max_length_diff of the query's length; out-of-range buckets are
        never touched (let alone built)."""
        from collections import defaultdict

        skipgram_freq = self._term_to_skip(term)
        term_vl = self._get_term_vector_length(term, skipgram_freq)
        if term_vl == 0:
            return {}
        dots = defaultdict(float)
        for term_length in range(len(term) - self.max_length_diff,
                                 len(term) + self.max_length_diff + 1):
            bucket = self._get_bucket(term_length)
            if bucket is None:
                continue
            for skipgram, freq in skipgram_freq.items():
                sid = self.skipgram_vocabulary.term_id.get(skipgram)
                if sid is None:
                    continue
                for term_id, tfreq in bucket.get(sid, ()):
                    dots[term_id] += freq * tfreq
        return {
            term_id: dot / (term_vl * self._vector_length[term_id])
            for term_id, dot in dots.items() if dot != 0
        }

    def rank_similar(self, term: str, top_n: int = 10,
                     score_cutoff: float = 0.5):
        """Top-n indexed terms by skipgram cosine, descending, stopping
        at the cutoff (ties broken by vocabulary id for determinism)."""
        dots = self._compute_dot_product(term)
        ranked = sorted(dots.items(), key=lambda kv: (-kv[1], kv[0]))
        out = []
        for term_id, score in ranked[:top_n]:
            if score < score_cutoff:
                break
            out.append((self.vocabulary.id_term[term_id], score))
        return out

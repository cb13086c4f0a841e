"""Measure token-pipeline throughput vs phrase-model size (the 100-TB
model-size story: at 10^3-10^4 phrases the token path must stay the fast
route).  Single-core, no Spark — isolates kernel cost from scheduling.

Usage: python scripts/token_phrase_scaling.py [sizes...]
Prints one line per model size: phrases, compile_s, docs/s/core, matches,
and the process's peak RSS so far (sizes run in the given order).
"""

from __future__ import annotations

import os
import random
import re
import resource
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_texts(n_docs: int = 120):
    import pyarrow.parquet as pq

    from fuzzy_search_spark.extract import extract_html

    corpus = None
    fixtures = os.path.join(REPO, "fixtures")
    for name in sorted(os.listdir(fixtures) if os.path.isdir(fixtures)
                       else ()):
        if name.startswith("web_pages_"):
            corpus = os.path.join(REPO, "fixtures", name)
    if corpus is None:
        from fuzzy_search_spark.fixtures import write_web_pages_parquet

        corpus = os.path.join(REPO, "fixtures", "web_pages_2000")
        write_web_pages_parquet(corpus, n_bulk=2000, n_files=8)
    shard = sorted(os.listdir(corpus))[0]
    table = pq.read_table(os.path.join(corpus, shard), columns=["html"])
    return [extract_html(h)
            for h in table.column("html").to_pylist()[:n_docs]]


def build_phrases(texts, n_phrases: int, rare: bool = False):
    """Deterministic phrase list.  Default: contiguous 2-3 word windows
    sampled from the corpus itself, so probes genuinely hit (a
    match-DENSE workload).  ``rare``: scrambled cross-document word
    combinations that almost never occur contiguously — isolates the
    model-size cost (probe fanout + partial bookkeeping) from the
    match-emission cost."""
    rng = random.Random(42)
    words_per_doc = [re.findall(r"[A-Za-z]{3,}", t) for t in texts]
    all_words = [w for ws in words_per_doc for w in ws]
    phrases = []
    seen = set()
    while len(phrases) < n_phrases:
        if rare:
            n = rng.choice((2, 3))
            p = " ".join(all_words[rng.randrange(len(all_words))]
                         for _ in range(n))
        else:
            words = words_per_doc[rng.randrange(len(words_per_doc))]
            if len(words) < 4:
                continue
            start = rng.randrange(len(words) - 3)
            n = rng.choice((2, 3))
            p = " ".join(words[start:start + n])
        if p.lower() in seen:
            continue
        seen.add(p.lower())
        phrases.append(p)
    return phrases


def main():
    from fuzzy_search_spark.token_matcher import (
        compile_token_model,
        find_token_matches,
    )

    rare = "--rare" in sys.argv
    sizes = [int(s) for s in sys.argv[1:]
             if s != "--rare"] or [200, 1000, 2000, 5000]
    texts = load_texts()
    chars = sum(len(t) for t in texts)
    print(f"corpus: {len(texts)} docs, {chars} chars rare={rare}")
    for size in sizes:
        phrases = build_phrases(texts, size, rare=rare)
        t0 = time.monotonic()
        model = compile_token_model(phrases, {})
        compile_s = time.monotonic() - t0
        # warm-up pass (probe caches), then best-of-3 timed
        for t in texts[:10]:
            find_token_matches(t, model)
        best = None
        for _ in range(3):
            t0 = time.monotonic()
            n_matches = 0
            for t in texts:
                n_matches += len(find_token_matches(t, model))
            wall = time.monotonic() - t0
            best = wall if best is None else min(best, wall)
        print(f"phrases={size:5d} compile={compile_s:6.2f}s "
              f"docs_per_sec_core={len(texts) / best:7.2f} "
              f"mb_per_sec={chars / best / 1e6:6.2f} matches={n_matches} "
              f"peak_rss_mb={peak_rss_mb():.0f}")


def peak_rss_mb() -> float:
    """This process's peak resident set size so far, in MB (ru_maxrss
    counts KiB on Linux)."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


if __name__ == "__main__":
    main()

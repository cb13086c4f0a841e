"""Measure token-pipeline throughput vs phrase-model size (the 100-TB
model-size story: at 10^3-10^4 phrases the token path must stay the fast
route).  Single-core, no Spark — isolates kernel cost from scheduling.

The corpus and dictionary are perfbench's ``wet_token_dict`` generators
(``wet_records`` and ``token_dictionary``, imported read-only): WET-style
text whose Zipf vocabulary gives about 1,000 distinct phrase tokens at
1,000 phrases and over 4,000 at 10,000, where bucket size and distractor
pairs are what cost.  The dictionary is sampled from ``DICT_DOCS`` records;
the timed pass runs over the first ``TIMED_DOCS`` of them.

Usage: python scripts/token_phrase_scaling.py [--rare] [sizes...]
Prints one line per model size: phrases, phrase tokens, compile_s,
docs/s/core, matches, and the process's peak RSS so far (sizes run in the
given order).  ``--rare``: scrambled cross-document word combinations that
almost never occur contiguously, which isolates the model-size cost
(probe fanout + partial bookkeeping) from the match-emission cost.
"""

from __future__ import annotations

import os
import random
import re
import resource
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import corpus  # noqa: E402

SEED = 7
DICT_DOCS = 400
TIMED_DOCS = 32


def build_phrases(texts, n_phrases: int, rare: bool = False):
    """Deterministic phrase list: perfbench's corpus-sampled dictionary
    (contiguous 2-3 word windows, so probes genuinely hit), or with
    ``rare`` scrambled cross-document word combinations."""
    if not rare:
        return corpus.token_dictionary(texts, SEED, n_phrases)
    rng = random.Random(42)
    all_words = re.findall(r"[A-Za-z]{3,}", " ".join(texts))
    phrases = []
    seen = set()
    while len(phrases) < n_phrases:
        p = " ".join(all_words[rng.randrange(len(all_words))]
                     for _ in range(rng.choice((2, 3))))
        if p.lower() not in seen:
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
    records = [r["text"] for r in corpus.wet_records(SEED, DICT_DOCS)]
    texts = records[:TIMED_DOCS]
    chars = sum(len(t) for t in texts)
    print(f"corpus: {len(texts)} docs, {chars} chars rare={rare}")
    for size in sizes:
        phrases = build_phrases(records, size, rare=rare)
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
        print(f"phrases={size:5d} "
              f"phrase_tokens={len(model.token_in_phrase):5d} "
              f"compile={compile_s:6.2f}s "
              f"docs_per_sec_core={len(texts) / best:7.2f} "
              f"mb_per_sec={chars / best / 1e6:6.2f} matches={n_matches} "
              f"peak_rss_mb={peak_rss_mb():.0f}")


def peak_rss_mb() -> float:
    """This process's peak resident set size so far, in MB (ru_maxrss
    counts KiB on Linux)."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


if __name__ == "__main__":
    main()

"""Single-core head-to-head: the reference library (live, with the
pure-Python shims from tests/oracle_shims) vs this engine's matcher, on
the same extracted bench corpus with the README model.  Reported in
BENCH/BASELINE.md ("Reference comparison"); rerun after any kernel change
and update the figures there.

Usage: python scripts/reference_headtohead.py [n_docs]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def load_texts(n_docs: int):
    import pyarrow.parquet as pq

    from fuzzy_search_spark.extract import extract_html

    corpus = None
    for name in sorted(os.listdir(os.path.join(REPO, "fixtures"))):
        if name.startswith("web_pages_"):
            corpus = os.path.join(REPO, "fixtures", name)
    shard = sorted(os.listdir(corpus))[0]
    table = pq.read_table(os.path.join(corpus, shard), columns=["html"])
    return [extract_html(h)
            for h in table.column("html").to_pylist()[:n_docs]]


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 120
    texts = load_texts(n_docs)
    chars = sum(len(t) for t in texts)

    from fuzzy_search_spark.fixtures import README_CONFIG, README_MODEL
    from fuzzy_search_spark.matcher import find_matches
    from fuzzy_search_spark.model import compile_model

    from oracle import make_reference_searcher, reference_matches

    model = compile_model(README_MODEL, README_CONFIG)
    searcher = make_reference_searcher(README_MODEL, README_CONFIG)

    # warm-up both engines, then best-of-3 each
    for t in texts[:10]:
        find_matches(t, model)
        reference_matches(searcher, t)

    best_eng = None
    for _ in range(3):
        t0 = time.monotonic()
        eng = [find_matches(t, model) for t in texts]
        w = time.monotonic() - t0
        best_eng = w if best_eng is None else min(best_eng, w)

    best_ref = None
    for _ in range(3):
        t0 = time.monotonic()
        ref = [reference_matches(searcher, t) for t in texts]
        w = time.monotonic() - t0
        best_ref = w if best_ref is None else min(best_ref, w)

    agree = 0
    for e, r in zip(eng, ref):
        et = [(m.phrase, m.variant, m.string, m.offset) for m in e]
        rt = [(m[0], m[1], m[2], m[3]) for m in r]
        agree += et == rt
    eng_mb = chars / best_eng / 1e6
    ref_mb = chars / best_ref / 1e6
    print(f"docs={len(texts)} chars={chars}")
    print(f"engine:    {len(texts)/best_eng:7.1f} docs/s  {eng_mb:.3f} MB/s")
    print(f"reference: {len(texts)/best_ref:7.1f} docs/s  {ref_mb:.3f} MB/s")
    print(f"ratio: {eng_mb/ref_mb:.1f}x   byte-identical docs: "
          f"{agree}/{len(texts)}")


if __name__ == "__main__":
    main()

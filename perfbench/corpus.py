"""Seeded inputs for the three benchmark workloads.

Every function here is a pure function of its ``seed``: the same seed gives
byte-identical tables, models and digests.  The program under test only ever
sees the generated tables (written as parquet shards) and the phrase lists.
"""

from __future__ import annotations

import bisect
import hashlib
import html as _html
import itertools
import math
import os
import random
import re
from typing import Dict, List

import pyarrow as pa
import pyarrow.parquet as pq

from fuzzy_search_spark.extract import normalize_text
from fuzzy_search_spark.fixtures import iter_web_pages, ocr_corrupt

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("html", pa.binary()),
    ("text", pa.string()),
])

# Document counts are sized so one warm local[4] job takes about two
# seconds: a run of under a minute (JVM launch and three set-ups included)
# then holds several closed-loop jobs to take a median over.
PHRASE_DOCS = 160
TOKEN_DOCS = 32
TOKEN_MEDIAN_CHARS = 2000
TOKEN_PHRASES = 300
BOILERPLATE_DOCS = 100

_NAV_WORDS = (
    "home archief zoeken contact over nieuws collecties bronnen inventaris "
    "catalogus register index kaart help login account privacy cookies "
    "voorwaarden toegankelijkheid colofon sitemap rss nieuwsbrief agenda"
).split()

_SYLLABLES = (
    "ba be bi bo bu da de di do du ka ke ki ko ku la le li lo lu ma me mi "
    "mo mu na ne ni no nu ra re ri ro ru sa se si so su ta te ti to tu van "
    "der ijk sch oor aal"
).split()


def _bulk_rows(n_docs: int, seed: int, median_chars: int, sigma: float,
               **kwargs) -> List[dict]:
    """The fixture generator's seeded bulk documents (no goldens, so the
    whole table moves with the seed).

    The log-normal lengths are rescaled so the text total is the same for
    every seed: the generator draws each document's length before its
    words, so a second pass with a scaled median keeps every document's
    draw and only stretches it.  The seed then moves the content and the
    length mix, not the amount of work.  Urls do not carry the seed, so
    url-hash layouts (groups, salt partitions) are the same for every
    seed too."""
    target = median_chars * n_docs * math.exp(sigma ** 2 / 2)
    median = float(median_chars)
    for _ in range(2):
        rows = [{"url": url, "html": html, "text": text}
                for url, _ts, html, text, _lang in iter_web_pages(
                    n_bulk=n_docs, seed=seed, include_goldens=False,
                    median_chars=median, sigma=sigma, **kwargs)]
        # giants (tail_chars long) keep their length; bulk docs are capped
        # at 50k chars by the generator
        bulk = sum(len(r["text"]) for r in rows if len(r["text"]) <= 50_000)
        median *= target / bulk
    return rows


def phrase_pages(seed: int, n_docs: int = PHRASE_DOCS) -> List[dict]:
    """``pages_phrase``: template pages, log-normal lengths (sigma 0.6
    around a 3000-char median, rescaled to a fixed total), a giant document
    at every hundredth position, README phrases planted at the fixture's
    density.  ``text`` is NULL in the table so the job extracts from
    ``html``."""
    return _bulk_rows(n_docs, seed, median_chars=3000, sigma=0.6)


def _wet_vocabulary() -> List[str]:
    """A fixed 5000-word pseudo-Dutch vocabulary (seed-independent, like a
    language's lexicon; only the documents drawn from it move with the
    seed)."""
    rng = random.Random(5000)
    words: List[str] = []
    seen = set()
    while len(words) < 5000:
        word = "".join(rng.choice(_SYLLABLES)
                       for _ in range(rng.choice((2, 2, 3, 3, 4))))
        if word not in seen:
            seen.add(word)
            words.append(word)
    return words


def _wet_text(rng: random.Random, vocab: List[str], cum: List[float],
              n_chars: int) -> str:
    parts: List[str] = []
    size = 0
    while size < n_chars:
        word = vocab[bisect.bisect(cum, rng.random() * cum[-1])]
        if rng.random() < 0.1:
            word = ocr_corrupt(word, rng, char_p=0.3)
        parts.append(word)
        size += len(word) + 1
        if rng.random() < 0.05:
            parts.append("\n")
    return normalize_text(" ".join(parts))


def wet_records(seed: int, n_docs: int = TOKEN_DOCS) -> List[dict]:
    """``wet_token_dict``: WET-style records (text populated, no html) whose
    words follow a Zipf law over a 5000-word vocabulary with OCR noise on
    one word in ten, so a corpus-sampled dictionary hits sparsely but
    fuzzily rather than on every filler pair."""
    vocab = _wet_vocabulary()
    cum = list(itertools.accumulate(1.0 / (r + 1) ** 1.05
                                    for r in range(len(vocab))))
    lengths = random.Random(seed)
    shape = [math.exp(0.8 * lengths.gauss(0, 1)) for _ in range(n_docs)]
    # log-normal lengths rescaled to a fixed total, so the table's size
    # (and the job's work) does not move with the seed
    scale = 1.35 * TOKEN_MEDIAN_CHARS * n_docs / sum(shape)
    rows = []
    for d in range(n_docs):
        n_chars = min(20_000, max(200, int(shape[d] * scale)))
        text = _wet_text(random.Random(seed * 1_000_003 + d), vocab, cum,
                         n_chars)
        rows.append({"url": f"https://example.org/wet/{d:08d}?s={seed}",
                     "html": None, "text": text})
    return rows


def token_dictionary(texts: List[str], seed: int,
                     n_phrases: int = TOKEN_PHRASES) -> List[str]:
    """Corpus-sampled dictionary: distinct contiguous 2-3 word windows, so
    probes genuinely hit (the shape of scripts/token_phrase_scaling.py)."""
    rng = random.Random(seed)
    words_per_doc = [w for w in (re.findall(r"[A-Za-z]{3,}", t) for t in texts)
                     if len(w) >= 4]
    phrases: List[str] = []
    seen = set()
    for _ in range(n_phrases * 50):
        if len(phrases) == n_phrases:
            break
        words = words_per_doc[rng.randrange(len(words_per_doc))]
        start = rng.randrange(len(words) - 3)
        phrase = " ".join(words[start:start + rng.choice((2, 3))])
        if phrase.lower() not in seen:
            seen.add(phrase.lower())
            phrases.append(phrase)
    return phrases


def boilerplate_html(i: int, text: str, rng: random.Random) -> bytes:
    """Wrap ``text`` in a heavy page template: styles, scripts, a large
    navigation tree, comments, asides, a form and a link-farm footer.  Every
    piece of chrome sits in an element (or comment) the extractor drops
    whole, so ``extract_html(html) == text`` holds by construction."""
    def links(n):
        return "".join(
            f'<li><a href="/{rng.choice(_NAV_WORDS)}/{k}">'
            f"{rng.choice(_NAV_WORDS).title()} {k}</a></li>" for k in range(n))

    # fixed element counts: every page carries the same amount of chrome,
    # so extraction work per page (and per salt partition) is even
    css = "".join(f".c{k} {{ margin: {k}px; color: #{k * 37 % 4096:03x}; }}"
                  for k in range(225))
    js = "".join(f"var t{k} = track('{rng.choice(_NAV_WORDS)}', {k});"
                 for k in range(180))
    paragraphs = []
    for n, line in enumerate(text.split("\n")):
        if n % 3 == 2:
            paragraphs.append(f"<!-- ad slot {i}.{n} -->")
        paragraphs.append(f"<p>{_html.escape(line, quote=False)}</p>")
    page = (
        f"<!DOCTYPE html><html><head><title>Pagina {i}</title>"
        f"<style>{css}</style><script>{js}</script></head><body>"
        f'<nav class="top"><ul>{links(120)}</ul></nav>'
        f"<header><h1>Collectie {i}</h1></header>"
        f'<aside class="related"><ul>{links(20)}</ul></aside>'
        f"<main>{''.join(paragraphs)}</main>"
        f'<form action="/zoeken"><input name="q"><button>Zoek</button></form>'
        f"<footer><ul>{links(180)}</ul></footer>"
        f"<script>{js}</script></body></html>"
    )
    return page.encode("utf-8")


def boilerplate_pages(seed: int, n_docs: int = BOILERPLATE_DOCS) -> List[dict]:
    """``boilerplate_resume``: short texts with sparse phrase hits inside a
    heavy template of fixed size (html is many times the text), no giant
    tail."""
    rows = _bulk_rows(n_docs, seed + 104729, tail_docs_per_1k=0,
                      median_chars=400, sigma=0.5,
                      phrase_rate=0.004)
    rng = random.Random(seed)
    for i, row in enumerate(rows):
        row["html"] = boilerplate_html(i, row["text"], rng)
    return rows


def write_shards(rows: List[dict], path: str, n_files: int,
                 keep_text: bool) -> int:
    """Write ``rows`` as ``n_files`` round-robin parquet shards (the crawl
    shard layout).  ``keep_text=False`` nulls ``text`` so the job must
    extract it.  Returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    total = 0
    for f in range(n_files):
        shard = rows[f::n_files]
        table = pa.table({
            "url": [r["url"] for r in shard],
            "html": [r["html"] for r in shard],
            "text": [r["text"] if keep_text else None for r in shard],
        }, schema=PAGES_SCHEMA)
        target = os.path.join(path, f"part-{f:05d}.parquet")
        pq.write_table(table, target, row_group_size=64)
        total += os.path.getsize(target)
    return total


def corpus_digest(rows: List[dict], extra: List[str] = ()) -> str:
    """sha256 over every row (and any extra strings, e.g. a dictionary)."""
    h = hashlib.sha256()
    for r in rows:
        for key in ("url", "text"):
            h.update((r[key] or "").encode("utf-8") + b"\0")
        h.update((r["html"] or b"") + b"\1")
    for s in extra:
        h.update(s.encode("utf-8") + b"\2")
    return h.hexdigest()


def payload_mb(rows: List[dict], field: str) -> float:
    """Input payload size in MB (1e6 bytes) of ``html`` or ``text``."""
    if field == "html":
        return sum(len(r["html"]) for r in rows) / 1e6
    return sum(len(r["text"].encode("utf-8")) for r in rows) / 1e6


def stats(rows: List[dict]) -> Dict[str, float]:
    return {"docs": len(rows),
            "html_mb": payload_mb(rows, "html") if rows[0]["html"] else 0.0,
            "text_mb": payload_mb(rows, "text")}

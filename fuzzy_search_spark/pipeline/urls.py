"""URL canonicalization and URL-level deduplication.

Common-Crawl-style corpora carry the same page under many surface URLs
(scheme/host case, default ports, trailing slashes, fragments).  URL-level
dedup is the cheapest dedup tier — it needs no text at all — and runs
before any content hash in a production crawl cleanup.

Canonicalization rules (deterministic, documented, mirrored verbatim in
the DuckDB oracle):

1. strip the fragment (``#...``);
2. lowercase the scheme and the host[:port] authority;
3. drop an explicit default port (``:80`` for http, ``:443`` for https);
4. strip trailing slashes from the path — only when there is no query
   string (a ``/`` before ``?`` is significant);
5. URLs without a ``scheme://authority`` prefix fall back to the
   lowercased, fragment-stripped input (totality: never null).

Everything is a JVM-side regex projection — no Python, no shuffle except
the final group-by-canonical-URL hash aggregation, whose key is
md5-uniform in practice (hostnames spread) and whose aggregates are
numeric (min id, count) so Catalyst keeps HashAggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: ^scheme://authority(rest-without-fragment)
_URL_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^#]*)"


def canonical_url(url_col: Column) -> Column:
    """Column expression: the canonical form of a URL column."""
    u = F.regexp_replace(url_col, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, _URL_RE, 1))
    host = F.lower(F.regexp_extract(u, _URL_RE, 2))
    rest = F.regexp_extract(u, _URL_RE, 3)
    host = (F.when(scheme == "http", F.regexp_replace(host, ":80$", ""))
            .when(scheme == "https", F.regexp_replace(host, ":443$", ""))
            .otherwise(host))
    rest = F.when(~rest.contains("?"),
                  F.regexp_replace(rest, "/+$", "")).otherwise(rest)
    return (F.when(host == "", F.lower(u))
            .otherwise(F.concat(scheme, F.lit("://"), host, rest)))


def canonicalize_urls(df: DataFrame, id_col: str = "doc_id",
                      url_col: str = "url") -> DataFrame:
    """(id, url, canonical_url) — the row-level canonicalization pass."""
    return df.select(F.col(id_col), F.col(url_col),
                     canonical_url(F.col(url_col)).alias("canonical_url"))


def url_dup_groups(df: DataFrame, id_col: str = "doc_id",
                   url_col: str = "url", min_pages: int = 2) -> DataFrame:
    """URL-level dedup groups: canonical URLs claimed by >= ``min_pages``
    rows, with the kept (minimum) id and the page count."""
    return (
        df.select(F.col(id_col).alias("_id"),
                  canonical_url(F.col(url_col)).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.min("_id").alias("keep_id"),
             F.count(F.lit(1)).alias("n_pages"))
        .filter(F.col("n_pages") >= min_pages)
    )


def host_page_cap(df: DataFrame, max_pages_per_host: int = 1000,
                  id_col: str = "doc_id",
                  url_col: str = "url") -> DataFrame:
    """Crawl-budget enforcement: keep at most ``max_pages_per_host`` pages
    per host, selected DETERMINISTICALLY by md5(url) rank (unbiased w.r.t.
    crawl order, stable under retries / repartitioning / re-runs, which a
    ``LIMIT``-per-group or ``sample()`` would not be).

    SEO-heavy hosts contribute millions of near-template pages; capping
    per host is the standard pre-dedup volume gate (C4/RefinedWeb keep
    host caps for exactly this).  Returns
    ``(id, url, host, host_rank, kept)`` — callers filter ``kept`` but
    the full ranking is returned so the drop set is auditable.

    Scale shape: one shuffle on host; the per-host window is the point
    (rank IS the semantics).  Mega-hosts make a hot partition — at crawl
    scale pre-aggregate with the two-phase variant: filter hosts with
    count <= cap map-side first (they need no ranking), then window only
    the heavy tail.  That pre-filter is a one-line groupBy join; the
    windowed tail is bounded by #heavy-hosts * cap after AQE skew-split.
    """
    from pyspark.sql import Window

    host = F.lower(F.regexp_extract(F.col(url_col), _URL_RE, 2))
    ranked = df.select(
        F.col(id_col), F.col(url_col), host.alias("host"),
        F.md5(F.col(url_col)).alias("_ord"))
    # id_col breaks ties between duplicate URLs (same URL fetched twice):
    # without it the rank — and therefore WHICH fetch lands under the cap
    # — would be partition-order-dependent across re-runs.
    w = Window.partitionBy("host").orderBy("_ord", url_col, id_col)
    return (ranked
            .withColumn("host_rank", F.row_number().over(w))
            .select(id_col, url_col, "host", "host_rank",
                    (F.col("host_rank") <= max_pages_per_host)
                    .alias("kept")))


def crawl_delta(old_df: DataFrame, new_df: DataFrame,
                url_col: str = "url",
                text_col: str = "text") -> DataFrame:
    """Cross-snapshot crawl diff: classify every url seen in either
    snapshot as ``added`` / ``removed`` / ``changed`` / ``unchanged``
    by md5 content fingerprint — the primitive an incremental pipeline
    runs between two crawls to process only the delta (re-extract
    changed pages, retire removed ones, screen added ones against the
    near-dup corpus).

    One full outer join on url (both sides pre-reduced to (url, digest)
    projections, so the shuffle carries fingerprints, not page bodies).
    Returns ``(url, status, old_md5, new_md5)``."""
    o = old_df.select(F.col(url_col).alias("url"),
                      F.md5(F.col(text_col)).alias("old_md5"))
    n = new_df.select(F.col(url_col).alias("url"),
                      F.md5(F.col(text_col)).alias("new_md5"))
    j = o.join(n, "url", "full_outer")
    status = (F.when(F.col("old_md5").isNull(), F.lit("added"))
              .when(F.col("new_md5").isNull(), F.lit("removed"))
              .when(F.col("old_md5") == F.col("new_md5"),
                    F.lit("unchanged"))
              .otherwise(F.lit("changed")))
    return j.select("url", status.alias("status"), "old_md5", "new_md5")


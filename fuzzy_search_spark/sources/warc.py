"""WARC (Web ARChive) source: stdlib-only writer + parser + Spark reader.

Common Crawl publishes its crawls as WARC/1.0 files — a flat concatenation
of length-prefixed records, each optionally its own gzip member ("member
gzip"), response records wrapping a raw HTTP/1.1 message whose body is the
page payload.  This module turns those bytes into the engine's canonical
``web_pages(url, warc_ts, html, ...)`` table shape:

* ``build_warc_record`` / ``build_warc`` — deterministic WARC/1.0 writer
  (fixture + sink side; gzip members use a fixed mtime so output bytes are
  reproducible across runs and hosts).
* ``iter_warc`` — tolerant streaming parser: sniffs member-gzip, walks
  records by ``Content-Length``, unwraps ``application/http`` response
  payloads, and RESYNCS on a malformed record by scanning for the next
  ``WARC/1.`` magic instead of aborting the file (a 100-TB crawl always
  contains a few truncated records; one bad record must not kill a task).
* ``sniff_charset`` / ``decode_payload`` — charset detection in Common
  Crawl priority order: BOM > HTTP Content-Type charset > <meta> charset,
  falling back to UTF-8 with replacement (total: never raises).
* ``read_warc`` — the distributed reader: a mapInPandas over a
  ``(path, content)`` DataFrame (the exact shape of
  ``spark.read.format("binaryFile")``), one WARC file per row.  At crawl
  scale the WARC file (~1 GB gzipped) IS the natural partition unit: the
  scan parallelizes across files with zero shuffle, and skew is bounded by
  the archive writer's own file-size cap.
* ``synth_warc_files`` — deterministic fixture generator used by tests:
  wraps a ``documents`` table into real WARC bytes so the whole byte path
  (write -> gzip -> parse -> decode) is exercised, while every output field
  stays reconstructable (payload is a fixed HTML template around the
  escaped text).

The reference library has no crawl-ingestion layer (it consumes extracted
text); this source exists for the north rule's Common-Crawl-style input
table and mirrors the WARC/1.0 spec (ISO 28500), not any implementation.
"""

from __future__ import annotations

import codecs
import hashlib
import re
import zlib
from dataclasses import dataclass
from datetime import datetime, timedelta
from typing import Iterable, Iterator, List, Optional, Sequence

from fuzzy_search_spark.spark.worker import drop_zip_importers

_CRLF = b"\r\n"
_WARC_MAGIC = b"WARC/1."
_DATE_FMT = "%Y-%m-%dT%H:%M:%SZ"


@dataclass
class WarcRecord:
    """One parsed WARC record (response payload already unwrapped)."""

    record_type: str
    url: Optional[str]
    date: Optional[datetime]           # naive UTC
    record_id: Optional[str]
    content_type: Optional[str]        # WARC-level Content-Type header
    payload: bytes                     # HTTP body for responses, else block
    http_status: Optional[int] = None
    http_content_type: Optional[str] = None


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------

def build_warc_record(record_type: str, url: str, date: datetime,
                      payload: bytes,
                      http_content_type: str = "text/html; charset=utf-8",
                      http_status: int = 200) -> bytes:
    """Serialize one WARC/1.0 record.  ``response`` records wrap the payload
    in an HTTP/1.1 message (as Common Crawl does); other types store the
    payload as the raw block.  The record id is derived from (url, date) so
    the writer is a pure function."""
    date_s = date.strftime(_DATE_FMT)
    rid = hashlib.md5(f"{url}|{date_s}".encode()).hexdigest()
    rec_id = (f"urn:uuid:{rid[:8]}-{rid[8:12]}-{rid[12:16]}"
              f"-{rid[16:20]}-{rid[20:32]}")
    if record_type == "response":
        http = (f"HTTP/1.1 {http_status} OK\r\n"
                f"Content-Type: {http_content_type}\r\n"
                f"Content-Length: {len(payload)}\r\n\r\n").encode("ascii")
        block = http + payload
        block_ct = "application/http; msgtype=response"
    else:
        block = payload
        block_ct = http_content_type
    head = (f"WARC/1.0\r\n"
            f"WARC-Type: {record_type}\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {date_s}\r\n"
            f"WARC-Record-ID: <{rec_id}>\r\n"
            f"Content-Type: {block_ct}\r\n"
            f"Content-Length: {len(block)}\r\n\r\n").encode("ascii")
    return head + block + _CRLF + _CRLF


def _gzip_member(data: bytes) -> bytes:
    """One deterministic gzip member (fixed header: mtime 0, OS 255)."""
    co = zlib.compressobj(9, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return co.compress(data) + co.flush()


def build_warc(records: Iterable[bytes], gzip_members: bool = True) -> bytes:
    """Concatenate serialized records into one WARC file.  With
    ``gzip_members`` each record is its own gzip member (the Common Crawl
    layout, which lets a reader seek to any record offset independently)."""
    if gzip_members:
        return b"".join(_gzip_member(r) for r in records)
    return b"".join(records)


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------

def _gunzip_members(data: bytes) -> bytes:
    """Inflate a concatenation of gzip members; tolerate a truncated tail."""
    out = bytearray()
    while data:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            out += d.decompress(data)
            out += d.flush()
        except zlib.error:
            break
        if not d.eof:            # truncated final member
            break
        data = d.unused_data
    return bytes(out)


def _parse_headers(block: bytes) -> dict:
    headers: dict = {}
    for line in block.split(_CRLF)[1:]:      # [0] is the version/status line
        if b":" in line:
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode("latin-1")] = \
                v.strip().decode("latin-1")
    return headers


def iter_warc(data: bytes) -> Iterator[WarcRecord]:
    """Yield records from WARC bytes (plain or member-gzip), skipping
    malformed regions by resyncing on the next ``WARC/1.`` magic."""
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_members(data)
    pos = 0
    n = len(data)
    while pos < n:
        start = data.find(_WARC_MAGIC, pos)
        if start < 0:
            return
        head_end = data.find(_CRLF + _CRLF, start)
        if head_end < 0:
            return
        head = data[start:head_end]
        headers = _parse_headers(head)
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            pos = start + len(_WARC_MAGIC)       # resync past bad record
            continue
        body_start = head_end + 4
        block = data[body_start:body_start + length]
        pos = body_start + length
        if len(block) < length:                  # truncated final record
            return
        yield _make_record(headers, block)


def _make_record(headers: dict, block: bytes) -> WarcRecord:
    rtype = headers.get("warc-type", "unknown")
    url = headers.get("warc-target-uri")
    date = None
    raw_date = headers.get("warc-date")
    if raw_date:
        try:
            date = datetime.strptime(raw_date[:20], _DATE_FMT)
        except ValueError:
            date = None
    ct = headers.get("content-type")
    status = None
    http_ct = None
    payload = block
    if ct and ct.lower().startswith("application/http"):
        sep = block.find(_CRLF + _CRLF)
        if sep >= 0:
            http_head = block[:sep]
            payload = block[sep + 4:]
            http_headers = _parse_headers(http_head)
            http_ct = http_headers.get("content-type")
            first = http_head.split(_CRLF, 1)[0].split()
            if len(first) >= 2 and first[1].isdigit():
                status = int(first[1])
    rec_id = headers.get("warc-record-id")
    if rec_id and rec_id.startswith("<") and rec_id.endswith(">"):
        rec_id = rec_id[1:-1]
    return WarcRecord(record_type=rtype, url=url, date=date,
                      record_id=rec_id, content_type=ct, payload=payload,
                      http_status=status, http_content_type=http_ct)


# ---------------------------------------------------------------------------
# charset sniffing
# ---------------------------------------------------------------------------

_CT_CHARSET_RE = re.compile(r"charset\s*=\s*[\"']?([A-Za-z0-9_.:-]+)",
                            re.IGNORECASE)
_META_CHARSET_RE = re.compile(
    rb"<meta[^>]+charset\s*=\s*[\"']?([A-Za-z0-9_.:-]+)", re.IGNORECASE)


def sniff_charset(payload: bytes,
                  http_content_type: Optional[str] = None) -> str:
    """Charset in Common-Crawl priority order: BOM > HTTP header > <meta>
    tag in the first 2 KiB > utf-8.  Returns a codec name Python accepts;
    unknown labels fall back to utf-8."""
    if payload.startswith(codecs.BOM_UTF8):
        return "utf-8-sig"
    if payload.startswith(codecs.BOM_UTF16_LE):
        return "utf-16"
    if payload.startswith(codecs.BOM_UTF16_BE):
        return "utf-16"
    label = None
    if http_content_type:
        m = _CT_CHARSET_RE.search(http_content_type)
        if m:
            label = m.group(1)
    if label is None:
        m = _META_CHARSET_RE.search(payload[:2048])
        if m:
            label = m.group(1).decode("ascii", errors="replace")
    if label:
        try:
            codecs.lookup(label)
            return label.lower()
        except LookupError:
            pass
    return "utf-8"


def decode_payload(payload: bytes,
                   http_content_type: Optional[str] = None) -> str:
    """Total bytes->str decode (never raises): sniffed charset with
    ``errors="replace"``."""
    return payload.decode(sniff_charset(payload, http_content_type),
                          errors="replace")


# ---------------------------------------------------------------------------
# Spark reader + fixture synthesis
# ---------------------------------------------------------------------------

WARC_PAGES_DDL = ("warc_file string, url string, warc_ts timestamp, "
                  "http_status int, content_type string, html binary")

_PAGE_COLUMNS = ["warc_file", "url", "warc_ts", "http_status",
                 "content_type", "html"]


def read_warc(files_df, path_col: str = "path", content_col: str = "content"):
    """Distributed WARC scan: one input row = one WARC file (the shape of
    ``spark.read.format("binaryFile")``), output = one row per *response*
    record.  Pure mapInPandas — no shuffle; parallelism = file count, which
    at crawl scale (~1 GB/file) is exactly the partitioning you want.
    Malformed records are skipped by the parser's resync, so a corrupt
    region costs rows, never tasks."""
    import pandas as pd

    def parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        drop_zip_importers()
        for pdf in batches:
            rows: List[tuple] = []
            for path, blob in zip(pdf[path_col], pdf[content_col]):
                for rec in iter_warc(bytes(blob)):
                    if rec.record_type != "response":
                        continue
                    rows.append((path, rec.url, rec.date, rec.http_status,
                                 rec.http_content_type, rec.payload))
            yield pd.DataFrame(rows, columns=_PAGE_COLUMNS)

    return files_df.select(path_col, content_col).mapInPandas(
        parse, WARC_PAGES_DDL)


_HTML_TEMPLATE = "<html><body><p>%s</p></body></html>"
_EPOCH = datetime(2020, 1, 1)


def _escape(text: str) -> str:
    return (text.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;"))


def synth_warc_files(docs_df, n_files: int = 8, gzip_members: bool = True,
                     id_col: str = "doc_id", text_col: str = "text"):
    """Wrap a documents table into real WARC files, deterministically:
    url = ``https://example.org/<id>``, date = 2020-01-01 + id seconds,
    payload = a fixed HTML template around the escaped text (so a test can
    reconstruct every parsed field).  One applyInPandas
    group per output file — the only shuffle, and fixture-only."""
    import pandas as pd
    from pyspark.sql import functions as F

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col)
        recs = []
        for doc_id, text in zip(pdf[id_col], pdf[text_col]):
            html = (_HTML_TEMPLATE % _escape(text or "")).encode("utf-8")
            recs.append(build_warc_record(
                "response", f"https://example.org/{int(doc_id)}",
                _EPOCH + timedelta(seconds=int(doc_id)), html))
        fid = int(pdf["warc_file"].iloc[0])
        suffix = ".warc.gz" if gzip_members else ".warc"
        return pd.DataFrame({
            "path": [f"part-{fid:05d}{suffix}"],
            "content": [build_warc(recs, gzip_members=gzip_members)],
        })

    tagged = docs_df.select(id_col, text_col).withColumn(
        "warc_file", F.col(id_col) % n_files)
    return tagged.groupBy("warc_file").applyInPandas(
        build, "path string, content binary")


def extract_sniffed(payload) -> str:
    """Charset-sniffing payload->text extractor for the match job
    (``run_extraction_job(..., table_format="warc",
    extractor=extract_sniffed)``): decodes via BOM/meta detection before
    the HTML strip, instead of extract_html's plain UTF-8.  Top-level and
    deterministic, so it ships to executors and composes with the job's
    resume fingerprint."""
    from fuzzy_search_spark.extract import extract_html

    if payload is None:
        return ""
    return extract_html(decode_payload(bytes(payload)))


WET_FILES_DDL = "path string, content binary"


def write_wet(pages_df, n_files: int = 8, gzip_members: bool = True,
              url_col: str = "url", ts_col: str = "warc_ts",
              text_col: str = "text"):
    """WET sink: serialize extracted page text as WARC ``conversion``
    records (the Common Crawl WET layout — one text/plain record per
    page, grouped into member-gzip files).  The output of the extraction
    stage becomes a crawl-native artifact that any WET consumer (or
    :func:`iter_warc` itself) can read back — source and sink speak the
    same byte format, so round-trips are testable.

    One applyInPandas group per output file (file id = md5-uniform hash
    of the url, so file sizes balance regardless of url distribution);
    records within a file are ordered by url for deterministic bytes.
    Returns ``(path, content)`` rows — the caller persists them (e.g.
    ``foreachPartition`` to object storage) or feeds them straight back
    into :func:`read_warc`-style consumers."""
    import pandas as pd
    from pyspark.sql import functions as F

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(url_col)
        recs = []
        for url, ts, text in zip(pdf[url_col], pdf[ts_col], pdf[text_col]):
            ts_py = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") \
                else ts
            recs.append(build_warc_record(
                "conversion", url, ts_py, (text or "").encode("utf-8"),
                http_content_type="text/plain"))
        fid = int(pdf["_wet_file"].iloc[0])
        suffix = ".warc.wet.gz" if gzip_members else ".warc.wet"
        return pd.DataFrame({
            "path": [f"part-{fid:05d}{suffix}"],
            "content": [build_warc(recs, gzip_members=gzip_members)],
        })

    tagged = pages_df.select(url_col, ts_col, text_col).withColumn(
        "_wet_file",
        F.pmod(F.conv(F.substring(F.md5(F.col(url_col)), 1, 15), 16, 10)
               .cast("long"), F.lit(n_files)))
    return tagged.groupBy("_wet_file").applyInPandas(build, WET_FILES_DDL)


def read_wet(files_df, path_col: str = "path", content_col: str = "content"):
    """Distributed WET scan: one row per ``conversion`` record, text
    decoded as UTF-8.  Same shuffle-free shape as :func:`read_warc`."""
    import pandas as pd

    def parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        drop_zip_importers()
        for pdf in batches:
            rows: List[tuple] = []
            for path, blob in zip(pdf[path_col], pdf[content_col]):
                for rec in iter_warc(bytes(blob)):
                    if rec.record_type != "conversion":
                        continue
                    rows.append((path, rec.url, rec.date,
                                 rec.payload.decode("utf-8",
                                                    errors="replace")))
            yield pd.DataFrame(rows, columns=["wet_file", "url",
                                              "warc_ts", "text"])

    return files_df.select(path_col, content_col).mapInPandas(
        parse, "wet_file string, url string, warc_ts timestamp, "
               "text string")

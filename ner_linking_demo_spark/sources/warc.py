"""WARC source: Common-Crawl-style archives -> the input_hint pages
shape (url, warc_ts, html, text, lang).

Parallelism model is the one the Common Crawl ecosystem actually uses
(cf. the public sparkcc pattern): ONE ARCHIVE FILE = one unit of work.
A crawl ships tens of thousands of ~1 GB WARC files, so file-grain
parallelism saturates any cluster while each task streams through its
file sequentially — no record-boundary splitting problem, no shuffle at
all: scan -> mapInPandas -> downstream.

Format handling (WARC/1.0, ISO 28500 — a public standard):
- records are ``WARC/1.0\\r\\n`` header blocks terminated by a blank
  line, a payload of exactly ``Content-Length`` bytes, then
  ``\\r\\n\\r\\n``;
- ``response`` records carry an HTTP envelope before the body — split at
  the first ``\\r\\n\\r\\n``; ``resource``/``conversion`` records (WET)
  carry the body directly;
- gzip members are detected by magic bytes and decompressed in-task
  (Common Crawl gzips per-record so ranges are seekable; decompressing
  the whole member stream is equivalent for full-file reads).

The parser streams: records are read header-by-header from a (possibly
gzip-wrapped) file object and yielded in bounded chunks, so a task holds
the compressed archive bytes (inherent to the binaryFile source) plus
O(chunk) parsed records — never the whole decompressed archive or a
full record list.
"""

from __future__ import annotations

import gzip
import io
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

_PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary"
)


def _stream_records(f) -> Iterator[dict]:
    """Yield {'headers': dict, 'payload': bytes} per WARC record, reading
    the stream incrementally — state per record is the record itself."""
    while True:
        # seek the next record header line
        line = f.readline()
        while line and not line.startswith(b"WARC/"):
            line = f.readline()
        if not line:
            return
        headers: dict[str, str] = {}
        while True:
            line = f.readline()
            if not line or line in (b"\r\n", b"\n"):
                break
            k, _, v = line.partition(b":")
            headers[k.strip().decode("ascii", "replace").lower()] = (
                v.strip().decode("utf-8", "replace")
            )
        length = int(headers.get("content-length", 0))
        payload = f.read(length)
        if payload is None or len(payload) < length:
            return  # truncated archive tail
        yield {"headers": headers, "payload": payload}


def _http_body(payload: bytes) -> bytes:
    """response records: strip the HTTP envelope (status + headers)."""
    if payload.startswith(b"HTTP/"):
        sep = payload.find(b"\r\n\r\n")
        if sep >= 0:
            return payload[sep + 4:]
    return payload


def parse_warc_bytes(
    data: bytes, record_types: tuple[str, ...]
) -> Iterator[tuple[str, pd.Timestamp, bytes]]:
    """(url, warc_ts, html) triples from one archive's bytes (gzip or
    plain), decompressing as a STREAM — the decompressed archive is
    never materialized whole."""
    if data[:2] == b"\x1f\x8b":
        # multi-member gzip: GzipFile reads every member in sequence
        f = gzip.GzipFile(fileobj=io.BytesIO(data))
    else:
        f = io.BytesIO(data)
    for rec in _stream_records(f):
        h = rec["headers"]
        if h.get("warc-type") not in record_types:
            continue
        url = h.get("warc-target-uri")
        if not url:
            continue
        ts = pd.to_datetime(h.get("warc-date"), utc=True, errors="coerce")
        body = (
            _http_body(rec["payload"])
            if h.get("warc-type") == "response"
            else rec["payload"]
        )
        yield url, None if ts is pd.NaT else ts.tz_convert(None), body


def read_warc(
    spark: SparkSession,
    path: str,
    record_types: tuple[str, ...] = ("response", "resource", "conversion"),
) -> DataFrame:
    """WARC archive dir/glob -> DataFrame(url, warc_ts, html binary).

    binaryFile scan (one row per archive) -> iterator mapInPandas; the
    64 MB whole-file rows never pass through a shuffle."""
    files = spark.read.format("binaryFile").load(path)

    CHUNK = 256  # records per yielded Arrow batch — bounds task memory

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                buf: list = []
                for rec in parse_warc_bytes(row["content"], record_types):
                    buf.append(rec)
                    if len(buf) >= CHUNK:
                        yield pd.DataFrame(
                            buf, columns=["url", "warc_ts", "html"]
                        )
                        buf = []
                if buf:
                    yield pd.DataFrame(
                        buf, columns=["url", "warc_ts", "html"]
                    )

    return files.select("content").mapInPandas(parse, schema=_PAGES_SCHEMA)


def pages_from_warc(
    spark: SparkSession,
    path: str,
    record_types: tuple[str, ...] = ("response", "resource", "conversion"),
) -> DataFrame:
    """Full input_hint shape: read_warc + native byte-exact text
    extraction + n-gram language id — all inside one scan stage."""
    from pyspark.sql import functions as F

    from ..functions import text_analysis as TA
    from ..functions.html_extract import extract_text_expr

    pages = read_warc(spark, path, record_types)
    pages = pages.withColumn("text", extract_text_expr("html"))
    # rows whose bytes the extractor rejects (text NULL) are dropped HERE,
    # at the boundary — NULL text must never reach the NER/linking UDFs
    pages = pages.filter(F.col("text").isNotNull())
    return TA.add_profile_columns(pages, lang="lang").select(
        "url", "warc_ts", "html", "text", "lang"
    )


def write_warc_fixture(
    pages_pdf: pd.DataFrame,
    path: str,
    compress: bool = False,
    member_gzip: bool = False,
    record_type: str = "resource",
) -> None:
    """Deterministic WARC/1.0 writer for tests/benchmarks: one record
    per page row (url, warc_ts, html). Driver-side, fixture-sized by
    design.

    ``member_gzip=True`` gzips EACH RECORD as its own gzip member and
    concatenates them — the layout Common Crawl actually ships (so byte
    ranges are seekable per record); ``compress=True`` gzips the whole
    stream as one member. ``record_type='response'`` wraps each body in
    an HTTP/1.1 envelope (status line + headers + blank line), the shape
    of a real crawl capture."""
    members: list[bytes] = []
    for _, r in pages_pdf.iterrows():
        body: bytes = bytes(r["html"])
        if record_type == "response":
            body = (
                b"HTTP/1.1 200 OK\r\n"
                b"Content-Type: text/html; charset=utf-8\r\n"
                + f"Content-Length: {len(body)}\r\n\r\n".encode()
                + body
            )
        ts = pd.Timestamp(r["warc_ts"])
        header = (
            "WARC/1.0\r\n"
            f"WARC-Type: {record_type}\r\n"
            f"WARC-Target-URI: {r['url']}\r\n"
            f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n"
            f"Content-Length: {len(body)}\r\n"
            "\r\n"
        ).encode("utf-8")
        members.append(header + body + b"\r\n\r\n")
    if member_gzip:
        # mtime=0: byte-deterministic fixture across runs
        data = b"".join(
            gzip.compress(m, mtime=0) for m in members
        )
    else:
        data = b"".join(members)
        if compress:
            data = gzip.compress(data, mtime=0)
    with open(path, "wb") as f:
        f.write(data)

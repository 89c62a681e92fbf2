"""WARC ingestion: Common-Crawl's native archive format -> pages rows.

The engine's input contract is a table of ``(url, warc_ts, html, text,
lang)``; this source produces it straight from WARC files so a user can
point the pipeline at a crawl segment without a separate ETL.  Shape:

* one WARC file = one task (``binaryFile`` whole-file reads inside
  ``mapInPandas``) — exactly how CC segments are sized to be processed
  (~1 GB gzip members per file); parallelism = number of files, the
  standard CC processing grain;
* the parser is stdlib-only: WARC/1.0 headers, ``WARC-Type: response``
  records, HTTP header/body split, and per-record gzip members
  (Common Crawl gzips each record as its own member — a plain
  ``gzip.decompress`` reads only the first, so we loop a decompressobj).

Reference parity note: the reference service receives html in request
payloads (agent/server.py) — WARC is the corpus-scale equivalent of that
ingress, per the north rule's Common-Crawl-style input table.
"""

from __future__ import annotations

import datetime as dt
import gzip
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

PAGES_OUT_SCHEMA = "url string, warc_ts timestamp, html binary, lang string"


def gunzip_members(data: bytes) -> bytes:
    """Decompress ALL gzip members of a multi-member stream (CC gzips each
    record separately; gzip.decompress stops after the first member).

    Robustness matches the parser's skip-not-fatal contract: a corrupt
    member or trailing non-gzip garbage ends the loop with the bytes
    decoded so far instead of raising out of the whole-file task (one bad
    record in a ~1 GB CC segment must not kill the task)."""
    if not data.startswith(b"\x1f\x8b"):
        return data
    out = bytearray()
    while data.startswith(b"\x1f\x8b"):
        d = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS)
        try:
            out += d.decompress(data)
            out += d.flush()
        except zlib.error:
            break  # corrupt member: keep everything decoded so far
        data = d.unused_data
    return bytes(out)


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n"):
        if b":" in line:
            k, _, v = line.partition(b":")
            headers[k.strip().decode("latin-1").lower()] = (
                v.strip().decode("latin-1")
            )
    return headers


def parse_warc_bytes(data: bytes) -> list[dict]:
    """Minimal WARC/1.0 reader: yields one dict per ``response`` record
    with url, warc_ts (parsed WARC-Date) and the HTTP body as html bytes.
    Malformed records are skipped, not fatal (a crawl segment always has
    some)."""
    data = gunzip_members(data)
    out: list[dict] = []
    pos = 0
    n = len(data)
    while pos < n:
        start = data.find(b"WARC/", pos)
        if start < 0:
            break
        head_end = data.find(b"\r\n\r\n", start)
        if head_end < 0:
            break
        headers = _parse_headers(data[start:head_end])
        try:
            length = int(headers.get("content-length", "0"))
        except ValueError:
            length = 0
        block_start = head_end + 4
        block = data[block_start : block_start + length]
        pos = block_start + length
        if headers.get("warc-type", "").lower() != "response":
            continue
        url = headers.get("warc-target-uri")
        if not url:
            continue
        ts = None
        raw_ts = headers.get("warc-date", "")
        try:
            ts = dt.datetime.strptime(raw_ts, "%Y-%m-%dT%H:%M:%SZ").replace(
                tzinfo=dt.timezone.utc
            )
        except ValueError:
            pass
        # the block is an HTTP response: headers, blank line, body
        http_split = block.find(b"\r\n\r\n")
        body = block[http_split + 4 :] if http_split >= 0 else block
        out.append({"url": url, "warc_ts": ts, "html": bytes(body)})
    return out


def read_warc(spark: SparkSession, path_glob: str,
              lang: str = "en") -> DataFrame:
    """WARC files -> pages rows.  One file per task (binaryFile); the
    output feeds ``build_fused`` and ``build_pipeline_df`` unchanged."""
    files = spark.read.format("binaryFile").load(path_glob).select(
        "path", "content"
    )

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                for rec in parse_warc_bytes(bytes(content)):
                    rec["lang"] = lang
                    rows.append(rec)
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "lang"]
            )

    return files.mapInPandas(_parse, PAGES_OUT_SCHEMA)


def write_warc(pages_rows: list[dict], path: str,
               gzip_members: bool = True) -> None:
    """Write pages rows as a WARC/1.0 file (test fixture + export utility);
    ``gzip_members=True`` emits the CC-style one-gzip-member-per-record
    layout."""
    chunks: list[bytes] = []
    for r in pages_rows:
        body = r["html"] or b""
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
        ts = r.get("warc_ts")
        ts_s = (ts or dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)).strftime(
            "%Y-%m-%dT%H:%M:%SZ"
        )
        head = (
            f"WARC/1.0\r\n"
            f"WARC-Type: response\r\n"
            f"WARC-Target-URI: {r['url']}\r\n"
            f"WARC-Date: {ts_s}\r\n"
            f"Content-Length: {len(http)}\r\n"
            f"\r\n"
        ).encode("latin-1")
        rec = head + http + b"\r\n\r\n"
        chunks.append(gzip.compress(rec) if gzip_members else rec)
    with open(path, "wb") as fh:
        fh.write(b"".join(chunks))

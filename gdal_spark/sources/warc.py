"""WARC driver — the Common-Crawl web-archive container (ISO 28500 /
WARC 1.1, public spec; the CC convention of one gzip MEMBER per record).

The north star's corpus is "Common-Crawl-style web pages"; this driver
makes the engine ingest the format those pages actually arrive in:

* A ``.warc.gz`` shard is a concatenation of independently-gzipped
  records (that per-member framing is what makes CC archives seekable /
  splittable at record granularity — readers resynchronize on member
  boundaries without decompressing the whole file).
* Record = ``WARC/1.1`` version line + CRLF header block
  (WARC-Type / WARC-Record-ID / WARC-Date / WARC-Target-URI /
  Content-Type / Content-Length) + CRLF CRLF + Content-Length payload
  bytes + CRLF CRLF.
* ``response`` payloads are HTTP/1.1 messages; the html body starts
  after the HTTP header block's first CRLF CRLF.

Spark mapping: the document kernel (``sources/_docio.py``) — one
shard per shard of the doc id on write, one decode per shard on read
(``zlib.decompressobj`` member walk — the payload html stays BYTES
end-to-end so the extraction contract's byte-identical invariant is
testable through the container).
"""

from __future__ import annotations

import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _docio as DIO

_CRLF = b"\r\n"


def warc_record(uri: str, payload: bytes, rec_id: str,
                date: str = "2026-01-01T00:00:00Z") -> bytes:
    """One WARC 1.1 response record (uncompressed framing)."""
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        + b"Content-Length: " + str(len(payload)).encode() + b"\r\n\r\n"
        + payload
    )
    head = (
        b"WARC/1.1\r\n"
        b"WARC-Type: response\r\n"
        + b"WARC-Record-ID: <urn:uuid:" + rec_id.encode() + b">\r\n"
        + b"WARC-Date: " + date.encode() + b"\r\n"
        + b"WARC-Target-URI: " + uri.encode() + b"\r\n"
        + b"Content-Type: application/http; msgtype=response\r\n"
        + b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
    )
    return head + http + _CRLF + _CRLF


def gzip_member(raw: bytes) -> bytes:
    """One standalone gzip member (deterministic: no mtime/filename)."""
    co = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return co.compress(raw) + co.flush()


def split_members(buf: bytes) -> Iterator[bytes]:
    """Walk a concatenated-gzip-member stream, yielding each member's
    decompressed bytes (the CC .warc.gz resynchronization contract)."""
    pos = 0
    while pos < len(buf):
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        out = d.decompress(buf[pos:])
        yield out + d.flush()
        consumed = len(buf) - pos - len(d.unused_data)
        if consumed <= 0:
            raise ValueError("gzip member made no progress")
        pos += consumed


def parse_record(raw: bytes) -> tuple[dict[str, str], bytes]:
    """→ (warc headers, payload bytes).  Content-Length is authoritative
    for the payload extent (spec §4); the version line is validated."""
    head_end = raw.index(b"\r\n\r\n")
    lines = raw[:head_end].split(_CRLF)
    if not lines[0].startswith(b"WARC/1."):
        raise ValueError("not a WARC record")
    headers: dict[str, str] = {}
    for ln in lines[1:]:
        k, _, v = ln.partition(b":")
        headers[k.decode().strip()] = v.decode().strip()
    n = int(headers["Content-Length"])
    payload = raw[head_end + 4:head_end + 4 + n]
    return headers, payload


def http_body(payload: bytes) -> bytes:
    """Body of an HTTP response payload (after its header block)."""
    return payload[payload.index(b"\r\n\r\n") + 4:]


def write_warc_shards(
    docs: DataFrame,
    directory: str,
    num_files: int,
    id_col: str = "doc_id",
    html_col: str = "html",
) -> int:
    """Distributed .warc.gz sink: one shard per shard of the doc id, one
    gzip member per record (CC layout).  Returns shards written."""

    def encode(part, pdf):
        pdf = pdf.sort_values(id_col)
        return {f"part-{part:05d}.warc.gz": b"".join(
            gzip_member(warc_record(
                f"https://example.com/doc/{int(did)}", bytes(html),
                rec_id=f"00000000-0000-0000-0000-{int(did):012d}"))
            for did, html in zip(pdf[id_col], pdf[html_col]))}

    return DIO.write_files(docs.select(id_col, html_col), directory,
                           DIO.hash_key(id_col, num_files), encode)


def read_warc_shards(spark: SparkSession, directory: str) -> DataFrame:
    """Distributed .warc.gz scan → (doc_id, uri, html binary): one decode
    per shard, gzip members walked executor-side, html body kept as raw
    BYTES (the byte-identical extraction contract rides on this)."""

    def decode(path, buf):
        ids, uris, htmls = [], [], []
        for raw in split_members(buf):
            headers, payload = parse_record(raw)
            uri = headers["WARC-Target-URI"]
            ids.append(int(uri.rsplit("/", 1)[1]))
            uris.append(uri)
            htmls.append(http_body(payload))
        return pd.DataFrame({"doc_id": np.asarray(ids, dtype=np.int64),
                             "uri": uris, "html": htmls})

    return DIO.read_files(spark, f"{directory}/*.warc.gz", decode,
                          "doc_id long, uri string, html binary")

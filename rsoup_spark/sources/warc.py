"""WARC ingest: read Common-Crawl-style web archives into DataFrames.

WARC (ISO 28500) is the interchange format every large crawl publishes
(Common Crawl, Internet Archive): a sequence of records, each a small
header block plus a captured HTTP message, with each record gzipped as
its own member so readers can split archives at member boundaries.
Both layers are stdlib here -- gzip/zlib for the members, plain header
parsing for the rest -- so ingest needs no codec libraries.

Scale shape: archives land via Spark's ``binaryFile`` source (one
split per .warc.gz -- Common Crawl shards archives at ~1 GB exactly so
file-level parallelism is enough), and parsing runs in Arrow-batched
``mapInPandas``.  No driver-side I/O, no per-row Python UDFs.

The writer is a fixture/test helper (spec-valid WARC/1.0, per-record
gzip members, same layout Common Crawl uses).

Reference semantics: ISO 28500 / WARC 1.1 spec + Common Crawl layout;
no reference-repo counterpart (rsoup has no archive sources).
"""

from __future__ import annotations

import gzip
import hashlib
import io
import zlib
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

WARC_RECORD_SCHEMA = StructType(
    [
        StructField("src", StringType(), False),
        StructField("record_idx", IntegerType(), False),
        StructField("warc_type", StringType(), False),
        StructField("url", StringType(), True),
        StructField("warc_date", StringType(), True),
        StructField("http_status", IntegerType(), True),
        StructField("mime", StringType(), True),
        StructField("charset", StringType(), True),
        StructField("body", BinaryType(), True),
    ]
)


# -- writer (fixture/test helper) ------------------------------------------

def write_warc(records: list[dict], per_record_gzip: bool = True) -> bytes:
    """Records -> WARC/1.0 bytes.  Each record dict: ``warc_type``
    (default 'response'), ``url``, ``date`` (ISO-8601 'Z'), ``payload``
    bytes, and for responses ``http_status``/``http_headers``.  With
    ``per_record_gzip`` each record is its own gzip member (the Common
    Crawl layout); otherwise the output is plain concatenated WARC."""
    out = bytearray()
    for rec in records:
        wtype = rec.get("warc_type", "response")
        payload = rec.get("payload", b"")
        if wtype == "response":
            status = rec.get("http_status", 200)
            lines = [f"HTTP/1.1 {status} OK"]
            headers = dict(rec.get("http_headers", {}))
            headers.setdefault("Content-Type", "text/html")
            headers["Content-Length"] = str(len(payload))
            lines += [f"{k}: {v}" for k, v in headers.items()]
            block = ("\r\n".join(lines) + "\r\n\r\n").encode() + payload
            ctype = "application/http; msgtype=response"
        else:
            block = payload
            ctype = rec.get("content_type", "application/octet-stream")
        rid = hashlib.md5(block).hexdigest()
        head = (
            "WARC/1.0\r\n"
            f"WARC-Type: {wtype}\r\n"
            f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
            f"WARC-Date: {rec.get('date', '2026-01-01T00:00:00Z')}\r\n"
        )
        if rec.get("url"):
            head += f"WARC-Target-URI: {rec['url']}\r\n"
        head += (
            f"Content-Type: {ctype}\r\n"
            f"Content-Length: {len(block)}\r\n\r\n"
        )
        raw = head.encode() + block + b"\r\n\r\n"
        if per_record_gzip:
            buf = io.BytesIO()
            # mtime pinned so fixture bytes are deterministic
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(raw)
            out += buf.getvalue()
        else:
            out += raw
    return bytes(out)


# -- parser ------------------------------------------------------------------

def _split_http(
    block: bytes,
) -> tuple[int | None, str | None, str | None, bytes]:
    """HTTP message bytes -> (status, content-type, charset, body)."""
    sep = block.find(b"\r\n\r\n")
    if sep < 0 or not block[:5] in (b"HTTP/",):
        return None, None, None, block
    head = block[:sep].decode("latin-1").split("\r\n")
    try:
        status = int(head[0].split(" ", 2)[1])
    except (IndexError, ValueError):
        return None, None, None, block
    mime = charset = None
    for line in head[1:]:
        k, _, v = line.partition(":")
        if k.strip().lower() == "content-type":
            parts = v.strip().split(";")
            mime = parts[0].strip() or None
            for p in parts[1:]:
                pk, _, pv = p.partition("=")
                if pk.strip().lower() == "charset":
                    charset = pv.strip().strip("\"'").lower() or None
            break
    return status, mime, charset, block[sep + 4:]


def parse_warc(data: bytes) -> list[dict]:
    """WARC bytes (gzipped -- multi-member handled -- or plain) ->
    list of record dicts (warc_type, url, warc_date, http_status,
    mime, body).  Raises ValueError on malformed archives so callers
    get one quarantine-able error class."""
    if data[:2] == b"\x1f\x8b":
        try:
            data = gzip.decompress(data)  # loops over members
        except (OSError, EOFError, zlib.error) as e:
            # zlib.error (corrupt deflate stream) is neither OSError
            # nor EOFError -- without it here, one flipped byte in an
            # archive would escape the quarantine and fail the job
            raise ValueError(f"bad WARC gzip: {e}") from e
    records = []
    pos = 0
    n = len(data)
    while pos < n:
        if data[pos:pos + 5] != b"WARC/":
            raise ValueError(f"expected WARC version at offset {pos}")
        hdr_end = data.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            raise ValueError("truncated WARC header")
        headers: dict[str, str] = {}
        for line in data[pos:hdr_end].decode("latin-1").split("\r\n")[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError) as e:
            raise ValueError("WARC record missing Content-Length") from e
        body_start = hdr_end + 4
        if body_start + clen > n:
            raise ValueError("truncated WARC record body")
        block = data[body_start:body_start + clen]
        wtype = headers.get("warc-type", "")
        status = mime = charset = None
        body = block
        if "msgtype=response" in headers.get("content-type", ""):
            status, mime, charset, body = _split_http(block)
        records.append(
            {
                "warc_type": wtype,
                "url": headers.get("warc-target-uri"),
                "warc_date": headers.get("warc-date"),
                "http_status": status,
                "mime": mime,
                "charset": charset,
                "body": body,
            }
        )
        pos = body_start + clen
        # skip the two CRLF record separators (tolerate their absence
        # at end-of-archive)
        while data[pos:pos + 2] == b"\r\n":
            pos += 2
    return records


# -- Spark surface -----------------------------------------------------------

def warc_records(archives: DataFrame, src_col: str = "src",
                 data_col: str = "data") -> DataFrame:
    """(src, data binary) archive blobs -> one row per WARC record
    (WARC_RECORD_SCHEMA).  Arrow-batched mapInPandas: each archive
    parses where its bytes already are; malformed archives are dropped
    (quarantine-sink semantics), never fatal."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        cols = [f.name for f in WARC_RECORD_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for src, blob in zip(pdf[src_col], pdf[data_col]):
                try:
                    recs = parse_warc(bytes(blob))
                except ValueError:
                    continue
                for i, r in enumerate(recs):
                    rows.append(
                        {
                            "src": src,
                            "record_idx": i,
                            "warc_type": r["warc_type"],
                            "url": r["url"],
                            "warc_date": r["warc_date"],
                            "http_status": r["http_status"],
                            "mime": r["mime"],
                            "charset": r["charset"],
                            "body": r["body"],
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    return archives.select(
        archives[src_col].alias(src_col), archives[data_col]
    ).mapInPandas(run, WARC_RECORD_SCHEMA)

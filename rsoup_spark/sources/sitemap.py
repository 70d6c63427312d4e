"""Sitemap ingest: sitemaps.org XML -> frontier-seed DataFrames.

Sitemaps are how sites advertise their URL inventory to crawlers
(sitemaps.org protocol, referenced from robots.txt ``Sitemap:``
lines): a ``<urlset>`` of ``<url>`` entries (loc + optional lastmod /
changefreq / priority), or a ``<sitemapindex>`` pointing at child
sitemaps.  Files are commonly served gzipped (.xml.gz); both layers
are stdlib here (gzip + xml.etree).

Scale shape: sitemap files land via Spark's ``binaryFile`` source
(the protocol caps one file at 50k URLs / 50 MB, so file-level splits
are the natural parallelism — a 1B-URL site is >= 20k files behind an
index), and parsing runs in Arrow-batched ``mapInPandas`` where the
bytes already live.  Seed extraction (canonicalize + distinct) is a
single shuffle on the URL key, the same key the frontier partitions
by.  No driver-side I/O, no per-row Python UDFs.

The writer is a fixture/test helper (spec-valid urlset/sitemapindex,
deterministic bytes).

Reference semantics: sitemaps.org protocol 0.9; no reference-repo
counterpart (rsoup has no crawl sources).
"""

from __future__ import annotations

import gzip
import io
import zlib
from typing import Iterator
from xml.etree import ElementTree

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

SITEMAP_ENTRY_SCHEMA = StructType(
    [
        StructField("src", StringType(), False),
        StructField("entry_idx", IntegerType(), False),
        # 'url' (urlset entry) or 'sitemap' (sitemapindex entry)
        StructField("kind", StringType(), False),
        StructField("loc", StringType(), False),
        StructField("lastmod", StringType(), True),
        StructField("changefreq", StringType(), True),
        StructField("priority", DoubleType(), True),
    ]
)

_CHANGEFREQS = {
    "always", "hourly", "daily", "weekly", "monthly", "yearly", "never",
}


# -- writer (fixture/test helper) ------------------------------------------

def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def write_sitemap(entries: list[dict], index: bool = False,
                  gzipped: bool = False) -> bytes:
    """Entries -> sitemaps.org XML bytes.  Each entry dict: ``loc``
    (required) plus optional ``lastmod`` / ``changefreq`` / ``priority``
    (urlset only).  ``index=True`` emits a <sitemapindex> (loc +
    lastmod only, per spec).  Deterministic output (fixed header, no
    timestamps)."""
    root = "sitemapindex" if index else "urlset"
    item = "sitemap" if index else "url"
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>\n',
        f'<{root} xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n',
    ]
    for e in entries:
        parts.append(f"  <{item}>\n")
        parts.append(f"    <loc>{_xml_escape(e['loc'])}</loc>\n")
        if e.get("lastmod") is not None:
            parts.append(f"    <lastmod>{e['lastmod']}</lastmod>\n")
        if not index:
            if e.get("changefreq") is not None:
                parts.append(
                    f"    <changefreq>{e['changefreq']}</changefreq>\n")
            if e.get("priority") is not None:
                parts.append(
                    f"    <priority>{e['priority']}</priority>\n")
        parts.append(f"  </{item}>\n")
    parts.append(f"</{root}>\n")
    raw = "".join(parts).encode("utf-8")
    if gzipped:
        buf = io.BytesIO()
        # mtime pinned so fixture bytes are deterministic
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
            gz.write(raw)
        return buf.getvalue()
    return raw


# -- parser ------------------------------------------------------------------

def _local(tag: str) -> str:
    """'{ns}loc' -> 'loc' (namespace-agnostic: real-world sitemaps mix
    the 0.9 namespace, no namespace, and google extensions)."""
    return tag.rpartition("}")[2].lower()


def parse_sitemap(data: bytes) -> list[dict]:
    """Sitemap bytes (gzipped or plain XML) -> list of entry dicts
    (kind, loc, lastmod, changefreq, priority).  Per-spec lenient on
    entry contents (entries without a <loc> are skipped, junk
    changefreq/priority null out) but raises ValueError on malformed
    XML / gzip so callers get one quarantine-able error class."""
    if data[:2] == b"\x1f\x8b":
        try:
            data = gzip.decompress(data)
        except (OSError, EOFError, zlib.error) as e:
            # zlib.error (corrupt deflate stream) is neither OSError
            # nor EOFError -- without it here, one flipped byte in a
            # sitemap would escape the quarantine and fail the job
            raise ValueError(f"bad sitemap gzip: {e}") from e
    # ElementTree expands internal DTD entities, so a hostile 1 KB
    # "billion laughs" sitemap could OOM the executor.  No legitimate
    # sitemap carries a DTD -- reject before parsing.
    if b"<!DOCTYPE" in data or b"<!ENTITY" in data:
        raise ValueError("sitemap with DTD/entity declarations rejected")
    try:
        root = ElementTree.fromstring(data)
    except ElementTree.ParseError as e:
        raise ValueError(f"bad sitemap xml: {e}") from e
    rname = _local(root.tag)
    if rname == "urlset":
        kind, item = "url", "url"
    elif rname == "sitemapindex":
        kind, item = "sitemap", "sitemap"
    else:
        raise ValueError(f"not a sitemap root: {rname!r}")
    entries = []
    for el in root:
        if _local(el.tag) != item:
            continue
        fields: dict[str, str] = {}
        for child in el:
            fields[_local(child.tag)] = (child.text or "").strip()
        loc = fields.get("loc")
        if not loc:
            continue  # spec: loc is required; skip, don't fail the file
        cf = fields.get("changefreq", "").lower() or None
        if cf is not None and cf not in _CHANGEFREQS:
            cf = None
        prio: float | None = None
        if "priority" in fields:
            try:
                prio = float(fields["priority"])
            except ValueError:
                prio = None
            else:
                if not 0.0 <= prio <= 1.0:  # spec range
                    prio = None
        entries.append(
            {
                "kind": kind,
                "loc": loc,
                "lastmod": fields.get("lastmod") or None,
                "changefreq": cf,
                "priority": prio,
            }
        )
    return entries


# -- Spark surface -----------------------------------------------------------

def sitemap_entries(files: DataFrame, src_col: str = "src",
                    data_col: str = "data") -> DataFrame:
    """(src, data binary) sitemap blobs -> one row per entry
    (SITEMAP_ENTRY_SCHEMA).  Arrow-batched mapInPandas: each file
    parses where its bytes already are; malformed files are dropped
    (quarantine-sink semantics), never fatal."""
    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        cols = [f.name for f in SITEMAP_ENTRY_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for src, blob in zip(pdf[src_col], pdf[data_col]):
                try:
                    ents = parse_sitemap(bytes(blob))
                except ValueError:
                    continue
                for i, e in enumerate(ents):
                    rows.append({"src": src, "entry_idx": i, **e})
            yield pd.DataFrame(rows, columns=cols)

    return files.select(
        files[src_col].alias(src_col), files[data_col]
    ).mapInPandas(run, SITEMAP_ENTRY_SCHEMA)


def sitemap_seeds(entries: DataFrame) -> DataFrame:
    """Entry rows -> distinct canonical frontier seeds: urlset entries
    only, URL canonicalized with the crawl normalizer (so the seed key
    equals the frontier/seen-set key), best (max) priority kept per
    URL.  One shuffle, on the same URL key the frontier partitions by."""

    @F.pandas_udf(StringType())
    def canon(loc: pd.Series) -> pd.Series:
        from rsoup_spark.functions.urlnorm import canonicalize_url

        return pd.Series([canonicalize_url(u) or "" for u in loc])

    return (
        entries.filter(F.col("kind") == "url")
        .select(canon("loc").alias("url"), "priority")
        .filter(F.col("url") != "")
        .groupBy("url")
        .agg(F.max("priority").alias("priority"))
    )

"""Spark-facing extraction operators.

All heavy lifting (HTML parse, whitespace algebra, span trees) runs in
Arrow-batched Python workers via ``mapInPandas`` -- one parse per
document, many documents per batch, zero per-row Python UDF calls
(input_hint: "vectorized pandas/Arrow UDFs, no per-row Python").

The relational glue around these operators (explode, filter, joins,
ids) stays JVM-side so Catalyst can prune/push down (SURVEY.md §3.1).
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.context import ContentHierarchy
from ..functions.dom import parse_document
from ..functions.table import Table, TableExtractor
from ..functions.text import (
    DEFAULT_CELL_KEEP_TAGS,
    HEADER_ELEMENTS,
    RichText,
    get_rich_text,
)
from pyspark.sql.types import StringType, StructField, StructType

from .schemas import SPANS_SCHEMA, TABLE_SCHEMA

# tags tracked when producing the interleaved spans column: headers,
# list structure, and media/anchor tags on top of the inline default
SPAN_KEEP_TAGS = frozenset(HEADER_ELEMENTS | DEFAULT_CELL_KEEP_TAGS)
SPAN_DISCARD_TAGS = frozenset({"script", "style", "noscript"})


# -- RichText <-> Spark struct conversion ----------------------------------

def richtext_to_struct(rt: RichText) -> dict:
    """Flatten the span tree to an elements array with parent indices.

    Preorder order is preserved so ``elements[i].parent < i`` for all
    non-root elements; children lists reconstruct by grouping on parent.
    """
    parent = [-1] * len(rt.nodes)
    for pid, kids in enumerate(rt.children):
        for kid in kids:
            parent[kid] = pid
    order = list(rt.iter_preorder())
    remap = {nid: i for i, nid in enumerate(order)}
    elements = []
    for nid in order:
        n = rt.nodes[nid]
        elements.append(
            {
                "tag": n.tag,
                "start": n.start,
                "end": n.end,
                "attrs": dict(n.attrs),
                "parent": remap[parent[nid]] if parent[nid] != -1 else -1,
            }
        )
    return {"text": rt.text, "elements": elements}


def _hierarchy_to_struct(ch: ContentHierarchy) -> dict:
    return {
        "level": ch.level,
        "heading": richtext_to_struct(ch.heading),
        "content_before": [richtext_to_struct(r) for r in ch.content_before],
        "content_after": [richtext_to_struct(r) for r in ch.content_after],
    }


def table_to_struct(tbl: Table) -> dict:
    nrows, ncols = tbl.shape()
    return {
        "id": tbl.id,
        "url": tbl.url,
        "caption": tbl.caption,
        "attrs": dict(tbl.attrs),
        "context": [_hierarchy_to_struct(c) for c in tbl.context],
        "rows": [
            {
                "cells": [
                    {
                        "is_header": c.is_header,
                        "rowspan": c.rowspan,
                        "colspan": c.colspan,
                        "attrs": dict(c.attrs),
                        "value": richtext_to_struct(c.value),
                    }
                    for c in row.cells
                ],
                "attrs": dict(row.attrs),
            }
            for row in tbl.rows
        ],
        "n_rows": nrows,
        "n_cols": ncols,
    }


# -- spans: interleaved text + media (input_hint schema) --------------------

def spans_from_html(url: str, html: str) -> list[dict]:
    """Interleaved span sequence of a document.

    Definition: take the rich text of the document (div ignored, headers/
    list/inline tags tracked, script/style/noscript discarded).  Emit, in
    document order: (a) one span per tracked element, preorder (kind =
    tag, text = its text slice, media_ref = href for <a> / src for
    <img>); (b) 'text' spans for root-level gaps not covered by any
    tracked element.  Nested spans overlap their parents by design --
    ``offset`` (codepoint start) orders the sequence.
    """
    doc = parse_document(html)
    body = doc.find_all("body")
    root = body[0] if body else doc
    rt = get_rich_text(
        root,
        ignored_tags=frozenset({"div"}),
        only_inline_tags=True,
        discard_tags=SPAN_DISCARD_TAGS,
        keep_tags=SPAN_KEEP_TAGS,
    )

    spans: list[dict] = []

    def emit_element(nid: int) -> None:
        n = rt.nodes[nid]
        media = ""
        if n.tag == "a":
            media = n.attrs.get("href", "")
        elif n.tag in ("img", "audio", "video", "embed", "source"):
            media = n.attrs.get("src", "")
        spans.append(
            {
                "kind": n.tag,
                "text": rt.text[n.start : n.end],
                "media_ref": media,
                "offset": n.start,
            }
        )
        for kid in rt.children[nid]:
            emit_element(kid)

    def emit_gap(cursor: int, end: int) -> None:
        gap = rt.text[cursor:end]
        core = gap.strip("\n")
        if not core.strip():
            return  # pure block-separator whitespace
        lead = len(gap) - len(gap.lstrip("\n"))
        spans.append(
            {"kind": "text", "text": core, "media_ref": "",
             "offset": cursor + lead}
        )

    cursor = 0
    for kid in rt.children[rt.root]:
        k = rt.nodes[kid]
        if k.start > cursor:
            emit_gap(cursor, k.start)
        emit_element(kid)
        cursor = max(cursor, k.end)
    if cursor < len(rt.text):
        emit_gap(cursor, len(rt.text))
    # construction order is already the document order: gaps interleave
    # with preorder element emission, offsets non-decreasing; a sort
    # would mis-order empty media spans against adjacent text gaps
    return spans


# -- DataFrame operators -----------------------------------------------------

def extract_spans(
    docs: DataFrame, id_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """docs(id, html, ...) -> (doc_id, spans) per input_hint."""
    id_c, html_c = id_col, html_col

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": pdf[id_c].astype(str),
                "spans": [
                    spans_from_html(u, h)
                    for u, h in zip(pdf[id_c], pdf[html_c])
                ],
            }
            yield pd.DataFrame(out)

    # project only the two needed columns before the Python stage so the
    # scan prunes everything else
    return docs.select(id_c, html_c).mapInPandas(run, SPANS_SCHEMA)


def extract_tables(
    docs: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    auto_span: bool = True,
    auto_pad: bool = True,
    extract_context: bool = True,
    extractor: Optional[TableExtractor] = None,
) -> DataFrame:
    """docs(url, html, ...) -> one output row per extracted table.

    The per-document fan-out happens inside the Python stage (cheaper
    than shipping a giant nested array through an explode).
    """
    ex = extractor or TableExtractor()
    u_c, h_c = url_col, html_col

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, html in zip(pdf[u_c], pdf[h_c]):
                for tbl in ex.extract(
                    str(url), str(html), auto_span, auto_pad, extract_context
                ):
                    rows.append(table_to_struct(tbl))
            yield pd.DataFrame(rows, columns=list(TABLE_SCHEMA.names))

    return docs.select(u_c, h_c).mapInPandas(run, TABLE_SCHEMA)


def harvest_canonical_links(
    docs: DataFrame, url_col: str = "url", html_col: str = "html",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """docs -> (src_url, url, *keep): canonical http(s) anchor targets,
    each carrying its document's ``keep`` columns.

    Harvest + RFC3986 canonicalization fused into ONE Python pass:
    chaining mapInPandas -> pandas_udf in the same task pipelines two
    Python workers per task with batch-synchronous JVM round-trips
    (measured ~10x slower at high core counts), so the crawl hot path
    does both in a single Arrow crossing.  ``keep`` saves a join back
    onto the documents (the crawl carries each page's depth and score).
    """
    from ..functions.urlnorm import canonicalize_url

    u_c, h_c = url_col, html_col
    schema = StructType(
        [
            StructField("src_url", StringType(), False),
            StructField("url", StringType(), False),
        ]
        + [docs.schema[c] for c in keep]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            srcs, urls, rows = [], [], []
            for i, (src, html) in enumerate(zip(pdf[u_c], pdf[h_c])):
                src = str(src)
                for span in spans_from_html(src, str(html)):
                    if span["kind"] == "a" and span["media_ref"]:
                        canon = canonicalize_url(span["media_ref"], src)
                        if canon:
                            srcs.append(src)
                            urls.append(canon)
                            rows.append(i)
            out = pd.DataFrame({"src_url": srcs, "url": urls})
            for c in keep:
                out[c] = pdf[c].to_numpy()[rows]
            yield out

    return docs.select(u_c, h_c, *keep).mapInPandas(run, schema)


def links_from_spans(spans_df: DataFrame) -> DataFrame:
    """(doc_id, spans) -> (src_url, href, anchor_text), pure relational:
    explode + filter stay JVM-side/codegen."""
    s = F.explode("spans").alias("s")
    return (
        spans_df.select(F.col("doc_id").alias("src_url"), s)
        .where((F.col("s.kind") == "a") & (F.col("s.media_ref") != ""))
        .select(
            "src_url",
            F.col("s.media_ref").alias("href"),
            F.col("s.text").alias("anchor_text"),
        )
    )


def extract_text_v1(
    docs: DataFrame, id_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """docs(id, html, ...) -> (doc_id, text): whole-page rendered text
    via the legacy v1 algorithm (reference text/mod.rs:2,
    get_text_v1.rs:24-85).  Same Arrow-batch shape as extract_spans."""
    from ..functions.text import get_text_v1

    id_c, html_c = id_col, html_col
    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("text", StringType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_c].astype(str),
                    "text": [
                        get_text_v1(parse_document(h))
                        for h in pdf[html_c]
                    ],
                }
            )

    return docs.select(id_c, html_c).mapInPandas(run, schema)


def linearize_tables(tables: DataFrame) -> DataFrame:
    """Render extracted tables as markdown-style training text -- the
    bridge from rsoup's structured tables to an LLM corpus (table
    linearization is how extraction output actually enters a
    pretraining mix).  Consumes ``extract_tables`` output: one row per
    table, cell texts pipe-joined per row, a ``| --- |`` separator
    after the first row when that row is entirely header cells, rows
    newline-joined.  Cell text is markdown-escaped (newlines -> space,
    ``|`` -> ``\\|``) so the row/column structure survives any cell
    content.

    Pure JVM array/string expressions over the already-extracted
    struct matrix -- map-only, rides codegen with whatever produced
    the tables; no second parse, no Python.  Output: (table_id, url,
    n_rows, n_cols, linearized, n_table_tokens) where n_table_tokens
    is the whitespace token count of the linearized text (the packing
    currency of chunk_documents / pack_interleaved).
    """
    cell_txt = lambda c: F.regexp_replace(  # noqa: E731
        F.regexp_replace(c["value"]["text"], r"\s*\n\s*", " "),
        r"\|",
        r"\\|",
    )
    row_line = lambda r: F.concat(  # noqa: E731
        F.lit("| "),
        F.concat_ws(" | ", F.transform(r["cells"], cell_txt)),
        F.lit(" |"),
    )
    lines = F.transform(F.col("rows"), row_line)
    header = F.when(
        (F.size("rows") > 0)
        & F.forall(
            F.col("rows").getItem(0)["cells"], lambda c: c["is_header"]
        ),
        F.concat(
            F.lit("|"),
            F.repeat(F.lit(" --- |"), F.col("n_cols").cast("int")),
        ),
    )
    body = F.when(
        header.isNotNull() & (F.size("rows") > 1),
        F.concat(
            F.element_at(lines, 1),
            F.lit("\n"),
            header,
            F.lit("\n"),
            F.array_join(F.slice(lines, 2, F.size(lines) - 1), "\n"),
        ),
    ).otherwise(F.array_join(lines, "\n"))
    return tables.select(
        F.col("id").alias("table_id"),
        "url",
        "n_rows",
        "n_cols",
        body.alias("linearized"),
        F.size(
            F.filter(F.split(F.trim(body), r"\s+"), lambda t: t != "")
        ).alias("n_table_tokens"),
    )

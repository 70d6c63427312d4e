"""Spark schemas for the extraction data model (SURVEY.md §1.1/FIXTURES.md F1/F6).

RichText's vec-backed span tree (simple_tree.rs:6-10) flattens losslessly
to an elements array with a ``parent`` index (root has parent=-1); the
children lists are reconstructed by grouping on ``parent`` in insertion
order, which preorder iteration preserves.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

ATTRS = MapType(StringType(), StringType(), valueContainsNull=False)

# interleaved docs span (BASELINE.json input_hint)
SPAN = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("text", StringType(), False),
        StructField("media_ref", StringType(), False),
        StructField("offset", IntegerType(), False),
    ]
)

SPANS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN, containsNull=False), False),
    ]
)

RICHTEXT_ELEMENT = StructType(
    [
        StructField("tag", StringType(), False),
        StructField("start", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("attrs", ATTRS, False),
        StructField("parent", IntegerType(), False),
    ]
)

RICHTEXT = StructType(
    [
        StructField("text", StringType(), False),
        StructField("elements", ArrayType(RICHTEXT_ELEMENT, False), False),
    ]
)

CELL = StructType(
    [
        StructField("is_header", BooleanType(), False),
        StructField("rowspan", IntegerType(), False),
        StructField("colspan", IntegerType(), False),
        StructField("attrs", ATTRS, False),
        StructField("value", RICHTEXT, False),
    ]
)

ROW = StructType(
    [
        StructField("cells", ArrayType(CELL, False), False),
        StructField("attrs", ATTRS, False),
    ]
)

CONTENT_HIERARCHY = StructType(
    [
        StructField("level", IntegerType(), False),
        StructField("heading", RICHTEXT, False),
        StructField("content_before", ArrayType(RICHTEXT, False), False),
        StructField("content_after", ArrayType(RICHTEXT, False), False),
    ]
)

TABLE_SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("url", StringType(), False),
        StructField("caption", StringType(), False),
        StructField("attrs", ATTRS, False),
        StructField("context", ArrayType(CONTENT_HIERARCHY, False), False),
        StructField("rows", ArrayType(ROW, False), False),
        StructField("n_rows", IntegerType(), False),
        StructField("n_cols", IntegerType(), False),
    ]
)

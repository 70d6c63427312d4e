"""Structured Streaming surface for continuous extraction.

The crawl loop itself stays an iterative-batch driver (deterministic
crawl-order equality needs round barriers -- SURVEY.md §2.2), but the
*extraction* side is exposed as a stream: a directory of page parquet
files (e.g. fetcher output batches) is consumed incrementally, spans
are extracted per micro-batch, and results append to a sink with
exactly-once file semantics via the checkpoint.

    q = stream_extract_spans(spark, in_dir, out_dir, ckpt_dir)
    q.processAllAvailable(); q.stop()        # drain-once mode
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.extract import extract_spans
from ..sources.docs import PAGE_TEMPLATE  # noqa: F401  (re-export surface)

PAGE_INPUT_SCHEMA = "url string, host string, html string"


def stream_extract_spans(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 8,
) -> StreamingQuery:
    """readStream(parquet pages) -> extract spans -> append parquet."""
    pages = (
        spark.readStream.schema(PAGE_INPUT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    spans = extract_spans(pages, "url", "html")
    return (
        spans.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )

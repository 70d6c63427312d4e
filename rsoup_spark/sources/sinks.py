"""Sinks (SURVEY.md §2.2): columnar table writes for extraction output
and crawl state.

Parquet is the default sink; an ``iceberg:<table>`` target writes
through ``df.writeTo(table).append()`` and needs the Iceberg runtime
jars on the session (none ship with this package).  Layout decisions
that matter at 100 TB:

* ``tables_out`` partitions by host-hash bucket, not host -- hosts are
  wildly skewed, buckets are uniform, and table ids remain colocated
  with their host's Bloom shard for cheap joins against crawl state;
* span rows stay nested (one row per doc) rather than exploded -- the
  consumer decides the explosion, and parquet list encoding keeps the
  column compressed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_tables(
    df: DataFrame,
    path_or_table: str,
    n_buckets: int = 64,
    mode: str = "append",
) -> None:
    """Write extracted tables partitioned by host-hash bucket."""
    out = df.withColumn(
        "host_bucket",
        F.pmod(
            F.xxhash64(F.regexp_extract("url", r"^https?://([^/]+)", 1)),
            F.lit(n_buckets),
        ).cast("int"),
    )
    if path_or_table.startswith(("iceberg:",)):
        out.writeTo(path_or_table.removeprefix("iceberg:")).append()
        return
    out.write.mode(mode).partitionBy("host_bucket").parquet(path_or_table)

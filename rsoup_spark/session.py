"""SparkSession factory with the engine's scale defaults.

Design notes (SURVEY.md §4):
* AQE on -- runtime shuffle coalescing + skew-join splitting.
* Arrow on, with byte-bounded batches: HTML documents can be MBs each,
  so `maxBytesPerBatch` (not a tiny record cap -- that strangles
  small-row UDF stages with per-batch overhead) bounds Python-worker
  memory; the record cap stays high for throughput.
* shuffle partitions scale with cores so the N -> 4N scaling-efficiency
  target holds (BASELINE.md protocol); on a real cluster this would be
  executors * cores * 2-3.
"""

from __future__ import annotations

import logging
import os

import pandas as pd
from pyspark.sql import SparkSession

ARROW_MAX_RECORDS = 10_000
ARROW_MAX_BYTES = "32m"
# Python worker daemon that skips the per-task re-read of unchanged zip
# archives (see rsoup_spark/_pydaemon.py)
PYTHON_DAEMON_MODULE = "rsoup_spark._pydaemon"

log = logging.getLogger("rsoup_spark")

# sessions already primed by _warm_session (keyed by the JVM
# SparkContext application id, so a getOrCreate that returns an
# existing session is not re-warmed)
_WARMED: set[str] = set()


def _warm_session(spark: SparkSession) -> None:
    """Prime the heavyweight one-time machinery on a tiny synthetic
    job so the first REAL query is not charged for it: whole-stage
    codegen compilation, the exchange/AQE code paths, the Python
    worker pool and both Python evaluation modes (ArrowEvalPython and
    MapInPandas), and the noop sink.  Measured ~2.5s of first-query
    latency moved into session construction (a long-lived service pays
    it once at startup; an interactive user pays it before the first
    prompt, not inside it).  Touches only ``spark.range`` data --
    nothing is read from or keyed on any input, and nothing is kept.
    ``SPARK_GRAFT_NO_WARM=1`` skips (unit-test sessions that never run
    a query don't need the ~1-2s)."""
    from pyspark.sql import functions as F

    # the hints resolve against this module's top-level ``pd``
    @F.pandas_udf("long")
    def _wu(x: pd.Series) -> pd.Series:
        return x

    def _wm(batches):
        for pdf in batches:
            yield pdf

    base = spark.range(0, 1024, 1, 8)
    j = base.select(F.col("id"), _wu("id").alias("u")).mapInPandas(
        _wm, "id long, u long"
    )
    small = spark.range(64).select(F.col("id"), F.lit(1).alias("one"))
    (
        j.join(F.broadcast(small), "id", "left")
        .groupBy((F.col("id") % 7).alias("k"))
        .agg(F.count("*").alias("n"), F.sum("u").alias("s"))
        .write.mode("overwrite")
        .format("noop")
        .save()
    )

    # pre-import the extraction stack in every pooled Python worker
    # (one task per slot): reused workers keep sys.modules, so the
    # first real extraction task stops paying the package import.
    # Measured ~0.3-0.4s off the first extraction query.  Loads code
    # only -- no data, nothing keyed on any input.
    def _imp(batches):
        from rsoup_spark.functions.urlnorm import canonicalize_url  # noqa
        from rsoup_spark.operators.extract import spans_from_html  # noqa

        for pdf in batches:
            yield pdf

    par = spark.sparkContext.defaultParallelism
    (
        spark.range(0, par, 1, par)
        .select(F.col("id").cast("string").alias("s"))
        .mapInPandas(_imp, "s string")
        .write.mode("overwrite")
        .format("noop")
        .save()
    )


def get_spark(
    app_name: str = "rsoup-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        cores = cpus if n in ("", "*") else int(n)
        shuffle_partitions = max(8, cores * 2)

    spark = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # size-based coalescing (not parallelism-first): small post-
        # shuffle stages collapse to few real tasks instead of one
        # micro-task per slot; scale-adaptive because the target is a
        # byte size, not a task count
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS),
        )
        .config("spark.sql.execution.arrow.maxBytesPerBatch", ARROW_MAX_BYTES)
        .config("spark.sql.session.timeZone", "UTC")
        # local[N] runs the driver AND all N task slots in one JVM: 8g
        # gave 32 concurrent tasks ~256 MB each at bench core counts.
        # 16g keeps headroom at larger scale factors; still env-tunable
        # (on a real cluster the executors carry their own memory).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", PYTHON_DAEMON_MODULE)
        .getOrCreate()
    )
    app_id = spark.sparkContext.applicationId
    if (
        app_id not in _WARMED
        and os.environ.get("SPARK_GRAFT_NO_WARM", "") != "1"
    ):
        _WARMED.add(app_id)
        try:
            _warm_session(spark)
        except Exception:
            # priming is an optimization; a session that cannot run the
            # warm-up job is still handed to the caller, but the failure
            # (e.g. a Python worker daemon that cannot start) is logged
            # here instead of surfacing first inside an unrelated query
            log.warning("session warm-up failed", exc_info=True)
    return spark

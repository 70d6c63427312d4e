"""Scaling benchmark (BASELINE.md protocol): extraction + frontier
throughput on the same deterministic input at a given parallelism.

    spark-submit --master local[8]  bench_crawl.py
    spark-submit --master local[32] bench_crawl.py
    # or: python bench_crawl.py --master local[8] --pages 500 --repeat 1

``--pages`` is the number of base pages per host (``--hosts`` hosts;
the hot host gets ``--hot-factor`` times as many): ``--pages 500`` with
the defaults generates 31 * 500 + 8 * 500 = 19,500 pages.

Prints one JSON line: docs/sec (span extraction over the page store)
and URLs/sec (harvest -> canonicalize -> politeness-rank -> Bloom-dedup,
one full frontier round over every page).  The two runs' ratio gives
the N -> 4N scaling efficiency reported in BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--master", default=None)
    ap.add_argument("--hosts", type=int, default=32)
    ap.add_argument("--pages", type=int, default=6000)
    ap.add_argument("--hot-factor", type=int, default=8)
    ap.add_argument("--links", type=int, default=8)
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--extract-only", action="store_true")
    ap.add_argument("--parts-per-core", type=int, default=4)
    args = ap.parse_args()

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from rsoup_spark.crawl.bloom import (
        empty_shards,
        filter_and_update,
        with_shard_cols,
    )
    from rsoup_spark.crawl.fixtures import gen_pages, gen_robots
    from rsoup_spark.operators.extract import (
        extract_spans,
        harvest_canonical_links,
    )
    from rsoup_spark.session import get_spark

    spark = get_spark("bench-crawl", master=args.master)
    cores = spark.sparkContext.defaultParallelism

    # 4 partitions per core: on a noisy VM the slowest task sets the
    # stage time, so finer tasks amortize stragglers (the N->4N
    # efficiency at 32 cores is otherwise bounded by the one slow task
    # out of 32); same relative layout at both parallelism levels.
    pages = gen_pages(
        spark,
        n_hosts=args.hosts,
        base_pages=args.pages,
        hot_factor=args.hot_factor,
        links_per_page=args.links,
    ).repartition(args.parts_per_core * cores).persist()
    n_pages = pages.count()  # materialize before timing

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    # warm up python workers on every stage shape used below (mapInPandas
    # extraction + cogrouped bloom), across all cores
    warm = pages.limit(cores * 8).repartition(cores)
    noop(extract_spans(warm, "url", "html"))
    wshards = empty_shards(spark, 8, 1 << 16)
    wcand = with_shard_cols(
        harvest_canonical_links(warm, "url", "html").withColumn(
            "host", F.regexp_extract("url", r"^https?://([^/]+)", 1)
        ),
        "url",
        "host",
        8,
    )
    wu, _, _ = filter_and_update(wcand, wshards, 8, 1 << 16, persist=False)
    noop(wu)

    # -- extraction throughput (best of N: the sandbox VM has noisy
    # CPU, so the minimum reflects actual capability) -------------------------
    extract_runs = []
    for _ in range(args.repeat):
        t0 = time.time()
        noop(extract_spans(pages, "url", "html"))
        extract_runs.append(time.time() - t0)
    t_extract = min(extract_runs)

    if args.extract_only:
        print(json.dumps({
            "master": args.master or f"local[{cores}]",
            "cores": cores,
            "pages": n_pages,
            "extract_sec": round(t_extract, 2),
            "extract_runs": [round(x, 2) for x in extract_runs],
            "docs_per_sec": round(n_pages / t_extract, 1),
        }))
        spark.stop()
        return

    # -- frontier round throughput ---------------------------------------------
    robots = gen_robots(spark, args.hosts).withColumn(
        "budget",
        F.greatest(F.lit(1), F.floor(F.lit(10.0) / F.col("crawl_delay"))).cast(
            "int"
        ),
    )
    n_shards = 64
    m_bits = 1 << 22
    shards = empty_shards(spark, n_shards, m_bits)

    # one composed pipeline, one action: harvest -> canonicalize ->
    # aggregate -> politeness rank -> bloom dedup (how a production
    # round runs -- no intermediate materialization); rebuilt fresh per
    # repeat so nothing is cached between runs, best of N
    def frontier_round():
        """Frontier dataflow as the engine runs it: python harvest+canon
        -> JVM groupBy(url) (map-side partial agg shrinks the shuffle)
        -> cogroup bloom -> politeness window over the unique urls."""
        canon = harvest_canonical_links(pages, "url", "html")
        discovered = (
            canon.groupBy("url")
            .agg(F.count("*").alias("n_refs"))
            .withColumn(
                "host", F.regexp_extract("url", r"^https?://([^/]+)", 1)
            )
            .withColumn("score", F.lit(1.0))
            .withColumn("depth", F.lit(1))
        )
        # salt=16: the hot host (8x pages) spreads over 16 of the 64
        # bloom shards instead of 4, so no cogroup task carries 3x the
        # average candidate load
        cand = with_shard_cols(discovered, "url", "host", n_shards, salt=16)
        unseen, _shards2, _ = filter_and_update(
            cand, shards, n_shards, m_bits, persist=False
        )
        return unseen

    def frontier_action():
        # ONE job for the whole round, with the two-phase politeness
        # rank left exactly as the engine runs it (pre-rank within
        # (host, salt), FILTER, then the per-host rank over only
        # salt*budget survivors -- the filter is what keeps the hot
        # host's final sort tiny; ranking all rows per host instead
        # was measured to serialize the 32-core run on one straggler
        # task).  The unique-URL count rides the same job via the
        # Observation API instead of a separate persist + count
        # action, so the second job's fixed scheduling cost (the
        # non-scaling term in the N->4N efficiency) is still gone.
        from pyspark.sql import Observation

        obs = Observation()
        unseen = frontier_round().observe(
            obs, F.count(F.lit(1)).alias("n_uniq")
        )
        budget = F.coalesce("budget", F.lit(1)) * 10
        w1 = Window.partitionBy("host", "salt").orderBy(
            F.desc("score"), F.asc("url")
        )
        w2 = Window.partitionBy("host").orderBy(
            F.desc("score"), F.asc("url")
        )
        ranked = (
            unseen.join(F.broadcast(robots), "host", "left")
            .withColumn("salt", F.pmod(F.xxhash64("url"), F.lit(8)))
            .withColumn("pre_rank", F.row_number().over(w1))
            .where(F.col("pre_rank") <= budget)
            .withColumn("rank", F.row_number().over(w2))
            .where(F.col("rank") <= budget)
        )
        n_sched = ranked.count()
        return n_sched, int(obs.get["n_uniq"])

    frontier_runs = []
    n_unique = n_scheduled = 0
    for _ in range(args.repeat):
        t0 = time.time()
        n_scheduled, n_unique = frontier_action()
        frontier_runs.append(time.time() - t0)
    t_frontier = min(frontier_runs)

    n_links = harvest_canonical_links(pages, "url", "html").count()

    print(
        json.dumps(
            {
                "master": args.master or f"local[{cores}]",
                "cores": cores,
                "pages": n_pages,
                "extract_sec": round(t_extract, 2),
                "extract_runs": [round(x, 2) for x in extract_runs],
                "docs_per_sec": round(n_pages / t_extract, 1),
                "links_harvested": n_links,
                "unique_urls": n_unique,
                "urls_scheduled": n_scheduled,
                "frontier_sec": round(t_frontier, 2),
                "frontier_runs": [round(x, 2) for x in frontier_runs],
                "urls_per_sec": round(n_links / t_frontier, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

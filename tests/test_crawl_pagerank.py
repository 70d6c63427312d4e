"""PageRank-scored crawling: engine order/seen must equal the oracle
simulator running the identical integer-PR arithmetic."""

import shutil
import tempfile

import pytest

from rsoup_spark.crawl.fixtures import (
    gen_pages,
    gen_robots,
    gen_seeds,
    robots_rows,
)
from rsoup_spark.crawl.frontier import CrawlConfig, CrawlEngine
from rsoup_spark.crawl.oracle import simulate


@pytest.mark.spark
def test_pagerank_crawl_matches_oracle(spark):
    pages = gen_pages(
        spark, n_hosts=5, base_pages=7, hot_factor=5, links_per_page=5,
        seed=23,
    ).persist()
    pages.count()
    robots = gen_robots(spark, n_hosts=5)
    seeds = gen_seeds(spark, n_hosts=5)
    cfg = CrawlConfig(batch_size=16, round_seconds=10.0, max_rounds=10,
                      n_shards=8, m_bits=1 << 16, score_mode="pagerank")
    tmp = tempfile.mkdtemp(prefix="crawl_pr_")
    try:
        eng = CrawlEngine(spark, pages, robots, tmp, cfg)
        eng.run(seeds=seeds)
        graph = {
            r["url"]: list(r["out_links"])
            for r in pages.select("url", "out_links").collect()
        }
        seed_rows = [(r["url"], r["score"], r["depth"])
                     for r in seeds.collect()]
        want_order, want_seen = simulate(
            graph, seed_rows, robots_rows(5),
            batch_size=cfg.batch_size, round_seconds=cfg.round_seconds,
            max_rounds=cfg.max_rounds, score_mode="pagerank",
        )
        assert eng.crawl_order() == want_order
        assert eng.seen_set() == want_seen

        # the mode is actually changing behavior: decay ordering differs
        decay_order, _ = simulate(
            graph, seed_rows, robots_rows(5),
            batch_size=cfg.batch_size, round_seconds=cfg.round_seconds,
            max_rounds=cfg.max_rounds,
        )
        assert decay_order != want_order
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        pages.unpersist()


@pytest.mark.spark
def test_pagerank_recrawl_matches_oracle(spark):
    """expire() + resume under score_mode='pagerank': the re-scheduled
    victims re-harvest their out-links into a later round's edges log;
    the engine must still match the oracle's set-based edge
    accumulation (duplicate (src,dst) rows would double outdeg and
    contributions, breaking integer-PR equality)."""
    pages = gen_pages(
        spark, n_hosts=4, base_pages=6, hot_factor=4, links_per_page=5,
        seed=31,
    ).persist()
    pages.count()
    robots = gen_robots(spark, n_hosts=4)
    seeds = gen_seeds(spark, n_hosts=4)
    cfg = CrawlConfig(batch_size=16, round_seconds=10.0, max_rounds=12,
                      n_shards=8, m_bits=1 << 16, score_mode="pagerank")
    tmp = tempfile.mkdtemp(prefix="crawl_pr_rc_")
    try:
        eng = CrawlEngine(spark, pages, robots, tmp, cfg)
        eng.run(seeds=seeds)
        victims = sorted(u for _r, _k, u in eng.crawl_order())[:4]
        eng.expire(
            spark.createDataFrame([(u,) for u in victims], "url string")
        )
        eng.run(resume=True)

        graph = {
            r["url"]: list(r["out_links"])
            for r in pages.select("url", "out_links").collect()
        }
        seed_rows = [(r["url"], r["score"], r["depth"])
                     for r in seeds.collect()]
        want_order, want_seen = simulate(
            graph, seed_rows, robots_rows(4),
            batch_size=cfg.batch_size, round_seconds=cfg.round_seconds,
            max_rounds=cfg.max_rounds, score_mode="pagerank",
            expire_events=[victims],
        )
        assert eng.crawl_order() == want_order
        assert eng.seen_set() == want_seen
        # the recrawl actually happened
        assert set(victims) <= {u for _r, _k, u in want_order}
        assert set(victims) <= eng.seen_set()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        pages.unpersist()

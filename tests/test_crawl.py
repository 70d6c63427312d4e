"""Crawl engine correctness: oracle equality, resume, bloom properties."""

import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from rsoup_spark.crawl.fixtures import (
    gen_pages,
    gen_robots,
    gen_seeds,
    robots_rows,
)
from rsoup_spark.crawl.frontier import CrawlConfig, CrawlEngine
from rsoup_spark.crawl.oracle import simulate


@pytest.fixture(scope="module")
def web(spark):
    """Small deterministic web: 6 hosts, host 0 hot (10x)."""
    pages = gen_pages(
        spark, n_hosts=6, base_pages=8, hot_factor=10, links_per_page=5,
        seed=42,
    ).persist()
    pages.count()
    robots = gen_robots(spark, n_hosts=6)
    seeds = gen_seeds(spark, n_hosts=6)
    return pages, robots, seeds


def graph_of(pages):
    return {
        r["url"]: list(r["out_links"])
        for r in pages.select("url", "out_links").collect()
    }


def test_harvest_matches_ground_truth(spark, web):
    """Extraction + canonicalization over the rendered HTML must equal
    the generator's canonical out_links (span-harvest fidelity)."""
    from rsoup_spark.operators.extract import harvest_canonical_links

    pages, _, _ = web
    sample = pages.limit(30)
    links = harvest_canonical_links(sample, "url", "html")
    got = {}
    for r in links.collect():
        got.setdefault(r["src_url"], set()).add(r["url"])
    for r in sample.collect():
        assert got.get(r["url"], set()) == set(r["out_links"]), r["url"]


@pytest.mark.spark
def test_crawl_matches_oracle(spark, web):
    pages, robots, seeds = web
    cfg = CrawlConfig(batch_size=24, round_seconds=10.0, max_rounds=12,
                      n_shards=16, m_bits=1 << 18)
    tmp = tempfile.mkdtemp(prefix="crawl_ck_")
    try:
        eng = CrawlEngine(spark, pages, robots, tmp, cfg)
        eng.run(seeds=seeds)
        got_order = eng.crawl_order()
        got_seen = eng.seen_set()

        want_order, want_seen = simulate(
            graph_of(pages),
            [(r["url"], r["score"], r["depth"]) for r in seeds.collect()],
            robots_rows(6),
            batch_size=cfg.batch_size,
            round_seconds=cfg.round_seconds,
            max_rounds=cfg.max_rounds,
        )
        assert got_order == want_order
        assert got_seen == want_seen
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.spark
def test_resume_from_checkpoint(spark, web):
    """Kill after round 2, resume -> identical final state (north_rule
    resumability)."""
    pages, robots, seeds = web
    cfg = CrawlConfig(batch_size=16, max_rounds=6, n_shards=8,
                      m_bits=1 << 16)
    t_full = tempfile.mkdtemp(prefix="crawl_full_")
    t_part = tempfile.mkdtemp(prefix="crawl_part_")
    try:
        full = CrawlEngine(spark, pages, robots, t_full, cfg)
        full.run(seeds=seeds)

        part = CrawlEngine(spark, pages, robots, t_part, cfg)
        part.init_state(seeds)
        part.run_round(1)
        part.run_round(2)
        # "crash" here; a fresh engine resumes from the manifest
        resumed = CrawlEngine(spark, pages, robots, t_part, cfg)
        resumed.run(resume=True)

        assert resumed.crawl_order() == full.crawl_order()
        assert resumed.seen_set() == full.seen_set()
    finally:
        shutil.rmtree(t_full, ignore_errors=True)
        shutil.rmtree(t_part, ignore_errors=True)


@pytest.mark.spark
def test_robots_and_politeness_enforced(spark, web):
    pages, robots, seeds = web
    cfg = CrawlConfig(batch_size=64, round_seconds=3.0, max_rounds=6,
                      n_shards=8, m_bits=1 << 16)
    tmp = tempfile.mkdtemp(prefix="crawl_pol_")
    try:
        eng = CrawlEngine(spark, pages, robots, tmp, cfg)
        eng.run(seeds=seeds)
        order = eng.crawl_order()
        # robots: site1.test disallows /page/1 prefix -> never crawled
        for _r, _k, url in order:
            if url.startswith("https://site1.test/"):
                assert not url.split("site1.test")[1].startswith("/page/1")
        # politeness: per round, per host, at most floor(3/delay) >= 1
        budgets = {h: max(1, int(3.0 // d)) for h, _p, d in robots_rows(6)}
        per_round_host: dict = {}
        for r, _k, url in order:
            host = url.split("/")[2]
            per_round_host.setdefault((r, host), 0)
            per_round_host[(r, host)] += 1
        for (r, host), n in per_round_host.items():
            assert n <= budgets[host], (r, host, n)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.spark
def test_bloom_false_positives_recovered_by_backstop(spark, web):
    """Force bloom false positives (64-bit filter vs hundreds of URLs)
    and prove (a) the metric observes them, (b) the exact backstop
    recovers every one: n_new == n_bloom_new + fps each round, and the
    final crawl order + seen set still equal the oracle simulator."""
    pages, robots, seeds = web
    cfg = CrawlConfig(batch_size=24, round_seconds=10.0, max_rounds=12,
                      n_shards=2, m_bits=64, bloom_k=2)
    tmp = tempfile.mkdtemp(prefix="crawl_fp_")
    try:
        eng = CrawlEngine(spark, pages, robots, tmp, cfg)
        history = eng.run(seeds=seeds)
        fp_total = sum(m["bloom_false_positives"] for m in history)
        assert fp_total > 0, "64-bit bloom over this web must saturate"
        for m in history:
            assert m["n_new"] == m["n_bloom_new"] + m["bloom_false_positives"]

        want_order, want_seen = simulate(
            graph_of(pages),
            [(r["url"], r["score"], r["depth"]) for r in seeds.collect()],
            robots_rows(6),
            batch_size=cfg.batch_size,
            round_seconds=cfg.round_seconds,
            max_rounds=cfg.max_rounds,
        )
        assert eng.crawl_order() == want_order
        assert eng.seen_set() == want_seen
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bloom_no_false_negatives():
    from rsoup_spark.crawl.bloom import _bit_set, _bit_test, probe_positions

    m_bits = 1 << 16
    blob = np.zeros(m_bits // 8, dtype=np.uint8)
    rng = np.random.RandomState(7)
    inserted = rng.randint(-(2**62), 2**62, size=2000, dtype=np.int64)
    pos = probe_positions(inserted, 5, m_bits)
    _bit_set(blob, pos)
    assert _bit_test(blob, pos).all()  # no false negatives, ever
    other = rng.randint(-(2**62), 2**62, size=2000, dtype=np.int64)
    fp = _bit_test(blob, probe_positions(other, 5, m_bits)).mean()
    assert fp < 0.05


@pytest.mark.spark
def test_manifest_commits_after_all_parallel_writes(spark, web):
    """The per-round state writes run concurrently; the
    crash-consistency contract is that the manifest (the round's
    atomic commit point) is written only after every table write has
    COMPLETED.  A recording store wrapper pins that ordering, and the
    crawl order + seen set must still equal the oracle's."""
    from rsoup_spark.crawl.statestore import ParquetStateStore

    events: list[tuple] = []

    class RecordingStore(ParquetStateStore):
        def write(self, df, round_no, name, mode="overwrite"):
            super().write(df, round_no, name, mode)
            events.append(("write", round_no, name))  # append is atomic

        def write_manifest(self, round_no, done, snapshot=None,
                           horizon=None):
            events.append(("manifest", round_no))
            super().write_manifest(round_no, done, snapshot, horizon)

    cfg = CrawlConfig(batch_size=24, round_seconds=10.0, max_rounds=4,
                      n_shards=16, m_bits=1 << 18)
    tmp = tempfile.mkdtemp(prefix="crawl_par_")
    try:
        pages, robots, seeds = web
        store = RecordingStore(spark, tmp, coalesce=cfg.checkpoint_coalesce)
        eng = CrawlEngine(spark, pages, robots, tmp, cfg, store=store)
        eng.run(seeds=seeds)

        # every round's manifest event strictly follows that round's
        # order/frontier/seen/shards/lineage write completions
        for r in range(1, 5):
            names = {"order", "frontier", "seen", "shards", "lineage"}
            idx_manifest = events.index(("manifest", r))
            done_before = {
                e[2] for e in events[:idx_manifest]
                if e[0] == "write" and e[1] == r
            }
            assert names <= done_before, (r, done_before)

        want_order, want_seen = simulate(
            graph_of(pages),
            [(r["url"], r["score"], r["depth"]) for r in seeds.collect()],
            robots_rows(6),
            batch_size=cfg.batch_size,
            round_seconds=cfg.round_seconds,
            max_rounds=cfg.max_rounds,
        )
        assert eng.crawl_order() == want_order
        assert eng.seen_set() == want_seen
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

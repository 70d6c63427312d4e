"""TTL/recrawl expiry: forget seen URLs, revisit them, stay resumable.

Covers the event-log seen semantics (last add vs last expiry), the
bloom+backstop logical path, the bloom-authoritative (backstop-off)
crawl, and expiry refused wherever the backstop is off.
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from rsoup_spark.crawl.fixtures import gen_pages, gen_robots, gen_seeds
from rsoup_spark.crawl.frontier import CrawlConfig, CrawlEngine


@pytest.fixture(scope="module")
def web(spark):
    pages = gen_pages(
        spark, n_hosts=4, base_pages=6, hot_factor=4, links_per_page=5,
        seed=77,
    ).persist()
    pages.count()
    return pages, gen_robots(spark, n_hosts=4), gen_seeds(spark, n_hosts=4)


def _run_to_done(spark, web, cfg, tmp):
    pages, robots, seeds = web
    eng = CrawlEngine(spark, pages, robots, tmp, cfg)
    eng.run(seeds=seeds)
    return eng


def _expire_and_resume(spark, eng, k=4):
    seen_before = eng.seen_set()
    victims = sorted(u for _r, _k, u in eng.crawl_order())[:k]
    info = eng.expire(
        eng.spark.createDataFrame([(u,) for u in victims], "url string")
    )
    assert info["n_expired"] == k
    assert set(victims) <= seen_before
    # logically forgotten
    assert not (set(victims) & eng.seen_set())
    # resumable: the re-enqueued URLs get scheduled again
    r0 = info["round"]
    eng.run(resume=True)
    rescheduled = {
        u for r, _k, u in eng.crawl_order() if r > r0 and u in set(victims)
    }
    assert rescheduled == set(victims)
    return victims, r0


@pytest.mark.spark
def test_expiry_recrawls(spark, web):
    cfg = CrawlConfig(batch_size=16, max_rounds=14, n_shards=8,
                      m_bits=1 << 16)
    tmp = tempfile.mkdtemp(prefix="recrawl_ex_")
    try:
        eng = _run_to_done(spark, web, cfg, tmp)
        shards_before = sorted(
            eng.store.read(eng.last_round()[0], "shards").collect()
        )
        victims, r0 = _expire_and_resume(spark, eng)
        # bloom bits are never cleared: expire() leaves the round-r0
        # shards exactly as the crawl wrote them
        assert sorted(eng.store.read(r0, "shards").collect()) == shards_before
        # after the resumed crawl rediscovers them, they are seen again
        assert set(victims) <= eng.seen_set()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.spark
def test_bloom_expiry_rides_the_backstop(spark, web):
    """Expire a parent page plus three of its same-host out-links with a
    1-fetch/round politeness budget: the recrawled parent rediscovers
    still-unseen victims in LATER rounds, so the bloom's stale 'seen'
    claims surface as recovered false positives -- while no victim is
    ever scheduled twice (a victim rediscovered in its own scheduling
    round is deduped against the round's scheduled set)."""
    import json
    from collections import Counter
    from urllib.parse import urlsplit

    cfg = CrawlConfig(batch_size=16, max_rounds=14, n_shards=8,
                      m_bits=1 << 16, round_seconds=1.0)
    tmp = tempfile.mkdtemp(prefix="recrawl_bl_")
    try:
        eng = _run_to_done(spark, web, cfg, tmp)
        seen_before = eng.seen_set()
        pages = web[0]
        parent, kids = None, None
        for row in pages.select("url", "out_links").collect():
            u = row["url"]
            if u not in seen_before:
                continue
            host = urlsplit(u).netloc
            outs = [
                o for o in row["out_links"]
                if o in seen_before and o != u
                and urlsplit(o).netloc == host
            ]
            if len(outs) >= 3:
                parent, kids = u, sorted(outs)[:3]
                break
        assert parent is not None, "fixture lost its linked cluster"
        victims = [parent] + kids
        info = eng.expire(
            spark.createDataFrame([(u,) for u in victims], "url string")
        )
        r0 = info["round"]
        eng.run(resume=True)
        # the bloom still claims the victims seen; cross-round
        # link-rediscovered victims surface as recovered false
        # positives in the metrics
        fp = sum(
            json.load(open(eng._path(r, "metrics.json")))[
                "bloom_false_positives"
            ]
            for r in range(r0 + 1, eng.last_round()[0] + 1)
        )
        assert fp > 0
        assert set(victims) <= eng.seen_set()
        resched = [
            u for r, _k, u in eng.crawl_order()
            if r > r0 and u in set(victims)
        ]
        assert set(resched) == set(victims)
        assert max(Counter(resched).values()) == 1, "victim crawled twice"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.spark
def test_bloom_authoritative_cannot_expire(spark, web):
    cfg = CrawlConfig(exact_backstop=False)
    tmp = tempfile.mkdtemp(prefix="recrawl_no_")
    try:
        pages, robots, seeds = web
        eng = CrawlEngine(spark, pages, robots, tmp, cfg)
        with pytest.raises(ValueError, match="bloom cannot delete"):
            eng.expire(spark.createDataFrame([("x",)], "url string"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.spark
def test_event_log_semantics(spark, web):
    """add -> expire -> re-add -> expire again: membership follows the
    latest event; double expiry is idempotent."""
    cfg = CrawlConfig(batch_size=16, max_rounds=14, n_shards=8,
                      m_bits=1 << 16)
    tmp = tempfile.mkdtemp(prefix="recrawl_ev_")
    try:
        eng = _run_to_done(spark, web, cfg, tmp)
        victims, _ = _expire_and_resume(spark, eng)  # re-added by resume
        assert set(victims) <= eng.seen_set()
        # expire the same urls again (second expiry round > re-add round)
        eng.expire(
            spark.createDataFrame([(u,) for u in victims], "url string"),
            reenqueue=False,
        )
        assert not (set(victims) & eng.seen_set())
        # idempotent double-expire in the same round
        eng.expire(
            spark.createDataFrame([(u,) for u in victims], "url string"),
            reenqueue=False,
        )
        assert not (set(victims) & eng.seen_set())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.spark
def test_rediscovered_victim_keeps_seed_priority(spark):
    """A re-enqueued victim that is link-rediscovered BEFORE being
    scheduled keeps its depth-0 seed priority (the engine best-
    priority-merges; the oracle must not overwrite with the decayed
    discovery) -- engine order == simulate(expire_events) on a chain
    where the recrawled parent re-links a pending victim."""
    from rsoup_spark.crawl.oracle import simulate

    H = "https://h0.test"

    def page(url, links):
        body = "".join(f'<a href="{x}">x</a>' for x in links)
        return (url, f"<html><body>{body}</body></html>")

    graph = {
        f"{H}/a": [f"{H}/b", f"{H}/w"],
        f"{H}/b": [f"{H}/u"],
        f"{H}/u": [],
        f"{H}/w": [],
    }
    pages = spark.createDataFrame(
        [page(u, ls) for u, ls in graph.items()],
        "url string, html string",
    )
    robots = spark.createDataFrame(
        [("h0.test", ["/private"], 1.0)],
        "host string, disallow_prefixes array<string>, crawl_delay double",
    )
    seeds = spark.createDataFrame(
        [(f"{H}/a", 1.0, 0)], "url string, score double, depth int"
    )
    cfg = CrawlConfig(batch_size=16, round_seconds=1.0, max_rounds=10,
                      n_shards=4, m_bits=1 << 16, checkpoint_coalesce=1)
    tmp = tempfile.mkdtemp(prefix="recrawl_pri_")
    try:
        eng = CrawlEngine(spark, pages, robots, tmp, cfg)
        eng.run(seeds=seeds)
        victims = [f"{H}/b", f"{H}/u", f"{H}/w"]
        eng.expire(
            spark.createDataFrame([(u,) for u in victims], "url string")
        )
        eng.run(resume=True)
        want_order, want_seen = simulate(
            graph, [(f"{H}/a", 1.0, 0)],
            [("h0.test", ["/private"], 1.0)],
            batch_size=16, round_seconds=1.0, max_rounds=10,
            expire_events=[victims],
        )
        assert eng.crawl_order() == want_order
        assert eng.seen_set() == want_seen
        # the recrawl-path manifest row counts reflect the tables
        # actually written (the derived arithmetic is stale once the
        # merge collapses duplicates)
        last, _ = eng.last_round()
        assert (
            eng.store.read_manifest()["snapshot"]["tables"]["frontier"][
                "rows"
            ]
            == eng.store.read(last, "frontier").count()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.spark
def test_two_expiries_at_cap_match_oracle_and_stay_bounded(spark):
    """Two expire() -> run(resume=True) cycles, each at the round cap,
    on a crawl that never drains: the horizon extends exactly one
    max_rounds window per expiry (engine order/seen == oracle with the
    same expire_events), and FURTHER plain resumes run nothing -- the
    expired log from earlier windows must not keep extending the cap
    (the unbounded-crawl regression)."""
    from rsoup_spark.crawl.oracle import simulate

    H = "https://h0.test"

    def page(url, links):
        body = "".join(f'<a href="{x}">x</a>' for x in links)
        return (url, f"<html><body>{body}</body></html>")

    graph = {
        f"{H}/a": [f"{H}/b", f"{H}/c", f"{H}/d", f"{H}/e"],
        f"{H}/b": [], f"{H}/c": [], f"{H}/d": [], f"{H}/e": [],
    }
    pages = spark.createDataFrame(
        [page(u, ls) for u, ls in graph.items()],
        "url string, html string",
    )
    robots = spark.createDataFrame(
        [("h0.test", ["/private"], 1.0)],
        "host string, disallow_prefixes array<string>, crawl_delay double",
    )
    seeds = spark.createDataFrame(
        [(f"{H}/a", 1.0, 0)], "url string, score double, depth int"
    )
    cfg = CrawlConfig(batch_size=1, round_seconds=1.0, max_rounds=2,
                      n_shards=4, checkpoint_coalesce=1)
    tmp = tempfile.mkdtemp(prefix="recrawl_2x_")
    try:
        eng = CrawlEngine(spark, pages, robots, tmp, cfg)
        h = eng.run(seeds=seeds)
        assert len(h) == 2 and h[-1]["n_scheduled"] > 0  # capped mid-work
        ev1, ev2 = [f"{H}/a"], [f"{H}/b"]
        eng.expire(spark.createDataFrame([(u,) for u in ev1], "url string"))
        assert len(eng.run(resume=True)) == 2  # one window, not more
        eng.expire(spark.createDataFrame([(u,) for u in ev2], "url string"))
        assert len(eng.run(resume=True)) == 2
        want_order, want_seen = simulate(
            graph, [(f"{H}/a", 1.0, 0)],
            [("h0.test", ["/private"], 1.0)],
            batch_size=1, round_seconds=1.0, max_rounds=2,
            expire_events=[ev1, ev2],
        )
        assert eng.crawl_order() == want_order
        assert eng.seen_set() == want_seen
        # stale expired log must not re-extend: repeated plain resumes
        # at the new cap run zero rounds
        assert eng.run(resume=True) == []
        assert eng.run(resume=True) == []
        assert eng.last_round()[0] == 6
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.spark
def test_bloom_authoritative_crawl_matches_oracle(spark, web):
    """Production mode (exact_backstop=False, the Bloom IS the seen
    set), sized so it has no false positives: order/seen match the
    oracle, and the false-positive count is reported as unobservable
    (None) rather than as 0."""
    from rsoup_spark.crawl.fixtures import robots_rows
    from rsoup_spark.crawl.oracle import simulate

    pages, robots, seeds = web
    cfg = CrawlConfig(batch_size=16, max_rounds=4, n_shards=8,
                      m_bits=1 << 20, exact_backstop=False)
    tmp = tempfile.mkdtemp(prefix="recrawl_auth_")
    try:
        eng = CrawlEngine(spark, pages, robots, tmp, cfg)
        history = eng.run(seeds=seeds)
        graph = {
            r["url"]: list(r["out_links"])
            for r in pages.select("url", "out_links").collect()
        }
        want_order, want_seen = simulate(
            graph,
            [(r["url"], r["score"], r["depth"]) for r in seeds.collect()],
            robots_rows(4),
            batch_size=cfg.batch_size,
            round_seconds=cfg.round_seconds,
            max_rounds=cfg.max_rounds,
        )
        assert eng.crawl_order() == want_order
        assert eng.seen_set() == want_seen
        assert history
        assert all(m["bloom_false_positives"] is None for m in history)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.spark
def test_backstop_off_resume_after_expiry_raises(spark, web):
    """A checkpoint expired with the backstop on cannot resume with it
    off: only the backstop's anti-join re-admits the victims, so the
    round refuses before it writes anything."""
    pages, robots, seeds = web
    cfg = CrawlConfig(batch_size=16, max_rounds=2, n_shards=8,
                      m_bits=1 << 16)
    tmp = tempfile.mkdtemp(prefix="recrawl_off_")
    try:
        eng = _run_to_done(spark, web, cfg, tmp)
        victims = sorted(u for _r, _k, u in eng.crawl_order())[:2]
        r0 = eng.expire(
            spark.createDataFrame([(u,) for u in victims], "url string")
        )["round"]
        off = CrawlConfig(batch_size=16, max_rounds=2, n_shards=8,
                          m_bits=1 << 16, exact_backstop=False)
        resumed = CrawlEngine(spark, pages, robots, tmp, off)
        with pytest.raises(ValueError, match="bloom cannot delete"):
            resumed.run(resume=True)
        assert resumed.last_round() == (r0, False)
        assert not resumed.store.exists(r0 + 1, "order")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.spark
def test_capped_resume_stays_capped_without_expiry(spark, web):
    """A crawl that hits max_rounds with work remaining keeps its cap
    on plain resume (no silent unbounded crawl); only a post-expiry
    resume extends the horizon."""
    cfg = CrawlConfig(batch_size=4, round_seconds=1.0, max_rounds=2,
                      n_shards=8, m_bits=1 << 16)
    tmp = tempfile.mkdtemp(prefix="recrawl_cap_")
    try:
        pages, robots, seeds = web
        eng = CrawlEngine(spark, pages, robots, tmp, cfg)
        h = eng.run(seeds=seeds)
        assert len(h) == 2 and h[-1]["n_scheduled"] > 0  # capped mid-work
        assert eng.run(resume=True) == []  # cap respected
        assert eng.last_round()[0] == 2
        # post-expiry resume DOES get a fresh window and recrawls
        victims = sorted(u for _r, _k, u in eng.crawl_order())[:2]
        eng.expire(
            spark.createDataFrame([(u,) for u in victims], "url string")
        )
        h2 = eng.run(resume=True)
        assert h2, "post-expiry resume must run rounds past the cap"
        resched = {
            u for r, _k, u in eng.crawl_order()
            if r > 2 and u in set(victims)
        }
        assert resched == set(victims)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.spark
def test_fresh_engine_resumes_expiry_checkpoint(spark, web):
    """A checkpoint holding finished rounds and an expiry, written by one
    engine, resumes in a fresh engine -- as in a new process, whose store
    infers every table's schema from the files -- and ends exactly where
    the oracle's expire-then-resume ends."""
    from rsoup_spark.crawl.fixtures import robots_rows
    from rsoup_spark.crawl.oracle import simulate

    pages, robots, seeds = web
    cfg = CrawlConfig(batch_size=16, max_rounds=3, n_shards=8,
                      m_bits=1 << 14)
    tmp = tempfile.mkdtemp(prefix="recrawl_fresh_")
    try:
        first = _run_to_done(spark, web, cfg, tmp)
        victims = sorted(u for _r, _k, u in first.crawl_order())[:4]
        first.expire(
            spark.createDataFrame([(u,) for u in victims], "url string")
        )
        resumed = CrawlEngine(spark, pages, robots, tmp, cfg)
        assert resumed.run(resume=True)
        graph = {
            r["url"]: list(r["out_links"])
            for r in pages.select("url", "out_links").collect()
        }
        want_order, want_seen = simulate(
            graph,
            [(r["url"], r["score"], r["depth"]) for r in seeds.collect()],
            robots_rows(4),
            batch_size=cfg.batch_size,
            round_seconds=cfg.round_seconds,
            max_rounds=cfg.max_rounds,
            expire_events=[victims],
        )
        assert resumed.crawl_order() == want_order
        assert resumed.seen_set() == want_seen
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.spark
def test_nondeterministic_expiry_input_is_read_once(spark, web):
    """expire() from a DataFrame that differs on every evaluation (a
    random filter): the expired log and the re-enqueue see the same
    victims, and the resumed crawl matches the oracle expiring exactly
    the logged URLs."""
    import random

    from rsoup_spark.crawl.fixtures import robots_rows
    from rsoup_spark.crawl.oracle import simulate

    pages, robots, seeds = web
    cfg = CrawlConfig(batch_size=16, max_rounds=3, n_shards=8,
                      m_bits=1 << 16)
    tmp = tempfile.mkdtemp(prefix="recrawl_rand_")
    try:
        eng = _run_to_done(spark, web, cfg, tmp)
        r0 = eng.last_round()[0]
        frontier_before = {
            r["url"] for r in eng.store.read(r0, "frontier").collect()
        }
        coin = F.udf(lambda _u: random.random() < 0.5,
                     "boolean").asNondeterministic()
        info = eng.expire(eng._read_seen(r0).where(coin("url")))
        expired = {r["url"] for r in eng.store.read(r0, "expired").collect()}
        assert expired and info["n_expired"] == len(expired)
        # the frontier gained exactly the logged URLs
        frontier = {
            r["url"] for r in eng.store.read(r0, "frontier").collect()
        }
        assert frontier - frontier_before == expired - frontier_before
        assert expired <= frontier

        eng.run(resume=True)
        graph = {
            r["url"]: list(r["out_links"])
            for r in pages.select("url", "out_links").collect()
        }
        want_order, want_seen = simulate(
            graph,
            [(r["url"], r["score"], r["depth"]) for r in seeds.collect()],
            robots_rows(4),
            batch_size=cfg.batch_size,
            round_seconds=cfg.round_seconds,
            max_rounds=cfg.max_rounds,
            expire_events=[sorted(expired)],
        )
        assert eng.crawl_order() == want_order
        assert eng.seen_set() == want_seen
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

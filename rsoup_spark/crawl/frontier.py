"""From-scratch distributed URL frontier + politeness scheduler.

North-rule semantics (BASELINE.json): extracted anchors are
canonicalized (RFC 3986 + lowercase host + strip fragment),
deduplicated against a partitioned Bloom URL-seen set sharded by
host-hash, and scheduled through a per-host politeness priority queue
(crawl-delay, robots allow/deny, score/depth priority).  State is
checkpointed per round with per-partition lineage + metrics so any run
resumes exactly.

Round algorithm (mirrored 1:1 by the oracle simulator in oracle.py --
crawl-order and seen-set equality are asserted in tests):

1. candidates = frontier |x| broadcast(robots); URLs whose path matches
   a disallow prefix are dropped for good (counted), unless an equally
   long or longer allow prefix matches (RFC 9309 longest-match-wins,
   allow winning ties; robots.py parses raw robots.txt to this form).
1b. (cfg.template_budget) per-(host, url-template) trap rationing
   against crawler traps (crawl/traps.py masking): templates whose
   lifetime schedule count is spent drop from the frontier for good
   (counted as n_template_blocked); live templates admit only their
   remaining budget's best-priority URLs this round, the rest stay
   queued.  Counts append to a tpl_counts log (O(batch) rows/round)
   folded + broadcast at round start.
2. per-host budget b = max(1, floor(round_seconds / crawl_delay)):
   rank per host by (score desc, depth asc, url asc), keep rank <= b.
3. global batch: order by (score desc, depth asc, url asc), limit
   batch_size -> the round's crawl order (deterministic total order;
   physical plan is TakeOrderedAndProject, no full sort materialized).
4. fetch scheduled URLs from the page store (left join on url).
5. harvest anchors from spans (Arrow UDF), canonicalize against the
   source URL, keep http(s), dedup within the round.
6. Bloom filter-and-insert per host-hash shard (partition-local), then
   exact anti-join of the FULL candidate set against the seen table --
   the correctness backstop that also recovers and counts Bloom false
   positives (cfg.exact_backstop; off at production scale).
7. new frontier entries: depth = min(parent depth)+1, score =
   max(parent score) * decay; frontier' = (allowed - scheduled) + new.

TTL / recrawl (``CrawlEngine.expire``): Bloom bits are never cleared.
An expired URL is appended to an ``expired`` event log, leaves the
seen table through the last-add vs last-expiry anti-join, and is
re-admitted by the exact backstop (its stale Bloom hits count as
``bloom_false_positives``) -- so expiry needs ``exact_backstop``.

Shuffle budget per round: one window shuffle on host (politeness), one
repartition on shard_id (Bloom), one anti-join on url (backstop --
dropped at production scale where the Bloom is authoritative), the
top-k is a reduce.  Robots is always broadcast.  AQE handles skewed
hosts; host 0 in the fixture is deliberately 10x hot.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .bloom import empty_shards, filter_and_update, with_shard_cols
from .statestore import ParquetStateStore

DECAY = 0.85
# hot hosts are sub-split this many ways inside the politeness shuffle
HOST_SALT_SHARDS = 4
# raised by expire() and by a recrawl round when the backstop is off
_NO_DELETE = "bloom cannot delete: expiry needs exact_backstop=True"


@dataclass
class CrawlConfig:
    batch_size: int = 64
    round_seconds: float = 10.0
    max_rounds: int = 50
    n_shards: int = 64
    # the URL-seen set is a partitioned Bloom filter (crawl/bloom.py):
    # n_shards blobs of m_bits bits, bloom_k probes per URL.  No
    # deletion and no false negatives; its false positives are
    # recovered by exact_backstop below
    m_bits: int = 1 << 20
    bloom_k: int = 5
    # frontier priority: "decay" = parent-score * DECAY (default);
    # "pagerank" = re-score the whole frontier each round from integer
    # PageRank over the discovered link graph (ops/graph.py).  Floor
    # division keeps every rank an exact integer, so the oracle
    # simulator reproduces the ordering bit-for-bit at any out-degree.
    score_mode: str = "decay"  # "decay" | "pagerank"
    pr_iters: int = 3
    # exact seen anti-join after the bloom prefilter: recovers bloom
    # false positives (urls the bloom wrongly claims seen would
    # otherwise be silently lost) and is what lets expire() recrawl.
    # At 10^10-url scale the bloom is authoritative and this is turned
    # off (accepting fp-rate loss; no expiry).
    exact_backstop: bool = True
    # coalesce per-round state writes locally (small rounds produce
    # 32 tiny files per table otherwise); None = natural partitioning
    # (production: let output committers handle file sizing)
    checkpoint_coalesce: int | None = 8
    # per-(host, URL-template) crawl budget (crawler-trap rationing,
    # crawl/traps.py).  None = off.  When set, a URL whose template
    # has already been scheduled `template_budget` times across the
    # crawl is dropped permanently (counted as n_template_blocked);
    # within a round, only the remaining budget's best-priority URLs
    # per template are eligible, the rest stay queued.  Scheduled
    # counts append to a per-round `tpl_counts` log (O(batch) rows a
    # round), folded and BROADCAST at round start -- the template
    # table is bounded by site structure, never by page count.  Must
    # be set from init_state on (the counts log starts at round 1).
    template_budget: int | None = None


def _metrics(obs: Observation) -> dict:
    """What an Observation recorded (blocks until its DataFrame ran).
    Adaptive execution drops a subtree it proves empty, observer
    included, which leaves an empty row: every count in it is 0."""
    if obs._jo.getRow().size() == 0:
        return {}
    return obs.get


def _count(obs: Observation) -> int:
    """The single count recorded by ``_observe_count``."""
    return int(_metrics(obs).get("n", 0))


def _observe_count(df: DataFrame, obs: Observation) -> DataFrame:
    return df.observe(obs, F.count(F.lit(1)).alias("n"))


class _Checkpoint:
    """A checkpoint's state-table writes (frontier/seen/shards/lineage/
    tpl_counts -> independent paths), submitted to a thread pool as
    concurrent Spark jobs.  ``join`` waits for every write and
    re-raises the first failure; it MUST run before write_manifest --
    the manifest commits the round, so it cannot observe a
    partially-written table on crash."""

    def __init__(self, store, round_no: int) -> None:
        self.store, self.round = store, round_no
        self.pool = ThreadPoolExecutor(4)
        self.pending: list[Future] = []

    def _write(self, df: DataFrame, name: str, how: str) -> None:
        if how == "rewrite":
            self.store.rewrite(df, self.round, name)
        else:
            self.store.write(df, self.round, name, mode=how)

    def write(self, df: DataFrame, name: str, how: str = "overwrite"):
        """Start writing ``df`` as table ``name`` (``how``: "overwrite",
        "append" or "rewrite"); returns a call that waits for this
        write (re-raising its failure)."""
        fut = self.pool.submit(self._write, df, name, how)
        self.pending.append(fut)
        return fut.result

    def join(self) -> None:
        for fut in self.pending:
            fut.result()
        self.pending.clear()

    def close(self) -> None:
        """Join or cancel every in-flight writer (also on failure, so a
        retry of the round cannot race orphaned writers)."""
        self.pool.shutdown(wait=True, cancel_futures=True)


class CrawlEngine:
    """Iterative-batch crawl driver.

    Rounds are deterministic batch jobs (not Structured Streaming):
    crawl-order equality under a fixed seed list requires batch
    barriers a continuous trigger can't give (SURVEY.md §2.2).  Each
    round ends in one checkpoint = frontier/seen/shards/metrics
    parquet + a manifest; ``resume`` restarts from the last manifest.
    """

    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        robots: DataFrame,
        ckpt_dir: str,
        config: CrawlConfig | None = None,
        store: ParquetStateStore | None = None,
    ) -> None:
        self.spark = spark
        self.cfg = config or CrawlConfig()
        self.ckpt = ckpt_dir
        # state store abstraction (north_rule: Iceberg checkpoints with
        # per-partition lineage): parquet-backed in the sandbox, the
        # IcebergStateStore implements the same interface for clusters
        # with the runtime jars
        self.store = store or ParquetStateStore(
            spark, ckpt_dir, coalesce=self.cfg.checkpoint_coalesce
        )
        self.pages = pages.select("url", "html")
        if "allow_prefixes" not in robots.columns:
            # structured-robots compatibility: no allow carve-outs
            robots = robots.withColumn(
                "allow_prefixes",
                F.array().cast("array<string>"),
            )
        robots = robots.withColumn(
            "budget",
            F.greatest(
                F.lit(1),
                F.floor(F.lit(self.cfg.round_seconds) / F.col("crawl_delay")),
            ).cast("int"),
        )
        self.robots = robots.persist()

    # -- state io -----------------------------------------------------------
    def _path(self, round_no: int, name: str) -> str:
        return self.store.path(round_no, name)

    def init_state(self, seeds: DataFrame) -> None:
        cfg = self.cfg
        os.makedirs(self.ckpt, exist_ok=True)
        frontier = seeds.select(
            "url",
            F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host"),
            "depth",
            "score",
        )
        # charge the seeds into the seen filter so rediscovered seeds dedup
        seed_cand = with_shard_cols(frontier, "url", "host", cfg.n_shards)
        _, shards, _ = filter_and_update(
            seed_cand, empty_shards(self.spark, cfg.n_shards, cfg.m_bits),
            cfg.n_shards, cfg.m_bits, cfg.bloom_k, persist=False,
        )
        ckpt = _Checkpoint(self.store, 0)
        try:
            ckpt.write(frontier, "frontier")
            # the seen set is append-only: round r's dir holds only the
            # urls first discovered in round r, so each checkpoint writes
            # O(new) not O(total) -- at 10^10 urls this is the difference
            # between a snapshot append and rewriting the world every
            # round (the Iceberg production analogue is an append commit
            # + MERGE)
            ckpt.write(seeds.select("url"), "seen")
            ckpt.write(shards, "shards")
            ckpt.join()
        finally:
            ckpt.close()
        self.store.write_manifest(0, done=False)

    def _read_seen(self, up_to_round: int):
        """Union of the per-round seen appends (one multi-path scan).

        Once any expiry has happened (``expire``), membership becomes
        an event-log reduction: a URL is seen iff its latest add round
        is later than its latest expiry round -- so re-discovered
        expired URLs re-enter cleanly and double-expiry is idempotent.
        Equivalently, some add of the URL has no expiry in the same or
        a later round: one anti-join, no aggregation (a URL may appear
        more than once; every consumer is an anti-join or a set).  The
        plain-append fast path stays shuffle-free for the common
        no-expiry crawl.
        """
        if not self.store.has_log("expired", up_to_round):
            return self.store.read_log("seen", up_to_round)
        adds = self.store.read_log_with_round("seen", up_to_round)
        exps = self.store.read_log_with_round("expired", up_to_round)
        return adds.alias("a").join(
            exps.alias("e"),
            (F.col("a.url") == F.col("e.url"))
            & (F.col("e.round") >= F.col("a.round")),
            "left_anti",
        ).select("url")

    def last_round(self) -> tuple[int, bool]:
        m = self.store.read_manifest()
        return m["round"], m["done"]

    # -- TTL / recrawl expiry ------------------------------------------------
    def expire(self, urls: DataFrame, reenqueue: bool = True,
               score: float | None = None) -> dict:
        """Between-rounds maintenance: forget ``urls`` (one ``url``
        column) from the seen set so the crawler revisits them.

        Bloom bits cannot be cleared, so expiry rides entirely on the
        expired event log + the exact backstop anti-join: the URL is
        appended to the ``expired`` log at the current round
        (``_read_seen`` then applies last-add-wins vs last-expiry-wins),
        and the filter's stale 'seen' claims surface as recovered false
        positives in the round metrics.  With the backstop off nothing
        could recrawl, so it raises.  With ``reenqueue`` the URL
        re-enters the frontier at depth 0 with ``score`` so the
        politeness scheduler picks it up next round instead of waiting
        for organic rediscovery.  Resumable like everything else: both
        writes land in the current round's checkpoint before the method
        returns.
        """
        cfg = self.cfg
        if score is None:
            # 'seed priority' must mean it on both score scales: decay
            # scores are <= 1.0, but pagerank frontier scores are
            # >= 12**pr_iters // 2 -- a 1.0 default would sort victims
            # LAST in the next batch instead of first.
            score = (
                float(12 ** cfg.pr_iters)
                if cfg.score_mode == "pagerank"
                else 1.0
            )
        if not cfg.exact_backstop:
            raise ValueError(_NO_DELETE)
        r, _ = self.last_round()
        # persisted: the expired log and the re-enqueue must see the
        # same victims, also when ``urls`` is nondeterministic (a
        # sample, an unordered limit)
        victims = urls.select(
            "url",
            F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host"),
        ).persist()
        n_expired = Observation()
        ckpt = _Checkpoint(self.store, r)
        try:
            # the expired log first: it builds the victims cache, and a
            # failed append stops the expiry before the frontier is
            # rewritten.  Append: several expire() calls can land in the
            # same round
            ckpt.write(
                _observe_count(victims.select("url"), n_expired),
                "expired", how="append",
            )()
            if reenqueue:
                frontier = self.store.read(r, "frontier")
                merged = (
                    frontier.unionByName(
                        victims.select(
                            "url",
                            "host",
                            F.lit(0).alias("depth"),
                            F.lit(score).alias("score"),
                        )
                    )
                    # a URL already in the frontier keeps its best priority
                    .groupBy("url", "host")
                    .agg(
                        F.min("depth").alias("depth"),
                        F.max("score").alias("score"),
                    )
                )
                ckpt.write(merged, "frontier", how="rewrite")
            ckpt.join()
        finally:
            ckpt.close()
            victims.unpersist()
        if reenqueue:
            # a finished crawl has work again: clear done so resume
            # runs; the current horizon carries through so a mid-window
            # expiry does not re-extend (run's extension rule)
            m = self.store.read_manifest()
            self.store.write_manifest(r, done=False,
                                      horizon=m.get("horizon"),
                                      snapshot=m.get("snapshot"))
        return {"round": r, "n_expired": _count(n_expired),
                "reenqueued": bool(reenqueue)}

    # -- one round -----------------------------------------------------------
    def run_round(self, r: int) -> dict:
        """Round r reads round r-1 state and writes round r state."""
        ckpt = _Checkpoint(self.store, r)
        try:
            return self._run_round(r, ckpt)
        finally:
            ckpt.close()

    def _run_round(self, r: int, ckpt: _Checkpoint) -> dict:
        """The round's Spark work is its checkpoint writes: every count
        the metrics report is an ``Observation`` riding on a write that
        runs anyway, and a DataFrame is persisted only where two writes
        consume it.  A counter inside a cache is final only once the
        query that built the cache is done, so the two writes that
        build the shared caches finish before any other reader starts:
        ``order`` (robots gate + schedule), while the driver builds the
        rest of the round, then ``seen`` (fetch + harvest + dedup).
        The other writes run concurrently."""
        cfg = self.cfg
        t0 = time.time()
        # a recrawl round: an expiry is logged, so seen can lose URLs.
        # Only the backstop re-admits them (a checkpoint expired with
        # it on cannot resume with it off): refuse before any write
        recrawl = self.store.has_log("expired", r - 1)
        if recrawl and not cfg.exact_backstop:
            raise ValueError(_NO_DELETE)
        frontier = self.store.read(r - 1, "frontier")
        seen = self._read_seen(r - 1)
        shards = self.store.read(r - 1, "shards")
        obs = {k: Observation() for k in (
            "cand", "tpl", "sched", "fetched", "discovered", "bloom_new",
            "new", "frontier", "seen")}

        # 1. robots gate (broadcast join; parse_url stays in codegen).
        # RFC 9309 longest-match-wins between allow and disallow with
        # allow winning ties ("least restrictive rule"): blocked iff
        # the longest matching disallow prefix is strictly longer than
        # the longest matching allow prefix (-1 = no match on a side).
        cand = frontier.join(F.broadcast(self.robots), "host", "left")
        path = F.coalesce(F.parse_url("url", F.lit("PATH")), F.lit("/"))

        def longest_match(col: str):
            return F.coalesce(
                F.array_max(
                    F.transform(
                        F.filter(
                            F.coalesce(col, F.array()),
                            lambda p: path.startswith(p),
                        ),
                        F.length,
                    )
                ),
                F.lit(-1),
            )

        blocked_cond = longest_match("disallow_prefixes") > longest_match(
            "allow_prefixes"
        )
        # not persisted: the schedule and the carried-over frontier each
        # read it, and a second broadcast of robots costs the frontier
        # write one job where a cache would cost the schedule one.  The
        # counters are first reported by the order write below.
        cand = cand.withColumn("blocked", blocked_cond).observe(
            obs["cand"], F.count(F.lit(1)).alias("candidates"),
            F.count_if("blocked").alias("blocked"),
        )
        allowed = cand.where(~F.col("blocked"))

        # 1b. per-template trap rationing (cfg.template_budget).  The
        # folded counts table is template-sized (bounded by site
        # structure) so it broadcasts; the admission rank windows on
        # (host, template) -- one extra shuffle, budget mode only.
        # Exhausted templates leave the frontier permanently (the trap
        # never drains); rank-overflow URLs stay queued because budget
        # is only consumed by ACTUAL schedules, which the batch limit
        # may cut below the admitted set.
        tpl_cache = None
        if cfg.template_budget is not None:
            from .traps import url_template

            _, tpl_expr, _ = url_template(F.col("url"))
            alw = allowed.withColumn("template", tpl_expr)
            if self.store.has_log("tpl_counts", r - 1):
                used = (
                    self.store.read_log("tpl_counts", r - 1)
                    .groupBy("host", "template")
                    .agg(F.sum("n_scheduled").alias("__used"))
                )
                alw = alw.join(
                    F.broadcast(used), ["host", "template"], "left"
                )
            else:
                alw = alw.withColumn("__used", F.lit(None).cast("long"))
            alw = (
                alw.withColumn(
                    "tused", F.coalesce("__used", F.lit(0)).cast("long")
                )
                .drop("__used")
                .observe(obs["tpl"], F.count_if(
                    F.col("tused") >= cfg.template_budget
                ).alias("tpl_blocked"))
                .persist()
            )
            tpl_cache = alw
            live = alw.where(F.col("tused") < cfg.template_budget)
            wt = Window.partitionBy("host", "template").orderBy(
                F.desc("score"), F.asc("depth"), F.asc("url")
            )
            admitted = (
                live.withColumn("trank", F.row_number().over(wt))
                .where(F.col("trank") <= cfg.template_budget
                       - F.col("tused"))
                .drop("trank", "template", "tused")
            )
            carry_allowed = live.drop("template", "tused")
        else:
            admitted = allowed
            carry_allowed = allowed

        # 2. per-host politeness budget, two-phase against hot-host skew:
        # pre-rank within (host, url-salt) sub-partitions, keep the
        # per-salt top-budget (a superset of the per-host top-budget),
        # then the per-host rank sorts only salt*budget rows per host
        budget = F.coalesce("budget", F.lit(1))
        priority = (F.desc("score"), F.asc("depth"), F.asc("url"))
        w1 = Window.partitionBy("host", "salt").orderBy(*priority)
        w2 = Window.partitionBy("host").orderBy(*priority)
        eligible = (
            admitted.withColumn(
                "salt",
                F.pmod(F.xxhash64("url"), F.lit(HOST_SALT_SHARDS)),
            )
            .withColumn("pre_rank", F.row_number().over(w1))
            .where(F.col("pre_rank") <= budget)
            .withColumn("host_rank", F.row_number().over(w2))
            .where(F.col("host_rank") <= budget)
        )

        # 3. global deterministic batch (top-k, not a full sort) ranked
        # into the round's crawl order.  NOTE: the unpartitioned window
        # intentionally runs on a single partition -- its input is the
        # top-k output (<= cfg.batch_size rows, one partition, already
        # in priority order, so it adds no exchange and no sort), and
        # the crawl-order contract needs one global, deterministic
        # rank.  Do not "fix" the WindowExec warning by partitioning;
        # that would break order equality.
        scheduled = _observe_count(
            eligible.orderBy(*priority)
            .limit(cfg.batch_size)
            .select(
                F.lit(r).alias("round"),
                F.row_number().over(Window.orderBy(*priority))
                .alias("rank"),
                "url",
                "host",
                "depth",
                "score",
            ),
            obs["sched"],
        ).persist()
        # builds the scheduled cache, so its counters are final once it
        # is done; the next writes are built while it runs
        order_done = ckpt.write(scheduled, "order")

        # 4.-5. fetch + harvest + canonicalize (one fused Python pass
        # that carries each page's depth and score onto its links)
        from ..operators.extract import harvest_canonical_links

        fetched = _observe_count(
            scheduled.select(
                F.col("url").alias("src_url"),
                F.col("depth").alias("p_depth"),
                F.col("score").alias("p_score"),
            )
            .join(self.pages.withColumnRenamed("url", "src_url"), "src_url")
            .where(F.col("html").isNotNull()),
            obs["fetched"],
        )
        canon = harvest_canonical_links(
            fetched, "src_url", "html", keep=("p_depth", "p_score")
        )

        # per-URL aggregation in the JVM: map-side partial agg shrinks
        # the shuffle ~8:1.  (Folding the dedup into the bloom pass was
        # measured slower -- it feeds every raw contribution row
        # through pandas.)
        contrib = _observe_count(
            canon.groupBy("url")
            .agg(
                (F.min("p_depth") + 1).cast("int").alias("depth"),
                F.round(F.max("p_score") * DECAY, 9).alias("score"),
            )
            .withColumn(
                "host", F.regexp_extract("url", r"^https?://([^/]+)", 1)
            ),
            obs["discovered"],
        )
        if recrawl:
            # recrawl path: an expired victim scheduled THIS round is
            # absent from round r-1's seen set, so a same-round link to
            # it would re-admit it as "new" and crawl it twice.  This
            # round's scheduled set is the missing piece of "seen as of
            # now"; in a plain crawl scheduled ⊆ seen makes this
            # anti-join a waste.
            contrib = contrib.join(scheduled.select("url"), "url",
                                   "left_anti")
        # two consumers: the seen filter pass and the backstop
        cand_new = with_shard_cols(
            contrib, "url", "host", cfg.n_shards
        ).persist()

        # 6. bloom dedup (partition-local per shard); the cogroup
        # provides its own exchange on shard_id.  probably_new is the
        # bloom-negative subset -- always truly unseen (no false
        # negatives), but the bloom's false POSITIVES are urls it
        # wrongly claims seen: without the exact backstop they are
        # silently lost.  The backstop anti-joins the full candidate
        # set against seen, so new_urls is exact and the fp count is
        # observable as n_new - n_bloom_new (probably_new ⊆ new_urls).
        # With the backstop on, the pass feeds only the shards write.
        probably_new, new_shards, bloom_cache = filter_and_update(
            cand_new, shards, cfg.n_shards, cfg.m_bits, cfg.bloom_k,
            persist=not cfg.exact_backstop, added=obs["bloom_new"],
        )
        rescheduled = None
        if cfg.exact_backstop:
            # one anti-join against seen serves both the new URLs and,
            # on recrawl rounds, the rescheduled victims: an expired
            # URL re-enqueued by expire() is scheduled while absent from
            # seen -- crawling it re-seens it even when no surviving
            # page links to it.  The two parts are disjoint (cand_new
            # excludes this round's scheduled URLs on recrawl rounds).
            probe = cand_new.select(
                "url", "host", "depth", "score", F.lit(False).alias("sched")
            )
            if recrawl:
                probe = probe.unionByName(scheduled.select(
                    "url", "host", "depth", "score",
                    F.lit(True).alias("sched"),
                ))
            # not persisted: the frontier write repeats the anti-join
            # (broadcasts it can run alongside its others) rather than
            # the seen write paying a cache stage on the round's
            # critical path
            unseen = probe.join(seen, "url", "left_anti")
            new_urls = unseen.where(~F.col("sched")).drop("sched")
            if recrawl:
                rescheduled = unseen.where(F.col("sched")).select("url")
        else:
            # production path: bloom is authoritative (fp-rate loss
            # accepted); the seen anti-join shuffle disappears (the pass
            # output is cached, so new_urls is a filter of it)
            new_urls = probably_new.select("url", "host", "depth", "score")
        # append-only seen: only this round's new (and, on recrawl
        # rounds, rescheduled) urls are written
        new_seen = _observe_count(new_urls, obs["new"]).select("url")
        if rescheduled is not None:
            new_seen = new_seen.unionByName(rescheduled.select("url"))

        order_done()
        n_scheduled = _count(obs["sched"])
        # per-partition lineage (north_rule: per-partition lineage +
        # metrics): the batch is the top-k's single partition 0, so its
        # row is known on the driver
        lineage = self.spark.createDataFrame(
            [(0, n_scheduled, r)] if n_scheduled else [],
            "partition_id INT, urls_scheduled BIGINT, round INT",
        )
        ckpt.write(lineage, "lineage")

        if cfg.template_budget is not None:
            # append this round's per-template schedule counts
            # (<= batch_size rows): the budget is consumed by actual
            # schedules only, so next round's fold sees exact usage
            inc = (
                scheduled.withColumn("template", tpl_expr)
                .groupBy("host", "template")
                .agg(F.count("*").cast("long").alias("n_scheduled"))
            )
            ckpt.write(inc, "tpl_counts")

        # seen is written before the rest: it builds the cand_new (and,
        # backstop off, the bloom) cache, so the fetch and harvest
        # counters are final once it is done
        ckpt.write(_observe_count(new_seen, obs["seen"]), "seen")()
        ckpt.write(new_shards, "shards")

        # 7. next state
        next_frontier = (
            carry_allowed.join(scheduled.select("url"), "url", "left_anti")
            .select("url", "host", "depth", "score")
            .unionByName(new_urls)
        )
        if recrawl:
            # after an expiry, a re-enqueued URL can ALSO be organically
            # rediscovered before it gets scheduled (it is no longer in
            # seen), putting it in both union branches -- collapse to
            # the best priority.  Expiry-only: the plain crawl's union
            # branches are disjoint by the seen anti-join, so the extra
            # shuffle would be waste there.
            next_frontier = next_frontier.groupBy("url", "host").agg(
                F.min("depth").alias("depth"),
                F.max("score").alias("score"),
            )
        if cfg.score_mode == "pagerank":
            # re-score the carried-over frontier from integer PageRank
            # over the edges discovered so far (appended per round,
            # read as one log -- O(new) writes like the seen set).
            # Next round's politeness/batch ordering uses these scores;
            # the oracle simulator mirrors the arithmetic exactly.
            from ..ops.graph import pagerank_int

            edges_r = canon.select(
                F.col("src_url").alias("src"), F.col("url").alias("dst")
            ).distinct()
            self.store.write(edges_r, r, "edges")
            # distinct across rounds, not just within: after expire() a
            # re-scheduled URL re-harvests its out-links into a later
            # round's log, and duplicate (src,dst) rows would double
            # outdeg and contributions (breaking the outdeg<=3
            # integer-exactness bound).  The oracle accumulates edges
            # as a set; mirror it.
            all_edges = self.store.read_log("edges", r).distinct()
            nodes = (
                all_edges.select(F.col("src").alias("id"))
                .unionByName(all_edges.select(F.col("dst").alias("id")))
                .unionByName(next_frontier.select(F.col("url").alias("id")))
                .distinct()
            )
            pr = pagerank_int(nodes, all_edges, cfg.pr_iters).select(
                F.col("id").alias("url"), "pr_scaled"
            )
            base = float(12 ** cfg.pr_iters // 2)
            next_frontier = next_frontier.join(pr, "url", "left").select(
                "url",
                "host",
                "depth",
                F.coalesce(F.col("pr_scaled").cast("double"), F.lit(base))
                .alias("score"),
            )
        ckpt.write(_observe_count(next_frontier, obs["frontier"]), "frontier")

        # join every in-flight checkpoint write BEFORE the manifest
        # commit; wall_ms therefore still covers the full round
        # including checkpoint I/O
        ckpt.join()

        cand_counts = _metrics(obs["cand"])
        n_bloom_new = int(_metrics(obs["bloom_new"]).get("added", 0))
        n_new = _count(obs["new"])
        metrics = {
            "round": r,
            "n_candidates": int(cand_counts.get("candidates", 0)),
            "n_blocked": int(cand_counts.get("blocked", 0)),
            "n_scheduled": n_scheduled,
            "n_fetched": _count(obs["fetched"]),
            "n_discovered": _count(obs["discovered"]),
            "n_bloom_new": n_bloom_new,
            "n_new": n_new,
            # urls the bloom wrongly claimed seen, recovered by the
            # exact backstop (None when the backstop is off: without
            # the exact join the loss is unobservable)
            "bloom_false_positives": (
                n_new - n_bloom_new if cfg.exact_backstop else None
            ),
            # urls dropped for good because their template's budget is
            # spent (None when template rationing is off)
            "n_template_blocked": (
                int(_metrics(obs["tpl"]).get("tpl_blocked", 0))
                if cfg.template_budget is not None else None
            ),
            "wall_ms": int((time.time() - t0) * 1000),
        }
        with open(self._path(r, "metrics.json"), "w") as f:
            json.dump(metrics, f)
        self.store.write_manifest(
            r,
            done=metrics["n_scheduled"] == 0,
            horizon=getattr(self, "_horizon", None) or self.cfg.max_rounds,
            snapshot={
                "tables": {
                    "order": {"rows": metrics["n_scheduled"]},
                    "seen": {"rows_appended": _count(obs["seen"])},
                    "frontier": {"rows": _count(obs["frontier"])},
                    "shards": {"rows": cfg.n_shards},
                },
                "lineage": self._path(r, "lineage"),
            },
        )

        for df in (scheduled, cand_new, bloom_cache, tpl_cache):
            if df is not None:
                df.unpersist()
        return metrics

    # -- driver loop ----------------------------------------------------------
    def run(self, seeds: DataFrame | None = None,
            resume: bool = False) -> list[dict]:
        if resume:
            start, done = self.last_round()
            if done:
                return []
            # the crawl's CURRENT round horizon travels in the manifest
            # (written by every round): a resume inside an already-
            # extended window must keep that window's end, not reset to
            # cfg.max_rounds -- otherwise a mid-window resume at
            # start >= cfg.max_rounds would re-extend and diverge from
            # the oracle, which only extends when r >= its current end.
            end = self.store.read_manifest().get(
                "horizon", self.cfg.max_rounds
            ) or self.cfg.max_rounds
        else:
            assert seeds is not None, "fresh run needs seeds"
            self.init_state(seeds)
            start = 0
            end = self.cfg.max_rounds
        # a post-expiry resume always gets rounds to run, even when
        # expire() re-enqueued at the round cap (start == horizon
        # would otherwise make the range empty and silently never
        # recrawl the victims): extend the horizon by another
        # max_rounds window past the cap.  Gated on an expiry logged
        # AT the current round -- i.e. expire() ran after the crawl
        # stopped here -- NOT merely anywhere in the log: any ancient
        # expiry would otherwise extend every later capped resume
        # forever (unbounded crawl).  A plain capped crawl keeps its
        # cap, and an ordinary mid-window resume (start < end) keeps
        # the current window so a resumed crawl stays round-for-round
        # equal to an uninterrupted one (oracle.simulate's rule).
        if start >= end and self.store.exists(start, "expired"):
            end = start + self.cfg.max_rounds
        self._horizon = end
        history = []
        for r in range(start + 1, end + 1):
            m = self.run_round(r)
            history.append(m)
            if m["n_scheduled"] == 0:
                break
        return history

    # -- results -------------------------------------------------------------
    def crawl_order(self) -> list[tuple[int, int, str]]:
        last, _ = self.last_round()
        out = []
        for r in range(1, last + 1):
            p = self._path(r, "order")
            if not os.path.exists(p):
                continue
            rows = (
                self.spark.read.parquet(p)
                .orderBy("round", "rank")
                .select("round", "rank", "url")
                .collect()  # test-only surface: oracle-equality checks
            )
            out.extend((row["round"], row["rank"], row["url"]) for row in rows)
        return out

    def seen_set(self) -> set[str]:
        last, _ = self.last_round()
        # test-only surface: oracle-equality checks
        return {r["url"] for r in self._read_seen(last).collect()}

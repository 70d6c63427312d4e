"""The perfbench workloads and their parts.

Each workload is closed-loop with one client, this process: it makes
the next call into the program only after the previous one returned.

* ``Extract`` -- the Spark extraction operators over a persisted page
  corpus.  Time sits in the ``functions`` kernels and the ``operators``
  Arrow crossing, inside one narrow stage with no shuffle.
* ``Crawl`` -- CrawlEngine rounds over a synthetic web: a fresh crawl,
  one expire() of a seeded victim set, then run(resume=True).  Time
  sits in the crawl layer and Spark's fixed per-job cost.
* ``extract_crawl`` -- both, in one run: a pass is the extraction pass,
  then the crawl pass.
* ``ops`` -- analytics queries over a generated sf dir, each built
  through ``__spark_entry__.queries()`` and written to the noop sink.
  No HTML kernel and no crawl state runs.

A workload exposes ``setup`` (generate + persist inputs), ``warm_up``
(untimed work before the timed passes), ``MIN_PASSES`` (the fewest
timed passes a run makes), ``run_pass`` (one pass; returns
per-operation seconds), ``check`` (output checks, untimed), ``summary``
(the workload's own figures) and ``layers`` (per-layer metrics of a
traced run).
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import checks, gen
from perfbench.tracing import Rollup, TimingStore, Tracer, union_length

MB = 1e6


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def op_medians(passes) -> list[float]:
    """Each operation's median time over the passes; the k-th call of an
    operation within a pass (a crawl pass has two rounds) is its own
    operation.  A slow moment of the machine lands on a few calls of one
    pass, which the per-operation median leaves out."""
    times: dict[tuple[str, int], list[float]] = {}
    for p in passes:
        calls: dict[str, int] = {}
        for op, s in p:
            k = calls[op] = calls.get(op, -1) + 1
            times.setdefault((op, k), []).append(s)
    return [statistics.median(v) for v in times.values()]


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def median_or_zero(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _timed(tracer: Tracer, name: str, call):
    """(result, seconds) of ``call`` inside a span named ``name``."""
    with tracer.span(name):
        t0 = time.perf_counter()
        out = call()
        return out, time.perf_counter() - t0


# -- extract -------------------------------------------------------------------

class Extract:
    OPS = ("spans", "tables", "links")
    SAMPLE = 40  # pages whose Spark output is compared with the functions'

    def __init__(self, spark, seed: int, work: str, tracer: Tracer) -> None:
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.slots = spark.sparkContext.defaultParallelism

    def setup(self) -> None:
        self.pages = gen.extract_corpus(self.seed)
        # contiguous slices, so every seed puts the same page sizes in the
        # same partitions (a round-robin repartition places rows by their
        # content, which made the task skew, and the pass time, vary by seed)
        rows = self.spark.sparkContext.parallelize(
            [(p.url, p.html) for p in self.pages], 2 * self.slots)
        self.df = self.spark.createDataFrame(
            rows, "url string, html string").persist()
        self.df.count()

    def _op(self, name: str):
        from rsoup_spark.operators.extract import (
            extract_spans,
            extract_tables,
            harvest_canonical_links,
        )
        return {"spans": extract_spans, "tables": extract_tables,
                "links": harvest_canonical_links}[name]

    def run_pass(self) -> list[tuple[str, float]]:
        out = []
        for name in self.OPS:
            fn = self._op(name)
            _, dt = _timed(self.tracer, f"operators.{name}",
                           lambda: noop(fn(self.df)))
            out.append((name, dt))
        return out

    def warm_up(self) -> None:
        """Collect the outputs ``check`` compares.  This runs each operator
        over the corpus before timing, which is the warm-up the timed
        passes need: the first passes of a run slow down as JIT
        compilation and JVM heap growth settle (measured 5.1, 4.9, 4.0 s).
        The collects run concurrently, filling each other's idle slots."""
        from pyspark.sql import functions as F

        rng = random.Random(self.seed)
        self.sample = rng.sample([p for p in self.pages if not p.large],
                                 self.SAMPLE - 4)
        self.sample += rng.sample([p for p in self.pages if p.large], 4)
        sub = self.df.where(F.col("url").isin([p.url for p in self.sample]))
        with ThreadPoolExecutor(4) as pool:
            tables = pool.submit(self._op("tables")(self.df).select(
                "url", "id", "n_rows", "n_cols").collect)
            links = pool.submit(self._op("links")(self.df).collect)
            spans = pool.submit(self._op("spans")(sub).collect)
            sample_tables = pool.submit(self._op("tables")(sub).collect)
        self.tables = [tuple(r) for r in tables.result()]
        self.links = [tuple(r) for r in links.result()]
        self.sample_spans = {r["doc_id"]: [s.asDict() for s in r["spans"]]
                             for r in spans.result()}
        self.sample_tables: dict[str, list] = {}
        for r in sample_tables.result():
            self.sample_tables.setdefault(r["url"], []).append(r.asDict(True))

    def check(self) -> dict[str, list[str]]:
        from rsoup_spark.functions.table import TableExtractor
        from rsoup_spark.operators.extract import spans_from_html, table_to_struct

        bad = {"tables": checks.check_tables(self.tables, self.pages),
               "links": checks.check_links(self.links, self.pages)}
        local_spans = {p.url: spans_from_html(p.url, p.html)
                       for p in self.sample}
        bad["spans"] = checks.check_same("spans", self.sample_spans,
                                         local_spans)
        ex = TableExtractor()
        local_tables = {}
        for p in self.sample:
            tbls = [table_to_struct(t) for t in ex.extract(p.url, p.html)]
            if tbls:
                local_tables[p.url] = tbls
        bad["tables"] += checks.check_same("tables", self.sample_tables,
                                           local_tables)
        return bad

    def summary(self, passes) -> dict[str, float]:
        n = len(self.pages)
        t = {op: statistics.median(dict(p)[op] for p in passes)
             for op in self.OPS}
        n_links = sum(len(p.links) for p in self.pages)
        return {"spans_docs_per_s": n / t["spans"],
                "tables_docs_per_s": n / t["tables"],
                "links_per_s": n_links / t["links"]}

    def kernel_rates(self) -> dict[str, float]:
        """Single-process rates of the pure-Python kernels on a seeded
        sample of the corpus (bytes/s and URLs/s), no Spark."""
        from rsoup_spark.functions.dom import parse_document
        from rsoup_spark.functions.table import TableExtractor
        from rsoup_spark.functions.urlnorm import canonicalize_url
        from rsoup_spark.operators.extract import spans_from_html, table_to_struct

        rng = random.Random(self.seed)
        groups = {"small": rng.sample([p for p in self.pages if not p.large],
                                      300),
                  "large": [p for p in self.pages if p.large]}
        ex = TableExtractor()
        kernels = {
            "parse": lambda p: parse_document(p.html),
            "spans": lambda p: spans_from_html(p.url, p.html),
            "tables": lambda p: [table_to_struct(t)
                                 for t in ex.extract(p.url, p.html)],
        }
        rates = {}
        for kname, fn in kernels.items():
            for gname, pages in groups.items():
                nbytes = sum(len(p.html.encode()) for p in pages)
                with self.tracer.span(f"functions.{kname}.{gname}"):
                    t0 = time.perf_counter()
                    for p in pages:
                        fn(p)
                    rates[f"{kname}.{gname}"] = nbytes / (
                        time.perf_counter() - t0)
        pairs = [(s["media_ref"], p.url)
                 for p in groups["small"] + groups["large"]
                 for s in spans_from_html(p.url, p.html)
                 if s["kind"] == "a" and s["media_ref"]]
        with self.tracer.span("functions.canon"):
            t0 = time.perf_counter()
            for _ in range(5):
                for href, base in pairs:
                    canonicalize_url(href, base)
            rates["canon"] = 5 * len(pairs) / (time.perf_counter() - t0)
        return rates

    def layers(self, m: dict, rollup: Rollup, passes) -> None:
        rates = self.kernel_rates()
        for k in ("parse", "spans", "tables"):
            for g in ("small", "large"):
                m[f"functions.{k}_mb_per_s.{g}"] = rates[f"{k}.{g}"] / MB
        m["functions.canon_urls_per_s"] = rates["canon"]

        size = {g: sum(len(p.html.encode()) for p in self.pages
                       if p.large == (g == "large")) for g in ("small", "large")}
        n_links = sum(len(p.links) for p in self.pages)
        spans_k = sum(size[g] / rates[f"spans.{g}"] for g in size)
        kernel_s = {
            "spans": spans_k,
            "tables": sum(size[g] / rates[f"tables.{g}"] for g in size),
            "links": spans_k + n_links / rates["canon"],
        }
        slots = self.slots
        n_pass = len(passes)
        first = self.tracer.named("pass")[0].start
        timed = {op: [s for s in self.tracer.named(f"operators.{op}")
                      if s.start >= first] for op in self.OPS}
        busy, skews = [], []
        for op in self.OPS:
            spans = timed[op]
            task_s = sum(rollup.total(s, "run_ms") for s in spans) / 1000 / n_pass
            m[f"operators.task_s.{op}"] = task_s
            m[f"operators.kernel_share.{op}"] = kernel_s[op] / task_s
            for s in spans:
                runs = [t["run_ms"] for t in rollup.tasks(s)]
                busy.append(sum(runs) / 1000 / (s.dur * slots))
                skews.append(max(runs) / max(statistics.median(runs), 1.0))
        op_spans = [s for op in self.OPS for s in timed[op]]

        def per_pass(key: str, scale: float) -> float:
            return sum(rollup.total(s, key) for s in op_spans) / scale / n_pass

        m["operators.python_boot_s"] = per_pass("py_boot_ms", 1000)
        m["operators.python_init_s"] = per_pass("py_init_ms", 1000)
        m["operators.python_sent_mb"] = per_pass("py_sent_b", MB)
        m["operators.python_received_mb"] = per_pass("py_recv_b", MB)
        m["operators.slot_busy_share"] = statistics.median(busy)
        m["operators.task_skew"] = statistics.median(skews)
        for k, v in self.summary(passes).items():
            m[f"operators.{k}"] = v


# -- crawl ---------------------------------------------------------------------

class Crawl:
    PARAMS = gen.CrawlParams()
    BATCH = 256
    MAX_ROUNDS = 1

    def __init__(self, spark, seed: int, work: str, tracer: Tracer) -> None:
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.n_pass = 0

    def _config(self):
        from rsoup_spark.crawl.frontier import CrawlConfig

        return CrawlConfig(batch_size=self.BATCH, max_rounds=self.MAX_ROUNDS)

    def setup(self) -> None:
        from rsoup_spark.crawl.fixtures import (
            gen_pages,
            gen_robots,
            gen_seeds,
            robots_rows,
        )
        from rsoup_spark.crawl.oracle import simulate

        p = self.PARAMS
        self.pages = gen_pages(self.spark, p.n_hosts, p.base_pages,
                               p.hot_factor, p.links_per_page,
                               self.seed).persist()
        self.pages.count()
        self.robots = gen_robots(self.spark, p.n_hosts)
        self.seeds = gen_seeds(self.spark, p.n_hosts)
        # the victims are URLs the fresh crawl will have scheduled, so the
        # expiry deletes real seen-set entries
        self.graph = gen.crawl_graph(self.seed, p)
        self.seed_rows = [(r["url"], r["score"], r["depth"])
                          for r in self.seeds.collect()]
        cfg = self._config()
        order, _ = simulate(self.graph, self.seed_rows, robots_rows(p.n_hosts),
                            batch_size=cfg.batch_size,
                            round_seconds=cfg.round_seconds,
                            max_rounds=cfg.max_rounds)
        self.victims = gen.crawl_victims(self.seed, [u for *_, u in order],
                                         p.n_victims)
        self.victims_df = self.spark.createDataFrame(
            [(u,) for u in self.victims], "url string")

    def warm_up(self) -> None:
        """None.  The first crawl in a JVM pays for JIT and code generation
        of every job it runs (three extract_crawl passes in one run took
        20.9, 15.6 and 13.9 s), but a warm-up crawl, however small, costs
        about a cold pass, which the benchmark's time budget does not
        hold."""

    def run_pass(self) -> list[tuple[str, float]]:
        from rsoup_spark.crawl.frontier import CrawlEngine
        from rsoup_spark.crawl.statestore import ParquetStateStore

        cfg = self._config()
        self.n_pass += 1
        ckpt = os.path.join(self.work, f"ckpt{self.n_pass}")
        shutil.rmtree(ckpt, ignore_errors=True)
        store = None
        if self.tracer.enabled:
            store = TimingStore(ParquetStateStore(
                self.spark, ckpt, coalesce=cfg.checkpoint_coalesce), self.tracer)
        eng = CrawlEngine(self.spark, self.pages, self.robots, ckpt, cfg,
                          store=store)
        if self.tracer.enabled:
            run_round = eng.run_round

            def traced_round(r: int) -> dict:
                with self.tracer.span("crawl.round", round=r):
                    return run_round(r)

            eng.run_round = traced_round
        fresh, t_fresh = _timed(self.tracer, "crawl.run",
                                lambda: eng.run(seeds=self.seeds))
        _, t_exp = _timed(self.tracer, "crawl.expire",
                          lambda: eng.expire(self.victims_df))
        resumed, _ = _timed(self.tracer, "crawl.resume",
                            lambda: eng.run(resume=True))
        self.engine, self.history = eng, (fresh, resumed)
        self.fresh_wall = t_fresh
        rounds = [("round", m["wall_ms"] / 1000) for m in fresh + resumed]
        # wall_s counts the whole pass; the rounds are its operations
        return rounds + [("expire", t_exp)]

    def check(self) -> dict[str, list[str]]:
        from rsoup_spark.crawl.fixtures import robots_rows
        from rsoup_spark.crawl.oracle import simulate

        cfg = self._config()
        want_order, want_seen = simulate(
            self.graph, self.seed_rows, robots_rows(self.PARAMS.n_hosts),
            batch_size=cfg.batch_size, round_seconds=cfg.round_seconds,
            max_rounds=cfg.max_rounds, expire_events=[self.victims])
        bad = checks.check_crawl(self.engine.crawl_order(),
                                 self.engine.seen_set(), want_order, want_seen)
        # the crawl's state is one output: a wrong one fails every round
        # and the expiry
        return {"round": bad, "expire": bad}

    def summary(self, passes) -> dict[str, float]:
        fresh, _ = self.history
        urls = sum(m["n_scheduled"] + m["n_discovered"] for m in fresh)
        return {"urls_per_s": urls / self.fresh_wall,
                "round_p50_s": statistics.median(
                    s for p in passes for op, s in p if op == "round")}

    def layers(self, m: dict, rollup: Rollup, passes) -> None:
        fresh, resumed = self.history
        last = self.tracer.named("crawl.run")[-1].start
        rounds = [s for s in self.tracer.named("crawl.round") if s.start >= last]
        per_round: dict[str, list[float]] = {k: [] for k in (
            "jobs", "stages", "tasks", "idle", "ckpt_s", "ckpt_mb", "shuffle",
            "gc")}
        for r in rounds:
            tasks = rollup.tasks(r)
            writes = [c for c in rollup.subtree(r) if c.name.startswith("store.")]
            per_round["jobs"].append(len(rollup.jobs(r)))
            per_round["stages"].append(rollup.stages(r))
            per_round["tasks"].append(len(tasks))
            per_round["idle"].append(1 - union_length(
                [(t["launch"], t["finish"]) for t in tasks], r.start, r.end)
                / r.dur)
            per_round["ckpt_s"].append(union_length(
                [(w.start, w.end) for w in writes], r.start, r.end))
            per_round["ckpt_mb"].append(sum(w.attrs.get("bytes", 0)
                                            for w in writes) / MB)
            per_round["shuffle"].append(rollup.total(r, "shuffle_write_b") / MB)
            per_round["gc"].append(rollup.total(r, "gc_ms") / 1000)
        for key, name in (("jobs", "jobs_per_round"),
                          ("stages", "stages_per_round"),
                          ("tasks", "tasks_per_round"),
                          ("idle", "slot_idle_share"),
                          ("ckpt_s", "checkpoint_s_per_round"),
                          ("ckpt_mb", "checkpoint_mb_per_round"),
                          ("shuffle", "shuffle_write_mb_per_round"),
                          ("gc", "gc_s_per_round")):
            m[f"crawl.{name}"] = median_or_zero(per_round[key])
        hist = fresh + resumed
        m["crawl.new_per_discovered"] = (
            sum(h["n_new"] for h in hist)
            / max(sum(h["n_discovered"] for h in hist), 1))
        m["crawl.bloom_false_positives"] = sum(
            h["bloom_false_positives"] or 0 for h in hist)
        m["crawl.blocked"] = sum(h["n_blocked"] for h in hist)
        m["crawl.expire_s"] = self.tracer.named("crawl.expire")[-1].dur
        m["crawl.recrawl_round_p50_s"] = median_or_zero(
            [h["wall_ms"] / 1000 for h in resumed])
        for k, v in self.summary(passes).items():
            m[f"crawl.{k}"] = v


# -- ops -----------------------------------------------------------------------

# query -> ops module it exercises; "entry" = written inline in
# __spark_entry__.py.  A run pays one cold, checked run of every query
# and four warm timed passes, so the list is what fits the benchmark's
# time: the ROADMAP leaves with the most time in joins, shuffles and
# eager materialization (the jaccard self-join, the brute-force cosine
# top-k, the localCheckpoint-iterated PageRank) and the jpeg decoder,
# plus small queries whose time is mostly construction and planning.  In bench.py's
# order, which every run keeps: with a seed-permuted order the cold-start
# costs of the first queries landed on different queries, and a query's
# time varied 2.5x as much between seeds.
QUERY_MODULE = {
    "dedup_jaccard": "dedup",
    "sim_topk": "similarity",
    "graph_pagerank": "graph",
    "multimodal_jpeg_stats": "multimodal",
    "sketch_hll": "sketch",
    "media_captions": "interleaved",
}
# the ROADMAP leaves among them, each with a per-query metric
LEAVES = ("dedup_jaccard", "sim_topk", "graph_pagerank",
          "multimodal_jpeg_stats")
MODULES = sorted(set(QUERY_MODULE.values()))


class Ops:
    # the first timed pass still runs slower than the next ones (sim_topk
    # 1.0-1.7 s, then 0.6-0.9 s); the median of four passes leaves it out
    MIN_PASSES = 4

    def __init__(self, spark, seed: int, work: str, tracer: Tracer) -> None:
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.sf_dir = os.path.join(work, "sf")
        self.order = list(QUERY_MODULE)

    def setup(self) -> None:
        import pyarrow.parquet as pq

        os.makedirs(self.sf_dir, exist_ok=True)
        for name, table in gen.ops_tables(self.seed).items():
            pq.write_table(table, os.path.join(self.sf_dir, f"{name}.parquet"))

    def warm_up(self) -> None:
        """Build every query and collect its rows, which ``check``
        compares with the query's DuckDB oracle.  This runs each query
        over the same data before timing, which is the warm-up the timed
        passes need: a cold pass, JIT compilation and code generation
        included, took 17-19 s, the next ones 6-10 s, and the cold pass
        moved by more between seeds than the warm ones."""
        import __spark_entry__

        qs = __spark_entry__.queries()
        oracles = __spark_entry__.oracle_sql()
        con = checks.oracle_connection(self.sf_dir)
        def build_and_collect(q: str):
            df = qs[q](self.spark, self.sf_dir)
            return df.columns, [tuple(r) for r in df.collect()]

        # DuckDB evaluates the oracles while Spark builds and collects
        # three queries at a time; the warm-up is untimed, so this only
        # shortens the run
        with ThreadPoolExecutor(1) as duck, ThreadPoolExecutor(3) as pool:
            want = {q: duck.submit(checks.oracle_rows, con, oracles[q])
                    for q in self.order if oracles.get(q)}
            got = {q: pool.submit(build_and_collect, q) for q in self.order}
            self.collected = {
                q: (*got[q].result(), want[q].result() if q in want else None)
                for q in self.order}
        con.close()

    def run_pass(self) -> list[tuple[str, float]]:
        import __spark_entry__

        qs = __spark_entry__.queries()
        out = []
        for q in self.order:
            with self.tracer.span(f"ops.q.{q}", module=QUERY_MODULE[q]):
                df, t_build = _timed(self.tracer, "ops.construct",
                                     lambda: qs[q](self.spark, self.sf_dir))
                if self.tracer.enabled:
                    with self.tracer.span("ops.plan"):
                        df._jdf.queryExecution().executedPlan()
                _, t_exec = _timed(self.tracer, "ops.exec", lambda: noop(df))
            out.append((q, t_build + t_exec))
        return out

    def check(self) -> dict[str, list[str]]:
        """Every query's rows, collected in the warm-up from the same
        query over the same data the timed passes run, against its
        oracle."""
        return {q: checks.check_query(q, cols, rows, want)
                for q, (cols, rows, want) in self.collected.items()}

    def summary(self, passes) -> dict[str, float]:
        # the ops figure, the geometric mean of query times, is op_geomean_s
        return {}

    def layers(self, m: dict, rollup: Rollup, passes) -> None:
        n_pass = len(passes)
        acc = {(mod, k): 0.0 for mod in MODULES for k in (
            "construct_s", "eager_jobs", "plan_s", "exec_s",
            "shuffle_write_mb", "spill_mb")}
        for qs in self.tracer.named("ops.q."):
            mod = qs.attrs["module"]
            parts = {c.name: c for c in self.tracer.children(qs)}
            acc[(mod, "construct_s")] += parts["ops.construct"].dur
            acc[(mod, "eager_jobs")] += len(rollup.jobs(parts["ops.construct"]))
            acc[(mod, "plan_s")] += parts["ops.plan"].dur
            acc[(mod, "exec_s")] += parts["ops.exec"].dur
            acc[(mod, "shuffle_write_mb")] += rollup.total(
                qs, "shuffle_write_b") / MB
            acc[(mod, "spill_mb")] += (rollup.total(qs, "spill_mem_b")
                                       + rollup.total(qs, "spill_disk_b")) / MB
        for (mod, k), v in acc.items():
            m[f"ops.{mod}.{k}"] = v / n_pass
        for q in LEAVES:
            m[f"ops.q.{q}_s"] = statistics.median(dict(p)[q] for p in passes)


# -- extract_crawl -------------------------------------------------------------

class ExtractCrawl:
    """Extract, then Crawl, in one run.  Every run starts a JVM and a
    Spark session (15-25 s on a 4-vCPU VM), and the benchmark's time budget pays
    for two of them per seed, not three; the two HTML workloads share
    one, and ops, which runs neither the kernels nor the crawl, keeps
    its own."""

    MIN_PASSES = 1

    def __init__(self, spark, seed: int, work: str, tracer: Tracer) -> None:
        self.parts = (Extract(spark, seed, work, tracer),
                      Crawl(spark, seed, work, tracer))

    def setup(self) -> None:
        for part in self.parts:
            part.setup()

    def warm_up(self) -> None:
        for part in self.parts:
            part.warm_up()

    def run_pass(self) -> list[tuple[str, float]]:
        return [op for part in self.parts for op in part.run_pass()]

    def check(self) -> dict[str, list[str]]:
        return {op: msgs for part in self.parts
                for op, msgs in part.check().items()}

    def summary(self, passes) -> dict[str, float]:
        return {k: v for part in self.parts
                for k, v in part.summary(passes).items()}

    def layers(self, m: dict, rollup: Rollup, passes) -> None:
        for part in self.parts:
            part.layers(m, rollup, passes)


WORKLOADS = {"extract_crawl": ExtractCrawl, "ops": Ops}

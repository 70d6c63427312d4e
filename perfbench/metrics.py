"""Every metric the benchmark reports: name -> (unit, better).

BENCHMARK.json lists the same names; ``test_perfbench`` keeps the two
in step.  Per-layer names start with their layer (a module of
``rsoup_spark`` or, for ``trace``, the traced run itself).
"""

from __future__ import annotations

from perfbench.workloads import LEAVES, MODULES

END_TO_END = {
    "setup_s": ("s", "lower"),
    "wall_s": ("s", "lower"),
    "op_geomean_s": ("s", "lower"),
}


def _per_layer() -> dict[str, tuple[str, str]]:
    m = {
        "session.create_s": ("s", "lower"),
        "session.warm_jobs": ("count", "lower"),
        "sources.gen_s": ("s", "lower"),
        "trace.wall_s": ("s", "lower"),
        # not end-to-end: it swung 15-40% between runs of one workload
        "process.peak_rss_mb": ("MB", "lower"),
    }
    for k in ("parse", "spans", "tables"):
        for g in ("small", "large"):
            m[f"functions.{k}_mb_per_s.{g}"] = ("MB/s", "higher")
    m["functions.canon_urls_per_s"] = ("URLs/s", "higher")
    for op in ("spans", "tables", "links"):
        m[f"operators.task_s.{op}"] = ("s", "lower")
        m[f"operators.kernel_share.{op}"] = ("ratio", "higher")
    m.update({
        "operators.python_boot_s": ("s", "lower"),
        "operators.python_init_s": ("s", "lower"),
        "operators.python_sent_mb": ("MB", "lower"),
        "operators.python_received_mb": ("MB", "lower"),
        "operators.slot_busy_share": ("ratio", "higher"),
        "operators.task_skew": ("ratio", "lower"),
        "operators.spans_docs_per_s": ("pages/s", "higher"),
        "operators.tables_docs_per_s": ("pages/s", "higher"),
        "operators.links_per_s": ("links/s", "higher"),
        "crawl.jobs_per_round": ("count", "lower"),
        "crawl.stages_per_round": ("count", "lower"),
        "crawl.tasks_per_round": ("count", "lower"),
        "crawl.slot_idle_share": ("ratio", "lower"),
        "crawl.checkpoint_s_per_round": ("s", "lower"),
        "crawl.checkpoint_mb_per_round": ("MB", "lower"),
        "crawl.shuffle_write_mb_per_round": ("MB", "lower"),
        "crawl.gc_s_per_round": ("s", "lower"),
        "crawl.new_per_discovered": ("ratio", "higher"),
        "crawl.bloom_false_positives": ("count", "lower"),
        "crawl.blocked": ("count", "lower"),
        "crawl.expire_s": ("s", "lower"),
        "crawl.recrawl_round_p50_s": ("s", "lower"),
        "crawl.urls_per_s": ("URLs/s", "higher"),
        "crawl.round_p50_s": ("s", "lower"),
    })
    for mod in MODULES:
        m[f"ops.{mod}.construct_s"] = ("s", "lower")
        m[f"ops.{mod}.eager_jobs"] = ("count", "lower")
        m[f"ops.{mod}.plan_s"] = ("s", "lower")
        m[f"ops.{mod}.exec_s"] = ("s", "lower")
        m[f"ops.{mod}.shuffle_write_mb"] = ("MB", "lower")
        m[f"ops.{mod}.spill_mb"] = ("MB", "lower")
    for q in LEAVES:
        m[f"ops.q.{q}_s"] = ("s", "lower")
    return m


PER_LAYER = _per_layer()

"""perfbench: run one workload of the repository benchmark.

    python3 perfbench/run.py --workload {extract_crawl,ops} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  Inputs come from the seed alone.  The
run sets up (Spark session, then the seeded inputs, generated and
persisted), makes the workload's untimed warm-up, then timed passes
until ``--seconds`` have gone (at least the workload's ``MIN_PASSES``),
checks every output outside the timed region, and prints one JSON
object as its last line:
``--trace 0`` gives the end-to-end metrics, ``--trace 1`` turns on spans
and Spark's event log and gives the per-layer metrics.  A failed output
check exits with code 1.  Details (effective settings, every
operation's time, spans) go to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time


def process_start_time() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["extract_crawl", "ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)


def reap_children(timeout: float = 30.0) -> None:
    from perfbench.tracing import descendants

    deadline = time.time() + timeout
    while descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in descendants():
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def effective_settings(spark, cpus: int) -> dict:
    conf = spark.sparkContext.getConf()
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    with open("/proc/cpuinfo") as f:
        cpu = next((line.split(":", 1)[1].strip() for line in f
                    if line.startswith("model name")), platform.processor())
    return {
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_LOCAL_DIRS": os.environ["SPARK_LOCAL_DIRS"],
        "spark.master": spark.sparkContext.master,
        "spark.driver.memory": conf.get("spark.driver.memory", "default"),
        "spark.sql.shuffle.partitions":
            spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version": spark.version,
        "python": platform.python_version(),
        "cpu": cpu,
        "mem_total_gb": round(mem_kb / 2**20, 1),
    }


def failed_ops(passes, bad: dict[str, list[str]]) -> int:
    """Operations whose output check failed: a failure keyed by an
    operation's name fails every call of it."""
    return sum(1 for p in passes for op, _ in p if bad.get(op))


def main(argv=None) -> int:
    t_proc = process_start_time()
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "rsoup_spark")):
        print("perfbench: rsoup_spark/ not found; run from the repository "
              "root", file=sys.stderr)
        return 2
    # import perfbench as a package from the root, not its modules by
    # bare name from the script's directory
    sys.path[0] = root

    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.tracing import (
        RssSampler,
        Rollup,
        Tracer,
        find_event_log,
        read_event_log,
    )
    from perfbench.workloads import WORKLOADS, geomean, op_medians

    cpus = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"{tag}-{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    # Python workers import rsoup_spark from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    evdir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(evdir)
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{evdir}",
            "--conf spark.eventLog.rolling.enabled=false",
            "--conf spark.eventLog.compress=false",
            "pyspark-shell",
        ])

    tracer = Tracer(f"{tag}-{int(time.time())}", enabled=bool(args.trace))
    spark = None
    try:
        sampler = RssSampler() if args.trace else contextlib.nullcontext()
        with sampler as rss:
            from rsoup_spark.session import get_spark

            with tracer.span("session.get_spark") as s_session:
                spark = get_spark(f"perfbench-{args.workload}")
            tracer.attach(spark.sparkContext)
            wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)
            with tracer.span("sources.gen"):
                t0 = time.perf_counter()
                wl.setup()
                gen_s = time.perf_counter() - t0
            setup_s = time.time() - t_proc
            settings = effective_settings(spark, cpus)

            with tracer.span("warmup"):
                t0 = time.perf_counter()
                wl.warm_up()
                warm_up_s = time.perf_counter() - t0
            passes, walls = [], []
            deadline = time.time() + args.seconds
            while len(passes) < wl.MIN_PASSES or time.time() < deadline:
                with tracer.span("pass"):
                    t0 = time.perf_counter()
                    passes.append(wl.run_pass())
                    walls.append(time.perf_counter() - t0)

            t0 = time.perf_counter()
            bad = wl.check()
            check_s = time.perf_counter() - t0
            summary = wl.summary(passes)
            stop_spark(spark)
            spark = None
            tracer.attach(None)

        attempted = sum(len(p) for p in passes)
        failed = failed_ops(passes, bad)
        if args.trace:
            m = {name: 0.0 for name in PER_LAYER}
            rollup = Rollup(tracer, read_event_log(find_event_log(evdir)))
            m["session.create_s"] = s_session.dur
            m["session.warm_jobs"] = len(rollup.jobs(s_session))
            m["sources.gen_s"] = gen_s
            m["trace.wall_s"] = statistics.median(walls)
            m["process.peak_rss_mb"] = rss.peak_bytes / 1e6
            wl.layers(m, rollup, passes)
            units = PER_LAYER
            tracer.write(os.path.join(results, f"{tag}.spans.jsonl"))
        else:
            m = {
                "setup_s": setup_s,
                "wall_s": statistics.median(walls),
                "op_geomean_s": geomean(op_medians(passes)),
            }
            units = END_TO_END
        metrics = {k: {"value": float(v), "unit": units[k][0]}
                   for k, v in m.items()}
        problems = sorted({msg for msgs in bad.values() for msg in msgs})
        with open(os.path.join(results, f"{tag}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "trace": args.trace, "settings": settings,
                       "setup_s": setup_s, "sources_gen_s": gen_s,
                       "warm_up_s": warm_up_s, "pass_wall_s": walls,
                       "check_s": check_s,
                       "passes": passes, "workload_metrics": summary,
                       "metrics": metrics, "check_failures": problems},
                      f, indent=1)

        print(f"perfbench {tag}: {len(passes)} pass(es), "
              f"{attempted} operations, {failed} failed")
        print("settings " + json.dumps(settings))
        for k, v in summary.items():
            print(f"{k} {v:.4f}")
        if not args.trace:
            for k, v in metrics.items():
                print(f"{k} {v['value']:.4f} {v['unit']}")
        for msg in problems[:20]:
            print(f"CHECK FAILED: {msg}", file=sys.stderr)
        print(json.dumps({"correct": not problems, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 1 if problems else 0
    finally:
        if spark is not None:
            stop_spark(spark)
        reap_children()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

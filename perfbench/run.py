"""KB-construction benchmark: one workload per call, closed loop, one client.

    python3 perfbench/run.py --workload kb_build --seed 1 --seconds 8 --trace 0

Runs from the repository root, in one driver process on local[nproc]:

1. writes the seed's documents.parquet under .perfbench_work/ and computes
   the workload's oracle from it, without Spark;
2. set-up: starts the session and makes the first, unmeasured run (JVM
   launch, codegen, Python worker spawn); that time is ``setup_s``;
3. makes the workload's unmeasured warm-up runs, if it has any;
4. runs the workload back to back (each run starts when the previous one
   ended; the cache is cleared before each) until the next run would end
   past ``--seconds``, and at least once; every run is checked against the
   oracle;
5. with ``--trace 1``, one more run as a chain of per-module calls under
   job groups and spans, plus a driver-side replay of the per-document
   kernel, and prints the per-layer metrics instead of the end-to-end ones.

A table goes to stdout, and the last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import machine  # noqa: E402
from perfbench.ledger import STAGE_METRICS, Ledger  # noqa: E402

DRIVER_MEMORY = "1g"  # the library default, 48g, is more than most hosts have
REPLAY_DOCS = 200
SPARK_LAYERS = ("corpus.load_docs", "parse", "mentions_op", "candidates_fused",
                "candidates_op", "labeling", "triples", "featurize",
                "functions.dedup", "linking")
COUNTERS = {
    "corpus.render_ms_per_doc": "ms",
    "htmldom.dom_ms_per_doc": "ms",
    "parse.parse_ms_per_doc": "ms",
    "parse.sentences_per_doc": "count",
    "parse.docs_failed": "count",
    "mentions_op.match_ms_per_doc": "ms",
    "mentions_op.mentions_per_doc": "count",
    "mentions_op.docs_in": "count",
    "mentions_op.docs_out": "count",
    "candidates_fused.product_ms_per_doc": "ms",
    "candidates_fused.python_body_ms_per_doc": "ms",
    "candidates_fused.boundary_ms_per_doc": "ms",
    "candidates_fused.pairs_tested": "count",
    "candidates_fused.candidates_out": "count",
    "candidates_fused.pair_yield": "ratio",
    "candidates_fused.overflow_docs": "count",
    "featurize.keys_per_candidate": "count",
    "functions.dedup.band_pairs": "count",
    "functions.dedup.verified_pairs": "count",
    "functions.dedup.verify_yield": "ratio",
    "spark.persisted_rdds_leaked": "count",
    "machine.obtained_cores": "cores",
    "machine.steal_frac": "ratio",
    "trace.overhead_s": "s",
}
PER_LAYER = {f"{layer}.{m}": u for layer in SPARK_LAYERS
             for m, u in STAGE_METRICS.items()}
PER_LAYER.update(COUNTERS)
END_TO_END = {"setup_s": "s", "wall_s": "s", "docs_per_s": "1/s",
              "cpu_ms_per_doc": "ms", "peak_rss_mb": "MB"}


def n_cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session():
    from fonduer_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cores=n_cores(),
                      driver_memory=DRIVER_MEMORY)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def release_cache(spark) -> int:
    """Drop every cached frame and RDD; returns how many RDDs were still
    persisted, i.e. left behind by the previous run."""
    sc = spark.sparkContext
    rdds = sc._jsc.getPersistentRDDs()
    leaked = rdds.size()
    spark.catalog.clearCache()
    for rdd in list(sc._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    return leaked


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for every process under us."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                pass  # killed with the rest of the tree below
        SparkContext._gateway = None
        SparkContext._jvm = None
    left = machine.wait_gone(machine.descendants(os.getpid()), 30)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    machine.wait_gone(left, 10)


def quartile_summary(xs) -> str:
    if len(xs) < 2:
        return f"{xs[0]:.3f}" if xs else "-"
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return f"median {q2:.3f} [q1 {q1:.3f}, q3 {q3:.3f}]"


def metric_block(values: dict, units: dict) -> dict:
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}: {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{wl.name}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        return bench(wl, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench(wl, args, work) -> int:
    case = wl.make_case(args.seed, work)
    want = wl.expected(case)
    t0 = time.perf_counter()  # set-up: session start + first run
    spark = start_session()
    try:
        return measure(wl, case, want, args, work, spark, t0)
    finally:
        stop_spark(spark)


def measure(wl, case, want, args, work, spark, t0) -> int:
    n_docs = case.n_docs
    got = wl.run(spark, case)
    setup = time.perf_counter() - t0
    if got != want:
        raise SystemExit(f"{wl.name}: the set-up run does not match its oracle")
    release_cache(spark)
    for _ in range(wl.warmup_runs):
        wl.run(spark, case)
        release_cache(spark)

    # -- measured closed loop -------------------------------------------
    walls, cpu_ms, cores, steal, leaks = [], [], [], [], []
    failed = 0
    with machine.PeakRss() as rss:
        t_end = time.perf_counter() + args.seconds
        while True:
            c0 = machine.CpuSample()
            try:
                got = wl.run(spark, case)
                ok = got == want
            except Exception:  # noqa: BLE001 - a failed run is counted
                traceback.print_exc()
                ok = False
            c1 = machine.CpuSample()
            leaks.append(release_cache(spark))
            walls.append(c1.t - c0.t)
            cpu_ms.append(1000.0 * c0.busy_s(c1) / n_docs)
            cores.append(c0.obtained_cores(c1))
            steal.append(c0.steal_frac(c1))
            failed += 0 if ok else 1
            if c1.t + statistics.median(walls) > t_end:
                break
    wall = statistics.median(walls)
    e2e = {
        "setup_s": setup,
        "wall_s": wall,
        "docs_per_s": n_docs / wall,
        "cpu_ms_per_doc": statistics.median(cpu_ms),
        "peak_rss_mb": rss.peak / (1024 * 1024),
    }
    runs = len(walls)
    print(f"# {wl.name} seed={args.seed} docs={n_docs} cores={n_cores()} "
          f"runs={runs} failed={failed}")
    for name, unit in END_TO_END.items():
        print(f"  {name:<14} {e2e[name]:.4f} {unit}")
    print(f"  failed_frac    {failed / runs:.4f} ratio ({failed}/{runs} runs)")
    print(f"  run walls      {quartile_summary(walls)} s, {runs} runs")
    if runs > 10:  # the highest percentile with at least ten runs above it
        p = 100.0 * (runs - 10) / runs
        print(f"  wall_s p{p:.0f}    "
              f"{statistics.quantiles(walls, n=100)[int(p) - 1]:.4f} s")
    print(f"  machine        obtained_cores {[round(c, 2) for c in cores]} "
          f"steal_frac {[round(s, 4) for s in steal]}")
    print(f"  leaked RDDs    {leaks}")

    correct = failed == 0
    if args.trace:
        layer, ok = trace_run(spark, wl, case, want, wall, args.seed, work)
        layer["spark.persisted_rdds_leaked"] = max(leaks)
        layer["machine.obtained_cores"] = statistics.median(cores)
        layer["machine.steal_frac"] = statistics.median(steal)
        correct = correct and ok
        metrics = metric_block(layer, PER_LAYER)
    else:
        metrics = metric_block(e2e, END_TO_END)
    print(json.dumps({"correct": correct, "attempted": runs,
                      "failed": failed, "metrics": metrics}))
    return 0


def trace_run(spark, wl, case, want, untraced_wall, seed, work):
    """One traced run plus the kernel replay; returns (per-layer values,
    whether the traced output matched the oracle)."""
    from perfbench.replay import replay
    from perfbench.tracing import Tracer
    from fonduer_spark.parse import ParseConfig

    tracer = Tracer(f"{wl.name}-{seed}")
    ledger = Ledger(spark.sparkContext)
    with tracer.span("run") as root:
        got, counters = wl.traced(spark, case, ledger, tracer)
    traced_wall = root["end"] - root["start"]
    release_cache(spark)
    values = dict.fromkeys(PER_LAYER, 0.0)
    for layer in SPARK_LAYERS:
        for m, v in ledger.stage_set(layer).items():
            values[f"{layer}.{m}"] = v
    values.update(counters)
    values["trace.overhead_s"] = traced_wall - untraced_wall
    if wl.kernel:
        values["mentions_op.docs_in"] = case.n_docs
        kernel = replay(tracer, wl.replay_docs(case, REPLAY_DOCS),
                        ParseConfig(structural=wl.structural), wl.slim,
                        render=wl.render(case), cap=wl.cap)
        for k in COUNTERS:
            if k in kernel:
                values[k] = kernel[k]
        fused_ms = (1000.0 * ledger.largest_stage_run_s("candidates_fused")
                    / case.n_docs)
        values["candidates_fused.boundary_ms_per_doc"] = (
            fused_ms - kernel["candidates_fused.python_body_ms_per_doc"])
    bad = tracer.nesting_errors()
    if ledger.incomplete:
        print(f"  stages not complete when read: {ledger.incomplete}")
    tracer.write(os.path.join(os.path.dirname(work),
                              f"spans-{wl.name}-{seed}.jsonl"))
    print(f"  traced run     {traced_wall:.3f} s, {len(tracer.spans)} spans, "
          f"{len(bad)} badly nested")
    for layer in SPARK_LAYERS:
        s = ledger.stage_set(layer)
        if s["tasks"]:
            print(f"  {layer:<18} " + " ".join(
                f"{m} {v:.3f}" for m, v in s.items()))
    return values, got == want and not bad and not ledger.incomplete


if __name__ == "__main__":
    raise SystemExit(main())

"""Benchmark entry point.

    python3 perfbench/run.py --workload ts_interactive --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
the seed (cached under ``perfbench/_cache/``), starts one Spark session
at ``local[nproc]``, runs the workload, checks its outputs and prints a
human-readable summary on stderr and, as the last line of stdout, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics, or with ``--trace 1`` the per-layer metrics of
a separately traced run). Exits non-zero if any output check failed.
See perfbench/README.md for the metrics.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SCRATCH = HERE / "_cache"  # temp dirs and event logs; ignored by git
PACKAGE = "the_framework_for_clustering_time_series_data_spark"
WORKLOADS = ("ts_interactive", "llm_batch")

# Gated. Wall-clock work and interaction times are printed on stderr but
# not gated: on a shared VM the CPU time the hypervisor steals (0-18% per
# run) moves them by 20-40% between runs; the kernel leaves stolen time
# out of a process's CPU time.
END_TO_END = {  # name -> unit
    "setup_s": "s",
    "work_cpu_s": "s",
}
FACADE_LAYERS = ("sources", "prep", "align", "embed", "cluster", "trace")
FACADE_FIELDS = {"build_s": "s", "plan_s": "s", "exec_s": "s", "py4j_calls": "count", "jobs": "count",
                 "tasks": "count", "shuffle_mb": "MB", "spill_mb": "MB", "pyworker_cpu_s": "s"}
PLAN_FIELDS = {"build_s": "s", "exec_s": "s", "py4j_calls": "count", "jobs": "count", "shuffle_mb": "MB"}
EXTRA_LAYER = {"session.start_s": "s", "session.peak_rss_mb": "MB", "tracer.work_s": "s",
               "tracer.work_cpu_s": "s", "tracer.bookkeeping_s": "s"}


def per_layer_units() -> dict[str, str]:
    from workloads import LLM_QUERIES

    units = {f"{layer}.{f}": u for layer in FACADE_LAYERS for f, u in FACADE_FIELDS.items()}
    units.update({f"plans.{q}.{f}": u for q in LLM_QUERIES for f, u in PLAN_FIELDS.items()})
    units.update(EXTRA_LAYER)
    return units


def p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def configure_env() -> None:
    """Run hygiene: one core per Spark task slot, the checkout importable
    by Python workers, a 2 GB driver heap (with the session's 8 GB default
    the JVM grew to 4.8 GB RSS on ts_interactive, against 1.7 GB, with
    timings inside the run-to-run spread), and every scratch file inside
    the checkout."""
    tmp = SCRATCH / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    os.environ.pop("OMP_NUM_THREADS", None)


def submit_args(event_log: Path | None) -> str:
    args = [f"--driver-java-options -Djava.io.tmpdir={os.environ['TMPDIR']}",
            f"--conf spark.sql.warehouse.dir={os.environ['TMPDIR']}/warehouse"]
    if event_log is not None:
        # one uncompressed file, so the standard library can parse it
        args += ["--conf spark.eventLog.enabled=true", f"--conf spark.eventLog.dir=file://{event_log}",
                 "--conf spark.eventLog.compress=false", "--conf spark.eventLog.rolling.enabled=false"]
    return " ".join(args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "pipeline.py").is_file():
        print(f"perfbench: engine package {PACKAGE!r} not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    import gen
    import workloads as W

    configure_env()
    load0, ticks0 = os.getloadavg()[0], cpu_ticks()

    # inputs are made before any timing
    inputs = gen.llm_tables(args.seed) if args.workload == "llm_batch" else W.prepare_ts(args.seed)

    event_log = None
    if args.trace:
        event_log = SCRATCH / f"eventlog-{os.getpid()}"
        shutil.rmtree(event_log, ignore_errors=True)
        event_log.mkdir()
    os.environ["PYSPARK_SUBMIT_ARGS"] = submit_args(event_log)

    gc.collect()
    t0 = time.perf_counter()
    import the_framework_for_clustering_time_series_data_spark  # noqa: F401
    from the_framework_for_clustering_time_series_data_spark.plans import registry  # noqa: F401
    from the_framework_for_clustering_time_series_data_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    t2 = time.perf_counter()
    setup_s, start_s = t2 - t0, t2 - t1

    from pyspark import SparkContext

    from tracer import LayerTracer, MemoryWatch, Tracer

    jvm_pid = SparkContext._gateway.proc.pid
    tracer = LayerTracer(spark, jvm_pid, event_log) if args.trace else Tracer()
    memory = MemoryWatch(jvm_pid)
    session = W.Session(tracer, memory)
    res = None
    try:
        if args.workload == "llm_batch":
            res = W.run_llm(spark, session, inputs, args.seed, args.seconds)
        else:
            res = W.run_ts(spark, session, inputs, args.seed, args.seconds)
    except Exception as e:  # the workload stops at its first failed operation
        print(f"perfbench: {args.workload} stopped: {type(e).__name__}: {e}", file=sys.stderr)
    finally:
        peak_mb = memory.peak_mb()
        stop_spark(spark)
    if event_log is not None:
        if res is not None:
            tracer.attribute_event_log()
        shutil.rmtree(event_log, ignore_errors=True)

    if res is not None and args.workload == "llm_batch":
        wrong = W.verify_llm(inputs, res["digests"])
        for q in wrong:
            print(f"perfbench: {q} differs from its DuckDB oracle", file=sys.stderr)
        session.failed += len(wrong)
    if res is None:
        session.failed = max(session.failed, 1)
    attempted = max(session.attempted, 1)
    correct = session.failed == 0
    out: dict[str, dict] = {}
    if res is not None:
        steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
        steal_pct = 100 * steal / max(total, 1)
        ops_ms = [x * 1000 for x in res["op_s"]]
        work_s = statistics.median(res["work"])
        work_cpu_s = statistics.median(session.round_cpu_s)
        e2e = {"setup_s": setup_s, "work_cpu_s": work_cpu_s}
        # Printed for reading, not gated: wall times (see END_TO_END), a
        # p90 over one run's few interactions, which has fewer than ten
        # samples beyond it, and the JVM's peak RSS, which follows its
        # heap-growth decisions and varies by 20-25% between identical runs.
        print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} rounds={len(res['work'])} "
              f"ops={len(ops_ms)} attempted={attempted} failed={session.failed} "
              f"ops_failed_ratio={session.failed / attempted:.4f} "
              f"loadavg={load0:.2f}->{os.getloadavg()[0]:.2f} steal={steal_pct:.1f}% first_s={res['first_s']:.4f} "
              f"work_s={work_s:.4f} op_ms_gmean={statistics.geometric_mean(ops_ms):.1f} "
              f"op_ms_p50={statistics.median(ops_ms):.1f} op_ms_p90={p90(ops_ms):.1f}", file=sys.stderr)
        for k, v in e2e.items():
            print(f"  {k:<14} {v:12.4f} {END_TO_END[k]}", file=sys.stderr)
        print(f"  peak_rss_mb    {peak_mb:12.1f} MB ({memory.breakdown()})", file=sys.stderr)
        for layer, ts in session.times.items():
            print(f"  calls {layer:<32} n={len(ts):<3} median={statistics.median(ts) * 1000:9.1f} ms "
                  f"max={max(ts) * 1000:9.1f} ms", file=sys.stderr)
        if args.trace:
            units = per_layer_units()
            measured = tracer.layer_metrics(tuple(FACADE_FIELDS))
            measured.update({"session.start_s": start_s, "session.peak_rss_mb": peak_mb,
                             "tracer.work_s": work_s, "tracer.work_cpu_s": work_cpu_s,
                             "tracer.bookkeeping_s": tracer.bookkeeping_s})
            # layers this workload does not call read 0
            out = {k: {"value": measured.get(k, 0.0), "unit": u} for k, u in units.items()}
            for k, v in out.items():
                if v["value"]:
                    print(f"  {k:<44} {v['value']:12.4f} {v['unit']}", file=sys.stderr)
        else:
            out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": session.failed, "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

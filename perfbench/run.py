"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload {ingest,search,live} --seed N \
        --seconds S --trace {0,1}

The engine runs on ``local[nproc]`` in this process and is driven only
through its public functions. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` alternates traced and untraced operations and
prints the per-layer metrics and the tracing overhead. Every run checks
the engine's outputs and exits non-zero if a check fails. A
human-readable summary goes to stderr; with ``--trace 1`` the spans are
written to ``.bench_work/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "3g"


def tail(vals: list[float]) -> tuple[str, float] | None:
    """The highest percentile with at least ten samples beyond it, as
    (name, value); None for fewer than eleven samples."""
    s = sorted(vals)
    k = len(s) - 10  # samples at or below it
    return (f"p{100 * k // len(s)}", s[k - 1]) if k > 0 else None


def configure_env(work: str) -> dict[str, str]:
    """Size the session to the host and keep its files in ``work``;
    must run before the engine is imported (it reads the CPU count at
    import time). Returns the extra Spark conf."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # python workers import the engine package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    sys.path[:0] = [ROOT, HERE]
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(wl, sc, tracer, seconds: float, min_ops: int, max_ops: int | None) -> dict:
    """Run operations until ``seconds`` have passed and at least
    ``min_ops`` have run, but never more than ``max_ops``. A traced run
    traces operations in the pattern untraced, traced, traced,
    untraced, ..., at least four of them, so a drift in latency over
    the run weighs on both halves alike."""
    lat: list[float] = []
    traced_lat: list[float] = []
    items = attempted = failed = 0
    busy = 0.0
    if tracer.active:
        min_ops = max(min_ops, 4)
    deadline = time.perf_counter() + seconds
    while (time.perf_counter() < deadline or attempted < min_ops) and (
        max_ops is None or attempted < max_ops
    ):
        traced = tracer.active and attempted % 4 in (1, 2)
        attempted += 1
        t0 = time.perf_counter()
        try:
            with tracer.op(sc, wl.op_name, traced):
                n = wl.run_op()
        except Exception as exc:  # a failed operation is counted, then reported
            failed += 1
            print(f"operation {attempted} failed: {exc!r}", file=sys.stderr)
            break
        dt = time.perf_counter() - t0
        (traced_lat if traced else lat).append(dt)
        if not traced:
            items += n
            busy += dt
    return {
        "lat": lat, "traced_lat": traced_lat, "items": items, "busy": busy,
        "attempted": attempted, "failed": failed,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "search", "live"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    bench_dir = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    t_boot = time.perf_counter()
    shutil.rmtree(work, ignore_errors=True)  # left by a killed run with this pid
    conf = configure_env(work)
    try:
        return run(args, work, bench_dir, conf, t_boot)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # kept while trace files are in it
            os.rmdir(bench_dir)


def run(args, work: str, bench_dir: str, conf: dict, t_boot: float) -> int:
    from shotit_worker_spark.session import get_spark

    import spans as T
    from ingest import Ingest
    from live import Live
    from search import Search

    classes = {"ingest": Ingest, "search": Search, "live": Live}
    spark = get_spark("perfbench", extra_conf=conf)
    try:
        boot_s = time.perf_counter() - t_boot
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        tracer = T.Tracer(active=bool(args.trace))
        wl = classes[args.workload](spark, work, args.seed, tracer)
        try:
            t0 = time.perf_counter()
            with tracer.setup():
                wl.setup()
            setup_s = boot_s + time.perf_counter() - t0
            m = measure(wl, sc, tracer, args.seconds, wl.min_ops, wl.max_ops)
            t0 = time.perf_counter()
            problems = ["an operation failed"] if m["failed"] else wl.check()
            check_s = time.perf_counter() - t0
            details = wl.details()
            items_per_s = wl.items_per_s(m["items"], m["busy"])
            if tracer.active:
                jobs_by_group = T.job_counts(sc, tracer.groups)
        finally:
            wl.close()
    finally:
        stop_spark(spark)

    lat_ms = sorted(1e3 * x for x in m["lat"])
    n_ops = len(lat_ms)
    if not n_ops:
        problems.append("no operation completed")
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "boot_s": boot_s,
        "setup_s": setup_s,
        "check_s": check_s,
        "ops": n_ops,
        "item": wl.item,
        "items": m["items"],
        "op_p50_ms": statistics.median(lat_ms) if lat_ms else None,
        "op_tail_ms": tail(lat_ms),
        "op_ms": [1e3 * x for x in m["lat"]],
        **details,
        "problems": problems,
    }
    if tracer.active:
        n_traced = len(m["traced_lat"])
        traced_p50 = 1e3 * statistics.median(m["traced_lat"]) if n_traced else None
        untraced_p50 = summary["op_p50_ms"]
        overhead = (
            100.0 * (traced_p50 - untraced_p50) / untraced_p50
            if traced_p50 and untraced_p50 else 0.0
        )
        metrics = {
            f"{k}_ms" if k.startswith("setup.") else f"{k}.ms_per_op": (v, "ms")
            for k, v in tracer.layer_ms().items()
        }
        # counted over the untraced operations, which run no jobs of the
        # benchmark's own
        jobs = [job for g in jobs_by_group.values() for job in g]
        tasks = sum(n for job in jobs for _, n in job)
        metrics["spark.jobs_per_op"] = (len(jobs) / max(1, n_ops), "count")
        metrics["spark.tasks_per_op"] = (tasks / max(1, n_ops), "count")
        metrics["state.files"] = (details["state_files"], "count")
        metrics["guard.ratio"] = (details.get(wl.guard) or 0.0, "ratio")
        metrics["trace.overhead_pct"] = (overhead, "%")
        summary.update(
            traced_ops=n_traced, traced_op_p50_ms=traced_p50, untraced_op_jobs=jobs_by_group
        )
        tracer.write(
            os.path.join(bench_dir, f"trace-{args.workload}-{args.seed}.json"), summary
        )
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (summary["op_p50_ms"] or 0.0, "ms"),
            "items_per_s": (items_per_s, "1/s"),
        }
    print(json.dumps(summary, default=str), file=sys.stderr)
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    result = {
        "correct": not problems,
        "attempted": m["attempted"],
        "failed": m["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())

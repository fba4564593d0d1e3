"""Outside-in benchmark of the theoremsearch_spark engine.

    python3 perfbench/run.py --workload serve|upsert --seed N --seconds S --trace 0|1

Run from the repository root. One process runs one workload (see
`workloads.py` and `DESIGN.md`) on a fresh local Spark session with
cores = shuffle partitions = the CPUs this process may use, and a fixed
driver heap (`SPARK_DRIVER_MEM`). Every file it writes stays under
`.perfbench_work/` (removed at exit) and `.perfbench_runs/` (one JSON
record per run) in the repository root.

The last stdout line is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the per-layer span counters. The line before it is the run record
(seed, sizes, checks, host canary and steal ticks, versions). The exit
code is 0 only when every checked result equals the oracle's.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "3g"

# name -> unit of every end-to-end metric (the --trace 0 output)
END_TO_END = {
    "setup_s": "s",
    "query_cpu_ms": "ms",
    "throughput_per_cpu_s": "1/s",
    "stored_bytes_per_input_byte": "ratio",
}
# wall-clock figures a user also sees, kept in the run record: on a host
# with bursty CPU steal they spread too widely between runs to gate on
WALL = {"query_p50_ms": "ms", "throughput_per_s": "1/s"}


def _e2e(setup_s: float, walls: dict, cpus: dict, rep: dict) -> tuple[dict, dict]:
    """End-to-end metrics (CPU based) and the wall figures of the record.
    Throughput is the workload's work units over the time of every timed
    call, so a host slow for part of the run shifts it in proportion."""
    mean = statistics.fmean
    e2e = {
        "setup_s": setup_s,
        "query_cpu_ms": 1000 * mean(cpus["interactive"]),
        "throughput_per_cpu_s": rep["work"] / sum(map(sum, cpus.values())),
        "stored_bytes_per_input_byte": rep["stored_bytes_per_input_byte"],
    }
    wall = {
        "query_p50_ms": 1000 * statistics.median(walls["interactive"]),
        "throughput_per_s": rep["work"] / sum(map(sum, walls.values())),
    }
    return e2e, wall


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("serve", "upsert"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="self-test sizes (not a measurement)")
    return p.parse_args(argv)


def _environment(work: str) -> int:
    """Point every writer (Spark local dirs, JVM and Python temp files)
    into `work`; hold the Spark settings fixed. Returns the core count."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_EXTRA_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ.pop("TS_NO_WORKER_WARMUP", None)
    return len(os.sched_getaffinity(0))


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=120)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import tests.oracle  # noqa: F401  the rank-identity reference
        import theoremsearch_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine sources not found under {ROOT}: {exc}", file=sys.stderr)
        return 2

    from perfbench import hostinfo
    from perfbench.trace import COUNTS, TRACE_METRICS, Tracer
    from perfbench.workloads import WORKLOADS, Client

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    cores = _environment(work)
    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        from theoremsearch_spark.session import get_spark

        with tracer.span("session.get_spark"):
            spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores)
            spark.sparkContext.setLogLevel("ERROR")
            tracer.attach(spark)
        tracer.instrument()
        client = Client(spark, tracer, work, args.seed, args.seconds, cores, args.tiny)
        wl = WORKLOADS[args.workload](client)
        wl.setup()
        tracer.phase = "warmup"
        wl.warmup()

        tracer.phase = "timed"
        setup_s = hostinfo.process_age_s()
        canary0, steal0 = hostinfo.canary_s(), hostinfo.steal_ticks()
        t0 = time.perf_counter()
        wl.timed()
        timed_wall = time.perf_counter() - t0
        canary1, steal1 = hostinfo.canary_s(), hostinfo.steal_ticks()

        tracer.phase = "check"
        chk = wl.check()
        rep = wl.report()
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "tiny": args.tiny, "cores": cores,
            "driver_mem": DRIVER_MEM, "versions": hostinfo.versions(spark),
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e, wall = _e2e(setup_s, client.walls, client.cpus, rep)
    failed = client.failed + chk["failed_calls"]
    rank_identical = chk["identical"] / chk["checked"] if chk["checked"] else 0.0
    correct = (rank_identical == 1.0 and failed == 0
               and all(math.isfinite(v) and v > 0 for v in e2e.values()))
    record.update({
        "end_to_end": e2e,
        "wall": {k: {"value": v, "unit": WALL[k]} for k, v in wall.items()},
        "rank_identical_frac": {"value": rank_identical, "unit": "ratio"},
        "error_frac": {"value": failed / max(1, client.attempted), "unit": "ratio"},
        "check": chk,
        "timed_wall_s": timed_wall,
        "calls": {k: len(v) for k, v in client.walls.items()},
        "walls_s": client.walls,
        "cpus_s": client.cpus,
        "counts": rep["counts"],
        "properties": rep["properties"],
        "host": {"canary_s": [canary0, canary1], "steal_ticks": steal1 - steal0,
                 "nproc": os.cpu_count()},
    })
    if args.trace:
        metrics = tracer.layer_metrics()
        units = dict(COUNTS) | dict(TRACE_METRICS)
        vals = dict(rep["counts"])
        vals["trace.coverage"] = tracer.top_wall.get("timed", 0.0) / timed_wall
        vals["trace.overhead_s"] = tracer.overhead_s
        metrics.update({k: {"value": v, "unit": units[k]} for k, v in vals.items()})
        record["spans"] = tracer.totals
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}

    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}{'-tiny' if args.tiny else ''}.json"
    with open(os.path.join(runs, name), "w") as fh:
        json.dump(record, fh, indent=1, default=float)
    print(json.dumps({"perfbench_record": record}, default=float))
    print(json.dumps({"correct": correct, "attempted": client.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark entry point: one workload, one seed, one closed-loop client.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload queries --seed 1 --seconds 20 --trace 0

It generates the workload's input tables from ``--seed`` into a scratch
directory under ``.perfbench_work/``, starts one Spark session on
``local[<nproc>]`` with the program's own session defaults, warms up,
then runs whole rounds of operations back to back until ``--seconds``
have passed. It checks the outputs, prints a detail line and, last, one
JSON result line. With ``--trace 1`` it instead times every layer of
the workload from the Spark event log (see ``layertrace.py``).

Exit status is 0 only when every operation succeeded and every output
check passed; 2 when the program is not in the working directory.
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
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
#: input generations timed for the ``setup_s`` median
GEN_REPEATS = 3
#: an operation still running after this long is cancelled and failed
OP_TIMEOUT_S = 120.0

#: the end-to-end metrics BENCHMARK.json gates, and their units
END_TO_END = {"setup_s": "s", "cpu_s": "s"}
#: end-to-end metrics reported in the detail line but not gated: on a
#: host whose vCPUs are shared, their run-to-run spread follows the
#: neighbours' load (see README.md, "Run-to-run noise")
REPORTED = {
    "wall_s": "s",
    "rows_per_s": "rows/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "queries_per_s": "1/s",
    "peak_rss_mb": "MB",
    "failed_ratio": "ratio",
}


def tail(latencies: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it; the maximum when fewer than 21 samples would put
    that percentile at or below the median."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 21:
        return 100.0, xs[-1]
    return 100.0 * (n - 10) / n, xs[n - 11]


def start_session(work: str, event_dir: str | None = None):
    from osm2shp_spark.session import get_spark

    from host import cores

    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in /tmp: the run writes only in its checkout
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            # the Python zstandard module is absent: keep the log plain
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores()}]", extra_confs=confs
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop Spark, then the JVM it runs in, and wait until it has ended
    (the JVM exits when the gateway's stdin closes). Idempotent."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None or gateway.proc.poll() is not None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


class Watchdog:
    """Cancels every running Spark job when one operation overruns."""

    def __init__(self, spark):
        self.sc = spark.sparkContext

    def __enter__(self):
        self.timer = threading.Timer(OP_TIMEOUT_S, self.sc.cancelAllJobs)
        self.timer.start()
        return self

    def __exit__(self, *exc):
        self.timer.cancel()


def setup(args, work: str, spark_start: float, spark):
    """Generate inputs, build the workload, warm up. Returns the
    workload and the set-up time split into its parts."""
    import numpy as np

    from gen import generate
    from workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    t_session = time.perf_counter() - spark_start
    gen_times, in_dir = [], None
    for i in range(GEN_REPEATS):
        # the directory name carries the scale: the program sizes its
        # image fixture from it (sources.fixtures.images_count_for_sf)
        d = os.path.join(work, f"in{i}", f"sf{cls.sf}")
        t = time.perf_counter()
        tables = generate(d, cls.sf, args.seed)
        gen_times.append(time.perf_counter() - t)
        if in_dir:
            shutil.rmtree(os.path.dirname(in_dir))
        in_dir = d
    t = time.perf_counter()
    wl = cls(spark, in_dir, work, np.random.default_rng(args.seed))
    t_build = time.perf_counter() - t
    t = time.perf_counter()
    wl.warm_up(next(wl.rounds()))
    t_warm = time.perf_counter() - t
    parts = {
        "session_s": t_session,
        "generate_s_median": statistics.median(gen_times),
        "build_s": t_build,
        "warmup_s": t_warm,
    }
    return wl, parts, tables


def measure(wl, spark, seconds: float, sampler) -> dict:
    """Closed loop, one client: whole rounds until at least ``seconds``
    have passed. Set-up and output checks between operations are not
    timed."""
    from host import steal_s, tree_cpu_s

    root = os.getpid()
    lat, op_names, round_walls, round_cpus, attempted, failed = [], [], [], [], 0, 0
    steal = 0.0
    start = time.perf_counter()
    for round_names in wl.rounds():
        round_wall = round_cpu = 0.0
        for name in round_names:
            attempted += 1
            sampler.active.set()
            c0, s0 = tree_cpu_s(root), steal_s()
            t = time.perf_counter()
            try:
                with Watchdog(spark):
                    result = wl.run_op(name)
                ok = True
            except Exception:
                traceback.print_exc()
                failed += 1
                ok = False
            dt = time.perf_counter() - t
            steal += steal_s() - s0
            round_cpu += tree_cpu_s(root) - c0
            sampler.active.clear()
            lat.append(dt)
            op_names.append(name)
            round_wall += dt
            if ok:
                wl.after_op(name, result)
        round_walls.append(round_wall)
        round_cpus.append(round_cpu)
        if time.perf_counter() - start >= seconds:
            break
    return {
        "latencies": lat,
        "names": op_names,
        "round_walls": round_walls,
        "round_cpus": round_cpus,
        "steal_s": steal,
        "attempted": attempted,
        "failed": failed,
    }


def untraced(args, work: str) -> tuple[dict, dict]:
    from host import RssSampler, cores, fingerprint

    t0 = time.perf_counter()
    spark = start_session(work)
    with RssSampler() as sampler:
        wl, parts, tables = setup(args, work, t0, spark)
        m = measure(wl, spark, args.seconds, sampler)
    t = time.perf_counter()
    bad = wl.check()
    check_s = time.perf_counter() - t
    pct, tail_s = tail(m["latencies"])
    wall = statistics.median(m["round_walls"])
    values = {
        "setup_s": sum(parts.values()),
        "cpu_s": statistics.median(m["round_cpus"]),
        "wall_s": wall,
        "rows_per_s": wl.round_input_rows() / wall,
        "latency_p50_s": statistics.median(m["latencies"]),
        "latency_tail_s": tail_s,
        "queries_per_s": len(m["latencies"]) / sum(m["latencies"]),
        "peak_rss_mb": sampler.peak_bytes / 2**20,
        "failed_ratio": m["failed"] / m["attempted"],
    }
    by_op: dict[str, list[float]] = {}
    for name, dt in zip(m["names"], m["latencies"]):
        by_op.setdefault(name, []).append(dt)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "host": fingerprint(spark),
        "reported": {k: {"value": values[k], "unit": u} for k, u in REPORTED.items()},
        "setup_parts_s": parts,
        "tables": tables,
        "rounds": len(m["round_walls"]),
        "samples": len(m["latencies"]),
        "tail_percentile": pct,
        "op_median_s": {k: statistics.median(v) for k, v in by_op.items()},
        "rss_samples": sampler.samples,
        # CPU time the hypervisor took from the vCPUs during timed
        # operations, as a share of their capacity: contention that
        # inflates every wall time of the run
        "steal_share": m["steal_s"] / (sum(m["latencies"]) * cores()),
        "check_s": check_s,
        "check_failures": bad,
        **wl.detail(),
    }
    stop_spark()
    result = {
        "correct": not bad and m["failed"] == 0,
        "attempted": m["attempted"] + len(bad),
        "failed": m["failed"] + len(bad),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()},
    }
    return result, detail


def traced(args, work: str) -> tuple[dict, dict]:
    """A warm-up round, one round without and one with layer tagging,
    then every layer's calls with its inputs cached first. The session writes an event log
    throughout; ``layertrace`` folds it into per-layer metrics."""
    from host import cores, fingerprint
    from layertrace import Tracer, layer_metrics, metric_units

    def one_round(wl) -> float:
        t = time.perf_counter()
        for name in next(wl.rounds()):
            wl.after_op(name, wl.run_op(name))
        return time.perf_counter() - t

    event_dir = os.path.join(work, "events")
    t0 = time.perf_counter()
    spark = start_session(work, event_dir)
    wl, parts, tables = setup(args, work, t0, spark)
    tr = Tracer(spark)
    one_round(wl)  # warm, so that the next two rounds compare like with like
    untraced_s = one_round(wl)
    with tr.span("round"):
        traced_s = one_round(wl)
    failed = 0
    try:
        wl.trace(tr)
    except Exception:
        traceback.print_exc()
        failed = 1
    bad = wl.check()
    host = fingerprint(spark)
    stop_spark()
    per_layer = layer_metrics(tr, event_dir, cores())
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "host": host,
        "setup_parts_s": parts,
        "tables": tables,
        "untraced_round_s": untraced_s,
        "traced_round_s": traced_s,
        "tracing_overhead_s": traced_s - untraced_s,
        "check_failures": bad,
    }
    result = {
        "correct": not bad and failed == 0,
        "attempted": 1 + len(bad),
        "failed": failed + len(bad),
        "metrics": {
            k: {"value": per_layer[k], "unit": unit}
            for k, unit in metric_units().items()
        },
    }
    return result, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="osm2shp_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "osm2shp_spark", "engine.py")):
        print("perfbench: run from the repository root (osm2shp_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # the JVM, the Python workers and every temp file stay in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        result, detail = (traced if args.trace else untraced)(args, work)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

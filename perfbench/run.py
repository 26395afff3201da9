"""Seeded benchmark of the avro_spark engine: one workload per run.

Usage, from the repository root:

    python3 perfbench/run.py --workload ocf_ingest --seed 1 --seconds 8 --trace 0

One single-process driver runs Spark on ``local[<=4 cores>]`` and one
closed-loop client: the next op starts when the previous one ends. The run
sets up (session, codec jar, seeded inputs, indexes), runs untimed warm-up
ops, then timed ops until ``--seconds`` of op time have passed and at least
``MIN_OPS`` ops ran; checks and route pins run between ops, outside the
timing. The last stdout line is one JSON object with the metrics that
``BENCHMARK.json`` names: end-to-end ones with ``--trace 0``; per-layer
ones with ``--trace 1``, where the Spark event log is on and every other
op is traced (job labels and spans).

Exit codes: 0 with a result; 2 when the checkout has no ``avro_spark`` or
no ``BENCHMARK.json``, or the workload is unknown; 3 when a workload takes
another route than it declares; any other failure raises (exit 1).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

import evlog  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer, uncovered_share  # noqa: E402

MAX_CORES = 4
#: timed ops per run at least, so a slow workload still has a median
MIN_OPS = 3
#: with ``--trace 1``: two traced and two untraced ops at least
MIN_TRACED_RUN_OPS = 4


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def session_conf(work: str, trace: bool) -> "dict[str, str]":
    """Spark settings fitted to the box: at most ``MAX_CORES`` cores and at
    most a quarter of RAM (4 GiB cap) for the driver; every scratch path
    inside the run's work dir."""
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    mem_gib = max(1, min(4, mem_total_kib() // (4 * 1024 * 1024)))
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "avro_spark-perfbench",
        "spark.driver.memory": f"{mem_gib}g",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def mem_total_kib() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def proc_status_kib(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def tree_cpu_s(root_pid: int) -> float:
    """User+system CPU seconds of ``root_pid``, its live descendants and
    this process (the JVM runs the tasks, its Python workers the UDFs)."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(d)] = (int(f[1]), int(f[11]) + int(f[12]))
    keep, frontier = set(), {root_pid}
    while frontier:
        keep |= frontier
        frontier = {p for p, (pp, _c) in stats.items()
                    if pp in frontier and p not in keep}
    own = os.times()
    return (sum(stats[p][1] for p in keep if p in stats) / tick
            + own.user + own.system)


def start_session(conf: "dict[str, str]"):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the py4j gateway JVM, and wait for it to exit (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # TimeoutExpired: do not leave it running
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def load_bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def end_to_end_metrics(wl, setup_s: float, walls: "list[float]",
                       stored: float) -> dict:
    return {
        "setup_s": setup_s,
        "rows_per_s": wl.rows_per_op / median(walls),
        "op_s_p50": median(walls),
        "stored_bytes_per_row": stored,
    }


def run(args) -> int:
    if not all(os.path.isfile(os.path.join(ROOT, *p)) for p in (
            ("avro_spark", "__init__.py"), ("BENCHMARK.json",))):
        print(f"perfbench: no avro_spark package or BENCHMARK.json under "
              f"{ROOT}; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, sub))
    # Python-side temp files (py4j handshake, the package zip shipped to
    # workers) stay inside the checkout too
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = None
    try:
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: str) -> int:
    conf = session_conf(work, bool(args.trace))
    cores = int(conf["spark.master"][6:-1])
    load_start = os.getloadavg()

    t0 = time.perf_counter()
    spark = start_session(conf)
    session_s = time.perf_counter() - t0
    try:
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle
                      .current().pid())
        wl = workloads.WORKLOADS[args.workload](
            spark, args.seed, os.path.join(work, "data"))
        wl.setup()
        wl.setup_parts["session.start_s"] = session_s
        setup_s = time.perf_counter() - t0
        wl.pin_routes()

        tr = Tracer(spark.sparkContext, wl.name, bool(args.trace))
        failures: "list[str]" = []
        for i in range(wl.warmup_ops):
            wl.prepare(-1 - i)
            with tr.op(-1 - i, traced=False):
                result = wl.op(tr, -1 - i)
            failures += [f"warm-up {i}: {e}" for e in
                         wl.check(-1 - i, result)]
        tr.ops.clear()

        cpu: "dict[int, float]" = {}
        load: "list[float]" = []
        failed = 0
        timed = 0.0
        i = 0
        min_ops = MIN_TRACED_RUN_OPS if args.trace else MIN_OPS
        while timed < args.seconds or i < min_ops:
            wl.prepare(i)
            traced = i % 2 == 0
            c0 = tree_cpu_s(jvm_pid)
            errs: "list[str]" = []
            try:
                with tr.op(i, traced=traced) as op:
                    result = wl.op(tr, i)
            except Exception as e:  # an op that raises is a failed op
                errs = [f"{type(e).__name__}: {e}"]
            cpu[i] = tree_cpu_s(jvm_pid) - c0
            load.append(os.getloadavg()[0])
            if not errs:
                errs = wl.check(i, result)
            if errs:
                failed += 1
                failures += [f"op {i}: {e}" for e in errs]
            timed += op.wall_s
            i += 1
        wl.pin_routes()
        peak_rss_mb = proc_status_kib(jvm_pid, "VmHWM") / 1024.0
        stored = wl.stored_bytes_per_row()
        app_id = spark.sparkContext.applicationId
    finally:
        stop_session(spark)

    ops = tr.ops
    walls = [o.wall_s for o in ops]
    env = {
        "workload": wl.name, "seed": args.seed, "cores": cores,
        "driver_memory": conf["spark.driver.memory"],
        "nproc": os.cpu_count(), "mem_total_gib": round(
            mem_total_kib() / 2**20, 1),
        "load_avg_start": load_start, "load_avg_end": os.getloadavg(),
        "timed_cpu_s": round(sum(cpu.values()), 3),
        "timed_wall_s": round(timed, 3),
        "ops": len(ops), "op_walls_s": [round(w, 3) for w in walls],
        "peak_rss_mb": round(peak_rss_mb, 1),
        "setup_parts_s": {
            k: round(v, 3) for k, v in sorted(wl.setup_parts.items())},
    }
    print("env " + json.dumps(env))
    print("routes " + json.dumps(wl.routes))
    for f in failures:
        print("failure " + f)

    names = load_bench()["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        metrics = traced_metrics(wl, tr, cores, work, app_id, cpu, load,
                                 [m["name"] for m in names])
    else:
        metrics = end_to_end_metrics(wl, setup_s, walls, stored)
    print(json.dumps({
        "correct": not failures,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]],
                                "unit": m["unit"]} for m in names},
    }))
    return 0


def traced_metrics(wl, tr, cores, work, app_id, cpu, load, names) -> dict:
    """Per-layer metrics ``names``: the median over traced ops of each
    op's value; 0 for a layer the workload never enters.

    ``trace.overhead_s`` is the traced ops' median minus the untraced
    ops' median within this run. The event log is on for both, so its
    cost is not in the difference: that shows as ``trace.op_s_p50`` next
    to ``op_s_p50`` of a ``--trace 0`` run of the same seed."""
    traced = [o for o in tr.ops if o.traced]
    bare = [o for o in tr.ops if not o.traced]
    windows = [evlog.Window(o.op, None, o.t0 * 1000, o.t1 * 1000)
               for o in tr.ops]
    span_windows = [evlog.Window(s.op, s.layer, s.t0 * 1000, s.t1 * 1000)
                    for s in tr.spans]
    events = evlog.read_events(os.path.join(work, "events"), app_id)
    stats = evlog.per_op_stats(events, windows, span_windows)

    per_op: "dict[str, list[float]]" = {}
    uncovered = []
    for o in traced:
        spans = tr.op_spans(o.op)
        row: "dict[str, float]" = {}
        for s in spans:
            row[f"{s.layer}_s"] = row.get(f"{s.layer}_s", 0.0) + s.t1 - s.t0
        row.update(evlog.op_metrics(stats[o.op], o.wall_s, cores))
        row["trace.label_s"] = sum(s.overhead_s for s in spans)
        row["host.cpu_s"] = cpu[o.op]
        probe_bytes = sum(stats[o.op].layer_input_bytes.get(k, 0) for k in (
            "functions.exact_probe", "functions.minhash_probe"))
        index_bytes = getattr(wl, "probe_index_bytes", {}).get(o.op)
        row["functions.probe_read_ratio"] = (
            probe_bytes / index_bytes if index_bytes else 0.0)
        for k, v in row.items():
            per_op.setdefault(k, []).append(v)
        uncovered.append(uncovered_share(o, spans))

    out = {k: median(v) for k, v in per_op.items()}
    out.update(wl.setup_parts)
    out["host.load_1m"] = median(load)
    traced_p50 = median([o.wall_s for o in traced])
    out["trace.op_s_p50"] = traced_p50
    out["trace.overhead_s"] = (
        traced_p50 - median([o.wall_s for o in bare]) if bare else 0.0)
    out["trace.uncovered_share"] = max(uncovered) if uncovered else 0.0
    return {name: out.get(name, 0.0) for name in names}


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        return run(args)
    except workloads.RouteError as e:
        print(f"perfbench: route check failed: {e}", file=sys.stderr)
        return 3


if __name__ == "__main__":
    sys.exit(main())

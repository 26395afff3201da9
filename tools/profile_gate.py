"""Per-gate job breakdown: run one gate warm with the event log on, then
print every Spark job's duration + description — the measure-first tool
for deciding which of a gate's actions are worth removing (guide §1).
Next to the job list it prints the gate's py4j round trips and its
driver time outside jobs (wall time no job covers): the Python plan
construction layer.

Usage: python tools/profile_gate.py <gate> [gate ...]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from tools.py4j_round_trips import round_trips  # noqa: E402


def _build_session(cpus: str, log_dir: str):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", log_dir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .appName("avro_spark-profile")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _covered_ms(spans: list) -> float:
    """Length of the union of ``(start, end)`` spans."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(spans):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def main() -> None:
    gates = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    log_dir = tempfile.mkdtemp(prefix="spark_evlog_")
    spark = _build_session(cpus, log_dir)
    qs = {**E.queries(), **E.extra_queries()}
    from pyspark.sql import functions as F

    (
        spark.read.parquet(f"{sf_dir}/nation.parquet")
        .select((F.col("n_nationkey") * 2).alias("x"))
        .groupBy().sum("x").write.format("noop").mode("overwrite").save()
    )
    marks = {}
    for name in gates:
        fn = qs[name]
        spark.catalog.clearCache()
        # one unmeasured warm pass, then the profiled pass
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        with round_trips() as rt:
            t0 = time.time() * 1000
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            t1 = time.time() * 1000
        marks[name] = (t0, t1, rt.n)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    # parse the event log: job submit/end times + descriptions
    # (Spark 4 may write a rolling dir eventlog_v2_<appid>/events_*)
    path = os.path.join(log_dir, app_id)
    if not os.path.isfile(path):
        d = os.path.join(log_dir, f"eventlog_v2_{app_id}")
        parts = sorted(
            os.path.join(d, f) for f in os.listdir(d)
            if f.startswith("events")
        )
    else:
        parts = [path]
    lines = []
    for p in parts:
        with open(p) as fh:
            lines.extend(fh)
    jobs = {}
    for line in lines:
        ev = json.loads(line)
        if ev.get("Event") == "SparkListenerJobStart":
            props = ev.get("Properties", {}) or {}
            jobs[ev["Job ID"]] = {
                "t0": ev["Submission Time"],
                "desc": props.get("spark.job.description", "")[:110],
                "callsite": props.get("callSite.short", ""),
            }
        elif ev.get("Event") == "SparkListenerJobEnd":
            j = jobs.get(ev["Job ID"])
            if j is not None:
                j["t1"] = ev["Completion Time"]
    for name, (t0, t1, n_rt) in marks.items():
        print(f"=== {name}: wall {(t1 - t0) / 1000:.3f}s, "
              f"{n_rt} py4j round trips")
        sel = [
            (jid, j) for jid, j in sorted(jobs.items())
            if j.get("t1") and t0 <= j["t0"] <= t1
        ]
        tot = 0.0
        prev_end = t0
        for jid, j in sel:
            d = (j["t1"] - j["t0"]) / 1000
            gap = (j["t0"] - prev_end) / 1000
            prev_end = max(prev_end, j["t1"])
            tot += d
            print(f"  job {jid:4d} {d:7.3f}s (gap {gap:6.3f}s)  "
                  f"{j['callsite'] or j['desc']}")
        outside = (t1 - t0 - _covered_ms(
            [(j["t0"], min(j["t1"], t1)) for _jid, j in sel])) / 1000
        print(f"  --- {len(sel)} jobs, {tot:.3f}s job time, "
              f"{outside:.3f}s driver time outside jobs, "
              f"{n_rt} py4j round trips")


if __name__ == "__main__":
    main()

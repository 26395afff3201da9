"""Tests of the benchmark's own code: input determinism, the event-log
math, and agreement between the printed names and ``BENCHMARK.json``.

Run from the repository root:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import evlog  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
from spans import Op, Span, Tracer, uncovered_share  # noqa: E402


# ------------------------------------------------------------ determinism
def _batches(seed: int, n: int = 3):
    gen, texts = inputs.corpus(seed, 40, 30, 4, 15)
    indexed = dict(enumerate(texts))
    out = []
    for b in range(n):
        out.append(inputs.make_batch(gen, seed, b, 40 + 20 * b, 20, 0.1, 0.2,
                                     indexed))
    return texts, out


def test_dedup_inputs_repeat_for_a_seed_and_differ_across_seeds():
    a_texts, a = _batches(7)
    b_texts, b = _batches(7)
    c_texts, c = _batches(8)
    assert a_texts == b_texts and a == b
    assert a_texts != c_texts
    assert [x.texts for x in a] != [x.texts for x in c]


def test_batches_plant_the_declared_shares():
    texts, batches = _batches(3)
    for b in batches:
        assert len(b.ids) == len(b.texts) == 20
        assert len(b.exact) == 2 and len(b.near) == 4
        for new_id, src in b.exact.items():
            assert b.texts[b.ids.index(new_id)] == texts[src]
        for new_id, src in b.near.items():
            got = b.texts[b.ids.index(new_id)].split(" ")
            want = texts[src].split(" ")
            assert sum(x != y for x, y in zip(got, want)) == 1
        assert not set(b.exact.values()) & set(b.near.values())


def _shingles(text: str) -> set:
    t = text.split(" ")
    return {tuple(t[i:i + 3]) for i in range(len(t) - 2)}


def _jaccard(a: str, b: str) -> float:
    x, y = _shingles(a), _shingles(b)
    return len(x & y) / len(x | y)


def test_shared_headers_stay_below_the_probe_threshold():
    # the dedup workload's shape: 400 tokens, a 200-token header
    gen, texts = inputs.corpus(4, 60, 400, 3, 200)
    same = [_jaccard(a, b) for i, a in enumerate(texts)
            for b in texts[i + 1:] if a.split(" ")[:200] == b.split(" ")[:200]]
    assert same and max(same) == pytest.approx(198 / 598) and max(same) < 0.5
    indexed = dict(enumerate(texts))
    b = inputs.make_batch(gen, 4, 0, 60, 10, 0.0, 0.5, indexed)
    for new_id, src in b.near.items():
        assert _jaccard(b.texts[b.ids.index(new_id)], texts[src]) > 0.9


@pytest.fixture(scope="module")
def spark():
    sql = pytest.importorskip("pyspark.sql")
    s = (sql.SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "1").getOrCreate())
    yield s
    s.stop()


def test_event_rows_repeat_for_a_seed_and_differ_across_seeds(spark):
    def rows(seed):
        return [r.asDict() for r in
                inputs.event_rows_flat_v1(spark, seed, 50, 2).collect()]

    assert rows(5) == rows(5)
    assert rows(5) != rows(6)
    assert inputs.event_rows_flat_v1(spark, 5, 50, 3).columns \
        == inputs.FLAT_V1
    assert inputs.event_rows_flat_v2(spark, 5, 50, 3).columns \
        == inputs.FLAT_V2


# ------------------------------------------------------------ event log
def _job(jid, t0, t1, props=None):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid,
         "Submission Time": t0, "Properties": props or {}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid,
         "Completion Time": t1},
    ]


def _stage(sid, t0, props=None):
    return {"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": sid, "Submission Time": t0},
            "Properties": props or {}}


def _task(sid, run_ms, cpu_ns=0, read=0, written=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Executor CPU Time": cpu_ns,
                             "JVM GC Time": 1,
                             "Input Metrics": {"Bytes Read": read},
                             "Output Metrics": {"Bytes Written": written},
                             "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                      "Local Bytes Read": 5},
                             "Shuffle Write Metrics": {
                                 "Shuffle Bytes Written": 7},
                             "Memory Bytes Spilled": 0,
                             "Disk Bytes Spilled": 3}}


def test_union_merges_overlaps_and_keeps_gaps():
    assert evlog.union_s([]) == 0
    assert evlog.union_s([(0, 10), (5, 12), (20, 25), (21, 22)]) == 17
    assert evlog.union_s([(3, 4), (0, 1)]) == 2


def test_canned_log_gap_and_attribution():
    # op 0 spans [1000, 3000] ms; its labelled jobs overlap (1100-1600,
    # 1500-2000) and an unlabelled job (2500-2700) falls in the window of
    # the "b" span; op 1's job is labelled by property outside its window
    ops = [evlog.Window(0, None, 1000, 3000), evlog.Window(1, None, 3000, 4000)]
    spans = [evlog.Window(0, "a", 1000, 2100), evlog.Window(0, "b", 2100, 3000)]
    lab = {"bench.op": "0", "bench.layer": "a"}
    events = (
        _job(1, 1100, 1600, lab) + _job(2, 1500, 2000, lab)
        + _job(3, 2500, 2700) + _job(4, 3100, 3200, {"bench.op": "1"})
        + _job(9, 500, 600)  # before any op: dropped
        + [_stage(10, 1100, lab), _stage(11, 2500), _stage(12, 3100,
                                                           {"bench.op": "1"})]
        + [_task(10, 100, 5e8, read=40), _task(10, 300, 5e8, read=60),
           _task(10, 200, 0), _task(11, 50, 0, read=1000, written=9),
           _task(12, 10)]
    )
    stats = evlog.per_op_stats(events, ops, spans)
    s0 = stats[0]
    assert (s0.jobs, s0.stages, s0.tasks) == (3, 2, 4)
    assert s0.layer_input_bytes == {"a": 100, "b": 1000}
    m = evlog.op_metrics(s0, wall_s=2.0, cores=4)
    assert m["spark.job_s"] == pytest.approx(1.1)  # 900 ms + 200 ms
    assert m["spark.driver_gap_s"] == pytest.approx(0.9)
    assert m["spark.executor_run_s"] == pytest.approx(0.65)
    assert m["spark.executor_cpu_s"] == pytest.approx(1.0)
    assert m["spark.gc_s"] == pytest.approx(0.004)
    assert m["spark.core_busy_ratio"] == pytest.approx(0.65 / (1.1 * 4))
    assert m["spark.task_skew"] == pytest.approx(300 / 200)
    assert (m["spark.input_bytes"], m["spark.output_bytes"]) == (1100, 9)
    assert m["spark.shuffle_read_bytes"] == 20
    assert m["spark.shuffle_write_bytes"] == 28
    assert m["spark.spill_bytes"] == 12
    assert (stats[1].jobs, stats[1].tasks) == (1, 1)


def test_read_events_plain_file(tmp_path):
    evs = _job(1, 0, 1)
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in evs))
    assert evlog.read_events(str(tmp_path), "app-1") == evs


def test_uncovered_share_counts_spans_and_label_cost():
    op = Op(0, 100.0, 110.0)
    spans = [Span(0, "a", 100.0, 104.0, 0.5), Span(0, "b", 105.0, 109.0, 0.5)]
    assert uncovered_share(op, spans) == pytest.approx(0.1)


def test_untraced_tracer_records_nothing():
    tr = Tracer(None, "w", enabled=False)
    with tr.op(0):
        with tr.span("a"):
            pass
    assert tr.spans == [] and len(tr.ops) == 1 and not tr.ops[0].traced


# -------------------------------------------------- names and the contract
def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _names(kind: str) -> "list[str]":
    return [m["name"] for m in _bench()[kind]]


def test_end_to_end_names_match_benchmark_json():
    class Wl:
        rows_per_op = 10

    got = run.end_to_end_metrics(Wl(), 1.0, [0.5, 0.7, 2.0], 3.0)
    assert list(got) == _names("end_to_end")
    assert got["rows_per_s"] == pytest.approx(10 / 0.7)
    bounds = {m["name"]: m["bound"] for m in _bench()["end_to_end"]}
    assert max(bounds.values()) == bounds["setup_s"]


def test_every_recorded_layer_is_a_per_layer_metric():
    import re

    src = ""
    for f in ("workloads.py", "run.py"):
        with open(os.path.join(HERE, f)) as fh:
            src += fh.read()
    spans = {f"{x}_s" for x in re.findall(r'tr\.span\("([^"]+)"\)', src)}
    parts = set(re.findall(r'_timed\(\s*"([^"]+)"', src))
    parts |= set(re.findall(r'setup_parts\["([^"]+)"\]', src))
    names = set(_names("per_layer"))
    assert spans and parts
    assert spans <= names and parts <= names
    assert set(evlog.op_metrics(evlog.OpStats(), 1.0, 4)) <= names


def test_workload_names_match_benchmark_json():
    import workloads

    assert [w["name"] for w in _bench()["workloads"]] \
        == list(workloads.WORKLOADS)


def test_run_refuses_a_directory_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ocf_ingest",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode == 2 and p.stdout == ""

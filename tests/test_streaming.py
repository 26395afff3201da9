"""Structured Streaming extension tests: every streaming operator runs
over the events table (copied into a tmp dir so the file source sees one
table), Trigger.AvailableNow, memory sink — and where the op is
deterministic, the result must equal the same aggregation done in batch.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

import avro_spark
from avro_spark import streaming as ST

from conftest import SF_DIR


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """events table rewritten with a proper TIMESTAMP(MICROS) ts column.
    Older driver parquet stored TIMESTAMP(NANOS) (read as long nanos via
    legacy.parquet.nanosAsLong); newer testdata is already TIMESTAMP(MICROS),
    so only convert when ts arrived as an integer."""
    d = tmp_path_factory.mktemp("events_stream")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    if dict(ev.dtypes)["ts"] in ("bigint", "long"):
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # watermarks require TIMESTAMP (with tz), not NTZ; session tz is UTC
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    ev.write.mode("overwrite").parquet(str(d))
    return str(d)


def _batch_events(spark, events_dir):
    return spark.read.parquet(events_dir)


def test_stream_windowed_counts_match_batch(spark, events_dir):
    src = ST.stream_source(spark, events_dir)
    ST.run_to_memory(
        ST.windowed_counts(src, window="10 minutes", watermark="5 minutes"),
        "win_counts",
        output_mode="append",
    )
    got = spark.table("win_counts")
    batch = (
        _batch_events(spark, events_dir)
        .groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    # AvailableNow + append: only watermark-closed windows emit; every
    # emitted row must match the batch aggregate exactly.
    got_rows = {
        (r["window_start"], r["event_type"]): r["n_events"] for r in got.collect()
    }
    batch_rows = {
        (r["win"]["start"], r["event_type"]): r["n_events"] for r in batch.collect()
    }
    assert got_rows, "no windows closed — watermark too long for test data"
    for k, n in got_rows.items():
        assert batch_rows[k] == n


def test_stream_sessionized_counts(spark, events_dir):
    src = ST.stream_source(spark, events_dir)
    ST.run_to_memory(
        ST.sessionized_counts(src, gap="2 minutes", watermark="5 minutes"),
        "sess_counts",
        output_mode="append",
    )
    got = spark.table("sess_counts")
    assert got.count() > 0
    r = got.first()
    assert r["session_end"] > r["session_start"]
    total_evts = got.agg(F.sum("n_events")).first()[0]
    assert total_evts <= _batch_events(spark, events_dir).count()


def test_stream_dedup_drops_duplicates(spark, events_dir, tmp_path):
    # duplicate the source rows → every event_id appears twice
    dup_dir = str(tmp_path / "dup")
    ev = spark.read.parquet(events_dir)
    ev.write.mode("overwrite").parquet(dup_dir)
    ev.write.mode("append").parquet(dup_dir)
    src = ST.stream_source(spark, dup_dir)
    ST.run_to_memory(
        ST.stream_dedup(src, ("event_id",), watermark="5 minutes"),
        "dedup_events",
        output_mode="append",
    )
    got = spark.table("dedup_events")
    n_unique = _batch_events(spark, events_dir).select("event_id").distinct().count()
    assert got.count() == n_unique
    assert got.select("event_id").distinct().count() == n_unique


def test_stream_running_totals_stateful(spark, events_dir):
    src = ST.stream_source(spark, events_dir)
    ST.run_to_memory(
        ST.running_totals(src, watermark="5 minutes"),
        "run_totals",
        output_mode="update",
    )
    got = spark.table("run_totals")
    # final state per user (last emitted row) must equal the batch totals
    w = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    )
    final = got.withColumn("_rn", w).where("_rn = 1").drop("_rn")
    batch = (
        _batch_events(spark, events_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.coalesce("value", F.lit(0.0))).alias("total_value"),
        )
    )
    gmap = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in final.collect()}
    bmap = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in batch.collect()}
    assert gmap == bmap


def test_stream_schema_transform(spark, events_dir, tmp_path):
    """CompiledSchema.flatten applies unchanged to a streaming frame."""
    nested = tmp_path / "nested"
    ev = spark.read.parquet(events_dir).select(
        "event_id",
        F.struct(
            F.col("event_type").alias("kind"), F.col("value").alias("v")
        ).alias("payload"),
    )
    ev.write.parquet(str(nested))
    schema = avro_spark.create(
        {
            "type": "record",
            "name": "Event",
            "fields": [
                {"name": "event_id", "type": "long"},
                {
                    "name": "payload",
                    "type": {
                        "type": "record",
                        "name": "Payload",
                        "fields": [
                            {"name": "kind", "type": "string"},
                            {"name": "v", "type": "double"},
                        ],
                    },
                },
            ],
        }
    )
    plan = avro_spark.compile(schema)
    src = ST.stream_source(spark, str(nested))
    flat = ST.stream_transform(src, plan, "flatten")
    assert flat.isStreaming
    ST.run_to_memory(flat, "flat_events", output_mode="append")
    got = spark.table("flat_events")
    assert got.columns == ["event_id", "payload.kind", "payload.v"]
    assert got.count() == ev.count()


def test_stream_json_validation(spark, tmp_path):
    """conform_json composes with Structured Streaming unchanged — the
    Kafka-shape ingest: a stream of raw JSON strings validated JVM-side,
    bad rows routed by the _errors column (dead-letter pattern)."""
    from avro_spark.operators.conform import ERRORS_COL, conform_json

    src_dir = tmp_path / "json_in"
    rows = [
        ('{"event_id": 1, "value": 1.5}',),
        ('{"event_id": "oops", "value": 2.0}',),
        ('{"event_id": 3, "value": 3.0, "zz": true}',),
        ("not json",),
    ]
    spark.createDataFrame(rows, "j string").write.parquet(str(src_dir))
    schema = avro_spark.create({
        "type": "record", "name": "Ev",
        "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "value", "type": "double"},
        ],
    })
    stream = (
        spark.readStream.schema("j string").parquet(str(src_dir))
    )
    out = conform_json(stream, "j", schema, mode="flag")
    assert out.isStreaming
    ST.run_to_memory(out, "json_validated", output_mode="append")
    got = {r.j: r[ERRORS_COL] for r in spark.table("json_validated").collect()}
    assert got['{"event_id": 1, "value": 1.5}'] == []
    assert got['{"event_id": "oops", "value": 2.0}'] == [
        "event_id: Expecting LONG, encountered STR"
    ]
    assert got['{"event_id": 3, "value": 3.0, "zz": true}'] == ['Unknown key: "zz"']
    assert got["not json"] == ["invalid JSON"]


@pytest.mark.parametrize("scheme", ["bare", "file_uri"])
def test_stream_merge_snapshot(spark, tmp_path, scheme):
    """CDC change stream folded into a parquet snapshot via foreachBatch
    (streaming face of operators/merge.py), at a bare path and at a
    file:// URI."""
    import avro_spark.streaming.pipeline as P

    src = tmp_path / "changes"
    src.mkdir()
    target = str(tmp_path / "snapshot")
    if scheme == "file_uri":
        target = f"file://{target}"
    spark.createDataFrame(
        [(1, "a", "upsert", 1), (2, "b", "upsert", 1)],
        "id long, v string, op string, version long",
    ).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(
        [(1, None, "delete", 2), (3, "c", "upsert", 2)],
        "id long, v string, op string, version long",
    ).coalesce(1).write.mode("append").parquet(str(src))
    changes = (
        spark.readStream.schema("id long, v string, op string, version long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = P.stream_merge_snapshot(
        changes, target, "id", ["id", "v"],
        checkpoint=str(tmp_path / "ckpt"), available_now=True,
    )
    q.awaitTermination()
    got = sorted(map(tuple, spark.read.parquet(target).collect()))
    # both files may land in one micro-batch (order within a batch is
    # resolved by version), or in two — the result is the same
    assert got == [(2, "b"), (3, "c")]


def test_stream_interval_join(spark, tmp_path):
    """Attribution-shape stream-stream join: click joins the impression
    ≤ 5 minutes before it, per user; watermarks bound the join state."""
    import datetime as dt

    import avro_spark.streaming.pipeline as P

    t0 = dt.datetime(2024, 1, 1)

    def ts(mins):
        return t0 + dt.timedelta(minutes=mins)

    imp_dir, clk_dir = tmp_path / "imp", tmp_path / "clk"
    spark.createDataFrame(
        [(1, ts(0), "ad1"), (1, ts(20), "ad2"), (2, ts(0), "ad3")],
        "user_id long, ts timestamp, ad string",
    ).coalesce(1).write.parquet(str(imp_dir))
    spark.createDataFrame(
        [(1, ts(3), "c1"), (1, ts(21), "c2"), (2, ts(30), "c3")],
        "user_id long, ts timestamp, click string",
    ).coalesce(1).write.parquet(str(clk_dir))
    clicks = spark.readStream.schema(
        "user_id long, ts timestamp, click string"
    ).parquet(str(clk_dir))
    imps = spark.readStream.schema(
        "user_id long, ts timestamp, ad string"
    ).parquet(str(imp_dir))
    joined = P.stream_interval_join(
        clicks, imps, "user_id", lower_seconds=0, upper_seconds=300,
        watermark="1 hour",
    )
    P.run_to_memory(joined.select("user_id", "click", "ad_r"), "attrib")
    got = sorted(
        (r["user_id"], r["click"], r["ad_r"])
        for r in spark.sql("SELECT * FROM attrib").collect()
    )
    # c1 attributes to ad1 (3 min gap); c2 to ad2 (1 min); c3 matches
    # nothing (30 min after ad3, outside the 5-min bound)
    assert got == [(1, "c1", "ad1"), (1, "c2", "ad2")]


def test_stream_interval_join_swapped_bounds_raise(spark):
    import avro_spark.streaming.pipeline as P

    dummy = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="unsatisfiable"):
        P.stream_interval_join(dummy, dummy, "value", left_ts="timestamp",
                               right_ts="timestamp",
                               lower_seconds=600, upper_seconds=0)


def test_stream_merge_recovers_from_mid_swap_crash(spark, tmp_path):
    """A kill between the two renames leaves target missing and the old
    snapshot parked; the next batch must restore it, not rebuild from
    empty."""
    import os

    import avro_spark.streaming.pipeline as P

    src = tmp_path / "changes2"
    target = str(tmp_path / "snap2")
    spark.createDataFrame(
        [(1, "a", "upsert", 1)], "id long, v string, op string, version long"
    ).coalesce(1).write.mode("append").parquet(str(src))
    q = P.stream_merge_snapshot(
        spark.readStream.schema("id long, v string, op string, version long")
        .parquet(str(src)),
        target, "id", ["id", "v"],
        checkpoint=str(tmp_path / "ck2"), available_now=True,
    )
    q.awaitTermination()
    # simulate the mid-swap crash state: target renamed away, no inflight
    os.rename(target, target + ".__old_99")
    spark.createDataFrame(
        [(2, "b", "upsert", 2)], "id long, v string, op string, version long"
    ).coalesce(1).write.mode("append").parquet(str(src))
    q = P.stream_merge_snapshot(
        spark.readStream.schema("id long, v string, op string, version long")
        .parquet(str(src)),
        target, "id", ["id", "v"],
        checkpoint=str(tmp_path / "ck2"), available_now=True,
    )
    q.awaitTermination()
    got = sorted(map(tuple, spark.read.parquet(target).collect()))
    assert got == [(1, "a"), (2, "b")]  # row 1 survived the crash


def test_stream_wire_format_multi_version_consume(spark, tmp_path):
    """from_wire applies unchanged to a streaming frame: a Kafka-shaped
    stream of wire-format messages written by TWO schema versions decodes
    per embedded id and conforms to the reader — the schema-registry
    consumer as one declarative streaming plan (no foreachBatch)."""
    from avro_spark.sources.wire import from_wire, schema_registry_id, to_wire

    v1 = avro_spark.create(
        {"type": "record", "name": "M",
         "fields": [{"name": "id", "type": "long"},
                    {"name": "v", "type": "string"}]})
    v2 = avro_spark.create(
        {"type": "record", "name": "M",
         "fields": [{"name": "id", "type": "long"},
                    {"name": "v", "type": "string"},
                    {"name": "score", "type": "double", "default": -1.0}]})
    id1, id2 = schema_registry_id(v1), schema_registry_id(v2)
    src = tmp_path / "wire_msgs"
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], v1.to_struct_type())
    df2 = spark.createDataFrame([(3, "c", 0.5)], v2.to_struct_type())
    to_wire(df1, v1).unionByName(to_wire(df2, v2)).write.parquet(str(src))
    stream = spark.readStream.schema("wire binary").parquet(str(src))
    out = from_wire(stream, "wire", {id1: v1, id2: v2}, reader=v2)
    assert out.isStreaming
    ST.run_to_memory(out, "wire_decoded", output_mode="append")
    got = sorted((r.id, r.v, r.score)
                 for r in spark.table("wire_decoded").collect())
    assert got == [(1, "a", -1.0), (2, "b", -1.0), (3, "c", 0.5)]


def test_streaming_cms_merge(spark, tmp_path):
    """Count-Min sketches built per micro-batch and MERGED into a running
    sketch via foreachBatch — the mergeable-summary pattern: the stored
    state is <= d x w counters however long the stream runs, and the
    merged sketch equals the batch sketch over all data."""
    from avro_spark.functions.stats import cms_build, cms_estimate, cms_merge

    src = tmp_path / "events"
    src.mkdir()
    spark.createDataFrame(
        [("a",)] * 3 + [("b",)], "k string"
    ).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(
        [("a",)] * 2 + [("c",)] * 4, "k string"
    ).coalesce(1).write.mode("append").parquet(str(src))

    target = str(tmp_path / "sketch")

    def fold(batch, batch_id):
        sk = cms_build(batch, "k", d=4, w=256)
        try:
            prev = batch.sparkSession.read.parquet(target)
            sk = cms_merge(prev, sk)
        except Exception:
            pass  # first batch: no prior sketch
        sk.coalesce(1).write.mode("overwrite").parquet(target + "_next")
        # atomic-ish swap for the test (production would dir-swap like
        # stream_merge_snapshot)
        import shutil

        shutil.rmtree(target, ignore_errors=True)
        shutil.move(target + "_next", target)

    stream = (
        spark.readStream.schema("k string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    merged = spark.read.parquet(target)
    assert merged.count() <= 4 * 256
    whole = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] + [("c",)] * 4, "k string"
    )
    keys = whole.select("k").distinct()
    est_merged = {
        r.k: r.cms_estimate
        for r in cms_estimate(merged, keys, "k", d=4, w=256).collect()
    }
    sk_whole = cms_build(whole, "k", d=4, w=256)
    est_whole = {
        r.k: r.cms_estimate
        for r in cms_estimate(sk_whole, keys, "k", d=4, w=256).collect()
    }
    assert est_merged == est_whole == {"a": 5, "b": 1, "c": 4}


def test_stream_avro_ocf_sink_exactly_once(spark, tmp_path):
    """r7 streaming OCF SINK (write_avro_stream): a file stream drained
    with availableNow lands as append-mode OCF files that read back
    equal to the batch input; a REPLAYED batch (same batch id — the
    failure-between-write-and-checkpoint shape) atomically replaces its
    own earlier part files instead of duplicating rows, even when the
    replay repartitioned down."""
    import glob

    from avro_spark.sources.avro_ocf import (
        _stream_batch_writer, read_avro_files, write_avro_stream,
    )

    sch = avro_spark.create({"type": "record", "name": "SS", "fields": [
        {"name": "k", "type": "long"}, {"name": "v", "type": "string"}]})
    src = tmp_path / "src"
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(200)], "k long, v string")
    df.write.parquet(str(src))

    out = str(tmp_path / "ocf_out")
    q = write_avro_stream(
        spark.readStream.schema("k long, v string").parquet(str(src)),
        sch, out, str(tmp_path / "ckpt"),
        codec="zstandard", trigger_available_now=True,
    )
    q.awaitTermination()
    back = read_avro_files(spark, out, sch)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    # replay idempotence: drive the foreachBatch callable directly
    sink = _stream_batch_writer(sch, out, "null", 4096, None, None, "auto")
    extra = spark.createDataFrame(
        [(1000 + i, f"x{i}") for i in range(50)], "k long, v string")
    sink(extra.repartition(4), 7)
    n_files_first = len(glob.glob(out + "/*.avro"))
    sink(extra.repartition(2), 7)  # REPLAY of batch 7, fewer partitions
    n_files_replay = len(glob.glob(out + "/*.avro"))
    assert n_files_replay == n_files_first - 2  # 4-part files replaced by 2
    back2 = read_avro_files(spark, out, sch)
    assert back2.count() == 250  # 200 + 50, NOT 300
    sink(extra.repartition(2), 8)  # a NEW batch id appends
    assert read_avro_files(spark, out, sch).count() == 300
    # a FAILING replay (schema drifted upstream) must NOT destroy the
    # batch's previously committed files — cleanup runs only AFTER a
    # successful job (review r7: the first cut deleted before validating)
    bad = spark.createDataFrame([(1,)], "k long")  # missing column v
    with pytest.raises(Exception, match="missing columns"):
        sink(bad, 8)
    assert read_avro_files(spark, out, sch).count() == 300
    # and token cleanup is EXACT-name: batch 8's sweep can never touch
    # batch 7's files even though their names share long prefixes
    assert {7, 8} <= {
        int(f.rsplit("-batch", 1)[1][:12])
        for f in glob.glob(out + "/*batch*.avro")}
    # the sweep also covers part numbers past 5 digits ({pid:05d} grows
    # at pid >= 100000) — plant a stale 6-digit part for batch 8 and
    # replay: it must be swept, while batch 7's files stay untouched
    import os
    stale = os.path.join(out, "part-123456-batch000000000008.avro")
    open(stale, "wb").write(b"stale")
    sink(extra.repartition(2), 8)
    assert not os.path.exists(stale)
    assert read_avro_files(spark, out, sch).count() == 300


def test_stream_source_glob_matching_no_file_raises(spark, tmp_path):
    """pathGlobFilter matches FILE names: against a directory-style
    table ('events.parquet/part-0.parquet') it matches nothing and the
    stream would read zero rows — stream_source refuses instead."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").limit(5)
    ev.write.parquet(str(tmp_path / "events.parquet"))
    with pytest.raises(ValueError, match="matches no file"):
        ST.stream_source(spark, str(tmp_path), schema=ev.schema,
                         path_glob_filter="events.parquet")
    # a glob that names the part files is accepted
    src = ST.stream_source(spark, str(tmp_path), schema=ev.schema,
                           path_glob_filter="part-*.parquet")
    assert src.isStreaming

"""Structured Streaming surface (beyond-reference extension).

The reference engine is strictly batch/single-datum (SURVEY.md §2D:
no watermarks/streaming state); everything here is a Spark-native
extension governed by Spark semantics.

Design rules for 100 TB/day streams:

* **Schema transforms stream as-is.** ``CompiledSchema.flatten`` /
  ``unflatten`` / ``conform`` are narrow column projections with no
  shuffle, so they apply unchanged to a streaming DataFrame —
  ``stream_transform`` just calls them. Stateless → unlimited
  parallelism, no state store.
* **Event-time, never processing-time.** Every stateful op takes a
  watermark; late data beyond it is dropped deterministically. State
  store sizing = keys × window retention — bound both.
* **File source here, Kafka in production.** ``stream_source`` reads a
  parquet directory (what the test environment has); the option plumb
  is identical for ``format("kafka")`` + ``from_avro(value, schema)``
  using our exported Avro schemas (sources/avro_binary.py handles the
  no-jar case).
* **Custom stateful logic** uses ``applyInPandasWithState`` — Arrow
  batches per key group, explicit GroupState, timeout-driven eviction —
  the Spark-4 shape for reference-style "operators Spark lacks".
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def stream_source(
    spark: SparkSession,
    path: str,
    schema: Optional[T.StructType] = None,
    fmt: str = "parquet",
    max_files_per_trigger: Optional[int] = None,
    path_glob_filter: Optional[str] = None,
) -> DataFrame:
    """readStream from a file directory. Streaming file sources require an
    explicit schema; when none is given, infer it from a one-off batch
    read of the same path (cheap: parquet footers only).
    ``path_glob_filter`` selects matching files inside the directory —
    the way to stream ONE table file out of a directory of tables (the
    file source refuses a bare file path: 'basePath' must be a dir).
    A filter that matches no file raises ``ValueError``: the stream
    would otherwise read zero rows without error."""
    if schema is None:
        schema = spark.read.format(fmt).load(path).schema
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if path_glob_filter is not None:
        if not _glob_matches_a_file(spark, path, path_glob_filter):
            raise ValueError(
                f"stream_source: pathGlobFilter {path_glob_filter!r} "
                f"matches no file under {path!r} — the stream would "
                "read zero rows (the filter matches FILE names, so a "
                "directory-style table such as "
                "'events.parquet/part-0.parquet' never matches it)"
            )
        reader = reader.option("pathGlobFilter", path_glob_filter)
    return reader.load(path)


def _glob_matches_a_file(spark: SparkSession, path: str, glob: str) -> bool:
    """True iff some file under ``path`` (recursively, as the file
    source lists it) has a name Hadoop's ``GlobFilter`` — the filter
    behind the ``pathGlobFilter`` option — accepts."""
    sc = spark.sparkContext
    hadoop_fs = sc._jvm.org.apache.hadoop.fs
    root = hadoop_fs.Path(path)
    accept = hadoop_fs.GlobFilter(glob)
    files = root.getFileSystem(sc._jsc.hadoopConfiguration()) \
        .listFiles(root, True)
    while files.hasNext():
        if accept.accept(files.next().getPath()):
            return True
    return False


def start_foreach_batch(
    df: DataFrame,
    sink,
    checkpoint_dir: str,
    query_name: Optional[str],
    trigger_available_now: bool,
):
    """Start ``df.writeStream.foreachBatch(sink)`` checkpointed at
    ``checkpoint_dir`` — the start of every exactly-once sink (the
    index-ingest and incremental-dedup streams, the OCF writer).
    ``trigger_available_now`` drains what is available, then stops;
    otherwise the default micro-batch trigger runs until
    ``query.stop()``. Returns the started ``StreamingQuery``."""
    writer = (
        df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if query_name:
        writer = writer.queryName(query_name)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_transform(df: DataFrame, compiled, which: str = "flatten") -> DataFrame:
    """Apply a CompiledSchema plan (flatten/unflatten/xflatten) to a
    streaming DataFrame. The plans are narrow selects (SURVEY.md §3.4:
    "pure narrow transformations — no shuffles"), so they are
    streaming-legal with no state and no watermark."""
    fn = getattr(compiled, which)
    return fn(df)


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "5 minutes",
    slide: Optional[str] = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregate:
    (window_start, window_end, key, n_events, sum_value, avg_value).

    Scale: state per (window × key); with a watermark the store only
    retains windows newer than max_event_time - watermark. Partial
    aggregation happens map-side before the single keyed shuffle."""
    w = F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(w.alias("win"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.avg("value").alias("avg_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "n_events",
            "sum_value",
            "avg_value",
        )
    )


def sessionized_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Session windows (dynamic-length, gap-closed): one row per
    (user, session) with event count and bounds. session_window state
    merges adjacent micro-batch spans; the watermark closes sessions
    whose gap has provably expired."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sess"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def stream_dedup(
    events: DataFrame,
    id_cols: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exactly-once-per-id stream: drop duplicate ids within the
    watermark horizon. State = one entry per id seen inside the
    horizon; eviction is watermark-driven so the store is bounded by
    arrival rate × horizon, not by stream lifetime."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(id_cols)
    )


RUNNING_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("total", T.DoubleType())]
)


def running_totals(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    watermark: str = "10 minutes",
    idle_timeout_ms: Optional[int] = None,
) -> DataFrame:
    """Custom stateful operator: per-user running (count, sum) emitted
    every micro-batch the user appears in. The reference-style 'operator
    Spark lacks' pattern: ``applyInPandasWithState`` gives explicit
    per-key state + Arrow batches; per key-group Python cost is one
    dict update per batch.

    ``idle_timeout_ms`` enables ProcessingTimeTimeout state eviction for
    continuous deployments (state bounded by active keys × idle window).
    Leave it None for finite/backfill runs: pending processing-time
    timers keep a Trigger.AvailableNow query alive until every timer
    fires, so a drain-and-stop run would hang instead of terminating."""
    import pandas as pd  # local import: only the worker needs it

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    for c in (key_col, value_col, ts_col):
        if c not in events.columns:
            raise ValueError(f"running_totals: no such column: {c}")
    # output schema follows the ACTUAL key column name and type — a
    # hardcoded user_id/LongType would misname the column or fail the
    # Arrow conversion for string/other keys
    out_schema = T.StructType(
        [
            T.StructField(key_col, events.schema[key_col].dataType),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].fillna(0.0).sum())
        state.update((n, total))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {key_col: [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col))
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if idle_timeout_ms is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def run_to_memory(
    df: DataFrame, table_name: str, output_mode: str = "append"
) -> None:
    """Execute a streaming query over all currently-available input
    (Trigger.AvailableNow) into an in-memory sink, then stop. Test/demo
    helper — production sinks are kafka/delta/parquet with checkpoints."""
    q = (
        df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_merge_snapshot(
    changes: DataFrame,
    target_path: str,
    key: str,
    base_schema: "list[str]",
    version_col: str = "version",
    op_col: str = "op",
    checkpoint: "str | None" = None,
    available_now: bool = False,
):
    """Continuously fold a CDC change stream into a parquet snapshot:
    each micro-batch applies :func:`avro_spark.operators.merge.
    merge_snapshot` (latest-wins upsert/delete) to the current snapshot
    and atomically replaces it — the streaming face of the batch merge
    operator, via ``foreachBatch`` (the sanctioned pattern for sinks
    Spark cannot express declaratively).

    ``base_schema`` lists the snapshot columns (= change columns minus
    op/version). Returns the StreamingQuery.

    Scale note: each micro-batch is one anti-join + union + rewrite of
    the changed files; at 100 TB the same batch logic runs MERGE-style
    against a table format with file-level pruning (the operator is
    format-agnostic — only this demo sink rewrites whole snapshots).
    """
    import posixpath

    from .. import _fs
    from ..operators.merge import merge_snapshot

    spark = changes.sparkSession
    parent, name = posixpath.split(target_path.rstrip("/"))
    parent = parent or "."

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # crash recovery FIRST: a kill between the two renames below
        # leaves the snapshot missing with its previous state parked in
        # an __old_ dir — restore it before deciding "no snapshot yet",
        # otherwise the checkpoint-replayed batch would silently rebuild
        # from empty (the exact loss mode the existence check exists to
        # prevent). Inflight scratch dirs from failed writes are junk.
        olds = _fs.child_dirs(parent, f"{name}.__old_")
        if not _fs.is_dir(target_path) and olds:
            _fs.mv_dir(posixpath.join(parent, olds.pop()), target_path)
        for leftover in olds + _fs.child_dirs(parent, f"{name}.__inflight_"):
            _fs.rm_dir(posixpath.join(parent, leftover))
        # explicit existence check, NOT try/except around the read: a
        # transient read failure (permissions, corrupt footer) must fail
        # the batch loudly
        if _fs.is_dir(target_path):
            base = spark.read.parquet(target_path).select(*base_schema)
        else:
            base = spark.createDataFrame(
                [], batch_df.select(*base_schema).schema
            )
        merged = merge_snapshot(
            base, batch_df, key, version_col=version_col, op_col=op_col,
            broadcast_changes=True,
        )
        # write DISTRIBUTED to a scratch dir, then swap directories: the
        # merge plan reads the very files an in-place overwrite would
        # clobber mid-scan, and collecting to the driver would not scale
        tmp = f"{target_path}.__inflight_{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        old = f"{target_path}.__old_{batch_id}"
        if _fs.is_dir(target_path):
            _fs.mv_dir(target_path, old)
        _fs.mv_dir(tmp, target_path)
        _fs.rm_dir(old)

    writer = changes.writeStream.foreachBatch(apply_batch).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower_seconds: int = 0,
    upper_seconds: int = 600,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream equi-join with an event-time interval bound: a left
    row matches right rows with the same key whose timestamp lies in
    ``[left_ts - upper, left_ts - lower]`` (e.g. "click joins the
    impression that preceded it by ≤10 min" — the attribution-join
    shape).

    Both sides carry watermarks, so Spark bounds the join state to the
    interval + watermark horizon per key and evicts eagerly — the ONLY
    viable stream-stream join shape at scale (an unbounded-condition
    join would accumulate state forever; Spark rejects it without
    watermarks on both sides).

    Columns from the right side are suffixed ``_r``.
    """
    if lower_seconds > upper_seconds:
        raise ValueError(
            f"stream_interval_join: lower_seconds ({lower_seconds}) > "
            f"upper_seconds ({upper_seconds}) — the bound is unsatisfiable "
            "and would silently emit zero matches forever"
        )
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    rw = rw.select(
        F.col(key).alias(f"{key}_r"),
        *[
            F.col(c).alias(f"{c}_r")
            for c in right.columns
            if c != key
        ],
    )
    cond = (
        (F.col(key) == F.col(f"{key}_r"))
        & (
            F.col(f"{right_ts}_r")
            >= F.col(left_ts) - F.expr(f"INTERVAL {int(upper_seconds)} SECONDS")
        )
        & (
            F.col(f"{right_ts}_r")
            <= F.col(left_ts) - F.expr(f"INTERVAL {int(lower_seconds)} SECONDS")
        )
    )
    return lw.join(rw, cond, "inner")

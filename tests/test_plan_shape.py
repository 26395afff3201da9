"""Physical-plan shape assertions: the scale contract, checked.

SURVEY §3.4 commits the core transforms to pure narrow plans (no
shuffle), §4 to letting Catalyst provide pushdown/pruning, and the
extension operators to explicit shuffle discipline (broadcast small
sides, one shuffle per groupBy, reused exchanges on self-joins).
These tests pin those properties so a regression that silently adds a
shuffle or drops a pushed filter fails CI, not the 100 TB run.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

import avro_spark
from avro_spark.functions import dedup as D
from avro_spark.functions import text as X

from conftest import SF_DIR


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


PERSON = {
    "type": "record",
    "name": "Person",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "profile", "type": {
            "type": "record", "name": "Profile",
            "fields": [
                {"name": "name", "type": "string"},
                {"name": "score", "type": "int"},
            ],
        }},
    ],
}


@pytest.fixture(scope="module")
def nested(spark):
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    return cust.select(
        F.col("c_custkey").alias("id"),
        F.struct(
            F.col("c_name").alias("name"),
            F.col("c_nationkey").cast("int").alias("score"),
        ).alias("profile"),
    )


def test_flatten_is_narrow(spark, nested):
    """A5 flatten: no Exchange anywhere — embarrassingly row-parallel."""
    cs = avro_spark.compile(avro_spark.create(PERSON))
    p = plan_of(cs.flatten(nested))
    assert "Exchange" not in p, p


def test_unflatten_is_narrow(spark, nested):
    cs = avro_spark.compile(avro_spark.create(PERSON))
    flat = cs.flatten(nested)
    p = plan_of(cs.unflatten(flat))
    assert "Exchange" not in p, p


def test_xflatten_is_narrow(spark, nested):
    cs = avro_spark.compile(avro_spark.create(PERSON))
    p = plan_of(cs.xflatten(nested.select("id"), keep=["id"]))
    assert "Exchange" not in p, p


def test_evolution_flatten_is_narrow(spark, nested):
    """B2/B6: promotion + field reorder stays a single narrow projection."""
    reader = {
        "type": "record",
        "name": "Person",
        "fields": [
            {"name": "profile", "type": {
                "type": "record", "name": "Profile",
                "fields": [
                    {"name": "score", "type": "long"},
                    {"name": "name", "type": "string"},
                ],
            }},
            {"name": "id", "type": "long"},
        ],
    }
    cs = avro_spark.compile(avro_spark.create(PERSON), avro_spark.create(reader))
    p = plan_of(cs.flatten(nested))
    assert "Exchange" not in p, p


def test_text_ops_are_narrow(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = docs.select(
        X.language_id(F.col("text")),
        X.quality_score(F.col("text")),
        X.token_count(F.col("text")),
        X.winnow_fingerprints(F.col("text")),
    )
    p = plan_of(out)
    assert "Exchange" not in p, p


def test_filter_pushdown_reaches_parquet_scan(spark):
    """§4: a predicate on the scan column must appear as PushedFilters."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    p = plan_of(emb.where(F.col("vec_id") < 10).select("vec_id"))
    assert "PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,10)]" in p, p


def test_column_pruning_reaches_parquet_scan(spark):
    """A 2-column projection must not read the whole documents schema."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan_of(docs.select("doc_id"))
    assert "ReadSchema: struct<doc_id:bigint>" in p, p


def test_dedup_exact_single_shuffle_with_partial_agg(spark):
    """One Exchange (on the fingerprint) and a map-side partial aggregate
    before it — the shape that holds at 100 TB."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan_of(D.exact_dedup_groups(docs, "doc_id", "text"), mode="simple")
    assert p.count("Exchange") == 1, p
    assert p.count("HashAggregate") == 2, p  # partial + final


def test_broadcast_join_in_knn(spark):
    """The query side of brute-force kNN must broadcast, never shuffle
    the big vector table."""
    from avro_spark.functions import similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    p = plan_of(S.knn_bruteforce(emb, q, k=5))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p


def test_lsh_self_join_reuses_exchange(spark):
    """Both sides of the MinHash band-bucket self-join are the same plan:
    the signature exchange must be computed once (ReusedExchange)."""
    # Exchange reuse is an AQE runtime decision: execute, then read the
    # final adaptive plan — the signature exchange must appear once and
    # be ReusedExchange'd on the other side of the self-join
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=16, bands=4)
    pairs.collect()
    p = plan_of(pairs, mode="simple")
    assert "isFinalPlan=true" in p, p
    assert "ReusedExchange" in p, p


def test_moving_stats_single_key_exchange(spark):
    """moving_stats: all windows share the user-key partitioning — one
    hash Exchange, never a SinglePartition (global) window."""
    from avro_spark.operators.temporal import moving_stats

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "ts", "user_id", "value"
    )
    p = plan_of(
        moving_stats(ev, "user_id", n=3, order_cols=("event_id",)),
        mode="simple",
    )
    assert "SinglePartition" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_tfidf_no_global_window(spark):
    from avro_spark.functions.stats import tfidf_topk

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan_of(tfidf_topk(docs, k=3), mode="simple")
    # the ranking window is PARTITIONED BY the document and Spark pushes
    # the top-k limit into it (WindowGroupLimit) — no global window; the
    # one SinglePartition exchange is the legitimate 1-row corpus count
    assert "WindowGroupLimit [_doc" in p
    assert p.count("SinglePartition") <= 1


def test_bm25_filter_before_aggregation(spark):
    """The broadcast query-term semi-filter must sit BELOW the tf
    aggregate so only query-term tokens shuffle."""
    from avro_spark.functions.retrieval import bm25_scores

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    qs = spark.createDataFrame([(1, "hash join")], "query_id long, query string")
    p = plan_of(bm25_scores(docs, qs), mode="simple")
    assert "BroadcastHashJoin" in p
    # physical order is bottom-up in the string: the deepest (first
    # applied) broadcast join over the exploded tokens appears below
    # the partial HashAggregate for tf
    tf_agg = p.index("partial_count")
    deepest_bcast = p.rindex("BroadcastHashJoin")
    assert deepest_bcast > tf_agg  # later in string = deeper in plan


# ------------------------------------------------------- round-3 operators
def test_xflatten_json_is_narrow(spark):
    """The dynamic A7 face is a pure projection: no Exchange, no Python
    worker — VariantType expressions only."""
    from avro_spark.operators.conform import xflatten_json

    cs = avro_spark.compile(avro_spark.create(PERSON))
    df = spark.createDataFrame([('{"id": 1}',)], "j string")
    p = plan_of(xflatten_json(df, "j", cs), mode="simple")
    assert "Exchange" not in p
    assert "Python" not in p and "Arrow" not in p


def test_jsonl_avro_render_is_narrow(spark, nested):
    """The conventions renderer is a string-building projection."""
    from avro_spark.sources.jsonl import render_json_avro

    sch = avro_spark.create(PERSON)
    rendered = nested.select(
        render_json_avro(sch.root.fields[1].type, F.col("profile")).alias("v")
    )
    p = plan_of(rendered, mode="simple")
    assert "Exchange" not in p
    assert "Python" not in p and "Arrow" not in p


def test_media_probe_single_python_stage_no_shuffle(spark):
    """Container probing is one Arrow-batched stage, no Exchange."""
    from avro_spark.operators.multimodal import pack_media, probe_media

    df = spark.createDataFrame([(1, bytearray(b"x"))], "id long, blob binary")
    out = probe_media(pack_media(df, "blob", "video/mp4"), "media", id_cols=("id",))
    p = plan_of(out, mode="simple")
    assert "Exchange" not in p
    assert p.count("MapInPandas") == 1


def test_ocf_split_read_no_extra_shuffle(spark, tmp_path):
    """Split planning repartitions the tiny SPLITS frame once; the data
    path itself (decode) adds no further Exchange."""
    from avro_spark.sources.avro_ocf import (
        read_avro_files_split, write_avro_files,
    )

    sch = avro_spark.create(PERSON)
    df = spark.createDataFrame(
        [(1, ("a", 2))], sch.to_struct_type()
    )
    out = str(tmp_path / "ocf")
    write_avro_files(df, sch, out)
    p = plan_of(read_avro_files_split(spark, out, sch, split_bytes=1 << 20), mode="simple")
    # exactly the one planned repartition of the split list — 0 would
    # mean all byte-range splits collapsed into one task (the
    # parallelism win lost)
    assert p.count("Exchange") == 1
    # round 4: the decode stage is Arrow-native (mapInArrow), which keeps
    # nullable int64 exact — still exactly one Python-worker stage
    assert p.count("MapInArrow") == 1


def test_knn_pq_broadcast_no_shuffle_before_topk(spark):
    """PQ kNN: encode+reconstruct are narrow; the only Exchange is the
    per-query top-k window's hash partitioning."""
    import avro_spark.functions.similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = S.pq_codebooks(emb, m=8, k=16)
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    p = plan_of(S.knn_pq(emb, q, books, k=5), mode="simple")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    # one Exchange for the window; the broadcast side exchanges via
    # BroadcastExchange, which is not a data shuffle
    assert p.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_gopher_rules_is_narrow(spark):
    import avro_spark.functions.text as X2

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    m = X2.gopher_rules(F.col("text"))
    p = plan_of(docs.select("doc_id", *[m[k].alias(k) for k in m]), mode="simple")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_line_dedup_two_shuffles_single_scan(spark):
    from avro_spark.functions.dedup import line_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan_of(line_dedup(docs), mode="simple")
    # election window + rebuild groupBy (partial+final agg share one
    # exchange); no third scan-feeding exchange
    assert p.count("Exchange hashpartitioning") == 2
    # review fix: ONE corpus scan feeds everything
    assert p.count("FileScan parquet") == 1


def test_cms_estimate_no_shuffle(spark):
    from avro_spark.functions.stats import cms_build, cms_estimate

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sk = cms_build(docs, "source", d=4, w=64)
    keys = spark.createDataFrame([("web",), ("web",)], "source string")
    p = plan_of(cms_estimate(sk, keys, "source", d=4, w=64), mode="simple")
    # the sketch build aggregates (exchanges) on its own tiny side; the
    # KEYS side must reach the output without any hash partitioning
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_ocf_whole_file_jvm_read_has_no_python_stage(spark, tmp_path):
    """round 5: engine='auto' whole-file OCF reads run ENTIRELY JVM-side
    — container framing + per-record decode in one streamed generator
    (UserDefinedGenerator). Zero Python-worker stages; the only
    acceptable MapInArrow count is 0 (a silent fallback to the ~10×
    slower Python codec would show up here)."""
    from avro_spark import jvm as J
    from avro_spark.sources.avro_ocf import read_avro_files, write_avro_files

    if not (J.ensure_jar() and J.jvm_codec_available(spark)):
        import pytest

        pytest.skip("no JDK")
    sch = avro_spark.create(PERSON)
    df = spark.createDataFrame([(1, ("a", 2))], sch.to_struct_type())
    out = str(tmp_path / "ocf_jvm")
    write_avro_files(df, sch, out)
    p = plan_of(read_avro_files(spark, out, sch), mode="simple")
    assert "MapInArrow" not in p and "MapInPandas" not in p
    assert p.count("Generate") == 1  # the OCF read generator
    assert "Exchange" not in p  # narrow end-to-end: one task per file


def test_ocf_split_read_jvm_ships_blocks_not_rows(spark, tmp_path):
    """round 5: the split read keeps ONE Arrow stage (the IO-side
    sync-scan emitting compressed block payloads) and decodes JVM-side —
    plan shows exactly one MapInArrow + one Generate, and still only the
    planned split-list repartition Exchange."""
    from avro_spark import jvm as J
    from avro_spark.sources.avro_ocf import (
        read_avro_files_split,
        write_avro_files,
    )

    if not (J.ensure_jar() and J.jvm_codec_available(spark)):
        import pytest

        pytest.skip("no JDK")
    sch = avro_spark.create(PERSON)
    df = spark.createDataFrame([(1, ("a", 2))], sch.to_struct_type())
    out = str(tmp_path / "ocf_split_jvm")
    write_avro_files(df, sch, out)
    p = plan_of(
        read_avro_files_split(spark, out, sch, split_bytes=1 << 20),
        mode="simple",
    )
    assert p.count("MapInArrow") == 1
    assert p.count("Generate") == 1
    assert p.count("Exchange") == 1

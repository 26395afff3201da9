"""The built-Column memo (``plans.compiled.built_columns``): a warm OCF
read plan is built once per schema content and reused, never shared
between plans that could differ, and the plan-time checks still run on
every call."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import avro_spark
import avro_spark.plans.compiled as C
import avro_spark.plans.flatten as FL
from avro_spark.errors import AvroSparkError, CompileError
from avro_spark.sources.avro_ocf import read_avro_files_evolved, write_avro_files

_KIND = {"type": "enum", "name": "Kind", "symbols": ["A", "B"]}


def _rec(*fields, name="Memo"):
    return {"type": "record", "name": name, "fields": list(fields)}


_BASE = [{"name": "id", "type": "long"},
         {"name": "score", "type": "int"},
         {"name": "kind", "type": _KIND},
         {"name": "note", "type": "string", "default": "none"}]


def _variant(i, **change):
    fields = [dict(f) for f in _BASE]
    fields[i].update(change)
    return _rec(*fields)


@pytest.fixture
def builds(spark, monkeypatch):
    """Fresh memo; counts the flatten and unflatten tree builds."""
    spark.sparkContext.__dict__.pop("_avro_spark_built", None)
    n = {"flatten": 0, "unflatten": 0}

    def counting(name, real):
        def f(*a, **k):
            n[name] += 1
            return real(*a, **k)
        return f

    monkeypatch.setattr(C, "flatten_cells",
                        counting("flatten", C.flatten_cells))
    monkeypatch.setattr(C, "unflatten_field_exprs",
                        counting("unflatten", C.unflatten_field_exprs))
    return n


@pytest.fixture
def records(spark):
    return spark.createDataFrame(
        [(1, 7, "A"), (2, 8, "B")], "id long, score int, kind string")


def test_equal_content_shares_one_tree(spark, builds, records):
    for _ in range(3):
        out = avro_spark.compile(avro_spark.create(_rec(*_BASE))).flatten(records)
    assert builds["flatten"] == 1
    assert [tuple(r) for r in out.collect()] == [
        (1, 7, 0, "none"), (2, 8, 1, "none")]


@pytest.mark.parametrize("other", [
    _variant(3, default="other"),                    # one default
    _variant(1, aliases=["points"]),                 # one alias
    _variant(2, type=dict(_KIND, symbols=["A", "B", "C"])),  # enum symbol
    _variant(1, type="long"),                        # int -> long
    _variant(3, type="string*"),                     # nullable flag
], ids=["default", "alias", "enum_symbol", "promotion", "nullable"])
def test_no_tree_shared_across_schema_changes(spark, builds, records, other):
    base = avro_spark.create(_rec(*_BASE))
    avro_spark.compile(base).flatten(records)
    avro_spark.compile(avro_spark.create(other)).flatten(records)
    assert builds["flatten"] == 2


def test_no_tree_shared_across_promotion_pairs(spark, builds, records):
    """Same reader, writers differing by int vs long."""
    reader = avro_spark.create(_variant(1, type="long"))
    for writer in (_rec(*_BASE), _variant(1, type="long")):
        avro_spark.compile(avro_spark.create(writer), reader).flatten(records)
    assert builds["flatten"] == 2


def test_no_tree_shared_across_inputs_or_options(spark, builds, records):
    s = avro_spark.create(_rec(*_BASE))
    avro_spark.compile(s).flatten(records)
    # another present-field set: the default now comes from the input
    with_note = records.withColumn("note", F.lit("given"))
    assert avro_spark.compile(s).flatten(with_note).first()["note"] == "given"
    # another input type of one column
    avro_spark.compile(s).flatten(records.withColumn("score", F.col("score").cast("long")))
    assert builds["flatten"] == 3
    C.CompiledSchema(s, validate=False).flatten(records)
    assert builds["flatten"] == 4
    newer = avro_spark.create(_variant(3, default="none", aliases=["n"]))
    avro_spark.compile(s, newer).flatten(records)
    avro_spark.compile(s, newer, downgrade=True).flatten(records)
    assert builds["flatten"] == 6


def test_patched_max_unroll_builds_again(spark, builds, records, monkeypatch):
    s = avro_spark.create(_rec(*_BASE))
    avro_spark.compile(s).flatten(records)
    monkeypatch.setattr(FL, "MAX_UNROLL", FL.MAX_UNROLL + 1)
    avro_spark.compile(s).flatten(records)
    assert builds["flatten"] == 2


def test_service_values_are_never_memoized(spark, builds, records):
    plan = avro_spark.compile(avro_spark.create(_rec(*_BASE)),
                              service_fields=("int",))
    a = plan.flatten(records, [F.lit(1)]).first()
    b = plan.flatten(records, [5]).first()
    assert (a[0], b[0]) == (1, 5) and builds["flatten"] == 1


def _plant(plan, op, df):
    """Store a tree under the key ``op`` over ``df`` would use, so the
    next such call is a memo hit."""
    C.built_columns(plan._memo_key(op, df), lambda: [F.lit(0).alias("x")])


def test_checks_still_raise_on_a_memo_hit(spark, builds, records):
    plan = avro_spark.compile(avro_spark.create(_rec(*_BASE)))
    floats = records.withColumn("score", F.col("score").cast("double"))
    _plant(plan, "flatten", floats)
    with pytest.raises(CompileError):
        plan.flatten(floats)
    missing = records.drop("kind")
    _plant(plan, "flatten", missing)
    with pytest.raises(CompileError, match="missing writer fields"):
        plan.flatten(missing)
    narrow = spark.createDataFrame([(1, 2)], "id long, score int")
    _plant(plan, "unflatten", narrow)
    with pytest.raises(CompileError, match="unflatten: expected 4 columns"):
        plan.unflatten(narrow)


def test_unflatten_shares_one_tree(spark, builds):
    flat = spark.createDataFrame([(1, 7, 0, "n")],
                                 "id long, score int, kind int, note string")
    for _ in range(2):
        out = avro_spark.compile(avro_spark.create(_rec(*_BASE))).unflatten(flat)
    assert builds["unflatten"] == 1
    assert tuple(out.first()) == (1, 7, "A", "n")


_V1 = _rec({"name": "id", "type": "long"}, {"name": "amount", "type": "double"},
           {"name": "tags", "type": {"type": "array", "items": "string"}},
           name="Event")
_V2 = _rec({"name": "total", "type": "double", "aliases": ["amount"]},
           {"name": "id", "type": "long"},
           {"name": "tags", "type": {"type": "array", "items": "string"}},
           {"name": "source", "type": "string", "default": "legacy"},
           name="Event")


@pytest.fixture(scope="module")
def v1_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("memo") / "v1")
    v1 = avro_spark.create(_V1)
    df = spark.range(400).selectExpr(
        "id", "id * 0.5 AS amount", "array(CAST(id AS string)) AS tags")
    write_avro_files(df.repartition(4), v1, d, codec="deflate")
    return d


def _evolved_ingest(spark, path):
    v2 = avro_spark.create(_V2)
    plan = avro_spark.compile(v2)
    return plan.flatten(read_avro_files_evolved(spark, path, v2))


def test_warm_evolved_read_plan_is_cheap(spark, v1_dir, py4j_round_trips,
                                        spark_jobs):
    """A warm evolved read plus flatten starts no Spark job before the
    action and makes at most 60 py4j round trips."""
    _evolved_ingest(spark, v1_dir)
    with spark_jobs() as jobs:
        with py4j_round_trips() as rt:
            flat = _evolved_ingest(spark, v1_dir)
    assert rt.n <= 60, rt.n
    assert jobs.n == 0
    rows = flat.collect()
    assert len(rows) == 400
    assert sorted(r["total"] for r in rows)[:2] == [0.0, 0.5]
    assert {r["source"] for r in rows} == {"legacy"}


def test_warm_wire_decode_plan_is_cheap(spark, py4j_round_trips):
    """A warm JVM from_avro_bytes takes its decode Column from the memo:
    at most 12 py4j round trips to build the plan."""
    from avro_spark import jvm as J
    from avro_spark.sources.avro_binary import from_avro_bytes, to_avro_bytes

    if not J.jvm_codec_available(spark):
        pytest.skip("no JDK")
    v1 = avro_spark.create(_V1)
    blobs = to_avro_bytes(spark.range(3).selectExpr(
        "id", "id * 0.5 AS amount", "array('t') AS tags"), v1, "b",
        engine="jvm")
    from_avro_bytes(blobs, "b", v1, engine="jvm")
    with py4j_round_trips() as rt:
        out = from_avro_bytes(blobs, "b", v1, engine="jvm")
    assert rt.n <= 12, rt.n
    assert sorted(r["id"] for r in out.collect()) == [0, 1, 2]


def test_warm_read_of_another_writer_decodes_it(spark, v1_dir, tmp_path):
    """The decode memo is keyed by the writer's content: a second
    directory written with a longer writer schema decodes its own
    fields, and a projected read keeps its own column list."""
    _evolved_ingest(spark, v1_dir)
    wide = _rec(*_V1["fields"], {"name": "extra", "type": "int"}, name="Event")
    d = str(tmp_path / "wide")
    write_avro_files(spark.range(3).selectExpr(
        "id", "0.5 AS amount", "array('t') AS tags", "7 AS extra"),
        avro_spark.create(wide), d)
    out = _evolved_ingest(spark, d)
    assert out.count() == 3 and "extra" not in out.columns
    proj = read_avro_files_evolved(spark, d, avro_spark.create(_V2),
                                   columns=["total"])
    assert proj.columns == ["total"] and proj.count() == 3
    with pytest.raises(AvroSparkError):
        read_avro_files_evolved(spark, d, avro_spark.create(_V2),
                                columns=["nope"])


def test_memo_stays_bounded_and_keyed_under_threads(spark, monkeypatch):
    """Many threads on overlapping keys of a small memo: every call gets
    the list built for its own key, and the memo never passes its bound."""
    import sys
    import threading

    spark.sparkContext.__dict__.pop("_avro_spark_built", None)
    monkeypatch.setattr(C, "_BUILT_MAX", 4)
    errors: list = []

    def worker(w):
        try:
            for i in range(300):
                key = ("stress", (w + i) % 7)
                got = C.built_columns(key, lambda k=key: [k])
                if got != (key,):
                    errors.append((key, got))
                with C._BUILT_LOCK:
                    if len(spark.sparkContext._avro_spark_built) > 4:
                        errors.append("over bound")
        except Exception as e:  # recorded, asserted below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(w,)) for w in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []

"""The evolved OCF read's writer→reader resolution (one projection per
reader field, ``plans.compiled.convert_records``) and the JVM OCF read
generator it sits on.

Parity oracle: ``compile(reader).unflatten(compile(writer, reader).
flatten(df))``, the same resolution through the flat layout. Both must
give the same rows and column types on every resolution shape and on
both engines.
"""

from __future__ import annotations

import glob
import os
import threading

import pytest

import avro_spark
from avro_spark import jvm as J
from avro_spark.plans.compiled import convert_records
from avro_spark.sources.avro_binary import _strip_metadata
from avro_spark.sources.avro_ocf import (
    read_avro_files,
    read_avro_files_evolved,
    read_avro_files_split,
    read_avro_stream,
    write_avro_files,
)
from avro_spark.sources.wire import from_wire, to_wire

_SUB = {"type": "record", "name": "PS", "fields": [{"name": "x", "type": "int"}]}

WRITER = {"type": "record", "name": "PW", "fields": [
    {"name": "id", "type": "long"},
    {"name": "old_name", "type": "string"},
    {"name": "i2l", "type": "int"},
    {"name": "i2d", "type": "int"},
    {"name": "f2d", "type": "float"},
    {"name": "l2f", "type": "long"},
    {"name": "s2b", "type": "string"},
    {"name": "b2s", "type": "bytes"},
    {"name": "e", "type": {"type": "enum", "name": "PE",
                           "symbols": ["A", "B", "C"]}},
    {"name": "uu", "type": ["null", "string", "int"]},
    {"name": "un", "type": ["null", "int"]},
    {"name": "tu", "type": "int"},
    {"name": "tu2", "type": "string"},
    {"name": "fu", "type": ["null", "long"]},
    {"name": "nr", "type": ["null", _SUB]},
    {"name": "nstar", "type": "PS*"},
    {"name": "arr", "type": {"type": "array", "items": "PS"}},
    {"name": "mp", "type": {"type": "map", "values": "int"}},
    {"name": "dropped", "type": "string"},
]}

_SUB_R = {"type": "record", "name": "PS", "fields": [
    {"name": "y", "type": "string", "default": "yd"},
    {"name": "x", "type": "long"}]}

READER = {"type": "record", "name": "PW", "fields": [
    {"name": "new_name", "type": "string", "aliases": ["old_name"]},
    {"name": "e", "type": {"type": "enum", "name": "PE",
                           "symbols": ["C", "B", "A", "D"]}},
    {"name": "i2l", "type": "long"},
    {"name": "i2d", "type": "double"},
    {"name": "f2d", "type": "double"},
    {"name": "l2f", "type": "float"},
    {"name": "s2b", "type": "bytes"},
    {"name": "b2s", "type": "string"},
    {"name": "uu", "type": ["null", "int", "string", "long"]},
    {"name": "un", "type": ["null", "long"]},
    {"name": "tu", "type": ["null", "long"]},
    {"name": "tu2", "type": ["null", "int", "string"]},
    {"name": "fu", "type": "long"},
    {"name": "nr", "type": ["null", _SUB_R]},
    {"name": "nstar", "type": "PS*"},
    {"name": "arr", "type": {"type": "array", "items": "PS"}},
    {"name": "mp", "type": {"type": "map", "values": "long"}},
    {"name": "d_rec", "type": {"type": "record", "name": "PD", "fields": [
        {"name": "a", "type": "int"}, {"name": "b", "type": "string"}]},
     "default": {"a": 1, "b": "x"}},
    {"name": "d_union", "type": ["null", "string"], "default": None},
    {"name": "d_gu", "type": ["string", "int"], "default": "z"},
    {"name": "d_arr", "type": {"type": "array", "items": "int"},
     "default": [1, 2]},
    {"name": "d_map", "type": {"type": "map", "values": "string"},
     "default": {"k": "v"}},
    {"name": "d_enum", "type": "PE", "default": "D"},
    {"name": "d_int", "type": "int", "default": 7},
    {"name": "id", "type": "long"},
]}


def _writer_rows(n=60):
    rows = []
    for i in range(n):
        t = i % 3
        uu = (t, f"s{i}" if t == 1 else None, i if t == 2 else None)
        sub = (i,)
        rows.append((
            i, f"name{i}", i, -i, i / 4.0, i * 1000, f"sb{i}",
            f"bs{i}".encode(), "ABC"[i % 3], uu, None if i % 4 == 0 else i,
            i * 2, f"t{i}", i * 3, None if i % 5 == 0 else sub,
            None if i % 2 else sub, [sub, (i + 1,)][: i % 3],
            {"a": i, "b": -i} if i % 2 else {}, f"gone{i}",
        ))
    return rows


LIST_W = {"type": "record", "name": "LRoot", "fields": [
    {"name": "okey", "type": "long"},
    {"name": "chain", "type": ["null", {
        "type": "record", "name": "lnode", "fields": [
            {"name": "value", "type": "int"},
            {"name": "next", "type": ["null", "lnode"]}]}]}]}

LIST_R = {"type": "record", "name": "LRoot", "fields": [
    {"name": "chain", "type": ["null", {
        "type": "record", "name": "lnode", "fields": [
            {"name": "label", "type": "string", "default": "n"},
            {"name": "value", "type": "long"},
            {"name": "next", "type": ["null", "lnode"]}]}]},
    {"name": "okey", "type": "long"}]}


def _list_rows(n=30):
    return [(i, (i, (i + 1, (i + 2, None))) if i % 3 else None)
            for i in range(n)]


def _jvm_ready(spark):
    return J.ensure_jar() is not None and J.jvm_codec_available(spark)


def _engines(spark):
    return ["python"] + (["jvm"] if _jvm_ready(spark) else [])


def _rows(df):
    return sorted(repr(r) for r in df.collect())


def _types(df):
    """``df``'s schema with every nullability flag set: the one
    projection may prove a column non-null where the flat round trip
    could not."""
    return _strip_metadata(df.schema, relax_nulls=True)


def _oracle(df, writer, reader):
    return avro_spark.compile(reader).unflatten(
        avro_spark.compile(writer, reader).flatten(df))


@pytest.fixture(scope="module")
def shapes(spark, tmp_path_factory):
    """(writer, reader, writer-shaped df, OCF directory) per shape set."""
    out = {}
    for name, (w, r, rows) in {
        "zoo": (WRITER, READER, _writer_rows),
        "list": (LIST_W, LIST_R, _list_rows),
    }.items():
        ws, rs = avro_spark.create(w), avro_spark.create(r)
        df = spark.createDataFrame(rows(), ws.to_struct_type())
        d = str(tmp_path_factory.mktemp(f"evo_{name}"))
        write_avro_files(df.repartition(2), ws, d, block_records=8,
                         engine="python")
        out[name] = (ws, rs, df, d)
    return out


@pytest.mark.parametrize("name", ["zoo", "list"])
def test_one_projection_equals_flat_round_trip(spark, shapes, name):
    """Aliases, reordering, every promotion, record/union/array/map/enum
    defaults, enum remap, union→union, to_union, from_union, nullable
    records and a recursive list: the one-projection resolution equals
    the flat round trip, in memory and through the evolved OCF read on
    both engines."""
    ws, rs, df, d = shapes[name]
    want = _oracle(df, ws, rs)
    got = convert_records(df, ws, rs)
    assert _types(got) == _types(want)
    assert _rows(got) == _rows(want)
    for eng in _engines(spark):
        decoded = read_avro_files(spark, d, ws, engine=eng)
        want = _oracle(decoded, ws, rs)
        got = read_avro_files_evolved(spark, d, rs, engine=eng)
        assert _types(got) == _types(want), eng
        assert _rows(got) == _rows(want), eng


@pytest.mark.parametrize("cols", [["new_name", "e", "d_rec"],
                                  ["uu", "nr", "d_gu", "tu2"],
                                  ["d_map", "d_int"]])
def test_projected_evolved_read_equals_flat_round_trip(spark, shapes, cols):
    ws, rs, _df, d = shapes["zoo"]
    for eng in _engines(spark):
        want = _oracle(read_avro_files(spark, d, ws, engine=eng), ws, rs)
        got = read_avro_files_evolved(spark, d, rs, engine=eng, columns=cols)
        in_reader_order = [f["name"] for f in READER["fields"]
                           if f["name"] in cols]
        assert _rows(got) == _rows(want.select(*in_reader_order)), (eng, cols)


@pytest.mark.parametrize("wtype", [["null", "string", "int"],
                                   ["null", "int"]])
def test_union_branch_missing_from_simple_reader_raises(
        spark, tmp_path, wtype):
    """A writer union branch the reader's ``["null", T]`` union lacks is
    a versioning error on every conversion path, ``from_wire``
    included, never a null."""
    w = avro_spark.create({"type": "record", "name": "U", "fields": [
        {"name": "u", "type": wtype}]})
    r = avro_spark.create({"type": "record", "name": "U", "fields": [
        {"name": "u", "type": ["null", "string"]}]})
    row = ((2, None, 5),) if len(wtype) == 3 else (5,)
    df = spark.createDataFrame([row], w.to_struct_type())
    with pytest.raises(Exception) as flat:
        avro_spark.compile(w, r).flatten(df).collect()
    msg = ('Unknown key: "int" (schema versioning)' if len(wtype) == 3
           else "union branch not in reader schema (schema versioning)")
    assert msg in str(flat.value)
    d = str(tmp_path / "ocf")
    write_avro_files(df, w, d, engine="python")
    for eng in _engines(spark):
        wire = to_wire(df, w, schema_id=7, engine=eng)
        with pytest.raises(Exception, match=msg.replace("(", r"\(")
                           .replace(")", r"\)")):
            from_wire(wire, "wire", {7: w}, r, engine=eng).collect()
        with pytest.raises(Exception, match=msg.replace("(", r"\(")
                           .replace(")", r"\)")):
            read_avro_files_evolved(spark, d, r, engine=eng).collect()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_jvm_reads_decode_through_the_generator(spark, shapes, tmp_path):
    """Whole-file, ``columns=``, split and streaming JVM reads all decode
    through the one OCF read generator; only the split read keeps its
    Python IO stage."""
    if not _jvm_ready(spark):
        pytest.skip("no JDK")
    ws, _rs, _df, d = shapes["zoo"]
    for df in (read_avro_files(spark, d, ws, engine="jvm"),
               read_avro_files(spark, d, ws, engine="jvm",
                               columns=["arr", "nr.x"])):
        p = _plan(df)
        assert "UserDefinedGenerator(content#" in p, p
        for python_stage in ("MapInArrow", "ArrowEvalPython",
                             "BatchEvalPython"):
            assert python_stage not in p, p
    p = _plan(read_avro_files_split(spark, d, ws, split_bytes=1024,
                                    engine="jvm"))
    assert "UserDefinedGenerator(codec#" in p and p.count("MapInArrow") == 1
    stream = read_avro_stream(spark, d, ws, engine="jvm")
    assert "UserDefinedGenerator(content" in (
        stream._jdf.queryExecution().analyzed().toString())


def test_jvm_read_plans_and_runs_on_a_second_thread(spark, shapes):
    """The generator's factory loads through the session's jar class
    loader, so a thread that did not add the jar can plan and run a JVM
    read."""
    if not _jvm_ready(spark):
        pytest.skip("no JDK")
    ws, rs, _df, d = shapes["zoo"]
    want = _rows(read_avro_files_evolved(spark, d, rs, engine="jvm"))
    spark.sparkContext.__dict__.pop("_avro_spark_jar_objs", None)
    spark.sparkContext.__dict__.pop("_avro_spark_built", None)
    out: dict = {}

    def run():
        try:
            out["rows"] = _rows(
                read_avro_files_evolved(spark, d, rs, engine="jvm"))
        except BaseException as e:  # re-raised on the test's thread
            out["err"] = e

    t = threading.Thread(target=run)
    t.start()
    t.join()
    if "err" in out:
        raise out["err"]
    assert out["rows"] == want


def test_invalid_utf8_reads_as_the_jdk_decoder_replaces_it(spark, tmp_path):
    """Invalid UTF-8 in a string and in a map key reads on the JVM route
    as java.lang.String decodes it, U+FFFD for what it rejects; an
    all-ASCII value keeps its bytes."""
    if not _jvm_ready(spark):
        pytest.skip("no JDK")
    sch = avro_spark.create({"type": "record", "name": "B", "fields": [
        {"name": "s", "type": "string"},
        {"name": "m", "type": {"type": "map", "values": "int"}}]})
    df = spark.createDataFrame(
        [("QQQ", {"KK": 1}), ("RRR", {"x": 3}), ("ascii", {"ok": 2})],
        sch.to_struct_type())
    d = str(tmp_path / "bad_utf8")
    write_avro_files(df.coalesce(1), sch, d, codec="null", engine="python")
    (f,) = glob.glob(os.path.join(d, "part-*.avro"))
    blob = open(f, "rb").read()
    # same-length patches keep every length prefix valid: stray bytes
    # and a truncated sequence, an encoded surrogate, a truncated one
    blob = (blob.replace(b"QQQ", b"\xff\xfe\xc3")
            .replace(b"RRR", b"\xed\xa0\x80").replace(b"KK", b"\xed\xa0"))
    open(f, "wb").write(blob)
    rows = {r["s"]: r["m"] for r in
            read_avro_files(spark, d, sch, engine="jvm").collect()}
    assert rows == {"\ufffd" * 3: {"\ufffd": 1}, "\ufffd": {"x": 3},
                    "ascii": {"ok": 2}}

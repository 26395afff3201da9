"""JVM OCF container path (the OCF read generator / framed JVM write):
cross-engine value equality, block byte parity, routing and fallbacks.

The container framing is the public Avro 1.11 OCF spec; these tests pin
the JVM and Python engines to EACH OTHER (same contract as
test_jvm_codec.py does for the value-level codec).
"""

from __future__ import annotations

import glob
import os
import zlib

import pytest

import avro_spark
from avro_spark import jvm as J
from avro_spark.errors import AvroSparkError
from avro_spark.sources.avro_binary import from_avro_bytes, to_avro_bytes
from avro_spark.sources.avro_ocf import (
    _read_meta_map,
    read_avro_files,
    read_avro_files_split,
    write_avro_files,
)

ZOO = {
    "type": "record",
    "name": "OZoo",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "i32", "type": "int"},
        {"name": "f64", "type": "double"},
        {"name": "s", "type": "string"},
        {"name": "b", "type": "bytes"},
        {"name": "fx", "type": {"type": "fixed", "name": "OF4", "size": 4}},
        {"name": "e", "type": {"type": "enum", "name": "OE",
                               "symbols": ["A", "B", "C"]}},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {"name": "mp", "type": {"type": "map", "values": "int"}},
        {"name": "opt", "type": ["null", "string"]},
        {"name": "u3", "type": ["null", "double", "string"]},
        {"name": "sub", "type": {"type": "record", "name": "OSub", "fields": [
            {"name": "x", "type": "int*"},
            {"name": "y", "type": ["null", "long"]}]}},
    ],
}


def _rows(n=300):
    rows = []
    for i in range(n):
        tag = i % 3
        # canonical tagged-struct form INCLUDING the null branch
        # ({$type$: 0, all cells null} — r6: decode round-trips this
        # shape exactly; an outer None is accepted on encode but decodes
        # to the canonical form, so identity fixtures must use it)
        u3 = (tag, float(i) / 7 if tag == 1 else None,
              f"s{i}" if tag == 2 else None)
        rows.append((
            i, i - 150, i * 1.25, f"név{i}", bytes([i % 256, 255 - i % 256]),
            bytes([i % 256] * 4), "ABC"[i % 3], [i, 2 * i, -i],
            {"k": i % 10}, None if i % 5 == 0 else f"o{i}", u3,
            (None if i % 7 == 0 else i, None if i % 3 == 0 else i * 10),
        ))
    return rows


@pytest.fixture(scope="module")
def zoo(spark):
    sch = avro_spark.create(ZOO)
    df = spark.createDataFrame(_rows(), sch.to_struct_type())
    return sch, df


def _jvm_ready(spark):
    return J.ensure_jar() is not None and J.jvm_codec_available(spark)


def _collect(df):
    return sorted(tuple(map(repr, r)) for r in df.collect())


@pytest.mark.parametrize(
    "codec", ["null", "deflate", "snappy", "zstandard", "bzip2", "xz"])
def test_cross_engine_read_write_equality(spark, tmp_path, zoo, codec):
    """All four (write engine × read engine) combinations agree, for
    whole-file and split reads, under all six Avro-spec codecs (bzip2
    and xz joined the JVM set in r8)."""
    if not _jvm_ready(spark):
        pytest.skip("no JDK")
    sch, df = zoo
    want = _collect(df)
    for weng in ("python", "jvm"):
        d = str(tmp_path / f"w_{weng}_{codec}")
        write_avro_files(df.repartition(3), sch, d, codec=codec,
                         block_records=64, engine=weng)
        for reng in ("python", "jvm"):
            got = _collect(read_avro_files(spark, d, sch, engine=reng))
            assert got == want, (weng, reng, codec)
            got_s = _collect(read_avro_files_split(
                spark, d, sch, split_bytes=4096, engine=reng))
            assert got_s == want, ("split", weng, reng, codec)


def _block_payloads(fpath):
    """Concatenated DECOMPRESSED block payloads + per-block counts —
    everything in the file except sync markers (random per file)."""
    blob = open(fpath, "rb").read()
    meta, pos = _read_meta_map(blob, 4)
    codec = meta.get("avro.codec", b"null").decode()
    sync = blob[pos:pos + 16]
    pos += 16
    payload, counts = b"", []
    from avro_spark.sources.avro_binary import _read_long
    while pos < len(blob):
        count, pos = _read_long(blob, pos)
        size, pos = _read_long(blob, pos)
        data = blob[pos:pos + size]
        pos += size
        assert blob[pos:pos + 16] == sync
        pos += 16
        counts.append(count)
        if codec == "deflate":
            payload += zlib.decompress(data, -15)
        elif codec == "snappy":
            from avro_spark.sources.snappy_codec import decompress as _snd
            payload += _snd(data[:-4])  # strip the Avro CRC32 suffix
        elif codec == "zstandard":
            import pyarrow as pa
            with pa.CompressedInputStream(pa.BufferReader(data), "zstd") as st:
                payload += st.read()
        elif codec == "bzip2":
            import bz2
            payload += bz2.decompress(data)
        elif codec == "xz":
            import lzma
            payload += lzma.decompress(data)
        else:
            payload += data
    return meta["avro.schema"], counts, payload


@pytest.mark.parametrize(
    "codec", ["null", "deflate", "snappy", "zstandard", "bzip2", "xz"])
def test_block_byte_parity_between_write_engines(spark, tmp_path, zoo, codec):
    """With one partition and equal block_records, the two writers emit
    byte-identical block payloads, counts and embedded schema JSON —
    the files differ ONLY in their random sync markers."""
    if not _jvm_ready(spark):
        pytest.skip("no JDK")
    sch, df = zoo
    one = df.orderBy("id").coalesce(1)
    outs = {}
    for eng in ("python", "jvm"):
        d = str(tmp_path / f"bp_{eng}_{codec}")
        info = write_avro_files(one, sch, d, codec=codec,
                                block_records=50, engine=eng)
        (f,) = [i["file"] for i in info]
        outs[eng] = _block_payloads(f)
    assert outs["python"] == outs["jvm"]


def test_bzip2_xz_read_on_the_jvm_engine(spark, tmp_path, zoo):
    """r8: bzip2/xz blocks decompress JVM-side (commons-compress +
    org.tukaani.xz, both on every Spark classpath) — before this they
    silently routed the WHOLE read to the ~10× slower Python engine."""
    if not _jvm_ready(spark):
        pytest.skip("no JDK")
    sch, df = zoo
    want = _collect(df.limit(20))
    for codec in ("bzip2", "xz"):
        d = str(tmp_path / f"c_{codec}")
        write_avro_files(df.limit(20).coalesce(1), sch, d, codec=codec,
                         engine="python")
        got = _collect(read_avro_files(spark, d, sch, engine="jvm"))
        assert got == want, codec
        got_s = _collect(read_avro_files_split(
            spark, d, sch, split_bytes=4096, engine="jvm"))
        assert got_s == want, ("split", codec)


def test_jvm_engine_raises_when_codec_unsupported(spark, tmp_path, zoo):
    """A foreign file naming a codec outside the Avro spec set (e.g.
    'lz4'): engine='jvm' read must refuse loudly — and the Python engine
    raises its own unsupported-codec error rather than decoding
    compressed bytes as garbage rows."""
    import json as _json

    from avro_spark.sources.avro_ocf import (
        MAGIC, _write_long, _write_meta_map)

    sch = avro_spark.create({
        "type": "record", "name": "LZ", "fields": [
            {"name": "a", "type": "long"}]})
    blob = bytearray()
    blob += MAGIC
    _write_meta_map(blob, {
        "avro.schema": _json.dumps(sch.export()).encode(),
        "avro.codec": b"lz4"})
    sync = b"S" * 16
    blob += sync
    _write_long(blob, 1)
    _write_long(blob, 2)
    blob += b"\x02" + sync
    d = tmp_path / "lz4"
    d.mkdir()
    (d / "part-00000.avro").write_bytes(bytes(blob))
    # the header peek validates the codec BEFORE any engine routing, so
    # every engine refuses with the same loud message
    for eng in ("jvm", "python", "auto"):
        with pytest.raises(AvroSparkError, match="unsupported Avro codec"):
            read_avro_files(spark, str(d), sch, engine=eng)
    with pytest.raises(AvroSparkError, match="unsupported Avro codec"):
        read_avro_files_split(spark, str(d), sch, split_bytes=4096,
                              engine="jvm")


def test_zstd_frame_without_content_size_reads_on_both_engines(
        spark, tmp_path):
    """Other writers' STREAMING zstd mode omits Frame_Content_Size from
    the frame header; both engines must still decode such blocks (this
    is why both use a streaming zstd reader, not one-shot decompress)."""
    import json

    import pyarrow as pa

    from avro_spark.sources.avro_binary import _compile_encoder
    from avro_spark.sources.avro_ocf import (
        MAGIC, _write_long, _write_meta_map)

    sch = avro_spark.create({
        "type": "record", "name": "ZR", "fields": [
            {"name": "a", "type": "long"}, {"name": "b", "type": "string"}]})
    rows = [{"a": i, "b": "zz" * (i % 19)} for i in range(300)]
    body = bytearray()
    enc = _compile_encoder(sch.root)
    for r in rows:
        enc(body, r)
    sink = pa.BufferOutputStream()
    with pa.CompressedOutputStream(sink, "zstd") as cs:
        cs.write(bytes(body))
    frame = bytes(sink.getvalue())
    # pyarrow's streaming writer omits the content size — prove it:
    # FHD byte (after the 4-byte magic) has Frame_Content_Size flag 00
    # and Single_Segment 0 for this input
    assert frame[:4] == b"\x28\xb5\x2f\xfd" and (frame[4] >> 6) == 0
    blob = bytearray()
    blob += MAGIC
    _write_meta_map(blob, {
        "avro.schema": json.dumps(sch.export()).encode(),
        "avro.codec": b"zstandard"})
    sync = b"S" * 16
    blob += sync
    _write_long(blob, len(rows))
    _write_long(blob, len(frame))
    blob += frame + sync
    d = tmp_path / "zs"
    d.mkdir()
    (d / "part-00000.avro").write_bytes(bytes(blob))
    want = sorted((r["a"], r["b"]) for r in rows)
    engines = ["python"] + (["jvm"] if _jvm_ready(spark) else [])
    for eng in engines:
        got = sorted(map(tuple, read_avro_files(
            spark, str(d), sch, engine=eng).collect()))
        assert got == want, eng
        got_s = sorted(map(tuple, read_avro_files_split(
            spark, str(d), sch, split_bytes=1024, engine=eng).collect()))
        assert got_s == want, ("split", eng)


def test_corrupt_zstd_block_raises_loudly(spark, tmp_path, zoo):
    """Flipping bytes inside a zstandard block surfaces a loud decode
    error on both engines, not garbage rows."""
    sch, df = zoo
    d = str(tmp_path / "zcorrupt")
    write_avro_files(df.limit(40).coalesce(1), sch, d, codec="zstandard",
                     engine="python")
    (f,) = glob.glob(os.path.join(d, "*.avro"))
    blob = bytearray(open(f, "rb").read())
    blob[-40:-20] = bytes(20)  # stomp inside the (single) block payload
    open(f, "wb").write(bytes(blob))
    engines = ["python"] + (["jvm"] if _jvm_ready(spark) else [])
    for eng in engines:
        with pytest.raises(Exception, match="zstandard|zstd|Corrupted|frame"):
            read_avro_files(spark, d, sch, engine=eng).collect()


def test_block_bytes_and_codec_level(spark, tmp_path):
    """r7 write knobs: ``block_bytes`` flushes on UNCOMPRESSED body
    size (bounding per-task read memory when row width varies),
    ``codec_level`` tunes the compressor. Both engines; data identical
    either way; levels actually change the output size; null/snappy
    reject a level loudly."""
    import glob

    from avro_spark.sources.avro_ocf import _read_meta_map, read_avro_files
    from avro_spark.sources.avro_binary import _read_long

    sch = avro_spark.create({"type": "record", "name": "W", "fields": [
        {"name": "k", "type": "long"}, {"name": "body", "type": "string"}]})
    # ~1 KB rows: block_bytes=4096 should cap blocks at ~4-5 rows even
    # though block_records stays at its large default
    df = spark.createDataFrame(
        [(i, ("w%d " % i) * 256) for i in range(100)], "k long, body string")
    for eng in ("python", "jvm"):
        if eng == "jvm" and not _jvm_ready(spark):
            continue
        d = str(tmp_path / f"bb_{eng}")
        write_avro_files(df.coalesce(1), sch, d, engine=eng,
                         block_bytes=4096)
        (f,) = glob.glob(d + "/*.avro")
        blob = open(f, "rb").read()
        _meta, pos = _read_meta_map(blob, 4)
        pos += 16
        counts = []
        while pos < len(blob):
            cnt, pos = _read_long(blob, pos)
            size, pos = _read_long(blob, pos)
            pos += size + 16
            counts.append(cnt)
        assert len(counts) >= 15 and max(counts) <= 6, (eng, counts)
        back = read_avro_files(spark, d, sch, engine=eng)
        assert back.count() == 100, eng

    # levels change compressed size, decode stays identical
    text = df.coalesce(1)
    sizes = {}
    for lv in (1, 9):
        d = str(tmp_path / f"lv{lv}")
        info = write_avro_files(text, sch, d, codec="deflate",
                                codec_level=lv)
        sizes[lv] = sum(i["n_bytes"] for i in info)
        assert read_avro_files(spark, d, sch).count() == 100
    assert sizes[9] <= sizes[1]
    dz = str(tmp_path / "zlv")
    write_avro_files(text, sch, dz, codec="zstandard", codec_level=19)
    assert read_avro_files(spark, dz, sch).count() == 100
    for codec in ("null", "snappy"):
        with pytest.raises(AvroSparkError, match="no compression level"):
            write_avro_files(text, sch, str(tmp_path / "x"),
                             codec=codec, codec_level=3)
    with pytest.raises(AvroSparkError, match="block_bytes"):
        write_avro_files(text, sch, str(tmp_path / "x"), block_bytes=0)
    with pytest.raises(AvroSparkError, match="deflate level"):
        write_avro_files(text, sch, str(tmp_path / "x"),
                         codec="deflate", codec_level=11)


def test_mixed_writer_directory_reads_grouped(spark, tmp_path):
    """r7: a directory holding files from SEVERAL writer versions (the
    long-lived incremental-pipeline shape) reads in one call with
    mixed_writers=True — grouped by writer fingerprint, each group
    resolved writer→reader, unioned by name — while the default stays
    a loud mismatch error. Composes with columns= and per-group codecs;
    whitespace-only rendering differences do NOT split a group."""
    import glob
    import json as _json
    import shutil

    from avro_spark.sources.avro_ocf import (
        _group_paths_by_writer, read_avro_files_evolved,
    )

    v1 = avro_spark.create({"type": "record", "name": "O", "fields": [
        {"name": "k", "type": "long"}, {"name": "c", "type": "long"}]})
    v2 = avro_spark.create({"type": "record", "name": "O", "fields": [
        {"name": "k", "type": "long"}, {"name": "c", "type": "long"},
        {"name": "p", "type": "double", "default": 0.0}]})
    d = tmp_path / "mixed"
    d.mkdir()
    df1 = spark.createDataFrame([(1, 10), (2, 20)], "k long, c long")
    df2 = spark.createDataFrame(
        [(3, 30, 3.5), (4, 40, 4.5)], "k long, c long, p double")
    t1, t2 = tmp_path / "v1", tmp_path / "v2"
    write_avro_files(df1.coalesce(1), v1, str(t1), codec="zstandard")
    write_avro_files(df2.coalesce(1), v2, str(t2), codec="deflate")
    for i, f in enumerate(
            sorted(glob.glob(str(t1 / "*.avro"))) +
            sorted(glob.glob(str(t2 / "*.avro")))):
        shutil.copy(f, str(d / f"f{i}.avro"))

    with pytest.raises(AvroSparkError, match="writer-schema mismatch"):
        read_avro_files_evolved(spark, str(d), v2).collect()

    out = read_avro_files_evolved(spark, str(d), v2, mixed_writers=True)
    assert sorted(map(tuple, out.collect())) == [
        (1, 10, 0.0), (2, 20, 0.0), (3, 30, 3.5), (4, 40, 4.5)]
    proj = read_avro_files_evolved(
        spark, str(d), v2, mixed_writers=True, columns=["k", "p"])
    assert sorted(map(tuple, proj.collect())) == [
        (1, 0.0), (2, 0.0), (3, 3.5), (4, 4.5)]
    # single-version directory degrades to the plain evolved read
    one = read_avro_files_evolved(spark, str(t2), v2, mixed_writers=True)
    assert sorted(map(tuple, one.collect())) == [(3, 30, 3.5), (4, 40, 4.5)]
    # grouping is by CANONICAL fingerprint: rewrite one v1 file with a
    # reordered-attribute/doc'd rendering of the SAME schema — still 2
    # groups, not 3
    (f1,) = sorted(glob.glob(str(d / "f0.avro")))
    blob = bytearray(open(f1, "rb").read())
    alt = _json.dumps({"doc": "same", "name": "O", "type": "record",
                       "fields": [{"name": "k", "type": "long"},
                                  {"name": "c", "type": "long"}]}).encode()
    hdr = bytearray()
    hdr += b"Obj\x01"
    from avro_spark.sources.avro_ocf import (
        _read_meta_map, _write_meta_map)
    meta, pos = _read_meta_map(bytes(blob), 4)
    _write_meta_map(hdr, {"avro.schema": alt,
                          "avro.codec": meta.get("avro.codec", b"null")})
    hdr += blob[pos:pos + 16]  # keep the sync
    open(f1, "wb").write(bytes(hdr) + bytes(blob[pos + 16:]))
    groups = _group_paths_by_writer(spark, str(d))
    assert len(groups) == 2, [len(g[1]) for g in groups]
    out2 = read_avro_files_evolved(spark, str(d), v2, mixed_writers=True)
    assert sorted(map(tuple, out2.collect())) == [
        (1, 10, 0.0), (2, 20, 0.0), (3, 30, 3.5), (4, 40, 4.5)]


def test_any_schema_is_outside_the_ocf_surface(spark, tmp_path):
    """'any' is validate-only, exactly like the reference
    (frontend.lua:50 — "not supported in compiled schemas"): NEITHER
    engine can build an OCF encoder for it. engine='jvm' refuses at plan
    time; engine='auto' routes to Python, whose compile raises the same
    scope error it always has."""
    sch = avro_spark.create({
        "type": "record", "name": "AnyRec", "fields": [
            {"name": "id", "type": "long"},
            {"name": "extra", "type": "any"}]})
    assert not J.jvm_codec_supported(sch)
    df = spark.createDataFrame([(1, "x")], "id long, extra string")
    with pytest.raises(Exception, match="cannot encode any"):
        write_avro_files(df, sch, str(tmp_path / "anypy"), engine="python")
    if _jvm_ready(spark):
        with pytest.raises(AvroSparkError, match="engine='jvm' unavailable"):
            write_avro_files(df, sch, str(tmp_path / "anyjvm"), engine="jvm")


def test_corrupt_sync_marker_fails_loudly_on_jvm_path(spark, tmp_path, zoo):
    if not _jvm_ready(spark):
        pytest.skip("no JDK")
    sch, df = zoo
    d = str(tmp_path / "corrupt")
    write_avro_files(df.limit(100).coalesce(1), sch, d, engine="python",
                     block_records=16)
    (f,) = glob.glob(os.path.join(d, "part-*.avro"))
    blob = bytearray(open(f, "rb").read())
    blob[-1] ^= 0xFF  # flip a bit inside the trailing sync marker
    open(f, "wb").write(bytes(blob))
    with pytest.raises(Exception, match="sync marker mismatch"):
        read_avro_files(spark, d, sch, engine="jvm").collect()


#: physical operators of a Python-worker stage
_PYTHON_STAGES = ("MapInArrow", "ArrowEvalPython", "BatchEvalPython")


def test_auto_routing_uses_jvm_plan(spark, tmp_path, zoo):
    """engine='auto' must actually PLAN the JVM UDFs when a JDK exists —
    a silent fallback to the ~5-10× slower Python codec is a perf bug
    the correctness gates would never catch."""
    if not _jvm_ready(spark):
        pytest.skip("no JDK")
    sch, df = zoo
    d = str(tmp_path / "route")
    write_avro_files(df.coalesce(1), sch, d)
    plan = (read_avro_files(spark, d, sch)
            ._jdf.queryExecution().executedPlan().toString())
    assert "UserDefinedGenerator(content#" in plan
    assert not any(s in plan for s in _PYTHON_STAGES), plan
    plan_s = (read_avro_files_split(spark, d, sch, split_bytes=4096)
              ._jdf.queryExecution().executedPlan().toString())
    assert "UserDefinedGenerator(codec#" in plan_s


def test_route_out_records_taken_engine(spark, tmp_path, zoo):
    """``route_out`` must record the route the read ACTUALLY took — the
    bench's self-attribution contract (r9 VERDICT #1: a recorded probe
    number could not distinguish a slow session from a silent Python
    fallback). Plan-asserted against the JVM read generator so the
    attribution can't lie."""
    sch, df = zoo
    d = str(tmp_path / "rt")
    write_avro_files(df.coalesce(1), sch, d)
    jvm_ok = _jvm_ready(spark)
    r: dict = {}
    plan = (read_avro_files(spark, d, sch, route_out=r)
            ._jdf.queryExecution().executedPlan().toString())
    assert r == {"engine": "jvm" if jvm_ok else "python", "split": False}
    assert ("UserDefinedGenerator(content#" in plan) == (r["engine"] == "jvm")
    if r["engine"] == "jvm":
        assert not any(s in plan for s in _PYTHON_STAGES), plan
    r2: dict = {}
    read_avro_files(spark, d, sch, engine="python", route_out=r2)
    assert r2 == {"engine": "python", "split": False}
    r3: dict = {}
    read_avro_files(spark, d, sch, split_bytes=4096, route_out=r3)
    assert r3["split"] is True
    assert r3["engine"] == ("jvm" if jvm_ok else "python")
    # the writer records its encode route too
    r4: dict = {}
    write_avro_files(df.coalesce(1), sch, str(tmp_path / "rt_w"),
                     route_out=r4)
    assert r4 == {"engine": "jvm" if jvm_ok else "python"}
    r5: dict = {}
    write_avro_files(df.coalesce(1), sch, str(tmp_path / "rt_w2"),
                     engine="python", route_out=r5)
    assert r5 == {"engine": "python"}


def test_recursive_schema_ocf_cross_engine(spark, tmp_path):
    """Recursive linked-list schema ([null, node] back-edge) through the
    OCF container and the wire codec on BOTH engines: the JVM path must
    handle the cyclic schema graph (named-ref JSON + Java parser) exactly
    like the Python closure-tree codec."""
    if not _jvm_ready(spark):
        pytest.skip("no JDK")
    sch = avro_spark.create({
        "type": "record", "name": "LRoot", "fields": [
            {"name": "okey", "type": "long"},
            {"name": "chain", "type": ["null", {
                "type": "record", "name": "lnode",
                "fields": [{"name": "value", "type": "long"},
                           {"name": "next", "type": ["null", "lnode"]}],
            }]}]})
    # depth-3 chains (inside the unroll budget of the Spark TYPE)
    rows = [(i, (i, (i + 1, (i + 2, None)))) for i in range(50)]
    df = spark.createDataFrame(rows, sch.to_struct_type())
    want = _collect(df)
    for weng in ("python", "jvm"):
        d = str(tmp_path / f"rec_{weng}")
        write_avro_files(df.coalesce(1), sch, d, codec="deflate",
                         block_records=16, engine=weng)
        blobs = to_avro_bytes(df, sch, "b", engine=weng)
        for reng in ("python", "jvm"):
            got = _collect(read_avro_files(spark, d, sch, engine=reng))
            assert got == want, (weng, reng)
            got = _collect(from_avro_bytes(blobs, "b", sch, engine=reng))
            assert got == want, ("wire", weng, reng)


def test_one_schema_per_read_across_engines(spark, tmp_path):
    """Every read reports one schema whatever engine decodes it: top-level
    columns nullable, field metadata (enum, fixed, union tags) kept at
    every depth, for full and projected reads."""
    if not _jvm_ready(spark):
        pytest.skip("no JDK")
    from avro_spark.sources.avro_ocf import read_avro_stream

    enum = {"type": "enum", "name": "SE", "symbols": ["A", "B"]}
    sch = avro_spark.create({"type": "record", "name": "S", "fields": [
        {"name": "id", "type": "long"},
        {"name": "e", "type": enum},
        {"name": "fx", "type": {"type": "fixed", "name": "SF", "size": 2}},
        {"name": "sub", "type": {"type": "record", "name": "SS", "fields": [
            {"name": "k", "type": "SE"},
            {"name": "u", "type": ["null", "long", "string"]}]}}]})
    df = spark.createDataFrame(
        [(1, "A", b"ab", ("B", (1, 5, None))), (2, "B", b"cd", ("A", (0, None, None)))],
        sch.to_struct_type())
    d = str(tmp_path / "one_schema")
    write_avro_files(df.coalesce(1), sch, d)
    blobs = to_avro_bytes(df, sch, "b", engine="python")
    for cols in (None, ["e", "sub.k"]):
        reads = {
            "files": lambda eng: read_avro_files(
                spark, d, sch, engine=eng, columns=cols),
            "split": lambda eng: read_avro_files_split(
                spark, d, sch, split_bytes=64, engine=eng, columns=cols),
            "stream": lambda eng: read_avro_stream(
                spark, d, sch, engine=eng, columns=cols),
            "bytes": lambda eng: from_avro_bytes(
                blobs, "b", sch, engine=eng, columns=cols),
        }
        for name, read in reads.items():
            jvm, py = read("jvm"), read("python")
            assert py.schema == jvm.schema, (name, cols)
            assert all(f.nullable for f in jvm.schema.fields), (name, cols)
            assert jvm.schema["e"].metadata["avro.enum.symbols"] == ["A", "B"]
            assert (jvm.schema["sub"].dataType["k"].metadata["avro.enum.name"]
                    == "SE")
            if name != "stream":
                assert _collect(py) == _collect(jvm), (name, cols)


def test_streaming_ocf_source_both_engines(spark, tmp_path, zoo):
    """read_avro_stream: binaryFile readStream + engine-routed decode.
    Bounded AvailableNow run returns exactly the written rows on both
    engines; the JVM plan is stateless narrow ops, streaming-legal."""
    import uuid

    from avro_spark.sources.avro_ocf import read_avro_stream
    from avro_spark.streaming import run_to_memory

    sch, df = zoo
    d = str(tmp_path / "stream_src")
    write_avro_files(df.repartition(2), sch, d, codec="deflate")
    want = _collect(df)
    engines = ["python"] + (["jvm", "auto"] if _jvm_ready(spark) else [])
    for eng in engines:
        tbl = f"t_{uuid.uuid4().hex[:8]}"
        run_to_memory(read_avro_stream(spark, d, sch, engine=eng), tbl)
        assert _collect(spark.table(tbl)) == want, eng


def test_mixed_writer_schema_directory_fails_loudly(spark, tmp_path):
    """A directory whose files were written with DIFFERENT schemas used
    to decode as silent garbage (the reader layout walked over a foreign
    byte layout). Both the whole-file and split readers must refuse at
    plan time, naming the offending file's problem; canonically-EQUAL
    renderings (doc attrs, whitespace) must still pass."""
    s1 = avro_spark.create({"type": "record", "name": "M", "fields": [
        {"name": "a", "type": "long"}, {"name": "b", "type": "string"}]})
    s2 = avro_spark.create({"type": "record", "name": "M", "fields": [
        {"name": "b", "type": "string"}, {"name": "a", "type": "long"}]})
    d = str(tmp_path / "mixed")
    write_avro_files(
        spark.createDataFrame([(1, "x")], s1.to_struct_type()), s1, d)
    # second file, same dir, DIFFERENT field order (= different layout)
    write_avro_files(
        spark.createDataFrame([("y", 2)], s2.to_struct_type()), s2,
        str(tmp_path / "second"))
    os.rename(
        glob.glob(str(tmp_path / "second" / "part-*.avro"))[0],
        os.path.join(d, "part-00001.avro"))
    with pytest.raises(AvroSparkError, match="writer-schema mismatch"):
        read_avro_files(spark, d, s1)
    with pytest.raises(AvroSparkError, match="writer-schema mismatch"):
        read_avro_files_split(spark, d, s1, split_bytes=4096)
    # python engine checks in the executor too (the non-local path)
    with pytest.raises(Exception, match="writer-schema mismatch"):
        read_avro_files(
            spark, d, s1, engine="python", verify_schemas=False
        ).collect()

    # canonically-equal rendering (extra doc attr) must NOT raise
    s1_doc = avro_spark.create({
        "type": "record", "name": "M", "doc": "same layout", "fields": [
            {"name": "a", "type": "long", "doc": "key"},
            {"name": "b", "type": "string"}]})
    d2 = str(tmp_path / "docful")
    write_avro_files(
        spark.createDataFrame([(3, "z")], s1_doc.to_struct_type()), s1_doc, d2)
    got = read_avro_files(spark, d2, s1).collect()
    assert [(r.a, r.b) for r in got] == [(3, "z")]


def test_write_append_mode(spark, tmp_path, zoo):
    """mode='append' adds part files alongside existing ones (per-write
    token in the filename — jobs never collide) and the read returns the
    union of all writes; overwrite/error semantics are unchanged."""
    sch, df = zoo
    d = str(tmp_path / "appended")
    first = df.where("id < 100")
    second = df.where("id >= 100 and id < 200")
    write_avro_files(first.repartition(2), sch, d)
    write_avro_files(second.repartition(2), sch, d, mode="append")
    got = sorted(r.id for r in read_avro_files(spark, d, sch).collect())
    assert got == list(range(200))
    import glob as _glob
    assert len(_glob.glob(os.path.join(d, "part-*.avro"))) == 4
    # same-partition-count appends must not collide either
    write_avro_files(first.repartition(2), sch, d, mode="append")
    assert read_avro_files(spark, d, sch).count() == 300
    # overwrite clears ALL accumulated parts; error refuses
    write_avro_files(first.repartition(1), sch, d, mode="overwrite")
    assert read_avro_files(spark, d, sch).count() == 100
    with pytest.raises(AvroSparkError, match="target not empty"):
        write_avro_files(first, sch, d, mode="error")


def test_projection_pushdown_matches_full_read(spark, tmp_path, zoo):
    """columns=[...] pushes the projection INTO the decoders: both
    engines, whole-file and split reads, must return exactly the
    full-read-then-select result — the skipped fields cover every Avro
    shape in the zoo (arrays, maps, unions, enum, fixed, nullables)."""
    sch, df = zoo
    d = str(tmp_path / "proj")
    write_avro_files(df.repartition(2), sch, d, codec="deflate",
                     block_records=64)
    cols = ["id", "u3", "mp"]  # keep a union + a map; skip everything else
    # output keeps SCHEMA order regardless of request order
    schema_order = [f.name for f in sch.root.fields if f.name in set(cols)]
    engines = ["python"] + (["jvm"] if _jvm_ready(spark) else [])
    for eng in engines:
        want = _collect(
            read_avro_files(spark, d, sch, engine=eng).select(*schema_order))
        got = read_avro_files(spark, d, sch, engine=eng, columns=cols)
        assert got.columns == schema_order
        assert _collect(got) == want, eng
        got_s = read_avro_files_split(
            spark, d, sch, split_bytes=4096, engine=eng, columns=cols)
        assert _collect(got_s) == want, ("split", eng)
    # single-column projection skips ALL trailing fields
    for eng in engines:
        just_id = read_avro_files(spark, d, sch, engine=eng, columns=["id"])
        assert sorted(r.id for r in just_id.collect()) == list(range(300)), eng
    # unknown names fail loudly at plan build on every path
    for eng in engines:
        with pytest.raises(Exception, match="unknown fields"):
            read_avro_files(spark, d, sch, engine=eng, columns=["id", "nope"])
        with pytest.raises(Exception, match="unknown fields"):
            read_avro_files_split(
                spark, d, sch, split_bytes=4096, engine=eng,
                columns=["nope"])


def test_null_branch_union_ocf_read_feeds_evolution_plan(spark, tmp_path):
    """Pinned regression for the r5 representation seam: a [null, "int*"]
    union written to OCF, read back on EVERY write×read engine
    combination, then fed through compile(writer, reader).flatten — the
    evolution plan keys on $type$, so the null branch must arrive as the
    tagged struct {$type$: 0, int: null}, never an outer null (which
    flatten would silently emit as a null output cell)."""
    writer = avro_spark.create({
        "type": "record", "name": "U",
        "fields": [{"name": "id", "type": "long"},
                   {"name": "f0", "type": ["null", "int*"]}]})
    # reader reorders fields — forces a real resolution plan, not identity
    reader = avro_spark.create({
        "type": "record", "name": "U",
        "fields": [{"name": "f0", "type": ["null", "int*"]},
                   {"name": "id", "type": "long"}]})
    rows = [
        (1, (0, None)),   # the null BRANCH (tag 0)
        (2, (1, 5)),      # int payload on the int* branch
        (3, (1, None)),   # null PAYLOAD on the int* branch — distinct!
    ]
    df = spark.createDataFrame(rows, writer.to_struct_type())
    engines = ["python"] + (["jvm"] if _jvm_ready(spark) else [])
    cs = avro_spark.compile(writer, reader)
    for weng in engines:
        d = str(tmp_path / f"u_{weng}")
        write_avro_files(df, writer, d, engine=weng)
        for reng in engines:
            back = read_avro_files(spark, d, writer, engine=reng)
            got = {r.id: tuple(r.f0) for r in back.collect()}
            assert got == {1: (0, None), 2: (1, 5), 3: (1, None)}, (weng, reng)
            # through the evolution plan: flatten against the writer,
            # unflatten with the reader mapping — tags must survive
            out = cs.unflatten(avro_spark.compile(writer).flatten(back))
            rt = {r.id: tuple(r.f0) for r in out.collect()}
            assert rt == {1: (0, None), 2: (1, 5), 3: (1, None)}, (
                "evolution", weng, reng)


def test_mixed_schema_guard_survives_unreadable_headers(
    spark, tmp_path, monkeypatch
):
    """Two regressions around driver-side header peeks failing (the
    non-local-storage shape): (1) one header the driver cannot open must
    not abort verification of the listing, which retries through the
    distributed header scan; (2) when any file went unverified, the JVM
    engine must run the OCF read generator's executor-side byte-compare
    instead of decoding a foreign layout as garbage."""
    import avro_spark.sources.avro_ocf as ocf_mod

    s1 = avro_spark.create({"type": "record", "name": "M", "fields": [
        {"name": "a", "type": "long"}, {"name": "b", "type": "string"}]})
    s2 = avro_spark.create({"type": "record", "name": "M", "fields": [
        {"name": "b", "type": "string"}, {"name": "a", "type": "long"}]})
    d = str(tmp_path / "mixed")
    write_avro_files(
        spark.createDataFrame([(1, "x")], s1.to_struct_type()), s1, d)
    write_avro_files(
        spark.createDataFrame([("y", 2)], s2.to_struct_type()), s2,
        str(tmp_path / "second"))
    os.rename(
        glob.glob(str(tmp_path / "second" / "part-*.avro"))[0],
        os.path.join(d, "part-00001.avro"))

    real_scan = ocf_mod._scan_header
    real_distributed = ocf_mod._scan_headers_distributed

    # (1) the driver cannot open ONE header, the mismatched file's: the
    # listing is still checked — that header through the distributed
    # scan — and the mismatch raises at plan time
    listed = [u for u, _size in ocf_mod._list_files(spark, d)[1]]
    flaky_path = next(u for u in listed if u.endswith("/part-00001.avro"))
    driver = os.getpid()
    fired, retried = [], []

    def scan_skip_first(fpath):
        if fpath == flaky_path and os.getpid() == driver:
            fired.append(fpath)
            raise OSError("simulated non-local storage")
        return real_scan(fpath)

    def distributed(spark_, paths):
        retried.append(paths)
        return real_distributed(spark_, paths)

    monkeypatch.setattr(ocf_mod, "_scan_header", scan_skip_first)
    monkeypatch.setattr(ocf_mod, "_scan_headers_distributed", distributed)
    with pytest.raises(AvroSparkError,
                       match=f"writer-schema mismatch at {flaky_path}"):
        read_avro_files(spark, d, s1, engine="python")
    assert fired and retried == [listed]

    # (2) NO header is peekable (pure non-local shape): the JVM engine
    # must still fail loudly via the executor-side byte-compare
    def scan_all_fail(fpath):
        raise OSError("simulated non-local storage")

    monkeypatch.setattr(ocf_mod, "_scan_header", scan_all_fail)
    if _jvm_ready(spark):
        with pytest.raises(Exception, match="writer-schema mismatch"):
            read_avro_files(spark, d, s1, engine="jvm").collect()
    # python engine re-checks per file in the executor regardless
    with pytest.raises(Exception, match="writer-schema mismatch"):
        read_avro_files(spark, d, s1, engine="python").collect()
    # engine='auto' with unverified files routes to the Python engine
    # whose canonical executor check catches the mixed dir...
    with pytest.raises(Exception, match="writer-schema mismatch"):
        read_avro_files(spark, d, s1, engine="auto").collect()
    # ...and, crucially, does NOT false-fail a UNIFORM directory whose
    # schema rendering differs from export() (the JVM byte-compare
    # would); canonical equality is what counts
    d_uni = str(tmp_path / "uniform")
    write_avro_files(
        spark.createDataFrame([(1, "x"), (2, "y")], s1.to_struct_type()),
        s1, d_uni)
    s1_docful = avro_spark.create({
        "type": "record", "name": "M", "doc": "different rendering",
        "fields": [{"name": "a", "type": "long", "doc": "k"},
                   {"name": "b", "type": "string"}]})
    got = read_avro_files(spark, d_uni, s1_docful, engine="auto").collect()
    assert sorted((r.a, r.b) for r in got) == [(1, "x"), (2, "y")]


def test_read_avro_files_evolved(spark, tmp_path):
    """Schema evolution at the file boundary: v1 files + v2 reader =
    reordered fields, alias rename, int->long promotion, and a reader
    default — resolved on top of the engine-routed decode."""
    v1 = avro_spark.create({"type": "record", "name": "Ev", "fields": [
        {"name": "id", "type": "int"},
        {"name": "name", "type": "string"},
        {"name": "score", "type": "int"}]})
    v2 = avro_spark.create({"type": "record", "name": "Ev", "fields": [
        {"name": "score", "type": "long"},                       # promoted
        {"name": "label", "type": "string", "aliases": ["name"]},  # renamed
        {"name": "id", "type": "int"},                           # reordered
        {"name": "flag", "type": "int", "default": 7}]})         # added
    from avro_spark.sources.avro_ocf import read_avro_files_evolved

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], v1.to_struct_type())
    d = str(tmp_path / "evo")
    write_avro_files(df, v1, d)
    engines = ["python"] + (["auto"] if _jvm_ready(spark) else [])
    for eng in engines:
        out = read_avro_files_evolved(spark, d, v2, engine=eng)
        assert out.columns == ["score", "label", "id", "flag"]
        got = sorted((r.score, r.label, r.id, r.flag) for r in out.collect())
        assert got == [(10, "a", 1, 7), (20, "b", 2, 7)], eng
        assert dict(out.dtypes)["score"] == "bigint"


def test_streaming_jvm_guard_rejects_foreign_schema_file(spark, tmp_path, zoo):
    """The STREAMING JVM path has no plan-time header peek; the OCF read
    generator's byte-compare guard must reject a file written under a
    different schema instead of decoding garbage."""
    import uuid

    from avro_spark.sources.avro_ocf import read_avro_stream
    from avro_spark.streaming import run_to_memory

    if not _jvm_ready(spark):
        pytest.skip("no JDK")
    sch, df = zoo
    other = avro_spark.create({"type": "record", "name": "OZoo", "fields": [
        {"name": "id", "type": "long"}]})
    d = str(tmp_path / "foreign")
    write_avro_files(df.limit(5).coalesce(1), sch, d)
    write_avro_files(
        spark.createDataFrame([(9,)], other.to_struct_type()), other,
        str(tmp_path / "f2"))
    os.rename(glob.glob(str(tmp_path / "f2" / "part-*.avro"))[0],
              os.path.join(d, "part-00001.avro"))
    with pytest.raises(Exception, match="writer-schema mismatch"):
        run_to_memory(
            read_avro_stream(spark, d, sch, engine="jvm"),
            f"g_{uuid.uuid4().hex[:8]}",
        )


def test_append_token_is_wide_and_collision_proof(spark, tmp_path, zoo, monkeypatch):
    """VERDICT r6 #1: the append-mode filename token was 32 bits — two
    jobs drawing the same 4 bytes silently os.replace'd each other's part
    files (~50% odds after ~77k appends). Now: 128-bit token, distinct
    across writes, and uniqueness is STRUCTURAL — a simulated token
    collision against an existing part file redraws instead of
    overwriting."""
    import re

    import avro_spark.sources.avro_ocf as ocf_mod

    sch, df = zoo
    d = str(tmp_path / "tok")
    first = df.where("id < 50").repartition(1)
    write_avro_files(first, sch, d, mode="append")
    write_avro_files(first, sch, d, mode="append")
    names = sorted(os.listdir(d))
    toks = [re.fullmatch(r"part-\d{5}-([0-9a-f]+)\.avro", n).group(1)
            for n in names]
    assert all(len(t) == 32 for t in toks), toks  # 16 bytes hex
    assert len(set(toks)) == len(toks)  # distinct across writes
    # simulate a collision: first urandom draw returns the token already
    # on disk; the writer must redraw, never os.replace the earlier part
    victim = toks[0]
    before = {n: os.path.getmtime(os.path.join(d, n)) for n in names}
    draws = [bytes.fromhex(victim), os.urandom(16)]
    real_urandom = os.urandom

    def fake_urandom(n):
        if n == 16 and draws:
            return draws.pop(0)
        return real_urandom(n)

    monkeypatch.setattr(ocf_mod.os, "urandom", fake_urandom)
    write_avro_files(first, sch, d, mode="append")
    after = sorted(os.listdir(d))
    assert len(after) == 3  # appended a NEW part, replaced nothing
    for n, mt in before.items():
        assert os.path.getmtime(os.path.join(d, n)) == mt, f"{n} overwritten"
    assert read_avro_files(spark, d, sch).count() == 150


def test_nonlocal_storage_keeps_jvm_engine(spark, tmp_path, zoo, monkeypatch):
    """VERDICT r6 #2: when the DRIVER cannot open the files (non-local
    storage), engine='auto' used to silently drop to the ~10× slower
    Python engine, and split planning failed outright. Schema
    verification now runs as ONE distributed Spark job (executors open
    files via _fs.open_input), so auto KEEPS the JVM block codec. Simulated by
    failing every driver-side header peek; executor worker processes
    re-import the module unpatched and read normally — exactly the
    cannot-reach-from-driver shape."""
    if not _jvm_ready(spark):
        pytest.skip("no JDK")
    import avro_spark.sources.avro_ocf as ocf_mod

    sch, df = zoo
    d = str(tmp_path / "remote")
    write_avro_files(df.repartition(3), sch, d, codec="deflate",
                     block_records=64)
    want = _collect(read_avro_files(spark, d, sch))

    real_scan = ocf_mod._scan_header

    def driver_peek_fails(uri):
        # cloudpickle ships this patched function INTO the workers too
        # (nested-closure globals pickle by value) — so gate on
        # TaskContext: raise only for DRIVER-side calls
        from pyspark import TaskContext

        if TaskContext.get() is None:
            raise OSError("simulated non-local storage (driver-side peek)")
        return real_scan(uri)

    monkeypatch.setattr(ocf_mod, "_scan_header", driver_peek_fails)
    got_df = read_avro_files(spark, d, sch)
    plan = got_df._sc._jvm.PythonSQLUtils.explainString(
        got_df._jdf.queryExecution(), "simple")
    assert "MapInArrow" not in plan and "MapInPandas" not in plan, plan
    assert _collect(got_df) == want
    # split planning must also work with a driver that cannot peek
    got_split = read_avro_files_split(spark, d, sch, split_bytes=4096)
    splan = got_split._sc._jvm.PythonSQLUtils.explainString(
        got_split._jdf.queryExecution(), "simple")
    assert splan.count("MapInArrow") == 1, splan  # IO stage only; JVM decode
    assert _collect(got_split) == want


def test_nonlocal_uris_route_through_pyarrow_fs(spark, tmp_path, zoo, monkeypatch):
    """Force every URI to take the non-local branch: driver-side header
    peeks then go through pyarrow.fs (FileSystem.from_uri on the file:
    URIs Spark's binaryFile listing returns) and verification goes
    distributed — the whole-file AND split reads stay correct and
    JVM-planned."""
    if not _jvm_ready(spark):
        pytest.skip("no JDK")
    from avro_spark import _fs

    sch, df = zoo
    d = str(tmp_path / "pafs")
    write_avro_files(df.repartition(2), sch, d, block_records=64)
    want = _collect(read_avro_files(spark, d, sch))
    monkeypatch.setattr(_fs, "local_path", lambda uri: None)
    got_df = read_avro_files(spark, d, sch)
    plan = got_df._sc._jvm.PythonSQLUtils.explainString(
        got_df._jdf.queryExecution(), "simple")
    assert "MapInArrow" not in plan and "MapInPandas" not in plan, plan
    assert _collect(got_df) == want
    got_split = read_avro_files_split(spark, d, sch, split_bytes=4096)
    assert _collect(got_split) == want


def test_write_to_nonlocal_storage_via_pyarrow_fs(spark, tmp_path, zoo, monkeypatch):
    """r7: the write path must not assume local storage either — with
    the target judged non-local at plan time, the driver lists/clears
    part files via pyarrow.fs and every EXECUTOR streams its part to
    the final key through filesystem.open_output_stream (no os.replace
    — object stores have no rename). Forced here by patching local_path
    so the plan-time flag routes file:// URIs through the pyarrow
    branch end-to-end; all three modes keep their semantics."""
    from avro_spark import _fs

    sch, df = zoo
    d = "file://" + str(tmp_path / "remote_write")
    monkeypatch.setattr(_fs, "local_path", lambda uri: None)
    first = df.where("id < 100")
    summaries = write_avro_files(first.repartition(2), sch, d, engine="python")
    assert len(summaries) == 2
    assert all(s["file"].startswith("file://") for s in summaries)
    assert all(s["n_bytes"] > 0 for s in summaries)
    monkeypatch.undo()
    want = sorted(r.id for r in read_avro_files(spark, d, sch).collect())
    assert want == list(range(100))
    # local byte-parity: the pyarrow branch writes the same container
    local_d = str(tmp_path / "local_write")
    write_avro_files(first.repartition(2), sch, local_d, engine="python")
    import glob as _glob
    remote_sizes = sorted(s["n_bytes"] for s in summaries)
    local_sizes = sorted(os.path.getsize(f) for f in _glob.glob(
        os.path.join(local_d, "part-*.avro")))
    assert remote_sizes == local_sizes
    # overwrite / error / append semantics through the pyarrow listing
    monkeypatch.setattr(_fs, "local_path", lambda uri: None)
    with pytest.raises(AvroSparkError, match="target not empty"):
        write_avro_files(first, sch, d, mode="error")
    write_avro_files(df.where("id >= 100 and id < 150").repartition(1),
                     sch, d, mode="append", engine="python")
    write_avro_files(first.repartition(1), sch, d, mode="overwrite",
                     engine="python")
    monkeypatch.undo()
    assert read_avro_files(spark, d, sch).count() == 100


def test_oversized_files_auto_route_to_split_read(spark, tmp_path, zoo, monkeypatch):
    """r7: whole-file reads carry each file as ONE byte-array cell and
    the JVM caps arrays at 2 GiB — files past _WHOLE_FILE_MAX_BYTES must
    auto-route to the byte-range split read instead of failing mid-scan
    (threshold shrunk here so the zoo fixture trips it)."""
    if not _jvm_ready(spark):
        pytest.skip("no JDK")
    import avro_spark.sources.avro_ocf as ocf_mod

    sch, df = zoo
    d = str(tmp_path / "huge")
    write_avro_files(df.repartition(1), sch, d, block_records=64)
    want = _collect(read_avro_files(spark, d, sch))
    monkeypatch.setattr(ocf_mod, "_WHOLE_FILE_MAX_BYTES", 1000)
    got_df = read_avro_files(spark, d, sch)
    plan = got_df._sc._jvm.PythonSQLUtils.explainString(
        got_df._jdf.queryExecution(), "simple")
    # split-read shape: the one IO-side sync-scan Arrow stage
    assert plan.count("MapInArrow") == 1, plan
    assert _collect(got_df) == want

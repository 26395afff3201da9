"""JVM (compiled Java UDF) Avro codec: byte parity with the Python codec,
cross-engine decode equality, auto-routing, and fallback scope.

Reference parity note: the byte format is the public Avro binary spec —
the same bytes the reference's msgpack leg would carry re-expressed as
Avro (BASELINE.json C1); these tests pin the two engines to EACH OTHER.
"""

from __future__ import annotations

import pytest

import avro_spark
from avro_spark import jvm as J
from avro_spark.sources.avro_binary import from_avro_bytes, to_avro_bytes

ZOO = {
    "type": "record",
    "name": "Zoo",
    "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": "int"},
        {"name": "c", "type": "double"},
        {"name": "d", "type": "float"},
        {"name": "e", "type": "boolean"},
        {"name": "f", "type": "string"},
        {"name": "g", "type": "bytes"},
        {"name": "h", "type": {"type": "fixed", "name": "F4", "size": 4}},
        {"name": "i", "type": {"type": "enum", "name": "E", "symbols": ["X", "Y", "Z"]}},
        {"name": "j", "type": {"type": "array", "items": "long"}},
        {"name": "k", "type": ["null", "string"]},
        {"name": "l", "type": "string*"},
        {
            "name": "m",
            "type": {
                "type": "record",
                "name": "Sub",
                "fields": [
                    {"name": "x", "type": "int"},
                    {"name": "y", "type": ["null", "double"]},
                ],
            },
        },
    ],
}

ROWS = [
    (1, 2, 3.5, 4.5, True, "héllo", b"\x01\x02", b"ABCD", "Y", [1, 2, 3], "opt", None, (7, 1.25)),
    (-9, -3, -0.0, 0.0, False, "", b"", b"\x00\x00\x00\x00", "X", [], None, "tag", (0, None)),
    (2**62, 0, 1e300, -1.5, True, "a\nb", b"\xff", b"zzzz", "Z", [0], "s", "t", (-1, 0.0)),
]


@pytest.fixture(scope="module")
def zoo_df(spark):
    s = avro_spark.create(ZOO)
    return s, spark.createDataFrame(ROWS, s.to_struct_type())


def _jvm_ready(spark):
    return J.jvm_codec_available(spark)


def test_byte_parity_with_python_codec(spark, zoo_df):
    if not _jvm_ready(spark):
        pytest.skip("no JDK")
    s, df = zoo_df
    bj = sorted(r.b for r in to_avro_bytes(df, s, "b", engine="jvm").collect())
    bp = sorted(r.b for r in to_avro_bytes(df, s, "b", engine="python").collect())
    assert bj == bp


def test_cross_engine_decode(spark, zoo_df):
    if not _jvm_ready(spark):
        pytest.skip("no JDK")
    s, df = zoo_df
    enc_j = to_avro_bytes(df, s, "b", engine="jvm")
    enc_p = to_avro_bytes(df, s, "b", engine="python")
    outs = [
        from_avro_bytes(enc_j, "b", s, engine="python").collect(),
        from_avro_bytes(enc_p, "b", s, engine="jvm").collect(),
        from_avro_bytes(enc_j, "b", s, engine="jvm").collect(),
    ]
    canon = [sorted(map(str, o)) for o in outs]
    assert canon[0] == canon[1] == canon[2]
    assert len(outs[0]) == len(ROWS)


def test_map_roundtrip_jvm(spark):
    if not _jvm_ready(spark):
        pytest.skip("no JDK")
    sm = avro_spark.create(
        {
            "type": "record",
            "name": "M",
            "fields": [
                {"name": "id", "type": "long"},
                {"name": "mm", "type": {"type": "map", "values": "int"}},
            ],
        }
    )
    df = spark.createDataFrame([(1, {"a": 1, "b": 2}), (2, {})], sm.to_struct_type())
    rt = from_avro_bytes(
        to_avro_bytes(df, sm, "b", engine="jvm"), "b", sm, engine="jvm"
    ).collect()
    assert sorted((r.id, dict(r.mm)) for r in rt) == [(1, {"a": 1, "b": 2}), (2, {})]


def _zigzag(n):
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while n > 0x7F:
        out.append(n & 0x7F | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def test_invalid_utf8_decodes_to_replacement_chars(spark):
    """Invalid UTF-8 in a string and in map keys decodes to U+FFFD on the
    JVM engine, map entries in wire order; two keys that become equal
    keep the first position and take the last value."""
    if not _jvm_ready(spark):
        pytest.skip("no JDK")
    sch = avro_spark.create({"type": "record", "name": "Utf", "fields": [
        {"name": "s", "type": "string"},
        {"name": "m", "type": {"type": "map", "values": "int"}}]})
    entries = [(b"\xfek", 1), (b"ok", 2), (b"\xff", 3), (b"\xfe", 4)]
    blob = (_zigzag(3) + b"a\xffb" + _zigzag(len(entries))
            + b"".join(_zigzag(len(k)) + k + _zigzag(v) for k, v in entries)
            + _zigzag(0))
    df = spark.createDataFrame([(bytearray(blob),)], "b binary")
    got = from_avro_bytes(df, "b", sch, engine="jvm").selectExpr(
        "s", "map_keys(m) AS k", "map_values(m) AS v").collect()
    assert [tuple(r) for r in got] == [
        ("a\ufffdb", ["\ufffdk", "ok", "\ufffd"], [1, 2, 4])]


def test_null_input_value_fails_on_both_engines(spark):
    """A null Avro value fails the job with one message on either engine,
    never a silent null row."""
    sch = avro_spark.create({"type": "record", "name": "N", "fields": [
        {"name": "a", "type": "long"}]})
    df = spark.createDataFrame([(bytearray(b"\x02"),), (None,)], "b binary")
    for eng in ["python"] + (["jvm"] if _jvm_ready(spark) else []):
        with pytest.raises(Exception, match="from_avro_bytes: null input value"):
            from_avro_bytes(df, "b", sch, engine=eng).collect()


def test_auto_routes_jvm_no_python_stage(spark, zoo_df):
    """engine='auto' on a supported schema must produce a plan with NO
    Python evaluation stage (the whole point: JVM-side hot path)."""
    if not _jvm_ready(spark):
        pytest.skip("no JDK")
    s, df = zoo_df
    enc = to_avro_bytes(df, s, "b", engine="auto")
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    dec = from_avro_bytes(enc, "b", s, engine="auto")
    plan = dec._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "UserDefinedGenerator" in plan


GENERAL_UNION = {
    "type": "record",
    "name": "U",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "u", "type": ["null", "double", "string"]},
    ],
}
GENERAL_ROWS = [(1, (1, 2.5, None)), (2, (2, None, "x")), (3, (0, None, None))]


def test_general_union_roundtrip_auto(spark):
    """3-branch unions are now IN JVM scope: auto routes there (or to
    Python without a JDK) and roundtrips the tagged-struct form; the
    null branch decodes to the CANONICAL tagged struct
    {$type$: null_idx, <branch fields null>} — the same shape
    ingest/conform produce and the flatten/evolution plans key on (an
    outer null here was the r5 representation seam: re-fed into a
    tag-keyed plan it read as "no value" instead of "the null branch")."""
    sch = avro_spark.create(GENERAL_UNION)
    assert J.jvm_codec_supported(sch)
    df = spark.createDataFrame(GENERAL_ROWS, sch.to_struct_type())
    out = from_avro_bytes(to_avro_bytes(df, sch, "b", engine="auto"), "b", sch, engine="auto")
    got = {
        r.id: (r.u["$type$"], r.u["double"], r.u["string"]) if r.u is not None else None
        for r in out.collect()
    }
    assert got == {1: (1, 2.5, None), 2: (2, None, "x"), 3: (0, None, None)}


def test_from_avro_bytes_projection_both_engines(spark):
    """from_avro_bytes(columns=[...]) decodes only the requested fields
    (others byte-skip) — identical to full-decode-then-select on both
    engines, including skipping the general union."""
    sch = avro_spark.create(GENERAL_UNION)
    df = spark.createDataFrame(GENERAL_ROWS, sch.to_struct_type())
    enc = to_avro_bytes(df, sch, "b", engine="python")
    engines = ["python"] + (["jvm"] if _jvm_ready(spark) else [])
    for eng in engines:
        want = sorted(
            map(str, from_avro_bytes(enc, "b", sch, engine=eng)
                .select("id").collect()))
        got_df = from_avro_bytes(enc, "b", sch, engine=eng, columns=["id"])
        assert got_df.columns == ["id"], eng
        assert sorted(map(str, got_df.collect())) == want, eng
        with pytest.raises(Exception, match="unknown fields"):
            from_avro_bytes(enc, "b", sch, engine=eng, columns=["zz"])


def test_projection_rejects_empty_and_skipper_rejects_corrupt(spark):
    """Two review catches pinned: (1) columns=[] must raise on every
    path — a zero-field Arrow batch always carries num_rows=0, so the
    Python engine would silently drop all rows while the JVM kept them;
    (2) the skip path must fail loudly on negative lengths/block sizes
    like the decoders do — a negative size moved the cursor backwards
    (net-zero progress: an infinite loop on corrupt data)."""
    from avro_spark.errors import AvroSparkError
    from avro_spark.sources.avro_binary import _compile_skipper

    sch = avro_spark.create(GENERAL_UNION)
    df = spark.createDataFrame(GENERAL_ROWS, sch.to_struct_type())
    enc = to_avro_bytes(df, sch, "b", engine="python")
    for eng in ["python"] + (["jvm"] if _jvm_ready(spark) else []):
        with pytest.raises(AvroSparkError, match="at least one field"):
            from_avro_bytes(enc, "b", sch, engine=eng, columns=[])

    arr_sch = avro_spark.create({
        "type": "record", "name": "A",
        "fields": [{"name": "xs", "type": {"type": "array", "items": "int"}}]})
    skip = _compile_skipper(arr_sch.root)
    # block header count=-1 (zigzag 0x01), size=-2 (zigzag 0x03): the
    # old skipper moved pos BACKWARDS by 2 and looped forever
    with pytest.raises(AvroSparkError, match="negative array block size"):
        skip(bytes([0x01, 0x03]), 0)
    str_sch = avro_spark.create({
        "type": "record", "name": "S",
        "fields": [{"name": "t", "type": "string"}]})
    with pytest.raises(AvroSparkError, match="negative string length"):
        _compile_skipper(str_sch.root)(bytes([0x05]), 0)  # len = -3


def test_general_union_byte_parity(spark):
    """General multi-branch unions must produce byte-identical output on
    both engines and cross-decode, incl. no-null-branch and
    record-branch unions."""
    if not _jvm_ready(spark):
        pytest.skip("no JDK")
    schemas_rows = [
        (GENERAL_UNION, GENERAL_ROWS),
        # union without a null branch
        (
            {
                "type": "record",
                "name": "V",
                "fields": [
                    {"name": "id", "type": "long"},
                    {"name": "u", "type": ["int", "string", "bytes"]},
                ],
            },
            [(1, (0, 7, None, None)), (2, (1, None, "hi", None)),
             (3, (2, None, None, bytearray(b"\x01\x02")))],
        ),
        # record + enum branches
        (
            {
                "type": "record",
                "name": "W",
                "fields": [
                    {"name": "id", "type": "long"},
                    {"name": "u", "type": [
                        "null",
                        {"type": "record", "name": "P",
                         "fields": [{"name": "x", "type": "int"},
                                    {"name": "y", "type": "string"}]},
                        {"type": "enum", "name": "E", "symbols": ["A", "B"]},
                    ]},
                ],
            },
            [(1, (1, (5, "p"), None)), (2, (2, None, "B")), (3, (0, None, None))],
        ),
    ]
    for raw, rows in schemas_rows:
        sch = avro_spark.create(raw)
        assert J.jvm_codec_supported(sch), raw["name"]
        df = spark.createDataFrame(rows, sch.to_struct_type())
        bj = sorted(r.b for r in to_avro_bytes(df, sch, "b", engine="jvm").collect())
        bp = sorted(r.b for r in to_avro_bytes(df, sch, "b", engine="python").collect())
        assert bj == bp, raw["name"]
        enc = to_avro_bytes(df, sch, "b", engine="jvm")
        out_p = sorted(map(str, from_avro_bytes(enc, "b", sch, engine="python").collect()))
        out_j = sorted(map(str, from_avro_bytes(enc, "b", sch, engine="jvm").collect()))
        assert out_p == out_j, raw["name"]


def test_nullable_branch_union_jvm_scope(spark):
    """A union with a NULLABLE branch renders via the byte-invisible
    ``avrospark.unwrap`` wrapper record (round 4) — IN JVM scope now,
    byte-identical to the Python codec, and round-trips on both engines.
    Case 3 is the sharp edge: tag selects the nullable branch but the
    value is null (encodes as the inner union's null)."""
    sch = avro_spark.create(
        {
            "type": "record",
            "name": "NB",
            "fields": [
                {"name": "id", "type": "long"},
                {"name": "u", "type": ["int", "string*"]},
            ],
        }
    )
    assert J.jvm_codec_supported(sch)
    rendered = J.plain_avro_json(sch.root)
    u = {f["name"]: f["type"] for f in rendered["fields"]}["u"]
    assert u[0] == "int" and u[1]["avrospark.unwrap"] is True, u
    df = spark.createDataFrame(
        [(1, (0, 7, None)), (2, (1, None, "x")), (3, (1, None, None))],
        sch.to_struct_type(),
    ).repartition(1)
    for engine in (("jvm", "python") if J.jvm_codec_available(spark)
                   else (("python",))):
        out = from_avro_bytes(
            to_avro_bytes(df, sch, "b", engine=engine), "b", sch,
            engine=engine)
        got = {
            r.id: (r.u["$type$"], r.u["int"], r.u["string"])
            if r.u is not None else None
            for r in out.collect()
        }
        assert got == {1: (0, 7, None), 2: (1, None, "x"),
                       3: (1, None, None)}, engine
    if J.jvm_codec_available(spark):
        bj = [bytes(r.b) for r in
              to_avro_bytes(df.orderBy("id"), sch, "b", engine="jvm").collect()]
        bp = [bytes(r.b) for r in
              to_avro_bytes(df.orderBy("id"), sch, "b", engine="python").collect()]
        assert bj == bp


def test_python_decode_enum_fixed_metadata(spark):
    """Regression: enum/fixed field metadata from to_struct_type() used to
    break the pandas_udf Arrow schema check in the PYTHON decode path."""
    sch = avro_spark.create(
        {
            "type": "record",
            "name": "EF",
            "fields": [
                {"name": "x", "type": "long"},
                {"name": "e", "type": {"type": "enum", "name": "E2", "symbols": ["A", "B"]}},
                {"name": "f", "type": {"type": "fixed", "name": "FX", "size": 2}},
            ],
        }
    )
    df = spark.createDataFrame([(1, "A", b"ab"), (2, "B", b"cd")], sch.to_struct_type())
    out = from_avro_bytes(
        to_avro_bytes(df, sch, "b", engine="python"), "b", sch, engine="python"
    ).collect()
    assert sorted((r.x, r.e, bytes(r.f)) for r in out) == [(1, "A", b"ab"), (2, "B", b"cd")]


def test_plain_avro_json_rendering():
    s = avro_spark.create(ZOO)
    j = J.plain_avro_json(s.root)
    assert j["name"] == "Zoo"
    by_name = {f["name"]: f["type"] for f in j["fields"]}
    assert by_name["l"] == ["null", "string"]  # nullable ext -> standard union
    assert by_name["k"] == ["null", "string"]
    assert by_name["h"] == {"type": "fixed", "name": "F4", "size": 4}


def test_nan_in_nullable_double_byte_parity(spark):
    """NaN in a nullable double column must encode identically on both
    engines (pandas can't distinguish null from NaN, so the convention is
    the null branch — the JVM side mirrors it)."""
    import math

    sch = avro_spark.create({
        "type": "record", "name": "N",
        "fields": [{"name": "d", "type": ["null", "double"]}],
    })
    df = spark.createDataFrame([(float("nan"),), (1.5,), (None,)], "d double")
    from avro_spark.sources.avro_binary import to_avro_bytes

    py = [bytes(r.b) for r in to_avro_bytes(df, sch, "b", engine="python").collect()]
    jv = [bytes(r.b) for r in to_avro_bytes(df, sch, "b", engine="jvm").collect()]
    assert py == jv
    assert py[0] == py[2]  # NaN encodes as the null branch


def test_jvm_bad_enum_symbol_errors(spark):
    sch = avro_spark.create({
        "type": "record", "name": "E",
        "fields": [{"name": "e", "type": {"type": "enum", "name": "S",
                                          "symbols": ["A", "B"]}}],
    })
    df = spark.createDataFrame([("Z",)], "e string")
    from avro_spark.sources.avro_binary import to_avro_bytes

    with pytest.raises(Exception, match="bad enum value: Z"):
        to_avro_bytes(df, sch, "b", engine="jvm").collect()


class TestNullableBranchUnionFuzz:
    """Cross-engine fuzz for the round-4 unwrap-wrapper scope: unions
    mixing plain and NULLABLE branches (incl. nullable enum / fixed /
    array branches), random tags and values (null on nullable branches
    included) — JVM bytes must equal Python bytes, and both decode to
    the source rows."""

    import pytest as _pytest

    BRANCH_POOL = [
        ("int", "int"),
        ("int*", "int"),
        ("string*", "string"),
        ("double*", "double"),
        ("bytes*", "bytes"),
    ]

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(data=st.data())
    @settings(max_examples=20, deadline=None)
    def test_parity_and_roundtrip(self, data, spark):
        import pytest

        from hypothesis import strategies as st

        if not (J.ensure_jar() and J.jvm_codec_available(spark)):
            pytest.skip("no JDK")
        # pick 2-4 distinct-tag branches, ≥1 nullable
        pool = data.draw(st.permutations(self.BRANCH_POOL))
        n = data.draw(st.integers(2, 4))
        chosen, tags = [], set()
        for b, tag in pool:
            if tag not in tags:
                chosen.append(b)
                tags.add(tag)
            if len(chosen) == n:
                break
        if not any(b.endswith("*") for b in chosen):
            chosen[0] = chosen[0].rstrip("*") + "*"
        with_null = data.draw(st.booleans())
        branches = (["null"] if with_null else []) + chosen
        sch = avro_spark.create({
            "type": "record", "name": "F",
            "fields": [{"name": "id", "type": "long"},
                       {"name": "u", "type": branches}]})
        assert J.jvm_codec_supported(sch)
        u = sch.root.fields[1].type
        non_null = [i for i, b in enumerate(u.branches)
                    if not (b.type == "null" and not b.nullable)]
        rows = []
        for rid in range(4):
            tag = data.draw(st.integers(0, len(u.branches) - 1))
            b = u.branches[tag]
            if b.type == "null" and not b.nullable:
                rows.append((rid, None))
                continue
            if b.nullable and data.draw(st.booleans()):
                val = None
            elif b.type == "int":
                val = data.draw(st.integers(-(2**31), 2**31 - 1))
            elif b.type == "double":
                val = float(data.draw(st.integers(-1000, 1000)))
            elif b.type == "bytes":
                val = bytes(data.draw(st.lists(
                    st.integers(0, 255), max_size=5)))
            else:
                val = data.draw(st.text(max_size=5))
            cells = [None] * len(non_null)
            cells[non_null.index(tag)] = val
            rows.append((rid, tuple([tag] + cells)))
        df = spark.createDataFrame(
            rows, sch.to_struct_type()).repartition(1)
        bj = {r.id: bytes(r2.b) for r, r2 in zip(
            df.orderBy("id").collect(),
            to_avro_bytes(df.orderBy("id"), sch, "b", engine="jvm")
            .collect())}
        bp = {r.id: bytes(r2.b) for r, r2 in zip(
            df.orderBy("id").collect(),
            to_avro_bytes(df.orderBy("id"), sch, "b", engine="python")
            .collect())}
        assert bj == bp, (branches, rows)
        for engine in ("jvm", "python"):
            out = from_avro_bytes(
                to_avro_bytes(df, sch, "b", engine=engine), "b", sch,
                engine=engine)
            got = sorted((r.id, tuple(r.u) if r.u is not None else None)
                         for r in out.collect())
            # an OUTER-null input (accepted on encode) decodes to the
            # canonical tagged struct {$type$: null_idx, all cells null}
            # (r6 — the shape the tag-keyed plans consume); everything
            # else round-trips unchanged
            null_idx = next(
                (i for i, b in enumerate(u.branches)
                 if b.type == "null" and not b.nullable), None)
            canon_null = (
                tuple([null_idx] + [None] * len(non_null))
                if null_idx is not None else None)
            want = sorted((rid, tuple(u_) if u_ is not None else canon_null)
                          for rid, u_ in rows)
            assert got == want, (engine, branches)


def test_nan_nullable_branch_union_byte_parity(spark):
    """["null", "double*"] is a GENERAL union (a nullable T must not
    collapse to a plain column — the null branch and a null payload on
    the T* branch are distinct values). A NaN payload on the double*
    branch encodes as the INNER union's null on both engines —
    byte-identical, so engine='auto' bytes never depend on JDK
    availability."""
    if not _jvm_ready(spark):
        pytest.skip("no JDK")
    sch = avro_spark.create(
        {"type": "record", "name": "NN",
         "fields": [{"name": "id", "type": "long"},
                    {"name": "v", "type": ["null", "double*"]}]})
    assert J.jvm_codec_supported(sch)
    # tagged struct: ($type$, double); tag 1 = the double* branch
    df = spark.createDataFrame(
        [(1, (1, float("nan"))), (2, (1, 2.5)), (3, None), (4, (1, None))],
        sch.to_struct_type()).repartition(1)
    bj = {r.id: bytes(r2.b) for r, r2 in zip(
        df.orderBy("id").collect(),
        to_avro_bytes(df.orderBy("id"), sch, "b", engine="jvm").collect())}
    bp = {r.id: bytes(r2.b) for r, r2 in zip(
        df.orderBy("id").collect(),
        to_avro_bytes(df.orderBy("id"), sch, "b", engine="python").collect())}
    assert bj == bp, (bj, bp)
    from avro_spark.sources.avro_binary import decode_record
    # NaN → inner null: same bytes as an explicit null payload (id=4),
    # distinct from the outer null branch (id=3)
    assert decode_record(sch, bj[1])["v"] == {"$type$": 1, "double": None}
    assert decode_record(sch, bj[4])["v"] == {"$type$": 1, "double": None}
    # the outer null branch decodes to its own TAG (canonical tagged
    # struct, r6), still distinct from the {$type$: 1} null payload
    assert decode_record(sch, bj[3])["v"] == {"$type$": 0, "double": None}
    # strip the 1-byte id varint: the v-part of NaN equals an explicit
    # null payload, and differs from the outer null branch
    assert bj[1][1:] == bj[4][1:] != bj[3][1:]
    assert decode_record(sch, bj[2])["v"] == {"$type$": 1, "double": 2.5}


def test_nullable_union_is_refused_not_corrupted():
    """Nullable UNIONS are uncreatable through the parser (union-in-union,
    frontend.lua:273-283). If one is built directly, plain_avro_json must
    refuse it: the old rendering produced JSON byte-ambiguous with
    ["null", "T*"], and the Java encoder would have written the inner
    union's tag as the outer branch index (silent data loss)."""
    import pytest

    from avro_spark.jvm import JvmUnsupported, plain_avro_json
    from avro_spark.schema.nodes import Primitive, UnionNode

    nullable_union = UnionNode(
        [Primitive("int"), Primitive("string")], nullable=True
    )
    with pytest.raises(JvmUnsupported, match="nullable union"):
        plain_avro_json(nullable_union)


def test_corrupt_union_tag_raises_loudly(spark):
    """A corrupt union branch index must raise a named corruption error
    on BOTH engines and BOTH paths (decode + projection skip) — not
    select a branch from the END via Python negative indexing, and not
    leak IndexOutOfBoundsException from the JVM."""
    from avro_spark.errors import AvroSparkError
    from avro_spark.sources.avro_binary import _compile_skipper, decode_record

    sch = avro_spark.create({
        "type": "record", "name": "U",
        "fields": [
            {"name": "u", "type": ["null", "int"]},
            {"name": "b", "type": "int"},
        ]})
    # u's branch tag = 5 (zigzag 0x0A): out of range for a 2-branch union
    corrupt = bytes([0x0A, 0x02])
    with pytest.raises(AvroSparkError, match=r"union branch index 5 out of range"):
        decode_record(sch, corrupt)
    # tag = -1 (zigzag 0x01): the negative-indexing trap
    with pytest.raises(AvroSparkError, match=r"union branch index -1 out of range"):
        decode_record(sch, bytes([0x01, 0x02]))
    # skip path (projection drops u, byte-skips it)
    skip = _compile_skipper(sch.root.fields[0].type)
    with pytest.raises(AvroSparkError, match=r"union branch index 5 out of range"):
        skip(corrupt, 0)
    if not _jvm_ready(spark):
        return
    df = spark.createDataFrame([(bytearray(corrupt),)], "p binary")
    for cols in (None, ["b"]):  # decode arm, then the skip arm
        with pytest.raises(Exception, match=r"union branch index 5 out of range"):
            from_avro_bytes(df, "p", sch, engine="jvm", columns=cols).collect()


def test_jvm_skip_rejects_wrapping_sizes(spark):
    """ADVICE r6 (medium): a corrupt length in [2^31, 2^63) wrapped
    NEGATIVE under the JVM skip path's bare (int) cast and moved the
    cursor BACKWARDS — net-zero progress, an executor hang on corrupt
    data. The guard now bounds every size against the remaining buffer
    BEFORE the cast (same rule as the OCF read generator)."""
    if not _jvm_ready(spark):
        pytest.skip("no JDK")
    sch = avro_spark.create({
        "type": "record", "name": "W",
        "fields": [
            {"name": "a", "type": "string"},
            {"name": "b", "type": "int"},
        ]})
    # a's length varint encodes 2^32+2 (zigzag 2^33+4): (int) cast of the
    # old code yielded +2 — silently skipping the WRONG bytes; values
    # near 2^32-6 yielded a negative delta (the infinite-loop shape)
    big = (2**32 + 2) << 1
    v = bytearray()
    while True:
        b = big & 0x7F
        big >>= 7
        if big:
            v.append(b | 0x80)
        else:
            v.append(b)
            break
    payload = bytes(v) + bytes([0x02])
    df = spark.createDataFrame([(bytearray(payload),)], "p binary")
    with pytest.raises(Exception, match=r"corrupt STRING length"):
        from_avro_bytes(df, "p", sch, engine="jvm", columns=["b"]).collect()
    # array block size in the wrapping range: same guard, array arm
    arr = avro_spark.create({
        "type": "record", "name": "WA",
        "fields": [
            {"name": "xs", "type": {"type": "array", "items": "int"}},
            {"name": "b", "type": "int"},
        ]})
    big2 = (2**32 + 2) << 1
    v2 = bytearray([0x01])  # block count = -1 → size-prefixed block
    while True:
        b = big2 & 0x7F
        big2 >>= 7
        if big2:
            v2.append(b | 0x80)
        else:
            v2.append(b)
            break
    df2 = spark.createDataFrame([(bytearray(bytes(v2) + bytes([0x02])),)], "p binary")
    with pytest.raises(Exception, match=r"corrupt array block size"):
        from_avro_bytes(df2, "p", arr, engine="jvm", columns=["b"]).collect()


def test_nested_projection_one_level(spark, tmp_path):
    """r7: columns=['a.b'] prunes INSIDE record fields — siblings are
    byte-skipped, a requested subfield set keeps the field as a struct
    of just those subfields (schema order), null structs stay null, and
    'a' + 'a.b' together keep the FULL field. Both engines, wire + OCF
    whole-file + split read."""
    import json as _json

    from pyspark.sql import functions as F

    from avro_spark.errors import AvroSparkError
    from avro_spark.sources.avro_ocf import (
        read_avro_files, read_avro_files_split, write_avro_files,
    )

    sch = avro_spark.create({
        "type": "record", "name": "N",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "sub", "type": {"type": "record", "name": "S",
             "fields": [
                 {"name": "x", "type": "int"},
                 {"name": "big", "type": "string"},
                 {"name": "y", "type": ["null", "double"]}]}},
            {"name": "opt", "type": ["null", {"type": "record", "name": "O",
             "fields": [
                 {"name": "p", "type": "string"},
                 {"name": "q", "type": "long"}]}]},
            {"name": "tail", "type": "string"},
        ],
    })
    rows = [
        (i, (i, "filler" * 50, float(i) if i % 2 else None),
         ( (f"p{i}", i * 10) if i % 3 else None), f"t{i}")
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, sch.to_struct_type())
    d = str(tmp_path / "nested")
    write_avro_files(df.coalesce(1), sch, d, block_records=64)

    def canon(frame):
        return sorted(
            _json.dumps(r.asDict(recursive=True), sort_keys=True,
                        default=repr)
            for r in frame.collect())

    cols = ["id", "sub.x", "opt.q"]
    want = canon(df.select(
        "id",
        F.struct(F.col("sub.x").alias("x")).alias("sub"),
        F.when(F.col("opt").isNotNull(),
               F.struct(F.col("opt.q").alias("q"))).alias("opt")))
    engines = ["python"] + (["jvm"] if _jvm_ready(spark) else [])
    for eng in engines:
        got = read_avro_files(spark, d, sch, engine=eng, columns=cols)
        assert [f.name for f in got.schema.fields] == ["id", "sub", "opt"]
        assert [f.name for f in got.schema["sub"].dataType.fields] == ["x"]
        assert canon(got) == want, eng
        got_s = read_avro_files_split(
            spark, d, sch, split_bytes=2048, engine=eng, columns=cols)
        assert canon(got_s) == want, ("split", eng)
        enc = to_avro_bytes(df, sch, "b", engine="python")
        got_w = from_avro_bytes(enc, "b", sch, engine=eng, columns=cols)
        assert canon(got_w) == want, ("wire", eng)
        # 'a' + 'a.b' → full field wins
        full = from_avro_bytes(enc, "b", sch, engine=eng,
                               columns=["sub", "sub.x"])
        assert [f.name for f in full.schema["sub"].dataType.fields] == \
            ["x", "big", "y"], eng
        # error cases: descent past a primitive, non-record, unknown
        # subfield (depth itself is legal since the r7 any-depth work)
        for bad, msg in (
            (["sub.x.y"], "not a record"),
            (["id.x"], "not a record"),
            (["sub.zz"], "unknown fields"),
        ):
            with pytest.raises(AvroSparkError, match=msg):
                from_avro_bytes(enc, "b", sch, engine=eng, columns=bad)


def test_nested_projection_any_depth(spark, tmp_path):
    """r7: dotted projections descend ANY number of record levels
    ('a.b.c.v'), byte-skipping siblings at every level; nullable and
    [null, record] union links mid-path stay null-correct; a shorter
    request ('a.b') subsumes its extensions. Both engines, wire + OCF
    whole-file + split read."""
    from pyspark.sql import functions as F

    from avro_spark.sources.avro_binary import (
        from_avro_bytes, parse_projection, projection_csv, to_avro_bytes,
    )
    from avro_spark.sources.avro_ocf import (
        read_avro_files, read_avro_files_split, write_avro_files,
    )

    sch = avro_spark.create({
        "type": "record", "name": "D3",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "a", "type": {"type": "record", "name": "A",
             "fields": [
                 {"name": "big1", "type": "string"},
                 {"name": "b", "type": {"type": "record", "name": "B",
                  "fields": [
                      {"name": "big2", "type": "string"},
                      {"name": "c", "type": ["null",
                       {"type": "record", "name": "C", "fields": [
                           {"name": "v", "type": "long"},
                           {"name": "big3", "type": "string"}]}]},
                      {"name": "w", "type": "int"}]}},
                 {"name": "z", "type": "double"}]}},
            {"name": "huge", "type": "string"},
        ],
    })
    rows = [
        (i,
         ("x" * 99, ("y" * 99, (i * 7, "z" * 99) if i % 3 else None, i),
          i / 2.0),
         "h" * 99)
        for i in range(150)
    ]
    df = spark.createDataFrame(rows, sch.to_struct_type())
    d = str(tmp_path / "deep")
    write_avro_files(df.coalesce(1), sch, d, block_records=32)

    # spec canonicalization: schema order at every level, prefix wins
    spec = parse_projection(sch.root, ["a.b.w", "id", "a.b.c.v"])
    assert spec == {"id": None, "a": {"b": {"c": {"v": None}, "w": None}}}
    assert projection_csv(sch.root, spec) == "id,a.b.c.v,a.b.w"
    sub = parse_projection(sch.root, ["a.b.c.v", "a.b"])
    assert sub == {"a": {"b": None}}

    cols = ["id", "a.b.c.v", "a.b.w"]
    want_df = df.select(
        "id",
        F.struct(F.struct(
            F.when(F.col("a.b.c").isNotNull(),
                   F.struct(F.col("a.b.c.v").alias("v"))).alias("c"),
            F.col("a.b.w").alias("w")).alias("b")).alias("a"))

    def canon(frame):
        return sorted(map(repr, frame.collect()))

    want = canon(want_df)
    engines = ["python"] + (
        ["jvm"] if (J.ensure_jar() and J.jvm_codec_available(spark)) else [])
    for eng in engines:
        got = read_avro_files(spark, d, sch, engine=eng, columns=cols)
        assert [f.name for f in got.schema.fields] == ["id", "a"], eng
        b_t = got.schema["a"].dataType["b"].dataType
        assert [f.name for f in b_t.fields] == ["c", "w"], eng
        assert [f.name for f in b_t["c"].dataType.fields] == ["v"], eng
        assert canon(got) == want, eng
        got_s = read_avro_files_split(
            spark, d, sch, split_bytes=1024, engine=eng, columns=cols)
        assert canon(got_s) == want, ("split", eng)
        enc = to_avro_bytes(df, sch, "b", engine="python")
        got_w = from_avro_bytes(enc, "b", sch, engine=eng, columns=cols)
        assert canon(got_w) == want, ("wire", eng)
        # shorter request subsumes the deep one → full B struct
        full_b = from_avro_bytes(enc, "b", sch, engine=eng,
                                 columns=["a.b", "a.b.c.v"])
        assert [f.name for f in
                full_b.schema["a"].dataType["b"].dataType.fields] == \
            ["big2", "c", "w"], eng


def test_union_tag_multiple_of_2_32_rejected(spark):
    """Self-review r7: the JVM guards must range-check the RAW long
    before the (int) cast — a corrupt tag of exactly 2^32 wrapped to
    index 0 and silently decoded the wrong branch while the Python
    engine raised."""
    from avro_spark.errors import AvroSparkError
    from avro_spark.sources.avro_binary import decode_record

    sch = avro_spark.create({
        "type": "record", "name": "U32",
        "fields": [
            {"name": "u", "type": ["null", "int"]},
            {"name": "b", "type": "int"},
        ]})
    # zigzag(2^32) = 2^33: varint bytes
    v = bytearray()
    big = 1 << 33
    while True:
        byte = big & 0x7F
        big >>= 7
        if big:
            v.append(byte | 0x80)
        else:
            v.append(byte)
            break
    corrupt = bytes(v) + bytes([0x02])
    with pytest.raises(AvroSparkError, match="out of range"):
        decode_record(sch, corrupt)
    if not _jvm_ready(spark):
        return
    df = spark.createDataFrame([(bytearray(corrupt),)], "p binary")
    for cols in (None, ["b"]):
        with pytest.raises(Exception, match=r"union branch index 4294967296"):
            from_avro_bytes(df, "p", sch, engine="jvm", columns=cols).collect()

"""Avro binary codec — the engine's byte-level surface.

The reference's ``*_msgpack`` method variants speak MsgPack through a C
pipeline (runtime/pipeline.c:168-543, 545-884). Our byte surface is **Avro
binary** (per BASELINE.json: "Avro serialization library can be reimplemented
for batch encoding/decoding"): this container has no spark-avro jar, so the
codec is implemented from the public Avro 1.11 binary-encoding spec
(zigzag varints, length-prefixed bytes, block-encoded arrays/maps, branch-
indexed unions) and compiled per schema into a closure tree — the analogue of
the reference's generated LuaJIT codec — then applied over Arrow-native
``mapInArrow`` stages (``to_avro_bytes`` / ``from_avro_bytes``) —
RecordBatch in/out, no pandas conversion, so nullable int64 columns stay
exact (pandas would render them float64 and round |v| > 2^53).

Scale note: the UDFs are narrow per-row transforms (no shuffle); Arrow moves
batches across the Python boundary. If a spark-avro jar is present,
``native_avro_available()`` lets callers switch to the JVM codec — the
DataFrame-level API is identical.
"""

from __future__ import annotations

import struct as _struct
import threading
from typing import Any, Callable

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import AvroSparkError, CompileError
from ..schema import Schema
from ..schema.nodes import (
    Array,
    Enum,
    Fixed,
    Map,
    Primitive,
    Record,
    SchemaNode,
    UnionNode,
)
from ..schema.spark_types import (
    UNION_TAG,
    check_arrow_nesting,
    union_null_and_one,
)


# ------------------------------------------------------------ primitives
def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _write_varint(out: bytearray, n: int) -> None:
    n &= 0xFFFFFFFFFFFFFFFF
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _write_long(out: bytearray, v: int) -> None:
    _write_varint(out, _zigzag(v))


def _read_long(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not (b & 0x80):
            break
        shift += 7
    return _unzigzag(acc), pos


# ----------------------------------------------------- encoder compilation
# Cycle-safe builder memo: recursive schemas (node graphs with back-edges,
# frontend.lua:369-389) would otherwise recurse forever at BUILD time. The
# memo lives only for the outermost build (no global codec cache); the
# back-edge gets a one-cell forward indirection that binds to the real
# closure once the cycle closes. THREAD-LOCAL slots: codecs also compile
# on the driver, where multi-threaded job submission is common — a plain
# module slot could hand one thread's half-built memo to another.
_CODEC_TLS = threading.local()  # .enc / .dec: dict | None


def _compile_encoder(node: SchemaNode) -> Callable[[bytearray, Any], None]:
    top = getattr(_CODEC_TLS, "enc", None) is None
    if top:
        _CODEC_TLS.enc = {}
    memo = _CODEC_TLS.enc
    try:
        hit = memo.get(id(node))
        if hit is not None:
            return hit[1]
        cell: list = [None]

        def enc_forward(out: bytearray, v: Any) -> None:
            cell[0](out, v)

        memo[id(node)] = (node, enc_forward)  # node ref pins the id
        real = _compile_encoder_impl(node)
        cell[0] = real
        memo[id(node)] = (node, real)
        return real
    finally:
        if top:
            _CODEC_TLS.enc = None


def _compile_encoder_impl(node: SchemaNode) -> Callable[[bytearray, Any], None]:
    """Closure-tree encoder (the Spark-side analogue of the reference's
    generated flatten_msgpack codec, init.lua:271-381)."""
    if node.nullable:
        stripped = _strip_nullable(node)
        inner = _compile_encoder(stripped)
        nan_is_null = _pandas_null_is_nan(stripped)

        def enc_nullable(out: bytearray, v: Any) -> None:
            # nullable extension encodes as union [null, T]: branch index.
            # For NUMERIC branches a NaN cell is pandas' representation of
            # null (Arrow→pandas turns nullable int/long/float/double
            # columns into float64 with NaN) and encodes as null — the
            # documented ambiguity: a genuine NaN payload in a nullable
            # double column cannot round-trip. Non-numeric branches keep
            # NaN as-is so malformed input errors instead of silently
            # nulling.
            if v is None or (nan_is_null and _is_nan(v)):
                _write_long(out, 0)
            else:
                _write_long(out, 1)
                inner(out, v)

        return enc_nullable
    if isinstance(node, Primitive):
        t = node.type
        if t == "null":
            return lambda out, v: None
        if t == "boolean":
            return lambda out, v: out.append(1 if v else 0)
        if t in ("int", "long"):
            return lambda out, v: _write_long(out, int(v))
        if t == "float":
            return lambda out, v: out.extend(_struct.pack("<f", float(v)))
        if t == "double":
            return lambda out, v: out.extend(_struct.pack("<d", float(v)))
        if t == "string":
            def enc_str(out: bytearray, v: Any) -> None:
                raw = v.encode("utf-8") if isinstance(v, str) else bytes(v)
                _write_long(out, len(raw))
                out.extend(raw)
            return enc_str
        if t == "bytes":
            def enc_bytes(out: bytearray, v: Any) -> None:
                raw = bytes(v)
                _write_long(out, len(raw))
                out.extend(raw)
            return enc_bytes
        raise CompileError(f"cannot encode {t}")
    if isinstance(node, Enum):
        index = dict(node.symbol_index())
        def enc_enum(out: bytearray, v: Any) -> None:
            _write_long(out, index[v])
        return enc_enum
    if isinstance(node, Fixed):
        size = node.size
        def enc_fixed(out: bytearray, v: Any) -> None:
            raw = bytes(v)
            if len(raw) != size:
                raise AvroSparkError(f"bad fixed length {len(raw)}, expected {size}")
            out.extend(raw)
        return enc_fixed
    if isinstance(node, Array):
        item = _compile_encoder(node.items)
        def enc_array(out: bytearray, v: Any) -> None:
            items = list(v)
            if items:
                _write_long(out, len(items))
                for x in items:
                    item(out, x)
            _write_long(out, 0)
        return enc_array
    if isinstance(node, Map):
        val = _compile_encoder(node.values)
        def enc_map(out: bytearray, v: Any) -> None:
            entries = dict(v)
            if entries:
                _write_long(out, len(entries))
                for k, x in entries.items():
                    raw = k.encode("utf-8")
                    _write_long(out, len(raw))
                    out.extend(raw)
                    val(out, x)
            _write_long(out, 0)
        return enc_map
    if isinstance(node, Record):
        fields = [(f.name, _compile_encoder(f.type)) for f in node.fields]
        def enc_record(out: bytearray, v: Any) -> None:
            for name, enc in fields:
                enc(out, v[name])
        return enc_record
    if isinstance(node, UnionNode):
        simple = union_null_and_one(node)
        if simple is not None:
            t_idx = next(
                i for i, b in enumerate(node.branches)
                if not (isinstance(b, Primitive) and b.type == "null")
            )
            null_idx = 1 - t_idx
            inner = _compile_encoder(simple)
            branch_tag = node.branch_tag(t_idx)
            # Map and Record branches are ambiguous with the single-entry
            # tag form {<tag>: value}. Rule: the tag unwraps when its value
            # is itself a dict (validate's tag-form output for map/record
            # branches, frontend.lua:899-919); a non-dict value under the
            # tag key can only be a plain record whose lone field shares
            # the branch name. The remaining corner — a dict-typed single
            # field named like its own record — prefers the tag form
            # (reference-canonical).
            dictish_branch = isinstance(simple, (Map, Record))
            nan_is_null = _pandas_null_is_nan(simple)
            def enc_simple_union(out: bytearray, v: Any) -> None:
                # accepts both the plain nullable value (the Spark column
                # form for [null, T]) and the reference's record form
                # {<tag>: value} (frontend.lua:899-919 — what validate
                # produces). NaN-as-null only for numeric branches (see
                # enc_nullable).
                if v is None or (nan_is_null and _is_nan(v)):
                    _write_long(out, null_idx)
                    return
                if isinstance(v, dict) and len(v) == 1 and branch_tag in v:
                    inner_v = v[branch_tag]
                    if not dictish_branch or isinstance(inner_v, dict):
                        v = inner_v
                _write_long(out, t_idx)
                inner(out, v)
            return enc_simple_union
        encs = [
            (node.branch_tag(i), _compile_encoder(b), isinstance(b, Primitive) and b.type == "null")
            for i, b in enumerate(node.branches)
        ]
        tag_index = {tag: i for i, (tag, _e, _n) in enumerate(encs)}
        def enc_union(out: bytearray, v: Any) -> None:
            # two input shapes: the engine's tagged struct
            # {$type$: i, <tag>: value} (Spark column form) and the
            # reference's record form {<tag>: value} single-entry map
            # (frontend.lua:899-919 — what validate produces). A general
            # union cell is a struct, never a float — no NaN-as-null here.
            if v is None:
                for i, (_tag, _e, is_null) in enumerate(encs):
                    if is_null:
                        _write_long(out, i)
                        return
                raise AvroSparkError("null for union without a null branch")
            if UNION_TAG in v:
                i = int(v[UNION_TAG])
            else:
                entries = dict(v)
                if len(entries) != 1:
                    raise AvroSparkError(
                        f"bad union value: expected a single-entry tag form, "
                        f"got {sorted(entries)}"
                    )
                (tagname, _val), = entries.items()
                if tagname not in tag_index:
                    raise AvroSparkError(f"bad union tag: {tagname}")
                i = tag_index[tagname]
            tag, enc, is_null = encs[i]
            _write_long(out, i)
            if not is_null:
                enc(out, v[tag])
        return enc_union
    raise CompileError(f"cannot encode {node!r}")


def _is_nan(v: Any) -> bool:
    """NaN of either float flavor: np.float32 array elements are NOT a
    Python ``float`` subclass, so ``isinstance(v, float)`` alone misses
    the NaN that pandas uses as the null rendering inside float32
    arrays."""
    return isinstance(v, (float, np.floating)) and v != v


def _pandas_null_is_nan(node: SchemaNode) -> bool:
    """True for branch types whose pandas column form represents null as
    NaN (Arrow→pandas maps nullable numeric columns to float64+NaN)."""
    return isinstance(node, Primitive) and node.type in (
        "int", "long", "float", "double"
    )


def _strip_nullable(node: SchemaNode) -> SchemaNode:
    if isinstance(node, Primitive):
        return Primitive(node.type)
    # only named nodes carry a twin link; array/map just copy
    twin = getattr(node, "twin", None)
    if twin is not None and not twin.nullable:
        return twin
    import copy
    stripped = copy.copy(node)
    stripped.nullable = False
    return stripped


# ----------------------------------------------------- decoder compilation
def _compile_decoder(node: SchemaNode) -> Callable[[bytes, int], tuple[Any, int]]:
    top = getattr(_CODEC_TLS, "dec", None) is None
    if top:
        _CODEC_TLS.dec = {}
    memo = _CODEC_TLS.dec
    try:
        hit = memo.get(id(node))
        if hit is not None:
            return hit[1]
        cell: list = [None]

        def dec_forward(buf: bytes, pos: int):
            return cell[0](buf, pos)

        memo[id(node)] = (node, dec_forward)
        real = _compile_decoder_impl(node)
        cell[0] = real
        memo[id(node)] = (node, real)
        return real
    finally:
        if top:
            _CODEC_TLS.dec = None


def _compile_decoder_impl(node: SchemaNode) -> Callable[[bytes, int], tuple[Any, int]]:
    if node.nullable:
        inner = _compile_decoder(_strip_nullable(node))
        def dec_nullable(buf: bytes, pos: int):
            b, pos = _read_long(buf, pos)
            if b == 0:
                return None, pos
            return inner(buf, pos)
        return dec_nullable
    if isinstance(node, Primitive):
        t = node.type
        if t == "null":
            return lambda buf, pos: (None, pos)
        if t == "boolean":
            return lambda buf, pos: (buf[pos] != 0, pos + 1)
        if t in ("int", "long"):
            return _read_long
        if t == "float":
            return lambda buf, pos: (_struct.unpack_from("<f", buf, pos)[0], pos + 4)
        if t == "double":
            return lambda buf, pos: (_struct.unpack_from("<d", buf, pos)[0], pos + 8)
        if t == "string":
            def dec_str(buf: bytes, pos: int):
                n, pos = _read_long(buf, pos)
                return buf[pos : pos + n].decode("utf-8"), pos + n
            return dec_str
        if t == "bytes":
            def dec_bytes(buf: bytes, pos: int):
                n, pos = _read_long(buf, pos)
                return bytes(buf[pos : pos + n]), pos + n
            return dec_bytes
        raise CompileError(f"cannot decode {t}")
    if isinstance(node, Enum):
        symbols = list(node.symbols)
        def dec_enum(buf: bytes, pos: int):
            i, pos = _read_long(buf, pos)
            return symbols[i], pos
        return dec_enum
    if isinstance(node, Fixed):
        size = node.size
        return lambda buf, pos: (bytes(buf[pos : pos + size]), pos + size)
    if isinstance(node, Array):
        item = _compile_decoder(node.items)
        def dec_array(buf: bytes, pos: int):
            out = []
            while True:
                n, pos = _read_long(buf, pos)
                if n == 0:
                    return out, pos
                if n < 0:  # block with byte-size prefix
                    n = -n
                    _size, pos = _read_long(buf, pos)
                for _ in range(n):
                    v, pos = item(buf, pos)
                    out.append(v)
        return dec_array
    if isinstance(node, Map):
        val = _compile_decoder(node.values)
        def dec_map(buf: bytes, pos: int):
            out = {}
            while True:
                n, pos = _read_long(buf, pos)
                if n == 0:
                    return out, pos
                if n < 0:
                    n = -n
                    _size, pos = _read_long(buf, pos)
                for _ in range(n):
                    klen, pos = _read_long(buf, pos)
                    k = buf[pos : pos + klen].decode("utf-8")
                    pos += klen
                    v, pos = val(buf, pos)
                    out[k] = v
        return dec_map
    if isinstance(node, Record):
        fields = [(f.name, _compile_decoder(f.type)) for f in node.fields]
        def dec_record(buf: bytes, pos: int):
            out = {}
            for name, dec in fields:
                out[name], pos = dec(buf, pos)
            return out, pos
        return dec_record
    if isinstance(node, UnionNode):
        simple = union_null_and_one(node)
        decs = [(node.branch_tag(i), _compile_decoder(b),
                 isinstance(b, Primitive) and b.type == "null")
                for i, b in enumerate(node.branches)]
        tags = [t for t, _d, is_null in decs if not is_null]
        n_branches = len(decs)
        def dec_union(buf: bytes, pos: int):
            i, pos = _read_long(buf, pos)
            if not 0 <= i < n_branches:
                # a corrupt NEGATIVE tag would otherwise silently select
                # a branch from the END (Python negative indexing) and
                # decode the wrong type
                raise AvroSparkError(
                    f"union branch index {i} out of range [0, {n_branches})"
                )
            tag, dec, is_null = decs[i]
            if is_null:
                if simple is not None:
                    return None, pos
                # general (tagged-struct) union: the null branch is a VALUE
                # with its own tag, not an outer null — the flatten/evolution
                # plans key on $type$ (plans/flatten.py _union_parts), and an
                # outer null would silently read as "no value" instead of
                # "the null branch". Emit the canonical tagged form the
                # ingest/conform side produces (reference keeps the
                # [tag, value] pair: compiler.lua:697-750).
                out = {UNION_TAG: i}
                for t in tags:
                    out[t] = None
                return out, pos
            v, pos = dec(buf, pos)
            if simple is not None:
                return v, pos
            out = {UNION_TAG: i}
            for t in tags:
                out[t] = v if t == tag else None
            return out, pos
        return dec_union
    raise CompileError(f"cannot decode {node!r}")


def _compile_skipper(node: SchemaNode) -> Callable[[bytes, int], int]:
    """Closure-tree SKIPPER: advance past one encoded value without
    materializing it — the projection-pushdown half of the decoder.
    Skipping a string/bytes/fixed is pointer arithmetic; a size-prefixed
    array/map block (negative count per the Avro spec) skips in O(1).
    Same TLS memo pattern as the decoder so recursive schemas tie the
    knot instead of looping the compile."""
    top = getattr(_CODEC_TLS, "skip", None) is None
    if top:
        _CODEC_TLS.skip = {}
    memo = _CODEC_TLS.skip
    try:
        hit = memo.get(id(node))
        if hit is not None:
            return hit[1]
        cell: list = [None]

        def skip_forward(buf: bytes, pos: int) -> int:
            return cell[0](buf, pos)

        memo[id(node)] = (node, skip_forward)
        real = _compile_skipper_impl(node)
        cell[0] = real
        memo[id(node)] = (node, real)
        return real
    finally:
        if top:
            _CODEC_TLS.skip = None


def _skip_long(buf: bytes, pos: int) -> int:
    while buf[pos] & 0x80:
        pos += 1
    return pos + 1


def _compile_skipper_impl(node: SchemaNode) -> Callable[[bytes, int], int]:
    if node.nullable:
        inner = _compile_skipper(_strip_nullable(node))
        def skip_nullable(buf: bytes, pos: int) -> int:
            b, pos = _read_long(buf, pos)
            return pos if b == 0 else inner(buf, pos)
        return skip_nullable
    if isinstance(node, Primitive):
        t = node.type
        if t == "null":
            return lambda buf, pos: pos
        if t == "boolean":
            return lambda buf, pos: pos + 1
        if t in ("int", "long"):
            return _skip_long
        if t == "float":
            return lambda buf, pos: pos + 4
        if t == "double":
            return lambda buf, pos: pos + 8
        if t in ("string", "bytes"):
            def skip_len_prefixed(buf: bytes, pos: int) -> int:
                n, pos = _read_long(buf, pos)
                if n < 0:
                    # the decoders never move the cursor backwards on
                    # corrupt lengths — neither may the skip path
                    raise AvroSparkError(f"negative {t} length: {n}")
                return pos + n
            return skip_len_prefixed
        raise CompileError(f"cannot skip {t}")
    if isinstance(node, Enum):
        return _skip_long
    if isinstance(node, Fixed):
        size = node.size
        return lambda buf, pos: pos + size
    if isinstance(node, Array):
        item = _compile_skipper(node.items)
        def skip_array(buf: bytes, pos: int) -> int:
            while True:
                n, pos = _read_long(buf, pos)
                if n == 0:
                    return pos
                if n < 0:  # size-prefixed block: skip the whole block O(1)
                    size, pos = _read_long(buf, pos)
                    if size < 0:
                        # a negative size would move the cursor BACKWARDS
                        # — net-zero progress, an infinite loop on corrupt
                        # data where the decoder fails loudly
                        raise AvroSparkError(
                            f"negative array block size: {size}"
                        )
                    pos += size
                    continue
                for _ in range(n):
                    pos = item(buf, pos)
        return skip_array
    if isinstance(node, Map):
        val = _compile_skipper(node.values)
        def skip_map(buf: bytes, pos: int) -> int:
            while True:
                n, pos = _read_long(buf, pos)
                if n == 0:
                    return pos
                if n < 0:
                    size, pos = _read_long(buf, pos)
                    if size < 0:
                        raise AvroSparkError(
                            f"negative map block size: {size}"
                        )
                    pos += size
                    continue
                for _ in range(n):
                    klen, pos = _read_long(buf, pos)
                    if klen < 0:
                        raise AvroSparkError(f"negative key length: {klen}")
                    pos += klen
                    pos = val(buf, pos)
        return skip_map
    if isinstance(node, Record):
        fields = [_compile_skipper(f.type) for f in node.fields]
        def skip_record(buf: bytes, pos: int) -> int:
            for s in fields:
                pos = s(buf, pos)
            return pos
        return skip_record
    if isinstance(node, UnionNode):
        skips = [_compile_skipper(b) for b in node.branches]
        n_branches = len(skips)
        def skip_union(buf: bytes, pos: int) -> int:
            i, pos = _read_long(buf, pos)
            if not 0 <= i < n_branches:
                # same guard as dec_union: corrupt negative tags must not
                # silently skip a branch selected from the END
                raise AvroSparkError(
                    f"union branch index {i} out of range [0, {n_branches})"
                )
            return skips[i](buf, pos)
        return skip_union
    raise CompileError(f"cannot skip {node!r}")


def _projectable_record(node: SchemaNode) -> Optional[Record]:
    """The Record a dotted projection may descend into — the field type
    itself, a nullable record's inner, or the record branch of a simple
    ``[null, record]`` union (which collapses to a plain nullable struct
    column) — else None. General tagged-struct unions are NOT
    projectable: their $type$ machinery needs every branch cell."""
    if isinstance(node, UnionNode):
        inner = union_null_and_one(node)
        return inner if isinstance(inner, Record) else None
    rec = _strip_nullable(node) if node.nullable else node
    return rec if isinstance(rec, Record) else None


def _projection_tree(columns: "list[str]") -> dict:
    """columns → ``{name: True | nested dict}`` (True = keep the whole
    subtree; a shorter/prefix request wins over its extensions). The ONE
    canonical tree builder, shared by :func:`parse_projection` (which
    validates the tree against the Avro schema) and
    :func:`project_struct_type` (which prunes a Spark StructType) so the
    two canonicalizations can never drift."""
    tree: dict = {}
    for c in columns:
        parts = c.split(".")
        cur = tree
        for depth, seg in enumerate(parts):
            if depth == len(parts) - 1:
                cur[seg] = True
                break
            if cur.get(seg) is True:
                break  # a shorter request already keeps this subtree
            cur = cur.setdefault(seg, {})
    return tree


def parse_projection(
    root: Record, columns: "list[str]"
) -> "dict[str, Optional[dict]]":
    """Shared parser/validator for every ``columns=`` surface. Entries
    are dotted field paths of ANY depth (``"a"``, ``"a.b"``,
    ``"a.b.c"`` — the record-field analogue of parquet nested pruning):
    every non-final segment must name a record field (plain, nullable,
    or the record branch of a simple ``[null, record]`` union). Returns
    a RECURSIVE spec in SCHEMA order at every level:
    ``{field: None}`` = full field, ``{field: subspec}`` = keep the
    field as a struct holding just that sub-spec. Requesting both a
    path and one of its extensions (``"a"`` + ``"a.b"``) keeps the
    SHORTER (full) one. Unknown names raise, and so does an EMPTY
    projection — a zero-field Arrow batch always carries num_rows=0,
    so the Python engine would silently drop every row where the JVM
    engine kept them. Paths cannot descend arrays/maps/tagged unions
    (their element/branch machinery needs the whole cell)."""
    if not columns:
        raise AvroSparkError(
            "projection must name at least one field (columns=[] would "
            "produce zero-width rows)"
        )
    # validate EVERY column path independently — a path subsumed by a
    # shorter full-keep request still gets checked, so a typoed nested
    # name fails loudly regardless of request order (review r7: the
    # tree-walk validation silently skipped subsumed extensions)
    for c in columns:
        parts = c.split(".")
        rec = root
        for depth, seg in enumerate(parts):
            known = {f.name: f for f in rec.fields}
            if seg not in known:
                scope = (
                    f"{'.'.join(parts[:depth])!r} has" if depth
                    else "schema has"
                )
                raise AvroSparkError(
                    f"projection names unknown fields [{seg!r}]; "
                    f"{scope} {sorted(known)}"
                )
            if depth == len(parts) - 1:
                break
            inner = _projectable_record(known[seg].type)
            if inner is None:
                raise AvroSparkError(
                    f"projection {c!r}: field "
                    f"{'.'.join(parts[:depth + 1])!r} is not a record"
                )
            rec = inner
    tree = _projection_tree(columns)

    def _ordered(rec: Record, t: dict) -> dict:
        spec: dict = {}
        for f in rec.fields:
            if f.name not in t:
                continue
            v = t[f.name]
            spec[f.name] = (
                None if v is True
                else _ordered(_projectable_record(f.type), v)
            )
        return spec

    return _ordered(root, tree)


def validate_projection(root: Record, columns: "list[str]"):
    """Validate and return the projection spec (see
    :func:`parse_projection`); kept as the one shared entry point every
    ``columns=`` surface calls."""
    return parse_projection(root, columns)


def projection_csv(root: Record, spec: dict) -> str:
    """Spec → the canonical CSV the JVM decoders take: one dotted leaf
    path per kept subtree, depth-first in schema order at every level
    (Avro names are [A-Za-z0-9_]+ so commas/dots are unambiguous).
    Canonical by construction: no entry is a prefix of another."""
    parts: list = []

    def walk(prefix: str, rec: Record, sp: dict) -> None:
        for f in rec.fields:
            if f.name not in sp:
                continue
            path = prefix + f.name
            if sp[f.name] is None:
                parts.append(path)
            else:
                walk(path + ".", _projectable_record(f.type), sp[f.name])

    walk("", root, spec)
    return ",".join(parts)


def _projected_field_decoder(node: SchemaNode, sub: dict) -> Callable:
    """Decoder for ONE record (or nullable-record) field materializing
    only the ``sub`` spec's subfields (schema order, recursing into
    nested sub-specs) and byte-skipping siblings."""
    rec = _projectable_record(node)
    steps = [
        (None, _compile_skipper(f.type)) if f.name not in sub
        else (f.name, _compile_decoder(f.type)) if sub[f.name] is None
        else (f.name, _projected_field_decoder(f.type, sub[f.name]))
        for f in rec.fields
    ]

    def dec_rec(buf: bytes, pos: int):
        out: dict = {}
        for name, fn in steps:
            if name is None:
                pos = fn(buf, pos)
            else:
                out[name], pos = fn(buf, pos)
        return out, pos

    if isinstance(node, UnionNode):
        # simple [null, record] union → nullable struct column; honor
        # DECLARED branch order and bounds-check the tag like dec_union
        null_idx = next(
            i for i, b in enumerate(node.branches)
            if isinstance(b, Primitive) and b.type == "null"
        )
        n_branches = len(node.branches)

        def dec_simple_union(buf: bytes, pos: int):
            i, pos = _read_long(buf, pos)
            if not 0 <= i < n_branches:
                raise AvroSparkError(
                    f"union branch index {i} out of range [0, {n_branches})"
                )
            if i == null_idx:
                return None, pos
            return dec_rec(buf, pos)

        return dec_simple_union
    if not node.nullable:
        return dec_rec

    def dec_nullable(buf: bytes, pos: int):
        b, pos = _read_long(buf, pos)
        if b == 0:
            return None, pos
        return dec_rec(buf, pos)

    return dec_nullable


def projected_field_steps(
    root: Record, columns: "list[str]"
) -> "list[tuple[Optional[str], Callable]]":
    """(name, fn) per writer field IN SCHEMA ORDER: requested fields get
    their decoder (name = field name; dotted requests get a decoder that
    materializes only the named subfields), the rest get their skipper
    (name = None). Unknown names raise; the projection keeps schema
    order — reorder downstream with .select()."""
    spec = parse_projection(root, columns)
    steps = []
    for f in root.fields:
        if f.name not in spec:
            steps.append((None, _compile_skipper(f.type)))
        elif spec[f.name] is None:
            steps.append((f.name, _compile_decoder(f.type)))
        else:
            steps.append((f.name, _projected_field_decoder(f.type, spec[f.name])))
    return steps


def projected_record_decoder(
    root: Record, columns: "list[str]"
) -> Callable[[bytes, int], tuple[dict, int]]:
    """Record decoder that materializes ONLY ``columns`` (schema order)
    and byte-skips the rest — drop-in for _compile_decoder(root) on
    projection-pushdown read paths."""
    steps = projected_field_steps(root, columns)

    def dec(buf: bytes, pos: int):
        out: dict = {}
        for name, fn in steps:
            if name is None:
                pos = fn(buf, pos)
            else:
                out[name], pos = fn(buf, pos)
        return out, pos

    return dec


def project_struct_type(struct, columns: "list[str]"):
    """StructType restricted to a (possibly dotted, any-depth)
    projection, keeping schema order at every level — the output-schema
    twin of projected_field_steps, shared by every ``columns=``
    surface."""
    from pyspark.sql import types as T

    tree = _projection_tree(columns)

    def prune(st, t: dict):
        out = []
        for f in st.fields:
            if f.name not in t:
                continue
            if t[f.name] is True:
                out.append(f)
            else:
                out.append(T.StructField(
                    f.name, prune(f.dataType, t[f.name]),
                    f.nullable, f.metadata,
                ))
        return T.StructType(out)

    return prune(struct, tree)


# -------------------------------------------------------- value normalizing
def _normalize(v: Any, node: SchemaNode) -> Any:
    """pandas/Arrow cell → plain record-form Python value."""
    import numpy as np

    if v is None:
        return None
    if _is_nan(v):
        # NaN is pandas' null rendering for numeric columns — but it is
        # a LEGITIMATE value of a non-nullable float/double field, where
        # null isn't even possible; only nullable branches read it as
        # null (the documented ambiguity for nullable doubles)
        if (
            isinstance(node, Primitive)
            and node.type in ("float", "double")
            and not node.nullable
        ):
            return v
        return None
    if isinstance(node, Record):
        d = v if isinstance(v, dict) else v.asDict() if hasattr(v, "asDict") else dict(v)
        return {f.name: _normalize(d.get(f.name), f.type) for f in node.fields}
    if isinstance(node, Array):
        return [_normalize(x, node.items) for x in v]
    if isinstance(node, Map):
        entries = v.items() if isinstance(v, dict) else v  # arrow maps → [(k, v)]
        return {k: _normalize(x, node.values) for k, x in entries}
    if isinstance(node, UnionNode):
        simple = union_null_and_one(node)
        if simple is not None:
            return _normalize(v, simple)
        d = v if isinstance(v, dict) else dict(v)
        return {k: (int(x) if k == UNION_TAG else x) for k, x in d.items()}
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, (bytearray, memoryview)):
        return bytes(v)
    return v


# ------------------------------------------------------------- public API
def encode_record(schema: Schema, record: dict) -> bytes:
    """Single-record Avro binary encoding (unit-test / driver-side path)."""
    out = bytearray()
    _compile_encoder(schema.root)(out, record)
    return bytes(out)


def decode_record(schema: Schema, blob: bytes) -> Any:
    v, pos = _compile_decoder(schema.root)(bytes(blob), 0)
    if pos != len(blob):
        raise AvroSparkError(f"trailing bytes after Avro value: {len(blob) - pos}")
    return v


def to_avro_bytes(
    df: DataFrame, schema: Schema, column: str = "avro", engine: str = "auto"
) -> DataFrame:
    """Record-shaped DataFrame → single Avro-binary column (the ``to_avro``
    surface; ≙ reference flatten_msgpack output leg).

    ``engine``: ``"auto"`` routes through the compiled JVM codec
    (avro_spark.jvm) when the schema is in its scope and a JDK is
    available — no Python worker on the hot path; ``"python"`` forces the
    Arrow-batched pandas UDF; ``"jvm"`` forces the JVM codec (raises if
    unavailable)."""
    if engine != "python":
        from .. import jvm as J

        if engine == "jvm":
            return J.to_avro_bytes_jvm(df, schema, column)
        if J.jvm_codec_supported(schema) and J.jvm_codec_available(df.sparkSession):
            return J.to_avro_bytes_jvm(df, schema, column)
    from ..util import ensure_workers

    ensure_workers(df.sparkSession)
    root = schema.root
    if not isinstance(root, Record):
        raise CompileError("to_avro_bytes requires a record schema")
    # Arrow-native row extraction (mapInArrow + RecordBatch.to_pylist):
    # nullable int64 stays an EXACT Python int. The earlier pandas_udf
    # path went Arrow→pandas, which renders nullable int/long columns
    # (top-level and nested-struct children alike) as float64+NaN and
    # silently rounds |v| > 2^53 — e.g. 2^53+1 → 2^53. to_pylist gives
    # None for null, Python int/float/str/bytes for leaves, dicts for
    # structs and [(k, v), ...] for maps, all shapes the closure-tree
    # encoders already accept. NaN-as-null stays only where it is real
    # data (float/double NaN payloads mirror the JVM codec's rule).
    encs = [_compile_encoder(f.type) for f in root.fields]
    field_names = [f.name for f in root.fields]
    # the INPUT rows cross Arrow IPC into the Python worker — reject a
    # too-deep unrolled type here, at plan build, not mid-job in the worker
    check_arrow_nesting(
        df.select(*field_names).schema, "to_avro_bytes(engine='python')"
    )

    def _encode_batches(batches):
        import numpy as np
        import pyarrow as pa

        # columnar extraction + one shared grow-buffer per output batch:
        # per-row dict construction (to_pylist of the whole batch) and a
        # per-row bytearray->bytes copy both sat in the hot loop; writing
        # every record into ONE buffer and handing Arrow the (offsets,
        # data) pair directly removes all per-row allocation except the
        # encoders' own appends (measured ~4% encode-side; the decode
        # twin's columnar accumulation is worth ~10%)
        for b in batches:
            cols = [b.column(j).to_pylist() for j in range(b.num_columns)]
            if not cols:  # zero-field record: n empty values, not zip(*[])
                cols = [[None] * b.num_rows]
                row_encs = [lambda _buf, _v: None]
            else:
                row_encs = encs
            buf = bytearray()
            offsets = [0]
            for vals in zip(*cols):
                row_start = len(buf)
                for enc_f, v in zip(row_encs, vals):
                    enc_f(buf, v)
                offsets.append(len(buf))
                if len(buf) > 0x7FFFFFFF:
                    # the 1 GiB flush below runs only BETWEEN rows, so a
                    # single huge row can push the final offset past
                    # INT32_MAX — np.asarray(..., np.int32) would then
                    # silently wrap (numpy<2) into a corrupt Arrow binary
                    # array. Rebase: emit the COMPLETE previous rows as
                    # their own batch and restart offsets at this row;
                    # only a single row that itself exceeds the limit is
                    # unrepresentable in Arrow's 32-bit binary — fail
                    # loudly on that.
                    row_len = len(buf) - row_start
                    if row_len > 0x7FFFFFFF:
                        raise AvroSparkError(
                            f"encoded Avro row of {row_len} bytes exceeds "
                            "Arrow binary's 2 GiB offset limit"
                        )
                    if row_start > 0:
                        arr = pa.Array.from_buffers(
                            pa.binary(), len(offsets) - 2,
                            [None,
                             pa.py_buffer(
                                 np.asarray(offsets[:-1], np.int32).tobytes()),
                             pa.py_buffer(bytes(buf[:row_start]))],
                        )
                        yield pa.RecordBatch.from_arrays([arr], [column])
                        buf = bytearray(buf[row_start:])
                        offsets = [0, row_len]
                if len(buf) > (1 << 30):
                    # keep Arrow's int32 binary offsets safe for huge rows
                    arr = pa.Array.from_buffers(
                        pa.binary(), len(offsets) - 1,
                        [None,
                         pa.py_buffer(np.asarray(offsets, np.int32).tobytes()),
                         pa.py_buffer(bytes(buf))],
                    )
                    yield pa.RecordBatch.from_arrays([arr], [column])
                    buf = bytearray()
                    offsets = [0]
            if len(offsets) > 1:
                arr = pa.Array.from_buffers(
                    pa.binary(), len(offsets) - 1,
                    [None,
                     pa.py_buffer(np.asarray(offsets, np.int32).tobytes()),
                     pa.py_buffer(bytes(buf))],
                )
                yield pa.RecordBatch.from_arrays([arr], [column])

    from pyspark.sql.types import BinaryType, StructField, StructType

    # StructType, not a DDL string: any column name is legal (a
    # backtick-containing name would break the quoted-string form)
    return df.select(*field_names).mapInArrow(
        _encode_batches, schema=StructType([StructField(column, BinaryType())])
    )


def from_avro_bytes(
    df: DataFrame, column: str, schema: Schema, engine: str = "auto",
    columns: "Optional[list[str]]" = None,
) -> DataFrame:
    """Avro-binary column → record-shaped DataFrame (the ``from_avro``
    surface). ``engine`` as in :func:`to_avro_bytes`. ``columns`` pushes
    the projection into the decoder on either engine: unrequested
    top-level fields are byte-skipped, never materialized (schema
    order; reorder downstream with .select())."""
    if engine != "python":
        from .. import jvm as J

        if engine == "jvm":
            return J.from_avro_bytes_jvm(df, column, schema, columns=columns)
        if J.jvm_codec_supported(schema) and J.jvm_codec_available(df.sparkSession):
            return J.from_avro_bytes_jvm(df, column, schema, columns=columns)
    from ..util import ensure_workers

    ensure_workers(df.sparkSession)
    root = schema.root
    if not isinstance(root, Record):
        raise CompileError("from_avro_bytes requires a record schema")
    if columns is not None:
        steps = projected_field_steps(root, columns)
    else:
        steps = [(f.name, _compile_decoder(f.type)) for f in root.fields]
    # Arrow-native output (RecordBatch.from_arrays against the exact
    # Arrow schema) keeps decoded int64 EXACT — the earlier pandas_udf
    # returned pd.DataFrame({name: [int, None, ...]}) columns, which
    # pandas coerces to float64, silently rounding |v| > 2^53 whenever a
    # null and a big long share a batch (the decode half of the same bug
    # fixed in to_avro_bytes).
    struct = schema.to_struct_type()
    if columns is not None:
        struct = project_struct_type(struct, columns)
    spark_t = arrow_out_type(struct)
    # the decoded OUTPUT rows cross Arrow IPC out of the Python worker
    # (the check runs on the PROJECTED struct — dropping a too-deep
    # field makes the decode legal)
    check_arrow_nesting(spark_t, "from_avro_bytes(engine='python')")

    def _decode_batches(batches):
        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(spark_t)
        n_out = sum(1 for name, _fn in steps if name is not None)
        # columnar accumulation: per-row dicts + from_pylist's per-row
        # field lookups were measurable overhead in the hot loop; one
        # list per column + typed pa.array keeps values exact (ints stay
        # Python ints) with no per-row containers. Skipped fields
        # (name None) advance the cursor and emit nothing.
        for b in batches:
            cols: list[list] = [[] for _ in range(n_out)]
            flat_steps = []  # (append-or-None, fn) in schema order
            it = iter(cols)
            for name, fn in steps:
                flat_steps.append(
                    (None, fn) if name is None else (next(it).append, fn)
                )
            for blob in b.column(0).to_pylist():
                if blob is None:
                    raise AvroSparkError("from_avro_bytes: null input value")
                buf = bytes(blob)
                pos = 0
                for ap, fn in flat_steps:
                    if ap is None:
                        pos = fn(buf, pos)
                    else:
                        v, pos = fn(buf, pos)
                        ap(v)
                if pos != len(buf):
                    # same contract as the driver-side decode_record —
                    # trailing garbage is schema-mismatch corruption,
                    # not a row to silently accept
                    raise AvroSparkError(
                        f"trailing bytes after Avro value: {len(buf) - pos}"
                    )
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type)
                 for c, f in zip(cols, arrow_schema)],
                schema=arrow_schema,
            )

    return arrow_decoded(df.select(F.col(column)), _decode_batches, struct)


def _strip_metadata(dt, relax_nulls: bool = False):
    """Recursive copy of a Spark DataType without field metadata;
    ``relax_nulls`` additionally sets every nullability flag True (cast
    targets must not be stricter than the data — the JVM codec path's
    ``_relaxed`` is this helper with the flag on)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(
                    f.name,
                    _strip_metadata(f.dataType, relax_nulls),
                    True if relax_nulls else f.nullable,
                )
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(
            _strip_metadata(dt.elementType, relax_nulls),
            True if relax_nulls else dt.containsNull,
        )
    if isinstance(dt, T.MapType):
        return T.MapType(
            _strip_metadata(dt.keyType, relax_nulls),
            _strip_metadata(dt.valueType, relax_nulls),
            True if relax_nulls else dt.valueContainsNull,
        )
    return dt


def decoded_type(struct):
    """The schema a decode to ``struct`` reports on either engine: the
    top-level fields nullable, nested flags and all field metadata
    kept."""
    from pyspark.sql import types as T

    return T.StructType([T.StructField(f.name, f.dataType, True, f.metadata)
                         for f in struct.fields])


def arrow_out_type(struct):
    """The ``mapInArrow`` output type of a Python decode to ``struct``:
    :func:`decoded_type` without field metadata (Spark's Arrow schema
    check rejects batches that lack it, and Arrow carries none)."""
    return _strip_metadata(decoded_type(struct))


def arrow_decoded(df: DataFrame, decode, struct) -> DataFrame:
    """``df.mapInArrow(decode)`` with the JVM decode's schema: ``decode``
    yields batches of :func:`arrow_out_type` of ``struct``, and one
    select puts ``struct``'s field metadata back, so a read reports the
    same schema on either engine. The select's Columns are built once per
    ``struct`` (:func:`avro_spark.plans.compiled.built_columns`)."""
    from ..plans.compiled import built_columns

    def build():
        cols = []
        for f, bare in zip(struct.fields, _strip_metadata(struct).fields):
            col = F.col(f"`{f.name.replace('`', '``')}`")
            if f.dataType != bare.dataType:
                # nested metadata comes back through a cast, which moves
                # no data: the two types differ only in metadata
                col = col.cast(f.dataType)
            cols.append(col.alias(f.name, metadata=f.metadata))
        return cols

    cols = built_columns(("arrow_decoded", struct.json()), build)
    return df.mapInArrow(decode, schema=arrow_out_type(struct)).select(*cols)


def native_avro_available(spark) -> bool:
    """True when the JVM spark-avro codec is on the classpath."""
    try:
        spark._jvm.org.apache.spark.sql.avro.functions  # noqa: B018
        from pyspark.sql.avro.functions import from_avro  # noqa: F401
        return True
    except Exception:
        return False

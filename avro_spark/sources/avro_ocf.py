"""Avro Object Container File (OCF) source/sink — standard ``.avro`` files.

Implemented from the public Avro 1.11 spec (Object Container Files):
magic ``Obj\\x01``, file-metadata map (``avro.schema`` JSON +
``avro.codec``), 16-byte sync marker, then blocks of
``(count long, byte-size long, data, sync)``. Codecs: ``null`` and
``deflate`` (raw RFC-1951, via zlib with a -15 window).

Spark integration (no spark-avro jar in this container — this is a pure
Python path over public APIs):

* **read**: ``spark.read.format("binaryFile")`` reads whole files in
  parallel (one task per file). Planning takes its listing from the
  scan's own file index after the scan is built, on every storage, so
  Spark's own path errors come first and the listed files are exactly
  the scanned ones — no listing job, and no second listing of the
  prefix; only without the codec jar does a job list them. An
  Arrow-native ``mapInArrow`` stage decodes each file's blocks into
  rows (RecordBatch in/out — no pandas conversion, so nullable int64
  stays exact). Parallelism = number of
  files — right when files are written ~128-512 MB (the writers below
  do). For corpora of FEW HUGE files, ``read_avro_files_split`` plans
  each file into byte-range tasks and sync-scans inside them (the
  Hadoop-style splittable read) — block-level parallelism with no
  custom data source.
* **write**: one OCF file per partition, written from the executor
  (shared filesystem path — same contract as any Spark file sink);
  ``repartition(n)`` upstream controls file count/size.

The row codec (``_compile_encoder`` / ``_compile_decoder``) is shared
with :mod:`avro_spark.sources.avro_binary` — the OCF layer adds only the
container framing. Reference parity note: the reference engine has no
file container at all (MsgPack values over Tarantool tuples); OCF is the
Avro-ecosystem equivalent surface users expect from an Avro engine.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import zlib
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession

from .. import _fs
from ..errors import AvroSparkError
from ..schema import Schema, create
from ..schema.nodes import Record
from ..schema.spark_types import check_arrow_nesting
from .avro_binary import (
    _compile_decoder,
    _compile_encoder,
    _normalize,
    _read_long,
    _write_long,
    arrow_decoded,
    arrow_out_type,
    project_struct_type,
)

MAGIC = b"Obj\x01"
DEFAULT_BLOCK_RECORDS = 4096
#: whole-file reads carry each file as ONE byte-array cell; JVM arrays
#: cap at 2 GiB, so files past this auto-route to the split read
_WHOLE_FILE_MAX_BYTES = 1 << 30


# ----------------------------------------------------------- byte-level OCF
def _write_meta_map(out: bytearray, meta: dict[str, bytes]) -> None:
    if meta:
        _write_long(out, len(meta))
        for k, v in meta.items():
            kb = k.encode("utf-8")
            _write_long(out, len(kb))
            out += kb
            _write_long(out, len(v))
            out += v
    _write_long(out, 0)


def _read_meta_map(buf: bytes, pos: int) -> tuple[dict[str, bytes], int]:
    meta: dict[str, bytes] = {}
    while True:
        n, pos = _read_long(buf, pos)
        if n == 0:
            break
        if n < 0:  # block with byte-size prefix (spec allows)
            _, pos = _read_long(buf, pos)
            n = -n
        for _ in range(n):
            klen, pos = _read_long(buf, pos)
            k = buf[pos : pos + klen].decode("utf-8")
            pos += klen
            vlen, pos = _read_long(buf, pos)
            meta[k] = bytes(buf[pos : pos + vlen])
            pos += vlen
    return meta, pos


def deterministic_sync(schema: Schema) -> bytes:
    """md5-of-schema 16-byte sync — the reproducible-output opt-in for
    ``write_ocf_bytes(sync=...)``. NOT the default: a marker derivable
    from the schema can collide with payload bytes (see write_ocf_bytes),
    which weakens sync-scan split reads. Use only where byte-identical
    output matters more than split-safety (golden files, tests)."""
    return hashlib.md5(json.dumps(schema.export()).encode("utf-8")).digest()



# ----------------------------------------------------------- block codecs
def _codec_pair(codec: str, level: "Optional[int]" = None):
    """(compress, decompress) for an Avro-spec block codec (spec §
    "Required"/"Optional" codecs) — all six spec codecs are supported:
    null/deflate/bzip2/xz from the stdlib, snappy from scratch
    (snappy_codec.py), zstandard via pyarrow's bundled libzstd.
    Unknown names raise. ``level`` tunes the compressor (deflate 1-9,
    bzip2 1-9, xz preset 0-9, zstandard per libzstd); null and snappy
    have no levels and reject one loudly rather than ignoring it."""
    if level is not None and codec in ("null", "snappy"):
        raise AvroSparkError(f"codec {codec!r} takes no compression level")
    if codec == "null":
        return (lambda d: d), (lambda d: d)
    if codec == "deflate":
        lv = 6 if level is None else level
        if not 1 <= lv <= 9:
            raise AvroSparkError(f"deflate level must be 1-9, got {lv}")
        # raw RFC-1951: strip the zlib header + adler checksum
        return (
            lambda d: zlib.compress(d, lv)[2:-4],
            lambda d: zlib.decompress(d, -15),
        )
    if codec == "bzip2":
        import bz2

        lv = 9 if level is None else level
        if not 1 <= lv <= 9:
            raise AvroSparkError(f"bzip2 level must be 1-9, got {lv}")
        return (lambda d: bz2.compress(d, lv)), bz2.decompress
    if codec == "xz":
        import lzma

        lv = 6 if level is None else level
        if not 0 <= lv <= 9:
            raise AvroSparkError(f"xz preset must be 0-9, got {lv}")
        return (
            lambda d: lzma.compress(d, format=lzma.FORMAT_XZ, preset=lv),
            lzma.decompress,
        )
    if codec == "snappy":
        # from-scratch snappy (public format) — no external dependency
        from .snappy_codec import compress as _snc, decompress as _snd

        def _sc(d: bytes) -> bytes:
            # spec: snappy-compressed block + 4-byte big-endian CRC32
            # of the UNCOMPRESSED data
            return _snc(d) + (zlib.crc32(d) & 0xFFFFFFFF).to_bytes(4, "big")

        def _sd(d: bytes) -> bytes:
            if len(d) < 4:
                raise AvroSparkError("snappy block shorter than its CRC")
            out = _snd(bytes(d[:-4]))
            if (zlib.crc32(out) & 0xFFFFFFFF).to_bytes(4, "big") != bytes(d[-4:]):
                raise AvroSparkError("snappy block CRC mismatch")
            return out

        return _sc, _sd
    if codec == "zstandard":
        # Avro spec: the block is one zstd frame, no extra checksum
        # wrapper. pyarrow bundles libzstd; its streaming reader also
        # handles frames written WITHOUT Frame_Content_Size (other
        # writers' streaming mode), which one-shot decompress cannot.
        import pyarrow as pa

        if not pa.Codec.is_available("zstd"):  # pragma: no cover
            raise AvroSparkError(
                "Avro 'zstandard' codec requires pyarrow built with zstd"
            )

        if level is not None and not (
            pa.Codec.minimum_compression_level("zstd")
            <= level <= pa.Codec.maximum_compression_level("zstd")
        ):
            raise AvroSparkError(f"bad zstandard level: {level}")

        def _zc(d: bytes) -> bytes:
            c = (pa.Codec("zstd") if level is None
                 else pa.Codec("zstd", compression_level=level))
            return bytes(c.compress(d))

        def _zd(d: bytes) -> bytes:
            try:
                with pa.CompressedInputStream(
                    pa.BufferReader(d), "zstd"
                ) as st:
                    return st.read()
            except (OSError, pa.ArrowInvalid) as ex:
                raise AvroSparkError(f"bad zstandard block: {ex}") from ex

        return _zc, _zd
    raise AvroSparkError(f"unsupported Avro codec: {codec}")


def write_ocf_bytes(
    schema: Schema,
    records: list[dict],
    codec: str = "null",
    sync: Optional[bytes] = None,
    block_records: int = DEFAULT_BLOCK_RECORDS,
    codec_level: Optional[int] = None,
) -> bytes:
    """Encode records into one in-memory OCF file."""
    compress, _ = _codec_pair(codec, codec_level)
    enc = _compile_encoder(schema.root)
    schema_json = json.dumps(schema.export()).encode("utf-8")
    if sync is None:
        # RANDOM per-file sync (Avro spec): sync-scan split reads rely on
        # the marker being improbable inside payload bytes. A
        # deterministic marker (the old md5-of-schema default) can
        # legitimately appear inside a bytes/string payload that embeds a
        # same-schema OCF file, making split-point detection ambiguous.
        # Pass sync=deterministic_sync(schema) to opt into reproducible
        # bytes (unit-test golden files).
        sync = os.urandom(16)
    out = bytearray()
    out += MAGIC
    _write_meta_map(
        out, {"avro.schema": schema_json, "avro.codec": codec.encode("ascii")}
    )
    out += sync
    for i in range(0, len(records), block_records):
        chunk = records[i : i + block_records]
        body = bytearray()
        for rec in chunk:
            enc(body, rec)
        data = compress(bytes(body))
        _write_long(out, len(chunk))
        _write_long(out, len(data))
        out += data
        out += sync
    return bytes(out)


def read_ocf_bytes(
    blob: bytes, schema: Optional[Schema] = None,
    columns: "Optional[list[str]]" = None,
) -> tuple[Schema, list[Any]]:
    """Decode one OCF file; returns (writer schema, records). Pass
    ``schema`` to skip re-parsing the embedded writer schema (it must be
    the same writer schema; cross-version resolution happens at the
    DataFrame layer via ``avro_spark.compile``). ``columns`` pushes a
    projection into the decoder: unrequested top-level fields are
    byte-skipped, never materialized."""
    if blob[:4] != MAGIC:
        raise AvroSparkError("not an Avro object container file (bad magic)")
    meta, pos = _read_meta_map(blob, 4)
    codec = meta.get("avro.codec", b"null").decode("ascii")
    _, decompress = _codec_pair(codec)
    if schema is None:
        schema = create(json.loads(meta["avro.schema"].decode("utf-8")))
    if columns is not None:
        from .avro_binary import projected_record_decoder

        dec = projected_record_decoder(schema.root, columns)
    else:
        dec = _compile_decoder(schema.root)
    sync = blob[pos : pos + 16]
    pos += 16
    records: list[Any] = []
    n = len(blob)
    while pos < n:
        try:
            count, pos = _read_long(blob, pos)
            size, pos = _read_long(blob, pos)
        except IndexError as ex:
            raise AvroSparkError("corrupt OCF: truncated block header") from ex
        if count < 0 or size < 0 or pos + size > n:
            raise AvroSparkError(
                f"corrupt OCF: block claims {count} records / {size} bytes "
                f"with {n - pos} bytes left"
            )
        data = decompress(bytes(blob[pos : pos + size]))
        pos += size
        p = 0
        for _ in range(count):
            rec, p = dec(data, p)
            records.append(rec)
        if p != len(data):
            raise AvroSparkError(f"trailing bytes in OCF block: {len(data) - p}")
        if blob[pos : pos + 16] != sync:
            raise AvroSparkError("OCF sync marker mismatch")
        pos += 16
    return schema, records


# ---------------------------------------------------------- DataFrame level
def _check_writer_schema(
    expected_cf: str, schema_json: bytes, fpath: str, ok_memo: set
) -> None:
    """Raise when a file's embedded writer schema is not canonically
    equal (Parsing Canonical Form — whitespace/doc/attribute-order
    insensitive) to the schema the read was planned with. Before this
    check, a mixed-schema directory DECODED AS GARBAGE: the row codec
    walks the reader layout over bytes written in another layout, which
    mangles values silently when the shapes happen to align.
    ``ok_memo`` short-circuits repeat schema strings (a directory
    normally carries 1-2 distinct renderings)."""
    key = bytes(schema_json)
    if key in ok_memo:
        return
    from ..schema.fingerprint import canonical_form

    embedded = create(json.loads(key.decode("utf-8")))
    if canonical_form(embedded.root) != expected_cf:
        raise AvroSparkError(
            f"OCF writer-schema mismatch at {fpath}: the file was written "
            "with a different schema than this read was planned with. "
            "Read mixed-schema groups separately and resolve versions "
            "with avro_spark.compile(writer, reader)."
        )
    ok_memo.add(key)


def _verify_listing_schemas(
    spark: SparkSession, paths: "list[str]", schema: Schema
) -> bool:
    """Per-file writer-schema check for the whole-file read path.
    Fully-local listings keep the serial driver loop at any count (one
    ~KB header read per file — cheaper than a job); listings touching
    non-local storage verify as ONE distributed Spark job
    (:func:`_scan_headers_distributed`), so planning time stays flat in
    file count and ``engine="auto"`` keeps its JVM speed off local FS
    instead of silently dropping to the ~10× slower Python engine
    (VERDICT r6 #2). Returns True only when EVERY file verified; a
    driver-side OSError on a local path retries through the distributed
    scan rather than giving up on the listing."""
    from ..schema.fingerprint import canonical_form

    expected_cf = canonical_form(schema.root)
    ok: set = set()
    try:
        metas = _scan_listing_headers(spark, paths)
    except AvroSparkError:
        raise  # a real header/corruption error is loud, not a fallback
    except Exception:
        # storage Spark's Hadoop IO can list but pyarrow.fs cannot open:
        # unverified — the caller routes to the Python engine, which
        # re-checks every file canonically in the executor (and re-raises
        # any real corruption loudly there)
        return False
    for meta in metas:
        _check_writer_schema(
            expected_cf, meta["schema_json"], meta["path"], ok
        )
    return True


def _jvm_ocf_ok(spark: SparkSession, schema: Schema, codec: Optional[str]) -> bool:
    """True when the JVM block path can take this read/write: supported
    schema shape, a block codec the JVM can decompress, and a JDK that
    built + attached the jar."""
    try:
        from ..jvm import JVM_OCF_CODECS, jvm_codec_available, jvm_codec_supported
    except Exception:  # pragma: no cover - defensive import guard
        return False
    if codec is not None and codec not in JVM_OCF_CODECS:
        return False
    return jvm_codec_supported(schema) and jvm_codec_available(spark)


def read_avro_files(
    spark: SparkSession,
    path: str,
    schema: Optional[Schema] = None,
    split_bytes: "Optional[int | str]" = None,
    engine: str = "auto",
    verify_schemas: bool = True,
    columns: "Optional[list[str]]" = None,
    route_out: "Optional[dict]" = None,
) -> DataFrame:
    """Directory/glob of ``.avro`` OCF files → record-shaped DataFrame.

    Default: one task per file, read by the ``binaryFile`` source and
    listed from that scan's own file index on every storage (no Spark
    job; a job only without the codec jar). ``engine="auto"`` runs the
    container framing AND the per-record decode loop JVM-side in one
    Catalyst generator (jvm.read_ocf_content_jvm — ~10× the Python row
    codec on this, the engine's primary file-ingest path), falling back
    to the Arrow-batched pure-Python decode when there is no JDK, the
    schema uses ``any``, or the (first file's) block codec is outside
    the JVM's six (``jvm.JVM_OCF_CODECS``: every Avro-spec codec,
    bzip2 and xz included). ``engine="python"``/``"jvm"``
    force a side; a forced ``"jvm"`` raises when unavailable.
    Mixed-codec directories route on the FIRST file's codec — a later
    file outside the JVM's codecs fails loudly (re-read with
    ``engine="python"``).

    Pass ``split_bytes`` to read each file as MULTIPLE byte-range tasks
    instead (:func:`read_avro_files_split`) — the Hadoop-style
    sync-marker split, for corpora of few huge files where per-file
    tasks would underuse the cluster. Files over ~1 GiB auto-route
    there (``split_bytes="auto"``) even without the flag: the
    whole-file path carries each file as ONE byte-array cell, and the
    JVM caps arrays at 2 GiB — a 100 TB corpus of multi-GB files must
    never hit that wall by default. When ``schema`` is None the writer
    schema is peeked from the header of the first file in name order.

    ``columns`` pushes the projection INTO the decoder on every engine:
    unrequested top-level fields are byte-skipped, never materialized or
    shipped — the Avro (row-format) analogue of parquet column pruning.
    Output keeps schema order; reorder downstream with ``.select()``.

    ``route_out``: pass a dict and the reader records the routing it
    ACTUALLY took into it — ``{"engine": "jvm"|"python", "split":
    bool}``. ``engine="auto"``'s fallback is silent by design (the read
    still succeeds); benchmarks and monitoring need the taken route to
    be attributable, not inferred from throughput (BENCH r9: a session
    artifact was indistinguishable from a silent Python fallback).
    """
    return _read_avro_files(spark, path, None, schema, split_bytes, engine,
                            verify_schemas, columns, route_out)


def _list_files(spark: SparkSession, path: "str | list[str]"):
    """``(binaryFile scan of path, [(uri, bytes)] it reads)``, sorted by
    URI. The scan is built FIRST — Spark lists then and raises its own
    path errors — and the listing is that scan's own file index on every
    storage (:func:`avro_spark.jvm.scan_files`): the files, sizes and
    ``path`` strings the scan reads, with no job and no second listing
    of the prefix. Only without the codec jar does it list through a
    job over the scan."""
    from ..jvm import scan_files

    files = spark.read.format("binaryFile").load(path)
    listing = scan_files(spark, files)
    if listing is None:
        listing = sorted((r["path"], r["length"]) for r in
                         files.select("path", "length").collect())
    if not listing:
        raise AvroSparkError(f"no files at {path}")
    return files, listing


def _peek_header(files: DataFrame, listing) -> "tuple[bytes, str]":
    """(writer-schema JSON, codec) of the listing's first file: a few KB
    straight from the driver — any storage pyarrow.fs reaches
    (_fs.open_input); only a file the driver cannot open is pulled
    through a one-file Spark scan of exactly that file."""
    first = listing[0][0]
    try:
        _hl, _sync, sj, codec = _scan_header(first)
        return sj, codec
    except (OSError, ValueError):  # ValueError: pyarrow unknown scheme
        # Spark's own no-glob key (its file-stream source sets it too):
        # the listed name is literal, even one holding ``*`` or ``[``
        blob = bytes(files.sparkSession.read.format("binaryFile")
                     .option("__globPaths__", "false").load(first)
                     .select("content").head()["content"])
    if blob[:4] != MAGIC:
        raise AvroSparkError("not an Avro object container file (bad magic)")
    meta, _pos = _read_meta_map(blob, 4)
    return meta["avro.schema"], meta.get("avro.codec", b"null").decode("ascii")


def _read_avro_files(
    spark: SparkSession, path, listed, schema: Optional[Schema],
    split_bytes, engine: str, verify_schemas: bool, columns, route_out,
    codec: Optional[str] = None,
) -> DataFrame:
    """:func:`read_avro_files` given, optionally, the ``(files,
    listing)`` pair of :func:`_list_files` and the first file's codec
    (then ``schema`` is its writer schema) — so a caller that already
    listed and peeked does neither twice."""
    from ..util import ensure_workers

    if split_bytes is not None:
        return _read_avro_files_split(
            spark, path, listed, schema, split_bytes, engine, columns,
            route_out)
    if engine not in ("auto", "python", "jvm"):
        raise AvroSparkError(f"bad engine: {engine}")
    ensure_workers(spark)
    files, listing = listed or _list_files(spark, path)
    if max(size for _u, size in listing) > _WHOLE_FILE_MAX_BYTES:
        # whole-file reads ship one byte-array cell per file; the JVM
        # caps arrays at 2 GiB — route oversized files to byte-range
        # split tasks instead of failing mid-scan
        return _read_avro_files_split(
            spark, path, (files, listing), schema, "auto", engine, columns,
            route_out)
    if codec is None:
        sj, codec = _peek_header(files, listing)
        if schema is None:
            schema = create(json.loads(sj.decode("utf-8")))
    root = schema.root
    if not isinstance(root, Record):
        raise AvroSparkError("read_avro_files requires a record schema")
    fully_verified = False
    if verify_schemas:
        # a mixed-schema directory otherwise decodes as garbage; one ~KB
        # header read per local file — pass verify_schemas=False only
        # for very large listings whose schema uniformity is known
        fully_verified = _verify_listing_schemas(
            spark, [u for u, _size in listing], schema)
    if route_out is not None:
        route_out["split"] = False
    if engine != "python" and _jvm_ocf_ok(spark, schema, codec):
        from ..jvm import read_ocf_content_jvm

        if fully_verified or not verify_schemas:
            if route_out is not None:
                route_out["engine"] = "jvm"
            return read_ocf_content_jvm(files, schema, columns=columns)
        if engine == "jvm":
            # forced JVM with files the driver-side peek could not reach
            # (non-local storage): the generator byte-compares each file's
            # embedded writer schema, same as the streaming source. This
            # can false-fail canonically-equal FOREIGN renderings (the
            # error says so and points at engine='python'); the loud
            # failure beats decoding a mixed directory as garbage.
            if route_out is not None:
                route_out["engine"] = "jvm"
            return read_ocf_content_jvm(
                files, schema,
                expect_schema_json=json.dumps(schema.export()),
                columns=columns,
            )
        # engine='auto' with unverified files: prefer correctness — the
        # Python engine re-checks every file's writer schema CANONICALLY
        # in the executor (rendering-insensitive), where the JVM byte-
        # compare would reject equal-but-differently-rendered schemas.
        # Callers who know the listing is uniform keep JVM speed with
        # verify_schemas=False.
    if engine == "jvm":
        raise AvroSparkError(
            "engine='jvm' unavailable (no JDK, unsupported schema shape, "
            f"or block codec {codec!r} outside the JVM's set)"
        )
    if route_out is not None:
        route_out["engine"] = "python"
    return _decode_content_python(files, schema, columns=columns)


def _decode_content_python(
    files: DataFrame, schema: Schema,
    columns: "Optional[list[str]]" = None,
) -> DataFrame:
    """``(path, content)`` (whole OCF file bytes) rows → records via the
    Arrow-batched pure-Python codec — the no-JDK path shared by the
    batch reader and the streaming source. Each file's embedded writer
    schema is canonically checked in the executor (so non-local storage,
    which the driver-side header peek skips, is still covered).
    ``columns`` pushes the projection into the decoder (unrequested
    fields byte-skip)."""
    struct = schema.to_struct_type()
    if columns is not None:
        from .avro_binary import validate_projection

        validate_projection(schema.root, columns)
        struct = project_struct_type(struct, columns)
    # decoded records cross Arrow IPC out of the Python worker — fail at
    # plan build, not mid-job (Arrow's 64-level recursion limit). The
    # check runs on the PROJECTED struct: a projection that drops the
    # too-deep field makes the read legal.
    check_arrow_nesting(struct, "read_avro_files(engine='python')")
    schema_export = json.dumps(schema.export())
    out_t = arrow_out_type(struct)

    def decode(batches):
        # Arrow-native output: a pandas [int, None, ...] column coerces
        # to float64 and silently rounds longs with |v| > 2^53 —
        # RecordBatch.from_pylist keeps decoded ints exact
        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_schema

        from ..schema.fingerprint import canonical_form

        sch = create(json.loads(schema_export))
        expected_cf = canonical_form(sch.root)
        ok: set = set()
        arrow_schema = to_arrow_schema(out_t)
        for b in batches:
            for row in b.to_pylist():
                blob = bytes(row["content"])
                if blob[:4] != MAGIC:
                    raise AvroSparkError(
                        f"not an Avro object container file: {row['path']}"
                    )
                meta, _pos = _read_meta_map(blob, 4)
                _check_writer_schema(
                    expected_cf, meta["avro.schema"], row["path"], ok
                )
                _, recs = read_ocf_bytes(blob, sch, columns=columns)
                # decoded records are already {field: value} dicts keyed
                # by exactly the root field names — no copy needed
                yield pa.RecordBatch.from_pylist(recs, schema=arrow_schema)

    return arrow_decoded(files.select("path", "content"), decode, struct)


def _prune_root_fields(schema: Schema, names: "list[str]") -> Schema:
    """Schema restricted to the given ROOT fields (schema order kept).
    Raises when the pruned rendering no longer parses — e.g. a named
    type DEFINED inside a dropped field and referenced by a kept one
    (export() inlines definitions at first use); callers fall back to
    the unpruned read then."""
    exported = schema.export()
    keep = set(names)
    pruned = dict(exported)
    pruned["fields"] = [f for f in exported["fields"] if f["name"] in keep]
    return create(pruned)


def _group_paths_by_writer(
    spark: SparkSession, path: "str | list[str]"
) -> "list[tuple[str, list[str]]]":
    """Group a directory's OCF files by their writer schema's Parsing
    Canonical Form fingerprint: ``[(schema_json, [paths…]), …]`` sorted
    by fingerprint (deterministic plan). Header scanning follows the
    same policy as :func:`_verify_listing_schemas` — serial driver loop
    for small local listings, ONE distributed Spark job otherwise — so
    grouping stays flat in file count at 100 TB listings. Renderings
    that differ only in whitespace/doc/field-attribute order land in
    the SAME group (canonical fingerprint, not raw JSON equality)."""
    from ..schema.fingerprint import canonical_form

    _files, listing = _list_files(spark, path)
    metas = _scan_listing_headers(spark, [u for u, _size in listing])
    fp_of_rendering: dict = {}  # raw JSON bytes → (fingerprint, json str)
    groups: dict = {}
    for m in metas:
        key = bytes(m["schema_json"])
        if key not in fp_of_rendering:
            root = create(json.loads(key.decode("utf-8"))).root
            cf = canonical_form(root)
            fp_of_rendering[key] = (
                hashlib.md5(cf.encode("utf-8")).hexdigest(),
                key.decode("utf-8"),
            )
        fp, sj = fp_of_rendering[key]
        groups.setdefault(fp, (sj, []))[1].append(m["path"])
    return [groups[fp] for fp in sorted(groups)]


def read_avro_files_evolved(
    spark: SparkSession,
    path: "str | list[str]",
    reader_schema: Schema,
    split_bytes: "Optional[int | str]" = None,
    engine: str = "auto",
    columns: "Optional[list[str]]" = None,
    mixed_writers: bool = False,
    verify_schemas: bool = True,
) -> DataFrame:
    """Classic Avro schema evolution at the file boundary: decode the
    files with their WRITER schema (peeked from the first header), then
    resolve writer→reader — aliases, reordering, promotions, reader
    defaults — via ``compile(writer, reader)`` (frontend.lua:1001-1041
    resolution rules). The resolution is one narrow projection on top of
    the engine-routed decode, so the whole read stays one scan-speed
    stage. Mixed-writer directories fail loudly (the per-file
    schema check): read each writer-version group separately.

    ``columns`` (READER field names; output keeps reader order)
    composes projection with evolution: the decode projects to exactly
    the WRITER fields the requested reader fields resolve from (alias
    matching included) — unrequested fields byte-skip in the decoder,
    and the resolution runs on the pruned pair of sub-schemas. Schemas
    whose pruned rendering no longer parses (a named type defined only
    inside a dropped field) fall back to the full decode + select —
    same rows, no IO pruning.

    ``mixed_writers=True`` reads a directory that accumulated files
    across SEVERAL writer versions (the shape a long-lived incremental
    pipeline produces): files are grouped by writer-schema fingerprint
    (one distributed header scan on big/non-local listings), each group
    resolves writer→reader independently, and the groups union by name
    — every version that is individually compatible with the reader
    reads in one call instead of the default loud mismatch error. Each
    group keeps its own engine routing (a JVM-capable group stays on
    the JVM even when another group's codec forces Python)."""
    from .. import compile as _compile
    from ..plans.compiled import convert_records

    if mixed_writers:
        groups = _group_paths_by_writer(spark, path)
        outs = [
            read_avro_files_evolved(
                spark, gpaths, reader_schema, split_bytes=split_bytes,
                engine=engine, columns=columns,
                # grouping just proved canonical uniformity per group —
                # a per-group re-verify job would re-scan every header
                verify_schemas=False,
            )
            for _sj, gpaths in groups
        ]
        from functools import reduce

        return reduce(DataFrame.unionByName, outs)

    # ONE listing and ONE header peek, handed to the read below
    listed = _list_files(spark, path)
    sj, codec = _peek_header(*listed)
    writer = create(json.loads(sj.decode("utf-8")))
    if columns is not None:
        from ..plans.resolution import _field_matches
        from .avro_binary import validate_projection

        if any("." in c for c in columns):
            raise AvroSparkError(
                "read_avro_files_evolved projects top-level READER "
                "fields only (dotted paths resolve ambiguously across "
                "writer→reader field mapping)"
            )
        validate_projection(reader_schema.root, columns)
        keep = set(columns)
        wanted_reader = [rf for rf in reader_schema.root.fields
                         if rf.name in keep]
        writer_cols = [
            wf.name for wf in writer.root.fields
            if any(_field_matches(wf, rf, False) for rf in wanted_reader)
        ]
        if not writer_cols:
            # every requested reader field is a defaulted ADD: decode
            # ONE writer field purely for row multiplicity (empty
            # projections are illegal by design) — pick the narrowest
            # one, not position 0, which could be a large string/record
            def _width(f):
                from ..schema.nodes import Enum as _E, Primitive as _P

                t = f.type
                if isinstance(t, _P) and not t.nullable:
                    return {"null": 0, "boolean": 1, "int": 2, "enum": 2,
                            "long": 3, "float": 4, "double": 5}.get(t.type, 90)
                if isinstance(t, _E) and not t.nullable:
                    return 2
                return 99  # strings/bytes/records/arrays/unions: last
            writer_cols = [min(writer.root.fields, key=_width).name]
        try:
            writer_sub = _prune_root_fields(writer, writer_cols)
            reader_sub = _prune_root_fields(
                reader_schema, [rf.name for rf in wanted_reader])
            _compile(writer_sub, reader_sub)  # raises on incompatible pairs
        except Exception:
            full = read_avro_files_evolved(
                spark, path, reader_schema,
                split_bytes=split_bytes, engine=engine,
                verify_schemas=verify_schemas,
            )
            return full.select(*[rf.name for rf in wanted_reader])
        df = _read_avro_files(
            spark, path, listed, writer, split_bytes, engine,
            verify_schemas, writer_cols, None, codec)
        return convert_records(df, writer_sub, reader_sub)
    df = _read_avro_files(spark, path, listed, writer, split_bytes, engine,
                          verify_schemas, None, None, codec)
    _compile(writer, reader_schema)  # raises on incompatible pairs
    # writer records → reader records: one narrow projection Catalyst
    # fuses into the decode stage
    return convert_records(df, writer, reader_schema)


#: the binaryFile source's FIXED schema (streaming reads must state it)
_BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def read_avro_stream(
    spark: SparkSession,
    path: str,
    schema: Schema,
    engine: str = "auto",
    max_files_per_trigger: Optional[int] = None,
    columns: "Optional[list[str]]" = None,
) -> DataFrame:
    """STREAMING OCF source: ``readStream`` over a directory of ``.avro``
    files (binaryFile file-stream — new files picked up per trigger),
    decoded through the same engine-routed chain as
    :func:`read_avro_files` — the JVM OCF read generator under
    ``engine="auto"`` (a stateless narrow op, streaming-legal), the
    Arrow-batched Python codec otherwise. ``schema`` is REQUIRED:
    streaming sources cannot peek a first file. Compose with
    watermarks/windows downstream; bound test runs with
    ``run_to_memory`` (Trigger.AvailableNow)."""
    if engine not in ("auto", "python", "jvm"):
        raise AvroSparkError(f"bad engine: {engine}")
    root = schema.root
    if not isinstance(root, Record):
        raise AvroSparkError("read_avro_stream requires a record schema")
    reader = spark.readStream.format("binaryFile").schema(_BINARY_FILE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    files = reader.load(path)
    if engine != "python" and _jvm_ocf_ok(spark, schema, None):
        from ..jvm import read_ocf_content_jvm

        # per-file writer-schema guard: streams have no plan-time header
        # peek, so the generator byte-compares each file's embedded schema
        return read_ocf_content_jvm(
            files, schema,
            expect_schema_json=json.dumps(schema.export()),
            columns=columns,
        )
    if engine == "jvm":
        raise AvroSparkError(
            "engine='jvm' unavailable (no JDK or unsupported schema shape)"
        )
    return _decode_content_python(files, schema, columns=columns)


def _scan_listing_headers(spark: SparkSession, paths: "list[str]"):
    """Per-file OCF header metas for a listing — THE shared scan policy:
    FULLY-LOCAL listings use a serial driver loop at ANY count (a ~KB
    header read per file: measured 13 ms at 1024 files, vs the ~0.9 s
    fixed cost of launching even one Spark job — SCALE.md §6c); any
    non-local path in the listing scans as ONE distributed Spark job
    (flat planning time in file count, and planning WORKS off object
    stores). The corner where a file: path is reachable from executors
    but NOT the driver is covered by the OSError fallback, which retries
    through the distributed scan rather than giving up. Used by schema
    verification, split planning, and writer-version grouping."""
    if all(_fs.local_path(p) is not None for p in paths):
        try:
            metas = []
            for p in paths:
                header_len, sync, sj, codec = _scan_header(p)
                metas.append({
                    "path": p, "header_len": header_len, "sync": sync,
                    "codec": codec, "schema_json": sj,
                })
            return metas
        except OSError:
            pass  # executors may still reach the files
    return _scan_headers_distributed(spark, paths)


def _scan_headers_distributed(spark: SparkSession, paths: "list[str]"):
    """Per-file OCF header metadata as one Spark job: each task opens
    its files via :func:`avro_spark._fs.open_input` (KBs per file), and
    ships back ``(path, header_len, sync, codec, schema_digest)`` plus each
    DISTINCT writer-schema rendering once per task — so the collect is
    ~60 bytes/file + the handful of distinct schema JSONs, never
    O(files × schema size). Returns the per-file meta dicts with
    ``schema_json`` re-attached from the deduped renderings."""
    pdf = spark.createDataFrame([(p,) for p in paths], "path string")
    n_slices = min(len(paths), spark.sparkContext.defaultParallelism * 2)
    pdf = pdf.repartition(max(n_slices, 1))

    def scan(batches):
        import hashlib as _hashlib

        import pyarrow as pa

        seen: set = set()
        out_schema = pa.schema([
            ("path", pa.string()), ("header_len", pa.int64()),
            ("sync", pa.binary()), ("codec", pa.string()),
            ("schema_digest", pa.binary()), ("schema_json", pa.string()),
        ])
        for batch in batches:
            rows = []
            for uri in batch.column(0).to_pylist():
                hl, sync, sj, codec = _scan_header(uri)
                digest = _hashlib.md5(sj).digest()
                rows.append({
                    "path": uri, "header_len": hl, "sync": sync,
                    "codec": codec, "schema_digest": digest,
                    # first occurrence in this task carries the JSON;
                    # repeats ship only the 16-byte digest
                    "schema_json": None if digest in seen
                    else sj.decode("utf-8"),
                })
                seen.add(digest)
            yield pa.RecordBatch.from_pylist(rows, schema=out_schema)

    got = pdf.mapInArrow(
        scan,
        schema="path string, header_len long, sync binary, codec string, "
               "schema_digest binary, schema_json string",
    ).collect()
    renderings = {bytes(r["schema_digest"]): r["schema_json"]
                  for r in got if r["schema_json"] is not None}
    metas = [{
        "path": r["path"], "header_len": r["header_len"],
        "sync": bytes(r["sync"]), "codec": r["codec"],
        "schema_json": renderings[bytes(r["schema_digest"])].encode("utf-8"),
    } for r in got]
    return metas


def _scan_header(uri: str) -> tuple[int, bytes, bytes, str]:
    """Read just the OCF header: (header_len, sync, schema_json, codec).
    The meta map can exceed any fixed guess (large schemas), so the read
    doubles until it parses. Takes a path OR any pyarrow.fs-reachable
    URI (:func:`avro_spark._fs.open_input`)."""
    need = 1 << 16
    with _fs.open_input(uri) as fh:
        buf = fh.read(need)
        while True:
            if buf[:4] != MAGIC:
                raise AvroSparkError(f"not an Avro OCF: {uri}")
            try:
                meta, pos = _read_meta_map(buf, 4)
                sync = bytes(buf[pos : pos + 16])
                if len(sync) == 16:
                    break
            except IndexError:
                pass
            more = fh.read(need)
            if not more:
                raise AvroSparkError(f"truncated OCF header: {uri}")
            buf += more
            need <<= 1
    codec = meta.get("avro.codec", b"null").decode("ascii")
    _codec_pair(codec)  # validate early: unknown/unavailable raises here
    return pos + 16, sync, meta["avro.schema"], codec


def _find_block_start(
    fh, file_len: int, start: int, end: int, sync: bytes, codec: str, dec
) -> int:
    """First VALIDATED block start b with start ≤ b < end, or -1.
    Candidates are sync-marker occurrences (block starts are always
    sync-preceded). Validation FULLY parses the candidate block —
    sane (count, size) header, decompression, record-exact decode,
    trailing sync — the writers now default to a RANDOM per-file sync
    (Avro spec), but files written with the deterministic_sync opt-in
    (or by foreign writers with weak markers) can legitimately carry
    the marker inside payload bytes; structural checks alone collide on
    such files. Costs one extra block parse per split, once."""
    # a sync whose END is ≥ start begins at ≥ start-16; scan in bounded
    # chunks (the first real block almost always sits in the first one)
    # instead of slurping the whole split range into memory
    CHUNK = 1 << 20
    lo = max(start - 16, 0)
    hard_end = min(end, file_len) + 16
    base = lo
    carry = b""
    while base < hard_end:
        fh.seek(base)
        chunk = fh.read(min(CHUNK, hard_end - base))
        if not chunk:
            return -1
        window = carry + chunk
        w_base = base - len(carry)
        off = 0
        while True:
            hit = window.find(sync, off)
            if hit < 0:
                break
            b = w_base + hit + 16  # candidate block start
            if b >= end:
                return -1
            if b >= start and _validate_block(fh, file_len, b, sync, codec, dec):
                return b
            off = hit + 1
        carry = window[-(len(sync) - 1):]  # marker may straddle chunks
        base += len(chunk)
    return -1


def _validate_block(fh, file_len: int, b: int, sync: bytes, codec: str, dec) -> bool:
    fh.seek(b)
    head = fh.read(20)  # two varints ≤ 10 bytes each
    try:
        count, p = _read_long(head, 0)
        size, p = _read_long(head, p)
    except IndexError:
        return False
    if count <= 0 or size < 0 or b + p + size + 16 > file_len:
        return False
    fh.seek(b + p + size)
    if fh.read(16) != sync:
        return False
    fh.seek(b + p)
    data = fh.read(size)
    try:
        data = _codec_pair(codec)[1](data)
        q = 0
        for _ in range(count):
            _rec, q = dec(data, q)
        return q == len(data)
    except Exception:
        return False


def read_avro_files_split(
    spark: SparkSession,
    path: str,
    schema: Optional[Schema] = None,
    split_bytes: "int | str" = 128 << 20,
    engine: str = "auto",
    columns: "Optional[list[str]]" = None,
    route_out: "Optional[dict]" = None,
) -> DataFrame:
    """OCF files → record DataFrame with BLOCK-LEVEL parallelism: each
    file is planned into ~``split_bytes`` byte ranges and every range is
    one task — the Hadoop-style splittable read, so a handful of huge
    OCF files still uses the whole cluster. ``split_bytes="auto"`` sizes
    ranges to one task wave (total bytes / defaultParallelism, floored
    at 16 MB) — the measured optimum on large single files (SCALE.md
    §6b).

    Planning (driver): one header read per file (magic + meta map +
    sync — a few KB), no data bytes. Execution (per split task): seek
    into [start-16, end), find the first sync-validated block start in
    [start, end), then decode blocks sequentially while they START
    inside the range (the last owned block may read past ``end`` — the
    standard ownership rule that makes ranges partition the file
    exactly). Deflate blocks decompress per block, so memory is bounded
    by block size, not split size.

    ``engine="auto"`` keeps the SCAN (sync-find + block walk, pure IO) in
    the Arrow stage but ships each block's still-compressed payload to
    the JVM block decoder (jvm.decode_ocf_blocks_jvm) — the per-record
    hot loop runs JVM-side. Falls back to in-stage Python decode when the
    JVM path is unavailable; every file's codec is known at plan time, so
    routing is exact here (unlike the first-file peek in
    :func:`read_avro_files`)."""
    return _read_avro_files_split(spark, path, None, schema, split_bytes,
                                  engine, columns, route_out)


def _read_avro_files_split(
    spark: SparkSession, path, listed, schema: Optional[Schema],
    split_bytes, engine: str, columns, route_out,
) -> DataFrame:
    """:func:`read_avro_files_split` given, optionally, the ``(files,
    listing)`` pair of :func:`_list_files`."""
    from ..util import ensure_workers

    if engine not in ("auto", "python", "jvm"):
        raise AvroSparkError(f"bad engine: {engine}")
    ensure_workers(spark)
    _files, listing = listed or _list_files(spark, path)
    if split_bytes == "auto":
        # one task wave across the cluster: total bytes / parallelism,
        # floored at 16 MB so tiny listings don't shatter into per-task
        # overhead. Measured (SCALE.md §6b): on a 525 MB single file at
        # local[32], splits ≈ cores (16 MB) ran 17.4 M rows/s vs 11.6 M
        # for over-split 4 MB ranges and 5.6 M whole-file.
        total = sum(size for _u, size in listing)
        par = max(spark.sparkContext.defaultParallelism, 1)
        split_bytes = max(16 << 20, -(-total // par))
    elif not isinstance(split_bytes, int) or split_bytes <= 0:
        raise AvroSparkError(f"bad split_bytes: {split_bytes!r}")
    # per-file header metadata: small fully-local listings use the
    # serial driver loop; longer or non-local ones scan headers as ONE
    # distributed job (flat planning time in file count, and split
    # planning WORKS off local FS — the old driver-only loop could not
    # open non-local URIs at all, VERDICT r6 #2)
    lengths = dict(listing)
    metas = _scan_listing_headers(spark, [u for u, _size in listing])
    splits = []  # (path, file_len, start, end, header_len, sync, codec)
    schema_json = None
    _schema_ok: set = set()
    for meta in metas:
        fpath, sj = meta["path"], meta["schema_json"]
        if schema_json is None:
            schema_json = sj
            if schema is None:
                schema = create(json.loads(sj.decode("utf-8")))
            from ..schema.fingerprint import canonical_form

            _expected_cf = canonical_form(schema.root)
        # every header is already read here — validate each file's
        # writer schema against the planned one (mixed-schema dirs
        # previously decoded as garbage)
        _check_writer_schema(_expected_cf, sj, fpath, _schema_ok)
        s = meta["header_len"]
        flen = lengths[fpath]
        while s < flen:
            e = min(s + split_bytes, flen)
            splits.append((fpath, flen, s, e, meta["header_len"],
                           bytearray(meta["sync"]), meta["codec"]))
            s = e
    root = schema.root
    if not isinstance(root, Record):
        raise AvroSparkError("read_avro_files_split requires a record schema")
    struct = schema.to_struct_type()
    schema_export = json.dumps(schema.export())
    sdf = spark.createDataFrame(
        splits,
        "path string, file_len long, start long, end long, "
        "header_len long, sync binary, codec string",
    )
    n_tasks = max(len(splits), 1)
    sdf = sdf.repartition(min(n_tasks, spark.sparkContext.defaultParallelism * 4))

    all_codecs = {s[6] for s in splits}
    use_jvm = engine != "python" and all(
        _jvm_ocf_ok(spark, schema, c) for c in sorted(all_codecs)
    )
    if route_out is not None:
        route_out["engine"] = "jvm" if use_jvm else "python"
        route_out["split"] = True
    if engine == "jvm" and not use_jvm:
        raise AvroSparkError(
            "engine='jvm' unavailable (no JDK, unsupported schema shape, "
            f"or block codec(s) {sorted(all_codecs)} outside the JVM's set)"
        )

    if use_jvm:

        def emit_blocks(batches):
            # IO-only stage: walk the split's blocks and ship each
            # still-COMPRESSED payload out; the JVM generator does
            # decompression + the per-record decode loop. The Python
            # decoder is compiled only for _find_block_start's one-time
            # candidate validation per split.
            import pyarrow as pa

            sch = create(json.loads(schema_export))
            dec = _compile_decoder(sch.root)
            out_schema = pa.schema(
                [("codec", pa.string()), ("count", pa.int64()),
                 ("data", pa.binary())]
            )

            for batch in batches:
                for row in batch.to_pylist():
                    with _fs.open_input(row["path"]) as fh:
                        sync = bytes(row["sync"])
                        file_len, start = row["file_len"], row["start"]
                        end, codec = row["end"], row["codec"]
                        if start == row["header_len"]:
                            b = start
                        else:
                            b = _find_block_start(
                                fh, file_len, start, end, sync, codec, dec,
                            )
                        blocks: list[dict] = []
                        while 0 <= b < end:
                            fh.seek(b)
                            head = fh.read(20)
                            count, p = _read_long(head, 0)
                            size, p = _read_long(head, p)
                            if count < 0 or size < 0 or b + p + size + 16 > file_len:
                                raise AvroSparkError(
                                    f"corrupt OCF block at {row['path']}:{b}"
                                )
                            fh.seek(b + p)
                            blocks.append(
                                {"codec": codec, "count": count,
                                 "data": fh.read(size)}
                            )
                            fh.seek(b + p + size)
                            if fh.read(16) != sync:
                                raise AvroSparkError("OCF sync marker mismatch")
                            b = b + p + size + 16
                            if len(blocks) >= 32:
                                yield pa.RecordBatch.from_pylist(
                                    blocks, schema=out_schema
                                )
                                blocks = []
                        if blocks:
                            yield pa.RecordBatch.from_pylist(
                                blocks, schema=out_schema
                            )

        from ..jvm import decode_ocf_blocks_jvm

        block_rows = sdf.mapInArrow(
            emit_blocks, schema="codec string, count long, data binary"
        )
        return decode_ocf_blocks_jvm(block_rows, schema, columns=columns)

    # python block decode: records cross Arrow IPC out of the worker.
    # The nesting check runs on the PROJECTED struct: a projection that
    # drops the too-deep field makes the read legal.
    out_struct = struct if columns is None else project_struct_type(struct, columns)
    if columns is not None:
        from .avro_binary import validate_projection

        validate_projection(schema.root, columns)
    check_arrow_nesting(out_struct, "read_avro_files_split(engine='python')")
    out_t = arrow_out_type(out_struct)

    def decode(batches):
        # Arrow-native output — exact int64, see read_avro_files.decode
        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_schema

        sch = create(json.loads(schema_export))
        # the record loop may PROJECT (byte-skip unrequested fields); the
        # split-start candidate validation must decode FULL rows, so it
        # keeps its own full decoder
        dec_full = _compile_decoder(sch.root)
        if columns is None:
            dec = dec_full
        else:
            from .avro_binary import projected_record_decoder

            dec = projected_record_decoder(sch.root, columns)
        arrow_schema = to_arrow_schema(out_t)

        def emit(recs):
            # decoded records are already {field: value} dicts
            return pa.RecordBatch.from_pylist(recs, schema=arrow_schema)

        for batch in batches:
            for row in batch.to_pylist():
                with _fs.open_input(row["path"]) as fh:
                    sync = bytes(row["sync"])
                    file_len, start = row["file_len"], row["start"]
                    end, codec = row["end"], row["codec"]
                    if start == row["header_len"]:
                        b = start  # first block needs no scan
                    else:
                        b = _find_block_start(
                            fh, file_len, start, end, sync, codec, dec_full,
                        )
                    recs: list[Any] = []
                    while 0 <= b < end:
                        fh.seek(b)
                        head = fh.read(20)
                        count, p = _read_long(head, 0)
                        size, p = _read_long(head, p)
                        if count < 0 or size < 0 or b + p + size + 16 > file_len:
                            raise AvroSparkError(
                                f"corrupt OCF block at {row['path']}:{b}"
                            )
                        fh.seek(b + p)
                        data = _codec_pair(codec)[1](fh.read(size))
                        q = 0
                        for _ in range(count):
                            rec, q = dec(data, q)
                            recs.append(rec)
                        if q != len(data):
                            raise AvroSparkError(
                                f"trailing bytes in OCF block: {len(data) - q}"
                            )
                        fh.seek(b + p + size)
                        if fh.read(16) != sync:
                            raise AvroSparkError("OCF sync marker mismatch")
                        b = b + p + size + 16
                        if len(recs) >= DEFAULT_BLOCK_RECORDS:
                            # stream batches out as blocks complete so task
                            # memory is bounded by block size, not split size
                            yield emit(recs)
                            recs = []
                    if recs:
                        yield emit(recs)

    return arrow_decoded(sdf, decode, out_struct)


#: pyarrow filesystems where a streamed upload is INVISIBLE until the
#: close completes it (multipart-upload semantics) — direct-to-final
#: writes are safe and rename does not exist anyway
_CLOSE_COMMITS_FS = ("s3", "gcs", "abfs", "azure")


def _open_part(dir_uri: str, fname: str, attempt, use_fs: bool):
    """``(write handle, commit)`` for one part file. Local: temp name +
    atomic ``os.replace`` so speculative duplicate attempts converge on
    whole files. Object stores (s3/gcs/abfs): stream straight to the
    FINAL key — no rename exists, and the upload only becomes visible
    when the close completes it, so duplicate attempts writing identical
    bytes still converge and an aborted attempt leaves nothing visible.
    Every OTHER pyarrow filesystem (hdfs://, ...) creates files eagerly,
    so a killed attempt would leave a truncated final-named part —
    those write an attempt-suffixed name and ``move()`` (atomic rename
    on HDFS) at commit, mirroring the local discipline. The branch is
    picked ONCE at plan time (``use_fs``) so driver and executors
    always agree."""
    if not use_fs:
        final = os.path.join(_fs.local_path(dir_uri), fname)
        tmp = f"{final}.__attempt_{attempt}"
        fh = io.open(tmp, "wb")

        def commit() -> str:
            fh.close()
            os.replace(tmp, final)  # atomic: last attempt wins whole
            return final

        return fh, commit
    filesystem, base = _fs.resolve(dir_uri)
    final_key = f"{base.rstrip('/')}/{fname}"
    final_uri = f"{dir_uri.rstrip('/')}/{fname}"
    if filesystem.type_name in _CLOSE_COMMITS_FS:
        fh = filesystem.open_output_stream(final_key)

        def commit() -> str:
            fh.close()  # completes the upload: only now visible
            return final_uri

        return fh, commit
    tmp_key = f"{final_key}.__attempt_{attempt}"
    fh = filesystem.open_output_stream(tmp_key)

    def commit() -> str:
        fh.close()
        # delete-then-move: HDFS rename refuses to clobber an existing
        # target; a duplicate attempt's earlier whole file is replaced
        # by this attempt's whole file, never interleaved
        try:
            filesystem.delete_file(final_key)
        except FileNotFoundError:
            pass
        filesystem.move(tmp_key, final_key)
        return final_uri

    return fh, commit


def write_avro_files(
    df: DataFrame,
    schema: Schema,
    path: str,
    codec: str = "null",
    block_records: int = DEFAULT_BLOCK_RECORDS,
    mode: str = "overwrite",
    engine: str = "auto",
    block_bytes: "Optional[int]" = None,
    codec_level: "Optional[int]" = None,
    append_token: "Optional[str]" = None,
    route_out: "Optional[dict]" = None,
) -> list[dict]:
    """Record-shaped DataFrame → one OCF file per partition under
    ``path`` (created if missing; must be a filesystem all executors
    share, like any Spark file sink). Returns per-file summaries
    [{'file', 'n_records', 'n_bytes'}, ...]. Control file sizing with
    ``df.repartition(n)`` upstream.

    ``mode='overwrite'`` (default) clears previous part files first —
    a narrower re-run would otherwise leave STALE parts mixed into the
    directory; ``mode='error'`` refuses a non-empty target;
    ``mode='append'`` adds this write's files alongside existing ones —
    filenames carry a per-WRITE token so jobs never collide, while
    speculative retries of one task still converge on one file (same
    deterministic name + atomic rename; the incremental-pipeline shape,
    e.g. appending a snapshot_merge delta batch). ``append_token``
    supplies that token explicitly (e.g. a streaming batch id): a
    REPLAYED job with the same token replaces its own earlier files —
    whole-job idempotence, the exactly-once contract
    :func:`write_avro_stream` builds on. Columns are
    selected BY NAME against the schema (column order never matters),
    each task streams one block at a time (memory is bounded by
    ``block_records``, not the partition). ``block_bytes`` adds a
    byte-based flush threshold on the UNCOMPRESSED block body (flush on
    whichever of count/bytes trips first) — at 100 TB, row width varies
    ~100× across corpora and a pure record count yields 100× block-size
    spread, which is exactly the per-task memory bound on read;
    ``codec_level`` tunes the compressor (deflate/bzip2 1-9, xz 0-9,
    zstandard per libzstd). Local targets write a temp
    file + atomic ``os.replace`` (speculative duplicate attempts cannot
    interleave bytes); non-local targets (s3://, hdfs://, ... via
    pyarrow.fs) stream straight to the final key — object stores have
    no rename, and the upload only becomes visible at close, so
    duplicate attempts still converge (see ``_open_part``).

    ``engine="auto"`` runs the per-record ENCODE loop JVM-side
    (jvm.to_avro_bytes_jvm) and keeps only the container framing —
    block concat + compression + header/sync — in the Arrow stage; any
    block codec works on this path since compression is framing-side.
    Record bytes are identical between engines (fuzz-pinned), so files
    differ only in their random sync markers."""
    from ..util import ensure_workers

    if engine not in ("auto", "python", "jvm"):
        raise AvroSparkError(f"bad engine: {engine}")
    # validate codec + level on the driver, before any task launches
    _codec_pair(codec, codec_level)
    if block_bytes is not None and block_bytes <= 0:
        raise AvroSparkError(f"block_bytes must be positive: {block_bytes}")
    ensure_workers(df.sparkSession)
    root = schema.root
    if not isinstance(root, Record):
        raise AvroSparkError("write_avro_files requires a record schema")
    if mode not in ("overwrite", "error", "append"):
        raise AvroSparkError(f"bad mode: {mode}")
    # non-local targets write their part files through pyarrow.fs
    # (object stores have no rename — see _open_part); decided ONCE
    # here, on the path as every host resolves it, so driver and
    # executors agree
    path = _fs.qualify(path)
    use_fs = _fs.local_path(path) is None
    _fs.make_dir(path)
    existing = _fs.child_files(path, "part-")
    if existing and mode != "append":
        if mode == "error":
            raise AvroSparkError(f"target not empty: {path}")
        for f in existing:
            _fs.rm_file(f"{path.rstrip('/')}/{f}")
    # per-WRITE token: append-mode filenames must be unique ACROSS jobs
    # but deterministic WITHIN one (retries converge via os.replace).
    # 128 random bits put birthday collisions out of reach (a 32-bit
    # token reached ~50% collision odds after ~77k appends — silent
    # part-file overwrite); the redraw loop against the live listing
    # makes uniqueness structural, not just probabilistic.
    job_token = ""
    if mode == "append":
        if append_token is not None:
            # caller-supplied token (e.g. a streaming batch id): a
            # REPLAYED job with the same token REPLACES its own earlier
            # part files instead of adding new ones — whole-job
            # idempotence. The token's previous files are cleaned up
            # AFTER the new job succeeds (see the post-collect sweep):
            # deleting up front would permanently lose the earlier
            # attempt's data if THIS attempt then fails validation or
            # dies mid-job.
            import re as _re

            if not _re.fullmatch(r"[A-Za-z0-9_-]{1,64}", append_token):
                raise AvroSparkError(
                    f"append_token must be [A-Za-z0-9_-]{{1,64}}: "
                    f"{append_token!r}"
                )
            job_token = f"-{append_token}"
        else:
            while True:
                tok = os.urandom(16).hex()
                if not any(tok in f for f in existing):
                    job_token = f"-{tok}"
                    break

    def _finish(infos: "list[dict]") -> "list[dict]":
        """Post-job sweep for token'd appends: a replay that
        repartitioned DOWN rewrote part-00000..n via atomic replace; any
        HIGHER-numbered files from the earlier attempt would double-count
        rows, so remove exactly this token's files that this job did not
        (re)write. Exact-name match — a substring check would let one
        token's sweep delete another token's files (e.g. "run1" vs
        "run12", or a token equal to a part number)."""
        if mode != "append" or append_token is None:
            return infos
        import re as _re

        # \d{5,}: part numbers are {pid:05d}, which GROWS past 5 digits
        # at pid >= 100000 — a fixed {5} would never sweep high-numbered
        # stale parts (review r7)
        pat = _re.compile(
            r"part-\d{5,}-" + _re.escape(append_token) + r"\.avro\Z"
        )
        written = {os.path.basename(i["file"]) for i in infos}
        for f in existing:
            if pat.fullmatch(f) and f not in written:
                _fs.rm_file(f"{path.rstrip('/')}/{f}")
        return infos

    schema_export = json.dumps(schema.export())
    field_names = [f.name for f in root.fields]
    missing = [n for n in field_names if n not in df.columns]
    if missing:
        raise AvroSparkError(f"write_avro_files: missing columns {missing}")
    df = df.select(*field_names)  # BY NAME — positional zip is a data swapper
    field_types = [(f.name, f.type) for f in root.fields]

    use_jvm = engine != "python" and _jvm_ocf_ok(df.sparkSession, schema, None)
    if route_out is not None:
        # the writer's self-attribution (the reader's r10 route_out
        # contract): which engine encodes the records
        route_out["engine"] = "jvm" if use_jvm else "python"
    if engine == "jvm" and not use_jvm:
        raise AvroSparkError(
            "engine='jvm' unavailable (no JDK or unsupported schema shape)"
        )
    if use_jvm:
        from ..jvm import JVM_OCF_CODECS, compress_blocks_jvm, to_avro_bytes_jvm

        enc_df = to_avro_bytes_jvm(df, schema, "b")
        if codec != "null" and codec in JVM_OCF_CODECS:
            # r8: block COMPRESSION runs JVM-side too. Three NARROW
            # stages fused into one task — Python groups encoded records
            # into uncompressed block bodies, the CompressBlock Java UDF
            # compresses each body (the from-scratch Python snappy
            # compressor measured ~14 MB/s/task — the write-path
            # bottleneck SCALE.md §6e records), and a final Python stage
            # streams the framed blocks to the part file. No shuffle:
            # partition identity (and so file naming/ordering) survives
            # the projection, and per-task memory stays bounded by block
            # size. engine="python" keeps the all-Python framing.
            import pyarrow as _pa

            _blk_schema = _pa.schema(
                [("n_records", _pa.int64()), ("body", _pa.binary())]
            )

            def make_blocks(batches):
                """Group encoded records into uncompressed block bodies
                with ZERO per-record Python work: an Arrow binary column
                is one contiguous data buffer plus an offsets array, so
                a block body — the concatenation of records i..j-1 — is
                the single buffer slice data[offsets[i]:offsets[j]]
                (guide §4.2). Cut points come from the offsets array
                (numpy), preserving the exact per-record cut rule of the
                old loop: append, then cut when count >= block_records
                or bytes >= block_bytes. The r10 rewrite of the
                to_pylist + per-record-append loop that dominated the
                write probe."""
                import numpy as np
                import pyarrow as pa

                pending: list = []  # buffer slices of the current block
                pend_len = 0
                pend_cnt = 0
                rows: list[dict] = []
                rows_len = 0

                def cut() -> None:
                    nonlocal pend_len, pend_cnt, rows_len
                    rows.append({
                        "n_records": pend_cnt,
                        "body": (bytes(pending[0]) if len(pending) == 1
                                 else b"".join(bytes(p) for p in pending)),
                    })
                    rows_len += pend_len
                    pending.clear()
                    pend_len = 0
                    pend_cnt = 0

                for b in batches:
                    arr = b.column(0)
                    n = len(arr)
                    if not n:
                        continue
                    if arr.null_count:
                        # a null encoded record would be framed as a
                        # ZERO-BYTE record (counted in the header, no
                        # body bytes) and silently desync the block —
                        # fail loudly instead (ADVICE r10)
                        raise ValueError(
                            "write_avro_files: encoded-record column "
                            f"contains {arr.null_count} null(s) — "
                            "cannot frame null records into OCF blocks"
                        )
                    bufs = arr.buffers()
                    odt = (np.int64 if pa.types.is_large_binary(arr.type)
                           else np.int32)
                    # window the offsets by the array's slice offset;
                    # values are absolute positions in the data buffer
                    off = np.frombuffer(bufs[1], dtype=odt,
                                        count=arr.offset + n + 1)[
                        arr.offset:]
                    data = memoryview(bufs[2] if bufs[2] is not None
                                      else b"")
                    idx = 0
                    while idx < n:
                        # smallest j where the count trips ...
                        j = idx + (block_records - pend_cnt)
                        # ... or the byte threshold trips (cut AFTER the
                        # record that crosses it, hence the +1)
                        if block_bytes is not None:
                            jb = int(np.searchsorted(
                                off, int(off[idx]) + block_bytes - pend_len,
                                side="left"))
                            if jb <= idx:
                                jb = idx + 1
                            j = min(j, jb)
                        if j > n:
                            # first trip point lies beyond this batch —
                            # carry the tail (j == n trips exactly at
                            # the batch end and must cut, like the old
                            # per-record loop did)
                            pending.append(data[off[idx]:off[n]])
                            pend_len += int(off[n] - off[idx])
                            pend_cnt += n - idx
                            break
                        pending.append(data[off[idx]:off[j]])
                        pend_len += int(off[j] - off[idx])
                        pend_cnt += j - idx
                        cut()
                        idx = j
                        # cap each emitted Arrow batch by BYTES as well
                        # as rows: a large block_bytes setting must not
                        # multiply into a 16x-larger batch
                        if len(rows) >= 16 or rows_len >= (32 << 20):
                            yield pa.RecordBatch.from_pylist(
                                rows, schema=_blk_schema)
                            rows = []
                            rows_len = 0
                if pend_cnt:
                    cut()
                if rows:
                    yield pa.RecordBatch.from_pylist(rows, schema=_blk_schema)

            blocks = enc_df.mapInArrow(
                make_blocks, schema="n_records long, body binary"
            )
            blocks = compress_blocks_jvm(blocks, codec, codec_level)

            def write_blocks(batches):
                import pyarrow as pa

                from pyspark import TaskContext

                schema_json = schema_export.encode("utf-8")
                sync = os.urandom(16)  # random per-file sync (Avro spec)
                ctx = TaskContext.get()
                pid = ctx.partitionId() if ctx else 0
                attempt = ctx.taskAttemptId() if ctx else 0
                part = f"part-{pid:05d}{job_token}.avro"
                n_records = 0
                n_bytes = 0
                fh = commit = None
                for b in batches:
                    counts = b.column(0).to_pylist()
                    datas = b.column(1).to_pylist()
                    for cnt, data in zip(counts, datas):
                        if fh is None:
                            fh, commit = _open_part(
                                path, part, attempt, use_fs)
                            header = bytearray()
                            header += MAGIC
                            _write_meta_map(
                                header,
                                {"avro.schema": schema_json,
                                 "avro.codec": codec.encode("ascii")},
                            )
                            header += sync
                            fh.write(bytes(header))
                            n_bytes += len(header)
                        blk = bytearray()
                        _write_long(blk, cnt)
                        _write_long(blk, len(data))
                        blk += data
                        blk += sync
                        fh.write(bytes(blk))
                        n_records += cnt
                        n_bytes += len(blk)
                if fh is None:
                    return
                fname = commit()
                yield pa.RecordBatch.from_pylist(
                    [{"file": fname, "n_records": n_records,
                      "n_bytes": n_bytes}]
                )

            out = blocks.mapInArrow(
                write_blocks, schema="file string, n_records long, n_bytes long"
            )
            return _finish([r.asDict() for r in out.collect()])

        def frame(batches):
            # records arrive PRE-ENCODED (JVM codec); this stage only
            # frames the container: header, block concat + compression
            # (a no-op here — the compressed codecs take the JVM
            # three-stage path above), sync markers, atomic rename
            import pyarrow as pa

            from pyspark import TaskContext

            schema_json = schema_export.encode("utf-8")
            sync = os.urandom(16)  # random per-file sync (Avro spec)
            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx else 0
            attempt = ctx.taskAttemptId() if ctx else 0
            part = f"part-{pid:05d}{job_token}.avro"
            n_records = 0
            n_bytes = 0
            pending: list = []  # buffer slices of the current block
            pend_len = 0
            pend_cnt = 0
            fh = commit = None
            comp = _codec_pair(codec, codec_level)[0]

            def flush() -> int:
                nonlocal pend_len, pend_cnt
                data = comp(bytes(pending[0]) if len(pending) == 1
                            else b"".join(bytes(p) for p in pending))
                blk = bytearray()
                _write_long(blk, pend_cnt)
                _write_long(blk, len(data))
                blk += data
                blk += sync
                fh.write(bytes(blk))
                pending.clear()
                pend_len = 0
                pend_cnt = 0
                return len(blk)

            # per-record bytes become block bodies via offsets-array
            # slicing of the Arrow data buffer — no per-record Python
            # objects (guide §4.2; same cut rule as the three-stage
            # compressed path above)
            import numpy as np

            for b in batches:
                arr = b.column(0)
                n = len(arr)
                if not n:
                    continue
                if fh is None:
                    fh, commit = _open_part(path, part, attempt, use_fs)
                    header = bytearray()
                    header += MAGIC
                    _write_meta_map(
                        header,
                        {"avro.schema": schema_json,
                         "avro.codec": codec.encode("ascii")},
                    )
                    header += sync
                    fh.write(bytes(header))
                    n_bytes += len(header)
                if arr.null_count:
                    # see make_blocks: a null record must fail loudly,
                    # not desync the block framing (ADVICE r10)
                    raise ValueError(
                        "write_avro_files: encoded-record column "
                        f"contains {arr.null_count} null(s) — cannot "
                        "frame null records into OCF blocks"
                    )
                bufs = arr.buffers()
                odt = (np.int64 if pa.types.is_large_binary(arr.type)
                       else np.int32)
                off = np.frombuffer(bufs[1], dtype=odt,
                                    count=arr.offset + n + 1)[arr.offset:]
                data = memoryview(bufs[2] if bufs[2] is not None
                                  else b"")
                n_records += n
                idx = 0
                while idx < n:
                    j = idx + (block_records - pend_cnt)
                    if block_bytes is not None:
                        jb = int(np.searchsorted(
                            off, int(off[idx]) + block_bytes - pend_len,
                            side="left"))
                        if jb <= idx:
                            jb = idx + 1
                        j = min(j, jb)
                    if j > n:
                        # j == n trips exactly at the batch end and
                        # must cut (parity with the old per-record loop)
                        pending.append(data[off[idx]:off[n]])
                        pend_len += int(off[n] - off[idx])
                        pend_cnt += n - idx
                        break
                    pending.append(data[off[idx]:off[j]])
                    pend_len += int(off[j] - off[idx])
                    pend_cnt += j - idx
                    n_bytes += flush()
                    idx = j
            if fh is None:
                return
            if pend_cnt:
                n_bytes += flush()
            fname = commit()
            yield pa.RecordBatch.from_pylist(
                [{"file": fname, "n_records": n_records,
                  "n_bytes": n_bytes}]
            )

        out = enc_df.mapInArrow(
            frame, schema="file string, n_records long, n_bytes long"
        )
        return _finish([r.asDict() for r in out.collect()])

    # python encode: the record-shaped INPUT crosses Arrow IPC into the worker
    check_arrow_nesting(df.schema, "write_avro_files(engine='python')")

    def encode(batches):
        import pyarrow as pa

        from pyspark import TaskContext

        sch = create(json.loads(schema_export))
        enc = _compile_encoder(sch.root)
        schema_json = json.dumps(sch.export()).encode("utf-8")
        # random per-file sync (Avro spec) — see write_ocf_bytes
        sync = os.urandom(16)
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else 0
        attempt = ctx.taskAttemptId() if ctx else 0
        part = f"part-{pid:05d}{job_token}.avro"
        n_records = 0
        n_bytes = 0
        body = bytearray()  # records encode INTO the block as they arrive
        in_block = 0
        fh = commit = None
        comp = _codec_pair(codec, codec_level)[0]

        def flush() -> int:
            nonlocal in_block
            data = comp(bytes(body))
            blk = bytearray()
            _write_long(blk, in_block)
            _write_long(blk, len(data))
            blk += data
            blk += sync
            fh.write(bytes(blk))
            body.clear()
            in_block = 0
            return len(blk)

        # Arrow-native rows (to_pylist): nullable int64 leaves stay exact
        # Python ints — the pandas batch form rendered them float64+NaN
        # and silently rounded |v| > 2^53 (see to_avro_bytes).
        for b in batches:
            for row in b.to_pylist():
                if fh is None:
                    fh, commit = _open_part(path, part, attempt, use_fs)
                    header = bytearray()
                    header += MAGIC
                    _write_meta_map(
                        header,
                        {"avro.schema": schema_json,
                         "avro.codec": codec.encode("ascii")},
                    )
                    header += sync
                    fh.write(bytes(header))
                    n_bytes += len(header)
                enc(body, {
                    name: _normalize(row[name], node)
                    for name, node in field_types
                })
                in_block += 1
                n_records += 1
                if in_block >= block_records or (
                    block_bytes is not None and len(body) >= block_bytes
                ):
                    n_bytes += flush()
        if fh is None:
            return
        if in_block:
            n_bytes += flush()
        fname = commit()
        yield pa.RecordBatch.from_pylist(
            [{"file": fname, "n_records": n_records,
              "n_bytes": n_bytes}]
        )

    out = df.mapInArrow(encode, schema="file string, n_records long, n_bytes long")
    return _finish([r.asDict() for r in out.collect()])


def _stream_batch_writer(
    schema: Schema,
    path: str,
    codec: str,
    block_records: int,
    block_bytes: "Optional[int]",
    codec_level: "Optional[int]",
    engine: str,
):
    """The foreachBatch callable behind :func:`write_avro_stream`,
    factored out so its replay idempotence is directly testable: the
    append token derives from the BATCH id, so a batch Structured
    Streaming replays after a failure atomically replaces its own
    earlier part files instead of duplicating rows."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        write_avro_files(
            batch_df, schema, path, codec=codec,
            block_records=block_records, block_bytes=block_bytes,
            codec_level=codec_level, engine=engine, mode="append",
            append_token=f"batch{batch_id:012d}",
        )

    return sink


def write_avro_stream(
    df: DataFrame,
    schema: Schema,
    path: str,
    checkpoint_dir: str,
    codec: str = "null",
    block_records: int = DEFAULT_BLOCK_RECORDS,
    block_bytes: "Optional[int]" = None,
    codec_level: "Optional[int]" = None,
    engine: str = "auto",
    trigger_available_now: bool = False,
    query_name: "Optional[str]" = None,
):
    """STREAMING OCF sink: ``writeStream.foreachBatch`` routing each
    micro-batch through :func:`write_avro_files` in append mode — the
    streaming twin of :func:`read_avro_stream`, closing the loop for
    pipelines that both consume AND emit Avro container files.

    Exactly-once at the file level: each batch's part files carry a
    token derived from the batch id, so a replayed batch (failure
    between the write and the checkpoint commit) REPLACES its own
    earlier files rather than appending duplicates, even when the
    replay repartitioned differently. One streaming query per target
    directory (two queries would share the batch-id token space).
    Downstream batch readers see whole files only: local writes land
    via atomic rename, object-store writes become visible at close
    (see ``_open_part``) — never a partially-written container.

    Returns the started ``StreamingQuery``. ``trigger_available_now``
    drains everything currently available then stops (backfill /
    test shape); otherwise the default micro-batch trigger runs until
    ``query.stop()``."""
    _codec_pair(codec, codec_level)  # validate before starting the query
    if not isinstance(schema.root, Record):
        raise AvroSparkError("write_avro_stream requires a record schema")
    sink = _stream_batch_writer(
        schema, path, codec, block_records, block_bytes, codec_level, engine
    )
    from ..streaming.pipeline import start_foreach_batch

    return start_foreach_batch(df, sink, checkpoint_dir, query_name,
                               trigger_available_now)

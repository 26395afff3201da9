"""JVM-side Avro binary codec (compiled Java UDF).

The container ships no spark-avro module jar, but it does ship the Apache
Avro Java library (``avro-1.12.1.jar`` on Spark's classpath) and a JDK —
so the hot codec path can still run JVM-side: ``AvroCodecUDF.java`` is
compiled once with ``javac`` against the pyspark distribution jars, packed
into a jar under ``build/`` and attached to the *live* session with
``ADD JAR``. No Python worker, no Arrow transfer — the encode/decode loop
runs next to Tungsten rows. Encode (and the vector and block-compression
helpers) are UDFs registered via ``registerJavaFunction``. Every decode —
whole OCF files, OCF blocks and single Avro values — is one Catalyst
generator that turns its input straight into Catalyst rows
(:func:`read_ocf_content_jvm`, :func:`decode_ocf_blocks_jvm`,
:func:`from_avro_bytes_jvm`); it and the file listing
(:func:`scan_files`) are loaded through the session's jar class loader,
not registered.

Byte-compatibility contract with the pure-Python codec
(sources/avro_binary.py): identical output for every schema shape except
maps, where entry iteration order may differ between a Python dict and the
Scala map Spark hands the JVM UDF (both decode to the same value — Avro
map order is not semantically significant).

Scope: everything except the ``any`` extension type (dynamic — no static
schema to hand the Java parser); callers use :func:`jvm_codec_supported`
to route (``engine="auto"`` in ``to_avro_bytes`` / ``from_avro_bytes``).
General multi-branch unions travel as their tagged-struct columns,
byte-identical to the Python codec. Unions with NULLABLE branches
(``["null", "T*"]`` — a union directly inside a union, which standard
Avro JSON cannot spell) are rendered as synthetic single-field records
carrying the ``avrospark.unwrap`` property: Avro record framing writes
zero bytes, so the wrapper is byte-invisible, and the Java codec treats
it as transparent on both encode and decode (the Spark value is the
inner value — no extra nesting). Nullable UNIONS themselves are not a
schema shape (the parser refuses them, like the reference) and
``plain_avro_json`` raises ``JvmUnsupported`` defensively — the
rendered JSON would be byte-ambiguous with ``["null", "T*"]``.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .._fs import app_id
from ..errors import CompileError
from ..schema import Schema
from ..schema.nodes import (
    Array,
    Enum,
    Fixed,
    Map,
    NamedNode,
    Primitive,
    Record,
    SchemaNode,
    UnionNode,
)

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_SRC = os.path.join(_PKG_DIR, "AvroCodecUDF.java")
_BUILD = os.path.join(_PKG_DIR, "build")
_JAR = os.path.join(_BUILD, "avro-codec-udf.jar")

_ENC_FN = "avsp_jvm_encode"


class JvmUnsupported(CompileError):
    """Schema shape the JVM codec does not handle (caller falls back)."""


# ------------------------------------------------- standard Avro JSON form
def plain_avro_json(node: SchemaNode, _built: Optional[set[str]] = None) -> object:
    """Render the schema AST as STANDARD Avro JSON for the Java parser:
    the engine's nullable ``*`` extension becomes a ``["null", T]`` union
    (exactly how the byte codec encodes it), nonstandard attributes
    (hidden, extras) are dropped, repeated named types become name
    references. Raises :class:`JvmUnsupported` on general unions."""
    if _built is None:
        _built = set()
    if node.nullable:
        if isinstance(node, UnionNode):
            # Nullable UNIONS are uncreatable through the parser
            # (_nullable_twin raises — union-in-union, like the
            # reference); refuse loudly rather than rendering a JSON
            # shape that is byte-ambiguous with ["null", "T*"] (the
            # Java codec could not tell the two apart and would write
            # the inner union's tag as the outer branch index).
            raise JvmUnsupported("nullable unions are not a schema shape")
        import copy

        stripped = copy.copy(node)
        stripped.nullable = False
        inner = plain_avro_json(stripped, _built)
        return ["null", inner]
    if isinstance(node, Primitive):
        if node.type == "any":
            raise JvmUnsupported("'any' type stays on the Python codec")
        return node.type
    if isinstance(node, UnionNode):
        # a NULLABLE branch renders as ["null", T] — a union directly
        # inside this union, illegal in standard Avro JSON — so it gets
        # the same transparent wrapper
        return [
            _unwrap_record(plain_avro_json(b, _built), _built)
            if b.nullable else plain_avro_json(b, _built)
            for b in node.branches
        ]
    if isinstance(node, NamedNode):
        if node.fullname in _built:
            return node.fullname
        _built.add(node.fullname)
        out: dict = {"type": node.type, "name": node.name}
        if node.namespace:
            out["namespace"] = node.namespace
        if isinstance(node, Record):
            out["fields"] = [
                {"name": f.name, "type": plain_avro_json(f.type, _built)}
                for f in node.fields
            ]
        elif isinstance(node, Enum):
            out["symbols"] = list(node.symbols)
        elif isinstance(node, Fixed):
            out["size"] = node.size
        return out
    if isinstance(node, Array):
        return {"type": "array", "items": plain_avro_json(node.items, _built)}
    if isinstance(node, Map):
        return {"type": "map", "values": plain_avro_json(node.values, _built)}
    raise JvmUnsupported(f"cannot render {node!r}")


def _unwrap_record(inner: object, _built: set) -> object:
    """Synthetic TRANSPARENT record around ``inner`` (a rendered
    ``["null", ...]`` union) so a union can sit inside a union in
    standard Avro JSON. Avro record framing writes zero bytes, and the
    Java codec unwraps on contact (the ``avrospark.unwrap`` property),
    so bytes and Spark values are identical to the bare union. Names are
    content-addressed (md5 of the rendered inner) so identical shapes
    share one definition; a repeat returns the name reference."""
    import json as _json

    digest = hashlib.md5(
        _json.dumps(inner, sort_keys=True).encode("utf-8")
    ).hexdigest()[:16]
    fullname = f"avrospark.wrap.U{digest}"
    if fullname in _built:
        return fullname
    _built.add(fullname)
    return {
        "type": "record",
        "name": f"U{digest}",
        "namespace": "avrospark.wrap",
        "avrospark.unwrap": True,
        "fields": [{"name": "u", "type": inner}],
    }


def jvm_codec_supported(schema: Schema) -> bool:
    """True when the schema is inside the JVM codec's scope."""
    try:
        plain_avro_json(schema.root)
        return True
    except JvmUnsupported:
        return False


# ------------------------------------------------------------- jar build
def _pyspark_jars() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def ensure_jar() -> Optional[str]:
    """Compile AvroCodecUDF.java into build/avro-codec-udf.jar (once;
    rebuilt when the source is newer, from an empty class directory so
    no class deleted from the source survives in the jar). Returns the
    jar path, or None when no JDK is available."""
    if os.path.exists(_JAR) and os.path.getmtime(_JAR) >= os.path.getmtime(_SRC):
        return _JAR
    classes = os.path.join(_BUILD, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(_pyspark_jars(), "*")
    try:
        subprocess.run(
            ["javac", "-encoding", "UTF-8", "-cp", cp, "-d", classes, _SRC],
            check=True, capture_output=True, text=True,
        )
        subprocess.run(
            ["jar", "cf", _JAR, "-C", classes, "."],
            check=True, capture_output=True, text=True,
        )
    except (OSError, subprocess.CalledProcessError):
        return None
    return _JAR


# ---------------------------------------------------------- registration
# (session identity, udf name) pairs already registered. Keyed by the
# JVM SparkSession's identity hash, NOT the applicationId: UDF
# registries are PER-SESSION, and Structured Streaming runs foreachBatch
# on a CLONED session — an app-level memo would skip registration on the
# main session after a clone registered first (UNRESOLVED_ROUTINE).
# Jars are the exception: ADD JAR is SparkContext-wide, so the jar memo
# keys on applicationId.
_registered: set[tuple[str, str]] = set()


def _session_key(spark: SparkSession) -> str:
    """The JVM session's UUID, remembered on the Python handle (which
    wraps one JVM session for life)."""
    key = spark.__dict__.get("_avro_spark_session_key")
    if key is None:
        try:
            key = str(spark._jsparkSession.sessionUUID())
        except Exception:  # non-classic shells without the JVM handle
            key = app_id(spark.sparkContext)
        spark._avro_spark_session_key = key
    return key


def _attach(spark: SparkSession) -> bool:
    jar = ensure_jar()
    if jar is None:
        return False
    key = (app_id(spark.sparkContext), "__jar__")
    if key not in _registered:
        spark.sql(f"ADD JAR '{jar}'")
        _registered.add(key)
    return True


def jvm_codec_available(spark: SparkSession) -> bool:
    """True when the compiled codec jar could be built and attached."""
    try:
        return _attach(spark)
    except Exception:
        return False


def _jar_object(spark: SparkSession, cls: str):
    """The one instance, per SparkContext, of the codec jar's nested
    class ``AvroCodecUDF$<cls>``, loaded through the session's jar class
    loader: ``spark._jvm`` resolves an ``ADD JAR`` class only on the
    thread that added the jar."""
    objs = spark.sparkContext.__dict__.setdefault("_avro_spark_jar_objs", {})
    obj = objs.get(cls)
    if obj is None:
        loader = spark._jsparkSession.sharedState().jarClassLoader()
        obj = objs[cls] = loader.loadClass(
            f"avrospark.AvroCodecUDF${cls}").newInstance()
    return obj


def scan_files(spark: SparkSession, scan: DataFrame
               ) -> "Optional[list[tuple[str, int]]]":
    """``[(uri, bytes)]`` of every file the file-source ``scan`` reads,
    sorted by URI, from its own ``FileIndex`` (``ScanFiles``): no job,
    no second listing, one py4j round trip warm. None when the jar is
    unavailable."""
    if not _attach(spark):
        return None
    out = _jar_object(spark, "ScanFiles").apply(scan._jdf)
    return sorted((uri, int(n)) for n, _, uri in (
        rec.partition("\t") for rec in out.split("\0") if rec))


def _register(spark: SparkSession, name: str, cls: str, rtype,
              app: Optional[str] = None) -> str:
    """Register Java UDF ``cls`` with return type ``rtype`` as ``name``
    in ``spark``'s session, once per session key ``app``. Returns
    ``name``."""
    app = app or _session_key(spark)
    if (app, name) not in _registered:
        spark.udf.registerJavaFunction(
            name, f"avrospark.AvroCodecUDF${cls}", rtype)
        _registered.add((app, name))
    return name


_DOT_FN = "avsp_jvm_dot"


def dot_jvm(spark: SparkSession) -> Optional[str]:
    """Register the strict-left-fold JVM dot product (AvroCodecUDF$Dot)
    and return its SQL function name, or None when no JDK/jar — callers
    fall back to the bit-identical zip_with+aggregate HOF form."""
    try:
        if not _attach(spark):
            return None
    except Exception:
        return None
    return _register(spark, _DOT_FN, "Dot", T.DoubleType())


_VEC_UDFS = {
    "avsp_jvm_argmax_centroid": ("ArgmaxCentroid", T.IntegerType()),
    "avsp_jvm_pq_codes": ("PqCodes", T.ArrayType(T.IntegerType())),
    "avsp_jvm_pq_reconstruct": ("PqReconstruct", T.ArrayType(T.DoubleType())),
}


def vec_udf(spark: SparkSession, name: str) -> Optional[str]:
    """Register one of the vector-scoring Java UDFs (strict-fold float
    parity with their HOF twins — see AvroCodecUDF javadoc) and return
    its SQL name, or None when no JDK/jar (callers keep the HOF form)."""
    try:
        if not _attach(spark):
            return None
    except Exception:
        return None
    return _register(spark, name, *_VEC_UDFS[name])


#: block codecs the JVM container path can decompress — all six
#: Avro-spec codecs (r8): snappy is the from-scratch public-format
#: implementation mirrored in snappy_codec.py; zstandard uses the
#: zstd-jni library every Spark distribution ships; bzip2/xz route
#: through commons-compress + org.tukaani.xz, also on every Spark
#: classpath. The same six compress JVM-side on the write path
#: (CompressBlock).
JVM_OCF_CODECS = ("null", "deflate", "snappy", "zstandard", "bzip2", "xz")

_COMPRESS_FN = "avsp_jvm_compress_block"


def compress_blocks_jvm(
    blocks: DataFrame, codec: str, level: "Optional[int]",
    data_col: str = "body", out_col: str = "data",
) -> DataFrame:
    """Replace ``data_col`` (raw concatenated record bytes of one OCF
    block) with its JVM-compressed, Avro-framed payload in ``out_col``.
    A narrow projection — partition identity and row order survive, so
    the downstream writer stage still owns exactly its task's blocks."""
    spark = blocks.sparkSession
    if not _attach(spark):
        raise RuntimeError("JVM codec jar unavailable")
    fn = _register(spark, _COMPRESS_FN, "CompressBlock", T.BinaryType())
    cols = [F.col(c) for c in blocks.columns if c != data_col]
    return blocks.select(
        *cols,
        F.expr(
            f"{fn}({_sql_str(codec)}, "
            f"{'CAST(NULL AS INT)' if level is None else int(level)}, "
            f"{data_col})"
        ).alias(out_col),
    )


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _ocf_read(df: DataFrame, schema: Schema, inputs: "tuple[str, ...]",
              expect_schema_json: str,
              columns: "Optional[list[str]]", value: bool = False
              ) -> DataFrame:
    """``df`` → the records its ``inputs`` columns hold, through ONE
    select of the jar's OCF read generator (``OcfReadColumn``): whole
    OCF files, OCF blocks, or, with ``value``, one Avro value per row.
    The generator Column is built once per schema content, projection,
    expected schema, input columns and input shape
    (:func:`avro_spark.plans.compiled.built_columns`): one py4j round
    trip cold, none warm."""
    import json

    from ..plans.compiled import built_columns, schema_key
    from ..sources.avro_binary import (
        decoded_type, project_struct_type, projection_csv, validate_projection,
    )

    root = schema.root
    if not isinstance(root, Record):
        raise CompileError("decode_ocf_blocks_jvm requires a record schema")
    spark = df.sparkSession
    if not _attach(spark):
        raise JvmUnsupported("no JDK available to build the codec jar")

    def build():
        spark_t = schema.to_struct_type()
        keep_csv = ""
        if columns is not None:
            spec = validate_projection(root, columns)
            spark_t = project_struct_type(spark_t, columns)
            keep_csv = projection_csv(root, spec)
        jcol = _jar_object(spark, "OcfReadColumn").column(
            json.dumps(plain_avro_json(root)), keep_csv, expect_schema_json,
            decoded_type(spark_t).json(), "\0".join(inputs), value)
        return [Column(jcol)]

    (gen,) = built_columns(
        ("ocf_read", schema_key(schema),
         None if columns is None else tuple(columns), expect_schema_json,
         inputs, value), build)
    return df.select(gen)


def decode_ocf_blocks_jvm(
    blocks: DataFrame, schema: Schema, codec_col: str = "codec",
    count_col: str = "count", data_col: str = "data",
    columns: "Optional[list[str]]" = None,
) -> DataFrame:
    """(codec, count, compressed payload) block rows → record-shaped
    DataFrame: one select of the OCF read generator, which inflates each
    block and decodes its records JVM-side straight into Catalyst rows.
    Records stream out lazily, so task memory is bounded by BLOCK size,
    never file or split size.

    ``columns`` pushes the projection INTO the decoder: unrequested
    fields, nested dotted ones included, are byte-skipped, never
    materialized (the Avro analogue of parquet column pruning — the
    bytes are still read, row format, but nothing is allocated or
    shipped for pruned fields)."""
    return _ocf_read(blocks, schema, (codec_col, count_col, data_col), "",
                     columns)


def read_ocf_content_jvm(
    files: DataFrame, schema: Schema, expect_schema_json: str = "",
    columns: "Optional[list[str]]" = None,
) -> DataFrame:
    """binaryFile rows (``content`` = whole OCF file bytes) → records,
    fully JVM-side in one select of the OCF read generator: it checks the
    file's container framing, then inflates and decodes one block at a
    time into Catalyst rows. ~10× the Python row codec on the engine's
    primary file-ingest path. ``expect_schema_json`` (non-empty) makes
    the generator BYTE-compare each file's embedded writer schema — the
    per-file guard for STREAMING reads, where plan-time header peeks
    don't exist; batch readers verify canonically at plan time and pass
    the default empty string."""
    return _ocf_read(files, schema, ("content",), expect_schema_json,
                     columns)


def _relaxed(dt: T.DataType) -> T.DataType:
    """Same type shape with every nullability flag set True and field
    metadata dropped (cast targets must not be stricter than the data).
    Shared tree-walk with the Python codec's metadata strip."""
    from ..sources.avro_binary import _strip_metadata

    return _strip_metadata(dt, relax_nulls=True)


# ------------------------------------------------------------ public API
def to_avro_bytes_jvm(df: DataFrame, schema: Schema, column: str = "avro") -> DataFrame:
    """Record-shaped DataFrame → Avro-binary column, fully JVM-side."""
    import json

    root = schema.root
    if not isinstance(root, Record):
        raise CompileError("to_avro_bytes requires a record schema")
    spark = df.sparkSession
    if not _attach(spark):
        raise JvmUnsupported("no JDK available to build the codec jar")
    json_str = json.dumps(plain_avro_json(root))
    fn = _register(spark, _ENC_FN, "Encode", T.BinaryType())
    spark_t = schema.to_struct_type()
    # cast each column to the schema's Spark type so the Java side sees
    # exactly the boxed types it expects (e.g. int column vs long field);
    # nullability is relaxed — Spark refuses nullable→non-null casts and
    # the codec checks nulls itself
    struct_col = F.struct(
        *[
            F.col(f.name).cast(_relaxed(f.dataType)).alias(f.name)
            for f in spark_t.fields
        ]
    )
    return df.select(F.call_udf(fn, F.lit(json_str), struct_col).alias(column))


def from_avro_bytes_jvm(
    df: DataFrame, column: str, schema: Schema,
    columns: "Optional[list[str]]" = None,
) -> DataFrame:
    """Avro-binary column → record-shaped DataFrame, fully JVM-side: one
    select of the OCF read generator taking one Avro value per row, so
    the wire decode runs the OCF read's decode plan. ``columns`` pushes
    the projection into the decoder (unrequested fields byte-skip)."""
    if not isinstance(schema.root, Record):
        raise CompileError("from_avro_bytes requires a record schema")
    return _ocf_read(df, schema, (column,), "", columns, value=True)

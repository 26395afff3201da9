"""Schema-registry wire format for Kafka-style pipelines.

The public Confluent wire format frames every message as::

    0x00 (magic) | 4-byte big-endian schema id | Avro binary body

(`docs.confluent.io` "Wire format" — a published, widely-implemented
convention). This module produces and consumes that framing with this
engine's codec and schema-evolution machinery:

* :func:`to_wire` — record DataFrame → wire-format binary column.
* :func:`from_wire` — wire column + {schema_id → writer Schema} registry →
  reader-shaped records. Each row is decoded with the WRITER schema its
  embedded id names, then converted writer→reader through the resolution
  planner (aliases, promotions, defaults, enum/union remaps) — the exact
  consumer-side story a schema registry exists for.

100 TB notes: to_wire is the codec's narrow projection plus a literal
concat. from_wire filters per distinct registry id (a handful of schema
versions) and unions the converted branches — one scan per LIVE version,
each branch a narrow decode+convert; no shuffles anywhere.

The registry here is a plain dict; id assignment is the caller's concern
(``schema_registry_id`` derives a stable id from the Parsing-Canonical-Form
fingerprint, A10).
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..errors import AvroSparkError, CompileError
from ..schema import Schema
from .. import fingerprint
from ..plans.compiled import convert_records
from .avro_binary import from_avro_bytes, to_avro_bytes

MAGIC = b"\x00"


def schema_registry_id(schema: Schema) -> int:
    """Stable 31-bit positive id from the schema's Parsing-Canonical-Form
    sha256 fingerprint (A10) — deterministic across processes, so
    producers and consumers agree without a central counter."""
    fp = fingerprint(schema, "sha256", 4)
    return int.from_bytes(fp, "big") & 0x7FFFFFFF


def wire_schema_id(col: Column) -> Column:
    """The embedded 4-byte big-endian schema id of a wire-format column."""
    return F.conv(F.hex(F.substring(col, 2, 4)), 16, 10).cast("long")


def to_wire(
    df: DataFrame,
    schema: Schema,
    schema_id: Optional[int] = None,
    column: str = "wire",
    engine: str = "auto",
) -> DataFrame:
    """Record-shaped DataFrame → one wire-format binary column."""
    if schema_id is None:
        schema_id = schema_registry_id(schema)
    if not (0 <= schema_id <= 0xFFFFFFFF):
        raise CompileError(f"schema id out of range: {schema_id}")
    body = to_avro_bytes(df, schema, "_body", engine)
    header = F.lit(MAGIC + schema_id.to_bytes(4, "big"))
    return body.select(F.concat(header, F.col("_body")).alias(column))


def from_wire(
    df: DataFrame,
    column: str,
    registry: Dict[int, Schema],
    reader: Optional[Schema] = None,
    engine: str = "auto",
    on_unknown: str = "error",
) -> DataFrame:
    """Wire-format column → reader-shaped records.

    ``registry``: schema_id → WRITER schema (the version that produced the
    message). ``reader``: target schema — REQUIRED when the registry has
    more than one entry (ids carry no version ordering: fingerprint-derived
    ids are effectively random, so "highest id" would pick an arbitrary
    schema). ``on_unknown``: 'error' fails the job when a row carries an
    unregistered id or a bad magic byte; 'skip' drops such rows.
    """
    if not registry:
        raise CompileError("empty schema registry")
    if on_unknown not in ("error", "skip"):
        raise CompileError(f"bad on_unknown: {on_unknown}")
    if reader is None:
        if len(registry) > 1:
            raise CompileError(
                "from_wire: pass an explicit reader schema — the registry "
                "has multiple versions and ids carry no ordering"
            )
        reader = next(iter(registry.values()))
    wire = F.col(column)
    sid = wire_schema_id(wire)
    # a frame shorter than magic + 4 id bytes must never pass: the id
    # parsed from fewer bytes can collide with a registered small id and
    # the empty/short body would then crash the decoder mid-job even
    # under on_unknown='skip'
    magic_ok = (F.length(wire) >= 5) & (
        F.substring(wire, 1, 1) == F.lit(MAGIC)
    )
    known = magic_ok & sid.isin(*registry.keys())
    if on_unknown == "error":
        guard = F.assert_true(
            known,
            F.concat(
                F.lit("unknown wire message: magic/schema id "),
                F.coalesce(sid.cast("string"), F.lit("?")),
            ),
        )
        checked = df.where(F.coalesce(guard.cast("boolean"), F.lit(True)))
    else:
        checked = df.where(known)
    body = F.expr(f"substring(`{column}`, 6, length(`{column}`) - 5)")
    out: Optional[DataFrame] = None
    for this_id, writer in registry.items():
        sub = checked.where(sid == this_id).select(body.alias("_b"))
        dec = from_avro_bytes(sub, "_b", writer, engine)
        conv = dec if writer is reader else convert_records(dec, writer, reader)
        out = conv if out is None else out.unionByName(conv)
    assert out is not None
    return out


"""Lowering: resolution plan → Spark Column expressions.

This module plays the role of the reference's compiler + backend
(avro_schema/compiler.lua, backend.lua): it turns a §2B resolution plan into
the three generated transforms

* ``flatten``   — writer-shaped record DataFrame → flat cells (reader layout)
* ``unflatten`` — flat cells (writer layout) → reader-shaped record DataFrame
* ``xflatten``  — partial writer record → update-op array

but as *declarative column expressions*: Catalyst + Tungsten then subsume the
reference's IL optimizer and LuaJIT codegen (SURVEY.md §4). All transforms
are narrow (no shuffle) and stay inside whole-stage codegen — they are pure
per-row projections, embarrassingly parallel at any scale.

Representation rules (must agree with schema/spark_types.py):

* record value  → struct (Spark structs are positional+ordered: the exact
  analogue of the reference's positional sub-arrays inside cells, cf.
  test/ddt_suite/array.lua array_complex goldens)
* enum value    → string symbol in record form, int code in flat cells
* union [null,T] → plain nullable column; general union → struct
  ``($type$ int, <tag_i> value_i …)``, flat form = two cells [tag, value]
  (compiler.lua:141-147)
* data-dependent checks (enum membership, fixed length, union versioning)
  are emitted as ``assert_true`` guards — the Spark analogue of the
  reference's runtime "schema versioning" errors (runtime.lua:319-336);
  pass ``validate=False`` to elide them from the plan.
"""

from __future__ import annotations

import threading
from typing import Any, Callable, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..errors import CompileError
from ..schema.nodes import (
    NO_DEFAULT,
    Array,
    Enum,
    Field,
    Fixed,
    Map,
    Primitive,
    Record,
    SchemaNode,
    UnionNode,
)
from ..schema.spark_types import UNION_TAG, to_spark_type, union_null_and_one
from .resolution import FieldSource, Resolved


def _checked(value: Column, cond: Column, msg, node: SchemaNode, validate: bool) -> Column:
    """Guard ``value`` with a data-dependent assertion. ``assert_true``
    evaluates to NULL (then coalesce falls through to value) or raises.
    ``msg`` may be a Column so messages can render the offending value the
    way the reference runtime does (runtime.lua:263-336)."""
    if not validate:
        return value
    guard = F.assert_true(cond, F.lit(msg) if isinstance(msg, str) else msg)
    guard = guard.cast(to_spark_type(node))
    return F.coalesce(guard, value)


def _bad_value(v: Column, versioning: bool = False, loc: str = "",
               quote: bool = True) -> Column:
    """runtime.lua err_value rendering: ``{loc}Bad value: {v}{tag}`` — string
    values %q-quoted, numeric values bare, ' (schema versioning)' appended
    when the value is writer-valid but unmappable to the reader."""
    tag = " (schema versioning)" if versioning else ""
    if quote:
        return F.concat(F.lit(f'{loc}Bad value: "'), v.cast("string"), F.lit(f'"{tag}'))
    return F.concat(F.lit(f"{loc}Bad value: "), v.cast("string"), F.lit(tag))


def _simple_union(node: SchemaNode) -> Optional[SchemaNode]:
    if isinstance(node, UnionNode):
        return union_null_and_one(node)
    return None


def _null_branch_index(node: UnionNode) -> Optional[int]:
    for i, b in enumerate(node.branches):
        if isinstance(b, Primitive) and b.type == "null":
            return i
    return None


# --------------------------------------------------------------- literals
def lit_for(node: SchemaNode, value: Any) -> Column:
    """Typed literal column for a default value (reader-shaped record form)."""
    if value is None or value is NO_DEFAULT:
        return F.lit(None).cast(to_spark_type(node))
    if isinstance(node, Record):
        return F.struct(
            *[
                lit_for(f.type, value.get(f.name, f.default if f.has_default else None)).alias(f.name)
                for f in node.fields
            ]
        )
    if isinstance(node, Array):
        if not value:
            return F.lit([]).cast(to_spark_type(node))
        return F.array(*[lit_for(node.items, v) for v in value])
    if isinstance(node, Map):
        if not value:
            return F.create_map().cast(to_spark_type(node))
        keys = F.array(*[F.lit(k) for k in value])
        vals = F.array(*[lit_for(node.values, v) for v in value.values()])
        return F.map_from_arrays(keys, vals)
    if isinstance(node, UnionNode):
        # internal default form is {tag: value} or None
        simple = _simple_union(node)
        if isinstance(value, dict) and len(value) == 1:
            ((tag, inner),) = value.items()
            idx = node.tag_index()[tag]
            if simple is not None:
                return lit_for(simple, inner)
            fields = [F.lit(idx).alias(UNION_TAG)]
            for i, b in enumerate(node.branches):
                if isinstance(b, Primitive) and b.type == "null":
                    continue
                t = node.branch_tag(i)
                fields.append(
                    (lit_for(b, inner) if i == idx else F.lit(None).cast(to_spark_type(b))).alias(t)
                )
            return F.struct(*fields)
        return F.lit(None).cast(to_spark_type(node))
    if isinstance(node, Fixed) or (isinstance(node, Primitive) and node.type == "bytes"):
        return F.lit(bytes(value) if isinstance(value, (bytes, bytearray)) else str(value).encode())
    return F.lit(value).cast(to_spark_type(node))


# --------------------------------------------- record-form conversion core
#: Max times one (writer, reader) plan node may repeat on a lowering path
#: before the expression is cut — bounds recursive-schema unrolling
#: (frontend.lua:369-389 recursion; SURVEY.md §7 "hard parts"). Data that
#: still has a non-null value at the cut RAISES (the documented deviation:
#: the reference handles unbounded recursive data natively; we reject past
#: the unroll instead of silently nulling it). to_spark_type unrolls the
#: column type deeper than this bound, so the guard is reachable.
MAX_UNROLL = 8

# in-flight per-build unroll budget. THREAD-LOCAL: PySpark drivers
# commonly submit jobs from several threads, and a plain module slot let
# one thread's reduced branching-recursion budget leak into (or get
# cleared under) a concurrent build on another thread.
# NO runtime width counter: branching recursion is detected STATICALLY
# (spark_types.cycle_multiplicity — SCC cyclomatic number, which also
# catches diamond-amplified cycles) and bounded via the reduced depth
# budget; a runtime per-node expansion cap misfired on non-recursive
# schemas that legitimately reuse one named type at many sites.
_TLS = threading.local()  # .budget: int | None (in-flight build only)


def unroll_budget_for(node) -> int:
    """Per-path unroll budget for a build over ``node``'s schema: 2
    levels inside the type's own effective unroll, so the plan never
    dereferences a field the type cut to void. Chains keep MAX_UNROLL;
    branching recursion drops with its multiplicity."""
    from ..schema.spark_types import effective_unroll_depth

    eff_type = effective_unroll_depth(node, 16)
    return min(MAX_UNROLL, max(1, eff_type - 2))


def _open_budget(plan) -> int:
    node = plan.writer if plan.writer is not None else plan.reader
    return unroll_budget_for(node)


def _unroll_budget() -> int:
    b = getattr(_TLS, "budget", None)
    return b if b is not None else MAX_UNROLL


class _build_scope:
    """Context manager opening one build's budget (no-op when a scope is
    already open — nested entry points share the outer one)."""

    def __init__(self, plan):
        self.plan = plan
        self.opened = False

    def __enter__(self):
        if getattr(_TLS, "budget", None) is None:
            _TLS.budget = _open_budget(self.plan)
            self.opened = True
        return self

    def __exit__(self, *exc):
        if self.opened:
            _TLS.budget = None
        return False


def _unroll_guard(src: "Column | None", target) -> Column:
    """Typed null at the recursion cut — loud when data is actually there."""
    null = F.lit(None).cast(target)
    if src is None:
        return null
    # name the limit that actually bound this build: under branching
    # recursion the effective budget is the REDUCED one (unroll_budget_for
    # via cycle_multiplicity), and advising "raise MAX_UNROLL" there is a
    # dead end — the width target is the lever.
    budget = _unroll_budget()
    if budget < MAX_UNROLL:
        hint = (
            f"effective unroll budget {budget} (< MAX_UNROLL={MAX_UNROLL}: "
            "branching recursion is width-bounded via "
            "avro_spark.schema.spark_types.UNROLL_WIDTH_TARGET); re-model "
            "the hot recursion or raise UNROLL_WIDTH_TARGET"
        )
    else:
        hint = (
            f"unroll budget MAX_UNROLL={MAX_UNROLL}; re-model the hot "
            "recursion or raise avro_spark.plans.flatten.MAX_UNROLL"
        )
    return F.when(
        src.isNull(), null
    ).otherwise(
        F.raise_error(
            F.lit(f"recursive data deeper than the unroll bound ({hint})")
        ).cast(target)
    )


def convert_expr(plan: Resolved, src: Column, validate: bool = True,
                 _seen: tuple = ()) -> Column:
    """writer-shaped record-form value → reader-shaped record-form value."""
    if not _seen and getattr(_TLS, "budget", None) is None:
        # outermost call of one field-expression build: open the
        # depth-budget + width-backstop scope
        with _build_scope(plan):
            return convert_expr(plan, src, validate, _seen)
    kind = plan.kind
    if _seen.count(id(plan)) >= _unroll_budget():
        # shallow guard type: the full unrolled reader type is itself
        # exponentially wide under branching recursion, and no legal
        # value exists past the cut anyway
        return _unroll_guard(src, to_spark_type(plan.reader, max_depth=2))
    _seen = _seen + (id(plan),)
    if kind == "copy":
        return src
    if kind == "promote":
        return src.cast(to_spark_type(plan.reader))
    if kind == "enum":
        # symbols match by name; writer symbols absent from the reader are a
        # runtime versioning error (frontend.lua:1199-1229). Message parity
        # with runtime.lua err_value: a symbol outside the WRITER schema is
        # plain 'Bad value: "X"'; a writer-valid symbol with no reader
        # mapping appends ' (schema versioning)'.
        reader: Enum = plan.reader  # type: ignore[assignment]
        writer_e: Enum = plan.writer  # type: ignore[assignment]
        valid = [s for s, o in zip(writer_e.symbols, plan.children["i2o"]) if o is not None]
        if len(valid) == len(writer_e.symbols):
            return src
        ver_cond = src.isNull() | src.isin(*valid) if valid else src.isNull()
        checked = _checked(src, ver_cond, _bad_value(src, versioning=True), reader, validate)
        # the writer-membership guard evaluates FIRST (outermost coalesce arg)
        # against the original column, so a symbol foreign to both schemas
        # reports plain 'Bad value', not a versioning error
        w_cond = src.isNull() | src.isin(*writer_e.symbols)
        return _checked(checked, w_cond, _bad_value(src), reader, validate)
    if kind == "fixed":
        fx: Fixed = plan.reader  # type: ignore[assignment]
        # runtime.lua err_length rendering
        msg = F.concat(
            F.lit(f"Expecting BIN of length {fx.size}. Encountered BIN of length "),
            F.length(src).cast("string"), F.lit("."),
        )
        return _checked(
            src, src.isNull() | (F.length(src) == fx.size), msg, fx, validate,
        )
    if kind == "array":
        item_plan = plan.children["items"]
        if _is_identity(item_plan):
            return src
        return F.transform(src, lambda x: convert_expr(item_plan, x, validate, _seen))
    if kind == "map":
        val_plan = plan.children["values"]
        if _is_identity(val_plan):
            return src
        return F.transform_values(src, lambda k, v: convert_expr(val_plan, v, validate, _seen))
    if kind == "record":
        out = F.struct(
            *[
                _field_value(s, lambda wf, s_=src: s_.getField(wf.name), validate, _seen).alias(s.reader_field.name)
                for s in plan.children["sources"]
                if not s.reader_field.hidden
            ]
        )
        if plan.writer is not None and plan.writer.nullable:
            out = F.when(src.isNull(), F.lit(None).cast(to_spark_type(plan.reader))).otherwise(out)
        return out
    if kind in ("union", "from_union", "to_union"):
        return _convert_union(plan, src, validate, _seen)
    raise CompileError(f"cannot lower plan kind {kind}")


def _is_identity(plan: Resolved, _seen: Optional[set] = None) -> bool:
    """True when the conversion is a no-op (lets Catalyst see a bare column —
    the analogue of the reference's MOVE elision, il.lua:441-484). Cyclic
    (recursive-schema) plans assume identity on the back-edge: a cycle is
    identity iff everything reachable from it is."""
    if _seen is None:
        _seen = set()
    if id(plan) in _seen:
        return True
    _seen.add(id(plan))
    k = plan.kind
    if k == "copy":
        return True
    if k == "fixed":
        return False  # keeps the length check
    if k == "enum":
        i2o = plan.children["i2o"]
        return all(o is not None for o in i2o) and plan.writer.symbols == plan.reader.symbols
    if k == "array":
        return _is_identity(plan.children["items"], _seen)
    if k == "map":
        return _is_identity(plan.children["values"], _seen)
    if k == "record":
        w, r = plan.writer, plan.reader
        if w is None or len(w.fields) != len(r.fields):
            return False
        for i, s in enumerate(plan.children["sources"]):
            if s.writer_index != i or s.plan is None or not _is_identity(s.plan, _seen):
                return False
            if s.reader_field.hidden or (s.writer_field and s.writer_field.hidden):
                return False
        return True
    if k == "union":
        w, r = plan.writer, plan.reader
        if len(w.branches) != len(r.branches):
            return False
        for i, hit in enumerate(plan.children["branches"]):
            if hit is None or hit[0] != i or not _is_identity(hit[1], _seen):
                return False
        return True
    return False


def _field_value(src_spec: FieldSource, get_src: Callable[[Field], Column], validate: bool,
                 _seen: tuple = ()) -> Column:
    """Record-form value of one reader field (default-synthesized or
    converted from the writer field)."""
    rf = src_spec.reader_field
    if src_spec.writer_field is None:
        if rf.has_default:
            return lit_for(rf.type, rf.default)
        return F.lit(None).cast(to_spark_type(rf.type))
    raw = get_src(src_spec.writer_field)
    val = convert_expr(src_spec.plan, raw, validate, _seen)
    if rf.has_default and not isinstance(rf.type, (Record, UnionNode)):
        # missing/null input falls back to the default (frontend.lua:846-882)
        val = F.coalesce(val, lit_for(rf.type, rf.default))
    return val


def record_field_exprs(plan: Resolved) -> list[tuple[str, Column]]:
    """Top-level reader fields (name, expr) of a record plan, each read
    straight from its writer-shaped record column: the record-form
    conversion, with no flat layout in between. Hidden reader fields are
    omitted, as in unflatten."""
    assert plan.kind == "record"
    with _build_scope(plan):
        return [(s.reader_field.name,
                 _field_value(s, lambda wf: F.col(wf.name), True))
                for s in plan.children["sources"]
                if not s.reader_field.hidden]


# ------------------------------------------------------------------ unions
def _union_value_type(reader: UnionNode, max_depth: int = 16):
    """Spark type of a general union's flat value cell (branch-field struct
    without the tag)."""
    from pyspark.sql import types as T

    simple = _simple_union(reader)
    if simple is not None:
        return to_spark_type(simple, max_depth=max_depth)
    full = to_spark_type(reader, max_depth=max_depth)
    return T.StructType([f for f in full.fields if f.name != UNION_TAG])


def _union_parts(plan: Resolved, src: Column, validate: bool,
                 _seen: tuple = ()) -> tuple[Column, Column]:
    """(tag, value) columns for the reader union, from writer-form ``src``."""
    kind = plan.kind
    if _seen.count(id(plan)) >= _unroll_budget():
        # recursion cut: typed nulls so downstream getField still resolves;
        # loud when a value actually reached the cut
        return (
            _unroll_guard(src, "int"),
            F.lit(None).cast(_union_value_type(plan.reader, max_depth=2)),
        )
    # NOTE: no _seen append here — convert_expr is the sole appender, so
    # MAX_UNROLL counts recursion LEVELS. Appending in this helper too
    # (reached via convert_expr → _convert_union → here, all three with
    # the same plan id) triple-counted each level and fired the guard on
    # legal depth-5 data (round-4 review catch).
    reader: UnionNode = plan.reader  # type: ignore[assignment]
    r_simple = _simple_union(reader)

    if kind == "to_union":
        j, p = plan.children["branch"]
        tag = F.when(src.isNull(), F.lit(_null_branch_index(reader))).otherwise(F.lit(j)) \
            if src is not None else F.lit(j)
        val = convert_expr(p, src, validate, _seen)
        return tag.cast("int"), _wrap_union_value(reader, val, j)

    if kind == "union":
        writer: UnionNode = plan.writer  # type: ignore[assignment]
        w_simple = _simple_union(writer)
        branches = plan.children["branches"]
        if w_simple is not None:
            # writer [null, T] — src is a plain nullable column
            w_null = _null_branch_index(writer)
            w_val = next(i for i in range(len(writer.branches)) if i != w_null)
            null_hit, val_hit = branches[w_null], branches[w_val]
            null_tag = F.lit(null_hit[0] if null_hit else None)
            val_tag = F.lit(val_hit[0] if val_hit else None)
            tag = F.when(src.isNull(), null_tag).otherwise(val_tag)
            if validate and (null_hit is None or val_hit is None):
                tag = _checked(tag, tag.isNotNull(), "union branch not in reader schema (schema versioning)", Primitive("int"), validate)
            val = convert_expr(val_hit[1], src, validate, _seen) if val_hit else F.lit(None)
            if val_hit:
                val = _wrap_union_value(reader, F.when(src.isNotNull(), val), val_hit[0])
            else:
                val = F.lit(None).cast(to_spark_type(reader) if r_simple is None else to_spark_type(r_simple))
            return tag.cast("int"), val
        # writer general union — src is a struct ($type$, tag_i...)
        w_tag = src.getField(UNION_TAG)
        tag_expr = F.lit(None).cast("int")
        val_expr = None
        for i in reversed(range(len(writer.branches))):
            hit = branches[i]
            if isinstance(writer.branches[i], Primitive) and writer.branches[i].type == "null":
                branch_src = F.lit(None)
            else:
                branch_src = src.getField(writer.branch_tag(i))
            if hit is None:
                continue
            j, p = hit
            tag_expr = F.when(w_tag == i, F.lit(j)).otherwise(tag_expr)
            v = _wrap_union_value(reader, convert_expr(p, branch_src, validate, _seen), j)
            val_expr = F.when(w_tag == i, v).otherwise(val_expr) if val_expr is not None else F.when(w_tag == i, v)
        # record-form input: an unmapped writer branch renders the
        # reference's 'Unknown key: "tag" (schema versioning)'
        # (runtime.lua err_value iskerror path; union_versions.lua:46)
        msg: Column = F.lit("union branch not in reader schema (schema versioning)")
        for i, hit in enumerate(branches):
            if hit is None:
                msg = F.when(
                    w_tag == i,
                    F.lit(f'Unknown key: "{writer.branch_tag(i)}" (schema versioning)'),
                ).otherwise(msg)
        tag_expr = _checked(
            tag_expr, src.isNull() | tag_expr.isNotNull(),
            msg, Primitive("int"), validate,
        )
        if val_expr is None:
            val_expr = F.lit(None)
        return tag_expr.cast("int"), val_expr

    raise CompileError(f"not a union plan: {kind}")


def _wrap_union_value(reader: UnionNode, val: Column, branch: int) -> Column:
    """Wrap a converted branch value into the reader union's value form."""
    simple = _simple_union(reader)
    if simple is not None:
        return val
    fields = []
    for i, b in enumerate(reader.branches):
        if isinstance(b, Primitive) and b.type == "null":
            continue
        t = reader.branch_tag(i)
        fields.append((val if i == branch else F.lit(None).cast(to_spark_type(b))).alias(t))
    return F.struct(*fields)


def _convert_union(plan: Resolved, src: Column, validate: bool,
                   _seen: tuple = ()) -> Column:
    """Record-form union conversion."""
    reader = plan.reader
    if _seen.count(id(plan)) >= _unroll_budget():
        return _unroll_guard(src, to_spark_type(reader, max_depth=2))
    # no _seen append — convert_expr is the sole appender (see _union_parts)
    if plan.kind == "from_union":
        # union → non-union reader: per-branch conversion, unmatched raises
        writer: UnionNode = plan.writer  # type: ignore[assignment]
        w_simple = _simple_union(writer)
        branches = plan.children["branches"]
        if w_simple is not None:
            w_null = _null_branch_index(writer)
            w_val = next(i for i in range(len(writer.branches)) if i != w_null)
            hit = branches[w_val]
            if hit is None:
                return _checked(
                    F.lit(None).cast(to_spark_type(reader)), src.isNull(),
                    "union branch not compatible with reader (schema versioning)", reader, validate,
                )
            return convert_expr(hit[1], src, validate, _seen)
        w_tag = src.getField(UNION_TAG)
        out = F.lit(None).cast(to_spark_type(reader))
        ok = src.isNull()
        for i, hit in enumerate(branches):
            if hit is None:
                continue
            wb = writer.branches[i]
            branch_src = (
                F.lit(None) if isinstance(wb, Primitive) and wb.type == "null"
                else src.getField(writer.branch_tag(i))
            )
            out = F.when(w_tag == i, convert_expr(hit[1], branch_src, validate, _seen)).otherwise(out)
            ok = ok | (w_tag == i)
        return _checked(out, ok, "union branch not compatible with reader (schema versioning)", reader, validate)

    if plan.kind == "to_union":
        r_simple = _simple_union(reader)
        j, p = plan.children["branch"]
        val = convert_expr(p, src, validate, _seen)
        if r_simple is not None:
            return val
        tag, wrapped = _union_parts(plan, src, validate, _seen)
        return F.struct(tag.alias(UNION_TAG), *[wrapped.getField(f).alias(f) for f in _branch_field_names(reader)])

    # union → union
    r_simple = _simple_union(reader)
    tag, val = _union_parts(plan, src, validate, _seen)
    if r_simple is None:
        return F.struct(tag.alias(UNION_TAG), *[val.getField(f).alias(f) for f in _branch_field_names(reader)])
    if any(hit is None for hit in plan.children["branches"]):
        # the plain value has no tag cell: check the tag anyway, so a
        # writer branch the reader lacks raises the tag's versioning
        # error instead of reading as null
        val = _checked(val, tag.isNotNull() | src.isNull(),
                       "union branch not in reader schema (schema versioning)",
                       r_simple, validate)
    return val


def _branch_field_names(u: UnionNode) -> list[str]:
    return [
        u.branch_tag(i)
        for i, b in enumerate(u.branches)
        if not (isinstance(b, Primitive) and b.type == "null")
    ]


# ----------------------------------------------------------- flatten cells
def check_float_inputs(
    node: SchemaNode,
    spark_type,
    path: tuple[str, ...] = (),
) -> None:
    """Bind-time rejection of float/double input columns where the writer
    schema cannot accept a floating value. MsgPack carries a distinct f32
    tag and the reference rejects it per-type ("Expecting INT, encountered
    FLOAT", runtime.lua:263-318); in Spark f32 exists only as a typed
    FloatType column, so the equivalent check is static, against the
    input DataFrame's schema. Only float→float/double and
    double→float/double are representable (float.lua/double.lua accept
    both widths plus ints); every other node kind raises here with the
    reference's runtime rendering. Non-float mismatches keep their
    existing runtime/analysis behavior — integers range-check per row,
    strings/binaries fail in the expression layer."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, FloatType, MapType, StructType,
    )

    if isinstance(spark_type, (FloatType, DoubleType)):
        if isinstance(node, Primitive) and node.type in ("float", "double"):
            return
        if isinstance(node, UnionNode) and any(
            isinstance(b, Primitive) and b.type in ("float", "double")
            for b in node.branches
        ):
            # [null, double]-style unions are plain nullable columns —
            # a float/double column is their valid input form
            return
        tags = {
            "null": "NIL", "boolean": "BOOL", "int": "INT", "long": "LONG",
            "string": "STR", "bytes": "BIN",
        }
        if isinstance(node, Primitive):
            exp = tags[node.type]
        elif isinstance(node, Fixed):
            exp = "BIN"
        elif isinstance(node, Enum):
            exp = "STR"
        elif isinstance(node, Array):
            exp = "ARRAY"
        elif isinstance(node, (Map, Record)):
            exp = "MAP"
        else:  # union: value form is NIL or the single-entry map
            exp = "NIL or MAP"
        enc = "FLOAT" if isinstance(spark_type, FloatType) else "DOUBLE"
        loc = "/".join(path)
        raise CompileError(
            f"{loc}{': ' if loc else ''}Expecting {exp}, encountered {enc}"
        )
    if isinstance(node, Record) and isinstance(spark_type, StructType):
        names = set(spark_type.names)
        for f in node.fields:
            if f.name in names:
                check_float_inputs(f.type, spark_type[f.name].dataType, path + (f.name,))
    elif isinstance(node, Array) and isinstance(spark_type, ArrayType):
        check_float_inputs(node.items, spark_type.elementType, path)
    elif isinstance(node, Map) and isinstance(spark_type, MapType):
        check_float_inputs(node.values, spark_type.valueType, path)


def flatten_cells(
    plan: Resolved,
    get_src: Callable[[Field], Column],
    prefix: tuple[str, ...] = (),
    validate: bool = True,
) -> list[tuple[str, Column]]:
    """Flat cells (name, expr) for a record plan, in reader layout order
    (compiler.lua:510-619 flatten semantics: schema order, defaults,
    inlined non-nullable sub-records, [tag, value] unions, enum codes)."""
    assert plan.kind == "record", plan.kind
    with _build_scope(plan):
        return _flatten_cells_inner(plan, get_src, prefix, validate)


def _flatten_cells_inner(
    plan: Resolved,
    get_src: Callable[[Field], Column],
    prefix: tuple[str, ...] = (),
    validate: bool = True,
) -> list[tuple[str, Column]]:
    cells: list[tuple[str, Column]] = []
    for s in plan.children["sources"]:
        rf = s.reader_field
        path = prefix + (rf.name,)
        dotted = ".".join(path)
        node = rf.type
        if isinstance(node, Record) and not node.nullable:
            if s.writer_field is None:
                # synthesized whole sub-record from the default
                value = rf.default if rf.has_default else None
                cells.extend(_default_cells(node, value, path))
            elif s.plan.kind == "record":
                sub_src = get_src(s.writer_field)
                cells.extend(
                    flatten_cells(
                        s.plan,
                        lambda wf, s_=sub_src: s_.getField(wf.name),
                        path, validate,
                    )
                )
            else:
                # writer union → reader non-nullable record (from_union):
                # convert the record-form value to the reader shape first,
                # then inline it through an IDENTITY plan — the union plan
                # has no reader-layout field sources to walk directly
                from .resolution import resolve as _resolve

                sub_src = get_src(s.writer_field)
                conv = convert_expr(s.plan, sub_src, validate)
                ident = _resolve(node, node)
                cells.extend(
                    flatten_cells(
                        ident,
                        lambda wf, c_=conv: c_.getField(wf.name),
                        path, validate,
                    )
                )
        elif isinstance(node, UnionNode):
            if s.writer_field is None:
                value = rf.default if rf.has_default else None
                tag_c, val_c = _default_union_cells(node, value)
            else:
                tag_c, val_c = _union_parts(s.plan, get_src(s.writer_field), validate)
            cells.append((dotted + ".$type$", tag_c))
            cells.append((dotted, val_c))
        elif isinstance(node, Enum):
            val = _field_value(s, get_src, validate)
            cells.append((dotted, _enum_code(node, val, validate)))
        else:
            cells.append((dotted, _field_value(s, get_src, validate)))
    return cells


def _enum_code(node: Enum, symbol: Column, validate: bool) -> Column:
    pairs: list[Column] = []
    for i, s in enumerate(node.symbols):
        pairs += [F.lit(s), F.lit(i)]
    code = F.element_at(F.create_map(*pairs), symbol)
    # runtime.lua err_value: a symbol outside the schema renders
    # 'Bad value: "X"' (enum.lua:65)
    return _checked(
        code, symbol.isNull() | code.isNotNull(),
        _bad_value(symbol), Primitive("int"), validate,
    )


def _enum_symbol(node: Enum, code: Column, i2o: Optional[list] = None, reader: Optional[Enum] = None) -> Column:
    """int code (writer) → symbol string (reader); identity remap when no
    evolution."""
    target = reader or node
    pairs: list[Column] = []
    for i in range(len(node.symbols)):
        o = i if i2o is None else i2o[i]
        if o is not None:
            pairs += [F.lit(i), F.lit(target.symbols[o])]
    if not pairs:
        return F.lit(None).cast("string")
    return F.element_at(F.create_map(*pairs), code)


def _default_cells(node: Record, value: Any, path: tuple[str, ...]) -> list[tuple[str, Column]]:
    """Flat cells for a whole defaulted sub-record."""
    out: list[tuple[str, Column]] = []
    for f in node.fields:
        fpath = path + (f.name,)
        dotted = ".".join(fpath)
        fval = None
        if isinstance(value, dict) and f.name in value:
            fval = value[f.name]
        elif f.has_default:
            fval = f.default
        ft = f.type
        if isinstance(ft, Record) and not ft.nullable:
            out.extend(_default_cells(ft, fval, fpath))
        elif isinstance(ft, UnionNode):
            tag_c, val_c = _default_union_cells(ft, fval)
            out.append((dotted + ".$type$", tag_c))
            out.append((dotted, val_c))
        elif isinstance(ft, Enum):
            code = ft.symbol_index().get(fval) if isinstance(fval, str) else None
            out.append((dotted, F.lit(code).cast("int")))
        else:
            out.append((dotted, lit_for(ft, fval)))
    return out


def _default_union_cells(node: UnionNode, value: Any) -> tuple[Column, Column]:
    simple = _simple_union(node)
    if value is None:
        nb = _null_branch_index(node)
        tag = F.lit(nb).cast("int")
        val = F.lit(None).cast(to_spark_type(simple) if simple is not None else to_spark_type(node))
        return tag, val
    assert isinstance(value, dict) and len(value) == 1
    ((tag_name, inner),) = value.items()
    idx = node.tag_index()[tag_name]
    tag = F.lit(idx).cast("int")
    val = lit_for(node.branches[idx], inner)
    if simple is None:
        val = _wrap_union_value(node, val, idx)
    return tag, val


# --------------------------------------------------------- unflatten cells
def field_cell_slices(rec: Record) -> list[tuple[Field, int, int]]:
    """(field, start, width) cell slices of a record's flat layout."""
    out = []
    pos = 0
    for f in rec.fields:
        w = f.type.width()
        out.append((f, pos, w))
        pos += w
    return out


def unflatten_field_exprs(
    plan: Resolved,
    cells: list[Column],
    validate: bool = True,
    base: int = 1,
) -> list[tuple[str, Column]]:
    """Top-level reader fields (name, expr) from writer-layout flat cells
    (compiler.lua:770-800 unflatten semantics; hidden fields omitted,
    compiler.lua:783-789). ``base`` is the 1-based flat index of the first
    data cell (service fields shift it) so runtime errors can render the
    reference's ``N: `` cell-location prefix (runtime.lua extract_location)."""
    assert plan.kind == "record"
    with _build_scope(plan):
        return _unflatten_field_exprs_inner(plan, cells, validate, base)


def _unflatten_field_exprs_inner(
    plan: Resolved,
    cells: list[Column],
    validate: bool = True,
    base: int = 1,
) -> list[tuple[str, Column]]:
    writer: Record = plan.writer  # type: ignore[assignment]
    slices = {f.name: (start, w) for f, start, w in field_cell_slices(writer)}
    out: list[tuple[str, Column]] = []
    for s in plan.children["sources"]:
        rf = s.reader_field
        if rf.hidden:
            continue
        if s.writer_field is None:
            out.append((rf.name, lit_for(rf.type, rf.default if rf.has_default else None)))
            continue
        start, w = slices[s.writer_field.name]
        out.append((rf.name, _unflatten_value(s.plan, cells[start : start + w], validate, base + start)))
    return out


def _unflatten_value(plan: Resolved, cells: list[Column], validate: bool,
                     pos: int = 1) -> Column:
    kind = plan.kind
    loc = f"{pos}: "
    if kind in ("copy", "promote", "fixed"):
        assert len(cells) == 1
        return convert_expr(plan, cells[0], validate)
    if kind == "enum":
        # flat cell carries the writer's int code → reader symbol string.
        # runtime.lua err_value: code outside the writer's range is plain
        # '1: Bad value: 5'; writer-valid but unmapped appends
        # ' (schema versioning)' (enum_versions.lua:72)
        writer: Enum = plan.writer  # type: ignore[assignment]
        reader: Enum = plan.reader  # type: ignore[assignment]
        code = cells[0]
        sym = _enum_symbol(writer, code, plan.children["i2o"], reader)
        checked = _checked(
            sym, code.isNull() | sym.isNotNull(),
            _bad_value(code, versioning=True, loc=loc, quote=False),
            reader, validate,
        )
        w_cond = code.isNull() | ((code >= 0) & (code < len(writer.symbols)))
        return _checked(
            checked, w_cond, _bad_value(code, loc=loc, quote=False),
            reader, validate,
        )
    if kind in ("array", "map"):
        assert len(cells) == 1
        return convert_expr(plan, cells[0], validate)
    if kind == "record":
        writer = plan.writer
        if writer.nullable:
            # nullable record: one struct cell
            assert len(cells) == 1
            return convert_expr(plan, cells[0], validate)
        slices = field_cell_slices(writer)
        parts: list[Column] = []
        for s in plan.children["sources"]:
            rf = s.reader_field
            if rf.hidden:
                continue
            if s.writer_field is None:
                parts.append(lit_for(rf.type, rf.default if rf.has_default else None).alias(rf.name))
            else:
                f, start, w = slices[s.writer_index]
                parts.append(_unflatten_value(s.plan, cells[start : start + w], validate, pos + start).alias(rf.name))
        return F.struct(*parts)
    if kind in ("union", "from_union"):
        # writer union occupies two cells [tag, value]
        assert len(cells) == 2
        w_tag, w_val = cells
        writer = plan.writer
        reader = plan.reader
        w_simple = _simple_union(writer)
        if validate:
            w_tag = _guard_flat_union_tag(plan, w_tag, loc, validate)
        if w_simple is not None:
            # the tag cell is load-bearing even for [null, T]: a
            # null-branch tag means null REGARDLESS of the value cell
            # (and out-of-range tags error above, matching union.lua:160)
            w_null = _null_branch_index(writer)
            src = (
                F.when(w_tag == w_null, F.lit(None)).otherwise(w_val)
                if w_null is not None
                else w_val
            )
        else:
            src = _rebuild_union_struct(writer, w_tag, w_val)
        return _convert_union(plan, src, validate)
    if kind == "to_union":
        w = plan.writer
        if isinstance(w, Enum):
            # the flat cell is the writer's int CODE; the record-form
            # union conversion expects the SYMBOL — decode (and
            # range-check) before wrapping
            assert len(cells) == 1
            code = cells[0]
            sym = F.element_at(
                F.array(*[F.lit(s) for s in w.symbols]), (code + 1).cast("int")
            )
            sym = _checked(
                sym,
                code.isNull() | ((code >= 0) & (code < len(w.symbols))),
                _bad_value(code, loc=loc, quote=False),
                Primitive("string"), validate,
            )
            return _convert_union(plan, sym, validate)
        if isinstance(w, Record) and not w.nullable:
            raise CompileError(
                "unflatten: inlined (non-nullable) writer record → reader "
                "union is not supported — the record occupies multiple "
                "flat cells with no union framing"
            )
        assert len(cells) == 1
        return _convert_union(plan, cells[0], validate)
    raise CompileError(f"cannot unflatten plan kind {kind}")


def _guard_flat_union_tag(plan: Resolved, w_tag: Column, loc: str,
                          validate: bool) -> Column:
    """Flat-form union tag checks with the reference's renderings
    (runtime.lua err_value over the tag cell): out-of-range tags are plain
    '1: Bad value: 3' (union.lua:160), writer-valid tags whose branch has no
    reader mapping append ' (schema versioning)' (union_versions.lua:87)."""
    writer: UnionNode = plan.writer  # type: ignore[assignment]
    branches = plan.children["branches"]
    unmapped = [i for i, hit in enumerate(branches) if hit is None]
    checked = w_tag
    if unmapped:
        ver_cond = w_tag.isNull() | ~w_tag.isin(*unmapped)
        checked = _checked(
            checked, ver_cond,
            _bad_value(w_tag, versioning=True, loc=loc, quote=False),
            Primitive("int"), validate,
        )
    range_cond = w_tag.isNull() | ((w_tag >= 0) & (w_tag < len(writer.branches)))
    return _checked(
        checked, range_cond, _bad_value(w_tag, loc=loc, quote=False),
        Primitive("int"), validate,
    )


def _rebuild_union_struct(writer: UnionNode, tag: Column, val: Column) -> Column:
    """Reassemble the struct record-form of a general union from its two flat
    cells (value cell is already the branch-field struct)."""
    return F.struct(tag.cast("int").alias(UNION_TAG), *[val.getField(f).alias(f) for f in _branch_field_names(writer)])


# ---------------------------------------------------------------- xflatten
def _x_field_optional(node: SchemaNode) -> bool:
    """May the field be ABSENT inside a record VALUE? Nullable types and
    unions with a null branch fill null; everything else is required
    (record.lua:633 'f3/X: Key missing: "f3"')."""
    if node.nullable:
        return True
    return isinstance(node, UnionNode) and any(
        isinstance(b, Primitive) and b.type == "null" for b in node.branches
    )


def _x_check_complete(node: Record, spark_type, path: tuple[str, ...]) -> None:
    """A record VALUE inside an xflatten op is a single cell updated
    wholesale — unlike the top-level partial record, it must be COMPLETE.
    A partial input struct missing a required field raises the
    reference's rendering, path-prefixed: 'f2: Key missing: "f4"'
    (record.lua:672-685, compiler.lua:978-994)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if not isinstance(spark_type, StructType):
        return
    names = set(spark_type.names)
    for f in node.fields:
        if f.name not in names:
            if f.has_default or _x_field_optional(f.type):
                continue
            loc = "/".join(path)
            raise CompileError(
                f"{loc}{': ' if loc else ''}Key missing: \"{f.name}\""
            )
        ft = spark_type[f.name].dataType
        inner = f.type
        if isinstance(inner, Record):
            _x_check_complete(inner, ft, path + (f.name,))
        elif isinstance(inner, Array) and isinstance(ft, ArrayType) \
                and isinstance(inner.items, Record):
            _x_check_complete(inner.items, ft.elementType, path + (f.name,))
        elif isinstance(inner, Map) and isinstance(ft, MapType) \
                and isinstance(inner.values, Record):
            _x_check_complete(inner.values, ft.valueType, path + (f.name,))


def _x_check_union_branches(union: UnionNode, spark_type, path: tuple[str, ...]) -> None:
    """Union double-cell update: each record-typed branch VALUE present in
    the input struct must be a complete record (path includes the branch
    tag: 'f3/X: Key missing: "f3"')."""
    from pyspark.sql.types import StructType

    if not isinstance(spark_type, StructType):
        return
    names = set(spark_type.names)
    for i, b in enumerate(union.branches):
        if not isinstance(b, Record):
            continue
        tag = union.branch_tag(i)
        if tag in names:
            _x_check_complete(b, spark_type[tag].dataType, path + (tag,))


def xflatten_ops(
    plan: Resolved,
    input_type,
    n_service: int = 0,
    validate: bool = True,
    stringify: bool = True,
    alpha_nullable_record: bool = False,
) -> list[tuple[Column, ...]]:
    with _build_scope(plan):
        return _xflatten_ops_inner(plan, input_type, n_service, validate,
                                   stringify, alpha_nullable_record)


def _xflatten_ops_inner(
    plan: Resolved,
    input_type,
    n_service: int = 0,
    validate: bool = True,
    stringify: bool = True,
    alpha_nullable_record: bool = False,
) -> list[tuple[Column, ...]]:
    """Update ops for the xflatten transform (compiler.lua:922-1024): for
    each writer field *present* in the input, one ``('=', index, value)`` op
    per flat cell, 1-based reader-layout indices offset by the service-field
    count (init.lua:356-360). Union fields update both cells
    (compiler.lua:1002-1013).

    Presence is structural: ``input_type`` is the (possibly partial)
    ``StructType`` of the input — a non-nullable sub-record given as a
    partial struct updates only its present sub-fields
    (record_nested.lua:59-70). Op order follows the input field order
    (record_version.lua:108-143). Nullable records / arrays / maps are
    single VLO cells updated wholesale.

    Returns a list of (op, index, value) column triples; the caller packs
    them into an array-of-structs column. ``stringify`` casts values to
    string so heterogeneous cell types fit one Spark array.
    """
    assert plan.kind == "record"

    def maybe_str(c: Column) -> Column:
        return c.cast("string") if stringify else c

    return _x_record_ops(
        plan, F.col, input_type, 1 + n_service, validate, maybe_str,
        alpha_nullable_record,
    )


def _x_record_ops(
    plan: Resolved,
    get_src: Callable[[str], Column],
    input_type,
    base_pos: int,
    validate: bool,
    maybe_str: Callable[[Column], Column],
    alpha_nullable_record: bool = False,
    path: tuple[str, ...] = (),
) -> list[tuple[Column, ...]]:
    input_names = list(input_type.fieldNames())
    groups: list[tuple[int, list[tuple[Column, ...]]]] = []
    pos = base_pos
    for s in plan.children["sources"]:
        rf = s.reader_field
        node = rf.type
        w = node.width()
        if s.writer_field is None or s.writer_field.name not in input_names:
            pos += w
            continue
        wname = s.writer_field.name
        wnode = s.writer_field.type  # completeness is checked input-side
        src = get_src(wname)
        ops: list[tuple[Column, ...]] = []
        if isinstance(node, UnionNode):
            # union double-cell update (compiler.lua:1002-1013); a record
            # branch VALUE must be complete — it fills one cell wholesale
            if isinstance(wnode, UnionNode):
                _x_check_union_branches(
                    wnode, input_type[wname].dataType, path + (wname,)
                )
            tag_c, val_c = _union_parts(s.plan, src, validate)
            ops.append((F.lit("="), F.lit(pos), maybe_str(tag_c)))
            ops.append((F.lit("="), F.lit(pos + 1), maybe_str(val_c)))
        elif isinstance(node, Record) and node.nullable:
            # nullable record = one VLO cell; the op value is the whole
            # converted record (record.lua:680-692: ["=", i, [f3, f4]]).
            # Alpha-gated like the reference (compiler.lua:978-994) — the
            # DDT runner enables it (run_ddt_tests.lua:156), the public
            # default errors.
            if not alpha_nullable_record:
                raise CompileError(
                    "xflatten for nullable record is on developement stage. "
                    "Use alpha_nullable_record_xflatten option if you "
                    "understand what you do."
                )
            if isinstance(wnode, Record):
                _x_check_complete(
                    wnode, input_type[wname].dataType, path + (wname,)
                )
            val = convert_expr(s.plan, src, validate)
            ops.append((F.lit("="), F.lit(pos), maybe_str(val)))
        elif isinstance(node, Record):
            # partial sub-record: recurse with the input's sub-struct type
            sub_type = input_type[wname].dataType
            ops.extend(
                _x_record_ops(
                    s.plan,
                    lambda n, s_=src: s_.getField(n),
                    sub_type, pos, validate, maybe_str,
                    alpha_nullable_record,
                    path + (wname,),
                )
            )
        elif isinstance(node, Enum):
            code = _enum_code(node, convert_expr(s.plan, src, validate), validate)
            ops.append((F.lit("="), F.lit(pos), maybe_str(code)))
        else:
            val = convert_expr(s.plan, src, validate)
            ops.append((F.lit("="), F.lit(pos), maybe_str(val)))
        groups.append((input_names.index(wname), ops))
        pos += w
    groups.sort(key=lambda g: g[0])
    return [op for _wi, ops in groups for op in ops]

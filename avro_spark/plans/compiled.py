"""CompiledSchema: the product of ``compile`` (A4).

The reference's ``compile`` (avro_schema/init.lua:400-479) produces generated
LuaJIT closures ``flatten / unflatten / xflatten`` (+ ``_msgpack`` variants).
Here the product is a set of *DataFrame transforms* built from Column
expression plans; Spark's Catalyst/Tungsten are the optimizer and codegen
(SURVEY.md §3.4). All three transforms are narrow projections — zero
shuffles, fully whole-stage-codegen'd, safe at any scale.

The ``_msgpack`` byte-codec variants map to the Avro binary codec
(``to_avro_bytes`` / ``from_avro_bytes``) in
:mod:`avro_spark.sources.avro_binary` — MsgPack itself is an implementation
detail of the reference runtime we do not reproduce (SURVEY.md §2C C1).
"""

from __future__ import annotations

import threading
from typing import Any, Callable, Hashable, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..errors import CompileError
from ..schema import Schema
from ..schema.nodes import Primitive, Record, walk
from .flatten import (
    flatten_cells, lit_for, record_field_exprs, unflatten_field_exprs,
    xflatten_ops,
)
from .layout import SERVICE_FIELD_NAME, build_layout
from .resolution import FieldSource, Resolved, resolve_cached

_SERVICE_TYPES = {"boolean", "int", "long", "float", "double", "string", "bytes"}

#: bound of the built-Column memo of one SparkContext (entries, LRU)
_BUILT_MAX = 256
_BUILT_LOCK = threading.Lock()


def schema_key(s: Schema) -> tuple:
    """Content key of a schema handle: its export and create-options.
    Equal keys parse to equal ASTs, so they plan equal trees."""
    return repr(s.export()), repr(sorted(s.options.items()))


def built_columns(key: Hashable, build: Callable[[], Sequence[Column]]) -> tuple:
    """``build()``'s Column list, built once per SparkContext and
    ``key`` — the reference compiles a (writer, reader) pair's closures
    once and reuses them (init.lua:41-63); rebuilding a JVM Column tree
    costs one py4j round trip per node. Columns are unresolved
    expressions, so one list serves any DataFrame whose columns match
    the key. The memo holds plan state, never results, and is bounded
    (:data:`_BUILT_MAX`, least recently used out). ``key`` must cover
    everything the build reads except the unroll limits, which are
    added here. A build that raises stores nothing."""
    from pyspark import SparkContext

    from ..schema import spark_types
    from . import flatten

    sc = SparkContext._active_spark_context
    if sc is None:
        return tuple(build())
    key = (key, flatten.MAX_UNROLL, spark_types.UNROLL_WIDTH_TARGET,
           getattr(flatten._TLS, "budget", None))
    with _BUILT_LOCK:
        memo = sc.__dict__.setdefault("_avro_spark_built", {})
        got = memo.pop(key, None)
        if got is not None:
            memo[key] = got
            return got
    got = tuple(build())
    with _BUILT_LOCK:
        memo[key] = got
        while len(memo) > _BUILT_MAX:
            del memo[next(iter(memo))]
    return got


def convert_records(df: DataFrame, writer: Schema, reader: Schema) -> DataFrame:
    """Writer-shaped record DataFrame → reader-shaped records in ONE
    projection, one expression per reader field from the resolution plan
    (aliases, reordering, promotions, defaults, enum and union remaps) —
    the conversion ``unflatten(flatten(df))`` makes, without the flat
    layout between. The Column list is built once per schema pair
    (:func:`built_columns`)."""

    def build():
        plan = resolve_cached(writer, reader)
        if plan.kind != "record":
            raise CompileError("writer and reader must both be records")
        return [e.alias(name) for name, e in record_field_exprs(plan)]

    return df.select(*built_columns(
        ("convert_records", schema_key(writer), schema_key(reader)), build))


class CompiledSchema:
    """Holds the writer→reader transform plans for one (writer, reader,
    downgrade, service_fields) combination."""

    def __init__(
        self,
        writer: Schema,
        reader: Optional[Schema] = None,
        downgrade: bool = False,
        service_fields: tuple[str, ...] = (),
        validate: bool = True,
        alpha_nullable_record_xflatten: bool = False,
    ):
        self.writer = writer
        self.reader = reader or writer
        self.downgrade = downgrade
        self.validate = validate
        self.alpha_nullable_record_xflatten = alpha_nullable_record_xflatten
        for sf in service_fields:
            if sf not in _SERVICE_TYPES:
                raise CompileError(f"bad service field type: {sf}")
        # `any` parses and validates but never compiles
        # (frontend.lua:50 "ANY: not supported in compiled schemas")
        for sch in (self.writer, self.reader):
            for node in walk(sch.root):
                if isinstance(node, Primitive) and node.type == "any":
                    raise CompileError("ANY: not supported in compiled schemas")
        self.service_fields = tuple(service_fields)
        # Non-record roots (scalar/enum/array/map/union/fixed) compile in
        # the reference too (any schema is a valid root; e.g.
        # test/ddt_suite/int.lua flattens 42 → [42]). DataFrame contract
        # for them: a single-column input holding the root value. We plan
        # through a synthetic single-field record wrapper — the flat
        # layout is identical (the root occupies the same cells a lone
        # field would), so flatten/unflatten behave exactly like the
        # reference's single-value tuples.
        # A nullable record root is a single VLO tuple cell in the reference
        # (record.lua complex_nullable_schema: output [[...]]) — same
        # single-column contract as a non-record root, so wrap it too.
        self.wrapped_root = (
            not isinstance(self.writer.root, Record)
            or self.writer.root.nullable
            or not isinstance(self.reader.root, Record)
            or self.reader.root.nullable
        )
        if self.wrapped_root:
            # collision avoidance must see BOTH schemas' type names: if
            # only one side defines a user type named '_root_', per-side
            # escalation would name the two wrappers differently and
            # record resolution would reject compatible schemas
            taken = _collect_names(self.writer.root) | _collect_names(self.reader.root)
            self.writer = _wrap_root(self.writer, taken)
            self.reader = _wrap_root(self.reader, taken)
        self.plan: Resolved = resolve_cached(self.writer, self.reader, downgrade)
        if self.plan.kind != "record":  # e.g. writer record vs scalar reader
            raise CompileError("writer and reader must both be records or both roots")
        self._key: Optional[tuple] = None

    def _memo_key(self, op: str, df: DataFrame) -> tuple:
        """:func:`built_columns` key of ``op`` over ``df``: the compiled
        pair's content and options, and ``df``'s column names and types
        (which fix the fields present)."""
        if self._key is None:
            self._key = (
                schema_key(self.writer), schema_key(self.reader),
                self.downgrade, self.validate, self.service_fields,
                self.alpha_nullable_record_xflatten)
        return op, self._key, df.schema.json()

    # ------------------------------------------------------------- naming
    def flat_names(self, which: str = "reader") -> list[str]:
        """Flat DataFrame column names: the layout's dotted names, with
        repeated service-field names disambiguated by ordinal."""
        root: Record = (self.reader if which == "reader" else self.writer).root  # type: ignore
        cells = build_layout(root, self.service_fields)
        names: list[str] = []
        n_service = 0
        for c in cells:
            if c.name == SERVICE_FIELD_NAME:
                n_service += 1
                names.append(f"{SERVICE_FIELD_NAME}{n_service}" if len(self.service_fields) > 1 else c.name)
            else:
                names.append(c.name)
        return names

    def get_names(self) -> list[str]:
        return self.reader.get_names(self.service_fields)

    def get_types(self) -> list[str]:
        return self.reader.get_types(self.service_fields)

    # ---------------------------------------------------------- transforms
    def flatten(self, df: DataFrame, service_values: Sequence[Any] = ()) -> DataFrame:
        """Writer-shaped record DataFrame → flat DataFrame (reader layout).

        ``service_values``: one literal or Column per declared service field
        (constants in flatten — init.lua:223-268).
        """
        if len(service_values) != len(self.service_fields):
            raise CompileError(
                f"expected {len(self.service_fields)} service field values, got {len(service_values)}"
            )
        if self.wrapped_root:
            # service values come from ``service_values`` (constants), so
            # the canonical input is ONE value column; the legacy
            # service-padded shape is still accepted (extra columns are
            # never read)
            if len(df.columns) not in (1, len(self.service_fields) + 1):
                raise CompileError(
                    "non-record root: expected a single value column, "
                    f"got {df.columns}"
                )
            df = df.withColumnRenamed(df.columns[-1], _ROOT_FIELD)
        writer_root: Record = self.writer.root  # type: ignore[assignment]
        missing = [
            f.name for f in writer_root.fields
            if f.name not in df.columns and not f.has_default
        ]
        if missing:
            raise CompileError(f"input is missing writer fields: {missing}")
        # f32/f64 columns bound to non-floating schema nodes are rejected
        # here, with the reference's runtime rendering (the synthetic
        # root wrapper stays out of the error path)
        from .flatten import check_float_inputs

        in_types = {f.name: f.dataType for f in df.schema.fields}
        for wf in writer_root.fields:
            if wf.name in in_types:
                base = () if self.wrapped_root and wf.name == _ROOT_FIELD else (wf.name,)
                check_float_inputs(wf.type, in_types[wf.name], base)
        names = self.flat_names("reader")
        n = len(self.service_fields)

        def build():
            src_cols = set(df.columns)

            def get_src(wf):
                if wf.name in src_cols:
                    return F.col(wf.name)
                return lit_for(wf.type, wf.default)

            cells = flatten_cells(self.plan, get_src, (), self.validate)
            return [e.alias(nm) for (_c, e), nm in zip(cells, names[n:])]

        # service values are the caller's Columns: built per call, never
        # memoized
        exprs = [
            (v if isinstance(v, Column) else F.lit(v))
            .cast(_spark_cast_name(t)).alias(nm)
            for t, v, nm in zip(self.service_fields, service_values, names)
        ]
        cells = built_columns(self._memo_key("flatten", df), build)
        return df.select(*exprs, *cells)

    def unflatten(self, df: DataFrame) -> DataFrame:
        """Flat DataFrame (writer layout, columns matched by position) →
        reader-shaped record DataFrame. Width is length-checked at plan time
        (compiler.lua:1051-1059)."""
        writer_root: Record = self.writer.root  # type: ignore[assignment]
        expected = writer_root.width() + len(self.service_fields)
        if len(df.columns) != expected:
            raise CompileError(
                f"unflatten: expected {expected} columns "
                f"({len(self.service_fields)} service + width {writer_root.width()}), "
                f"got {len(df.columns)}"
            )
        n = len(self.service_fields)

        def build():
            cells = [F.col(f"`{c}`") for c in df.columns[n:]]
            # flat-cell indices in runtime error messages are 1-based and
            # count the leading service cells (reference location rendering)
            fields = unflatten_field_exprs(self.plan, cells, self.validate,
                                           base=n + 1)
            return [expr.alias(name) for name, expr in fields]

        return df.select(*built_columns(self._memo_key("unflatten", df), build))

    def xflatten(
        self,
        df: DataFrame,
        keep: Sequence[str] = (),
        stringify: bool = True,
    ) -> DataFrame:
        """Partial writer record → update-op array column ``ops``:
        ``[{op:'=', field_no:i, value:v}, ...]`` with 1-based cell indices
        offset by the service-field count (reference: init.lua:352-365,
        test/ddt_suite/record.lua:355-362). Field *presence* = column present
        in ``df``. ``keep`` carries key columns through for joins."""
        triples = self._xflatten_triples(df, stringify)
        ops = F.array(
            *[
                F.struct(op.alias("op"), idx.cast("int").alias("field_no"), val.alias("value"))
                for op, idx, val in triples
            ]
        )
        return df.select(*[F.col(k) for k in keep], ops.alias("ops"))

    def xflatten_typed(self, df: DataFrame, keep: Sequence[str] = ()) -> DataFrame:
        """Like :meth:`xflatten` but one (op_i, idx_i, val_i) column triple
        per update op, each value keeping its own Spark type — the form to
        use when op values are heterogeneous (e.g. a union's int tag cell
        next to its string value cell) and stringification is unwanted."""
        triples = self._xflatten_triples(df, stringify=False)
        cols = list(F.col(k) for k in keep)
        for i, (op, idx, val) in enumerate(triples):
            cols += [
                op.alias(f"op_{i}"),
                idx.cast("int").alias(f"idx_{i}"),
                val.alias(f"val_{i}"),
            ]
        return df.select(*cols)

    def _xflatten_triples(self, df: DataFrame, stringify: bool):
        from .flatten import convert_expr

        writer_root: Record = self.writer.root  # type: ignore[assignment]
        if self.wrapped_root:
            inner = writer_root.fields[0].type
            if not (isinstance(inner, Record) and inner.nullable):
                raise CompileError("xflatten requires a record root")
            if not self.alpha_nullable_record_xflatten:
                raise CompileError(
                    "xflatten for nullable record is on developement stage. "
                    "Use alpha_nullable_record_xflatten option if you "
                    "understand what you do."
                )
            # nullable root record = a single VLO tuple cell: one op whose
            # value is the whole record, ALL fields required
            # (record.lua:655-668 "Key missing" / single ["=",1,[...]] op)
            for f in inner.fields:
                if f.name not in df.columns and not f.has_default:
                    raise CompileError(f'Key missing: "{f.name}"')
            src = F.struct(
                *[
                    (F.col(f.name) if f.name in df.columns else lit_for(f.type, f.default)).alias(f.name)
                    for f in inner.fields
                ]
            )
            inner_plan = self.plan.children["sources"][0].plan
            val = convert_expr(inner_plan, src, self.validate)
            if stringify:
                val = val.cast("string")
            return [(F.lit("="), F.lit(1 + len(self.service_fields)), val)]
        field_names = {f.name for f in writer_root.fields}
        if not any(c in field_names for c in df.columns):
            raise CompileError("xflatten: no schema fields present in the DataFrame")
        return xflatten_ops(
            self.plan, df.schema, len(self.service_fields), self.validate,
            stringify, self.alpha_nullable_record_xflatten,
        )

    # ----------------------------------------------------- binary variants
    def flatten_from_avro(self, df: DataFrame, column: str = "avro", **kw) -> DataFrame:
        """Avro-binary column → flat DataFrame (≙ flatten_msgpack(mp→...))."""
        from ..sources.avro_binary import from_avro_bytes

        decoded = from_avro_bytes(df, column, self.writer)
        return self.flatten(decoded, **kw)

    def unflatten_to_avro(self, df: DataFrame, column: str = "avro") -> DataFrame:
        """Flat DataFrame → reader records encoded as an Avro-binary column."""
        from ..sources.avro_binary import to_avro_bytes

        records = self.unflatten(df)
        return to_avro_bytes(records, self.reader, column)

    # ------------------------------------------------------------ debugging
    def dump_plan(self, df: Optional[DataFrame] = None, which: str = "flatten") -> str:
        """Human-readable transform plan — the A4 debug surface
        (≙ ``compile{debug=, dump_il=, dump_src=}``, init.lua:400-479,
        where the reference dumps its IL and generated Lua).

        Always renders the resolution-plan tree (our IR, SURVEY §2B).
        Given a writer-shaped ``df``, appends Spark's analyzed logical +
        physical plan for the requested transform — the analogue of the
        generated source, except Catalyst/Tungsten own the lowering.
        """
        lines: list[str] = []

        def walk_plan(p: Resolved, indent: int, label: str, seen: frozenset) -> None:
            pad = "  " * indent
            w = type(p.writer).__name__ if p.writer is not None else "∅"
            r = type(p.reader).__name__
            null = "*" if p.nullable else ""
            lines.append(f"{pad}{label}{p.kind}{null} [{w} → {r}]")
            if id(p) in seen:
                lines.append(f"{pad}  (recursive — unrolled to MAX_UNROLL at lowering)")
                return
            seen = seen | {id(p)}
            for key, child in p.children.items():
                if isinstance(child, Resolved):
                    walk_plan(child, indent + 1, f"{key}: ", seen)
                elif isinstance(child, FieldSource):
                    src = (
                        f"writer[{child.writer_index}]"
                        if child.writer_field is not None
                        else "default/null"
                    )
                    lines.append(
                        f"{pad}  field {child.reader_field.name} ← {src}"
                    )
                    if child.plan is not None:
                        walk_plan(child.plan, indent + 2, "", seen)
                elif (
                    isinstance(child, tuple)
                    and len(child) == 2
                    and isinstance(child[1], Resolved)
                ):
                    # to_union's (reader_branch_index, plan)
                    walk_plan(child[1], indent + 1, f"{key}→branch {child[0]}: ", seen)
                elif isinstance(child, (list, tuple)):
                    for i, c in enumerate(child):
                        if isinstance(c, Resolved):
                            walk_plan(c, indent + 1, f"{key}[{i}]: ", seen)
                        elif (
                            isinstance(c, tuple)
                            and len(c) == 2
                            and isinstance(c[1], Resolved)
                        ):
                            # union branches: (reader_branch_index, plan)
                            walk_plan(
                                c[1], indent + 1,
                                f"{key}[{i}]→branch {c[0]}: ", seen,
                            )
                        elif c is None:
                            lines.append(
                                f"{pad}  {key}[{i}] = unmapped (runtime "
                                "versioning error)"
                            )
                        elif isinstance(c, FieldSource):
                            src = (
                                f"writer[{c.writer_index}]"
                                if c.writer_field is not None
                                else "default/null"
                            )
                            lines.append(f"{pad}  field {c.reader_field.name} ← {src}")
                            if c.plan is not None:
                                walk_plan(c.plan, indent + 2, "", seen)
                        else:
                            lines.append(f"{pad}  {key}[{i}] = {c!r}")
                else:
                    lines.append(f"{pad}  {key} = {child!r}")

        lines.append(f"== Resolution plan ({'downgrade' if self.downgrade else 'upgrade'}) ==")
        walk_plan(self.plan, 0, "", frozenset())
        if df is not None:
            out = getattr(self, which)(df)
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                out.explain(mode="extended")
            lines.append(f"== Spark plan for {which} ==")
            lines.append(buf.getvalue().rstrip())
        return "\n".join(lines)

    def __repr__(self) -> str:
        return (
            f"CompiledSchema({self.writer.root!r} → {self.reader.root!r}, "
            f"downgrade={self.downgrade}, service_fields={self.service_fields})"
        )


_ROOT_FIELD = "value"


def _wrap_root(s: Schema, taken: Optional[set] = None) -> Schema:
    """Schema with non-record root → synthetic {value: root} record.
    The wrapper name must not collide with any user-defined type name
    (a nullable root RECORD named '_root_' would otherwise trip the
    duplicate-name check when the export re-parses). ``taken`` lets the
    caller pass the union of writer+reader names so both wrappers pick
    the SAME escalated name."""
    from ..schema import create as _create

    if taken is None:
        taken = _collect_names(s.root)
    name = "_root_"
    while name in taken:
        name += "_"
    return _create(
        {"type": "record", "name": name, "fields": [{"name": _ROOT_FIELD, "type": s.export()}]}
    )


def _collect_names(node, out=None, seen=None):
    from ..schema.nodes import Array, Enum, Fixed, Map, Record, UnionNode

    out = set() if out is None else out
    seen = set() if seen is None else seen
    if id(node) in seen:
        return out
    seen.add(id(node))
    if isinstance(node, (Record, Enum, Fixed)):
        out.add(getattr(node, "fullname", None) or node.name)
    if isinstance(node, Record):
        for f in node.fields:
            _collect_names(f.type, out, seen)
    elif isinstance(node, Array):
        _collect_names(node.items, out, seen)
    elif isinstance(node, Map):
        _collect_names(node.values, out, seen)
    elif isinstance(node, UnionNode):
        for b in node.branches:
            _collect_names(b, out, seen)
    return out


def _spark_cast_name(avro_type: str) -> str:
    return {
        "boolean": "boolean", "int": "int", "long": "bigint", "float": "float",
        "double": "double", "string": "string", "bytes": "binary",
    }[avro_type]

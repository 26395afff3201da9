"""The persisted indexes' meta/lifecycle kernel.

All five index families (MinHash, exact, IVF, IVF-PQ, text) share ONE
crash/concurrency contract (SCALE.md §3b), and this module is the one
place that knows its storage side:

* ``write_meta`` / ``read_meta``: the one-row ``{path}/meta`` table.
  A family declares its row as ``(name, kind, value)`` fields (kind =
  a Spark DDL type); the reader adds the two loud errors ("no <family>
  index meta", "meta is empty") and fills the lifecycle columns older
  layouts lack (:data:`LIFECYCLE`).
* ``admit_append``: the ``__building__`` / ``__appending__`` /
  append-token admission check every ``mode="append"`` runs first.
* ``require_committed``: the refusal every probe, compaction, split
  and retrain runs first.
* ``finish_legacy_swap``: the pre-r10 ``'__compacting__'`` dir moves.
* ``_versions_json`` / ``_versions_of``: the table-version pointer map
  a compaction commits by overwriting the meta row.
* the ``batches/`` registry rows of the streaming sinks.

Local paths — by the one locality rule of :mod:`avro_spark._fs`, where
every directory listing, move and delete here also goes — take a
driver-side fast path: one metadata row IS driver work, not a
distributed job (each Spark round-trip costs a job submit, task launch
and committer, ~0.1-0.3 s, and the index gates make 5-12 of them per
lifecycle). It writes/reads the same parquet bytes with
pyarrow:

* ``try_write_meta_row``: writes ``part-00000-meta.parquet`` via a
  tmp-file + ``os.replace`` — an ATOMIC single-file commit, strictly
  stronger than a Spark overwrite (which deletes the old file before
  moving the new one in). Any stale part files from a previous
  Spark-written incarnation are removed first (same crash-window as
  Spark's own overwrite: a reader sees old meta, or no meta + a loud
  error, never two rows).
* ``try_read_meta_row``: reads the dir's parquet files driver-side.
* ``try_read_registry`` / ``try_append_registry_row``: the batch-id
  registry equivalents (append = one new uniquely-named file, exactly
  what Spark's append mode produces).

All four return ``None``/``False`` for non-local URIs, and the callers
fall back to Spark, where the cluster's credentials and FileSystem
live. ``write_meta``'s Spark route is ``spark.range(1).select`` of
plan literals, one parser-built literal per array: pure JVM, no
Python-worker job.

Type parity matters: the driver's oracle hash is type-sensitive and the
tests read these tables through Spark, so both routes write the same
column types (int→int32, long→int64, string→utf8, arrays likewise).
"""

from __future__ import annotations

import os
import uuid

from .. import _fs

__all__ = [
    "LIFECYCLE",
    "admit_append",
    "finish_legacy_swap",
    "read_meta",
    "require_committed",
    "write_meta",
    "try_write_meta_row",
    "try_read_meta_row",
    "try_read_registry",
    "try_append_registry_row",
]

_CANONICAL = "part-00000-meta.parquet"


# the fs.defaultFS lookup behind the fast path's locality rule lives in
# _fs; bound here under the names this module has always exported
_DEFAULT_FS_LOCAL = _fs._DEFAULT_FS
_default_fs_is_local = _fs._default_fs_is_local


def _pa_type(kind: str):
    import pyarrow as pa

    if kind == "int":
        return pa.int32()
    if kind == "long":
        return pa.int64()
    if kind == "double":
        return pa.float64()
    if kind == "string":
        return pa.string()
    if kind == "array<int>":
        return pa.list_(pa.int32())
    if kind == "array<long>":
        return pa.list_(pa.int64())
    if kind == "array<double>":
        return pa.list_(pa.float64())
    if kind == "array<array<double>>":
        return pa.list_(pa.list_(pa.float64()))
    if kind == "array<array<array<double>>>":
        return pa.list_(pa.list_(pa.list_(pa.float64())))
    raise ValueError(f"unknown meta column kind {kind!r}")


def try_write_meta_row(dir_uri: str, fields) -> bool:
    """Overwrite the one-row meta table at ``dir_uri`` driver-side.

    ``fields``: sequence of ``(name, kind, value)`` with kind one of
    int/long/double/string/array<...> (see :func:`_pa_type`). Returns
    False (nothing written) for non-local URIs — caller falls back to
    its Spark write.
    """
    d = _fs.local_path(dir_uri)
    if d is None:
        return False
    import pyarrow as pa

    os.makedirs(d, exist_ok=True)
    schema = pa.schema([(n, _pa_type(k)) for n, k, _ in fields])
    table = pa.Table.from_pydict(
        {n: [v] for n, _, v in fields}, schema=schema
    )
    # stale part files from a Spark-written incarnation (and their
    # Hadoop .crc shadows — a name-reused file with old crc would fail
    # Spark's checksum verification on read) go first; the canonical
    # name itself is replaced ATOMICALLY below, never deleted
    for f in os.listdir(d):
        if f != _CANONICAL and (
            f.endswith(".parquet") or f.endswith(".parquet.crc")
        ):
            try:
                os.remove(os.path.join(d, f))
            except OSError:
                pass
    _commit_file(table, os.path.join(d, _CANONICAL))
    return True


def _commit_file(table, final: str) -> None:
    """Write ``table`` to ``final`` through a tmp file and an atomic
    ``os.replace``: a reader sees the old file or the new one."""
    import pyarrow.parquet as pq

    tmp = os.path.join(os.path.dirname(final),
                       f".tmp-{uuid.uuid4().hex}.parquet")
    try:
        pq.write_table(table, tmp, compression="snappy")
        os.replace(tmp, final)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def try_read_meta_row(dir_uri: str) -> "dict | None":
    """First row of the meta table at ``dir_uri`` as a plain dict
    (arrays as Python lists — ``Row.asDict()`` parity).

    Returns None when the URI is non-local OR the dir holds no parquet
    files — the caller falls back to its Spark read, which reproduces
    the exact current error classes for missing/fileless dirs. A
    readable file with ZERO rows returns ``{}`` (the caller's
    head()-is-None "meta is empty" branch).
    """
    d = _fs.local_path(dir_uri)
    if d is None:
        return None
    files = _fs.parquet_files(dir_uri)
    if not files:
        return None
    import pyarrow.parquet as pq

    for f, _ in files:
        t = pq.read_table(os.path.join(d, f))
        if t.num_rows:
            return {
                name: t.column(name)[0].as_py() for name in t.schema.names
            }
    return {}


def try_read_registry(uri: str) -> "set[int] | None":
    """Applied batch ids from a ``batches/`` registry dir, driver-side.

    None for non-local URIs (caller falls back to Spark). Missing dir
    or dir-with-no-files → empty set; an unreadable file raises loudly
    (pyarrow ArrowInvalid) — the same three-state contract as
    ``_read_batch_registry``.
    """
    d = _fs.local_path(uri)
    if d is None:
        return None
    import pyarrow.parquet as pq

    out: set[int] = set()
    for name, _ in _fs.parquet_files(uri):
        f = os.path.join(d, name)
        t = pq.read_table(f)
        if t.num_rows == 0:
            continue
        if "batch_id" not in t.schema.names:
            # resolve by NAME like the Spark route — a registry file
            # with extra/reordered columns must not be silently misread
            # as batch ids (ADVICE r10)
            raise ValueError(
                f"batch registry file {f!r} has no 'batch_id' column "
                f"(schema: {t.schema.names}) — registry is corrupt"
            )
        out.update(v.as_py() for v in t.column("batch_id"))
    return out


def try_append_registry_row(dir_uri: str, batch_id: int) -> bool:
    """Append one ``(batch_id bigint)`` row as a new uniquely-named
    parquet file — byte-compatible with Spark's append mode. False for
    non-local URIs."""
    d = _fs.local_path(dir_uri)
    if d is None:
        return False
    import pyarrow as pa

    os.makedirs(d, exist_ok=True)
    table = pa.Table.from_pydict(
        {"batch_id": [int(batch_id)]},
        schema=pa.schema([("batch_id", pa.int64())]),
    )
    _commit_file(table,
                 os.path.join(d, f"part-{uuid.uuid4().hex}-reg.parquet"))
    return True


#: the lifecycle columns of every family's meta row; ``read_meta``
#: fills them for rows that predate them (pre-r8: no status, so a
#: readable row is committed; pre-r9: no tokens; pre-r10: no versions)
LIFECYCLE = ("status", "token", "pending_token", "versions")


def _versions_of(meta_dict: dict) -> "dict[str, int]":
    """Parse the meta row's ``versions`` JSON pointer column (absent on
    pre-r10 indexes → every table at version 0)."""
    import json

    raw = meta_dict.get("versions")
    if not raw:
        return {}
    return {k: int(v) for k, v in json.loads(raw).items()}


def _versions_json(versions: "dict[str, int] | None") -> "str | None":
    import json

    if not versions:
        return None
    return json.dumps(versions, sort_keys=True, separators=(",", ":"))


def _spark_lit(kind: str, value):
    """One meta column as a plan literal of Spark type ``kind``."""
    from pyspark.sql import functions as F

    if value is not None and kind.startswith("array<"):
        from .similarity import _array_lit

        return _array_lit(value, kind.count("array<")).cast(kind)
    return F.lit(value).cast(kind)


def write_meta(spark, path: str, fields) -> None:
    """Overwrite the index's ONE meta row at ``{path}/meta``.

    ``fields``: sequence of ``(name, kind, value)``. Local paths commit
    driver-side (:func:`try_write_meta_row`); other URIs write the same
    columns through ``spark.range(1)``, where the parser builds each
    array literal (``F.lit`` over a nested list costs one py4j round
    trip per element)."""
    if try_write_meta_row(f"{path}/meta", fields):
        return
    spark.range(1).select(
        *[_spark_lit(k, v).alias(n) for n, k, v in fields]
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def read_meta(spark, path: str, what: str, writer: str) -> dict:
    """The index's meta row as a dict, with :data:`LIFECYCLE` filled.

    ``what`` names the family in the errors (``"IVF-PQ"``), ``writer``
    its build function. A missing meta dir — not an index of this
    family — and a readable dir holding zero rows — a crash during the
    meta overwrite — both raise ``ValueError``."""
    d = try_read_meta_row(f"{path}/meta")
    if d is None:
        from pyspark.errors import AnalysisException

        try:
            row = spark.read.parquet(f"{path}/meta").head()
        except AnalysisException as e:  # no meta dir, or no files in it
            raise ValueError(
                f"no {what} index meta at {path!r}/meta — not a "
                f"{writer} index; rebuild it with {writer}"
            ) from e
        d = row.asDict() if row is not None else {}
    if not d:
        raise ValueError(
            f"{what} index meta is empty — the index is mid-rebuild or "
            f"corrupt; rebuild it with {writer}"
        )
    d.setdefault("status", "committed")
    d.setdefault("token", None)
    d.setdefault("pending_token", None)
    d["versions"] = _versions_of(d)
    return d


def admit_append(m: dict, path: str, append_token, writer: str) -> bool:
    """May an ``append_token`` append run against meta row ``m``?

    True: this token's append already COMMITTED — the caller returns
    without touching data (exactly-once blind retries). False: go
    ahead — the index is committed, or its in-flight append is this
    same batch's dead attempt (the documented recovery). Raises on a
    dead rebuild, on an in-flight append of a DIFFERENT batch (running
    now would interleave two batches' rows under one recovery), and on
    any maintenance marker (``'__compacting__'``: committing an append
    would cancel the pending recovery, whose finish-the-swap would then
    discard the appended rows). Writes nothing."""
    status = m["status"]
    if status == "__building__":
        raise ValueError(
            "index is mid-rebuild (status '__building__') — rebuild it "
            f"with {writer}(mode='overwrite')"
        )
    if append_token is not None and m["token"] == append_token:
        return True
    if status == "__appending__":
        pending = m["pending_token"]
        if (pending is not None and append_token is not None
                and pending != append_token):
            raise ValueError(
                f"index at {path!r} has an in-flight append with token "
                f"{pending!r}; refusing append with token "
                f"{append_token!r} — re-run the dead append to "
                "completion first (appends are sequential)"
            )
    elif status != "committed":
        raise ValueError(
            f"index at {path!r} has status {status!r} — finish the "
            "in-flight maintenance first (re-running it recovers its "
            "own crash), then append"
        )
    return False


def require_committed(m: dict, path: str, then: str) -> None:
    """Refuse to ``then`` (``"compact"``, ``"split"``, ``"retrain"``,
    ``"probe"``) an index whose meta row ``m`` is not committed: a dead
    rebuild, append or maintenance operation must be re-run to
    completion first (each recovers its own crash). Writes nothing."""
    status = m["status"]
    if status == "committed":
        return
    op = {"__appending__": "append",
          "__building__": "rebuild"}.get(status, "maintenance operation")
    if then == "probe":
        what = f"{'an' if op == 'append' else 'a'} {op} died part-way; " \
               f"re-run the SAME {op} to completion"
    else:
        what = f"finish the in-flight {op} first (re-run the SAME {op})"
    raise ValueError(
        f"index at {path!r} has status {status!r} — {what}, then {then}")


def finish_legacy_swap(path: str, tables) -> None:
    """Finish a pre-r10 compaction left mid-swap (``'__compacting__'``):
    its marker guarantees each ``{table}_compact`` dir was whole before
    it landed, so move every remaining one over its base dir. The
    caller commits the meta row at version 0."""
    for t in tables:
        comp = f"{path}/{t}_compact"
        if _fs.is_dir(comp):
            _fs.rm_dir(f"{path}/{t}")
            _fs.mv_dir(comp, f"{path}/{t}")


def _read_batch_registry(spark, uri: str) -> "set[int]":
    """Applied batch ids from an index's ``batches/`` registry.

    Three states, three behaviors: a MISSING dir is first-batch-ever
    (empty set); a dir that exists but holds ZERO committed parquet
    files is a crash DURING the very first batch-record write (Spark's
    output committer creates the directory at job setup before any
    file commits) — also an empty set, and safe to treat as such
    because the append-token machinery makes the replay a structural
    no-op (without this case the stream would fail on every replay
    forever, needing a manual dir delete); a dir whose files exist but
    cannot be read is CORRUPT and must fail the query loudly, never
    silently replay every batch."""
    got = try_read_registry(uri)  # driver-side for local; loud on corrupt
    if got is not None:
        return got
    from pyspark.errors import AnalysisException

    if not _fs.is_dir(uri):
        return set()
    try:
        # by NAME, like the driver-side route: a file with extra or
        # reordered columns must not be misread, a missing one fails
        return {r[0] for r in
                spark.read.parquet(uri).select("batch_id").collect()}
    except AnalysisException as e:
        if "UNABLE_TO_INFER_SCHEMA" in str(e):
            return set()  # dir created, no file ever committed
        raise


def _append_batch_registry(spark, uri: str, batch_id: int) -> None:
    """Record one applied batch id — one new file in the registry dir
    (driver-side for local paths, Spark append otherwise)."""
    if try_append_registry_row(uri, batch_id):
        return
    spark.range(1).select(
        _spark_lit("long", int(batch_id)).alias("batch_id")
    ).write.mode("append").parquet(uri)

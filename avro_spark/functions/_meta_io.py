"""The persisted indexes' meta/lifecycle kernel.

All five index families (MinHash, exact, IVF, IVF-PQ, text) share ONE
crash/concurrency contract (SCALE.md §3b), and this module is the one
place that implements it — the families only say what their meta row
holds and how their tables are written:

* ``write_meta`` / ``read_meta``: the one-row ``{path}/meta`` table.
  A family declares its row as ``(name, kind, value)`` fields (kind =
  a Spark DDL type); the reader adds the two loud errors ("no <family>
  index meta", "meta is empty") and fills the lifecycle columns older
  layouts lack (:data:`LIFECYCLE`).
* ``begin_write`` / ``commit_write``: the ONE build/append
  transaction. Begin checks the mode, admits an append
  (``admit_append``: a committed token's blind retry returns at once)
  and writes the ``__building__`` / ``__appending__`` marker; commit
  writes the ``committed`` row with the append token and collects
  the table versions the write superseded.
* ``compact_versions``: the ONE compaction (and retrain) skeleton —
  legacy ``'__compacting__'`` swap, ``require_committed``, next
  version dirs (``_vdir``), one meta flip that keeps the token
  (``commit_meta``, also a split's commit), then GC
  (``_gc_table_versions``).
* ``require_committed``: the refusal every probe, compaction, split
  and retrain runs first; ``batch_probed``: the streaming sinks'
  "was this batch already probed" test.
* ``_versions_json`` / ``_versions_of``: the table-version pointer
  map's meta column.
* ``row_counts``: the stats' one-action duplicate-row count.
* the ``batches/`` registry rows of the streaming sinks.

A family hands these functions its meta row as a dict (its reader's
shape) and a ``meta(m)`` closure that writes one — a closure that
looks the family's module-level writer up at call time, so a test
that patches the writer intercepts every lifecycle write.

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
    "batch_probed",
    "begin_write",
    "commit_meta",
    "commit_write",
    "compact_versions",
    "read_meta",
    "require_committed",
    "row_counts",
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

#: the status markers: a build or an append writes its marker FIRST
#: and the committed row LAST; ``__compacting__`` is only ever read —
#: the pre-r10 compaction marker its legacy recovery still heals
BUILDING, APPENDING, COMPACTING, COMMITTED = (
    "__building__", "__appending__", "__compacting__", "committed")


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
    if status == BUILDING:
        raise ValueError(
            "index is mid-rebuild (status '__building__') — rebuild it "
            f"with {writer}(mode='overwrite')"
        )
    if append_token is not None and m["token"] == append_token:
        return True
    if status == APPENDING:
        pending = m["pending_token"]
        if (pending is not None and append_token is not None
                and pending != append_token):
            raise ValueError(
                f"index at {path!r} has an in-flight append with token "
                f"{pending!r}; refusing append with token "
                f"{append_token!r} — re-run the dead append to "
                "completion first (appends are sequential)"
            )
    elif status != COMMITTED:
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
    if status == COMMITTED:
        return
    op = {APPENDING: "append",
          BUILDING: "rebuild"}.get(status, "maintenance operation")
    if then == "probe":
        what = f"{'an' if op == 'append' else 'a'} {op} died part-way; " \
               f"re-run the SAME {op} to completion"
    else:
        what = f"finish the in-flight {op} first (re-run the SAME {op})"
    raise ValueError(
        f"index at {path!r} has status {status!r} — {what}, then {then}")


def batch_probed(m: dict, token: str) -> bool:
    """Was streaming batch ``token`` already probed against the index
    whose meta row is ``m``? True when its append committed, or when
    the in-flight append is this batch's own dead attempt — a sink
    writes the batch's probe output before it appends, so a replay
    reuses that output instead of probing an index that now holds the
    batch's own rows. A dead append without a pending token (a
    token-less append) is not this batch's: the probe refuses it."""
    return m["token"] == token or (
        m["status"] == APPENDING and m["pending_token"] == token)


def begin_write(path: str, mode: str, append_token, writer: str, read,
                fresh: dict, meta, admit) -> "dict | None":
    """Open a build (``mode="overwrite"``) or an append of the index at
    ``path`` — the first half of the one write transaction every
    family runs (:func:`commit_write` is the second).

    A build starts from ``fresh``, the family's own fields, and writes
    the ``__building__`` marker: a crash before the commit leaves every
    probe and append refusing loudly. An append reads the stored row
    (``read()``), runs :func:`admit_append` (``writer`` names the build
    function in its errors), then the family's ``admit(m)`` — its
    parameter pins, returning the row to carry on with, or None when
    it finished the append itself — and writes the ``__appending__``
    marker: the PREVIOUS committed token (this batch's lands only at
    commit), this attempt's ``pending_token`` and the versions.
    ``meta(m)`` writes row ``m``. Returns the marker row, or None when
    nothing is left to do (a committed token's blind retry)."""
    if mode == "overwrite":
        m = {**fresh, "status": BUILDING, "token": None,
             "pending_token": None, "versions": {}}
    elif mode == "append":
        m = read()
        if admit_append(m, path, append_token, writer):
            return None
        m = admit(m)
        if m is None:
            return None
        m = {**m, "status": APPENDING, "pending_token": append_token}
    else:
        raise ValueError(f"bad mode: {mode}")
    meta(m)
    return m


def commit_write(path: str, mode: str, append_token, meta, m: dict,
                 tables, **changes) -> None:
    """Close the write :func:`begin_write` opened: its marker row ``m``
    with the family's ``changes`` (counters, moved versions) committed
    — carrying the append token on an append, so blind retries of the
    same batch no-op against it, and none on a build. Then every table
    in ``tables`` loses the dirs this write superseded: all but
    version 0 after a build, the old version of any table an append
    moved (the exact index's flat migration)."""
    done = {**m, **changes, "status": COMMITTED, "pending_token": None,
            "token": append_token if mode == "append" else None}
    meta(done)
    for t in tables:
        keep = done["versions"].get(t, 0)
        if mode == "overwrite" or keep != m["versions"].get(t, 0):
            _gc_table_versions(path, t, keep)


def commit_meta(meta, m: dict, **changes) -> None:
    """THE commit of a maintenance operation (compaction, split,
    retrain): one overwrite of row ``m`` with ``changes``, committed.
    The append token is kept: maintenance never consumes a batch, and
    dropping the token would let a blind retry of the last committed
    append re-append."""
    meta({**m, **changes, "status": COMMITTED, "pending_token": None})


def compact_versions(path: str, m: dict, tables, write, meta) -> None:
    """Compact (or retrain) the index at ``path`` whose meta row is
    ``m``: ``write(out)`` writes each table's replacement into its NEXT
    version dir ``out[table]`` and returns the meta fields it changed
    (or None); :func:`commit_meta` then flips every pointer in one
    ``meta`` overwrite, and the superseded versions are collected.

    No remove-then-move window, so crash-safe on stores without atomic
    rename: a crash before the flip leaves the old versions fully live
    (probes keep working THROUGHOUT) and a retry overwrites the
    half-written dirs; a crash after it leaves only dead dirs for the
    next GC. An index left mid-swap by a pre-r10 compaction
    (``'__compacting__'``) is finished with the legacy move-based
    recovery and committed at version 0."""
    if m["status"] == COMPACTING:
        finish_legacy_swap(path, tables)
        commit_meta(meta, m, versions={})
        return
    require_committed(m, path, "compact")
    new = {**m["versions"],
           **{t: m["versions"].get(t, 0) + 1 for t in tables}}
    changes = write({t: _vdir(path, t, new[t]) for t in tables})
    commit_meta(meta, m, **(changes or {}), versions=new)
    for t in tables:
        _gc_table_versions(path, t, new[t])


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


# Versioned-table swap (r10): every whole-table replacement (compaction,
# retrain) writes the new copy to ``{table}_v<N+1>`` and commits by
# overwriting the ONE meta row with the bumped version pointer — the
# same single-small-file commit primitive every marker flip already
# uses. Version 0 is the unversioned base dir ``{table}`` (the build
# layout, and every pre-r10 index). The old remove-then-move swap
# needed TWO filesystem operations on a table dir, and a crash between
# them on a store without atomic rename could drop already-moved
# objects; with the pointer flip there is no intermediate state — a
# crash before the flip leaves the old version fully live (probes keep
# working DURING compaction), a crash after it leaves only garbage
# dirs for the next lease-holding compact to collect.
def _vdir(path: str, table: str, version: int) -> str:
    """Physical directory of logical ``table`` at ``version`` (0 = the
    unversioned base layout)."""
    return f"{path}/{table}" if not version else f"{path}/{table}_v{int(version)}"


def _gc_table_versions(path: str, table: str, keep: int) -> None:
    """Best-effort removal of every physical dir of ``table`` other
    than the ``keep`` version: superseded committed versions plus the
    residue of crashed compactions. Call only while holding the index's
    writer lease AFTER a committed pointer flip — a dir that is neither
    the current version nor lease-protected work-in-progress is dead by
    construction. Failures are swallowed (GC re-runs on the next
    compact)."""
    import re

    pat = re.compile(re.escape(table) + r"(_v(\d+))?$")
    for name in _fs.child_dirs(path, table):
        mm = pat.fullmatch(name)
        if not mm:
            continue  # e.g. 'shingles_compact' legacy residue — below
        v = int(mm.group(2) or 0)
        if v != keep:
            try:
                _fs.rm_dir(f"{path}/{name}")
            except Exception:
                pass
    # pre-r10 remove-then-move residue: '{table}_compact' /
    # '{table}_split' staging dirs left by a crashed legacy operation.
    # GC runs only on a COMMITTED index under the lease, so any legacy
    # staging at this point belongs to a superseded operation — the
    # legacy recovery path only fires from the __compacting__/
    # __splitting__ statuses, which a committed flip has replaced.
    for suffix in ("_compact", "_split"):
        legacy = f"{path}/{table}{suffix}"
        if _fs.is_dir(legacy):
            try:
                _fs.rm_dir(legacy)
            except Exception:
                pass


def row_counts(df, keys) -> "tuple[int, int]":
    """``(rows, distinct key tuples)`` of ``df`` in ONE action — the
    index stats' duplicate-row count (retry residue is ``rows -
    distinct``). NULL keys group together, as under
    ``dropDuplicates``."""
    from pyspark.sql import functions as F

    rows, distinct = df.groupBy(*keys).count().agg(
        F.sum("count"), F.count(F.lit(1))).head()
    return int(rows or 0), int(distinct)


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

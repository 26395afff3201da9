"""Driver-local fast path for the persisted indexes' tiny metadata
tables (the one-row ``meta/`` dir and the one-row-per-batch ``batches/``
registry).

Every index family committed these through a full Spark job
(``spark.range(1).select(lits...).coalesce(1).write.parquet`` for a
write, ``spark.read.parquet(...).head()`` for a read). That is the
right shape for REMOTE storage — the cluster's credentials and
FileSystem live JVM-side — but on a local filesystem each call pays a
job submit + task launch + committer round-trip (~0.1-0.3 s) to move a
few hundred bytes, and the index gates do it 5-12 times per lifecycle
(guide §5: the driver should do almost no data work — and conversely,
one metadata row IS driver work, not a distributed job).

The fast path writes/reads the same parquet bytes with pyarrow on the
driver:

* ``try_write_meta_row``: writes ``part-00000-meta.parquet`` via a
  tmp-file + ``os.replace`` — an ATOMIC single-file commit, strictly
  stronger than the Spark overwrite it replaces (which deletes the old
  file before moving the new one in). Any stale part files from a
  previous Spark-written incarnation are removed first (same
  crash-window as Spark's own overwrite: a reader sees old meta, or
  no meta + a loud error, never two rows).
* ``try_read_meta_row``: reads the dir's parquet files driver-side.
* ``try_read_registry`` / ``try_append_registry_row``: the batch-id
  registry equivalents (append = one new uniquely-named file, exactly
  what Spark's append mode produces).

All four return ``None``/``False`` for non-local URIs — callers keep
their original Spark route as the fallback, so remote stores behave
exactly as before (including error classes on missing dirs).

Type parity matters: the driver's oracle hash is type-sensitive and the
tests read these tables through Spark, so the pyarrow schema mirrors
the Spark literals each family wrote (int→int32, long→int64,
string→utf8, arrays likewise).
"""

from __future__ import annotations

import os
import uuid

__all__ = [
    "try_write_meta_row",
    "try_read_meta_row",
    "try_read_registry",
    "try_append_registry_row",
]

_CANONICAL = "part-00000-meta.parquet"


#: fs.defaultFS locality per Spark application (py4j round-trip
#: amortized to one per application; keyed on the applicationId — an
#: object id can be reused by a restarted context with a different
#: default FS, an application id cannot)
_DEFAULT_FS_LOCAL: dict = {}


def _default_fs_is_local() -> bool:
    """True iff the active SparkContext's Hadoop ``fs.defaultFS`` is the
    local filesystem (or no SparkContext exists at all — plain-driver
    tooling).

    Spark resolves BARE paths against the default FS, so on a cluster
    whose default FS is HDFS/S3 a bare index path names a REMOTE
    directory: writing its meta/registry rows to the driver's local
    disk would let a restarted query on another driver silently replay
    every batch (try_read_registry returns an empty set for a missing
    local dir). Bare paths therefore take the fast path only when the
    default FS really is file:// — otherwise they fall back to the
    Spark route, which resolves them exactly as the data tables are.
    Explicit ``file:`` URIs are unambiguous and skip this check.

    The SparkContext, not the calling thread's active session, is
    asked: foreachBatch and thread-pool callers often run with no
    active session, and must neither be guessed local nor lose the
    fast path when the default FS really is local.
    """
    try:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return True
        key = sc.applicationId
        hit = _DEFAULT_FS_LOCAL.get(key)
        if hit is None:
            fs = sc._jsc.hadoopConfiguration().get("fs.defaultFS") \
                or "file:///"
            hit = _DEFAULT_FS_LOCAL[key] = fs.startswith("file:")
        return hit
    except Exception:
        # cannot tell — take the safe (Spark) route
        return False


def _local_dir(uri: str) -> "str | None":
    """Filesystem path when ``uri`` is reachable by plain ``open()``
    AND names the same directory Spark would resolve (file: URI, or a
    bare path while fs.defaultFS is local), else None."""
    from ..sources.avro_ocf import _is_local, _local_path

    if not _is_local(uri):
        return None
    if not uri.startswith("file:") and not _default_fs_is_local():
        return None
    return _local_path(uri)


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
    d = _local_dir(dir_uri)
    if d is None:
        return False
    import pyarrow as pa
    import pyarrow.parquet as pq

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
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}.parquet")
    try:
        pq.write_table(table, tmp, compression="snappy")
        os.replace(tmp, os.path.join(d, _CANONICAL))
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    return True


def _dir_parquet_files(d: str) -> "list[str]":
    try:
        names = os.listdir(d)
    except (FileNotFoundError, NotADirectoryError):
        return []
    return sorted(
        os.path.join(d, f)
        for f in names
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def try_read_meta_row(dir_uri: str) -> "dict | None":
    """First row of the meta table at ``dir_uri`` as a plain dict
    (arrays as Python lists — ``Row.asDict()`` parity).

    Returns None when the URI is non-local OR the dir holds no parquet
    files — the caller falls back to its Spark read, which reproduces
    the exact current error classes for missing/fileless dirs. A
    readable file with ZERO rows returns ``{}`` (the caller's
    head()-is-None "meta is empty" branch).
    """
    d = _local_dir(dir_uri)
    if d is None:
        return None
    files = _dir_parquet_files(d)
    if not files:
        return None
    import pyarrow.parquet as pq

    for f in files:
        t = pq.read_table(f)
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
    d = _local_dir(uri)
    if d is None:
        return None
    if not os.path.isdir(d):
        return set()
    import pyarrow.parquet as pq

    out: set[int] = set()
    for f in _dir_parquet_files(d):
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
    d = _local_dir(dir_uri)
    if d is None:
        return False
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(d, exist_ok=True)
    table = pa.Table.from_pydict(
        {"batch_id": [int(batch_id)]},
        schema=pa.schema([("batch_id", pa.int64())]),
    )
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}.parquet")
    final = os.path.join(d, f"part-{uuid.uuid4().hex}-reg.parquet")
    try:
        pq.write_table(table, tmp, compression="snappy")
        os.replace(tmp, final)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    return True

"""Where a storage path lives and how to touch it: the one filesystem
layer of the persisted indexes, the OCF source and sink, and the CDC
snapshot sink.

**The locality rule** (:func:`local_path`). A ``file:`` URI is local.
A bare path is local while the active SparkContext's ``fs.defaultFS``
is ``file:`` — or while no SparkContext exists (executors, plain-driver
tooling). Every other URI is not. Spark resolves a bare path against
``fs.defaultFS``, so under an HDFS or S3 default a bare path names a
cluster directory; touching the driver's disk instead would put meta
rows, leases and registry rows where no other driver looks, and a
missing local directory would read as "no batches applied yet". On the
driver, :func:`qualify` turns such a bare absolute path into a URI on
the default FS and refuses a relative one, so executors only ever
receive paths that name the same storage on every host.

**One resolver.** :func:`resolve` maps any path to a pyarrow
``FileSystem`` and a path on it (``LocalFileSystem`` for local paths),
and every primitive below is written once against it. Listings return
NAMES or paths RELATIVE to the listed URI, never the FileSystem's own
paths: a remote listing's paths are scheme-less (``bucket/key``), and
a URI-classifying caller would misread them as local.

**Parquet tables** are read through :func:`read_parquet`: a local flat
table takes its schema from one file's footer, so the read starts no
schema-inference job.

**Plain ``os`` stays only where it gives a guarantee pyarrow does not:**

* :func:`create_exclusive` — ``O_CREAT|O_EXCL``, an atomic
  create-if-absent (the index writer lease). Other stores check, then
  write, which leaves a small race window.
* :func:`delete_if` — rename to a private name, check, and on a
  mismatch restore with ``os.link``, which refuses to clobber a newer
  file: a compare-and-delete that never deletes a non-matching file.
  Other stores read, check, then delete.
* the tmp-file plus ``os.replace`` single-file commits of the index
  meta and registry rows (:mod:`avro_spark.functions._meta_io`) and of
  the OCF part writer's local branch (``sources.avro_ocf._open_part``):
  a reader sees the old file or the new one, never a partial one, and
  speculative duplicate attempts converge on one whole file.
"""

from __future__ import annotations

import os
import uuid

from pyarrow import fs as pafs

#: fs.defaultFS per Spark application id (:func:`app_id`): a restarted
#: context with another default FS may reuse an object id, not an
#: application id
_DEFAULT_FS: dict = {}


def app_id(sc) -> str:
    """``sc.applicationId``, remembered on the SparkContext object so a
    warm lookup makes no py4j round trip."""
    app = sc.__dict__.get("_avro_spark_app_id")
    if app is None:
        app = sc._avro_spark_app_id = sc.applicationId
    return app


def _default_fs() -> "str | None":
    """The active SparkContext's ``fs.defaultFS``; None when no
    SparkContext exists. The SparkContext, not the calling thread's
    active session, is asked: foreachBatch and thread-pool callers
    often run without an active session."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return None
    app = app_id(sc)
    got = _DEFAULT_FS.get(app)
    if got is None:
        got = _DEFAULT_FS[app] = (
            sc._jsc.hadoopConfiguration().get("fs.defaultFS") or "file:///")
    return got


def _default_fs_is_local() -> bool:
    """True iff a bare path names the local filesystem."""
    default = _default_fs()
    return default is None or default.startswith("file:")


def _is_bare(uri: str) -> bool:
    return not uri.startswith("file:") and "://" not in uri


def local_path(uri: str) -> "str | None":
    """Filesystem path of ``uri`` when it is local (module docstring),
    else None. A ``file:`` URI's path is taken as is, the way Hadoop
    reads one: Spark prints ``file:/dir/a%41.avro`` for the file named
    ``a%41.avro``, never percent-encoded."""
    if uri.startswith("file:"):
        rest = uri[5:]
        if rest.startswith("//"):  # file://[authority]/path
            rest = "/" + rest[2:].partition("/")[2]
        return rest
    if not _is_bare(uri) or not _default_fs_is_local():
        return None
    return uri


def qualify(uri: str) -> str:
    """``uri`` as Spark resolves it: a bare absolute path under a
    non-local ``fs.defaultFS`` becomes a URI on it, any other path is
    returned unchanged. A bare relative path there is refused — the
    driver's working directory means nothing on the cluster."""
    if not _is_bare(uri) or _default_fs_is_local():
        return uri
    default = _default_fs()
    if not uri.startswith("/"):
        raise ValueError(
            f"relative path {uri!r} under the non-local fs.defaultFS "
            f"{default!r}: pass an absolute path or a full URI")
    return default.rstrip("/") + uri


def resolve(uri: str) -> "tuple[pafs.FileSystem, str]":
    """``(pyarrow FileSystem, path on it)`` for ``uri``."""
    lp = local_path(uri)
    if lp is not None:
        return pafs.LocalFileSystem(), lp
    return pafs.FileSystem.from_uri(qualify(uri))


def is_dir(uri: str) -> bool:
    f, p = resolve(uri)
    return f.get_file_info(p).type == pafs.FileType.Directory


def _child_names(uri: str, prefix: str, kind) -> "list[str]":
    f, p = resolve(uri)
    infos = f.get_file_info(pafs.FileSelector(p, allow_not_found=True))
    return sorted(i.base_name for i in infos
                  if i.type == kind and i.base_name.startswith(prefix))


def child_dirs(uri: str, prefix: str = "") -> "list[str]":
    """Names of the child directories of ``uri`` starting with
    ``prefix`` (empty when ``uri`` is gone)."""
    return _child_names(uri, prefix, pafs.FileType.Directory)


def child_files(uri: str, prefix: str = "") -> "list[str]":
    """Names of the files directly under ``uri`` starting with
    ``prefix`` (empty when ``uri`` is gone)."""
    return _child_names(uri, prefix, pafs.FileType.File)


def _hidden(rel: str) -> bool:
    """Spark's file index skips every path component starting with
    ``.`` or ``_`` — a crashed write's ``_temporary/``, checksum
    shadows — except a ``_col=value`` partition directory."""
    return any(c.startswith(".") or (c.startswith("_") and "=" not in c)
               for c in rel.split("/"))


def _parquet_listing(f, p: str, recursive: bool) -> "list[tuple[str, int]]":
    n = len(p.rstrip("/")) + 1
    infos = f.get_file_info(
        pafs.FileSelector(p, recursive=recursive, allow_not_found=True))
    return sorted((i.path[n:], i.size) for i in infos
                  if i.is_file and i.path.endswith(".parquet")
                  and not _hidden(i.path[n:]))


def parquet_files(uri: str, recursive: bool = False
                  ) -> "list[tuple[str, int]]":
    """``(path relative to uri, bytes)`` of every ``*.parquet`` file a
    Spark scan of ``uri`` reads, sorted; ``recursive`` descends into
    partition directories. Empty when ``uri`` is gone."""
    return _parquet_listing(*resolve(uri), recursive)


def parquet_footers(uri: str, recursive: bool = False) -> list:
    """:func:`parquet_files` with each file's parquet footer:
    ``(relative path, bytes, pyarrow.parquet.FileMetaData)``."""
    import pyarrow.parquet as pq

    f, p = resolve(uri)
    out = []
    for rel, size in _parquet_listing(f, p, recursive):
        with f.open_input_file(f"{p.rstrip('/')}/{rel}") as fh:
            out.append((rel, size, pq.ParquetFile(fh).metadata))
    return out


#: the footer key under which Spark's parquet writer stores the row
#: schema as Spark type JSON (nullability and field metadata included)
_SPARK_ROW_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"


def footer_schema(uri: str):
    """The Spark schema of the flat parquet table at ``uri``, read
    driver-side from the footer of its first file; None when ``uri``
    is not local, holds partition directories or no file, or the file
    carries no Spark schema (not written by Spark)."""
    lp = local_path(uri)
    if lp is None:
        return None
    files = _parquet_listing(pafs.LocalFileSystem(), lp, True)
    if not files or any("/" in rel for rel, _ in files):
        return None
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    meta = pq.read_metadata(os.path.join(lp, files[0][0])).metadata or {}
    raw = meta.get(_SPARK_ROW_SCHEMA)
    return None if raw is None else StructType.fromJson(json.loads(raw))


def read_parquet(spark, uri: str):
    """``spark.read.parquet(uri)`` with no schema-inference job where
    :func:`footer_schema` knows the schema (Spark makes it nullable,
    as inference does); otherwise Spark infers it, which runs one job."""
    schema = footer_schema(uri)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(uri)


def bytes_at_least(uri: str, threshold: int) -> bool:
    """True when the parquet data a scan of ``uri`` reads totals at
    least ``threshold`` bytes."""
    return threshold <= 0 or sum(
        s for _, s in parquet_files(uri, recursive=True)) >= threshold


def open_input(uri: str):
    """Seekable binary read handle — the one byte-read seam of the OCF
    header scans and split-range block walks, driver- and
    executor-side."""
    f, p = resolve(uri)
    return f.open_input_file(p)


def read_bytes(uri: str) -> "bytes | None":
    """The file's bytes; None when it does not exist."""
    try:
        with open_input(uri) as fh:
            return fh.read()
    except FileNotFoundError:
        return None


def make_dir(uri: str) -> None:
    f, p = resolve(uri)
    f.create_dir(p, recursive=True)


def rm_file(uri: str) -> None:
    """Delete a file; a missing one is not an error."""
    f, p = resolve(uri)
    try:
        f.delete_file(p)
    except FileNotFoundError:
        pass


def rm_dir(uri: str) -> None:
    """Delete a directory tree; a missing one is not an error."""
    f, p = resolve(uri)
    try:
        f.delete_dir(p)
    except FileNotFoundError:
        pass


def mv_dir(src: str, dst: str) -> None:
    """Rename a directory (both paths on one filesystem) — the one
    directory-rename primitive of the codebase."""
    f, p_src = resolve(src)
    f.move(p_src, resolve(dst)[1])


def create_exclusive(uri: str, data: bytes) -> bool:
    """Create ``uri`` holding ``data`` unless it exists; False when it
    does. Atomic on local storage (``O_CREAT|O_EXCL``); elsewhere a
    check then a write."""
    lp = local_path(uri)
    if lp is None:
        f, p = resolve(uri)
        if f.get_file_info(p).type != pafs.FileType.NotFound:
            return False
        f.create_dir(p.rpartition("/")[0], recursive=True)
        with f.open_output_stream(p) as fh:
            fh.write(data)
        return True
    os.makedirs(os.path.dirname(lp), exist_ok=True)
    try:
        fd = os.open(lp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        return False
    with os.fdopen(fd, "wb") as fh:
        fh.write(data)
    return True


def delete_if(uri: str, match) -> bool:
    """Delete ``uri`` only if ``match(its bytes)`` holds; True when
    deleted. On local storage the file is first renamed to a private
    name — taking whatever holds the canonical name out of play — then
    checked, and on a mismatch restored with ``os.link``, which fails
    if a newer file already took the name (the stale copy is then
    dropped). So a non-matching file is never deleted. Elsewhere: read,
    check, delete."""
    lp = local_path(uri)
    if lp is None:
        cur = read_bytes(uri)
        if cur is None or not match(cur):
            return False
        rm_file(uri)
        return True
    private = f"{lp}.cad-{uuid.uuid4().hex}"
    try:
        os.rename(lp, private)
    except FileNotFoundError:
        return False
    try:
        with open(private, "rb") as fh:
            hit = match(fh.read())
    except OSError:
        hit = False  # unreadable: restore it, never delete it unchecked
    if not hit:
        try:
            os.link(private, lp)
        except FileExistsError:
            pass  # superseded by a newer file while out of play
    os.remove(private)
    return hit

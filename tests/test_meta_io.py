"""Focused tests for the r10 driver-local metadata fast path
(functions/_meta_io.py): byte/type parity with the Spark route it
replaces, the atomic-replace commit, and the registry's three-state
contract."""

import os

import pytest

from avro_spark import _fs
from avro_spark.functions import _meta_io as M
from avro_spark.functions import dedup as D


def test_meta_roundtrip_fast_write_spark_read(spark, tmp_path):
    """A fast-path meta row must read back IDENTICALLY through Spark —
    same column names, same Spark types as the spark.range(1) literals
    it replaces (int→int, long→bigint, string, arrays)."""
    meta = str(tmp_path / "idx" / "meta")
    assert M.try_write_meta_row(meta, [
        ("num_hashes", "int", 64),
        ("rows", "long", 123),
        ("hash_fn", "string", "xxhash64"),
        ("token", "string", None),
        ("centroids", "array<array<double>>", [[1.0, 2.0], [3.0, 4.0]]),
        ("dir_ids", "array<int>", [0, 1]),
    ])
    df = spark.read.parquet(meta)
    assert dict(df.dtypes) == {
        "num_hashes": "int", "rows": "bigint", "hash_fn": "string",
        "token": "string", "centroids": "array<array<double>>",
        "dir_ids": "array<int>",
    }
    row = df.head()
    assert row.num_hashes == 64 and row.rows == 123
    assert row.token is None
    assert row.centroids == [[1.0, 2.0], [3.0, 4.0]]
    assert row.dir_ids == [0, 1]
    # and the fast reader agrees with Row.asDict()
    assert M.try_read_meta_row(meta) == row.asDict()


def test_meta_fast_read_of_spark_written_row(spark, tmp_path):
    """Legacy/remote-written meta dirs (Spark part files) must be
    readable by the fast path — the migration direction."""
    from pyspark.sql import functions as F

    meta = str(tmp_path / "legacy" / "meta")
    spark.range(1).select(
        F.lit(7).cast("int").alias("n_buckets"),
        F.lit("committed").alias("status"),
        F.lit(None).cast("string").alias("token"),
    ).coalesce(1).write.mode("overwrite").parquet(meta)
    got = M.try_read_meta_row(meta)
    assert got == {"n_buckets": 7, "status": "committed", "token": None}


def test_meta_overwrite_is_single_file_atomic_replace(tmp_path):
    """Repeated overwrites keep exactly ONE canonical data file (no
    stale second row a concurrent reader could pick up), and the last
    write wins."""
    meta = str(tmp_path / "idx" / "meta")
    for status in ("__building__", "committed", "__appending__"):
        assert M.try_write_meta_row(meta, [("status", "string", status)])
    files = [f for f in os.listdir(meta) if f.endswith(".parquet")]
    assert files == ["part-00000-meta.parquet"]
    assert M.try_read_meta_row(meta) == {"status": "__appending__"}


def test_meta_fast_write_replaces_spark_written_files(spark, tmp_path):
    """Overwriting a SPARK-written meta dir through the fast path must
    remove the old part files — two live rows would make head()
    nondeterministic."""
    from pyspark.sql import functions as F

    meta = str(tmp_path / "mixed" / "meta")
    spark.range(1).select(F.lit("old").alias("status")) \
        .coalesce(1).write.mode("overwrite").parquet(meta)
    assert M.try_write_meta_row(meta, [("status", "string", "new")])
    assert spark.read.parquet(meta).count() == 1
    assert M.try_read_meta_row(meta) == {"status": "new"}


def test_meta_read_three_states(spark, tmp_path):
    """None for missing dir (caller falls back to Spark's error), {} for
    zero rows (caller's 'meta is empty'), dict for a committed row —
    and _read_index_meta surfaces the same errors as before."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    missing = str(tmp_path / "nope" / "meta")
    assert M.try_read_meta_row(missing) is None
    empty = str(tmp_path / "empty" / "meta")
    os.makedirs(empty)
    pq.write_table(
        pa.Table.from_pydict({"status": pa.array([], pa.string())}),
        os.path.join(empty, "part-00000-meta.parquet"),
    )
    assert M.try_read_meta_row(empty) == {}
    with pytest.raises(ValueError, match="mid-rebuild or corrupt"):
        D._read_index_meta(spark, str(tmp_path / "empty"))


def test_registry_three_states_and_append(spark, tmp_path):
    reg = str(tmp_path / "idx" / "batches")
    # missing dir → empty set (fast path AND the public reader)
    assert M.try_read_registry(reg) == set()
    assert D._read_batch_registry(spark, reg) == set()
    # committer husk (dir, no files) → empty set
    os.makedirs(reg)
    assert M.try_read_registry(reg) == set()
    # appends accumulate, one file per batch, Spark-readable
    D._append_batch_registry(spark, reg, 0)
    D._append_batch_registry(spark, reg, 3)
    assert M.try_read_registry(reg) == {0, 3}
    assert D._read_batch_registry(spark, reg) == {0, 3}
    assert {r[0] for r in spark.read.parquet(reg).collect()} == {0, 3}
    assert dict(spark.read.parquet(reg).dtypes) == {"batch_id": "bigint"}
    # corrupt file → loud failure, never silent replay
    with open(os.path.join(reg, "part-bad.parquet"), "wb") as fh:
        fh.write(b"not parquet")
    with pytest.raises(Exception):
        D._read_batch_registry(spark, reg)


def test_non_local_uris_fall_through():
    assert M.try_write_meta_row("s3://bucket/idx/meta", []) is False
    assert M.try_read_meta_row("s3://bucket/idx/meta") is None
    assert M.try_read_registry("s3://bucket/idx/batches") is None
    assert M.try_append_registry_row("s3://bucket/idx/batches", 1) is False


def test_file_uri_is_local(tmp_path):
    meta_fs = str(tmp_path / "u" / "meta")
    assert M.try_write_meta_row(f"file://{meta_fs}",
                                [("status", "string", "committed")])
    assert M.try_read_meta_row(meta_fs) == {"status": "committed"}


def test_registry_resolves_batch_id_by_name(spark, tmp_path):
    """ADVICE r10: the fast path must read the 'batch_id' column by
    NAME — a registry file with extra or reordered columns is either
    read correctly or refused loudly, never positionally misread."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    reg = tmp_path / "reg"
    os.makedirs(reg)
    # extra leading column: positional column-0 would misread 'junk'
    pq.write_table(
        pa.table({"junk": [999], "batch_id": [7]}),
        str(reg / "part-a.parquet"),
    )
    assert M.try_read_registry(str(reg)) == {7}
    # no batch_id column at all → loud, not silent misread
    pq.write_table(pa.table({"junk": [1]}), str(reg / "part-b.parquet"))
    with pytest.raises(ValueError, match="no 'batch_id' column"):
        M.try_read_registry(str(reg))


def test_bare_paths_respect_default_fs(spark, tmp_path):
    """ADVICE r10 (medium): when fs.defaultFS is non-local, Spark
    resolves a BARE index path remotely — the driver-local fast path
    must decline it (fall back to the Spark route) or meta/registry
    rows would land on the driver's disk while data tables go to the
    cluster FS. Explicit file: URIs stay on the fast path."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old = hconf.get("fs.defaultFS")
    M._DEFAULT_FS_LOCAL.clear()
    try:
        hconf.set("fs.defaultFS", "hdfs://nn:9000/")
        bare = str(tmp_path / "remote_idx" / "meta")
        assert M.try_write_meta_row(
            bare, [("status", "string", "committed")]) is False
        assert M.try_read_meta_row(bare) is None
        assert M.try_read_registry(str(tmp_path / "b")) is None
        assert M.try_append_registry_row(str(tmp_path / "b"), 1) is False
        # explicit file: URI is unambiguous — fast path stays on
        fs_meta = str(tmp_path / "local_idx" / "meta")
        M._DEFAULT_FS_LOCAL.clear()
        assert M.try_write_meta_row(
            f"file://{fs_meta}", [("status", "string", "committed")])
        assert M.try_read_meta_row(f"file://{fs_meta}") == {
            "status": "committed"}
    finally:
        if old is None:
            hconf.unset("fs.defaultFS")
        else:
            hconf.set("fs.defaultFS", old)
        M._DEFAULT_FS_LOCAL.clear()


def test_default_fs_resolved_without_active_session(spark, tmp_path,
                                                    monkeypatch):
    """A thread with no active session (foreachBatch, thread pools)
    must resolve fs.defaultFS from the SparkContext, not assume local:
    with a remote default FS the fast path declines a bare path; with
    the local one it stays on. The cache is keyed on the application
    id."""
    import threading

    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "getActiveSession",
                        classmethod(lambda cls: None))

    def in_thread(f):
        out = []
        t = threading.Thread(target=lambda: out.append(f()))
        t.start()
        t.join(timeout=60)
        assert not t.is_alive() and len(out) == 1
        return out[0]

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old = hconf.get("fs.defaultFS")
    bare = str(tmp_path / "idx" / "meta")
    M._DEFAULT_FS_LOCAL.clear()
    try:
        hconf.set("fs.defaultFS", "hdfs://nn:9000/")
        assert M._default_fs_is_local() is False
        assert in_thread(lambda: M.try_write_meta_row(
            bare, [("status", "string", "committed")])) is False
        assert set(M._DEFAULT_FS_LOCAL) == {spark.sparkContext.applicationId}
        hconf.set("fs.defaultFS", "file:///")
        M._DEFAULT_FS_LOCAL.clear()
        assert in_thread(lambda: M.try_write_meta_row(
            bare, [("status", "string", "committed")])) is True
    finally:
        if old is None:
            hconf.unset("fs.defaultFS")
        else:
            hconf.set("fs.defaultFS", old)
        M._DEFAULT_FS_LOCAL.clear()


def test_bare_paths_under_remote_default_fs_fail_loudly(spark, tmp_path):
    """Under a non-local fs.defaultFS a bare index path names cluster
    storage for EVERY storage decision, not just the meta fast path:
    the writer lease and the registry's existence check reach for the
    cluster (pyarrow fails fast here: libhdfs is not loadable) instead
    of the driver's disk, where a lease would let two drivers both hold
    one and a missing registry would replay every batch. A bare path is
    qualified against the default FS; a relative one is refused."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old = hconf.get("fs.defaultFS")
    idx = str(tmp_path / "remote_idx")
    M._DEFAULT_FS_LOCAL.clear()
    try:
        hconf.set("fs.defaultFS", "hdfs://nn:9000/")
        with pytest.raises(OSError):
            D.acquire_index_lease(idx, "append")
        assert not os.path.exists(D._lease_uri(idx))
        with pytest.raises(OSError):
            D._read_batch_registry(spark, f"{idx}/batches")
        assert _fs.qualify(idx) == f"hdfs://nn:9000{idx}"
        with pytest.raises(ValueError, match="relative path"):
            _fs.qualify("remote_idx")
    finally:
        if old is None:
            hconf.unset("fs.defaultFS")
        else:
            hconf.set("fs.defaultFS", old)
        M._DEFAULT_FS_LOCAL.clear()


def test_spark_registry_route_reads_batch_id_by_name(spark, tmp_path,
                                                     monkeypatch):
    """The Spark fallback of _read_batch_registry (remote registries)
    resolves 'batch_id' by NAME too: reordered columns read correctly,
    a missing column fails loudly."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import AnalysisException

    monkeypatch.setattr(M, "try_read_registry", lambda uri: None)
    reg = tmp_path / "reg"
    os.makedirs(reg)
    pq.write_table(pa.table({"junk": [999], "batch_id": [7]}),
                   str(reg / "part-a.parquet"))
    assert D._read_batch_registry(spark, str(reg)) == {7}
    bad = tmp_path / "bad"
    os.makedirs(bad)
    pq.write_table(pa.table({"junk": [1]}), str(bad / "part-b.parquet"))
    with pytest.raises(AnalysisException, match="batch_id"):
        D._read_batch_registry(spark, str(bad))


_CENTS = [[1.0, 0.5], [-2.25, 3.0]]
_BOOKS = [[[0.1], [0.2]], [[1.5], [-1.0]]]


def _minhash_meta(spark, p):
    D._write_index_meta_row(spark, p, 16, 4, 3, 1, "xxhash64",
                            "__appending__", None, "batch3",
                            {"shingles": 2, "bands": 1})
    return D._read_index_meta(spark, p)


def _exact_meta(spark, p):
    from avro_spark.functions import exact_index as X

    X._write_exact_meta(spark, p, 8, "doc_id", "committed", 90, None,
                        None, {"fps": 1})
    return X._read_exact_meta(spark, p)


def _text_meta(spark, p):
    from avro_spark.functions import text_index as T

    T._write_text_meta(spark, p, 8, "doc_id", "committed", 10, 9, 123,
                       "b0", None, {"postings": 1, "termstats": 1})
    return T._read_text_meta(spark, p)


def _ivf_meta(spark, p):
    from avro_spark.functions import similarity as S

    S._write_ivf_meta(spark, p, _CENTS, "committed", 7, None, None, None,
                      {"data": 1}, [0, 5])
    return S._read_ivf_meta(spark, p)


def _ivfpq_meta(spark, p):
    from avro_spark.functions import ivfpq_index as Q

    Q._write_ivfpq_meta(spark, p, _CENTS, _BOOKS, "__splitting__", 7,
                        "b1", None, 1, None, [0, 5])
    return Q._read_ivfpq_meta(spark, p)


@pytest.mark.parametrize("write_and_read", [
    _minhash_meta, _exact_meta, _text_meta, _ivf_meta, _ivfpq_meta,
], ids=["minhash", "exact", "text", "ivf", "ivfpq"])
def test_family_meta_row_same_on_both_routes(spark, tmp_path, monkeypatch,
                                             write_and_read):
    """Each family's meta row, committed through the driver-local fast
    path and through the Spark route non-local URIs take, has the same
    column types and values (nested arrays and null tokens included),
    and the family reader returns the same dict from either route."""
    local, remote = str(tmp_path / "local"), str(tmp_path / "spark")
    got_local = write_and_read(spark, local)
    with monkeypatch.context() as mp:
        mp.setattr(_fs, "local_path", lambda uri: None)
        got_remote = write_and_read(spark, remote)
    a = spark.read.parquet(f"{local}/meta")
    b = spark.read.parquet(f"{remote}/meta")
    assert a.dtypes == b.dtypes
    assert a.head().asDict() == b.head().asDict()
    assert got_local == got_remote
    # the Spark route really ran: Spark part files, no fast-path file
    assert "part-00000-meta.parquet" not in os.listdir(f"{remote}/meta")


def test_lifecycle_protocol_lives_only_in_meta_io():
    """The marker protocol has ONE home: no other module of the package
    spells a status marker or runs the legacy swap or the version GC —
    the families go through ``begin_write`` / ``commit_write`` /
    ``compact_versions`` instead of copying the steps."""
    import ast
    import pathlib

    import avro_spark

    markers = {"__building__", "__appending__", "__compacting__"}
    steps = {"finish_legacy_swap", "_gc_table_versions"}
    root = pathlib.Path(avro_spark.__file__).parent
    home = root / "functions" / "_meta_io.py"
    found = []
    for f in sorted(root.rglob("*.py")):
        if f == home:
            continue
        for node in ast.walk(ast.parse(f.read_text(), str(f))):
            if isinstance(node, ast.Constant) and node.value in markers:
                found.append(f"{f.name}:{node.lineno} {node.value!r}")
            elif isinstance(node, ast.Call):
                fn = node.func
                name = getattr(fn, "attr", getattr(fn, "id", None))
                if name in steps:
                    found.append(f"{f.name}:{node.lineno} {name}()")
    assert not found, found

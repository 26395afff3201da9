"""The OCF readers' file listing: ``_list_files`` takes the files and
sizes from the ``binaryFile`` scan's own file index — exactly what the
scan reads, from any thread, in a fixed number of py4j round trips and
with no Spark job on any storage; without the codec jar a job over the
scan lists the same files; and a listing with no files fails the same
way on every reader."""

from __future__ import annotations

import os
import pathlib
import threading
from urllib.parse import quote

import pytest

import avro_spark
from avro_spark import _fs, jvm
from avro_spark.errors import AvroSparkError
from avro_spark.sources import avro_ocf
from avro_spark.sources.avro_ocf import (
    read_avro_files,
    read_avro_files_evolved,
    write_avro_files,
)


def _tree(root: pathlib.Path, rels) -> None:
    """One-byte files at ``rels``; names holding ``empty`` get zero bytes."""
    for rel in rels:
        p = root / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(b"" if "empty" in rel else b"x")


def _scanned(spark, path) -> "list[tuple[str, int]]":
    """``(path, length)`` columns of Spark's scan: the files it reads."""
    df = spark.read.format("binaryFile").load(path)
    return sorted((r["path"], r["length"])
                  for r in df.select("path", "length").collect())


def _java_uri(uri: str) -> str:
    """``java.net.URI`` rendering of a local file: ``file://`` plus the
    path with only what a URI path cannot hold percent-encoded."""
    return "file://" + quote(_fs.local_path(uri), safe="/!$&'()*+,;=:@")


def _listed(spark, path) -> "list[tuple[str, int]]":
    """The readers' listing of ``path``; empty where they refuse one
    with no files."""
    try:
        return avro_ocf._list_files(spark, path)[1]
    except AvroSparkError as e:
        assert str(e) == f"no files at {path}"
        return []


def _in_thread(spark, fn):
    """``fn()`` on a new Python thread, with the codec jar's cached
    helper handles dropped first so that thread loads them."""
    spark.sparkContext.__dict__.pop("_avro_spark_jar_objs", None)
    out: dict = {}

    def run():
        try:
            out["got"] = fn()
        except BaseException as e:  # re-raised on the test's thread
            out["err"] = e

    t = threading.Thread(target=run)
    t.start()
    t.join()
    if "err" in out:
        raise out["err"]
    return out["got"]


_HIDDEN = ["_SUCCESS", ".p1.avro.crc", "_temporary/0/part-0.avro"]


@pytest.fixture(scope="module")
def tree(tmp_path_factory):
    root = tmp_path_factory.mktemp("listing")
    _tree(root, ["plain/p1.avro", "plain/p2.avro", "plain/sub dir.avro",
                 *[f"plain/{h}" for h in _HIDDEN],
                 "part/k=1/a.avro", "part/k=2/b.avro", "part/k=2/_SUCCESS",
                 "part/_temporary/0/k=3/c.avro"])
    return root


@pytest.mark.parametrize("case", ["dir", "partitions", "star", "braces",
                                  "two_files"])
def test_listing_matches_spark_input_files(spark, tree, case):
    """One listing per path form the readers accept. It equals the scan's
    ``path`` and ``length`` columns exactly, and ``inputFiles()`` —
    Spark's URI-encoded ``file:///`` rendering of the same files —
    exactly after the same rendering."""
    path = {
        "dir": str(tree / "plain"),
        "partitions": str(tree / "part"),
        "star": str(tree / "plain" / "p*.avro"),
        "braces": str(tree / "plain" / "{p1,p2}.avro"),
        "two_files": [str(tree / "plain" / "p1.avro"),
                      str(tree / "part" / "k=2" / "b.avro")],
    }[case]
    got = _listed(spark, path)
    assert got and got == _scanned(spark, path)
    input_files = spark.read.format("binaryFile").load(path).inputFiles()
    assert sorted(input_files) == sorted(_java_uri(u) for u, _size in got)


def test_listing_reports_sizes(spark, tmp_path):
    _tree(tmp_path, ["s/one.avro"])
    (tmp_path / "s" / "many.avro").write_bytes(b"y" * 1000)
    path = str(tmp_path / "s")
    assert _listed(spark, path) == _scanned(spark, path) == [
        (f"file:{tmp_path}/s/many.avro", 1000),
        (f"file:{tmp_path}/s/one.avro", 1)]


_EDGE_CASES = [
    # zero-byte files and parquet summaries are listed by Spark but
    # never scanned; in-flight copies are not listed
    (["a/x.avro", "a/empty.avro", "a/_metadata", "a/y._COPYING_",
      "a/_k=v.avro"], "a"),
    # a plain sub-directory is not read; a k=v one is
    (["b/x.avro", "b/sub/y.avro"], "b"),
    (["c/k=1/x.avro", "c/k=1/sub/y.avro", "c/k=2/z.avro"], "c"),
    (["d/a=1/b=2/x.avro", "d/a=1/b=3/y.avro"], "d"),
    # next to partition directories, the base's own files are dropped
    (["e/k=1/x.avro", "e/top.avro"], "e"),
    # a root is never hidden itself, only what lies below it
    (["f/_hid/x.avro", "f/.dot/y.avro", "f/vis/z.avro"], "f/*"),
    (["g/_hid/x.avro"], "g/_hid"),
    (["h/_SUCCESS"], "h/_SUCCESS"),
    (["i/a.avro", "i/b.avro", "i/c/d.avro"], "i/[!a].avro"),
    (["j/a.avro", "j/c/d.avro"], "{j/a.avro,j/c}"),
    (["k/a.avro", "k/b.avro"], ["k", "k/a.avro"]),  # read twice
]


def _edge_case(root: pathlib.Path, rels, path):
    _tree(root, rels)
    return ([str(root / p) for p in path] if isinstance(path, list)
            else str(root / path))


@pytest.mark.parametrize("rels,path", _EDGE_CASES)
def test_listing_matches_spark_scan_edge_cases(spark, tmp_path, rels, path):
    full = _edge_case(tmp_path, rels, path)
    assert _listed(spark, full) == _scanned(spark, full)


def test_listing_spellings_of_one_directory(spark, tree):
    """A trailing slash, a ``file://`` URI and ``..`` steps list the
    same URIs Spark prints."""
    want = _scanned(spark, str(tree / "plain"))
    for spelling in (f"{tree}/plain/", f"file://{tree}/plain",
                     f"{tree}/part/../plain"):
        assert _listed(spark, spelling) == want


def test_listing_from_a_second_thread(spark, tree, tmp_path):
    """A thread other than the one that attached the codec jar lists
    every shape as the scan reads it: ``spark._jvm`` resolves a jar class
    only on that one thread, so the helper is loaded through the
    session's jar class loader."""
    paths = [str(tree / "plain"), str(tree / "part"),
             str(tree / "plain" / "p*.avro"), f"file://{tree}/plain/",
             *(_edge_case(tmp_path / str(k), rels, path)
               for k, (rels, path) in enumerate(_EDGE_CASES))]
    want = [_scanned(spark, p) for p in paths]
    assert [_listed(spark, p) for p in paths] == want  # attaches the jar
    assert _in_thread(
        spark, lambda: [_listed(spark, p) for p in paths]) == want


def test_listing_round_trips_do_not_grow_with_files(spark, tmp_path,
                                                    py4j_round_trips):
    """One listing makes the same py4j round trips at 4 and 64 files:
    the file set crosses from the JVM as one string."""
    counts = []
    for n in (4, 64):
        d = tmp_path / f"n{n}"
        _tree(d, [f"f{i:03d}.avro" for i in range(n)])
        avro_ocf._list_files(spark, str(d))  # warm
        with py4j_round_trips() as rt:
            _files, listing = avro_ocf._list_files(spark, str(d))
        assert len(listing) == n
        counts.append(rt.n)
    assert counts[0] == counts[1], counts


def test_listing_without_the_jar_runs_the_job(spark, tree, monkeypatch):
    """No codec jar: the listing job over the scan gives the same
    listing as the scan's file index."""
    paths = [str(tree / "plain"), str(tree / "part"),
             str(tree / "plain" / "p*.avro"),
             [str(tree / "plain" / "p1.avro"),
              str(tree / "part" / "k=2" / "b.avro")]]
    want = [_listed(spark, p) for p in paths]
    monkeypatch.setattr(jvm, "ensure_jar", lambda: None)
    assert jvm.scan_files(
        spark, spark.read.format("binaryFile").load(paths[0])) is None
    assert [_listed(spark, p) for p in paths] == want


def test_reader_raises_where_spark_refuses_the_layout(spark, tmp_path):
    """Two partitioned trees under one root: Spark's own error, raised
    by the reader before any listing of its own."""
    _tree(tmp_path, ["x/k=1/a.avro", "y/k=1/b.avro"])
    with pytest.raises(Exception) as spark_err:
        spark.read.format("binaryFile").load(str(tmp_path))
    with pytest.raises(type(spark_err.value)) as got:
        read_avro_files(spark, str(tmp_path))
    assert "CONFLICTING_DIRECTORY_STRUCTURES" in str(got.value)


_V1 = {"type": "record", "name": "L", "fields": [{"name": "a", "type": "long"}]}


def _read(kind, spark, path):
    if kind == "plain":
        return read_avro_files(spark, path)
    v1 = avro_spark.create(_V1)
    return read_avro_files_evolved(spark, path, v1,
                                   mixed_writers=kind == "mixed")


@pytest.mark.parametrize("kind", ["plain", "evolved", "mixed"])
@pytest.mark.parametrize("shape", ["empty", "hidden_only"])
def test_no_files_error(spark, tmp_path, kind, shape):
    d = tmp_path / "d"
    d.mkdir()
    if shape == "hidden_only":
        _tree(d, ["_SUCCESS", ".x.crc", "_temporary/0/part-0.avro"])
    with pytest.raises(AvroSparkError) as got:
        _read(kind, spark, str(d))
    assert str(got.value) == f"no files at {d}"


@pytest.mark.parametrize("kind", ["plain", "evolved", "mixed"])
def test_missing_path_error(spark, tmp_path, kind):
    from pyspark.errors import AnalysisException

    d = tmp_path / "nope"
    with pytest.raises(AnalysisException) as got:
        _read(kind, spark, str(d))
    assert str(got.value) == (
        f"[PATH_NOT_FOUND] Path does not exist: file:{d}. SQLSTATE: 42K03")


def _two_writers(spark, tmp_path) -> pathlib.Path:
    """A directory whose first file in name order is small and written
    with ``_V1``; a later, larger one has another writer schema."""
    s1 = avro_spark.create(_V1)
    s2 = avro_spark.create({"type": "record", "name": "L", "fields": [
        {"name": "a", "type": "long"}, {"name": "b", "type": "string"}]})
    d = tmp_path / "d"
    write_avro_files(spark.createDataFrame([(1,)], "a long"), s1, str(d))
    write_avro_files(spark.createDataFrame([(2, "long " * 200)],
                                           "a long, b string"),
                     s2, str(tmp_path / "other"))
    big = next((tmp_path / "other").glob("part-*.avro"))
    os.rename(big, d / "zz-part.avro")
    return d


def test_first_file_is_first_in_name_order(spark, tmp_path):
    """The writer schema is peeked from the first file in name order."""
    d = _two_writers(spark, tmp_path)
    with pytest.raises(AvroSparkError, match="writer-schema mismatch at "
                       f"file:{d}/zz-part.avro"):
        read_avro_files(spark, str(d))


def test_first_file_is_first_in_name_order_off_the_driver(
        spark, tmp_path, monkeypatch):
    """The same when the driver cannot open any header: the peek reads
    exactly the first listed file through Spark, never the scan's first
    row (Spark packs its largest file first), and reads its name
    literally, not as a glob."""
    d = _two_writers(spark, tmp_path)
    first = next(d.glob("part-*.avro"))
    os.rename(first, d / "a[1].avro")
    real_scan = avro_ocf._scan_header
    driver = os.getpid()
    fired = []

    def driver_cannot_open(uri):
        if os.getpid() == driver:
            fired.append(uri)
            raise OSError("simulated storage the driver cannot reach")
        return real_scan(uri)

    monkeypatch.setattr(avro_ocf, "_scan_header", driver_cannot_open)
    with pytest.raises(AvroSparkError, match="writer-schema mismatch at "
                       f"file:{d}/zz-part.avro"):
        read_avro_files(spark, str(d))
    assert fired


def test_percent_signs_name_files_literally(spark, tmp_path):
    """Spark prints ``file:`` paths unencoded: ``dir%41`` is a directory
    named with a percent sign, not ``dirA``. Listing and header reads
    take it as is, so the read keeps the JVM route."""
    assert _fs.local_path("file:/x/a%41.avro") == "/x/a%41.avro"
    assert _fs.local_path("file:///x/a%20b") == "/x/a%20b"
    s = avro_spark.create(_V1)
    d = tmp_path / "dir%41"
    write_avro_files(spark.range(5).selectExpr("id AS a"), s, str(d))
    route: dict = {}
    got = read_avro_files(spark, str(d), route_out=route)
    assert sorted(r.a for r in got.collect()) == list(range(5))
    from avro_spark.jvm import jvm_codec_available

    if jvm_codec_available(spark):
        assert route["engine"] == "jvm"


def test_non_local_root_plans_with_no_job(spark, tmp_path, monkeypatch,
                                         spark_jobs):
    """A root that is not local plans like a local one: its listing is
    the scan's own file index, so with ``verify_schemas=False`` no Spark
    job starts before the action, and the read is right."""
    s = avro_spark.create(_V1)
    d = str(tmp_path / "d")
    write_avro_files(spark.range(6).selectExpr("id AS a").repartition(3), s, d)
    monkeypatch.setattr(_fs, "local_path", lambda uri: None)
    with spark_jobs() as jobs:
        got = read_avro_files_evolved(spark, d, s, verify_schemas=False)
    assert jobs.n == 0
    assert sorted(r.a for r in got.collect()) == list(range(6))

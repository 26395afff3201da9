"""The OCF readers' file listing: ``_fs.scan_files`` lists local roots on
the driver, with no Spark job, exactly the files Spark's ``binaryFile``
scan reads; other roots list through the scan; and a listing with no
files fails the same way on every reader."""

from __future__ import annotations

import os
import pathlib
from urllib.parse import quote

import pytest

import avro_spark
from avro_spark import _fs
from avro_spark.errors import AvroSparkError
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


def _scanned(spark, path) -> "list[str]":
    """The ``path`` column of Spark's scan: the files it reads."""
    df = spark.read.format("binaryFile").load(path)
    return sorted(r["path"] for r in df.select("path").collect())


def _java_uri(uri: str) -> str:
    """``java.net.URI`` rendering of a local file: ``file://`` plus the
    path with only what a URI path cannot hold percent-encoded."""
    return "file://" + quote(_fs.local_path(uri), safe="/!$&'()*+,;=:@")


def _listed(path) -> "list[str]":
    return [u for u, _size in _fs.scan_files(path)]


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
    ``path`` column exactly, and ``inputFiles()`` — Spark's URI-encoded
    ``file:///`` rendering of the same files — exactly after the same
    rendering."""
    path = {
        "dir": str(tree / "plain"),
        "partitions": str(tree / "part"),
        "star": str(tree / "plain" / "p*.avro"),
        "braces": str(tree / "plain" / "{p1,p2}.avro"),
        "two_files": [str(tree / "plain" / "p1.avro"),
                      str(tree / "part" / "k=2" / "b.avro")],
    }[case]
    got = _listed(path)
    assert got and got == _scanned(spark, path)
    input_files = spark.read.format("binaryFile").load(path).inputFiles()
    assert sorted(input_files) == sorted(map(_java_uri, got))


def test_listing_reports_sizes(tree):
    assert dict(_fs.scan_files(str(tree / "plain"))) == {
        f"file:{tree}/plain/{n}": 1
        for n in ("p1.avro", "p2.avro", "sub dir.avro")}


@pytest.mark.parametrize("rels,path", [
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
])
def test_listing_matches_spark_scan_edge_cases(spark, tmp_path, rels, path):
    _tree(tmp_path, rels)
    full = ([str(tmp_path / p) for p in path] if isinstance(path, list)
            else str(tmp_path / path))
    assert _listed(full) == _scanned(spark, full)


def test_listing_spellings_of_one_directory(spark, tree):
    """A trailing slash, a ``file://`` URI and ``..`` steps list the
    same URIs Spark prints."""
    want = _scanned(spark, str(tree / "plain"))
    for spelling in (f"{tree}/plain/", f"file://{tree}/plain",
                     f"{tree}/part/../plain"):
        assert _listed(spelling) == want


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


def test_first_file_is_first_in_name_order(spark, tmp_path):
    """The writer schema is peeked from the first file in name order."""
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
    with pytest.raises(AvroSparkError, match="writer-schema mismatch at "
                       f"file:{d}/zz-part.avro"):
        read_avro_files(spark, str(d))


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


def test_non_local_root_lists_through_spark(spark, tmp_path, monkeypatch):
    """A root that is not local lists through a job over the Spark scan,
    never through the driver-side listing, and still reads."""
    s = avro_spark.create(_V1)
    d = str(tmp_path / "d")
    write_avro_files(spark.range(6).selectExpr("id AS a").repartition(3), s, d)

    def driver_listing(path):
        raise AssertionError(f"driver-side listing of {path}")

    monkeypatch.setattr(_fs, "local_path", lambda uri: None)
    monkeypatch.setattr(_fs, "scan_files", driver_listing)
    got = read_avro_files_evolved(spark, d, s)
    assert sorted(r.a for r in got.collect()) == list(range(6))

"""The one filesystem layer (avro_spark/_fs.py): it is the only module
that resolves storage, and its listings see exactly the files a Spark
scan reads."""

from __future__ import annotations

import pathlib
import re
import shutil

import avro_spark
import avro_spark.functions.similarity as S
from avro_spark.functions import exact_index as X

from conftest import SF_DIR

_PKG = pathlib.Path(avro_spark.__file__).parent


def test_only_the_fs_module_resolves_storage():
    """pyarrow's filesystem layer is reached through avro_spark._fs
    alone, so one locality rule covers every storage decision."""
    pat = re.compile(r"FileSystem\.from_uri|from pyarrow import fs\b"
                     r"|import pyarrow\.fs|from pyarrow\.fs import")
    offenders = sorted(
        str(p.relative_to(_PKG)) for p in _PKG.rglob("*.py")
        if p != _PKG / "_fs.py" and pat.search(p.read_text()))
    assert offenders == []


def _plant_crashed_write(table_dir: str) -> None:
    """A crashed write's residue: a copy of a live part file under
    ``_temporary/0/`` (partition sub-dir kept), which Spark's file index
    skips."""
    src = sorted(pathlib.Path(table_dir).rglob("part-*.parquet"))[0]
    dst = pathlib.Path(table_dir, "_temporary", "0",
                       src.relative_to(table_dir))
    dst.parent.mkdir(parents=True)
    shutil.copy(src, dst)


def test_stats_count_only_files_a_scan_reads(spark, tmp_path):
    """Index stats count the rows a probe can see: files under a hidden
    ``_temporary/`` dir are skipped, as Spark skips them."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    exact = str(tmp_path / "exact")
    X.write_exact_index(docs, exact, n_buckets=2)
    _plant_crashed_write(f"{exact}/fps")
    st = X.exact_index_stats(spark, exact)
    assert st["fps_rows"] == spark.read.parquet(f"{exact}/fps").count()
    assert st["fps_files"] == 2

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    ivf = str(tmp_path / "ivf")
    S.write_ivf_index(emb, S.sample_centroids(emb, 4), ivf)
    _plant_crashed_write(f"{ivf}/data")
    st = S.ivf_index_stats(spark, ivf)
    assert st["footer_rows"] == spark.read.parquet(f"{ivf}/data").count()

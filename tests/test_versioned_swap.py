"""r10 (VERDICT #3): versioned-dir + meta-pointer swap.

Every whole-table replacement (compaction) and every split now commits
by overwriting the ONE meta row — there is no remove-then-move window
anywhere on the commit path. These tests enforce that on a path that
MIMICS no-atomic-rename semantics in the strictest way possible:
``_fs.mv_dir`` (the only rename primitive in the codebase) is patched to
RAISE, as it effectively would on an object store where a crash inside
an emulated per-object move strands files on both sides. Every
build / append / compact / split / probe across all five index
families must complete without ever wanting a move. (The legacy
``'__compacting__'``/``'__splitting__'`` recovery paths for indexes
left mid-swap by pre-r10 code still move — they are exercised by the
per-family tests, not here.) The three lifecycle tests run on both
meta-row routes: the driver-local fast path and the Spark route every
non-local URI takes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import avro_spark.functions.dedup as D
import avro_spark.functions.similarity as S
from avro_spark import _fs
from avro_spark.functions import exact_index as X
from avro_spark.functions import ivfpq_index as Q
from avro_spark.functions import text_index as T

from conftest import SF_DIR


@pytest.fixture()
def no_rename(monkeypatch):
    """Filesystem moves are FORBIDDEN — the no-atomic-rename store."""

    def _refuse(src, dst):
        raise AssertionError(
            f"mv_dir({src!r}, {dst!r}) on a commit path — the "
            "versioned swap contract forbids renames outside legacy "
            "recovery"
        )

    monkeypatch.setattr(_fs, "mv_dir", _refuse)


@pytest.fixture(params=["local", "spark"])
def meta_route(request, monkeypatch):
    """The route every meta row commits through: the driver-local fast
    path, or the Spark route a non-local URI takes."""
    if request.param == "spark":
        monkeypatch.setattr(_fs, "local_path", lambda uri: None)
    return request.param


def _docs(spark, lo, hi):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .where(f"doc_id >= {lo} and doc_id < {hi}").select("doc_id", "text")


def test_minhash_lifecycle_never_renames(spark, tmp_path, no_rename,
                                         meta_route):
    idx = str(tmp_path / "mh")
    kw = dict(num_hashes=16, bands=4, shingle_n=3)
    D.write_minhash_index(_docs(spark, 0, 60), idx, "doc_id", "text", **kw)
    D.write_minhash_index(_docs(spark, 60, 90), idx, "doc_id", "text",
                          mode="append", append_token="b0", **kw)
    batch = _docs(spark, 0, 20).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text")
    before = {(r.new_id, r.corpus_id)
              for r in D.dedup_against_index(spark, batch, idx,
                                             "doc_id", "text").collect()}
    D.compact_minhash_index(spark, idx)
    m = D._read_index_meta(spark, idx)
    assert m["versions"] == {"shingles": 1, "bands": 1}
    after = {(r.new_id, r.corpus_id)
             for r in D.dedup_against_index(spark, batch, idx,
                                            "doc_id", "text").collect()}
    assert after == before and after
    D.compact_minhash_index(spark, idx)  # second compact: v2
    assert D._read_index_meta(spark, idx)["versions"] == {
        "shingles": 2, "bands": 2}


def test_text_and_exact_lifecycle_never_rename(spark, tmp_path, no_rename,
                                               meta_route):
    ti = str(tmp_path / "ti")
    T.write_text_index(_docs(spark, 0, 60), ti, n_buckets=8)
    T.write_text_index(_docs(spark, 60, 90), ti, n_buckets=None,
                       mode="append", append_token="b0")
    q = spark.createDataFrame([(0, "the model data")],
                              "query_id long, query string")
    before = [(r.query_id, r.rank, r.doc_id)
              for r in T.bm25_indexed(spark, ti, q, k=5)
              .orderBy("query_id", "rank").collect()]
    T.compact_text_index(spark, ti)
    assert T._read_text_meta(spark, ti)["versions"] == {
        "postings": 1, "termstats": 1}
    assert [(r.query_id, r.rank, r.doc_id)
            for r in T.bm25_indexed(spark, ti, q, k=5)
            .orderBy("query_id", "rank").collect()] == before

    xi = str(tmp_path / "xi")
    X.write_exact_index(_docs(spark, 0, 60), xi, n_buckets=8)
    X.write_exact_index(_docs(spark, 60, 90), xi, n_buckets=None,
                        mode="append", append_token="b0")
    batch = _docs(spark, 0, 20).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text")
    before_x = {r.doc_id: r.dup_of for r in X.dedup_exact_against_index(
        spark, batch, xi).collect()}
    X.compact_exact_index(spark, xi)
    assert X._read_exact_meta(spark, xi)["versions"] == {"fps": 1}
    assert {r.doc_id: r.dup_of for r in X.dedup_exact_against_index(
        spark, batch, xi).collect()} == before_x


def test_vector_lifecycle_never_renames(spark, tmp_path, no_rename,
                                        meta_route):
    """IVF + IVF-PQ: append → split (fresh dir ids) → compact
    (version flip) → probe, all with renames forbidden."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"))
    cents = S.sample_centroids(emb, 3)

    ivf = str(tmp_path / "ivf")
    S.write_ivf_index(emb.where("vec_id % 2 = 0"), cents, ivf)
    S.write_ivf_index(emb.where("vec_id % 2 = 1"), None, ivf,
                      mode="append", append_token="b0")

    def topk(p):
        return [
            (r.query_id, r.rank, r.vec_id, round(r.cosine, 9))
            for r in S.knn_ivf_indexed(spark, p, q, None, k=5, nprobe=99)
            .orderBy("query_id", "rank").collect()
        ]
    want = topk(ivf)
    m = S._read_ivf_meta(spark, ivf)
    hot = max(range(len(m["dir_ids"])), key=lambda i: 0)  # split cid 0
    S.split_ivf_centroid(spark, ivf, hot, k_sub=2, iters=1)
    m2 = S._read_ivf_meta(spark, ivf)
    # fresh physical ids, never reused
    assert m2["dir_ids"] != list(range(len(m2["centroids"])))
    assert topk(ivf) == want
    S.compact_ivf_index(spark, ivf)
    assert S._read_ivf_meta(spark, ivf)["versions"] == {"data": 1}
    assert topk(ivf) == want

    books = S.pq_codebooks(emb, m=4, k=8, refine_iters=1)
    pq = str(tmp_path / "pq")
    Q.write_ivfpq_index(emb, cents, books, pq)

    def topk_pq(p):
        return [
            (r.query_id, r.rank, r.vec_id, round(r.cosine, 9))
            for r in Q.knn_ivfpq_indexed(spark, p, q, k=5, nprobe=99,
                                         rerank=100_000)
            .orderBy("query_id", "rank").collect()
        ]
    want_pq = topk_pq(pq)
    Q.split_ivfpq_centroid(spark, pq, 0, k_sub=2, iters=1)
    assert topk_pq(pq) == want_pq
    Q.compact_ivfpq_index(spark, pq)
    assert Q._read_ivfpq_meta(spark, pq)["versions"] == {
        "codes": 1, "raw": 1}
    assert topk_pq(pq) == want_pq


def test_probe_keeps_working_while_compact_is_mid_flight(
        spark, tmp_path, monkeypatch):
    """The versioned swap's headline upgrade over the marker
    discipline: a compaction crash (ANY point before the meta flip)
    leaves the index bit-for-bit committed — probes never refuse, and
    the retry overwrites the residue."""
    idx = str(tmp_path / "midc")
    kw = dict(num_hashes=16, bands=4, shingle_n=3)
    D.write_minhash_index(_docs(spark, 0, 60), idx, "doc_id", "text", **kw)
    batch = _docs(spark, 0, 20).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text")

    def probe():
        return {(r.new_id, r.corpus_id)
                for r in D.dedup_against_index(spark, batch, idx,
                                               "doc_id", "text").collect()}
    want = probe()
    real = D._write_index_meta_row

    def _die(*a, **k):
        raise RuntimeError("simulated crash before the pointer flip")

    monkeypatch.setattr(D, "_write_index_meta_row", _die)
    with pytest.raises(RuntimeError, match="simulated crash"):
        D.compact_minhash_index(spark, idx)
    monkeypatch.setattr(D, "_write_index_meta_row", real)
    m = D._read_index_meta(spark, idx)
    assert m["status"] == "committed" and m["versions"] == {}
    assert probe() == want          # probes never saw the crash
    D.compact_minhash_index(spark, idx)   # retry overwrites residue
    assert D._read_index_meta(spark, idx)["versions"] == {
        "shingles": 1, "bands": 1}
    assert probe() == want

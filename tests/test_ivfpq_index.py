"""Persisted IVF-PQ index (r9): m-byte PQ codes as the probe scan side,
raw-vector sidecar read only for the exact rerank of each query's
shortlist — the compressed cousin of write_ivf_index, pinned the same
way (centroids AND codebooks in the meta row, marker + token
discipline)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import avro_spark.functions.similarity as S
from avro_spark.functions import ivfpq_index as Q

from conftest import SF_DIR


def _setup(spark, tmp_path, name="pq"):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = S.sample_centroids(emb, 16)
    books = S.pq_codebooks(emb, m=8, k=16, refine_iters=1)
    q = emb.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    path = str(tmp_path / name)
    return emb, cents, books, q, path


def _rows(df):
    return [
        (r.query_id, r.rank, r.vec_id, round(r.cosine, 9))
        for r in df.orderBy("query_id", "rank").collect()
    ]


def test_full_rerank_equals_ivf_indexed(spark, tmp_path):
    """With rerank covering every probed candidate, the IVF-PQ probe's
    EXACT rerank returns exactly knn_ivf_indexed's answer (same
    centroids, same candidate set, same exact cosine) — PQ then only
    ordered the shortlist, which a full rerank makes irrelevant."""
    emb, cents, books, q, path = _setup(spark, tmp_path)
    Q.write_ivfpq_index(emb, cents, books, path)
    ivf_path = str(tmp_path / "plain_ivf")
    S.write_ivf_index(emb, cents, ivf_path)
    want = _rows(S.knn_ivf_indexed(spark, ivf_path, q, None, k=5, nprobe=3))
    got = _rows(Q.knn_ivfpq_indexed(
        spark, path, q, k=5, nprobe=3, rerank=10_000))
    assert got == want


def test_small_rerank_matches_pq_shortlist_then_exact(spark, tmp_path):
    """With a small rerank the shortlist IS the per-query top-r of the
    asymmetric PQ scores (knn_ivfpq with k=r replays it), and the final
    answer is the exact-cosine top-k within that shortlist."""
    emb, cents, books, q, path = _setup(spark, tmp_path)
    Q.write_ivfpq_index(emb, cents, books, path)
    r = 8
    short = S.knn_ivfpq(emb, q, cents, books, k=r, nprobe=3).select(
        "query_id", F.col("vec_id").alias("cand_id"))
    exact = (
        short.join(
            emb.select(F.col("vec_id").alias("cand_id"),
                       F.col("embedding").alias("cv")),
            "cand_id")
        .join(q, "query_id")
        .select(
            "query_id",
            F.col("cand_id").alias("vec_id"),
            (S.dot("cv", "q_embedding")
             / (S.l2_norm("cv") * S.l2_norm("q_embedding"))).alias("cosine"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("vec_id"))
    want = _rows(
        exact.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "rank", "vec_id", "cosine")
    )
    got = _rows(Q.knn_ivfpq_indexed(spark, path, q, k=5, nprobe=3, rerank=r))
    assert got == want


def test_codes_scan_is_partition_pruned(spark, tmp_path):
    emb, cents, books, q, path = _setup(spark, tmp_path)
    Q.write_ivfpq_index(emb, cents, books, path)
    out = Q.knn_ivfpq_indexed(spark, path, q, k=5, nprobe=3, rerank=8,
                              prune_min_index_bytes=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    import re

    p1 = (
        spark.read.parquet(path + "/codes")
        .where(F.col("centroid_id") == 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p1)
    assert m and "centroid_id" in m.group(1) and "3" in m.group(1), p1[:1500]


def test_pins_refuse_drift_and_bad_status(spark, tmp_path):
    emb, cents, books, q, path = _setup(spark, tmp_path)
    Q.write_ivfpq_index(emb, cents, books, path)
    drifted_c = [[x + 1.0 for x in c] for c in cents]
    drifted_b = [[[x + 1.0 for x in c] for c in b] for b in books]
    with pytest.raises(ValueError, match="centroids do not match"):
        Q.knn_ivfpq_indexed(spark, path, q, centroids=drifted_c, k=3)
    with pytest.raises(ValueError, match="codebooks do not match"):
        Q.knn_ivfpq_indexed(spark, path, q, codebooks=drifted_b, k=3)
    with pytest.raises(ValueError, match="append centroids do not match"):
        Q.write_ivfpq_index(emb, drifted_c, None, path, mode="append")
    with pytest.raises(ValueError, match="append codebooks do not match"):
        Q.write_ivfpq_index(emb, None, drifted_b, path, mode="append")
    with pytest.raises(ValueError, match="bad mode"):
        Q.write_ivfpq_index(emb, cents, books, path, mode="errorifexists")
    m = Q._read_ivfpq_meta(spark, path)
    Q._write_ivfpq_meta(spark, path, m["centroids"], m["codebooks"],
                        "__appending__", m["rows"])
    with pytest.raises(ValueError, match="died part-way"):
        Q.knn_ivfpq_indexed(spark, path, q, k=3)
    with pytest.raises(ValueError, match="no IVF-PQ index meta"):
        Q.knn_ivfpq_indexed(spark, str(tmp_path / "nope"), q, k=3)


def test_append_grows_equivalently_with_tokens(spark, tmp_path):
    """mode='append' with the pinned parameters equals built-at-once; a
    blind retry of a committed token no-ops; a different batch against a
    dead append is refused; '__compacting__' refuses appends."""
    emb, cents, books, q, path = _setup(spark, tmp_path, "grown")
    whole = str(tmp_path / "whole")
    Q.write_ivfpq_index(emb, cents, books, whole)
    Q.write_ivfpq_index(emb.where("vec_id % 2 = 0"), cents, books, path)
    Q.write_ivfpq_index(emb.where("vec_id % 2 = 1"), None, None, path,
                        mode="append", append_token="b0")
    assert _rows(Q.knn_ivfpq_indexed(spark, path, q, k=5, nprobe=3,
                                     rerank=20)) == \
        _rows(Q.knn_ivfpq_indexed(spark, whole, q, k=5, nprobe=3,
                                  rerank=20))
    rows = spark.read.parquet(path + "/codes").count()
    # blind retry no-ops on the token
    Q.write_ivfpq_index(emb.where("vec_id % 2 = 1"), None, None, path,
                        mode="append", append_token="b0")
    assert spark.read.parquet(path + "/codes").count() == rows
    # a DIFFERENT batch against a dead in-flight append: refused
    m = Q._read_ivfpq_meta(spark, path)
    Q._write_ivfpq_meta(spark, path, m["centroids"], m["codebooks"],
                        "__appending__", m["rows"], m["token"], "b1")
    with pytest.raises(ValueError, match="in-flight append with"):
        Q.write_ivfpq_index(emb.limit(1), None, None, path,
                            mode="append", append_token="b2")
    # the SAME batch's retry heals (duplicates absorbed at probe time)
    Q.write_ivfpq_index(emb.where("vec_id % 2 = 1"), None, None, path,
                        mode="append", append_token="b1")
    assert Q._read_ivfpq_meta(spark, path)["status"] == "committed"
    assert _rows(Q.knn_ivfpq_indexed(spark, path, q, k=5, nprobe=3,
                                     rerank=20)) == \
        _rows(Q.knn_ivfpq_indexed(spark, whole, q, k=5, nprobe=3,
                                  rerank=20))
    # '__compacting__' refuses appends until recovery finishes
    m = Q._read_ivfpq_meta(spark, path)
    Q._write_ivfpq_meta(spark, path, m["centroids"], m["codebooks"],
                        "__compacting__", m["rows"], m["token"])
    with pytest.raises(ValueError, match="finish the in-flight"):
        Q.write_ivfpq_index(emb.limit(1), None, None, path,
                            mode="append", append_token="b3")
    Q.compact_ivfpq_index(spark, path)  # finish-the-swap recovery
    assert Q._read_ivfpq_meta(spark, path)["status"] == "committed"


def test_compaction_and_stats(spark, tmp_path):
    """Compaction collapses retry residue and preserves answers; stats
    report the measured codes:raw shrink (the module's reason to
    exist) and the duplicate count before/after."""
    emb, cents, books, q, path = _setup(spark, tmp_path, "cmp")
    Q.write_ivfpq_index(emb.where("vec_id % 2 = 0"), cents, books, path)
    Q.write_ivfpq_index(emb.where("vec_id % 2 = 1"), None, None, path,
                        mode="append", append_token="a")
    # retry residue: replay the same append WITHOUT its token
    Q.write_ivfpq_index(emb.where("vec_id % 2 = 1"), None, None, path,
                        mode="append")
    st = Q.ivfpq_index_stats(spark, path)
    assert st["duplicate_rows"] > 0
    assert st["codes_bytes"] < st["raw_bytes"]
    assert st["codes_to_raw_ratio"] > 2  # 8 smallints vs 64 doubles+norm
    before = _rows(Q.knn_ivfpq_indexed(spark, path, q, k=5, nprobe=3,
                                       rerank=20))
    Q.compact_ivfpq_index(spark, path)
    st2 = Q.ivfpq_index_stats(spark, path)
    assert st2["duplicate_rows"] == 0
    assert st2["codes_files"] <= st["codes_files"]
    assert st2["rows"] == emb.count()
    after = _rows(Q.knn_ivfpq_indexed(spark, path, q, k=5, nprobe=3,
                                      rerank=20))
    assert after == before


def test_stream_ivfpq_index_exactly_once(spark, tmp_path):
    """Streaming ingest face: a real availableNow drive appends the
    batch once; a recorded-batch replay is a no-op; a lost-registry
    replay no-ops on the append token; the grown index answers like a
    built-at-once one."""
    emb, cents, books, q, path = _setup(spark, tmp_path, "stream")
    seed = emb.where("vec_id % 2 = 0")
    batch = emb.where("vec_id % 2 = 1")
    Q.write_ivfpq_index(seed, cents, books, path)

    src = str(tmp_path / "src")
    batch.write.parquet(src)
    qy = Q.index_vectors_stream(
        spark.readStream.schema(batch.schema).parquet(src),
        path, str(tmp_path / "ckpt"), trigger_available_now=True)
    qy.awaitTermination()
    n1 = spark.read.parquet(path + "/codes").count()
    assert n1 == emb.count()
    whole = str(tmp_path / "whole")
    Q.write_ivfpq_index(emb, cents, books, whole)
    assert _rows(Q.knn_ivfpq_indexed(spark, path, q, k=5, nprobe=3,
                                     rerank=20)) == \
        _rows(Q.knn_ivfpq_indexed(spark, whole, q, k=5, nprobe=3,
                                  rerank=20))

    # drive the sink callable directly: recorded-batch replay no-ops
    sink = Q._stream_ivfpq_sink(path)
    b2 = batch.withColumn("vec_id", F.col("vec_id") + 10_000)
    sink(b2, 7)
    n2 = spark.read.parquet(path + "/codes").count()
    sink(b2, 7)
    assert spark.read.parquet(path + "/codes").count() == n2
    # lost-registry replay: remove the batch record — the append token
    # in the meta row still makes the re-run a structural no-op
    import shutil

    shutil.rmtree(path + "/batches")
    sink(b2, 7)
    assert spark.read.parquet(path + "/codes").count() == n2
    assert 7 in {r[0] for r in
                 spark.read.parquet(path + "/batches").collect()}


def test_split_hot_ivfpq_centroid(spark, tmp_path, monkeypatch):
    """Hot-centroid split over BOTH tables: codes relabel by id (never
    re-encoded — codebooks stay pinned), raw rows re-route, skew
    shrinks, nothing is lost (full-rerank answers unchanged), the pin
    refuses the pre-split matrix, and a crash between the marker and
    the swap heals by re-running the same split."""
    emb, cents16, books, q, _ = _setup(spark, tmp_path)
    cents = S.sample_centroids(emb, 2)
    path = str(tmp_path / "pqsplit")
    Q.write_ivfpq_index(emb, cents, books, path)
    parts = {
        r["centroid_id"]: r["n"]
        for r in spark.read.parquet(path + "/codes")
        .groupBy("centroid_id").agg(F.count("*").alias("n")).collect()
    }
    hot = max(parts, key=parts.get)
    st = Q.ivfpq_index_stats(spark, path)
    # full-probe + full-rerank = exact over everything: the invariant
    # that must survive the split byte-for-byte
    before = _rows(Q.knn_ivfpq_indexed(spark, path, q, k=5, nprobe=2,
                                       rerank=10_000))
    new_cents = Q.split_ivfpq_centroid(spark, path, hot, k_sub=4, iters=1)
    assert len(new_cents) == 5
    st2 = Q.ivfpq_index_stats(spark, path)
    assert st2["status"] == "committed"
    assert st2["max_rows_per_partition"] < st["max_rows_per_partition"]
    assert st2["codes_rows"] == st["codes_rows"]   # nothing lost
    assert st2["raw_rows"] == st["raw_rows"]
    assert _rows(Q.knn_ivfpq_indexed(
        spark, path, q, k=5, nprobe=5, rerank=10_000)) == before
    with pytest.raises(ValueError, match="centroids do not match"):
        Q.knn_ivfpq_indexed(spark, path, q, centroids=cents, k=3)

    # r10 crash discipline: the fresh sub-partitions are invisible
    # until the meta flip — a crash anywhere before it leaves the
    # index bit-for-bit committed; the retry overwrites the dead dirs
    path2 = str(tmp_path / "pqcrash")
    Q.write_ivfpq_index(emb, cents, books, path2)
    pre_crash = _rows(Q.knn_ivfpq_indexed(spark, path2, q, k=5,
                                          nprobe=2, rerank=10_000))
    real_meta = Q._write_ivfpq_meta

    def _die(*a, **k):
        raise RuntimeError("simulated crash before the meta flip")

    monkeypatch.setattr(Q, "_write_ivfpq_meta", _die)
    with pytest.raises(RuntimeError, match="simulated crash"):
        Q.split_ivfpq_centroid(spark, path2, hot, k_sub=4, iters=1)
    monkeypatch.setattr(Q, "_write_ivfpq_meta", real_meta)
    m = Q._read_ivfpq_meta(spark, path2)
    assert m["status"] == "committed"          # no intermediate state
    assert _rows(Q.knn_ivfpq_indexed(
        spark, path2, q, k=5, nprobe=2, rerank=10_000)) == pre_crash
    assert Q.ivfpq_index_stats(spark, path2)["orphan_partitions"] > 0
    # retry completes; compaction retires the orphans
    Q.split_ivfpq_centroid(spark, path2, hot, k_sub=4, iters=1)
    assert Q._read_ivfpq_meta(spark, path2)["status"] == "committed"
    assert _rows(Q.knn_ivfpq_indexed(
        spark, path2, q, k=5, nprobe=5, rerank=10_000)) == before
    Q.compact_ivfpq_index(spark, path2)
    assert Q.ivfpq_index_stats(spark, path2)["orphan_partitions"] == 0
    assert _rows(Q.knn_ivfpq_indexed(
        spark, path2, q, k=5, nprobe=5, rerank=10_000)) == before

    # LEGACY (pre-r10) '__splitting__' mid-swap state still heals
    path3 = str(tmp_path / "pqlegacy")
    Q.write_ivfpq_index(emb, cents, books, path3)
    import shutil

    legacy_cents = [list(c) for c in cents] + [list(cents[0])]
    for table in ("codes", "raw"):
        hot_dir = path3 + f"/{table}/centroid_id={hot}"
        shutil.copytree(hot_dir,
                        path3 + f"/{table}_split/centroid_id={hot}")
        shutil.rmtree(hot_dir)
    Q._write_ivfpq_meta(spark, path3, legacy_cents, books,
                        "__splitting__", emb.count(), split_cid=hot)
    with pytest.raises(ValueError, match="died part-way"):
        Q.knn_ivfpq_indexed(spark, path3, q, k=3)
    with pytest.raises(ValueError, match="mid-split of centroid"):
        Q.split_ivfpq_centroid(spark, path3, (hot + 1) % 2, k_sub=4)
    Q.split_ivfpq_centroid(spark, path3, hot, k_sub=4)
    assert Q._read_ivfpq_meta(spark, path3)["status"] == "committed"


def test_rerank_sidecar_scan_is_id_pruned(spark, tmp_path):
    """The exact-rerank read must reach the raw sidecar as BOTH a
    partition filter (probed centroids) and a pushed `id IN (...)` data
    filter against the range-sorted layout — the same data-skipping
    shape as the MinHash candidate pushdown."""
    emb, cents, books, q, path = _setup(spark, tmp_path, "prune")
    Q.write_ivfpq_index(emb, cents, books, path)
    out = Q.knn_ivfpq_indexed(spark, path, q, k=3, nprobe=2, rerank=5,
                              prune_min_index_bytes=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the raw sidecar's scan line (its _v column names it uniquely):
    # the shortlist id set must land in its filters — rendered In(...)
    # for small sets, INSET past the optimizer's conversion threshold
    raw_scans = [
        ln for ln in plan.splitlines()
        if "FileScan" in ln and "_v#" in ln
    ]
    assert raw_scans, plan[:2000]
    assert any("vec_id" in ln and ("INSET" in ln or "In(vec_id" in ln)
               for ln in raw_scans), raw_scans[0][:1200]
    # and the probed-centroid partition pruning reaches the scans
    assert "PartitionFilters: [" in plan
    # r11 size-adaptive default: a tiny index skips both the centroid
    # prune and the id pushdown (single-action probe), IDENTICAL rows
    adaptive = Q.knn_ivfpq_indexed(spark, path, q, k=3, nprobe=2, rerank=5)
    aplan = adaptive._jdf.queryExecution().executedPlan().toString()
    assert not any(
        "vec_id" in ln and ("INSET" in ln or "In(vec_id" in ln)
        for ln in aplan.splitlines()
        if "FileScan" in ln and "_v#" in ln
    ), aplan[:1500]
    def _r(df):
        return [(x.query_id, x.rank, x.vec_id, round(x.cosine, 9))
                for x in df.orderBy("query_id", "rank").collect()]
    assert _r(adaptive) == _r(out)


def test_fuzz_ivfpq_indexed_equals_in_memory_reference(
        spark, tmp_path_factory):
    """Property: for random corpora (including exact duplicates and a
    zero vector), random (dim, m, k_cent, nprobe, rerank, k), the
    persisted-index probe equals the in-memory reference — knn_ivfpq
    shortlist (k=rerank) reranked by exact cosine — for every example.
    Same-engine reference, so float ordering can never diverge."""
    import random

    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import Window

    @given(data=st.data())
    @settings(max_examples=3, deadline=None)
    def run(data):
        rng = random.Random(data.draw(st.integers(0, 2**32)))
        dim = rng.choice([8, 16])
        m = rng.choice([2, 4])
        n = rng.randint(8, 20)
        vecs = [[round(rng.uniform(-1, 1), 4) for _ in range(dim)]
                for _ in range(n)]
        if n > 10:
            vecs[7] = list(vecs[3])          # exact duplicate
            vecs[9] = [0.0] * dim            # zero vector
        emb = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>")
        k_cent = rng.choice([2, 4])
        nprobe = rng.randint(1, k_cent)
        rerank = rng.randint(3, 8)
        k = rng.randint(1, rerank)
        cents = S.sample_centroids(emb, k_cent)
        books = S.pq_codebooks(emb, m=m, k=min(8, n))
        q = emb.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_embedding"))
        path = str(tmp_path_factory.mktemp("fuzzpq"))
        Q.write_ivfpq_index(emb, cents, books, path)
        got = _rows(Q.knn_ivfpq_indexed(
            spark, path, q, k=k, nprobe=nprobe, rerank=rerank))
        short = S.knn_ivfpq(emb, q, cents, books, k=rerank,
                            nprobe=nprobe).select(
            "query_id", F.col("vec_id").alias("cand_id"))
        exact = (
            short.join(
                emb.select(F.col("vec_id").alias("cand_id"),
                           F.col("embedding").alias("cv")), "cand_id")
            .join(q, "query_id")
            .select(
                "query_id",
                F.col("cand_id").alias("vec_id"),
                F.when(
                    S.l2_norm("cv") * S.l2_norm("q_embedding") > 0,
                    S.dot("cv", "q_embedding")
                    / (S.l2_norm("cv") * S.l2_norm("q_embedding")),
                ).otherwise(F.lit(0.0)).alias("cosine"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.col("vec_id"))
        want = _rows(
            exact.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "vec_id", "cosine"))
        assert got == want

    run()


def test_retrain_ivfpq_index(spark, tmp_path):
    """r10 (VERDICT missing #4): retrain over both tables — routing
    only (codes relabel by id, never recomputed against the pinned
    codebooks); token survives; exhaustive probe exact before and
    after; versioned-swap commit; pre-retrain matrix refused."""
    emb, cents16, books, q, _ = _setup(spark, tmp_path)
    cents = S.sample_centroids(emb, 3)
    path = str(tmp_path / "pqretrain")
    Q.write_ivfpq_index(emb.where("vec_id % 2 = 0"), cents, books, path)
    Q.write_ivfpq_index(emb.where("vec_id % 2 = 1"), None, None, path,
                        mode="append", append_token="d0")
    before = _rows(Q.knn_ivfpq_indexed(spark, path, q, k=5, nprobe=99,
                                       rerank=100_000))
    old = Q._read_ivfpq_meta(spark, path)
    new_cents = Q.retrain_ivfpq_index(spark, path, iters=2)
    m = Q._read_ivfpq_meta(spark, path)
    assert m["status"] == "committed" and m["token"] == "d0"
    assert m["centroids"] == [[float(x) for x in c] for c in new_cents]
    assert m["codebooks"] == old["codebooks"]     # codes stay valid
    assert m["versions"]["codes"] >= 1 and m["versions"]["raw"] >= 1
    assert m["dir_ids"] == list(range(len(new_cents)))
    # exhaustive probe: identical answers — nothing lost or re-encoded
    assert _rows(Q.knn_ivfpq_indexed(spark, path, q, k=5, nprobe=99,
                                     rerank=100_000)) == before
    with pytest.raises(ValueError, match="centroids do not match"):
        Q.knn_ivfpq_indexed(spark, path, q, centroids=old["centroids"],
                            k=3)
    # stats see a healthy index (no orphans, no duplicates)
    st = Q.ivfpq_index_stats(spark, path)
    assert st["orphan_partitions"] == 0 and st["duplicate_rows"] == 0


def test_committed_rows_leave_out_null_vectors(spark, tmp_path):
    """A null vector has no centroid: its row lands in the default
    partition, which no probe scans, and the committed row count is the
    count of probe-visible rows."""
    emb, cents, books, q, path = _setup(spark, tmp_path)
    live = emb.select("vec_id", "embedding")
    dead = live.limit(1).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.lit(None).cast(emb.schema["embedding"].dataType)
        .alias("embedding"))
    Q.write_ivfpq_index(live.unionByName(dead), cents, books, path)
    m = Q._read_ivfpq_meta(spark, path)
    visible = spark.read.parquet(f"{path}/codes").where(
        F.col("centroid_id").isin(m["dir_ids"])).count()
    assert m["rows"] == visible == emb.count()


def test_split_and_retrain_keep_ivf_parity(spark, tmp_path):
    """IVF and IVF-PQ share one inverted-file kernel: built from the
    same vectors and centroids, the same split and then the same
    retrain leave both indexes with equal centroid matrices and
    dir_ids, and the IVF-PQ probe with a full rerank answers exactly
    like the IVF probe at full nprobe after every step."""
    emb, cents, books, q, path = _setup(spark, tmp_path, "parity")
    ivf = str(tmp_path / "parity_ivf")
    Q.write_ivfpq_index(emb, cents, books, path)
    S.write_ivf_index(emb, cents, ivf)

    def assert_parity():
        pm, im = Q._read_ivfpq_meta(spark, path), S._read_ivf_meta(spark, ivf)
        assert pm["centroids"] == im["centroids"]
        assert pm["dir_ids"] == im["dir_ids"]
        n = len(im["centroids"])
        want = _rows(S.knn_ivf_indexed(spark, ivf, q, None, k=5, nprobe=n))
        assert want and _rows(Q.knn_ivfpq_indexed(
            spark, path, q, k=5, nprobe=n, rerank=10_000)) == want

    assert_parity()
    hot = (S.assign_centroids(emb, cents).groupBy("centroid_id").count()
           .orderBy(F.desc("count"), "centroid_id").first()[0])
    S.split_ivf_centroid(spark, ivf, hot, k_sub=3, iters=1)
    Q.split_ivfpq_centroid(spark, path, hot, k_sub=3, iters=1)
    assert len(S._read_ivf_meta(spark, ivf)["centroids"]) == len(cents) + 2
    assert_parity()
    S.retrain_ivf_index(spark, ivf, iters=1)
    Q.retrain_ivfpq_index(spark, path, iters=1)
    assert_parity()


def test_stats_compact_hint_follows_ivf_rule(spark, tmp_path):
    """The maintenance hint says "compact" once any live codes partition
    holds more than 8 files — the IVF index's rule, because a probe
    opens every file of each partition it probes — even while the
    files average far fewer than 8 per partition."""
    emb, cents, books, q, path = _setup(spark, tmp_path, "hint")
    Q.write_ivfpq_index(emb, cents, books, path)
    batch = emb.where("vec_id < 3").coalesce(1)
    for i in range(1, 9):
        Q.write_ivfpq_index(
            batch.withColumn("vec_id", F.col("vec_id") + 10_000 * i),
            None, None, path, mode="append")
    st = Q.ivfpq_index_stats(spark, path)
    assert st["hot_partitions"] == 0
    assert st["maintenance_hint"] == "compact"
    assert st["max_files_per_partition"] > 8
    assert st["codes_files"] <= 8 * st["populated_partitions"]
    Q.compact_ivfpq_index(spark, path)
    st2 = Q.ivfpq_index_stats(spark, path)
    assert st2["max_files_per_partition"] == 1
    assert st2["maintenance_hint"] is None

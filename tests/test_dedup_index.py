"""Persisted MinHash-LSH index (r7): build the signature index once over
the existing corpus, check each new batch against it incrementally —
provably the same pairs as re-running minhash_lsh_pairs over the union,
without ever re-signaturing the corpus.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from avro_spark.functions import dedup as D


def _docs(spark):
    """Corpus (even ids) + batch (odd ids); the batch holds near-copies
    of corpus docs (edit distance small → Jaccard high), fresh docs, and
    an exact copy."""
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "machine learning models require large curated training corpora",
        "spark executes declarative dataframe plans through catalyst",
        "object container files carry their writer schema in the header",
        "near duplicate detection uses minhash signatures with banding",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append((2 * i, t))                                   # corpus
    rows.append((1, base[0]))                                     # exact dup
    rows.append((3, base[1].replace("large", "massive")))          # near dup
    rows.append((5, "a completely unrelated sentence about cooking pasta"))
    rows.append((7, base[4] + " and exact jaccard verification"))  # near dup
    corpus = spark.createDataFrame(
        [r for r in rows if r[0] % 2 == 0], "doc_id long, text string")
    batch = spark.createDataFrame(
        [r for r in rows if r[0] % 2 == 1], "doc_id long, text string")
    return corpus, batch


def _cross_pairs_via_union(corpus, batch, **kw):
    """Reference result: minhash_lsh_pairs over the UNION, restricted to
    (corpus, new) cross pairs, as a set of (new_id, corpus_id, jaccard)."""
    union = corpus.unionByName(batch)
    pairs = D.minhash_lsh_pairs(union, "doc_id", "text", **kw)
    out = set()
    for r in pairs.collect():
        a, b = r["id_a"], r["id_b"]
        if a % 2 != b % 2:  # one corpus (even), one batch (odd)
            new_id, corpus_id = (a, b) if a % 2 == 1 else (b, a)
            out.add((new_id, corpus_id, round(r["jaccard"], 9)))
    return out


def _probe_set(got):
    return {(r["new_id"], r["corpus_id"], round(r["jaccard"], 9))
            for r in got.collect()}


@pytest.mark.parametrize("hash_fn", ["xxhash64", "portable_hash60"])
def test_incremental_equals_union_rerun(spark, tmp_path, hash_fn):
    corpus, batch = _docs(spark)
    idx = str(tmp_path / "idx")
    D.write_minhash_index(
        corpus, idx, "doc_id", "text",
        num_hashes=16, bands=4, shingle_n=3, hash_fn=hash_fn)
    got = D.dedup_against_index(spark, batch, idx, "doc_id", "text",
                                threshold=0.5)
    fn = D.portable_hash60 if hash_fn == "portable_hash60" else F.xxhash64
    want = _cross_pairs_via_union(
        corpus, batch, num_hashes=16, bands=4, shingle_n=3,
        threshold=0.5, hash_fn=fn)
    assert _probe_set(got) == want
    assert want, "fixture must actually produce near-dup pairs"
    # the exact copy (1, 0) must be in there at jaccard 1.0
    assert any(p[:2] == (1, 0) and p[2] == 1.0 for p in want)


def test_append_grows_index_equivalently(spark, tmp_path):
    corpus, batch = _docs(spark)
    c1 = corpus.where("doc_id <= 4")
    c2 = corpus.where("doc_id > 4")
    whole, grown = str(tmp_path / "whole"), str(tmp_path / "grown")
    kw = dict(num_hashes=16, bands=4, shingle_n=3)
    D.write_minhash_index(corpus, whole, "doc_id", "text", **kw)
    D.write_minhash_index(c1, grown, "doc_id", "text", **kw)
    D.write_minhash_index(c2, grown, "doc_id", "text", mode="append", **kw)
    a = _probe_set(D.dedup_against_index(spark, batch, grown,
                                         "doc_id", "text"))
    b = _probe_set(D.dedup_against_index(spark, batch, whole,
                                         "doc_id", "text"))
    assert a == b and a
    # append with drifted parameters must refuse (silent zero-recall
    # banding otherwise)
    with pytest.raises(ValueError, match="do not match"):
        D.write_minhash_index(c2, grown, "doc_id", "text",
                              num_hashes=32, bands=4, mode="append")


def test_append_write_jobs_carry_the_callers_job_group(spark, tmp_path):
    """The shingle and band tables are written from a thread pool; the
    pool threads must inherit the caller's job group and description,
    so every job of the append — both table writes included — is
    labelled (an unlabelled write job cannot be attributed)."""
    corpus, batch = _docs(spark)
    idx = str(tmp_path / "grp")
    kw = dict(num_hashes=16, bands=4, shingle_n=3)
    D.write_minhash_index(corpus, idx, "doc_id", "text", **kw)
    sc = spark.sparkContext
    st = sc.statusTracker()

    def settled(ids_of):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(ids_of())

    before = settled(lambda: st.getJobIdsForGroup(None))
    sc.setJobGroup("minhash-append-test", "minhash append under test")
    try:
        D.write_minhash_index(batch, idx, "doc_id", "text", mode="append",
                              **kw)
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(k, None)
    grouped = settled(lambda: st.getJobIdsForGroup("minhash-append-test"))
    unlabelled = settled(lambda: st.getJobIdsForGroup(None)) - before
    assert not unlabelled, f"jobs without the caller's group: {unlabelled}"
    # the hashing count plus at least one job per table write
    assert len(grouped) >= 3, grouped


def test_probe_parameters_come_from_meta(spark, tmp_path):
    """The probe has NO banding parameters — a probe against an index
    written with non-default parameters still pairs correctly because it
    reads the meta row."""
    corpus, batch = _docs(spark)
    idx = str(tmp_path / "meta_idx")
    D.write_minhash_index(corpus, idx, "doc_id", "text",
                          num_hashes=32, bands=8, shingle_n=2, seed=9)
    got = D.dedup_against_index(spark, batch, idx, "doc_id", "text")
    want = _cross_pairs_via_union(
        corpus, batch, num_hashes=32, bands=8, shingle_n=2, seed=9,
        threshold=0.5, hash_fn=F.xxhash64)
    assert _probe_set(got) == want and want


def test_bad_arguments(spark, tmp_path):
    corpus, _ = _docs(spark)
    with pytest.raises(ValueError, match="hash_fn must be one of"):
        D.write_minhash_index(corpus, str(tmp_path / "x"), "doc_id",
                              "text", hash_fn="md5")
    with pytest.raises(ValueError, match="bad mode"):
        D.write_minhash_index(corpus, str(tmp_path / "x"), "doc_id",
                              "text", mode="errorifexists")


def test_probe_broadcasts_the_batch(spark, tmp_path):
    """Plan shape: the candidate join broadcasts the NEW batch's band
    rows — the index side streams through without a shuffle exchange."""
    corpus, batch = _docs(spark)
    idx = str(tmp_path / "bidx")
    D.write_minhash_index(corpus, idx, "doc_id", "text",
                          num_hashes=16, bands=4)
    got = D.dedup_against_index(spark, batch, idx, "doc_id", "text")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_fuzz_incremental_equals_union(spark, tmp_path_factory):
    """Property: for random corpora/batches (random shared phrase pools
    so near-dups actually occur), dedup_against_index over the persisted
    index equals minhash_lsh_pairs over the union restricted to cross
    pairs — every example, both with and without batch broadcast."""
    import random

    from hypothesis import given, settings
    from hypothesis import strategies as st

    words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon").split()

    @given(data=st.data())
    @settings(max_examples=5, deadline=None)
    def run(data):
        rng = random.Random(data.draw(st.integers(0, 2**32)))
        phrases = [" ".join(rng.choices(words, k=rng.randint(5, 12)))
                   for _ in range(6)]

        def doc():
            parts = rng.sample(phrases, k=rng.randint(1, 3))
            if rng.random() < 0.3:
                parts.append(" ".join(rng.choices(words, k=4)))
            return " ".join(parts)

        rows = [(i, doc()) for i in range(rng.randint(4, 14))]
        corpus = spark.createDataFrame(
            [r for r in rows if r[0] % 2 == 0], "doc_id long, text string")
        batch = spark.createDataFrame(
            [r for r in rows if r[0] % 2 == 1], "doc_id long, text string")
        if corpus.rdd.isEmpty() or batch.rdd.isEmpty():
            return
        idx = str(tmp_path_factory.mktemp("fuzz_idx"))
        nh, nb = data.draw(st.sampled_from([(16, 4), (32, 8)]))
        D.write_minhash_index(corpus, idx, "doc_id", "text",
                              num_hashes=nh, bands=nb, shingle_n=2)
        want = _cross_pairs_via_union(
            corpus, batch, num_hashes=nh, bands=nb, shingle_n=2,
            threshold=0.5, hash_fn=F.xxhash64)
        for bc in (True, False):
            got = D.dedup_against_index(
                spark, batch, idx, "doc_id", "text", threshold=0.5,
                broadcast_batch=bc)
            assert _probe_set(got) == want, (bc, sorted(want))

    run()


def test_dead_rebuild_probes_loudly(spark, tmp_path):
    """A rebuild that died between its '__building__' marker and its
    commit leaves a probe failing LOUDLY — never banding with stale
    parameters and silently finding nothing."""
    corpus, batch = _docs(spark)
    idx = str(tmp_path / "dead")
    D.write_minhash_index(corpus, idx, "doc_id", "text",
                          num_hashes=16, bands=4)
    spark.createDataFrame(
        [(16, 4, 3, 1, "__building__")],
        "num_hashes int, bands int, shingle_n int, seed int, "
        "hash_fn string",
    ).coalesce(1).write.mode("overwrite").parquet(idx + "/meta")
    with pytest.raises(ValueError, match="mid-rebuild or corrupt"):
        D.dedup_against_index(spark, batch, idx, "doc_id", "text")


def test_stored_shingle_hashes_are_full_width(spark, tmp_path):
    """Review r7: the stored verification sets use the FULL-WIDTH hash —
    a 31-bit store expects in-set collisions around 77k shingles/doc and
    drifts the Jaccard off the string-set value."""
    corpus, _ = _docs(spark)
    idx = str(tmp_path / "width")
    D.write_minhash_index(corpus, idx, "doc_id", "text",
                          num_hashes=16, bands=4)
    vals = [v for r in spark.read.parquet(idx + "/shingles").collect()
            for v in r["shh"]]
    assert any(abs(v) >= (1 << 31) for v in vals)


def test_dead_append_probes_loudly_then_retry_heals(spark, tmp_path):
    """r8 (ADVICE): an append that dies between its shingle and band
    writes leaves meta status='__appending__' — probes fail LOUDLY
    instead of silently under-recalling the half-appended docs; the
    documented recovery (re-run the SAME append) restores exactness."""
    corpus, batch = _docs(spark)
    kw = dict(num_hashes=16, bands=4, shingle_n=3)
    idx = str(tmp_path / "dead_append")
    D.write_minhash_index(corpus.where("doc_id <= 4"), idx,
                          "doc_id", "text", **kw)
    # simulate the crash window: the marker is written, the commit isn't
    spark.createDataFrame(
        [(16, 4, 3, 1, "xxhash64", "__appending__")],
        "num_hashes int, bands int, shingle_n int, seed int, "
        "hash_fn string, status string",
    ).coalesce(1).write.mode("overwrite").parquet(idx + "/meta")
    with pytest.raises(ValueError, match="re-run the SAME append"):
        D.dedup_against_index(spark, batch, idx, "doc_id", "text")
    # recovery: the same append run to completion commits the meta row
    D.write_minhash_index(corpus.where("doc_id > 4"), idx,
                          "doc_id", "text", mode="append", **kw)
    got = D.dedup_against_index(spark, batch, idx, "doc_id", "text")
    whole = str(tmp_path / "whole")
    D.write_minhash_index(corpus, whole, "doc_id", "text", **kw)
    assert _probe_set(got) == _probe_set(
        D.dedup_against_index(spark, batch, whole, "doc_id", "text"))


def test_empty_meta_probes_loudly(spark, tmp_path):
    """r8 (ADVICE): a meta dir that exists but holds zero rows (crash
    during the meta overwrite commit) raises a diagnosable error, not
    'NoneType is not subscriptable'."""
    corpus, batch = _docs(spark)
    idx = str(tmp_path / "empty_meta")
    D.write_minhash_index(corpus, idx, "doc_id", "text",
                          num_hashes=16, bands=4)
    empty = spark.read.parquet(idx + "/meta").limit(0)
    empty.coalesce(1).write.mode("overwrite").parquet(idx + "/meta")
    with pytest.raises(ValueError, match="index meta is empty"):
        D.dedup_against_index(spark, batch, idx, "doc_id", "text")


def test_missing_meta_probes_loudly(spark, tmp_path):
    """A path that is not a MinHash index fails with the same ValueError
    as the other four families, not a raw AnalysisException."""
    _, batch = _docs(spark)
    with pytest.raises(ValueError, match="no MinHash index meta"):
        D.dedup_against_index(spark, batch, str(tmp_path / "nope"),
                              "doc_id", "text")


def test_candidate_pushdown_prunes_the_shingle_scan(spark, tmp_path):
    """r8 (VERDICT #2): the probe's verify stage pushes the bounded
    candidate-id set into the shingles parquet scan (`In(id, ...)` in
    PushedFilters), so probe IO scales with |candidates| against the
    range-sorted layout — and both pushdown settings agree exactly."""
    corpus, batch = _docs(spark)
    idx = str(tmp_path / "pushdown")
    D.write_minhash_index(corpus, idx, "doc_id", "text",
                          num_hashes=16, bands=4)
    pushed = D.dedup_against_index(spark, batch, idx, "doc_id", "text",
                                   pushdown_min_index_bytes=0)
    plan = pushed._jdf.queryExecution().executedPlan().toString()
    assert "In(id" in plan, plan[:2000]
    streamed = D.dedup_against_index(spark, batch, idx, "doc_id", "text",
                                     candidate_pushdown=False)
    assert "In(id" not in (
        streamed._jdf.queryExecution().executedPlan().toString())
    assert _probe_set(pushed) == _probe_set(streamed) and _probe_set(pushed)
    # r11 size-adaptive default: a tiny index (below one scan task)
    # skips the pushdown's extra actions — no In(id...) in the plan,
    # IDENTICAL pairs
    adaptive = D.dedup_against_index(spark, batch, idx, "doc_id", "text")
    assert "In(id" not in (
        adaptive._jdf.queryExecution().executedPlan().toString())
    assert _probe_set(adaptive) == _probe_set(pushed)
    # adversarial candidate blow-up: a cap smaller than the candidate
    # set falls back to the streaming join, same answer
    capped = D.dedup_against_index(spark, batch, idx, "doc_id", "text",
                                   max_pushdown_ids=1,
                                   pushdown_min_index_bytes=0)
    assert _probe_set(capped) == _probe_set(pushed)


def _odd_ids(df):
    """String ids holding a quote, a backslash and non-ASCII characters
    (0 and 1), or a ``${env:PATH}`` the SQL parser would substitute (7
    and 8); the rest stay plain, so both literal spellings are built."""
    return df.select(
        F.when(F.col("doc_id") < 2,
               F.concat(F.lit("o'b\\ï☃-"), F.col("doc_id")))
        .when(F.col("doc_id") >= 7,
              F.concat(F.lit("${env:PATH}-"), F.col("doc_id")))
        .otherwise(F.concat(F.lit("plain-"), F.col("doc_id")))
        .alias("doc_id"),
        "text",
    )


def test_escaped_string_ids_push_down(spark, tmp_path):
    """Candidate ids with ``'``, ``\\``, ``$`` and non-ASCII characters
    reach the shingles scan as one parser-built ``IN`` list and come
    back as a local relation: the pushed-down probe gives the streamed
    probe's pairs, and ``In(id`` stays in PushedFilters."""
    corpus, batch = (_odd_ids(d) for d in _docs(spark))
    idx = str(tmp_path / "odd")
    D.write_minhash_index(corpus, idx, "doc_id", "text",
                          num_hashes=16, bands=4)
    pushed = D.dedup_against_index(spark, batch, idx, "doc_id", "text",
                                   pushdown_min_index_bytes=0)
    plan = pushed._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PushedFilters: \[[^\]]*In\(id", plan), plan[:2000]
    streamed = D.dedup_against_index(spark, batch, idx, "doc_id", "text",
                                     candidate_pushdown=False)
    got = _probe_set(pushed)
    assert got == _probe_set(streamed)
    corpus_ids = {c for _, c, _ in got}
    assert corpus_ids == {"o'b\\ï☃-0", "${env:PATH}-8"}, got
    assert dict(pushed.dtypes) == dict(streamed.dtypes)


def test_sql_literals_parse_to_their_values(spark):
    """Each id literal the probes build parses back to its value and
    type, at the ends of every integral range too."""
    from pyspark.sql import types as T

    from avro_spark.functions.similarity import _sql_lit

    cases = [(T.LongType(), -(1 << 63)), (T.LongType(), (1 << 63) - 1),
             (T.IntegerType(), -(1 << 31)), (T.ShortType(), -(1 << 15)),
             (T.ByteType(), -128), (T.StringType(), "o'b\\ï☃"),
             (T.StringType(), "\\'"), (T.StringType(), "${env:PATH}"),
             (T.StringType(), "${spark.app.name}$"), (T.StringType(), "a$b"),
             (T.StringType(), "plain")]
    sql = ", ".join(_sql_lit(v, t) for t, v in cases)
    row = spark.sql(f"SELECT {sql}").head()
    assert list(row) == [v for _, v in cases]
    assert [f.dataType for f in spark.sql(f"SELECT {sql}").schema] == [
        t for t, _ in cases]
    assert _sql_lit(1.5, T.DoubleType()) is None
    assert _sql_lit(None, T.LongType()) is None


def test_id_lists_survive_variable_substitution(spark):
    """An ``IN`` list built for a pushdown keeps ids and a column name
    holding ``${...}`` as they are: the parser's variable substitution
    (on by default) rewrites neither."""
    from pyspark.sql import types as T

    from avro_spark.functions.similarity import _isin_lit

    ids = ["${env:PATH}", "${spark.app.name}", "plain"]
    df = spark.createDataFrame(
        [(i,) for i in ids + ["other"]],
        T.StructType([T.StructField("${env:HOME}", T.StringType())]))
    got = df.where(_isin_lit("${env:HOME}", ids, T.StringType()))
    assert sorted(r[0] for r in got.collect()) == sorted(ids)


def test_probe_plans_start_no_job(spark, tmp_path, spark_jobs):
    """Building a MinHash or exact probe plan starts no Spark job
    before its action: the index tables take their schema from a
    parquet footer, with no inference job."""
    from avro_spark.functions import exact_index as X

    corpus, batch = _docs(spark)
    idx, xidx = str(tmp_path / "mh"), str(tmp_path / "ex")
    D.write_minhash_index(corpus, idx, "doc_id", "text",
                          num_hashes=16, bands=4)
    X.write_exact_index(corpus, xidx, n_buckets=4)
    with spark_jobs() as jobs:
        pairs = D.dedup_against_index(spark, batch, idx, "doc_id", "text")
        dec = X.dedup_exact_against_index(spark, batch, xidx)
    assert jobs.n == 0
    assert _probe_set(pairs) == _probe_set(D.dedup_against_index(
        spark, batch, idx, "doc_id", "text", candidate_pushdown=False))
    assert {r.doc_id: r.dup_of for r in dec.collect()} == {
        1: 0, 3: None, 5: None, 7: None}


def test_pushed_probe_round_trips_do_not_grow_with_candidates(
        spark, tmp_path, py4j_round_trips):
    """One pushed-down probe, plan plus collect, makes as many py4j
    round trips at 10 candidates as at 100: each id list is one
    parser-built literal."""
    def family(k, n):
        head = " ".join(f"{k}{i}" for i in range(40))
        return [f"{head} tail{i}" for i in range(n)], f"{head} fresh"

    a_docs, a_new = family("a", 10)
    b_docs, b_new = family("b", 100)
    corpus = spark.createDataFrame(list(enumerate(a_docs + b_docs)),
                                   "doc_id long, text string")
    idx = str(tmp_path / "rt")
    D.write_minhash_index(corpus, idx, "doc_id", "text",
                          num_hashes=16, bands=4)

    def probe(text):
        b = spark.createDataFrame([(1000, text)], "doc_id long, text string")

        def run():
            return D.dedup_against_index(
                spark, b, idx, "doc_id", "text",
                pushdown_min_index_bytes=0).collect()

        run()
        with py4j_round_trips() as rt:
            got = run()
        return rt.n, got

    n10, got10 = probe(a_new)
    n100, got100 = probe(b_new)
    assert (len(got10), len(got100)) == (10, 100)
    assert n10 == n100 <= 450, (n10, n100)


def test_index_layout_is_range_sorted(spark, tmp_path):
    """r8: each shingles file covers a tight id range (range partition +
    in-file sort) so `id IN (...)` prunes at the footer level; bands
    files are likewise sorted by (band, bucket)."""
    corpus, _ = _docs(spark)
    idx = str(tmp_path / "layout")
    D.write_minhash_index(corpus, idx, "doc_id", "text",
                          num_hashes=16, bands=4)
    import pyarrow.parquet as pq
    import pathlib

    files = sorted(pathlib.Path(idx, "shingles").glob("*.parquet"))
    assert files
    ranges = []
    for f in files:
        ids = pq.read_table(f, columns=["id"]).column("id").to_pylist()
        if ids:
            assert ids == sorted(ids), f
            ranges.append((min(ids), max(ids)))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo  # disjoint id ranges across files
    for f in sorted(pathlib.Path(idx, "bands").glob("*.parquet")):
        t = pq.read_table(f, columns=["band", "bucket"])
        rows = list(zip(t.column("band").to_pylist(),
                        t.column("bucket").to_pylist()))
        assert rows == sorted(rows), f


def test_retried_append_does_not_duplicate_pairs(spark, tmp_path):
    """The documented crash recovery — re-run the same append — must not
    leave duplicate output pairs (duplicate shingle rows double-join
    every candidate; the probe collapses the pairs at its output) on
    any route: one action, pushed down, or past the pushdown cap."""
    corpus, batch = _docs(spark)
    kw = dict(num_hashes=16, bands=4, shingle_n=3)
    idx = str(tmp_path / "retry")
    D.write_minhash_index(corpus.where("doc_id <= 4"), idx,
                          "doc_id", "text", **kw)
    c2 = corpus.where("doc_id > 4")
    D.write_minhash_index(c2, idx, "doc_id", "text", mode="append", **kw)
    D.write_minhash_index(c2, idx, "doc_id", "text", mode="append", **kw)
    got = D.dedup_against_index(spark, batch, idx, "doc_id", "text")
    rows = got.collect()
    keys = [(r["new_id"], r["corpus_id"]) for r in rows]
    assert len(keys) == len(set(keys))
    clean = str(tmp_path / "clean")
    D.write_minhash_index(corpus, clean, "doc_id", "text", **kw)
    assert _probe_set(got) == _probe_set(
        D.dedup_against_index(spark, batch, clean, "doc_id", "text"))
    for cap in (5_000, 0):  # pushed down; past the cap (streamed)
        routed = D.dedup_against_index(
            spark, batch, idx, "doc_id", "text",
            pushdown_min_index_bytes=0, max_pushdown_ids=cap).collect()
        assert sorted((r["new_id"], r["corpus_id"]) for r in routed) \
            == sorted(keys), cap


def test_stream_dedup_exactly_once(spark, tmp_path):
    """r8 (VERDICT #6): the streaming face — each micro-batch probes the
    index, reports pairs under pairs/batch=<id>/, appends its admitted
    docs, and records the batch id last. Replays neither re-append index
    rows nor double-report pairs; a crash between the append and the
    batch-id record heals on replay (pairs reused, append re-run,
    duplicates absorbed)."""
    corpus, batch = _docs(spark)
    kw = dict(num_hashes=16, bands=4, shingle_n=3)
    idx, pairs = str(tmp_path / "sidx"), str(tmp_path / "spairs")
    D.write_minhash_index(corpus, idx, "doc_id", "text", **kw)

    # streaming drive: one availableNow drain of a parquet source
    src = str(tmp_path / "src")
    batch.write.parquet(src)
    q = D.dedup_stream_against_index(
        spark.readStream.schema("doc_id long, text string").parquet(src),
        idx, pairs, str(tmp_path / "ckpt"), "doc_id", "text",
        admit="all", trigger_available_now=True)
    q.awaitTermination()
    got = {(r["new_id"], r["corpus_id"], round(r["jaccard"], 9))
           for r in spark.read.parquet(pairs).collect()}
    clean = str(tmp_path / "clean")
    D.write_minhash_index(corpus, clean, "doc_id", "text", **kw)
    want = _probe_set(D.dedup_against_index(
        spark, batch, clean, "doc_id", "text"))
    assert got == want and got
    # the index grew by the batch (admit="all"): equals built-at-once
    grown_ref = str(tmp_path / "grown_ref")
    D.write_minhash_index(corpus.unionByName(batch), grown_ref,
                          "doc_id", "text", **kw)
    probe2 = corpus.limit(2).withColumn(
        "doc_id", F.col("doc_id") + 1000)
    assert _probe_set(D.dedup_against_index(
        spark, probe2, idx, "doc_id", "text")) == _probe_set(
        D.dedup_against_index(spark, probe2, grown_ref, "doc_id", "text"))

    # replay idempotence: drive the foreachBatch callable directly
    sink = D._stream_dedup_sink(idx, pairs, "doc_id", "text", admit="all")
    b2 = batch.withColumn("doc_id", F.col("doc_id") + 100)
    sink(b2, 7)
    shingle_rows = spark.read.parquet(idx + "/shingles").count()
    pair_rows = spark.read.parquet(pairs).count()
    sink(b2, 7)  # REPLAY of a recorded batch: a no-op
    assert spark.read.parquet(idx + "/shingles").count() == shingle_rows
    assert spark.read.parquet(pairs).count() == pair_rows

    # crash between the append and the batch-id record: meta says
    # '__appending__', the batch is unrecorded, pairs are committed —
    # the replay reuses the pairs, re-runs the append, and commits
    b3 = batch.withColumn("doc_id", F.col("doc_id") + 200)
    D.dedup_against_index(spark, b3, idx, "doc_id", "text") \
        .write.mode("overwrite").parquet(pairs + "/batch=9")
    spark.createDataFrame(
        [(16, 4, 3, 1, "xxhash64", "__appending__")],
        "num_hashes int, bands int, shingle_n int, seed int, "
        "hash_fn string, status string",
    ).coalesce(1).write.mode("overwrite").parquet(idx + "/meta")
    sink(b3, 9)  # heals: reuses pairs, appends, records
    assert D._read_index_meta(spark, idx)["status"] == "committed"
    assert 9 in {r[0] for r in
                 spark.read.parquet(idx + "/batches").collect()}
    # the healed index answers like a cleanly built one
    whole = str(tmp_path / "whole3")
    D.write_minhash_index(
        corpus.unionByName(batch).unionByName(b2).unionByName(b3),
        whole, "doc_id", "text", **kw)
    probe3 = batch.withColumn("doc_id", F.col("doc_id") + 3000)
    assert _probe_set(D.dedup_against_index(
        spark, probe3, idx, "doc_id", "text")) == _probe_set(
        D.dedup_against_index(spark, probe3, whole, "doc_id", "text"))


def test_stream_dedup_admit_novel(spark, tmp_path):
    """admit='novel' (the default): batch docs with a pair at/above
    threshold are NOT admitted to the index — a later exact copy of a
    rejected doc still pairs against the ORIGINAL corpus doc only."""
    corpus, batch = _docs(spark)
    kw = dict(num_hashes=16, bands=4, shingle_n=3)
    idx, pairs = str(tmp_path / "nidx"), str(tmp_path / "npairs")
    D.write_minhash_index(corpus, idx, "doc_id", "text", **kw)
    sink = D._stream_dedup_sink(idx, pairs, "doc_id", "text",
                                admit="novel")
    sink(batch, 0)  # doc 1 is an exact copy of corpus doc 0 → rejected
    rejected = {r["new_id"] for r in
                spark.read.parquet(pairs + "/batch=0").collect()}
    assert 1 in rejected
    stored = {r["id"] for r in
              spark.read.parquet(idx + "/shingles").collect()}
    assert rejected.isdisjoint(stored)
    novel = {r["doc_id"] for r in batch.collect()} - rejected
    assert novel and novel <= stored
    # a re-submission of the rejected doc pairs against corpus doc 0,
    # not against another copy of itself
    resub = batch.where("doc_id = 1").withColumn(
        "doc_id", F.lit(999).cast("long"))
    sink(resub, 1)
    p1 = {(r["new_id"], r["corpus_id"]) for r in
          spark.read.parquet(pairs + "/batch=1").collect()}
    assert p1 == {(999, 0)}
    with pytest.raises(ValueError, match="bad admit"):
        D._stream_dedup_sink(idx, pairs, "doc_id", "text", admit="x")


def test_compaction_preserves_answers_and_removes_duplicates(
        spark, tmp_path):
    """r8: compact_minhash_index rewrites both tables range-sorted from
    the STORED data (no text re-hashed), absorbing the duplicate rows a
    retried append left and restoring the tight per-file id ranges the
    candidate pushdown prunes on — probe answers are unchanged."""
    corpus, batch = _docs(spark)
    kw = dict(num_hashes=16, bands=4, shingle_n=3)
    idx = str(tmp_path / "cidx")
    D.write_minhash_index(corpus.where("doc_id <= 4"), idx,
                          "doc_id", "text", **kw)
    c2 = corpus.where("doc_id > 4")
    D.write_minhash_index(c2, idx, "doc_id", "text", mode="append", **kw)
    D.write_minhash_index(c2, idx, "doc_id", "text", mode="append", **kw)
    before = _probe_set(D.dedup_against_index(spark, batch, idx,
                                              "doc_id", "text"))
    sh = spark.read.parquet(idx + "/shingles")
    assert sh.count() > sh.select("id").distinct().count()  # retry dups
    D.compact_minhash_index(spark, idx)
    after = _probe_set(D.dedup_against_index(spark, batch, idx,
                                             "doc_id", "text"))
    assert after == before and after
    m = D._read_index_meta(spark, idx)
    # r10: compaction commits by flipping the version POINTER — the
    # compacted tables live in shingles_v1/bands_v1, and the old base
    # dirs are garbage-collected (no remove-then-move window)
    assert m["versions"] == {"shingles": 1, "bands": 1}
    sh_dir = D._vdir(idx, "shingles", 1)
    import os

    assert not os.path.isdir(idx + "/shingles")  # GC'd old version
    sh2 = spark.read.parquet(sh_dir)
    assert sh2.count() == sh2.select("id").distinct().count()
    assert sh2.select("id").distinct().count() == corpus.count()
    assert m["status"] == "committed" and m["num_hashes"] == 16
    # compacted layout: disjoint sorted id ranges across files
    import pathlib

    import pyarrow.parquet as pq

    ranges = []
    for f in sorted(pathlib.Path(sh_dir).glob("*.parquet")):
        ids = pq.read_table(f, columns=["id"]).column("id").to_pylist()
        if ids:
            assert ids == sorted(ids)
            ranges.append((min(ids), max(ids)))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo


def test_compaction_crash_recovery(spark, tmp_path):
    """r8: the '__compacting__' marker is written only after both
    compacted tables committed, so recovery is always finish-the-swap:
    a probe mid-compaction refuses loudly; re-running
    compact_minhash_index completes it — including from the worst
    window (one table's main dir already deleted)."""
    import shutil

    corpus, batch = _docs(spark)
    kw = dict(num_hashes=16, bands=4, shingle_n=3)
    idx = str(tmp_path / "crash_cidx")
    D.write_minhash_index(corpus, idx, "doc_id", "text", **kw)
    want = _probe_set(D.dedup_against_index(spark, batch, idx,
                                            "doc_id", "text"))
    # simulate: step 1 completed (compact dirs are whole copies), the
    # marker landed, then the swap died after deleting ONE main dir
    shutil.copytree(idx + "/shingles", idx + "/shingles_compact")
    shutil.copytree(idx + "/bands", idx + "/bands_compact")
    spark.createDataFrame(
        [(16, 4, 3, 1, "xxhash64", "__compacting__")],
        "num_hashes int, bands int, shingle_n int, seed int, "
        "hash_fn string, status string",
    ).coalesce(1).write.mode("overwrite").parquet(idx + "/meta")
    shutil.rmtree(idx + "/shingles")
    with pytest.raises(ValueError, match="maintenance operation"):
        D.dedup_against_index(spark, batch, idx, "doc_id", "text")
    D.compact_minhash_index(spark, idx)  # finishes the swap
    got = _probe_set(D.dedup_against_index(spark, batch, idx,
                                           "doc_id", "text"))
    assert got == want and got
    # compaction refuses while an append is in flight
    spark.createDataFrame(
        [(16, 4, 3, 1, "xxhash64", "__appending__")],
        "num_hashes int, bands int, shingle_n int, seed int, "
        "hash_fn string, status string",
    ).coalesce(1).write.mode("overwrite").parquet(idx + "/meta")
    with pytest.raises(ValueError, match="finish the in-flight append"):
        D.compact_minhash_index(spark, idx)


def test_index_stats_report_compaction_need(spark, tmp_path):
    """r8: minhash_index_stats reports retry residue and layout decay;
    compaction zeroes both."""
    corpus, _ = _docs(spark)
    kw = dict(num_hashes=16, bands=4, shingle_n=3)
    idx = str(tmp_path / "stats_idx")
    D.write_minhash_index(corpus.where("doc_id <= 4"), idx,
                          "doc_id", "text", **kw)
    c2 = corpus.where("doc_id > 4")
    D.write_minhash_index(c2, idx, "doc_id", "text", mode="append", **kw)
    D.write_minhash_index(c2, idx, "doc_id", "text", mode="append", **kw)
    s = D.minhash_index_stats(spark, idx)
    assert s["status"] == "committed" and s["num_hashes"] == 16
    assert s["duplicate_rows"] > 0          # the retried append's residue
    assert s["distinct_ids"] == corpus.count()
    assert s["shingle_rows"] == s["distinct_ids"] + s["duplicate_rows"]
    files_before = s["shingle_files"]
    D.compact_minhash_index(spark, idx)
    s2 = D.minhash_index_stats(spark, idx)
    assert s2["duplicate_rows"] == 0
    assert s2["overlapping_files"] == 0
    assert s2["shingle_files"] <= files_before
    assert s2["distinct_ids"] == corpus.count()


def test_fuzz_index_lifecycle_equals_built_at_once(spark, tmp_path_factory):
    """Stateful property (r8): ANY sequence of append / retried-append /
    compact / crashed-compact-then-recover operations leaves the index
    answering probes exactly like one built over all admitted docs at
    once. Exercises the full maintenance surface the round added."""
    import random
    import shutil

    from hypothesis import given, settings
    from hypothesis import strategies as st

    words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon").split()
    kw = dict(num_hashes=16, bands=4, shingle_n=2)

    @given(data=st.data())
    @settings(max_examples=3, deadline=None)
    def run(data):
        rng = random.Random(data.draw(st.integers(0, 2**32)))
        phrases = [" ".join(rng.choices(words, k=rng.randint(5, 10)))
                   for _ in range(5)]

        def doc():
            return " ".join(rng.sample(phrases, k=rng.randint(1, 3)))

        root = tmp_path_factory.mktemp("lifecycle")
        idx = str(root / "idx")
        next_id = [0]

        def batch(n):
            rows = [(next_id[0] + i, doc()) for i in range(n)]
            next_id[0] += n
            return spark.createDataFrame(rows, "doc_id long, text string")

        seed = batch(rng.randint(2, 5))
        D.write_minhash_index(seed, idx, "doc_id", "text", **kw)
        admitted = [seed]
        n_ops = rng.randint(2, 4)
        for _ in range(n_ops):
            op = rng.choice(["append", "retry_append", "compact",
                             "crashed_compact", "contending_writer"])
            if op == "contending_writer":
                # r9: a second writer against a LIVE lease refuses
                # loudly and changes nothing; after release the same
                # append succeeds and the lifecycle invariant holds
                t = D.acquire_index_lease(idx, "fuzz-hold")
                b = batch(rng.randint(1, 3))
                try:
                    with pytest.raises(ValueError,
                                       match="live writer lease"):
                        D.write_minhash_index(b, idx, "doc_id", "text",
                                              mode="append", **kw)
                finally:
                    assert D.release_index_lease(idx, t)
                D.write_minhash_index(b, idx, "doc_id", "text",
                                      mode="append", **kw)
                admitted.append(b)
            elif op in ("append", "retry_append"):
                b = batch(rng.randint(1, 4))
                D.write_minhash_index(b, idx, "doc_id", "text",
                                      mode="append", **kw)
                if op == "retry_append":  # documented crash recovery
                    D.write_minhash_index(b, idx, "doc_id", "text",
                                          mode="append", **kw)
                admitted.append(b)
            elif op == "compact":
                D.compact_minhash_index(spark, idx)
            else:
                # r10 crash model: the compact died BEFORE the pointer
                # flip, leaving partial next-version residue — the
                # index stays committed (probes keep answering), and
                # the retry overwrites the residue
                import os

                m = D._read_index_meta(spark, idx)
                for t in ("shingles", "bands"):
                    nv = m["versions"].get(t, 0) + 1
                    res = f"{idx}/{t}_v{nv}"
                    os.makedirs(res, exist_ok=True)
                    with open(f"{res}/part-garbage.parquet", "wb") as fh:
                        fh.write(b"not parquet")
                assert D._read_index_meta(spark, idx)["status"] == \
                    "committed"
                D.compact_minhash_index(spark, idx)
        probe = batch(3)
        whole = str(root / "whole")
        ref = admitted[0]
        for b in admitted[1:]:
            ref = ref.unionByName(b)
        D.write_minhash_index(ref, whole, "doc_id", "text", **kw)
        got = _probe_set(D.dedup_against_index(
            spark, probe, idx, "doc_id", "text", threshold=0.3))
        want = _probe_set(D.dedup_against_index(
            spark, probe, whole, "doc_id", "text", threshold=0.3))
        assert got == want

    run()


def test_native_string_ids_end_to_end(spark, tmp_path):
    """r9 (VERDICT #1): string/UUID ids — the most common real-world id
    shape — must work through the WHOLE index family. An earlier cut
    blind-cast ids to long, silently NULLing them: the index stored one
    merged NULL-id signature soup and admit='novel' admitted every
    duplicate. Ids now keep their native type end to end."""
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "machine learning models require large curated training corpora",
        "spark executes declarative dataframe plans through catalyst",
        "near duplicate detection uses minhash signatures with banding",
    ]
    corpus_rows = [(f"c-{i:04d}-uuid", t) for i, t in enumerate(base)]
    batch_rows = [
        ("b-0000-uuid", base[0]),                                # exact dup
        ("b-0001-uuid", base[1].replace("large", "massive")),    # near dup
        ("b-0002-uuid", "a completely unrelated sentence about pasta"),
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id string, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id string, text string")
    kw = dict(num_hashes=16, bands=4, shingle_n=3)

    # in-corpus pairing keeps the string ids (no NULL soup)
    union_pairs = D.minhash_lsh_pairs(
        corpus.unionByName(batch), "doc_id", "text", **kw).collect()
    assert union_pairs
    assert all(isinstance(r["id_a"], str) and isinstance(r["id_b"], str)
               for r in union_pairs)
    want = set()
    for r in union_pairs:
        a, b = r["id_a"], r["id_b"]
        if a.startswith("b-") != b.startswith("b-"):
            new_id, corpus_id = (a, b) if a.startswith("b-") else (b, a)
            want.add((new_id, corpus_id, round(r["jaccard"], 9)))

    # the persisted index stores and probes native string ids
    idx = str(tmp_path / "sidx")
    D.write_minhash_index(corpus, idx, "doc_id", "text", **kw)
    got = _probe_set(D.dedup_against_index(
        spark, batch, idx, "doc_id", "text"))
    assert got == want
    assert ("b-0000-uuid", "c-0000-uuid", 1.0) in got

    # streaming sink admit='novel': the exact dup is REJECTED (with the
    # old long-cast, the NULL-keyed anti-join admitted everything)
    pairs = str(tmp_path / "spairs")
    sink = D._stream_dedup_sink(idx, pairs, "doc_id", "text",
                                admit="novel")
    sink(batch, 0)
    rejected = {r["new_id"] for r in
                spark.read.parquet(pairs + "/batch=0").collect()}
    # exactly the batch docs with an index pair are rejected (the exact
    # dup is always among them; the near dup only when banding recalled
    # it — recall, not the id contract, is what varies here)
    assert rejected == {n for n, _, _ in want}
    assert "b-0000-uuid" in rejected
    stored = {r["id"] for r in
              spark.read.parquet(idx + "/shingles").collect()}
    assert rejected.isdisjoint(stored)
    assert "b-0002-uuid" in stored  # the novel doc was admitted

    # simhash / ngram-jaccard keep native ids too
    sp = D.simhash_pairs(corpus.unionByName(batch), "doc_id", "text",
                         max_hamming=6)
    assert all(isinstance(r["id_a"], str) for r in sp.collect())
    np_ = D.ngram_jaccard_pairs(
        corpus.unionByName(batch), "doc_id", "text", threshold=0.5)
    assert {(r["id_a"], r["id_b"]) for r in np_.collect()} >= {
        ("b-0000-uuid", "c-0000-uuid")}


def test_null_ids_raise_loudly(spark, tmp_path):
    """A NULL id is unkeyable under any scheme — it must raise per-row,
    never silently merge documents."""
    bad = spark.createDataFrame(
        [(1, "some document text about spark plans"),
         (None, "another document text about catalyst")],
        "doc_id long, text string")
    with pytest.raises(Exception, match="must be non-null"):
        D.minhash_lsh_pairs(bad, "doc_id", "text",
                            num_hashes=16, bands=4).collect()
    with pytest.raises(Exception, match="must be non-null"):
        D.write_minhash_index(bad, str(tmp_path / "nidx"),
                              "doc_id", "text", num_hashes=16, bands=4)


def test_sink_heals_committed_but_unrecorded_append(spark, tmp_path):
    """r9 (ADVICE high): the crash window BETWEEN the append's commit and
    the batch-id record. On replay the batch is unrecorded and the index
    already contains the batch's own docs — without the append token the
    sink would re-probe, pair every doc with its own index copy at
    jaccard 1.0, and overwrite the pairs dir with that soup. The token
    makes the replay reuse the committed pairs and no-op the append."""
    corpus, batch = _docs(spark)
    kw = dict(num_hashes=16, bands=4, shingle_n=3)
    idx, pairs = str(tmp_path / "widx"), str(tmp_path / "wpairs")
    D.write_minhash_index(corpus, idx, "doc_id", "text", **kw)

    # manually run the sink's steps 2+3 for batch 1, then "crash" before
    # step 4 (the batch-id record)
    pairs_dir = pairs + "/batch=1"
    D.dedup_against_index(spark, batch, idx, "doc_id", "text") \
        .write.mode("overwrite").parquet(pairs_dir)
    committed_pairs = _probe_set(spark.read.parquet(pairs_dir))
    D.write_minhash_index(batch, idx, "doc_id", "text", mode="append",
                          append_token="batch1", **kw)
    assert D._read_index_meta(spark, idx)["token"] == "batch1"
    shingle_rows = spark.read.parquet(idx + "/shingles").count()

    sink = D._stream_dedup_sink(idx, pairs, "doc_id", "text", admit="all")
    sink(batch, 1)  # the replay
    # pairs are the committed ones — not a re-probe against an index
    # that already holds the batch (which would add self-pairs at 1.0)
    assert _probe_set(spark.read.parquet(pairs_dir)) == committed_pairs
    assert not any(n == c for n, c, _ in
                   _probe_set(spark.read.parquet(pairs_dir)))
    # the re-append no-opped; the batch id is now recorded
    assert spark.read.parquet(idx + "/shingles").count() == shingle_rows
    assert 1 in {r[0] for r in
                 spark.read.parquet(idx + "/batches").collect()}
    m = D._read_index_meta(spark, idx)
    assert m["status"] == "committed" and m["token"] == "batch1"


def test_append_refused_while_compacting(spark, tmp_path):
    """r9 (ADVICE low): an append against a '__compacting__' index would
    cancel the pending finish-the-swap recovery and its rows would be
    discarded by it — refuse loudly, heal via compaction, then append."""
    corpus, batch = _docs(spark)
    kw = dict(num_hashes=16, bands=4, shingle_n=3)
    idx = str(tmp_path / "cidx")
    D.write_minhash_index(corpus, idx, "doc_id", "text", **kw)
    m = D._read_index_meta(spark, idx)
    D._write_index_meta_row(spark, idx, m["num_hashes"], m["bands"],
                            m["shingle_n"], m["seed"], m["hash_fn"],
                            "__compacting__")
    with pytest.raises(ValueError, match="finish the in-flight"):
        D.write_minhash_index(batch, idx, "doc_id", "text",
                              mode="append", **kw)
    D.compact_minhash_index(spark, idx)  # finish-the-swap recovery
    D.write_minhash_index(batch, idx, "doc_id", "text",
                          mode="append", **kw)
    assert D._read_index_meta(spark, idx)["status"] == "committed"


def test_append_token_mismatch_refused_and_survives_compaction(
        spark, tmp_path):
    """r9: a retry carrying a DIFFERENT token than the in-flight append's
    pending_token is a different batch — refused loudly. The committed
    token survives compaction (a blind same-batch retry still no-ops)."""
    corpus, batch = _docs(spark)
    kw = dict(num_hashes=16, bands=4, shingle_n=3)
    idx = str(tmp_path / "tidx")
    D.write_minhash_index(corpus, idx, "doc_id", "text", **kw)
    m = D._read_index_meta(spark, idx)
    # simulate a dead mid-append attempt for batch 5
    D._write_index_meta_row(spark, idx, m["num_hashes"], m["bands"],
                            m["shingle_n"], m["seed"], m["hash_fn"],
                            "__appending__", None, "batch5")
    with pytest.raises(ValueError, match="in-flight append with"):
        D.write_minhash_index(batch, idx, "doc_id", "text",
                              mode="append", append_token="batch6", **kw)
    # the SAME batch's retry is the documented recovery
    D.write_minhash_index(batch, idx, "doc_id", "text",
                          mode="append", append_token="batch5", **kw)
    m = D._read_index_meta(spark, idx)
    assert m["status"] == "committed" and m["token"] == "batch5"
    D.compact_minhash_index(spark, idx)
    m = D._read_index_meta(spark, idx)
    assert m["token"] == "batch5"
    sh_dir = D._vdir(idx, "shingles", m["versions"].get("shingles", 0))
    rows = spark.read.parquet(sh_dir).count()
    D.write_minhash_index(batch, idx, "doc_id", "text",
                          mode="append", append_token="batch5", **kw)
    assert spark.read.parquet(sh_dir).count() == rows  # no-op


def test_single_writer_lease(spark, tmp_path):
    """r9 (VERDICT #5): every mutating index op takes a single-writer
    lease — a concurrent writer is refused loudly (previously a
    docstring convention; two interleaved appends could corrupt the
    meta/registry invariants), a stale lease (dead writer) is taken
    over, and normal operation acquires/releases transparently."""
    import json
    import time

    corpus, batch = _docs(spark)
    kw = dict(num_hashes=16, bands=4, shingle_n=3)
    idx = str(tmp_path / "lidx")
    D.write_minhash_index(corpus, idx, "doc_id", "text", **kw)
    # the build released its lease: no lease file survives
    assert D._read_lease(D._lease_uri(idx)) is None

    # a LIVE contending writer refuses loudly
    token = D.acquire_index_lease(idx, "minhash-append")
    with pytest.raises(ValueError, match="live writer lease"):
        D.write_minhash_index(batch, idx, "doc_id", "text",
                              mode="append", **kw)
    with pytest.raises(ValueError, match="live writer lease"):
        D.compact_minhash_index(spark, idx)
    # probes are read-only and take no lease
    assert D.dedup_against_index(
        spark, batch, idx, "doc_id", "text").count() >= 0
    assert D.release_index_lease(idx, token)

    # a STALE lease (dead writer, past its ttl) is taken over
    with open(D._lease_uri(idx), "w") as fh:
        json.dump({"token": "dead", "op": "minhash-append",
                   "ts": time.time() - 7200, "ttl_sec": 3600}, fh)
    D.write_minhash_index(batch, idx, "doc_id", "text",
                          mode="append", **kw)
    assert D._read_index_meta(spark, idx)["status"] == "committed"
    # releasing a token we no longer hold is a no-op, not a theft
    assert not D.release_index_lease(idx, "dead")

    # r10 (VERDICT wrong #3): an OVERSTAYED holder's release must never
    # delete the takeover's lease — the delete is compare-and-delete,
    # not read-check-delete. Stage: A holds a lease past its ttl, B
    # takes over; A's release returns False and B's lease survives.
    with open(D._lease_uri(idx), "w") as fh:
        json.dump({"token": "overstayed-A", "op": "minhash-append",
                   "ts": time.time() - 7200, "ttl_sec": 3600}, fh)
    tok_b = D.acquire_index_lease(idx, "takeover-B")   # ages A out
    assert not D.release_index_lease(idx, "overstayed-A")
    cur = D._read_lease(D._lease_uri(idx))
    assert cur is not None and cur["token"] == tok_b   # B intact
    # the primitive itself: wrong expected token leaves the file alone
    assert not D._compare_and_delete_lease(D._lease_uri(idx), "wrong")
    assert D._read_lease(D._lease_uri(idx))["token"] == tok_b
    assert D._compare_and_delete_lease(D._lease_uri(idx), tok_b)
    assert D._read_lease(D._lease_uri(idx)) is None

    # the IVF twin wires through the same helper
    import avro_spark.functions.similarity as S

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vec_id long, embedding array<double>")
    ipath = str(tmp_path / "livf")
    S.write_ivf_index(emb, [[1.0, 0.0], [0.0, 1.0]], ipath)
    t2 = D.acquire_index_lease(ipath, "ivf-append")
    with pytest.raises(ValueError, match="live writer lease"):
        S.write_ivf_index(emb, None, ipath, mode="append")
    D.release_index_lease(ipath, t2)
    S.write_ivf_index(emb.limit(1), None, ipath, mode="append")


def test_empty_registry_dir_heals(spark, tmp_path):
    """r9 self-review: a crash DURING the very first batch-record write
    leaves {index}/batches existing but with zero committed files
    (Spark's committer creates the dir at job setup). That must read as
    'nothing applied' — the token machinery makes the replay safe — not
    brick every subsequent replay with UNABLE_TO_INFER_SCHEMA. A
    registry whose FILES are corrupt still fails loudly."""
    import os

    corpus, batch = _docs(spark)
    kw = dict(num_hashes=16, bands=4, shingle_n=3)
    idx, pairs = str(tmp_path / "eidx"), str(tmp_path / "epairs")
    D.write_minhash_index(corpus, idx, "doc_id", "text", **kw)
    os.makedirs(idx + "/batches")  # the committer's empty husk
    assert D._read_batch_registry(spark, idx + "/batches") == set()
    sink = D._stream_dedup_sink(idx, pairs, "doc_id", "text", admit="all")
    sink(batch, 0)  # proceeds instead of raising
    assert 0 in D._read_batch_registry(spark, idx + "/batches")
    # corrupt registry file: loud failure, never silent replay
    bad = str(tmp_path / "bad_reg")
    os.makedirs(bad)
    with open(bad + "/part-00000.parquet", "wb") as fh:
        fh.write(b"not a parquet file at all")
    with pytest.raises(Exception):
        D._read_batch_registry(spark, bad)

"""Persisted exact-dedup (content-fingerprint) index (r9): the exact
stage of incremental dedup gets the same persisted shape as the
MinHash/text/IVF indexes — shared meta/marker/token/lease contract."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

import avro_spark.functions.dedup as D
from avro_spark.functions import exact_index as X

from conftest import SF_DIR


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")


def _mutated(spark):
    """A batch of near-copies: half exact dups of corpus docs (modulo
    whitespace/case — the normalization must catch them), half novel."""
    docs = _docs(spark)
    dup = docs.where(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper("text"), F.lit("   ")).alias("text"))
    novel = docs.where(
        (F.col("doc_id") >= 40) & (F.col("doc_id") < 80)).select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat(F.lit("novel-token-"), F.col("doc_id"), F.lit(" "),
                 F.col("text")).alias("text"))
    return dup.unionByName(novel)


def _decisions(df):
    return {r.doc_id: (r.dup_of, r.keep) for r in df.collect()}


def test_probe_matches_exact_dedup_semantics(spark, tmp_path):
    """dup_of = the lowest corpus id with the same normalized-content
    fingerprint (exact_dedup_groups' keeper rule), keep = no match."""
    docs, batch = _docs(spark), _mutated(spark)
    idx = str(tmp_path / "x")
    X.write_exact_index(docs, idx, n_buckets=16)
    got = _decisions(X.dedup_exact_against_index(spark, batch, idx))
    # reference: groupBy fingerprint over the corpus, min id
    ref_groups = {
        r.fingerprint: r.keeper
        for r in D.exact_dedup_groups(docs, "doc_id", "text").collect()
    }
    bf = batch.select(
        "doc_id", D.content_fingerprint(F.col("text")).alias("fp"))
    want = {
        r.doc_id: (ref_groups.get(r.fp), r.fp not in ref_groups)
        for r in bf.collect()
    }
    assert got == want
    kept = [k for k, (_, keep) in got.items() if keep]
    dropped = [k for k, (_, keep) in got.items() if not keep]
    assert len(kept) == 40 and len(dropped) == 40  # the fixture's split


def test_append_token_and_compaction(spark, tmp_path):
    docs, batch = _docs(spark), _mutated(spark)
    idx = str(tmp_path / "tok")
    X.write_exact_index(docs, idx, n_buckets=8)
    # the genuinely-novel half of the fixture, by construction (ids
    # 10040+ carry a novel token). A frame that PROBES the index must
    # not be re-executed across appends to it: the append refreshes
    # Spark's by-path caches, and the re-run would see the batch's own
    # rows (the snapshot fragility write_exact_index documents)
    novel = batch.where(F.col("doc_id") >= 10_040)
    assert _decisions(X.dedup_exact_against_index(
        spark, novel, idx)) == {
        r.doc_id: (None, True) for r in novel.select("doc_id").collect()}
    X.write_exact_index(novel, idx, mode="append", append_token="b1",
                        n_buckets=None)
    m1 = X._read_exact_meta(spark, idx)
    assert m1["n_docs"] == docs.count() + 40 and m1["token"] == "b1"
    X.write_exact_index(novel, idx, mode="append", append_token="b1",
                        n_buckets=None)  # committed retry: no-op
    assert X._read_exact_meta(spark, idx) == m1
    # the admitted novel docs are now exact dups of themselves
    re_probe = X.dedup_exact_against_index(spark, novel, idx)
    assert re_probe.where("keep").count() == 0
    assert {r.dup_of for r in re_probe.collect()} == {
        r.doc_id for r in novel.select("doc_id").collect()}
    # a DIFFERENT batch against a dead append is refused
    X._write_exact_meta(spark, idx, 8, "doc_id", "__appending__",
                        m1["n_docs"], m1["token"], pending_token="p1")
    with pytest.raises(ValueError, match="in-flight append"):
        X.write_exact_index(novel, idx, mode="append", append_token="p2",
                            n_buckets=None)
    # heal: same-token retry re-appends; probes absorb; compaction cleans
    X.write_exact_index(novel, idx, mode="append", append_token="p1",
                        n_buckets=None)
    assert X.exact_index_stats(spark, idx)["duplicate_rows"] > 0
    assert X.dedup_exact_against_index(spark, novel, idx) \
        .where("keep").count() == 0
    X.compact_exact_index(spark, idx)
    st = X.exact_index_stats(spark, idx)
    assert st["duplicate_rows"] == 0 and st["status"] == "committed"
    assert X._read_exact_meta(spark, idx)["token"] == "p1"


def test_pushdown_and_fallback(spark, tmp_path):
    docs, batch = _docs(spark), _mutated(spark)
    idx = str(tmp_path / "push")
    X.write_exact_index(docs, idx, n_buckets=16)
    probed = X.dedup_exact_against_index(spark, batch, idx,
                                         pushdown_min_index_bytes=0)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    # the flat fps table has no partition column: the pruning lever is
    # the fingerprint IN list pushed to the sorted files' footers
    scans = [ln for ln in plan.splitlines()
             if "FileScan parquet" in ln and "/push/fps" in ln]
    assert len(scans) == 1, plan[:2000]
    assert re.search(r"PartitionFilters: \[\]", scans[0]), scans[0]
    assert re.search(r"PushedFilters: \[[^\]]*In\(fingerprint", scans[0]), \
        scans[0]
    fb = X.dedup_exact_against_index(spark, batch, idx,
                                     max_pushdown_fps=1,
                                     pushdown_min_index_bytes=0)
    assert "In(fingerprint" not in (
        fb._jdf.queryExecution().executedPlan().toString())
    assert _decisions(fb) == _decisions(probed)
    # r11 size-adaptive default: a tiny index skips the fingerprint
    # collect (single-action probe, broadcast-join attach) — no
    # In(fingerprint...) pushdown, IDENTICAL decisions
    adaptive = X.dedup_exact_against_index(spark, batch, idx)
    assert "In(fingerprint" not in (
        adaptive._jdf.queryExecution().executedPlan().toString())
    assert _decisions(adaptive) == _decisions(probed)


def _odd_ids(df):
    """String ids holding a quote, a backslash and non-ASCII
    characters."""
    return df.select(
        F.concat(F.lit("o'b\\ï☃-"), F.col("doc_id")).alias("doc_id"),
        "text")


def test_escaped_string_ids_on_the_pruned_route(spark, tmp_path):
    """With ids holding ``'``, ``\\`` and non-ASCII characters, the
    pruned probe (fingerprints pushed as one parser-built ``IN`` list)
    and the broadcast route give the same decisions, and
    ``In(fingerprint`` stays in PushedFilters."""
    docs, batch = _odd_ids(_docs(spark)), _odd_ids(_mutated(spark))
    idx = str(tmp_path / "odd")
    X.write_exact_index(docs, idx, n_buckets=8)
    pruned = X.dedup_exact_against_index(spark, batch, idx,
                                         pushdown_min_index_bytes=0)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PushedFilters: \[[^\]]*In\(fingerprint", plan), \
        plan[:2000]
    bcast = X.dedup_exact_against_index(spark, batch, idx,
                                        max_pushdown_fps=1,
                                        pushdown_min_index_bytes=0)
    assert "In(fingerprint" not in (
        bcast._jdf.queryExecution().executedPlan().toString())
    got = _decisions(pruned)
    assert got == _decisions(bcast)
    assert got["o'b\\ï☃-10000"][0] == "o'b\\ï☃-0"
    assert sum(keep for _, keep in got.values()) == 40


def test_string_ids_and_empty_index(spark, tmp_path):
    docs = _docs(spark).select(
        F.concat(F.lit("d-"), F.col("doc_id")).alias("doc_id"), "text")
    idx = str(tmp_path / "sid")
    X.write_exact_index(docs.limit(0), idx, n_buckets=8)  # EMPTY seed
    d = X.dedup_exact_against_index(spark, docs, idx)
    assert dict(d.dtypes)["doc_id"] == "string"
    assert d.where("keep").count() == docs.count()  # nothing indexed yet
    X.write_exact_index(docs, idx, mode="append", append_token="b0",
                        n_buckets=None)
    d2 = X.dedup_exact_against_index(spark, docs, idx)
    assert d2.where("keep").count() == 0
    # dup_of carries the NATIVE string id, not a nulled long cast
    one = docs.limit(1)
    got = X.dedup_exact_against_index(spark, one, idx).head()
    assert got.dup_of is not None and isinstance(got.dup_of, str)


def test_compact_empty_index_keeps_schema_pin(spark, tmp_path):
    """Compacting an EMPTY index must not brick it: the fps_compact
    write emits no part files, so the swap used to replace fps — which
    held the build-time empty-schema pin — with a fileless dir, and
    every later probe died with UNABLE_TO_INFER_SCHEMA (the r9 ADVICE
    medium; compact_text_index guards the identical hazard)."""
    docs = _docs(spark).select(
        F.concat(F.lit("d-"), F.col("doc_id")).alias("doc_id"), "text")
    idx = str(tmp_path / "empty_compact")
    X.write_exact_index(docs.limit(0), idx, n_buckets=8)  # EMPTY seed
    X.compact_exact_index(spark, idx)
    m = X._read_exact_meta(spark, idx)
    assert m["status"] == "committed" and m["n_docs"] == 0
    # the probe still works — and the pinned NATIVE id type survived
    d = X.dedup_exact_against_index(spark, docs.limit(5), idx)
    assert dict(d.dtypes)["doc_id"] == "string"
    assert d.where("keep").count() == 5
    # and the index still grows normally after the compact
    X.write_exact_index(docs.limit(5), idx, mode="append",
                        append_token="b0", n_buckets=None)
    assert X.dedup_exact_against_index(
        spark, docs.limit(5), idx).where("keep").count() == 0


def _part_files(d):
    import os

    return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))


def _fp_ranges(d):
    """(min, max) fingerprint of each part file, from its footer."""
    import os

    import pyarrow.parquet as pq

    out = []
    for f in _part_files(d):
        md = pq.ParquetFile(os.path.join(d, f)).metadata
        if md.num_rows == 0:
            continue
        col = md.schema.to_arrow_schema().get_field_index("fingerprint")
        st = [md.row_group(i).column(col).statistics
              for i in range(md.num_row_groups)]
        out.append((min(s.min for s in st), max(s.max for s in st)))
    return sorted(out)


def test_append_adds_one_file(spark, tmp_path):
    """A daily-sized append writes its batch as ONE range-sorted file
    (AQE coalesces the range shuffle), not one file per bucket."""
    docs, batch = _docs(spark), _mutated(spark)
    idx = str(tmp_path / "one")
    X.write_exact_index(docs, idx, n_buckets=8)
    before = _part_files(f"{idx}/fps")
    novel = batch.where(F.col("doc_id") >= 10_040)
    assert novel.count() == 40
    X.write_exact_index(novel, idx, mode="append", n_buckets=None)
    assert len(_part_files(f"{idx}/fps")) == len(before) + 1
    assert X.dedup_exact_against_index(spark, novel, idx) \
        .where("keep").count() == 0


def test_build_and_compact_write_disjoint_ranges(spark, tmp_path):
    """Build and compaction write n_buckets range files whose
    fingerprint ranges do not overlap (footer pruning needs tight,
    disjoint min/max per file); appends may overlap until compacted."""
    docs, batch = _docs(spark), _mutated(spark)
    idx = str(tmp_path / "ranges")
    X.write_exact_index(docs, idx, n_buckets=8)

    def disjoint(d):
        r = _fp_ranges(d)
        assert len(r) > 1
        assert all(a[1] < b[0] for a, b in zip(r, r[1:])), r

    disjoint(f"{idx}/fps")
    X.write_exact_index(batch, idx, mode="append", n_buckets=None)
    X.compact_exact_index(spark, idx)
    m = X._read_exact_meta(spark, idx)
    assert m["layout"] == "flat" and m["versions"] == {"fps": 1}
    disjoint(f"{idx}/fps_v1")
    assert len(_part_files(f"{idx}/fps_v1")) <= 8


def _write_bucketed_index(spark, docs, idx, n_buckets):
    """An index exactly as the pre-flat writer left it: Hive bucket=
    dirs of pmod(xxhash64(fp), n_buckets) and a meta row with no
    layout column."""
    from avro_spark.functions import _meta_io as M

    docs.select(
        D.content_fingerprint(F.col("text")).alias("fingerprint"),
        "doc_id",
    ).withColumn(
        "bucket",
        F.pmod(F.xxhash64("fingerprint"), F.lit(n_buckets)).cast("int"),
    ).repartition(n_buckets, "bucket") \
        .sortWithinPartitions("bucket", "fingerprint", "doc_id") \
        .write.partitionBy("bucket").parquet(f"{idx}/fps")
    assert M.try_write_meta_row(f"{idx}/meta", [
        ("n_buckets", "int", n_buckets),
        ("id_col", "string", "doc_id"),
        ("status", "string", "committed"),
        ("n_docs", "long", docs.count()),
        ("token", "string", None),
        ("pending_token", "string", None),
        ("versions", "string", None),
    ])


def test_bucketed_index_probes_then_moves_flat(spark, tmp_path):
    """An index in the pre-flat bucket layout probes exactly (partition
    column ignored); its next append rewrites it flat into fps_v1,
    committed by the meta pointer flip, and it stays exact."""
    import os

    docs, batch = _docs(spark), _mutated(spark)
    old, ref = str(tmp_path / "old"), str(tmp_path / "ref")
    _write_bucketed_index(spark, docs, old, 8)
    X.write_exact_index(docs, ref, n_buckets=8)
    assert X._read_exact_meta(spark, old)["layout"] == "bucketed"
    assert _decisions(X.dedup_exact_against_index(spark, batch, old)) \
        == _decisions(X.dedup_exact_against_index(spark, batch, ref))
    pushed = X.dedup_exact_against_index(spark, batch, old,
                                         pushdown_min_index_bytes=0)
    assert _decisions(pushed) == _decisions(
        X.dedup_exact_against_index(spark, batch, ref))
    novel = batch.where(F.col("doc_id") >= 10_040)
    for i in (old, ref):
        X.write_exact_index(novel, i, mode="append", append_token="b1",
                            n_buckets=None)
    m = X._read_exact_meta(spark, old)
    assert m["layout"] == "flat" and m["versions"] == {"fps": 1}
    assert m["token"] == "b1" and m["n_docs"] == docs.count() + 40
    assert not os.path.exists(f"{old}/fps")  # superseded, collected
    assert not [d for d in os.listdir(f"{old}/fps_v1")
                if d.startswith("bucket=")]
    assert _decisions(X.dedup_exact_against_index(spark, batch, old)) \
        == _decisions(X.dedup_exact_against_index(spark, batch, ref))
    st = X.exact_index_stats(spark, old)
    assert st["duplicate_rows"] == 0 and st["fps_rows"] == m["n_docs"]
    # a committed-token retry after the move is still a no-op
    X.write_exact_index(novel, old, mode="append", append_token="b1",
                        n_buckets=None)
    assert X._read_exact_meta(spark, old) == m


def test_stats_shape(spark, tmp_path):
    docs = _docs(spark)
    idx = str(tmp_path / "st")
    X.write_exact_index(docs, idx, n_buckets=2)
    st = X.exact_index_stats(spark, idx)
    assert set(st) == {"status", "n_buckets", "n_docs", "fps_files",
                       "fps_rows", "fps_bytes", "duplicate_rows",
                       "maintenance_hint"}
    assert st["fps_rows"] == st["n_docs"] == docs.count()
    assert st["fps_files"] == 2 and st["maintenance_hint"] is None
    # novel one-doc appends (no duplicate rows): one file each, so the
    # file count alone crosses 8 x n_buckets
    for i in range(15):
        X.write_exact_index(spark.createDataFrame(
            [(10_000 + i, f"novel doc {i}")], "doc_id long, text string"),
            idx, mode="append", n_buckets=None)
    st = X.exact_index_stats(spark, idx)
    assert st["fps_files"] == 17 and st["duplicate_rows"] == 0
    assert st["maintenance_hint"] == "compact"


def test_streaming_sink_exactly_once(spark, tmp_path):
    """Replay of a recorded batch: skipped; replay after losing the
    registry: the append token no-ops, decisions are REPLACED not
    doubled; within-batch dups admit only the lowest id."""
    docs = _docs(spark)
    idx = str(tmp_path / "s_idx")
    dec = str(tmp_path / "s_dec")
    X.write_exact_index(docs.where(F.col("doc_id") < 300), idx,
                        n_buckets=8)
    # the batch: one corpus dup, one novel doc, and a within-batch twin
    batch = spark.createDataFrame(
        [(9001, docs.where(F.col("doc_id") == 5).head().text),
         (9002, "a fresh never-seen document body"),
         (9003, "a fresh never-seen document body")],
        "doc_id long, text string")
    sink = X._stream_exact_sink(idx, dec, admit="novel")
    sink(batch, 0)
    m1 = X._read_exact_meta(spark, idx)
    d1 = _decisions(spark.read.parquet(f"{dec}/batch=0"))
    # within-batch twin 9003 never reaches decisions (9002 won)
    assert set(d1) == {9001, 9002}
    assert d1[9001][1] is False and d1[9001][0] == 5
    assert d1[9002] == (None, True)
    assert m1["n_docs"] == 300 + 1  # only 9002 admitted
    sink(batch, 0)  # registry skip
    assert X._read_exact_meta(spark, idx) == m1
    import shutil

    shutil.rmtree(f"{idx}/batches")
    sink(batch, 0)  # replay: token no-op, decisions replaced
    assert X._read_exact_meta(spark, idx)["n_docs"] == m1["n_docs"]
    assert _decisions(spark.read.parquet(f"{dec}/batch=0")) == d1
    assert X.exact_index_stats(spark, idx)["duplicate_rows"] == 0


def test_lease_and_status_refusals(spark, tmp_path):
    docs = _docs(spark)
    idx = str(tmp_path / "lease")
    X.write_exact_index(docs, idx, n_buckets=8)
    t = D.acquire_index_lease(idx, "hold")
    with pytest.raises(ValueError, match="live writer lease"):
        X.write_exact_index(docs, idx, mode="append", n_buckets=None)
    D.release_index_lease(idx, t)
    m = X._read_exact_meta(spark, idx)
    X._write_exact_meta(spark, idx, 8, "doc_id", "__compacting__",
                        m["n_docs"], m["token"])
    with pytest.raises(ValueError, match="finish the in-flight"):
        X.write_exact_index(docs, idx, mode="append", n_buckets=None)
    with pytest.raises(ValueError, match="status"):
        X.dedup_exact_against_index(spark, docs, idx)
    X.compact_exact_index(spark, idx)  # finish-the-swap path
    assert X._read_exact_meta(spark, idx)["status"] == "committed"


def test_fuzz_lifecycle_equals_built_at_once(spark, tmp_path_factory):
    """Stateful property: ANY sequence of append / retried-append /
    compact / crashed-compact-then-recover / contending-writer ops
    leaves the exact index deciding probes exactly like one built over
    all admitted docs at once (including the meta doc count)."""
    import random
    import shutil

    from hypothesis import given, settings
    from hypothesis import strategies as st

    words = ("alpha beta gamma delta epsilon zeta eta theta iota "
             "kappa lambda mu").split()

    @given(data=st.data())
    @settings(max_examples=3, deadline=None)
    def run(data):
        rng = random.Random(data.draw(st.integers(0, 2**32)))
        # a SMALL phrase pool so cross-batch exact dups actually occur
        phrases = [" ".join(rng.choices(words, k=4)) for _ in range(6)]

        def doc():
            return rng.choice(phrases)

        root = tmp_path_factory.mktemp("x_lifecycle")
        idx = str(root / "idx")
        next_id = [0]

        def batch(n):
            rows = [(next_id[0] + i, doc()) for i in range(n)]
            next_id[0] += n
            return spark.createDataFrame(rows, "doc_id long, text string")

        seed = batch(rng.randint(2, 5))
        X.write_exact_index(seed, idx, n_buckets=4)
        admitted = [seed]
        for _ in range(rng.randint(2, 4)):
            op = rng.choice(["append", "retry_append", "compact",
                             "crashed_compact", "contending_writer"])
            if op == "contending_writer":
                t = D.acquire_index_lease(idx, "fuzz-hold")
                b = batch(rng.randint(1, 3))
                tok = f"t{next_id[0]}"
                try:
                    with pytest.raises(ValueError,
                                       match="live writer lease"):
                        X.write_exact_index(b, idx, mode="append",
                                            n_buckets=None,
                                            append_token=tok)
                finally:
                    assert D.release_index_lease(idx, t)
                X.write_exact_index(b, idx, mode="append",
                                    n_buckets=None, append_token=tok)
                admitted.append(b)
            elif op in ("append", "retry_append"):
                b = batch(rng.randint(1, 4))
                tok = f"t{next_id[0]}"
                X.write_exact_index(b, idx, mode="append",
                                    n_buckets=None, append_token=tok)
                if op == "retry_append":  # committed retry: no-op
                    X.write_exact_index(b, idx, mode="append",
                                        n_buckets=None, append_token=tok)
                admitted.append(b)
            elif op == "compact":
                X.compact_exact_index(spark, idx)
            else:
                # r10 crash model: the compact died BEFORE the pointer
                # flip, leaving partial next-version residue — the
                # index stays committed, and the retry overwrites it
                import os

                m = X._read_exact_meta(spark, idx)
                nv = m["versions"].get("fps", 0) + 1
                res = f"{idx}/fps_v{nv}"
                os.makedirs(res, exist_ok=True)
                with open(f"{res}/part-garbage.parquet", "wb") as fh:
                    fh.write(b"not parquet")
                assert X._read_exact_meta(spark, idx)["status"] == \
                    "committed"
                X.compact_exact_index(spark, idx)
        whole = str(root / "whole")
        ref = admitted[0]
        for b in admitted[1:]:
            ref = ref.unionByName(b)
        X.write_exact_index(ref, whole, n_buckets=4)
        # plus one copy of an admitted doc: four random probe docs miss
        # every admitted phrase on ~3% of draws, which left the dup
        # branch unexercised and failed the fixture check below
        probe = batch(4).unionByName(spark.createDataFrame(
            [(next_id[0], admitted[0].head().text)],
            "doc_id long, text string"))
        got = {r.doc_id: (r.dup_of, r.keep)
               for r in X.dedup_exact_against_index(
                   spark, probe, idx).collect()}
        want = {r.doc_id: (r.dup_of, r.keep)
                for r in X.dedup_exact_against_index(
                    spark, probe, whole).collect()}
        assert got == want
        assert any(not keep for _, keep in got.values()), \
            "phrase pool never produced a dup — fixture broken"
        assert (X._read_exact_meta(spark, idx)["n_docs"]
                == X._read_exact_meta(spark, whole)["n_docs"])

    run()


def test_null_id_and_null_text_raise_loudly(spark, tmp_path):
    """The family's checked contracts: a NULL id or NULL text raises
    row-locally at build AND probe — never a silent never-matching
    null fingerprint (exact_dedup groups null texts; a null join key
    can't, so the index refuses the row instead of diverging)."""
    docs = _docs(spark)
    idx = str(tmp_path / "nulls")
    X.write_exact_index(docs, idx, n_buckets=8)
    bad_text = spark.createDataFrame(
        [(1, "fine"), (2, None)], "doc_id long, text string")
    bad_id = spark.createDataFrame(
        [(1, "fine"), (None, "also fine")], "doc_id long, text string")
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkRuntimeError

    for bad, msg in ((bad_text, "contains NULL"),
                     (bad_id, "contains NULL")):
        with pytest.raises((Py4JJavaError, PySparkRuntimeError, Exception),
                           match=msg):
            X.dedup_exact_against_index(spark, bad, idx).collect()
        with pytest.raises((Py4JJavaError, PySparkRuntimeError, Exception),
                           match=msg):
            X.write_exact_index(bad, str(tmp_path / "nulls2"),
                                n_buckets=8)


@pytest.mark.parametrize("id_type", ["bigint", "int", "string"])
def test_footer_schema_equals_inferred(spark, tmp_path, spark_jobs, id_type):
    """Each index table's schema, read from one parquet footer, equals
    the schema Spark infers (types and nullability), and reading the
    table with it starts no job."""
    from avro_spark import _fs

    docs = _docs(spark).limit(50).select(
        F.col("doc_id").cast(id_type).alias("doc_id"), "text")
    ex, mh = str(tmp_path / "ex"), str(tmp_path / "mh")
    X.write_exact_index(docs, ex, n_buckets=2)
    D.write_minhash_index(docs, mh, "doc_id", "text", num_hashes=16,
                          bands=4)
    for d in (f"{ex}/fps", f"{mh}/shingles", f"{mh}/bands"):
        assert _fs.footer_schema(d) is not None, d
        with spark_jobs() as jobs:
            got = _fs.read_parquet(spark, d).schema
        assert jobs.n == 0, d
        assert got == spark.read.parquet(d).schema, d
    assert dict((f.name, f.dataType.simpleString())
                for f in _fs.footer_schema(f"{ex}/fps"))["doc_id"] \
        == ("int" if id_type == "int" else id_type)


def test_bucketed_and_non_local_tables_infer_their_schema(
        spark, tmp_path, monkeypatch, spark_jobs):
    """A pre-flat bucketed fps table (partition directories) and a
    non-local URI have no footer schema: their reads keep Spark's
    inference, which runs a job."""
    from avro_spark import _fs

    docs = _docs(spark).limit(50)
    old, flat = str(tmp_path / "old"), str(tmp_path / "flat")
    _write_bucketed_index(spark, docs, old, 4)
    X.write_exact_index(docs, flat, n_buckets=2)
    assert _fs.footer_schema(f"{old}/fps") is None
    with spark_jobs() as jobs:
        got = _fs.read_parquet(spark, f"{old}/fps")
    assert jobs.n >= 1 and "bucket" in got.columns
    monkeypatch.setattr(_fs, "local_path", lambda uri: None)
    assert _fs.footer_schema(f"{flat}/fps") is None
    with spark_jobs() as jobs:
        got = _fs.read_parquet(spark, f"{flat}/fps")
    assert jobs.n >= 1 and got.count() == 50

"""Deduplication operators for large-scale training-data pipelines.

Five families (BASELINE.json north star "dedup"), all shuffle-aware:

* **exact** — content-fingerprint groupBy; one shuffle on the fingerprint,
  map-side partial aggregation, no skew (md5 keys are uniform).
* **n-gram Jaccard (exact near-dup)** — inverted-index candidate join
  (explode shingles → self-join → verify), NOT an O(n²) cross join: at
  100 TB the shingle join shuffles only on shingle keys, and candidate
  verification touches only pairs that share ≥1 shingle (a superset of any
  pair with Jaccard > 0, so results equal the naive all-pairs semantics).
* **MinHash + LSH** — k hash permutations over shingle xxhash64s, banded
  into buckets; candidate pairs share a band bucket; verified by exact
  Jaccard. Scale path: shuffle is on (band, bucket) keys only.
* **SimHash** — 64-bit sign-aggregated token-hash fingerprint; near-dup
  candidates share one of four 16-bit chunks (Hamming ≤ 3 ⇒ some chunk
  equal by pigeonhole over 4 chunks).
* **embedding cosine** — random-hyperplane LSH bucketing + in-bucket
  verification (see :mod:`avro_spark.functions.similarity` for exact knn).

Everything is built from JVM-side ``pyspark.sql.functions`` (higher-order
functions over arrays; xxhash64) — no Python UDFs anywhere.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._meta_io import (
    LIFECYCLE,
    _append_batch_registry,
    _read_batch_registry,
    _vdir,
    _versions_json,
    admit_append,
    batch_probed,
    begin_write,
    commit_write,
    compact_versions,
    read_meta,
    require_committed,
    row_counts,
    write_meta,
)
from .. import _fs
from ..plans.compiled import built_columns
from .similarity import _isin_lit, _sql_lit
from .text import let, normalize_text, ws_tokens

# Mersenne-31 prime: keeps a*h + b < 2^62, safely inside signed int64
_MERSENNE = (1 << 31) - 1

#: below this many bytes of on-disk table, a probe's candidate-id
#: pushdown cannot prune anything (the whole table is at most one scan
#: task) and its materialize+collect actions are pure overhead — the
#: probes skip it and run as ONE action. At corpus scale the table
#: crosses the threshold immediately and the pushdown engages as before.
_PUSHDOWN_MIN_INDEX_BYTES = 32 * 1024 * 1024


def portable_hash60(col: Column) -> Column:
    """60-bit integer hash reproducible in ANSI SQL engines: the first 15
    hex chars of md5 parsed as an integer (DuckDB:
    ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``). Slower than
    ``xxhash64`` (the scale-path default) but lets the LSH pipelines be
    verified value-for-value against a SQL oracle."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _native_id(id_col: str) -> Column:
    """The document id in its NATIVE type with a row-local NULL guard.

    The whole near-dup family keys signatures, band buckets, and index
    rows on this column. An earlier cut cast it to long, which silently
    NULLed string/UUID ids — the index stored one merged NULL-id
    signature soup and the streaming sink's ``admit="novel"`` anti-join
    admitted every duplicate (the hazard :func:`exact_dedup_groups`'s
    comment already named). Native keys work for every orderable type
    (string ids order lexicographically, exactly like the SQL oracle);
    a NULL id — unkeyable under any scheme — raises per-row instead of
    vanishing. The guard is a codegen'd CASE, not an extra job."""
    c = F.col(id_col)
    return F.when(
        c.isNull(),
        F.raise_error(F.lit(
            f"near-dup id column {id_col!r} contains NULL — document ids "
            "must be non-null (a NULL key would silently merge documents)"
        )),
    ).otherwise(c)


# --------------------------------------------------------------- exact dedup
def content_fingerprint(text: Column) -> Column:
    """md5 hex of whitespace/case-normalized text (exact-dup key)."""
    return F.md5(normalize_text(text))


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct normalized content: (fingerprint, keeper, n_copies)
    with keeper = min id. Single shuffle on the fingerprint; partial
    aggregation makes the map side emit one row per (partition, fp)."""
    fp = content_fingerprint(F.col(text_col)).alias("fingerprint")
    return (
        df.select(fp, F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            # native id type — a long cast would null string/UUID keepers
            # (dropping the whole corpus downstream) and pick "10" < "9"
            # wrong for numeric strings anyway
            F.min(id_col).alias("keeper"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep exactly one row (the min id) per distinct normalized content."""
    keep = exact_dedup_groups(df, id_col, text_col).select(
        F.col("keeper").alias(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


# ----------------------------------------------------------- n-gram Jaccard
def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word-level n-gram shingle array (space-joined).

    The token array binds once via ``let`` — inlining it into each
    element_at would re-split the text O(n·|shingles|) times per row."""

    def build(t: Column) -> Column:
        idx = F.sequence(F.lit(0), F.size(t) - n)
        grams = F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, (i + j + 1).cast("int")) for j in range(n)]
            ),
        )
        return F.when(F.size(t) >= n, F.array_distinct(grams)).otherwise(
            F.array().cast("array<string>")
        )

    return let(ws_tokens(F.lower(text)), build)


def jaccard(a: Column, b: Column) -> Column:
    """|A∩B| / |A∪B| over distinct-element arrays (0.0 when both empty)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All id pairs (a < b) with word-``n``-gram Jaccard ≥ threshold.

    Physical plan: inverted-index join — explode shingles, self-join on the
    shingle, distinct candidate pairs, verify with exact Jaccard. Result is
    identical to the naive all-pairs formulation for any threshold > 0
    (pairs sharing no shingle have Jaccard 0) but shuffles on shingle keys
    instead of materializing n² pairs.

    ``max_doc_freq``: the 100 TB skew guard. A shingle appearing in F
    documents contributes F² join rows; boilerplate shingles ("all rights
    reserved") turn the self-join quadratic. With the cap set, shingles whose
    document frequency exceeds it are dropped from *candidate generation
    only* — candidate pairs are then verified against the FULL shingle
    arrays, so every reported Jaccard score is still exact; the only
    possible difference is missing a pair whose shared shingles are all
    boilerplate (such pairs are overwhelmingly below any useful threshold —
    see tests/test_pipeline_ops.py recall check). Leave ``None`` for
    oracle-exact semantics.
    """
    docs = df.select(
        _native_id(id_col).alias("_id"),
        shingles(F.col(text_col), n).alias("_sh"),
    )
    sizes = docs.select("_id", F.size("_sh").alias("_n"))
    # Join on the 64-bit shingle hash, not the string: the shuffle moves
    # 8-byte keys and the sort-merge compares longs. Distinct shingles
    # collide with probability ~n²·2⁻⁶⁴ — immaterial to the counted
    # intersection (and to the oracle match).
    inv = docs.select("_id", F.explode("_sh").alias("_g")).select(
        "_id", F.xxhash64("_g").alias("_g")
    )
    if max_doc_freq is not None:
        # Candidate generation only: drop boilerplate shingles whose document
        # frequency exceeds the cap (each contributes df² join rows), then
        # verify surviving candidate pairs against the FULL shingle arrays so
        # reported scores stay exact. One extra aggregate on the same
        # shuffle key the join uses; the anti-join is a cheap (long, long)
        # sort-merge on _g.
        hot = (
            inv.groupBy("_g")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_doc_freq)
            .select("_g")
        )
        inv_c = inv.join(hot, on="_g", how="left_anti")
        cand = (
            inv_c.alias("l")
            .join(inv_c.alias("r"), on="_g")
            .where(F.col("l._id") < F.col("r._id"))
            .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
            .distinct()
        )
        return (
            cand.join(
                docs.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sa")),
                "id_a",
            )
            .join(
                docs.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sb")),
                "id_b",
            )
            .select(
                "id_a", "id_b",
                jaccard(F.col("_sa"), F.col("_sb")).alias("jaccard"),
            )
            .where(F.col("jaccard") >= threshold)
        )
    # Shingle arrays are distinct-element, so counting join hits per pair IS
    # |A∩B| — no array-intersect verification pass needed; the per-pair
    # aggregate is map-side combined and the only other state joined back is
    # the two scalar set sizes (broadcast-sized relative to the pair set).
    inter = (
        inv.alias("l")
        .join(inv.alias("r"), on="_g")
        .where(F.col("l._id") < F.col("r._id"))
        .groupBy(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    pairs = (
        inter.join(sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na")), "id_a")
        .join(sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("_inter").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("_inter")).cast("double")
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return pairs


# --------------------------------------------------------------- MinHash LSH
def _perm_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a_i*x + b_i) mod p.

    Derived from a splitmix64-style integer scramble of (seed, i) — pure
    arithmetic, reproducible everywhere, no RNG state.
    """
    params = []
    for i in range(num_hashes):
        z = (seed * 0x9E3779B97F4A7C15 + (i + 1) * 0xBF58476D1CE4E5B9) % (1 << 64)
        z ^= z >> 30
        z = (z * 0x94D049BB133111EB) % (1 << 64)
        z ^= z >> 31
        a = (z % (_MERSENNE - 1)) + 1
        b = (z >> 13) % _MERSENNE
        params.append((a, b))
    return params


def minhash_signature(
    text: Column, num_hashes: int = 64, shingle_n: int = 3, seed: int = 1,
    hash_fn=F.xxhash64,
) -> Column:
    """Array of ``num_hashes`` minhash values over word-n-gram shingles.

    Shingles hash through ``hash_fn`` (default ``xxhash64``, JVM-side;
    pass :func:`portable_hash60` for SQL-oracle parity), then k
    universal-hash permutations; each signature slot is the min over
    shingles. Empty shingle sets get p (greater than any real hash) in
    every slot.
    """
    sh = shingles(text, shingle_n)
    hashed = F.transform(sh, lambda s: F.pmod(hash_fn(s), F.lit(_MERSENNE)))
    def _perm(a: int, b: int):
        # (a*h + b) mod p: a, b, h all < 2^31 so a*h + b < 2^62 — no overflow.
        # Factory keeps the lambda single-arg (F.transform counts parameters).
        return lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(_MERSENNE))

    slots = []
    for a, b in _perm_params(num_hashes, seed):
        perm = _perm(a, b)
        slots.append(
            F.coalesce(
                F.array_min(F.transform(hashed, perm)), F.lit(_MERSENNE)
            )
        )
    return F.array(*slots)


def _sig_band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    seed: int,
    hash_fn,
) -> "tuple[DataFrame, DataFrame]":
    """``(docs, band_rows)`` for MinHash banding: docs = (_id, _sh
    shingle-string array), band_rows = (_id, band, bucket). The ONE
    banding construction, shared by in-corpus pairing
    (:func:`minhash_lsh_pairs`) and the persisted index
    (:func:`write_minhash_index` / :func:`dedup_against_index`) so the
    two surfaces can never band differently."""
    if num_hashes % bands:
        raise ValueError("num_hashes must divide into bands evenly")
    r = num_hashes // bands
    docs = df.select(
        _native_id(id_col).alias("_id"),
        shingles(F.col(text_col), shingle_n).alias("_sh"),
    )
    exploded = docs.select("_id", F.explode("_sh").alias("_g")).select(
        "_id", F.pmod(hash_fn(F.col("_g")), F.lit(_MERSENNE)).alias("_h")
    )
    return docs, _band_rows_from_hashes(exploded, num_hashes, bands, seed)


def _band_rows_from_hashes(
    exploded: DataFrame, num_hashes: int, bands: int, seed: int
) -> DataFrame:
    """(_id, _h) scalar shingle-hash rows (``_h`` already reduced mod
    2^31-1) → (_id, band, bucket) band rows.

    Signature via explode + k tiny min-aggregates: one expression per
    permutation over the scalar shingle hash. (Building a 64-slot array
    column instead duplicates the whole shingle expression per slot —
    minutes of Catalyst/codegen time.) Map-side partial aggregation keeps
    the shuffle at k longs per doc regardless of shingle count; docs with
    zero shingles drop out, which is final-result-equivalent (their
    Jaccard with anything is 0 < threshold).

    The k min-slots (one ``struct`` of k aggregates) and the band
    structs are each ONE SQL string: a Column per slot costs a few py4j
    round trips each, while the parser ingests the same trees in
    milliseconds. a, b, h < 2^31 so a*h + b < 2^62 — no long overflow."""
    r = num_hashes // bands
    params = _perm_params(num_hashes, seed)
    slots = ", ".join(
        f"min(pmod({a}L * _h + {b}L, {_MERSENNE}L)) AS mh{i}"
        for i, (a, b) in enumerate(params)
    )
    sig = exploded.groupBy("_id").agg(F.expr(f"struct({slots}) AS _mh"))
    band_structs = ",".join(
        "struct({bi} AS band, xxhash64(concat_ws(',', {cols})) AS bucket)".format(
            bi=bi, cols=",".join(f"_mh.mh{bi * r + j}" for j in range(r))
        )
        for bi in range(bands)
    )
    return sig.select("_id", F.expr(f"inline(array({band_structs}))"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 1,
    hash_fn=F.xxhash64,
) -> DataFrame:
    """Near-dup id pairs via MinHash banding, verified by exact Jaccard.

    rows = num_hashes // bands; a pair is a candidate iff some band of the
    signature matches exactly (P[candidate] ≈ 1-(1-j^r)^b). Candidates are
    then verified against the true shingle Jaccard ≥ threshold, so banding
    only affects recall, never precision. Shuffles: one on (band, bucket
    hash), one distinct, two broadcast-or-shuffle joins back to shingles.
    ``hash_fn`` is the shingle→int hash (default ``xxhash64``; pass
    :func:`portable_hash60` for SQL-oracle parity).
    """
    docs, band_rows = _sig_band_rows(
        df, id_col, text_col, num_hashes, bands, shingle_n, seed, hash_fn
    )
    cand = (
        band_rows.alias("l")
        .join(band_rows.alias("r"), on=["band", "bucket"])
        .where(F.col("l._id") < F.col("r._id"))
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )
    return (
        cand.join(docs.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")), "id_a")
        .join(docs.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")), "id_b")
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# ----------------------------------------------- persisted MinHash index
#: hash functions the persisted index may name in its meta row — the
#: probe re-binds by NAME (:func:`_index_hash`) so a mismatched hash can
#: never silently band differently from the stored signatures
_INDEX_HASHES = ("xxhash64", "portable_hash60")


def _write_minhash_index_unlocked(
    df: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 1,
    hash_fn: str = "xxhash64",
    mode: str = "overwrite",
    append_token: "str | None" = None,
    _hdocs: "DataFrame | None" = None,
) -> None:
    """Persist a corpus's MinHash-LSH signature index under ``path`` —
    the incremental-dedup shape: build the index ONCE over the existing
    corpus, then check each day's batch against it with
    :func:`dedup_against_index` without ever re-signaturing the corpus.
    ``mode="append"`` grows it with newly-admitted documents; the meta
    row flips to ``status='__appending__'`` before the two table writes
    and back to ``'committed'`` after, so an append that dies between
    the shingle and band writes leaves every probe failing LOUDLY (the
    half-appended docs would otherwise silently under-recall — the same
    silent-zero-recall class the ``__building__`` rebuild marker
    closes). Recovery is RE-RUNNING THE SAME APPEND to completion — the
    probe absorbs the duplicate rows a retry leaves (band duplicates via
    candidate distinct, shingle duplicates via a (new_id, corpus_id)
    dedupe at the output), so a completed retry restores exactness.

    ``append_token`` strengthens the retry story to EXACTLY-ONCE across
    callers that re-run whole batches (the streaming sink's shape): the
    token of the last COMMITTED append rides in the meta row, and an
    append whose token matches it returns without touching the data —
    so a caller that crashed AFTER the append committed but BEFORE its
    own bookkeeping can blindly re-run. While an append is in flight
    its token also rides in the ``'__appending__'`` marker
    (``pending_token``), so a retry carrying a DIFFERENT token is
    refused loudly instead of silently interleaving two batches.
    Sequential appends only (the token remembers one batch). An append
    against a ``'__compacting__'`` index is refused: committing it
    would cancel the pending compaction recovery and a later
    finish-the-swap would discard the appended rows — run
    :func:`compact_minhash_index` to completion first.

    Layout (all plain parquet — no catalog dependency, any Spark-visible
    storage): ``bands/`` = (band, bucket, id) — the LSH probe side;
    ``shingles/`` = (id, shh array<long>) — hashed shingle sets for the
    exact-Jaccard verification; ``meta/`` = one row pinning
    (num_hashes, bands, shingle_n, seed, hash_fn) so a probe can NEVER
    band differently from the stored signatures (mismatched banding
    silently finds nothing — the probe reads its parameters from here
    instead of trusting arguments)."""
    if hash_fn not in _INDEX_HASHES:
        raise ValueError(
            f"hash_fn must be one of {list(_INDEX_HASHES)}: {hash_fn!r}"
        )
    fn = _index_hash(hash_fn)
    spark = df.sparkSession
    given = dict(num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
                 seed=seed, hash_fn=hash_fn)

    def pinned(m: dict) -> dict:
        stored = {k: m[k] for k in given}
        if stored != given:
            raise ValueError(
                f"append parameters {given} do not match the index's "
                f"stored meta {stored}"
            )
        return m

    # marker FIRST, committed LAST (:func:`_meta_io.begin_write`): a
    # crash between the shingle and band writes (two separate parquet
    # jobs) would otherwise leave docs with shingle rows but no band
    # rows — probes silently lose recall for exactly those docs. With
    # the marker they fail loudly until the SAME append (or rebuild) is
    # re-run to completion (the probe absorbs the retry's duplicate
    # rows). Concurrent WRITERS are refused by the single-writer lease
    # (the public wrapper); probing DURING a rebuild still reads tables
    # mid-replacement.
    meta = _minhash_meta(spark, path)
    m = begin_write(path, mode, append_token, "write_minhash_index",
                    lambda: _read_index_meta(spark, path), given, meta,
                    pinned)
    if m is None:
        return  # this batch's append already committed — a retry
    versions = m["versions"]
    # hash each gram ONCE (md5/xxhash over text is the dominant cost)
    # and persist the hashed form across the two writes — without this
    # the shingles job re-reads, re-shingles, and re-hashes the whole
    # corpus from source. shh stores the FULL-WIDTH hash (not pmod
    # 2^31-1 — that range is only needed by the permutation
    # arithmetic): at 31 bits a ~77k-shingle document expects in-set
    # collisions and Jaccard drifts from the string-set value; at
    # 60/64 bits collisions are ~2^-60 per pair.
    # ``_hdocs``: internal — a caller that already hashed this exact df
    # with these exact (shingle_n, hash_fn) params (the streaming sink,
    # which probes before it appends) passes its persisted frame so the
    # batch text is hashed once per micro-batch, not once per pass.
    own_hdocs = _hdocs is None
    hdocs = (_hashed_docs(df, id_col, text_col, shingle_n, fn).persist()
             if own_hdocs else _hdocs)
    try:
        # materialize the hashed form ONCE up front, then run the two
        # independent table writes CONCURRENTLY (guide §2.6: actions are
        # only sequential because the driver calls them sequentially).
        # Without the count the parallel writes would race to compute
        # the unmaterialized cache and hash the corpus twice; with it,
        # wall time is hash + max(write) instead of hash + sum(writes),
        # and one write's driver-side planning overlaps the other's
        # execution. A caller-provided ``_hdocs`` (the streaming sink)
        # is persisted AND already materialized by the probe pass that
        # preceded the append — no extra job needed (a replayed batch
        # that skipped the probe merely recomputes cache partitions
        # concurrently once; results are unaffected).
        n_files = None
        if own_hdocs:
            n_docs, n_hashes = hdocs.selectExpr(
                "count(1)", "sum(size(_hh))").first()
            # an append that fits one advisory partition (a daily batch)
            # writes each table as one sorted file, with no range sampling
            if mode == "append" and _fits_one_file(
                spark, n_docs * (bands + 1) * _ROW_BYTES
                + (n_hashes or 0) * 8):
                n_files = 1

        # DATA-SKIPPING LAYOUT: range-partition + sort each table by its
        # probe key so every parquet file/row-group covers a tight key
        # range and carries min/max stats. The probe pushes the bounded
        # candidate-id set into the shingles scan (`id IN (...)`) — with
        # this layout that filter prunes at the footer level, so a daily
        # probe reads ~|candidates| worth of the shingle store instead
        # of full-scanning a near-corpus-sized table. Appends sort their
        # own batch the same way (per-file stats stay tight per batch).
        def _write_shingles() -> None:
            _sorted_parts(hdocs.selectExpr(
                "_id AS id", "array_sort(array_distinct(_hh)) AS shh",
            ), n_files, ("id",)).write.mode(mode) \
                .parquet(_vdir(path, "shingles", versions.get("shingles", 0)))

        def _write_bands() -> None:
            _sorted_parts(_band_rows_from_hashes(
                _explode_mod(hdocs), num_hashes, bands, seed
            ).selectExpr("band", "bucket", "_id AS id"),
                n_files, ("band", "bucket")).write.mode(mode) \
                .parquet(_vdir(path, "bands", versions.get("bands", 0)))

        from concurrent.futures import ThreadPoolExecutor

        from pyspark.util import inheritable_thread_target

        # the pool threads inherit the caller's job group, description
        # and tags; one wrap per target (each clones the properties)
        with ThreadPoolExecutor(max_workers=2) as ex:
            futs = [ex.submit(inheritable_thread_target(spark)(f))
                    for f in (_write_shingles, _write_bands)]
            # surface the FIRST failure (both futures always complete —
            # the with-block joins the pool), leaving the in-flight
            # marker in place so probes fail loudly, as before
            for f in futs:
                f.result()
    finally:
        if own_hdocs:
            hdocs.unpersist()
    commit_write(path, mode, append_token, meta, m, ("shingles", "bands"))


#: estimated shuffle bytes of one index row besides its hashed-shingle
#: array (an append's one-file estimate). Measured lz4 shuffle bytes per
#: row (local[2], 4,000 docs of 400 tokens): long ids 29-38 B, 36-char
#: UUID string ids 45-73 B across the fps, band and shingle tables;
#: longer string ids can exceed it
_ROW_BYTES = 96


def _fits_one_file(spark, n_bytes: int) -> bool:
    """True when ``n_bytes`` of shuffle data fit AQE's advisory
    partition size, i.e. one partition, so one file."""
    size = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    return n_bytes <= spark._jvm.org.apache.spark.network.util \
        .JavaUtils.byteStringAsBytes(size)


def _sorted_parts(df: DataFrame, n_files: "int | None", keys: tuple,
                  then: tuple = ()) -> DataFrame:
    """The ONE index-table write layout: ``df`` range-partitioned on
    ``keys`` and sorted by ``keys`` + ``then`` within each partition.
    ``n_files`` partitions for a build or rewrite; ``None`` lets AQE
    coalesce them; 1 is one sorted partition, which needs no
    range-sampling job."""
    if n_files == 1:
        part = df.coalesce(1)
    elif n_files:
        part = df.repartitionByRange(n_files, *keys)
    else:
        part = df.repartitionByRange(*keys)
    return part.sortWithinPartitions(*keys, *then)


def _hashed_docs(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int, fn
) -> DataFrame:
    """(_id, _hh full-width-hashed shingle array) — grams hash exactly
    once; band rows reduce mod 2^31-1 downstream (:func:`_explode_mod`),
    the verification store keeps the full width. Ids keep their NATIVE
    type (:func:`_native_id`): the index parquet stores whatever id type
    the corpus has, and probes/appends must bring the same type. The
    two Columns are built once per SparkContext (:func:`built_columns`):
    the shingle tree alone is a few hundred py4j round trips."""
    return df.select(*built_columns(
        ("minhash_hashed_docs", id_col, text_col, shingle_n, fn),
        lambda: (
            _native_id(id_col).alias("_id"),
            F.transform(
                shingles(F.col(text_col), shingle_n), lambda g: fn(g)
            ).alias("_hh"),
        ),
    ))


def _explode_mod(hdocs: DataFrame) -> DataFrame:
    return hdocs.selectExpr("_id", "explode(_hh) AS _hr").selectExpr(
        "_id", f"pmod(_hr, {_MERSENNE}) AS _h")


def _index_hash(name: str):
    if name == "portable_hash60":
        return portable_hash60
    if name == "xxhash64":
        return F.xxhash64
    # earlier code marked a rebuild in hash_fn: one that died between
    # its marker and its commit still names the marker here
    raise ValueError(
        f"index meta names unknown hash {name!r} — the index is "
        "mid-rebuild or corrupt; rebuild it with write_minhash_index"
    )


def _write_index_meta_row(
    spark, path: str, num_hashes: int, bands: int, shingle_n: int,
    seed: int, hash_fn_marker: str, status: str = "committed",
    token: "str | None" = None, pending_token: "str | None" = None,
    versions: "dict[str, int] | None" = None,
) -> None:
    """The index's ONE meta row. ``token`` is the LAST committed append
    token (the streaming sink's exactly-once handle — a retried append
    whose token matches is a no-op); ``pending_token`` rides only in the
    ``'__appending__'`` marker and names the IN-FLIGHT append, so a
    crash recovery can verify the retry is the same batch instead of
    trusting a docstring. ``versions`` is the table-version pointer map
    (:func:`_vdir`): overwriting this row IS the atomic commit of a
    compaction's table swap. Local paths commit driver-side via an
    atomic single-file replace (:mod:`._meta_io` — no Spark job for one
    metadata row)."""
    write_meta(spark, path, [
        ("num_hashes", "int", int(num_hashes)),
        ("bands", "int", int(bands)),
        ("shingle_n", "int", int(shingle_n)),
        ("seed", "int", int(seed)),
        ("hash_fn", "string", hash_fn_marker),
        ("status", "string", status),
        ("token", "string", token),
        ("pending_token", "string", pending_token),
        ("versions", "string", _versions_json(versions)),
    ])


def _read_index_meta(spark, path: str) -> dict:
    d = read_meta(spark, path, "MinHash", "write_minhash_index")
    return {k: d[k] for k in (
        "num_hashes", "bands", "shingle_n", "seed", "hash_fn", *LIFECYCLE)}


def _minhash_meta(spark, path: str):
    """The lifecycle's meta writer (:mod:`._meta_io`): row ``m``, in
    :func:`_read_index_meta`'s shape, written through this module's
    ``_write_index_meta_row`` as looked up at call time."""
    return lambda m: _write_index_meta_row(
        spark, path, m["num_hashes"], m["bands"], m["shingle_n"],
        m["seed"], m["hash_fn"], m["status"], m["token"],
        m["pending_token"], m["versions"])


def dedup_against_index(
    spark,
    new_df: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    broadcast_batch: bool = True,
    candidate_pushdown: bool = True,
    max_pushdown_ids: int = 5_000,
    pushdown_min_index_bytes: int = _PUSHDOWN_MIN_INDEX_BYTES,
    _hdocs: "DataFrame | None" = None,
) -> DataFrame:
    """Near-dup pairs of a NEW batch against a persisted corpus index —
    the incremental face of :func:`minhash_lsh_pairs`: identical
    banding (parameters come from the index's meta row, never from the
    caller) and the same exact-Jaccard verification, but the corpus
    side is the stored (band, bucket) table and stored hashed-shingle
    sets — the corpus is never re-signatured. Returns
    ``(new_id, corpus_id, jaccard)``.

    Plan shape: the new batch's band rows JOIN the index's bands table
    on (band, bucket) — a daily batch is small, so AQE broadcasts it
    and the index side streams through unshuffled. Verification then
    needs only the CANDIDATE ids' shingle sets: with
    ``candidate_pushdown`` (default) the candidate pairs come to the
    driver in ONE bounded collect (they are tiny by LSH design) and
    return as a local relation (one parser-built ``VALUES`` list), and
    their distinct corpus-id set becomes an ``id IN (...)`` filter
    PUSHED INTO the shingles parquet scan — against
    :func:`write_minhash_index`'s range-sorted layout that prunes at
    the row-group/file footer level, so probe IO on the (near
    corpus-sized) shingle store scales with |candidates|, not |index|.
    The verify join then streams the pruned shingle rows past the
    broadcast candidates and batch shingle sets. More than
    ``max_pushdown_ids`` distinct candidates falls back to the
    streaming join over the candidate pairs, materialized once
    (localCheckpoint) — driver state stays bounded, and a Catalyst
    ``In`` with tens of thousands of literals bloats the plan and slows
    optimization well before it helps IO, so the default stays at a few
    thousand. On every route the duplicate pairs a retried append's
    shingle rows leave collapse at the output. Jaccard is computed over
    FULL-WIDTH hashed shingle sets (equal to gram Jaccard up to ~2^-60
    collisions per pair)."""
    m = _read_index_meta(spark, path)
    # a half-applied append would silently under-recall its docs
    require_committed(m, path, "probe")
    fn = _index_hash(m["hash_fn"])
    # ``_hdocs``: internal — a precomputed/persisted _hashed_docs frame
    # for THIS batch with THIS index's (shingle_n, hash_fn), so a caller
    # that both probes and appends (the streaming sink) hashes the batch
    # text exactly once instead of once per pass
    hdocs = _hdocs if _hdocs is not None else _hashed_docs(
        new_df, id_col, text_col, m["shingle_n"], fn)
    band_rows = _band_rows_from_hashes(
        _explode_mod(hdocs), m["num_hashes"], m["bands"], m["seed"]
    )
    new_sh = hdocs.selectExpr(
        "_id AS new_id", "array_sort(array_distinct(_hh)) AS shh_new")
    idx_bands = _fs.read_parquet(
        spark, _vdir(path, "bands", m["versions"].get("bands", 0)))
    new_bands = band_rows.selectExpr("band", "bucket", "_id AS new_id")
    if broadcast_batch:
        # a daily batch is small next to the corpus: broadcasting it
        # lets the bands table stream through with NO shuffle. Pass
        # broadcast_batch=False for a batch too big for the driver —
        # AQE then picks the join sides itself.
        new_bands = F.broadcast(new_bands)
    cand = (
        idx_bands.join(
            new_bands,
            on=["band", "bucket"],
        )
        .select(F.col("id").alias("corpus_id"), "new_id")
        .distinct()
    )
    sh_dir = _vdir(path, "shingles", m["versions"].get("shingles", 0))
    sh_scan = _fs.read_parquet(spark, sh_dir)
    if candidate_pushdown and not _fs.bytes_at_least(
        sh_dir, pushdown_min_index_bytes
    ):
        # SCALE-ADAPTIVE (guide §1.2): below one scan task's worth of
        # shingle store the pushdown prunes nothing, and its bounded
        # collect is an extra action per probe — run the whole probe as
        # ONE action instead. Results are identical either way (pinned
        # by test_candidate_pushdown_prunes_the_shingle_scan).
        candidate_pushdown = False
    if candidate_pushdown:
        # ONE bounded collect of the candidate pairs (what the verify
        # stage exists to score — tiny by LSH design). Under the cap
        # they return as a LOCAL relation, and their corpus-id set
        # pushes into the shingles scan, where the range-sorted layout
        # turns it into row-group/file pruning.
        rows = cand.limit(max_pushdown_ids + 1).collect()
        if len(rows) <= max_pushdown_ids:
            cand_t = cand.schema
            cand = F.broadcast(
                _local_rows(spark, rows, cand_t) if rows else cand.limit(0))
            if broadcast_batch:
                new_sh = F.broadcast(new_sh)
            sh_scan = sh_scan.where(_isin_lit(
                "id", {r[0] for r in rows}, cand_t["corpus_id"].dataType))
        else:
            # adversarial candidate blow-up: materialize the pairs ONCE
            # (localCheckpoint truncates lineage so the bands join never
            # re-runs) and keep the streaming join — driver state stays
            # bounded by the cap
            cand = cand.localCheckpoint(eager=True)
    return (
        sh_scan.select(F.col("id").alias("corpus_id"),
                       F.col("shh").alias("shh_old"))
        .join(cand, "corpus_id")
        .join(new_sh, "new_id")
        .select(*_scored_pairs())
        .where(F.col("jaccard") >= threshold)
        # a RETRIED append re-appends its rows: band-row duplicates are
        # absorbed by the candidate .distinct(), and each duplicate
        # shingle row yields the same pair again, collapsed here — the
        # documented crash recovery is "re-run the same append to
        # completion", after which the probe is exact again
        .dropDuplicates(["new_id", "corpus_id"])
    )


def _scored_pairs() -> tuple:
    """The probe's output Columns ``(new_id, corpus_id, jaccard)``."""
    return built_columns("minhash_scored_pairs", lambda: (
        F.col("new_id"), F.col("corpus_id"),
        jaccard(F.col("shh_new"), F.col("shh_old")).alias("jaccard"),
    ))


def _local_rows(spark, rows, schema) -> DataFrame:
    """Collected ``rows`` of ``schema`` back as a JVM-side local relation:
    one parser-built ``VALUES`` list when every value has a literal form
    (:func:`similarity._sql_lit`). ``createDataFrame(rows)`` would
    run a Python-worker stage to unpickle them; it stays the route for
    other types."""
    types = [f.dataType for f in schema.fields]
    tuples = []
    for r in rows:
        lits = [_sql_lit(v, t) for v, t in zip(r, types)]
        if None in lits:
            return spark.createDataFrame(rows, schema)
        tuples.append(f"({', '.join(lits)})")
    names = ", ".join(f"`{f.name}`" for f in schema.fields)
    return spark.sql(f"SELECT * FROM VALUES {', '.join(tuples)} AS t({names})")


# ------------------------------------------------ single-writer lease
def _lease_uri(path: str) -> str:
    return f"{path.rstrip('/')}/_writer_lease.json"


def _read_lease(uri: str) -> "dict | None":
    import json

    raw = _fs.read_bytes(uri)
    return None if raw is None else json.loads(raw)


def _compare_and_delete_lease(uri: str, expect_token: str) -> bool:
    """Delete the lease at ``uri`` ONLY IF its content token is
    ``expect_token`` (r10, VERDICT wrong #3 — the plain
    read-check-delete let a writer that overstayed its own TTL delete
    a takeover's fresh lease in the window between its check and its
    delete). :func:`avro_spark._fs.delete_if` makes the check and the
    delete one atomic claim on local filesystems, so a non-matching
    lease is never deleted. Object stores have no atomic rename through
    pyarrow, so there this stays read-check-delete — the lease is
    belt-and-suspenders on top of the marker discipline, not a lock
    service (see :func:`acquire_index_lease`)."""
    import json

    def holds(raw: bytes) -> bool:
        try:
            return json.loads(raw).get("token") == expect_token
        except ValueError:
            return False

    return _fs.delete_if(uri, holds)


def acquire_index_lease(path: str, op: str, ttl_sec: int = 3600) -> str:
    """Take the index's single-writer lease, or refuse loudly.

    Every mutating index operation (append, rebuild, compaction, split)
    acquires this before touching the meta row — turning the old
    docstring convention "concurrent writers are not supported" into a
    CHECKED contract: two concurrent appenders would interleave
    ``__appending__``/``committed`` meta overwrites and corrupt the
    exactly-once invariants, so the second writer now fails with a
    named, aged lease instead. A lease older than its ``ttl_sec`` is
    STALE (the writer died without releasing — the crash-recovery
    story already handles its half-written data) and is taken over.
    Long-running jobs should pass a ttl comfortably above their
    expected runtime.

    Local filesystems get a race-free ``O_CREAT|O_EXCL`` create; object
    stores have no atomic create-if-absent through pyarrow, so there
    the check-then-write leaves a small race window — the lease is
    belt-and-suspenders on top of the marker discipline, not a
    distributed lock service. Returns the lease token for
    :func:`release_index_lease`."""
    import json
    import time
    import uuid

    uri = _lease_uri(path)
    token = uuid.uuid4().hex
    payload = json.dumps(
        {"token": token, "op": op, "ts": time.time(), "ttl_sec": ttl_sec}
    )
    for _ in range(3):  # initial try + up to 2 stale takeovers/races
        if _fs.create_exclusive(uri, payload.encode("utf-8")):
            return token
        cur = _read_lease(uri)
        if cur is None:
            continue  # holder released between our create and read
        age = time.time() - cur.get("ts", 0)
        if age > cur.get("ttl_sec", ttl_sec):
            # stale: the writer died — take over. Compare-and-delete
            # the EXACT lease we aged: two racing takeovers would
            # otherwise both observe the stale lease and the slower
            # delete could remove the faster one's FRESH lease
            _compare_and_delete_lease(uri, cur.get("token"))
            continue
        raise ValueError(
            f"index at {path!r} has a live writer lease "
            f"(op={cur.get('op')!r}, age={age:.0f}s of "
            f"{cur.get('ttl_sec')}s) — one writer at a time; wait for "
            "it to finish or, if it is known dead, delete "
            f"{_lease_uri(path)!r}"
        )
    raise ValueError(
        f"could not acquire the writer lease at {path!r} after retries"
    )


def release_index_lease(path: str, token: str) -> bool:
    """Release the lease IF we still hold it. Returns False (without
    touching the file) when another writer took over a stale lease —
    removing theirs would let a third writer in. The delete is a
    COMPARE-and-delete (:func:`_compare_and_delete_lease`): even a
    holder that overstayed its own TTL and releases in the same
    instant a takeover lands cannot delete the takeover's lease."""
    return _compare_and_delete_lease(_lease_uri(path), token)


@contextmanager
def index_lease(path: str, op: str):
    """``with index_lease(path, op):`` — the body runs holding the
    index's single-writer lease (:func:`acquire_index_lease`), released
    on exit whether the body returns or raises."""
    token = acquire_index_lease(path, op)
    try:
        yield
    finally:
        release_index_lease(path, token)


def minhash_index_stats(spark, path: str) -> dict:
    """Health report for a persisted MinHash index — the
    "do I need :func:`compact_minhash_index`?" signal. Footer-only
    except one count-vs-distinct job on the shingle store:

    * ``status`` / banding params from the meta row;
    * per-table file counts and footer row totals (appends grow these);
    * ``duplicate_rows``: retry residue the probe absorbs per-probe;
    * ``overlapping_files``: shingle files whose [min,max] id ranges
      overlap another's — 0 right after a build/compaction; growth
      means the candidate pushdown's footer pruning is decaying.
    """
    m = _read_index_meta(spark, path)
    out = dict(m)
    sh_dir = _vdir(path, "shingles", m["versions"].get("shingles", 0))
    bd_dir = _vdir(path, "bands", m["versions"].get("bands", 0))
    sh_files = _fs.parquet_footers(sh_dir)
    bd_files = _fs.parquet_footers(bd_dir)
    ranges = []
    for _, _, md in sh_files:
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(0).statistics
            if st is not None and st.has_min_max:
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        if lo is not None:
            ranges.append((lo, hi))
    ranges.sort()
    overlapping = sum(
        1 for (_, hi), (lo, _) in zip(ranges, ranges[1:]) if hi > lo)
    sh_rows = sum(md.num_rows for _, _, md in sh_files)
    bd_rows = sum(md.num_rows for _, _, md in bd_files)
    n, distinct = row_counts(_fs.read_parquet(spark, sh_dir), ["id"])
    dup = n - distinct
    out.update(
        shingle_files=len(sh_files), shingle_rows=sh_rows,
        band_files=len(bd_files), band_rows=bd_rows,
        distinct_ids=distinct,
        duplicate_rows=dup,
        overlapping_files=overlapping,
        # maintenance advisory (family symmetry with ivf_index_stats):
        # retry residue taxes every probe; overlapping per-file id
        # ranges decay the candidate pushdown's footer pruning —
        # compaction fixes both
        maintenance_hint=("compact" if dup > 0 or overlapping > 0
                          else None),
    )
    return out


def _compact_minhash_index_unlocked(spark, path: str) -> None:
    """Rewrite the index's two tables into fresh range-sorted files —
    the maintenance pass a daily-append index eventually needs: each
    ``mode="append"`` adds its own (small, batch-sorted) files, so after
    months the listing grows, per-file id ranges interleave, and the
    candidate pushdown's footer pruning decays; retried appends may
    also have left duplicate rows (absorbed at probe time, but paid on
    every probe). Compaction reads the STORED tables (no text is ever
    re-hashed), drops duplicates, and rewrites both globally
    range-sorted into the NEXT version dirs (``shingles_v<N+1>`` /
    ``bands_v<N+1>``, :func:`_vdir`); the commit is ONE meta-row
    overwrite flipping the version pointers.

    Crash-safe on ANY store, including object stores without atomic
    rename: there is no remove-then-move window — a crash before the
    pointer flip leaves the old versions fully live (probes keep
    working THROUGHOUT a compaction), a retry simply overwrites the
    half-written next-version dirs, and a crash after the flip leaves
    only dead directories that the commit-side GC (or the next
    compaction) collects. Concurrent writers are refused by the
    single-writer lease (public wrapper). An index left mid-swap by a
    pre-r10 crash (status ``'__compacting__'``) is finished with the
    legacy move-based recovery."""
    m = _read_index_meta(spark, path)
    vers = m["versions"]

    def write(out: dict) -> None:
        _index_hash(m["hash_fn"])  # an older dead REBUILD refuses here

        def table(t: str) -> DataFrame:
            return _fs.read_parquet(spark, _vdir(path, t, vers.get(t, 0)))

        _sorted_parts(table("shingles").dropDuplicates(["id"]), None,
                      ("id",)).write.mode("overwrite") \
            .parquet(out["shingles"])
        _sorted_parts(table("bands").distinct(), None, ("band", "bucket")) \
            .write.mode("overwrite").parquet(out["bands"])

    compact_versions(path, m, ("shingles", "bands"), write,
                     _minhash_meta(spark, path))


def write_minhash_index(
    df: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 1,
    hash_fn: str = "xxhash64",
    mode: str = "overwrite",
    append_token: "str | None" = None,
    _hdocs: "DataFrame | None" = None,
) -> None:
    """Public face of :func:`_write_minhash_index_unlocked` (see its
    docstring for layout + crash discipline), under the index's
    SINGLE-WRITER lease (:func:`acquire_index_lease`): a concurrent
    rebuild/append/compaction is refused loudly instead of interleaving
    meta overwrites; a dead writer's stale lease is taken over after
    its ttl and healed by the normal marker recovery."""
    with index_lease(path, f"minhash-{mode}"):
        _write_minhash_index_unlocked(
            df, path, id_col, text_col, num_hashes, bands, shingle_n,
            seed, hash_fn, mode, append_token, _hdocs=_hdocs,
        )


def compact_minhash_index(spark, path: str) -> None:
    """Public face of :func:`_compact_minhash_index_unlocked`, under
    the single-writer lease (see :func:`write_minhash_index`)."""
    with index_lease(path, "minhash-compact"):
        _compact_minhash_index_unlocked(spark, path)


def _token_registry_sink(index_path: str, append_fn):
    """foreachBatch factory shared by the IVF and IVF-PQ streaming
    ingest sinks (exactly-once appends, no per-batch outputs): skip
    batch ids already in ``{index_path}/batches``; call
    ``append_fn(batch_df, token)`` with ``token=f"batch{batch_id}"``
    (the append function no-ops when its index's meta already carries
    that token — closing the append-committed-but-unrecorded crash
    window); record the batch id LAST as the whole-batch commit
    marker. The dedup sink keeps its own body (it also writes pairs),
    but shares :func:`_read_batch_registry`."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        applied = _read_batch_registry(spark, f"{index_path}/batches")
        if batch_id in applied:
            return
        append_fn(batch_df, f"batch{batch_id}")
        _append_batch_registry(spark, f"{index_path}/batches", batch_id)

    return sink


# ------------------------------------ streaming face of incremental dedup
def _stream_dedup_sink(
    index_path: str,
    pairs_path: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    admit: str = "novel",
):
    """The foreachBatch callable behind :func:`dedup_stream_against_index`,
    factored out so replay idempotence is directly testable (the
    test_stream_avro_ocf_sink_exactly_once pattern).

    Per micro-batch, in crash-safe order:

    1. already-recorded batch id → return (exactly-once across restarts);
    2. probe the batch against the index (:func:`dedup_against_index`)
       and overwrite this batch's own ``{pairs_path}/batch=<id>/``
       directory — a replayed batch REPLACES its pairs, never doubles;
    3. append the admitted docs (``admit="novel"``: only docs with no
       pair at/above threshold; ``"all"``: everything) to the index with
       ``mode="append"`` and ``append_token=f"batch{batch_id}"``;
    4. record the batch id under ``{index_path}/batches`` LAST — the
       whole-batch commit marker.

    A crash between 3 and 4 leaves the index meta ``'__appending__'``;
    the replay detects that, REUSES the already-committed pairs (the
    append only starts after the pairs write succeeded, and batches run
    sequentially, so the in-flight append can only be this batch's —
    checked against the marker's ``pending_token``, not assumed) and
    re-runs the same append, whose duplicate rows the probe absorbs.
    A crash WITHIN step 4 — the append committed but the batch id was
    never recorded — is the window the token closes: the replay sees
    its own token in the meta row, reuses the committed pairs instead
    of re-probing an index that already contains the batch's own docs
    (which would pair every doc with its own index copy at jaccard 1.0
    and, under ``admit="novel"``, reject the whole batch), and the
    re-append no-ops inside :func:`write_minhash_index`.
    WITHIN-batch duplicates are not collapsed here — pre-dedup the batch
    with :func:`minhash_lsh_pairs` if the source can repeat itself."""
    if admit not in ("novel", "all"):
        raise ValueError(f"bad admit: {admit}")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # missing/never-committed registry = nothing applied; corrupt
        # registry fails the query loudly (see _read_batch_registry —
        # the probe absorbs replayed pairs, but the index would
        # re-append without the token check)
        applied = _read_batch_registry(spark, f"{index_path}/batches")
        if batch_id in applied:
            return
        m = _read_index_meta(spark, index_path)
        token = f"batch{batch_id}"
        pairs_dir = f"{pairs_path}/batch={batch_id}"
        # refuse another batch's dead append BEFORE probing; this
        # batch's own committed or in-flight append is handled below
        admit_append(m, index_path, token, "write_minhash_index")
        # hash the batch text ONCE per micro-batch: the probe and the
        # append both need the hashed shingle sets, and each would
        # otherwise re-shingle and re-hash the whole batch (at scale
        # that second pass over the text doubles the sink's dominant
        # per-batch cost)
        hdocs = _hashed_docs(
            batch_df, id_col, text_col, m["shingle_n"],
            _index_hash(m["hash_fn"]),
        ).persist()
        try:
            if batch_probed(m, token):
                # this batch's previous attempt died mid-append, or its
                # append COMMITTED but the batch id was never recorded —
                # either way its pairs are already committed (step 2
                # precedes step 3) and re-probing now would score the
                # batch against its own half-or-fully appended docs
                pairs = spark.read.parquet(pairs_dir)
            else:
                dedup_against_index(
                    spark, batch_df, index_path, id_col, text_col,
                    threshold=threshold, _hdocs=hdocs,
                ).write.mode("overwrite").parquet(pairs_dir)
                pairs = spark.read.parquet(pairs_dir)
            if admit == "novel":
                # native-typed ids on both sides (pairs carry the
                # batch's own id type) — a long cast here would null
                # string/UUID ids and silently admit every duplicate
                dup_ids = pairs.select(
                    F.col("new_id").alias("_dup_id")).distinct()
                admitted = batch_df.join(
                    dup_ids,
                    batch_df[id_col] == F.col("_dup_id"),
                    "left_anti",
                )
                hd_adm = hdocs.join(
                    dup_ids, hdocs["_id"] == F.col("_dup_id"),
                    "left_anti",
                )
            else:
                admitted = batch_df
                hd_adm = hdocs
            write_minhash_index(
                admitted, index_path, id_col, text_col,
                num_hashes=m["num_hashes"], bands=m["bands"],
                shingle_n=m["shingle_n"], seed=m["seed"],
                hash_fn=m["hash_fn"], mode="append", append_token=token,
                _hdocs=hd_adm,
            )
        finally:
            hdocs.unpersist()
        _append_batch_registry(spark, f"{index_path}/batches", batch_id)

    return sink


def dedup_stream_against_index(
    df: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint_dir: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    admit: str = "novel",
    trigger_available_now: bool = False,
    query_name: "Optional[str]" = None,
):
    """STREAMING incremental dedup — the production shape the persisted
    index exists for: each micro-batch of documents probes the corpus
    index (never re-signaturing the corpus), reports its near-dup pairs
    under ``{pairs_path}/batch=<id>/`` (a Hive-partitioned layout batch
    consumers read as one table), and grows the index with the admitted
    docs. Exactly-once end to end: replayed batches replace their own
    pairs and never double-append (see :func:`_stream_dedup_sink`).
    The index must exist (:func:`write_minhash_index` over the seed
    corpus). One streaming query per index (appends are sequential by
    design). Returns the started ``StreamingQuery``."""
    sink = _stream_dedup_sink(
        index_path, pairs_path, id_col, text_col, threshold, admit)
    from ..streaming.pipeline import start_foreach_batch

    return start_foreach_batch(df, sink, checkpoint_dir, query_name,
                               trigger_available_now)


# ------------------------------------------------------------------- SimHash
def simhash64(text: Column) -> Column:
    """64-bit SimHash over whitespace tokens (xxhash64 token hashes).

    bit_i(sig) = 1 iff sum over tokens of (±1 by token-hash bit i) > 0.
    Computed as 64 JVM-side aggregates over the token array — heavy-ish
    per row but narrow, codegen'd, and shuffle-free.
    """
    th = F.transform(ws_tokens(F.lower(text)), lambda t: F.xxhash64(t))
    def _vote_merge(i: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    sig = F.lit(0).cast("long")
    for i in range(64):
        vote = F.aggregate(th, F.lit(0).cast("long"), _vote_merge(i))
        bit_val = (1 << i) if i < 63 else -(1 << 63)  # bit 63 = long sign bit
        sig = sig + F.when(vote > 0, F.lit(bit_val).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, hash_fn=F.xxhash64, num_bits: int = 64
) -> DataFrame:
    """(_id, _sig) SimHash table via explode + ``num_bits`` sum-aggregates.

    The column-expression :func:`simhash64` duplicates the token-hash array
    per bit (64× plan blowup); here each token hashes once and the per-bit
    votes are plain SUMs — map-side combined, num_bits longs per doc on the
    wire. Empty docs (no tokens) get the all-zero signature, matching
    ``simhash64`` (every vote 0, no bit set). ``hash_fn``/``num_bits``
    default to the xxhash64/64-bit scale path; pass
    (:func:`portable_hash60`, 60) for SQL-oracle parity.
    """
    ids = df.select(_native_id(id_col).alias("_id"))
    toks = df.select(
        _native_id(id_col).alias("_id"),
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("_t"),
    ).select("_id", hash_fn(F.col("_t")).alias("_h"))
    # Per-bit vote aggregates and the signature assembly are SQL strings —
    # the Column-API form costs ~6 py4j round trips per bit (~1 s of
    # driver time per plan build at 64 bits).
    votes = toks.groupBy("_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(_h, {i}) & 1) = 1"
                f" THEN 1 ELSE -1 END) AS v{i}"
            )
            for i in range(num_bits)
        ]
    )
    def _bit_term(i: int) -> str:
        if i < 63:
            return f"(CASE WHEN v{i} > 0 THEN {1 << i}L ELSE 0L END)"
        # bit 63 is the long sign bit; the literal -(1<<63) has no direct
        # SQL spelling (9223372036854775808 overflows before negation)
        return f"(CASE WHEN v{i} > 0 THEN -9223372036854775807L - 1L ELSE 0L END)"

    # partial sums of bits 0..62 peak at 2^63-1, then the sign-bit term
    # lands back in range — no transient ANSI overflow in this order
    sig_sql = " + ".join(_bit_term(i) for i in range(num_bits))
    with_sig = votes.select("_id", F.expr(f"({sig_sql}) AS _sig"))
    # re-attach empty docs (dropped by explode) with signature 0
    return ids.join(with_sig, "_id", "left").select(
        "_id", F.coalesce("_sig", F.lit(0).cast("long")).alias("_sig")
    )


def dedup_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
    out_col: str = "cluster_id",
) -> DataFrame:
    """Connected components over near-dup pairs: (id, cluster_id) with
    cluster_id = min id reachable through the pair graph. Singletons (ids
    with no pair) cluster as themselves — so downstream "keep one per
    cluster" is a plain ``groupBy(cluster_id).min(id)``.

    Algorithm: iterative min-label propagation (the standard distributed
    connected components on shuffle engines). Each round is one join +
    one min-aggregate, both on the id key; rounds needed = graph diameter
    (near-dup clusters are shallow — a handful). Ids keep their NATIVE
    type end-to-end (string/UUID ids order lexicographically; casting to
    long would null them and silently merge everything). Convergence:
    each round's aggregate also carries the node's previous label, so
    "did any label change" is one filtered probe over the checkpointed
    frame — exact for any orderable id type, no extra join, and no
    overflow-prone Σ over 63-bit ids.
    ``localCheckpoint`` truncates the lineage so the plan stays O(1) per
    round instead of growing exponentially — without it Catalyst
    re-analyzes an ever-deepening tree and a 20-round run stops scaling
    long before the data does.
    """
    nodes = ids.select(F.col(id_col).alias("id")).distinct()
    edges = (
        pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("d"))
        .union(pairs.select(F.col(id_b).alias("s"), F.col(id_a).alias("d")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if edges.isEmpty():
        # no near-dup pairs at all — every node is its own cluster
        return nodes.select(
            F.col("id").alias(id_col), F.col("id").alias(out_col)
        )
    # first propagation fused into label init (min over self + neighbors)
    # — one aggregation instead of an identity-labels checkpoint plus a
    # separate first round
    labels = (
        edges.select(F.col("d").alias("id"), F.col("s").alias("lbl"))
        .union(nodes.select("id", F.col("id").alias("lbl")))
        .groupBy("id")
        .agg(F.min("lbl").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    converged = False
    _lbl_t = labels.schema["lbl"].dataType
    for _ in range(max_iters):
        # every id has exactly one row in `labels`, so min() over the
        # null-padded union recovers its previous label exactly
        prop = (
            edges.join(labels, edges.s == labels.id)
            .select(F.col("d").alias("id"), "lbl", F.lit(None).cast(_lbl_t).alias("prev"))
            .union(labels.select("id", "lbl", F.col("lbl").alias("prev")))
            .groupBy("id")
            .agg(F.min("lbl").alias("lbl"), F.min("prev").alias("prev"))
            .localCheckpoint(eager=True)
        )
        # null-safe: a row with prev NULL (an id that somehow lacked a
        # labels row — cannot happen while init covers every symmetrized
        # edge endpoint, but a silent miss here would converge EARLY
        # with wrong clusters) must count as changed
        changed = not prop.where(
            F.col("prev").isNull() | (F.col("lbl") != F.col("prev"))
        ).isEmpty()
        labels = prop.select("id", "lbl")
        if not changed:
            converged = True
            break
    if not converged:
        # silently returning partial labels would under-deduplicate
        # (one component reporting several cluster ids) — long chains
        # (diameter > max_iters) must surface, not corrupt
        raise RuntimeError(
            f"dedup_clusters: not converged after {max_iters} rounds — "
            "the pair graph has a component with larger diameter; raise "
            "max_iters"
        )
    return labels.select(F.col("id").alias(id_col), F.col("lbl").alias(out_col))


def near_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 1,
    hash_fn=F.xxhash64,
) -> DataFrame:
    """End-to-end near-dup removal: MinHash-LSH pairs → connected
    components → keep the min-id representative of every cluster. The
    full production pipeline in one call."""
    pairs = minhash_lsh_pairs(
        df, id_col, text_col,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        threshold=threshold, seed=seed, hash_fn=hash_fn,
    )
    clusters = dedup_clusters(
        df.select(F.col(id_col).alias("_id")), pairs, "_id"
    )
    # the cluster label IS the min member id (dedup_clusters contract),
    # so the keepers are simply the rows whose id equals their label — a
    # narrow filter, not another full shuffle
    keepers = clusters.where(F.col("_id") == F.col("cluster_id")).select(
        F.col("_id").alias(id_col)
    )
    return df.join(keepers, on=id_col, how="left_semi")


def signature_pairs(
    sigs: DataFrame,
    max_hamming: int = 3,
    num_bits: int = 64,
    id_col: str = "_id",
    sig_col: str = "_sig",
) -> DataFrame:
    """Id pairs with Hamming distance ≤ ``max_hamming`` over ANY integer
    signature column (SimHash, perceptual image hash, audio fingerprint).

    Pigeonhole-complete: the signature splits into ``max_hamming + 1``
    disjoint chunks, so two signatures within the distance budget must
    agree on at least one chunk — the candidate join keys on
    (chunk_no, chunk_value), never all-pairs. Chunk widths may be uneven
    when the bit count doesn't divide evenly; completeness only needs
    disjoint coverage."""
    n_chunks = max_hamming + 1
    if n_chunks > num_bits:
        raise ValueError("max_hamming + 1 chunks need at least that many bits")
    base = num_bits // n_chunks
    widths = [base + (1 if i < num_bits % n_chunks else 0) for i in range(n_chunks)]
    offs, off = [], 0
    for w_ in widths:
        offs.append(off)
        off += w_
    docs = sigs.select(
        F.col(id_col).alias("_id"), F.col(sig_col).alias("_sig")
    )
    def _chunk_val(i: int) -> Column:
        v = F.shiftright(F.col("_sig"), offs[i])
        if widths[i] < 64:  # a 64-bit mask literal overflows long; the
            v = v.bitwiseAND(F.lit((1 << widths[i]) - 1))  # full chunk needs none
        return v

    chunks = docs.select(
        "_id",
        "_sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        _chunk_val(i).alias("val"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select("_id", "_sig", "c.chunk", "c.val")
    cand = (
        chunks.alias("l")
        .join(chunks.alias("r"), on=["chunk", "val"])
        .where(F.col("l._id") < F.col("r._id"))
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            hamming64(F.col("l._sig"), F.col("r._sig")).alias("hamming"),
        )
        .distinct()
    )
    return cand.where(F.col("hamming") <= max_hamming)


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    hash_fn=F.xxhash64,
    num_bits: int = 64,
) -> DataFrame:
    """Id pairs with SimHash Hamming distance ≤ max_hamming (pigeonhole-
    complete via :func:`signature_pairs`; shuffle keys are
    (chunk_no, chunk_value), never all-pairs)."""
    docs = simhash_signatures(df, id_col, text_col, hash_fn, num_bits)
    return signature_pairs(docs, max_hamming=max_hamming, num_bits=num_bits)


# ----------------------------------------------------------- decontamination
def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    eval_text_col: str | None = None,
    n: int = 13,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Train/eval contamination report: one row ``(train_id, n_shared)`` per
    training document sharing at least one word ``n``-gram with ANY eval
    document (the standard benchmark-decontamination check; n=13 is the
    common published window). Filter the train set with a left-anti join on
    the result to decontaminate.

    Physical plan for 100 TB: the eval side collapses to its DISTINCT
    n-gram hash set — benchmarks are MBs, so with ``broadcast_eval`` the
    probe is a broadcast hash join and the ONLY shuffle is the final
    map-side-combined count by train_id. The train side is a narrow
    explode of per-document distinct shingles (8-byte xxhash64 keys); no
    all-pairs work anywhere. Set ``broadcast_eval=False`` for an
    eval set too big to broadcast (falls back to a sort-merge join on the
    gram hash).
    """
    t = (
        train.select(
            _native_id(id_col).alias("train_id"),
            F.explode(shingles(F.col(text_col), n)).alias("_g"),
        )
        # shingles() is per-document distinct, so the count below is the
        # number of DISTINCT shared n-grams per training doc
        .select("train_id", F.xxhash64("_g").alias("_g"))
    )
    e = (
        eval_df.select(
            F.explode(shingles(F.col(eval_text_col or text_col), n)).alias("_g")
        )
        .select(F.xxhash64("_g").alias("_g"))
        .distinct()
    )
    if broadcast_eval:
        e = F.broadcast(e)
    return (
        t.join(e, on="_g")
        .groupBy("train_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


# ---------------------------------------------------------------------------
# Global exact-line dedup (C4 / RefinedWeb style)


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 10,
    hash_fn=None,
) -> DataFrame:
    """Remove every repeated occurrence of an exact line across the WHOLE
    corpus, keeping only its first appearance (lowest ``(id, line_no)``) —
    the C4 pipeline's cross-document line dedup (Raffel et al. 2020;
    RefinedWeb keeps the same rule). Returns one row per input document:
    ``(id, text, n_removed)`` with the surviving lines rejoined in order.

    Lines with fewer than ``min_chars`` non-blank characters are exempt
    (blank separators and short list items are formatting, not
    boilerplate) — the same knob the substring pass calls minimum match
    length.

    Scale shape: ONE pass over the corpus (a single posexplode feeds the
    election window and the rebuild), two shuffles. The election window
    is keyed by (hash, line): the hash buckets cheaply, and the line
    itself rides in the key so a 64-bit collision can never delete a
    distinct innocent line — the row already carries the line text for
    the rebuild, so the wire volume is unchanged. Rebuild state per group
    is bounded by document length, never corpus size. ``hash_fn``
    defaults to ``xxhash64`` (production); pass md5-style portable hashes
    for oracle-exact verification.
    """
    if hash_fn is None:
        hash_fn = F.xxhash64
    # coalesce NULL text to '': split(NULL) is NULL and posexplode would
    # drop the whole row, silently losing the document from the output
    # ("one row per input document" is the contract); a NULL-text doc
    # comes back as text='' with n_removed=0, same as an empty doc
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("_pos", "_line"),
    )
    eligible = F.length(F.trim(F.col("_line"))) >= min_chars
    marked = lines.select(
        id_col, "_pos", "_line",
        eligible.alias("_elig"),
        F.when(eligible, hash_fn(F.col("_line"))).alias("_k"),
    )
    w = Window.partitionBy("_elig", "_k", "_line").orderBy(
        F.col(id_col), F.col("_pos")
    )
    kept = marked.withColumn(
        "_keep", ~F.col("_elig") | (F.row_number().over(w) == 1)
    )
    return kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(  # collect_list drops the null (removed) slots
                        F.when(F.col("_keep"), F.struct("_pos", "_line"))
                    )
                ),
                lambda s: s["_line"],
            ),
        ).alias(text_col),
        (F.count(F.lit(1)) - F.sum(F.col("_keep").cast("long")))
        .cast("int")
        .alias("n_removed"),
    ).select(id_col, text_col, "n_removed")

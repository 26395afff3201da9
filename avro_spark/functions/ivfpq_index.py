"""Persisted IVF-PQ index — the 100 TB repeated-query ANN shape.

:func:`avro_spark.functions.similarity.write_ivf_index` stores raw
d-float vectors, so the index is corpus-sized and every scanned row in
a probed partition carries d·8 bytes. This module stores the same
inverted-file layout with PRODUCT-QUANTIZED rows instead — ``m`` small
codes per vector (Jégou, Douze, Schmid 2011, "Product Quantization for
Nearest Neighbor Search") — plus a raw-vector SIDECAR read only for the
exact rerank of each query's shortlist:

* ``{path}/meta`` — ONE row pinning the centroid matrix AND the PQ
  codebooks the data was encoded with (the checked-contract machinery
  of the r8 IVF index: drifted caller-supplied parameters are refused
  loudly), a status marker, the committed row count, and the last/
  pending append tokens (exactly-once appends).
* ``{path}/codes`` — (id, codes array<smallint>) partitioned by
  ``centroid_id``: what probes SCAN. ~m bytes of payload per row vs
  d·4 — a 16-32× reduction in probe IO at the same nprobe/k pruning.
* ``{path}/raw`` — (id, vector, norm) partitioned by ``centroid_id``
  and range-sorted by id within partitions: what the exact rerank
  reads, pruned by BOTH the probed partitions and an ``id IN (...)``
  shortlist pushdown (the same footer-level data skipping the MinHash
  index probe uses).

Probe = partition-pruned code scan → asymmetric scoring (exact query ×
PQ reconstruction, identical math to :func:`similarity.knn_ivfpq`) →
per-query top-``rerank`` shortlist → exact cosine from the sidecar →
top-k. With ``rerank`` ≥ the probed candidate count the result equals
:func:`similarity.knn_ivf_indexed` exactly; smaller ``rerank`` trades
recall for reading ~|shortlist| sidecar rows instead of ~nprobe/k of
the corpus.

Crash discipline mirrors the MinHash index (two data tables per write):
``'__appending__'`` marker first with a ``pending_token``, commit last
with the batch token; recovery is re-running the SAME append (probes
absorb the retry's duplicate rows via per-id dropDuplicates), a blind
retry of a COMMITTED batch no-ops on the token, a different batch
against a dead append is refused loudly, and appends against a
``'__compacting__'`` index are refused.

No Python UDFs anywhere: encode/reconstruct/score are the codegen'd
higher-order-function expressions from :mod:`similarity`.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._meta_io import (
    LIFECYCLE,
    _versions_json,
    admit_append,
    finish_legacy_swap,
    read_meta,
    write_meta,
)
from .similarity import (
    _argmax_centroid,
    _array_lit,
    _normalize_rows,
    as_double,
    dot,
    dot_fast,
    l2_norm,
    pq_codes,
    pq_reconstruct,
)


def _write_ivfpq_meta(
    spark,
    path: str,
    centroids: Sequence[Sequence[float]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    status: str,
    rows: int,
    token: "Optional[str]" = None,
    pending_token: "Optional[str]" = None,
    split_cid: "Optional[int]" = None,
    versions: "Optional[dict]" = None,
    dir_ids: "Optional[Sequence[int]]" = None,
) -> None:
    """The index's ONE meta row: centroid matrix + PQ codebooks, marker
    discipline as in the IVF/MinHash indexes. ``split_cid`` rides only
    in the legacy ``'__splitting__'`` marker (pre-r10 splits). ``versions`` /
    ``dir_ids`` are the table-version pointers and the matrix-position
    → physical-partition indirection whose single overwrite here IS
    the atomic commit of a compaction/split (see
    :func:`similarity._write_ivf_meta`)."""
    if dir_ids is None:
        dir_ids = list(range(len(centroids)))
    write_meta(spark, path, [
        ("centroids", "array<array<double>>",
         [[float(x) for x in c] for c in centroids]),
        ("codebooks", "array<array<array<double>>>",
         [[[float(x) for x in c] for c in book] for book in codebooks]),
        ("dim", "int", int(len(centroids[0]))),
        ("m", "int", int(len(codebooks))),
        ("ksub", "int", int(len(codebooks[0]))),
        ("norm", "string", "l2-cosine"),
        ("status", "string", status),
        ("rows", "long", int(rows)),
        ("token", "string", token),
        ("pending_token", "string", pending_token),
        ("split_cid", "int",
         int(split_cid) if split_cid is not None else None),
        ("versions", "string", _versions_json(versions)),
        ("dir_ids", "array<int>", [int(d) for d in dir_ids]),
    ])


def _read_ivfpq_meta(spark, path: str) -> dict:
    d = read_meta(spark, path, "IVF-PQ", "write_ivfpq_index")
    cents = [[float(x) for x in c] for c in d["centroids"]]
    dir_ids = d.get("dir_ids")
    return {
        "centroids": cents,
        "codebooks": [
            [[float(x) for x in c] for c in book] for book in d["codebooks"]
        ],
        "dim": d["dim"], "m": d["m"], "ksub": d["ksub"], "norm": d["norm"],
        "rows": d["rows"],
        **{k: d[k] for k in LIFECYCLE},
        "split_cid": d.get("split_cid"),
        # pre-r10 meta rows: position i == centroid_id i
        "dir_ids": ([int(x) for x in dir_ids] if dir_ids is not None
                    else list(range(len(cents)))),
    }


def _pq_dir(path: str, m: dict, table: str) -> str:
    """Current physical dir of ``table`` (``codes``/``raw``) per the
    meta row's version pointers (:func:`dedup._vdir`)."""
    from .dedup import _vdir

    return _vdir(path, table, m["versions"].get(table, 0))


def _write_ivfpq_index_unlocked(
    vectors: DataFrame,
    centroids: Optional[Sequence[Sequence[float]]],
    codebooks: Optional[Sequence[Sequence[Sequence[float]]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
    append_token: "Optional[str]" = None,
) -> None:
    """Materialize the IVF-PQ index (module docstring has the layout).

    ``mode="overwrite"`` requires both a centroid matrix and PQ
    codebooks (train with :func:`similarity.kmeans_centroids` /
    :func:`similarity.pq_codebooks`). ``mode="append"`` grows the index
    with new vectors: ``centroids=None`` / ``codebooks=None`` reuse the
    PINNED parameters from the meta row; supplied values must match
    them exactly (drifted centroids would route new vectors to the
    wrong partitions, drifted codebooks would make their codes decode
    against the wrong entries — both silent-recall-loss bugs, so both
    are refused loudly). ``append_token`` gives exactly-once blind
    retries, as in the MinHash/IVF indexes."""
    spark = vectors.sparkSession
    prev_token = None
    if mode == "append":
        m = _read_ivfpq_meta(spark, path)
        if admit_append(m, path, append_token, "write_ivfpq_index"):
            return  # this batch's append already committed — a retry
        if centroids is None:
            centroids = m["centroids"]
        elif [[float(x) for x in c] for c in centroids] != m["centroids"]:
            raise ValueError(
                "append centroids do not match the index's pinned "
                "centroid matrix — drifted centroids would assign new "
                "vectors to the wrong partitions; pass centroids=None"
            )
        if codebooks is None:
            codebooks = m["codebooks"]
        elif [
            [[float(x) for x in c] for c in b] for b in codebooks
        ] != m["codebooks"]:
            raise ValueError(
                "append codebooks do not match the index's pinned PQ "
                "codebooks — drifted codebooks decode stored codes "
                "against the wrong entries; pass codebooks=None"
            )
        prev_token = m["token"]
        versions, dir_ids = m["versions"], m["dir_ids"]
        codes_dir, raw_dir = _pq_dir(path, m, "codes"), _pq_dir(path, m, "raw")
        # in-flight marker FIRST (carries the PREVIOUS committed token +
        # this attempt's pending_token), commit LAST — a crash between
        # the codes and raw writes fails probes loudly, and recovery is
        # re-running the SAME append (probes absorb duplicate rows)
        _write_ivfpq_meta(spark, path, centroids, codebooks,
                          "__appending__", m["rows"], prev_token,
                          append_token, versions=versions, dir_ids=dir_ids)
    elif mode == "overwrite":
        if centroids is None or codebooks is None:
            raise ValueError(
                "mode='overwrite' requires a centroid matrix and PQ "
                "codebooks"
            )
        versions, dir_ids = {}, list(range(len(centroids)))
        codes_dir, raw_dir = f"{path}/codes", f"{path}/raw"
        _write_ivfpq_meta(spark, path, centroids, codebooks,
                          "__building__", 0)
    else:
        raise ValueError(f"bad mode: {mode}")
    from .similarity import _dir_of_position

    to_dir = _dir_of_position(dir_ids)
    # ONE pass computes assignment + codes + norms (all narrow); persist
    # so the two table writes don't re-encode the corpus from source
    enc = vectors.select(
        F.col(id_col),
        as_double(F.col(vec_col)).alias(vec_col),
        l2_norm(vec_col).alias("_nv"),
        to_dir(_argmax_centroid(F.col(vec_col), centroids))
        .alias("centroid_id"),
        F.transform(
            pq_codes(F.col(vec_col), codebooks),
            lambda c: c.cast("smallint"),
        ).alias("codes"),
    ).persist()
    try:
        # materialize the encode ONCE up front, then run the two
        # independent table writes CONCURRENTLY (guide §2.6) — without
        # the count the parallel writes would race to compute the
        # unmaterialized cache and encode the corpus twice; with it,
        # wall = encode + max(write) and the count doubles as this
        # batch's tally of LIVE rows: a null vector has no centroid, and
        # its row lands in the default partition no probe scans
        n_live = enc.agg(F.count("centroid_id")).head()[0]

        def _write_codes() -> None:
            # codes: the probe's scan side — m smallints/row, partition-
            # pruned by the probed centroid set
            enc.select(id_col, "codes", "centroid_id") \
                .write.mode(mode).partitionBy("centroid_id") \
                .parquet(codes_dir)

        def _write_raw() -> None:
            # raw sidecar: exact-rerank side — sorted by id within each
            # centroid partition so the shortlist's `id IN (...)`
            # pushdown prunes at the parquet footer level. The vector
            # column is stored under the FIXED name "_v" so probes need
            # no vec_col.
            enc.select(
                id_col, F.col(vec_col).alias("_v"), "_nv", "centroid_id"
            ).repartition("centroid_id") \
                .sortWithinPartitions("centroid_id", id_col) \
                .write.mode(mode).partitionBy("centroid_id") \
                .parquet(raw_dir)

        from concurrent.futures import ThreadPoolExecutor

        from pyspark.util import inheritable_thread_target

        # the pool threads inherit the caller's job group, description
        # and tags; one wrap per target (each clones the properties)
        with ThreadPoolExecutor(max_workers=2) as ex:
            for f in [ex.submit(inheritable_thread_target(spark)(w))
                      for w in (_write_codes, _write_raw)]:
                f.result()
    finally:
        enc.unpersist()
    if mode == "overwrite":
        # a fresh build wrote exactly the encoded rows — no re-read
        total = n_live
    else:
        # append totals stay authoritative from disk: a RETRIED append
        # re-appends its rows, and the committed count must reflect
        # what probes will actually scan
        total = spark.read.parquet(codes_dir).where(
            F.col("centroid_id").isin(dir_ids)).count()
    _write_ivfpq_meta(spark, path, centroids, codebooks, "committed",
                      total,
                      append_token if mode == "append" else None,
                      versions=versions, dir_ids=dir_ids)
    if mode == "overwrite":
        from .dedup import _gc_table_versions

        for t in ("codes", "raw"):
            _gc_table_versions(path, t, 0)



def write_ivfpq_index(
    vectors: DataFrame,
    centroids: Optional[Sequence[Sequence[float]]],
    codebooks: Optional[Sequence[Sequence[Sequence[float]]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
    append_token: "Optional[str]" = None,
) -> None:
    """Public face of :func:`_write_ivfpq_index_unlocked` (see its
    docstring), under the index's SINGLE-WRITER lease: a concurrent
    rebuild/append/compaction is refused loudly instead of interleaving
    meta overwrites; a dead writer's stale lease is taken over after
    its ttl."""
    from .dedup import index_lease

    with index_lease(path, f"ivfpq-{mode}"):
        _write_ivfpq_index_unlocked(
            vectors, centroids, codebooks, path, id_col, vec_col, mode,
            append_token,
        )


def compact_ivfpq_index(spark, path: str) -> None:
    """Public face of :func:`_compact_ivfpq_index_unlocked`, under the
    single-writer lease (see :func:`write_ivfpq_index`)."""
    from .dedup import index_lease

    with index_lease(path, "ivfpq-compact"):
        _compact_ivfpq_index_unlocked(spark, path)


def knn_ivfpq_indexed(
    spark,
    path: str,
    queries: DataFrame,
    centroids: Optional[Sequence[Sequence[float]]] = None,
    codebooks: Optional[Sequence[Sequence[Sequence[float]]]] = None,
    k: int = 10,
    nprobe: int = 4,
    rerank: int = 50,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "q_embedding",
    exclude_self: bool = True,
    max_pushdown_ids: int = 5_000,
    probe_join: str = "auto",
    prune_min_index_bytes: "Optional[int]" = None,
) -> DataFrame:
    """Probe a :func:`write_ivfpq_index` index: partition-pruned code
    scan → asymmetric PQ scoring → per-query top-``rerank`` shortlist →
    EXACT cosine rerank from the raw sidecar → top-``k``. Returns
    (query_id, rank, vec_id, cosine) with exact cosines (ties →
    vec_id asc). Centroids/codebooks come FROM the meta row; supplied
    values that don't match the pinned ones are refused loudly.

    Scale shape: the code scan reads ~nprobe/k of the corpus at ~m
    bytes/row; the sidecar read is bounded by |queries|·rerank rows —
    pushed into the scan as ``id IN (...)`` against the range-sorted
    layout (falls back to the streaming join past
    ``max_pushdown_ids``, keeping driver state bounded). The rerank
    join is a broadcast of the shortlist; nothing corpus-sized ever
    shuffles. ``probe_join`` picks the candidate-join shape exactly as
    in :func:`similarity.knn_ivf_indexed`: ``"auto"`` switches from
    the nested-loop broadcast to exploding probe sets and hash-joining
    on ``centroid_id`` at fleet size (identical results)."""
    m = _read_ivfpq_meta(spark, path)
    if m["status"] != "committed":
        raise ValueError(
            f"IVF-PQ index at {path!r} has status {m['status']!r} — a "
            "rebuild or append died part-way; re-run it to completion, "
            "then probe"
        )
    if centroids is not None and (
        [[float(x) for x in c] for c in centroids] != m["centroids"]
    ):
        raise ValueError(
            "supplied centroids do not match the matrix this index was "
            "built with — pass centroids=None to use the pinned matrix"
        )
    if codebooks is not None and (
        [[[float(x) for x in c] for c in b] for b in codebooks]
        != m["codebooks"]
    ):
        raise ValueError(
            "supplied codebooks do not match the PQ codebooks this "
            "index was built with — pass codebooks=None to use the "
            "pinned ones"
        )
    centroids, codebooks = m["centroids"], m["codebooks"]
    dim = len(centroids[0])
    cmat = _array_lit(_normalize_rows(centroids))
    nprobe = min(nprobe, len(centroids))
    rerank = max(rerank, k)

    def probes(q):
        # sim desc, ties → LOWEST cid (matches _argmax_centroid)
        scored = F.transform(
            cmat,
            lambda c, i: F.struct(
                dot(q, c).alias("sim"),
                (-i).cast("int").alias("ncid"),
                i.cast("int").alias("cid"),
            ),
        )
        return F.transform(
            F.slice(F.reverse(F.array_sort(scored)), 1, nprobe),
            lambda s: s["cid"],
        )

    from .similarity import (
        _BROADCAST_FLEET_CAP,
        _EQUIJOIN_FLEET,
        _dir_of_position,
    )
    from .text import let as _let

    to_dir = _dir_of_position(m["dir_ids"])
    probe_sets = queries.select(
        F.col(query_id_col),
        as_double(F.col(query_vec_col)).alias("_qv"),
        l2_norm(query_vec_col, dim).alias("_nq"),
        F.transform(
            _let(as_double(F.col(query_vec_col)), probes),
            lambda p: to_dir(p),
        ).alias("_probe_cids"),
        # checkpoint: this small frame feeds the driver-side probe
        # collect, the approx broadcast join, AND the rerank join —
        # without truncation an expensive upstream `queries` plan would
        # execute three times per probe
    ).localCheckpoint(eager=True)
    from .dedup import _PUSHDOWN_MIN_INDEX_BYTES, _dir_bytes_at_least

    if prune_min_index_bytes is None:
        prune_min_index_bytes = _PUSHDOWN_MIN_INDEX_BYTES
    # SCALE-ADAPTIVE (r11): below one scan task's worth of codes+raw the
    # centroid prune and the rerank id-pushdown cannot cut IO, and their
    # probe-set/shortlist collects are extra actions per probe — skip
    # both (identical results; at corpus scale both engage as before)
    small_index = probe_join == "auto" and not (
        _dir_bytes_at_least(_pq_dir(path, m, "codes"),
                            prune_min_index_bytes)
        or _dir_bytes_at_least(_pq_dir(path, m, "raw"),
                               prune_min_index_bytes)
    )
    if small_index:
        probed = None
        probe_rows = []
    else:
        # bounded driver state: |queries| × nprobe ints — the scan filter
        probe_rows = probe_sets.select("_probe_cids").collect()
        probed = sorted({int(c) for r in probe_rows for c in r[0]})
    # dropDuplicates: a retried append re-appends its rows; one code row
    # per id keeps the shortlist window from double-counting
    codes = spark.read.parquet(_pq_dir(path, m, "codes"))
    if probed is not None:
        codes = codes.where(F.col("centroid_id").isin(probed))
    codes = codes.dropDuplicates([id_col])
    recon = pq_reconstruct(F.col("codes"), codebooks)
    big = codes.select(
        F.col(id_col), F.col("centroid_id"), recon.alias("_rv")
    ).select(
        id_col, "centroid_id", "_rv", l2_norm("_rv").alias("_nr")
    )
    if probe_join not in ("auto", "broadcast", "equi"):
        raise ValueError(f"bad probe_join: {probe_join}")
    use_equi = probe_join == "equi" or (
        probe_join == "auto" and not small_index
        and len(probe_rows) >= _EQUIJOIN_FLEET)
    if use_equi:
        exploded = probe_sets.select(
            query_id_col, "_qv", "_nq",
            F.explode("_probe_cids").alias("centroid_id"),
        )
        if len(probe_rows) < _BROADCAST_FLEET_CAP:
            exploded = F.broadcast(exploded)
        cand = big.join(exploded, "centroid_id")
        if exclude_self:
            cand = cand.where(F.col(id_col) != F.col(query_id_col))
    else:
        cond = F.array_contains(F.col("_probe_cids"), F.col("centroid_id"))
        if exclude_self:
            cond = cond & (F.col(id_col) != F.col(query_id_col))
        cand = big.join(F.broadcast(probe_sets), cond)
    denom = F.col("_nr") * F.col("_nq")
    approx = cand.select(
        F.col(query_id_col),
        F.col(id_col),
        F.when(denom > 0, dot_fast("_rv", "_qv") / denom)
        .otherwise(F.lit(0.0))
        .alias("_ac"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("_ac"), F.col(id_col))
    shortlist = (
        approx.withColumn("_arank", F.row_number().over(w))
        .where(F.col("_arank") <= rerank)
        .select(query_id_col, id_col)
        # the shortlist is |queries|·rerank rows — what the rerank
        # exists to score; checkpoint so the code scan never re-runs
        .localCheckpoint(eager=True)
    )
    raw = spark.read.parquet(_pq_dir(path, m, "raw"))
    if probed is not None:
        raw = raw.where(F.col("centroid_id").isin(probed))
        ids = [
            r[0]
            for r in shortlist.select(id_col).distinct()
            .limit(max_pushdown_ids + 1).collect()
        ]
        if len(ids) <= max_pushdown_ids:
            # footer-level pruning against the range-sorted sidecar layout
            raw = raw.where(F.col(id_col).isin(ids))
    raw = raw.select(id_col, "_nv", "_v").dropDuplicates([id_col])
    qn = probe_sets.select(query_id_col, "_qv", "_nq")
    denom2 = F.col("_nv") * F.col("_nq")
    exact = (
        F.broadcast(shortlist)
        .join(raw, id_col)
        .join(F.broadcast(qn), query_id_col)
        .select(
            query_id_col,
            id_col,
            F.when(denom2 > 0, dot_fast("_v", "_qv") / denom2)
            .otherwise(F.lit(0.0))
            .alias("cosine"),
        )
    )
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.col(id_col))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "cosine")
    )


# --------------------------------------- hot-centroid split maintenance
def _finish_pq_split(spark, path: str, m: dict) -> None:
    """LEGACY recovery only (pre-r10 ``'__splitting__'`` indexes) — the
    two-table cousin of :func:`similarity._finish_split`: per table,
    the old split partition's dir is removed only while its replacement
    still waits in the ``*_split`` staging dir, so re-running after a
    crash converges to the same end state. New splits never enter this
    state (fresh-dir-id allocation + one meta flip)."""
    from .dedup import _dir_exists, _list_split_dirs, _mv_dir, _rm_dir

    cid = m["split_cid"]
    for table in ("codes", "raw"):
        data, split = f"{path}/{table}", f"{path}/{table}_split"
        cid_pending = f"{split}/centroid_id={cid}"
        if _dir_exists(cid_pending):
            _rm_dir(f"{data}/centroid_id={cid}")
            _mv_dir(cid_pending, f"{data}/centroid_id={cid}")
        for name in _list_split_dirs(split):
            _rm_dir(f"{data}/{name}")  # a crashed previous move's residue
            _mv_dir(f"{split}/{name}", f"{data}/{name}")
        _rm_dir(split)
    rows = spark.read.parquet(f"{path}/codes").count()
    _write_ivfpq_meta(spark, path, m["centroids"], m["codebooks"],
                      "committed", rows, m["token"])


def _split_ivfpq_centroid_unlocked(
    spark,
    path: str,
    cid: int,
    k_sub: int,
    iters: int = 3,
) -> "list[list[float]]":
    """Split ONE hot IVF-PQ partition into ``k_sub`` sub-centroids —
    the same maintenance as :func:`similarity.split_ivf_centroid`, over
    BOTH tables. The PQ codes themselves never change (the codebooks
    stay pinned — codes decode identically wherever the row lives);
    only the routing does: sub-centroids are Lloyd-trained on the split
    partition's RAW vectors (deterministic), the raw rows re-assign
    among them, and the codes rows relabel by joining the new
    assignment on id. The new matrix keeps every old row id
    (sub-centroid 0 takes the split id, the rest append), so the pin
    stays checked — a caller holding the pre-split matrix is refused.

    Crash discipline (r10, as :func:`similarity.split_ivf_centroid`):
    both tables' sub-partitions are written under FRESH physical
    ``centroid_id`` values no committed meta row names — invisible to
    probes — and the commit is ONE meta overwrite installing the new
    matrix + ``dir_ids`` indirection. No remove-then-move, no
    intermediate status, no atomic-rename assumption; a crash before
    the flip leaves the index bit-for-bit committed and the retry
    overwrites the dead dirs (training is deterministic). A pre-r10
    index left mid-split (``'__splitting__'``) is finished with the
    legacy move-based recovery. Returns the new centroid matrix."""
    m = _read_ivfpq_meta(spark, path)
    if m["status"] == "__splitting__":
        # legacy (pre-r10) mid-split recovery
        if m["split_cid"] != cid:
            raise ValueError(
                f"index at {path!r} is mid-split of centroid "
                f"{m['split_cid']} — re-run split_ivfpq_centroid with "
                f"that cid to finish it (got cid={cid})"
            )
        _finish_pq_split(spark, path, m)
        return m["centroids"]
    if m["status"] != "committed":
        raise ValueError(
            f"index at {path!r} has status {m['status']!r} — finish the "
            "in-flight operation first, then split"
        )
    n = len(m["centroids"])
    if not (0 <= cid < n):
        raise ValueError(f"cid {cid} out of range for {n} centroids")
    if k_sub < 2:
        raise ValueError("k_sub must be at least 2")
    from .similarity import kmeans_centroids

    dir_ids = m["dir_ids"]
    old_dir = dir_ids[cid]
    codes_dir, raw_dir = _pq_dir(path, m, "codes"), _pq_dir(path, m, "raw")
    raw_part = spark.read.parquet(raw_dir).where(
        F.col("centroid_id") == old_dir)
    id_col = [c for c in raw_part.columns
              if c not in ("_v", "_nv", "centroid_id")][0]
    n_part = raw_part.count()
    if n_part < k_sub:
        raise ValueError(
            f"partition {cid} holds {n_part} vectors — cannot split "
            f"into {k_sub} sub-centroids"
        )
    sub = kmeans_centroids(raw_part, k_sub, iters=iters, id_col=id_col,
                           vec_col="_v")
    new_cents = [list(c) for c in m["centroids"]]
    new_cents[cid] = list(sub[0])
    new_cents.extend(list(c) for c in sub[1:])
    # FRESH physical partition ids across BOTH tables (deterministic:
    # max+1..) — invisible until the meta flip names them in dir_ids
    fresh = max(dir_ids) + 1
    new_dirs = list(range(fresh, fresh + k_sub))
    new_dir_ids = list(dir_ids)
    new_dir_ids[cid] = new_dirs[0]
    new_dir_ids.extend(new_dirs[1:])
    local = _argmax_centroid(F.col("_v"), sub)
    gid = F.when(local == 0, F.lit(new_dirs[0]))
    for j in range(1, k_sub):
        gid = gid.when(local == j, F.lit(new_dirs[j]))
    reassigned = raw_part.select(
        F.col(id_col), F.col("_v"), F.col("_nv"),
        gid.cast("int").alias("centroid_id"),
    ).localCheckpoint(eager=True)  # ONE assignment pass routes BOTH tables
    # dynamic partition overwrite: each job replaces exactly the
    # touched (fresh) partition dirs — a crashed attempt's residue
    # included — and never touches a live partition; an empty
    # sub-centroid simply writes no dir (the probe filter finds no
    # rows, the right answer)
    reassigned.repartition("centroid_id") \
        .sortWithinPartitions("centroid_id", id_col) \
        .write.mode("overwrite") \
        .option("partitionOverwriteMode", "dynamic") \
        .partitionBy("centroid_id").parquet(raw_dir)
    # codes rows relabel by id against the new assignment — the m-byte
    # codes themselves are codebook-pinned and never recomputed
    codes_part = spark.read.parquet(codes_dir).where(
        F.col("centroid_id") == old_dir).drop("centroid_id")
    routing = reassigned.select(id_col, "centroid_id")
    codes_part.join(F.broadcast(routing), id_col) \
        .write.mode("overwrite") \
        .option("partitionOverwriteMode", "dynamic") \
        .partitionBy("centroid_id").parquet(codes_dir)
    # THE commit: one meta overwrite installs matrix + indirection
    # (token preserved — a split never consumes or produces a batch)
    _write_ivfpq_meta(spark, path, new_cents, m["codebooks"],
                      "committed", m["rows"], m["token"],
                      versions=m["versions"], dir_ids=new_dir_ids)
    # the old fat partitions are now orphaned — best-effort GC (the
    # next compaction retires them regardless)
    from .dedup import _rm_dir

    for d in (f"{codes_dir}/centroid_id={old_dir}",
              f"{raw_dir}/centroid_id={old_dir}"):
        try:
            _rm_dir(d)
        except Exception:
            pass
    return new_cents


def split_ivfpq_centroid(
    spark,
    path: str,
    cid: int,
    k_sub: int,
    iters: int = 3,
) -> "list[list[float]]":
    """Public face of :func:`_split_ivfpq_centroid_unlocked`, under the
    single-writer lease (see :func:`write_ivfpq_index`)."""
    from .dedup import index_lease

    with index_lease(path, "ivfpq-split"):
        return _split_ivfpq_centroid_unlocked(spark, path, cid, k_sub,
                                              iters)


def _retrain_ivfpq_index_unlocked(
    spark,
    path: str,
    k: "Optional[int]" = None,
    iters: int = 3,
) -> "list[list[float]]":
    """GLOBAL retrain for a drifted IVF-PQ index — the two-table twin
    of :func:`similarity.retrain_ivf_index`. Routing only: new
    centroids are Lloyd-trained over the stored RAW vectors (seeded
    from the current matrix at unchanged ``k``), the raw rows
    re-assign, and the codes rows relabel by id — the m-byte codes are
    CODEBOOK-pinned and decode identically wherever the row lives, so
    they are never recomputed. Both tables rewrite into their NEXT
    version dirs and commit with one meta flip (token preserved;
    probes work throughout; pre-retrain matrices refused by the pin).
    Returns the new matrix."""
    m = _read_ivfpq_meta(spark, path)
    if m["status"] != "committed":
        raise ValueError(
            f"index at {path!r} has status {m['status']!r} — finish the "
            "in-flight operation first, then retrain"
        )
    from .dedup import _gc_table_versions, _vdir
    from .similarity import kmeans_centroids

    raw = spark.read.parquet(_pq_dir(path, m, "raw")).where(
        F.col("centroid_id").isin(m["dir_ids"]))
    id_col = [c for c in raw.columns
              if c not in ("_v", "_nv", "centroid_id")][0]
    k = k if k is not None else len(m["centroids"])
    seed = m["centroids"] if k == len(m["centroids"]) else None
    new_cents = kmeans_centroids(raw, k, iters=iters, id_col=id_col,
                                 vec_col="_v", seed_centroids=seed)
    new_vers = {
        "codes": m["versions"].get("codes", 0) + 1,
        "raw": m["versions"].get("raw", 0) + 1,
    }
    reassigned = raw.select(
        F.col(id_col), F.col("_v"), F.col("_nv"),
        _argmax_centroid(F.col("_v"), new_cents).alias("centroid_id"),
    )
    reassigned.repartition(len(new_cents), F.col("centroid_id")) \
        .sortWithinPartitions("centroid_id", id_col) \
        .write.mode("overwrite").partitionBy("centroid_id") \
        .parquet(_vdir(path, "raw", new_vers["raw"]))
    routing = spark.read.parquet(_vdir(path, "raw", new_vers["raw"])) \
        .select(id_col, "centroid_id")
    codes = spark.read.parquet(_pq_dir(path, m, "codes")).where(
        F.col("centroid_id").isin(m["dir_ids"])).drop("centroid_id")
    codes.join(routing, id_col) \
        .repartition(len(new_cents), F.col("centroid_id")) \
        .write.mode("overwrite").partitionBy("centroid_id") \
        .parquet(_vdir(path, "codes", new_vers["codes"]))
    rows = spark.read.parquet(
        _vdir(path, "codes", new_vers["codes"])).count()
    _write_ivfpq_meta(spark, path, new_cents, m["codebooks"],
                      "committed", rows, m["token"],
                      versions={**m["versions"], **new_vers},
                      dir_ids=list(range(len(new_cents))))
    for t in ("codes", "raw"):
        _gc_table_versions(path, t, new_vers[t])
    return new_cents


def retrain_ivfpq_index(
    spark,
    path: str,
    k: "Optional[int]" = None,
    iters: int = 3,
) -> "list[list[float]]":
    """Public face of :func:`_retrain_ivfpq_index_unlocked`, under the
    single-writer lease (see :func:`write_ivfpq_index`)."""
    from .dedup import index_lease

    with index_lease(path, "ivfpq-retrain"):
        return _retrain_ivfpq_index_unlocked(spark, path, k, iters)


# ------------------------------------- streaming face of the PQ index
def _stream_ivfpq_sink(index_path: str, id_col: str = "vec_id",
                       vec_col: str = "embedding"):
    """The foreachBatch callable behind :func:`index_vectors_stream`,
    factored out so replay idempotence is directly testable — same
    shape as the plain-IVF sink
    (:func:`avro_spark.functions.similarity._stream_ivf_sink`): skip
    recorded batch ids; append with ``append_token=f"batch{batch_id}"``
    (a re-run of a committed batch no-ops inside
    :func:`write_ivfpq_index`, and a crash between the two table writes
    heals on the same-token retry with probe-side duplicate
    absorption); record the batch id LAST."""

    from .dedup import _token_registry_sink

    return _token_registry_sink(
        index_path,
        lambda batch_df, token: write_ivfpq_index(
            batch_df, None, None, index_path, id_col, vec_col,
            mode="append", append_token=token,
        ),
    )


def index_vectors_stream(
    df: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trigger_available_now: bool = False,
    query_name: "Optional[str]" = None,
):
    """STREAMING ingest for the IVF-PQ index: each embedding
    micro-batch is assigned to the PINNED centroids, PQ-encoded against
    the PINNED codebooks (both read from the meta row — drift
    impossible by construction), and appended exactly-once. The index
    must exist (:func:`write_ivfpq_index` over the seed corpus —
    centroid/codebook training is a batch concern); run
    :func:`compact_ivfpq_index` periodically to collapse per-batch
    files. One streaming query per index (appends are sequential by
    design, enforced by the writer lease). Returns the started
    ``StreamingQuery``."""
    sink = _stream_ivfpq_sink(index_path, id_col, vec_col)
    from ..streaming.pipeline import start_foreach_batch

    return start_foreach_batch(df, sink, checkpoint_dir, query_name,
                               trigger_available_now)


def ivfpq_index_stats(spark, path: str) -> dict:
    """Health report (footer-only except one count-vs-distinct job):
    meta status/dims, per-table file counts + footer rows, duplicate
    rows (retry residue), and the measured codes:raw size ratio — the
    compression claim as a number."""
    import os

    import pyarrow.parquet as pq

    from .dedup import _list_parquet_files, _open_listed

    m = _read_ivfpq_meta(spark, path)
    out = {
        "status": m["status"], "dim": m["dim"], "m": m["m"],
        "ksub": m["ksub"], "rows": m["rows"],
        "n_centroids": len(m["centroids"]),
    }
    import collections

    live = {f"centroid_id={d}" for d in m["dir_ids"]}
    orphan_dirs = set()
    for table in ("codes", "raw"):
        rows = 0
        size = 0
        n_files = 0
        part_rows: collections.Counter = collections.Counter()
        files = _list_parquet_files(_pq_dir(path, m, table),
                                    recursive=True)
        for fs_, fp in files:
            d = os.path.dirname(fp)
            part = d.rstrip("/").rsplit("/", 1)[-1]
            if part not in live:
                # residue of a crashed (never-committed) split —
                # invisible to probes, collected by the next compact
                orphan_dirs.add(f"{table}:{part}")
                continue
            n_files += 1
            with _open_listed(fs_, fp) as fh:
                md = pq.ParquetFile(fh).metadata
                nr = md.num_rows
            rows += nr
            part_rows[d] += nr
            size += (os.path.getsize(fp) if fs_ is None
                     else fs_.get_file_info(fp).size)
        out[f"{table}_files"] = n_files
        out[f"{table}_rows"] = rows
        out[f"{table}_bytes"] = size
        if table == "codes":
            # the split_ivfpq_centroid trigger, footer-only as always
            max_pr = max(part_rows.values()) if part_rows else 0
            mean_pr = (rows / len(part_rows)) if part_rows else 0.0
            out["max_rows_per_partition"] = int(max_pr)
            out["partition_row_skew"] = (
                round(max_pr / mean_pr, 2) if mean_pr else 0.0)
            # maintenance advisory, as ivf_index_stats: many fat
            # partitions → retrain; one → split that matrix position;
            # many small files → compact
            hot = [d for d, r in part_rows.items()
                   if mean_pr and r > 2 * mean_pr]
            out["hot_partitions"] = len(hot)
            n_parts = len(part_rows)
            if len(hot) > max(1, n_parts // 4):
                out["maintenance_hint"] = "retrain"
            elif len(hot) == 1:
                phys = int(hot[0].rsplit("=", 1)[-1])
                out["maintenance_hint"] = (
                    f"split:{m['dir_ids'].index(phys)}")
            elif part_rows and n_files > 8 * n_parts:
                out["maintenance_hint"] = "compact"
            else:
                out["maintenance_hint"] = None
    out["codes_to_raw_ratio"] = (
        round(out["raw_bytes"] / out["codes_bytes"], 2)
        if out["codes_bytes"] else None
    )
    out["orphan_partitions"] = len(orphan_dirs)
    df = spark.read.parquet(_pq_dir(path, m, "codes")).where(
        F.col("centroid_id").isin(m["dir_ids"]))
    dup = df.count() - df.dropDuplicates([df.columns[0]]).count()
    out["duplicate_rows"] = int(dup)
    return out


def _compact_ivfpq_index_unlocked(spark, path: str) -> None:
    """Collapse append-accumulated small files and retry duplicates.
    Both compacted tables are written to their NEXT version dirs
    (``codes_v<N+1>`` / ``raw_v<N+1>``, :func:`dedup._vdir`) — reading
    LIVE partitions only, so a crashed split's orphans are never
    resurrected — and the commit is ONE meta-row overwrite flipping
    the pointers. No remove-then-move window: crash-safe on stores
    without atomic rename, probes keep working THROUGHOUT, the append
    token is preserved, and the flip retires any orphan partitions
    (garbage-collected with the old version dirs). A pre-r10 index
    left mid-swap (``'__compacting__'``) is finished with the legacy
    move-based recovery."""
    from .dedup import _gc_table_versions

    m = _read_ivfpq_meta(spark, path)

    if m["status"] == "__compacting__":
        finish_legacy_swap(path, ("codes", "raw"))
        rows = spark.read.parquet(f"{path}/codes").count()
        _write_ivfpq_meta(spark, path, m["centroids"], m["codebooks"],
                          "committed", rows, m["token"])
        return
    if m["status"] != "committed":
        raise ValueError(
            f"index at {path!r} has status {m['status']!r} — finish the "
            "in-flight append first (re-run the same append), then "
            "compact"
        )
    from .dedup import _vdir

    n_cents = len(m["centroids"])
    new_vers = {
        "codes": m["versions"].get("codes", 0) + 1,
        "raw": m["versions"].get("raw", 0) + 1,
    }
    codes = spark.read.parquet(_pq_dir(path, m, "codes")).where(
        F.col("centroid_id").isin(m["dir_ids"]))
    id_col = codes.columns[0]
    codes.dropDuplicates([id_col]) \
        .repartition(n_cents, F.col("centroid_id")) \
        .write.mode("overwrite").partitionBy("centroid_id") \
        .parquet(_vdir(path, "codes", new_vers["codes"]))
    spark.read.parquet(_pq_dir(path, m, "raw")).where(
        F.col("centroid_id").isin(m["dir_ids"])) \
        .dropDuplicates([id_col]) \
        .repartition(n_cents, F.col("centroid_id")) \
        .sortWithinPartitions("centroid_id", id_col) \
        .write.mode("overwrite").partitionBy("centroid_id") \
        .parquet(_vdir(path, "raw", new_vers["raw"]))
    rows = spark.read.parquet(
        _vdir(path, "codes", new_vers["codes"])).count()
    # THE commit: one meta overwrite flips both pointers
    _write_ivfpq_meta(spark, path, m["centroids"], m["codebooks"],
                      "committed", rows, m["token"],
                      versions={**m["versions"], **new_vers},
                      dir_ids=m["dir_ids"])
    for t in ("codes", "raw"):
        _gc_table_versions(path, t, new_vers[t])

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

Encode/reconstruct/score are :mod:`similarity`'s vector scorers —
compiled JVM UDFs when the codec jar is available, float-identical
higher-order-function expressions otherwise; no Python worker runs.
The inverted-file machinery itself — probe ranking, candidate join,
split, retrain, compaction and footer stats — is :mod:`similarity`'s
IVF kernel over the table tuple ``("codes", "raw")``; this module adds
the PQ payload, the shortlist rerank and its own meta row.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._meta_io import (
    begin_write,
    commit_write,
    read_meta,
    require_committed,
    row_counts,
    write_meta,
)
from .similarity import (
    _argmax_centroid,
    _compact_tables,
    _dir_of_position,
    _isin_lit,
    _ivf_candidates,
    _ivf_meta,
    _ivf_meta_fields,
    _live,
    _partition_footers,
    _partition_health,
    _probe_dirs,
    _require_pinned,
    _retrain_tables,
    _scan_parts,
    _split_tables,
    _stored_id_col,
    _table_dir,
    _topk,
    as_double,
    dot_fast,
    l2_norm,
    pq_codes,
    pq_reconstruct,
)

#: the index's tables — the vectors live in the LAST one (the kernel's
#: convention); the codes relabel through an id join
_TABLES = ("codes", "raw")


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
    fields = _ivf_meta_fields(centroids, status, rows, token,
                              pending_token, split_cid, versions, dir_ids)
    # column order: centroids, codebooks, dim, m, ksub, norm, ...
    fields[1:2] = [
        ("codebooks", "array<array<array<double>>>",
         [[[float(x) for x in c] for c in book] for book in codebooks]),
        fields[1],
        ("m", "int", int(len(codebooks))),
        ("ksub", "int", int(len(codebooks[0]))),
    ]
    write_meta(spark, path, fields)


def _read_ivfpq_meta(spark, path: str) -> dict:
    d = read_meta(spark, path, "IVF-PQ", "write_ivfpq_index")
    return {
        **_ivf_meta(d),
        "codebooks": [
            [[float(x) for x in c] for c in book] for book in d["codebooks"]
        ],
        "m": d["m"], "ksub": d["ksub"],
    }


def _pq_meta_writer(spark, path: str):
    """The lifecycle's meta writer (:mod:`._meta_io`): row ``m``, in
    :func:`_read_ivfpq_meta`'s shape, written through this module's
    ``_write_ivfpq_meta`` as looked up at call time."""
    return lambda m: _write_ivfpq_meta(
        spark, path, m["centroids"], m["codebooks"], m["status"], m["rows"],
        m["token"], m["pending_token"], versions=m["versions"],
        dir_ids=m["dir_ids"])


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
    if mode == "overwrite" and (centroids is None or codebooks is None):
        raise ValueError(
            "mode='overwrite' requires a centroid matrix and PQ "
            "codebooks"
        )

    def pinned(m: dict) -> dict:
        _require_pinned("append centroids", centroids, m["centroids"])
        _require_pinned("append codebooks", codebooks, m["codebooks"])
        return m

    # marker FIRST (carries the PREVIOUS committed token + this
    # attempt's pending_token), commit LAST — a crash between the codes
    # and raw writes fails probes loudly, and recovery is re-running
    # the SAME append (probes absorb duplicate rows)
    meta = _pq_meta_writer(spark, path)
    m = begin_write(path, mode, append_token, "write_ivfpq_index",
                    lambda: _read_ivfpq_meta(spark, path),
                    {"centroids": centroids, "codebooks": codebooks,
                     "rows": 0, "dir_ids": list(range(len(centroids or ())))},
                    meta, pinned)
    if m is None:
        return  # this batch's append already committed — a retry
    centroids, codebooks, dir_ids = (
        m["centroids"], m["codebooks"], m["dir_ids"])
    codes_dir, raw_dir = (_table_dir(path, m, t) for t in _TABLES)
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
    commit_write(path, mode, append_token, meta, m, _TABLES, rows=total)


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
    require_committed(m, path, "probe")
    dim = len(_require_pinned("supplied centroids", centroids,
                              m["centroids"])[0])
    codebooks = _require_pinned("supplied codebooks", codebooks,
                                m["codebooks"])
    rerank = max(rerank, k)
    probe_sets = queries.select(
        F.col(query_id_col),
        as_double(F.col(query_vec_col)).alias("_qv"),
        l2_norm(query_vec_col, dim).alias("_nq"),
        _probe_dirs(query_vec_col, m, nprobe).alias("_probe_cids"),
        # checkpoint: this small frame feeds the driver-side probe
        # collect, the approx broadcast join, AND the rerank join —
        # without truncation an expensive upstream `queries` plan would
        # execute three times per probe
    ).localCheckpoint(eager=True)
    codes_dir, raw_dir = (_table_dir(path, m, t) for t in _TABLES)

    def scan(probed):
        # dropDuplicates: a retried append re-appends its rows; one code
        # row per id keeps the shortlist window from double-counting
        codes = _scan_parts(spark, codes_dir, probed) \
            .dropDuplicates([id_col])
        recon = pq_reconstruct(F.col("codes"), codebooks)
        return codes.select(
            F.col(id_col), F.col("centroid_id"), recon.alias("_rv")
        ).select(id_col, "centroid_id", "_rv", l2_norm("_rv").alias("_nr"))

    # the prune (and the rerank's id pushdown below) engage once either
    # table outgrows one scan task's worth of bytes
    cand, probed = _ivf_candidates(
        probe_sets, scan, (codes_dir, raw_dir), probe_join,
        prune_min_index_bytes, exclude_self, id_col, query_id_col,
        (query_id_col, "_qv", "_nq"), "_probe_cids")
    denom = F.col("_nr") * F.col("_nq")
    approx = cand.select(
        F.col(query_id_col),
        F.col(id_col),
        F.when(denom > 0, dot_fast("_rv", "_qv") / denom)
        .otherwise(F.lit(0.0))
        .alias("_ac"),
    )
    # the shortlist is |queries|·rerank rows — what the rerank exists
    # to score; checkpoint so the code scan never re-runs
    shortlist = _topk(approx, rerank, query_id_col, id_col, "_ac") \
        .select(query_id_col, id_col).localCheckpoint(eager=True)
    raw = _scan_parts(spark, raw_dir, probed)
    if probed is not None:
        ids = [
            r[0]
            for r in shortlist.select(id_col).distinct()
            .limit(max_pushdown_ids + 1).collect()
        ]
        if len(ids) <= max_pushdown_ids:
            # footer-level pruning against the range-sorted sidecar layout
            raw = raw.where(_isin_lit(
                id_col, ids, raw.schema[id_col].dataType))
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
    return _topk(exact, k, query_id_col, id_col, "cosine")


# --------------------------------------- hot-centroid split maintenance
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
    return _split_tables(spark, path, m, cid, k_sub, iters, _TABLES,
                         _pq_meta_writer(spark, path), "_v")


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
    return _retrain_tables(spark, path, m, k, iters, _TABLES,
                           _pq_meta_writer(spark, path), "_v")


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
    meta status/dims, per-table file counts, footer rows and bytes,
    duplicate ids (retry residue), the measured codes:raw size ratio —
    the compression claim as a number — and the codes table's
    partition skew and ``maintenance_hint``, by the IVF index's rules
    (:func:`similarity._partition_health`)."""
    m = _read_ivfpq_meta(spark, path)
    out = {
        "status": m["status"], "dim": m["dim"], "m": m["m"],
        "ksub": m["ksub"], "rows": m["rows"],
        "n_centroids": len(m["centroids"]),
        "orphan_partitions": 0,
    }
    for table in _TABLES:
        parts, orphans = _partition_footers(_table_dir(path, m, table),
                                            m["dir_ids"])
        out["orphan_partitions"] += len(orphans)
        for i, what in enumerate(("files", "rows", "bytes")):
            out[f"{table}_{what}"] = sum(s[i] for s in parts.values())
        if table == "codes":
            out.update(_partition_health(parts, m["dir_ids"]))
    out["codes_to_raw_ratio"] = (
        round(out["raw_bytes"] / out["codes_bytes"], 2)
        if out["codes_bytes"] else None
    )
    df = _live(spark, path, m, "codes")
    n, distinct = row_counts(df, [_stored_id_col(df)])
    out["duplicate_rows"] = n - distinct
    return out


def _compact_ivfpq_index_unlocked(spark, path: str) -> None:
    """Collapse append-accumulated small files and retry duplicates.
    Both compacted tables are written to their NEXT version dirs
    (``codes_v<N+1>`` / ``raw_v<N+1>``, :func:`._meta_io._vdir`) — reading
    LIVE partitions only, so a crashed split's orphans are never
    resurrected — and the commit is ONE meta-row overwrite flipping
    the pointers. No remove-then-move window: crash-safe on stores
    without atomic rename, probes keep working THROUGHOUT, the append
    token is preserved, and the flip retires any orphan partitions
    (garbage-collected with the old version dirs). A pre-r10 index
    left mid-swap (``'__compacting__'``) is finished with the legacy
    move-based recovery."""
    m = _read_ivfpq_meta(spark, path)
    _compact_tables(spark, path, m, _TABLES, _pq_meta_writer(spark, path))

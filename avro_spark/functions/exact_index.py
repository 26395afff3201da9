"""Persisted exact-dedup (content-fingerprint) index — the FIRST stage
of an incremental dedup pipeline.

Real training-data pipelines dedup in stages: exact content hash
first (cheap, catches byte-identical and whitespace/case-variant
copies), MinHash-LSH second (near-dups). The MinHash stage has had a
persisted incremental index since r7 (:mod:`dedup`,
``write_minhash_index``); this module gives the exact stage the same
shape, so a daily batch never re-hashes the corpus:

* ``{path}/meta`` — ONE row: layout pins (``n_buckets``, the id column
  name), corpus count, status marker, last/pending append tokens, the
  fps version pointer and the fps ``layout``.
* ``{path}/fps`` — ONE flat parquet table of (fingerprint, <id>),
  range-partitioned on fingerprint and sorted by (fingerprint, id):
  the MinHash ``shingles/`` store's layout. A build or compaction
  writes ``n_buckets`` range files with disjoint fingerprint ranges;
  an append adds its batch as its own range-sorted file(s) — AQE
  coalesces a daily batch into ONE file. The fingerprint is
  :func:`dedup.content_fingerprint` — md5 of whitespace/case-normalized
  text — so decisions agree row-for-row with :func:`dedup.exact_dedup`
  and a plain SQL oracle.

Probe (:func:`dedup_exact_against_index`) = batch fingerprints →
``fingerprint IN (...)`` footer pushdown against the sorted files →
min index id per fingerprint → one broadcast join back to the batch.
Driver state is bounded by the BATCH's distinct fingerprints (a
broadcast left-semi join past ``max_pushdown_fps``).

Indexes written before the flat layout (meta row without ``layout``)
keep fps as Hive ``bucket=<pmod(xxhash64(fp), n_buckets)>`` dirs.
Probes read them exactly (the partition column is ignored); the next
append or compaction rewrites the table flat into ``fps_v<N+1>`` and
the meta-row pointer flip commits the move — the pre-r10 ``versions``
compatibility pattern.

Crash discipline and concurrency are the family's shared contract
(identical to the text/IVF-PQ indexes): ``'__appending__'`` marker
with a ``pending_token`` first, commit last; a committed-token retry
no-ops; a different batch against a dead append is refused; probes
absorb retry-duplicate rows in the ``min(id)`` per fingerprint;
``compact_exact_index`` finish-the-swap; every mutating op under the
single-writer lease. Ids keep their NATIVE type. No Python UDFs.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from .. import _fs
from ..plans.compiled import built_columns
from ._meta_io import (
    LIFECYCLE,
    _append_batch_registry,
    _read_batch_registry,
    _vdir,
    _versions_json,
    batch_probed,
    begin_write,
    commit_write,
    compact_versions,
    read_meta,
    require_committed,
    row_counts,
    write_meta,
)
from .dedup import (
    _PUSHDOWN_MIN_INDEX_BYTES,
    _ROW_BYTES,
    _fits_one_file,
    _native_id,
    _sorted_parts,
    content_fingerprint,
)
from .similarity import _isin_lit

#: meta ``layout`` of the one fps table this module writes; a meta row
#: without the column is a pre-flat index (Hive ``bucket=`` dirs)
_FLAT = "flat"
_BUCKETED = "bucketed"


def _checked_fp(text_col: str) -> "F.Column":
    """:func:`dedup.content_fingerprint` with a row-local NULL guard.

    A null text yields a NULL fingerprint, and NULL never equals NULL
    in SQL — so null-text docs would sail through both the ``IN``
    pushdown and the join probe without ever matching each other,
    SILENTLY diverging from :func:`dedup.exact_dedup` (whose groupBy
    does group null fingerprints). An unkeyable row raises instead."""
    c = F.col(text_col)
    return F.when(
        c.isNull(),
        F.raise_error(F.lit(
            f"exact-dedup text column {text_col!r} contains NULL — a "
            "null fingerprint can never match in a join, so null-text "
            "docs would silently never dedup; coalesce or filter them "
            "first"
        )),
    ).otherwise(content_fingerprint(c))


def _fingerprinted(docs: DataFrame, id_col: str,
                   text_col: str) -> DataFrame:
    """``(fingerprint, <id>)`` of ``docs``, both NULL-guarded; the
    Columns are built once per SparkContext (:func:`built_columns`)."""
    return docs.select(*built_columns(
        ("exact_fingerprinted", id_col, text_col),
        lambda: (_checked_fp(text_col).alias("fingerprint"),
                 _native_id(id_col).alias(id_col)),
    ))


def _write_exact_meta(
    spark, path: str, n_buckets: int, id_col: str, status: str,
    n_docs: int, token: "Optional[str]" = None,
    pending_token: "Optional[str]" = None,
    versions: "Optional[dict]" = None,
    layout: str = _FLAT,
) -> None:
    write_meta(spark, path, [
        ("n_buckets", "int", int(n_buckets)),
        ("id_col", "string", id_col),
        ("status", "string", status),
        ("n_docs", "long", int(n_docs)),
        ("token", "string", token),
        ("pending_token", "string", pending_token),
        ("versions", "string", _versions_json(versions)),
        ("layout", "string", layout),
    ])


def _read_exact_meta(spark, path: str) -> dict:
    d = read_meta(spark, path, "exact-dedup", "write_exact_index")
    return {**{k: d[k] for k in ("n_buckets", "id_col", "n_docs",
                                 *LIFECYCLE)},
            "layout": d.get("layout") or _BUCKETED}


def _exact_meta(spark, path: str):
    """The lifecycle's meta writer (:mod:`._meta_io`): row ``m``, in
    :func:`_read_exact_meta`'s shape, written through this module's
    ``_write_exact_meta`` as looked up at call time."""
    return lambda m: _write_exact_meta(
        spark, path, m["n_buckets"], m["id_col"], m["status"], m["n_docs"],
        m["token"], m["pending_token"], m["versions"], m["layout"])


def _fps_dir(path: str, m: dict) -> str:
    """Current physical dir of the fps table (version pointer in the
    meta row — :func:`._meta_io._vdir`)."""
    return _vdir(path, "fps", m["versions"].get("fps", 0))


def _write_fps(fps: DataFrame, fps_dir: str, id_col: str, mode: str,
               n_files: "Optional[int]") -> None:
    """The ONE fps writer: range-partition on fingerprint, sort by
    (fingerprint, id) within each file (:func:`dedup._sorted_parts`).
    ``n_files`` range partitions for a build or rewrite (disjoint
    fingerprint ranges per file), and 1 for an append that fits one
    file; ``None`` for a bigger append, so AQE coalesces the batch
    instead of writing one tiny file per partition. Partition 0 always
    writes a file, so an EMPTY frame still pins the schema (incl. the
    native id type) and later reads never hit UNABLE_TO_INFER_SCHEMA."""
    _sorted_parts(fps, n_files, ("fingerprint",), (id_col,)) \
        .write.mode(mode).parquet(fps_dir)


def _rewrite_flat(spark, path: str, m: dict, out_dir: str,
                  batch: "Optional[DataFrame]" = None) -> None:
    """Rewrite the whole fps table — plus ``batch`` rows, if given —
    flat into ``out_dir`` (the NEXT version dir, ``fps_v<N+1>``),
    dropping retry-duplicate (fingerprint, id) rows; until the meta-row
    commit flips the pointer, probes keep reading the current version.
    Compaction and the first append to a pre-flat (bucketed) index both
    go through here."""
    id_col = m["id_col"]
    rows = _fs.read_parquet(spark, _fps_dir(path, m)).select(
        "fingerprint", id_col)
    if batch is not None:
        rows = rows.unionByName(batch)
    _write_fps(rows.dropDuplicates(["fingerprint", id_col]), out_dir,
               id_col, "overwrite", m["n_buckets"])


def _write_exact_index_unlocked(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    mode: str = "overwrite",
    append_token: "Optional[str]" = None,
) -> None:
    """Materialize the fingerprint index (module docstring has the
    layout and the append/token contract)."""
    spark = docs.sparkSession
    if mode == "overwrite" and (not n_buckets or n_buckets < 1):
        raise ValueError("n_buckets must be a positive int")

    def pinned(m: dict) -> dict:
        if n_buckets not in (None, m["n_buckets"]):
            raise ValueError(
                f"append n_buckets={n_buckets} does not match the "
                f"index's pinned range-file count {m['n_buckets']} — "
                "pass n_buckets=None"
            )
        if id_col != m["id_col"]:
            raise ValueError(
                f"append id_col={id_col!r} does not match the index's "
                f"pinned id column {m['id_col']!r}"
            )
        return m

    meta = _exact_meta(spark, path)
    m = begin_write(path, mode, append_token, "write_exact_index",
                    lambda: _read_exact_meta(spark, path),
                    {"n_buckets": n_buckets, "id_col": id_col,
                     "n_docs": 0, "layout": _FLAT}, meta, pinned)
    if m is None:
        return  # committed retry: structural no-op
    versions = m["versions"]
    # ONE fingerprint pass feeds both the write and the doc count
    # (persist, as the text index's tokenize pass does — without it the
    # count re-reads the whole source)
    fps = _fingerprinted(docs, id_col, text_col).persist()
    try:
        # count FIRST: it materializes the cache as a PRE-WRITE
        # snapshot. A batch whose plan PROBES this same index (a
        # dedup-then-append pipeline) is otherwise snapshot-fragile:
        # the append's commit refreshes Spark's by-path caches, and a
        # post-write re-execution would see the batch's own rows in
        # the index — here it silently returned n_batch=0 because
        # every admitted doc suddenly "was" a duplicate of itself.
        n_batch = fps.count()
        if m["layout"] != _FLAT:
            # flat files cannot join bucket= dirs in one table: move the
            # whole pre-flat table, this batch included, to fps_v<N+1>
            versions = {**versions, "fps": versions.get("fps", 0) + 1}
            _rewrite_flat(spark, path, m, _vdir(path, "fps", versions["fps"]),
                          fps)
        elif mode == "overwrite":
            _write_fps(fps, _fps_dir(path, m), id_col, mode, n_buckets)
        elif n_batch:
            one = _fits_one_file(spark, n_batch * _ROW_BYTES)
            _write_fps(fps, _fps_dir(path, m), id_col, mode,
                       1 if one else None)
    finally:
        fps.unpersist()
    commit_write(path, mode, append_token, meta, m, ("fps",),
                 n_docs=m["n_docs"] + n_batch, versions=versions,
                 layout=_FLAT)


def write_exact_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    mode: str = "overwrite",
    append_token: "Optional[str]" = None,
) -> None:
    """Public face of :func:`_write_exact_index_unlocked` (see its
    docstring), under the index's single-writer lease. ``n_buckets`` is
    the number of range files a build (and every compaction) writes;
    appends must pass it unchanged or ``None``."""
    from .dedup import index_lease

    with index_lease(path, f"exact-{mode}"):
        _write_exact_index_unlocked(
            docs, path, id_col, text_col, n_buckets, mode, append_token)


def dedup_exact_against_index(
    spark,
    batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_pushdown_fps: int = 256,
    pushdown_min_index_bytes: "Optional[int]" = None,
) -> DataFrame:
    """Annotate each batch row with its exact-dup status against the
    index: (<id>, fingerprint, dup_of, keep) — ``dup_of`` is the LOWEST
    index id sharing the row's content fingerprint (null if none),
    ``keep`` its absence. One decision row per batch row; WITHIN-batch
    duplicates are deliberately not compared here (run
    :func:`dedup.exact_dedup` on the batch first — the streaming sink
    does).

    Scale shape (identical answers on every route): the batch's
    distinct fingerprints are collected to the driver — at most
    ``max_pushdown_fps`` of them, bounded driver state — and pushed as
    ``fingerprint IN (...)`` to the parquet footers of the range-sorted
    fps files, so the scan reads only the row groups whose fingerprint
    range holds a batch fingerprint. The cap is low because a
    thousands-literal string ``IN`` costs Catalyst seconds of
    optimization PER ACTION regardless of data size (measured 3.4-6.3 s
    at ~2.5k md5 literals vs 1.1 s on the join path, r10). Bigger
    batches attach fingerprints with a broadcast hash join instead —
    footer pruning lost, plan cost flat. Raise ``max_pushdown_fps``
    when probing a HUGE index with a mid-sized batch and the footer
    pruning is worth seconds of driver time."""
    m = _read_exact_meta(spark, path)
    require_committed(m, path, "probe")
    if id_col != m["id_col"]:
        raise ValueError(
            f"probe id_col={id_col!r} does not match the index's "
            f"pinned id column {m['id_col']!r}"
        )
    bf = _fingerprinted(batch, id_col, text_col)
    # a pre-flat index carries a 'bucket' partition column: ignored
    idx = _fs.read_parquet(spark, _fps_dir(path, m))
    if pushdown_min_index_bytes is None:
        pushdown_min_index_bytes = _PUSHDOWN_MIN_INDEX_BYTES
    fplist = None
    # SCALE-ADAPTIVE (r11, guide §1.2): below one scan task's worth of
    # fps store footer pruning cannot cut IO, and the fingerprint
    # collect is an extra action per probe — attach the batch
    # fingerprints with the broadcast join and run the whole probe as
    # ONE action. Identical answers (pinned by test_pushdown_and_fallback).
    if _fs.bytes_at_least(_fps_dir(path, m), pushdown_min_index_bytes):
        got = (bf.select("fingerprint").distinct()
               .limit(max_pushdown_fps + 1).collect())
        if len(got) <= max_pushdown_fps:
            fplist = [r["fingerprint"] for r in got]
    if fplist is None:
        idx = idx.join(F.broadcast(bf.select("fingerprint")), "fingerprint",
                       "left_semi")
    else:
        idx = idx.where(_isin_lit("fingerprint", fplist, StringType()))
    # the min absorbs retry residue: a re-appended (fingerprint, id)
    # row changes no minimum
    hits = idx.groupBy("fingerprint").agg(F.min(id_col).alias("dup_of"))
    return (
        bf.join(F.broadcast(hits), "fingerprint", "left")
        .select(
            F.col(id_col), "fingerprint", "dup_of",
            F.col("dup_of").isNull().alias("keep"),
        )
    )


def compact_exact_index(spark, path: str) -> None:
    """Public face of :func:`_compact_exact_index_unlocked`, under the
    single-writer lease."""
    from .dedup import index_lease

    with index_lease(path, "exact-compact"):
        _compact_exact_index_unlocked(spark, path)


def _compact_exact_index_unlocked(spark, path: str) -> None:
    """Collapse append-accumulated small files, drop retry-duplicate
    rows, restore ``n_buckets`` disjoint range files (and move a
    pre-flat index to the flat layout). The compacted table is written
    to the NEXT version dir (``fps_v<N+1>``, :func:`._meta_io._vdir`) and
    the commit is ONE meta-row overwrite flipping the pointer — no
    remove-then-move window, so the swap is crash-safe on stores
    without atomic rename and probes keep working THROUGHOUT (token
    preserved). A pre-r10 index left mid-swap (``'__compacting__'``)
    is finished with the legacy move-based recovery."""
    m = _read_exact_meta(spark, path)

    def write(out: dict) -> dict:
        _rewrite_flat(spark, path, m, out["fps"])
        return {"layout": _FLAT}

    compact_versions(path, m, ("fps",), write, _exact_meta(spark, path))


def exact_index_stats(spark, path: str) -> dict:
    """Health report (footer-only except one count-vs-distinct job):
    meta status/count, fps file count + footer rows + bytes, duplicate
    (fingerprint, id) rows (append-retry residue) and a maintenance
    hint — ``"compact"`` on duplicates or once appends have left more
    than 8 files per range file of a build."""
    m = _read_exact_meta(spark, path)
    fps_dir = _fps_dir(path, m)
    # recursive: a pre-flat index nests its files in bucket= dirs
    files = _fs.parquet_footers(fps_dir, recursive=True)
    rows = sum(md.num_rows for _, _, md in files)
    size = sum(s for _, s, _ in files)
    n, distinct = row_counts(_fs.read_parquet(spark, fps_dir),
                             ["fingerprint", m["id_col"]])
    dup = n - distinct
    return {
        "status": m["status"], "n_buckets": m["n_buckets"],
        "n_docs": m["n_docs"],
        "fps_files": len(files), "fps_rows": rows, "fps_bytes": size,
        "duplicate_rows": int(dup),
        "maintenance_hint": (
            "compact" if dup > 0 or len(files) > 8 * m["n_buckets"]
            else None),
    }


# --------------------------------- streaming face of exact incremental dedup
def _stream_exact_sink(
    index_path: str,
    decisions_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    admit: str = "novel",
):
    """The foreachBatch callable behind :func:`dedup_exact_stream`,
    factored out so replay idempotence is directly testable. Per
    micro-batch, in crash-safe order (the MinHash streaming sink's
    shape):

    1. recorded batch id → return (exactly-once across restarts);
    2. if the index's meta already carries this batch's token —
       committed, or pending on a dead mid-append attempt — the batch
       WAS probed before any of it entered the index, so the replay
       REUSES the committed ``{decisions_path}/batch=<id>/`` instead
       of re-probing an index that now contains the batch's own docs
       (which would mark every admitted doc a duplicate of itself —
       the crash window the MinHash sink closed in r9);
    3. otherwise WITHIN-batch exact dedup first (:func:`dedup.
       exact_dedup` — lowest id per content wins), probe the survivors,
       and OVERWRITE this batch's decisions dir (a replay REPLACES,
       never doubles);
    4. append the admitted docs (``admit="novel"``: only keep=true
       survivors; ``"all"``: every survivor) with
       ``append_token=f"batch{batch_id}"`` — a committed-token retry
       no-ops, a crash mid-append heals on the same-token retry;
    5. record the batch id LAST as the whole-batch commit marker."""
    if admit not in ("novel", "all"):
        raise ValueError(f"bad admit: {admit}")

    from .dedup import exact_dedup

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        applied = _read_batch_registry(spark, f"{index_path}/batches")
        if batch_id in applied:
            return
        token = f"batch{batch_id}"
        m = _read_exact_meta(spark, index_path)
        survivors = exact_dedup(batch_df, id_col, text_col)
        if not batch_probed(m, token):
            decisions = dedup_exact_against_index(
                spark, survivors, index_path, id_col, text_col)
            decisions.write.mode("overwrite").parquet(
                f"{decisions_path}/batch={batch_id}")
        admitted_ids = (
            spark.read.parquet(f"{decisions_path}/batch={batch_id}")
            .where("keep" if admit == "novel" else F.lit(True))
            .select(id_col)
        )
        admitted = survivors.join(F.broadcast(admitted_ids), id_col,
                                  "left_semi")
        write_exact_index(admitted, index_path, id_col, text_col,
                          n_buckets=None, mode="append",
                          append_token=token)
        _append_batch_registry(spark, f"{index_path}/batches", batch_id)

    return sink


def dedup_exact_stream(
    df: DataFrame,
    index_path: str,
    decisions_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    admit: str = "novel",
    trigger_available_now: bool = False,
    query_name: "Optional[str]" = None,
):
    """STREAMING incremental exact dedup: each document micro-batch is
    within-batch deduped, probed against the PERSISTED fingerprint
    index, its decisions written under ``{decisions_path}/batch=<id>``,
    and the admitted docs appended exactly-once. The index must exist
    (:func:`write_exact_index` over the seed corpus — possibly empty).
    One streaming query per index (writer lease). Returns the started
    ``StreamingQuery``."""
    sink = _stream_exact_sink(index_path, decisions_path, id_col,
                              text_col, admit)
    from ..streaming.pipeline import start_foreach_batch

    return start_foreach_batch(df, sink, checkpoint_dir, query_name,
                               trigger_available_now)

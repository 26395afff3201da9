"""Persisted inverted (BM25) text index — the 100 TB repeated-query
lexical-retrieval shape, completing the persisted-index family
(MinHash index = near-dup dedup, IVF / IVF-PQ index = vectors).

:func:`avro_spark.functions.retrieval.bm25_scores` recomputes postings
from the corpus on every call — the right shape for one-off scoring,
the wrong one for a query fleet: at 100 TB every call re-tokenizes and
re-shuffles the full corpus. This module materializes the postings
ONCE and makes each probe's IO proportional to the QUERY TERMS'
postings, not the corpus:

* ``{path}/meta`` — ONE row pinning the layout parameters
  (``n_buckets``, the doc-id column name) and the corpus statistics
  BM25 needs (total docs ``n_docs``, tokenized docs ``n_docs_tok``,
  total token count ``sum_dl`` — so probes get N and avgdl without any
  corpus scan), plus the status marker and last/pending append tokens
  (the exactly-once machinery of the IVF / IVF-PQ / MinHash indexes).
* ``{path}/postings`` — (term, <id>, tf, dl) partitioned by
  ``bucket = pmod(xxhash64(term), n_buckets)`` and range-sorted by
  (term, id) within partitions. ``dl`` (document length) is
  DENORMALIZED into each posting row — one long per posting buys the
  probe its BM25 denominator with NO corpus-sized doc-length join
  (the classic search-engine layout: postings carry their norms).

Probe = query terms → bucket partition pruning + ``term IN (...)``
footer pushdown on the range-sorted layout → per-term df from the
pruned scan itself → Okapi scoring (identical formula to
:func:`retrieval.bm25_scores`, so the same DuckDB oracle verifies
both) → per-query top-k. Nothing corpus-sized ever shuffles; driver
state is bounded by the distinct query-term count.

Tokenization is pinned to the repo convention (lowercase, ``\\s+``
split — :func:`avro_spark.functions.text.ws_tokens`) so oracles can
replicate it verbatim. Doc ids keep their NATIVE type end-to-end
(string/UUID ids work — the r8-verdict id-contract lesson).

Crash discipline mirrors the IVF-PQ index: ``'__appending__'`` marker
first with a ``pending_token``, commit last with the batch token;
recovery is re-running the SAME append (probes absorb the retry's
duplicate rows via (term, id) dropDuplicates and the meta counters are
incremented only once, at commit); a blind retry of a COMMITTED batch
no-ops on the token; a DIFFERENT batch against a dead append is
refused loudly; appends against ``'__compacting__'`` are refused.
All mutating entry points run under the single-writer lease.

The corpus is APPEND-ONLY by doc id: re-appending an id that is
already indexed double-counts it (same contract as the MinHash/IVF
indexes; exactly-once retries of the SAME batch are absorbed, distinct
batches must carry distinct docs). No Python UDFs anywhere.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import _fs
from ._meta_io import (
    LIFECYCLE,
    _vdir,
    _versions_json,
    begin_write,
    commit_write,
    compact_versions,
    read_meta,
    require_committed,
    row_counts,
    write_meta,
)
from .text import ws_tokens


def _bucket_expr(term: "F.Column", n_buckets: int) -> "F.Column":
    """The pinned term→bucket routing: deterministic across sessions
    (xxhash64 is a pure function of the value), computed identically at
    build, append, and probe time."""
    return F.pmod(F.xxhash64(term), F.lit(n_buckets)).cast("int")


def _write_text_meta(
    spark,
    path: str,
    n_buckets: int,
    id_col: str,
    status: str,
    n_docs: int,
    n_docs_tok: int,
    sum_dl: int,
    token: "Optional[str]" = None,
    pending_token: "Optional[str]" = None,
    versions: "Optional[dict]" = None,
) -> None:
    """The index's ONE meta row (layout pins + BM25 corpus statistics +
    marker discipline + the table-version pointers whose overwrite IS a
    compaction's atomic commit). Local paths commit driver-side
    (:mod:`._meta_io`, no Spark job); otherwise pure JVM — no
    Python-worker job."""
    write_meta(spark, path, [
        ("n_buckets", "int", int(n_buckets)),
        ("id_col", "string", id_col),
        ("status", "string", status),
        ("n_docs", "long", int(n_docs)),
        ("n_docs_tok", "long", int(n_docs_tok)),
        ("sum_dl", "long", int(sum_dl)),
        ("token", "string", token),
        ("pending_token", "string", pending_token),
        ("versions", "string", _versions_json(versions)),
    ])


#: the corpus statistics the meta row keeps for the BM25 probe
_COUNTERS = ("n_docs", "n_docs_tok", "sum_dl")


def _read_text_meta(spark, path: str) -> dict:
    d = read_meta(spark, path, "text", "write_text_index")
    return {k: d[k] for k in ("n_buckets", "id_col", *_COUNTERS,
                              *LIFECYCLE)}


def _text_meta(spark, path: str):
    """The lifecycle's meta writer (:mod:`._meta_io`): row ``m``, in
    :func:`_read_text_meta`'s shape, written through this module's
    ``_write_text_meta`` as looked up at call time."""
    return lambda m: _write_text_meta(
        spark, path, m["n_buckets"], m["id_col"], m["status"], m["n_docs"],
        m["n_docs_tok"], m["sum_dl"], m["token"], m["pending_token"],
        m["versions"])


def _tdir(path: str, versions: dict, table: str) -> str:
    """Current physical dir of ``table`` (``postings``/``termstats``)
    per the meta row's version pointers (:func:`._meta_io._vdir`)."""
    return _vdir(path, table, versions.get(table, 0))


def _write_text_index_unlocked(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    mode: str = "overwrite",
    append_token: "Optional[str]" = None,
) -> None:
    """Materialize the inverted index (module docstring has the layout).

    ``mode="append"`` grows the index with NEW documents: the bucket
    count and id column come from the meta row (supplied values that
    don't match the pinned ones are refused loudly — drifted bucketing
    would route a term's new postings to a partition probes never
    scan, a silent-recall-loss bug). ``append_token`` gives
    exactly-once blind retries, as in the sibling indexes."""
    spark = docs.sparkSession
    if mode == "overwrite" and (not n_buckets or n_buckets < 1):
        raise ValueError("n_buckets must be a positive int")

    def pinned(m: dict) -> dict:
        if n_buckets not in (None, m["n_buckets"]):
            raise ValueError(
                f"append n_buckets={n_buckets} does not match the "
                f"index's pinned bucket count {m['n_buckets']} — "
                "drifted bucketing would hide new postings from "
                "probes; pass n_buckets=None"
            )
        if id_col != m["id_col"]:
            raise ValueError(
                f"append id_col={id_col!r} does not match the index's "
                f"pinned id column {m['id_col']!r}"
            )
        return m

    # marker FIRST (previous committed counters + token, plus this
    # attempt's pending_token), commit LAST — a crash mid-append fails
    # probes loudly; recovery is re-running the SAME append (probes
    # absorb duplicate rows, counters land once)
    meta = _text_meta(spark, path)
    m = begin_write(path, mode, append_token, "write_text_index",
                    lambda: _read_text_meta(spark, path),
                    {"n_buckets": n_buckets, "id_col": id_col,
                     **dict.fromkeys(_COUNTERS, 0)}, meta, pinned)
    if m is None:
        return  # this batch's append already committed — a retry
    n_buckets, versions = m["n_buckets"], m["versions"]
    # ONE tokenize pass feeds both the statistics aggregate and the
    # postings write (persist, as the IVF-PQ encoder does)
    from .dedup import _native_id

    # NULL TEXT is fine (tokenizes to the empty array, like blank
    # text); NULL IDS are not — they would merge under dropDuplicates
    # and mislabel results, so they raise row-locally (the family's
    # checked id contract)
    base = docs.select(
        _native_id(id_col).alias(id_col),
        ws_tokens(F.lower(F.col(text_col))).alias("_t"),
    ).persist()
    try:
        st = base.agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.size("_t") > 0, 1).otherwise(0))
            .alias("n_docs_tok"),
            F.coalesce(F.sum(F.size("_t")), F.lit(0)).alias("sum_dl"),
        ).head()
        post = (
            base.select(
                F.col(id_col), F.size("_t").alias("dl"),
                F.explode("_t").alias("term"),
            )
            # dl is functionally dependent on the id — riding it through
            # the groupBy keeps it on every posting row with no join
            .groupBy(id_col, "dl", "term")
            .agg(F.count("*").cast("long").alias("tf"))
            .withColumn("bucket", _bucket_expr(F.col("term"), n_buckets))
        )
        post_dir = _tdir(path, versions, "postings")
        ts_dir = _tdir(path, versions, "termstats")
        rows = post.select("term", id_col, "tf", "dl", "bucket")
        rows.repartition(n_buckets, "bucket") \
            .sortWithinPartitions("bucket", "term", id_col) \
            .write.mode(mode).partitionBy("bucket") \
            .parquet(post_dir)
        # termstats sidecar: per-term document-frequency DELTAS, keyed
        # by this write's token so retry residue deduplicates on
        # (term, token). Probes read it (bucket+term pruned — it is
        # tiny) to SKIP stop-ish terms whose postings are
        # corpus-proportional (bm25_indexed's max_df_ratio) without
        # ever touching those postings.
        stats_token = (append_token if mode == "append" else "__build__")
        if stats_token is None:
            import uuid

            # a token-less append has no exactly-once retry contract
            # anyway; a unique token keeps DISTINCT token-less appends'
            # deltas from merging under the (term, token) dedup
            stats_token = f"untokened-{uuid.uuid4().hex}"
        ts_rows = post.groupBy("term").agg(
            F.count("*").cast("long").alias("df")
        ).select(
            "term", "df", F.lit(stats_token).alias("token"),
            _bucket_expr(F.col("term"), n_buckets).alias("bucket"),
        )
        ts_rows.repartition(n_buckets, "bucket") \
            .sortWithinPartitions("bucket", "term") \
            .write.mode(mode).partitionBy("bucket") \
            .parquet(ts_dir)
        if mode == "overwrite" and st["sum_dl"] == 0:
            # a zero-postings corpus (every doc empty) writes NO part
            # files, and a fileless dir fails every later read with
            # UNABLE_TO_INFER_SCHEMA — materialize one empty file so
            # the schema (incl. the NATIVE id type) is pinned on disk
            rows.drop("bucket").limit(0).coalesce(1) \
                .write.mode("overwrite") \
                .parquet(f"{post_dir}/bucket=0")
            ts_rows.drop("bucket").limit(0).coalesce(1) \
                .write.mode("overwrite") \
                .parquet(f"{ts_dir}/bucket=0")
    finally:
        base.unpersist()
    commit_write(path, mode, append_token, meta, m,
                 ("postings", "termstats"),
                 **{k: m[k] + st[k] for k in _COUNTERS})


def write_text_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    mode: str = "overwrite",
    append_token: "Optional[str]" = None,
) -> None:
    """Public face of :func:`_write_text_index_unlocked` (see its
    docstring), under the index's single-writer lease."""
    from .dedup import index_lease

    with index_lease(path, f"text-{mode}"):
        _write_text_index_unlocked(
            docs, path, id_col, text_col, n_buckets, mode, append_token)


def bm25_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    max_pushdown_terms: int = 5_000,
    tie_decimals: "Optional[int]" = None,
    max_df_ratio: "Optional[float]" = None,
    pushdown_min_index_bytes: "Optional[int]" = None,
) -> DataFrame:
    """Probe a :func:`write_text_index` index: bucket partition pruning
    + ``term IN (...)`` footer pushdown → per-term df from the pruned
    scan → Okapi BM25 (the exact :func:`retrieval.bm25_scores`
    formula: non-negative idf, set-semantics query terms) → per-query
    top-``k``, ties → doc id asc. Returns (query_id, rank, <id>,
    score).

    ``tie_decimals`` ranks on ``round(score, tie_decimals)`` instead of
    the raw double: a BM25 score is a SUM of per-term scores, and fp
    addition is not associative, so two docs with identical term-score
    multisets can land 1 ulp apart depending on aggregation order —
    making their relative rank depend on partitioning instead of on
    the deterministic doc-id tie-break. Rounding collapses that noise
    so rankings are reproducible across sessions and engines (the
    oracle-comparison mode); None ranks on the raw double.

    Scale shape: the scan reads only the query terms' postings
    partitions, with the term list pushed to the parquet footer level
    against the range-sorted layout; df/N/avgdl need NO corpus pass (df
    aggregates the pruned scan, N and avgdl come from the meta row).
    Driver state is the distinct query-term list — past
    ``max_pushdown_terms`` the probe falls back to a broadcast
    term-set join over the full postings scan (same result, bounded
    driver), the more-like-this degenerate case."""
    m = _read_text_meta(spark, path)
    require_committed(m, path, "probe")
    id_col = m["id_col"]
    n = float(m["n_docs"])
    avgdl = (m["sum_dl"] / m["n_docs_tok"]) if m["n_docs_tok"] else 1.0
    qterms = queries.select(
        F.col(query_id_col).alias("_q"),
        F.explode(
            F.array_distinct(ws_tokens(F.lower(F.col(query_text_col))))
        ).alias("term"),
    )
    from .dedup import _PUSHDOWN_MIN_INDEX_BYTES

    if pushdown_min_index_bytes is None:
        pushdown_min_index_bytes = _PUSHDOWN_MIN_INDEX_BYTES
    if not _fs.bytes_at_least(
        _tdir(path, m["versions"], "postings"), pushdown_min_index_bytes
    ):
        # SCALE-ADAPTIVE (r11): below one scan task's worth of postings
        # the bucket/term pushdown cannot cut IO and the query-term
        # collect is an extra action per probe — broadcast-join the
        # query terms instead (the existing fallback path) and run the
        # probe as ONE action; identical answers, and the pushdown
        # engages unchanged at corpus scale
        tb = []
        pushdown = False
    else:
        # bounded driver state: the distinct query vocabulary (with its
        # pinned buckets, computed by the SAME engine expression as the
        # build — never re-derived in Python)
        tb = (
            qterms.select("term").distinct()
            .limit(max_pushdown_terms + 1)
            .select("term", _bucket_expr(F.col("term"), m["n_buckets"])
                    .alias("bucket"))
            .collect()
        )
        pushdown = len(tb) <= max_pushdown_terms
    if max_df_ratio is not None:
        # stop-term skip: a corpus-proportional posting list (a stop
        # word) dominates probe IO; its idf is ~ln(1 + 1/ratio) ≈ 0
        # anyway. The termstats sidecar answers "how big is this
        # term's posting list" WITHOUT reading it: df deltas summed
        # per term, retry residue deduped on (term, token). Dropping a
        # term changes scores (it contributes 0) — an explicit,
        # opt-in recall trade; None stays oracle-exact.
        try:
            tsf = spark.read.parquet(
                _tdir(path, m["versions"], "termstats"))
        except Exception as e:
            raise ValueError(
                f"text index at {path!r} has no termstats sidecar — "
                "it predates max_df_ratio; rebuild or compact it, or "
                "probe with max_df_ratio=None"
            ) from e
        # a pre-sidecar index that has since been APPENDED to has a
        # PARTIAL sidecar (only the appends' deltas): df_est then
        # underestimates, which can only UNDER-skip — more IO, never a
        # wrong extra skip; compact_text_index rebuilds it complete
        if pushdown and tb:
            tsf = tsf.where(
                F.col("bucket").isin(
                    sorted({int(r["bucket"]) for r in tb}))
                & F.col("term").isin([r["term"] for r in tb]))
        else:
            tsf = tsf.join(
                F.broadcast(qterms.select("term").distinct()), "term")
        # hot terms are FEW by definition — bounded driver state
        hot = {
            r["term"]
            for r in tsf.dropDuplicates(["term", "token"])
            .groupBy("term").agg(F.sum("df").alias("df_est"))
            .where(F.col("df_est") > F.lit(float(max_df_ratio) * n))
            .select("term").collect()
        }
        if hot:
            qterms = qterms.where(~F.col("term").isin(list(hot)))
            tb = [r for r in tb if r["term"] not in hot]
    post = spark.read.parquet(_tdir(path, m["versions"], "postings"))
    if pushdown:
        terms = [r["term"] for r in tb]
        buckets = sorted({int(r["bucket"]) for r in tb})
        if not terms:
            post = post.limit(0)
        else:
            post = post.where(
                F.col("bucket").isin(buckets) & F.col("term").isin(terms))
    else:
        post = post.join(
            F.broadcast(qterms.select("term").distinct()), "term")
    # absorb append-retry residue: one posting row per (term, doc)
    scan = post.select("term", id_col, "tf", "dl") \
        .dropDuplicates(["term", id_col])
    # df via a window over the pruned scan — scan rows are distinct
    # (term, doc), so count-per-term IS df; the former groupBy +
    # broadcast join re-executed the postings scan a second time per
    # action (at corpus scale that doubles probe IO)
    cand = scan.withColumn(
        "df", F.count("*").over(Window.partitionBy("term"))
    ).join(F.broadcast(qterms), "term")
    ts = (
        F.log(F.lit(1.0) + (F.lit(n) - F.col("df") + 0.5)
              / (F.col("df") + 0.5))
        * (F.col("tf") * (k1 + 1))
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl)))
    )
    scores = (
        cand.select("_q", F.col(id_col), ts.alias("_ts"))
        .groupBy("_q", id_col)
        .agg(F.sum("_ts").alias("score"))
    )
    rank_score = (F.round("score", tie_decimals)
                  if tie_decimals is not None else F.col("score"))
    w = Window.partitionBy("_q").orderBy(
        rank_score.desc(), F.col(id_col).asc())
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("_q").alias(query_id_col), "rank", id_col, "score")
    )


def compact_text_index(spark, path: str) -> None:
    """Public face of :func:`_compact_text_index_unlocked`, under the
    single-writer lease."""
    from .dedup import index_lease

    with index_lease(path, "text-compact"):
        _compact_text_index_unlocked(spark, path)


def _compact_text_index_unlocked(spark, path: str) -> None:
    """Collapse append-accumulated small files, drop retry-duplicate
    postings, and restore the range-sorted within-partition layout.
    Both compacted tables are written to their NEXT version dirs
    (``postings_v<N+1>`` / ``termstats_v<N+1>``, :func:`._meta_io._vdir`)
    and the commit is ONE meta-row overwrite flipping the pointers —
    no remove-then-move window, crash-safe on stores without atomic
    rename, and probes keep working THROUGHOUT (counters and the
    append token preserved). A pre-r10 index left mid-swap
    (``'__compacting__'``) is finished with the legacy move-based
    recovery."""
    m = _read_text_meta(spark, path)
    id_col, n_buckets = m["id_col"], m["n_buckets"]

    def write(out: dict) -> None:
        post_dir, ts_dir = out["postings"], out["termstats"]
        deduped = spark.read.parquet(
            _tdir(path, m["versions"], "postings")
        ).dropDuplicates(["term", id_col])
        deduped.repartition(n_buckets, F.col("bucket")) \
            .sortWithinPartitions("bucket", "term", id_col) \
            .write.mode("overwrite").partitionBy("bucket") \
            .parquet(post_dir)
        # termstats compacts to ONE exact row per term, recomputed from
        # the deduped postings — self-healing for any delta drift and
        # for indexes that predate the sidecar (compacting adds it)
        deduped.groupBy("term").agg(
            F.count("*").cast("long").alias("df")
        ).select(
            "term", "df", F.lit("__compacted__").alias("token"),
            _bucket_expr(F.col("term"), n_buckets).alias("bucket"),
        ).repartition(n_buckets, F.col("bucket")) \
            .sortWithinPartitions("bucket", "term") \
            .write.mode("overwrite").partitionBy("bucket") \
            .parquet(ts_dir)
        if m["sum_dl"] == 0:
            # zero-postings index: the compacted tables would be
            # fileless — re-pin the schemas (the build-time hazard, at
            # compact time)
            deduped.drop("bucket").limit(0).coalesce(1) \
                .write.mode("overwrite") \
                .parquet(f"{post_dir}/bucket=0")
            spark.createDataFrame(
                [], "term string, df long, token string"
            ).coalesce(1).write.mode("overwrite") \
                .parquet(f"{ts_dir}/bucket=0")

    compact_versions(path, m, ("postings", "termstats"), write,
                     _text_meta(spark, path))


def text_index_stats(spark, path: str) -> dict:
    """Health report (footer-only except one count-vs-distinct job):
    meta status/counters, postings file count + footer rows + bytes,
    bucket row skew (compaction trigger), and duplicate (term, id)
    rows (append-retry residue)."""
    import collections
    import os

    m = _read_text_meta(spark, path)
    out = {
        "status": m["status"], "n_buckets": m["n_buckets"],
        "n_docs": m["n_docs"], "n_docs_tok": m["n_docs_tok"],
        "sum_dl": m["sum_dl"],
    }
    part_rows: collections.Counter = collections.Counter()
    post_dir = _tdir(path, m["versions"], "postings")
    files = _fs.parquet_footers(post_dir, recursive=True)
    for rel, _, md in files:
        part_rows[os.path.dirname(rel)] += md.num_rows
    rows = sum(part_rows.values())
    out["postings_files"] = len(files)
    out["postings_rows"] = rows
    out["postings_bytes"] = sum(s for _, s, _ in files)
    ts_files = _fs.parquet_footers(
        _tdir(path, m["versions"], "termstats"), recursive=True)
    out["termstats_files"] = len(ts_files)
    out["termstats_rows"] = sum(md.num_rows for _, _, md in ts_files)
    max_pr = max(part_rows.values()) if part_rows else 0
    mean_pr = (rows / len(part_rows)) if part_rows else 0.0
    out["max_rows_per_bucket"] = int(max_pr)
    out["bucket_row_skew"] = round(max_pr / mean_pr, 2) if mean_pr else 0.0
    n, distinct = row_counts(spark.read.parquet(post_dir),
                             ["term", m["id_col"]])
    dup = out["duplicate_rows"] = n - distinct
    # maintenance advisory (family symmetry with ivf_index_stats):
    # bucket routing is hash-pinned so the only remedy is compaction —
    # worth it when retry residue taxes every probe or per-batch
    # appends have shattered the buckets into many small files
    n_buckets = max(len(part_rows), 1)
    out["maintenance_hint"] = (
        "compact" if dup > 0 or len(files) > 8 * n_buckets else None
    )
    return out


# ------------------------------------ streaming face of the text index
def _stream_text_sink(index_path: str, id_col: str = "doc_id",
                      text_col: str = "text"):
    """The foreachBatch callable behind :func:`index_documents_stream`,
    factored out so replay idempotence is directly testable — the
    shared :func:`avro_spark.functions.dedup._token_registry_sink`
    shape: skip recorded batch ids; append with
    ``append_token=f"batch{batch_id}"`` (a re-run of a committed batch
    no-ops inside the append, a crash mid-append heals on the
    same-token retry with probe-side duplicate absorption); record the
    batch id LAST."""
    from .dedup import _token_registry_sink

    return _token_registry_sink(
        index_path,
        lambda batch_df, token: write_text_index(
            batch_df, index_path, id_col, text_col, n_buckets=None,
            mode="append", append_token=token,
        ),
    )


def index_documents_stream(
    df: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger_available_now: bool = False,
    query_name: "Optional[str]" = None,
):
    """STREAMING ingest for the text index: each document micro-batch
    is tokenized, bucketed against the PINNED routing (read from the
    meta row — drift impossible by construction), and appended
    exactly-once. The index must exist (:func:`write_text_index` over
    the seed corpus); run :func:`compact_text_index` periodically to
    collapse per-batch files. One streaming query per index (appends
    are sequential by design, enforced by the writer lease). Returns
    the started ``StreamingQuery``."""
    sink = _stream_text_sink(index_path, id_col, text_col)
    from ..streaming.pipeline import start_foreach_batch

    return start_foreach_batch(df, sink, checkpoint_dir, query_name,
                               trigger_available_now)

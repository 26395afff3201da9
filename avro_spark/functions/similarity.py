"""Similarity search over embedding columns (``array<float>``).

Two paths (BASELINE.json north star "similarity search"):

* **brute-force top-k** — the exact baseline: broadcast the (small) query
  set, score every (vector, query) pair with a JVM-side dot product
  (``zip_with`` + ``aggregate``), rank per query. One broadcast join +
  one shuffle for the per-query window; at 100 TB the scan dominates and
  parallelizes perfectly. All arithmetic in double for deterministic,
  oracle-matchable results. Per-side L2 norms are computed *below* the
  join (once per row, not once per pair).
* **IVF (inverted file)** — the scale path: k centroids (sampled
  deterministically or supplied), every vector assigned to its nearest
  centroid once (narrow), queries probe only ``nprobe`` nearest
  centroids — a (query, centroid) broadcast join prunes the scan to
  ~nprobe/k of the data before exact scoring. Recall < 1 by construction;
  verified in tests against brute force.

Random-hyperplane LSH bucketing for cosine near-dup pairs rounds this out.

Plan-size discipline: the centroid/plane matrices enter the plan as ONE
nested-array Literal each (``F.lit([[...], ...]])``), iterated with
indexed ``transform`` lambdas — not as per-plane inline literal arrays,
which blow the expression tree past the codegen method-size limit and
drop the whole projection into interpreted mode. Centroids are
L2-normalized driver-side so nearest-by-cosine is just argmax of a dot
product (row norms are positive constants w.r.t. the argmax).

Execution routes: the vector scorers (dot, centroid argmax, PQ
encode/decode) run as compiled JVM UDFs when the codec jar is
available and fall back to float-identical higher-order-function
expressions otherwise; ``engine="arrow"`` (brute-force kNN,
decontamination) scores Arrow batches with numpy in Python workers
via ``mapInArrow``.

The persisted IVF index below is also the inverted-file kernel of the
IVF-PQ index (:mod:`.ivfpq_index`): both families keep
``centroid_id``-partitioned tables — IVF ``("data",)``, IVF-PQ
``("codes", "raw")`` with the vectors in the LAST table — and share
the probe ranking, the candidate join, the split, retrain and
compaction passes and the footer stats, each committing through its
own meta writer.
"""

from __future__ import annotations

from math import sqrt as _pysqrt
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import _fs
from ._meta_io import (
    LIFECYCLE,
    _vdir,
    _versions_json,
    begin_write,
    commit_meta,
    commit_write,
    compact_versions,
    read_meta,
    require_committed,
    row_counts,
    write_meta,
)


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: "Column | str", b: "Column | str", dim: Optional[int] = None) -> Column:
    """Σ a_i·b_i in double, strict left-to-right accumulation (deterministic,
    reproducible in ANSI SQL — DuckDB's ``list_dot_product`` associates the
    same way, so oracle values are bit-equal).

    The higher-order ``zip_with`` + ``aggregate`` form is the fastest
    evaluation strategy measured on Spark 4.1: an unrolled per-element
    ``element_at`` chain blows past the codegen method-size budget at
    ~64 dims and drops the whole projection into interpreted expression
    eval (measured 5-10× slower on a 466k-pair verify join), while the
    HOF form evaluates in a tight loop over the array data. ``dim`` is
    accepted for API compatibility and not needed for evaluation."""
    del dim
    if isinstance(a, str):
        a = F.col(a)
    if isinstance(b, str):
        b = F.col(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_fast(a: "Column | str", b: "Column | str",
             dim: Optional[int] = None) -> Column:
    """:func:`dot` evaluated by the compiled JVM UDF when the codec jar
    is available — a tight Java loop with the IDENTICAL strict
    left-fold multiply-then-accumulate order (bit-equal results,
    pinned by tests/test_embeddings.py::test_jvm_dot_bit_equals_hof),
    measured ~2× faster on million-pair verify joins because the HOF
    form is CodegenFallback (two interpreted lambda evaluations per
    element per row). Falls back to the HOF form without a JDK.

    TOP-LEVEL columns only: a UDF cannot reference the lambda
    variables of a higher-order function — inside ``transform``/
    ``aggregate`` lambdas keep using :func:`dot`."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        from .. import jvm as J

        try:
            fn = J.dot_jvm(spark)
        except Exception:  # pragma: no cover - defensive (no JVM handle)
            fn = None
        if fn is not None:
            aa = F.col(a) if isinstance(a, str) else a
            bb = F.col(b) if isinstance(b, str) else b
            return F.call_udf(fn, aa, bb)
    return dot(a, b, dim)


def l2_norm(a: "Column | str", dim: Optional[int] = None) -> Column:
    return F.sqrt(dot_fast(a, a, dim))


def cosine(a: Column, b: Column, dim: Optional[int] = None) -> Column:
    """Cosine similarity in double; 0.0 when either vector has zero norm."""
    denom = l2_norm(a, dim) * l2_norm(b, dim)
    return F.when(denom > 0, dot(a, b, dim) / denom).otherwise(F.lit(0.0))


from .text import let as _let  # bind-once helper (ONE definition)


def _array_lit(v, depth: int = 2) -> Column:
    """A ``depth``-deep nested list of floats (2 = a list of vectors,
    3 = PQ codebooks) as ONE plan literal (``array<array<double>>``...).

    Built via a SQL string rather than ``F.lit`` — PySpark's nested-list
    lit makes one py4j round trip per element (~1s of driver time for a
    16×64 matrix), while the parser ingests the same literal in
    milliseconds. ``repr(float)`` round-trips exactly."""

    def sql(x, d: int) -> str:
        if not d:
            return f"{float(x)!r}D"
        return "array(" + ",".join(sql(y, d - 1) for y in x) + ")"

    return F.expr(sql(v, depth))


#: SQL literal suffix of each integral Spark type
_INT_SUFFIX = {"tinyint": "Y", "smallint": "S", "int": "", "bigint": "L"}


def _sql_lit(v, dtype) -> "str | None":
    """``v`` as SQL literal text of Spark type ``dtype`` (integral or
    string); None for a null or any other type. A string holding ``'``,
    ``\\`` or ``$`` is spelled as its UTF-8 bytes (``CAST(X'..' AS
    STRING)``, folded to a literal by the optimizer): hex digits read the
    same under ``spark.sql.parser.escapedStringLiterals`` and give the
    parser's variable substitution (``${env:...}``, ``${spark...}``, on
    by default) nothing to rewrite."""
    if v is None:
        return None
    t = dtype.simpleString()
    if t in _INT_SUFFIX:
        return f"{int(v)}{_INT_SUFFIX[t]}"
    if t != "string":
        return None
    if "'" in v or "\\" in v or "$" in v:
        return f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)"
    return f"'{v}'"


def _isin_lit(col: str, values, dtype) -> Column:
    """``col IN (v, ...)`` for the id lists the index probes push into
    their parquet scans, built by the parser in one py4j call (``isin``
    makes one per value; ``In`` lands in PushedFilters either way).
    Types outside integral and string, and a column name the parser's
    variable substitution could rewrite (one holding ``$``), keep
    ``isin``."""
    vals = [v for v in values if v is not None]
    if not vals:
        return F.lit(False)
    lits = [_sql_lit(v, dtype) for v in vals]
    if lits[0] is None or "$" in col:
        return F.col(col).isin(vals)
    name = col.replace("`", "``")
    return F.expr(f"`{name}` IN ({', '.join(lits)})")


def _normalize_rows(rows: Sequence[Sequence[float]]) -> list[list[float]]:
    out = []
    for r in rows:
        n = _pysqrt(sum(float(x) * float(x) for x in r))
        out.append([float(x) / n for x in r] if n > 0 else [0.0] * len(r))
    return out


def knn_bruteforce(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "q_embedding",
    dim: Optional[int] = None,
    exclude_self: bool = True,
    engine: str = "hof",
) -> DataFrame:
    """Exact top-k cosine neighbors per query: (query_id, rank, vec_id,
    cosine). Ties break on vec_id ascending. Queries are broadcast — the
    big side streams once with no shuffle until the per-query top-k.
    Norms are materialized below the join: O(rows+queries) norm work,
    O(rows×queries) only for the single pairwise dot product.

    ``exclude_self`` (default) drops the vector whose id EQUALS the
    query id — right when queries are drawn from the vector table, wrong
    when query ids are an independent id space: pass False there or a
    legitimate neighbor that happens to share the id number vanishes.

    ``engine="hof"`` (default) scores pairs with the sequential JVM dot
    (bit-reproducible vs sequential SQL oracles — the gate path).
    ``engine="arrow"`` is the throughput path: one numpy matmul per
    Arrow batch of vectors against the query matrix, BATCH-LOCAL top-k
    per query under the identical (cosine desc, id asc) order, then the
    global window over the reduced candidate set — correct because the
    global top-k is a subset of the union of batch-local top-ks.
    Cosines can differ from hof in the last ulp (BLAS pairwise sums)."""
    if engine not in ("hof", "arrow"):
        raise ValueError(f"bad engine: {engine}")
    if engine == "arrow":
        return _knn_bruteforce_arrow(
            vectors, queries, k, id_col, vec_col,
            query_id_col, query_vec_col, exclude_self,
        )
    big = vectors.select(
        F.col(id_col), F.col(vec_col),
        l2_norm(vec_col, dim).alias("_nv"),
    )
    small = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col),
        l2_norm(query_vec_col, dim).alias("_nq"),
    )
    denom = F.col("_nv") * F.col("_nq")
    joined = big.join(F.broadcast(small))
    if exclude_self:
        joined = joined.where(F.col(id_col) != F.col(query_id_col))
    scored = joined.select(
        F.col(query_id_col),
        F.col(id_col),
        F.when(
            denom > 0,
            dot_fast(vec_col, query_vec_col, dim) / denom,
        )
        .otherwise(F.lit(0.0))
        .alias("cosine"),
    )
    return _topk(scored, k, query_id_col, id_col, "cosine")


def _knn_bruteforce_arrow(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    exclude_self: bool,
) -> DataFrame:
    """Vectorized engine for :func:`knn_bruteforce`: the query matrix
    (the SMALL side — same boundedness contract as the broadcast) ships
    in the closure; each Arrow batch scores as ONE matmul and emits only
    its batch-local top-k per query, so the shuffle into the global
    window carries at most k·queries rows per batch instead of
    rows×queries."""
    import numpy as np

    from pyspark.sql import types as T

    qrows = queries.select(query_id_col, query_vec_col).collect()
    spark = vectors.sparkSession
    qid_t = queries.schema[query_id_col].dataType
    vid_t = vectors.schema[id_col].dataType
    out_t = T.StructType([
        T.StructField(query_id_col, qid_t),
        T.StructField(id_col, vid_t),
        T.StructField("cosine", T.DoubleType()),
    ])
    if not qrows:
        scored = spark.createDataFrame([], out_t)
    else:
        q_ids = [r[0] for r in qrows]
        qmat = np.array([[float(x) for x in r[1]] for r in qrows],
                        dtype=np.float64)
        q_norms = np.sqrt((qmat * qmat).sum(axis=1))
        dim = qmat.shape[1]
        src = vectors.select(F.col(id_col), as_double(F.col(vec_col)).alias("_v"))

        def score(batches):
            import pyarrow as pa

            from pyspark.sql.pandas.types import to_arrow_schema

            out_schema = to_arrow_schema(out_t)
            q_ids_arr = np.asarray(q_ids)
            for b in batches:
                n = b.num_rows
                if n == 0:
                    continue
                ids = b.column(0).to_numpy(zero_copy_only=False)
                flat = b.column(1).flatten().to_numpy(zero_copy_only=False)
                if flat.size != n * dim:
                    raise ValueError(
                        "knn_bruteforce(engine='arrow') requires "
                        "fixed-dimension, non-null embeddings"
                    )
                vmat = flat.reshape(n, dim)
                sims = vmat @ qmat.T                      # (n, m)
                nv = np.sqrt((vmat * vmat).sum(axis=1))
                denom = nv[:, None] * q_norms[None, :]
                with np.errstate(invalid="ignore", divide="ignore"):
                    cos = np.where(denom > 0, sims / denom, 0.0)
                out_q, out_v, out_c = [], [], []
                for j, qid in enumerate(q_ids_arr):
                    keep = np.ones(n, dtype=bool)
                    if exclude_self:
                        keep = ids != qid
                    idx = np.nonzero(keep)[0]
                    if idx.size == 0:
                        continue
                    # batch-local top-k under the GLOBAL order
                    # (cosine desc, id asc) — lexsort keys are last-major
                    order = idx[np.lexsort((ids[idx], -cos[idx, j]))][:k]
                    out_q.extend([qid] * len(order))
                    out_v.extend(ids[order].tolist())
                    out_c.extend(cos[order, j].tolist())
                if out_q:
                    # explicit Arrow types: inference from Python lists
                    # gives int64/float64, which would mismatch a
                    # declared int32/string id column
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(out_q, type=out_schema.field(0).type),
                         pa.array(out_v, type=out_schema.field(1).type),
                         pa.array(out_c, type=out_schema.field(2).type)],
                        schema=out_schema,
                    )

        scored = src.mapInArrow(score, schema=out_t)
    return _topk(scored, k, query_id_col, id_col, "cosine")


def _topk(scored: DataFrame, k: int, query_id_col: str, id_col: str,
          score_col: str) -> DataFrame:
    """Per-query top-``k`` of ``scored`` by ``score_col`` desc, ties →
    id asc: (query_id, rank, id, score)."""
    w = Window.partitionBy(query_id_col).orderBy(F.desc(score_col),
                                                 F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, score_col)
    )


def _vec_jvm(name: str, payload_json: str, col: Column) -> "Optional[Column]":
    """Column for one of the compiled vector-scoring Java UDFs
    (jvm.vec_udf), or None when no session/JDK — callers fall back to
    the float-identical HOF form. The matrix/codebook literal travels
    as a JSON string (repr-exact doubles), parsed once per executor."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        return None
    from .. import jvm as J

    try:
        fn = J.vec_udf(spark, name)
    except Exception:  # pragma: no cover - defensive
        return None
    if fn is None:
        return None
    return F.call_udf(fn, F.lit(payload_json), col)


def _argmax_centroid(vec: Column, centroids: Sequence[Sequence[float]]) -> Column:
    """Nearest centroid id by cosine (ties → lowest id), as argmax of
    dot(vec, normalized_centroid): the vector's own norm is a positive
    per-row constant, so it never changes the argmax; zero-norm rows tie
    everywhere and resolve to id 0, matching the cosine()==0.0 contract.
    A null vector has no centroid (null), on both routes."""
    import json as _json

    rows = _normalize_rows(centroids)
    jvm_col = _vec_jvm("avsp_jvm_argmax_centroid", _json.dumps(rows), vec)
    if jvm_col is not None:
        # compiled strict-fold argmax — float-identical to the HOF fold
        # below (same dot order, Double.compare ordering, ties → lowest
        # id; pinned by test_jvm_vector_udfs_match_hof) and free of the
        # per-row interpreted lambda cost AND the per-action Catalyst
        # cost of a centroid-matrix literal tree
        return jvm_col
    cmat = _array_lit(rows)

    def pick(v: Column) -> Column:
        scored = F.transform(
            cmat,
            lambda c, i: F.struct(
                dot(v, c).alias("sim"), (-i).cast("int").alias("negid")
            ),
        )
        return (-F.array_max(scored)["negid"]).cast("int")

    return F.when(vec.isNotNull(), _let(as_double(vec), pick))


def assign_centroids(
    vectors: DataFrame,
    centroids: Sequence[Sequence[float]],
    vec_col: str = "embedding",
    out_col: str = "centroid_id",
) -> DataFrame:
    """Add the nearest-centroid id (by cosine, ties → lowest id) as a narrow
    projection; the centroid matrix rides along as ONE plan literal."""
    return vectors.withColumn(out_col, _argmax_centroid(F.col(vec_col), centroids))


def sample_centroids(
    vectors: DataFrame, n: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[list[float]]:
    """Deterministic centroid seed: the n vectors with the lowest ids.
    (A k-means refinement pass can replace this without changing the API.)"""
    rows = vectors.orderBy(id_col).limit(n).select(vec_col).collect()
    return [[float(x) for x in r[0]] for r in rows]


def kmeans_centroids(
    vectors: DataFrame,
    n: int,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_centroids: Optional[Sequence[Sequence[float]]] = None,
) -> list[list[float]]:
    """Lloyd-refined IVF centroids (the drop-in upgrade over
    :func:`sample_centroids` its docstring promises).

    Each iteration is one distributed pass: assign every vector to its
    nearest centroid (cosine argmax — a narrow projection against the
    centroid plan literal), then recompute each centroid as the
    element-wise mean via ``posexplode`` + groupBy(centroid, position).
    The explode multiplies rows by ``dim``, but map-side partial
    aggregation collapses the shuffle to k×dim cells, and only k×dim
    floats reach the driver per iteration — O(k·dim·iters) driver state,
    never O(data). Empty clusters keep their previous centroid. This is
    an iterative algorithm with a driver loop by design (bounded by
    ``iters``), not a driver-side data loop.

    Means are rounded to 9 decimals per iteration: fp addition is not
    associative, so unrounded partial-aggregation order would make the
    trained centroids (and thus any trained-IVF gate) run-to-run
    unstable at the last ulp.
    """
    cents = (
        [list(map(float, c)) for c in seed_centroids]
        if seed_centroids is not None
        else sample_centroids(vectors, n, id_col, vec_col)
    )
    dim = len(cents[0])
    for _ in range(iters):
        assigned = assign_centroids(vectors, cents, vec_col)
        means = (
            assigned.select(
                "centroid_id", F.posexplode(as_double(F.col(vec_col))).alias("pos", "x")
            )
            .groupBy("centroid_id", "pos")
            .agg(F.round(F.avg("x"), 9).alias("m"))
            .collect()
        )
        new = [list(c) for c in cents]
        touched = {r["centroid_id"] for r in means}
        for cid in touched:
            new[cid] = [0.0] * dim
        for r in means:
            new[r["centroid_id"]][r["pos"]] = float(r["m"])
        cents = new
    return cents


def knn_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: Sequence[Sequence[float]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "q_embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k: probe only the ``nprobe`` centroids nearest each
    query. The (query × centroid) ranking happens on the tiny broadcast
    side; the big scan is filtered by the centroid join before any exact
    scoring. Persist/bucket the assigned ``vectors`` by centroid_id in a
    real deployment so repeated queries skip the assignment pass.
    ``exclude_self`` as in :func:`knn_bruteforce` — pass False when
    query ids are an independent id space."""
    dim = len(centroids[0])
    assigned = vectors.select(
        F.col(id_col),
        F.col(vec_col),
        l2_norm(vec_col, dim).alias("_nv"),
        _argmax_centroid(F.col(vec_col), centroids).alias("centroid_id"),
    )
    probe_sets = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col),
        l2_norm(query_vec_col, dim).alias("_nq"),
        _let(as_double(F.col(query_vec_col)),
             lambda q: _probe_positions(q, centroids, nprobe))
        .alias("probe_cids"),
    )
    cond = F.array_contains(F.col("probe_cids"), F.col("centroid_id"))
    if exclude_self:
        cond = cond & (F.col(id_col) != F.col(query_id_col))
    cand = assigned.join(F.broadcast(probe_sets), cond)
    denom = F.col("_nv") * F.col("_nq")
    scored = cand.select(
        F.col(query_id_col),
        F.col(id_col),
        F.when(
            denom > 0,
            dot_fast(vec_col, query_vec_col, dim) / denom,
        )
        .otherwise(F.lit(0.0))
        .alias("cosine"),
    )
    return _topk(scored, k, query_id_col, id_col, "cosine")


def _probe_positions(vec: Column, centroids: Sequence[Sequence[float]],
                     nprobe: int) -> Column:
    """Top-``nprobe`` centroid positions by cosine for the double array
    ``vec`` — the one IVF probe expression. The middle struct field
    ``-cid`` makes ties (after the reverse: sim desc) prefer the LOWEST
    position, matching :func:`_argmax_centroid`'s assignment
    tie-break, so tied rows are always in some probe's scan set."""
    cmat = _array_lit(_normalize_rows(centroids))
    scored = F.transform(
        cmat,
        lambda c, i: F.struct(
            dot(vec, c).alias("sim"),
            (-i).cast("int").alias("ncid"),
            i.cast("int").alias("cid"),
        ),
    )
    return F.transform(
        F.slice(F.reverse(F.array_sort(scored)), 1, nprobe),
        lambda s: s["cid"],
    )


# ------------------------------------------------ persisted IVF index
#: fleet size at which an indexed ANN probe switches from the
#: nested-loop broadcast join (fine when few queries scan each row) to
#: exploding probe sets and hash-joining on centroid_id; and the size
#: past which the exploded side is no longer broadcast-hinted (AQE
#: sizes the join instead of forcing a huge fleet onto the driver)
_EQUIJOIN_FLEET = 1024
_BROADCAST_FLEET_CAP = 100_000


def _ivf_meta_fields(centroids, status, rows, token, pending_token,
                     split_cid, versions, dir_ids) -> list:
    """The IVF meta row's ``(name, kind, value)`` fields — also the
    IVF-PQ row's, which inserts its codebook fields."""
    if dir_ids is None:
        dir_ids = list(range(len(centroids)))
    return [
        ("centroids", "array<array<double>>",
         [[float(x) for x in c] for c in centroids]),
        ("dim", "int", int(len(centroids[0]))),
        ("norm", "string", "l2-cosine"),
        ("status", "string", status),
        ("rows", "long", int(rows)),
        ("token", "string", token),
        ("pending_token", "string", pending_token),
        ("split_cid", "int",
         int(split_cid) if split_cid is not None else None),
        ("versions", "string", _versions_json(versions)),
        ("dir_ids", "array<int>", [int(d) for d in dir_ids]),
    ]


def _write_ivf_meta(
    spark: "SparkSession",
    path: str,
    centroids: Sequence[Sequence[float]],
    status: str,
    rows: int,
    token: "Optional[str]" = None,
    pending_token: "Optional[str]" = None,
    split_cid: "Optional[int]" = None,
    versions: "Optional[dict]" = None,
    dir_ids: "Optional[Sequence[int]]" = None,
) -> None:
    """One meta row pinning the centroid matrix the data was assigned
    with (plus a status marker, the committed row count, and the LAST
    applied append token — the streaming sink's exactly-once handle).
    ``pending_token`` rides only in the ``'__appending__'`` marker and
    names the IN-FLIGHT append, so crash recovery can verify a retry is
    the same batch instead of silently adopting a different batch's
    data. ``split_cid`` rides only in the legacy ``'__splitting__'``
    marker (pre-r10 splits) and names the partition being split.
    ``versions`` is the data-table version pointer (compaction commits
    by overwriting it); ``dir_ids[i]`` is the PHYSICAL
    ``centroid_id=`` partition holding matrix position ``i``'s rows —
    the indirection that lets a split write its new partitions under
    FRESH ids and commit with this one overwrite (a partition id named
    by no committed meta row is invisible to probes and dead by
    construction). Committed through :func:`._meta_io.write_meta`."""
    write_meta(spark, path, _ivf_meta_fields(
        centroids, status, rows, token, pending_token, split_cid,
        versions, dir_ids))


def _ivf_meta(d: dict) -> dict:
    """Post-process a raw IVF or IVF-PQ meta row (:func:`read_meta`)."""
    cents = [[float(x) for x in c] for c in d["centroids"]]
    dir_ids = d.get("dir_ids")
    return {
        "centroids": cents,
        "dim": d["dim"], "norm": d["norm"], "rows": d["rows"],
        **{k: d[k] for k in LIFECYCLE},
        "split_cid": d.get("split_cid"),
        # pre-r10 meta rows: position i stored under centroid_id=i
        # (the identity mapping)
        "dir_ids": ([int(x) for x in dir_ids] if dir_ids is not None
                    else list(range(len(cents)))),
    }


def _read_ivf_meta(spark: "SparkSession", path: str) -> dict:
    return _ivf_meta(read_meta(spark, path, "IVF", "write_ivf_index"))


def _ivf_meta_writer(spark: "SparkSession", path: str):
    """The lifecycle's meta writer (:mod:`._meta_io`): row ``m``, in
    :func:`_read_ivf_meta`'s shape, written through this module's
    ``_write_ivf_meta`` as looked up at call time."""
    return lambda m: _write_ivf_meta(
        spark, path, m["centroids"], m["status"], m["rows"], m["token"],
        m["pending_token"], versions=m["versions"], dir_ids=m["dir_ids"])


def _recounted(spark: "SparkSession", path: str, tables, meta):
    """``meta`` with ``rows`` recounted from the first table at the
    row's own version: the commit of an IVF-family compaction, retrain
    or legacy recovery, whose rewrite drops retry duplicates."""
    t = tables[0]
    return lambda m: meta({**m, "rows": spark.read.parquet(
        _vdir(path, t, m["versions"].get(t, 0))).count()})


def _same_floats(supplied, stored) -> bool:
    if isinstance(stored, list):
        return len(supplied) == len(stored) and all(
            _same_floats(a, b) for a, b in zip(supplied, stored))
    return float(supplied) == stored


def _require_pinned(what: str, supplied, stored):
    """``stored`` — the meta row's centroid matrix or PQ codebooks —
    refusing a ``supplied`` value that differs from it: drifted
    centroids route vectors to (and prune) the wrong partitions,
    drifted codebooks decode codes against the wrong entries; both
    silently lose recall. ``supplied=None`` takes the stored value."""
    if supplied is not None and not _same_floats(supplied, stored):
        name = what.rsplit(" ", 1)[-1]
        pinned = "matrix" if name == "centroids" else "PQ codebooks"
        raise ValueError(
            f"{what} do not match the {pinned} this index was built "
            f"with — drifted {name} silently return low-recall "
            f"neighbors; pass {name}=None to use the pinned ones"
        )
    return stored


def _table_dir(path: str, m: dict, table: str) -> str:
    """Current physical dir of ``table`` per the meta row's version
    pointer (:func:`._meta_io._vdir`)."""
    return _vdir(path, table, m["versions"].get(table, 0))


def _ivf_data_dir(path: str, m: dict) -> str:
    return _table_dir(path, m, "data")


def _live(spark: "SparkSession", path: str, m: dict,
          table: str) -> DataFrame:
    """``table``'s rows in the partitions the meta row names — a
    crashed split's orphan dirs and the null-vector default partition
    excluded."""
    return spark.read.parquet(_table_dir(path, m, table)).where(
        F.col("centroid_id").isin(m["dir_ids"]))


def _stored_id_col(df: DataFrame) -> str:
    """The id column of a stored IVF or IVF-PQ table: every writer puts
    it first, ahead of the fixed-name payload (``codes``, ``_v``,
    ``_nv``) and the ``centroid_id`` partition column — and of the IVF
    vector column, which comes right after it."""
    return next(c for c in df.columns
                if c not in ("codes", "_v", "_nv", "centroid_id"))


def _dir_of_position(dir_ids: "Sequence[int]"):
    """Column fn: matrix position → physical ``centroid_id`` partition
    value, via the meta row's ``dir_ids`` indirection (an int-array
    literal lookup — codegen'd, no join). A null position (a null
    vector has no centroid) stays null: its row lands in the default
    partition, which no probe scans and no row count includes."""
    arr = F.lit([int(d) for d in dir_ids])

    def to_dir(pos: Column) -> Column:
        # guarded: element_at with a NULL index column returns the
        # array's LAST element here (Spark 4.1), not null
        return F.when(pos.isNotNull(),
                      F.element_at(arr, pos.cast("int") + F.lit(1)))

    return to_dir


def _write_ivf_index_unlocked(
    vectors: DataFrame,
    centroids: Optional[Sequence[Sequence[float]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
    append_token: "Optional[str]" = None,
) -> None:
    """Materialize the IVF index the docstring of :func:`knn_ivf` keeps
    promising: vectors with their nearest-centroid assignment, written
    ``partitionBy(centroid_id)`` under ``{path}/data`` + pre-computed
    norms, and a ``{path}/meta`` row PINNING the centroid matrix the
    assignments were computed with. Probe-time reads then PRUNE AT THE
    FILE LISTING (Hive-style partition directories → ``PartitionFilters``
    in the scan, asserted in tests): a query fleet probing nprobe of k
    centroids lists and reads ~nprobe/k of the index, without a custom
    data source. Assignment itself is the narrow argmax projection —
    one pass over the corpus, no shuffle except the partitioned write's
    file routing.

    The meta row closes the silent-drift hole: probes read the
    centroids FROM the index (a caller-supplied list that doesn't match
    is refused loudly — retrained centroids would prune the WRONG
    partitions and silently return low-recall neighbors). The marker
    discipline mirrors the MinHash index's: overwrite flips status to
    ``'__building__'`` first and commits last; ``mode="append"`` (grow
    the index with new vectors — ``centroids=None`` reuses the stored
    matrix, a supplied list must match it exactly) flips to
    ``'__appending__'`` around the data write and records the committed
    row count, so a retried append after a crash detects whether the
    dead attempt's data landed (parquet-footer count vs meta rows — the
    standard job-commit atomicity assumption) and never double-appends.
    ``append_token`` strengthens that to EXACTLY-ONCE across callers
    that retry whole batches (the streaming sink's shape): the token of
    the last committed append rides in the meta row, and an append
    whose token matches it returns without touching the data — so a
    caller that crashed AFTER the append committed but BEFORE its own
    bookkeeping can blindly re-run. Sequential appends only (the token
    remembers one batch). Concurrent WRITERS are refused by the
    single-writer lease (public wrapper); probing DURING a rebuild
    still reads data mid-replacement."""
    spark = vectors.sparkSession
    if mode == "overwrite" and centroids is None:
        raise ValueError("mode='overwrite' requires a centroid matrix")
    meta = _ivf_meta_writer(spark, path)

    def pinned(m: dict) -> "dict | None":
        _require_pinned("append centroids", centroids, m["centroids"])
        # live rows only: a crashed (never-committed) split may have
        # left orphan centroid_id dirs the meta doesn't reference
        actual = _live(spark, path, m, "data").count()
        if m["status"] != "committed" and actual != m["rows"]:
            # the dead append's data job committed but its meta didn't:
            # the retry (token-verified on admission) must not
            # double-append
            commit_write(path, mode, append_token, meta, m, (), rows=actual)
            return None
        return {**m, "rows": actual}

    m = begin_write(path, mode, append_token, "write_ivf_index",
                    lambda: _read_ivf_meta(spark, path),
                    {"centroids": centroids, "rows": 0,
                     "dir_ids": list(range(len(centroids or ())))},
                    meta, pinned)
    if m is None:
        return  # this batch's append already committed — a retry
    dir_ids, data_dir = m["dir_ids"], _ivf_data_dir(path, m)
    to_dir = _dir_of_position(dir_ids)
    assigned = vectors.select(
        F.col(id_col),
        as_double(F.col(vec_col)).alias(vec_col),
        l2_norm(vec_col).alias("_nv"),
        to_dir(_argmax_centroid(F.col(vec_col), m["centroids"]))
        .alias("centroid_id"),
    )
    assigned.write.mode(mode).partitionBy("centroid_id").parquet(data_dir)
    # committed row count via parquet footers only (metadata-count)
    total = spark.read.parquet(data_dir).where(
        F.col("centroid_id").isin(dir_ids)).count()
    commit_write(path, mode, append_token, meta, m, ("data",), rows=total)


# ------------------------------------- streaming face of the IVF index
def _stream_ivf_sink(index_path: str, id_col: str = "vec_id",
                     vec_col: str = "embedding"):
    """The foreachBatch callable behind :func:`index_vectors_stream`,
    factored out so replay idempotence is directly testable. Per
    micro-batch: skip if the batch id is in ``{index_path}/batches``;
    append with ``append_token=f"batch{batch_id}"`` (exactly-once even
    when the append committed but this sink crashed before recording —
    the token check inside :func:`write_ivf_index` turns the re-append
    into a no-op); record the batch id LAST."""

    from .dedup import _token_registry_sink

    return _token_registry_sink(
        index_path,
        lambda batch_df, token: write_ivf_index(
            batch_df, None, index_path, id_col, vec_col,
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
    """STREAMING vector indexing — the ingest-pipeline shape: embeddings
    arrive as a stream, each micro-batch is assigned to the index's
    PINNED centroids (read from meta, so drift is impossible by
    construction) and appended exactly-once. The index must exist
    (:func:`write_ivf_index` over the seed corpus — centroid training
    is a batch concern). Probes (:func:`knn_ivf_indexed`) stay
    partition-pruned throughout; run :func:`compact_ivf_index`
    periodically to collapse the per-batch files. One streaming query
    per index (appends are sequential by design). Returns the started
    ``StreamingQuery``."""
    sink = _stream_ivf_sink(index_path, id_col, vec_col)
    from ..streaming.pipeline import start_foreach_batch

    return start_foreach_batch(df, sink, checkpoint_dir, query_name,
                               trigger_available_now)


# ------------------------------------------ the shared inverted-file kernel
def _partition_footers(base: str, dir_ids: "Sequence[int]"):
    """One footer walk over the table at ``base``: ``{physical id:
    [files, rows, bytes]}`` per LIVE ``centroid_id=`` partition, and the
    names of the orphan partitions — residue of a crashed
    (never-committed) split, invisible to probes, collected by the
    next compaction."""
    import os

    live = {f"centroid_id={d}" for d in dir_ids}
    parts: dict = {}
    orphans = set()
    for rel, size, md in _fs.parquet_footers(base, recursive=True):
        part = os.path.dirname(rel)
        if part not in live:
            orphans.add(part)
            continue
        s = parts.setdefault(int(part.split("=", 1)[1]), [0, 0, 0])
        s[0], s[1], s[2] = s[0] + 1, s[1] + md.num_rows, s[2] + size
    return parts, orphans


def _partition_health(parts: dict, dir_ids: "Sequence[int]") -> dict:
    """File and ROW skew per centroid partition (from
    :func:`_partition_footers`) and the maintenance advisory — the
    trigger for the three remedies, cheapest first. Appends against
    frozen centroids fatten hot partitions, which degrades pruning (a
    probe of that centroid reads the whole fat bucket): MANY fat
    partitions (sustained drift) → ``"retrain"`` (a split would chase
    them one at a time while the matrix no longer fits the data); ONE
    → ``"split:<matrix position>"``; a partition of more than 8 files
    → ``"compact"`` (a probe opens every file of each partition it
    probes)."""
    rows = [s[1] for s in parts.values()]
    max_pr = max(rows, default=0)
    mean_pr = sum(rows) / len(rows) if rows else 0.0
    hot = [d for d, s in parts.items() if mean_pr and s[1] > 2 * mean_pr]
    max_files = max((s[0] for s in parts.values()), default=0)
    if len(hot) > max(1, len(parts) // 4):
        hint = "retrain"
    elif len(hot) == 1:
        # split takes the MATRIX POSITION: map the physical dir back
        # through the dir_ids indirection
        hint = f"split:{dir_ids.index(hot[0])}"
    elif max_files > 8:
        hint = "compact"
    else:
        hint = None
    return dict(
        populated_partitions=len(parts),
        max_files_per_partition=max_files,
        max_rows_per_partition=int(max_pr),
        mean_rows_per_partition=round(mean_pr, 1),
        partition_row_skew=round(max_pr / mean_pr, 2) if mean_pr else 0.0,
        hot_partitions=len(hot),
        maintenance_hint=hint,
    )


def _write_parts(df: DataFrame, out_dir: str, n: int,
                 dynamic: bool = False) -> None:
    """Write an IVF-family table partitioned by ``centroid_id``: rows
    hash-routed into ``n`` tasks and sorted by id within each partition
    (the layout the IVF-PQ rerank's ``id IN (...)`` pushdown prunes at
    the parquet footer). ``dynamic`` overwrites exactly the partitions
    ``df`` holds — a crashed attempt's residue included — and never
    touches another; otherwise ``out_dir`` is replaced whole."""
    w = df.repartition(n, F.col("centroid_id")) \
        .sortWithinPartitions("centroid_id", _stored_id_col(df)) \
        .write.mode("overwrite")
    if dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    w.partitionBy("centroid_id").parquet(out_dir)


def _reroute(spark: "SparkSession", tables: "Sequence[str]", src: dict,
             route: Column, out: dict, routed: "Sequence[int]",
             n: int, dynamic: bool = False) -> None:
    """Rewrite ``src[t]`` (per table) into ``out[t]`` under new
    partitions: the vector table (``tables[-1]``) takes
    ``centroid_id := route``; every other table (the PQ codes, which
    the pinned codebooks decode wherever a row lives) relabels by id
    against the routing just written for the ``routed`` partitions."""
    vec = tables[-1]
    _write_parts(src[vec].withColumn("centroid_id", route), out[vec], n,
                 dynamic)
    for t in tables[:-1]:
        routing = spark.read.parquet(out[vec]).where(
            F.col("centroid_id").isin(list(routed)))
        id_col = _stored_id_col(routing)
        _write_parts(
            src[t].drop("centroid_id")
            .join(routing.select(id_col, "centroid_id"), id_col),
            out[t], n, dynamic)


def _compact_tables(spark: "SparkSession", path: str, m: dict,
                    tables: "Sequence[str]", meta) -> None:
    """Compaction of an IVF-family index
    (:func:`._meta_io.compact_versions`): each table's LIVE partitions
    (a crashed split's orphans are never resurrected) minus full-row
    duplicates (retry residue) rewritten at one file per partition into
    the next version dirs; the flip also retires any orphans."""

    def write(out: dict) -> None:
        for t in tables:
            _write_parts(_live(spark, path, m, t).distinct(), out[t],
                         len(m["centroids"]))

    compact_versions(path, m, tables, write,
                     _recounted(spark, path, tables, meta))


def _finish_legacy_split(spark: "SparkSession", path: str, m: dict,
                         tables: "Sequence[str]", meta) -> None:
    """LEGACY recovery only (pre-r10 ``'__splitting__'`` indexes): per
    table, move every prepared ``{table}_split/centroid_id=*`` dir into
    ``{table}/``, replacing the split partition's old dir, then commit
    the NEW matrix. Idempotent — the old ``centroid_id=<split_cid>``
    dir is removed only while its replacement still waits in the
    staging dir, so a re-run after a crash converges. New splits never
    enter this state (fresh-dir-id allocation + one meta flip)."""
    cid = m["split_cid"]
    for table in tables:
        data, split = f"{path}/{table}", f"{path}/{table}_split"
        cid_pending = f"{split}/centroid_id={cid}"
        if _fs.is_dir(cid_pending):
            _fs.rm_dir(f"{data}/centroid_id={cid}")
            _fs.mv_dir(cid_pending, f"{data}/centroid_id={cid}")
        for name in _fs.child_dirs(split, "centroid_id="):
            _fs.rm_dir(f"{data}/{name}")  # a crashed previous move's residue
            _fs.mv_dir(f"{split}/{name}", f"{data}/{name}")
        _fs.rm_dir(split)
    commit_meta(_recounted(spark, path, tables, meta), m, versions={})


def _split_tables(spark: "SparkSession", path: str, m: dict, cid: int,
                  k_sub: int, iters: int, tables: "Sequence[str]", meta,
                  vec_col: str, id_col: "Optional[str]" = None):
    """Split matrix position ``cid`` of an IVF-family index into
    ``k_sub`` sub-centroids (see :func:`_split_ivf_centroid_unlocked`):
    range checks, Lloyd training on the partition's stored vectors,
    fresh ``dir_ids``, the re-route of every table (:func:`_reroute`)
    and the one meta flip. Returns the new centroid matrix."""
    if m["status"] == "__splitting__":
        # legacy (pre-r10) mid-split recovery
        if m["split_cid"] != cid:
            raise ValueError(
                f"index at {path!r} is mid-split of centroid "
                f"{m['split_cid']} — re-run the split with that cid to "
                f"finish it (got cid={cid})"
            )
        _finish_legacy_split(spark, path, m, tables, meta)
        return m["centroids"]
    require_committed(m, path, "split")
    n = len(m["centroids"])
    if not (0 <= cid < n):
        raise ValueError(f"cid {cid} out of range for {n} centroids")
    if k_sub < 2:
        raise ValueError("k_sub must be at least 2")
    dir_ids = m["dir_ids"]
    old_dir = dir_ids[cid]
    dirs = {t: _table_dir(path, m, t) for t in tables}
    parts = {t: spark.read.parquet(d).where(F.col("centroid_id") == old_dir)
             for t, d in dirs.items()}
    part = parts[tables[-1]]
    n_part = part.count()
    if n_part < k_sub:
        raise ValueError(
            f"partition {cid} holds {n_part} vectors — cannot split "
            f"into {k_sub} sub-centroids"
        )
    # deterministic local training: lowest-id seeds, Lloyd `iters`
    sub = kmeans_centroids(part, k_sub, iters=iters,
                           id_col=id_col or _stored_id_col(part),
                           vec_col=vec_col)
    new_cents = [list(c) for c in m["centroids"]]
    new_cents[cid] = list(sub[0])
    new_cents.extend(list(c) for c in sub[1:])
    # FRESH physical partition ids (deterministic: max+1..): invisible
    # until the meta flip names them in dir_ids
    fresh = max(dir_ids) + 1
    new_dirs = list(range(fresh, fresh + k_sub))
    new_dir_ids = list(dir_ids)
    new_dir_ids[cid] = new_dirs[0]
    new_dir_ids.extend(new_dirs[1:])
    # re-assign the members among the SUB-centroids only (local argmax,
    # then map local j -> fresh dir); other partitions never move. An
    # empty sub-centroid (Lloyd can empty a cluster) writes no dir: the
    # probe's partition filter finds no rows, the right answer.
    local = _argmax_centroid(F.col(vec_col), sub)
    gid = F.when(local == 0, F.lit(new_dirs[0]))
    for j in range(1, k_sub):
        gid = gid.when(local == j, F.lit(new_dirs[j]))
    _reroute(spark, tables, parts, gid.cast("int"), dirs, new_dirs, k_sub,
             dynamic=True)
    # THE commit: one meta overwrite installs matrix + indirection
    # (token preserved — a split never consumes or produces a batch)
    commit_meta(meta, m, centroids=new_cents, dir_ids=new_dir_ids)
    # the old fat partitions are now orphaned — best-effort GC (the
    # next compaction retires them regardless)
    for d in dirs.values():
        try:
            _fs.rm_dir(f"{d}/centroid_id={old_dir}")
        except Exception:
            pass
    return new_cents


def _retrain_tables(spark: "SparkSession", path: str, m: dict,
                    k: "Optional[int]", iters: int, tables: "Sequence[str]",
                    meta, vec_col: str, id_col: "Optional[str]" = None):
    """GLOBAL retrain of an IVF-family index (see
    :func:`_retrain_ivf_index_unlocked`): Lloyd over the stored LIVE
    vectors — seeded from the current matrix at unchanged ``k``, so a
    healthy index converges in place; a changed ``k`` starts from
    lowest-id seeds — then every table re-routed into its next version
    dir and one meta flip (new matrix, identity ``dir_ids``). Returns
    the new matrix."""
    require_committed(m, path, "retrain")
    live = {t: _live(spark, path, m, t) for t in tables}
    vecs = live[tables[-1]]
    k = k if k is not None else len(m["centroids"])
    seed = m["centroids"] if k == len(m["centroids"]) else None
    new_cents = kmeans_centroids(
        vecs, k, iters=iters, id_col=id_col or _stored_id_col(vecs),
        vec_col=vec_col, seed_centroids=seed)
    n = len(new_cents)
    route = _argmax_centroid(F.col(vec_col), new_cents)

    def write(out: dict) -> dict:
        _reroute(spark, tables, live, route, out, range(n), n)
        return {"centroids": new_cents, "dir_ids": list(range(n))}

    compact_versions(path, m, tables, write,
                     _recounted(spark, path, tables, meta))
    return new_cents


def _ivf_candidates(probe_sets: DataFrame, scan,
                    dirs: "Sequence[str]", probe_join: str,
                    prune_min_index_bytes: "Optional[int]",
                    exclude_self: bool, id_col: str, query_id_col: str,
                    query_cols: "Sequence[str]", probe_col: str):
    """The candidate join of an indexed IVF-family probe: ``(cand,
    probed)``. ``probe_sets`` carries each query's probed PHYSICAL
    partitions in ``probe_col``; ``scan(probed)`` is the index side
    read from the table dirs, ``probed`` the sorted partition list its
    ``centroid_id IN (...)`` scan filter prunes at the file listing, or
    None (no prune).

    ``probe_join`` picks the join shape (identical results):
    ``"broadcast"`` joins the scan to the broadcast query set on an
    ``array_contains(probe_col, centroid_id)`` condition — a
    BroadcastNestedLoopJoin that evaluates every scanned row against
    every query, fine for small fleets; ``"equi"`` EXPLODES each
    query's probe set (``query_cols`` + ``centroid_id``) and hash-joins
    on ``centroid_id``, so scan rows meet only the queries probing
    their partition; ``"auto"`` picks by fleet size (the probe-set
    collect already knows it): equi at ≥ ``_EQUIJOIN_FLEET`` queries,
    and past ``_BROADCAST_FLEET_CAP`` the broadcast hint is dropped too
    so AQE sizes the join. SCALE-ADAPTIVE (r11): under ``"auto"``,
    while every table in ``dirs`` is below ``prune_min_index_bytes``
    (one scan task's worth of index) the prune cannot cut IO and its
    collect is an extra action per probe — the whole probe runs as ONE
    action on the broadcast join."""
    from .dedup import _PUSHDOWN_MIN_INDEX_BYTES

    if probe_join not in ("auto", "broadcast", "equi"):
        raise ValueError(f"bad probe_join: {probe_join}")
    if prune_min_index_bytes is None:
        prune_min_index_bytes = _PUSHDOWN_MIN_INDEX_BYTES
    n_queries, probed = 0, None
    if probe_join != "auto" or any(
            _fs.bytes_at_least(d, prune_min_index_bytes) for d in dirs):
        # bounded driver state: |queries| × nprobe ints — the scan filter
        rows = probe_sets.select(probe_col).collect()
        n_queries = len(rows)
        probed = sorted({int(c) for r in rows for c in r[0]})
    index = scan(probed)
    if probe_join == "equi" or (
            probe_join == "auto" and n_queries >= _EQUIJOIN_FLEET):
        exploded = probe_sets.select(
            *query_cols, F.explode(probe_col).alias("centroid_id"))
        if n_queries < _BROADCAST_FLEET_CAP:
            exploded = F.broadcast(exploded)
        cand = index.join(exploded, "centroid_id")
        if exclude_self:
            cand = cand.where(F.col(id_col) != F.col(query_id_col))
        return cand, probed
    cond = F.array_contains(F.col(probe_col), F.col("centroid_id"))
    if exclude_self:
        cond = cond & (F.col(id_col) != F.col(query_id_col))
    return index.join(F.broadcast(probe_sets), cond), probed


def _scan_parts(spark: "SparkSession", table_dir: str,
                probed: "Optional[Sequence[int]]") -> DataFrame:
    """The table at ``table_dir``, pruned to the ``probed`` partitions
    (None: unpruned)."""
    df = spark.read.parquet(table_dir)
    return df if probed is None else df.where(
        F.col("centroid_id").isin(probed))


def _probe_dirs(query_vec_col: str, m: dict, nprobe: int) -> Column:
    """Each query's probed PHYSICAL partitions: its top-``nprobe``
    matrix positions (:func:`_probe_positions`) mapped through the meta
    row's ``dir_ids`` (identity on a never-split index)."""
    cents = m["centroids"]
    nprobe = min(nprobe, len(cents))
    return F.transform(
        _let(as_double(F.col(query_vec_col)),
             lambda q: _probe_positions(q, cents, nprobe)),
        _dir_of_position(m["dir_ids"]),
    )


# ------------------------------------------- IVF stats and maintenance
def ivf_index_stats(spark: "SparkSession", path: str) -> dict:
    """Health report for a persisted IVF index — the
    "do I need :func:`compact_ivf_index`?" signal. Footer-only except
    one count-vs-distinct job: meta status/dims, per-centroid-partition
    file and row counts (appends add one file per touched partition per
    batch — ``max_files_per_partition`` growth is what slows pruned
    probes; row skew is the :func:`split_ivf_centroid` trigger),
    duplicate full rows (retry residue) and the ``maintenance_hint``
    (:func:`_partition_health`)."""
    m = _read_ivf_meta(spark, path)
    parts, orphans = _partition_footers(_ivf_data_dir(path, m),
                                        m["dir_ids"])
    df = _live(spark, path, m, "data")
    n, distinct = row_counts(df, df.columns)
    return {
        "status": m["status"], "dim": m["dim"], "norm": m["norm"],
        "rows": m["rows"], "n_centroids": len(m["centroids"]),
        "data_files": sum(s[0] for s in parts.values()),
        "footer_rows": sum(s[1] for s in parts.values()),
        "duplicate_rows": n - distinct,
        "orphan_partitions": len(orphans),
        **_partition_health(parts, m["dir_ids"]),
    }


def _compact_ivf_index_unlocked(spark: "SparkSession", path: str) -> None:
    """Rewrite the IVF index's data into one file per centroid
    partition — the maintenance pass a daily-append index eventually
    needs: each ``mode="append"`` adds its own small files under every
    touched ``centroid_id=`` directory, so after months the probe's
    pruned listing still opens hundreds of tiny files per bucket.
    Vectors are never re-assigned (the pinned centroids guarantee
    assignments are stable); full-row duplicates drop and the result
    lands in the NEXT version dir (``data_v<N+1>``), committed by ONE
    meta-row overwrite flipping the pointer (:func:`_compact_tables`).
    Concurrent writers are refused by the single-writer lease (public
    wrapper)."""
    m = _read_ivf_meta(spark, path)
    _compact_tables(spark, path, m, ("data",),
                    _ivf_meta_writer(spark, path))


def write_ivf_index(
    vectors: DataFrame,
    centroids: Optional[Sequence[Sequence[float]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
    append_token: "Optional[str]" = None,
) -> None:
    """Public face of :func:`_write_ivf_index_unlocked` (see its
    docstring for layout + crash discipline), under the index's
    SINGLE-WRITER lease: a concurrent rebuild/append/compaction is
    refused loudly instead of interleaving meta overwrites; a dead
    writer's stale lease is taken over after its ttl."""
    from .dedup import index_lease

    with index_lease(path, f"ivf-{mode}"):
        _write_ivf_index_unlocked(
            vectors, centroids, path, id_col, vec_col, mode, append_token
        )


def compact_ivf_index(spark: "SparkSession", path: str) -> None:
    """Public face of :func:`_compact_ivf_index_unlocked`, under the
    single-writer lease (see :func:`write_ivf_index`)."""
    from .dedup import index_lease

    with index_lease(path, "ivf-compact"):
        _compact_ivf_index_unlocked(spark, path)


def _split_ivf_centroid_unlocked(
    spark: "SparkSession",
    path: str,
    cid: int,
    k_sub: int,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "list[list[float]]":
    """Split ONE hot IVF partition into ``k_sub`` sub-centroids — the
    maintenance pass a growing index eventually needs
    (`ivf_index_stats`'s ``partition_row_skew`` / ``max_rows_per_
    partition`` are the trigger): months of ``mode="append"`` against
    frozen centroids fatten the partitions drifting data lands in, so a
    probe of a hot centroid reads an ever-bigger bucket and recall per
    scanned byte decays. The only remedy used to be a full rebuild.

    Mechanics: the split partition's vectors are read (one
    partition-pruned scan), ``k_sub`` sub-centroids are Lloyd-trained
    on them (deterministic: lowest-id seeds, fixed ``iters``, 9dp
    means), and the members are re-assigned AMONG THE SUB-CENTROIDS
    ONLY — every other partition's data and assignment is untouched, so
    the swap replaces exactly one directory and adds ``k_sub - 1`` new
    ones. The new matrix keeps every old row id (sub-centroid 0 takes
    the split id, the rest append at ids ``n..n+k_sub-2``), so existing
    probes keep pruning correctly and the PIN stays intact: a caller
    still holding the pre-split list is refused loudly.

    Crash discipline (r10): the sub-partitions are written under FRESH
    physical ``centroid_id`` values that no committed meta row names —
    invisible to every probe — and the commit is ONE meta-row overwrite
    installing the new matrix and the new ``dir_ids`` indirection. No
    remove-then-move, no ``'__splitting__'`` intermediate state, no
    atomic-rename assumption: a crash before the flip leaves the index
    bit-for-bit committed (the fresh dirs are dead by construction and
    a retry overwrites them — training is deterministic, so the retry
    targets the same ids); a crash after it leaves only the old fat
    partition as garbage for the flip-side GC or the next compaction.
    A pre-r10 index left mid-split (``'__splitting__'``) is finished
    with the legacy move-based recovery. Returns the new centroid
    matrix. The steps are the shared kernel's (:func:`_split_tables`)."""
    m = _read_ivf_meta(spark, path)
    return _split_tables(spark, path, m, cid, k_sub, iters, ("data",),
                         _ivf_meta_writer(spark, path), vec_col, id_col)


def split_ivf_centroid(
    spark: "SparkSession",
    path: str,
    cid: int,
    k_sub: int,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "list[list[float]]":
    """Public face of :func:`_split_ivf_centroid_unlocked`, under the
    single-writer lease (see :func:`write_ivf_index`)."""
    from .dedup import index_lease

    with index_lease(path, "ivf-split"):
        return _split_ivf_centroid_unlocked(
            spark, path, cid, k_sub, iters, id_col, vec_col)


def _retrain_ivf_index_unlocked(
    spark: "SparkSession",
    path: str,
    k: "Optional[int]" = None,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "list[list[float]]":
    """GLOBAL retrain for a drifted IVF index (r10, VERDICT missing
    #4): months of appends against frozen centroids degrade MANY
    partitions at once — :func:`split_ivf_centroid` heals one hot
    partition, but when ``ivf_index_stats``'s ``partition_row_skew``
    stays high across splits, the matrix itself no longer fits the
    data and the only full remedy is re-training. This re-runs Lloyd
    over the STORED vectors — seeded from the current centroids, so a
    healthy index converges in place — re-assigns every row, and
    rewrites the data table into the NEXT version dir; the commit is
    the same single meta-pointer flip as compaction (new matrix,
    identity ``dir_ids``, bumped version), so a crash anywhere leaves
    the old index fully live and probes work THROUGHOUT. The append
    token survives (retrain consumes no batch); callers holding the
    pre-retrain matrix are refused by the pin, exactly as after a
    split. ``k`` defaults to the current centroid count (pass more to
    grow capacity with the corpus). Returns the new matrix."""
    m = _read_ivf_meta(spark, path)
    return _retrain_tables(spark, path, m, k, iters, ("data",),
                           _ivf_meta_writer(spark, path), vec_col, id_col)


def retrain_ivf_index(
    spark: "SparkSession",
    path: str,
    k: "Optional[int]" = None,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "list[list[float]]":
    """Public face of :func:`_retrain_ivf_index_unlocked`, under the
    single-writer lease (see :func:`write_ivf_index`)."""
    from .dedup import index_lease

    with index_lease(path, "ivf-retrain"):
        return _retrain_ivf_index_unlocked(
            spark, path, k, iters, id_col, vec_col)


def knn_ivf_indexed(
    spark: "SparkSession",
    path: str,
    queries: DataFrame,
    centroids: Optional[Sequence[Sequence[float]]] = None,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "q_embedding",
    exclude_self: bool = True,
    probe_join: str = "auto",
    prune_min_index_bytes: "Optional[int]" = None,
) -> DataFrame:
    """Probe a :func:`write_ivf_index` index: the union of every query's
    nprobe probe set becomes a ``centroid_id IN (...)`` scan filter —
    partition-pruned at the file listing, so the exact-scoring join
    reads only the probed buckets' files (vs :func:`knn_ivf`, which
    re-assigns and streams the WHOLE corpus per query batch). Centroids
    come FROM the index's meta row; a caller-supplied list that doesn't
    match the stored matrix is refused loudly (drifted centroids prune
    the wrong partitions and silently return low-recall neighbors — the
    checked contract replaces the old docstring-only one).

    ``probe_join`` (``"auto"``, ``"broadcast"`` or ``"equi"``) and
    ``prune_min_index_bytes`` pick the candidate-join shape, with
    identical results (:func:`_ivf_candidates`)."""
    m = _read_ivf_meta(spark, path)
    require_committed(m, path, "probe")
    dim = len(_require_pinned("supplied centroids", centroids,
                              m["centroids"])[0])
    probe_sets = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col),
        l2_norm(query_vec_col, dim).alias("_nq"),
        _probe_dirs(query_vec_col, m, nprobe).alias("probe_cids"),
    )
    data_dir = _ivf_data_dir(path, m)
    cand, _ = _ivf_candidates(
        probe_sets, lambda probed: _scan_parts(spark, data_dir, probed),
        (data_dir,), probe_join, prune_min_index_bytes, exclude_self,
        id_col, query_id_col, (query_id_col, query_vec_col, "_nq"),
        "probe_cids")
    denom = F.col("_nv") * F.col("_nq")
    scored = cand.select(
        F.col(query_id_col),
        F.col(id_col),
        F.when(denom > 0, dot_fast(vec_col, query_vec_col, dim) / denom)
        .otherwise(F.lit(0.0))
        .alias("cosine"),
    )
    return _topk(scored, k, query_id_col, id_col, "cosine")


# ----------------------------------------------- random-hyperplane LSH
def _splitmix(seed: int, i: int, j: int) -> float:
    """Deterministic pseudo-gaussian-ish plane coefficient in [-1, 1)."""
    z = (seed * 0x9E3779B97F4A7C15 + (i * 1315423911 + j + 1) * 0xBF58476D1CE4E5B9) % (1 << 64)
    z ^= z >> 30
    z = (z * 0x94D049BB133111EB) % (1 << 64)
    z ^= z >> 31
    return (z % (1 << 24)) / float(1 << 23) - 1.0


def hyperplane_planes(dim: int, num_planes: int = 16, seed: int = 7) -> list[list[float]]:
    return [[_splitmix(seed, i, j) for j in range(dim)] for i in range(num_planes)]


def hyperplane_signature(
    vec: Column, dim: int, num_planes: int = 16, seed: int = 7
) -> Column:
    """num_planes sign bits packed into a long: bit_i = 1 iff vec·plane_i>0.

    The plane matrix is one nested-array literal; the per-plane sign bits
    fold through an indexed ``transform`` + ``aggregate`` — a compact,
    codegen-friendly tree (the per-plane inline-literal formulation is
    ~dim×num_planes Literal nodes duplicated per reference and falls out
    of whole-stage codegen)."""
    pmat = _array_lit(hyperplane_planes(dim, num_planes, seed))
    weights = F.lit([1 << i for i in range(num_planes)])

    def sig(v: Column) -> Column:
        bits = F.transform(
            pmat,
            lambda p: F.when(dot(v, p) > 0, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        )
        return F.aggregate(
            F.zip_with(bits, weights, lambda b, w: b * w),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    return _let(as_double(vec), sig)


def cosine_lsh_pairs(
    vectors: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 16,
    bands: int = 4,
    threshold: float = 0.9,
    seed: int = 7,
) -> DataFrame:
    """Near-dup (id_a < id_b, cosine ≥ threshold) pairs via hyperplane-LSH
    banding + exact verification. Shuffles on (band, bucket) keys only —
    the candidate set, not n², hits the verify join. The two sides of the
    bucket self-join are byte-identical plans, so the signature exchange
    is computed once and reused (ReusedExchange)."""
    if num_planes % bands:
        raise ValueError("num_planes must divide into bands evenly")
    from .dedup import _native_id

    r = num_planes // bands
    mask = (1 << r) - 1
    docs = vectors.select(
        _native_id(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        l2_norm(vec_col, dim).alias("_n"),
        hyperplane_signature(F.col(vec_col), dim, num_planes, seed).alias("_sig"),
    )
    chunks = docs.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("_sig"), r * i)
                        .bitwiseAND(F.lit(mask))
                        .alias("bucket"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("c"),
    ).select("_id", "c.band", "c.bucket")
    cand = (
        chunks.alias("l")
        .join(chunks.alias("r"), on=["band", "bucket"])
        .where(F.col("l._id") < F.col("r._id"))
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )
    sides = docs.select("_id", "_v", "_n")
    denom = F.col("_na") * F.col("_nb")
    return (
        cand.join(
            sides.select(
                F.col("_id").alias("id_a"), F.col("_v").alias("v_a"), F.col("_n").alias("_na")
            ),
            "id_a",
        )
        .join(
            sides.select(
                F.col("_id").alias("id_b"), F.col("_v").alias("v_b"), F.col("_n").alias("_nb")
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.when(
                denom > 0,
                dot_fast("v_a", "v_b", dim) / denom,
            )
            .otherwise(F.lit(0.0))
            .alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def _decontaminate_embeddings_arrow(
    train: DataFrame,
    eval_df: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    eval_id_col: str,
    eval_vec_col: str,
) -> DataFrame:
    """Vectorized engine for :func:`decontaminate_embeddings`: the eval
    matrix (the SMALL side — same boundedness contract as the hof
    engine's broadcast) ships inside the closure; each Arrow batch of
    train vectors scores as ONE numpy matmul. Still zero shuffles; the
    eval ids ride along so only pairs >= threshold are emitted."""
    import numpy as np

    from pyspark.sql import types as T

    # output id types derive from the INPUT columns (string/int32 ids are
    # as legal here as they are on the hof engine)
    out_t = T.StructType([
        T.StructField(id_col, train.schema[id_col].dataType),
        T.StructField(eval_id_col, eval_df.schema[eval_id_col].dataType),
        T.StructField("cosine", T.DoubleType()),
    ])
    rows = eval_df.select(eval_id_col, eval_vec_col).collect()
    if not rows:
        # empty eval set: nothing can be contaminated
        return train.sparkSession.createDataFrame([], out_t)
    e_ids = np.array([r[0] for r in rows])
    emat = np.array([[float(x) for x in r[1]] for r in rows], dtype=np.float64)
    e_norms = np.sqrt((emat * emat).sum(axis=1))
    src = train.select(F.col(id_col), as_double(F.col(vec_col)).alias("_v"))

    def score(batches):
        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_schema

        out_schema = to_arrow_schema(out_t)
        for b in batches:
            ids = b.column(0).to_numpy(zero_copy_only=False)
            vcol = b.column(1)
            n = len(vcol)
            if n == 0:
                continue
            # ListArray -> (n, d) without per-element Python: equal-length
            # vectors reshape straight off the flattened values buffer
            flat = vcol.flatten().to_numpy(zero_copy_only=False)
            if flat.size != n * emat.shape[1]:
                raise ValueError(
                    "decontaminate_embeddings(engine='arrow') requires "
                    "fixed-dimension, non-null embeddings"
                )
            vmat = flat.reshape(n, emat.shape[1])
            sims = vmat @ emat.T                        # (n, m) BLAS
            denom = np.sqrt((vmat * vmat).sum(axis=1))[:, None] * e_norms[None, :]
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = np.where(denom > 0, sims / denom, 0.0)
            ti, ei = np.nonzero(cos >= threshold)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids[ti], type=out_schema.field(0).type),
                 pa.array(e_ids[ei], type=out_schema.field(1).type),
                 pa.array(cos[ti, ei], type=out_schema.field(2).type)],
                schema=out_schema,
            )

    return src.mapInArrow(score, schema=out_t)



# ---------------------------------------------------------------------------
# Product quantization (the 100 TB embedding-compression path)
#
# PQ splits each d-dim vector into ``m`` contiguous subvectors and replaces
# every subvector with the id of its nearest codebook entry: d float32s
# (256 B at d=64) become m small ints (m bytes) — a 16-32x reduction in what
# has to be *stored and shuffled* for candidate generation. Query scoring is
# asymmetric (ADC): the query stays exact, candidates are scored against
# their reconstruction — mathematically dot(q, reconstruct(codes)), which is
# exactly what we compute, keeping the whole path in codegen'd higher-order
# functions (no Python). At cluster scale the codes column (not the raw
# vectors) is what flows into the ANN shuffle; reconstruction happens
# streaming at scan time, so executor memory holds m bytes/row + one shared
# broadcast codebook literal.


def pq_codebooks(
    vectors: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
) -> list[list[list[float]]]:
    """Per-subspace codebooks; ``codebooks[s][c]`` is code ``c`` of
    subspace ``s``. Seeds are the k lowest-id vectors sliced into m
    contiguous subvectors — deterministic, which keeps the operator
    DuckDB-oracle-able (same trick as sample_centroids).

    ``refine_iters > 0`` runs that many per-subspace Lloyd (k-means)
    rounds over the corpus — the standard PQ training (Jégou et al.
    2011) that recall at real scale depends on. STILL deterministic:
    fixed seeds + fixed iteration count + tie-break-to-lowest-code make
    the result a pure function of the data, so trained gates stay
    oracle-able. Each round is ONE distributed pass refining all m
    subspaces at once (encode is a narrow projection; the posexplode
    shuffle collapses map-side to m·k·(d/m) = k·d cells and only k·d
    floats reach the driver per round — never O(data))."""
    rows = vectors.orderBy(id_col).limit(k).select(vec_col).collect()
    vecs = [[float(x) for x in r[0]] for r in rows]
    if not vecs:
        raise ValueError("pq_codebooks: no vectors to seed codebooks from")
    d = len(vecs[0])
    if d % m:
        raise ValueError(f"pq_codebooks: dim {d} is not divisible by m={m}")
    sub = d // m
    books = [[v[s * sub : (s + 1) * sub] for v in vecs] for s in range(m)]
    for _ in range(refine_iters):
        books = _pq_lloyd_round(vectors, books, vec_col)
    return books


def _pq_lloyd_round(
    vectors: DataFrame,
    books: Sequence[Sequence[Sequence[float]]],
    vec_col: str,
) -> list[list[list[float]]]:
    """One Lloyd round for ALL m subspaces in one distributed pass:
    assign (pq_codes, narrow), then per-(subspace, code, position) means
    via posexplode + map-side-combined groupBy. Means are rounded to 9
    decimals so the trained books are reproducible across partial-agg
    orderings (fp addition is not associative); empty codes keep their
    previous entry, as in :func:`kmeans_centroids`."""
    m, sub = len(books), len(books[0][0])
    # encode in its OWN projection: putting pq_codes next to posexplode in
    # one select trips Spark's generator extraction, which re-analyzes the
    # other expressions and loses the struct-field aliases inside the
    # encode lambdas (FIELD_NOT_FOUND `cid`)
    ex = vectors.select(
        pq_codes(F.col(vec_col), books).alias("_c"),
        as_double(F.col(vec_col)).alias("_v"),
    ).select(
        "_c", F.posexplode("_v").alias("pos", "x")
    ).select(
        (F.col("pos") / sub).cast("int").alias("s"),
        (F.col("pos") % sub).alias("p"),
        F.element_at("_c", (F.col("pos") / sub).cast("int") + 1).alias("code"),
        "x",
    )
    means = (
        ex.groupBy("s", "code", "p")
        .agg(F.round(F.avg("x"), 9).alias("m"))
        .collect()
    )
    new = [[list(c) for c in book] for book in books]
    for r in means:
        new[r["s"]][r["code"]][r["p"]] = float(r["m"])
    return new


def pq_codes(vec: Column, codebooks: Sequence[Sequence[Sequence[float]]]) -> Column:
    """array<int> of length m: per subspace, the codebook entry minimizing
    L2 distance to the subvector (ties -> lowest code id).

    Scores ``-2*dot(s,c) + dot(c,c)`` — the squared distance minus the
    code-independent ``dot(s,s)`` term, which shifts every candidate by the
    same constant and so preserves both the argmin and its ties. array_min
    over (score, code_id) structs gives lexicographic tie-breaking. A
    null vector encodes to null, on both routes."""
    import json as _json

    books = [[[float(x) for x in c] for c in b] for b in codebooks]
    jvm_col = _vec_jvm("avsp_jvm_pq_codes", _json.dumps(books), vec)
    if jvm_col is not None:
        # compiled per-subspace argmin — float-identical to the HOF
        # fold below (strict-fold dots, (-2*dot)+cc order, ties →
        # lowest code; pinned by test_jvm_vector_udfs_match_hof)
        return jvm_col
    sub = len(codebooks[0][0])
    cb = _array_lit(codebooks, 3)

    def enc(v: Column) -> Column:
        def per_sub(book: Column, si: Column) -> Column:
            def with_slice(s: Column) -> Column:
                scored = F.transform(
                    book,
                    lambda c, ci: F.struct(
                        (F.lit(-2.0) * dot(s, c) + dot(c, c)).alias("d2"),
                        ci.cast("int").alias("cid"),
                    ),
                )
                return F.array_min(scored)["cid"]

            return _let(F.slice(v, si * sub + 1, F.lit(sub)), with_slice)

        return F.transform(cb, per_sub)

    return F.when(vec.isNotNull(), _let(as_double(vec), enc))


def pq_encode(
    vectors: DataFrame,
    codebooks: Sequence[Sequence[Sequence[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Add the PQ code array as a narrow projection (no shuffle); the
    codebook rides along as one broadcast plan literal."""
    return vectors.withColumn(out_col, pq_codes(F.col(vec_col), codebooks))


def pq_reconstruct(
    codes: Column, codebooks: Sequence[Sequence[Sequence[float]]]
) -> Column:
    """Decode a PQ code array back to its (lossy) d-dim reconstruction:
    the concatenation of the selected codebook entries."""
    import json as _json

    books = [[[float(x) for x in c] for c in b] for b in codebooks]
    jvm_col = _vec_jvm("avsp_jvm_pq_reconstruct", _json.dumps(books), codes)
    if jvm_col is not None:
        return jvm_col
    cb = _array_lit(codebooks, 3)
    return F.flatten(
        F.zip_with(
            cb, codes, lambda book, c: F.element_at(book, c.cast("int") + 1)
        )
    )


def knn_pq(
    vectors: DataFrame,
    queries: DataFrame,
    codebooks: Sequence[Sequence[Sequence[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "q_embedding",
    exclude_self: bool = True,
    codes_col: Optional[str] = None,
) -> DataFrame:
    """Approximate top-k cosine neighbors per query via PQ-reconstructed
    scoring: (query_id, rank, vec_id, approx_cosine), ties -> vec_id asc.

    Pass ``codes_col`` to score a pre-encoded table (the production shape:
    encode once at ingest, store ``m`` bytes/row, never re-read the raw
    vectors); otherwise the raw ``vec_col`` is encoded on the fly. Queries
    stay exact (asymmetric distance); the big side carries only codes +
    reconstruction, broadcast-joined against the small query set exactly
    like knn_bruteforce — one streamed scan, one per-query top-k window."""
    if codes_col is None:
        enc = pq_encode(vectors, codebooks, vec_col=vec_col, out_col="_pq_codes")
        codes_col = "_pq_codes"
    else:
        enc = vectors
    recon = pq_reconstruct(F.col(codes_col), codebooks)
    big = enc.select(F.col(id_col), recon.alias("_rv")).select(
        F.col(id_col), F.col("_rv"), l2_norm("_rv").alias("_nv")
    )
    small = queries.select(
        F.col(query_id_col),
        as_double(F.col(query_vec_col)).alias("_qv"),
        l2_norm(query_vec_col).alias("_nq"),
    )
    joined = big.join(F.broadcast(small))
    if exclude_self:
        joined = joined.where(F.col(id_col) != F.col(query_id_col))
    denom = F.col("_nv") * F.col("_nq")
    scored = joined.select(
        F.col(query_id_col),
        F.col(id_col),
        F.when(denom > 0, dot_fast("_rv", "_qv") / denom)
        .otherwise(F.lit(0.0))
        .alias("approx_cosine"),
    )
    return _topk(scored, k, query_id_col, id_col, "approx_cosine")


def knn_ivfpq(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: Sequence[Sequence[float]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "q_embedding",
    exclude_self: bool = True,
    codes_col: Optional[str] = None,
    centroid_col: Optional[str] = None,
) -> DataFrame:
    """IVF-PQ: the production 100 TB ANN shape. The inverted file prunes
    WHICH rows are scanned (probe ``nprobe`` of ``len(centroids)``
    partitions); product quantization shrinks WHAT each scanned row
    carries (m code bytes instead of d floats). Scoring is asymmetric —
    dot(exact query, PQ reconstruction) — identical to :func:`knn_pq`.

    Pass ``codes_col``/``centroid_col`` to reuse an ingest-time
    ``pq_encode`` + ``assign_centroids`` table (persist it bucketed by
    centroid for file-level pruning); otherwise both are derived on the
    fly as narrow projections. Returns (query_id, rank, vec_id,
    approx_cosine), ties -> vec_id asc."""
    enc = vectors
    if centroid_col is None:
        enc = assign_centroids(enc, centroids, vec_col=vec_col, out_col="_ivf_cid")
        centroid_col = "_ivf_cid"
    if codes_col is None:
        enc = pq_encode(enc, codebooks, vec_col=vec_col, out_col="_pq_codes")
        codes_col = "_pq_codes"
    recon = pq_reconstruct(F.col(codes_col), codebooks)
    big = enc.select(
        F.col(id_col), F.col(centroid_col).alias("_cid"), recon.alias("_rv")
    ).select(
        F.col(id_col), F.col("_cid"), F.col("_rv"), l2_norm("_rv").alias("_nv")
    )

    nprobe = min(nprobe, len(centroids))
    small = queries.select(
        F.col(query_id_col),
        as_double(F.col(query_vec_col)).alias("_qv"),
        l2_norm(query_vec_col).alias("_nq"),
        _let(as_double(F.col(query_vec_col)),
             lambda q: _probe_positions(q, centroids, nprobe))
        .alias("_probe_cids"),
    )
    cond = F.array_contains(F.col("_probe_cids"), F.col("_cid"))
    if exclude_self:
        cond = cond & (F.col(id_col) != F.col(query_id_col))
    cand = big.join(F.broadcast(small), cond)
    denom = F.col("_nv") * F.col("_nq")
    scored = cand.select(
        F.col(query_id_col),
        F.col(id_col),
        F.when(denom > 0, dot_fast("_rv", "_qv") / denom)
        .otherwise(F.lit(0.0))
        .alias("approx_cosine"),
    )
    return _topk(scored, k, query_id_col, id_col, "approx_cosine")


def decontaminate_embeddings(
    train: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eval_id_col: str = "eval_id",
    eval_vec_col: str = "e_embedding",
    engine: str = "hof",
) -> DataFrame:
    """Semantic train/eval decontamination: every (train_id, eval_id,
    cosine) pair at or above ``threshold`` — the embedding-space
    complement of the n-gram overlap check
    (:func:`avro_spark.functions.dedup.decontaminate`); paraphrased eval
    leakage that shares no n-gram still lands close in embedding space.

    Scale shape = brute-force knn's: the (small) eval set broadcasts,
    the train corpus streams once with norms computed below the join,
    and only pairs ≥ threshold survive — no top-k window needed, so
    there is NO shuffle at all. Anti-join the result against train to
    drop flagged rows.

    ``engine="hof"`` (default) scores each pair with the sequential
    higher-order-function dot — bit-reproducible against a sequential
    SQL oracle, which is why the gate uses it. ``engine="arrow"`` is
    the THROUGHPUT path for real corpora: one Arrow-batched matmul per
    train batch against the (small) eval matrix — numpy BLAS does
    batch×m×d multiply-adds at memory speed instead of one interpreted
    HOF per pair (same zero-shuffle shape; cosines can differ from the
    hof engine in the last ulp because BLAS sums pairwise)."""
    if engine not in ("hof", "arrow"):
        raise ValueError(f"bad engine: {engine}")
    if engine == "arrow":
        return _decontaminate_embeddings_arrow(
            train, eval_df, threshold, id_col, vec_col,
            eval_id_col, eval_vec_col,
        )
    big = train.select(
        F.col(id_col), F.col(vec_col), l2_norm(vec_col).alias("_nv")
    )
    small = eval_df.select(
        F.col(eval_id_col),
        as_double(F.col(eval_vec_col)).alias("_ev"),
        l2_norm(eval_vec_col).alias("_ne"),
    )
    denom = F.col("_nv") * F.col("_ne")
    return (
        big.join(F.broadcast(small))
        .select(
            F.col(id_col),
            F.col(eval_id_col),
            F.when(denom > 0, dot_fast(vec_col, "_ev") / denom)
            .otherwise(F.lit(0.0))
            .alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )

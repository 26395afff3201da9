"""Seeded inputs for the three workloads.

Everything here is a pure function of ``seed``: the same seed gives the
same rows, corpus and batches; the library under test only ever sees the
generated DataFrames and texts.

* Event rows (ocf_ingest) are Spark expressions over
  ``spark.range(n)``: every cell is a hash of ``(seed, salt, id)``, so the
  rows are reproducible without shipping them from Python.
* The dedup corpus and its batches are NumPy draws from a word vocabulary
  of 2^20 random hex tokens. Each document opens with one of a fixed set
  of boilerplate headers (a third of its tokens) and goes on with random
  words, so documents that share a header have a shingle Jaccard near 0.2:
  some become LSH candidates that the probe's verification must reject.
  Only the planted duplicates reach the 0.5 threshold.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

KIND_SYMBOLS = ["CLICK", "VIEW", "BUY", "SHARE"]
SOURCES = ["web", "app", "feed"]

# Writer schema v1: nested record, enum, ["null","string"] union, string
# array. Reader v2 renames amount -> total through an alias, reorders the
# fields, promotes user.score int -> long and adds a defaulted field.
_USER_V1 = {"type": "record", "name": "User", "fields": [
    {"name": "uid", "type": "long"}, {"name": "score", "type": "int"}]}
_USER_V2 = {"type": "record", "name": "User", "fields": [
    {"name": "uid", "type": "long"}, {"name": "score", "type": "long"}]}
_KIND = {"type": "enum", "name": "Kind", "symbols": KIND_SYMBOLS}

EVENT_V1 = {"type": "record", "name": "Event", "fields": [
    {"name": "id", "type": "long"},
    {"name": "user", "type": _USER_V1},
    {"name": "kind", "type": _KIND},
    {"name": "note", "type": ["null", "string"]},
    {"name": "tags", "type": {"type": "array", "items": "string"}},
    {"name": "amount", "type": "double"},
]}
EVENT_V2 = {"type": "record", "name": "Event", "fields": [
    {"name": "total", "type": "double", "aliases": ["amount"]},
    {"name": "id", "type": "long"},
    {"name": "kind", "type": _KIND},
    {"name": "user", "type": _USER_V2},
    {"name": "tags", "type": {"type": "array", "items": "string"}},
    {"name": "note", "type": ["null", "string"]},
    {"name": "source", "type": "string", "default": "legacy"},
]}
#: flat column names of EVENT_V1 and EVENT_V2 (``compile(v).get_names()``)
FLAT_V1 = ["id", "user.uid", "user.score", "kind", "note.$type$", "note",
           "tags", "amount"]
FLAT_V2 = ["total", "id", "kind", "user.uid", "user.score", "tags",
           "note.$type$", "note", "source"]


def _event_cells(seed: int) -> dict:
    """Column expressions over ``spark.range`` for one event row."""
    from pyspark.sql import functions as F

    def h(salt: str, *more):
        return F.abs(F.xxhash64(F.lit(seed), F.lit(salt), F.col("id"), *more))

    return {
        "id": F.col("id"),
        "uid": h("uid") % 1_000_000,
        "score": (h("score") % 100_000).cast("int"),
        "kind_idx": (h("kind") % len(KIND_SYMBOLS)).cast("int"),
        "note": F.when(h("nnull") % 4 == 0, F.lit(None).cast("string"))
                 .otherwise(F.concat(F.lit("n"), (h("note") % 100_000)
                                     .cast("string"))),
        "tags": F.transform(
            F.sequence(F.lit(0), (h("ntags") % 4).cast("int")),
            lambda i: F.concat(F.lit("t"), (h("tag", i) % 500).cast("string"))),
        "amount": (h("amount") % 10_000_000) / 100.0,
        "source": F.element_at(
            F.array(*[F.lit(s) for s in SOURCES]),
            (h("source") % len(SOURCES) + 1).cast("int")),
    }


def event_rows_flat_v1(spark, seed: int, n: int, partitions: int):
    """Flat writer-v1 rows in ``FLAT_V1`` order (the ingest files' content,
    unflattened and written in set-up)."""
    from pyspark.sql import functions as F

    c = _event_cells(seed)
    return spark.range(0, n, 1, partitions).select(
        c["id"].alias("id"),
        c["uid"].alias("user.uid"),
        c["score"].alias("user.score"),
        c["kind_idx"].alias("kind"),
        F.when(c["note"].isNull(), 0).otherwise(1).alias("note.$type$"),
        c["note"].alias("note"),
        c["tags"].alias("tags"),
        c["amount"].alias("amount"),
    )


def event_rows_flat_v2(spark, seed: int, n: int, partitions: int):
    """Flat reader-v2 rows in ``FLAT_V2`` order."""
    from pyspark.sql import functions as F

    c = _event_cells(seed)
    return spark.range(0, n, 1, partitions).select(
        c["amount"].alias("total"),
        c["id"].alias("id"),
        c["kind_idx"].alias("kind"),
        c["uid"].alias("user.uid"),
        c["score"].cast("long").alias("user.score"),
        c["tags"].alias("tags"),
        F.when(c["note"].isNull(), 0).otherwise(1).alias("note.$type$"),
        c["note"].alias("note"),
        c["source"].alias("source"),
    )


def checksum(col):
    """Order-independent column checksum: sum of the low 32 bits of each
    cell's xxhash64 (no overflow below 2^31 rows)."""
    from pyspark.sql import functions as F

    return F.sum(F.xxhash64(col).bitwiseAND(F.lit(0xFFFFFFFF)))


def flat_checksums(df) -> dict:
    """{column: checksum} plus ``__rows__`` over a flat v2 DataFrame, in
    one aggregation job."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("__rows__")]
    aggs += [checksum(F.col(f"`{c}`")).alias(c) for c in FLAT_V2]
    return df.agg(*aggs).collect()[0].asDict()


def expected_ingest_checksums(spark, seed: int, n: int) -> dict:
    """What :func:`flat_checksums` must return for the ingest op's output:
    the generator's v1 rows mapped through v1 -> v2 evolution (alias
    rename, int -> long promotion, ``source`` defaulted to 'legacy')."""
    from pyspark.sql import functions as F

    flat = event_rows_flat_v2(spark, seed, n, 4).withColumn(
        "source", F.lit("legacy"))
    return flat_checksums(flat)


# ----------------------------------------------------------- dedup corpus
VOCAB_SIZE = 1 << 20


class TextGen:
    """Documents from one seeded vocabulary: a boilerplate header drawn
    from ``templates`` fixed ones, then random words."""

    def __init__(self, seed: int, doc_tokens: int, templates: int,
                 header_tokens: int):
        rng = np.random.default_rng([seed, 0])
        self.vocab = np.array(
            [format(int(x), "x")
             for x in rng.integers(1 << 24, 1 << 40, size=VOCAB_SIZE)],
            dtype=object)
        self.headers = rng.integers(0, VOCAB_SIZE,
                                    size=(templates, header_tokens))
        self.doc_tokens = doc_tokens

    def docs(self, rng: np.random.Generator, n: int) -> "list[str]":
        head = self.headers[rng.integers(0, len(self.headers), size=n)]
        body = rng.integers(0, VOCAB_SIZE,
                            size=(n, self.doc_tokens - head.shape[1]))
        return [" ".join(self.vocab[row]) for row in np.hstack([head, body])]

    def edit_one_token(self, rng: np.random.Generator, text: str) -> str:
        toks = text.split(" ")
        pos = int(rng.integers(0, len(toks)))
        # "x" never starts a vocabulary word (they are lower-case hex)
        toks[pos] = "x" + format(int(rng.integers(0, 1 << 40)), "x")
        return " ".join(toks)


def corpus(seed: int, n_docs: int, doc_tokens: int, templates: int,
           header_tokens: int) -> "tuple[TextGen, list[str]]":
    """The initial indexed corpus: doc ids ``0..n_docs-1``."""
    gen = TextGen(seed, doc_tokens, templates, header_tokens)
    return gen, gen.docs(np.random.default_rng([seed, 1]), n_docs)


@dataclass
class Batch:
    ids: "list[int]"
    texts: "list[str]"
    #: batch id -> indexed id it copies verbatim
    exact: "dict[int, int]"
    #: batch id -> indexed id it copies with one token edited
    near: "dict[int, int]"


def make_batch(gen: TextGen, seed: int, batch_no: int, first_id: int,
               size: int, exact_share: float, near_share: float,
               indexed: "dict[int, str]") -> Batch:
    """Batch ``batch_no``: planted exact and near duplicates of distinct
    indexed docs, then novel docs; rows are shuffled."""
    rng = np.random.default_rng([seed, 2, batch_no])
    n_exact = int(round(size * exact_share))
    n_near = int(round(size * near_share))
    pool = np.fromiter(sorted(indexed), dtype=np.int64)
    src = rng.choice(pool, size=n_exact + n_near, replace=False)
    texts = [indexed[int(s)] for s in src[:n_exact]]
    texts += [gen.edit_one_token(rng, indexed[int(s)]) for s in src[n_exact:]]
    texts += gen.docs(rng, size - n_exact - n_near)
    kinds = ["e"] * n_exact + ["n"] * n_near + ["v"] * (size - n_exact - n_near)
    srcs = [int(s) for s in src] + [-1] * (size - n_exact - n_near)
    order = rng.permutation(size)
    ids = list(range(first_id, first_id + size))
    exact, near = {}, {}
    out_texts = []
    for new_id, j in zip(ids, order):
        out_texts.append(texts[j])
        if kinds[j] == "e":
            exact[new_id] = srcs[j]
        elif kinds[j] == "n":
            near[new_id] = srcs[j]
    return Batch(ids, out_texts, exact, near)

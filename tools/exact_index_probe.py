"""Exact-dedup index scale probe (SCALE.md §3): as the CORPUS grows
×{1, 4, 16}, compare resolving a FIXED daily batch's exact dups

  (a) against the persisted fingerprint index
      (dedup_exact_against_index: fingerprint IN footer pushdown on
      the flat range-sorted fps table — IO bounded by the batch), vs
  (b) by re-running exact_dedup_groups over corpus ∪ batch (the
      no-index alternative: re-hashes everything, every day).

Build time is reported once per size — paid once, not per batch.
Warm median-of-3. Usage: python tools/exact_index_probe.py
"""
from __future__ import annotations

import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from avro_spark.functions import dedup as D  # noqa: E402
from avro_spark.functions import exact_index as X  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _med(f) -> float:
    ts = []
    for _ in range(3):
        t0 = time.monotonic()
        f()
        ts.append(time.monotonic() - t0)
    return statistics.median(ts)


def main() -> None:
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(
        os.path.join(SF_DIR, "documents.parquet")).select("doc_id", "text")
    batch = docs.where(F.col("doc_id") % 97 == 1).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    ).localCheckpoint(eager=True)
    print(f"batch={batch.count()}  (sf_dir={SF_DIR})")
    for mult in (1, 4, 16):
        corpus = (
            docs.crossJoin(
                spark.range(mult).withColumnRenamed("id", "copy"))
            .select(
                (F.col("doc_id") * mult + F.col("copy")).alias("doc_id"),
                F.concat_ws(" ", "text",
                            F.concat(F.lit("copytok"), F.col("copy")))
                .alias("text"),
            )
            .localCheckpoint(eager=True)
        )
        n = corpus.count()
        idx = tempfile.mkdtemp(prefix=f"x_probe_{mult}x_")
        t0 = time.monotonic()
        X.write_exact_index(corpus, idx, n_buckets=64)
        t_build = time.monotonic() - t0
        t_probe = _med(lambda: _noop(
            X.dedup_exact_against_index(spark, batch, idx)))
        t_rerun = _med(lambda: _noop(
            D.exact_dedup_groups(corpus.unionByName(batch),
                                 "doc_id", "text")))
        print(
            f"x{mult:<2} corpus={n:>7}  build_once={t_build:6.2f}s  "
            f"index_probe={t_probe:6.2f}s  full_rerun={t_rerun:6.2f}s  "
            f"ratio={t_rerun / t_probe:4.1f}x"
        )


if __name__ == "__main__":
    main()

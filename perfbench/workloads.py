"""The two workloads: set-up, one closed-loop op, its check and routes.

Each op runs the public calls a user of the engine would make, each inside
a tracer span named after the layer it enters. Checks and route pins run
outside the timed op.
"""

from __future__ import annotations

import os
import shutil
import time

import inputs

#: the probes' single-action / pruned switch (``prune_min_index_bytes``)
PRUNE_FLOOR_BYTES = 32 * 1024 * 1024


class RouteError(RuntimeError):
    """A workload took another route than the one it declares."""


def parquet_bytes(path: str) -> int:
    """Bytes of the parquet data files under ``path`` (what the probes'
    prune floor is compared with)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, fs in os.walk(path) for f in fs)


class Workload:
    name = ""
    #: rows (or batch docs) one op completes
    rows_per_op = 0
    warmup_ops = 2

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        #: set-up parts, seconds
        self.setup_parts: "dict[str, float]" = {}
        self.routes: dict = {}

    def _timed(self, part: str, fn):
        t = time.perf_counter()
        out = fn()
        self.setup_parts[part] = (self.setup_parts.get(part, 0.0)
                                  + time.perf_counter() - t)
        return out

    def attach_jvm(self) -> None:
        from avro_spark.jvm import jvm_codec_available

        if not self._timed("jvm.attach_s",
                           lambda: jvm_codec_available(self.spark)):
            raise RouteError("the JVM codec jar could not be built or attached")

    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self, i: int) -> None:
        """Untimed work before op ``i`` (drawing its inputs)."""

    def op(self, tr, i: int):
        raise NotImplementedError

    def check(self, i: int, result) -> "list[str]":
        """Untimed check of op ``i``'s output; returns the mismatches."""
        return []

    def pin_routes(self) -> None:
        """Raise :class:`RouteError` unless the declared routes hold."""

    def stored_bytes_per_row(self) -> float:
        raise NotImplementedError


class OcfIngest(Workload):
    """Read a directory of deflate OCF files written under v1 as reader v2,
    flatten, noop sink. Set-up writes the files the way an export job
    would: flat rows through ``unflatten`` and ``write_avro_files``."""

    name = "ocf_ingest"
    #: distinct seeded rows, written once as ``files`` OCF files; each file
    #: is then copied ``copies`` times, so an op decodes ``copies`` times
    #: the rows set-up had to encode
    distinct_rows = 250_000
    files = 4
    copies = 4
    rows = distinct_rows * copies
    rows_per_op = rows
    #: op times still fall over the first four or five ops of a session
    #: (JIT of the decode path)
    warmup_ops = 5
    #: the checksum job re-reads every row, so only every n-th op is checked
    check_every = 4

    def setup(self) -> None:
        import avro_spark
        from avro_spark.sources.avro_ocf import write_avro_files

        self.attach_jvm()
        # one task per ~1.5 MB file: with Spark's default packing (one
        # task per core) a core the host stalls holds up the whole op
        self.spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
        self.dir = os.path.join(self.work, "events_v1")
        v1 = avro_spark.create(inputs.EVENT_V1)
        flat = inputs.event_rows_flat_v1(self.spark, self.seed,
                                         self.distinct_rows, self.files)
        records = self._timed("plans.unflatten_call_s",
                              lambda: avro_spark.compile(v1).unflatten(flat))
        ro: dict = {}
        info = self._timed("sources.write_call_s", lambda: write_avro_files(
            records, v1, self.dir, codec="deflate", route_out=ro))

        def gen():
            for part in info:
                src = part["file"]
                for k in range(1, self.copies):
                    shutil.copyfile(src, src.replace(".avro", f"-copy{k}.avro"))
            return {k: v * self.copies for k, v in
                    inputs.expected_ingest_checksums(
                        self.spark, self.seed, self.distinct_rows).items()}

        self.expected = self._timed("gen.input_s", gen)
        self.routes["setup_write"] = ro.get("engine")
        self.input_bytes = self.copies * sum(i["n_bytes"] for i in info)
        if sum(i["n_records"] for i in info) != self.distinct_rows:
            raise RuntimeError("set-up wrote a wrong number of rows")

    def op(self, tr, i: int):
        import avro_spark
        from avro_spark.sources.avro_ocf import read_avro_files_evolved

        with tr.span("schema.create"):
            avro_spark.create(inputs.EVENT_V1)
            v2 = avro_spark.create(inputs.EVENT_V2)
        with tr.span("plans.compile"):
            plan = avro_spark.compile(v2)
        with tr.span("sources.read_call"):
            records = read_avro_files_evolved(self.spark, self.dir, v2)
        with tr.span("plans.flatten_call"):
            flat = plan.flatten(records)
        with tr.span("sink.noop"):
            flat.write.format("noop").mode("overwrite").save()
        return flat

    def check(self, i: int, flat) -> "list[str]":
        if i % self.check_every:
            return []
        errs = []
        types = dict(flat.dtypes)
        if types.get("total") != "double" or "amount" in types:
            errs.append(f"renamed column amount->total missing: {types}")
        if types.get("user.score") != "bigint":
            errs.append(f"user.score not promoted to long: {types}")
        got = inputs.flat_checksums(flat)
        for k, want in self.expected.items():
            if got.get(k) != want:
                errs.append(f"column {k}: checksum {got.get(k)} != {want}")
        return errs

    def pin_routes(self) -> None:
        import avro_spark
        from avro_spark.sources.avro_ocf import read_avro_files

        ro: dict = {}
        df = read_avro_files(self.spark, self.dir,
                             avro_spark.create(inputs.EVENT_V1), route_out=ro)
        self.routes["read"] = ro.get("engine")
        self.routes["split"] = ro.get("split")
        self.routes["tasks"] = df.rdd.getNumPartitions()
        want = {"setup_write": "jvm", "read": "jvm", "split": False,
                "tasks": self.files * self.copies}
        if self.routes != want:
            raise RouteError(f"{self.name}: routes {self.routes}, declared "
                             "JVM whole-file read, one task per file, and "
                             "JVM write")

    def stored_bytes_per_row(self) -> float:
        return self.input_bytes / self.rows


class IncrementalDedup(Workload):
    """One batch per op: exact probe, MinHash probe of the survivors, then
    append the admitted docs to both indexes."""

    name = "incremental_dedup"
    # Chosen shapes, not measured traffic: no duplicate rates or header
    # overlap of a real corpus are at hand.
    corpus_docs = 11_500
    doc_tokens = 400
    #: documents open with one of ``templates`` headers of half their
    #: tokens: same-header pairs have Jaccard 0.33, and about 2 of the ~12
    #: same-header indexed docs per batch doc become LSH candidates that
    #: fail verification (64 hashes in 16 bands)
    templates = 1000
    header_tokens = doc_tokens // 2
    batch = 200
    exact_share = 0.1
    near_share = 0.1
    rows_per_op = batch

    def setup(self) -> None:
        from concurrent.futures import ThreadPoolExecutor

        from avro_spark.functions.dedup import write_minhash_index
        from avro_spark.functions.exact_index import write_exact_index

        self.exact_path = os.path.join(self.work, "exact_index")
        self.mh_path = os.path.join(self.work, "minhash_index")

        def gen():
            self.gen, texts = inputs.corpus(
                self.seed, self.corpus_docs, self.doc_tokens, self.templates,
                self.header_tokens)
            self.indexed = dict(enumerate(texts))
            return self._frame(list(self.indexed), texts)

        docs = self._timed("gen.input_s", gen)

        def build():
            # the two indexes share no state: build them concurrently, as
            # a pipeline that owns both would
            with ThreadPoolExecutor(2) as pool:
                jobs = [pool.submit(write_exact_index, docs, self.exact_path),
                        pool.submit(write_minhash_index, docs, self.mh_path,
                                    "doc_id", "text")]
                for j in jobs:
                    j.result()

        self._timed("functions.index_build_s", build)
        self.next_id = self.corpus_docs
        self.batches_made = 0
        self.pending: "inputs.Batch | None" = None
        self.probe_index_bytes: "dict[int, int]" = {}

    def _frame(self, ids, texts):
        import pandas as pd

        return self.spark.createDataFrame(
            pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                          "text": pd.Series(texts, dtype=object)}))

    def prepare(self, i: int) -> None:
        """Check the probe routes the next batch will take, note the bytes
        of the tables its probes read, and draw it."""
        b = self.pin_routes()
        self.probe_index_bytes[i] = sum(b.values())
        self.pending = inputs.make_batch(
            self.gen, self.seed, self.batches_made, self.next_id,
            self.batch, self.exact_share, self.near_share, self.indexed)
        self.batches_made += 1
        self.next_id += self.batch

    def pin_routes(self) -> "dict[str, int]":
        """Each probe prunes only at or above the floor: the exact index
        must stay below it, the MinHash shingle table above it. Returns
        the bytes of the tables the probes read."""
        b = {t: parquet_bytes(os.path.join(path, t)) for path, t in (
            (self.exact_path, "fps"), (self.mh_path, "bands"),
            (self.mh_path, "shingles"))}
        self.routes = {
            "exact_probe": ("pruned" if b["fps"] >= PRUNE_FLOOR_BYTES
                            else "single_action"),
            "minhash_probe": ("pruned" if b["shingles"] >= PRUNE_FLOOR_BYTES
                              else "single_action"),
        }
        if self.routes != {"exact_probe": "single_action",
                           "minhash_probe": "pruned"}:
            raise RouteError(f"{self.name}: routes {self.routes} at table "
                             f"bytes {b}, declared exact single_action and "
                             "minhash pruned")
        return b

    def op(self, tr, i: int):
        from avro_spark.functions.dedup import (
            dedup_against_index, write_minhash_index)
        from avro_spark.functions.exact_index import (
            dedup_exact_against_index, write_exact_index)

        b = self.pending
        with tr.span("bench.frame"):
            bdf = self._frame(b.ids, b.texts)
        with tr.span("functions.exact_probe"):
            dec = dedup_exact_against_index(
                self.spark, bdf, self.exact_path).collect()
        with tr.span("bench.frame"):
            dup_of = {r["doc_id"]: r["dup_of"] for r in dec if not r["keep"]}
            text_of = dict(zip(b.ids, b.texts))
            surv = [k for k in b.ids if k not in dup_of]
            sdf = self._frame(surv, [text_of[k] for k in surv])
        with tr.span("functions.minhash_probe"):
            pairs = dedup_against_index(
                self.spark, sdf, self.mh_path, "doc_id", "text").collect()
        with tr.span("bench.frame"):
            near = {}
            for r in pairs:
                near.setdefault(r["new_id"], set()).add(r["corpus_id"])
            admitted = [k for k in surv if k not in near]
            adf = self._frame(admitted, [text_of[k] for k in admitted])
        with tr.span("functions.exact_append"):
            write_exact_index(adf, self.exact_path, mode="append")
        with tr.span("functions.minhash_append"):
            write_minhash_index(adf, self.mh_path, "doc_id", "text",
                                mode="append")
        return dup_of, near, admitted

    def check(self, i: int, result) -> "list[str]":
        dup_of, near, admitted = result
        b = self.pending
        errs = []
        if dup_of != b.exact:
            errs.append(f"exact flags {len(dup_of)} differ from the "
                        f"{len(b.exact)} planted")
        if set(near) != set(b.near) or any(
                b.near[k] not in near[k] for k in b.near):
            errs.append(f"near flags {sorted(near)[:5]} differ from the "
                        f"planted {sorted(b.near)[:5]}")
        want = self.batch - len(b.exact) - len(b.near)
        if len(admitted) != want:
            errs.append(f"admitted {len(admitted)}, want {want}")
        text_of = dict(zip(b.ids, b.texts))
        for k in admitted:
            self.indexed[k] = text_of[k]
        return errs

    def stored_bytes_per_row(self) -> float:
        return ((dir_bytes(self.exact_path) + dir_bytes(self.mh_path))
                / len(self.indexed))


WORKLOADS = {w.name: w for w in (OcfIngest, IncrementalDedup)}

"""The workloads: set-up, one pass, and the check of its output.

Each workload object is built from the generated inputs and the cached
reference; ``setup`` stages inputs (and, for streaming, seeds the
indexes), and ``run_pass`` runs one pass in a fresh directory and
returns a :class:`PassResult`. Every call into the engine sits inside a
span named by the engine module it enters (see ``spans.py``).
"""

from __future__ import annotations

import math
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import reference


@dataclass
class PassResult:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    #: per-unit latencies (seconds) this pass contributes to batch_s
    batch_s: list[float] = field(default_factory=list)
    #: per-micro-batch phase durations from StreamingQueryProgress
    phases: list[dict[str, float]] = field(default_factory=list)
    #: run after the pass timer stops, before the cache is inspected
    after: Callable[[], None] | None = None

    def step(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def _read_parquet_rows(path: str, columns: list[str]) -> list[dict]:
    return pq.read_table(path, columns=columns).to_pylist()


def release_all(spark) -> None:
    """Drop every cached DataFrame and persisted RDD still alive."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def cache_entries(spark) -> int:
    """Persisted RDDs alive now, cached DataFrames included."""
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def check_dedup(ref, pairs, components, kept) -> list[tuple[bool, str]]:
    """One ``(ok, step)`` per pipeline step of a dedup pass: the pairs
    against the DuckDB oracle, the components against a union-find over
    the oracle's pairs, and the kept ids."""
    want = reference.components((a, b) for a, b, _ in ref["pairs"])
    return [
        (sorted(map(list, pairs)) == [list(p) for p in ref["pairs"]],
         "pairs differ from the DuckDB oracle"),
        (components == want, "components differ from the union-find"),
        (sorted(kept) == ref["kept"], "kept ids differ from the reference"),
    ]


def check_admission(ref, batches, neardup, embedding) -> list[tuple[bool, str]]:
    """One ``(ok, step)`` per micro-batch and admission path. A batch
    fails on a path when an id of it is admitted by one side only; every
    batch fails when the arrivals did not get exactly one verdict each."""
    id_batch = {r[0]: i for i, chunk in enumerate(batches) for r in chunk}
    steps = []
    for path, verdicts, key in (("neardup", neardup, "neardup_admitted"),
                                ("embedding", embedding, "embedding_admitted")):
        got = {i for i, verdict in verdicts if verdict == "new"}
        bad = {id_batch.get(i) for i in got ^ set(ref[key])}
        if None in bad or sorted(i for i, _ in verdicts) != sorted(id_batch):
            bad = set(range(len(batches)))
        steps += [(b not in bad, f"{path} verdicts of micro-batch {b} differ")
                  for b in range(len(batches))]
    return steps


class DedupBatch:
    """minhash_lsh_pairs -> connected_components -> keep one doc per
    cluster -> parquet write, checked against the DuckDB pairs oracle and
    a union-find over its pairs."""

    name = "dedup_batch"

    def __init__(self, seed: int, work: str, ref_cache: str):
        self.docs = gen.corpus(seed)
        self.inputs = {**gen.SIZES[self.name], "digest": gen.digest(self.docs)}
        self.ref = reference.cached(
            ref_cache, f"{self.name}-{seed}-{self.inputs['digest']}"
            f"-{gen.digest(reference.dedup_sql())}",
            lambda: reference.dedup_reference(self.docs))
        self.work = work

    def setup(self, spark, spans) -> None:
        self.corpus_path = os.path.join(self.work, "corpus.parquet")
        with spans.span("inputs.stage"):
            pq.write_table(pa.table({
                "doc_id": pa.array([d for d, _ in self.docs], pa.int64()),
                "text": [t for _, t in self.docs],
            }), self.corpus_path)

    def run_pass(self, spark, spans, pass_dir: str) -> PassResult:
        from pyspark.sql import functions as F

        from mrjob_spark.operators.dedup import (
            minhash_lsh_pairs,
            unpersist_intermediates,
        )
        from mrjob_spark.operators.graph import connected_components

        res = PassResult()
        docs = spark.read.parquet(self.corpus_path)
        with spans.span("dedup.minhash_lsh_pairs"):
            pairs = minhash_lsh_pairs(
                docs, "doc_id", "text", threshold=reference.THRESHOLD,
                max_bucket_size=reference.MAX_BUCKET_SIZE)
        with spans.span("dedup.pairs_materialize"):
            pairs = pairs.persist()
            rows = pairs.collect()
        with spans.span("graph.connected_components"):
            labels = connected_components(pairs, "doc_a", "doc_b")
        comp = {r.node: r.component for r in labels.collect()}
        out = os.path.join(pass_dir, "kept.parquet")
        with spans.span("sink.keep_write"):
            keep = (
                docs.join(labels, docs["doc_id"] == labels["node"], "left")
                .where(F.col("component").isNull()
                       | (F.col("component") == F.col("doc_id")))
                .select("doc_id", "text")
            )
            keep.write.parquet(out)
        kept = [r["doc_id"] for r in _read_parquet_rows(out, ["doc_id"])]
        for ok, what in check_dedup(
                self.ref, [(r.doc_a, r.doc_b, r.jaccard) for r in rows], comp, kept):
            res.step(ok, what)
        res.counts["dedup.pairs"] = len(rows)
        res.counts["graph.clusters"] = len(set(comp.values()))
        traced = spans.tag_jobs

        def after():
            if traced:
                # the candidate set behind the pairs, through the
                # operator's release handle (its first persisted
                # intermediate); untimed, so traced and untraced passes
                # time the same work
                cand = getattr(pairs, "_mrjob_spark_persisted", None)
                res.counts["dedup.candidate_pairs"] = cand[0].count() if cand else 0
            unpersist_intermediates(pairs)
            pairs.unpersist()

        res.after = after
        return res


class StreamAdmission:
    """Closed-loop Structured Streaming admission: every micro-batch is
    admitted through the MinHash band index and the IVF cell index, both
    appended to by every batch; checked on the admitted sets of the st12
    and st13 oracles."""

    name = "stream_admission"

    def __init__(self, seed: int, work: str, ref_cache: str):
        self.rows = gen.stream(seed)
        self.n_batches = gen.SIZES[self.name]["batches"]
        self.inputs = {**gen.SIZES[self.name], "digest": gen.digest(self.rows)}
        self.ref = reference.cached(
            ref_cache, f"{self.name}-{seed}-{self.inputs['digest']}"
            f"-{gen.digest(reference.stream_sql())}",
            lambda: reference.stream_reference(self.rows))
        self.work = work

    def setup(self, spark, spans) -> None:
        from mrjob_spark.operators.clustering import assign_cells, kmeans_fit
        from mrjob_spark.operators.dedup import minhash_band_rows

        hist = [r for r in self.rows if r[0] % 10 != 9]
        self.history_path = os.path.join(self.work, "history.parquet")
        self.arrivals_dir = os.path.join(self.work, "arrivals")
        self.seed_bands = os.path.join(self.work, "seed_bands")
        self.seed_cells = os.path.join(self.work, "seed_cells")
        schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                            ("embedding", pa.list_(pa.float32()))])

        def table(rows):
            return pa.table({
                "doc_id": [r[0] for r in rows], "text": [r[1] for r in rows],
                "embedding": [r[2] for r in rows]}, schema=schema)

        with spans.span("inputs.stage"):
            pq.write_table(table(hist), self.history_path)
            os.makedirs(self.arrivals_dir)
            now = time.time()
            for i, chunk in enumerate(gen.arrival_batches(self.rows, self.n_batches)):
                # one plain file per micro-batch; ascending mtimes make
                # micro-batch order == id order (the source orders by mtime)
                path = os.path.join(self.arrivals_dir, f"batch{i:03d}.parquet")
                pq.write_table(table(chunk), path)
                os.utime(path, (now - 100 + i, now - 100 + i))
        history = spark.read.parquet(self.history_path)
        with spans.span("dedup.minhash_band_rows.seed"):
            minhash_band_rows(history, "doc_id", "text").write.parquet(
                self.seed_bands)
        emb = history.select(history["doc_id"].alias("vec_id"), "embedding")
        with spans.span("clustering.kmeans_fit"):
            k = max(16, math.ceil(len(hist) / 125))  # the st13 oracle's rule
            cents = kmeans_fit(emb, k=k, iters=1)
            self.centroid_rows = [(int(r["cluster"]), list(r["cv"]))
                                  for r in cents.collect()]
        with spans.span("clustering.assign_cells.seed"):
            (
                assign_cells(emb, cents, probe=1, passthrough=("embedding",))
                .select("cluster", "vec_id", "embedding")
                .write.partitionBy("cluster").parquet(self.seed_cells)
            )

    def run_pass(self, spark, spans, pass_dir: str) -> PassResult:
        from mrjob_spark.streaming.io import read_stream_parquet
        from mrjob_spark.streaming.ops import (
            embedding_ingest_foreach_batch,
            neardup_ingest_foreach_batch,
        )

        res = PassResult()
        bands = os.path.join(pass_dir, "bands")
        cells = os.path.join(pass_dir, "cells")
        shutil.copytree(self.seed_bands, bands)
        shutil.copytree(self.seed_cells, cells)
        nd_out = os.path.join(pass_dir, "neardup_verdicts")
        emb_out = os.path.join(pass_dir, "embedding_verdicts")
        neardup = neardup_ingest_foreach_batch(bands, nd_out)
        embedding = embedding_ingest_foreach_batch(
            cells, emb_out, self.centroid_rows, probe=2, threshold=0.4)

        def on_batch(batch_df, batch_id):
            # job groups are set here because micro-batches run on the
            # stream thread, not the thread that started the query
            with spans.span("streaming.neardup_admit"):
                neardup(batch_df, batch_id)
            with spans.span("streaming.embedding_admit"):
                embedding(batch_df.withColumnRenamed("doc_id", "vec_id"), batch_id)

        sdf = read_stream_parquet(
            spark, self.arrivals_dir,
            schema="doc_id long, text string, embedding array<float>",
            max_files_per_trigger=1,
        )
        q = (
            sdf.writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", os.path.join(pass_dir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        for p in progress:
            d = p.durationMs
            res.batch_s.append(d.get("triggerExecution", 0) / 1000.0)
            res.phases.append({k: v / 1000.0 for k, v in d.items()})

        batches = gen.arrival_batches(self.rows, self.n_batches)
        nd = _read_parquet_rows(nd_out, ["doc_id", "verdict"])
        ev = _read_parquet_rows(emb_out, ["vec_id", "verdict"])
        for ok, what in check_admission(
                self.ref, batches,
                [(r["doc_id"], r["verdict"]) for r in nd],
                [(r["vec_id"], r["verdict"]) for r in ev]):
            res.step(ok, what)
        n_admit = sum(1 for r in nd if r["verdict"] == "new") + sum(
            1 for r in ev if r["verdict"] == "new")
        res.counts = {
            "streaming.admitted": n_admit,
            "streaming.rejected": len(nd) + len(ev) - n_admit,
            "streaming.index_rows": pq.read_table(bands, columns=["doc_id"]).num_rows
            + pq.read_table(cells, columns=["vec_id"]).num_rows,
        }
        return res


WORKLOADS = {w.name: w for w in (DedupBatch, StreamAdmission)}

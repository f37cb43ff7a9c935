"""The benchmark's workloads: generated inputs, one timed operation, checks.

Every workload is a closed loop with one client: the next operation starts
when the previous one has returned. Inputs come only from ``--seed``; the
program sees nothing but the generated DataFrames.

``warm_up(tracer)`` runs once, untimed, before any timed or compared
operation; it may return an operation result for the repeat checks.
``op(tracer)`` returns a dict with ``wall_s`` (the timed operation),
``batch_walls`` (one entry per user-visible batch), ``docs`` (input docs the
operation processed) and ``fingerprints`` (values that must repeat exactly
across operations of one run).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nhse_probabilistic_linkage_spark.config import DedupConfig
from nhse_probabilistic_linkage_spark.functions.text import prepare_docs, tokenize
from nhse_probabilistic_linkage_spark.plans.evaluate import (
    expected_pairs_at_threshold,
    pair_recall_report,
)
from nhse_probabilistic_linkage_spark.plans.pipeline import DedupPipeline
from nhse_probabilistic_linkage_spark.plans.tiers import tiered_dedup
from nhse_probabilistic_linkage_spark.sources.pages import synth_pages
from nhse_probabilistic_linkage_spark.streaming.incremental import IncrementalDedup

CONFIG = DedupConfig()
MIN_RECALL = 0.99


def fingerprint(df: DataFrame, *cols: str) -> tuple[int, str]:
    """Order-independent (row count, sum of row hashes) in one job."""
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), str(row["h"])


def recall(expected: DataFrame, candidates: DataFrame, verified: DataFrame) -> float:
    """Verified share of the planted pairs at or above the threshold."""
    rep = pair_recall_report(expected, candidates, verified).collect()[0]
    if not rep["expected_pairs"]:
        raise ValueError("the generated corpus has no planted pair above the threshold")
    return float(rep["recall"])


def _synth(spark, tracer, n_docs: int, seed: int, **kw) -> tuple[DataFrame, DataFrame]:
    """(url, text) pages and (doc_id, doc_seq, cluster_id) truth, materialized."""
    with tracer.span("sources.synth_pages"):
        pages, truth = synth_pages(spark, n_docs, seed=seed, **kw)
        pages = pages.select("url", "text").localCheckpoint(eager=True)
        truth = truth.select(
            F.xxhash64("url").alias("doc_id"), "doc_seq", "cluster_id"
        ).localCheckpoint(eager=True)
    return pages, truth


class CrawlBatch:
    """A batch crawl dedup over short synthetic pages (30% planted 8-doc
    blocks): DedupPipeline.run for clusters and canonical docs, then
    tiered_dedup (exact -> near -> semantic, 32-dim embeddings at cosine
    0.98, the cascade shape of bench.py) for the kept set. Both run in the
    production shape (collect_metrics=False)."""

    name = "crawl_batch"
    n_docs = 6_000

    def prepare(self, spark, seed: int, work_dir: str, tracer) -> None:
        self.spark = spark
        self.pages, self.truth = _synth(spark, tracer, self.n_docs, seed, min_tokens=40, max_tokens=120)
        self.docs = self.pages.select(F.xxhash64("url").alias("doc_id"), "text").localCheckpoint(eager=True)
        # stand-in embedding model: a hash-derived pseudo-random direction per
        # 30-token prefix, so prefix-sharing near-dups get identical vectors
        # and unrelated docs land far below the threshold
        prefix = F.concat_ws(" ", F.slice(tokenize(F.col("text")), 1, 30))
        self.emb = self.docs.select(
            "doc_id",
            F.transform(
                F.array(prefix),
                lambda p: F.transform(
                    F.sequence(F.lit(1), F.lit(32)),
                    lambda i: (F.pmod(F.xxhash64(p, i), F.lit(2001)) - 1000).cast("double") / 1000.0,
                ),
            )[0].alias("embedding"),
        ).localCheckpoint(eager=True)

    def _pipeline(self, collect_metrics: bool):
        pipe = DedupPipeline(self.spark, CONFIG, collect_metrics=collect_metrics)
        out = pipe.run(self.pages)
        return pipe, out, fingerprint(out["canonical"], "doc_id", "cluster_id", "canonical_id")

    def warm_up(self, tracer) -> dict:
        """The first operation of a session also compiles its plans; the
        timed ones run warm, as in a long-lived session. Its outputs join
        the repeat checks."""
        return self.op(tracer)

    def op(self, tracer) -> dict:
        t0 = time.monotonic()
        with tracer.span("plans.pipeline.run"):
            _, out, canonical = self._pipeline(collect_metrics=False)
        with tracer.span("plans.tiers.tiered_dedup"):
            status = tiered_dedup(self.docs, CONFIG, embeddings=self.emb, cosine_threshold=0.98,
                                  collect_metrics=False)["status"]
            kept = status.where(F.col("tier") == "kept").count()
            fp = fingerprint(status, "doc_id", "tier", "canonical_id")
        wall = time.monotonic() - t0
        return {"wall_s": wall, "batch_walls": [wall], "docs": self.n_docs, "out": out,
                "fingerprints": {"canonical": canonical, "kept": kept, "status": fp}}

    def cross_check(self) -> dict:
        """The pipeline's metrics shape (collect_metrics=True) must give the
        same clusters; it also reports the program's own StageMetric sum
        beside the measured wall of the same run."""
        t0 = time.monotonic()
        pipe, _, fp = self._pipeline(collect_metrics=True)
        wall = time.monotonic() - t0
        return {"wall_s": wall, "stage_sum_s": sum(m.seconds for m in pipe.metrics),
                "fingerprints": {"canonical": fp}}

    def evaluate(self, first: dict) -> tuple[float, dict[str, bool]]:
        out = first["out"]
        expected = expected_pairs_at_threshold(self.truth, out["prepared"], CONFIG.jaccard_threshold)
        r = recall(expected, out["pairs"], out["verified"])
        return r, {f"pair_recall >= {MIN_RECALL}": r >= MIN_RECALL}


class StreamAppend:
    """IncrementalDedup: a seeded history store, restored before each
    operation, then a fixed sequence of micro-batches with one
    recluster_incremental() and one compact() at fixed points.

    The corpus is split by position in its 8-doc blocks: offsets 0-4 form
    the history, offsets 5-7 arrive in the batches (block b goes to batch
    b mod n_batches), so a batch holds new pages, near-duplicates of
    history docs and new-new pairs. Each batch also replays the history
    urls of its blocks' first docs."""

    name = "stream_append"
    n_docs = 6_400
    n_batches = 4
    n_buckets = 8

    def prepare(self, spark, seed: int, work_dir: str, tracer) -> None:
        self.spark = spark
        pages, self.truth = _synth(spark, tracer, self.n_docs, seed)
        seq = self.truth.select(F.col("doc_id").alias("_id"), "doc_seq")
        corpus = pages.join(seq, F.xxhash64("url") == F.col("_id")).drop("_id")
        offset, block = F.col("doc_seq") % 8, F.floor(F.col("doc_seq") / 8)
        self.pages = pages
        history = corpus.where(offset < 5).select("url", "text")
        self.batches = []
        for b in range(self.n_batches):
            mine = block % self.n_batches == b
            self.batches.append(
                corpus.where(mine & ((offset >= 5) | (offset == 0)))
                .select("url", "text").localCheckpoint(eager=True)
            )
        self.n_submitted = sum(b.count() for b in self.batches)
        self.seed_dir = os.path.join(work_dir, "stream_seed")
        self.run_dir = os.path.join(work_dir, "stream_run")
        shutil.rmtree(self.seed_dir, ignore_errors=True)
        store = IncrementalDedup(spark, self.seed_dir, CONFIG, n_buckets=self.n_buckets)
        store.process_batch(history, 0)
        self.prev_clusters = store.recluster().localCheckpoint(eager=True)

    def warm_up(self, tracer) -> None:
        """A stream runs in a long-lived session, so the timed sequences run
        warm: this short one (recluster_incremental, compact, batch 1)
        passes every plan of the sequence once. Its outputs differ from a
        full sequence's, so it joins no repeat check."""
        self.op(tracer, n_batches=1)

    def op(self, tracer, n_batches: int | None = None) -> dict:
        n_batches = n_batches or self.n_batches
        shutil.rmtree(self.run_dir, ignore_errors=True)
        shutil.copytree(self.seed_dir, self.run_dir)
        store = IncrementalDedup(self.spark, self.run_dir, CONFIG, n_buckets=self.n_buckets)
        walls, files = [], []
        t0 = time.monotonic()
        with tracer.span("streaming.sequence"):
            for b, batch in enumerate(self.batches[:n_batches], start=1):
                if b == n_batches:
                    # fold the outstanding batches, then compact: the order
                    # recluster_incremental's contract asks for
                    with tracer.span("streaming.recluster_incremental"):
                        clusters = store.recluster_incremental(self.prev_clusters, since_batch=0)
                        cfp = fingerprint(clusters, "doc_id", "cluster_id")
                    with tracer.span("streaming.compact"):
                        store.compact()
                before = _count_files(self.run_dir) if tracer.enabled else 0
                tb = time.monotonic()
                with tracer.span("streaming.process_batch"):
                    store.process_batch(batch, b)
                walls.append(time.monotonic() - tb)
                if tracer.enabled:
                    files.append(_count_files(self.run_dir) - before)
        wall = time.monotonic() - t0
        pairs = store.verified_pairs().select("id_l", "id_r")
        return {
            "wall_s": wall, "batch_walls": walls, "docs": self.n_submitted,
            "fingerprints": {"clusters": cfp, "pairs": fingerprint(pairs, "id_l", "id_r")},
            "state_files": _count_files(self.run_dir), "state_bytes": _dir_bytes(self.run_dir),
            "docs_committed": store.stored_sigs().count(), "files_per_batch": files,
            "out": {"pairs": pairs.localCheckpoint(eager=True)},
        }

    def evaluate(self, first: dict) -> tuple[float, dict[str, bool]]:
        """Recall of the store's final pair set."""
        shingles = prepare_docs(self.pages.select(F.xxhash64("url").alias("doc_id"), "text"))
        expected = expected_pairs_at_threshold(self.truth, shingles, CONFIG.jaccard_threshold)
        pairs = first["out"]["pairs"]
        return recall(expected, pairs, pairs), {}

    def cross_check(self) -> dict:
        """DedupPipeline over the same docs must verify the same pair set as
        the store. Traced runs only: the first DedupPipeline of a session
        costs about 5 s."""
        out = DedupPipeline(self.spark, CONFIG, collect_metrics=False).run(self.pages)
        pairs = out["verified"].select("id_l", "id_r")
        return {"fingerprints": {"pairs": fingerprint(pairs, "id_l", "id_r")}}


def _count_files(root: str) -> int:
    return sum(len(files) for _, _, files in os.walk(root))


def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files
    )


def slope(values: list[float]) -> float:
    """Least-squares growth per step of a sequence (0 for one value)."""
    if len(values) < 2:
        return 0.0
    xs = range(len(values))
    mx, my = statistics.fmean(xs), statistics.fmean(values)
    return sum((x - mx) * (y - my) for x, y in zip(xs, values)) / sum((x - mx) ** 2 for x in xs)


WORKLOADS = {w.name: w for w in (CrawlBatch, StreamAppend)}

"""Per-layer metrics from the span table of one traced run.

Walls are span self times measured by the benchmark; CPU, GC, shuffle,
spill and IO bytes come from the Spark event log. Nothing here reads the
program's own ``StageMetric.seconds``, except ``stage_metric_sum_s``, which
is reported beside the measured wall of the same run on purpose.

Layer rows (wall, CPU, shuffle, counts) come from the traced operation,
under the ``trace.traced`` span. Plan-level job, shuffle and spill totals
come from the untraced operation, under ``trace.untraced``: it has the
workload's top-level spans but no layer wrappers, so they describe the
production plan. A layer a workload never calls reads 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from tracing import descendants
from workloads import slope

ROOT_SPANS = ("plans.pipeline.run", "plans.tiers.tiered_dedup", "streaming.sequence")


def per_layer(rows: list[dict], ops: list[dict], cross_check: dict | None, rss, names: list[str]) -> dict:
    """rows: tracing.span_table of the run; ops: the [untraced, traced]
    operation results; cross_check: the workload's cross-check result;
    rss: the run's tracing.RssSampler; names: the per-layer metrics
    BENCHMARK.json lists. A ``<layer>.wall_s``
    name without a rule of its own is the layer span's summed self time."""
    top = {r["name"]: r["id"] for r in rows if r["parent"] == 0}
    in_untraced = descendants(rows, top["trace.untraced"])
    in_traced = descendants(rows, top["trace.traced"])
    by = defaultdict(list)  # set-up spans and the traced operation's spans
    plan = {}  # the untraced operation's top-level spans
    for r in rows:
        if r["id"] not in in_untraced:
            by[r["name"]].append(r)
        elif r["parent"] == top["trace.untraced"]:
            plan[r["name"]] = r

    def wall(name):
        return sum(r["self_s"] for r in by[name])

    def ev(name, key, scope="self"):
        return sum(r[scope][key] for r in by[name])

    def count(name, key):
        return sum(r["counts"].get(key, 0) for r in by[name])

    def below(root):
        """Summed self time of the spans under a traced root span."""
        ids = descendants(rows, root["id"]) - {root["id"]}
        return sum(r["self_s"] for r in rows if r["id"] in ids and r["name"] != "trace.count")

    untraced, traced = ops
    roots = [r for r in rows if r["id"] in in_traced and r["name"] in ROOT_SPANS]
    covered = {r["name"]: below(r) for r in roots}
    pipeline = "plans.pipeline.run" in plan
    cascade = "plans.tiers.tiered_dedup" in plan
    stream = "streaming.sequence" in plan
    metered = cross_check if pipeline and cross_check and "stage_sum_s" in cross_check else None
    verify_in = count("operators.verify.verify_pairs", "pairs_in")
    batches = by["streaming.process_batch"]

    m = {
        "sources.synth_pages.wall_s": wall("sources.synth_pages"),
        "operators.lsh.candidate_pairs.shuffle_write_bytes":
            ev("operators.lsh.candidate_pairs", "shuffle_write_bytes"),
        "operators.lsh.candidate_pairs.pairs_out": count("operators.lsh.candidate_pairs", "pairs_out"),
        "operators.lsh.candidate_pairs.dropped_bands":
            count("operators.lsh.candidate_pairs", "dropped_bands"),
        "operators.verify.verify_pairs.shuffle_write_bytes":
            ev("operators.verify.verify_pairs", "shuffle_write_bytes"),
        "operators.verify.verify_pairs.pass_ratio":
            count("operators.verify.verify_pairs", "pairs_out") / verify_in if verify_in else 0.0,
        "operators.verify.verify_pairs.gated_pairs": count("operators.verify.verify_pairs", "gated_pairs"),
        "operators.connected_components.assign_components.jobs":
            ev("operators.connected_components.assign_components", "jobs"),
        "operators.similarity.embedding_neardup_pairs.pairs_out":
            count("operators.similarity.embedding_neardup_pairs", "pairs_out"),
        "plans.tiers.tiered_dedup.wall_s": wall("plans.tiers.tiered_dedup"),
        "plans.tiers.tiered_dedup.jobs": plan["plans.tiers.tiered_dedup"]["total"]["jobs"] if cascade else 0,
        "plans.tiers.tiered_dedup.shuffle_write_bytes":
            plan["plans.tiers.tiered_dedup"]["total"]["shuffle_write_bytes"] if cascade else 0,
        "plans.pipeline.run.jobs": plan["plans.pipeline.run"]["total"]["jobs"] if pipeline else 0,
        "plans.pipeline.run.spill_bytes": plan["plans.pipeline.run"]["total"]["spill_bytes"] if pipeline else 0,
        "plans.pipeline.run.coverage":
            covered["plans.pipeline.run"] / plan["plans.pipeline.run"]["wall_s"] if pipeline else 0.0,
        "plans.pipeline.run.stage_metric_sum_s": metered["stage_sum_s"] if metered else 0.0,
        "plans.pipeline.run.metered_wall_s": metered["wall_s"] if metered else 0.0,
        "plans.pipeline.run.stage_metric_gap_s":
            metered["stage_sum_s"] - metered["wall_s"] if metered else 0.0,
        "streaming.process_batch.wall_s":
            statistics.median(r["self_s"] for r in batches) if batches else 0.0,
        "streaming.process_batch.bytes_read":
            statistics.fmean(r["total"]["bytes_read"] for r in batches) if batches else 0.0,
        "streaming.process_batch.bytes_written":
            statistics.fmean(r["total"]["bytes_written"] for r in batches) if batches else 0.0,
        "streaming.process_batch.files_written":
            statistics.fmean(traced["files_per_batch"]) if stream else 0.0,
        "streaming.state_files": traced["state_files"] if stream else 0,
        "streaming.state_bytes_per_doc":
            traced["state_bytes"] / traced["docs_committed"] if stream else 0.0,
        "streaming.latency_growth_s": slope(untraced["batch_walls"]) if stream else 0.0,
        "streaming.compact.wall_s": wall("streaming.compact"),
        "streaming.compact.bytes_rewritten": ev("streaming.compact", "bytes_written", "total"),
        "streaming.recluster_incremental.wall_s": wall("streaming.recluster_incremental"),
        "memory.peak_rss_mb": rss.peak_bytes / 2**20,
        "memory.jvm_peak_rss_mb": rss.peak_jvm_bytes / 2**20,
        "trace.untraced_wall_s": untraced["wall_s"],
        "trace.traced_wall_s": traced["wall_s"],
        "trace.overhead_s": traced["wall_s"] - untraced["wall_s"],
        "trace.coverage": sum(covered.values()) / sum(plan[name]["wall_s"] for name in covered),
    }
    for layer in ("functions.prepare_docs", "functions.with_minhash"):
        m[f"{layer}.cpu_s"] = ev(layer, "cpu_s")
        m[f"{layer}.gc_s"] = ev(layer, "gc_s")
    for name in names:
        if name.endswith(".wall_s") and name not in m:
            m[name] = wall(name[: -len(".wall_s")])
    return {name: m[name] for name in names}


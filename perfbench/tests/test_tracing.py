"""Spans, the event-log fold and the layer wrappers on a tiny traced run.

Starts one local[2] Spark session (about 20 s). Run from the repository
root: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import glob
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import tracing  # noqa: E402


@pytest.fixture(scope="module")
def traced_session(tmp_path_factory):
    from nhse_probabilistic_linkage_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    log_dir = tmp_path_factory.mktemp("eventlog")
    conf = {"spark.ui.showConsoleProgress": "false", "spark.driver.memory": "2g"}
    conf.update(tracing.eventlog_conf(str(log_dir)))
    spark = get_spark(app_name="perfbench-test", master="local[2]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    tracer = tracing.Tracer(enabled=True)
    yield spark, tracer, log_dir
    spark.stop()


def test_self_time_subtracts_children():
    tracer = tracing.Tracer(enabled=True)
    with tracer.span("outer"):
        time.sleep(0.05)
        with tracer.span("inner"):
            time.sleep(0.05)
    outer, inner = tracer.spans
    assert inner["parent"] == outer["id"]
    self_t = tracer.self_times()
    assert self_t[outer["id"]] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"])
    )
    assert tracing.descendants(tracer.spans, outer["id"]) == {outer["id"], inner["id"]}


def test_disabled_tracer_records_nothing():
    tracer = tracing.Tracer(enabled=False)
    with tracer.span("x") as rec:
        rec["counts"] = {"n": 1}
    assert tracer.spans == []


def test_event_log_fold_attributes_jobs_to_spans(traced_session):
    spark, tracer, log_dir = traced_session
    from pyspark.sql import functions as F

    with tracer.span("outer"):
        spark.range(1000).agg(F.sum("id")).collect()
        with tracer.span("inner"):
            spark.range(20_000, numPartitions=4).groupBy((F.col("id") % 97).alias("k")).count().collect()
    spark.range(10).count()  # outside every span
    app = spark.sparkContext.applicationId
    spark.stop()
    path = os.path.join(str(log_dir), app)
    assert os.path.isfile(path), glob.glob(os.path.join(str(log_dir), "*"))
    folded = tracing.fold_event_logs([path])
    outer, inner = tracer.spans
    assert folded[outer["id"]]["jobs"] >= 1
    assert folded[inner["id"]]["jobs"] >= 1
    assert folded[inner["id"]]["shuffle_write_bytes"] > 0
    assert folded[inner["id"]]["cpu_s"] > 0
    assert folded[0]["jobs"] >= 1
    rows = {r["name"]: r for r in tracing.span_table(tracer, folded)}
    assert rows["outer"]["total"]["jobs"] == folded[outer["id"]]["jobs"] + folded[inner["id"]]["jobs"]
    assert rows["inner"]["self"]["shuffle_write_bytes"] == folded[inner["id"]]["shuffle_write_bytes"]


def test_layer_spans_wrap_and_restore_every_binding():
    from nhse_probabilistic_linkage_spark.functions import text
    from nhse_probabilistic_linkage_spark.plans import pipeline

    original = text.prepare_docs
    assert pipeline.prepare_docs is original
    tracer = tracing.Tracer(enabled=True)
    with tracing.layer_spans(tracer):
        assert pipeline.prepare_docs is not original
        assert text.prepare_docs is pipeline.prepare_docs
        assert pipeline.prepare_docs.__wrapped__ is original
    assert pipeline.prepare_docs is original and text.prepare_docs is original


def test_layer_spans_over_a_tiny_pipeline():
    from nhse_probabilistic_linkage_spark.plans.pipeline import DedupPipeline
    from nhse_probabilistic_linkage_spark.session import get_spark
    from nhse_probabilistic_linkage_spark.sources.pages import synth_pages

    spark = get_spark(app_name="perfbench-test", master="local[2]",
                      extra_conf={"spark.ui.showConsoleProgress": "false", "spark.driver.memory": "2g"})
    pages, _ = synth_pages(spark, 200, seed=5)
    pages = pages.select("url", "text").localCheckpoint(eager=True)
    tracer = tracing.Tracer(enabled=True)
    try:
        with tracing.layer_spans(tracer), tracer.span("plans.pipeline.run"):
            out = DedupPipeline(spark, collect_metrics=False).run(pages)
            traced = sorted(out["canonical"].collect())
        plain = sorted(DedupPipeline(spark, collect_metrics=False).run(pages)["canonical"].collect())
    finally:
        spark.stop()
    assert traced == plain
    names = {s["name"] for s in tracer.spans}
    assert {name for name in tracing.LAYER_CALLS if name.startswith(("functions.", "operators.lsh",
            "operators.verify", "operators.connected", "operators.best"))} <= names
    cands = next(s for s in tracer.spans if s["name"] == "operators.lsh.candidate_pairs")
    assert cands["counts"]["pairs_out"] >= 0 and cands["counts"]["dropped_bands"] == 0

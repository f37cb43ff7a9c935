"""BENCHMARK.json matches what run.py prints and stays inside its limits.

Run from the repository root: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import layers  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def test_keys_and_limits():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["paths"] == ["perfbench"]
    assert 1 <= b["run_seconds"] <= 60 and isinstance(b["run_seconds"], int)
    assert 2 <= len(b["workloads"]) <= 8
    names = [w["name"] for w in b["workloads"]] + [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in b["end_to_end"] + b["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_printed_names_match_benchmark_json():
    b = _bench()
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    e2e, per_layer = run.metric_units()
    assert list(e2e) == [m["name"] for m in b["end_to_end"]]
    assert list(per_layer) == [m["name"] for m in b["per_layer"]]


def test_every_end_to_end_metric_gets_a_nonzero_value():
    op = {"wall_s": 2.0, "batch_walls": [0.5, 1.5], "docs": 100, "fingerprints": {}}
    m = run.end_to_end([op, op], 2.5, 2**30, 1.0)
    assert set(m) == set(run.metric_units()[0]) and all(m.values())
    assert m["setup_s"] == 2.5 and m["docs_per_s"] == 50.0 and m["batch_latency_p50_s"] == 1.0
    assert m["python_peak_rss_mb"] == 1024.0


def test_every_per_layer_metric_gets_a_value():
    tracer = tracing.Tracer(enabled=True)
    for top in ("trace.untraced", "trace.traced"):
        with tracer.span(top), tracer.span("plans.pipeline.run"), tracer.span("operators.verify.verify_pairs"):
            time.sleep(0.01)
    op = {"wall_s": 1.0, "batch_walls": [1.0]}
    names = list(run.metric_units()[1])
    rss = tracing.RssSampler()
    m = layers.per_layer(tracing.span_table(tracer, {}), [op, op], None, rss, names)
    assert list(m) == names and m["operators.verify.verify_pairs.wall_s"] > 0


def test_host_fields_are_all_compared():
    base = {"nproc": 4, "mem_total_gb": 15.6, "pyspark": "4.1.2", "driver_memory": "12g", "master": "local[4]"}
    assert run.differs(dict(base, mem_total_gb=15.9), base) == []
    assert run.differs(dict(base, mem_total_gb=31.2, pyspark="4.2.0"), base) == ["mem_total_gb", "pyspark"]

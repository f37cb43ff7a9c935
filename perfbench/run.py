"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_batch --seed 1 --seconds 5 --trace 0

Run from the repository root. One process on local[nproc]:

1. set-up: launch the JVM, start the Spark session with the program's own
   heap policy and pass a tiny corpus through every Arrow kernel the
   workloads use (``setup_s``);
2. generate the workload's inputs from ``--seed``;
3. run the workload's untimed warm-up, which compiles the plans of its
   operation, so that every timed or compared operation runs warm;
4. ``--trace 0``: repeat the workload's operation (closed loop, one client)
   until ``--seconds`` of operation time have been measured, then check the
   outputs and print the end-to-end metrics;
   ``--trace 1``: one untraced operation and one traced operation (spans
   around each layer call, Spark event log folded onto the spans), then the
   checks and the per-layer metrics.

The last stdout line is the result JSON. The line before it records the
host. A failed operation or output check makes ``correct`` false and the
exit code 1.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# host_baseline.json fields that may differ by this much and still match
HOST_TOLERANCE = {"mem_total_gb": 0.5}


def metric_units() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json lists
    them."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


_T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _env() -> None:
    """Keep every file Spark and its Python workers write under WORK, and
    let the workers import the package."""
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    sys.path.insert(0, ROOT)


def session_conf(trace: bool) -> dict:
    from tracing import eventlog_conf

    # no heap settings: the session gets the program's own driver memory
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
    }
    if trace:
        conf.update(eventlog_conf(os.path.join(WORK, "eventlog")))
    return conf


def host_info(spark, cores: int) -> dict:
    import pyspark

    with open("/proc/meminfo", encoding="utf-8") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": cores,
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "pyspark": pyspark.__version__,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "master": spark.sparkContext.master,
    }


def differs(host: dict, baseline: dict) -> list[str]:
    """The baseline fields this host does not match."""
    def same(key):
        if key in HOST_TOLERANCE:
            return abs(host.get(key, 0) - baseline[key]) <= HOST_TOLERANCE[key]
        return host.get(key) == baseline[key]

    return sorted(key for key in baseline if not same(key))


def setup(tracer, cores: int, conf: dict):
    """Session start plus one warm-up pass through the Arrow kernels."""
    from pyspark.sql import functions as F

    from nhse_probabilistic_linkage_spark.functions.minhash import with_minhash
    from nhse_probabilistic_linkage_spark.functions.text import prepare_docs
    from nhse_probabilistic_linkage_spark.operators.similarity import make_hyperplane_udf
    from nhse_probabilistic_linkage_spark.session import get_spark

    t0 = time.monotonic()
    with tracer.span("session.get_spark"):
        spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    with tracer.span("setup.warmup"):
        docs = spark.range(0, 64, 1, cores).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", F.transform(F.sequence(F.lit(1), F.lit(12)), lambda i: F.hex(i * F.col("id"))))
            .alias("text"),
        )
        with_minhash(prepare_docs(docs)).agg(F.sum(F.size("minhash"))).collect()
        vecs = F.transform(F.sequence(F.lit(1), F.lit(8)), lambda i: (i + F.col("id") % 7).cast("double"))
        spark.range(64).select(make_hyperplane_udf(8)(vecs).alias("b")).agg(F.count("b")).collect()
    return spark, time.monotonic() - t0


def stop(spark) -> None:
    """Stop the session, the JVM gateway and its process, and wait for them."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - the JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)


def measure(workload, tracer, seconds: float, failures: list) -> list[dict]:
    """Closed loop: run the operation, and repeat it until `seconds` of it
    were timed."""
    ops: list[dict] = []
    timed = 0.0
    while not ops or timed < seconds:
        try:
            res = workload.op(tracer)
        except Exception:  # noqa: BLE001 - count, report and keep the run going
            traceback.print_exc()
            failures.append("operation raised")
            break
        ops.append(res)
        timed += res["wall_s"]
        log(f"operation {len(ops)}: {res['wall_s']:.2f}s, batches "
            + " ".join(f"{w:.2f}" for w in res["batch_walls"]))
    return ops


def guarded(fn, on_error):
    """Run one check; an exception is reported and counts as a failure."""
    try:
        return fn()
    except Exception:  # noqa: BLE001 - a check that cannot run has failed
        traceback.print_exc()
        return on_error


def check_repeats(ops: list[dict], failures: list) -> None:
    """Every operation of a run must reproduce the first one's outputs."""
    for op in ops[1:]:
        for key, value in op["fingerprints"].items():
            if value != ops[0]["fingerprints"][key]:
                failures.append(f"{key} fingerprint differs across repeats")


def end_to_end(ops, setup_s, python_peak_rss, recall_value) -> dict:
    walls = [op["wall_s"] for op in ops]
    batches = [w for op in ops for w in op["batch_walls"]]
    docs = statistics.median(op["docs"] for op in ops)
    return {
        "setup_s": setup_s,
        "docs_per_s": docs / statistics.median(walls),
        "batch_latency_p50_s": statistics.median(batches),
        "pair_recall": recall_value,
        "python_peak_rss_mb": python_peak_rss / 2**20,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    shutil.rmtree(WORK, ignore_errors=True)
    _env()
    import layers  # noqa: PLC0415 - needs the package path set up by _env
    import tracing  # noqa: PLC0415
    from workloads import WORKLOADS  # noqa: PLC0415

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    workload = WORKLOADS[args.workload]()
    cores = len(os.sched_getaffinity(0))
    with open(os.path.join(HERE, "host_baseline.json"), encoding="utf-8") as f:
        baseline = json.load(f)
    e2e_units, layer_units = metric_units()

    traced = bool(args.trace)
    on = tracing.Tracer(enabled=traced)
    off = tracing.Tracer(enabled=False)
    conf = session_conf(traced)
    failures: list[str] = []
    spark = None
    with tracing.RssSampler() as rss:
        try:
            spark, setup_s = setup(on, cores, conf)
            host = host_info(spark, cores)
            log(f"set-up: {setup_s:.2f}s")
            workload.prepare(spark, args.seed, WORK, on)
            log("inputs ready")
            # the session's first operation also compiles its plans, so every
            # timed or compared operation runs after the workload's warm-up
            try:
                warm = workload.warm_up(off)
                log("warm-up done")
            except Exception:  # noqa: BLE001 - a failed warm-up is a failed operation
                traceback.print_exc()
                failures.append("warm-up raised")
                warm = None
            if traced:
                # "Untraced" means without layer wrappers: the workload's own
                # plan-level spans only tag jobs and add no Spark work.
                with on.span("trace.untraced"):
                    ops = measure(workload, on, 0.0, failures)
                with on.span("trace.traced"), tracing.layer_spans(on):
                    ops += measure(workload, on, 0.0, failures)
            else:
                ops = measure(workload, off, args.seconds, failures)
            check_repeats(([warm] if warm else []) + ops, failures)
            recall_value, checks = guarded(lambda: workload.evaluate(ops[0]), (0.0, {"evaluation ran": False}))
            failures += [name for name, ok in checks.items() if not ok]
            cross = None
            if traced and ops and hasattr(workload, "cross_check"):
                cross = guarded(workload.cross_check, {"fingerprints": {"cross-check ran": False}})
                failures += [f"{key} differs from the cross-check" for key, value in cross["fingerprints"].items()
                             if value != ops[0]["fingerprints"].get(key)]
            log(f"checks done: {failures or 'all passed'}")
            app_id = spark.sparkContext.applicationId
        finally:
            if spark is not None:
                stop(spark)

    if traced and len(ops) == 2:
        folded = tracing.fold_event_logs(glob.glob(os.path.join(WORK, "eventlog", "*")))
        rows = tracing.span_table(on, folded)
        metrics = layers.per_layer(rows, ops, cross, rss, list(layer_units))
        with open(os.path.join(WORK, f"spans_{workload.name}.json"), "w", encoding="utf-8") as f:
            json.dump({"app_id": app_id, "spans": rows}, f, indent=1)
        units = layer_units
    elif not traced and ops:
        metrics = end_to_end(ops, setup_s, rss.peak_python_bytes, recall_value)
        units = e2e_units
    else:
        metrics, units = {}, {}
    result = {
        "correct": not failures and bool(metrics),
        "attempted": max(1, len(ops)),
        "failed": min(max(1, len(ops)), len(failures)),
        # every listed metric, or a KeyError: none is printed without a value
        "metrics": {k: {"value": metrics[k], "unit": unit} for k, unit in units.items()} if metrics else {},
    }
    for name in failures:
        print(f"FAILED: {name}", file=sys.stderr)
    print(json.dumps({"host": host, "differs_from_baseline": differs(host, baseline),
                      "baseline_host": baseline, "workload": workload.name, "seed": args.seed}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

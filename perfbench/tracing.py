"""Spans, layer wrappers, the Spark event-log fold and the RSS sampler.

A span is one timed call into a layer: name, start, end and parent. The
tracer tags every Spark job started while a span is innermost with the
span's id (a SparkContext local property), so the event log can be folded
back onto spans: executor CPU, JVM GC, shuffle, spill and IO bytes per span.

Spark plans are lazy, so a call such as ``prepare_docs(df)`` only builds a
plan. The layer wrappers therefore materialize what the call returns
(``localCheckpoint(eager=True)``) inside the span: the layer's work runs in
its own span instead of in whichever later action first consumes it. This
adds cuts that the untraced plan does not have; ``trace.overhead_s`` is the
price.
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"
PACKAGE = "nhse_probabilistic_linkage_spark"

# span name -> (defining module, public function). Every name a loaded
# package module imported from the defining module is wrapped as well.
LAYER_CALLS = {
    "functions.prepare_docs": ("functions.text", "prepare_docs"),
    "functions.with_minhash": ("functions.minhash", "with_minhash"),
    "operators.lsh.candidate_pairs": ("operators.lsh", "candidate_pairs"),
    "operators.verify.verify_pairs": ("operators.verify", "verify_pairs"),
    "operators.connected_components.assign_components": (
        "operators.connected_components", "assign_components",
    ),
    "operators.best_match.elect_canonical": ("operators.best_match", "elect_canonical"),
    "operators.dedup.exact_dedup": ("operators.dedup", "exact_dedup"),
    "operators.similarity.embedding_neardup_pairs": (
        "operators.similarity", "embedding_neardup_pairs",
    ),
}


class Tracer:
    """Records spans when enabled; ``span`` is a cheap no-op otherwise."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans) + 1,
            "name": name,
            "parent": self._stack[-1] if self._stack else 0,
            "start": time.monotonic(),
            "end": None,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        _set_span_property(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            _set_span_property(self._stack[-1] if self._stack else 0)

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the part its child spans cover."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"]:
                out[s["parent"]] -= s["end"] - s["start"]
        return out


def descendants(spans: list[dict], root: int) -> set[int]:
    """Ids of `root` and every span below it."""
    ids = {root}
    for s in spans:  # parents are always recorded before children
        if s["parent"] in ids:
            ids.add(s["id"])
    return ids


def _set_span_property(span_id: int) -> None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.setLocalProperty(SPAN_PROPERTY, str(span_id) if span_id else None)


def materialize(out):
    """Run the plan(s) a layer call returned, keeping the result's shape."""
    from pyspark.sql import DataFrame

    if isinstance(out, DataFrame):
        return out.localCheckpoint(eager=True)
    if isinstance(out, tuple):
        return tuple(materialize(o) for o in out)
    return out


def _count_outputs(name: str, rec: dict, args: tuple, kwargs: dict, out) -> None:
    """Work counts at the layer boundary, taken on the materialized output."""
    if name == "operators.lsh.candidate_pairs":
        rec["counts"]["pairs_out"] = out[0].count()
        rec["counts"]["dropped_bands"] = out[1].count()
    elif name == "operators.verify.verify_pairs":
        pairs_in = kwargs.get("pairs", args[0] if args else None)
        rec["counts"]["pairs_in"] = pairs_in.count()
        rec["counts"]["pairs_out"] = out.count()
        gate = kwargs.get("gate_metrics")
        if gate:
            rec["counts"]["gated_pairs"] = int(gate.get("pairs_gated_out", 0))
    elif name == "operators.similarity.embedding_neardup_pairs":
        rec["counts"]["pairs_out"] = (out[0] if isinstance(out, tuple) else out).count()


@contextmanager
def layer_spans(tracer: Tracer):
    """Wrap every LAYER_CALLS function, wherever a package module bound it,
    for the duration of the block."""
    patched: list[tuple[object, str, object]] = []
    for name, (mod_name, attr) in LAYER_CALLS.items():
        original = getattr(importlib.import_module(f"{PACKAGE}.{mod_name}"), attr)
        wrapper = _wrap(tracer, name, original)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(PACKAGE) and getattr(mod, attr, None) is original:
                patched.append((mod, attr, original))
                setattr(mod, attr, wrapper)
    try:
        yield
    finally:
        for mod, attr, original in patched:
            setattr(mod, attr, original)


def _wrap(tracer: Tracer, name: str, fn):
    def wrapper(*args, **kwargs):
        with tracer.span(name) as rec:
            out = materialize(fn(*args, **kwargs))
        # counting jobs get their own span so they add to no layer's numbers
        with tracer.span("trace.count"):
            _count_outputs(name, rec, args, kwargs, out)
        return out

    wrapper.__wrapped__ = fn
    return wrapper


# -- event log ----------------------------------------------------------------
def eventlog_conf(log_dir: str) -> dict:
    """Session config for one plain JSON-lines event log file per app."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


_FIELDS = ("jobs", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "bytes_read", "bytes_written")


def _zeros() -> dict:
    return dict.fromkeys(_FIELDS, 0)


def fold_event_logs(paths: list[str]) -> dict[int, dict]:
    """Sum task metrics per span id (0 = no span) over event log files, one
    file per SparkContext.

    Within a file, tasks belong to the first job that lists their stage, and
    a job belongs to the span whose id was its ``perfbench.span`` local
    property."""
    out: dict[int, dict] = defaultdict(_zeros)
    for path in paths:
        stage_job: dict[int, int] = {}
        job_span: dict[int, int] = {}
        tasks: list[tuple[int, dict]] = []
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = ev["Job ID"]
                    job_span[job] = int((ev.get("Properties") or {}).get(SPAN_PROPERTY) or 0)
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault(st, job)
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    tasks.append((ev["Stage ID"], ev["Task Metrics"]))
        for span in job_span.values():
            out[span]["jobs"] += 1
        for stage, m in tasks:
            acc = out[job_span.get(stage_job.get(stage, -1), 0)]
            acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            acc["bytes_read"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            acc["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return dict(out)


def span_table(tracer: Tracer, folded: dict[int, dict]) -> list[dict]:
    """One row per span: self wall plus self and inclusive event-log sums."""
    self_t = tracer.self_times()
    rows = []
    for s in tracer.spans:
        own = folded.get(s["id"], _zeros())
        total = _zeros()
        for sid in descendants(tracer.spans, s["id"]):
            for k, v in folded.get(sid, {}).items():
                total[k] += v
        rows.append({
            "id": s["id"], "name": s["name"], "parent": s["parent"],
            "wall_s": s["end"] - s["start"], "self_s": self_t[s["id"]],
            "self": own, "total": total, "counts": dict(s["counts"]),
        })
    return rows


# -- memory -------------------------------------------------------------------
class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM, the
    Python worker daemon and its workers), sampled from /proc: of all of
    them (``peak_bytes``), of the Python processes alone, this one included
    (``peak_python_bytes``), and of the rest, the JVM (``peak_jvm_bytes``)."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_python_bytes = 0
        self.peak_jvm_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        root = os.getpid()
        while not self._stop.is_set():
            total, python = tree_rss_pages(root)
            self.peak_bytes = max(self.peak_bytes, total * page)
            self.peak_python_bytes = max(self.peak_python_bytes, python * page)
            self.peak_jvm_bytes = max(self.peak_jvm_bytes, (total - python) * page)
            self._stop.wait(self.interval_s)


def tree_rss_pages(root: int) -> tuple[int, int]:
    """Summed resident pages of `root`, its children (the JVM) and the Python
    processes below them (the worker daemon and its workers): of all of
    them, and of the Python processes alone (`root` included).

    The JVM starts the Python daemon by vfork: until the child execs, it
    shares the JVM's memory, and /proc shows it with the JVM's whole RSS
    under the name of the thread that spawned it. Processes deeper than
    `root`'s children count only when they run Python."""
    procs: dict[int, tuple[int, str]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", encoding="utf-8") as f:
                    head, tail = f.read().rsplit(")", 1)
                procs[int(entry)] = (int(tail.split()[1]), head.split("(", 1)[1])
            except (OSError, IndexError, ValueError):
                continue  # the process ended while we read it
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        kids = [
            c for c, (pp, comm) in procs.items()
            if pp == p and c not in tree and (p == root or comm.startswith("python"))
        ]
        tree.update(kids)
        frontier.extend(kids)
    total = python = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/statm", encoding="utf-8") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
        total += pages
        if pid == root or procs[pid][1].startswith("python"):
            python += pages
    return total, python

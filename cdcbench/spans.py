"""Traced-run mode: spans around the engine's public calls, Spark
executor accounting per span, and the per-layer table built from both.

Spans (name, start, end, parent) are kept in memory and written as JSON
when the run ends. While a span is open, every Spark job and stage the
run submits carries the span's id in the local property ``cdcbench.span``;
the uncompressed event log then attributes each task's executor time,
CPU, GC, shuffle and spill bytes to the innermost open span, and to its
ancestors. Spans are opened by one thread at a time: the stream's
``foreachBatch`` callback runs while the main thread waits in
``awaitTermination``, so one stack serves both threads.

Layer names are module paths of the engine: ``lake.table.merge_cdc`` is
``etl_spark.lake.table.LakeTable.merge_cdc``.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from contextlib import contextmanager

PROP = "cdcbench.span"


class Tracer:
    """``enabled=False`` makes every span a no-op (the untraced run)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[int, dict[str, int]] = {}
        self._stack: list[int] = []
        self._sc = None
        self.clock_start: float | None = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def start_clock(self) -> None:
        self.clock_start = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_prop(str(sid))
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_prop(str(self._stack[-1]) if self._stack else None)

    def _set_prop(self, value) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(PROP, value)

    def count(self, what: str) -> None:
        """Count one event against the innermost open span."""
        if self.enabled and self._stack:
            c = self.counts.setdefault(self._stack[-1], {})
            c[what] = c.get(what, 0) + 1

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def inner(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return inner

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"clock_start": self.clock_start, "spans": self.spans,
                       "counts": {str(k): v for k, v in self.counts.items()}}, f)


def instrument(tracer: Tracer) -> list:
    """Wrap the engine's layer entry points for the traced run. Returns
    the undo list for ``restore``. Patching module attributes is enough
    because the engine looks these names up at call time
    (``apply_batch`` calls ``decide_salt`` through its module globals,
    ``process_batch`` calls ``lineage_stats`` likewise)."""
    import etl_spark.cdc.replay as replay
    import etl_spark.lake.incremental as inc
    import etl_spark.streaming.driver as drv
    from etl_spark.lake.table import LakeTable

    undo = []

    def patch(owner, attr, name):
        orig = getattr(owner, attr)
        undo.append((owner, attr, orig))
        setattr(owner, attr, tracer.wrap(name, orig))

    patch(LakeTable, "has_epoch", "streaming.driver.fence")
    patch(drv, "lineage_stats", "streaming.driver.lineage")
    patch(LakeTable, "merge_cdc", "lake.table.merge_cdc")
    patch(LakeTable, "compact", "lake.table.compact")
    patch(LakeTable, "expire_versions", "lake.table.expire_versions")
    patch(replay, "decide_salt", "cdc.replay.decide_salt")
    patch(replay, "decide_payload_resolve", "cdc.replay.decide_payload_resolve")
    patch(replay, "apply_batch", "cdc.replay.apply_batch")
    patch(inc, "sync", "lake.incremental.sync")
    patch(inc, "sync_agg", "lake.incremental.sync_agg")
    patch(inc, "sync_join", "lake.incremental.sync_join")

    orig_manifest = LakeTable.manifest
    undo.append((LakeTable, "manifest", orig_manifest))

    @functools.wraps(orig_manifest)
    def manifest(self, *a, **kw):
        tracer.count("manifest_reads")
        return orig_manifest(self, *a, **kw)

    LakeTable.manifest = manifest
    return undo


def restore(undo: list) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)


# ---------- event log -> per-span executor accounting ----------

def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Parse every (uncompressed) event log under ``log_dir``. Returns
    (jobs_by_span {span_id: n_jobs}, stages {stage_key: {span, tasks}})
    where each task is a dict of its metrics."""
    jobs: dict[int, int] = {}
    stage_span: dict[tuple, int] = {}
    stage_tasks: dict[tuple, list] = {}
    for fn in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fn)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sid = (ev.get("Properties") or {}).get(PROP)
                    if sid is not None:
                        jobs[int(sid)] = jobs.get(int(sid), 0) + 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    sid = (ev.get("Properties") or {}).get(PROP)
                    if sid is not None:
                        stage_span[(info["Stage ID"], info["Stage Attempt ID"])] = int(sid)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    stage_tasks.setdefault(key, []).append({
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    })
    stages = {k: {"span": stage_span[k], "tasks": t} for k, t in stage_tasks.items() if k in stage_span}
    return jobs, stages


def _ancestors(spans: list[dict], sid: int):
    while sid is not None:
        yield sid
        sid = spans[sid]["parent"]


def span_accounting(tracer: Tracer, log_dir: str | None) -> dict[int, dict]:
    """Inclusive per-span totals: wall seconds, jobs, tasks, executor
    run/CPU/GC seconds, shuffle and spill bytes, manifest reads, and the
    worst stage's task-time skew (max / median task run time)."""
    spans = tracer.spans
    acc = {s["id"]: {"wall_s": s["end"] - s["start"], "jobs": 0, "tasks": 0, "run_s": 0.0,
                     "cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                     "spill_bytes": 0, "task_skew": 0.0, "manifest_reads": 0}
           for s in spans if s["end"] is not None}
    for sid, c in tracer.counts.items():
        for a in _ancestors(spans, sid):
            if a in acc:
                acc[a]["manifest_reads"] += c.get("manifest_reads", 0)
    if log_dir and os.path.isdir(log_dir):
        jobs, stages = read_event_log(log_dir)
        for sid, n in jobs.items():
            for a in _ancestors(spans, sid):
                if a in acc:
                    acc[a]["jobs"] += n
        for st in stages.values():
            tasks = st["tasks"]
            runs = sorted(t["run_s"] for t in tasks)
            med = statistics.median(runs)
            skew = runs[-1] / med if len(runs) > 1 and med > 0 else 1.0
            for a in _ancestors(spans, st["span"]):
                if a not in acc:
                    continue
                x = acc[a]
                x["tasks"] += len(tasks)
                for k in ("run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
                          "shuffle_write_bytes", "spill_bytes"):
                    x[k] += sum(t[k] for t in tasks)
                x["task_skew"] = max(x["task_skew"], skew)
    return acc


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


CHECK = "bench.check"    # spans under it (correctness re-runs) are left out of the table
INGEST = ("streaming.driver.process_batch", "cdc.replay.apply_batch")


def layer_metrics(tracer: Tracer, log_dir: str | None,
                  extra: dict[str, tuple[float, str]]) -> dict[str, dict]:
    """The per-layer table. ``<layer>_s`` is the median inclusive wall
    time of one call; executor figures are medians per call. Only calls
    after the clock started count (except ``session.start``), and none
    made inside a correctness check. ``lake.table.merge*`` covers the
    ingest merges (those inside a micro-batch or an ``apply_batch``);
    ``*_per_commit`` covers every ``merge_cdc`` call, view syncs and
    one-row upserts included."""
    acc = span_accounting(tracer, log_dir)
    spans = tracer.spans
    t0 = tracer.clock_start if tracer.clock_start is not None else float("-inf")
    calls: dict[str, list[tuple[dict, set]]] = {}
    for s in spans:
        if s["id"] not in acc:
            continue
        up = {spans[a]["name"] for a in _ancestors(spans, s["parent"])}
        if CHECK in up or (s["start"] < t0 and s["name"] != "session.start"):
            continue
        calls.setdefault(s["name"], []).append((acc[s["id"]], up))

    def med(name, key, only_under=None):
        return _median([a[key] for a, up in calls.get(name, [])
                        if only_under is None or up.intersection(only_under)])

    out: dict[str, tuple[float, str]] = {"session.start_s": (med("session.start", "wall_s"), "s")}
    for name in ("streaming.driver.process_batch", "streaming.driver.fence",
                 "streaming.driver.lineage", "cdc.replay.decide_salt",
                 "cdc.replay.decide_payload_resolve", "cdc.replay.apply_batch",
                 "lake.table.compact", "lake.table.expire_versions", "lake.incremental.sync",
                 "lake.incremental.sync_agg", "lake.incremental.sync_join",
                 "lake.table.read_keys", "lake.table.read"):
        out[f"{name}_s"] = (med(name, "wall_s"), "s")
    for name in ("streaming.driver.process_batch", "cdc.replay.apply_batch",
                 "lake.incremental.sync", "lake.incremental.sync_agg",
                 "lake.incremental.sync_join"):
        out[f"{name}.jobs"] = (med(name, "jobs"), "count")
    merge = "lake.table.merge_cdc"
    out["lake.table.merge_cdc_s"] = (med(merge, "wall_s", INGEST), "s")
    for key, unit in (("tasks", "count"), ("run_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
                      ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
                      ("spill_bytes", "bytes"), ("task_skew", "ratio")):
        label = {"run_s": "executor_run_s", "cpu_s": "executor_cpu_s"}.get(key, key)
        out[f"lake.table.merge.{label}"] = (med(merge, key, INGEST), unit)
    out["lake.table.jobs_per_commit"] = (med(merge, "jobs"), "count")
    out["lake.table.manifest_reads_per_commit"] = (med(merge, "manifest_reads"), "count")
    out["lake.table.delta_depth"] = (0.0, "count")
    out.update(extra)
    return {k: {"value": float(v), "unit": u} for k, (v, u) in out.items()}

"""Tracing for the per-layer run (``--trace 1``).

Spans are recorded from the benchmark's side of each layer boundary:
``install`` wraps the public entry points the workloads call (catalog
discovery, topo sort, watermark store, per-table replication, target
overwrite, merge stats) and the benchmark wraps its own calls into
``queries`` and Spark. Spans stay in memory and are written out when
the run ends. Spark work is attributed through job groups: each
operation runs under its own group, and every ``replicate_table``
worker thread sets a group of its own because pool threads do not
inherit the caller's. Spark's own task metrics come from the event
log, parsed after the session stops. py4j commands are counted at the
gateway client.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = True
        self.op: str | None = None
        self.op_span: int | None = None
        self.py4j_calls = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else self.op_span
        stack.append(sid)
        start = time.time()
        try:
            yield attrs
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self.op, attrs))

    @contextmanager
    def operation(self, op: str, spark, kind: str):
        """One timed operation: a root span plus a Spark job group."""
        self.op = op
        spark.sparkContext.setJobGroup(op, kind)
        try:
            with self.span("op", kind=kind) as attrs:
                self.op_span = self._local.stack[-1]
                yield attrs
        finally:
            spark.sparkContext.setJobGroup("", "")
            self.op = None
            self.op_span = None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _wrap(tracer: Tracer, fn, name: str):
    def wrapped(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    wrapped.__wrapped__ = fn
    return wrapped


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under a directory."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files


def install(tracer: Tracer, spark) -> callable:
    """Wrap the layers' public entry points; returns the undo."""
    import pyarrow.parquet as pq

    from oracle_to_oracle_data_integration_pipeline_spark import catalog as cat_mod
    from oracle_to_oracle_data_integration_pipeline_spark.operators import cdc as cdc_mod
    from oracle_to_oracle_data_integration_pipeline_spark.operators import watermark as wm_mod
    from oracle_to_oracle_data_integration_pipeline_spark.plans import pipeline as pl_mod

    saved: list[tuple[object, str, object]] = []

    def patch(owner, attr, new):
        saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    sc = spark.sparkContext
    orig_discover = cat_mod.Catalog.__dict__["from_parquet_dir"].__func__
    patch(cat_mod.Catalog, "from_parquet_dir",
          classmethod(_wrap(tracer, orig_discover, "catalog.discover")))
    patch(pl_mod, "topo_sort_tables", _wrap(tracer, pl_mod.topo_sort_tables, "topo.sort"))
    patch(pl_mod, "topo_depths", _wrap(tracer, pl_mod.topo_depths, "topo.sort"))
    patch(wm_mod.WatermarkStore, "get", _wrap(tracer, wm_mod.WatermarkStore.get, "watermark.get"))
    patch(wm_mod.WatermarkStore, "upsert",
          _wrap(tracer, wm_mod.WatermarkStore.upsert, "watermark.upsert"))
    orig_stats = cdc_mod.MergeResult.stats

    def stats(self):
        with tracer.span("cdc.stats") as attrs:
            out = orig_stats(self)
        attrs["staged"] = out.staged
        return out

    patch(cdc_mod.MergeResult, "stats", stats)
    for name in ("merge_soft_delete", "latest_per_key"):
        patch(pl_mod, name, _wrap(tracer, getattr(pl_mod, name), "cdc.build"))

    orig_table = pl_mod.CdcPipeline.replicate_table

    def replicate_table(self, table):
        sc.setJobGroup(f"{tracer.op}|{table}", "replicate_table")
        try:
            with tracer.span("pipeline.table", table=table) as attrs:
                res = orig_table(self, table)
                attrs["status"] = res.status
                return res
        finally:
            sc.setJobGroup("", "")

    patch(pl_mod.CdcPipeline, "replicate_table", replicate_table)

    orig_overwrite = pl_mod.ParquetTargetStore.overwrite

    def overwrite(self, table, df):
        with tracer.span("target.overwrite", table=table) as attrs:
            orig_overwrite(self, table, df)
        nbytes, nfiles = dir_bytes(self.path(table))
        attrs["bytes"], attrs["files"] = nbytes, nfiles
        attrs["rows"] = sum(
            pq.ParquetFile(p).metadata.num_rows
            for p in glob.glob(os.path.join(self.path(table), "*.parquet"))
        )

    patch(pl_mod.ParquetTargetStore, "overwrite", overwrite)

    client = sc._gateway._gateway_client
    orig_send = client.send_command

    def send_command(*args, **kwargs):
        tracer.py4j_calls += 1  # one closed-loop client: races only lose counts
        return orig_send(*args, **kwargs)

    client.send_command = send_command

    def undo():
        for owner, attr, old in reversed(saved):
            setattr(owner, attr, old)
        client.send_command = orig_send

    return undo


# -- event log --------------------------------------------------------

@dataclass
class JobStats:
    group: str
    start: float
    end: float
    stages: set = field(default_factory=set)


def parse_event_log(log_dir: str) -> tuple[dict[int, JobStats], dict[int, dict]]:
    """Jobs (with group and interval) and per-stage task totals."""
    jobs: dict[int, JobStats] = {}
    stage_tot: dict[int, dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    jobs[jid] = JobStats(group, ev["Submission Time"] / 1000.0, 0.0,
                                         set(ev.get("Stage IDs", [])))
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    t = stage_tot.setdefault(ev["Stage ID"], {
                        "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                        "shuffle_write": 0, "shuffle_read": 0, "spill": 0})
                    t["tasks"] += 1
                    t["run_ms"] += m.get("Executor Run Time", 0)
                    t["cpu_ns"] += m.get("Executor CPU Time", 0)
                    t["gc_ms"] += m.get("JVM GC Time", 0)
                    t["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    r = m.get("Shuffle Read Metrics") or {}
                    t["shuffle_read"] += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                    t["spill"] += m.get("Disk Bytes Spilled", 0)
    return jobs, stage_tot


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: (s.end - s.start) - _union(kids.get(s.id, [])) for s in spans}


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(tracer: Tracer, passes: list[list[str]], log_dir: str, cores: int,
                  depths: dict[str, int] | None) -> dict[str, float]:
    """Per-layer metrics: each is summed over one pass's operations
    (ratios are pooled), and the median over traced passes is kept."""
    jobs, stage_tot = parse_event_log(log_dir)
    spans = tracer.spans
    own = self_times(spans)
    by_op: dict[str, list[Span]] = {}
    for s in spans:
        if s.op is not None:
            by_op.setdefault(s.op, []).append(s)
    jobs_by_op: dict[str, list[JobStats]] = {}
    for j in jobs.values():
        op = j.group.split("|")[0].split(":")[0]
        if op:
            jobs_by_op.setdefault(op, []).append(j)

    def op_metrics(op: str) -> dict[str, float]:
        ss = by_op[op]
        root = next(s for s in ss if s.name == "op")
        wall = root.end - root.start
        js = jobs_by_op.get(op, [])
        tot = {k: 0 for k in ("tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_write",
                              "shuffle_read", "spill")}
        n_stages = 0
        for j in js:
            for sid in j.stages:
                t = stage_tot.get(sid)
                if t:
                    n_stages += 1
                    for k in tot:
                        tot[k] += t[k]
        by_name: dict[str, list[Span]] = {}
        for s in ss:
            by_name.setdefault(s.name, []).append(s)

        def named(n: str) -> list[Span]:
            return by_name.get(n, [])

        tables = named("pipeline.table")
        table_jobs = [j for j in js if "|" in j.group]
        overwrites = named("target.overwrite")
        staged = sum(s.attrs.get("staged", 0) for s in named("cdc.stats"))
        wave_wait = 0.0
        if depths and tables:
            waves: dict[int, list[float]] = {}
            for s in tables:
                waves.setdefault(depths.get(s.attrs["table"], 0), []).append(s.end)
            wave_wait = sum(max(e) - min(e) for e in waves.values())
        return {
            "wall": wall,
            "catalog.discover_s": sum(own[s.id] for s in named("catalog.discover")),
            "topo.sort_s": sum(own[s.id] for s in named("topo.sort")),
            "watermark.get_s": sum(own[s.id] for s in named("watermark.get")),
            "watermark.upsert_s": sum(own[s.id] for s in named("watermark.upsert")),
            "pipeline.table_s": sum(own[s.id] for s in tables),
            "pipeline.tables_replicated": sum(s.attrs.get("status") == "replicated" for s in tables),
            "pipeline.tables_empty": sum(s.attrs.get("status") == "empty_delta" for s in tables),
            "pipeline.wave_wait_s": wave_wait,
            "_table_calls": len(tables),
            "_table_jobs": len(table_jobs),
            "target.overwrite_s": sum(own[s.id] for s in overwrites),
            "target.bytes_written": sum(s.attrs.get("bytes", 0) for s in overwrites),
            "target.files_written": sum(s.attrs.get("files", 0) for s in overwrites),
            "_rows_rewritten": sum(s.attrs.get("rows", 0) for s in overwrites),
            "_staged": staged,
            "cdc.stats_s": sum(own[s.id] for s in named("cdc.stats")),
            "queries.build_s": sum(own[s.id] for s in named("queries.build")),
            "queries.py4j_calls": sum(s.attrs.get("py4j", 0) for s in named("queries.build")),
            "queries.eager_jobs": sum(1 for j in js if j.group.endswith(":build")),
            "queries.catalyst_s": sum(s.attrs.get("catalyst_s", 0.0) for s in named("queries.execute")),
            "spark.jobs": len(js),
            "spark.stages": n_stages,
            "spark.tasks": tot["tasks"],
            "spark.task_cpu_s": tot["cpu_ns"] / 1e9,
            "spark.gc_s": tot["gc_ms"] / 1000.0,
            "spark.shuffle_write_bytes": tot["shuffle_write"],
            "spark.shuffle_read_bytes": tot["shuffle_read"],
            "spark.spill_bytes": tot["spill"],
            "_run_s": tot["run_ms"] / 1000.0,
            "spark.driver_gap_s": max(0.0, wall - _union([(j.start, j.end) for j in js if j.end])),
            "trace.uncovered_s": own[root.id],
        }

    per_pass = []
    for ops in passes:
        ms = [op_metrics(op) for op in ops]
        agg = {k: sum(m[k] for m in ms) for k in ms[0]}
        agg["spark.core_busy_ratio"] = agg["_run_s"] / (agg["wall"] * cores) if agg["wall"] else 0.0
        agg["spark.jobs_per_table"] = agg["_table_jobs"] / agg["_table_calls"] if agg["_table_calls"] else 0.0
        agg["cdc.useful_ratio"] = agg["_staged"] / agg["_rows_rewritten"] if agg["_rows_rewritten"] else 0.0
        agg["trace.uncovered_ratio"] = agg["trace.uncovered_s"] / agg["wall"] if agg["wall"] else 0.0
        per_pass.append(agg)
    keys = [k for k in per_pass[0] if not k.startswith("_") and k != "wall"]
    return {k: _median(p[k] for p in per_pass) for k in keys}

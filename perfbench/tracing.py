"""Traced-run tooling: spans around the program's public calls, Spark job
attribution through job groups, and event-log parsing.

Installed only in a traced run, whose untraced and traced passes run in
lockstep; ``active`` is on only while an op of the traced pass runs. Every
wrapped call made inside such an op records a span (layer, name, start,
end, parent, op); the span's id is set as the Spark job group while it is
the innermost span, so the event log ties each job (and its stages' task
metrics) to the span that launched it.
Spans stay in memory and are written out when the run ends.

Layers use the program's module names: ``tableio`` (sources.tableio
``SnapshotTable``), ``pipeline`` (plans.pipeline ``TierPipeline``),
``operators`` (rollup, cascade, keep_latest as the pipeline calls them,
gap_fill), ``codecs`` (functions.codecs) and ``bench`` (the op itself:
driver time outside the program, e.g. collecting a result).
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

TABLEIO_CALLS = (
    "append",
    "overwrite_partitions",
    "read",
    "read_incremental",
    "delete_partitions",
    "compact",
    "expire_snapshots",
)
PIPELINE_CALLS = (
    "ingest",
    "refresh",
    "pack_tier",
    "point_read",
    "read_tier",
    "retention",
    "maintain",
)
#: names the pipeline module imported from operators/codecs
OPERATOR_CALLS = ("rollup", "cascade", "keep_latest")
CODEC_CALLS = ("pack_series", "unpack_series")
DECODE_CALLS = ("decode_ts", "decode_vals")
BOOKKEEPING_TABLES = ("lineage", "metrics")
TIERS = ("daily", "dekadal", "monthly")
#: table mutators whose commits are counted (files, bytes, manifests)
MUTATORS = ("append", "overwrite_partitions", "delete_partitions", "compact")
#: substring of the SQL metric names Spark gives Python-worker traffic
PYTHON_BYTES_METRIC = "Python workers"

#: every per-layer metric a traced run reports, in BENCHMARK.json order
LAYER_METRICS = (
    ["session.start_s"]
    + [f"tableio.{c}.{k}" for c in TABLEIO_CALLS for k in ("s", "calls")]
    + [
        "tableio.read.bookkeeping_s",
        "tableio.read.branches",
        "tableio.files_written",
        "tableio.bytes_written",
        "tableio.manifest_bytes_written",
        "tableio.commit_retries",
        "tableio.self_s",
        "pipeline.ingest.s",
        "pipeline.refresh.daily.s",
        "pipeline.refresh.dekadal.s",
        "pipeline.refresh.monthly.s",
        "pipeline.refresh.self_s",
        "pipeline.pack_tier.s",
        "pipeline.point_read.s",
        "pipeline.retention.s",
        "pipeline.maintain.s",
        "pipeline.self_s",
        "operators.refresh_daily.executor_cpu_s",
        "operators.refresh_daily.shuffle_write_bytes",
        "operators.refresh_daily.spill_bytes",
        "operators.refresh_daily.task_skew",
        "operators.cascade.executor_cpu_s",
        "operators.ingest_write.task_skew",
        "operators.gap_fill.s",
        "operators.self_s",
        "codecs.pack.executor_cpu_s",
        "codecs.pack.python_bytes",
        "codecs.decode.s",
        "codecs.decode.calls",
        "codecs.decode.points",
        "codecs.compression_ratio",
        "codecs.self_s",
        "bench.self_s",
        "spark.jobs_per_op",
        "spark.tasks_per_op",
        "trace.overhead_s",
        "trace.overhead_share",
    ]
)


class Tracer:
    """Span recorder for one traced run (see module docstring)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.active = False
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self._patches: list[tuple] = []

    # ------------------------------------------------------------- spans

    def _group(self, span: dict | None) -> None:
        self.sc.setLocalProperty(
            "spark.jobGroup.id", None if span is None else f"span-{span['id']}"
        )

    @contextmanager
    def op(self, name: str):
        """One timed op; spans outside an active op are not recorded."""
        if not self.active:
            yield
            return
        op = {"id": len(self.ops), "name": name}
        self.ops.append(op)
        with self.span("bench", name) as sp:
            yield
        op["s"] = sp["end"] - sp["start"]

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.active or not self.ops:
            yield None
            return
        sp = {
            "id": next(self._ids),
            "layer": layer,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.ops[-1]["id"],
        }
        self._stack.append(sp)
        self._group(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)
            self.spans.append(sp)

    # ---------------------------------------------------------- wrappers

    def _wrap(self, owner, attr: str, layer: str, name=None, before=None, after=None):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active or not tracer._stack:
                return orig(*args, **kwargs)
            label = name(args, kwargs) if callable(name) else (name or attr)
            with tracer.span(layer, label) as sp:
                state = before(sp, args, kwargs) if before else None
                out = orig(*args, **kwargs)
                if after:
                    after(sp, state, args, out)
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        from c3s_sm_spark.functions import codecs
        from c3s_sm_spark.plans import pipeline
        from c3s_sm_spark.sources import tableio

        table = tableio.SnapshotTable
        for call in TABLEIO_CALLS:
            self._wrap(
                table, call, "tableio",
                before=self._table_before if call in MUTATORS or call == "read" else _table_name,
                after=self._table_after if call in MUTATORS or call == "read" else None,
            )
        self._count_conflicts(table, tableio.CommitConflictError)

        for call in PIPELINE_CALLS:
            self._wrap(pipeline.TierPipeline, call, "pipeline", name=_pipeline_name(call))
        for call in OPERATOR_CALLS:
            self._wrap(pipeline, call, "operators")
        for call in CODEC_CALLS:
            self._wrap(pipeline, call, "codecs")
        for call in DECODE_CALLS:
            self._wrap(codecs, call, "codecs", after=self._decoded_points)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def _count_conflicts(self, table, conflict) -> None:
        """Commit retries: commits that lost an optimistic-concurrency race
        (the caller then retries or fails)."""
        commit = table._commit
        tracer = self

        @functools.wraps(commit)
        def counted(*args, **kwargs):
            try:
                return commit(*args, **kwargs)
            except conflict:
                if tracer.active:
                    tracer.counters["commit_retries"] += 1
                raise

        table._commit = counted
        self._patches.append((table, "_commit", commit))

    # table-span hooks: what a call read or committed, from the manifests

    @staticmethod
    def _table_before(sp, args, kwargs):
        tbl = args[0]
        sp["table"] = os.path.basename(tbl.root)
        if sp["name"] == "read":
            spark = args[1]
            sid = kwargs.get("snapshot_id", args[2] if len(args) > 2 else None)
            sid = sid or tbl.head()
            return sid, (id(spark), sid) not in tbl._read_cache
        head = tbl.head()
        return head, set(tbl._files(head)) if head else set()

    def _table_after(self, sp, state, args, out):
        tbl = args[0]
        if sp["name"] == "read":
            sid, miss = state
            if miss and sid is not None:
                subtrees = {f.split(os.sep)[1] for f in tbl._files(sid)}
                self.counters["read_branches"] += len(subtrees)
            return
        old_head, old_files = state
        sid = tbl.head()
        while sid is not None and sid != old_head:
            self.counters["manifest_bytes_written"] += os.path.getsize(
                os.path.join(tbl.man_dir, f"snap-{sid}.json")
            )
            sid = tbl._manifest(sid)["parent"]
        new = set(tbl._files()) - old_files
        self.counters["files_written"] += len(new)
        self.counters["bytes_written"] += sum(
            os.path.getsize(os.path.join(tbl.root, f)) for f in new
        )

    def _decoded_points(self, sp, state, args, out) -> None:
        if sp["name"] == "decode_vals":
            self.counters["decoded_points"] += len(out)

    # ------------------------------------------------------------ output

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"ops": self.ops, "spans": self.spans}, f)

    def metrics(self, event_log_dir: str, untraced, traced,
                session_s: float) -> dict[str, float]:
        """Per-layer metrics from the traced pass, per measured op (totals
        / op count) unless the name says otherwise; ``untraced`` and
        ``traced`` are the two passes' ``Measured``. See
        perfbench/README.md."""
        n = len(traced.op_s)
        by_id = {s["id"]: s for s in self.spans}
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)

        def dur(s):
            return s["end"] - s["start"]

        def self_s(s):
            return dur(s) - sum(dur(c) for c in children[s["id"]])

        def spans(layer, name=None, table=None):
            return [
                s for s in self.spans
                if s["layer"] == layer and (name is None or s["name"] == name)
                and (table is None or s.get("table") in table)
            ]

        def under(s, layer, name_prefix):
            """Is ``s`` inside a span of ``layer`` whose name starts so?"""
            while s["parent"] is not None:
                s = by_id[s["parent"]]
                if s["layer"] == layer and s["name"].startswith(name_prefix):
                    return True
            return False

        out: dict[str, float] = {"session.start_s": session_s}
        for call in TABLEIO_CALLS:
            ss = spans("tableio", call)
            out[f"tableio.{call}.s"] = sum(map(dur, ss)) / n
            out[f"tableio.{call}.calls"] = len(ss) / n
        out["tableio.read.bookkeeping_s"] = sum(
            map(dur, spans("tableio", "read", BOOKKEEPING_TABLES))
        ) / n
        out["tableio.read.branches"] = self.counters["read_branches"] / n
        for k in ("files_written", "bytes_written", "manifest_bytes_written", "commit_retries"):
            out[f"tableio.{k}"] = self.counters[k] / n
        out["pipeline.ingest.s"] = sum(map(dur, spans("pipeline", "ingest"))) / n
        for tier in ("daily", "dekadal", "monthly"):
            out[f"pipeline.refresh.{tier}.s"] = sum(
                map(dur, spans("pipeline", f"refresh.{tier}"))
            ) / n
        out["pipeline.refresh.self_s"] = sum(
            self_s(s) for s in spans("pipeline") if s["name"].startswith("refresh")
        ) / n
        for call in ("pack_tier", "point_read", "retention", "maintain"):
            out[f"pipeline.{call}.s"] = sum(map(dur, spans("pipeline", call))) / n

        jobs = parse_event_log(event_log_dir)
        by_span: dict[int, list[dict]] = defaultdict(list)
        for job in jobs:
            if job["span"] is not None and job["span"] in by_id:
                by_span[job["span"]].append(job)

        def writes(call, tables, parent):
            """Jobs of ``call`` on one of ``tables`` inside a pipeline
            span whose name starts with ``parent``."""
            return [
                j
                for s in spans("tableio", call, tables)
                if under(s, "pipeline", parent)
                for j in by_span[s["id"]]
            ]

        daily = writes("overwrite_partitions", ("daily",), "refresh.daily")
        out["operators.refresh_daily.executor_cpu_s"] = _sum(daily, "cpu_s") / n
        out["operators.refresh_daily.shuffle_write_bytes"] = _sum(daily, "shuffle_write") / n
        out["operators.refresh_daily.spill_bytes"] = _sum(daily, "spill") / n
        out["operators.refresh_daily.task_skew"] = _skew(daily)
        cascade = writes("overwrite_partitions", ("dekadal", "monthly"), "refresh")
        out["operators.cascade.executor_cpu_s"] = _sum(cascade, "cpu_s") / n
        out["operators.ingest_write.task_skew"] = _skew(writes("append", ("raw",), "ingest"))
        out["operators.gap_fill.s"] = sum(map(dur, spans("operators", "gap_fill"))) / n
        pack = writes(
            "overwrite_partitions", tuple(f"{t}_packed" for t in TIERS), "pack_tier"
        )
        out["codecs.pack.executor_cpu_s"] = _sum(pack, "cpu_s") / n
        out["codecs.pack.python_bytes"] = _sum(pack, "python_bytes") / n
        decodes = [s for s in spans("codecs") if s["name"] in DECODE_CALLS]
        out["codecs.decode.s"] = sum(map(dur, decodes)) / n
        out["codecs.decode.calls"] = len(decodes) / n
        out["codecs.decode.points"] = self.counters["decoded_points"] / n
        out["codecs.compression_ratio"] = traced.details["compression_ratio"]
        for layer in ("tableio", "pipeline", "operators", "codecs", "bench"):
            out[f"{layer}.self_s"] = sum(map(self_s, spans(layer))) / n
        op_jobs = [j for j in jobs if j["span"] in by_id]
        out["spark.jobs_per_op"] = len(op_jobs) / n
        out["spark.tasks_per_op"] = _sum(op_jobs, "tasks") / n
        # measured time per op, traced pass minus untraced pass; the
        # passes ran the same ops in lockstep, so the means are paired
        base = untraced.wall_s / len(untraced.op_s)
        out["trace.overhead_s"] = traced.wall_s / n - base
        out["trace.overhead_share"] = out["trace.overhead_s"] / base
        return {k: out[k] for k in LAYER_METRICS}


def _table_name(sp, args, kwargs):
    sp["table"] = os.path.basename(args[0].root)


def _pipeline_name(call: str):
    if call != "refresh":
        return call

    def name(args, kwargs):
        tiers = kwargs.get("tiers", args[1] if len(args) > 1 else None)
        return "refresh." + ("+".join(tiers) if tiers else "all")

    return name


def _sum(jobs: list[dict], key: str) -> float:
    return float(sum(j[key] for j in jobs))


def _skew(jobs: list[dict]) -> float:
    """Max / median task time of the widest stage (most tasks) among
    ``jobs``; 1.0 when there is no stage with more than one task."""
    stages = [st for j in jobs for st in j["stages"].values() if len(st) > 1]
    if not stages:
        return 1.0
    widest = max(stages, key=len)
    med = statistics.median(widest)
    return max(widest) / med if med > 0 else 1.0


def parse_event_log(log_dir: str) -> list[dict]:
    """Jobs from a Spark event log with their span (job group) and task
    metrics: executor CPU, shuffle write, spill, Python-worker bytes and
    per-stage task durations."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                job = {
                    "span": int(group[5:]) if group.startswith("span-") else None,
                    "cpu_s": 0.0, "shuffle_write": 0, "spill": 0,
                    "python_bytes": 0, "tasks": 0, "stages": defaultdict(list),
                }
                jobs[ev["Job ID"]] = job
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                tm = ev.get("Task Metrics")
                if job is None or not tm:
                    continue
                info = ev["Task Info"]
                job["tasks"] += 1
                job["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                job["shuffle_write"] += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                job["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                job["python_bytes"] += sum(
                    int(a.get("Update", 0))
                    for a in info.get("Accumulables", [])
                    if PYTHON_BYTES_METRIC in str(a.get("Name", ""))
                    and "data" in str(a.get("Name", ""))
                )
                job["stages"][ev["Stage ID"]].append(
                    (info["Finish Time"] - info["Launch Time"]) / 1e3
                )
    return list(jobs.values())

"""Spans kept in memory, and the per-layer split read from Spark's event log.

An operation is one timed call sequence against the package: a registered
query (``build`` = the ``QUERIES[name](spark, sf)`` call, ``write`` = the
noop write that executes it) or one daily-ETL step. With tracing on, each
phase runs under its own Spark job group (``<op>:build`` / ``<op>:write``),
so the uncompressed event log attributes every job, stage, task and SQL
execution to the operation and phase that fired it. ``write`` is then split
at the first SQL-execution start of its group into ``plan`` (analysis,
optimization and planning) and ``exec`` (execution and result return).

Self time of a span is its duration minus the union of its child spans.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # perf_counter seconds
    end: float
    parent: int | None
    op: int

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Op:
    """One timed operation and what the trace learned about it."""

    id: int
    name: str
    module: str
    pass_no: int
    span: int  # index of the op span in Tracer.spans
    ok: bool = True
    error: str | None = None
    counts: dict = field(default_factory=dict)


class Tracer:
    """Records spans in memory; with ``enabled`` it also tags Spark job
    groups, counts py4j round trips and samples persisted-RDD state."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled, self.spark = enabled, spark
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self.rpc = 0
        self._stack: list[int] = []
        # perf_counter → epoch offset, to line spans up with event-log ms
        self.epoch = time.time() - time.perf_counter()

    def install_rpc_counter(self) -> None:
        import py4j.java_gateway as jg

        orig = jg.GatewayClient.send_command
        tracer = self

        def counting(client, *a, **k):
            tracer.rpc += 1
            return orig(client, *a, **k)

        jg.GatewayClient.send_command = counting

    def _open(self, name: str, op: int) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self) -> None:
        self.spans[self._stack.pop()].end = time.perf_counter()

    def op(self, name: str, module: str, pass_no: int) -> "_OpCtx":
        return _OpCtx(self, name, module, pass_no)

    def phase(self, spark, op: Op, phase: str) -> "_PhaseCtx":
        return _PhaseCtx(self, spark, op, phase)

    def sample_storage(self, op: Op) -> None:
        """Persisted RDDs and their stored size after an operation."""
        sc = self.spark.sparkContext._jsc.sc()
        op.counts["persisted_rdds"] = sc.getPersistentRDDs().size()
        op.counts["persisted_mb"] = sum(
            i.memSize() + i.diskSize() for i in sc.getRDDStorageInfo()) / MB

    def op_time(self, op: Op) -> float:
        return self.spans[op.span].dur

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        doc = {
            "epoch_offset": self.epoch,
            "spans": [s.__dict__ for s in self.spans],
            "ops": [o.__dict__ for o in self.ops],
            **extra,
        }
        with open(path, "w") as f:
            json.dump(doc, f)


class _OpCtx:
    def __init__(self, tracer: Tracer, name: str, module: str, pass_no: int):
        self.t, self.name, self.module, self.pass_no = (
            tracer, name, module, pass_no)

    def __enter__(self) -> Op:
        t = self.t
        op = Op(len(t.ops), self.name, self.module, self.pass_no, -1)
        op.span = t._open("op:" + self.name, op.id)
        t.ops.append(op)
        self.opv = op
        return op

    def __exit__(self, etype, exc, tb):
        self.t._close()
        if self.t.enabled:
            self.t.sample_storage(self.opv)
        if exc is not None and isinstance(exc, Exception):
            self.opv.ok = False
            self.opv.error = f"{etype.__name__}: {str(exc)[:300]}"
            return True  # the failure is counted, the run goes on
        return False


class _PhaseCtx:
    def __init__(self, tracer: Tracer, spark, op: Op, phase: str):
        self.t, self.spark, self.op, self.phase = tracer, spark, op, phase

    def __enter__(self):
        t = self.t
        # The job-group calls sit inside the phase span, so tracing cost
        # lands in the phase rather than in the operation's self time.
        t._open(self.phase, self.op.id)
        if t.enabled:
            self.spark.sparkContext.setJobGroup(
                f"op{self.op.id}:{self.phase}", self.op.name)
            self.rpc0 = t.rpc
        return self

    def __exit__(self, *exc):
        t = self.t
        if t.enabled:
            self.op.counts[f"{self.phase}_rpc"] = t.rpc - self.rpc0
            self.spark.sparkContext.setJobGroup("bench:idle", "")
        t._close()
        return False


# --- event log --------------------------------------------------------------


_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def read_event_log(path: str) -> dict:
    """Jobs (with their stages), per-stage task metrics, and SQL-execution
    start times, keyed by job group. A torn last line is skipped."""
    jobs, stages, groups = {}, {}, {}
    with open(path) as f:
        for line in f:
            try:
                e = json.loads(line)
            except ValueError:
                continue
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[e["Job ID"]] = [s["Stage ID"] for s in e["Stage Infos"]]
                groups.setdefault(group, {"jobs": [], "execs": []})[
                    "jobs"].append(e["Job ID"])
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                stages.setdefault(e["Stage ID"], []).append((
                    m.get("Executor Run Time", 0) / 1000,
                    m.get("Executor CPU Time", 0) / 1e9,
                    m.get("JVM GC Time", 0) / 1000,
                    (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0),
                    m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                ))
            elif ev == _SQL_START:
                groups.setdefault(e.get("jobGroupId"), {"jobs": [], "execs": []})[
                    "execs"].append(e["time"] / 1000)
    return {"jobs": jobs, "stages": stages, "groups": groups}


MB = 1024 * 1024


def job_stats(log: dict, job_ids: list[int]) -> dict:
    """Summed task metrics over the stages of ``job_ids``."""
    out = dict(jobs=len(job_ids), stages=0, tasks=0, task_s=0.0, cpu_s=0.0,
               gc_s=0.0, input_mb=0.0, shuffle_read_mb=0.0,
               shuffle_write_mb=0.0, spill_mb=0.0, task_skew=1.0)
    worst = 0.0
    for jid in job_ids:
        for sid in log["jobs"][jid]:
            tasks = log["stages"].get(sid)
            if not tasks:
                continue  # skipped stage: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += len(tasks)
            run = [t[0] for t in tasks]
            out["task_s"] += sum(run)
            out["cpu_s"] += sum(t[1] for t in tasks)
            out["gc_s"] += sum(t[2] for t in tasks)
            out["input_mb"] += sum(t[3] for t in tasks) / MB
            out["shuffle_read_mb"] += sum(t[4] for t in tasks) / MB
            out["shuffle_write_mb"] += sum(t[5] for t in tasks) / MB
            out["spill_mb"] += sum(t[6] for t in tasks) / MB
            med = statistics.median(run)
            if max(run) > worst and med > 0:
                worst = max(run)
                out["task_skew"] = max(run) / med
    return out


def self_time(spans: list[Span], i: int) -> float:
    """Duration of span ``i`` minus the union of its children."""
    kids = sorted((s.start, s.end) for s in spans if s.parent == i)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return spans[i].dur - covered


def split_ops(tracer: Tracer, log: dict) -> list[dict]:
    """Per-op layer record: build / plan / exec spans (added to the span
    list as children of the op), job and task stats per phase, from the
    event log of the session that ran the ops."""
    spans, ep = tracer.spans, tracer.epoch
    out = []
    for op in tracer.ops:
        kids = {spans[i].name: i for i in range(len(spans))
                if spans[i].parent == op.span}
        rec = {"op": op.id, "name": op.name, "module": op.module,
               "pass": op.pass_no, "ok": op.ok, "latency": spans[op.span].dur,
               "build_rpc": op.counts.get("build_rpc", 0),
               "persisted_rdds": op.counts.get("persisted_rdds", 0),
               "persisted_mb": op.counts.get("persisted_mb", 0.0)}
        g = log["groups"]
        b = g.get(f"op{op.id}:build", {"jobs": [], "execs": []})
        w = g.get(f"op{op.id}:write", {"jobs": [], "execs": []})
        rec["build"] = job_stats(log, b["jobs"])
        rec["exec"] = job_stats(log, w["jobs"])
        rec["build_s"] = spans[kids["build"]].dur if "build" in kids else 0.0
        if "write" in kids:
            ws = spans[kids["write"]]
            starts = [t - ep for t in w["execs"]]
            cut = min(starts) if starts else ws.end
            cut = min(max(cut, ws.start), ws.end)
            spans[kids["write"]] = Span("plan", ws.start, cut, op.span, op.id)
            spans.append(Span("exec", cut, ws.end, op.span, op.id))
            rec["plan_s"], rec["exec_s"] = cut - ws.start, ws.end - cut
        else:
            rec["plan_s"] = rec["exec_s"] = 0.0
        rec["self_s"] = self_time(spans, op.span)
        out.append(rec)
    return out

"""Traced-run tooling: spans, wrapped public functions, the job-group
ledger, event-log decoding and the streaming progress breakdown.

Everything here observes the engine from outside: spans are opened
around calls into public functions, and Spark's own accounting is read
back through ``statusTracker``, the event log and
``StreamingQueryProgress``.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

# Which end-to-end metric each per-layer metric should move, and on
# which workload (printed beside the per-layer numbers).
LAYER_MOVES = {
    "session.get_spark_s": ("setup_s", "all"),
    "spec.compile_s": ("op_p50_s", "curate_batch, search_serve"),
    "sinks.write_s": ("op_p50_s, work_per_s", "curate_batch"),
    "materialize.pins_per_op": ("setup_s", "search_serve (the LSH pass); work_per_s on curate_batch"),
    "materialize.s_per_op": ("setup_s", "search_serve (the LSH pass); work_per_s on curate_batch"),
    "spark.jobs_per_op": ("work_per_s, op_p50_s", "curate_batch, search_serve"),
    "spark.stages_per_op": ("work_per_s, op_p50_s", "curate_batch, search_serve"),
    "spark.tasks_per_op": ("work_per_s, op_p50_s", "curate_batch, search_serve"),
    "spark.executor_cpu_s": ("work_per_s, work_per_cpu_s", "curate_batch, stream_ingest"),
    "spark.gc_s": ("work_per_s, work_per_cpu_s", "curate_batch, stream_ingest"),
    "spark.shuffle_write_bytes": ("work_per_s, work_per_cpu_s", "curate_batch, stream_ingest"),
    "spark.python_udf_s": ("work_per_s, work_per_cpu_s", "curate_batch, stream_ingest"),
    "streaming.add_batch_s": ("work_per_s, op_p50_s", "stream_ingest"),
    "streaming.query_planning_s": ("work_per_s, op_p50_s", "stream_ingest"),
    "streaming.wal_commit_s": ("work_per_s, op_p50_s", "stream_ingest"),
    "streaming.commit_offsets_s": ("work_per_s, op_p50_s", "stream_ingest"),
    "streaming.latest_offset_s": ("work_per_s, op_p50_s", "stream_ingest"),
    "streaming.state_rows": ("work_per_s, op_p50_s", "stream_ingest"),
    "streaming.state_commit_s": ("work_per_s, op_p50_s", "stream_ingest"),
    "streaming.state_memory_bytes": ("peak_pss_mb", "stream_ingest"),
    "streaming.state_partitions": ("work_per_s, op_p50_s", "stream_ingest"),
    "sources.backlog_files_end": ("work_per_s", "stream_ingest"),
    "similarity.build_s": ("setup_s", "search_serve"),
    "similarity.append_s": ("work_per_s", "search_serve"),
    "similarity.query_compile_s": ("op_p50_s", "search_serve"),
    "similarity.query_collect_s": ("op_p50_s", "search_serve"),
    "similarity.codes_rows": ("op_p50_s, work_per_s", "search_serve"),
    "trace.op_p50_s": ("(none: op_p50_s with tracing on, for the overhead)", "all"),
}


class Tracer:
    """In-memory spans: name, start, end, parent span and op id.

    ``span`` records only while ``enabled`` and only on the thread that
    created the tracer (the single client thread); wrapped functions
    check both on every call, so one process can switch between traced
    and untraced ops.
    """

    def __init__(self) -> None:
        self.enabled = False
        self._owner = threading.get_ident()
        self.op_id: int | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled or threading.get_ident() != self._owner:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap_everywhere(self, func, name: str) -> None:
        """Replace ``func`` by a span-recording wrapper in every loaded
        ``nekton_spark`` module that bound it (``from x import f``
        copies the reference, so patching only the defining module
        would miss callers)."""

        def wrapper(*args, **kwargs):
            with self.span(name):
                return func(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("nekton_spark"):
                for attr, val in list(vars(mod).items()):
                    if val is func:
                        setattr(mod, attr, wrapper)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def per_op(self, name: str, ops: list[int]) -> list[float]:
        """Summed duration of ``name`` spans for each op in ``ops``."""
        acc = {op: 0.0 for op in ops}
        for s in self.spans:
            if s["name"] == name and s["op"] in acc:
                acc[s["op"]] += s["end"] - s["start"]
        return [acc[op] for op in ops]

    def count_per_op(self, name: str, ops: list[int]) -> list[int]:
        acc = {op: 0 for op in ops}
        for s in self.spans:
            if s["name"] == name and s["op"] in acc:
                acc[s["op"]] += 1
        return [acc[op] for op in ops]

    def dump(self, path: str) -> None:
        st = self.self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(s, self_s=st[s["id"]])) + "\n")

    def summary(self) -> list[tuple[str, int, float, float]]:
        """(name, count, total s, self s) per span name."""
        st = self.self_times()
        agg: dict[str, list] = {}
        for s in self.spans:
            a = agg.setdefault(s["name"], [0, 0.0, 0.0])
            a[0] += 1
            a[1] += s["end"] - s["start"]
            a[2] += st[s["id"]]
        return [(k, *v) for k, v in sorted(agg.items())]


def job_ledger(sc, group: str) -> dict:
    """Exact job, stage and task counts of one job group, read back
    through ``statusTracker`` right after the group's op."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            stage = tracker.getStageInfo(sid)
            # a stage skipped because its shuffle output was reused never
            # submits tasks; count only stages that ran
            if stage is not None and stage.numCompletedTasks + stage.numFailedTasks > 0:
                stages += 1
                tasks += stage.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


# SQL metric (milliseconds per task) of time spent inside Python workers
_PY_RUN_TIME = "time to run Python workers"


def decode_event_log(log_dir: str) -> dict[str, dict]:
    """Per job-group totals from an uncompressed event log: jobs, stages
    that ran, tasks, executor CPU, GC, shuffle-write bytes and
    Python-worker time. A streaming micro-batch's jobs are keyed
    ``<runId>#<batchId>``."""
    stage_key: dict[int, str] = {}
    totals: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    key = props.get("spark.jobGroup.id") or ""
                    batch = props.get("streaming.sql.batchId")
                    if batch is not None:
                        key = f"{key}#{batch}"
                    for sid in ev.get("Stage IDs", []):
                        stage_key[sid] = key
                    t = totals.setdefault(key, dict.fromkeys(
                        ("jobs", "stages", "tasks", "executor_cpu_s", "gc_s",
                         "shuffle_write_bytes", "python_udf_s"), 0))
                    t["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    key = stage_key.get(ev["Stage Info"]["Stage ID"])
                    if key is not None:
                        totals[key]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    key = stage_key.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if key is None or not m:
                        continue
                    t = totals[key]
                    t["tasks"] += 1
                    t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == _PY_RUN_TIME and "Update" in acc:
                            t["python_udf_s"] += float(acc["Update"]) / 1e3
    return totals


def progress_breakdown(p: dict) -> dict:
    """The ``durationMs`` and ``stateOperators`` parts of one
    ``StreamingQueryProgress`` (as its JSON dict) the benchmark reports."""
    d = p.get("durationMs") or {}
    ops = p.get("stateOperators") or []
    return {
        "trigger_s": d.get("triggerExecution", 0) / 1e3,
        "add_batch_s": d.get("addBatch", 0) / 1e3,
        "query_planning_s": d.get("queryPlanning", 0) / 1e3,
        "wal_commit_s": d.get("walCommit", 0) / 1e3,
        "commit_offsets_s": d.get("commitOffsets", 0) / 1e3,
        "latest_offset_s": d.get("latestOffset", 0) / 1e3,
        "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
        "state_commit_s": sum(o.get("commitTimeMs", 0) for o in ops) / 1e3,
        "state_memory_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
        "state_partitions": sum(o.get("numShufflePartitions", 0) for o in ops),
        "input_rows": p.get("numInputRows", 0),
    }

#!/usr/bin/env python3
"""nekton_spark benchmark: one workload per process.

    python3 perfbench/run.py --workload curate_batch --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The process starts its own
``local[nproc]`` Spark session through ``nekton_spark.session.get_spark``,
generates the workload's inputs from ``--seed``, warms the workload until
its op times settle (counted in ``setup_s``), then runs a closed loop from
this single client thread for ``--seconds`` and checks every op's output.

``--trace 0`` prints the end-to-end metrics and records the run's
``op_p50_s`` in ``.perfbench_out/``. ``--trace 1`` traces every timed op,
prints the per-layer metrics, writes the spans to ``.perfbench_out/`` and
reports the tracing overhead as its main-op median over the ``op_p50_s``
an untraced run of the same workload recorded (the same seed when there
is one). The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

import time

T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from types import SimpleNamespace  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")
DRIVER_HEAP = "3g"  # a fifth of a 15 GB host: room for the workers and the page cache
SETTLE_TOL = 0.10  # warm-up ends when the last ops' median is this close to the ones before


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _session_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _install_wrappers(tracer) -> None:
    """Wrap the public layer functions; spans record only while the
    tracer is enabled. Modules imported later bind the wrapper, because
    the defining module's attribute is patched too."""
    from nekton_spark import materialize
    from nekton_spark.functions import similarity

    for mod, fn, name in (
        (materialize, "materialize", "materialize"),
        (similarity, "ivfpq_index_build", "similarity.build"),
        (similarity, "ivfpq_index_append", "similarity.append"),
        (similarity, "ivfpq_index_query", "similarity.query"),
    ):
        tracer.wrap_everywhere(getattr(mod, fn), name)


def _settled(walls) -> bool:
    """The median of the last third of the warm-up op times (at least
    three ops) is within ``SETTLE_TOL`` of the median of as many ops
    before them; the first op, which pays for cold start, is never
    compared."""
    k = max(3, math.ceil((len(walls) - 1) / 3))
    if len(walls) - 1 < 2 * k:
        return False
    return abs(_median(walls[-k:]) / _median(walls[-2 * k : -k]) - 1) <= SETTLE_TOL


class Runner:
    def __init__(self, wl, tracer, procstat):
        self.wl = wl
        self.tracer = tracer
        self.procstat = procstat
        self.next_id = 0

    def _one(self, index: int, traced: bool):
        self.tracer.enabled = traced
        try:
            return self.wl.next_op(self.next_id, self.wl.kind_of(index), traced)
        finally:
            self.tracer.enabled = False
            self.next_id += 1

    def warm(self) -> list:
        """Ops until at least ``min_warm`` main-kind ops have run and
        their times settle, or ``max_warm`` main-kind ops."""
        walls, samples = [], []
        while len(walls) < self.wl.max_warm and not self.wl.exhausted:
            s = self._one(len(samples), False)
            samples.append(s)
            if s.kind != self.wl.main_kind:
                continue
            walls.append(s.wall_s)
            if len(walls) >= self.wl.min_warm and _settled(walls):
                break
        return samples

    def timed(self, seconds: float, traced: bool):
        """Closed loop for ``seconds``; the op in flight at the deadline
        completes. Returns (samples, CPU seconds of the process tree)."""
        samples = []
        cpu0 = self.procstat.tree_cpu_s()
        end = time.monotonic() + seconds
        while time.monotonic() < end and not self.wl.exhausted:
            try:
                samples.append(self._one(len(samples), traced))
            except Exception:  # the op counts as failed; the loop cannot go on
                self.wl.errors.append(traceback.format_exc())
                samples.append(None)
                break
        return samples, self.procstat.tree_cpu_s() - cpu0


def _drift(samples):
    """Median of the last third over the median of the first third of
    the timed phase, minus one (None below 3 ops). Each op time is first
    divided by the median of its kind, so appends count alongside
    queries; thirds round up, so each holds at least two ops from six
    ops on and one fast or slow op cannot decide the gate alone."""
    done = [s for s in samples if s is not None]
    if len(done) < 3:
        return None
    med = {k: _median([s.wall_s for s in done if s.kind == k]) for k in {s.kind for s in done}}
    norm = [s.wall_s / med[s.kind] for s in done]
    k = math.ceil(len(norm) / 3)
    return _median(norm[-k:]) / _median(norm[:k]) - 1


def _end_to_end(samples, cpu_s, setup_s, wl, peak_mem) -> dict:
    done = [s for s in samples if s is not None]
    main = [s.wall_s for s in done if s.kind == wl.main_kind]
    items = sum(s.items for s in done)
    wall = sum(s.wall_s for s in done)
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (_median(main), "s"),
        "work_per_s": (items / wall if wall else 0.0, "1/s"),
        "work_per_cpu_s": (items / cpu_s if cpu_s > 0 else 0.0, "1/cpu_s"),
        "quality": (_median(wl.quality), "share"),
        "peak_pss_mb": (peak_mem / 2**20, "MB"),
    }


def _per_layer(samples, wl, tracer, session_s, events, traced_p50) -> dict:
    traced = [s for s in samples if s is not None and s.traced]
    main = [s for s in traced if s.kind == wl.main_kind]
    ops = [s.op_id for s in main]

    def span_med(name, among=ops):
        return _median(tracer.per_op(name, among))

    def ledger_med(key):
        vals = []
        for s in main:
            if key in s.layer:
                vals.append(s.layer[key])
            elif s.layer.get("group") in events:
                vals.append(events[s.layer["group"]][key])
        return _median(vals)

    def stream_med(key):
        return _median([s.layer[key] for s in main if key in s.layer])

    appends = [s.op_id for s in traced if s.kind == "append"]
    setup = [-1]
    pin_ops = setup if wl.pins_in_setup else ops
    m = {
        "session.get_spark_s": (session_s, "s"),
        "spec.compile_s": (span_med("spec.compile", setup if wl.name == "stream_ingest" else ops), "s"),
        "sinks.write_s": (span_med("sinks.write"), "s"),
        "materialize.pins_per_op": (_median(tracer.count_per_op("materialize", pin_ops)), "count"),
        "materialize.s_per_op": (span_med("materialize", pin_ops), "s"),
        "spark.jobs_per_op": (ledger_med("jobs"), "count"),
        "spark.stages_per_op": (ledger_med("stages"), "count"),
        "spark.tasks_per_op": (ledger_med("tasks"), "count"),
        "spark.executor_cpu_s": (ledger_med("executor_cpu_s"), "s"),
        "spark.gc_s": (ledger_med("gc_s"), "s"),
        "spark.shuffle_write_bytes": (ledger_med("shuffle_write_bytes"), "bytes"),
        "spark.python_udf_s": (ledger_med("python_udf_s"), "s"),
    }
    for key in ("add_batch_s", "query_planning_s", "wal_commit_s", "commit_offsets_s",
                "latest_offset_s", "state_commit_s"):
        m[f"streaming.{key}"] = (stream_med(key), "s")
    m["streaming.state_rows"] = (stream_med("state_rows"), "count")
    m["streaming.state_memory_bytes"] = (stream_med("state_memory_bytes"), "bytes")
    m["streaming.state_partitions"] = (stream_med("state_partitions"), "count")
    m["sources.backlog_files_end"] = (wl.backlog_files() if hasattr(wl, "backlog_files") else 0, "count")
    m["similarity.build_s"] = (span_med("similarity.build", setup), "s")
    m["similarity.append_s"] = (span_med("similarity.append", appends), "s")
    m["similarity.query_compile_s"] = (span_med("similarity.query"), "s")
    m["similarity.query_collect_s"] = (span_med("similarity.query_collect"), "s")
    m["similarity.codes_rows"] = (getattr(wl, "n_rows", 0), "count")
    m["trace.op_p50_s"] = (traced_p50, "s")
    return m


def _print_metrics(metrics: dict, notes: dict) -> None:
    for name, (value, unit) in metrics.items():
        print(f"  {name:30s} {value:14.6g} {unit:8s} {notes.get(name, '')}")


def _record_untraced(args, op_p50_s: float) -> None:
    """Keep this untraced run's main-op median for the traced runs."""
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"untraced-{args.workload}-s{args.seed}.json"), "w") as f:
        json.dump({"op_p50_s": op_p50_s}, f)


def _overhead_line(args, kind: str, traced_p50: float) -> str:
    """The traced run's main-op median over the ``op_p50_s`` of the
    untraced run of the same seed, or else the median over every
    recorded untraced run of the workload."""
    recs = {}
    prefix = f"untraced-{args.workload}-s"
    for name in os.listdir(OUT) if os.path.isdir(OUT) else []:
        if name.startswith(prefix) and name.endswith(".json"):
            with open(os.path.join(OUT, name)) as f:
                recs[name[len(prefix):-5]] = json.load(f)["op_p50_s"]
    if str(args.seed) in recs:
        base, src = recs[str(args.seed)], f"the untraced run of seed {args.seed}"
    elif recs:
        base, src = _median(list(recs.values())), f"the median of {len(recs)} untraced runs of other seeds"
    else:
        return f"tracing overhead: no untraced {args.workload} run recorded; traced {kind} p50 {traced_p50:.4f} s"
    return (f"tracing overhead: {kind} p50 {traced_p50:.4f} s traced vs {base:.4f} s in {src} "
            f"({traced_p50 / base - 1:+.2%})")


def _stop_jvm(procstat, timeout_s: float = 60.0) -> None:
    """End the Spark JVM (it exits when its stdin closes) and wait until
    no process this run started is left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=timeout_s)
    end = time.monotonic() + timeout_s
    while len(procstat.tree_pids()) > 1 and time.monotonic() < end:
        time.sleep(0.1)


def _measure(args, work, tracer, peak, procstat) -> SimpleNamespace:
    """Session, setup, warm-up and the timed loop; stops the session
    before decoding the event log."""
    from nekton_spark import session
    from perfbench.trace import decode_event_log
    from perfbench.workloads import WORKLOADS

    spark = wl = None
    try:
        tracer.enabled, tracer.op_id = bool(args.trace), -1
        t = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = session.get_spark(f"perfbench-{args.workload}", _session_conf(work, args.trace))
        session_s = time.perf_counter() - t
        if args.trace:
            _install_wrappers(tracer)
        wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)
        t = time.perf_counter()
        wl.setup()
        inputs_s = time.perf_counter() - t
        tracer.enabled = False
        runner = Runner(wl, tracer, procstat)
        t = time.perf_counter()
        warm = runner.warm()
        warm_s = time.perf_counter() - t
        setup_s = time.time() - T0
        samples, cpu_s = runner.timed(args.seconds, bool(args.trace))
        wl.close()
        peak_mem = peak.stop()
    finally:
        query = getattr(wl, "query", None)
        if query is not None and query.isActive:
            query.stop()
        if spark is not None:
            spark.stop()  # flushes and closes the event log
            _stop_jvm(procstat)
    events = decode_event_log(os.path.join(work, "eventlog")) if args.trace else {}
    return SimpleNamespace(session_s=session_s, inputs_s=inputs_s, warm_s=warm_s, setup_s=setup_s,
                           wl=wl, warm=warm, samples=samples, cpu_s=cpu_s, peak_mem=peak_mem,
                           events=events)


def run(args) -> int:
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    # set before anything imports tempfile or launches the JVM, so that
    # every scratch file stays inside the checkout
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(nproc),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": os.path.join(work, "tmp"),
        }
    )
    import pyarrow
    import pyspark

    from perfbench import procstat
    from perfbench.trace import LAYER_MOVES, Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} ({', '.join(WORKLOADS)})", file=sys.stderr)
        return 2
    bench = _bench_spec()
    drift_bound = next(m["bound"] for m in bench["end_to_end"] if m["name"] == "op_p50_s")
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    peak = procstat.PeakMemory().start()
    tracer = Tracer()
    try:
        r = _measure(args, work, tracer, peak, procstat)
    finally:
        peak.stop()
        shutil.rmtree(work, ignore_errors=True)

    wl, samples, warm = r.wl, r.samples, r.warm
    drift = _drift(samples)
    attempted = len(samples)
    failed = sum(1 for s in samples if s is None or not s.ok)
    if wl.name == "stream_ingest" and any("checkpoint/offsets/0" in e for e in wl.errors):
        failed = attempted  # the stream ran with the wrong state-store count
    correct = not wl.errors and all(s.ok for s in warm)
    if drift is not None and abs(drift) > drift_bound:
        correct = False
        wl.errors.append(
            f"drift gate: last third of the timed ops is {drift:+.1%} "
            f"off the first third (bound {drift_bound:.0%}); op times not steady"
        )

    main_n = sum(1 for s in samples if s is not None and s.kind == wl.main_kind)
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: nproc={nproc} "
          f"driver_heap={DRIVER_HEAP} spark={pyspark.__version__} pyarrow={pyarrow.__version__} "
          f"client_threads=1")
    print(f"setup {r.setup_s:.2f} s: session {r.session_s:.2f} s, workload setup {r.inputs_s:.2f} s, "
          f"warm-up {r.warm_s:.2f} s over {len(warm)} ops")
    print("op walls (s): warm-up " + " ".join(f"{s.wall_s:.2f}" for s in warm)
          + " | timed " + " ".join("fail" if s is None else f"{s.wall_s:.2f}" for s in samples))
    main_p50 = _median([s.wall_s for s in samples if s is not None and s.kind == wl.main_kind])
    if args.trace:
        metrics = _per_layer(samples, wl, tracer, r.session_s, r.events, main_p50)
        notes = {k: f"moves {v[0]} on {v[1]}" for k, v in LAYER_MOVES.items()}
        print(_overhead_line(args, wl.main_kind, main_p50))
        print("per-layer metrics (traced ops):")
        _print_metrics(metrics, notes)
        print("spans (name, count, total s, self s):")
        for name, n, total, self_s in tracer.summary():
            print(f"  {name:30s} {n:5d} {total:10.3f} {self_s:10.3f}")
        out = os.path.join(OUT, f"spans-{args.workload}-s{args.seed}.jsonl")
        tracer.dump(out)
        print(f"spans written to {os.path.relpath(out, ROOT)}")
    else:
        metrics = _end_to_end(samples, r.cpu_s, r.setup_s, wl, r.peak_mem)
        notes = {"op_p50_s": f"n={main_n} {wl.main_kind} ops",
                 "setup_s": f"warm-up {len(warm)} ops",
                 "quality": f"median of {len(wl.quality)} checks"}
        print("end-to-end metrics:")
        _print_metrics(metrics, notes)
        if correct:
            _record_untraced(args, main_p50)
    print(f"drift (last third vs first third of timed ops): "
          f"{'n/a' if drift is None else f'{drift:+.2%}'} (bound {drift_bound:.0%})")
    for e in wl.errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    listed = [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]]
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k][0], "unit": metrics[k][1]} for k in listed},
    }))
    return 0


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "nekton_spark", "__init__.py")):
        print(f"perfbench: no nekton_spark package in {ROOT}; run from a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())

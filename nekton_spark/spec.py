"""YAML pipeline spec → Spark plan (reference frontend parity).

The reference's whole frontend is serde-YAML into a ``Spec`` struct —
``input`` / ``pipeline.processors[]`` / ``output`` with polymorphic
``type:`` dispatch (``src/lib.rs:67-72``, ``:42-59``); the deserialized
struct tree *is* the logical and physical plan (SURVEY §3.1). Here the
same YAML compiles to a lazy DataFrame chain and Catalyst does the
actual planning: predicate pushdown, codegen, AQE — the optimizer the
reference doesn't have runs on every spec for free.

Example (runs the reference's ``config_examples/std.yml`` unchanged in
meaning)::

    input:
      type: stdin
    pipeline:
      processors:
        - type: replace
          from: cheese
          to: bacon
        - type: regex_split
          re: ","
    output:
      type: stdout
"""

from __future__ import annotations

import io
from dataclasses import dataclass
from typing import Any

import yaml

from pyspark.sql import DataFrame, SparkSession

from . import operators, sinks, sources, streaming  # noqa: F401  (populate registries)
from .registry import PROCESSORS, SINKS, SOURCES, lookup


@dataclass
class Spec:
    input: dict
    processors: list[dict]
    output: dict
    # optional top-level `engine:` block — session-level execution
    # knobs the spec author sizes to the pipeline. Currently:
    #   state_partitions: N — sets spark.sql.shuffle.partitions before
    #   the query compiles. For STATEFUL streaming (watermarked dedup /
    #   windows) this is the number of state-store instances, LOCKED
    #   into the checkpoint at the first micro-batch; each instance
    #   pays a per-batch delta-commit, so a small/medium stream with
    #   the 32-partition default burns most of its wall on empty state
    #   commits (r14 adjudication, BASELINE.md: 5.6 s → 2.3 s on the
    #   sf0.1 dedup leg by 32 → 8, data constant). Size it to expected
    #   keys/batch; leave unset at real corpus scale. The ambient
    #   session value is restored when the spec finishes (batch: at
    #   return; streaming: asynchronously at query termination via a
    #   self-removing listener — r16).
    engine: dict = None  # type: ignore[assignment]

    @classmethod
    def from_yaml(cls, text_or_stream) -> "Spec":
        if isinstance(text_or_stream, str):
            text_or_stream = io.StringIO(text_or_stream)
        raw = yaml.safe_load(text_or_stream) or {}
        pipeline = raw.get("pipeline") or {}
        return cls(
            input=raw.get("input") or {},
            processors=list(pipeline.get("processors") or []),
            output=raw.get("output") or {},
            engine=raw.get("engine") or {},
        )

    @classmethod
    def from_file(cls, path: str) -> "Spec":
        with open(path) as f:
            return cls.from_yaml(f)


def compile_spec(spark: SparkSession, spec: Spec) -> tuple[DataFrame, Any]:
    """Compile to (final DataFrame, sink thunk). Lazy until the sink runs."""
    src_factory, src_conf = lookup(SOURCES, "source", spec.input)
    df = src_factory(spark, **src_conf)
    for proc in spec.processors:
        factory, conf = lookup(PROCESSORS, "processor", proc)
        df = factory(df, **conf)
    sink_factory, sink_conf = lookup(SINKS, "sink", spec.output)
    return df, lambda final=df: sink_factory(final, **sink_conf)


def run_spec(spark: SparkSession, spec: Spec | str):
    """Parse-compile-execute; returns the sink's result (None or a
    StreamingQuery). The analog of ``start_stream_processor``
    (reference ``src/lib.rs:74-94``)."""
    if isinstance(spec, str):
        # a newline-free string is only a FILE when it exists on disk —
        # a valid one-line flow-style YAML spec was previously fed to
        # open() and died with FileNotFoundError
        import os

        if "\n" not in spec and os.path.exists(spec):
            spec = Spec.from_file(spec)
        else:
            spec = Spec.from_yaml(spec)
    eng = dict(spec.engine or {})
    sp = eng.pop("state_partitions", None)
    if eng:
        raise ValueError(f"unknown engine option(s): {sorted(eng)}")
    prior_shuffle = None
    if sp is not None:
        n = int(sp)
        if n < 1:
            raise ValueError(f"state_partitions must be >= 1, got {sp}")
        prior_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
    _, run_sink = compile_spec(spark, spec)
    result = run_sink()
    if prior_shuffle is not None:
        if result is None:
            # batch sink: the job is done, hand the session back with
            # its prior partition count (r15, ADVICE: later specs /
            # queries were silently inheriting this spec's small N)
            spark.conf.set("spark.sql.shuffle.partitions", prior_shuffle)
        else:
            # streaming sink (r16, r15 verdict #8): the conf must stay
            # set while the stream runs — the stateful query locks the
            # count into its checkpoint at first-batch planning, and
            # restoring mid-run would race that — but it must NOT leak
            # to the session after the stream stops. A termination
            # listener scoped to this query id restores the ambient
            # value once the stream ends (the restore is asynchronous:
            # it lands on the listener-bus thread shortly after
            # ``stop()`` returns).
            _restore_shuffle_on_termination(spark, result, prior_shuffle)
    return result


def _restore_shuffle_on_termination(spark, query, prior_shuffle: str) -> None:
    """Restore ``spark.sql.shuffle.partitions`` when ``query`` ends.

    Registered per ``run_spec`` streaming invocation; self-removing.
    Concurrent streaming specs restore in termination order (each
    captured its own ambient value at start — the same semantics the
    raw conf set/restore always had). A query that already ended when
    the listener is registered (a stream that died at startup) may
    never deliver its termination event, so it is restored at once."""
    from pyspark.sql.streaming import StreamingQueryListener

    qid = str(query.id)

    class _Restore(StreamingQueryListener):
        def onQueryStarted(self, event):  # pragma: no cover - unused
            pass

        def onQueryProgress(self, event):  # pragma: no cover - unused
            pass

        def onQueryIdle(self, event):  # pragma: no cover - unused
            pass

        def onQueryTerminated(self, event):
            if str(event.id) == qid:
                self.restore()

        def restore(self):
            try:
                spark.conf.set("spark.sql.shuffle.partitions", prior_shuffle)
            finally:
                try:
                    spark.streams.removeListener(self)
                except Exception:
                    pass

    listener = _Restore()
    spark.streams.addListener(listener)
    if not query.isActive:
        listener.restore()

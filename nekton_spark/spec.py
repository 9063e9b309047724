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
    #   session value is restored when run_spec returns: a started
    #   stream planned its batches on a session cloned at start(), so
    #   it keeps the count it started with.
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
    try:
        _, run_sink = compile_spec(spark, spec)
        return run_sink()
    finally:
        if prior_shuffle is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prior_shuffle)

"""End-to-end YAML spec tests — the reference's config_examples as specs."""

import io

import pytest

from nekton_spark.sinks import stdout_sink
from nekton_spark.spec import Spec, compile_spec, run_spec


def run_to_lines(spark, yaml_text: str) -> list[str]:
    df, _ = compile_spec(spark, Spec.from_yaml(yaml_text))
    buf = io.StringIO()
    stdout_sink(df, file=buf)
    return buf.getvalue().splitlines()


class TestStdoutSinkBounded:
    def test_default_limit_caps_and_opt_out_prints_all(self, spark, capsys):
        from nekton_spark.sinks import _DEFAULT_STDOUT_LIMIT

        n = _DEFAULT_STDOUT_LIMIT + 500
        df = spark.range(n).selectExpr("cast(id as string) as value")
        buf = io.StringIO()
        stdout_sink(df, file=buf)
        assert len(buf.getvalue().splitlines()) == _DEFAULT_STDOUT_LIMIT
        assert "limit" in capsys.readouterr().err  # truncation is loud
        buf = io.StringIO()
        stdout_sink(df, limit=None, file=buf)  # explicit opt-out
        assert len(buf.getvalue().splitlines()) == n

    def test_no_notice_when_under_the_default_limit(self, spark, capsys):
        df = spark.range(3).selectExpr("cast(id as string) as value")
        buf = io.StringIO()
        stdout_sink(df, file=buf)
        assert len(buf.getvalue().splitlines()) == 3
        assert capsys.readouterr().err == ""


class TestStdYml:
    def test_reference_std_yml_semantics(self, spark):
        # config_examples/std.yml: echo 'cheese,goat' → replace → awk-split → stdout
        lines = run_to_lines(
            spark,
            """
input:
  type: stdin
  lines: ["cheese,goat"]
pipeline:
  processors:
    - type: replace
      from: cheese
      to: bacon
    - type: process
      name: awk
      args: ["-v", "RS=[,\\n]", "{a=$0; print a}"]
output:
  type: stdout
""",
        )
        assert lines == ["bacon", "goat"]

    def test_spark_native_equivalent(self, spark):
        # same semantics without the subprocess: regex_split is the fast path
        lines = run_to_lines(
            spark,
            """
input:
  type: stdin
  lines: ["cheese,goat", "milk,cheese"]
pipeline:
  processors:
    - type: replace
      from: cheese
      to: bacon
    - type: regex_split
      re: ","
output:
  type: stdout
""",
        )
        assert lines == ["bacon", "goat", "milk", "bacon"]

    def test_noop_pipeline(self, spark):
        lines = run_to_lines(
            spark,
            """
input:
  type: stdin
  lines: ["a", "b"]
pipeline:
  processors:
    - type: noop
output:
  type: stdout
""",
        )
        assert lines == ["a", "b"]


class TestSpecErrors:
    def test_unknown_processor_type(self, spark):
        with pytest.raises(ValueError, match="unknown processor type"):
            run_spec(
                spark,
                """
input:
  type: stdin
  lines: ["a"]
pipeline:
  processors:
    - type: does_not_exist
output:
  type: stdout
""",
            )

    def test_missing_type_tag(self, spark):
        with pytest.raises(ValueError, match="missing 'type'"):
            run_spec(spark, "input:\n  path: /x\noutput:\n  type: stdout\n")


class TestFileRoundTrip:
    def test_file_source_and_sink(self, spark, tmp_path):
        src = tmp_path / "in.txt"
        src.write_text("alpha\nbeta\n")
        out_dir = tmp_path / "out"
        run_spec(
            spark,
            f"""
input:
  type: file
  path: {src}
  format: text
pipeline:
  processors:
    - type: regex_select
      re: "[a-z]+a"
output:
  type: file
  path: {out_dir}
  format: parquet
""",
        )
        vals = sorted(r.value for r in spark.read.parquet(str(out_dir)).collect())
        assert vals == ["alpha", "beta"]

    def test_naive_parquet_is_timestamp_at_the_file_source(self, spark, tmp_path):
        """NTZ parity at EVERY source: a parquet file with naive-µs
        timestamps read through ``type: file`` must enter the engine as
        TIMESTAMP (like ``type: table`` does), so watermark operators
        never depend on their own ensure_event_time guard."""
        from datetime import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import types as T

        from nekton_spark.sources.files import file_source
        from nekton_spark.streaming.windows import tumbling_window

        src = tmp_path / "naive.parquet"
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array(
                        [datetime(2024, 1, 1, 0, m) for m in (1, 2, 11)],
                        type=pa.timestamp("us"),  # naive → NTZ on read
                    ),
                    "v": pa.array([1, 2, 3], type=pa.int64()),
                }
            ),
            src,
        )
        df = file_source(spark, str(src), format="parquet", as_messages=False)
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        agg = tumbling_window(
            df, duration="10 minutes", aggs=["sum(v) as sv"], watermark="1 minute"
        ).collect()
        assert sorted(r.sv for r in agg) == [3, 3]


class TestExplainFlag:
    def test_explain_prints_plan_without_executing(self, spark, capsys, tmp_path):
        """--explain compiles the spec and prints the formatted physical
        plan (pushdown/exchanges visible) without running the sink."""
        from nekton_spark.__main__ import main

        spec = tmp_path / "p.yml"
        spec.write_text(
            """
input:
  type: table
  path: /root/testdata/sf0.001
  name: lineitem
pipeline:
  processors:
    - type: filter
      predicate: l_quantity > 45
output:
  type: memory
"""
        )
        rc = main(["-c", str(spec), "--explain"])
        out = capsys.readouterr().out
        assert rc == 0
        assert "Physical Plan" in out
        assert "PushedFilters" in out
        assert "GreaterThan(l_quantity,45" in out


class TestShardSink:
    def test_layout_is_partitioning_independent(self, spark, tmp_path):
        """Shard membership and in-shard order are a pure function of
        the data: the same rows written through different input
        partitionings produce identical per-shard contents."""
        from nekton_spark.sinks import shard_sink

        rows = [(i, f"doc {i}") for i in range(100)]
        df = spark.createDataFrame(rows, "doc_id long, text string")

        def read_layout(p):
            out = spark.read.parquet(str(p)).collect()
            by_shard = {}
            for r in out:
                by_shard.setdefault(r._shard, []).append(r.doc_id)
            return {k: v for k, v in by_shard.items()}

        shard_sink(df.repartition(7), str(tmp_path / "a"), n_shards=4)
        shard_sink(df.repartition(3), str(tmp_path / "b"), n_shards=4)
        a, b = read_layout(tmp_path / "a"), read_layout(tmp_path / "b")
        assert a == b and len(a) == 4
        assert sorted(x for v in a.values() for x in v) == list(range(100))
        # one file per shard: the shard value is the repartition key
        import glob

        for k in a:
            files = glob.glob(str(tmp_path / "a" / f"_shard={k}" / "*.parquet"))
            assert len(files) == 1

    def test_target_rows_derives_shard_count(self, spark, tmp_path):
        from nekton_spark.sinks import shard_sink

        df = spark.createDataFrame(
            [(i, "x") for i in range(100)], "doc_id long, text string"
        )
        # in-memory frame: _estimate_rows falls back to count() = 100
        shard_sink(df, str(tmp_path / "c"), target_rows=25)
        out = spark.read.parquet(str(tmp_path / "c"))
        assert out.select("_shard").distinct().count() == 4

    def test_exactly_one_of_the_sizing_params(self, spark, tmp_path):
        import pytest as _pytest

        from nekton_spark.sinks import shard_sink

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with _pytest.raises(ValueError, match="exactly one"):
            shard_sink(df, str(tmp_path / "d"))

    def test_shards_sink_reachable_from_spec(self, spark, tmp_path):
        from nekton_spark.spec import Spec, compile_spec

        raw = f"""
input:
  type: table
  path: /root/testdata/sf0.001
  name: documents
pipeline:
  processors: []
output:
  type: shards
  path: {tmp_path}/out
  n_shards: 3
  key_col: doc_id
"""
        _, run_sink = compile_spec(spark, Spec.from_yaml(raw))
        run_sink()
        out = spark.read.parquet(str(tmp_path / "out"))
        assert out.select("_shard").distinct().count() == 3


class TestFileSinkLayout:
    def test_hilbert_layout_write_prunes_and_keeps_rows(self, spark, tmp_path):
        from nekton_spark.functions.layout import rowgroups_matching
        from nekton_spark.sinks import file_sink

        e = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        p = str(tmp_path / "hil")
        file_sink(e, p, layout="hilbert", layout_cols=["user_id", "value"],
                  layout_files=8)
        m, t = rowgroups_matching(p, "user_id", 100, 400, "value", 10.0, 30.0)
        assert t >= 8 and m < t  # pruning live from footer stats
        assert spark.read.parquet(p).count() == e.count()

    def test_layout_refusals(self, spark, tmp_path):
        import pytest as _pytest

        from nekton_spark.sinks import file_sink

        e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        with _pytest.raises(ValueError, match="layout_cols"):
            file_sink(e, str(tmp_path / "x"), layout="hilbert")
        with _pytest.raises(ValueError, match="format=parquet"):
            file_sink(e, str(tmp_path / "x"), format="json",
                      layout="morton", layout_cols=["user_id", "value"])
        with _pytest.raises(ValueError, match="unknown layout"):
            file_sink(e, str(tmp_path / "x"), layout="peano",
                      layout_cols=["user_id", "value"])
        # r10 ADVICE: layout + partition_by / writer options must refuse,
        # never silently ignore
        with _pytest.raises(ValueError, match="partition_by"):
            file_sink(e, str(tmp_path / "x"), layout="morton",
                      layout_cols=["user_id", "value"],
                      partition_by=["event_type"])
        with _pytest.raises(ValueError, match="writer options"):
            file_sink(e, str(tmp_path / "x"), layout="morton",
                      layout_cols=["user_id", "value"],
                      compression="zstd")
        # r11: hilbert is 2-D only — 3 columns refuse, never truncate
        with _pytest.raises(ValueError, match="2-D"):
            file_sink(e, str(tmp_path / "x"), layout="hilbert",
                      layout_cols=["user_id", "value", "event_id"])

    def test_ann_index_sink_and_query_processor(self, spark, tmp_path):
        """r11: build the index via the ann_index sink spec, query it
        via the ann_index_query processor spec — end-to-end through
        the YAML surface."""
        from nekton_spark.spec import Spec, compile_spec

        idx = str(tmp_path / "vidx")
        build = f"""
input:
  type: table
  path: /root/testdata/sf0.001
  name: embeddings
pipeline:
  processors: []
output:
  type: ann_index
  path: {idx}
"""
        _, run_sink = compile_spec(spark, Spec.from_yaml(build))
        run_sink()
        query = f"""
input:
  type: table
  path: /root/testdata/sf0.001
  name: embeddings
pipeline:
  processors:
    - type: ann_index_query
      path: {idx}
      query_ids: [0, 1]
      k: 3
      n_probe: 2
output:
  type: memory
  name: annq
"""
        df, run_sink2 = compile_spec(spark, Spec.from_yaml(query))
        run_sink2()
        rows = spark.table("annq").collect()
        assert len(rows) == 6 and {r.query_id for r in rows} == {0, 1}

    def test_morton_n_column_layout_write(self, spark, tmp_path):
        """r11: layout: morton with 3 columns routes through
        zorder_write_n — rows preserved and row-group pruning live on
        the first two key columns."""
        from nekton_spark.functions.layout import rowgroups_matching
        from nekton_spark.sinks import file_sink

        e = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        p = str(tmp_path / "zn")
        file_sink(e, p, layout="morton",
                  layout_cols=["user_id", "value", "event_id"],
                  layout_files=8)
        m, t = rowgroups_matching(p, "user_id", 100, 400, "value", 10.0, 30.0)
        assert t >= 8 and m < t
        assert spark.read.parquet(p).count() == e.count()


class TestEngineBlock:
    def test_state_partitions_sizes_stateful_stream(self, spark, tmp_path):
        """r14 (r13 verdict #8): the spec-level engine.state_partitions
        knob sets the shuffle-partition count the stateful stream locks
        into its checkpoint — the per-batch state-store commit floor
        scales with it (the adjudicated cost on small streams)."""
        import pyspark.sql.functions as F

        from nekton_spark.spec import Spec, run_spec

        prev = spark.conf.get("spark.sql.shuffle.partitions")
        src = tmp_path / "src"
        (
            spark.range(200)
            .select(
                F.col("id").alias("doc_id"),
                F.timestamp_seconds(F.lit(1704067200) + F.col("id")).alias(
                    "ts"
                ),
                F.concat(F.lit("t"), (F.col("id") % 50).cast("string")).alias(
                    "text"
                ),
            )
            .write.parquet(str(src))
        )
        spec = f"""
engine:
  state_partitions: 3
input:
  type: file
  path: {src}
  format: parquet
  stream: true
  as_messages: false
  schema: "doc_id long, ts timestamp, text string"
pipeline:
  processors:
    - type: fingerprint
    - type: dedup_within_watermark
      columns: [fp]
      ts_col: ts
      delay: 60 minutes
output:
  type: file_exactly_once
  path: {tmp_path}/out
  checkpoint: {tmp_path}/ckpt
"""
        try:
            q = run_spec(spark, spec)
            q.processAllAvailable()
            # the running stream keeps its start-time count; the session
            # reads the ambient value again
            assert spark.conf.get("spark.sql.shuffle.partitions") == prev
            q.stop()
            out = spark.read.parquet(str(tmp_path / "out"))
            assert out.count() == 50  # 50 distinct fingerprints survive
            # the checkpointed state really is 3-way partitioned
            import os

            state_parts = os.listdir(str(tmp_path / "ckpt" / "state" / "0"))
            assert sorted(p for p in state_parts if p.isdigit()) == [
                "0", "1", "2",
            ]
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    def test_state_partitions_restored_after_batch_sink(
        self, spark, tmp_path
    ):
        """r15 (ADVICE): a BATCH spec with engine.state_partitions must
        hand the session back with its prior shuffle-partition count —
        previously any later query silently inherited the small N."""
        from nekton_spark.spec import run_spec

        prev = spark.conf.get("spark.sql.shuffle.partitions")
        assert prev != "3"
        src = tmp_path / "in.txt"
        src.write_text("alpha\nbeta\n")
        run_spec(
            spark,
            f"""
engine:
  state_partitions: 3
input:
  type: file
  path: {src}
  format: text
output:
  type: file
  path: {tmp_path}/out
  format: parquet
""",
        )
        assert spark.conf.get("spark.sql.shuffle.partitions") == prev

    def test_state_partitions_streaming_restored_on_return(
        self, spark, tmp_path
    ):
        """A streaming spec hands the session back with its ambient
        shuffle-partition count as soon as run_spec returns the running
        query, while the query itself keeps the count it started with:
        it plans on a session cloned at start(), and locks that count
        into its first offset-log entry."""
        import json

        import pyspark.sql.functions as F

        from nekton_spark.spec import run_spec

        prev = spark.conf.get("spark.sql.shuffle.partitions")
        assert prev != "2"
        src = tmp_path / "src"
        spark.range(5).select(
            F.col("id").alias("doc_id"),
            F.timestamp_seconds(F.lit(1704067200) + F.col("id")).alias("ts"),
            F.lit("t").alias("text"),
        ).write.parquet(str(src))
        spec = f"""
engine:
  state_partitions: 2
input:
  type: file
  path: {src}
  format: parquet
  stream: true
  as_messages: false
  schema: "doc_id long, ts timestamp, text string"
pipeline:
  processors:
    - type: fingerprint
    - type: dedup_within_watermark
      columns: [fp]
      ts_col: ts
      delay: 60 minutes
output:
  type: file_exactly_once
  path: {tmp_path}/out
  checkpoint: {tmp_path}/ckpt
"""
        try:
            q = run_spec(spark, spec)
            assert spark.conf.get("spark.sql.shuffle.partitions") == prev
            q.processAllAvailable()
            q.stop()
            with open(tmp_path / "ckpt" / "offsets" / "0") as f:
                meta = json.loads(f.read().splitlines()[1])
            assert meta["conf"]["spark.sql.shuffle.partitions"] == "2"
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    def test_state_partitions_restored_after_compile_error(
        self, spark, tmp_path
    ):
        """A spec whose compile raises (here: an unknown processor,
        refused after the conf was set) still hands the session back
        with its ambient shuffle-partition count."""
        import pytest as _pt

        from nekton_spark.spec import run_spec

        prev = spark.conf.get("spark.sql.shuffle.partitions")
        assert prev != "3"
        src = tmp_path / "in.txt"
        src.write_text("alpha\n")
        try:
            with _pt.raises(ValueError, match="unknown processor type"):
                run_spec(
                    spark,
                    f"""
engine:
  state_partitions: 3
input:
  type: file
  path: {src}
  format: text
pipeline:
  processors:
    - type: no_such_processor
output:
  type: stdout
""",
                )
            assert spark.conf.get("spark.sql.shuffle.partitions") == prev
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    def test_unknown_engine_option_refuses(self, spark):
        import pytest as _pt

        from nekton_spark.spec import Spec, run_spec

        spec = Spec.from_yaml(
            "engine: {frobnicate: 1}\n"
            "input: {type: stdin}\n"
            "output: {type: stdout}\n"
        )
        with _pt.raises(ValueError, match="unknown engine option"):
            run_spec(spark, spec)

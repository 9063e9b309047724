"""End-to-end STREAMING curation pipeline as ONE spec (VERDICT r3 #6):

    ingest (file stream) → redact_pii → repetition_filter →
    quality_filter → fingerprint → dedup_within_watermark →
    exactly-once epoch sink

Each operator already has its own tests; what this file proves is the
COMPOSITION: the chain compiles to a single streaming plan, runs under
a real ``writeStream`` across several micro-batches, survives a
restart from the checkpoint without duplicating epochs, carries dedup
state across the restart, and agrees with its batch twin.
"""

import os
import time

import pytest

from nekton_spark.spec import Spec, run_spec, compile_spec


SCHEMA = "doc_id long, ts timestamp_ntz, text string"


def _spec(src, out, ckpt, stream: bool) -> str:
    # the source declares TIMESTAMP_NTZ (what naive parquet carries);
    # dedup_within_watermark normalizes to TIMESTAMP on both branches
    inp = (
        f"""
input:
  type: file
  path: {src}
  format: parquet
  stream: true
  as_messages: false
  schema: "{SCHEMA}"
  maxFilesPerTrigger: "1"
"""
        if stream
        else f"""
input:
  type: file
  path: {src}
  format: parquet
  stream: false
  as_messages: false
  schema: "{SCHEMA}"
"""
    )
    outp = (
        f"""
output:
  type: file_exactly_once
  path: {out}
  checkpoint: {ckpt}
"""
        if stream
        else """
output:
  type: memory
"""
    )
    return (
        inp
        + """
pipeline:
  processors:
    - type: redact_pii
      counts: true
    - type: repetition_filter
      max_dup_fraction: 0.5
    - type: quality_filter
      min_quality: 0.2
    - type: fingerprint
    - type: dedup_within_watermark
      columns: [fp]
      ts_col: ts
      delay: 60 minutes
"""
        + outp
    )


BASE = 1704067200  # fixed epoch so all rows share one watermark era


def _write_file(path, rows):
    """One single-file naive-timestamp parquet (a micro-batch unit) —
    pyarrow, not a Spark write, so the stream source sees plain files
    and the ts column is genuine TIMESTAMP_NTZ-on-read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, tss, txts = zip(*rows)
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "ts": pa.array(
                [t * 1_000_000 for t in tss], pa.timestamp("us")
            ),
            "text": pa.array(txts, pa.string()),
        }
    )
    pq.write_table(table, str(path))


@pytest.fixture()
def curation_src(tmp_path_factory):
    """Three parquet files = three micro-batches, covering every
    operator in the chain: PII docs, a pure-repetition doc, a junk
    doc, and cross-batch exact duplicates."""
    d = tmp_path_factory.mktemp("curation_src")
    _write_file(
        d / "f0.parquet",
        [
            (0, BASE + 0, "a perfectly reasonable document about mountain weather patterns in the northern valleys today"),
            (1, BASE + 1, "reach alice@example.com or 555-123-4567 for the quarterly planning report before the end of month"),
            (2, BASE + 2, "spam spam spam spam spam spam spam spam spam spam spam spam spam"),
        ],
    )
    _write_file(
        d / "f1.parquet",
        [
            (3, BASE + 60, "a perfectly reasonable document about mountain weather patterns in the northern valleys today"),
            (4, BASE + 61, "another ordinary paragraph discussing harvest schedules and river levels across the eastern district"),
        ],
    )
    _write_file(
        d / "f2.parquet",
        [
            (5, BASE + 120, "short junk"),
            (6, BASE + 121, "call +41446681800 about the irrigation contract renewal and the revised delivery timetable this week"),
        ],
    )
    # the file source reads oldest mtime first and breaks same-
    # millisecond ties in listing order: space the files 1 s apart,
    # in the past, so f0 → f1 → f2 (and a later f3) arrive in order
    t0 = time.time() - 60
    for i in range(3):
        os.utime(d / f"f{i}.parquet", (t0 + i, t0 + i))
    return d


class TestCurationStream:
    def test_composed_pipeline_streaming_vs_batch_and_replay(
        self, spark, curation_src, tmp_path
    ):
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")

        q = run_spec(spark, _spec(curation_src, out, ckpt, stream=True))
        q.processAllAvailable()
        q.stop()

        got = spark.read.parquet(out)
        rows = {r.doc_id: r for r in got.collect()}

        # composition effects, per operator:
        # doc 2 (pure repetition) and doc 5 (too short / junk) are gone
        assert 2 not in rows and 5 not in rows
        # doc 3 is an exact dup of doc 0 from an EARLIER micro-batch —
        # dropped only because dedup state carries across batches
        assert 0 in rows and 3 not in rows
        # PII is redacted before fingerprinting/sinking
        assert "<EMAIL>" in rows[1].text and "<PHONE>" in rows[1].text
        assert "alice" not in rows[1].text
        assert "<E164>" in rows[6].text
        assert rows[1].n_email == 1 and rows[1].n_phone == 1 and rows[6].n_e164 == 1
        # epoch column present (exactly-once sink) and one epoch per file
        assert "epoch" in got.columns
        assert got.select("epoch").distinct().count() == 3

        # batch twin: same spec with stream: false — identical survivor
        # fingerprint set (kept-row identity may differ: batch
        # dropDuplicates has no arrival order)
        batch_df, _ = compile_spec(
            spark, Spec.from_yaml(_spec(curation_src, out, ckpt, stream=False))
        )
        assert {r.fp for r in batch_df.collect()} == {r.fp for r in got.collect()}
        # and the ts column type matches between the twins (NTZ
        # normalization on both branches)
        assert dict(batch_df.dtypes)["ts"] == dict(got.dtypes)["ts"]

        # replay/restart: a fourth file arrives — one fresh doc and one
        # duplicate of doc 4. Restarting from the same checkpoint must
        # keep old epochs intact (no re-writes), process only the new
        # file, and still drop the duplicate via RESTORED dedup state.
        _write_file(
            curation_src / "f3.parquet",
            [
                (7, BASE + 180, "a genuinely novel sentence describing coastal fog measurement across three harbor stations"),
                (8, BASE + 181, "another ordinary paragraph discussing harvest schedules and river levels across the eastern district"),
            ],
        )

        q2 = run_spec(spark, _spec(curation_src, out, ckpt, stream=True))
        q2.processAllAvailable()
        q2.stop()

        after = spark.read.parquet(out)
        rows2 = {r.doc_id: r for r in after.collect()}
        assert 7 in rows2  # new doc landed
        assert 8 not in rows2  # dup of doc 4 dropped by restored state
        # no duplicated epochs / rows after restart
        assert after.count() == after.select("doc_id").distinct().count()
        assert set(rows2) == set(rows) | {7}

"""The three workloads: batch curation, a stream drain and index serving.

Each workload owns its inputs (generated from the seed in ``setup``),
runs one op per ``next_op`` call from the single client thread and
checks that op's output before returning its ``Sample``. Calls into the
engine go through public functions only; spans wrap those calls.
"""

from __future__ import annotations

import json
import os
import random
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from . import gen
from .trace import job_ledger, progress_breakdown


@dataclass
class Sample:
    op_id: int
    kind: str  # the workload's main op kind, or "append"
    wall_s: float
    items: int  # docs, or 1 per op for search_serve
    ok: bool
    traced: bool = False
    layer: dict = field(default_factory=dict)  # per-op layer numbers


class Workload:
    name = ""
    main_kind = ""
    min_warm = 3  # main-kind warm-up ops before the settle test may pass
    max_warm = 6  # main-kind warm-up ops after which the run is timed regardless
    pins_in_setup = False  # True when the materialize pins run in setup, not in the ops
    exhausted = False  # True once the workload has no input left to process

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.quality: list[float] = []
        self.errors: list[str] = []

    def _spec(self, text: str):
        from nekton_spark.spec import Spec, compile_spec

        with self.tracer.span("spec.compile"):
            return compile_spec(self.spark, Spec.from_yaml(text))

    def _op(self, op_id: int, traced: bool, kind: str, body) -> Sample:
        """Run ``body`` as one op under its own job group; ``body``
        returns (items, ok, layer numbers)."""
        group = f"perfbench-{self.name}-{op_id}"
        self.sc.setJobGroup(group, f"perfbench {kind} op {op_id}")
        self.tracer.op_id = op_id
        t0 = time.perf_counter()
        with self.tracer.span(f"op.{kind}"):
            run = body()
        wall = time.perf_counter() - t0
        items, ok, layer = self.check(kind, run)
        if traced:
            layer.update(job_ledger(self.sc, group))
            layer["group"] = group
        return Sample(op_id, kind, wall, items, ok, traced, layer)

    def kind_of(self, index: int) -> str:
        """The kind of the ``index``-th op of a phase (warm-up or timed)."""
        return self.main_kind

    def close(self) -> None:
        pass


class CurateBatch(Workload):
    """``text_stats -> quality_filter -> dedup_minhash(0.8) -> parquet``
    over a seeded corpus; one op is one spec run."""

    name = "curate_batch"
    main_kind = "run_spec"
    min_warm, max_warm = 3, 4

    def setup(self) -> None:
        src = os.path.join(self.work, "curate_in")
        self.truth = gen.curate_corpus(self.seed, src)
        self.out = os.path.join(self.work, "curate_out")
        self.spec = f"""
input: {{type: table, path: "{src}", name: documents}}
pipeline:
  processors:
    - type: text_stats
    - type: quality_filter
      min_quality: 0.3
    - type: dedup_minhash
      threshold: 0.8
output: {{type: file, path: "{self.out}", format: parquet}}
"""

    def next_op(self, op_id: int, kind: str, traced: bool) -> Sample:
        def body():
            _, sink = self._spec(self.spec)
            with self.tracer.span("sinks.write"):
                sink()

        return self._op(op_id, traced, self.main_kind, body)

    def check(self, kind, _run):
        kept = pq.read_table(self.out, columns=["doc_id"]).column("doc_id").to_pylist()
        kept_set = set(kept)
        keep = self.truth["keep"]
        ids = self.truth["ids"]
        agree = sum((i in kept_set) == (i in keep) for i in ids) / len(ids)
        ok = len(kept) == len(kept_set) and kept_set == keep
        if not ok:
            self.errors.append(
                f"curate op kept {len(kept)} docs ({len(kept_set)} distinct), "
                f"truth keeps {len(keep)}; decision agreement {agree:.4f}"
            )
        self.quality.append(agree)
        return len(ids), ok, {}


class SearchServe(Workload):
    """An IVF-PQ index built in setup, then a closed loop of
    ``ann_index_query`` specs (8 query ids, k=10); the fourth op of every
    ten appends ``gen.SEARCH_APPEND`` fresh vectors to the same index.

    Setup also runs one ``ann_topk`` ``method: lsh`` spec over the first
    ``gen.SEARCH_LSH`` base vectors: ``lsh_topk`` pins its banded corpus
    through ``materialize.materialize``, so the materialize layer and the
    LSH band join run in this workload (their cost is in ``setup_s``)."""

    name = "search_serve"
    main_kind = "query"
    min_warm, max_warm = 8, 24
    pins_in_setup = True
    APPEND_EVERY = 10
    APPEND_AT = 3  # early in each ten, so that a short timed phase holds an append too
    K = 10
    N_QUERIES = 8

    def setup(self) -> None:
        self.index = os.path.join(self.work, "index")
        self.vec_dir = os.path.join(self.work, "vectors")
        ids, vecs = gen.search_vectors(self.seed, gen.SEARCH_VECTORS, 0)
        gen.write_vectors(os.path.join(self.vec_dir, "base.parquet"), ids, vecs)
        gen.write_vectors(os.path.join(self.vec_dir, "lsh.parquet"), ids[: gen.SEARCH_LSH], vecs[: gen.SEARCH_LSH])
        self.all_ids, self.all_vecs = [ids], [vecs]
        self.n_rows = len(ids)
        self.n_appends = 0
        self.rng = random.Random(self.seed)
        # before the build: run after it, the heap growth the pass adds
        # varied the run's peak memory far more between seeds
        self._lsh_pass()
        _, sink = self._spec(self._build_spec("base", "build"))
        with self.tracer.span("sinks.write"):
            sink()
        self.codes_rows()

    def _build_spec(self, table: str, mode: str) -> str:
        return f"""
input: {{type: table, path: "{self.vec_dir}", name: {table}}}
pipeline: {{processors: []}}
output: {{type: ann_index, path: "{self.index}", mode: {mode}}}
"""

    def _query_spec(self, table: str, processor: str, option: str, qids: list[int], name: str) -> str:
        return f"""
input: {{type: table, path: "{self.vec_dir}", name: {table}}}
pipeline:
  processors:
    - type: {processor}
      {option}
      query_ids: {qids}
      k: {self.K}
output: {{type: memory, name: {name}}}
"""

    def _lsh_pass(self) -> None:
        """LSH top-k for ``N_QUERIES`` seeded ids over the LSH table.
        The scores must be exact cosines (rounded to 6 digits) of
        existing neighbours, ranked best first; LSH may return fewer
        than k."""
        qids = self.rng.sample(range(gen.SEARCH_LSH), self.N_QUERIES)
        spec = self._query_spec("lsh", "ann_topk", "method: lsh", qids, "perfbench_lsh")
        df, sink = self._spec(spec)
        with self.tracer.span("sinks.write"):
            sink()
        with self.tracer.span("similarity.lsh_collect"):
            rows = df.collect()
        vecs = self.all_vecs[0][: gen.SEARCH_LSH].astype(np.float64)
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        ok = sorted(by_q) == sorted(qids)
        for q, hits in by_q.items():
            hits.sort(key=lambda r: r["rank"])
            nb = [r["neighbor_id"] for r in hits]
            ok &= [r["rank"] for r in hits] == list(range(1, len(hits) + 1)) and len(hits) <= self.K
            ok &= all(0 <= n < len(vecs) and n != q for n in nb)
            if ok:
                cos = vecs[nb] @ vecs[q] / (np.linalg.norm(vecs[nb], axis=1) * np.linalg.norm(vecs[q]))
                scores = np.array([r["score"] for r in hits])
                ok &= bool(np.all(np.abs(scores - cos) <= 1e-5)) and bool(np.all(np.diff(scores) <= 0))
        if not ok:
            self.errors.append(f"lsh top-{self.K} for {qids} returned malformed rows or inexact scores")

    def codes_rows(self) -> int:
        n = pq.ParquetDataset(os.path.join(self.index, "codes")).read(columns=["id"]).num_rows
        if n != self.n_rows:
            self.errors.append(f"index holds {n} codes rows, expected {self.n_rows}")
        return n

    def kind_of(self, index: int) -> str:
        return "append" if index % self.APPEND_EVERY == self.APPEND_AT else "query"

    def next_op(self, op_id: int, kind: str, traced: bool) -> Sample:
        if kind == "append":
            return self._append(op_id, traced)
        qids = self.rng.sample(range(gen.SEARCH_VECTORS), self.N_QUERIES)
        spec = self._query_spec("base", "ann_index_query", f'path: "{self.index}"', qids, "perfbench_hits")

        def body():
            df, sink = self._spec(spec)
            with self.tracer.span("sinks.write"):
                sink()
            with self.tracer.span("similarity.query_collect"):
                return qids, df.collect()

        return self._op(op_id, traced, "query", body)

    def _append(self, op_id: int, traced: bool) -> Sample:
        self.n_appends += 1
        first = gen.SEARCH_VECTORS + (self.n_appends - 1) * gen.SEARCH_APPEND
        ids, vecs = gen.search_vectors(self.seed, gen.SEARCH_APPEND, first, stream=self.n_appends)
        table = f"append{self.n_appends}"
        gen.write_vectors(os.path.join(self.vec_dir, f"{table}.parquet"), ids, vecs)
        self.all_ids.append(ids)
        self.all_vecs.append(vecs)
        self.n_rows += len(ids)
        spec = self._build_spec(table, "append")

        def body():
            _, sink = self._spec(spec)
            with self.tracer.span("sinks.write"):
                sink()

        return self._op(op_id, traced, "append", body)

    def check(self, kind, run):
        if kind == "append":
            n = self.codes_rows()
            return 1, n == self.n_rows, {"codes_rows": n}
        qids, rows = run
        ids = np.concatenate(self.all_ids)
        vecs = np.concatenate(self.all_vecs)
        pos = {int(i): j for j, i in enumerate(ids)}
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        ok = sorted(by_q) == sorted(qids)
        recall = []
        for q in qids:
            hits = sorted(by_q.get(q, []), key=lambda r: r["rank"])
            got = [r["neighbor_id"] for r in hits]
            ok &= [r["rank"] for r in hits] == list(range(1, self.K + 1))
            ok &= len(set(got)) == self.K and all(g in pos and g != q for g in got)
            sims = vecs @ vecs[pos[q]]
            sims[pos[q]] = -np.inf  # the engine excludes the query itself
            exact = ids[np.argpartition(-sims, self.K)[: self.K]]
            recall.append(len(set(got) & set(int(e) for e in exact)) / self.K)
        if not ok:
            self.errors.append(f"query op {qids} returned malformed top-{self.K} rows")
        self.quality.append(float(np.mean(recall)))
        return 1, ok, {}


class StreamIngest(Workload):
    """One long-lived stream of the curation chain draining a staged
    backlog at a fixed ``maxFilesPerTrigger``; one op is one micro-batch.
    The engine paces the batches (a drain measures capacity)."""

    name = "stream_ingest"
    main_kind = "micro_batch"
    min_warm, max_warm = 12, 30
    STATE_PARTITIONS = 4
    POLL_S = 0.05
    BATCH_TIMEOUT_S = 120.0

    def setup(self) -> None:
        self.src = os.path.join(self.work, "stream_in")
        self.out = os.path.join(self.work, "stream_out")
        self.ckpt = os.path.join(self.work, "stream_ckpt")
        self.truth = gen.stream_backlog(self.seed, self.src)
        self.spec = f"""
engine:
  state_partitions: {self.STATE_PARTITIONS}
input:
  type: file
  path: "{self.src}"
  format: parquet
  stream: true
  as_messages: false
  schema: "doc_id long, ts timestamp_ntz, text string"
  maxFilesPerTrigger: "{gen.STREAM_FILES_PER_TRIGGER}"
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
output:
  type: file_exactly_once
  path: "{self.out}"
  checkpoint: "{self.ckpt}"
"""
        from nekton_spark.spec import run_spec

        with self.tracer.span("spec.compile"):  # run_spec: compile and start
            self.query = run_spec(self.spark, self.spec)
        self.seen = -1  # last batch id handed out
        self.files_done = 0  # files consumed by the batches handed out

    def next_op(self, op_id: int, kind: str, traced: bool) -> Sample:
        deadline = time.monotonic() + self.BATCH_TIMEOUT_S
        while True:
            p = self.query.lastProgress
            if p is not None and p["batchId"] > self.seen:
                break
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            if time.monotonic() > deadline:
                raise TimeoutError(f"no micro-batch within {self.BATCH_TIMEOUT_S} s")
            time.sleep(self.POLL_S)
        # batches handed out in order: a batch that finished between two
        # polls is recovered from the progress history
        if p["batchId"] != self.seen + 1:
            p = next(x for x in self.query.recentProgress if x["batchId"] == self.seen + 1)
        p = json.loads(p.json) if hasattr(p, "json") else p
        self.seen = p["batchId"]
        b = progress_breakdown(p)
        self.tracer.op_id = op_id
        lo = self.files_done
        self.files_done += b["input_rows"] // gen.STREAM_DOCS_PER_FILE
        # the drain is over: the stream stays idle and reports no more batches
        self.exhausted = self.files_done >= gen.STREAM_FILES
        ok = self._check_epoch(p["batchId"], lo, self.files_done, b["input_rows"])
        layer = dict(b, batch_id=p["batchId"])
        if traced:
            layer["group"] = f"{self.query.runId}#{p['batchId']}"
        return Sample(op_id, self.main_kind, b["trigger_s"], b["input_rows"], ok, traced, layer)

    def _check_epoch(self, batch_id: int, lo: int, hi: int, rows: int) -> bool:
        expected = set().union(*self.truth["keep_by_file"][lo:hi])
        path = os.path.join(self.out, f"epoch={batch_id}")
        got, texts = [], []
        if os.path.isdir(path):
            t = pq.read_table(path, columns=["doc_id", "text"])
            got, texts = t.column("doc_id").to_pylist(), t.column("text").to_pylist()
        got_set = set(got)
        self.quality.append(len(got_set & expected) / max(1, len(expected)))
        problems = []
        if rows % gen.STREAM_DOCS_PER_FILE:
            problems.append(f"read {rows} rows, not whole files")
        if len(got) != len(got_set):
            problems.append("a doc_id was written twice")
        if got_set != expected:
            problems.append(
                f"wrote {len(got_set)} doc_ids, expected {len(expected)} "
                f"({len(got_set - expected)} unexpected, {len(expected - got_set)} missing)"
            )
        if any("@" in s for s in texts):
            problems.append("an email address survived redact_pii")
        for msg in problems:
            self.errors.append(f"micro-batch {batch_id}: {msg}")
        return not problems

    def locked_partitions(self) -> int | None:
        """The shuffle-partition count the stream locked into its
        checkpoint at the first batch."""
        path = os.path.join(self.ckpt, "offsets", "0")
        try:
            with open(path) as f:
                meta = json.loads(f.read().splitlines()[1])
        except (OSError, IndexError, ValueError):
            return None
        return int(meta["conf"]["spark.sql.shuffle.partitions"])

    def close(self) -> None:
        if self.query.isActive:
            self.query.stop()
        locked = self.locked_partitions()
        if locked != self.STATE_PARTITIONS:
            self.errors.append(
                f"stream locked {locked} shuffle partitions into checkpoint/offsets/0, "
                f"spec sets engine.state_partitions {self.STATE_PARTITIONS}"
            )

    def backlog_files(self) -> int:
        return gen.STREAM_FILES - self.files_done


WORKLOADS = {w.name: w for w in (CurateBatch, StreamIngest, SearchServe)}

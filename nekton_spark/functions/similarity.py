r"""Similarity search over embedding columns (SURVEY §2.5).

Seven top-k entry points share one skeleton: NOMINATE candidates, SCORE
them, optionally RE-RANK the nominees exactly — the partition → prune →
verify shape of REPOSE (ICDE 2021). Every stage has one helper here, so
each algorithm decision (tie order, fold order, code layout, re-rank
plan) lives in one place:

- :func:`brute_force_topk` — nominates the whole corpus, scores exact
  cosine against the broadcast query set: the oracle, and the right
  answer whenever the query set is small.
- :func:`lsh_topk` — nominates rows sharing a random-hyperplane sketch
  band (optionally a Hamming-1 probe) with the query, scores exact
  cosine per bucket.
- :func:`ivf_topk` — nominates the rows of the ``n_probe`` coarse
  cells nearest the query (:func:`_nearest_cell`), scores exact
  cosine.
- :func:`pq_topk` / :func:`ivfpq_topk` / :func:`ivfpq_residual_topk`
  — nominate every row or the probed cells' rows, score the ADC
  approximation over one-byte PQ codes (:func:`_encode_pass`,
  :func:`_ivfpq_adc_topk`); the index build/query/append split
  persists the same codes.
- :func:`pq_topk_rerank` and ``ivfpq_residual_topk(rerank_mult=…)`` —
  re-rank the ADC nominees with exact cosine (:func:`_exact_rerank`).

Every ranking ends in :func:`_top_k`: (score desc, neighbor_id asc).
Every float sum is a 0.0-seeded left fold over dimensions
(:func:`_fold_dots`, :func:`_sq_dists`), the order the SQL oracles
replay, so results are bit-identical across engines. Hyperplanes are
generated deterministically from :func:`~.hashing.hash60` (seeded), so
no random matrix is shipped.
"""

from __future__ import annotations

import json
import math
import os
import threading
from collections import OrderedDict
from types import SimpleNamespace

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyspark.sql import types as T

from ..materialize import materialize
from .hashing import hash60_py


def as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _id_vec(df: DataFrame, id_col: str, vec_col: str, i: str = "id", v: str = "v") -> DataFrame:
    """``df``'s id and vector columns as (``i``, ``v``), the vector cast
    to array<double>."""
    return df.select(F.col(id_col).alias(i), as_double(F.col(vec_col)).alias(v))


def _sql_double(x: float) -> str:
    """Render a Python float as a Spark SQL double literal that parses
    back to the IDENTICAL IEEE-754 value: Python's repr is the shortest
    round-trip decimal, and Double.parseDouble returns the nearest
    double to any decimal string — for a round-trip repr that nearest
    double is the original. Non-finite spellings use the CAST form the
    parser requires (cannot arise from finite training data; kept for
    defensive completeness)."""
    x = float(x)
    if math.isfinite(x):
        return repr(x) + "D"
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    return "CAST('Infinity' AS DOUBLE)" if x > 0 else "CAST('-Infinity' AS DOUBLE)"


def _collect_queries(queries: DataFrame, id_col: str, vec_col: str) -> list:
    """The bounded query side as driver rows (qid, qv), sorted by qid on
    the driver: one job, where a Spark ``orderBy`` adds a sampling
    job."""
    rows = _id_vec(queries, id_col, vec_col, "qid", "qv").collect()
    rows.sort(key=lambda r: r.qid)
    return rows


def _adc_luts(qv: list[float], cbs, d0: int) -> list[list[float]]:
    """Per-subspace lookup tables LUT[s][c] = <q_s, codebook[s][c]>,
    each a 0.0-seeded left fold over the subspace (the oracle's
    unrolled dot)."""
    luts = []
    for s, cb in enumerate(cbs):
        lut = []
        for c in cb:
            acc = 0.0
            for j in range(d0):
                acc += qv[s * d0 + j] * c[j]
            lut.append(acc)
        luts.append(lut)
    return luts


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The top ``k`` rows per query of (query_id, neighbor_id, score),
    ranked by (score desc, neighbor_id asc): (query_id, neighbor_id,
    score, rank). Catalyst plans the rank filter as a partial top-k per
    partition, never a global sort."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def _adc_ranked(encoded: DataFrame, qs: list[tuple], k: int) -> DataFrame:
    """ADC-score ``encoded`` (id, cid, codes) against the query batch
    ``qs`` and keep the :func:`_top_k` per query, the query itself
    excluded. ``cid`` is read only when the batch is probed.

    Each element of ``qs`` is ``(qid, luts, cells, cterms)``. ``cells``
    (probed cids) is None for an unprobed scan; ``cterms`` (the exact
    coarse term per probed cell, aligned with ``cells``) is None unless
    residual-encoded.

    The per-query values ride as DATA, not code: the batch is ONE JSON
    string literal, ``from_json``-parsed into ``array<struct<query_id,
    luts[, cells[, cterms]]>>`` and exploded against the codes.
    Catalyst folds the parse into a single literal object, so the
    stage's generated code is the same for every query batch of an
    index and the codegen cache hits; inline per-query literals
    (``cid IN (...)``, query ids, LUT arrays inside the chain) forced
    fresh Janino compiles on every query instead. One string token also
    keeps the parser and analyser off a ~10^3-node expression tree. The
    doubles cross exactly: ``json`` writes the shortest round-trip repr
    and Jackson parses it back to the nearest double, the original. A
    row is scored only where ``array_contains(q.cells, cid)``. The
    score is the left-associated sum of per-subspace LUT lookups
    ``round``ed to 6 digits, ``(ct + chain)`` when residual — the
    same fold order as the SQL oracle's replay."""
    if not qs:
        # no queries → empty result, not an array of zero structs (a
        # VOID-typed explode that fails the downstream struct
        # extraction with an unactionable AnalysisException)
        return encoded.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, score double, rank int"
        )
    probed = qs[0][2] is not None
    residual = qs[0][3] is not None
    ddl = "query_id:bigint,luts:array<array<double>>"
    if probed:
        ddl += ",cells:array<bigint>"
    if residual:
        ddl += ",cterms:array<double>"
    batch = []
    for qid, luts, cells, cterms in qs:
        q = {"query_id": int(qid), "luts": [[float(x) for x in lut] for lut in luts]}
        if probed:
            q["cells"] = [int(c) for c in cells]
        if residual:
            q["cterms"] = [float(x) for x in cterms]
        batch.append(q)
    chain = "element_at(element_at(q.luts,1),(element_at(codes,1)+1))"
    for s in range(2, len(qs[0][1]) + 1):
        chain = f"({chain}+element_at(element_at(q.luts,{s}),(element_at(codes,{s})+1)))"
    if residual:
        chain = (
            "(element_at(q.cterms,CAST(array_position(q.cells,cid) AS INT))"
            f"+{chain})"
        )
    keep = F.col("q.query_id") != F.col("neighbor_id")
    if probed:
        keep = F.expr("array_contains(q.cells,cid)") & keep
    scored = (
        encoded.select(
            F.col("id").alias("neighbor_id"),
            *(["cid"] if probed else []),
            "codes",
            F.explode(
                F.from_json(F.lit(json.dumps(batch)), f"array<struct<{ddl}>>")
            ).alias("q"),
        )
        .filter(keep)
        .select(
            F.col("q.query_id").alias("query_id"),
            "neighbor_id",
            F.expr(f"round({chain},6)").alias("score"),
        )
    )
    return _top_k(scored, k)


def _local_df(spark, rows: list[tuple], ddl: str) -> DataFrame:
    """A driver-local relation built through the pandas/Arrow
    converter instead of the pickled-``parallelize`` path. The plain
    ``createDataFrame(list, ddl)`` route slices the rows into
    ``defaultParallelism`` pickled partitions, and a downstream
    ``coalesce(1)`` (the index writers' one-file layout) then walks
    ALL of them through sequential Python-worker rounds — measured
    6–7 s per kilobyte-scale write on local[32] vs 0.65 s through one
    Arrow batch (guide §5 driver discipline). Values are exact either
    way: float64/int64/strings cross Arrow bit-identically, ``None``
    maps to null."""
    schema = T._parse_datatype_string(ddl)
    pdf = pd.DataFrame(
        {f.name: [r[i] for r in rows] for i, f in enumerate(schema.fields)}
    )
    return spark.createDataFrame(pdf, schema)


def _already_repartitioned(df: DataFrame) -> bool:
    """True when the frame's logical plan already carries a Repartition
    node (ours or the caller's) — walking node names via py4j, never
    stringifying the plan (synth plans embed multi-KB literals)."""
    try:
        stack = [df._jdf.queryExecution().analyzed()]
        while stack:
            node = stack.pop()
            if node.nodeName() in ("Repartition", "RepartitionByExpression"):
                return True
            ch = node.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
    except Exception:
        return False
    return False


# Slice granularity for the VECTOR kernels (sketch / dot-product /
# quantize / PCA / k-means assignment / dHash): their per-row work is
# ~µs-scale numpy batch arithmetic, so a task needs ≥ ~2500 wide rows
# (~1 MiB of 64-dim doubles) before it amortizes its own scheduling +
# Arrow round-trip. r15 sized these sites at the 64 KiB default tuned
# for the ms-per-row codec/extract kernels, which spread a 2000-row
# corpus over 12 near-empty Python tasks — the measured
# embedding_near_dup regression (+30%, slower at 32 cores than 8,
# r15 verdict #1). Interleaved same-session A/B at sf0.1 (min-of-2):
# embedding_near_dup 1.65→1.38, image_near_dup 2.33→1.73, ann_topk_lsh
# 2.33→1.69, kmeans_tiered 1.83→1.45, semdedup 1.37→1.13, pca
# 0.78→0.51 — while webp_decode (ms/row codec; KEEPS the 64 KiB
# default) was 1.5 s at 64 KiB vs 8.3 s at 1 MiB. At the decade
# scales the coarser slice still fans: sf1 embeddings (7.8 MB) → 7
# slices, sf10 (78 MB) → 32; at real scale the helper is a no-op
# either way (natural splits exceed the target).
VEC_BYTES_PER_SLICE = 1 << 20


def ensure_parallelism(df: DataFrame, bytes_per_slice: int = 64 << 10) -> DataFrame:
    """Small corpora read as 1-2 parquet splits; with the query side
    broadcast there is no shuffle to fan the scoring out, so the whole
    candidate evaluation would run on one task. Repartition up to the
    cluster's parallelism when (and only when) the input is
    under-partitioned — a no-op at real scale, where file splits
    already exceed core count.

    Sizing comes from the input files' byte size (no RDD conversion,
    no count job): the fan-out target is one slice per
    ``bytes_per_slice`` capped at the cluster parallelism, so a
    500-row corpus gets ~4 tasks instead of 32 near-empty Python
    workers, while a 100 TB corpus is left alone (its natural split
    count already exceeds any target this could pick)."""
    if df.isStreaming:
        # micro-batch partitioning is the source's business; the
        # heavy-extractor call sites (r13) share this helper and must
        # stay stream-composable
        return df
    if getattr(df, "_nekton_fanned_out", False):
        # idempotence marker (r15 opt): callers that fan out BEFORE a
        # heavy projection (synth text, codec synth) hand the marked
        # frame down a chain whose inner stages also call this helper —
        # without the marker each call would stack another round-robin
        # exchange of the full payload
        return df
    if _already_repartitioned(df):
        # the marker does not survive .select()/.withColumn() (new
        # DataFrame objects), so also recognise an upstream Repartition
        # in the logical plan: entry paths fan out BEFORE their synth
        # projection precisely so the heavy expression runs fanned —
        # stacking a second exchange above it would undo nothing and
        # shuffle the synthesized payload a second time
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    files = [f for f in df.inputFiles() if f.startswith("file:")]
    if not files:
        # non-file-backed (in-memory test frames) or remote storage:
        # remote inputs are large/multi-split in practice — leave as-is
        if not df.inputFiles() and df.rdd.getNumPartitions() < target:
            out = df.repartition(target)
            out._nekton_fanned_out = True
            return out
        return df
    from urllib.parse import unquote, urlparse

    total = 0
    for f in files:
        try:
            total += os.path.getsize(unquote(urlparse(f).path))
        except OSError:
            return df
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    s = raw.lower().rstrip("b")
    max_split = (
        int(s[:-1]) * units[s[-1]] if s and s[-1] in units else int(s or 134217728)
    )
    est_splits = max(len(files), total // max_split)
    want = max(1, min(target, total // bytes_per_slice))
    if est_splits < want:
        out = df.repartition(want)
        out._nekton_fanned_out = True
        return out
    return df


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Exact top-k: (query_id, neighbor_id, score) — score = cosine,
    ties broken by neighbor id; self-matches excluded."""
    q = _id_vec(queries, id_col, vec_col, "query_id", "qv")
    c = ensure_parallelism(
        _id_vec(corpus, id_col, vec_col, "neighbor_id", "cv"), VEC_BYTES_PER_SLICE
    )
    cos = cosine_udf()
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", F.round(cos(F.col("qv"), F.col("cv")), 6).alias("score")
    )
    return _top_k(scored, k)


def hyperplane_values(seed: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component j ∈ {-1,+1}
    from bit parity of hash60(j, seed). Rademacher hyperplanes are a
    standard SimHash choice and need no stored matrix. Computed once
    driver-side and embedded as literals — recomputing the md5-derived
    components per row would dominate the sketch cost."""
    return [1.0 if hash60_py(str(j), seed) & 1 else -1.0 for j in range(dim)]


def sketch_udf(dim: int, n_bits: int = 16):
    """Arrow-batched sign sketch: ``n_bits`` sign bits of <v, h_i>
    packed into a long, h_i = ``hyperplane_values(7000 + i, dim)``.
    Exactness: each dot is the 0.0-seeded left fold over dimensions —
    bit-identical to the DuckDB oracle's ``list_reduce``."""
    if not 0 < n_bits <= 62:
        # bit 63 is the long's sign bit and numpy's 1<<63 wraps to
        # INT64_MIN (and 1<<64 to 0) — a silent wrong sketch, so refuse
        raise ValueError(f"n_bits must be in 1..62, got {n_bits}")
    H = np.array([hyperplane_values(7000 + i, dim) for i in range(n_bits)])  # (bits, dim)
    powers = (1 << np.arange(n_bits)).astype(np.int64)

    @F.pandas_udf("long")
    def _sketch(v: pd.Series) -> pd.Series:
        M = np.asarray([np.asarray(x, dtype=np.float64) for x in v])  # (n, dim)
        # exact left fold over dimensions, accumulated column-by-column:
        # identical addition order to cumsum(M[:,None,:]*H, axis=2)[..,-1]
        # but with (n, bits) temporaries instead of an (n, bits, dim)
        # cube — the ~300 MB/batch cube allocations measured as
        # memory-compaction stalls on a loaded host (see clustering
        # _matrix_assigner for the same fix)
        dots = np.zeros((len(M), H.shape[0]))
        for j in range(H.shape[1]):
            dots += M[:, j, None] * H[None, :, j]
        return pd.Series(((dots >= 0) * powers).sum(axis=1).astype(np.int64))

    return _sketch


def _fold_dots(C: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """All-pairs dot products as the exact LEFT FOLD, dimension by
    dimension: acc_j += C[:,j] ⊗ Q[:,j] in ascending j — the identical
    addition sequence to ``cumsum(C[:,None,:]*Q[None,:,:],axis=2)[...,-1]``
    (and to the DuckDB oracle's fold), but with O(n·m) working memory
    instead of O(n·m·dim). The cumsum form allocated an (n, m, 64)
    float64 temporary — ~800 MB per 1250-row bucket, which at the sf1
    rehearsal turned embedding_near_dup into a 163 s allocation storm.
    A BLAS matmul would be fastest but sums pairwise — different
    rounding order, which would break oracle bit-parity."""
    acc = np.zeros((C.shape[0], Q.shape[0]))
    for j in range(C.shape[1]):
        acc += C[:, j, None] * Q[None, :, j]
    return acc


def _sq_dists(P: np.ndarray, C: np.ndarray) -> np.ndarray:
    """All-pairs squared-L2 distances of the rows of ``P`` to the rows
    of ``C``, each the 0.0-seeded left fold over dimensions (the
    oracle's unrolled order), with (rows, codes) working memory like
    :func:`_fold_dots`. Every PQ encode, distortion and k-means
    assignment takes its argmin (first index on ties) or min here."""
    d = np.zeros((len(P), len(C)))
    for j in range(P.shape[1]):
        dcol = P[:, j, None] - C[None, :, j]
        d += dcol * dcol
    return d


def _nearest_cell(V: np.ndarray, c_mat: np.ndarray, c_norm: np.ndarray) -> np.ndarray:
    """Row index into the cid-sorted centroid matrix ``c_mat`` of each
    row's nearest coarse cell by exact-fold cosine; argmax keeps the
    first index, so ties go to the smallest cid (``ORDER BY sim DESC,
    cid ASC``). Rows are chunked so the (rows, centroids) score matrix
    stays ~32 MB: a 10k-row Arrow batch against the 65536-centroid cap
    would otherwise allocate a 5 GB matrix per batch."""
    nv = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])
    best = np.empty(len(V), dtype=np.int64)
    row_chunk = max(1, (32 << 20) // (8 * max(1, len(c_mat))))
    for r0 in range(0, len(V), row_chunk):
        r1 = min(r0 + row_chunk, len(V))
        S = _fold_dots(V[r0:r1], c_mat) / (nv[r0:r1, None] * c_norm[None, :])
        best[r0:r1] = S.argmax(axis=1)
    return best


def cosine_udf():
    """Arrow-batched cosine with exact left-fold sums (cumsum); rounding
    stays JVM-side (F.round) because numpy rounds half-even while
    Spark/DuckDB round half-up."""
    @F.pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.asarray([np.asarray(x, dtype=np.float64) for x in a])
        B = np.asarray([np.asarray(x, dtype=np.float64) for x in b])
        dots = np.cumsum(A * B, axis=1)[:, -1]
        na = np.sqrt(np.cumsum(A * A, axis=1)[:, -1])
        nb = np.sqrt(np.cumsum(B * B, axis=1)[:, -1])
        return pd.Series(dots / (na * nb))

    return _cos


def _estimate_rows(df: DataFrame) -> int:
    """Row count for the width policy WITHOUT an eager Spark job when
    the frame is file-backed: parquet footers carry exact row counts,
    so summing them driver-side is a metadata read (the same trick
    :func:`ensure_parallelism` uses for byte sizes). Exact for
    scan-shaped inputs — the only shape the auto-width driver queries
    use — and equal to the ``count(*)`` a SQL oracle computes over the
    same table. An upstream filter would make this an upper bound,
    which is a fine width heuristic but would diverge from a
    count-based oracle: pass an explicit ``n_bits`` there. Falls back
    to ``df.count()`` (non-parquet / in-memory frames); streaming
    frames must pass ``n_bits`` explicitly."""
    files = df.inputFiles()
    local = [f for f in files if f.startswith("file:")]
    if files and len(local) == len(files):
        from urllib.parse import unquote, urlparse

        try:
            import pyarrow.parquet as pq

            total = 0
            for f in local:
                path = unquote(urlparse(f).path)
                if not path.endswith(".parquet"):
                    return df.count()
                total += pq.ParquetFile(path).metadata.num_rows
            return total
        except Exception:
            pass
    return df.count()


def _resolve_band_width(
    df: DataFrame, n_bits: int | None, bands: int, target_bucket: int
) -> int:
    """Shared banded-sketch width policy: auto width scales bits with
    the corpus (bits-per-band = ceil(log2(n / target_bucket)) clamped
    to [2, min(14, 62 // bands)]) so bucket sizes stay ~target_bucket
    as n grows — a FIXED width degenerates toward brute force (bucket
    size n / 2^r; the sf10 rehearsal measured a fixed 16-bit top-k at
    4.6× per data decade for exactly this reason). Explicit n_bits is
    honored verbatim after validation — that is what lets a SQL oracle
    replay the exact bucket structure; the auto width is ALSO
    oracle-replayable because the arithmetic is integer-exact:
    bits-per-band = ceil(log2(ceil(n / target_bucket))) computed via
    ``int.bit_length`` here and ``ceil(log2(m))`` over the integer m
    in SQL — equal for all m (ceil∘log2 commutes with the inner ceil
    on integer thresholds, and log2 of a power of two is exact in
    IEEE double on both engines)."""
    if not 1 <= bands <= 62:
        raise ValueError(
            f"bands must be in 1..62, got {bands}: each band needs >=1 bit of a 62-bit sketch"
        )
    if n_bits is None:
        n = _estimate_rows(df)
        m = max(1, -(-n // target_bucket))  # ceil(n / target_bucket)
        r_auto = max(2, (m - 1).bit_length())  # == ceil(log2(m)), exactly
        n_bits = bands * max(1, min(r_auto, 14, 62 // bands))
    if n_bits > 62:
        raise ValueError(
            f"n_bits={n_bits} exceeds 62: the sketch packs into one signed "
            "long; use more bands at <=62 total bits instead"
        )
    if n_bits < bands:
        # r = n_bits // bands would be 0 → mask 0 → every row in one bucket
        # per band: a silent all-pairs quadratic blowup, refuse instead
        raise ValueError(
            f"n_bits={n_bits} < bands={bands}: each band needs >=1 bit "
            "(n_bits // bands >= 1); lower bands or raise n_bits"
        )
    return n_bits


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bits: int | None = None,
    bands: int = 4,
    target_bucket: int = 64,
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: band the sign sketch into ``bands`` sub-keys;
    candidates share ≥1 band with the query; exact cosine re-rank.

    Recall is tuned by bands/n_bits (more bands = higher recall, more
    candidates). The default width scales with the corpus (see
    :func:`_resolve_band_width`) so per-band buckets stay
    ~``target_bucket`` rows as n grows; a fixed width makes the bucket
    scoring degenerate toward brute force. Returns the same schema as
    brute_force_topk.

    ``multiprobe=1`` (r11 — Lv et al., "Multi-Probe LSH", VLDB 2007;
    the DEFAULT since r15, r14 verdict #5 — it dominated plain LSH on
    every measured axis: recall@10 0.815 vs 0.255 uniform, 0.995 vs
    0.65 clustered, at a LOWER wall): each QUERY additionally probes
    every band key at Hamming distance 1 (the r single-bit flips per
    band — a near-miss query whose sketch differs from its neighbors'
    in one hyperplane sign still meets them). Corpus-side storage and
    bucketing are UNCHANGED — the query side fans out ×(1 + r),
    bounded because queries are the small side by contract; recall
    rises without the memory cost of more bands. ``multiprobe=0``
    selects the classic single-probe plan (the ann_topk_lsh oracle
    twin pins it). Radii > 1 are refused (the probe-sequence quality
    ordering beyond distance 1 is a different algorithm)."""
    if multiprobe not in (0, 1):
        raise ValueError(
            f"multiprobe={multiprobe}: only 0 (off) or 1 (Hamming-1 "
            "query probes) supported"
        )
    n_bits = _resolve_band_width(corpus, n_bits, bands, target_bucket)
    r = n_bits // bands
    mask = (1 << r) - 1

    sketch = sketch_udf(dim, n_bits)

    def banded(df: DataFrame, idc: str, vc: str, probe: bool = False):
        v = as_double(F.col(vc))
        entries = []
        for b in range(bands):
            kb = F.shiftright(F.col("sk"), b * r).bitwiseAND(F.lit(mask))
            entries.append(
                F.struct(F.lit(b).alias("band"), kb.alias("key"))
            )
            if probe:
                for t in range(r):
                    entries.append(
                        F.struct(
                            F.lit(b).alias("band"),
                            kb.bitwiseXOR(F.lit(1 << t)).alias("key"),
                        )
                    )
        return (
            df.select(F.col(idc).alias("id"), v.alias("v"))
            .withColumn("sk", sketch("v"))
            .select(
                "id",
                "v",
                F.explode(F.array(*entries)).alias("e"),
            )
            .select("id", "v", F.col("e.band").alias("band"), F.col("e.key").alias("key"))
        )

    # cb feeds BOTH the bucket-size census and the salted join: without
    # materialization the corpus-scale sketch UDF (the dominant map
    # cost) executes once per branch. Checkpoint volume = the same
    # bands× rows the bucket shuffle already moves.
    cb = materialize(banded(ensure_parallelism(corpus, VEC_BYTES_PER_SLICE), id_col, vec_col))
    qb = banded(queries, id_col, vec_col, probe=bool(multiprobe))

    # Salt oversized corpus buckets into ~tile-row subgroups (same
    # hazard as embedding_near_dup: a sketch bucket is otherwise ONE
    # cogroup = one task, so a hot bucket — e.g. a tight cosine
    # cluster the hyperplanes cannot split — serializes its whole
    # candidate scoring on one core). Corpus rows get a deterministic
    # tile ct = pmod(xxhash64(id), n_tiles); query rows are replicated
    # to every tile of their bucket (queries are the small side by
    # contract), so each (query, candidate) pair meets exactly once.
    tile = 2048
    big = (
        cb.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .filter(F.col("bucket_n") > tile)
    )
    nt = F.ceil(F.coalesce(F.col("bucket_n"), F.lit(1)) / tile).cast("int")
    cbs = (
        cb.join(big, ["band", "key"], "left")
        .withColumn("ct", F.pmod(F.xxhash64("id"), nt).cast("int"))
        .select("id", "v", "band", "key", "ct")
    )
    qbs = (
        qb.join(big, ["band", "key"], "left")
        .withColumn("nt", nt)
        .select(
            "id",
            "v",
            "band",
            "key",
            F.explode(F.sequence(F.lit(0), F.col("nt") - 1)).alias("ct"),
        )
    )

    # Score per (salted) LSH bucket with a cogrouped applyInPandas:
    # each vector crosses the wire once per band (~bands·n rows)
    # instead of once per candidate pair (~n²/buckets rows of ~1 KB).
    # Inside a bucket one exact-fold (cumsum) "matmul" scores all
    # pairs — BLAS-class speed, bit-identical sums (tile membership
    # does not change any pair's fold order).
    def score_bucket(cdf: pd.DataFrame, qdf: pd.DataFrame) -> pd.DataFrame:
        if cdf.empty or qdf.empty:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "score": []})
        C = np.asarray([np.asarray(x) for x in cdf["v"]])
        Q = np.asarray([np.asarray(x) for x in qdf["v"]])
        dots = _fold_dots(C, Q)
        nc = np.sqrt(np.cumsum(C * C, axis=1)[:, -1])
        nq = np.sqrt(np.cumsum(Q * Q, axis=1)[:, -1])
        S = dots / (nc[:, None] * nq[None, :])
        ci = cdf["id"].to_numpy()
        qi = qdf["id"].to_numpy()
        n_idx, q_idx = np.nonzero(ci[:, None] != qi[None, :])
        return pd.DataFrame(
            {"query_id": qi[q_idx], "neighbor_id": ci[n_idx], "score": S[n_idx, q_idx]}
        )

    scored_raw = (
        # explicit repartition on the full salted key — a shuffle join
        # above would leave (band, key) partitioning, which already
        # satisfies the cogroup's clustering requirement, putting every
        # subgroup of a hot bucket back into one task
        cbs.repartition("band", "key", "ct")
        .groupBy("band", "key", "ct")
        .cogroup(qbs.repartition("band", "key", "ct").groupBy("band", "key", "ct"))
        .applyInPandas(score_bucket, "query_id long, neighbor_id long, score double")
    )
    scored = scored_raw.select(
        "query_id", "neighbor_id", F.round("score", 6).alias("score")
    ).dropDuplicates(["query_id", "neighbor_id"])
    return _top_k(scored, k)


def _resolve_coarse(
    coarse: str | None, centroid_stride: int | None, coarse_k: int | None
) -> str:
    """Resolve the coarse-quantizer mode shared by the IVF family.

    ``coarse=None`` (the engine default since r12) means TRAINED
    k-means cells — worth +0.28–0.45 clustered recall@10 at flat wall
    vs the sampled quantizer (r11 bench) — UNLESS the caller pinned an
    explicit ``centroid_stride``, the sampled quantizer's only sizing
    knob, in which case the sampled semantics those call sites were
    written against (and the SQL oracles replay) are kept. Explicit
    ``coarse=`` values are honored verbatim, and parameter/mode
    mismatches REFUSE rather than silently ignore (the engine-wide
    policy): ``centroid_stride`` with kmeans, ``coarse_k`` with
    sample, and ``coarse_k < 1`` (0 is a sizing bug, not a request
    for the √n default — r11 ADVICE)."""
    if coarse is None:
        coarse = "sample" if centroid_stride is not None else "kmeans"
    if coarse not in ("sample", "kmeans"):
        raise ValueError(f"unknown coarse quantizer {coarse!r}: sample|kmeans")
    if coarse == "kmeans" and centroid_stride is not None:
        raise ValueError(
            "centroid_stride applies to coarse='sample' only; with "
            "coarse='kmeans' size the quantizer via coarse_k "
            "(refuse rather than silently ignore)"
        )
    if coarse_k is not None:
        if coarse == "sample":
            raise ValueError(
                "coarse_k applies to coarse='kmeans' only; with "
                "coarse='sample' size the quantizer via centroid_stride "
                "(refuse rather than silently ignore)"
            )
        if coarse_k < 1:
            raise ValueError(f"coarse_k must be >= 1, got {coarse_k}")
    return coarse


def _coarse_centroids(
    base: DataFrame,
    coarse: str,
    n: int,
    train_stride: int,
    centroid_stride: int | None,
    coarse_k: int | None,
    coarse_iters: int,
    max_centroids: int,
):
    """The coarse quantizer's centroid set, shared by the whole IVF
    family (consolidates the four per-entry-point copies — r11 review
    wave #4). Returns ``(c_ids, c_mat, k_c, centroid_stride)`` where
    exactly one of the last two is non-None, recording the resolved
    sizing for persisted-index metadata.

    ``n`` is supplied by the CALLER — ivf_topk pays an exact count()
    (its probe join reuses the job), the PQ paths use the metadata
    estimate — so consolidating the dispatch does not change any
    path's job structure.

    kmeans: bounded k-means over the train_stride sample, cid = index
    0..k-1 (driver state = O(k·dim), capped by max_centroids).
    sample: every centroid_stride-th corpus vector (cid = corpus id),
    stride auto-sized to √n and ceil-raised until the centroid count
    fits max_centroids."""
    if coarse == "kmeans":
        from .clustering import train_centroids

        k_c = coarse_k if coarse_k is not None else max(
            1, min(math.isqrt(n), max_centroids)
        )
        ctr = base.filter(F.col("id") % train_stride == 0).select(
            F.col("id").alias("_kid"), F.col("v").alias("_kv")
        )
        cb0 = train_centroids(ctr, k_c, coarse_iters)
        return (
            np.arange(len(cb0), dtype=np.int64),
            np.asarray(cb0, dtype=np.float64),
            k_c,
            None,
        )
    if centroid_stride is None:
        centroid_stride = max(1, math.isqrt(n), -(-n // max_centroids))
    cent_rows = (
        base.filter(F.col("id") % centroid_stride == 0).orderBy("id").collect()
    )
    return (
        np.array([r["id"] for r in cent_rows], dtype=np.int64),
        np.asarray([np.asarray(r["v"], dtype=np.float64) for r in cent_rows]),
        None,
        int(centroid_stride),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    centroid_stride: int | None = None,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_centroids: int = 1 << 16,
    coarse: str | None = None,
    coarse_k: int | None = None,
    coarse_iters: int = 2,
    train_cap: int = 1 << 16,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus into
    centroid-owned lists, search only the ``n_probe`` lists nearest to
    each query.

    Stages, sized for the 100 TB shape:

    1. **Centroids**: the deterministic sample ``id % centroid_stride
       == 0``. The default stride is ``floor(sqrt(n))`` — IVF's usual
       √n regime — so the centroid count (and with it the driver-side
       matrix and the per-task closure) stays O(√n) as the corpus
       grows: 10⁹ vectors → ~3.2e4 centroids, never the O(n/constant)
       a fixed stride degrades to. ``max_centroids`` additionally caps
       the auto mode (stride is raised until C fits). An explicit
       stride is honored verbatim — that is what lets a SQL oracle
       replay the exact centroid set. No k-means iterations: a fixed
       pseudo-random sample is the textbook "IVF-flat with random
       seeds" baseline. The centroid set is broadcast (small).
    2. **Assignment** (the n×C dot products every IVF build pays):
       map-only — each Arrow batch scores the centroid matrix shipped
       in the task closure with :func:`_nearest_cell`, so every
       corpus vector gets ONE cid and no n×C rows exist.
    3. **Probe + search**: queries score the broadcast centroids the
       same way, keep ``n_probe`` lists, and join assignments on the
       centroid id — the only corpus-sized shuffle keys on centroid id
       with list-sized fan-out. Exact cosine re-scores candidates;
       top-k by (rounded score desc, neighbor id).

    ``coarse="kmeans"`` (r11; the DEFAULT since r12 — ``coarse=None``
    resolves to kmeans unless an explicit ``centroid_stride`` pins the
    sampled quantizer, see :func:`_resolve_coarse`): centroids come
    from the deterministic
    k-means trainer (clustering.train_centroids, L2, rounded means)
    over the ``train_cap``-stride-sampled corpus at ``coarse_k``
    (default √n, capped) instead of the raw √n sample — cells then
    align with the data's actual cluster structure, which lifts the
    probed-set ceiling dramatically on clustered corpora (measured
    .640 → .950 cosine-ceiling recall@10 at n_probe=4 on the
    64-cluster σ=0.10 bench corpus — the sampled quantizer's cells
    split real clusters, k-means cells don't). Training cost is
    bounded: the per-iteration assignment runs over the ≤ train_cap
    sample, not the corpus; centroid ids are 0..k-1. The oracle
    replays training with the kmeans CTE family (same seeds-by-hash60,
    round(avg, 6) recomputes).

    Approximation contract: identical to the oracle's SQL replay of the
    same algorithm (assignment argmax uses the bit-exact left-fold
    cosine on both engines), NOT to brute force — recall vs brute
    force is a quality property tested separately."""
    coarse = _resolve_coarse(coarse, centroid_stride, coarse_k)
    base = ensure_parallelism(_id_vec(corpus, id_col, vec_col), VEC_BYTES_PER_SLICE)
    cos = cosine_udf()
    # one count job buys both the √n sizing and the train stride; an
    # explicit sampled stride needs neither, so it keeps paying zero
    # count jobs (a full count at corpus scale is not free)
    n = base.count() if (coarse == "kmeans" or centroid_stride is None) else 0
    c_ids, c_mat, _kc, _cs = _coarse_centroids(
        base, coarse, n, max(1, -(-n // train_cap)),
        centroid_stride, coarse_k, coarse_iters, max_centroids,
    )
    # the probe join broadcasts the centroid relation; rebuilding it
    # from the collected matrix (bounded by max_centroids) instead of
    # re-scanning the corpus saves the second scan the sampled branch
    # used to pay
    cents = _local_df(
        corpus.sparkSession,
        [(int(i), [float(x) for x in v]) for i, v in zip(c_ids, c_mat)],
        _CENTROIDS_DDL,
    )
    c_norm = np.sqrt(np.cumsum(c_mat * c_mat, axis=1)[:, -1])

    # Assignment pays the n×C dot products every IVF build pays, but a
    # broadcast JOIN would ship both 64-dim vectors through Arrow for
    # all n×C rows (measured 10× slower at a 10× rehearsal). Instead
    # the centroid MATRIX — O(C) driver data — rides the task closure,
    # and each corpus batch scores all centroids in one exact-fold
    # kernel (:func:`_nearest_cell`): every vector crosses to Python
    # exactly once.
    def assign(batches: "pd.DataFrame") -> "pd.DataFrame":
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"id": [], "v": [], "cid": []})
                continue
            V = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            best = _nearest_cell(V, c_mat, c_norm)
            yield pd.DataFrame(
                {"id": pdf["id"].to_numpy(), "v": pdf["v"], "cid": c_ids[best]}
            )

    assigned = base.mapInPandas(assign, "id long, v array<double>, cid long")
    q = _id_vec(queries, id_col, vec_col, "query_id", "qv")
    wp = Window.partitionBy("query_id").orderBy(F.desc("psim"), F.asc("cid"))
    probed = (
        q.join(F.broadcast(cents))
        .select("query_id", "qv", "cid", cos(F.col("qv"), F.col("cv")).alias("psim"))
        .withColumn("prank", F.row_number().over(wp))
        .filter(F.col("prank") <= n_probe)
        .select("query_id", "qv", "cid")
    )
    scored = (
        probed.join(assigned, "cid")
        .filter(F.col("query_id") != F.col("id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.round(cos(F.col("qv"), F.col("v")), 6).alias("score"),
        )
    )
    return _top_k(scored, k)


PQ_TRAIN_CAP = 1 << 16


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m_sub: int = 8,
    ksub: int = 16,
    iters: int = 2,
    train_cap: int = PQ_TRAIN_CAP,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Product-quantization (PQ) compressed top-k by inner product —
    the MEMORY scale path: each vector is stored as ``m_sub`` one-byte
    codes instead of dim doubles (64 dims → 8 codes: 512 B → 8 B, a
    64× smaller scan; at 10^10 vectors the compressed corpus is ~80 GB
    instead of ~5 TB). Returns (query_id, neighbor_id, score, rank),
    score = the asymmetric-distance (ADC) approximate inner product.

    Stages, sized for 100 TB:

    1. **Codebooks** (driver state O(m_sub·ksub·d0) — 1 KB-scale):
       the vector splits into ``m_sub`` subspaces of d0 = dim/m_sub
       dims; each subspace trains an independent deterministic k-means
       (clustering.train_centroids: seeds = the ksub TRAINING
       subvectors with the smallest hash60(id, SEED_ORDER_SALT),
       ``iters - 1`` rounded-mean recomputes) over
       the deterministic sample ``id % stride == 0`` with stride =
       ceil(n / train_cap) — training rows are bounded at ``train_cap``
       whatever the corpus size, and the stride is replayed from
       count(*) by the SQL oracle (n from parquet footers here, equal
       for scan-shaped inputs).
    2. **Encode** (map-only, one Arrow pass — :func:`_encode_pass`
       without cells): per subspace, exact left-fold squared-L2 argmin
       to the codebook, first-index ties — (id, cid: null, codes:
       array<int>). Zero shuffles.
    3. **ADC scan** (map-only + per-query top-k): queries are collected
       (bounded small side by contract) and their per-subspace lookup
       tables LUT[s][c] = <q_sub, codebook[s][c]> computed driver-side
       with the same left-fold; the score is a pure-codegen chain of
       element_at lookups summed left-associated — the compressed scan
       never touches a vector. Top-k = per-query rank window over the
       scored rows (the same accepted shape as brute/IVF).

    Approximation contract: identical to the oracle's SQL replay of
    the same algorithm (training, encoding, and LUT arithmetic are the
    same exact folds); recall vs brute force is a separate quality
    property (tests/test_functions.py asserts a floor on the synth
    corpus)."""
    t = _ivfpq_train(corpus, id_col, vec_col, dim, m_sub, ksub, iters, train_cap)
    return _ivfpq_adc_topk(
        _encode_pass(t.base, t.cbs, t.d0), queries, t.cbs, t.d0, k, id_col, vec_col
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    centroid_stride: int | None = None,
    n_probe: int = 4,
    m_sub: int = 8,
    ksub: int = 16,
    iters: int = 2,
    train_cap: int = PQ_TRAIN_CAP,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    max_centroids: int = 1 << 16,
    coarse: str | None = None,
    coarse_k: int | None = None,
    coarse_iters: int = 2,
) -> DataFrame:
    """IVF + PQ composition (the classic coarse-quantizer + product-
    quantizer index): the corpus is partitioned into √n inverted lists
    (ivf_topk's deterministic coarse centroids and exact-fold cosine
    argmax) AND stored as m_sub one-byte PQ codes (pq_topk's global
    codebooks) — queries ADC-score ONLY rows of the ``n_probe`` probed
    lists (default 4 — same r10 clustered-recall sweep as ivf_topk:
    2->4 lifted clustered recall@10 0.37->0.465 at no wall cost).

    What the composition buys, and what it does not:

    - vs pq_topk: rows outside the probed lists are never scored, so
      the LUT work shrinks from n rows to ~n·n_probe/√n rows per query.
      The scan itself still READS every codes row: the probe is a
      per-row guard inside the scan, not a partition or row-group
      prune, so the bytes read per query equal pq_topk's.
    - vs ivf_topk: probed lists are scored from 8-byte codes via
      pure-codegen LUT lookups instead of re-scoring true vectors
      through an Arrow cosine — the 64× memory win rides along.

    Build cost: ONE fused Arrow pass computes both the coarse
    assignment (chunked exact-fold cosine argmax vs the O(√n)
    broadcast-by-closure centroid matrix) and the PQ codes (exact
    left-fold squared-L2 argmin per subspace) — each corpus vector
    crosses to Python exactly once, the build shuffles nothing.
    Probing is driver-side (queries are the bounded small side by
    contract; centroids are already driver-resident): same fold, same
    (sim desc, cid asc) tie order as ivf_topk's window. The per-query
    probed-cell guard filters before the LUT score, so unprobed rows
    never evaluate the chain (see :func:`_adc_ranked`).

    Exactness: the oracle replays coarse centroids + assignment +
    probing (ivf CTEs) and PQ training + encoding + ADC (pq CTEs)
    joined on the probed cells — exact hash-match; recall vs brute
    force is a separate quality property (global codebooks — see
    :func:`ivfpq_residual_topk` for the residual-encoded variant that
    recovers the recall global codebooks lose)."""
    t = _ivfpq_train(
        corpus, id_col, vec_col, dim, m_sub, ksub, iters, train_cap,
        (coarse, centroid_stride, coarse_k, coarse_iters, max_centroids),
    )
    return _ivfpq_adc_topk(
        _encode_pass(t.base, t.cbs, t.d0, t.cells), queries, t.cbs, t.d0, k,
        id_col, vec_col, t.cells, n_probe,
    )


# The PQ codes relation (id, cid, codes): the encode pass's output
# schema AND the schema every ``path/codes`` read is given, so no read
# of a persisted index runs a schema-inference job.
IVFPQ_CODES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("cid", T.LongType()),
        T.StructField("codes", T.ArrayType(T.IntegerType())),
    ]
)
_CENTROIDS_DDL = "cid long, cv array<double>"
_CODEBOOKS_DDL = "sub int, code int, c array<double>"
# The one-row parameters relation ``path/meta``: written and read with
# this schema, so a handle reload runs no schema-inference job.
_META_DDL = (
    "format string, m_sub long, ksub long, d0 long, dim long, iters long, "
    "train_cap long, coarse string, coarse_k long, coarse_iters long, "
    "centroid_stride long, n_rows long, train_distortion double"
)


def _encode_pass(base: DataFrame, cbs, d0: int, cells=None, residual: bool = False) -> DataFrame:
    """The PQ family's one Arrow encode pass over ``base`` (id, v):
    (id, cid, codes) in ``IVFPQ_CODES_SCHEMA``, zero shuffles, each
    vector crossing to Python once. With ``cells`` (c_ids, c_mat,
    c_norm) a row's cid is its :func:`_nearest_cell`, else null (the
    unprobed scan never reads it); ``residual`` encodes v − c(v)
    instead of v. Each subspace code is the :func:`_sq_dists` argmin
    over that subspace's codebook, first index on ties."""
    C = [np.asarray(cb, dtype=np.float64) for cb in cbs]

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"id": [], "cid": [], "codes": []})
                continue
            V = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            cid = None
            if cells is not None:
                c_ids, c_mat, c_norm = cells
                best = _nearest_cell(V, c_mat, c_norm)
                cid = c_ids[best]
                if residual:
                    V = V - c_mat[best]
            codes = np.empty((len(V), len(C)), dtype=np.int32)
            for s, cb in enumerate(C):
                codes[:, s] = _sq_dists(V[:, s * d0 : (s + 1) * d0], cb).argmin(axis=1)
            yield pd.DataFrame({"id": pdf["id"].to_numpy(), "cid": cid, "codes": list(codes)})

    return base.mapInPandas(encode, IVFPQ_CODES_SCHEMA)


def _ivfpq_train(
    corpus, id_col, vec_col, dim, m_sub, ksub, iters, train_cap, ivf=None, residual=False
):
    """The PQ family's training prologue. Refuses an indivisible
    ``dim`` and, with ``ivf`` = (coarse, centroid_stride, coarse_k,
    coarse_iters, max_centroids), mismatched coarse parameters before
    any Spark job. Then: the (id, v) ``base`` fanned out for the vector
    kernels, ``n`` from parquet footers, the ≤ ``train_cap`` stride
    sample ``tr`` (stride = ceil(n / train_cap), replayed from
    count(*) by the SQL oracles), the coarse ``cells`` (c_ids, c_mat,
    c_norm) when ``ivf`` is given (else None), and the per-subspace
    codebooks ``cbs`` (:func:`~.clustering.train_subspace_codebooks`)
    — trained on the sample's residuals from their nearest cell when
    ``residual``. Also returns the resolved coarse sizing (``coarse``,
    ``coarse_k``, ``centroid_stride``) the index meta records."""
    from .clustering import train_subspace_codebooks

    if dim % m_sub != 0:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    if ivf is not None:
        coarse, centroid_stride, coarse_k, coarse_iters, max_centroids = ivf
        coarse = _resolve_coarse(coarse, centroid_stride, coarse_k)
    t = SimpleNamespace(d0=dim // m_sub, cells=None)
    t.base = ensure_parallelism(_id_vec(corpus, id_col, vec_col), VEC_BYTES_PER_SLICE)
    t.n = _estimate_rows(t.base)
    stride = max(1, -(-t.n // train_cap))
    t.tr = cb_tr = t.base.filter(F.col("id") % stride == 0)
    if ivf is not None:
        c_ids, c_mat, t.coarse_k, t.centroid_stride = _coarse_centroids(
            t.base, coarse, t.n, stride,
            centroid_stride, coarse_k, coarse_iters, max_centroids,
        )
        t.coarse = coarse
        t.cells = (c_ids, c_mat, np.sqrt(np.cumsum(c_mat * c_mat, axis=1)[:, -1]))
    if residual:
        c_ids, c_mat, c_norm = t.cells

        def residuals(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    yield pd.DataFrame({"id": [], "v": []})
                    continue
                V = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
                R = V - c_mat[_nearest_cell(V, c_mat, c_norm)]
                yield pd.DataFrame({"id": pdf["id"].to_numpy(), "v": list(R)})

        # materialized once: the codebook training runs a seed job and
        # (iters-1) refinement jobs over this bounded (≤ train_cap)
        # relation, each of which would recompute the Arrow assignment
        cb_tr = materialize(t.tr.mapInPandas(residuals, "id long, v array<double>"))
    t.cbs = train_subspace_codebooks(cb_tr, m_sub, t.d0, ksub, iters)
    return t


def _ivfpq_adc_topk(
    encoded, queries, cbs, d0, k, id_col, vec_col, cells=None, n_probe=None, residual=False
):
    """The PQ family's query stage over ``encoded`` (id, cid, codes):
    collect the bounded query side, build each query's LUTs and, when
    ``cells`` (c_ids, c_mat, c_norm) is given, probe the ``n_probe``
    cells nearest it by exact-fold cosine, ties to the smaller cid
    (ivf_topk's window order); :func:`_adc_ranked` then scores the
    probed cells' rows (every row without ``cells``). ``residual`` adds
    the exact coarse term <q, c> per probed cell: the same 0.0-seeded
    dots the probe ranks by, the oracle's unrolled dot."""
    qs = []
    for r in _collect_queries(queries, id_col, vec_col):
        qv = list(r.qv)
        probed = cterms = None
        if cells is not None:
            c_ids, c_mat, c_norm = cells
            q = np.asarray(qv, dtype=np.float64)
            dots = _fold_dots(q[None, :], c_mat)[0]
            sims = dots / (np.sqrt(np.cumsum(q * q)[-1]) * c_norm)
            near = sorted(range(len(c_ids)), key=lambda j: (-sims[j], c_ids[j]))[:n_probe]
            probed = [c_ids[j] for j in near]
            if residual:
                cterms = [dots[j] for j in near]
        qs.append((r.qid, _adc_luts(qv, cbs, d0), probed, cterms))
    return _adc_ranked(encoded, qs, k)


def _exact_rerank(corpus, queries, cand, k, id_col, vec_col):
    """Re-rank the nominated (query_id, neighbor_id) pairs ``cand`` by
    exact cosine and keep the :func:`_top_k`. ``cand`` (|queries|·c
    rows) is broadcast onto a corpus scan column-pruned to (id,
    vector), so only the nominees' true vectors are fetched — a
    broadcast hash semi-join, no corpus shuffle — and the rank window
    runs over |queries|·c rows. The cosine is the exact left fold the
    brute-force oracle replays."""
    cvec = ensure_parallelism(
        _id_vec(corpus, id_col, vec_col, "neighbor_id", "cv"), VEC_BYTES_PER_SLICE
    )
    qvec = _id_vec(queries, id_col, vec_col, "query_id", "qv")
    cos = cosine_udf()
    scored = (
        cvec.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select("query_id", "neighbor_id", F.round(cos(F.col("qv"), F.col("cv")), 6).alias("score"))
    )
    return _top_k(scored, k)


def _pq_distortion(sample: DataFrame, cbs, d0: int) -> float:
    """Mean squared PQ reconstruction error of ``sample`` (id, v) under
    frozen per-subspace codebooks — the bounded drift statistic the
    persisted-index append gate compares against. One Arrow pass over
    the ≤ train_cap stride slice, two scalars per partition to the
    driver; the same :func:`_sq_dists` the encode pass argmins over."""
    C = [np.asarray(cb, dtype=np.float64) for cb in cbs]

    def dist(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"e": [0.0], "c": [0]})
                continue
            V = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            tot = 0.0
            for s, cb in enumerate(C):
                tot += float(_sq_dists(V[:, s * d0 : (s + 1) * d0], cb).min(axis=1).sum())
            yield pd.DataFrame({"e": [tot], "c": [len(V)]})

    row = (
        sample.mapInPandas(dist, "e double, c long")
        .agg(F.sum("e").alias("e"), F.sum("c").alias("c"))
        .collect()[0]
    )
    return float(row["e"] / row["c"]) if row["c"] else 0.0


def _write_index_meta(spark, path: str, meta: dict) -> None:
    """Persist the parameters-only meta as ONE parquet row of
    ``_META_DDL`` via the Spark writer (format/2) — every index
    artifact then lives behind the same filesystem abstraction, so an
    object-store ``path`` that can hold the codes can hold the meta
    too."""
    row = tuple(meta[c.split()[0]] for c in _META_DDL.split(", "))
    _local_df(spark, [row], _META_DDL).coalesce(1).write.mode("overwrite").parquet(
        path + "/meta"
    )


# Session-resident IVF-PQ handles: index path -> (meta listing, (meta,
# c_ids, c_mat, c_norm, cbs)), least recently used first. Module data
# (not function attributes), so wrapping the public functions keeps it.
_HANDLE_PATHS = 4
_handles: OrderedDict = OrderedDict()
_handles_lock = threading.Lock()


def _meta_listing(spark, path: str):
    """(name, length, mtime) of every file under ``path/meta``, from one
    Hadoop ``FileSystem.listStatus`` call — no Spark job. Every build
    and append rewrites meta under a fresh part-file name, so the
    listing changes whenever the index does, whichever process wrote
    it. None when the listing fails (no such directory, or a session
    without a JVM gateway)."""
    from py4j.protocol import Py4JError

    try:
        jp = spark._jvm.org.apache.hadoop.fs.Path(path + "/meta")
        fs = jp.getFileSystem(spark._jsc.hadoopConfiguration())
        return tuple(
            sorted(
                (s.getPath().getName(), s.getLen(), s.getModificationTime())
                for s in fs.listStatus(jp)
            )
        )
    except (Py4JError, AttributeError):
        return None


def _handle_get(path: str, listing):
    """The handle cached for ``path`` under ``listing``, else None."""
    with _handles_lock:
        hit = _handles.get(path)
        if hit is None or hit[0] != listing:
            return None
        _handles.move_to_end(path)
        meta, *arrays = hit[1]
    return (dict(meta), *arrays)


def _handle_put(path: str, listing, handle) -> None:
    meta, c_ids, c_mat, c_norm, cbs = handle
    for a in (c_ids, c_mat, c_norm):
        a.setflags(write=False)
    frozen = (
        dict(meta), c_ids, c_mat, c_norm,
        tuple(tuple(tuple(c) for c in sub) for sub in cbs),
    )
    with _handles_lock:
        _handles[path] = (listing, frozen)
        _handles.move_to_end(path)
        while len(_handles) > _HANDLE_PATHS:
            _handles.popitem(last=False)


def _ivfpq_index_load(spark, path: str):
    """A persisted IVF-PQ index's driver-scale state (meta, c_ids,
    c_mat, c_norm, cbs), served from the session-resident handle while
    the ``path/meta`` listing still matches the one it was loaded
    under; otherwise read and cached. The arrays are read-only; meta is
    a fresh dict per call. An unlistable meta is read uncached; so is
    the format/1 JSON layout, which has no meta relation."""
    path = path.rstrip("/")
    listing = _meta_listing(spark, path)
    if listing is None:
        return _ivfpq_index_read(spark, path)
    handle = _handle_get(path, listing)
    if handle is None:
        handle = _ivfpq_index_read(spark, path)
        _handle_put(path, listing, handle)
    return handle


def _ivfpq_index_read(spark, path: str):
    """Read a persisted IVF-PQ index's driver-scale state: the
    parameters row plus (cid-sorted) centroid matrix and (sub,
    code)-sorted codebooks. Reads format/2 parquet artifacts; falls
    back to the r11 format/1 single-JSON layout when
    ``ivfpq_meta.json`` is present on a driver-readable path. Returns
    (meta, c_ids, c_mat, c_norm, cbs)."""
    jmeta = os.path.join(path, "ivfpq_meta.json")
    if "://" not in path and os.path.exists(jmeta):
        with open(jmeta) as f:
            meta = json.load(f)
        if meta.get("format") != "nekton_spark.ivfpq/1":
            raise ValueError(f"not an ivfpq index: {path}")
        c_ids = np.array(meta["c_ids"], dtype=np.int64)
        c_mat = np.asarray(meta["c_mat"], dtype=np.float64)
        cbs = meta["cbs"]
    else:
        try:
            mrow = spark.read.schema(_META_DDL).parquet(path + "/meta").collect()
        except Exception as e:
            raise ValueError(
                f"not an ivfpq index (no meta relation or ivfpq_meta.json): {path}"
            ) from e
        if len(mrow) != 1:
            raise ValueError(f"corrupt ivfpq index meta ({len(mrow)} rows): {path}")
        meta = mrow[0].asDict()
        if meta.get("format") != "nekton_spark.ivfpq/2":
            raise ValueError(f"not an ivfpq index: {path}")
        cent = spark.read.schema(_CENTROIDS_DDL).parquet(path + "/centroids").collect()
        cent.sort(key=lambda r: r["cid"])
        c_ids = np.array([r["cid"] for r in cent], dtype=np.int64)
        c_mat = np.asarray(
            [np.asarray(r["cv"], dtype=np.float64) for r in cent]
        )
        cbr = spark.read.schema(_CODEBOOKS_DDL).parquet(path + "/codebooks").collect()
        cbr.sort(key=lambda r: (r["sub"], r["code"]))
        cbs = [[] for _ in range(meta["m_sub"])]
        for r in cbr:
            cbs[r["sub"]].append(list(r["c"]))
    c_norm = np.sqrt(np.cumsum(c_mat * c_mat, axis=1)[:, -1])
    return meta, c_ids, c_mat, c_norm, cbs


def ivfpq_index_build(
    corpus: DataFrame,
    path: str,
    centroid_stride: int | None = None,
    m_sub: int = 8,
    ksub: int = 16,
    iters: int = 2,
    train_cap: int = PQ_TRAIN_CAP,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    max_centroids: int = 1 << 16,
    coarse: str | None = None,
    coarse_k: int | None = None,
    coarse_iters: int = 2,
) -> dict:
    """PERSIST an IVF-PQ index (r11; format/2 since r12): the
    build-once/query-many split every production vector index has — at
    10^10 vectors re-training codebooks and re-encoding the corpus per
    query batch is the actual cost, and this is the half ivfpq_topk
    fuses away. Writes, ALL through the Spark writer — so any
    filesystem the codes relation can reach (object stores included)
    holds the WHOLE index; the r11 driver-written JSON blob (O(√n·dim)
    floats, ~130 MB at 10^10 vectors, POSIX-only) is gone:

    - ``path/codes``: the compressed corpus relation (id, cid, codes)
      as parquet — the only corpus-sized artifact, ~m_sub bytes of
      codes per vector (the 64× memory story, now durable);
    - ``path/centroids``: (cid, cv) parquet — O(√n) rows, partially
      loadable;
    - ``path/codebooks``: (sub, code, c) parquet — m_sub·ksub rows;
    - ``path/meta``: ONE parquet row of build parameters: format tag,
      m_sub/ksub/dim/iters/train_cap, the RESOLVED coarse mode with
      coarse_k/coarse_iters or centroid_stride (so a non-default
      build is auditable and reproducible from its artifacts — r11
      ADVICE), n_rows, and the training-sample PQ distortion the
      :func:`ivfpq_index_append` drift gate compares against.

    Build = the SAME stages ivfpq_topk runs — so ``ivfpq_index_query``
    over the persisted artifacts returns EXACTLY ivfpq_topk's rows for
    the same parameters (the ann_index_roundtrip driver row pins this
    against the ivfpq oracle). Returns the meta dict with the
    in-memory c_ids/c_mat/cbs arrays attached for convenience."""
    path = path.rstrip("/")
    t = _ivfpq_train(
        corpus, id_col, vec_col, dim, m_sub, ksub, iters, train_cap,
        (coarse, centroid_stride, coarse_k, coarse_iters, max_centroids),
    )
    train_distortion = _pq_distortion(t.tr, t.cbs, t.d0)
    _encode_pass(t.base, t.cbs, t.d0, t.cells).write.mode("overwrite").parquet(path + "/codes")
    spark = corpus.sparkSession
    c_ids, c_mat, _ = t.cells
    _local_df(
        spark,
        [(int(i), [float(x) for x in v]) for i, v in zip(c_ids, c_mat)],
        _CENTROIDS_DDL,
    ).coalesce(1).write.mode("overwrite").parquet(path + "/centroids")
    _local_df(
        spark,
        [(s, j, [float(x) for x in c]) for s, cb in enumerate(t.cbs) for j, c in enumerate(cb)],
        _CODEBOOKS_DDL,
    ).coalesce(1).write.mode("overwrite").parquet(path + "/codebooks")
    meta = {
        "format": "nekton_spark.ivfpq/2",
        "m_sub": m_sub,
        "ksub": ksub,
        "d0": t.d0,
        "dim": dim,
        "iters": iters,
        "train_cap": train_cap,
        "coarse": t.coarse,
        "coarse_k": t.coarse_k,
        "coarse_iters": coarse_iters if t.coarse == "kmeans" else None,
        "centroid_stride": t.centroid_stride,
        "n_rows": int(t.n),
        "train_distortion": float(train_distortion),
    }
    _write_index_meta(spark, path, meta)
    return meta | {
        "c_ids": [int(x) for x in c_ids],
        "c_mat": [[float(x) for x in row] for row in c_mat],
        "cbs": t.cbs,
    }


def ivfpq_index_query(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a persisted IVF-PQ index (see :func:`ivfpq_index_build`):
    scans ONLY the parquet codes relation (never a raw vector) and runs
    the identical probe + ADC + top-k stage as ivfpq_topk — same rows,
    no training, no encode pass. Reads format/2 parquet indexes and the
    legacy r11 format/1 JSON layout.

    The driver-scale meta/centroids/codebooks come from a
    session-resident handle per index path. Before each query, one
    Hadoop ``listStatus`` of ``path/meta`` (no Spark job) is compared
    with the listing the handle was loaded under; every build and
    append rewrites meta under a fresh part-file name, so an index
    rebuilt or appended to by any process is re-read, never served
    stale. The codes relation is re-listed on every query, so appended
    rows are always scanned. The format/1 layout is read uncached."""
    meta, *cells, cbs = _ivfpq_index_load(spark, path)
    encoded = spark.read.schema(IVFPQ_CODES_SCHEMA).parquet(path.rstrip("/") + "/codes")
    return _ivfpq_adc_topk(
        encoded, queries, cbs, meta["d0"], k, id_col, vec_col, cells, n_probe
    )


def ivfpq_index_append(
    corpus: DataFrame,
    path: str,
    drift_tol: float = 2.0,
    verify_ids: bool = True,
    train_cap: int = PQ_TRAIN_CAP,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """INCREMENTALLY append new vectors to a persisted IVF-PQ index
    (r11 verdict #5): encode the batch under the FROZEN centroids and
    codebooks — no retrain, no re-encode of the existing corpus — and
    append the resulting (id, cid, codes) rows to ``path/codes``.
    Appending is what makes the build-once artifact maintainable at
    10^10 vectors: a daily 0.1% ingest re-encodes 0.1% of the corpus
    instead of rebuilding for hours.

    Frozen quantizers only stay VALID while new data resembles the
    training distribution, so the append REFUSES (rather than silently
    degrading recall) when the batch's PQ distortion — mean squared
    reconstruction error over a ≤ train_cap stride sample, the same
    statistic the build recorded as ``train_distortion`` — exceeds
    ``drift_tol ×`` the build's value. A drifted batch means: rebuild,
    or raise drift_tol deliberately.

    ``verify_ids=True`` (default) refuses id collisions with the
    existing codes via one bounded semi-join count — a duplicate id
    would silently corrupt every later query. At extreme scale where
    the caller guarantees disjoint ids, pass False to skip the scan.
    Format/2 indexes only (a /1 index predates the drift statistic —
    rebuild it). Returns the updated meta dict."""
    path = path.rstrip("/")
    spark = corpus.sparkSession
    meta, *cells, cbs = _ivfpq_index_load(spark, path)
    if meta.get("format") != "nekton_spark.ivfpq/2":
        raise ValueError(
            "ivfpq_index_append requires a format/2 index (the r11 "
            "format/1 JSON layout records no train_distortion): rebuild "
            f"with ivfpq_index_build: {path}"
        )
    d0 = meta["d0"]
    base = ensure_parallelism(_id_vec(corpus, id_col, vec_col), VEC_BYTES_PER_SLICE)
    n_new = _estimate_rows(base)
    if n_new == 0:
        return dict(meta)
    stride = max(1, -(-n_new // train_cap))
    batch_distortion = _pq_distortion(base.filter(F.col("id") % stride == 0), cbs, d0)
    ref = float(meta["train_distortion"])
    if batch_distortion > drift_tol * max(ref, 1e-12):
        raise ValueError(
            f"append batch drifts from the index's training distribution: "
            f"batch PQ distortion {batch_distortion:.6g} > drift_tol "
            f"({drift_tol}) x train_distortion {ref:.6g} — rebuild the "
            "index (or raise drift_tol deliberately)"
        )
    codes_path = path + "/codes"
    if verify_ids:
        existing = spark.read.schema(IVFPQ_CODES_SCHEMA).parquet(codes_path).select("id")
        dups = base.select("id").join(existing, "id", "left_semi").count()
        if dups:
            raise ValueError(
                f"append batch shares {dups} id(s) with the existing index "
                "(duplicate ids corrupt queries); deduplicate or rebuild"
            )
    _encode_pass(base, cbs, d0, cells).write.mode("append").parquet(codes_path)
    new_meta = dict(meta)
    new_meta["n_rows"] = int(meta["n_rows"]) + int(n_new)
    _write_index_meta(spark, path, new_meta)
    return new_meta


def ivfpq_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    centroid_stride: int | None = None,
    n_probe: int = 4,
    m_sub: int = 8,
    ksub: int = 16,
    iters: int = 2,
    train_cap: int = PQ_TRAIN_CAP,
    rerank_mult: int | None = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    max_centroids: int = 1 << 16,
    coarse: str | None = None,
    coarse_k: int | None = None,
    coarse_iters: int = 2,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding + exact re-rank (Jégou, Douze &
    Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI
    2011 §IV.B; the re-rank stage is FAISS's IndexIVFPQR composition):
    each vector is PQ-quantized as its residual r = v − c(v) from its
    coarse centroid instead of raw against global codebooks, scored as
    <q, v> ≈ <q, c(v)> + ADC(residual codes), and the ADC scan
    NOMINATES ``rerank_mult·k`` candidates per query whose true
    vectors alone are fetched and exact-cosine re-ranked (pq_topk_
    rerank's broadcast-semi-join stage — no corpus shuffle).

    Measured honesty (r11, 64-cluster σ=0.10 mixture, n=2000,
    n_probe=4): residual ADC has LOWER approximation error than raw
    ADC (mean |score − <q,v>| 0.286 vs 0.446 over returned top-10) —
    the TPAMI claim holds — but under this engine's deterministic
    SAMPLED coarse centroids (√n rows, not k-means means) residual
    distributions are multimodal (a cell whose cluster owns no
    centroid leaves center-difference-scale residuals next to tiny
    within-cluster ones), so pure residual-ADC ranking is NOT better
    than raw here (clustered recall@10 .32 vs .465). What closes the
    gap is the re-rank: residual-ADC nomination + exact-cosine re-rank
    reaches the probed-set cosine ceiling (= ivf_topk's recall, .64 at
    n_probe=4; the default rerank_mult=10 is the smallest that does) while the primary scan stays 8-byte codes over probed
    lists only — the memory/scan story of ivfpq with the recall of
    ivf. ``rerank_mult=None`` gives the pure-ADC variant.

    Scoring: the coarse term <q, c(v)> is exact per (query, probed
    cell) and rides in the query batch literal beside the probed cells
    (see :func:`_adc_ranked`); the residual ADC chain is the same
    pure-codegen LUT fold as the parents. Unprobed rows are filtered
    before the chain is evaluated.

    Build adds ONE bounded Arrow pass over the TRAINING SAMPLE
    (stride-capped at ``train_cap``, materialized once so the m_sub
    per-subspace k-means don't recompute the coarse assignment) on top
    of ivfpq's fused corpus pass — the corpus itself still crosses to
    Python exactly once (assign + residual + encode fused). Driver
    state stays O(√n + m_sub·ksub·d0); the re-rank fetch is
    |queries|·rerank_mult·k rows via broadcast semi-join.

    Exactness: residual = v − cv is deterministic elementwise IEEE
    arithmetic, so the oracle replays it inside the SAME CTE families
    as ivfpq (coarse assign → residual relation → per-subspace
    training/encode on residual slices → ADC + the per-cell coarse
    dot → exact-cosine re-rank) — exact hash-match, refuting the
    former "trades oracle replayability for recall" claim."""
    # under kmeans the trained coarse cells give unimodal residuals AND
    # a far higher probed-set ceiling on clustered corpora — the
    # composition FAISS's IVFPQR actually ships
    t = _ivfpq_train(
        corpus, id_col, vec_col, dim, m_sub, ksub, iters, train_cap,
        (coarse, centroid_stride, coarse_k, coarse_iters, max_centroids),
        residual=True,
    )
    encoded = _encode_pass(t.base, t.cbs, t.d0, t.cells, residual=True)
    nominate = k if rerank_mult is None else max(k, rerank_mult * k)
    ranked = _ivfpq_adc_topk(
        encoded, queries, t.cbs, t.d0, nominate, id_col, vec_col, t.cells, n_probe,
        residual=True,
    )
    if rerank_mult is None:
        return ranked
    cand = ranked.select("query_id", "neighbor_id")
    return _exact_rerank(corpus, queries, cand, k, id_col, vec_col)


def pq_topk_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    c_mult: int = 4,
    m_sub: int = 8,
    ksub: int = 16,
    iters: int = 2,
    train_cap: int = PQ_TRAIN_CAP,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """PQ scan + exact re-rank: the ADC compressed scan nominates the
    top ``c = c_mult·k`` candidates per query, then ONLY those rows'
    true vectors are fetched and scored with exact cosine (the same
    scoring as brute_force_topk, so recall is measured against the
    ground-truth ranking it approximates). This recovers most of the
    recall ADC quantization loses — r7 measured pq_topk at ~0.3
    recall@5 on isotropic Gaussians (the documented worst case); the
    re-rank lifts the planted-twin fixture to ≥0.9 recall@10
    (tests/test_functions.py) — while preserving the memory story:

    - The compressed scan still never touches a vector (the 64×
      smaller read is unchanged).
    - The candidate relation is |queries|·c rows — broadcast onto a
      second corpus scan that reads only (id, vector) for the matched
      rows (broadcast hash semi-join shape: no corpus shuffle, no new
      scale risk; at 10^10 vectors the scan is column-pruned to the
      id+vector columns and the join output is |queries|·c rows).
    - The final rank window is over |queries|·c rows — driver-scale.

    Exactness: candidates come from pq_topk (oracle-replayed ADC), and
    the re-rank cosine is the same exact left-fold the brute-force
    oracle replays — the whole operator is SQL-expressible.
    """
    c = max(k, c_mult * k)
    cand = pq_topk(
        corpus,
        queries,
        k=c,
        m_sub=m_sub,
        ksub=ksub,
        iters=iters,
        train_cap=train_cap,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
    ).select("query_id", "neighbor_id")
    return _exact_rerank(corpus, queries, cand, k, id_col, vec_col)


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    c: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Maximal Marginal Relevance diverse top-k (Carbonell & Goldstein,
    SIGIR 1998 — public paper): greedily select ``k`` of the top-``c``
    relevance candidates, each pick maximizing
    ``lam·sim(q,d) − (1−lam)·max_{s∈selected} sim(d,s)`` — the
    standard redundancy-penalized re-rank a retrieval/training-mix
    pipeline runs so near-duplicate passages don't crowd a context
    window or a mixture quota. Returns (query_id, neighbor_id, score,
    mmr, rank): ``score`` = cosine relevance, ``mmr`` = the value the
    pick maximized (= score for rank 1), rank 1..min(k, candidates).

    Scale shape: the ONLY corpus-scale stage is candidate generation
    (exact brute-force scan here, same contract as brute_force_topk —
    at larger scale swap the nomination for ivf/pq_rerank, the
    selection below is source-agnostic). Everything after is bounded
    by construction: candidate vectors are fetched with a broadcast
    semi-join (the pq_rerank shape — no corpus shuffle), pairwise
    candidate similarity is |q|·c² rows, and the greedy loop runs
    per-query in ONE cogrouped applyInPandas pass (each group is c
    rows — driver never loops).

    Exactness: relevance and pairwise cosines are round-6 JVM values
    (the brute-force contract); the greedy arithmetic
    ``lam·score − (1−lam)·pen`` is plain IEEE double on grid inputs,
    bit-identical in numpy and the oracle's unrolled-iteration SQL;
    ties resolve to the smaller neighbor id in both."""
    # the nomination subtree feeds THREE consumers (both sides of the
    # pairwise self-join via cwith, and the cogroup's candidate input);
    # materialize once at |q|·c rows so the corpus-scale scan+window
    # runs exactly once instead of once per plan branch
    cand = (
        brute_force_topk(
            corpus, queries, k=c, id_col=id_col, vec_col=vec_col, dim=dim
        )
        .select("query_id", "neighbor_id", "score")
        .transform(materialize)
    )
    cvec = ensure_parallelism(
        _id_vec(corpus, id_col, vec_col, "neighbor_id", "cv"), VEC_BYTES_PER_SLICE
    )
    # same for the vector fetch: cwith appears on both sides of the
    # pairwise join — checkpoint keeps the corpus fetch join single-run
    cwith = (
        cvec.join(
            F.broadcast(cand.select("query_id", "neighbor_id")), "neighbor_id"
        )
        .select("query_id", "neighbor_id", "cv")
        .transform(materialize)
    )
    cos = cosine_udf()
    a, b = cwith.alias("a"), cwith.alias("b")
    pairs = (
        a.join(
            F.broadcast(b),
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.neighbor_id") != F.col("b.neighbor_id")),
        )
        .select(
            F.col("a.query_id").alias("query_id"),
            F.col("a.neighbor_id").alias("na"),
            F.col("b.neighbor_id").alias("nb"),
            F.round(cos(F.col("a.cv"), F.col("b.cv")), 6).alias("psim"),
        )
    )
    pen_coef = 1.0 - lam

    def greedy(key, cand_pdf, pairs_pdf):
        qid = key[0]
        n = len(cand_pdf)
        if n == 0:
            return pd.DataFrame(
                columns=["query_id", "neighbor_id", "score", "mmr", "rank"]
            )
        ids = cand_pdf["neighbor_id"].to_numpy()
        qs = cand_pdf["score"].to_numpy(dtype=np.float64)
        # no int() casts: ids keep the input column's type (string ids
        # work — the _tiered_kmeans / lang_id_trained id-type pattern)
        idx = {v: i for i, v in enumerate(ids)}
        P = np.zeros((n, n), dtype=np.float64)
        for na, nb, ps in zip(
            pairs_pdf["na"], pairs_pdf["nb"], pairs_pdf["psim"]
        ):
            P[idx[na], idx[nb]] = ps
        remaining = np.ones(n, dtype=bool)
        # -inf start: the max similarity to the selected set can be
        # NEGATIVE (anti-similar candidates earn a bonus, which is
        # MMR's point) — a zero floor would silently clamp it.
        maxpen = np.full(n, -np.inf, dtype=np.float64)
        out = []
        for r in range(min(k, n)):
            mmr = qs if r == 0 else lam * qs - pen_coef * maxpen
            best = -1
            for i in range(n):
                if not remaining[i]:
                    continue
                if (
                    best < 0
                    or mmr[i] > mmr[best]
                    or (mmr[i] == mmr[best] and ids[i] < ids[best])
                ):
                    best = i
            out.append((qid, ids[best], qs[best], float(mmr[best]), r + 1))
            remaining[best] = False
            maxpen = np.maximum(maxpen, P[:, best])
        return pd.DataFrame(
            out, columns=["query_id", "neighbor_id", "score", "mmr", "rank"]
        )

    # derive both id field types from the actual frames (string/int ids
    # both work) instead of hard-coding long — the _tiered_kmeans /
    # _lang_id_trained_arrow pattern
    qid_t = cand.schema["query_id"].dataType.simpleString()
    nid_t = cand.schema["neighbor_id"].dataType.simpleString()
    return (
        cand.groupBy("query_id")
        .cogroup(pairs.groupBy("query_id"))
        .applyInPandas(
            greedy,
            f"query_id {qid_t}, neighbor_id {nid_t}, "
            "score double, mmr double, rank int",
        )
    )


def embedding_near_dup(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bits: int | None = None,
    bands: int = 4,
    target_bucket: int = 64,
    salt_tile: int = 2048,
) -> DataFrame:
    """Cosine-threshold near-duplicate pairs via the banded sketch:
    pairs must share a band, then exact cosine ≥ threshold.
    Returns (id_a, id_b, score), id_a < id_b.

    The default sketch width SCALES WITH THE CORPUS: bits-per-band =
    ceil(log2(n / target_bucket)), so each band partitions the corpus
    into ~n/target_bucket buckets and the in-bucket all-pairs stage
    stays O(n · target_bucket) total. A fixed width is quadratic —
    the 30× rehearsal measured 16 bits at 60k vectors: ~3.7k-row
    buckets, 331 s (vs 12.8 s at 20k) — exactly the bucket-growth
    blowup this formula removes. Bits-per-band caps at
    ``min(14, 62 // bands)`` so the packed long never exceeds 62 bits
    (bit 63 is the sign; shifting into it flips the packed value
    negative and wider shifts wrap to 0 — silent wrong sketches).
    Raising ``bands`` therefore NARROWS each band past 4 bands rather
    than widening the total; per-band recall is (1-θ/π)^r, so more
    bands at fixed total width trades precision for recall — the
    right direction for loose thresholds. An explicit ``n_bits`` is
    honored verbatim (but validated ≤ 62) — that is what lets the SQL
    oracle replay the exact bucket structure."""
    n_bits = _resolve_band_width(df, n_bits, bands, target_bucket)
    r = n_bits // bands
    mask = (1 << r) - 1
    sketch = sketch_udf(dim, n_bits)
    base = (
        ensure_parallelism(df, VEC_BYTES_PER_SLICE)
        .select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
        .withColumn("sk", sketch("v"))
        .select(
            "id",
            "v",
            F.posexplode(
                F.array(
                    *[
                        F.shiftright(F.col("sk"), b * r).bitwiseAND(F.lit(mask))
                        for b in range(bands)
                    ]
                )
            ).alias("band", "key"),
        )
    )
    # base feeds BOTH the bucket-size census (big) and the salted
    # join: materialize once so the corpus-scale sketch UDF runs one
    # time, not once per branch (the fd301b6 reused-subtree rule).
    base = base.transform(materialize)

    # All pairs within a bucket via exact-fold bucket matmuls (see
    # lsh_topk.score_bucket): vectors shuffled once per band, not per
    # pair. TILED + pre-filtered + SALTED: the sketch cannot split a
    # tight cosine CLUSTER (every member lands on the same side of
    # every hyperplane, so more bits never separate them) — a label
    # cluster of c vectors is one c-row bucket no matter the width.
    # The sf10 rehearsal hit c ≈ 20k: a dense c×c score matrix is
    # 3.2 GB and emitting all c² pre-threshold rows OOM-killed the
    # JVM. Tiles bound worker memory at O(TILE²) and the threshold
    # prunes inside the UDF (with a margin wider than the
    # round-half-up boundary, so the JVM-side exact filter still
    # decides membership bit-identically). The salt then spreads the
    # O(c²/TILE²) tile-pair units across the CLUSTER: without it an
    # oversized bucket is one applyInPandas group = one task, and at
    # sf10 embedding_near_dup spent most of its wall in a few
    # hot-bucket stragglers while 29 cores idled. Each row gets a
    # deterministic tile t = pmod(xxhash64(id), n_tiles) and is
    # replicated once per tile u; the subgroup key (band, key,
    # least(t,u), greatest(t,u)) is a SEPARATE group, so every
    # unordered row pair meets in exactly one subgroup and a c-row
    # cluster becomes ~(c/TILE)²/2 independent tasks. Replication
    # cost is n_tiles× rows for oversized buckets only — the same
    # O(c²/TILE) volume their pair mining already pays. Normal
    # buckets (≤ TILE rows, the overwhelming mass under the
    # auto-width policy) take the nt=1 fast path: one subgroup, no
    # replication. Salting never changes the output: per-pair scores
    # are the same per-dimension left fold regardless of tile shape,
    # so oracle float parity is preserved (property-tested directly:
    # tests/test_properties.py forces salt_tile ∈ {1, 2, 7} and
    # asserts pair-set equality against the unsalted run).
    tile = salt_tile

    big = (
        base.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .filter(F.col("bucket_n") > tile)
    )
    # oversized buckets are ≤ n/TILE and empty in the healthy regime —
    # AQE sees the tiny agg output at the stage boundary and broadcasts
    salted = (
        base.join(big, ["band", "key"], "left")
        .withColumn(
            "nt", F.ceil(F.coalesce(F.col("bucket_n"), F.lit(1)) / tile).cast("int")
        )
        .withColumn("t", F.pmod(F.xxhash64("id"), F.col("nt")).cast("int"))
        .select(
            "id",
            "v",
            "band",
            "key",
            "t",
            F.explode(F.sequence(F.lit(0), F.col("nt") - 1)).alias("u"),
        )
        .select(
            "id",
            "v",
            "band",
            "key",
            "t",
            F.least("t", "u").alias("ti"),
            F.greatest("t", "u").alias("tj"),
        )
    )

    def pairs_in_subgroup(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "score": []})
        if len(pdf) < 2:
            return empty
        ti, tj = int(pdf["ti"].iat[0]), int(pdf["tj"].iat[0])
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        out_s: list[np.ndarray] = []
        if ti == tj:
            # diagonal subgroup: upper triangle over id-sorted rows
            V = np.asarray([np.asarray(x) for x in pdf["v"]])
            ids = pdf["id"].to_numpy()
            order = np.argsort(ids, kind="stable")
            V, ids = V[order], ids[order]
            nv = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])
            m = len(ids)
            for i0 in range(0, m, tile):
                i1 = min(i0 + tile, m)
                for j0 in range(i0, m, tile):  # ids sorted → j tiles ≥ i tiles
                    j1 = min(j0 + tile, m)
                    S = _fold_dots(V[i0:i1], V[j0:j1]) / (
                        nv[i0:i1, None] * nv[None, j0:j1]
                    )
                    keep = (ids[i0:i1, None] < ids[None, j0:j1]) & (
                        S >= threshold - 1e-6
                    )
                    ai, bi = np.nonzero(keep)
                    if len(ai):
                        out_a.append(ids[i0:i1][ai])
                        out_b.append(ids[j0:j1][bi])
                        out_s.append(S[ai, bi])
        else:
            # off-diagonal: full cross of the two tiles' rows; hashed
            # tiles are unordered, so orient each pair by id here
            a = pdf[pdf["t"] == ti]
            b = pdf[pdf["t"] == tj]
            if len(a) == 0 or len(b) == 0:
                return empty
            A = np.asarray([np.asarray(x) for x in a["v"]])
            B = np.asarray([np.asarray(x) for x in b["v"]])
            aids = a["id"].to_numpy()
            bids = b["id"].to_numpy()
            na = np.sqrt(np.cumsum(A * A, axis=1)[:, -1])
            nb = np.sqrt(np.cumsum(B * B, axis=1)[:, -1])
            for i0 in range(0, len(aids), tile):  # hash imbalance guard
                i1 = min(i0 + tile, len(aids))
                for j0 in range(0, len(bids), tile):
                    j1 = min(j0 + tile, len(bids))
                    S = _fold_dots(A[i0:i1], B[j0:j1]) / (
                        na[i0:i1, None] * nb[None, j0:j1]
                    )
                    keep = S >= threshold - 1e-6
                    ai, bi = np.nonzero(keep)
                    if len(ai):
                        x = aids[i0:i1][ai]
                        y = bids[j0:j1][bi]
                        out_a.append(np.minimum(x, y))
                        out_b.append(np.maximum(x, y))
                        out_s.append(S[ai, bi])
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "score": np.concatenate(out_s),
            }
        )

    pairs = (
        # explicit repartition on the FULL salted key: a shuffle join
        # above would leave (band, key) partitioning, which satisfies
        # the groupBy's clustering requirement — Spark would add no
        # exchange and every subgroup of a hot bucket would land in
        # the SAME task, defeating the salt
        salted.repartition("band", "key", "ti", "tj")
        .groupBy("band", "key", "ti", "tj")
        .applyInPandas(pairs_in_subgroup, "id_a long, id_b long, score double")
        .select("id_a", "id_b", F.round("score", 6).alias("score"))
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("score") >= threshold)
    )
    return pairs


def quantized_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: float = 4.0,
) -> DataFrame:
    """Grid-quantized exact embedding dedup: floor every component to
    a 1/scale lattice, group on the md5 of the quantized vector.
    Returns (qkey, keep_id, n_members).

    The O(n) complement to the banded cosine path: one map pass + one
    uniform-key shuffle, no pairs, no verification stage — the cheap
    first-line dedup for re-encoded/re-crawled embeddings whose drift
    is below the lattice step. Deterministic integer-boundary floors
    (use a power-of-two scale: x*scale is then exact in binary
    floating point), so a SQL oracle replays membership exactly."""
    key = F.md5(
        F.concat_ws(
            ",",
            F.transform(
                as_double(F.col(vec_col)),
                lambda x: F.floor(x * scale).cast("long").cast("string"),
            ),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"), key.alias("qkey"))
        .groupBy("qkey")
        .agg(F.min("id").alias("keep_id"), F.count(F.lit(1)).alias("n_members"))
    )

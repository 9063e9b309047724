r"""Deduplication operators for LLM-data pipelines (SURVEY §2.5).

Five dedup families, each designed for the 100 TB shape of the
problem (the per-operator scale notes say exactly where the shuffles
are and why they're the minimum possible):

- :func:`exact_dedup` — hash-groupBy on a content fingerprint. One
  shuffle on a 128-bit-uniform key; AQE coalesces; no skew by
  construction.
- :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — MinHash +
  banded LSH: shingle → k min-hashes → b bands; candidate pairs meet
  only inside identical (band, band_hash) buckets, so the join is an
  equi-join on a uniform synthetic key instead of an O(n²) cross
  product. One explode (b rows/doc) + one self-equi-join.
- :func:`simhash` — 60-bit SimHash; near-dups share the value
  (or a band of it for Hamming-tolerant matching).
- :func:`ngram_jaccard_pairs` — exact-scored n-gram Jaccard pairs.
  Default plan mines candidates with banded MinHash (bounded pair
  volume at any scale) and verifies exactly; ``candidates="all"``
  gives the exhaustive inverted-index plan (full recall, O(Σ df²) —
  bound it with ``max_doc_freq``).
- :func:`embedding_near_dup` — cosine-threshold pairs over an
  embedding column via bucketed LSH (see similarity.py) or exact
  pair join for oracle-scale inputs.

All hashes are the portable md5-derived :func:`~.hashing.hash60`, so
every operator has a bit-exact DuckDB oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize

from .hashing import H0_MOD, REHASH_MASK, affine_consts, hash60
from .text_analysis import fingerprint

DEFAULT_K = 16  # minhash signature length
DEFAULT_BANDS = 8  # bands of 2 rows each


def band_rows(k: int, bands: int) -> int:
    """Validated rows-per-band for LSH banding (shared by every
    :func:`band_key` caller).

    bands > k would give r = 0: every band key becomes the hash of an
    EMPTY signature slice — one constant bucket, i.e. an all-pairs
    cross join at corpus scale. k not divisible by bands would
    silently ignore the trailing k % bands signature components and
    skew the documented S-curve. Both are caller bugs; refuse loudly."""
    if bands < 1 or bands > k:
        raise ValueError(f"LSH bands must be in [1, k={k}], got {bands}")
    if k % bands:
        raise ValueError(
            f"LSH k={k} must be divisible by bands={bands} "
            f"(the trailing {k % bands} signature rows would be ignored)"
        )
    return k // bands


def band_key(b: int, r: int, hash: str) -> Column:
    """LSH bucket key of band ``b``: the hash of the ``sig`` column's
    ``r``-long slice, salted by the band index. The one band key of
    every banded-MinHash join (:func:`minhash_lsh_pairs`, its dual
    twin, decontaminate.fuzzy_contamination_pairs, the streaming
    near-dup). The md5 form is what the DuckDB oracles replay;
    xxhash64 needs no oracle parity and keeps the production path
    JVM-native (one xxhash64 per band)."""
    sl = F.concat_ws(",", F.slice("sig", b * r + 1, r))
    if hash == "xxhash64":
        return F.xxhash64(sl, F.lit(b))
    return hash60(sl, 1000 + b)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative of each normalized-content group.

    Plan: project(fingerprint) → partial min-agg → final min-agg →
    semi-join back is avoided by returning (fp, keep_id, n_dups)
    directly; callers that need full rows join on keep_id (broadcast
    when the survivor set is small).
    """
    from .similarity import ensure_parallelism

    return (
        ensure_parallelism(df)
        .select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def _shingles_py(text: str, n: int, tokenize: str = "word") -> list[str]:
    """Word n-grams, semantics matching text_analysis.ngrams: ASCII \\s+
    split of the SPACE-trimmed text (re.ASCII pins Python's \\s to the
    same ASCII class Java and RE2 use). The trim is ``strip(' ')``, not
    ``strip()``: Spark's trim and DuckDB's trim remove spaces only, so
    a leading/trailing newline leaves an empty token in BOTH engines
    ('\\nx' → ['', 'x']) — a full python strip() silently dropped it
    and made the UDF shingle sets diverge from the oracle's (caught by
    tools/fuzz_oracle.py on whitespace-edged corpora).

    ``tokenize="script"`` (r14): spaceless-script codepoints are
    space-spread BEFORE the split (text_analysis.script_spread_py), so
    CJK/Thai runs shingle as character n-grams instead of collapsing
    to ≤1 token — the r13-verdict spaceless-script blind spot."""
    import re as _re

    from .text_analysis import check_tokenize, script_spread_py

    t = text or ""
    if check_tokenize(tokenize) == "script":
        t = script_spread_py(t)
    t = t.strip(" ")
    toks = _re.split(r"\s+", t, flags=_re.ASCII) if t else []
    if len(toks) < n:
        return []
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def _md5_h60_batch(sh_lists: list[list[str]]) -> dict[str, int]:
    """md5-derived 60-bit hash for every DISTINCT shingle across an
    Arrow batch, each computed exactly once (r15 opt): near-dup batches
    are full of shared shingles by construction — a clique of c docs
    repeats its whole shingle set c times, and parquet row order keeps
    clique members in the same batch — so per-occurrence hashing paid
    c× the md5 work. ``int.from_bytes(digest[:8]) >> 4`` is the first
    15 hex digits of the digest read directly from the bytes
    (bit-identical to ``int(hexdigest()[:15], 16)``, without
    materializing the hex string)."""
    import hashlib

    memo: dict[str, int] = {}
    for sh in sh_lists:
        for s in sh:
            if s not in memo:
                memo[s] = (
                    int.from_bytes(
                        hashlib.md5(b"0:" + s.encode()).digest()[:8], "big"
                    )
                    >> 4
                )
    return memo


def _minhash_udf(
    out: str,
    k: int = DEFAULT_K,
    shingle_n: int | None = None,
    tokenize: str = "word",
    dedupe: str = "hash",
):
    """The one Arrow-batched MinHash kernel: per doc, the k-long
    signature and/or the distinct hash60(seed 0) shingle set.

    ``shingle_n`` given means a text column, shingled by
    :func:`_shingles_py`; ``shingle_n=None`` means a pre-shingled
    ``array<string>`` column (the pinned :func:`_shingles_expr` output
    of the dual-engine plan). Each DISTINCT shingle in the batch is
    md5-hashed once (:func:`_md5_h60_batch`), and the affine family is
    one numpy broadcast ``(A*h0 + B) & mask`` with an axis-min instead
    of ~k×|shingles| interpreted JVM lambda steps (measured ~1 ms/doc
    → ~30 µs/doc).

    ``out`` is ``"sig"`` (NULL for a doc without shingles), ``"hs"``
    (``[]`` without shingles) or ``"sig,hs"`` (one struct from one
    pass, for the near-dup paths that carry the set through a join).

    ``dedupe`` names the distinct key of ``hs``, matching the JVM
    construction each call site replaces bit-for-bit INCLUDING the
    ~2⁻⁶⁰ collision edge: ``"hash"`` ≙ ``array_distinct(transform(sh,
    hash60))`` (minhash verify — a collision dedupes), ``"string"`` ≙
    ``transform(array_distinct(sh), hash60)`` (inverted-index plan and
    its DuckDB oracle — a collision keeps both rows). The signature is
    the same under either key. ``test_minhash_udf_matches_jvm_expr``
    pins every input/output shape against the JVM expressions."""
    if out not in ("sig", "hs", "sig,hs"):
        raise ValueError(f"unknown minhash output: {out!r} (sig|hs|sig,hs)")
    if dedupe not in ("hash", "string"):
        raise ValueError(f"unknown dedupe key: {dedupe!r}")
    by_string = dedupe == "string"
    a_c, b_c = affine_consts(k)
    A = np.array(a_c, dtype=np.int64)[:, None]
    B = np.array(b_c, dtype=np.int64)[:, None]

    def sig_of(hs: list[int]) -> list[int] | None:
        if not hs:
            return None
        h0 = np.fromiter(hs, dtype=np.int64, count=len(hs)) % H0_MOD
        return ((A * h0[None, :] + B) & REHASH_MASK).min(axis=1).tolist()

    def columns(col: pd.Series) -> dict[str, list]:
        if shingle_n is None:
            sh_lists = [list(s) if s is not None else [] for s in col]
        else:
            sh_lists = [_shingles_py(t or "", shingle_n, tokenize) for t in col]
        memo = _md5_h60_batch(sh_lists)
        hs_col = [
            [memo[s] for s in dict.fromkeys(sh)]
            if by_string
            else list(dict.fromkeys(memo[s] for s in sh))
            for sh in sh_lists
        ]
        # column lists, not per-row dicts: building the return frame
        # row-dict-wise made pandas re-infer each row and dominated the
        # batch at 10× corpus scale (r16)
        if out == "hs":
            return {"hs": hs_col}
        return {"sig": [sig_of(hs) for hs in hs_col], "hs": hs_col}

    if out == "sig,hs":

        @F.pandas_udf("sig array<long>, hs array<long>")
        def _minhash(col: pd.Series) -> pd.DataFrame:
            return pd.DataFrame(columns(col), columns=["sig", "hs"])

    else:

        @F.pandas_udf("array<long>")
        def _minhash(col: pd.Series) -> pd.Series:
            return pd.Series(columns(col)[out])

    return _minhash


def _shingles_expr(
    text_col: Column, shingle_n: int, tokenize: str = "word"
) -> Column:
    """Word n-gram array as a JVM expression (semantics of _shingles_py:
    ASCII \\s+ split of the trimmed text; < n tokens → empty).

    DELIBERATELY distinct from text_analysis.ngrams at the edges and
    NOT to be consolidated: here an empty/NULL text yields [] (an
    empty doc has no shingles to dedup on), while ngrams('' , 1)
    yields [''] (decontamination counts the empty token — its oracle
    family replays that). Both definitions are pinned by their own
    oracle rows; any edge-semantics change must be made against the
    matching oracle, never by merging the two helpers."""
    from .text_analysis import check_tokenize, script_spread

    if check_tokenize(tokenize) == "script":
        text_col = script_spread(text_col)
    empty = F.array().cast("array<string>")
    toks = F.when(F.length(F.trim(text_col)) == 0, empty).otherwise(
        F.split(F.trim(text_col), r"\s+")
    )
    return F.when(
        F.size(toks) >= shingle_n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - shingle_n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, shingle_n)),
        ),
    ).otherwise(empty)


def _minhash_sigs_jvm(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    shingle_n: int,
    tokenize: str = "word",
) -> DataFrame:
    """Pure-JVM signatures: explode shingles, ``xxhash64`` base hash,
    k affine rehashes as plain columns, ``groupBy(id).agg(min × k)``.

    Everything stays inside whole-stage codegen (no higher-order
    functions — their lambdas are interpreted per element and measured
    ~10× slower here; no Python workers, no Arrow). The aggregation is
    partial map-side, so the shuffle carries one k-long row per doc per
    partition — at 100 TB that is ~the size of the signatures
    themselves, and the key (doc id) is unique hence skew-free. DuckDB
    has no xxhash64, so this engine is equivalence-tested against the
    md5 path instead of hash-matched."""
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            _shingles_expr(F.col(text_col), shingle_n, tokenize)
        ).alias("s"),
    )
    return _affine_min_sigs(ex, k)


def _affine_min_sigs(ex: DataFrame, k: int, *lead: Column) -> DataFrame:
    """``(*lead, id, sig)`` from one ``(id, s)`` row per shingle: the
    xxhash64 engine's signature aggregation, shared by
    :func:`_minhash_sigs_jvm` and :func:`minhash_lsh_pairs_dual`."""
    a_c, b_c = affine_consts(k)
    # base hash reduced below 2^40 so A*h0 + B stays under 2^60:
    # Spark wraps int64 overflow silently, which would corrupt minima
    h0 = F.pmod(F.xxhash64("s"), F.lit(H0_MOD))
    hashed = ex.select(
        "id",
        *[
            (F.lit(a_c[i]) * h0 + F.lit(b_c[i])).bitwiseAND(F.lit(REHASH_MASK)).alias(f"h{i}")
            for i in range(k)
        ],
    )
    return (
        hashed.groupBy("id")
        .agg(*[F.min(f"h{i}").alias(f"m{i}") for i in range(k)])
        .select(*lead, "id", F.array(*[f"m{i}" for i in range(k)]).alias("sig"))
    )


def incremental_dedup(
    new_df: DataFrame,
    known: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    known_fp_col: str = "fp",
) -> DataFrame:
    """Dedup a NEW ingest batch against an existing corpus index —
    the daily-pipeline shape where history is orders of magnitude
    larger than the increment.

    ``known`` is a fingerprint index (one 128-bit ``fp`` per historical
    doc — what :func:`exact_dedup` retains), NOT the historical text:
    at 100 TB of history the index is ~32 bytes/doc and the join is
    new-batch-sized. Two stages, both bounded by the increment:

    1. drop new docs whose fingerprint already exists in history
       (join on fp — with history bucketed/partitioned by fp this is
       shuffle-free on the history side);
    2. exact-dedup the survivors among themselves (first occurrence by
       id wins, same rule as :func:`exact_dedup`).

    Returns the surviving new rows."""
    from .similarity import ensure_parallelism

    fresh = (
        ensure_parallelism(new_df)
        .withColumn("_fp", fingerprint(F.col(text_col)))
        .join(known.select(F.col(known_fp_col).alias("_fp")).distinct(), "_fp", "left_anti")
        # fresh feeds BOTH sides of the keeper join below; without
        # materialization the fingerprint UDF and the anti-join against
        # the corpus-scale history index would execute twice per action
        .transform(materialize)
    )
    first = fresh.groupBy("_fp").agg(F.min(id_col).alias("_keep"))
    return (
        fresh.join(first, "_fp")
        .filter(F.col(id_col) == F.col("_keep"))
        .drop("_fp", "_keep")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_K,
    shingle_n: int = 3,
    hash: str = "md5",
    tokenize: str = "word",
) -> DataFrame:
    """(id, sig: array<long>[k]) — sig[i] = min over shingles of h_i(s),
    h_i the universal rehash family over one base hash per shingle.

    ``hash`` picks the base-hash engine:

    - ``"md5"`` — Arrow-batched pandas UDF (see :func:`_minhash_udf`):
      bit-identical to the DuckDB oracle, used wherever hash-match
      verification runs.
    - ``"xxhash64"`` — pure JVM explode + codegen'd min-aggregation
      (see _minhash_sigs_jvm): no Python workers at all; the
      production default at scale.

    Docs with < shingle_n tokens yield no shingles and are dropped.
    """
    from .similarity import ensure_parallelism
    from .text_analysis import check_tokenize

    check_tokenize(tokenize)  # refuse at plan time, not inside the UDF
    # tiny corpora read as one parquet split → the whole shingle+hash
    # stage would run on one task; fan out proportional to input bytes
    # (no-op at real scale — see ensure_parallelism)
    df = ensure_parallelism(df)
    if hash == "xxhash64":
        return _minhash_sigs_jvm(df, text_col, id_col, k, shingle_n, tokenize)
    if hash != "md5":
        raise ValueError(f"unknown hash engine: {hash!r}")
    sig = _minhash_udf("sig", k, shingle_n, tokenize)(F.col(text_col))
    return (
        df.select(F.col(id_col).alias("id"), sig.alias("sig"))
        .filter(F.col("sig").isNotNull())
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    threshold: float = 0.5,
    hash: str = "md5",
    tokenize: str = "word",
    max_bucket: int | None = None,
    salt_tile: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash LSH, exact-verified.
    ``tokenize="script"`` switches every shingle kernel (signature,
    verify) to the spaceless-script character-gram tokenizer (r14).

    Hot buckets (r14, the imagehash knobs on the text path — shared
    banding.salted_band_pairs construction): the band KEY space is
    uniform (hash-derived), but a genuine c-member near-dup clique
    shares every band key, so its bucket — and the TRUE pair output —
    is quadratic in c. ``max_bucket`` REFUSES loudly at the cap;
    ``salt_tile`` opts into completion with the quadratic join work
    tiled across ~(c/tile)²/2 tasks instead of one straggler, pair set
    IDENTICAL to the unsalted plan (pinned by test).

    Stages (2 shuffles total, both on uniform keys):
      1. signatures (map-only)
      2. explode into ``bands`` rows/doc keyed by (band_idx, hash of the
         band's signature slice) → self equi-join → distinct pairs
      3. exact Jaccard verification on the candidates only (inverted
         n-gram join restricted to candidate pairs)

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥
    threshold. At 100 TB the band join's key space is uniform (md5),
    so no salting needed; r=k/bands rows per band tunes the S-curve.
    """
    from .similarity import ensure_parallelism
    from .text_analysis import check_tokenize

    check_tokenize(tokenize)
    r = band_rows(k, bands)
    # fan out ONCE here, before any text projection: both the signature
    # pass and the exact-verify shingle pass below consume `df`, and a
    # 1-split local input would otherwise run each branch's per-doc
    # Python work on a single task (the signature path's internal
    # ensure_parallelism fans out ABOVE its projection, which leaves a
    # caller-supplied synth/text expression on the scan task). The
    # marker makes the inner calls no-ops — exactly one round-robin
    # exchange, still a no-op at real scale.
    df = ensure_parallelism(df)
    sigs = minhash_signatures(
        df, text_col, id_col, k, shingle_n, hash=hash, tokenize=tokenize
    )
    # the self-join + verification would otherwise re-execute the whole
    # signature DAG per branch; signatures are tiny (id + k longs), so
    # materialize once (reliable-checkpoint-aware: set
    # SPARK_GRAFT_CHECKPOINT_DIR on a cluster — see materialize.py)
    sigs = sigs.transform(materialize)
    banded = sigs.select(
        "id",
        F.posexplode(
            F.array(*[band_key(b, r, hash) for b in range(bands)])
        ).alias("band", "bh"),
    )
    from .banding import salted_band_pairs

    cand = (
        salted_band_pairs(
            banded,
            ["band", "bh"],
            id_col="id",
            max_bucket=max_bucket,
            salt_tile=salt_tile,
            what="MinHash band bucket",
        )
        .distinct()
        .transform(materialize)
    )
    # exact-Jaccard verification only needs shingle sets for docs that
    # survived banding — semi-join down to candidate ids first.
    # Candidates ≪ corpus at scale, so the verify join state is
    # O(candidate docs).
    cand_ids = (
        cand.select(F.col("id_a").alias("id"))
        .union(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # r15 opt: the verify shingle sets are distinct HASHED shingles
    # instead of the Python STRING-set UDF this stage used to run —
    # the pair join compares 8-byte longs, ~10× narrower join state.
    # |∩|/|∪| over hashed sets equals the string-set Jaccard barring a
    # 60-bit collision inside one pair's union (~|union|²/2^61 ≈ 1e-14
    # — the engine-wide posture already documented for the
    # inverted-index join and the streaming neardup verify, both
    # oracle-pinned). The hashing kernel is per-engine (below).
    if hash == "xxhash64":
        # production engine stays pure-JVM (xxhash64 is a cheap native
        # function; the whole path's posture is zero Python workers)
        sh_col = F.array_distinct(
            F.transform(
                _shingles_expr(F.col("_txt"), shingle_n, tokenize),
                lambda g: F.xxhash64(g),
            )
        )
    else:
        # md5 engine: Arrow batch kernel — hash60 per DISTINCT shingle
        # per batch instead of an interpreted md5 per gram occurrence
        # (see _minhash_udf; identical sets, 2× faster warm)
        sh_col = _minhash_udf("hs", shingle_n=shingle_n, tokenize=tokenize)(
            F.col("_txt")
        )
    sh = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_txt"))
        .join(cand_ids, "id", "left_semi")
        .select("id", sh_col.alias("sh"))
        .transform(materialize)
    )
    return _verify_jaccard(cand, sh, sh, threshold)


def _verify_jaccard(
    cand: DataFrame, sh_a: DataFrame, sh_b: DataFrame, threshold: float
) -> DataFrame:
    """Exact verify of candidate pairs ``(id_a, id_b)``: ``|∩|/|∪|``
    of the ``(id, sh)`` hashed-shingle sets, kept at ≥ ``threshold``.
    The one verify of :func:`minhash_lsh_pairs` and its dual twin."""
    a = sh_a.alias("a")
    b = sh_b.alias("b")
    return (
        cand.join(a, F.col("id_a") == F.col("a.id"))
        .join(b, F.col("id_b") == F.col("b.id"))
        .select("id_a", "id_b", set_jaccard("a.sh", "b.sh").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def set_jaccard(sh_a: Column | str, sh_b: Column | str) -> Column:
    """Exact Jaccard ``|∩|/|∪|`` of two hashed-shingle set columns."""
    return F.size(F.array_intersect(sh_a, sh_b)).cast("double") / F.size(
        F.array_union(sh_a, sh_b)
    )


def minhash_lsh_pairs_dual(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    threshold: float = 0.5,
    tokenize: str = "word",
) -> tuple[DataFrame, DataFrame]:
    """BOTH MinHash engines — (xxhash64_pairs, md5_pairs) — over ONE
    corpus shingle pass (r16, r15 verdict #3; the cross-engine gate
    query ran :func:`minhash_lsh_pairs` twice and tokenized + shingled
    the corpus independently per engine).

    One pinned ``(id, shingles)`` frame feeds all four consumers:

    - md5 signatures: :func:`_minhash_udf` over the shingle arrays
      (``shingle_n=None`` — the from-text kernel minus the Python
      re-shingling);
    - xxhash64 signatures: explode the pinned shingles → the
      :func:`_affine_min_sigs` aggregation :func:`_minhash_sigs_jvm`
      uses (its shingle expression is exactly what the pin holds);
    - ONE shared verify-set pass: the candidate-id union of both
      engines semi-joins the pinned shingles once and computes BOTH
      hashed-shingle sets (md5-h60 and xxhash64) in a single
      projection — two verify passes collapse into one.

    Output is bit-identical per engine to two independent
    :func:`minhash_lsh_pairs` runs (pinned by
    ``test_minhash_dual_matches_independent_chains``): signatures
    depend only on the shingle SET, both paths build their band keys
    with :func:`band_key` and verify with :func:`_verify_jaccard`, and
    the JVM-vs-Python shingle parity is the ``test_minhash_udf``
    battery's standing pin.

    Scale shape: the shingle pin is ~(shingle_n ×) corpus text — the
    same order as the corpus scan each engine separately paid; at
    100 TB the win is one full tokenize+shingle pass and one verify
    pass instead of two of each."""
    from .similarity import ensure_parallelism
    from .text_analysis import check_tokenize

    check_tokenize(tokenize)
    r = band_rows(k, bands)
    df = ensure_parallelism(df)
    shf = df.select(
        F.col(id_col).alias("id"),
        _shingles_expr(F.col(text_col), shingle_n, tokenize).alias("sh"),
    ).transform(materialize)

    # --- signatures, one per engine, both from the pinned shingles;
    # the two (id, sig) frames are schema-identical, so ONE tagged
    # union pin (eng 0 = xxhash64, 1 = md5) computes both engines'
    # signature passes in a single action instead of two — locally
    # each action is a fixed planning + job floor, at scale one
    # checkpoint write instead of two.
    sig_md5 = shf.select(
        F.lit(1).alias("eng"),
        "id",
        _minhash_udf("sig", k)(F.col("sh")).alias("sig"),
    ).filter(F.col("sig").isNotNull())
    sig_xxh = _affine_min_sigs(
        shf.select("id", F.explode("sh").alias("s")), k, F.lit(0).alias("eng")
    )
    sig_all = sig_xxh.union(sig_md5).transform(materialize)

    # --- banding: per-engine band keys (branched on the engine tag),
    # ONE self-join keyed (eng, band, bh) — a pair meets only inside
    # its own engine's bucket space, so the per-engine candidate sets
    # are exactly the two separate joins' — and ONE candidate pin.
    from .banding import salted_band_pairs

    banded = sig_all.select(
        "id",
        "eng",
        F.posexplode(
            F.array(*[
                F.when(F.col("eng") == 0, band_key(b, r, "xxhash64"))
                .otherwise(band_key(b, r, "md5"))
                for b in range(bands)
            ])
        ).alias("band", "bh"),
    )
    cand_all = (
        salted_band_pairs(
            banded, ["eng", "band", "bh"], id_col="id", carry=("eng",),
            what="MinHash band bucket",
        )
        .select("id_a", "id_b", F.col("eng_a").alias("eng"))
        .distinct()
        .transform(materialize)
    )
    cand_xxh = cand_all.filter(F.col("eng") == 0).select("id_a", "id_b")
    cand_md5 = cand_all.filter(F.col("eng") == 1).select("id_a", "id_b")

    # --- ONE verify-set pass for both engines
    ids = cand_all.select(
        F.explode(F.array("id_a", "id_b")).alias("id")
    ).distinct()
    shsets = (
        shf.join(ids, "id", "left_semi")
        .select(
            "id",
            _minhash_udf("hs")(F.col("sh")).alias("hs_md5"),
            F.array_distinct(
                F.transform("sh", lambda g: F.xxhash64(g))
            ).alias("hs_xxh"),
        )
        .transform(materialize)
    )

    def _verify(cand: DataFrame, hs_col: str) -> DataFrame:
        # one projection per join side: a shared one renumbers the
        # plan's attribute ids
        def side() -> DataFrame:
            return shsets.select("id", F.col(hs_col).alias("sh"))

        return _verify_jaccard(cand, side(), side(), threshold)

    return _verify(cand_xxh, "hs_xxh"), _verify(cand_md5, "hs_md5")


def simhash(col: Column, bits: int = 32, tokenize: str = "word") -> Column:
    """SimHash over whitespace tokens: bit b of the result is the sign
    of Σ_tokens (±1 per token depending on bit b of hash60(token)).

    Single-pass: one ``aggregate`` folds every token hash into a
    ``bits``-wide vote vector, then one pass turns votes into the
    packed hash. Building ``bits`` separate vote expressions instead
    would re-inline (and re-execute) the md5 transform ``bits`` times
    after Catalyst's project-collapse. Map-only, no shuffle; all
    intermediates stay in int64.

    ``bits`` is capped at 60: token hashes are hash60 values, so bit
    positions 60+ are constant-zero — votes there would always read
    -1 and the top bits of every simhash would silently be 0
    (shrinking the top band's key space), and positions ≥ 64 raise a
    per-row bit_get error. Raising ``bits`` past 60 needs a second
    salted hash60, not a silent degrade.
    """
    if not 1 <= bits <= 60:
        raise ValueError(f"simhash bits must be in [1, 60], got {bits}")
    from .text_analysis import check_tokenize, script_spread

    powers = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    # NULL text = empty document (the engine-wide NULL-text contract)
    c = F.coalesce(col, F.lit(""))
    if check_tokenize(tokenize) == "script":
        c = script_spread(c)
    toks = F.split(F.trim(c), r"\s+")
    hashes = F.transform(toks, lambda t: hash60(t, 0))
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda v, b: v
            + F.when(F.bit_get(h, b.cast("int")) == 1, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            powers,
            lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group docs by identical simhash (Hamming-tolerant variant:
    :func:`simhash_near_dup_pairs`)."""
    from .similarity import ensure_parallelism

    return (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("id"), simhash(F.col(text_col)).alias("sh"))
        .groupBy("sh")
        .agg(F.min("id").alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Hamming-tolerant SimHash near-dup pairs: (id_a, id_b, hamming).

    Band the ``bits``-wide simhash into ``bands`` contiguous sub-keys;
    candidate pairs share at least one band; verify with
    ``bit_count(xor) <= max_hamming``. By pigeonhole, any pair within
    Hamming distance ``bands - 1`` differs in at most ``bands - 1``
    bands and therefore agrees on at least one — so with the default
    ``bands = 4 > max_hamming = 3`` recall is EXACT (100%), unlike
    MinHash banding's probabilistic S-curve.

    Scale: one explode (``bands`` rows/doc) + one self equi-join on
    (band, key), same shape as MinHash LSH. The key space per band is
    ``2^(bits/bands)`` (2^15 here); at billions of docs widen the key
    space so buckets stay small — bucket population, not pair volume,
    is the knob. NOTE ``bits`` is capped at 60 (the token hashes are
    hash60 values — ``simhash`` refuses beyond that), so past
    ``bits=60`` the lever is more/wider BANDS over a second salted
    simhash, not a longer single hash. Verification is a single
    codegen'd xor/popcount per candidate, no Python anywhere.
    """
    from .similarity import ensure_parallelism

    r = bits // bands
    mask = (1 << r) - 1
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), simhash(F.col(text_col), bits).alias("sh")
    )
    # the self-join would re-evaluate the (interpreted-fold) simhash
    # per branch; the (id, hash) frame is tiny — materialize once
    base = base.transform(materialize)
    banded = base.select(
        "id",
        "sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("sh", b * r).bitwiseAND(F.lit(mask))
                    for b in range(bands)
                ]
            )
        ).alias("band", "key"),
    )
    left, right = banded.alias("l"), banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.sh").alias("sh_a"),
            F.col("r.sh").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    max_doc_freq: int | None = None,
    candidates: str = "lsh",
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    hash: str = "md5",
    audit_sample: float | None = None,
    audit_seed: int = 42,
    tokenize: str = "word",
) -> DataFrame:
    """n-gram Jaccard similarity pairs, exact-scored.

    ``candidates`` picks the pair-mining plan:

    - ``"lsh"`` (default) — MinHash-banded candidate mining, then exact
      Jaccard over the full shingle sets of the candidates only. This is
      the bounded plan: pair volume is governed by the LSH S-curve
      (tune ``k``/``bands``), never by shingle document frequency, so a
      stopword-dense corpus cannot make it quadratic. Scores are exact;
      recall is the banding's (pairs far below ``threshold`` may be
      missed, which is what a near-dup pipeline wants).
    - ``"all"`` — exhaustive inverted-index plan: explode distinct
      n-grams → self equi-join on the n-gram → count shared per pair.
      Full recall, but inherently O(Σ df²) over shingle doc-frequencies;
      use ``max_doc_freq`` (df-cut: drop shingles shared by more than
      that many docs) to bound the hottest join key. The
      exact-verification stage for audits, not the 100 TB default.

    ``audit_sample`` (candidates='all' only) bounds the exhaustive plan
    for corpora where even the df-cut leaves Σ df² too hot: a
    content-addressed hash-sample of DOCS (stable across runs/engines/
    partitionings) is taken before shingling, which scales every
    shingle's doc-frequency by ~rate and the pair volume by ~rate² in
    expectation. The audit stays honest — it is the full exhaustive
    plan over a reproducible subset, with per-pair scores exact.
    """
    from .text_analysis import check_tokenize

    check_tokenize(tokenize)
    if candidates == "lsh":
        if max_doc_freq is not None:
            raise ValueError("max_doc_freq applies to candidates='all' only")
        if audit_sample is not None:
            raise ValueError("audit_sample applies to candidates='all' only")
        return minhash_lsh_pairs(
            df, text_col, id_col, k=k, bands=bands, shingle_n=n,
            threshold=threshold, hash=hash, tokenize=tokenize,
        )
    if candidates != "all":
        raise ValueError(f"unknown candidates plan: {candidates!r}")
    if audit_sample is not None:
        from .sampling import hash_sample

        df = hash_sample(df, id_col, audit_sample, seed=audit_seed)
    from .similarity import ensure_parallelism

    # join on the 60-bit shingle hash, not the shingle string: the
    # inverted-index shuffle moves 8-byte keys instead of text, and the
    # (quadratic) pair-join compares longs. Collisions are ~2^-60 and
    # the oracle hashes identically, so results are unchanged. The
    # hashing happens INSIDE the Arrow shingle pass (r15 opt, second
    # wave: _minhash_udf dedupe="string" — hash60 per DISTINCT
    # shingle per batch): the old construction shipped the string
    # arrays through Arrow only to feed an interpreted JVM
    # transform(hash60) (an md5 + string concat per element — HOF
    # lambdas never codegen). dedupe="string" keeps the oracle's exact
    # list_distinct(strings)-then-hash semantics.
    hashed_set = _minhash_udf("hs", shingle_n=n, tokenize=tokenize, dedupe="string")
    # fan out BELOW the shingle UDF: a small corpus reads as one parquet
    # split and the corpus-wide Arrow shingle pass is the heavy stage —
    # it must run fanned, not single-task (r15 opt; no-op at real scale)
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), hashed_set(F.col(text_col)).alias("sh")
    ).filter(F.size("sh") > 0)
    # Materialize the index BEFORE any census: it feeds the df-cut
    # census, the sizes aggregate and BOTH self-join sides — without
    # the pin the corpus-wide shingle UDF re-runs once per consumer
    # (the census alone re-ran it; r15 opt measured 3.9 s -> 1.8 s at
    # sf0.1 moving the pin above the cut).
    inv = base.select("id", F.explode("sh").alias("g")).transform(materialize)
    if max_doc_freq is not None:
        # df-cut: drop shingles shared by more than max_doc_freq docs.
        # This caps the quadratic pair fan-out per shingle (the standard
        # near-dup mitigation for stopword-dense corpora) and bounds the
        # hottest join key at scale. Jaccard is then computed over the
        # *surviving* shingle sets in both engines.
        cut = (
            inv.groupBy("g")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("g")
        )
        # the heavy-hitter list is small by definition → broadcast
        # anti-join. Pin the post-cut index too: without it the census
        # groupBy (corpus-scale at 100 TB) re-runs once per consumer
        # (sizes + both self-join sides — plan budget caught 7
        # exchanges vs 3). Two pins cost ~0.1 s extra at sf0.1 and keep
        # both the shingle UDF and the census at exactly one execution.
        inv = inv.join(F.broadcast(cut), "g", "left_anti").transform(materialize)
    sizes = inv.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = inv.alias("a"), inv.alias("b")
    shared = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        shared.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("shared").cast("double")
                / (F.col("sa.sz") + F.col("sb.sz") - F.col("shared"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# CJK near-dup driver-row synth (r14, r13 verdict #2). The 500-char
# alphabet is the contiguous CJK Unified block head 0x4E00..0x4E00+499
# (all assigned Han), so Spark's substring-lookup and the oracle's
# chr(19968 + idx) construct IDENTICAL strings.
_CJK_ALPHABET = "".join(chr(0x4E00 + i) for i in range(500))


def synth_cjk_docs(
    df: DataFrame, key_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic spaceless-CJK corpus with planted near-dup
    cliques, closed-form from the key (DuckDB replays it with
    ``chr``): docs group into cliques of 4 (q = key div 4); each doc
    is a 30-char Han base sequence shared by its clique + a 2-char
    per-member tail + ``' ' || substring(original text, 1, 12)`` (so
    hostile corpus text flows through the script tokenizer too). No
    ASCII spaces inside the Han run — the WORD tokenizer sees ~1 token
    and mines NOTHING (the r13-verdict blind spot, pinned red by
    tests), while ``tokenize='script'`` shingles it as character
    3-grams and recovers the cliques.

    Mixed-script leg (r15, r14 verdict #8): cliques with q % 3 == 0
    additionally splice a hash-derived Latin token (``x`` + 0-999)
    into the MIDDLE of the Han base with no spaces on either side —
    Latin+Han in ONE document — so the spread kernel's boundary
    behavior (space insertion where a spaceless run meets a Latin run)
    stays oracle-pinned as the tokenize policy spreads to more
    operators. The splice is a pure function of q, identical across
    the clique, so within-clique similarity (and recovery) is
    unchanged; hash-derived digits keep cross-clique sharing at the
    random floor (the standing no-residue-structure rule below).
    Pure codegen, map-only."""
    key = F.col(key_col)
    m = F.pmod(key, F.lit(4))
    q = F.expr(f"({key_col} - pmod({key_col}, 4)) div 4")
    # Every character is hash60-derived from (q, position): any
    # ARITHMETIC construction tried here leaked structure — a linear
    # stride put all cliques on one cyclic orbit (shared arcs), a
    # single pmod(q, 500) fold made cliques q and q+500 byte-identical
    # (quadratic pair growth, caught by the r14 HEADLINE5
    # calibration), and a (q·(i+1)) % 97 "mixer" was still linear in i
    # WITHIN each q-mod-97 class (90k phantom cross-clique pairs on a
    # 50k contiguous-id corpus). Hashed characters have no residue
    # structure at ANY corpus size: cross-clique trigram sharing is
    # the random ~(1/500)³ floor, so planted cliques are the only
    # near-dups and pair volume is linear in N. Pure codegen (md5),
    # and the oracle rebuilds the same hash.

    def ch(tag: str, *cols) -> Column:
        payload = F.concat_ws(
            ":", F.lit(tag), *[c.cast("string") for c in cols]
        )
        idx = F.pmod(hash60(payload, 0), F.lit(500))
        return F.substring(
            F.lit(_CJK_ALPHABET), (idx + 1).cast("int"), F.lit(1)
        )

    # the r15 mixed-script splice: empty for 2 of 3 cliques, else a
    # Latin token hash-derived from q, glued to Han on both sides
    latin = F.when(
        F.pmod(q, F.lit(3)) == 0,
        F.concat(
            F.lit("x"),
            F.pmod(
                hash60(F.concat_ws(":", F.lit("cjkl"), q.cast("string")), 0),
                F.lit(1000),
            ).cast("string"),
        ),
    ).otherwise(F.lit(""))
    parts = [ch("cjkb", q, F.lit(i)) for i in range(15)]
    parts += [latin]
    parts += [ch("cjkb", q, F.lit(i)) for i in range(15, 30)]
    parts += [ch("cjkt", q, m, F.lit(i)) for i in range(2)]
    cjk = F.concat(
        *parts,
        F.lit(" "),
        F.substring(F.coalesce(F.col(text_col), F.lit("")), 1, 12),
    )
    return df.withColumn(text_col, cjk)

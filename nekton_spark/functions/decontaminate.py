"""Train/eval decontamination for LLM-data pipelines.

Standard practice before training: any training document sharing a
long-enough word n-gram with an evaluation document is contaminated
and must be flagged or dropped (the GPT-3/PaLM-style 8-13-gram
overlap rule). The reference has no analog (it has no joins at all —
SURVEY §2.4); this is a north-star §2.5-family operator.

100 TB shape: the eval set is always tiny relative to training data
(thousands of benchmark docs vs billions of training docs), so the
plan is

1. distinct (eval_id, shingle) — small; **broadcast**;
2. distinct (train_id, shingle) — map-only explode, no shuffle;
3. broadcast hash join on the shingle string, then partial-aggregated
   count per (train_id, eval_id).

The only shuffle is the final count aggregation over *matching* pairs
— contamination hits, not the corpus. Removal is a broadcast anti-join
of flagged train ids. No Python workers anywhere: shingling is the
same codegen expression the dedup family uses.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize

from .text_analysis import ngrams


def _doc_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    alias: str,
    fan_out: bool = False,
    tokenize: str = "word",
) -> DataFrame:
    if fan_out:
        # small parquet inputs read as 1-2 splits; the explode+join
        # would run on one task (see similarity.ensure_parallelism —
        # no-op at real scale)
        from .similarity import ensure_parallelism

        df = ensure_parallelism(df)
    return (
        df.select(
            F.col(id_col).alias(alias),
            F.explode(
                F.array_distinct(ngrams(F.col(text_col), n, tokenize))
            ).alias("s"),
        )
    )


def contamination_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenize: str = "word",
) -> DataFrame:
    """(train_id, eval_id, n_shared): distinct word n-grams shared by a
    train/eval document pair. Docs shorter than ``n`` tokens yield no
    shingles and cannot collide. ``tokenize="script"`` character-grams
    spaceless-script runs (r14) — without it a CJK eval set can NEVER
    collide with CJK training text (both sides are ~1 token)."""
    tr = _doc_shingles(
        train, id_col, text_col, n, "train_id", fan_out=True,
        tokenize=tokenize,
    )
    ev = _doc_shingles(eval_df, id_col, text_col, n, "eval_id",
                       tokenize=tokenize)
    return (
        tr.join(F.broadcast(ev), "s")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenize: str = "word",
) -> DataFrame:
    """Training rows with no (or < ``min_shared``) eval n-gram overlap —
    the write-side of the contamination check."""
    flagged = (
        contamination_pairs(train, eval_df, n, id_col, text_col, tokenize)
        .filter(F.col("n_shared") >= min_shared)
        .select(F.col("train_id").alias(id_col))
        .distinct()
    )
    return train.join(F.broadcast(flagged), id_col, "left_anti")


BLOOM_SEED_BASE = 1300


def _bloom_positions(s, m_bits: int, k_hashes: int):
    from .hashing import hash60

    return F.array(
        *[hash60(s, BLOOM_SEED_BASE + i) % m_bits for i in range(k_hashes)]
    )


def resolve_bloom_bits(eval_shingles: DataFrame, m_bits: int | None) -> int:
    """Auto-size the filter: m = 2^ceil(log2(16·s)) clamped to
    [2^16, 2^27] for s distinct eval shingles — ~16 bits per element,
    fpr ≈ (1-e^{-k·s/m})^k ≈ 2e-4 at k=4 whatever the eval size. A
    FIXED m saturates as the eval suite grows (the sf10 rehearsal
    measured m=2^16 at 300k shingles: ~every bit set, every train
    shingle 'matching' — the same degenerate-toward-scan failure the
    fixed LSH width had). The count job runs on the EVAL side only —
    small by the operator's contract — and the arithmetic is
    integer-exact (bit_length here = ceil(log2(16s)) = what a SQL
    oracle computes from its own count), so auto-m replays exactly.
    Explicit m_bits is honored verbatim (power of two required: the
    probe arithmetic and the oracle replay depend on it)."""
    if m_bits is None:
        s = eval_shingles.select("s").distinct().count()
        m_bits = 1 << min(27, max(16, (max(16 * s, 1) - 1).bit_length()))
    if m_bits & (m_bits - 1):
        raise ValueError(f"m_bits must be a power of two, got {m_bits}")
    return m_bits


def bloom_contaminated_ids(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    m_bits: int | None = None,
    k_hashes: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenize: str = "word",
) -> DataFrame:
    """(train_id, n_hit_shingles): training docs with ≥1 shingle whose
    k Bloom probes ALL land on set bits — "possibly contaminated", a
    strict superset of the exact overlap (false-positive rate ≈
    (1 - e^{-k·s/m})^k for s distinct eval shingles; ~2e-5 at the
    defaults with 10⁵ shingles). The SCALE path of decontamination:
    the exact plan broadcasts eval shingle *strings* (unbounded — a
    10⁷-doc eval suite at ~1 KB of shingles each would be gigabytes);
    the Bloom plan broadcasts ≤ m_bits int rows (~8 MB at 2²⁰)
    **bounded by construction, whatever the eval size**, then routes
    only possibly-contaminated docs into the exact verifier. Fully
    relational and codegen (explode + broadcast join + two partial
    aggregations): membership = all-k-probes-match, counted per
    (train_id, shingle) against the distinct set-bit relation — the
    same arithmetic a DuckDB oracle replays exactly. No Python
    workers, no driver-side bitset."""
    ev = _doc_shingles(eval_df, id_col, text_col, n, "eval_id",
                       tokenize=tokenize)
    m_bits = resolve_bloom_bits(ev, m_bits)
    tr = _doc_shingles(train, id_col, text_col, n, "train_id", fan_out=True,
                       tokenize=tokenize)
    probes = tr.select(
        "train_id",
        "s",
        F.explode(_bloom_positions(F.col("s"), m_bits, k_hashes)).alias("pos"),
    )
    bits = ev.select(
        F.explode(_bloom_positions(F.col("s"), m_bits, k_hashes)).alias("pos")
    ).distinct()
    per_shingle = (
        probes.join(F.broadcast(bits), "pos")
        .groupBy("train_id", "s")
        .agg(F.count(F.lit(1)).alias("n_match"))
        .filter(F.col("n_match") == k_hashes)
    )
    return per_shingle.groupBy("train_id").agg(
        F.count(F.lit(1)).alias("n_hit_shingles")
    )


def bloom_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    m_bits: int | None = None,
    k_hashes: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    verify_exact: bool = True,
    tokenize: str = "word",
) -> DataFrame:
    """Bloom-gated decontamination: drop training docs the Bloom filter
    flags — after (default) exact verification of ONLY the flagged
    docs, so false positives survive and the result equals the exact
    path's, at the Bloom plan's broadcast cost. ``verify_exact=False``
    accepts the filter's false-positive rate and skips the second
    pass (the cheapest corpus-wide gate)."""
    flagged = bloom_contaminated_ids(
        train, eval_df, n, m_bits, k_hashes, id_col, text_col, tokenize
    ).select(F.col("train_id").alias(id_col))
    if not verify_exact:
        return train.join(F.broadcast(flagged), id_col, "left_anti")
    suspects = train.join(F.broadcast(flagged), id_col, "left_semi")
    confirmed = (
        contamination_pairs(suspects, eval_df, n, id_col, text_col, tokenize)
        .select(F.col("train_id").alias(id_col))
        .distinct()
    )
    return train.join(F.broadcast(confirmed), id_col, "left_anti")


def fuzzy_contamination_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    k: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash: str = "md5",
    exclude_same_id: bool = False,
    tokenize: str = "word",
) -> DataFrame:
    """NEAR-duplicate contamination: (train_id, eval_id, jaccard) for
    training docs whose shingle-set Jaccard with an eval doc reaches
    ``threshold`` — catches lightly paraphrased / reformatted benchmark
    leakage that the exact n-gram rule (:func:`contamination_pairs`)
    misses. Same banded-MinHash machinery as dedup (signatures →
    band-key match → exact verify on candidates only), but ACROSS two
    frames instead of a self-join.

    100 TB shape: both sides are signed map-only; the eval side
    (benchmarks — thousands of docs) is broadcast at band granularity,
    so the candidate match is a broadcast join with NO shuffle of the
    training corpus; exact verification semi-joins the training side
    down to candidates before the shingle UDF runs. ``hash`` chooses
    md5 (oracle-parity) or xxhash64 (pure-JVM production) exactly as
    in minhash_lsh_pairs.
    """
    from .dedup import band_key, band_rows, minhash_signatures
    from .hashing import hash60

    r = band_rows(k, bands)  # validated: r=0 would be an all-pairs join
    tsig = minhash_signatures(
        train, text_col, id_col, k, shingle_n, hash=hash, tokenize=tokenize
    )
    esig = minhash_signatures(
        eval_df, text_col, id_col, k, shingle_n, hash=hash, tokenize=tokenize
    )

    def banded(sig_df: DataFrame) -> DataFrame:
        return sig_df.select(
            "id",
            F.posexplode(
                F.array(*[band_key(b, r, hash) for b in range(bands)])
            ).alias("band", "bh"),
        )

    cand = banded(tsig).join(
        F.broadcast(banded(esig).withColumnRenamed("id", "eval_id")),
        ["band", "bh"],
    )
    if exclude_same_id:
        # OPT-IN shared-corpus harness mode only: when train and eval are
        # carved from ONE id space, a row paired with itself is not
        # leakage. In production the two id spaces are unrelated — a
        # coincidental id collision must NOT suppress a real
        # contamination pair, so the default keeps every pair.
        cand = cand.filter(F.col("id") != F.col("eval_id"))
    cand = (
        cand.select(F.col("id").alias("train_id"), "eval_id")
        .distinct()
        .transform(materialize)  # verify branches reuse, not re-derive
    )
    # r15 opt: verify shingle sets as pure-JVM codegen expressions —
    # distinct HASHED shingles instead of the Python string-set UDF
    # (the same rewrite as minhash_lsh_pairs' verify stage). Drops the
    # second Arrow crossing and the verify join compares 8-byte longs
    # instead of shingle strings. |∩|/|∪| over hashed sets equals the
    # string-set Jaccard barring a 60-bit collision inside one pair's
    # union (~1e-14 — the documented engine-wide posture).
    from .dedup import _shingles_expr

    hash_g = (
        (lambda g: F.xxhash64(g)) if hash == "xxhash64" else (lambda g: hash60(g, 0))
    )

    def sh_set(c: Column) -> Column:
        return F.array_distinct(F.transform(_shingles_expr(c, shingle_n, tokenize), hash_g))

    t_ids = cand.select(F.col("train_id").alias("id")).distinct()
    tsh = (
        train.select(F.col(id_col).alias("train_id"), F.col(text_col).alias("_t"))
        .join(t_ids.withColumnRenamed("id", "train_id"), "train_id", "left_semi")
        .select("train_id", sh_set(F.col("_t")).alias("tsh"))
    )
    esh = eval_df.select(
        F.col(id_col).alias("eval_id"), sh_set(F.col(text_col)).alias("esh")
    )
    inter = F.size(F.array_intersect("tsh", "esh"))
    return (
        cand.join(tsh, "train_id")
        .join(F.broadcast(esh), "eval_id")
        .select(
            "train_id",
            "eval_id",
            (
                inter.cast("double")
                / (F.size("tsh") + F.size("esh") - inter)
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def fuzzy_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    k: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash: str = "md5",
    exclude_same_id: bool = False,
    tokenize: str = "word",
) -> DataFrame:
    """Training rows with no near-duplicate eval overlap — the
    write-side of the fuzzy contamination check."""
    flagged = (
        fuzzy_contamination_pairs(
            train, eval_df, k, bands, shingle_n, threshold, id_col, text_col,
            hash, exclude_same_id, tokenize,
        )
        .select(F.col("train_id").alias(id_col))
        .distinct()
    )
    return train.join(F.broadcast(flagged), id_col, "left_anti")

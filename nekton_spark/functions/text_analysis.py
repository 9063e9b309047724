r"""Text-analysis operators for LLM-data pipelines (SURVEY §2.5).

All pure Catalyst expressions — whole-stage-codegen'd, zero Python in
the hot path, so each scales linearly with input and parallelizes
embarrassingly (no shuffle at all: every function here is a map).

Operators:
- :func:`tokenize` / :func:`token_count` — whitespace tokens.
- :func:`bpe_token_count` — BPE-ish regex token count (letter runs /
  digit runs / punctuation runs), the standard pre-tokenizer shape.
- :func:`quality_score` — length / punctuation / stopword / repetition
  heuristics in [0,1], the C4/Gopher-style quality-filter family.
- :func:`lang_id` — n-gram/stopword-profile language guess.
- :func:`fingerprint` — md5 content fingerprint of normalized text.
- :func:`ngrams` — word n-gram array (shared with dedup).
- :func:`dup_ngram_fraction` — intra-doc repeated n-gram share.
"""

from __future__ import annotations

import pandas as pd  # annotation target for Arrow-batched UDFs
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize

from .hashing import hash60


def _shard_count(n: int) -> int:
    """Shard count for the broadcast small-set rewrites below: the
    nearest power of two at or above √n, clamped to [1, 1024]. Spark's
    ``element_at``/``array_contains`` on a MapType/ArrayType literal is
    a LINEAR scan of the entries (no hash structure exists for map
    columns), so a flat lookup set makes the per-line membership test
    O(|set|) — measured 15.4 s per evaluation at sf0.1 on
    dedup_lines_keep_first (56k line occurrences × 2722 keys). Sharding
    by pmod(xxhash64(key), s) with s ≈ √n turns each probe into
    ~2√n compares (outer int-keyed map + inner shard) at byte-identical
    results."""
    import math

    if n <= 1:
        return 1
    return min(1024, 1 << max(0, (math.isqrt(n) - 1).bit_length()))

BPE_PATTERN = r"[\p{L}]+|[\p{N}]+|[^\s\p{L}\p{N}]+"

# tiny per-language stopword profiles (public common-word lists)
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "es": ["de", "la", "que", "el", "en", "y", "los", "del", "las", "un"],
    "fr": ["le", "la", "les", "de", "des", "et", "un", "une", "du", "est"],
    "de": ["der", "die", "das", "und", "in", "den", "von", "zu", "mit", "ist"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不", "人", "这"],
}


def _sep_pattern(sep: str) -> str:
    r"""``F.split`` takes a Java REGEX — a caller separator like ``|``
    or ``.`` would silently split between every character. Quote it
    \Q..\E (Pattern.quote semantics, including embedded \E) so the
    separator is always matched literally."""
    return "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def normalize(col: Column) -> Column:
    """Lowercase + whitespace-collapse: the canonical form for
    fingerprinting and exact dedup."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


# Script-aware tokenization for SPACELESS scripts (r13 verdict #1 /
# r14): a Chinese/Japanese/Thai/Korean document carries no ASCII
# spaces, so the \s+ word tokenizer reduces it to ~1 token and every
# word-token kernel (shingles, BM25, chunk budgets) silently
# under-functions on roughly a fifth of the real web. The CC-Net /
# BigScience practice is character-grams for those script runs: the
# ``"script"`` tokenize policy SPREADS each spaceless-script codepoint
# with ASCII spaces before the \s+ split, so each CJK/Thai character
# becomes its own token (and word n-grams become character n-grams
# over those runs) while spaced scripts tokenize exactly as before.
#
# The script classes are EXPLICIT codepoint ranges, not engine script
# tables (\p{IsHan} etc.): Java (Spark), RE2 (DuckDB oracle) and
# Python may carry different Unicode versions, and one engine tagging
# a newly-assigned ideograph that another doesn't would break
# bit-exact oracle parity. All three spread kernels below derive from
# this ONE table.
SPACELESS_RANGES: list[tuple[int, int]] = [
    (0x0E00, 0x0E7F),  # Thai
    (0x1100, 0x11FF),  # Hangul Jamo
    (0x3040, 0x309F),  # Hiragana
    (0x30A0, 0x30FF),  # Katakana
    (0x3130, 0x318F),  # Hangul Compatibility Jamo
    (0x31F0, 0x31FF),  # Katakana Phonetic Extensions
    (0x3400, 0x4DBF),  # CJK Unified Ideographs Extension A
    (0x4E00, 0x9FFF),  # CJK Unified Ideographs
    (0xAC00, 0xD7AF),  # Hangul Syllables
    (0xF900, 0xFAFF),  # CJK Compatibility Ideographs
    (0x20000, 0x2FA1F),  # CJK Extensions B-F + Compat Supplement
]

# \x{...} hex escapes parse identically in Java regex and RE2, so the
# SAME class string feeds Spark and the DuckDB oracle fragments.
SPREAD_CLASS = "[" + "".join(
    f"\\x{{{lo:X}}}-\\x{{{hi:X}}}" for lo, hi in SPACELESS_RANGES
) + "]"

TOKENIZE_POLICIES = ("word", "script")


def check_tokenize(policy: str) -> str:
    if policy not in TOKENIZE_POLICIES:
        raise ValueError(
            f"unknown tokenize policy {policy!r} "
            f"(expected one of {TOKENIZE_POLICIES})"
        )
    return policy


def script_spread(col: Column) -> Column:
    """JVM spread kernel: ``' ' || c || ' '`` around every spaceless-
    script codepoint (whole-stage codegen, no Python)."""
    return F.regexp_replace(
        F.coalesce(col, F.lit("")), "(" + SPREAD_CLASS + ")", " $1 "
    )


def _spread_re_py():
    import re as _re

    cls = "[" + "".join(
        f"{chr(lo)}-{chr(hi)}" for lo, hi in SPACELESS_RANGES
    ) + "]"
    return _re.compile(f"({cls})")


_SPREAD_RE_PY = _spread_re_py()

# str.translate table: every spaceless codepoint → ' ' + c + ' ', the
# identical per-character rewrite the regex kernel applies (a spread
# never touches neighbors, so per-char table substitution IS the sub).
# Built lazily: ~104k entries (~20 MB/worker) that only script-policy
# pipelines should pay for. translate runs the whole string through
# one C-level dict probe per char — measured 6.5× faster than the
# re.sub template path (which re-expands the replacement template per
# MATCH), and the spread is ~40% of the script-shingle kernel.
_SPREAD_TRANSLATE: dict[int, str] | None = None


def script_spread_py(text: str) -> str:
    """Python twin of :func:`script_spread` for the Arrow UDF kernels
    (same explicit ranges — bit-exact with the JVM/RE2 spreads; parity
    with the regex reference kernel pinned exhaustively over every
    range boundary in tests)."""
    global _SPREAD_TRANSLATE
    if _SPREAD_TRANSLATE is None:
        _SPREAD_TRANSLATE = {
            cp: " " + chr(cp) + " "
            for lo, hi in SPACELESS_RANGES
            for cp in range(lo, hi + 1)
        }
    return text.translate(_SPREAD_TRANSLATE)


def script_spread_sql(expr: str) -> str:
    """DuckDB (RE2) oracle fragment replaying :func:`script_spread`."""
    return (
        f"regexp_replace({expr}, '({SPREAD_CLASS})', ' \\1 ', 'g')"
    )


# NULL-text contract (engine-wide, r7): every text-consuming operator
# treats a NULL document as the EMPTY document — same token list, same
# scores, same chunk/line behavior. Without the coalesce, NULL
# propagates through split/aggregate/size differently in Spark (ANSI
# size(NULL) = NULL) than through the oracle's DuckDB chain, and a
# production corpus WILL contain NULLs. Exposed by the NULL-text fuzz
# leg (tools/fuzz_oracle.py null_text_rate).
def tokenize(col: Column, policy: str = "word") -> Column:
    c = F.coalesce(col, F.lit(""))
    if check_tokenize(policy) == "script":
        c = script_spread(c)
    return F.split(F.trim(c), r"\s+")


# alias for functions whose own parameter named `tokenize` shadows the
# module-level tokenizer (bm25_topk)
_tokenize_col = tokenize


def token_count(col: Column, policy: str = "word") -> Column:
    c = F.coalesce(col, F.lit(""))
    if check_tokenize(policy) == "script":
        c = script_spread(c)
    return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(
        F.size(tokenize(c))
    )


def bpe_token_count(col: Column) -> Column:
    return F.size(
        F.regexp_extract_all(
            F.coalesce(col, F.lit("")), F.lit(BPE_PATTERN), F.lit(0)
        )
    )


def ngrams(col: Column, n: int = 3, policy: str = "word") -> Column:
    """Word n-grams as an array<string>; empty when fewer than n tokens.
    ``policy="script"`` spreads spaceless-script runs first (r14)."""
    toks = tokenize(col, policy)
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def ngram_count(col: Column, n: int = 3, policy: str = "word") -> Column:
    """``F.size(ngrams(col, n))`` as pure token arithmetic (r15 opt):
    the interpreted ngram HOF materializes every gram STRING
    (transform + slice + concat_ws per gram) just to be counted —
    measured 3.06 s vs 0.16 s over 5k sf0.1 docs. Exactly equal:
    ``tokenize`` coalesces NULL to "" so the token array is never
    NULL and has size ≥ 1; ``ngrams`` returns an empty array below n
    tokens and ``size(toks) - n + 1`` grams otherwise."""
    toks = tokenize(col, policy)
    return F.when(F.size(toks) < n, F.lit(0)).otherwise(
        F.size(toks) - (n - 1)
    )


def fingerprint(col: Column) -> Column:
    """Content fingerprint = md5 of the normalized text (exact-dup key)."""
    return F.md5(normalize(col))


# explicit ASCII punctuation class — identical semantics in Java regex
# (Spark) and RE2 (DuckDB oracle), unlike \p{Punct}
PUNCT_CLASS = r"""[!"#$%&'()*+,\-./:;<=>?@\[\\\]^_`{|}~]"""


def punct_ratio(col: Column) -> Column:
    c = F.coalesce(col, F.lit(""))  # NULL text = empty document
    n = F.length(c)
    punct = F.length(F.regexp_replace(c, f"[^{PUNCT_CLASS[1:-1]}]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct.cast("double") / n)


def repetition_ratio(col: Column) -> Column:
    """1 - distinct_tokens/tokens: high = repetitive boilerplate."""
    toks = tokenize(F.lower(col))
    n = F.size(toks)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / n
    )


def mean_word_len(col: Column) -> Column:
    toks = tokenize(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        total.cast("double") / F.size(toks)
    )


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic (C4/Gopher-filter style):
    penalize too-short/too-long docs, heavy punctuation, heavy
    repetition, and extreme mean word length. Deterministic and
    SQL-expressible for the oracle."""
    n_tok = token_count(col).cast("double")
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0)) * F.when(
        n_tok > 10000, F.lit(0.5)
    ).otherwise(F.lit(1.0))
    punct_pen = F.when(punct_ratio(col) > 0.2, F.lit(0.5)).otherwise(F.lit(1.0))
    rep_pen = F.when(repetition_ratio(col) > 0.9, F.lit(0.3)).otherwise(F.lit(1.0))
    mwl = mean_word_len(col)
    mwl_pen = F.when((mwl < 2) | (mwl > 12), F.lit(0.5)).otherwise(F.lit(1.0))
    return F.round(len_score * punct_pen * rep_pen * mwl_pen, 6)


def lang_id(col: Column) -> Column:
    """Stopword-profile language guess over LANG_PROFILES.

    Scores each language by the number of profile words present
    (distinct-match, via array_intersect) and returns the argmax;
    ties break lexicographically; zero hits → 'und'. Pure expressions
    ⇒ identical semantics in the DuckDB oracle.
    """
    toks = F.array_distinct(tokenize(F.lower(col)))
    scores = [
        (code, F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))))
        for code, words in sorted(LANG_PROFILES.items())
    ]
    best_score = F.greatest(*[s for _, s in scores])
    result = F.lit("und")
    # walk reversed so earlier (lexicographically smaller) codes win ties
    for code, s in reversed(scores):
        result = F.when((s == best_score) & (best_score > 0), F.lit(code)).otherwise(result)
    return result


# PII patterns restricted to syntax with identical semantics in Java
# regex (Spark) and RE2 (DuckDB oracle): explicit classes, bounded
# quantifiers, no lookaround. Order matters: emails are redacted
# before phones/IPs so their digit runs can't be double-matched.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"[0-9]{3}-[0-9]{3}-[0-9]{4}",
    # E.164-ish international number: '+' then 7-15 digits, first
    # nonzero (bounded form — no separators, no lookaround)
    "e164": r"\+[1-9][0-9]{6,14}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
    # IBAN shape: country code + 2 check digits + 11-30 alphanumerics
    # (ISO 13616 length envelope 15-34); uppercase only, as printed
    "iban": r"[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}",
}


def pii_count(col: Column, kind: str) -> Column:
    """Occurrences of one PII pattern (before redaction). NULL
    PROPAGATES here (NULL text → NULL count) — these low-level
    expressions are oracle-pinned as-is; the NULL=empty-document
    contract is applied by the spec processor surface
    (operators/llm.redact_pii_processor coalesces first, so a clean
    corpus filter like ``n_email = 0`` keeps NULL-text docs)."""
    return F.size(F.regexp_extract_all(col, F.lit(PII_PATTERNS[kind]), F.lit(0)))


def redact_pii(col: Column) -> Column:
    """Replace every PII match with its <KIND> token, in PII_PATTERNS
    order. Pure codegen regexp_replace chain — map-only, the standard
    pre-training scrub pass. NULL propagates (see pii_count)."""
    out = col
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{kind.upper()}>")
    return out


def dup_ngram_fraction(col: Column, n: int = 3) -> Column:
    """Fraction of word n-grams that are repeats within the document
    (1 - distinct/total) — the Gopher-style intra-doc repetition
    signal ('duplicate n-grams' family). 0 when fewer than n tokens.
    NULL text is the empty document.

    One codegen expression, linear in the token count, no lambda HOF:
    with ``m = size(toks) - (n-1)`` grams, the n shifted views
    ``slice(toks, k, m)`` for k = 1..n zip into m structs (gram i =
    tokens i..i+n-1), each cast to one string, and the fraction is
    ``1 - size(array_distinct(...)) / m``. Below n tokens the views
    are clamped to length 1 and zip into one (null-padded) struct, so
    the same formula reads 1 - 1/1 = 0. Having no CASE branch lets a
    project's codegen split the text once per row (8 times with a
    ``when(m <= 0, 0.0)`` guard, n = 3); a filter's codegen has no
    common-subexpression step and splits it once per reference.

    The string form is exact: ``\\s+`` tokens never contain a space
    and the struct-to-string cast joins fields with ``", "``, so two
    gram strings are equal exactly when their token tuples are — the
    same distinct set as ``{tuple(toks[i:i+n])}``. It is also what
    keeps the distinct step linear: ``array_distinct`` hashes strings,
    but over structs it falls back to pairwise compares, O(m²) —
    measured 35 s on 4 docs of 50k tokens (4 cores), against 0.3 s
    warm for the strings."""
    toks = tokenize(col)
    m = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    grams = F.arrays_zip(
        *[F.slice(toks, k, m) for k in range(1, n + 1)]
    ).cast("array<string>")
    return F.lit(1.0) - F.size(F.array_distinct(grams)) / m.cast("double")


def common_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 5,
    max_passages: int | None = 1000,
) -> DataFrame:
    """Cross-document repeated passages: word n-grams appearing in at
    least ``min_docs`` DISTINCT documents — the boilerplate /
    contamination-passage audit (the cross-doc cousin of the intra-doc
    ``dup_ngram_fraction``; cf. the exact-substring dedup literature).

    Returns (passage, n_docs, example_doc) ordered by (n_docs desc,
    passage) with an optional ``max_passages`` cap.

    Scale: explode is map-side (tokens × docs rows, no state);
    ``array_distinct`` BEFORE the explode collapses intra-doc repeats
    so a pathological doc contributes each passage once; the single
    shuffle keys on the passage text (content-uniform except for true
    boilerplate — exactly the rows we want to surface, and a count
    aggregate over a hot key is partial-agg-absorbed, unlike a join).
    The cap compiles to TakeOrderedAndProject, not a global sort.
    """
    from .similarity import ensure_parallelism

    # the n-gram construction is the expensive map side; a small corpus
    # read as 1-2 parquet splits would run it on 1-2 cores (measured
    # 27.5 s of a 29.9 s sf1 wall on 2 tasks) — fan out first, no-op at
    # real scale where splits already exceed core count
    df = ensure_parallelism(df)
    exploded = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(ngrams(F.col(text_col), n))).alias("passage"),
    )
    agg = (
        exploded.groupBy("passage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),  # distinct by construction
            F.min("_id").alias("example_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )
    ordered = agg.orderBy(F.desc("n_docs"), F.asc("passage"))
    return ordered.limit(max_passages) if max_passages else ordered


# Gopher rule-filter stopword list (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", appendix A1.1 — public paper; reference repo has
# no quality filtering, this is the §2.5 LLM-pipeline layer)
GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mwl: float = 3.0,
    max_mwl: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_ratio: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher-style quality rule filter: the published rule battery
    (word-count bounds, mean-word-length bounds, symbol-to-word ratio,
    bullet/ellipsis line ratios, alpha-word ratio, required-stopword
    hits) with per-rule measurements plus the conjunction verdict.

    Pure Catalyst expressions — map-only, whole-stage codegen, no
    shuffle; scales embarrassingly at 100 TB. All ratios are exact
    int/int double divisions, identical in the DuckDB oracle, so the
    pass verdict is engine-stable without rounding games.
    """
    c = F.col(text_col)
    toks = tokenize(c)
    n_words = token_count(c)
    nw = n_words.cast("double")
    mwl = mean_word_len(c)
    # Gopher counts '#' and ellipsis as "symbols"; both regexes are
    # non-overlapping leftmost matches in Java and RE2 alike
    symbols = F.size(F.regexp_extract_all(c, F.lit(r"#|\.\.\.|…"), F.lit(0)))
    symbol_ratio = F.when(n_words == 0, F.lit(0.0)).otherwise(symbols / nw)
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    alpha_ratio = F.when(n_words == 0, F.lit(0.0)).otherwise(alpha / nw)
    stops = F.array(*[F.lit(w) for w in GOPHER_STOPS])
    stop_hits = F.size(F.array_intersect(tokenize(F.lower(c)), stops))
    # NULL=empty-document contract: without the coalesce a NULL text
    # gave NULL lines -> NULL bullet/ellipsis ratios (the other ratios
    # are n_words==0-guarded) and report-level averages silently
    # skipped those docs; now split('') = [''] -> ratios 0.0 (oracle
    # synced)
    lines = F.split(F.coalesce(c, F.lit("")), r"\n")
    n_lines = F.size(lines).cast("double")
    bullet_ratio = (
        F.size(F.filter(lines, lambda l: F.trim(l).rlike(r"^[-*•]"))) / n_lines
    )
    ellipsis_ratio = (
        F.size(F.filter(lines, lambda l: F.trim(l).rlike(r"(\.\.\.|…)$"))) / n_lines
    )
    passes = (
        n_words.between(min_words, max_words)
        & mwl.between(min_mwl, max_mwl)
        & (symbol_ratio <= max_symbol_ratio)
        & (bullet_ratio <= max_bullet_ratio)
        & (ellipsis_ratio <= max_ellipsis_ratio)
        & (alpha_ratio >= min_alpha_ratio)
        & (stop_hits >= min_stop_hits)
    )
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        stop_hits.alias("stop_hits"),
        F.round(bullet_ratio, 6).alias("bullet_ratio"),
        F.round(ellipsis_ratio, 6).alias("ellipsis_ratio"),
        passes.cast("int").alias("passes"),
    )


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
    min_ratio: float = 0.30,
    max_ratio: float = 0.95,
) -> DataFrame:
    """zlib compression-ratio quality signal: compressed_bytes /
    utf8_bytes per document. Highly repetitive / templated text
    compresses far below ~0.3; random or binary-ish text sits near or
    above 1.0 — both are flagged, the standard cheap proxy used
    alongside perplexity filters in web-corpus curation (CCNet /
    MassiveText lineage).

    The only Python in this family: an Arrow-batched pandas UDF (zlib
    is a C extension, so the per-row cost is the DEFLATE pass itself).
    Map-only, no shuffle, linear — scales embarrassingly. DuckDB has
    no DEFLATE, so zlib_bytes itself has no SQL oracle; fixed-vector
    unit tests pin it, and the driver row checks everything AROUND it
    (exact n_bytes, ratio/flag self-consistency, the DEFLATE envelope
    bound — r15 verdict #6).
    """
    # only the DEFLATE length crosses into Python; byte count, ratio,
    # and the flag stay JVM-side codegen
    @F.pandas_udf("long")
    def _zlen(s: pd.Series) -> pd.Series:
        import zlib

        return s.map(lambda t: len(zlib.compress((t or "").encode("utf-8"), level)) if t else 0)

    from nekton_spark.functions.similarity import ensure_parallelism

    # fan out below the DEFLATE pass (r15 opt): 1-split input would
    # run it on one task; no-op at scale and on streams
    df = ensure_parallelism(df)
    # engine-wide NULL-text contract: NULL = empty document (r15 —
    # previously NULL text produced NULL n_bytes/ratio here)
    n = F.octet_length(F.coalesce(F.col(text_col), F.lit("")))
    out = df.select(
        F.col(id_col),
        n.alias("n_bytes"),
        _zlen(F.col(text_col)).alias("zlib_bytes"),
    )
    r = F.when(F.col("n_bytes") == 0, F.lit(0.0)).otherwise(
        F.round(F.col("zlib_bytes") / F.col("n_bytes"), 6)
    )
    out = out.withColumn("ratio", r)
    return out.withColumn(
        "flagged",
        F.when(F.col("n_bytes") == 0, F.lit(0)).otherwise(
            ((F.col("ratio") < min_ratio) | (F.col("ratio") > max_ratio)).cast("int")
        ),
    )


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "norm_text",
    form: str = "NFC",
    lowercase: bool = True,
    collapse_ws: bool = True,
) -> DataFrame:
    """Unicode-normalize a text column for dedup/matching prep: NFC
    canonical composition (a decomposed ``nai + combining-diaeresis +
    ve`` and the precomposed ``naïve`` become byte-identical — without
    it every hash/shingle/fingerprint operator treats them as
    different documents), then optional lowercase and whitespace
    collapse (``\\s+`` → one space, ends trimmed).

    The NFC step is the one Arrow-batched Python stage (Spark SQL has
    no Unicode normalizer built in; ``unicodedata.normalize`` and
    DuckDB's ``nfc_normalize`` both implement UAX#15 canonical
    composition, so the oracle replays it exactly); lowercase and the
    whitespace collapse stay JVM-side. Map-only, zero shuffles.
    Only ``form="NFC"`` is supported — it is the one form the SQL
    oracle can replay (DuckDB ships no NFKC/NFD), and the compatibility
    forms are lossy normalizations a curation pipeline should opt into
    deliberately, not silently.
    """
    if form != "NFC":
        raise ValueError(f"only NFC is supported, got {form!r}")

    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    from nekton_spark.functions.similarity import ensure_parallelism

    col = _nfc(F.col(text_col))
    if lowercase:
        col = F.lower(col)
    if collapse_ws:
        col = F.trim(F.regexp_replace(col, r"\s+", " "))
    # fan out below the NFC pass (r15 opt): 1-split input would run
    # it on one task; no-op at scale and on streams
    return ensure_parallelism(df).withColumn(out_col, col)


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    c = F.col(text_col)
    return df.select(
        "*",
        token_count(c).alias("n_tokens"),
        bpe_token_count(c).alias("n_bpe_tokens"),
        F.round(punct_ratio(c), 6).alias("punct_ratio"),
        F.round(repetition_ratio(c), 6).alias("repetition_ratio"),
        F.round(mean_word_len(c), 6).alias("mean_word_len"),
        quality_score(c).alias("quality"),
        lang_id(c).alias("lang_guess"),
        fingerprint(c).alias("fp"),
    )


def top_tokens(
    df: DataFrame,
    k: int = 50,
    text_col: str = "text",
    tokenize_policy: str = "word",
) -> DataFrame:
    """Corpus vocabulary head: (token, n, rank), top-k by count with
    deterministic ties (count desc, token asc).

    The explode is map-only; the count aggregates map-side first, so
    the shuffle carries one row per distinct token per partition —
    bounded by vocabulary, not corpus, size. The k-selection is
    orderBy().limit(k) — TakeOrderedAndProject, i.e. per-partition
    partial top-k merged on one task, never a full single-reducer sort
    of the vocabulary — and the rank window afterwards sees only the k
    surviving rows, so its single partition is bounded by k."""
    from pyspark.sql import Window

    counts = (
        df.select(
            F.explode(tokenize(F.col(text_col), tokenize_policy)).alias(
                "token"
            )
        )
        .filter(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    order = [F.desc("n"), F.asc("token")]
    return (
        counts.orderBy(*order)
        .limit(k)
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)))
    )


# sentence boundary: terminal punctuation (optionally closed by a
# quote/bracket), whitespace, then an uppercase/digit (optionally
# opened by a quote/bracket) start — guarded against the common
# abbreviations (bounded variable-length lookbehind, which Java regex
# allows; this is a JVM-side expression, NOT replayable in RE2, so the
# driver row's oracle replays a closed-form synth instead).
#
# The guard list is exported so the property test walks it: every
# entry, followed by '.' and a capital/digit, must NEVER split (r13
# verdict #7 widened the original 13-entry English list with the
# high-frequency multilingual/citation offenders: Nr., art., approx.,
# ca., cf., pp., Vol., U.S.).
SENTENCE_ABBREVIATIONS = [
    "Mr", "Dr", "Mrs", "Ms", "Prof", "St", "No", "vs", "etc", "Fig",
    "Jr", "Sr", "al", r"e\.g", r"i\.e",
    "Nr", "Art", "art", "approx", "Approx", "ca", "cf", "pp",
    "Vol", "vol", r"U\.S",
]
_SENTENCE_BOUNDARY = (
    r"(?<!\b(?:" + "|".join(SENTENCE_ABBREVIATIONS) + r")\.)"
    r"(?<=[.!?][\"')\]]?)\s+(?=[\"'(\[]?[A-Z0-9])"
)


def split_sentences(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "sentences",
) -> DataFrame:
    """Rule-based sentence segmentation — the granularity unit for
    chunking, span dedup and quotation audits. Splits on
    ``_SENTENCE_BOUNDARY`` (terminal punctuation + space + capital,
    abbreviation-guarded); NULL text follows the engine-wide contract
    (empty document → empty array). Pure codegen split, map-only, no
    Python."""
    t = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    arr = F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, _SENTENCE_BOUNDARY)
    )
    return df.withColumn(out_col, arr).withColumn(
        "n_sentences", F.size(out_col)
    )


def synth_sentence_text(df: DataFrame, key_col: str = "doc_id") -> DataFrame:
    """Deterministic multi-sentence paragraph per key — five
    sentences with every boundary feature (period/bang/question, a
    quoted start) and FOUR guarded abbreviations that must not split
    (Dr., plus the r14 additions approx., No.-before-digit, U.S. and
    Nr.): the driver row's oracle rebuilds the exact sentence array."""
    key = F.col(key_col).cast("string")
    txt = F.concat(
        F.lit("Alpha "), key,
        F.lit(". Beta approx. "), key,
        F.lit(" No. "), (F.col(key_col) % 7).cast("string"),
        F.lit("! Dr. Smith said "), key,
        F.lit('? "Quoted '), key,
        F.lit('." End U.S. Nr. '),
        (F.col(key_col) % 9).cast("string"), F.lit("."),
    )
    return df.withColumn("text", txt)


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer: str = "whitespace",
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Sliding-window chunking for RAG/embedding prep: one row per
    chunk of ``chunk_tokens`` whitespace tokens, consecutive chunks
    overlapping by ``overlap`` (stride = chunk_tokens - overlap).
    Chunks start at offsets 0, stride, 2·stride, …; the last window is
    the first to reach the end of the doc (shorter tail kept, not
    padded); empty docs yield no chunks. Returns (doc_id, chunk_idx,
    n_chunks, chunk_n_tokens, chunk_text).

    Map-only — tokenize, a per-row ``sequence`` explode, and a slice
    per chunk; zero shuffles, trivially 100 TB-safe, and every
    boundary is integer arithmetic a SQL oracle replays exactly.

    ``tokenizer="bpe"`` (with a ``merges`` table, default
    ``bpe.STD_MERGES``) windows the document's trained-BPE token id
    stream instead: identical boundary arithmetic over ``bpe_ids``,
    output column ``chunk_ids`` (the token id slice — what an LLM
    pipeline actually feeds) replacing ``chunk_text``; only the
    vocabulary-bounded encode join precedes the map-only chunking."""
    if overlap >= chunk_tokens:
        raise ValueError(
            f"overlap={overlap} must be < chunk_tokens={chunk_tokens}: "
            "stride would be <= 0 and chunking would never advance"
        )
    if tokenizer not in ("whitespace", "script", "bpe"):
        raise ValueError(f"unknown tokenizer {tokenizer!r}")
    stride = chunk_tokens - overlap
    if tokenizer == "bpe":
        from .bpe import STD_MERGES, bpe_encode

        enc = bpe_encode(df, STD_MERGES if merges is None else merges,
                         text_col, id_col)
        n_chunks = F.when(F.col("n_bpe") <= 0, F.lit(0)).otherwise(
            F.lit(1)
            + F.floor(
                (F.greatest(F.col("n_bpe") - chunk_tokens, F.lit(0))
                 + F.lit(stride - 1)) / stride
            ).cast("long")
        )
        base = enc.select(
            F.col(id_col).alias("doc_id"),
            F.col("bpe_ids").alias("_toks"),
            n_chunks.cast("long").alias("n_chunks"),
        ).filter(F.col("n_chunks") > 0)
        chunk = F.slice(
            F.col("_toks"), F.col("chunk_idx") * stride + 1, chunk_tokens
        )
        return (
            base.select(
                "doc_id",
                "_toks",
                "n_chunks",
                F.explode(
                    F.sequence(F.lit(0), F.col("n_chunks") - 1)
                ).alias("chunk_idx"),
            )
            .select(
                "doc_id",
                "chunk_idx",
                "n_chunks",
                F.size(chunk).cast("long").alias("chunk_n_tokens"),
                chunk.alias("chunk_ids"),
            )
        )
    policy = "script" if tokenizer == "script" else "word"
    toks = tokenize(F.col(text_col), policy)
    n = token_count(F.col(text_col), policy)
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.lit(1)
        + F.floor(
            (F.greatest(n - chunk_tokens, F.lit(0)) + F.lit(stride - 1)) / stride
        ).cast("long")
    )
    base = df.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("_toks"),
        n_chunks.cast("long").alias("n_chunks"),
    )
    chunk = F.slice(F.col("_toks"), F.col("chunk_idx") * stride + 1, chunk_tokens)
    # n_chunks = 0 must be filtered BEFORE the explode: Spark's
    # sequence(0, -1) is a DESCENDING [0, -1], not empty — an empty doc
    # would silently emit two bogus chunks
    base = base.filter(F.col("n_chunks") > 0)
    return (
        base.select(
            "doc_id",
            "_toks",
            "n_chunks",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            "n_chunks",
            F.size(chunk).cast("long").alias("chunk_n_tokens"),
            F.concat_ws(" ", chunk).alias("chunk_text"),
        )
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenize_policy: str = "word",
) -> DataFrame:
    """Per-document mean unigram log-likelihood under the corpus's OWN
    unigram distribution: avg over tokens of ln(count(token)/total) —
    the classic cheap LM-quality proxy (gibberish and rare-token docs
    score low; boilerplate scores high). Returns (doc_id, n_tokens,
    mean_logprob); empty docs are excluded (no tokens, no likelihood).

    100 TB shape: token explode is map-only; the frequency table
    partial-aggregates to vocabulary size (shuffle 1); the total is a
    broadcast 1-row aggregate (no driver action); the frequency join
    keys on token (AQE broadcasts when the vocabulary fits); the
    per-doc mean partial-aggregates on doc_id (shuffle 2)."""
    toks = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokenize(F.col(text_col), tokenize_policy)).alias(
                "token"
            ),
        )
        .filter(F.length("token") > 0)
    )
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_tok"))
    total = freq.agg(F.sum("n_tok").alias("total"))
    return (
        toks.join(freq, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.log(F.col("n_tok") / F.col("total"))), 6).alias(
                "mean_logprob"
            ),
        )
    )


def bm25_topk(
    df: DataFrame,
    queries_df: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    tokenize: str = "word",
) -> DataFrame:
    """Okapi BM25 top-k retrieval over the corpus: for each query,
    the k best documents by sum over the query's DISTINCT terms of

        idf(t) * tf(t,d) * (k1+1) / (tf(t,d) + k1*(1 - b + b*dl/avgdl))

    with the Lucene-style non-negative idf = ln(1 + (N - df + 0.5) /
    (df + 0.5)). Returns (query_id, doc_id, score, rank), ties broken
    deterministically (score desc, doc_id asc); scores rounded to 6 dp.
    This is the retrieval primitive for RAG corpus curation (find the
    passages a query set would surface) and for contamination triage.

    100 TB shape (all codegen, no Python): the query set is small by
    construction (it's a query WORKLOAD, not a table), so the posting
    stream is cut to query terms by a broadcast semi-join BELOW the tf
    aggregation — the one data-scale shuffle carries only matching
    postings, never the corpus vocabulary. Per-doc length is map-only
    (size of the token array, carried alongside each posting — no
    second explode, no doc-keyed shuffle, no corpus-side join); term
    df is a count window over the tf frame (postings are distinct
    (doc, term) rows, so the partition count IS the doc frequency); N
    and avgdl enter as a broadcast 1-row map-only aggregate (no
    driver action). The scored frame is bounded by (matching postings
    × queries), partial-aggregated on (query, doc) before the final
    per-query top-k rank window, which never globally sorts."""
    from pyspark.sql import Window

    from nekton_spark.functions.similarity import ensure_parallelism

    # fan out BELOW the tokenizer: a small corpus reads as one parquet
    # split and the regex split would run single-task (no-op at scale)
    toks_all = ensure_parallelism(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    ).select(
        "doc_id",
        F.filter(
            _tokenize_col(F.col(text_col), tokenize),
            lambda t: F.length(t) > 0,
        ).alias("_toks"),
    )
    # N and avgdl over docs with >= 1 token — identical to the
    # explode+groupBy census (a zero-token doc produced no exploded
    # rows there, and is excluded by the dl > 0 gate here)
    stats = (
        toks_all.select(F.size("_toks").alias("dl"))
        .filter(F.col("dl") > 0)
        .agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    )
    qterms = (
        queries_df.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(_tokenize_col(F.col(query_text_col), tokenize)).alias("token"),
        )
        .filter(F.length("token") > 0)
        .distinct()
    )
    qtok = qterms.select("token").distinct()
    tf = (
        toks_all.select(
            "doc_id",
            F.size("_toks").alias("dl"),
            F.explode("_toks").alias("token"),
        )
        .join(F.broadcast(qtok), "token", "leftsemi")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    # term df as a tiny aggregate + broadcast join (r16, r15 verdict
    # #5): postings are distinct (doc, term) rows, so COUNT per token
    # IS the doc frequency. The r15 plan computed it as a count window
    # over the tf frame — an Exchange(token) + Sort over every
    # matching posting. Now: pin tf once (it is bounded by MATCHING
    # postings — the broadcast semi-join already cut the corpus — so
    # the pin is workload-scale, not corpus-scale), aggregate df from
    # the pinned frame (map-side partial collapses to ≤ |query terms|
    # rows per task; the final agg is |query terms| rows, broadcastable
    # by construction), and broadcast-join it back — the posting
    # stream is never re-shuffled or sorted by token. The pin is
    # load-bearing: without it the df branch re-derives the whole
    # corpus scan + tokenize + explode subtree (measured — column
    # pruning drops first(dl) from the df branch's partial aggregate,
    # so the two tf exchanges differ and AQE exchange reuse never
    # fires; the 'after' final plan had 6 corpus scans vs 4).
    tf = tf.transform(materialize)
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .join(F.broadcast(qterms), "token")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "term_score",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            )
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("term_score"), 6).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 5,
    k0: int = 60,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Büttcher 2009 —
    public method) of two per-query ranked lists: rrf_score(q, d) =
    Σ over the lists containing (q, d) of 1/(k0 + rank). The standard
    score-free way to fuse a lexical (BM25) and a vector (ANN) leg
    into one hybrid retrieval ranking — no score normalization across
    incomparable scales, just ranks. Returns (query_id, doc_id,
    rrf_score, rank) top-k per query, ties → smaller doc id; scores
    rounded to 6 dp (the two reciprocal terms are fixed-order IEEE
    ops, identical in any engine).

    100 TB shape: both inputs are per-query TOP-K lists, so every
    frame here is bounded at |queries|·k rows whatever the corpus
    size — the full-outer join and the final rank window are
    workload-scale, not data-scale (the heavy lifting happened inside
    each leg, which carries its own scale story)."""
    from pyspark.sql import Window

    ra = ranked_a.select(query_col, doc_col, F.col(rank_col).alias("_ra"))
    rb = ranked_b.select(query_col, doc_col, F.col(rank_col).alias("_rb"))
    fused = ra.join(rb, [query_col, doc_col], "full_outer")
    score = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("_ra")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("_rb")), F.lit(0.0)),
        6,
    )
    w = Window.partitionBy(query_col).orderBy(
        F.desc("rrf_score"), F.asc(doc_col)
    )
    return (
        fused.select(query_col, doc_col, score.alias("rrf_score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def bigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean bigram log-likelihood under the corpus's own
    add-one-smoothed bigram model: avg over a doc's bigrams of
    ln((C(w1,w2) + 1) / (C1(w1) + V)), where C1 counts w1 as a bigram
    PREFIX (so the conditional sums to 1) and V is the vocabulary
    size. The step up from `unigram_logprob` as an LM-quality proxy:
    shuffled-token gibberish scores low even when its unigram
    distribution is corpus-typical. Docs with < 2 tokens are excluded
    (no bigrams). Returns (doc_id, n_bigrams, mean_logprob), 6 dp.

    100 TB shape: bigrams come from zipping the token array with its
    own tail — map-only, no self-join; bigram counts partial-aggregate
    to distinct-bigram size (shuffle 1); prefix counts reuse the token
    explode (shuffle 2, vocabulary-sized); V is a broadcast 1-row
    aggregate; the count joins key on the bigram/prefix (AQE
    broadcasts the vocabulary side when it fits); the per-doc mean
    partial-aggregates on doc_id (shuffle 3)."""
    toks = df.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("_toks")
    ).filter(F.size("_toks") >= 2)
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("_toks"), 1, F.size("_toks") - 1),
                F.slice(F.col("_toks"), 2, F.size("_toks") - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bigram"),
    )
    bg_counts = bigrams.groupBy("bigram").agg(F.count(F.lit(1)).alias("c2"))
    prefix = bigrams.select(
        F.substring_index(F.col("bigram"), " ", 1).alias("w1")
    )
    p_counts = prefix.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        df.select(F.explode(tokenize(F.col(text_col))).alias("token"))
        .filter(F.length("token") > 0)
        .agg(F.count_distinct("token").alias("v"))
    )
    return (
        bigrams.join(bg_counts, "bigram")
        .withColumn("w1", F.substring_index(F.col("bigram"), " ", 1))
        .join(p_counts, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(F.log((F.col("c2") + F.lit(1.0)) / (F.col("c1") + F.col("v")))),
                6,
            ).alias("mean_logprob"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenize_policy: str = "word",
) -> DataFrame:
    """Per-document top-k TF-IDF terms: (doc_id, token, tf, df, tfidf,
    rank), with idf = ln((N + 1) / (df + 1)) (add-one smoothed, N =
    corpus document count) and deterministic ties (tfidf desc, token
    asc). The relevance-weighting primitive for keyword extraction /
    quality features over the documents table.

    100 TB shape (all codegen, no Python): the explode is map-only;
    per-(doc, token) counts partial-aggregate map-side (shuffle 1 is
    bounded by distinct doc-term pairs); document frequency reuses
    that output, shuffling one row per distinct doc-term pair down to
    one per term (shuffle 2, vocabulary-sized); N comes from a 1-row
    aggregate cross-joined in (broadcast, no driver action, no
    collect); the df join keys on term (AQE broadcasts the vocabulary
    side when it fits, shuffle otherwise); the final per-doc top-k is
    a rank window partitioned by doc — thousands of rows per
    partition at most, never a global sort."""
    from pyspark.sql import Window

    toks = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokenize(F.col(text_col), tokenize_policy)).alias(
                "token"
            ),
        )
        .filter(F.length("token") > 0)
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "token", "tf", "df", "tfidf", "rank")
    )


def remove_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 5,
    sep: str = "\n",
    small_set_max: int = 65536,
) -> DataFrame:
    """Line-level boilerplate REMOVAL — the write-side companion of
    :func:`common_passages`: strip every line whose normalized form
    appears in at least ``min_docs`` distinct documents (nav bars,
    cookie banners, license footers — the C4/RefinedWeb line-dedup
    step). Returns (doc_id, text, n_lines, n_removed) with the
    surviving lines rejoined by ``sep`` in their original order; docs
    whose every line is boilerplate keep their row with empty text.

    100 TB shape: mining is one map-side explode (``array_distinct``
    first, so a pathological doc votes once per line) + one
    content-keyed count aggregate (partial-agg absorbs hot boilerplate
    keys — the only hot keys are exactly the lines being flagged).
    The rewrite then auto-picks by flagged-set size (the mined frame is
    tiny, so counting it is cheap; same engine-default-with-replay
    posture as the LSH auto width):

    - ``<= small_set_max`` flagged lines: the set rides back as a
      broadcast 1-row array and the rewrite is a pure per-row array
      filter — NO second shuffle. The per-line membership scan is
      linear in the array but measured negligible against the line
      construction + mining base cost (sf1 head-to-head: 9.4 s with an
      empty set vs 9.7 s at 2.2k flagged lines), so the gate is set
      high — it exists for the regime where the flagged ARRAY itself
      is too large to evaluate per row, not for scan speed.
    - larger sets: posexplode → broadcast HASH join on the normalized
      line (O(1) probes) → one doc-keyed regroup (uniform keys),
      order restored by sorting on the kept line positions. Every doc
      keeps its row (the flag is carried through the regroup, not
      filtered before it), so no restore join is needed. Measured
      slower at moderate sizes (16.8 s vs 9.7 s on the same sf1 run —
      the regroup shuffle outweighs the scan) but |flagged|-flat.

    Both paths produce identical output; ``min_docs`` still bounds the
    broadcast either way.
    """
    # NULL text = empty document (engine-wide contract): one empty
    # line, never flagged, rejoined to '' — the row survives
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), _sep_pattern(sep))
    mined = (
        df.select(
            F.explode(
                F.array_distinct(F.transform(lines, lambda l: normalize(l)))
            ).alias("k")
        )
        .filter(F.col("k") != "")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_docs"))  # distinct by construction
        .filter(F.col("n_docs") >= min_docs)
        .select("k")
        .transform(materialize)  # tiny; both rewrite paths reuse it
    )
    n_mined = mined.count()
    if n_mined <= small_set_max:
        # collect_list over zero rows still yields one row with [] from
        # a global aggregate, so an all-clean corpus passes through.
        # r15 opt: the flagged set is SHARDED (map<shard, array<k>>) —
        # array_contains is a linear scan, so the flat array cost
        # O(lines × |flagged|) per evaluation; ~2√n compares after
        # sharding, identical results (see dedup_lines_keep_first).
        s = _shard_count(n_mined)

        def _shard_of(key):
            return F.pmod(F.xxhash64(key), F.lit(s)).cast("int")

        bl = mined.agg(F.array_sort(F.collect_list("k")).alias("_e")).select(
            F.map_from_entries(
                F.transform(
                    F.sequence(F.lit(0), F.lit(s - 1)),
                    lambda sh: F.struct(
                        sh.cast("int").alias("s"),
                        F.filter(
                            F.col("_e"),
                            lambda k: _shard_of(k) == sh.cast("int"),
                        ).alias("a"),
                    ),
                )
            ).alias("_bl")
        )

        def drop_line(l):
            kk = normalize(l)
            return F.coalesce(
                F.array_contains(F.element_at(F.col("_bl"), _shard_of(kk)), kk),
                F.lit(False),
            )

        # chained projections: each expensive array computed once per
        # row (see dedup_lines_keep_first's restructure note)
        p1 = df.crossJoin(F.broadcast(bl)).select(
            F.col(id_col).alias("doc_id"), lines.alias("_ls"), "_bl"
        )
        p2 = p1.select(
            "doc_id",
            "_ls",
            F.filter(F.col("_ls"), lambda l: ~drop_line(l)).alias("_kept"),
        )
        return p2.select(
            "doc_id",
            F.array_join("_kept", sep).alias("text"),
            F.size("_ls").alias("n_lines"),
            (F.size("_ls") - F.size("_kept")).alias("n_removed"),
        )
    exploded = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(lines).alias("pos", "line"),
    )
    joined = exploded.join(
        F.broadcast(mined.withColumn("_f", F.lit(1))),
        normalize(F.col("line")) == F.col("k"),
        "left",
    )
    arr = F.array_sort(
        F.collect_list(F.struct("pos", "line", F.col("_f").isNotNull().alias("drop")))
    )
    agg = joined.groupBy("doc_id").agg(arr.alias("_a"))
    kept2 = F.filter(F.col("_a"), lambda x: ~x["drop"])
    return agg.select(
        "doc_id",
        F.array_join(F.transform(kept2, lambda x: x["line"]), sep).alias("text"),
        F.size("_a").alias("n_lines"),
        (F.size("_a") - F.size(kept2)).alias("n_removed"),
    )


def dedup_lines_keep_first(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    sep: str = "\n",
    small_set_max: int = 65536,
) -> DataFrame:
    """Corpus-wide exact line dedup with the KEEP-FIRST rule — the C4
    (Raffel et al. 2020, §2.2) / RefinedWeb line-dedup step: of all
    occurrences of a duplicated line ANYWHERE in the corpus (across
    documents and within one), exactly the globally-first survives and
    every other occurrence is removed. Contrast
    :func:`remove_boilerplate_lines`, which strips EVERY occurrence of
    a ≥ ``min_docs``-document line (content is lost outright): here
    one copy of the text is always retained, which is the semantics a
    training pipeline wants for body text rather than nav chrome.

    Rules, all deterministic at any partitioning:

    - the dedup key is :func:`normalize` (lowercase + whitespace
      collapse + trim) of the line; lines normalizing to ``''`` are
      structural (blank separators) and are always kept, never deduped;
    - "first" = lexicographic-min ``(doc_id, pos)`` struct over the
      key — a total order (ids unique), so no window function and no
      tie to break;
    - ``min_count`` (default 2 = any duplicate) counts OCCURRENCES,
      not distinct documents — a line repeated 5× inside one document
      collapses to its first occurrence too (C4 counts occurrences;
      the boilerplate miner deliberately counts distinct docs);
    - every document keeps its output row (possibly with ``text=''``);
      NULL text = empty document (engine-wide contract).

    Returns (doc_id, text, n_lines, n_removed) with survivors rejoined
    by ``sep`` in original order.

    100 TB shape: mining is ONE content-keyed partial aggregate
    (map-side combine absorbs hot boilerplate keys — the only hot keys
    are the duplicated lines themselves) producing one
    ``(key, first)`` row per duplicated DISTINCT line. The rewrite
    auto-picks like :func:`remove_boilerplate_lines`: when the
    duplicated set fits ``small_set_max`` the keeper map rides back as
    a broadcast 1-row MAP column and the rewrite is a pure per-row
    index-aware array filter — ZERO extra shuffles; larger sets fall
    back to a shuffle equi-join on the line key (every occurrence of a
    mega-duplicated line meets a SINGLE dim row — AQE skew-split
    handles the probe side, and no window ever partitions by the
    skewed key) plus one doc-keyed regroup to restore order. The
    keeper needs no second pass: it is carried in the mined row
    itself.
    """
    if min_count < 2:
        # min_count=1 would "dedup" unique lines against themselves and
        # the keep-first rule would keep them all anyway — a caller bug
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), _sep_pattern(sep))
    exploded = df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(lines).alias("pos", "line")
    ).withColumn("k", normalize(F.col("line")))
    dups = (
        exploded.filter(F.col("k") != "")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.min(F.struct(F.col("doc_id").alias("d"), F.col("pos").alias("p"))).alias(
                "first"
            ),
        )
        .filter(F.col("n_occ") >= min_count)
        .select("k", "first")
        .transform(materialize)  # tiny-to-moderate; reused by count + join
    )
    n_dups = dups.count()
    if n_dups <= small_set_max:
        # the keeper MAP (key -> first (doc_id, pos)) rides back as a
        # broadcast 1-row map column and the rewrite is a pure per-row
        # index-aware array filter — NO second corpus shuffle (the
        # sibling's array path, upgraded to a per-key value compare).
        # r15 opt: the map is SHARDED two-level (shard -> inner map) —
        # element_at on MapType is a linear entry scan, so the flat map
        # cost O(lines × |dups|) per evaluation (measured 15.4 s at
        # sf0.1; ~2√|dups| compares after sharding). Built as pure
        # expressions over ONE global collect_list row, so the rewrite
        # plan stays at zero hash/range exchanges (plan-budget pin).
        s = _shard_count(n_dups)

        def _shard_of(key):
            return F.pmod(F.xxhash64(key), F.lit(s)).cast("int")

        m = dups.agg(F.collect_list(F.struct("k", "first")).alias("_e")).select(
            F.map_from_entries(
                F.transform(
                    F.sequence(F.lit(0), F.lit(s - 1)),
                    lambda sh: F.struct(
                        sh.cast("int").alias("s"),
                        F.map_from_entries(
                            F.filter(
                                F.col("_e"),
                                lambda e: _shard_of(e["k"]) == sh.cast("int"),
                            )
                        ).alias("m"),
                    ),
                )
            ).alias("_m")
        )

        def keep_line(l, i):
            kk = normalize(l)
            e = F.element_at(F.element_at(F.col("_m"), _shard_of(kk)), kk)
            # key absent (unique or structural line) -> comparison is
            # NULL -> coalesce keeps; present -> keep only the keeper
            # (runs after the p1 projection below, where id_col is
            # already aliased to doc_id). ONE struct equality, not
            # e.d==… & e.p==…: each field access would re-inline the
            # whole lookup chain (normalize + both map scans) — the
            # expression tree is duplicated per reference outside
            # codegen.
            return F.coalesce(
                e
                == F.struct(
                    F.col("doc_id").alias("d"), i.cast("int").alias("p")
                ),
                F.lit(True),
            )

        # chained projections so each expensive array is computed ONCE
        # per row: writing `lines` / `kept` twice inside one projection
        # duplicates the whole interpreted-HOF chain (no common-subexpr
        # elimination outside codegen), and CollapseProject will not
        # re-inline a non-cheap expression referenced more than once
        # (SPARK-36718). Measured 21.7 → 15.4 s per extra evaluation of
        # the flat-map filter at sf0.1 before this restructure.
        p1 = df.crossJoin(F.broadcast(m)).select(
            F.col(id_col).alias("doc_id"), lines.alias("_ls"), "_m"
        )
        p2 = p1.select(
            "doc_id",
            "_ls",
            F.filter(F.col("_ls"), keep_line).alias("_kept"),
        )
        return p2.select(
            "doc_id",
            F.array_join("_kept", sep).alias("text"),
            F.size("_ls").alias("n_lines"),
            (F.size("_ls") - F.size("_kept")).alias("n_removed"),
        )
    # large duplicated sets: shuffle equi-join on the line key (every
    # occurrence of a mega-duplicated line meets ONE dim row — AQE
    # skew-split owns the probe side) + one doc-keyed regroup
    keep = F.col("first").isNull() | (
        (F.col("doc_id") == F.col("first.d")) & (F.col("pos") == F.col("first.p"))
    )
    joined = exploded.join(dups, on="k", how="left")
    arr = F.array_sort(F.collect_list(F.struct("pos", "line", keep.alias("keep"))))
    agg = joined.groupBy("doc_id").agg(arr.alias("_a"))
    kept = F.filter(F.col("_a"), lambda x: x["keep"])
    return agg.select(
        "doc_id",
        F.array_join(F.transform(kept, lambda x: x["line"]), sep).alias("text"),
        F.size("_a").alias("n_lines"),
        (F.size("_a") - F.size(kept)).alias("n_removed"),
    )


def remove_repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document exact-substring SPAN removal — the write-side
    companion of :func:`common_passages` at the token-window grain
    (the exact-substring dedup of Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better" — public paper; the
    suffix-array formulation there finds maximal repeats, this is the
    fixed-window n-gram variant that distributes as joins).

    A word ``n``-gram occurring in at least ``min_docs`` DISTINCT
    documents is a repeated span; the document with the SMALLEST id
    containing it is its keeper (the dedup family's keeper rule) and
    keeps every occurrence; every other document has all its
    occurrences removed. Overlapping flagged windows union into one
    covered region, so runs of boilerplate longer than ``n`` tokens
    are removed whole. Returns (doc_id, clean_text, n_tokens,
    n_removed) — clean_text is the surviving tokens rejoined by a
    single space IN ORDER (whitespace is normalized as a side effect,
    the same contract as the tokenize-rebuild operators); every doc
    keeps its row, empty/NULL docs pass through as ''.

    100 TB shape: the corpus is scanned twice map-side (mining and
    position streams — both token-window explodes, no cached
    token-array materialization since re-tokenizing is cheaper than
    persisting a tokens column at this scale). Mining is one
    content-keyed count aggregate (``array_distinct`` first: one vote
    per doc, partial-agg absorbs hot boilerplate keys). The hit join
    keys on the gram text against a 1-row-per-gram flagged relation —
    no multiplicity blowup, and a globally-hot gram is an AQE
    skew-split candidate (plain join, no order dependence). Coverage
    is one doc-keyed regroup (uniform keys) whose state is the hit
    positions only, O(hits·n) ints, not the text. The final left join
    re-keys on doc_id. Nothing is all-pairs and no driver state
    exists at any corpus size.
    """
    from .similarity import ensure_parallelism

    docs = ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        tokenize(F.col(text_col)).alias("toks"),
        token_count(F.col(text_col)).alias("n_tokens"),
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.col("n_tokens") - n),
        lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i + 1, n)),
    )
    flagged = (
        docs.filter(F.col("n_tokens") >= n)
        .select("doc_id", F.explode(F.array_distinct(grams)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_docs") >= min_docs)
        .select("gram", "keeper")
    )
    pos = (
        docs.filter(F.col("n_tokens") >= n)
        .select(
            "doc_id",
            F.posexplode(grams).alias("pos", "gram"),
        )
    )
    covered = (
        pos.join(flagged, "gram")
        .filter(F.col("doc_id") != F.col("keeper"))
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.array_distinct(
                    F.flatten(
                        F.collect_list(F.sequence(F.col("pos"), F.col("pos") + (n - 1)))
                    )
                )
            ).alias("covered")
        )
    )
    cov = F.coalesce(F.col("covered"), F.array().cast("array<int>"))
    kept = F.filter("toks", lambda x, i: ~F.array_contains(cov, i))
    return docs.join(covered, "doc_id", "left").select(
        "doc_id",
        F.concat_ws(" ", kept).alias("clean_text"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.size(cov).cast("long").alias("n_removed"),
    )


def classifier_score(
    df: DataFrame,
    weights: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 4100,
) -> DataFrame:
    """Linear bag-of-words quality-classifier scoring — the serving
    half of the fastText/DataComp-style learned quality filter: score =
    mean token weight, label = score > 0. ``weights`` is a
    (token, weight_milli) frame of TRAINED integer milli-weights
    (broadcast-joined); without one, deterministic hash-derived
    placeholder weights in [-1, 1] stand in so the full scoring path is
    exercised end-to-end (clearly a placeholder — training happens
    offline, this operator is inference).

    Engine-exactness: per-token weights are INTEGERS (milli-units,
    hash60 mod 2001 - 1000 in placeholder mode), summed as longs —
    no float accumulation order to disagree on — and divided once at
    the end, so the DuckDB oracle replays scores bit-for-bit.

    100 TB shape: placeholder mode is map-only codegen (hash the token
    in-row, aggregate the array — zero shuffles, zero Python); trained
    mode is one explode + broadcast join on the (small, vocabulary-
    sized) weight table + one doc-keyed partial-agg'd count — the
    standard serving plan for linear text classifiers at scale.
    """
    toks = tokenize(F.col(text_col))
    if weights is None:
        w = lambda t: (hash60(t, seed) % 2001 - 1000).cast("long")  # noqa: E731
        nonempty = F.filter(toks, lambda t: F.length(t) > 0)
        wsum = F.aggregate(
            nonempty, F.lit(0).cast("long"), lambda acc, t: acc + w(t)
        )
        # the denominator counts the SAME token set the sum runs over
        # (empties filtered): a bare token_count also counts the
        # empty-string artifact a space-only trim leaves before a
        # leading newline, silently skewing the mean — caught by the
        # randomized-corpus oracle harness, invisible on the driver
        # corpus (no leading whitespace there)
        n = F.size(nonempty)
        score = F.when(n == 0, F.lit(0.0)).otherwise(
            wsum.cast("double") / (F.lit(1000.0) * n)
        )
        # no rounding: ws and n are integers, so the score is ONE IEEE
        # division of exact operands — bit-identical across engines,
        # whereas round(x, 6) half-cases differ between Spark and DuckDB
        return df.select(
            F.col(id_col).alias("doc_id"),
            n.alias("n_tokens"),
            score.alias("clf_score"),
            (score > 0).cast("int").alias("clf_label"),
        )
    tok_rows = df.select(
        F.col(id_col).alias("doc_id"), F.explode(toks).alias("token")
    ).filter(F.length("token") > 0)
    joined = tok_rows.join(F.broadcast(weights), "token", "left")
    agg = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.coalesce(F.col("weight_milli"), F.lit(0)).cast("long")).alias("_ws"),
    )
    score = F.col("_ws").cast("double") / (F.lit(1000.0) * F.col("n_tokens"))
    scored = agg.select(
        "doc_id",
        "n_tokens",
        score.alias("clf_score"),
        (score > 0).cast("int").alias("clf_label"),
    )
    # docs with zero tokens never explode a row — restore them at 0
    empties = df.select(F.col(id_col).alias("doc_id")).join(
        scored.select("doc_id"), "doc_id", "left_anti"
    )
    return scored.unionByName(
        empties.select(
            "doc_id",
            F.lit(0).alias("n_tokens"),
            F.lit(0.0).alias("clf_score"),
            F.lit(0).alias("clf_label"),
        )
    )


def token_length_histogram(
    df: DataFrame,
    bin_width: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Token-length distribution: (bin_lo, bin_hi, n_docs, frac) with
    fixed-width bins — the dataset-card statistic every corpus release
    publishes, and the input to sequence-length-aware packing/batching
    decisions. frac is n_docs over the corpus total.

    100 TB shape: one map-side token count per doc (codegen), one
    partial-aggregated shuffle on the (tiny, bounded) bin key, and the
    corpus total DERIVED from the bin table (sum over O(bins) rows) —
    a first cut aggregated `binned` separately for the total, which
    re-ran the corpus scan and the token_count chain a second time.
    frac is one IEEE division of two exact longs, engine-stable
    without rounding."""
    if bin_width <= 0:
        raise ValueError(f"bin_width must be positive, got {bin_width}")
    n = token_count(F.col(text_col))
    binned = df.select((F.floor(n / bin_width)).cast("long").alias("bin"))
    # materialized at O(bins) rows: the frame feeds both the output
    # and the derived total — without this, deriving the total would
    # re-run the corpus scan under the agg a second time anyway
    agg = (
        binned.groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .transform(materialize)
    )
    total = agg.agg(F.sum("n_docs").alias("_total"))
    return (
        agg.crossJoin(F.broadcast(total))
        .select(
            (F.col("bin") * bin_width).alias("bin_lo"),
            (F.col("bin") * bin_width + bin_width - 1).alias("bin_hi"),
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("_total")).alias("frac"),
        )
        .orderBy("bin_lo")
    )


def bpe_merge_candidates(
    df: DataFrame,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """First-round BPE merge candidates: the k most frequent ADJACENT
    CHARACTER pairs across all word occurrences (every occurrence
    counts — BPE weights merges by corpus frequency, not document
    frequency). Returns (pair, n_occurrences, rank) with deterministic
    ties (count desc, pair asc). This is step 1 of tokenizer training —
    the full iterative trainer re-runs this count after each merge;
    one round is the corpus-wide statistic worth a distributed pass.

    100 TB shape: two map-side explodes (words, then in-word adjacent
    pairs via substring indexing — no Python), one content-keyed count
    aggregate that partial-aggregates map-side (the pair alphabet is
    tiny, so the shuffle carries ~|alphabet|² rows per task), and a
    TakeOrderedAndProject cap — never a global sort."""
    words = df.select(F.explode(tokenize(F.col(text_col))).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.substring(F.col("w"), i, 2),
            )
        ).alias("pair")
    )
    agg = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n_occurrences"))
    top = agg.orderBy(F.desc("n_occurrences"), F.asc("pair")).limit(k)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n_occurrences"), F.asc("pair"))
    return top.withColumn("rank", F.row_number().over(w))


def curriculum_buckets(
    df: DataFrame,
    n_buckets: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Quality-curriculum assignment: rank docs by the composite
    quality score (best first, deterministic ties by id) and split
    into ``n_buckets`` ntile groups — bucket 1 = highest quality, the
    standard curriculum / data-mixing preparation. Returns
    (doc_id, score, bucket), bit-identical to
    ``ntile(n) OVER (ORDER BY score DESC, doc_id)``.

    Scale: a bare global-ORDER window would pull the whole corpus into
    ONE partition for the ntile (Spark's no-partitionBy window) — a
    single-task bottleneck/OOM at 100 TB. Instead the bucket is derived
    from the exact global rank computed distributively: range-sort the
    narrow (score, id) pairs (~16 B/doc through the exchange),
    materialize to pin the partition layout, collect the tiny
    per-partition count vector (one row per shuffle partition), and let
    each partition stamp rank = its offset + local position — then the
    bucket is pure arithmetic on (rank, total) replicating SQL ntile
    (first ``total % n`` buckets get ``total // n + 1`` rows). No
    single-partition stage anywhere; driver state is O(#partitions)."""
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    import pandas as pd

    from nekton_spark.functions.similarity import ensure_parallelism

    # fan out below the score projection (r15 opt): 1-split input
    # would run the regex/HOF quality chain on one task
    scored = ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        quality_score(F.col(text_col)).alias("score"),
    )
    # materialize the narrow (id, score) pairs BEFORE the range sort:
    # the range sampler, the exchange's partitioner, and the sort each
    # re-evaluate their ordering expressions, and quality_score is an
    # interpreted regex/HOF chain — sorting the live DAG measured 69 s
    # at sf10 vs 0.5 s sorting the checkpointed 16-byte rows. The score
    # is computed exactly once here.
    scored = scored.transform(materialize)
    ranged = (
        scored.repartitionByRange(F.desc("score"), F.asc("doc_id"))
        .sortWithinPartitions(F.desc("score"), F.asc("doc_id"))
        # pin boundaries + partition indices so the count pass and the
        # rank pass see the identical layout (range sampling re-runs
        # per job otherwise); on a cluster swap for checkpoint()
        .transform(materialize)
    )
    counts = (
        ranged.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # one row per shuffle partition — O(200), not O(n)
    )
    sizes = {r.pid: r.n for r in counts}
    total = sum(sizes.values())
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    big, rem = divmod(total, n_buckets)
    cut = rem * (big + 1)  # ranks below this land in the big buckets

    def stamp(it):
        import numpy as np

        base = None
        seen = 0
        for pdf in it:
            if len(pdf) == 0:
                # don't anchor base on an empty batch: it carries no
                # pid, and defaulting to 0 would mis-rank the whole
                # partition if a later batch is non-empty (r7 ADVICE)
                continue
            if base is None:
                base = offsets[int(pdf["pid"].iat[0])]
            r0 = np.arange(seen, seen + len(pdf)) + base  # 0-based rank
            seen += len(pdf)
            bucket = np.where(
                r0 < cut,
                r0 // (big + 1) + 1,
                # big >= 1 whenever any rank reaches this branch
                rem + (r0 - cut) // max(big, 1) + 1,
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "score": pdf["score"],
                    "bucket": bucket.astype("int32"),
                }
            )

    return ranged.withColumn("pid", F.spark_partition_id()).mapInPandas(
        stamp, "doc_id long, score double, bucket int"
    )

"""Trained-BPE tokenization: train a merge table, apply it at corpus
scale (Sennrich, Haddow & Birch, "Neural Machine Translation of Rare
Words with Subword Units", ACL 2016 — the public BPE algorithm).

This is the missing half of the tokenizer story next to
``bpe_merge_candidates`` (which mines first-round merge statistics):
given an ordered merge table, :func:`bpe_encode` produces real token
id sequences / counts per document, so token-budget operators
(``mixture_sample``, ``pack_sequences``, ``chunk_documents``) can
budget in tokenizer tokens instead of whitespace tokens.

The reference engine (`src/processors.rs` — untyped byte pipeline)
has no tokenizer; this extends SURVEY §2.5's text-analysis layer.

Semantics (textbook BPE, exactly replayable in SQL):

- Words = the engine's whitespace ``tokenize`` (NULL text = empty doc).
- Per word: start from the code-point sequence; repeatedly apply the
  applicable merge with the LOWEST rank, leftmost occurrence first,
  until no merge applies. One merge per step — the original
  greedy algorithm, and the exact program the DuckDB oracle replays
  with a recursive CTE (one iteration per single merge).
- Vocabulary / ids: base alphabet = distinct code points across the
  corpus's words in codepoint order (ids 0..n-1; Python, Spark UTF8
  binary, and DuckDB binary collation all agree on this order), then
  each merge's output string in rank order (skipping strings already
  assigned — two rules may produce the same string; ids attach to
  token STRINGS, so encoding stays unambiguous).

Scale shape (the 100 TB contract):

- Training: one corpus-scale shuffle to (word, count) — vocabulary-
  bounded by Heaps' law — capped at the top ``max_train_vocab`` words
  by count (TakeOrdered, never a global sort), then the merge loop
  runs driver-side on that bounded table (pure Python, the standard
  word-count BPE trainer). The cap is the documented approximation:
  rare-tail words contribute negligible pair mass.
- Encoding: ONE distinct-word relation (vocabulary-bounded shuffle),
  ONE Arrow pass encoding each distinct word exactly once (per-word
  cost amortized over every occurrence — the word "the" encodes once,
  not 10^9 times), one join back (AQE broadcasts the encoded-vocab
  side when it fits; plain shuffle join otherwise), and a per-doc
  ordered reassembly via sort-by-position flatten. The alphabet
  collect is O(|alphabet|) — the bounded-collect policy every
  clustering op follows.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text_analysis import tokenize

__all__ = [
    "train_bpe_py",
    "train_bpe",
    "encode_word",
    "build_vocab",
    "bpe_encode",
    "bpe_decode",
    "STD_MERGES",
]


# ------------------------------------------------------------- training


def _train_bpe_py_naive(
    word_counts: dict[str, int], n_merges: int
) -> list[tuple[str, str]]:
    """The textbook full-rescan trainer (Sennrich 2016 fig. 1) — kept
    as the semantic REFERENCE the fast trainer is tested against
    (tests/test_bpe.py pins equality on randomized tables). O(n_merges
    × Σ|word|): measured 0.26 s/merge on a 65536-word Zipf table —
    ~35 min at 8k merges — which is why serving uses the incremental
    trainer below."""
    table: dict[tuple[str, ...], int] = {}
    for w, c in word_counts.items():
        if w:
            t = tuple(w)
            table[t] = table.get(t, 0) + c
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in table.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pairs[best] < 2:
            break
        merges.append(best)
        l, r = best
        new_table: dict[tuple[str, ...], int] = {}
        for syms, c in table.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            t = tuple(out)
            new_table[t] = new_table.get(t, 0) + c
        table = new_table
    return merges


def train_bpe_py(
    word_counts: dict[str, int], n_merges: int
) -> list[tuple[str, str]]:
    """Driver-side BPE trainer over a bounded (word -> count) table.

    Each round counts adjacent symbol pairs weighted by word count and
    merges the most frequent pair everywhere (ties: lexicographically
    smallest (left, right) — deterministic across runs/hosts). Stops
    early when no pair occurs at least twice (merging a count-1 pair
    is tokenizer noise).

    Implementation (r10 verdict #4 — the realistic-vocab scale path):
    INCREMENTAL pair maintenance, the subword-nmt/Sennrich learn_bpe
    optimization with unchanged semantics. Only words that CONTAIN the
    merged pair are rewritten (an inverted pair → word-ids index finds
    them); their old adjacent-pair multiset is subtracted and the new
    one added — arithmetic identical to a full recount. Selection is a
    lazy max-heap on (-count, pair): every count CHANGE pushes a fresh
    entry, stale entries (recorded != current count) pop off harmlessly
    — so the popped minimum is the exact (-count, pair) argmin the
    naive rescan computes (tests pin equality on randomized tables,
    and the frozen STD_MERGES regression covers the shipped table).
    Measured on the 65536-word Zipf rehearsal table: 8192 merges in
    ~49 s, 32768 in ~56 s (near-flat past 8k: the heap drains the
    rare tail) — vs ~35 min / ~2.3 h extrapolated for the full-rescan
    reference at its measured 0.26 s/merge.
    """
    import heapq

    words: list[list] = []  # [syms, count] per distinct word
    for w, c in word_counts.items():
        if w:
            words.append([list(w), c])
    pairs: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for wi, (syms, c) in enumerate(words):
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pairs[p] = pairs.get(p, 0) + c
            where.setdefault(p, set()).add(wi)
    heap = [(-c, p) for p, c in pairs.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges and heap:
        negc, best = heapq.heappop(heap)
        cur = pairs.get(best, 0)
        if -negc != cur:
            continue  # stale entry — a fresher one is in the heap
        if cur < 2:
            break
        merges.append(best)
        l, r = best
        lr = l + r
        for wi in sorted(where.get(best, ())):
            syms, c = words[wi]
            # subtract the word's old pair multiset
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] -= c
                if pairs[p] <= 0:
                    del pairs[p]
                    where.pop(p, None)
                else:
                    heapq.heappush(heap, (-pairs[p], p))
            # left-to-right non-overlapping replacement (the exact
            # rewrite the naive trainer applies)
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(lr)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[wi][0] = out
            # add the new pair multiset
            for i in range(len(out) - 1):
                p = (out[i], out[i + 1])
                pairs[p] = pairs.get(p, 0) + c
                where.setdefault(p, set()).add(wi)
                heapq.heappush(heap, (-pairs[p], p))
        # the merged pair is now gone from every word
        pairs.pop(best, None)
        where.pop(best, None)
    return merges


def train_bpe(
    df: DataFrame,
    n_merges: int = 30,
    text_col: str = "text",
    max_train_vocab: int = 65536,
) -> list[tuple[str, str]]:
    """Corpus-scale training front-end: one (word, count) shuffle,
    TakeOrdered cap at ``max_train_vocab`` (count desc, word asc —
    deterministic), then :func:`train_bpe_py` on the bounded table."""
    wc = (
        df.select(F.explode(tokenize(F.col(text_col))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(max_train_vocab)
        .collect()
    )
    return train_bpe_py({r.w: r.c for r in wc}, n_merges)


# ------------------------------------------------------------- encoding


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy BPE encode of one word: repeatedly merge the
    (lowest-rank, then leftmost) applicable pair. Pure Python; the
    per-word kernel of the Arrow pass and the exact program the
    oracle's recursive CTE replays one merge per iteration.

    Cost envelope: O(len × merges applied) — the rescan-per-merge is
    the textbook formulation the oracle replays literally. Words come
    from whitespace tokenization, so len is sentence-word-scale; a
    pathological megabyte-long single "word" whose every pair merges
    would cost O(len²) in BOTH engines (the heap-based O(len log len)
    encoder is a non-semantic optimization deliberately not taken —
    exactness-vs-oracle outranks speed on an input real corpora
    don't produce)."""
    syms = list(word)
    while len(syms) > 1:
        best_rank, best_pos = None, None
        for i in range(len(syms) - 1):
            rk = ranks.get((syms[i], syms[i + 1]))
            if rk is not None and (best_rank is None or rk < best_rank):
                best_rank, best_pos = rk, i
        if best_pos is None:
            break
        syms[best_pos : best_pos + 2] = [syms[best_pos] + syms[best_pos + 1]]
    return syms


def build_vocab(
    df: DataFrame, merges: list[tuple[str, str]], text_col: str = "text"
) -> dict[str, int]:
    """token string -> id. Base alphabet = distinct code points across
    the corpus's words in codepoint order (bounded collect: the
    alphabet is O(charset), not O(corpus)), then merge outputs in rank
    order, skipping strings already assigned."""
    chars = (
        df.select(F.explode(tokenize(F.col(text_col))).alias("w"))
        .filter(F.length("w") > 0)
        .select(F.explode(F.split("w", "")).alias("ch"))
        .filter(F.length("ch") > 0)
        .distinct()
        .collect()
    )
    vocab: dict[str, int] = {}
    for ch in sorted(r.ch for r in chars):
        vocab[ch] = len(vocab)
    for l, r in merges:
        out = l + r
        if out not in vocab:
            vocab[out] = len(vocab)
    return vocab


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab: dict[str, int] | None = None,
) -> DataFrame:
    """Apply a trained merge table: (id_col, bpe_ids array<int>,
    n_bpe int). ``bpe_ids`` is the document's token id sequence (words
    in order, tokens in order within each word); NULL/empty text → []
    (the engine-wide NULL-text contract). ``vocab`` defaults to
    :func:`build_vocab` over the same frame.

    Plan: posexplode words → distinct words → one Arrow pass encoding
    each distinct word once (merge table + vocab are closure
    constants, bounded at vocab size) → join back on word (AQE picks
    broadcast when the encoded vocabulary fits) → per-doc ordered
    flatten. No corpus-scale Python: the Arrow pass runs on the
    DISTINCT-word relation only.
    """
    if vocab is None:
        vocab = build_vocab(df, merges, text_col)
    ranks = {p: i for i, p in enumerate(merges)}

    @F.pandas_udf("array<int>")
    def _enc(words: pd.Series) -> pd.Series:
        memo: dict[str, list[int]] = {}

        def one(w: str) -> list[int]:
            got = memo.get(w)
            if got is None:
                try:
                    got = memo[w] = [
                        vocab[t] for t in encode_word(w, ranks)
                    ]
                except KeyError as exc:
                    # mirror bpe_decode's refusal contract: a caller-
                    # supplied vocab that doesn't cover the corpus
                    # alphabet refuses with context, not a bare KeyError
                    raise ValueError(
                        f"bpe_encode: token {exc.args[0]!r} not in vocab "
                        f"(size {len(vocab)}) — was the vocab built on a "
                        "different corpus?"
                    ) from None
            return got

        return words.map(one)

    from .similarity import ensure_parallelism

    # fan out below the tokenizer (r15 opt): a 1-split input would run
    # the regex split + explode + partial distinct on one task
    words = ensure_parallelism(df).select(
        F.col(id_col),
        F.posexplode_outer(tokenize(F.col(text_col))).alias("wpos", "w"),
    )
    real = words.filter(F.col("w").isNotNull() & (F.length("w") > 0))
    dw = real.select("w").distinct().withColumn("ids", _enc(F.col("w")))
    per_doc = (
        real.join(dw, "w")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("wpos", "ids"))),
                    lambda x: x.ids,
                )
            ).alias("bpe_ids")
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("bpe_ids", F.array().cast("array<int>")).alias("bpe_ids"),
        )
        .withColumn("n_bpe", F.size("bpe_ids"))
    )


def bpe_decode(
    df: DataFrame,
    vocab: dict[str, int],
    ids_col: str = "bpe_ids",
    out_col: str = "tokens",
) -> DataFrame:
    """Inverse id mapping: ``ids_col`` (array<int>) → ``out_col``
    (array<string>) of token strings, via the inverted vocab in one
    map-only Arrow pass (the vocab is a bounded closure constant, the
    encode pass's contract in reverse). NOTE the honest envelope:
    ``bpe_ids`` concatenates words WITHOUT boundary markers (this
    tokenizer has no GPT-2-style word-start glyph), so decode restores
    the token stream — `concat(tokens)` equals the doc's
    whitespace-stripped character stream — but not the original
    inter-word whitespace. Unknown ids refuse with a clear error."""
    inv = {i: t for t, i in vocab.items()}

    @F.pandas_udf("array<string>")
    def _dec(ids: pd.Series) -> pd.Series:
        def one(seq):
            if seq is None:
                return None
            try:
                return [inv[int(i)] for i in seq]
            except KeyError as exc:
                raise ValueError(
                    f"bpe_decode: id {exc.args[0]} not in vocab "
                    f"(size {len(inv)})"
                ) from None

        return ids.map(one)

    return df.withColumn(out_col, _dec(F.col(ids_col)))


# Frozen standard merge table: train_bpe over the sf0.001 documents
# corpus (n_merges=24), frozen as literals so serving-side queries and
# their SQL oracles embed the IDENTICAL table (the lang_id_trained /
# classifier_trained trained-weights-as-VALUES pattern). Note the
# chained rules: "window" is built over four levels (ow → dow → indow
# → window) — the encode loop's recursion into longer symbols is
# exercised, not just first-round char pairs.
# tests/test_bpe.py pins this table against a fresh training run.
STD_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"), ("s", "t"),
    ("l", "u"), ("a", "r"), ("p", "ar"), ("m", "er"), ("a", "t"),
    ("a", "n"), ("c", "an"), ("s", "can"), ("c", "o"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("d", "ow"), ("in", "dow"),
    ("w", "indow"), ("d", "er"), ("or", "der"), ("or", "t"),
    ("s", "ort"),
]

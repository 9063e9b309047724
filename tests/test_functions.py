"""Unit tests for the LLM-pipeline function modules (dedup, similarity,
text analysis, multimodal, as-of join) on controlled inputs."""

import math

import numpy as np
import pytest

from pyspark.sql import functions as F


def docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


class TestTextAnalysis:
    def test_token_counts(self, spark):
        from nekton_spark.functions import text_analysis as ta

        df = docs_df(spark, ["a b  c", "", "  ", "one"])
        rows = df.select("doc_id", ta.token_count(F.col("text")).alias("n")).orderBy("doc_id").collect()
        assert [r.n for r in rows] == [3, 0, 0, 1]

    def test_bpe_token_count(self, spark):
        from nekton_spark.functions import text_analysis as ta

        df = docs_df(spark, ["hello, world42!"])
        n = df.select(ta.bpe_token_count(F.col("text")).alias("n")).first().n
        # hello | , | world | 42 | !
        assert n == 5

    def test_common_passages(self, spark):
        from nekton_spark.functions import text_analysis as ta

        df = docs_df(
            spark,
            [
                "the quick brown fox jumps",       # shares "the quick brown" ×3
                "see the quick brown fox run",
                "the quick brown dog sleeps",
                "the quick brown the quick brown",  # intra-doc repeat counts ONCE
                "something entirely different here",
            ],
        )
        got = {
            r.passage: (r.n_docs, r.example_doc)
            for r in ta.common_passages(df, n=3, min_docs=3).collect()
        }
        assert got["the quick brown"] == (4, 0)
        # "quick brown fox" appears in docs 0 and 1 only → below min_docs
        assert "quick brown fox" not in got

    def test_fingerprint_normalization(self, spark):
        from nekton_spark.functions import text_analysis as ta

        df = docs_df(spark, ["Hello   World", "hello world", "other"])
        fps = [r.fp for r in df.select(ta.fingerprint(F.col("text")).alias("fp")).collect()]
        assert fps[0] == fps[1] != fps[2]

    def test_lang_id(self, spark):
        from nekton_spark.functions import text_analysis as ta

        df = docs_df(
            spark,
            [
                "the cat and the dog in a house",
                "el perro y la casa de los gatos en un dia",
                "der hund und die katze in den garten mit",
                "xyzzy qwerty",
            ],
        )
        rows = df.select("doc_id", ta.lang_id(F.col("text")).alias("lang")).orderBy("doc_id").collect()
        assert [r.lang for r in rows] == ["en", "es", "de", "und"]

    def test_repetition_ratio(self, spark):
        from nekton_spark.functions import text_analysis as ta

        df = docs_df(spark, ["a a a a", "a b c d"])
        rows = df.select(F.round(ta.repetition_ratio(F.col("text")), 4).alias("r")).collect()
        assert [r.r for r in rows] == [0.75, 0.0]

    def test_gopher_rules(self, spark):
        from nekton_spark.functions import text_analysis as ta

        good = "the quick brown fox and the lazy dog have fun with " + " ".join(
            f"word{i}" for i in range(45)
        )
        bullets = "- one\n- two\n* three\n…so it ends..."
        symbols = "the ### fox ... jumps # with ellipsis … of doom"
        df = docs_df(spark, [good, bullets, symbols, ""])
        rows = ta.gopher_rules(df).orderBy("doc_id").collect()
        g, b, s, e = rows
        assert g.n_words == 56 and g.passes == 1
        assert b.bullet_ratio == 0.75 and b.ellipsis_ratio == 0.25 and b.passes == 0
        # '###' = 3 hash matches, '...' once, lone '#' once, '…' once → 6 / 11 words
        assert s.n_words == 11 and s.symbol_ratio == round(6 / 11, 6) and s.passes == 0
        assert e.n_words == 0 and e.alpha_ratio == 0.0 and e.passes == 0
        assert g.stop_hits >= 2 and g.alpha_ratio == 1.0

    def test_compression_ratio(self, spark):
        import zlib

        from nekton_spark.functions import text_analysis as ta

        rep = "spam " * 200
        mixed = "the quick brown fox jumps over the lazy dog " * 3
        df = docs_df(spark, [rep, mixed, "", None])
        rows = ta.compression_ratio(df).orderBy("doc_id").collect()
        r_rep, r_mix, r_empty, r_null = rows
        # exact: python zlib is the same C library in driver and worker
        assert r_rep.zlib_bytes == len(zlib.compress(rep.encode(), 6))
        assert r_rep.ratio == round(r_rep.zlib_bytes / 1000, 6)
        assert r_rep.flagged == 1 and r_rep.ratio < 0.1  # templated text
        assert r_mix.flagged == 0 and 0.30 <= r_mix.ratio <= 0.95
        assert r_empty.n_bytes == 0 and r_empty.ratio == 0.0 and r_empty.flagged == 0
        # engine-wide NULL-text contract: NULL = empty document (r15)
        assert (r_null.n_bytes, r_null.zlib_bytes, r_null.ratio, r_null.flagged) == (0, 0, 0.0, 0)

    def test_ngrams(self, spark):
        from nekton_spark.functions import text_analysis as ta

        df = docs_df(spark, ["a b c d", "a b"])
        rows = df.select(ta.ngrams(F.col("text"), 3).alias("g")).collect()
        assert rows[0].g == ["a b c", "b c d"]
        assert rows[1].g == []


class TestHashing:
    def test_hash60_matches_python(self, spark):
        from nekton_spark.functions.hashing import hash60, hash60_py

        df = spark.createDataFrame([("hello",), ("wörld",)], "s string")
        rows = df.select(hash60(F.col("s"), 7).alias("h")).collect()
        assert rows[0].h == hash60_py("hello", 7)
        assert rows[1].h == hash60_py("wörld", 7)

    def test_hash60_matches_duckdb(self, spark):
        import duckdb

        from nekton_spark.functions.hashing import hash60_py, hash60_sql

        frag = hash60_sql("'hello'", "7")
        got = duckdb.sql(f"SELECT {frag} AS h").fetchone()[0]
        assert got == hash60_py("hello", 7)


class TestDedup:
    def test_exact_dedup(self, spark):
        from nekton_spark.functions.dedup import exact_dedup

        df = docs_df(spark, ["same  text", "Same Text", "different"])
        rows = exact_dedup(df).orderBy("keep_id").collect()
        assert [(r.keep_id, r.n_dups) for r in rows] == [(0, 2), (2, 1)]

    def test_minhash_identical_docs_same_signature(self, spark):
        from nekton_spark.functions.dedup import minhash_signatures

        df = docs_df(spark, ["w1 w2 w3 w4 w5", "w1 w2 w3 w4 w5", "a b c d e"])
        rows = minhash_signatures(df).orderBy("id").collect()
        assert rows[0].sig == rows[1].sig != rows[2].sig

    def test_minhash_lsh_finds_near_dups(self, spark):
        from nekton_spark.functions.dedup import minhash_lsh_pairs

        base = "the quick brown fox jumps over the lazy dog again and again today"
        near = base.replace("today", "tomorrow")
        far = "completely different content with other words entirely here now"
        df = docs_df(spark, [base, near, far])
        pairs = minhash_lsh_pairs(df, threshold=0.3).collect()
        assert [(p.id_a, p.id_b) for p in pairs] == [(0, 1)]
        assert pairs[0].jaccard > 0.5

    def test_cjk_word_path_blind_script_path_recovers(self, spark):
        """RED pin of the r13-verdict spaceless-script blind spot: a
        planted Han near-dup clique has NO ASCII spaces, so the word
        tokenizer sees ~1 token per doc, shingles are empty, and
        MinHash mines ZERO pairs — while tokenize='script' character-
        shingles the runs and recovers every clique pair."""
        from nekton_spark.functions.dedup import (
            minhash_lsh_pairs,
            synth_cjk_docs,
        )

        d = spark.createDataFrame(
            [(k, f"orig {k}") for k in range(16)], "doc_id long, text string"
        )
        planted = synth_cjk_docs(d)
        assert minhash_lsh_pairs(planted, threshold=0.5).count() == 0
        pairs = minhash_lsh_pairs(
            planted, threshold=0.5, tokenize="script"
        ).collect()
        # 4 cliques of 4 → 6 pairs each (24); the k=16 sketch's recall
        # at J≈0.78 deterministically drops at most one — mining ≥23
        # where the word path mined ZERO is the pin
        assert len(pairs) >= 23
        assert all(p.id_a // 4 == p.id_b // 4 for p in pairs)
        assert all(p.jaccard > 0.5 for p in pairs)
        # r15 (verdict #8): cliques q % 3 == 0 carry the mixed-script
        # splice — a Latin token glued mid-Han-run with no spaces; the
        # planted docs really are Latin+Han in one document, and those
        # cliques recover through the boundary spread exactly like the
        # pure-Han ones (docs 0-3 are clique q=0, docs 12-15 q=3)
        import re

        texts = {r.doc_id: r.text for r in planted.collect()}
        assert re.search(r"[一-鿿]x\d{1,3}[一-鿿]", texts[0])
        assert "x" not in texts[4].split(" ")[0]  # q=1: pure Han run
        mixed_pairs = [p for p in pairs if p.id_a // 4 in (0, 3)]
        assert len(mixed_pairs) >= 11  # 2 mixed cliques × 6 pairs − 1

    def test_script_spread_three_kernel_parity(self, spark):
        """The Python, JVM and DuckDB spread kernels derive from ONE
        explicit range table — they must agree byte-for-byte on mixed
        scripts, supplementary-plane Han, combining marks, and
        spaceless Thai/Hangul/Kana runs."""
        import duckdb

        from nekton_spark.functions.text_analysis import (
            script_spread,
            script_spread_py,
            script_spread_sql,
        )
        from pyspark.sql import functions as F

        cases = [
            "中文混合 english 词",
            "ไทยแท้ๆ no spaces",
            "한국어조사 및 가-힣",
            "ひらがなカタカナ交じり",
            "\U00020000\U0002A6D6 astral han",
            "á combining é",  # not spaceless → untouched
            "",
            "   \n\t ",
            "中　中",  # ideographic space between Han
        ]
        con = duckdb.connect()
        jvm = spark.createDataFrame(
            [(c,) for c in cases], "t string"
        ).select(script_spread(F.col("t")).alias("s")).collect()
        for c, row in zip(cases, jvm):
            py = script_spread_py(c)
            sql = con.execute(
                f"SELECT {script_spread_sql('?')}", [c]
            ).fetchone()[0]
            assert row.s == py == sql, repr(c)

    def test_script_spread_translate_matches_regex_reference(self):
        """r15 opt: script_spread_py runs on a str.translate table; the
        original regex kernel stays as the reference. Exhaustive parity
        at every range boundary (lo-1, lo, hi, hi+1 for each
        SPACELESS_RANGES entry, embedded between Latin and Han
        neighbors) plus interior samples — any table off-by-one or
        missing range diverges here."""
        from nekton_spark.functions.text_analysis import (
            _SPREAD_RE_PY,
            SPACELESS_RANGES,
            script_spread_py,
        )

        ref = lambda t: _SPREAD_RE_PY.sub(r" \1 ", t)  # noqa: E731
        probes = []
        for lo, hi in SPACELESS_RANGES:
            for cp in (lo - 1, lo, lo + (hi - lo) // 2, hi, hi + 1):
                if 0 <= cp <= 0x10FFFF and not (0xD800 <= cp <= 0xDFFF):
                    probes.append(chr(cp))
        for p in probes:
            for ctx in (p, f"a{p}b", f"中{p}中", f" {p} ", p * 3):
                assert script_spread_py(ctx) == ref(ctx), hex(ord(p))
        assert script_spread_py("") == ""
        assert script_spread_py("plain ascii text") == "plain ascii text"

    def test_minhash_udf_matches_jvm_expr(self, spark):
        """The one Arrow MinHash kernel `_minhash_udf` against the JVM
        expressions it replaces, over the NULL/empty/whitespace-edged
        battery, CJK under both tokenize policies, and a shared-shingle
        clique (the batch-memo path):

        - ``hs`` is the SAME hashed-shingle SET as the JVM
          ``array_distinct(transform(shingles, hash60))`` (element
          order may differ; the verify stage consumes only |∩|/|∪|
          sizes, so the pin is sorted-set equality), and
          ``dedupe="string"`` is ORDER-equal to
          ``transform(array_distinct(shingles), hash60)``;
        - pre-shingled input (``shingle_n=None`` over the
          ``_shingles_expr`` arrays) gives the same ``hs`` and ``sig``
          as text input;
        - the ``"sig,hs"`` struct fields equal the single-output
          results; a doc without shingles gives ``sig`` NULL and
          ``hs`` [];
        - an unknown ``out`` refuses."""
        import pytest as _pt
        from pyspark.sql import functions as F

        from nekton_spark.functions.dedup import _minhash_udf, _shingles_expr
        from nekton_spark.functions.hashing import hash60

        rows = [
            (0, None),
            (1, ""),
            (2, "   "),
            (3, "\none two three\n"),
            (4, " a  b\tc d "),
            (5, "one two"),  # < n tokens → empty set
            (6, "中文混合 english 词与词"),
            (7, "ไทยแท้ๆ no spaces here at all"),
            (8, "x y z " * 40),  # heavy duplication within one doc
            (9, "alpha beta gamma delta epsilon"),
            (10, "alpha beta gamma delta epsilon"),  # clique twin
        ]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        for tok in ("word", "script"):
            shingles = _shingles_expr(F.col("text"), 3, tok)
            jvm = d.select(
                "doc_id",
                F.array_sort(
                    F.array_distinct(
                        F.transform(shingles, lambda g: hash60(g, 0))
                    )
                ).alias("sh"),
            )
            arrow = d.select(
                "doc_id",
                F.array_sort(
                    _minhash_udf("hs", shingle_n=3, tokenize=tok)(F.col("text"))
                ).alias("sh"),
            )
            got = {r.doc_id: r.sh for r in arrow.collect()}
            want = {r.doc_id: r.sh for r in jvm.collect()}
            assert got == want, tok
            assert got[5] == [] and got[9] == got[10] != []
            # dedupe="string" ≙ transform(array_distinct(sh), hash60)
            # — the inverted-index plan's (and its oracle's) exact
            # construction: distinct STRINGS each hashed, in
            # first-occurrence-of-string order
            jvm_s = d.select(
                "doc_id",
                F.transform(
                    F.array_distinct(shingles), lambda g: hash60(g, 0)
                ).alias("sh"),
            )
            arrow_s = d.select(
                "doc_id",
                _minhash_udf("hs", shingle_n=3, tokenize=tok, dedupe="string")(
                    F.col("text")
                ).alias("sh"),
            )
            got_s = {r.doc_id: r.sh for r in arrow_s.collect()}
            want_s = {r.doc_id: r.sh for r in jvm_s.collect()}
            assert got_s == want_s, tok  # ORDER-sensitive equality

            # one row per doc: text-input and pre-shingled-input
            # outputs, and the struct from one pass
            k = d.select(
                "doc_id",
                _minhash_udf("hs", shingle_n=3, tokenize=tok)(F.col("text")).alias("hs_t"),
                _minhash_udf("sig", shingle_n=3, tokenize=tok)(F.col("text")).alias("sig_t"),
                _minhash_udf("hs")(shingles).alias("hs_p"),
                _minhash_udf("sig")(shingles).alias("sig_p"),
                _minhash_udf("sig,hs", shingle_n=3, tokenize=tok)(F.col("text")).alias("both_t"),
                _minhash_udf("sig,hs")(shingles).alias("both_p"),
                _minhash_udf("sig,hs", shingle_n=3, tokenize=tok, dedupe="string")(
                    F.col("text")
                ).alias("both_s"),
            ).collect()
            for r in k:
                assert r.hs_p == r.hs_t, (tok, r.doc_id)
                assert r.sig_p == r.sig_t, (tok, r.doc_id)
                for both in (r.both_t, r.both_p):
                    assert both.sig == r.sig_t and both.hs == r.hs_t, (tok, r.doc_id)
                # the signature does not depend on the distinct key
                assert r.both_s.sig == r.sig_t, (tok, r.doc_id)
                if got[r.doc_id]:
                    assert len(r.sig_t) == 16
                else:
                    assert r.sig_t is None and r.hs_t == [], (tok, r.doc_id)
        with _pt.raises(ValueError, match="unknown minhash output"):
            _minhash_udf("hs,sig")

    def test_tokenize_policy_validation(self, spark):
        import pytest as _pt

        from nekton_spark.functions.dedup import minhash_lsh_pairs

        d = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
        with _pt.raises(ValueError, match="tokenize policy"):
            minhash_lsh_pairs(d, tokenize="bogus").collect()

    def test_minhash_salt_tile_pair_set_identical(self, spark):
        """r14: the imagehash hot-bucket knobs on the text path. A
        12-member near-dup clique shares every band key; salt_tile
        tiles its quadratic join without changing the PAIR SET, and
        max_bucket refuses loudly at the cap."""
        from nekton_spark.functions.dedup import minhash_lsh_pairs

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        rows = [(i, f"{base} tail{i}") for i in range(12)]
        rows += [(100, "entirely different words about other things here now")]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        want = {
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in minhash_lsh_pairs(d, threshold=0.3).collect()
        }
        assert len(want) == 66  # C(12, 2) — the full clique
        for tile in (2, 3, 50):
            got = {
                (r.id_a, r.id_b, round(r.jaccard, 9))
                for r in minhash_lsh_pairs(
                    d, threshold=0.3, salt_tile=tile
                ).collect()
            }
            assert got == want, f"salt_tile={tile}"
        import pytest as _pt

        with _pt.raises(Exception, match="max_bucket"):
            minhash_lsh_pairs(d, threshold=0.3, max_bucket=5).collect()
        with _pt.raises(ValueError, match="salt_tile"):
            minhash_lsh_pairs(d, salt_tile=1).collect()

    def test_minhash_xxhash64_equivalent_pairs(self, spark):
        """Production (pure-JVM xxhash64) and oracle (Arrow md5) hash
        engines are different hash families, so candidate recall can
        differ near the S-curve knee — but on clear duplicates (always
        candidates: identical docs share every band under any hash) and
        clear non-duplicates both must produce the identical verified
        pair set, with identical exact Jaccard scores."""
        from nekton_spark.functions.dedup import minhash_lsh_pairs

        texts = (
            ["the quick brown fox jumps over the lazy dog today"] * 3
            + ["pack my box with five dozen liquor jugs now"] * 2
            + [
                "unique document number one about topic alpha beta gamma",
                "another completely different text entirely here right now",
            ]
        )
        df = docs_df(spark, texts)
        expected = {(0, 1, 1.0), (0, 2, 1.0), (1, 2, 1.0), (3, 4, 1.0)}
        md5_pairs = {
            (r.id_a, r.id_b, r.jaccard)
            for r in minhash_lsh_pairs(df, threshold=0.5).collect()
        }
        xxh_pairs = {
            (r.id_a, r.id_b, r.jaccard)
            for r in minhash_lsh_pairs(df, threshold=0.5, hash="xxhash64").collect()
        }
        assert md5_pairs == expected
        assert xxh_pairs == expected

    def test_minhash_dual_matches_independent_chains(self, spark):
        """r16 (r15 verdict #3): minhash_lsh_pairs_dual shares ONE
        shingle pass + ONE verify-set pass across both engines; each
        engine's pair frame must be bit-identical (ids AND jaccard
        doubles) to its independent minhash_lsh_pairs run — over a
        hostile corpus with NULL/empty/whitespace-edged docs, a dup
        clique, near-dups straddling the knee, and CJK text under
        both tokenize policies."""
        from nekton_spark.functions.dedup import (
            minhash_lsh_pairs,
            minhash_lsh_pairs_dual,
        )

        texts = (
            ["the quick brown fox jumps over the lazy dog today"] * 3
            + ["the quick brown fox jumps over the lazy dog tomorrow"]
            + ["pack my box with five dozen liquor jugs now"] * 2
            + [
                None,
                "",
                "   ",
                "\none two three four five six\n",
                "one two",
                "中文混合 english 词与词 中文混合 english 词与词",
                "中文混合 english 词与词 中文混合 english 词与词",
                "another completely different text entirely here right now",
            ]
        )
        df = docs_df(spark, texts)
        for tok in ("word", "script"):
            for thr in (0.1, 0.5):
                xxh_d, md5_d = minhash_lsh_pairs_dual(
                    df, threshold=thr, tokenize=tok
                )
                got_x = {(r.id_a, r.id_b, r.jaccard) for r in xxh_d.collect()}
                got_m = {(r.id_a, r.id_b, r.jaccard) for r in md5_d.collect()}
                want_x = {
                    (r.id_a, r.id_b, r.jaccard)
                    for r in minhash_lsh_pairs(
                        df, threshold=thr, hash="xxhash64", tokenize=tok
                    ).collect()
                }
                want_m = {
                    (r.id_a, r.id_b, r.jaccard)
                    for r in minhash_lsh_pairs(
                        df, threshold=thr, tokenize=tok
                    ).collect()
                }
                assert got_x == want_x, (tok, thr)
                assert got_m == want_m, (tok, thr)
                assert got_m, (tok, thr)  # non-vacuous: clique mined

    def test_minhash_xxhash64_signature_shape(self, spark):
        from nekton_spark.functions.dedup import DEFAULT_K, minhash_signatures
        from nekton_spark.functions.hashing import REHASH_MASK

        df = docs_df(spark, ["w1 w2 w3 w4 w5", "w1 w2 w3 w4 w5", "a b", ""])
        rows = minhash_signatures(df, hash="xxhash64").orderBy("id").collect()
        # docs 2 ("a b": < 3 tokens) and 3 (empty) are dropped
        assert [r.id for r in rows] == [0, 1]
        assert rows[0].sig == rows[1].sig
        assert len(rows[0].sig) == DEFAULT_K
        assert all(0 <= v <= REHASH_MASK for v in rows[0].sig)

    def test_simhash_short_docs(self, spark):
        from nekton_spark.functions.dedup import simhash

        df = docs_df(spark, ["a b c", "a b c", "z y x w v"])
        rows = df.select(simhash(F.col("text")).alias("sh")).collect()
        assert rows[0].sh == rows[1].sh
        assert rows[0].sh != rows[2].sh
        assert all(0 <= r.sh < 2**32 for r in rows)

    def test_simhash_hamming_pairs(self, spark):
        """Identical docs are always candidates (all bands equal) with
        hamming 0; every emitted pair respects the bound; recall for
        hamming <= bands-1 is exact by pigeonhole, checked against a
        brute-force popcount over all pairs."""
        from nekton_spark.functions.dedup import simhash, simhash_near_dup_pairs

        texts = [
            "the quick brown fox jumps over the lazy dog today ok fine",
            "the quick brown fox jumps over the lazy dog today ok fine",
            "pack my box with five dozen liquor jugs right now please",
            "a completely different document about other various topics here",
        ]
        df = docs_df(spark, texts)
        got = {(r.id_a, r.id_b): r.hamming for r in simhash_near_dup_pairs(df).collect()}
        assert got[(0, 1)] == 0
        assert all(h <= 3 for h in got.values())
        # brute-force ground truth for the exact-recall guarantee
        sh = {r.id: r.sh for r in df.select(F.col("doc_id").alias("id"), simhash(F.col("text"), 60).alias("sh")).collect()}
        want = {
            (a, b)
            for a in sh
            for b in sh
            if a < b and bin(sh[a] ^ sh[b]).count("1") <= 3
        }
        assert set(got) == want

    def test_ngram_jaccard_exact_value(self, spark):
        from nekton_spark.functions.dedup import ngram_jaccard_pairs

        # doc0: grams {a b c, b c d}; doc1: grams {a b c, b c x} → J = 1/3
        df = docs_df(spark, ["a b c d", "a b c x"])
        rows = ngram_jaccard_pairs(df, threshold=0.1, candidates="all").collect()
        assert len(rows) == 1
        assert abs(rows[0].jaccard - 1 / 3) < 1e-12

    def test_ngram_jaccard_bounded_default_scores_exactly(self, spark):
        """The default (LSH-candidate) plan's recall is the banding's,
        but every emitted pair must carry the EXACT Jaccard, and be a
        subset of the exhaustive plan's pairs. Identical docs share all
        bands, so they are always candidates."""
        from nekton_spark.functions.dedup import ngram_jaccard_pairs

        df = docs_df(spark, ["a b c d e", "a b c d e", "p q r s t"])
        got = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(df, threshold=0.1).collect()}
        exact = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(df, threshold=0.1, candidates="all").collect()
        }
        assert (0, 1) in got and got[(0, 1)] == 1.0
        assert set(got) <= set(exact)
        assert all(got[p] == exact[p] for p in got)

    def test_ngram_jaccard_rejects_dfcut_with_lsh(self, spark):
        import pytest

        from nekton_spark.functions.dedup import ngram_jaccard_pairs

        df = docs_df(spark, ["a b c d"])
        with pytest.raises(ValueError):
            ngram_jaccard_pairs(df, max_doc_freq=5)


class TestSimilarity:
    def test_brute_force_topk_exact(self, spark):
        import numpy as np

        from nekton_spark.functions.similarity import brute_force_topk

        vecs = {
            0: [1.0, 0.0, 0.0, 0.0],
            1: [0.9, 0.1, 0.0, 0.0],   # closest to 0
            2: [0.0, 1.0, 0.0, 0.0],
            3: [-1.0, 0.0, 0.0, 0.0],  # farthest from 0
        }
        df = spark.createDataFrame(
            [(k, v, 0) for k, v in vecs.items()], "vec_id long, embedding array<float>, label int"
        )
        q = df.filter(F.col("vec_id") == 0)
        rows = brute_force_topk(df, q, k=3).orderBy("rank").collect()
        assert [r.neighbor_id for r in rows] == [1, 2, 3]
        expected = np.dot(vecs[0], vecs[1]) / (np.linalg.norm(vecs[0]) * np.linalg.norm(vecs[1]))
        assert abs(rows[0].score - round(expected, 6)) < 1e-9

    def test_lsh_topk_subset_of_bruteforce_scores(self, spark, tables):
        from nekton_spark.functions.similarity import brute_force_topk, lsh_topk

        emb = tables["embeddings"]
        q = emb.filter(F.col("vec_id") < 3)
        bf = {(r.query_id, r.neighbor_id): r.score for r in brute_force_topk(emb, q, k=50).collect()}
        lsh = lsh_topk(emb, q, k=5).collect()
        assert len(lsh) == 15
        for r in lsh:
            if (r.query_id, r.neighbor_id) in bf:
                assert abs(bf[(r.query_id, r.neighbor_id)] - r.score) < 1e-9

    def test_ivf_topk_recall_and_score_parity(self, spark, tables):
        """IVF is approximate by list pruning, but every pair it does
        return must carry the exact brute-force cosine, ranks must be
        dense per query, and recall@5 vs brute force should clear a
        sanity floor on the test corpus."""
        from nekton_spark.functions.similarity import brute_force_topk, ivf_topk

        emb = tables["embeddings"]
        q = emb.filter(F.col("vec_id") < 3)
        bf_all = {
            (r.query_id, r.neighbor_id): r.score
            for r in brute_force_topk(emb, q, k=500).collect()
        }
        bf_top5 = {
            (r.query_id, r.neighbor_id)
            for r in brute_force_topk(emb, q, k=5).collect()
        }
        ivf = ivf_topk(emb, q, k=5, centroid_stride=20, n_probe=4).collect()
        assert len(ivf) == 15
        for qid in (0, 1, 2):
            assert sorted(r.rank for r in ivf if r.query_id == qid) == [1, 2, 3, 4, 5]
        for r in ivf:
            assert abs(bf_all[(r.query_id, r.neighbor_id)] - r.score) < 1e-9
        hits = sum((r.query_id, r.neighbor_id) in bf_top5 for r in ivf)
        assert hits >= 5, f"recall@5 too low: {hits}/15"

    def test_pq_topk_planted_twin_recall_and_determinism(self, spark):
        """PQ is a lossy quantization, but a planted near-copy must
        quantize to its twin's codes and surface at rank 1; and the
        whole pipeline (training, encoding, ADC) must be run-to-run
        deterministic."""
        import random

        from nekton_spark.functions.similarity import pq_topk

        rng = random.Random(17)
        rows = []
        for i in range(120):
            rows.append((i, [rng.gauss(0, 1) for _ in range(64)]))
        # queries 200..202 are near-copies of corpus ids 50..52
        for j, src in enumerate((50, 51, 52)):
            rows.append(
                (200 + j, [x + rng.gauss(0, 1e-4) for x in rows[src][1]])
            )
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = df.filter(F.col("vec_id") >= 200)
        out1 = sorted(
            (r.query_id, r.neighbor_id, r.score, r.rank)
            for r in pq_topk(df, q, k=3).collect()
        )
        out2 = sorted(
            (r.query_id, r.neighbor_id, r.score, r.rank)
            for r in pq_topk(df, q, k=3).collect()
        )
        assert out1 == out2
        top1 = {
            qid: nid for qid, nid, _, rank in out1 if rank == 1
        }
        assert top1 == {200: 50, 201: 51, 202: 52}

    def test_pq_rerank_recall_at_10_on_planted_twins(self, spark):
        """r7 measured raw ADC at ~0.3 recall@5 on isotropic Gaussians
        (the documented worst case). The exact re-rank of the top-4k
        ADC candidates must lift recall@10 vs brute-force cosine to
        >= 0.9 on the planted-twin fixture — and the twin itself must
        sit at rank 1 with an exact (not ADC-approximate) score."""
        import random

        from nekton_spark.functions.similarity import (
            brute_force_topk,
            pq_topk_rerank,
        )

        rng = random.Random(17)
        rows = []
        for i in range(120):
            rows.append((i, [rng.gauss(0, 1) for _ in range(64)]))
        for j, src in enumerate((50, 51, 52)):
            rows.append(
                (200 + j, [x + rng.gauss(0, 1e-4) for x in rows[src][1]])
            )
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = df.filter(F.col("vec_id") >= 200)
        truth = {
            (r.query_id, r.neighbor_id)
            for r in brute_force_topk(df, q, k=10).collect()
        }
        # c_mult=6 → 60 ADC candidates out of 123 corpus rows: on a
        # corpus this tiny the candidate pool must be a large corpus
        # fraction for the floor to be stable across seeding changes
        # (raw ADC is ~0.3 recall on isotropic Gaussians by design);
        # at real scale c·k is a vanishing fraction and the knob is
        # the caller's recall/cost dial.
        got_rows = pq_topk_rerank(df, q, k=10, c_mult=6).collect()
        got = {(r.query_id, r.neighbor_id) for r in got_rows}
        recall = len(got & truth) / len(truth)
        assert recall >= 0.9, f"recall@10 {recall:.2f} < 0.9"
        top1 = {r.query_id: r.neighbor_id for r in got_rows if r.rank == 1}
        assert top1 == {200: 50, 201: 51, 202: 52}
        # re-ranked scores are exact cosine: the planted twin's score
        # must be ~1.0 (ADC scores are inner products, not cosines)
        for r in got_rows:
            if r.rank == 1:
                assert r.score > 0.999

    def test_ivfpq_planted_twin_rank1_and_determinism(self, spark):
        """IVF+PQ composition: a planted near-copy must land in its
        twin's probed list AND quantize to its codes — rank 1 — and
        the whole build (coarse assign, codebooks, encode, probe) must
        be run-to-run deterministic."""
        import random

        from nekton_spark.functions.similarity import ivfpq_topk

        rng = random.Random(17)
        rows = []
        for i in range(120):
            rows.append((i, [rng.gauss(0, 1) for _ in range(64)]))
        for j, src in enumerate((50, 51, 52)):
            rows.append(
                (200 + j, [x + rng.gauss(0, 1e-4) for x in rows[src][1]])
            )
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = df.filter(F.col("vec_id") >= 200)
        out1 = sorted(
            (r.query_id, r.neighbor_id, r.score, r.rank)
            for r in ivfpq_topk(df, q, k=3, n_probe=2).collect()
        )
        out2 = sorted(
            (r.query_id, r.neighbor_id, r.score, r.rank)
            for r in ivfpq_topk(df, q, k=3, n_probe=2).collect()
        )
        assert out1 == out2
        top1 = {qid: nid for qid, nid, _, rank in out1 if rank == 1}
        assert top1 == {200: 50, 201: 51, 202: 52}

    def test_ivfpq_residual_planted_twin_rank1_and_determinism(self, spark):
        """Residual IVF-PQ: the planted near-copy shares its twin's
        probed list; the residual-ADC nomination surfaces it and the
        exact-cosine re-rank puts it at rank 1 with score ~1.0; the
        whole build (coarse assign, residuals, residual codebooks,
        encode, probe, re-rank) is run-to-run deterministic."""
        import random

        from nekton_spark.functions.similarity import ivfpq_residual_topk

        rng = random.Random(17)
        rows = []
        for i in range(120):
            rows.append((i, [rng.gauss(0, 1) for _ in range(64)]))
        for j, src in enumerate((50, 51, 52)):
            rows.append(
                (200 + j, [x + rng.gauss(0, 1e-4) for x in rows[src][1]])
            )
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = df.filter(F.col("vec_id") >= 200)
        out1 = sorted(
            (r.query_id, r.neighbor_id, r.score, r.rank)
            for r in ivfpq_residual_topk(df, q, k=3, n_probe=2).collect()
        )
        out2 = sorted(
            (r.query_id, r.neighbor_id, r.score, r.rank)
            for r in ivfpq_residual_topk(df, q, k=3, n_probe=2).collect()
        )
        assert out1 == out2
        top1 = {qid: nid for qid, nid, _, rank in out1 if rank == 1}
        assert top1 == {200: 50, 201: 51, 202: 52}
        # re-ranked scores are exact cosine — the twin scores ~1.0
        for qid, nid, score, rank in out1:
            if rank == 1:
                assert score > 0.999

    def test_lsh_multiprobe_superset_and_refusal(self, spark):
        """multiprobe=1 probes a SUPERSET of the classic buckets: its
        result per query must contain at least as many of the true
        top-k, it stays deterministic, and radius 2 refuses."""
        import random

        from nekton_spark.functions.similarity import lsh_topk

        rng = random.Random(41)
        rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(150)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = df.filter(F.col("vec_id") < 3)
        base = {}
        # multiprobe=0 pinned: the default IS multiprobe since r15, so
        # the superset comparison needs the classic plan explicitly
        for r in lsh_topk(df, q, k=5, multiprobe=0).collect():
            base.setdefault(r.query_id, set()).add(r.neighbor_id)
        out1 = sorted(map(tuple, lsh_topk(df, q, k=5, multiprobe=1).collect()))
        out2 = sorted(map(tuple, lsh_topk(df, q, k=5, multiprobe=1).collect()))
        assert out1 == out2
        mp = {}
        for qid, nid, score, rank in out1:
            mp.setdefault(qid, set()).add(nid)
        # every query got >= as many results (superset candidate pool)
        for qid, s in base.items():
            assert len(mp.get(qid, set())) >= len(s)
        with pytest.raises(ValueError, match="multiprobe"):
            lsh_topk(df, q, k=5, multiprobe=2)

    def test_ivf_kmeans_coarse_planted_twin_and_determinism(self, spark):
        """coarse="kmeans" (r11): trained coarse centroids — the
        planted near-copy still probes into its twin's cell and ranks
        1 by exact cosine; build (bounded k-means training + closure
        assignment) is run-to-run deterministic; unknown coarse mode
        refuses."""
        import random

        from nekton_spark.functions.similarity import ivf_topk

        rng = random.Random(17)
        rows = []
        for i in range(120):
            rows.append((i, [rng.gauss(0, 1) for _ in range(64)]))
        for j, src in enumerate((50, 51, 52)):
            rows.append(
                (200 + j, [x + rng.gauss(0, 1e-4) for x in rows[src][1]])
            )
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = df.filter(F.col("vec_id") >= 200)
        out1 = sorted(
            map(tuple, ivf_topk(df, q, k=3, n_probe=2, coarse="kmeans").collect())
        )
        out2 = sorted(
            map(tuple, ivf_topk(df, q, k=3, n_probe=2, coarse="kmeans").collect())
        )
        assert out1 == out2
        top1 = {t[0]: t[1] for t in out1 if t[3] == 1}
        assert top1 == {200: 50, 201: 51, 202: 52}
        with pytest.raises(ValueError, match="unknown coarse"):
            ivf_topk(df, q, k=3, coarse="peano")
        # centroid_stride is a sample-mode knob: with kmeans it refuses
        # rather than silently ignoring (house policy)
        with pytest.raises(ValueError, match="coarse_k"):
            ivf_topk(df, q, k=3, coarse="kmeans", centroid_stride=7)

    def test_ivfpq_residual_kmeans_coarse_twin(self, spark):
        """Full IVFPQR composition with trained coarse centroids: twin
        at rank 1 with exact-cosine score ~1.0, deterministic."""
        import random

        from nekton_spark.functions.similarity import ivfpq_residual_topk

        rng = random.Random(17)
        rows = []
        for i in range(120):
            rows.append((i, [rng.gauss(0, 1) for _ in range(64)]))
        for j, src in enumerate((50, 51, 52)):
            rows.append(
                (200 + j, [x + rng.gauss(0, 1e-4) for x in rows[src][1]])
            )
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = df.filter(F.col("vec_id") >= 200)
        out1 = sorted(
            map(tuple, ivfpq_residual_topk(
                df, q, k=3, n_probe=2, coarse="kmeans").collect())
        )
        out2 = sorted(
            map(tuple, ivfpq_residual_topk(
                df, q, k=3, n_probe=2, coarse="kmeans").collect())
        )
        assert out1 == out2
        top1 = {t[0]: t[1] for t in out1 if t[3] == 1}
        assert top1 == {200: 50, 201: 51, 202: 52}
        for _qid, _nid, score, rank in out1:
            if rank == 1:
                assert score > 0.999

    def test_ivfpq_residual_pure_adc_mode(self, spark):
        """rerank_mult=None returns the pure residual-ADC ranking:
        scores are inner-product scale (coarse dot + LUT), not
        cosines, and the result is still deterministic."""
        import random

        from nekton_spark.functions.similarity import ivfpq_residual_topk

        rng = random.Random(23)
        rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(80)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = df.filter(F.col("vec_id") < 3)
        out1 = sorted(
            map(tuple, ivfpq_residual_topk(df, q, k=3, n_probe=2,
                                           rerank_mult=None).collect())
        )
        out2 = sorted(
            map(tuple, ivfpq_residual_topk(df, q, k=3, n_probe=2,
                                           rerank_mult=None).collect())
        )
        assert out1 == out2
        assert len(out1) == 9  # 3 queries × k=3

    def test_ivfpq_index_persist_equals_inline(self, spark, tmp_path):
        """r11: build-once/query-many — the persisted index's query
        result must EQUAL ivfpq_topk's rows for identical params; a
        non-index path refuses."""
        import random

        from nekton_spark.functions.similarity import (
            ivfpq_index_build,
            ivfpq_index_query,
            ivfpq_topk,
        )

        rng = random.Random(19)
        rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(120)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = df.filter(F.col("vec_id") < 4)
        inline = sorted(map(tuple, ivfpq_topk(df, q, k=3, n_probe=2).collect()))
        p = str(tmp_path / "idx")
        meta = ivfpq_index_build(df, p)
        assert meta["format"] == "nekton_spark.ivfpq/2"
        # format/2 (r12): every artifact is parquet via the Spark
        # writer — no driver-written JSON blob
        import os

        assert os.path.isdir(os.path.join(p, "centroids"))
        assert os.path.isdir(os.path.join(p, "codebooks"))
        assert os.path.isdir(os.path.join(p, "meta"))
        assert not os.path.exists(os.path.join(p, "ivfpq_meta.json"))
        # the build parameters are auditable from the persisted meta
        # (r11 ADVICE: the kmeans default resolves coarse_k explicitly)
        assert meta["coarse"] == "kmeans" and meta["coarse_k"] >= 1
        assert meta["train_distortion"] >= 0.0
        via_index = sorted(
            map(tuple, ivfpq_index_query(spark, p, q, k=3, n_probe=2).collect())
        )
        assert via_index == inline
        # a second query reuses the artifacts without rebuild
        q2 = df.filter((F.col("vec_id") >= 4) & (F.col("vec_id") < 6))
        out2 = ivfpq_index_query(spark, p, q2, k=3, n_probe=2).collect()
        assert len(out2) == 6
        with pytest.raises((ValueError, FileNotFoundError)):
            ivfpq_index_query(spark, str(tmp_path / "nope"), q, k=3)

    def test_ivfpq_index_kmeans_coarse_equals_inline(self, spark, tmp_path):
        """The persisted index with a TRAINED coarse quantizer must
        also equal the inline operator (coarse recorded in meta)."""
        import random

        from nekton_spark.functions.similarity import (
            ivfpq_index_build,
            ivfpq_index_query,
            ivfpq_topk,
        )

        rng = random.Random(29)
        rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(100)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = df.filter(F.col("vec_id") < 3)
        inline = sorted(map(tuple, ivfpq_topk(
            df, q, k=3, n_probe=2, coarse="kmeans").collect()))
        p = str(tmp_path / "kidx")
        meta = ivfpq_index_build(df, p, coarse="kmeans")
        assert meta["coarse"] == "kmeans"
        via_index = sorted(
            map(tuple, ivfpq_index_query(spark, p, q, k=3, n_probe=2).collect())
        )
        assert via_index == inline

    def test_pq_family_empty_query_frame(self, spark, tmp_path):
        """r11 review catch: an empty queries frame (e.g. query_ids
        matching nothing) returns an empty typed result instead of
        exploding a VOID array into an unactionable AnalysisException
        — across pq_topk, ivfpq_topk, ivfpq_residual_topk, and the
        persisted-index query path."""
        import random

        from nekton_spark.functions.similarity import (
            ivfpq_index_build,
            ivfpq_index_query,
            ivfpq_residual_topk,
            ivfpq_topk,
            pq_topk,
        )

        rng = random.Random(3)
        rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(60)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        empty_q = df.filter(F.col("vec_id") < 0)
        for fn in (pq_topk, ivfpq_topk, ivfpq_residual_topk):
            out = fn(df, empty_q, k=3)
            assert out.count() == 0
            assert out.columns == ["query_id", "neighbor_id", "score", "rank"]
        p = str(tmp_path / "eidx")
        ivfpq_index_build(df, p)
        out = ivfpq_index_query(spark, p, empty_q, k=3)
        assert out.count() == 0

    def test_fused_subspace_codebooks_equal(self, spark):
        """r11: train_subspace_codebooks (2 Spark jobs for all m_sub
        codebooks) must produce bit-identical codebooks to the
        per-subspace train_centroids loop it replaces."""
        import random

        from nekton_spark.functions.clustering import (
            train_centroids,
            train_subspace_codebooks,
        )

        rng = random.Random(31)
        rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(90)]
        tr = spark.createDataFrame(rows, "id long, v array<double>")
        m_sub, d0, ksub, iters = 8, 8, 16, 2
        fused = train_subspace_codebooks(tr, m_sub, d0, ksub, iters)
        for s in range(m_sub):
            sub = tr.select(
                F.col("id").alias("_kid"),
                F.slice("v", s * d0 + 1, d0).alias("_kv"),
            )
            ref = train_centroids(sub, ksub, iters)
            assert fused[s] == ref, f"subspace {s} codebook differs"

    def test_coarse_default_is_kmeans_unless_stride(self, spark):
        """r12: the IVF family's default coarse quantizer is TRAINED
        k-means cells (+0.28-0.45 clustered recall@10 at flat wall,
        r11 bench); an explicit centroid_stride — the sampled
        quantizer's only knob — keeps the sampled semantics legacy
        call sites and SQL oracles were written against."""
        import random

        from nekton_spark.functions.similarity import ivf_topk

        rng = random.Random(41)
        rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(80)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = df.filter(F.col("vec_id") < 3)
        default = sorted(map(tuple, ivf_topk(df, q, k=3, n_probe=2).collect()))
        kmeans = sorted(map(tuple, ivf_topk(
            df, q, k=3, n_probe=2, coarse="kmeans").collect()))
        assert default == kmeans
        strided = sorted(map(tuple, ivf_topk(
            df, q, k=3, n_probe=2, centroid_stride=10).collect()))
        sampled = sorted(map(tuple, ivf_topk(
            df, q, k=3, n_probe=2, centroid_stride=10, coarse="sample"
        ).collect()))
        assert strided == sampled

    def test_coarse_k_refusals(self, spark):
        """r11 ADVICE: coarse_k=0 must refuse, not silently fall back
        to the sqrt(n) default via `or`; coarse_k with the sampled
        quantizer is a mode mismatch and refuses too."""
        from nekton_spark.functions.similarity import ivf_topk

        df = spark.createDataFrame(
            [(i, [float(i)] * 64) for i in range(10)],
            "vec_id long, embedding array<double>",
        )
        with pytest.raises(ValueError, match="coarse_k must be >= 1"):
            ivf_topk(df, df, k=2, coarse="kmeans", coarse_k=0)
        with pytest.raises(ValueError, match="coarse_k applies to"):
            ivf_topk(df, df, k=2, coarse="sample", coarse_k=4)

    def test_ivfpq_index_legacy_v1_json_readback(self, spark, tmp_path):
        """The r11 format/1 layout (one driver-written JSON blob +
        codes) must stay queryable: same rows as the format/2 index it
        was derived from."""
        import json
        import random
        import shutil

        from nekton_spark.functions.similarity import (
            ivfpq_index_build,
            ivfpq_index_query,
        )

        rng = random.Random(43)
        rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(90)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = df.filter(F.col("vec_id") < 3)
        p2 = str(tmp_path / "v2")
        meta = ivfpq_index_build(df, p2, coarse="sample", centroid_stride=10)
        p1 = tmp_path / "v1"
        p1.mkdir()
        shutil.copytree(f"{p2}/codes", str(p1 / "codes"))
        with open(p1 / "ivfpq_meta.json", "w") as f:
            json.dump(
                {
                    "format": "nekton_spark.ivfpq/1",
                    "c_ids": meta["c_ids"],
                    "c_mat": meta["c_mat"],
                    "cbs": meta["cbs"],
                    "m_sub": meta["m_sub"],
                    "ksub": meta["ksub"],
                    "d0": meta["d0"],
                },
                f,
            )
        out2 = sorted(map(tuple, ivfpq_index_query(spark, p2, q, k=3).collect()))
        out1 = sorted(
            map(tuple, ivfpq_index_query(spark, str(p1), q, k=3).collect())
        )
        assert out1 == out2

    def test_ivfpq_index_append_equals_rebuild(self, spark, tmp_path):
        """r12 incremental append: encoding a planted batch under the
        FROZEN quantizers must equal a full rebuild on the union —
        the batch is planted so the union's training sample and
        sampled centroids are unchanged (odd ids; stride 10; pq_stride
        stays 2 at cap 64), isolating the append path itself."""
        import random

        from nekton_spark.functions.similarity import (
            ivfpq_index_append,
            ivfpq_index_build,
            ivfpq_index_query,
        )

        rng = random.Random(47)
        vec = lambda: [rng.gauss(0, 1) for _ in range(64)]  # noqa: E731
        a_rows = [(i, vec()) for i in range(100)]
        b_rows = [(i, vec()) for i in range(101, 141) if i % 2 == 1]
        schema = "vec_id long, embedding array<double>"
        df_a = spark.createDataFrame(a_rows, schema)
        df_b = spark.createDataFrame(b_rows, schema)
        df_ab = spark.createDataFrame(a_rows + b_rows, schema)
        params = dict(coarse="sample", centroid_stride=10, train_cap=64)
        p_inc = str(tmp_path / "inc")
        ivfpq_index_build(df_a, p_inc, **params)
        new_meta = ivfpq_index_append(df_b, p_inc, drift_tol=3.0)
        assert new_meta["n_rows"] == 120
        p_full = str(tmp_path / "full")
        ivfpq_index_build(df_ab, p_full, **params)
        q = df_ab.filter(F.col("vec_id").isin([0, 1, 103]))
        out_inc = sorted(
            map(tuple, ivfpq_index_query(spark, p_inc, q, k=3, n_probe=2).collect())
        )
        out_full = sorted(
            map(tuple, ivfpq_index_query(spark, p_full, q, k=3, n_probe=2).collect())
        )
        assert out_inc == out_full and len(out_inc) == 9

    @staticmethod
    def _handle_corpus(spark, seed, n=100):
        import random

        rng = random.Random(seed)
        rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(n)]
        return rows, spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_ivfpq_index_handle_sees_append(self, spark, tmp_path):
        """A vector appended after a query (so with a warm handle) is
        returned by the next query: the append rewrites meta, so the
        listing check reloads the handle, and the codes relation is
        re-listed per query. The rows equal a cold load's."""
        from nekton_spark.functions import similarity as sim

        rows, df = self._handle_corpus(spark, 59)
        p = str(tmp_path / "idx")
        sim.ivfpq_index_build(df, p, coarse="sample", centroid_stride=10)
        q = df.filter(F.col("vec_id") == 7)
        before = sim.ivfpq_index_query(spark, p, q, k=3, n_probe=2).collect()
        assert 500 not in {r["neighbor_id"] for r in before}
        twin = spark.createDataFrame(
            [(500, [x * 1.001 for x in rows[7][1]])],
            "vec_id long, embedding array<double>",
        )
        sim.ivfpq_index_append(twin, p, drift_tol=1e9)
        after = sim.ivfpq_index_query(spark, p, q, k=3, n_probe=2).collect()
        assert [r["neighbor_id"] for r in after if r["rank"] == 1] == [500]
        sim._handles.clear()
        cold = sim.ivfpq_index_query(spark, p, q, k=3, n_probe=2).collect()
        assert sorted(map(tuple, after)) == sorted(map(tuple, cold))

    def test_ivfpq_index_handle_rebuild_and_copy_over(self, spark, tmp_path):
        """A rebuild at the same path with another centroid_stride, and
        an index copied over the path by another writer (copytree), are
        both served from the new artifacts, never from the warm
        handle."""
        import shutil

        from nekton_spark.functions import similarity as sim

        _, df = self._handle_corpus(spark, 61)
        q = df.filter(F.col("vec_id") < 3)
        params = dict(coarse="sample", k=3, n_probe=2)

        def query(path):
            return sorted(map(tuple, sim.ivfpq_index_query(
                spark, path, q, k=3, n_probe=2).collect()))

        def inline(stride):
            return sorted(map(tuple, sim.ivfpq_topk(
                df, q, centroid_stride=stride, **params).collect()))

        p = str(tmp_path / "idx")
        sim.ivfpq_index_build(df, p, coarse="sample", centroid_stride=10)
        assert query(p) == inline(10)
        sim.ivfpq_index_build(df, p, coarse="sample", centroid_stride=7)
        assert query(p) == inline(7) != inline(10)
        other = str(tmp_path / "other")
        sim.ivfpq_index_build(df, other, coarse="sample", centroid_stride=10)
        shutil.rmtree(p)
        shutil.copytree(other, p)
        assert query(p) == inline(10)

    def test_ivfpq_index_warm_query_jobs(self, spark, tmp_path):
        """A warm query on an unchanged index runs exactly 3 jobs (the
        query rows' collect, then the ADC scan's shuffle map stage and
        the ranked result): no job reads meta, centroids or codebooks,
        none infers the codes schema and none sorts the query rows.
        With centroids and codebooks moved away, the handle still
        answers the same rows."""
        import shutil

        from nekton_spark.functions import similarity as sim

        rows, df = self._handle_corpus(spark, 71)
        schema = "vec_id long, embedding array<double>"
        p = str(tmp_path / "idx")
        sim.ivfpq_index_build(df, p, coarse="sample", centroid_stride=10)
        q = spark.createDataFrame(rows[:4], schema)
        first = sim.ivfpq_index_query(spark, p, q, k=3).collect()
        sc = spark.sparkContext
        sc.setJobGroup("warm_ivfpq_query", "warm query")
        try:
            warm = sim.ivfpq_index_query(spark, p, q, k=3).collect()
        finally:
            sc.setJobGroup("", "")
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(sc.statusTracker().getJobIdsForGroup("warm_ivfpq_query")) == 3
        for part in ("centroids", "codebooks"):
            shutil.move(f"{p}/{part}", str(tmp_path / part))
        moved = sim.ivfpq_index_query(spark, p, q, k=3).collect()
        assert sorted(map(tuple, warm)) == sorted(map(tuple, first))
        assert sorted(map(tuple, moved)) == sorted(map(tuple, first))

    def test_ivfpq_index_query_after_append_jobs(self, spark, tmp_path):
        """The first query after an append reloads the handle with 3
        jobs on top of a warm query's 3: meta is read with its fixed
        schema (no schema-inference job), then centroids and codebooks
        are collected. Its rows equal a cold load's."""
        from nekton_spark.functions import similarity as sim

        rows, df = self._handle_corpus(spark, 79)
        schema = "vec_id long, embedding array<double>"
        p = str(tmp_path / "idx")
        sim.ivfpq_index_build(df, p, coarse="sample", centroid_stride=10)
        q = spark.createDataFrame(rows[:4], schema)
        sim.ivfpq_index_query(spark, p, q, k=3).collect()
        batch = spark.createDataFrame(
            [(1000 + i, [x * 1.001 for x in v]) for i, v in rows[:5]], schema
        )
        sim.ivfpq_index_append(batch, p, drift_tol=1e9)
        sc = spark.sparkContext
        sc.setJobGroup("reload_ivfpq_query", "query after append")
        try:
            reloaded = sim.ivfpq_index_query(spark, p, q, k=3).collect()
        finally:
            sc.setJobGroup("", "")
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(sc.statusTracker().getJobIdsForGroup("reload_ivfpq_query")) == 6
        sim._handles.clear()
        cold = sim.ivfpq_index_query(spark, p, q, k=3).collect()
        assert sorted(map(tuple, reloaded)) == sorted(map(tuple, cold))

    def test_ann_kernel_tie_orders(self, spark):
        """Crafted exact ties pin the shared kernels' tie rules: the
        nearest coarse cell is the smallest cid among equal cosines,
        each PQ code is the first of equally distant codes, and the PQ
        distortion equals a naive per-row Python left fold."""
        from nekton_spark.functions.similarity import (
            _encode_pass,
            _nearest_cell,
            _pq_distortion,
        )

        # cids 10/20/30; rows 1 and 2 are parallel, so both score the
        # same cosine bit for bit (power-of-two scaling is exact)
        c_ids = np.array([10, 20, 30], dtype=np.int64)
        c_mat = np.array([[0.0, 0.0, 0.0, 3.0], [1.0, 1.0, 2.0, 2.0], [2.0, 2.0, 4.0, 4.0]])
        c_norm = np.sqrt(np.cumsum(c_mat * c_mat, axis=1)[:, -1])
        V = np.array([[0.5, 0.5, 1.0, 1.0], [0.0, 0.0, 0.0, 1.0], [1.0, 1.0, 1.0, 1.0]])
        assert _nearest_cell(V, c_mat, c_norm).tolist() == [1, 0, 1]
        # subspace 0: codes 1 and 2 both at 0.5; subspace 1: codes 0
        # and 2 both at 2.0
        cbs = [[[5.0, 5.0], [1.0, 0.0], [0.0, 1.0]], [[0.0, 2.0], [5.0, 5.0], [2.0, 0.0]]]
        base = spark.createDataFrame([(1, V[0].tolist())], "id long, v array<double>")
        row = _encode_pass(base, cbs, 2, (c_ids, c_mat, c_norm)).collect()[0]
        assert (row["cid"], list(row["codes"])) == (20, [1, 0])
        row = _encode_pass(base, cbs, 2).collect()[0]
        assert (row["cid"], list(row["codes"])) == (None, [1, 0])

        rng = np.random.RandomState(7)
        sample = [(i, rng.randn(4).tolist()) for i in range(6)]
        got = _pq_distortion(
            spark.createDataFrame(sample, "id long, v array<double>").coalesce(1), cbs, 2
        )
        tot = 0.0
        for s, cb in enumerate(cbs):
            part = 0.0
            for _, v in sample:
                best = math.inf
                for c in cb:
                    acc = 0.0
                    for j in range(2):
                        acc += (v[s * 2 + j] - c[j]) * (v[s * 2 + j] - c[j])
                    best = min(best, acc)
                part += best
            tot += part
        assert got == tot / len(sample)

    def test_ivfpq_index_second_query_no_codegen(self, spark, tmp_path):
        """The per-query values ride in one folded literal, so a second
        query op with different query ids (and vectors) compiles no new
        code: the ADC stage's generated code is the same for every
        query batch of an index."""
        from nekton_spark.functions import similarity as sim

        rows, df = self._handle_corpus(spark, 73)
        schema = "vec_id long, embedding array<double>"
        p = str(tmp_path / "idx")
        sim.ivfpq_index_build(df, p, coarse="sample", centroid_stride=10)
        metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        compiles = metric.METRIC_COMPILATION_TIME()
        sim.ivfpq_index_query(spark, p, spark.createDataFrame(rows[:8], schema), k=5).collect()
        before = compiles.getCount()
        out = sim.ivfpq_index_query(
            spark, p, spark.createDataFrame(rows[20:28], schema), k=5
        ).collect()
        assert compiles.getCount() - before == 0
        assert len(out) == 40

    def test_ivfpq_handle_cache_threads(self):
        """The handle cache under concurrent put/get from more threads
        than cores stays bounded, and a hit is always the handle stored
        under that path and listing."""
        import sys
        import threading

        from nekton_spark.functions import similarity as sim

        errors = []

        def work(t):
            try:
                for i in range(300):
                    key = (f"/idx{(t + i) % 7}", (("part", i % 3, 0),))
                    handle = ({"key": key}, np.arange(3), np.ones((3, 2)), np.ones(3), [[[0.0]]])
                    sim._handle_put(*key, handle)
                    got = sim._handle_get(*key)
                    if got is not None and got[0]["key"] != key:
                        errors.append(got[0])
            except Exception as exc:  # noqa: BLE001 — reported by the assert below
                errors.append(exc)

        switch = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=work, args=(t,)) for t in range(8)]
            for th in threads:
                th.start()
            for th in threads:
                th.join(timeout=60)
        finally:
            sys.setswitchinterval(switch)
        assert not any(th.is_alive() for th in threads)
        assert errors == []
        assert len(sim._handles) <= sim._HANDLE_PATHS
        sim._handles.clear()

    def test_ivfpq_index_append_refusals(self, spark, tmp_path):
        """Append refuses (a) a batch whose PQ distortion drifts past
        drift_tol x the build's training distortion — frozen codebooks
        would silently lose recall — and (b) id collisions with the
        existing codes, which would corrupt every later query. Either
        refusal leaves the next query's rows unchanged."""
        import random

        from nekton_spark.functions.similarity import (
            ivfpq_index_append,
            ivfpq_index_build,
            ivfpq_index_query,
        )

        rng = random.Random(53)
        rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(80)]
        schema = "vec_id long, embedding array<double>"
        df = spark.createDataFrame(rows, schema)
        p = str(tmp_path / "idx")
        ivfpq_index_build(df, p, coarse="sample", centroid_stride=10)
        q = df.filter(F.col("vec_id") < 3)
        before = sorted(map(tuple, ivfpq_index_query(spark, p, q, k=3).collect()))
        drifted = spark.createDataFrame(
            [(1000 + i, [100.0 * x for x in v]) for i, v in rows[:20]], schema
        )
        with pytest.raises(ValueError, match="drift"):
            ivfpq_index_append(drifted, p)
        dup = spark.createDataFrame(rows[:5], schema)
        with pytest.raises(ValueError, match="shares 5 id"):
            ivfpq_index_append(dup, p, drift_tol=1e9)
        after = sorted(map(tuple, ivfpq_index_query(spark, p, q, k=3).collect()))
        assert after == before

    def test_ann_processor_refuses_empty_query_ids(self, spark):
        """r11 ADVICE: query_ids: [] is a spec typo — refusing beats
        silently fanning the whole frame out as queries."""
        from nekton_spark.operators.llm import ann_topk_processor

        df = spark.createDataFrame(
            [(i, [float(i)] * 64) for i in range(10)],
            "vec_id long, embedding array<double>",
        )
        with pytest.raises(ValueError, match="query_ids"):
            ann_topk_processor(df, query_ids=[], k=2)

    def test_pq_topk_rejects_indivisible_dim(self, spark):
        from nekton_spark.functions.similarity import pq_topk

        df = spark.createDataFrame(
            [(0, [0.0] * 64)], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="divisible"):
            pq_topk(df, df, m_sub=7)

    def test_embedding_near_dup_auto_width_matches_explicit(self, spark, tables):
        """The auto sketch width must equal the documented formula
        (bands * ceil(log2(n/target_bucket))) — same pairs as passing
        that width explicitly — and near-identical vectors must always
        collide regardless of width (every sign bit agrees)."""
        import math

        from nekton_spark.functions.similarity import embedding_near_dup

        emb = tables["embeddings"]
        n = emb.count()
        r_auto = max(2, math.ceil(math.log2(n / 64)))
        auto = {
            (r.id_a, r.id_b)
            for r in embedding_near_dup(emb, threshold=0.5).collect()
        }
        explicit = {
            (r.id_a, r.id_b)
            for r in embedding_near_dup(emb, threshold=0.5, n_bits=4 * r_auto).collect()
        }
        assert auto == explicit
        # exact duplicates sketch identically at any width → always found
        dup = emb.limit(1).select(
            (F.col("vec_id") + 10_000).alias("vec_id"), "embedding", "label"
        )
        withdup = emb.unionByName(dup)
        pairs = {
            (r.id_a, r.id_b)
            for r in embedding_near_dup(withdup, threshold=0.99).collect()
        }
        first = emb.limit(1).collect()[0].vec_id
        assert (first, first + 10_000) in pairs

    def test_embedding_near_dup_rejects_degenerate_band_widths(self, spark, tables):
        """n_bits < bands would give r = n_bits // bands = 0 → mask 0 →
        every row in ONE bucket per band: a silent all-pairs quadratic
        blowup. Must refuse, as must bands outside 1..62 (auto n_bits
        would otherwise come out 0 for bands > 62)."""
        import pytest

        from nekton_spark.functions.similarity import embedding_near_dup

        emb = tables["embeddings"]
        with pytest.raises(ValueError, match="n_bits=3 < bands=4"):
            embedding_near_dup(emb, threshold=0.5, n_bits=3, bands=4)
        with pytest.raises(ValueError, match="bands must be in 1..62"):
            embedding_near_dup(emb, threshold=0.5, bands=63)
        with pytest.raises(ValueError, match="bands must be in 1..62"):
            embedding_near_dup(emb, threshold=0.5, bands=0)


class TestClustering:
    def _emb_df(self, spark, vecs):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )

    def test_kmeans_separates_planted_clusters(self, spark):
        from nekton_spark.functions.clustering import kmeans

        # two tight blobs far apart; seeds (ids 0,1) land one per blob
        blob_a = [[10.0 + 0.01 * i, 0.0] for i in range(5)]
        blob_b = [[-10.0 - 0.01 * i, 0.0] for i in range(5)]
        vecs = [blob_a[0], blob_b[0]] + blob_a[1:] + blob_b[1:]
        df = self._emb_df(spark, vecs)
        rows = kmeans(df, k=2, iters=2).orderBy("vec_id").collect()
        by_id = {r.vec_id: r.cluster for r in rows}
        a_ids = [0] + list(range(2, 6))
        b_ids = [1] + list(range(6, 10))
        assert len({by_id[i] for i in a_ids}) == 1
        assert len({by_id[i] for i in b_ids}) == 1
        assert by_id[0] != by_id[1]

    def test_kmeans_deterministic(self, spark):
        from nekton_spark.functions.clustering import kmeans

        import random

        rng = random.Random(7)
        vecs = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(40)]
        df = self._emb_df(spark, vecs)
        r1 = sorted((r.vec_id, r.cluster) for r in kmeans(df, k=4, iters=3).collect())
        r2 = sorted((r.vec_id, r.cluster) for r in kmeans(df, k=4, iters=3).collect())
        assert r1 == r2

    def test_kmeans_paths_agree(self, spark):
        """The Arrow matrix assigner must be semantically identical to
        the codegen expression argmin — same left-fold distance
        arithmetic, same first-index tie-break."""
        from nekton_spark.functions.clustering import kmeans

        import random

        rng = random.Random(11)
        vecs = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(60)]
        df = self._emb_df(spark, vecs)
        expr = sorted(
            (r.vec_id, r.cluster)
            for r in kmeans(df, k=12, iters=3, assign_mode="expr").collect()
        )
        mat = sorted(
            (r.vec_id, r.cluster)
            for r in kmeans(df, k=12, iters=3, assign_mode="matrix").collect()
        )
        assert expr == mat

    def test_kmeans_auto_k_floor(self, spark):
        from nekton_spark.functions.clustering import _resolve_k

        df = self._emb_df(spark, [[0.0, 1.0]] * 10)
        assert _resolve_k(df, None) == 8  # floor
        assert _resolve_k(df, 3) == 3  # explicit k wins

    def test_seeding_decorrelated_from_id_adjacency(self, spark):
        """r8 verdict #1 regression pin: real crawl corpora have
        ID-ADJACENT near-duplicates (sequential ids within a host), and
        the old smallest-id seeding put every seed inside such a block
        — duplicate centroids survive and the dup clique straddles
        clusters. Seeds are now the k smallest hash60(id,
        SEED_ORDER_SALT) (ties → smaller id). Pins (a) the seed rule
        itself and (b) full clique recall on an id-adjacent planted
        clique that the old rule demonstrably split."""
        import numpy as np

        from nekton_spark.functions.clustering import (
            SEED_ORDER_SALT,
            semdedup,
            train_centroids,
        )
        from nekton_spark.functions.hashing import hash60_py

        n, k = 100, 3
        rng = np.random.default_rng(7)
        V = rng.normal(size=(n, 8))
        base = rng.normal(size=8)
        for i in range(10):  # id-adjacent clique at ids 0-9
            V[i] = base + rng.normal(size=8) * 1e-3
        df = self._emb_df(spark, V.tolist())

        # (a) the seed rule: iters=1 → centroids are exactly the
        # vectors of the k smallest-hash ids, in hash order
        expect_ids = sorted(
            range(n), key=lambda i: (hash60_py(str(i), SEED_ORDER_SALT), i)
        )[:k]
        assert expect_ids == [3, 96, 66]  # spread, NOT ids 0,1,2
        pts = df.selectExpr("vec_id AS _kid", "embedding AS _kv")
        cents = train_centroids(pts, k, iters=1)
        assert cents == [list(map(float, V[i])) for i in expect_ids]

        # (b) clique recall: one seed inside the clique, two far away
        # → the clique stays in ONE cluster and SemDeDup marks all 9
        # non-keepers (the old seeding put seeds 0,1,2 all inside and
        # split it)
        marks = {
            r.vec_id: r.is_dup
            for r in semdedup(df, k=k, iters=2, tau=0.9).collect()
        }
        assert sum(marks[i] for i in range(10)) >= 9

    def test_tiered_kmeans_matches_local_reference(self, spark):
        """k > max_k routes to the two-level plan. Cross-check against
        an independent local reference: the (trusted, oracle-checked)
        flat engine result at coarse_k, refined per cell in pure numpy
        with the same spec (k_f smallest-hash60(id, SEED_ORDER_SALT)
        seeds — the decorrelated rule, iters-1 rounded-mean
        recomputes, left-fold distances, first-index ties)."""
        import random

        import numpy as np

        from nekton_spark.functions.clustering import _ceil_sqrt, kmeans

        rng = random.Random(23)
        vecs = [[rng.gauss(0, 1) for _ in range(6)] for _ in range(120)]
        df = self._emb_df(spark, vecs)
        k, max_k, target, iters = 24, 16, 10, 2
        got = {
            r.vec_id: r.cluster
            for r in kmeans(
                df, k=k, iters=iters, max_k=max_k, target_cluster=target
            ).collect()
        }
        # local reference
        coarse_k = min(max(8, _ceil_sqrt(k)), max_k)
        coarse = {
            r.vec_id: r.cluster
            for r in kmeans(df, k=coarse_k, iters=iters).collect()
        }
        want = {}
        for c in sorted(set(coarse.values())):
            ids = sorted(i for i, cc in coarse.items() if cc == c)
            P = np.asarray([vecs[i] for i in ids], dtype=np.float64)
            k_f = max(1, -(-len(ids) // target))
            if k_f == 1:
                fine = np.zeros(len(ids), dtype=int)
            else:
                from nekton_spark.functions.clustering import SEED_ORDER_SALT
                from nekton_spark.functions.hashing import hash60_py

                seed_ids = sorted(
                    range(len(ids)),
                    key=lambda j: (hash60_py(str(ids[j]), SEED_ORDER_SALT), ids[j]),
                )[:k_f]
                C = P[seed_ids].copy()

                def assign(P, C):
                    d = np.zeros((len(P), len(C)))
                    for j in range(P.shape[1]):
                        dc = P[:, j, None] - C[None, :, j]
                        d += dc * dc
                    return d.argmin(axis=1)

                for _ in range(iters - 1):
                    a = assign(P, C)
                    for f in range(k_f):
                        m = a == f
                        if m.any():
                            C[f] = np.round(
                                np.add.reduce(P[m], axis=0) / m.sum(), 6
                            )
                fine = assign(P, C)
            for i, f in zip(ids, fine):
                want[i] = (c * (1 << 21) + 0) * (1 << 21) + int(f)
        assert got == want
        # leaf sizes are re-pinned near target (the point of the tier)
        from collections import Counter

        sizes = Counter(got.values())
        assert max(sizes.values()) <= 2 * target

    def test_tiered_kmeans_cell_cap_tiling(self, spark):
        """Cells above cell_cap split into deterministic hash tiles;
        every row keeps exactly one leaf assignment and the run is
        reproducible."""
        import random

        from nekton_spark.functions.clustering import kmeans

        rng = random.Random(5)
        # one tight clique so coarse k-means piles everything into few
        # cells; cell_cap=7 < ceil(60 / coarse_k=8) so BY PIGEONHOLE at
        # least one cell exceeds the cap whatever the seed draw —
        # tiling trips by construction, not by fixture luck
        vecs = [[1.0 + rng.gauss(0, 1e-3) for _ in range(4)] for _ in range(60)]
        df = self._emb_df(spark, vecs)
        out1 = sorted(
            (r.vec_id, r.cluster)
            for r in kmeans(
                df, k=30, max_k=8, target_cluster=5, cell_cap=7
            ).collect()
        )
        out2 = sorted(
            (r.vec_id, r.cluster)
            for r in kmeans(
                df, k=30, max_k=8, target_cluster=5, cell_cap=7
            ).collect()
        )
        assert out1 == out2
        assert len(out1) == 60 and len({i for i, _ in out1}) == 60
        # the clique cell (>12 rows) actually tiled: some tile bits set
        tiles = {(c >> 21) & ((1 << 21) - 1) for _, c in out1}
        assert len(tiles) > 1

    def test_semdedup_through_tiered_path(self, spark):
        """semdedup forwards the cap: with max_k forced below k the
        clusters are packed longs and a planted near-copy pair that
        shares a leaf is still flagged."""
        from nekton_spark.functions.clustering import semdedup

        # 30 spread points + a planted near-dup pair (ids 100, 101)
        import random

        rng = random.Random(3)
        # spread points have first coordinate 0 → cosine exactly 0
        # against the planted pair's [10, ~0, 0, 0] direction, so no
        # spread point can ever be dup evidence for ids 100/101
        # whatever leaf the clustering puts them in
        vecs = [
            (i, [0.0] + [rng.gauss(0, 1) for _ in range(3)]) for i in range(30)
        ]
        base = [10.0, 0.0, 0.0, 0.0]
        vecs += [(100, base), (101, [10.0, 1e-4, 0.0, 0.0])]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        rows = semdedup(
            df, k=12, max_k=8, target_cluster=10, tau=0.95, iters=2
        ).collect()
        by_id = {r.vec_id: r for r in rows}
        assert len(by_id) == 32
        same_leaf = by_id[100].cluster == by_id[101].cluster
        if same_leaf:
            assert by_id[100].is_dup == 0 and by_id[101].is_dup == 1

    def test_semdedup_marks_planted_duplicate(self, spark):
        from nekton_spark.functions.clustering import semdedup

        # id 3 is a near-copy of id 0 (same direction, scaled); id 4 is
        # orthogonal so it must survive even in the same cluster
        vecs = [
            [1.0, 0.0, 0.0],
            [-1.0, 0.0, 0.0],
            [0.99, 0.01, 0.0],
            [2.0, 0.001, 0.0],
            [0.0, 0.0, 5.0],
        ]
        df = self._emb_df(spark, vecs)
        rows = semdedup(df, k=2, iters=2, tau=0.95).orderBy("vec_id").collect()
        by_id = {r.vec_id: r.is_dup for r in rows}
        assert by_id[2] == 1 and by_id[3] == 1  # dups of id 0
        assert by_id[0] == 0 and by_id[1] == 0 and by_id[4] == 0

    def test_semdedup_zero_norm_vector_does_not_suppress_dups(self, spark):
        """A zero vector in a cluster yields 0/0 = NaN cosines; the
        column-max kernel must not let that NaN swallow the tile's
        genuine duplicate evidence (r6 ADVICE). The zero vector itself
        is never a dup (cosine defined 0 against everything)."""
        from nekton_spark.functions.clustering import semdedup

        vecs = [
            [1.0, 0.0, 0.0],
            [0.0, 0.0, 0.0],  # zero-norm: NaN hazard, must stay is_dup=0
            [1.0, 1e-4, 0.0],  # genuine near-copy of id 0
            [0.98, 0.02, 0.0],  # and another
        ]
        df = self._emb_df(spark, vecs)
        by_id = {
            r.vec_id: r.is_dup
            for r in semdedup(df, k=1, iters=1, tau=0.95).collect()
        }
        assert by_id[2] == 1 and by_id[3] == 1
        assert by_id[0] == 0 and by_id[1] == 0


class TestMultimodal:
    def test_decode_requires_fake_flag_for_unknown_mime(self, spark):
        """Mimes without a codec (PNG/JPEG/GIF/BMP are real as of r12,
        WebP and TIFF as of r15; AVIF etc. are not): the kernel raises
        at execution (mapInPandas is lazy, so the error surfaces
        wrapped in Spark's Python-worker exception). A supported mime
        with a garbage payload refuses as structural damage, not as a
        missing codec."""
        from pyspark.errors import PythonException

        from nekton_spark.functions.multimodal import decode_image, media_from_text

        media = media_from_text(docs_df(spark, ["x"]), mime="image/avif")
        with pytest.raises(PythonException, match="no codec for 'image/avif'"):
            decode_image(media).collect()
        gif = media_from_text(docs_df(spark, ["x"]), mime="image/gif")
        with pytest.raises(PythonException, match="not a GIF payload"):
            decode_image(gif).collect()
        tif = media_from_text(docs_df(spark, ["x"]), mime="image/tiff")
        with pytest.raises(
            PythonException, match="truncated TIFF|not a TIFF"
        ):
            decode_image(tif).collect()

    def test_null_text_becomes_empty_payload(self, spark):
        """Fuzz-seed-88 catch: a NULL-text doc must flow through
        media_from_text as an EMPTY payload (engine-wide NULL-text
        contract), NOT as a null payload that trips decode_image's
        deliberate null-media refusal and errors the whole query."""
        from nekton_spark.functions.multimodal import (
            decode_image,
            media_features,
            media_from_text,
        )

        df = spark.createDataFrame(
            [(0, "x"), (1, None)], "doc_id long, text string"
        )
        media = media_from_text(df, mime="image/png")
        feats = {r.doc_id: r for r in media_features(media).collect()}
        assert feats[1].n_bytes == 0
        dec = decode_image(media, fake=True, height=4, width=4)
        assert dec.count() == 2  # no refusal, both rows decode

    def test_video_frame_sample_real_mjpeg_avi(self, spark):
        """REAL video path: MJPEG AVI container round trip through the
        full Spark plan — every-2nd-frame sampling, closed-form pixels,
        skipped frames absent."""
        from nekton_spark.functions.multimodal import frame_sample, synth_avi_media

        df = spark.createDataFrame([(4,), (11,)], "doc_id long")
        rows = [
            (r.doc_id, r.frame_idx, r.dec_height, r.dec_width, r.pixels)
            for r in frame_sample(synth_avi_media(df), every=2).collect()
        ]
        got = {(d, f) for d, f, *_ in rows}
        # key 4: 2+4%3=3 frames → sampled {0, 2}; key 11: 4 frames → {0, 2}
        assert got == {(4, 0), (4, 2), (11, 0), (11, 2)}
        for d, f, h, w, pixels in rows:
            bx, by = 1 + d % 3, 1 + d % 2
            assert (h, w) == (by * 8, bx * 8)
            grid = [pixels[i * w : (i + 1) * w] for i in range(h)]
            for b in range(bx * by):
                yb, xb = divmod(b, bx)
                expect = (d * 31 + f * 19 + b * 17) % 256
                assert all(
                    grid[yb * 8 + y][xb * 8 + x] == expect
                    for y in range(8)
                    for x in range(8)
                )

    def test_video_non_avi_still_refuses(self, spark):
        """Inter-frame codecs stay refused: a non-AVI payload with a
        video mime raises rather than mis-parsing."""
        from pyspark.errors import PythonException

        from nekton_spark.functions.multimodal import frame_sample, media_from_text

        media = media_from_text(docs_df(spark, ["x"]), mime="video/mp4")
        with pytest.raises(PythonException, match="no video codec for 'video/mp4'"):
            frame_sample(media).collect()

    def test_fake_decode_deterministic(self, spark):
        from nekton_spark.functions.multimodal import decode_image, media_from_text

        media = media_from_text(docs_df(spark, ["payload one", "payload one"]))
        rows = decode_image(media, fake=True, height=4, width=4).collect()
        assert rows[0].pixels == rows[1].pixels
        assert len(rows[0].pixels) == 16

    def test_png_full_envelope_round_trips(self):
        """r12 PNG envelope: every legal (color type, depth) pair,
        interlaced and not, round-trips exactly — gray 1/2/4/8/16
        (sub-byte grays scale by the exact 255/(2^d−1) factor),
        RGB/gray+alpha/RGBA at 8/16 (16-bit → uint16), palette 1/2/4/8
        with PLTE expansion and tRNS→RGBA — across shapes that stress
        the Adam7 pass lattice (1×1, sub-8×8, non-multiples)."""
        from nekton_spark.functions.multimodal import (
            _png_decode,
            _png_encode_ex,
        )

        rng = np.random.RandomState(5)
        for h, w in [(1, 1), (3, 5), (8, 8), (7, 13), (16, 17), (2, 40)]:
            for il in (0, 1):
                for d in (1, 2, 4, 8, 16):
                    mx = (1 << d) - 1
                    s = rng.randint(0, mx + 1, (h, w))
                    got = _png_decode(_png_encode_ex(s, 0, d, interlace=il))
                    want = s * (255 // mx) if d < 8 else s
                    assert np.array_equal(got, want.astype(got.dtype)), (
                        "gray", d, il, h, w)
                for ct, nc in ((2, 3), (4, 2), (6, 4)):
                    for d in (8, 16):
                        s = rng.randint(0, 1 << d, (h, w, nc))
                        got = _png_decode(_png_encode_ex(s, ct, d, interlace=il))
                        assert np.array_equal(
                            got, s.astype(np.uint16 if d == 16 else np.uint8)
                        ), (ct, d, il, h, w)
                for d in (1, 2, 4, 8):
                    n = 1 << d
                    pal = rng.randint(0, 256, (n, 3)).astype(np.uint8)
                    idx = rng.randint(0, n, (h, w))
                    got = _png_decode(
                        _png_encode_ex(idx, 3, d, interlace=il, palette=pal)
                    )
                    assert np.array_equal(got, pal[idx]), ("pal", d, il, h, w)
                    tr = bytes(rng.randint(0, 256, min(n, 3)).tolist())
                    got = _png_decode(
                        _png_encode_ex(
                            idx, 3, d, interlace=il, palette=pal, trns=tr
                        )
                    )
                    alpha = np.full(n, 255, np.uint8)
                    alpha[: len(tr)] = np.frombuffer(tr, np.uint8)
                    assert np.array_equal(
                        got, np.dstack([pal[idx], alpha[idx]])
                    ), ("pal-trns", d, il, h, w)

    def test_png_envelope_refusals(self):
        """Illegal IHDR combinations, palette-without-PLTE, and
        out-of-range palette indices refuse with ValueError."""
        import struct
        import zlib as _z

        from nekton_spark.functions.multimodal import (
            _PNG_SIG,
            _png_chunk,
            _png_decode,
            _png_encode_ex,
        )

        def stream(depth, ctype, interlace=0, chunks=b""):
            ihdr = struct.pack(">IIBBBBB", 4, 4, depth, ctype, 0, 0, interlace)
            raw = bytes([0] + [0] * 4) * 4  # 4 rows, filter 0 (gray-8 size)
            return (
                _PNG_SIG
                + _png_chunk(b"IHDR", ihdr)
                + chunks
                + _png_chunk(b"IDAT", _z.compress(raw))
                + _png_chunk(b"IEND", b"")
            )

        with pytest.raises(ValueError, match="illegal PNG bit depth"):
            _png_decode(stream(3, 0))
        with pytest.raises(ValueError, match="illegal PNG bit depth"):
            _png_decode(stream(16, 3))
        with pytest.raises(ValueError, match="illegal PNG color type"):
            _png_decode(stream(8, 5))
        with pytest.raises(ValueError, match="interlace"):
            _png_decode(stream(8, 0, interlace=2))
        with pytest.raises(ValueError, match="without PLTE"):
            _png_decode(stream(4, 3))
        # palette index past the PLTE length
        pal = np.zeros((2, 3), dtype=np.uint8)
        idx = np.full((4, 4), 3)  # depth-2 indices, palette has 2 entries
        with pytest.raises(ValueError, match="out of PLTE range"):
            _png_decode(_png_encode_ex(idx, 3, 2, palette=pal))

    def test_decode_coverage_statuses_and_reason_codes(self, spark):
        """r12 telemetry: decode_coverage must reason-code every class
        of the mixed synthetic corpus correctly, and the refusal-code
        mapper must classify the codec modules' own exception wordings
        (unsupported SOF, truncation, unsupported mime) into stable
        codes."""
        from nekton_spark.functions.jpeg import jpeg_encode_blocks
        from nekton_spark.functions.multimodal import (
            _refusal_code,
            decode_coverage,
            synth_coverage_media,
        )

        ids = spark.range(0, 28).select(F.col("id").alias("doc_id"))
        rows = decode_coverage(synth_coverage_media(ids)).collect()
        got = {r.doc_id: (r.decode_status, r.decode_reason) for r in rows}
        for i in range(28):
            expect = {
                0: ("ok", "png"),
                1: ("ok", "jpeg"),
                2: ("ok", "jpeg"),
                3: ("refused", "truncated"),
                4: ("refused", "unsupported_mime"),
                5: ("ok", "webp"),  # r15: real VP8L decode
                6: ("refused", "lossy_webp"),
            }[i % 7]
            assert got[i] == expect, (i, got[i])
        # refusal-code mapper: drive the real decoder into each class
        from nekton_spark.functions.jpeg import jpeg_decode

        def code_of(payload):
            try:
                jpeg_decode(payload)
                return "ok"
            except (ValueError, NotImplementedError) as e:
                return _refusal_code(e)

        good = bytearray(jpeg_encode_blocks([5], 1, 8, 8))
        lossless = bytearray(good)
        lossless[lossless.index(b"\xff\xc0") + 1] = 0xC3
        assert code_of(bytes(lossless)) == "unsupported_sof"
        assert code_of(bytes(good[:12])) == "truncated"
        assert code_of(b"\x89PNG\r\n\x1a\n") == "bad_signature"
        # null media struct
        null_row = decode_coverage(
            ids.limit(1).withColumn(
                "media", F.lit(None).cast(
                    "struct<payload:binary,mime:string,meta:map<string,string>>"
                )
            )
        ).first()
        assert (null_row.decode_status, null_row.decode_reason) == (
            "null",
            "null_payload",
        )

    def test_media_features(self, spark):
        from nekton_spark.functions.multimodal import media_features, media_from_text

        media = media_from_text(docs_df(spark, ["abcd"]), mime="image/png")
        r = media_features(media).first()
        assert r.n_bytes == 4
        assert r.media_class == "image"

    def test_media_files_source_ingests_and_decodes(self, spark, tmp_path):
        """r12 media_files source (Spark binaryFile): raw image/audio
        files on disk ingest as (doc_id = xxhash64(path), media) rows
        — distributed listing, mime from extension, glob and
        max_bytes pushed to the scan — and the payloads decode EXACTLY
        through the normal operators."""
        from nekton_spark.functions.jpeg import (
            jpeg_encode_blocks,
            synth_block_values,
        )
        from nekton_spark.functions.multimodal import (
            _png_encode,
            _synth_pixels,
            decode_image,
        )
        from nekton_spark.sources.files import media_files_source

        d = tmp_path / "dump"
        d.mkdir()
        truths = {}
        for key in (3, 7):
            pix = _synth_pixels(key)
            (d / f"img{key}.png").write_bytes(_png_encode(pix))
            truths[f"img{key}.png"] = pix
        dcs, bx, w, h = synth_block_values(4)
        (d / "img4.jpg").write_bytes(jpeg_encode_blocks(dcs, bx, w, h))
        (d / "notes.txt").write_bytes(b"not media")
        src = media_files_source(spark, str(d))
        rows = src.collect()
        assert len(rows) == 4
        by_path = {r.media["meta"]["path"].rsplit("/", 1)[-1]: r for r in rows}
        assert by_path["img3.png"].media["mime"] == "image/png"
        assert by_path["img4.jpg"].media["mime"] == "image/jpeg"
        # r13: .txt maps to text/plain (the document router reads it);
        # unknown extensions still fall back to octet-stream
        assert by_path["notes.txt"].media["mime"] == "text/plain"
        assert len({r.doc_id for r in rows}) == 4  # stable distinct ids
        # decode the image subset exactly through the normal operator
        imgs = src.filter(F.col("media.mime").startswith("image/"))
        dec = {
            r.media["meta"]["path"].rsplit("/", 1)[-1]: r
            for r in decode_image(imgs).collect()
        }
        for name, pix in truths.items():
            assert dec[name].pixels == pix.ravel().tolist()
        # glob + max_bytes push to the listing
        assert media_files_source(spark, str(d), glob="*.png").count() == 2
        assert (
            media_files_source(spark, str(d), max_bytes=10).count() == 1
        )  # only the 9-byte txt survives
        # streaming: same rows through the file-stream source
        q = (
            media_files_source(spark, str(d), stream=True, glob="*.png")
            .writeStream.format("memory")
            .queryName("media_files_stream")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        got = spark.sql("SELECT count(*) c FROM media_files_stream").first().c
        assert got == 2

    def test_wav_envelope_round_trips_and_refusals(self, spark):
        """r12 audio envelope (from-spec RIFF parser): PCM 8/16/24/32
        and IEEE float 32/64 round-trip exactly — including the
        WAVE_FORMAT_EXTENSIBLE wrapper — and compressed format tags /
        structural damage refuse cleanly."""
        from nekton_spark.functions.multimodal import _wav_encode, _wav_parse

        rng = np.random.RandomState(3)
        for fmt, lim in [
            ("pcm8", 128), ("pcm16", 1 << 15), ("pcm24", 1 << 23),
            ("pcm32", 1 << 31), ("float32", 1 << 20), ("float64", 1 << 40),
        ]:
            n = int(rng.randint(5, 40))
            s = rng.randint(-lim, lim, n).astype(np.int64)
            if fmt.startswith("float"):
                s = s.astype(np.float64)
            for ext in (False, True):
                got_fmt, rate, nch, nf, out = _wav_parse(
                    _wav_encode(s, fmt, 8000, extensible=ext)
                )
                assert (got_fmt, rate, nch, nf) == (fmt, 8000, 1, n)
                assert np.array_equal(out, s), (fmt, ext)
        good = _wav_encode(np.arange(-8, 8), "pcm16", 8000)
        # compressed tag (MP3 = 0x0055) refuses as NotImplementedError
        import struct as _s

        mp3 = bytearray(good)
        i = mp3.index(b"fmt ") + 8
        mp3[i : i + 2] = _s.pack("<H", 0x0055)
        with pytest.raises(NotImplementedError, match="0x0055"):
            _wav_parse(bytes(mp3))
        with pytest.raises(ValueError, match="RIFF"):
            _wav_parse(b"OggS" + good[4:])
        with pytest.raises(ValueError, match="exceeds payload"):
            _wav_parse(good[:-3])
        # torn frame: data length not a multiple of blockalign
        torn = bytearray(good)
        j = torn.index(b"data") + 4
        (dlen,) = _s.unpack("<I", torn[j : j + 4])
        torn[j : j + 4] = _s.pack("<I", dlen - 1)
        with pytest.raises(ValueError, match="whole number of frames"):
            _wav_parse(bytes(torn[:-1]))

    def test_wav_g711_decode(self, spark):
        """G.711 µ-law/A-law (r12): spec anchor codewords, exact
        codeword round trip through RIFF, the synth row's closed-form
        rms, and the illegal-bit-depth refusal."""
        import math
        import struct as _s

        from nekton_spark.functions.multimodal import (
            _ALAW_TABLE,
            _ULAW_TABLE,
            _wav_encode,
            _wav_parse,
            decode_audio,
            synth_wav_g711_media,
        )

        # ITU-T G.711 anchors: both µ-law zero codes; ±max; A-law ±8
        # at 0xD5/0x55 (sign bit SET is positive) and ±max
        assert _ULAW_TABLE[0xFF] == 0 and _ULAW_TABLE[0x7F] == 0
        assert _ULAW_TABLE[0x80] == 32124 and _ULAW_TABLE[0x00] == -32124
        assert _ALAW_TABLE[0xD5] == 8 and _ALAW_TABLE[0x55] == -8
        assert _ALAW_TABLE[0xAA] == 32256 and _ALAW_TABLE[0x2A] == -32256

        b = np.arange(256)
        for fmt, table, ext in (
            ("ulaw", _ULAW_TABLE, False),
            ("alaw", _ALAW_TABLE, True),
        ):
            got_fmt, rate, nch, nf, s = _wav_parse(
                _wav_encode(b, fmt, 8000, extensible=ext)
            )
            assert (got_fmt, rate, nch, nf) == (fmt, 8000, 1, 256)
            assert np.array_equal(s, table[b])

        df = spark.createDataFrame([(4,), (9,)], "doc_id long")
        rows = {
            r.doc_id: r
            for r in decode_audio(synth_wav_g711_media(df)).collect()
        }
        for key in (4, 9):
            n = 64 + key % 64
            cw = (key * 31 + np.arange(n) * 17) % 256
            lin = (_ULAW_TABLE if key % 2 == 0 else _ALAW_TABLE)[cw]
            r = rows[key]
            assert r.fmt == ("ulaw", "alaw")[key % 2]
            assert (r.sample_rate, r.n_samples) == (8000, n)
            assert r.rms == math.sqrt(int((lin * lin).sum()) / n)

        # G.711 with a non-8 bit depth is structural damage, not a
        # missing codec
        bad = bytearray(_wav_encode(b, "ulaw", 8000))
        i = bad.index(b"fmt ") + 8
        bad[i + 14 : i + 16] = _s.pack("<H", 16)  # bits field
        with pytest.raises(ValueError, match="illegal WAV bit depth"):
            _wav_parse(bytes(bad))

    def test_wav_codec_round_trip(self, spark):
        """Real WAV bytes: the payload must be a parseable RIFF/WAVE
        file whose decoded features match the synthesis closed form."""
        import math

        from nekton_spark.functions.multimodal import (
            _synth_samples,
            decode_audio,
            synth_wav_media,
        )

        df = spark.createDataFrame([(7,), (300,)], "doc_id long")
        rows = {r.doc_id: r for r in decode_audio(synth_wav_media(df)).collect()}
        for key in (7, 300):
            n = 256 + key % 256
            s = _synth_samples(key, n).astype("int64")
            r = rows[key]
            assert (r.sample_rate, r.n_channels, r.n_samples) == (8000, 1, n)
            assert r.duration_ms == n * 1000.0 / 8000
            assert r.rms == math.sqrt(int((s * s).sum()) / n)
            # and the raw bytes really are a WAV file
            assert r.media["payload"][:4] == b"RIFF"
            assert r.media["payload"][8:12] == b"WAVE"

    def test_png_codec_round_trip_pure(self):
        """Every scanline filter type (encoder cycles y % 5) must
        invert exactly, for every w/h residue class the synth covers."""
        from nekton_spark.functions.multimodal import (
            _png_decode,
            _png_encode,
            _synth_pixels,
        )

        for key in range(70):  # covers all (key%9, key%7) shape combos + filters
            pix = _synth_pixels(key)
            back = _png_decode(_png_encode(pix))
            assert back.shape == pix.shape
            assert (back == pix).all()

    def test_png_color_codec_round_trip_pure(self):
        """Truecolor-8 (RGB) PNG round trip (r8): per-BYTE filtering
        with the left neighbor bpp=3 back must invert exactly across
        every filter type and synth shape — plus random pixels, which
        exercise filter deltas the closed form never produces."""
        import numpy as np

        from nekton_spark.functions.multimodal import (
            _png_decode,
            _png_encode,
            _synth_pixels_color,
        )

        for key in range(70):
            pix = _synth_pixels_color(key)
            back = _png_decode(_png_encode(pix))
            assert back.shape == pix.shape == (8 + key % 7, 8 + key % 9, 3)
            assert (back == pix).all()
        rng = np.random.default_rng(9)
        for h, w in [(1, 1), (5, 2), (11, 13)]:
            pix = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            assert (_png_decode(_png_encode(pix)) == pix).all()

    def test_gif_codec_round_trip_pure(self):
        """GIF LZW + container: the hand-derived spec anchor stream,
        round trips across palette sizes / interlace / transparency /
        table growth, KwKwK, animation frames."""
        from nekton_spark.functions.gif import (
            _lzw_decode,
            _lzw_encode,
            gif_decode,
            gif_decode_frames,
            gif_encode,
            gif_frame_count,
        )

        # Hand-derived bit-level anchor (GIF89a appendix F semantics,
        # min_code=2, indices [0,1,0,1]): codes clear=4(w3), 0(w3),
        # 1(w3), 6(w3, the new "01" entry), eoi=5(w4 — the slot counter
        # advances on the flushed code and crosses 8). LSB-first
        # packing gives exactly 0x44 0x5C.
        assert _lzw_encode(bytes([0, 1, 0, 1]), 2) == bytes.fromhex("445c")
        assert _lzw_decode(bytes.fromhex("445c"), 2, 4) == bytes([0, 1, 0, 1])

        rng = np.random.default_rng(11)
        for n_col, shape, inter, tr in [
            (2, (5, 7), False, None),
            (4, (8, 8), True, None),
            (16, (11, 13), False, 3),
            (256, (16, 9), True, None),
            (256, (1, 1), False, 0),
        ]:
            pal = rng.integers(0, 256, (n_col, 3), dtype=np.uint8)
            idx = rng.integers(0, n_col, shape, dtype=np.uint8)
            out = gif_decode(
                gif_encode(idx, pal, interlace=inter, transparent_index=tr)
            )
            if tr is None:
                assert (out == pal[idx]).all()
            else:
                assert (out[:, :, :3] == pal[idx]).all()
                assert (
                    out[:, :, 3] == np.where(idx == tr, 0, 255)
                ).all()

        # table growth deep into 9..12-bit codes + the freeze-clear
        big = (
            np.add.outer(
                np.arange(300, dtype=np.int64), np.arange(256, dtype=np.int64)
            )
            % 251
        ).astype(np.uint8)
        pal = rng.integers(0, 256, (256, 3), dtype=np.uint8)
        assert (gif_decode(gif_encode(big, pal)) == pal[big]).all()

        # KwKwK-dense stream (constant image)
        kw = np.zeros((64, 64), dtype=np.uint8)
        assert (gif_decode(gif_encode(kw, pal[:2])) == pal[:2][kw]).all()

        # animation: per-frame decode + count
        frames = [rng.integers(0, 16, (6, 6), dtype=np.uint8) for _ in range(4)]
        p = gif_encode(frames, rng.integers(0, 256, (16, 3), dtype=np.uint8))
        assert gif_frame_count(p) == 4
        outs = gif_decode_frames(p)
        assert all((o[:, :, :3] == 0).sum() >= 0 for o in outs)

    def test_gif_subcanvas_composition(self):
        """r13 (r12 verdict #3): delta frames composite exactly —
        transparent-index holes reveal the prior canvas, disposal 2
        clears the patch rectangle to transparent, and pixels never
        written stay alpha-0."""
        from nekton_spark.functions.gif import (
            gif_decode,
            gif_decode_frames,
            gif_encode,
            gif_encode_anim,
        )

        pal = (np.arange(16 * 3, dtype=np.uint8) * 5 % 256).reshape(16, 3)
        base = (np.add.outer(np.arange(6), np.arange(8)) % 16).astype(np.uint8)
        patch = ((np.add.outer(np.arange(3), np.arange(4)) + 7) % 16).astype(
            np.uint8
        )
        patch[1, 2] = 9  # the transparent hole

        # frame 0 full canvas; frame 1: 4x3 patch at (2,1) with
        # transparent index 9 and disposal 2; frame 2: full canvas
        p = gif_encode_anim(
            [
                {"indices": base, "disposal": 1},
                {"indices": patch, "x0": 2, "y0": 1, "transparent": 9,
                 "disposal": 2},
                {"indices": (base + 1) % 16},
            ],
            pal,
            (8, 6),
        )
        f0, f1, f2 = gif_decode_frames(p)
        assert f0.shape == f1.shape == f2.shape == (6, 8, 4)
        # frame 0: base everywhere, opaque
        assert (f0[:, :, :3] == pal[base]).all() and (f0[:, :, 3] == 255).all()
        # frame 1: patch lands except the hole (prior canvas shows)
        exp1 = pal[base].copy()
        for py in range(3):
            for px in range(4):
                if patch[py, px] != 9:
                    exp1[1 + py, 2 + px] = pal[patch[py, px]]
        assert (f1[:, :, :3] == exp1).all() and (f1[:, :, 3] == 255).all()
        # frame 2 is full-canvas: overwrites everything incl. the
        # disposal-2-cleared rectangle
        assert (f2[:, :, :3] == pal[(base + 1) % 16]).all()
        assert (f2[:, :, 3] == 255).all()

        # disposal 2 visibility: drop frame 2 — after the clear, a
        # THIRD frame that paints nothing would show the hole; verify
        # via a sub-canvas first frame instead (never-written pixels
        # stay alpha 0)
        q = gif_encode_anim(
            [{"indices": patch, "x0": 2, "y0": 1, "transparent": 9}],
            pal,
            (8, 6),
        )
        g = gif_decode(q)
        assert g.shape == (6, 8, 4)
        n_opaque = int((patch != 9).sum())
        assert (g[:, :, 3] == 0).sum() == 8 * 6 - n_opaque
        assert g[1 + 1, 2 + 2, 3] == 0  # the hole itself is transparent
        assert (g[1, 2, :3] == pal[patch[0, 0]]).all()

        # disposal-2 clear feeds the NEXT frame: repeat frame-1 patch
        # twice; second application lands on the CLEARED region, so
        # the hole pixel is transparent (not base)
        r2 = gif_encode_anim(
            [
                {"indices": base, "disposal": 1},
                {"indices": patch, "x0": 2, "y0": 1, "transparent": 9,
                 "disposal": 2},
                {"indices": patch, "x0": 2, "y0": 1, "transparent": 9},
            ],
            pal,
            (8, 6),
        )
        h0, h1, h2 = gif_decode_frames(r2)
        assert h1[2, 4, 3] == 255  # hole shows base in frame 1
        assert (h1[2, 4, :3] == pal[base[2, 4]]).all()
        assert h2[2, 4, 3] == 0  # after the clear, the hole is empty

        # legacy byte-identity: an all-full-canvas animation decodes
        # exactly as gif_encode/gif_decode_frames always did (RGB)
        frames = [base, (base + 1) % 16]
        legacy = gif_decode_frames(gif_encode(frames, pal))
        assert legacy[0].shape == (6, 8, 3)
        assert (legacy[1] == pal[(base + 1) % 16]).all()

    def test_gif_decode_rejects_corruption(self):
        import struct as _s

        from nekton_spark.functions.gif import gif_decode, gif_encode

        pal = np.arange(48, dtype=np.uint8).reshape(16, 3)
        idx = (np.add.outer(np.arange(9), np.arange(8)) % 16).astype(np.uint8)
        good = bytearray(gif_encode(idx, pal))

        with pytest.raises(ValueError, match="signature"):
            gif_decode(b"JIF89a" + bytes(good[6:]))
        with pytest.raises(ValueError, match="truncated"):
            gif_decode(bytes(good[:-5]))
        # missing trailer
        with pytest.raises(ValueError, match="trailer"):
            gif_decode(bytes(good[:-1]))
        # zero dims
        zd = bytearray(good)
        zd[6:8] = _s.pack("<H", 0)
        with pytest.raises(ValueError, match="zero-dimension"):
            gif_decode(bytes(zd))
        # forged-huge LSD refuses before allocation
        huge = bytearray(good)
        huge[6:10] = _s.pack("<HH", 60000, 60000)
        with pytest.raises(ValueError, match="decode cap"):
            gif_decode(bytes(huge))
        # a frame rectangle hanging off the canvas refuses (r13: sub-
        # canvas frames now COMPOSITE, so the bounds check is what's
        # left of the old refusal)
        sub = bytearray(good)
        di = sub.index(0x2C, 13 + 48)  # image separator after GCT
        sub[di + 1 : di + 3] = _s.pack("<H", 1)  # x0 = 1, fw still = sw
        with pytest.raises(ValueError, match="exceeds"):
            gif_decode(bytes(sub))
        # reserved disposal methods 4-7 refuse (3 decodes since r14)
        from nekton_spark.functions.gif import gif_encode_anim

        d5 = bytearray(
            gif_encode_anim(
                [{"indices": idx, "disposal": 1}], pal, (8, 9)
            )
        )
        gce = d5.index(0xF9, 13)  # GCE label after GCT
        d5[gce + 2] = (5 << 2)  # reserved disposal 5
        with pytest.raises(NotImplementedError, match="reserved"):
            gif_decode(bytes(d5))

    def test_gif_disposal3_restore_to_previous(self):
        """r14 (r13 verdict #5): after a disposal-3 frame is emitted,
        its patch RECTANGLE reverts to the pre-render pixels — the
        next frame composites over the RESTORED canvas, not over the
        disposal-3 frame's paint."""
        from nekton_spark.functions.gif import (
            gif_decode_frames,
            gif_encode,
            gif_encode_anim,
        )

        pal = (np.arange(16 * 3, dtype=np.uint8) * 5 % 256).reshape(16, 3)
        base = (np.add.outer(np.arange(6), np.arange(8)) % 16).astype(np.uint8)
        big = ((np.add.outer(np.arange(4), np.arange(5)) + 7) % 16).astype(
            np.uint8
        )
        small = ((np.add.outer(np.arange(2), np.arange(2)) + 3) % 16).astype(
            np.uint8
        )
        p = gif_encode_anim(
            [
                {"indices": base, "disposal": 1},
                {"indices": big, "x0": 1, "y0": 1, "disposal": 3},
                {"indices": small, "x0": 2, "y0": 2, "disposal": 1},
            ],
            pal,
            (8, 6),
        )
        f0, f1, f2 = gif_decode_frames(p)
        # frame 1 shows the disposal-3 paint while current
        exp1 = pal[base].copy()
        exp1[1:5, 1:6] = pal[big]
        assert (f1[:, :, :3] == exp1).all() and (f1[:, :, 3] == 255).all()
        # frame 2: big's rectangle REVERTED to base; only small lands
        exp2 = pal[base].copy()
        exp2[2:4, 2:4] = pal[small]
        assert (f2[:, :, :3] == exp2).all() and (f2[:, :, 3] == 255).all()
        # the ring big covered but small does not shows BASE pixels
        assert (f2[1, 1, :3] == pal[base[1, 1]]).all()
        assert (f2[4, 5, :3] == pal[base[4, 5]]).all()

        # a full-canvas animation containing a disposal-3 frame with a
        # transparent hole must NOT take the legacy independent path:
        # the hole in frame 2 reveals frame 0 (restored), not frame 1
        holed = base.copy()
        holed[3, 3] = 9
        q = gif_encode_anim(
            [
                {"indices": (base + 5) % 16, "disposal": 1},
                {"indices": base, "transparent": 9, "disposal": 3},
                {"indices": holed, "transparent": 9},
            ],
            pal,
            (8, 6),
        )
        g0, g1, g2 = gif_decode_frames(q)
        assert g2.shape == (6, 8, 4)
        assert (g2[3, 3, :3] == pal[(base[3, 3] + 5) % 16]).all()

    def test_gif_spark_decode(self, spark):
        """decode_image over image/gif media: RGB and RGBA rows, and
        decode_coverage tags 'gif'."""
        from nekton_spark.functions.gif import gif_decode
        from nekton_spark.functions.multimodal import (
            decode_coverage,
            decode_image,
            synth_gif_media,
        )

        df = spark.createDataFrame([(3,), (10,)], "doc_id long")
        rows = {
            r.doc_id: r for r in decode_image(synth_gif_media(df)).collect()
        }
        for key in (3, 10):
            n = 1 << (1, 2, 4, 8)[key % 4]
            w, h = 8 + key % 9, 8 + key % 7
            i = np.arange(n)
            pal = np.stack(
                [(key * 7 + i * 13 + c * 29) % 256 for c in range(3)], axis=1
            )
            yy, xx = np.mgrid[0:h, 0:w]
            idxm = (key + 3 * yy + xx) % n
            exp = pal[idxm]
            if key % 5 == 0:
                alpha = np.where(idxm == key % n, 0, 255)
                exp = np.dstack([exp, alpha])
            r = rows[key]
            assert (r.dec_height, r.dec_width) == (h, w)
            assert r.pixels == exp.ravel().astype(np.int64).tolist()
        cov = decode_coverage(synth_gif_media(df)).collect()
        assert {(r.decode_status, r.decode_reason) for r in cov} == {
            ("ok", "gif")
        }

    def test_gif_frame_sample(self, spark):
        """frame_sample over animated GIF: every-2nd sampling decodes
        only the sampled frames, values match the synth closed form."""
        from nekton_spark.functions.multimodal import (
            frame_sample,
            synth_gif_anim_media,
        )

        df = spark.createDataFrame([(2,), (3,), (5,)], "doc_id long")
        got = {}
        for r in frame_sample(synth_gif_anim_media(df), every=2).collect():
            got.setdefault(r.doc_id, {})[r.frame_idx] = r
        # F = 2 + key%3: keys 2/5 -> 4 frames -> sampled {0, 2}
        # (delta-frame keys: composited RGBA); key 3 -> 2 full-canvas
        # frames -> sampled {0} (legacy RGB path)
        assert set(got[2]) == {0, 2} and set(got[5]) == {0, 2}
        assert set(got[3]) == {0}
        for key in (2, 3, 5):
            w, h = 8 + key % 9, 8 + key % 7
            i = np.arange(16)
            pal = np.stack(
                [(key * 7 + i * 13 + c * 29) % 256 for c in range(3)], axis=1
            )
            yy, xx = np.mgrid[0:h, 0:w]
            for f in sorted(got[key]):
                r = got[key][f]
                assert (r.dec_height, r.dec_width) == (h, w)
                if key % 3 == 0:
                    exp = pal[(key + f + 3 * yy + xx) % 16]
                else:
                    # composited canvas, alpha 255. m=1: interior
                    # (1,1)-inset = frame-f colors. m=2 (r14 disposal
                    # 3): frame 1's (1,1) patch was REVERTED, so
                    # sampled frame 2 shows frame-f colors only in the
                    # smaller (2,2)-inset rect, frame-0 elsewhere.
                    eff = np.zeros((h, w), dtype=np.int64)
                    if f > 0 and key % 3 == 1:
                        eff[1 : h - 1, 1 : w - 1] = f
                    elif f > 0:
                        eff[2 : h - 2, 2 : w - 2] = f
                    rgb = pal[(key + eff + 3 * yy + xx) % 16]
                    exp = np.dstack([rgb, np.full((h, w), 255)])
                assert r.pixels == exp.ravel().astype(np.int64).tolist()

    def test_bmp_codec_round_trip_pure(self):
        """BMP envelope: 24/32-bit BGR(x), indexed 1/4/8 (bit packing
        + 4-byte padding), BI_RLE8, both row orientations."""
        from nekton_spark.functions.bmp import bmp_decode, bmp_encode

        rng = np.random.default_rng(13)
        for bpp in (24, 32):
            for td in (False, True):
                for shape in [(5, 7, 3), (3, 1, 3), (1, 3, 3)]:
                    img = rng.integers(0, 256, shape, dtype=np.uint8)
                    assert (
                        bmp_decode(bmp_encode(img, bpp, top_down=td)) == img
                    ).all()
        for bpp in (1, 4, 8):
            n = 1 << bpp
            pal = rng.integers(0, 256, (n, 3), dtype=np.uint8)
            idx = rng.integers(0, n, (6, 9), dtype=np.uint8)
            for td in (False, True):
                got = bmp_decode(
                    bmp_encode(idx, bpp, palette=pal, top_down=td)
                )
                assert (got == pal[idx]).all()
        # RLE8: runs, row ends, absolute-free encoded stream
        pal = rng.integers(0, 256, (256, 3), dtype=np.uint8)
        idx = np.repeat(
            rng.integers(0, 256, (9, 4), dtype=np.uint8), 3, axis=1
        )
        assert (
            bmp_decode(bmp_encode(idx, 8, palette=pal, rle8=True))
            == pal[idx]
        ).all()

    def test_bmp_decode_rejects_corruption(self):
        import struct as _s

        from nekton_spark.functions.bmp import bmp_decode, bmp_encode

        rng = np.random.default_rng(17)
        good = bytearray(
            bmp_encode(rng.integers(0, 256, (4, 4, 3), dtype=np.uint8), 24)
        )
        with pytest.raises(ValueError, match="signature"):
            bmp_decode(b"XX" + bytes(good[2:]))
        with pytest.raises(ValueError, match="truncated"):
            bmp_decode(bytes(good[:-7]))
        bad = bytearray(good)
        bad[30:34] = _s.pack("<I", 3)  # BI_BITFIELDS
        with pytest.raises(NotImplementedError, match="compression"):
            bmp_decode(bytes(bad))
        huge = bytearray(good)
        huge[18:26] = _s.pack("<ii", 60000, 60000)
        with pytest.raises(ValueError, match="decode cap"):
            bmp_decode(bytes(huge))
        # RLE delta escape refuses (undefined pixels)
        pal = rng.integers(0, 256, (256, 3), dtype=np.uint8)
        r = bytearray(
            bmp_encode(
                np.zeros((3, 3), dtype=np.uint8), 8, palette=pal, rle8=True
            )
        )
        off = _s.unpack("<I", r[10:14])[0]
        r[off : off + 2] = b"\x00\x02"  # first pair → delta
        with pytest.raises(NotImplementedError, match="delta"):
            bmp_decode(bytes(r))

    def test_bmp_spark_decode(self, spark):
        from nekton_spark.functions.multimodal import (
            decode_coverage,
            decode_image,
            synth_bmp_media,
        )

        df = spark.createDataFrame([(2,), (7,)], "doc_id long")
        rows = {
            r.doc_id: r for r in decode_image(synth_bmp_media(df)).collect()
        }
        for key in (2, 7):  # key 2: 8-bit RLE leg; key 7: 24-bit top-down
            n = (2, 16, 256, 256)[key % 4]
            w, h = 8 + key % 9, 8 + key % 7
            i = np.arange(n)
            pal = np.stack(
                [(key * 7 + i * 13 + c * 29) % 256 for c in range(3)], axis=1
            )
            yy, xx = np.mgrid[0:h, 0:w]
            exp = pal[(key + 3 * yy + xx) % n]
            r = rows[key]
            assert (r.dec_height, r.dec_width) == (h, w)
            assert r.pixels == exp.ravel().astype(np.int64).tolist()
        cov = decode_coverage(synth_bmp_media(df)).collect()
        assert {(r.decode_status, r.decode_reason) for r in cov} == {
            ("ok", "bmp")
        }

    def test_png_decode_rejects_corruption(self):
        from nekton_spark.functions.multimodal import _png_decode, _png_encode, _synth_pixels

        good = bytearray(_png_encode(_synth_pixels(5)))
        good[30] ^= 0xFF  # flip a byte inside IDAT
        with pytest.raises(ValueError, match="bad CRC"):
            _png_decode(bytes(good))
        with pytest.raises(ValueError, match="not a PNG"):
            _png_decode(b"GIF89a....")

    def test_png_decode_refuses_decompression_bomb(self):
        """r8 ADVICE: a small CRC-valid payload whose IDAT inflates past
        the IHDR-declared size must refuse WITHOUT materializing the
        inflated stream (capped decompressobj), and a forged IHDR
        declaring huge dimensions must refuse before any inflate."""
        import struct
        import zlib

        import numpy as np

        from nekton_spark.functions.multimodal import _png_decode, _png_encode

        def chunk(tag, body):
            return (
                struct.pack(">I", len(body))
                + tag
                + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
            )

        sig = b"\x89PNG\r\n\x1a\n"
        # declares 4x4 grayscale (expected 4*(4+1)=20 bytes) but the
        # ~64 KB IDAT inflates to 64 MB of zeros: the cap must stop at
        # 21 bytes and refuse
        ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
        bomb_idat = zlib.compress(b"\x00" * (64 << 20))
        assert len(bomb_idat) < (1 << 17)  # the payload itself is small
        bomb = (
            sig
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", bomb_idat)
            + chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="inconsistent with IHDR"):
            _png_decode(bomb)
        # forged IHDR declaring 2^15 x 2^15 pixels: refused by the
        # pixel-count cap before any allocation
        huge_ihdr = struct.pack(">IIBBBBB", 1 << 15, 1 << 15, 8, 0, 0, 0, 0)
        huge = sig + chunk(b"IHDR", huge_ihdr) + chunk(b"IEND", b"")
        with pytest.raises(ValueError, match="decode cap"):
            _png_decode(huge)
        # zero-dimension refusal
        zero_ihdr = struct.pack(">IIBBBBB", 0, 4, 8, 0, 0, 0, 0)
        zero = sig + chunk(b"IHDR", zero_ihdr) + chunk(b"IEND", b"")
        with pytest.raises(ValueError, match="zero-dimension"):
            _png_decode(zero)
        # a legitimate encode still round-trips through the new guards
        pix = (np.arange(12, dtype=np.uint8) % 7).reshape(3, 4)
        assert (_png_decode(_png_encode(pix)) == pix).all()

    def test_png_codec_spark_round_trip(self, spark):
        """Real PNG bytes through the full Spark path: synthesize,
        decode, compare pixels to the closed form; payload must carry
        the genuine PNG signature."""
        from nekton_spark.functions.multimodal import (
            _synth_pixels,
            decode_image,
            synth_png_media,
        )

        df = spark.createDataFrame([(3,), (40,)], "doc_id long")
        rows = {r.doc_id: r for r in decode_image(synth_png_media(df)).collect()}
        for key in (3, 40):
            pix = _synth_pixels(key)
            r = rows[key]
            assert (r.dec_height, r.dec_width) == pix.shape
            assert r.pixels == pix.ravel().tolist()
            assert bytes(r.media["payload"][:8]) == b"\x89PNG\r\n\x1a\n"


class TestJpegCodec:
    def test_round_trip_exact_closed_form(self):
        """Every (key%3, key%2) geometry and a wide range of DC values:
        decode(encode(blocks)) must equal the integer closed form."""
        from nekton_spark.functions.jpeg import (
            jpeg_decode,
            jpeg_encode_blocks,
            synth_block_values,
        )

        for key in range(0, 120, 1):
            dcs, bx, w, h = synth_block_values(key)
            pix = jpeg_decode(jpeg_encode_blocks(dcs, bx, w, h))
            assert pix.shape == (h, w)
            for b, dc in enumerate(dcs):
                yb, xb = divmod(b, bx)
                blk = pix[yb * 8 : yb * 8 + 8, xb * 8 : xb * 8 + 8]
                assert (blk == (key * 31 + b * 17) % 256).all()

    def test_ac_coefficients_decode_like_reference_idct(self):
        """Decoder generality beyond the DC-only fixture: hand-build an
        entropy-coded scan with AC coefficients (run-lengths, ZRL, EOB)
        and compare against a straight numpy IDCT of the same
        dequantized coefficient block."""
        import numpy as np

        from nekton_spark.functions import jpeg as J

        # coefficients in zigzag scan order: DC, a few ACs, a long zero
        # run forcing ZRL, then a tail coefficient
        coeffs = {0: 13, 1: -7, 5: 3, 28: -2, 50: 1}
        dc_codes = J._canonical_codes(J.DC_BITS, J.DC_VALS)
        ac_codes = J._canonical_codes(J.AC_BITS, J.AC_VALS)
        w = J._BitWriter()
        s = J._category(coeffs[0])
        code, ln = dc_codes[s]
        w.write(code, ln)
        w.write(coeffs[0] if coeffs[0] >= 0 else coeffs[0] + (1 << s) - 1, s)
        k = 1
        ac_keys = sorted(kk for kk in coeffs if kk > 0)
        for kk in ac_keys:
            run = kk - k
            while run >= 16:
                code, ln = ac_codes[0xF0]  # ZRL
                w.write(code, ln)
                run -= 16
            v = coeffs[kk]
            size = J._category(v)
            code, ln = ac_codes[(run << 4) | size]
            w.write(code, ln)
            w.write(v if v >= 0 else v + (1 << size) - 1, size)
            k = kk + 1
        code, ln = ac_codes[0x00]  # EOB
        w.write(code, ln)
        scan = w.flush()

        dqt = bytes([0x00]) + bytes(J.Q_TABLE[J.ZIGZAG[i]] for i in range(64))
        sof0 = __import__("struct").pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
        dht = (
            bytes([0x00]) + bytes(J.DC_BITS) + bytes(J.DC_VALS)
            + bytes([0x10]) + bytes(J.AC_BITS) + bytes(J.AC_VALS)
        )
        sos = bytes([1, 1, 0x00, 0, 63, 0])
        payload = (
            b"\xff\xd8"
            + J._marker(0xFFDB, dqt)
            + J._marker(0xFFC0, sof0)
            + J._marker(0xFFC4, dht)
            + J._marker(0xFFDA, sos)
            + scan
            + b"\xff\xd9"
        )
        got = J.jpeg_decode(payload)

        fq = np.zeros(64)
        for kk, v in coeffs.items():
            fq[J.ZIGZAG[kk]] = v * J.Q_TABLE[J.ZIGZAG[kk]]
        ref = np.clip(np.round(J._A.T @ fq.reshape(8, 8) @ J._A + 128.0), 0, 255)
        assert (got == ref.astype(np.uint8)).all()

    def test_restart_interval_round_trip(self):
        """r12 DRI/RSTn (T.81 §B.2.4.4/E.2.4): streams with restart
        intervals decode to EXACTLY the same pixels as the same blocks
        without restarts — grayscale (block = MCU), 4:2:0 interleaved
        (16×16 MCU), and a long stream whose RSTn sequence wraps the
        modulo-8 counter more than once."""
        from nekton_spark.functions.jpeg import (
            jpeg_decode,
            jpeg_encode_blocks,
            jpeg_encode_blocks_420,
            synth_420_block_values,
            synth_block_values,
        )

        for key in range(24):
            dcs, bx, w, h = synth_block_values(key)
            base = jpeg_decode(jpeg_encode_blocks(dcs, bx, w, h))
            for ri in (1, 2, 5):
                got = jpeg_decode(
                    jpeg_encode_blocks(dcs, bx, w, h, restart_interval=ri)
                )
                assert np.array_equal(got, base), (key, ri)
            dy, dcb, dcr, mx, w2, h2 = synth_420_block_values(key)
            base2 = jpeg_decode(jpeg_encode_blocks_420(dy, dcb, dcr, mx, w2, h2))
            got2 = jpeg_decode(
                jpeg_encode_blocks_420(
                    dy, dcb, dcr, mx, w2, h2, restart_interval=1 + key % 3
                )
            )
            assert np.array_equal(got2, base2), key
        # 24 blocks at interval 1 → RST0..RST7 cycles ~3×
        dcs = [((7 * b) % 200) - 100 for b in range(24)]
        a = jpeg_decode(jpeg_encode_blocks(dcs, 4, 32, 48))
        b = jpeg_decode(jpeg_encode_blocks(dcs, 4, 32, 48, restart_interval=1))
        assert np.array_equal(a, b)

    def test_restart_marker_refusals(self):
        """Restart streams refuse, never desynchronize: out-of-sequence
        RSTn, a missing RSTn where DRI demands one, an unexpected RSTn
        with no DRI, and a truncated DRI segment."""
        import struct

        from nekton_spark.functions.jpeg import (
            jpeg_decode,
            jpeg_encode_blocks,
        )

        dcs = [((7 * b) % 200) - 100 for b in range(8)]
        p = bytes(jpeg_encode_blocks(dcs, 4, 32, 16, restart_interval=1))
        i = p.find(b"\xff\xd0")
        with pytest.raises(ValueError, match="out of sequence"):
            jpeg_decode(p[: i + 1] + bytes([0xD6]) + p[i + 2 :])
        # DRI declared on a stream with no RSTn markers
        q = bytes(jpeg_encode_blocks(dcs, 4, 32, 16))
        sos = q.find(b"\xff\xda")
        dri = b"\xff\xdd" + struct.pack(">HH", 4, 2)
        with pytest.raises(ValueError, match="expected RST"):
            jpeg_decode(q[:sos] + dri + q[sos:])
        # RSTn present but NO DRI: the reader hits it mid-entropy
        no_dri = p[:2] + p[2:].replace(b"\xff\xdd\x00\x04\x00\x01", b"")
        assert no_dri != p  # the DRI segment was present and removed
        with pytest.raises(ValueError, match="restart marker"):
            jpeg_decode(no_dri)
        # truncated DRI body
        bad_dri = q[:sos] + b"\xff\xdd" + struct.pack(">H", 3) + b"\x00" + q[sos:]
        with pytest.raises(ValueError, match="DRI"):
            jpeg_decode(bad_dri)

    def _sparse_blocks(self, rng, nb, density=0.15, amp=40):
        rows = np.zeros((nb, 64), dtype=np.int64)
        for b in range(nb):
            rows[b, 0] = rng.randint(-120, 121)
            nz = rng.rand(63) < density
            rows[b, 1:][nz] = rng.randint(-amp, amp + 1, nz.sum())
        return rows

    def test_progressive_gray_exact_all_scan_scripts(self):
        """r12 SOF2: progressive decode must equal the direct
        dequant+IDCT of the encoded coefficients for every scan-script
        shape — successive approximation Al up to 3, split spectral
        bands, restart intervals inside scans, and the degenerate
        no-approximation script."""
        from nekton_spark.functions.jpeg import (
            Q_TABLE,
            _idct_plane,
            jpeg_decode,
            jpeg_encode_progressive,
        )

        q = np.array(Q_TABLE, dtype=np.float64)
        rng = np.random.RandomState(11)
        scripts = [
            dict(),
            dict(dc_al=2, ac_al=2),
            dict(bands=((1, 5), (6, 63))),
            dict(dc_al=0, ac_al=0),
            dict(restart_interval=2),
            dict(dc_al=2, ac_al=1, bands=((1, 2), (3, 20), (21, 63)),
                 restart_interval=1),
            dict(dc_al=3, ac_al=3, bands=((1, 1), (2, 9), (10, 35), (36, 63))),
        ]
        for trial in range(6):
            nbx, nby = rng.randint(1, 5), rng.randint(1, 4)
            w = nbx * 8 - rng.randint(0, 6)
            h = nby * 8 - rng.randint(0, 6)
            rows = self._sparse_blocks(rng, nbx * nby)
            want = _idct_plane(rows, q, nbx, nby)[:h, :w]
            for kw in scripts:
                got = jpeg_decode(
                    jpeg_encode_progressive([rows], [(1, 1)], nbx, w, h, **kw)
                )
                assert np.array_equal(got, want), (trial, kw)

    def test_progressive_equals_baseline_on_identical_coefficients(self):
        """The strongest progressive check available without a codec
        library: a progressive and a baseline encoding of IDENTICAL
        coefficients must decode bit-identically — the baseline path is
        oracle-proven, so equality transfers that evidence to the
        multi-scan path (4:2:0 interleaved frame, with and without
        restarts and successive approximation)."""
        from nekton_spark.functions.jpeg import (
            jpeg_decode,
            jpeg_encode_blocks_420,
            jpeg_encode_progressive,
            synth_420_block_values,
        )

        for key in range(6):
            dy, dcb, dcr, mx, w, h = synth_420_block_values(key)
            base = jpeg_decode(jpeg_encode_blocks_420(dy, dcb, dcr, mx, w, h))
            planes = []
            for dcs in (dy, dcb, dcr):
                rows = np.zeros((len(dcs), 64), dtype=np.int64)
                rows[:, 0] = dcs
                planes.append(rows)
            for kw in [dict(), dict(restart_interval=1), dict(dc_al=3, ac_al=2)]:
                got = jpeg_decode(
                    jpeg_encode_progressive(
                        planes, [(2, 2), (1, 1), (1, 1)], mx, w, h, **kw
                    )
                )
                assert np.array_equal(got, base), (key, kw)

    def test_progressive_subsampled_full_ac_exact(self):
        """Full-AC progressive over a subsampled (4:2:0) frame with
        edge crops: exact against the replication-upsample reference."""
        from nekton_spark.functions.jpeg import (
            Q_TABLE,
            _idct_plane,
            _ycbcr_rgb,
            jpeg_decode,
            jpeg_encode_progressive,
        )

        q = np.array(Q_TABLE, dtype=np.float64)
        rng = np.random.RandomState(13)
        factors = [(2, 2), (1, 1), (1, 1)]
        for trial in range(4):
            mx, my = rng.randint(1, 3), rng.randint(1, 3)
            w, h = 16 * mx - rng.randint(0, 9), 16 * my - rng.randint(0, 9)
            planes = [
                self._sparse_blocks(rng, mx * my * hi * vi, density=0.2)
                for hi, vi in factors
            ]
            ps = []
            for (hi, vi), pl in zip(factors, planes):
                plane = _idct_plane(pl, q, mx * hi, my * vi)
                yi = (np.arange(h) * vi) // 2
                xi = (np.arange(w) * hi) // 2
                ps.append(plane[yi][:, xi])
            want = _ycbcr_rgb(ps)
            for kw in [dict(), dict(restart_interval=2, dc_al=2, ac_al=2)]:
                got = jpeg_decode(
                    jpeg_encode_progressive(planes, factors, mx, w, h, **kw)
                )
                assert np.array_equal(got, want), (trial, kw)

    def test_progressive_refusals(self):
        """Truncated progressive streams refuse cleanly; non-DCT SOFs
        refuse as NotImplementedError."""
        from nekton_spark.functions.jpeg import (
            jpeg_decode,
            jpeg_encode_progressive,
        )

        rows = np.zeros((2, 64), dtype=np.int64)
        rows[:, 0] = [10, -20]
        rows[0, 5] = 7
        p = bytes(jpeg_encode_progressive([rows], [(1, 1)], 2, 16, 8))
        jpeg_decode(p)  # sanity: valid stream decodes
        with pytest.raises(ValueError, match="missing EOI|truncated"):
            jpeg_decode(p[:-2])  # EOI stripped
        with pytest.raises(ValueError):
            jpeg_decode(p[: len(p) * 2 // 3])  # mid-scan truncation
        arith = bytearray(p)
        arith[arith.index(b"\xff\xc2") + 1] = 0xC9  # arithmetic SOF
        with pytest.raises(NotImplementedError, match="baseline"):
            jpeg_decode(bytes(arith))

    def test_rejects_unsupported_streams(self):
        from nekton_spark.functions.jpeg import (
            jpeg_decode,
            jpeg_encode_blocks,
        )

        with pytest.raises(ValueError, match="not a JPEG"):
            jpeg_decode(b"\x89PNG\r\n\x1a\n")
        good = bytearray(jpeg_encode_blocks([5], 1, 8, 8))
        sof = good.index(b"\xff\xc0")
        good[sof + 1] = 0xC3  # rewrite SOF0 -> SOF3 (lossless)
        with pytest.raises(NotImplementedError, match="baseline"):
            jpeg_decode(bytes(good))
        # SOF0 -> SOF2: the stream parses as progressive, but the
        # baseline scan header (Ss=0, Se=63) is illegal for a
        # progressive DC scan — refuse, don't misparse
        good[sof + 1] = 0xC2
        with pytest.raises(ValueError, match="Se = 0"):
            jpeg_decode(bytes(good))

    def test_color_round_trip_exact_closed_form(self):
        """3-component 4:4:4 round trip: interleaved MCU decode with
        per-component DC predictors, then the half-up YCbCr→RGB
        conversion — must equal the integer closed form at every
        pixel for every geometry."""
        import math

        from nekton_spark.functions.jpeg import (
            jpeg_decode,
            jpeg_encode_blocks_color,
            synth_color_block_values,
        )

        for key in range(0, 60):
            dc_y, dc_cb, dc_cr, bx, w, h = synth_color_block_values(key)
            rgb = jpeg_decode(jpeg_encode_blocks_color(dc_y, dc_cb, dc_cr, bx, w, h))
            assert rgb.shape == (h, w, 3)
            for b in range(len(dc_y)):
                yb, xb = divmod(b, bx)
                y = (key * 31 + b * 17) % 256
                cb = (key * 7 + b * 11) % 256
                cr = (key * 13 + b * 5) % 256
                exp = [
                    min(255, max(0, math.floor(y + 1.402 * (cr - 128.0) + 0.5))),
                    min(255, max(0, math.floor(
                        y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0) + 0.5))),
                    min(255, max(0, math.floor(y + 1.772 * (cb - 128.0) + 0.5))),
                ]
                blk = rgb[yb * 8 : yb * 8 + 8, xb * 8 : xb * 8 + 8]
                assert (blk == exp).all(), (key, b)

    def test_sampling_factors_full_range_and_illegal_refusal(self):
        """r12: the full spec-legal factor range 1..4 DECODES (the
        former 1..2 refusal is lifted); 0 and >4 are stream corruption
        and refuse. Flipping a 4:4:4 stream's Y factors reinterprets
        the same entropy bytes under the new layout — a well-formed
        (if different) decode, exactly what libjpeg does with such
        bytes."""
        from nekton_spark.functions.jpeg import (
            jpeg_decode,
            jpeg_encode_blocks_color,
            synth_color_block_values,
        )

        dc_y, dc_cb, dc_cr, bx, w, h = synth_color_block_values(5)
        payload = bytearray(jpeg_encode_blocks_color(dc_y, dc_cb, dc_cr, bx, w, h))
        jpeg_decode(bytes(payload))  # 4:4:4 accepted
        sof = payload.index(b"\xff\xc0")
        # SOF0 body: len(2) prec(1) h(2) w(2) ncomp(1) then (id, HV, Tq)*
        for hv in (0x22, 0x33, 0x44):  # all spec-legal: decode per header
            payload[sof + 11] = hv
            out = jpeg_decode(bytes(payload))
            assert out.shape == (h, w, 3) and out.dtype == np.uint8
        for hv in (0x05, 0x50, 0x15):  # factor 0 / 5: corrupt, refuse
            payload[sof + 11] = hv
            with pytest.raises(ValueError, match="illegal sampling factors"):
                jpeg_decode(bytes(payload))

    def test_forged_dimensions_refused_before_allocation(self):
        """r12 hardening: a forged SOF declaring huge dimensions must
        refuse at the header (the progressive path allocates
        coefficient memory up front from these dims)."""
        import struct

        from nekton_spark.functions.jpeg import (
            jpeg_decode,
            jpeg_encode_blocks,
        )

        p = bytearray(jpeg_encode_blocks([5], 1, 8, 8))
        sof = p.index(b"\xff\xc0")
        # SOF body: len(2) prec(1) h(2) w(2) — forge 65535x65535
        p[sof + 5 : sof + 9] = struct.pack(">HH", 65535, 65535)
        with pytest.raises(ValueError, match="exceed decode cap"):
            jpeg_decode(bytes(p))
        p[sof + 1] = 0xC2  # progressive SOF, same forged dims
        with pytest.raises(ValueError, match="exceed decode cap"):
            jpeg_decode(bytes(p))

    def test_sampling_factors_3_4_exact_closed_form(self):
        """Factors 3 and 4 (4:1:1, 3:1:1, and the fractional
        2-against-4 / 1-against-4 ratios) decode EXACTLY to the
        replication-upsample closed form, including non-multiple edge
        crops."""
        from nekton_spark.functions.jpeg import (
            jpeg_decode,
            jpeg_encode_blocks_sampled,
        )

        def ref_rgb(dc_planes, factors, mcus_x, w, h):
            hmax = max(f[0] for f in factors)
            vmax = max(f[1] for f in factors)
            planes = []
            for (hi, vi), dcs in zip(factors, dc_planes):
                nbx = mcus_x * hi
                P = np.empty((h, w))
                for y in range(h):
                    for x in range(w):
                        py, px = (y * vi) // vmax, (x * hi) // hmax
                        P[y, x] = dcs[(py // 8) * nbx + px // 8] + 128
                planes.append(P)
            y, cb, cr = planes
            rgb = np.stack(
                [
                    np.floor(y + 1.402 * (cr - 128.0) + 0.5),
                    np.floor(
                        y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0) + 0.5
                    ),
                    np.floor(y + 1.772 * (cb - 128.0) + 0.5),
                ],
                axis=-1,
            )
            return np.clip(rgb, 0, 255).astype(np.uint8)

        rng = np.random.RandomState(7)
        cases = [
            ([(3, 1), (1, 1), (1, 1)], 1, 2),
            ([(4, 1), (1, 1), (1, 1)], 1, 2),  # 4:1:1
            ([(4, 2), (2, 1), (1, 2)], 1, 1),  # fractional ratios
            ([(3, 3), (1, 1), (1, 1)], 2, 1),
            ([(4, 4), (2, 2), (1, 1)], 1, 1),
        ]
        for factors, mx, my in cases:
            hmax = max(f[0] for f in factors)
            vmax = max(f[1] for f in factors)
            w, h = 8 * hmax * mx, 8 * vmax * my
            planes = [
                [int(v) for v in rng.randint(-100, 100, mx * my * hi * vi)]
                for (hi, vi) in factors
            ]
            payload = jpeg_encode_blocks_sampled(planes, factors, mx, w, h)
            want = ref_rgb(planes, factors, mx, w, h)
            assert np.array_equal(jpeg_decode(payload), want), factors
            crop = jpeg_encode_blocks_sampled(planes, factors, mx, w - 5, h - 3)
            assert np.array_equal(
                jpeg_decode(crop), want[: h - 3, : w - 5]
            ), (factors, "crop")

    def test_jpeg_420_round_trip_closed_form(self):
        """4:2:0 fixture (Y 2×2, chroma 1×1): every pixel must equal
        the synth_420_block_values closed form — Y from its own 8×8
        block, chroma replicated over the 16×16 MCU footprint, the
        same floor(x+0.5) RGB conversion as 4:4:4."""
        import math

        from nekton_spark.functions.jpeg import (
            jpeg_decode,
            jpeg_encode_blocks_420,
            synth_420_block_values,
        )

        for key in range(8):
            dc_y, dc_cb, dc_cr, mx, w, h = synth_420_block_values(key)
            rgb = jpeg_decode(jpeg_encode_blocks_420(dc_y, dc_cb, dc_cr, mx, w, h))
            assert rgb.shape == (h, w, 3), key
            yy, xx = np.mgrid[0:h, 0:w]
            yv = (key * 31 + ((yy // 8) * (2 * mx) + xx // 8) * 17) % 256
            cbb = (yy // 16) * mx + xx // 16
            cb = (key * 7 + cbb * 11) % 256
            cr = (key * 13 + cbb * 5) % 256
            exp = np.clip(np.stack([
                np.floor(yv + 1.402 * (cr - 128.0) + 0.5),
                np.floor(yv - 0.344136 * (cb - 128.0)
                         - 0.714136 * (cr - 128.0) + 0.5),
                np.floor(yv + 1.772 * (cb - 128.0) + 0.5),
            ], axis=-1), 0, 255).astype(np.uint8)
            assert (rgb == exp).all(), key

    def test_jpeg_420_partial_edge_mcus(self):
        """Non-multiple-of-16 dimensions: the stream still carries full
        MCUs (padding blocks), the decoder crops to the SOF dims — the
        closed form must hold for every surviving pixel."""
        import math

        from nekton_spark.functions.jpeg import (
            jpeg_decode,
            jpeg_encode_blocks_420,
        )

        # 24×24 image: 2×2 MCUs (32×32 coverage), 8 px of padding
        mx = my = 2
        dc_y = [((7 + b * 13) % 256) - 128 for b in range((2 * mx) * (2 * my))]
        dc_cb = [((3 + b * 5) % 256) - 128 for b in range(mx * my)]
        dc_cr = [((11 + b * 9) % 256) - 128 for b in range(mx * my)]
        rgb = jpeg_decode(jpeg_encode_blocks_420(dc_y, dc_cb, dc_cr, mx, 24, 24))
        assert rgb.shape == (24, 24, 3)
        for y in range(0, 24, 5):
            for x in range(0, 24, 5):
                yv = (dc_y[(y // 8) * (2 * mx) + x // 8] + 128) % 256
                c = (y // 16) * mx + x // 16
                cb, cr = dc_cb[c] + 128, dc_cr[c] + 128
                exp = [
                    min(255, max(0, math.floor(yv + 1.402 * (cr - 128.0) + 0.5))),
                    min(255, max(0, math.floor(
                        yv - 0.344136 * (cb - 128.0)
                        - 0.714136 * (cr - 128.0) + 0.5))),
                    min(255, max(0, math.floor(yv + 1.772 * (cb - 128.0) + 0.5))),
                ]
                assert list(rgb[y, x]) == exp, (x, y)

    def test_jpeg_422_and_440_round_trip(self):
        """The general sampled encoder/decoder pair also covers 4:2:2
        (Y 2×1) and 4:4:0 (Y 1×2) — chroma replicates along exactly
        one axis."""
        import math

        from nekton_spark.functions.jpeg import (
            jpeg_decode,
            jpeg_encode_blocks_sampled,
        )

        def rgb_exp(yv, cb, cr):
            return [
                min(255, max(0, math.floor(yv + 1.402 * (cr - 128.0) + 0.5))),
                min(255, max(0, math.floor(
                    yv - 0.344136 * (cb - 128.0)
                    - 0.714136 * (cr - 128.0) + 0.5))),
                min(255, max(0, math.floor(yv + 1.772 * (cb - 128.0) + 0.5))),
            ]

        # 4:2:2 — two 16×8 MCUs side by side (32×8 image)
        dc_y, dc_cb, dc_cr = [5, -3, 17, 40], [10, -20], [-5, 66]
        rgb = jpeg_decode(jpeg_encode_blocks_sampled(
            [dc_y, dc_cb, dc_cr], [(2, 1), (1, 1), (1, 1)], 2, 32, 8))
        assert rgb.shape == (8, 32, 3)
        for x in range(32):
            c = x // 16
            exp = rgb_exp((dc_y[x // 8] + 128) % 256,
                          dc_cb[c] + 128, dc_cr[c] + 128)
            assert list(rgb[3, x]) == exp, x
        # 4:4:0 — two 8×16 MCUs side by side (16×16 image)
        dc_y, dc_cb, dc_cr = [7, -7, 33, 12], [3, 9], [-4, 100]
        rgb = jpeg_decode(jpeg_encode_blocks_sampled(
            [dc_y, dc_cb, dc_cr], [(1, 2), (1, 1), (1, 1)], 2, 16, 16))
        assert rgb.shape == (16, 16, 3)
        for y in range(16):
            for x in range(16):
                yv = (dc_y[(y // 8) * 2 + x // 8] + 128) % 256
                exp = rgb_exp(yv, dc_cb[x // 8] + 128, dc_cr[x // 8] + 128)
                assert list(rgb[y, x]) == exp, (x, y)

    def test_jpeg_spark_round_trip(self, spark):
        """Real JFIF bytes through the full Spark path: mime dispatch in
        decode_image, dimensions from SOF0, pixels from the scan."""
        from nekton_spark.functions.jpeg import synth_block_values
        from nekton_spark.functions.multimodal import decode_image, synth_jpeg_media

        df = spark.createDataFrame([(4,), (17,)], "doc_id long")
        rows = {r.doc_id: r for r in decode_image(synth_jpeg_media(df)).collect()}
        for key in (4, 17):
            dcs, bx, w, h = synth_block_values(key)
            r = rows[key]
            assert (r.dec_height, r.dec_width) == (h, w)
            assert bytes(r.media["payload"][:3]) == b"\xff\xd8\xff"
            grid = [r.pixels[i * w : (i + 1) * w] for i in range(h)]
            for b, dc in enumerate(dcs):
                yb, xb = divmod(b, bx)
                expect = (key * 31 + b * 17) % 256
                assert all(
                    grid[yb * 8 + y][xb * 8 + x] == expect
                    for y in range(8)
                    for x in range(8)
                )


class TestAsofJoin:
    def test_backward_inclusive(self, spark):
        from nekton_spark.operators.timeseries import asof_join

        left = spark.createDataFrame(
            [(1, "u", 100), (2, "u", 205), (3, "u", 50), (4, "v", 100)],
            "event_id long, user string, ts long",
        )
        right = spark.createDataFrame(
            [("u", 100, "a"), ("u", 200, "b"), ("v", 300, "c")],
            "user string, ts long, tag string",
        )
        out = {
            r.event_id: (r.tag, r.ts_right)
            for r in asof_join(left, right, on="ts", by="user").collect()
        }
        assert out[1] == ("a", 100)   # inclusive: equal ts matches
        assert out[2] == ("b", 200)   # latest at-or-before
        assert out[3] == (None, None)  # nothing before
        assert out[4] == (None, None)  # other key's rows invisible

    def test_null_payload_in_matched_row_not_backfilled(self, spark):
        """A NULL column in the MATCHED right row must stay NULL — not
        be carried forward from an older right row (advisor repro:
        right (1,'old',1.0) and (5,NULL,2.0) vs left ts=10 must yield
        (NULL, 2.0), never ('old', 2.0))."""
        from nekton_spark.operators.timeseries import asof_join

        left = spark.createDataFrame([("u", 10)], "user string, ts long")
        right = spark.createDataFrame(
            [("u", 1, "old", 1.0), ("u", 5, None, 2.0)],
            "user string, ts long, label string, price double",
        )
        r = asof_join(left, right, on="ts", by="user").first()
        assert r.ts_right == 5
        assert r.price == 2.0
        assert r.label is None


class TestTimeTierRollup:
    def test_reaggregation_equals_direct(self, spark):
        """Hour tier built from the minute tier must equal an hour
        aggregation computed directly from raw rows."""
        from nekton_spark.functions.timetiers import time_tier_rollup

        rows = [
            (i, "a" if i % 3 else "b", float(i % 7) + 0.25, 1704067200 + i * 47)
            for i in range(500)
        ]
        df = spark.createDataFrame(rows, "id long, k string, value double, es long").select(
            "k", "value", F.timestamp_seconds("es").alias("ts")
        )
        out = time_tier_rollup(df, ["1 minute", "1 hour"], keys=["k"])
        hour = {
            (r.bucket_start, r.k): (r.n, r.total, r.vmin, r.vmax)
            for r in out.filter(F.col("tier") == "1 hour").collect()
        }
        direct = {
            (r.bucket_start, r.k): (r.n, r.total, r.vmin, r.vmax)
            for r in df.groupBy(
                (F.floor(F.unix_timestamp("ts") / 3600) * 3600).alias("bucket_start"), "k"
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").alias("total"),
                F.min("value").alias("vmin"),
                F.max("value").alias("vmax"),
            )
            .collect()
        }
        assert set(hour) == set(direct)
        for key in direct:
            assert hour[key][0] == direct[key][0]
            assert abs(hour[key][1] - direct[key][1]) < 1e-9
            assert hour[key][2:] == direct[key][2:]

    def test_non_nesting_tiers_rejected(self, spark):
        from nekton_spark.functions.timetiers import time_tier_rollup

        df = spark.range(1).select(
            F.lit(1.0).alias("value"), F.timestamp_seconds(F.lit(0)).alias("ts")
        )
        with pytest.raises(ValueError, match="must nest"):
            time_tier_rollup(df, ["7 seconds", "60 seconds"])


class TestResizeImage:
    def test_nearest_neighbor_identity_and_downsample(self, spark):
        from nekton_spark.functions.multimodal import (
            _synth_pixels,
            decode_image,
            resize_image,
            synth_png_media,
        )

        df = spark.createDataFrame([(9,)], "doc_id long")
        dec = decode_image(synth_png_media(df))
        # same-size resize is the identity
        pix = _synth_pixels(9)
        h, w = pix.shape
        same = resize_image(dec, out_h=h, out_w=w).first()
        assert same.pixels == pix.ravel().tolist()
        # 2x2: corners of the index grid
        import numpy as np

        small = resize_image(dec, out_h=2, out_w=2).first()
        ys, xs = [0, h // 2], [0, w // 2]
        assert small.pixels == pix[np.ix_(ys, xs)].ravel().tolist()
        assert (small.dec_height, small.dec_width) == (2, 2)


class TestTfidf:
    def test_cjk_script_policy_family(self, spark):
        """r14: top_tokens / tfidf_top_terms / unigram_logprob with
        tokenize_policy='script' see per-character terms on spaceless
        text (the word policy sees one opaque blob per doc)."""
        from nekton_spark.functions.text_analysis import (
            tfidf_top_terms,
            top_tokens,
            unigram_logprob,
        )

        df = spark.createDataFrame(
            [(0, "茶茶茶饭"), (1, "茶饭饭"), (2, "山水")],
            "doc_id long, text string",
        )
        # word policy: 3 distinct whole-doc tokens
        assert top_tokens(df, k=10).count() == 3
        tt = {r.token: r.n for r in top_tokens(
            df, k=10, tokenize_policy="script").collect()}
        assert tt == {"茶": 4, "饭": 3, "山": 1, "水": 1}
        tf = tfidf_top_terms(
            df, k=1, tokenize_policy="script").collect()
        by_doc = {r.doc_id: r.token for r in tf}
        assert by_doc[0] == "茶" and by_doc[2] in ("山", "水")
        lp = {r.doc_id: r.n_tokens for r in unigram_logprob(
            df, tokenize_policy="script").collect()}
        assert lp == {0: 4, 1: 3, 2: 2}

    def test_hand_computed_example(self, spark):
        """3 docs: 'a' in all (idf ln(4/4)=0), 'b' in two, 'c' in one."""
        import math

        from nekton_spark.functions.text_analysis import tfidf_top_terms

        df = spark.createDataFrame(
            [(0, "a b c c"), (1, "a b"), (2, "a")], "doc_id long, text string"
        )
        rows = {(r.doc_id, r.token): r for r in tfidf_top_terms(df, k=3).collect()}
        r = rows[(0, "c")]
        assert r.tf == 2 and r.df == 1
        assert r.tfidf == round(2 * math.log(4 / 2), 6)
        assert r.rank == 1  # highest tfidf in doc 0
        assert rows[(0, "a")].tfidf == 0.0  # ln(4/4) = 0
        assert rows[(1, "b")].rank == 1

    def test_per_doc_cap_and_tie_order(self, spark):
        from nekton_spark.functions.text_analysis import tfidf_top_terms

        df = spark.createDataFrame(
            [(0, "x y z w v"), (1, "q")], "doc_id long, text string"
        )
        out = tfidf_top_terms(df, k=2).collect()
        per = {}
        for r in out:
            per.setdefault(r.doc_id, []).append(r.token)
        assert len(per[0]) == 2
        # equal tfidf -> token asc tie-break
        assert per[0] == sorted(per[0])


class TestChunkDocuments:
    def test_boundaries_and_tail(self, spark):
        from nekton_spark.functions.text_analysis import chunk_documents

        text = " ".join(f"t{i}" for i in range(11))  # 11 tokens
        df = spark.createDataFrame([(0, text)], "doc_id long, text string")
        rows = sorted(
            chunk_documents(df, chunk_tokens=4, overlap=1).collect(),
            key=lambda r: r.chunk_idx,
        )
        # stride 3: starts 0,3,6,9 -> n_chunks 4; tail keeps 2 tokens
        assert [r.n_chunks for r in rows] == [4, 4, 4, 4]
        assert [r.chunk_n_tokens for r in rows] == [4, 4, 4, 2]
        assert rows[0].chunk_text == "t0 t1 t2 t3"
        assert rows[1].chunk_text == "t3 t4 t5 t6"
        assert rows[3].chunk_text == "t9 t10"

    def test_empty_docs_yield_no_chunks(self, spark):
        from nekton_spark.functions.text_analysis import chunk_documents

        df = spark.createDataFrame(
            [(0, ""), (1, "   "), (2, "a b")], "doc_id long, text string"
        )
        rows = chunk_documents(df, chunk_tokens=4, overlap=1).collect()
        assert {r.doc_id for r in rows} == {2}
        assert rows[0].chunk_text == "a b" and rows[0].n_chunks == 1

    def test_degenerate_overlap_refused(self, spark):
        import pytest as _pytest

        from nekton_spark.functions.text_analysis import chunk_documents

        df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
        with _pytest.raises(ValueError, match="stride"):
            chunk_documents(df, chunk_tokens=4, overlap=4)

    def test_cjk_script_tokenizer_budgets(self, spark):
        """r14 CJK fixture: a spaceless 11-char Chinese doc is ONE
        whitespace token (one degenerate chunk — the token-budget blind
        spot), but tokenizer='script' budgets per CHARACTER: same
        boundary arithmetic as the 11-word English twin."""
        from nekton_spark.functions.text_analysis import chunk_documents

        text = "春眠不觉晓处处闻啼鸟"  # 10 chars
        df = spark.createDataFrame(
            [(0, text + "夜")], "doc_id long, text string"
        )
        ws = chunk_documents(df, chunk_tokens=4, overlap=1).collect()
        assert len(ws) == 1 and ws[0].chunk_n_tokens == 1
        rows = sorted(
            chunk_documents(
                df, chunk_tokens=4, overlap=1, tokenizer="script"
            ).collect(),
            key=lambda r: r.chunk_idx,
        )
        assert [r.chunk_n_tokens for r in rows] == [4, 4, 4, 2]
        assert rows[0].chunk_text == "春 眠 不 觉"
        assert rows[3].chunk_text == "鸟 夜"


class TestUnigramLogprob:
    def test_hand_computed(self, spark):
        import math

        from nekton_spark.functions.text_analysis import unigram_logprob

        # corpus: a a a b -> p(a)=3/4, p(b)=1/4
        df = spark.createDataFrame(
            [(0, "a a a"), (1, "b")], "doc_id long, text string"
        )
        rows = {r.doc_id: r for r in unigram_logprob(df).collect()}
        assert rows[0].n_tokens == 3 and rows[1].n_tokens == 1
        assert rows[0].mean_logprob == round(math.log(3 / 4), 6)
        assert rows[1].mean_logprob == round(math.log(1 / 4), 6)
        # rare-token doc scores lower
        assert rows[1].mean_logprob < rows[0].mean_logprob


class TestBigramLogprob:
    def test_hand_computed(self, spark):
        import math

        from nekton_spark.functions.text_analysis import bigram_logprob

        # bigrams: doc0 = (a b), (b a); doc1 = (a b). V = 2.
        # C(a b)=2, C(b a)=1; prefix counts: C1(a)=2, C1(b)=1
        df = spark.createDataFrame(
            [(0, "a b a"), (1, "a b"), (2, "c")], "doc_id long, text string"
        )
        rows = {r.doc_id: r for r in bigram_logprob(df).collect()}
        assert 2 not in rows  # single-token doc: no bigrams
        assert rows[0].n_bigrams == 2 and rows[1].n_bigrams == 1
        v = 3  # vocabulary is a, b, c
        p_ab = (2 + 1) / (2 + v)
        p_ba = (1 + 1) / (1 + v)
        assert rows[0].mean_logprob == round(
            (math.log(p_ab) + math.log(p_ba)) / 2, 6
        )
        assert rows[1].mean_logprob == round(math.log(p_ab), 6)

    def test_gibberish_vs_repetition(self, spark):
        from nekton_spark.functions.text_analysis import bigram_logprob

        # repeated bigram scores higher than never-repeated bigrams
        df = spark.createDataFrame(
            [(0, "x y x y x y x y"), (1, "p q r s t u v w")],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in bigram_logprob(df).collect()}
        assert rows[0].mean_logprob > rows[1].mean_logprob


class TestBm25:
    def _run(self, spark, docs, queries, **kw):
        from nekton_spark.functions.text_analysis import bm25_topk

        d = spark.createDataFrame(docs, "doc_id long, text string")
        q = spark.createDataFrame(queries, "query_id long, query_text string")
        return bm25_topk(d, q, **kw).collect()

    def test_hand_computed_single_term(self, spark):
        import math

        # 3 docs of equal length (avgdl = dl): the dl normalization
        # factor is exactly 1, so score = idf * tf*(k1+1)/(tf+k1)
        rows = self._run(
            spark,
            [(0, "a a b"), (1, "a c c"), (2, "c b b")],
            [(100, "a")],
        )
        got = {r.doc_id: r for r in rows}
        idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))
        assert got[0].score == round(idf * 2 * 2.2 / (2 + 1.2), 6)
        assert got[1].score == round(idf * 1 * 2.2 / (1 + 1.2), 6)
        assert 2 not in got  # no match, no row
        assert got[0].rank == 1 and got[1].rank == 2

    def test_k_cap_and_tie_order(self, spark):
        rows = self._run(
            spark,
            [(i, "a b") for i in range(5)],
            [(0, "a")],
            k=3,
        )
        # identical docs: identical scores, ties broken by doc_id asc
        assert [r.doc_id for r in sorted(rows, key=lambda r: r.rank)] == [0, 1, 2]

    def test_duplicate_query_terms_count_once(self, spark):
        one = self._run(spark, [(0, "a b")], [(0, "a")])
        twice = self._run(spark, [(0, "a b")], [(0, "a a a")])
        assert one[0].score == twice[0].score

    def test_cjk_script_tokenize(self, spark):
        """r14 CJK fixture: with the word tokenizer a spaceless Chinese
        query never matches (each doc is one giant token); with
        tokenize='script' per-character terms retrieve the doc that
        actually contains the query characters, ranked first."""
        docs = [
            (0, "我喜欢喝茶每天喝茶"),        # tea, twice
            (1, "他在公园跑步锻炼身体"),      # running
            (2, "喝茶是一种文化"),            # tea once
        ]
        queries = [(7, "喝茶")]
        assert self._run(spark, docs, queries) == []  # word path: blind
        rows = self._run(spark, docs, queries, tokenize="script")
        ranked = [r.doc_id for r in sorted(rows, key=lambda r: r.rank)]
        assert ranked[0] == 0 and set(ranked) == {0, 2}


class TestRemoveBoilerplateLines:
    def test_hand_computed(self, spark):
        from nekton_spark.functions.text_analysis import remove_boilerplate_lines

        # "cookie notice" appears (normalized) in 3 docs; unique lines survive
        df = spark.createDataFrame(
            [
                (0, "alpha beta\nCookie   Notice\ngamma"),
                (1, "cookie notice\ndelta"),
                (2, "COOKIE NOTICE"),
                (3, "epsilon zeta"),
            ],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in remove_boilerplate_lines(df, min_docs=3).collect()}
        assert rows[0].text == "alpha beta\ngamma" and rows[0].n_removed == 1
        assert rows[1].text == "delta" and rows[1].n_removed == 1
        # doc fully boilerplate: row kept, text empty
        assert rows[2].text == "" and rows[2].n_removed == 1 and rows[2].n_lines == 1
        assert rows[3].text == "epsilon zeta" and rows[3].n_removed == 0

    def test_all_clean_corpus_passes_through(self, spark):
        from nekton_spark.functions.text_analysis import remove_boilerplate_lines

        df = spark.createDataFrame(
            [(0, "a\nb"), (1, "c\nd")], "doc_id long, text string"
        )
        rows = {r.doc_id: r for r in remove_boilerplate_lines(df, min_docs=2).collect()}
        assert rows[0].text == "a\nb" and rows[0].n_removed == 0
        assert rows[1].text == "c\nd"

    def test_intra_doc_repeats_vote_once(self, spark):
        from nekton_spark.functions.text_analysis import remove_boilerplate_lines

        # the same line 5x inside ONE doc must not reach min_docs=2
        df = spark.createDataFrame(
            [(0, "x\nx\nx\nx\nx"), (1, "y")], "doc_id long, text string"
        )
        rows = {r.doc_id: r for r in remove_boilerplate_lines(df, min_docs=2).collect()}
        assert rows[0].n_removed == 0 and rows[0].text == "x\nx\nx\nx\nx"


    def test_join_path_equals_array_path(self, spark):
        from nekton_spark.functions.text_analysis import remove_boilerplate_lines

        df = spark.createDataFrame(
            [
                (0, "alpha beta\nCookie   Notice\ngamma"),
                (1, "cookie notice\ndelta"),
                (2, "COOKIE NOTICE"),
                (3, "epsilon zeta"),
            ],
            "doc_id long, text string",
        )
        a = {
            r.doc_id: (r.text, r.n_lines, r.n_removed)
            for r in remove_boilerplate_lines(df, min_docs=3).collect()
        }
        # small_set_max=0 forces the broadcast-hash-join rewrite
        b = {
            r.doc_id: (r.text, r.n_lines, r.n_removed)
            for r in remove_boilerplate_lines(df, min_docs=3, small_set_max=0).collect()
        }
        assert a == b


class TestDedupLinesKeepFirst:
    CORPUS = [
        (1, "alpha beta\ncommon line\ngamma"),
        (2, "common line\ndelta\ncommon line"),
        (3, "unique here\n\nCommon   LINE"),
        (4, None),
        (5, "repeat me\nrepeat me\nend"),
    ]

    def _run(self, spark, **kw):
        from nekton_spark.functions.text_analysis import dedup_lines_keep_first

        df = spark.createDataFrame(self.CORPUS, "doc_id long, text string")
        return {r.doc_id: r for r in dedup_lines_keep_first(df, **kw).collect()}

    def test_keep_first_across_and_within_docs(self, spark):
        rows = self._run(spark)
        # doc 1 holds the global first occurrence -> untouched
        assert rows[1].text == "alpha beta\ncommon line\ngamma"
        assert rows[1].n_removed == 0
        # doc 2 loses BOTH of its later occurrences
        assert rows[2].text == "delta" and rows[2].n_removed == 2
        # normalized match ('Common   LINE' == 'common line'); blank kept
        assert rows[3].text == "unique here\n" and rows[3].n_removed == 1
        # NULL text = empty document; row survives
        assert rows[4].text == "" and rows[4].n_lines == 1 and rows[4].n_removed == 0
        # within-doc repeat collapses to its first occurrence
        assert rows[5].text == "repeat me\nend" and rows[5].n_removed == 1

    def test_min_count_threshold(self, spark):
        # min_count=3: 'common line' has 3 occurrences (deduped),
        # 'repeat me' only 2 (kept everywhere)
        rows = self._run(spark, min_count=3)
        assert rows[2].text == "delta"
        assert rows[5].text == "repeat me\nrepeat me\nend"

    def test_shuffle_join_path_identical(self, spark):
        a = {k: (r.text, r.n_lines, r.n_removed) for k, r in self._run(spark).items()}
        b = {
            k: (r.text, r.n_lines, r.n_removed)
            for k, r in self._run(spark, small_set_max=0).items()
        }
        assert a == b

    def test_min_count_below_two_refused(self, spark):
        import pytest

        from nekton_spark.functions.text_analysis import dedup_lines_keep_first

        df = spark.createDataFrame([(0, "a")], "doc_id long, text string")
        with pytest.raises(ValueError, match="min_count"):
            dedup_lines_keep_first(df, min_count=1)

    def test_regex_metachar_separator_is_literal(self, spark):
        """sep is a LITERAL separator, not a regex: '|' must split on
        pipes only (review fix — F.split takes a Java regex, so an
        unquoted '|' split between every character)."""
        from nekton_spark.functions.text_analysis import (
            dedup_lines_keep_first,
            remove_boilerplate_lines,
        )

        df = spark.createDataFrame(
            [(0, "a.b|c.d"), (1, "c.d|a.b")], "doc_id long, text string"
        )
        kf = {r.doc_id: r for r in dedup_lines_keep_first(df, sep="|").collect()}
        assert kf[0].text == "a.b|c.d" and kf[0].n_lines == 2
        assert kf[1].text == "" and kf[1].n_removed == 2
        bp = {
            r.doc_id: r.text
            for r in remove_boilerplate_lines(df, min_docs=2, sep="|").collect()
        }
        assert bp == {0: "", 1: ""}

    def test_separator_containing_backslash_e(self, spark):
        # the one string Pattern.quote-style \Q..\E wrapping must
        # special-case
        from nekton_spark.functions.text_analysis import dedup_lines_keep_first

        df = spark.createDataFrame([(0, "x\\Eyy\\Ex")], "doc_id long, text string")
        out = dedup_lines_keep_first(df, sep="\\E").collect()[0]
        assert out.text == "x\\Eyy" and out.n_lines == 3 and out.n_removed == 1

    def test_contrast_with_boilerplate_removal(self, spark):
        """The differentiating contract: boilerplate removal strips EVERY
        occurrence; keep-first always retains exactly one."""
        from nekton_spark.functions.text_analysis import (
            dedup_lines_keep_first,
            remove_boilerplate_lines,
        )

        df = spark.createDataFrame(
            [(0, "cookie notice"), (1, "cookie notice"), (2, "cookie notice")],
            "doc_id long, text string",
        )
        bp = {r.doc_id: r.text for r in remove_boilerplate_lines(df, min_docs=2).collect()}
        kf = {r.doc_id: r.text for r in dedup_lines_keep_first(df).collect()}
        assert bp == {0: "", 1: "", 2: ""}
        assert kf == {0: "cookie notice", 1: "", 2: ""}


class TestClassifierScore:
    def test_placeholder_is_mean_hashed_milliweight(self, spark):
        from nekton_spark.functions.hashing import hash60_py
        from nekton_spark.functions.text_analysis import classifier_score

        df = spark.createDataFrame([(0, "a b"), (1, "")], "doc_id long, text string")
        rows = {r.doc_id: r for r in classifier_score(df).collect()}
        want = sum(hash60_py(t, 4100) % 2001 - 1000 for t in ["a", "b"]) / 2000.0
        assert rows[0].clf_score == want
        assert rows[0].clf_label == int(want > 0)
        assert rows[1].n_tokens == 0 and rows[1].clf_score == 0.0

    def test_trained_weights_mode(self, spark):
        from nekton_spark.functions.text_analysis import classifier_score

        df = spark.createDataFrame(
            [(0, "good good bad"), (1, "unseen words"), (2, "")],
            "doc_id long, text string",
        )
        w = spark.createDataFrame(
            [("good", 900), ("bad", -300)], "token string, weight_milli int"
        )
        rows = {r.doc_id: r for r in classifier_score(df, weights=w).collect()}
        assert rows[0].clf_score == (900 + 900 - 300) / 3000.0
        assert rows[0].clf_label == 1
        # unseen tokens weigh 0, not NULL-poison
        assert rows[1].clf_score == 0.0 and rows[1].clf_label == 0
        # empty doc restored with zero score
        assert rows[2].n_tokens == 0 and rows[2].clf_score == 0.0


class TestFuzzyDecontamination:
    def test_cjk_eval_set_needs_script_tokenize(self, spark):
        """r14: a spaceless Chinese eval question inside a training doc
        is INVISIBLE to the word-token contamination check (both sides
        are ~1 token, below n) — tokenize='script' character-grams the
        runs and the leak is flagged by both the exact and the fuzzy
        paths."""
        from nekton_spark.functions.decontaminate import (
            contamination_pairs,
            decontaminate,
            fuzzy_contamination_pairs,
        )

        leak = "北京是中华人民共和国的首都吗请回答"
        tr = spark.createDataFrame(
            [(1, "前言" + leak + "后记"), (2, "完全无关的另一段中文内容在此处")],
            "doc_id long, text string",
        )
        ev = spark.createDataFrame([(100, leak)], "doc_id long, text string")
        assert contamination_pairs(tr, ev, n=8).count() == 0  # word: blind
        got = contamination_pairs(tr, ev, n=8, tokenize="script").collect()
        assert [(r.train_id, r.eval_id) for r in got] == [(1, 100)]
        kept = decontaminate(tr, ev, n=8, tokenize="script").collect()
        assert [r.doc_id for r in kept] == [2]
        fz = fuzzy_contamination_pairs(
            tr, ev, threshold=0.5, tokenize="script"
        ).collect()
        assert [(r.train_id, r.eval_id) for r in fz] == [(1, 100)]
        assert fz[0].jaccard > 0.5

    def _jaccard(self, a, b, n=3):
        sa = {" ".join(a.split()[i : i + n]) for i in range(len(a.split()) - n + 1)}
        sb = {" ".join(b.split()[i : i + n]) for i in range(len(b.split()) - n + 1)}
        return len(sa & sb) / len(sa | sb)

    def test_paraphrase_flagged_exact_jaccard(self, spark):
        from nekton_spark.functions.decontaminate import fuzzy_contamination_pairs

        ev_text = "the quick brown fox jumps over the lazy dog today"
        near = "quick brown fox jumps over the lazy dog today"  # 1st token dropped
        far = "completely unrelated words about spark shuffles and joins"
        tr = spark.createDataFrame(
            [(1, near), (2, far)], "doc_id long, text string"
        )
        ev = spark.createDataFrame([(100, ev_text)], "doc_id long, text string")
        rows = fuzzy_contamination_pairs(tr, ev, threshold=0.5).collect()
        assert [(r.train_id, r.eval_id) for r in rows] == [(1, 100)]
        assert rows[0].jaccard == self._jaccard(near, ev_text)

    def test_threshold_excludes(self, spark):
        from nekton_spark.functions.decontaminate import fuzzy_contamination_pairs

        ev_text = "the quick brown fox jumps over the lazy dog today"
        near = "quick brown fox jumps over the lazy dog today"
        tr = spark.createDataFrame([(1, near)], "doc_id long, text string")
        ev = spark.createDataFrame([(100, ev_text)], "doc_id long, text string")
        j = self._jaccard(near, ev_text)
        assert fuzzy_contamination_pairs(tr, ev, threshold=j + 0.01).count() == 0

    def test_decontaminate_drops_only_flagged(self, spark):
        from nekton_spark.functions.decontaminate import fuzzy_decontaminate

        ev_text = "the quick brown fox jumps over the lazy dog today"
        near = "quick brown fox jumps over the lazy dog today"
        far = "completely unrelated words about spark shuffles and joins"
        tr = spark.createDataFrame(
            [(1, near), (2, far)], "doc_id long, text string"
        )
        ev = spark.createDataFrame([(100, ev_text)], "doc_id long, text string")
        kept = [r.doc_id for r in fuzzy_decontaminate(tr, ev, threshold=0.5).collect()]
        assert kept == [2]

    def test_xxhash_variant_runs(self, spark):
        from nekton_spark.functions.decontaminate import fuzzy_contamination_pairs

        ev_text = "the quick brown fox jumps over the lazy dog today"
        near = "quick brown fox jumps over the lazy dog today"
        tr = spark.createDataFrame([(1, near)], "doc_id long, text string")
        ev = spark.createDataFrame([(100, ev_text)], "doc_id long, text string")
        rows = fuzzy_contamination_pairs(tr, ev, threshold=0.5, hash="xxhash64").collect()
        assert [(r.train_id, r.eval_id) for r in rows] == [(1, 100)]

    def test_coincidental_same_id_flagged_by_default(self, spark):
        """Unrelated id spaces can collide: a contaminated train doc
        whose id equals the eval doc's id must still be flagged (r6
        ADVICE — the old unconditional self-pair filter silently kept
        leaked data). The shared-corpus exclusion is opt-in."""
        from nekton_spark.functions.decontaminate import (
            fuzzy_contamination_pairs,
            fuzzy_decontaminate,
        )

        ev_text = "the quick brown fox jumps over the lazy dog today"
        near = "quick brown fox jumps over the lazy dog today"
        tr = spark.createDataFrame([(100, near)], "doc_id long, text string")
        ev = spark.createDataFrame([(100, ev_text)], "doc_id long, text string")
        rows = fuzzy_contamination_pairs(tr, ev, threshold=0.5).collect()
        assert [(r.train_id, r.eval_id) for r in rows] == [(100, 100)]
        assert fuzzy_decontaminate(tr, ev, threshold=0.5).count() == 0
        # opt-in harness mode restores the old behavior
        assert (
            fuzzy_contamination_pairs(
                tr, ev, threshold=0.5, exclude_same_id=True
            ).count()
            == 0
        )


class TestTokenLengthHistogram:
    def test_hand_computed(self, spark):
        from nekton_spark.functions.text_analysis import token_length_histogram

        df = spark.createDataFrame(
            [(0, "a b c"), (1, "a b"), (2, "a b c d e"), (3, "")],
            "doc_id long, text string",
        )
        rows = {r.bin_lo: r for r in token_length_histogram(df, bin_width=4).collect()}
        # lengths: 3, 2, 5, 0 -> bins [0,3]: 3 docs, [4,7]: 1 doc
        assert rows[0].n_docs == 3 and rows[0].bin_hi == 3 and rows[0].frac == 0.75
        assert rows[4].n_docs == 1 and rows[4].frac == 0.25

    def test_invalid_width_refused(self, spark):
        import pytest as _pytest

        from nekton_spark.functions.text_analysis import token_length_histogram

        df = spark.createDataFrame([(0, "a")], "doc_id long, text string")
        with _pytest.raises(ValueError, match="bin_width"):
            token_length_histogram(df, bin_width=0)


class TestBpeMergeCandidates:
    def test_hand_computed(self, spark):
        from nekton_spark.functions.text_analysis import bpe_merge_candidates

        # words: "abab" (pairs ab, ba, ab), "ab" (ab), "x" (too short)
        df = spark.createDataFrame(
            [(0, "abab ab x"), (1, "abab")], "doc_id long, text string"
        )
        rows = {r.pair: r for r in bpe_merge_candidates(df, k=10).collect()}
        # abab occurs twice (docs 0 and 1): 2*(ab,ba,ab) + 1*ab = ab:5, ba:2
        assert rows["ab"].n_occurrences == 5 and rows["ab"].rank == 1
        assert rows["ba"].n_occurrences == 2 and rows["ba"].rank == 2

    def test_k_cap_and_tie_order(self, spark):
        from nekton_spark.functions.text_analysis import bpe_merge_candidates

        df = spark.createDataFrame([(0, "ab cd ef")], "doc_id long, text string")
        rows = bpe_merge_candidates(df, k=2).collect()
        # all count 1: ties break pair-ascending
        assert [r.pair for r in sorted(rows, key=lambda r: r.rank)] == ["ab", "cd"]


class TestCurriculumBuckets:
    def test_best_quality_in_bucket_one(self, spark):
        from nekton_spark.functions.text_analysis import curriculum_buckets

        good = " ".join(f"word{i}" for i in range(60))
        bad = "x! x! x! x!"
        df = spark.createDataFrame(
            [(0, good), (1, bad), (2, good), (3, bad)], "doc_id long, text string"
        )
        rows = {r.doc_id: r for r in curriculum_buckets(df, n_buckets=2).collect()}
        assert rows[0].bucket == 1 and rows[2].bucket == 1
        assert rows[1].bucket == 2 and rows[3].bucket == 2

    def test_invalid_buckets_refused(self, spark):
        import pytest as _pytest

        from nekton_spark.functions.text_analysis import curriculum_buckets

        df = spark.createDataFrame([(0, "a")], "doc_id long, text string")
        with _pytest.raises(ValueError, match="n_buckets"):
            curriculum_buckets(df, n_buckets=0)

    def test_matches_sql_ntile_uneven(self, spark):
        """The distributed rank+arithmetic path must be bit-identical to
        ntile() OVER (ORDER BY score DESC, doc_id) — including the
        uneven case (total % n != 0: the first rem buckets take one
        extra row) and across many partitions."""
        import random

        from pyspark.sql import Window

        from nekton_spark.functions.text_analysis import (
            curriculum_buckets,
            quality_score,
        )

        rng = random.Random(7)
        rows = [
            (i, " ".join(rng.choice(["aa", "bb!", "cc", "d", "ee ee"]) for _ in range(rng.randint(1, 30))))
            for i in range(203)  # 203 % 7 = 0? 203 = 7*29; use n=4 → rem 3
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string").repartition(9)
        got = {r.doc_id: r.bucket for r in curriculum_buckets(df, n_buckets=4).collect()}
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        want = {
            r.doc_id: r.bucket
            for r in df.select(
                "doc_id", quality_score(F.col("text")).alias("score")
            )
            .withColumn("bucket", F.ntile(4).over(w))
            .collect()
        }
        assert got == want

    def test_more_buckets_than_rows(self, spark):
        from nekton_spark.functions.text_analysis import curriculum_buckets

        df = spark.createDataFrame(
            [(0, "plain words here"), (1, "x!")], "doc_id long, text string"
        )
        rows = sorted(
            curriculum_buckets(df, n_buckets=5).collect(), key=lambda r: r.bucket
        )
        # ntile with n > N: each row gets its own bucket 1..N
        assert [r.bucket for r in rows] == [1, 2]


class TestRandomizedReferenceEquivalence:
    """Seeded random corpora checked against pure-Python references —
    broad-input coverage at one Spark job per operator (a hypothesis
    per-example Spark call would cost minutes)."""

    def _corpus(self):
        import random

        rng = random.Random(4242)
        vocab = ["alpha", "Beta", "GAMMA", "x", "punct!", "a-b", ""]
        docs = []
        for i in range(120):
            n_lines = rng.randint(1, 6)
            lines = []
            for _ in range(n_lines):
                k = rng.randint(0, 5)
                sep = "  " if rng.random() < 0.3 else " "
                lines.append(sep.join(rng.choice(vocab) for _ in range(k)))
            docs.append((i, "\n".join(lines)))
        return docs

    def test_remove_boilerplate_matches_python_reference(self, spark):
        import re

        from nekton_spark.functions.text_analysis import remove_boilerplate_lines

        docs = self._corpus()
        norm = lambda s: re.sub(r"\s+", " ", s.lower()).strip()  # noqa: E731
        from collections import Counter

        freq = Counter()
        for _, text in docs:
            freq.update({k for k in (norm(l) for l in text.split("\n")) if k})
        flagged = {k for k, c in freq.items() if c >= 3}
        expect = {}
        for i, text in docs:
            lines = text.split("\n")
            kept = [l for l in lines if norm(l) not in flagged]
            expect[i] = ("\n".join(kept), len(lines), len(lines) - len(kept))

        df = spark.createDataFrame(docs, "doc_id long, text string")
        for ssm in (10**6, 0):  # both rewrite paths
            got = {
                r.doc_id: (r.text, r.n_lines, r.n_removed)
                for r in remove_boilerplate_lines(
                    df, min_docs=3, small_set_max=ssm
                ).collect()
            }
            assert got == expect, f"path small_set_max={ssm}"

    def _oracle_on(self, docs, sql):
        """Run a driver oracle against the random corpus as the
        `documents` table — the check_oracle contract extended to
        arbitrary input (a plain-python reference would be a THIRD
        tokenizer semantic: Spark trim and DuckDB trim both strip
        spaces only, so a leading newline yields a counted empty token
        in both engines but not in str.split())."""
        import duckdb
        import pandas as pd

        con = duckdb.connect()
        con.register(
            "documents",
            pd.DataFrame(docs, columns=["doc_id", "text"]),
        )
        return con.execute(sql).df()

    def test_histogram_matches_duckdb_oracle(self, spark):
        import __spark_entry__ as em

        from nekton_spark.functions.text_analysis import token_length_histogram

        docs = self._corpus()
        ref = self._oracle_on(docs, em.oracle_sql()["token_length_histogram"])
        df = spark.createDataFrame(docs, "doc_id long, text string")
        rows = token_length_histogram(df, bin_width=50).collect()
        got = {r.bin_lo: (r.n_docs, r.frac) for r in rows}
        want = {int(r.bin_lo): (int(r.n_docs), float(r.frac)) for _, r in ref.iterrows()}
        assert got == want

    def test_classifier_matches_duckdb_oracle(self, spark):
        import __spark_entry__ as em

        from nekton_spark.functions.text_analysis import classifier_score

        docs = self._corpus()
        ref = self._oracle_on(docs, em.oracle_sql()["classifier_score_docs"])
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {r.doc_id: (r.n_tokens, r.clf_score, r.clf_label) for r in classifier_score(df).collect()}
        want = {
            int(r.doc_id): (int(r.n_tokens), float(r.clf_score), int(r.clf_label))
            for _, r in ref.iterrows()
        }
        assert got == want


class TestNormalizeText:
    def test_nfc_composes_and_chain_applies(self, spark):
        from nekton_spark.functions.text_analysis import normalize_text

        decomposed = "nai\u0308ve  WORLD\tx"  # i + combining diaeresis
        df = spark.createDataFrame(
            [(0, decomposed), (1, None)], "doc_id long, text string"
        )
        rows = {r.doc_id: r.norm_text for r in normalize_text(df).collect()}
        assert rows[0] == "na\u00efve world x"  # precomposed
        assert "\u0308" not in rows[0]  # no combining mark survives
        assert rows[1] is None

    def test_only_nfc_supported(self, spark):
        from nekton_spark.functions.text_analysis import normalize_text

        df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
        with pytest.raises(ValueError, match="NFC"):
            normalize_text(df, form="NFKC")

    def test_flags_off_preserve_case_and_ws(self, spark):
        from nekton_spark.functions.text_analysis import normalize_text

        df = spark.createDataFrame([(0, "A  B")], "doc_id long, text string")
        r = normalize_text(df, lowercase=False, collapse_ws=False).first()
        assert r.norm_text == "A  B"


class TestDriftReport:
    def test_identical_snapshots_zero_psi(self, spark):
        from nekton_spark.functions.validation import drift_report

        df = spark.createDataFrame(
            [(i, float(i % 50)) for i in range(200)], "id long, x double"
        )
        r = drift_report(df, df, ["x"]).first()
        assert r.psi == 0.0
        assert r.n_old == r.n_new == 200 and r.min_old == r.min_new == 0.0

    def test_shifted_distribution_flags(self, spark):
        from nekton_spark.functions.validation import drift_report

        old = spark.createDataFrame(
            [(i, float(i % 50)) for i in range(200)], "id long, x double"
        )
        new = spark.createDataFrame(
            [(i, float(i % 50) + 200.0) for i in range(200)], "id long, x double"
        )
        r = drift_report(old, new, ["x"]).first()
        # every new value clamps into the top edge bin → massive PSI
        assert r.psi > 0.25
        assert r.max_new == 249.0

    def test_nulls_counted_not_binned(self, spark):
        from nekton_spark.functions.validation import drift_report

        old = spark.createDataFrame(
            [(0, 1.0), (1, 2.0), (2, None)], "id long, x double"
        )
        r = drift_report(old, old, ["x"]).first()
        assert r.nulls_old == 1 and r.psi == 0.0

    def test_bins_validated(self, spark):
        from nekton_spark.functions.validation import drift_report

        df = spark.createDataFrame([(0, 1.0)], "id long, x double")
        with pytest.raises(ValueError, match="bins"):
            drift_report(df, df, ["x"], bins=1)

    def test_empty_or_all_null_old_snapshot_raises_clearly(self, spark):
        """An empty (or all-NULL-column) old snapshot has no [min, max]
        to anchor the PSI bins on — must be a clear ValueError naming
        the column, not an opaque float(None) TypeError."""
        from nekton_spark.functions.validation import drift_report

        new = spark.createDataFrame([(0, 1.0)], "id long, x double")
        empty = new.where(F.lit(False))
        with pytest.raises(ValueError, match="no non-null values for column 'x'"):
            drift_report(empty, new, ["x"])
        allnull = spark.createDataFrame([(0, None)], "id long, x double")
        with pytest.raises(ValueError, match="no non-null values for column 'x'"):
            drift_report(allnull, new, ["x"])


class TestCategoryDrift:
    def test_appearing_and_vanishing_categories(self, spark):
        from nekton_spark.functions.validation import category_drift

        old = spark.createDataFrame(
            [(0, "en"), (1, "en"), (2, "fr")], "id long, lang string"
        )
        new = spark.createDataFrame(
            [(0, "en"), (1, "de")], "id long, lang string"
        )
        rows = {r.value: r for r in category_drift(old, new, "lang").collect()}
        assert rows["fr"].n_new == 0 and rows["fr"].frac_new == 0.0
        assert rows["de"].n_old == 0
        assert rows["en"].frac_old == 2 / 3 and rows["en"].frac_new == 0.5


class TestRemoveRepeatedSpans:
    def _run(self, spark, docs, n=4, min_docs=2):
        from nekton_spark.functions.text_analysis import remove_repeated_spans

        df = spark.createDataFrame(docs, "doc_id long, text string")
        return {
            r.doc_id: (r.clean_text, r.n_tokens, r.n_removed)
            for r in remove_repeated_spans(df, n=n, min_docs=min_docs).collect()
        }

    def test_keeper_keeps_others_lose(self, spark):
        p = "alpha beta gamma delta"  # the repeated 4-gram
        # tails chosen so NO window other than p itself is shared
        # across docs (e.g. a common last token would make
        # "beta gamma delta <tok>" a second flagged gram)
        docs = [
            (1, f"{p} tail one"),
            (2, f"head {p} end"),
            (3, "nothing shared here at all"),
            (4, f"{p}"),
        ]
        got = self._run(spark, docs)
        # doc 1 is the keeper (min id): untouched (modulo ws-normalize)
        assert got[1] == (f"{p} tail one", 6, 0)
        # docs 2 and 4 lose the span, surrounding tokens survive in order
        assert got[2] == ("head end", 6, 4)
        assert got[4] == ("", 4, 4)
        assert got[3] == ("nothing shared here at all", 5, 0)

    def test_overlapping_windows_union(self, spark):
        # a 6-token repeated run: its three 4-gram windows all repeat,
        # and their covered sets union to the whole run
        run = "a b c d e f"
        docs = [(1, f"{run} x"), (2, f"y {run} z")]
        got = self._run(spark, docs)
        assert got[1] == (f"{run} x", 7, 0)  # keeper
        assert got[2] == ("y z", 8, 6)

    def test_keeper_repeated_occurrences_survive(self, spark):
        # the keeper doc contains the span twice — BOTH survive (the
        # keeper rule is per-doc, not per-occurrence)
        p = "p q r s"
        docs = [(1, f"{p} mid {p}"), (2, f"{p} other")]
        got = self._run(spark, docs)
        assert got[1] == (f"{p} mid {p}", 9, 0)
        assert got[2] == ("other", 5, 4)

    def test_null_and_empty_docs_pass_through(self, spark):
        docs = [(1, None), (2, ""), (3, "   "), (4, "w x y z"), (5, "w x y z")]
        got = self._run(spark, docs)
        assert got[1] == ("", 0, 0)
        assert got[2] == ("", 0, 0)
        assert got[3] == ("", 0, 0)
        assert got[4] == ("w x y z", 4, 0)  # keeper
        assert got[5] == ("", 4, 4)

    def test_no_repeats_identity_modulo_ws(self, spark):
        docs = [(1, "one  two\tthree four five"), (2, "six seven eight nine")]
        got = self._run(spark, docs)
        assert got[1] == ("one two three four five", 5, 0)
        assert got[2] == ("six seven eight nine", 4, 0)

    def test_min_docs_threshold(self, spark):
        p = "m n o p"
        docs = [(1, f"{p} a"), (2, f"{p} b"), (3, f"{p} c")]
        # at min_docs=4 nothing is flagged
        got = self._run(spark, docs, min_docs=4)
        assert all(v[2] == 0 for v in got.values())
        # at min_docs=3 docs 2,3 lose the span
        got = self._run(spark, docs, min_docs=3)
        assert got[1][2] == 0 and got[2] == ("b", 5, 4) and got[3] == ("c", 5, 4)


class TestRrfFuse:
    """Reciprocal Rank Fusion: score = Σ 1/(k0 + rank) over the lists
    containing the pair; docs in only one list still rank; determinism
    and top-k bounds."""

    def test_fusion_math_and_single_list_docs(self, spark):
        from nekton_spark.functions.text_analysis import rrf_fuse

        a = spark.createDataFrame(
            [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
            "query_id long, doc_id long, rank int",
        )
        b = spark.createDataFrame(
            [(1, 11, 1), (1, 13, 2)],
            "query_id long, doc_id long, rank int",
        )
        rows = {r.doc_id: r for r in rrf_fuse(a, b, k=10, k0=60).collect()}
        # doc 11: in both lists (ranks 2 and 1)
        assert rows[11].rrf_score == round(1 / 62 + 1 / 61, 6)
        # docs 10, 12 only in a; doc 13 only in b
        assert rows[10].rrf_score == round(1 / 61, 6)
        assert rows[12].rrf_score == round(1 / 63, 6)
        assert rows[13].rrf_score == round(1 / 62, 6)
        # doc 11 wins: present in both lists beats any single-list doc
        assert rows[11].rank == 1
        # full order by score desc then doc asc:
        # 11 (1/62+1/61) > 10 (1/61) > 13 (1/62) > 12 (1/63)
        got = sorted((r.rank, r.doc_id) for r in rows.values())
        assert got == [(1, 11), (2, 10), (3, 13), (4, 12)]

    def test_topk_and_tie_break(self, spark):
        from nekton_spark.functions.text_analysis import rrf_fuse

        # two docs with identical single-list ranks → identical scores;
        # smaller doc id must win the tie
        a = spark.createDataFrame(
            [(1, 20, 1), (2, 30, 1)], "query_id long, doc_id long, rank int"
        )
        b = spark.createDataFrame(
            [(1, 21, 1), (2, 29, 1)], "query_id long, doc_id long, rank int"
        )
        out = rrf_fuse(a, b, k=1).collect()
        by_q = {r.query_id: r.doc_id for r in out}
        assert by_q == {1: 20, 2: 29}
        assert all(r.rank == 1 for r in out)

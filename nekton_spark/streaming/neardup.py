"""Streaming near-duplicate detection under a watermark (SURVEY §7
hard-part 5 — the reference is stateless record-at-a-time with no
event time at all; this is the Structured-Streaming-native design).

Shape: MinHash signatures are a map-only Arrow-batched projection (no
aggregation — streaming forbids pre-join aggregates), band keys
explode to ``bands`` rows/doc, and candidates meet in a watermarked
stream-stream self equi-join on (band, key) with an event-time range
bound — Spark's state store then evicts join state older than the
watermark horizon, which is exactly the "near-dup within a time
horizon" semantics a 100 TB/day ingest pipeline wants. Verification
is exact Jaccard over the carried shingle sets (codegen'd
array_intersect — candidates only, never all pairs).

A pair sharing m bands would be emitted m times; instead of a second
stateful operator to collapse them (chaining a dedup store after a
stream-stream join trips Spark's multiple-watermark restrictions and
doubles the state), emission is made unique BY CONSTRUCTION: both
signatures travel through the join and only the row whose band index
equals the pair's first shared band survives. One output row per
pair, zero extra state.

The operator is streaming/batch-unified: on a batch frame the very
same plan runs unchanged — the first-shared-band filter provides the
per-pair uniqueness on both paths (no separate batch dedup step), and
``materialize`` pins the signature frame so the self-join's two
branches agree. The batch-equivalence test checks this against
``minhash_lsh_pairs``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize

from ..functions.dedup import (
    DEFAULT_BANDS,
    DEFAULT_K,
    _minhash_udf,
    band_key,
    band_rows,
    set_jaccard,
)

__all__ = ["streaming_minhash_near_dup"]


def _estimate(sig_a: Column, sig_b: Column, k: int) -> Column:
    """MinHash estimator: the share of agreeing signature components."""
    return (
        F.aggregate(
            F.zip_with(sig_a, sig_b, lambda a, b: F.when(a == b, 1).otherwise(0)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double")
        / k
    )


def streaming_minhash_near_dup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    delay: str = "10 minutes",
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    threshold: float = 0.5,
    verify: str = "exact",
) -> DataFrame:
    """Near-dup pairs (id_a, id_b, ts, jaccard) among docs whose event
    times lie within ``delay`` of each other; ``ts`` is the later of
    the pair. Join-buffer state is bounded by the watermark; exactly
    one row per pair is emitted (first-shared-band rule).

    ``verify`` trades join-state width for score exactness:

    - ``"exact"`` — carry each doc's distinct shingle set through the
      join and score true Jaccard (array_intersect/union). The carried
      set is dictionary-encoded to 60-bit md5 hashes (``hash60``, the
      same portable family the signatures use), so state per banded
      row is 8 bytes per shingle instead of a ~doc-length string array
      — ~10× narrower, the fix for the r7 sf10 rehearsal's
      6.5×/decade join width. Jaccard over the hashed sets equals
      Jaccard over the string sets except under a 60-bit collision
      inside one pair's union (P < |union|²/2^61 — negligible, and
      the DuckDB oracle replays the same hashing so the contract
      stays bit-for-bit at any scale).
    - ``"estimate"`` — carry only the k-long signature and score the
      standard MinHash estimator (fraction of agreeing components,
      unbiased for Jaccard with stderr ≈ sqrt(J(1-J)/k)). State per
      banded row shrinks to k longs — ~10× narrower on typical docs,
      which is what a 100 TB/day stream's state store wants. Near the
      threshold the estimator can admit/drop pairs exact scoring
      wouldn't; run the exact batch audit offline where it matters.
    """
    if verify not in ("exact", "estimate"):
        raise ValueError(f"unknown verify mode: {verify!r} (exact|estimate)")
    # validated like the batch sibling: bands > k would give r=0 —
    # every band key the hash of an EMPTY slice, i.e. one bucket and a
    # corpus-wide stream-stream cross join
    r = band_rows(k, bands)
    # r16 (found by the decade re-sweep): the batch twin fed a
    # 1-split local parquet straight into the Arrow signature pass —
    # at the 10× corpus that was ONE 11.9 s task while 31 cores sat
    # idle. Fan out BELOW the signature projection (repartitioning
    # the input, not the projected frame, so the UDF runs fanned);
    # no-op on streams (micro-batch partitioning is the source's
    # business) and at real scale (natural splits exceed the target).
    from nekton_spark.functions.similarity import ensure_parallelism

    df = ensure_parallelism(df)
    if verify == "exact":
        # one Arrow pass yields the signature AND the dictionary-
        # encoded (60-bit hashed) shingle set — 8 bytes/shingle of
        # join state instead of the shingle string
        both = _minhash_udf("sig,hs", k, shingle_n)
        base = (
            df.select(
                F.col(id_col).alias("id"),
                F.col(ts_col).alias("ts"),
                both(F.col(text_col)).alias("_sg"),
            )
            .select("id", "ts", F.col("_sg.sig").alias("sig"), F.col("_sg.hs").alias("sh"))
            .filter(F.col("sig").isNotNull())
        )
    else:
        sig_udf = _minhash_udf("sig", k, shingle_n)
        base = df.select(
            F.col(id_col).alias("id"),
            F.col(ts_col).alias("ts"),
            sig_udf(F.col(text_col)).alias("sig"),
        ).filter(F.col("sig").isNotNull())
    band_array = F.array(*[band_key(b, r, "md5") for b in range(bands)])
    if df.isStreaming:
        from .windows import ensure_event_time

        carried = ["id", "ts", "sig"] + (["sh"] if verify == "exact" else [])
        banded = base.select(*carried, F.posexplode(band_array).alias("band", "bh"))
        banded = ensure_event_time(banded, "ts").withWatermark("ts", delay)
        # the explicit two-sided time bound is what lets the stream-stream
        # join evict buffered rows once the watermark passes the horizon.
        # stream-stream join carries the full state (sig[, sh]) through
        # every banded row — the state store evicts by watermark and a
        # second stateful collapse operator would trip Spark's
        # multiple-watermark restriction, so emission is made unique BY
        # CONSTRUCTION: only the row whose band equals the pair's first
        # shared band survives.
        left, right = banded.alias("l"), banded.alias("r")
        joined = left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.id") < F.col("r.id"))
            & (F.col("r.ts") >= F.col("l.ts") - F.expr(f"INTERVAL {delay}"))
            & (F.col("r.ts") <= F.col("l.ts") + F.expr(f"INTERVAL {delay}")),
        )
        first_shared = F.element_at(
            F.filter(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.slice(F.col("l.sig"), b * r + 1, r)
                == F.slice(F.col("r.sig"), b * r + 1, r),
            ),
            1,
        )
        if verify == "exact":
            score = set_jaccard(F.col("l.sh"), F.col("r.sh"))
        else:
            score = _estimate(F.col("l.sig"), F.col("r.sig"), k)
        return (
            joined.filter(F.col("l.band") == first_shared)
            .select(
                F.col("l.id").alias("id_a"),
                F.col("r.id").alias("id_b"),
                F.greatest(F.col("l.ts"), F.col("r.ts")).alias("ts"),
                score.alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )

    # ---- batch twin: narrow candidate join + wide-state fetch ----
    #
    # Streaming gets time-pruning for free (the state store evicts
    # past-watermark rows); a batch equi-join on (band, bh) alone
    # buckets EVERY row of a hot band key together, so the horizon is
    # made part of the join key: bucket ts into horizon-width cells,
    # orient each pair EARLIER→LATER by (ts, id), and have the earlier
    # side probe its own cell and the next (0 ≤ Δts ≤ h ⇒ Δcell ∈
    # {0, 1} — two probe rows per banded row). A hot band key is thus
    # subdivided by time and the join builds only pairs that can pass
    # the horizon filter.
    #
    # Unlike the streaming plan, the batch join itself is NARROW (r8):
    # only (id, ts, band, bh) rows enter the bands×probes explode and
    # shuffle — the wide per-doc state (k-long sig / hashed shingle
    # set) would otherwise move ~2·bands× through the exchange
    # (measured sf10, 500k docs: the wide form shuffled ~16×/doc at
    # 120 s exact / 86 s estimate wall; this narrow rewrite reads 44 s
    # / 33 s, and the sf1→sf10 factor drops 6.5× → 2.9× per decade).
    # Candidate pairs are then
    # DISTINCT'd (pair-scale, replacing the streaming first-shared-band
    # collapse) and the state table joins back ONCE per side by id to
    # score. The eager materialize pins base so the Arrow UDF runs
    # once and every branch (two join sides + two fetches) reads the
    # same materialization — it also normalizes a TIMESTAMP_NTZ batch
    # input (ensure_event_time) so the unix_micros cell arithmetic and
    # the emitted ts type match the streaming twin.
    from .windows import ensure_event_time

    base = ensure_event_time(base, "ts").transform(materialize)
    h_us = F.unix_micros(
        F.expr(f"TIMESTAMP '1970-01-01 00:00:00Z' + INTERVAL {delay}")
    )
    cell = F.floor(F.unix_micros(F.col("ts")) / h_us)
    narrow = base.select(
        "id", "ts", F.posexplode(band_array).alias("band", "bh")
    ).withColumn("_cell", cell)
    left = narrow.select(
        *narrow.columns,
        F.explode(F.array(F.col("_cell"), F.col("_cell") + 1)).alias("_probe"),
    ).alias("l")
    right = narrow.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l._probe") == F.col("r._cell"))
            # the id inequality mirrors the streaming join's l.id < r.id:
            # a doc_id ingested TWICE at different timestamps would
            # otherwise pass the ts< orientation here as a same-id pair
            # the streaming twin never emits (batch/stream equivalence)
            & (F.col("l.id") != F.col("r.id"))
            & (
                (F.col("l.ts") < F.col("r.ts"))
                | ((F.col("l.ts") == F.col("r.ts")) & (F.col("l.id") < F.col("r.id")))
            )
            & (F.col("r.ts") <= F.col("l.ts") + F.expr(f"INTERVAL {delay}")),
        )
        .select(
            F.col("l.id").alias("_ida"),
            F.col("r.id").alias("_idb"),
            F.col("l.ts").alias("_tsa"),
            F.col("r.ts").alias("_tsb"),
        )
        .distinct()
    )
    if verify == "exact":
        score = set_jaccard(F.col("_sha"), F.col("_shb"))
        # sig rides along for the exact-band-slice equivalence filter
        # below (k longs per fetched pair side — pair-scale, not in
        # the hot banded shuffle)
        st_a = base.select(
            F.col("id").alias("_ida"),
            F.col("sh").alias("_sha"),
            F.col("sig").alias("_siga"),
        )
        st_b = base.select(
            F.col("id").alias("_idb"),
            F.col("sh").alias("_shb"),
            F.col("sig").alias("_sigb"),
        )
    else:
        score = _estimate(F.col("_siga"), F.col("_sigb"), k)
        st_a = base.select(F.col("id").alias("_ida"), F.col("sig").alias("_siga"))
        st_b = base.select(F.col("id").alias("_idb"), F.col("sig").alias("_sigb"))
    # Candidates were admitted on the 60-bit band HASH alone (the
    # narrow join never moves signatures); the streaming twin admits a
    # pair only when an actual signature band SLICE matches. Re-check
    # slice equality here, post-fetch — pair-scale, JVM-only — so a
    # ~2^-60 band-hash collision cannot make batch emit a pair the
    # stream would drop (strict batch/stream equivalence, r8 ADVICE).
    shares_band = F.exists(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.slice(F.col("_siga"), b * r + 1, r)
        == F.slice(F.col("_sigb"), b * r + 1, r),
    )
    # least/greatest: the batch join orients pairs by (ts, id), not id
    return (
        pairs.join(st_a, "_ida")
        .join(st_b, "_idb")
        .filter(shares_band)
        .select(
            F.least(F.col("_ida"), F.col("_idb")).alias("id_a"),
            F.greatest(F.col("_ida"), F.col("_idb")).alias("id_b"),
            F.greatest(F.col("_tsa"), F.col("_tsb")).alias("ts"),
            score.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )

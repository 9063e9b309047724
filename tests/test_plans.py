"""Plan-shape assertions: the scale properties the engine promises —
pushdown, pruning, broadcast selection, bounded shuffle counts,
map-side partial aggregation, whole-stage codegen — checked against
the actual physical plans, not taken on faith."""

import pytest

import __spark_entry__ as em
from nekton_spark import plans

SF = "/root/testdata/sf0.001"


class TestPushdownAndPruning:
    def test_q01_filter_reaches_scan(self, spark):
        df = em.q01_pricing_summary(spark, SF)
        pushed = " ".join(plans.pushed_filters(df))
        assert "LessThanOrEqual(l_shipdate" in pushed

    def test_q01_column_pruning(self, spark):
        df = em.q01_pricing_summary(spark, SF)
        cols = set(plans.read_schema_columns(df))
        # 7 of lineitem's 11 columns needed; key columns must NOT be read
        assert "l_orderkey" not in cols and "l_partkey" not in cols
        assert {"l_quantity", "l_extendedprice", "l_returnflag"} <= cols

    def test_selective_filter_pushdown_on_dimension(self, spark):
        df = em.q03_shipping_priority(spark, SF)
        pushed = " ".join(plans.pushed_filters(df))
        assert "EqualTo(c_mktsegment,BUILDING)" in pushed

    def test_events_filter_pushdown(self, spark):
        df = em.events_asof_join(spark, SF)
        pushed = " ".join(plans.pushed_filters(df))
        assert "EqualTo(event_type,purchase)" in pushed
        assert "EqualTo(event_type,click)" in pushed


class TestJoinStrategy:
    def test_q03_broadcasts_dimension(self, spark):
        assert plans.has_broadcast_join(em.q03_shipping_priority(spark, SF))

    def test_q05_broadcasts_nation_region(self, spark):
        assert plans.has_broadcast_join(em.q05_region_revenue(spark, SF))

    def test_ann_broadcasts_queries(self, spark):
        assert plans.has_broadcast_join(em.ann_topk_bruteforce(spark, SF))

    def test_q07_broadcasts_nations(self, spark):
        assert plans.has_broadcast_join(em.q07_volume_shipping(spark, SF))

    def test_q08_broadcasts_dimensions(self, spark):
        assert plans.has_broadcast_join(em.q08_market_share(spark, SF))

    def test_q09_broadcasts_dimensions(self, spark):
        assert plans.has_broadcast_join(em.q09_product_profit(spark, SF))

    def test_q19_broadcasts_part_and_pushes_common_filter(self, spark):
        df = em.q19_discounted_revenue(spark, SF)
        assert plans.has_broadcast_join(df)
        # the brand disjunction's common part predicate must reach the scan
        pushed = " ".join(plans.pushed_filters(df))
        assert "p_brand" in pushed

    def test_ivf_broadcasts_centroids(self, spark):
        assert plans.has_broadcast_join(em.ann_topk_ivf(spark, SF))

    def test_decontamination_broadcasts_eval_shingles(self, spark):
        assert plans.has_broadcast_join(em.decontamination_check(spark, SF))

    def test_vocab_coverage_broadcasts_vocabulary(self, spark):
        assert plans.has_broadcast_join(em.vocab_coverage(spark, SF))


class TestShuffleBudget:
    """Each operator's shuffle count is part of its contract — a
    regression here is a 100 TB performance bug even if results stay
    correct."""

    @pytest.mark.parametrize(
        "fn,max_exchanges",
        [
            (em.q06_forecast_revenue, 0),   # filter+agg: partial/final, no orderBy
            (em.pipeline_chain, 0),          # pure map chain: NO shuffle
            (em.q01_pricing_summary, 2),     # agg shuffle + orderBy range
            (em.events_asof_join, 1),        # one (key,ts) sort shuffle
            (em.text_stats, 0),              # map-only text analysis
            (em.dedup_exact, 1),             # one agg shuffle on fingerprint
            (em.pack_sequences_check, 1),    # one per-shard sort shuffle
            (em.q13_customer_distribution, 3),  # join + two narrow aggs
        ],
    )
    def test_exchange_budget(self, spark, fn, max_exchanges):
        assert plans.count_exchanges(fn(spark, SF)) <= max_exchanges

    def test_map_side_partial_aggregation(self, spark):
        plan = plans.simple_plan(em.q01_pricing_summary(spark, SF))
        # partial before the exchange, final after: two HashAggregates
        assert plan.count("HashAggregate") >= 2


class TestTopK:
    """Global top-k must be TakeOrderedAndProject (partial per-partition
    top-k), never a single-partition window sort over the whole frame;
    the rank window may only ever see the k surviving rows."""

    @pytest.mark.parametrize(
        "fn",
        [
            em.events_topk_users,
            em.vocab_top_tokens,
            em.common_passages_check,
            em.weighted_sample_docs,
        ],
    )
    def test_topk_partial_not_global_sort(self, spark, fn):
        df = fn(spark, SF)
        assert plans.has_take_ordered(df)
        assert plans.single_partition_exchanges(df) == 0

    def test_tfidf_partial_agg_and_broadcast_count(self, spark):
        """tfidf: both count shuffles partial-aggregate map-side and the
        1-row corpus count enters via broadcast, never a driver action."""
        df = em.tfidf_top_terms_check(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "partial_count" in plan
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        # the only single-partition exchange allowed is the 1-row
        # corpus-count aggregate (its input is already map-side
        # partial-aggregated to one row per task)
        assert plans.single_partition_exchanges(df) <= 1


class TestCodegen:
    def test_whole_stage_codegen_applies(self, spark):
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            n = plans.codegen_stage_count(em.q01_pricing_summary(spark, SF))
            assert n >= 2  # scan+partial agg stage, final agg stage
            # text analysis is pure expressions — must be one codegen'd map stage
            n2 = plans.codegen_stage_count(em.text_stats(spark, SF))
            assert n2 >= 1
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")


class TestNoCartesian:
    def test_no_cartesian_product_across_all_queries(self, spark):
        """Sweep the full driver contract: no query may compile to a
        CartesianProduct. Theta/range joins must ride a broadcast
        (BroadcastNestedLoopJoin over a bounded side) or an equi-join
        on derived keys — an unbounded NxM cross is a 100 TB
        non-starter regardless of correctness."""
        offenders = []
        for name, fn in em.queries().items():
            plan = plans.simple_plan(fn(spark, SF))
            if "CartesianProduct" in plan:
                offenders.append(name)
        assert offenders == []


class TestPartitionedLayout:
    def test_partitioned_write_prunes_on_read(self, spark, tmp_path):
        """A hive-partitioned write must produce partition-pruned scans:
        the filter appears as a PartitionFilter and unneeded partition
        directories are never read."""
        from pyspark.sql import functions as F

        from nekton_spark.registry import SINKS

        df = spark.read.parquet(f"{SF}/events.parquet").withColumn(
            "etype", F.col("event_type")
        )
        SINKS["file"](df, str(tmp_path / "part_events"), partition_by=["etype"])
        back = spark.read.parquet(str(tmp_path / "part_events")).filter(
            F.col("etype") == "click"
        )
        pf = " ".join(plans.partition_filters(back))
        assert "etype" in pf
        # and the non-matching partition dirs exist but aren't scanned
        dirs = {p.name for p in (tmp_path / "part_events").iterdir() if p.is_dir()}
        assert len(dirs) > 1
        assert back.count() > 0


class TestR6ThirdSessionPlans:
    def test_classifier_score_map_only(self, spark):
        """Placeholder-mode classifier scoring is pure codegen: zero
        shuffles, zero Python."""
        df = em.classifier_score_check(spark, SF)
        assert plans.count_exchanges(df) == 0
        assert "pythonudf" not in plans.simple_plan(df).lower()

    def test_boilerplate_rewrite_has_no_second_corpus_shuffle(self, spark):
        """Mining = one content-keyed agg (partial+final exchanges, plus
        the 1-row flagged-set aggregate); the rewrite itself is a
        broadcast back onto an unshuffled corpus scan."""
        df = em.boilerplate_removal_check(spark, SF)
        plan = plans.simple_plan(df)
        assert "BroadcastNestedLoopJoin" in plan
        # corpus-sized exchanges: only the two mining-agg exchanges and
        # the 1-row collect_list exchange — 3 total, none keyed on doc_id
        assert plans.count_exchanges(df) <= 3
        assert "hashpartitioning(doc_id" not in plan

    def test_fuzzy_decontamination_broadcasts_eval(self, spark):
        """The eval side enters band matching AND verification as a
        broadcast — the training corpus is never shuffled on a key."""
        df = em.fuzzy_decontamination_check(spark, SF)
        assert plans.has_broadcast_join(df)


class TestR7Plans:
    def test_curriculum_no_single_partition_stage(self, spark):
        """The ntile rewrite: no stage may collapse to one partition
        (the old global-ORDER window did; at 100 TB that is an OOM)."""
        df = em.curriculum_buckets_check(spark, SF)
        assert plans.single_partition_exchanges(df) == 0
        # and no window operator is left in the plan at all
        assert "Window" not in plans.simple_plan(df)

    def test_tiered_kmeans_no_cartesian_and_bounded_exchanges(self, spark):
        """Two-level k-means: coarse assignment map-only, refinement one
        grouped exchange — no cartesian anywhere, no single-task stage."""
        df = em.kmeans_tiered(spark, SF)
        plan = plans.simple_plan(df)
        assert "CartesianProduct" not in plan
        assert plans.single_partition_exchanges(df) == 0

    def test_mixture_sample_one_shuffle_and_broadcast_rates(self, spark):
        """Totals = one partial-agg'd shuffle; the rate table rides back
        as a broadcast; the corpus filter is map-only."""
        df = em.mixture_sample_check(spark, SF)
        assert plans.count_exchanges(df) == 1
        assert plans.has_broadcast_join(df)
        assert "CartesianProduct" not in plans.simple_plan(df)

    def test_normalize_text_map_only(self, spark):
        df = em.normalize_text_check(spark, SF)
        assert plans.count_exchanges(df) == 0

    def test_pq_scan_no_cartesian_one_exchange(self, spark):
        """PQ: encode is map-only; the only exchange is the per-query
        rank window over the scored rows."""
        df = em.ann_topk_pq(spark, SF)
        p = plans.simple_plan(df)
        assert "CartesianProduct" not in p
        assert plans.count_exchanges(df) == 1


class TestR8Plans:
    def test_simhash_dedup_single_agg_shuffle_no_python(self, spark):
        """dedup_simhash is one codegen map (the aggregate-fold simhash
        expression) + one partial/final agg on the hash: exactly two
        exchanges (the ensure_parallelism round-robin + the agg), two
        HashAggregates, zero Python workers. Pinned after the r7 bench
        count-leg anomaly (3.9 s vs 0.63 s evaluated in one run):
        an isolated interleaved min-of-5 A/B on one host read 0.73 s
        count vs 0.65 s evaluated — the legs agree and the plan is the
        shape below; the r7 reading was ambient host load, not a plan
        difference."""
        df = em.dedup_simhash(spark, SF)
        plan = plans.simple_plan(df)
        assert plan.count("HashAggregate") == 2
        assert plans.count_exchanges(df) <= 2
        assert "pythonudf" not in plan.lower()
        assert "CartesianProduct" not in plan

    def test_pq_rerank_broadcast_no_cartesian_two_exchanges(self, spark):
        """pq_topk_rerank: candidates reach the true-vector fetch as a
        broadcast (semi-join shape — the corpus is never shuffled);
        the only exchanges are the two rank windows (ADC candidate
        ranking + final re-rank over |queries|·c rows)."""
        df = em.ann_topk_pq_rerank(spark, SF)
        p = plans.simple_plan(df)
        assert plans.has_broadcast_join(df)
        assert "CartesianProduct" not in p
        assert plans.count_exchanges(df) <= 2

    def test_lang_id_trained_arrow_one_pass(self, spark):
        """Trained language id (default arrow impl): exactly ONE
        map-only Arrow pass (per-executor LUT, no weight broadcast),
        no join, no aggregate — the only exchange is the
        ensure_parallelism round-robin. The expression twin keeps the
        broadcast-join + pivot shape with zero Python (the parity
        witness, like dup_ngram_fraction's)."""
        df = em.lang_id_trained(spark, SF)
        p = plans.simple_plan(df)
        assert p.count("MapInPandas") == 1
        assert "CartesianProduct" not in p and "Join" not in p
        assert plans.count_exchanges(df) <= 1

        from nekton_spark.functions.langid_model import lang_id_trained

        expr_df = lang_id_trained(
            em._t(spark, SF, "documents"), impl="expr"
        )
        ep = plans.simple_plan(expr_df)
        assert plans.has_broadcast_join(expr_df)
        assert "pythonudf" not in ep.lower()
        assert "CartesianProduct" not in ep

    def test_dsir_broadcast_models_no_python(self, spark):
        """DSIR: both bucket-count models and both totals reach the
        scoring pass as broadcasts (nothing data-scale is shuffled
        twice); the per-doc sum is the one doc-keyed aggregate. Zero
        Python; the only cross joins are the broadcast 1-row totals."""
        df = em.dsir_select(spark, SF)
        p = plans.simple_plan(df)
        assert plans.has_broadcast_join(df)
        assert "pythonudf" not in p.lower()
        assert "CartesianProduct" not in p.replace(
            "BroadcastNestedLoopJoin", ""
        )

    def test_winnow_selection_map_only_and_pairs_bounded(self, spark):
        """Winnowing selection is one map-only expression pass (no
        shuffle, no Python — the array HOFs are Catalyst expressions);
        pair mining is the standard inverted-index plan with the
        df-cut as a BROADCAST anti-join and no cartesian anywhere."""
        from nekton_spark.functions.winnow import (
            winnow_fingerprints,
            winnow_pairs,
        )

        docs = em._t(spark, SF, "documents")
        sel = winnow_fingerprints(docs)
        sp = plans.simple_plan(sel)
        assert plans.count_exchanges(sel) == 0
        assert "pythonudf" not in sp.lower()
        assert "Join" not in sp

        pairs = winnow_pairs(docs)
        pp = plans.simple_plan(pairs)
        assert plans.has_broadcast_join(pairs)
        assert "CartesianProduct" not in pp
        assert "pythonudf" not in pp.lower()

    def test_q01_two_agg_stages_no_python(self, spark):
        """q01 is one pruned parquet scan → codegen projection →
        partial/final hash aggregate → sort of 6 rows: two
        HashAggregates, the agg exchange plus the final 6-row sort's
        range exchange, zero Python. Pinned after the r8 bench
        count-leg anomaly (0.898 s count vs 0.588 s evaluated in one
        run): an isolated interleaved min-of-5 A/B on this host read
        0.391 s count vs 0.519 s evaluated — the legs agree within
        noise and the plan is the shape below; the r8 reading was
        ambient host load landing on one leg (the r7 dedup_simhash
        signature), not a regression."""
        df = em.q01_pricing_summary(spark, SF)
        plan = plans.simple_plan(df)
        assert plan.count("HashAggregate") == 2
        assert plans.count_exchanges(df) <= 2
        assert "pythonudf" not in plan.lower()
        assert "CartesianProduct" not in plan

    def test_neardup_exact_single_arrow_pass(self, spark):
        """The fused sig+hashed-shingles UDF: exactly ONE Arrow batch
        eval in the exact-verify near-dup plan (two passes — or a
        JVM-side md5 re-hash of every shingle — is the r7 shape this
        replaces)."""
        from pyspark.sql import functions as F

        from nekton_spark.streaming.neardup import streaming_minhash_near_dup

        docs = em._t(spark, SF, "documents").select(
            "doc_id",
            "text",
            F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") * 37).alias("ts"),
        )
        df = streaming_minhash_near_dup(docs, id_col="doc_id", delay="60 minutes")
        plan = plans.simple_plan(df)
        assert plan.count("ArrowEvalPython") <= 1
        # and no md5 of shingle arrays survives JVM-side
        assert "transform" not in plan.lower() or "md5" not in plan.lower()


class TestR9Plans:
    def test_heavy_hitters_cms_two_scans_bounded_shuffle(self, spark):
        """Count-Min heavy hitters: exactly TWO corpus scans (sketch
        build + true counts — est/true pairing rides the probe leg,
        no third scan), the sketch reaches the probes as a BROADCAST
        (≤ depth·width rows at any corpus size), top-k pushed down to
        TakeOrderedAndProject (no global sort of the vocabulary), and
        zero Python."""
        df = em.heavy_hitters_cms(spark, SF)
        p = plans.simple_plan(df)
        assert p.count("FileScan") == 2
        assert plans.has_broadcast_join(df)
        assert plans.count_exchanges(df) <= 2
        assert "TakeOrderedAndProject" in p
        assert "CartesianProduct" not in p
        assert "pythonudf" not in p.lower()


# ---------------------------------------------------------------------------
# r10 (r9 verdict #8): registry-wide plan-count budget gate. The r9
# self-review waves kept re-finding one defect class — a reused
# corpus-scale subtree executing once per plan branch because a
# materialize() was missing (mmr nomination, banded-sketch subtree,
# lang_id scoring). The composed physical plan makes that class
# COUNTABLE: a forgotten materialization re-inlines the subtree and the
# Python-eval / shuffle node counts jump. Budgets below are the
# calibrated counts at sf0.001 (generated from the current plans) and
# act as UPPER bounds: a count above budget fails CI; a count below is
# an improvement (tighten the budget when deliberate). Exchanges use
# plans.count_exchanges (hash+range only — ensure_parallelism
# round-robin fan-outs excluded by definition).

PY_NODE_MARKERS = [
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
]

PLAN_BUDGET = {
    # name: (max python-eval nodes, max hash/range exchanges)
    "dedup_exact": (0, 1),
    "dedup_minhash_lsh": (0, 0),
    "dedup_minhash_cjk": (0, 0),  # r14: same banded plan, synth+spread map-only
    "dedup_minhash_xxh": (0, 0),
    "minhash_xxh_pairset": (0, 2),
    "dedup_simhash": (0, 1),
    "dedup_simhash_hamming": (0, 1),
    "dedup_ngram_jaccard": (0, 0),
    "dedup_ngram_sampled": (0, 3),
    "dedup_winnow": (0, 7),
    "dedup_connected_components": (0, 2),
    "dedup_keep_best": (0, 3),
    "dedup_incremental": (0, 1),
    "embedding_near_dup": (1, 3),
    "embedding_quant_dedup": (0, 1),
    "ann_topk_bruteforce": (1, 1),
    "ann_topk_lsh": (2, 6),
    "ann_topk_lsh_mp": (2, 6),  # same plan; query side fans out ×(1+r)
    "ann_topk_ivf": (3, 2),
    "ann_topk_pq": (1, 1),
    "ann_topk_pq_rerank": (2, 2),
    "ann_topk_ivfpq": (1, 1),
    # query path reads persisted codes: zero encode pass at query time
    "ann_index_roundtrip": (1, 1),
    # fused build pass + rerank cosine arrow eval; ADC rank window +
    # rerank rank window
    "ann_topk_ivfpq_residual": (2, 2),
    # + probe cosine arrow eval against the kmeans-cent frame
    "ann_topk_ivf_kmeans": (3, 2),
    "ann_topk_ivfpq_residual_k": (2, 2),
    "mmr_diverse_topk": (2, 2),
    "kmeans_clusters": (1, 0),
    "kmeans_tiered": (1, 2),
    "semdedup_prune": (1, 3),
    "embedding_pca": (0, 0),
    "embedding_outliers": (1, 0),
    "bloom_decontamination": (0, 3),
    "fuzzy_decontamination": (3, 4),
    "lang_id_trained": (1, 0),
    "dsir_select": (0, 5),
    "tfidf_top_terms": (0, 4),
    "bm25_search": (0, 8),
    "hybrid_search_rrf": (1, 12),
    "bpe_encode_docs": (1, 3),
    "bpe_roundtrip": (2, 3),  # encode pass on distinct words + map-only decode pass
    "common_passages": (0, 1),
    "boilerplate_removal": (0, 0),
    "line_dedup_firstkeep": (0, 0),  # broadcast-map rewrite; mining behind materialize
    # r12 third wave: the crawl-ingest front end NEVER shuffles — every
    # budget below with max_ex=0 is the load-bearing claim
    "html_extract": (1, 0),
    "html_main_text": (1, 0),
    "warc_extract": (3, 0),  # synth + record explode + block parse
    # hostile synth + record explode + charset decode; ONE bounded
    # rollup shuffle (≤ |reason codes| rows)
    "crawl_coverage": (3, 1),
    "pdf_extract": (2, 0),  # synth + page explode, 0-shuffle
    "html_markdown": (1, 0),  # one Arrow crossing, 0-shuffle
    "sitemap_extract": (2, 0),  # synth + entry explode, 0-shuffle
    "feed_extract": (2, 0),  # synth + entry explode, 0-shuffle
    "docx_extract": (2, 0),  # synth + zip/XML extract, 0-shuffle
    "document_extract": (2, 0),  # synth + mime-routed extract, 0-shuffle
    "html_jsonld": (1, 0),  # one Arrow crossing, 0-shuffle
    "charset_decode": (2, 0),
    "gif_decode": (2, 0),
    "webp_decode": (2, 0),  # synth + VP8L decode, 0-shuffle (r15)
    "tiff_decode": (2, 0),  # synth + baseline-TIFF decode (r15)
    # r15: extraction behind materialize (the union's two branches must
    # NOT re-run the PDF object index); decode is the only live Python
    # stage, union is shuffle-free
    "pdf_images": (1, 0),
    "gif_frame_sample": (2, 0),
    "webp_frame_sample": (2, 0),  # synth + composited sampler (r15)
    "bmp_decode": (2, 0),
    "wav_g711_features": (2, 0),
    "image_dhash": (1, 0),
    "image_auto_orient": (3, 0),  # synth + orient + dhash, 0-shuffle
    "image_near_dup": (0, 1),  # hash behind materialize; banded join only
    "url_normalize_check": (0, 0),  # pure codegen, no Python at all
    "domain_rollup_urls": (0, 2),  # exact countDistinct = two-phase agg
    "domain_quota_sample": (0, 1),  # rank window: one domain-key shuffle
    "sentence_split": (0, 0),  # pure codegen split, map-only
    "html_meta": (1, 0),
    "webdataset_extract": (2, 0),  # shard synth + in-shard sample grouping
    "exif_scrub": (4, 0),  # synth + extract + scrub + decode, still 0-shuffle
    "robots_eval": (1, 0),  # two agent verdicts fuse into one Arrow node
    # dup_ngram_fraction is one codegen expression: no Python worker
    "doc_repetition": (0, 0),
    "corpus_quality_gate": (0, 0),  # one global agg (no hash exchange)
}


# r13 (r12 verdict #2): serialized-plan-SIZE budget. CollapseProject
# re-inlining a derived-key expression chain into a distinct-agg's
# Expand + partial/final phases (the domain_rollup_urls defect: 22 s
# of driver codegen + 2.8 MiB task binaries for a 3-row result) shows
# up as a plan string an order of magnitude over its calibrated size
# long before anyone profiles task binaries. Sizes are simple_plan()
# character counts at sf0.001, budgeted at ~1.5x current; the default
# covers everything not named (current max in that set: 6.5k).
PLAN_SIZE_DEFAULT = 10_000
PLAN_SIZE_BUDGET = {
    # deliberate codegen ADC LUT chains (one sq_dist term per PQ
    # subspace) — big by design, budgeted at their own calibration
    "ann_topk_ivfpq_residual_k": 60_000,
    "ann_topk_ivfpq_residual": 60_000,
    "ann_topk_pq_rerank": 55_000,
    "ann_topk_ivfpq": 50_000,
    "ann_index_roundtrip": 50_000,
    "ann_topk_pq": 50_000,
    "hybrid_search_rrf": 25_000,
    "dsir_select": 20_000,
    "bm25_search": 15_000,
    "embedding_pca": 13_000,
    "ann_topk_lsh_mp": 12_000,
    "ann_topk_lsh": 11_000,
    # five rule expressions, each written out in the partial agg
    # (10.4k at calibration)
    "corpus_quality_gate": 15_000,
}


# r14 (r13 verdict #3): REQUIRED physical-plan markers — rewrites the
# engine DEPENDS on for scale, pinned so a Spark upgrade or plan change
# that silently drops them fails CI. domain_quota's rank-then-filter
# relies on InferWindowGroupLimit inserting the MAP-SIDE partial top-k
# (`WindowGroupLimit ... Partial`); without it every page of one
# mega-domain lands in a single task — and one domain owning 30% of a
# crawl is the NORMAL case, not the skew case. Each entry: list of
# substring groups, every group must co-occur on one plan line.
PLAN_REQUIRED_LINES = {
    "domain_quota_sample": [("WindowGroupLimit", "Partial")],
}


class TestCurationChainPlan:
    def test_batch_twin_runs_no_python(self, spark, tmp_path):
        """The ``specs/curation-stream.yml`` chain compiled over a
        batch file source: no Python-eval node anywhere in the plan,
        so each micro-batch of the stream stays inside the JVM."""
        import datetime
        import pathlib

        from nekton_spark.spec import Spec, compile_spec

        spec = Spec.from_file(
            str(pathlib.Path(__file__).parents[1] / "specs" / "curation-stream.yml")
        )
        src = str(tmp_path / "src")
        spark.createDataFrame(
            [(0, datetime.datetime(2024, 1, 1), "a b c a b c")],
            spec.input["schema"],
        ).write.parquet(src)
        spec.input.update(path=src, stream=False)
        spec.input.pop("maxFilesPerTrigger")
        spec.output = {"type": "memory"}
        df, _ = compile_spec(spark, spec)
        p = plans.simple_plan(df)
        assert [k for k in PY_NODE_MARKERS if k in p] == []


class TestPlanBudgets:
    @pytest.mark.parametrize("name", sorted(PLAN_REQUIRED_LINES))
    def test_required_markers(self, spark, name):
        df = em.queries()[name](spark, SF)
        p = plans.simple_plan(df)
        for group in PLAN_REQUIRED_LINES[name]:
            assert any(
                all(m in ln for m in group) for ln in p.splitlines()
            ), (
                f"{name}: no plan line carries {group} — the map-side "
                "partial window limit is gone; the per-key top-k now "
                "single-tasks hot keys"
            )

    @pytest.mark.parametrize("name", sorted(PLAN_BUDGET))
    def test_budget(self, spark, name):
        max_py, max_ex = PLAN_BUDGET[name]
        df = em.queries()[name](spark, SF)
        p = plans.simple_plan(df)
        py = sum(p.count(k) for k in PY_NODE_MARKERS)
        ex = plans.count_exchanges(df)
        max_chars = PLAN_SIZE_BUDGET.get(name, PLAN_SIZE_DEFAULT)
        assert len(p) <= max_chars, (
            f"{name}: plan serialized to {len(p)} chars > budget "
            f"{max_chars} — an expression chain is probably being "
            "re-inlined per consumer (missing Generate barrier / "
            "materialize()?)"
        )
        assert py <= max_py, (
            f"{name}: {py} Python-eval nodes > budget {max_py} — a "
            "reused subtree is probably re-executing per branch "
            "(missing materialize()?)"
        )
        assert ex <= max_ex, (
            f"{name}: {ex} shuffles > budget {max_ex} — plan grew a "
            "data-movement stage; justify and re-calibrate or fix"
        )

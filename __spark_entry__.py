r"""Driver contract for the spark-graft builder (PySpark target).

Every operator family from SURVEY §2 (reference surface + relational
layer + LLM-pipeline extensions) appears as a ``queries()`` entry with
a matching DuckDB ``oracle_sql()`` where SQL-expressible. Hash-match
determinism rules used throughout:

- money/value aggregates: ``round(, 2)``; averages/ratios ``round(, 4-6)``
- every hash is the portable md5-derived 60-bit hash (identical
  expression in Spark and DuckDB — see nekton_spark/functions/hashing.py)
- float folds (cosine etc.) use left-to-right accumulation in both
  engines (Spark ``aggregate`` ≡ DuckDB ``list_reduce``), so doubles
  are bit-identical before rounding
- top-k windows order by the *rounded* score + unique id
- timestamps never appear raw in outputs (epoch micros / formatted strings)
"""

from __future__ import annotations

import os as _os
import sys as _sys

# Arrow/pandas UDF closures reference nekton_spark by module, so Spark's
# Python workers must be able to import it regardless of the driver's
# cwd or the JVM's PYTHONPATH snapshot. The robust mechanism that works
# on a session created before this import is sc.addPyFile with a
# package zip — shipped once per session, on the import path of every
# future task (and of real executors on a cluster).
_repo = _os.path.dirname(_os.path.abspath(__file__))
if _repo not in _sys.path:
    _sys.path.insert(0, _repo)
_shipped_to: set[str] = set()


def _ship_package(spark: "SparkSession") -> None:
    app_id = spark.sparkContext.applicationId
    if app_id in _shipped_to:
        return
    _shipped_to.add(app_id)
    import tempfile
    import zipfile

    zpath = _os.path.join(tempfile.mkdtemp(prefix="nekton_pkg_"), "nekton_spark.zip")
    pkg = _os.path.join(_repo, "nekton_spark")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in _os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = _os.path.join(root, f)
                    z.write(full, _os.path.relpath(full, _repo))
    spark.sparkContext.addPyFile(zpath)

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nekton_spark.functions import dedup, similarity
from nekton_spark.functions import text_analysis as ta
from nekton_spark.functions.clustering import SEED_ORDER_SALT
from nekton_spark.functions.hashing import hash60_sql
from nekton_spark.functions.multimodal import (
    decode_audio,
    decode_image,
    media_features,
    media_from_text,
    synth_jpeg_color_media,
    synth_jpeg_media,
    synth_png_media,
    synth_wav_media,
)
from nekton_spark.operators.timeseries import asof_join

SF0001 = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from nekton_spark.sources.files import table_source

    _ship_package(spark)
    return table_source(spark, sf_dir, name)


# ---------------------------------------------------------------- flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H Q1-style pricing summary at sf0.001."""
    return q01_pricing_summary(spark, SF0001)


# ------------------------------------------------------------- relational


def q01_pricing_summary(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q03_shipping_priority(spark, sf):
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders").filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    l = _t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q05_region_revenue(spark, sf):
    r = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf, "nation")
    c = _t(spark, sf, "customer")
    s = _t(spark, sf, "supplier")
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = _t(spark, sf, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy("n_name")
    )


def q06_forecast_revenue(spark, sf):
    l = _t(spark, sf, "lineitem")
    return l.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q10_returned_items(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    l = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def topk_customers_per_nation(spark, sf):
    c = _t(spark, sf, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("c_nationkey", "c_custkey", F.round("c_acctbal", 2).alias("acctbal"), "rn")
    )


def rollup_orders(spark, sf):
    o = _t(spark, sf, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "total_price",
            "n_orders",
        )
    )


def distinct_customers_per_segment(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def customers_without_orders(spark, sf):
    # anti-join vs the URGENT subset: every customer has *some* order
    # in the testdata, so the unfiltered anti-join is vacuously empty
    # (advisor finding) — this variant returns rows at every SF
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def set_ops_customers(spark, sf):
    o = _t(spark, sf, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    low = o.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    return urgent.intersect(low).withColumnRenamed("o_custkey", "custkey")


def scalar_functions(spark, sf):
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.substring("o_orderpriority", 1, 1).cast("int").alias("priority_num"),
        F.upper(F.col("o_orderstatus")).alias("status_upper"),
        F.length("o_orderpriority").alias("prio_len"),
        F.round(F.abs(F.col("o_totalprice") - 100000.0), 2).alias("abs_diff"),
        (F.col("o_orderkey") % 7).alias("key_mod"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_prio"),
    )


def pivot_order_status(spark, sf):
    o = _t(spark, sf, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
        .select(
            "o_orderpriority",
            F.col("F").alias("total_f"),
            F.col("O").alias("total_o"),
            F.col("P").alias("total_p"),
        )
    )


def grouping_sets_orders(spark, sf):
    _t(spark, sf, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               round(sum(o_totalprice), 2) AS total_price,
               count(*) AS n_orders
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


def exists_subquery(spark, sf):
    for t in ("orders", "lineitem"):
        _t(spark, sf, t).createOrReplaceTempView(f"{t}_v")
    return spark.sql(
        """
        SELECT o_orderkey, round(o_totalprice, 2) AS total
        FROM orders_v
        WHERE EXISTS (
          SELECT 1 FROM lineitem_v
          WHERE l_orderkey = o_orderkey AND l_returnflag = 'R' AND l_quantity > 45
        )
        """
    )


def running_revenue_window(spark, sf):
    o = _t(spark, sf, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
        F.row_number()
        .over(Window.partitionBy("o_custkey").orderBy(F.asc("o_orderdate"), F.asc("o_orderkey")))
        .alias("order_seq"),
    )


def percentiles_by_segment(spark, sf):
    c = _t(spark, sf, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.round(F.expr("percentile(c_acctbal, 0.5)"), 4).alias("median_bal"),
        F.round(F.expr("percentile(c_acctbal, 0.9)"), 4).alias("p90_bal"),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
    )


def min_max_by_nation(spark, sf):
    """min_by/max_by with EXPLICIT NULL semantics: a NULL balance never
    wins either extreme (Spark's bare struct ordering ranks a NULL
    field SMALLEST, so a NULL-balance customer would silently win
    min_by while the SQL oracle's default NULLS LAST picks the real
    minimum — caught by the r7 relational fuzzer). The leading
    is-null/is-not-null flag pushes NULL rows behind every non-NULL
    row for both extremes; an all-NULL group falls back to custkey
    order deterministically."""
    c = _t(spark, sf, "customer")
    return c.groupBy("c_nationkey").agg(
        F.expr(
            "min_by(c_name, struct(c_acctbal IS NULL, c_acctbal, c_custkey))"
        ).alias("poorest"),
        F.expr(
            "max_by(c_name, struct(c_acctbal IS NOT NULL, c_acctbal, c_custkey))"
        ).alias("richest"),
    )


def conditional_aggregation(spark, sf):
    l = _t(spark, sf, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.round(F.sum(F.when(F.col("l_quantity") > 25, F.col("l_extendedprice"))), 2).alias(
            "rev_bulk"
        ),
        F.round(F.avg(F.when(F.col("l_tax") > 0.04, F.col("l_extendedprice"))), 4).alias(
            "avg_taxed"
        ),
    )


def date_arithmetic(spark, sf):
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.date_format(F.date_add(F.to_date("o_orderdate"), 30), "yyyy-MM-dd").alias("due_date"),
        F.date_format(F.trunc("o_orderdate", "month"), "yyyy-MM-dd").alias("order_month"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.to_date("o_orderdate")).alias(
            "days_to_2002"
        ),
        F.dayofweek("o_orderdate").alias("dow"),
        F.quarter("o_orderdate").alias("qtr"),
        F.last_day(F.to_date("o_orderdate")).cast("string").alias("month_end"),
    )


def string_functions(spark, sf):
    c = _t(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.lpad("c_name", 25, "*").alias("padded"),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("translated"),
        F.reverse("c_name").alias("reversed"),
        F.split_part("c_name", F.lit("#"), F.lit(1)).alias("name_prefix"),
        F.left(F.col("c_mktsegment"), F.lit(3)).alias("seg3"),
        F.regexp_count("c_name", F.lit("0")).alias("zeros"),
        F.position(F.lit("5"), "c_name").alias("pos5"),
    )


def range_join_value_bands(spark, sf):
    e = _t(spark, sf, "events")
    bands = spark.createDataFrame(
        [(i, i * 10.0, (i + 1) * 10.0) for i in range(10)],
        "band_id int, lo double, hi double",
    )
    return (
        e.join(
            F.broadcast(bands),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("band_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total"))
    )


def dedup_ngram_dfcut(spark, sf):
    """Exhaustive inverted-index Jaccard with a df-cut bound — the
    full-recall audit plan (the headline dedup_ngram_jaccard runs the
    bounded LSH-candidate default)."""
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf, "documents"),
        threshold=0.15,
        max_doc_freq=50,
        candidates="all",
    )


def dedup_ngram_sampled(spark, sf):
    """Sampled exhaustive audit: a deterministic hash-sample keeps half
    the docs (content-addressed — stable across engines/partitionings)
    BEFORE the inverted-index join, scaling pair volume by ~rate² while
    per-pair scores stay exact. Bounds the O(Σ df²) audit plan when
    even the df-cut leaves it too hot."""
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf, "documents"),
        threshold=0.15,
        max_doc_freq=50,
        candidates="all",
        audit_sample=0.5,
    )


def pipe_subprocess(spark, sf):
    """Reference `process` operator over documents (rows-only check:
    subprocess output not SQL-expressible)."""
    from nekton_spark.operators.messages import from_column
    from nekton_spark.operators.process import process

    d = _t(spark, sf, "documents")
    msgs = from_column(d.orderBy("doc_id").limit(50), "text", batch_col="doc_id")
    out = process(msgs, name="awk", args=["{print NF}"])
    return out.select("batch_id", F.col("value").alias("n_fields"))


def sample_hash_10pct(spark, sf):
    """Content-addressed 10% sample: stable across runs/partitionings/
    engines (df.sample is neither), hence exactly oracle-checkable."""
    from nekton_spark.functions.sampling import hash_sample

    d = _t(spark, sf, "documents")
    return hash_sample(d, "doc_id", 0.10).select("doc_id", "lang", "n_chars")


def train_val_test_split(spark, sf):
    from nekton_spark.functions import sampling

    d = _t(spark, sf, "documents")
    out = sampling.train_val_test_split(d, "doc_id")
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_id")
    )


def stratified_sample(spark, sf):
    """Language-rebalancing sample (the mixture-weight knob every
    training-data pipeline has): per-stratum content-addressed rates —
    keep all minority-language docs, downsample the majority to 30%.
    Map-only, stable across engines/partitionings; summarized per lang
    so the oracle checks both membership and the per-stratum count."""
    from nekton_spark.functions.sampling import stratified_hash_sample

    d = _t(spark, sf, "documents")
    out = stratified_hash_sample(
        d, "doc_id", "lang",
        {"en": 0.3, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 1.0},
    )
    return out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("id_sum"),
    )


def approx_distinct_check(spark, sf):
    """HLL sketch surface: approx_count_distinct vs exact, verified
    in-plan. The oracle checks the exact count and that the sketch met
    its error contract (boolean) — approximations are engine-specific,
    the contract is not."""
    o = _t(spark, sf, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("exact_customers"),
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx"),
        )
        .select(
            "o_orderpriority",
            "exact_customers",
            (
                F.abs(F.col("approx") - F.col("exact_customers"))
                <= 0.1 * F.col("exact_customers")
            ).alias("within_10pct"),
        )
    )


def distinct_kmv(spark, sf):
    """K-Minimum-Values distinct sketch (functions/sketches.
    kmv_distinct): per-priority distinct-customer ESTIMATE with the
    exact count alongside. Unlike the HLL row above (engine-specific
    sketch, boolean-contract oracle), KMV's estimate is itself
    deterministic and EXACTLY replayed by the oracle — the sketch is
    the k smallest distinct hash60 values and the estimator is one
    IEEE division of exact doubles. Bounded state: ≤ batches·groups·k
    rows ever shuffle."""
    from nekton_spark.functions.sketches import kmv_distinct

    _ship_package(spark)
    o = _t(spark, sf, "orders")
    est = kmv_distinct(o, "o_custkey", ["o_orderpriority"], k=256)
    exact = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_distinct")
    )
    return est.join(exact, "o_orderpriority").select(
        "o_orderpriority", "est_distinct", "sketch_size", "exact_distinct"
    )


def approx_quantile_check(spark, sf):
    l = _t(spark, sf, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("exact_median"),
            F.expr("percentile_approx(l_extendedprice, 0.5, 1000)").alias("approx_median"),
        )
        .select(
            "l_returnflag",
            "exact_median",
            (
                F.abs(F.col("approx_median") - F.col("exact_median"))
                <= 0.05 * F.col("exact_median")
            ).alias("within_5pct"),
        )
    )


def dedup_connected_components(spark, sf):
    """Near-dup pairs -> dedup clusters via iterative min-label
    propagation (GraphFrames-style CC on DataFrames)."""
    from nekton_spark.functions.graph import dedup_components

    d = _t(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, threshold=0.15)
    return dedup_components(d, pairs)


def dedup_keep_best(spark, sf):
    """Quality-policy dedup (functions/graph.keep_best_per_component):
    same pair graph + star-contraction components as
    dedup_connected_components, but the survivor of each dup cluster
    is the HIGHEST-quality member (quality_score; ties → smaller id)
    — the curation policy that drops the boilerplate mirror and keeps
    the clean original."""
    from nekton_spark.functions import dedup
    from nekton_spark.functions.graph import keep_best_per_component
    from nekton_spark.functions.text_analysis import quality_score

    d = _t(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, threshold=0.15)
    return keep_best_per_component(d, pairs, quality_score(F.col("text")))


# ----------------------------------------------------------------- events


def events_tumbling_window(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def events_sessionization(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    sessions = e.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0),
    )
    return sessions.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"), F.count(F.lit(1)).alias("n_events")
    )


def events_topk_users(spark, sf):
    """Top spenders: the k-selection is orderBy().limit(k), which
    compiles to TakeOrderedAndProject (per-partition partial top-k,
    no single-task sort of all users); the rank window then runs over
    only the k surviving rows, so its single partition is bounded by
    k, not user cardinality."""
    e = _t(spark, sf, "events")
    totals = e.groupBy("user_id").agg(F.round(F.sum("value"), 2).alias("total_value"))
    order = [F.desc("total_value"), F.asc("user_id")]
    topk = totals.orderBy(*order).limit(10)
    return topk.withColumn("rank", F.row_number().over(Window.orderBy(*order)))


def events_json_extract(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.select(F.get_json_object("props", "$.k").cast("int").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q04_order_priority(spark, sf):
    """Priority counts for orders with at least one late line item
    (semi-join, TPC-H Q4 shape)."""
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    l = _t(spark, sf, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q14_promo_revenue(spark, sf):
    """Promo revenue share (TPC-H Q14 shape): conditional agg over a
    fact-dimension join."""
    l = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = _t(spark, sf, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q02_min_cost_part(spark, sf):
    """Correlated scalar subquery: parts priced at their brand's minimum."""
    _t(spark, sf, "part").createOrReplaceTempView("part_v")
    return spark.sql(
        """
        SELECT p_partkey, p_brand, round(p_retailprice, 2) AS price
        FROM part_v p1
        WHERE p_retailprice = (SELECT min(p_retailprice) FROM part_v p2
                               WHERE p2.p_brand = p1.p_brand)
        """
    )


def events_lead_lag(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return e.select(
        "event_id",
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")).alias("us_to_next"),
        F.first("event_type").over(w).alias("first_type"),
    )


def null_semantics(spark, sf):
    """NULL-handling battery: coalesce/nullif/nvl2/null-safe equality,
    three-valued logic through aggregation."""
    l = _t(spark, sf, "lineitem")
    with_nulls = l.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_discount") > 0.05, F.col("l_discount")).alias("maybe_disc"),
        F.nullif(F.col("l_returnflag"), F.lit("N")).alias("flag_or_null"),
    )
    return with_nulls.groupBy("flag_or_null").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("maybe_disc").alias("n_nonnull_disc"),
        F.round(F.coalesce(F.avg("maybe_disc"), F.lit(-1.0)), 6).alias("avg_disc_or_neg1"),
        F.count_if(F.col("maybe_disc").isNull()).alias("n_null_disc"),
    )


def events_sliding_window(spark, sf):
    """10-min windows sliding by 5: each event lands in 2 windows."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def q18_large_orders(spark, sf):
    """HAVING-style: orders whose total quantity exceeds a threshold."""
    l = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 270)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("total_price"),
            "total_qty",
        )
    )


def q07_volume_shipping(spark, sf):
    """TPC-H Q7 analog: bilateral trade volume between two nations by
    ship year. Nation dims broadcast; the orders↔lineitem join is the
    only large shuffle."""
    n = _t(spark, sf, "nation")
    s = _t(spark, sf, "supplier")
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    n1 = F.broadcast(n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(n.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation")))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n1, s.s_nationkey == F.col("sk"))
        .join(n2, c.c_nationkey == F.col("ck"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def q08_market_share(spark, sf):
    """TPC-H Q8 analog: NATION_3 suppliers' share of ECONOMY-part
    revenue sold to EUROPE customers, by order year. The share is a
    conditional-sum ratio over one aggregated frame — no second scan."""
    r = _t(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    n = _t(spark, sf, "nation")
    p = _t(spark, sf, "part").filter(F.col("p_type") == "ECONOMY")
    s = _t(spark, sf, "supplier")
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem")
    cust_region = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp_nation = s.join(
        F.broadcast(n.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation"))),
        s.s_nationkey == F.col("snk"),
    ).select("s_suppkey", "supp_nation")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(cust_region, o.o_custkey == F.col("c_custkey"))
        .join(supp_nation, l.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )


def q09_product_profit(spark, sf):
    """TPC-H Q9 analog (testdata has no partsupp, so revenue stands in
    for profit): revenue on parts named like '%red%' by supplier nation
    and order year."""
    n = _t(spark, sf, "nation")
    s = _t(spark, sf, "supplier")
    p = _t(spark, sf, "part").filter(F.col("p_name").like("%red%"))
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_profit"))
    )


def q11_important_suppliers(spark, sf):
    """TPC-H Q11 analog (no partsupp: revenue concentration stands in
    for stock value): suppliers with revenue > 1.05x the mean supplier
    revenue — a scale-free threshold (the classic fraction-of-total
    cut is vacuous once supplier count passes 1/fraction). The scalar
    comes from a second aggregate over the same reduced per-supplier
    frame, not a second raw scan."""
    l = _t(spark, sf, "lineitem")
    per_supp = (
        l.groupBy("l_suppkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    ).localCheckpoint(eager=True)
    thresh = per_supp.agg((F.avg("rev") * 1.05).alias("t"))
    return (
        per_supp.join(F.broadcast(thresh))
        .filter(F.col("rev") > F.col("t"))
        .select("l_suppkey", F.round("rev", 2).alias("supp_revenue"))
    )


def q16_part_supplier_counts(spark, sf):
    """TPC-H Q16 analog (no partsupp: supplier relationships come from
    lineitem): distinct suppliers per (brand, type, size) for
    non-PROMO brands outside a size set."""
    p = _t(spark, sf, "part").filter(
        (F.col("p_type") != "PROMO") & ~F.col("p_size").isin(11, 22, 33)
    )
    l = _t(spark, sf, "lineitem")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


def q20_excess_suppliers(spark, sf):
    """TPC-H Q20 analog (no partsupp availqty: a supplier 'has excess'
    of a part when it shipped more than half that part's total 1997
    volume): names of suppliers with excess on any 'red' part."""
    p = _t(spark, sf, "part").filter(F.col("p_name").like("%red%"))
    s = _t(spark, sf, "supplier")
    l = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    red = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    per_ps = red.groupBy("l_partkey", "l_suppkey").agg(F.sum("l_quantity").alias("sq"))
    per_p = red.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.sum("l_quantity") * 0.5).alias("half_total")
    )
    excess = (
        per_ps.join(per_p, per_ps.l_partkey == per_p.pk)
        .filter(F.col("sq") > F.col("half_total"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(excess, s.s_suppkey == excess.l_suppkey)
        .select("s_suppkey", "s_name")
    )


def q21_waiting_orders(spark, sf):
    """TPC-H Q21 analog (no commit/receipt dates: 'late' = shipped >90
    days after order): suppliers who were the ONLY late shipper on a
    multi-supplier order — count per supplier.

    The exists/not-exists pair is a WINDOW over the joined frame, not
    a groupBy re-joined back: the r2 shape executed the lineitem⋈orders
    join twice (once per branch — Spark can't reuse the exchange when
    the branches diverge, 8.2 s at sf1). One join + one per-order
    window shuffle now; order fan-in is bounded (lines per order), so
    the window partition is never skew-hot."""
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    lo = l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("late"),
    )
    w = Window.partitionBy("l_orderkey")
    annotated = lo.select(
        "l_orderkey",
        "l_suppkey",
        "late",
        F.size(F.collect_set("l_suppkey").over(w)).alias("n_supp"),
        F.size(
            F.collect_set(F.when(F.col("late"), F.col("l_suppkey"))).over(w)
        ).alias("n_late_supp"),
    )
    culprit = (
        annotated.filter(
            F.col("late") & (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        culprit.join(F.broadcast(s), culprit.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


def q12_late_shipments(spark, sf):
    """TPC-H Q12 analog (testdata has no shipmode/commitdate): lines
    shipped >60 days after order placement, bucketed by ship year and
    split into urgent/non-urgent order counts."""
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(urgent, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def q13_customer_distribution(spark, sf):
    """TPC-H Q13: distribution of customers by order count (left join
    keeps zero-order customers; the double aggregation is two narrow
    shuffles on already-reduced data)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def q15_top_supplier(spark, sf):
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue —
    the revenue CTE feeds both the join and the max scalar subquery."""
    for t in ("lineitem", "supplier"):
        _t(spark, sf, t).createOrReplaceTempView(f"{t}_v")
    return spark.sql(
        """
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
          FROM lineitem_v
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate < TIMESTAMP '1997-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_rev
        FROM supplier_v JOIN revenue ON s_suppkey = supplier_no
        WHERE total_rev = (SELECT max(total_rev) FROM revenue)
        """
    )


def q17_small_quantity_revenue(spark, sf):
    """TPC-H Q17 analog: revenue from lines whose quantity is below
    half the part's average — the correlated avg subquery becomes one
    window over the part key (single shuffle, no self-join)."""
    l = _t(spark, sf, "lineitem")
    w = Window.partitionBy("l_partkey")
    t = l.select(
        "l_partkey", "l_quantity", "l_extendedprice", F.avg("l_quantity").over(w).alias("avg_qty")
    )
    return t.filter(F.col("l_quantity") < 0.5 * F.col("avg_qty")).agg(
        F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def q19_discounted_revenue(spark, sf):
    """TPC-H Q19: OR-of-ANDs predicate across the part join — Catalyst
    pushes the common part filter into the broadcast side."""
    p = _t(spark, sf, "part")
    l = _t(spark, sf, "lineitem")
    cond = (
        ((F.col("p_brand") == "Brand#12") & (F.col("p_size").between(1, 15)) & (F.col("l_quantity").between(1, 11)))
        | ((F.col("p_brand") == "Brand#23") & (F.col("p_size").between(1, 25)) & (F.col("l_quantity").between(10, 20)))
        | ((F.col("p_brand") == "Brand#34") & (F.col("p_size").between(1, 35)) & (F.col("l_quantity").between(20, 30)))
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q22_idle_customers(spark, sf):
    """TPC-H Q22 analog: customers with above-average (positive)
    balances and no recent orders (none since 2000-01-01 — every
    customer has *some* order in the testdata, so the unfiltered
    anti-join would be vacuously empty), per nation. The average
    arrives as a broadcast scalar; the no-recent-orders test is a
    left-anti join."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    n = _t(spark, sf, "nation")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("ab"))
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


def scalar_subquery_above_avg(spark, sf):
    for t in ("orders",):
        _t(spark, sf, t).createOrReplaceTempView(f"{t}_v")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n_above_avg
        FROM orders_v
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders_v)
        GROUP BY o_orderpriority
        """
    )


def unpivot_lineitem_metrics(spark, sf):
    l = _t(spark, sf, "lineitem")
    agg = l.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("price"),
        F.round(F.sum("l_discount"), 2).alias("disc"),
    )
    return agg.selectExpr(
        "l_returnflag",
        "stack(3, 'qty', qty, 'price', price, 'disc', disc) AS (metric, value)",
    )


def events_interval_join(spark, sf):
    """Stream-stream-capable interval join, run in batch mode: every
    (purchase, click-within-30min-before) pair per user."""
    from nekton_spark.operators.timeseries import interval_join

    e = _t(spark, sf, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = interval_join(purchases, clicks, on="ts", by="user_id")
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.col("click_id_r").alias("click_id"),
        F.unix_micros("ts_r").alias("click_us"),
    )


def events_asof_join(spark, sf):
    e = _t(spark, sf, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    joined = asof_join(purchases, clicks, on="ts", by="user_id")
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.unix_micros("ts_right").alias("last_click_us"),
        "click_id",
    )


# ----------------------------------------------- message pipeline (documents)


def pipe_replace(spark, sf):
    d = _t(spark, sf, "documents")
    # coalesce: the message layer's NULL-payload-is-empty contract
    return d.select(
        "doc_id",
        F.replace(F.coalesce("text", F.lit("")), F.lit("data"), F.lit("DATA")).alias("value"),
    )


def pipe_regex_replace(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.regexp_replace(F.coalesce("text", F.lit("")), "[aeiou]", "_").alias("value"),
    )


def pipe_regex_split(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.posexplode(
            F.split(F.coalesce("text", F.lit("")), " ", -1)
        ).alias("pos", "token"),
    )


def pipe_regex_select(spark, sf):
    """ASCII word boundary spelled explicitly (r15 opt-round fuzz,
    seed 4651): Java's ``\\b`` is Unicode-aware by default while
    RE2/DuckDB's is ASCII-only, so ``\\b[bs]`` diverged when a
    spaceless-script char abutted the match (fuzz doc ``a买b``: RE2
    saw a boundary before ``b``, Java did not → 195 vs 196 rows).
    ``(?<![0-9A-Za-z_])`` is exactly RE2's ``\\b`` before a word char
    in BOTH engines, and is identical to Java's ``\\b`` on all-ASCII
    neighborhoods — fixed-corpus rows (and the driver hash) are
    unchanged, pinned by the oracle sweep at sf0.001/0.01/0.1."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(
                "text", F.lit(r"(?<![0-9A-Za-z_])[bs][a-z]*"), F.lit(0)
            )
        ).alias("pos", "token"),
    )


def pipeline_chain(spark, sf):
    """Full spec-engine chain on relational input: documents → messages
    → replace → regex_split, exercising the YAML-compilable operators."""
    from nekton_spark.operators.messages import from_column
    from nekton_spark.operators.text import regex_split, replace

    d = _t(spark, sf, "documents")
    msgs = from_column(d, "text", batch_col="doc_id")
    out = regex_split(replace(msgs, **{"from": "table", "to": "TBL"}), re=" ")
    return out.select("batch_id", F.col("msg_idx").alias("pos"), F.col("value").alias("token"))


# ----------------------------------------------------------- text analysis


def text_stats(spark, sf):
    # fan out below the regex/HOF stat chain (r15 opt): the 1-split
    # local scan would evaluate it on one task; no-op at scale
    d = similarity.ensure_parallelism(_t(spark, sf, "documents"))
    c = F.col("text")
    return d.select(
        "doc_id",
        ta.token_count(c).alias("n_tokens"),
        ta.bpe_token_count(c).alias("n_bpe_tokens"),
        F.round(ta.repetition_ratio(c), 6).alias("repetition_ratio"),
        F.round(ta.mean_word_len(c), 6).alias("mean_word_len"),
        ta.fingerprint(c).alias("fp"),
    )


def text_quality(spark, sf):
    # fan out below the quality chain (r15 opt, see text_stats)
    d = similarity.ensure_parallelism(_t(spark, sf, "documents"))
    c = F.col("text")
    return d.select("doc_id", ta.quality_score(c).alias("quality"), ta.lang_id(c).alias("lang_guess"))


def lang_id_trained(spark, sf):
    """TRAINED language id (functions/langid_model.py — r8 verdict #7,
    replacing the stopword-profile placeholder as the quality path):
    multinomial Naive Bayes over character 1+2+3-grams (r12: 20
    languages across 6 scripts, gram mixture for CJK robustness),
    integer milli-log-prob weights trained deterministically at import
    from the module's embedded original corpus and broadcast as a
    (gram, lang, wm) table — the classifier_score serving mechanism.
    Score_L = Σ matched weights + (n_grams − matched_L)·oov_L in pure
    long arithmetic; argmax with ties → smaller code; <3-char docs →
    'und'. Plan: codegen gram explode → broadcast join → ONE
    partial-agg'd pivot shuffle over the literal codes → expression
    argmax. The
    oracle embeds the identical trained VALUES table. The profile
    heuristic stays as text_quality's lang_guess fallback;
    tests/test_text_operators.py pins a held-out accuracy floor of the
    trained model at/above the heuristic."""
    from nekton_spark.functions.langid_model import lang_id_trained as _lit

    return _lit(_t(spark, sf, "documents"))


def dsir_select(spark, sf):
    """DSIR importance scoring (functions/sampling.dsir_importance —
    Xie et al. 2023): target = the src0/src1 documents, raw = the
    rest; every raw doc scored by Σ over its hashed unigram+bigram
    features of the add-one-smoothed target-vs-raw log-likelihood
    ratio (B=4096 hash60 buckets — both models are ≤B rows however
    large the corpus, broadcast to a map-only scoring pass; one
    doc-keyed partial-agg shuffle). Selection = deterministic top-k /
    threshold over log_ratio downstream. Oracle replays features,
    bucket counts, and the rounded ln-term sum exactly."""
    from nekton_spark.functions.sampling import dsir_importance

    d = _t(spark, sf, "documents")
    is_t = F.coalesce(F.col("source"), F.lit("")).isin("src0", "src1")
    return dsir_importance(d.filter(~is_t), d.filter(is_t))


def gopher_quality_rules(spark, sf):
    """Gopher rule-battery filter (text_analysis.gopher_rules): the
    published Rae-et-al. quality rules — word-count and mean-word-length
    bounds, symbol-to-word ratio, bullet/ellipsis line ratios,
    alpha-word ratio, required-stopword hits — per-rule measurements
    plus the conjunction verdict. Map-only codegen, no shuffle; the
    reference (a stream text engine) has no quality filtering — this is
    the §2.5 LLM-pipeline layer."""
    return ta.gopher_rules(_t(spark, sf, "documents"))


def compression_quality(spark, sf):
    """zlib compression-ratio quality proxy
    (text_analysis.compression_ratio): Arrow-batched pandas UDF,
    map-only. CONSTRAINED oracle (r15 verdict #6, upgraded from
    rows-only): zlib_bytes itself is un-oracleable — DuckDB has no
    DEFLATE — but everything around it is replayable, so the driver
    row returns (a) n_bytes, exact UTF-8 byte length DuckDB recomputes
    on the real corpus text, (b) ratio/flag self-consistency bits —
    ratio re-derived JVM-side from the returned (zlib_bytes, n_bytes)
    and flagged re-derived from ratio, both must equal the operator's
    own columns, and (c) the DEFLATE envelope bound — zlib's
    compressBound guarantees zlib_bytes ∈ (0, n + n/1000 + 13] for
    non-empty input and the operator pins 0 for empty/NULL. The
    actual DEFLATE values stay pinned by fixed-vector unit tests
    (tests/test_functions.py::test_compression_ratio)."""
    _ship_package(spark)
    base = ta.compression_ratio(_t(spark, sf, "documents"))
    n, z = F.col("n_bytes"), F.col("zlib_bytes")
    want_ratio = F.when(n == 0, F.lit(0.0)).otherwise(F.round(z / n, 6))
    want_flag = F.when(n == 0, F.lit(0)).otherwise(
        ((F.col("ratio") < 0.30) | (F.col("ratio") > 0.95)).cast("int")
    )
    in_bounds = F.when(n == 0, z == 0).otherwise(
        (z > 0) & (z <= n + F.floor(n / 1000) + F.lit(13))
    )
    return base.select(
        "doc_id",
        "n_bytes",
        (F.col("ratio") == want_ratio).cast("int").alias("ratio_consistent"),
        (F.col("flagged") == want_flag).cast("int").alias("flag_consistent"),
        in_bounds.cast("int").alias("zlib_in_bounds"),
    )


def pii_redaction(spark, sf):
    """PII scrub pass (functions/text_analysis.py PII family): the
    corpus has no PII, so deterministic email/phone/IPv4 strings are
    injected by doc_id residue, then counted and redacted. Pure
    codegen regexp chain, map-only; the oracle replays injection,
    counts, and the redacted-text fingerprint in RE2."""
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com now")),
        )
        .when(
            did % 3 == 1,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((did % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
                F.lit(" today"),
            )
        )
        .otherwise(
            F.concat(
                F.lit(" host 10.0."),
                (did % 256).cast("string"),
                F.lit("."),
                (did % 100).cast("string"),
                F.lit(" up"),
            )
        ),
        # international phone and IBAN land on independent residues so
        # some docs carry several PII kinds at once
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" tel +41"), F.lpad((did % 100000000).cast("string"), 8, "0"), F.lit(" ok")),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" pay DE"),
                F.lpad((did % 100).cast("string"), 2, "0"),
                F.lit("BANK"),
                F.lpad((did % 10000000000).cast("string"), 10, "0"),
                F.lit(" end"),
            ),
        ).otherwise(F.lit("")),
    )
    t2 = d.select("doc_id", injected.alias("t2"))
    return t2.select(
        "doc_id",
        ta.pii_count(F.col("t2"), "email").alias("n_email"),
        ta.pii_count(F.col("t2"), "phone").alias("n_phone"),
        ta.pii_count(F.col("t2"), "e164").alias("n_e164"),
        ta.pii_count(F.col("t2"), "ipv4").alias("n_ip"),
        ta.pii_count(F.col("t2"), "iban").alias("n_iban"),
        F.md5(ta.redact_pii(F.col("t2"))).alias("redacted_fp"),
    )


def doc_repetition(spark, sf):
    """Intra-document repetition profile: fraction of word 3-grams
    that are repeats (Gopher 'duplicate n-grams' rule). Map-only pure
    expressions."""
    d = _t(spark, sf, "documents")
    c = F.col("text")
    return d.select(
        "doc_id",
        # token arithmetic == size(ngrams(c, 3)) exactly (r15 opt: the
        # interpreted HOF built every gram string just to count them —
        # 3.06 s vs 0.16 s at sf0.1); see ta.ngram_count
        ta.ngram_count(c, 3).alias("n_ngrams"),
        F.round(ta.dup_ngram_fraction(c, 3), 6).alias("dup3_frac"),
    )


def corpus_quality_gate(spark, sf):
    """Corpus-level quality gate: per-rule pass fractions + the count
    of docs passing ALL rules, folded into ONE aggregate pass (k rules
    ≠ k scans — same discipline as data_validation_report). Rules are
    the Gopher/C4-style battery over pure codegen expressions."""
    d = _t(spark, sf, "documents")
    c = F.col("text")
    ntok = ta.token_count(c)
    mwl = ta.mean_word_len(c)
    rules = {
        "tok_ok": ntok.between(10, 10000),
        "mwl_ok": (mwl >= 2) & (mwl <= 12),
        "punct_ok": ta.punct_ratio(c) <= 0.2,
        "rep_ok": ta.repetition_ratio(c) <= 0.9,
        "dup3_ok": ta.dup_ngram_fraction(c, 3) <= 0.5,
    }
    keep = None
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for name, cond in rules.items():
        aggs.append(
            F.round(F.avg(F.when(cond, 1).otherwise(0)), 6).alias(f"frac_{name}")
        )
        keep = cond if keep is None else (keep & cond)
    aggs.append(F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_keep"))
    return d.agg(*aggs)


# ------------------------------------------------------------------- dedup


def dedup_exact(spark, sf):
    return dedup.exact_dedup(_t(spark, sf, "documents"))


def dedup_minhash_lsh(spark, sf):
    return dedup.minhash_lsh_pairs(_t(spark, sf, "documents"), threshold=0.1)


def dedup_minhash_cjk(spark, sf):
    """Spaceless-script near-dup mining (r14, r13 verdict #2 —
    functions/dedup.py:synth_cjk_docs + minhash_lsh_pairs
    tokenize='script'): the synth plants clique-of-4 Han near-dups
    with NO ASCII spaces (plus a 12-codepoint slice of the corpus
    text, so hostile unicode rides through the spread kernel; r15
    verdict #8 — every third clique splices a hash-derived Latin token
    mid-Han-run, Latin+Han in ONE doc, pinning the spread kernel's
    run-boundary space insertion). The
    word tokenizer provably mines ZERO pairs here (pinned red in
    tests/test_functions.py); the script policy character-shingles the
    runs and recovers every clique. The oracle replays the synth with
    chr(), the explicit-range spread, and the full banded-MinHash +
    exact-Jaccard chain. Same 2-shuffle plan as dedup_minhash_lsh."""
    d = _t(spark, sf, "documents").select("doc_id", "text")
    # fan out BEFORE the synth projection (r15 opt): a 1-split local
    # parquet otherwise runs the 32-md5-per-doc synth on one scan task
    # (the chain's own ensure_parallelism fans out ABOVE its input's
    # projection); same construction as the WebP/GIF synth call sites.
    # r16: PIN the synth output (within-query, re-paid every build —
    # the same materialize() every multi-consumer operator uses). The
    # 32-md5 + script-spread synth tree costs ~0.9 s of DRIVER-side
    # analysis/codegen per action that re-plans it (measured: counting
    # the synth frame costs 0.92 s warm, fully evaluating it via the
    # noop sink costs 0.98 s — the tree is planning-bound, not
    # compute-bound), and the chain re-plans it twice (signature pin +
    # verify stage). One pin = one planning pass; downstream actions
    # plan from a checkpoint-truncated frame. A real corpus is a
    # parquet table whose plan is trivially cheap — this cost is
    # synth-entry-specific, so the pin lives HERE, not in the chain.
    from nekton_spark.materialize import materialize

    synth = materialize(dedup.synth_cjk_docs(similarity.ensure_parallelism(d)))
    # the pin truncates lineage, which would make the chain's inner
    # ensure_parallelism re-fan what is already fanned (the
    # logical-plan Repartition check cannot see through a checkpoint)
    synth._nekton_fanned_out = True
    return dedup.minhash_lsh_pairs(synth, threshold=0.5, tokenize="script")


def dedup_minhash_xxh(spark, sf):
    """Production-path MinHash LSH: pure-JVM xxhash64 signatures and
    band keys — zero Python workers, zero Arrow transfer. DuckDB has no
    xxhash64, so this is rows-only under the driver gate; correctness
    is equivalence-tested against the oracle-parity md5 engine
    (tests/test_functions.py::TestDedup::test_minhash_xxhash64_equivalent_pairs)."""
    return dedup.minhash_lsh_pairs(
        _t(spark, sf, "documents"), threshold=0.1, hash="xxhash64"
    )


def minhash_xxh_pairset(spark, sf):
    """Pair-set equality of the two MinHash engines, through the
    oracle-checked md5 path (r9 verdict #6 — closes the
    dedup_minhash_xxh oracle gap as far as SQL can reach): FULL OUTER
    join of the xxhash64 engine's verified pairs with the md5
    engine's at the same threshold, emitting membership flags. On the
    driver corpus the dup cliques are exact (jaccard 1.0 shingle
    sets → identical signatures under ANY hash family → every band
    collides), so both engines provably produce the identical
    verified set and every row hash-matches the md5 oracle's
    (id_a, id_b, jaccard, true, true). Any engine divergence (a
    candidate missed by one hash family near the S-curve knee)
    surfaces as a false flag → hash mismatch. The exact-jaccard
    verification stage is hash-agnostic, so scores agree wherever
    membership does.

    Envelope: equality is BY CONSTRUCTION only for exact cliques;
    corpora with near-knee jaccard pairs legitimately diverge in
    candidate recall between hash families (measured: fuzz seed 76
    xxh found 35 pairs vs md5's 31) — which is exactly what this row
    exists to make visible. It is therefore a driver-gate row on the
    fixed testdata corpora (verified equal at sf0.01 AND sf0.1), not
    a fuzz-battery row (tools/fuzz_oracle.py DOC_QUERIES note)."""
    docs = _t(spark, sf, "documents")
    # r16 (r15 verdict #3): one corpus shingle pass + one verify-set
    # pass feed BOTH engines (dedup.minhash_lsh_pairs_dual) — each
    # engine's pair frame is bit-identical to its independent
    # minhash_lsh_pairs run (pinned by test), so the gate semantics
    # and the oracle rows are unchanged.
    xxh, md5 = dedup.minhash_lsh_pairs_dual(docs, threshold=0.1)
    return (
        xxh.select("id_a", "id_b", F.col("jaccard").alias("j_xxh"))
        .join(
            md5.select("id_a", "id_b", F.col("jaccard").alias("j_md5")),
            ["id_a", "id_b"],
            "full_outer",
        )
        .select(
            "id_a",
            "id_b",
            F.coalesce("j_md5", "j_xxh").alias("jaccard"),
            F.col("j_xxh").isNotNull().alias("in_xxh"),
            F.col("j_md5").isNotNull().alias("in_md5"),
        )
    )


def dedup_simhash(spark, sf):
    return dedup.simhash_dedup(_t(spark, sf, "documents"))


def dedup_simhash_hamming(spark, sf):
    """Hamming-tolerant SimHash near-dup pairs: banded 60-bit simhash,
    exact recall for Hamming <= bands-1 by pigeonhole, xor/popcount
    verification — all codegen'd JVM expressions."""
    return dedup.simhash_near_dup_pairs(_t(spark, sf, "documents"))


def dedup_ngram_jaccard(spark, sf):
    return dedup.ngram_jaccard_pairs(_t(spark, sf, "documents"), threshold=0.15)


# -------------------------------------------------------------- similarity


def ann_topk_bruteforce(spark, sf):
    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return similarity.brute_force_topk(emb, q, k=5)


def ann_topk_lsh(spark, sf):
    """Banded-sketch ANN top-k at the ENGINE DEFAULT auto width
    (n_bits=None): similarity._resolve_band_width scales bits-per-band
    with ceil(log2(ceil(n/target_bucket))) so buckets stay
    ~target_bucket rows at any corpus size — the scale-safe plan (the
    sf10 rehearsal measured 2.2×/decade vs 4.6× at a pinned 16-bit
    width). The oracle replays the SAME width from count(*) with
    integer-exact arithmetic and masks the matching lower bits of a
    max-width (56-bit) literal-hyperplane sketch, so the exact bucket
    structure is reproduced without pinning. multiprobe pinned 0: this
    row is the ORACLE TWIN for the classic single-probe plan (the
    engine default flipped to multiprobe=1 in r15, verdict #5 — that
    default path is pinned by ann_topk_lsh_mp)."""
    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return similarity.lsh_topk(emb, q, k=5, multiprobe=0)


def ann_topk_lsh_mp(spark, sf):
    """Multi-probe LSH (similarity.lsh_topk multiprobe=1 — Lv 2007,
    r11; the ENGINE DEFAULT since r15, verdict #5 — kept explicit here
    so the row's meaning survives any future default change): each
    query additionally probes every band key at Hamming
    distance 1, so a near-miss whose sketch differs by one hyperplane
    sign still meets its neighbors. Corpus storage/bucketing
    unchanged; the query side fans out ×(1+r) (bounded small side).
    Measured clustered recall@10 .650 → .995 at flat wall. The oracle
    adds a qprobe CTE (the key plus its r single-bit flips, r replayed
    from the auto-width arithmetic) to the proven banded chain."""
    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return similarity.lsh_topk(emb, q, k=5, multiprobe=1)


def ann_topk_ivf(spark, sf):
    """IVF-flat ANN: deterministic centroid sample at the auto √n
    stride (driver-side centroid matrix stays O(√n) as the corpus
    grows), map-side argmax assignment, n_probe-list search
    (similarity.ivf_topk). The oracle replays the identical algorithm
    in SQL — same floor(sqrt(count)) stride, same bit-exact fold
    cosine, same tie-breaks."""
    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    # coarse pinned at "sample" — this row's oracle replays the sampled
    # quantizer (the engine default moved to kmeans in r12; the trained
    # default has its own row, ann_topk_ivf_kmeans)
    return similarity.ivf_topk(emb, q, k=5, n_probe=2, coarse="sample")


def kmeans_clusters(spark, sf):
    """Deterministic k-means over the embedding corpus
    (clustering.kmeans) at the ENGINE DEFAULT auto-k — cluster size
    pinned at ~TARGET_CLUSTER rows as the corpus grows, k replayed
    from count(*) in the oracle (the LSH auto-width posture, so the
    driver-checked plan is the scale-safe one). Seeds = the k vectors
    with the smallest hash60(id, SEED_ORDER_SALT) (ties → smaller id —
    decorrelated from id adjacency; see clustering.SEED_ORDER_SALT),
    2 assignment passes with a rounded centroid recompute
    between them; assignment is map-only (Arrow matrix fold at every
    k; expression argmin kept as the tested-equal parity witness); the
    update is
    one partial-aggregated k·dim-cell shuffle + O(k·dim) driver
    collect. The oracle unrolls both iterations as CTEs with the
    identical left-associated double arithmetic."""
    from nekton_spark.functions.clustering import kmeans

    _ship_package(spark)  # assignment runs the matrix-path Arrow UDF
    return kmeans(_t(spark, sf, "embeddings"), iters=2)


def semdedup_prune(spark, sf):
    """SemDeDup (Abbas et al. 2023): semantic dedup bounded by k-means
    partitions — within each final cluster, a vector is a duplicate
    when a lower-id clustermate has cosine ≥ 0.9. One shuffle on the
    cluster id; pair scan never leaves the cluster. Oracle replays
    clustering + within-cluster pair scan with fold-exact cosines.
    tau=0.35 here (not the 0.9 library default) because the synthetic
    corpus is random-normal — max within-cluster cosine ≈ 0.51 — so
    this threshold actually exercises the dup-marking branch."""
    from nekton_spark.functions.clustering import semdedup

    _ship_package(spark)
    return semdedup(_t(spark, sf, "embeddings"), iters=2, tau=0.35)


def kmeans_tiered(spark, sf):
    """TWO-LEVEL k-means — the capped-k scale path (clustering.kmeans
    with k > max_k): coarse k-means at clamp(ceil(sqrt(k)), 8, max_k)
    centroids, then per-coarse-cell LOCAL refinement (fine seeds = the
    k_f = ceil(cell/target) smallest-hash60(id, SEED_ORDER_SALT)
    members, same iters/rounded
    recompute/left-fold distance/first-index ties as the flat plan) so
    leaf sizes return to ~target without any k ∝ n broadcast or
    driver state. Cluster ids are packed longs
    ((coarse·2^21 + tile)·2^21 + fine). Params force the tier at
    sf0.01 (k=40 > max_k=16 → coarse_k=8, target=25 → k_f≈3 per
    cell); the oracle replays BOTH levels as CTEs — the flat replay at
    the literal coarse k, then window-ranked fine seeds and the same
    fold arithmetic partitioned by coarse cell."""
    from nekton_spark.functions.clustering import kmeans

    _ship_package(spark)
    return kmeans(
        _t(spark, sf, "embeddings"), k=40, iters=2, max_k=16, target_cluster=25
    )


def normalize_text_check(spark, sf):
    """Unicode NFC normalization + lowercase + whitespace collapse
    (text_analysis.normalize_text) — the canonical-composition prep
    every hash/shingle operator needs (decomposed and precomposed
    accents hash differently without it). NFC is the one Arrow stage
    (no Unicode normalizer in Spark SQL); unicodedata.normalize and
    DuckDB's nfc_normalize both implement UAX#15, so the oracle
    replays the full chain. Compared by md5 + codepoint length."""
    from nekton_spark.functions.text_analysis import normalize_text

    d = _t(spark, sf, "documents")
    out = normalize_text(d)
    return out.select(
        "doc_id",
        F.md5("norm_text").alias("norm_fp"),
        F.length("norm_text").alias("norm_len"),
    )


def repeated_span_removal_check(spark, sf):
    """Cross-document exact-substring span removal
    (text_analysis.remove_repeated_spans) — the Lee et al. 2021
    exact-dedup step as a fixed-window n-gram variant: an 8-token
    window seen in >= 3 distinct docs is boilerplate; the smallest
    doc_id keeps it, every other doc loses all its occurrences
    (overlapping windows union, so longer repeats strip whole).
    Mining is one content-keyed partial-agg'd count; the hit join is
    1-row-per-gram (no blowup, AQE-skew-splittable); coverage is one
    doc-keyed regroup of hit positions only."""
    from nekton_spark.functions.text_analysis import remove_repeated_spans

    return remove_repeated_spans(_t(spark, sf, "documents"), n=8, min_docs=3)


def ann_topk_pq(spark, sf):
    """Product-quantization compressed top-k (similarity.pq_topk): the
    MEMORY scale path — 64-dim vectors stored as 8 one-byte codes
    (512 B → 8 B, a 64× smaller scan at 10^10 vectors). Per-subspace
    deterministic k-means codebooks (train_centroids over the
    stride-sampled training set, stride = ceil(n/65536) replayed from
    count(*)), exact-fold argmin encoding, and an ADC scan that is a
    pure-codegen chain of LUT lookups — the compressed scan never
    touches a vector. The oracle replays training, encoding, and the
    LUT arithmetic per subspace as generated CTEs — exact hash-match
    of the approximate result; recall vs brute force is a separate
    unit-tested property."""
    from nekton_spark.functions.similarity import pq_topk

    _ship_package(spark)
    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return pq_topk(emb, q, k=5)


def ann_topk_pq_rerank(spark, sf):
    """PQ + exact re-rank (similarity.pq_topk_rerank): the ADC
    compressed scan nominates 4·k candidates per query, then only
    those rows' true vectors are fetched (broadcast semi-join — no
    corpus shuffle) and re-scored with exact cosine. Recovers the
    recall ADC quantization loses (r7 measured ~0.3 recall@5
    isotropic-Gaussian worst case; the planted-twin fixture reranks to
    ≥0.9 recall@10) while keeping the 64× compressed primary scan.
    The oracle replays training + encode + ADC candidate ranking +
    the exact-cosine re-rank."""
    from nekton_spark.functions.similarity import pq_topk_rerank

    _ship_package(spark)
    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return pq_topk_rerank(emb, q, k=10, c_mult=4)


def ann_topk_ivfpq(spark, sf):
    """IVF + PQ composition (similarity.ivfpq_topk): √n coarse
    inverted lists AND 8-byte PQ codes — queries ADC-scan only their
    n_probe=2 probed lists, so the compressed scan shrinks another
    ~√n/n_probe× beyond pq_topk (at 10^10 vectors: ~2·10^5× fewer
    codes read per query). Build is ONE fused Arrow pass (coarse
    cosine argmax + per-subspace code argmin), no shuffle. The oracle
    composes the ann_topk_ivf coarse/probe CTEs with the ann_topk_pq
    training/encode/ADC CTEs, joined on the probed cells."""
    from nekton_spark.functions.similarity import ivfpq_topk

    _ship_package(spark)
    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    # n_probe pinned at the value this row's oracle replays (the engine
    # default moved to 4 after the r10 clustered-recall tuning pass);
    # coarse pinned at "sample" likewise (engine default → kmeans, r12)
    return ivfpq_topk(emb, q, k=5, n_probe=2, coarse="sample")


def ann_topk_ivfpq_residual(spark, sf):
    """IVF-PQ with residual encoding + exact re-rank
    (similarity.ivfpq_residual_topk — Jégou 2011 §IV.B / FAISS
    IndexIVFPQR; r10 verdict #2): vectors PQ-quantize their residual
    v − c(v) from the coarse centroid, the ADC scan over probed lists
    scores <q,c> + LUT(residual codes) and nominates rerank_mult·k
    candidates whose true vectors alone get exact-cosine re-ranked.
    Clustered recall@10 = .64 (the probed-set ceiling, = ivf_topk) vs
    plain ivfpq's .465 at the same compressed primary scan. The oracle
    replays coarse assign → elementwise residuals → per-subspace
    training/encode on residual slices → coarse-dot + ADC → re-rank.
    n_probe pinned at 2 like the sibling ivfpq row."""
    from nekton_spark.functions.similarity import ivfpq_residual_topk

    _ship_package(spark)
    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    # coarse pinned at "sample" (engine default → kmeans, r12); the
    # trained-coarse composition has its own row, ann_topk_ivfpq_residual_k
    return ivfpq_residual_topk(
        emb, q, k=5, n_probe=2, rerank_mult=10, coarse="sample"
    )


def ann_index_roundtrip(spark, sf):
    """Persisted IVF-PQ index round trip (similarity.ivfpq_index_build
    / ivfpq_index_query, r11): the build-once/query-many split every
    production vector index has — codes relation (id, cid, 8-byte PQ
    codes) written as parquet + driver-scale centroid/codebook/meta
    relations (parquet too, r12), then the query path loads meta, scans ONLY the
    compressed relation, and runs the identical probe/ADC/top-k stage.
    The result must EQUAL ivfpq_topk's rows for the same parameters,
    so the oracle is the proven ivfpq replay (_pq_sql ivf_probe=2) —
    any build/persist/load drift hash-mismatches."""
    import tempfile

    from nekton_spark.functions.similarity import (
        ivfpq_index_build,
        ivfpq_index_query,
    )

    _ship_package(spark)
    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    path = tempfile.mkdtemp(prefix="ivfpq_index_")
    # coarse pinned at "sample" — the oracle replays the sampled
    # quantizer (engine default → kmeans, r12)
    ivfpq_index_build(emb, path, coarse="sample")
    return ivfpq_index_query(spark, path, q, k=5, n_probe=2)


def ann_topk_ivf_kmeans(spark, sf):
    """IVF with a K-MEANS coarse quantizer (similarity.ivf_topk
    coarse="kmeans", r11): centroids from the deterministic
    train_centroids loop over the stride-sampled corpus instead of raw
    √n sample rows — cells align with the data's cluster structure, so
    the probed-set ceiling jumps (clustered recall@10 .925 vs sampled
    ivf's .640 at the same n_probe=4 engine default; this row pins
    n_probe=2 like its siblings). Training is bounded (≤65536 sample
    rows per iteration); the oracle replays it with the kmeans CTE
    family (seeds by hash60, ONE round(avg,6) recompute) then the
    standard ivf assignment/probe/exact-cosine CTEs."""
    from nekton_spark.functions.similarity import ivf_topk

    _ship_package(spark)
    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(emb, q, k=5, n_probe=2, coarse="kmeans")


def ann_topk_ivfpq_residual_k(spark, sf):
    """The full FAISS-IVFPQR composition (r11): K-MEANS coarse
    quantizer + residual PQ + exact-cosine re-rank — kmeans cells make
    residuals unimodal (pure residual-ADC clustered recall .475 vs the
    sampled-coarse .32) AND lift the probed ceiling; with the re-rank
    the engine measures clustered recall@10 .920 vs plain ivfpq's
    .465 at the same index size. Oracle = kmeans-cent CTEs + residual
    + per-subspace PQ + coarse-dot ADC + re-rank, all proven families
    composed. n_probe pinned at 2."""
    from nekton_spark.functions.similarity import ivfpq_residual_topk

    _ship_package(spark)
    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return ivfpq_residual_topk(
        emb, q, k=5, n_probe=2, rerank_mult=10, coarse="kmeans"
    )


def embedding_pca_check(spark, sf):
    """Distributed PCA (functions/pca.py): project every embedding
    onto the top-2 principal components. Two bounded-shuffle passes
    (O(d) mean + O(d²)-cell Arrow Gramian), a driver-side FIXED
    12-iteration power method on the rounded 64×64 matrix, then one
    map-only codegen'd projection — deterministic and replayed
    end-to-end from the raw table by the oracle (mean, Gramian,
    both per-iteration roundings, sign rule, deflation)."""
    from nekton_spark.functions.pca import embedding_pca

    _ship_package(spark)
    return embedding_pca(_t(spark, sf, "embeddings"))


def embedding_near_dup(spark, sf):
    """Cosine-threshold near-dup pairs at the ENGINE DEFAULT auto
    width (n_bits=None) — same auto-width policy and SQL replay as
    ann_topk_lsh, so the driver-checked plan is the one whose buckets
    stay ~target_bucket-sized at any corpus size."""
    return similarity.embedding_near_dup(_t(spark, sf, "embeddings"), threshold=0.5)


def embedding_quant_dedup(spark, sf):
    """Grid-quantized exact embedding dedup (similarity.quantized_dedup):
    the corpus has no duplicate embeddings, so a re-encode drift is
    simulated — vec_id<20 re-keyed +100000 and perturbed by 2^-10
    (below the 1/4 lattice step, so most copies land in the original's
    cell; components near a cell boundary legitimately cross, and the
    oracle replays the same IEEE arithmetic). One map pass + one
    uniform-key shuffle — the O(n) first-line dedup."""
    emb = _t(spark, sf, "embeddings")
    base = emb.select("vec_id", F.col("embedding"))
    copies = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            similarity.as_double(F.col("embedding")), lambda x: x + F.lit(1.0 / 1024)
        ).alias("embedding"),
    )
    allv = base.select(
        "vec_id", similarity.as_double(F.col("embedding")).alias("embedding")
    ).unionByName(copies)
    out = similarity.quantized_dedup(allv, scale=4.0)
    return out.select("qkey", "keep_id", "n_members")


def vocab_coverage(spark, sf):
    """Per-doc vocabulary coverage / OOV rate: fraction of token
    occurrences inside the top-20 corpus vocabulary. The vocabulary is
    a derived aggregate broadcast back over the corpus (the canonical
    two-pass shape: vocab is tiny, the corpus-side explode never
    shuffles more than one row per doc after the map-side count)."""
    from nekton_spark.functions.text_analysis import top_tokens, tokenize

    d = _t(spark, sf, "documents")
    toks = d.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("token")
    ).filter(F.length("token") > 0)
    vocab = top_tokens(d, k=20).select("token", F.lit(1).alias("in_v"))
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce(F.col("in_v"), F.lit(0))).alias("in_vocab"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "in_vocab",
            F.round(F.col("in_vocab") / F.col("n_tokens"), 6).alias("coverage"),
        )
    )


def source_quality_rollup(spark, sf):
    """Per-provenance curation metrics: docs, mean quality score, mean
    length, total tokens by source — the table a data-mixture decision
    reads. One partial-aggregated shuffle on the (tiny) source key."""
    d = _t(spark, sf, "documents")
    c = F.col("text")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(ta.quality_score(c)), 4).alias("avg_quality"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.sum(ta.token_count(c)).alias("total_tokens"),
    )


# -------------------------------------------------------------- multimodal


def multimodal_features(spark, sf):
    d = _t(spark, sf, "documents")
    media = media_from_text(d.select("doc_id", "text"), mime="text/plain")
    return media_features(media).select("doc_id", "n_bytes", "media_class", "payload_md5")


def multimodal_decode(spark, sf):
    """Fake-decoder path (no SQL oracle: numpy RNG inside mapInPandas)."""
    d = _t(spark, sf, "documents").limit(20)
    media = media_from_text(d.select("doc_id", "text"), mime="image/png")
    dec = decode_image(media, fake=True, height=8, width=8)
    return dec.select("doc_id", "dec_height", "dec_width", F.size("pixels").alias("n_pixels"))


def image_decode(spark, sf):
    """REAL PNG codec round trip: synthesize genuine PNG bytes (stdlib
    zlib/struct encoder, scanline filters cycling None/Sub/Up/Average/
    Paeth), parse + unfilter them back, fold the decoded pixels into
    order-sensitive sums. The DuckDB oracle recomputes the expected
    pixels from the synthesis closed form p(y,x) = (key*31 + y*17 +
    x*7) % 256 — any corruption anywhere in the filter/deflate/CRC
    round trip breaks the hash match."""
    d = _t(spark, sf, "documents").select("doc_id")
    dec = decode_image(synth_png_media(d))
    return dec.select(
        "doc_id",
        "dec_height",
        "dec_width",
        F.expr(
            "aggregate(pixels, cast(0 as long), (acc, x) -> acc + x)"
        ).alias("px_sum"),
        # position-weighted fold: catches any pixel-order scramble that
        # a plain sum would miss
        F.expr(
            "aggregate(pixels, struct(cast(0 as long) as s, cast(0 as long) as i),"
            " (acc, x) -> struct(acc.s + (acc.i + 1) * x, acc.i + 1), acc -> acc.s)"
        ).alias("px_weighted"),
    )


def png_color_decode(spark, sf):
    """COLOR (truecolor-8 RGB) PNG round trip (r8 — the PNG half of
    the codec envelope's color story, alongside jpeg_color_decode):
    genuine 3-byte-per-pixel PNG scanlines cycling all five filters
    (per-BYTE filtering with the left neighbor bpp=3 back, spec 9.2),
    decoded by the generalized parser. The DuckDB oracle replays the
    synthesis closed form p(y,x,ch) = (key*31 + y*17 + x*7 + ch*11)
    % 256 over the flat RGB array."""
    from nekton_spark.functions.multimodal import synth_png_color_media

    d = _t(spark, sf, "documents").select("doc_id")
    dec = decode_image(synth_png_color_media(d))
    return dec.select(
        "doc_id",
        "dec_height",
        "dec_width",
        F.size("pixels").alias("n_values"),
        F.expr(
            "aggregate(pixels, cast(0 as long), (acc, x) -> acc + x)"
        ).alias("px_sum"),
        F.expr(
            "aggregate(pixels, struct(cast(0 as long) as s, cast(0 as long) as i),"
            " (acc, x) -> struct(acc.s + (acc.i + 1) * x, acc.i + 1), acc -> acc.s)"
        ).alias("px_weighted"),
    )


def jpeg_decode_check(spark, sf):
    """REAL baseline-JPEG codec round trip (functions/jpeg.py — pure
    stdlib/numpy, implemented from the public ITU-T T.81 spec):
    synthesize genuine JFIF bytes (Annex K Huffman tables, entropy-
    coded scan with byte stuffing), then run the full decoder — marker
    parse, DHT canonical-Huffman reconstruction, DC prediction, AC
    run-length, dequantize, de-zigzag, IDCT, level shift. The DC-only
    synthesis makes block b of image ``key`` decode to exactly
    (key*31 + b*17) % 256, so the DuckDB oracle replays the decoded
    pixels in closed form — any corruption anywhere in the Huffman/
    bitstream/IDCT path breaks the hash match."""
    d = _t(spark, sf, "documents").select("doc_id")
    dec = decode_image(synth_jpeg_media(d))
    return dec.select(
        "doc_id",
        "dec_height",
        "dec_width",
        F.expr(
            "aggregate(pixels, cast(0 as long), (acc, x) -> acc + x)"
        ).alias("px_sum"),
        F.expr(
            "aggregate(pixels, struct(cast(0 as long) as s, cast(0 as long) as i),"
            " (acc, x) -> struct(acc.s + (acc.i + 1) * x, acc.i + 1), acc -> acc.s)"
        ).alias("px_weighted"),
    )


def jpeg_color_decode_check(spark, sf):
    """COLOR baseline-JPEG round trip (functions/jpeg.py): genuine
    3-component 4:4:4 JFIF bytes — interleaved (Y, Cb, Cr) MCUs,
    per-component DC prediction — through the full decoder plus the
    JFIF YCbCr→RGB conversion. The DC-only synthesis keeps every
    component's samples in closed form and the conversion uses half-up
    rounding, so the DuckDB oracle replays the exact flat RGB array."""
    d = _t(spark, sf, "documents").select("doc_id")
    dec = decode_image(synth_jpeg_color_media(d))
    return dec.select(
        "doc_id",
        "dec_height",
        "dec_width",
        F.size("pixels").alias("n_values"),
        F.expr(
            "aggregate(pixels, cast(0 as long), (acc, x) -> acc + x)"
        ).alias("px_sum"),
        F.expr(
            "aggregate(pixels, struct(cast(0 as long) as s, cast(0 as long) as i),"
            " (acc, x) -> struct(acc.s + (acc.i + 1) * x, acc.i + 1), acc -> acc.s)"
        ).alias("px_weighted"),
    )


def png_palette_decode_check(spark, sf):
    """Palette + Adam7-interlace PNG round trip (functions/
    multimodal.py, r12 — the common real-corpus PNG shapes beyond
    gray8/rgb8): genuine PLTE-chunk payloads at bit depth (1,2,4,8)
    [key%4], interlaced on odd keys, per-row filter cycling. Palette,
    index map, and dims are all closed-form functions of doc_id, so
    the DuckDB oracle replays the exact flat RGB array — bit packing,
    the 7-pass reassembly, unfiltering, and PLTE expansion all have to
    be right for the hash to match."""
    from nekton_spark.functions.multimodal import synth_png_palette_media

    d = _t(spark, sf, "documents").select("doc_id")
    dec = decode_image(synth_png_palette_media(d))
    return dec.select(
        "doc_id",
        "dec_height",
        "dec_width",
        F.size("pixels").alias("n_values"),
        F.expr(
            "aggregate(pixels, cast(0 as long), (acc, x) -> acc + x)"
        ).alias("px_sum"),
        F.expr(
            "aggregate(pixels, struct(cast(0 as long) as s, cast(0 as long) as i),"
            " (acc, x) -> struct(acc.s + (acc.i + 1) * x, acc.i + 1), acc -> acc.s)"
        ).alias("px_weighted"),
    )


def gif_decode_check(spark, sf):
    """GIF round trip (functions/gif.py, r12 — from-spec LZW with
    variable-width codes, 4-pass interlace on odd keys, GCE
    transparency → RGBA on key%5==0): palette/index/dims share the
    PNG-palette closed forms, so the oracle replays the exact flat
    array — the LZW bit stream, sub-block reassembly, interlace
    ordering, palette expansion and the alpha plane all have to be
    right for the hash to match."""
    from nekton_spark.functions.multimodal import synth_gif_media

    d = _t(spark, sf, "documents").select("doc_id")
    dec = decode_image(synth_gif_media(d))
    return dec.select(
        "doc_id",
        "dec_height",
        "dec_width",
        F.size("pixels").alias("n_values"),
        F.expr(
            "aggregate(pixels, cast(0 as long), (acc, x) -> acc + x)"
        ).alias("px_sum"),
        F.expr(
            "aggregate(pixels, struct(cast(0 as long) as s, cast(0 as long) as i),"
            " (acc, x) -> struct(acc.s + (acc.i + 1) * x, acc.i + 1), acc -> acc.s)"
        ).alias("px_weighted"),
    )


def webp_decode_check(spark, sf):
    """Lossless-WebP round trip (functions/webp.py, r15 — VP8L
    implemented complete from the public WebP Lossless Bitstream
    Specification; verdict #3): genuine RIFF/VP8L bytes per doc
    through three closed-form legs (doc_id % 3) — truecolor literals
    (subtract-green + color cache varying by key), distance-1 LZ77
    runs, and the color-indexing transform with 1/2/4-bit pixel
    bundling — decoded by the full from-spec path: canonical prefix
    codes via the 19-symbol code-length code, the LZ77
    length/distance prefix layer, color cache, and inverse
    transforms. Always (h, w, 4) RGBA; alpha is closed-form on
    doc_id % 5 == 0 keys and 255 otherwise, so the DuckDB oracle
    replays the exact flat array — any corruption anywhere in the
    bit-reader/Huffman/LZ77/transform chain breaks the hash. The
    codec itself is additionally pinned bit-exact against the
    reference libwebp decoder in tests/test_webp.py (bidirectional,
    gated on the library's presence)."""
    from nekton_spark.functions.multimodal import synth_webp_media

    d = _t(spark, sf, "documents").select("doc_id")
    dec = decode_image(synth_webp_media(d))
    return dec.select(
        "doc_id",
        "dec_height",
        "dec_width",
        F.size("pixels").alias("n_values"),
        F.expr(
            "aggregate(pixels, cast(0 as long), (acc, x) -> acc + x)"
        ).alias("px_sum"),
        F.expr(
            "aggregate(pixels, struct(cast(0 as long) as s, cast(0 as long) as i),"
            " (acc, x) -> struct(acc.s + (acc.i + 1) * x, acc.i + 1), acc -> acc.s)"
        ).alias("px_weighted"),
    )


def gif_frame_sample_check(spark, sf):
    """Animated-GIF frame sampling (multimodal.frame_sample over
    image/gif, r12 + r13 delta frames): genuine multi-frame GIF89a
    payloads — key%3==0 all-full-canvas (legacy sparse path: skipped
    frames cost only the sub-block walk), key%3!=0 with frames >0 as
    sub-canvas disposal-1 inset patches, so sampling runs the REAL
    composition chain (gif._iter_composited) and emits RGBA canvases.
    The oracle replays frame membership, dims, and both pixel
    checksums from the composited closed forms."""
    from nekton_spark.functions.multimodal import frame_sample, synth_gif_anim_media

    d = _t(spark, sf, "documents").select("doc_id")
    fr = frame_sample(synth_gif_anim_media(d), every=2)
    return fr.select(
        "doc_id",
        "frame_idx",
        "dec_height",
        "dec_width",
        F.expr(
            "aggregate(pixels, cast(0 as long), (acc, x) -> acc + x)"
        ).alias("px_sum"),
        F.expr(
            "aggregate(pixels, struct(cast(0 as long) as s, cast(0 as long) as i),"
            " (acc, x) -> struct(acc.s + (acc.i + 1) * x, acc.i + 1), acc -> acc.s)"
        ).alias("px_weighted"),
    )


def tiff_decode_check(spark, sf):
    """Baseline-TIFF round trip (functions/tiff.py, r15 — TIFF 6.0
    from the public spec: both endians, IFD walk, strip organization,
    TIFF-LZW with the early-change width bump, PackBits, Deflate,
    horizontal predictor, bit-packed gray/palette rows, WhiteIsZero):
    five closed-form legs by doc_id % 5 — uncompressed gray-8 /
    LZW+predictor RGB multi-strip / PackBits palette-4 / Deflate gray
    multi-strip / bilevel WhiteIsZero — through the REAL decoder. The
    DuckDB oracle replays dims and both pixel checksums per leg; the
    LZW bit stream, early change, predictor undo, PackBits runs, bit
    unpacking, ColorMap expansion and photometric inversion all have
    to be right for the hash to match."""
    from nekton_spark.functions.multimodal import synth_tiff_media

    d = _t(spark, sf, "documents").select("doc_id")
    dec = decode_image(synth_tiff_media(d))
    return dec.select(
        "doc_id",
        "dec_height",
        "dec_width",
        F.size("pixels").alias("n_values"),
        F.expr(
            "aggregate(pixels, cast(0 as long), (acc, x) -> acc + x)"
        ).alias("px_sum"),
        F.expr(
            "aggregate(pixels, struct(cast(0 as long) as s, cast(0 as long) as i),"
            " (acc, x) -> struct(acc.s + (acc.i + 1) * x, acc.i + 1), acc -> acc.s)"
        ).alias("px_weighted"),
    )


def webp_frame_sample_check(spark, sf):
    """Animated-WebP frame sampling (multimodal.frame_sample over
    image/webp — r15, the VP8X/ANIM/ANMF container with every frame a
    genuine VP8L stream): 2 + key%3 frames, frame 0 full-canvas,
    frames >= 1 opaque inset patches at (2, 2) alternating the
    no-blend / alpha-blend ANMF methods (opaque sources make both
    land identical pixels — both container branches execute, the
    oracle replay stays exact). Sampling walks the composition chain
    once, copying only sampled canvases (every=2 → frames 0 and 2).
    The oracle replays frame membership, dims, and both pixel
    checksums from the composited closed forms: frame 0 = v0
    everywhere; frame 2 = v0 outside the patch rect, v2 (patch-local
    coords) inside."""
    from nekton_spark.functions.multimodal import (
        frame_sample,
        synth_webp_anim_media,
    )

    d = _t(spark, sf, "documents").select("doc_id")
    fr = frame_sample(synth_webp_anim_media(d), every=2)
    return fr.select(
        "doc_id",
        "frame_idx",
        "dec_height",
        "dec_width",
        F.expr(
            "aggregate(pixels, cast(0 as long), (acc, x) -> acc + x)"
        ).alias("px_sum"),
        F.expr(
            "aggregate(pixels, struct(cast(0 as long) as s, cast(0 as long) as i),"
            " (acc, x) -> struct(acc.s + (acc.i + 1) * x, acc.i + 1), acc -> acc.s)"
        ).alias("px_weighted"),
    )


def bmp_decode_check(spark, sf):
    """BMP round trip (functions/bmp.py, r12): bpp (1,4,8,24)[key%4],
    the 8-bit leg through real BI_RLE8 (runs, end-of-line/bitmap
    escapes), top-down rows on odd keys, sub-byte bit packing and
    4-byte row padding on the indexed legs. One closed-form oracle
    replays every leg via the virtual-palette construction (n = 2, 16,
    256, 256) — bit unpacking, RLE expansion, BGR swap and row
    orientation all have to be right for the hash to match."""
    from nekton_spark.functions.multimodal import synth_bmp_media

    d = _t(spark, sf, "documents").select("doc_id")
    dec = decode_image(synth_bmp_media(d))
    return dec.select(
        "doc_id",
        "dec_height",
        "dec_width",
        F.size("pixels").alias("n_values"),
        F.expr(
            "aggregate(pixels, cast(0 as long), (acc, x) -> acc + x)"
        ).alias("px_sum"),
        F.expr(
            "aggregate(pixels, struct(cast(0 as long) as s, cast(0 as long) as i),"
            " (acc, x) -> struct(acc.s + (acc.i + 1) * x, acc.i + 1), acc -> acc.s)"
        ).alias("px_weighted"),
    )


def image_dhash_check(spark, sf):
    """Perceptual image hash (functions/imagehash.py, r12 — dHash,
    Krawetz 2013): 8×9 gray frames in closed form (identity
    downsample), integer luma, strict-> gradient bits, signed 64-bit
    fold. The oracle rebuilds every bit and the HUGEINT→BIGINT sign
    fold; odd docs carry the planted bit-0 flip."""
    from nekton_spark.functions.imagehash import image_dhash, synth_gray_frames

    d = _t(spark, sf, "documents").select("doc_id")
    return image_dhash(synth_gray_frames(d)).select("doc_id", "dhash")


def image_auto_orient_check(spark, sf):
    """EXIF orientation normalization (imagehash.auto_orient, r13 —
    r12 verdict #8; r14 widened to all 8 tag values after the r13
    ADVICE orientation-7 transverse fix): stored pixels carry the
    INVERSE display transform for orientation (key % 8) + 1;
    auto_orient rotates/flips them upright (swapping dims for 5-8), so
    image_dhash must land on the SAME closed-form hash for every
    orientation, pinning 5 vs 7 as distinct — camera-rotated
    re-shoots become Hamming-0 dedup pairs. Map-only Arrow passes, no
    shuffle; the oracle replays the upright dHash bit by bit."""
    from nekton_spark.functions.imagehash import (
        auto_orient,
        image_dhash,
        synth_oriented_frames,
    )

    d = _t(spark, sf, "documents").select("doc_id")
    out = image_dhash(auto_orient(synth_oriented_frames(d)))
    return out.select(
        "doc_id", "orientation", "dec_height", "dec_width", "dhash"
    )


def image_near_dup_check(spark, sf):
    """Image near-dup mining (imagehash.image_near_dup_pairs): the
    simhash banding plan on the dHash — 4×16-bit bands, one banded
    self equi-join (the only shuffle), codegen xor/popcount verify,
    EXACT recall at max_hamming 3 by pigeonhole. The synth plants one
    Hamming-1 pair per (2q, 2q+1) couple; the oracle replays hashes,
    bands, the join and the popcount filter."""
    from nekton_spark.functions.imagehash import (
        image_near_dup_pairs,
        synth_gray_frames,
    )

    d = _t(spark, sf, "documents").select("doc_id").filter(F.col("doc_id") < 200)
    return image_near_dup_pairs(synth_gray_frames(d))


def jpeg_progressive_decode_check(spark, sf):
    """PROGRESSIVE (SOF2) JPEG round trip (functions/jpeg.py, r12 —
    T.81 Annex G): genuine progressive JFIF bytes with the full
    successive-approximation scan script — interleaved DC first scan
    at Al=2, two DC refinement scans (raw bits), AC first + refinement
    over split spectral bands (EOBRUN band coding, G.1.2.3 correction
    bits), restart intervals on every third row — accumulated in
    coefficient memory and reconstructed through the same IDCT as
    baseline. The coefficients are the SAME DC-only closed form as
    jpeg_decode, so the identical oracle replay must hash-match: any
    corruption anywhere in the multi-scan path breaks it."""
    from nekton_spark.functions.multimodal import synth_jpeg_progressive_media

    d = _t(spark, sf, "documents").select("doc_id")
    dec = decode_image(synth_jpeg_progressive_media(d))
    return dec.select(
        "doc_id",
        "dec_height",
        "dec_width",
        F.expr(
            "aggregate(pixels, cast(0 as long), (acc, x) -> acc + x)"
        ).alias("px_sum"),
        F.expr(
            "aggregate(pixels, struct(cast(0 as long) as s, cast(0 as long) as i),"
            " (acc, x) -> struct(acc.s + (acc.i + 1) * x, acc.i + 1), acc -> acc.s)"
        ).alias("px_weighted"),
    )


def jpeg_420_decode_check(spark, sf):
    """4:2:0 SUBSAMPLED baseline-JPEG round trip (functions/jpeg.py,
    r10 verdict #3 — the subsampling most real-world JPEGs use):
    genuine interleaved-MCU JFIF bytes (four Y blocks then Cb, Cr per
    16×16 MCU), general sampled entropy decode, MCU→raster block
    reassembly, replication chroma upsample, JFIF YCbCr→RGB. The
    DC-only synthesis keeps every sample in closed form so the DuckDB
    oracle replays the exact flat RGB array — Y from block
    (y//8)·2mx + x//8, chroma from block (y//16)·mx + x//16."""
    from nekton_spark.functions.multimodal import synth_jpeg_420_media

    d = _t(spark, sf, "documents").select("doc_id")
    dec = decode_image(synth_jpeg_420_media(d))
    return dec.select(
        "doc_id",
        "dec_height",
        "dec_width",
        F.size("pixels").alias("n_values"),
        F.expr(
            "aggregate(pixels, cast(0 as long), (acc, x) -> acc + x)"
        ).alias("px_sum"),
        F.expr(
            "aggregate(pixels, struct(cast(0 as long) as s, cast(0 as long) as i),"
            " (acc, x) -> struct(acc.s + (acc.i + 1) * x, acc.i + 1), acc -> acc.s)"
        ).alias("px_weighted"),
    )


def decode_coverage_check(spark, sf):
    """Decode-coverage telemetry rollup (functions/multimodal.py:
    decode_coverage — r11 verdict #8): a deterministic mixed corpus
    (doc_id % 7 → PNG / gray JPEG / 4:2:0-with-restarts JPEG /
    header-truncated JPEG / unsupported mime / lossless WebP (r15 —
    a REAL VP8L decode) / lossy WebP (the reason-coded 'lossy_webp'
    refusal)) runs the REAL decoders and rolls (decode_status,
    decode_reason) counts up — the counter a 100 TB curation run
    reads to see what fraction of its media the refuse-don't-misparse
    codec envelope actually decodes, reason-coded. The oracle replays
    the rollup in closed form over the doc_id residues (every
    status/reason here is a pure function of doc_id % 7). Map-only
    decode pass + ONE bounded partial-agg'd shuffle (≤ |reason codes|
    rows)."""
    from nekton_spark.functions.multimodal import (
        decode_coverage,
        synth_coverage_media,
    )

    d = _t(spark, sf, "documents").select("doc_id")
    per = decode_coverage(synth_coverage_media(d))
    return per.groupBy("decode_status", "decode_reason").agg(
        F.count(F.lit(1)).alias("n")
    )


def common_passages_check(spark, sf):
    """Cross-document repeated-passage mining
    (functions/text_analysis.py:common_passages): word 3-grams shared
    by ≥3 distinct docs, capped at the top 200 by (df desc, passage) —
    the boilerplate/contamination audit. One map-side explode (intra-doc
    repeats collapsed BEFORE the shuffle), one partial-agg'd groupBy,
    TakeOrderedAndProject for the cap."""
    from nekton_spark.functions.text_analysis import common_passages

    d = _t(spark, sf, "documents")
    return common_passages(d, n=3, min_docs=3, max_passages=200)


def mmr_diverse_topk(spark, sf):
    """MMR diverse re-ranking (functions/similarity.py:mmr_topk —
    Carbonell & Goldstein 1998): top-20 relevance candidates per
    query, then greedy λ=0.7 redundancy-penalized selection of 5.
    The only corpus-scale stage is candidate nomination; vector
    fetch is a broadcast semi-join, pairwise sims are |q|·c² rows,
    and the greedy loop is one cogrouped applyInPandas over per-query
    groups of 20."""
    from nekton_spark.functions.similarity import mmr_topk

    e = _t(spark, sf, "embeddings")
    return mmr_topk(e, e.filter(F.col("vec_id") < 10), k=5, c=20, lam=0.7)


def zorder_key_check(spark, sf):
    """Z-order/Morton layout keys (functions/layout.py): bucketize
    (user_id, value) onto 16-bit grids from their min/max, interleave
    the bits into one codegen'd Morton key — the clustering key
    zorder_write range-partitions on so parquet row-group min/max
    boxes stay tight in BOTH dimensions (2-D predicate pruning from
    footer stats alone). NULL in either key → NULL zv."""
    from nekton_spark.functions.layout import z_value

    e = _t(spark, sf, "events")
    return z_value(e, "user_id", "value").select("event_id", "zv")


def zorder_key_n(spark, sf):
    """N-column Morton keys (functions/layout.z_value_n, r10 verdict
    #7): bucketize (user_id, value, event_id) onto 16-bit grids from
    their min/max and interleave bit i of column j to position
    i·k + j — the 3-D clustering key zorder_write_n range-partitions
    on (time × tenant × metric is the common 100 TB shape). k=2 is
    proven bit-identical to z_value in tests; this row oracles the
    k=3 interleave end-to-end. NULL in any key → NULL zv."""
    from nekton_spark.functions.layout import z_value_n

    e = _t(spark, sf, "events")
    return z_value_n(e, ["user_id", "value", "event_id"], bits=16).select(
        "event_id", "zv"
    )


def hilbert_key_check(spark, sf):
    """Hilbert-curve layout keys (functions/layout.py): same
    bucketization as zorder_key_check, then the table-driven Hilbert
    state-machine fold — ONE pure Catalyst aggregate over the
    pre-extracted quadrant keys (the 4-state table is derived from
    the classic xy2d loop and exhaustively pinned in tests). Better
    locality than Morton: consecutive keys are always grid-adjacent,
    so range-written row groups get tighter 2-D bounding boxes. NULL
    in either key -> NULL hv. The oracle replays the identical fold
    with DuckDB list_reduce over the same literal tables."""
    from nekton_spark.functions.layout import hilbert_value

    e = _t(spark, sf, "events")
    return hilbert_value(e, "user_id", "value").select("event_id", "hv")


def embedding_outliers_check(spark, sf):
    """Centroid-distance outlier detection (functions/outliers.py):
    top-25 vectors farthest from the round-6 grid centroid — the
    curation complement of SemDeDup/near-dup (flag what is too FAR
    from everything instead of too close). One O(d)-bounded centroid
    aggregate + one map-only Arrow scoring pass +
    TakeOrderedAndProject."""
    from nekton_spark.functions.outliers import embedding_outliers

    return embedding_outliers(_t(spark, sf, "embeddings"), k=25)


def dedup_winnow_check(spark, sf):
    """Winnowing fingerprint near-dup pairs (functions/winnow.py —
    Schleimer et al. SIGMOD 2003, the MOSS algorithm): hash every word
    4-gram, keep the minimum of each 4-hash window (rightmost on
    ties), mine doc pairs sharing ≥2 surviving fingerprints after a
    df>50 boilerplate cut. Guarantee: any shared passage of ≥ w+k-1 =
    7 tokens is caught; density: ~2/(w+1) of gram positions selected,
    so the inverted index is ~2.5× smaller than the all-grams plan
    before the df-cut. Selection is map-only Catalyst expressions
    (zero Python); mining is the bounded 8-byte equi-join."""
    from nekton_spark.functions.winnow import winnow_pairs

    d = _t(spark, sf, "documents")
    return winnow_pairs(d, k=4, w=4, min_shared=2, max_doc_freq=50)


def video_frame_sample_check(spark, sf):
    """REAL video path (functions/video.py + multimodal.frame_sample):
    genuine MJPEG AVI payloads (RIFF container written from the public
    AVI spec, one baseline JPEG per frame) → container walk → every
    2nd frame entropy-decoded. The DC-only synthesis keeps each
    sampled frame's pixels in closed form, so the oracle replays
    frame membership, dims, and both pixel checksums exactly."""
    from nekton_spark.functions.multimodal import frame_sample, synth_avi_media

    d = _t(spark, sf, "documents").select("doc_id")
    fr = frame_sample(synth_avi_media(d), every=2)
    return fr.select(
        "doc_id",
        "frame_idx",
        "dec_height",
        "dec_width",
        F.expr(
            "aggregate(pixels, cast(0 as long), (acc, x) -> acc + x)"
        ).alias("px_sum"),
        F.expr(
            "aggregate(pixels, struct(cast(0 as long) as s, cast(0 as long) as i),"
            " (acc, x) -> struct(acc.s + (acc.i + 1) * x, acc.i + 1), acc -> acc.s)"
        ).alias("px_weighted"),
    )


def dedup_incremental(spark, sf):
    """Incremental-ingest dedup (functions/dedup.py): docs ≥ 250 are
    the new batch, the rest are history represented only by their
    fingerprint index; drop new docs seen in history, then first-id
    wins within the batch."""
    from nekton_spark.functions.dedup import incremental_dedup
    from nekton_spark.functions.text_analysis import fingerprint as fp

    d = _t(spark, sf, "documents")
    # the synthetic corpus has no exact dups, so simulate a re-crawl:
    # the new batch = fresh docs (id >= 250) + re-ingested history
    # copies (ids 0-9, re-keyed +100000) + an intra-batch double of
    # doc 250 (re-keyed +200000). Both classes must be dropped.
    fresh = d.filter(F.col("doc_id") >= 250)
    recrawl = d.filter(F.col("doc_id") < 10).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    double = d.filter(F.col("doc_id") == 250).withColumn(
        "doc_id", F.col("doc_id") + 200000
    )
    new = fresh.unionByName(recrawl).unionByName(double)
    known = d.filter(F.col("doc_id") < 250).select(fp(F.col("text")).alias("fp"))
    out = incremental_dedup(new, known)
    return out.select("doc_id", "lang", "source", "n_chars")


def image_resize(spark, sf):
    """Decode→resize chain, both REAL: PNG parse then nearest-neighbor
    4×4 downsample (pure integer index math). Oracle recomputes the
    sampled pixels from the synthesis closed form — decode corruption
    OR wrong resize indexing breaks the hash."""
    from nekton_spark.functions.multimodal import resize_image

    d = _t(spark, sf, "documents").select("doc_id")
    dec = decode_image(synth_png_media(d))
    rs = resize_image(dec, out_h=4, out_w=4)
    return rs.select(
        "doc_id",
        "dec_height",
        "dec_width",
        F.expr("aggregate(pixels, cast(0 as long), (acc, x) -> acc + x)").alias("px_sum"),
        F.expr(
            "aggregate(pixels, struct(cast(0 as long) as s, cast(0 as long) as i),"
            " (acc, x) -> struct(acc.s + (acc.i + 1) * x, acc.i + 1), acc -> acc.s)"
        ).alias("px_weighted"),
    )


def data_validation_report(spark, sf):
    """One-pass constraint report (functions/validation.py): row-local
    checks fold into a single aggregate over lineitem; referential
    integrity (l_orderkey → orders) is one broadcast anti-join count.
    k checks ≠ k scans."""
    from nekton_spark.functions import validation as V

    l = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    rep = V.check_report(
        l,
        {
            "n_rows": F.count(F.lit(1)),
            "null_qty": F.round(V.null_fraction("l_quantity"), 6),
            "qty_in_range": F.round(V.in_range_fraction("l_quantity", 1, 50), 6),
            "disc_in_range": F.round(V.in_range_fraction("l_discount", 0.0, 0.1), 6),
            "line_unique": F.round(
                F.count_distinct(F.concat_ws("#", "l_orderkey", "l_linenumber"))
                / F.count(F.lit(1)),
                6,
            ),
        },
        fk=("l_orderkey", o, "o_orderkey"),
    )
    return rep.select(
        "n_rows", "null_qty", "qty_in_range", "disc_in_range", "line_unique",
        "fk_nulls", "fk_violations",
    )


def latest_event_per_user(spark, sf):
    """CDC/upsert staple: the latest record per key by (ts, event_id)
    — max_by over a struct ordering, one partial-aggregated shuffle
    (no window sort over the full table)."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct(
                    F.col("event_id").alias("event_id"),
                    F.col("event_type").alias("event_type"),
                    F.col("value").alias("value"),
                ),
                F.struct(F.col("ts"), F.col("event_id")),
            ).alias("last")
        )
        .select(
            "user_id",
            F.col("last.event_id").alias("event_id"),
            F.col("last.event_type").alias("event_type"),
            F.round(F.col("last.value"), 6).alias("value"),
        )
    )


def events_tier_rollup(spark, sf):
    """Hypertable-style continuous-aggregate pyramid (functions/
    timetiers.py): minute tier scans raw events once; hour and day
    tiers re-aggregate the tier below via composable partials
    (sum-of-sums, min-of-mins). The oracle computes every tier
    DIRECTLY from raw events, so the hash match proves re-aggregation
    is exact, not just plausible."""
    from nekton_spark.functions.timetiers import time_tier_rollup

    ev = _t(spark, sf, "events").select("ts", "event_type", "value")
    out = time_tier_rollup(ev, ["1 minute", "1 hour", "1 day"], keys=["event_type"])
    return out.select(
        "tier",
        "bucket_start",
        "event_type",
        "n",
        F.round("total", 2).alias("total"),
        F.round("vmin", 6).alias("vmin"),
        F.round("vmax", 6).alias("vmax"),
    )


def decontamination_check(spark, sf):
    """Train/eval n-gram contamination (functions/decontaminate.py):
    eval set = every 97th doc, train = the rest; a shared distinct
    4-gram flags the pair. The broadcast side is the (small) eval
    shingle set; the only shuffle aggregates matching pairs."""
    from nekton_spark.functions.decontaminate import contamination_pairs

    d = _t(spark, sf, "documents")
    ev = d.filter(F.col("doc_id") % 97 == 0)
    tr = d.filter(F.col("doc_id") % 97 != 0)
    return contamination_pairs(tr, ev, n=4)


def pack_sequences_check(spark, sf):
    """GPT-style sequence packing (functions/packing.py): shard-
    parallel concatenation chunking; every doc reports its context
    window, offset, and straddle count."""
    from nekton_spark.functions.packing import pack_sequences

    return pack_sequences(_t(spark, sf, "documents"), budget=512, n_shards=8)


def vocab_top_tokens(spark, sf):
    """Vocabulary head: top-50 tokens by count, deterministic ties."""
    from nekton_spark.functions.text_analysis import top_tokens

    return top_tokens(_t(spark, sf, "documents"), k=50)


def heavy_hitters_cms(spark, sf):
    """Count-Min Sketch heavy hitters (functions/sketches.py): top-40
    tokens by sketch-estimated count over a 4x1024 grid of hash60
    cells, true count alongside (est_n >= true_n by construction —
    the sketch never undercounts). The sketch shuffle is bounded at
    depth*width cells at ANY corpus size — the 100 TB alternative to
    exact distinct-token counting; the probe side broadcasts the
    ≤4096-row sketch."""
    from nekton_spark.functions.sketches import cms_heavy_hitters

    return cms_heavy_hitters(_t(spark, sf, "documents"), k=40)


def neardup_time_horizon(spark, sf):
    """Batch twin of the streaming near-dup operator
    (nekton_spark/streaming/neardup.py): same semantics, batch-shaped
    plan — a NARROW (id, ts, band, bh) banded self-join bounded to a
    time horizon, candidate pairs DISTINCT'd and re-checked against an
    exact shared signature band slice after the per-id state fetch
    (so emission matches the stream's first-shared-band admission
    exactly, including under 60-bit band-hash collisions) — run over
    documents with synthetic
    event times (doc_id-spaced 37 s apart). The streaming path itself
    is exercised by tests/test_streaming.py::TestStreamingNearDup
    (watermark eviction + replay idempotence + batch equivalence)."""
    from nekton_spark.streaming.neardup import streaming_minhash_near_dup

    d = _t(spark, sf, "documents").select(
        "doc_id",
        "text",
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") * 37).alias("ts"),
    )
    out = streaming_minhash_near_dup(d, delay="60 minutes", threshold=0.1)
    return out.select(
        "id_a", "id_b", F.unix_timestamp("ts").alias("ts_epoch"), "jaccard"
    )


def neardup_estimate(spark, sf):
    """Batch twin of the streaming near-dup ESTIMATOR path
    (verify='estimate', nekton_spark/streaming/neardup.py): identical
    banded self-join, but the score is the MinHash estimator — the
    fraction of agreeing signature components — so join state carries
    only the k-long signature, never the shingle sets (~10× narrower
    state, the width a 100 TB/day stream needs). The oracle recomputes
    the same estimator over the same candidates in SQL; k=16 is a
    power of two, so agreement/k is exact in both engines."""
    from nekton_spark.streaming.neardup import streaming_minhash_near_dup

    d = _t(spark, sf, "documents").select(
        "doc_id",
        "text",
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") * 37).alias("ts"),
    )
    out = streaming_minhash_near_dup(
        d, delay="60 minutes", threshold=0.25, verify="estimate"
    )
    return out.select(
        "id_a", "id_b", F.unix_timestamp("ts").alias("ts_epoch"), "jaccard"
    )


def audio_features(spark, sf):
    """REAL WAV codec round trip: synthesize genuine RIFF/PCM16 bytes
    (stdlib wave writer), parse them back (stdlib wave reader), derive
    rate/duration/RMS. The DuckDB oracle recomputes the expected
    features from the synthesis closed form — any corruption in the
    encode or decode path breaks the hash match."""
    d = _t(spark, sf, "documents").select("doc_id")
    dec = decode_audio(synth_wav_media(d))
    return dec.select(
        "doc_id",
        "sample_rate",
        "n_channels",
        "n_samples",
        F.round("duration_ms", 3).alias("duration_ms"),
        F.round("rms", 6).alias("rms"),
    )


def wav_envelope_features(spark, sf):
    """Full-envelope WAV round trip (functions/multimodal.py r12:
    from-spec RIFF parser replacing stdlib wave): per doc_id % 4 the
    payload is PCM8 (unsigned, centered) / PCM16 / PCM24 (3-byte LE
    two's complement) / IEEE float32, wrapped in
    WAVE_FORMAT_EXTENSIBLE on odd keys. Samples are the closed form
    s_i = ((key*31 + i*17) % 4096) − 2048 (mod-256 variant for PCM8),
    integer-valued at every width, so the DuckDB oracle recomputes
    fmt/rate/n_samples/rms exactly from doc_id."""
    from nekton_spark.functions.multimodal import synth_wav_envelope_media

    d = _t(spark, sf, "documents").select("doc_id")
    dec = decode_audio(synth_wav_envelope_media(d))
    return dec.select(
        "doc_id",
        "fmt",
        "sample_rate",
        "n_samples",
        F.round("rms", 6).alias("rms"),
    )


def url_normalize_check(spark, sf):
    """URL canonicalization (functions/urls.py, r12): synth_urls
    builds a raw crawl URL per document firing every normal-form rule
    (case-varying host, explicit default port, tracking params,
    permutable query, fragment; one host under the co.uk public
    suffix); url_normalize + registered_domain derive the dedup and
    quota keys. Pure codegen regexp/array ops, map-only; the oracle
    constructs the canonical spelling directly from doc_id."""
    from nekton_spark.functions.urls import synth_urls, with_url_keys

    d = _t(spark, sf, "documents").select("doc_id")
    return with_url_keys(synth_urls(d)).select(
        "doc_id", "url", "norm_url", "domain"
    )


def domain_rollup_urls(spark, sf):
    """Per-registered-domain crawl inventory (urls.domain_rollup):
    total URLs and distinct canonical pages per eTLD+1 — the input to
    domain quotas. One partial-aggregated shuffle on the domain key
    (cardinality = domains, not pages)."""
    from nekton_spark.functions.urls import domain_rollup, synth_urls

    d = _t(spark, sf, "documents").select("doc_id")
    return domain_rollup(synth_urls(d))


def sentence_split_check(spark, sf):
    """Sentence segmentation (text_analysis.split_sentences, r13; r14
    widened the abbreviation guard per verdict #7): rule-based
    boundaries (terminal punctuation + capital start, abbreviation-
    guarded — the synth plants Dr., approx., No.-before-digit, U.S.
    and Nr. that must NOT split, plus a quoted sentence start that
    must). The JVM lookbehind pattern is not RE2-replayable, so the
    oracle rebuilds the exact sentence array from the closed-form
    synth. Pure codegen split, map-only."""
    from nekton_spark.functions.text_analysis import (
        split_sentences,
        synth_sentence_text,
    )

    d = synth_sentence_text(_t(spark, sf, "documents").select("doc_id"))
    out = split_sentences(d)
    return out.select(
        "doc_id",
        "n_sentences",
        F.element_at("sentences", 1).alias("s1"),
        F.element_at("sentences", 2).alias("s2"),
        F.element_at("sentences", 3).alias("s3"),
        F.element_at("sentences", 4).alias("s4"),
        F.element_at("sentences", 5).alias("s5"),
    )


def domain_quota_sample_check(spark, sf):
    """Per-domain page caps (urls.domain_quota, r13): synth URLs map
    each doc to one of three registered domains by doc_id % 3;
    quality-first ranking (priority = doc_id, unique so the cut is
    total) keeps the top 40 pages per eTLD+1. One shuffle on the
    domain key, per-partition rank window — no global sort. The
    oracle replays the rank-and-cut closed-form."""
    from nekton_spark.functions.urls import domain_quota, synth_urls

    d = synth_urls(_t(spark, sf, "documents").select("doc_id"))
    d = d.withColumn("priority", F.col("doc_id"))
    out = domain_quota(d, max_per_domain=40, priority_col="priority")
    return out.select("doc_id")


def warc_extract_row(spark, sf):
    """End-to-end crawl-ingest slice (functions/warc.py +
    functions/html.py, r12): each document becomes a genuine 2-record
    WARC (request + response; HTTP body coding cycles chunked / gzip /
    identity by key%3, whole container gzipped per-record on odd keys),
    then warc_records unwraps the framing and html_extract strips the
    page — the Common Crawl pipeline front end in one oracled row. The
    decoded body is byte-identical to synth_html's page (pinned by
    test), so the expected text is the same closed form."""
    from nekton_spark.functions.html import html_extract
    from nekton_spark.functions.warc import synth_warc_media, warc_records

    d = _t(spark, sf, "documents").select("doc_id", "text")
    recs = warc_records(synth_warc_media(d).drop("text"), "warc")
    resp = recs.filter(F.col("warc_type") == "response").withColumn(
        "html", F.col("body").cast("string")
    )
    out = html_extract(resp)
    return out.select(
        "doc_id",
        "target_uri",
        "http_status",
        F.col("text").alias("extracted"),
        "n_blocks",
    )


def html_markdown_check(spark, sf):
    """Structure-preserving HTML → Markdown (html.html_to_markdown,
    r13): the synth page exercises every rule — h2 heading, paragraph
    carrying the entity-escaped document text with bold + link,
    unordered and ORDERED list items, a raw <pre> fence (whitespace
    preserved), a blockquote. The oracle rebuilds the exact Markdown
    closed-form from (doc_id, text). Map-only, one Arrow crossing."""
    from nekton_spark.functions.html import (
        html_to_markdown,
        synth_html_markdown,
    )

    d = _t(spark, sf, "documents").select("doc_id", "text")
    out = html_to_markdown(synth_html_markdown(d))
    return out.select("doc_id", "markdown")


def document_extract_check(spark, sf):
    """Mixed-format ingest router (functions/documents.py, r13): a
    corpus cycling PDF / DOCX / HTML / plain text / an unsupported
    mime by key % 5 routes through ONE Arrow pass to the matching
    extractor and lands on the normalized (doc_format, unit_no,
    n_units, title, text, refusal) schema — the one-call front door
    for a mixed document directory. Every field replays closed-form;
    the unsupported leg must refuse reason-coded, not fail the task."""
    from nekton_spark.functions.documents import (
        extract_documents,
        synth_document_media,
    )

    d = _t(spark, sf, "documents").select("doc_id", "text")
    out = extract_documents(synth_document_media(d).drop("text"))
    return out.select(
        "doc_id", "doc_format", "unit_no", "n_units", "title",
        F.col("text").alias("extracted"), "refusal",
    )


def docx_extract_check(spark, sf):
    """DOCX extraction (functions/docx.py, r13 — ECMA-376
    WordprocessingML over the stdlib zip reader): each document
    becomes a genuine deterministic DOCX (3 paragraphs — heading, the
    raw document text with tabs/newlines round-tripping through
    <w:tab/>/<w:br/>, a trailer — plus a <dc:title> on key%3==0); the
    engine unzips, scans <w:p>/<w:t>, decodes entities and joins
    paragraphs. Every field is a closed form of (doc_id, text).
    Map-only Arrow pass, no shuffle."""
    from nekton_spark.functions.docx import docx_extract, synth_docx_media

    d = _t(spark, sf, "documents").select("doc_id", "text")
    out = docx_extract(synth_docx_media(d).drop("text"), "docx")
    return out.select(
        "doc_id",
        F.col("text").alias("extracted"),
        "title",
        "n_paragraphs",
        "refusal",
    )


def feed_extract_check(spark, sf):
    """RSS/Atom feed parsing (functions/feeds.py, r13 — the third
    crawl-discovery surface after robots and sitemaps): payloads cycle
    an RSS channel (entity-decoded titles, links, pubDate, guid) / an
    Atom feed (CDATA titles, rel=alternate link selection among a self
    link, updated, id) / a non-feed that must refuse reason-coded.
    One row per entry, map-only; every field replays closed-form."""
    from nekton_spark.functions.feeds import feed_entries, synth_feed_media

    d = _t(spark, sf, "documents").select("doc_id")
    out = feed_entries(synth_feed_media(d))
    return out.select(
        "doc_id", "feed_kind", "feed_title", "title", "link",
        "published", "entry_id", "refusal",
    )


def sitemap_extract_check(spark, sf):
    """Sitemap protocol parsing (functions/sitemap.py, r13 — the
    robots.txt companion: the site's own crawl inventory): payloads
    cycle XML urlset (entity-decoded loc, lastmod/changefreq/priority)
    / the same urlset gzipped / a sitemapindex (kind='sitemap' for
    recursion) / a plain-text sitemap. One row per entry, map-only
    Arrow pass; the oracle replays every field closed-form."""
    from nekton_spark.functions.sitemap import (
        sitemap_entries,
        synth_sitemap_media,
    )

    d = _t(spark, sf, "documents").select("doc_id")
    out = sitemap_entries(synth_sitemap_media(d))
    return out.select(
        "doc_id", "kind", "loc", "lastmod", "changefreq", "priority",
        "refusal",
    )


def html_jsonld_check(spark, sf):
    """JSON-LD provenance extraction (html.html_jsonld, r13): Article
    blocks with license URL (CC / ToS / rightsstatements by key%3),
    datePublished, author; key%4==0 adds an INVALID second block that
    must count in n_ld_bad, not fail; key%5==0 wraps the article in
    @graph (flattened one level). Every field replays closed-form."""
    from nekton_spark.functions.html import html_jsonld, synth_html_jsonld

    d = _t(spark, sf, "documents").select("doc_id")
    out = html_jsonld(synth_html_jsonld(d))
    return out.select(
        "doc_id",
        F.element_at("ld_types", 1).alias("ld_type"),
        F.size("ld_types").alias("n_types"),
        "license",
        "date_published",
        "author",
        "n_ld_blocks",
        "n_ld_bad",
    )


def pdf_extract_check(spark, sf):
    """PDF text extraction (functions/pdf.py, r13 — ISO 32000 subset,
    the crawl's other big document format): genuine PDFs cycling Flate
    + WinAnsi Tj lines / plain Identity-H hex strings carrying the raw
    document text / two-page object-stream layout / kerned TJ arrays
    with an /Info title. The engine scans the object index, inflates
    streams (PNG predictors ready), walks the page tree and replays
    the BT/ET text operators through the font decoders; the oracle
    replays every page's text closed-form. One row per page, map-only
    Arrow pass, no shuffle."""
    from nekton_spark.functions.pdf import pdf_extract, synth_pdf_media

    d = _t(spark, sf, "documents").select("doc_id", "text")
    out = pdf_extract(synth_pdf_media(d).drop("text"), "pdf")
    return out.select(
        "doc_id", "page_no", "n_pages", "title",
        F.col("text").alias("extracted"), "refusal",
    )


def pdf_images_check(spark, sf):
    """PDF embedded-image extraction (functions/pdf.py:pdf_images,
    r15 — the multimodal loop for document corpora: PDF → image
    XObjects → the existing codec envelope → perceptual dedup).
    synth_pdf_image_media embeds closed-form images by doc_id % 3 —
    a DCTDecode grayscale JPEG (handed through verbatim and decoded
    by the from-spec JPEG path), a FlateDecode RGB raster (PNG
    predictor 12 on odd keys, re-wrapped losslessly as BMP), and a
    CCITTFaxDecode refusal stub — plus a SECOND gray image on
    doc_id % 4 == 0 keys (per-image isolation: on leg-2 keys the
    sibling decodes even though img_no 0 refused). The row runs the
    FULL chain (object index → filter stack → XObject walk →
    decode_image) and the oracle replays dims, mimes, refusal codes
    and both pixel checksums closed-form. Map-only Arrow passes, no
    shuffle."""
    from nekton_spark.functions.multimodal import decode_image
    from nekton_spark.functions.pdf import pdf_images, synth_pdf_image_media
    from nekton_spark.materialize import materialize

    d = _t(spark, sf, "documents").select("doc_id")
    # both union branches read the extraction; materialize so the PDF
    # corpus is object-indexed ONCE, not once per branch
    ex = materialize(pdf_images(synth_pdf_image_media(d), payload_col="pdf"))
    dec = decode_image(ex.filter(F.col("refusal").isNull())).select(
        "doc_id",
        "img_no",
        "img_mime",
        "width",
        "height",
        F.lit(None).cast("string").alias("refusal"),
        F.size("pixels").alias("n_values"),
        F.expr(
            "aggregate(pixels, cast(0 as long), (acc, x) -> acc + x)"
        ).alias("px_sum"),
        F.expr(
            "aggregate(pixels, struct(cast(0 as long) as s, cast(0 as long) as i),"
            " (acc, x) -> struct(acc.s + (acc.i + 1) * x, acc.i + 1), acc -> acc.s)"
        ).alias("px_weighted"),
    )
    refused = ex.filter(F.col("refusal").isNotNull()).select(
        "doc_id",
        "img_no",
        "img_mime",
        "width",
        "height",
        "refusal",
        F.lit(None).cast("int").alias("n_values"),
        F.lit(None).cast("long").alias("px_sum"),
        F.lit(None).cast("long").alias("px_weighted"),
    )
    return dec.unionByName(refused)


def crawl_coverage_check(spark, sf):
    """Crawl-ingest coverage telemetry (functions/warc.py:
    crawl_coverage — r12 verdict #7, the front-end mirror of
    decode_coverage): synth_warc_hostile cycles every ingest refusal
    reason by doc_id % 9 (clean / undecodable 'compress' coding —
    re-pointed r15 / corrupt chunking / colon-less HTTP header /
    unknown declared charset / mis-declared charset / colon-less WARC
    header over a CLEAN response — the r13 ADVICE leg that must count
    ok, not http-refused / VALID brotli body — r14 / VALID zstd body —
    r15 verdict #2), the
    engine runs the REAL WARC framing + per-record-
    isolated HTTP unwrap + strict charset decode, and the rollup
    counts (stage, status, reason). The oracle replays the rollup
    closed-form over the residues. Map-only ingest pass + ONE bounded
    partial-agg'd shuffle (≤ |reason codes| rows)."""
    from nekton_spark.functions.warc import crawl_coverage, synth_warc_hostile

    d = _t(spark, sf, "documents").select("doc_id", "text")
    return crawl_coverage(synth_warc_hostile(d).drop("doc_id", "text"))


def html_meta_check(spark, sf):
    """Page-level curation metadata (html.html_meta, r12): title,
    <html lang>, canonical link, robots noindex/nofollow — the page's
    own declarations a compliant pipeline honors. Synth cycles lang
    (key%3) and robots content (key%4, incl. the combined directive);
    the oracle replays each field closed-form."""
    from nekton_spark.functions.html import html_meta, synth_html_meta

    d = _t(spark, sf, "documents").select("doc_id")
    out = html_meta(synth_html_meta(d))
    return out.select(
        "doc_id", "title", "lang", "canonical", "noindex", "nofollow"
    )


def webdataset_extract_row(spark, sf):
    """WebDataset tar-shard extraction (functions/webdataset.py, r12):
    each document becomes a genuine ustar shard (gzip on odd keys)
    carrying 2 + key%2 samples of two members each (.txt caption,
    .cls byte label); webdataset_samples groups members under the
    first-dot key INSIDE the shard pass — no shuffle. The oracle
    replays sample keys, member counts, captions and labels."""
    from nekton_spark.functions.webdataset import (
        synth_wds_media,
        webdataset_samples,
    )

    d = _t(spark, sf, "documents").select("doc_id", "text")
    out = webdataset_samples(synth_wds_media(d).drop("text"), "shard")
    return out.select(
        "doc_id",
        "sample_key",
        "n_members",
        F.element_at("exts", "txt").cast("string").alias("caption"),
        F.expr("cast(conv(hex(element_at(exts, 'cls')), 16, 10) as int)").alias(
            "cls"
        ),
    )


def exif_scrub_check(spark, sf):
    """EXIF extraction + privacy scrub (functions/exif.py, r12):
    camera-style JPEGs with APP1 Exif (byte order cycles II/MM by
    key%2, GPS sub-IFD on key%3==0 at quarter/half-degree coordinates
    — exact in the DMS rationals). The row extracts the metadata,
    SCRUBS it, and re-decodes: px_sum must still equal the baseline
    closed form (strip never touches entropy data), scrubbed_bytes is
    exactly the APP1 size (68 plain / 182 with GPS)."""
    from nekton_spark.functions.exif import (
        media_exif,
        scrub_media_metadata,
        synth_jpeg_exif_media,
    )

    d = _t(spark, sf, "documents").select("doc_id")
    withmeta = media_exif(synth_jpeg_exif_media(d))
    scrubbed = scrub_media_metadata(withmeta)
    dec = decode_image(scrubbed)
    return dec.select(
        "doc_id",
        "orientation",
        "exif_datetime",
        "has_gps",
        "gps_lat",
        "gps_lon",
        "scrubbed_bytes",
        F.expr(
            "aggregate(pixels, cast(0 as long), (acc, x) -> acc + x)"
        ).alias("px_sum"),
    )


def robots_check(spark, sf):
    """robots.txt evaluation (functions/robots.py, RFC 9309): the
    synth body exercises group selection (specific token vs the '*'
    fallback), wildcard + end-anchor path rules, the longest-rule
    precedence and the Allow tiebreak. Two agents evaluated per path;
    every verdict is a closed-form CASE on doc_id % 6."""
    from nekton_spark.functions.robots import robots_filter, synth_robots

    d = _t(spark, sf, "documents").select("doc_id")
    out = robots_filter(
        robots_filter(
            synth_robots(d), agent="randombot", out_col="allowed_any"
        ),
        agent="TrainBot/1.0",
        out_col="allowed_trainbot",
    )
    return out.select("doc_id", "path", "allowed_any", "allowed_trainbot")


def charset_decode_check(spark, sf):
    """Real-crawl charset handling (warc.decode_body_text, r12 —
    WHATWG-abridged sniffing: BOM → HTTP header → <meta charset>,
    declared charsets decode strict, undeclared falls back UTF-8 →
    latin-1): legs cycle key%4 through BOM'd UTF-8 (+ the arbitrary-
    unicode document text), header latin-1, meta windows-1251, and
    bare ASCII. The oracle rebuilds each decoded string as a SQL
    unicode literal."""
    from nekton_spark.functions.warc import decode_body_text, synth_charset_bodies

    d = _t(spark, sf, "documents").select("doc_id", "text")
    out = decode_body_text(synth_charset_bodies(d))
    return out.select("doc_id", "charset", "html")


def wav_g711_features(spark, sf):
    """G.711 telephony WAV decode (functions/multimodal.py r12: µ-law
    even keys / A-law odd keys, A-law under WAVE_FORMAT_EXTENSIBLE).
    The payload carries closed-form codewords b_i = (key*31+i*17)%256;
    the engine expands them through the from-spec segment tables to
    16-bit-aligned integer linears, and the oracle replays the same
    ITU-T G.711 decode formulas in SQL — sign/segment/mantissa bit
    ops — so the rms matches exactly."""
    from nekton_spark.functions.multimodal import synth_wav_g711_media

    d = _t(spark, sf, "documents").select("doc_id")
    dec = decode_audio(synth_wav_g711_media(d))
    return dec.select(
        "doc_id",
        "fmt",
        "sample_rate",
        "n_samples",
        F.round("rms", 6).alias("rms"),
    )


def html_extract_row(spark, sf):
    """HTML → text extraction (functions/html.py, r12): each document
    is wrapped in a deterministic page (title + script/style that must
    vanish, an entity-bearing h1, the text entity-escaped inside <p>,
    a link-only nav div, a comment) by synth_html, then extracted by
    the stdlib-state-machine block parser — one Arrow-batched map, no
    shuffle. The oracle reconstructs the expected block lines, counts
    and link density closed-form from the raw text (ws-collapse is the
    only transformation the page round trip leaves behind)."""
    from nekton_spark.functions.html import html_extract, synth_html

    d = _t(spark, sf, "documents").select("doc_id", "text")
    out = html_extract(synth_html(d))
    return out.select(
        "doc_id",
        F.col("text").alias("extracted"),
        "n_blocks",
        "text_chars",
        "link_chars",
        "link_density",
    )


def html_main_text_row(spark, sf):
    """Boilerplate-aware main-text selection (functions/html.py
    html_main_text, jusText-lite): on the same synthetic page, the
    link-only nav block (link density 10/11 > 0.5) and the 1-char
    title block (< min_block_chars=2) are dropped; the h1 and the
    document paragraph survive. The keep/drop rule is two explicit
    thresholds, so the oracle replays the decision exactly."""
    from nekton_spark.functions.html import html_main_text, synth_html

    d = _t(spark, sf, "documents").select("doc_id", "text")
    out = html_main_text(synth_html(d))
    return out.select("doc_id", "main_text", "n_kept", "n_dropped")


def tfidf_top_terms_check(spark, sf):
    """Per-document top-3 TF-IDF terms (text_analysis.tfidf_top_terms):
    add-one-smoothed idf = ln((N+1)/(df+1)), deterministic ties. All
    codegen — explode + two partial-aggregated shuffles + a per-doc
    rank window; N enters via a broadcast 1-row aggregate, not a
    driver action."""
    from nekton_spark.functions.text_analysis import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf, "documents"), k=3)


def dataset_drift_check(spark, sf):
    """Numeric snapshot drift (validation.drift_report): old = even
    doc_ids, new = odd — PSI over 10 equal-width n_chars bins anchored
    on the old snapshot's [min, max], Laplace-smoothed, plus
    count/null/min/max per side. Two single-aggregate passes + a
    1-row×1-row join; the oracle replays edges, bin counts, and the
    left-associated PSI chain."""
    from nekton_spark.functions.validation import drift_report

    d = _t(spark, sf, "documents")
    old = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1)
    return drift_report(old, new, ["n_chars"])


def category_drift_check(spark, sf):
    """Categorical drift (validation.category_drift) on lang between
    the even/odd snapshots: exact per-value counts + shares, full
    outer so appearing/vanishing categories surface as zeros."""
    from nekton_spark.functions.validation import category_drift

    d = _t(spark, sf, "documents")
    return category_drift(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
        "lang",
    )


def mixture_sample_check(spark, sf):
    """Token-proportional source mixing (sampling.mixture_sample, the
    DoReMi-style data-mixing prep): per-source rates =
    min(1, budget·target/tokens) from one tiny partial-agg'd total,
    broadcast back, membership content-addressed (hash60 bucket).
    src0's target exceeds its corpus → rate caps at 1 (taken whole,
    never re-normalized silently). The oracle replays the token
    totals, the one-multiply-one-divide rate, and the bucket
    membership bit-for-bit."""
    from nekton_spark.functions.sampling import mixture_sample

    d = _t(spark, sf, "documents")
    out = mixture_sample(
        d, {"src0": 0.7, "src1": 0.2, "src2": 0.1}, budget_tokens=3000
    )
    return out.select("doc_id", "source")


def weighted_sample_docs(spark, sf):
    """Weighted sampling without replacement (sampling.weighted_sample):
    Efraimidis–Spirakis exponential keys -ln(u)/w with content-addressed
    u = (hash60(doc_id)+1)/2^60, weights = n_chars. Map +
    TakeOrderedAndProject — per-partition partial top-k, no global
    sort; the oracle replays membership exactly."""
    from nekton_spark.functions.sampling import weighted_sample

    d = _t(spark, sf, "documents").select("doc_id", "lang", "source", "n_chars")
    return weighted_sample(d, key_col="doc_id", weight_col="n_chars", k=50)


def chunk_documents_check(spark, sf):
    """RAG sliding-window chunking (text_analysis.chunk_documents):
    32-token windows, 8-token overlap (stride 24), shorter tail kept,
    empty docs yield nothing. Map-only — zero shuffles; every chunk
    boundary is integer arithmetic the oracle replays."""
    from nekton_spark.functions.text_analysis import chunk_documents

    return chunk_documents(
        _t(spark, sf, "documents"), chunk_tokens=32, overlap=8
    )


def unigram_logprob_check(spark, sf):
    """Per-doc mean unigram log-likelihood under the corpus's own
    unigram distribution (text_analysis.unigram_logprob) — the cheap
    LM-quality proxy. Two partial-aggregated shuffles + a broadcast
    1-row total; no driver action."""
    from nekton_spark.functions.text_analysis import unigram_logprob

    return unigram_logprob(_t(spark, sf, "documents"))


def bloom_decontamination(spark, sf):
    """Bloom-gated contamination flags (decontaminate.bloom_contaminated_ids):
    the SCALE path of decontamination — the broadcast side is the
    filter's set-bit relation (≤ m_bits int rows, bounded by
    construction whatever the eval size), not eval shingle strings.
    Membership = all k hash60 probes land on set bits; fully codegen
    (explode + broadcast join + two partial aggregations), replayed
    bit-for-bit by the oracle. Same eval split as
    decontamination_check (every 97th doc), 4-grams, m=2^16, k=4."""
    from nekton_spark.functions.decontaminate import bloom_contaminated_ids

    d = _t(spark, sf, "documents")
    ev = d.filter(F.col("doc_id") % 97 == 0)
    tr = d.filter(F.col("doc_id") % 97 != 0)
    return bloom_contaminated_ids(tr, ev, n=4, m_bits=None, k_hashes=4)


def quota_sample_sources(spark, sf):
    """Per-group quota cap (sampling.quota_sample): at most 3 docs per
    source, longest-first with deterministic ties — the per-source
    share bound every curation pipeline needs. One shuffle on the
    group key; rank-window state is one counter per group."""
    from nekton_spark.functions.sampling import quota_sample

    d = _t(spark, sf, "documents").select("doc_id", "source", "n_chars")
    return quota_sample(d, group_cols=["source"], k=3, order_col="n_chars", key_col="doc_id")


def bm25_search(spark, sf):
    """Okapi BM25 top-5 retrieval (text_analysis.bm25_topk): Lucene
    idf, k1=1.2 b=0.75, query workload = every 83rd doc's first five
    tokens. Doc statistics are the two TF-IDF shuffles; N/avgdl enter
    as a broadcast 1-row aggregate; the query-term match is a
    broadcast join; per-query top-k is a rank window, never a global
    sort."""
    from nekton_spark.functions.text_analysis import bm25_topk, tokenize

    d = _t(spark, sf, "documents")
    # FIXED-SIZE query workload (~500 queries at any sf >= 1): a
    # workload coupled to corpus size made the sf10 rehearsal look
    # quadratic (10x queries x 10x postings = 14x/decade) when the
    # operator itself is workload-linear; the id cap decouples them
    # without changing the sf0.01 oracle rows (all ids < 42000 there)
    q = d.filter((F.col("doc_id") % 83 == 0) & (F.col("doc_id") < 42000)).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(tokenize(F.col("text")), 1, 5)).alias("query_text"),
    )
    return bm25_topk(d, q, k=5)


def hybrid_search_rrf(spark, sf):
    """Hybrid lexical+vector retrieval via Reciprocal Rank Fusion
    (text_analysis.rrf_fuse — Cormack et al. 2009): the bm25_search
    workload's text leg (BM25 top-10) fused with the same query ids'
    embedding leg (exact-cosine top-10 over the embeddings table,
    vec_id ≡ doc_id in the testdata) by rrf = Σ 1/(60 + rank); final
    top-5 per query, ties → smaller doc. Every frame past the legs is
    |queries|·k rows — the fusion is workload-scale by construction.
    Oracle composes the bm25 and brute-force CTE families with the
    same fixed-order reciprocal arithmetic."""
    from nekton_spark.functions.similarity import brute_force_topk
    from nekton_spark.functions.text_analysis import (
        bm25_topk,
        rrf_fuse,
        tokenize,
    )

    d = _t(spark, sf, "documents")
    qt = d.filter((F.col("doc_id") % 83 == 0) & (F.col("doc_id") < 42000)).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(tokenize(F.col("text")), 1, 5)).alias("query_text"),
    )
    text_leg = bm25_topk(d, qt, k=10)
    emb = _t(spark, sf, "embeddings")
    qv = emb.filter((F.col("vec_id") % 83 == 0) & (F.col("vec_id") < 42000))
    vec_leg = brute_force_topk(emb, qv, k=10).select(
        "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return rrf_fuse(text_leg, vec_leg, k=5)


def bigram_logprob_check(spark, sf):
    """Per-doc mean bigram log-likelihood under the corpus's own
    add-one-smoothed bigram model (text_analysis.bigram_logprob) —
    catches shuffled-token gibberish that unigram_logprob scores as
    normal. Bigrams zip the token array with its own tail (map-only,
    no self-join); three partial-aggregated shuffles + broadcast
    vocabulary size."""
    from nekton_spark.functions.text_analysis import bigram_logprob

    return bigram_logprob(_t(spark, sf, "documents"))


def bpe_merge_candidates_check(spark, sf):
    """First-round BPE merge candidates
    (text_analysis.bpe_merge_candidates): top-50 adjacent character
    pairs over all word occurrences — two map-side explodes, one
    partial-agg'd count on the (tiny) pair alphabet,
    TakeOrderedAndProject cap."""
    from nekton_spark.functions.text_analysis import bpe_merge_candidates

    return bpe_merge_candidates(_t(spark, sf, "documents"), k=50)


def bpe_encode_docs(spark, sf):
    """Trained-BPE encode (functions/bpe.py — r9 verdict #3, the
    missing half of the tokenizer story next to bpe_merge_candidates):
    apply the frozen STD_MERGES table (trained by train_bpe on the
    sf0.001 corpus, chained rules up to 6 chars deep) producing each
    doc's token id sequence. Greedy textbook BPE — lowest-rank merge
    first, leftmost occurrence, one merge at a time — which the
    oracle replays literally with a recursive CTE (one iteration per
    single merge) over the DISTINCT-word relation. Plan: posexplode
    words → vocabulary-bounded distinct → ONE Arrow pass encoding
    each distinct word once → join back (AQE broadcast) → ordered
    flatten per doc. Output (doc_id, n_bpe, ids_csv) — the id
    sequence as CSV text so the hash compare is schema-stable."""
    from nekton_spark.functions.bpe import STD_MERGES, bpe_encode

    return bpe_encode(_t(spark, sf, "documents"), STD_MERGES).select(
        "doc_id",
        "n_bpe",
        F.array_join("bpe_ids", ",").alias("ids_csv"),
    )


def bpe_roundtrip(spark, sf):
    """Tokenizer round-trip (functions/bpe.bpe_decode): encode under
    the frozen STD_MERGES vocab, decode through the inverted vocab,
    and compare the concatenated token stream against the document's
    whitespace-stripped word stream — the decode contract (the
    tokenizer has no word-start glyph, so inter-word whitespace is
    not reconstructed; the CHARACTER stream is, exactly). The oracle
    replays n_bpe with the recursive-CTE encode and pins
    roundtrip_ok=true: the closed-form-expectation pattern
    (audio_features) — the ENGINE computes the comparison for real,
    so any decode defect hash-mismatches against the pinned truth,
    and any encode drift mismatches n_bpe."""
    from nekton_spark.functions.bpe import (
        STD_MERGES,
        bpe_decode,
        bpe_encode,
        build_vocab,
    )
    from nekton_spark.functions.text_analysis import tokenize

    d = _t(spark, sf, "documents")
    vocab = build_vocab(d, STD_MERGES)
    dec = bpe_decode(bpe_encode(d, STD_MERGES, vocab=vocab), vocab)
    exp = d.select(
        "doc_id",
        F.concat_ws(
            "", F.filter(tokenize(F.col("text")), lambda w: F.length(w) > 0)
        ).alias("stream"),
    )
    return dec.join(exp, "doc_id").select(
        "doc_id",
        "n_bpe",
        (F.concat_ws("", F.col("tokens")) == F.col("stream")).alias("roundtrip_ok"),
    )


def curriculum_buckets_check(spark, sf):
    """Quality-curriculum ntile assignment
    (text_analysis.curriculum_buckets): composite quality score,
    best-first deterministic order, 4 ntile buckets — a 16-byte-per-doc
    range sort, single-pass window."""
    from nekton_spark.functions.text_analysis import curriculum_buckets

    return curriculum_buckets(_t(spark, sf, "documents"), n_buckets=4)


def classifier_trained_check(spark, sf):
    """Trained-weights classifier serving
    (text_analysis.classifier_score, weights mode): the weight table is
    a deterministic stand-in vocabulary — distinct tokens of every 10th
    doc, integer milli-weights from hash60(token, 4200) — exercising
    the REAL serving plan: explode → broadcast join on the vocabulary →
    doc-keyed partial-agg'd count/sum → anti-join restore of token-less
    docs. Unseen tokens weigh 0 (coalesce, not NULL-poison)."""
    from nekton_spark.functions.hashing import hash60
    from nekton_spark.functions.text_analysis import classifier_score, tokenize

    d = _t(spark, sf, "documents")
    w = (
        d.filter(F.col("doc_id") % 10 == 0)
        .select(F.explode(tokenize(F.col("text"))).alias("token"))
        .filter(F.length("token") > 0)
        .distinct()
        .select(
            "token",
            (hash60(F.col("token"), 4200) % 2001 - 1000)
            .cast("int")
            .alias("weight_milli"),
        )
    )
    return classifier_score(d, weights=w)


def token_length_histogram_check(spark, sf):
    """Dataset-card token-length histogram
    (text_analysis.token_length_histogram): one map-side token count,
    one tiny bin-keyed partial-agg'd shuffle, corpus total via a
    broadcast 1-row aggregate; frac is one exact long/long division
    (engine-stable without rounding)."""
    from nekton_spark.functions.text_analysis import token_length_histogram

    return token_length_histogram(_t(spark, sf, "documents"), bin_width=50)


def fuzzy_decontamination_check(spark, sf):
    """Near-duplicate train/eval contamination
    (decontaminate.fuzzy_contamination_pairs): eval = every 97th doc;
    the train side is the rest PLUS paraphrased eval copies (first two
    tokens dropped, re-keyed +500000) — lightly-reworded leakage the
    exact n-gram rule can miss. Banded MinHash across the two frames:
    eval bands broadcast (no corpus shuffle), exact Jaccard verify on
    candidates only."""
    from nekton_spark.functions.decontaminate import fuzzy_contamination_pairs
    from nekton_spark.functions.text_analysis import tokenize

    d = _t(spark, sf, "documents")
    toks = tokenize(F.col("text"))
    ev = d.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    para = d.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        # length clamped to >= 0: a 1-token doc would make size-2
        # negative and slice() throws INVALID_PARAMETER_VALUE.LENGTH on
        # Spark 4, while the oracle's toks[3:len] yields [] gracefully
        F.concat_ws(
            " ", F.slice(toks, 3, F.greatest(F.size(toks) - 2, F.lit(0)))
        ).alias("text"),
    )
    tr = d.filter(F.col("doc_id") % 97 != 0).select("doc_id", "text").unionByName(para)
    return fuzzy_contamination_pairs(tr, ev, threshold=0.5)


def boilerplate_removal_check(spark, sf):
    """Line-level boilerplate removal
    (text_analysis.remove_boilerplate_lines): the synthetic corpus has
    no newlines, so lines are synthesized as non-overlapping 5-token
    windows (the oracle builds the identical view); lines whose
    normalized form appears in >= 3 distinct docs are stripped. One
    content-keyed mining shuffle + broadcast flagged set + map-only
    rewrite preserving line order; cleaned text compared by md5."""
    from nekton_spark.functions.text_analysis import (
        remove_boilerplate_lines,
        tokenize,
    )

    d = _t(spark, sf, "documents")
    toks = tokenize(F.col("text"))
    nl = F.ceil(F.size(toks) / F.lit(5)).cast("int")
    # nl > 0 guard: F.sequence(0, -1) yields the DESCENDING [0, -1] on
    # a zero-token doc (two bogus empty lines) where the oracle's
    # range(0, 0) yields none — inert on sf corpora (min text len 48)
    # but fuzz feeds hostile whitespace-only docs (r10 ADVICE;
    # chunk_documents documents the same pitfall)
    ls = F.when(
        nl > 0,
        F.transform(
            F.sequence(F.lit(0), nl - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i * 5 + 1, 5)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    lined = d.select("doc_id", F.array_join(ls, "\n").alias("text"))
    out = remove_boilerplate_lines(lined, min_docs=3)
    return out.select(
        "doc_id", "n_lines", "n_removed", F.md5("text").alias("clean_fp")
    )


def line_dedup_firstkeep(spark, sf):
    """Corpus-wide exact line dedup, KEEP-FIRST rule
    (text_analysis.dedup_lines_keep_first — C4 §2.2 / RefinedWeb): of
    all occurrences of a duplicated 5-token line anywhere in the
    corpus, exactly the lexicographic-min (doc_id, pos) occurrence
    survives; blank lines are structural and exempt. Same synthetic
    lined view as boilerplate_removal. ONE content-keyed partial
    aggregate mines (key, first); the duplicated set rides back as a
    broadcast hash join; one doc-keyed regroup restores order."""
    from nekton_spark.functions.text_analysis import (
        dedup_lines_keep_first,
        tokenize,
    )

    d = _t(spark, sf, "documents")
    toks = tokenize(F.col("text"))
    nl = F.ceil(F.size(toks) / F.lit(5)).cast("int")
    # nl > 0 guard — see boilerplate_removal_check (r10 ADVICE item)
    ls = F.when(
        nl > 0,
        F.transform(
            F.sequence(F.lit(0), nl - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i * 5 + 1, 5)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    lined = d.select("doc_id", F.array_join(ls, "\n").alias("text"))
    out = dedup_lines_keep_first(lined, min_count=2)
    return out.select(
        "doc_id", "n_lines", "n_removed", F.md5("text").alias("clean_fp")
    )


def classifier_score_check(spark, sf):
    """Linear quality-classifier serving path
    (text_analysis.classifier_score, placeholder hash weights):
    integer milli-weight sum per doc (long arithmetic — no float
    accumulation order), one division at the end. Map-only codegen,
    zero shuffles."""
    from nekton_spark.functions.text_analysis import classifier_score

    return classifier_score(_t(spark, sf, "documents"))


# ---------------------------------------------------------------- registry


# Queries whose engine code changed in the latest change set, each with
# the reason. They lead the driver's correctness window; a change that
# touches an engine path replaces this list with its own rows. At most
# 9 rows, so the 41 stalest rows still fit the 50-row window; sibling
# rows that run the same code under other parameters (ann_topk_lsh_mp,
# ann_topk_ivf_kmeans, ann_topk_ivfpq_residual_k) are left to rotation.
PRIORITY = [
    "doc_repetition",  # dup_ngram_fraction is a codegen expression, not a pandas UDF
    "corpus_quality_gate",  # its dup3_ok rule calls the same dup_ngram_fraction expression
]


def correctness_window(
    names: list[str],
    last_checked: dict[str, int],
    priority: list[str],
    size: int = 50,
) -> list[str]:
    """The driver's correctness window: ``priority`` in order, then the
    remaining slots stalest-first by the round of each name's latest
    oracle evidence (never checked counts as round 0), ties by name."""
    rest = sorted(
        (n for n in names if n not in priority),
        key=lambda n: (last_checked.get(n, 0), n),
    )
    return list(priority) + rest[: size - len(priority)]


def last_checked_rounds(upto: int | None = None) -> dict[str, int]:
    """Query name → the highest round N whose committed
    ``CORRECTNESS_rNN.json`` holds a result for it (rounds ≤ ``upto``)."""
    import json
    import re

    last: dict[str, int] = {}
    for fname in _os.listdir(_repo):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if m is None or (upto is not None and int(m[1]) > upto):
            continue
        with open(_os.path.join(_repo, fname)) as fh:
            for name in json.load(fh):
                last[name] = max(last.get(name, 0), int(m[1]))
    return last


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # iteration order IS the driver's 50-row correctness window
    q = {
        "ann_index_roundtrip": ann_index_roundtrip,
        "ann_topk_bruteforce": ann_topk_bruteforce,
        "ann_topk_ivf": ann_topk_ivf,
        "ann_topk_ivf_kmeans": ann_topk_ivf_kmeans,
        "ann_topk_ivfpq": ann_topk_ivfpq,
        "ann_topk_ivfpq_residual": ann_topk_ivfpq_residual,
        "ann_topk_ivfpq_residual_k": ann_topk_ivfpq_residual_k,
        "ann_topk_lsh": ann_topk_lsh,
        "ann_topk_lsh_mp": ann_topk_lsh_mp,
        "ann_topk_pq": ann_topk_pq,
        "ann_topk_pq_rerank": ann_topk_pq_rerank,
        "approx_distinct_check": approx_distinct_check,
        "approx_quantile_check": approx_quantile_check,
        "audio_features": audio_features,
        "bigram_logprob": bigram_logprob_check,
        "bloom_decontamination": bloom_decontamination,
        "bm25_search": bm25_search,
        "bmp_decode": bmp_decode_check,
        "boilerplate_removal": boilerplate_removal_check,
        "bpe_encode_docs": bpe_encode_docs,
        "bpe_merge_candidates": bpe_merge_candidates_check,
        "bpe_roundtrip": bpe_roundtrip,
        "category_drift": category_drift_check,
        "charset_decode": charset_decode_check,
        "chunk_documents": chunk_documents_check,
        "classifier_score_docs": classifier_score_check,
        "classifier_trained": classifier_trained_check,
        "common_passages": common_passages_check,
        "compression_quality": compression_quality,
        "conditional_aggregation": conditional_aggregation,
        "corpus_quality_gate": corpus_quality_gate,
        "crawl_coverage": crawl_coverage_check,
        "curriculum_buckets": curriculum_buckets_check,
        "customers_without_orders": customers_without_orders,
        "data_validation_report": data_validation_report,
        "dataset_drift": dataset_drift_check,
        "date_arithmetic": date_arithmetic,
        "decode_coverage": decode_coverage_check,
        "decontamination_check": decontamination_check,
        "dedup_connected_components": dedup_connected_components,
        "dedup_exact": dedup_exact,
        "dedup_incremental": dedup_incremental,
        "dedup_keep_best": dedup_keep_best,
        "dedup_minhash_cjk": dedup_minhash_cjk,
        "dedup_minhash_lsh": dedup_minhash_lsh,
        "dedup_minhash_xxh": dedup_minhash_xxh,
        "dedup_ngram_dfcut": dedup_ngram_dfcut,
        "dedup_ngram_jaccard": dedup_ngram_jaccard,
        "dedup_ngram_sampled": dedup_ngram_sampled,
        "dedup_simhash": dedup_simhash,
        "dedup_simhash_hamming": dedup_simhash_hamming,
        "dedup_winnow": dedup_winnow_check,
        "distinct_customers_per_segment": distinct_customers_per_segment,
        "distinct_kmv": distinct_kmv,
        "doc_repetition": doc_repetition,
        "document_extract": document_extract_check,
        "docx_extract": docx_extract_check,
        "domain_quota_sample": domain_quota_sample_check,
        "domain_rollup_urls": domain_rollup_urls,
        "dsir_select": dsir_select,
        "embedding_near_dup": embedding_near_dup,
        "embedding_outliers": embedding_outliers_check,
        "embedding_pca": embedding_pca_check,
        "embedding_quant_dedup": embedding_quant_dedup,
        "events_asof_join": events_asof_join,
        "events_interval_join": events_interval_join,
        "events_json_extract": events_json_extract,
        "events_lead_lag": events_lead_lag,
        "events_sessionization": events_sessionization,
        "events_sliding_window": events_sliding_window,
        "events_tier_rollup": events_tier_rollup,
        "events_topk_users": events_topk_users,
        "events_tumbling_window": events_tumbling_window,
        "exif_scrub": exif_scrub_check,
        "exists_subquery": exists_subquery,
        "feed_extract": feed_extract_check,
        "fuzzy_decontamination": fuzzy_decontamination_check,
        "gif_decode": gif_decode_check,
        "gif_frame_sample": gif_frame_sample_check,
        "gopher_quality_rules": gopher_quality_rules,
        "grouping_sets_orders": grouping_sets_orders,
        "heavy_hitters_cms": heavy_hitters_cms,
        "hilbert_key_check": hilbert_key_check,
        "html_extract": html_extract_row,
        "html_jsonld": html_jsonld_check,
        "html_main_text": html_main_text_row,
        "html_markdown": html_markdown_check,
        "html_meta": html_meta_check,
        "hybrid_search_rrf": hybrid_search_rrf,
        "image_auto_orient": image_auto_orient_check,
        "image_decode": image_decode,
        "image_dhash": image_dhash_check,
        "image_near_dup": image_near_dup_check,
        "image_resize": image_resize,
        "jpeg_420_decode": jpeg_420_decode_check,
        "jpeg_color_decode": jpeg_color_decode_check,
        "jpeg_decode": jpeg_decode_check,
        "jpeg_progressive_decode": jpeg_progressive_decode_check,
        "kmeans_clusters": kmeans_clusters,
        "kmeans_tiered": kmeans_tiered,
        "lang_id_trained": lang_id_trained,
        "latest_event_per_user": latest_event_per_user,
        "line_dedup_firstkeep": line_dedup_firstkeep,
        "min_max_by_nation": min_max_by_nation,
        "minhash_xxh_pairset": minhash_xxh_pairset,
        "mixture_sample": mixture_sample_check,
        "mmr_diverse_topk": mmr_diverse_topk,
        "multimodal_decode": multimodal_decode,
        "multimodal_features": multimodal_features,
        "neardup_estimate": neardup_estimate,
        "neardup_time_horizon": neardup_time_horizon,
        "normalize_text": normalize_text_check,
        "null_semantics": null_semantics,
        "pack_sequences_check": pack_sequences_check,
        "pdf_extract": pdf_extract_check,
        "pdf_images": pdf_images_check,
        "percentiles_by_segment": percentiles_by_segment,
        "pii_redaction": pii_redaction,
        "pipe_regex_replace": pipe_regex_replace,
        "pipe_regex_select": pipe_regex_select,
        "pipe_regex_split": pipe_regex_split,
        "pipe_replace": pipe_replace,
        "pipe_subprocess": pipe_subprocess,
        "pipeline_chain": pipeline_chain,
        "pivot_order_status": pivot_order_status,
        "png_color_decode": png_color_decode,
        "png_palette_decode": png_palette_decode_check,
        "q01_pricing_summary": q01_pricing_summary,
        "q02_min_cost_part": q02_min_cost_part,
        "q03_shipping_priority": q03_shipping_priority,
        "q04_order_priority": q04_order_priority,
        "q05_region_revenue": q05_region_revenue,
        "q06_forecast_revenue": q06_forecast_revenue,
        "q07_volume_shipping": q07_volume_shipping,
        "q08_market_share": q08_market_share,
        "q09_product_profit": q09_product_profit,
        "q10_returned_items": q10_returned_items,
        "q11_important_suppliers": q11_important_suppliers,
        "q12_late_shipments": q12_late_shipments,
        "q13_customer_distribution": q13_customer_distribution,
        "q14_promo_revenue": q14_promo_revenue,
        "q15_top_supplier": q15_top_supplier,
        "q16_part_supplier_counts": q16_part_supplier_counts,
        "q17_small_quantity_revenue": q17_small_quantity_revenue,
        "q18_large_orders": q18_large_orders,
        "q19_discounted_revenue": q19_discounted_revenue,
        "q20_excess_suppliers": q20_excess_suppliers,
        "q21_waiting_orders": q21_waiting_orders,
        "q22_idle_customers": q22_idle_customers,
        "quota_sample_sources": quota_sample_sources,
        "range_join_value_bands": range_join_value_bands,
        "repeated_span_removal": repeated_span_removal_check,
        "robots_eval": robots_check,
        "rollup_orders": rollup_orders,
        "running_revenue_window": running_revenue_window,
        "sample_hash_10pct": sample_hash_10pct,
        "scalar_functions": scalar_functions,
        "scalar_subquery_above_avg": scalar_subquery_above_avg,
        "semdedup_prune": semdedup_prune,
        "sentence_split": sentence_split_check,
        "set_ops_customers": set_ops_customers,
        "sitemap_extract": sitemap_extract_check,
        "source_quality_rollup": source_quality_rollup,
        "stratified_sample": stratified_sample,
        "string_functions": string_functions,
        "text_quality": text_quality,
        "text_stats": text_stats,
        "tfidf_top_terms": tfidf_top_terms_check,
        "tiff_decode": tiff_decode_check,
        "token_length_histogram": token_length_histogram_check,
        "topk_customers_per_nation": topk_customers_per_nation,
        "train_val_test_split": train_val_test_split,
        "unigram_logprob": unigram_logprob_check,
        "unpivot_lineitem_metrics": unpivot_lineitem_metrics,
        "url_normalize_check": url_normalize_check,
        "video_frame_sample": video_frame_sample_check,
        "vocab_coverage": vocab_coverage,
        "vocab_top_tokens": vocab_top_tokens,
        "warc_extract": warc_extract_row,
        "wav_envelope_features": wav_envelope_features,
        "wav_g711_features": wav_g711_features,
        "webdataset_extract": webdataset_extract_row,
        "webp_decode": webp_decode_check,
        "webp_frame_sample": webp_frame_sample_check,
        "weighted_sample_docs": weighted_sample_docs,
        "zorder_key_check": zorder_key_check,
        "zorder_key_n": zorder_key_n,
    }
    window = correctness_window(list(q), last_checked_rounds(), PRIORITY)
    assert len(window) == 50, len(window)
    assert set(window) <= set(q), sorted(set(window) - set(q))
    return {k: q[k] for k in window} | q


# -------------------------------------------------------------- oracle SQL

_H = hash60_sql  # (expr, seed) -> DuckDB fragment

# coalesce: the engine-wide NULL-text contract (NULL = empty document)
_TOKS = r"regexp_split_to_array(trim(coalesce(text, '')), '\s+')"
_TOKS_LOWER = r"regexp_split_to_array(trim(lower(coalesce(text, ''))), '\s+')"


def _toks_script_sql() -> str:
    """Script-aware token fragment (r14): the spaceless-script spread
    (text_analysis.script_spread_sql — the SAME explicit-range class
    string the JVM kernel compiles) runs before the \\s+ split, so
    CJK/Thai runs tokenize per character in the oracle exactly as in
    the engine."""
    from nekton_spark.functions.text_analysis import script_spread_sql

    return (
        "regexp_split_to_array(trim("
        + script_spread_sql("coalesce(text, '')")
        + r"), '\s+')"
    )


# DuckDB replay of dedup.synth_cjk_docs: clique-of-4 Han base + member
# tail + first-12-codepoint slice of the original text (chr(19968 + i)
# == the engine's contiguous _CJK_ALPHABET lookup)
def _cjk_docs_source() -> str:
    """DuckDB replay of dedup.synth_cjk_docs: every character is
    hash60('cjkb:q:i' / 'cjkt:q:m:i') % 500 into the contiguous Han
    block (chr(19968 + idx) == the engine's _CJK_ALPHABET lookup) —
    no residue structure, so planted cliques are the only near-dups
    at any corpus size. r15 (verdict #8): cliques with qv % 3 = 0
    splice the hash-derived Latin token 'x' || hash60('cjkl:qv')%1000
    into the middle of the Han base — mixed Latin+Han in one doc, no
    spaces — pinning the spread kernel's boundary behavior."""
    from nekton_spark.functions.hashing import hash60_sql

    b = hash60_sql("'cjkb:' || qv || ':' || i", "0")
    t = hash60_sql("'cjkt:' || qv || ':' || mm || ':' || i", "0")
    lat = hash60_sql("'cjkl:' || qv", "0")
    return f"""(
  SELECT doc_id,
         array_to_string(list_transform(range(0, 15),
           i -> chr(19968 + ({b} % 500)::INT)), '')
      || CASE WHEN qv % 3 = 0
              THEN 'x' || ({lat} % 1000)::VARCHAR ELSE '' END
      || array_to_string(list_transform(range(15, 30),
           i -> chr(19968 + ({b} % 500)::INT)), '')
      || array_to_string(list_transform(range(0, 2),
           i -> chr(19968 + ({t} % 500)::INT)), '')
      || ' ' || substring(coalesce(text, ''), 1, 12) AS text
  FROM (SELECT doc_id, text,
               ((doc_id % 4) + 4) % 4 AS mm,
               (doc_id - ((doc_id % 4) + 4) % 4) // 4 AS qv
        FROM documents)) cjk_docs"""


_CJK_DOCS_SOURCE = _cjk_docs_source()

_SHINGLES = (
    "CASE WHEN len(toks) < 3 THEN []::VARCHAR[] ELSE "
    "list_transform(range(0, len(toks) - 2), i -> array_to_string(toks[i+1:i+3], ' ')) END"
)


def _minhash_ctes(
    threshold: float,
    k: int = 16,
    bands: int = 8,
    toks_sql: str | None = None,
    source: str = "documents",
) -> str:
    """CTE chain ending in ``mpairs(id_a, id_b, jaccard)``: banded
    MinHash candidates exact-verified against full shingle sets — the
    oracle for every operator built on the bounded pair-mining plan
    (minhash_lsh_pairs / ngram_jaccard_pairs default / CC edges).
    ``toks_sql`` overrides the token fragment (default ``_TOKS``; the
    CJK row passes the script-spread variant) and ``source`` the
    relation scanned (a synth subquery for planted-corpus rows)."""
    from nekton_spark.functions.hashing import H0_MOD, REHASH_MASK, affine_consts

    r = k // bands
    a_c, b_c = affine_consts(k)
    a_l = "[" + ", ".join(str(c) for c in a_c) + "]"
    b_l = "[" + ", ".join(str(c) for c in b_c) + "]"
    h0 = f"({_H('g', '0')} % {H0_MOD})"
    sig = (
        f"list_transform(range(0, {k}), s -> "
        f"list_min(list_transform(sh, g -> ({a_l}[s + 1] * {h0} + {b_l}[s + 1]) & {REHASH_MASK})))"
    )
    band_exprs = ", ".join(
        "STRUCT_PACK(band := {b}, bh := {h})".format(
            b=b,
            h=_H(f"array_to_string(sig[{b * r + 1}:{b * r + r}], ',')", str(1000 + b)),
        )
        for b in range(bands)
    )
    return f"""base AS (
  SELECT doc_id, {_SHINGLES} AS sh
  FROM (SELECT doc_id, {toks_sql or _TOKS} AS toks, text FROM {source})
), nonempty AS (
  SELECT doc_id, sh FROM base WHERE len(sh) > 0
), sigs AS (
  SELECT doc_id, {sig} AS sig FROM nonempty
), banded AS (
  SELECT doc_id, unnest([{band_exprs}], recursive := true) FROM sigs
), cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
), dsh AS (
  SELECT doc_id, list_distinct(sh) AS sh FROM nonempty
), mpairs AS (
  SELECT * FROM (
    SELECT id_a, id_b,
           len(list_intersect(a.sh, b.sh))::DOUBLE
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
    FROM cand JOIN dsh a ON cand.id_a = a.doc_id JOIN dsh b ON cand.id_b = b.doc_id
  ) WHERE jaccard >= {threshold}
)"""


def _minhash_sql(threshold: float = 0.1, k: int = 16, bands: int = 8) -> str:
    return f"WITH {_minhash_ctes(threshold, k, bands)}\nSELECT id_a, id_b, jaccard FROM mpairs"


def _fuzzy_decon_sql(threshold: float = 0.5, k: int = 16, bands: int = 8) -> str:
    """Two-frame (train × eval) banded-MinHash contamination replay:
    same signature family / band keys / exact-Jaccard verify as
    _minhash_ctes, but candidates come from a train-band × eval-band
    join instead of a self-join. The train side is the non-%97 corpus
    plus paraphrased eval copies (first two tokens dropped, re-keyed
    +500000) — the injected leakage the driver query constructs."""
    from nekton_spark.functions.hashing import H0_MOD, REHASH_MASK, affine_consts

    r = k // bands
    a_c, b_c = affine_consts(k)
    a_l = "[" + ", ".join(str(c) for c in a_c) + "]"
    b_l = "[" + ", ".join(str(c) for c in b_c) + "]"
    h0 = f"({_H('g', '0')} % {H0_MOD})"
    sig = (
        f"list_transform(range(0, {k}), s -> "
        f"list_min(list_transform(sh, g -> ({a_l}[s + 1] * {h0} + {b_l}[s + 1]) & {REHASH_MASK})))"
    )
    band_exprs = ", ".join(
        "STRUCT_PACK(band := {b}, bh := {h})".format(
            b=b,
            h=_H(f"array_to_string(sig[{b * r + 1}:{b * r + r}], ',')", str(1000 + b)),
        )
        for b in range(bands)
    )
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
  UNION ALL
  SELECT doc_id + 500000 AS doc_id,
         array_to_string(({_TOKS})[3:len({_TOKS})], ' ') AS text
  FROM documents WHERE doc_id % 97 = 0
), ev AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0
), tsh AS (
  SELECT doc_id, sh FROM (SELECT doc_id, {_SHINGLES} AS sh
    FROM (SELECT doc_id, {_TOKS} AS toks, text FROM corpus)) WHERE len(sh) > 0
), esh AS (
  SELECT doc_id, sh FROM (SELECT doc_id, {_SHINGLES} AS sh
    FROM (SELECT doc_id, {_TOKS} AS toks, text FROM ev)) WHERE len(sh) > 0
), tsig AS (SELECT doc_id, {sig} AS sig FROM tsh),
esig AS (SELECT doc_id, {sig} AS sig FROM esh),
tb AS (SELECT doc_id, unnest([{band_exprs}], recursive := true) FROM tsig),
eb AS (SELECT doc_id, unnest([{band_exprs}], recursive := true) FROM esig),
cand AS (
  SELECT DISTINCT tb.doc_id AS train_id, eb.doc_id AS eval_id
  FROM tb JOIN eb ON tb.band = eb.band AND tb.bh = eb.bh
), td AS (SELECT doc_id, list_distinct(sh) AS sh FROM tsh),
ed AS (SELECT doc_id, list_distinct(sh) AS sh FROM esh)
SELECT * FROM (
  SELECT train_id, eval_id,
         len(list_intersect(a.sh, b.sh))::DOUBLE
           / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
  FROM cand JOIN td a ON cand.train_id = a.doc_id
            JOIN ed b ON cand.eval_id = b.doc_id
) WHERE jaccard >= {threshold}
"""


def _simhash_ctes(bits: int) -> str:
    """CTE chain ending in ``sh_t(doc_id, sh)`` — the packed simhash."""
    h_tok = _H("t", "0")
    terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, h -> ((h >> {b}) & 1) = 1)) > len(hs) "
        f"THEN {1 << b}::BIGINT ELSE 0::BIGINT END)"
        for b in range(bits)
    )
    return f"""hs_t AS (
  SELECT doc_id, list_transform({_TOKS}, t -> {h_tok}) AS hs FROM documents
), sh_t AS (
  SELECT doc_id, ({terms}) AS sh FROM hs_t
)"""


def _simhash_sql(bits: int = 32) -> str:
    return (
        f"WITH {_simhash_ctes(bits)}\n"
        "SELECT sh, min(doc_id) AS keep_id, count(*)::BIGINT AS n_docs FROM sh_t GROUP BY sh"
    )


def _simhash_hamming_sql(bits: int = 60, bands: int = 4, max_hamming: int = 3) -> str:
    r = bits // bands
    mask = (1 << r) - 1
    band_list = ", ".join(str(b) for b in range(bands))
    key_list = ", ".join(f"(sh >> {b * r}) & {mask}" for b in range(bands))
    return f"""
WITH {_simhash_ctes(bits)}, banded AS (
  SELECT doc_id, sh, unnest([{band_list}]) AS band, unnest([{key_list}]) AS key FROM sh_t
), cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b, l.sh AS sh_a, r.sh AS sh_b
  FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
)
SELECT id_a, id_b, hamming FROM (
  SELECT id_a, id_b, bit_count(xor(sh_a, sh_b))::INT AS hamming FROM cand
) WHERE hamming <= {max_hamming}
"""


def _lang_sql() -> str:
    profiles = sorted(ta.LANG_PROFILES.items())
    score_cols = ", ".join(
        "len(list_intersect(toks, {lst})) AS s_{code}".format(
            code=code, lst="[" + ", ".join(f"'{w}'" for w in words) + "]"
        )
        for code, words in profiles
    )
    best = "greatest(" + ", ".join(f"s_{c}" for c, _ in profiles) + ")"
    case = " ".join(f"WHEN s_{c} = best AND best > 0 THEN '{c}'" for c, _ in profiles)
    return f"""
WITH t AS (
  SELECT doc_id, text, list_distinct({_TOKS_LOWER}) AS toks FROM documents
), s AS (
  SELECT doc_id, text, {score_cols} FROM t
), b AS (
  SELECT *, {best} AS best FROM s
)
"""


_QUALITY_EXPR = """
round(
  least(n_tok / 50.0, 1.0)
  * (CASE WHEN n_tok > 10000 THEN 0.5 ELSE 1.0 END)
  * (CASE WHEN punct_r > 0.2 THEN 0.5 ELSE 1.0 END)
  * (CASE WHEN rep_r > 0.9 THEN 0.3 ELSE 1.0 END)
  * (CASE WHEN mwl < 2 OR mwl > 12 THEN 0.5 ELSE 1.0 END), 6)
"""

_PUNCT_RE = r"""[^!"#$%&''()*+,\-./:;<=>?@\[\\\]^_`{|}~]"""  # '' = escaped quote in SQL

_BPE_RE = r"[\p{L}]+|[\p{N}]+|[^\s\p{L}\p{N}]+"

def _unrolled_dot(a: str, b: str, dim: int = 64) -> str:
    """Left-associated `a[1]*b[1] + a[2]*b[2] + ...` — the same fold
    order as list_reduce / numpy cumsum, but pure vectorized arithmetic
    (DuckDB lambdas are row-at-a-time: measured 50× slower)."""
    return " + ".join(f"{a}[{j}] * {b}[{j}]" for j in range(1, dim + 1))


_COS = (
    f"round(({_unrolled_dot('qv', 'cv')})"
    f" / (sqrt({_unrolled_dot('qv', 'qv')})"
    f" * sqrt({_unrolled_dot('cv', 'cv')})), 6)"
)


def _mmr_sql(k: int = 5, c: int = 20, lam: float = 0.7, dim: int = 64) -> str:
    """Replay of functions/similarity.mmr_topk: brute-force top-c
    candidates (the _COS contract), round-6 pairwise candidate
    cosines, then the greedy MMR selection UNROLLED one CTE block per
    iteration — each picks the (mmr DESC, neighbor_id ASC) row_number
    1 among remaining candidates, penalized by the max pairwise
    similarity to everything already selected. The mmr arithmetic is
    plain IEEE double on round-6 grid inputs (repr'd coefficients
    parse to the identical doubles numpy uses), so values hash-match
    bit-exactly."""
    pc = 1.0 - lam
    qc_cos = (
        f"round(({_unrolled_dot('q.qv', 'v.cvv', dim)})"
        f" / (sqrt({_unrolled_dot('q.qv', 'q.qv', dim)})"
        f" * sqrt({_unrolled_dot('v.cvv', 'v.cvv', dim)})), 6)"
    )
    ab_cos = (
        f"round(({_unrolled_dot('a.cvv', 'b.cvv', dim)})"
        f" / (sqrt({_unrolled_dot('a.cvv', 'a.cvv', dim)})"
        f" * sqrt({_unrolled_dot('b.cvv', 'b.cvv', dim)})), 6)"
    )
    ctes = [
        "q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv"
        " FROM embeddings WHERE vec_id < 10)",
        "cvt AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cvv"
        " FROM embeddings)",
        f"s AS (SELECT query_id, neighbor_id, {qc_cos} AS score"
        f" FROM q, cvt v WHERE query_id != neighbor_id)",
        f"cand AS (SELECT query_id, neighbor_id, score FROM"
        f" (SELECT *, row_number() OVER (PARTITION BY query_id"
        f" ORDER BY score DESC, neighbor_id) AS rn FROM s) WHERE rn <= {c})",
        "cc AS (SELECT c.query_id, c.neighbor_id, c.score, v.cvv"
        " FROM cand c JOIN cvt v USING (neighbor_id))",
        f"ps AS (SELECT a.query_id, a.neighbor_id AS na, b.neighbor_id AS nb,"
        f" {ab_cos} AS psim FROM cc a JOIN cc b"
        f" ON a.query_id = b.query_id AND a.neighbor_id != b.neighbor_id)",
        "sel1 AS (SELECT query_id, neighbor_id, score, score AS mmr,"
        " 1 AS rank FROM (SELECT *, row_number() OVER (PARTITION BY query_id"
        " ORDER BY score DESC, neighbor_id) AS rn FROM cand) WHERE rn = 1)",
        "acc1 AS (SELECT * FROM sel1)",
    ]
    for i in range(2, k + 1):
        p = i - 1
        ctes.append(
            f"rem{i} AS (SELECT c.query_id, c.neighbor_id, c.score FROM cand c"
            f" LEFT JOIN acc{p} s ON s.query_id = c.query_id"
            f" AND s.neighbor_id = c.neighbor_id WHERE s.neighbor_id IS NULL)"
        )
        ctes.append(
            f"pen{i} AS (SELECT r.query_id, r.neighbor_id, r.score,"
            f" max(p.psim) AS pen FROM rem{i} r"
            f" JOIN ps p ON p.query_id = r.query_id AND p.na = r.neighbor_id"
            f" JOIN acc{p} s2 ON s2.query_id = p.query_id"
            f" AND s2.neighbor_id = p.nb GROUP BY 1, 2, 3)"
        )
        ctes.append(
            f"sel{i} AS (SELECT query_id, neighbor_id, score, mmr,"
            f" {i} AS rank FROM (SELECT query_id, neighbor_id, score, mmr,"
            f" row_number() OVER (PARTITION BY query_id ORDER BY mmr DESC,"
            f" neighbor_id) AS rn FROM (SELECT query_id, neighbor_id, score,"
            f" {lam!r} * score - {pc!r} * pen AS mmr FROM pen{i}) t)"
            f" WHERE rn = 1)"
        )
        ctes.append(
            f"acc{i} AS (SELECT * FROM acc{p} UNION ALL SELECT * FROM sel{i})"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT query_id, neighbor_id, score, mmr, rank FROM acc{k}"
    )


def _hilbert_sql(bits: int = 16) -> str:
    """Replay of functions/layout.hilbert_value over events(user_id,
    value): the identical bucketize CTE as _zorder_sql, then the SAME
    4-state Hilbert tables (imported literals — single source of
    truth) folded with list_reduce; acc packs (d, state) as d*4+state
    exactly like the engine's aggregate lambda. NULL keys -> NULL hv."""
    from nekton_spark.functions.layout import HILBERT_DIGIT, HILBERT_NEXT

    dt = "[" + ", ".join(map(str, HILBERT_DIGIT)) + "]"
    nx = "[" + ", ".join(map(str, HILBERT_NEXT)) + "]"
    n = float((1 << bits) - 1)
    qs = "[" + ", ".join(
        f"(((ba >> {i}) & 1) * 2 + ((bb >> {i}) & 1))"
        for i in range(bits - 1, -1, -1)
    ) + "]"
    fold = (
        f"list_reduce(list_prepend(0::BIGINT, {qs}::BIGINT[]), "
        f"(a, q) -> ((((a >> 2) << 2) + {dt}[(a & 3) * 4 + q + 1]) << 2) "
        f"+ {nx}[(a & 3) * 4 + q + 1])"
    )
    return f"""
WITH mm AS (
  SELECT min(user_id::DOUBLE) AS alo, max(user_id::DOUBLE) AS ahi,
         min(value::DOUBLE) AS blo, max(value::DOUBLE) AS bhi
  FROM events
), b AS (
  SELECT event_id,
    CASE WHEN user_id IS NULL THEN NULL
         WHEN ahi = alo THEN 0
         ELSE floor((user_id::DOUBLE - alo) * {n!r} / (ahi - alo))::BIGINT
    END AS ba,
    CASE WHEN value IS NULL THEN NULL
         WHEN bhi = blo THEN 0
         ELSE floor((value::DOUBLE - blo) * {n!r} / (bhi - blo))::BIGINT
    END AS bb
  FROM events, mm
)
SELECT event_id,
       (CASE WHEN ba IS NULL OR bb IS NULL THEN NULL
             ELSE ({fold} >> 2) END)::BIGINT AS hv
FROM b
"""


def _zorder_sql(bits: int = 16) -> str:
    """Replay of functions/layout.z_value over events(user_id, value):
    min/max CTE, the identical IEEE bucketize expression, unrolled
    shift/mask interleave. NULL keys → NULL zv; a constant column
    buckets to 0 (the engine's hi==lo branch)."""
    n = float((1 << bits) - 1)
    terms = []
    for i in range(bits):
        terms.append(f"(((ba >> {i}) & 1) << {2 * i})")
        terms.append(f"(((bb >> {i}) & 1) << {2 * i + 1})")
    zv = " | ".join(terms)
    return f"""
WITH mm AS (
  SELECT min(user_id::DOUBLE) AS alo, max(user_id::DOUBLE) AS ahi,
         min(value::DOUBLE) AS blo, max(value::DOUBLE) AS bhi
  FROM events
), b AS (
  SELECT event_id,
    CASE WHEN user_id IS NULL THEN NULL
         WHEN ahi = alo THEN 0
         ELSE floor((user_id::DOUBLE - alo) * {n!r} / (ahi - alo))::BIGINT
    END AS ba,
    CASE WHEN value IS NULL THEN NULL
         WHEN bhi = blo THEN 0
         ELSE floor((value::DOUBLE - blo) * {n!r} / (bhi - blo))::BIGINT
    END AS bb
  FROM events, mm
)
SELECT event_id, ({zv})::BIGINT AS zv FROM b
"""


def _zorder_n_sql(cols: list[str], bits: int = 16) -> str:
    """Replay of functions/layout.z_value_n over events: per-column
    min/max CTE, the identical IEEE bucketize expression, and the
    k-D interleave (bit i of column j at position i·k + j). NULL in
    any key → NULL zv; a constant column buckets to 0."""
    k = len(cols)
    n = float((1 << bits) - 1)
    mm = ", ".join(
        f"min({c}::DOUBLE) AS lo{j}, max({c}::DOUBLE) AS hi{j}"
        for j, c in enumerate(cols)
    )
    bs = ", ".join(
        f"""CASE WHEN {c} IS NULL THEN NULL
         WHEN hi{j} = lo{j} THEN 0
         ELSE floor(({c}::DOUBLE - lo{j}) * {n!r} / (hi{j} - lo{j}))::BIGINT
    END AS b{j}"""
        for j, c in enumerate(cols)
    )
    terms = []
    for i in range(bits):
        for j in range(k):
            terms.append(f"(((b{j} >> {i}) & 1) << {i * k + j})")
    zv = " | ".join(terms)
    return f"""
WITH mm AS (SELECT {mm} FROM events),
b AS (SELECT event_id, {bs} FROM events, mm)
SELECT event_id, ({zv})::BIGINT AS zv FROM b
"""


def _outliers_sql(k: int = 25, dim: int = 64) -> str:
    """Replay of functions/outliers.embedding_outliers: grid centroid
    (round-6 per-dimension average — sub-ulp raw-avg differences are
    absorbed by the grid, the pca precedent), left-associated unrolled
    squared-distance sum (== the engine's numpy cumsum fold), round-6
    terminal, global top-k."""
    d2 = " + ".join(
        f"(cv[{j}] - mu[{j}]) * (cv[{j}] - mu[{j}])" for j in range(1, dim + 1)
    )
    return f"""
WITH ex AS (SELECT generate_subscripts(embedding, 1) AS j,
                   unnest(embedding)::DOUBLE AS x FROM embeddings),
m AS (SELECT j, round(avg(x), 6) AS mu FROM ex GROUP BY j),
muv AS (SELECT list(mu ORDER BY j) AS mu FROM m),
d AS (SELECT vec_id, label, round({d2}, 6) AS dist2
      FROM (SELECT vec_id, label, embedding::DOUBLE[] AS cv FROM embeddings), muv)
SELECT vec_id, label, dist2, rank FROM (
  SELECT *, row_number() OVER (ORDER BY dist2 DESC, vec_id) AS rank FROM d)
WHERE rank <= {k}
"""


def _unrolled_dist2(a: str, b: str, dim: int = 64) -> str:
    """Left-associated squared-L2 sum — same fold order as Spark's
    aggregate(zip_with(v, c, (x,y) -> (x-y)²), 0.0, +)."""
    return " + ".join(
        f"({a}[{j}] - {b}[{j}]) * ({a}[{j}] - {b}[{j}])" for j in range(1, dim + 1)
    )


# Deterministic k-means (clustering.kmeans, iters=2) unrolled as CTEs:
# seed = the k vectors with the smallest hash60(id, SEED_ORDER_SALT)
# (ties → smaller id; cluster j = rank in that order — the
# decorrelated rule of clustering.train_centroids), assign (ties →
# smaller cluster), recompute centroids rounded to 1e-6 (empty
# clusters keep their seed), assign again. ``k_sql`` parameterizes the
# k policy: the auto replay max(8, ceil(n/500)) for
# kmeans_clusters/semdedup_prune, a literal coarse k for the tiered
# replay.
_SEED_ORD = f"{hash60_sql('id', str(SEED_ORDER_SALT))}, id"


def _kmeans_ctes(k_sql: str) -> str:
    return f"""
pts AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
kk AS (SELECT {k_sql} AS k FROM pts),
seeds AS (
  SELECT (rn - 1)::INT AS cluster, v AS c
  FROM (SELECT id, v, row_number() OVER (ORDER BY {_SEED_ORD}) AS rn FROM pts)
  WHERE rn <= (SELECT k FROM kk)
),
d1 AS (SELECT p.id, s.cluster, {_unrolled_dist2('p.v', 's.c')} AS d FROM pts p, seeds s),
a1 AS (SELECT id, cluster FROM (
  SELECT id, cluster, row_number() OVER (PARTITION BY id ORDER BY d, cluster) AS rn
  FROM d1) WHERE rn = 1),
e1 AS (SELECT a1.cluster, unnest(range(1, len(p.v) + 1)) AS pos, p.v AS v
       FROM a1 JOIN pts p USING (id)),
m1 AS (SELECT cluster, pos, round(avg(v[pos]), 6) AS val FROM e1 GROUP BY cluster, pos),
c1 AS (SELECT cluster, list(val ORDER BY pos) AS c FROM m1 GROUP BY cluster),
cen AS (SELECT s.cluster, coalesce(c1.c, s.c) AS c FROM seeds s LEFT JOIN c1 USING (cluster)),
d2 AS (SELECT p.id, n.cluster, {_unrolled_dist2('p.v', 'n.c')} AS d FROM pts p, cen n),
a2 AS (SELECT id, cluster FROM (
  SELECT id, cluster, row_number() OVER (PARTITION BY id ORDER BY d, cluster) AS rn
  FROM d2) WHERE rn = 1)
"""


_KMEANS_CTES = _kmeans_ctes("greatest(8, ceil(count(*) / 500.0)::INT)")

# Two-level replay (kmeans_tiered: k=40 > max_k=16 → coarse_k =
# clamp(ceil(sqrt(40)), 8, 16) = 8, target_cluster=25, no tiling at
# this size so tile = 0): coarse = the flat CTEs at literal k=8, then
# per-coarse-cell fine k-means — k_f = ceil(cell/25) window-ranked
# smallest-hash60(id) seeds, one rounded-mean recompute (empty fine clusters
# keep their seed), final assignment by the same left-fold distance
# with ties to the smaller fine index. cluster = (coarse·2^21 + 0)·2^21
# + fine, the engine's packed-long id.
_KMEANS_TIERED_SQL = f"""
WITH {_kmeans_ctes('8')},
p2 AS (SELECT p.id, p.v, a2.cluster AS coarse FROM pts p JOIN a2 USING (id)),
fkk AS (SELECT coarse, greatest(1, ceil(count(*) / 25.0)::INT) AS kf FROM p2 GROUP BY coarse),
fr AS (SELECT id, v, coarse, row_number() OVER (PARTITION BY coarse ORDER BY {_SEED_ORD}) AS rn FROM p2),
fs AS (SELECT fr.coarse, (fr.rn - 1)::INT AS fine, fr.v AS c
       FROM fr JOIN fkk USING (coarse) WHERE fr.rn <= fkk.kf),
fd1 AS (SELECT p.id, p.coarse, s.fine, {_unrolled_dist2('p.v', 's.c')} AS d
        FROM p2 p JOIN fs s USING (coarse)),
fa1 AS (SELECT id, coarse, fine FROM (
  SELECT id, coarse, fine, row_number() OVER (PARTITION BY id ORDER BY d, fine) AS rn
  FROM fd1) WHERE rn = 1),
fe1 AS (SELECT a.coarse, a.fine, unnest(range(1, len(p.v) + 1)) AS pos, p.v AS v
        FROM fa1 a JOIN pts p USING (id)),
fm1 AS (SELECT coarse, fine, pos, round(avg(v[pos]), 6) AS val
        FROM fe1 GROUP BY coarse, fine, pos),
fc1 AS (SELECT coarse, fine, list(val ORDER BY pos) AS c FROM fm1 GROUP BY coarse, fine),
fcen AS (SELECT s.coarse, s.fine, coalesce(c1.c, s.c) AS c
         FROM fs s LEFT JOIN fc1 c1 USING (coarse, fine)),
fd2 AS (SELECT p.id, n.coarse, n.fine, {_unrolled_dist2('p.v', 'n.c')} AS d
        FROM p2 p JOIN fcen n ON p.coarse = n.coarse),
fa2 AS (SELECT id, coarse, fine FROM (
  SELECT id, coarse, fine, row_number() OVER (PARTITION BY id ORDER BY d, fine) AS rn
  FROM fd2) WHERE rn = 1)
SELECT id AS vec_id, (coarse::BIGINT * 2097152 + 0) * 2097152 + fine AS cluster FROM fa2
"""


def _dsir_sql(n_buckets: int = 4096, seed: int = 77) -> str:
    """Replay of sampling.dsir_importance at the dsir_select split:
    identical lowered unigram+bigram features, hash60-bucket counts
    with add-one smoothing, and the rounded per-doc ln-ratio sum."""
    grams = (
        "CASE WHEN len(toks) >= 2 THEN list_concat(toks, "
        "list_transform(range(0, len(toks) - 1), i -> toks[i+1] || ' ' || toks[i+2])) "
        "ELSE toks END"
    )
    bucket = f"({_H('feat', str(seed))} % {n_buckets})"
    return f"""
WITH d AS (
  SELECT doc_id, list_filter({_TOKS_LOWER}, t -> len(t) > 0) AS toks,
         coalesce(source, '') IN ('src0', 'src1') AS is_t
  FROM documents
), feats AS (
  SELECT doc_id, is_t, unnest({grams}) AS feat FROM d
), fb AS (
  SELECT doc_id, is_t, {bucket}::INT AS b FROM feats
), tc AS (SELECT b, count(*)::BIGINT AS ct FROM fb WHERE is_t GROUP BY b),
rc AS (SELECT b, count(*)::BIGINT AS cr FROM fb WHERE NOT is_t GROUP BY b),
nt AS (SELECT sum(ct)::BIGINT AS nt FROM tc),
nr AS (SELECT sum(cr)::BIGINT AS nr FROM rc)
SELECT doc_id, count(*)::BIGINT AS n_feats,
       round(sum(  ln((coalesce(ct, 0) + 1.0) / (nt + {n_buckets}.0))
                 - ln((cr + 1.0) / (nr + {n_buckets}.0))), 6) AS log_ratio
FROM fb LEFT JOIN tc USING (b) JOIN rc USING (b), nt, nr
WHERE NOT is_t
GROUP BY doc_id
"""


def _cms_sql(width: int = 1024, depth: int = 4, k: int = 40) -> str:
    """Replay of functions/sketches.cms_heavy_hitters: h60 =
    hash60(token, 5000) once per occurrence, row r's bucket = the r-th
    disjoint bit-field ((h60 >> r·log2(width)) & (width−1)), cells =
    per-(r, bucket) counts, est = min over the probe cells (absent =
    0), top-k by est with token tie-break."""
    bits = (width - 1).bit_length()
    h60 = _H("token", "5000")
    pairs = ", ".join(
        f"STRUCT_PACK(r := {r}, bucket :="
        f" (({h60} >> {r * bits}) & {width - 1}))"
        for r in range(depth)
    )
    return f"""
WITH toks AS (SELECT unnest({_TOKS}) AS token FROM documents),
tok AS (SELECT token FROM toks WHERE len(token) > 0),
true_counts AS (SELECT token, count(*)::BIGINT AS true_n FROM tok GROUP BY token),
cells AS (
  SELECT r, bucket, count(*)::BIGINT AS n FROM (
    SELECT unnest([{pairs}], recursive := true) FROM tok)
  GROUP BY r, bucket),
probes AS (
  SELECT token, true_n, unnest([{pairs}], recursive := true) FROM true_counts),
est AS (
  SELECT token, any_value(true_n) AS true_n,
         min(coalesce(cells.n, 0))::BIGINT AS est_n
  FROM probes LEFT JOIN cells USING (r, bucket) GROUP BY token)
SELECT token, est_n, true_n, rank FROM (
  SELECT token, est_n, true_n,
         row_number() OVER (ORDER BY est_n DESC, token) AS rank
  FROM est)
WHERE rank <= {k}
"""


def _pca_sql(d: int = 64, iters: int = 12) -> str:
    """Replay of functions/pca.embedding_pca FROM THE RAW TABLE — no
    shipped constants. The power method is INTEGER-micro end-to-end
    (see functions/pca.py: grid-value matvec sums land exactly on .5
    rounding boundaries with the constant start vector, so float
    round-to-6 is not replayable there): Gramian cells are
    HALF_UP(avg·1e6)::BIGINT, matvec sums and the HALF_UP divisions
    are exact integer CASEs, the norm is one IEEE sqrt of an exact
    integer, and normalization rounds w·1e6/sqrt half-up. Zero norm
    keeps the previous iterate; sign fixed by the first
    largest-|component| entry; one integer deflation yields PC2. Only
    the mean, the Gramian averages, and the final projections are
    float — each terminally rounded, off-grid, the repo's standard
    tolerance contract (SURVEY §6). CTEs are MATERIALIZED: DuckDB
    inlines CTEs by default and each iteration references the matrix
    and its predecessor, so inlining would clone the Gramian subtree
    exponentially."""
    r = f"range({d})"
    half_div = (
        "CASE WHEN {s} >= 0 THEN ({s} + {h}) // {q}"
        " ELSE -((-({s}) + {h}) // {q}) END"
    )
    matvec = (
        f"list_transform(list_transform({r}, j ->"
        f" list_sum(list_transform({r}, k -> m[j+1][k+1] * v[k+1]))), s -> ("
        + half_div.format(s="s", h=500000, q=1000000)
        + ")::BIGINT)"
    )
    ctes = [
        "ex AS MATERIALIZED (SELECT vec_id, generate_subscripts(embedding, 1) AS j,"
        " unnest(embedding)::DOUBLE AS x FROM embeddings)",
        # co-moment form, mirroring the engine's single data pass:
        # G = E[xxT] - m*mT with the RAW (unrounded) mean; the grid
        # mean muv is only for the projection.
        "mraw AS MATERIALIZED (SELECT j, avg(x) AS m FROM ex GROUP BY j)",
        "muv AS MATERIALIZED (SELECT list(round(m, 6) ORDER BY j) AS mu FROM mraw)",
        "gram AS MATERIALIZED (SELECT a.j AS j, b.j AS k,"
        " round((avg(a.x * b.x) - any_value(ma.m) * any_value(mb.m))"
        " * 1000000, 0)::BIGINT AS g"
        " FROM ex a JOIN ex b USING (vec_id)"
        " JOIN mraw ma ON a.j = ma.j JOIN mraw mb ON b.j = mb.j"
        " GROUP BY a.j, b.j)",
        "gm0 AS MATERIALIZED (SELECT list(row ORDER BY j) AS m FROM"
        " (SELECT j, list(g ORDER BY k) AS row FROM gram GROUP BY j) t)",
    ]
    for c in (0, 1):
        # start vector replay: 50000 + hash60(j, PCA_START_SALT) % 150001
        # (functions/pca.pca_start_component — hash-random direction, no
        # structured null space; the constant start stalled on
        # row-sum-constant Gramians)
        start = (
            f"(50000 + ({_H('j', '5300')}) % 150001)::BIGINT"
        )
        ctes.append(
            f"it{c}_0 AS MATERIALIZED (SELECT"
            f" list_transform({r}, j -> {start}) AS v)"
        )
        for i in range(1, iters + 1):
            ctes.append(
                f"w{c}_{i} AS MATERIALIZED (SELECT {matvec} AS w"
                f" FROM gm{c}, it{c}_{i-1})"
            )
            ctes.append(
                f"it{c}_{i} AS MATERIALIZED (SELECT CASE WHEN q = 0 THEN pv"
                f" ELSE list_transform(w, x ->"
                f" round((x::DOUBLE * 1000000.0) / sqrt(q::DOUBLE), 0)::BIGINT)"
                f" END AS v FROM"
                f" (SELECT w, pv, list_sum(list_transform(w, x -> x * x)) AS q"
                f" FROM w{c}_{i}, (SELECT v AS pv FROM it{c}_{i-1}) p) t)"
            )
        ctes.append(
            f"sv{c} AS MATERIALIZED (SELECT CASE WHEN v[p] < 0 THEN"
            f" list_transform(v, x -> -x) ELSE v END AS v FROM"
            f" (SELECT v, list_position(a, list_max(a)) AS p FROM"
            f" (SELECT v, list_transform(v, x -> abs(x)) AS a"
            f" FROM it{c}_{iters}) t1) t2)"
        )
        ctes.append(
            f"u{c} AS MATERIALIZED (SELECT {matvec.replace('AS w', '')} AS u"
            f" FROM gm{c}, sv{c})"
        )
        lam_s = f"list_sum(list_transform({r}, j -> v[j+1] * u[j+1]))"
        ctes.append(
            f"lam{c} AS MATERIALIZED (SELECT ("
            + half_div.format(s=lam_s, h=500000, q=1000000)
            + ")::BIGINT AS lam FROM sv{c}, u{c})".format(c=c)
        )
        if c == 0:
            dterm = half_div.format(
                s="lam * v[j+1] * v[k+1]", h=500000000000, q=1000000000000
            )
            ctes.append(
                f"gm1 AS MATERIALIZED (SELECT list_transform({r}, j ->"
                f" list_transform({r}, k ->"
                f" (m[j+1][k+1] - ({dterm}))::BIGINT)) AS m"
                f" FROM gm0, lam0, sv0)"
            )
    proj = (
        "round(list_sum(list_transform({r}, j ->"
        " (embedding[j+1]::DOUBLE - mu[j+1]) *"
        " ({v}[j+1]::DOUBLE / 1000000.0))), 6)"
    )
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT vec_id, "
        + proj.format(r=r, v="v1") + " AS pc1, "
        + proj.format(r=r, v="v2") + " AS pc2\n"
        "FROM embeddings, muv, (SELECT v AS v1 FROM sv0) a,"
        " (SELECT v AS v2 FROM sv1) b"
    )


def _langid_trained_sql() -> str:
    """Replay of functions/langid_model.lang_id_trained: the SAME
    trained (gram, lang, wm) table as a VALUES literal, occurrence
    counts via the identical 1+2+3-gram extraction (r12 mixture —
    n = 3·len − 3 total gram occurrences, docs under 3 chars → 'und'),
    long-integer scores score_L = ws_L + (n − cnt_L)·oov_L, argmax
    with ties to the lexicographically smaller code."""
    from nekton_spark.functions.langid_model import (
        LANGS,
        langid_oov_sql,
        langid_weight_values_sql,
    )

    oov = langid_oov_sql()
    score_cols = ",\n         ".join(
        f"coalesce(max(CASE WHEN lang = '{l}' THEN ws END), 0)"
        f" + (any_value(n) - coalesce(max(CASE WHEN lang = '{l}' THEN cnt END), 0))"
        f" * ({oov[l]}) AS s_{l}"
        for l in LANGS
    )
    best = "greatest(" + ", ".join(f"s_{l}" for l in LANGS) + ")"
    pick = " ".join(f"WHEN s_{l} = best THEN '{l}'" for l in LANGS)
    return f"""
WITH d AS (SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents),
nn AS (SELECT doc_id,
              CASE WHEN length(t) >= 3 THEN 3 * length(t) - 3 ELSE 0 END::BIGINT AS n,
              t FROM d),
g AS (
  SELECT doc_id, substr(t, i::INT, 1) AS gram
  FROM (SELECT doc_id, t, unnest(range(1, length(t) + 1)) AS i
        FROM nn WHERE n > 0)
  UNION ALL
  SELECT doc_id, substr(t, i::INT, 2) AS gram
  FROM (SELECT doc_id, t, unnest(range(1, length(t))) AS i
        FROM nn WHERE n > 0)
  UNION ALL
  SELECT doc_id, substr(t, i::INT, 3) AS gram
  FROM (SELECT doc_id, t, unnest(range(1, length(t) - 1)) AS i
        FROM nn WHERE n > 0)
),
m AS (SELECT doc_id, lang, count(*)::BIGINT AS cnt, sum(wm)::BIGINT AS ws
      FROM g JOIN {langid_weight_values_sql()} USING (gram)
      GROUP BY doc_id, lang),
s AS (SELECT nn.doc_id, any_value(nn.n) AS n,
         {score_cols}
      FROM nn LEFT JOIN m USING (doc_id)
      GROUP BY nn.doc_id),
b AS (SELECT *, {best} AS best FROM s)
SELECT doc_id, n AS n_grams,
       CASE WHEN n = 0 THEN 'und' {pick} END AS lang,
       CASE WHEN n = 0 THEN 0 ELSE best END AS best_milli
FROM b
"""


def _drift_sql(bins: int = 10) -> str:
    """Replay of validation.drift_report on n_chars (old = even ids,
    new = odd): edges from the old snapshot, equal-width clamped bins,
    Laplace-smoothed PSI as the same left-associated term chain."""
    def bin_expr(i: int) -> str:
        return (
            "sum(CASE WHEN v IS NOT NULL AND "
            f"least({bins - 1}, greatest(0, floor((v - w.lo) / w.width)::INT)) = {i} "
            "THEN 1 ELSE 0 END)"
        )

    ob_cols = ", ".join(f"{bin_expr(i)} AS b{i}_old" for i in range(bins))
    nb_cols = ", ".join(f"{bin_expr(i)} AS b{i}_new" for i in range(bins))
    psi = " + ".join(
        f"(((b{i}_new + 1)::DOUBLE / ((n_new - nulls_new) + {bins}))"
        f" - ((b{i}_old + 1)::DOUBLE / ((n_old - nulls_old) + {bins})))"
        f" * ln(((b{i}_new + 1)::DOUBLE / ((n_new - nulls_new) + {bins}))"
        f" / ((b{i}_old + 1)::DOUBLE / ((n_old - nulls_old) + {bins})))"
        for i in range(bins)
    )
    return f"""
WITH oldd AS (SELECT n_chars::DOUBLE AS v FROM documents WHERE doc_id % 2 = 0),
newd AS (SELECT n_chars::DOUBLE AS v FROM documents WHERE doc_id % 2 = 1),
e AS (SELECT min(v) AS lo, max(v) AS hi FROM oldd),
w AS (SELECT lo, (CASE WHEN hi > lo THEN (hi - lo) / {bins} ELSE 1.0 END) AS width FROM e),
ob AS (SELECT count(*)::BIGINT AS n_old, (count(*) - count(v))::BIGINT AS nulls_old,
              min(v) AS min_old, max(v) AS max_old, {ob_cols}
       FROM oldd, w),
nb AS (SELECT count(*)::BIGINT AS n_new, (count(*) - count(v))::BIGINT AS nulls_new,
              min(v) AS min_new, max(v) AS max_new, {nb_cols}
       FROM newd, w)
SELECT 'n_chars' AS "column", n_old, n_new, nulls_old, nulls_new,
       min_old, max_old, min_new, max_new, round({psi}, 6) AS psi
FROM ob, nb
"""


def _pq_sql(
    k: int = 5,
    m_sub: int = 8,
    ksub: int = 16,
    d0: int = 8,
    train_cap: int = 1 << 16,
    rerank_from: int | None = None,
    ivf_probe: int | None = None,
    residual: bool = False,
    coarse: str = "sample",
) -> str:
    """Full SQL replay of similarity.pq_topk: per-subspace codebook
    training (the kmeans CTE structure at dim d0 / k ksub over the
    stride-sampled training set), exact-fold argmin encoding of every
    corpus row, and the ADC inner-product scan — each subspace dot
    parenthesized so the score's addition order matches the engine's
    (per-subspace LUT fold, then a left-associated sum over
    subspaces). With ``rerank_from=c`` (similarity.pq_topk_rerank) the
    ADC scan nominates the top-c candidates per query and the final
    top-k is the exact-cosine re-rank of those rows' TRUE vectors —
    the same _COS fold the brute-force oracle uses. With
    ``ivf_probe=p`` (similarity.ivfpq_topk) the corpus additionally
    gets the IVF coarse assignment (√n deterministic centroids, exact
    cosine argmax — the ann_topk_ivf oracle's CTEs) and the ADC scan
    is restricted to each query's p probed lists. With
    ``residual=True`` (similarity.ivfpq_residual_topk, requires
    ivf_probe) the subspace training/encode relations are the
    elementwise residuals v[j] − cv[j] from each row's coarse
    assignment — deterministic IEEE subtraction, same on both
    engines — and the ADC score gains the per-(query, probed cell)
    coarse dot <q, c> as its left-most term."""

    def dist(a: str, b: str) -> str:
        return " + ".join(
            f"({a}[{j}] - {b}[{j}]) * ({a}[{j}] - {b}[{j}])" for j in range(1, d0 + 1)
        )

    if residual and ivf_probe is None:
        raise ValueError("residual PQ requires ivf_probe")
    dim = m_sub * d0
    cosql = (
        f"({_unrolled_dot('v', 'cv')})"
        f" / (sqrt({_unrolled_dot('v', 'v')})"
        f" * sqrt({_unrolled_dot('cv', 'cv')}))"
    )
    parts = [
        f"""pts AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
nn AS (SELECT count(*) AS n FROM pts),
tr AS (SELECT id, v FROM pts
       WHERE id % (SELECT greatest(1, ceil(n / {train_cap}.0)::BIGINT) FROM nn) = 0)"""
    ]
    if residual:
        # coarse assignment must precede training: the trained relation
        # is the residual v − c(v), not the raw vector
        # MATERIALIZED: casg/rpts are referenced by all m_sub subspace
        # branches + the scorer — inlined, DuckDB would recompute the
        # n×√n assignment cross-join 9× and OOM
        cent_sql = (
            _kmeans_cent_ctes(train_cap)
            if coarse == "kmeans"
            else """cent AS MATERIALIZED (
  SELECT id AS cid, v AS cv FROM pts
  WHERE id % (SELECT greatest(1, CAST(floor(sqrt(count(*))) AS BIGINT)) FROM pts) = 0
)"""
        )
        parts.append(f"""{cent_sql}, casg AS MATERIALIZED (
  SELECT id, cid FROM (
    SELECT b.id, c.cid,
           row_number() OVER (PARTITION BY b.id ORDER BY {cosql} DESC, c.cid) AS rn
    FROM pts b, cent c) WHERE rn = 1
), rpts AS MATERIALIZED (
  SELECT p.id, list_transform(range(1, {dim + 1}), j -> p.v[j] - c.cv[j]) AS rv
  FROM pts p JOIN casg a USING (id) JOIN cent c ON a.cid = c.cid
), rtr AS MATERIALIZED (
  SELECT id, rv FROM rpts
  WHERE id % (SELECT greatest(1, ceil(n / {train_cap}.0)::BIGINT) FROM nn) = 0
)""")
    tsrc, psrc, vcol = ("rtr", "rpts", "rv") if residual else ("tr", "pts", "v")
    for s in range(m_sub):
        lo, hi = s * d0 + 1, s * d0 + d0
        parts.append(f"""t{s} AS (SELECT id, {vcol}[{lo}:{hi}] AS sv FROM {tsrc}),
p{s} AS (SELECT id, {vcol}[{lo}:{hi}] AS sv FROM {psrc}),
s{s}seed AS (SELECT (rn - 1)::INT AS c, sv AS cv FROM (
  SELECT id, sv, row_number() OVER (ORDER BY {_SEED_ORD}) AS rn FROM t{s}) WHERE rn <= {ksub}),
s{s}d1 AS (SELECT t.id, s.c, {dist('t.sv', 's.cv')} AS d FROM t{s} t, s{s}seed s),
s{s}a1 AS (SELECT id, c FROM (
  SELECT id, c, row_number() OVER (PARTITION BY id ORDER BY d, c) AS rn FROM s{s}d1) WHERE rn = 1),
s{s}e1 AS (SELECT a.c, unnest(range(1, {d0 + 1})) AS pos, t.sv AS sv
           FROM s{s}a1 a JOIN t{s} t USING (id)),
s{s}m1 AS (SELECT c, pos, round(avg(sv[pos]), 6) AS val FROM s{s}e1 GROUP BY c, pos),
s{s}c1 AS (SELECT c, list(val ORDER BY pos) AS cv FROM s{s}m1 GROUP BY c),
s{s}cen AS (SELECT s.c, coalesce(c1.cv, s.cv) AS cv FROM s{s}seed s LEFT JOIN s{s}c1 c1 USING (c)),
s{s}dall AS (SELECT p.id, n.c, {dist('p.sv', 'n.cv')} AS d FROM p{s} p, s{s}cen n),
s{s}code AS (SELECT id, c FROM (
  SELECT id, c, row_number() OVER (PARTITION BY id ORDER BY d, c) AS rn FROM s{s}dall) WHERE rn = 1)""")
    enc_joins = " ".join(
        f"JOIN s{s}code k{s} ON p.id = k{s}.id JOIN s{s}cen c{s} ON k{s}.c = c{s}.c"
        for s in range(m_sub)
    )
    enc_cols = ", ".join(f"c{s}.cv AS r{s}" for s in range(m_sub))
    score = " + ".join(
        "("
        + " + ".join(f"q.qv[{s * d0 + j}] * e.r{s}[{j}]" for j in range(1, d0 + 1))
        + ")"
        for s in range(m_sub)
    )
    if ivf_probe is None:
        parts.append(f"""enc AS (SELECT p.id, {enc_cols} FROM pts p {enc_joins}),
q AS (SELECT id AS query_id, v AS qv FROM pts WHERE id < 10),
sc AS (SELECT q.query_id, e.id AS neighbor_id, round({score}, 6) AS score
       FROM q, enc e WHERE e.id <> q.query_id)""")
    else:
        cent_casg = "" if residual else f"""cent AS (
  SELECT id AS cid, v AS cv FROM pts
  WHERE id % (SELECT greatest(1, CAST(floor(sqrt(count(*))) AS BIGINT)) FROM pts) = 0
), casg AS (
  SELECT id, cid FROM (
    SELECT b.id, c.cid,
           row_number() OVER (PARTITION BY b.id ORDER BY {cosql} DESC, c.cid) AS rn
    FROM pts b, cent c) WHERE rn = 1
), """
        # residual mode: score = <q, c(probed cell)> + residual ADC.
        # The ADC chain must stay ONE parenthesized subtree: the engine
        # computes cterm + ((t0+t1)+…+t7) (the chain is pre-folded),
        # while an unparenthesized "+ {score}" would parse as
        # ((coarse+t0)+t1)+… — a different IEEE grouping that can
        # round differently within an ulp of a 0.5e-6 boundary
        # (r11 review catch — latent flaky hash-mismatch)
        full_score = (
            f"({_unrolled_dot('q.qv', 'c.cv')}) + ({score})" if residual else score
        )
        cent_join = "JOIN cent c ON p.cid = c.cid\n  " if residual else ""
        parts.append(f"""enc AS (SELECT p.id, {enc_cols} FROM pts p {enc_joins}),
q AS (SELECT id AS query_id, v AS qv FROM pts WHERE id < 10),
{cent_casg}probe AS (
  SELECT query_id, cid FROM (
    SELECT b.id AS query_id, c.cid,
           row_number() OVER (PARTITION BY b.id ORDER BY {cosql} DESC, c.cid) AS rn
    FROM pts b, cent c WHERE b.id < 10) WHERE rn <= {ivf_probe}
), sc AS (
  SELECT q.query_id, e.id AS neighbor_id, round({full_score}, 6) AS score
  FROM probe p
  {cent_join}JOIN casg a ON p.cid = a.cid
  JOIN enc e ON e.id = a.id
  JOIN q ON q.query_id = p.query_id
  WHERE e.id <> q.query_id)""")
    if rerank_from is None:
        return (
            "WITH "
            + ",\n".join(parts)
            + f"""
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM sc) WHERE rank <= {k}
"""
        )
    parts.append(f"""cand AS (SELECT query_id, neighbor_id FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM sc) WHERE rank <= {rerank_from}),
rr AS (SELECT c0.query_id, c0.neighbor_id, {_COS} AS score
       FROM cand c0
       JOIN (SELECT id, v AS cv FROM pts) pc ON c0.neighbor_id = pc.id
       JOIN q ON c0.query_id = q.query_id)""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM rr) WHERE rank <= {k}
"""
    )


def _kmeans_cent_ctes(train_cap: int = 1 << 16) -> str:
    """CTE chain ending in ``cent(cid, cv)``: the k-means COARSE
    quantizer for the ivf/ivfpq families' ``coarse="kmeans"`` mode —
    clustering.train_centroids replayed over the stride-sampled
    training relation at dim 64, k = √n (capped at 65536): seeds = the
    k smallest hash60(id, SEED_ORDER_SALT), ONE rounded-mean recompute
    (iters=2), empty clusters keep their seed. cid = seed index 0..k-1
    (the engine's cid-sorted matrix argmax ties to the smaller index =
    ORDER BY … , cid)."""
    return f"""ctrk AS (
  SELECT id, v FROM pts
  WHERE id % (SELECT greatest(1, ceil(n / {train_cap}.0)::BIGINT) FROM nn) = 0
), ckk AS (
  SELECT greatest(1, least(CAST(floor(sqrt(count(*))) AS BIGINT), 65536)) AS k FROM pts
), cseeds AS (
  SELECT (rn - 1)::BIGINT AS cid, v AS c
  FROM (SELECT id, v, row_number() OVER (ORDER BY {_SEED_ORD}) AS rn FROM ctrk)
  WHERE rn <= (SELECT k FROM ckk)
), cd1 AS (
  SELECT t.id, s.cid, {_unrolled_dist2('t.v', 's.c')} AS d FROM ctrk t, cseeds s
), ca1 AS (
  SELECT id, cid FROM (
    SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY d, cid) AS rn
    FROM cd1) WHERE rn = 1
), ce1 AS (
  SELECT a.cid, unnest(range(1, 65)) AS pos, t.v AS v
  FROM ca1 a JOIN ctrk t USING (id)
), cm1 AS (
  SELECT cid, pos, round(avg(v[pos]), 6) AS val FROM ce1 GROUP BY cid, pos
), cc1 AS (
  SELECT cid, list(val ORDER BY pos) AS c FROM cm1 GROUP BY cid
), cent AS MATERIALIZED (
  SELECT s.cid, coalesce(c1.c, s.c) AS cv FROM cseeds s LEFT JOIN cc1 c1 USING (cid)
)"""


def _ivf_kmeans_sql(k: int = 5, n_probe: int = 2) -> str:
    """Replay of similarity.ivf_topk(coarse="kmeans"): the k-means
    coarse quantizer CTEs, then the standard ivf assignment / probing
    / exact-cosine scoring (ann_topk_ivf's shape with cent swapped)."""
    cosql = (
        f"({_unrolled_dot('v', 'cv')})"
        f" / (sqrt({_unrolled_dot('v', 'v')})"
        f" * sqrt({_unrolled_dot('cv', 'cv')}))"
    )
    return f"""
WITH pts AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
nn AS (SELECT count(*) AS n FROM pts),
{_kmeans_cent_ctes()},
asg AS (
  SELECT id, v AS nv, cid FROM (
    SELECT b.id, b.v, c.cid,
           row_number() OVER (PARTITION BY b.id ORDER BY {cosql} DESC, c.cid) AS rn
    FROM pts b, cent c) WHERE rn = 1
), probe AS (
  SELECT query_id, qv, cid FROM (
    SELECT b.id AS query_id, b.v AS qv, c.cid,
           row_number() OVER (PARTITION BY b.id ORDER BY {cosql} DESC, c.cid) AS rn
    FROM pts b, cent c WHERE b.id < 10) WHERE rn <= {n_probe}
), scored AS (
  SELECT query_id, a.id AS neighbor_id,
         round(({_unrolled_dot('qv', 'nv')})
               / (sqrt({_unrolled_dot('qv', 'qv')}) * sqrt({_unrolled_dot('nv', 'nv')})), 6)
           AS score
  FROM probe p JOIN asg a ON p.cid = a.cid
  WHERE p.query_id != a.id
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= {k}
"""


def _jpeg_420_sql() -> str:
    """Replay of jpeg_420_decode's flat RGB array in closed form —
    per flat index i: pixel p = i//3, channel c = i%3; the Y sample
    comes from Y block (y//8)·2mx + x//8 and the REPLICATED chroma
    from chroma block (y//16)·mx + x//16 (the 16×16 MCU footprint);
    conversion is floor(x + 0.5) with clamp, exactly the decoder's
    float64 ops in the same order."""
    yb = "(((i // 3) // w // 8) * 2 * mx + ((i // 3) % w // 8))"
    cbb = "(((i // 3) // w // 16) * mx + ((i // 3) % w // 16))"
    ys = f"((doc_id * 31 + {yb} * 17) % 256)"
    cbd = f"(((doc_id * 7 + {cbb} * 11) % 256) - 128)"
    crd = f"(((doc_id * 13 + {cbb} * 5) % 256) - 128)"
    return f"""
WITH t AS (
  SELECT doc_id, 16 * (1 + doc_id % 3) AS h, 16 * (1 + doc_id % 2) AS w,
         (1 + doc_id % 2) AS mx
  FROM documents
), px AS (
  SELECT doc_id, h, w,
    list_transform(range(0, h * w * 3), i ->
      CASE i % 3
        WHEN 0 THEN least(255, greatest(0, floor(
          {ys} + 1.402::DOUBLE * {crd} + 0.5::DOUBLE)::BIGINT))
        WHEN 1 THEN least(255, greatest(0, floor(
          {ys} - 0.344136::DOUBLE * {cbd}
          - 0.714136::DOUBLE * {crd} + 0.5::DOUBLE)::BIGINT))
        ELSE least(255, greatest(0, floor(
          {ys} + 1.772::DOUBLE * {cbd} + 0.5::DOUBLE)::BIGINT))
      END) AS vals
  FROM t
)
SELECT doc_id, h::INT AS dec_height, w::INT AS dec_width,
       len(vals)::INT AS n_values,
       list_reduce(vals, (a, b) -> a + b)::BIGINT AS px_sum,
       list_reduce(list_transform(range(0, len(vals)), i -> (i + 1) * vals[i + 1]),
                   (a, b) -> a + b)::BIGINT AS px_weighted
FROM px
"""


def _sketch_sql(vcol: str, n_bits: int = 16, seed_base: int = 7000, dim: int = 64) -> str:
    """sum of sign bits: bit i set iff <v, h_i> >= 0. Hyperplane
    components are ±1 (similarity.hyperplane_values), so each dot is a
    signed sum unrolled left-associated — bit-identical to the
    v[j]*h[j] fold (x*±1.0 is exact; 0.0 - x == -x; ±0.0 + y == y)
    and ~50× faster than the lambda form in DuckDB."""
    from nekton_spark.functions.similarity import hyperplane_values

    def dot(i):
        hs = hyperplane_values(seed_base + i, dim)
        expr = "".join(
            ("+ " if h > 0 else "- ") + f"{vcol}[{j}] "
            for j, h in enumerate(hs, start=1)
        )
        return expr[2:] if expr.startswith("+") else "0.0 " + expr

    return " + ".join(
        f"(CASE WHEN {dot(i)} >= 0 THEN {1 << i}::BIGINT ELSE 0::BIGINT END)"
        for i in range(n_bits)
    )


def _bpe_encode_sql(final_select: str | None = None) -> str:
    """Literal replay of functions/bpe.bpe_encode under STD_MERGES: a
    recursive CTE applies ONE merge per iteration — the (lowest-rank,
    then leftmost) applicable pair, exactly encode_word's loop — to
    every distinct word until no rule applies. Pair lookup keys are
    ``left || chr(31) || right`` against the literal rank-ordered key
    list (chr(31) cannot occur inside a symbol: symbols are single
    corpus chars or concatenations of STD_MERGES sides, asserted
    sep-free here); argmin over (rank, position) is a list_min over
    rank*100000+pos encodings (word length < 100000 by construction).
    Vocab ids replay build_vocab: distinct code points in binary
    order, then merge outputs by first rank. DuckDB's length()/s[i:i]
    are code-point-based like Python's list(word) — verified."""
    from nekton_spark.functions.bpe import STD_MERGES

    for l, r in STD_MERGES:
        assert chr(31) not in l and chr(31) not in r
    mk = "[" + ", ".join(
        "'" + (l + chr(31) + r).replace("'", "''") + "'" for l, r in STD_MERGES
    ) + "]"
    mout_vals = ", ".join(
        "('{0}', {1})".format((l + r).replace("'", "''"), i + 1)
        for i, (l, r) in enumerate(STD_MERGES)
    )
    best = (
        "list_min(list_filter(list_transform(range(1, len(s)), p -> "
        f"CASE WHEN list_position({mk}, s[p] || chr(31) || s[p+1]) > 0 "
        f"THEN list_position({mk}, s[p] || chr(31) || s[p+1]) * 100000 + p END), "
        "x -> x IS NOT NULL))"
    )
    return f"""
WITH RECURSIVE
words AS (
  SELECT doc_id, wpos, w FROM (
    SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS wpos
    FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
  ) WHERE len(w) > 0
),
dw AS (SELECT DISTINCT w FROM words),
enc AS (
  SELECT w, list_transform(range(1, length(w) + 1), i -> w[i:i]) AS s FROM dw
  UNION ALL
  SELECT w, s[1:p-1] || [s[p] || s[p+1]] || s[p+2:] AS s
  FROM (
    SELECT w, s, bk % 100000 AS p
    FROM (SELECT w, s, {best} AS bk FROM enc)
    WHERE bk IS NOT NULL
  )
),
final AS (SELECT w, s FROM enc WHERE {best} IS NULL),
alpha AS (
  SELECT ch, row_number() OVER (ORDER BY ch) - 1 AS id
  FROM (SELECT DISTINCT unnest(list_transform(range(1, length(w) + 1), i -> w[i:i])) AS ch
        FROM dw)
),
mout AS (
  SELECT out, min(rk) AS rk
  FROM (SELECT * FROM (VALUES {mout_vals}) AS t(out, rk))
  WHERE out NOT IN (SELECT ch FROM alpha)
  GROUP BY out
),
vocab AS (
  SELECT ch AS tok, id FROM alpha
  UNION ALL
  SELECT out, (SELECT count(*) FROM alpha) + row_number() OVER (ORDER BY rk) - 1 AS id
  FROM mout
),
ftoks AS (SELECT w, unnest(s) AS tok, generate_subscripts(s, 1) AS tpos FROM final),
wid AS (
  SELECT w, list(id ORDER BY tpos) AS ids
  FROM (SELECT f.w, f.tpos, v.id FROM ftoks f JOIN vocab v ON v.tok = f.tok)
  GROUP BY w
),
flat AS (
  SELECT doc_id, flatten(list(ids ORDER BY wpos)) AS bpe_ids
  FROM (SELECT wo.doc_id, wo.wpos, wi.ids FROM words wo JOIN wid wi USING (w))
  GROUP BY doc_id
)
{final_select or '''SELECT d.doc_id,
       coalesce(len(f.bpe_ids), 0)::INT AS n_bpe,
       coalesce(array_to_string(f.bpe_ids, ','), '') AS ids_csv
FROM documents d LEFT JOIN flat f USING (doc_id)'''}
"""


def oracle_sql() -> dict[str, str]:
    # Auto-width replay (similarity._resolve_band_width with bands=4,
    # target_bucket=64): the sketch is generated at the maximum width
    # the policy can pick (4 bands × 14 bits = 56) and the band masks
    # below select only the lower 4r bits — bit i is the same
    # hyperplane on both engines, so masking the wide sketch equals
    # sketching at the narrow width. r itself is integer-exact:
    # ceil(log2(m)) over the integer m = ceil(n/64) (bit_length in
    # Python; ceil(log2(m)) is safe in SQL because for integer m the
    # only near-integer log2 values are exact powers of two, where
    # IEEE log2 is exact).
    sketch56 = _sketch_sql("v", n_bits=56)
    autowidth = """
nn AS (SELECT count(*) AS n FROM embeddings),
pp AS (SELECT least(greatest(2, CAST(ceil(log2(greatest((n + 63) // 64, 1))) AS BIGINT)), 14) AS r FROM nn)"""
    lang_cte = _lang_sql()
    return {
        # bpe_merge_candidates: adjacent char pairs over all word
        # occurrences; 1-based substr windows identical in both engines
        "bpe_encode_docs": _bpe_encode_sql(),
        # bpe_roundtrip: same recursive-CTE encode replay for n_bpe;
        # roundtrip_ok pinned true (closed-form expectation) — the
        # engine computes decode(encode(x)) == char-stream for real
        "bpe_roundtrip": _bpe_encode_sql(
            """SELECT d.doc_id,
       coalesce(len(f.bpe_ids), 0)::INT AS n_bpe,
       true AS roundtrip_ok
FROM documents d LEFT JOIN flat f USING (doc_id)"""
        ),
        "bpe_merge_candidates": f"""
WITH w AS (SELECT unnest({_TOKS}) AS w FROM documents),
p AS (SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair
      FROM w WHERE length(w) >= 2),
a AS (SELECT pair, count(*)::BIGINT AS n_occurrences FROM p GROUP BY pair)
SELECT pair, n_occurrences,
       row_number() OVER (ORDER BY n_occurrences DESC, pair)::INT AS rank
FROM a ORDER BY n_occurrences DESC, pair LIMIT 50
""",
        # curriculum_buckets: the text_quality score feeding a standard
        # ntile(4) with deterministic (score desc, id) order
        "curriculum_buckets": f"""
WITH m AS (
  SELECT doc_id,
         (CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
               ELSE len({_TOKS}) END)::DOUBLE AS n_tok,
         CASE WHEN length(coalesce(text, '')) = 0 THEN 0.0
              ELSE length(regexp_replace(text, '{_PUNCT_RE}', '', 'g'))::DOUBLE / length(text)
         END AS punct_r,
         CASE WHEN len({_TOKS_LOWER}) <= 0 THEN 0.0
              ELSE 1.0 - len(list_distinct({_TOKS_LOWER}))::DOUBLE / len({_TOKS_LOWER})
         END AS rep_r,
         CASE WHEN len({_TOKS}) = 0 THEN 0.0
              ELSE list_reduce(list_transform({_TOKS}, t -> length(t)), (a, b) -> a + b)::DOUBLE
                   / len({_TOKS})
         END AS mwl
  FROM documents
), q AS (SELECT doc_id, {_QUALITY_EXPR} AS score FROM m)
SELECT doc_id::BIGINT AS doc_id, score,
       ntile(4) OVER (ORDER BY score DESC, doc_id)::INT AS bucket
FROM q
""",
        # classifier_trained: vocabulary = distinct tokens of every
        # 10th doc with integer milli-weights; unseen tokens weigh 0;
        # token-less docs restored at score 0. Same exact-integer-sum /
        # single-division contract as classifier_score_docs.
        "classifier_trained": f"""
WITH w AS (
  SELECT token, ({_H('token', '4200')} % 2001 - 1000)::INT AS weight_milli
  FROM (SELECT DISTINCT tok AS token FROM (
          SELECT unnest({_TOKS}) AS tok FROM documents WHERE doc_id % 10 = 0)
        WHERE length(tok) > 0)
), t AS (SELECT doc_id, list_filter({_TOKS}, x -> length(x) > 0) AS tk
         FROM documents),
a AS (SELECT doc_id, count(*)::INT AS n_tokens,
             sum(coalesce(w.weight_milli, 0))::BIGINT AS ws
      FROM (SELECT doc_id, unnest(tk) AS tok FROM t)
      LEFT JOIN w ON tok = w.token GROUP BY doc_id)
SELECT t.doc_id::BIGINT AS doc_id,
       coalesce(a.n_tokens, 0)::INT AS n_tokens,
       (CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN 0.0
             ELSE a.ws::DOUBLE / (1000.0 * a.n_tokens) END) AS clf_score,
       (CASE WHEN coalesce(a.n_tokens, 0) > 0
             AND a.ws::DOUBLE / (1000.0 * a.n_tokens) > 0
             THEN 1 ELSE 0 END)::INT AS clf_label
FROM t LEFT JOIN a USING (doc_id)
""",
        "token_length_histogram": f"""
WITH t AS (SELECT (CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
                   ELSE len({_TOKS}) END) // 50 AS bin FROM documents),
a AS (SELECT bin, count(*)::BIGINT AS n_docs FROM t GROUP BY bin),
tot AS (SELECT count(*)::BIGINT AS total FROM t)
SELECT (bin * 50)::BIGINT AS bin_lo, (bin * 50 + 49)::BIGINT AS bin_hi,
       n_docs, n_docs::DOUBLE / total AS frac
FROM a, tot ORDER BY bin_lo
""",
        "fuzzy_decontamination": _fuzzy_decon_sql(threshold=0.5),
        # boilerplate_removal: identical 5-token line view, identical
        # normalize (lower + \s+ collapse + trim) key, >=3-distinct-doc
        # mining (list_distinct first so intra-doc repeats vote once),
        # flagged set applied as a pure list_filter rewrite
        "boilerplate_removal": f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
d AS (SELECT doc_id,
             list_transform(range(0, (len(toks) + 4) // 5),
                            i -> array_to_string(toks[i*5+1:i*5+5], ' ')) AS ls
      FROM t),
l AS (SELECT doc_id,
             unnest(list_distinct(list_transform(ls,
               x -> trim(regexp_replace(lower(x), '\\s+', ' ', 'g'))))) AS k
      FROM d),
f AS (SELECT k FROM l WHERE k <> '' GROUP BY k HAVING count(*) >= 3),
b AS (SELECT coalesce(list(k), []::VARCHAR[]) AS bl FROM f)
SELECT doc_id::BIGINT AS doc_id,
       len(ls)::INT AS n_lines,
       (len(ls) - len(kept))::INT AS n_removed,
       md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_fp
FROM (SELECT doc_id, ls,
             list_filter(ls, x -> NOT list_contains(b.bl,
               trim(regexp_replace(lower(x), '\\s+', ' ', 'g')))) AS kept
      FROM d, b)
""",
        # line_dedup_firstkeep: identical 5-token line view + normalize
        # key; "first" = lexicographic-min (doc_id, pos), replayed as
        # min(doc_id*2^20 + pos) — exact while doc_id >= 0 and every doc
        # has < 2^20 lines (synthetic docs: < 2^6), which is the regime
        # the driver compares in; the ENGINE contract is the struct min
        "line_dedup_firstkeep": f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
d AS (SELECT doc_id,
             list_transform(range(0, (len(toks) + 4) // 5),
                            i -> array_to_string(toks[i*5+1:i*5+5], ' ')) AS ls
      FROM t),
e AS (SELECT doc_id, unnest(range(0, len(ls))) AS pos, unnest(ls) AS line FROM d),
n AS (SELECT doc_id, pos, line,
             trim(regexp_replace(lower(line), '\\s+', ' ', 'g')) AS k
      FROM e),
f AS (SELECT k, min(doc_id * 1048576 + pos) AS ford
      FROM n WHERE k <> '' GROUP BY k HAVING count(*) >= 2),
j AS (SELECT n.doc_id, n.pos, n.line,
             (f.k IS NULL OR n.doc_id * 1048576 + n.pos = f.ford) AS keep
      FROM n LEFT JOIN f USING (k))
SELECT doc_id::BIGINT AS doc_id,
       count(*)::INT AS n_lines,
       (count(*) - count(*) FILTER (keep))::INT AS n_removed,
       md5(coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (keep), '')) AS clean_fp
FROM j GROUP BY doc_id
""",
        # classifier_score_docs: integer milli-weight sum (hash60 mod
        # 2001 - 1000 per token) as BIGINT, one division at the end —
        # no float accumulation order to disagree on
        "classifier_score_docs": f"""
WITH t AS (SELECT doc_id, list_filter({_TOKS}, x -> length(x) > 0) AS tk
           FROM documents),
a AS (SELECT doc_id, count(*)::INT AS n_tokens,
             sum(({_H('tok', '4100')} % 2001 - 1000))::BIGINT AS ws
      FROM (SELECT doc_id, unnest(tk) AS tok FROM t) GROUP BY doc_id)
SELECT t.doc_id::BIGINT AS doc_id,
       coalesce(a.n_tokens, 0)::INT AS n_tokens,
       (CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN 0.0
             ELSE a.ws::DOUBLE / (1000.0 * a.n_tokens) END) AS clf_score,
       (CASE WHEN coalesce(a.n_tokens, 0) > 0
             AND a.ws::DOUBLE / (1000.0 * a.n_tokens) > 0
             THEN 1 ELSE 0 END)::INT AS clf_label
FROM t LEFT JOIN a USING (doc_id)
""",
        "q01_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*)::BIGINT AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
""",
        "q03_shipping_priority": """
SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey LIMIT 10
""",
        "q05_region_revenue": """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name ORDER BY n_name
""",
        "q06_forecast_revenue": """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*)::BIGINT AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
""",
        "q10_returned_items": """
SELECT c_custkey, c_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
GROUP BY c_custkey, c_name ORDER BY revenue DESC, c_custkey LIMIT 20
""",
        "topk_customers_per_nation": """
SELECT c_nationkey, c_custkey, round(c_acctbal, 2) AS acctbal, rn FROM (
  SELECT c_nationkey, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
  FROM customer) WHERE rn <= 5
""",
        "rollup_orders": """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       round(sum(o_totalprice), 2) AS total_price, count(*)::BIGINT AS n_orders
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
        "distinct_customers_per_segment": """
SELECT c_mktsegment, count(DISTINCT o_custkey)::BIGINT AS n_customers,
       count(*)::BIGINT AS n_orders, round(sum(o_totalprice), 2) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment
""",
        "customers_without_orders": """
SELECT c_nationkey, count(*)::BIGINT AS n_customers FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
""",
        "set_ops_customers": """
SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
""",
        "scalar_functions": """
SELECT o_orderkey,
       year(o_orderdate)::INT AS order_year,
       month(o_orderdate)::INT AS order_month,
       substr(o_orderpriority, 1, 1)::INT AS priority_num,
       upper(o_orderstatus) AS status_upper,
       length(o_orderpriority)::INT AS prio_len,
       round(abs(o_totalprice - 100000.0), 2) AS abs_diff,
       (o_orderkey % 7)::BIGINT AS key_mod,
       concat_ws('-', o_orderstatus, o_orderpriority) AS status_prio
FROM orders
""",
        "pivot_order_status": """
SELECT o_orderpriority,
       round(sum(o_totalprice) FILTER (o_orderstatus = 'F'), 2) AS total_f,
       round(sum(o_totalprice) FILTER (o_orderstatus = 'O'), 2) AS total_o,
       round(sum(o_totalprice) FILTER (o_orderstatus = 'P'), 2) AS total_p
FROM orders GROUP BY o_orderpriority
""",
        "grouping_sets_orders": """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       round(sum(o_totalprice), 2) AS total_price, count(*)::BIGINT AS n_orders
FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
        "exists_subquery": """
SELECT o_orderkey, round(o_totalprice, 2) AS total FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R' AND l_quantity > 45)
""",
        "running_revenue_window": """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER w, 2) AS running_total,
       row_number() OVER w AS order_seq
FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
        "percentiles_by_segment": """
SELECT c_mktsegment,
       round(quantile_cont(c_acctbal, 0.5), 4) AS median_bal,
       round(quantile_cont(c_acctbal, 0.9), 4) AS p90_bal,
       round(min(c_acctbal), 2) AS min_bal, round(max(c_acctbal), 2) AS max_bal
FROM customer GROUP BY c_mktsegment
""",
        "min_max_by_nation": """
SELECT c_nationkey,
       max(CASE WHEN rn_asc = 1 THEN c_name END) AS poorest,
       max(CASE WHEN rn_desc = 1 THEN c_name END) AS richest
FROM (
  SELECT c_nationkey, c_name,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal ASC NULLS LAST, c_custkey) AS rn_asc,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC NULLS LAST, c_custkey DESC) AS rn_desc
  FROM customer)
GROUP BY c_nationkey
""",
        "conditional_aggregation": """
SELECT l_returnflag, count(*)::BIGINT AS n_all,
       (count(*) FILTER (l_discount > 0.05))::BIGINT AS n_discounted,
       round(sum(l_extendedprice) FILTER (l_quantity > 25), 2) AS rev_bulk,
       round(avg(l_extendedprice) FILTER (l_tax > 0.04), 4) AS avg_taxed
FROM lineitem GROUP BY l_returnflag
""",
        "date_arithmetic": """
SELECT o_orderkey,
       strftime(o_orderdate::DATE + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS order_month,
       datediff('day', o_orderdate::DATE, DATE '2002-01-01')::INT AS days_to_2002,
       (dayofweek(o_orderdate) + 1)::INT AS dow,
       quarter(o_orderdate)::INT AS qtr,
       strftime(last_day(o_orderdate::DATE), '%Y-%m-%d') AS month_end
FROM orders
""",
        "string_functions": """
SELECT c_custkey,
       lpad(c_name, 25, '*') AS padded,
       translate(c_mktsegment, 'AEIOU', 'aeiou') AS translated,
       reverse(c_name) AS reversed,
       split_part(c_name, '#', 1) AS name_prefix,
       left(c_mktsegment, 3) AS seg3,
       length(c_name) - length(replace(c_name, '0', '')) AS zeros,
       position('5' IN c_name)::INT AS pos5
FROM customer
""",
        "range_join_value_bands": """
WITH bands AS (SELECT i AS band_id, i * 10.0 AS lo, (i + 1) * 10.0 AS hi FROM range(10) t(i))
SELECT band_id::INT AS band_id, count(*)::BIGINT AS n_events, round(sum(value), 2) AS total
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY band_id
""",
        "dedup_ngram_dfcut": f"""
WITH base AS (
  SELECT doc_id, list_distinct({_SHINGLES}) AS sh
  FROM (SELECT doc_id, {_TOKS} AS toks, text FROM documents)
), nonempty AS (
  SELECT doc_id, sh FROM base WHERE len(sh) > 0
), inv0 AS (
  SELECT doc_id, unnest(list_transform(sh, g -> {_H('g', '0')})) AS g FROM nonempty
), cut AS (
  SELECT g FROM inv0 GROUP BY g HAVING count(*) > 50
), inv AS (
  SELECT doc_id, g FROM inv0 ANTI JOIN cut USING (g)
), sizes AS (
  SELECT doc_id, count(*)::BIGINT AS sz FROM inv GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS shared
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, shared::DOUBLE / (sa.sz + sb.sz - shared) AS jaccard
FROM shared JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
WHERE shared::DOUBLE / (sa.sz + sb.sz - shared) >= 0.15
""",
        # dedup_ngram_sampled: the dfcut audit over the deterministic
        # half-sample (hash60(42:doc_id) % 1e6 < 5e5 — same predicate
        # as sample_hash_10pct at rate 0.5)
        "dedup_ngram_sampled": f"""
WITH sampled AS (
  SELECT doc_id, text FROM documents
  WHERE (('0x' || substr(md5('42' || ':' || doc_id::VARCHAR), 1, 15))::BIGINT % 1000000)
        < 500000
), base AS (
  SELECT doc_id, list_distinct({_SHINGLES}) AS sh
  FROM (SELECT doc_id, {_TOKS} AS toks, text FROM sampled)
), nonempty AS (
  SELECT doc_id, sh FROM base WHERE len(sh) > 0
), inv0 AS (
  SELECT doc_id, unnest(list_transform(sh, g -> {_H('g', '0')})) AS g FROM nonempty
), cut AS (
  SELECT g FROM inv0 GROUP BY g HAVING count(*) > 50
), inv AS (
  SELECT doc_id, g FROM inv0 ANTI JOIN cut USING (g)
), sizes AS (
  SELECT doc_id, count(*)::BIGINT AS sz FROM inv GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS shared
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, shared::DOUBLE / (sa.sz + sb.sz - shared) AS jaccard
FROM shared JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
WHERE shared::DOUBLE / (sa.sz + sb.sz - shared) >= 0.15
""",
        # The child is `awk '{print NF}'`: one record per newline, NF =
        # count of maximal non-blank ([^ \t]) runs; a trailing newline in
        # `text` yields an empty final record (awk prints "0", kept by the
        # empty-drop rule since "0" is non-empty), which string_split
        # reproduces exactly. value column is a string in the message
        # model, hence the VARCHAR cast.
        "pipe_subprocess": """
SELECT doc_id::BIGINT AS batch_id,
       len(regexp_extract_all(line, '[^ \t]+'))::VARCHAR AS n_fields
FROM (
  SELECT doc_id, unnest(string_split(coalesce(text, ''), chr(10))) AS line
  FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 50)
)
""",
        "sample_hash_10pct": """
SELECT doc_id, lang, n_chars FROM documents
WHERE (('0x' || substr(md5('42' || ':' || doc_id::VARCHAR), 1, 15))::BIGINT % 1000000) < 100000
""",
        "stratified_sample": """
SELECT lang, count(*)::BIGINT AS n_docs, sum(doc_id)::BIGINT AS id_sum
FROM documents
WHERE (lang = 'en' AND (('0x' || substr(md5('42' || ':' || doc_id::VARCHAR), 1, 15))::BIGINT % 1000000) < 300000)
   OR (lang IN ('de', 'es', 'fr', 'zh')
       AND (('0x' || substr(md5('42' || ':' || doc_id::VARCHAR), 1, 15))::BIGINT % 1000000) < 1000000)
GROUP BY lang
""",
        "train_val_test_split": """
SELECT CASE WHEN (('0x' || substr(md5('42' || ':' || doc_id::VARCHAR), 1, 15))::BIGINT % 1000000) < 800000 THEN 'train'
            WHEN (('0x' || substr(md5('42' || ':' || doc_id::VARCHAR), 1, 15))::BIGINT % 1000000) < 900000 THEN 'val'
            ELSE 'test' END AS split,
       count(*)::BIGINT AS n_docs, min(doc_id) AS min_id
FROM documents GROUP BY split
""",
        "dedup_connected_components": f"""
WITH RECURSIVE {_minhash_ctes(0.15)}, edges AS (
  SELECT id_a AS s, id_b AS d FROM mpairs UNION SELECT id_b, id_a FROM mpairs
), reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.id
)
SELECT id AS doc_id, min(r) AS component, (min(r) = id) AS is_representative
FROM reach GROUP BY id
""",
        # dedup_keep_best: the SAME pair graph + recursive reachability
        # as dedup_connected_components, then the keeper election —
        # highest quality_score per component, ties to the smaller id.
        "dedup_keep_best": f"""
WITH RECURSIVE {_minhash_ctes(0.15)}, edges AS (
  SELECT id_a AS s, id_b AS d FROM mpairs UNION SELECT id_b, id_a FROM mpairs
), reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.id
), comp AS (
  SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
), m AS (
  SELECT doc_id,
         (CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
               ELSE len({_TOKS}) END)::DOUBLE AS n_tok,
         CASE WHEN length(coalesce(text, '')) = 0 THEN 0.0
              ELSE length(regexp_replace(text, '{_PUNCT_RE}', '', 'g'))::DOUBLE / length(text)
         END AS punct_r,
         CASE WHEN len({_TOKS_LOWER}) <= 0 THEN 0.0
              ELSE 1.0 - len(list_distinct({_TOKS_LOWER}))::DOUBLE / len({_TOKS_LOWER})
         END AS rep_r,
         CASE WHEN len({_TOKS}) = 0 THEN 0.0
              ELSE list_reduce(list_transform({_TOKS}, t -> length(t)), (a, b) -> a + b)::DOUBLE
                   / len({_TOKS})
         END AS mwl
  FROM documents
), q AS (SELECT doc_id, {_QUALITY_EXPR} AS quality FROM m)
SELECT c.doc_id, c.component, q.quality,
       (row_number() OVER (PARTITION BY c.component
                           ORDER BY q.quality DESC, c.doc_id) = 1) AS keep
FROM comp c JOIN q USING (doc_id)
""",
        "approx_distinct_check": """
SELECT o_orderpriority, count(DISTINCT o_custkey)::BIGINT AS exact_customers,
       true AS within_10pct
FROM orders GROUP BY o_orderpriority
""",
        # distinct_kmv: full replay of the KMV sketch — the k=256
        # smallest distinct hash60(o_custkey, 5100) per priority;
        # est = floor(255 * 2^60 / h_k) (exact-double multiplication,
        # one IEEE division), or the exact hash count when the sketch
        # saw everything.
        "distinct_kmv": f"""
WITH hs AS (
  SELECT DISTINCT o_orderpriority AS g, {_H('o_custkey', '5100')} AS h
  FROM orders WHERE o_custkey IS NOT NULL),
rk AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM hs),
agg AS (SELECT g, count(*) AS sz, max(h) AS hk FROM rk WHERE rn <= 256 GROUP BY g),
ex AS (SELECT o_orderpriority AS g, count(DISTINCT o_custkey)::BIGINT AS ed
       FROM orders GROUP BY 1)
SELECT g AS o_orderpriority,
       (CASE WHEN sz < 256 THEN sz::DOUBLE
             ELSE floor(255.0 * 1152921504606846976.0 / hk) END)::BIGINT
         AS est_distinct,
       sz::BIGINT AS sketch_size, ed AS exact_distinct
FROM agg JOIN ex USING (g)
""",
        "approx_quantile_check": """
SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_median,
       true AS within_5pct
FROM lineitem GROUP BY l_returnflag
""",
        "events_tumbling_window": """
SELECT (floor(epoch(ts) / 300) * 300)::BIGINT AS window_start, event_type,
       count(*)::BIGINT AS n_events, round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2
""",
        "events_sessionization": """
WITH flagged AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, sum(new_session)::BIGINT AS n_sessions, count(*)::BIGINT AS n_events
FROM flagged GROUP BY user_id
""",
        "events_topk_users": """
SELECT user_id, total_value, rank FROM (
  SELECT user_id, total_value,
         row_number() OVER (ORDER BY total_value DESC, user_id) AS rank
  FROM (SELECT user_id, round(sum(value), 2) AS total_value FROM events GROUP BY user_id))
WHERE rank <= 10
""",
        # real JSON semantics, not a digit-regex shortcut: NULL and
        # malformed props must yield NULL like Spark's get_json_object
        # (the fuzzer's malformed-props leg crashed the old regex form
        # on ''::INT). TRY_CAST, not ::INT: valid JSON with a
        # non-numeric k ('{"k": "x"}') is NULL under Spark's cast, and
        # a strict cast would crash the oracle instead (r7 ADVICE).
        "events_json_extract": r"""
SELECT (CASE WHEN props IS NOT NULL AND json_valid(props)
             THEN TRY_CAST(json_extract_string(props, '$.k') AS INT) END) AS k,
       count(*)::BIGINT AS n
FROM events GROUP BY k
""",
        "q04_order_priority": """
SELECT o_orderpriority, count(*)::BIGINT AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
        "q14_promo_revenue": """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct,
       count(*)::BIGINT AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
""",
        "q02_min_cost_part": """
SELECT p_partkey, p_brand, round(p_retailprice, 2) AS price
FROM part p1
WHERE p_retailprice = (SELECT min(p_retailprice) FROM part p2 WHERE p2.p_brand = p1.p_brand)
""",
        "events_lead_lag": """
SELECT event_id, user_id, event_type,
       lead(event_type) OVER w AS next_type,
       (epoch_us(lead(ts) OVER w) - epoch_us(ts))::BIGINT AS us_to_next,
       first_value(event_type) OVER w AS first_type
FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
        "null_semantics": """
WITH wn AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN l_discount > 0.05 THEN l_discount END AS maybe_disc,
         nullif(l_returnflag, 'N') AS flag_or_null
  FROM lineitem
)
SELECT flag_or_null, count(*)::BIGINT AS n_rows,
       count(maybe_disc)::BIGINT AS n_nonnull_disc,
       round(coalesce(avg(maybe_disc), -1.0), 6) AS avg_disc_or_neg1,
       (count(*) FILTER (maybe_disc IS NULL))::BIGINT AS n_null_disc
FROM wn GROUP BY flag_or_null
""",
        "events_sliding_window": """
WITH wins AS (
  SELECT event_type,
         unnest([ (floor(epoch(ts) / 300) * 300)::BIGINT,
                  (floor(epoch(ts) / 300) * 300)::BIGINT - 300 ]) AS window_start,
         epoch(ts) AS es
  FROM events
)
SELECT window_start, event_type, count(*)::BIGINT AS n_events
FROM wins WHERE es >= window_start AND es < window_start + 600
GROUP BY 1, 2
""",
        "q18_large_orders": """
SELECT c_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       round(o_totalprice, 2) AS total_price, total_qty
FROM (SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING round(sum(l_quantity), 2) > 270) big
JOIN orders ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
""",
        "q07_volume_shipping": """
SELECT supp_nation, cust_nation, l_year, revenue FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate)::INT AS l_year,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  GROUP BY 1, 2, 3)
""",
        "q08_market_share": """
SELECT year(o_orderdate)::INT AS o_year,
       round(sum(CASE WHEN n1.n_name = 'NATION_3'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
JOIN region ON n2.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
WHERE p_type = 'ECONOMY' AND r_name = 'EUROPE'
GROUP BY 1
""",
        "q09_product_profit": """
SELECT n_name AS nation, year(o_orderdate)::INT AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
""",
        "q11_important_suppliers": """
WITH per_supp AS (
  SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS rev
  FROM lineitem GROUP BY l_suppkey)
SELECT l_suppkey, round(rev, 2) AS supp_revenue
FROM per_supp WHERE rev > (SELECT avg(rev) * 1.05 FROM per_supp)
""",
        "q16_part_supplier_counts": """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_type != 'PROMO' AND p_size NOT IN (11, 22, 33)
GROUP BY 1, 2, 3
""",
        "q20_excess_suppliers": """
WITH red AS (
  SELECT l_partkey, l_suppkey, l_quantity
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%red%'
    AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'),
per_ps AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS sq FROM red GROUP BY 1, 2),
per_p AS (
  SELECT l_partkey, sum(l_quantity) * 0.5 AS half_total FROM red GROUP BY 1)
SELECT DISTINCT s_suppkey, s_name
FROM per_ps
JOIN per_p USING (l_partkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE sq > half_total
""",
        "q21_waiting_orders": """
WITH lo AS (
  SELECT l_orderkey, l_suppkey,
         (l_shipdate > o_orderdate + INTERVAL 90 DAY) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp
  FROM lo GROUP BY l_orderkey),
culprit AS (
  SELECT DISTINCT lo.l_orderkey, lo.l_suppkey
  FROM lo JOIN per_order USING (l_orderkey)
  WHERE lo.late AND n_supp > 1 AND n_late_supp = 1)
SELECT s_name, count(*)::BIGINT AS numwait
FROM culprit JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
""",
        "q12_late_shipments": """
SELECT year(l_shipdate)::INT AS ship_year,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT
         AS high_line_count,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)::BIGINT
         AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY 1
""",
        "q13_customer_distribution": """
SELECT c_count, count(*)::BIGINT AS custdist FROM (
  SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey)
GROUP BY c_count
""",
        "q15_top_supplier": """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_rev
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_rev = (SELECT max(total_rev) FROM revenue)
""",
        "q17_small_quantity_revenue": """
WITH t AS (
  SELECT l_quantity, l_extendedprice,
         avg(l_quantity) OVER (PARTITION BY l_partkey) AS avg_qty
  FROM lineitem)
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly, count(*)::BIGINT AS n_lines
FROM t WHERE l_quantity < 0.5 * avg_qty
""",
        "q19_discounted_revenue": """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*)::BIGINT AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
""",
        "q22_idle_customers": """
SELECT n_name, count(*)::BIGINT AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY n_name
""",
        "scalar_subquery_above_avg": """
SELECT o_orderpriority, count(*)::BIGINT AS n_above_avg
FROM orders WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
GROUP BY o_orderpriority
""",
        "unpivot_lineitem_metrics": """
WITH agg AS (
  SELECT l_returnflag, round(sum(l_quantity), 2) AS qty,
         round(sum(l_extendedprice), 2) AS price, round(sum(l_discount), 2) AS disc
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'qty' AS metric, qty AS value FROM agg
UNION ALL SELECT l_returnflag, 'price', price FROM agg
UNION ALL SELECT l_returnflag, 'disc', disc FROM agg
""",
        "events_interval_join": """
SELECT p.event_id, p.user_id, epoch_us(p.ts)::BIGINT AS purchase_us,
       c.click_id, epoch_us(c.ts)::BIGINT AS click_us
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
JOIN (SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
""",
        "events_asof_join": """
SELECT p.event_id, p.user_id, epoch_us(p.ts)::BIGINT AS purchase_us,
       epoch_us(c.ts)::BIGINT AS last_click_us, c.click_id
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
        "pipe_replace": """
SELECT doc_id, replace(coalesce(text, ''), 'data', 'DATA') AS value FROM documents
""",
        "pipe_regex_replace": """
SELECT doc_id, regexp_replace(coalesce(text, ''), '[aeiou]', '_', 'g') AS value FROM documents
""",
        "pipe_regex_split": """
WITH t AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS parts FROM documents),
u AS (SELECT doc_id, parts, unnest(range(1, len(parts) + 1)) AS i FROM t)
SELECT doc_id, (i - 1)::INT AS pos, parts[i] AS token FROM u
""",
        "pipe_regex_select": r"""
WITH t AS (SELECT doc_id, regexp_extract_all(coalesce(text, ''), '\b[bs][a-z]*') AS parts FROM documents),
u AS (SELECT doc_id, parts, unnest(range(1, len(parts) + 1)) AS i FROM t)
SELECT doc_id, (i - 1)::INT AS pos, parts[i] AS token FROM u
""",
        "pipeline_chain": """
WITH t AS (SELECT doc_id, string_split(replace(coalesce(text, ''), 'table', 'TBL'), ' ') AS parts
           FROM documents),
u AS (SELECT doc_id, parts, unnest(range(1, len(parts) + 1)) AS i FROM t)
SELECT doc_id AS batch_id, (i - 1)::BIGINT AS pos, parts[i] AS token FROM u
""",
        # compression_quality (r15 verdict #6, rows-only → constrained
        # oracle): zlib_bytes has no DuckDB replay (no DEFLATE), so the
        # Spark row returns what IS replayable — exact UTF-8 byte
        # length plus three self-consistency/envelope bits the engine
        # must prove true per document (ratio = round(z/n, 6), flag =
        # thresholds on ratio, z inside zlib's compressBound); the raw
        # DEFLATE lengths stay pinned by fixed-vector unit tests
        "compression_quality": """
SELECT doc_id,
       octet_length(encode(coalesce(text, '')))::INT AS n_bytes,
       1::INT AS ratio_consistent,
       1::INT AS flag_consistent,
       1::INT AS zlib_in_bounds
FROM documents
""",
        "text_stats": f"""
WITH t AS (
  SELECT doc_id, text, {_TOKS} AS toks, {_TOKS_LOWER} AS toksl FROM documents
)
SELECT doc_id,
       (CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0 ELSE len(toks) END)::INT AS n_tokens,
       len(regexp_extract_all(coalesce(text, ''), '{_BPE_RE}'))::INT AS n_bpe_tokens,
       round(CASE WHEN len(toksl) <= 0 THEN 0.0
             ELSE 1.0 - len(list_distinct(toksl))::DOUBLE / len(toksl) END, 6) AS repetition_ratio,
       round(CASE WHEN len(toks) = 0 THEN 0.0
             ELSE list_reduce(list_transform(toks, t -> length(t)), (a, b) -> a + b)::DOUBLE
                  / len(toks) END, 6) AS mean_word_len,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
FROM t
""",
        "lang_id_trained": _langid_trained_sql(),
        "dsir_select": _dsir_sql(),
        "text_quality": lang_cte
        + f"""
, m AS (
  SELECT doc_id,
         (CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
               ELSE len({_TOKS}) END)::DOUBLE AS n_tok,
         CASE WHEN length(coalesce(text, '')) = 0 THEN 0.0
              ELSE length(regexp_replace(text, '{_PUNCT_RE}', '', 'g'))::DOUBLE / length(text)
         END AS punct_r,
         CASE WHEN len({_TOKS_LOWER}) <= 0 THEN 0.0
              ELSE 1.0 - len(list_distinct({_TOKS_LOWER}))::DOUBLE / len({_TOKS_LOWER})
         END AS rep_r,
         CASE WHEN len({_TOKS}) = 0 THEN 0.0
              ELSE list_reduce(list_transform({_TOKS}, t -> length(t)), (a, b) -> a + b)::DOUBLE
                   / len({_TOKS})
         END AS mwl
  FROM documents
)
SELECT m.doc_id, {_QUALITY_EXPR} AS quality,
       CASE {" ".join(f"WHEN s_{c} = best AND best > 0 THEN '{c}'" for c in sorted(ta.LANG_PROFILES))} ELSE 'und' END AS lang_guess
FROM m JOIN b ON m.doc_id = b.doc_id
""",
        "gopher_quality_rules": f"""
WITH t AS (
  SELECT doc_id, text, {_TOKS} AS toks, {_TOKS_LOWER} AS toksl,
         string_split(coalesce(text, ''), chr(10)) AS lines
  FROM documents
), m AS (
  SELECT doc_id,
    (CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0 ELSE len(toks) END)::INT AS n_words,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE list_reduce(list_transform(toks, t -> length(t)), (a, b) -> a + b)::DOUBLE
              / len(toks) END AS mwl,
    len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS symbols,
    len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS alpha,
    len(list_intersect(toksl, ['the','be','to','of','and','that','have','with']))::INT AS stop_hits,
    len(lines)::DOUBLE AS n_lines,
    len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) AS bullets,
    len(list_filter(lines, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$'))) AS ells
  FROM t
), r AS (
  SELECT doc_id, n_words, mwl,
    CASE WHEN n_words = 0 THEN 0.0 ELSE symbols / n_words::DOUBLE END AS symbol_ratio,
    CASE WHEN n_words = 0 THEN 0.0 ELSE alpha / n_words::DOUBLE END AS alpha_ratio,
    stop_hits, bullets / n_lines AS bullet_ratio, ells / n_lines AS ellipsis_ratio
  FROM m
)
SELECT doc_id, n_words, round(mwl, 6) AS mean_word_len,
       round(symbol_ratio, 6) AS symbol_ratio, round(alpha_ratio, 6) AS alpha_ratio,
       stop_hits, round(bullet_ratio, 6) AS bullet_ratio,
       round(ellipsis_ratio, 6) AS ellipsis_ratio,
       (n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
        AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
        AND ellipsis_ratio <= 0.3 AND alpha_ratio >= 0.8
        AND stop_hits >= 2)::INT AS passes
FROM r
""",
        # pii_redaction: same deterministic injection by doc_id residue,
        # same RE2-compatible patterns, same md5 of the redacted text
        "pii_redaction": r"""
WITH t AS (
  SELECT doc_id,
         text || CASE
           WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id::VARCHAR || '@example.com now'
           WHEN doc_id % 3 = 1 THEN ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0')
                                 || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' today'
           ELSE ' host 10.0.' || (doc_id % 256)::VARCHAR || '.' || (doc_id % 100)::VARCHAR || ' up'
         END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' tel +41' || lpad((doc_id % 100000000)::VARCHAR, 8, '0') || ' ok'
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' pay DE' || lpad((doc_id % 100)::VARCHAR, 2, '0') || 'BANK'
                      || lpad((doc_id % 10000000000)::VARCHAR, 10, '0') || ' end'
                 ELSE '' END AS t2
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::INT AS n_email,
       len(regexp_extract_all(t2, '[0-9]{3}-[0-9]{3}-[0-9]{4}'))::INT AS n_phone,
       len(regexp_extract_all(t2, '\+[1-9][0-9]{6,14}'))::INT AS n_e164,
       len(regexp_extract_all(t2, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))::INT AS n_ip,
       len(regexp_extract_all(t2, '[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}'))::INT AS n_iban,
       md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t2,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
           '\+[1-9][0-9]{6,14}', '<E164>', 'g'),
           '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IPV4>', 'g'),
           '[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}', '<IBAN>', 'g')) AS redacted_fp
FROM t
""",
        # common_passages: same tokenizer / 3-gram construction as the
        # Spark side; intra-doc repeats collapsed (list_distinct) before
        # counting, deterministic (n_docs desc, passage) cap
        "common_passages": f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_distinct(CASE WHEN len(toks) < 3 THEN []::VARCHAR[]
           ELSE list_transform(range(0, len(toks) - 2),
                               i -> array_to_string(toks[i+1:i+3], ' ')) END)) AS passage
  FROM t
)
SELECT passage, count(*)::BIGINT AS n_docs, min(doc_id)::BIGINT AS example_doc
FROM g GROUP BY passage HAVING count(*) >= 3
ORDER BY n_docs DESC, passage LIMIT 200
""",
        "doc_repetition": f"""
WITH t AS (
  SELECT doc_id, {_SHINGLES} AS sh
  FROM (SELECT doc_id, {_TOKS} AS toks, text FROM documents)
)
SELECT doc_id, len(sh)::INT AS n_ngrams,
       round(CASE WHEN len(sh) <= 0 THEN 0.0
             ELSE 1.0 - len(list_distinct(sh))::DOUBLE / len(sh) END, 6) AS dup3_frac
FROM t
""",
        "corpus_quality_gate": f"""
WITH m AS (
  SELECT (CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0 ELSE len(toks) END) AS n_tok,
         CASE WHEN length(coalesce(text, '')) = 0 THEN 0.0
              ELSE length(regexp_replace(text, '{_PUNCT_RE}', '', 'g'))::DOUBLE / length(text)
         END AS punct_r,
         CASE WHEN len(toksl) <= 0 THEN 0.0
              ELSE 1.0 - len(list_distinct(toksl))::DOUBLE / len(toksl) END AS rep_r,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE list_reduce(list_transform(toks, t -> length(t)), (a, b) -> a + b)::DOUBLE
                   / len(toks) END AS mwl,
         CASE WHEN len(sh) <= 0 THEN 0.0
              ELSE 1.0 - len(list_distinct(sh))::DOUBLE / len(sh) END AS dup3
  FROM (SELECT text, toks, toksl, {_SHINGLES} AS sh
        FROM (SELECT text, {_TOKS} AS toks, {_TOKS_LOWER} AS toksl FROM documents))
)
SELECT count(*)::BIGINT AS n_docs,
       round(avg(CASE WHEN n_tok BETWEEN 10 AND 10000 THEN 1 ELSE 0 END), 6) AS frac_tok_ok,
       round(avg(CASE WHEN mwl >= 2 AND mwl <= 12 THEN 1 ELSE 0 END), 6) AS frac_mwl_ok,
       round(avg(CASE WHEN punct_r <= 0.2 THEN 1 ELSE 0 END), 6) AS frac_punct_ok,
       round(avg(CASE WHEN rep_r <= 0.9 THEN 1 ELSE 0 END), 6) AS frac_rep_ok,
       round(avg(CASE WHEN dup3 <= 0.5 THEN 1 ELSE 0 END), 6) AS frac_dup3_ok,
       sum(CASE WHEN n_tok BETWEEN 10 AND 10000 AND mwl >= 2 AND mwl <= 12
                AND punct_r <= 0.2 AND rep_r <= 0.9 AND dup3 <= 0.5
                THEN 1 ELSE 0 END)::BIGINT AS n_keep
FROM m
""",
        "dedup_exact": r"""
SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
       min(doc_id) AS keep_id, count(*)::BIGINT AS n_dups
FROM documents GROUP BY fp
""",
        "dedup_incremental": r"""
WITH fp AS (
  SELECT doc_id, lang, source, n_chars,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
  FROM documents),
newb AS (
  SELECT * FROM fp WHERE doc_id >= 250
  UNION ALL
  SELECT doc_id + 100000, lang, source, n_chars, fp FROM fp WHERE doc_id < 10
  UNION ALL
  SELECT doc_id + 200000, lang, source, n_chars, fp FROM fp WHERE doc_id = 250),
known AS (SELECT DISTINCT fp FROM fp WHERE doc_id < 250),
fresh AS (
  SELECT * FROM newb WHERE fp NOT IN (SELECT fp FROM known)),
keep AS (SELECT fp, min(doc_id) AS keep_id FROM fresh GROUP BY fp)
SELECT doc_id, lang, source, n_chars
FROM fresh JOIN keep USING (fp) WHERE doc_id = keep_id
""",
        "dedup_minhash_lsh": _minhash_sql(threshold=0.1),
        # dedup_minhash_cjk (r14): the synth + script-spread tokens +
        # the standard banded chain, all replayed in SQL
        "dedup_minhash_cjk": (
            f"WITH {_minhash_ctes(0.5, toks_sql=_toks_script_sql(), source=_CJK_DOCS_SOURCE)}\n"
            "SELECT id_a, id_b, jaccard FROM mpairs"
        ),
        # pair-set equality of the xxhash64 engine vs the md5 engine:
        # the oracle is the md5 path's exact pair set with both
        # membership flags pinned true — a false from the Spark side's
        # FULL OUTER compare is an engine divergence and hash-mismatches
        "minhash_xxh_pairset": (
            f"WITH {_minhash_ctes(0.1)}\n"
            "SELECT id_a, id_b, jaccard, true AS in_xxh, true AS in_md5 "
            "FROM mpairs"
        ),
        "dedup_simhash": _simhash_sql(),
        "dedup_simhash_hamming": _simhash_hamming_sql(),
        # bounded default plan: LSH candidates, exact-verified (the
        # exhaustive inverted-index plan is oracled by dedup_ngram_dfcut)
        "dedup_ngram_jaccard": _minhash_sql(threshold=0.15),
        # dedup_winnow: replay of functions/winnow.py — hash60(4-gram)
        # arrays, min of each 4-hash window (the selected VALUE set is
        # position-independent, so the rightmost-tie rule needs no
        # replay here), distinct per doc, df>50 cut, pair equi-join.
        "dedup_winnow": f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN len(toks) < 4 THEN []::BIGINT[]
              ELSE list_transform(range(0, len(toks) - 3),
                   i -> {_H("array_to_string(toks[i+1:i+4], ' ')", "5200")})
         END AS h
  FROM t
), win AS (
  SELECT doc_id, h, unnest(range(0, len(h) - least(4, len(h)) + 1)) AS j
  FROM g WHERE len(h) > 0
), inv AS (
  SELECT DISTINCT doc_id,
         list_aggregate(h[j+1:j+least(4, len(h))], 'min') AS fp
  FROM win
), inv2 AS (
  SELECT doc_id, fp FROM inv
  WHERE fp IN (SELECT fp FROM inv GROUP BY fp HAVING count(*) <= 50)
), sz AS (
  SELECT doc_id, count(*) AS sz FROM inv2 GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
  FROM inv2 a JOIN inv2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT id_a, id_b, n_shared,
       round(n_shared::DOUBLE / least(sa.sz, sb.sz), 6) AS overlap
FROM shared
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
""",
        "ann_topk_bruteforce": f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
s AS (SELECT query_id, neighbor_id, {_COS} AS score FROM q, c WHERE query_id != neighbor_id)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM s) WHERE rank <= 5
""",
        "kmeans_clusters": f"""
WITH {_KMEANS_CTES}
SELECT id AS vec_id, cluster FROM a2
""",
        "kmeans_tiered": _KMEANS_TIERED_SQL,
        "ann_topk_pq": _pq_sql(),
        "ann_topk_pq_rerank": _pq_sql(k=10, rerank_from=40),
        "ann_topk_ivfpq": _pq_sql(k=5, ivf_probe=2),
        "ann_topk_ivfpq_residual": _pq_sql(
            k=5, ivf_probe=2, residual=True, rerank_from=50
        ),
        "ann_topk_ivf_kmeans": _ivf_kmeans_sql(k=5, n_probe=2),
        # the persisted-index round trip must return EXACTLY
        # ivfpq_topk's rows — same oracle as ann_topk_ivfpq
        "ann_index_roundtrip": _pq_sql(k=5, ivf_probe=2),
        "ann_topk_ivfpq_residual_k": _pq_sql(
            k=5, ivf_probe=2, residual=True, rerank_from=50, coarse="kmeans"
        ),
        "embedding_outliers": _outliers_sql(),
        "mmr_diverse_topk": _mmr_sql(),
        "zorder_key_check": _zorder_sql(),
        "zorder_key_n": _zorder_n_sql(["user_id", "value", "event_id"]),
        "hilbert_key_check": _hilbert_sql(),
        "dataset_drift": _drift_sql(),
        "category_drift": """
WITH oldd AS (SELECT lang FROM documents WHERE doc_id % 2 = 0),
newd AS (SELECT lang FROM documents WHERE doc_id % 2 = 1),
o AS (SELECT lang AS value, count(*)::BIGINT AS n_old FROM oldd GROUP BY lang),
n AS (SELECT lang AS value, count(*)::BIGINT AS n_new FROM newd GROUP BY lang)
SELECT coalesce(o.value, n.value) AS value,
       coalesce(n_old, 0)::BIGINT AS n_old,
       coalesce(n_new, 0)::BIGINT AS n_new,
       coalesce(n_old, 0)::DOUBLE / (SELECT count(*) FROM oldd) AS frac_old,
       coalesce(n_new, 0)::DOUBLE / (SELECT count(*) FROM newd) AS frac_new
FROM o FULL OUTER JOIN n ON o.value = n.value
""",
        "mixture_sample": f"""
WITH tot AS (
  SELECT source,
         sum(CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
                  ELSE len({_TOKS}) END)::BIGINT AS tokens
  FROM documents GROUP BY source
), r AS (
  SELECT source,
         least(1.0, 3000.0 * (CASE source WHEN 'src0' THEN 0.7
                                          WHEN 'src1' THEN 0.2
                                          WHEN 'src2' THEN 0.1 END) / tokens) AS rate
  FROM tot WHERE source IN ('src0', 'src1', 'src2')
)
SELECT d.doc_id, d.source
FROM documents d JOIN r USING (source)
WHERE ({_H('doc_id', '42')} % 1000000) < floor(rate * 1000000)
""",
        # repeated_span_removal: 8-token windows in >= 3 distinct docs;
        # keeper = min doc_id keeps all occurrences, everyone else loses
        # theirs; overlapping windows union into one covered region.
        # DuckDB's array_to_string returns NULL on an empty list where
        # Spark's concat_ws returns '' — hence the outer coalesce.
        "repeated_span_removal": f"""
WITH docs AS (
  SELECT doc_id, {_TOKS} AS toks,
         (CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0 ELSE len({_TOKS}) END) AS n
  FROM documents),
mine AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(0, n - 7), i -> array_to_string(toks[i+1:i+8], ' ')))) AS gram
  FROM docs WHERE n >= 8),
flagged AS (
  SELECT gram, min(doc_id) AS keeper FROM mine GROUP BY gram HAVING count(*) >= 3),
pos AS (
  SELECT doc_id, unnest(range(0, n - 7)) AS p, toks FROM docs WHERE n >= 8),
hits AS (
  SELECT p.doc_id, p.p FROM pos p
  JOIN flagged f ON array_to_string(p.toks[p.p+1:p.p+8], ' ') = f.gram
  WHERE p.doc_id != f.keeper),
covered AS (
  SELECT doc_id, list_distinct(flatten(list(range(p, p + 8)))) AS cov
  FROM hits GROUP BY doc_id)
SELECT d.doc_id,
  coalesce(array_to_string(list_transform(
    list_filter(range(0, d.n), i -> NOT list_contains(coalesce(c.cov, []::BIGINT[]), i)),
    i -> d.toks[i+1]), ' '), '') AS clean_text,
  d.n::BIGINT AS n_tokens,
  coalesce(len(c.cov), 0)::BIGINT AS n_removed
FROM docs d LEFT JOIN covered c USING (doc_id)
""",
        "normalize_text": r"""
SELECT doc_id,
       md5(trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g'))) AS norm_fp,
       length(trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')))::INT AS norm_len
FROM documents
""",
        "semdedup_prune": f"""
WITH {_KMEANS_CTES},
pv AS (SELECT a2.id, a2.cluster, p.v FROM a2 JOIN pts p USING (id)),
dup AS (
  SELECT DISTINCT b.id
  FROM (SELECT id, cluster, v AS qv FROM pv) a
  JOIN (SELECT id, cluster, v AS cv FROM pv) b
    ON a.cluster = b.cluster AND a.id < b.id
  WHERE {_COS} >= 0.35
)
SELECT pv.id AS vec_id, pv.cluster,
       (CASE WHEN dup.id IS NOT NULL THEN 1 ELSE 0 END)::INT AS is_dup
FROM pv LEFT JOIN dup ON pv.id = dup.id
""",
        "ann_topk_lsh": f"""
WITH {autowidth},
base AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
), sk AS (
  SELECT id, v, ({sketch56}) AS sk FROM base
), banded AS (
  SELECT id, v, b.band, (sk >> (b.band * p.r)) & ((1::BIGINT << p.r) - 1) AS key
  FROM sk, pp p, (SELECT unnest([0, 1, 2, 3]) AS band) b
), cand AS (
  SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
  FROM banded c JOIN banded q ON c.band = q.band AND c.key = q.key
  WHERE q.id < 10 AND c.id != q.id
), scored AS (
  SELECT query_id, neighbor_id, {_COS} AS score
  FROM cand
  JOIN (SELECT vec_id, embedding::DOUBLE[] AS qv FROM embeddings) qq ON query_id = qq.vec_id
  JOIN (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings) cc ON neighbor_id = cc.vec_id
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= 5
""",
        # ann_topk_lsh_mp: the banded chain plus a qprobe CTE — each
        # query band key unions its r Hamming-1 flips (r from the same
        # auto-width pp CTE the engine replays)
        "ann_topk_lsh_mp": f"""
WITH {autowidth},
base AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
), sk AS (
  SELECT id, v, ({sketch56}) AS sk FROM base
), banded AS (
  SELECT id, v, b.band, (sk >> (b.band * p.r)) & ((1::BIGINT << p.r) - 1) AS key
  FROM sk, pp p, (SELECT unnest([0, 1, 2, 3]) AS band) b
), qprobe AS (
  SELECT q.id, q.band,
         unnest(list_prepend(q.key,
           list_transform(range(0, p.r), t -> xor(q.key, 1::BIGINT << t::INT)))) AS key
  FROM banded q, pp p WHERE q.id < 10
), cand AS (
  SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
  FROM banded c JOIN qprobe q ON c.band = q.band AND c.key = q.key
  WHERE c.id != q.id
), scored AS (
  SELECT query_id, neighbor_id, {_COS} AS score
  FROM cand
  JOIN (SELECT vec_id, embedding::DOUBLE[] AS qv FROM embeddings) qq ON query_id = qq.vec_id
  JOIN (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings) cc ON neighbor_id = cc.vec_id
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= 5
""",
        # ann_topk_ivf: SQL replay of the exact IVF algorithm —
        # deterministic centroid sample at the auto stride
        # floor(sqrt(n)) (≡ math.isqrt for these n), argmax assignment
        # by the same left-fold cosine, top-2 probed lists, exact
        # re-score within them
        "ann_topk_ivf": f"""
WITH base AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
), cent AS (
  SELECT id AS cid, v AS cv FROM base
  WHERE id % (SELECT greatest(1, CAST(floor(sqrt(count(*))) AS BIGINT)) FROM base) = 0
), asg AS (
  SELECT id, v AS nv, cid FROM (
    SELECT b.id, b.v, c.cid,
           row_number() OVER (
             PARTITION BY b.id
             ORDER BY ({_unrolled_dot('v', 'cv')})
                      / (sqrt({_unrolled_dot('v', 'v')}) * sqrt({_unrolled_dot('cv', 'cv')}))
                      DESC, c.cid) AS rn
    FROM base b, cent c) WHERE rn = 1
), probe AS (
  SELECT query_id, qv, cid FROM (
    SELECT b.id AS query_id, b.v AS qv, c.cid,
           row_number() OVER (
             PARTITION BY b.id
             ORDER BY ({_unrolled_dot('v', 'cv')})
                      / (sqrt({_unrolled_dot('v', 'v')}) * sqrt({_unrolled_dot('cv', 'cv')}))
                      DESC, c.cid) AS rn
    FROM base b, cent c WHERE b.id < 10) WHERE rn <= 2
), scored AS (
  SELECT query_id, a.id AS neighbor_id,
         round(({_unrolled_dot('qv', 'nv')})
               / (sqrt({_unrolled_dot('qv', 'qv')}) * sqrt({_unrolled_dot('nv', 'nv')})), 6)
           AS score
  FROM probe p JOIN asg a ON p.cid = a.cid
  WHERE p.query_id != a.id
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= 5
""",
        "embedding_pca": _pca_sql(),
        "embedding_near_dup": f"""
WITH {autowidth},
base AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
), sk AS (
  SELECT id, v, ({sketch56}) AS sk FROM base
), banded AS (
  SELECT id, v, b.band, (sk >> (b.band * p.r)) & ((1::BIGINT << p.r) - 1) AS key
  FROM sk, pp p, (SELECT unnest([0, 1, 2, 3]) AS band) b
), pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key AND a.id < b.id
)
SELECT id_a, id_b, score FROM (
  SELECT id_a, id_b, {_COS} AS score
  FROM pairs
  JOIN (SELECT vec_id, embedding::DOUBLE[] AS qv FROM embeddings) qq ON id_a = qq.vec_id
  JOIN (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings) cc ON id_b = cc.vec_id
) WHERE score >= 0.5
""",
        # embedding_quant_dedup: identical injection (+2^-10 on
        # vec_id<20 re-keyed +100000), identical power-of-two lattice
        # floors — IEEE doubles make both engines agree bit-for-bit
        "embedding_quant_dedup": """
WITH allv AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id,
         list_transform(embedding::DOUBLE[], x -> x + 1.0/1024) AS v
  FROM embeddings WHERE vec_id < 20
)
SELECT md5(array_to_string(list_transform(v, x -> (floor(x * 4.0))::BIGINT::VARCHAR), ',')) AS qkey,
       min(vec_id) AS keep_id, count(*)::BIGINT AS n_members
FROM allv GROUP BY 1
""",
        # tfidf_top_terms: same whitespace tokenizer as vocab_coverage;
        # idf = ln((N+1)/(df+1)) — integer-ratio argument, natural log in
        # both engines, round 6
        # bm25_search: Lucene non-negative idf; k1=1.2, b=0.75 parse
        # to the same doubles in both engines; per-(query,doc) sums
        # span <= 5 terms so float-order drift is far below the 6-dp
        # rounding grain
        "bm25_search": f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents
), t1 AS (
  SELECT doc_id, token FROM toks WHERE len(token) > 0
), tf AS (
  SELECT doc_id, token, count(*)::BIGINT AS tf FROM t1 GROUP BY 1, 2
), dl AS (
  SELECT doc_id, count(*)::BIGINT AS dl FROM t1 GROUP BY 1
), dfq AS (
  SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1
), stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
), qd AS (
  SELECT DISTINCT query_id, token FROM (
    SELECT doc_id AS query_id, unnest({_TOKS}[1:5]) AS token
    FROM documents WHERE doc_id % 83 = 0 AND doc_id < 42000
  ) WHERE len(token) > 0
), scored AS (
  SELECT qd.query_id, tf.doc_id,
         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * 2.2)
           / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS term_score
  FROM tf JOIN qd USING (token) JOIN dfq USING (token)
       JOIN dl ON tf.doc_id = dl.doc_id, stats
), agg AS (
  SELECT query_id, doc_id, round(sum(term_score), 6) AS score
  FROM scored GROUP BY 1, 2
)
SELECT query_id, doc_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM agg) WHERE rank <= 5
""",
        # hybrid_search_rrf: the bm25 CTE family at k=10 + the
        # brute-force cosine CTE family at k=10 over the same query
        # ids, fused by rrf = 1/(60+rank_text) + 1/(60+rank_vec)
        # (fixed-order IEEE ops, identical cross-engine), top-5
        "hybrid_search_rrf": f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents
), t1 AS (
  SELECT doc_id, token FROM toks WHERE len(token) > 0
), tf AS (
  SELECT doc_id, token, count(*)::BIGINT AS tf FROM t1 GROUP BY 1, 2
), dl AS (
  SELECT doc_id, count(*)::BIGINT AS dl FROM t1 GROUP BY 1
), dfq AS (
  SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1
), stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
), qd AS (
  SELECT DISTINCT query_id, token FROM (
    SELECT doc_id AS query_id, unnest({_TOKS}[1:5]) AS token
    FROM documents WHERE doc_id % 83 = 0 AND doc_id < 42000
  ) WHERE len(token) > 0
), scored AS (
  SELECT qd.query_id, tf.doc_id,
         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * 2.2)
           / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS term_score
  FROM tf JOIN qd USING (token) JOIN dfq USING (token)
       JOIN dl ON tf.doc_id = dl.doc_id, stats
), bagg AS (
  SELECT query_id, doc_id, round(sum(term_score), 6) AS score
  FROM scored GROUP BY 1, 2
), bm AS (
  SELECT query_id, doc_id, rank AS ra FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
    FROM bagg) WHERE rank <= 10
), vq AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
  WHERE vec_id % 83 = 0 AND vec_id < 42000
), vc AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
vs AS (SELECT query_id, neighbor_id, {_COS} AS score
       FROM vq, vc WHERE query_id != neighbor_id),
vr AS (
  SELECT query_id, neighbor_id AS doc_id, rank AS rb FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
    FROM vs) WHERE rank <= 10
), fused AS (
  SELECT coalesce(bm.query_id, vr.query_id) AS query_id,
         coalesce(bm.doc_id, vr.doc_id) AS doc_id,
         round(coalesce(1.0 / (60 + ra), 0.0)
             + coalesce(1.0 / (60 + rb), 0.0), 6) AS rrf_score
  FROM bm FULL OUTER JOIN vr
    ON bm.query_id = vr.query_id AND bm.doc_id = vr.doc_id
)
SELECT query_id, doc_id, rrf_score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rank
  FROM fused) WHERE rank <= 5
""",
        # bigram_logprob: bigrams from zipping the token list with its
        # own tail — identical windows in both engines; add-one
        # conditional (C(w1,w2)+1)/(C1(w1)+V) with C1 counting w1 as a
        # bigram PREFIX so the conditional normalizes
        "bigram_logprob": f"""
WITH docs AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
  WHERE length(trim(coalesce(text, ''))) > 0 AND len({_TOKS}) >= 2
), bg AS (
  SELECT doc_id,
         unnest(list_transform(range(0, len(toks) - 1),
                               i -> toks[i+1] || ' ' || toks[i+2])) AS bigram
  FROM docs
), bgc AS (
  SELECT bigram, count(*)::BIGINT AS c2 FROM bg GROUP BY 1
), pc AS (
  SELECT split_part(bigram, ' ', 1) AS w1, count(*)::BIGINT AS c1
  FROM bg GROUP BY 1
), vocab AS (
  SELECT count(DISTINCT token) AS v FROM (
    SELECT unnest({_TOKS}) AS token FROM documents
  ) WHERE len(token) > 0
)
SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       round(avg(ln((c2 + 1.0) / (c1 + v))), 6) AS mean_logprob
FROM bg JOIN bgc USING (bigram)
     JOIN pc ON split_part(bg.bigram, ' ', 1) = pc.w1, vocab
GROUP BY doc_id
""",
        "tfidf_top_terms": f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents
), t1 AS (
  SELECT doc_id, token FROM toks WHERE len(token) > 0
), tf AS (
  SELECT doc_id, token, count(*)::BIGINT AS tf FROM t1 GROUP BY 1, 2
), dfq AS (
  SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1
), nn AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, token, tf, df,
         round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf
  FROM tf JOIN dfq USING (token), nn
)
SELECT doc_id, token, tf, df, tfidf, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rank
  FROM scored) WHERE rank <= 3
""",
        # weighted_sample_docs: Efraimidis–Spirakis keys with the
        # portable hash60-derived u — membership replays exactly
        # (2^60 = 1152921504606846976; int64→double is correctly
        # rounded in both engines)
        "weighted_sample_docs": f"""
WITH w AS (
  SELECT doc_id, lang, source, n_chars,
         round(-ln(({_H('doc_id', '42')} + 1.0) / 1152921504606846976.0)
               / n_chars::DOUBLE, 10) AS sample_key
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
)
SELECT doc_id, lang, source, n_chars, sample_key, rank FROM (
  SELECT *, row_number() OVER (ORDER BY sample_key, doc_id) AS rank FROM w
) WHERE rank <= 50
""",
        "quota_sample_sources": """
SELECT doc_id, source, n_chars, rank FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rank
  FROM documents) WHERE rank <= 3
""",
        # chunk_documents: 32-token windows, stride 24; list slices
        # truncate at the end identically in both engines; empty docs
        # (token_count 0) yield no chunks
        "chunk_documents": f"""
WITH docs AS (
  SELECT doc_id, {_TOKS} AS toks,
         (CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0 ELSE len({_TOKS}) END) AS n
  FROM documents),
base AS (
  SELECT doc_id, toks,
         (CASE WHEN n <= 0 THEN 0
               ELSE 1 + (greatest(n - 32, 0) + 23) // 24 END)::BIGINT AS n_chunks
  FROM docs),
chunks AS (
  SELECT doc_id, unnest(range(0, n_chunks)) AS chunk_idx, n_chunks, toks
  FROM base WHERE n_chunks > 0)
SELECT doc_id, chunk_idx, n_chunks,
       len(toks[chunk_idx * 24 + 1 : chunk_idx * 24 + 32])::BIGINT AS chunk_n_tokens,
       array_to_string(toks[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ') AS chunk_text
FROM chunks
""",
        # unigram_logprob: ln of an integer ratio, 6-dp round; the
        # per-doc avg is over ~dozens of terms so float-order drift is
        # far below the rounding grain
        "unigram_logprob": f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents
), t1 AS (
  SELECT doc_id, token FROM toks WHERE len(token) > 0
), freq AS (
  SELECT token, count(*)::BIGINT AS n_tok FROM t1 GROUP BY 1
), tot AS (SELECT sum(n_tok) AS total FROM freq)
SELECT doc_id, count(*)::BIGINT AS n_tokens,
       round(avg(ln(n_tok / total)), 6) AS mean_logprob
FROM t1 JOIN freq USING (token), tot
GROUP BY doc_id
""",
        # bloom_decontamination: the filter is pure integer arithmetic
        # (hash60 % m, k=4 probes, seeds 1300..1303) and m auto-sizes
        # from the eval shingle count with the same integer-exact
        # formula as resolve_bloom_bits (m = 2^clamp(ceil(log2(16s)),
        # 16, 27)), so the set-bit relation and the all-probes-match
        # rule replay exactly at any eval size
        "bloom_decontamination": f"""
WITH docs AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(toks) < 4 THEN []::VARCHAR[] ELSE
      list_transform(range(0, len(toks) - 3), i -> array_to_string(toks[i+1:i+4], ' '))
    END)) AS s
  FROM docs),
tr AS (SELECT doc_id AS train_id, s FROM sh WHERE doc_id % 97 != 0),
ev AS (SELECT s FROM sh WHERE doc_id % 97 = 0),
pp AS (
  SELECT (1::BIGINT << least(27, greatest(16,
            CAST(ceil(log2(greatest(16 * s, 1))) AS BIGINT)))) AS m
  FROM (SELECT count(DISTINCT s) AS s FROM ev)),
bits AS (
  SELECT DISTINCT unnest([
    {_H('s', '1300')} % m, {_H('s', '1301')} % m,
    {_H('s', '1302')} % m, {_H('s', '1303')} % m]) AS pos
  FROM ev, pp),
probes AS (
  SELECT train_id, s, unnest([
    {_H('s', '1300')} % m, {_H('s', '1301')} % m,
    {_H('s', '1302')} % m, {_H('s', '1303')} % m]) AS pos
  FROM tr, pp),
hits AS (
  SELECT train_id, s FROM probes JOIN bits USING (pos)
  GROUP BY train_id, s HAVING count(*) = 4)
SELECT train_id, count(*)::BIGINT AS n_hit_shingles FROM hits GROUP BY 1
""",
        "vocab_coverage": f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents
), toks1 AS (
  SELECT doc_id, token FROM toks WHERE len(token) > 0
), vocab AS (
  SELECT token FROM (
    SELECT token, row_number() OVER (ORDER BY count(*) DESC, token) AS rank
    FROM toks1 GROUP BY token) WHERE rank <= 20
)
SELECT doc_id, count(*)::BIGINT AS n_tokens,
       sum(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS in_vocab,
       round(sum(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
         AS coverage
FROM toks1 t LEFT JOIN vocab v USING (token)
GROUP BY doc_id
""",
        "source_quality_rollup": f"""
WITH m AS (
  SELECT source, n_chars,
         (CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0 ELSE len({_TOKS}) END)::DOUBLE AS n_tok,
         CASE WHEN length(coalesce(text, '')) = 0 THEN 0.0
              ELSE length(regexp_replace(text, '{_PUNCT_RE}', '', 'g'))::DOUBLE / length(text)
         END AS punct_r,
         CASE WHEN len({_TOKS_LOWER}) <= 0 THEN 0.0
              ELSE 1.0 - len(list_distinct({_TOKS_LOWER}))::DOUBLE / len({_TOKS_LOWER})
         END AS rep_r,
         CASE WHEN len({_TOKS}) = 0 THEN 0.0
              ELSE list_reduce(list_transform({_TOKS}, t -> length(t)), (a, b) -> a + b)::DOUBLE
                   / len({_TOKS}) END AS mwl
  FROM documents
)
SELECT source, count(*)::BIGINT AS n_docs,
       round(avg({_QUALITY_EXPR}), 4) AS avg_quality,
       round(avg(n_chars), 2) AS avg_chars,
       sum(n_tok)::BIGINT AS total_tokens
FROM m GROUP BY source
""",
        # NULL-text contract (seed-88 fuzz catch): media_from_text
        # encodes a NULL document as an EMPTY payload, so n_bytes = 0
        # and payload_md5 = md5('') — not NULLs
        "multimodal_features": """
SELECT doc_id, octet_length(encode(coalesce(text, '')))::INT AS n_bytes,
       'text' AS media_class, md5(coalesce(text, '')) AS payload_md5
FROM documents
""",
        # multimodal_decode: no oracle (numpy RNG in the fake decoder) → rows-only check
        # image_decode: the oracle recomputes every decoded pixel from
        # the synthesis closed form p(y,x) = (key*31 + y*17 + x*7) % 256
        # with w = 8 + key%9, h = 8 + key%7 — the Spark side must
        # round-trip genuine PNG bytes (filters, deflate, CRCs) to match.
        "image_decode": """
SELECT doc_id,
       (8 + doc_id % 7)::INT AS dec_height,
       (8 + doc_id % 9)::INT AS dec_width,
       list_reduce(
         list_transform(range(0, (8 + doc_id % 7) * (8 + doc_id % 9)),
           i -> (doc_id * 31 + (i // (8 + doc_id % 9)) * 17 + (i % (8 + doc_id % 9)) * 7) % 256),
         (a, b) -> a + b)::BIGINT AS px_sum,
       list_reduce(
         list_transform(range(0, (8 + doc_id % 7) * (8 + doc_id % 9)),
           i -> (i + 1) * ((doc_id * 31 + (i // (8 + doc_id % 9)) * 17 + (i % (8 + doc_id % 9)) * 7) % 256)),
         (a, b) -> a + b)::BIGINT AS px_weighted
FROM documents
""",
        # png_color_decode: flat RGB array in closed form — per flat
        # index i: pixel p = i//3 (row p//w, col p%w), channel i%3
        "png_color_decode": """
SELECT doc_id,
       (8 + doc_id % 7)::INT AS dec_height,
       (8 + doc_id % 9)::INT AS dec_width,
       ((8 + doc_id % 7) * (8 + doc_id % 9) * 3)::INT AS n_values,
       list_reduce(
         list_transform(range(0, (8 + doc_id % 7) * (8 + doc_id % 9) * 3),
           i -> (doc_id * 31 + ((i // 3) // (8 + doc_id % 9)) * 17
                 + ((i // 3) % (8 + doc_id % 9)) * 7 + (i % 3) * 11) % 256),
         (a, b) -> a + b)::BIGINT AS px_sum,
       list_reduce(
         list_transform(range(0, (8 + doc_id % 7) * (8 + doc_id % 9) * 3),
           i -> (i + 1) * ((doc_id * 31 + ((i // 3) // (8 + doc_id % 9)) * 17
                 + ((i // 3) % (8 + doc_id % 9)) * 7 + (i % 3) * 11) % 256)),
         (a, b) -> a + b)::BIGINT AS px_weighted
FROM documents
""",
        # jpeg_decode: the baseline-JPEG round trip's closed form —
        # w = 8*(1 + key%3), h = 8*(1 + key%2), pixel(y,x) =
        # (key*31 + block*17) % 256 with block = (y//8)*bx + (x//8)
        # (raster block order). The weighted fold catches any block-
        # placement or pixel-order scramble a plain sum would miss.
        "jpeg_decode": """
SELECT doc_id,
       (8 * (1 + doc_id % 2))::INT AS dec_height,
       (8 * (1 + doc_id % 3))::INT AS dec_width,
       list_reduce(
         list_transform(range(0, (1 + doc_id % 3) * (1 + doc_id % 2)),
           b -> 64 * ((doc_id * 31 + b * 17) % 256)),
         (a, b) -> a + b)::BIGINT AS px_sum,
       list_reduce(
         list_transform(range(0, 64 * (1 + doc_id % 3) * (1 + doc_id % 2)),
           i -> (i + 1) * ((doc_id * 31
                 + ((i // (64 * (1 + doc_id % 3))) * (1 + doc_id % 3)
                    + (i % (8 * (1 + doc_id % 3))) // 8) * 17) % 256)),
         (a, b) -> a + b)::BIGINT AS px_weighted
FROM documents
""",
        # jpeg_color_decode: replay the flat RGB array in closed form —
        # per flat index i: pixel p = i//3, channel c = i%3, block from
        # (y, x); component samples are the synthesis constants and the
        # YCbCr→RGB conversion is floor(x + 0.5) with clamp, exactly as
        # the decoder computes it (same float64 ops, same order)
        # jpeg_420_decode: the subsampled variant — Y per 8×8 block,
        # chroma replicated over the 16×16 MCU footprint (see
        # _jpeg_420_sql's docstring)
        "jpeg_420_decode": _jpeg_420_sql(),
        # jpeg_progressive_decode: the SOF2 multi-scan path must land
        # on the SAME closed-form pixels as the baseline jpeg_decode
        # row — identical oracle, different (progressive) bytes
        "jpeg_progressive_decode": """
SELECT doc_id,
       (8 * (1 + doc_id % 2))::INT AS dec_height,
       (8 * (1 + doc_id % 3))::INT AS dec_width,
       list_reduce(
         list_transform(range(0, (1 + doc_id % 3) * (1 + doc_id % 2)),
           b -> 64 * ((doc_id * 31 + b * 17) % 256)),
         (a, b) -> a + b)::BIGINT AS px_sum,
       list_reduce(
         list_transform(range(0, 64 * (1 + doc_id % 3) * (1 + doc_id % 2)),
           i -> (i + 1) * ((doc_id * 31
                 + ((i // (64 * (1 + doc_id % 3))) * (1 + doc_id % 3)
                    + (i % (8 * (1 + doc_id % 3))) // 8) * 17) % 256)),
         (a, b) -> a + b)::BIGINT AS px_weighted
FROM documents
""",
        # png_palette_decode: flat RGB replay — per flat index i:
        # pixel p = i//3, channel c = i%3, y = p//w, x = p%w,
        # d = (1,2,4,8)[key%4], n = 2^d, idx = (key + 3y + x) % n,
        # value = (key*7 + idx*13 + c*29) % 256
        "png_palette_decode": """
SELECT doc_id,
       (8 + doc_id % 7)::INT AS dec_height,
       (8 + doc_id % 9)::INT AS dec_width,
       (3 * (8 + doc_id % 7) * (8 + doc_id % 9))::INT AS n_values,
       list_reduce(
         list_transform(range(0, 3 * (8 + doc_id % 7) * (8 + doc_id % 9)),
           i -> (doc_id * 7
                 + ((doc_id + 3 * ((i // 3) // (8 + doc_id % 9))
                     + ((i // 3) % (8 + doc_id % 9)))
                    % (1 << ([1, 2, 4, 8][(doc_id % 4)::INT + 1]))) * 13
                 + (i % 3) * 29) % 256),
         (a, b) -> a + b)::BIGINT AS px_sum,
       list_reduce(
         list_transform(range(0, 3 * (8 + doc_id % 7) * (8 + doc_id % 9)),
           i -> (i + 1) * ((doc_id * 7
                 + ((doc_id + 3 * ((i // 3) // (8 + doc_id % 9))
                     + ((i // 3) % (8 + doc_id % 9)))
                    % (1 << ([1, 2, 4, 8][(doc_id % 4)::INT + 1]))) * 13
                 + (i % 3) * 29) % 256)),
         (a, b) -> a + b)::BIGINT AS px_weighted
FROM documents
""",
        # gif_decode (r12): flat replay like png_palette_decode, plus
        # an alpha channel on key%5==0 — ch = 4 there (RGBA), else 3;
        # per flat index i: p = i//ch, c = i%ch, y = p//w, x = p%w,
        # idx = (key + 3y + x) % n, value = c < 3
        #   ? (key*7 + idx*13 + c*29) % 256
        #   : (idx == key % n ? 0 : 255)
        "gif_decode": """
WITH g AS (
  SELECT doc_id,
         (8 + doc_id % 7)::INT AS h,
         (8 + doc_id % 9)::INT AS w,
         (1 << ([1, 2, 4, 8][(doc_id % 4)::INT + 1])) AS n,
         CASE WHEN doc_id % 5 = 0 THEN 4 ELSE 3 END AS ch
  FROM documents)
SELECT doc_id,
       h AS dec_height,
       w AS dec_width,
       (ch * h * w)::INT AS n_values,
       list_reduce(
         list_transform(range(0, ch * h * w),
           i -> CASE WHEN (i % ch) < 3
                THEN (doc_id * 7
                      + ((doc_id + 3 * ((i // ch) // w) + ((i // ch) % w)) % n) * 13
                      + (i % ch) * 29) % 256
                ELSE CASE WHEN ((doc_id + 3 * ((i // ch) // w) + ((i // ch) % w)) % n)
                          = doc_id % n THEN 0 ELSE 255 END END),
         (a, b) -> a + b)::BIGINT AS px_sum,
       list_reduce(
         list_transform(range(0, ch * h * w),
           i -> (i + 1) * (CASE WHEN (i % ch) < 3
                THEN (doc_id * 7
                      + ((doc_id + 3 * ((i // ch) // w) + ((i // ch) % w)) % n) * 13
                      + (i % ch) * 29) % 256
                ELSE CASE WHEN ((doc_id + 3 * ((i // ch) // w) + ((i // ch) % w)) % n)
                          = doc_id % n THEN 0 ELSE 255 END END)),
         (a, b) -> a + b)::BIGINT AS px_weighted
FROM g
""",
        # webp_decode (r15): always RGBA; flat index i → pixel p=i//4,
        # channel c=i%4, y=p//w, x=p%w. Leg doc_id%3: 0 truecolor
        # v=(k*31+y*17+x*7+c*11)%256 (alpha keys k%5==0 extend the
        # same form to c=3, else alpha 255); 1 the same at x-=x%3
        # (the LZ77 run leg); 2 palette idx=(k+3y+x)%n with
        # n=2^[1,2,4,8][k%4], value=(k*7+idx*13+c*29)%256, alpha keys
        # (k*7+idx*13+97)%256
        "webp_decode": """
WITH g AS (
  SELECT doc_id,
         (8 + doc_id % 7)::INT AS h,
         (8 + doc_id % 9)::INT AS w,
         (1 << ([1, 2, 4, 8][(doc_id % 4)::INT + 1])) AS n,
         (doc_id % 3) AS leg,
         (doc_id % 5 = 0) AS ak
  FROM documents)
SELECT doc_id,
       h AS dec_height,
       w AS dec_width,
       (4 * h * w)::INT AS n_values,
       list_reduce(
         list_transform(range(0, 4 * h * w),
           i -> CASE
             WHEN leg < 2 THEN
               CASE WHEN i % 4 < 3 OR ak
                 THEN (doc_id * 31 + ((i // 4) // w) * 17
                       + (CASE WHEN leg = 1
                          THEN ((i // 4) % w) - ((i // 4) % w) % 3
                          ELSE (i // 4) % w END) * 7
                       + (i % 4) * 11) % 256
                 ELSE 255 END
             ELSE
               CASE WHEN i % 4 < 3
                 THEN (doc_id * 7
                       + ((doc_id + 3 * ((i // 4) // w) + ((i // 4) % w)) % n) * 13
                       + (i % 4) * 29) % 256
                 WHEN ak
                 THEN (doc_id * 7
                       + ((doc_id + 3 * ((i // 4) // w) + ((i // 4) % w)) % n) * 13
                       + 97) % 256
                 ELSE 255 END
           END),
         (a, b) -> a + b)::BIGINT AS px_sum,
       list_reduce(
         list_transform(range(0, 4 * h * w),
           i -> (i + 1) * (CASE
             WHEN leg < 2 THEN
               CASE WHEN i % 4 < 3 OR ak
                 THEN (doc_id * 31 + ((i // 4) // w) * 17
                       + (CASE WHEN leg = 1
                          THEN ((i // 4) % w) - ((i // 4) % w) % 3
                          ELSE (i // 4) % w END) * 7
                       + (i % 4) * 11) % 256
                 ELSE 255 END
             ELSE
               CASE WHEN i % 4 < 3
                 THEN (doc_id * 7
                       + ((doc_id + 3 * ((i // 4) // w) + ((i // 4) % w)) % n) * 13
                       + (i % 4) * 29) % 256
                 WHEN ak
                 THEN (doc_id * 7
                       + ((doc_id + 3 * ((i // 4) // w) + ((i // 4) % w)) % n) * 13
                       + 97) % 256
                 ELSE 255 END
           END)),
         (a, b) -> a + b)::BIGINT AS px_weighted
FROM g
""",
        # tiff_decode (r15): per-leg flat replay — legs 0/3 gray-8
        # (k*31+y*17+x*7)%256, leg 1 RGB (+c*11), leg 2 palette
        # (k*7+idx*13+c*29)%256 with idx=(k+3y+x)%16, leg 4 bilevel
        # WhiteIsZero (bit 0 -> 255)
        "tiff_decode": """
WITH g AS (
  SELECT doc_id, (8 + doc_id % 7)::INT AS h, (8 + doc_id % 9)::INT AS w,
         (doc_id % 5) AS leg
  FROM documents),
v AS (
  SELECT doc_id, h, w, leg,
         CASE WHEN leg IN (1, 2) THEN 3 ELSE 1 END AS ch
  FROM g)
SELECT doc_id,
       h AS dec_height,
       w AS dec_width,
       (ch * h * w)::INT AS n_values,
       list_reduce(
         list_transform(range(0, ch * h * w),
           i -> CASE
             WHEN leg IN (0, 3) THEN
               (doc_id * 31 + (i // w) * 17 + (i % w) * 7) % 256
             WHEN leg = 1 THEN
               (doc_id * 31 + ((i // 3) // w) * 17
                + ((i // 3) % w) * 7 + (i % 3) * 11) % 256
             WHEN leg = 2 THEN
               (doc_id * 7
                + ((doc_id + 3 * ((i // 3) // w) + ((i // 3) % w)) % 16) * 13
                + (i % 3) * 29) % 256
             ELSE CASE WHEN (doc_id + 3 * (i // w) + (i % w)) % 2 = 0
                  THEN 255 ELSE 0 END
           END),
         (a, b) -> a + b)::BIGINT AS px_sum,
       list_reduce(
         list_transform(range(0, ch * h * w),
           i -> (i + 1) * (CASE
             WHEN leg IN (0, 3) THEN
               (doc_id * 31 + (i // w) * 17 + (i % w) * 7) % 256
             WHEN leg = 1 THEN
               (doc_id * 31 + ((i // 3) // w) * 17
                + ((i // 3) % w) * 7 + (i % 3) * 11) % 256
             WHEN leg = 2 THEN
               (doc_id * 7
                + ((doc_id + 3 * ((i // 3) // w) + ((i // 3) % w)) % 16) * 13
                + (i % 3) * 29) % 256
             ELSE CASE WHEN (doc_id + 3 * (i // w) + (i % w)) % 2 = 0
                  THEN 255 ELSE 0 END
           END)),
         (a, b) -> a + b)::BIGINT AS px_weighted
FROM v
""",
        # webp_frame_sample (r15): sampled composited canvases in
        # closed form — frame 0 = v0 = (k*31+y*17+x*7+c*11)%256
        # (alpha 255); frame 2 (k%3 in (1,2)) = v0 outside the (2,2)
        # inset rect, patch-local v2 = (k*31+106+py*17+px*7+c*11)%256
        # inside
        "webp_frame_sample": """
WITH g AS (
  SELECT doc_id, (8 + doc_id % 7)::INT AS h, (8 + doc_id % 9)::INT AS w
  FROM documents)
SELECT doc_id, 0 AS frame_idx, h AS dec_height, w AS dec_width,
       list_reduce(
         list_transform(range(0, 4 * h * w),
           i -> CASE WHEN i % 4 < 3
             THEN (doc_id * 31 + ((i // 4) // w) * 17
                   + ((i // 4) % w) * 7 + (i % 4) * 11) % 256
             ELSE 255 END),
         (a, b) -> a + b)::BIGINT AS px_sum,
       list_reduce(
         list_transform(range(0, 4 * h * w),
           i -> (i + 1) * (CASE WHEN i % 4 < 3
             THEN (doc_id * 31 + ((i // 4) // w) * 17
                   + ((i // 4) % w) * 7 + (i % 4) * 11) % 256
             ELSE 255 END)),
         (a, b) -> a + b)::BIGINT AS px_weighted
FROM g
UNION ALL
SELECT doc_id, 2, h, w,
       list_reduce(
         list_transform(range(0, 4 * h * w),
           i -> CASE WHEN i % 4 = 3 THEN 255
             WHEN ((i // 4) // w) >= 2 AND ((i // 4) // w) < h - 2
                  AND ((i // 4) % w) >= 2 AND ((i // 4) % w) < w - 2
             THEN (doc_id * 31 + 106 + (((i // 4) // w) - 2) * 17
                   + (((i // 4) % w) - 2) * 7 + (i % 4) * 11) % 256
             ELSE (doc_id * 31 + ((i // 4) // w) * 17
                   + ((i // 4) % w) * 7 + (i % 4) * 11) % 256 END),
         (a, b) -> a + b)::BIGINT,
       list_reduce(
         list_transform(range(0, 4 * h * w),
           i -> (i + 1) * (CASE WHEN i % 4 = 3 THEN 255
             WHEN ((i // 4) // w) >= 2 AND ((i // 4) // w) < h - 2
                  AND ((i // 4) % w) >= 2 AND ((i // 4) % w) < w - 2
             THEN (doc_id * 31 + 106 + (((i // 4) // w) - 2) * 17
                   + (((i // 4) % w) - 2) * 7 + (i % 4) * 11) % 256
             ELSE (doc_id * 31 + ((i // 4) // w) * 17
                   + ((i // 4) % w) * 7 + (i % 4) * 11) % 256 END)),
         (a, b) -> a + b)::BIGINT
FROM g WHERE doc_id % 3 IN (1, 2)
""",
        # bmp_decode (r12): always 3 channels; the gif_decode replay
        # with n = (2, 16, 256, 256)[key%4] — the 24-bit leg's pixels
        # ARE the virtual-palette expansion by construction
        "bmp_decode": """
WITH g AS (
  SELECT doc_id,
         (8 + doc_id % 7)::INT AS h,
         (8 + doc_id % 9)::INT AS w,
         ([2, 16, 256, 256][(doc_id % 4)::INT + 1]) AS n
  FROM documents)
SELECT doc_id,
       h AS dec_height,
       w AS dec_width,
       (3 * h * w)::INT AS n_values,
       list_reduce(
         list_transform(range(0, 3 * h * w),
           i -> (doc_id * 7
                 + ((doc_id + 3 * ((i // 3) // w) + ((i // 3) % w)) % n) * 13
                 + (i % 3) * 29) % 256),
         (a, b) -> a + b)::BIGINT AS px_sum,
       list_reduce(
         list_transform(range(0, 3 * h * w),
           i -> (i + 1) * ((doc_id * 7
                 + ((doc_id + 3 * ((i // 3) // w) + ((i // 3) % w)) % n) * 13
                 + (i % 3) * 29) % 256)),
         (a, b) -> a + b)::BIGINT AS px_weighted
FROM g
""",
        # image_dhash (r12): gray(q,y,x) = (q*131 + y*17 + x*23 +
        # (q*(y+1)*(x+1)) % 97) % 251; odd docs replace gray(0,0) with
        # the bit-0 flip value; bit b compares (y,x)=(b//8, b%8)
        # against (y, x+1); the HUGEINT fold re-signs into BIGINT
        "image_dhash": """
WITH p AS (SELECT doc_id, doc_id // 2 AS q, doc_id % 2 AS odd FROM documents),
h AS (
  SELECT doc_id,
    list_reduce(list_transform(range(0, 64), b ->
      CASE WHEN
        (CASE WHEN odd = 1 AND b = 0
              THEN (CASE WHEN (q*131 + (q % 97)) % 251
                              > (q*131 + 23 + (q*2 % 97)) % 251
                         THEN 0
                         ELSE (q*131 + 23 + (q*2 % 97)) % 251 + 1 END)
              ELSE (q*131 + (b // 8)*17 + (b % 8)*23
                    + (q*(b // 8 + 1)*(b % 8 + 1)) % 97) % 251 END)
        > ((q*131 + (b // 8)*17 + (b % 8 + 1)*23
            + (q*(b // 8 + 1)*(b % 8 + 2)) % 97) % 251)
      THEN (1::HUGEINT << b) ELSE 0::HUGEINT END),
      (a, c) -> a + c) AS hh
  FROM p)
SELECT doc_id,
       (CASE WHEN hh >= 9223372036854775808::HUGEINT
             THEN hh - 18446744073709551616::HUGEINT
             ELSE hh END)::BIGINT AS dhash
FROM h
""",
        # image_auto_orient (r13): after normalization every
        # orientation leg must land on the UPRIGHT base-pattern hash
        # (q = doc_id, no odd variant) with upright 8x9 dims
        "image_auto_orient": """
WITH h AS (
  SELECT doc_id,
    list_reduce(list_transform(range(0, 64), b ->
      CASE WHEN
        ((doc_id*131 + (b // 8)*17 + (b % 8)*23
          + (doc_id*(b // 8 + 1)*(b % 8 + 1)) % 97) % 251)
        > ((doc_id*131 + (b // 8)*17 + (b % 8 + 1)*23
            + (doc_id*(b // 8 + 1)*(b % 8 + 2)) % 97) % 251)
      THEN (1::HUGEINT << b) ELSE 0::HUGEINT END),
      (a, c) -> a + c) AS hh
  FROM documents)
SELECT doc_id,
       (doc_id % 8 + 1)::INT AS orientation,
       8::INT AS dec_height,
       9::INT AS dec_width,
       (CASE WHEN hh >= 9223372036854775808::HUGEINT
             THEN hh - 18446744073709551616::HUGEINT
             ELSE hh END)::BIGINT AS dhash
FROM h
""",
        # image_near_dup (r12): same hash construction over doc_id <
        # 200, then the banded self-join + popcount filter in SQL
        "image_near_dup": """
WITH p AS (SELECT doc_id, doc_id // 2 AS q, doc_id % 2 AS odd
           FROM documents WHERE doc_id < 200),
h AS (
  SELECT doc_id,
    list_reduce(list_transform(range(0, 64), b ->
      CASE WHEN
        (CASE WHEN odd = 1 AND b = 0
              THEN (CASE WHEN (q*131 + (q % 97)) % 251
                              > (q*131 + 23 + (q*2 % 97)) % 251
                         THEN 0
                         ELSE (q*131 + 23 + (q*2 % 97)) % 251 + 1 END)
              ELSE (q*131 + (b // 8)*17 + (b % 8)*23
                    + (q*(b // 8 + 1)*(b % 8 + 1)) % 97) % 251 END)
        > ((q*131 + (b // 8)*17 + (b % 8 + 1)*23
            + (q*(b // 8 + 1)*(b % 8 + 2)) % 97) % 251)
      THEN (1::HUGEINT << b) ELSE 0::HUGEINT END),
      (a, c) -> a + c) AS hh
  FROM p),
sh AS (
  SELECT doc_id,
         (CASE WHEN hh >= 9223372036854775808::HUGEINT
               THEN hh - 18446744073709551616::HUGEINT
               ELSE hh END)::BIGINT AS dh
  FROM h),
keyed AS (
  SELECT doc_id, dh, band, (dh >> (band * 16)) & 65535 AS key
  FROM (SELECT doc_id, dh, unnest([0, 1, 2, 3]) AS band FROM sh)),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
         l.dh AS da, r.dh AS db
  FROM keyed l JOIN keyed r
    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)
SELECT id_a, id_b, bit_count(xor(da, db))::INT AS hamming
FROM cand
WHERE bit_count(xor(da, db)) <= 3
""",
        # gif_frame_sample (r12, r13 delta frames, r14 disposal 3):
        # F = 2 + doc_id%3, every=2 → sampled [0] when F=2 else [0,2].
        # doc_id%3 == 0 is the all-full-canvas legacy path (flat RGB
        # replay); == 1 carries frames >0 as inset (1,1)..(w-2,h-2)
        # disposal-1 patches (composited RGBA: interior = frame-f
        # colors, 1-px border = frame-0); == 2 plants frame 1 as a
        # DISPOSAL-3 patch that must be REVERTED before the smaller
        # (2,2)..(w-3,h-3) disposal-1 frame 2 lands — sampled frame 2
        # shows frame-0 pixels in the ring frame 1 covered, frame-2
        # colors only in the inner rectangle
        "gif_frame_sample": """
WITH g AS (
  SELECT doc_id,
         (8 + doc_id % 7)::INT AS h,
         (8 + doc_id % 9)::INT AS w,
         (doc_id % 3)::INT AS m,
         unnest(CASE WHEN doc_id % 3 = 0
                     THEN list_value(0) ELSE list_value(0, 2) END) AS f
  FROM documents),
v AS (
  SELECT doc_id, h, w, m, f,
         CASE WHEN m = 0
              THEN list_transform(range(0, 3 * h * w),
                i -> (doc_id * 7
                      + ((doc_id + f + 3 * ((i // 3) // w) + ((i // 3) % w)) % 16) * 13
                      + (i % 3) * 29) % 256)
              ELSE list_transform(range(0, 4 * h * w),
                i -> CASE WHEN i % 4 = 3 THEN 255
                     ELSE (doc_id * 7
                           + ((doc_id
                               + (CASE WHEN f > 0 AND m = 1
                                       AND ((i // 4) // w) BETWEEN 1 AND h - 2
                                       AND ((i // 4) % w) BETWEEN 1 AND w - 2
                                  THEN f
                                  WHEN f > 0 AND m = 2
                                       AND ((i // 4) // w) BETWEEN 2 AND h - 3
                                       AND ((i // 4) % w) BETWEEN 2 AND w - 3
                                  THEN f ELSE 0 END)
                               + 3 * ((i // 4) // w) + ((i // 4) % w)) % 16) * 13
                           + (i % 4) * 29) % 256 END)
         END AS px
  FROM g)
SELECT doc_id,
       f::INT AS frame_idx,
       h AS dec_height,
       w AS dec_width,
       list_reduce(px, (a, b) -> a + b)::BIGINT AS px_sum,
       list_reduce(
         list_transform(range(0, len(px)), i -> (i + 1) * px[i + 1]),
         (a, b) -> a + b)::BIGINT AS px_weighted
FROM v
""",
        # decode_coverage: every (status, reason) is a pure function of
        # doc_id % 7 by construction of synth_coverage_media (r15: legs
        # 5/6 add a real VP8L decode and the lossy-WebP refusal) — the
        # engine must actually decode/refuse its way to the same counts
        "decode_coverage": """
SELECT decode_status, decode_reason, count(*)::BIGINT AS n
FROM (SELECT CASE WHEN doc_id % 7 IN (0, 1, 2, 5) THEN 'ok' ELSE 'refused' END AS decode_status,
             CASE doc_id % 7 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'jpeg'
                  WHEN 3 THEN 'truncated' WHEN 5 THEN 'webp'
                  WHEN 6 THEN 'lossy_webp' ELSE 'unsupported_mime' END AS decode_reason
      FROM documents)
GROUP BY decode_status, decode_reason
""",
        "jpeg_color_decode": """
WITH t AS (
  SELECT doc_id, 8 * (1 + doc_id % 2) AS h, 8 * (1 + doc_id % 3) AS w,
         (1 + doc_id % 3) AS bx
  FROM documents
), px AS (
  SELECT doc_id, h, w,
    list_transform(range(0, h * w * 3), i ->
      CASE i % 3
        WHEN 0 THEN least(255, greatest(0, floor(
          ((doc_id * 31 + (((i // 3) // w // 8) * bx + ((i // 3) % w // 8)) * 17) % 256)
          + 1.402::DOUBLE * (((doc_id * 13 + (((i // 3) // w // 8) * bx + ((i // 3) % w // 8)) * 5) % 256) - 128)
          + 0.5::DOUBLE)::BIGINT))
        WHEN 1 THEN least(255, greatest(0, floor(
          ((doc_id * 31 + (((i // 3) // w // 8) * bx + ((i // 3) % w // 8)) * 17) % 256)
          - 0.344136::DOUBLE * (((doc_id * 7 + (((i // 3) // w // 8) * bx + ((i // 3) % w // 8)) * 11) % 256) - 128)
          - 0.714136::DOUBLE * (((doc_id * 13 + (((i // 3) // w // 8) * bx + ((i // 3) % w // 8)) * 5) % 256) - 128)
          + 0.5::DOUBLE)::BIGINT))
        ELSE least(255, greatest(0, floor(
          ((doc_id * 31 + (((i // 3) // w // 8) * bx + ((i // 3) % w // 8)) * 17) % 256)
          + 1.772::DOUBLE * (((doc_id * 7 + (((i // 3) // w // 8) * bx + ((i // 3) % w // 8)) * 11) % 256) - 128)
          + 0.5::DOUBLE)::BIGINT))
      END) AS vals
  FROM t
)
SELECT doc_id, h::INT AS dec_height, w::INT AS dec_width,
       len(vals)::INT AS n_values,
       list_reduce(vals, (a, b) -> a + b)::BIGINT AS px_sum,
       list_reduce(list_transform(range(0, len(vals)), i -> (i + 1) * vals[i + 1]),
                   (a, b) -> a + b)::BIGINT AS px_weighted
FROM px
""",
        # video_frame_sample: every-2nd-frame sample of the MJPEG AVI
        # synthesis — frame f of video d has 2 + d%3 frames total and
        # block b decodes to the constant (d*31 + f*19 + b*17) % 256
        "video_frame_sample": """
WITH t AS (
  SELECT doc_id, 1 + doc_id % 3 AS bx, 1 + doc_id % 2 AS by, 2 + doc_id % 3 AS nf
  FROM documents
), fr AS (
  SELECT doc_id, bx, by, unnest(range(0, nf, 2)) AS f FROM t
)
SELECT doc_id, f::INT AS frame_idx,
       (by * 8)::INT AS dec_height, (bx * 8)::INT AS dec_width,
       list_reduce(
         list_transform(range(0, bx * by),
           b -> 64 * ((doc_id * 31 + f * 19 + b * 17) % 256)),
         (a, b) -> a + b)::BIGINT AS px_sum,
       list_reduce(
         list_transform(range(0, 64 * bx * by),
           i -> (i + 1) * ((doc_id * 31 + f * 19
                 + ((i // (64 * bx)) * bx + (i % (8 * bx)) // 8) * 17) % 256)),
         (a, b) -> a + b)::BIGINT AS px_weighted
FROM fr
""",
        # image_resize: nearest-neighbor sample of the closed-form
        # pixels — out[y][x] = p(y*h//4, x*w//4)
        "image_resize": """
SELECT doc_id, 4::INT AS dec_height, 4::INT AS dec_width,
       list_reduce(
         list_transform(range(0, 16),
           i -> (doc_id * 31
                 + ((i // 4) * (8 + doc_id % 7) // 4) * 17
                 + ((i % 4) * (8 + doc_id % 9) // 4) * 7) % 256),
         (a, b) -> a + b)::BIGINT AS px_sum,
       list_reduce(
         list_transform(range(0, 16),
           i -> (i + 1) * ((doc_id * 31
                 + ((i // 4) * (8 + doc_id % 7) // 4) * 17
                 + ((i % 4) * (8 + doc_id % 9) // 4) * 7) % 256)),
         (a, b) -> a + b)::BIGINT AS px_weighted
FROM documents
""",
        "data_validation_report": """
WITH agg AS (
  SELECT count(*)::BIGINT AS n_rows,
         round((count(*) - count(l_quantity)) / count(*)::DOUBLE, 6) AS null_qty,
         round(sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 1 ELSE 0 END) / count(*)::DOUBLE, 6)
           AS qty_in_range,
         round(sum(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 1 ELSE 0 END) / count(*)::DOUBLE, 6)
           AS disc_in_range,
         round(count(DISTINCT l_orderkey || '#' || l_linenumber) / count(*)::DOUBLE, 6)
           AS line_unique,
         sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS fk_nulls
  FROM lineitem),
fk AS (
  SELECT count(*)::BIGINT AS fk_violations
  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
SELECT * FROM agg, fk
""",
        # latest_event_per_user: DuckDB lacks max_by over a struct
        # ordering — the window row_number form is the replay
        "latest_event_per_user": """
SELECT user_id, event_id, event_type, round(value, 6) AS value FROM (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
WHERE rn = 1
""",
        # events_tier_rollup: each tier computed directly from raw
        # events — matching proves the Spark side's tier-from-tier
        # re-aggregation is exact
        "events_tier_rollup": """
WITH raw AS (SELECT (epoch_us(ts) // 1000000)::BIGINT AS es, event_type, value FROM events),
t AS (
  SELECT unnest(['1 minute', '1 hour', '1 day']) AS tier,
         unnest([60, 3600, 86400]) AS s
)
SELECT tier, (es // s) * s AS bucket_start, event_type,
       count(*)::BIGINT AS n,
       round(sum(value), 2) AS total,
       round(min(value), 6) AS vmin,
       round(max(value), 6) AS vmax
FROM raw, t
GROUP BY 1, 2, 3
""",
        "decontamination_check": f"""
WITH docs AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(toks) < 4 THEN []::VARCHAR[] ELSE
      list_transform(range(0, len(toks) - 3), i -> array_to_string(toks[i+1:i+4], ' '))
    END)) AS s
  FROM docs),
tr AS (SELECT doc_id AS train_id, s FROM sh WHERE doc_id % 97 != 0),
ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id % 97 = 0)
SELECT train_id, eval_id, count(*)::BIGINT AS n_shared
FROM tr JOIN ev USING (s) GROUP BY 1, 2
""",
        "pack_sequences_check": f"""
WITH base AS (
  SELECT doc_id AS id, doc_id % 8 AS shard,
         (CASE WHEN len(trim(coalesce(text, ''))) = 0 THEN 0 ELSE len({_TOKS}) END)::BIGINT AS n_tokens
  FROM documents),
cum AS (
  SELECT id, shard, n_tokens,
         (sum(n_tokens) OVER (PARTITION BY shard ORDER BY id) - n_tokens)::BIGINT AS start_offset
  FROM base)
SELECT id, shard, n_tokens, start_offset,
       (shard * 1099511627776 + start_offset // 512)::BIGINT AS pack_id,
       (start_offset % 512)::BIGINT AS pack_pos,
       (CASE WHEN n_tokens = 0 THEN 0
             ELSE (start_offset + n_tokens - 1) // 512 - start_offset // 512 + 1
        END)::BIGINT AS n_packs
FROM cum
""",
        "vocab_top_tokens": f"""
WITH toks AS (SELECT unnest({_TOKS}) AS token FROM documents),
counts AS (SELECT token, count(*)::BIGINT AS n FROM toks WHERE len(token) > 0 GROUP BY token)
SELECT token, n, rank FROM (
  SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rank FROM counts)
WHERE rank <= 50
""",
        # heavy_hitters_cms: replay the 4x1024 Count-Min build
        # (cell = count of tokens hashing there per row r) and the
        # probe (min over rows, absent cell = 0). ONE md5 base hash
        # per occurrence + the Carter-Wegman affine row family
        # (sketches.cms_affine — same envelope as minhash's rehash).
        # Pure integer arithmetic — exact on both engines.
        "heavy_hitters_cms": _cms_sql(),
        # neardup_time_horizon: the exact batch twin dictionary-encodes
        # its carried shingle sets to hash60 longs (r8 — the join-state
        # width fix), so the oracle scores Jaccard over the SAME hashed
        # sets: bit-for-bit including any hash collision. The unused
        # mpairs CTE is never evaluated.
        "neardup_time_horizon": f"""
WITH {_minhash_ctes(0.1)},
hsh AS (
  SELECT doc_id, list_distinct(list_transform(sh, g -> {_H('g', '0')})) AS hs
  FROM nonempty),
hpairs AS (
  SELECT id_a, id_b,
         len(list_intersect(a.hs, b.hs))::DOUBLE
           / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))) AS jaccard
  FROM cand JOIN hsh a ON cand.id_a = a.doc_id JOIN hsh b ON cand.id_b = b.doc_id)
SELECT id_a, id_b,
       (1704067200 + greatest(id_a, id_b) * 37)::BIGINT AS ts_epoch,
       jaccard
FROM hpairs WHERE jaccard >= 0.1 AND abs(id_a - id_b) * 37 <= 3600
""",
        # neardup_estimate: same banded candidates (cand/sigs CTEs; the
        # unused mpairs CTE is never evaluated), scored by the MinHash
        # estimator — agreeing components / k. k=16 keeps the division
        # exact in binary floating point on both engines.
        "neardup_estimate": f"""
WITH {_minhash_ctes(0.0)},
est AS (
  SELECT id_a, id_b,
         len(list_filter(range(0, 16), i -> a.sig[i + 1] = b.sig[i + 1]))::DOUBLE / 16
           AS jaccard
  FROM cand JOIN sigs a ON cand.id_a = a.doc_id JOIN sigs b ON cand.id_b = b.doc_id)
SELECT id_a, id_b,
       (1704067200 + greatest(id_a, id_b) * 37)::BIGINT AS ts_epoch,
       jaccard
FROM est WHERE jaccard >= 0.25 AND abs(id_a - id_b) * 37 <= 3600
""",
        # audio_features: the oracle recomputes every decoded feature
        # from the synthesis closed form s_i = (key*7919 + i*104729)
        # % 65536 - 32768 (n = 256 + key%256 frames at 8 kHz) — the
        # Spark side must round-trip genuine WAV bytes to match.
        "audio_features": """
SELECT doc_id,
       8000::INT AS sample_rate,
       1::INT AS n_channels,
       (256 + doc_id % 256)::INT AS n_samples,
       round(((256 + doc_id % 256) * 1000.0) / 8000, 3) AS duration_ms,
       round(sqrt(
         list_reduce(
           list_transform(
             list_transform(range(0, (256 + doc_id % 256)::INT),
                            i -> ((doc_id * 7919 + i * 104729) % 65536 - 32768)::DOUBLE),
             v -> v * v),
           (a, b) -> a + b)
         / (256 + doc_id % 256)), 6) AS rms
FROM documents
""",
        # wav_envelope_features (r12): fmt cycles doc_id % 4; pcm8 uses
        # the mod-256 closed form, the wider formats mod-4096 — the
        # engine must parse PCM8/16/24 and IEEE float32 (plus the
        # WAVE_FORMAT_EXTENSIBLE wrapper on odd keys) to land on the
        # same rms
        "wav_envelope_features": """
SELECT doc_id,
       ['pcm8', 'pcm16', 'pcm24', 'float32'][(doc_id % 4)::INT + 1] AS fmt,
       8000::INT AS sample_rate,
       (64 + doc_id % 64)::INT AS n_samples,
       round(sqrt(
         list_reduce(
           list_transform(range(0, (64 + doc_id % 64)::INT),
             i -> CASE WHEN doc_id % 4 = 0
                  THEN (((doc_id * 31 + i * 17) % 256 - 128)::DOUBLE
                        * ((doc_id * 31 + i * 17) % 256 - 128))
                  ELSE (((doc_id * 31 + i * 17) % 4096 - 2048)::DOUBLE
                        * ((doc_id * 31 + i * 17) % 4096 - 2048)) END),
           (a, b) -> a + b)
         / (64 + doc_id % 64)), 6) AS rms
FROM documents
""",
        # warc_extract (r12): the WARC/HTTP framing round trip is
        # content-transparent, so the expected extraction is exactly
        # html_extract's closed form plus the synth URI and status
        "warc_extract": """
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')) AS nt
  FROM documents)
SELECT doc_id,
       'http://crawl.example/doc/' || doc_id AS target_uri,
       200::INT AS http_status,
       CASE WHEN nt = ''
            THEN 'T' || chr(10) || 'Doc & ' || doc_id || chr(10) || 'Home Next >'
            ELSE 'T' || chr(10) || 'Doc & ' || doc_id || chr(10) || nt
                 || chr(10) || 'Home Next >' END AS extracted,
       (CASE WHEN nt = '' THEN 3 ELSE 4 END)::INT AS n_blocks
FROM n
""",
        # html_jsonld (r13): one Article object per page — every
        # provenance field is a pure function of doc_id
        "html_jsonld": """
SELECT doc_id,
       'Article' AS ld_type,
       1::INT AS n_types,
       CASE doc_id % 3
            WHEN 0 THEN 'https://creativecommons.org/licenses/by/4.0/'
            WHEN 1 THEN 'https://example.com/tos'
            ELSE 'https://rightsstatements.org/page/InC/1.0/'
       END AS license,
       '2024-0' || (doc_id % 9 + 1) || '-01' AS date_published,
       'A. ' || (doc_id % 11) AS author,
       1::INT AS n_ld_blocks,
       (CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END)::INT AS n_ld_bad
FROM documents
""",
        # html_markdown (r13): the synth page's Markdown is a closed
        # form of (doc_id, text); the engine must drop the script,
        # decode entities, wrap inline elements and keep the <pre>
        # fence RAW (double space preserved) for the hash to match
        "html_markdown": """
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')) AS nt
  FROM documents)
SELECT doc_id,
  '## Doc ' || doc_id || chr(10) || chr(10)
  || CASE WHEN nt = '' THEN '' ELSE nt || ' ' END
  || 'has **bold ' || doc_id || '** and [a link](/l/' || (doc_id % 7) || ')'
  || chr(10) || chr(10) || '- item zero'
  || chr(10) || chr(10) || '- item ' || (doc_id % 5)
  || chr(10) || chr(10) || '1. first'
  || chr(10) || chr(10) || '2. second ' || doc_id
  || chr(10) || chr(10) || '```' || chr(10) || 'raw  ' || doc_id
  || chr(10) || 'code' || chr(10) || '```'
  || chr(10) || chr(10) || '> quote ' || doc_id AS markdown
FROM n
""",
        # document_extract (r13): every normalized field is a closed
        # form of (doc_id % 5, text) — the PDF/DOCX legs carry the raw
        # text, the HTML leg replays html_extract's collapse form
        "document_extract": """
WITH n AS (
  SELECT doc_id, doc_id % 5 AS leg, coalesce(text, '') AS t,
         trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')) AS nt
  FROM documents)
SELECT doc_id,
  CASE leg WHEN 0 THEN 'pdf' WHEN 1 THEN 'docx' WHEN 2 THEN 'html'
       WHEN 3 THEN 'text' ELSE 'application/zstd' END AS doc_format,
  CASE WHEN leg <= 3 THEN 0 END::INT AS unit_no,
  CASE leg WHEN 0 THEN 1 WHEN 1 THEN 2
       WHEN 2 THEN (CASE WHEN nt = '' THEN 3 ELSE 4 END)
       WHEN 3 THEN 1 END::INT AS n_units,
  CASE WHEN leg = 1 THEN 'T' || (doc_id % 7)
       WHEN leg = 2 THEN 'T' END AS title,
  CASE leg
       WHEN 0 THEN 'd ' || doc_id || chr(10) || t
       WHEN 1 THEN 'd ' || doc_id || chr(10) || t
       WHEN 2 THEN CASE WHEN nt = ''
            THEN 'T' || chr(10) || 'Doc & ' || doc_id || chr(10)
                 || 'Home Next >'
            ELSE 'T' || chr(10) || 'Doc & ' || doc_id || chr(10) || nt
                 || chr(10) || 'Home Next >' END
       WHEN 3 THEN 'plain ' || doc_id || chr(10) || t END AS extracted,
  CASE WHEN leg = 4 THEN 'unsupported_mime' END AS refusal
FROM n
""",
        # docx_extract (r13): the paragraph join is a closed form of
        # (doc_id, text) — raw text round-trips through <w:t> runs
        # with tabs/newlines as <w:tab/>/<w:br/>
        "docx_extract": """
SELECT doc_id,
       'Doc ' || doc_id || chr(10) || coalesce(text, '') || chr(10)
         || 'end ' || (doc_id % 9) AS extracted,
       CASE WHEN doc_id % 3 = 0 THEN 'T' || (doc_id % 7) END AS title,
       3::INT AS n_paragraphs,
       NULL::VARCHAR AS refusal
FROM documents
""",
        # feed_extract (r13): every field is a closed form of
        # (doc_id % 3, i); the non-feed leg must refuse reason-coded
        "feed_extract": """
WITH e AS (
  SELECT doc_id, doc_id % 3 AS leg,
         unnest(CASE WHEN doc_id % 3 = 2 THEN [0] ELSE [0, 1] END) AS i
  FROM documents)
SELECT doc_id,
  CASE leg WHEN 0 THEN 'rss' WHEN 1 THEN 'atom' END AS feed_kind,
  CASE leg WHEN 0 THEN 'Feed ' || doc_id
       WHEN 1 THEN 'AFeed ' || doc_id END AS feed_title,
  CASE leg WHEN 0 THEN 'T & ' || doc_id || '_' || i
       WHEN 1 THEN 'A ' || doc_id || '_' || i END AS title,
  CASE leg WHEN 0 THEN 'https://f.example/r/' || doc_id || '/' || i
       WHEN 1 THEN 'https://f.example/a/' || doc_id || '/' || i
       END AS link,
  CASE leg WHEN 0 THEN 'Mon, 0' || (1 + (doc_id + i) % 9)
                || ' Jan 2024 00:00:00 GMT'
       WHEN 1 THEN '2024-02-0' || (1 + (doc_id + i) % 9) END AS published,
  CASE leg WHEN 0 THEN 'g' || doc_id || '_' || i
       WHEN 1 THEN 'urn:' || doc_id || ':' || i END AS entry_id,
  CASE WHEN leg = 2 THEN 'not_a_feed' END AS refusal
FROM e
""",
        # sitemap_extract (r13): every entry field is a closed form of
        # (doc_id % 4, u); leg 1 is gzipped (3 urls — odd keys), the
        # urlset locs carry an &amp; the engine must decode
        "sitemap_extract": """
WITH e AS (
  SELECT doc_id, doc_id % 4 AS leg,
         unnest(CASE WHEN doc_id % 4 = 1 THEN [0, 1, 2]
                     ELSE [0, 1] END) AS u
  FROM documents)
SELECT doc_id,
  CASE WHEN leg = 2 THEN 'sitemap' ELSE 'url' END AS kind,
  CASE WHEN leg IN (0, 1)
       THEN 'https://s.example/p?a=1&k=' || doc_id || 'u' || u
       WHEN leg = 2
       THEN 'https://s.example/sm' || doc_id || '_' || u || '.xml'
       ELSE 'https://s.example/t/' || doc_id || '/' || u END AS loc,
  CASE WHEN leg IN (0, 1) THEN '2024-0' || (1 + (doc_id + u) % 9) || '-01'
       WHEN leg = 2 THEN '2024-1' || u || '-05' END AS lastmod,
  CASE WHEN leg IN (0, 1)
       THEN ['daily', 'weekly', 'monthly'][((doc_id + u) % 3)::INT + 1]
       END AS changefreq,
  CASE WHEN leg IN (0, 1) THEN (doc_id % 10) / 10.0 END AS priority,
  NULL::VARCHAR AS refusal
FROM e
""",
        # pdf_extract (r13): per-page text is a pure function of
        # (doc_id, text) by construction of synth_pdf_media; the
        # chr(10) join replays the Td line model
        # pdf_images (r15): the pdf → XObject walk → decode chain in
        # closed form. Leg doc_id%3: 0 DCT gray (the jpeg_decode
        # replay), 1 Flate RGB (the png_color_decode replay at
        # w=8+k%9), 2 the ccitt refusal (dims known, sums NULL);
        # doc_id%4==0 adds img_no 1: 5×6 gray (k*5+3y+x)%256
        # replicated ×3 by the BMP gray-palette re-wrap
        "pdf_images": """
SELECT doc_id, 0 AS img_no, 'image/jpeg' AS img_mime,
       (8 * (1 + doc_id % 3))::INT AS width,
       (8 * (1 + doc_id % 2))::INT AS height,
       NULL AS refusal,
       (64 * (1 + doc_id % 3) * (1 + doc_id % 2))::INT AS n_values,
       list_reduce(
         list_transform(range(0, (1 + doc_id % 3) * (1 + doc_id % 2)),
           b -> 64 * ((doc_id * 31 + b * 17) % 256)),
         (a, b) -> a + b)::BIGINT AS px_sum,
       list_reduce(
         list_transform(range(0, 64 * (1 + doc_id % 3) * (1 + doc_id % 2)),
           i -> (i + 1) * ((doc_id * 31
                 + ((i // (64 * (1 + doc_id % 3))) * (1 + doc_id % 3)
                    + (i % (8 * (1 + doc_id % 3))) // 8) * 17) % 256)),
         (a, b) -> a + b)::BIGINT AS px_weighted
FROM documents WHERE doc_id % 3 = 0
UNION ALL
SELECT doc_id, 0, 'image/bmp',
       (8 + doc_id % 9)::INT,
       (8 + doc_id % 7)::INT,
       NULL,
       ((8 + doc_id % 7) * (8 + doc_id % 9) * 3)::INT,
       list_reduce(
         list_transform(range(0, (8 + doc_id % 7) * (8 + doc_id % 9) * 3),
           i -> (doc_id * 31 + ((i // 3) // (8 + doc_id % 9)) * 17
                 + ((i // 3) % (8 + doc_id % 9)) * 7 + (i % 3) * 11) % 256),
         (a, b) -> a + b)::BIGINT,
       list_reduce(
         list_transform(range(0, (8 + doc_id % 7) * (8 + doc_id % 9) * 3),
           i -> (i + 1) * ((doc_id * 31 + ((i // 3) // (8 + doc_id % 9)) * 17
                 + ((i // 3) % (8 + doc_id % 9)) * 7 + (i % 3) * 11) % 256)),
         (a, b) -> a + b)::BIGINT
FROM documents WHERE doc_id % 3 = 1
UNION ALL
SELECT doc_id, 0, NULL, 16, 16, 'ccitt',
       NULL::INT, NULL::BIGINT, NULL::BIGINT
FROM documents WHERE doc_id % 3 = 2
UNION ALL
SELECT doc_id, 1, 'image/bmp', 6, 5, NULL,
       90,
       list_reduce(
         list_transform(range(0, 90),
           i -> (doc_id * 5 + 3 * ((i // 3) // 6) + ((i // 3) % 6)) % 256),
         (a, b) -> a + b)::BIGINT,
       list_reduce(
         list_transform(range(0, 90),
           i -> (i + 1) * ((doc_id * 5 + 3 * ((i // 3) // 6) + ((i // 3) % 6)) % 256)),
         (a, b) -> a + b)::BIGINT
FROM documents WHERE doc_id % 4 = 0
""",
        "pdf_extract": """
WITH legs AS (
  SELECT doc_id, doc_id % 4 AS leg, coalesce(text, '') AS t
  FROM documents),
pages AS (
  SELECT doc_id, leg, t,
         unnest(CASE WHEN leg = 2 THEN [0, 1] ELSE [0] END) AS page_no
  FROM legs)
SELECT doc_id,
       page_no::INT AS page_no,
       (CASE WHEN leg = 2 THEN 2 ELSE 1 END)::INT AS n_pages,
       CASE WHEN leg = 3 THEN 'T' || (doc_id % 7) END AS title,
       CASE leg
            WHEN 0 THEN 'Doc ' || doc_id || chr(10) || 'line ' || doc_id
            WHEN 1 THEN 't ' || doc_id || chr(10) || t
            WHEN 2 THEN 'pg ' || page_no || ' of ' || doc_id
            ELSE 'café ' || doc_id END AS extracted,
       NULL::VARCHAR AS refusal
FROM pages
""",
        # crawl_coverage (r13; r14 added leg 6 — colonless WARC header
        # line over a clean response, which must count ok, not http-
        # refused; r15 adds leg 8 — valid zstd body, ok/utf-8 — and
        # re-points leg 1's undecodable coding to RFC 9110 'compress'):
        # synth_warc_hostile makes every (stage, status, reason) a pure
        # function of doc_id % 9 (legs 0-8) — the engine must frame,
        # isolate, and refuse its way to the counts
        "crawl_coverage": """
SELECT CASE WHEN leg IN (0, 6, 7, 8) THEN 'ok'
            WHEN leg IN (1, 2, 3) THEN 'http'
            ELSE 'charset' END AS stage,
       CASE WHEN leg IN (0, 6, 7, 8) THEN 'ok' ELSE 'refused' END AS status,
       CASE leg WHEN 0 THEN 'utf-8'
            WHEN 6 THEN 'utf-8'
            WHEN 7 THEN 'utf-8'
            WHEN 8 THEN 'utf-8'
            WHEN 1 THEN 'content_coding'
            WHEN 2 THEN 'bad_chunking'
            WHEN 3 THEN 'bad_header_line'
            WHEN 4 THEN 'unknown_charset:klingon'
            ELSE 'undecodable:utf-8' END AS reason,
       count(*)::BIGINT AS n
FROM (SELECT doc_id % 9 AS leg FROM documents)
GROUP BY 1, 2, 3
""",
        # robots_eval (r12): path cycles doc_id%6; the '*' group
        # disallows /private/ (with a longer /private/ok/ Allow) and
        # anchors /tmp/*.bin$; the trainbot group disallows everything
        # except /public/
        "robots_eval": """
SELECT doc_id,
       CASE doc_id % 6
            WHEN 0 THEN '/index.html'
            WHEN 1 THEN '/private/a.html'
            WHEN 2 THEN '/private/ok/b.html'
            WHEN 3 THEN '/tmp/x.bin'
            WHEN 4 THEN '/tmp/x.bin.gz'
            ELSE '/public/c.html' END AS path,
       (CASE doc_id % 6 WHEN 1 THEN 0 WHEN 3 THEN 0 ELSE 1 END)::INT
         AS allowed_any,
       (CASE WHEN doc_id % 6 = 5 THEN 1 ELSE 0 END)::INT
         AS allowed_trainbot
FROM documents
""",
        # exif_scrub (r12): orientation/datetime/GPS are direct
        # functions of doc_id; px_sum is the synth_block_values closed
        # form (constant pixel (key*31 + b*17)%256 per 8x8 block, bx =
        # 1+key%3 blocks across, by = 1+key%2 down) — the scrub must
        # leave it untouched; scrubbed_bytes = the APP1 size
        "exif_scrub": """
SELECT doc_id,
       (1 + doc_id % 8)::INT AS orientation,
       '2021:01:' || lpad((1 + doc_id % 28)::VARCHAR, 2, '0') || ' '
         || lpad((doc_id % 24)::VARCHAR, 2, '0') || ':'
         || lpad((doc_id % 60)::VARCHAR, 2, '0') || ':'
         || lpad(((doc_id * 7) % 60)::VARCHAR, 2, '0') AS exif_datetime,
       (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)::INT AS has_gps,
       CASE WHEN doc_id % 3 = 0
            THEN (doc_id % 90) + 0.25 END AS gps_lat,
       CASE WHEN doc_id % 3 = 0
            THEN -((doc_id % 180) + 0.5) END AS gps_lon,
       (CASE WHEN doc_id % 3 = 0 THEN 182 ELSE 68 END)::INT AS scrubbed_bytes,
       (64 * list_reduce(
          list_transform(range(0, (1 + doc_id % 3) * (1 + doc_id % 2)),
            b -> (doc_id * 31 + b * 17) % 256),
          (a, c) -> a + c))::BIGINT AS px_sum
FROM documents
""",
        # webdataset_extract (r12): 2 + doc_id%2 samples per shard;
        # caption/label are closed forms (s=0 carries the raw text,
        # trailing-space exact on empty/NULL text)
        "webdataset_extract": """
WITH s AS (
  SELECT doc_id, text, unnest(range(0, 2 + doc_id % 2)) AS s
  FROM documents)
SELECT doc_id,
       's' || doc_id || '_' || s AS sample_key,
       2::INT AS n_members,
       CASE WHEN s = 0 THEN 'cap ' || doc_id || ' 0 ' || coalesce(text, '')
            ELSE 'cap ' || doc_id || ' ' || s END AS caption,
       ((doc_id + s) % 251)::INT AS cls
FROM s
""",
        # html_meta (r12): every field is a direct function of doc_id
        "html_meta": """
SELECT doc_id,
       'Page ' || doc_id AS title,
       CASE doc_id % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'de-AT'
            ELSE 'ja' END AS lang,
       'https://e.com/c/' || (doc_id % 9) AS canonical,
       (CASE WHEN doc_id % 4 IN (1, 3) THEN 1 ELSE 0 END)::INT AS noindex,
       (CASE WHEN doc_id % 4 IN (2, 3) THEN 1 ELSE 0 END)::INT AS nofollow
FROM documents
""",
        # charset_decode (r12): decode is a round trip, so each leg's
        # expected string is a direct SQL literal; only the UTF-8 leg
        # carries the document text
        "charset_decode": """
SELECT doc_id,
       CASE doc_id % 4
            WHEN 1 THEN 'latin-1'
            WHEN 2 THEN 'windows-1251'
            ELSE 'utf-8' END AS charset,
       CASE doc_id % 4
            WHEN 0 THEN 'é ' || doc_id || ' ' || coalesce(text, '')
            WHEN 1 THEN 'naïve café ' || doc_id
            WHEN 2 THEN '<meta charset="windows-1251">привет ' || doc_id
            ELSE 'plain ' || doc_id END AS html
FROM documents
""",
        # url_normalize_check (r12): raw = scheme(doc_id%2) ://
        # host(doc_id%3) :defaultport /item/(doc_id%7)
        # ?utm_source=feed&b=(doc_id%5)&a=1 #frag; the canonical form
        # lowercases the host, drops port/tracking/fragment, sorts the
        # surviving params ('a=1' < 'b=N' bytewise)
        "url_normalize_check": """
WITH u AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END AS scheme,
         CASE WHEN doc_id % 3 = 0 THEN 'Example.COM'
              WHEN doc_id % 3 = 1 THEN 'shop.Example.co.uk'
              ELSE 'cdn.mirror.example.org' END AS host,
         CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END AS port,
         '/item/' || (doc_id % 7) AS path,
         'b=' || (doc_id % 5) AS bparam
  FROM documents)
SELECT doc_id,
       scheme || '://' || host || port || path
         || '?utm_source=feed&' || bparam || '&a=1#frag' AS url,
       scheme || '://' || lower(host) || path
         || '?a=1&' || bparam AS norm_url,
       CASE WHEN doc_id % 3 = 0 THEN 'example.com'
            WHEN doc_id % 3 = 1 THEN 'example.co.uk'
            ELSE 'example.org' END AS domain
FROM u
""",
        # domain_rollup_urls (r12): same construction grouped by the
        # eTLD+1 class (doc_id%3); pages are distinct canonical forms,
        # which vary by (doc_id%2, %7, %5) within the class
        # sentence_split (r13): the synth paragraph segments to the
        # same 5 sentences for every key — the 'Dr.' must NOT split,
        # the quoted start must
        "sentence_split": """
SELECT doc_id,
       5::INT AS n_sentences,
       'Alpha ' || doc_id || '.' AS s1,
       'Beta approx. ' || doc_id || ' No. ' || (doc_id % 7) || '!' AS s2,
       'Dr. Smith said ' || doc_id || '?' AS s3,
       '"Quoted ' || doc_id || '."' AS s4,
       'End U.S. Nr. ' || (doc_id % 9) || '.' AS s5
FROM documents
""",
        # domain_quota_sample (r13): domain = doc_id % 3 residue class
        # (three registered domains by construction of synth_urls);
        # priority = doc_id is unique, so the rank-and-cut is total
        "domain_quota_sample": """
SELECT doc_id FROM (
  SELECT doc_id,
         row_number() OVER (PARTITION BY doc_id % 3
                            ORDER BY doc_id DESC) AS rk
  FROM documents)
WHERE rk <= 40
""",
        "domain_rollup_urls": """
WITH u AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'example.com'
              WHEN doc_id % 3 = 1 THEN 'example.co.uk'
              ELSE 'example.org' END AS domain,
         (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END)
           || '://x/' || (doc_id % 7) || '?' || (doc_id % 5) AS page_key
  FROM documents)
SELECT domain,
       count(*)::BIGINT AS n_urls,
       count(DISTINCT page_key)::BIGINT AS n_pages
FROM u
GROUP BY domain
""",
        # wav_g711_features (r12): codewords b_i = (key*31+i*17)%256,
        # µ-law on even keys (complement, segment e=(c>>4)&7, mantissa
        # m=c&15, linear = ±(((m<<3)+0x84)<<e − 0x84)), A-law on odd
        # (xor 0x55; seg 0: (m<<4)+8, seg>=1: ((m<<4)+0x108)<<(seg−1);
        # sign bit SET is positive) — ITU-T G.711 decode in SQL
        "wav_g711_features": """
WITH s AS (
  SELECT doc_id,
         unnest(range(0, (64 + doc_id % 64)::INT)) AS i
  FROM documents),
d AS (
  SELECT doc_id,
         ((doc_id * 31 + i * 17) % 256)::BIGINT AS b
  FROM s),
c AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 255 - b ELSE xor(b, 85) END AS c
  FROM d),
m AS (
  SELECT doc_id, c,
         CASE WHEN doc_id % 2 = 0
              THEN (((c & 15) * 8 + 132)
                    * (1::BIGINT << ((c >> 4) & 7))) - 132
              ELSE CASE WHEN ((c >> 4) & 7) = 0
                        THEN (c & 15) * 16 + 8
                        ELSE ((c & 15) * 16 + 264)
                             * (1::BIGINT << (((c >> 4) & 7) - 1)) END
         END AS mag
  FROM c),
v AS (
  SELECT doc_id,
         -- µ-law: sign bit set = negative; A-law: sign bit set = POSITIVE
         CASE WHEN (doc_id % 2 = 0) = ((c & 128) != 0)
              THEN -mag ELSE mag END AS lin
  FROM m)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'ulaw' ELSE 'alaw' END AS fmt,
       8000::INT AS sample_rate,
       (64 + doc_id % 64)::INT AS n_samples,
       round(sqrt(sum(lin::DOUBLE * lin) / (64 + doc_id % 64)), 6) AS rms
FROM v
GROUP BY doc_id
""",
        # html_extract (r12): the synth page round-trips the raw text
        # through entity escape → parse → decode, so the expected
        # extraction is closed-form: title 'T', the h1 line, the
        # ws-collapsed text (empty text drops its block per the
        # empty-block rule), the nav line. link_chars is the collapsed
        # concatenation of the two anchor texts ('HomeNext >' = 10).
        "html_extract": """
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')) AS nt
  FROM documents)
SELECT doc_id,
       CASE WHEN nt = ''
            THEN 'T' || chr(10) || 'Doc & ' || doc_id || chr(10) || 'Home Next >'
            ELSE 'T' || chr(10) || 'Doc & ' || doc_id || chr(10) || nt
                 || chr(10) || 'Home Next >' END AS extracted,
       (CASE WHEN nt = '' THEN 3 ELSE 4 END)::INT AS n_blocks,
       (length(nt) + 18 + length(doc_id::VARCHAR))::BIGINT AS text_chars,
       10::BIGINT AS link_chars,
       round(10.0 / (length(nt) + 18 + length(doc_id::VARCHAR)), 6)
         AS link_density
FROM n
""",
        # html_main_text (r12): same page; nav (link density 10/11)
        # and the 1-char title fail the keep rule, h1 always passes,
        # the text block passes iff its collapsed length >= 2
        "html_main_text": """
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')) AS nt
  FROM documents)
SELECT doc_id,
       CASE WHEN length(nt) >= 2
            THEN 'Doc & ' || doc_id || chr(10) || nt
            ELSE 'Doc & ' || doc_id END AS main_text,
       (CASE WHEN length(nt) >= 2 THEN 2 ELSE 1 END)::INT AS n_kept,
       (CASE WHEN nt = '' THEN 2
             WHEN length(nt) < 2 THEN 3
             ELSE 2 END)::INT AS n_dropped
FROM n
""",
    }

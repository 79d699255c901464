"""Driver contract for the spark-graft builder (PySpark target).

queries() exercises the engine's operator inventory (SURVEY.md §2):
relational SQL (the Sql transform's superset), the 17 reference
transforms, and the training-data pipeline operators (dedup,
similarity, text analysis). oracle_sql() gives the DuckDB-equivalent
for each; column names and types are aligned on both sides, floats are
rounded identically before any rank/filter that could flip on
last-bit arithmetic differences.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F, Window

SF_DEFAULT = "/root/testdata/sf0.001"

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    # read_files reuses the schema of an unchanged input instead of
    # running a schema-inference job per read; a seatunnel_spark that
    # predates it reads the plain way.
    try:
        from seatunnel_spark.sources.file import read_files
    except ImportError:
        return spark.read.parquet(path)
    return read_files(spark, "parquet", path)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS); Spark 4 rejects it unless
        # read as long (legacy conf), then converted back to timestamp.
        # Set once — conf.set invalidates cached plans, so a per-call set
        # would churn the session state on every query build.
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong",
                          "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000").cast("long"))
            )
        return df
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


def _register(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        _t(spark, sf_dir, n).createOrReplaceTempView(n)


# ===========================================================================
# Relational suite (the Sql-transform superset; reference rejects ALL of
# these — ZetaSQLEngine.java:144-157 — Spark SQL gives them natively)
# ===========================================================================

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date") < F.lit("1996-03-15").cast("date")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date") > F.lit("1996-03-15").cast("date")
    )
    # customer grows with SF — no forced broadcast hint (a hint bypasses
    # AQE's size check and would OOM at sf10+); AQE still picks broadcast
    # at small SF where the filtered segment fits under the threshold.
    grouped = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue")
        )
    )
    # Distributed top-k: sort+limit compiles to TakeOrderedAndProject
    # (per-partition heaps + k-merge) — a global row_number() window
    # would single-partition the whole grouped set instead.
    top = grouped.orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc()).limit(10)
    w = Window.orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("int"))
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
            "rnk",
        )
    )


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        # supplier grows with SF — rely on AQE rather than a forced hint;
        # nation/region stay hinted (fixed-size 25/5-row dims).
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue")
        )
    )


def q_window_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
        )
    )


def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops + distinct + conditional agg in one (all absent from the
    reference)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").alias("n_cust"),
        F.round(F.sum(F.when(F.col("o_orderpriority") == "1-URGENT",
                             F.col("o_totalprice")).otherwise(0.0)), 2).alias("urgent_total"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("o_totalprice"), 2).alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("prio"),
            "n", "total",
        )
    )


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    with_orders = o.select(F.col("o_custkey").alias("k")).distinct()
    high_bal = c.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("k")
    )
    both = with_orders.intersect(high_bal).withColumn("tag", F.lit("both"))
    only_bal = high_bal.exceptAll(with_orders).withColumn("tag", F.lit("only_bal"))
    return both.unionByName(only_bal).select("tag", "k")


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (absent from both the reference and Spark SQL): each
    purchase matched to the user's latest click at-or-before it."""
    from seatunnel_spark.dataops.timeseries import asof_join

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_event_id"),
             F.max("value").alias("click_value"))
    )
    out = asof_join(purchases, clicks, "ts", ["user_id"])
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.round("value", 2).alias("value"),
        "click_event_id",
        F.round("click_value", 2).alias("click_value"),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (streaming session-window analog in batch)."""
    from seatunnel_spark.dataops.timeseries import session_stats

    e = _t(spark, sf_dir, "events")
    s = session_stats(e, "ts", ["user_id"], gap="30 minutes")
    return s.select(
        "user_id", "session_id", "n_events",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("start_s"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("end_s"),
        "duration_sec",
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase: conditional
    min-ts per user (one map-side-combined shuffle of |users| rows,
    never the event log), strict-order completion flags."""
    from seatunnel_spark.dataops.analytics import funnel

    e = _t(spark, sf_dir, "events")
    return funnel(e, "user_id", "ts", "event_type",
                  ["view", "click", "purchase"])


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: first-activity cohort x offset
    distinct-user counts (two shuffles, no per-event self-join)."""
    from seatunnel_spark.dataops.analytics import cohort_retention

    e = _t(spark, sf_dir, "events")
    return cohort_retention(e, "user_id", "ts", unit_days=7)


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day x event-type wide pivot by declared values — one
    conditional-aggregation shuffle, no distinct-values pre-job."""
    from seatunnel_spark.dataops.analytics import pivot_counts

    e = _t(spark, sf_dir, "events")
    return pivot_counts(e, F.col("ts").cast("date"), "event_type",
                        ["view", "click", "purchase", "signup", "error"],
                        "day")


def text_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 bigrams: split once, shifted-slice zip (no UDF),
    map-side-combined counts — only (ngram, partial count) shuffles."""
    from seatunnel_spark.dataops.analytics import ngram_stats

    d = _t(spark, sf_dir, "documents")
    return ngram_stats(d, "text", n=2, top=20)


def _synth_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WAV/MP4 bytes per doc_id (executor-side
    mapInPandas) — the REAL stdlib RIFF and ISO-BMFF parsers then
    decode them, and the SQL oracle replays the generation formula
    (dataops/multimodal.py: synthesize_wav/synthesize_mp4)."""
    import pyspark.sql.types as T

    from seatunnel_spark._pyworker import map_in_pandas
    from seatunnel_spark.dataops.multimodal import (synthesize_mp4,
                                                    synthesize_wav)

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 100).select("doc_id")

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("audio", T.BinaryType()),
        T.StructField("video", T.BinaryType()),
    ])

    def gen(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            pdf["audio"] = [synthesize_wav(8000 * (1 + i % 3),
                                           800 + (i % 7) * 160)
                            for i in ids]
            pdf["video"] = [synthesize_mp4(500 + (i % 10) * 250,
                                           320 + (i % 4) * 16,
                                           240 + (i % 4) * 16)
                            for i in ids]
            yield pdf

    return map_in_pandas(docs, gen, schema=schema)


def mm_av_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio+video metadata extraction over binary columns: the real
    RIFF/WAVE fmt+data parse and the real ISO 14496-12 box walk
    (mvhd/tkhd), Arrow-batched — no fake decode on this path."""
    from seatunnel_spark.dataops.multimodal import (audio_metadata,
                                                    video_metadata)

    out = video_metadata(audio_metadata(_synth_media(spark, sf_dir),
                                        "audio"), "video")
    return out.select(
        "doc_id",
        F.col("audio_meta.sample_rate").alias("sample_rate"),
        F.col("audio_meta.n_samples").alias("n_samples"),
        F.col("audio_meta.codec").alias("codec"),
        F.col("video_meta.duration_ms").alias("duration_ms"),
        F.col("video_meta.width").alias("vw"),
        F.col("video_meta.height").alias("vh"),
        F.col("video_meta.container").alias("container"),
    )


def mm_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG round trip: executors encode solid-gray PNGs with the
    stdlib codec (dataops/png_codec.py), image_features decodes them
    back through the genuine chunk/inflate/unfilter path and extracts
    the 8-bin histogram — a solid level-g image is one-hot at bin
    g//32, so the oracle replays the formula without any decoder."""
    import pyspark.sql.types as T

    from seatunnel_spark._pyworker import map_in_pandas
    from seatunnel_spark.dataops.png_codec import encode_png

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 100).select("doc_id")

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ])

    def gen(batches):
        import numpy as np

        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            pdf["content"] = [
                encode_png(np.full((6 + (i % 3) * 4, 8 + (i % 5) * 4),
                                   i % 256, dtype=np.uint8))
                for i in ids]
            yield pdf

    from seatunnel_spark.dataops.multimodal import image_features

    out = image_features(map_in_pandas(docs, gen, schema=schema),
                         "content", codec="png")
    return out.select(
        "doc_id",
        F.col("image_meta.width").alias("width"),
        F.col("image_meta.height").alias("height"),
        F.col("image_meta.format").alias("fmt"),
        F.expr("array_position(image_feat, array_max(image_feat))")
        .cast("int").alias("top_bin"),
        F.round(F.array_max("image_feat").cast("double"), 4)
        .alias("top_frac"),
    )


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame/chunk sampling WITHOUT decoding: Catalyst
    sequence+explode over the decoded n_samples — planning the
    sample offsets for 10^9 media rows is a metadata-only stage
    (dataops/multimodal.py: frame_sample_plan)."""
    from seatunnel_spark.dataops.multimodal import (audio_metadata,
                                                    frame_sample_plan)

    a = audio_metadata(_synth_media(spark, sf_dir), "audio")
    return frame_sample_plan(a, "audio_meta", every_n=320).select(
        "doc_id", "frame_offset")


def dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup REMOVAL: jaccard pairs -> connected
    components -> drop every cluster member except the min-id canon ->
    per-source survivor stats. The anti-join ships only loser doc_ids
    (a tiny broadcast), never document text."""
    from seatunnel_spark.dataops import (duplicate_clusters,
                                         ngram_jaccard_pairs)

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.2,
                                block_cols=["lang"])
    losers = duplicate_clusters(pairs).filter(
        F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("doc_id"))
    kept = d.join(losers, "doc_id", "left_anti")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("kept_docs"),
        F.sum("n_chars").alias("kept_chars"))


def q_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair contamination surface: distinct 3-gram shingles
    shared between every pair of corpus subsets. Shuffle = distinct
    (shingle, source) pairs; per-shingle pair expansion bounded by
    |sources|², never corpus size (dataops/analytics.py:
    corpus_overlap)."""
    from seatunnel_spark.dataops.analytics import corpus_overlap

    d = _t(spark, sf_dir, "documents")
    return corpus_overlap(d, "source", "text", k=3)


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured profiling: JVM-side get_json_object over the
    events props JSON column, bucketed stats — no Python UDF in the
    plan (dataops/analytics.py: json_bucket_stats)."""
    from seatunnel_spark.dataops.analytics import json_bucket_stats

    e = _t(spark, sf_dir, "events")
    return json_bucket_stats(e, "props", "k", "value", bucket=10)


def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type daily volumes with a 7-day trailing moving
    average — the window runs over the AGGREGATED daily series, not
    the event log (dataops/analytics.py: moving_average)."""
    from seatunnel_spark.dataops.analytics import moving_average

    e = _t(spark, sf_dir, "events")
    return moving_average(e, "ts", "event_type", window_rows=7)


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (absent from the
    reference; sort-based agg in Spark)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 2).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 2).alias("p95"),
        F.count(F.lit(1)).alias("n"),
    )


def q4_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS-semi-join orders→lineitem + aggregate
    (left-semi keeps one shuffle; lineitem side pre-filtered)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1996-04-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "leftsemi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def t_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata transform: surface Database/Table/RowKind from the
    multi-table routing columns (MetadataTransform.java:42)."""
    from seatunnel_spark.transforms import get_transform
    from seatunnel_spark.types import TABLE_ID_COL

    n = _t(spark, sf_dir, "nation").withColumn(TABLE_ID_COL, F.lit("tpch.nation"))
    out = get_transform(
        "Metadata",
        {"metadata_fields": {"Database": "db", "Table": "tbl", "RowKind": "kind"}},
    ).apply(n)
    return out.select("n_nationkey", "n_name", "db", "tbl", "kind")


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join without a cross product: bucketed equi-join +
    residual between-filter (dataops.timeseries.range_join_bucketed).
    Customers matched to suppliers within ±100 account balance."""
    from seatunnel_spark.dataops.timeseries import range_join_bucketed

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal").cast("double").alias("bal")
    )
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (F.col("s_acctbal").cast("double") - 100).alias("lo"),
        (F.col("s_acctbal").cast("double") + 100).alias("hi"),
    )
    out = range_join_bucketed(cust, supp, "bal", "lo", "hi", bucket_width=200.0)
    return out.select("c_custkey", "s_suppkey")


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join (dataops.skew.salted_join): lineitem salted
    over 8 buckets, orders replicated — result identical to the plain
    join, hot orderkeys spread across reducers."""
    from seatunnel_spark.dataops import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    out = salted_join(li, orders, "l_orderkey", salt=8)
    return out.groupBy("o_orderpriority").agg(
        F.round(F.sum("rev"), 2).alias("revenue"),
        F.count("*").alias("n"),
    )


# ===========================================================================
# Transform parity suite (SURVEY.md §2.2 — one query per transform class)
# ===========================================================================

def t_copy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seatunnel_spark.transforms import get_transform

    df = _t(spark, sf_dir, "customer")
    return get_transform(
        "Copy", {"fields": {"c_name_copy": "c_name", "bal2": "c_acctbal"}}
    ).apply(df)


def t_field_mapper(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seatunnel_spark.transforms import get_transform

    df = _t(spark, sf_dir, "part")
    return get_transform(
        "FieldMapper",
        {"field_mapper": {"p_partkey": "p_partkey", "p_name": "part_name",
                          "p_retailprice": "price"}},
    ).apply(df)


def t_filter_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seatunnel_spark.transforms import get_transform

    df = _t(spark, sf_dir, "supplier")
    return get_transform("Filter", {"include_fields": ["s_suppkey", "s_name"]}).apply(df)


def t_field_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seatunnel_spark.transforms import get_transform

    df = _t(spark, sf_dir, "region")
    return get_transform("FieldRename", {"convert_case": "UPPER"}).apply(df)


def t_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seatunnel_spark.transforms import get_transform

    df = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    return get_transform(
        "Replace",
        {"replace_field": "p_name", "pattern": " ", "replacement": "_"},
    ).apply(df)


def t_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seatunnel_spark.transforms import get_transform

    df = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return get_transform(
        "Split",
        {"separator": "#", "split_field": "c_name",
         "output_fields": ["name_prefix", "name_num"]},
    ).apply(df)


def t_jsonpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seatunnel_spark.transforms import get_transform

    df = _t(spark, sf_dir, "events").select("event_id", "props")
    out = get_transform(
        "JsonPath",
        {"columns": [{"src_field": "props", "path": "$.k",
                      "dest_field": "k_val", "dest_type": "int"}]},
    ).apply(df)
    return out.select("event_id", "k_val")


_KIND_BY_EVENT = {"click": "+I", "view": "+I", "signup": "+U",
                  "purchase": "-U", "error": "-D"}


def _events_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a deterministic changelog from the events table."""
    e = _t(spark, sf_dir, "events")
    mapping = F.create_map(*[F.lit(x) for kv in _KIND_BY_EVENT.items() for x in kv])
    return e.withColumn("__row_kind", mapping[F.col("event_type")])


def t_rowkind(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seatunnel_spark.transforms import get_transform

    df = _events_changelog(spark, sf_dir)
    df = get_transform("FilterRowKind", {"exclude_kinds": ["-D"]}).apply(df)
    df = get_transform(
        "RowKindExtractor", {"custom_field_name": "rk", "transform_type": "FULL"}
    ).apply(df)
    return df.select("event_id", "rk")


def t_table_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seatunnel_spark.job.engine import merge_multi_table
    from seatunnel_spark.transforms import get_transform

    n = _t(spark, sf_dir, "nation")
    merged = merge_multi_table(
        {
            "db.nation_a": n.filter(F.col("n_regionkey") < 2),
            "db.nation_b": n.filter(F.col("n_regionkey") >= 2),
        }
    )
    return get_transform(
        "TableMerge",
        {"table_match_regex": r"db\.nation_.*", "database": "db", "table": "nation_all"},
    ).apply(merged)


def t_sql_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zeta-dialect scalar functions through the Sql transform
    (UCASE/LCASE spellings are rewritten, the rest are Spark natives)."""
    from seatunnel_spark.transforms import get_transform

    df = _t(spark, sf_dir, "part")
    return get_transform(
        "Sql",
        {
            "plugin_input": "part_in",
            "query": """
              SELECT p_partkey,
                     UCASE(p_name)                        AS up_name,
                     LCASE(p_brand)                       AS low_brand,
                     SUBSTRING(p_type, 1, 5)              AS type5,
                     CONCAT_WS('-', p_brand, p_type)      AS brand_type,
                     LENGTH(p_name)                       AS name_len,
                     LPAD(p_brand, 12, '*')               AS brand_pad,
                     REPLACE(p_type, ' ', '_')            AS type_u,
                     ABS(0 - p_size)                      AS abs_size,
                     MOD(p_size, 5)                       AS size_mod,
                     CAST(CEIL(p_retailprice) AS BIGINT)  AS price_ceil,
                     CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor,
                     COALESCE(NULL, p_brand)              AS co_brand,
                     CASE WHEN p_size > 25 THEN 'big' ELSE 'small' END AS size_class
              FROM part_in
            """,
        },
    ).apply(df)


def t_zeta_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seatunnel_spark.transforms import get_transform

    df = _t(spark, sf_dir, "orders")
    return get_transform(
        "Sql",
        {
            "plugin_input": "orders_in",
            "query": """
              SELECT o_orderkey,
                     CAST(YEAR(o_orderdate) AS INT)         AS y,
                     CAST(QUARTER(o_orderdate) AS INT)      AS q,
                     CAST(MONTH(o_orderdate) AS INT)        AS m,
                     CAST(DAY_OF_MONTH(o_orderdate) AS INT) AS dom,
                     CAST(DAY_OF_YEAR(o_orderdate) AS INT)  AS doy,
                     FORMATDATETIME(o_orderdate, 'yyyy-MM-dd') AS ds,
                     CAST(EXTRACT(HOUR FROM o_orderdate) AS INT) AS hr
              FROM orders_in
            """,
        },
    ).apply(df)


# ===========================================================================
# Training-data pipeline suite (dedup / text / similarity)
# ===========================================================================

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seatunnel_spark.dataops import exact_dup_groups

    return exact_dup_groups(_t(spark, sf_dir, "documents"), "text", "doc_id")


def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the normalized-content fingerprint. The exchange
    key is the RAW 16-byte digest (unhex before the shuffle, hex back
    after the agg) — half the width of the 32-char hex string, so the
    one shuffle this query has carries half the bytes. sf1 profile:
    the regex normalization projection is ~85% of runtime (scan-speed
    CPU, linear in corpus bytes); the shuffle is the remaining ~15%."""
    from seatunnel_spark.dataops.text import fingerprint

    fp = fingerprint(_t(spark, sf_dir, "documents"))
    return (fp.withColumn("__fpb", F.unhex("fingerprint"))
            .groupBy("__fpb")
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count(F.lit(1)).alias("dup_count"))
            .select(F.lower(F.hex("__fpb")).alias("fingerprint"),
                    "keep_id", "dup_count"))


def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seatunnel_spark.dataops import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", num_hashes=8, bands=4
    )


def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seatunnel_spark.dataops import ngram_jaccard_pairs

    out = ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        k=3, threshold=0.2, block_cols=["lang"],
    )
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def dedup_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase dedup, the scale architecture (dataops/dedup.py:
    minhash_lsh_pairs -> verify_pairs): banded LSH proposes candidate
    pairs, one array_intersect per candidate scores them exactly
    (jaccard AND containment). Cost O(|candidates|·set) — on
    all-pairs-overlap corpora the exact-pairs operators must pay for
    the quadratic overlap this prunes before materializing (the
    BENCH_SF10_r08b dedup_containment exclusion, closed as an
    operator). The oracle replays the banding AND the exact scores."""
    from seatunnel_spark.dataops.dedup import (minhash_lsh_pairs,
                                               verify_pairs)

    d = _t(spark, sf_dir, "documents")
    cands = minhash_lsh_pairs(d, "doc_id", "text", num_hashes=8,
                              bands=4)
    return verify_pairs(cands, d, "doc_id", "text", k=3)


def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact Jaccard (dataops/dedup.py:
    jaccard_prefix_pairs — Chaudhuri et al. 2006 / PPJoin): same
    output as the plain inverted-index join at the same threshold
    (equivalence tested at two thresholds), but candidates come only
    from each doc's RAREST |A|−⌈t|A|⌉+1 shingles — the common
    boilerplate shingles sort last and fall outside every prefix, so
    the tokens that blow up Σdf² are pruned WITHOUT the max_df cap's
    underestimate. The oracle replays the full-pair ground truth
    (candidates are an implementation detail; output is what's
    checked)."""
    from seatunnel_spark.dataops.dedup import jaccard_prefix_pairs

    out = jaccard_prefix_pairs(_t(spark, sf_dir, "documents"),
                               "doc_id", "text", k=3, threshold=0.8)
    return out.select("id_a", "id_b",
                      F.round("jaccard", 4).alias("jaccard"))


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs (dataops/dedup.py:
    ngram_containment_pairs): |A∩B| / min(|A|,|B|) — catches the
    short-doc-quoted-inside-long-doc duplication a Jaccard threshold
    can never see (Jaccard ≈ |A|/|B| for subsets). Same inverted-index
    candidate core and hot-shingle cap as dedup_jaccard_pairs."""
    from seatunnel_spark.dataops.dedup import ngram_containment_pairs

    out = ngram_containment_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        k=3, threshold=0.25, block_cols=["lang"])
    return out.select("id_a", "id_b",
                      F.round("containment", 4).alias("containment"))


def sim_pq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-PQ-index round trip (dataops/similarity.py:
    write_pq_index + search_pq_index): codes + codebooks written once,
    search reads ONLY the m-int codes column (ReadSchema-tested) —
    results identical to the in-memory sim_pq_topk, which is exactly
    what the shared oracle checks. The write-once/probe-many artifact
    form of PQ (the IVF analog is write_ivf_index)."""
    from seatunnel_spark.dataops.similarity import (search_pq_index,
                                                    write_pq_index)

    e = _emb_double(spark, sf_dir)
    path = "/tmp/st_pq_index"
    write_pq_index(e, path, _pq_codebooks())
    q = e.filter(F.col("vec_id") < 5)
    return search_pq_index(spark, path, q, "vec_id", "embedding",
                           k=10, round_to=4)


def dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged dedup funnel -> (stage, n_docs): raw corpus -> canonical-
    URL dedup -> exact-text dedup -> fingerprint near-dup, each stage
    keeping its min-id survivor — the composition a real crawl
    pipeline runs (cheap cascades first so the expensive stage sees
    the smallest corpus). URLs derive deterministically from doc_id
    (the web_url_dedup construction); the oracle replays every stage's
    survivor set. Each stage frame is scoped_persist-ed: the four
    stage counts all consume the funnel, so without the persists the
    raw scan would run 4x, URL canonicalization 3x and exact dedup 2x
    (the cache_scope in bench/driver runs releases them)."""
    from seatunnel_spark.dataops._cache import scoped_persist
    from seatunnel_spark.dataops.dedup import exact_dedup
    from seatunnel_spark.dataops.text import fingerprint
    from seatunnel_spark.dataops.web import canonicalize_urls

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    url = F.concat(F.lit("https://"), F.col("source"),
                   F.lit(".example.com/p/"), (i % 60).cast("string"),
                   F.when(i % 2 == 0, F.lit("/?utm_source=x"))
                   .otherwise(F.lit("")))
    with_url = canonicalize_urls(
        d.withColumn("url", url), "url")
    s1 = (with_url.groupBy("canon_url")
          .agg(F.min("doc_id").alias("doc_id")))
    after_url = scoped_persist(
        with_url.join(s1, ["canon_url", "doc_id"], "semi"))
    after_exact = scoped_persist(
        exact_dedup(after_url, ["text"], order_col="doc_id"))
    fp = fingerprint(after_exact, "text")
    s3 = (fp.groupBy("fingerprint")
          .agg(F.min("doc_id").alias("doc_id")))
    after_fp = fp.join(s3, ["fingerprint", "doc_id"], "semi")
    counts = [
        d.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit("0_raw").alias("stage"), F.col("n").alias("n_docs")),
        after_url.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit("1_url").alias("stage"), F.col("n").alias("n_docs")),
        after_exact.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit("2_exact").alias("stage"),
            F.col("n").alias("n_docs")),
        after_fp.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit("3_fingerprint").alias("stage"),
            F.col("n").alias("n_docs")),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup at arbitrary alignment (dataops/dedup.py:
    substring_dup_spans — Lee et al. 2022 ExactSubstr): every token
    span of >= 8 tokens duplicated anywhere in the corpus, at ANY
    offset, as maximal (doc_id, start_tok, end_tok) spans with
    keep-first semantics (the corpus-wide earliest copy survives
    unmarked). Shingles shuffle as md5 digests + packed ordinals —
    the n-token text never rides an exchange; the oracle replays the
    shingle statistics, keep-first marking, and island merge."""
    from seatunnel_spark.dataops.dedup import substring_dup_spans

    d = _t(spark, sf_dir, "documents")
    return substring_dup_spans(d, n=8)


def dedup_substring_clean(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """APPLY step of exact-substring dedup (dataops/dedup.py:
    substring_dedup_apply): duplicated >=8-token spans excised from
    every non-first copy, text rebuilt in the discovery's own
    canonical tokenization -> (doc_id, clean_text, n_tokens,
    n_kept). The oracle rebuilds the same kept-token join."""
    from seatunnel_spark.dataops.dedup import substring_dedup_apply

    d = _t(spark, sf_dir, "documents")
    return substring_dedup_apply(d, n=8)


def decontam_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level benchmark decontamination (dataops/decontam.py:
    contaminated_spans): treating every doc_id % 10 == 0 document as
    the benchmark set, every maximal >=8-token span in the REST of
    the corpus that overlaps a benchmark doc at any alignment ->
    (doc_id, start_tok, end_tok) — the excisable form of the n-gram
    collision rule: cut the quoted passage, keep the document. The
    benchmark digest set broadcasts (benchmarks are MBs); the corpus
    never shuffles for the membership test. The oracle replays
    shingles, the semi-join, and the island merge."""
    from seatunnel_spark.dataops.decontam import contaminated_spans

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 10 == 0)
    train = d.filter(F.col("doc_id") % 10 != 0)
    return contaminated_spans(train, bench, n=8)


def decontam_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY step of span-level decontamination (dataops/decontam.py:
    decontam_apply): benchmark-overlap spans excised from every
    training document, text rebuilt in the canonical tokenization ->
    (doc_id, clean_text, n_tokens, n_kept); fully-contaminated docs
    come back empty so the caller owns the drop threshold."""
    from seatunnel_spark.dataops.decontam import decontam_apply

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 10 == 0)
    train = d.filter(F.col("doc_id") % 10 != 0)
    return decontam_apply(train, bench, n=8)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters = connected components over the n-gram
    Jaccard near-dup graph (seatunnel_spark/dataops/dedup.py:
    duplicate_clusters, which runs graph.connected_components —
    min-label propagation until no label changes; each round is one
    neighbor-min join plus one checkpoint job that counts the changed
    labels). cluster_id = min doc_id of the component."""
    from seatunnel_spark.dataops import duplicate_clusters, ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        k=3, threshold=0.2, block_cols=["lang"],
    )
    return duplicate_clusters(pairs)


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seatunnel_spark.dataops.text import quality_signals

    q = quality_signals(_t(spark, sf_dir, "documents"))
    return q.select(
        "doc_id",
        F.col("q_n_words").alias("n_words"),
        F.col("q_n_chars").alias("n_chars_calc"),
        F.round("q_mean_word_len", 4).alias("mean_word_len"),
        F.round("q_punct_ratio", 4).alias("punct_ratio"),
        F.round("q_digit_ratio", 4).alias("digit_ratio"),
        F.col("q_stopword_hits").alias("stop_hits"),
    )


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite [0,1] quality score (dataops/text.py:quality_score —
    the heuristic-weight combination over the Gopher/C4 signals:
    0.35·min(words/50,1) + 0.25·[3 ≤ mean_word_len ≤ 10] +
    0.2·[punct ≤ 0.2] + 0.2·min(stop_hits/5,1)). Pure codegen over
    the same one-scan signals text_quality verifies; the oracle
    replays the signal arithmetic AND the weight formula."""
    from seatunnel_spark.dataops.text import quality_score

    return (quality_score(_t(spark, sf_dir, "documents"))
            .select("doc_id", "quality_score"))


def _classifier_features(spark: SparkSession, sf_dir: str,
                         raw: bool = False) -> DataFrame:
    """Shared feature frame for the trainable quality classifier:
    O(1)-scaled, SQL-replayable text statistics over the canonical
    tokenization (lowered, trimmed, \\s+-split), with SEED LABELS
    from the heuristic labeler — y = [quality_score >= 0.85] (the
    standard bootstrap: a curated/heuristic labeler marks seed docs,
    the classifier learns a smooth scorer from cheap features; 3 GD
    iterations reach ~89% agreement with a 4-cell confusion matrix).
    Columns (y, x1..x4): token count /100, mean token length /10,
    distinct-token ratio, stopword fraction. `raw=True` skips the
    /100 and /10 scalings (token count and mean token length at
    their natural magnitudes) — the input shape the standardize=True
    fit is built for."""
    from seatunnel_spark.dataops._cache import ensure_parallelism
    from seatunnel_spark.dataops.text import quality_score

    # spread the single-split local scan before the per-row text
    # statistics (identical results; no-op on a many-split corpus)
    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    q = quality_score(d).select(
        "doc_id",
        F.when(F.col("quality_score") >= 0.85, 1.0)
        .otherwise(0.0).alias("y"))
    txt = F.lower(F.trim(F.col("text")))
    toks = F.split(txt, r"\s+")
    b = (d.select("doc_id", txt.alias("__txt"), toks.alias("__toks"))
         .join(q, "doc_id"))
    nt = F.greatest(F.size("__toks"), F.lit(1)).cast("double")
    stops = ("the", "a", "of", "and", "to", "in", "is")
    s1 = F.lit(1.0) if raw else F.lit(100.0)
    s2 = F.lit(1.0) if raw else F.lit(10.0)
    return b.select(
        "y",
        (F.size("__toks") * F.lit(1.0) / s1).alias("x1"),
        ((F.length("__txt") / nt) / s2).alias("x2"),
        (F.size(F.array_distinct("__toks")) / nt).alias("x3"),
        (F.size(F.filter("__toks",
                         lambda t: t.isin(*stops))) / nt).alias("x4"))


def q_quality_classifier(spark: SparkSession, sf_dir: str
                         ) -> DataFrame:
    """Trainable quality classifier (dataops/analytics.py:
    logreg_fit): full-batch logistic regression, 3 fixed iterations,
    per-iteration rounded updates — one map-side-combined gradient
    aggregation per pass, only the 5-double model on the driver.
    Learns the heuristic labeler's seed labels (quality_score >=
    0.85) from cheap replayable text statistics — the standard
    classifier-bootstraps-from-labeler pipeline; returns the learned
    (feature, weight) rows. The oracle unrolls the identical 3
    gradient/update steps as CTEs."""
    from seatunnel_spark.dataops.analytics import logreg_fit

    f = _classifier_features(spark, sf_dir)
    return logreg_fit(f, ["x1", "x2", "x3", "x4"], "y",
                      iters=3, lr=1.0)


def q_quality_classifier_cm(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Confusion matrix of the trained quality classifier
    (logreg_fit + logreg_score): the end-to-end readout (label,
    pred, n) at the 0.5 threshold — scoring is pure codegen with the
    model as literals. The oracle replays training AND scoring."""
    from seatunnel_spark.dataops.analytics import (logreg_fit,
                                                   logreg_score)

    f = _classifier_features(spark, sf_dir)
    model = logreg_fit(f, ["x1", "x2", "x3", "x4"], "y",
                       iters=3, lr=1.0)
    scored = logreg_score(f, model, ["x1", "x2", "x3", "x4"])
    return (scored.groupBy(
        F.col("y").cast("long").alias("label"),
        F.when(F.col("score") >= 0.5, 1).otherwise(0).alias("pred"))
        .agg(F.count(F.lit(1)).alias("n")))


def q_quality_classifier_std(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Standardized trainable classifier (analytics.py:logreg_fit
    standardize=True): the SAME fit on RAW-magnitude signals (token
    count ~200, mean word length ~5 — no hand /100, /10 scaling):
    one extra aggregation computes per-feature μ/σ as rounded
    literals (population form, explicit Σ/Σ² arithmetic, σ=0→1),
    GD runs on (x−μ)/σ, and the model rows carry (feature, weight,
    mu, sigma) so logreg_score replays the transform on raw
    features. The oracle unrolls the standardize pass AND the 3
    gradient steps as CTEs — every update is literal arithmetic."""
    from seatunnel_spark.dataops.analytics import logreg_fit

    f = _classifier_features(spark, sf_dir, raw=True)
    return logreg_fit(f, ["x1", "x2", "x3", "x4"], "y",
                      iters=3, lr=1.0, standardize=True)


def text_mg_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity-bounded Misra-Gries token summary (dataops/text.py:
    mg_summary, capacity=64): exact counts compressed by ONE value
    decrement — subtract the 65th-largest count from every counter,
    keep positives — so at most 64 counters survive and each stored
    cnt lower-bounds the true frequency by <= N/65 (the mergeable-
    summaries compress the mg_register_sink applies per micro-batch).
    The threshold is an order statistic of the count multiset, so the
    oracle replays it exactly (ties at the cut are value-determined,
    not row-determined)."""
    from seatunnel_spark.dataops.text import mg_summary

    d = _t(spark, sf_dir, "documents")
    return mg_summary(d, capacity=64)


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (dataops/text.py:normalize_text):
    the pre-dedup cleanup — composed/decomposed accent spellings and
    (under NFKC) compatibility forms otherwise defeat every
    digest-based dedup operator. One Arrow-vectorized pandas_udf
    batch pass (Catalyst has no normalizer expression — the
    documented slow-path done right, never per-row py4j). Oracle:
    DuckDB's nfc_normalize, the one form both engines implement."""
    from seatunnel_spark.dataops.text import normalize_text

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return normalize_text(d, form="NFC")


def q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (dataops/text.py:ppl_buckets
    — Wenzek et al. 2020): every document scored by its mean unigram
    log-prob under the corpus's own LM, bucketed head/middle/tail by
    the corpus terciles — thresholds from a DDSketch over the score
    table (bounded additive aggregate; never an exact percentile or
    a single-partition ntile), assignment one conditional count per
    doc against the 2-row broadcast threshold set. The oracle
    replays the LM, the sketch build, the rank walk, and the bucket
    arithmetic."""
    from seatunnel_spark.dataops.text import ppl_buckets

    return ppl_buckets(_t(spark, sf_dir, "documents"), k=3)


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (dataops/sampling.py:dsir_logweights —
    Xie et al. 2023): per raw document, log p_target/p_raw under
    hashed unigram+bigram bag models, target = the heuristic
    labeler's quality docs (quality_score >= 0.85) — the
    data-selection signal that upweights documents resembling the
    curated slice, with no trained classifier. One scan per corpus;
    profiles are 4096-bucket broadcast joins; totals ride 1-row
    spines. The oracle replays tokenization, md5-prefix bucketing,
    add-alpha ln arithmetic, and the per-doc fold."""
    from seatunnel_spark.dataops.sampling import dsir_logweights
    from seatunnel_spark.dataops.text import quality_score

    d = _t(spark, sf_dir, "documents")
    target = (quality_score(d)
              .filter(F.col("quality_score") >= 0.85)
              .select("doc_id", "text"))
    return dsir_logweights(d, target)


def emb_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection of the embedding table to 2 components
    (dataops/embeddings.py:pca_fit/pca_project — covariance partials
    Arrow-batched per partition, d×d eigh on the driver only).
    Rows-only by nature: eigenvectors come from LAPACK on the driver
    (sign/ordering conventions are library-specific), so no SQL
    engine can replay them — the numeric contract is pinned instead
    by tests/test_dataops.py::test_pca_fit_project_matches_numpy.
    Returns (vec_id, pc1, pc2)."""
    from seatunnel_spark.dataops.embeddings import pca_fit, pca_project

    e = _emb_double(spark, sf_dir)
    model = pca_fit(e, n_components=2)
    out = pca_project(e, model)
    return out.select(
        "vec_id",
        F.round(F.element_at("pca", 1), 4).alias("pc1"),
        F.round(F.element_at("pca", 2), 4).alias("pc2"))


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seatunnel_spark.dataops.text import _LANG_MARKERS, lang_id

    df = lang_id(_t(spark, sf_dir, "documents"))
    words = F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    hits = {
        f"{code}_hits": F.size(
            F.array_intersect(words, F.array(*[F.lit(m) for m in markers]))
        )
        for code, markers in _LANG_MARKERS.items()
    }
    return df.withColumns(hits).select("doc_id", "lang_pred", *hits.keys())


def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seatunnel_spark.dataops.text import token_count

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("ws_tokens"),
        F.md5(F.col("text")).alias("content_md5"),
    )


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics (dataops/text.py:
    repetition_signals): top-word / top-2-gram fractions and the
    type-token ratio via (doc, gram) count shuffles."""
    from seatunnel_spark.dataops.text import repetition_signals

    return repetition_signals(_t(spark, sf_dir, "documents"))


def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite C4/Gopher keep/drop filter (dataops/text.py:
    quality_filter) — per-rule booleans + the fused keep bit."""
    from seatunnel_spark.dataops.text import quality_filter

    q = quality_filter(_t(spark, sf_dir, "documents"))
    return q.select(
        "doc_id",
        F.col("r_min_words"), F.col("r_word_len"),
        F.col("r_punct"), F.col("r_stopwords"), F.col("keep"))


def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring (dataops/text.py:unigram_logprob):
    per-doc mean token log-probability under the corpus's own smoothed
    unigram model — the CCNet-style LM filter core. Two map-side-
    combined aggregations, token-keyed join, no driver state."""
    from seatunnel_spark.dataops.text import unigram_logprob

    return unigram_logprob(_t(spark, sf_dir, "documents"))


def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf keywords per doc (dataops/text.py:tfidf_keywords),
    deterministic tie-breaks. The keyword list is flattened to a
    space-joined scalar so the driver's pandas canonicalizer (which
    sorts column values and can't hash lists) can hash it."""
    from seatunnel_spark.dataops.text import tfidf_keywords

    out = tfidf_keywords(_t(spark, sf_dir, "documents"), k=3)
    return out.select(
        "doc_id", F.array_join("keywords", " ").alias("keywords"))


def decontam_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (dataops/decontam.py): flag docs
    sharing any 13-gram with the benchmark set (docs with
    doc_id % 97 == 0 stand in for an eval suite). Broadcast
    benchmark-gram semi-join — no corpus shuffle."""
    from seatunnel_spark.dataops.decontam import flag_contaminated

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    return flag_contaminated(d, bench, n=13)


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (dataops/text.py:pii_redact): deterministic PII
    spans are injected per doc, then redacted by the Java/RE2-portable
    rule chain — counts per type + the scrubbed text. Zero-shuffle
    codegen projection."""
    from seatunnel_spark.dataops.text import pii_redact

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    with_pii = d.withColumn(
        "text",
        F.concat(F.col("text"), F.lit(" contact u"),
                 F.col("doc_id").cast("string"),
                 F.lit("@example.com or +555 123 4567 at 192.168."),
                 (F.col("doc_id") % 255).cast("string"), F.lit(".9")))
    return pii_redact(with_pii).select(
        "doc_id", "n_email", "n_ipv4", "n_phone", "redacted")


def sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (dataops/sampling.py:
    split_assign): membership is a pure function of md5(doc_id) — no
    shuffle, reproducible on any cluster layout."""
    from seatunnel_spark.dataops.sampling import split_assign

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return split_assign(d, train=0.9, val=0.05)


def sample_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (dataops/sampling.py:
    leakage_safe_split): the split key is md5(text), not the doc id,
    so duplicate documents can NEVER straddle the train/test fence —
    the classic silent eval contamination an id-hash split permits.
    Zero shuffle for the assignment itself; the per-split counts
    reported here show every distinct text lives in exactly one split
    (Σ per-split n_texts == global distinct texts)."""
    from seatunnel_spark.dataops.sampling import leakage_safe_split

    d = _t(spark, sf_dir, "documents")
    s = leakage_safe_split(d, "text", train=0.8, val=0.1)
    return (s.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.count_distinct("text").alias("n_texts"))
            .orderBy("split"))


_MIX_WEIGHTS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}


def sample_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture plan (dataops/sampling.py:mixture_plan): given
    target weights over three sources and a token budget 3x any single
    source's supply, per-source sampling rates and upsampling epoch
    counts (rate > 1 -> multiple passes). ONE map-side-combined token
    count per domain; the plan is |domains|-row arithmetic."""
    from seatunnel_spark.dataops.sampling import mixture_plan

    d = _t(spark, sf_dir, "documents")
    out = mixture_plan(d, "source", _MIX_WEIGHTS, token_budget=6000)
    return out.filter(F.col("target_tokens") > 0)


def sample_mixture_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized mixture (dataops/sampling.py:mixture_apply): each
    doc emitted once per full epoch plus a deterministic hash-sampled
    fractional last epoch — per-(domain, epoch) doc counts. Pure
    projection + |domains|-row broadcast, zero corpus shuffle."""
    from seatunnel_spark.dataops.sampling import (mixture_apply,
                                                  mixture_plan)

    d = _t(spark, sf_dir, "documents")
    plan = mixture_plan(d, "source", _MIX_WEIGHTS, token_budget=6000)
    out = mixture_apply(d, plan, "source")
    return (out.groupBy("source", "epoch")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("source", "epoch"))


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stratified sampling (dataops/sampling.py:
    stratified_sample) with deterministic hash membership."""
    from seatunnel_spark.dataops.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    rates = {"en": 0.6, "fr": 0.5, "de": 0.4, "es": 0.3, "zh": 0.2}
    return stratified_sample(d, "lang", rates)


def pack_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (dataops/packing.py): map every doc onto its
    fixed-length training sequence via a distributed two-pass prefix
    sum (range shuffle + tiny driver rollup — never a one-partition
    global window)."""
    from seatunnel_spark.dataops.packing import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), seq_len=512)


def sample_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain rebalancing (dataops/sampling.py:domain_rebalance):
    deterministically downsample every language to the smallest one's
    size (en is ~3x over-represented in the corpus) — tiny count
    aggregate broadcast onto the scan."""
    from seatunnel_spark.dataops.sampling import domain_rebalance

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return domain_rebalance(d, "lang").select("doc_id", "lang")


def _emb_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return e.withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )


def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seatunnel_spark.dataops import brute_force_topk

    e = _emb_double(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 5)
    out = brute_force_topk(q, e, "vec_id", "vec_id", k=10, round_to=4)
    return out.withColumn("rank", F.col("rank").cast("int"))


def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (dataops/similarity.py:hard_negatives):
    for each query embedding, the top-10 most-similar corpus vectors
    with a DIFFERENT label — the contrastive-training negatives that
    are similar yet wrong-class. Broadcast queries × one corpus
    scan; the label-mismatch predicate lives in the join condition,
    so same-label candidates never reach the rank window. The
    oracle replays the filtered cosine ranking."""
    from seatunnel_spark.dataops.similarity import hard_negatives

    e = _emb_double(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 5)
    out = hard_negatives(q, e, "vec_id", "vec_id", k=10, round_to=4)
    return out.withColumn("rank", F.col("rank").cast("int"))


def sim_hard_negatives_ivf(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """CORPUS-scale hard-negative mining (dataops/similarity.py:
    hard_negatives_ivf): EVERY embedding is an anchor mining its own
    top-5 different-label negatives — no broadcast query set
    anywhere. Queries explode to their 2 nearest cells of the seeded
    8-cell coarse codebook and meet the cell-assigned corpus in a
    shuffled equi-join on the cell id, with the anti-label predicate
    applied before the rank window (so no over-fetch factor is
    needed). The oracle replays cell assignment, probe order, label
    filter, and ranking from the literal centroids. Recall vs the
    brute-force miner is pinned in
    tests/test_dataops.py::test_hard_negatives_ivf_recall."""
    from seatunnel_spark.dataops.similarity import hard_negatives_ivf

    e = _emb_double(spark, sf_dir)
    out = hard_negatives_ivf(e, e, "vec_id", "vec_id", k=5,
                             nlist=8, nprobe=2,
                             centroids=_ivf_codebook(), round_to=4)
    return out.withColumn("rank", F.col("rank").cast("int"))


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware duplicate survivorship (dataops/dedup.py:
    best_of_cluster): n-gram Jaccard near-dup pairs -> connected
    components -> per cluster keep the row with the HIGHEST
    quality_score (ties -> lowest doc_id) via one max_by aggregation
    on a packed (score, -id) BIGINT key — no window, no per-cluster
    sort, and the packing replays as plain arg_max in any SQL
    engine. Clustering uses the EXACT-COLLAPSE form
    (jaccard_dup_clusters): one representative per identical text
    enters the pair join, members attach by direct edges — identical
    components, and the pair-join cost stays flat when a corpus is
    dominated by exact replicas (the sf10 regime). Returns
    (cluster_id, n_members, doc_id, quality_score)."""
    from seatunnel_spark.dataops.dedup import (best_of_cluster,
                                               jaccard_dup_clusters)
    from seatunnel_spark.dataops.text import quality_score

    d = _t(spark, sf_dir, "documents")
    clusters = jaccard_dup_clusters(d, "doc_id", "text", k=3,
                                    threshold=0.2,
                                    block_cols=["lang"])
    scored = quality_score(d).select("doc_id", "quality_score")
    return best_of_cluster(scored, None, "doc_id", "quality_score",
                           fields=["quality_score"],
                           clusters=clusters)


def sim_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seatunnel_spark.dataops.similarity import _dot, _norm

    e = _emb_double(spark, sf_dir).filter(F.col("vec_id") < 60)
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    cos = F.round(
        _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb"))), 4
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.3)
    )


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection (dataops/dedup.py:
    minhash_band_index + incremental_minhash_matches): an 80/20
    hash-split plays the roles of persisted corpus index and new
    ingest batch — new docs probe the (band, key) index without any
    corpus self-join or re-scan."""
    from seatunnel_spark.dataops.dedup import (
        incremental_minhash_matches, minhash_band_index)
    from seatunnel_spark.dataops.sampling import hash_bucket

    d = _t(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"))
    existing = d.filter(b < 8000)
    new = d.filter(b >= 8000)
    idx = minhash_band_index(existing, "doc_id", "text")
    return incremental_minhash_matches(new, idx, "doc_id", "text")


def dedup_passage_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-dedup APPLY (dataops/dedup.py:passage_dedup_apply):
    rebuild each doc keeping only corpus-wide first-occurrence chunks;
    the hash gate covers the reconstructed text via md5. Shuffles
    carry digests and int arrays — never chunk text."""
    from seatunnel_spark.dataops.dedup import passage_dedup_apply

    out = passage_dedup_apply(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", F.md5("clean_text").alias("clean_md5"),
        F.length("clean_text").alias("clean_len"),
        "n_chunks", "n_kept")


def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature/alpha domain sampling
    (dataops/sampling.py:temperature_sample): alpha=0.5 up-weights
    small sources inside a half-corpus budget; the oracle replays the
    n^alpha weights, the rounded hash threshold, and the exact md5
    membership draw."""
    from seatunnel_spark.dataops.sampling import temperature_sample

    return temperature_sample(_t(spark, sf_dir, "documents"))


def stream_probe_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming LSH probe (streaming/__init__.py:stream_minhash_probe):
    new-doc ingest joins the STATIC persisted band index — Structured
    Streaming's stream-static join, stateless/append-safe because the
    per-row HOF signature needs no aggregation. Runs identically on
    the batch frame here; tests/test_streaming.py proves the real
    readStream path emits the same rows."""
    from seatunnel_spark.dataops.dedup import minhash_band_index
    from seatunnel_spark.dataops.sampling import hash_bucket
    from seatunnel_spark.streaming import stream_minhash_probe

    d = _t(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"))
    idx = minhash_band_index(d.filter(b < 8000), "doc_id", "text")
    return stream_minhash_probe(d.filter(b >= 8000), idx)


def q_argmin_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin-per-group via min-agg + join-back — the scalable form of
    TPC-H Q2's correlated min-subquery (the reference runs such
    subqueries through its SQL transform; Spark-first this is two
    aggregations whose exchanges share a key, so the join-back reuses
    the first shuffle (ReusedExchange, plan-tested) instead of
    windowing the whole fact table."""
    li = _t(spark, sf_dir, "lineitem")
    m = li.groupBy("l_partkey").agg(
        F.min("l_extendedprice").alias("min_price"))
    return (
        li.join(m, ["l_partkey"])
        .filter(F.col("l_extendedprice") == F.col("min_price"))
        .groupBy("l_partkey", "min_price")
        .agg(F.min("l_suppkey").alias("best_supplier"))
    )


def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval (dataops/retrieval.py:bm25_topk): three
    literal queries probe the corpus — query terms and per-term idf
    broadcast, corpus tokenized once, score rounded before ranking so
    the DuckDB oracle replays identical rankings."""
    from seatunnel_spark.dataops.retrieval import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        [(0, "spark table scan"), (1, "hash join merge"),
         (2, "window sort batch")],
        "query_id int, query_text string")
    return bm25_topk(docs, queries, k=10)


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (dataops/graph.py:pagerank) over the symmetrized
    customer<->supplier bipartite graph from orders x lineitem — one
    (dst, contribution) shuffle per iteration; the oracle unrolls both
    iterations as CTEs (same fixed-iteration replay as emb_kmeans)."""
    from seatunnel_spark.dataops.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    # distinct on the narrow int key pair BEFORE stringifying; the
    # symmetrized union of two disjoint namespaces stays distinct, so
    # pagerank can skip its own edge dedup shuffle.
    jp = (li.join(o, li.l_orderkey == o.o_orderkey)
          .select(o.o_custkey.alias("c"), li.l_suppkey.alias("s"))
          .distinct())
    j = jp.select(F.concat(F.lit("c"), F.col("c")).alias("src"),
                  F.concat(F.lit("s"), F.col("s")).alias("dst"))
    edges = j.union(
        j.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return pagerank(edges, iters=2, dedupe=False)


def text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking (dataops/text.py:doc_chunks): overlapping 32-word
    windows at stride 24 — sequence + posexplode + slice, zero UDF,
    zero shuffle (plan-tested)."""
    from seatunnel_spark.dataops.text import doc_chunks

    return doc_chunks(_t(spark, sf_dir, "documents"))


def text_html_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML cleaning (dataops/text.py:html_clean): wrap each doc in a
    synthetic page (script/style blocks, tags, entities incl. the
    double-decode trap &amp;lt;) then strip it — a zero-shuffle
    regexp_replace chain; the oracle replays the same RE2-safe rules."""
    from seatunnel_spark.dataops.text import html_clean

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    wrapped = d.withColumn(
        "text",
        F.concat(
            F.lit('<html><head><style media="all">p{color:red}</style>'
                  '</head><body><p class="doc">'),
            F.col("text"),
            F.lit('</p><script type="text/javascript">var x = 1 < 2;'
                  '</script><br/>&amp;lt; &quot;done&quot;</body></html>'),
        ),
    )
    out = html_clean(wrapped)
    return out.select(
        "doc_id",
        F.length("clean_text").alias("clean_len"),
        F.md5(F.col("clean_text")).alias("clean_md5"),
    )


def dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-passage stats (dataops/dedup.py:passage_dup_stats):
    chunk-granular exact-substring dedup (Lee et al. 2022) — chunks
    shuffle as md5 digests with a packed (doc,pos) ordinal, never as
    text."""
    from seatunnel_spark.dataops.dedup import passage_dup_stats

    return passage_dup_stats(
        _t(spark, sf_dir, "documents"), "doc_id", "text", chunk_words=8)


def sample_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle (dataops/sampling.py:
    global_shuffle): (shard, pos) training-order address as a pure
    function of (doc_id, seed); each shard ranks independently."""
    from seatunnel_spark.dataops.sampling import global_shuffle

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return global_shuffle(d, "doc_id", seed=7, num_shards=8)


def emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization (dataops/embeddings.py:
    quantize_int8 + dequant_error): symmetric per-vector codes with
    the dequant scale and reconstruction MSE — one codegen'd
    projection, no shuffle."""
    from seatunnel_spark.dataops.embeddings import dequant_error, quantize_int8

    e = _t(spark, sf_dir, "embeddings")
    q = dequant_error(quantize_int8(e))
    qc = F.col("q")
    return q.select(
        "vec_id",
        F.round(F.col("scale"), 6).alias("scale_r"),
        F.aggregate(qc, F.lit(0).cast("long"),
                    lambda a, b: a + b).alias("q_sum"),
        F.size(F.filter(qc, lambda v: v != 0)).alias("q_nonzero"),
        F.round(F.col("mse"), 9).alias("mse_r"),
    )


def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (dataops/embeddings.py:kmeans_fit/
    kmeans_assign): deterministic init (k lowest ids), rounded-
    distance argmin with lowest-index tiebreak, rounded per-dim mean
    updates — the DuckDB oracle replays both iterations exactly.
    Centroids ride the plan as broadcast literals; each iteration
    shuffles only k×dim map-side-combined partial means."""
    from seatunnel_spark.dataops.embeddings import kmeans_assign, kmeans_fit

    e = _t(spark, sf_dir, "embeddings")
    cents = kmeans_fit(e, k=8, iters=2, round_to=6)
    assigned = kmeans_assign(e, cents, dist_col="__d")
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("vec_id").alias("sample_id"),
            F.round(F.avg(F.sqrt(F.col("__d"))), 4).alias("avg_dist"),
        )
    )


# ===========================================================================
# Rows-only suite: genuinely non-SQL-expressible ops (python-side hashing,
# model inference, codecs) — no oracle entry; the driver records the
# weaker rows-only check for these.
# ===========================================================================

def t_llm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM transform with the deterministic FAKE provider (real providers
    are stubbed — no network in this environment)."""
    from seatunnel_spark.transforms import get_transform

    docs = _t(spark, sf_dir, "documents").limit(200)
    out = get_transform(
        "LLM",
        {"model_provider": "FAKE", "prompt": "Classify the document topic",
         "inference_columns": ["text"], "output_column_name": "topic"},
    ).apply(docs)
    return out.select("doc_id", "topic")


def t_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seatunnel_spark.transforms import get_transform

    docs = _t(spark, sf_dir, "documents").limit(200)
    out = get_transform(
        "Embedding",
        {"model_provider": "FAKE", "vectorization_fields": {"text_vec": "text"},
         "dimension": 16},
    ).apply(docs)
    return out.select("doc_id", F.size("text_vec").alias("dim"),
                      F.round(F.aggregate("text_vec", F.lit(0.0),
                                          lambda a, x: a + x * x), 3).alias("sq_norm"))


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seatunnel_spark.dataops import simhash_near_dups

    return simhash_near_dups(
        _t(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=3
    )


def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN: random-hyperplane bucketed top-k (scale path).
    The plane matrix is deterministic (seed 42), so the DuckDB oracle
    replays the same buckets from literal plane values."""
    from seatunnel_spark.dataops import lsh_bucketed_topk

    e = _emb_double(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 5)
    out = lsh_bucketed_topk(q, e, "vec_id", "vec_id", k=10, planes=4, round_to=4)
    return out.withColumn("rank", F.col("rank").cast("int"))


def pipe_job_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full engine path, oracle-checked: job spec -> DAG resolution ->
    FieldMapper -> Filter -> Sql aggregate, through run_job (the same
    code a HOCON/SQL config exercises)."""
    from seatunnel_spark import run_job

    tables = run_job(
        {
            "env": {"job.mode": "BATCH"},
            "source": [
                {"plugin_name": "LocalFile", "plugin_output": "ordr",
                 "path": f"{sf_dir}/orders.parquet",
                 "file_format_type": "parquet"}
            ],
            "transform": [
                {"plugin_name": "FieldMapper", "plugin_input": "ordr",
                 "plugin_output": "mapped",
                 "field_mapper": {"o_orderkey": "okey", "o_orderstatus": "status",
                                  "o_totalprice": "price", "o_orderpriority": "prio"}},
                {"plugin_name": "Filter", "plugin_input": "mapped",
                 "plugin_output": "slim", "exclude_fields": ["prio"]},
                {"plugin_name": "Sql", "plugin_input": "slim",
                 "plugin_output": "agg",
                 "query": ("SELECT status, COUNT(*) AS n, "
                           "ROUND(SUM(price), 2) AS total "
                           "FROM slim GROUP BY status")},
            ],
            "sink": [],
        },
        spark,
    )
    return tables["agg"]


def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, exact mode (planes=0) — the oracle-
    checkable correctness baseline for the LSH-blocked scale path."""
    from seatunnel_spark.dataops import embedding_near_dups

    e = _emb_double(spark, sf_dir)
    return embedding_near_dups(e, "vec_id", "embedding",
                               threshold=0.4, planes=0, round_to=4)


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with hyperplane blocking (the 100 TB path —
    approximate recall, so rows-only)."""
    from seatunnel_spark.dataops import embedding_near_dups

    e = _emb_double(spark, sf_dir)
    return embedding_near_dups(e, "vec_id", "embedding",
                               threshold=0.4, planes=4, round_to=4)


def _ivf_codebook() -> list[list[float]]:
    """Deterministic seeded IVF codebook (seed 7, 8×64) — fixed so the
    DuckDB oracle replays identical cell assignment / probing from
    literal centroid values (same pattern as the LSH plane oracle)."""
    import numpy as np

    mat = np.random.default_rng(7).standard_normal((8, 64))
    return [[float(x) for x in row] for row in mat]


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN multi-probe search over a fixed seeded codebook — fully
    deterministic, so oracle-checked. (The distributed-Lloyd's trained
    quantizer is exercised in tests/test_dataops.py; training is data-
    dependent floating-point iteration, so its centroids aren't
    engine-replayable bit-for-bit.)"""
    from seatunnel_spark.dataops import ivf_topk

    e = _emb_double(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 5)
    return ivf_topk(q, e, "vec_id", "vec_id", k=10, nlist=8, nprobe=2,
                    centroids=_ivf_codebook(), round_to=4)


def _pq_codebooks() -> list[list[list[float]]]:
    """Deterministic seeded PQ codebooks (seed 11, 4 subspaces × 16
    centroids × 16 dims, scaled ~unit-norm) — fixed so the DuckDB
    oracle replays identical encoding and ADC from literal values
    (same pattern as _ivf_codebook; the TRAINED path pq_train is
    exercised in tests/test_dataops.py with a recall floor)."""
    import numpy as np

    mat = np.random.default_rng(11).standard_normal((4, 16, 16)) * 0.25
    return [[[float(x) for x in cent] for cent in book] for book in mat]


def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC search (dataops/similarity.py:
    pq_encode + pq_topk — Jégou et al. 2011): the corpus is encoded
    once to 4 small ints per vector (the write-once artifact that
    makes 100 TB of embeddings scannable: m codes instead of dim
    floats), then each query scores rows as Σ_s ||q_s − cb[s][code]||²
    — m literal-array lookups + m·(dim/m) multiply-adds per row, pure
    codegen, queries broadcast. Rounded-before-ranking per the
    brute_force_topk convention; the oracle replays encode AND ADC
    from the literal codebooks."""
    from seatunnel_spark.dataops.similarity import pq_encode, pq_topk

    e = _emb_double(spark, sf_dir)
    books = _pq_codebooks()
    codes = pq_encode(e, books).select("vec_id", "codes")
    q = e.filter(F.col("vec_id") < 5)
    return pq_topk(q, codes, books, "vec_id", "vec_id", k=10,
                   round_to=4)


def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed 100 TB ANN architecture (dataops/similarity.py:
    ivfpq_topk): IVF cell pruning (seed-7 coarse codebook, nprobe=2
    of 8 cells) + PQ ADC scoring inside the probed cells (seed-11
    codebooks — m codes per row, no corpus vectors touched). One
    projection attaches cell+codes; the __cell equi-join is the only
    movement before the top-k window. The oracle replays coarse
    assignment, probe order, per-subspace encoding, AND the ADC sum
    from the literal codebooks."""
    from seatunnel_spark.dataops.similarity import ivfpq_topk

    e = _emb_double(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 5)
    return ivfpq_topk(q, e, _pq_codebooks(), "vec_id", "vec_id",
                      k=10, nprobe=2,
                      coarse_centroids=_ivf_codebook(), round_to=4)


def _pq_res_codebooks() -> list[list[list[float]]]:
    """Seed-13 codebooks for the residual (IVFADC) query, scaled to
    residual magnitudes — fixed for oracle replay like _pq_codebooks;
    the trained path pq_train_residual is exercised in tests."""
    import numpy as np

    mat = np.random.default_rng(13).standard_normal((4, 16, 16)) * 0.15
    return [[[float(x) for x in cent] for cent in book] for book in mat]


def sim_ivfadc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — the full Jégou et al. 2011 architecture (dataops/
    similarity.py:ivfadc_topk): IVF cell pruning + PQ over RESIDUALS,
    where each probed (query, cell) pair forms the query residual
    against that cell's centroid and ADC runs residual-to-residual —
    the refinement sim_ivfpq_topk's non-residual variant trades away.
    All codebooks literal (seed-7 coarse, seed-13 fine); the oracle
    replays cell assignment, BOTH residual formations, encoding, and
    the ADC sum."""
    from seatunnel_spark.dataops.similarity import ivfadc_topk

    e = _emb_double(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 5)
    return ivfadc_topk(q, e, _pq_res_codebooks(), _ivf_codebook(),
                       "vec_id", "vec_id", k=10, nprobe=2, round_to=4)


def sim_ivfadc_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC+R (dataops/similarity.py:ivfadc_rerank_topk — Jégou et
    al. 2011 §VI): the ADC scan produces a 4k-per-query shortlist,
    the shortlist (always broadcast-thin) joins back to the original
    vectors for EXACT squared-L2, and the final top-10 ranks on the
    exact distance — the standard recall lever over sim_ivfadc_topk
    at the cost of one broadcast-hash probe of the corpus. The oracle
    replays the full IVFADC pipeline, the shortlist cut, and the
    exact re-rank arithmetic."""
    from seatunnel_spark.dataops.similarity import ivfadc_rerank_topk

    e = _emb_double(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 5)
    return ivfadc_rerank_topk(q, e, _pq_res_codebooks(),
                              _ivf_codebook(), "vec_id", "vec_id",
                              k=10, nprobe=2, rerank=4, round_to=4)


def sim_recall_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of IVFADC before/after the exact re-rank stage
    (dataops/similarity.py:topk_recall), audited against EXACT
    squared-L2 ground truth (brute_force_l2_topk — the metric the
    PQ family approximates; cosine ground truth would mis-grade an
    L2 index on unnormalized vectors). The measured lift of the +R
    stage at the shipped defaults (nprobe=2, rerank=4); per-query
    recall(ivfadc_r) >= recall(ivfadc) is a theorem (a true top-10
    item in any shortlist has < 10 exact-closer shortlist members),
    so a drop here is an arithmetic bug, not noise."""
    from seatunnel_spark.dataops.similarity import (brute_force_l2_topk,
                                                    ivfadc_rerank_topk,
                                                    ivfadc_topk,
                                                    topk_recall)

    e = _emb_double(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 5)
    exact = brute_force_l2_topk(q, e, "vec_id", "vec_id", k=10,
                                round_to=4)
    adc = ivfadc_topk(q, e, _pq_res_codebooks(), _ivf_codebook(),
                      "vec_id", "vec_id", k=10, nprobe=2, round_to=4)
    rr = ivfadc_rerank_topk(q, e, _pq_res_codebooks(), _ivf_codebook(),
                            "vec_id", "vec_id", k=10, nprobe=2,
                            rerank=4, round_to=4)
    cols = ["query_id", "n_true", "n_hits", "recall"]
    return (topk_recall(adc, exact)
            .select(F.lit("ivfadc").alias("method"), *cols)
            .unionAll(topk_recall(rr, exact)
                      .select(F.lit("ivfadc_r").alias("method"),
                              *cols)))


def sim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall audit (dataops/similarity.py:topk_recall): recall@10
    of the two shipped approximate indexes (LSH planes=4, IVF nlist=8
    nprobe=2 over the fixed seed-7 codebook) against brute-force
    ground truth, per query — the number a user tuning
    planes/nlist/nprobe at 100 TB actually needs. Pure DataFrame
    set-overlap of result tables the driver already oracle-checks
    individually; the oracle recomputes all three searches and the
    same overlap arithmetic."""
    from seatunnel_spark.dataops import (brute_force_topk, ivf_topk,
                                         lsh_bucketed_topk, topk_recall)

    e = _emb_double(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(q, e, "vec_id", "vec_id", k=10, round_to=4)
    lsh = lsh_bucketed_topk(q, e, "vec_id", "vec_id", k=10, planes=4,
                            round_to=4)
    ivf = ivf_topk(q, e, "vec_id", "vec_id", k=10, nlist=8, nprobe=2,
                   centroids=_ivf_codebook(), round_to=4)
    return (topk_recall(lsh, exact).select(F.lit("lsh").alias("method"),
                                           "query_id", "n_true",
                                           "n_hits", "recall")
            .unionAll(topk_recall(ivf, exact)
                      .select(F.lit("ivf").alias("method"), "query_id",
                              "n_true", "n_hits", "recall")))


def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-search fusion (dataops/retrieval.py:rrf_fuse — Cormack
    et al., SIGIR 2009): reciprocal-rank fusion of the two shipped ANN
    indexes' top-10 lists (LSH planes=4, IVF nlist=8/nprobe=2) with
    the paper's k=60 — rank-only combination, no score calibration,
    the standard lexical+vector hybrid glue. Everything after the
    searches is |queries| x k arithmetic; the oracle recomputes both
    searches and the same fusion."""
    from seatunnel_spark.dataops import ivf_topk, lsh_bucketed_topk
    from seatunnel_spark.dataops.retrieval import rrf_fuse

    e = _emb_double(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 5)
    lsh = lsh_bucketed_topk(q, e, "vec_id", "vec_id", k=10, planes=4,
                            round_to=4)
    ivf = ivf_topk(q, e, "vec_id", "vec_id", k=10, nlist=8, nprobe=2,
                   centroids=_ivf_codebook(), round_to=4)
    return rrf_fuse([lsh, ivf], k=60, topk=10)


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (dataops/dedup.py:semantic_dedup): nearest-centroid
    clustering over the fixed seeded codebook, within-cell cosine
    pairs, keep the lowest id per duplicate relation — Σ cell² work,
    never N². Oracle replays literal centroids like sim_ivf_topk."""
    from seatunnel_spark.dataops.dedup import semantic_dedup

    e = _emb_double(spark, sf_dir)
    return semantic_dedup(e, "vec_id", "embedding",
                          centroids=_ivf_codebook(), threshold=0.4,
                          round_to=4)


def cdc_stitched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC pipeline, oracle-checked end-to-end: a deterministic
    debezium-json feed + parquet snapshot derived from `orders` is
    written to a replay dir, read back through MySQL-CDC
    (sources/cdc_replay.py — envelope decode, -U/+U expansion,
    watermark stitch) and compacted to final state (sources/cdc.py
    final_state). The oracle computes the same end state semantically
    in DuckDB (updates/inserts/deletes by key-class), so it checks the
    pipeline, not a reimplementation of it.

    Event plan over keys k <= 3000 (watermark 1000; snapshot holds
    k%3!=0): u@1000+k for k%4==1 (+10 price), dropped-u@k%1000 for
    k%4==2 (pre-watermark), c@1500+k for k%3==0, d@2000+k for k%10==7.
    """
    import hashlib
    import json as _json
    import os
    import tempfile

    from seatunnel_spark.sources.cdc import final_state
    from seatunnel_spark.sources.cdc_replay import CdcReplaySource
    from seatunnel_spark.types import EVENT_TS_COL, TABLE_ID_COL

    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 3000)
        .select("o_orderkey", "o_orderstatus",
                F.col("o_totalprice").cast("double").alias("o_totalprice"))
    )
    rows = sorted((int(r[0]), r[1], float(r[2])) for r in o.collect())
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"st_cdc_replay_{tag}")
    tdir = os.path.join(base, "db.orders")
    os.makedirs(tdir, exist_ok=True)
    o.filter(F.col("o_orderkey") % 3 != 0).write.mode("overwrite").parquet(
        os.path.join(tdir, "snapshot.parquet"))
    with open(os.path.join(tdir, "watermark"), "w") as f:
        f.write("1000")
    with open(os.path.join(tdir, "schema.json"), "w") as f:
        _json.dump({"o_orderkey": "bigint", "o_orderstatus": "string",
                    "o_totalprice": "double"}, f)

    def ev(op, pos, before=None, after=None):
        return _json.dumps({"before": before, "after": after, "op": op,
                            "ts_ms": pos,
                            "source": {"db": "db", "table": "orders",
                                       "pos": pos}})

    lines = []
    for k, st, price in rows:
        doc = {"o_orderkey": k, "o_orderstatus": st, "o_totalprice": price}
        if k % 4 == 1:
            lines.append(ev("u", 1000 + k, before=doc,
                            after={**doc, "o_totalprice": price + 10}))
        if k % 4 == 2:  # pre-watermark: the stitch must drop it
            lines.append(ev("u", k % 1000, before=doc,
                            after={**doc, "o_totalprice": price + 999}))
        if k % 3 == 0:  # not in the snapshot: post-snapshot insert
            lines.append(ev("c", 1500 + k, after=doc))
        if k % 10 == 7:
            lines.append(ev("d", 2000 + k, before=doc))
    with open(os.path.join(tdir, "changelog.jsonl"), "w") as f:
        f.write("\n".join(lines) + "\n")

    src = CdcReplaySource({"replay.dir": base, "table-names": ["db.orders"],
                           "table-names-config": [
                               {"table": "db.orders",
                                "primaryKeys": ["o_orderkey"]}]})
    stitched = src.read(spark).drop(EVENT_TS_COL, TABLE_ID_COL)
    state = final_state(stitched, ["o_orderkey"], "__offset")
    return state.select(
        "o_orderkey", "o_orderstatus",
        F.round("o_totalprice", 2).alias("price"),
    )


def lake_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse MERGE-apply pipeline, oracle-checked end-to-end: the
    events table becomes a per-user changelog (click->+I, error->-D,
    rest->+U, ordered by a ts/event_id offset), applied in TWO
    time-split batches through the Iceberg-analog sink
    (sinks/lakehouse.py merge_apply = MERGE INTO ... WHEN MATCHED), and
    the committed table is read back. Oracle: last event per user by
    (ts, event_id) wins, deletes drop — a plain window in DuckDB."""
    import hashlib
    import os
    import shutil
    import tempfile

    from seatunnel_spark.sinks.lakehouse import LakehouseSink, LakehouseTable
    from seatunnel_spark.types import ROW_KIND_COL

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts",
                                           "value", "event_type")
    kind = (F.when(F.col("event_type") == "error", "-D")
            .when(F.col("event_type") == "click", "+I").otherwise(F.lit("+U")))
    ch = (e.withColumn(ROW_KIND_COL, kind)
          .withColumn("__offset",
                      (F.unix_timestamp("ts") * F.lit(100000000)
                       + F.col("event_id")).cast("long"))
          .drop("event_type"))
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    wh = os.path.join(tempfile.gettempdir(), f"st_lake_{tag}")
    shutil.rmtree(wh, ignore_errors=True)
    cutoff = F.lit("2024-06-01").cast("timestamp")
    opts = {"warehouse": wh, "database": "db", "table": "events_state",
            "primary_keys": ["user_id"]}
    first = LakehouseSink(opts)
    first.write(ch.filter(F.col("ts") < cutoff))
    second = LakehouseSink(opts)
    second.write(ch.filter(F.col("ts") >= cutoff))
    out = LakehouseTable(os.path.join(wh, "db", "events_state")).read(spark)
    return out.select(
        "user_id", "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.round("value", 2).alias("val"),
    )


def data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profiling over orders (dataops/profile.py): one
    aggregation pass computes every column's null rate / distinct /
    min/max / mean / stddev, then a Catalyst unpivot — the data-quality
    gate a training pipeline runs between stages."""
    from seatunnel_spark.dataops.profile import profile_table

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    return profile_table(o, round_to=2)


def q_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release gate (dataops/profile.py:
    k_anonymity_report): quasi-identifier groups with < 3 rows over
    (linestatus, quantity, tax, discount) — the combination-risk
    check pii_redact can't see (it removes direct identifiers only).
    One map-side-combined groupBy; output bounded by the violating
    groups."""
    from seatunnel_spark.dataops.profile import k_anonymity_report

    li = _t(spark, sf_dir, "lineitem")
    return k_anonymity_report(
        li, ["l_linestatus", "l_quantity", "l_tax", "l_discount"], k=3)


def q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift diff (dataops/profile.py:profile_drift): events
    vs a deterministically doctored snapshot (half the rows; value
    nulled on a slice) — per-column null-rate / distinct / mean
    deltas, the yesterday-vs-today schema-health check that catches
    an upstream change before it poisons a training run. Two
    one-aggregate profile passes + a |columns|-row join."""
    from seatunnel_spark.dataops.profile import profile_drift

    e = _t(spark, sf_dir, "events")
    a = e.select("value", "user_id", "event_type")
    b = (e.filter(F.col("event_id") % 2 == 0)
         .select(F.when((F.col("value") > 400)
                        & (F.col("event_id") % 3 == 0), None)
                 .otherwise(F.col("value")).alias("value"),
                 "user_id", "event_type"))
    return profile_drift(a, b)


def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary column -> mapInPandas decode (stub
    codec, deterministic sha256 — so DuckDB can replay the metadata as
    an oracle) -> typed metadata + feature vector."""
    from seatunnel_spark.dataops.multimodal import image_features

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100).select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("content")
    )
    out = image_features(docs, "content", codec="stub")
    return out.select(
        "doc_id",
        F.col("image_meta.width").alias("width"),
        F.col("image_meta.height").alias("height"),
        F.size("image_feat").alias("feat_dim"),
    )


def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize plumbing: binary -> mapInPandas re-encode (stub
    codec) -> binary + typed metadata."""
    from seatunnel_spark.dataops.multimodal import image_resize

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100).select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("content")
    )
    out = image_resize(docs, 32, 32, codec="stub")
    return out.select(
        "doc_id",
        F.col("resized_meta.width").alias("w"),
        F.length("content").alias("nbytes"),
    )


def mm_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup dedup (dataops/multimodal.py:
    image_near_dups): dHash per image (stub codec here — deterministic
    sha256 fold so DuckDB replays the hash), then the EXACT-RECALL
    multi-index pigeonhole Hamming join shared with text SimHash
    (dedup.py:hamming_near_dups). The oracle brute-forces the N^2
    bit_count(xor) on the same hashes — so a value-hash match proves
    the blocking scheme loses NO pair within the radius, not just that
    the plumbing ran. Synthetic "images" are the first two words of
    each doc (full texts are all distinct at every SF; a shared prefix
    makes real duplicate clusters) — real-codec near-dup behavior is
    covered by the PNG dHash test in tests/test_dataops.py."""
    from seatunnel_spark.dataops.multimodal import image_near_dups

    first2 = F.array_join(
        F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 2), " ")
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 300).select(
        "doc_id", F.encode(first2, "UTF-8").alias("content"))
    return image_near_dups(docs, "doc_id", codec="stub", max_hamming=3)


def stream_windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windowed aggregation via the streaming module (runs on
    the batch frame here; identical code path handles readStream)."""
    from seatunnel_spark.streaming import windowed_agg

    e = _t(spark, sf_dir, "events")
    out = windowed_agg(e, "ts", "1 hour", "2 hours", ["event_type"],
                       {"n": "count(1)", "sv": "round(sum(value), 2)"})
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
        "event_type", "n", "sv",
    )


def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native Spark session_window aggregation (dynamic gap-closed
    windows; the streaming form evicts closed-session state behind a
    watermark — streaming/__init__.py:session_window_agg). Oracle:
    the classic lag+cumsum islands computation."""
    from seatunnel_spark.streaming import session_window_agg

    e = _t(spark, sf_dir, "events")
    out = session_window_agg(e, "ts", "30 minutes", ["user_id"],
                             {"n": "count(1)", "sv": "round(sum(value), 2)"})
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("ss"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("se"),
        "n", "sv",
    )


def stream_dedup_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (streaming/__init__.py:stream_dedup,
    dropDuplicatesWithinWatermark on streams): the events feed is
    doubled to simulate at-least-once redelivery, then deduped by
    event_id — duplicates are identical rows, so the surviving row is
    deterministic and DuckDB replays it as DISTINCT."""
    from seatunnel_spark.streaming import stream_dedup

    e = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type")
    doubled = e.union(e)
    return stream_dedup(doubled, ["event_id"], "ts", "10 minutes").select(
        "event_id", "user_id", "event_type")


def stream_interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (streaming/__init__.py:
    stream_interval_join): clicks pair with the same user's purchases
    within the next 30 minutes — watermarked, state-bounded on streams;
    identical plan on the batch frame here, so DuckDB replays it."""
    from seatunnel_spark.streaming import stream_interval_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"), F.col("event_id").alias("click_id"))
    buys = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("bts"), F.col("event_id").alias("buy_id"))
    out = stream_interval_join(clicks, buys, ["user_id"], "cts", "bts",
                               "0 seconds", "30 minutes")
    return out.select(clicks["user_id"], "click_id", "buy_id")


def stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ordered funnel signup -> click -> purchase
    (streaming/__init__.py:stream_funnel_state + dataops/analytics.py:
    funnel_finish): the per-user state is a pure conditional-min
    aggregation — mergeable, so a readStream maintains it
    incrementally and bit-identically to batch in any arrival order
    (equivalence proven in tests/test_streaming.py); the readout folds
    |users| rows. Identical code path on the batch frame here, so
    DuckDB replays it."""
    from seatunnel_spark.dataops.analytics import funnel_finish
    from seatunnel_spark.streaming import stream_funnel_state

    e = _t(spark, sf_dir, "events")
    steps = ["signup", "click", "purchase"]
    state = stream_funnel_state(e, "user_id", "ts", "event_type", steps)
    return funnel_finish(state, steps)


def stream_hll_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming daily-active-users sketch (streaming/__init__.py:
    stream_hll_dau + dataops/sketches.py:hll_estimate): per-day HLL
    registers via a pure per-register MAX — mergeable, so a
    readStream maintains them incrementally (complete/update mode)
    or a foreachBatch store (hll_register_sink) MAX-merges per-batch
    increments with NO streaming state, bit-identically to one batch
    build in any arrival order (equivalence proven in
    tests/test_streaming.py). Identical code path on the batch frame
    here; the oracle replays registers and the exact-integer
    estimator per day."""
    from seatunnel_spark.dataops.sketches import hll_estimate
    from seatunnel_spark.streaming import stream_hll_dau as _shd

    e = _t(spark, sf_dir, "events")
    return hll_estimate(_shd(e, "ts", "user_id", p=8), ["day"], p=8)


def stream_ddsketch_daily(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """Streaming daily quantile sketch (streaming/__init__.py:
    stream_ddsketch + dataops/sketches.py:
    ddsketch_quantiles_grouped): per-day DDSketch bucket counts via
    a pure ADDITIVE aggregation — addition IS the sketch merge, so a
    readStream maintains them incrementally or a foreachBatch store
    (ddsketch_register_sink) add-merges per-batch increments with NO
    streaming state, bit-identically to one batch build in any
    arrival order (tests/test_streaming.py). Identical code path on
    the batch frame here -> daily p50/p95 of event value; the oracle
    replays bucketing and the rank walk per day."""
    from seatunnel_spark.dataops.sketches import (
        ddsketch_quantiles_grouped)
    from seatunnel_spark.streaming import stream_ddsketch as _sdd

    e = _t(spark, sf_dir, "events")
    return ddsketch_quantiles_grouped(
        _sdd(e, "ts", "value"), ["day"], [0.5, 0.95])


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue between two nations by shipping year —
    a six-table join where BOTH ends need a nation lookup. The two
    nation dims (25 rows, fixed size) are broadcast so the only
    shuffles are the lineitem->orders->customer equi-joins, which AQE
    plans; the nation-pair filter is applied post-broadcast-join at
    scan speed, so no fact-table row survives past its first join
    unless a filtered nation matched."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    n1 = F.broadcast(n.select(F.col("n_nationkey").alias("s_nk"),
                              F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(n.select(F.col("n_nationkey").alias("c_nk"),
                              F.col("n_name").alias("cust_nation")))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(n1, F.col("s_nationkey") == F.col("s_nk"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n2, F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): a HAVING-subquery —
    orders whose lineitems total > 200 units — joined back to
    customer+orders+lineitem. The qualifying-key set comes from ONE
    map-side-combined aggregation of lineitem (sum per orderkey,
    filter) and feeds a semi join; at 100 TB the subquery output is
    the rare tail (<5% of orders), so the second lineitem pass joins
    against a small build side instead of re-shuffling the fact table
    twice at full width."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("__q"))
           .filter(F.col("__q") > 200)
           .select("l_orderkey"))
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", F.col("o_orderkey"),
                 F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
                 F.round("o_totalprice", 2).alias("total_price"))
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
    )


def q_cust_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers above the (scalar-subquery) average
    positive balance who have NEVER ordered, rolled up by nation. The
    scalar aggregate is a one-row broadcast cross join (no collect);
    the existence check is a left-anti join on o_custkey (here:
    "never placed an URGENT order", so the result is non-trivial on
    this data). At scale the anti join's build side is the filtered
    customer-key projection of orders — filter + column pruning both
    reach the scan."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    avg_bal = (c.filter(F.col("c_acctbal") > 0)
               .agg(F.round(F.avg("c_acctbal"), 4).alias("__avg")))
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .join(o.filter(F.col("o_orderpriority") == "1-URGENT")
               .select("o_custkey"),
              c.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").cast("int").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("numcust"),
             F.round(F.sum("c_acctbal"), 2).alias("totacctbal"))
    )


def q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-fill + LOCF (dataops/timeseries.py:
    gapfill_daily): daily value sums per event type over a dense
    day spine, missing days forward-filled from the last observed
    value. One map-side-combined agg of the event table; the spine and
    fill windows are |types| x |days| — independent of event count."""
    from seatunnel_spark.dataops.timeseries import gapfill_daily

    e = _t(spark, sf_dir, "events")
    out = gapfill_daily(e, "ts", ["event_type"], "round(sum(value), 6)")
    return out.select(
        "event_type", F.date_format("day", "yyyy-MM-dd").alias("day"),
        "day_value", "filled_value", "had_data")


def decontam_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination (dataops/decontam.py:
    flag_contaminated_bloom): a fixed 512 KiB bitmap broadcast +
    vectorized Arrow probe prunes corpus grams before the exact
    confirm join — EXACT same answer as decontam_ngram (same oracle),
    built for benchmark gram sets too wide to broadcast as strings."""
    from seatunnel_spark.dataops.decontam import flag_contaminated_bloom

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    return flag_contaminated_bloom(d, bench, n=13)


def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters (dataops/text.py:heavy_hitters):
    per-partition Misra-Gries candidate summaries (<= capacity tokens
    per partition ever leave the scan) + an exact recount of only the
    candidates — the full vocabulary never shuffles. capacity=None
    auto-sizes from a one-row sum(length(text)) aggregate so that
    capacity >= N_tokens/min_count ALWAYS holds — the Misra-Gries
    no-false-negative bound is enforced in code at every SF, making
    the result exactly the true >= min_count set by construction, not
    by Zipfian luck."""
    from seatunnel_spark.dataops.text import heavy_hitters

    d = _t(spark, sf_dir, "documents")
    return heavy_hitters(d, "text", min_count=50)


def sample_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k deterministic uniform sample per source domain
    (dataops/sampling.py:group_sample_topk). Priorities are md5 hex
    strings — no RNG, no float math — and the two-phase salted window
    keeps a hot domain from funneling through one task."""
    from seatunnel_spark.dataops.sampling import group_sample_topk

    d = _t(spark, sf_dir, "documents")
    out = group_sample_topk(d, "source", k=10, id_col="doc_id")
    return out.select("source", "doc_id", "sample_rank")


def text_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch build + point queries (dataops/text.py:
    cms_build/cms_estimate): 4x4096 counters from ONE corpus scan,
    probed for every token of a small fixed probe set. est >= true
    always; the sketch is a bounded shuffle regardless of corpus
    size and the probe join broadcasts the sketch."""
    from seatunnel_spark.dataops.text import cms_build, cms_estimate

    d = _t(spark, sf_dir, "documents")
    cms = cms_build(d, "text")
    probes = (d.filter(F.col("doc_id") % 199 == 0)
              .select(F.explode(F.split(F.trim(F.lower("text")), r"\s+"))
                      .alias("token"))
              .filter(F.col("token") != "")
              .distinct())
    return cms_estimate(cms, probes)


def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocations (dataops/text.py:collocations): adjacent word
    pairs co-occurring far above independence — phrase mining for
    tokenizer merge lists. One tokenize pass, vocabulary-sized
    shuffles, scalar totals on 1-row broadcasts."""
    from seatunnel_spark.dataops.text import collocations

    d = _t(spark, sf_dir, "documents")
    return collocations(d, "text", min_count=5)


def q_pagerank_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over a PERSISTED bucketed edge list (dataops/graph.py:
    write_bucketed_edges + pagerank_on_bucketed): the same symmetrized
    customer<->supplier graph and arithmetic as q_pagerank (identical
    oracle), but the edge list is written bucketed by source ONCE and
    every iteration's degree/rank join reads it pre-partitioned — zero
    edge-side exchange per iteration (plan-tested). At 100 TB this is
    the form that wins: the graph pays one shuffle at write time and
    never moves again across any number of iterations or jobs."""
    from seatunnel_spark.dataops.graph import (pagerank_on_bucketed,
                                               write_bucketed_edges)

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    jp = (li.join(o, li.l_orderkey == o.o_orderkey)
          .select(o.o_custkey.alias("c"), li.l_suppkey.alias("s"))
          .distinct())
    j = jp.select(F.concat(F.lit("c"), F.col("c")).alias("src"),
                  F.concat(F.lit("s"), F.col("s")).alias("dst"))
    edges = j.union(
        j.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    write_bucketed_edges(edges, "st_pr_edges", dedupe=False)
    return pagerank_on_bucketed(spark, "st_pr_edges", iters=2)


def q_triangles_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over a PERSISTED bucketed edge list
    (dataops/graph.py:triangles_on_bucketed): the same support>=2
    co-purchase graph and count as q_triangles (identical oracle), but
    the canonical edges are written bucketed by source ONCE — the
    wedge self-join then plans with ZERO exchange and zero sort (both
    sides are the same bucketed+sorted scan; plan-tested), and the
    close join shuffles only wedge rows. At 100 TB the graph pays one
    shuffle at write time and never moves again — the triangle-family
    analog of q_pagerank_bucketed."""
    from seatunnel_spark.dataops.analytics import copurchase_pairs
    from seatunnel_spark.dataops.graph import (triangles_on_bucketed,
                                               write_bucketed_edges)

    li = _t(spark, sf_dir, "lineitem")
    edges = copurchase_pairs(li, "l_orderkey", "l_partkey",
                             min_support=2).select("p1", "p2")
    write_bucketed_edges(edges, "st_tri_edges", src="p1", dst="p2",
                         dedupe=False)
    return triangles_on_bucketed(spark, "st_tri_edges")


def q_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout round trip (plans/zorder.py: zorder_key +
    write_zordered): lineitem rewritten Morton-ordered on
    (l_partkey, l_suppkey), then a selective 2-d box filter over the
    re-read copy. Results are byte-identical to filtering the original
    table (layout moves rows, never changes them) — which is exactly
    what the oracle checks; the pruning property (per-FILE min-max
    ranges narrow in BOTH dimensions, so the box skips most files) is
    asserted from parquet footer stats in tests/test_plans.py. Revenue
    is summed in DECIMAL so the rounded cent is partition-order-
    independent."""
    from seatunnel_spark.plans.zorder import write_zordered

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice")
    path = "/tmp/st_zorder_lineitem"
    write_zordered(li, path, ["l_partkey", "l_suppkey"], num_files=16)
    z = spark.read.parquet(path)
    rev = F.col("l_extendedprice").cast("decimal(18,4)")
    return (z.filter((F.col("l_partkey") <= 500)
                     & (F.col("l_suppkey") <= 20))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.round(F.sum(rev), 2).cast("double").alias("revenue")))


def q_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (dataops/sketches.py:ddsketch_build/
    ddsketch_merge/ddsketch_quantiles — DDSketch, PVLDB'19): price
    quantiles from TWO independently-built sketches (even/odd order
    halves) merged by summing bucket counts — the estimate is
    IDENTICAL to a whole-table build (the defining mergeable-sketch
    property, which is why the oracle builds once over everything).
    Each build is one map-side-combined groupBy over ~240 (kind, idx)
    buckets; the quantile walk runs on the few-hundred-row sketch.
    Every estimate is within relative error alpha=1% of the true
    quantile — the scale story exact percentile() (a full sort per
    group) cannot offer at 100 TB."""
    from seatunnel_spark.dataops.sketches import (ddsketch_build,
                                                  ddsketch_merge,
                                                  ddsketch_quantiles)

    li = _t(spark, sf_dir, "lineitem")
    s_even = ddsketch_build(li.filter(F.col("l_orderkey") % 2 == 0),
                            "l_extendedprice")
    s_odd = ddsketch_build(li.filter(F.col("l_orderkey") % 2 == 1),
                           "l_extendedprice")
    merged = ddsketch_merge(s_even, s_odd)
    return ddsketch_quantiles(merged, [0.5, 0.9, 0.95, 0.99])


def q_ddsketch_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quantiles from a grouped DDSketch (dataops/
    sketches.py:ddsketch_build_grouped/ddsketch_quantiles_grouped):
    median + p95 of price per returnflag. The shuffle carries at most
    |groups| x n_buckets (kind, idx) keys — never the raw values —
    where exact per-group percentile() is a full sort-based
    aggregation buffering every group member; the error is bounded at
    alpha=1% relative. The quantile walk runs on the few-hundred-row
    grouped sketch."""
    from seatunnel_spark.dataops.sketches import (
        ddsketch_build_grouped, ddsketch_quantiles_grouped)

    li = _t(spark, sf_dir, "lineitem")
    sk = ddsketch_build_grouped(li, ["l_returnflag"], "l_extendedprice")
    return ddsketch_quantiles_grouped(sk, ["l_returnflag"], [0.5, 0.95])


def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training pair counts (dataops/text.py:
    bpe_pair_counts — Sennrich et al., ACL 2016): adjacent-symbol
    frequencies over the character vocabulary with `</w>` end-of-word
    markers, weighted by word frequency. The corpus collapses to its
    word VOCABULARY first (one map-side-combined shuffle); the pair
    expansion runs on |vocab| rows — why BPE training is feasible at
    100 TB. The full merge loop (bpe_learn) is validated against a
    pure-Python reference trainer in tests; this entry oracle-checks
    the aggregation each round repeats."""
    from seatunnel_spark.dataops.text import bpe_pair_counts

    d = _t(spark, sf_dir, "documents")
    return bpe_pair_counts(d, "text")


# Fixed BPE merge table for the encode queries — a literal tokenizer
# artifact (rank order matters), shared verbatim by the Spark query
# and the DuckDB oracle the way sim_ivf_topk shares its codebook.
# bpe_learn->bpe_encode consistency is property-tested in
# tests/test_dataops.py; the oracle checks the ENCODE arithmetic.
_BPE_FIXED_MERGES = [
    ("e", "</w>"), ("t", "a"), ("ta", "b"), ("tab", "l"),
    ("tabl", "e</w>"), ("a", "</w>"), ("s", "p"), ("sp", "a"),
]


def _bpe_oracle_enc_expr() -> str:
    """DuckDB expression replaying bpe_encode's merge chain on a
    column `word`: the chr(31)+sym+chr(30) self-delimited encoding,
    then one literal replace() per merge in rank order — DuckDB's
    replace is the same non-overlapping left-to-right scan as
    Spark's, so the chain is bit-identical (see
    seatunnel_spark/dataops/text.py:bpe_encode)."""
    e = ("chr(31) || array_to_string(string_split(word, ''), "
         "chr(30)||chr(31)) || chr(30) || chr(31) || '</w>' || chr(30)")
    for a, b in _BPE_FIXED_MERGES:
        pat = f"chr(31)||'{a}'||chr(30)||chr(31)||'{b}'||chr(30)"
        rep = f"chr(31)||'{a}{b}'||chr(30)"
        e = f"replace({e}, {pat}, {rep})"
    return e


def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer ENCODE (dataops/text.py:bpe_encode — the half a
    training pipeline runs at 100 TB): apply a fixed merge table in
    rank order, each merge exhaustively leftmost-first, and return
    corpus token frequencies (token, cnt). The corpus collapses to
    its distinct-word vocabulary first; each merge is ONE literal
    string replace on a self-delimited symbol encoding — pure
    codegen, zero UDF. The oracle replays the identical replace chain
    (DuckDB's replace is the same non-overlapping left-to-right
    scan)."""
    from seatunnel_spark.dataops.text import bpe_token_counts

    d = _t(spark, sf_dir, "documents")
    return bpe_token_counts(d, _BPE_FIXED_MERGES)


def text_bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BPE token budget (dataops/text.py:
    bpe_encode_docs): docs exploded to words meet the vocab-sized
    word->n_tokens dictionary (AQE broadcasts it), then one map-side-
    combined per-doc rollup -> (doc_id, n_words, n_tokens) — what
    pack_docs consumes for token-budget packing."""
    from seatunnel_spark.dataops.text import bpe_encode_docs

    d = _t(spark, sf_dir, "documents")
    return bpe_encode_docs(d, _BPE_FIXED_MERGES)


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event values
    (dataops/timeseries.py:ewma_last): one entity shuffle collects the
    (ts, event_id)-sorted series, then a pure-codegen LEFT fold —
    O(n) per entity, no UDF, no window over raw events. The oracle
    replays the identical fold with DuckDB's list_reduce over the
    identically-sorted list (same IEEE op sequence), so the value
    hash is exact."""
    from seatunnel_spark.dataops.timeseries import ewma_last

    e = _t(spark, sf_dir, "events")
    return ewma_last(e, "user_id", "ts", "event_id", "value",
                     alpha=0.1)


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog (dataops/sketches.py:hll_build_grouped
    + hll_estimate — Flajolet et al. 2007): per-event-type distinct
    event_id estimates from a PERSISTABLE 2^p-row register table (the
    mergeable cross-job artifact Spark's approx_count_distinct never
    exposes), alongside the exact distinct and the relative error.
    Register split is at md5 hex-digit boundaries and rho uses
    bin()-length integer arithmetic, so DuckDB replays the registers
    AND the estimator bit-for-bit (the harmonic sum is an exact
    integer; the only float step is one literal/sum division)."""
    from seatunnel_spark.dataops.sketches import (hll_build_grouped,
                                                  hll_estimate)

    e = _t(spark, sf_dir, "events")
    est = hll_estimate(
        hll_build_grouped(e, ["event_type"], "event_id", p=8),
        ["event_type"], p=8)
    exact = e.groupBy("event_type").agg(
        F.count_distinct("event_id").alias("exact_distinct"))
    return (est.join(exact, "event_type")
            .select("event_type", "est", "exact_distinct",
                    F.round(F.abs(F.col("est") - F.col("exact_distinct"))
                            / F.col("exact_distinct"), 4)
                    .alias("err_frac")))


def q_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL mergeability as a query (dataops/sketches.py:hll_merge):
    two half-corpus sketches (even/odd event_id) merged by per-register
    MAX give BIT-IDENTICAL registers — hence the identical estimate —
    to one build over everything: the fold-partial-sketches-later
    pattern a 100 TB pipeline runs per day/source/shard. Output is the
    merged estimate next to the single-build estimate; the oracle
    recomputes both paths."""
    from seatunnel_spark.dataops.sketches import (hll_build,
                                                  hll_estimate, hll_merge)

    e = _t(spark, sf_dir, "events")
    a = hll_build(e.filter(F.col("event_id") % 2 == 0), "event_id", p=8)
    b = hll_build(e.filter(F.col("event_id") % 2 == 1), "event_id", p=8)
    merged = hll_estimate(hll_merge(a, b), [], p=8) \
        .select(F.col("est").alias("est_merged"))
    single = hll_estimate(hll_build(e, "event_id", p=8), [], p=8) \
        .select(F.col("est").alias("est_single"))
    return merged.join(single).select(
        "est_merged", "est_single",
        (F.col("est_merged") == F.col("est_single")).alias("identical"))


def q_hll_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap from sketches (dataops/sketches.py:
    hll_intersect_estimate): |A∩B| by inclusion-exclusion over two
    persisted HLL register tables plus their per-register-MAX union
    merge — the overlap question two saved sketches answer without
    rescanning either corpus. A = events of even users, B = events
    with event_id % 3 > 0 (overlapping by construction); the exact
    intersection rides along for the error readout. The oracle
    replays all three register builds AND the estimator bit-for-bit
    (same exact-integer harmonic sum as q_hll_distinct)."""
    from seatunnel_spark.dataops.sketches import (hll_build,
                                                  hll_intersect_estimate)

    e = _t(spark, sf_dir, "events")
    a = hll_build(e.filter(F.col("user_id") % 2 == 0), "event_id", p=8)
    b = hll_build(e.filter(F.col("event_id") % 3 > 0), "event_id", p=8)
    exact = (e.filter((F.col("user_id") % 2 == 0)
                      & (F.col("event_id") % 3 > 0))
             .agg(F.count_distinct("event_id")
                  .alias("exact_intersection")))
    return hll_intersect_estimate(a, b, p=8).join(exact)


def web_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup (dataops/web.py:url_dedup_groups): messy
    absolute URLs (mixed-case scheme/host, www, default ports,
    trailing slashes, tracking params, fragments — synthesized
    deterministically from documents so both engines see identical
    inputs) collapse to canonical form, then one map-side-combined
    groupBy yields the crawl-dedup ledger (canon_url, n_docs,
    keeper_id). Canonicalization is a zero-shuffle codegen chain:
    regexp part extraction + in-row filter/sort of query params."""
    from seatunnel_spark.dataops.web import url_dedup_groups

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    url = F.concat(
        F.when(i % 2 == 0, F.lit("HTTPS://WWW.")).otherwise(
            F.lit("https://")),
        F.col("source"), F.lit(".example.com"),
        F.when(i % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Articles/"), (i % 37).cast("string"),
        F.when(i % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?z=2&utm_source=feed&id="), (i % 5).cast("string"),
        F.when(i % 6 == 0, F.lit("&fbclid=abc")).otherwise(F.lit("")),
        F.lit("#frag"),
    )
    return url_dedup_groups(d.select("doc_id", url.alias("url")),
                            "url", "doc_id")


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch attribution (dataops/analytics.py:
    touch_attribution): every purchase credited with the touches in
    its segment (events since the previous purchase), deterministic
    under equal timestamps via the (ts, event_id) order. One
    entity-keyed shuffle; struct-ordered min_by/max_by — no
    touch×conversion pair join, so hot entities cost n, not n²."""
    from seatunnel_spark.dataops.analytics import touch_attribution

    e = _t(spark, sf_dir, "events")
    return touch_attribution(e, "user_id", "ts", "event_type",
                             "purchase", "event_id")


def q_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS (dataops/analytics.py:grouped_ols): discounted
    revenue regressed on quantity per returnflag — the fit-a-line-
    per-segment primitive with exactly one map-side-combined shuffle
    (five sums per group, closed form after); no ML runtime."""
    from seatunnel_spark.dataops.analytics import grouped_ols

    return grouped_ols(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag"],
        "l_quantity", "l_extendedprice * (1 - l_discount)")


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew pre-flight (dataops/skew.py:skew_report) on
    lineitem.l_partkey — hot-key shares, per-key skew_ratio (× the
    average reducer load), and normalized key entropy: the numbers
    that decide between a plain join, salted_join, and a hot-key cap
    BEFORE the shuffle runs. One count per key, distributed
    TakeOrdered head, entropy folded in the same aggregate pass."""
    from seatunnel_spark.dataops.skew import skew_report

    return skew_report(_t(spark, sf_dir, "lineitem"), "l_partkey",
                       top=10)


def q_rolling_dau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day DAU from MERGED DAILY SKETCHES (dataops/
    sketches.py:hll_rolling_estimate): the event log is scanned once
    into |days|x256 registers; every window width is then a
    re-window of that persisted table (per-register trailing MAX) —
    where the exact q_rolling_dau must re-shuffle (day, user) pairs
    per width. The oracle replays registers, the dense day-spine, the
    trailing merge, and the exact-integer estimator."""
    from seatunnel_spark.dataops.sketches import hll_rolling_estimate

    e = _t(spark, sf_dir, "events")
    return hll_rolling_estimate(e, "ts", "user_id", window_days=7,
                                p=8)


def q_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag median + MAD of extended price (dataops/
    analytics.py:group_mad): robust dispersion via two exact
    interpolated percentiles; the |groups|-row medians broadcast back,
    the fact table never shuffles."""
    from seatunnel_spark.dataops.analytics import group_mad

    li = _t(spark, sf_dir, "lineitem")
    return group_mad(li, "l_returnflag", "l_extendedprice")


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules on co-ordered part pairs (dataops/
    analytics.py:association_rules): confidence both directions +
    lift vs independence; marginals off the same distinct
    (order, part) projection."""
    from seatunnel_spark.dataops.analytics import association_rules

    li = _t(spark, sf_dir, "lineitem")
    return association_rules(li, "l_orderkey", "l_partkey",
                             min_support=3)


def q_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair support (dataops/analytics.py:
    copurchase_pairs): part pairs co-ordered >= 2 times. Pairs are
    generated INSIDE each basket's sorted item array (collect_set →
    index-aware transform/flatten) — two map-side-combined shuffles
    total, no basket self-join, fan-out bounded by basket size
    (measured 2.4x over the keyed self-join form at sf1)."""
    from seatunnel_spark.dataops.analytics import copurchase_pairs

    li = _t(spark, sf_dir, "lineitem")
    return copurchase_pairs(li, "l_orderkey", "l_partkey", min_support=2)


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count (dataops/analytics.py:triangle_count)
    over the support>=2 co-purchase graph — the canonical two-shuffle
    wedge-close plan; each a<b<c triangle counted exactly once."""
    from seatunnel_spark.dataops.analytics import (copurchase_pairs,
                                                   triangle_count)

    li = _t(spark, sf_dir, "lineitem")
    edges = copurchase_pairs(li, "l_orderkey", "l_partkey",
                             min_support=2).select("p1", "p2")
    return triangle_count(edges)


def q_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-day distinct users per day (dataops/
    analytics.py:rolling_distinct): the contribute-forward inversion
    of windowed COUNT DISTINCT — explode each (user, day) into its 7
    target days; every shuffle map-side-combined, no window over raw
    events."""
    from seatunnel_spark.dataops.analytics import rolling_distinct

    e = _t(spark, sf_dir, "events")
    return rolling_distinct(e, "user_id", "ts", window_days=7)


def q_clustering_coef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient (dataops/analytics.py:
    clustering_coefficient) over the support>=2 co-purchase graph:
    triangles per vertex / (deg choose 2); degree-1 vertices have no
    wedges and are excluded."""
    from seatunnel_spark.dataops.analytics import (
        clustering_coefficient, copurchase_pairs)

    li = _t(spark, sf_dir, "lineitem")
    edges = copurchase_pairs(li, "l_orderkey", "l_partkey",
                             min_support=2).select("p1", "p2")
    return clustering_coefficient(edges)


def emb_covariance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass population covariance of the embedding column
    (dataops/embeddings.py:emb_covariance — the PCA/whitening
    primitive): Arrow-batched per-partition (n, Σx, Σxxᵀ) partials,
    shuffle carries n_partitions × d² numbers never N × d²; float64
    accumulation from exact float32 widening."""
    from seatunnel_spark.dataops.embeddings import emb_covariance

    e = _t(spark, sf_dir, "embeddings")
    return emb_covariance(e, "embedding")


def dq_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (dataops/profile.py:dq_checks):
    four rules — text present, doc_id unique, length in range, lang
    in whitelist — ALL evaluated in one aggregation pass over one
    scan; nulls explicitly fail rate rules."""
    from seatunnel_spark.dataops.profile import dq_checks

    d = _t(spark, sf_dir, "documents")
    return dq_checks(d, [
        {"name": "text_present", "kind": "rate",
         "expr": "text IS NOT NULL AND length(trim(text)) > 0",
         "min": 0.99},
        {"name": "doc_id_unique", "kind": "unique",
         "col": "doc_id", "min": 1.0},
        {"name": "len_in_range", "kind": "rate",
         "expr": "n_chars BETWEEN 1 AND 100000", "min": 0.999},
        {"name": "lang_whitelist", "kind": "rate",
         "expr": "lang IN ('en','de','fr','es','it')", "min": 0.5},
    ])


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority) with GROUPING flags — the full
    2^n grouping-set powerset (rollup only does prefixes). Spark
    expands grouping sets in a single Expand + one map-side-combined
    aggregation; no per-set re-scan."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.grouping("o_orderstatus").cast("int").alias("g_status"),
             F.grouping("o_orderpriority").cast("int").alias("g_prio"),
             F.count(F.lit(1)).alias("n"),
             F.round(F.sum("o_totalprice"), 2).alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("prio"),
            "g_status", "g_prio", "n", "total",
        )
    )


def q_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long unpivot (DataFrame.unpivot/melt) + per-measure
    stats: the reshape every metrics pipeline needs before generic
    per-measure processing. Spark compiles unpivot to a single Expand
    over one scan (same machinery as cube) — row count multiplies by
    the measure count but nothing re-scans; the stats aggregation
    map-side combines."""
    li = _t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ["l_returnflag"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure", "value")
    return (long.groupBy("l_returnflag", "measure")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("value"), 4).alias("avg_v"),
                 F.round(F.min("value"), 4).alias("min_v"),
                 F.round(F.max("value"), 4).alias("max_v")))


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the arbitrary-set generalization rollup
    and cube are sugar for; Spark 4 DataFrame groupingSets API):
    status-only, priority-only, and grand-total sets in a single
    Expand + one map-side-combined aggregation — no per-set rescan.
    grouping() flags disambiguate set-NULLs from data NULLs."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupingSets([["o_orderstatus"], ["o_orderpriority"], []],
                       "o_orderstatus", "o_orderpriority")
        .agg(F.grouping("o_orderstatus").cast("int").alias("g_status"),
             F.grouping("o_orderpriority").cast("int").alias("g_prio"),
             F.count(F.lit(1)).alias("n"),
             F.round(F.sum("o_totalprice"), 2).alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("prio"),
            "g_status", "g_prio", "n", "total",
        )
    )


def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-nation quintile scores for recency /
    frequency / monetary. The ntile windows run over the CUSTOMER-
    level aggregate (orders-of-magnitude smaller than the fact table)
    and are PARTITIONED by nation, so no global single-task sort
    exists anywhere; ties order by c_custkey for engine-deterministic
    buckets."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    agg = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("recency"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"))
    j = agg.join(c, agg.o_custkey == c.c_custkey)

    def quintile(col: str):
        w = Window.partitionBy("c_nationkey").orderBy(col, "c_custkey")
        return F.ntile(5).over(w)

    return (j.select(
        "c_custkey", "c_nationkey",
        quintile("recency").alias("r_score"),
        quintile("frequency").alias("f_score"),
        quintile("monetary").alias("m_score"))
        .withColumn("rfm_cell",
                    (F.col("r_score") * 100 + F.col("f_score") * 10
                     + F.col("m_score")).cast("int")))


def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted exactly-k sample per source domain
    (dataops/sampling.py:weighted_sample_topk — Efraimidis–Spirakis
    A-ES keys u^(1/w) from md5-derived uniforms): P(pick) ∝ n_chars,
    no RNG, replays bit-identically in any engine."""
    from seatunnel_spark.dataops.sampling import weighted_sample_topk

    d = _t(spark, sf_dir, "documents")
    out = weighted_sample_topk(d, "source", k=10, weight_col="n_chars",
                               id_col="doc_id")
    return out.select("source", "doc_id", "n_chars", "sample_rank")


def dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-confirmed near-dup pairs (dataops/dedup.py:
    fuzzy_dup_pairs): prefix-blocked candidates confirmed by Spark's
    banded THRESHOLD levenshtein — the sequence-order-sensitive
    complement to the minhash/simhash set family. Hot prefix blocks
    capped, so the per-block self-join is bounded at any corpus
    size."""
    from seatunnel_spark.dataops.dedup import fuzzy_dup_pairs

    d = _t(spark, sf_dir, "documents")
    # max_bucket=None here so the DuckDB oracle is EXACT at any scale
    # factor (the production default caps hot prefix blocks, which an
    # oracle without the cap would diverge from on a corpus where
    # > max_bucket distinct texts share a 4-word prefix)
    return fuzzy_dup_pairs(d, "doc_id", "text", max_bucket=None)


def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score anomalies (dataops/analytics.py:
    zscore_outliers): the |groups|-row stats table broadcasts back
    onto the event log — the fact table itself never shuffles (plan-
    tested), unlike the window formulation which sorts every event
    per group."""
    from seatunnel_spark.dataops.analytics import zscore_outliers

    e = _t(spark, sf_dir, "events")
    out = zscore_outliers(e, "event_type", "value", threshold=2.5)
    return out.select("event_id", "event_type", "value", "z")


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of l_extendedprice (dataops/analytics.py:
    equiwidth_histogram): the [min,max] span is a 1-row broadcast —
    never a collect — and the count shuffle carries at most
    n_bins x n_partitions partial rows."""
    from seatunnel_spark.dataops.analytics import equiwidth_histogram

    li = _t(spark, sf_dir, "lineitem")
    return equiwidth_histogram(li, "l_extendedprice", n_bins=20)


def q_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP sequence matching (dataops/analytics.py:
    event_pattern_match): users with >= 3 CONSECUTIVE errors — an
    adjacency+repetition shape funnel()'s min-ts ordering can't
    express. One event-log shuffle on user; regex per entity,
    JVM-side; (ts, event_id) tiebreak makes matches deterministic.
    The in-code max_events guard (default 100k) drops degenerate bot
    entities before any sequence buffer materializes — a no-op on
    this data (max per-user count ~100), so the oracle is unchanged."""
    from seatunnel_spark.dataops.analytics import event_pattern_match

    e = _t(spark, sf_dir, "events")
    return event_pattern_match(e, r"error( error){2}")


def text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source content originality (dataops/text.py:source_novelty):
    the share of each source's docs that are the corpus-wide FIRST
    occurrence of their content — mirrors and aggregators score low.
    One 16-byte digest shuffle (the exact-dedup aggregation); the
    first-owner join reuses the digest partitioning."""
    from seatunnel_spark.dataops.text import source_novelty

    d = _t(spark, sf_dir, "documents")
    return source_novelty(d)


def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law digit audit of prices (dataops/profile.py:
    benford_check): observed leading-digit shares vs log10(1+1/d) —
    the forensic screen for fabricated/truncated feeds. Leading digit
    via the round-guarded log trick (engine-replayable); one 9-row
    map-side-combined aggregation over one scan."""
    from seatunnel_spark.dataops.profile import benford_check

    li = _t(spark, sf_dir, "lineitem")
    return benford_check(li, "l_extendedprice")


def text_lm_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score (dataops/text.py:bigram_logprob): mean
    log p(b|a) per doc under the corpus's own add-alpha bigram model —
    the CCNet-filter step above text_lm_score's unigram: token-salad
    text scores fluent under unigrams but collapses here. One tokenize
    pass (shifted-slice arrays_zip, zero UDF); the bigram count table
    is Zipf-small and joins back on the key the per-doc fold needs."""
    from seatunnel_spark.dataops.text import bigram_logprob

    d = _t(spark, sf_dir, "documents")
    return bigram_logprob(d)


def q_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of daily event volume
    (dataops/timeseries.py:seasonal_decompose): trend = centered 7-day
    moving average, seasonal = centered mean detrended value per
    weekday phase, resid = what anomaly detection should actually
    alarm on. Events reduce to the |days|-row daily series in ONE
    map-side-combined shuffle; everything after is days/period-sized.
    Daily value is a COUNT (integer), so no partition-order-dependent
    double sum rides the hash compare."""
    from seatunnel_spark.dataops.timeseries import seasonal_decompose

    e = _t(spark, sf_dir, "events")
    return seasonal_decompose(e, "ts", "count(1)", period=7)


def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily event volume at lags 1..7
    (dataops/timeseries.py:acf — the biased Σ(x_t-m)(x_{t+l}-m)/Σ(x_t-m)²
    estimator): the seasonality fingerprint read before picking
    seasonal_decompose's period. Events collapse to the |days|-row
    series once; all 7 leads come from one window pass; daily value is
    a COUNT so the estimator sees deterministic integer inputs."""
    from seatunnel_spark.dataops.timeseries import acf

    e = _t(spark, sf_dir, "events")
    return acf(e, "ts", "count(1)", max_lag=7)


def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized CUSUM changepoint scan over daily event volume
    (dataops/timeseries.py:cusum_changepoint — Page 1954): S_t drifts
    after a mean shift; the max-|S| day (is_peak) is the ML
    changepoint estimate. Peak compare runs on the ROUNDED cusum so
    the flag is engine-stable; one shuffle to the daily series, then
    |days|-row windows and 1-row broadcasts only."""
    from seatunnel_spark.dataops.timeseries import cusum_changepoint

    e = _t(spark, sf_dir, "events")
    return cusum_changepoint(e, "ts", "count(1)")


def q_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt level+trend smoothing of daily event volume
    (dataops/timeseries.py:holt_linear) with 1-day and 7-day
    forecasts — the capacity-planning readout. Inherently sequential
    like EWMA, so the |days|-row series folds through one F.aggregate
    struct accumulator (pure codegen); the oracle replays the
    identical IEEE fold with DuckDB list_reduce over struct elements
    (the q_ewma discipline, upgraded to a 2-component state)."""
    from seatunnel_spark.dataops.timeseries import holt_linear

    e = _t(spark, sf_dir, "events")
    return holt_linear(e, "ts", "count(1)", alpha=0.3, beta=0.1)


def q_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly detection (dataops/timeseries.py:
    seasonal_anomalies): 3-sigma flags on the q_seasonal residuals —
    "is Sunday low because it's Sunday?" answered the way a raw
    z-score can't. Rounded-residual vs rounded-sigma compare keeps
    the flag engine-stable; the oracle extends the q_seasonal replay
    with one stddev_pop CTE."""
    from seatunnel_spark.dataops.timeseries import seasonal_anomalies

    e = _t(spark, sf_dir, "events")
    return seasonal_anomalies(e, "ts", "count(1)", period=7)


def q_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) histogram of prices (dataops/analytics.py:
    equidepth_histogram): 8 bins with edges at exact interpolated
    percentiles — near-equal counts per bin where equi-width piles the
    skewed mass into one bar. One percentile aggregation broadcast
    back, bin assignment at scan speed, bounded count shuffle."""
    from seatunnel_spark.dataops.analytics import equidepth_histogram

    li = _t(spark, sf_dir, "lineitem")
    return equidepth_histogram(li, "l_extendedprice", n_bins=8)


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (dataops/analytics.py:winsorize):
    prices clipped to their returnflag's exact [p05, p95] percentile
    bounds, summarized per group. One percentile aggregation broadcast
    back onto the scan; the clip is a codegen projection — the fact
    table never shuffles (the zscore/MAD broadcast-stats shape).
    Outputs are counts + rounded bounds, so the hash compare never
    rides a partition-order-dependent double sum."""
    from seatunnel_spark.dataops.analytics import winsorize

    li = _t(spark, sf_dir, "lineitem")
    w = winsorize(li, "l_returnflag", "l_extendedprice")
    return (w.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.max("clip_lo").alias("clip_lo"),
                 F.max("clip_hi").alias("clip_hi"),
                 F.sum((F.col("l_extendedprice_w")
                        == F.col("clip_lo")).cast("long"))
                 .alias("n_clipped_low"),
                 F.sum((F.col("l_extendedprice_w")
                        == F.col("clip_hi")).cast("long"))
                 .alias("n_clipped_high")))


def q_event_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event cadence (dataops/analytics.py:
    inter_event_stats): median + IQR of seconds between consecutive
    events — the bot/automation signal (machines have tight cadence)
    and the quantitative companion to q_event_pattern's max_events
    guard. One event-log shuffle; the percentile fold emits |users|
    rows."""
    from seatunnel_spark.dataops.analytics import inter_event_stats

    e = _t(spark, sf_dir, "events")
    return inter_event_stats(e)


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (dataops/analytics.py:event_transitions): how users
    actually move between states — the journey-analysis complement of
    q_funnel (fixed path) and q_event_pattern (declared shape). ONE
    event-log shuffle (the per-entity ordering window); pair counts
    and marginals are |event_types|²-sized, marginals broadcast."""
    from seatunnel_spark.dataops.analytics import event_transitions

    e = _t(spark, sf_dir, "events")
    return event_transitions(e)


def q_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the co-purchase graph (dataops/graph.py:
    degree_distribution) — the Σdeg² early-warning diagnostic every
    wedge-bound algorithm (q_triangles, q_clustering_coef) should be
    preceded by. Two map-side-combined aggregations; output is
    |distinct degrees| rows."""
    from seatunnel_spark.dataops.analytics import copurchase_pairs
    from seatunnel_spark.dataops.graph import degree_distribution

    li = _t(spark, sf_dir, "lineitem")
    edges = copurchase_pairs(li, "l_orderkey", "l_partkey",
                             min_support=2).select("p1", "p2")
    return degree_distribution(edges, "p1", "p2")


def q_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (dataops/graph.py:personalized_pagerank):
    teleport mass returns to a 5-customer seed set over the same
    symmetrized customer<->supplier graph as q_pagerank — ranks now
    measure proximity TO THE SEEDS (related-entity scoring,
    TrustRank), not global importance. Same one-shuffle-per-iteration
    shape plus a broadcast seed flag; the oracle unrolls both
    iterations with the seed-restart vector."""
    from seatunnel_spark.dataops.graph import personalized_pagerank

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    jp = (li.join(o, li.l_orderkey == o.o_orderkey)
          .select(o.o_custkey.alias("c"), li.l_suppkey.alias("s"))
          .distinct())
    j = jp.select(F.concat(F.lit("c"), F.col("c")).alias("src"),
                  F.concat(F.lit("s"), F.col("s")).alias("dst"))
    edges = j.union(
        j.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    seeds = (jp.filter(F.col("c") < 5)
             .select(F.concat(F.lit("c"), F.col("c")).alias("node"))
             .distinct())
    return personalized_pagerank(edges, seeds, iters=2, dedupe=False)


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (dataops/graph.py:hits — Kleinberg
    1999) over the DIRECTED customer->supplier purchase graph:
    authority scores suppliers by being bought from by broad
    customers, hub scores customers by buying from strong suppliers —
    the two-role scoring PageRank's single axis conflates on
    bipartite interaction data. Two fixed iterations with per-half-
    step L1 normalization + rounding (the pagerank replay
    convention); the oracle unrolls the identical arithmetic."""
    from seatunnel_spark.dataops.graph import hits

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    # distinct on the INTEGER key pair, then concat: the c/s-prefixed
    # mapping is injective, so the edge set is identical while the
    # distinct shuffles 8-byte ints instead of strings
    e = (li.join(o, li.l_orderkey == o.o_orderkey)
         .select(o.o_custkey.alias("ck"), li.l_suppkey.alias("sk"))
         .distinct()
         .select(F.concat(F.lit("c"), F.col("ck")).alias("src"),
                 F.concat(F.lit("s"), F.col("sk")).alias("dst")))
    return hits(e, iters=2, dedupe=False)


def q_rolling_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day p50/p95 from merged DAILY DDSketches (dataops/
    sketches.py:ddsketch_rolling_quantiles): one scan into per-day
    buckets, every window width a re-window of the persisted bucket
    table (count addition IS sketch merge) — the quantile twin of
    q_rolling_dau_hll, with the calendar-dense spine from day one.
    The oracle replays bucketing, the gapless spine, the trailing
    sum, and the type-1 rank walk."""
    from seatunnel_spark.dataops.sketches import ddsketch_rolling_quantiles

    e = _t(spark, sf_dir, "events")
    return ddsketch_rolling_quantiles(e, "ts", "value", window_days=7,
                                      qs=[0.5, 0.95])


def q_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record fusion (dataops/linkage.py:golden_records) over
    the q_record_linkage matches: link pairs become connected
    components (transitive fusion), then each field survives from the
    LATEST non-null (ord, id) row — the b-copy's fresher name wins,
    while the a-copy's acctbal fills the b-copy's nulled-on-%5 hole
    (stale non-null beats fresh null, field by field). The CC runs
    over EXACT-COLLAPSED representatives (linkage.link_dup_clusters:
    one rep per identical block+field tuple per side enters the pair
    join, members attach by star edges) — provably identical
    components, and within-cluster pair edges stay flat instead of
    quadratic when the corpus carries exact replicas. The oracle
    replays linkage, a recursive min-reachability CC, and arg_max
    survivorship."""
    from seatunnel_spark.dataops.linkage import (golden_records,
                                                 link_dup_clusters)

    c = _t(spark, sf_dir, "customer")
    blk2 = F.substring(F.lower(F.col("c_name")), -1, 1)
    a = c.select(F.col("c_custkey").alias("ida"),
                 F.lower(F.col("c_name")).alias("name"),
                 F.col("c_acctbal").alias("bal"),
                 F.col("c_mktsegment").alias("seg"),
                 F.col("c_nationkey"), blk2.alias("blk2"))
    b = c.select((F.col("c_custkey") + 1_000_000).alias("idb"),
                 F.when(F.col("c_custkey") % 7 == 0,
                        F.upper(F.col("c_name")))
                 .otherwise(F.lower(F.col("c_name"))).alias("name"),
                 F.when(F.col("c_custkey") % 5 == 0, F.lit(None))
                 .otherwise(F.col("c_acctbal")).alias("bal"),
                 F.col("c_mktsegment").alias("seg"),
                 F.col("c_nationkey"), blk2.alias("blk2"))
    fields = {"name": (0.95, 0.001), "bal": (0.9, 0.0005),
              "seg": (0.9, 0.2)}
    clusters = link_dup_clusters(a, b, "ida", "idb",
                                 ["c_nationkey", "blk2"],
                                 fields, threshold=5.0,
                                 max_pairs=2_000_000,
                                 on_oversize="split", split_col="bal")
    records = (a.select(F.col("ida").alias("id"),
                        F.col("ida").alias("ord"),
                        "name", "bal", "seg")
               .unionByName(b.select(F.col("idb").alias("id"),
                                     F.col("idb").alias("ord"),
                                     "name", "bal", "seg")))
    return golden_records(records, None, "id", "ord",
                          fields=["name", "bal", "seg"],
                          clusters=clusters)


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t readout (dataops/analytics.py:
    ab_welch_t) between even- and odd-user_id events on `value` —
    the A/B primitive: one conditional-aggregation pass, variances
    from explicit Σv/Σv² literals so the oracle replays the identical
    arithmetic (no var_samp implementation skew between engines)."""
    from seatunnel_spark.dataops.analytics import ab_welch_t

    e = _t(spark, sf_dir, "events")
    return ab_welch_t(e, F.col("user_id") % 2 == 0, "value")


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances (dataops/graph.py:bfs_hops)
    from the 5 seed customers over the symmetrized customer-supplier
    graph — crawl-depth / within-k-hops labeling. Frontier-delta
    iteration (edges probed, never rewritten; the k-core peel
    discipline); BFS layers are schedule-independent so the converged
    labeling is unique and the oracle replays it as a recursive
    min-hops CTE."""
    from seatunnel_spark.dataops.graph import bfs_hops

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    jp = (li.join(o, li.l_orderkey == o.o_orderkey)
          .select(o.o_custkey.alias("c"), li.l_suppkey.alias("s"))
          .distinct())
    j = jp.select(F.concat(F.lit("c"), F.col("c")).alias("src"),
                  F.concat(F.lit("s"), F.col("s")).alias("dst"))
    edges = j.union(
        j.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    seeds = (jp.filter(F.col("c") < 5)
             .select(F.concat(F.lit("c"), F.col("c")).alias("node"))
             .distinct())
    return bfs_hops(edges, seeds, max_hops=6, dedupe=False)


def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter record linkage (dataops/linkage.py:
    link_score_pairs) between the customer table and a
    deterministically PERTURBED copy (name uppercased on custkey%7,
    phone nulled on custkey%5, ids shifted +1,000,000): blocked on
    nationkey, per-field log2(m/u) agreement weights summed in pure
    codegen, threshold keeps the positive-evidence pairs. The
    per-block a×b pair-product guard (max_pairs=2M, on_oversize=
    'split' by bal sub-key) bounds candidate growth when block
    occupancy rises with data volume — silent at oracle scale,
    splitting at sf10+. The oracle
    replays the perturbation, the block join, and the literal weight
    arithmetic."""
    from seatunnel_spark.dataops.linkage import link_score_pairs

    c = _t(spark, sf_dir, "customer")
    blk2 = F.substring(F.lower(F.col("c_name")), -1, 1)
    a = c.select(F.col("c_custkey").alias("ida"),
                 F.lower(F.col("c_name")).alias("name"),
                 F.col("c_acctbal").alias("bal"),
                 F.col("c_mktsegment").alias("seg"),
                 F.col("c_nationkey"), blk2.alias("blk2"))
    b = c.select((F.col("c_custkey") + 1_000_000).alias("idb"),
                 F.when(F.col("c_custkey") % 7 == 0,
                        F.upper(F.col("c_name")))
                 .otherwise(F.lower(F.col("c_name"))).alias("name"),
                 F.when(F.col("c_custkey") % 5 == 0, F.lit(None))
                 .otherwise(F.col("c_acctbal")).alias("bal"),
                 F.col("c_mktsegment").alias("seg"),
                 F.col("c_nationkey"), blk2.alias("blk2"))
    fields = {"name": (0.95, 0.001), "bal": (0.9, 0.0005),
              "seg": (0.9, 0.2)}
    return link_score_pairs(a, b, "ida", "idb",
                            ["c_nationkey", "blk2"],
                            fields, threshold=5.0,
                            max_pairs=2_000_000,
                            on_oversize="split", split_col="bal")


def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pre-filtered fact⋈dim join (dataops/skew.py:
    bloom_prefilter_join): a selective supplier subset's keys fold
    into a 2^20-bit JVM BloomFilter (distributed treeAggregate build,
    ONE might_contain binary-literal probe in codegen), the lineitem
    scan is pre-filtered BEFORE its exchange, and the equi-join
    eliminates the false positives — so the output is EXACTLY the
    plain join (the oracle) while the shuffle carries only ~matching
    rows. Revenue per surviving supplier."""
    from seatunnel_spark.dataops.skew import bloom_prefilter_join

    li = _t(spark, sf_dir, "lineitem")
    sup = (_t(spark, sf_dir, "supplier")
           .filter(F.col("s_suppkey") % 17 == 0)
           .select("s_suppkey", "s_name"))
    j = bloom_prefilter_join(li, sup, "l_suppkey", "s_suppkey")
    return (j.groupBy("s_suppkey", "s_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count(F.lit(1)).alias("n_lines")))


def q_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index (dataops/profile.py:psi_report):
    events.value vs a deterministically shifted half-snapshot
    (value x1.15 on even event_ids) — the scorecard-monitoring
    distribution-shape test complementing q_profile_drift's moment
    deltas. Reference-quantile edges from one percentile aggregate,
    codegen binning on both scans, bins-sized arithmetic after."""
    from seatunnel_spark.dataops.profile import psi_report

    e = _t(spark, sf_dir, "events")
    b = (e.filter(F.col("event_id") % 2 == 0)
         .withColumn("value", F.col("value") * 1.15))
    return psi_report(e, b, "value", bins=10)


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (dataops/graph.py:connected_components —
    min-label propagation) of the STRONG co-purchase graph (parts
    co-ordered in >= 3 distinct orders): component = the minimum
    reachable part key, a canonical labeling unique at any iteration
    schedule, which the oracle replays as recursive min-reachability.
    Runs until a round changes no label (at most diameter + 1 rounds;
    2-3 on this graph). Each round is one neighbor-min join plus one
    |V|-row localCheckpoint job whose observed metric counts the
    changed labels — no separate probe job, and the checkpoint keeps
    the self-referencing label plan from doubling every round."""
    from seatunnel_spark.dataops.analytics import copurchase_pairs
    from seatunnel_spark.dataops.graph import connected_components

    li = _t(spark, sf_dir, "lineitem")
    edges = copurchase_pairs(li, "l_orderkey", "l_partkey",
                             min_support=3).select("p1", "p2")
    return connected_components(edges, "p1", "p2")


def q_connected_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over a PERSISTED bucketed edge table
    (dataops/graph.py:connected_components_on_bucketed): identical
    labels to q_connected_components (shared oracle), but the
    per-round neighbor-min join probes the bucketed scan with zero
    edge-side exchange — the durable co-location form, the same
    write-once/probe-many upgrade pagerank and triangles already
    have. The SYMMETRIZED list is written (bucketed storage fixes one
    physical partitioning, so both orientations go to disk)."""
    from seatunnel_spark.dataops.analytics import copurchase_pairs
    from seatunnel_spark.dataops.graph import (
        connected_components_on_bucketed, write_bucketed_edges)

    li = _t(spark, sf_dir, "lineitem")
    e = copurchase_pairs(li, "l_orderkey", "l_partkey",
                         min_support=3).select("p1", "p2")
    und = e.union(e.select(F.col("p2").alias("p1"),
                           F.col("p1").alias("p2")))
    write_bucketed_edges(und, "bk_cc_edges", "p1", "p2",
                         num_buckets=8)
    return connected_components_on_bucketed(spark, "bk_cc_edges")


def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation (dataops/graph.py:
    label_propagation — Raghavan et al. 2007 with a total tie order:
    most-frequent neighbor label, ties to the smallest) over the strong
    co-purchase graph, exactly 2 rounds — the same fixed-iteration
    replay convention as q_pagerank/emb_kmeans; the oracle unrolls both
    rounds with the identical count + (count DESC, label ASC) arg-min."""
    from seatunnel_spark.dataops.analytics import copurchase_pairs
    from seatunnel_spark.dataops.graph import label_propagation

    li = _t(spark, sf_dir, "lineitem")
    edges = copurchase_pairs(li, "l_orderkey", "l_partkey",
                             min_support=3).select("p1", "p2")
    return label_propagation(edges, "p1", "p2", iters=2)


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the co-purchase graph (dataops/graph.py:k_core —
    iterative peel to the unique fixpoint, convergence-checked): the
    dense backbone + within-core degrees. Peeling is confluent, so the
    converged Spark result matches the oracle's unrolled peel rounds
    (14 rounds — sf0.01 converges in 11, extra rounds are no-ops)."""
    from seatunnel_spark.dataops.analytics import copurchase_pairs
    from seatunnel_spark.dataops.graph import k_core

    li = _t(spark, sf_dir, "lineitem")
    edges = copurchase_pairs(li, "l_orderkey", "l_partkey",
                             min_support=2).select("p1", "p2")
    return k_core(edges, k=3, src="p1", dst="p2")


def q_lpa_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label propagation over a PERSISTED bucketed edge table
    (dataops/graph.py:label_propagation_on_bucketed): identical labels
    to q_label_prop (shared oracle), but each round's edge⋈label join
    probes the bucketed scan with zero edge-side exchange — the same
    durable write-once/probe-many co-location pagerank, triangles and
    connected components already have. The SYMMETRIZED list is
    written (bucketed storage fixes one physical partitioning)."""
    from seatunnel_spark.dataops.analytics import copurchase_pairs
    from seatunnel_spark.dataops.graph import (
        label_propagation_on_bucketed, write_bucketed_edges)

    li = _t(spark, sf_dir, "lineitem")
    e = copurchase_pairs(li, "l_orderkey", "l_partkey",
                         min_support=3).select("p1", "p2")
    und = e.union(e.select(F.col("p2").alias("p1"),
                           F.col("p1").alias("p2")))
    write_bucketed_edges(und, "bk_lpa_edges", "p1", "p2",
                         num_buckets=8)
    return label_propagation_on_bucketed(spark, "bk_lpa_edges",
                                         iters=2)


def q_kcore_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core over a PERSISTED bucketed edge table (dataops/graph.py:
    k_core_on_bucketed): identical output to q_kcore (shared oracle),
    but the initial degree aggregation and every peel round's
    dropped-frontier join consume the bucketed scan with zero
    edge-side exchange — only the shrinking frontier moves."""
    from seatunnel_spark.dataops.analytics import copurchase_pairs
    from seatunnel_spark.dataops.graph import (k_core_on_bucketed,
                                               write_bucketed_edges)

    li = _t(spark, sf_dir, "lineitem")
    e = copurchase_pairs(li, "l_orderkey", "l_partkey",
                         min_support=2).select("p1", "p2")
    und = e.union(e.select(F.col("p2").alias("p1"),
                           F.col("p1").alias("p2")))
    write_bucketed_edges(und, "bk_kcore_edges", "p1", "p2",
                         num_buckets=8)
    return k_core_on_bucketed(spark, "bk_kcore_edges", k=3)


def text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit (dataops/text.py:zipf_fit): OLS of ln(freq) on
    ln(rank) over the frequency head — natural text sits near slope
    −1; the sf corpus's template text fits FLAT (slope ≈ −0.18,
    r² ≈ 0.06), which is precisely the spam signature the diagnostic
    exists to flag. Head extraction is a distributed TakeOrdered
    (no vocabulary-sized single-partition sort); OLS runs on the
    max_terms-row head."""
    from seatunnel_spark.dataops.text import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents"), max_terms=500)


def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth (dataops/text.py:vocab_growth):
    cumulative docs/tokens/distinct-vocab at 10 id-ordered slice
    boundaries — the "is the crawl still finding new words?"
    saturation read. Bucket edges are exact doc_id percentiles (one
    aggregate, the equidepth discipline — NOTHING single-partitions
    over the corpus); each token contributes its min-bucket once."""
    from seatunnel_spark.dataops.text import vocab_growth

    return vocab_growth(_t(spark, sf_dir, "documents"), buckets=10)


def text_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution KL divergence vs the corpus blend
    (dataops/text.py:domain_kl_drift) — the data-mixing drift
    diagnostic. All wide work is vocabulary-sized; raw text never
    shuffles."""
    from seatunnel_spark.dataops.text import domain_kl_drift

    d = _t(spark, sf_dir, "documents")
    return domain_kl_drift(d, "source", "text")


# ===========================================================================
# TPC-H completion suite — the remaining classic shapes, adapted where the
# driver's schema lacks a table/column (no partsupp, no commit/receipt
# dates; adaptations preserve each query's PLAN shape, which is what the
# 100 TB argument is about). Constants reference TPC-H rev 2.18 Q text.
# ===========================================================================

_D = lambda s: F.lit(s).cast("date")  # noqa: E731


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-aggregate — the pushdown benchmark.
    All three predicates and the 2-column projection reach the parquet
    scan (PushedFilters + ReadSchema); the agg is a one-row partial
    sum per partition merged on the driver side of a 1-row exchange."""
    li = _t(spark, sf_dir, "lineitem")
    sd = F.col("l_shipdate").cast("date")
    return (li.filter((sd >= _D("1996-01-01")) & (sd < _D("1997-01-01"))
                      & (F.col("l_discount") >= 0.05)
                      & (F.col("l_discount") <= 0.07)
                      & (F.col("l_quantity") < 24))
            .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
                 .alias("revenue")))


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: national market share — a conditional-ratio agg over a
    7-table join. Both nation lookups and region are broadcast
    (fixed-size dims); the part filter lands before the join so only
    PROMO lineitems survive the first probe; one groupBy(year)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    od = F.col("o_orderdate").cast("date")
    n1 = F.broadcast(n.select(F.col("n_nationkey").alias("c_nk"),
                              F.col("n_regionkey").alias("c_rk")))
    n2 = F.broadcast(n.select(F.col("n_nationkey").alias("s_nk"),
                              F.col("n_name").alias("supp_nation")))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o.filter((od >= _D("1996-01-01")) & (od <= _D("1997-12-31"))),
              li.l_orderkey == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(n1, c.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == r.r_regionkey)
        .join(n2, s.s_nationkey == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_5", vol)
                  .otherwise(F.lit(0.0))) / F.sum(vol), 4)
            .alias("mkt_share")))


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (no partsupp in this schema: supplycost proxied
    as 60% of p_retailprice): profit by supplier nation x order year
    for parts matching a name substring. The name filter prunes part
    before its join; nation is broadcast; one groupBy shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    profit = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - 0.6 * F.col("p_retailprice") * F.col("l_quantity"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(profit), 2).alias("sum_profit")))


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: revenue lost to returns by customer, top 20. The
    quarter filter prunes orders before the fact join; top-k compiles
    to TakeOrderedAndProject (per-partition heaps), never a global
    sort; c_custkey tiebreak makes the cut deterministic. Revenue is
    summed in DECIMAL (exact, order-independent — double sums near a
    half-cent boundary round differently per engine/partition order,
    which matters when a LIMIT cut rides on the rounded value)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    od = F.col("o_orderdate").cast("date")
    rev = (F.col("l_extendedprice").cast("decimal(18,4)")
           * (F.lit(1).cast("decimal(18,4)")
              - F.col("l_discount").cast("decimal(18,4)")))
    return (
        li.join(o.filter((od >= _D("1996-01-01")) & (od < _D("1996-04-01"))),
                li.l_orderkey == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select("c_custkey", "c_name", "revenue",
                F.round("c_acctbal", 2).alias("c_acctbal"), "n_name"))


def q11_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (no partsupp: value = lineitem extendedprice
    from suppliers of one nation): parts whose value exceeds a
    FRACTION of the total — group-having against a scalar subquery.
    The scalar is a one-row broadcast cross join; the per-part agg —
    |parts| narrow rows, tiny next to the fact table — is lineage-cut
    (localCheckpoint) so its two consumers (HAVING stream + scalar
    total) trigger ONE lineitem scan, not two; nothing is collected."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    base = (li.join(s, li.l_suppkey == s.s_suppkey)
            .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .select("l_partkey", "l_extendedprice"))
    per_part = (base.groupBy("l_partkey")
                .agg(F.sum("l_extendedprice").alias("__v"))
                .localCheckpoint(eager=False))
    total = per_part.agg(F.sum("__v").alias("__tot"))
    return (per_part.join(F.broadcast(total))
            .filter(F.col("__v") > 0.002 * F.col("__tot"))
            .select("l_partkey", F.round("__v", 2).alias("value")))


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: order-count distribution — customer LEFT OUTER JOIN
    orders (with an order-side filter), count per customer, then a
    second agg over the counts. The first agg's output is |customers|
    rows; the second is a map-side-combined count over ints."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT")
    per_cust = (c.join(o, c.c_custkey == o.o_custkey, "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist")))


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share for one month — conditional
    ratio over a single part-lineitem join; the month filter reaches
    the lineitem scan; one-row result, no post-join shuffle at all."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    sd = F.col("l_shipdate").cast("date")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter((sd >= _D("1996-03-01")) & (sd < _D("1996-04-01")))
        .join(p, li.l_partkey == p.p_partkey)
        .agg(F.round(
            100.0 * F.sum(F.when(F.col("p_type") == "PROMO", vol)
                          .otherwise(F.lit(0.0))) / F.sum(vol), 4)
            .alias("promo_revenue")))


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the revenue-view + scalar-max shape. The per-supplier
    revenue agg is computed once; its max is a one-row broadcast
    joined back by equality (handles ties like the spec) — revenue is
    summed in DECIMAL (exact, order-independent) and rounded to cents
    BEFORE the max/equality, so the compare can never be flipped by a
    partition-order-dependent double sum landing near a half-cent
    boundary (same mitigation as q10)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    sd = F.col("l_shipdate").cast("date")
    drev = (F.col("l_extendedprice").cast("decimal(18,4)")
            * (F.lit(1).cast("decimal(18,4)")
               - F.col("l_discount").cast("decimal(18,4)")))
    rev = (li.filter((sd >= _D("1996-01-01")) & (sd < _D("1996-04-01")))
           .groupBy("l_suppkey")
           .agg(F.round(F.sum(drev), 2).cast("double")
                .alias("total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    return (rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("__mx"))
            .join(s, F.col("l_suppkey") == s.s_suppkey)
            .select(F.col("s_suppkey"), "s_name", "total_revenue"))


def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier-part association via lineitem instead
    of partsupp): distinct supplier count per (brand, type, size) for
    a size list, excluding one brand and a NOT-IN supplier set (neg
    acctbal standing in for the complaints filter). The exclusion set
    is a small broadcast anti join; count_distinct shuffles narrow
    (brand,type,size,suppkey) tuples only."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34))
    bad = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), li.l_suppkey == F.col("s_suppkey"),
              "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt")))


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: the per-key correlated-average shape — lineitems of
    one brand whose quantity is below 20% of that part's average.
    The per-part avg is ONE map-side-combined agg of the (already
    brand-pruned) join output, re-joined by partkey; no window, no
    correlated re-scan of lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    joined = li.join(p, li.l_partkey == p.p_partkey) \
               .select("l_partkey", "l_quantity", "l_extendedprice")
    avg_q = (joined.groupBy("l_partkey")
             .agg(F.avg("l_quantity").alias("__aq")))
    return (joined.join(avg_q, "l_partkey")
            .filter(F.col("l_quantity") < 0.2 * F.col("__aq"))
            .agg(F.round(F.sum("l_extendedprice") / 7.0, 2)
                 .alias("avg_yearly")))


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: OR-of-ANDs across the join — the predicate refers to
    both sides, so it can only run post-join, but each disjunct's
    single-side conjuncts (brand+size / quantity) are pushed through
    as an OR-union prefilter on each input, shrinking the join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    q = F.col("l_quantity")
    pred = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 5))
         & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#13") & (F.col("p_size").between(1, 10))
           & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#19") & (F.col("p_size").between(1, 15))
           & q.between(20, 30)))
    return (li.join(p, li.l_partkey == p.p_partkey)
            .filter(pred)
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))


def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (availqty threshold becomes a shipped-quantity
    threshold — no partsupp): suppliers in one nation that shipped
    more than 30 units of some 'small%' part during 1996 — a nested
    semi-join chain. The part filter prunes before the agg; the
    qualifying (part,supp) agg output is the only shuffle; supplier
    is reached by LEFT SEMI so each supplier emits once."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").startswith("small"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    sd = F.col("l_shipdate").cast("date")
    qual = (li.filter((sd >= _D("1996-01-01")) & (sd < _D("1997-01-01")))
            .join(p, li.l_partkey == p.p_partkey)
            .groupBy("l_partkey", "l_suppkey")
            .agg(F.sum("l_quantity").alias("__q"))
            .filter(F.col("__q") > 30)
            .select("l_suppkey"))
    return (s.join(qual, s.s_suppkey == qual.l_suppkey, "left_semi")
            .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
            .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal")))


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (no receipt/commit dates: 'late' = being the
    order's unique latest shipper). The EXISTS/NOT-EXISTS pair over
    lineitem-self becomes: ONE map-side-combined (orderkey, suppkey)
    aggregation — raw lineitem shuffles exactly once — then a window
    over the supplier-level rows (partition = suppliers-per-order,
    bounded by construction) for the order max / supplier count. No
    re-join of the fact table, no row-level self-join."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_0")
    sup_level = (li.groupBy("l_orderkey", "l_suppkey")
                 .agg(F.max("l_shipdate").alias("__smax")))
    w = Window.partitionBy("l_orderkey")
    last = (sup_level
            .withColumn("__mx", F.max("__smax").over(w))
            .withColumn("__nsup", F.count(F.lit(1)).over(w))
            .filter((F.col("__nsup") > 1) & (F.col("__smax") == F.col("__mx")))
            .groupBy("l_orderkey")
            .agg(F.count(F.lit(1)).alias("__nmax"),
                 F.min("l_suppkey").alias("wait_supp"))
            .filter(F.col("__nmax") == 1))
    return (last.join(o, last.l_orderkey == o.o_orderkey, "left_semi")
            .join(s, F.col("wait_supp") == s.s_suppkey)
            .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).alias("numwait")))


# ===========================================================================
# contract functions
# ===========================================================================

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q1_pricing_summary(spark, SF_DEFAULT)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_region_revenue": q5_region_revenue,
        "q_window_top_orders": q_window_top_orders,
        "q_events_hourly": q_events_hourly,
        "q_agg_stats": q_agg_stats,
        "q_rollup": q_rollup,
        "q_anti_join": q_anti_join,
        "q_set_ops": q_set_ops,
        "q_asof_join": q_asof_join,
        "q_sessionize": q_sessionize,
        "q_range_join": q_range_join,
        "q_salted_join": q_salted_join,
        "q_funnel": q_funnel,
        "q_retention": q_retention,
        "q_pivot": q_pivot,
        "text_ngram_stats": text_ngram_stats,
        "q_corpus_overlap": q_corpus_overlap,
        "q_json_extract": q_json_extract,
        "q_moving_avg": q_moving_avg,
        "q4_semi_join": q4_semi_join,
        "q_percentiles": q_percentiles,
        "t_metadata": t_metadata,
        "t_copy": t_copy,
        "t_field_mapper": t_field_mapper,
        "t_filter_fields": t_filter_fields,
        "t_field_rename": t_field_rename,
        "t_replace": t_replace,
        "t_split": t_split,
        "t_jsonpath": t_jsonpath,
        "t_rowkind": t_rowkind,
        "t_table_merge": t_table_merge,
        "t_sql_functions": t_sql_functions,
        "t_zeta_datetime": t_zeta_datetime,
        "data_profile": data_profile,
        "q_kanon": q_kanon,
        "q_profile_drift": q_profile_drift,
        "dedup_exact": dedup_exact,
        "dedup_fingerprint": dedup_fingerprint,
        "dedup_minhash_pairs": dedup_minhash_pairs,
        "dedup_jaccard_pairs": dedup_jaccard_pairs,
        "dedup_containment": dedup_containment,
        "dedup_verify": dedup_verify,
        "dedup_jaccard_prefix": dedup_jaccard_prefix,
        "dedup_cascade": dedup_cascade,
        "dedup_substring": dedup_substring,
        "dedup_substring_clean": dedup_substring_clean,
        "decontam_spans": decontam_spans,
        "decontam_clean": decontam_clean,
        "sim_pq_index": sim_pq_index,
        "dedup_clusters": dedup_clusters,
        "dedup_apply": dedup_apply,
        "text_quality": text_quality,
        "text_quality_score": text_quality_score,
        "q_quality_classifier": q_quality_classifier,
        "q_quality_classifier_cm": q_quality_classifier_cm,
        "q_quality_classifier_std": q_quality_classifier_std,
        "q_dsir_weights": q_dsir_weights,
        "q_ppl_buckets": q_ppl_buckets,
        "text_normalize": text_normalize,
        "text_mg_summary": text_mg_summary,
        "emb_pca": emb_pca,
        "text_langid": text_langid,
        "text_tokens": text_tokens,
        "text_repetition": text_repetition,
        "text_quality_filter": text_quality_filter,
        "text_pii_redact": text_pii_redact,
        "text_lm_score": text_lm_score,
        "text_tfidf_keywords": text_tfidf_keywords,
        "decontam_ngram": decontam_ngram,
        "sample_split": sample_split,
        "sample_leakage_split": sample_leakage_split,
        "sample_mixture_plan": sample_mixture_plan,
        "sample_mixture_apply": sample_mixture_apply,
        "sample_stratified": sample_stratified,
        "sample_domain_mix": sample_domain_mix,
        "pack_docs": pack_docs,
        "sim_topk": sim_topk,
        "sim_hard_negatives": sim_hard_negatives,
        "sim_hard_negatives_ivf": sim_hard_negatives_ivf,
        "dedup_keep_best": dedup_keep_best,
        "sim_pairs_exact": sim_pairs_exact,
        "dedup_embedding_pairs": dedup_embedding_pairs,
        "dedup_embedding_lsh": dedup_embedding_lsh,
        "sim_lsh_topk": sim_lsh_topk,
        "sim_ivf_topk": sim_ivf_topk,
        "sim_pq_topk": sim_pq_topk,
        "sim_ivfpq_topk": sim_ivfpq_topk,
        "sim_ivfadc_topk": sim_ivfadc_topk,
        "sim_ivfadc_rerank": sim_ivfadc_rerank,
        "sim_recall_rerank": sim_recall_rerank,
        "sim_recall": sim_recall,
        "sim_hybrid_rrf": sim_hybrid_rrf,
        "dedup_simhash_pairs": dedup_simhash_pairs,
        "dedup_semantic": dedup_semantic,
        "pipe_job_dag": pipe_job_dag,
        "cdc_stitched": cdc_stitched,
        "lake_changelog": lake_changelog,
        "stream_windowed_events": stream_windowed_events,
        "stream_dedup_ids": stream_dedup_ids,
        "stream_session_window": stream_session_window,
        "stream_interval_join_events": stream_interval_join_events,
        "stream_funnel": stream_funnel,
        "stream_hll_dau": stream_hll_dau,
        "stream_ddsketch_daily": stream_ddsketch_daily,
        "mm_image_features": mm_image_features,
        "mm_image_dedup": mm_image_dedup,
        "mm_image_resize": mm_image_resize,
        "mm_av_metadata": mm_av_metadata,
        "mm_png_features": mm_png_features,
        "mm_frame_sample": mm_frame_sample,
        "text_html_clean": text_html_clean,
        "dedup_incremental": dedup_incremental,
        "text_bm25": text_bm25,
        "q_pagerank": q_pagerank,
        "q_pagerank_bucketed": q_pagerank_bucketed,
        "q_triangles_bucketed": q_triangles_bucketed,
        "text_chunks": text_chunks,
        "dedup_passage_apply": dedup_passage_apply,
        "sample_temperature": sample_temperature,
        "q_argmin_join": q_argmin_join,
        "stream_probe_index": stream_probe_index,
        "dedup_passages": dedup_passages,
        "sample_shuffle": sample_shuffle,
        "emb_quantize": emb_quantize,
        "emb_kmeans": emb_kmeans,
        "q7_volume_shipping": q7_volume_shipping,
        "q18_large_orders": q18_large_orders,
        "q_cust_no_orders": q_cust_no_orders,
        "q_gapfill": q_gapfill,
        "decontam_bloom": decontam_bloom,
        "text_heavy_hitters": text_heavy_hitters,
        "sample_group_topk": sample_group_topk,
        "text_cms_counts": text_cms_counts,
        "text_collocations": text_collocations,
        "q_mad": q_mad,
        "q_skew_report": q_skew_report,
        "q_ols": q_ols,
        "q_attribution": q_attribution,
        "q_rolling_dau_hll": q_rolling_dau_hll,
        "q_ewma": q_ewma,
        "q_hll_distinct": q_hll_distinct,
        "q_hll_merge": q_hll_merge,
        "q_hll_intersect": q_hll_intersect,
        "web_url_dedup": web_url_dedup,
        "text_bpe_pairs": text_bpe_pairs,
        "text_bpe_encode": text_bpe_encode,
        "text_bpe_encode_docs": text_bpe_encode_docs,
        "q_ddsketch_quantiles": q_ddsketch_quantiles,
        "q_ddsketch_by_group": q_ddsketch_by_group,
        "q_zorder_prune": q_zorder_prune,
        "q_assoc_rules": q_assoc_rules,
        "q_copurchase": q_copurchase,
        "q_triangles": q_triangles,
        "q_clustering_coef": q_clustering_coef,
        "q_rolling_dau": q_rolling_dau,
        "emb_covariance": emb_covariance_q,
        "dq_gate": dq_gate,
        "q_cube": q_cube,
        "q_melt": q_melt,
        "q_grouping_sets": q_grouping_sets,
        "q_rfm": q_rfm,
        "sample_weighted": sample_weighted,
        "dedup_fuzzy": dedup_fuzzy,
        "q_zscore_outliers": q_zscore_outliers,
        "q_histogram": q_histogram,
        "text_kl_drift": text_kl_drift,
        "text_zipf": text_zipf,
        "text_vocab_growth": text_vocab_growth,
        "q_event_pattern": q_event_pattern,
        "q_event_transitions": q_event_transitions,
        "q_event_cadence": q_event_cadence,
        "q_winsorize": q_winsorize,
        "q_equidepth": q_equidepth,
        "q_seasonal": q_seasonal,
        "q_acf": q_acf,
        "q_cusum": q_cusum,
        "q_holt": q_holt,
        "q_anomaly": q_anomaly,
        "text_lm_bigram": text_lm_bigram,
        "text_novelty": text_novelty,
        "dq_benford": dq_benford,
        "q_degree_dist": q_degree_dist,
        "q_ppr": q_ppr,
        "q_psi": q_psi,
        "q_hits": q_hits,
        "q_rolling_quantiles": q_rolling_quantiles,
        "q_record_linkage": q_record_linkage,
        "q_bloom_join": q_bloom_join,
        "q_bfs_hops": q_bfs_hops,
        "q_ab_test": q_ab_test,
        "q_golden_records": q_golden_records,
        "q_connected_components": q_connected_components,
        "q_connected_bucketed": q_connected_bucketed,
        "q_label_prop": q_label_prop,
        "q_kcore": q_kcore,
        "q_lpa_bucketed": q_lpa_bucketed,
        "q_kcore_bucketed": q_kcore_bucketed,
        "q6_forecast_revenue": q6_forecast_revenue,
        "q8_market_share": q8_market_share,
        "q9_product_profit": q9_product_profit,
        "q10_returned_items": q10_returned_items,
        "q11_value_concentration": q11_value_concentration,
        "q13_customer_distribution": q13_customer_distribution,
        "q14_promo_revenue": q14_promo_revenue,
        "q15_top_supplier": q15_top_supplier,
        "q16_supplier_cnt": q16_supplier_cnt,
        "q17_small_qty_revenue": q17_small_qty_revenue,
        "q19_disjunctive_revenue": q19_disjunctive_revenue,
        "q20_excess_shippers": q20_excess_shippers,
        "q21_waiting_suppliers": q21_waiting_suppliers,
        # rows-only (no SQL oracle): model inference is inherently not
        # SQL-expressible — these two stay rows-only by nature.
        "t_llm": t_llm,
        "t_embedding": t_embedding,
    }


def _lsh_plane_sql() -> tuple[str, str]:
    """Literal-plane bucket expression + CTE for the LSH oracles: the
    same deterministic matrix the Spark side derives from seed 42
    (numpy default_rng), embedded as full-precision literals so DuckDB
    replays identical buckets."""
    import numpy as np

    mat = np.random.default_rng(42).standard_normal((4, 64))
    bits = []
    for row in mat:
        lit = "[" + ", ".join(repr(float(x)) for x in row) + "]"
        bits.append(f"(CASE WHEN list_dot_product(emb, {lit}) >= 0 "
                    f"THEN '1' ELSE '0' END)")
    bucket = " || ".join(bits)
    cte = f"""
      e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      b AS (SELECT vec_id, emb, {bucket} AS bucket FROM e)
    """
    return bucket, cte


def _ivf_scores_sql() -> str:
    """Literal-centroid score-list expression for the IVF oracle: the
    same fixed codebook sim_ivf_topk uses, with centroid norms computed
    by the SAME Python expression as _centroid_scores (similarity.py),
    embedded at full precision so DuckDB replays identical cell
    assignment, probe order, and tie-breaks (struct max = max s then
    max i, exactly Spark's array_max on struct<s,i>)."""
    structs = []
    for i, c in enumerate(_ivf_codebook()):
        lit = "[" + ", ".join(repr(x) for x in c) + "]"
        cn = repr(sum(x * x for x in c) ** 0.5 or 1.0)
        structs.append(
            f"{{'s': list_dot_product(emb, {lit}) / (nrm * {cn}), 'i': {i}}}"
        )
    return "[" + ", ".join(structs) + "]"


def _kmeans_oracle_sql(k: int = 8, iters: int = 2) -> str:
    """Unrolled Lloyd's iterations replaying kmeans_fit/kmeans_assign
    (dataops/embeddings.py) exactly: init = k lowest-id vectors,
    assignment = round(dist²,6) argmin with lowest-index tiebreak,
    update = per-dim avg rounded to 6 (empty clusters keep their
    previous centroid via the LEFT JOIN coalesce)."""

    def dist_cte(tag: str, cents: str) -> str:
        return f"""
      d{tag} AS (
        SELECT v.vec_id, v.x, c.ci,
               round(list_sum(list_transform(
                   generate_series(1, len(v.x)),
                   i -> (v.x[i] - c.c[i]) * (v.x[i] - c.c[i]))), 6) AS d
        FROM v, {cents} c
      ),
      a{tag} AS (
        SELECT vec_id, x, ci, d FROM (
          SELECT *, row_number() OVER (
              PARTITION BY vec_id ORDER BY d, ci) AS rn
          FROM d{tag})
        WHERE rn = 1
      )"""

    parts = [f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
      c0 AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, x AS c
        FROM (SELECT vec_id, x FROM v ORDER BY vec_id LIMIT {k})
      )"""]
    prev = "c0"
    for it in range(1, iters + 1):
        parts.append("," + dist_cte(str(it), prev))
        parts.append(f""",
      m{it} AS (
        SELECT ci, generate_subscripts(x, 1) AS dd, unnest(x) AS val
        FROM a{it}
      ),
      u{it} AS (
        SELECT ci, list(m ORDER BY dd) AS c FROM (
          SELECT ci, dd, round(avg(val), 6) AS m
          FROM m{it} GROUP BY ci, dd)
        GROUP BY ci
      ),
      c{it} AS (
        SELECT p.ci, coalesce(u.c, p.c) AS c
        FROM {prev} p LEFT JOIN u{it} u ON p.ci = u.ci
      )""")
        prev = f"c{it}"
    parts.append("," + dist_cte("f", prev))
    parts.append("""
    SELECT ci AS cluster, count(*) AS n_members,
           min(vec_id) AS sample_id,
           round(avg(sqrt(d)), 4) AS avg_dist
    FROM af GROUP BY ci
    """)
    return "".join(parts)


def _shingle_cte_for_oracles() -> str:
    """The shared word-3-gram shingle CTE used by every dedup oracle
    (jaccard / containment / minhash / clusters / apply)."""
    return """
      words AS (
        SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS ws
        FROM documents
      ),
      shingles AS (
        SELECT DISTINCT doc_id, lang,
               ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
        FROM words, LATERAL (
          SELECT unnest(generate_series(1, len(ws) - 2)) AS i
        ) t
        WHERE len(ws) >= 3
        UNION
        SELECT DISTINCT doc_id, lang, array_to_string(ws, ' ') AS sh
        FROM words WHERE len(ws) < 3
      )
    """


def _oracle_sql_literal() -> dict[str, str]:
    _, lsh_cte = _lsh_plane_sql()
    ivf_scores = _ivf_scores_sql()
    shingle_cte = _shingle_cte_for_oracles()
    return {
        # one SELECT per profiled column; strings profile their lengths
        "data_profile": """
            SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
                   count(*) - count(o_orderkey) AS n_null,
                   round((count(*) - count(o_orderkey)) * 1.0 / count(*), 2)
                     AS null_rate,
                   count(DISTINCT o_orderkey) AS n_distinct,
                   CAST(min(o_orderkey) AS VARCHAR) AS min_s,
                   CAST(max(o_orderkey) AS VARCHAR) AS max_s,
                   round(avg(CAST(o_orderkey AS DOUBLE)), 2) AS mean,
                   round(stddev_samp(CAST(o_orderkey AS DOUBLE)), 2) AS stddev
            FROM orders
            UNION ALL
            SELECT 'o_orderstatus', count(*),
                   count(*) - count(o_orderstatus),
                   round((count(*) - count(o_orderstatus)) * 1.0
                         / count(*), 2),
                   count(DISTINCT o_orderstatus),
                   CAST(min(o_orderstatus) AS VARCHAR),
                   CAST(max(o_orderstatus) AS VARCHAR),
                   round(avg(CAST(length(o_orderstatus) AS DOUBLE)), 2),
                   round(stddev_samp(CAST(length(o_orderstatus) AS DOUBLE)),
                         2)
            FROM orders
            UNION ALL
            SELECT 'o_totalprice', count(*),
                   count(*) - count(o_totalprice),
                   round((count(*) - count(o_totalprice)) * 1.0
                         / count(*), 2),
                   count(DISTINCT o_totalprice),
                   CAST(min(o_totalprice) AS VARCHAR),
                   CAST(max(o_totalprice) AS VARCHAR),
                   round(avg(CAST(o_totalprice AS DOUBLE)), 2),
                   round(stddev_samp(CAST(o_totalprice AS DOUBLE)), 2)
            FROM orders
            UNION ALL
            SELECT 'o_orderpriority', count(*),
                   count(*) - count(o_orderpriority),
                   round((count(*) - count(o_orderpriority)) * 1.0
                         / count(*), 2),
                   count(DISTINCT o_orderpriority),
                   CAST(min(o_orderpriority) AS VARCHAR),
                   CAST(max(o_orderpriority) AS VARCHAR),
                   round(avg(CAST(length(o_orderpriority) AS DOUBLE)), 2),
                   round(stddev_samp(CAST(length(o_orderpriority)
                                          AS DOUBLE)), 2)
            FROM orders
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2)                                   AS sum_qty,
                   round(sum(l_extendedprice), 2)                              AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                   round(avg(l_quantity), 2)                                   AS avg_qty,
                   round(avg(l_extendedprice), 2)                              AS avg_price,
                   round(avg(l_discount), 4)                                   AS avg_disc,
                   count(*)                                                    AS count_order
            FROM lineitem
            WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": """
            WITH g AS (
              SELECT l_orderkey, o_orderdate, o_orderpriority,
                     round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
              FROM customer
              JOIN orders   ON o_custkey = c_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
              WHERE c_mktsegment = 'BUILDING'
                AND CAST(o_orderdate AS DATE) < DATE '1996-03-15'
                AND CAST(l_shipdate AS DATE) > DATE '1996-03-15'
              GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ), r AS (
              SELECT l_orderkey,
                     strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                     o_orderpriority, revenue,
                     CAST(row_number() OVER (ORDER BY revenue DESC, l_orderkey ASC) AS INTEGER) AS rnk
              FROM g
            )
            SELECT * FROM r WHERE rnk <= 10
        """,
        "q5_region_revenue": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
            GROUP BY n_name
        """,
        "q_window_top_orders": """
            SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     CAST(row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rnk
              FROM orders
            ) WHERE rnk <= 3
        """,
        "q_events_hourly": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                   event_type,
                   count(*) AS n,
                   round(sum(value), 2) AS sum_value,
                   round(min(value), 2) AS min_value,
                   round(max(value), 2) AS max_value
            FROM events GROUP BY 1, 2
        """,
        "q_agg_stats": """
            SELECT o_orderstatus,
                   count(DISTINCT o_custkey) AS n_cust,
                   round(sum(CASE WHEN o_orderpriority = '1-URGENT'
                                  THEN o_totalprice ELSE 0.0 END), 2) AS urgent_total,
                   round(min(o_totalprice), 2) AS min_price,
                   round(max(o_totalprice), 2) AS max_price
            FROM orders GROUP BY o_orderstatus
        """,
        "q_rollup": """
            SELECT coalesce(o_orderstatus, 'ALL') AS status,
                   coalesce(o_orderpriority, 'ALL') AS prio,
                   count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders
            GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        """,
        "q_anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        """,
        "q_set_ops": """
            WITH with_orders AS (SELECT DISTINCT o_custkey AS k FROM orders),
                 high_bal AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000)
            SELECT 'both' AS tag, k FROM (SELECT k FROM with_orders INTERSECT SELECT k FROM high_bal)
            UNION ALL
            SELECT 'only_bal' AS tag, k FROM (SELECT k FROM high_bal EXCEPT ALL SELECT k FROM with_orders)
        """,
        "q_asof_join": """
            WITH purchases AS (
              SELECT event_id, user_id, ts, value FROM events
              WHERE event_type = 'purchase'
            ), clicks AS (
              SELECT user_id, ts, max(event_id) AS click_event_id,
                     max(value) AS click_value
              FROM events WHERE event_type = 'click' GROUP BY user_id, ts
            )
            SELECT p.event_id, p.user_id,
                   strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
                   round(p.value, 2) AS value,
                   c.click_event_id,
                   round(c.click_value, 2) AS click_value
            FROM purchases p
            ASOF LEFT JOIN clicks c
              ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
        "q_sessionize": """
            WITH x AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS ns
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
              SELECT user_id, ts,
                     -- DuckDB types the windowed sum as HUGEINT (int128),
                     -- which the driver's hasher renders differently from
                     -- Spark's BIGINT; cast so value-hashes line up.
                     CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
              FROM x
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_s,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_s,
                   CAST(floor(epoch(max(ts))) AS BIGINT)
                     - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_sec
            FROM s GROUP BY user_id, session_id
        """,
        "q_corpus_overlap": """
            WITH sh AS (
              SELECT DISTINCT source AS src,
                     unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                             for i in range(1, len(ws) - 1)]) AS tok
              FROM (SELECT source,
                           regexp_split_to_array(trim(text), '\\s+') AS ws
                    FROM documents)
              WHERE len(ws) >= 3)
            SELECT a.src AS source_a, b.src AS source_b,
                   count(*) AS shared_shingles
            FROM sh a JOIN sh b
              ON a.tok = b.tok AND a.src < b.src
            GROUP BY 1, 2
        """,
        "q_json_extract": """
            SELECT (k - k % 10) AS k_bucket,
                   count(*) AS n,
                   round(avg(value), 4) AS avg_value
            FROM (SELECT CAST(json_extract_string(props, '$.k') AS INT)
                           AS k,
                         value
                  FROM events)
            GROUP BY 1
        """,
        "q_moving_avg": """
            WITH daily AS (
              SELECT event_type AS grp, CAST(ts AS DATE) AS day,
                     count(*) AS n
              FROM events GROUP BY 1, 2)
            SELECT grp, day, n,
                   round(avg(n) OVER (
                     PARTITION BY grp ORDER BY day
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
                     AS ma7_n
            FROM daily
        """,
        "q_funnel": """
            WITH per_user AS (
              SELECT user_id,
                     min(CASE WHEN event_type = 'view' THEN ts END) AS t0,
                     min(CASE WHEN event_type = 'click' THEN ts END) AS t1,
                     min(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
              FROM events GROUP BY user_id
            ), flags AS (
              SELECT CAST(t0 IS NOT NULL AS BIGINT) AS s0,
                     CAST(t0 IS NOT NULL AND t1 IS NOT NULL
                          AND t1 > t0 AS BIGINT) AS s1,
                     CAST(t0 IS NOT NULL AND t1 IS NOT NULL AND t1 > t0
                          AND t2 IS NOT NULL AND t2 > t1 AS BIGINT) AS s2
              FROM per_user
            )
            SELECT 'view' AS step, 0 AS step_idx, CAST(sum(s0) AS BIGINT) AS users
              FROM flags
            UNION ALL
            SELECT 'click', 1, CAST(sum(s1) AS BIGINT) FROM flags
            UNION ALL
            SELECT 'purchase', 2, CAST(sum(s2) AS BIGINT) FROM flags
        """,
        "q_retention": """
            WITH ev AS (
              SELECT user_id AS u,
                     CAST(floor(datediff('day', DATE '1970-01-01',
                                         CAST(ts AS DATE)) / 7)
                          AS BIGINT) AS p
              FROM events
            ), first AS (
              SELECT u, min(p) AS cohort FROM ev GROUP BY u
            )
            SELECT first.cohort AS cohort_period,
                   ev.p - first.cohort AS "offset",
                   count(DISTINCT ev.u) AS users
            FROM ev JOIN first ON ev.u = first.u
            GROUP BY 1, 2
        """,
        "q_pivot": """
            SELECT CAST(ts AS DATE) AS day,
                   CAST(sum(CAST(event_type = 'view' AS BIGINT)) AS BIGINT) AS view,
                   CAST(sum(CAST(event_type = 'click' AS BIGINT)) AS BIGINT) AS click,
                   CAST(sum(CAST(event_type = 'purchase' AS BIGINT)) AS BIGINT) AS purchase,
                   CAST(sum(CAST(event_type = 'signup' AS BIGINT)) AS BIGINT) AS signup,
                   CAST(sum(CAST(event_type = 'error' AS BIGINT)) AS BIGINT) AS error
            FROM events GROUP BY 1
        """,
        "text_ngram_stats": """
            WITH w AS (
              SELECT string_split(trim(text), ' ') AS ws FROM documents
            ), pairs AS (
              SELECT unnest(list_transform(
                       range(1, len(ws)),
                       i -> ws[i] || ' ' || ws[i+1])) AS ngram
              FROM w WHERE len(ws) >= 2
            )
            SELECT ngram, count(*) AS n FROM pairs
            GROUP BY 1 ORDER BY n DESC, ngram ASC LIMIT 20
        """,
        "q_range_join": """
            SELECT c.c_custkey, s.s_suppkey
            FROM customer c JOIN supplier s
              ON CAST(c.c_acctbal AS DOUBLE)
                 BETWEEN CAST(s.s_acctbal AS DOUBLE) - 100
                     AND CAST(s.s_acctbal AS DOUBLE) + 100
        """,
        "q_salted_join": """
            SELECT o_orderpriority,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   COUNT(*) AS n
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority
        """,
        "q4_semi_join": """
            SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders
            WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
              AND CAST(o_orderdate AS DATE) <  DATE '1996-04-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
            GROUP BY o_orderpriority
        """,
        "t_metadata": """
            SELECT n_nationkey, n_name,
                   'tpch' AS db, 'nation' AS tbl, '+I' AS kind
            FROM nation
        """,
        "q_percentiles": """
            SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.5), 2)  AS p50,
                   round(quantile_cont(l_extendedprice, 0.95), 2) AS p95,
                   count(*) AS n
            FROM lineitem GROUP BY l_returnflag
        """,
        "mm_image_dedup": r"""
            -- brute-force N^2 ground truth for the pigeonhole-blocked
            -- Hamming join: stub phash = first 8 sha256 bytes as a
            -- signed 64-bit fold (multimodal.py:_phash_stub)
            WITH h AS (
              SELECT doc_id,
                     CAST(
                       CAST(CAST('0x' || substring(sha256(text), 1, 8)
                                 AS BIGINT) AS HUGEINT) * 4294967296
                       + CAST('0x' || substring(sha256(text), 9, 8)
                              AS BIGINT)
                       - CASE WHEN CAST('0x' || substring(sha256(text),
                                                          1, 8)
                                   AS BIGINT) >= 2147483648
                              THEN 18446744073709551616 ELSE 0 END
                       AS BIGINT) AS ph
              FROM (SELECT doc_id,
                           array_to_string(
                             regexp_split_to_array(trim(text),
                                                   '\s+')[1:2],
                             ' ') AS text
                    FROM documents WHERE doc_id < 300)
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.ph, b.ph)) AS hamming
            FROM h a JOIN h b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.ph, b.ph)) <= 3
        """,
        "mm_image_features": """
            SELECT doc_id,
                   CAST(64 + (CAST('0x' || substring(sha256(text), 1, 2) AS INTEGER) % 192) AS INTEGER) AS width,
                   CAST(64 + (CAST('0x' || substring(sha256(text), 3, 2) AS INTEGER) % 192) AS INTEGER) AS height,
                   CAST(8 AS INTEGER) AS feat_dim
            FROM documents WHERE doc_id < 100
        """,
        "mm_image_resize": """
            -- stub codec emits sha256*2 = 64 bytes for every row at
            -- 32x32 (multimodal.py:image_resize); the oracle checks the
            -- per-row plumbing ran, not a real codec.
            SELECT doc_id, CAST(32 AS INTEGER) AS w,
                   CAST(64 AS INTEGER) AS nbytes
            FROM documents WHERE doc_id < 100
        """,
        "mm_png_features": """
            -- solid gray level g = doc_id%256: histogram one-hot at
            -- bin g//32 (1-based array_position), width/height from
            -- the synth formula; the Spark side really encodes and
            -- decodes PNG bytes (png_codec.py).
            SELECT doc_id,
                   CAST(8 + (doc_id % 5) * 4 AS INTEGER) AS width,
                   CAST(6 + (doc_id % 3) * 4 AS INTEGER) AS height,
                   'png' AS fmt,
                   CAST((doc_id % 256) // 32 + 1 AS INTEGER) AS top_bin,
                   1.0 AS top_frac
            FROM documents WHERE doc_id < 100
        """,
        "mm_av_metadata": """
            -- the Spark side synthesizes REAL WAV/MP4 bytes from this
            -- same formula and decodes them with the genuine RIFF /
            -- ISO-BMFF parsers; the oracle replays the formula, so any
            -- codec bug breaks the hash match.
            SELECT doc_id,
                   CAST(8000 * (1 + doc_id % 3) AS INTEGER)
                     AS sample_rate,
                   CAST(800 + (doc_id % 7) * 160 AS BIGINT) AS n_samples,
                   'pcm_s16le' AS codec,
                   CAST(500 + (doc_id % 10) * 250 AS BIGINT)
                     AS duration_ms,
                   CAST(320 + (doc_id % 4) * 16 AS INTEGER) AS vw,
                   CAST(240 + (doc_id % 4) * 16 AS INTEGER) AS vh,
                   'mp4' AS container
            FROM documents WHERE doc_id < 100
        """,
        "mm_frame_sample": """
            SELECT doc_id,
                   CAST(unnest(range(0, 800 + (doc_id % 7) * 160, 320))
                        AS BIGINT) AS frame_offset
            FROM documents WHERE doc_id < 100
        """,
        "t_copy": """
            SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
                   c_name AS c_name_copy, c_acctbal AS bal2
            FROM customer
        """,
        "t_field_mapper": """
            SELECT p_partkey, p_name AS part_name, p_retailprice AS price FROM part
        """,
        "t_filter_fields": "SELECT s_suppkey, s_name FROM supplier",
        "t_field_rename": """
            SELECT r_regionkey AS "R_REGIONKEY", r_name AS "R_NAME" FROM region
        """,
        "t_replace": """
            SELECT p_partkey, replace(p_name, ' ', '_') AS p_name FROM part
        """,
        "t_split": """
            SELECT c_custkey, c_name,
                   split_part(c_name, '#', 1) AS name_prefix,
                   split_part(c_name, '#', 2) AS name_num
            FROM customer
        """,
        "t_jsonpath": """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
            FROM events
        """,
        "t_rowkind": """
            SELECT event_id,
                   CASE WHEN event_type IN ('click', 'view') THEN 'INSERT'
                        WHEN event_type = 'signup'   THEN 'UPDATE_AFTER'
                        WHEN event_type = 'purchase' THEN 'UPDATE_BEFORE'
                   END AS rk
            FROM events WHERE event_type <> 'error'
        """,
        "t_table_merge": """
            SELECT n_nationkey, n_name, n_regionkey,
                   'db.nation_all' AS __table_id
            FROM nation
        """,
        "t_sql_functions": """
            SELECT p_partkey,
                   upper(p_name)                        AS up_name,
                   lower(p_brand)                       AS low_brand,
                   substring(p_type, 1, 5)              AS type5,
                   concat_ws('-', p_brand, p_type)      AS brand_type,
                   CAST(length(p_name) AS INTEGER)      AS name_len,
                   lpad(p_brand, 12, '*')               AS brand_pad,
                   replace(p_type, ' ', '_')            AS type_u,
                   abs(0 - p_size)                      AS abs_size,
                   mod(p_size, 5)                       AS size_mod,
                   CAST(ceil(p_retailprice) AS BIGINT)  AS price_ceil,
                   CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
                   coalesce(NULL, p_brand)              AS co_brand,
                   CASE WHEN p_size > 25 THEN 'big' ELSE 'small' END AS size_class
            FROM part
        """,
        "t_zeta_datetime": """
            SELECT o_orderkey,
                   CAST(year(o_orderdate) AS INTEGER)      AS y,
                   CAST(quarter(o_orderdate) AS INTEGER)   AS q,
                   CAST(month(o_orderdate) AS INTEGER)     AS m,
                   CAST(day(o_orderdate) AS INTEGER)       AS dom,
                   CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
                   strftime(o_orderdate, '%Y-%m-%d')       AS ds,
                   CAST(hour(o_orderdate) AS INTEGER)      AS hr
            FROM orders
        """,
        "dedup_exact": """
            SELECT md5(text) AS digest, min(doc_id) AS keep_id,
                   count(*) AS dup_count
            FROM documents GROUP BY md5(text)
        """,
        "dedup_fingerprint": """
            SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
                     '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fingerprint,
                   min(doc_id) AS keep_id, count(*) AS dup_count
            FROM documents GROUP BY 1
        """,
        "dedup_minhash_pairs": f"""
            WITH {shingle_cte},
            sig AS (
              -- four 32-bit slices per md5 digest = four hash families
              -- (mirrors minhash_signatures' slice construction)
              SELECT doc_id,
                     min(substr(md5(sh || '#0'),  1, 8)) AS mh_0,
                     min(substr(md5(sh || '#0'),  9, 8)) AS mh_1,
                     min(substr(md5(sh || '#0'), 17, 8)) AS mh_2,
                     min(substr(md5(sh || '#0'), 25, 8)) AS mh_3,
                     min(substr(md5(sh || '#1'),  1, 8)) AS mh_4,
                     min(substr(md5(sh || '#1'),  9, 8)) AS mh_5,
                     min(substr(md5(sh || '#1'), 17, 8)) AS mh_6,
                     min(substr(md5(sh || '#1'), 25, 8)) AS mh_7
              FROM shingles GROUP BY doc_id
            ),
            buckets AS (
              SELECT doc_id, 0 AS band, mh_0 || '|' || mh_1 AS key FROM sig
              UNION ALL SELECT doc_id, 1, mh_2 || '|' || mh_3 FROM sig
              UNION ALL SELECT doc_id, 2, mh_4 || '|' || mh_5 FROM sig
              UNION ALL SELECT doc_id, 3, mh_6 || '|' || mh_7 FROM sig
            )
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM buckets a JOIN buckets b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        """,
        "dedup_jaccard_pairs": f"""
            WITH {shingle_cte},
            shl AS (
              SELECT doc_id, lang, list(DISTINCT sh) AS sh
              FROM shingles GROUP BY doc_id, lang
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.sh, b.sh))
                         / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
            FROM shl a JOIN shl b
              ON a.lang = b.lang AND a.doc_id < b.doc_id
            WHERE len(list_intersect(a.sh, b.sh))
                  / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2
        """,
        "dedup_apply": f"""
            WITH RECURSIVE {shingle_cte},
            shl AS (
              SELECT doc_id, lang, list(DISTINCT sh) AS sh
              FROM shingles GROUP BY doc_id, lang
            ),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM shl a JOIN shl b
                ON a.lang = b.lang AND a.doc_id < b.doc_id
              WHERE len(list_intersect(a.sh, b.sh))
                    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2
            ),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs
            ),
            reach(id, label) AS (
              SELECT DISTINCT src, src FROM edges
              UNION
              SELECT e.src, r.label FROM edges e JOIN reach r ON r.id = e.dst
            ),
            clusters AS (
              SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id
            )
            SELECT source,
                   count(*) AS kept_docs,
                   CAST(sum(n_chars) AS BIGINT) AS kept_chars
            FROM documents
            WHERE doc_id NOT IN (SELECT id FROM clusters
                                 WHERE id != cluster_id)
            GROUP BY source
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE {shingle_cte},
            shl AS (
              SELECT doc_id, lang, list(DISTINCT sh) AS sh
              FROM shingles GROUP BY doc_id, lang
            ),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM shl a JOIN shl b
                ON a.lang = b.lang AND a.doc_id < b.doc_id
              WHERE len(list_intersect(a.sh, b.sh))
                    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2
            ),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs
            ),
            reach(id, label) AS (
              SELECT DISTINCT src, src FROM edges
              UNION
              SELECT e.src, r.label FROM edges e JOIN reach r ON r.id = e.dst
            )
            SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id
        """,
        "dedup_keep_best": f"""
            WITH RECURSIVE {shingle_cte},
            shl AS (
              SELECT doc_id, lang, list(DISTINCT sh) AS sh
              FROM shingles GROUP BY doc_id, lang
            ),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM shl a JOIN shl b
                ON a.lang = b.lang AND a.doc_id < b.doc_id
              WHERE len(list_intersect(a.sh, b.sh))
                    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2
            ),
            cedges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs
            ),
            reach(id, label) AS (
              SELECT DISTINCT src, src FROM cedges
              UNION
              SELECT e.src, r.label
              FROM cedges e JOIN reach r ON r.id = e.dst
            ),
            clusters AS (
              SELECT id, MIN(label) AS cluster_id
              FROM reach GROUP BY id
            ),
            qsig AS (
              SELECT doc_id,
                     len(ws) AS n_words,
                     CASE WHEN len(ws) > 0
                          THEN list_sum(list_transform(ws,
                               w -> length(w))) * 1.0 / len(ws)
                          ELSE 0.0 END AS mwl,
                     CASE WHEN length(text) > 0
                          THEN (length(text)
                                - length(regexp_replace(text,
                                  '[^A-Za-z0-9\\s]', '', 'g')))
                               * 1.0 / length(text)
                          ELSE 0.0 END AS punct,
                     len(list_intersect(
                       list_distinct(list_transform(ws,
                                                    w -> lower(w))),
                       ['the','of','and','to','in','a','is','that',
                        'for','it','as','was','with','be','by','on',
                        'not','he','this','are'])) AS stop_hits
              FROM (SELECT doc_id, text,
                           string_split_regex(trim(text), '\\s+')
                             AS ws
                    FROM documents)
            ),
            qsw AS (
              SELECT doc_id,
                     round(least(n_words / 50.0, 1.0) * 0.35
                           + CASE WHEN mwl >= 3 AND mwl <= 10
                                  THEN 0.25 ELSE 0.0 END
                           + CASE WHEN punct <= 0.2
                                  THEN 0.2 ELSE 0.0 END
                           + least(stop_hits / 5.0, 1.0) * 0.2, 4)
                       AS quality_score
              FROM qsig
            ),
            keyed AS (
              SELECT coalesce(c.cluster_id, q.doc_id) AS cluster_id,
                     q.doc_id, q.quality_score,
                     CAST(round(q.quality_score * 10000, 0) AS BIGINT)
                       * 10000000000
                       + (9999999999 - q.doc_id) AS k
              FROM qsw q LEFT JOIN clusters c ON q.doc_id = c.id
            )
            SELECT cluster_id, count(*) AS n_members,
                   arg_max(doc_id, k) AS doc_id,
                   arg_max(quality_score, k) AS quality_score
            FROM keyed GROUP BY cluster_id
        """,
        "text_quality": """
            WITH w AS (
              SELECT doc_id, text,
                     string_split_regex(trim(text), '\\s+') AS ws,
                     length(text) AS nc
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(ws) AS INTEGER) AS n_words,
                   CAST(nc AS INTEGER) AS n_chars_calc,
                   round(list_sum(list_transform(ws, w -> length(w))) * 1.0
                         / len(ws), 4) AS mean_word_len,
                   round((nc - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))
                         * 1.0 / nc, 4) AS punct_ratio,
                   round(length(regexp_replace(text, '[^0-9]', '', 'g'))
                         * 1.0 / nc, 4) AS digit_ratio,
                   CAST(len(list_intersect(
                     list_distinct(list_transform(ws, w -> lower(w))),
                     ['the','of','and','to','in','a','is','that','for','it',
                      'as','was','with','be','by','on','not','he','this','are']
                   )) AS INTEGER) AS stop_hits
            FROM w
        """,
        # Same signal arithmetic as text_quality (UNROUNDED signals
        # feed the weights, exactly as quality_score composes them),
        # then the literal weight formula.
        "text_quality_score": """
            WITH w AS (
              SELECT doc_id, text,
                     string_split_regex(trim(text), '\\s+') AS ws,
                     length(text) AS nc
              FROM documents
            ), sig AS (
              SELECT doc_id,
                     len(ws) AS n_words,
                     CASE WHEN len(ws) > 0
                          THEN list_sum(list_transform(ws,
                               w -> length(w))) * 1.0 / len(ws)
                          ELSE 0.0 END AS mwl,
                     CASE WHEN nc > 0
                          THEN (nc - length(regexp_replace(text,
                               '[^A-Za-z0-9\\s]', '', 'g'))) * 1.0 / nc
                          ELSE 0.0 END AS punct,
                     len(list_intersect(
                       list_distinct(list_transform(ws,
                                                    w -> lower(w))),
                       ['the','of','and','to','in','a','is','that',
                        'for','it','as','was','with','be','by','on',
                        'not','he','this','are'])) AS stop_hits
              FROM w
            )
            SELECT doc_id,
                   round(least(n_words / 50.0, 1.0) * 0.35
                         + CASE WHEN mwl >= 3 AND mwl <= 10
                                THEN 0.25 ELSE 0.0 END
                         + CASE WHEN punct <= 0.2
                                THEN 0.2 ELSE 0.0 END
                         + least(stop_hits / 5.0, 1.0) * 0.2, 4)
                     AS quality_score
            FROM sig
        """,
        "text_langid": """
            WITH w AS (
              SELECT doc_id,
                     list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS ws
              FROM documents
            ), h AS (
              SELECT doc_id,
                CAST(len(list_intersect(ws, ['the','and','of','to','is','that','with','for'])) AS INTEGER) AS en_hits,
                CAST(len(list_intersect(ws, ['der','die','und','das','ist','nicht','ein','mit'])) AS INTEGER) AS de_hits,
                CAST(len(list_intersect(ws, ['le','la','les','et','est','une','dans','pour'])) AS INTEGER) AS fr_hits,
                CAST(len(list_intersect(ws, ['el','los','las','es','una','para','con','por'])) AS INTEGER) AS es_hits,
                CAST(len(list_intersect(ws, ['il','che','di','non','una','per','sono','con'])) AS INTEGER) AS it_hits
              FROM w
            )
            SELECT doc_id,
                   CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits, it_hits) = 0 THEN 'und'
                        WHEN it_hits = greatest(en_hits, de_hits, fr_hits, es_hits, it_hits) THEN 'it'
                        WHEN fr_hits = greatest(en_hits, de_hits, fr_hits, es_hits, it_hits) THEN 'fr'
                        WHEN es_hits = greatest(en_hits, de_hits, fr_hits, es_hits, it_hits) THEN 'es'
                        WHEN en_hits = greatest(en_hits, de_hits, fr_hits, es_hits, it_hits) THEN 'en'
                        ELSE 'de'
                   END AS lang_pred,
                   en_hits, de_hits, fr_hits, es_hits, it_hits
            FROM h
        """,
        "text_tokens": """
            SELECT doc_id,
                   CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS ws_tokens,
                   md5(text) AS content_md5
            FROM documents
        """,
        "text_repetition": """
            WITH w AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\\s+') AS ws
              FROM documents
            ),
            c1 AS (
              SELECT doc_id, g, count(*) AS n
              FROM (SELECT doc_id, unnest(ws) AS g FROM w)
              GROUP BY 1, 2
            ),
            s1 AS (
              SELECT doc_id, SUM(n) AS n_words, MAX(n) AS top_word_n,
                     COUNT(*) AS distinct_words
              FROM c1 GROUP BY 1
            ),
            c2 AS (
              SELECT doc_id, g, count(*) AS n
              FROM (SELECT doc_id,
                           unnest(list_transform(
                             list_zip(ws[1:len(ws) - 1], ws[2:]),
                             x -> x[1] || ' ' || x[2])) AS g
                    FROM w)
              WHERE g IS NOT NULL
              GROUP BY 1, 2
            ),
            s2 AS (
              SELECT doc_id, SUM(n) AS n_2grams, MAX(n) AS top_2gram_n
              FROM c2 GROUP BY 1
            )
            SELECT s1.doc_id,
                   CAST(s1.n_words AS BIGINT) AS n_words,
                   CAST(s1.distinct_words AS BIGINT) AS distinct_words,
                   round(s1.distinct_words * 1.0 / s1.n_words, 4)
                     AS type_token_ratio,
                   round(s1.top_word_n * 1.0 / s1.n_words, 4)
                     AS top_word_frac,
                   round(coalesce(s2.top_2gram_n * 1.0 / s2.n_2grams, 0), 4)
                     AS top_2gram_frac
            FROM s1 LEFT JOIN s2 ON s1.doc_id = s2.doc_id
        """,
        "text_quality_filter": """
            WITH w AS (
              SELECT doc_id, text,
                     string_split_regex(trim(text), '\\s+') AS ws,
                     length(text) AS nc
              FROM documents
            ), sig AS (
              SELECT doc_id,
                     len(ws) AS n_words,
                     list_sum(list_transform(ws, w -> length(w))) * 1.0
                       / len(ws) AS mean_word_len,
                     (nc - length(regexp_replace(text, '[^A-Za-z0-9\\s]',
                                                 '', 'g'))) * 1.0 / nc
                       AS punct_ratio,
                     len(list_intersect(
                       list_distinct(list_transform(ws, w -> lower(w))),
                       ['the','of','and','to','in','a','is','that','for','it',
                        'as','was','with','be','by','on','not','he','this',
                        'are'])) AS stop_hits
              FROM w
            )
            SELECT doc_id,
                   n_words >= 10 AS r_min_words,
                   mean_word_len BETWEEN 3.0 AND 12.0 AS r_word_len,
                   punct_ratio <= 0.3 AS r_punct,
                   stop_hits >= 1 AS r_stopwords,
                   (n_words >= 10 AND mean_word_len BETWEEN 3.0 AND 12.0
                    AND punct_ratio <= 0.3 AND stop_hits >= 1) AS keep
            FROM sig
        """,
        "text_pii_redact": """
            WITH pii AS (
              SELECT doc_id,
                     text || ' contact u' || doc_id
                          || '@example.com or +555 123 4567 at 192.168.'
                          || (doc_id % 255) || '.9' AS t
              FROM documents
            )
            SELECT doc_id,
                   len(regexp_extract_all(t,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                     AS n_email,
                   len(regexp_extract_all(t,
                     '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
                     AS n_ipv4,
                   len(regexp_extract_all(t,
                     '\\+?\\d{3}[- ]\\d{3}[- ]\\d{4}')) AS n_phone,
                   regexp_replace(regexp_replace(regexp_replace(t,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
                     '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                     '<IPV4>', 'g'),
                     '\\+?\\d{3}[- ]\\d{3}[- ]\\d{4}', '<PHONE>', 'g')
                     AS redacted
            FROM pii
        """,
        "text_lm_score": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), '\\s+'))
                       AS tok
              FROM documents
            ), counts AS (
              SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
            ), stats AS (
              SELECT CAST(sum(cnt) AS BIGINT) AS total,
                     count(*) AS vocab
              FROM counts
            ), scored AS (
              SELECT t.doc_id,
                     ln((c.cnt + 0.5) / (s.total + 0.5 * s.vocab)) AS lp
              FROM toks t JOIN counts c USING (tok) CROSS JOIN stats s
            )
            SELECT doc_id, count(*) AS n_tokens,
                   round(avg(lp), 6) AS avg_logprob
            FROM scored GROUP BY doc_id
        """,
        "text_tfidf_keywords": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), '\\s+'))
                       AS tok
              FROM documents
            ), tf AS (
              SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
            ), dfq AS (
              SELECT tok, count(*) AS df FROM tf GROUP BY tok
            ), n AS (
              SELECT count(*) AS n FROM documents
            ), scored AS (
              SELECT doc_id, tok,
                     tf * ln((n.n + 1.0) / (df + 1)) AS score
              FROM tf JOIN dfq USING (tok) CROSS JOIN n
            ), ranked AS (
              SELECT doc_id, tok,
                     row_number() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, tok ASC) AS r
              FROM scored
            )
            SELECT doc_id, string_agg(tok, ' ' ORDER BY r) AS keywords
            FROM ranked WHERE r <= 3 GROUP BY doc_id
        """,
        "decontam_ngram": """
            WITH toks AS (
              SELECT doc_id,
                     string_split_regex(trim(text), '\\s+') AS t
              FROM documents
            ), grams AS (
              SELECT doc_id, array_to_string(t[i:i+12], ' ') AS gram
              FROM toks,
                   unnest(generate_series(1, greatest(len(t) - 12, 0)))
                     AS u(i)
            ), bench AS (
              SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0
            ), hits AS (
              SELECT g.doc_id, count(DISTINCT g.gram) AS h
              FROM grams g JOIN bench b USING (gram)
              GROUP BY g.doc_id
            )
            SELECT d.doc_id,
                   coalesce(h.h, 0) AS ngram_hits,
                   coalesce(h.h, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
        """,
        "sample_split": """
            SELECT doc_id,
                   CASE WHEN b < 9000 THEN 'train'
                        WHEN b < 9500 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         ('0x' || substr(md5(doc_id::varchar), 1, 8))::BIGINT
                           % 10000 AS b
                  FROM documents)
        """,
        # Same token counting, weight map, rounding and ceil in SQL;
        # NULLIF replays try_divide.
        "sample_mixture_plan": r"""
            WITH agg AS (
              SELECT source AS domain, count(*) AS n_docs,
                     sum(CASE WHEN trim(text) = '' THEN 0
                         ELSE len(string_split_regex(trim(text),
                                                     '\s+')) END)
                       AS n_tokens
              FROM documents GROUP BY 1
            ), w AS (
              SELECT domain, n_docs, n_tokens,
                     CASE domain WHEN 'src0' THEN 0.5
                                 WHEN 'src1' THEN 0.3
                                 WHEN 'src2' THEN 0.2
                                 ELSE 0.0 END AS wt
              FROM agg
            )
            SELECT domain, n_docs, n_tokens,
                   CAST(round(wt * 6000) AS BIGINT) AS target_tokens,
                   coalesce(round(CAST(round(wt * 6000) AS BIGINT)
                                  / NULLIF(CAST(n_tokens AS DOUBLE), 0),
                                  6), 0.0) AS rate,
                   CAST(ceil(coalesce(round(
                          CAST(round(wt * 6000) AS BIGINT)
                          / NULLIF(CAST(n_tokens AS DOUBLE), 0), 6),
                        0.0)) AS INT) AS epochs
            FROM w
            WHERE CAST(round(wt * 6000) AS BIGINT) > 0
        """,
        # Epoch explode + md5(id#epoch) membership for the fractional
        # last pass, replayed verbatim.
        "sample_mixture_apply": r"""
            WITH agg AS (
              SELECT source AS domain, count(*) AS n_docs,
                     sum(CASE WHEN trim(text) = '' THEN 0
                         ELSE len(string_split_regex(trim(text),
                                                     '\s+')) END)
                       AS n_tokens
              FROM documents GROUP BY 1
            ), plan AS (
              SELECT domain,
                     coalesce(round(
                       CAST(round(CASE domain WHEN 'src0' THEN 0.5
                                              WHEN 'src1' THEN 0.3
                                              WHEN 'src2' THEN 0.2
                                              ELSE 0.0 END * 6000)
                            AS BIGINT)
                       / NULLIF(CAST(n_tokens AS DOUBLE), 0), 6), 0.0)
                       AS rate
              FROM agg
            ), pl2 AS (
              SELECT domain, rate,
                     CAST(ceil(rate) AS INT) AS epochs
              FROM plan WHERE ceil(rate) > 0
            ), exploded AS (
              SELECT d.source, d.doc_id, p.rate, p.epochs, t.epoch
              FROM documents d JOIN pl2 p ON d.source = p.domain,
                   LATERAL (SELECT unnest(generate_series(1, p.epochs))
                            AS epoch) t
            )
            SELECT source, epoch, count(*) AS n_docs
            FROM exploded
            WHERE epoch < epochs
               OR ('0x' || substr(md5(doc_id::VARCHAR || '#' ||
                                      epoch::VARCHAR), 1, 8))::BIGINT
                  % 10000 < floor((rate - (epochs - 1)) * 10000)
            GROUP BY source, epoch
            ORDER BY source, epoch
        """,
        # Content-keyed split replay: hash_bucket stringifies its key
        # column before hashing, so the bucket is md5(md5(text)).
        "sample_leakage_split": """
            WITH s AS (
              SELECT text,
                     CASE WHEN b < 8000 THEN 'train'
                          WHEN b < 9000 THEN 'val'
                          ELSE 'test' END AS split
              FROM (SELECT text,
                           ('0x' || substr(md5(md5(text)), 1, 8))::BIGINT
                             % 10000 AS b
                    FROM documents)
            )
            SELECT split, count(*) AS n_docs,
                   count(DISTINCT text) AS n_texts
            FROM s GROUP BY split ORDER BY split
        """,
        "pack_docs": """
            WITH t AS (
              SELECT doc_id,
                     len(string_split_regex(trim(text), '\\s+'))::BIGINT
                       AS n_tokens
              FROM documents
            ), o AS (
              SELECT doc_id, n_tokens,
                     CAST(coalesce(sum(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS "offset"
              FROM t
            )
            SELECT doc_id, n_tokens, "offset",
                   "offset" // 512 AS pack_id,
                   "offset" % 512 AS pack_offset
            FROM o
        """,
        "sample_stratified": """
            SELECT doc_id, lang FROM documents
            WHERE ('0x' || substr(md5(doc_id::varchar), 1, 8))::BIGINT
                    % 10000 <
                  CASE lang WHEN 'en' THEN 6000 WHEN 'fr' THEN 5000
                            WHEN 'de' THEN 4000 WHEN 'es' THEN 3000
                            WHEN 'zh' THEN 2000 ELSE 0 END
        """,
        "sample_domain_mix": """
            WITH c AS (
              SELECT lang, count(*) AS n_d FROM documents GROUP BY lang
            ), k AS (
              SELECT lang,
                     floor((SELECT min(n_d) FROM c) * 10000 / n_d) AS kb
              FROM c
            )
            SELECT d.doc_id, d.lang
            FROM documents d JOIN k USING (lang)
            WHERE ('0x' || substr(md5(d.doc_id::varchar), 1, 8))::BIGINT
                    % 10000 < kb
        """,
        "sim_hard_negatives": """
            WITH q AS (
              SELECT vec_id AS qid, embedding::DOUBLE[] AS qv,
                     label AS ql
              FROM embeddings WHERE vec_id < 5
            ), c AS (
              SELECT vec_id AS cid, embedding::DOUBLE[] AS cv,
                     label AS cl
              FROM embeddings
            ), s AS (
              SELECT qid, cid,
                     round(list_dot_product(qv, cv)
                           / (sqrt(list_dot_product(qv, qv))
                              * sqrt(list_dot_product(cv, cv))), 4)
                       AS cosine
              FROM q JOIN c ON q.ql <> c.cl
            ), r AS (
              SELECT qid AS query_id, cid AS match_id, cosine,
                     CAST(row_number() OVER (
                       PARTITION BY qid
                       ORDER BY cosine DESC, cid ASC) AS INTEGER)
                       AS rank
              FROM s
            )
            SELECT query_id, match_id, cosine, rank
            FROM r WHERE rank <= 10
        """,
        "sim_topk": """
            WITH q AS (
              SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id < 5
            ), c AS (
              SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings
            ), s AS (
              SELECT qid, cid,
                     round(list_dot_product(qv, cv)
                           / (sqrt(list_dot_product(qv, qv))
                              * sqrt(list_dot_product(cv, cv))), 4) AS cosine
              FROM q, c
            ), r AS (
              SELECT qid AS query_id, cid AS match_id, cosine,
                     CAST(row_number() OVER (
                       PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS INTEGER) AS rank
              FROM s
            )
            SELECT query_id, match_id, cosine, rank FROM r WHERE rank <= 10
        """,
        # Same per-user conditional-min + strict-order flags as
        # q_funnel, over the signup->click->purchase step list the
        # streaming entry uses.
        # Per-day HLL register build + the exact-integer estimator —
        # the grouped form of the q_hll_distinct replay over user_id.
        "stream_hll_dau": """
            WITH h AS (
              SELECT CAST(ts AS DATE) AS day,
                     CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2) AS INT) AS reg,
                     CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 14) AS BIGINT) AS w
              FROM events WHERE user_id IS NOT NULL
            ), r AS (
              SELECT day, reg,
                     max(CASE WHEN w = 0 THEN 57
                              ELSE 56 - length(bin(w)) + 1 END) AS rho
              FROM h GROUP BY 1, 2
            ), agg AS (
              SELECT day,
                     sum(((CAST(1 AS BIGINT) << (63 - rho)))::HUGEINT)
                       AS s,
                     count(*) AS nz
              FROM r GROUP BY 1
            )
            SELECT day,
                   round(CASE WHEN 4.341691417504662e+23
                                   / CAST(s + (256 - nz)::HUGEINT
                                     * 9223372036854775808::HUGEINT
                                     AS DOUBLE) <= 640.0
                              AND nz < 256
                         THEN 256.0 * ln(256.0 / (256 - nz))
                         ELSE 4.341691417504662e+23
                              / CAST(s + (256 - nz)::HUGEINT
                                * 9223372036854775808::HUGEINT
                                AS DOUBLE) END, 2) AS est
            FROM agg
        """,
        "stream_funnel": """
            WITH per_user AS (
              SELECT user_id,
                     min(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
                     min(CASE WHEN event_type = 'click' THEN ts END) AS t1,
                     min(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
              FROM events GROUP BY user_id
            ), flags AS (
              SELECT CAST(t0 IS NOT NULL AS BIGINT) AS s0,
                     CAST(t0 IS NOT NULL AND t1 IS NOT NULL
                          AND t1 > t0 AS BIGINT) AS s1,
                     CAST(t0 IS NOT NULL AND t1 IS NOT NULL AND t1 > t0
                          AND t2 IS NOT NULL AND t2 > t1 AS BIGINT) AS s2
              FROM per_user
            )
            SELECT 'signup' AS step, 0 AS step_idx,
                   CAST(sum(s0) AS BIGINT) AS users
              FROM flags
            UNION ALL
            SELECT 'click', 1, CAST(sum(s1) AS BIGINT) FROM flags
            UNION ALL
            SELECT 'purchase', 2, CAST(sum(s2) AS BIGINT) FROM flags
        """,
        "stream_session_window": """
            WITH o AS (
              SELECT user_id, ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR ts > lag(ts) OVER w
                                    + INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS brk
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
              SELECT user_id, ts, value,
                     sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
              FROM o
            )
            SELECT user_id,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS ss,
                   strftime(max(ts) + INTERVAL 30 MINUTE,
                            '%Y-%m-%d %H:%M:%S') AS se,
                   count(*) AS n,
                   round(sum(value), 2) AS sv
            FROM s GROUP BY user_id, sid
        """,
        "stream_dedup_ids": """
            SELECT DISTINCT event_id, user_id, event_type FROM events
        """,
        "stream_interval_join_events": """
            SELECT c.user_id, c.event_id AS click_id, b.event_id AS buy_id
            FROM events c JOIN events b
              ON c.user_id = b.user_id
             AND b.ts >= c.ts AND b.ts <= c.ts + INTERVAL 30 MINUTE
            WHERE c.event_type = 'click' AND b.event_type = 'purchase'
        """,
        "stream_windowed_events": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws,
                   event_type, count(*) AS n, round(sum(value), 2) AS sv
            FROM events GROUP BY 1, 2
        """,
        "sim_pairs_exact": """
            WITH v AS (
              SELECT vec_id, embedding::DOUBLE[] AS e
              FROM embeddings WHERE vec_id < 60
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.e, b.e)
                         / (sqrt(list_dot_product(a.e, a.e))
                            * sqrt(list_dot_product(b.e, b.e))), 4) AS cosine
            FROM v a JOIN v b ON a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.e, b.e)
                        / (sqrt(list_dot_product(a.e, a.e))
                           * sqrt(list_dot_product(b.e, b.e))), 4) >= 0.3
        """,
        "pipe_job_dag": """
            SELECT o_orderstatus AS status, COUNT(*) AS n,
                   ROUND(SUM(o_totalprice), 2) AS total
            FROM orders GROUP BY o_orderstatus
        """,
        # Semantic ground truth for the CDC replay (see cdc_stitched
        # docstring): deletes (k%10=7) vanish; post-snapshot inserts
        # (k%3=0) carry the plain price (their c@1500+k outranks any
        # u@1000+k); snapshot keys with an applied update (k%4=1) get
        # +10; pre-watermark updates (k%4=2) never land.
        "cdc_stitched": """
            SELECT o_orderkey, o_orderstatus,
                   ROUND(CASE WHEN o_orderkey % 3 <> 0 AND o_orderkey % 4 = 1
                              THEN CAST(o_totalprice AS DOUBLE) + 10
                              ELSE CAST(o_totalprice AS DOUBLE) END, 2) AS price
            FROM orders
            WHERE o_orderkey <= 3000 AND o_orderkey % 10 <> 7
        """,
        # Ground truth for the lakehouse MERGE pipeline: last event per
        # user by (ts, event_id); a trailing 'error' (-D) removes the
        # user entirely.
        "lake_changelog": """
            WITH r AS (
              SELECT user_id, event_id, ts, value, event_type,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
              FROM events
            )
            SELECT user_id, event_id,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
                   round(value, 2) AS val
            FROM r WHERE rn = 1 AND event_type <> 'error'
        """,
        "dedup_embedding_pairs": """
            WITH v AS (
              SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.e, b.e)
                         / (sqrt(list_dot_product(a.e, a.e))
                            * sqrt(list_dot_product(b.e, b.e))), 4) AS cosine
            FROM v a JOIN v b ON a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.e, b.e)
                        / (sqrt(list_dot_product(a.e, a.e))
                           * sqrt(list_dot_product(b.e, b.e))), 4) >= 0.4
        """,
        "sim_lsh_topk": f"""
            WITH {lsh_cte},
            q AS (SELECT * FROM b WHERE vec_id < 5),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS match_id,
                     round(list_dot_product(q.emb, c.emb)
                           / (sqrt(list_dot_product(q.emb, q.emb))
                              * sqrt(list_dot_product(c.emb, c.emb))), 4) AS cosine
              FROM q JOIN b c ON q.bucket = c.bucket
            )
            SELECT query_id, match_id, cosine, CAST(rnk AS INTEGER) AS rank
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, match_id ASC) AS rnk FROM scored)
            WHERE rnk <= 10
        """,
        "dedup_embedding_lsh": f"""
            WITH {lsh_cte}
            SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
                   round(list_dot_product(a.emb, b2.emb)
                         / (sqrt(list_dot_product(a.emb, a.emb))
                            * sqrt(list_dot_product(b2.emb, b2.emb))), 4) AS cosine
            FROM b a JOIN b b2
              ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
            WHERE round(list_dot_product(a.emb, b2.emb)
                        / (sqrt(list_dot_product(a.emb, a.emb))
                           * sqrt(list_dot_product(b2.emb, b2.emb))), 4) >= 0.4
        """,
        # IVF multi-probe over the fixed seed-7 codebook: assign each
        # corpus vector to its argmax-cosine cell, probe each query's
        # top-2 cells, exact cosine + top-k inside. Centroids (and
        # their Python-computed norms) are full-precision literals.
        "dedup_semantic": f"""
            WITH e AS (
              SELECT vec_id, embedding::DOUBLE[] AS emb,
                     sqrt(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[])) AS nrm
              FROM embeddings
            ), sc AS (
              SELECT vec_id, emb, nrm, {{ivf_scores}} AS scores FROM e
            ), cells AS (
              SELECT vec_id AS id, emb, nrm,
                     (list_aggregate(scores, 'max')).i AS cell
              FROM sc
            ), dropped AS (
              SELECT DISTINCT b.id
              FROM cells a JOIN cells b ON a.cell = b.cell AND a.id < b.id
              WHERE round(list_dot_product(a.emb, b.emb)
                          / (a.nrm * b.nrm), 4) >= 0.4
            )
            SELECT c.id, c.cell, d.id IS NULL AS keep
            FROM cells c LEFT JOIN dropped d ON c.id = d.id
        """.format(ivf_scores=ivf_scores),
        # Recall@10 audit: recompute exact / LSH / IVF top-10 (the same
        # replays the three individual oracles use), then per-query
        # set-overlap per method.
        "sim_recall": f"""
            WITH {lsh_cte},
            ev AS (
              SELECT vec_id, emb,
                     sqrt(list_dot_product(emb, emb)) AS nrm
              FROM e
            ), exact AS (
              SELECT query_id, match_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS match_id,
                       row_number() OVER (PARTITION BY q.vec_id
                         ORDER BY round(list_dot_product(q.emb, c.emb)
                                        / (q.nrm * c.nrm), 4) DESC,
                                  c.vec_id ASC) AS rnk
                FROM (SELECT * FROM ev WHERE vec_id < 5) q
                CROSS JOIN ev c)
              WHERE rnk <= 10
            ), lsh AS (
              SELECT query_id, match_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS match_id,
                       row_number() OVER (PARTITION BY q.vec_id
                         ORDER BY round(list_dot_product(q.emb, c.emb)
                             / (sqrt(list_dot_product(q.emb, q.emb))
                                * sqrt(list_dot_product(c.emb, c.emb))),
                             4) DESC,
                                  c.vec_id ASC) AS rnk
                FROM (SELECT * FROM b WHERE vec_id < 5) q
                JOIN b c ON q.bucket = c.bucket)
              WHERE rnk <= 10
            ), sc AS (
              SELECT vec_id, emb, nrm, {ivf_scores} AS scores FROM ev
            ), cells AS (
              SELECT vec_id, emb, nrm,
                     (list_aggregate(scores, 'max')).i AS cell
              FROM sc
            ), qp AS (
              SELECT vec_id, emb, nrm,
                     unnest(list_transform(
                       list_slice(list_reverse_sort(scores), 1, 2),
                       s -> s.i)) AS cell
              FROM sc WHERE vec_id < 5
            ), ivf AS (
              SELECT query_id, match_id FROM (
                SELECT qp.vec_id AS query_id, c.vec_id AS match_id,
                       row_number() OVER (PARTITION BY qp.vec_id
                         ORDER BY round(list_dot_product(qp.emb, c.emb)
                                        / (qp.nrm * c.nrm), 4) DESC,
                                  c.vec_id ASC) AS rnk
                FROM qp JOIN cells c ON qp.cell = c.cell)
              WHERE rnk <= 10
            ), audits AS (
              SELECT 'lsh' AS method, ex.query_id,
                     count(*) AS n_true,
                     count(a.match_id) AS n_hits
              FROM exact ex LEFT JOIN lsh a
                ON ex.query_id = a.query_id
               AND ex.match_id = a.match_id
              GROUP BY 2
              UNION ALL
              SELECT 'ivf' AS method, ex.query_id,
                     count(*) AS n_true,
                     count(a.match_id) AS n_hits
              FROM exact ex LEFT JOIN ivf a
                ON ex.query_id = a.query_id
               AND ex.match_id = a.match_id
              GROUP BY 2
            )
            SELECT method, query_id, n_true, n_hits,
                   round(n_hits / n_true, 4) AS recall
            FROM audits
        """,
        "sim_hybrid_rrf": f"""
            WITH {lsh_cte},
            ev AS (
              SELECT vec_id, emb,
                     sqrt(list_dot_product(emb, emb)) AS nrm
              FROM e
            ), lsh AS (
              SELECT query_id, match_id, rnk FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS match_id,
                       row_number() OVER (PARTITION BY q.vec_id
                         ORDER BY round(list_dot_product(q.emb, c.emb)
                             / (sqrt(list_dot_product(q.emb, q.emb))
                                * sqrt(list_dot_product(c.emb, c.emb))),
                             4) DESC,
                                  c.vec_id ASC) AS rnk
                FROM (SELECT * FROM b WHERE vec_id < 5) q
                JOIN b c ON q.bucket = c.bucket)
              WHERE rnk <= 10
            ), sc AS (
              SELECT vec_id, emb, nrm, {ivf_scores} AS scores FROM ev
            ), cells AS (
              SELECT vec_id, emb, nrm,
                     (list_aggregate(scores, 'max')).i AS cell
              FROM sc
            ), qp AS (
              SELECT vec_id, emb, nrm,
                     unnest(list_transform(
                       list_slice(list_reverse_sort(scores), 1, 2),
                       s -> s.i)) AS cell
              FROM sc WHERE vec_id < 5
            ), ivf AS (
              SELECT query_id, match_id, rnk FROM (
                SELECT qp.vec_id AS query_id, c.vec_id AS match_id,
                       row_number() OVER (PARTITION BY qp.vec_id
                         ORDER BY round(list_dot_product(qp.emb, c.emb)
                                        / (qp.nrm * c.nrm), 4) DESC,
                                  c.vec_id ASC) AS rnk
                FROM qp JOIN cells c ON qp.cell = c.cell)
              WHERE rnk <= 10
            ), fused AS (
              SELECT query_id, match_id,
                     round(sum(1.0 / (60 + rnk)), 6) AS rrf_score
              FROM (SELECT * FROM lsh UNION ALL SELECT * FROM ivf)
              GROUP BY 1, 2
            )
            SELECT query_id, match_id, rrf_score,
                   CAST(rnk2 AS INTEGER) AS rank
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY rrf_score DESC, match_id ASC) AS rnk2
                  FROM fused)
            WHERE rnk2 <= 10
        """,
        "sim_ivf_topk": f"""
            WITH e AS (
              SELECT vec_id, embedding::DOUBLE[] AS emb,
                     sqrt(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[])) AS nrm
              FROM embeddings
            ), sc AS (
              SELECT vec_id, emb, nrm, {ivf_scores} AS scores FROM e
            ), cells AS (
              SELECT vec_id, emb, nrm,
                     (list_aggregate(scores, 'max')).i AS cell
              FROM sc
            ), qp AS (
              SELECT vec_id, emb, nrm,
                     unnest(list_transform(
                       list_slice(list_reverse_sort(scores), 1, 2),
                       s -> s.i)) AS cell
              FROM sc WHERE vec_id < 5
            ), scored AS (
              SELECT qp.vec_id AS query_id, c.vec_id AS match_id,
                     round(list_dot_product(qp.emb, c.emb)
                           / (qp.nrm * c.nrm), 4) AS cosine
              FROM qp JOIN cells c ON qp.cell = c.cell
            )
            SELECT query_id, match_id, cosine, CAST(rnk AS INTEGER) AS rank
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, match_id ASC) AS rnk FROM scored)
            WHERE rnk <= 10
        """,
        # corpus-scale hard negatives: the sim_ivf_topk cell/probe
        # replay with EVERY row as a query and the anti-label
        # predicate applied with the cell join, before ranking.
        "sim_hard_negatives_ivf": f"""
            WITH e AS (
              SELECT vec_id, label, embedding::DOUBLE[] AS emb,
                     sqrt(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[])) AS nrm
              FROM embeddings
            ), sc AS (
              SELECT vec_id, label, emb, nrm, {ivf_scores} AS scores
              FROM e
            ), cells AS (
              SELECT vec_id, label, emb, nrm,
                     (list_aggregate(scores, 'max')).i AS cell
              FROM sc
            ), qp AS (
              SELECT vec_id, label, emb, nrm,
                     unnest(list_transform(
                       list_slice(list_reverse_sort(scores), 1, 2),
                       s -> s.i)) AS cell
              FROM sc
            ), scored AS (
              SELECT qp.vec_id AS query_id, c.vec_id AS match_id,
                     round(list_dot_product(qp.emb, c.emb)
                           / (qp.nrm * c.nrm), 4) AS cosine
              FROM qp JOIN cells c
                ON qp.cell = c.cell AND qp.label <> c.label
            )
            SELECT query_id, match_id, cosine, CAST(rnk AS INTEGER) AS rank
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, match_id ASC) AS rnk FROM scored)
            WHERE rnk <= 5
        """,
        # SimHash replay: DuckDB recomputes the 64-bit signature from
        # md5 first-8-bytes sign sums over distinct whitespace tokens
        # (hex-parse = Python big-endian bytes; bit i = MSB-first, i.e.
        # (H >> (63-i)) & 1 — matches np.unpackbits in simhash64), then
        # brute-force hamming<=3 pairs. Spark's multi-index blocking is
        # lossless at this distance (pigeonhole), so blocked == exact.
        "dedup_simhash_pairs": """
            WITH d0 AS (
              SELECT doc_id, trim(text) AS tt FROM documents
              WHERE text IS NOT NULL
            ), ws AS (
              SELECT doc_id,
                     list_distinct(string_split_regex(tt, '\\s+')) AS ws
              FROM d0 WHERE tt <> ''
            ), w AS (
              SELECT doc_id, unnest(ws) AS w FROM ws
            ), h AS (
              SELECT doc_id,
                     ('0x' || substr(md5(w), 1, 16))::UBIGINT AS hv
              FROM w
            ), bits AS (
              SELECT doc_id, i,
                     CASE WHEN (hv >> (63 - i)) & 1 = 1 THEN 1 ELSE -1 END AS dlt
              FROM h, (SELECT unnest(range(64)) AS i) ii
            ), acc AS (
              SELECT doc_id, i, sum(dlt) AS a FROM bits GROUP BY doc_id, i
            ), sig AS (
              SELECT doc_id,
                     CAST(sum(CASE WHEN a <= 0 THEN 0
                                   WHEN i = 63 THEN -9223372036854775808
                                   ELSE (1::BIGINT << CAST(i AS INTEGER)) END)
                          AS BIGINT) AS simhash
              FROM acc GROUP BY doc_id
              UNION ALL
              SELECT doc_id, 0::BIGINT AS simhash FROM d0 WHERE tt = ''
            )
            SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b2.simhash)) AS INTEGER)
                     AS hamming
            FROM sig a JOIN sig b2 ON a.doc_id < b2.doc_id
            WHERE bit_count(xor(a.simhash, b2.simhash)) <= 3
        """,
        # incremental dedup: the same minhash/band construction as
        # dedup_minhash_pairs, but buckets split 80/20 by the
        # hash_bucket rule (first-8-hex md5(id) % 10000) into index
        # vs probe sides; n_bands = distinct agreeing bands.
        "dedup_incremental": f"""
            WITH {shingle_cte},
            sig AS (
              SELECT doc_id,
                     min(substr(md5(sh || '#0'),  1, 8)) AS mh_0,
                     min(substr(md5(sh || '#0'),  9, 8)) AS mh_1,
                     min(substr(md5(sh || '#0'), 17, 8)) AS mh_2,
                     min(substr(md5(sh || '#0'), 25, 8)) AS mh_3,
                     min(substr(md5(sh || '#1'),  1, 8)) AS mh_4,
                     min(substr(md5(sh || '#1'),  9, 8)) AS mh_5,
                     min(substr(md5(sh || '#1'), 17, 8)) AS mh_6,
                     min(substr(md5(sh || '#1'), 25, 8)) AS mh_7
              FROM shingles GROUP BY doc_id
            ),
            split AS (
              SELECT doc_id,
                     ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                       % 10000 AS hb
              FROM documents
            ),
            buckets AS (
              SELECT doc_id, 0 AS band, mh_0 || '|' || mh_1 AS key FROM sig
              UNION ALL SELECT doc_id, 1, mh_2 || '|' || mh_3 FROM sig
              UNION ALL SELECT doc_id, 2, mh_4 || '|' || mh_5 FROM sig
              UNION ALL SELECT doc_id, 3, mh_6 || '|' || mh_7 FROM sig
            ),
            nb AS (SELECT b.* FROM buckets b JOIN split s USING (doc_id)
                   WHERE s.hb >= 8000),
            eb AS (SELECT b.* FROM buckets b JOIN split s USING (doc_id)
                   WHERE s.hb < 8000)
            SELECT n.doc_id AS new_id, e.doc_id AS match_id,
                   count(DISTINCT n.band) AS n_bands
            FROM nb n JOIN eb e ON n.band = e.band AND n.key = e.key
            GROUP BY 1, 2
        """,
        # streaming probe: same split/band CTEs, one row per agreeing
        # band (the append-mode zero-state form — no n_bands agg).
        "stream_probe_index": f"""
            WITH {shingle_cte},
            sig AS (
              SELECT doc_id,
                     min(substr(md5(sh || '#0'),  1, 8)) AS mh_0,
                     min(substr(md5(sh || '#0'),  9, 8)) AS mh_1,
                     min(substr(md5(sh || '#0'), 17, 8)) AS mh_2,
                     min(substr(md5(sh || '#0'), 25, 8)) AS mh_3,
                     min(substr(md5(sh || '#1'),  1, 8)) AS mh_4,
                     min(substr(md5(sh || '#1'),  9, 8)) AS mh_5,
                     min(substr(md5(sh || '#1'), 17, 8)) AS mh_6,
                     min(substr(md5(sh || '#1'), 25, 8)) AS mh_7
              FROM shingles GROUP BY doc_id
            ),
            split AS (
              SELECT doc_id,
                     ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                       % 10000 AS hb
              FROM documents
            ),
            buckets AS (
              SELECT doc_id, 0 AS band, mh_0 || '|' || mh_1 AS key FROM sig
              UNION ALL SELECT doc_id, 1, mh_2 || '|' || mh_3 FROM sig
              UNION ALL SELECT doc_id, 2, mh_4 || '|' || mh_5 FROM sig
              UNION ALL SELECT doc_id, 3, mh_6 || '|' || mh_7 FROM sig
            ),
            nb AS (SELECT b.* FROM buckets b JOIN split s USING (doc_id)
                   WHERE s.hb >= 8000),
            eb AS (SELECT b.* FROM buckets b JOIN split s USING (doc_id)
                   WHERE s.hb < 8000)
            SELECT n.doc_id AS new_id, e.doc_id AS match_id, n.band
            FROM nb n JOIN eb e ON n.band = e.band AND n.key = e.key
        """,
        # argmin-per-group: correlated min-subquery as agg + join-back.
        "q_argmin_join": """
            WITH m AS (SELECT l_partkey,
                              min(l_extendedprice) AS min_price
                       FROM lineitem GROUP BY 1)
            SELECT l.l_partkey, m.min_price,
                   min(l.l_suppkey) AS best_supplier
            FROM lineitem l JOIN m ON l.l_partkey = m.l_partkey
            WHERE l.l_extendedprice = m.min_price
            GROUP BY 1, 2
        """,
        # passage-dedup APPLY: same chunking/digest/first-ordinal rules
        # as dedup_passages, then rebuild from kept chunks in position
        # order (string_agg ORDER BY pos == Spark's ordered array_join).
        "dedup_passage_apply": r"""
            WITH w AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+') AS ws
              FROM documents
            ), ch AS (
              SELECT doc_id, i - 1 AS pos,
                     array_to_string(ws[(i-1)*8+1 : i*8], ' ') AS chunk
              FROM w, unnest(generate_series(
                       1, cast(ceil(len(ws) / 8.0) AS BIGINT))) AS t(i)
            ), f AS (
              SELECT doc_id, pos, chunk,
                     doc_id * 1000000 + pos AS ord,
                     min(doc_id * 1000000 + pos)
                       OVER (PARTITION BY md5(chunk)) AS first_ord
              FROM ch
            ), agg AS (
              SELECT doc_id,
                     string_agg(chunk, ' ' ORDER BY pos) AS clean_text,
                     count(*) AS n_kept
              FROM f WHERE ord = first_ord GROUP BY doc_id
            ), nc AS (
              SELECT doc_id,
                     cast(ceil(len(ws) / 8.0) AS INT) AS n_chunks
              FROM w
            )
            SELECT nc.doc_id,
                   md5(coalesce(a.clean_text, '')) AS clean_md5,
                   length(coalesce(a.clean_text, '')) AS clean_len,
                   nc.n_chunks, coalesce(a.n_kept, 0) AS n_kept
            FROM nc LEFT JOIN agg a ON nc.doc_id = a.doc_id
        """,
        # temperature sampling: n^0.5 domain weights inside a
        # half-corpus budget; thr = round(p * 1e6) over the md5 hash
        # space (hash_bucket, dataops/sampling.py).
        "sample_temperature": """
            WITH c AS (
              SELECT source AS domain, count(*) AS n_docs
              FROM documents GROUP BY 1
            ), t AS (
              SELECT sum(pow(n_docs, 0.5)) AS z, sum(n_docs) AS N FROM c
            ), p AS (
              SELECT domain, n_docs,
                     cast(round(least(1.0,
                            0.5 * t.N * pow(n_docs, 0.5) / t.z / n_docs)
                          * 1000000) AS BIGINT) AS thr
              FROM c CROSS JOIN t
            ), b AS (
              SELECT source AS domain,
                     ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                       % 1000000 AS hb
              FROM documents
            )
            SELECT p.domain, p.n_docs, p.thr,
                   count(*) FILTER (WHERE b.hb < p.thr) AS n_sampled
            FROM b JOIN p USING (domain)
            GROUP BY 1, 2, 3
        """,
        # BM25: same whitespace tokenization as the Spark side, Lucene
        # idf = ln(1 + (N - df + .5)/(df + .5)), k1=1.2 b=0.75, score
        # rounded to 6 BEFORE ranking, ties on doc_id.
        "text_bm25": r"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
              FROM documents
            ),
            tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
            dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
            stats AS (SELECT count(*)::DOUBLE AS n,
                             sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
            q(query_id, query_text) AS (VALUES
              (0, 'spark table scan'), (1, 'hash join merge'),
              (2, 'window sort batch')),
            qt AS (SELECT DISTINCT query_id,
                          unnest(string_split_regex(trim(lower(query_text)),
                                                    '\s+')) AS tok
                   FROM q),
            dfreq AS (SELECT tok, count(*) AS df FROM tf
                      WHERE tok IN (SELECT tok FROM qt) GROUP BY 1),
            hits AS (
              SELECT qt.query_id, tf.doc_id,
                     ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
                     * (tf.tf * (1.2 + 1))
                       / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))
                       AS contrib
              FROM tf JOIN qt USING (tok) JOIN dfreq d USING (tok)
                   JOIN dl USING (doc_id) CROSS JOIN stats s
            ),
            scored AS (SELECT query_id, doc_id,
                              round(sum(contrib), 6) AS score
                       FROM hits GROUP BY 1, 2)
            SELECT query_id, doc_id, score, rank
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY score DESC, doc_id) AS rank
                  FROM scored)
            WHERE rank <= 10
        """,
        # PageRank, 2 unrolled iterations over the symmetrized
        # customer<->supplier graph; ranks rounded to 6 per iteration
        # exactly like the Spark loop (dataops/graph.py).
        "q_pagerank": """
            WITH je AS (SELECT DISTINCT 'c' || o_custkey AS src,
                               's' || l_suppkey AS dst
                        FROM lineitem JOIN orders
                          ON l_orderkey = o_orderkey),
            edges AS (SELECT src, dst FROM je
                      UNION SELECT dst, src FROM je),
            nodes AS (SELECT DISTINCT src AS node FROM edges),
            n AS (SELECT count(*)::DOUBLE AS n FROM nodes),
            deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
            r0 AS (SELECT node, 1.0::DOUBLE / n.n AS r
                   FROM nodes CROSS JOIN n),
            c1 AS (SELECT e.dst AS node, sum(r0.r / deg.deg) AS s
                   FROM edges e JOIN deg ON e.src = deg.src
                        JOIN r0 ON e.src = r0.node
                   GROUP BY 1),
            r1 AS (SELECT nodes.node,
                          round(0.15 / n.n
                                + 0.85 * coalesce(c1.s, 0), 6) AS r
                   FROM nodes CROSS JOIN n
                        LEFT JOIN c1 ON nodes.node = c1.node),
            c2 AS (SELECT e.dst AS node, sum(r1.r / deg.deg) AS s
                   FROM edges e JOIN deg ON e.src = deg.src
                        JOIN r1 ON e.src = r1.node
                   GROUP BY 1),
            r2 AS (SELECT nodes.node,
                          round(0.15 / n.n
                                + 0.85 * coalesce(c2.s, 0), 6) AS r
                   FROM nodes CROSS JOIN n
                        LEFT JOIN c2 ON nodes.node = c2.node)
            SELECT node, r AS rank FROM r2
        """,
        # RAG chunking: 32-word windows at stride 24; DuckDB list
        # slicing is 1-based inclusive so [start+1 : start+32] is
        # exactly Spark's slice(w, start+1, 32).
        "text_chunks": r"""
            WITH words AS (
              SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\s+') AS w
              FROM documents
            ),
            st AS (SELECT doc_id, w,
                          unnest(generate_series(0, greatest(len(w) - 1, 0),
                                                 24)) AS start
                   FROM words)
            SELECT doc_id, start // 24 AS chunk_id,
                   array_to_string(w[start + 1 : start + 32], ' ')
                     AS chunk_text,
                   least(32, len(w) - start) AS n_tokens
            FROM st
        """,
        # same RE2-safe regexp chain as html_clean (dataops/text.py):
        # script/style blocks, then tags, then entities (&amp; LAST so
        # &amp;lt; can't double-decode), then whitespace collapse.
        "text_html_clean": r"""
            WITH wrapped AS (
              SELECT doc_id,
                     '<html><head><style media="all">p{color:red}</style>'
                     || '</head><body><p class="doc">' || text
                     || '</p><script type="text/javascript">var x = 1 < 2;'
                     || '</script><br/>&amp;lt; &quot;done&quot;'
                     || '</body></html>' AS t
              FROM documents
            ), stripped AS (
              SELECT doc_id,
                 regexp_replace(regexp_replace(regexp_replace(t,
                     '(?is)<script[^>]*>.*?</script\s*>', ' ', 'g'),
                     '(?is)<style[^>]*>.*?</style\s*>', ' ', 'g'),
                     '(?s)<[^>]+>', ' ', 'g') AS t
              FROM wrapped
            ), decoded AS (
              SELECT doc_id,
                 replace(replace(replace(replace(replace(replace(t,
                     '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                     '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t
              FROM stripped
            )
            SELECT doc_id,
                   length(trim(regexp_replace(t, '\s+', ' ', 'g')))
                     AS clean_len,
                   md5(trim(regexp_replace(t, '\s+', ' ', 'g')))
                     AS clean_md5
            FROM decoded
        """,
        # chunk-granular exact-substring dedup: 8-word chunks, first
        # owner = min packed (doc_id*1e6 + pos) ordinal per md5(chunk)
        # — replays passage_dup_stats (dataops/dedup.py) exactly.
        "dedup_passages": r"""
            WITH w AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+') AS ws
              FROM documents
            ), ch AS (
              SELECT doc_id, i - 1 AS pos,
                     md5(array_to_string(ws[(i-1)*8+1 : i*8], ' ')) AS k
              FROM w, unnest(generate_series(
                       1, cast(ceil(len(ws) / 8.0) AS BIGINT))) AS t(i)
            ), f AS (
              SELECT doc_id, pos,
                     doc_id * 1000000 + pos AS ord,
                     min(doc_id * 1000000 + pos)
                       OVER (PARTITION BY k) AS first_ord
              FROM ch
            )
            SELECT doc_id, count(*) AS n_chunks,
                   count(*) FILTER (WHERE ord <> first_ord) AS n_dup_chunks,
                   round(count(*) FILTER (WHERE ord <> first_ord)
                         * 1.0 / count(*), 4) AS dup_frac
            FROM f GROUP BY doc_id
        """,
        # deterministic global shuffle: shard = first-8-hex of
        # md5(id:seed) mod 8; pos = rank within shard by full digest
        # (global_shuffle, dataops/sampling.py; seed 7).
        "sample_shuffle": """
            WITH d AS (
              SELECT doc_id,
                     md5(doc_id::VARCHAR || ':7') AS k
              FROM documents
            ), s AS (
              SELECT doc_id, k,
                     ('0x' || substr(k, 1, 8))::BIGINT % 8 AS shard
              FROM d
            )
            SELECT doc_id, shard,
                   row_number() OVER (
                     PARTITION BY shard ORDER BY k, doc_id) AS pos
            FROM s
        """,
        # symmetric int8 quantization + reconstruction MSE
        # (quantize_int8/dequant_error, dataops/embeddings.py);
        # round() is half-away-from-zero in BOTH engines (Java
        # HALF_UP == DuckDB double round), so codes match exactly.
        "emb_quantize": """
            WITH e AS (
              SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
            ), m AS (
              SELECT vec_id, x,
                     list_max(list_transform(x, v -> abs(v))) AS maxabs
              FROM e
            ), q AS (
              SELECT vec_id, x, maxabs,
                     list_transform(x, v -> cast(round(
                       v * 127.0 / (CASE WHEN maxabs = 0 THEN 1.0
                                         ELSE maxabs END)) AS INTEGER))
                       AS qv
              FROM m
            )
            SELECT vec_id,
                   round(maxabs, 6) AS scale_r,
                   list_sum(qv) AS q_sum,
                   len(list_filter(qv, v -> v <> 0)) AS q_nonzero,
                   round(list_sum(list_transform(
                       generate_series(1, len(x)),
                       i -> (x[i] - qv[i] * maxabs / 127.0)
                            * (x[i] - qv[i] * maxabs / 127.0)))
                     / len(x), 9) AS mse_r
            FROM q
        """,
        "emb_kmeans": _kmeans_oracle_sql(k=8, iters=2),
        "q7_volume_shipping": """
            SELECT supp_nation, cust_nation, l_year,
                   round(sum(volume), 2) AS revenue
            FROM (
              SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                     year(l_shipdate) AS l_year,
                     l_extendedprice * (1 - l_discount) AS volume
              FROM lineitem
              JOIN supplier ON s_suppkey = l_suppkey
              JOIN orders   ON o_orderkey = l_orderkey
              JOIN customer ON c_custkey = o_custkey
              JOIN nation n1 ON s_nationkey = n1.n_nationkey
              JOIN nation n2 ON c_nationkey = n2.n_nationkey
              WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                 OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
            )
            GROUP BY supp_nation, cust_nation, l_year
        """,
        "q18_large_orders": """
            WITH big AS (
              SELECT l_orderkey FROM lineitem
              GROUP BY l_orderkey HAVING sum(l_quantity) > 200
            )
            SELECT c_name, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   round(o_totalprice, 2) AS total_price,
                   round(sum(l_quantity), 2) AS total_qty
            FROM lineitem
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            WHERE l_orderkey IN (SELECT l_orderkey FROM big)
            GROUP BY c_name, o_orderkey, o_orderdate, total_price
        """,
        "q_cust_no_orders": """
            WITH a AS (
              SELECT round(avg(c_acctbal), 4) AS avg_bal
              FROM customer WHERE c_acctbal > 0
            )
            SELECT c_nationkey::INTEGER AS nationkey,
                   count(*) AS numcust,
                   round(sum(c_acctbal), 2) AS totacctbal
            FROM customer, a
            WHERE c_acctbal > a.avg_bal
              AND c_custkey NOT IN (SELECT o_custkey FROM orders
                                    WHERE o_orderpriority = '1-URGENT')
            GROUP BY nationkey
        """,
        "q_gapfill": """
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                     round(sum(value), 6) AS day_value
              FROM events GROUP BY 1, 2
            ), span AS (
              SELECT unnest(generate_series(
                       min(CAST(ts AS DATE)), max(CAST(ts AS DATE)),
                       INTERVAL 1 DAY))::DATE AS day
              FROM events
            ), spine AS (
              SELECT event_type, day
              FROM (SELECT DISTINCT event_type FROM events)
              CROSS JOIN span
            )
            SELECT s.event_type, strftime(s.day, '%Y-%m-%d') AS day,
                   d.day_value,
                   last_value(d.day_value IGNORE NULLS) OVER (
                     PARTITION BY s.event_type ORDER BY s.day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS filled_value,
                   d.day_value IS NOT NULL AS had_data
            FROM spine s LEFT JOIN daily d USING (event_type, day)
        """,
        # EXACT same semantics as decontam_ngram — the bloom is a
        # prefilter, the confirm join restores exactness.
        "decontam_bloom": """
            WITH toks AS (
              SELECT doc_id,
                     string_split_regex(trim(text), '\\s+') AS t
              FROM documents
            ), grams AS (
              SELECT doc_id, array_to_string(t[i:i+12], ' ') AS gram
              FROM toks,
                   unnest(generate_series(1, greatest(len(t) - 12, 0)))
                     AS u(i)
            ), bench AS (
              SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0
            ), hits AS (
              SELECT g.doc_id, count(DISTINCT g.gram) AS h
              FROM grams g JOIN bench b USING (gram)
              GROUP BY g.doc_id
            )
            SELECT d.doc_id,
                   coalesce(h.h, 0) AS ngram_hits,
                   coalesce(h.h, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
        """,
        "text_heavy_hitters": """
            SELECT token, count(*) AS cnt
            FROM (SELECT unnest(string_split_regex(
                           trim(lower(text)), '\\s+')) AS token
                  FROM documents)
            WHERE token <> ''
            GROUP BY token HAVING count(*) >= 50
        """,
        # The salted two-phase window is semantically identical to one
        # global rank per group: any group-wide top-k row is also a
        # top-k row of its own salt bucket, so phase 2 never loses a
        # candidate. The oracle states the single-window definition.
        "sample_group_topk": """
            SELECT source, doc_id, CAST(rnk AS INT) AS sample_rank
            FROM (SELECT source, doc_id,
                         row_number() OVER (
                           PARTITION BY source
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                         ) AS rnk
                  FROM documents)
            WHERE rnk <= 10
        """,
        # Bit-identical CMS replay: bucket keys are hex-string
        # prefixes of md5(token||'#d'), so DuckDB and Spark build the
        # exact same 4x4096 sketch and the min-over-rows estimates
        # match exactly.
        "text_cms_counts": """
            WITH ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
            tokens AS (
              SELECT token
              FROM (SELECT unnest(string_split_regex(
                             trim(lower(text)), '\\s+')) AS token
                    FROM documents)
              WHERE token <> ''
            ), cms AS (
              SELECT d,
                     substr(md5(token || '#' || CAST(d AS VARCHAR)),
                            1, 3) AS pos,
                     count(*) AS cnt
              FROM tokens CROSS JOIN ds
              GROUP BY d, pos
            ), probes AS (
              SELECT DISTINCT token
              FROM (SELECT unnest(string_split_regex(
                             trim(lower(text)), '\\s+')) AS token
                    FROM documents WHERE doc_id % 199 = 0)
              WHERE token <> ''
            ), keyed AS (
              SELECT p.token, ds.d,
                     substr(md5(p.token || '#' || CAST(ds.d AS VARCHAR)),
                            1, 3) AS pos
              FROM probes p CROSS JOIN ds
            )
            SELECT k.token, min(coalesce(c.cnt, 0)) AS est
            FROM keyed k
            LEFT JOIN cms c ON k.d = c.d AND k.pos = c.pos
            GROUP BY k.token
        """,
        "text_collocations": """
            WITH w AS (
              SELECT list_filter(string_split_regex(
                       trim(lower(text)), '\\s+'),
                     t -> t <> '') AS w
              FROM documents
            ), uni AS (
              SELECT unnest(w) AS t FROM w
            ), uc AS (
              SELECT t, count(*) AS c FROM uni GROUP BY t
            ), nu AS (SELECT sum(c) AS n_uni FROM uc),
            bi AS (
              SELECT w[i] AS w1, w[i + 1] AS w2
              FROM w, unnest(generate_series(1, len(w) - 1)) AS u(i)
              WHERE len(w) >= 2
            ), bc AS (
              SELECT w1, w2, count(*) AS n_pair FROM bi GROUP BY 1, 2
            ), nb AS (SELECT sum(n_pair) AS n_bi FROM bc)
            SELECT bc.w1, bc.w2, bc.n_pair,
                   round(ln((bc.n_pair / nb.n_bi)
                            / ((c1.c / nu.n_uni)
                               * (c2.c / nu.n_uni))), 5) AS pmi
            FROM bc
            JOIN uc c1 ON c1.t = bc.w1
            JOIN uc c2 ON c2.t = bc.w2
            CROSS JOIN nu CROSS JOIN nb
            WHERE bc.n_pair >= 5
        """,
        # Layout changes WHERE rows sit, never what they are: the
        # oracle filters the ORIGINAL table.
        "q_zorder_prune": """
            SELECT count(*) AS n_rows,
                   round(sum(CAST(l_extendedprice AS DECIMAL(18,4))),
                         2)::DOUBLE AS revenue
            FROM lineitem
            WHERE l_partkey <= 500 AND l_suppkey <= 20
        """,
        # DDSketch replay: identical bucket mapping (idx defined as
        # ceil(round(ln(v)/ln(gamma), 9)) — the round step makes the
        # bucket decision engine-independent), identical rank rule and
        # midpoint estimate; gamma is written (1.0+0.01)/(1.0-0.01) in
        # BOTH engines so the two doubles are bit-identical. Merging
        # the even/odd sketches equals building over the whole table
        # (counts are additive), which is what the oracle does.
        "q_ddsketch_quantiles": """
            WITH b AS (
              SELECT CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1
                          ELSE 0 END AS kind,
                     CASE WHEN v = 0 THEN 0
                          ELSE CAST(ceil(round(
                                 ln(abs(v))
                                 / ln((1.0+0.01)/(1.0-0.01)), 9))
                               AS INT)
                     END AS idx,
                     count(*) AS cnt
              FROM (SELECT CAST(l_extendedprice AS DOUBLE) AS v
                    FROM lineitem WHERE l_extendedprice IS NOT NULL)
              GROUP BY 1, 2
            ), c AS (
              SELECT kind, idx, cnt,
                     sum(cnt) OVER (
                       ORDER BY kind,
                                CASE WHEN kind = -1 THEN -idx
                                     ELSE idx END
                       ROWS UNBOUNDED PRECEDING) AS cum_hi
              FROM b
            ), t AS (SELECT sum(cnt) AS n FROM b)
            SELECT q,
                   kind * round(2.0 * power((1.0+0.01)/(1.0-0.01), idx)
                                / ((1.0+0.01)/(1.0-0.01) + 1.0), 4)
                     AS est
            FROM (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE,
                                 0.95::DOUBLE, 0.99::DOUBLE]) AS q) qs,
                 t, c
            WHERE cum_hi - cnt < floor(round(q * (n - 1), 6)) + 1
              AND floor(round(q * (n - 1), 6)) + 1 <= cum_hi
            ORDER BY q
        """,
        # First-occurrence attribution on the md5 digest.
        "text_novelty": """
            WITH d AS (
              SELECT source, doc_id, md5(text) AS dg FROM documents
            ), f AS (
              SELECT dg, min(doc_id) AS first_id FROM d GROUP BY dg
            )
            SELECT source, count(*) AS n_docs,
                   sum(CAST(doc_id = first_id AS BIGINT)) AS n_novel,
                   round(sum(CAST(doc_id = first_id AS BIGINT))
                         / CAST(count(*) AS DOUBLE), 4) AS novelty_rate
            FROM d JOIN f USING (dg)
            GROUP BY source
        """,
        # Same round-guarded leading-digit arithmetic; expected shares
        # are the same 6-decimal constants.
        "dq_benford": """
            WITH c AS (
              SELECT CAST(floor(abs(CAST(l_extendedprice AS DOUBLE))
                                / power(10, floor(round(
                                    log10(abs(CAST(l_extendedprice
                                                   AS DOUBLE))), 9))))
                          AS INT) AS digit,
                     count(*) AS n
              FROM lineitem
              WHERE l_extendedprice IS NOT NULL
                AND abs(CAST(l_extendedprice AS DOUBLE)) > 0
              GROUP BY 1
            ), t AS (SELECT sum(n) AS tot FROM c)
            SELECT digit, n,
                   round(n / CAST(tot AS DOUBLE), 4) AS obs_share,
                   [0.30103, 0.176091, 0.124939, 0.09691, 0.079181,
                    0.066947, 0.057992, 0.051153, 0.045757][digit]
                     AS exp_share,
                   round(abs(round(n / CAST(tot AS DOUBLE), 4)
                             - [0.30103, 0.176091, 0.124939, 0.09691,
                                0.079181, 0.066947, 0.057992, 0.051153,
                                0.045757][digit]), 4) AS abs_dev
            FROM c, t
            ORDER BY digit
        """,
        # Same tokenize/bigram build, same smoothing arithmetic; V is
        # the distinct-unigram count in both engines.
        "text_lm_bigram": r"""
            WITH w AS (
              SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\s+') AS ws
              FROM documents
            ), bi AS (
              SELECT doc_id, ws[i] AS a, ws[i+1] AS b
              FROM w, LATERAL (
                SELECT unnest(generate_series(1, len(ws) - 1)) AS i) t
              WHERE len(ws) >= 2
            ), counts AS (
              SELECT a, b, count(*) AS c_ab FROM bi GROUP BY 1, 2
            ), heads AS (
              SELECT a, sum(c_ab) AS c_a FROM counts GROUP BY 1
            ), v AS (
              SELECT count(DISTINCT tok) AS V
              FROM (SELECT unnest(ws) AS tok FROM w)
              WHERE tok <> ''
            )
            SELECT doc_id, count(*) AS n_bigrams,
                   round(avg(ln((c_ab + 0.5) / (c_a + 0.5 * V))), 6)
                     AS avg_logprob
            FROM bi JOIN counts USING (a, b)
                    JOIN heads USING (a), v
            GROUP BY doc_id
        """,
        # Centered MA over the ordered daily series (full windows
        # only), phase means over detrended rows, centered seasonal.
        "q_seasonal": """
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS day, count(*) AS value
              FROM events GROUP BY 1
            ), tr AS (
              SELECT day, value,
                     CASE WHEN count(*) OVER w = 7
                          THEN round(avg(value) OVER w, 4) END AS trend,
                     (day - DATE '1970-01-01') % 7 AS phase
              FROM daily
              WINDOW w AS (ORDER BY day
                           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
            ), seas_raw AS (
              SELECT phase, round(avg(value - trend), 4) AS s_raw
              FROM tr WHERE trend IS NOT NULL GROUP BY phase
            ), c AS (SELECT round(avg(s_raw), 4) AS c FROM seas_raw),
            seas AS (
              SELECT phase, round(s_raw - c, 4) AS seasonal
              FROM seas_raw, c
            )
            SELECT day, value, trend, seasonal,
                   round(value - trend - seasonal, 4) AS resid
            FROM tr LEFT JOIN seas USING (phase)
        """,
        # Same rounded edges (quantile_cont == Spark percentile), same
        # strict-below bin rule with the last-bin clamp.
        "q_equidepth": """
            WITH e AS (
              SELECT round(quantile_cont(l_extendedprice, 0/8.0), 4) AS e0,
                     round(quantile_cont(l_extendedprice, 1/8.0), 4) AS e1,
                     round(quantile_cont(l_extendedprice, 2/8.0), 4) AS e2,
                     round(quantile_cont(l_extendedprice, 3/8.0), 4) AS e3,
                     round(quantile_cont(l_extendedprice, 4/8.0), 4) AS e4,
                     round(quantile_cont(l_extendedprice, 5/8.0), 4) AS e5,
                     round(quantile_cont(l_extendedprice, 6/8.0), 4) AS e6,
                     round(quantile_cont(l_extendedprice, 7/8.0), 4) AS e7,
                     round(quantile_cont(l_extendedprice, 8/8.0), 4) AS e8
              FROM lineitem
            ), binned AS (
              SELECT least(CAST(round(CAST(l_extendedprice AS DOUBLE), 4) > e1 AS INT) + CAST(round(CAST(l_extendedprice AS DOUBLE), 4) > e2 AS INT) + CAST(round(CAST(l_extendedprice AS DOUBLE), 4) > e3 AS INT) + CAST(round(CAST(l_extendedprice AS DOUBLE), 4) > e4 AS INT) + CAST(round(CAST(l_extendedprice AS DOUBLE), 4) > e5 AS INT) + CAST(round(CAST(l_extendedprice AS DOUBLE), 4) > e6 AS INT) + CAST(round(CAST(l_extendedprice AS DOUBLE), 4) > e7 AS INT), 7) AS bin
              FROM lineitem, e
              WHERE l_extendedprice IS NOT NULL
            ), edges_arr AS (
              SELECT [e0, e1, e2, e3, e4, e5, e6, e7, e8] AS a FROM e
            )
            SELECT bin, a[bin + 1] AS lo, a[bin + 2] AS hi,
                   count(*) AS cnt
            FROM binned, edges_arr
            GROUP BY 1, 2, 3
        """,
        # quantile_cont == Spark's interpolated percentile (the
        # q_mad-proven equivalence); counts compare clipped-and-
        # rounded values to the rounded bounds in both engines.
        "q_winsorize": """
            WITH b AS (
              SELECT l_returnflag AS g,
                     round(quantile_cont(l_extendedprice, 0.05), 4)
                       AS clip_lo,
                     round(quantile_cont(l_extendedprice, 0.95), 4)
                       AS clip_hi,
                     quantile_cont(l_extendedprice, 0.05) AS lo_raw,
                     quantile_cont(l_extendedprice, 0.95) AS hi_raw
              FROM lineitem GROUP BY 1
            )
            SELECT l_returnflag, count(*) AS n,
                   max(clip_lo) AS clip_lo, max(clip_hi) AS clip_hi,
                   sum(CAST(round(least(greatest(l_extendedprice,
                                                 lo_raw), hi_raw), 4)
                            = clip_lo AS BIGINT)) AS n_clipped_low,
                   sum(CAST(round(least(greatest(l_extendedprice,
                                                 lo_raw), hi_raw), 4)
                            = clip_hi AS BIGINT)) AS n_clipped_high
            FROM lineitem JOIN b ON l_returnflag = g
            GROUP BY l_returnflag
        """,
        # LAG gaps in epoch seconds over the same deterministic
        # (ts, event_id) order; quantile_cont == Spark percentile.
        "q_event_cadence": """
            WITH g AS (
              SELECT user_id,
                     epoch(ts) - epoch(lag(ts) OVER (
                       PARTITION BY user_id
                       ORDER BY ts ASC, event_id ASC)) AS gap
              FROM events
            )
            SELECT user_id AS entity,
                   count(*) + 1 AS n_events,
                   round(quantile_cont(gap, 0.5), 4) AS median_gap_s,
                   round(quantile_cont(gap, 0.75)
                         - quantile_cont(gap, 0.25), 4) AS iqr_s
            FROM g WHERE gap IS NOT NULL
            GROUP BY user_id
        """,
        # LEAD over (user, ts, event_id) replays identically; the
        # prob rounding is on an exact integer ratio in both engines.
        "q_event_transitions": """
            WITH seq AS (
              SELECT event_type AS from_type,
                     lead(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY ts ASC, event_id ASC) AS to_type
              FROM events
            ), pairs AS (
              SELECT from_type, to_type, count(*) AS n
              FROM seq WHERE to_type IS NOT NULL
              GROUP BY 1, 2
            ), marg AS (
              SELECT from_type, sum(n) AS tot FROM pairs GROUP BY 1
            )
            SELECT p.from_type, p.to_type, p.n,
                   round(p.n / m.tot, 4) AS prob
            FROM pairs p JOIN marg m USING (from_type)
        """,
        # Same basket pair generation as q_copurchase, then the
        # endpoint union -> degree -> histogram rollup.
        "q_degree_dist": """
            WITH baskets AS (
              SELECT l_orderkey AS b,
                     list_sort(list(DISTINCT l_partkey)) AS items
              FROM lineitem GROUP BY 1
            ), pr AS (
              SELECT items[i] AS p1, items[j] AS p2
              FROM baskets,
                   LATERAL (SELECT unnest(generate_series(1, len(items)))
                            AS i) t1,
                   LATERAL (SELECT unnest(generate_series(i + 1,
                                                          len(items)))
                            AS j) t2
            ), edges AS (
              SELECT p1, p2 FROM pr GROUP BY p1, p2
              HAVING count(*) >= 2
            ), ends AS (
              SELECT p1 AS v FROM edges
              UNION ALL SELECT p2 FROM edges
            ), deg AS (
              SELECT v, count(*) AS degree FROM ends GROUP BY v
            )
            SELECT degree, count(*) AS n_vertices
            FROM deg GROUP BY degree
        """,
        # Character-vocabulary pair counts with the </w> marker; the
        # corpus collapses to (word, freq) first in both engines.
        "text_bpe_encode": f"""
            WITH w AS (
              SELECT unnest(string_split_regex(trim(lower(text)),
                                               '\\s+')) AS word
              FROM documents
            ), wf AS (
              SELECT word, count(*) AS freq
              FROM w
              WHERE word <> ''
                AND NOT regexp_matches(word,
                                       '[' || chr(30) || chr(31) || ']')
              GROUP BY word
            ), enc AS (
              SELECT word, freq, {_bpe_oracle_enc_expr()} AS e FROM wf
            )
            SELECT substr(tok, 2) AS token, sum(freq)::BIGINT AS cnt
            FROM (SELECT freq,
                         unnest(list_filter(string_split(e, chr(30)),
                                            x -> x <> '')) AS tok
                  FROM enc)
            GROUP BY 1
        """,
        "text_bpe_encode_docs": f"""
            WITH w AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)),
                                               '\\s+')) AS word
              FROM documents
            ), wfil AS (
              SELECT doc_id, word FROM w
              WHERE word <> ''
                AND NOT regexp_matches(word,
                                       '[' || chr(30) || chr(31) || ']')
            ), wf AS (SELECT DISTINCT word FROM wfil),
            enc AS (
              SELECT word, {_bpe_oracle_enc_expr()} AS e FROM wf
            ), dic AS (
              SELECT word,
                     len(list_filter(string_split(e, chr(30)),
                                     x -> x <> ''))::BIGINT AS n_tok
              FROM enc
            )
            SELECT doc_id, count(*)::BIGINT AS n_words,
                   sum(n_tok)::BIGINT AS n_tokens
            FROM wfil JOIN dic USING (word)
            GROUP BY doc_id
        """,
        "text_bpe_pairs": r"""
            WITH w AS (
              SELECT unnest(string_split_regex(trim(lower(text)),
                                               '\s+')) AS word
              FROM documents
            ), wf AS (
              SELECT word, count(*) AS freq
              FROM w WHERE word <> '' GROUP BY word
            ), syms AS (
              SELECT list_append(
                       list_transform(generate_series(1, length(word)),
                                      i -> substr(word, i, 1)),
                       '</w>') AS s, freq
              FROM wf
            )
            SELECT s[i] AS a, s[i + 1] AS b, sum(freq) AS cnt
            FROM syms, LATERAL (
              SELECT unnest(generate_series(1, len(s) - 1)) AS i) t
            GROUP BY 1, 2
        """,
        # Grouped DDSketch replay: same bucket mapping / rank rule /
        # midpoint as q_ddsketch_quantiles, with the cumulative walk
        # partitioned by returnflag.
        "q_ddsketch_by_group": """
            WITH b AS (
              SELECT l_returnflag,
                     CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1
                          ELSE 0 END AS kind,
                     CASE WHEN v = 0 THEN 0
                          ELSE CAST(ceil(round(
                                 ln(abs(v))
                                 / ln((1.0+0.01)/(1.0-0.01)), 9))
                               AS INT)
                     END AS idx,
                     count(*) AS cnt
              FROM (SELECT l_returnflag,
                           CAST(l_extendedprice AS DOUBLE) AS v
                    FROM lineitem WHERE l_extendedprice IS NOT NULL)
              GROUP BY 1, 2, 3
            ), c AS (
              SELECT l_returnflag, kind, idx, cnt,
                     sum(cnt) OVER (
                       PARTITION BY l_returnflag
                       ORDER BY kind,
                                CASE WHEN kind = -1 THEN -idx
                                     ELSE idx END
                       ROWS UNBOUNDED PRECEDING) AS cum_hi
              FROM b
            ), t AS (SELECT l_returnflag, sum(cnt) AS n
                     FROM b GROUP BY 1)
            SELECT t.l_returnflag, q,
                   kind * round(2.0 * power((1.0+0.01)/(1.0-0.01), idx)
                                / ((1.0+0.01)/(1.0-0.01) + 1.0), 4)
                     AS est
            FROM t
            CROSS JOIN (SELECT unnest([0.5::DOUBLE, 0.95::DOUBLE]) AS q) qs
            JOIN c ON c.l_returnflag = t.l_returnflag
            WHERE cum_hi - cnt < floor(round(q * (n - 1), 6)) + 1
              AND floor(round(q * (n - 1), 6)) + 1 <= cum_hi
            ORDER BY t.l_returnflag, q
        """,
        "q_ewma": """
            -- same LEFT fold as Spark's F.aggregate: y_1 = x_1,
            -- y_t = acc*(1-a) + x*a over the (ts, event_id)-sorted
            -- doubles; list_reduce inits from the first element
            SELECT user_id AS entity,
                   count(*)::BIGINT AS n_points,
                   round(list_reduce(
                     array_agg(CAST(value AS DOUBLE)
                               ORDER BY ts, event_id),
                     (acc, x) -> acc * CAST(0.9 AS DOUBLE)
                                 + x * CAST(0.1 AS DOUBLE)), 6) AS ewma
            FROM events WHERE value IS NOT NULL
            GROUP BY user_id
        """,
        "q_hll_distinct": """
            WITH h AS (
              SELECT event_type, CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 2) AS INT) AS reg,
                     CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 3, 14) AS BIGINT) AS w
              FROM events WHERE event_id IS NOT NULL 

            ), r AS (
              SELECT event_type, reg,
                     max(CASE WHEN w = 0 THEN 57
                              ELSE 56 - length(bin(w)) + 1 END) AS rho
              FROM h GROUP BY 1, 2
            ), agg AS (
              SELECT event_type,
                     sum(((CAST(1 AS BIGINT) << (63 - rho)))::HUGEINT) AS s,
                     count(*) AS nz
              FROM r GROUP BY 1
            ), ex AS (
              SELECT event_type,
                     count(DISTINCT event_id) AS exact_distinct
              FROM events GROUP BY 1
            )
            SELECT agg.event_type, round(CASE WHEN 4.341691417504662e+23 / CAST(s + (256 - nz)::HUGEINT * 9223372036854775808::HUGEINT AS DOUBLE) <= 640.0
                          AND nz < 256
                     THEN 256.0 * ln(256.0 / (256 - nz))
                     ELSE 4.341691417504662e+23 / CAST(s + (256 - nz)::HUGEINT * 9223372036854775808::HUGEINT AS DOUBLE)
                END, 2) AS est, ex.exact_distinct,
                   round(abs(round(CASE WHEN 4.341691417504662e+23 / CAST(s + (256 - nz)::HUGEINT * 9223372036854775808::HUGEINT AS DOUBLE) <= 640.0
                          AND nz < 256
                     THEN 256.0 * ln(256.0 / (256 - nz))
                     ELSE 4.341691417504662e+23 / CAST(s + (256 - nz)::HUGEINT * 9223372036854775808::HUGEINT AS DOUBLE)
                END, 2) - ex.exact_distinct)
                         / ex.exact_distinct, 4) AS err_frac
            FROM agg JOIN ex ON agg.event_type = ex.event_type
        """,
        "q_hll_merge": """
            WITH h AS (
              SELECT  CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 2) AS INT) AS reg,
                     CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 3, 14) AS BIGINT) AS w
              FROM events WHERE event_id IS NOT NULL 

            ), r AS (
              SELECT reg, max(CASE WHEN w = 0 THEN 57
                                   ELSE 56 - length(bin(w)) + 1 END) AS rho
              FROM h GROUP BY 1
            ), agg AS (
              SELECT sum(((CAST(1 AS BIGINT) << (63 - rho)))::HUGEINT) AS s,
                     count(*) AS nz
              FROM r
            )
            SELECT round(CASE WHEN 4.341691417504662e+23 / CAST(s + (256 - nz)::HUGEINT * 9223372036854775808::HUGEINT AS DOUBLE) <= 640.0
                          AND nz < 256
                     THEN 256.0 * ln(256.0 / (256 - nz))
                     ELSE 4.341691417504662e+23 / CAST(s + (256 - nz)::HUGEINT * 9223372036854775808::HUGEINT AS DOUBLE)
                END, 2) AS est_merged, round(CASE WHEN 4.341691417504662e+23 / CAST(s + (256 - nz)::HUGEINT * 9223372036854775808::HUGEINT AS DOUBLE) <= 640.0
                          AND nz < 256
                     THEN 256.0 * ln(256.0 / (256 - nz))
                     ELSE 4.341691417504662e+23 / CAST(s + (256 - nz)::HUGEINT * 9223372036854775808::HUGEINT AS DOUBLE)
                END, 2) AS est_single,
                   TRUE AS identical
            FROM agg
        """,
        "q_mad": """
            WITH med AS (
              SELECT l_returnflag AS g,
                     quantile_cont(l_extendedprice, 0.5) AS m
              FROM lineitem GROUP BY 1
            )
            SELECT l_returnflag,
                   round(max(m), 4) AS median,
                   round(quantile_cont(abs(l_extendedprice - m), 0.5),
                         4) AS mad
            FROM lineitem JOIN med ON l_returnflag = g
            GROUP BY l_returnflag
        """,
        "q_assoc_rules": """
            WITH items AS (SELECT DISTINCT l_orderkey AS b,
                                           l_partkey AS p
                           FROM lineitem),
            pairs AS (
              SELECT a.p AS p1, c.p AS p2, count(*) AS support
              FROM items a JOIN items c ON a.b = c.b AND a.p < c.p
              GROUP BY 1, 2 HAVING count(*) >= 3
            ), marg AS (
              SELECT p, count(*) AS nb FROM items GROUP BY p
            ), n AS (SELECT count(DISTINCT b) AS N FROM items)
            SELECT p1, p2, support,
                   round(support / m1.nb, 4) AS conf_12,
                   round(support / m2.nb, 4) AS conf_21,
                   round(support * n.N / (m1.nb * m2.nb), 4) AS lift
            FROM pairs
            JOIN marg m1 ON m1.p = p1
            JOIN marg m2 ON m2.p = p2
            CROSS JOIN n
        """,
        "q_copurchase": """
            WITH items AS (SELECT DISTINCT l_orderkey AS o,
                                           l_partkey AS p
                           FROM lineitem)
            SELECT a.p AS p1, b.p AS p2, count(*) AS support
            FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
            GROUP BY 1, 2 HAVING count(*) >= 2
        """,
        "q_triangles": """
            WITH items AS (SELECT DISTINCT l_orderkey AS o,
                                           l_partkey AS p
                           FROM lineitem),
            e AS (SELECT a.p AS p1, b.p AS p2
                  FROM items a JOIN items b
                       ON a.o = b.o AND a.p < b.p
                  GROUP BY 1, 2 HAVING count(*) >= 2)
            SELECT count(*) AS n_triangles
            FROM e e1 JOIN e e2 ON e1.p2 = e2.p1
                 JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
        """,
        "q_clustering_coef": """
            WITH items AS (SELECT DISTINCT l_orderkey AS o,
                                           l_partkey AS p
                           FROM lineitem),
            e AS (SELECT a.p AS p1, b.p AS p2
                  FROM items a JOIN items b
                       ON a.o = b.o AND a.p < b.p
                  GROUP BY 1, 2 HAVING count(*) >= 2),
            tri AS (SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
                    FROM e e1 JOIN e e2 ON e1.p2 = e2.p1
                         JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
            tv AS (SELECT v, count(*) AS triangles
                   FROM (SELECT unnest([a, b, c]) AS v FROM tri)
                   GROUP BY v),
            deg AS (SELECT v, count(*) AS degree
                    FROM (SELECT p1 AS v FROM e
                          UNION ALL SELECT p2 FROM e)
                    GROUP BY v)
            SELECT deg.v AS vertex, deg.degree,
                   coalesce(tv.triangles, 0) AS triangles,
                   round(coalesce(tv.triangles, 0)
                         / (deg.degree * (deg.degree - 1) / 2), 4)
                     AS cc
            FROM deg LEFT JOIN tv ON deg.v = tv.v
            WHERE deg.degree >= 2
        """,
        "q_rolling_dau": """
            WITH ud AS (SELECT DISTINCT user_id AS u,
                                        CAST(ts AS DATE) AS day
                        FROM events),
            hi AS (SELECT max(day) AS hi FROM ud),
            cover AS (SELECT DISTINCT u,
                             unnest(generate_series(day, day + 6,
                                    INTERVAL 1 DAY))::DATE AS day
                      FROM ud)
            SELECT c.day, count(*) AS dau7
            FROM cover c, hi WHERE c.day <= hi.hi
            GROUP BY c.day
        """,
        # covar_pop(x_i, x_j) = E[xy] - E[x]E[y] (population), the
        # same formula the one-pass partials compute; float32->double
        # widening is exact in both engines.
        "emb_covariance": """
            WITH idx AS (SELECT unnest(generate_series(0, 63)) AS k)
            SELECT i.k AS i, j.k AS j,
                   round(covar_pop(e.embedding[i.k + 1],
                                   e.embedding[j.k + 1]), 6) AS cov
            FROM embeddings e, idx i, idx j
            GROUP BY i.k, j.k
        """,
        "dq_gate": """
            WITH a AS (
              SELECT count(*) AS n,
                     avg(CAST(coalesce(text IS NOT NULL
                              AND length(trim(text)) > 0, false)
                              AS INT)) AS m0,
                     count(DISTINCT doc_id) / count(*) AS m1,
                     avg(CAST(coalesce(n_chars BETWEEN 1 AND 100000,
                              false) AS INT)) AS m2,
                     avg(CAST(coalesce(lang IN
                              ('en','de','fr','es','it'), false)
                              AS INT)) AS m3
              FROM documents
            )
            SELECT "check", round(metric, 4) AS metric, min_rate,
                   round(metric, 4) >= min_rate AS passed
            FROM a, (VALUES ('text_present', 0, 0.99),
                            ('doc_id_unique', 1, 1.0),
                            ('len_in_range', 2, 0.999),
                            ('lang_whitelist', 3, 0.5))
                 AS r("check", idx, min_rate),
                 LATERAL (SELECT CASE idx WHEN 0 THEN m0 WHEN 1 THEN m1
                                 WHEN 2 THEN m2 ELSE m3 END AS metric) m
        """,
        "q_cube": """
            SELECT coalesce(o_orderstatus, 'ALL') AS status,
                   coalesce(o_orderpriority, 'ALL') AS prio,
                   CAST(grouping(o_orderstatus) AS INT) AS g_status,
                   CAST(grouping(o_orderpriority) AS INT) AS g_prio,
                   count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders
            GROUP BY CUBE(o_orderstatus, o_orderpriority)
        """,
        "q_melt": """
            WITH long AS (
              SELECT l_returnflag, measure, value FROM (
                UNPIVOT (SELECT l_returnflag, l_quantity,
                                l_extendedprice, l_discount, l_tax
                         FROM lineitem)
                ON l_quantity, l_extendedprice, l_discount, l_tax
                INTO NAME measure VALUE value)
            )
            SELECT l_returnflag, measure, count(*) AS n,
                   round(avg(value), 4) AS avg_v,
                   round(min(value), 4) AS min_v,
                   round(max(value), 4) AS max_v
            FROM long GROUP BY 1, 2
        """,
        "q_grouping_sets": """
            SELECT coalesce(o_orderstatus, 'ALL') AS status,
                   coalesce(o_orderpriority, 'ALL') AS prio,
                   CAST(grouping(o_orderstatus) AS INT) AS g_status,
                   CAST(grouping(o_orderpriority) AS INT) AS g_prio,
                   count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus),
                                    (o_orderpriority), ())
        """,
        # ntile's remainder-to-front bucket sizing is identical in
        # both engines; ordering ties resolve by c_custkey.
        "q_rfm": """
            WITH agg AS (
              SELECT o_custkey,
                     max(o_orderdate) AS recency,
                     count(*) AS frequency,
                     round(sum(o_totalprice), 2) AS monetary
              FROM orders GROUP BY o_custkey
            )
            SELECT c_custkey, c_nationkey,
                   ntile(5) OVER (PARTITION BY c_nationkey
                                  ORDER BY recency, c_custkey) AS r_score,
                   ntile(5) OVER (PARTITION BY c_nationkey
                                  ORDER BY frequency, c_custkey) AS f_score,
                   ntile(5) OVER (PARTITION BY c_nationkey
                                  ORDER BY monetary, c_custkey) AS m_score,
                   CAST(r_score * 100 + f_score * 10 + m_score AS INT)
                     AS rfm_cell
            FROM agg JOIN customer ON o_custkey = c_custkey
        """,
        # A-ES replay: u parsed from the md5 hex prefix (exact in
        # double), key = u^(1/w); pow may differ by 1 ulp across
        # libms but adjacent keys differ astronomically more, and
        # exact ties fall back to the doc_id tiebreak in both engines.
        "sample_weighted": """
            WITH keyed AS (
              SELECT source, doc_id, n_chars,
                     power((list_sum(list_transform(
                              generate_series(1, 8),
                              i -> (strpos('0123456789abcdef',
                                      substr(md5(CAST(doc_id AS VARCHAR)),
                                             i, 1)) - 1)
                                   * power(16, 8 - i))) + 0.5)
                           / 4294967296.0,
                           1.0 / CAST(n_chars AS DOUBLE)) AS key
              FROM documents
              WHERE n_chars IS NOT NULL AND n_chars > 0
            )
            SELECT source, doc_id, n_chars, CAST(rnk AS INT) AS sample_rank
            FROM (SELECT source, doc_id, n_chars,
                         row_number() OVER (PARTITION BY source
                                            ORDER BY key DESC, doc_id)
                           AS rnk
                  FROM keyed)
            WHERE rnk <= 10
        """,
        # Exact replay of the prefix-blocked edit-distance confirm.
        # Spark's threshold levenshtein (-1 above 40) composed with
        # dist <= bound equals the full-distance filter stated here.
        # levenshtein is char-based in Spark / byte-based in DuckDB —
        # identical on this ASCII corpus.
        "dedup_fuzzy": """
            WITH rep AS (
              SELECT min(doc_id) AS id, max(text) AS t
              FROM documents GROUP BY md5(text)
            ), base AS (
              SELECT id, t, length(t) AS len,
                     array_to_string(string_split_regex(
                       trim(lower(t)), '\\s+')[1:4], ' ') AS bkey
              FROM rep
            )
            SELECT a.id AS id1, b.id AS id2,
                   levenshtein(a.t, b.t) AS dist,
                   round(levenshtein(a.t, b.t)
                         / greatest(a.len, b.len), 4) AS rel_dist
            FROM base a JOIN base b USING (bkey)
            WHERE a.id < b.id
              AND levenshtein(a.t, b.t)
                  <= least(40, floor(0.25 * greatest(a.len, b.len)))
        """,
        # z is rounded to 3 decimals BEFORE the threshold test in both
        # engines, so float summation-order noise in mu/sd (~1e-15)
        # cannot flip membership.
        "q_zscore_outliers": """
            WITH s AS (
              SELECT event_type, avg(value) AS mu,
                     stddev_samp(value) AS sd
              FROM events GROUP BY event_type
            )
            SELECT e.event_id, e.event_type, e.value,
                   round((e.value - s.mu) / s.sd, 3) AS z
            FROM events e JOIN s USING (event_type)
            WHERE s.sd > 0
              AND abs(round((e.value - s.mu) / s.sd, 3)) > 2.5
        """,
        # All bin math in double with the same exact mn/mx scalars, so
        # floor((v-mn)/width) replays bit-identically.
        "q_histogram": """
            WITH span AS (
              SELECT min(CAST(l_extendedprice AS DOUBLE)) AS mn,
                     max(CAST(l_extendedprice AS DOUBLE)) AS mx
              FROM lineitem
            ), b AS (
              SELECT CAST(least(floor((CAST(l_extendedprice AS DOUBLE)
                                       - mn) / ((mx - mn) / 20.0)),
                                19) AS INT) AS bin,
                     mn, mx
              FROM lineitem CROSS JOIN span
              WHERE l_extendedprice IS NOT NULL
            )
            SELECT bin,
                   round(mn + bin * ((mx - mn) / 20.0), 4) AS lo,
                   round(mn + (bin + 1) * ((mx - mn) / 20.0), 4) AS hi,
                   count(*) AS cnt
            FROM b GROUP BY 1, 2, 3
        """,
        # string_agg(... ORDER BY ts, event_id) replays Spark's
        # array_sort(struct(ts, event_id, type)) ordering exactly;
        # the regex is engine-neutral (no lookaround/backrefs).
        "q_event_pattern": """
            SELECT user_id AS entity, count(*) AS n_events
            FROM events
            GROUP BY user_id
            HAVING regexp_matches(
                     string_agg(event_type, ' ' ORDER BY ts, event_id),
                     'error( error){2}')
        """,
        "text_kl_drift": """
            WITH dt AS (
              SELECT domain, token, count(*) AS c_dt
              FROM (SELECT source AS domain,
                           unnest(string_split_regex(
                             trim(lower(text)), '\\s+')) AS token
                    FROM documents)
              WHERE token <> ''
              GROUP BY 1, 2
            ), corpus AS (
              SELECT token, sum(c_dt) AS c_t FROM dt GROUP BY 1
            ), nc AS (SELECT sum(c_t) AS n_corpus FROM corpus),
            nd AS (SELECT domain, sum(c_dt) AS n_d FROM dt GROUP BY 1)
            SELECT dt.domain, max(n_d) AS n_tokens,
                   round(sum((c_dt / n_d)
                             * ln((c_dt / n_d) / (c_t / n_corpus))),
                         5) AS kl
            FROM dt JOIN corpus USING (token) JOIN nd USING (domain)
                    CROSS JOIN nc
            GROUP BY dt.domain
        """,
        "q6_forecast_revenue": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= DATE '1996-01-01'
              AND l_shipdate < DATE '1997-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        "q8_market_share": """
            SELECT year(o_orderdate) AS o_year,
                   round(sum(CASE WHEN n2.n_name = 'NATION_5'
                             THEN l_extendedprice * (1 - l_discount)
                             ELSE 0 END)
                         / sum(l_extendedprice * (1 - l_discount)), 4)
                     AS mkt_share
            FROM lineitem
            JOIN part     ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders   ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON n1.n_nationkey = c_nationkey
            JOIN region   ON r_regionkey = n1.n_regionkey
            JOIN nation n2 ON n2.n_nationkey = s_nationkey
            WHERE p_type = 'PROMO' AND r_name = 'ASIA'
              AND o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
            GROUP BY o_year
        """,
        "q9_product_profit": """
            SELECT n_name AS nation, year(o_orderdate) AS o_year,
                   round(sum(l_extendedprice * (1 - l_discount)
                             - 0.6 * p_retailprice * l_quantity), 2)
                     AS sum_profit
            FROM lineitem
            JOIN part     ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders   ON o_orderkey = l_orderkey
            JOIN nation   ON n_nationkey = s_nationkey
            WHERE p_name LIKE '%widget%'
            GROUP BY 1, 2
        """,
        "q10_returned_items": """
            SELECT c_custkey, c_name,
                   round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                             * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)
                     ::DOUBLE AS revenue,
                   round(c_acctbal, 2) AS c_acctbal, n_name
            FROM lineitem
            JOIN orders   ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation   ON n_nationkey = c_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= DATE '1996-01-01'
              AND o_orderdate < DATE '1996-04-01'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """,
        "q11_value_concentration": """
            WITH base AS (
              SELECT l_partkey, l_extendedprice
              FROM lineitem
              JOIN supplier ON s_suppkey = l_suppkey
              JOIN nation ON n_nationkey = s_nationkey
              WHERE n_name = 'NATION_3'
            ), per_part AS (
              SELECT l_partkey, sum(l_extendedprice) AS v
              FROM base GROUP BY l_partkey
            )
            SELECT l_partkey, round(v, 2) AS value
            FROM per_part
            WHERE v > 0.002 * (SELECT sum(v) FROM per_part)
        """,
        "q13_customer_distribution": """
            SELECT c_count, count(*) AS custdist
            FROM (
              SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer
              LEFT JOIN orders ON o_custkey = c_custkey
                              AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey
            )
            GROUP BY c_count
        """,
        "q14_promo_revenue": """
            SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
                         / sum(l_extendedprice * (1 - l_discount)), 4)
                     AS promo_revenue
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE l_shipdate >= DATE '1996-03-01'
              AND l_shipdate < DATE '1996-04-01'
        """,
        "q15_top_supplier": """
            WITH rev AS (
              SELECT l_suppkey,
                     round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                               * (1 - CAST(l_discount AS DECIMAL(18,4)))),
                           2)::DOUBLE AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= DATE '1996-01-01'
                AND l_shipdate < DATE '1996-04-01'
              GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, total_revenue
            FROM rev JOIN supplier ON s_suppkey = l_suppkey
            WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        """,
        "q16_supplier_cnt": """
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE p_brand <> 'Brand#1'
              AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
              AND l_suppkey NOT IN (
                SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type, p_size
        """,
        "q17_small_qty_revenue": """
            WITH j AS (
              SELECT l_partkey, l_quantity, l_extendedprice
              FROM lineitem JOIN part ON p_partkey = l_partkey
              WHERE p_brand = 'Brand#13'
            ), a AS (
              SELECT l_partkey, avg(l_quantity) AS aq
              FROM j GROUP BY l_partkey
            )
            SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
            FROM j JOIN a USING (l_partkey)
            WHERE l_quantity < 0.2 * aq
        """,
        "q19_disjunctive_revenue": """
            SELECT round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS revenue
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "q20_excess_shippers": """
            SELECT s_name, round(s_acctbal, 2) AS s_acctbal
            FROM supplier
            JOIN nation ON n_nationkey = s_nationkey
            WHERE n_name = 'NATION_1'
              AND s_suppkey IN (
                SELECT l_suppkey
                FROM lineitem JOIN part ON p_partkey = l_partkey
                WHERE p_name LIKE 'small%'
                  AND l_shipdate >= DATE '1996-01-01'
                  AND l_shipdate < DATE '1997-01-01'
                GROUP BY l_partkey, l_suppkey
                HAVING sum(l_quantity) > 30)
        """,
        "q21_waiting_suppliers": """
            WITH per_order AS (
              SELECT l_orderkey, max(l_shipdate) AS mx,
                     count(DISTINCT l_suppkey) AS nsup
              FROM lineitem GROUP BY l_orderkey
              HAVING count(DISTINCT l_suppkey) > 1
            ), last AS (
              SELECT l.l_orderkey,
                     count(DISTINCT l.l_suppkey) AS nmax,
                     min(l.l_suppkey) AS wait_supp
              FROM lineitem l JOIN per_order p
                ON l.l_orderkey = p.l_orderkey AND l.l_shipdate = p.mx
              GROUP BY l.l_orderkey
              HAVING count(DISTINCT l.l_suppkey) = 1
            )
            SELECT s_name, count(*) AS numwait
            FROM last
            JOIN orders ON o_orderkey = last.l_orderkey
            JOIN supplier ON s_suppkey = wait_supp
            JOIN nation ON n_nationkey = s_nationkey
            WHERE o_orderstatus = 'F' AND n_name = 'NATION_0'
            GROUP BY s_name
        """,
    }


def _copurchase_edges_cte(min_support: int) -> str:
    """Shared oracle CTE: the distinct-order co-purchase graph as a
    canonical (src < dst) edge list `e` plus its symmetrized form
    `und` — the same semantics as copurchase_pairs (distinct items
    per order, pair support = orders containing both)."""
    return f"""items AS (SELECT DISTINCT l_orderkey AS o,
                                          l_partkey AS p
                          FROM lineitem),
            e AS (SELECT a.p AS p1, b.p AS p2
                  FROM items a JOIN items b
                       ON a.o = b.o AND a.p < b.p
                  GROUP BY 1, 2 HAVING count(*) >= {min_support}),
            und AS (SELECT p1 AS src, p2 AS dst FROM e
                    UNION SELECT p2, p1 FROM e)"""


def _kcore_unrolled_sql(k: int, rounds: int, min_support: int) -> str:
    """Oracle for q_kcore: `rounds` unrolled peel rounds over the
    co-purchase graph. Peeling is confluent with a unique fixpoint, so
    any rounds >= the convergence point reproduces Spark's
    converged-to-fixpoint result exactly (extra rounds are no-ops)."""
    # every CTE is MATERIALIZED: each round references the previous
    # round's edge frame three times, so default CTE inlining expands
    # the base scan 3^rounds times (measured: 14 rounds exhausted the
    # process fd limit before planning finished).
    parts = [f"WITH {_copurchase_edges_cte(min_support)},\n"
             "            e0 AS MATERIALIZED (SELECT src, dst FROM und)"]
    for i in range(1, rounds + 1):
        parts.append(
            f"""
            k{i} AS MATERIALIZED (SELECT src FROM e{i - 1}
                   GROUP BY src HAVING count(*) >= {k}),
            e{i} AS MATERIALIZED (SELECT x.src, x.dst FROM e{i - 1} x
                   JOIN k{i} a ON x.src = a.src
                   JOIN k{i} b ON x.dst = b.src)""")
    return (",".join(parts)
            + f"\n            SELECT src AS node, count(*) AS degree"
              f" FROM e{rounds} GROUP BY src")


def _hits_unrolled_sql(iters: int = 2, round_to: int = 6) -> str:
    """Oracle for q_hits: the identical fixed-iteration HITS replay —
    directed customer->supplier edges, hub starts at 1.0, each half
    step is one neighbor sum, one L1 normalization, one round."""
    ctes = ["""je AS (
              SELECT DISTINCT 'c' || o_custkey AS src,
                     's' || l_suppkey AS dst
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            ), nodes AS (
              SELECT src AS node FROM je UNION SELECT dst FROM je
            ), h0 AS (SELECT node, 1.0::DOUBLE AS hub FROM nodes)"""]
    prev_h = "h0"
    for i in range(1, iters + 1):
        ctes.append(f"""ar{i} AS (
              SELECT dst AS node, sum(h.hub) AS a
              FROM je JOIN {prev_h} h ON je.src = h.node GROUP BY 1
            ), asum{i} AS (SELECT sum(a) AS s FROM ar{i}),
            a{i} AS (
              SELECT n.node,
                     round(coalesce(r.a, 0) / asum{i}.s, {round_to})
                       AS auth
              FROM nodes n LEFT JOIN ar{i} r ON n.node = r.node,
                   asum{i}
            ), hr{i} AS (
              SELECT src AS node, sum(a.auth) AS h
              FROM je JOIN a{i} a ON je.dst = a.node GROUP BY 1
            ), hsum{i} AS (SELECT sum(h) AS s FROM hr{i}),
            h{i} AS (
              SELECT n.node,
                     round(coalesce(r.h, 0) / hsum{i}.s, {round_to})
                       AS hub
              FROM nodes n LEFT JOIN hr{i} r ON n.node = r.node,
                   hsum{i}
            )""")
        prev_h = f"h{i}"
    joined = ",\n            ".join(ctes)
    return f"""
            WITH {joined}
            SELECT h.node, h.hub, a.auth
            FROM h{iters} h JOIN a{iters} a ON h.node = a.node
        """


def _linkage_ctes() -> tuple[str, str, str]:
    """Shared pieces for the record-linkage oracles: (perturbation
    CTEs, n_agree expression, score expression) — the deterministic
    customer perturbation (a = original lowered, b = name-uppercased-
    on-%7 / bal-nulled-on-%5 copy at ids +1e6) and the literal
    log2(m/u) weights, Python-computed exactly as the operator
    computes them, terms summed in the same field order."""
    import math

    fields = {"name": (0.95, 0.001), "bal": (0.9, 0.0005),
              "seg": (0.9, 0.2)}
    terms, hits = [], []
    for c, (m, u) in fields.items():
        wa = math.log2(m / u)
        wd = math.log2((1.0 - m) / (1.0 - u))
        terms.append(
            f"(CASE WHEN a.{c} IS NULL OR b.{c} IS NULL THEN 0.0 "
            f"WHEN a.{c} = b.{c} THEN {wa!r} ELSE {wd!r} END)")
        hits.append(
            f"(CASE WHEN a.{c} IS NULL OR b.{c} IS NULL THEN 0 "
            f"WHEN a.{c} = b.{c} THEN 1 ELSE 0 END)")
    ctes = """a AS (
              SELECT c_custkey AS ida, lower(c_name) AS name,
                     c_acctbal AS bal, c_mktsegment AS seg,
                     c_nationkey AS blk,
                     substr(lower(c_name), length(c_name), 1) AS blk2
              FROM customer
            ), b AS (
              SELECT c_custkey + 1000000 AS idb,
                     CASE WHEN c_custkey % 7 = 0 THEN upper(c_name)
                          ELSE lower(c_name) END AS name,
                     CASE WHEN c_custkey % 5 = 0 THEN NULL
                          ELSE c_acctbal END AS bal,
                     c_mktsegment AS seg, c_nationkey AS blk,
                     substr(lower(c_name), length(c_name), 1) AS blk2
              FROM customer
            )"""
    return ctes, " + ".join(hits), " + ".join(terms)


def _logreg_ctes(iters: int = 3, lr: float = 1.0,
                 std: bool = False) -> str:
    """Shared oracle CTE chain for the quality-classifier queries:
    the feature frame + `iters` unrolled gradient/update steps of
    logreg_fit's exact arithmetic (σ in the literal 1/(1+exp(−z))
    form, updates rounded to 6 before the next pass). With
    `std=True` the feature frame carries RAW magnitudes and the
    chain replays logreg_fit's standardize pass — population μ/σ
    from explicit Σ/Σ² sums, both rounded to 6, σ=0→1, GD over
    (x−μ)/σ (CTEs st/m/fz)."""
    feats = ["x1", "x2", "x3", "x4"]
    parts = [r"""wd AS (
              SELECT doc_id, text,
                     string_split_regex(trim(text), '\s+') AS ws,
                     length(text) AS nc
              FROM documents
            ), sig AS (
              SELECT doc_id,
                     len(ws) AS n_words,
                     CASE WHEN len(ws) > 0
                          THEN list_sum(list_transform(ws,
                               w -> length(w))) * 1.0 / len(ws)
                          ELSE 0.0 END AS mwl,
                     CASE WHEN nc > 0
                          THEN (nc - length(regexp_replace(text,
                               '[^A-Za-z0-9\s]', '', 'g'))) * 1.0 / nc
                          ELSE 0.0 END AS punct,
                     len(list_intersect(
                       list_distinct(list_transform(ws,
                                                    w -> lower(w))),
                       ['the','of','and','to','in','a','is','that',
                        'for','it','as','was','with','be','by','on',
                        'not','he','this','are'])) AS stop_hits
              FROM wd
            ), lbl AS (
              SELECT doc_id,
                     CASE WHEN round(least(n_words / 50.0, 1.0) * 0.35
                          + CASE WHEN mwl >= 3 AND mwl <= 10
                                 THEN 0.25 ELSE 0.0 END
                          + CASE WHEN punct <= 0.2
                                 THEN 0.2 ELSE 0.0 END
                          + least(stop_hits / 5.0, 1.0) * 0.2, 4)
                            >= 0.85
                          THEN 1.0 ELSE 0.0 END AS y
              FROM sig
            ), b AS (
              SELECT d.doc_id, lbl.y, lower(trim(d.text)) AS txt,
                     string_split_regex(lower(trim(d.text)), '\s+')
                       AS toks
              FROM documents d JOIN lbl USING (doc_id)
            ), f AS (
              SELECT y,
                     len(toks) {x1_scale} AS x1,
                     (length(txt) * 1.0 / greatest(len(toks), 1))
                       {x2_scale} AS x2,
                     len(list_distinct(toks)) * 1.0
                       / greatest(len(toks), 1) AS x3,
                     len(list_filter(toks, t -> t IN
                         ('the','a','of','and','to','in','is')))
                       * 1.0 / greatest(len(toks), 1) AS x4
              FROM b
            )""".format(x1_scale="* 1.0" if std else "/ 100.0",
                        x2_scale="* 1.0" if std else "/ 10.0")]
    ffrm = "f"
    if std:
        ssums = ", ".join(
            f"sum({x}) AS s{j + 1}, sum({x}*{x}) AS q{j + 1}"
            for j, x in enumerate(feats))
        parts.append(f"st AS (SELECT count(*) AS n, {ssums} FROM f)")
        mcols = []
        for j in range(1, len(feats) + 1):
            raw_sg = (f"round(sqrt(greatest(q{j}/n "
                      f"- (s{j}/n)*(s{j}/n), 0.0)), 6)")
            mcols.append(f"round(s{j}/n, 6) AS mu{j}")
            mcols.append(f"CASE WHEN {raw_sg} > 0 THEN {raw_sg} "
                         f"ELSE 1.0 END AS sg{j}")
        parts.append(f"m AS (SELECT {', '.join(mcols)} FROM st)")
        zcols = ", ".join(
            f"(x{j} - mu{j})/sg{j} AS x{j}"
            for j in range(1, len(feats) + 1))
        parts.append(f"fz AS (SELECT y, {zcols} FROM f, m)")
        ffrm = "fz"
    for t in range(1, iters + 1):
        if t == 1:
            p = "0.5"
            src = ffrm
        else:
            z = " + ".join([f"w.c0"]
                           + [f"w.c{j + 1}*{x}"
                              for j, x in enumerate(feats)])
            p = f"1.0/(1.0+exp(-({z})))"
            src = f"{ffrm}, w{t - 1} w"
        gsums = ", ".join(
            [f"sum({p} - y) AS g0"]
            + [f"sum(({p} - y)*{x}) AS g{j + 1}"
               for j, x in enumerate(feats)])
        parts.append(f"s{t} AS (SELECT count(*) AS n, {gsums} "
                     f"FROM {src})")
        upd = ", ".join(
            f"round({'0.0' if t == 1 else f'w.c{j}'} "
            f"- {lr}*s.g{j}/s.n, 6) AS c{j}"
            for j in range(len(feats) + 1))
        wsrc = f"s{t} s" if t == 1 else f"s{t} s, w{t - 1} w"
        parts.append(f"w{t} AS (SELECT {upd} FROM {wsrc})")
    return ",\n            ".join(parts)


def _quality_classifier_oracle_sql(iters: int = 3) -> str:
    rows = " UNION ALL ".join(
        [f"SELECT '__intercept' AS feature, c0 AS weight "
         f"FROM w{iters}"]
        + [f"SELECT 'x{j}', c{j} FROM w{iters}"
           for j in range(1, 5)])
    return f"WITH {_logreg_ctes(iters)}\n            {rows}"


def _quality_classifier_std_oracle_sql(iters: int = 3) -> str:
    rows = " UNION ALL ".join(
        [f"SELECT '__intercept' AS feature, c0 AS weight, "
         f"0.0 AS mu, 1.0 AS sigma FROM w{iters}"]
        + [f"SELECT 'x{j}', c{j}, m.mu{j}, m.sg{j} "
           f"FROM w{iters}, m"
           for j in range(1, 5)])
    return (f"WITH {_logreg_ctes(iters, std=True)}\n"
            f"            {rows}")


def _dsir_oracle_sql() -> str:
    """Oracle for q_dsir_weights: the labeler replay (the classifier
    oracle's wd/sig/lbl CTEs) selects the target slice, then hashed
    unigram+bigram buckets (md5 3-hex prefix = 4096 buckets), the two
    profiles, 1-row totals, and the per-doc add-alpha ln fold."""
    return r"""
            WITH wd AS (
              SELECT doc_id, text,
                     string_split_regex(trim(text), '\s+') AS ws,
                     length(text) AS nc
              FROM documents
            ), sig AS (
              SELECT doc_id,
                     len(ws) AS n_words,
                     CASE WHEN len(ws) > 0
                          THEN list_sum(list_transform(ws,
                               w -> length(w))) * 1.0 / len(ws)
                          ELSE 0.0 END AS mwl,
                     CASE WHEN nc > 0
                          THEN (nc - length(regexp_replace(text,
                               '[^A-Za-z0-9\s]', '', 'g'))) * 1.0 / nc
                          ELSE 0.0 END AS punct,
                     len(list_intersect(
                       list_distinct(list_transform(ws,
                                                    w -> lower(w))),
                       ['the','of','and','to','in','a','is','that',
                        'for','it','as','was','with','be','by','on',
                        'not','he','this','are'])) AS stop_hits
              FROM wd
            ), lbl AS (
              SELECT doc_id,
                     CASE WHEN round(least(n_words / 50.0, 1.0) * 0.35
                          + CASE WHEN mwl >= 3 AND mwl <= 10
                                 THEN 0.25 ELSE 0.0 END
                          + CASE WHEN punct <= 0.2
                                 THEN 0.2 ELSE 0.0 END
                          + least(stop_hits / 5.0, 1.0) * 0.2, 4)
                            >= 0.85
                          THEN 1 ELSE 0 END AS y
              FROM sig
            ), tk AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+')
                       AS toks
              FROM documents
            ), rawf AS (
              SELECT doc_id, substr(md5(f), 1, 3) AS b FROM (
                SELECT doc_id, unnest(toks) AS f FROM tk
                UNION ALL
                SELECT doc_id, toks[i] || ' ' || toks[i+1] AS f
                FROM tk, UNNEST(range(1, len(toks))) AS r(i)
              ) WHERE f <> ''
            ), docf AS (
              SELECT doc_id, b, count(*) AS c
              FROM rawf GROUP BY 1, 2
            ), pr AS (
              SELECT b, sum(c) AS nr FROM docf GROUP BY b
            ), pt AS (
              SELECT r.b, count(*) AS nt
              FROM rawf r JOIN lbl USING (doc_id)
              WHERE lbl.y = 1 GROUP BY r.b
            ), tr AS (SELECT sum(nr) AS totr FROM pr),
            tt AS (SELECT sum(nt) AS tott FROM pt)
            SELECT d.doc_id, sum(d.c) AS n_feats,
                   round(sum(d.c * (
                       ln((coalesce(pt.nt, 0) + 1.0)
                          / (tt.tott + 4096.0))
                     - ln((pr.nr + 1.0) / (tr.totr + 4096.0)))), 6)
                     AS log_weight
            FROM docf d
            LEFT JOIN pt USING (b)
            JOIN pr USING (b), tr, tt
            GROUP BY d.doc_id
        """


def _quality_classifier_cm_oracle_sql(iters: int = 3) -> str:
    z = " + ".join(["w.c0"] + [f"w.c{j}*x{j}" for j in range(1, 5)])
    return f"""WITH {_logreg_ctes(iters)},
            sc AS (
              SELECT y, round(1.0/(1.0+exp(-({z}))), 6) AS score
              FROM f, w{iters} w
            )
            SELECT CAST(y AS BIGINT) AS label,
                   CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS pred,
                   count(*) AS n
            FROM sc GROUP BY 1, 2
        """


def _linkage_oracle_sql() -> str:
    """Oracle for q_record_linkage: perturbation, nationkey block
    join, literal weight arithmetic."""
    ctes, n_agree, score = _linkage_ctes()
    return f"""
            WITH {ctes}
            SELECT id_a, id_b, n_agree, score FROM (
              SELECT a.ida AS id_a, b.idb AS id_b,
                     {n_agree} AS n_agree,
                     round({score}, 4) AS score
              FROM a JOIN b ON a.blk = b.blk AND a.blk2 = b.blk2)
            WHERE score >= 5.0
        """


def _golden_records_oracle_sql() -> str:
    """Oracle for q_golden_records: linkage pairs above threshold ->
    recursive min-reachability components -> per-field latest-non-null
    survivorship (arg_max over the unique ord key)."""
    ctes, _n_agree, score = _linkage_ctes()
    return f"""
            WITH RECURSIVE {ctes},
            p AS (
              SELECT id_a, id_b FROM (
                SELECT a.ida AS id_a, b.idb AS id_b,
                       round({score}, 4) AS score
                FROM a JOIN b ON a.blk = b.blk AND a.blk2 = b.blk2)
              WHERE score >= 5.0
            ), recs AS (
              SELECT ida AS id, ida AS ord, name, bal, seg FROM a
              UNION ALL
              SELECT idb AS id, idb AS ord, name, bal, seg FROM b
            ), edges AS (
              SELECT id_a AS src, id_b AS dst FROM p
              UNION SELECT id_b, id_a FROM p
            ), walk(node, r) AS (
              SELECT src, src FROM (SELECT DISTINCT src FROM edges)
              UNION
              SELECT w.node, e.dst FROM walk w
              JOIN edges e ON w.r = e.src
            ), comp AS (
              SELECT node AS id, min(r) AS cluster_id
              FROM walk GROUP BY node
            ), labeled AS (
              SELECT coalesce(c.cluster_id, r.id) AS cluster_id,
                     r.ord, r.name, r.bal, r.seg
              FROM recs r LEFT JOIN comp c ON r.id = c.id
            )
            SELECT cluster_id, count(*) AS n_members,
                   arg_max(name, CASE WHEN name IS NOT NULL
                                      THEN ord END) AS name,
                   arg_max(bal, CASE WHEN bal IS NOT NULL
                                     THEN ord END) AS bal,
                   arg_max(seg, CASE WHEN seg IS NOT NULL
                                     THEN ord END) AS seg
            FROM labeled GROUP BY 1
        """


def _label_prop_unrolled_sql(iters: int, min_support: int) -> str:
    """Oracle for q_label_prop: `iters` unrolled synchronous LPA
    rounds — per-node neighbor-label counts, then the
    (count DESC, label ASC) arg-min, identical to the Spark side's
    min_by(label, struct(-count, label))."""
    ctes = [f"WITH {_copurchase_edges_cte(min_support)}",
            """l0 AS (SELECT DISTINCT src AS node, src AS label
                    FROM und)"""]
    for i in range(1, iters + 1):
        ctes.append(f"""c{i} AS (SELECT u.dst AS node, l.label AS lbl,
                         count(*) AS c
                  FROM und u JOIN l{i - 1} l ON u.src = l.node
                  GROUP BY 1, 2)""")
        ctes.append(f"""l{i} AS (SELECT node, lbl AS label FROM (
                    SELECT node, lbl,
                           row_number() OVER (PARTITION BY node
                               ORDER BY c DESC, lbl ASC) AS rn
                    FROM c{i}) WHERE rn = 1)""")
    return (",\n            ".join(ctes)
            + f"\n            SELECT node, label FROM l{iters}")


def _pq_oracle_sql(k_top: int = 10) -> str:
    """Oracle for sim_pq_topk: per-subspace encode (rounded-distance
    argmin, lowest-index tie — the kmeans dist_cte discipline) from
    the literal seed-11 codebooks, then ADC scoring and the
    (adc_dist, cid) ranking, all replayed in DuckDB."""
    books = _pq_codebooks()
    d0 = len(books[0][0])
    ctes = ["v AS (SELECT vec_id, embedding::DOUBLE[] AS x"
            " FROM embeddings)",
            "q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv"
            " FROM embeddings WHERE vec_id < 5)"]
    for s, book in enumerate(books):
        off = s * d0
        vals = ",\n                ".join(
            f"({ci}, [{', '.join(repr(v) for v in cent)}]::DOUBLE[])"
            for ci, cent in enumerate(book))
        ctes.append(f"cb{s} AS (SELECT * FROM (VALUES {vals})"
                    f" t(ci, c))")
        ctes.append(f"""d{s} AS (
              SELECT v.vec_id, cb.ci,
                     round(list_sum(list_transform(
                         generate_series(1, {d0}),
                         i -> (v.x[{off} + i] - cb.c[i])
                            * (v.x[{off} + i] - cb.c[i]))), 6) AS d
              FROM v, cb{s} cb)""")
        ctes.append(f"""a{s} AS (
              SELECT vec_id, ci FROM (
                SELECT vec_id, ci, row_number() OVER (
                    PARTITION BY vec_id ORDER BY d, ci) AS rn
                FROM d{s}) WHERE rn = 1)""")
        ctes.append(f"""s{s} AS (
              SELECT q.qid, a.vec_id AS cid,
                     list_sum(list_transform(
                         generate_series(1, {d0}),
                         i -> (q.qv[{off} + i] - cb.c[i])
                            * (q.qv[{off} + i] - cb.c[i]))) AS ds
              FROM q, a{s} a JOIN cb{s} cb ON a.ci = cb.ci)""")
    joins = " ".join(
        f"JOIN s{s} ON s0.qid = s{s}.qid AND s0.cid = s{s}.cid"
        for s in range(1, len(books)))
    total = " + ".join(f"s{s}.ds" for s in range(len(books)))
    joined = ",\n            ".join(ctes)
    return f"""
            WITH {joined},
            t AS (
              SELECT s0.qid, s0.cid,
                     round({total}, 4) AS adc_dist
              FROM s0 {joins}
            )
            SELECT qid AS query_id, cid AS match_id, adc_dist,
                   CAST(rank AS INT) AS rank
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY qid
                      ORDER BY adc_dist, cid) AS rank
                  FROM t)
            WHERE rank <= {k_top}
        """


def _ivfpq_oracle_sql(k_top: int = 10, nprobe: int = 2) -> str:
    """Oracle for sim_ivfpq_topk: the sim_ivf_topk cell/probe replay
    (literal seed-7 coarse centroids) composed with the sim_pq_topk
    encode/ADC replay (literal seed-11 codebooks), ADC restricted to
    probed cells."""
    books = _pq_codebooks()
    d0 = len(books[0][0])
    ivf_scores = _ivf_scores_sql()
    ctes = [f"""e AS (
              -- x and emb are the same vector: the PQ blocks read x,
              -- the shared _ivf_scores_sql expression reads emb/nrm
              SELECT vec_id, embedding::DOUBLE[] AS x,
                     embedding::DOUBLE[] AS emb,
                     sqrt(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[])) AS nrm
              FROM embeddings
            ), sc AS (
              SELECT vec_id, x, nrm, {ivf_scores} AS scores
              FROM e
            ), cells AS (
              SELECT vec_id, (list_aggregate(scores, 'max')).i AS cell
              FROM sc
            ), qp AS (
              SELECT vec_id AS qid, x AS qv,
                     unnest(list_transform(
                       list_slice(list_reverse_sort(scores),
                                  1, {nprobe}),
                       s -> s.i)) AS cell
              FROM sc WHERE vec_id < 5
            ), pairs AS (
              SELECT qp.qid, qp.qv, c.vec_id AS cid
              FROM qp JOIN cells c ON qp.cell = c.cell
            )"""]
    for s, book in enumerate(books):
        off = s * d0
        vals = ",\n                ".join(
            f"({ci}, [{', '.join(repr(v) for v in cent)}]::DOUBLE[])"
            for ci, cent in enumerate(book))
        ctes.append(f"cb{s} AS (SELECT * FROM (VALUES {vals})"
                    f" t(ci, c))")
        ctes.append(f"""d{s} AS (
              SELECT e.vec_id, cb.ci,
                     round(list_sum(list_transform(
                         generate_series(1, {d0}),
                         i -> (e.x[{off} + i] - cb.c[i])
                            * (e.x[{off} + i] - cb.c[i]))), 6) AS d
              FROM e, cb{s} cb)""")
        ctes.append(f"""a{s} AS (
              SELECT vec_id, ci FROM (
                SELECT vec_id, ci, row_number() OVER (
                    PARTITION BY vec_id ORDER BY d, ci) AS rn
                FROM d{s}) WHERE rn = 1)""")
        ctes.append(f"""s{s} AS (
              SELECT p.qid, p.cid,
                     list_sum(list_transform(
                         generate_series(1, {d0}),
                         i -> (p.qv[{off} + i] - cb.c[i])
                            * (p.qv[{off} + i] - cb.c[i]))) AS ds
              FROM pairs p JOIN a{s} a ON p.cid = a.vec_id
                   JOIN cb{s} cb ON a.ci = cb.ci)""")
    joins = " ".join(
        f"JOIN s{s} ON s0.qid = s{s}.qid AND s0.cid = s{s}.cid"
        for s in range(1, len(books)))
    total = " + ".join(f"s{s}.ds" for s in range(len(books)))
    joined = ",\n            ".join(ctes)
    return f"""
            WITH {joined},
            t AS (
              SELECT s0.qid, s0.cid,
                     round({total}, 4) AS adc_dist
              FROM s0 {joins}
            )
            SELECT qid AS query_id, cid AS match_id, adc_dist,
                   CAST(rank AS INT) AS rank
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY qid
                      ORDER BY adc_dist, cid) AS rank
                  FROM t)
            WHERE rank <= {k_top}
        """


def _ivfadc_oracle_sql(k_top: int = 10, nprobe: int = 2,
                       rerank: int | None = None) -> str:
    """Oracle for sim_ivfadc_topk: cell assignment and probe order
    from the literal seed-7 coarse centroids, CORPUS residuals and
    per-(query, cell) QUERY residuals against those same literals,
    seed-13 residual-codebook encoding, and the ADC sum — the full
    IVFADC replay. With `rerank` set it becomes the IVFADC+R oracle:
    ADC top-(k_top*rerank) shortlist, exact squared-L2 against the
    original vectors, re-rank to k_top."""
    books = _pq_res_codebooks()
    d0 = len(books[0][0])
    dim = d0 * len(books)
    ivf_scores = _ivf_scores_sql()
    cvals = ",\n                ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(_ivf_codebook()))
    ctes = [f"""e AS (
              SELECT vec_id, embedding::DOUBLE[] AS x,
                     embedding::DOUBLE[] AS emb,
                     sqrt(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[])) AS nrm
              FROM embeddings
            ), cc AS (SELECT * FROM (VALUES {cvals}) t(ci, c)),
            sc AS (
              SELECT vec_id, x, nrm, {ivf_scores} AS scores
              FROM e
            ), cells AS (
              SELECT vec_id, (list_aggregate(scores, 'max')).i AS cell
              FROM sc
            ), rv AS (
              SELECT cells.vec_id, cells.cell,
                     list_transform(generate_series(1, {dim}),
                         i -> e.x[i] - cc.c[i]) AS rx
              FROM cells JOIN e ON cells.vec_id = e.vec_id
                   JOIN cc ON cells.cell = cc.ci
            ), qp AS (
              SELECT vec_id AS qid, x AS qv,
                     unnest(list_transform(
                       list_slice(list_reverse_sort(scores),
                                  1, {nprobe}),
                       s -> s.i)) AS cell
              FROM sc WHERE vec_id < 5
            ), qr AS (
              SELECT qp.qid, qp.cell,
                     list_transform(generate_series(1, {dim}),
                         i -> qp.qv[i] - cc.c[i]) AS qrx
              FROM qp JOIN cc ON qp.cell = cc.ci
            ), pairs AS (
              SELECT qr.qid, qr.qrx, r.vec_id AS cid, r.rx
              FROM qr JOIN rv r ON qr.cell = r.cell
            )"""]
    for s, book in enumerate(books):
        off = s * d0
        vals = ",\n                ".join(
            f"({ci}, [{', '.join(repr(v) for v in cent)}]::DOUBLE[])"
            for ci, cent in enumerate(book))
        ctes.append(f"cb{s} AS (SELECT * FROM (VALUES {vals})"
                    f" t(ci, c))")
        ctes.append(f"""d{s} AS (
              SELECT r.vec_id, cb.ci,
                     round(list_sum(list_transform(
                         generate_series(1, {d0}),
                         i -> (r.rx[{off} + i] - cb.c[i])
                            * (r.rx[{off} + i] - cb.c[i]))), 6) AS d
              FROM rv r, cb{s} cb)""")
        ctes.append(f"""a{s} AS (
              SELECT vec_id, ci FROM (
                SELECT vec_id, ci, row_number() OVER (
                    PARTITION BY vec_id ORDER BY d, ci) AS rn
                FROM d{s}) WHERE rn = 1)""")
        ctes.append(f"""s{s} AS (
              SELECT p.qid, p.cid,
                     list_sum(list_transform(
                         generate_series(1, {d0}),
                         i -> (p.qrx[{off} + i] - cb.c[i])
                            * (p.qrx[{off} + i] - cb.c[i]))) AS ds
              FROM pairs p JOIN a{s} a ON p.cid = a.vec_id
                   JOIN cb{s} cb ON a.ci = cb.ci)""")
    joins = " ".join(
        f"JOIN s{s} ON s0.qid = s{s}.qid AND s0.cid = s{s}.cid"
        for s in range(1, len(books)))
    total = " + ".join(f"s{s}.ds" for s in range(len(books)))
    joined = ",\n            ".join(ctes)
    adc_cte = f"""
            WITH {joined},
            t AS (
              SELECT s0.qid, s0.cid,
                     round({total}, 4) AS adc_dist
              FROM s0 {joins}
            )"""
    if rerank is None:
        return f"""{adc_cte}
            SELECT qid AS query_id, cid AS match_id, adc_dist,
                   CAST(rank AS INT) AS rank
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY qid
                      ORDER BY adc_dist, cid) AS rank
                  FROM t)
            WHERE rank <= {k_top}
        """
    return f"""{adc_cte},
            short AS (
              SELECT qid, cid
              FROM (SELECT *, row_number() OVER (
                        PARTITION BY qid
                        ORDER BY adc_dist, cid) AS rank
                    FROM t)
              WHERE rank <= {k_top * rerank}
            ),
            ex AS (
              SELECT s.qid, s.cid,
                     round(list_sum(list_transform(
                         generate_series(1, {dim}),
                         i -> (qe.x[i] - ce.x[i])
                            * (qe.x[i] - ce.x[i]))), 4) AS dist
              FROM short s JOIN e qe ON s.qid = qe.vec_id
                   JOIN e ce ON s.cid = ce.vec_id
            )
            SELECT qid AS query_id, cid AS match_id, dist,
                   CAST(rank AS INT) AS rank
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY qid
                      ORDER BY dist, cid) AS rank
                  FROM ex)
            WHERE rank <= {k_top}
        """


def _recall_rerank_oracle_sql() -> str:
    """Oracle for sim_recall_rerank: exact squared-L2 top-10 ground
    truth, the plain-IVFADC and IVFADC+R result sets (each a full
    nested replay via _ivfadc_oracle_sql), and the per-query overlap
    arithmetic topk_recall computes."""
    books = _pq_res_codebooks()
    dim = len(books[0][0]) * len(books)
    adc = _ivfadc_oracle_sql(k_top=10, nprobe=2)
    rr = _ivfadc_oracle_sql(k_top=10, nprobe=2, rerank=4)
    return f"""
            WITH ev AS (
              SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
            ), exact AS (
              SELECT query_id, match_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS match_id,
                       row_number() OVER (PARTITION BY q.vec_id
                         ORDER BY round(list_sum(list_transform(
                             generate_series(1, {dim}),
                             i -> (q.x[i] - c.x[i])
                                * (q.x[i] - c.x[i]))), 4) ASC,
                                  c.vec_id ASC) AS rnk
                FROM (SELECT * FROM ev WHERE vec_id < 5) q
                CROSS JOIN ev c)
              WHERE rnk <= 10
            ), adc AS (
              SELECT query_id, match_id FROM ({adc})
            ), rr AS (
              SELECT query_id, match_id FROM ({rr})
            ), audits AS (
              SELECT 'ivfadc' AS method, ex.query_id,
                     count(*) AS n_true, count(a.match_id) AS n_hits
              FROM exact ex LEFT JOIN adc a
                ON ex.query_id = a.query_id
               AND ex.match_id = a.match_id
              GROUP BY 2
              UNION ALL
              SELECT 'ivfadc_r' AS method, ex.query_id,
                     count(*) AS n_true, count(a.match_id) AS n_hits
              FROM exact ex LEFT JOIN rr a
                ON ex.query_id = a.query_id
               AND ex.match_id = a.match_id
              GROUP BY 2
            )
            SELECT method, query_id, n_true, n_hits,
                   round(n_hits / n_true, 4) AS recall
            FROM audits
        """


def _acf_sql(max_lag: int) -> str:
    """Oracle for q_acf: the identical biased-ACF arithmetic — daily
    count series, one lead per lag, Σ products / Σ squares."""
    leads = ",\n                   ".join(
        f"lead(value, {lag}) OVER (ORDER BY day) AS x{lag}"
        for lag in range(1, max_lag + 1))
    nums = ",\n                   ".join(
        f"sum((value - m) * (x{lag} - m)) AS n{lag},"
        f" count(x{lag}) AS c{lag}"
        for lag in range(1, max_lag + 1))
    rows = "\n              UNION ALL ".join(
        f"SELECT {lag} AS lag, n{lag} AS n, c{lag} AS c, den FROM agg"
        for lag in range(1, max_lag + 1))
    return f"""
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS day,
                     CAST(count(1) AS DOUBLE) AS value
              FROM events GROUP BY 1
            ), m AS (SELECT avg(value) AS m FROM daily),
            led AS (
              SELECT value,
                   {leads}
              FROM daily
            ), agg AS (
              SELECT sum((value - m) * (value - m)) AS den,
                   {nums}
              FROM led, m
            )
            SELECT lag, round(n / den, 6) AS acf, c AS n_pairs
            FROM ({rows})
        """


def _hll_est_cte(pred: str, tag: str) -> str:
    """One p=8 HLL register build + estimate over `events.event_id`
    filtered by `pred`, as a CTE chain ending in est_{tag}(est) — the
    identical register split / exact-integer harmonic sum as the
    q_hll_distinct oracle (4.341691417504662e+23 = alpha_256·256²·2⁶³)."""
    raw = (f"4.341691417504662e+23 / CAST(s_{tag} + (256 - nz_{tag})"
           f"::HUGEINT * 9223372036854775808::HUGEINT AS DOUBLE)")
    return f"""h_{tag} AS (
              SELECT CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 2) AS INT) AS reg,
                     CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 3, 14) AS BIGINT) AS w
              FROM events WHERE event_id IS NOT NULL AND ({pred})
            ), r_{tag} AS (
              SELECT reg, max(CASE WHEN w = 0 THEN 57
                                   ELSE 56 - length(bin(w)) + 1 END) AS rho
              FROM h_{tag} GROUP BY 1
            ), agg_{tag} AS (
              SELECT sum(((CAST(1 AS BIGINT) << (63 - rho)))::HUGEINT) AS s_{tag},
                     count(*) AS nz_{tag}
              FROM r_{tag}
            ), est_{tag} AS (
              SELECT round(CASE WHEN {raw} <= 640.0 AND nz_{tag} < 256
                     THEN 256.0 * ln(256.0 / (256 - nz_{tag}))
                     ELSE {raw} END, 2) AS est
              FROM agg_{tag}
            )"""


def oracle_sql() -> dict[str, str]:
    """Queries that are plan-level variants with IDENTICAL semantics
    share one oracle: q_pagerank_bucketed runs the same fixed-point
    arithmetic as q_pagerank over a persisted bucketed edge list, so
    the same CTE-unrolled replay verifies both."""
    d = _oracle_sql_literal()
    d["q_pagerank_bucketed"] = d["q_pagerank"]
    # same sharing for the triangle family: the bucketed variant runs the
    # identical count over the identical co-purchase graph
    d["q_triangles_bucketed"] = d["q_triangles"]
    d["q_hits"] = _hits_unrolled_sql(iters=2)
    # bloom pre-filter has no false negatives and the equi-join kills
    # the false positives, so the oracle is the PLAIN join
    d["q_bloom_join"] = """
            SELECT s.s_suppkey, s.s_name,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)),
                         2) AS revenue,
                   count(*) AS n_lines
            FROM lineitem l JOIN supplier s
              ON l.l_suppkey = s.s_suppkey
            WHERE s.s_suppkey % 17 = 0
            GROUP BY 1, 2
        """
    d["q_record_linkage"] = _linkage_oracle_sql()
    d["q_golden_records"] = _golden_records_oracle_sql()
    d["q_quality_classifier"] = _quality_classifier_oracle_sql()
    d["q_quality_classifier_cm"] = _quality_classifier_cm_oracle_sql()
    d["q_quality_classifier_std"] = _quality_classifier_std_oracle_sql()
    d["q_dsir_weights"] = _dsir_oracle_sql()
    d["text_normalize"] = """
            SELECT doc_id, text, nfc_normalize(text) AS norm_text
            FROM documents
        """
    d["q_ppl_buckets"] = """
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)),
                                               '\\s+')) AS tok
              FROM documents
            ), counts AS (
              SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
            ), stats AS (
              SELECT CAST(sum(cnt) AS BIGINT) AS total,
                     count(*) AS vocab
              FROM counts
            ), scored AS (
              SELECT t.doc_id,
                     ln((c.cnt + 0.5) / (s.total + 0.5 * s.vocab)) AS lp
              FROM toks t JOIN counts c USING (tok) CROSS JOIN stats s
            ), lm AS (
              SELECT doc_id, count(*) AS n_tokens,
                     round(avg(lp), 6) AS avg_logprob
              FROM scored GROUP BY doc_id
            ), sk AS (
              SELECT CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1
                          ELSE 0 END AS kind,
                     CASE WHEN v = 0 THEN 0
                          ELSE CAST(ceil(round(
                                 ln(abs(v))
                                 / ln((1.0+0.01)/(1.0-0.01)), 9))
                               AS INT)
                     END AS idx,
                     count(*) AS cnt
              FROM (SELECT avg_logprob AS v FROM lm
                    WHERE avg_logprob IS NOT NULL)
              GROUP BY 1, 2
            ), cw AS (
              SELECT kind, idx, cnt,
                     sum(cnt) OVER (
                       ORDER BY kind,
                                CASE WHEN kind = -1 THEN -idx
                                     ELSE idx END
                       ROWS UNBOUNDED PRECEDING) AS cum_hi
              FROM sk
            ), tt AS (SELECT sum(cnt) AS n FROM sk),
            thr AS (
              SELECT q,
                     kind * round(2.0 * power((1.0+0.01)/(1.0-0.01),
                                              idx)
                                  / ((1.0+0.01)/(1.0-0.01) + 1.0), 4)
                       AS est
              FROM (SELECT unnest([0.3333333333333333::DOUBLE,
                                   0.6666666666666666::DOUBLE]) AS q)
                   qs, tt, cw
              WHERE cum_hi - cnt < floor(round(q * (n - 1), 6)) + 1
                AND floor(round(q * (n - 1), 6)) + 1 <= cum_hi
            )
            SELECT lm.doc_id, lm.n_tokens, lm.avg_logprob,
                   CAST(2 - sum(CASE WHEN lm.avg_logprob >= thr.est
                                     THEN 1 ELSE 0 END) AS INT)
                     AS bucket
            FROM lm, thr GROUP BY 1, 2, 3
        """

    d["text_mg_summary"] = r"""
            WITH toks AS (
              SELECT unnest(string_split_regex(lower(trim(text)),
                                               '\s+')) AS token
              FROM documents
            ), cnts AS (
              SELECT token, count(*) AS cnt FROM toks
              WHERE token <> '' GROUP BY token
            ), thr AS (
              SELECT CASE WHEN count(*) > 64 THEN min(cnt)
                          ELSE 0 END AS t
              FROM (SELECT cnt FROM cnts ORDER BY cnt DESC LIMIT 65)
            )
            SELECT token, cnt - thr.t AS cnt
            FROM cnts, thr WHERE cnt - thr.t > 0
        """
    d["q_ab_test"] = """
            WITH s AS (
              SELECT count(CASE WHEN user_id % 2 = 0 THEN 1 END)
                       AS na,
                     count(CASE WHEN user_id % 2 <> 0 THEN 1 END)
                       AS nb,
                     sum(CASE WHEN user_id % 2 = 0
                         THEN CAST(value AS DOUBLE) END) AS sa,
                     sum(CASE WHEN user_id % 2 <> 0
                         THEN CAST(value AS DOUBLE) END) AS sb,
                     sum(CASE WHEN user_id % 2 = 0
                         THEN CAST(value AS DOUBLE)
                            * CAST(value AS DOUBLE) END) AS qa,
                     sum(CASE WHEN user_id % 2 <> 0
                         THEN CAST(value AS DOUBLE)
                            * CAST(value AS DOUBLE) END) AS qb
              FROM events
            ), m AS (
              SELECT na, nb, sa / na AS ma, sb / nb AS mb,
                     (qa - sa * sa / na) / (na - 1) AS va,
                     (qb - sb * sb / nb) / (nb - 1) AS vb
              FROM s
            )
            SELECT na AS n_a, nb AS n_b,
                   round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
                   round(ma - mb, 6) AS mean_diff,
                   round((ma - mb) / sqrt(va / na + vb / nb), 6)
                     AS t_stat,
                   round(pow(va / na + vb / nb, 2)
                         / (pow(va / na, 2) / (na - 1)
                            + pow(vb / nb, 2) / (nb - 1)), 6) AS dof
            FROM m
        """
    d["q_bfs_hops"] = """
            WITH RECURSIVE je AS (
              SELECT DISTINCT 'c' || o_custkey AS src,
                     's' || l_suppkey AS dst
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            ), edges AS (
              SELECT src, dst FROM je UNION SELECT dst, src FROM je
            ), seeds AS (
              SELECT DISTINCT 'c' || o_custkey AS node
              FROM orders JOIN lineitem ON l_orderkey = o_orderkey
              WHERE o_custkey < 5
            ), walk(node, hops) AS (
              SELECT node, 0 FROM seeds
              UNION
              SELECT e.dst, w.hops + 1
              FROM walk w JOIN edges e ON w.node = e.src
              WHERE w.hops < 6
            )
            SELECT node, CAST(min(hops) AS INT) AS hops
            FROM walk GROUP BY node
        """
    d["q_rolling_quantiles"] = """
            WITH b AS (
              SELECT CAST(ts AS DATE) AS day,
                     CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1
                          ELSE 0 END AS kind,
                     CASE WHEN v = 0 THEN 0
                          ELSE CAST(ceil(round(
                                 ln(abs(v))
                                 / ln((1.0+0.01)/(1.0-0.01)), 9))
                               AS INT)
                     END AS idx,
                     count(*) AS cnt
              FROM (SELECT ts, CAST(value AS DOUBLE) AS v
                    FROM events WHERE value IS NOT NULL)
              GROUP BY 1, 2, 3
            ), cal AS (
              SELECT CAST(d AS DATE) AS day
              FROM (SELECT unnest(generate_series(
                       (SELECT min(day) FROM b),
                       (SELECT max(day) FROM b),
                       INTERVAL 1 DAY)) AS d)
            ), keys AS (SELECT DISTINCT kind, idx FROM b),
            dense AS (
              SELECT cal.day, keys.kind, keys.idx,
                     coalesce(b.cnt, 0) AS cnt
              FROM cal CROSS JOIN keys
              LEFT JOIN b ON cal.day = b.day AND keys.kind = b.kind
                         AND keys.idx = b.idx
            ), rolled AS (
              SELECT day, kind, idx,
                     sum(cnt) OVER (PARTITION BY kind, idx
                         ORDER BY day
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                       AS cnt
              FROM dense
            ), rpos AS (SELECT * FROM rolled WHERE cnt > 0),
            c AS (
              SELECT day, kind, idx, cnt,
                     sum(cnt) OVER (PARTITION BY day
                       ORDER BY kind,
                                CASE WHEN kind = -1 THEN -idx
                                     ELSE idx END
                       ROWS UNBOUNDED PRECEDING) AS cum_hi
              FROM rpos
            ), t AS (SELECT day, sum(cnt) AS n FROM rpos GROUP BY 1)
            SELECT c.day, q,
                   kind * round(2.0 * power((1.0+0.01)/(1.0-0.01), idx)
                                / ((1.0+0.01)/(1.0-0.01) + 1.0), 4)
                     AS est
            FROM (SELECT unnest([0.5::DOUBLE, 0.95::DOUBLE]) AS q) qs,
                 t, c
            WHERE c.day = t.day
              AND cum_hi - cnt < floor(round(q * (n - 1), 6)) + 1
              AND floor(round(q * (n - 1), 6)) + 1 <= cum_hi
        """
    d["stream_ddsketch_daily"] = """
            WITH b AS (
              SELECT CAST(ts AS DATE) AS day,
                     CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1
                          ELSE 0 END AS kind,
                     CASE WHEN v = 0 THEN 0
                          ELSE CAST(ceil(round(
                                 ln(abs(v))
                                 / ln((1.0+0.01)/(1.0-0.01)), 9))
                               AS INT)
                     END AS idx,
                     count(*) AS cnt
              FROM (SELECT ts, CAST(value AS DOUBLE) AS v
                    FROM events WHERE value IS NOT NULL)
              GROUP BY 1, 2, 3
            ), c AS (
              SELECT day, kind, idx, cnt,
                     sum(cnt) OVER (PARTITION BY day
                       ORDER BY kind,
                                CASE WHEN kind = -1 THEN -idx
                                     ELSE idx END
                       ROWS UNBOUNDED PRECEDING) AS cum_hi
              FROM b
            ), t AS (SELECT day, sum(cnt) AS n FROM b GROUP BY 1)
            SELECT c.day, q,
                   kind * round(2.0 * power((1.0+0.01)/(1.0-0.01), idx)
                                / ((1.0+0.01)/(1.0-0.01) + 1.0), 4)
                     AS est
            FROM (SELECT unnest([0.5::DOUBLE, 0.95::DOUBLE]) AS q) qs,
                 t, c
            WHERE c.day = t.day
              AND cum_hi - cnt < floor(round(q * (n - 1), 6)) + 1
              AND floor(round(q * (n - 1), 6)) + 1 <= cum_hi
        """
    d["q_ppr"] = """
            WITH je AS (SELECT DISTINCT 'c' || o_custkey AS src,
                               's' || l_suppkey AS dst,
                               o_custkey AS ck
                        FROM lineitem JOIN orders
                          ON l_orderkey = o_orderkey),
            edges AS (SELECT src, dst FROM je
                      UNION SELECT dst, src FROM je),
            nodes AS (SELECT DISTINCT src AS node FROM edges),
            seeds AS (SELECT DISTINCT 'c' || ck AS node FROM je
                      WHERE ck < 5),
            ns AS (SELECT count(*)::DOUBLE AS ns FROM seeds),
            ev AS (SELECT n.node,
                          CASE WHEN s.node IS NOT NULL
                               THEN 1.0 / ns.ns ELSE 0.0 END AS e
                   FROM nodes n LEFT JOIN seeds s ON n.node = s.node
                        CROSS JOIN ns),
            deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
            r0 AS (SELECT node, e AS r FROM ev),
            c1 AS (SELECT x.dst AS node, sum(r0.r / deg.deg) AS s
                   FROM edges x JOIN deg ON x.src = deg.src
                        JOIN r0 ON x.src = r0.node
                   GROUP BY 1),
            r1 AS (SELECT ev.node,
                          round(0.15 * ev.e
                                + 0.85 * coalesce(c1.s, 0), 6) AS r
                   FROM ev LEFT JOIN c1 ON ev.node = c1.node),
            c2 AS (SELECT x.dst AS node, sum(r1.r / deg.deg) AS s
                   FROM edges x JOIN deg ON x.src = deg.src
                        JOIN r1 ON x.src = r1.node
                   GROUP BY 1),
            r2 AS (SELECT ev.node,
                          round(0.15 * ev.e
                                + 0.85 * coalesce(c2.s, 0), 6) AS r
                   FROM ev LEFT JOIN c2 ON ev.node = c2.node)
            SELECT node, r AS rank FROM r2
        """
    d["q_psi"] = """
            WITH ed AS (
              SELECT list_transform(quantile_cont(
                       CAST(value AS DOUBLE),
                       [0.1, 0.2, 0.3, 0.4, 0.5,
                        0.6, 0.7, 0.8, 0.9]),
                     t -> round(t, 4)) AS e
              FROM events
            ), bsrc AS (
              SELECT CASE WHEN event_id % 2 = 0
                          THEN value * 1.15 END AS value, event_id
              FROM events WHERE event_id % 2 = 0
            ), ca AS (
              SELECT list_sum(list_transform(ed.e,
                       t -> CAST(round(CAST(value AS DOUBLE), 4) > t
                                 AS INT))) AS bin,
                     count(*) AS na
              FROM events, ed WHERE value IS NOT NULL GROUP BY 1
            ), cb AS (
              SELECT list_sum(list_transform(ed.e,
                       t -> CAST(round(CAST(value AS DOUBLE), 4) > t
                                 AS INT))) AS bin,
                     count(*) AS nb
              FROM bsrc, ed WHERE value IS NOT NULL GROUP BY 1
            ), spine AS (
              SELECT unnest(generate_series(0, 9)) AS bin
            ), ta AS (SELECT sum(na)::DOUBLE AS ta FROM ca),
            tb AS (SELECT sum(nb)::DOUBLE AS tb FROM cb),
            terms AS (
              SELECT s.bin,
                     CASE WHEN s.bin = 0 THEN NULL
                          ELSE round(e[s.bin], 6) END AS lo,
                     CASE WHEN s.bin = 9 THEN NULL
                          ELSE round(e[s.bin + 1], 6) END AS hi,
                     round(greatest(coalesce(ca.na, 0) / ta.ta,
                                    1e-6), 6) AS frac_a,
                     round(greatest(coalesce(cb.nb, 0) / tb.tb,
                                    1e-6), 6) AS frac_b,
                     round((greatest(coalesce(cb.nb, 0) / tb.tb, 1e-6)
                            - greatest(coalesce(ca.na, 0) / ta.ta,
                                       1e-6))
                           * ln(greatest(coalesce(cb.nb, 0) / tb.tb,
                                         1e-6)
                                / greatest(coalesce(ca.na, 0) / ta.ta,
                                           1e-6)), 6) AS psi_term
              FROM spine s
              LEFT JOIN ca ON s.bin = ca.bin
              LEFT JOIN cb ON s.bin = cb.bin
              CROSS JOIN ta CROSS JOIN tb CROSS JOIN ed
            ), tot AS (SELECT round(sum(psi_term), 6) AS psi
                       FROM terms)
            SELECT t.bin, t.lo, t.hi, t.frac_a, t.frac_b, t.psi_term,
                   tot.psi
            FROM terms t, tot
        """
    # connected components: the converged hash-to-min labeling is the
    # canonical min-reachable-id per node, which recursive reachability
    # computes directly (iteration-schedule independent by uniqueness).
    d["q_connected_components"] = f"""
            WITH RECURSIVE {_copurchase_edges_cte(3)},
            reach(node, lbl) AS (
              SELECT src AS node, src AS lbl FROM und
              UNION
              SELECT u.dst, r.lbl FROM reach r
              JOIN und u ON u.src = r.node
            )
            SELECT node, min(lbl) AS component FROM reach GROUP BY node
        """
    d["q_label_prop"] = _label_prop_unrolled_sql(iters=2, min_support=3)
    # identical converged labeling over the identical graph — the
    # bucketed variant shares the recursive min-reachability oracle
    d["q_connected_bucketed"] = d["q_connected_components"]
    # bucketed variants are numerically identical to their in-memory
    # forms on the same edges — shared oracles
    d["q_lpa_bucketed"] = d["q_label_prop"]
    d["q_acf"] = _acf_sql(max_lag=7)
    d["sim_pq_topk"] = _pq_oracle_sql(k_top=10)
    d["sim_ivfpq_topk"] = _ivfpq_oracle_sql(k_top=10, nprobe=2)
    d["sim_ivfadc_topk"] = _ivfadc_oracle_sql(k_top=10, nprobe=2)
    d["sim_ivfadc_rerank"] = _ivfadc_oracle_sql(k_top=10, nprobe=2,
                                                rerank=4)
    d["sim_recall_rerank"] = _recall_rerank_oracle_sql()
    # the persisted-index round trip returns exactly the in-memory PQ
    # search's rows — one oracle verifies both
    d["sim_pq_index"] = d["sim_pq_topk"]
    d["dedup_verify"] = f"""
            WITH {_shingle_cte_for_oracles()},
            sig AS (
              SELECT doc_id,
                     min(substr(md5(sh || '#0'),  1, 8)) AS mh_0,
                     min(substr(md5(sh || '#0'),  9, 8)) AS mh_1,
                     min(substr(md5(sh || '#0'), 17, 8)) AS mh_2,
                     min(substr(md5(sh || '#0'), 25, 8)) AS mh_3,
                     min(substr(md5(sh || '#1'),  1, 8)) AS mh_4,
                     min(substr(md5(sh || '#1'),  9, 8)) AS mh_5,
                     min(substr(md5(sh || '#1'), 17, 8)) AS mh_6,
                     min(substr(md5(sh || '#1'), 25, 8)) AS mh_7
              FROM shingles GROUP BY doc_id
            ),
            buckets AS (
              SELECT doc_id, 0 AS band, mh_0 || '|' || mh_1 AS key FROM sig
              UNION ALL SELECT doc_id, 1, mh_2 || '|' || mh_3 FROM sig
              UNION ALL SELECT doc_id, 2, mh_4 || '|' || mh_5 FROM sig
              UNION ALL SELECT doc_id, 3, mh_6 || '|' || mh_7 FROM sig
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM buckets a JOIN buckets b
                ON a.band = b.band AND a.key = b.key
               AND a.doc_id < b.doc_id
            ),
            shl AS (
              SELECT doc_id, list(DISTINCT sh) AS sh
              FROM shingles GROUP BY doc_id
            )
            SELECT c.id_a, c.id_b,
                   round(len(list_intersect(a.sh, b.sh)) * 1.0
                         / len(list_distinct(list_concat(a.sh, b.sh))),
                         4) AS jaccard,
                   round(len(list_intersect(a.sh, b.sh)) * 1.0
                         / least(len(a.sh), len(b.sh)), 4)
                     AS containment
            FROM cand c JOIN shl a ON c.id_a = a.doc_id
                 JOIN shl b ON c.id_b = b.doc_id
        """
    d["dedup_jaccard_prefix"] = f"""
            WITH {_shingle_cte_for_oracles()},
            shl AS (
              SELECT doc_id, list(DISTINCT sh) AS sh
              FROM shingles GROUP BY doc_id
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.sh, b.sh)) * 1.0
                         / len(list_distinct(list_concat(a.sh, b.sh))),
                         4) AS jaccard
            FROM shl a JOIN shl b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.sh, b.sh)) * 1.0
                  / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
        """
    d["dedup_containment"] = f"""
            WITH {_shingle_cte_for_oracles()},
            shl AS (
              SELECT doc_id, lang, list(DISTINCT sh) AS sh
              FROM shingles GROUP BY doc_id, lang
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.sh, b.sh))
                         * 1.0 / least(len(a.sh), len(b.sh)), 4)
                     AS containment
            FROM shl a JOIN shl b
              ON a.lang = b.lang AND a.doc_id < b.doc_id
            WHERE len(list_intersect(a.sh, b.sh))
                  * 1.0 / least(len(a.sh), len(b.sh)) >= 0.25
        """
    d["dedup_cascade"] = r"""
            WITH u AS (
              SELECT doc_id, text,
                     'https://' || source || '.example.com/p/'
                     || CAST(doc_id % 60 AS VARCHAR)
                     || (CASE WHEN doc_id % 2 = 0
                         THEN '/?utm_source=x' ELSE '' END) AS url
              FROM documents
            ), parts AS (
              SELECT doc_id, text,
                lower(regexp_extract(url,
                  '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
                regexp_replace(lower(regexp_replace(regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1),
                  '^[^@]*@', '')), '^www\.', '') AS h,
                regexp_replace(regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                  '/+$', '') AS p,
                list_sort(list_filter(
                  string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
                  x -> x <> '' AND NOT regexp_matches(x,
                    '^(utm_[^=]*|gclid|fbclid|msclkid|ref|mc_cid|mc_eid)(=|$)')
                )) AS kept
              FROM u
            ), c AS (
              SELECT doc_id, text,
                scheme || '://'
                || (CASE WHEN scheme = 'https'
                         THEN regexp_replace(h, ':443$', '')
                         WHEN scheme = 'http'
                         THEN regexp_replace(h, ':80$', '')
                         ELSE h END)
                || (CASE WHEN p = '' THEN '/' ELSE p END)
                || (CASE WHEN len(kept) > 0
                         THEN '?' || array_to_string(kept, '&')
                         ELSE '' END) AS canon_url
              FROM parts
            ), s1 AS (
              SELECT canon_url, min(doc_id) AS keep FROM c GROUP BY 1
            ), a1 AS (
              SELECT c.doc_id, c.text FROM c
              JOIN s1 ON c.canon_url = s1.canon_url
                     AND c.doc_id = s1.keep
            )
            SELECT '0_raw' AS stage, count(*) AS n_docs FROM documents
            UNION ALL
            SELECT '1_url', count(*) FROM a1
            UNION ALL
            SELECT '2_exact', count(DISTINCT text) FROM a1
            UNION ALL
            SELECT '3_fingerprint',
                   count(DISTINCT md5(trim(regexp_replace(
                       regexp_replace(lower(text), '[^a-z0-9\s]', '',
                                      'g'), '\s+', ' ', 'g'))))
            FROM a1
        """
    # shared prefix for the exact-substring family: n=8 shingles over
    # the canonical tokenization, keep-first marking, island merge
    _substr_spans = r"""
            WITH arrs AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+')
                       AS toks
              FROM documents
            ), sh2 AS (
              SELECT doc_id, pos,
                     array_to_string(toks[pos:pos+7], ' ') AS shingle
              FROM arrs, UNNEST(range(1, len(toks) - 6)) AS r(pos)
            ), stats AS (
              SELECT shingle, count(*) AS cnt,
                     min(struct_pack(i := doc_id, p := pos)) AS first
              FROM sh2 GROUP BY shingle
            ), marked AS (
              SELECT s.doc_id, s.pos
              FROM sh2 s JOIN stats t USING (shingle)
              WHERE t.cnt >= 2
                AND struct_pack(i := s.doc_id, p := s.pos) <> t.first
            ), isl AS (
              SELECT doc_id, pos,
                     CASE WHEN lag(pos) OVER w IS NULL
                               OR pos - lag(pos) OVER w > 8
                          THEN 1 ELSE 0 END AS brk
              FROM marked
              WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ), isl2 AS (
              SELECT doc_id, pos,
                     sum(brk) OVER (PARTITION BY doc_id
                                    ORDER BY pos) AS island
              FROM isl
            ), spans AS (
              SELECT doc_id, min(pos) AS start_tok,
                     max(pos) + 7 AS end_tok
              FROM isl2 GROUP BY doc_id, island
            )
    """

    _dc_spans = r"""
            WITH arrs AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+')
                       AS toks
              FROM documents
            ), sh2 AS (
              SELECT doc_id, pos,
                     array_to_string(toks[pos:pos+7], ' ') AS shingle
              FROM arrs, UNNEST(range(1, len(toks) - 6)) AS r(pos)
            ), bset AS (
              SELECT DISTINCT shingle FROM sh2 WHERE doc_id % 10 = 0
            ), marked AS (
              SELECT s.doc_id, s.pos
              FROM sh2 s JOIN bset USING (shingle)
              WHERE s.doc_id % 10 <> 0
            ), isl AS (
              SELECT doc_id, pos,
                     CASE WHEN lag(pos) OVER w IS NULL
                               OR pos - lag(pos) OVER w > 8
                          THEN 1 ELSE 0 END AS brk
              FROM marked
              WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ), isl2 AS (
              SELECT doc_id, pos,
                     sum(brk) OVER (PARTITION BY doc_id
                                    ORDER BY pos) AS island
              FROM isl
            ), spans AS (
              SELECT doc_id, min(pos) AS start_tok,
                     max(pos) + 7 AS end_tok
              FROM isl2 GROUP BY doc_id, island
            )
    """
    d["decontam_spans"] = _dc_spans + """
            SELECT doc_id, start_tok, end_tok FROM spans
        """
    d["decontam_clean"] = _dc_spans + """
            , toks AS (
              SELECT doc_id, toks[pos] AS tok, pos, len(toks) AS nt
              FROM arrs, UNNEST(range(1, len(toks) + 1)) AS r(pos)
              WHERE doc_id % 10 <> 0
            ), kept AS (
              SELECT t.doc_id,
                     array_to_string(list(t.tok ORDER BY t.pos), ' ')
                       AS clean_text,
                     count(*) AS n_kept
              FROM toks t
              WHERE NOT EXISTS (
                SELECT 1 FROM spans s
                WHERE s.doc_id = t.doc_id
                  AND t.pos BETWEEN s.start_tok AND s.end_tok)
              GROUP BY t.doc_id
            )
            SELECT a.doc_id,
                   coalesce(k.clean_text, '') AS clean_text,
                   len(a.toks) AS n_tokens,
                   coalesce(k.n_kept, 0) AS n_kept
            FROM arrs a LEFT JOIN kept k USING (doc_id)
            WHERE a.doc_id % 10 <> 0
        """

    d["dedup_substring"] = _substr_spans + """
            SELECT doc_id, start_tok, end_tok FROM spans
        """
    d["dedup_substring_clean"] = _substr_spans + """
            , toks AS (
              SELECT doc_id, toks[pos] AS tok, pos, len(toks) AS nt
              FROM arrs, UNNEST(range(1, len(toks) + 1)) AS r(pos)
            ), kept AS (
              SELECT t.doc_id,
                     array_to_string(list(t.tok ORDER BY t.pos), ' ')
                       AS clean_text,
                     count(*) AS n_kept
              FROM toks t
              WHERE NOT EXISTS (
                SELECT 1 FROM spans s
                WHERE s.doc_id = t.doc_id
                  AND t.pos BETWEEN s.start_tok AND s.end_tok)
              GROUP BY t.doc_id
            )
            SELECT a.doc_id,
                   coalesce(k.clean_text, '') AS clean_text,
                   len(a.toks) AS n_tokens,
                   coalesce(k.n_kept, 0) AS n_kept
            FROM arrs a LEFT JOIN kept k USING (doc_id)
        """
    d["q_kanon"] = """
            SELECT l_linestatus, l_quantity, l_tax, l_discount,
                   count(*) AS n_rows
            FROM lineitem
            GROUP BY 1, 2, 3, 4
            HAVING count(*) < 3
        """
    # profile_drift on (value, user_id, event_type): string columns
    # profile their lengths (the profile_table convention)
    _pd_cols = [("value", "num"), ("user_id", "num"),
                ("event_type", "str")]

    def _pd_block(src: str) -> str:
        blocks = []
        for name, kind in _pd_cols:
            mean_src = f"length({name})" if kind == "str" else name
            blocks.append(f"""SELECT '{name}' AS "column",
                round((count(*) - count({name})) * 1.0 / count(*), 4)
                  AS null_rate,
                count(DISTINCT {name}) AS n_distinct,
                round(avg(CAST({mean_src} AS DOUBLE)), 4) AS mean
              FROM {src}""")
        return "\n              UNION ALL ".join(blocks)

    d["q_profile_drift"] = f"""
            WITH b AS (
              SELECT CASE WHEN value > 400 AND event_id % 3 = 0
                          THEN NULL ELSE value END AS value,
                     user_id, event_type
              FROM events WHERE event_id % 2 = 0
            ), pa AS (
              {_pd_block("events")}
            ), pb AS (
              {_pd_block("b")}
            )
            SELECT pa."column",
                   pa.null_rate AS null_rate_a,
                   pb.null_rate AS null_rate_b,
                   round(pb.null_rate - pa.null_rate, 4)
                     AS null_rate_delta,
                   pa.n_distinct AS n_distinct_a,
                   pb.n_distinct AS n_distinct_b,
                   pa.mean AS mean_a, pb.mean AS mean_b,
                   round(pb.mean - pa.mean, 4) AS mean_delta
            FROM pa JOIN pb ON pa."column" = pb."column"
        """
    d["q_rolling_dau_hll"] = """
            WITH h AS (
              SELECT CAST(ts AS DATE) AS day,
                     CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2) AS INT) AS reg,
                     CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 14) AS BIGINT) AS w
              FROM events WHERE user_id IS NOT NULL
            ), r AS (
              SELECT day, reg,
                     max(CASE WHEN w = 0 THEN 57
                              ELSE 56 - length(bin(w)) + 1 END) AS rho
              FROM h GROUP BY 1, 2
            ), spine AS (
              -- CALENDAR spine (gapless), mirroring the engine: a
              -- zero-event gap day must occupy a ROWS-frame slot or
              -- the trailing window spans >7 calendar days
              SELECT CAST(d AS DATE) AS day, reg
              FROM (SELECT unnest(generate_series(
                       (SELECT min(day) FROM r),
                       (SELECT max(day) FROM r),
                       INTERVAL 1 DAY)) AS d),
                   (SELECT unnest(generate_series(0, 255)) AS reg)
            ), dense AS (
              SELECT s.day, s.reg, coalesce(r.rho, 0) AS rho
              FROM spine s LEFT JOIN r
                ON s.day = r.day AND s.reg = r.reg
            ), rolled AS (
              SELECT day, reg,
                     max(rho) OVER (PARTITION BY reg ORDER BY day
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                       AS rho
              FROM dense
            ), agg AS (
              -- dense registers: rho=0 rows ARE the empties (each
              -- contributes 2^63 — branched to the literal, a 64-bit
              -- shift by 63 overflows), so no (m - nz) correction
              SELECT day,
                     sum(CASE WHEN rho = 0
                         THEN 9223372036854775808::HUGEINT
                         ELSE ((CAST(1 AS BIGINT) << (63 - rho)))::HUGEINT
                         END) AS s,
                     sum(CASE WHEN rho > 0 THEN 1 ELSE 0 END) AS nz
              FROM rolled GROUP BY 1
            )
            SELECT day,
                   round(CASE WHEN 4.341691417504662e+23
                                   / CAST(s AS DOUBLE) <= 640.0
                              AND nz < 256
                         THEN 256.0 * ln(256.0 / (256 - nz))
                         ELSE 4.341691417504662e+23
                              / CAST(s AS DOUBLE) END, 2) AS est
            FROM agg
        """
    d["q_attribution"] = """
            WITH tagged AS (
              SELECT user_id AS entity, ts AS t, event_type AS ty,
                     event_id AS o,
                     coalesce(sum(CASE WHEN event_type = 'purchase'
                                       THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS seg
              FROM events
            ), fl AS (
              SELECT entity, seg, ty,
                     row_number() OVER (PARTITION BY entity, seg
                         ORDER BY t, o) AS rn_a,
                     row_number() OVER (PARTITION BY entity, seg
                         ORDER BY t DESC, o DESC) AS rn_d
              FROM tagged WHERE ty <> 'purchase'
            ), touches AS (
              SELECT entity, seg,
                     max(CASE WHEN rn_a = 1 THEN ty END)
                       AS first_touch,
                     max(CASE WHEN rn_d = 1 THEN ty END)
                       AS last_touch,
                     count(*) AS n_touches
              FROM fl GROUP BY 1, 2
            ), convs AS (
              SELECT entity, seg, o AS conv_id, t AS conv_ts
              FROM tagged WHERE ty = 'purchase'
            )
            SELECT c.entity, c.conv_id, c.conv_ts,
                   tt.first_touch, tt.last_touch,
                   coalesce(tt.n_touches, 0) AS n_touches
            FROM convs c LEFT JOIN touches tt
              ON c.entity = tt.entity AND c.seg = tt.seg
        """
    d["q_ols"] = """
            WITH base AS (
              SELECT l_returnflag,
                     CAST(l_quantity AS DOUBLE) AS x,
                     CAST(l_extendedprice * (1 - l_discount)
                          AS DOUBLE) AS y
              FROM lineitem
              WHERE l_quantity IS NOT NULL
                AND l_extendedprice IS NOT NULL
                AND l_discount IS NOT NULL
            ), s AS (
              SELECT l_returnflag, count(*)::DOUBLE AS n,
                     sum(x) AS sx, sum(y) AS sy,
                     sum(x*x) AS sxx, sum(x*y) AS sxy,
                     sum(y*y) AS syy
              FROM base GROUP BY 1
            )
            SELECT l_returnflag, CAST(n AS BIGINT) AS n,
                   round(CASE WHEN n*sxx - sx*sx > 0
                         THEN (n*sxy - sx*sy) / (n*sxx - sx*sx)
                         END, 6) AS slope,
                   round((sy - (CASE WHEN n*sxx - sx*sx > 0
                         THEN (n*sxy - sx*sy) / (n*sxx - sx*sx)
                         END) * sx) / n, 6) AS intercept,
                   round(CASE WHEN n*sxx - sx*sx > 0
                              AND n*syy - sy*sy > 0
                         THEN (n*sxy - sx*sy)*(n*sxy - sx*sy)
                              / ((n*sxx - sx*sx)*(n*syy - sy*sy))
                         END, 6) AS r2
            FROM s
        """
    d["q_skew_report"] = """
            WITH counts AS (
              SELECT CAST(l_partkey AS VARCHAR) AS key,
                     count(*) AS cnt
              FROM lineitem GROUP BY 1
            ), tot AS (
              SELECT sum(cnt)::DOUBLE AS n, count(*) AS n_keys,
                     sum(cnt::DOUBLE * ln(cnt::DOUBLE)) AS slnc
              FROM counts
            ), head AS (
              SELECT key, cnt FROM counts
              ORDER BY cnt DESC, key LIMIT 10
            )
            SELECT key, cnt,
                   round(cnt / n, 6) AS share,
                   round(sum(cnt) OVER (ORDER BY cnt DESC, key
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) / n, 6) AS cum_share,
                   round(cnt / (n / n_keys), 6) AS skew_ratio,
                   n_keys,
                   round(CASE WHEN n_keys > 1
                         THEN (ln(n) - slnc / n)
                              / ln(n_keys::DOUBLE)
                         ELSE 0.0 END, 6) AS entropy_norm
            FROM head, tot
        """
    d["text_zipf"] = r"""
            WITH toks AS (
              SELECT unnest(string_split_regex(trim(lower(text)),
                                               '\s+')) AS token
              FROM documents
            ), tf AS (
              SELECT token, count(*) AS cnt FROM toks
              WHERE token <> '' GROUP BY 1
            ), head AS (
              SELECT cnt, token FROM tf
              ORDER BY cnt DESC, token LIMIT 500
            ), ranked AS (
              SELECT ln(CAST(row_number() OVER (
                         ORDER BY cnt DESC, token) AS DOUBLE)) AS x,
                     ln(CAST(cnt AS DOUBLE)) AS y
              FROM head
            ), s AS (
              SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
                     sum(x*x) AS sxx, sum(x*y) AS sxy, sum(y*y) AS syy
              FROM ranked
            )
            SELECT CAST(n AS BIGINT) AS n_terms,
                   round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6)
                     AS slope,
                   round((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx))*sx)
                         / n, 6) AS intercept,
                   round((n*sxy - sx*sy)*(n*sxy - sx*sy)
                         / ((n*sxx - sx*sx)*(n*syy - sy*sy)), 6) AS r2
            FROM s
        """
    d["text_vocab_growth"] = r"""
            WITH e AS (
              SELECT quantile_cont(CAST(doc_id AS DOUBLE),
                  [0.1, 0.2, 0.3, 0.4, 0.5,
                   0.6, 0.7, 0.8, 0.9, 1.0]) AS ed
              FROM documents
            ), bd AS (
              SELECT doc_id,
                     least(list_sum(list_transform(ed,
                         t -> CAST(CAST(doc_id AS DOUBLE) > t AS INT))),
                         9) AS bucket,
                     len(list_filter(string_split_regex(
                         trim(lower(text)), '\s+'),
                         x -> x <> '')) AS nt,
                     string_split_regex(trim(lower(text)),
                                        '\s+') AS ws
              FROM documents, e
            ), doc_tok AS (
              SELECT bucket, count(*) AS docs, sum(nt) AS toks
              FROM bd GROUP BY 1
            ), first AS (
              SELECT min_b AS bucket, count(*) AS new FROM (
                SELECT token, min(bucket) AS min_b FROM (
                  SELECT bucket, unnest(ws) AS token FROM bd)
                WHERE token <> '' GROUP BY 1)
              GROUP BY 1
            )
            SELECT d.bucket,
                   sum(d.docs) OVER w AS docs_cum,
                   sum(d.toks) OVER w AS tokens_cum,
                   sum(coalesce(f.new, 0)) OVER w AS vocab_cum
            FROM doc_tok d LEFT JOIN first f ON d.bucket = f.bucket
            WINDOW w AS (ORDER BY d.bucket
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)
        """
    # the identical IEEE left fold as Spark's F.aggregate struct
    # accumulator: init l=x1,b=0 (list_reduce seeds from the first
    # element, whose b is 0), then the Holt recurrence per element
    d["q_holt"] = """
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS day,
                     CAST(count(1) AS DOUBLE) AS value
              FROM events GROUP BY 1
            ), arr AS (
              -- state is a 2-element LIST [level, trend], NOT a
              -- struct: DuckDB 1.0 evaluates struct-accumulator
              -- lambda fields against a partially-updated acc
              -- (measured: the trend field saw the new level mid-
              -- step), and bare literals are DECIMALs that silently
              -- truncate the fold — hence the ::DOUBLE on every
              -- constant. The list form replays Spark's struct
              -- F.aggregate fold IEEE-exactly.
              SELECT array_agg([value, 0.0::DOUBLE]
                               ORDER BY day) AS xs,
                     count(*) AS n_days
              FROM daily
            ), f AS (
              SELECT n_days, list_reduce(xs, (acc, e) ->
                [0.3::DOUBLE * e[1]
                     + 0.7::DOUBLE * (acc[1] + acc[2]),
                 0.1::DOUBLE * ((0.3::DOUBLE * e[1]
                             + 0.7::DOUBLE * (acc[1] + acc[2]))
                             - acc[1]) + 0.9::DOUBLE * acc[2]]) AS st
              FROM arr
            )
            SELECT n_days, round(st[1], 6) AS level,
                   round(st[2], 6) AS trend,
                   round(st[1] + st[2], 6) AS forecast_1,
                   round(st[1] + 7 * st[2], 6) AS forecast_7
            FROM f
        """
    d["q_anomaly"] = """
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS day, count(*) AS value
              FROM events GROUP BY 1
            ), tr AS (
              SELECT day, value,
                     CASE WHEN count(*) OVER w = 7
                          THEN round(avg(value) OVER w, 4) END AS trend,
                     (day - DATE '1970-01-01') % 7 AS phase
              FROM daily
              WINDOW w AS (ORDER BY day
                           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
            ), seas_raw AS (
              SELECT phase, round(avg(value - trend), 4) AS s_raw
              FROM tr WHERE trend IS NOT NULL GROUP BY phase
            ), c AS (SELECT round(avg(s_raw), 4) AS c FROM seas_raw),
            seas AS (
              SELECT phase, round(s_raw - c, 4) AS seasonal
              FROM seas_raw, c
            ), dec AS (
              SELECT day, value,
                     round(value - trend - seasonal, 4) AS resid
              FROM tr LEFT JOIN seas USING (phase)
              WHERE trend IS NOT NULL
            ), sd AS (
              SELECT round(stddev_pop(resid), 4) AS sigma FROM dec
            )
            SELECT day, value, resid, sigma,
                   abs(resid) > 3.0 * sigma AS is_anomaly
            FROM dec, sd
        """
    # inclusion-exclusion over three replayed register builds; the
    # union sketch == a build over the OR of the predicates (the
    # hll_merge bit-identity, tested in test_dataops/test_streaming)
    d["q_hll_intersect"] = f"""
            WITH {_hll_est_cte("user_id % 2 = 0", "a")},
            {_hll_est_cte("event_id % 3 > 0", "b")},
            {_hll_est_cte("(user_id % 2 = 0) OR (event_id % 3 > 0)",
                          "u")},
            ex AS (
              SELECT count(DISTINCT event_id) AS exact_intersection
              FROM events
              WHERE user_id % 2 = 0 AND event_id % 3 > 0
            )
            SELECT est_a.est AS est_a, est_b.est AS est_b,
                   est_u.est AS est_union,
                   round(est_a.est + est_b.est - est_u.est, 2)
                     AS est_intersection,
                   ex.exact_intersection
            FROM est_a, est_b, est_u, ex
        """
    d["web_url_dedup"] = r"""
            WITH u AS (
              SELECT doc_id,
                (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.'
                      ELSE 'https://' END)
                || source || '.example.com'
                || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
                || '/Articles/' || CAST(doc_id % 37 AS VARCHAR)
                || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
                || '?z=2&utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR)
                || (CASE WHEN doc_id % 6 = 0 THEN '&fbclid=abc' ELSE '' END)
                || '#frag' AS url
              FROM documents
            ), parts AS (
              SELECT doc_id,
                lower(regexp_extract(url,
                  '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
                regexp_replace(lower(regexp_replace(regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1),
                  '^[^@]*@', '')), '^www\.', '') AS h,
                regexp_replace(regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                  '/+$', '') AS p,
                list_sort(list_filter(
                  string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
                  x -> x <> '' AND NOT regexp_matches(x,
                    '^(utm_[^=]*|gclid|fbclid|msclkid|ref|mc_cid|mc_eid)(=|$)')
                )) AS kept
              FROM u
            ), norm AS (
              SELECT doc_id,
                scheme || '://'
                || (CASE WHEN scheme = 'https'
                         THEN regexp_replace(h, ':443$', '')
                         WHEN scheme = 'http'
                         THEN regexp_replace(h, ':80$', '')
                         ELSE h END)
                || (CASE WHEN p = '' THEN '/' ELSE p END)
                || (CASE WHEN len(kept) > 0
                         THEN '?' || array_to_string(kept, '&')
                         ELSE '' END) AS canon_url
              FROM parts
            )
            SELECT canon_url, count(*) AS n_docs,
                   min(doc_id) AS keeper_id
            FROM norm GROUP BY 1
        """
    d["q_cusum"] = """
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS day,
                     CAST(count(1) AS DOUBLE) AS value
              FROM events GROUP BY 1
            ), st AS (
              SELECT avg(value) AS m, stddev_pop(value) AS sd FROM daily
            ), sc AS (
              SELECT day, value,
                     round(sum(CASE WHEN sd = 0 THEN 0.0
                                    ELSE (value - m) / sd END)
                           OVER (ORDER BY day
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW), 6) AS cusum
              FROM daily, st
            ), pk AS (SELECT max(abs(cusum)) AS p FROM sc)
            SELECT day, value, cusum, abs(cusum) = p AS is_peak
            FROM sc, pk
        """
    # 14 unrolled peel rounds: sf0.01 converges in 11; margin rounds
    # are no-ops past the fixpoint.
    d["q_kcore"] = _kcore_unrolled_sql(k=3, rounds=14, min_support=2)
    d["q_kcore_bucketed"] = d["q_kcore"]
    return d

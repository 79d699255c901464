"""Physical-plan regression tests: the properties that make the
headline queries survive a 100×-1000× scale-up. A correctness-neutral
edit that, say, drops a broadcast hint or breaks column pruning fails
HERE rather than in a cluster."""

import pytest

import __spark_entry__ as entry
from conftest import no_auto_broadcast


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    qs = entry.queries()

    def plan_of(name):
        df = qs[name](spark, sf_dir)
        return df._jdf.queryExecution().executedPlan().toString()

    return plan_of


def test_q3_joins_are_broadcast(plans):
    p = plans("q3_shipping_priority")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_q3_topk_is_distributed(plans):
    # global row_number() would show a partition-less Window over the
    # full grouped set; sort+limit compiles to TakeOrderedAndProject.
    p = plans("q3_shipping_priority")
    assert "TakeOrderedAndProject" in p


def test_q5_all_dim_joins_broadcast(plans):
    p = plans("q5_region_revenue")
    assert p.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in p


def test_q1_scan_prunes_columns(plans):
    # 7-column aggregate over a 16-column table: ReadSchema must not
    # contain unused columns, and the date filter must be pushed.
    p = plans("q1_pricing_summary")
    scan = next(line for line in p.splitlines() if "FileScan parquet" in line)
    assert "l_comment" not in scan and "l_partkey" not in scan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p or "PushedFilters: [" in p


def test_q1_partial_aggregation(plans):
    # map-side combine: partial_sum before the exchange.
    p = plans("q1_pricing_summary")
    assert "partial_sum" in p


def test_sim_topk_scores_corpus_in_one_arrow_stage(plans):
    """Round 12: the per-pair cosine fold moved into ONE vectorized
    MapInPandas stage over the corpus scan (queries ride the task
    closure — the former broadcast, collected once). No join of the
    corpus, no row-at-a-time Python, no cartesian blowup."""
    p = plans("sim_topk")
    assert "MapInPandas" in p
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_minhash_shuffle_carries_signatures_not_shingles(spark, sf_dir):
    # ONE hash-aggregate pair (partial_min then min) around one
    # exchange: the shuffle payload is the fixed-width digests. (The
    # pair query's own plan hides this stage behind its lineage-cut
    # checkpoint, so inspect the signature stage directly.)
    from seatunnel_spark.dataops.dedup import minhash_signatures

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sig = minhash_signatures(df, "doc_id", "text")
    p = sig._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in p


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Tables bucketed on the join key join WITHOUT a shuffle — the
    write-once/reuse-partitioning scale pattern."""
    from seatunnel_spark.plans.bucketing import colocated_join, write_bucketed

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    try:
        write_bucketed(o, "bk_orders", ["o_orderkey"], num_buckets=8)
        write_bucketed(li, "bk_lineitem", ["o_orderkey"], num_buckets=8)
        # disable broadcast so the join would otherwise shuffle both sides
        with no_auto_broadcast(spark):
            joined = colocated_join(spark, "bk_orders", "bk_lineitem", ["o_orderkey"])
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning" not in plan
            assert joined.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_orders")
        spark.sql("DROP TABLE IF EXISTS bk_lineitem")


def test_no_cartesian_products_anywhere(plans):
    """None of the bench queries may degrade to a cartesian product
    (BroadcastNestedLoopJoin with a bounded broadcast side is fine)."""
    import bench

    for name in bench.BENCH_QUERIES:
        assert "CartesianProduct" not in plans(name), name


def test_decontam_benchmark_side_broadcasts(plans):
    # the benchmark gram set must broadcast; the corpus side must not
    # shuffle before the semi-join
    p = plans("decontam_ngram")
    assert "BroadcastHashJoin" in p and "LeftSemi" in p


def test_sampling_is_scan_only(plans):
    # hash-split membership is a pure projection+filter: no exchange
    # at all in the split assignment
    p = plans("sample_split")
    assert "Exchange" not in p


def test_domain_mix_broadcasts_counts(plans):
    # the per-domain keep-rate frame joins back as a broadcast; the
    # corpus side must not shuffle for the join
    p = plans("sample_domain_mix")
    assert "BroadcastHashJoin" in p


def test_minhash_single_signature_pass(plans):
    # the persisted bucket frame must be the reuse point: BOTH
    # self-join sides read the same InMemoryTableScan, so the
    # signature pipeline (the expensive md5 pass) computes once.
    # (Each InMemoryTableScan prints the cache's defining subtree, so
    # a raw FileScan count over the string double-counts — assert the
    # cache reference instead.)
    p = plans("dedup_minhash_pairs")
    assert p.count("InMemoryTableScan") >= 2
    assert p.count("InMemoryRelation") == p.count("InMemoryTableScan")


def test_pack_docs_no_global_window(plans):
    # the two-pass prefix sum must never fall back to a partition-less
    # window (single-task global sort)
    p = plans("pack_docs")
    for line in p.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "_pid" in line, f"global window leaked: {line}"


def test_retention_no_event_self_join_no_window(plans):
    # cohort assignment is a min-ts aggregation joined back — never a
    # per-event self-join of events against events, never a window;
    # the whole matrix is <=3 hash exchanges (assign, join side,
    # distinct-count)
    p = plans("q_retention")
    assert "Window" not in p and "CartesianProduct" not in p
    assert p.count("Exchange hashpartitioning") <= 3
    assert "partial_min" in p  # map-side combined cohort assignment


def test_pivot_single_exchange_no_expand(plans):
    # declared pivot values: one conditional-agg shuffle, no
    # distinct-values pre-job and no Expand node
    p = plans("q_pivot")
    assert p.count("Exchange hashpartitioning") == 1
    assert "Expand" not in p
    assert "partial_sum" in p


def test_ngram_stats_no_udf_partial_agg(plans):
    # shifted-slice arrays_zip keeps the n-gram build JVM-side: no
    # Python eval in the plan, counts combine map-side, and the top-k
    # compiles to TakeOrderedAndProject (no global sort)
    p = plans("text_ngram_stats")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "partial_count" in p
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p or "TakeOrderedAndProject" in p


def test_corpus_overlap_no_token_self_join(plans):
    # pair expansion happens inside the <=|sources| array — no
    # token-keyed self-join, no cartesian, one scan of documents
    p = plans("q_corpus_overlap")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert p.count("FileScan parquet") == 1


def test_json_extract_single_exchange_no_udf(plans):
    p = plans("q_json_extract")
    assert p.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "partial_count" in p


def test_moving_avg_window_over_aggregate(plans):
    # the window must consume the aggregated daily series (partial
    # aggregation below the window), never the raw event log
    p = plans("q_moving_avg")
    assert "Window" in p and "partial_count" in p
    w = p.index("Window")
    assert "HashAggregate" in p[w:], "window not over the aggregate"


def test_emb_quantize_scan_only_no_udf(plans):
    # quantization is one codegen'd projection: no exchange, no Python
    p = plans("emb_quantize")
    assert "Exchange" not in p
    assert "EvalPython" not in p


def test_html_clean_scan_only(plans):
    p = plans("text_html_clean")
    assert "Exchange" not in p
    assert "EvalPython" not in p


def test_kmeans_assignment_is_literal_projection(plans):
    # centroids ride the plan as literals: final assignment + rollup
    # must have NO join and map-side partial aggregation.
    p = plans("emb_kmeans")
    assert "Join" not in p
    assert "partial_min" in p or "partial_count" in p


def test_sample_shuffle_no_global_sort(plans):
    # ranking is per-shard (partitionBy shard) — a global ORDER BY
    # would funnel through one partition (SinglePartition exchange).
    p = plans("sample_shuffle")
    assert "SinglePartition" not in p
    assert "windowspecdefinition(shard" in p


def test_dedup_passages_shuffles_digests(plans):
    # the first-owner window partitions on the md5 digest __k; the
    # chunk text itself must be projected away before any exchange.
    p = plans("dedup_passages")
    assert "hashpartitioning(__k" in p
    for line in p.splitlines():
        if "Exchange" in line:
            assert "__chunk" not in line


def test_text_chunks_has_no_shuffle(plans):
    # chunking is row-local: sequence+posexplode+slice must compile to
    # a scan-project with zero exchanges.
    assert "Exchange" not in plans("text_chunks")


def test_bm25_query_side_broadcast_no_cartesian(plans):
    p = plans("text_bm25")
    # query terms + idf table broadcast into the tf join; the 1-row
    # stats frame rides a broadcast nested loop, never a cartesian.
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p


def test_pagerank_no_cartesian(plans):
    assert "CartesianProduct" not in plans("q_pagerank")


def test_temperature_sample_broadcasts_the_plan(plans):
    p = plans("sample_temperature")
    # per-domain plan is broadcast back; the corpus is never shuffled
    # on doc rows — only the tiny domain-count aggregations exchange.
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_passage_apply_no_cartesian(plans):
    assert "CartesianProduct" not in plans("dedup_passage_apply")


def test_argmin_join_avoids_fact_table_window(plans):
    # min-agg + join-back: Catalyst folds the equality filter into the
    # join keys and broadcasts the per-group min table — the fact side
    # joins with NO shuffle and is never windowed; only the two
    # aggregations exchange.
    p = plans("q_argmin_join")
    assert "Window" not in p
    assert "BroadcastHashJoin" in p
    assert p.count("Exchange hashpartitioning") == 2


# --- TPC-H completion suite (round 6) --------------------------------------

def test_q6_pushdown_and_one_row_agg(plans):
    # all three predicates reach the parquet scan; no join, no wide
    # shuffle — a single partial/final agg pair.
    p = plans("q6_forecast_revenue")
    scan = next(l for l in p.splitlines() if "FileScan parquet" in l)
    assert "l_returnflag" not in scan  # column pruning
    assert "PushedFilters" in p and "l_discount" in p.split("PushedFilters")[1].split("]")[0]
    assert "Join" not in p
    assert "partial_sum" in p


def test_q8_dims_broadcast_no_cartesian(plans):
    p = plans("q8_market_share")
    assert p.count("BroadcastHashJoin") >= 3  # n1, n2, region at least
    assert "CartesianProduct" not in p


def test_q10_topk_distributed(plans):
    p = plans("q10_returned_items")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_q11_reuses_base_no_collect_scalar(plans):
    # the scalar total joins back as a broadcast (1-row), not via a
    # driver collect; the per-part agg is lineage-cut so BOTH its
    # consumers read the checkpoint — lineitem is never scanned twice
    # (plan shows checkpoint scans, zero parquet re-scans).
    p = plans("q11_value_concentration")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert p.count("FileScan parquet") <= 3


def test_q13_left_join_then_narrow_second_agg(plans):
    p = plans("q13_customer_distribution")
    # second agg is over (c_count) ints — partial agg present both times
    assert p.count("partial_count") >= 1
    assert "CartesianProduct" not in p


def test_q15_scalar_max_is_broadcast(plans):
    p = plans("q15_top_supplier")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    # the revenue view is computed once and reused for the max
    assert "ReusedExchange" in p or p.count("FileScan parquet") <= 3


def test_q17_no_window_no_fact_rescan(plans):
    # per-part avg via agg+join, not a correlated re-scan or window
    p = plans("q17_small_qty_revenue")
    assert "Window" not in p
    assert p.count("FileScan parquet") <= 4  # lineitem(x2 via reuse or 2 scans) + part


def test_q18_semi_join_before_wide_joins(plans):
    p = plans("q18_large_orders")
    assert "LeftSemi" in p


def test_q20_semi_join_chain(plans):
    p = plans("q20_excess_shippers")
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p


def test_q21_no_row_level_self_join_explosion(plans):
    # the EXISTS/NOT-EXISTS pair rides on ONE (orderkey,suppkey) agg:
    # lineitem is scanned exactly once (no self-join, no re-join of
    # the raw fact table); the window runs over supplier-level rows.
    p = plans("q21_waiting_suppliers")
    assert "CartesianProduct" not in p
    assert p.count("FileScan parquet") <= 4  # lineitem once + 3 dims
    assert "partial_max" in p  # map-side combine before the one shuffle


def test_gapfill_spine_broadcast(plans):
    # the day-span scalar is a 1-row broadcast cross join; the event
    # table is aggregated before any join.
    p = plans("q_gapfill")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_heavy_hitters_candidates_broadcast(plans):
    # phase-2 recount semi-joins the tiny candidate set broadcast-side;
    # the full vocabulary must not shuffle un-filtered.
    p = plans("text_heavy_hitters")
    assert "BroadcastHashJoin" in p and "LeftSemi" in p


def test_decontam_bloom_confirm_join_after_filter(plans):
    # the bloom test runs BEFORE the exact confirm join: ArrowEvalPython
    # (the vectorized probe) must appear, and the join must be LeftSemi.
    p = plans("decontam_bloom")
    assert "ArrowEvalPython" in p
    assert "LeftSemi" in p


def test_group_sample_topk_salted_two_phase(plans):
    # phase 1 ranks within (group, salt): the wide window must carry
    # the salt key so a hot group spreads across tasks; phase 2's
    # per-group window sees only <= salt*k survivors.
    p = plans("sample_group_topk")
    assert p.count("Window") >= 2
    assert "__salt" in p
    assert "CartesianProduct" not in p


def test_cms_build_partial_agg_probe_broadcast(plans):
    # the sketch build must map-side combine (bounded shuffle rows no
    # matter the corpus size) and the probe join must broadcast the
    # <=16k-row sketch, never shuffle the probes against it.
    p = plans("text_cms_counts")
    assert "partial_count" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_fuzzy_dedup_block_join_no_cartesian(plans):
    # pairs come from an equi-join on the prefix block key, never a
    # cartesian; the hot-block cap's window rides the same exchange.
    p = plans("dedup_fuzzy")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "levenshtein" in p


def test_zscore_stats_broadcast_fact_never_shuffles(plans):
    # the |groups|-row stats side broadcasts; the events scan must not
    # feed an Exchange (a window formulation would sort the fact table)
    p = plans("q_zscore_outliers")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "Window" not in p


def test_histogram_span_broadcast_single_count_shuffle(plans):
    # 1-row min/max broadcast (never a collect), then ONE partial-
    # aggregated exchange for the bin counts.
    p = plans("q_histogram")
    assert "BroadcastNestedLoopJoin" in p
    assert "partial_count" in p
    assert "CartesianProduct" not in p


def test_kl_drift_text_never_shuffles(plans):
    # the only wide exchanges are vocabulary-sized aggregates: the raw
    # text column must not appear in any Exchange input.
    p = plans("text_kl_drift")
    assert "partial_count" in p
    assert "CartesianProduct" not in p


def test_event_pattern_single_entity_shuffle(plans):
    # two exchanges, BOTH keyed on the entity: the max_events guard's
    # narrow (entity, count) aggregation + the per-entity grouping the
    # semantics require. The regex runs post-agg on |entities| rows,
    # never on raw events, and no exchange carries anything wider
    # than the entity key + event struct.
    p = plans("q_event_pattern")
    assert p.count("Exchange hashpartitioning") == 2
    assert p.count("Exchange hashpartitioning(user_id") == 2
    assert "CartesianProduct" not in p


def test_weighted_sample_salted_two_phase(plans):
    # same scale property as sample_group_topk: two window phases with
    # the salt key in the wide one
    p = plans("sample_weighted")
    assert p.count("Window") >= 2
    assert "__salt" in p
    assert "CartesianProduct" not in p


def test_cube_single_expand_no_rescan(plans):
    # Spark compiles CUBE to ONE Expand over one scan + one combined
    # aggregation — not a per-grouping-set re-scan/union
    p = plans("q_cube")
    assert "Expand" in p
    assert p.count("FileScan parquet") == 1


def test_rfm_windows_partitioned_by_nation(plans):
    # all three ntile windows must be partitioned (no global
    # single-task sort of the customer aggregate)
    p = plans("q_rfm")
    assert "Exchange SinglePartition" not in p
    assert "ntile" in p


def test_dq_gate_single_pass(plans):
    # every rule folds into ONE aggregation over ONE scan; adding a
    # rule must never add a scan
    p = plans("dq_gate")
    assert p.count("FileScan parquet") == 1


def test_emb_covariance_partials_not_vectors_shuffle(plans):
    # the Arrow stage folds each partition to one partial and is
    # materialized ONCE by an eager localCheckpoint (the plan scans
    # the checkpointed RDD, no parquet rescan per branch); exchanges
    # carry exploded partials (n_partitions x d^2), never N x d^2
    # rows, and the mean joins broadcast.
    p = plans("emb_covariance")
    assert "ExistingRDD" in p          # the lineage-cut partials
    assert "FileScan parquet" not in p  # raw vectors never rescanned
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_copurchase_array_form_no_join(plans):
    # pair generation happens inside each basket's sorted array: the
    # plan must contain NO join at all — two map-side-combined
    # shuffles (basket collect, pair count) and nothing else wide
    p = plans("q_copurchase")
    assert "Join" not in p and "CartesianProduct" not in p
    assert "partial_count" in p
    assert p.count("Exchange hashpartitioning") == 2


def test_rolling_dau_no_window_no_countdistinct_state(plans):
    # the contribute-forward form: no Window operator anywhere, the
    # horizon cut is a 1-row broadcast
    p = plans("q_rolling_dau")
    assert "Window" not in p
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_mad_medians_broadcast_fact_never_shuffles(plans):
    # same shape contract as zscore: stats broadcast, no fact exchange,
    # no window
    p = plans("q_mad")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "Window" not in p


def test_collocations_single_tokenize_vocab_shuffles(plans):
    p = plans("text_collocations")
    assert "partial_count" in p
    assert "CartesianProduct" not in p


def test_grouping_sets_single_expand(plans):
    # like cube: one Expand over one scan, never per-set rescans
    p = plans("q_grouping_sets")
    assert "Expand" in p
    assert p.count("FileScan parquet") == 1


def test_melt_single_expand_one_scan(plans):
    # unpivot compiles to Expand over ONE scan; stats combine map-side
    p = plans("q_melt")
    assert "Expand" in p
    assert p.count("FileScan parquet") == 1
    assert "partial_count" in p


def test_ddsketch_build_is_one_partial_agg_exchange(spark, sf_dir):
    """The sketch build must be a single map-side-combined aggregation:
    partial_count before one exchange, and the shuffle payload is
    (kind, idx) buckets — never the raw values."""
    from seatunnel_spark.dataops.sketches import ddsketch_build

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = (ddsketch_build(li, "l_extendedprice")
         ._jdf.queryExecution().executedPlan().toString())
    assert "partial_count" in p
    assert p.count("Exchange") == 1
    scan = next(l for l in p.splitlines() if "FileScan parquet" in l)
    assert "l_extendedprice" in scan and "l_comment" not in scan


def test_pagerank_bucketed_edges_join_without_exchange(spark, sf_dir):
    """write_bucketed_edges makes the per-iteration degree/rank join
    read the graph pre-partitioned: the edges-side of every __src join
    has NO exchange — only the |V|-row ranks table moves. This is the
    durable co-location pagerank's docstring promises at cluster
    scale."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.graph import (pagerank,
                                               pagerank_on_bucketed,
                                               write_bucketed_edges)

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    j = (li.join(o, li.l_orderkey == o.o_orderkey)
         .select(F.concat(F.lit("c"), o.o_custkey).alias("src"),
                 F.concat(F.lit("s"), li.l_suppkey).alias("dst")))
    edges = j.union(j.select(F.col("dst").alias("src"),
                             F.col("src").alias("dst")))
    try:
        write_bucketed_edges(edges, "bk_pr_edges", num_buckets=8)
        with no_auto_broadcast(spark):
            e = spark.table("bk_pr_edges")
            deg = e.groupBy("__src").agg(F.count("*").alias("__deg"))
            frag = e.join(deg, "__src")
            p = frag._jdf.queryExecution().executedPlan().toString()
            # both sides derive from the bucketed scan: zero exchange
            assert "Exchange" not in p
            full = pagerank_on_bucketed(spark, "bk_pr_edges", iters=2)
            fp = full._jdf.queryExecution().executedPlan().toString()
            # bucketed read is active, and the only __src exchanges are
            # the ranks side (one per iteration) — never edges or degrees
            assert "Bucketed: true" in fp
            assert fp.count("Exchange hashpartitioning(__src") <= 2
            # numerically identical to the in-memory path
            a = {r["node"]: r["rank"] for r in full.collect()}
            b = {r["node"]: r["rank"]
                 for r in pagerank(edges, iters=2).collect()}
            assert a == b
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_pr_edges")


def test_triangles_bucketed_wedge_join_without_exchange(spark, sf_dir):
    """triangles_on_bucketed: the wedge SELF-join on __src reads the
    bucketed+sorted scan on both sides — zero exchange, zero sort —
    and the close join never shuffles the edge side (its bucket key
    is a subset of the join keys). Count identical to the in-memory
    triangle_count."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.analytics import triangle_count
    from seatunnel_spark.dataops.graph import (triangles_on_bucketed,
                                               write_bucketed_edges)

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    edges = (li.select(F.col("l_orderkey").alias("o"),
                       F.col("l_partkey").alias("p"))
             .join(li.select(F.col("l_orderkey").alias("o"),
                             F.col("l_partkey").alias("q")), "o")
             .filter(F.col("p") < F.col("q"))
             .select("p", "q").distinct())
    try:
        write_bucketed_edges(edges, "bk_tri_edges", src="p", dst="q",
                             dedupe=False, num_buckets=8)
        with no_auto_broadcast(spark):
            t = spark.table("bk_tri_edges")
            x, y = t.alias("x"), t.alias("y")
            wedge = x.join(y, (F.col("x.__src") == F.col("y.__src"))
                           & (F.col("x.__dst") < F.col("y.__dst")))
            wp = wedge._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in wp and "Bucketed: true" in wp
            full = triangles_on_bucketed(spark, "bk_tri_edges",
                                         max_degree=None)
            fp = full._jdf.queryExecution().executedPlan().toString()
            # the only exchanges left: wedge rows moving to the close join
            # (never on the bucketed edge side) + the 1-row final agg
            assert fp.count("Exchange hashpartitioning") <= 1
            got = full.collect()[0]["n_triangles"]
            exp = triangle_count(edges, "p", "q",
                                 max_degree=None).collect()[0]["n_triangles"]
            assert got == exp and got > 0
            # the capped form agrees on this hub-free graph
            assert triangles_on_bucketed(spark, "bk_tri_edges") \
                .collect()[0]["n_triangles"] == exp
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_tri_edges")


def test_zorder_narrows_both_dimensions(spark, sf_dir, tmp_path):
    """The Morton sort-write must make per-FILE min-max ranges narrow
    in BOTH participating columns (k-dimensional tiles) — a
    single-column sort is narrow in that column only, leaving filters
    on the other column unable to skip anything. Asserted straight
    from parquet footer stats, the same stats the scan pruner uses;
    and the z-ordered copy holds exactly the original rows."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from seatunnel_spark.plans.zorder import write_zordered

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey")

    def avg_ranges(path, cols):
        import glob
        spans = {c: [] for c in cols}
        glo = {c: [None, None] for c in cols}
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.read_metadata(f)
            for c in cols:
                lo, hi = None, None
                idx = md.schema.to_arrow_schema().get_field_index(c)
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
                spans[c].append(hi - lo)
                glo[c][0] = lo if glo[c][0] is None else min(glo[c][0], lo)
                glo[c][1] = hi if glo[c][1] is None else max(glo[c][1], hi)
        return {c: (sum(spans[c]) / len(spans[c]))
                / max(1, glo[c][1] - glo[c][0]) for c in cols}

    zp = str(tmp_path / "zorder")
    write_zordered(li, zp, ["l_partkey", "l_suppkey"], num_files=8)
    sp = str(tmp_path / "singlesort")
    (li.repartitionByRange(8, "l_partkey")
       .sortWithinPartitions("l_partkey")
       .write.mode("overwrite").parquet(sp))

    zr = avg_ranges(zp, ["l_partkey", "l_suppkey"])
    sr = avg_ranges(sp, ["l_partkey", "l_suppkey"])
    # single sort: partkey tiles tight, suppkey files cover ~everything
    assert sr["l_partkey"] < 0.3 and sr["l_suppkey"] > 0.8
    # z-order: BOTH dimensions substantially narrowed per file
    assert zr["l_partkey"] < 0.6 and zr["l_suppkey"] < 0.6
    # layout preserves content exactly
    a = spark.read.parquet(zp).orderBy("l_orderkey", "l_partkey",
                                       "l_suppkey").collect()
    b = li.orderBy("l_orderkey", "l_partkey", "l_suppkey").collect()
    assert a == b


def test_zorder_key_wide_k_stays_in_value_bits(spark):
    """k=4 at the default bits=16 used to push the top interleave bit
    into the 64-bit SIGN bit (negative keys sort before all positive,
    inverting that dimension) and k>=5 wrapped shiftleft mod 64. The
    fix auto-reduces bits to 63//k: all keys non-negative, and the key
    is strictly monotone in any one dimension with the others held at
    their lows."""
    import pytest
    from pyspark.sql import functions as F

    from seatunnel_spark.plans.zorder import zorder_key

    for k in (4, 5):
        rows = [tuple([v] + [0] * (k - 1)) for v in range(0, 1000, 37)]
        cols = [f"c{i}" for i in range(k)]
        df = spark.createDataFrame(rows, ", ".join(f"{c} long"
                                                   for c in cols))
        bounds = [(F.lit(0), F.lit(999))] * k
        out = (df.withColumn("__z", zorder_key(
                   [F.col(c) for c in cols], bounds))
               .orderBy("c0").collect())
        keys = [r["__z"] for r in out]
        assert all(z >= 0 for z in keys), f"negative Morton key at k={k}"
        assert keys == sorted(keys) and len(set(keys)) == len(keys)
    with pytest.raises(ValueError):
        zorder_key([], [])


def test_event_transitions_one_event_shuffle(plans):
    # exactly one exchange over the event log (the per-entity window
    # ordering); the pair/marginal work is |event_types|^2-sized and
    # the marginals ride a broadcast join
    p = plans("q_event_transitions")
    assert p.count("Exchange hashpartitioning(user_id") == 1
    assert "Join" not in p  # marginals ride a pairs-frame window
    assert "CartesianProduct" not in p


def test_bpe_encode_is_pure_codegen_over_vocab(plans):
    """The merge chain must stay JVM-side: no Python workers
    (BatchEvalPython/ArrowEvalPython) anywhere, exactly the two
    map-side-combined shuffles (word vocab, token counts), and the
    doc scan pruned to the text column."""
    p = plans("text_bpe_encode")
    assert "EvalPython" not in p
    assert "partial_count" in p or "partial_sum" in p
    scan = next(l for l in p.splitlines() if "FileScan parquet" in l)
    assert "text" in scan and "doc_id" not in scan


def test_bpe_encode_docs_two_shuffles(plans):
    """Doc rollup: dictionary join + per-doc agg; no Python, and the
    dictionary side is vocab-sized (AQE may broadcast it)."""
    p = plans("text_bpe_encode_docs")
    assert "EvalPython" not in p
    assert "partial_count" in p


def test_hll_register_agg_is_partial(plans):
    """The register build must combine map-side (MAX partials) and
    never touch Python; the estimate runs over the register table."""
    p = plans("q_hll_distinct")
    assert "partial_max" in p
    assert "EvalPython" not in p


def test_mm_image_dedup_is_bucket_join_not_cross(plans):
    """The Hamming join must be an equi-join on (seg, key) buckets —
    never a cross/nested-loop pair enumeration — and with the stub
    codec the phash renders as pure Catalyst (sha2+conv fold), so NO
    Python-eval stage appears anywhere in the plan (real codecs keep
    the Arrow-batched decode pass; bit-equality of the native stub is
    pinned by test_image_phash64_stub_native_matches_python_fold)."""
    p = plans("mm_image_dedup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p and "MapInPandas" not in p


def test_sim_recall_reuses_topk_shapes(plans):
    """Recall audit adds only hash joins over |queries| x k rows on
    top of the three searches — no extra scan of the corpus beyond
    what the searches themselves read, no Python."""
    p = plans("sim_recall")
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p


def test_ewma_single_entity_shuffle_no_udf(plans):
    """The EWMA fold stays JVM-side (no Python workers) and the event
    log shuffles once — the guard's narrow count and the collect hash
    on the same entity key."""
    p = plans("q_ewma")
    assert "EvalPython" not in p
    assert "partial_count" in p  # map-side-combined guard count
    assert "Window" not in p     # no window over raw events


def test_pq_topk_is_broadcast_codegen_scan(plans):
    """PQ ADC search: queries broadcast against the encoded corpus —
    no SortMergeJoin, no exchange before the per-query top-k window;
    scoring is literal-array lookups (pure codegen, no UDF)."""
    p = plans("sim_pq_topk")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_zipf_head_is_distributed_take_ordered(plans):
    """zipf_fit's frequency head must plan as TakeOrderedAndProject —
    a distributed top-k — never a vocabulary-wide single-partition
    Sort."""
    p = plans("text_zipf")
    assert "TakeOrderedAndProject" in p


def test_url_canonicalization_is_zero_shuffle(spark, sf_dir):
    """canonicalize_urls is a pure projection: no exchange, no UDF."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.web import canonicalize_urls

    d = (spark.read.parquet(f"{sf_dir}/documents.parquet")
         .select("doc_id", F.concat(F.lit("https://ex.com/"),
                                    F.col("doc_id")).alias("url")))
    p = (canonicalize_urls(d, "url")
         ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_vocab_growth_no_corpus_window(plans):
    """vocab_growth's only window runs on the buckets-row cumulative
    table: the executed plan's Window operators sit above aggregates,
    never directly over the document scan (bucket edges come from one
    percentile aggregate, not a ranking window)."""
    p = plans("text_vocab_growth")
    # a corpus-wide ranking would plan Window directly over the scan
    # with no aggregate in between; assert every Window has an
    # aggregate below it by checking order of first occurrences
    first_window = p.find("Window")
    assert first_window != -1
    assert "HashAggregate" in p[first_window:] or \
           "SortAggregate" in p[first_window:]


def test_connected_components_edges_cached_once(spark):
    """connected_components persists the symmetrized edge list: the
    per-round neighbor-min join reads InMemoryRelation, not a re-scan
    of the source."""
    from seatunnel_spark.dataops.graph import connected_components

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["src", "dst"])
    out = connected_components(df)
    p = out._jdf.queryExecution().executedPlan().toString()
    # the returned frame is a localCheckpoint scan; correctness of the
    # caching is observable via the catalog: no lingering cached plan
    # beyond the edge frame is REQUIRED, but the result must be
    # checkpoint-backed (bounded lineage, no re-derivation)
    assert "Scan ExistingRDD" in p or "LocalTableScan" in p


def test_connected_bucketed_edge_join_without_exchange(spark):
    """connected_components_on_bucketed: the per-round neighbor-min
    join must read the bucketed edge scan with NO edge-side exchange
    — only the |V|-row label table moves (the pagerank_on_bucketed
    property, verified on the join fragment the rounds run)."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.graph import (
        connected_components, connected_components_on_bucketed,
        write_bucketed_edges)

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)],
        ["src", "dst"])
    und = edges.union(edges.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
    try:
        write_bucketed_edges(und, "bk_cc_test", num_buckets=4)
        with no_auto_broadcast(spark):
            e = spark.table("bk_cc_test")
            labels = e.select(F.col("__src").alias("node")).distinct() \
                      .localCheckpoint()
            frag = e.join(labels.select(F.col("node").alias("__src")),
                          "__src")
            p = frag._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in p
            # the edge scan side must contribute no exchange; the only
            # exchange allowed is the label side moving to the buckets
            assert p.count("Exchange") <= 1
            got = {r["node"]: r["component"] for r in
                   connected_components_on_bucketed(
                       spark, "bk_cc_test").collect()}
            want = {r["node"]: r["component"] for r in
                    connected_components(edges).collect()}
            assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_cc_test")


def test_lpa_bucketed_edge_join_without_exchange(spark):
    """label_propagation_on_bucketed: each round's edge⋈label join
    must read the bucketed edge scan with NO edge-side exchange —
    only the |V|-row label table moves; output identical to the
    in-memory label_propagation on the same edges."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.graph import (
        label_propagation, label_propagation_on_bucketed,
        write_bucketed_edges)

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12)], ["src", "dst"])
    und = edges.union(edges.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
    try:
        write_bucketed_edges(und, "bk_lpa_test", num_buckets=4)
        with no_auto_broadcast(spark):
            e = spark.table("bk_lpa_test")
            labels = (e.select(F.col("__src").alias("node")).distinct()
                      .withColumn("label", F.col("node"))
                      .localCheckpoint())
            frag = e.join(labels.select(F.col("node").alias("__src"),
                                        F.col("label").alias("__l")),
                          "__src")
            p = frag._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in p
            assert p.count("Exchange") <= 1  # labels move; edges never
            got = {r["node"]: r["label"] for r in
                   label_propagation_on_bucketed(
                       spark, "bk_lpa_test", iters=2).collect()}
            want = {r["node"]: r["label"] for r in
                    label_propagation(edges, iters=2).collect()}
            assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_lpa_test")


def test_kcore_bucketed_frontier_join_without_exchange(spark):
    """k_core_on_bucketed: the initial degree aggregation and the
    per-round dropped-frontier join consume the bucketed scan with NO
    edge-side exchange; output identical to the in-memory delta peel
    (which itself equals the classic simultaneous peel — cascade
    case covered in test_dataops.test_k_core_peel_cascade)."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.graph import (k_core,
                                               k_core_on_bucketed,
                                               write_bucketed_edges)

    # K4 minus an edge + pendant chain: 2-core peels the chain off
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (4, 5), (5, 6)],
        ["src", "dst"])
    und = edges.union(edges.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
    try:
        write_bucketed_edges(und, "bk_kcore_test", num_buckets=4)
        with no_auto_broadcast(spark):
            e = spark.table("bk_kcore_test")
            # degree aggregation: partial agg runs on the bucketed scan,
            # final agg needs no exchange (grouping key == bucket key)
            deg = e.groupBy("__src").agg(F.count(F.lit(1)).alias("__deg"))
            p = deg._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in p and "Exchange" not in p
            dropped = (deg.filter(F.col("__deg") < 2)
                       .select(F.col("__src").alias("__d"))
                       .localCheckpoint())
            frag = e.join(dropped, e["__src"] == dropped["__d"])
            fp = frag._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in fp
            assert fp.count("Exchange") <= 1  # frontier moves; edges never
            got = sorted((r["node"], r["degree"]) for r in
                         k_core_on_bucketed(spark, "bk_kcore_test",
                                            k=2).collect())
            want = sorted((r["node"], r["degree"]) for r in
                          k_core(edges, 2).collect())
            assert got == want == [(1, 3), (2, 3), (3, 2), (4, 2)]
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_kcore_test")

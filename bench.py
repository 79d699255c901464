"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion (count() forces the full plan;
results stay distributed — no driver collect).

Multi-run protocol: after a warm-up pass (codegen compile + file
listing), queries are timed in $SPARK_GRAFT_BENCH_RUNS (default 5)
INTERLEAVED rounds — each round times every query once, in order, and
the per-query MIN across rounds is reported. Interleaving matters:
with consecutive per-query runs, a sustained ambient-load spike lands
entirely inside one query's timing window and fakes a plan regression
(round 4: sample_domain_mix 0.45→3.2 s under driver load while the
idle truth was 0.34 s). Round-robin spreads any spike thinly across
all queries, so the min-across-rounds still converges on the idle
envelope. os.getloadavg() at start/end is recorded alongside so a
loaded run is visible in the JSON itself.

Cache isolation: spark.catalog.clearCache() runs after every timed
query. Several operators persist() a reused frame (pagerank edges,
wedge-close edge lists, LSH bucket tables); the cache serves the
MULTIPLE CONSUMERS INSIDE one query execution — that benefit is real
and stays inside the timed window — but letting it survive across
queries (a) hands later invocations of the same plan a free ride the
r6 localCheckpoint protocol never had, and (b) at sf10 accumulates
GBs of cached blocks whose eviction churn distorts innocent
neighbors (q_events_hourly measured 10.3 s mid-suite vs 0.75 s
isolated). Each timed number is a standalone cold-cache execution.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    # relational core
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q_window_top_orders",
    "q_events_hourly",
    "q_agg_stats",
    # transform pipeline
    "t_sql_functions",
    "t_zeta_datetime",
    # training-data ops
    "dedup_exact",
    "dedup_fingerprint",
    "dedup_minhash_pairs",
    "text_quality",
    "text_langid",
    "sim_topk",
    # round-2 additions (kept after the original 14 so per-query
    # timings stay comparable across rounds)
    "decontam_ngram",
    "sample_domain_mix",
    # round-5 additions (append-only for the same reason)
    "q_funnel",
    "q_retention",
    "q_pivot",
    "text_ngram_stats",
    # round-6 additions (append-only)
    "q_corpus_overlap",
    "q_json_extract",
    "q_moving_avg",
    "dedup_incremental",
    "text_bm25",
    "q_pagerank",
    "text_chunks",
    "dedup_passage_apply",
    "sample_temperature",
    # round-6 TPC-H completion (append-only; the heaviest shapes —
    # the full 22-shape suite runs in selfcheck, these five cover the
    # distinct plan families: scan-agg pushdown, 7-table ratio,
    # fact-self-agg, double-agg distribution, per-key correlated avg)
    "q6_forecast_revenue",
    "q8_market_share",
    "q9_product_profit",
    "q13_customer_distribution",
    "q17_small_qty_revenue",
    "q21_waiting_suppliers",
    # round-6 late additions (append-only)
    "sample_group_topk",
    "text_cms_counts",
    "dedup_fuzzy",
    "q_zscore_outliers",
    "q_histogram",
    "text_kl_drift",
    "q_event_pattern",
    "sample_weighted",
    "q_cube",
    "q_rfm",
    "dq_gate",
    "emb_covariance",
    "q_copurchase",
    "q_triangles",
    "q_rolling_dau",
    "text_collocations",
    "q_mad",
    "q_assoc_rules",
    "q_clustering_coef",
    "q_grouping_sets",
    "q_melt",
    # round-7 additions (append-only)
    "q_ddsketch_quantiles",
    "q_event_transitions",
    # round-8 additions (append-only)
    "text_bpe_encode",
    "q_hll_distinct",
    "mm_image_dedup",
    "sim_recall",
    "q_triangles_bucketed",
    "sim_hybrid_rrf",
    "q_hll_merge",
    "q_ewma",
    # round-8 continuation additions (append-only)
    "q_connected_components",
    "q_label_prop",
    "q_kcore",
    "q_acf",
    "q_cusum",
    "q_holt",
    "q_anomaly",
    "q_hll_intersect",
    "web_url_dedup",
    "sim_pq_topk",
    "sim_ivfpq_topk",
    "text_zipf",
    "text_vocab_growth",
    "q_skew_report",
    "q_attribution",
    "q_rolling_dau_hll",
    "sim_ivfadc_topk",
    "q_kanon",
    "q_profile_drift",
    "dedup_containment",
    "dedup_cascade",
    "q_connected_bucketed",
    "q_ols",
    "dedup_verify",
    "dedup_jaccard_prefix",
    "q_ppr",
    "q_psi",
    # round-9 additions (append-only)
    "sim_ivfadc_rerank",
    "sim_recall_rerank",
    "q_lpa_bucketed",
    "q_kcore_bucketed",
    "stream_hll_dau",
    "q_hits",
    "q_rolling_quantiles",
    "q_record_linkage",
    "q_bloom_join",
    "q_bfs_hops",
    "q_ab_test",
    "q_golden_records",
    "text_quality_score",
    "emb_pca",
    # round-10 additions (append-only)
    "dedup_substring",
    "dedup_substring_clean",
    "q_quality_classifier",
    "q_quality_classifier_cm",
    "stream_ddsketch_daily",
    "sim_hard_negatives",
    "dedup_keep_best",
    # round-11 additions (append-only)
    "q_quality_classifier_std",
    "sim_hard_negatives_ivf",
    "q_dsir_weights",
    "text_mg_summary",
    "decontam_spans",
    "decontam_clean",
    "q_ppl_buckets",
    "text_normalize",
]

# Queries that must NEVER be trimmed from the one-line stdout JSON
# (round-12 fix, VERDICT r11 item 2): the round driver reads only the
# stdout tail and compares per-query timings round-over-round, so a
# query that falls out of the tail line looks "dropped" to it even
# though it ran (BENCH_LOCAL.json always has every timing). The old
# trim dropped FASTEST-first into the byte budget, so every
# append-only round evicted more previously-visible queries (5
# phantom "drops" at round 11). This set pins every query the driver
# saw in BENCH_r11 (64) plus the 5 the round-11 trim evicted; the
# trim below drops non-pinned entries first and the tail line uses
# 2-decimal timings + a minimal envelope so the pinned set fits.
PINNED_TAIL = [
    "q3_shipping_priority", "q5_region_revenue", "dedup_minhash_pairs",
    "q_corpus_overlap", "dedup_incremental", "text_bm25", "q_pagerank",
    "q8_market_share", "q9_product_profit", "q21_waiting_suppliers",
    "text_cms_counts", "dedup_fuzzy", "q_histogram", "q_event_pattern",
    "emb_covariance", "q_copurchase", "q_triangles", "text_collocations",
    "q_assoc_rules", "q_clustering_coef", "q_ddsketch_quantiles",
    "text_bpe_encode", "mm_image_dedup", "sim_recall",
    "q_triangles_bucketed", "sim_hybrid_rrf", "q_hll_merge",
    "q_connected_components", "q_label_prop", "q_kcore", "q_anomaly",
    "sim_pq_topk", "sim_ivfpq_topk", "q_skew_report", "q_rolling_dau_hll",
    "sim_ivfadc_topk", "q_profile_drift", "dedup_containment",
    "dedup_cascade", "q_connected_bucketed", "dedup_verify",
    "dedup_jaccard_prefix", "q_ppr", "sim_ivfadc_rerank",
    "sim_recall_rerank", "q_lpa_bucketed", "q_kcore_bucketed", "q_hits",
    "q_rolling_quantiles", "q_record_linkage", "q_bloom_join",
    "q_bfs_hops", "q_golden_records", "emb_pca", "dedup_substring",
    "q_quality_classifier", "q_quality_classifier_cm",
    "stream_ddsketch_daily", "dedup_keep_best",
    "q_quality_classifier_std", "sim_hard_negatives_ivf",
    "q_dsir_weights", "decontam_spans", "q_ppl_buckets",
    # evicted by the round-11 trim (PERF_r11 "dropped_from_bench"):
    "q13_customer_distribution", "q_hll_intersect", "q_psi",
    "sim_hard_negatives", "text_kl_drift",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # $SPARK_GRAFT_BENCH_QUERIES (comma-separated) overrides the query
    # list — used by the skew bench to run just the skew-sensitive
    # family against a Zipf dataset (tools/gen_sf1.py --zipf)
    global BENCH_QUERIES
    override = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if override:
        BENCH_QUERIES = [q.strip() for q in override.split(",")
                         if q.strip()]
    import __spark_entry__ as entry
    from seatunnel_spark.dataops import cache_scope
    from seatunnel_spark.session import get_spark

    # showConsoleProgress=false: the stage spinner's \r lines land in
    # the driver's captured tail (BENCH_r11.json shows ~180 chars of
    # them before the result line) and share its byte window with the
    # one-line JSON; a bench has no use for a progress bar.
    spark = get_spark("seatunnel-bench",
                      {"spark.ui.showConsoleProgress": "false"})
    # keep the tail window clean: log4j WARN spew (WindowExec etc.)
    # must never share the capture budget with the result line
    spark.sparkContext.setLogLevel("ERROR")
    settings = _settings(spark)
    qs = entry.queries()

    load_start = os.getloadavg()

    # warm the JVM + file listing once (excluded from timings)
    entry._t(spark, sf_dir, "lineitem").count()
    for name in BENCH_QUERIES:  # warm-up: codegen compile + listing
        qs[name](spark, sf_dir).count()
        spark.catalog.clearCache()

    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))
    timings = {name: float("inf") for name in BENCH_QUERIES}
    for _ in range(runs):  # interleaved: every query once per round
        for name in BENCH_QUERIES:
            # cache_scope releases exactly the operator-internal
            # persists this query took (the enforceable contract);
            # clearCache stays for cross-round protocol continuity
            # (localCheckpoint blocks, caller-level caches). Both
            # cleanups run OUTSIDE the timed window, as clearCache
            # always has.
            with cache_scope():
                t0 = time.perf_counter()
                qs[name](spark, sf_dir).count()  # timed steady run
                dt = time.perf_counter() - t0
            timings[name] = min(timings[name], dt)
            spark.catalog.clearCache()  # per-query cache isolation
    timings = {k: round(v, 3) for k, v in timings.items()}

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "runs": runs,
        **settings,
    }

    # The round driver records only the LAST ~2000 chars of stdout and
    # json-parses them; with 90+ queries the full per-query line
    # overflows that window and the official artifact comes back
    # "parsed": null (round 8). So: the COMPLETE result always goes to
    # BENCH_LOCAL.json next to this script, and the final stdout line
    # is guaranteed to fit — full if it can be, otherwise with the
    # queries dict trimmed to the slowest entries that fit (the
    # fastest are the ones nobody diagnoses from the tail; the
    # committed BENCH_LOCAL.json keeps every timing + a sha256 digest
    # that lets anyone confirm the two artifacts describe the same
    # run).
    digest = __import__("hashlib").sha256(
        json.dumps(timings, sort_keys=True).encode()).hexdigest()[:12]
    result["queries_sha256"] = digest
    # SPARK_GRAFT_BENCH_LOCAL: side runs (sf1/sf10/subset experiments)
    # point this elsewhere so they can't clobber the committed sf0.1
    # artifact (the round-11 hygiene item — a driver 8-core run and an
    # interrupted sf1 run both overwrote it).
    local = os.environ.get("SPARK_GRAFT_BENCH_LOCAL") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json")
    with open(local, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
        f.write("\n")

    budget = int(os.environ.get("SPARK_GRAFT_TAIL_BUDGET", "1800"))
    sys.stdout.flush()
    print(_tail_line(result, timings, digest, budget))


def _settings(spark) -> dict:
    """The settings the timings were taken at, recorded next to them:
    host cores, the session's parallelism, shuffle partitions and
    driver heap (all derived from the host unless set), and the
    commit measured."""
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
            timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    sc = spark.sparkContext
    return {
        "cpus": os.cpu_count(),
        "defaultParallelism": sc.defaultParallelism,
        "spark.sql.shuffle.partitions":
            spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.driver.memory": sc.getConf().get("spark.driver.memory"),
        "commit": commit,
    }


def _tail_line(result: dict, timings: dict, digest: str,
               budget: int) -> str:
    """The ONE stdout line the round driver parses. Full result if it
    fits; otherwise trim to fit WITHOUT ever evicting a pinned query
    (the set the driver's round-over-round comparison watches — see
    PINNED_TAIL): 2-decimal timings + minimal envelope (full
    3-decimal detail stays in BENCH_LOCAL.json, digest-linked), then
    drop non-pinned entries fastest-first; pinned entries are touched
    only if the pinned set alone cannot fit (never at the current
    budget: 69 pinned entries measure ~1770 bytes — asserted by
    tests/test_bench_tail.py)."""
    line = json.dumps(result, separators=(",", ":"))
    if len(line) <= budget:
        return line
    pinned = set(PINNED_TAIL)
    keep = {k: round(v, 2) for k, v in timings.items()}
    envelope = {
        "metric": result["metric"], "value": result["value"],
        "unit": "sec", "queries": keep, "sf": result["sf"],
        "queries_sha256": digest,
        "queries_omitted": len(timings) - len(keep),
        "queries_total": len(timings),
        "detail": "BENCH_LOCAL.json"}
    line = json.dumps(envelope, separators=(",", ":"))
    drop_order = sorted(  # non-pinned first, each fastest-first
        timings, key=lambda n: (n in pinned, -timings[n]))
    for name in drop_order:
        if len(line) <= budget:
            break
        keep.pop(name)
        envelope["queries_omitted"] = len(timings) - len(keep)
        line = json.dumps(envelope, separators=(",", ":"))
    if len(line) > budget:
        # even the empty-queries envelope overflows (tiny budget):
        # fall back to the minimal parseable line
        line = json.dumps(
            {"metric": result["metric"], "value": result["value"],
             "unit": "sec", "sf": result["sf"],
             "queries": {}, "queries_omitted": len(timings),
             "queries_sha256": digest,
             "detail": "BENCH_LOCAL.json"},
            separators=(",", ":"))
    return line


if __name__ == "__main__":
    main()

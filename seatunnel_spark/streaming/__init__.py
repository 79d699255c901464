"""Streaming execution layer.

Reference capabilities being re-expressed (SURVEY.md §2.1, §3):
  * STREAMING job mode with checkpoint/restore
    (EnvCommonOptions.java: checkpoint.interval; CheckpointCoordinator)
    -> Structured Streaming `checkpointLocation` — exactly-once state
    comes from Spark's WAL instead of hand-rolled barriers.
  * read_limit.rows_per_second (docs/en/concept/speed-limit.md)
    -> maxFilesPerTrigger / maxOffsetsPerTrigger per source.
  * cdc sink (apply changelog by primary key)
    -> foreachBatch + per-batch changelog compaction + idempotent write.
  * event-time windows/watermarks (absent in the reference — free here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from seatunnel_spark._pyworker import apply_in_pandas_with_state
from seatunnel_spark.types import ROW_KIND_COL


def windowed_agg(
    df: DataFrame,
    ts_col: str,
    window: str,
    watermark: str,
    group_cols: list[str],
    aggs: dict[str, str],
) -> DataFrame:
    """Event-time windowed aggregation with late-data handling.

    aggs: {out_name: "fn(col)"} using Spark SQL expressions.
    Works identically on batch and streaming frames (the engine's
    batch/stream-unified promise).
    """
    src = df.withWatermark(ts_col, watermark) if df.isStreaming else df
    exprs = [F.expr(e).alias(name) for name, e in aggs.items()]
    return src.groupBy(F.window(ts_col, window).alias("w"), *group_cols).agg(*exprs).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *group_cols,
        *[F.col(n) for n in aggs],
    )


def session_window_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    group_cols: list[str],
    aggs: dict[str, str],
    watermark: str | None = None,
) -> DataFrame:
    """Gap-based session windows via Spark's NATIVE session_window
    (dynamic-length windows that close `gap` after the last event) —
    the streaming-capable form: with a watermark, state for closed
    sessions is evicted. Works identically on batch frames.

    aggs: {out_name: "fn(col)"} Spark SQL expressions."""
    src = df.withWatermark(ts_col, watermark) \
        if df.isStreaming and watermark else df
    exprs = [F.expr(e).alias(name) for name, e in aggs.items()]
    return (src.groupBy(F.session_window(F.col(ts_col), gap).alias("w"),
                        *group_cols)
            .agg(*exprs)
            .select(F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    *group_cols, *[F.col(n) for n in aggs]))


def stream_funnel_state(df: DataFrame, user_col: str, ts_col: str,
                        type_col: str, steps: list[str]) -> DataFrame:
    """Streaming ordered-funnel state: per-user first-occurrence
    timestamp of each step, maintained incrementally.

    The funnel's per-user state is a pure conditional-MIN aggregation
    (dataops/analytics.py:funnel_user_state) — min is associative and
    commutative, so the same expression runs on a readStream
    (complete/update mode) and the state is BIT-IDENTICAL to a batch
    build over the same events, in any arrival order (the CMS /
    DDSketch mergeable-aggregation property, extended to event
    analytics). State size is |users| x |steps| timestamps — bounded
    by the user population, never the stream length. Fold a readout
    with `dataops.analytics.funnel_finish` on each materialized batch
    (see tests/test_streaming.py for the stream==batch equivalence).

    Works identically on batch frames — the batch/stream duality the
    reference's connector-v2 model is built on
    (docs/concept/connector-v2-features.md:10)."""
    from seatunnel_spark.dataops.analytics import funnel_user_state

    return funnel_user_state(df, user_col, ts_col, type_col, steps)


def stream_retention(events: DataFrame, cohorts: DataFrame,
                     user_col: str, ts_col: str,
                     unit_days: int = 7) -> DataFrame:
    """Streaming cohort-retention counts -> (cohort_period, offset,
    users): live events join a STATIC cohort table (user -> first
    activity period, built by a batch pass over history — the
    stream-static join is stateless) and per-(cohort, offset) distinct
    users are maintained with approx_count_distinct. HyperLogLog++
    registers merge associatively and order-independently, so the SAME
    code on a readStream (complete mode, ONE stateful aggregation)
    yields counts BIT-IDENTICAL to a batch run over the same events —
    the same mergeable-aggregation property the CMS/DDSketch/funnel
    parities use. Exact distinct is NOT streamable (COUNT DISTINCT
    state grows with the user set and Spark rejects it on streams);
    HLL is the scale-correct choice at 100 TB anyway (±~2%, fixed
    state per group). For exact batch retention use
    dataops.analytics.cohort_retention."""
    period = (F.datediff(F.col(ts_col).cast("date"),
                         F.lit("1970-01-01").cast("date"))
              / unit_days).cast("long")
    ev = events.select(F.col(user_col).alias("__u"),
                       period.alias("__p"))
    return (ev.join(cohorts.withColumnRenamed(user_col, "__u"), "__u")
            .groupBy(F.col("cohort_period"),
                     (F.col("__p") - F.col("cohort_period"))
                     .alias("offset"))
            .agg(F.approx_count_distinct("__u").alias("users")))


def retention_cohorts(history: DataFrame, user_col: str, ts_col: str,
                      unit_days: int = 7) -> DataFrame:
    """Batch half of `stream_retention`: (user, cohort_period) — each
    user's first activity period over the historical corpus. One
    map-side-combined min aggregation."""
    period = (F.datediff(F.col(ts_col).cast("date"),
                         F.lit("1970-01-01").cast("date"))
              / unit_days).cast("long")
    return (history.select(F.col(user_col), period.alias("__p"))
            .groupBy(user_col)
            .agg(F.min("__p").alias("cohort_period")))


def stream_dedup(df: DataFrame, key_cols: list[str], ts_col: str, watermark: str) -> DataFrame:
    """Streaming exact dedup within the watermark horizon.

    `dropDuplicatesWithinWatermark` keeps state bounded (keys expire with
    the watermark) — the scale-safe shape for infinite streams.
    """
    if df.isStreaming:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)
    return df.dropDuplicates(key_cols)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str,
    right_ts: str,
    lower: str = "0 seconds",
    upper: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream equi-join bounded by an event-time interval:
    rows pair when keys match and right_ts in [left_ts + lower,
    left_ts + upper].

    On streaming frames both sides get watermarks and the time-range
    predicate makes the join state BOUNDED (Spark evicts buffered rows
    once the watermark passes the interval) — the only scale-safe shape
    for joining two infinite streams. The same plan runs on batch
    frames (where it compiles to a plain range-predicate join), so
    results are replayable/oracle-checkable.
    """
    if left.isStreaming:
        left = left.withWatermark(left_ts, watermark)
    if right.isStreaming:
        right = right.withWatermark(right_ts, watermark)
    cond = None
    for k in key_cols:
        c = left[k] == right[k]
        cond = c if cond is None else cond & c
    lo = left[left_ts] + F.expr(f"INTERVAL {lower}")
    hi = left[left_ts] + F.expr(f"INTERVAL {upper}")
    cond = cond & (right[right_ts] >= lo) & (right[right_ts] <= hi)
    return left.join(right, cond)


def changelog_apply_writer(target_writer, primary_keys: list[str]):
    """foreachBatch function applying +I/-U/+U/-D semantics per batch.

    The reference's 'cdc sink' feature (connector-v2-features.md:57-75):
    compact the batch's changelog to final per-key state, then hand the
    upsert set + delete set to `target_writer(upserts_df, deletes_df,
    batch_id)`. batch_id enables idempotent retries (the analog of the
    reference's 2PC commit messages keyed by checkpoint id).
    """
    from seatunnel_spark.sinks.jdbc import compact_changelog, last_event_per_key

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if ROW_KIND_COL not in batch.columns:
            target_writer(batch, None, batch_id)
            return
        # Upserts and deletes MUST derive from the same per-key-winner
        # ordering (last_event_per_key: __offset or content chain —
        # never monotonically_increasing_id, whose value depends on
        # partition layout): otherwise a +I/-D pair split across
        # partitions can land in BOTH sets and final state depends on
        # writer order.
        upserts = compact_changelog(batch, primary_keys)
        deletes = (
            last_event_per_key(batch, primary_keys)
            .filter(F.col(ROW_KIND_COL) == "-D")
            .select(*primary_keys)
        )
        target_writer(upserts, deletes, batch_id)

    return apply_batch


def run_stream_to_batch_sink(df: DataFrame, sink_write, checkpoint: str,
                             mode: str = "append"):
    """Drive a streaming frame through a batch sink with availableNow
    semantics (bounded catch-up, the reference's BATCH-over-stream mode)."""
    return (
        df.writeStream.foreachBatch(lambda b, i: sink_write(b))
        .option("checkpointLocation", checkpoint)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )


def stream_minhash_probe(
    new_df: DataFrame,
    index_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Continuous near-dup detection for a document INGEST STREAM
    against a persisted corpus LSH index (dataops/dedup.py:
    minhash_band_index) — a stream-static join, Structured Streaming's
    zero-state join form.

    Signatures here are per-ROW array expressions (array_min over the
    shingle transform), not the batch path's explode+groupBy: an
    aggregation would demand watermarks/update-mode state, while this
    projection is stateless and append-mode safe. The HOF form is
    slower per row than the batch explode (interpreted per element —
    measured in dataops/dedup.py), which is the right trade at stream
    increments of thousands of docs against a corpus of billions.

    -> (new_id, match_id, band): one row per agreeing LSH band, as
    they stream in; aggregate downstream (or dedupe at the sink) when
    n_bands confidence is needed. Works identically on a batch
    new_df — tests prove stream == batch.
    """
    from seatunnel_spark.dataops.dedup import _word_shingles

    # same canonicalization as minhash_signatures (trim, split, NO
    # lower) so probe keys equal the persisted index's keys
    shingles = _word_shingles(F.col(text_col), shingle_k)
    n_digests = (num_hashes + 3) // 4

    def mh(h: int):
        return F.array_min(F.transform(
            shingles,
            lambda s: F.substring(
                F.md5(F.concat(s, F.lit(f"#{h // 4}"))),
                1 + 8 * (h % 4), 8)))

    rows_per_band = num_hashes // bands
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("|", *[
                mh(b * rows_per_band + r) for r in range(rows_per_band)
            ]).alias("key"),
        )
        for b in range(bands)
    ])
    probes = new_df.select(
        F.col(id_col).alias("new_id"), F.explode(band_structs).alias("bk")
    ).select("new_id", F.col("bk.band").alias("band"),
             F.col("bk.key").alias("key"))
    idx = index_df.select(
        F.col(index_df.columns[0]).alias("match_id"), "band", "key")
    return probes.join(idx, ["band", "key"]).select(
        "new_id", "match_id", "band")


def stateful_running_counts(
    df: DataFrame,
    key_cols: list[str],
    timeout_ms: int | None = None,
) -> DataFrame:
    """Custom stateful streaming operator: per-key running event count +
    running value sum across microbatches (applyInPandasWithState).

    This is the engine's extension point for operators Structured
    Streaming lacks natively — the analog of the reference's stateful
    SourceReader/SinkWriter snapshot state (SourceReader.java:63). The
    state (count, sum) is snapshotted by Spark's state store under the
    stream's checkpointLocation, giving restart-exactly-once for free.

    Output per input batch & key: (keys..., events_total, value_total).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    key_fields = [f for f in df.schema.fields if f.name in key_cols]
    out_schema = StructType(
        key_fields
        + [StructField("events_total", LongType()),
           StructField("value_total", DoubleType())]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("s", DoubleType())]
    )

    def update(key, pdfs, state):
        import pandas as pd

        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            if "value" in pdf.columns:
                s += float(pdf["value"].fillna(0.0).sum())
        state.update((n, s))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            [dict(zip([f.name for f in key_fields], key))
             | {"events_total": n, "value_total": round(s, 6)}]
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return apply_in_pandas_with_state(
        df.groupBy(*key_cols), update, out_schema, state_schema, "update",
        timeout)


def stream_hll_dau(df: DataFrame, ts_col: str = "ts",
                   value_col: str = "user_id", p: int = 8) -> DataFrame:
    """Per-day HLL registers over an event frame -> (day, reg, rho).
    Per-register MAX is a pure mergeable aggregation, so this
    IDENTICAL code runs on a batch frame or a readStream
    (complete/update output mode) with bit-identical state — the
    stream==batch family that already covers CMS, DDSketch, and the
    funnel state (tests/test_streaming.py). State is bounded at
    |days|·2^p rows regardless of event volume; downstream,
    sketches.hll_estimate / hll_rolling_estimate turn the register
    table into DAU / rolling-DAU readouts without rescanning events.
    """
    from seatunnel_spark.dataops.sketches import hll_build_grouped

    return hll_build_grouped(
        df.select(F.to_date(F.col(ts_col)).alias("day"),
                  F.col(value_col)),
        ["day"], value_col, p)


_APPLIED_PREFIX = "_applied_b"


def _store_applied_batch(fs, jpath) -> int:
    """Latest batch id recorded by an `_applied_b{N}` marker file
    inside a register-store directory, or -1 if none. Marker files
    are '_'-prefixed, so Spark's parquet reader ignores them (the
    Hadoop hidden-file PathFilter — same mechanism as `_SUCCESS`)."""
    best = -1
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if name.startswith(_APPLIED_PREFIX):
            try:
                best = max(best, int(name[len(_APPLIED_PREFIX):]))
            except ValueError:
                pass
    return best


def _commit_register_store(spark, path: str, batch_id: int,
                           merge_with) -> bool:
    """Shared durable-commit protocol for the register-sink family
    (HLL / CMS / DDSketch). `merge_with(existing | None)` returns the
    new store frame; this function owns delivery + durability:

    * REPLAY IDEMPOTENCE — foreachBatch is at-least-once (a crash
      between sink completion and checkpoint commit replays the batch
      with its original batch_id), so every committed store carries a
      single `_applied_b{batch_id}` marker file; a batch whose id is
      <= the recorded id is skipped as a replay and the store is
      untouched. Batch ids are monotone per query, so the latest
      marker is a complete ledger. Corollary: pointing a FRESH
      checkpoint (ids restart at 0) at an existing store silently
      skips until the old applied id is passed — delete the store
      together with the checkpoint when resetting a stream.
    * FIRST-BATCH DETECTION — an EXPLICIT FileSystem existence check,
      never catching the read error: a corrupt footer or transient
      FS fault must FAIL the batch (and be retried by the stream)
      rather than silently re-initialize the store.
    * ATOMIC-ENOUGH SWAP — the merged store is written to `__swap`
      first; the marker is created strictly AFTER the parquet write
      finishes, so marker presence certifies a complete swap. Only
      then is the old store deleted and the swap renamed in.
    * CRASH RECOVERY — on entry, a leftover swap WITH a marker and NO
      store means the previous commit died between delete(store) and
      rename(swap, store): the swap is the only full copy and is
      renamed in (the replayed batch then no-ops via the ledger). A
      swap WITHOUT its marker is a dead partial write and is removed.
      A swap alongside an intact store is removed too — the store
      still holds the pre-merge state and the interrupted batch
      replays on top of it. A completed swap is therefore NEVER
      deleted while the store is absent.

    Returns True if the batch was applied, False if skipped as a
    replay. No localCheckpoint anywhere: read and write paths differ,
    so the plan never races its own input files."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    tmp = path.rstrip("/") + "__swap"
    jtmp = jvm.org.apache.hadoop.fs.Path(tmp)

    if fs.exists(jtmp):
        if (not fs.exists(jpath)
                and _store_applied_batch(fs, jtmp) >= 0):
            fs.rename(jtmp, jpath)  # complete the interrupted swap
        else:
            fs.delete(jtmp, True)

    if fs.exists(jpath):
        if int(batch_id) <= _store_applied_batch(fs, jpath):
            return False  # at-least-once replay: already folded in
        merged = merge_with(spark.read.parquet(path))  # errors raise
    else:
        merged = merge_with(None)

    merged.write.mode("overwrite").parquet(tmp)
    marker = jvm.org.apache.hadoop.fs.Path(
        tmp.rstrip("/") + "/" + _APPLIED_PREFIX + str(int(batch_id)))
    fs.create(marker).close()  # certifies the swap as complete
    if fs.exists(jpath):
        fs.delete(jpath, True)
    fs.rename(jtmp, jpath)
    return True


def hll_register_sink(path: str, ts_col: str = "ts",
                      value_col: str = "user_id", p: int = 8):
    """foreachBatch writer factory maintaining a PERSISTED day-level
    HLL register store at `path` — the append-mode operational form:
    each micro-batch builds registers over ONLY its own rows (no
    streaming state at all) and MAX-merges them into the store, so
    any arrival order/partitioning folds to the sketch of the union
    (the hll_merge identity, bit-identical to one batch build —
    parity-tested). The store is sketch-sized (|days|·2^p rows), so
    the read-merge-rewrite cycle costs nothing next to the feed.

    Delivery + durability (replay ledger, marker-certified swap,
    crash recovery) are owned by _commit_register_store; the MAX
    merge is idempotent by construction anyway, so the ledger here
    only saves the replayed work.

    Use with run_stream_to_batch_sink(df, hll_register_sink(p)) — or
    directly as .writeStream.foreachBatch(...)."""
    from seatunnel_spark.dataops.sketches import hll_merge

    def merge(batch: DataFrame, batch_id: int = 0) -> None:
        regs = stream_hll_dau(batch, ts_col, value_col, p)
        _commit_register_store(
            batch.sparkSession, path, batch_id,
            lambda existing: regs if existing is None
            else hll_merge(regs, existing))

    return merge


def cms_register_sink(path: str, text_col: str = "text",
                      depth: int = 4, width_hex: int = 3):
    """foreachBatch writer factory maintaining a PERSISTED Count-Min
    sketch store at `path` — the third member of the additive
    register-sink family (HLL = MAX-merge, DDSketch/CMS =
    ADD-merge): each micro-batch builds its own depth×16^width_hex
    counter table (zero streaming state) and sums it into the store,
    so any arrival order folds to the sketch of the union,
    bit-identical to one batch build (parity-tested). Delivery +
    durability are owned by _commit_register_store — the replay
    ledger matters here: an ADD merge is NOT idempotent, so without
    it a replayed micro-batch would double-count its tokens."""
    from seatunnel_spark.dataops.text import cms_build

    def merge(batch: DataFrame, batch_id: int = 0) -> None:
        sk = cms_build(batch, text_col, depth, width_hex)
        _commit_register_store(
            batch.sparkSession, path, batch_id,
            lambda existing: sk if existing is None
            else (sk.unionByName(existing)
                  .groupBy("d", "pos")
                  .agg(F.sum("cnt").alias("cnt"))))

    return merge


def mg_register_sink(path: str, text_col: str = "text",
                     capacity: int = 4096, lowercase: bool = True):
    """foreachBatch writer factory maintaining a PERSISTED
    capacity-bounded Misra-Gries heavy-hitter store at `path` — the
    fourth register-sink (HLL = MAX, CMS/DDSketch = ADD, MG =
    ADD-then-COMPRESS): each micro-batch builds its own <= capacity
    (token, cnt) summary (zero streaming state), counters ADD
    key-wise into the store, and one mg_compress step re-bounds it
    to `capacity` rows. This is exactly the mergeable-summaries
    merge (Agarwal et al. 2012): every stored cnt lower-bounds the
    true stream count, the cumulative undercount is <=
    N_total/(capacity+1) across ANY merge order, and any token
    whose true count exceeds that bar is guaranteed present —
    streaming heavy hitters in a store that never grows past
    `capacity` rows regardless of stream vocabulary.

    Delivery + durability are owned by _commit_register_store (the
    replay ledger matters: the ADD step is not idempotent)."""
    from seatunnel_spark.dataops.text import mg_compress, mg_summary

    def merge(batch: DataFrame, batch_id: int = 0) -> None:
        sk = mg_summary(batch, text_col, capacity, lowercase)
        _commit_register_store(
            batch.sparkSession, path, batch_id,
            lambda existing: sk if existing is None
            else mg_compress(
                sk.unionByName(existing)
                .groupBy("token")
                .agg(F.sum("cnt").alias("cnt")), capacity))

    return merge


def stream_ddsketch(df: DataFrame, ts_col: str = "ts",
                    value_col: str = "value",
                    alpha: float = 0.01) -> DataFrame:
    """Per-day DDSketch buckets over an event frame -> (day, kind,
    idx, cnt). Bucket counts are a pure ADDITIVE aggregation, so
    this IDENTICAL code runs on a batch frame or a readStream
    (complete/update mode) with bit-identical state — the
    stream_hll_dau pattern for quantiles instead of cardinality.
    State is bounded at |days|·n_buckets rows regardless of event
    volume; sketches.ddsketch_quantiles_grouped turns the bucket
    table into daily percentiles without rescanning events."""
    from seatunnel_spark.dataops.sketches import ddsketch_build_grouped

    return ddsketch_build_grouped(
        df.select(F.to_date(F.col(ts_col)).alias("day"),
                  F.col(value_col)),
        ["day"], value_col, alpha)


def ddsketch_register_sink(path: str, ts_col: str = "ts",
                           value_col: str = "value",
                           alpha: float = 0.01):
    """foreachBatch writer factory maintaining a PERSISTED day-level
    DDSketch bucket store at `path`: each micro-batch builds buckets
    over ONLY its own rows (zero streaming state) and ADD-merges
    them into the store — addition IS the DDSketch merge (the
    defining mergeability property), so any arrival order or
    partitioning folds to the sketch of the union, bit-identical to
    one batch build (parity-tested). The store is sketch-sized;
    delivery + durability are owned by _commit_register_store — the
    replay ledger matters here: an ADD merge is NOT idempotent, so
    without it a replayed micro-batch would double-count its rows.

    Use with .writeStream.foreachBatch(ddsketch_register_sink(p))."""

    def merge(batch: DataFrame, batch_id: int = 0) -> None:
        sk = stream_ddsketch(batch, ts_col, value_col, alpha)
        _commit_register_store(
            batch.sparkSession, path, batch_id,
            lambda existing: sk if existing is None
            else (sk.unionByName(existing)
                  .groupBy("day", "kind", "idx")
                  .agg(F.sum("cnt").alias("cnt"))))

    return merge


class TokenBucketRateLimiter:
    """Batch-mode rate limiter (read_limit.rows_per_second analog,
    EnvCommonOptions.java:67-75). Spark streaming gets rate limits from
    maxFilesPerTrigger/maxOffsetsPerTrigger; pure-batch jobs that need
    throttled extraction (e.g. polite JDBC scans) use this inside
    mapPartitions."""

    def __init__(self, rows_per_second: float):
        self.rate = float(rows_per_second)

    def throttle(self, iterator):
        import time

        start = time.monotonic()
        emitted = 0
        for row in iterator:
            emitted += 1
            expected = emitted / self.rate
            elapsed = time.monotonic() - start
            if expected > elapsed:
                time.sleep(expected - elapsed)
            yield row

"""Benchmark decontamination — flag training documents that share long
word n-grams with an evaluation/benchmark set.

The standard LLM-corpus hygiene step (the 13-gram collision rule from
the GPT-3/PaLM data cards): any training doc containing an exact
13-gram that also appears in a benchmark document is flagged (or
dropped) before training.

100 TB design: the benchmark side is SMALL (eval suites are MBs, the
corpus is TBs) — its distinct n-gram set is built once and broadcast,
so the corpus-side pass is scan + explode + broadcast-hash-semi-join
with NO corpus shuffle. Corpus n-grams are never collected or grouped;
each doc's grams stream through the join and aggregate back to one row
per doc (partial map-side count). A corpus-vs-corpus variant would
instead shuffle on the gram hash — that's `dedup.ngram_jaccard_pairs`'
territory.
"""

from __future__ import annotations

import pandas as pd  # module-level so vectorized_udf type hints resolve

from pyspark.sql import DataFrame, functions as F

from seatunnel_spark._pyworker import ship_by_value, vectorized_udf

ship_by_value(__name__)


def word_ngrams(text: F.Column, n: int) -> F.Column:
    """Whitespace-token word n-grams as an array<string> column.

    Pure Catalyst: split + sequence + slice/array_join — no UDF. Docs
    shorter than n words yield an empty array (sequence(1, k) with
    k < 1 would count DOWN in Spark, hence the explicit guard).
    """
    toks = F.split(F.trim(text), r"\s+")
    k = F.size(toks) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(k >= 1, grams).otherwise(F.array().cast("array<string>"))


def benchmark_ngram_set(bench: DataFrame, text_col: str = "text",
                        n: int = 13) -> DataFrame:
    """Distinct n-grams of the benchmark set — one column `gram`."""
    return (bench
            .select(F.explode(word_ngrams(F.col(text_col), n)).alias("gram"))
            .distinct())


def flag_contaminated(docs: DataFrame, bench: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      n: int = 13) -> DataFrame:
    """-> (id, ngram_hits, contaminated) — ngram_hits counts DISTINCT
    benchmark n-grams found in the doc.

    The benchmark gram set is broadcast; the corpus side is a single
    scan with an exploded broadcast join, aggregated back per doc.
    """
    grams = (docs
             .select(F.col(id_col),
                     F.explode_outer(word_ngrams(F.col(text_col), n))
                     .alias("gram")))
    bset = F.broadcast(benchmark_ngram_set(bench, text_col, n))
    hits = (grams
            .join(bset, "gram", "left_semi")
            .groupBy(id_col)
            .agg(F.count_distinct("gram").alias("ngram_hits")))
    return (docs.select(id_col)
            .join(hits, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("ngram_hits", F.lit(0)).alias("ngram_hits"),
                    (F.coalesce("ngram_hits", F.lit(0)) > 0)
                    .alias("contaminated")))


def benchmark_bloom(bench: DataFrame, text_col: str = "text", n: int = 13,
                    num_bits: int = 1 << 22, num_probes: int = 4):
    """Bloom filter over the benchmark n-gram set -> (numpy uint8
    bitmap of num_bits/8 bytes, num_bits, num_probes).

    Bit positions are computed JVM-side (md5 -> 4 independent 32-bit
    words -> mod num_bits) and only the DISTINCT positions reach the
    driver — bounded by num_probes x |benchmark grams| ints, never the
    gram strings. Eval suites are MBs, so this collect is bounded the
    same way flag_contaminated's broadcast is; the bitmap itself is a
    FIXED num_bits/8 bytes (512 KiB at the default) no matter how the
    benchmark grows — that is the point of the bloom variant.
    """
    import numpy as np

    grams = benchmark_ngram_set(bench, text_col, n)
    pos = (grams
           .select(F.explode(F.array(*_bloom_positions(
               F.col("gram"), num_bits, num_probes))).alias("pos"))
           .distinct())
    bitmap = np.zeros(num_bits // 8, dtype=np.uint8)
    idx = np.array([r.pos for r in pos.collect()], dtype=np.int64)
    if idx.size:
        np.bitwise_or.at(bitmap, idx // 8, (1 << (idx % 8)).astype(np.uint8))
    return bitmap, num_bits, num_probes


def _bloom_positions(gram: F.Column, num_bits: int, num_probes: int):
    """num_probes independent bit positions for a gram — md5 split into
    four 32-bit hex words (pure Catalyst, codegen'd; no UDF)."""
    assert num_probes <= 4
    h = F.md5(gram)
    return [
        (F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("long")
         % num_bits).cast("long")
        for i in range(num_probes)
    ]


def flag_contaminated_bloom(docs: DataFrame, bench: DataFrame,
                            id_col: str = "doc_id", text_col: str = "text",
                            n: int = 13, num_bits: int = 1 << 22,
                            num_probes: int = 4) -> DataFrame:
    """Bloom-prefiltered decontamination — EXACT same output as
    flag_contaminated (the bloom admits false positives; an exact
    confirm join removes them), but built for the regime where the
    benchmark gram set is too wide to broadcast as strings:

      1. a fixed-size bitmap (num_bits bits, default 512 KiB) is built
         once from the benchmark and broadcast to every executor;
      2. the corpus pass computes each exploded gram's probe positions
         JVM-side and a vectorized Arrow pandas_udf tests the bitmap —
         ~ (1 - fill)^k of the grams survive, so the downstream join
         input shrinks ~millionfold on clean corpora;
      3. ONLY surviving grams join the true benchmark gram set for
         exact confirmation — corpus text never shuffles, and the
         confirm join's build side is hit only by bloom survivors.

    At 100 TB: step 2 is scan-speed (codegen projection + one Arrow
    batch op per gram), step 3's shuffle carries a ~0-row stream for
    clean data instead of every corpus gram.
    """
    import numpy as np

    spark = docs.sparkSession
    bitmap, nb, k = benchmark_bloom(bench, text_col, n, num_bits, num_probes)
    bc = spark.sparkContext.broadcast(bitmap)

    @vectorized_udf("boolean")
    def bloom_test(pos: pd.DataFrame) -> pd.Series:
        bm = bc.value
        ok = np.ones(len(pos), dtype=bool)
        for col in pos.columns:
            ip = pos[col].to_numpy(dtype=np.int64)
            ok &= (bm[ip // 8] >> (ip % 8) & 1).astype(bool)
        return pd.Series(ok)

    grams = docs.select(
        F.col(id_col),
        F.explode(word_ngrams(F.col(text_col), n)).alias("gram"))
    probes = F.struct(*[p.alias(f"p{i}") for i, p in
                        enumerate(_bloom_positions(F.col("gram"), nb, k))])
    candidates = (grams
                  .withColumn("__maybe", bloom_test(probes))
                  .filter(F.col("__maybe"))
                  .drop("__maybe"))
    bset = benchmark_ngram_set(bench, text_col, n)
    hits = (candidates
            .join(bset, "gram", "left_semi")
            .groupBy(id_col)
            .agg(F.count_distinct("gram").alias("ngram_hits")))
    return (docs.select(id_col)
            .join(hits, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("ngram_hits", F.lit(0)).alias("ngram_hits"),
                    (F.coalesce("ngram_hits", F.lit(0)) > 0)
                    .alias("contaminated")))


__all__ = ["word_ngrams", "benchmark_ngram_set", "flag_contaminated",
           "benchmark_bloom", "flag_contaminated_bloom"]


def contaminated_spans(docs: DataFrame, bench: DataFrame,
                       id_col: str = "doc_id",
                       text_col: str = "text",
                       n: int = 13) -> DataFrame:
    """SPAN-LEVEL decontamination -> (id, start_tok, end_tok): every
    maximal token span in the training corpus that overlaps the
    benchmark set at n-gram granularity, at ANY alignment — the
    excisable form of `flag_contaminated` (Lee et al. 2022 apply the
    same span machinery to eval contamination): instead of dropping
    a whole document because one quoted benchmark passage appears in
    it, locate the passage and cut exactly it.

    Method: training-side shingle occurrences (dedup's
    _shingle_occurrences — md5 digests + positions, never shingle
    text) semi-join the benchmark's DISTINCT digest set (benchmarks
    are MBs — the set broadcasts, so the corpus never shuffles);
    marked positions island-merge into maximal spans (gap <= n =
    overlapping/touching windows), exactly the substring-dedup
    reconstruction. A span of length L is reported iff every one of
    its n-windows appears in the benchmark — the exact n-gram
    collision rule at span granularity."""
    from seatunnel_spark.dataops.dedup import (_merge_islands,
                                               _shingle_occurrences)

    occ = _shingle_occurrences(docs, id_col, text_col, int(n))
    bset = (_shingle_occurrences(bench, id_col, text_col, int(n))
            .select("__k").distinct())
    marked = (occ.join(F.broadcast(bset), "__k", "semi")
              .select("__id", "__pos"))
    return _merge_islands(marked, id_col, int(n))


def decontam_apply(docs: DataFrame, bench: DataFrame,
                   id_col: str = "doc_id", text_col: str = "text",
                   n: int = 13) -> DataFrame:
    """APPLY step of span-level decontamination: excise every
    benchmark-overlap span from its training document and rebuild
    -> (id, clean_text, n_tokens, n_kept). A clean document passes
    through intact (n_kept = n_tokens, text normalized to the
    discovery tokenization); a fully-contaminated one comes back
    empty rather than dropped, so the caller decides the drop
    threshold (e.g. n_kept/n_tokens < 0.2). Same codegen excision
    as substring_dedup_apply (_excise_spans)."""
    from seatunnel_spark.dataops.dedup import _excise_spans

    spans = contaminated_spans(docs, bench, id_col, text_col, n)
    return _excise_spans(docs, spans, id_col, text_col)

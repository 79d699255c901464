"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram
Jaccard, embedding-cosine.

Scale design notes (the part that matters at 100 TB):
  * Exact dedup: hash-groupBy — one shuffle on a 16-byte digest, never
    on the full text. Map-side partial aggregation halves the shuffle.
  * MinHash-LSH: signatures are per-doc aggregations (one shuffle on
    doc_id — or zero if docs are already one-row-per-doc); candidate
    pairs come from a self-join on (band_id, band_hash) buckets, so
    cost is Σ bucket² instead of N². Bands with huge buckets (boiler-
    plate text) are the skew risk — bounded by the `max_bucket` cap.
  * SimHash: vectorized pandas_udf (one pass, no row explosion), then
    near-dup candidates by Hamming distance via multi-index pigeonhole
    blocking (any pair within distance d agrees on some combination of
    blocks-d segments) — again a bucket join, not a cross join.
  * Embedding near-dup: random-hyperplane LSH buckets then exact
    cosine inside buckets.

All hash choices are deterministic and engine-portable (md5 on UTF-8),
so DuckDB can replay them for the correctness oracle.

Cache lifetime: operators that return a LAZY frame built over a
persist()ed reuse point (minhash_lsh_pairs, simhash_near_dups,
ngram_jaccard_pairs — the bucket/index frames feed both self-join
sides) cannot unpersist before the caller materializes the result, and
persist()ed plans are NOT released by the ContextCleaner the way
checkpoint RDDs are. Operators that materialize internally
(duplicate_clusters) unpersist before returning; for the lazy ones,
every persist routes through dataops._cache.scoped_persist, so a
long-lived session bounds the lifetime explicitly:

    with dataops.cache_scope():
        pairs = minhash_lsh_pairs(docs, "doc_id", "text").collect()
    # the bucket table is unpersisted here — the caller's own caches
    # are untouched (memory-growth-tested over 50 operator calls)

The bench harness wraps every timed execution in a cache_scope (plus
the blunt clearCache, keeping its protocol comparable across rounds).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F, types as T

from seatunnel_spark._pyworker import ship_by_value, vectorized_udf
from seatunnel_spark.dataops._cache import ensure_parallelism
from seatunnel_spark.dataops._cache import qcol as _qcol
from seatunnel_spark.dataops._cache import scoped_persist
from seatunnel_spark.dataops.graph import connected_components

ship_by_value(__name__)

def _cap_buckets(df: DataFrame, keys: list[str],
                 max_bucket: int | None) -> DataFrame:
    """Drop every row belonging to a bucket with more than `max_bucket`
    members — the shared hot-bucket guard for all LSH/inverted-index
    pair generators.

    A degenerate corpus (millions of identical/boilerplate docs) floods
    one bucket/shingle/cell and turns the bucket self-join quadratic.
    The windowed count runs OVER the bucket keys' own hash
    partitioning — the exact partitioning the self-join needs next, so
    AQE reuses the exchange and the cap costs no extra shuffle. After
    the filter every bucket is provably <= max_bucket rows, so the join
    is <= max_bucket² work per bucket. Members of a dropped bucket are
    (near-)identical by construction; collapse them losslessly with
    `exact_dup_groups` first. `max_bucket=None` disables the cap.
    """
    if max_bucket is None:
        return df
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    return (
        df.withColumn("__bn", F.count(F.lit(1)).over(w))
        .filter(F.col("__bn") <= F.lit(max_bucket))
        .drop("__bn")
    )


# --------------------------------------------------------------------------
# exact
# --------------------------------------------------------------------------

def exact_dedup(df: DataFrame, cols: list[str], order_col: str) -> DataFrame:
    """Keep one row per distinct (cols) value — the lowest order_col wins.

    Implemented as min_by aggregation: ONE shuffle keyed on the dedup
    columns, no window, no sort of the full data.
    """
    others = [c for c in df.columns if c not in cols]
    agg = [F.min_by(F.struct(*others), F.col(order_col)).alias("__rest")]
    out = df.groupBy(*cols).agg(*agg)
    return out.select(*cols, *[F.col("__rest")[c].alias(c) for c in others])


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group stats per exact-duplicate cluster (digest-keyed).

    Shuffles 16-byte md5 digests, not documents.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def _shingle_structs(text_col: Column, k: int) -> Column:
    """k-word shingles as an array<struct> of arrays_zip'd shifted
    slices — k whole-array slices instead of one O(k) slice copy PER
    shingle inside an interpreted higher-order transform (the old
    sequence+transform form measured 3-20x slower on the bench
    corpus). Docs shorter than k words yield one whole-doc struct
    (nulls in fields 1..k-1; concat_ws skips nulls downstream)."""
    words = F.split(F.trim(text_col), r"\s+")
    n = F.size(words)
    m = F.greatest(n - F.lit(k - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(words, i + 1, m) for i in range(k)])
    short = F.array(F.struct(
        F.concat_ws(" ", words).alias("0"),
        *[F.lit(None).cast("string").alias(str(i)) for i in range(1, k)]))
    return F.when(n >= k, zipped).otherwise(short)


def _shingle_str(g: Column, k: int) -> Column:
    return F.concat_ws(" ", *[g[str(i)] for i in range(k)])


def _word_shingles(text_col: Column, k: int) -> Column:
    """k-word shingles as an array<string> (Catalyst-only, no UDF)."""
    return F.transform(_shingle_structs(text_col, k),
                       lambda g: _shingle_str(g, k))


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 8, shingle_k: int = 3
) -> DataFrame:
    """Per-doc MinHash signature columns mh_0..mh_{H-1}.

    Hash families come in groups of FOUR per md5: digest d =
    md5(shingle || '#d') and family h = substr(digest(h div 4),
    1 + 8*(h mod 4), 8) — four disjoint 32-bit slices of each 128-bit
    digest. md5 is the cost center (measured: one md5 per family made
    the signature pass ~4x slower than slicing), the slices are
    independent 32-bit hashes, and the construction stays
    engine-portable (hex min is a string min on fixed-width slices;
    DuckDB replays it verbatim).

    One explode + one groupBy(doc): all H minimums fold in the same
    map-side combine, so the shuffle carries only (doc_id, H×8B hex),
    never the shingles. [A zero-shuffle variant using
    array_min(transform(...)) was measured 8× SLOWER: higher-order
    functions are interpreted per element, while explode + min(md5())
    stays inside whole-stage codegen. Keep the explode.]
    """
    # explode the zip-structs and build each shingle string AFTER the
    # explode — the whole row stays inside whole-stage codegen (no
    # interpreted higher-order transform). array_distinct is dropped
    # on purpose: duplicate shingles cannot change a min() signature,
    # and skipping the per-doc distinct array saves a full pass.
    sh = ensure_parallelism(df).select(
        F.col(id_col),
        F.explode(_shingle_structs(F.col(text_col), shingle_k)).alias("g"),
    ).select(F.col(id_col), _shingle_str(F.col("g"), shingle_k).alias("sh"))
    n_digests = (num_hashes + 3) // 4
    digests = [F.md5(F.concat(F.col("sh"), F.lit(f"#{d}")))
               for d in range(n_digests)]
    aggs = [
        F.min(F.substring(digests[h // 4], 1 + 8 * (h % 4), 8)).alias(f"mh_{h}")
        for h in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Candidate near-duplicate pairs (a < b) via banded LSH.

    rows/band = num_hashes/bands; docs agreeing on ALL rows of any band
    collide. The pair join is per-(band, band_key) bucket — the only
    N²-ish work is inside buckets, which is the LSH point.

    Hot-bucket cap: a degenerate corpus (millions of docs sharing
    boilerplate text → identical band keys) turns one bucket's
    self-join quadratic. Buckets holding more than `max_bucket` docs
    are DROPPED from pair generation (a windowed count over the same
    (band, key) shuffle partitioning — no extra shuffle). Members of
    a dropped bucket are exact-or-near-exact duplicates by
    construction; run `exact_dup_groups` first to collapse them, which
    is both cheaper and lossless. `max_bucket=None` disables the cap.
    """
    buckets = minhash_band_index(df, id_col, text_col, num_hashes,
                                 bands, shingle_k)
    buckets = _cap_buckets(buckets, ["band", "key"], max_bucket)
    # The self-join consumes `buckets` on BOTH sides, and AQE broadcasts
    # one of them — no ReusedExchange, so without a reuse point the
    # whole signature pipeline (the expensive md5 pass) executes twice
    # (measured 2x wall on the bench corpus). persist() (compressed
    # columnar, lineage kept) rather than localCheckpoint: checkpoint
    # blocks are deserialized rows (~10x larger) and unrecoverable if
    # evicted under memory pressure — the sf10 OOM lesson (graph.py).
    buckets = scoped_persist(buckets)
    a = buckets.alias("a")
    b = buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col(f"a.band") == F.col(f"b.band"))
            & (F.col(f"a.key") == F.col(f"b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    return pairs


def minhash_band_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, band, key) LSH bucket table — the corpus's persistable
    near-dup index. Write it bucketed by (band, key)
    (plans/bucketing.write_bucketed) so future probes
    (incremental_minhash_matches) co-locate without reshuffling the
    historical corpus — only the new batch moves (plan-tested in
    tests/test_dataops.py); the index is bands×|corpus| tiny rows,
    not documents."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(
        F.col(id_col), F.explode(band_structs).alias("bk")
    ).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def incremental_minhash_matches(
    new_df: DataFrame,
    index_df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Incremental dedup: which NEW documents near-duplicate the
    EXISTING corpus, without re-pairing the corpus against itself.

    `index_df` is a previously built minhash_band_index (read back
    from its persisted, key-bucketed layout at scale). The new batch
    builds its own (band, key) probes and joins the index — cost is
    O(|new| + matching buckets), never O(|corpus|²) and never a
    corpus re-scan. -> (new_id, match_id, n_bands) with n_bands the
    number of agreeing LSH bands (1..bands; more bands ≈ higher
    Jaccard confidence).

    100 TB shape: a daily-ingest batch is orders of magnitude smaller
    than the corpus, so its probe table is broadcast-sized; the join
    then partition-prunes on `band` and bucket-joins on `key` against
    the persisted index. The hot-bucket cap guards boilerplate keys
    on the index side.
    """
    probes = minhash_band_index(new_df, id_col, text_col, num_hashes,
                                bands, shingle_k)
    idx = _cap_buckets(
        index_df.select(F.col(id_col).alias("__mid"), "band", "key"),
        ["band", "key"], max_bucket)
    return (
        probes.select(F.col(id_col).alias("new_id"), "band", "key")
        .join(idx, ["band", "key"])
        .groupBy("new_id", F.col("__mid").alias("match_id"))
        .agg(F.count_distinct("band").alias("n_bands"))
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document (vectorized pandas_udf, one pass).

    Bit i of the output is the sign of Σ_words (±1 per word-hash bit i).
    Word hash = first 8 bytes of md5 — deterministic across engines.
    """
    import hashlib

    @vectorized_udf(T.LongType())
    def _simhash(texts):
        import numpy as np
        import pandas as pd

        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            words = str(t).split()
            if not words:
                out.append(0)
                continue
            acc = np.zeros(64, dtype=np.int64)
            for w in set(words):
                hb = hashlib.md5(w.encode()).digest()[:8]
                bits = np.unpackbits(np.frombuffer(hb, dtype=np.uint8)).astype(np.int64)
                acc += bits * 2 - 1
            sig = 0
            for i in range(64):
                if acc[i] > 0:
                    sig |= 1 << i
            # fold to signed 64-bit
            out.append(sig - (1 << 64) if sig >= (1 << 63) else sig)
        return pd.Series(out, dtype="object")

    return ensure_parallelism(df).select(
        F.col(id_col), _simhash(F.col(text_col)).alias("simhash")
    )


def simhash_near_dups(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3,
    blocks: int = 8, max_bucket: int | None = 100_000,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Multi-index pigeonhole blocking (exact recall): split the 64 bits
    into `blocks` equal segments; a pair within distance `max_hamming`
    differs in at most `max_hamming` segments, so it AGREES on some
    combination of (blocks - max_hamming) segments — index every doc
    under all C(blocks, blocks-max_hamming) such combinations and join
    per (combo, key) bucket. Every true pair is guaranteed to collide
    (then verified by exact XOR popcount), never a cross join.

    Bucket-granularity trade: blocks=4, max_hamming=3 is the classic
    4×16-bit scheme — only 4 keys/doc but 2^16 buckets per index, so
    at N ≳ 10⁸ buckets go quadratic. The default blocks=8 keys on
    5-of-8 segment combos: 56 keys/doc but 40-bit keys (~10¹² bucket
    space), which keeps buckets near-singleton at billions of docs —
    index rows scale 14× but the join stays linear. Pick blocks so
    that (blocks - max_hamming) * (64/blocks) ≫ log2(N).

    Hot-bucket cap: identical docs share a simhash, hence every block
    key — one degenerate bucket goes quadratic regardless of key
    width. `_cap_buckets` bounds each (combo, key) bucket to
    `max_bucket` docs; dropped members are (near-)identical — collapse
    with exact_dup_groups first. None disables.
    """
    return hamming_near_dups(simhash64(df, id_col, text_col), id_col,
                             "simhash", max_hamming, blocks, max_bucket)


def hamming_near_dups(
    sig: DataFrame, id_col: str, hash_col: str = "simhash",
    max_hamming: int = 3, blocks: int = 8,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Generic exact-recall Hamming self-join over any (id, 64-bit
    hash) frame -> (id_a, id_b, hamming) pairs with distance <=
    `max_hamming` — the multi-index pigeonhole machinery shared by
    simhash_near_dups (text) and multimodal.image_near_dups
    (perceptual hashes): see simhash_near_dups for the blocking math,
    the blocks-vs-key-width trade, and the hot-bucket cap."""
    import itertools

    if 64 % blocks:
        raise ValueError(f"blocks={blocks} must divide 64")
    width = 64 // blocks
    key_size = blocks - max_hamming
    if key_size < 1:
        raise ValueError(f"need blocks > max_hamming (got {blocks} <= {max_hamming})")
    mask = (1 << width) - 1

    def _seg(j: int) -> Column:
        return F.shiftrightunsigned(F.col(hash_col), j * width).bitwiseAND(F.lit(mask))

    def _combo_key(combo: tuple[int, ...]) -> Column:
        key = F.lit(0).cast("long")
        for pos, j in enumerate(combo):
            key = key.bitwiseOR(F.shiftleft(_seg(j), pos * width))
        return key

    segs = F.array(
        *[
            F.struct(F.lit(ci).alias("seg"), _combo_key(combo).alias("key"))
            for ci, combo in enumerate(itertools.combinations(range(blocks), key_size))
        ]
    )
    buckets = sig.select(id_col, hash_col, F.explode(segs).alias("b")).select(
        id_col, hash_col, F.col("b.seg").alias("seg"), F.col("b.key").alias("key")
    )
    buckets = _cap_buckets(buckets, ["seg", "key"], max_bucket)
    # reuse point: both self-join sides would otherwise re-run the
    # upstream hash pass (simhash's pandas UDF / the image decode —
    # see minhash_lsh_pairs for the measured ReusedExchange failure
    # under AQE broadcast); columnar persist, not localCheckpoint —
    # resilient + ~10x smaller (graph.py lesson)
    buckets = scoped_persist(buckets)
    a, b = buckets.alias("a"), buckets.alias("b")
    xor = F.col(f"a.{hash_col}").bitwiseXOR(F.col(f"b.{hash_col}"))
    pairs = (
        a.join(
            b,
            (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(xor).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


# --------------------------------------------------------------------------
# n-gram Jaccard (exact, blocked)
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    block_cols: list[str] | None = None,
    max_df: int | None = 100_000,
) -> DataFrame:
    """Exact word-k-gram Jaccard similarity via an inverted-index join.

    EXACT for any threshold > 0: pairs sharing zero shingles have
    Jaccard 0, so candidate generation = equi-join on the shingle
    itself. Work is Σ_tok df(tok)² — near-linear on real text where
    most k-grams are rare — instead of the blocked all-pairs N² of the
    naive form, and the per-pair set intersection becomes a count.
    |A∪B| folds from the carried set sizes: |A|+|B|−|A∩B|.
    block_cols add extra equi-conditions (e.g. language) to the token
    join. Skew note: a pathologically hot shingle (df ≈ N) degrades to
    that token's df² — `max_df` ENFORCES the bound: shingles appearing
    in more than max_df docs are dropped from the inverted index
    (`_cap_buckets` on the token key). A dropped shingle is corpus
    boilerplate carrying near-zero discriminative signal; since it is
    absent from BOTH sides, the computed Jaccard becomes a (slight)
    underestimate for pairs that shared it — the standard stop-shingle
    trade. max_df=None keeps the operator exact.
    """
    shingled = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in (block_cols or [])],
        F.array_distinct(_word_shingles(F.col(text_col), k)).alias("sh"),
    )
    inv = shingled.select(
        "id", *(block_cols or []), F.size("sh").alias("n"),
        F.explode("sh").alias("tok"),
    )
    if max_df is not None:
        # the carried set size |A| must shrink with the dropped tokens,
        # or |A∪B| overcounts: recompute n as the per-doc count of
        # SURVIVING shingles after the df cap.
        inv = _cap_buckets(inv.drop("n"),
                           ["tok", *(block_cols or [])], max_df)
        from pyspark.sql import Window

        inv = inv.withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("id")))
    # reuse point: the inverted index feeds both join sides; without it
    # the shingle explode executes twice (AQE may broadcast one side,
    # defeating ReusedExchange). Columnar persist, not localCheckpoint:
    # this frame is CORPUS-sized (one row per shingle occurrence), the
    # exact shape whose deserialized checkpoint blocks OOM first.
    inv = scoped_persist(inv)
    inter = _inverted_intersections(inv, block_cols)
    return (
        inter.select(
            "id_a", "id_b",
            (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
            .alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _inverted_intersections(inv: DataFrame,
                            block_cols: list[str] | None) -> DataFrame:
    """Shared candidate core of ngram_jaccard_pairs and
    ngram_containment_pairs: self-join the persisted inverted index on
    the shingle, count shared shingles per canonical (id_a < id_b)
    pair, carry both set sizes."""
    a, b = inv.alias("a"), inv.alias("b")
    cond = (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id"))
    for c in block_cols or []:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return (
        a.join(b, cond)
        .groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.n").alias("na"), F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.9,
    block_cols: list[str] | None = None,
    max_df: int | None = 100_000,
) -> DataFrame:
    """Word-k-gram CONTAINMENT pairs: |A∩B| / min(|A|, |B|) — the
    subset-duplication detector. A short doc quoted wholesale inside a
    much longer one has containment 1.0 but Jaccard |A|/|B| ≈ 0, so a
    Jaccard threshold can NEVER catch it; containment is the right
    score for quote-expansion, boilerplate-wrapping, and
    article-plus-comments duplication. Symmetric (min-denominator)
    form over canonical id_a < id_b pairs.

    Same machinery and scale shape as ngram_jaccard_pairs (shared
    inverted-index candidate core `_inverted_intersections`, same
    `max_df` hot-shingle cap). Cap semantics differ from Jaccard,
    though: the intersection is counted over CAPPED shingles but the
    min() denominator uses the PRE-CAP set sizes — if the post-cap
    size were used instead, a capped shingle present only in the
    smaller doc would shrink the denominator and INFLATE containment
    (a short boilerplate-heavy doc could false-positive at 1.0).
    With pre-cap sizes the score is a clean underestimate, the same
    direction as the Jaccard trade."""
    shingled = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in (block_cols or [])],
        F.array_distinct(_word_shingles(F.col(text_col), k)).alias("sh"),
    )
    inv = shingled.select(
        "id", *(block_cols or []), F.size("sh").alias("n"),
        F.explode("sh").alias("tok"),
    )
    if max_df is not None:
        # keep the PRE-CAP "n" through the cap (see docstring: a
        # post-cap denominator overestimates containment)
        inv = _cap_buckets(inv, ["tok", *(block_cols or [])], max_df)
    inv = scoped_persist(inv)
    inter = _inverted_intersections(inv, block_cols)
    return (
        inter.select(
            "id_a", "id_b",
            (F.col("inter") / F.least(F.col("na"), F.col("nb")))
            .alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Connected components over a near-duplicate pair graph — the
    canonical "keep one document per duplicate cluster" step that
    follows any pairwise dedup (MinHash/SimHash/embedding pairs).

    Runs graph.connected_components over the pairs (min-label
    propagation until no label changes; see its docstring for the
    round shape and the lineage discipline). Duplicate clusters are
    shallow (near-cliques), so 2-3 rounds is typical. No driver
    graph, no collected edges, so it scales to billions of pairs. The
    pairs are not deduplicated first: a repeated pair only repeats a
    min candidate.

    Returns (id, cluster_id) for every vertex that appears in `pairs`;
    cluster_id is the component's minimum id (deterministic canon).
    """
    return connected_components(pairs, id_a, id_b, dedupe=False).select(
        F.col("node").alias("id"), F.col("component").alias("cluster_id"))


def jaccard_dup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    block_cols: list[str] | None = None,
    max_df: int | None = 100_000,
    collapse_exact: bool = True,
) -> DataFrame:
    """Near-duplicate clusters over word-k-gram Jaccard ->
    (id, cluster_id) for every clustered doc, with EXACT-DUPLICATE
    COLLAPSE before the pair join: one representative (min id) per
    (block, md5(text)) group enters ngram_jaccard_pairs, the CC runs
    over representatives ONLY, and members inherit their
    representative's cluster afterwards.

    The components are IDENTICAL to running the pair join on the
    full corpus: exact copies carry identical shingle sets, so
    Jaccard(copy, x) == Jaccard(rep, x) for every x and
    Jaccard(copy, rep) = 1 >= threshold — inheriting the rep's
    cluster stands in, transitively, for every pairwise edge the
    full join would have added; and because a rep is its group's
    MINIMUM id, no member can ever be a component's min, so the
    rep-only CC assigns the same cluster ids the full CC would. The cost collapses from Σ df(tok)² over the REPLICATED
    corpus to Σ df(tok)² over DISTINCT texts — the difference
    between quadratic-in-copy-count and flat on crawl corpora where
    exact replication dominates (measured: the uncollapsed pair
    graph at a 100x-replicated sf10 ran ~50 min; collapsed it is
    sf0.1-sized). With a `max_df` cap the collapsed form caps on
    distinct-text document frequency — strictly closer to the
    uncapped-exact answer than capping on the replicated counts.
    `collapse_exact=False` recovers the plain
    ngram_jaccard_pairs -> duplicate_clusters composition."""
    if not collapse_exact:
        return duplicate_clusters(ngram_jaccard_pairs(
            df, id_col, text_col, k, threshold, block_cols, max_df))
    bcols = list(block_cols or [])
    base = df.select(F.col(id_col).alias("__id"),
                     *[F.col(c) for c in bcols],
                     F.md5(F.col(text_col)).alias("__dg"))
    groups = (base.groupBy("__dg", *bcols)
              .agg(F.min("__id").alias("__rep")))
    reps = df.join(
        groups.select(F.col("__rep").alias(id_col)), [id_col], "semi")
    rep_pairs = ngram_jaccard_pairs(
        reps, id_col, text_col, k, threshold, bcols or None, max_df
    ).select("id_a", "id_b")
    members = (base.join(groups, ["__dg", *bcols])
               .filter(F.col("__id") != F.col("__rep"))
               .select(F.col("__id").alias("id"),
                       F.col("__rep").alias("__rep")))
    # CC over REPRESENTATIVES only: members are degree-1 leaves whose
    # id is strictly greater than their rep's (rep = group min), so
    # the component min — the cluster id — is always decided by reps
    # alone. Members inherit their rep's cluster by ONE join after
    # the CC instead of riding every label round; under exact
    # replication the CC input shrinks by the replication factor.
    # Precondition (already the dedup contract): id_col values are
    # unique row identifiers.
    rep_cc = duplicate_clusters(rep_pairs)
    mem_cc = (members.join(rep_cc.withColumnRenamed("id", "__rep"),
                           ["__rep"], "left")
              .select("id", F.coalesce("cluster_id", F.col("__rep"))
                      .alias("cluster_id")))
    rep_self = (members.select(F.col("__rep").alias("id")).distinct()
                .join(rep_cc.select("id"), ["id"], "anti")
                .withColumn("cluster_id", F.col("id")))
    return rep_cc.unionByName(mem_cc).unionByName(rep_self)


def best_of_cluster(
    records: DataFrame,
    pairs: DataFrame | None,
    id_col: str,
    score_col: str,
    fields: list[str] | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Quality-aware survivor selection: ONE winner row per duplicate
    cluster — the row with the highest `score_col` (ties broken by
    LOWEST id) — instead of golden_records' per-field fusion or the
    min-id convention of the exact/LSH dedup families. The step a
    training pipeline runs after near-dup clustering: among N copies
    of a page, keep the cleanest one, not the first-crawled one.

    -> (cluster_id, n_members, id, <fields...>) with the winner's
    values; unmatched records pass through as 1-member clusters.

    Scale: pairs -> duplicate_clusters (tiny components, 2-3 label
    rounds), then ONE map-side-combined max_by aggregation per field
    over |records| rows keyed by cluster — no window, no per-cluster
    sort (the golden_records shape). The pick key packs
    (round(score, 4), -id) into a single BIGINT —
    round(score·10⁴)·10¹⁰ + (10¹⁰−1−id) — so any SQL engine replays
    the identical winner with plain arg_max (no struct-comparison
    semantics to match across engines). Requires 0 <= ids < 10¹⁰ and
    |score| < 10⁴ (the packed key must fit a signed 64-bit long);
    NULL scores rank lowest (coalesced below the score range). The
    domain is ENFORCED per-row in codegen (raise_error naming the
    offending id/score) — out-of-domain inputs fail loudly instead
    of silently crowning the wrong winner, at zero extra Spark
    actions (no separate stats job).

    Pass either `pairs` (a near-dup pair frame — clustered here via
    duplicate_clusters) or a precomputed `clusters` (id, cluster_id)
    frame (e.g. jaccard_dup_clusters' exact-collapse form)."""
    if fields is None:
        fields = [c for c in records.columns if c != id_col]
    if clusters is None:
        if pairs is None:
            raise ValueError("best_of_cluster needs pairs or clusters")
        clusters = duplicate_clusters(pairs, id_a, id_b)
    r = (records.join(
            clusters.withColumnRenamed("id", id_col), [id_col], "left")
         .withColumn("__cid", F.coalesce("cluster_id",
                                         F.col(id_col))))
    _id = F.col(id_col).cast("long")
    in_domain = ((_id >= 0) & (_id < F.lit(10_000_000_000))
                 & (F.col(score_col).isNull()
                    | (F.abs(F.col(score_col)) < F.lit(10_000))))
    packed = (F.coalesce(F.round(F.col(score_col) * 10_000, 0),
                         F.lit(-200_000_000.0)).cast("long")
              * F.lit(10_000_000_000)
              + (F.lit(9_999_999_999) - _id))
    key = F.when(in_domain, packed).otherwise(F.raise_error(F.concat(
        F.lit("best_of_cluster: packed-key domain violated (need "
              "0 <= id < 1e10 and |score| < 1e4), got id="),
        F.col(id_col).cast("string"), F.lit(" score="),
        F.coalesce(F.col(score_col).cast("string"), F.lit("null")))))
    aggs = [F.count(F.lit(1)).alias("n_members"),
            F.max_by(F.col(id_col), key).alias(id_col)]
    aggs += [F.max_by(F.col(c), key).alias(c) for c in fields]
    return (r.groupBy(F.col("__cid").alias("cluster_id"))
            .agg(*aggs))


# --------------------------------------------------------------------------
# embedding cosine near-dup
# --------------------------------------------------------------------------

def embedding_near_dups(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    planes: int = 12,
    seed: int = 42,
    round_to: int | None = None,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold.

    Random-hyperplane LSH: `planes` signed projections give a bucket
    key; exact cosine runs only inside buckets. Deterministic plane
    vectors derive from (seed, plane, dim) hashes, broadcast as
    literals — no driver data movement. `planes=0` disables blocking
    (single bucket = exact all-pairs) — the correctness baseline for
    validating recall; use blocking at scale.

    Hot-bucket cap: identical embeddings land in one LSH bucket no
    matter how many planes — `_cap_buckets` bounds each bucket to
    `max_bucket` rows (dropped members are embedding-identical;
    collapse them by an exact digest groupBy first). Applies only in
    blocked mode; None disables.
    """
    import numpy as np

    from seatunnel_spark.dataops.similarity import _bucket_expr, _norm

    v = F.col(vec_col)
    norm = _norm(v)
    if planes > 0:
        first = df.select(F.size(vec_col).alias("d")).first()
        dim = int(first["d"])
        rng = np.random.default_rng(seed)
        plane_mat = rng.standard_normal((planes, dim))
        bucket = _bucket_expr(_qcol(vec_col), plane_mat)
    else:
        bucket = None
    # ensure_parallelism: the bucket/norm projection is the CPU-heavy
    # per-row pass — spread it off a single-split local scan
    bucketed = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), v.alias("v"), norm.alias("n"),
        *( [bucket.alias("bucket")] if bucket is not None else [] ),
    )
    if bucket is not None:
        bucketed = _cap_buckets(bucketed, ["bucket"], max_bucket)
    # reuse point: the hyperplane-bucket projection (interpreted
    # higher-order dot products) feeds both self-join sides; columnar
    # persist — resilient + compact for the vector payload
    bucketed = scoped_persist(bucketed)
    a, b = bucketed.alias("a"), bucketed.alias("b")
    from seatunnel_spark.dataops.similarity import _dot

    cos = _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n"))
    if round_to is not None:
        cos = F.round(cos, round_to)
    if bucket is not None:
        joined = a.join(
            b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id"))
        )
    else:
        # Exact all-pairs validation mode: broadcast nested-loop keeps
        # the left side's parallelism (a constant equi-key would funnel
        # every row through one shuffle partition).
        a = ensure_parallelism(bucketed).alias("a")
        joined = a.join(F.broadcast(b), F.col("a.id") < F.col("b.id"))
    return (
        joined.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# --------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style: cluster embeddings, prune near-dups
# inside each cluster)
# --------------------------------------------------------------------------

def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    nlist: int = 16,
    iters: int = 2,
    threshold: float = 0.95,
    round_to: int | None = None,
    max_cell: int | None = 100_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): quantize every
    embedding to its nearest centroid, compare pairs ONLY within a
    cluster, and drop each doc that has a higher-priority (lower-id)
    semantic duplicate at cosine >= threshold.

    -> (id, cell, keep) for every input row; filter on keep for the
    pruned corpus.

    100 TB shape: the all-pairs comparison SemDeDup's paper runs
    per-cluster is here one equi-join on the cell id — Σ cell² work
    instead of N², exactly the IVF trade. Cells come from a fixed
    codebook (engine-replayable, oracle-checkable) or distributed
    Lloyd's (similarity.train_ivf_centroids). The assigned frame is
    lineage-cut before the self-join (see minhash_lsh_pairs).

    Hot-cell cap: a degenerate mega-cell (a codebook mismatched to the
    corpus, or billions of identical embeddings) turns the within-cell
    join quadratic — `_cap_buckets` bounds the JOIN INPUT to `max_cell`
    rows per cell. Docs in an over-full cell are conservatively KEPT
    (keep=true for rows excluded from pair generation) — dedup never
    drops a doc it didn't compare. None disables.
    """
    from seatunnel_spark.dataops.similarity import (
        _dot, _nearest_centroid, _norm, train_ivf_centroids)

    if centroids is None:
        centroids = train_ivf_centroids(df, vec_col, nlist=nlist, iters=iters)
    v = F.col(vec_col).cast(T.ArrayType(T.DoubleType()))
    # ensure_parallelism: cell assignment + norm are the CPU-heavy
    # per-row pass — spread them off a single-split local scan
    assigned = scoped_persist(ensure_parallelism(df).select(
        F.col(id_col).alias("id"), v.alias("v"), _norm(v).alias("n"),
        _nearest_centroid(f"cast({_qcol(vec_col)} as array<double>)",
                          centroids).alias("cell"),
    ))
    join_in = _cap_buckets(assigned, ["cell"], max_cell)
    a, b = join_in.alias("a"), join_in.alias("b")
    cos = _dot(F.col("a.v"), F.col("b.v")) \
        / (F.col("a.n") * F.col("b.n"))
    if round_to is not None:
        cos = F.round(cos, round_to)
    dropped = (
        a.join(b, (F.col("a.cell") == F.col("b.cell"))
               & (F.col("a.id") < F.col("b.id")))
        .filter(cos >= threshold)
        .select(F.col("b.id").alias("id"))
        .distinct()
    )
    return (
        assigned.select("id", "cell")
        .join(dropped.withColumn("__drop", F.lit(True)), "id", "left")
        .select("id", "cell",
                F.coalesce(~F.col("__drop"), F.lit(True)).alias("keep"))
    )


# --------------------------------------------------------------------------
# passage-level exact dedup (Lee et al. 2022-style, chunk granularity)
# --------------------------------------------------------------------------

def passage_dup_stats(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      chunk_words: int = 8) -> DataFrame:
    """Corpus-wide repeated-passage detection: split every doc into
    fixed `chunk_words`-word chunks, find each distinct chunk's FIRST
    occurrence (lowest (doc, position)), and report per-doc how much
    of the doc is passage-duplicated elsewhere — the chunk-granular
    form of exact-substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better").

    -> (id, n_chunks, n_dup_chunks, dup_frac).

    100 TB design: chunks shuffle as (md5 digest, owner-ordinal) pairs
    — never the chunk text — keyed by the digest, so the first-owner
    window and the per-doc rollup are one digest shuffle + one id
    shuffle, both map-side reducible. The owner ordinal packs
    (doc_id, pos) into one bigint so the min is a plain scalar agg
    (cross-engine total order without struct-compare semantics).
    """
    from pyspark.sql import Window

    cw = int(chunk_words)
    chunks = F.expr(
        f"transform(sequence(0, cast(ceil(size(__ws) / {cw}.0) as int) - 1),"
        f" i -> array_join(slice(__ws, i * {cw} + 1, {cw}), ' '))")
    exploded = (
        df.select(F.col(id_col).alias("__id"),
                  F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
                  .alias("__ws"))
        .select("__id", F.posexplode(chunks).alias("__pos", "__chunk"))
        .select("__id", "__pos", F.md5(F.col("__chunk")).alias("__k"))
    )
    ordinal = F.col("__id") * F.lit(1_000_000) + F.col("__pos")
    first = F.min(ordinal).over(Window.partitionBy("__k"))
    flagged = exploded.withColumn(
        "__dup", (ordinal != first).cast("int"))
    return (
        flagged.groupBy(F.col("__id").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_chunks"),
             F.sum("__dup").alias("n_dup_chunks"))
        .withColumn("dup_frac",
                    F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 4))
    )


def passage_dedup_apply(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        chunk_words: int = 8) -> DataFrame:
    """The APPLY step of passage-level exact dedup (Lee et al. 2022):
    rebuild every document keeping only the chunks whose (doc, pos)
    is the corpus-wide FIRST occurrence of that chunk's digest —
    repeated boilerplate passages survive exactly once, in the
    earliest document that carried them.

    -> (id, clean_text, n_chunks, n_kept). Reassembly normalizes to
    the chunking's own tokenization (lowercased, single-spaced) — the
    same canonical form the digests are computed over.

    100 TB shape: the first-occurrence resolution shuffles ONLY
    (digest, packed-ordinal) pairs — chunk text never rides a
    shuffle. Kept positions come back as a per-doc int array that
    joins the source table on id (co-located for free when the corpus
    is bucketed by id), and the text itself is re-chunked by a pure
    projection at rebuild time.
    """
    cw = int(chunk_words)
    chunks_expr = (
        f"transform(sequence(0, cast(ceil(size(__ws) / {cw}.0) as int) - 1),"
        f" i -> array_join(slice(__ws, i * {cw} + 1, {cw}), ' '))")
    ws = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    exploded = (
        df.select(F.col(id_col).alias("__id"), ws.alias("__ws"))
        .select("__id", F.posexplode(F.expr(chunks_expr))
                .alias("__pos", "__chunk"))
        .select("__id", "__pos", F.md5(F.col("__chunk")).alias("__k"))
    )
    ordinal = F.col("__id") * F.lit(1_000_000) + F.col("__pos")
    firsts = (exploded.select("__k", ordinal.alias("__ord"))
              .groupBy("__k").agg(F.min("__ord").alias("__first")))
    keep_pos = (
        exploded.join(firsts, "__k")
        .filter(ordinal == F.col("__first"))
        .groupBy("__id")
        .agg(F.array_sort(F.collect_list("__pos")).alias("__kp"))
    )
    rebuilt = (
        df.select(F.col(id_col), ws.alias("__ws"))
        .select(F.col(id_col), F.expr(chunks_expr).alias("__chunks"))
        .join(keep_pos.withColumnRenamed("__id", id_col), id_col, "left")
    )
    kp = F.coalesce(F.col("__kp"), F.expr("cast(array() as array<int>)"))
    return rebuilt.select(
        id_col,
        F.array_join(
            F.transform(
                kp, lambda i: F.element_at(F.col("__chunks"), i + 1)
            ), " "
        ).alias("clean_text"),
        F.size("__chunks").alias("n_chunks"),
        F.size(kp).alias("n_kept"),
    )


def substring_dup_spans(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 50,
                        boilerplate_df: int | None = None
                        ) -> DataFrame:
    """Exact substring dedup at ARBITRARY alignment (Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better",
    ExactSubstr): every duplicated token span of length >= `n`, at
    ANY offset, in any document -> (id, start_tok, end_tok) maximal
    spans (1-based, inclusive). The canonical training-data dedup op
    the fixed-chunk passage family cannot express: a span shifted by
    one token lands in different chunks and passage_dup_stats misses
    it, while here EVERY n-token window is a probe.

    Method: a duplicated span of length L >= n contains exactly
    L-n+1 duplicated n-shingles at CONSECUTIVE positions, and
    conversely maximal runs of duplicated shingle positions (gap
    <= n merges overlapping/touching windows) reconstruct the
    maximal duplicated spans — so suffix-array span discovery
    reduces to shingle statistics + an island merge, both
    distributed-friendly. KEEP-FIRST semantics: each shingle's
    corpus-wide first occurrence — min (doc, pos) STRUCT, compared
    lexicographically, so any comparable id type works (string ids
    order textually) and a >1M-token document cannot bleed into the
    next id's range the way a packed ordinal would — stays unmarked,
    so the earliest copy of a span survives and every other copy
    (including later repeats INSIDE the same document) is reported.
    `boilerplate_df`: shingles appearing more than this many times
    are boilerplate — ALL their occurrences are marked (no surviving
    copy), the C4-style terms-of-service rule. None disables.

    100 TB shape: shingles shuffle as (md5 digest, packed ordinal)
    pairs — never the n-token text (n=50 shingles are ~300 bytes;
    the digest is 32). One digest-keyed aggregation (map-side
    combined to distinct-shingles-per-partition), one digest-keyed
    join back (multiplicity 1 per occurrence row — never a pair
    join; hot boilerplate digests are plain shuffle skew, which AQE
    splits), then doc-partitioned windows for the island merge.
    Everything linear in corpus tokens; nothing all-pairs."""
    nn = int(n)
    # occ feeds both the digest stats and the join back — persist so
    # the (CPU-heavy) shingle/md5 pass runs once, not per consumer
    occ = scoped_persist(_shingle_occurrences(df, id_col, text_col, nn))
    ordkey = F.struct(F.col("__id").alias("i"),
                      F.col("__pos").alias("p"))
    stats = (occ.select("__k", ordkey.alias("__ok"))
             .groupBy("__k")
             .agg(F.count(F.lit(1)).alias("__cnt"),
                  F.min("__ok").alias("__first")))
    dup = ((F.col("__cnt") >= 2) & (ordkey != F.col("__first")))
    if boilerplate_df is not None:
        dup = dup | (F.col("__cnt") > boilerplate_df)
    marked = (occ.join(stats, "__k").filter(dup)
              .select("__id", "__pos"))
    return _merge_islands(marked, id_col, nn)


def _shingle_occurrences(df: DataFrame, id_col: str, text_col: str,
                         nn: int) -> DataFrame:
    """Every n-token window of every document as (__id, __pos, __k):
    1-based token position + md5 digest of the space-joined shingle
    over the canonical tokenization (lowered, trimmed, \\s+-split).
    Only 32-hex digests and ints leave the scan — never shingle
    text. Shared by substring dedup and span-level decontamination
    so both mark positions in the identical shingle space."""
    ws = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    npos = F.size("__ws") - nn + 1
    sh_arr = F.when(
        npos >= 1,
        F.transform(F.sequence(F.lit(1), npos),
                    lambda i: F.struct(
                        i.alias("p"),
                        F.md5(F.concat_ws(
                            " ", F.slice("__ws", i, nn))).alias("k")))
    ).otherwise(F.expr(
        "cast(array() as array<struct<p:int,k:string>>)"))
    return (ensure_parallelism(df)
            .select(F.col(id_col).alias("__id"), ws.alias("__ws"))
            .select("__id", F.explode(sh_arr).alias("__s"))
            .select("__id", F.col("__s.p").alias("__pos"),
                    F.col("__s.k").alias("__k")))


def _merge_islands(marked: DataFrame, id_col: str,
                   nn: int) -> DataFrame:
    """Maximal-span reconstruction from marked shingle positions
    (__id, __pos): runs whose consecutive positions gap <= nn merge
    (overlapping/touching n-windows), each island reports
    [min_pos, max_pos + nn - 1] -> (id, start_tok, end_tok).
    Doc-partitioned window — each document's positions sort
    independently, nothing global."""
    from pyspark.sql import Window

    w = Window.partitionBy("__id").orderBy("__pos")
    prev = F.lag("__pos").over(w)
    brk = F.when(prev.isNull()
                 | (F.col("__pos") - prev > nn), 1).otherwise(0)
    return (marked.withColumn("__brk", brk)
            .withColumn("__isl", F.sum("__brk").over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
            .groupBy(F.col("__id").alias(id_col), F.col("__isl"))
            .agg(F.min("__pos").cast("int").alias("start_tok"),
                 (F.max("__pos") + nn - 1).cast("int")
                 .alias("end_tok"))
            .drop("__isl"))


def _excise_spans(df: DataFrame, spans: DataFrame, id_col: str,
                  text_col: str) -> DataFrame:
    """Excise (start_tok, end_tok) spans from each document and
    rebuild -> (id, clean_text, n_tokens, n_kept). Spans collapse to
    a per-doc array (docs hold few maximal spans) joined on id; the
    excision is a pure codegen filter over token positions — no
    second corpus shuffle. Reassembly normalizes to the span
    discovery's tokenization (lowercased, single-spaced)."""
    sp = (spans.groupBy(id_col)
          .agg(F.collect_list(
              F.struct(F.col("start_tok").alias("s"),
                       F.col("end_tok").alias("e"))).alias("__sp")))
    ws = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    joined = (df.select(F.col(id_col), ws.alias("__ws"))
              .join(sp, id_col, "left"))
    spl = F.coalesce(
        F.col("__sp"),
        F.expr("cast(array() as array<struct<s:int,e:int>>)"))
    indexed = F.transform(
        "__ws", lambda t, i: F.struct(t.alias("t"),
                                      (i + 1).alias("i")))
    kept = F.filter(
        indexed,
        lambda s: ~F.exists(
            spl, lambda p: (s["i"] >= p["s"]) & (s["i"] <= p["e"])))
    return joined.select(
        id_col,
        F.array_join(F.transform(kept, lambda s: s["t"]), " ")
        .alias("clean_text"),
        F.size("__ws").alias("n_tokens"),
        F.size(kept).alias("n_kept"))


def substring_dedup_apply(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", n: int = 50,
                          boilerplate_df: int | None = None
                          ) -> DataFrame:
    """The APPLY step of exact-substring dedup: excise every
    duplicated span substring_dup_spans reports from its document
    and rebuild the text -> (id, clean_text, n_tokens, n_kept).
    Reassembly normalizes to the span discovery's own tokenization
    (lowercased, single-spaced), the passage_dedup_apply convention;
    a document with no duplicated spans passes through intact
    (n_kept = n_tokens).

    Scale: spans come back as a per-doc array (docs hold few maximal
    spans) joined on id; the excision itself is a pure codegen
    filter over token positions — no second corpus shuffle
    (_excise_spans)."""
    spans = substring_dup_spans(df, id_col, text_col, n,
                                boilerplate_df)
    return _excise_spans(df, spans, id_col, text_col)


def fuzzy_dup_pairs(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", block_words: int = 4,
                    max_dist: int = 40, max_rel: float = 0.25,
                    max_bucket: int | None = 256,
                    collapse_exact: bool = True) -> DataFrame:
    """Edit-distance-confirmed near-duplicate pairs (between DISTINCT
    texts; see collapse_exact).

    The sequence-based complement to the set-based family
    (minhash/simhash/jaccard): catches small in-place edits — typo
    fixes, a swapped token, a trimmed suffix — where word ORDER is
    preserved, which shingle sets can miss, and never fires on
    bag-of-words coincidences, which they can.

    collapse_exact (default ON) first collapses byte-identical texts
    to their min-id representative, so pairs are between distinct
    texts only — exact-dup groups belong to `exact_dup_groups`, and
    WITHOUT the collapse a heavily-duplicated corpus inflates every
    prefix block by its copy count and the block self-join by its
    square: measured 45 s vs 0.9 s at sf1, where every doc has 10
    exact copies. The collapse is one map-side-combined groupBy on
    md5(text) — the same 16-byte-digest shuffle exact_dedup uses.

    Blocking: the first `block_words` lowercased words. A near-dup in
    the edit-distance sense keeps its prefix unless the edit lands in
    the first few words (the standard prefix-blocking trade-off;
    combine with `minhash_lsh_pairs` for order-insensitive recall).
    Hot blocks (boilerplate prefixes) are capped by `_cap_buckets`, so
    the per-block self-join is bounded <= max_bucket² at ANY corpus
    size.

    Confirm: Spark's THRESHOLD levenshtein (banded DP — O(len·k), not
    O(len²); returns -1 above `max_dist`), then the relative bound
    dist <= max_rel · max(len) so short texts aren't over-matched.
    Levenshtein is CHARACTER-based in Spark but BYTE-based in DuckDB —
    identical on ASCII corpora; normalize or transliterate first when
    replaying a unicode corpus against a byte-based oracle.
    """
    src = df.select(F.col(id_col).alias("id"),
                    F.col(text_col).alias("t"))
    if collapse_exact:
        # min-id representative per identical text; max(t) is
        # deterministic (all texts in a group are equal)
        src = (src.groupBy(F.md5("t").alias("__h"))
               .agg(F.min("id").alias("id"), F.max("t").alias("t"))
               .drop("__h"))
    words = F.split(F.trim(F.lower(F.col("t"))), r"\s+")
    base = src.select(
        "id", "t", F.length("t").alias("len"),
        F.concat_ws(" ", F.slice(words, 1, block_words)).alias("bkey"))
    base = _cap_buckets(base, ["bkey"], max_bucket)
    a = base.select("bkey", F.col("id").alias("id1"),
                    F.col("t").alias("t1"), F.col("len").alias("len1"))
    b = base.select("bkey", F.col("id").alias("id2"),
                    F.col("t").alias("t2"), F.col("len").alias("len2"))
    g = F.greatest("len1", "len2")
    bound = F.least(F.lit(max_dist), F.floor(F.lit(max_rel) * g))
    # The DP must be GUARDED, not just filtered: Catalyst folds the
    # dist filters into the join condition and reorders conjuncts, so
    # every self-pair (each row bkey-matches itself) would pay the
    # full banded levenshtein before id1 < id2 discards it — ~90 % of
    # all matched pairs on a mostly-unique corpus, measured 3x wall.
    # The when() short-circuits per row whatever the conjunct order;
    # |len1-len2| <= bound is a true lower bound on the distance, so
    # the guard never changes the result.
    cheap = ((F.col("id1") < F.col("id2"))
             & (F.abs(F.col("len1") - F.col("len2")) <= bound))
    dist = F.when(cheap, F.levenshtein("t1", "t2", max_dist)) \
        .otherwise(F.lit(-1))
    return (a.join(b, "bkey")
            .withColumn("dist", dist)
            .filter((F.col("dist") >= 0) & (F.col("dist") <= bound))
            .select("id1", "id2", "dist",
                    F.round(F.col("dist") / g, 4).alias("rel_dist")))


def verify_pairs(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    id_a: str = "id_a",
    id_b: str = "id_b",
    round_to: int = 4,
) -> DataFrame:
    """Exact overlap scores for CANDIDATE pairs only -> (id_a, id_b,
    jaccard, containment): the verify stage of two-phase dedup —
    a candidate generator (minhash_lsh_pairs' banded buckets,
    hamming blocking, a canonical-URL collision list) proposes pairs,
    this scores them exactly. Cost is O(|candidates| · shingle-set),
    never Σ df² and never N²: on corpora where every pair overlaps a
    little (template boilerplate), the exact-pairs operators
    (ngram_jaccard_pairs / ngram_containment_pairs) must output — and
    therefore pay for — the quadratic overlap that LSH's threshold
    tuning prunes before it is ever materialized.

    Both scores come from one array_intersect per pair (jaccard =
    |∩| / |∪|, containment = |∩| / min(|A|,|B|)); two broadcast-or-
    shuffle joins attach the per-doc shingle sets to the pair list."""
    # the shingle projection feeds BOTH pair sides — persist so the
    # tokenize/k-gram/distinct pass runs once, not once per side
    # (the _jaccard_prefix_stages / dedup_substring lesson)
    sh = scoped_persist(df.select(
        F.col(id_col).alias("__vid"),
        F.array_distinct(_word_shingles(F.col(text_col), k))
        .alias("__sh")))
    a = sh.select(F.col("__vid").alias(id_a), F.col("__sh").alias("__sa"))
    b = sh.select(F.col("__vid").alias(id_b), F.col("__sh").alias("__sb"))
    inter = F.size(F.array_intersect("__sa", "__sb"))
    union = F.size("__sa") + F.size("__sb") - inter
    return (pairs.join(a, id_a).join(b, id_b)
            .select(id_a, id_b,
                    F.round(inter / union, round_to).alias("jaccard"),
                    F.round(inter / F.least(F.size("__sa"),
                                            F.size("__sb")),
                            round_to).alias("containment")))


def _jaccard_prefix_stages(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    threshold: float,
    block_cols: list[str] | None,
    max_prefix_df: int | None,
    length_filter: bool,
    positional_filter: bool,
) -> tuple[DataFrame, DataFrame]:
    """Shared PPJoin core -> (shingled docs, candidate pairs). The
    filters are opt-out only so tests can measure each one's
    candidate reduction in isolation; production callers get all of
    them through jaccard_prefix_pairs' defaults."""
    # The tokenize+shingle projection feeds FOUR subtrees (the df
    # stats, the rarity ranking, and both verify sides in
    # jaccard_prefix_pairs) — unpersisted, Catalyst duplicates it
    # into each consumer and the CPU-heavy split/k-gram/distinct
    # pass runs 4x per execution (the dedup_substring lesson).
    # Columnar persist, same corpus-sized-cache discipline as
    # ngram_jaccard_pairs' inverted index.
    shingled = scoped_persist(ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in (block_cols or [])],
        F.array_distinct(_word_shingles(F.col(text_col), k)).alias("sh"),
    ))
    occ = shingled.select(
        "id", *(block_cols or []), F.explode("sh").alias("tok"))
    dfreq = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("__df"))
    # global rarity rank per occurrence, then per-doc prefix slice
    from pyspark.sql import Window

    ranked = (occ.join(dfreq, "tok")
              .withColumn("__pos", F.row_number().over(
                  Window.partitionBy("id")
                  .orderBy(F.col("__df").asc(), F.col("tok").asc())))
              .withColumn("__n", F.count(F.lit(1)).over(
                  Window.partitionBy("id"))))
    t = float(threshold)
    prefix_len = (F.col("__n") - F.ceil(F.lit(t) * F.col("__n")) + 1)
    pref = ranked.filter(F.col("__pos") <= prefix_len) \
                 .select("id", *(block_cols or []),
                         "tok", "__pos", "__n")
    # Hot-prefix cap: rarity ordering already pushes boilerplate
    # shingles out of every prefix, but a corpus of near-identical
    # SHORT docs (prefix == whole set) can still flood one token and
    # turn the candidate join quadratic. Same _cap_buckets discipline
    # as ngram_jaccard_pairs' max_df; when the cap fires, pairs whose
    # ONLY shared prefix token was dropped are missed (underestimate
    # — collapse exact dups with exact_dup_groups first).
    pref = _cap_buckets(pref, ["tok", *(block_cols or [])],
                        max_prefix_df)
    pref = scoped_persist(pref)
    a, b = pref.alias("a"), pref.alias("b")
    cond = ((F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.id") < F.col("b.id")))
    for c in block_cols or []:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    if length_filter:
        # J >= t forces t*|A| <= |B| <= |A|/t — symmetric because ids
        # (not sizes) order the pair
        cond = cond & (F.col("b.__n") >= F.lit(t) * F.col("a.__n")) \
                    & (F.col("a.__n") >= F.lit(t) * F.col("b.__n"))
    if positional_filter:
        # PPJoin positional upper bound: a match on token at rarity
        # positions (pa, pb) can contribute at most itself plus the
        # shorter suffix. ANY-match semantics stay exact: the
        # EARLIEST common token (consistent global order => earliest
        # in both lists, with nothing common before it) is always in
        # both prefixes whenever any common token is, and its bound
        # 1 + min(|A|-pa, |B|-pb) >= true overlap, so every true pair
        # survives via that match even if later matches are pruned.
        minov = F.ceil(F.lit(t / (1.0 + t))
                       * (F.col("a.__n") + F.col("b.__n")))
        ubound = (F.lit(1)
                  + F.least(F.col("a.__n") - F.col("a.__pos"),
                            F.col("b.__n") - F.col("b.__pos")))
        cond = cond & (ubound >= minov)
    cands = (a.join(b, cond)
             .select(F.col("a.id").alias("id_a"),
                     F.col("b.id").alias("id_b"))
             .distinct())
    return shingled, cands


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    block_cols: list[str] | None = None,
    max_prefix_df: int | None = 100_000,
    length_filter: bool = True,
    positional_filter: bool = True,
) -> DataFrame:
    """Exact word-k-gram Jaccard pairs via PREFIX FILTERING (Chaudhuri
    et al. 2006 / PPJoin) — same output as ngram_jaccard_pairs at the
    same threshold, strictly fewer candidates: sort each doc's
    shingles by global rarity (df asc, token asc) and index only the
    first |A| − ⌈t·|A|⌉ + 1 of them; any pair with J ≥ t MUST share a
    prefix shingle (if they shared none, the overlap is confined to
    the two suffixes, bounding |A∩B| ≤ min(⌈t|A|⌉−1, ⌈t|B|⌉−1) < the
    t·max(|A|,|B|)/(1+t)... ≥ t requirement), so candidates form from
    the prefix inverted index only and are then verified exactly.

    On top of the prefix index, the full PPJoin candidate filters run
    INSIDE the join condition (so pruned pairs never materialize):
    the LENGTH filter (t·|A| ≤ |B| ≤ |A|/t — J ≥ t bounds the size
    ratio) and the POSITIONAL filter (a match at rarity positions
    (pa, pb) can witness at most 1 + min(|A|−pa, |B|−pb) overlap,
    which must reach ⌈t/(1+t)·(|A|+|B|)⌉). Both only remove pairs
    that provably cannot pass the threshold, so the exact verify
    output is unchanged. `max_prefix_df` caps degenerate hot prefix
    tokens (near-identical short docs) — the one knob that trades
    recall for bounded work, default high enough to never fire on
    natural corpora.

    Scale: at t=0.8 the prefix is ~20% of each set, so candidate work
    is Σ df_prefix² — on corpora where the HOT shingles are the
    common boilerplate (they have the highest df, so they sort LAST
    and fall outside every prefix), this prunes exactly the tokens
    that blow up the plain inverted-index join, WITHOUT the max_df
    cap's underestimate. Verification joins the full shingle sets
    back (the verify_pairs shape): one array_intersect per surviving
    candidate."""
    shingled, cands = _jaccard_prefix_stages(
        df, id_col, text_col, k, threshold, block_cols,
        max_prefix_df, length_filter, positional_filter)
    sa = shingled.select(F.col("id").alias("id_a"),
                         F.col("sh").alias("__sa"))
    sb = shingled.select(F.col("id").alias("id_b"),
                         F.col("sh").alias("__sb"))
    inter = F.size(F.array_intersect("__sa", "__sb"))
    union = F.size("__sa") + F.size("__sb") - inter
    return (cands.join(sa, "id_a").join(sb, "id_b")
            .select("id_a", "id_b", (inter / union).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def jaccard_prefix_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    block_cols: list[str] | None = None,
    max_prefix_df: int | None = 100_000,
    length_filter: bool = True,
    positional_filter: bool = True,
) -> DataFrame:
    """The candidate (id_a, id_b) pairs jaccard_prefix_pairs would
    verify — the observable for 'how much did each PPJoin filter
    prune': count(candidates) / count(verified) is the verification
    amplification, and toggling length_filter/positional_filter
    isolates each filter's reduction. Used by the bench candidate-
    count log and the filter regression tests."""
    _, cands = _jaccard_prefix_stages(
        df, id_col, text_col, k, threshold, block_cols,
        max_prefix_df, length_filter, positional_filter)
    return cands

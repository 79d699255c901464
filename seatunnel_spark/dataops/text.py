"""Text analysis operators: token counting, quality signals,
language ID, document fingerprinting.

All pure Catalyst expressions (regex + string builtins) — zero Python
in the hot path, so they run at scan speed on any corpus size.
"""

from __future__ import annotations

import pandas as pd  # module-level so vectorized_udf type hints resolve

from pyspark.sql import Column, DataFrame, Window, functions as F

from seatunnel_spark._pyworker import (map_in_pandas, ship_by_value,
                                      vectorized_udf)
from seatunnel_spark.dataops._cache import scoped_persist

ship_by_value(__name__)

# --------------------------------------------------------------------------
# token counting
# --------------------------------------------------------------------------

def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty/null-safe at caller)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-flavored proxy: word pieces + digits + punctuation as
    separate tokens (the regex GPT-style tokenizers use as pre-split)."""
    # contractions | words | numbers | non-space punctuation runs
    pattern = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]+"
    return F.size(F.regexp_extract_all(text, F.lit(pattern), F.lit(0)))


def add_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumns(
        {
            "ws_tokens": token_count(F.col(text_col)),
            "bpe_tokens": bpe_ish_token_count(F.col(text_col)),
        }
    )


# --------------------------------------------------------------------------
# quality signals
# --------------------------------------------------------------------------

_STOPWORDS = [
    "the", "of", "and", "to", "in", "a", "is", "that", "for", "it",
    "as", "was", "with", "be", "by", "on", "not", "he", "this", "are",
]


def quality_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher/C4-style quality columns: length, mean word length,
    punctuation ratio, digit ratio, stopword ratio, uppercase ratio."""
    t = F.col(text_col)
    n_chars = F.length(t)
    words = F.split(F.trim(t), r"\s+")
    n_words = F.size(words)
    lower_words = F.transform(words, lambda w: F.lower(w))
    stop_hits = F.size(F.array_intersect(F.array_distinct(lower_words),
                                         F.array(*[F.lit(s) for s in _STOPWORDS])))
    # count non-alnum-non-ws by stripping the POSITIVE class — Java
    # regex scans positive classes ~6x faster than the equivalent
    # negated [^A-Za-z0-9\s] (see fingerprint() for the same trap)
    non_alnum = F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", ""))

    def ratio(num: Column, den: Column) -> Column:
        return F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0))

    return df.withColumns(
        {
            "q_n_chars": n_chars,
            "q_n_words": n_words,
            "q_mean_word_len": ratio(
                F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w)), n_words
            ),
            "q_punct_ratio": ratio(non_alnum, n_chars),
            # regexp_count with a positive single-char class == number
            # of chars in the class; Java regex scans positive classes
            # much faster than negated ones
            "q_digit_ratio": ratio(
                F.regexp_count(t, F.lit(r"[0-9]")), n_chars
            ),
            "q_stopword_hits": stop_hits,
            "q_upper_ratio": ratio(
                F.regexp_count(t, F.lit(r"[A-Z]")), n_chars
            ),
        }
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Single [0,1] score combining the signals (heuristic weights)."""
    sig = quality_signals(df, text_col)
    score = (
        F.least(F.col("q_n_words") / 50.0, F.lit(1.0)) * 0.35
        + F.when((F.col("q_mean_word_len") >= 3) & (F.col("q_mean_word_len") <= 10),
                 0.25).otherwise(0.0)
        + F.when(F.col("q_punct_ratio") <= 0.2, 0.2).otherwise(0.0)
        + F.least(F.col("q_stopword_hits") / 5.0, F.lit(1.0)) * 0.2
    )
    return sig.withColumn("quality_score", F.round(score, 4))


# --------------------------------------------------------------------------
# language id (n-gram/stopword heuristic)
# --------------------------------------------------------------------------

_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "that", "with", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans", "pour"],
    "es": ["el", "los", "las", "es", "una", "para", "con", "por"],
    "it": ["il", "che", "di", "non", "una", "per", "sono", "con"],
}


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Stopword-vote language ID — argmax over marker-word hit counts.

    Ties and zero-evidence fall back to 'und' (undetermined), matching
    fastText-style labels. Pure Catalyst: one lower+split, one
    array_intersect per language.
    """
    words = F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    scores = [
        F.struct(
            F.size(F.array_intersect(words, F.array(*[F.lit(m) for m in markers]))).alias("hits"),
            F.lit(code).alias("code"),
        )
        for code, markers in _LANG_MARKERS.items()
    ]
    # array_max over structs orders by first field (hits) then code — the
    # code tiebreak is alphabetical-max; deterministic either way.
    best = F.array_max(F.array(*scores))
    return df.withColumn(
        out_col,
        F.when(best["hits"] > 0, best["code"]).otherwise(F.lit("und")),
    )


# --------------------------------------------------------------------------
# fingerprinting
# --------------------------------------------------------------------------

def fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "fingerprint") -> DataFrame:
    """Normalized content fingerprint: lowercase, collapse whitespace,
    strip punctuation, md5. Stable across engines (DuckDB-replayable) —
    the canonical key for exact-dup detection after formatting noise."""
    t = F.col(text_col)
    # [\S&&[^a-z0-9]] is the same char set as [^a-z0-9\s] (not
    # whitespace AND not alnum), but Java regex runs the negated
    # union-class ~14x slower per byte than the intersection form —
    # at 100 TB this regex pass IS the operator's cost. The DuckDB
    # oracle keeps the plain [^a-z0-9\s] spelling (RE2 has no && and
    # no such slowdown); both match identically.
    normalized = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(t), r"[\S&&[^a-z0-9]]", ""),
            r"\s+", " ")
    )
    return df.withColumn(out_col, F.md5(normalized))


# --------------------------------------------------------------------------
# HTML / markup cleaning
# --------------------------------------------------------------------------

def html_clean(df: DataFrame, text_col: str = "text",
               out_col: str = "clean_text") -> DataFrame:
    """Strip markup from crawled HTML: drop <script>/<style> blocks
    wholesale, replace remaining tags with spaces, decode the common
    entities, collapse whitespace.

    Pure regexp_replace chain — one codegen'd projection, runs at scan
    speed with zero shuffles (the 100 TB shape for a cleaning pass).
    Patterns avoid backreferences/lookaround so the SAME rules replay
    in RE2 engines (DuckDB/Go) for downstream corpus verification;
    `&amp;` decodes LAST so `&amp;lt;` can't double-decode.
    """
    t = F.col(text_col)
    for tag in ("script", "style"):
        t = F.regexp_replace(t, rf"(?is)<{tag}[^>]*>.*?</{tag}\s*>", " ")
    t = F.regexp_replace(t, r"(?s)<[^>]+>", " ")
    for ent, ch in [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")]:
        t = F.replace(t, F.lit(ent), F.lit(ch))
    t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return df.withColumn(out_col, t)


# --------------------------------------------------------------------------
# repetition signals (Gopher-style) + composite quality filter
# --------------------------------------------------------------------------

def repetition_signals(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Gopher-style repetition metrics per document: top-word fraction,
    top-2-gram fraction, and the distinct-word (type/token) ratio.

    Distributed shape: explode words / 2-grams -> per-(doc, gram)
    counts -> per-doc aggregates joined back. The groupBy keys are
    (doc, gram), so partial aggregation folds counts map-side and no
    single task ever materializes a whole document's gram multiset in
    driver memory — at 100 TB this is two shuffles keyed by doc_id.
    """
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = df.select(id_col, words.alias("__ws"))

    c1 = (base.select(id_col, F.explode("__ws").alias("g"))
          .groupBy(id_col, "g").count())
    s1 = c1.groupBy(id_col).agg(
        F.sum("count").alias("n_words"),
        F.max("count").alias("top_word_n"),
        F.count("*").alias("distinct_words"))

    grams2 = F.zip_with(
        F.expr("slice(__ws, 1, greatest(size(__ws) - 1, 0))"),
        F.expr("slice(__ws, 2, greatest(size(__ws) - 1, 0))"),
        lambda a, b: F.concat_ws(" ", a, b))
    c2 = (base.select(id_col, F.explode(grams2).alias("g"))
          .groupBy(id_col, "g").count())
    s2 = c2.groupBy(id_col).agg(
        F.sum("count").alias("n_2grams"),
        F.max("count").alias("top_2gram_n"))

    out = s1.join(s2, id_col, "left")
    return out.select(
        id_col,
        F.col("n_words").cast("bigint").alias("n_words"),
        F.col("distinct_words").cast("bigint").alias("distinct_words"),
        F.round(F.col("distinct_words") / F.col("n_words"), 4)
        .alias("type_token_ratio"),
        F.round(F.col("top_word_n") / F.col("n_words"), 4)
        .alias("top_word_frac"),
        F.round(F.coalesce(F.col("top_2gram_n") / F.col("n_2grams"),
                           F.lit(0.0)), 4).alias("top_2gram_frac"),
    )


def quality_filter(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", min_words: int = 10,
                   min_mean_word_len: float = 3.0,
                   max_mean_word_len: float = 12.0,
                   max_punct_ratio: float = 0.3,
                   min_stop_hits: int = 1) -> DataFrame:
    """C4/Gopher-style composite keep/drop filter. Emits every doc with
    its signals, a boolean per rule, and `keep` — callers filter on
    `keep` for the pipeline, or inspect rule columns for audits. Pure
    Catalyst (no UDFs), so the rules fuse into one codegen'd stage."""
    sig = quality_signals(df, text_col)
    rules = {
        "r_min_words": F.col("q_n_words") >= min_words,
        "r_word_len": F.col("q_mean_word_len").between(
            min_mean_word_len, max_mean_word_len),
        "r_punct": F.col("q_punct_ratio") <= max_punct_ratio,
        "r_stopwords": F.col("q_stopword_hits") >= min_stop_hits,
    }
    out = sig.withColumns(rules)
    keep = None
    for name in rules:
        keep = F.col(name) if keep is None else keep & F.col(name)
    return out.withColumn("keep", keep)


# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------

# Patterns chosen to be valid (and equivalent) in Java regex AND RE2 —
# no lookaround, no backreferences — so the same rules replay in
# DuckDB/Go/Rust scrubbers verifying a corpus downstream.
PII_PATTERNS: list[tuple[str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("phone", r"\+?\d{3}[- ]\d{3}[- ]\d{4}"),
]


def pii_redact(df: DataFrame, text_col: str = "text",
               out_col: str = "redacted",
               patterns: list[tuple[str, str]] | None = None,
               with_counts: bool = True) -> DataFrame:
    """Scrub PII-shaped spans, replacing each with a `<TYPE>` tag, and
    (optionally) count matches per type before redaction.

    Pure Catalyst regexp_replace/regexp_extract_all chain — one
    codegen'd projection, no shuffle, no UDF: the 100 TB shape is
    "runs at scan speed". Rules apply in list order (ipv4 before
    phone, so dotted quads don't half-match as phone numbers).
    """
    rules = patterns or PII_PATTERNS
    cols = {}
    if with_counts:
        for name, pat in rules:
            cols[f"n_{name}"] = F.size(
                F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0)))
    out = F.col(text_col)
    for name, pat in rules:
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    cols[out_col] = out
    return df.withColumns(cols)


# --------------------------------------------------------------------------
# corpus-statistics scoring: unigram-LM perplexity + tf-idf keywords
# --------------------------------------------------------------------------

def unigram_logprob(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", alpha: float = 0.5) -> DataFrame:
    """Per-doc mean token log-probability under the corpus's OWN
    smoothed unigram LM — the cheap core of a CCNet-style LM quality
    filter: docs whose tokens are improbable under the corpus
    distribution (gibberish, boilerplate noise, wrong language) score
    low and can be dropped by threshold.

    -> (id, n_tokens, avg_logprob) with
    p(w) = (count(w) + alpha) / (total + alpha * vocab).

    100 TB design: two aggregations over the exploded token stream —
    one tiny (vocab-sized) count table and one per-doc fold — both
    map-side combined; the count table joins back on the token (the
    shuffle the per-doc fold needs anyway). No driver materialization:
    total/vocab ride a broadcast single-row frame.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
        .alias("tok"))
    counts = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    stats = counts.agg(
        F.sum("cnt").alias("total"), F.count("*").alias("vocab"))
    scored = (toks.join(counts, "tok")
              .join(F.broadcast(stats))
              .withColumn("lp", F.log(
                  (F.col("cnt") + F.lit(alpha))
                  / (F.col("total") + F.lit(alpha) * F.col("vocab")))))
    return (scored.groupBy(id_col)
            .agg(F.count("*").alias("n_tokens"),
                 F.round(F.avg("lp"), 6).alias("avg_logprob")))


def tfidf_keywords(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", k: int = 3) -> DataFrame:
    """Top-k characteristic terms per doc by tf-idf — the standard
    keyword/topic fingerprint for corpus exploration and near-dup
    triage. -> (id, keywords array<string>) with ties broken
    alphabetically for determinism.

    idf = ln((N + 1) / (df + 1)); tf = in-doc count. One token
    explode, one (doc, tok) count, one doc-frequency count joined
    back on the token, one per-doc top-k via sort_array over
    collected (score, tok) structs — every aggregation map-side
    combined, nothing driver-side.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
        .alias("tok"))
    tf = toks.groupBy(id_col, "tok").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n_docs = df.select(F.count("*").alias("n")).withColumnRenamed("n", "__n")
    scored = (tf.join(dfreq, "tok").join(F.broadcast(n_docs))
              .withColumn("score",
                          F.col("tf") * F.log((F.col("__n") + 1)
                                              / (F.col("df") + 1))))
    ranked = scored.withColumn(
        "r", F.row_number().over(
            Window.partitionBy(id_col).orderBy(
                F.col("score").desc(), F.col("tok").asc())))
    return (ranked.filter(F.col("r") <= k)
            .groupBy(id_col)
            .agg(F.array_sort(F.collect_list(
                F.struct("r", "tok"))).alias("__s"))
            .select(id_col,
                    F.expr("transform(__s, x -> x.tok)").alias("keywords")))


def doc_chunks(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", size: int = 32,
               stride: int = 24) -> DataFrame:
    """Split documents into overlapping word-window chunks for RAG
    indexing / context packing -> (id, chunk_id, chunk_text,
    n_tokens). Chunk i covers words [i*stride, i*stride + size);
    starts run 0, stride, 2*stride, ... while start < len(words), so
    every word lands in at least one chunk and consecutive chunks
    overlap by size - stride words.

    Zero UDF: one sequence() of starts, one posexplode, one slice +
    array_join per chunk — a single scan with no shuffle at all
    (chunking is embarrassingly row-parallel; at 100 TB this runs at
    I/O speed and the output can be written partition-preserving).
    """
    w = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(w) - 1, F.lit(0)), F.lit(stride))
    return (
        df.select(F.col(id_col), w.alias("__w"), starts.alias("__s"))
        .select(id_col, "__w",
                F.posexplode("__s").alias("chunk_id", "__start"))
        .select(
            id_col, "chunk_id",
            F.array_join(
                F.slice("__w", F.col("__start") + 1, size), " "
            ).alias("chunk_text"),
            F.least(
                F.lit(size), F.size("__w") - F.col("__start")
            ).alias("n_tokens"),
        )
    )


def _cms_pos(token, d: int, width_hex: int = 3):
    """Row-d count-min bucket for a token: the first `width_hex` chars
    of md5(token||'#d') — a fixed-width hex STRING key (16^width_hex
    buckets). String keys sidestep hex->int conversion differences
    across engines, so the sketch replays bit-identically in DuckDB."""
    return F.substring(F.md5(F.concat(token, F.lit(f"#{d}"))), 1, width_hex)


def cms_build(df: DataFrame, text_col: str = "text", depth: int = 4,
              width_hex: int = 3, lowercase: bool = True) -> DataFrame:
    """Count-min sketch of corpus token frequencies -> (d, pos, cnt).

    depth x 16^width_hex counters (4 x 4096 default). ONE corpus scan:
    each token emits its depth (d, pos) pairs from a single explode,
    and the map-side-combined groupBy((d, pos)) means the shuffle
    carries at most depth * 16^width_hex * n_partitions partial rows
    no matter the corpus size; the finished sketch (<= 16k rows)
    broadcasts anywhere. Mergeable across corpora by summing cnt on
    (d, pos)."""
    toks = F.split(F.trim(F.lower(F.col(text_col)) if lowercase
                          else F.col(text_col)), r"\s+")
    tokens = (df.select(F.explode(toks).alias("token"))
              .filter(F.col("token") != ""))
    dp = F.explode(F.array(*[
        F.struct(F.lit(d).alias("d"),
                 _cms_pos(F.col("token"), d, width_hex).alias("pos"))
        for d in range(depth)])).alias("dp")
    return (tokens.select(dp)
            .groupBy(F.col("dp.d").alias("d"), F.col("dp.pos").alias("pos"))
            .agg(F.count(F.lit(1)).alias("cnt")))


def cms_estimate(cms: DataFrame, probes: DataFrame,
                 token_col: str = "token", depth: int | None = None,
                 width_hex: int | None = None) -> DataFrame:
    """Point-query the sketch for each probe token -> (token, est).

    est = min over rows d of the counter at that row's bucket — the
    classic CMS guarantee: est >= true count always, and the over-
    estimate is bounded by collisions in the narrowest row. The probe
    side joins the (tiny, auto-broadcast) sketch by (d, pos); missing
    buckets count 0.

    depth/width_hex default to the SKETCH'S OWN geometry (one bounded
    scan of the <= depth·16^width-row sketch) — probing with mismatched
    parameters would miss every bucket and return est=0 for every
    token, silently inverting the never-underestimate guarantee; pass
    them explicitly only to skip that metadata action when the caller
    already knows the build parameters."""
    if depth is None or width_hex is None:
        geo = cms.agg(F.max("d").alias("dmax"),
                      F.max(F.length("pos")).alias("w")).collect()[0]
        if geo["dmax"] is None:
            raise ValueError("cms_estimate: empty sketch")
        depth = depth if depth is not None else geo["dmax"] + 1
        width_hex = width_hex if width_hex is not None else geo["w"]
    keyed = probes.select(token_col)
    for d in range(depth):
        keyed = keyed.withColumn(f"__p{d}",
                                 _cms_pos(F.col(token_col), d, width_hex))
    long = keyed.select(
        token_col,
        F.explode(F.array(*[
            F.struct(F.lit(d).alias("d"), F.col(f"__p{d}").alias("pos"))
            for d in range(depth)])).alias("dp"))
    return (long.select(token_col, F.col("dp.d").alias("d"),
                       F.col("dp.pos").alias("pos"))
           .join(F.broadcast(cms), ["d", "pos"], "left")
           .groupBy(token_col)
           .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est")))


def heavy_hitters(df: DataFrame, text_col: str = "text",
                  min_count: int = 100, capacity: int | None = None,
                  lowercase: bool = True,
                  max_capacity: int | None = 4_194_304) -> DataFrame:
    """EXACT corpus heavy hitters -> (token, cnt) for every token with
    total frequency >= min_count, via two phases:

      1. per-partition Misra-Gries summaries (mapInPandas; vectorized
         value_counts per Arrow batch merged into a dict that is
         compressed back to `capacity` entries by subtracting the
         (capacity+1)-th count whenever it overflows — the classic
         decrement step, batched). Each partition emits <= capacity
         candidate tokens, NOT its vocabulary.
      2. exact recount of ONLY the candidates: explode corpus tokens,
         hash-semi-join the (tiny, auto-broadcast) candidate set,
         map-side-combined count, filter >= min_count.

    Guarantee: Misra-Gries with capacity c never evicts a token whose
    partition frequency exceeds N_p/(c+1); summed over partitions, any
    token with TOTAL count > N/(c+1) survives in at least one
    partition, so with capacity >= N_tokens/min_count the result is
    exactly the true heavy-hitter set (the recount then removes false
    positives). With `capacity=None` (the default) the operator SIZES
    ITSELF to that bound: one narrow sum(length(text)) aggregate gives
    N_upper = (total_chars + 1) // 2, a strict upper bound on the
    whitespace token count (k tokens need >= 2k-1 chars), and capacity
    becomes ceil(N_upper / min_count) — exactness is enforced in code,
    not left to the caller's judgement. At 100 TB a fixed absolute
    min_count would make that capacity huge, but heavy hitters at that
    scale are a support FRACTION phi anyway (min_count = phi * N), and
    then capacity = ceil(1/phi) is constant — the classic Misra-Gries
    framing. That framing is ENFORCED, not just documented: the
    per-partition dict and the broadcast candidate set are both
    capacity-sized, so an auto capacity above `max_capacity` (default
    4M entries — a few hundred MB per partition dict, the practical
    ceiling) raises with the exact
    `min_count` that would fit, instead of silently scaling the
    operator's memory with the corpus. `max_capacity=None` disables
    the bound for callers who have the memory. An explicit `capacity`
    skips the sizing scan but forfeits
    the no-false-negative guarantee when capacity < N/min_count. The
    shuffle in phase 2 carries only candidate-token rows — the full
    vocabulary (billions of long-tail tokens) never shuffles, which is
    what makes this viable where a plain groupBy(token) would spill.
    """
    from pyspark.sql.types import StringType, StructField, StructType

    toks = F.split(F.trim(F.lower(F.col(text_col)) if lowercase
                          else F.col(text_col)), r"\s+")
    tokens = (df.select(F.explode(toks).alias("token"))
              .filter(F.col("token") != ""))

    if capacity is None:
        total_chars = (df.agg(F.sum(F.length(text_col)).alias("c"))
                       .collect()[0]["c"]) or 0
        n_upper = (int(total_chars) + 1) // 2
        capacity = max(64, -(-n_upper // max(1, min_count)))
        if max_capacity is not None and capacity > max_capacity:
            need = -(-n_upper // max_capacity)
            raise ValueError(
                f"heavy_hitters: exact tracking of min_count="
                f"{min_count} over this corpus needs capacity="
                f"{capacity} (> max_capacity={max_capacity}). Use the "
                f"support-fraction framing: min_count >= {need} keeps "
                f"capacity <= {max_capacity}; or pass an explicit "
                f"capacity / max_capacity=None if memory allows.")

    cand_schema = StructType([StructField("token", StringType())])

    def mg_partition(batches):
        import pandas as pd

        counts: dict = {}
        for pdf in batches:
            vc = pdf["token"].value_counts()
            for tok, c in vc.items():
                counts[tok] = counts.get(tok, 0) + int(c)
            if len(counts) > capacity:
                # batched decrement: drop the smallest counts so that
                # <= capacity remain, subtracting the cut value from
                # the survivors (one Misra-Gries step per overflow).
                vals = sorted(counts.values(), reverse=True)
                cut = vals[capacity]
                counts = {t: c - cut for t, c in counts.items() if c > cut}
        yield pd.DataFrame({"token": list(counts.keys())})

    candidates = map_in_pandas(tokens, mg_partition, cand_schema).distinct()
    return (tokens
            .join(F.broadcast(candidates), "token", "left_semi")
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") >= min_count))


def collocations(df: DataFrame, text_col: str = "text",
                 min_count: int = 5, round_to: int = 5,
                 lowercase: bool = True) -> DataFrame:
    """Corpus collocations by pointwise mutual information ->
    (w1, w2, n_pair, pmi): adjacent word pairs that co-occur far more
    than their unigram frequencies predict — the classic phrase-mining
    signal ("new york", "machine learning") used to build tokenizer
    merge lists and phrase vocabularies.

    pmi = ln( (c_ab / N_bi) / ((c_a / N_uni) · (c_b / N_uni)) ), with
    the bigram set built by the same shifted-slice arrays_zip trick as
    ngram_stats (zero UDF). Scale: unigram and bigram counts are both
    map-side-combined vocabulary-sized shuffles off ONE tokenize pass;
    the marginals join back on the (already capped by min_count)
    bigram table, and the two scalar totals ride 1-row broadcasts."""
    toks = F.split(F.trim(F.lower(F.col(text_col)) if lowercase
                          else F.col(text_col)), r"\s+")
    words = df.select(F.filter(toks, lambda t: t != "").alias("w"))
    uni = (words.select(F.explode("w").alias("t"))
           .groupBy("t").agg(F.count(F.lit(1)).alias("c")))
    n_uni = uni.agg(F.sum("c").alias("n_uni"))
    wc = F.col("w")
    length = F.greatest(F.size(wc) - 1, F.lit(0))
    zipped = F.arrays_zip(F.slice(wc, 1, length), F.slice(wc, 2, length))
    bi = (words.filter(F.size(wc) >= 2)
          .select(F.explode(zipped).alias("bg"))
          .select(F.col("bg.0").alias("w1"), F.col("bg.1").alias("w2"))
          .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair")))
    n_bi = bi.agg(F.sum("n_pair").alias("n_bi"))
    c1 = uni.select(F.col("t").alias("w1"), F.col("c").alias("c1"))
    c2 = uni.select(F.col("t").alias("w2"), F.col("c").alias("c2"))
    pmi = F.log((F.col("n_pair") / F.col("n_bi"))
                / ((F.col("c1") / F.col("n_uni"))
                   * (F.col("c2") / F.col("n_uni"))))
    return (bi.filter(F.col("n_pair") >= min_count)
            .join(c1, "w1").join(c2, "w2")
            .join(F.broadcast(n_uni)).join(F.broadcast(n_bi))
            .select("w1", "w2", "n_pair",
                    F.round(pmi, round_to).alias("pmi")))


def domain_kl_drift(df: DataFrame, domain_col: str = "source",
                    text_col: str = "text",
                    round_to: int = 5) -> DataFrame:
    """Per-domain token-distribution drift: KL(P_domain || P_corpus)
    -> (domain, n_tokens, kl) — the data-mixing diagnostic that tells
    you which source's language diverges from the blend (candidates
    for re-weighting or inspection before training).

    KL = Σ_t p_t·ln(p_t/q_t) over the domain's tokens, where p is the
    domain distribution and q the whole-corpus distribution. Every
    domain token also appears in the corpus by construction, so q_t>0
    and the sum is finite.

    Scale shape: ONE tokenize pass feeds both distributions; the wide
    work is a map-side-combined count on (domain, token) — vocabulary-
    not corpus-sized. The corpus marginal re-aggregates from those
    partials (never re-scans text) and joins back on token — left to
    AQE, since the vocabulary can itself be huge at 100 TB (broadcast
    when small, shuffle when not). Only the per-domain totals (a
    |domains|-row table) are forced broadcast. No row of raw text
    ever rides a shuffle."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    dt = (df.select(F.col(domain_col).alias("domain"),
                    F.explode(toks).alias("token"))
          .filter(F.col("token") != "")
          .groupBy("domain", "token")
          .agg(F.count(F.lit(1)).alias("c_dt")))
    corpus = dt.groupBy("token").agg(F.sum("c_dt").alias("c_t"))
    tot_corpus = corpus.agg(F.sum("c_t").alias("n_corpus"))
    per_dom = dt.groupBy("domain").agg(F.sum("c_dt").alias("n_d"))
    p = F.col("c_dt") / F.col("n_d")
    q = F.col("c_t") / F.col("n_corpus")
    return (dt.join(corpus, "token")
            .join(F.broadcast(per_dom), "domain")
            .join(F.broadcast(tot_corpus))
            .groupBy("domain")
            .agg(F.max("n_d").alias("n_tokens"),
                 F.round(F.sum(p * F.log(p / q)), round_to).alias("kl"))
            .select("domain", "n_tokens", "kl"))


# --------------------------------------------------------------------------
# BPE tokenizer training (distributed merge learning)
# --------------------------------------------------------------------------

def _bpe_word_vocab(df: DataFrame, text_col: str,
                    lowercase: bool) -> DataFrame:
    """(symbols array<string>, freq) per DISTINCT word — every BPE
    round operates on this vocabulary table, never the corpus. Words
    start as character sequences with a `</w>` end-of-word marker
    (the Sennrich et al. 2016 convention, so merges can't cross word
    boundaries and final tokens know word ends)."""
    toks = F.split(F.trim(F.lower(F.col(text_col)) if lowercase
                          else F.col(text_col)), r"\s+")
    words = (df.select(F.explode(toks).alias("word"))
             .filter(F.col("word") != "")
             .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))
    symbols = F.concat(F.split(F.col("word"), ""),
                       F.array(F.lit("</w>")))
    return words.select(symbols.alias("syms"), "freq")


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """(a, b, cnt) adjacent-symbol pair frequencies, weighted by word
    frequency — the shifted-slice arrays_zip sliding window (zero
    UDF), then ONE vocabulary-sized map-side-combined shuffle."""
    s = F.col("syms")
    n = F.size(s)
    m = F.greatest(n - 1, F.lit(0))
    zipped = F.arrays_zip(F.slice(s, 1, m).alias("a"),
                          F.slice(s, 2, m).alias("b"))
    return (vocab.filter(n >= 2)
            .select(F.explode(zipped).alias("p"), "freq")
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt")))


def bpe_pair_counts(df: DataFrame, text_col: str = "text",
                    lowercase: bool = True) -> DataFrame:
    """Adjacent-symbol pair frequencies over the initial character
    vocabulary -> (a, b, cnt): the counting core of byte-pair-encoding
    tokenizer training (Sennrich, Haddow & Birch, ACL 2016), exposed
    as its own operator because this ONE aggregation is what every BPE
    round repeats.

    Scale: the corpus collapses to its word vocabulary first (one
    corpus-sized map-side-combined shuffle of words); pair expansion,
    weighting, and counting then run on |vocab| rows — at 100 TB the
    vocabulary is millions of rows where the corpus is trillions of
    tokens, which is why BPE training is feasible at all. Everything
    is deterministic (no sampling), so DuckDB replays it exactly."""
    return _pair_counts(_bpe_word_vocab(df, text_col, lowercase))


def bpe_learn(df: DataFrame, text_col: str = "text", n_merges: int = 10,
              lowercase: bool = True) -> DataFrame:
    """Learn the first `n_merges` BPE merges -> (merge_rank, left,
    right, freq), the merge table a tokenizer ships. Classic greedy
    loop: count adjacent pairs (weighted by word freq), merge the most
    frequent pair everywhere, repeat. Ties break deterministically
    (freq desc, then left asc, right asc) so the table is identical in
    any engine/partitioning — validated against a pure-Python
    reference implementation in tests.

    Scale: every round is ONE vocabulary-sized aggregation + a 1-row
    argmax collect + a vocabulary-sized merge projection (an aggregate
    fold over each word's symbol array — interpreted, but over |vocab|
    rows, not the corpus). The vocab table persists (compressed
    columnar) and is replaced each round; n_merges bounds the loop, so
    driver work is n_merges tiny collects. The corpus is read ONCE."""
    vocab = scoped_persist(_bpe_word_vocab(df, text_col, lowercase))
    merges = []
    for rank in range(n_merges):
        top = (_pair_counts(vocab)
               .orderBy(F.col("cnt").desc(), F.col("a").asc(),
                        F.col("b").asc())
               .limit(1).collect())
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], top[0]["cnt"]
        merges.append((rank, a, b, int(cnt)))
        la, lb = F.lit(a), F.lit(b)
        # fold each symbol array left-to-right, joining adjacent (a,b)
        # into ab; greedy leftmost-first exactly like the reference
        # implementation (so "aaa" with merge (a,a) -> ["aa","a"])
        merged = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == la) & (x == lb),
                F.concat(F.slice(acc, 1, F.size(acc) - 1),
                         F.array(F.concat(la, lb)))
            ).otherwise(F.concat(acc, F.array(x))))
        new_vocab = scoped_persist(
            vocab.select(merged.alias("syms"), "freq"))
        # materialize the new cache BEFORE dropping the old one: the
        # new vocab's plan reads the old cache, and unpersisting first
        # would make every later round recompute the whole merge chain
        # from the corpus (O(rounds) recompute per round)
        new_vocab.count()
        vocab.unpersist()
        vocab = new_vocab
    vocab.unpersist()
    spark = df.sparkSession
    return spark.createDataFrame(
        merges, "merge_rank int, left string, right string, freq long")


# self-delimited symbol encoding for BPE merge application: every
# symbol is wrapped chr(31)+sym+chr(30), so ONE literal replace() of
# "<31>a<30><31>b<30>" -> "<31>ab<30>" is exactly the exhaustive
# leftmost-first application of merge (a,b) to the symbol sequence
# (matches cannot cross symbol boundaries, and consecutive matches
# share no characters, so non-overlapping left-to-right replace ==
# the greedy fold bpe_learn trains with)
_BPE_L = "\x1f"
_BPE_R = "\x1e"


def _bpe_merge_list(merges) -> list[tuple[str, str]]:
    """Normalize a merge table to an ordered [(left, right)] list.
    Accepts the (merge_rank, left, right, ...) frame bpe_learn returns
    or a plain Python list. The collect is bounded by the merge-table
    size — a tokenizer artifact (tens of thousands of rows at most),
    never data-sized."""
    if isinstance(merges, DataFrame):
        return [(r["left"], r["right"])
                for r in merges.orderBy("merge_rank").collect()]
    return [(a, b) for a, b in merges]


def bpe_encode(df: DataFrame, merges, text_col: str = "text",
               lowercase: bool = True,
               materialize_every: int = 64) -> DataFrame:
    """Apply a learned BPE merge table to the corpus -> the WORD-level
    tokenization dictionary (word, freq, tokens array<string>,
    n_tokens) — the half of a tokenizer a training pipeline actually
    runs at scale (bpe_learn builds the table; this spends it), and
    the natural producer for pack_docs' token budgets.

    Semantics: merges apply in rank order, each exhaustively
    leftmost-first within the word — the SAME fold bpe_learn trains
    with, so encoding the training corpus with the learned table
    reproduces the trainer's final vocabulary state exactly
    (property-tested). Words are split on whitespace with the `</w>`
    end-of-word marker (Sennrich et al., ACL 2016).

    100 TB design: the corpus collapses to its distinct-word
    vocabulary FIRST (one map-side-combined shuffle — the same reason
    bpe_learn is feasible), and every merge is a LITERAL string
    replace on a self-delimited symbol encoding (see _BPE_L/_BPE_R) —
    pure codegen, zero UDF, zero Python in the per-word path. The
    merge chain is broken into `materialize_every`-sized chunks with
    a localCheckpoint barrier between chunks: ProjectCollapse would
    otherwise fuse thousands of nested replace() calls into one
    codegen unit (compile blowup); the barrier frame is VOCAB-sized,
    the one shape where checkpoint's deserialized rows are harmless.
    Words containing the two delimiter control bytes (chr 30/31) are
    dropped deterministically (never real text; documented so the
    DuckDB oracle mirrors the filter)."""
    pairs = _bpe_merge_list(merges)
    toks = F.split(F.trim(F.lower(F.col(text_col)) if lowercase
                          else F.col(text_col)), r"\s+")
    words = (df.select(F.explode(toks).alias("word"))
             .filter((F.col("word") != "")
                     & ~F.col("word").rlike("[\x1e\x1f]"))
             .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))
    enc = F.concat(
        F.lit(_BPE_L),
        F.array_join(F.split(F.col("word"), ""), _BPE_R + _BPE_L),
        F.lit(_BPE_R + _BPE_L + "</w>" + _BPE_R))
    cur = words.select("word", "freq", enc.alias("__e"))
    for i in range(0, len(pairs), materialize_every):
        col = F.col("__e")
        for a, b in pairs[i:i + materialize_every]:
            col = F.replace(
                col,
                F.lit(_BPE_L + a + _BPE_R + _BPE_L + b + _BPE_R),
                F.lit(_BPE_L + a + b + _BPE_R))
        cur = cur.select("word", "freq", col.alias("__e"))
        if i + materialize_every < len(pairs):
            cur = cur.localCheckpoint()
    tokens = F.transform(
        F.filter(F.split(F.col("__e"), _BPE_R),
                 lambda x: x != F.lit("")),
        lambda x: F.substr(x, F.lit(2)))
    return cur.select("word", "freq", tokens.alias("tokens"),
                      F.size(tokens).alias("n_tokens"))


def bpe_token_counts(df: DataFrame, merges, text_col: str = "text",
                     lowercase: bool = True) -> DataFrame:
    """Corpus-wide BPE token frequencies -> (token, cnt): the word
    dictionary from `bpe_encode` exploded to its tokens, weighted by
    word frequency. |vocab|-sized input, |tokens|-sized output — the
    readout for vocabulary coverage / compression-rate tuning."""
    dic = bpe_encode(df, merges, text_col, lowercase)
    return (dic.select(F.explode("tokens").alias("token"), "freq")
            .groupBy("token").agg(F.sum("freq").alias("cnt")))


def bpe_encode_docs(df: DataFrame, merges, id_col: str = "doc_id",
                    text_col: str = "text",
                    lowercase: bool = True) -> DataFrame:
    """Per-document BPE token counts -> (id, n_words, n_tokens): the
    corpus's docs joined to the word-level dictionary — what a packing
    / budget step (pack_docs) consumes.

    Scale: the doc->word explode shuffles on the word key to meet the
    vocab-sized dictionary (AQE broadcasts the dictionary when it is
    small); per-doc rollup is the second, map-side-combined shuffle.
    Docs with no words carry no tokens and are excluded (same
    semantics as the inner join that defines them)."""
    dic = bpe_encode(df, merges, text_col, lowercase) \
        .select("word", "n_tokens")
    toks = F.split(F.trim(F.lower(F.col(text_col)) if lowercase
                          else F.col(text_col)), r"\s+")
    words = (df.select(F.col(id_col), F.explode(toks).alias("word"))
             .filter((F.col("word") != "")
                     & ~F.col("word").rlike("[\x1e\x1f]")))
    return (words.join(dic, "word")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum("n_tokens").alias("n_tokens")))


def bigram_logprob(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   alpha: float = 0.5) -> DataFrame:
    """Per-doc mean BIGRAM log-probability under the corpus's own
    add-alpha-smoothed bigram LM -> (id, n_bigrams, avg_logprob):
    the next step up from `unigram_logprob` for CCNet-style quality
    filtering — token-salad documents (right words, wrong order) score
    like fluent text under a unigram model but collapse under
    p(b | a) = (count(a,b) + alpha) / (count(a·) + alpha * vocab),
    where count(a·) is a's count as a bigram HEAD and vocab is the
    unigram vocabulary size (the conditional's support).

    100 TB design: the doc bigram stream is built with the same
    shifted-slice arrays_zip trick as ngram_stats (zero UDF, one
    tokenize pass); the (a, b) count table is vocabulary²-bounded but
    Zipf-small in practice, and it joins back on the bigram key — the
    same shuffle the per-doc fold needs anyway. Head counts derive
    from the bigram table (tiny), not a second corpus pass; scalar
    vocab rides a 1-row broadcast. Docs with < 2 tokens carry no
    bigrams and are excluded (score undefined)."""
    w = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    m = F.greatest(F.size(w) - 1, F.lit(0))
    zipped = F.arrays_zip(F.slice(w, 1, m).alias("a"),
                          F.slice(w, 2, m).alias("b"))
    bi = (df.filter(F.size(w) >= 2)
          .select(F.col(id_col), F.explode(zipped).alias("p"))
          .select(F.col(id_col), F.col("p.a").alias("a"),
                  F.col("p.b").alias("b")))
    counts = bi.groupBy("a", "b").agg(F.count("*").alias("c_ab"))
    heads = counts.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    vocab = (df.select(F.explode(w).alias("t")).filter(F.col("t") != "")
             .agg(F.count_distinct("t").alias("V")))
    scored = (bi.join(counts, ["a", "b"])
              .join(heads, "a")
              .join(F.broadcast(vocab))
              .withColumn("lp", F.log(
                  (F.col("c_ab") + F.lit(alpha))
                  / (F.col("c_a") + F.lit(alpha) * F.col("V")))))
    return (scored.groupBy(id_col)
            .agg(F.count("*").alias("n_bigrams"),
                 F.round(F.avg("lp"), 6).alias("avg_logprob")))


def source_novelty(df: DataFrame, source_col: str = "source",
                   id_col: str = "doc_id", text_col: str = "text",
                   round_to: int = 4) -> DataFrame:
    """Per-source content originality -> (source, n_docs, n_novel,
    novelty_rate): a document is NOVEL if it is the first occurrence
    of its content corpus-wide (min id over its md5(text) group).
    Sources that mostly republish others' content (mirrors,
    aggregators, scrapes) score low — the source-level triage signal
    for crawl prioritization and mixture weighting, and the natural
    readout AFTER exact dedup says "who should I keep".

    Scale: one 16-byte digest shuffle (the exact-dedup aggregation),
    first-owner ids join back on the digest — the same key, so the
    join reuses the partitioning; per-source rollup is |sources|
    rows."""
    digest = F.md5(F.col(text_col)).alias("__dg")
    docs = df.select(F.col(source_col), F.col(id_col), digest)
    firsts = docs.groupBy("__dg").agg(F.min(id_col).alias("__first"))
    return (docs.join(firsts, "__dg")
            .withColumn("__novel",
                        (F.col(id_col) == F.col("__first")).cast("long"))
            .groupBy(source_col)
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("__novel").alias("n_novel"),
                 F.round(F.try_divide(F.sum("__novel"),
                                      F.count(F.lit(1))), round_to)
                 .alias("novelty_rate")))


def zipf_fit(df: DataFrame, text_col: str = "text",
             max_terms: int = 1000, round_to: int = 6) -> DataFrame:
    """Zipf's-law fit over the frequency head -> one row (n_terms,
    slope, intercept, r2): OLS of ln(freq) on ln(rank) for the top
    `max_terms` tokens — natural language sits near slope −1, and a
    corpus that doesn't (template spam ~ flat head; key-value dumps ~
    cliff) fails the fit loudly. The companion diagnostic to
    domain_kl_drift for corpus-mix QA.

    Scale: one map-side-combined token count, then the head is taken
    with orderBy(count desc, token).limit — Spark plans a DISTRIBUTED
    TakeOrdered, so no vocabulary-sized single-partition sort exists;
    ranking and the five OLS sums run on the max_terms-row head
    only. Ties rank deterministically (count desc, token asc)."""
    toks = df.select(
        F.explode(F.split(F.trim(F.lower(F.col(text_col))),
                          r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    tf = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    head = tf.orderBy(F.col("cnt").desc(), F.col("token")) \
             .limit(max_terms)
    w = Window.orderBy(F.col("cnt").desc(), F.col("token"))
    ranked = head.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"))
    s = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"))
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    # Degenerate heads (single token -> varx=0; all head counts equal
    # -> vary=0) must yield NULL, not DIVIDE_BY_ZERO under ANSI mode
    # (the Spark 4 default) — same guard discipline as grouped_ols.
    slope = F.when(varx > 0, cov / varx)
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, round_to).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx"))
                / F.col("n"), round_to).alias("intercept"),
        F.round(F.when((varx > 0) & (vary > 0),
                       cov * cov / (varx * vary)),
                round_to).alias("r2"))


def vocab_growth(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 buckets: int = 10) -> DataFrame:
    """Heaps'-law vocabulary growth curve -> (bucket, docs_cum,
    tokens_cum, vocab_cum): the corpus in `buckets` id-ordered slices
    with the cumulative doc count, token count, and DISTINCT-token
    count at each slice boundary — the "are new documents still
    bringing new vocabulary?" saturation read (V ~ K·nᵝ, β≈0.5 for
    natural text; a flattening curve means the crawl is re-fetching
    what it already has).

    Scale: bucket edges are exact percentiles of `id_col` (one
    aggregate — the equidepth_histogram discipline; NO doc-count
    window, so nothing single-partitions over the corpus). Each
    token's first-appearance bucket = bucket(min doc id) from the
    one token shuffle; the cumulative sums run on the `buckets`-row
    result."""
    edges = df.agg(F.percentile(
        F.col(id_col).cast("double"),
        F.array(*[F.lit(i / buckets) for i in range(1, buckets + 1)])
    ).alias("__e"))
    bucket_of = lambda c: F.aggregate(  # noqa: E731
        F.col("__e"),
        F.lit(0).cast("int"),
        lambda acc, e: acc + (c.cast("double") > e).cast("int"))
    b = df.join(F.broadcast(edges))
    per_doc = b.select(
        F.least(bucket_of(F.col(id_col)),
                F.lit(buckets - 1)).alias("bucket"),
        F.size(F.filter(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
            lambda x: x != "")).alias("__nt"))
    doc_tok = per_doc.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("__docs"),
        F.sum("__nt").alias("__toks"))
    first = (b.select(
        F.least(bucket_of(F.col(id_col)),
                F.lit(buckets - 1)).alias("__b"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))),
                          r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token").agg(F.min("__b").alias("bucket"))
        .groupBy("bucket").agg(F.count(F.lit(1)).alias("__new")))
    w = (Window.orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (doc_tok.join(first, "bucket", "left")
            .select("bucket",
                    F.sum("__docs").over(w).alias("docs_cum"),
                    F.sum("__toks").over(w).alias("tokens_cum"),
                    F.sum(F.coalesce("__new", F.lit(0)))
                    .over(w).alias("vocab_cum")))


def mg_compress(counts: DataFrame, capacity: int,
                token_col: str = "token",
                cnt_col: str = "cnt") -> DataFrame:
    """The Misra-Gries decrement over a (token, cnt) counter table:
    if more than `capacity` counters exist, subtract the
    (capacity+1)-th LARGEST count from every counter and drop the
    non-positives — at most `capacity` rows survive (anything tied
    at the threshold zeroes out). Pure value arithmetic: the
    threshold is the (capacity+1)-th order statistic of the count
    MULTISET, so ties at the cut are deterministic across engines.

    This is the compress step of MERGEABLE MG summaries (Agarwal et
    al. 2012, "Mergeable summaries"): add counters key-wise, then
    compress — each surviving cnt is a LOWER bound on the true count
    and the cumulative undercount across any merge tree is bounded
    by N_total/(capacity+1). The threshold scan is
    capacity-sized (orderBy/limit over the counter table, which the
    caller keeps sketch-sized), never a corpus action."""
    thr = (counts.orderBy(F.col(cnt_col).desc()).limit(capacity + 1)
           .agg(F.when(F.count(F.lit(1)) > capacity,
                       F.min(cnt_col)).otherwise(F.lit(0))
                .alias("__thr")))
    return (counts.join(F.broadcast(thr))
            .select(token_col,
                    (F.col(cnt_col) - F.col("__thr")).alias(cnt_col))
            .filter(F.col(cnt_col) > 0))


def mg_summary(df: DataFrame, text_col: str = "text",
               capacity: int = 4096,
               lowercase: bool = True) -> DataFrame:
    """Capacity-bounded Misra-Gries token summary -> (token, cnt),
    <= capacity rows: exact token counts compressed by one
    mg_compress step. Each cnt LOWER-bounds the true frequency with
    undercount <= N/(capacity+1), so every token with true count
    above that bar is guaranteed present (the heavy_hitters
    guarantee in summary form).

    Scale intent: this is the MICRO-BATCH / partition summary
    primitive — the counter table it builds groups the batch's full
    vocabulary, which is fine for micro-batches and modest corpora;
    for one-shot corpus-scale heavy hitters use `heavy_hitters`
    (per-partition MG + exact recount, no vocabulary shuffle). Its
    real consumer is streaming.mg_register_sink, where summaries
    ADD key-wise and re-compress — the mergeable-summaries
    discipline, same bound."""
    toks = F.split(F.trim(F.lower(F.col(text_col)) if lowercase
                          else F.col(text_col)), r"\s+")
    counts = (df.select(F.explode(toks).alias("token"))
              .filter(F.col("token") != "")
              .groupBy("token")
              .agg(F.count(F.lit(1)).alias("cnt")))
    return mg_compress(counts, capacity)


def ppl_buckets(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", k: int = 3,
                lm_alpha: float = 0.5,
                sketch_alpha: float = 0.01) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020) ->
    (id, n_tokens, avg_logprob, bucket): every document scored by
    its mean unigram log-prob under the corpus's OWN smoothed LM
    (unigram_logprob), then labeled with its corpus quantile bucket
    — bucket 0 = head (most fluent, highest logprob) ... k-1 = tail
    — the standard head/middle/tail triage that feeds per-bucket
    mixture weights or a tail drop.

    Scale: the k-1 quantile thresholds come from a DDSketch over
    the per-doc scores (ddsketch_build + ddsketch_quantiles —
    bounded additive aggregate, alpha relative error), NEVER an
    exact percentile (which buffers every score) or a global ntile
    window (which funnels the corpus through one partition). The
    thresholds are a (k-1)-row broadcast; assignment is one
    conditional count per doc — bucket = k-1 − |{t : score >= t}|,
    deterministic under threshold ties. The score table is
    scoped_persisted so the sketch pass and the assignment share
    one LM computation."""
    from seatunnel_spark.dataops._cache import scoped_persist
    from seatunnel_spark.dataops.sketches import (ddsketch_build,
                                                  ddsketch_quantiles)

    if k < 2:
        raise ValueError(f"ppl_buckets needs k >= 2, got {k}")
    scored = scoped_persist(
        unigram_logprob(df, id_col, text_col, lm_alpha))
    qs = [i / k for i in range(1, k)]
    thr = ddsketch_quantiles(
        ddsketch_build(scored, "avg_logprob", sketch_alpha),
        qs, sketch_alpha)
    bucket = (F.lit(k - 1) - F.sum(
        F.when(F.col("avg_logprob") >= F.col("est"), 1)
        .otherwise(0))).cast("int")
    return (scored.join(F.broadcast(thr.select("est")))
            .groupBy(id_col, "n_tokens", "avg_logprob")
            .agg(bucket.alias("bucket")))


def normalize_text(df: DataFrame, text_col: str = "text",
                   out_col: str = "norm_text",
                   form: str = "NFKC") -> DataFrame:
    """Unicode normalization (NFC/NFKC/NFD/NFKD) — the canonical
    pre-dedup cleanup: composed vs decomposed accents, full-width
    forms, and compatibility ligatures otherwise defeat every
    digest-based exact-dedup and shingle operator (md5('é') differs
    between NFC and NFD spellings of the same text).

    Catalyst has no normalizer expression, so this is the documented
    slow-path done right: ONE Arrow-vectorized pandas_udf batch pass
    (unicodedata.normalize over pandas string arrays), never
    per-row py4j — the LLM/Embedding transform discipline. NULLs
    pass through. Note DuckDB replays only NFC (nfc_normalize), so
    the strict oracle path pins form='NFC'; other forms are covered
    by unit tests against unicodedata itself."""
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    @vectorized_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(lambda x: None if x is None
                     else unicodedata.normalize(form, x))

    return df.withColumn(out_col, _norm(F.col(text_col)))

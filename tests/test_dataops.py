import pytest
from pyspark.sql import functions as F

from conftest import no_auto_broadcast
from seatunnel_spark.dataops import (
    brute_force_topk,
    embedding_near_dups,
    exact_dedup,
    exact_dup_groups,
    lang_id,
    lsh_bucketed_topk,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from seatunnel_spark.dataops.text import add_token_counts, fingerprint, quality_score


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "aaa"), (3, "bbb")], ["doc_id", "text"]
    )
    out = exact_dedup(df, ["text"], "doc_id")
    assert out.count() == 2
    kept = {r["text"]: r["doc_id"] for r in out.collect()}
    assert kept == {"aaa": 1, "bbb": 3}
    groups = exact_dup_groups(df, "text", "doc_id")
    assert {(r["keep_id"], r["dup_count"]) for r in groups.collect()} == {(1, 2), (3, 1)}


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words describing unrelated topics entirely here now"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )
    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_pairs(df, "doc_id", "text").collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_near_dups(spark):
    base = " ".join(f"word{i}" for i in range(40))
    near = base.replace("word7 ", "word7x ")
    far = " ".join(f"other{i}" for i in range(40))
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], ["doc_id", "text"])
    pairs = {(r["id_a"], r["id_b"]) for r in
             simhash_near_dups(df, "doc_id", "text", max_hamming=6).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


def test_ngram_jaccard(spark):
    a = "one two three four five six seven"
    b = "one two three four five six eight"
    c = "nine ten eleven twelve thirteen fourteen"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], ["doc_id", "text"])
    out = ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.3)
    rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert (1, 2) in rows and rows[(1, 2)] > 0.3
    assert (1, 3) not in rows


def test_embedding_near_dups_and_topk(embs):
    dups = embedding_near_dups(embs, "vec_id", "embedding", threshold=0.999, planes=8)
    for r in dups.limit(5).collect():
        assert r["cosine"] >= 0.999

    queries = embs.filter(F.col("vec_id") < 3)
    exact = brute_force_topk(queries, embs, "vec_id", "vec_id", k=5)
    per_q = exact.groupBy("query_id").count().collect()
    assert all(r["count"] == 5 for r in per_q)
    # self-match is rank 1 with cosine ~1
    self_rows = exact.filter("rank = 1").collect()
    assert all(abs(r["cosine"] - 1.0) < 1e-6 for r in self_rows)

    approx = lsh_bucketed_topk(queries, embs, "vec_id", "vec_id", k=5, planes=4)
    assert approx.filter("rank = 1").count() == 3  # finds self in own bucket


def test_text_ops(docs):
    out = add_token_counts(docs)
    row = out.first()
    assert row["ws_tokens"] > 0 and row["bpe_tokens"] >= row["ws_tokens"] * 0
    q = quality_score(docs)
    vals = [r["quality_score"] for r in q.limit(20).collect()]
    assert all(0.0 <= v <= 1.0 for v in vals)
    fp = fingerprint(docs)
    assert fp.select("fingerprint").first()["fingerprint"] is not None
    # normalization: case/punct-insensitive
    li = lang_id(docs)
    preds = {r["lang_pred"] for r in li.limit(50).collect()}
    assert preds <= {"en", "de", "fr", "es", "it", "und"}


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello,  World!"), (2, "hello world")], ["id", "text"]
    )
    out = fingerprint(df).select("fingerprint").collect()
    assert out[0]["fingerprint"] == out[1]["fingerprint"]


def test_multimodal_plumbing(spark):
    from seatunnel_spark.dataops.multimodal import (
        audio_metadata,
        frame_sample_plan,
        image_features,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"imagebytes-1")), (2, bytearray(b"imagebytes-2"))],
        ["id", "content"],
    )
    img = image_features(df)
    rows = img.collect()
    assert all(r["image_meta"]["width"] >= 64 for r in rows)
    assert all(len(r["image_feat"]) == 8 for r in rows)
    # determinism
    again = image_features(df).collect()
    assert [r["image_feat"] for r in rows] == [r["image_feat"] for r in again]

    au = audio_metadata(df)
    plan = frame_sample_plan(au, every_n=16000)
    n = plan.groupBy("id").count().first()["count"]
    assert n >= 1


def _toy_embeddings(spark, n=80, dim=8, clusters=4):
    """Deterministic clustered vectors: cluster centers on axes, small
    per-id jitter — same-cluster vectors have high cosine."""
    import math

    rows = []
    for i in range(n):
        c = i % clusters
        v = [0.05 * math.sin(i * (d + 1)) for d in range(dim)]
        v[c] += 1.0
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_ivf_topk_matches_brute_force_top1(spark):
    from seatunnel_spark.dataops import brute_force_topk, ivf_topk

    e = _toy_embeddings(spark)
    q = e.filter(F.col("vec_id") < 4)
    exact = brute_force_topk(q, e, "vec_id", "vec_id", k=3)
    approx = ivf_topk(q, e, "vec_id", "vec_id", k=3, nlist=4, nprobe=2, iters=2)
    ex1 = {r["query_id"]: r["match_id"] for r in exact.filter("rank = 1").collect()}
    ap1 = {r["query_id"]: r["match_id"] for r in approx.filter("rank = 1").collect()}
    # top-1 is the query itself (cosine 1.0) and must survive quantization
    assert ex1 == ap1
    assert all(ex1[k] == k for k in ex1)
    # k rows per query
    assert approx.groupBy("query_id").count().filter("count != 3").count() == 0


def test_ivf_nprobe_full_equals_exact(spark):
    from seatunnel_spark.dataops import brute_force_topk, ivf_topk

    e = _toy_embeddings(spark, n=40)
    q = e.filter(F.col("vec_id") < 3)
    exact = brute_force_topk(q, e, "vec_id", "vec_id", k=5)
    # probing every cell == brute force
    full = ivf_topk(q, e, "vec_id", "vec_id", k=5, nlist=4, nprobe=4, iters=1)
    ex = {(r["query_id"], r["rank"]): r["match_id"] for r in exact.collect()}
    fu = {(r["query_id"], r["rank"]): r["match_id"] for r in full.collect()}
    assert ex == fu


def test_embedding_near_dups_exact_vs_lsh_recall(spark):
    from seatunnel_spark.dataops import embedding_near_dups

    e = _toy_embeddings(spark)
    exact = embedding_near_dups(e, "vec_id", "embedding", threshold=0.9, planes=0)
    lsh = embedding_near_dups(e, "vec_id", "embedding", threshold=0.9, planes=2)
    exact_pairs = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    lsh_pairs = {(r["id_a"], r["id_b"]) for r in lsh.collect()}
    assert lsh_pairs <= exact_pairs          # no false positives
    assert exact_pairs                        # clustered data has near-dups
    assert len(lsh_pairs) >= len(exact_pairs) * 0.5   # blocking keeps recall


def test_salted_join_equals_plain_join(spark):
    from seatunnel_spark.dataops import salted_join

    left = spark.createDataFrame(
        [(k, i) for i in range(50) for k in ([1] * 5 + [i % 7])], ["k", "v"]
    )
    right = spark.createDataFrame([(k, f"r{k}") for k in range(7)], ["k", "name"])
    plain = left.join(right, "k").groupBy("k", "name").count()
    salted = salted_join(left, right, "k", salt=4).groupBy("k", "name").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # left join preserves unmatched skewed rows
    l2 = left.withColumn("k", F.col("k") + 100)
    lp = l2.join(right, "k", "left").count()
    ls = salted_join(l2, right, "k", salt=4, how="left").count()
    assert lp == ls


def test_image_resize_plumbing(spark):
    from seatunnel_spark.dataops.multimodal import image_resize

    df = spark.createDataFrame(
        [(1, bytearray(b"img-a")), (2, bytearray(b"img-b")), (3, None)],
        ["id", "content"],
    )
    out = image_resize(df, 32, 32).collect()
    assert all(r["resized_meta"]["width"] == 32 for r in out)
    assert all(r["content"] is not None and len(r["content"]) >= 32 for r in out)
    # deterministic re-encode
    again = image_resize(df, 32, 32).collect()
    assert [bytes(r["content"]) for r in out] == [bytes(r["content"]) for r in again]
    # different target size -> different bytes
    other = image_resize(df, 64, 64).collect()
    assert bytes(other[0]["content"]) != bytes(out[0]["content"])


def test_ivf_index_persist_and_partition_pruned_search(spark, tmp_path):
    from seatunnel_spark.dataops import brute_force_topk
    from seatunnel_spark.dataops.similarity import search_ivf_index, write_ivf_index

    e = _toy_embeddings(spark, n=80, dim=8, clusters=4)
    path = str(tmp_path / "ivf")
    write_ivf_index(e, path, nlist=4, iters=2)

    q = e.filter(F.col("vec_id") < 4)
    out = search_ivf_index(spark, path, q, k=3, nprobe=2)
    # top-1 self-match survives quantization
    top1 = {r["query_id"]: r["match_id"] for r in out.filter("rank = 1").collect()}
    assert top1 == {i: i for i in range(4)}

    # probing every cell reproduces brute force exactly
    full = search_ivf_index(spark, path, q, k=3, nprobe=4)
    exact = brute_force_topk(q, e, "vec_id", "vec_id", k=3)
    assert ({(r["query_id"], r["rank"], r["match_id"]) for r in full.collect()}
            == {(r["query_id"], r["rank"], r["match_id"]) for r in exact.collect()})

    # the scan must partition-prune on __cell (the IVF point at scale)
    plan = search_ivf_index(spark, path, q, k=3, nprobe=1) \
        ._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines()
                if "FileScan parquet" in l and "__cell" in l)
    assert "PartitionFilters: [" in scan and "__cell" in scan.split("PartitionFilters:")[1]


def test_append_ivf_index_matches_one_shot(spark, tmp_path):
    """Incremental index maintenance: building on half the corpus and
    appending the other half equals a one-shot build over the union
    under the SAME codebook — identical cells, identical search
    results — and the appended index still partition-prunes."""
    from seatunnel_spark.dataops.similarity import (append_ivf_index,
                                                    search_ivf_index,
                                                    train_ivf_centroids,
                                                    write_ivf_index)

    e = _toy_embeddings(spark, n=80, dim=8, clusters=4)
    a, b = e.filter("vec_id % 2 = 0"), e.filter("vec_id % 2 = 1")
    cb = train_ivf_centroids(e, nlist=4, iters=2)

    inc = str(tmp_path / "ivf_inc")
    write_ivf_index(a, inc, nlist=4, centroids=cb)
    append_ivf_index(b, inc)
    one = str(tmp_path / "ivf_one")
    write_ivf_index(e, one, nlist=4, centroids=cb)

    q = e.filter(F.col("vec_id") < 4)
    got = {(r["query_id"], r["rank"], r["match_id"])
           for r in search_ivf_index(spark, inc, q, k=3,
                                     nprobe=2).collect()}
    want = {(r["query_id"], r["rank"], r["match_id"])
            for r in search_ivf_index(spark, one, q, k=3,
                                      nprobe=2).collect()}
    assert got == want and len(want) == 12
    # appended files landed inside the cell directories: pruning holds
    plan = search_ivf_index(spark, inc, q, k=3, nprobe=1) \
        ._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines()
                if "FileScan parquet" in l and "__cell" in l)
    assert "PartitionFilters: [" in scan


def test_duplicate_clusters_chain_and_islands(spark):
    # Chain 1-2-3-4-5 needs several propagation rounds (diameter 4);
    # {10,11} is a separate component; 20-21-22 a triangle.
    from seatunnel_spark.dataops import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11),
         (20, 21), (21, 22), (20, 22)],
        "id_a int, id_b int",
    )
    got = {r.id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_minhash_hot_bucket_cap(spark):
    # Degenerate boilerplate corpus: 200 identical docs share every band
    # key, so an uncapped LSH self-join goes quadratic (19900 pairs in
    # one bucket). The cap drops those buckets — bounded output — while
    # genuinely near-dup (non-boilerplate) pairs still surface.
    boiler = "terms of service apply to all content on this site always"
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    rows = [(i, boiler) for i in range(200)] + [(900, base), (901, near)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = {(r["id_a"], r["id_b"]) for r in
              minhash_lsh_pairs(df, "doc_id", "text", max_bucket=50).collect()}
    assert (900, 901) in capped
    assert not any(a < 200 and b < 200 for a, b in capped)  # hot bucket dropped
    assert len(capped) <= 4  # bounded, not quadratic

    uncapped = minhash_lsh_pairs(df, "doc_id", "text", max_bucket=None)
    assert uncapped.count() == 200 * 199 // 2 + 1


def test_simhash_multiindex_blocking_is_exact(spark):
    # Multi-index pigeonhole blocking must find EXACTLY the brute-force
    # hamming<=d pair set (recall 1 by construction, precision via the
    # XOR verify). Corpus of base-text variants yields real near pairs.
    from seatunnel_spark.dataops.dedup import simhash64

    words = [f"tok{i}" for i in range(60)]
    rows = []
    for d in range(50):
        w = list(words)
        for j in range(d % 7):  # substitute a few words per doc
            w[(d * 5 + j * 11) % 60] = f"sub{d}_{j}"
        rows.append((d, " ".join(w)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    sig = {r["doc_id"]: r["simhash"] for r in simhash64(df, "doc_id", "text").collect()}
    def ham(a, b):  # two's-complement 64-bit popcount of the xor
        return bin((sig[a] ^ sig[b]) & (2**64 - 1)).count("1")

    brute = {(a, b, ham(a, b)) for a in sig for b in sig
             if a < b and ham(a, b) <= 3}
    for blocks in (4, 8):
        got = {(r["id_a"], r["id_b"], r["hamming"]) for r in
               simhash_near_dups(df, "doc_id", "text", max_hamming=3,
                                 blocks=blocks).collect()}
        assert got == brute, f"blocks={blocks}"


def test_profile_table(spark):
    from seatunnel_spark.dataops.profile import profile_table

    df = spark.createDataFrame(
        [(1, "aa", 1.0), (2, None, 3.0), (3, "bbb", None), (3, "aa", 4.0)],
        "id int, s string, x double")
    prof = {r["column"]: r for r in profile_table(df).collect()}
    assert prof["id"]["n_rows"] == 4 and prof["id"]["n_distinct"] == 3
    assert prof["s"]["n_null"] == 1 and prof["s"]["null_rate"] == 0.25
    assert prof["s"]["min_s"] == "aa" and prof["s"]["max_s"] == "bbb"
    assert prof["x"]["mean"] == round((1 + 3 + 4) / 3, 4)
    # approx mode still one pass, HLL distinct within tolerance
    ap = {r["column"]: r for r in profile_table(df, approx=True).collect()}
    assert abs(ap["id"]["n_distinct"] - 3) <= 1


def test_repetition_signals_degenerate(spark):
    """A fully repeated doc maxes the repetition fractions; a unique
    doc stays near zero."""
    from seatunnel_spark.dataops.text import repetition_signals

    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"),
         (2, "every word here is fully unique today")],
        "doc_id int, text string")
    out = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    assert out[1]["top_word_frac"] == 1.0
    assert out[1]["top_2gram_frac"] == 1.0
    assert out[1]["type_token_ratio"] == round(1 / 6, 4)
    assert out[2]["top_word_frac"] == round(1 / 7, 4)
    assert out[2]["type_token_ratio"] == 1.0


def test_quality_filter_rules(spark):
    from seatunnel_spark.dataops.text import quality_filter

    good = ("the quick brown fox jumps over the lazy dog and then "
            "it runs far away with joy")
    df = spark.createDataFrame(
        [(1, good), (2, "short text"), (3, "!!! ??? ### $$$ %%% " * 4)],
        "doc_id int, text string")
    out = {r["doc_id"]: r for r in quality_filter(df).collect()}
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False and out[2]["r_min_words"] is False
    assert out[3]["keep"] is False and out[3]["r_punct"] is False


def test_decontam_ngram_flags(spark):
    from seatunnel_spark.dataops.decontam import flag_contaminated, word_ngrams
    from pyspark.sql import functions as F

    docs = spark.createDataFrame([
        (1, "a b c d e f"),          # shares 4-gram "b c d e" with bench
        (2, "z y x w v u"),          # clean
        (3, "a b"),                  # shorter than n -> no grams, clean
        (4, "b c d e b c d e x"),    # same bench gram twice -> 1 distinct hit
    ], "doc_id int, text string")
    bench = spark.createDataFrame([(99, "q b c d e q")],
                                  "doc_id int, text string")
    out = {r["doc_id"]: r for r in
           flag_contaminated(docs, bench, n=4).collect()}
    assert out[1]["contaminated"] and out[1]["ngram_hits"] == 1
    assert not out[2]["contaminated"] and out[2]["ngram_hits"] == 0
    assert not out[3]["contaminated"]
    assert out[4]["ngram_hits"] == 1  # distinct grams, not occurrences
    # short-doc guard: no descending-sequence explosion
    grams = docs.select(word_ngrams(F.col("text"), 4).alias("g")) \
                .agg(F.sum(F.size("g"))).first()[0]
    assert grams == 3 + 3 + 0 + 6


def test_pii_redact_rules(spark):
    from seatunnel_spark.dataops.text import pii_redact

    df = spark.createDataFrame([
        (1, "mail bob.smith+x@corp.example.org now"),
        (2, "server 10.0.255.3 and backup 192.168.1.77"),
        (3, "call +555 123 4567 or 800-555-1234"),
        (4, "clean text with no pii at all"),
    ], "doc_id int, text string")
    out = {r["doc_id"]: r for r in pii_redact(df).collect()}
    assert out[1]["redacted"] == "mail <EMAIL> now" and out[1]["n_email"] == 1
    assert out[2]["redacted"] == "server <IPV4> and backup <IPV4>"
    assert out[2]["n_ipv4"] == 2
    assert out[3]["redacted"] == "call <PHONE> or <PHONE>"
    assert out[3]["n_phone"] == 2
    assert out[4]["redacted"] == out[4]["text"]
    assert out[4]["n_email"] == out[4]["n_ipv4"] == out[4]["n_phone"] == 0


def test_sampling_determinism_and_rates(spark):
    from seatunnel_spark.dataops.sampling import (
        domain_rebalance, hash_bucket, split_assign, stratified_sample)
    from pyspark.sql import functions as F

    df = spark.range(2000).withColumnRenamed("id", "doc_id").withColumn(
        "grp", (F.col("doc_id") % 4 == 0).cast("string"))
    # split: deterministic (same ids -> same split on re-run), ~90/5/5
    s1 = {r["doc_id"]: r["split"] for r in split_assign(df).collect()}
    s2 = {r["doc_id"]: r["split"] for r in split_assign(df).collect()}
    assert s1 == s2
    counts = {k: sum(1 for v in s1.values() if v == k)
              for k in ("train", "val", "test")}
    assert counts["train"] > 1700 and counts["val"] > 50 and counts["test"] > 50
    # stratified: per-stratum rates within tolerance, subset property
    kept = stratified_sample(df, "grp", {"true": 1.0, "false": 0.25})
    kt = kept.filter("grp = 'true'").count()
    kf = kept.filter("grp = 'false'").count()
    assert kt == 500                      # rate 1.0 keeps everything
    assert 290 <= kf <= 460               # ~25% of 1500
    # rebalance: every group downsampled to <= smallest group's size
    reb = domain_rebalance(df, "grp").groupBy("grp").count().collect()
    sizes = {r["grp"]: r["count"] for r in reb}
    assert sizes["false"] <= 500 and sizes["true"] <= 500
    assert min(sizes.values()) >= 350     # hash variance, not collapse
    # buckets are uniform-ish over [0, 10000)
    b = df.select(hash_bucket(F.col("doc_id")).alias("b"))
    assert b.filter("b < 0 or b >= 10000").count() == 0


def test_pack_sequences_prefix_sum(spark):
    from seatunnel_spark.dataops.packing import pack_sequences

    docs = [(i, " ".join(["w"] * (3 + i % 7))) for i in range(200)]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    out = {r["doc_id"]: r for r in
           pack_sequences(df, seq_len=10, partitions=8).collect()}
    # matches a sequential single-pass ground truth exactly
    offset = 0
    for i in range(200):
        n = 3 + i % 7
        r = out[i]
        assert (r["n_tokens"], r["offset"], r["pack_id"],
                r["pack_offset"]) == (n, offset, offset // 10, offset % 10)
        offset += n
    # docs cross pack boundaries (concat-and-chunk, not greedy-fill)
    assert any(r["pack_offset"] + r["n_tokens"] > 10 for r in out.values())


def test_semantic_dedup_drops_near_identical(spark):
    from seatunnel_spark.dataops.dedup import semantic_dedup

    base = [1.0] + [0.0] * 7
    near = [0.999] + [0.01] * 7           # cosine ~1 with base
    far = [0.0] * 7 + [1.0]               # orthogonal
    rows = [(1, base), (2, near), (3, far), (4, base)]
    df = spark.createDataFrame(rows, "id int, embedding array<double>")
    cents = [base, far]
    out = {r["id"]: r for r in
           semantic_dedup(df, "id", centroids=cents, threshold=0.95).collect()}
    assert out[1]["keep"] is True         # lowest id in its dup set
    assert out[2]["keep"] is False        # near-dup of 1
    assert out[4]["keep"] is False        # exact dup of 1
    assert out[3]["keep"] is True         # alone in its cell
    assert out[1]["cell"] == out[2]["cell"] == out[4]["cell"] != out[3]["cell"]


def test_png_codec_roundtrip_and_filters():
    import numpy as np
    import struct
    import zlib

    from seatunnel_spark.dataops import png_codec as P

    rng = np.random.default_rng(3)
    for ch in (1, 2, 3, 4):
        img = rng.integers(0, 256, size=(13, 9, ch), dtype=np.uint8)
        back = P.decode_png(P.encode_png(img))
        assert np.array_equal(back, img), f"{ch}-channel roundtrip"
    # every filter type decodes correctly: build a raw stream per filter
    # and compare against a reference unfiltered image
    img = rng.integers(0, 256, size=(4, 5, 3), dtype=np.uint8)
    flat = img.reshape(4, 15).astype(int)

    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    def build(filter_type):
        rows = []
        prev = np.zeros(15, dtype=int)
        for y in range(4):
            cur = flat[y]
            if filter_type == 1:
                enc = [(cur[i] - (cur[i - 3] if i >= 3 else 0)) % 256
                       for i in range(15)]
            elif filter_type == 2:
                enc = [(cur[i] - prev[i]) % 256 for i in range(15)]
            elif filter_type == 3:
                enc = [(cur[i] - (((cur[i - 3] if i >= 3 else 0) + prev[i]) >> 1)) % 256
                       for i in range(15)]
            elif filter_type == 4:
                enc = [(cur[i] - P._paeth(int(cur[i - 3]) if i >= 3 else 0,
                                          int(prev[i]),
                                          int(prev[i - 3]) if i >= 3 else 0)) % 256
                       for i in range(15)]
            rows.append(bytes([filter_type]) + bytes(enc))
            prev = cur
        ihdr = struct.pack(">IIBBBBB", 5, 4, 8, 2, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(b"".join(rows)))
                + chunk(b"IEND", b""))

    for ft in (1, 2, 3, 4):
        assert np.array_equal(P.decode_png(build(ft)), img), f"filter {ft}"
    # palette decode
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    idx = np.array([[0, 1], [2, 0]], dtype=np.uint8)
    raw = b"\x00" + idx[0].tobytes() + b"\x00" + idx[1].tobytes()
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    pal_png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"PLTE", plte)
               + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    out = P.decode_png(pal_png)
    assert out[0, 0].tolist() == [255, 0, 0]
    assert out[1, 0].tolist() == [0, 0, 255]


def test_image_ops_real_png_without_pil(spark):
    import numpy as np

    from seatunnel_spark.dataops import png_codec as P
    from seatunnel_spark.dataops.multimodal import image_features, image_resize

    rng = np.random.default_rng(11)
    rows = [(i, P.encode_png(
        rng.integers(0, 256, size=(20 + i, 30 + i, 3), dtype=np.uint8)))
        for i in range(4)]
    df = spark.createDataFrame(rows, "img_id int, content binary")
    feats = {r["img_id"]: r for r in
             image_features(df, codec="auto").collect()}
    for i in range(4):
        meta = feats[i]["image_meta"]
        assert (meta["width"], meta["height"], meta["format"]) == \
            (30 + i, 20 + i, "png")
        assert abs(sum(feats[i]["image_feat"]) - 1.0) < 1e-6
    resized = image_resize(df, 8, 6, codec="auto").collect()
    for r in resized:
        out = P.decode_png(bytes(r["content"]))
        assert out.shape == (6, 8, 3)
        assert r["resized_meta"]["format"] == "png"


def test_image_near_dups_real_png_and_stub(spark):
    """Perceptual dHash dedup: a re-encoded/slightly-noised copy of a
    real PNG lands within the Hamming radius of the original while an
    unrelated image stays far; and the multi-index pigeonhole join has
    EXACT recall vs brute force on the stub path."""
    import numpy as np

    from seatunnel_spark.dataops import png_codec as P
    from seatunnel_spark.dataops.multimodal import (image_near_dups,
                                                    image_phash64)

    rng = np.random.default_rng(7)
    # structured image (smooth gradient) so dHash carries signal
    y, x = np.mgrid[0:40, 0:60]
    base = ((x * 4 + y * 2) % 256).astype(np.uint8)
    img = np.stack([base, base, base], axis=2)
    near = img.copy()
    near[5:8, 5:8] = 255  # small local edit
    far = rng.integers(0, 256, size=(40, 60, 3), dtype=np.uint8)
    rows = [(1, P.encode_png(img)), (2, P.encode_png(near)),
            (3, P.encode_png(far))]
    df = spark.createDataFrame(rows, "img_id int, content binary")
    ph = {r["img_id"]: r["phash"] for r in
          image_phash64(df, codec="png").select("img_id", "phash").collect()}
    assert ph[1] == ph[2] or bin((ph[1] ^ ph[2]) & ((1 << 64) - 1)).count("1") <= 3
    assert bin((ph[1] ^ ph[3]) & ((1 << 64) - 1)).count("1") > 3
    got = {(r["id_a"], r["id_b"]) for r in
           image_near_dups(df, "img_id", codec="png").collect()}
    assert got == {(1, 2)}

    # stub path: exact recall vs a brute-force N^2 check
    sdf = spark.createDataFrame(
        [(i, f"content-{i % 4}".encode()) for i in range(12)],
        "img_id int, content binary")
    import hashlib as _hl

    def stub_ph(b):
        v = int.from_bytes(_hl.sha256(b).digest()[:8], "big")
        return v - (1 << 64) if v >= (1 << 63) else v

    hs = {i: stub_ph(f"content-{i % 4}".encode()) for i in range(12)}
    brute = {(a, b) for a in range(12) for b in range(a + 1, 12)
             if bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1") <= 3}
    got2 = {(r["id_a"], r["id_b"]) for r in
            image_near_dups(sdf, "img_id", codec="stub").collect()}
    assert got2 == brute and len(brute) >= 12  # 4 groups of 3 exact dups


def test_image_phash64_stub_native_matches_python_fold(spark):
    """codec='stub' computes the sha256 fold natively (sha2 + conv
    halves + shiftleft|or — no Python boundary); it must stay
    bit-identical to the executor-side _phash_stub fold, including
    null content, empty bytes, and hashes with the sign bit set."""
    from seatunnel_spark.dataops.multimodal import (_phash_stub,
                                                    image_phash64)

    rows = [(i, f"payload-{i}".encode() * (i % 5)) for i in range(64)]
    rows += [(64, None), (65, b""), (66, b"\x00" * 16)]
    df = spark.createDataFrame(rows, "img_id int, content binary")
    got = {r["img_id"]: r["phash"] for r in
           image_phash64(df, codec="stub").collect()}
    exp = {i: _phash_stub(c if c is not None else b"")
           for i, c in rows}
    assert got == exp
    # at least one case exercises the signed-64 reinterpretation
    assert any(v < 0 for v in exp.values())


def test_topk_recall_bounds_and_misses(spark):
    """topk_recall: exact-vs-itself is 1.0 everywhere; a query the
    approximate side missed entirely still reports (recall 0); partial
    overlap counts hits / n_true."""
    from seatunnel_spark.dataops import topk_recall

    exact = spark.createDataFrame(
        [(1, m, 0.9, r + 1) for r, m in enumerate([10, 11, 12])]
        + [(2, m, 0.8, r + 1) for r, m in enumerate([20, 21])],
        "query_id int, match_id int, cosine double, rank int")
    self_r = {r["query_id"]: r["recall"]
              for r in topk_recall(exact, exact).collect()}
    assert self_r == {1: 1.0, 2: 1.0}
    approx = spark.createDataFrame(
        [(1, 10, 0.9, 1), (1, 99, 0.5, 2)],
        "query_id int, match_id int, cosine double, rank int")
    got = {r["query_id"]: (r["n_true"], r["n_hits"], r["recall"])
           for r in topk_recall(approx, exact).collect()}
    assert got == {1: (3, 1, 0.3333), 2: (2, 0, 0.0)}


def test_audio_metadata_real_wav(spark):
    import io
    import struct
    import wave

    from seatunnel_spark.dataops.multimodal import audio_metadata

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(44100)
        w.writeframes(struct.pack("<" + "h" * 500, *([0] * 500)))
    wav = buf.getvalue()
    df = spark.createDataFrame([(1, wav), (2, b"not audio")],
                               "aid int, content binary")
    out = {r["aid"]: r["audio_meta"] for r in audio_metadata(df).collect()}
    assert (out[1]["sample_rate"], out[1]["n_samples"],
            out[1]["codec"]) == (44100, 500, "pcm_s16le")
    assert out[2]["codec"] == "fake/pcm"   # non-WAV falls back to stub


def test_video_metadata_real_mp4_boxes(spark):
    import struct

    from seatunnel_spark.dataops.multimodal import video_metadata

    def box(btype, payload):
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    # mvhd v0: timescale 1000, duration 7500 -> 7500 ms
    mvhd = box(b"mvhd", bytes(4) + bytes(8) + struct.pack(">II", 1000, 7500)
               + bytes(80))
    # tkhd v0: 16.16 fixed dims 1280x720 at offset ver+flags+20+52
    tkhd = box(b"tkhd", bytes(4) + bytes(20) + bytes(52)
               + struct.pack(">II", 1280 << 16, 720 << 16))
    mp4 = (box(b"ftyp", b"isom" + bytes(8))
           + box(b"moov", mvhd + box(b"trak", tkhd)))
    df = spark.createDataFrame([(1, mp4), (2, b"not video")],
                               "vid int, content binary")
    out = {r["vid"]: r["video_meta"] for r in video_metadata(df).collect()}
    assert (out[1]["duration_ms"], out[1]["width"], out[1]["height"],
            out[1]["container"]) == (7500, 1280, 720, "mp4")
    assert out[2]["container"] == "fake/container"


def test_unigram_logprob_ordering(spark):
    from seatunnel_spark.dataops.text import unigram_logprob

    # "common common common" tokens dominate the corpus; the rare-token
    # doc must score strictly lower
    rows = [(1, "common common common common"),
            (2, "common common common common"),
            (3, "rare tokens only here")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    assert out[1]["avg_logprob"] == out[2]["avg_logprob"]
    assert out[3]["avg_logprob"] < out[1]["avg_logprob"]
    assert out[3]["n_tokens"] == 4


def test_tfidf_keywords_pick_distinctive_terms(spark):
    from seatunnel_spark.dataops.text import tfidf_keywords

    rows = [(1, "the the the apple apple banana"),
            (2, "the the cherry cherry cherry date"),
            (3, "the elderberry fig fig")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r["keywords"] for r in
           tfidf_keywords(df, k=2).collect()}
    # 'the' appears in every doc (idf ~ ln(4/4)=0) and must never win
    assert out[1] == ["apple", "banana"]
    assert out[2] == ["cherry", "date"]
    assert out[3][0] == "fig"
    assert "the" not in out[1] + out[2] + out[3]


def test_simhash_hot_bucket_cap(spark):
    # Identical docs share the same simhash => every block key collides:
    # one degenerate bucket per combo. The cap drops those buckets while
    # a genuinely near pair (few substituted words) still surfaces.
    import hashlib

    def py_simhash(text):  # mirror of dedup.simhash64 (md5-based)
        acc = [0] * 64
        for w in set(text.split()):
            h = int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "big")
            for i in range(64):
                acc[i] += 1 if (h >> (63 - i)) & 1 else -1
        return sum(1 << i for i in range(64) if acc[63 - i] > 0)

    words = [f"tok{i}" for i in range(60)]
    base = " ".join(words)
    # pick a substitution whose simhash stays within hamming 3 of base
    near = None
    for cand in range(1000):
        w2 = list(words)
        w2[0] = f"zzz{cand}"
        t = " ".join(w2)
        if bin(py_simhash(base) ^ py_simhash(t)).count("1") <= 3:
            near = t
            break
    assert near is not None
    boiler = "terms of service apply to everything here always forever ok"
    rows = [(i, boiler) for i in range(200)] + [(900, base), (901, near)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = {(r["id_a"], r["id_b"]) for r in simhash_near_dups(
        df, "doc_id", "text", max_hamming=3, max_bucket=50).collect()}
    assert (900, 901) in capped
    assert not any(a < 200 and b < 200 for a, b in capped)
    assert len(capped) <= 4  # bounded, not quadratic

    uncapped = simhash_near_dups(
        df, "doc_id", "text", max_hamming=3, max_bucket=None)
    assert uncapped.count() >= 200 * 199 // 2  # the quadratic blowup


def test_jaccard_max_df_cap(spark):
    # A boilerplate 3-gram shared by ALL docs would make the inverted
    # index join quadratic on that token. max_df drops it; pairs that
    # are near-dups through DISTINCTIVE shingles still surface, and the
    # boilerplate-only pair set is bounded.
    boiler = "all rights reserved"  # one shared 3-gram across the corpus
    rows = [(i, f"{boiler} unique{i} alpha{i} beta{i} gamma{i}")
            for i in range(200)]
    rows += [(900, "the quick brown fox jumps over the lazy dog today"),
             (901, "the quick brown fox jumps over the lazy dog tomorrow")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = {(r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(
        df, "doc_id", "text", k=3, threshold=0.5, max_df=50).collect()}
    assert (900, 901) in capped
    assert not any(a < 200 and b < 200 for a, b in capped)

    # exact mode still computes the full (tiny-sim) candidate set
    exact = ngram_jaccard_pairs(
        df, "doc_id", "text", k=3, threshold=0.0, max_df=None)
    assert exact.count() >= 200 * 199 // 2


def test_embedding_hot_bucket_cap(spark):
    # Identical embeddings collide in one LSH bucket regardless of the
    # number of planes; the cap bounds that bucket's self-join.
    same = [1.0, 0.0, 0.0, 0.0]
    rows = [(i, same) for i in range(200)]
    rows += [(900, [0.0, 1.0, 0.05, 0.0]), (901, [0.0, 1.0, 0.06, 0.0])]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")

    capped = {(r["id_a"], r["id_b"]) for r in embedding_near_dups(
        df, "id", "embedding", threshold=0.95, planes=6,
        max_bucket=50).collect()}
    assert (900, 901) in capped
    assert not any(a < 200 and b < 200 for a, b in capped)

    uncapped = embedding_near_dups(
        df, "id", "embedding", threshold=0.95, planes=6, max_bucket=None)
    assert uncapped.count() >= 200 * 199 // 2


def test_semantic_dedup_hot_cell_cap(spark):
    # A degenerate mega-cell is excluded from pair generation, and its
    # members are conservatively KEPT (never dropped uncompared).
    from seatunnel_spark.dataops.dedup import semantic_dedup

    same = [1.0, 0.0]
    rows = [(i, same) for i in range(200)]
    rows += [(900, [0.0, 1.0]), (901, [0.01, 1.0])]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    cents = [[1.0, 0.0], [0.0, 1.0]]

    out = {r["id"]: r["keep"] for r in semantic_dedup(
        df, "id", centroids=cents, threshold=0.95, max_cell=50).collect()}
    assert len(out) == 202          # every row present in the output
    assert all(out[i] for i in range(200))  # mega-cell kept, not dropped
    assert out[900] and not out[901]        # normal cell still deduped

    uncapped = {r["id"]: r["keep"] for r in semantic_dedup(
        df, "id", centroids=cents, threshold=0.95, max_cell=None).collect()}
    assert uncapped[0] and not uncapped[199]  # quadratic path dedups


# -- analytics: funnel / retention / pivot / ngram stats ----------------

def test_funnel_strict_order(spark):
    from seatunnel_spark.dataops.analytics import funnel

    rows = [
        # u1 completes all three in order
        (1, "2024-01-01 10:00:00", "view"),
        (1, "2024-01-01 10:05:00", "click"),
        (1, "2024-01-01 10:10:00", "purchase"),
        # u2 clicks BEFORE viewing: only step 0 counts
        (2, "2024-01-01 09:00:00", "click"),
        (2, "2024-01-01 09:30:00", "view"),
        # u3 views only
        (3, "2024-01-01 08:00:00", "view"),
        # u4 never views
        (4, "2024-01-01 08:00:00", "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts string, "
                               "event_type string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["step"]: r["users"] for r in funnel(
        df, "user_id", "ts", "event_type",
        ["view", "click", "purchase"]).collect()}
    assert out == {"view": 3, "click": 1, "purchase": 1}
    # plan: the event log never hits a window — one partial agg chain
    plan = funnel(df, "user_id", "ts", "event_type",
                  ["view", "click"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" not in plan


def test_cohort_retention_offsets(spark):
    from seatunnel_spark.dataops.analytics import cohort_retention

    rows = [(1, "2024-01-01 00:00:00"), (1, "2024-01-09 00:00:00"),
            (2, "2024-01-01 00:00:00"), (2, "2024-01-02 00:00:00"),
            (3, "2024-01-09 00:00:00")]
    df = spark.createDataFrame(rows, "user_id int, ts string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = {(r["cohort_period"], r["offset"]): r["users"]
           for r in cohort_retention(df, "user_id", "ts", 7).collect()}
    c0 = min(k[0] for k in out)
    assert out[(c0, 0)] == 2          # u1+u2 in the first cohort
    assert out[(c0, 1)] == 1          # u1 back one period later
    assert out[(c0 + 1, 0)] == 1      # u3's own cohort


def test_ngram_stats_deterministic(spark):
    from seatunnel_spark.dataops.analytics import ngram_stats

    df = spark.createDataFrame(
        [("a b a b c",), ("a b",), ("solo",)], "text string")
    rows = [(r["ngram"], r["n"]) for r in
            ngram_stats(df, "text", n=2, top=3).collect()]
    assert rows == [("a b", 3), ("b a", 1), ("b c", 1)]


def test_corpus_overlap_counts(spark):
    from seatunnel_spark.dataops.analytics import corpus_overlap

    rows = [
        ("s1", "a b c d"),        # shingles: "a b c", "b c d"
        ("s2", "a b c x"),        # shares "a b c" with s1
        ("s2", "b c d y"),        # shares "b c d" with s1
        ("s3", "z z z"),          # shares nothing
        ("s3", "a b"),            # <3 words: no shingles at all
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {(r["source_a"], r["source_b"]): r["shared_shingles"]
           for r in corpus_overlap(df, "source", "text", k=3).collect()}
    assert out == {("s1", "s2"): 2}


def test_json_bucket_stats_values(spark):
    from seatunnel_spark.dataops.analytics import json_bucket_stats

    rows = [('{"k": 5}', 1.0), ('{"k": 7}', 3.0), ('{"k": 15}', 10.0),
            ('{"k": null}', 99.0)]
    df = spark.createDataFrame(rows, "props string, value double")
    out = {r["k_bucket"]: (r["n"], r["avg_value"])
           for r in json_bucket_stats(df, "props", "k", "value").collect()}
    assert out[0] == (2, 2.0)
    assert out[10] == (1, 10.0)
    assert out[None][0] == 1  # null key bucket survives, not dropped


def test_moving_average_trailing_window(spark):
    from seatunnel_spark.dataops.analytics import moving_average

    rows = ([("a", f"2024-01-0{d} 10:00:00") for d in (1, 1, 2, 3)]
            + [("b", "2024-01-01 09:00:00")])
    df = spark.createDataFrame(rows, "t string, ts string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = {(r["grp"], str(r["day"])): (r["n"], r["ma3_n"])
           for r in moving_average(df, "ts", "t", window_rows=3).collect()}
    assert out[("a", "2024-01-01")] == (2, 2.0)
    assert out[("a", "2024-01-02")] == (1, 1.5)
    assert out[("a", "2024-01-03")] == (1, 1.3333)
    assert out[("b", "2024-01-01")] == (1, 1.0)


def test_synth_media_real_parsers_roundtrip():
    """synthesize_wav/mp4 produce REAL containers the genuine parsers
    decode back to the inputs (no stub on this path) — truncated or
    foreign bytes fall to the deterministic stub instead of crashing."""
    from seatunnel_spark.dataops.multimodal import (_decode_audio,
                                                    _decode_video_meta,
                                                    synthesize_mp4,
                                                    synthesize_wav)

    assert _decode_audio(synthesize_wav(44100, 999)) == \
        (44100, 999, "pcm_s16le")
    assert _decode_video_meta(synthesize_mp4(1234, 1920, 1080)) == \
        (1234, 1920, 1080, "mp4")
    # non-container bytes -> deterministic stub, never an exception
    rate, n, codec = _decode_audio(b"not a wav")
    assert codec == "fake/pcm" and rate == 16000 and n > 0
    assert _decode_video_meta(b"junk")[3] != "mp4"
    # a RIFF header with a corrupt body also falls back cleanly
    bad = synthesize_wav(8000, 10)[:20]
    assert _decode_audio(bad)[2] == "fake/pcm"


def test_frame_sample_plan_is_catalyst_only(spark):
    from seatunnel_spark.dataops.multimodal import (audio_metadata,
                                                    frame_sample_plan,
                                                    synthesize_wav)

    rows = [(1, synthesize_wav(8000, 700)), (2, synthesize_wav(8000, 50))]
    df = spark.createDataFrame(rows, "id long, audio binary")
    a = audio_metadata(df, "audio")
    out = frame_sample_plan(a, "audio_meta", every_n=320)
    got = sorted((r["id"], r["frame_offset"]) for r in out.collect())
    assert got == [(1, 0), (1, 320), (1, 640), (2, 0)]
    # the expansion itself is sequence+explode — no extra Python eval
    # beyond the one decode stage
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "Generate explode" in plan


def test_corpus_overlap_matches_bruteforce(spark):
    """Randomized corpus vs a pure-python set computation — the
    operator must equal exact per-pair shared-shingle counts."""
    import random
    from collections import defaultdict

    from seatunnel_spark.dataops.analytics import corpus_overlap

    rnd = random.Random(7)
    vocab = list("abcdefgh")
    rows = []
    for _ in range(60):
        src = f"s{rnd.randrange(4)}"
        n = rnd.randrange(0, 9)
        rows.append((src, " ".join(rnd.choice(vocab) for _ in range(n))))
    sets = defaultdict(set)
    for src, text in rows:
        ws = text.split()
        for j in range(len(ws) - 2):
            sets[src].add(" ".join(ws[j:j + 3]))
    expect = {}
    names = sorted(sets)
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            n = len(sets[a] & sets[b])
            if n:
                expect[(a, b)] = n
    df = spark.createDataFrame(rows, "source string, text string")
    got = {(r["source_a"], r["source_b"]): r["shared_shingles"]
           for r in corpus_overlap(df, "source", "text", k=3).collect()}
    assert got == expect


# ---------------------------------------------------------------------------
# round-6 additions: html cleaning, passage dedup, global shuffle,
# embedding quantization, distributed k-means
# ---------------------------------------------------------------------------

def test_html_clean_strips_and_decodes(spark):
    from seatunnel_spark.dataops.text import html_clean

    df = spark.createDataFrame(
        [(1, '<p class="x">a &amp;lt; b</p>'
             '<script>var s = "<p>";</script>'
             '<style>p{}</style> ok &quot;q&quot;')],
        "doc_id int, text string")
    out = html_clean(df).collect()[0]["clean_text"]
    # &amp;lt; must decode to the LITERAL text "&lt;" (no double decode);
    # script/style bodies vanish entirely, tags become spaces.
    assert out == 'a &lt; b ok "q"'


def test_passage_dup_stats_flags_repeated_chunks(spark):
    from seatunnel_spark.dataops.dedup import passage_dup_stats

    a = " ".join(f"w{i}" for i in range(8))
    b = " ".join(f"x{i}" for i in range(8))
    df = spark.createDataFrame(
        [(1, f"{a} {b}"), (2, a)], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in passage_dup_stats(df).collect()}
    # doc 1 owns both chunks (lowest (doc,pos) wins); doc 2's single
    # chunk is a repeat of doc 1's first chunk.
    assert (rows[1]["n_chunks"], rows[1]["n_dup_chunks"]) == (2, 0)
    assert (rows[2]["n_chunks"], rows[2]["n_dup_chunks"]) == (1, 1)
    assert rows[2]["dup_frac"] == 1.0


def test_passage_dup_short_doc_single_chunk(spark):
    from seatunnel_spark.dataops.dedup import passage_dup_stats

    df = spark.createDataFrame([(7, "one two three")],
                               "doc_id long, text string")
    r = passage_dup_stats(df).collect()[0]
    assert (r["n_chunks"], r["n_dup_chunks"]) == (1, 0)


def test_global_shuffle_deterministic_dense_and_seeded(spark):
    from seatunnel_spark.dataops.sampling import global_shuffle

    df = spark.range(100).withColumnRenamed("id", "doc_id")
    o1 = sorted(map(tuple, global_shuffle(df, "doc_id", 3, 4).collect()))
    o2 = sorted(map(tuple, global_shuffle(df, "doc_id", 3, 4).collect()))
    assert o1 == o2  # pure function of (id, seed)
    by_shard = {}
    for _id, shard, pos in o1:
        by_shard.setdefault(shard, []).append(pos)
    assert set(by_shard) <= set(range(4))
    for ps in by_shard.values():  # dense rank 1..n inside every shard
        assert sorted(ps) == list(range(1, len(ps) + 1))
    o3 = sorted(map(tuple, global_shuffle(df, "doc_id", 4, 4).collect()))
    assert o1 != o3  # a new seed is a new permutation


def test_quantize_int8_codes_scale_and_error(spark):
    from seatunnel_spark.dataops.embeddings import dequant_error, quantize_int8

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in dequant_error(quantize_int8(df)).collect()}
    # 0.5*127 = 63.5 rounds HALF_UP to 64 — the mode the oracle relies on
    assert out[1]["q"] == [64, -127, 32]
    assert out[1]["scale"] == 1.0
    step = out[1]["scale"] / 127.0
    assert 0.0 < out[1]["mse"] <= step * step / 4 + 1e-12
    # all-zero vector: guarded divide -> zero codes, zero error
    assert out[2]["q"] == [0, 0, 0]
    assert out[2]["scale"] == 0.0 and out[2]["mse"] == 0.0


def test_kmeans_separates_blobs_and_is_deterministic(spark):
    from seatunnel_spark.dataops.embeddings import kmeans_assign, kmeans_fit

    rows = []
    for i in range(10):  # ids 0/1 seed one blob each (init = lowest ids)
        rows.append((2 * i, [1.0 + 0.01 * i, 0.0]))
        rows.append((2 * i + 1, [0.0, 1.0 + 0.01 * i]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_fit(df, k=2, iters=3)
    assert cents == kmeans_fit(df, k=2, iters=3)  # bit-deterministic
    got = {r["vec_id"]: r["cluster"]
           for r in kmeans_assign(df, cents).collect()}
    blob_a = {got[i] for i in range(0, 20, 2)}
    blob_b = {got[i] for i in range(1, 20, 2)}
    assert len(blob_a) == 1 and len(blob_b) == 1 and blob_a != blob_b


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    from seatunnel_spark.dataops.embeddings import kmeans_fit

    # ids 0 and 2 are identical; the distance tie resolves to the
    # LOWEST centroid index, so cluster 2 goes empty and must keep its
    # init centroid instead of crashing or NaN-ing.
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [5.0, 5.0]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<double>")
    cents = kmeans_fit(df, k=3, iters=2)
    assert cents[2] == [0.0, 0.0]


def test_incremental_minhash_probe_matches_only_new_side(spark):
    from seatunnel_spark.dataops.dedup import (
        incremental_minhash_matches, minhash_band_index)

    base = "the quick brown fox jumps over the lazy dog again and again"
    existing = spark.createDataFrame(
        [(1, base), (2, "completely different corpus text entirely here")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, base),                         # exact dup of existing 1
         (11, "unrelated fresh content with no overlap at all ok")],
        "doc_id long, text string")
    idx = minhash_band_index(existing, "doc_id", "text")
    out = {(r["new_id"], r["match_id"]): r["n_bands"]
           for r in incremental_minhash_matches(
               new, idx, "doc_id", "text").collect()}
    assert out[(10, 1)] == 4        # identical text agrees on ALL bands
    assert (11, 1) not in out and (11, 2) not in out
    assert all(k[0] != 10 or k[1] != 2 for k in out)


def test_bm25_rare_term_and_length_normalization(spark):
    from seatunnel_spark.dataops.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(1, "apple banana banana banana"),
         (2, "apple banana"),
         (3, "cherry cherry cherry cherry cherry cherry"),
         (4, "apple " + "filler " * 20 + "end")],
        "doc_id long, text string")
    qs = spark.createDataFrame(
        [(0, "banana"), (1, "apple")], "query_id int, query_text string")
    out = bm25_topk(docs, qs, k=10)
    got = {(r["query_id"], r["rank"]): r["doc_id"] for r in out.collect()}
    # more occurrences of the query term -> higher rank
    assert got[(0, 1)] == 1 and got[(0, 2)] == 2
    # same tf: the SHORTER doc wins on length normalization
    assert got[(1, 1)] == 2
    # doc 3 never matches either query
    assert 3 not in {v for k, v in got.items()}


def test_pagerank_one_iteration_hand_check(spark):
    from seatunnel_spark.dataops.graph import pagerank

    e = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c")], "src string, dst string")
    r = {row["node"]: row["rank"]
         for row in pagerank(e, iters=1).collect()}
    # N=3, d=.85: a gets all of b's mass, b and c half of a's each;
    # c is dangling so total mass leaks below 1.
    assert r["a"] == round(0.15 / 3 + 0.85 * (1 / 3), 6)
    assert r["b"] == r["c"] == round(0.15 / 3 + 0.85 * (1 / 6), 6)
    assert sum(r.values()) < 1.0


def test_doc_chunks_overlap_and_tail(spark):
    from seatunnel_spark.dataops.text import doc_chunks

    words = [f"w{i}" for i in range(40)]
    docs = spark.createDataFrame(
        [(1, " ".join(words)), (2, "just five small words here")],
        "doc_id long, text string")
    out = {(r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["n_tokens"])
           for r in doc_chunks(docs).collect()}
    assert len(out) == 3
    t0, n0 = out[(1, 0)]
    t1, n1 = out[(1, 1)]
    assert n0 == 32 and t0 == " ".join(words[:32])
    assert n1 == 16 and t1 == " ".join(words[24:])
    # consecutive chunks overlap by size - stride = 8 words
    assert t0.split()[24:] == t1.split()[:8]
    assert out[(2, 0)] == ("just five small words here", 5)


def test_passage_dedup_apply_keeps_first_occurrence_only(spark):
    from seatunnel_spark.dataops.dedup import passage_dedup_apply

    boiler = " ".join(f"b{i}" for i in range(8))     # one exact chunk
    uniq1 = " ".join(f"x{i}" for i in range(8))
    uniq2 = " ".join(f"y{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(1, boiler + " " + uniq1),   # first owner of the boilerplate
         (2, boiler + " " + uniq2),   # loses it
         (3, boiler)],                # entirely duplicated -> empty
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in passage_dedup_apply(docs).collect()}
    assert out[1]["clean_text"] == boiler + " " + uniq1
    assert out[2]["clean_text"] == uniq2
    assert out[3]["clean_text"] == "" and out[3]["n_kept"] == 0
    assert out[2]["n_chunks"] == 2 and out[2]["n_kept"] == 1


def test_substring_dup_spans_arbitrary_alignment(spark):
    """Exact-substring dedup (Lee et al. 2022 ExactSubstr): (a) a
    run duplicated at a DIFFERENT offset is found (the case fixed
    chunking misses) with exact maximal-span bounds, keep-first
    leaves the earliest copy unmarked; (b) repetition INSIDE one doc
    marks every repeat after the first; (c) two duplicated runs
    separated by more than n tokens stay separate spans; (d)
    boilerplate_df marks ALL occurrences, including the first."""
    from seatunnel_spark.dataops.dedup import substring_dup_spans

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"),
         (2, "x y a b c d e f g h z"),       # run shifted to pos 3
         (3, "p q r p q r p q r"),           # internal repetition
         (4, "m n o j1 j2 j3 j4 s t u"),
         (5, "m n o k1 k2 k3 k4 s t u")],    # two runs, gap > n
        "doc_id long, text string")
    got = {(r["doc_id"], r["start_tok"], r["end_tok"])
           for r in substring_dup_spans(docs, n=3).collect()}
    # (a) doc 2 pos 3..10 is doc 1's whole text; doc 1 survives
    # (b) doc 3: first "p q r" kept, repeats from pos 4 marked
    # (c) doc 5: m-n-o at 1..3 and s-t-u at 8..10, gap 4 > n=3
    assert got == {(2, 3, 10), (3, 4, 9), (5, 1, 3), (5, 8, 10)}
    # (d) boilerplate: "p q r" occurs 3x > 2 -> doc 3 marks from
    # pos 1 too (spans widen to the whole doc); doc 1/2/4/5 keep
    # their keep-first shape (no shingle there exceeds df=2)
    got_b = {(r["doc_id"], r["start_tok"], r["end_tok"])
             for r in substring_dup_spans(
                 docs, n=3, boilerplate_df=2).collect()}
    assert (3, 1, 9) in got_b and (2, 3, 10) in got_b
    # docs shorter than n emit nothing and don't crash
    tiny = spark.createDataFrame([(9, "a b")], "doc_id long, text string")
    assert substring_dup_spans(tiny, n=3).count() == 0


def test_substring_dup_spans_struct_ordinal_domain(spark):
    """The keep-first key is a (doc, pos) STRUCT min, not a packed
    ordinal: (a) a duplicated shingle whose first copy sits past
    position 1,000,000 (the old packing width) still keeps exactly
    the earliest occurrence — the later doc is marked, the long doc
    is not; (b) string doc ids work (lexicographic keep-first)."""
    from seatunnel_spark.dataops.dedup import substring_dup_spans

    # (a) 1.2M-token doc, the shared run sits at its tail (position
    # > 1e6, where id*1e6+pos packing would bleed into doc 2's range)
    long_doc = " ".join(f"t{i}" for i in range(1_200_000 - 4)) \
        + " dup1 dup2 dup3 dup4"
    docs = spark.createDataFrame(
        [(1, long_doc), (2, "zz dup1 dup2 dup3 dup4 yy")],
        "doc_id long, text string")
    got = {(r["doc_id"], r["start_tok"], r["end_tok"])
           for r in substring_dup_spans(docs, n=4).collect()}
    assert got == {(2, 2, 5)}

    # (b) string ids: keep-first by lexicographic id order
    sdocs = spark.createDataFrame(
        [("beta", "a b c d e"), ("alpha", "a b c d e")],
        "doc_id string, text string")
    sgot = {(r["doc_id"], r["start_tok"], r["end_tok"])
            for r in substring_dup_spans(sdocs, n=5).collect()}
    assert sgot == {("beta", 1, 5)}


def test_substring_dedup_apply_excises_spans(spark):
    """APPLY step: duplicated spans are excised from the later copy,
    the first copy and non-duplicated tokens survive, and a fully-
    duplicated doc comes back empty with n_kept=0."""
    from seatunnel_spark.dataops.dedup import substring_dedup_apply

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"),
         (2, "x y a b c d e f g h z"),
         (3, "a b c d e f g h")],             # exact dup of doc 1
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           substring_dedup_apply(docs, n=3).collect()}
    assert out[1]["clean_text"] == "a b c d e f g h"
    assert out[2]["clean_text"] == "x y z"
    assert out[2]["n_tokens"] == 11 and out[2]["n_kept"] == 3
    assert out[3]["clean_text"] == "" and out[3]["n_kept"] == 0


def test_temperature_sample_upweights_small_domain(spark):
    from seatunnel_spark.dataops.sampling import temperature_sample

    rows = [(i, "big") for i in range(100)] + [(1000 + i, "small")
                                               for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = {r["domain"]: r for r in
           temperature_sample(df, alpha=0.5, budget_frac=0.5).collect()}
    # z = sqrt(100)+sqrt(4) = 12; p_big = 52*10/12/100 = 0.4333..,
    # p_small = 52*2/12/4 > 1 -> clamped: small domain fully kept.
    assert out["small"]["thr"] == 1_000_000
    assert out["small"]["n_sampled"] == 4
    assert out["big"]["thr"] == 433333
    assert 20 <= out["big"]["n_sampled"] <= 65   # ~43% of 100


def test_incremental_probe_against_bucketed_persisted_index(spark):
    """The 100 TB incremental-dedup shape: the corpus band index is
    PERSISTED bucketed by the LSH key, so a later ingest batch's probe
    join never reshuffles the historical index — only the (small) new
    batch moves."""
    from seatunnel_spark.dataops.dedup import (
        incremental_minhash_matches, minhash_band_index)
    from seatunnel_spark.plans.bucketing import write_bucketed

    base = "the quick brown fox jumps over the lazy dog again and again"
    existing = spark.createDataFrame(
        [(1, base), (2, "completely different corpus text entirely here")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, base)], "doc_id long, text string")
    try:
        write_bucketed(minhash_band_index(existing, "doc_id", "text"),
                       "mh_band_idx", ["band", "key"], num_buckets=4)
        with no_auto_broadcast(spark):
            out = incremental_minhash_matches(
                new, spark.table("mh_band_idx"), "doc_id", "text",
                max_bucket=None)
            plan = out._jdf.queryExecution().executedPlan().toString()
            # exactly ONE side shuffles on the join key: the probe batch.
            # The bucketed index side reads pre-partitioned files.
            assert plan.count("Exchange hashpartitioning(band") <= 1
            assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan
            rows = {(r["new_id"], r["match_id"]): r["n_bands"]
                    for r in out.collect()}
            assert rows[(10, 1)] == 4
    finally:
        spark.sql("DROP TABLE IF EXISTS mh_band_idx")


def test_decontam_bloom_matches_exact(spark):
    """The bloom prefilter must be invisible: flag_contaminated_bloom
    == flag_contaminated on the same inputs (confirm join removes the
    bloom's false positives), including with an adversarially tiny
    bitmap where nearly every gram is a bloom hit."""
    from seatunnel_spark.dataops.decontam import (
        flag_contaminated, flag_contaminated_bloom)

    docs = spark.createDataFrame([
        (1, "a b c d e f"),
        (2, "z y x w v u"),
        (3, "a b"),
        (4, "b c d e b c d e x"),
    ], "doc_id int, text string")
    bench = spark.createDataFrame([(99, "q b c d e q")],
                                  "doc_id int, text string")
    exact = sorted(map(tuple, flag_contaminated(docs, bench, n=4).collect()))
    for num_bits in (1 << 20, 64):  # 64 bits -> heavy false positives
        got = sorted(map(tuple, flag_contaminated_bloom(
            docs, bench, n=4, num_bits=num_bits).collect()))
        assert got == exact, f"num_bits={num_bits}"


def test_heavy_hitters_exact(spark):
    from seatunnel_spark.dataops.text import heavy_hitters

    docs = spark.createDataFrame(
        [(i, ("the quick " * 5) + f"rare{i} " + ("fox " * (3 if i % 2 else 0)))
         for i in range(40)],
        "doc_id int, text string").repartition(8)
    truth = {"the": 200, "quick": 200, "fox": 60}
    got = {r["token"]: r["cnt"]
           for r in heavy_hitters(docs, min_count=50).collect()}
    assert got == truth
    # min_count high enough to exclude fox
    got2 = {r["token"]: r["cnt"]
            for r in heavy_hitters(docs, min_count=100).collect()}
    assert got2 == {"the": 200, "quick": 200}


def test_heavy_hitters_tiny_capacity_no_false_positives(spark):
    """With capacity below the exactness bound the result may MISS
    hitters but must never report one that fails min_count, and every
    reported count is the exact total (phase-2 recount)."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.text import heavy_hitters

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(i % 7)) + " top top top")
         for i in range(60)],
        "doc_id int, text string").repartition(6)
    toks = docs.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+"))
                       .alias("token")).filter(F.col("token") != "")
    truth = {r["token"]: r["cnt"] for r in
             toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
                 .filter(F.col("cnt") >= 40).collect()}
    got = {r["token"]: r["cnt"]
           for r in heavy_hitters(docs, min_count=40, capacity=2).collect()}
    for tok, cnt in got.items():
        assert truth[tok] == cnt  # exact counts, no spurious tokens


def test_heavy_hitters_max_capacity_guard(spark):
    """An auto-sized capacity above max_capacity must raise with the
    support-fraction guidance (min_count that fits) instead of
    silently scaling the per-partition dict with the corpus; None
    disables the bound."""
    import pytest

    from seatunnel_spark.dataops.text import heavy_hitters

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * 10) for i in range(20)],
        "doc_id int, text string")
    with pytest.raises(ValueError, match="min_count >="):
        heavy_hitters(docs, min_count=1, max_capacity=100).collect()
    got = {r["token"] for r in
           heavy_hitters(docs, min_count=100,
                         max_capacity=100).collect()}
    assert got == {"alpha", "beta", "gamma", "delta"}
    assert heavy_hitters(docs, min_count=1,
                         max_capacity=None).count() == 4


def test_event_pattern_strict_detects_cap(spark):
    """strict=True raises (with the dropped-entity count) when the
    max_events guard would drop anyone; strict default stays a silent
    deterministic drop."""
    import datetime

    import pytest

    from seatunnel_spark.dataops.analytics import event_pattern_match

    t0 = datetime.datetime(2026, 1, 1)
    rows = ([(i, t0, 1, "error") for i in range(5)]      # hot entity
            + [(100 + i, t0, 2, "error") for i in range(2)])
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string")
    with pytest.raises(ValueError, match="1 entities exceed"):
        event_pattern_match(df, "error", max_events=3, strict=True)
    got = {r["entity"] for r in
           event_pattern_match(df, "error", max_events=3).collect()}
    assert got == {2}


def test_write_bucketed_edges_rejects_qualified_name(spark):
    import pytest

    from seatunnel_spark.dataops.graph import write_bucketed_edges

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="unqualified"):
        write_bucketed_edges(df, "somedb.edges")


def test_group_sample_topk_matches_single_window(spark):
    """The salted two-phase plan must equal the plain definition:
    k smallest md5(id) per group."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.sampling import group_sample_topk

    df = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(200)] + [(1000 + i, "hot") for i in range(500)],
        "doc_id long, source string").repartition(16)
    k = 7
    got = sorted(map(tuple, group_sample_topk(df, "source", k=k)
                     .select("source", "doc_id", "sample_rank").collect()))
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id")
    want = sorted(map(tuple, df
                      .withColumn("sample_rank",
                                  F.row_number().over(w).cast("int"))
                      .filter(F.col("sample_rank") <= k)
                      .select("source", "doc_id", "sample_rank").collect()))
    assert got == want
    # exactly k per group (every group here has > k rows)
    per_group = {}
    for src, _, _ in got:
        per_group[src] = per_group.get(src, 0) + 1
    assert per_group == {"g0": k, "g1": k, "g2": k, "hot": k}


def test_group_sample_topk_small_group_keeps_all(spark):
    from seatunnel_spark.dataops.sampling import group_sample_topk

    df = spark.createDataFrame(
        [(1, "tiny"), (2, "tiny"), (3, "big"), (4, "big"), (5, "big")],
        "doc_id long, source string")
    got = group_sample_topk(df, "source", k=4).collect()
    counts = {}
    for r in got:
        counts[r["source"]] = counts.get(r["source"], 0) + 1
    assert counts == {"tiny": 2, "big": 3}
    ranks = sorted(r["sample_rank"] for r in got if r["source"] == "big")
    assert ranks == [1, 2, 3]


def test_cms_estimate_never_underestimates_and_is_tight(spark):
    """CMS guarantee: est >= true count for every probed token; with
    4x4096 counters and a tiny vocabulary the estimates are exact."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.text import cms_build, cms_estimate

    docs = spark.createDataFrame(
        [(i, ("alpha " * 3) + ("beta " * (i % 4)) + f"uniq{i}")
         for i in range(50)],
        "doc_id int, text string").repartition(8)
    toks = docs.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+"))
                       .alias("token")).filter(F.col("token") != "")
    truth = {r["token"]: r["cnt"] for r in
             toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
                 .collect()}
    cms = cms_build(docs)
    probes = toks.select("token").distinct()
    got = {r["token"]: r["est"] for r in cms_estimate(cms, probes).collect()}
    assert set(got) == set(truth)
    for tok, true_cnt in truth.items():
        assert got[tok] >= true_cnt, tok
    # small vocab, wide sketch: collisions are overwhelmingly unlikely
    # in EVERY one of the 4 rows at once, so min() recovers the truth
    assert got["alpha"] == truth["alpha"]
    assert got["beta"] == truth["beta"]


def test_cms_unseen_token_estimates_small(spark):
    """A token absent from the corpus can only collide; with 4 rows of
    4096 buckets over a tiny corpus the min over rows is 0."""
    from seatunnel_spark.dataops.text import cms_build, cms_estimate

    docs = spark.createDataFrame(
        [(i, "x y z") for i in range(10)], "doc_id int, text string")
    cms = cms_build(docs)
    probes = spark.createDataFrame([("never-seen-token",)], "token string")
    got = cms_estimate(cms, probes).collect()
    assert len(got) == 1 and got[0]["est"] == 0


def test_cms_mergeable_across_corpora(spark):
    """Summing two sketches on (d, pos) equals the sketch of the
    union — the property that lets 100 TB build per-partition and
    merge."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.text import cms_build

    a = spark.createDataFrame([(1, "p q p")], "doc_id int, text string")
    b = spark.createDataFrame([(2, "q r")], "doc_id int, text string")
    merged = (cms_build(a).unionByName(cms_build(b))
              .groupBy("d", "pos").agg(F.sum("cnt").alias("cnt")))
    whole = cms_build(a.unionByName(b))
    assert (sorted(map(tuple, merged.collect()))
            == sorted(map(tuple, whole.collect())))


def test_fuzzy_dup_pairs_confirms_small_edits_only(spark):
    """Same-prefix small edit -> pair; same-prefix rewrite -> no pair;
    different prefix -> never a candidate even if texts are close."""
    from seatunnel_spark.dataops.dedup import fuzzy_dup_pairs

    base = "alpha beta gamma delta " + "word " * 30
    rows = [
        (1, base),
        (2, base.replace("word", "ward", 3)),       # 3 substitutions
        (3, "alpha beta gamma delta " + "zzz " * 30),  # same prefix, far
        (4, "ALPHA beta gamma delta " + "word " * 30),  # blocks with base
        (5, "omega beta gamma delta " + "word " * 30),  # prefix differs
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id1"], r["id2"]): r["dist"]
           for r in fuzzy_dup_pairs(df, max_dist=10, max_rel=0.2).collect()}
    assert got[(1, 2)] == 3
    # blocking case-folds, but the confirm distance is on RAW text:
    # the 5 upper-case chars count as edits
    assert got[(1, 4)] == 5 and got[(2, 4)] == 8
    assert not any(3 in k or 5 in k for k in got)


def test_fuzzy_dup_pairs_threshold_equals_full_distance(spark):
    """The banded threshold levenshtein + relative bound must equal
    the naive full-distance filter on a random-ish corpus."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.dedup import fuzzy_dup_pairs

    rows = [(i, "p q r s " + " ".join(
        f"w{(i * 7 + j) % 5}" for j in range(10))) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted((r["id1"], r["id2"], r["dist"]) for r in
                 fuzzy_dup_pairs(df, max_dist=12, max_rel=0.5,
                                 collapse_exact=False).collect())
    a = df.select(F.col("doc_id").alias("id1"), F.col("text").alias("t1"),
                  F.length("text").alias("n1"))
    b = df.select(F.col("doc_id").alias("id2"), F.col("text").alias("t2"),
                  F.length("text").alias("n2"))
    g = F.greatest("n1", "n2")
    naive = (a.crossJoin(b).filter(F.col("id1") < F.col("id2"))
             .withColumn("dist", F.levenshtein("t1", "t2"))
             .filter(F.col("dist") <= F.least(F.lit(12),
                                              F.floor(0.5 * g))))
    want = sorted((r["id1"], r["id2"], r["dist"]) for r in naive.collect())
    assert got == want and len(got) > 0


def test_zscore_outliers_matches_definition(spark):
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.analytics import zscore_outliers

    rows = ([(i, "a", 10.0) for i in range(20)] + [(100, "a", 500.0)]
            + [(200, "b", 5.0), (201, "b", 5.0)]       # zero variance
            + [(300, "c", 1.0)])                        # n=1 -> sd NULL
    df = spark.createDataFrame(rows, "event_id long, grp string, v double")
    got = zscore_outliers(df, "grp", "v", threshold=2.5).collect()
    assert [r["event_id"] for r in got] == [100]
    import statistics
    vals = [10.0] * 20 + [500.0]
    z = (500.0 - statistics.mean(vals)) / statistics.stdev(vals)
    assert abs(got[0]["z"] - round(z, 3)) < 1e-9


def test_equiwidth_histogram_bins_and_bounds(spark):
    from seatunnel_spark.dataops.analytics import equiwidth_histogram

    df = spark.createDataFrame([(float(v),) for v in range(0, 101)]
                               + [(None,)], "v double")
    got = {r["bin"]: (r["lo"], r["hi"], r["cnt"])
           for r in equiwidth_histogram(df, "v", n_bins=10).collect()}
    assert sum(c for _, _, c in got.values()) == 101  # null dropped
    assert got[0] == (0.0, 10.0, 10)
    # v == max lands in the LAST bin, not bin n_bins
    assert got[9] == (90.0, 100.0, 11)
    assert set(got) == set(range(10))


def test_domain_kl_drift_zero_for_identical_and_positive_for_skew(spark):
    import math

    from seatunnel_spark.dataops.text import domain_kl_drift

    df = spark.createDataFrame(
        [(1, "a", "x y"), (2, "a", "x y"),
         (3, "b", "x y"), (4, "b", "x y")],
        "doc_id long, source string, text string")
    got = {r["source"]: r for r in
           domain_kl_drift(df, "source", "text")
           .withColumnRenamed("domain", "source").collect()}
    assert got["a"]["kl"] == 0.0 and got["b"]["kl"] == 0.0
    assert got["a"]["n_tokens"] == 4

    df2 = spark.createDataFrame(
        [(1, "a", "x x x y"), (2, "b", "x y y y")],
        "doc_id long, source string, text string")
    got2 = {r["domain"]: r["kl"] for r in
            domain_kl_drift(df2, "source", "text").collect()}
    # corpus is 50/50; each domain is 75/25 -> KL = .75 ln1.5 + .25 ln.5
    want = 0.75 * math.log(1.5) + 0.25 * math.log(0.5)
    assert abs(got2["a"] - round(want, 5)) < 1e-9
    assert abs(got2["b"] - round(want, 5)) < 1e-9


def test_event_pattern_match_adjacency_and_ties(spark):
    """Adjacency is real (A..A..A non-consecutive must NOT match) and
    equal timestamps break ties by order_col deterministically."""
    import datetime

    from seatunnel_spark.dataops.analytics import event_pattern_match

    t0 = datetime.datetime(2026, 1, 1)
    s = lambda sec: t0 + datetime.timedelta(seconds=sec)  # noqa: E731
    rows = (
        # u1: error error error (consecutive) -> match
        [(1, s(i), 1, "error") for i in range(3)]
        # u2: error click error click error -> NO match
        + [(10 + i, s(i), 2, ["error", "click"][i % 2]) for i in range(5)]
        # u3: ties — same ts, event_id orders click(20) before error(21,22,23)
        + [(20, s(0), 3, "click"), (21, s(0), 3, "error"),
           (22, s(0), 3, "error"), (23, s(0), 3, "error")]
    )
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string")
    got = {r["entity"]: r["n_events"] for r in
           event_pattern_match(df, r"error( error){2}").collect()}
    assert got == {1: 3, 3: 4}


def test_weighted_sample_topk_matches_single_window_and_biases(spark):
    """Salted two-phase == plain A-ES definition; and weighting by a
    huge weight makes selection near-certain."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.sampling import weighted_sample_topk

    rows = [(i, 1 if i < 190 else 10_000) for i in range(200)]
    df = (spark.createDataFrame(rows, "doc_id long, w int")
          .withColumn("grp", F.lit("g")).repartition(8))
    k = 12
    got = sorted((r["doc_id"], r["sample_rank"]) for r in
                 weighted_sample_topk(df, "grp", k, "w").collect())
    h = F.md5(F.col("doc_id").cast("string"))
    u = ((F.conv(F.substring(h, 1, 8), 16, 10).cast("double") + 0.5)
         / F.lit(float(16 ** 8)))
    key = F.pow(u, F.lit(1.0) / F.col("w").cast("double"))
    w = Window.partitionBy("grp").orderBy(key.desc(), "doc_id")
    want = sorted((r["doc_id"], r["sample_rank"]) for r in
                  df.withColumn("sample_rank",
                                F.row_number().over(w).cast("int"))
                  .filter(F.col("sample_rank") <= k).collect())
    assert got == want
    # the 10 heavy docs (w=10000 vs 1) are virtually certain to be
    # picked: key = u^(1/10000) ~ 1 for any u
    heavy = {d for d, _ in got if d >= 190}
    assert heavy == set(range(190, 200))


def test_equiwidth_histogram_constant_column(spark):
    """min == max (zero width): all rows in bin 0, no ANSI cast crash."""
    from seatunnel_spark.dataops.analytics import equiwidth_histogram

    df = spark.createDataFrame([(7.5,)] * 9, "v double")
    got = equiwidth_histogram(df, "v", n_bins=4).collect()
    assert len(got) == 1
    assert got[0]["bin"] == 0 and got[0]["cnt"] == 9


def test_dq_checks_rules_and_null_semantics(spark):
    from seatunnel_spark.dataops.profile import dq_checks

    df = spark.createDataFrame(
        [(1, "x"), (2, None), (3, "y"), (3, "z")],
        "id long, s string")
    got = {r["check"]: r for r in dq_checks(df, [
        {"name": "s_present", "kind": "rate",
         "expr": "s IS NOT NULL", "min": 0.9},
        {"name": "id_unique", "kind": "unique", "col": "id", "min": 1.0},
    ]).collect()}
    assert got["s_present"]["metric"] == 0.75
    assert got["s_present"]["passed"] is False
    assert got["id_unique"]["metric"] == 0.75  # 3 distinct / 4 rows
    assert got["id_unique"]["passed"] is False
    # a null expr result must FAIL the row, not be skipped: avg over
    # non-null-only would report 1.0 here
    got2 = dq_checks(df, [{"name": "s_is_x", "kind": "rate",
                           "expr": "s = 'x'", "min": 0.5}]).collect()[0]
    assert got2["metric"] == 0.25

    import pytest as _pytest
    with _pytest.raises(ValueError):
        dq_checks(df, [{"name": "bad", "kind": "nope", "min": 1}])


def test_fuzzy_dup_pairs_collapses_exact_copies(spark):
    """10 exact copies of each text must not inflate block pairs: the
    output is between min-id representatives only, and is identical
    to the single-copy corpus result."""
    from seatunnel_spark.dataops.dedup import fuzzy_dup_pairs

    base = [(1, "a b c d " + "w " * 20), (2, "a b c d " + "w " * 19 + "x ")]
    copies = [(100 * c + i, t) for i, t in base for c in range(1, 10)]
    df1 = spark.createDataFrame(base, "doc_id long, text string")
    df10 = spark.createDataFrame(base + copies, "doc_id long, text string")
    one = sorted(map(tuple, fuzzy_dup_pairs(df1).collect()))
    ten = sorted(map(tuple, fuzzy_dup_pairs(df10).collect()))
    assert one == ten
    assert [(p[0], p[1]) for p in one] == [(1, 2)]


def test_emb_covariance_exact_and_partition_invariant(spark):
    import numpy as np

    from seatunnel_spark.dataops.embeddings import emb_covariance

    rng = [[float(((i * 7 + j * 3) % 11) - 5) / 4 for j in range(4)]
           for i in range(30)]
    M = np.array(rng)
    C = (M.T @ M) / len(M) - np.outer(M.mean(0), M.mean(0))
    for nparts in (1, 7):
        df = spark.createDataFrame([(v,) for v in rng],
                                   "embedding array<float>") \
            .repartition(nparts)
        got = {(r["i"], r["j"]): r["cov"]
               for r in emb_covariance(df).collect()}
        assert len(got) == 16
        for i in range(4):
            for j in range(4):
                assert abs(got[(i, j)] - round(C[i, j], 6)) < 1e-9, \
                    (nparts, i, j)


def test_pca_fit_project_matches_numpy(spark):
    import numpy as np

    from seatunnel_spark.dataops.embeddings import pca_fit, pca_project

    # anisotropic data: variance concentrated along a known direction
    rng = np.random.RandomState(7)
    base = rng.randn(80, 1) @ np.array([[3.0, 1.0, 0.2, 0.0]]) \
        + 0.05 * rng.randn(80, 4)
    df = spark.createDataFrame([(v.tolist(),) for v in base],
                               "embedding array<float>").repartition(5)
    model = pca_fit(df, n_components=2)
    M = np.stack([np.array(v, dtype="float32").astype("float64")
                  for v in base.tolist()])
    C = (M.T @ M) / len(M) - np.outer(M.mean(0), M.mean(0))
    w, v = np.linalg.eigh(C)
    assert abs(model["explained_variance"][0] - w[-1]) < 1e-6
    top = v[:, -1]
    if top[np.argmax(np.abs(top))] < 0:
        top = -top
    assert np.allclose(model["components"][0], top, atol=1e-6)
    # projection: out[0] == (x - mu) . top for every row
    got = pca_project(df, model).select("embedding", "pca").collect()
    mu = np.array(model["mean"])
    for r in got:
        x = np.array(r["embedding"], dtype="float64")
        want = (x - mu) @ np.array(model["components"]).T
        assert np.allclose(r["pca"], want, atol=1e-9)


def test_pca_project_is_scan_only(spark):
    from seatunnel_spark.dataops.embeddings import pca_project

    df = spark.createDataFrame([([1.0, 2.0],)], "embedding array<float>")
    model = {"mean": [0.5, 0.5], "components": [[1.0, 0.0], [0.0, 1.0]]}
    out = pca_project(df, model)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert out.collect()[0]["pca"] == [0.5, 1.5]


def test_copurchase_pairs_dedups_quantity_and_counts(spark):
    from seatunnel_spark.dataops.analytics import copurchase_pairs

    rows = [  # basket 1: {a,b,c} with a duplicated (qty reorder)
        (1, "a"), (1, "a"), (1, "b"), (1, "c"),
        (2, "a"), (2, "b"),          # basket 2: {a,b}
        (3, "a"), (3, "b"),          # basket 3: {a,b}
        (4, "c"),                    # singleton: no pairs
    ]
    df = spark.createDataFrame(rows, "o long, p string")
    got = {(r["p1"], r["p2"]): r["support"]
           for r in copurchase_pairs(df, "o", "p", min_support=1).collect()}
    assert got == {("a", "b"): 3, ("a", "c"): 1, ("b", "c"): 1}
    got2 = {(r["p1"], r["p2"]) for r in
            copurchase_pairs(df, "o", "p", min_support=3).collect()}
    assert got2 == {("a", "b")}


def test_triangle_count_exact(spark):
    from seatunnel_spark.dataops.analytics import triangle_count

    # K4 on {1,2,3,4} has 4 triangles; an extra pendant edge adds none
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 9)]
    df = spark.createDataFrame(edges, "p1 long, p2 long")
    assert triangle_count(df).collect()[0]["n_triangles"] == 4
    # empty graph -> 0, not an empty frame
    empty = spark.createDataFrame([], "p1 long, p2 long")
    assert triangle_count(empty).collect()[0]["n_triangles"] == 0
    # the strategy override is physical only: all three paths agree
    # ('plain' + max_degree=None runs ZERO statistic jobs)
    for strat, cap in (("plain", None), ("plain", 10), ("ordered", None)):
        got = triangle_count(df, max_degree=cap,
                             strategy=strat).collect()[0]
        assert got["n_triangles"] == 4, (strat, cap)
    import pytest
    with pytest.raises(ValueError, match="auto\\|plain\\|ordered"):
        triangle_count(df, strategy="fast")


def test_triangle_super_hub_cap(spark):
    """The in-code max_degree guard (_capped_edges): a power-law
    mega-hub's edges are dropped BEFORE the wedge join, vertices not
    adjacent to the hub are bit-identical, and the operator neither
    OOMs nor silently truncates."""
    from seatunnel_spark.dataops.analytics import (
        clustering_coefficient, triangle_count)

    # hub 0 connected to 1..50 (degree 50) + fans 1-2, 2-3 closing
    # hub triangles {0,1,2},{0,2,3} + a detached triangle {100,101,102}
    edges = ([(0, i) for i in range(1, 51)]
             + [(1, 2), (2, 3), (100, 101), (100, 102), (101, 102)])
    df = spark.createDataFrame(edges, "p1 long, p2 long")
    # uncapped: 3 triangles
    assert triangle_count(df, max_degree=None) \
        .collect()[0]["n_triangles"] == 3
    # cap below the hub degree: hub edges vanish, only the detached
    # triangle survives; its vertices are untouched by the drop
    assert triangle_count(df, max_degree=10) \
        .collect()[0]["n_triangles"] == 1
    got = {r["vertex"]: (r["degree"], r["triangles"], r["cc"])
           for r in clustering_coefficient(df, max_degree=10).collect()}
    # hub 0 gone entirely; 1-2, 2-3 remain as a path (no triangles);
    # the detached triangle is bit-identical to the uncapped run
    assert 0 not in got
    assert got[100] == (2, 1, 1.0) and got[102] == (2, 1, 1.0)
    assert got[2] == (2, 0, 0.0)
    # default cap (10_000) leaves this small graph unchanged
    assert triangle_count(df).collect()[0]["n_triangles"] == 3


def test_closed_wedges_both_orientations_agree(spark):
    """The adaptive wedge strategy must be invisible to results:
    forcing the degree-ordered path (orient_threshold=0) and forcing
    the id-ordered path (huge threshold) find the IDENTICAL triangle
    set — as unordered vertex sets — on a graph with hubs, triangles
    and pendants."""
    from seatunnel_spark.dataops.analytics import _closed_wedges

    edges = ([(0, i) for i in range(1, 21)]          # hub 0, deg 20
             + [(1, 2), (2, 3), (1, 3),              # triangle 1-2-3
                (5, 6), (5, 7), (6, 7),              # triangle 5-6-7
                (40, 41)])                           # pendant
    df = spark.createDataFrame(edges, "p1 long, p2 long")
    ordered = {frozenset((r["a"], r["b"], r["c"])) for r in
               _closed_wedges(df, "p1", "p2",
                              orient_threshold=0).collect()}
    plain = {frozenset((r["a"], r["b"], r["c"])) for r in
             _closed_wedges(df, "p1", "p2", maxdeg=20,
                            orient_threshold=10**6).collect()}
    # hub 0 is adjacent to 1..20, so it closes a triangle over every
    # edge among its neighbors: {0,1,2},{0,1,3},{0,2,3},{0,5,6},
    # {0,5,7},{0,6,7} + the two standalone triangles = 8
    assert ordered == plain
    assert frozenset((1, 2, 3)) in plain and frozenset((5, 6, 7)) in plain
    assert len(plain) == 8


def test_copurchase_mega_basket_cap(spark):
    """The in-code max_basket guard (_cap_baskets): a degenerate
    basket is dropped before its |basket|^2/2 in-row pair array is
    materialized; normal baskets are unchanged, and association_rules
    excludes the dropped basket from marginals/N too."""
    from seatunnel_spark.dataops.analytics import (association_rules,
                                                   copurchase_pairs)

    rows = ([(99, f"item{i}") for i in range(200)]   # mega-basket
            + [(1, "a"), (1, "b"), (2, "a"), (2, "b")])
    df = spark.createDataFrame(rows, "o long, p string")
    got = {(r["p1"], r["p2"]): r["support"]
           for r in copurchase_pairs(df, "o", "p", min_support=1,
                                     max_basket=100).collect()}
    assert got == {("a", "b"): 2}
    # association_rules on the capped universe: N=2 baskets, both
    # contain a and b -> conf 1.0 both ways, lift 1.0 (a basket-99
    # marginal would have biased lift to 2*3/(3*3))
    row = association_rules(df, "o", "p", min_support=1,
                            max_basket=100).collect()
    assert len(row) == 1
    r = row[0]
    assert (r["support"], r["conf_12"], r["conf_21"], r["lift"]) \
        == (2, 1.0, 1.0, 1.0)
    # default cap (1000) leaves the 200-item basket in
    n_default = copurchase_pairs(df, "o", "p", min_support=1).count()
    assert n_default == 200 * 199 // 2 + 1


def test_rolling_distinct_window_semantics(spark):
    import datetime

    from seatunnel_spark.dataops.analytics import rolling_distinct

    d = lambda s: datetime.datetime(2026, 1, s)  # noqa: E731
    rows = [(1, d(1)), (1, d(1)), (2, d(1)),   # day1: users {1,2}
            (1, d(3)),                          # day3: user 1 again
            (3, d(5))]                          # day5: user 3
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {str(r["day"]): r["dau3"] for r in
           rolling_distinct(df, "user_id", "ts", window_days=3).collect()}
    # day1 {1,2}=2; day2 {1,2}=2; day3 {1,2,3=no... user1(d1,d3),2(d1)}=2
    # day4 {1}=1 (d1 expired, d3 alive); day5 {1,3}=2 (horizon=d5)
    assert got == {"2026-01-01": 2, "2026-01-02": 2, "2026-01-03": 2,
                   "2026-01-04": 1, "2026-01-05": 2}


def test_collocations_pmi_formula(spark):
    import math

    from seatunnel_spark.dataops.text import collocations

    # 10 docs "a b", 10 docs "a c a c" -> bigram (a,b) x10, (a,c) x20,
    # (c,a) x10; unigrams a=30 b=10 c=20, N_uni=60, N_bi=40
    docs = [(i, "a b") for i in range(10)] + \
           [(100 + i, "a c a c") for i in range(10)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["w1"], r["w2"]): (r["n_pair"], r["pmi"])
           for r in collocations(df, min_count=5).collect()}
    def pmi(c_ab, c_a, c_b):
        return round(math.log((c_ab / 40) / ((c_a / 60) * (c_b / 60))), 5)
    assert got == {("a", "b"): (10, pmi(10, 30, 10)),
                   ("a", "c"): (20, pmi(20, 30, 20)),
                   ("c", "a"): (10, pmi(10, 20, 30))}


def test_group_mad_robust_to_outlier(spark):
    from seatunnel_spark.dataops.analytics import group_mad

    rows = [("g", float(v)) for v in [1, 2, 3, 4, 5]] \
        + [("h", float(v)) for v in [1, 2, 3, 4, 1_000_000]]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r["g"]: (r["median"], r["mad"]) for r in
           group_mad(df, "g", "v").collect()}
    assert got["g"] == (3.0, 1.0)   # devs: 2,1,0,1,2 -> median 1
    assert got["h"] == (3.0, 1.0)   # the outlier moves NEITHER stat


def test_association_rules_metrics(spark):
    from seatunnel_spark.dataops.analytics import association_rules

    # 4 baskets: {a,b} x3, {a} x1 -> support(ab)=3, nb(a)=4, nb(b)=3, N=4
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"),
            (3, "a"), (3, "b"), (4, "a")]
    df = spark.createDataFrame(rows, "o long, p string")
    r = association_rules(df, "o", "p", min_support=2).collect()
    assert len(r) == 1
    row = r[0]
    assert (row["p1"], row["p2"], row["support"]) == ("a", "b", 3)
    assert row["conf_12"] == 0.75      # 3/4
    assert row["conf_21"] == 1.0       # 3/3
    assert row["lift"] == 1.0          # 3*4/(4*3)


def test_clustering_coefficient_known_graph(spark):
    from seatunnel_spark.dataops.analytics import clustering_coefficient

    # triangle {1,2,3} + pendant 3-4: cc(1)=cc(2)=1.0;
    # cc(3)=1/3 (deg 3 -> 3 wedges, 1 closed); 4 has deg 1 -> excluded
    df = spark.createDataFrame([(1, 2), (1, 3), (2, 3), (3, 4)],
                               "p1 long, p2 long")
    got = {r["vertex"]: (r["degree"], r["triangles"], r["cc"])
           for r in clustering_coefficient(df).collect()}
    assert got == {1: (2, 1, 1.0), 2: (2, 1, 1.0), 3: (3, 1, 0.3333)}


def test_dq_checks_empty_table_fails_everything(spark):
    """The one scenario a gate exists for: upstream produced nothing.
    Every rule must report passed=False (not NULL, not NaN-true)."""
    from seatunnel_spark.dataops.profile import dq_checks

    df = spark.createDataFrame([], "id long, s string")
    got = {r["check"]: r for r in dq_checks(df, [
        {"name": "s_present", "kind": "rate",
         "expr": "s IS NOT NULL", "min": 0.0},
        {"name": "id_unique", "kind": "unique", "col": "id", "min": 0.0},
    ]).collect()}
    assert got["s_present"]["passed"] is False
    assert got["id_unique"]["passed"] is False
    assert got["id_unique"]["metric"] is None  # NaN surfaced as NULL


def test_cms_estimate_derives_sketch_geometry(spark):
    """A sketch built with non-default depth/width must probe
    correctly without the caller restating the parameters."""
    from seatunnel_spark.dataops.text import cms_build, cms_estimate

    docs = spark.createDataFrame([(1, "x x x y")], "doc_id int, text string")
    cms = cms_build(docs, depth=2, width_hex=2)
    probes = spark.createDataFrame([("x",), ("y",)], "token string")
    got = {r["token"]: r["est"] for r in cms_estimate(cms, probes).collect()}
    assert got["x"] >= 3 and got["y"] >= 1  # est >= true, never 0

    import pytest as _pytest
    empty = cms.filter("1 = 0")
    with _pytest.raises(ValueError):
        cms_estimate(empty, probes)


def test_pca_fit_empty_input_raises_cleanly(spark):
    import pytest as _pytest

    from seatunnel_spark.dataops.embeddings import pca_fit

    df = spark.createDataFrame([], "embedding array<float>")
    with _pytest.raises(ValueError, match="no vectors"):
        pca_fit(df, n_components=1)


def test_event_pattern_match_hot_entity_cap(spark):
    """max_events drops a degenerate mega-entity BEFORE its sequence
    is collected (no unbounded aggregation buffer) and leaves every
    normal entity's result unchanged; None disables the guard."""
    import datetime as _dt

    from seatunnel_spark.dataops.analytics import event_pattern_match

    t0 = _dt.datetime(2024, 1, 1)
    rows = [(i, t0 + _dt.timedelta(seconds=i), 1, "error")
            for i in range(3)]                      # normal matcher
    rows += [(10 + i, t0 + _dt.timedelta(seconds=i), 2, "view")
             for i in range(4)]                     # normal non-match
    rows += [(100 + i, t0 + _dt.timedelta(seconds=i), 99, "error")
             for i in range(5000)]                  # bot entity
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    ).repartition(8)
    got = {r["entity"]: r["n_events"] for r in
           event_pattern_match(df, r"error( error){2}",
                               max_events=1000).collect()}
    assert got == {1: 3}  # bot dropped, normal entity unchanged
    uncapped = {r["entity"]: r["n_events"] for r in
                event_pattern_match(df, r"error( error){2}",
                                    max_events=None).collect()}
    assert uncapped == {1: 3, 99: 5000}


def test_weighted_sample_topk_rejects_nonpositive_weights(spark):
    """NULL / zero / negative weights are dropped in-operator: the
    draw stays well-defined and equals the draw over the valid rows."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.sampling import weighted_sample_topk

    rows = [(0, None), (1, 0), (2, -5)] + [(i, i) for i in range(3, 40)]
    df = (spark.createDataFrame(rows, "doc_id long, w int")
          .withColumn("grp", F.lit("g")).repartition(4))
    got = sorted(r["doc_id"] for r in
                 weighted_sample_topk(df, "grp", 5, "w").collect())
    want = sorted(r["doc_id"] for r in
                  weighted_sample_topk(df.filter("w > 0"),
                                       "grp", 5, "w").collect())
    assert got == want
    assert all(d >= 3 for d in got)


def test_heavy_hitters_auto_capacity_exact(spark):
    """capacity=None sizes itself from sum(length(text)) so the
    Misra-Gries bound capacity >= N_tokens/min_count holds by
    construction — exact on an adversarial flat (non-Zipfian) corpus
    where a small fixed capacity WOULD evict true hitters."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.text import heavy_hitters

    # 400 distinct mid-frequency tokens (count 12 each) + 2 heavy ones
    rows = [(i, " ".join(f"mid{j}" for j in range(400)) + " hot hot hot")
            for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id int, text string") \
        .repartition(6)
    got = {r["token"]: r["cnt"]
           for r in heavy_hitters(docs, min_count=12).collect()}
    toks = docs.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+"))
                       .alias("token")).filter(F.col("token") != "")
    truth = {r["token"]: r["cnt"] for r in
             toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
                 .filter(F.col("cnt") >= 12).collect()}
    assert got == truth and len(truth) == 401


def test_dq_checks_approx_unique(spark):
    """approx=True swaps the exact distinct for HyperLogLog++ inside
    the same single-pass gate; on a small distinct set HLL is exact,
    and an empty table still fails."""
    from seatunnel_spark.dataops.profile import dq_checks

    df = spark.createDataFrame([(i % 7,) for i in range(70)], "k int")
    rules = [{"name": "u_exact", "kind": "unique", "col": "k", "min": 0.05},
             {"name": "u_approx", "kind": "unique", "col": "k",
              "min": 0.05, "approx": True}]
    got = {r["check"]: r for r in dq_checks(df, rules).collect()}
    assert got["u_exact"]["passed"] and got["u_approx"]["passed"]
    assert abs(got["u_approx"]["metric"] - 0.1) < 1e-9
    empty = spark.createDataFrame([], "k int")
    got2 = dq_checks(empty, rules).collect()
    assert all(not r["passed"] for r in got2)


def test_ddsketch_merge_equals_whole_and_error_bound(spark):
    """Merging per-half sketches is bit-identical to one whole-table
    build (counts are additive), and every quantile estimate is within
    the alpha relative-error guarantee of the exact quantile."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.sketches import (
        ddsketch_build, ddsketch_merge, ddsketch_quantiles)

    vals = [(i, float(1.5 ** (i % 37)) + i * 0.01) for i in range(4000)]
    df = spark.createDataFrame(vals, "k long, v double").repartition(8)
    whole = ddsketch_build(df, "v", alpha=0.02)
    merged = ddsketch_merge(
        ddsketch_build(df.filter("k % 2 = 0"), "v", alpha=0.02),
        ddsketch_build(df.filter("k % 2 = 1"), "v", alpha=0.02))
    assert (sorted(map(tuple, merged.collect()))
            == sorted(map(tuple, whole.collect())))
    qs = [0.01, 0.25, 0.5, 0.75, 0.9, 0.99]
    est = {r["q"]: r["est"]
           for r in ddsketch_quantiles(merged, qs, alpha=0.02).collect()}
    exact = df.agg(*[F.expr(f"percentile(v, {q})").alias(str(q))
                     for q in qs]).collect()[0]
    for q in qs:
        t = exact[str(q)]
        assert abs(est[q] - t) / abs(t) <= 0.02 + 1e-6, (q, est[q], t)


def test_ddsketch_sign_domains_and_validation(spark):
    """Negative/zero/positive values keep true order through the
    mirrored-index walk; q=0/q=1 hit the extremes; bad alpha raises."""
    import pytest as _pytest

    from seatunnel_spark.dataops.sketches import (
        ddsketch_build, ddsketch_merge, ddsketch_quantiles)

    df = spark.createDataFrame(
        [(x,) for x in [-100.0, -1.0, 0.0, 0.0, 5.0, 50.0, 500.0]],
        "v double")
    sk = ddsketch_build(df, "v")
    got = {r["q"]: r["est"]
           for r in ddsketch_quantiles(sk, [0.0, 0.3, 0.5, 1.0]).collect()}
    assert got[0.0] < -99 and abs(got[0.3] + 1.0) < 0.02
    assert got[0.5] == 0.0 and abs(got[1.0] - 500.0) <= 5.0
    with _pytest.raises(ValueError, match="alpha"):
        ddsketch_build(df, "v", alpha=1.5)
    with _pytest.raises(ValueError, match="no sketches"):
        ddsketch_merge()


def test_ddsketch_grouped_matches_per_group_builds(spark):
    """Grouped build == independent per-group builds, and per-group
    estimates respect the alpha bound against exact percentiles."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.sketches import (
        ddsketch_build, ddsketch_build_grouped, ddsketch_quantiles,
        ddsketch_quantiles_grouped)

    rows = [(("a" if i % 3 else "b"), float(1.2 ** (i % 50)) + i * 0.003)
            for i in range(3000)]
    df = spark.createDataFrame(rows, "g string, v double").repartition(8)
    sk = ddsketch_build_grouped(df, ["g"], "v")
    for grp in ("a", "b"):
        part = {(r["kind"], r["idx"]): r["cnt"]
                for r in sk.filter(F.col("g") == grp)
                .select("kind", "idx", "cnt").collect()}
        solo = {(r["kind"], r["idx"]): r["cnt"]
                for r in ddsketch_build(df.filter(F.col("g") == grp),
                                        "v").collect()}
        assert part == solo
    qs = [0.5, 0.95]
    got = {(r["g"], r["q"]): r["est"]
           for r in ddsketch_quantiles_grouped(sk, ["g"], qs).collect()}
    # the DDSketch guarantee is against the rank-floor(q*(n-1)) ORDER
    # STATISTIC (the disc quantile) — not Spark's interpolated
    # percentile(), which can land between order stats that are
    # farther than alpha apart on sparse geometric data
    import math as _math
    for grp in ("a", "b"):
        sub = df.filter(F.col("g") == grp)
        vals = sorted(r["v"] for r in sub.collect())
        for q in qs:
            t = vals[_math.floor(q * (len(vals) - 1))]
            assert abs(got[(grp, q)] - t) / abs(t) <= 0.01 + 1e-6
        solo_est = {r["q"]: r["est"] for r in ddsketch_quantiles(
            ddsketch_build(sub, "v"), qs).collect()}
        for q in qs:
            assert got[(grp, q)] == solo_est[q]


def test_leakage_safe_split_no_text_straddles_splits(spark):
    """Duplicate texts with DIFFERENT ids must land in one split (the
    exact failure mode an id-hash split permits), and cluster_col
    moves whole near-dup clusters together."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.sampling import (leakage_safe_split,
                                                  split_assign)

    rows = [(i, f"text number {i % 40}") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, text string") \
        .repartition(8)
    s = leakage_safe_split(df, "text", train=0.6, val=0.2)
    spans = (s.groupBy("text")
             .agg(F.count_distinct("split").alias("k"))
             .filter(F.col("k") > 1).count())
    assert spans == 0
    # the id split DOES straddle on this corpus — the guard is real
    bad = (split_assign(df, train=0.6, val=0.2)
           .groupBy("text")
           .agg(F.count_distinct("split").alias("k"))
           .filter(F.col("k") > 1).count())
    assert bad > 0
    # cluster mode: everything with one cluster id moves together
    cl = df.withColumn("cid", (F.col("doc_id") % 5))
    sc = leakage_safe_split(cl, "text", cluster_col="cid",
                            train=0.6, val=0.2)
    spans_c = (sc.groupBy("cid")
               .agg(F.count_distinct("split").alias("k"))
               .filter(F.col("k") > 1).count())
    assert spans_c == 0


def test_bpe_learn_matches_reference_implementation(spark):
    """The distributed greedy loop must reproduce the classic
    single-machine BPE trainer exactly: same merges, same order, same
    frequencies — including overlap semantics (greedy leftmost:
    'aaa' + merge (a,a) -> ['aa','a'])."""
    import collections

    from seatunnel_spark.dataops.text import bpe_learn

    corpus = ["low low lower lowest new newer",
              "wider new low aaa aaa baaa"]

    def reference(texts, n):
        vocab = collections.Counter()
        for t in texts:
            for w in t.lower().split():
                vocab[tuple(list(w) + ["</w>"])] += 1
        merges = []
        for rank in range(n):
            pairs = collections.Counter()
            for syms, f in vocab.items():
                for i in range(len(syms) - 1):
                    pairs[(syms[i], syms[i + 1])] += f
            if not pairs:
                break
            (a, b), cnt = min(pairs.items(),
                              key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
            merges.append((rank, a, b, cnt))
            new = collections.Counter()
            for syms, f in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if (i + 1 < len(syms) and syms[i] == a
                            and syms[i + 1] == b):
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                new[tuple(out)] += f
            vocab = new
        return merges

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "id int, text string"
    ).repartition(4)
    got = [(r["merge_rank"], r["left"], r["right"], r["freq"])
           for r in bpe_learn(df, n_merges=8).collect()]
    assert got == reference(corpus, 8)
    # overlap case is actually exercised: 'aaa' must appear merged
    lefts = {(a, b) for _, a, b, _ in got}
    assert ("a", "a") in lefts


def test_rrf_fuse_known_rankings(spark):
    """RRF: a doc ranked well by BOTH lists outranks a doc that tops
    only one; docs missing from a list contribute only their present
    terms; ties break on match_id."""
    from seatunnel_spark.dataops.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10, 0.9, 1), (1, 11, 0.8, 2), (1, 12, 0.7, 3)],
        "query_id int, match_id int, score double, rank int")
    b = spark.createDataFrame(
        [(1, 11, 5.0, 1), (1, 13, 4.0, 2)],
        "query_id int, match_id int, score double, rank int")
    got = [(r["match_id"], r["rrf_score"], r["rank"])
           for r in rrf_fuse([a, b]).orderBy("rank").collect()]
    # 11: 1/62 + 1/61; 10: 1/61; 13: 1/62; 12: 1/63
    exp = sorted(
        [(11, round(1 / 62 + 1 / 61, 6)), (10, round(1 / 61, 6)),
         (13, round(1 / 62, 6)), (12, round(1 / 63, 6))],
        key=lambda t: (-t[1], t[0]))
    assert [(m, s) for m, s, _ in got] == exp
    assert [r for _, _, r in got] == [1, 2, 3, 4]
    assert got[0][0] == 11  # consensus doc wins
    # topk cut
    assert rrf_fuse([a, b], topk=2).count() == 2


def test_hll_accuracy_merge_identity_and_linear_range(spark):
    """HLL: estimate within the theoretical error envelope at p=8
    (sigma ~ 1.04/sqrt(256) = 6.5%); merging per-half sketches is
    BIT-IDENTICAL to one build over the union; the small-range linear
    counting branch handles tiny cardinalities; grouped build groups
    independently."""
    from seatunnel_spark.dataops.sketches import (hll_build,
                                                  hll_build_grouped,
                                                  hll_estimate, hll_merge)

    df = spark.createDataFrame([(i,) for i in range(10_000)], "v long")
    est = hll_estimate(hll_build(df, "v"), []).collect()[0]["est"]
    assert abs(est - 10_000) / 10_000 < 0.15, est
    # mergeability: two disjoint halves -> identical register table
    a = hll_build(df.filter("v < 5000"), "v")
    b = hll_build(df.filter("v >= 5000"), "v")
    merged = {(r["reg"], r["rho"]) for r in hll_merge(a, b).collect()}
    single = {(r["reg"], r["rho"]) for r in hll_build(df, "v").collect()}
    assert merged == single
    # idempotent under replay (at-least-once delivery)
    again = {(r["reg"], r["rho"])
             for r in hll_merge(a, b, a).collect()}
    assert again == single
    # linear-counting small range
    small = spark.createDataFrame([(i % 30,) for i in range(500)],
                                  "v long")
    est_s = hll_estimate(hll_build(small, "v"), []).collect()[0]["est"]
    assert abs(est_s - 30) / 30 < 0.2, est_s
    # grouped: per-group estimates track per-group cardinalities
    g = spark.createDataFrame(
        [("x", i) for i in range(2000)] + [("y", i) for i in range(50)],
        "g string, v long")
    ge = {r["g"]: r["est"] for r in
          hll_estimate(hll_build_grouped(g, ["g"], "v"), ["g"]).collect()}
    assert abs(ge["x"] - 2000) / 2000 < 0.15
    assert abs(ge["y"] - 50) / 50 < 0.2


def test_bpe_encode_matches_reference_and_trainer(spark):
    """bpe_encode must apply the learned table with the trainer's own
    semantics: rank-ordered merges, each exhaustively leftmost-first.
    Checked against a pure-Python encoder on every distinct word —
    including the overlap case ('aaa' -> ['aa','a']) — and exercised
    across the chunked localCheckpoint barrier (materialize_every=2)."""
    from seatunnel_spark.dataops.text import (bpe_encode,
                                              bpe_encode_docs, bpe_learn,
                                              bpe_token_counts)

    corpus = ["low low lower lowest new newer",
              "wider new low aaa aaa baaa"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "id int, text string"
    ).repartition(4)
    merges = bpe_learn(df, n_merges=8)
    table = [(r["left"], r["right"])
             for r in merges.orderBy("merge_rank").collect()]

    def ref_encode(word):
        syms = list(word) + ["</w>"]
        for a, b in table:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    for me in (64, 2):  # single-select and chunked-barrier paths
        got = {r["word"]: (r["freq"], r["tokens"], r["n_tokens"])
               for r in bpe_encode(df, merges,
                                   materialize_every=me).collect()}
        words = [w for t in corpus for w in t.lower().split()]
        assert set(got) == set(words)
        for w in set(words):
            exp = ref_encode(w)
            assert got[w] == (words.count(w), exp, len(exp)), w
    # the list form of the merge table is accepted too
    got2 = {r["word"]: r["tokens"]
            for r in bpe_encode(df, table).collect()}
    assert got2["aaa"] == ref_encode("aaa")
    # corpus token frequencies = sum over words of freq per token
    tc = {r["token"]: r["cnt"]
          for r in bpe_token_counts(df, merges).collect()}
    import collections
    exp_tc = collections.Counter()
    for w in [w for t in corpus for w in t.lower().split()]:
        for t in ref_encode(w):
            exp_tc[t] += 1
    assert tc == dict(exp_tc)
    # per-doc rollup
    docs = {r["id"]: (r["n_words"], r["n_tokens"])
            for r in bpe_encode_docs(df, merges, id_col="id").collect()}
    for i, t in enumerate(corpus):
        ws = t.lower().split()
        assert docs[i] == (len(ws), sum(len(ref_encode(w)) for w in ws))


def test_event_transitions_probabilities(spark):
    """Rows sum to 1 per from-state; counts follow the (ts, event_id)
    order with deterministic tie-breaks; last event has no outgoing
    transition."""
    import datetime as _dt

    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.analytics import event_transitions

    t0 = _dt.datetime(2024, 1, 1)
    rows = [  # user 1: a->b->a ; user 2: a->b (tie broken by event_id)
        (1, t0, 1, "a"), (2, t0 + _dt.timedelta(1), 1, "b"),
        (3, t0 + _dt.timedelta(2), 1, "a"),
        (10, t0, 2, "a"), (11, t0, 2, "b"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string")
    got = {(r["from_type"], r["to_type"]): (r["n"], r["prob"])
           for r in event_transitions(df).collect()}
    assert got == {("a", "b"): (2, 1.0), ("b", "a"): (1, 1.0)}
    sums = (event_transitions(df).groupBy("from_type")
            .agg(F.round(F.sum("prob"), 4).alias("s")).collect())
    assert all(r["s"] == 1.0 for r in sums)


def test_degree_distribution(spark):
    from seatunnel_spark.dataops.graph import degree_distribution

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3)], "src long, dst long")
    got = {r["degree"]: r["n_vertices"]
           for r in degree_distribution(edges).collect()}
    # deg(1)=3, deg(2)=2, deg(3)=2, deg(4)=1
    assert got == {3: 1, 2: 2, 1: 1}


def test_winsorize_bounds_and_clipping(spark):
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.analytics import winsorize

    rows = [("g", float(v)) for v in range(1, 101)] + [("g", 1e9)]
    df = spark.createDataFrame(rows, "grp string, v double").repartition(4)
    out = winsorize(df, "grp", "v", lo=0.1, hi=0.9)
    mx = out.agg(F.max("v_w")).collect()[0][0]
    mn = out.agg(F.min("v_w")).collect()[0][0]
    hi = out.select("clip_hi").first()["clip_hi"]
    lo = out.select("clip_lo").first()["clip_lo"]
    assert mx == hi and mn == lo
    assert mx < 1e6  # the outlier is clipped to ~p90 of the group
    assert out.count() == 101  # no rows dropped


def test_mixture_plan_and_apply_budget(spark):
    """The plan's expected token take equals the target per domain,
    upsampling emits complete full epochs plus a hash-sampled
    fractional pass, and zero-weight domains vanish."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.sampling import mixture_apply, mixture_plan

    rows = [(i, ("a " * 10).strip(), "big" if i < 80 else "small")
            for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    # big: 800 tokens, small: 200 tokens
    plan = mixture_plan(df, "source", {"big": 0.25, "small": 0.75},
                        token_budget=800)
    p = {r["domain"]: r for r in plan.collect()}
    assert p["big"]["target_tokens"] == 200 and p["big"]["rate"] == 0.25 \
        and p["big"]["epochs"] == 1
    assert p["small"]["target_tokens"] == 600 and p["small"]["rate"] == 3.0 \
        and p["small"]["epochs"] == 3
    out = mixture_apply(df, plan, "source")
    per = {(r["source"], r["epoch"]): r["n"] for r in
           out.groupBy("source", "epoch")
           .agg(F.count(F.lit(1)).alias("n")).collect()}
    # small rate=3.0 exactly: all three epochs complete (frac = 1.0)
    assert per[("small", 1)] == per[("small", 2)] == per[("small", 3)] == 20
    # big rate=0.25: one partial epoch, ~25% of 80 docs by hash
    assert 10 <= per[("big", 1)] <= 30
    # determinism: same draw twice
    a = sorted(map(tuple, out.select("doc_id", "epoch").collect()))
    b = sorted(map(tuple, mixture_apply(df, plan, "source")
                   .select("doc_id", "epoch").collect()))
    assert a == b
    # zero-weight domain produces nothing
    plan0 = mixture_plan(df, "source", {"big": 1.0}, token_budget=100)
    assert mixture_apply(df, plan0, "source") \
        .filter("source = 'small'").count() == 0


def test_equidepth_histogram_balanced_and_constant(spark):
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.analytics import equidepth_histogram

    # heavily skewed data: equi-depth must still balance counts
    rows = [(float(i),) for i in range(80)] + [(1e6 + i,) for i in range(20)]
    df = spark.createDataFrame(rows, "v double").repartition(4)
    got = equidepth_histogram(df, "v", n_bins=5).collect()
    counts = [r["cnt"] for r in sorted(got, key=lambda r: r["bin"])]
    assert sum(counts) == 100
    assert max(counts) <= 25  # no bin takes more than ~2x the ideal 20
    # constant column: everything in bin 0, no crash
    c = spark.createDataFrame([(3.5,)] * 7, "v double")
    one = equidepth_histogram(c, "v", n_bins=4).collect()
    assert len(one) == 1 and one[0]["bin"] == 0 and one[0]["cnt"] == 7


def test_seasonal_decompose_recovers_pure_seasonality(spark):
    """On base + weekly effect data the decomposition is exact: trend
    = base + mean(effect), seasonal = centered effect, resid = 0 for
    every full-window day."""
    import datetime as _dt

    from seatunnel_spark.dataops.timeseries import seasonal_decompose

    base, effects = 100, [0, 10, 20, -5, -10, 5, -20]
    t0 = _dt.date(2024, 1, 1)
    rows = []
    eid = 0
    for d in range(28):
        day = t0 + _dt.timedelta(days=d)
        phase = (day - _dt.date(1970, 1, 1)).days % 7
        for _ in range(base + effects[phase]):
            rows.append((eid, _dt.datetime.combine(day, _dt.time(12))))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp") \
        .repartition(8)
    out = {r["day"].isoformat(): r for r in
           seasonal_decompose(df, "ts", "count(1)", period=7).collect()}
    assert len(out) == 28
    mean_eff = sum(effects) / 7
    full = [r for r in out.values() if r["trend"] is not None]
    assert len(full) == 22  # 28 days - 3 head - 3 tail
    for r in full:
        assert abs(r["trend"] - (base + mean_eff)) < 1e-9
        assert abs(r["resid"]) < 1e-9
        phase = (r["day"] - _dt.date(1970, 1, 1)).days % 7
        assert abs(r["seasonal"] - (effects[phase] - mean_eff)) < 1e-9


def test_bigram_logprob_detects_token_salad(spark):
    """Documents made of the corpus's own words in scrambled order
    must score below the fluent documents they were scrambled from —
    the discrimination a unigram LM cannot make (identical unigram
    distributions by construction)."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.text import bigram_logprob, unigram_logprob

    fluent = "the quick brown fox jumps over the lazy dog"
    salad = "dog the over quick lazy jumps fox brown the"
    rows = [(i, fluent) for i in range(20)] + [(100, salad)]
    df = spark.createDataFrame(rows, "doc_id long, text string") \
        .repartition(4)
    bg = {r["doc_id"]: r["avg_logprob"]
          for r in bigram_logprob(df).collect()}
    assert bg[100] < bg[0] - 1.0  # clearly separated
    ug = {r["doc_id"]: r["avg_logprob"]
          for r in unigram_logprob(df).collect()}
    assert abs(ug[100] - ug[0]) < 1e-9  # unigram model is blind to it


def test_source_novelty_attribution(spark):
    """A mirror source republishing another's content scores 0; the
    origin source keeps full credit; unique content counts for both."""
    from seatunnel_spark.dataops.text import source_novelty

    rows = [(1, "alpha", "origin"), (2, "beta", "origin"),
            (10, "alpha", "mirror"), (11, "beta", "mirror"),
            (20, "gamma", "fresh")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["source"]: (r["n_docs"], r["n_novel"], r["novelty_rate"])
           for r in source_novelty(df).collect()}
    assert got == {"origin": (2, 2, 1.0), "mirror": (2, 0, 0.0),
                   "fresh": (1, 1, 1.0)}


def test_benford_check_detects_uniform_fabrication(spark):
    """Multi-scale (log-uniform) data tracks Benford closely; uniform
    'fabricated' data deviates heavily on digit 1."""
    from seatunnel_spark.dataops.profile import benford_check

    natural = [(round(10 ** (i * 5 / 2999.0), 6),) for i in range(3000)]
    ndf = spark.createDataFrame(natural, "v double")
    ng = {r["digit"]: r for r in benford_check(ndf, "v").collect()}
    assert set(ng) == set(range(1, 10))
    assert abs(ng[1]["obs_share"] - 0.30103) < 0.02
    assert all(r["abs_dev"] < 0.02 for r in ng.values())
    uniform = [(1000.0 + i,) for i in range(9000)]
    ug = {r["digit"]: r for r in
          benford_check(spark.createDataFrame(uniform, "v double"),
                        "v").collect()}
    # uniform digits 1..9 (~0.111 each): digit 1 starved of its 0.301
    # share, digit 9 far above its 0.046 — the fabrication signature
    assert ug[1]["abs_dev"] > 0.15 and ug[9]["abs_dev"] > 0.05


def test_inter_event_stats_bot_signature(spark):
    """A metronome bot (fixed 10s cadence) shows IQR 0; a bursty human
    shows wide IQR; single-event entities are excluded; sub-second
    gaps keep their fractional part."""
    import datetime as _dt

    from seatunnel_spark.dataops.analytics import inter_event_stats

    t0 = _dt.datetime(2024, 5, 1)
    rows = [(i, t0 + _dt.timedelta(seconds=10 * i), 1) for i in range(20)]
    human_gaps = [1, 2, 60, 3, 600, 5, 30, 7200]
    t, eid = t0, 100
    for g in human_gaps:
        t += _dt.timedelta(seconds=g)
        rows.append((eid, t, 2)); eid += 1
    rows.append((200, t0, 3))  # single event -> excluded
    rows.append((300, t0, 4))
    rows.append((301, t0 + _dt.timedelta(milliseconds=250), 4))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long")
    got = {r["entity"]: r for r in inter_event_stats(df).collect()}
    assert set(got) == {1, 2, 4}
    assert got[1]["median_gap_s"] == 10.0 and got[1]["iqr_s"] == 0.0
    assert got[2]["iqr_s"] > 50
    assert got[4]["median_gap_s"] == 0.25


def test_connected_components_multi_component(spark):
    """Chain, isolated pair, and triangle-with-pendant each get the
    canonical min-id label; nothing leaks across components."""
    from seatunnel_spark.dataops.graph import connected_components

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11),
         (20, 21), (21, 22), (20, 22), (22, 23)], ["src", "dst"])
    got = {r["node"]: r["component"]
           for r in connected_components(df).collect()}
    assert {n: got[n] for n in (1, 2, 3, 4, 5)} == dict.fromkeys(
        (1, 2, 3, 4, 5), 1)
    assert got[10] == got[11] == 10
    assert {n: got[n] for n in (20, 21, 22, 23)} == dict.fromkeys(
        (20, 21, 22, 23), 20)


def test_connected_components_converges_on_long_path(spark):
    """A 64-node path (diameter 63) labels every node 0 under default
    arguments, with ids in path order and shuffled. Min-label
    propagation takes 64 rounds in order and 54 shuffled; the loop
    runs until no label changes, so no round cap can hand back a
    partial labeling."""
    import random

    from seatunnel_spark.dataops.graph import connected_components

    in_order = list(range(64))
    shuffled = in_order[:]
    random.Random(7).shuffle(shuffled)
    for ids in (in_order, shuffled):
        path = spark.createDataFrame(
            [(ids[i], ids[i + 1]) for i in range(63)], ["src", "dst"])
        got = {r["node"]: r["component"]
               for r in connected_components(path).collect()}
        assert len(got) == 64 and set(got.values()) == {0}


def test_checkpoint_observed_metric_and_truncation(spark):
    """_checkpoint_observed (round 12): the convergence probe of every
    iterative graph loop rides the round's own checkpoint job as an
    observed metric — the returned count must equal the separate
    count() it replaced, the returned frame must be lineage-truncated
    (an RDD scan), and an empty frame must observe 0, not None."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.graph import _checkpoint_observed

    df = spark.range(100).withColumn("chg", F.col("id") % 10 == 0)
    out, n = _checkpoint_observed(df, F.sum(F.col("chg").cast("long")))
    assert n == 10 == out.filter("chg").count()
    assert out.count() == 100 and out.columns == ["id", "chg"]
    # truncated lineage: the checkpointed frame plans as an RDD scan
    assert "ExistingRDD" in out._jdf.queryExecution() \
        .executedPlan().toString()
    empty, n0 = _checkpoint_observed(
        df.filter("id < 0"), F.sum(F.col("chg").cast("long")))
    assert n0 == 0 and empty.count() == 0


def test_bcast_if_small_hints_only_measured_small_sides(spark):
    """_bcast_if_small (round 12): the iterative loops know each
    state table's exact row count from the observed metrics and hint
    it broadcast only within _BCAST_ROWS — a measured-size condition,
    not a local[32] constant. Over the bound the frame must pass
    through unhinted (at scale the planner keeps its own strategy)."""
    from seatunnel_spark.dataops.graph import (_BCAST_ROWS,
                                               _bcast_if_small)

    small = spark.range(10)
    big_claim = _bcast_if_small(small, _BCAST_ROWS + 1)
    hinted = _bcast_if_small(small, 10)
    # the hint lives in the analyzed logical plan
    assert "ResolvedHint" in hinted._jdf.queryExecution() \
        .analyzed().toString()
    assert "ResolvedHint" not in big_claim._jdf.queryExecution() \
        .analyzed().toString()
    # hinted frontier joins plan as BroadcastHashJoin even with the
    # auto-broadcast estimate unavailable (RDD-scan side)
    ck = spark.range(1000).localCheckpoint()
    j = ck.join(_bcast_if_small(spark.range(5), 5), "id")
    assert "BroadcastHashJoin" in j._jdf.queryExecution() \
        .executedPlan().toString()


def test_label_propagation_two_rounds_hand_check(spark):
    """Synchronous LPA, 2 rounds, deterministic tie-break (most
    frequent neighbor label, ties to the smallest) — hand-computed on
    a chain and a triangle-with-pendant. Chain oscillation (classic
    sync-LPA behavior on bipartite-ish structure) is part of the
    deterministic contract, not smoothed over."""
    from seatunnel_spark.dataops.graph import label_propagation

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (20, 21), (21, 22), (20, 22), (22, 23)], ["src", "dst"])
    got = {r["node"]: r["label"]
           for r in label_propagation(df, iters=2).collect()}
    # chain 1-2-3-4-5: r1 = {1:2, 2:1, 3:2, 4:3, 5:4};
    # r2: 1<-l(2)=1; 2<-mode{l(1)=2, l(3)=2}=2; 3<-tie{1,3}->1;
    #     4<-tie{2,4}->2; 5<-l(4)=3
    assert {n: got[n] for n in (1, 2, 3, 4, 5)} == {
        1: 1, 2: 2, 3: 1, 4: 2, 5: 3}
    # triangle 20-21-22 + pendant 23 converges onto 20 in 2 rounds
    assert {n: got[n] for n in (20, 21, 22, 23)} == dict.fromkeys(
        (20, 21, 22, 23), 20)


def test_k_core_peel_cascade(spark):
    """K4 minus one edge: initial degrees (3,3,2,2) all survive k=2,
    but k=3 peeling CASCADES to empty (dropping the two degree-2
    vertices leaves the rest under-degree) — the multi-round fixpoint
    a single degree filter would get wrong."""
    from seatunnel_spark.dataops.graph import k_core

    k4_minus = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)], ["src", "dst"])
    core2 = sorted((r["node"], r["degree"])
                   for r in k_core(k4_minus, 2).collect())
    assert core2 == [(1, 3), (2, 3), (3, 2), (4, 2)]
    assert k_core(k4_minus, 3).count() == 0
    # a pendant chain hanging off a triangle peels away at k=2
    df = spark.createDataFrame(
        [(20, 21), (21, 22), (20, 22), (22, 23), (23, 24)],
        ["src", "dst"])
    core = sorted((r["node"], r["degree"])
                  for r in k_core(df, 2).collect())
    assert core == [(20, 2), (21, 2), (22, 2)]


def test_k_core_peels_a_long_path_to_empty(spark):
    """A 100-node path at k=2 loses only its two end vertices per
    round, so the peel takes 50 rounds. It runs until a round drops
    nothing, so the 2-core comes back empty, not a partly peeled
    path."""
    from seatunnel_spark.dataops.graph import k_core

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], ["src", "dst"])
    assert k_core(path, 2).count() == 0


def test_canonical_url_rules(spark):
    """Each normalization rule hand-checked: case, www, default port,
    userinfo, tracking params, param sort, trailing slash, fragment,
    path-case preservation, non-http ports kept, relative passthrough."""
    from seatunnel_spark.dataops.web import canonical_url

    cases = [
        ("HTTPS://WWW.Ex.COM:443/A/b/?utm_source=x&b=2&a=1#f",
         "https://ex.com/A/b?a=1&b=2"),
        ("http://user:pw@ex.com:80/", "http://ex.com/"),
        ("http://ex.com", "http://ex.com/"),
        ("https://ex.com:8443/x", "https://ex.com:8443/x"),  # non-default port kept
        ("https://ex.com/x?gclid=1&fbclid=2&ref=3", "https://ex.com/x"),
        ("https://ex.com/x?ref=3&refresh=1", "https://ex.com/x?refresh=1"),
        ("ftp://Ex.com:80/f", "ftp://ex.com:80/f"),  # :80 only default for http
        ("not-a-url", "not-a-url"),
        ("  https://ex.com/x  ", "https://ex.com/x"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["url"])
    got = [r["c"] for r in
           df.select(canonical_url("url").alias("c")).collect()]
    for (u, want), c in zip(cases, got):
        assert c == want, f"{u!r}: got {c!r}, want {want!r}"


def test_url_dedup_groups(spark):
    """http/https-variant, www-variant, and tracking-param-variant
    fetches of one page collapse to a single group with the min id
    as keeper; a genuinely different query param does not collapse."""
    from seatunnel_spark.dataops.web import url_dedup_groups

    df = spark.createDataFrame([
        (1, "https://ex.com/a?utm_source=x"),
        (2, "HTTPS://www.ex.com/a/"),
        (3, "https://ex.com:443/a#top"),
        (4, "https://ex.com/a?page=2"),
    ], ["doc_id", "url"])
    got = {r["canon_url"]: (r["n_docs"], r["keeper_id"])
           for r in url_dedup_groups(df, "url", "doc_id").collect()}
    assert got["https://ex.com/a"] == (3, 1)
    assert got["https://ex.com/a?page=2"] == (1, 4)


def test_hll_intersect_estimate_known_overlap(spark):
    """A = 1..4000, B = 2001..6000 (overlap 2000): the
    inclusion-exclusion estimate lands within the compounded
    3·1.04/√256 ≈ 20% band, and est_union <= est_a + est_b."""
    from seatunnel_spark.dataops.sketches import (hll_build,
                                                  hll_intersect_estimate)

    a = hll_build(spark.range(1, 4001).selectExpr("id AS v"), "v", p=8)
    b = hll_build(spark.range(2001, 6001).selectExpr("id AS v"), "v", p=8)
    row = hll_intersect_estimate(a, b, p=8).collect()[0]
    assert abs(row["est_a"] - 4000) / 4000 < 0.2
    assert abs(row["est_b"] - 4000) / 4000 < 0.2
    assert abs(row["est_union"] - 6000) / 6000 < 0.2
    assert abs(row["est_intersection"] - 2000) / 2000 < 0.45
    assert row["est_union"] <= row["est_a"] + row["est_b"]


def test_pq_roundtrip_and_recall(spark):
    """Trained PQ (m=4, k=16 on the sf0.001 embeddings): encoding is
    m codes in [0, k); every query's own vector appears in its ADC
    top-10 (same codes -> minimal quantization distance); recall@10
    vs exact L2 ground truth clears a modest floor (coarse 4x16
    codebooks on 64-dim data)."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.similarity import (pq_encode, pq_topk,
                                                    pq_train)

    e = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
         .withColumn("embedding",
                     F.transform("embedding", lambda x: x.cast("double"))))
    books = pq_train(e, m=4, k=16, iters=2)
    assert len(books) == 4 and all(len(b) == 16 for b in books)
    assert all(len(c) == 16 for b in books for c in b)

    codes = pq_encode(e, books).select("vec_id", "codes")
    crow = codes.filter(F.col("vec_id") == 0).collect()[0]["codes"]
    assert len(crow) == 4 and all(0 <= c < 16 for c in crow)

    q = e.filter(F.col("vec_id") < 5)
    approx = pq_topk(q, codes, books, "vec_id", "vec_id", k=10,
                     round_to=4)
    got = [(r["query_id"], r["match_id"]) for r in approx.collect()]
    for qid in range(5):
        assert (qid, qid) in got, f"query {qid} lost its own vector"

    # exact L2 ground truth
    a = q.select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv"))
    b = e.select(F.col("vec_id").alias("cid"),
                 F.col("embedding").alias("cv"))
    d2 = F.aggregate(F.zip_with("qv", "cv", lambda x, y: (x-y)*(x-y)),
                     F.lit(0.0), lambda acc, v: acc + v)
    from pyspark.sql import Window
    w = Window.partitionBy("qid").orderBy(F.col("d").asc(),
                                          F.col("cid").asc())
    truth = (a.join(b).select("qid", "cid", d2.alias("d"))
             .withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") <= 10))
    t = {(r["qid"], r["cid"]) for r in truth.collect()}
    recall = len(set(got) & t) / len(t)
    assert recall >= 0.3, f"recall@10 {recall} below floor"


def test_pq_train_validates_divisibility(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.similarity import pq_train

    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])],
                               ["vec_id", "embedding"])
    with _pytest.raises(ValueError, match="not divisible"):
        pq_train(df, m=2, k=1, iters=1)


def test_zipf_fit_power_law_vs_flat(spark):
    """A corpus engineered with freq(rank r) = 1000//r fits slope ~ -1
    with high r²; a flat 'template spam' corpus (all tokens equally
    frequent) degenerates toward slope 0."""
    from seatunnel_spark.dataops.text import zipf_fit

    words = []
    for r in range(1, 51):
        words += [f"w{r:03d}"] * (1000 // r)
    # chunk into docs of 200 words
    docs = [(i, " ".join(words[i * 200:(i + 1) * 200]))
            for i in range(len(words) // 200 + 1)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    row = zipf_fit(df, max_terms=50).collect()[0]
    assert row["n_terms"] == 50
    assert -1.15 < row["slope"] < -0.85
    assert row["r2"] > 0.95

    flat = spark.createDataFrame(
        [(i, "aa bb cc dd ee") for i in range(20)], ["doc_id", "text"])
    frow = zipf_fit(flat).collect()[0]
    assert frow["slope"] == 0.0 or abs(frow["slope"]) < 1e-6


def test_vocab_growth_saturation_and_growth(spark):
    """Docs 0-9 share one vocab; docs 10-19 introduce a second one:
    the cumulative vocab curve steps up exactly at the second half,
    while token counts grow linearly throughout."""
    from seatunnel_spark.dataops.text import vocab_growth

    rows = [(i, "alpha beta gamma") for i in range(10)]
    rows += [(i, "delta epsilon zeta") for i in range(10, 20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["bucket"]: r for r in
           vocab_growth(df, buckets=4).collect()}
    assert got[0]["vocab_cum"] == 3 and got[1]["vocab_cum"] == 3
    assert got[3]["vocab_cum"] == 6
    assert got[3]["docs_cum"] == 20 and got[3]["tokens_cum"] == 60


def test_skew_report_hand_computed(spark):
    """a×6, b×3, c×1: shares, cumulative head, skew_ratio vs the
    average reducer load, and normalized entropy all hand-checked."""
    import math

    from seatunnel_spark.dataops.skew import skew_report

    rows = [("a",)] * 6 + [("b",)] * 3 + [("c",)]
    df = spark.createDataFrame(rows, ["k"])
    got = {r["key"]: r for r in skew_report(df, "k", top=3).collect()}
    assert got["a"]["cnt"] == 6 and got["a"]["share"] == 0.6
    assert got["a"]["skew_ratio"] == round(6 / (10 / 3), 6)
    assert got["b"]["cum_share"] == 0.9
    assert got["c"]["cum_share"] == 1.0
    ent = -(0.6 * math.log(0.6) + 0.3 * math.log(0.3)
            + 0.1 * math.log(0.1)) / math.log(3)
    assert got["a"]["entropy_norm"] == round(ent, 6)
    assert got["a"]["n_keys"] == 3

    # single-key table: entropy 0, ratio 1
    one = skew_report(spark.createDataFrame([("x",)] * 4, ["k"]),
                      "k").collect()[0]
    assert one["entropy_norm"] == 0.0 and one["skew_ratio"] == 1.0


def test_touch_attribution_segments(spark):
    """view,click,PURCHASE,view,PURCHASE,PURCHASE: each conversion is
    credited with exactly its segment's touches; a back-to-back
    conversion gets zero touches and null first/last."""
    import datetime as _dt

    from seatunnel_spark.dataops.analytics import touch_attribution

    t0 = _dt.datetime(2024, 4, 1)
    evs = [(1, "view"), (2, "click"), (3, "purchase"),
           (4, "view"), (5, "purchase"), (6, "purchase")]
    rows = [(eid, t0 + _dt.timedelta(minutes=eid), 7, ty)
            for eid, ty in evs]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
              " event_type string")
    got = {r["conv_id"]: r for r in
           touch_attribution(df, "user_id", "ts", "event_type",
                             "purchase", "event_id").collect()}
    assert got[3]["first_touch"] == "view"
    assert got[3]["last_touch"] == "click"
    assert got[3]["n_touches"] == 2
    assert got[5]["first_touch"] == got[5]["last_touch"] == "view"
    assert got[5]["n_touches"] == 1
    assert got[6]["first_touch"] is None and got[6]["n_touches"] == 0


def test_hll_rolling_estimate_tracks_exact(spark):
    """10 days, 80 distinct users/day with 50% day-over-day overlap:
    every day's trailing-7 estimate lands within the ~3x1.04/sqrt(256)
    band of the exact trailing distinct; the last day's full-window
    estimate equals the ungrouped estimate over the same span."""
    import datetime as _dt

    from seatunnel_spark.dataops.sketches import (hll_build,
                                                  hll_estimate,
                                                  hll_rolling_estimate)

    t0 = _dt.datetime(2024, 5, 1)
    rows, eid = [], 0
    for d in range(10):
        for u in range(d * 40, d * 40 + 80):  # 40 new, 40 carried
            rows.append((eid, t0 + _dt.timedelta(days=d), u))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long")
    got = {r["day"].day: r["est"] for r in
           hll_rolling_estimate(df, "ts", "user_id",
                                window_days=7).collect()}
    # exact trailing-7 distinct per day
    for d in range(10):
        lo = max(0, d - 6)
        exact = len({u for dd in range(lo, d + 1)
                     for u in range(dd * 40, dd * 40 + 80)})
        est = got[d + 1]
        assert abs(est - exact) / exact < 0.25, (d, est, exact)
    # day 7 window covers days 1..7 -> equals a direct build over them
    cutoff = t0 + _dt.timedelta(days=7)
    direct = hll_estimate(
        hll_build(df.filter(df.ts < cutoff), "user_id"), []
    ).collect()[0]["est"]
    assert got[7] == direct


def test_hll_rolling_estimate_calendar_gap_days(spark):
    """Zero-event gap days must still consume window slots: users
    {0..49} appear on day 1 only, users {100..119} on day 9 only
    (days 2-8 and 10 empty). With window_days=3, day 9's trailing
    window covers calendar days 7-9 => only the 20 day-9 users; an
    observed-days spine would let day 1 leak in (ROWS frame spanning
    8 calendar days) and report ~70. Also: every gap day inside the
    [min, max] range gets an output row with the correct carried
    estimate (day 2 and 3 still see day 1's users; day 4 sees none)."""
    import datetime as _dt

    from seatunnel_spark.dataops.sketches import hll_rolling_estimate

    t0 = _dt.datetime(2024, 5, 1)
    rows = [(i, t0, u) for i, u in enumerate(range(50))]
    rows += [(1000 + i, t0 + _dt.timedelta(days=8), 100 + u)
             for i, u in enumerate(range(20))]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long")
    got = {r["day"].day: r["est"] for r in
           hll_rolling_estimate(df, "ts", "user_id",
                                window_days=3).collect()}
    # gapless output spine: one row per calendar day 1..9
    assert sorted(got) == list(range(1, 10))
    assert abs(got[9] - 20) / 20 < 0.35, got[9]   # day 1 must NOT leak
    assert abs(got[1] - 50) / 50 < 0.35, got[1]
    assert got[3] == got[1]                        # day 1 still in frame
    assert got[4] == 0.0                           # window all-empty


def test_ivfadc_rerank_exactness_and_recall(spark):
    """IVFADC+R (Jégou 2011 §VI): (a) with all cells probed and the
    shortlist covering the whole corpus, the exact re-rank reproduces
    brute-force L2 top-10 bit-for-bit (quantization error fully
    erased); (b) at the shipped rerank=4 the per-query recall@10 vs
    L2 ground truth is >= plain ADC ranking — a theorem, not luck: a
    true top-10 item surviving into any shortlist has < 10 exact-
    closer items there, so exact re-ranking can only keep it."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.similarity import (
        brute_force_l2_topk, ivfadc_rerank_topk, ivfadc_topk,
        pq_train_residual, topk_recall, train_ivf_centroids)

    e = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
         .select("vec_id",
                 F.transform("embedding",
                             lambda x: x.cast("double"))
                 .alias("embedding")))
    q = e.filter(F.col("vec_id") < 5)
    coarse = train_ivf_centroids(e, nlist=4, iters=1)
    books = pq_train_residual(e, coarse, m=4, k=16, iters=1)
    exact = brute_force_l2_topk(q, e, "vec_id", "vec_id", k=10,
                                round_to=4)
    # (a) nprobe = nlist and rerank*k >= |corpus| => exact equality
    rr_all = ivfadc_rerank_topk(q, e, books, coarse, "vec_id",
                                "vec_id", k=10, nprobe=4, rerank=50,
                                round_to=4)
    want = {tuple(r) for r in exact.collect()}
    got = {tuple(r) for r in rr_all.collect()}
    assert got == want
    # (b) shipped defaults: per-query recall never drops vs plain ADC
    adc = ivfadc_topk(q, e, books, coarse, "vec_id", "vec_id", k=10,
                      nprobe=2, round_to=4)
    rr = ivfadc_rerank_topk(q, e, books, coarse, "vec_id", "vec_id",
                            k=10, nprobe=2, rerank=4, round_to=4)
    r_adc = {r["query_id"]: r["recall"]
             for r in topk_recall(adc, exact).collect()}
    r_rr = {r["query_id"]: r["recall"]
            for r in topk_recall(rr, exact).collect()}
    assert set(r_adc) == set(r_rr) == set(range(5))
    for qid in r_adc:
        assert r_rr[qid] >= r_adc[qid], (qid, r_rr[qid], r_adc[qid])


def test_ivfpq_candidates_and_recall(spark):
    """IVF+PQ: every result row comes from a probed cell (structural
    check vs a direct cell assignment), and with all cells probed the
    ranking equals flat PQ over the same codebooks (IVF reduces the
    candidate set, never rescores)."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.similarity import (ivfpq_topk,
                                                    pq_encode, pq_topk,
                                                    pq_train,
                                                    train_ivf_centroids,
                                                    _nearest_centroid)

    e = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
         .withColumn("embedding",
                     F.transform("embedding", lambda x: x.cast("double"))))
    books = pq_train(e, m=4, k=16, iters=1)
    coarse = train_ivf_centroids(e, "embedding", "vec_id", 4, 1)
    q = e.filter(F.col("vec_id") < 3)

    got = ivfpq_topk(q, e, books, "vec_id", "vec_id", k=5, nprobe=2,
                     coarse_centroids=coarse, round_to=4).collect()
    cells = {r["vec_id"]: r["c"] for r in e.select(
        "vec_id", _nearest_centroid(F.col("embedding"), coarse)
        .alias("c")).collect()}
    probed = {}
    for r in q.select("vec_id").collect():
        pass  # probes recomputed below per query
    from seatunnel_spark.dataops.similarity import _centroid_scores
    pr = q.select("vec_id", F.transform(
        F.slice(F.reverse(F.array_sort(
            _centroid_scores(F.col("embedding"), coarse))), 1, 2),
        lambda s: s["i"]).alias("p")).collect()
    probed = {r["vec_id"]: set(r["p"]) for r in pr}
    for r in got:
        assert cells[r["match_id"]] in probed[r["query_id"]]

    # nprobe = nlist -> identical to flat PQ
    full = ivfpq_topk(q, e, books, "vec_id", "vec_id", k=5, nprobe=4,
                      coarse_centroids=coarse, round_to=4).collect()
    codes = pq_encode(e, books).select("vec_id", "codes")
    flat = pq_topk(q, codes, books, "vec_id", "vec_id", k=5,
                   round_to=4).collect()
    key = lambda rs: sorted((r["query_id"], r["rank"], r["match_id"],
                             r["adc_dist"]) for r in rs)
    assert key(full) == key(flat)


def test_k_anonymity_report_violations(spark):
    """Groups of 1 and 2 are listed with sizes; groups >= k are not;
    a well-generalized table yields the empty pass signal."""
    from seatunnel_spark.dataops.profile import k_anonymity_report

    rows = ([("NY", 30)] * 5 + [("NY", 31)] * 2 + [("SF", 30)])
    df = spark.createDataFrame(rows, ["city", "age"])
    got = {(r["city"], r["age"]): r["n_rows"] for r in
           k_anonymity_report(df, ["city", "age"], k=3).collect()}
    assert got == {("NY", 31): 2, ("SF", 30): 1}
    ny = df.filter("city = 'NY'")
    assert k_anonymity_report(ny, ["city"], k=3).count() == 0


def test_profile_drift_detects_injected_changes(spark):
    """Nulling a slice of one column and halving the rows shows up as
    a null-rate delta on exactly that column; an unchanged column
    reports zero deltas."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.profile import profile_drift

    a = spark.createDataFrame(
        [(i, float(i % 10), "t") for i in range(100)],
        ["id", "v", "s"])
    b = (a.filter(F.col("id") % 2 == 0)
         .select("id",
                 F.when(F.col("v") > 7, None)
                 .otherwise(F.col("v")).alias("v"), "s"))
    got = {r["column"]: r for r in
           profile_drift(a, b, ["v", "s"]).collect()}
    assert got["v"]["null_rate_a"] == 0.0
    assert got["v"]["null_rate_b"] == 0.2  # 8.0/9.0 nulled -> 10/50
    assert got["v"]["null_rate_delta"] == 0.2
    assert got["v"]["n_distinct_a"] == 10
    assert got["v"]["n_distinct_b"] == 4  # even v only, 8.0 nulled
    assert got["s"]["null_rate_delta"] == 0.0
    assert got["s"]["mean_delta"] == 0.0


def test_ivfadc_residual_beats_raw_quantization(spark):
    """The IVFADC point, measured: with identical coarse centroids,
    subspaces, and k, PQ over residuals recovers MORE of the exact
    L2 top-10 than PQ over raw vectors (residuals are centered, so
    the shared codebook quantizes them tighter). Deterministic
    training -> deterministic recalls."""
    from pyspark.sql import Window, functions as F

    from seatunnel_spark.dataops.similarity import (ivfadc_topk,
                                                    ivfpq_topk,
                                                    pq_train,
                                                    pq_train_residual,
                                                    train_ivf_centroids)

    e = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
         .withColumn("embedding",
                     F.transform("embedding", lambda x: x.cast("double"))))
    coarse = train_ivf_centroids(e, "embedding", "vec_id", 4, 2)
    books_raw = pq_train(e, m=4, k=16, iters=2)
    books_res = pq_train_residual(e, coarse, m=4, k=16, iters=2)
    q = e.filter(F.col("vec_id") < 5)

    a = q.select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv"))
    b = e.select(F.col("vec_id").alias("cid"),
                 F.col("embedding").alias("cv"))
    d2 = F.aggregate(F.zip_with("qv", "cv", lambda x, y: (x-y)*(x-y)),
                     F.lit(0.0), lambda acc, v: acc + v)
    w = Window.partitionBy("qid").orderBy(F.col("d").asc(),
                                          F.col("cid").asc())
    truth = {(r["qid"], r["cid"]) for r in
             a.join(b).select("qid", "cid", d2.alias("d"))
             .withColumn("rn", F.row_number().over(w))
             .filter("rn <= 10").collect()}

    raw = {(r["query_id"], r["match_id"]) for r in
           ivfpq_topk(q, e, books_raw, "vec_id", "vec_id", k=10,
                      nprobe=4, coarse_centroids=coarse,
                      round_to=4).collect()}
    res = {(r["query_id"], r["match_id"]) for r in
           ivfadc_topk(q, e, books_res, coarse, "vec_id", "vec_id",
                       k=10, nprobe=4, round_to=4).collect()}
    r_raw = len(raw & truth) / len(truth)
    r_res = len(res & truth) / len(truth)
    assert r_res > r_raw, (r_res, r_raw)
    assert r_res >= 0.4


def test_containment_catches_subset_jaccard_misses(spark):
    """A 6-word doc quoted inside a 60-word doc: containment 1.0,
    Jaccard far below any usable threshold — the case the operator
    exists for."""
    from seatunnel_spark.dataops.dedup import (ngram_containment_pairs,
                                               ngram_jaccard_pairs)

    quote = "the quick brown fox jumps high"
    long = quote + " " + " ".join(f"w{i}" for i in range(54))
    df = spark.createDataFrame(
        [(1, quote), (2, long), (3, "totally different text here")],
        ["doc_id", "text"])
    cont = {(r["id_a"], r["id_b"]): r["containment"] for r in
            ngram_containment_pairs(df, "doc_id", "text", k=3,
                                    threshold=0.9).collect()}
    assert cont == {(1, 2): 1.0}
    jac = ngram_jaccard_pairs(df, "doc_id", "text", k=3,
                              threshold=0.5).collect()
    assert jac == []  # jaccard(quote, long) = 4/58 — invisible


def test_pq_index_round_trip_identical(spark, tmp_path):
    """write_pq_index + search_pq_index returns exactly pq_topk's
    rows, and the search scan reads only the codes column."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.similarity import (pq_encode, pq_topk,
                                                    pq_train,
                                                    search_pq_index,
                                                    write_pq_index)

    e = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
         .withColumn("embedding",
                     F.transform("embedding", lambda x: x.cast("double"))))
    books = pq_train(e, m=4, k=8, iters=1)
    path = str(tmp_path / "pqidx")
    write_pq_index(e, path, books)
    q = e.filter(F.col("vec_id") < 3)
    via_index = search_pq_index(spark, path, q, k=5, round_to=4)
    direct = pq_topk(q, pq_encode(e, books).select("vec_id", "codes"),
                     books, "vec_id", "vec_id", k=5, round_to=4)
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(via_index) == key(direct)
    plan = via_index._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines()
            if "FileScan parquet" in l and "pqidx" in l]
    assert scan and "embedding" not in scan[0]


def test_dedup_cascade_monotone(spark):
    """Each cascade stage can only shrink the corpus, and the exact
    stage at minimum removes the doc_id-synthesized URL collisions."""
    import __spark_entry__ as entry

    out = {r["stage"]: r["n_docs"] for r in
           entry.queries()["dedup_cascade"](
               spark, "/root/testdata/sf0.001").collect()}
    assert (out["0_raw"] >= out["1_url"] >= out["2_exact"]
            >= out["3_fingerprint"])
    assert out["1_url"] < out["0_raw"]  # URL collisions exist by design


def test_grouped_ols_exact_and_degenerate(spark):
    """Group 'a' lies exactly on y = 3x + 2 (slope/intercept exact,
    r2 = 1); group 'b' has zero x-variance -> null slope/r2 rather
    than a division blowup."""
    from seatunnel_spark.dataops.analytics import grouped_ols

    rows = [("a", float(x), 3.0 * x + 2.0) for x in range(1, 6)]
    rows += [("b", 4.0, float(y)) for y in (1, 2, 3)]
    df = spark.createDataFrame(rows, ["g", "x", "y"])
    got = {r["g"]: r for r in
           grouped_ols(df, ["g"], "x", "y").collect()}
    assert got["a"]["slope"] == 3.0 and got["a"]["intercept"] == 2.0
    assert got["a"]["r2"] == 1.0 and got["a"]["n"] == 5
    assert got["b"]["slope"] is None and got["b"]["r2"] is None


def test_verify_pairs_scores_only_candidates(spark):
    """verify_pairs scores exactly the pair list it is given — one
    exact jaccard+containment per candidate, hand-checked, and pairs
    NOT proposed are absent even if similar."""
    from seatunnel_spark.dataops.dedup import verify_pairs

    docs = spark.createDataFrame([
        (1, "a b c d e f"),          # shingles: abc bcd cde def
        (2, "a b c d x y"),          # abc bcd cdx dxy
        (3, "a b c d e f"),          # identical to 1
    ], ["doc_id", "text"])
    cands = spark.createDataFrame([(1, 2), (1, 3)], ["id_a", "id_b"])
    got = {(r["id_a"], r["id_b"]): (r["jaccard"], r["containment"])
           for r in verify_pairs(cands, docs, "doc_id",
                                 "text").collect()}
    assert set(got) == {(1, 2), (1, 3)}  # (2,3) never proposed
    assert got[(1, 3)] == (1.0, 1.0)
    # |∩|=2 (abc,bcd), |∪|=6, min size 4
    assert got[(1, 2)] == (round(2 / 6, 4), 0.5)


def test_jaccard_prefix_equals_full_join(spark):
    """Prefix filtering is lossless: identical output to the plain
    inverted-index join (max_df=None) at two thresholds on the real
    corpus, and the prefix index holds strictly fewer occurrence rows
    (the pruning is real, not vacuous)."""
    from pyspark.sql import Window, functions as F

    from seatunnel_spark.dataops.dedup import (_word_shingles,
                                               jaccard_prefix_pairs,
                                               ngram_jaccard_pairs)

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for t in (0.8, 0.5):
        a = {(r["id_a"], r["id_b"], round(r["jaccard"], 4)) for r in
             jaccard_prefix_pairs(d, "doc_id", "text", k=3,
                                  threshold=t).collect()}
        b = {(r["id_a"], r["id_b"], round(r["jaccard"], 4)) for r in
             ngram_jaccard_pairs(d, "doc_id", "text", k=3, threshold=t,
                                 max_df=None).collect()}
        assert a == b, f"t={t}"
    # pruning check: prefix rows < total shingle occurrences at t=0.8
    sh = d.select(F.col("doc_id"),
                  F.explode(F.array_distinct(
                      _word_shingles(F.col("text"), 3))).alias("tok"))
    total = sh.count()
    n_per = sh.groupBy("doc_id").count()
    kept = n_per.select(
        F.sum(F.col("count") - F.ceil(0.8 * F.col("count")) + 1)
    ).collect()[0][0]
    assert kept < total * 0.45


def test_jaccard_prefix_ppjoin_filters(spark):
    """PPJoin length + positional filters: (a) each filter only
    removes candidates (monotone reduction, with the combined set
    strictly smaller on the real corpus at t=0.8); (b) the verified
    output is IDENTICAL with filters on and off (they prune only
    pairs that provably cannot pass the threshold); (c) a hand case
    the length filter must kill: doc sizes 3 vs 10 share a rare
    shingle -> candidate without the filter, impossible at t=0.8
    (max J = 3/10), pruned with it."""
    from seatunnel_spark.dataops.dedup import (jaccard_prefix_candidates,
                                               jaccard_prefix_pairs)

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # t=0.5 (longer prefixes -> real candidate pressure): measured
    # 1139 plain -> 867 with length -> 29 with length+positional
    plain = jaccard_prefix_candidates(
        d, "doc_id", "text", k=3, threshold=0.5,
        length_filter=False, positional_filter=False).count()
    with_len = jaccard_prefix_candidates(
        d, "doc_id", "text", k=3, threshold=0.5,
        positional_filter=False).count()
    filtered = jaccard_prefix_candidates(
        d, "doc_id", "text", k=3, threshold=0.5).count()
    assert filtered < with_len < plain, (filtered, with_len, plain)
    for t in (0.5, 0.8):
        pairs_on = {(r["id_a"], r["id_b"], round(r["jaccard"], 4))
                    for r in jaccard_prefix_pairs(
                        d, "doc_id", "text", k=3,
                        threshold=t).collect()}
        pairs_off = {(r["id_a"], r["id_b"], round(r["jaccard"], 4))
                     for r in jaccard_prefix_pairs(
                         d, "doc_id", "text", k=3, threshold=t,
                         length_filter=False,
                         positional_filter=False).collect()}
        assert pairs_on == pairs_off, t
    # hand case the LENGTH filter must kill: sizes 3 vs 10 share the
    # in-prefix shingle "aa1 aa2 aa3" (doc 3 exists only to give the
    # big doc's zz-filler shingles df=2, so the shared aa shingles —
    # df=2, token-asc first — stay inside both rarity prefixes), but
    # max possible J = 3/10 < 0.8 => candidate without the filter,
    # pruned with it
    small = "aa1 aa2 aa3 aa4 aa5"                       # 3 shingles
    filler = "zz1 zz2 zz3 zz4 zz5 zz6 zz7"
    h = spark.createDataFrame(
        [(1, small), (2, small + " " + filler), (3, filler)],
        ["doc_id", "text"])
    assert jaccard_prefix_candidates(
        h, "doc_id", "text", k=3, threshold=0.8,
        length_filter=False, positional_filter=False).count() == 1
    assert jaccard_prefix_candidates(
        h, "doc_id", "text", k=3, threshold=0.8,
        positional_filter=False).count() == 0


def test_personalized_pagerank_hand_check(spark):
    """Symmetrized path 1-2-3 with seed {1}: two unrolled iterations
    hand-computed — rank mass concentrates near the seed and sums
    to 1 (teleport conserves mass on a symmetrized graph)."""
    from seatunnel_spark.dataops.graph import personalized_pagerank

    e = [(1, 2), (2, 1), (2, 3), (3, 2)]
    edges = spark.createDataFrame(e, ["src", "dst"])
    seeds = spark.createDataFrame([(1,)], ["node"])
    got = {r["node"]: r["rank"] for r in
           personalized_pagerank(edges, seeds, iters=2).collect()}
    assert got == {1: 0.51125, 2: 0.1275, 3: 0.36125}
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_psi_report_zero_and_shifted(spark):
    """Identical snapshots -> PSI ~ 0; a +50% location shift on half
    the mass -> PSI above the 0.25 'shifted' alarm line."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.profile import psi_report

    a = spark.range(1000).select(
        (F.col("id") % 100).cast("double").alias("v"))
    same = psi_report(a, a, "v", bins=5).collect()
    assert all(abs(r["psi"]) < 1e-9 for r in same)
    b = a.select((F.col("v") + 50.0).alias("v"))
    shifted = psi_report(a, b, "v", bins=5).collect()
    assert shifted[0]["psi"] > 0.25
    assert len(shifted) == 5


def test_cache_scope_bounds_long_session_memory(spark):
    """The enforceable cache-lifetime contract: 50 pagerank calls
    (each persists its deduped edge frame) inside cache_scope leave
    the SQL CacheManager empty after every call — a long-lived
    session's memory does not grow with operator call count. A
    caller's OWN cached frame inside the scope is untouched (scoped
    release is surgical, not clearCache), and nesting releases only
    the inner scope's frames."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops import cache_scope
    from seatunnel_spark.dataops.graph import pagerank

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cm.isEmpty()
    edges = spark.createDataFrame(
        [(i % 7, (i * 3) % 7) for i in range(30)], ["src", "dst"])
    for _ in range(50):
        with cache_scope():
            pagerank(edges, iters=1).count()
            assert not cm.isEmpty()  # the scope's persist is live
        assert cm.isEmpty()          # and released on exit

    mine = edges.persist()
    mine.count()
    with cache_scope():
        pagerank(edges, iters=1).count()
    assert not cm.isEmpty()          # caller's cache survived
    with cache_scope():              # nesting: inner releases inner
        outer = pagerank(edges, iters=1)
        outer.count()
        with cache_scope():
            pagerank(edges, iters=1).count()
        assert not cm.isEmpty()
    mine.unpersist()
    assert cm.isEmpty()


def test_ddsketch_rolling_quantiles_tracks_exact_and_gaps(spark):
    """Rolling-sketch quantiles: days 1-3 carry values ~100, days 8-9
    values ~1000, days 4-7 empty. With window_days=3: (a) every
    emitted estimate is within the alpha=1% DDSketch band of the
    exact type-1 quantile over the true trailing-3-calendar-day
    multiset; (b) day 9's window (days 7-9) sees ONLY the ~1000s —
    gap days hold frame slots, day-1 values cannot leak; (c) day 5
    still sees day 3's values; (d) all-empty windows (day 7) emit no
    row."""
    import datetime as _dt

    from seatunnel_spark.dataops.sketches import ddsketch_rolling_quantiles

    t0 = _dt.datetime(2024, 7, 1)
    rows, eid = [], 0
    vals = {}
    for d in (0, 1, 2):
        vals[d] = [100.0 + 3 * i + d for i in range(60)]
    for d in (7, 8):
        vals[d] = [1000.0 + 5 * i + d for i in range(40)]
    for d, vs in vals.items():
        for v in vs:
            rows.append((eid, t0 + _dt.timedelta(days=d), v))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, v double")
    got = {(r["day"].day, r["q"]): r["est"] for r in
           ddsketch_rolling_quantiles(df, "ts", "v", window_days=3,
                                      qs=[0.5, 0.95]).collect()}
    days_out = sorted({d for d, _ in got})
    assert 7 not in days_out                      # all-empty window
    assert days_out == [1, 2, 3, 4, 5, 8, 9]
    for dday in days_out:
        d0 = dday - 1                              # 0-based day offset
        window = [v for dd in range(max(0, d0 - 2), d0 + 1)
                  for v in vals.get(dd, [])]
        window.sort()
        for q in (0.5, 0.95):
            exact = window[int(q * (len(window) - 1))]
            est = got[(dday, q)]
            assert abs(est - exact) / exact <= 0.011, (dday, q, est, exact)
    # day 9 must be in the 1000s (no day-1 leak through the gap)
    assert got[(9, 0.5)] > 900


def test_hits_bipartite_hand_check(spark):
    """c1->{s1,s2}, c2->{s1}: two unrolled iterations hand-computed.
    Iter 2: auth(s1)=1.0/1.6=0.625, auth(s2)=0.375; hub(c1)=
    1/1.625=0.615385, hub(c2)=0.625/1.625=0.384615. Suppliers carry
    hub 0 and customers auth 0 (no out-/in-edges respectively) —
    the two-role separation PageRank conflates."""
    from seatunnel_spark.dataops.graph import hits

    e = spark.createDataFrame(
        [("c1", "s1"), ("c1", "s2"), ("c2", "s1")], ["src", "dst"])
    got = {r["node"]: (r["hub"], r["auth"]) for r in
           hits(e, iters=2).collect()}
    assert got == {"c1": (0.615385, 0.0), "c2": (0.384615, 0.0),
                   "s1": (0.0, 0.625), "s2": (0.0, 0.375)}


def test_hits_degenerate_inputs(spark):
    """hits() guards: iters < 1 refuses loudly (auth would be
    undefined at join time with an opaque error); an empty edge
    frame returns an empty result instead of a division-by-null row
    (the ANSI-guard discipline)."""
    import pytest
    from pyspark.sql import types as T

    from seatunnel_spark.dataops.graph import hits

    e = spark.createDataFrame([("a", "b")], ["src", "dst"])
    with pytest.raises(ValueError, match="iters >= 1"):
        hits(e, iters=0)
    empty = spark.createDataFrame(
        [], T.StructType([T.StructField("src", T.StringType()),
                          T.StructField("dst", T.StringType())]))
    assert hits(empty, iters=1).count() == 0


class _RoundFails(RuntimeError):
    pass


def _fail_at_checkpoint(monkeypatch, frame_cls, fail_at: int) -> list:
    """Make the `fail_at`-th localCheckpoint run (so whatever its
    round persisted is materialized) and then raise; returns the call
    log."""
    real, calls = frame_cls.localCheckpoint, []

    def local_checkpoint(self, *args, **kwargs):
        out = real(self, *args, **kwargs)
        calls.append(1)
        if len(calls) == fail_at:
            raise _RoundFails(f"localCheckpoint #{fail_at}")
        return out

    monkeypatch.setattr(frame_cls, "localCheckpoint", local_checkpoint)
    return calls


def _run_loop(spark, op: str, edges):
    from seatunnel_spark.dataops import duplicate_clusters, graph

    if op == "connected_components_on_bucketed":
        return graph.connected_components_on_bucketed(
            spark, "cc_fail_edges").collect()
    if op == "hits":
        return graph.hits(edges, iters=2).collect()
    if op == "duplicate_clusters":
        return duplicate_clusters(edges, "src", "dst").collect()
    return graph.connected_components(edges).collect()


@pytest.mark.parametrize("op, fail_at", [
    ("connected_components", 2),             # round 1's checkpoint
    ("connected_components_on_bucketed", 2),  # round 1's checkpoint
    ("duplicate_clusters", 2),               # round 1's checkpoint
    ("hits", 2),                             # auth half-step: a_raw
    ("hits", 3),                             # hub half-step: h_raw
])
def test_loop_persists_released_when_a_round_raises(spark, monkeypatch,
                                                     op, fail_at):
    """A round that raises must not leave a persist behind. The Nth
    localCheckpoint runs and then raises; inside a cache_scope, which
    releases the operators' scoped edge frames, the session's cache
    must be empty afterwards."""
    from seatunnel_spark.dataops import cache_scope, graph

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cm.isEmpty()
    path = [(str(i), str(i + 1)) for i in range(6)]
    edges = spark.createDataFrame(path, ["src", "dst"])
    if op == "connected_components_on_bucketed":
        graph.write_bucketed_edges(
            edges.union(edges.select("dst", "src")), "cc_fail_edges",
            num_buckets=4)
    # the classic DataFrame overrides the API's localCheckpoint
    calls = _fail_at_checkpoint(monkeypatch, type(edges), fail_at)
    try:
        with cache_scope(), pytest.raises(_RoundFails):
            _run_loop(spark, op, edges)
        assert len(calls) == fail_at
        # checked before the DROP TABLE below, which uncaches the
        # frames that read the table
        assert cm.isEmpty()
    finally:
        monkeypatch.undo()
        spark.sql("DROP TABLE IF EXISTS cc_fail_edges")
        spark.catalog.clearCache()


@pytest.mark.parametrize("op", ["connected_components",
                                "duplicate_clusters"])
def test_cc_edges_released_without_scope_when_a_round_raises(
        spark, monkeypatch, op):
    """Outside any cache_scope, connected_components (and
    duplicate_clusters, which runs it) must still release its
    persisted edge list when round 1 raises: the release sits in a
    finally, not after the loop."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cm.isEmpty()
    path = [(str(i), str(i + 1)) for i in range(6)]
    edges = spark.createDataFrame(path, ["src", "dst"])
    calls = _fail_at_checkpoint(monkeypatch, type(edges), 2)
    try:
        with pytest.raises(_RoundFails):
            _run_loop(spark, op, edges)
        assert len(calls) == 2
        assert cm.isEmpty()
    finally:
        monkeypatch.undo()
        spark.catalog.clearCache()


def test_bloom_prefilter_join_equivalence_and_pruning(spark):
    """Bloom pre-filter join: (a) output identical to the plain inner
    join (no false negatives — the correctness contract); (b) the
    pre-filter genuinely prunes (filtered big side well under the
    full scan for a selective small side); (c) left_semi form matches
    a plain semi join; (d) plan: the native path probes ONE
    might_contain binary literal (no extra join or exchange)."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.skew import bloom_prefilter_join

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    sup = (spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
           .filter(F.col("s_suppkey") % 17 == 0)
           .select("s_suppkey", "s_name"))
    got = bloom_prefilter_join(li, sup, "l_suppkey", "s_suppkey")
    want = li.join(sup, li.l_suppkey == sup.s_suppkey)
    assert got.count() == want.count() > 0
    a = {tuple(r) for r in
         got.select("l_orderkey", "l_linenumber", "s_suppkey").collect()}
    b = {tuple(r) for r in
         want.select("l_orderkey", "l_linenumber", "s_suppkey").collect()}
    assert a == b
    # pruning: re-run just the filter stage via a 1-key small side
    one = sup.limit(1)
    pre = bloom_prefilter_join(li, one, "l_suppkey", "s_suppkey",
                               how="left_semi")
    n_semi = li.join(one, li.l_suppkey == one.s_suppkey,
                     "left_semi").count()
    n_pre = pre.count()
    assert n_pre == n_semi
    total = li.count()
    # the bloom filter alone (before the join) must cut the scan hard
    plan = pre._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2  # no extra shuffle introduced
    # native JVM probe in the plan — one might_contain, zero
    # element_at literal-array probes
    assert "might_contain" in plan
    assert "element_at" not in plan
    assert n_semi < total * 0.2


def test_bloom_portable_probe_matches_native(spark):
    """The Connect-safe portable fallback (explode/bit_or build +
    literal-array probe) keeps the exact no-false-negative contract:
    the set of rows it keeps is a superset of true matches and the
    final join equals the plain join, byte for byte with the native
    path's output."""
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.skew import (_portable_bloom_probe,
                                              bloom_prefilter_join)

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    sup = (spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
           .filter(F.col("s_suppkey") % 5 == 0)
           .select("s_suppkey", "s_name"))
    cond = _portable_bloom_probe(sup, "s_suppkey", "l_suppkey",
                                 1 << 16, 4)
    kept = li.filter(F.col("l_suppkey").isNotNull() & cond)
    joined = kept.join(sup, kept.l_suppkey == sup.s_suppkey)
    native = bloom_prefilter_join(li, sup, "l_suppkey", "s_suppkey",
                                  m_bits=1 << 16)
    cols = ["l_orderkey", "l_linenumber", "s_suppkey"]
    assert ({tuple(r) for r in joined.select(*cols).collect()}
            == {tuple(r) for r in native.select(*cols).collect()})


def test_link_score_pairs_hand_check(spark):
    """Fellegi-Sunter weights hand-checked: agreement adds log2(m/u),
    disagreement log2((1-m)/(1-u)), NULL contributes nothing; blocking
    limits candidates to same-block pairs; threshold=0 keeps exactly
    the positive-evidence pairs."""
    import math

    from seatunnel_spark.dataops.linkage import (link_field_weights,
                                                 link_score_pairs)

    fields = {"name": (0.9, 0.01), "phone": (0.8, 0.001)}
    w = link_field_weights(fields)
    a = spark.createDataFrame(
        [(1, "alice", "111", "x"), (2, "bob", "222", "x"),
         (3, "carol", "333", "y")],
        ["ida", "name", "phone", "blk"])
    b = spark.createDataFrame(
        [(10, "alice", "111", "x"), (20, "bob", None, "x"),
         (30, "dave", "999", "y")],
        ["idb", "name", "phone", "blk"])
    got = {(r["id_a"], r["id_b"]): (r["n_agree"], r["score"]) for r in
           link_score_pairs(a, b, "ida", "idb", ["blk"], fields,
                            threshold=-100.0).collect()}
    wa_n, wd_n = w["name"]
    wa_p, wd_p = w["phone"]
    assert got[(1, 10)] == (2, round(wa_n + wa_p, 4))
    assert got[(2, 20)] == (1, round(wa_n, 4))        # null phone: 0
    assert got[(1, 20)] == (0, round(wd_n, 4))
    assert got[(2, 10)] == (0, round(wd_n + wd_p, 4))
    assert got[(3, 30)] == (0, round(wd_n + wd_p, 4))
    assert (1, 30) not in got and (3, 10) not in got  # blocked apart
    kept = link_score_pairs(a, b, "ida", "idb", ["blk"], fields,
                            threshold=0.0).collect()
    assert {(r["id_a"], r["id_b"]) for r in kept} == {(1, 10), (2, 20)}
    # degenerate probabilities refuse loudly
    import pytest
    with pytest.raises(ValueError):
        link_field_weights({"x": (0.5, 0.5)})


def test_link_pair_product_guard(spark):
    """The per-block a×b PAIR-PRODUCT cap (max_pairs): `max_block`
    bounds each side but a block at both side caps still yields
    cap² candidates, so the guard bounds the product itself.
    (a) cap arithmetic pinned: a 20×30=600-pair block trips
    max_pairs=599 but not 600; (b) 'raise' names the offending block
    key; (c) 'drop' sheds exactly the hot block's pairs; (d) 'split'
    refines the hot block by a split_col sub-key on BOTH sides —
    pairs agreeing on split_col survive, the small block is
    untouched; (e) split requires split_col; bad mode refuses."""
    import pytest
    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.linkage import link_score_pairs

    fields = {"v": (0.9, 0.01)}
    # hot block 'h': 20 a-rows x 30 b-rows = 600 pairs; cold 'c': 2x2
    a = spark.range(20).select(
        F.col("id").alias("ida"),
        (F.col("id") % 7).cast("string").alias("v"),
        F.lit("h").alias("blk")).union(
        spark.range(100, 102).select(
            F.col("id"), (F.col("id") % 7).cast("string"), F.lit("c")))
    b = spark.range(30).select(
        (F.col("id") + 1000).alias("idb"),
        (F.col("id") % 7).cast("string").alias("v"),
        F.lit("h").alias("blk")).union(
        spark.range(1100, 1102).select(
            F.col("id"), (F.col("id") % 7).cast("string"), F.lit("c")))

    def run(**kw):
        return link_score_pairs(a, b, "ida", "idb", ["blk"], fields,
                                threshold=-100.0, **kw)

    # (a)+(b): 600 > 599 raises and names the block; 600 <= 600 passes
    with pytest.raises(ValueError, match="'blk': 'h'.*600"):
        run(max_pairs=599)
    n_all = run(max_pairs=600).count()
    assert n_all == 600 + 4 == run(max_pairs=None).count()
    # (c) drop sheds the hot block only
    with pytest.warns(UserWarning, match="dropping 1 oversize"):
        assert run(max_pairs=599, on_oversize="drop").count() == 4
    # (d) split: every hot-block pair AGREEING on v survives (the
    # no-lost-agreeing-pairs contract; hash collisions may keep some
    # disagreeing pairs — the split prunes, it doesn't compare),
    # the candidate count genuinely shrinks, cold block intact
    with pytest.warns(UserWarning, match="splitting 1 oversize"):
        got = run(max_pairs=599, on_oversize="split", split_col="v",
                  n_splits=16).collect()
    hot = {(r["id_a"], r["id_b"]) for r in got if r["id_a"] < 100}
    want_hot = {(i, 1000 + j) for i in range(20) for j in range(30)
                if i % 7 == j % 7}
    assert want_hot <= hot
    assert len(hot) < 600
    assert len([r for r in got if r["id_a"] >= 100]) == 4
    # (e) refusal paths
    with pytest.raises(ValueError, match="requires split_col"):
        run(max_pairs=1, on_oversize="split")
    with pytest.raises(ValueError, match="raise|split|drop"):
        run(max_pairs=1, on_oversize="shrug")
    with pytest.raises(ValueError, match="must be one of"):
        run(max_pairs=1, on_oversize="split", split_col="nope")
    # (f) split_col inside block_cols is constant per block — the
    # refinement could never refine; refused loudly (link_score_pairs
    # validates against its field list; _guard_pair_product carries
    # its own equivalent guard for direct callers)
    with pytest.raises(ValueError, match="cannot refine"):
        run(max_pairs=1, on_oversize="split", split_col="blk")


def test_bfs_hops_layers_and_unreachable(spark):
    """Multi-source BFS: diamond + chain 1->{2,3}->4->5, seed {1}
    gives hops (1:0, 2:1, 3:1, 4:2, 5:3); node 99->1 is upstream of
    the seed (directed: unreachable, absent); two seeds {1,5} make 5
    a 0-hop node; max_hops truncates the frontier expansion."""
    from seatunnel_spark.dataops.graph import bfs_hops

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (99, 1)],
        ["src", "dst"])
    s1 = spark.createDataFrame([(1,)], ["node"])
    got = {r["node"]: r["hops"] for r in bfs_hops(e, s1).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 2, 5: 3}
    s2 = spark.createDataFrame([(1,), (5,)], ["node"])
    got2 = {r["node"]: r["hops"] for r in bfs_hops(e, s2).collect()}
    assert got2 == {1: 0, 5: 0, 2: 1, 3: 1, 4: 2}
    got3 = {r["node"]: r["hops"] for r in
            bfs_hops(e, s1, max_hops=2).collect()}
    assert got3 == {1: 0, 2: 1, 3: 1, 4: 2}


def test_hard_negatives_label_filter(spark):
    """Hard-negative mining: same-label candidates are excluded
    BEFORE ranking (the winner among different-label vectors can be
    less similar than an excluded same-label one), rank/tie rules
    match brute_force_topk, NULL labels drop out."""
    from seatunnel_spark.dataops.similarity import hard_negatives

    rows = [
        (0, [1.0, 0.0], 0),   # query
        (1, [1.0, 0.01], 0),  # nearly identical but SAME label
        (2, [1.0, 0.2], 1),   # the true hard negative
        (3, [0.0, 1.0], 1),   # orthogonal negative
        (4, [1.0, 0.1], None),  # null label: excluded
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    q = df.filter("vec_id = 0")
    got = [(r["match_id"], r["rank"]) for r in
           hard_negatives(q, df, "vec_id", "vec_id", k=3,
                          round_to=4).orderBy("rank").collect()]
    assert got == [(2, 1), (3, 2)]


def test_hard_negatives_ivf_recall(spark):
    """Corpus-scale hard negatives: hard_negatives_ivf mines the
    same semantics through an IVF cell join (no broadcast query
    set). (a) With ALL cells probed (nprobe = nlist) the result is
    EXACTLY the brute-force miner's — the cell join is a pure
    partitioner; (b) with nprobe < nlist, recall vs brute force
    stays above a floor (the documented IVF trade, measured via
    topk_recall); (c) NULL labels drop out."""
    import numpy as np

    from seatunnel_spark.dataops.similarity import (hard_negatives,
                                                    hard_negatives_ivf,
                                                    topk_recall)

    rng = np.random.default_rng(3)
    dim, n, nlist = 8, 120, 4
    cents = rng.standard_normal((nlist, dim))
    rows = []
    for i in range(n):
        base = cents[i % nlist] + 0.3 * rng.standard_normal(dim)
        rows.append((i, [float(x) for x in base],
                     None if i == 7 else i % 3))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    cb = [[float(x) for x in c] for c in cents]

    brute = hard_negatives(df, df, "vec_id", "vec_id", k=5,
                           round_to=4)
    full = hard_negatives_ivf(df, df, "vec_id", "vec_id", k=5,
                              nlist=nlist, nprobe=nlist,
                              centroids=cb, round_to=4)
    assert sorted(map(tuple, full.collect())) == \
        sorted(map(tuple, brute.collect()))

    approx = hard_negatives_ivf(df, df, "vec_id", "vec_id", k=5,
                                nlist=nlist, nprobe=2,
                                centroids=cb, round_to=4)
    rec = topk_recall(approx, brute)
    mean_rec = rec.agg(F.avg("recall")).collect()[0][0]
    assert mean_rec >= 0.7
    # null-label row 7 appears neither as query nor as candidate
    ids = {r["query_id"] for r in approx.collect()} \
        | {r["match_id"] for r in approx.collect()}
    assert 7 not in ids


def test_best_of_cluster_quality_survivor(spark):
    """Quality-aware survivorship: per duplicate cluster the row
    with max (score, -id) wins — higher score beats lower id, score
    tie falls to the LOWER id; singletons pass through; NULL score
    ranks lowest."""
    from seatunnel_spark.dataops.dedup import best_of_cluster

    recs = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (7, 0.3), (9, None)],
        "doc_id long, score double")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "id_a long, id_b long")
    got = {r["cluster_id"]: (r["doc_id"], r["n_members"], r["score"])
           for r in best_of_cluster(recs, pairs, "doc_id", "score",
                                    fields=["score"]).collect()}
    # cluster {1,2,3}: 2 and 3 tie on 0.9 -> lower id 2 wins
    assert got[1] == (2, 3, 0.9)
    # cluster {7,9}: 9 has NULL score -> 7 wins
    assert got[7] == (7, 2, 0.3)

    # packed-key domain is enforced per-row: a negative id or a
    # score beyond |1e4| fails LOUDLY (raise_error in codegen names
    # the offending row) instead of silently crowning a wrong winner
    import pytest
    from py4j.protocol import Py4JJavaError

    bad_id = spark.createDataFrame(
        [(-1, 0.5), (2, 0.6)], "doc_id long, score double")
    with pytest.raises(Exception, match="domain violated") as ei:
        best_of_cluster(bad_id, pairs, "doc_id", "score",
                        fields=["score"]).collect()
    assert isinstance(ei.value, Py4JJavaError) or "domain" in str(ei.value)
    bad_score = spark.createDataFrame(
        [(1, 50_000.0), (2, 0.6)], "doc_id long, score double")
    with pytest.raises(Exception, match="domain violated"):
        best_of_cluster(bad_score, pairs, "doc_id", "score",
                        fields=["score"]).collect()


def test_jaccard_dup_clusters_collapse_equivalence(spark):
    """Exact-duplicate collapse is a pure physical optimization: on a
    corpus mixing exact replicas and near-duplicates (shifted text),
    the collapsed form's components are IDENTICAL to running the
    pair join over the full corpus — exact copies share shingle sets,
    so the member->representative edge stands in transitively for
    every pairwise edge the full join would add."""
    from seatunnel_spark.dataops.dedup import jaccard_dup_clusters

    near = "alpha beta gamma delta epsilon zeta eta theta"
    near2 = "alpha beta gamma delta epsilon zeta eta iota"  # near-dup
    other = "one two three four five six seven eight"
    rows = ([(i, near, "en") for i in range(5)]           # 5 replicas
            + [(10, near2, "en"), (11, other, "en")]
            + [(20, other, "de"), (21, other, "de")])     # block split
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    kw = dict(k=3, threshold=0.3, block_cols=["lang"])
    fast = {(r["id"], r["cluster_id"]) for r in
            jaccard_dup_clusters(df, "doc_id", "text", **kw).collect()}
    slow = {(r["id"], r["cluster_id"]) for r in
            jaccard_dup_clusters(df, "doc_id", "text",
                                 collapse_exact=False, **kw).collect()}
    assert fast == slow
    # replicas 0-4 + near-dup 10 fuse into cluster 0; the de-block
    # exact pair forms its own cluster; en 'other' is a singleton
    # (absent - no pair touches it)
    got = {}
    for i, c in fast:
        got.setdefault(c, set()).add(i)
    assert got[0] == {0, 1, 2, 3, 4, 10}
    assert got[20] == {20, 21}
    assert 11 not in {i for i, _ in fast}


def test_logreg_fit_matches_numpy_twin(spark):
    """logreg_fit's fixed-iteration rounded-update arithmetic matches
    a numpy twin exactly (the replay discipline the SQL oracle relies
    on); the learned weights separate linearly-separable data with
    the right signs; logreg_score applies the model as literals;
    degenerate inputs refuse loudly."""
    import numpy as np
    import pytest

    from seatunnel_spark.dataops.analytics import (logreg_fit,
                                                   logreg_score)

    rng = [(i, (i % 10) / 10.0, ((i * 7) % 10) / 10.0,
            1.0 if (i % 10) / 10.0 + ((i * 7) % 10) / 10.0 > 0.9
            else 0.0) for i in range(60)]
    df = spark.createDataFrame(
        rng, "id long, f1 double, f2 double, y double")
    iters, lr = 3, 1.0
    got = {r["feature"]: r["weight"] for r in
           logreg_fit(df, ["f1", "f2"], "y",
                      iters=iters, lr=lr).collect()}

    X = np.array([[r[1], r[2]] for r in rng])
    yv = np.array([r[3] for r in rng])
    w = np.zeros(3)
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(w[0] + X @ w[1:])))
        g = np.concatenate([[np.sum(p - yv)], (p - yv) @ X])
        w = np.round(w - lr * g / len(yv), 6)
    assert abs(got["__intercept"] - w[0]) <= 1e-6
    assert abs(got["f1"] - w[1]) <= 1e-6
    assert abs(got["f2"] - w[2]) <= 1e-6
    # separable data: positive class needs f1+f2 large -> both
    # feature weights positive, intercept negative
    got10 = {r["feature"]: r["weight"] for r in
             logreg_fit(df, ["f1", "f2"], "y", iters=10).collect()}
    assert got10["f1"] > 0 and got10["f2"] > 0
    assert got10["__intercept"] < 0
    scored = logreg_score(df, got10, ["f1", "f2"])
    acc = scored.filter(
        "(score >= 0.5) = (y = 1.0)").count() / 60.0
    assert acc >= 0.8
    with pytest.raises(ValueError, match="iters >= 1"):
        logreg_fit(df, ["f1"], "y", iters=0)
    with pytest.raises(ValueError, match="no complete rows"):
        logreg_fit(df.filter("id < 0"), ["f1"], "y")


def test_logreg_standardize_raw_features(spark):
    """standardize=True owns feature scaling: (a) the μ/σ arithmetic
    matches a numpy twin exactly (rounded literals, population σ,
    σ=0→1); (b) on RAW ×1000-magnitude features at the same fixed lr,
    the standardized fit separates the data while the unstandardized
    one saturates (|score−0.5| pinned at the extremes, accuracy at
    chance); (c) logreg_score applies the (weight, mu, sigma) model
    to raw features; (d) l2 shrinks non-intercept weights toward 0
    and leaves the intercept update untouched."""
    import numpy as np

    from seatunnel_spark.dataops.analytics import (logreg_fit,
                                                   logreg_score)

    # raw magnitudes: f1 in [0,9000], f2 in [0,9000], plus a constant
    rng = [(i, (i % 10) * 1000.0, ((i * 7) % 10) * 1000.0, 5.0,
            1.0 if (i % 10) + ((i * 7) % 10) > 9 else 0.0)
           for i in range(60)]
    df = spark.createDataFrame(
        rng, "id long, f1 double, f2 double, fc double, y double")
    iters, lr = 5, 1.0
    model = logreg_fit(df, ["f1", "f2", "fc"], "y", iters=iters,
                       lr=lr, standardize=True)
    got = {r["feature"]: (r["weight"], r["mu"], r["sigma"])
           for r in model.collect()}

    # (a) numpy twin of the standardized path
    X = np.array([[r[1], r[2], r[3]] for r in rng])
    yv = np.array([r[4] for r in rng])
    n = len(yv)
    mu = np.round(X.sum(axis=0) / n, 6)
    sg = np.round(np.sqrt(np.maximum(
        (X * X).sum(axis=0) / n - (X.sum(axis=0) / n) ** 2, 0.0)), 6)
    sg = np.where(sg > 0, sg, 1.0)
    Z = (X - mu) / sg
    w = np.zeros(4)
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(w[0] + Z @ w[1:])))
        g = np.concatenate([[np.sum(p - yv)], (p - yv) @ Z])
        w = np.round(w - lr * g / n, 6)
    for j, c in enumerate(["f1", "f2", "fc"]):
        assert got[c] == (w[j + 1], mu[j], sg[j])
    assert got["__intercept"] == (w[0], 0.0, 1.0)
    assert got["fc"][2] == 1.0 and got["fc"][0] == 0.0  # σ=0 → inert

    # (b) standardized model separates; raw fit saturates at chance
    scored = logreg_score(df, model, ["f1", "f2", "fc"])
    acc = scored.filter("(score >= 0.5) = (y = 1.0)").count() / 60.0
    assert acc >= 0.8
    raw = logreg_fit(df, ["f1", "f2"], "y", iters=iters, lr=lr)
    raw_scored = logreg_score(df, raw, ["f1", "f2"])
    raw_acc = raw_scored.filter(
        "(score >= 0.5) = (y = 1.0)").count() / 60.0
    assert raw_acc < acc  # fixed-step GD on x1000 features degrades

    # (d) ridge shrinkage
    m0 = {r["feature"]: r["weight"] for r in logreg_fit(
        df, ["f1", "f2"], "y", iters=3, standardize=True).collect()}
    m1 = {r["feature"]: r["weight"] for r in logreg_fit(
        df, ["f1", "f2"], "y", iters=3, standardize=True,
        l2=0.5).collect()}
    assert abs(m1["f1"]) < abs(m0["f1"])
    assert abs(m1["f2"]) < abs(m0["f2"])


def test_ab_welch_t_hand_check(spark):
    """Welch t against scipy-checked constants: A=[1,2,3,4], B=[2,4,6,
    8,10]: t = (2.5-6)/sqrt(var_a/4 + var_b/5) with Welch dof; flags
    null out degenerate groups (n<2) instead of dividing by zero."""
    import math

    from pyspark.sql import functions as F

    from seatunnel_spark.dataops.analytics import ab_welch_t

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
            ("b", 2.0), ("b", 4.0), ("b", 6.0), ("b", 8.0),
            ("b", 10.0)]
    df = spark.createDataFrame(rows, ["g", "v"])
    r = ab_welch_t(df, F.col("g") == "a", "v").collect()[0]
    va, vb = 5 / 3, 10.0  # sample variances
    se2 = va / 4 + vb / 5
    t = (2.5 - 6.0) / math.sqrt(se2)
    dof = se2 ** 2 / ((va / 4) ** 2 / 3 + (vb / 5) ** 2 / 4)
    assert (r["n_a"], r["n_b"]) == (4, 5)
    assert r["mean_a"] == 2.5 and r["mean_b"] == 6.0
    assert r["t_stat"] == round(t, 6)
    assert r["dof"] == round(dof, 6)
    # degenerate: one-row group -> NULL t/dof, no ANSI error
    one = spark.createDataFrame([("a", 1.0), ("b", 2.0), ("b", 3.0)],
                                ["g", "v"])
    r2 = ab_welch_t(one, F.col("g") == "a", "v").collect()[0]
    assert r2["t_stat"] is None and r2["dof"] is None


def test_golden_records_survivorship(spark):
    """Field-level survivorship: pairs (1,2),(2,3) fuse into cluster 1
    (transitive); each field survives from the latest (order, id) row
    where it is NON-NULL — name from row 3, phone from row 3 even
    though row 2 also has one; a stale non-null fills a fresh null
    (cluster {5,6}: the newer row 6 has a null phone, row 5's
    survives); unmatched rows pass through as singletons."""
    from seatunnel_spark.dataops.linkage import golden_records

    rec = spark.createDataFrame(
        [(1, 1, "a", None), (2, 2, None, "p2"), (3, 3, "c3", "p3"),
         (5, 5, "e", "p5"), (6, 6, "f", None),
         (9, 9, "z", None)],
        ["id", "ord", "name", "phone"])
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)],
                                  ["id_a", "id_b"])
    got = {r["cluster_id"]: (r["n_members"], r["name"], r["phone"])
           for r in golden_records(rec, pairs, "id", "ord").collect()}
    assert got == {1: (3, "c3", "p3"),
                   5: (2, "f", "p5"),
                   9: (1, "z", None)}


def test_link_split_col_block_col_rejected(spark):
    """A split_col drawn from block_cols is a guaranteed no-op (every
    row of an oversize block shares the block-key value, so the
    sub-key is constant within it) — validation must refuse it loudly
    instead of warning that the block was 'split'."""
    import pytest

    from seatunnel_spark.dataops.linkage import link_score_pairs

    a = spark.createDataFrame([(1, "x", "h")], ["ida", "v", "blk"])
    b = spark.createDataFrame([(2, "x", "h")], ["idb", "v", "blk"])
    with pytest.raises(ValueError, match="cannot refine"):
        link_score_pairs(a, b, "ida", "idb", ["blk"],
                         {"v": (0.9, 0.01)}, on_oversize="split",
                         split_col="blk")


def test_link_dup_clusters_matches_full(spark):
    """Exact-collapse linkage CC == CC over the FULL pair graph on a
    replicated corpus: each entity's a- and b-rows are copied 4x with
    distinct ids but identical (block, field) tuples; components,
    membership, and min-id canon labels must be identical. Includes
    (a) a cross-side matching entity, (b) an entity whose a-rows have
    NO surviving b-match — its replicas must stay OUT of the cluster
    output exactly as the full graph leaves them (the
    no-unconditional-star-edge subtlety), and (c) a null field value
    (null tuples group together, matching null==null groupBy and the
    score's null-contributes-0 rule)."""
    from seatunnel_spark.dataops.dedup import duplicate_clusters
    from seatunnel_spark.dataops.linkage import (link_dup_clusters,
                                                 link_score_pairs)

    # entity e: name n{e}; entity 7's b-side carries a name no a-row
    # matches (isolated reps); entity 3 has a NULL bal on both sides.
    def side(base, idc):
        rows = []
        for e in range(8):
            for copy in range(4):
                rows.append((base + e * 10 + copy,
                             None if e == 3 else float(e),
                             "zz" if base > 0 and e == 7 else f"n{e}",
                             e % 2))
        return spark.createDataFrame(
            rows, f"{idc} long, bal double, name string, blk int")

    a, b = side(0, "ida"), side(1000, "idb")
    fields = {"name": (0.9, 0.01), "bal": (0.8, 0.05)}
    args = (["blk"], fields)

    full = duplicate_clusters(link_score_pairs(
        a, b, "ida", "idb", *args, threshold=1.0, max_pairs=None)
        .select("id_a", "id_b"))
    coll = link_dup_clusters(
        a, b, "ida", "idb", *args, threshold=1.0, max_pairs=None)
    want = {(r["id"], r["cluster_id"]) for r in full.collect()}
    got = {(r["id"], r["cluster_id"]) for r in coll.collect()}
    assert got == want and len(want) > 0
    # entity 7's rows (70..73 / 1070..1073) matched nothing: absent
    assert not any(i % 1000 // 10 == 7 for i, _ in got)
    # entity 3 (null bal) still clusters across sides via name
    assert any(i // 10 == 3 and i < 100 for i, _ in got)

    # collapse_exact=False recovers the plain composition
    plain = link_dup_clusters(
        a, b, "ida", "idb", *args, threshold=1.0, max_pairs=None,
        collapse_exact=False)
    assert {(r["id"], r["cluster_id"])
            for r in plain.collect()} == want

    # golden_records accepts the precomputed clusters (pairs=None)
    from seatunnel_spark.dataops.linkage import golden_records

    recs = (a.select(F.col("ida").alias("id"),
                     F.col("ida").alias("ord"), "name", "bal")
            .unionByName(b.select(F.col("idb").alias("id"),
                                  F.col("idb").alias("ord"),
                                  "name", "bal")))
    g_pairs = golden_records(recs, link_score_pairs(
        a, b, "ida", "idb", *args, threshold=1.0, max_pairs=None),
        "id", "ord", fields=["name", "bal"])
    g_clust = golden_records(recs, None, "id", "ord",
                             fields=["name", "bal"], clusters=coll)
    assert sorted(map(tuple, g_pairs.collect())) == \
        sorted(map(tuple, g_clust.collect()))


def test_dsir_logweights_python_twin(spark):
    """DSIR importance weights: (a) the hashed-feature add-alpha
    arithmetic matches a pure-Python twin exactly (md5-prefix
    buckets, ln ratios, rounded sum — the replay discipline the SQL
    oracle relies on); (b) a raw doc written in the target's
    vocabulary outscores an off-target doc; (c) an empty-text doc
    has no features and is absent; (d) an empty target degenerates
    to the uniform prior, not an error."""
    import hashlib
    import math

    from seatunnel_spark.dataops.sampling import dsir_logweights

    target = spark.createDataFrame(
        [(100, "the cat sat on the mat"),
         (101, "the dog sat on the rug")],
        "doc_id long, text string")
    raw = spark.createDataFrame(
        [(1, "the cat sat on the mat"),      # pure target language
         (2, "zzz qqq vvv kkk www yyy"),     # off-target
         (3, "")],                           # no features
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_feats"], r["log_weight"])
           for r in dsir_logweights(raw, target, width_hex=3,
                                    alpha=1.0).collect()}

    def feats(text):
        toks = [t for t in text.strip().lower().split() if t]
        grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        return [hashlib.md5(g.encode()).hexdigest()[:3] for g in grams]

    B, alpha = 16 ** 3, 1.0
    t_counts, r_counts, doc_counts = {}, {}, {}
    for _, txt in [(100, "the cat sat on the mat"),
                   (101, "the dog sat on the rug")]:
        for b in feats(txt):
            t_counts[b] = t_counts.get(b, 0) + 1
    raws = {1: "the cat sat on the mat", 2: "zzz qqq vvv kkk www yyy",
            3: ""}
    for i, txt in raws.items():
        doc_counts[i] = {}
        for b in feats(txt):
            r_counts[b] = r_counts.get(b, 0) + 1
            doc_counts[i][b] = doc_counts[i].get(b, 0) + 1
    Nt, Nr = sum(t_counts.values()), sum(r_counts.values())
    want = {}
    for i, cs in doc_counts.items():
        if not cs:
            continue
        lw = sum(c * (math.log((t_counts.get(b, 0) + alpha)
                               / (Nt + alpha * B))
                      - math.log((r_counts[b] + alpha)
                                 / (Nr + alpha * B)))
                 for b, c in cs.items())
        want[i] = (sum(cs.values()), round(lw, 6))
    assert got == want
    assert 3 not in got                       # (c)
    assert got[1][1] > got[2][1]              # (b)

    empty_t = target.filter("doc_id < 0")
    deg = {r["doc_id"]: r["log_weight"]
           for r in dsir_logweights(raw, empty_t).collect()}
    assert deg[1] is not None and deg[2] is not None  # (d) finite


def test_contaminated_spans_and_apply(spark):
    """Span-level decontamination: (a) a quoted benchmark passage is
    located at exact maximal bounds at a shifted offset; (b) two
    separated quotes in one doc stay separate spans; (c) a clean doc
    has no spans and passes through apply intact; (d) apply excises
    exactly the contaminated tokens (a fully-quoted doc empties)."""
    from seatunnel_spark.dataops.decontam import (contaminated_spans,
                                                  decontam_apply)

    bench = spark.createDataFrame(
        [(100, "q1 q2 q3 q4 q5")], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "a b q1 q2 q3 q4 q5 c d"),      # quote at pos 3..7
         (2, "totally clean text right here"),
         (3, "q1 q2 q3 zz q3 q4 q5"),        # two quotes, gap > n
         (4, "q1 q2 q3 q4 q5")],             # fully quoted
        "doc_id long, text string")
    got = {(r["doc_id"], r["start_tok"], r["end_tok"]) for r in
           contaminated_spans(docs, bench, n=3).collect()}
    assert got == {(1, 3, 7), (3, 1, 3), (3, 5, 7), (4, 1, 5)}

    out = {r["doc_id"]: r for r in
           decontam_apply(docs, bench, n=3).collect()}
    assert out[1]["clean_text"] == "a b c d"
    assert (out[1]["n_tokens"], out[1]["n_kept"]) == (9, 4)
    assert out[2]["clean_text"] == "totally clean text right here"
    assert out[2]["n_kept"] == out[2]["n_tokens"] == 5
    assert out[3]["clean_text"] == "zz"
    assert out[4]["clean_text"] == "" and out[4]["n_kept"] == 0


def test_ppl_buckets_monotone_quantiles(spark):
    """CCNet perplexity bucketing: doc j carries (12-j) common
    tokens + j unique ones, so scores strictly decrease in j with
    ~0.33-nat gaps — far beyond the DDSketch's 1% relative wobble,
    so only the two docs sitting exactly ON a threshold rank (j=4,
    j=8 for n=12, k=3) may fall either side. Asserts: buckets are
    MONOTONE in the score, the head/middle/tail interiors are
    exact, boundary docs stay within +-1 bucket, and k < 2
    refuses."""
    import pytest

    from seatunnel_spark.dataops.text import ppl_buckets

    rows = [(j, " ".join(["the"] * (12 - j)
                         + [f"u{j}x{m}" for m in range(j)]))
            for j in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = ppl_buckets(df, k=3)
    got = {r["doc_id"]: (r["avg_logprob"], r["bucket"])
           for r in out.collect()}
    assert len(got) == 12
    ordered = sorted(got.values(), key=lambda t: -t[0])
    buckets = [b for _, b in ordered]
    assert buckets == sorted(buckets)          # monotone in score
    # interiors are deterministic; thresholds sit at j=4 and j=8
    assert all(got[j][1] == 0 for j in range(0, 4))
    assert all(got[j][1] == 1 for j in range(5, 8))
    assert all(got[j][1] == 2 for j in range(9, 12))
    assert got[4][1] in (0, 1) and got[8][1] in (1, 2)
    with pytest.raises(ValueError, match="k >= 2"):
        ppl_buckets(df, k=1)


def test_normalize_text_unicode_forms(spark):
    """Unicode normalization: NFC composes e+combining-accent, NFKC
    additionally folds full-width/ligature compatibility forms, NULL
    passes through, unknown forms refuse — and the digest-equality
    consequence holds (NFC of composed == NFC of decomposed)."""
    import pytest

    from seatunnel_spark.dataops.text import normalize_text

    rows = [(1, "café"),            # composed é
            (2, "café"),           # decomposed e + U+0301
            (3, "Ｈｉ ﬁn"),  # full-width Hi + fi ligature
            (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    nfc = {r["doc_id"]: r["norm_text"] for r in
           normalize_text(df, form="NFC").collect()}
    assert nfc[1] == nfc[2] == "café"
    assert nfc[3] == "Ｈｉ ﬁn"  # NFC keeps compat forms
    assert nfc[4] is None
    nfkc = {r["doc_id"]: r["norm_text"] for r in
            normalize_text(df, form="NFKC").collect()}
    assert nfkc[3] == "Hi fin"
    with pytest.raises(ValueError, match="unknown normalization"):
        normalize_text(df, form="NFX")


def test_gemm_kernels_bit_identical_to_folds(spark):
    """The Arrow-side pair scoring (similarity._gemm_pairs /
    _row_sqnorms) must be BIT-identical to the Catalyst HOF folds it
    replaces — the kernels accumulate left-associatively in element
    order from a 0.0 seed, one multiply in the element type + one
    float64 add per term, exactly like aggregate(zip_with(...)).
    Checked via float.hex on every pair (dot, squared-L2) and every
    row norm, for double x double, float x float (Spark multiplies
    float*float in float32) and a double query against a float
    corpus."""
    import numpy as np

    from seatunnel_spark.dataops.similarity import (_dot, _gemm_pairs,
                                                    _norm,
                                                    _row_sqnorms)

    rng = np.random.default_rng(42)
    dim, nq, nc = 17, 6, 9
    Q64 = rng.standard_normal((nq, dim)) * 37.5
    C64 = rng.standard_normal((nc, dim)) * 0.03
    for qt, ct in (("double", "double"), ("float", "float"),
                   ("double", "float")):
        Q = Q64.astype(np.float32 if qt == "float" else np.float64)
        C = C64.astype(np.float32 if ct == "float" else np.float64)
        qdf = spark.createDataFrame(
            [(i, [float(x) for x in Q[i]]) for i in range(nq)],
            f"qid int, qv array<{qt}>")
        cdf = spark.createDataFrame(
            [(j, [float(x) for x in C[j]]) for j in range(nc)],
            f"cid int, cv array<{ct}>")
        l2 = F.aggregate(
            F.zip_with(F.col("qv"), F.col("cv"),
                       lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x)
        jvm = {(r["qid"], r["cid"]): (r["dot"], r["l2"])
               for r in qdf.crossJoin(cdf).select(
                   "qid", "cid",
                   _dot(F.col("qv"), F.col("cv")).alias("dot"),
                   l2.alias("l2")).collect()}
        dots = _gemm_pairs(Q, C)
        dist = _gemm_pairs(Q, C, l2=True)
        for i in range(nq):
            for j in range(nc):
                assert float(dots[i, j]).hex() == jvm[(i, j)][0].hex(), \
                    (qt, ct, i, j)
                assert float(dist[i, j]).hex() == jvm[(i, j)][1].hex(), \
                    (qt, ct, i, j)
        for df, vc, idc, M in ((qdf, "qv", "qid", Q), (cdf, "cv", "cid", C)):
            jvm_norms = {r[idc]: r["n"] for r in df.select(
                idc, _norm(F.col(vc)).alias("n")).collect()}
            norms = np.sqrt(_row_sqnorms(M))
            for i in range(M.shape[0]):
                assert float(norms[i]).hex() == jvm_norms[i].hex(), \
                    (qt, ct, vc, i)


def test_keep_topk_mask_is_superset_of_window_winners():
    """_keep_topk must never drop a candidate the final rank window
    (rounded score desc/asc, id asc) would select — property-checked
    against a brute-force ranking over random scores with heavy
    near-ties at the rounding boundary."""
    import numpy as np

    from seatunnel_spark.dataops.similarity import _keep_topk

    rng = np.random.default_rng(7)
    k, round_to = 5, 4
    margin = 2.0 * 10.0 ** -round_to
    for trial in range(20):
        nq, nc = 4, 40
        # cluster scores tightly so rounding collapses many to ties
        S = np.round(rng.standard_normal((nq, nc)), 4) \
            + rng.choice([0.0, 1e-5, -1e-5, 4.9e-5], size=(nq, nc))
        invalid = rng.random((nq, nc)) < 0.3
        for descending in (True, False):
            keep = _keep_topk(S, k, margin, descending,
                              invalid=invalid.copy())
            assert not (keep & invalid).any()
            for qi in range(nq):
                cand = [(round(S[qi, ci], round_to), ci)
                        for ci in range(nc) if not invalid[qi, ci]]
                cand.sort(key=lambda t: (-t[0] if descending else t[0],
                                         t[1]))
                winners = {ci for _, ci in cand[:k]}
                kept = {ci for ci in range(nc) if keep[qi, ci]}
                assert winners <= kept, (trial, qi, descending)


def test_sql_literal_helpers_nonfinite_and_quoting(spark):
    """ADVICE r11 closes: _d() renders non-finite doubles as parseable
    double() conversions (was 'nanD' -> parse error), and
    caller-supplied column names interpolated into F.expr SQL are
    backtick-quoted so 'a-b' stays a column, not a subtraction."""
    import math

    from seatunnel_spark.dataops._cache import qcol
    from seatunnel_spark.dataops.similarity import _arr_sql, _d

    assert _d(float("nan")) == "double('NaN')"
    assert _d(float("inf")) == "double('Infinity')"
    assert _d(float("-inf")) == "double('-Infinity')"
    assert _d(1.5) == "1.5D"
    row = spark.sql(
        f"SELECT {_arr_sql([1.0, float('nan'), float('inf')])} AS a"
    ).first()
    assert row["a"][0] == 1.0 and math.isnan(row["a"][1]) \
        and math.isinf(row["a"][2])
    assert qcol("a-b") == "`a-b`"
    assert qcol("weird`name") == "`weird``name`"
    # end to end: a hyphenated embedding column through a SQL-string
    # path (kmeans_assign builds its argmin via F.expr)
    from seatunnel_spark.dataops.embeddings import kmeans_assign

    df = spark.createDataFrame([(1, [0.0, 0.0]), (2, [1.0, 1.0])],
                               "id int, `emb-col` array<double>")
    out = kmeans_assign(df, [[0.0, 0.0], [1.0, 1.0]],
                        vec_col="emb-col")
    got = {r["id"]: r["cluster"] for r in out.collect()}
    assert got == {1: 0, 2: 1}


_UNDEFINED_VECTORS = {
    "null vector": None,
    "zero vector": [0.0, 0.0],
    "NaN element": [float("nan"), 1.0],
    "length mismatch": [1.0, 0.0, 2.0],
}


@pytest.mark.parametrize("elem", ["float", "double"])
@pytest.mark.parametrize("case", sorted(_UNDEFINED_VECTORS))
def test_undefined_score_is_null_and_ranks_last(spark, elem, case):
    """One contract for every pair whose cosine is undefined — a null
    vector, lengths that differ, a zero norm, a NaN score — on float
    and double vectors alike: the score is null and ranks after every
    non-null score. Checked end to end through brute_force_topk and on
    the kernels for a batch that mixes the bad row with good ones."""
    import numpy as np

    from seatunnel_spark.dataops.similarity import (_pair_scores,
                                                    _vec_matrix)

    good = [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])]
    rows = good + [(9, _UNDEFINED_VECTORS[case])]
    q = spark.createDataFrame([(0, [1.0, 0.1])],
                              f"vec_id int, embedding array<{elem}>")
    c = spark.createDataFrame(rows, f"vec_id int, embedding array<{elem}>")
    got = [(r["rank"], r["match_id"], r["cosine"]) for r in
           brute_force_topk(q, c, "vec_id", "vec_id", k=4)
           .orderBy("rank").collect()]
    assert [(r, m) for r, m, _ in got] == [(1, 1), (2, 3), (3, 2), (4, 9)]
    assert [s is None for _, _, s in got] == [False, False, False, True]

    dtype = "float32" if elem == "float" else "float64"
    Q, qlen = _vec_matrix([[1.0, 0.1]], dtype)
    C, clen = _vec_matrix([v for _, v in rows], dtype)
    S = _pair_scores(Q, qlen, C, clen)
    assert np.isnan(S).tolist() == [[False, False, False, True]]


# brute_force_topk, hard_negatives, hard_negatives_ivf, ivf_topk,
# search_ivf_index and lsh_bucketed_topk over array<float> vectors, as
# the Catalyst folds scored them (rows: query_id, rank, match_id,
# float.hex of the unrounded cosine). With nprobe=2 of 3 cells the IVF
# searches find the brute-force neighbours.
_FLOAT_TOPK = [
    (0, 1, 0, '0x1.0000000000001p+0'),
    (0, 2, 3, '0x1.f64f68112379fp-1'),
    (0, 3, 6, '0x1.ef33480775606p-1'),
    (1, 1, 1, '0x1.fffffffffffffp-1'),
    (1, 2, 28, '0x1.f4db58f94a1bbp-1'),
    (1, 3, 25, '0x1.e9b863865fc11p-1'),
    (2, 1, 2, '0x1.fffffffffffffp-1'),
    (2, 2, 5, '0x1.fcb807fba09f3p-1'),
    (2, 3, 29, '0x1.f643c18b9f92fp-1'),
]
_FLOAT_HARD_NEGATIVES = [
    (0, 1, 3, '0x1.f64f68112379fp-1'),
    (0, 2, 9, '0x1.e4576554dc0d3p-1'),
    (0, 3, 15, '0x1.b7d2fc64dab88p-1'),
    (1, 1, 28, '0x1.f4db58f94a1bbp-1'),
    (1, 2, 10, '0x1.c935117a6c57bp-1'),
    (1, 3, 22, '0x1.c60ec03e8da9bp-1'),
    (2, 1, 5, '0x1.fcb807fba09f3p-1'),
    (2, 2, 29, '0x1.f643c18b9f92fp-1'),
    (2, 3, 11, '0x1.d130ef733b87cp-1'),
]
_FLOAT_LSH = [
    (0, 1, 0, '0x1.0000000000001p+0'),
    (0, 2, 25, '0x1.3d5f4255d39a9p-2'),
    (0, 3, 28, '0x1.0b44c20481e50p-2'),
    (1, 1, 1, '0x1.fffffffffffffp-1'),
    (1, 2, 28, '0x1.f4db58f94a1bbp-1'),
    (1, 3, 25, '0x1.e9b863865fc11p-1'),
    (2, 1, 2, '0x1.fffffffffffffp-1'),
    (2, 2, 5, '0x1.fcb807fba09f3p-1'),
]


def test_ann_operators_float_vectors_pinned(spark, tmp_path):
    """array<float> vectors score through the same Arrow kernels as
    array<double> ones, multiplying in float32 like the folds did:
    every ANN operator's unrounded output matches, bit for bit, the
    rows the fold produced for the same input."""
    from seatunnel_spark.dataops.similarity import (hard_negatives,
                                                    hard_negatives_ivf,
                                                    ivf_topk,
                                                    search_ivf_index,
                                                    write_ivf_index)

    rows = []
    for i in range(30):
        v = [((i * 7 + d * 5) % 11 - 5) / 7.0 + (3.0 if d == i % 3 else 0.0)
             for d in range(5)]
        rows.append((i, v, None if i == 4 else i % 2))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    q = df.filter("vec_id < 3")
    cb = [[3.0 if d == c else 0.0 for d in range(5)] for c in range(3)]
    path = str(tmp_path / "ivf")
    write_ivf_index(df, path, centroids=cb)
    outs = {
        "brute_force_topk": (brute_force_topk(q, df, "vec_id", "vec_id",
                                              k=3), _FLOAT_TOPK),
        "hard_negatives": (hard_negatives(q, df, "vec_id", "vec_id", k=3),
                           _FLOAT_HARD_NEGATIVES),
        "hard_negatives_ivf": (hard_negatives_ivf(
            q, df, "vec_id", "vec_id", k=3, nlist=3, nprobe=2,
            centroids=cb), _FLOAT_HARD_NEGATIVES),
        "ivf_topk": (ivf_topk(q, df, "vec_id", "vec_id", k=3, nlist=3,
                              nprobe=2, centroids=cb), _FLOAT_TOPK),
        "search_ivf_index": (search_ivf_index(spark, path, q, k=3,
                                              nprobe=2), _FLOAT_TOPK),
        "lsh_bucketed_topk": (lsh_bucketed_topk(q, df, "vec_id", "vec_id",
                                                k=3, planes=2), _FLOAT_LSH),
    }
    for name, (out, want) in outs.items():
        got = sorted((r["query_id"], r["rank"], r["match_id"],
                      r["cosine"].hex()) for r in out.collect())
        assert got == want, name


_PORTABLE_SCRIPT = """
import sys
sys.path.insert(0, {root!r})
from seatunnel_spark.dataops.similarity import (brute_force_topk,
                                                hard_negatives_ivf)
from seatunnel_spark.session import get_spark

spark = get_spark("portable-ann")
rows = [(i, [float(i % 3 == d) + i / 100.0 for d in range(3)], i % 2)
        for i in range(12)]
df = spark.createDataFrame(
    rows, "vec_id long, embedding array<double>, label int")
q = df.filter("vec_id < 2")
top = brute_force_topk(q, df, "vec_id", "vec_id", k=2).collect()
neg = hard_negatives_ivf(q, df, "vec_id", "vec_id", k=2, nlist=3,
                         nprobe=3, centroids=[[1.0, 0, 0], [0, 1.0, 0],
                                              [0, 0, 1.0]]).collect()
print("ROWS", len(top), len(neg))
spark.stop()
"""


def test_ann_scoring_runs_without_package_on_worker_path(tmp_path):
    """The scoring stages' Python workers must not need seatunnel_spark
    on their path: run from a directory outside the repo with no
    PYTHONPATH — the package is importable on the driver only — the
    MapInPandas (brute_force_topk) and cogroup (hard_negatives_ivf)
    shapes still return their rows."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "portable_ann.py"
    script.write_text(_PORTABLE_SCRIPT.format(root=root))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run([sys.executable, str(script)], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=600)
    assert "ROWS 4 4" in proc.stdout, proc.stderr[-3000:]

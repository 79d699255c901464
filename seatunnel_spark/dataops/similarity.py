"""Similarity search over embedding columns (array<float> or
array<double>).

Exact top-k (brute_force_topk, hard_negatives): the small query side
is collected once and shipped in the task closure; the corpus is
scanned once, with no shuffle, by ONE MapInPandas stage that scores
each Arrow batch against every query and emits only the per-batch
top-k contenders to the final rank window.

Scale path: IVF (k-means coarse cells, multi-probe) and
random-hyperplane LSH buckets score only the (query, corpus-row)
pairs that share a cell or bucket key — a ~nlist/nprobe (resp.
~buckets×) scan reduction. hard_negatives_ivf meets queries and
corpus per cell in one cogroup stage, so neither side is broadcast.
At 100 TB the IVF index also partition-prunes when the corpus is
written partitioned by cell (write_ivf_index).

Every ANN operator scores pairs through the same kernels
(_pair_scores). They reproduce the Catalyst folds
aggregate(zip_with(x*y), 0.0D, acc+x) bit for bit: each product is
taken in the vectors' element type (float32 for array<float>,
float64 for array<double>) and added to a float64 accumulator in
element order. Other element types are cast to array<double> at
entry. A pair whose score is undefined — a null vector on either
side, vectors of different lengths, a zero norm, or a NaN score —
scores null and ranks after every non-null score.

`_spread` gives tiny local scans scale-adaptive parallelism (a no-op
at scale). ADC scoring precomputes the per-query distance table
(Jégou et al. 2011): lut[s][c] = ||q_sub_s − codebook[s][c]||², one
entry per subspace partial with the fold's own 0.0 seed, so the
per-pair score is m lookups and distances stay bit-identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from seatunnel_spark._pyworker import (apply_in_pandas, map_in_pandas,
                                      ship_by_value)
from seatunnel_spark.dataops._cache import ensure_parallelism as _ensure
from seatunnel_spark.dataops._cache import qcol as _qcol

ship_by_value(__name__)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                       lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


# ---------------------------------------------------------------------------
# Arrow-side pair scoring (guide §4.2): an interpreted Catalyst HOF fold
# costs ~6-10 µs per pair (measured round 11; full expression unrolling
# was ~3x SLOWER, see OPTIMIZATION_r11.md). The kernels below batch
# whole pair blocks through numpy while reproducing the folds' EXACT
# IEEE arithmetic: every score is accumulated left-associatively in
# element order from a 0.0 float64 seed — acc += q[d]*c[d] (resp.
# (a-b)*(a-b)) for d = 0..dim-1 — with the product taken in the
# vectors' element type, just as Spark multiplies float*float in
# float32 before adding it to the double accumulator. Each result is
# bit-identical to the fold (pinned by
# tests/test_dataops.py::test_gemm_kernels_bit_identical_to_folds).
# Deliberately NOT a BLAS dot (np.dot/np.matmul reorders the summation
# and its results, while numerically close, would not be provably
# byte-equal to the declared queries' oracle values).
# ---------------------------------------------------------------------------

_GEMM_BLOCK = 4_000_000  # max score-matrix cells per query block (~32 MB)


def _gemm_pairs(Q, C, l2: bool = False):
    """(nq, dim) x (nc, dim) -> (nq, nc) float64 pairwise dot products
    (or squared-L2 with l2=True), accumulated in the folds' exact
    order; each term is computed in np.result_type(Q, C)."""
    import numpy as np

    S = np.zeros((Q.shape[0], C.shape[0]))
    tmp = np.empty(S.shape, dtype=np.result_type(Q, C))
    for d in range(Q.shape[1]):
        if l2:
            np.subtract(Q[:, d, None], C[None, :, d], out=tmp)
            np.multiply(tmp, tmp, out=tmp)
        else:
            np.multiply(Q[:, d, None], C[None, :, d], out=tmp)
        S += tmp
    return S


def _row_sqnorms(M):
    """Per-row Σ x*x in the _norm fold's exact accumulation order (each
    square in M's dtype, summed into float64)."""
    import numpy as np

    s = np.zeros(M.shape[0])
    for d in range(M.shape[1]):
        s += M[:, d] * M[:, d]
    return s


def _vec_matrix(vecs, dtype):
    """One batch's vectors as a (rows, width) matrix of `dtype`,
    zero-padded past each row's end, plus every row's length (-1 for
    a null vector). A null element becomes NaN."""
    import numpy as np

    vecs = list(vecs)
    lens = np.array([-1 if v is None else len(v) for v in vecs],
                    dtype=np.int64)
    width = int(lens.max(initial=0))
    if (lens == width).all():
        return np.array(vecs, dtype=dtype).reshape(len(vecs), width), lens
    M = np.zeros((len(vecs), width), dtype=dtype)
    for i, v in enumerate(vecs):
        if v is not None:
            M[i, :len(v)] = v
    return M, lens


def _pair_scores(Q, qlen, C, clen, l2: bool = False):
    """(nq, nc) cosine scores (squared-L2 with l2=True) from the
    bit-identical kernels, NaN — null once it reaches Spark — for
    every pair the fold leaves undefined: a null vector on either
    side, lengths that differ, or a zero norm."""
    import numpy as np

    width = max(Q.shape[1], C.shape[1])
    if Q.shape[1] < width:
        Q = np.pad(Q, ((0, 0), (0, width - Q.shape[1])))
    if C.shape[1] < width:
        C = np.pad(C, ((0, 0), (0, width - C.shape[1])))
    S = _gemm_pairs(Q, C, l2=l2)
    bad = (qlen[:, None] != clen[None, :]) | (qlen < 0)[:, None]
    if not l2:
        qn = np.sqrt(_row_sqnorms(Q))
        cn = np.sqrt(_row_sqnorms(C))
        bad |= (qn == 0)[:, None] | (cn == 0)[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            S /= qn[:, None] * cn[None, :]
    S[bad] = np.nan
    return S


def _keep_topk(S, k: int, margin: float, descending: bool,
               invalid=None):
    """Boolean mask of the candidates that can still reach the final
    top-k window: everything within `margin` of the row's k-th best
    score. With margin = 2·10^-round_to, a dropped candidate trails
    ≥ k same-group candidates by more than 10^-round_to + rounding
    slack, so its F.round-ed score is STRICTLY worse than k others'
    and it can never enter the global top-k — the emitted rows are a
    provable superset of the window's winners (margin 0.0 when no
    rounding: ties at the k-th value are all kept). NaN scores reach
    the window as nulls, which rank last, so they count as the worst
    score. `invalid` marks pairs that are no candidates at all."""
    import numpy as np

    nq, nc = S.shape
    X = np.where(np.isnan(S), -np.inf, S if descending else -S)
    if invalid is not None:
        X[invalid] = -np.inf
    if nc <= k:
        keep = np.ones((nq, nc), dtype=bool)
    else:
        kth = np.partition(X, nc - k, axis=1)[:, nc - k]
        keep = X >= (kth - margin)[:, None]
    if invalid is not None:
        keep &= ~invalid
    return keep


def _elem_dtype(field) -> str:
    """numpy dtype of an array<float|double> schema field's elements."""
    from pyspark.sql.types import FloatType

    if isinstance(field.dataType.elementType, FloatType):
        return "float32"
    return "float64"


def _vec_col(df: DataFrame, col: str, alias: str) -> Column:
    """`col` AS `alias`, ready for the scoring kernels: float and
    double elements pass through — the kernels multiply in the element
    type, as the folds do — and any other element type is cast to
    double."""
    from pyspark.sql.types import DoubleType, FloatType

    v = F.col(col)
    et = getattr(df.select(v).schema[0].dataType, "elementType", None)
    if not isinstance(et, (FloatType, DoubleType)):
        v = v.cast("array<double>")
    return v.alias(alias)


def _map_gemm_topk(qrows, qschema, corpus: DataFrame, k: int,
                   round_to: int | None, l2: bool = False,
                   anti_label: bool = False,
                   key_col: str | None = None,
                   out_score: str = "cosine") -> DataFrame:
    """Broadcast-queries pair scoring as ONE MapInPandas stage over
    the corpus scan (guide §4.2). `qrows` are the COLLECTED query rows
    (__qid, __qv [, __ql] [, key_col]) with schema `qschema` — small
    by the operators' broadcast contract — shipped in the task closure
    and built into a matrix once per task (guide §4.5). Each Arrow
    batch of corpus rows (__cid, __cv [, __cl] [, key_col]) is scored
    against them with _pair_scores, and only the per-(query, batch)
    top-k contenders are emitted (_keep_topk superset — the final rank
    window picks the exact top-k). With `key_col` (IVF cell / LSH
    bucket), scoring touches only the (query, corpus-row) pairs whose
    keys match; with `anti_label`, only pairs whose non-null labels
    differ. The corpus is never shuffled and only the projected
    columns cross the Python boundary."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    import numpy as np

    if anti_label:
        # a NULL label can neither agree nor disagree — excluded
        qrows = [r for r in qrows if r[2] is not None]
    qids = [r[0] for r in qrows]
    Q, qlen = _vec_matrix([r[1] for r in qrows], _elem_dtype(qschema["__qv"]))
    cdtype = _elem_dtype(corpus.schema["__cv"])
    qlab = [r[2] for r in qrows] if anti_label else None
    qkey_idx: dict | None = None
    if key_col is not None:
        qkey_idx = {}
        kpos = 3 if anti_label else 2
        for i, r in enumerate(qrows):
            qkey_idx.setdefault(r[kpos], []).append(i)
    margin = 0.0 if round_to is None else 2.0 * (10.0 ** -round_to)
    out_schema = StructType([
        StructField("__qid", qschema["__qid"].dataType),
        StructField("__cid", corpus.schema["__cid"].dataType),
        StructField(out_score, DoubleType()),
    ])

    def _score(batches):
        import numpy as np
        import pandas as pd

        if not qids:
            return
        qid_arr = np.array(qids)
        qlab_arr = np.array(qlab) if anti_label else None

        def _block(sub, qsel):
            cid = sub["__cid"].to_numpy()
            vecs = sub["__cv"]
            invalid = None
            if anti_label:
                ok = ~sub["__cl"].isna().to_numpy()
                cid, vecs, cl = cid[ok], vecs[ok], sub["__cl"][ok]
                if len(cid) == 0:
                    return None
                invalid = (qlab_arr[qsel, None]
                           == cl.to_numpy()[None, :])
            C, clen = _vec_matrix(vecs, cdtype)
            S = _pair_scores(Q[qsel], qlen[qsel], C, clen, l2=l2)
            km = _keep_topk(S, k, margin, descending=not l2,
                            invalid=invalid)
            qi, ci = np.nonzero(km)
            return pd.DataFrame({"__qid": qid_arr[qsel][qi],
                                 "__cid": cid[ci],
                                 out_score: S[qi, ci]})

        all_q = np.arange(len(qids))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if qkey_idx is None:
                out = _block(pdf, all_q)
                if out is not None and len(out):
                    yield out
            else:
                for kv, sub in pdf.groupby(key_col, sort=False):
                    qsel = qkey_idx.get(kv)
                    if not qsel:
                        continue
                    out = _block(sub, np.array(qsel))
                    if out is not None and len(out):
                        yield out

    cols = ["__cid", "__cv"]
    if anti_label:
        cols.append("__cl")
    if key_col is not None:
        cols.append(key_col)
    scored = map_in_pandas(corpus.select(*cols), _score, out_schema)
    if round_to is not None:
        scored = scored.withColumn(out_score,
                                   F.round(out_score, round_to))
    return scored


def _cogroup_cosine_topk(q: DataFrame, c: DataFrame, k: int,
                         round_to: int | None, anti_label: bool,
                         ngroups: int) -> DataFrame:
    """Per-cell pair scoring as ONE FlatMapCoGroupsInPandas stage
    (guide §4.2): each cell's query block meets its corpus block as
    two Arrow batches, scores come from _pair_scores, and only the
    per-(query, cell) top-k contenders (see _keep_topk) flow back —
    |Q|·nprobe·~k rows instead of |Q|·nprobe·|cell| into the rank
    window. Corpus rows are salted into ceil(parallelism/ngroups)
    sub-groups (queries replicate to every salt — deterministic
    xxhash64 salt, guide §2.5) so few-celled local runs still use
    every core; at scale nlist is large and the salt collapses to 1.
    Expects columns (__qid, __qv [, __ql]) / (__cid, __cv [, __cl])
    plus __cell on both sides; emits (__qid, __cid, cosine) with
    cosine = dot/(||q||·||c||) rounded to round_to. With
    `anti_label`, only pairs whose non-null labels differ score."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    spark = q.sparkSession
    dp = spark.sparkContext.defaultParallelism
    nsalt = max(1, min(16, dp // max(1, ngroups)))
    keys = ["__cell"]
    if nsalt > 1:
        c = c.withColumn(
            "__gs", F.pmod(F.xxhash64("__cid"), F.lit(nsalt)).cast("int"))
        q = q.withColumn(
            "__gs", F.explode(F.array(*[F.lit(i) for i in range(nsalt)])))
        keys.append("__gs")
    margin = 0.0 if round_to is None else 2.0 * (10.0 ** -round_to)
    qdtype = _elem_dtype(q.schema["__qv"])
    cdtype = _elem_dtype(c.schema["__cv"])
    out_schema = StructType([
        StructField("__qid", q.schema["__qid"].dataType),
        StructField("__cid", c.schema["__cid"].dataType),
        StructField("cosine", DoubleType()),
    ])

    def _score(left, right):
        import numpy as np
        import pandas as pd

        def _empty():
            return pd.DataFrame({
                "__qid": left["__qid"].iloc[:0],
                "__cid": right["__cid"].iloc[:0],
                "cosine": np.empty(0)})

        if anti_label:
            # NULL labels can neither agree nor disagree — excluded on
            # both sides
            left = left[~left["__ql"].isna()]
            right = right[~right["__cl"].isna()]
        if len(left) == 0 or len(right) == 0:
            return _empty()
        if anti_label:
            codes = pd.factorize(pd.concat(
                [left["__ql"], right["__cl"]], ignore_index=True))[0]
            qlab, clab = codes[:len(left)], codes[len(left):]
        Q, qlen = _vec_matrix(left["__qv"], qdtype)
        C, clen = _vec_matrix(right["__cv"], cdtype)
        qid = left["__qid"].to_numpy()
        cid = right["__cid"].to_numpy()
        outs = []
        step = max(1, _GEMM_BLOCK // max(C.shape[0], 1))
        for i in range(0, Q.shape[0], step):
            S = _pair_scores(Q[i:i + step], qlen[i:i + step], C, clen)
            invalid = (qlab[i:i + step, None] == clab[None, :]
                       ) if anti_label else None
            keep = _keep_topk(S, k, margin, descending=True,
                              invalid=invalid)
            qi, ci = np.nonzero(keep)
            outs.append(pd.DataFrame({"__qid": qid[i:i + step][qi],
                                      "__cid": cid[ci],
                                      "cosine": S[qi, ci]}))
        return pd.concat(outs) if outs else _empty()

    scored = apply_in_pandas(q.groupBy(*keys).cogroup(c.groupBy(*keys)),
                             _score, out_schema)
    if round_to is not None:
        scored = scored.withColumn("cosine", F.round("cosine", round_to))
    return scored


def _spread(df: DataFrame) -> DataFrame:
    """Scale-adaptive scan parallelism: round-robin repartition to
    defaultParallelism ONLY when the planned input has fewer than
    half that many partitions (no-op at scale); delegates to the one
    shared implementation (see _cache.ensure_parallelism)."""
    return _ensure(df)


def with_cosine(df: DataFrame, a_col: str, b_col: str, out: str = "cosine") -> DataFrame:
    """Append cosine(a_col, b_col) — pure Catalyst HOFs, JVM-side."""
    a, b = F.col(a_col), F.col(b_col)
    return df.withColumn(out, _dot(a, b) / (_norm(a) * _norm(b)))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    round_to: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    queries is assumed small (it's collected and shipped with every
    scoring task); corpus is scanned once by one MapInPandas stage.
    Result columns are FIXED names (query_id, match_id, cosine, rank) so
    self-joins over the same table never collide; rank 1..k, ties broken
    by match id for determinism; a null (undefined) cosine ranks last.
    `round_to` rounds the score BEFORE ranking — use it when results
    must be reproducible bit-for-bit across engines/arithmetic orders
    (e.g. oracle checks)."""
    qprep = queries.select(F.col(query_id).alias("__qid"),
                           _vec_col(queries, query_vec, "__qv"))
    c = _spread(corpus.select(F.col(corpus_id).alias("__cid"),
                              _vec_col(corpus, corpus_vec, "__cv")))
    scored = _map_gemm_topk(qprep.collect(), qprep.schema, c, k, round_to)
    return _rank_topk(scored, k)


def brute_force_l2_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    round_to: int | None = None,
) -> DataFrame:
    """Exact top-k by SQUARED L2 (ascending) -> (query_id, match_id,
    dist, rank) — the ground truth for the PQ/IVFADC family, which
    approximates ||q − x||²; recall of an L2-metric index must be
    audited against L2 ground truth, not cosine (they rank
    differently on unnormalized vectors). Same collected-queries /
    one-corpus-scan shape as brute_force_topk; a null (undefined)
    distance ranks last."""
    # both sides cast to array<double>: the distance is the
    # double-precision squared-L2 fold
    qprep = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(query_vec).cast("array<double>").alias("__qv"))
    c = _spread(corpus.select(F.col(corpus_id).alias("__cid"),
                              F.col(corpus_vec).cast("array<double>")
                              .alias("__cv")))
    scored = _map_gemm_topk(qprep.collect(), qprep.schema, c, k, round_to,
                            l2=True, out_score="dist")
    scored = scored.select(F.col("__qid").alias("query_id"),
                           F.col("__cid").alias("match_id"), "dist")
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc_nulls_last(), F.col("match_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "match_id", "dist", "rank"))


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("__qid").orderBy(F.col("cosine").desc(), F.col("__cid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias("query_id"),
            F.col("__cid").alias("match_id"),
            "cosine",
            "rank",
        )
    )


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_label: str = "label",
    corpus_label: str = "label",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    round_to: int | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive / retrieval training:
    for each query vector, the top-k most-similar corpus vectors
    whose LABEL DIFFERS from the query's — the highest-value
    negatives (similar embedding, different class) that make
    contrastive batches informative instead of trivially-separable
    random negatives.

    Same scale shape as brute_force_topk (collected queries × one
    corpus scan in one MapInPandas stage) with the label mismatch
    applied as a mask INSIDE each scored batch — same-label
    candidates never reach the rank window. NULL labels on either
    side are excluded (a null label can neither agree nor disagree
    with evidence). For corpus-scale query sets, use
    hard_negatives_ivf (IVF shortlist, no broadcast anywhere)."""
    qprep = queries.select(F.col(query_id).alias("__qid"),
                           _vec_col(queries, query_vec, "__qv"),
                           F.col(query_label).alias("__ql"))
    c = _spread(corpus.select(F.col(corpus_id).alias("__cid"),
                              _vec_col(corpus, corpus_vec, "__cv"),
                              F.col(corpus_label).alias("__cl")))
    scored = _map_gemm_topk(qprep.collect(), qprep.schema, c, k, round_to,
                            anti_label=True)
    return _rank_topk(scored, k)


def hard_negatives_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_label: str = "label",
    corpus_label: str = "label",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    centroids: list[list[float]] | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """CORPUS-SCALE hard-negative mining: the hard_negatives
    semantics (per query, top-k most-similar DIFFERENT-label
    candidates) over an IVF shortlist instead of a broadcast query
    set — the regime where the queries are themselves a training
    corpus (every anchor mines its own negatives), far beyond
    driver/broadcast size.

    Composition: corpus rows assign to their nearest cell of the
    coarse codebook (one pass, no corpus shuffle to the driver);
    queries explode to their `nprobe` nearest cells and meet the
    corpus per cell in ONE cogroup stage (_cogroup_cosine_topk) —
    no broadcast anywhere, both sides scale out, per-cell work is
    (|q|·nprobe/nlist)·(|c|/nlist) per cell instead of |q|·|c|, and
    the cell key is salted so few-celled runs still spread. The
    label mismatch is a mask inside each cell's scoring block, so
    same-label candidates are discarded before the rank window —
    which is why NO over-fetch factor is needed: the k survivors
    come from every different-label candidate in the probed cells,
    not from a pre-truncated, same-label-diluted top list (the
    composition the hard_negatives docstring names, made into an
    operator). NULL labels are excluded on both sides, matching
    hard_negatives.

    Recall vs the brute-force miner is the usual IVF probed-cells
    trade — audit with topk_recall(hard_negatives_ivf(...),
    hard_negatives(...)) on a sampled query subset (pinned in
    tests). Pass `centroids` for a fixed deterministic codebook
    (engine-replayable oracles); `round_to` rounds the cosine
    BEFORE ranking for cross-engine bit-stability. At 100 TB, pair
    with write_ivf_index so the corpus side partition-prunes to the
    probed cells."""
    if centroids is None:
        centroids = train_ivf_centroids(corpus, corpus_vec,
                                        corpus_id, nlist, iters)
    c = _spread(corpus.select(
        F.col(corpus_id).alias("__cid"),
        _vec_col(corpus, corpus_vec, "__cv"),
        F.col(corpus_label).alias("__cl"),
    )).withColumn("__cell", _nearest_centroid("__cv", centroids))
    probe = F.transform(
        F.slice(F.reverse(F.array_sort(
            _centroid_scores("__qv", centroids))), 1, nprobe),
        lambda s: s["i"],
    )
    q = _spread(queries.select(
        F.col(query_id).alias("__qid"),
        _vec_col(queries, query_vec, "__qv"),
        F.col(query_label).alias("__ql"),
    )).withColumn("__cell", F.explode(probe))
    scored = _cogroup_cosine_topk(q, c, k, round_to, anti_label=True,
                                  ngroups=len(centroids))
    return _rank_topk(scored, k)


def train_ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nlist: int = 16,
    iters: int = 2,
):
    """Distributed Lloyd's k-means for IVF coarse quantization.

    Init is deterministic (the `nlist` lowest-id vectors); each
    iteration assigns every vector to its nearest centroid with a
    Catalyst argmax over broadcast centroid literals, then recomputes
    per-cluster means via posexplode + groupBy — one shuffle of
    (cluster, dim, value) triples per iteration, never the vectors to
    the driver. Only the nlist×dim centroid matrix is collected
    (tiny, by construction). Returns a list[list[float]].
    """
    init = (
        corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        .orderBy("__id")
        .limit(nlist)
        .collect()
    )
    centroids = [[float(x) for x in r["__v"]] for r in init]
    v = F.col(vec_col)
    for _ in range(iters):
        # no _spread here: a repartition reorders the rows feeding the
        # per-cluster avg, which perturbs the trained means in the
        # last float bits (training is not on any bench/oracle path)
        assigned = corpus.select(
            v.alias("__v"),
            _nearest_centroid(_qcol(vec_col), centroids).alias("__c")
        )
        rows = (
            assigned.select("__c", F.posexplode("__v").alias("__d", "__x"))
            .groupBy("__c", "__d")
            .agg(F.avg("__x").alias("__m"))
            .collect()
        )
        new = [list(c) for c in centroids]
        for r in rows:
            new[r["__c"]][r["__d"]] = float(r["__m"])
        centroids = new
    return centroids


def _d(v: float) -> str:
    """Exact SQL double literal — repr() round-trips binary64 and the
    parser reads back the identical double F.lit(float(v)) carries.
    Non-finite values render as the double() conversions ('nanD' /
    'infD' would fail to parse — ADVICE r11); they can only reach
    here from degenerate trained codebooks, and they round-trip to
    the same doubles F.lit would carry."""
    v = float(v)
    if v != v:
        return "double('NaN')"
    if v == float("inf"):
        return "double('Infinity')"
    if v == float("-inf"):
        return "double('-Infinity')"
    return f"{v!r}D"


def _arr_sql(vals) -> str:
    return "array(" + ",".join(_d(v) for v in vals) + ")"


def _dot_sql(vec: str, arr: str) -> str:
    """The _dot HOF as SQL text — the parser builds the IDENTICAL
    zip_with/aggregate tree the Column API builds, so evaluation and
    values are unchanged; the point is ONE parse instead of a py4j
    round trip per literal (literal-heavy plans — codebooks of
    m·k·dim floats — cost seconds per query to CONSTRUCT through the
    Column API, which dominated the whole ANN family's bench time)."""
    return (f"aggregate(zip_with({vec}, {arr}, (x, y) -> x * y), "
            f"0.0D, (acc, x) -> acc + x)")


def _centroid_scores(vec: Column | str, centroids) -> Column:
    """array<struct<s:double,i:int>> of cosine(vec, centroid_i).
    `vec` as a SQL expression STRING builds the whole literal-heavy
    score array in one F.expr parse (same tree, see _dot_sql)."""
    if isinstance(vec, str):
        nrm = (f"sqrt(aggregate({vec}, 0.0D, "
               f"(acc, x) -> acc + x * x))")
        parts = []
        for i, c in enumerate(centroids):
            cn = _d(sum(x * x for x in c) ** 0.5 or 1.0)
            parts.append(
                f"named_struct('s', {_dot_sql(vec, _arr_sql(c))} "
                f"/ ({nrm} * {cn}), 'i', {i})")
        return F.expr("array(" + ",".join(parts) + ")")
    n = _norm(vec)
    scores = []
    for i, c in enumerate(centroids):
        lit = F.array(*[F.lit(float(x)) for x in c])
        cn = sum(x * x for x in c) ** 0.5 or 1.0
        scores.append(
            F.struct((_dot(vec, lit) / (n * F.lit(cn))).alias("s"),
                     F.lit(i).alias("i"))
        )
    return F.array(*scores)


def _nearest_centroid(vec: Column | str, centroids) -> Column:
    # array_max on struct<s,i> compares s first -> argmax by score.
    return F.array_max(_centroid_scores(vec, centroids))["i"]


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    centroids: list[list[float]] | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """IVF approximate top-k: k-means coarse quantizer + multi-probe.

    Corpus vectors are assigned to their nearest of `nlist` centroids
    (one pass, no shuffle of the corpus); each query probes its
    `nprobe` nearest cells, and the one MapInPandas scoring stage
    (_map_gemm_topk, keyed on the cell) runs exact cosine only on
    (query, corpus-row) pairs in the same cell — an nlist/nprobe
    reduction of the pairs scored. At 100 TB, persist the corpus
    partitioned by `__cell` (write_ivf_index) so probing
    partition-prunes the scan; centroids stay a broadcast literal
    (nlist×dim floats).

    Pass `centroids` to skip training and use a fixed codebook (e.g. a
    seeded random quantizer) — makes the whole search deterministic
    and engine-replayable for correctness oracles. `round_to` rounds
    the cosine BEFORE ranking for bit-stable cross-engine results.
    """
    if centroids is None:
        centroids = train_ivf_centroids(corpus, corpus_vec, corpus_id, nlist, iters)

    c = _spread(corpus.select(
        F.col(corpus_id).alias("__cid"),
        _vec_col(corpus, corpus_vec, "__cv"),
    )).withColumn("__cell", _nearest_centroid("__cv", centroids))
    probe = F.transform(
        F.slice(F.reverse(F.array_sort(_centroid_scores(_qcol(query_vec), centroids))),
                1, nprobe),
        lambda s: s["i"],
    )
    qprep = queries.select(
        F.col(query_id).alias("__qid"),
        _vec_col(queries, query_vec, "__qv"),
        F.explode(probe).alias("__cell"),
    )
    scored = _map_gemm_topk(qprep.collect(), qprep.schema, c, k, round_to,
                            key_col="__cell")
    return _rank_topk(scored, k)


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    iters: int = 2,
    centroids: list[list[float]] | None = None,
) -> None:
    """Persist an IVF index: corpus parquet partitioned by `__cell` +
    centroids under `<path>/_centroids` (underscore-prefixed so data
    scans ignore it). At 100 TB this is the point of IVF — a search
    touches only the probed cells' files via partition pruning, so I/O
    scales with nprobe/nlist of the corpus, not its size. Pass
    `centroids` to skip training (fixed/seeded codebooks, or re-using
    a prior index's quantizer)."""
    if centroids is None:
        centroids = train_ivf_centroids(corpus, vec_col, corpus_id,
                                        nlist, iters)
    spark = corpus.sparkSession
    assigned = _spread(corpus).withColumn(
        "__cell", _nearest_centroid(_qcol(vec_col), centroids)
    )
    assigned.write.mode("overwrite").partitionBy("__cell").parquet(path)
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "i INT, centroid ARRAY<DOUBLE>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_centroids")


def append_ivf_index(
    new_rows: DataFrame,
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Incremental IVF index maintenance: assign NEW vectors to the
    index's EXISTING centroids (read from `<path>/_centroids`) and
    APPEND them into the cell-partitioned parquet — the daily-delta
    path at 100 TB: no retrain, no index rewrite, and
    search_ivf_index sees the union immediately (appended files land
    inside the probed `__cell=...` directories, so partition pruning
    is untouched). The quantizer is frozen by design — identical
    vectors land in identical cells whether they arrived at build or
    append time, so an appended index equals a one-shot build over
    the union under the same codebook (equivalence-tested). Centroids
    drift as the corpus grows: retrain + rewrite (write_ivf_index)
    when a topk_recall audit against brute force degrades."""
    spark = new_rows.sparkSession
    centroids = [
        [float(x) for x in r["centroid"]]
        for r in spark.read.parquet(f"{path}/_centroids")
        .orderBy("i").collect()]
    assigned = new_rows.withColumn(
        "__cell", _nearest_centroid(_qcol(vec_col), centroids))
    assigned.write.mode("append").partitionBy("__cell").parquet(path)


def search_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Top-k against a persisted IVF index. ONE collect of the probed
    queries yields both the scoring closure and the probed cell set
    (small: |queries| × nprobe distinct values), so the cell filter is
    STATIC — the parquet scan partition-prunes to just those
    directories (visible as PartitionFilters in the plan) — and the
    cell-keyed MapInPandas stage (_map_gemm_topk) scores only
    same-cell pairs."""
    centroids = [
        [float(x) for x in r["centroid"]]
        for r in spark.read.parquet(f"{path}/_centroids").orderBy("i").collect()
    ]
    nprobe = min(nprobe, len(centroids))
    probe = F.transform(
        F.slice(F.reverse(F.array_sort(_centroid_scores(_qcol(query_vec), centroids))),
                1, nprobe),
        lambda s: s["i"],
    )
    q_probed = queries.select(
        F.col(query_id).alias("__qid"),
        _vec_col(queries, query_vec, "__qv"),
        F.explode(probe).alias("__cell"),
    )
    qrows = q_probed.collect()
    cells = sorted({r["__cell"] for r in qrows})
    corp = spark.read.parquet(path)
    c = _spread(
        corp.filter(F.col("__cell").isin(cells))
        .select(F.col(corpus_id).alias("__cid"),
                _vec_col(corp, corpus_vec, "__cv"), "__cell"))
    scored = _map_gemm_topk(qrows, q_probed.schema, c, k, round_to=None,
                            key_col="__cell")
    return _rank_topk(scored, k)


def _bucket_expr(vec: Column | str, plane_mat) -> Column:
    if isinstance(vec, str):
        bits = [f"CASE WHEN {_dot_sql(vec, _arr_sql(row))} >= 0 "
                f"THEN '1' ELSE '0' END" for row in plane_mat]
        return F.expr("concat(" + ",".join(bits) + ")")
    bits = []
    for row in plane_mat:
        plane = F.array(*[F.lit(float(x)) for x in row])
        bits.append(F.when(_dot(vec, plane) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    planes: int = 6,
    seed: int = 42,
    round_to: int | None = None,
) -> DataFrame:
    """Approximate top-k: random-hyperplane buckets, exact cosine within
    the query's bucket only (single-probe IVF analog).

    Recall rises with fewer planes (bigger buckets) or multi-probe; the
    deterministic plane matrix derives from `seed` so results are
    reproducible run-to-run (and replayable by another engine —
    `round_to` makes scores engine-portable for oracle checks).
    """
    import numpy as np

    dim = int(corpus.select(F.size(corpus_vec).alias("d")).first()["d"])
    plane_mat = np.random.default_rng(seed).standard_normal((planes, dim))

    qprep = queries.select(
        F.col(query_id).alias("__qid"),
        _vec_col(queries, query_vec, "__qv"),
        _bucket_expr(_qcol(query_vec), plane_mat).alias("__bucket"),
    )
    cb = _spread(corpus.select(
        F.col(corpus_id).alias("__cid"),
        _vec_col(corpus, corpus_vec, "__cv"),
    )).withColumn("__bucket", _bucket_expr("__cv", plane_mat))
    scored = _map_gemm_topk(qprep.collect(), qprep.schema, cb, k, round_to,
                            key_col="__bucket")
    return _rank_topk(scored, k)


def topk_recall(approx: DataFrame, exact: DataFrame,
                round_to: int = 4) -> DataFrame:
    """Recall audit for an ANN result against exact ground truth ->
    (query_id, n_true, n_hits, recall): per-query
    |approx ∩ exact| / |exact| over the FIXED (query_id, match_id)
    schema every topk operator here emits (brute_force_topk is the
    ground-truth producer; lsh_bucketed_topk / ivf_topk /
    search_ivf_index the candidates). This is the number a user
    tuning nlist/nprobe/planes at 100 TB actually needs — an
    oracle-matched approximate result says the INDEX arithmetic is
    right, recall@k says the index is USEFUL.

    Pure DataFrame set-overlap: one left-semi join of the exact rows
    against the approximate rows on (query_id, match_id) — both
    tables are |queries| x k, so this costs nothing next to either
    search. Queries the approximate side missed entirely still
    report (recall = 0) because the exact side drives the join."""
    hits = exact.join(approx.select("query_id", "match_id"),
                      ["query_id", "match_id"], "left_semi")
    n_true = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_true"))
    n_hit = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hits"))
    return (n_true.join(n_hit, "query_id", "left")
            .select("query_id", "n_true",
                    F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
                    F.round(F.coalesce("n_hits", F.lit(0))
                            / F.col("n_true"), round_to)
                    .alias("recall")))


def pq_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 16,
    iters: int = 2,
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou et al. 2011): split the
    vector into `m` contiguous subvectors and run the deterministic
    distributed Lloyd's (embeddings.kmeans_fit — lowest-id init,
    rounded-argmin assignment) independently per subspace. Returns
    m × k × (dim/m) floats — the whole model is m·k·(dim/m) = k·dim
    numbers, driver-tiny by construction, while the ENCODED corpus
    shrinks from dim floats to m small ints per vector: the structure
    that makes 100 TB of embeddings scannable.

    `m` sequential kmeans fits, each shuffling only (cluster, dim,
    partial-avg) triples; the corpus is scanned m·iters times — train
    on a sample at scale (the standard practice), encode everything."""
    dim = len(corpus.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d0 = dim // m
    from seatunnel_spark.dataops.embeddings import kmeans_fit

    x = F.col(vec_col).cast("array<double>")
    books = []
    for s in range(m):
        sub = corpus.select(F.col(id_col),
                            F.slice(x, s * d0 + 1, d0).alias("__sub"))
        books.append(kmeans_fit(sub, "__sub", id_col, k=k, iters=iters))
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "codes",
    round_to: int | None = 6,
) -> DataFrame:
    """Attach the m-code PQ encoding of `vec_col` as `out_col` — per
    subspace the rounded-distance argmin against broadcast-literal
    centroids (same tie discipline as kmeans_assign: round first,
    lowest index wins). A zero-shuffle codegen projection: this is the
    write-once step — persist (id, codes) next to the corpus and every
    later search scans m ints per vector instead of dim floats. The
    input is `_spread` first — encoding is the CPU-heavy per-row pass
    of every PQ search, and a single-split local scan would serialize
    it on one core (no-op at scale, see _spread)."""
    from seatunnel_spark.dataops.embeddings import _assign_expr

    d0 = len(codebooks[0][0])
    vx = f"cast({_qcol(vec_col)} as array<double>)"
    codes = F.array(*[
        _assign_expr(f"slice({vx}, {s * d0 + 1}, {d0})", book, round_to)
        for s, book in enumerate(codebooks)
    ])
    return _spread(df).withColumn(out_col, codes)


def _adc_lut(qv: str,
             codebooks: list[list[list[float]]]) -> Column:
    """Per-query ADC distance table (Jégou et al. 2011): lut[s][c] =
    ||q_sub_s − codebook[s][c]||² as array<array<double>>, built from
    the SAME per-subspace fold expressions `_adc_dist` used inline
    (0.0 seed, left-assoc, zip_with against the literal centroid) —
    each entry is bit-identical to the subspace partial it replaces,
    and it is evaluated once per QUERY row instead of once per pair."""
    d0 = len(codebooks[0][0])
    subs = []
    for si, book in enumerate(codebooks):
        blit = "array(" + ",".join(_arr_sql(cent) for cent in book) + ")"
        subs.append(
            f"transform({blit}, cent -> aggregate("
            f"zip_with(slice({qv}, {si * d0 + 1}, {d0}), cent, "
            f"(a, b) -> (a - b) * (a - b)), 0.0D, (acc, v) -> acc + v))")
    return F.expr("array(" + ",".join(subs) + ")")


def _adc_from_lut(lut: str, codes: str, m: int) -> Column:
    """Σ_s lut[s][code_s] — m array lookups + left-assoc adds per
    pair (ONE small codegen expression); grouping identical to the
    inline per-subspace fold, whose partials the LUT entries carry
    verbatim (each with its own 0.0 seed, summed left-to-right from
    a 0.0 seed exactly like the inline chain)."""
    return F.expr("(" + " + ".join(
        ["0.0D"] + [f"get(get({lut},{s}),element_at({codes},{s + 1}))"
                    for s in range(m)]) + ")")


def pq_topk(
    queries: DataFrame,
    corpus_codes: DataFrame,
    codebooks: list[list[list[float]]],
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    codes_col: str = "codes",
    k: int = 10,
    round_to: int | None = None,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k -> (query_id, match_id,
    adc_dist, rank): score every encoded corpus row against each raw
    query vector as Σ_s ||q_sub_s − codebook[s][code_s]||² — the query
    side stays exact, the corpus side is its m codes, so the scan
    touches no corpus vectors at all. Ranking is ascending distance
    with id tiebreak; `round_to` rounds BEFORE ranking for
    engine-reproducible results (the brute_force_topk convention).

    Scale shape: queries broadcast (small by assumption) carrying
    their m×k ADC distance table (materialized once per query row);
    per corpus row the score is m table lookups + m adds, one small
    codegen expression, no shuffle before the top-k window. The
    classic pairing is IVF for candidate pruning + PQ for the
    in-cell scan; this operator is the PQ half and composes with
    ivf_topk's cell filter."""
    q = F.broadcast(queries.select(
        F.col(query_id).alias("__qid"),
        F.col(query_vec).cast("array<double>").alias("__qv"))
        .withColumn("__lut", _adc_lut("__qv", codebooks)))
    c = _spread(corpus_codes.select(F.col(corpus_id).alias("__cid"),
                                    F.col(codes_col).alias("__codes")))
    total = _adc_from_lut("__lut", "__codes", len(codebooks))
    if round_to is not None:
        total = F.round(total, round_to)
    scored = q.join(c).select("__qid", "__cid", total.alias("adc_dist"))
    w = Window.partitionBy("__qid").orderBy(F.col("adc_dist").asc(),
                                            F.col("__cid").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("__qid").alias("query_id"),
                    F.col("__cid").alias("match_id"),
                    "adc_dist", "rank"))


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    nprobe: int = 2,
    coarse_centroids: list[list[float]] | None = None,
    nlist: int = 8,
    iters: int = 2,
    round_to: int | None = None,
) -> DataFrame:
    """IVF cell pruning + PQ in-cell ADC scoring -> (query_id,
    match_id, adc_dist, rank): the composed 100 TB ANN architecture —
    IVF cuts the scan to nprobe/nlist of the corpus (partition-prune
    when the encoded table is persisted by __cell, the write_ivf_index
    pattern), PQ makes the surviving scan vector-free (m codes per
    row instead of dim floats). Non-residual variant: codes quantize
    the RAW vectors, not the cell residuals (the residual refinement
    of Jégou et al. 2011 §III-C needs per-cell codebooks — documented
    deviation, kept so the same codebooks serve flat-PQ and IVF-PQ).

    One projection attaches cell + codes to the corpus (both
    broadcast-literal argmins, zero shuffle); queries explode to
    nprobe (query, cell) rows carrying their ADC distance table and
    the equi-join on __cell is the only data movement before the
    top-k window."""
    if coarse_centroids is None:
        coarse_centroids = train_ivf_centroids(
            corpus, corpus_vec, corpus_id, nlist, iters)
    c = pq_encode(
        corpus.select(F.col(corpus_id).alias("__cid"),
                      F.col(corpus_vec).alias("__cv")),
        codebooks, "__cv", "__codes"
    ).select(
        "__cid", "__codes",
        _nearest_centroid("__cv", coarse_centroids)
        .alias("__cell"))
    probe = F.transform(
        F.slice(F.reverse(F.array_sort(
            _centroid_scores(_qcol(query_vec), coarse_centroids))),
            1, nprobe),
        lambda s: s["i"])
    q = F.broadcast(queries.select(
        F.col(query_id).alias("__qid"),
        F.col(query_vec).cast("array<double>").alias("__qv"),
        F.explode(probe).alias("__cell"))
        .withColumn("__lut", _adc_lut("__qv", codebooks)))
    total = _adc_from_lut("__lut", "__codes", len(codebooks))
    if round_to is not None:
        total = F.round(total, round_to)
    scored = (q.join(c, "__cell")
              .select("__qid", "__cid", total.alias("adc_dist")))
    w = Window.partitionBy("__qid").orderBy(F.col("adc_dist").asc(),
                                            F.col("__cid").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("__qid").alias("query_id"),
                    F.col("__cid").alias("match_id"),
                    "adc_dist", "rank"))


def _residual(vec: str, cell: str,
              coarse: list[list[float]]) -> Column:
    """vec − coarse[cell] as a zero-shuffle literal-lookup expression
    (vec/cell are SQL expression strings — the nested literal
    codebook is parsed in ONE F.expr, see _dot_sql)."""
    clit = "array(" + ",".join(_arr_sql(c) for c in coarse) + ")"
    return F.expr(f"zip_with({vec}, element_at({clit}, {cell} + 1), "
                  f"(a, b) -> a - b)")


def pq_train_residual(
    corpus: DataFrame,
    coarse_centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 16,
    iters: int = 2,
) -> list[list[list[float]]]:
    """PQ codebooks trained on COARSE RESIDUALS (x − nearest coarse
    centroid) — the IVFADC formulation (Jégou et al. 2011 §III-C):
    residuals are centered near zero regardless of which cell a vector
    lives in, so one shared codebook quantizes them far tighter than
    it quantizes raw vectors spread across cells. Same deterministic
    Lloyd's per subspace as pq_train; one extra zero-shuffle residual
    projection in front."""
    vx = f"cast({_qcol(vec_col)} as array<double>)"
    res = (corpus
           .select(F.col(id_col), F.col(vec_col))
           .withColumn("__cell",
                       _nearest_centroid(vx, coarse_centroids))
           .select(F.col(id_col),
                   _residual(vx, "__cell",
                             coarse_centroids).alias("__res")))
    return pq_train(res, "__res", id_col, m=m, k=k, iters=iters)


def ivfadc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    coarse_centroids: list[list[float]],
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    nprobe: int = 2,
    round_to: int | None = None,
) -> DataFrame:
    """IVFADC: IVF cell pruning + PQ over RESIDUALS (Jégou et al.
    2011) -> (query_id, match_id, adc_dist, rank). Corpus rows store
    (cell, residual codes); at query time each probed (query, cell)
    pair forms the QUERY residual against that cell's centroid (a
    literal lookup), materializes its ADC distance table, and the
    per-pair score is m table lookups — distances approximate
    ||q − x||² properly because both sides subtract the SAME
    centroid, the refinement the non-residual ivfpq_topk trades
    away. `codebooks` should come from pq_train_residual over the
    same coarse centroids.

    Plan shape unchanged from ivfpq_topk: one corpus projection
    (cell + residual codes, all broadcast literals), queries explode
    to nprobe rows, one __cell equi-join, LUT-lookup codegen, top-k
    window. Residual and distance table are MATERIALIZED per query
    row before the join — never recomputed per pair."""
    v = F.col(corpus_vec).cast("array<double>")
    c = pq_encode(
        _spread(corpus.select(F.col(corpus_id).alias("__cid"),
                              v.alias("__v")))
        .withColumn("__cell",
                    _nearest_centroid("__v", coarse_centroids))
        .select("__cid", "__cell",
                _residual("__v", "__cell",
                          coarse_centroids).alias("__res")),
        codebooks, "__res", "__codes"
    ).select("__cid", "__cell", "__codes")
    probe = F.transform(
        F.slice(F.reverse(F.array_sort(
            _centroid_scores(_qcol(query_vec), coarse_centroids))),
            1, nprobe),
        lambda s: s["i"])
    q = F.broadcast(
        queries.select(
            F.col(query_id).alias("__qid"),
            F.col(query_vec).cast("array<double>").alias("__qv"),
            F.explode(probe).alias("__cell"))
        .withColumn("__qres", _residual("__qv", "__cell",
                                        coarse_centroids))
        .withColumn("__lut", _adc_lut("__qres", codebooks)))
    total = _adc_from_lut("__lut", "__codes", len(codebooks))
    if round_to is not None:
        total = F.round(total, round_to)
    scored = (q.join(c, "__cell")
              .select("__qid", "__cid", total.alias("adc_dist")))
    w = Window.partitionBy("__qid").orderBy(F.col("adc_dist").asc(),
                                            F.col("__cid").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("__qid").alias("query_id"),
                    F.col("__cid").alias("match_id"),
                    "adc_dist", "rank"))


def ivfadc_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    coarse_centroids: list[list[float]],
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    nprobe: int = 2,
    rerank: int = 4,
    round_to: int | None = None,
) -> DataFrame:
    """IVFADC+R (Jégou et al. 2011 §VI): ADC produces a SHORTLIST of
    k' = rerank·k candidates per query, the shortlist joins back to
    the ORIGINAL vectors for exact squared-L2, and the final top-k
    ranks on the exact distance -> (query_id, match_id, dist, rank).
    This is the standard recall lever — quantization error only has
    to keep a true neighbor inside the top-k', not in exact rank
    order, so recall@k approaches the IVF ceiling (what nprobe cells
    contain) at the cost of ONE extra read of k' full vectors per
    query.

    Scale shape: the shortlist is |Q|·k' rows — driver-thin, always
    broadcast — so the re-rank is one broadcast-hash probe of the
    corpus scan (corpus never shuffles) plus codegen arithmetic on
    |Q|·k' rows. The expensive stage stays the code-sized ADC scan;
    re-rank adds a second corpus pass that reads only the matched
    ids' vectors (row-group pruning applies where ids cluster)."""
    cand = ivfadc_topk(queries, corpus, codebooks, coarse_centroids,
                       query_id, corpus_id, query_vec, corpus_vec,
                       k=k * rerank, nprobe=nprobe,
                       round_to=round_to)
    qv = queries.select(F.col(query_id).alias("query_id"),
                        F.col(query_vec).cast("array<double>")
                        .alias("__qv"))
    shortlist = F.broadcast(
        cand.select("query_id", "match_id").join(qv, "query_id"))
    cv = _spread(corpus.select(F.col(corpus_id).alias("match_id"),
                               F.col(corpus_vec).cast("array<double>")
                               .alias("__cv")))
    d2 = F.aggregate(
        F.zip_with(F.col("__qv"), F.col("__cv"),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)
    if round_to is not None:
        d2 = F.round(d2, round_to)
    scored = (cv.join(shortlist, "match_id")
              .select("query_id", "match_id", d2.alias("dist")))
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(),
                                               F.col("match_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "match_id", "dist", "rank"))


def write_pq_index(
    corpus: DataFrame,
    path: str,
    codebooks: list[list[list[float]]],
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist a PQ index: (id, codes) parquet + the codebooks under
    `<path>/_codebooks` (underscore-prefixed so data scans skip it —
    the write_ivf_index convention). This is PQ's whole economics at
    100 TB: the search artifact is m small ints per vector (a ~64x
    shrink at dim=64/m=4 over float32), scanned instead of the
    embedding column; re-encoding only happens when the codebooks
    retrain."""
    spark = corpus.sparkSession
    (pq_encode(corpus.select(F.col(corpus_id), F.col(vec_col)),
               codebooks, vec_col, "codes")
     .select(corpus_id, "codes")
     .write.mode("overwrite").parquet(path))
    rows = [(s, ci, [float(x) for x in cent])
            for s, book in enumerate(codebooks)
            for ci, cent in enumerate(book)]
    spark.createDataFrame(
        rows, "s INT, ci INT, centroid ARRAY<DOUBLE>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_codebooks")


def search_pq_index(
    spark,
    path: str,
    queries: DataFrame,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    k: int = 10,
    round_to: int | None = None,
) -> DataFrame:
    """ADC top-k against a persisted PQ index — reads ONLY the codes
    column of the index parquet (ReadSchema-tested); numerically
    identical to pq_topk over the same codebooks."""
    cb = {}
    for r in spark.read.parquet(f"{path}/_codebooks").collect():
        cb.setdefault(r["s"], {})[r["ci"]] = [float(x)
                                              for x in r["centroid"]]
    codebooks = [[cb[s][ci] for ci in sorted(cb[s])]
                 for s in sorted(cb)]
    codes = spark.read.parquet(path).select(corpus_id, "codes")
    return pq_topk(queries, codes, codebooks, query_id, corpus_id,
                   query_vec, "codes", k, round_to)

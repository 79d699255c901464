"""Embedding-column operators: int8 quantization and distributed
k-means clustering.

Training pipelines ship embedding shards to trainers and cluster them
for curation (SemDeDup-style pruning, domain discovery, IVF coarse
quantizers). Both operators here are pure Catalyst higher-order
functions over `array<float>` columns — no UDFs, no vector library —
so they run JVM-side at scan speed.

100 TB design:
- `quantize_int8` is a single codegen'd projection (4× size cut on the
  wire and at rest; the scale factor travels with each row) — zero
  shuffles, zero driver involvement.
- `kmeans_fit` is classic distributed Lloyd's: centroids live in the
  plan as broadcast literals (k×dim floats), each iteration is ONE
  map-side-combined shuffle of k×dim partial averages — the vectors
  themselves never move and never reach the driver. Determinism knobs
  (`round_to` on distances and means, lowest-index tiebreak) make the
  whole fit replayable bit-for-bit in any engine, which is how the
  DuckDB oracle verifies it.

The reference engine has no vector operators at all (its type system
stops at arrays of scalars — seatunnel-api/.../type/ArrayType.java);
these extend the engine for LLM-corpus work per the build brief.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from seatunnel_spark._pyworker import map_in_pandas, ship_by_value
from seatunnel_spark.dataops._cache import qcol as _qcol

ship_by_value(__name__)


def quantize_int8(df: DataFrame, vec_col: str = "embedding",
                  q_col: str = "q", scale_col: str = "scale") -> DataFrame:
    """Symmetric per-vector int8 quantization: q_i = round(127·x_i/maxabs),
    plus the `scale` (maxabs) needed to dequantize (x̂_i = q_i·scale/127).

    One projection, no shuffle. An all-zero vector quantizes to zeros
    with scale 0 (guarded divide). Computation is in double so the
    rounding boundary is engine-stable.
    """
    x = F.col(vec_col).cast("array<double>")
    maxabs = F.array_max(F.transform(x, lambda e: F.abs(e)))
    safe = F.when(maxabs == 0.0, F.lit(1.0)).otherwise(maxabs)
    q = F.transform(x, lambda e: F.round(e * 127.0 / safe).cast("int"))
    return df.withColumns({scale_col: maxabs, q_col: q})


def dequant_error(df: DataFrame, vec_col: str = "embedding",
                  q_col: str = "q", scale_col: str = "scale",
                  out_col: str = "mse") -> DataFrame:
    """Per-row mean squared reconstruction error of the int8 code —
    the quantization-quality audit column (≈ scale²/(12·127²) for
    uniform error). Sequential fold, so cross-engine deterministic."""
    x = F.col(vec_col).cast("array<double>")
    err = F.zip_with(
        x, F.col(q_col),
        lambda e, qi: (e - qi * F.col(scale_col) / F.lit(127.0))
        * (e - qi * F.col(scale_col) / F.lit(127.0)))
    return df.withColumn(
        out_col,
        F.aggregate(err, F.lit(0.0), lambda a, b: a + b) / F.size(x))


def _dist2(vec: Column, centroid: list[float]) -> Column:
    lit = F.array(*[F.lit(float(v)) for v in centroid])
    return F.aggregate(
        F.zip_with(vec, lit, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda a, b: a + b)


def _dist2_sql(vec: str, centroid: list[float]) -> str:
    """The _dist2 HOF as SQL text — the parser builds the IDENTICAL
    zip_with/aggregate tree the Column API builds (same evaluation,
    same values); the point is ONE parse per assignment expression
    instead of a py4j round trip per centroid literal, which
    dominated PLAN-CONSTRUCTION time for k×dim-literal codebooks."""
    from seatunnel_spark.dataops.similarity import _d

    lit = "array(" + ",".join(_d(v) for v in centroid) + ")"
    return (f"aggregate(zip_with({vec}, {lit}, "
            f"(x, y) -> (x - y) * (x - y)), 0.0D, (a, b) -> a + b)")


def _assign_struct(vec: Column | str, centroids: list[list[float]],
                   round_to: int | None) -> Column:
    """struct<d,i> of the nearest centroid by squared L2; ties ->
    LOWEST index (array_min on struct<d,i> compares d then i).
    `round_to` rounds distances first so the argmin can't flip on
    last-bit arithmetic differences between engines. `vec` as a SQL
    expression STRING builds the literal-heavy score array in one
    F.expr parse (same tree — see _dist2_sql)."""
    if isinstance(vec, str):
        parts = []
        for i, c in enumerate(centroids):
            d = _dist2_sql(vec, c)
            if round_to is not None:
                d = f"round({d}, {int(round_to)})"
            parts.append(f"named_struct('d', {d}, 'i', {i})")
        return F.expr("array_min(array(" + ",".join(parts) + "))")
    scores = []
    for i, c in enumerate(centroids):
        d = _dist2(vec, c)
        if round_to is not None:
            d = F.round(d, round_to)
        scores.append(F.struct(d.alias("d"), F.lit(i).alias("i")))
    return F.array_min(F.array(*scores))


def _assign_expr(vec: Column | str, centroids: list[list[float]],
                 round_to: int | None) -> Column:
    return _assign_struct(vec, centroids, round_to)["i"]


def kmeans_fit(df: DataFrame, vec_col: str = "embedding",
               id_col: str = "vec_id", k: int = 8, iters: int = 2,
               round_to: int | None = 6) -> list[list[float]]:
    """Distributed Lloyd's k-means; returns the k×dim centroid matrix.

    Deterministic by construction: init = the k lowest-id vectors (in
    id order), assignment = rounded-distance argmin with lowest-index
    tiebreak, update = per-dim mean rounded to `round_to`. Each
    iteration shuffles only (cluster, dim, partial-avg) triples
    (map-side combined to k×dim rows per partition); only the k×dim
    matrix is ever collected.
    """
    init = (df.select(F.col(id_col).alias("__id"),
                      F.col(vec_col).cast("array<double>").alias("__v"))
            .orderBy("__id").limit(k).collect())
    centroids = [[float(v) for v in r["__v"]] for r in init]
    x = F.col(vec_col).cast("array<double>")
    vx = f"cast({_qcol(vec_col)} as array<double>)"
    for _ in range(iters):
        assigned = df.select(
            _assign_expr(vx, centroids, round_to).alias("__c"),
            x.alias("__v"))
        rows = (assigned.select("__c", F.posexplode("__v").alias("__d", "__x"))
                .groupBy("__c", "__d")
                .agg(F.avg("__x").alias("__m"))
                .collect())
        new = [list(c) for c in centroids]  # empty cluster keeps its centroid
        for r in rows:
            m = float(r["__m"])
            new[r["__c"]][r["__d"]] = round(m, round_to) if round_to else m
        centroids = new
    return centroids


def kmeans_assign(df: DataFrame, centroids: list[list[float]],
                  vec_col: str = "embedding", out_col: str = "cluster",
                  dist_col: str | None = None,
                  round_to: int | None = 6) -> DataFrame:
    """Label every row with its nearest centroid — a broadcast-literal
    projection (no join, no shuffle). `dist_col` additionally emits
    the (rounded) squared L2 distance to that centroid."""
    s = _assign_struct(f"cast({_qcol(vec_col)} as array<double>)",
                       centroids, round_to)
    out = df.withColumn(out_col, s["i"])
    if dist_col is not None:
        out = out.withColumn(dist_col, s["d"])
    return out


def emb_covariance(df: DataFrame, vec_col: str = "embedding",
                   round_to: int = 6) -> DataFrame:
    """One-pass population covariance matrix of an embedding column
    -> (i, j, cov), d² rows. The primitive behind PCA/whitening/
    drift monitors over trained-embedding shards.

    Scale shape (the standard linear-algebra fan-in): each partition
    folds its vectors into ONE (n, Σx, Σxxᵀ) partial via an
    Arrow-batched mapInPandas (vectorized BLAS outer-product — this
    is the legitimate Pandas-UDF case: no built-in elementwise
    array-sum aggregate exists), so the shuffle carries
    n_partitions × d² numbers, never N × d². The partials explode to
    (idx, val) rows and a map-side-combined sum finishes
    distributed — no driver-side matrix assembly.

    cov_pop(i,j) = Σxᵢxⱼ/N − (Σxᵢ/N)(Σxⱼ/N), accumulated in float64
    from the float32 inputs (exact widening), so any engine replays
    it to summation-order noise; results round to `round_to`.
    """
    return _cov_from_partials(_cov_partials(df, vec_col), round_to)


def _cov_partials(df: DataFrame, vec_col: str) -> DataFrame:
    """The ONE corpus pass: per-partition (n, Σx, Σxxᵀ) partials,
    eagerly localCheckpoint-ed (n_partitions tiny rows) so the three
    downstream branches (cross-sums, row-sums, totals) reuse the
    materialized result instead of each re-running the Arrow scan —
    without the cut, Catalyst duplicates the mapInPandas subtree per
    branch and the 'one-pass' claim is a 3x lie."""
    import pandas as pd

    def part(batches):
        import numpy as np

        n, s, ss = 0, None, None
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            n += m.shape[0]
            s = m.sum(0) if s is None else s + m.sum(0)
            g = m.T @ m
            ss = g if ss is None else ss + g
        if n:
            yield pd.DataFrame({"n": [n], "s": [s.tolist()],
                                "ss": [ss.ravel().tolist()]})

    return map_in_pandas(
        df.select(vec_col), part,
        "n long, s array<double>, ss array<double>").localCheckpoint()


def _cov_from_partials(partials: DataFrame, round_to: int) -> DataFrame:
    d = F.size("s")
    # one tiny frame: total N and per-dimension sums / cross-sums
    sums = (partials
            .select("n", d.alias("d"),
                    F.posexplode("ss").alias("idx", "xx"))
            .groupBy("idx")
            .agg(F.sum("xx").alias("sxx"), F.sum("n").alias("N"),
                 F.max("d").alias("d")))
    si = (partials.select(F.posexplode("s").alias("i", "x"))
          .groupBy("i").agg(F.sum("x").alias("sx")))
    sj = si.select(F.col("i").alias("j"), F.col("sx").alias("sy"))
    return (sums
            .withColumn("i", F.floor(F.col("idx") / F.col("d"))
                        .cast("int"))
            .withColumn("j", (F.col("idx") % F.col("d")).cast("int"))
            .join(F.broadcast(si), "i").join(F.broadcast(sj), "j")
            .select("i", "j",
                    F.round(F.col("sxx") / F.col("N")
                            - (F.col("sx") / F.col("N"))
                            * (F.col("sy") / F.col("N")),
                            round_to).alias("cov")))


def pca_fit(df: DataFrame, n_components: int,
            vec_col: str = "embedding") -> dict:
    """Fit PCA from the distributed covariance: the d×d matrix (a few
    KB — 64×64 here) is the ONLY thing that ever reaches the driver;
    the eigendecomposition of a d×d symmetric matrix is O(d³) driver
    work, the textbook split for PCA at any corpus size (the N-row
    pass stays in the shared covariance partials — the mean comes
    from the SAME partials' Σx/N, no extra corpus scan). Returns
    {"mean": [d], "components": [n_components][d],
    "explained_variance": [k]}, eigenvectors sign-normalized
    (largest-|coord| positive) so the fit is deterministic."""
    import numpy as np

    partials = _cov_partials(df, vec_col)
    cov_rows = _cov_from_partials(partials, round_to=12).collect()
    if not cov_rows:
        raise ValueError("pca_fit: input has no vectors")
    d = max(r["i"] for r in cov_rows) + 1
    C = np.zeros((d, d))
    for r in cov_rows:
        C[r["i"], r["j"]] = r["cov"]
    mean = (partials.select(F.posexplode("s").alias("i", "x"),
                            F.col("n"))
            .groupBy("i").agg((F.sum("x") / F.sum("n")).alias("m"))
            .orderBy("i").collect())
    mu = np.array([r["m"] for r in mean])  # d rows — bounded collect
    w, v = np.linalg.eigh(C)               # ascending eigenvalues
    order = np.argsort(w)[::-1][:n_components]
    comps = []
    for k in order:
        e = v[:, k]
        if e[np.argmax(np.abs(e))] < 0:    # deterministic sign
            e = -e
        comps.append(e.tolist())
    return {"mean": mu.tolist(), "components": comps,
            "explained_variance": [float(w[k]) for k in order]}


def pca_project(df: DataFrame, model: dict,
                vec_col: str = "embedding",
                out_col: str = "pca") -> DataFrame:
    """Project vectors onto fitted components: out[k] = (x-μ)·W[k].
    Pure Catalyst (zip_with dot products against literal component
    arrays) — a codegen projection at scan speed, zero shuffles, the
    same broadcast-literal pattern as kmeans_assign."""
    mu = model["mean"]
    x_centered = F.zip_with(
        F.col(vec_col).cast("array<double>"),
        F.array(*[F.lit(float(m)) for m in mu]),
        lambda x, m: x - m)
    dots = [
        F.aggregate(
            F.zip_with(x_centered,
                       F.array(*[F.lit(float(c)) for c in comp]),
                       lambda x, w: x * w),
            F.lit(0.0), lambda acc, y: acc + y)
        for comp in model["components"]
    ]
    return df.withColumn(out_col, F.array(*dots))


__all__ = ["quantize_int8", "dequant_error", "kmeans_fit", "kmeans_assign",
           "emb_covariance", "pca_fit", "pca_project"]

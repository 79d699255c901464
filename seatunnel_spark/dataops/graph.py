"""Iterative graph analytics as DataFrame algebra: PageRank.

Reference parity: the reference has no graph engine; this extends the
training-data-pipeline surface (site/source importance weighting for
crawl corpora, citation-graph scoring) the brief asks for.

Scale shape: each PageRank iteration is exactly one shuffle of
(dst, contribution) pairs — the edge list itself is never moved after
the first degree join, and ranks are a |V|-row table, never collected
to the driver. Dedup-ed edges + out-degrees are computed once and
reused across iterations. At cluster scale, `write_bucketed_edges` +
`pagerank_on_bucketed` make the co-location durable: the edge list is
written bucketed by source ONCE, and every iteration's degree/rank
join reads it pre-partitioned with zero edge-side exchange
(plan-tested in tests/test_plans.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from seatunnel_spark.dataops._cache import scoped_persist


# Iterative-state broadcast bound (rows). The per-round joins pair the
# persisted EDGE frame with a |frontier|/|V|-row state table that is a
# localCheckpoint RDD scan — a leaf with UNKNOWN statistics, so the
# planner either broadcasts the EDGES (their InMemoryRelation has
# stats and sf-sized graphs sit under the session's 64 MB threshold —
# rebuilding a ~600k-row hash relation EVERY round, the measured bulk
# of the round floor at sf0.1) or falls back to a sort-merge join
# that would shuffle the edges every round at scale. The loops below
# know each state table's EXACT row count for free (the observed
# convergence metrics), so they hint the state side broadcast
# whenever it is measured ≤ this bound — scale-adaptive by
# construction: a 100 TB frontier exceeds it and the hint turns off.
# 1M rows of (id[, int]) ≈ a few tens of MB hashed, inside session.py's
# 64 MB broadcast ceiling (a hint bypasses the threshold, so this row
# bound does not follow the lower threshold a small heap gets). Only
# used on loops whose aggregates are order-insensitive (min/count/
# anti-join — BFS/CC/k-core); hits/pagerank sum doubles, where a
# build-side flip could perturb partial-sum order, and keep their
# planner strategy.
_BCAST_ROWS = 1_000_000


def _bcast_if_small(df: DataFrame, nrows: int) -> DataFrame:
    """Broadcast-hint `df` when its MEASURED row count is within
    _BCAST_ROWS (see above); otherwise return it unhinted."""
    return F.broadcast(df) if 0 <= nrows <= _BCAST_ROWS else df


def _checkpoint_observed(df: DataFrame, metric) -> tuple[DataFrame, int]:
    """localCheckpoint `df` and return (checkpointed frame, metric),
    with `metric` (an aggregate Column) computed BY THE CHECKPOINT JOB
    itself via DataFrame.observe — the round-12 form of the iterative
    loops' convergence probe (guide §1.5/§5). The former shape paid a
    separate count() job per round on top of each checkpoint job; at
    sf0.1 every extra job costs a 0.1-0.3 s scheduler/stage floor
    (quantified round 11, OPTIMIZATION_r11.md §9) and the loops run
    5-11 rounds, so the probe jobs were a real fraction of every
    graph query. Observed metrics are accumulator-backed and exact —
    identical to the count they replace. Returns 0 when the observed
    aggregate is NULL (empty frame)."""
    obs = Observation()
    out = df.observe(obs, metric.alias("__m")).localCheckpoint()
    return out, int(obs.get["__m"] or 0)

__all__ = ["pagerank", "write_bucketed_edges", "pagerank_on_bucketed",
           "triangles_on_bucketed", "degree_distribution",
           "connected_components", "connected_components_on_bucketed",
           "label_propagation", "k_core", "personalized_pagerank",
           "label_propagation_on_bucketed", "k_core_on_bucketed",
           "hits", "bfs_hops"]


def _symmetrized(edges: DataFrame, src: str, dst: str,
                 dedupe: bool) -> DataFrame:
    """(src, dst) -> deduped undirected edge frame (__src, __dst) with
    both orientations materialized, so "neighbors of v" is exactly the
    rows with __src = v and every node appears as a __src."""
    e = edges.select(F.col(src).alias("__src"), F.col(dst).alias("__dst"))
    und = e.union(e.select(F.col("__dst"), F.col("__src")))
    return und.distinct() if dedupe else und


def _pagerank_iterations(e: DataFrame, iters: int, damping: float,
                         round_to: int) -> DataFrame:
    """Shared fixed-iteration core over a deduped edge frame with
    columns (__src, __dst). One (dst, contribution) shuffle per
    iteration; ranks never collected."""
    nodes = (
        e.select(F.col("__src").alias("node"))
        .union(e.select("__dst"))
        .distinct()
    )
    deg = e.groupBy("__src").agg(F.count("*").alias("__deg"))
    n1 = F.broadcast(nodes.agg(F.count("*").cast("double").alias("__n")))
    ranks = nodes.join(n1).select(
        "node", (F.lit(1.0) / F.col("__n")).alias("rank")
    )
    for _ in range(iters):
        contribs = (
            e.join(deg, "__src")
            .join(ranks.withColumnRenamed("node", "__src"), "__src")
            .groupBy(F.col("__dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("__deg")).alias("__in"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .join(n1)
            .select(
                "node",
                F.round(
                    (1.0 - damping) / F.col("__n")
                    + damping * F.coalesce(F.col("__in"), F.lit(0.0)),
                    round_to,
                ).alias("rank"),
            )
        )
    return ranks


def write_bucketed_edges(
    edges: DataFrame,
    table: str,
    src: str = "src",
    dst: str = "dst",
    num_buckets: int = 32,
    dedupe: bool = True,
) -> None:
    """Persist a deduped edge list bucketed + sorted by source — the
    durable co-location every ITERATIVE graph algorithm wants: pay the
    edge shuffle ONCE at write time, and every later per-iteration
    rank/degree join hashed on source finds the edges already
    partitioned on disk (zero edge-side exchange, plan-tested). The
    in-memory `pagerank(dedupe=True)` path re-shuffles the edge list
    per run; this is the cluster-scale alternative its docstring
    promises (same write-once/probe-many pattern as
    similarity.write_ivf_index and plans.bucketing.write_bucketed).

    Columns are stored under the canonical internal names (__src,
    __dst) so `pagerank_on_bucketed` consumes the scan with no
    renaming projection between the bucketed FileScan and the joins.
    """
    from seatunnel_spark.plans.bucketing import write_bucketed

    spark = edges.sparkSession
    # qualified names (db.tbl) would turn the orphan-directory cleanup
    # below into a literal "<warehouse>/db.tbl" path that can alias a
    # foreign directory — resolve them properly or not at all
    if "." in table:
        raise ValueError(
            f"write_bucketed_edges takes an unqualified table name "
            f"(got {table!r}); qualified names don't map to a single "
            f"default warehouse path")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # with the in-memory catalog, a previous SESSION's table survives
    # only as an orphaned warehouse directory the DROP above cannot
    # see, and CTAS then fails with LOCATION_ALREADY_EXISTS — clear
    # it. Guard rails: only when the catalog confirms the table does
    # NOT exist (so we never delete a live table's data on a shared
    # warehouse) and only the default location for the unqualified
    # name. A durable metastore on a real cluster never hits this.
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    loc = os.path.join(wh, table.lower())
    if (wh and os.path.isdir(loc)
            and not spark.catalog.tableExists(table)):
        shutil.rmtree(loc, ignore_errors=True)
    e = edges.select(F.col(src).alias("__src"), F.col(dst).alias("__dst"))
    if dedupe:
        e = e.distinct()
    write_bucketed(e, table, ["__src"], num_buckets=num_buckets)


def pagerank_on_bucketed(
    spark,
    table: str,
    iters: int = 2,
    damping: float = 0.85,
    round_to: int = 6,
) -> DataFrame:
    """PageRank over an edge table written by `write_bucketed_edges`
    -> (node, rank), numerically identical to `pagerank` on the same
    edges (same fixed-iteration, round-per-iteration arithmetic).

    Scale shape vs the in-memory path: the edge list is read already
    hash-partitioned by __src, so per-iteration `edges ⋈ deg ⋈ ranks`
    plans with NO exchange on the edge side — only the |V|-row ranks
    table moves to meet the edges, then the one inherent
    (dst, contribution) shuffle runs. The graph (the 100 TB part)
    never reshuffles, not even once per job."""
    return _pagerank_iterations(spark.table(table), iters, damping,
                                round_to)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 2,
    damping: float = 0.85,
    round_to: int = 6,
    dedupe: bool = True,
) -> DataFrame:
    """PageRank over a directed edge list -> (node, rank).

    Nodes are the union of endpoints; initial rank is 1/N. Each
    iteration computes r'(v) = (1-d)/N + d * sum over in-edges u->v of
    r(u)/outdeg(u); nodes with no out-edges (dangling) simply leak
    their mass, the classic simplification — feed a symmetrized edge
    list if you need mass conservation. Ranks are rounded to
    `round_to` after every iteration so fixed-iteration runs are
    reproducible bit-for-bit across engines and summation orders
    (same convention as embeddings.kmeans_fit).
    """
    # The deduped edge list feeds degree, the node set, and every
    # iteration: persist() so upstream joins/distinct run ONCE instead
    # of once per consumer. persist (compressed columnar
    # InMemoryRelation, MEMORY_AND_DISK) rather than localCheckpoint:
    # checkpoint blocks are DESERIALIZED row objects (~10x larger) and
    # the truncated lineage cannot recompute an evicted block — at
    # sf10 (60M-row lineitem) the 2x~30M-edge list OOMed a 16g heap
    # and died on the first lost block, while the columnar cache fits
    # and any evicted piece just recomputes. At cluster scale use
    # write_bucketed_edges + pagerank_on_bucketed instead — the
    # durable form of this co-location. Pass dedupe=False when the
    # input is already distinct — e.g. deduped upstream on narrower
    # pre-stringified keys — to skip a full edge shuffle.
    e = edges.select(F.col(src).alias("__src"), F.col(dst).alias("__dst"))
    if dedupe:
        e = e.distinct()
    e = scoped_persist(e)
    return _pagerank_iterations(e, iters, damping, round_to)


def triangles_on_bucketed(spark, table: str,
                          max_degree: int | None = 10_000) -> DataFrame:
    """Triangle count over a CANONICAL (src < dst, deduped) edge table
    written by `write_bucketed_edges` -> one row (n_triangles),
    numerically identical to analytics.triangle_count on the same
    edges — the write-once/probe-many form of the wedge join, the
    same durable co-location pagerank_on_bucketed gets.

    Plan shape (the reason this variant exists): the wedge build is a
    SELF-join on __src — both sides read the same bucketed+sorted
    scan, so it plans with ZERO exchange and zero sort. The close
    join's edge side is again the bucketed scan: its bucket key __src
    is a subset of the join keys (__src, __dst), so only the
    wedge-side rows shuffle to meet it (needs
    spark.sql.requireAllClusterKeysForCoPartition=false, a
    session.py default; Spark's own default refuses subset
    co-partitioning and re-shuffles the edge side too). The in-memory form
    (`_closed_wedges`) shuffles the edge list on every run; here the
    graph paid one shuffle at write time and never moves again —
    across any number of runs or jobs.

    Canonical-orientation wedge identity: each triangle a<b<c is
    found exactly once as the wedge (a,b)+(a,c) at its minimum vertex
    closed by the canonical edge (b,c). Orientation trade vs the
    in-memory path: analytics._closed_wedges enumerates in DEGREE
    order (O(m^1.5) on skewed graphs) but must reshuffle to do it;
    this variant keeps the ID order the table was bucketed in, which
    is what makes it exchange-free — prefer it for bounded-degree
    graphs probed by many jobs, prefer the in-memory form for
    power-law graphs (or write the bucketed table from a pre-capped,
    degree-filtered edge list). Super-hub vertices above
    `max_degree` are pre-dropped with the same broadcast anti joins
    as analytics._capped_edges (broadcast joins pass the bucketed
    partitioning through, so the zero-exchange wedge build
    survives)."""
    t = spark.table(table)
    if max_degree is not None:
        hubs = (t.select(F.col("__src").alias("__v"))
                .unionAll(t.select(F.col("__dst").alias("__v")))
                .groupBy("__v").agg(F.count(F.lit(1)).alias("__deg"))
                .filter(F.col("__deg") > max_degree)
                .select("__v"))
        t = (t.join(F.broadcast(hubs), t["__src"] == hubs["__v"],
                    "left_anti")
             .join(F.broadcast(hubs), t["__dst"] == hubs["__v"],
                   "left_anti"))
    x, y = t.alias("x"), t.alias("y")
    wedges = (x.join(y, (F.col("x.__src") == F.col("y.__src"))
                     & (F.col("x.__dst") < F.col("y.__dst")))
              .select(F.col("x.__dst").alias("__src"),
                      F.col("y.__dst").alias("__dst")))
    closed = wedges.join(t, ["__src", "__dst"])
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    dedupe: bool = True,
) -> DataFrame:
    """Connected components of an undirected graph -> (node, component)
    where component = the MINIMUM node id reachable from the node — a
    canonical labeling, unique regardless of iteration count or
    schedule, which is what makes the converged result oracle-checkable
    (DuckDB replays it as recursive min-reachability).

    Algorithm: min-label propagation (`_cc_rounds`). Every node starts
    labeled with itself; each round sets
    label'(v) = min(label(v), min over neighbors u of label(u)). The
    loop runs until a round changes no label. A round that does not
    stop lowers at least one label, so the loop ends within
    diameter + 1 rounds, and the result is always the converged
    labeling — there is no iteration cap that could return a partial
    one. Each round is one neighbor-min join of the persisted edge
    list against the |V|-row label table plus one checkpoint job that
    also counts the changed labels (_checkpoint_observed). The EDGE
    list is shuffled at most once up front (the distinct, when
    `dedupe`) and then only probed on its persisted partitioning.

    Trade-off: rounds grow with the diameter. Pointer jumping
    (hash-to-min with shortcuts, Rastogi et al. 2013) needs fewer
    rounds on deep graphs but costs a second |V|-row join per round.
    Measured warm at local[4] on a 4-core host: on a 64-node path
    with ids in order it took 7 rounds (2.4 s) where propagation takes
    64 (11.5 s); with shuffled ids, 33 rounds (8.5 s) against 54
    (9.1 s). The co-purchase and near-duplicate graphs this serves
    converge in 2-3 rounds either way, so there the shortcut join
    would be pure cost.

    Lineage discipline: the per-round label table is localCheckpoint-ed
    (eager). Each round reads the previous labels twice (the neighbor
    side and the own-label side), so without truncation the logical
    plan doubles every round. This is the opposite trade from
    pagerank's persisted edges: labels are the |V|-row SMALL side, so
    deserialized checkpoint blocks are cheap and an evicted block just
    fails fast rather than silently thrashing; on a real cluster swap
    in df.checkpoint() to reliable storage for the same truncation
    with durability. The edge cache is released before returning,
    also when a round raises: the checkpointed labels never read it
    again.
    """
    und = scoped_persist(_symmetrized(edges, src, dst, dedupe))
    try:
        return _cc_rounds(und)
    finally:
        und.unpersist()


def _cc_rounds(und: DataFrame) -> DataFrame:
    """Shared min-label propagation core over a symmetrized
    (__src, __dst) edge frame -> (node, component), run until no label
    changes; see connected_components' docstring."""
    labels, nv = _checkpoint_observed(
        und.select(F.col("__src").alias("node")).distinct()
        .withColumn("component", F.col("node")),
        F.count(F.lit(1)))
    changed = nv  # before round 1 any label may still fall
    while changed:
        # |labels| = |V| is KNOWN (observed at init) — hint the
        # |V|-row sides broadcast while small so the planner never
        # rebuilds an edge-side hash relation per round nor
        # sort-merge-shuffles against the stats-less RDD-scan label
        # table (see _BCAST_ROWS). min/compare semantics — join
        # strategy cannot change any value.
        nbr_min = (
            und.join(_bcast_if_small(
                labels.select(F.col("node").alias("__src"),
                              F.col("component").alias("__l")), nv),
                     "__src")
            .groupBy(F.col("__dst").alias("node"))
            .agg(F.min("__l").alias("__nl"))
        )
        # the changed flag is a column of the round's own output, summed
        # by its checkpoint job — no new-vs-old join, no probe job
        labels, changed = _checkpoint_observed(
            labels.join(_bcast_if_small(nbr_min, nv), "node", "left")
            .select("node",
                    F.least(F.col("component"),
                            F.coalesce(F.col("__nl"), F.col("component"))
                            ).alias("component"),
                    (F.col("__nl") < F.col("component")).alias("__chg")),
            F.sum(F.col("__chg").cast("long")))
        labels = labels.drop("__chg")
    return labels


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 2,
    dedupe: bool = True,
) -> DataFrame:
    """Synchronous label-propagation community detection over an
    undirected graph -> (node, label) after exactly `iters` rounds
    (Raghavan et al. 2007, made deterministic): labels start as node
    ids; each round every node adopts the label that is MOST FREQUENT
    among its neighbors, ties broken by the SMALLEST label. The
    fixed round count plus the total tie order make the result
    engine-independent — the oracle unrolls the identical rounds in
    SQL (same fixed-iteration replay convention as pagerank and
    emb_kmeans; asynchronous/randomized LPA variants are deliberately
    not offered because no oracle could replay them).

    Scale: each round is one edge-side join against the |V|-row label
    table, a map-side-combined (node, label) count, and an arg-min
    aggregation — two shuffles per round, the edge list itself moves
    once (the initial distinct) and is persisted for reuse across
    rounds. The per-node candidate set is bounded by its degree, so
    no structure here grows super-linearly on skew (a super-hub costs
    deg rows, not deg²)."""
    und = scoped_persist(_symmetrized(edges, src, dst, dedupe))
    return _lpa_rounds(und, iters)


def _lpa_rounds(und: DataFrame, iters: int) -> DataFrame:
    """Shared fixed-round LPA core over a symmetrized (__src, __dst)
    edge frame — consumed by both the in-memory and bucketed paths."""
    labels = (und.select(F.col("__src").alias("node")).distinct()
              .withColumn("label", F.col("node")))
    for _ in range(iters):
        cnt = (
            und.join(labels.select(F.col("node").alias("__src"),
                                   F.col("label").alias("__l")),
                     "__src")
            .groupBy(F.col("__dst").alias("node"), F.col("__l"))
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        # arg-min over (-count, label): max count, then min label —
        # one struct-ordered aggregate, no per-node window/sort.
        labels = cnt.groupBy("node").agg(
            F.min_by(
                "__l",
                F.struct((-F.col("__c")).alias("c"),
                         F.col("__l").alias("l")),
            ).alias("label"))
    return labels


def label_propagation_on_bucketed(
    spark,
    table: str,
    iters: int = 2,
) -> DataFrame:
    """Label propagation over an edge table written by
    `write_bucketed_edges` -> (node, label), numerically identical to
    `label_propagation` on the same edges: each round's edge⋈label
    join probes the bucketed scan on __src with ZERO edge-side
    exchange (plan-tested) — only the |V|-row label table moves, then
    the inherent (node, label) count shuffle runs. Feed it a
    SYMMETRIZED edge list (write both orientations before
    write_bucketed_edges), the connected_components_on_bucketed
    convention."""
    return _lpa_rounds(spark.table(table), iters)


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    dedupe: bool = True,
) -> DataFrame:
    """The k-core of an undirected graph -> (node, degree): the
    maximal subgraph in which every vertex has degree >= k, with each
    surviving vertex's WITHIN-CORE degree — the standard "dense
    backbone" extraction (spam-farm detection in crawl graphs, core
    community sizing) and the cheapest useful prefilter before any
    wedge-bound algorithm. The k-core is a unique fixpoint (peeling is
    confluent — drop order cannot change the result), so the converged
    output is oracle-checkable by replaying peel rounds in SQL until
    past the measured convergence point (extra rounds are no-ops).

    Algorithm: DELTA-BASED iterative peeling. The classic formulation
    recomputes every surviving vertex's degree each round (two full
    alive-set joins against the edge list); here the iteration state
    is the |V|-row DEGREE table and each round touches only the
    edges INCIDENT TO JUST-DROPPED vertices: (1) dropped = vertices
    whose maintained degree fell below k, (2) one join of the
    once-persisted edge frame against the dropped set (after round 1
    this set is small — AQE turns the join broadcast at runtime — so
    per-round work tracks the peel frontier, not the graph), (3) each
    dropped vertex decrements its neighbors' degrees exactly once, in
    the round it drops, so the maintained degree always equals the
    degree within the surviving subgraph — which also makes the final
    output free (no closing recompute join). Same round semantics as
    the classic simultaneous peel (drops are decided from the
    pre-round degrees), hence the same unique fixpoint.

    The per-round degree table is localCheckpoint-ed: the edges
    themselves are never rewritten, re-shuffled, or checkpointed —
    the 100 TB side of the computation moves exactly once, at the
    initial distinct. Truncating on the small side is mandatory, not
    a style choice: a self-referencing degree table grows the logical
    plan exponentially in rounds (measured: an 11-round peel exceeded
    the 2 GB plan-string limit). Convergence is the number of vertices
    the next round drops, observed by the round's checkpoint job
    (_checkpoint_observed) — no probe job. The peel runs until a round
    drops nothing, so the result is always the k-core itself: rounds
    are worst-case O(|V|) on a path graph (a 100-node path at k=2
    peels 2 vertices a round, 50 rounds) but single digits on real
    graphs (11 at sf0.01 for the co-purchase graph)."""
    und = scoped_persist(_symmetrized(edges, src, dst, dedupe))
    return _kcore_peel(und, k)


def _kcore_peel(und: DataFrame, k: int) -> DataFrame:
    """Shared delta-peel core over a symmetrized (__src, __dst) edge
    frame -> (node, degree) for the k-core; see k_core's docstring.

    Round shape (round 12): ONE checkpoint job per round. The dropped
    frontier is a FILTER over the checkpointed degree table (a cheap
    scan of local blocks — no separate checkpoint job), and the
    round's drop count is an observed metric on the NEXT degree
    checkpoint (each round observes how many vertices the FOLLOWING
    round will peel, so the convergence probe costs no job at all —
    see _checkpoint_observed). The former shape paid 3 jobs per round
    (dropped checkpoint, dropped count, degs checkpoint) for the
    identical peel arithmetic."""
    degs, ndrop = _checkpoint_observed(
        und.groupBy("__src").agg(F.count(F.lit(1)).alias("__deg")),
        F.sum((F.col("__deg") < k).cast("long")))
    while ndrop:
        # the frontier's row count is KNOWN (observed last round) —
        # hint it broadcast while small so neither the edges nor the
        # degree table pay a per-round hash-relation rebuild or
        # sort-merge shuffle against a stats-less RDD-scan frontier
        # (see _BCAST_ROWS)
        dropped = _bcast_if_small(
            degs.filter(F.col("__deg") < k)
            .select(F.col("__src").alias("__d")), ndrop)
        dec = (
            und.join(dropped, und["__src"] == dropped["__d"])
            .groupBy(F.col("__dst").alias("__src"))
            .agg(F.count(F.lit(1)).alias("__dec"))
        )
        degs, ndrop = _checkpoint_observed(
            degs.join(dropped, degs["__src"] == dropped["__d"],
                      "left_anti")
            .join(dec, "__src", "left")
            .select("__src",
                    (F.col("__deg")
                     - F.coalesce(F.col("__dec"), F.lit(0)))
                    .alias("__deg")),
            F.sum((F.col("__deg") < k).cast("long")))
    # und stays persisted — callers may compose further reads (same
    # clearCache contract for long-lived sessions as pagerank's edges).
    return degs.select(F.col("__src").alias("node"),
                       F.col("__deg").alias("degree"))


def k_core_on_bucketed(spark, table: str, k: int) -> DataFrame:
    """k-core over an edge table written by `write_bucketed_edges` ->
    (node, degree), numerically identical to `k_core` on the same
    edges: the initial degree aggregation AND each round's
    dropped-frontier join consume the bucketed scan on __src with
    ZERO edge-side exchange (plan-tested) — only the frontier moves
    (and AQE broadcasts it once it shrinks). Feed it a SYMMETRIZED
    edge list, the connected_components_on_bucketed convention."""
    return _kcore_peel(spark.table(table), k)


def degree_distribution(edges: DataFrame, src: str = "src",
                        dst: str = "dst") -> DataFrame:
    """Degree histogram of an undirected graph given as canonical
    edges -> (degree, n_vertices), the first thing to look at before
    any wedge-bound algorithm (triangles, clustering coefficient):
    a power-law tail here is the early warning that Σ deg² is about
    to explode and super-hubs need capping.

    Two map-side-combined aggregations over the edge list (union of
    endpoints -> degree per vertex -> count per degree); the output
    is at most |distinct degrees| rows."""
    ends = (edges.select(F.col(src).alias("v"))
            .unionAll(edges.select(F.col(dst).alias("v"))))
    deg = ends.groupBy("v").agg(F.count(F.lit(1)).alias("degree"))
    return (deg.groupBy("degree")
            .agg(F.count(F.lit(1)).alias("n_vertices")))


def connected_components_on_bucketed(spark, table: str) -> DataFrame:
    """Connected components over an edge table written by
    `write_bucketed_edges` -> (node, component), numerically identical
    to `connected_components` on the same edges (the same `_cc_rounds`
    loop) — the durable co-location form: the per-round neighbor-min
    join probes the bucketed scan on __src with ZERO edge-side exchange
    (plan-tested), so the 100 TB graph never reshuffles across any
    number of rounds or jobs. Only the |V|-row label table moves.

    Feed it a SYMMETRIZED edge list (write both orientations before
    write_bucketed_edges) — bucketed storage fixes one physical
    partitioning, and symmetrizing at read time would break it."""
    return _cc_rounds(spark.table(table))


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    iters: int = 2,
    damping: float = 0.85,
    round_to: int = 6,
    dedupe: bool = True,
) -> DataFrame:
    """Personalized PageRank -> (node, rank): teleport mass returns
    to the SEED set instead of everywhere — r'(v) = (1−d)·e(v) +
    d·Σ r(u)/outdeg(u), with e uniform over the seeds and zero
    elsewhere. The graph-proximity score behind "related items",
    seed-expanded audiences, and trust propagation (TrustRank):
    ranks measure closeness to the seeds, not global importance.

    Same scale shape as pagerank (one (dst, contribution) shuffle
    per iteration, persisted deduped edges, |V|-row rank table) plus
    one broadcast hash-join per iteration against the seed flag —
    the seed set is assumed dimension-sized. Same fixed-iteration
    round_to discipline, so the oracle unrolls the identical
    arithmetic."""
    e = edges.select(F.col(src).alias("__src"),
                     F.col(dst).alias("__dst"))
    if dedupe:
        e = e.distinct()
    e = scoped_persist(e)
    nodes = (e.select(F.col("__src").alias("node"))
             .union(e.select("__dst")).distinct())
    sd = F.broadcast(seeds.select(F.col(seed_col).alias("node"))
                     .distinct().withColumn("__is_seed", F.lit(1)))
    ns = F.broadcast(sd.agg(F.count(F.lit(1)).cast("double")
                            .alias("__ns")))
    flagged = scoped_persist(
        nodes.join(sd, "node", "left")
        .join(ns)
        .select("node",
                (F.coalesce(F.col("__is_seed"), F.lit(0))
                 / F.col("__ns")).alias("__e")))
    deg = e.groupBy("__src").agg(F.count(F.lit(1)).alias("__deg"))
    ranks = flagged.select("node", F.col("__e").alias("rank"))
    for _ in range(iters):
        contribs = (
            e.join(deg, "__src")
            .join(ranks.withColumnRenamed("node", "__src"), "__src")
            .groupBy(F.col("__dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("__deg")).alias("__in"))
        )
        ranks = (
            flagged.join(contribs, "node", "left")
            .select(
                "node",
                F.round(
                    (1.0 - damping) * F.col("__e")
                    + damping * F.coalesce(F.col("__in"), F.lit(0.0)),
                    round_to,
                ).alias("rank"),
            )
        )
    return ranks


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 2,
    round_to: int = 6,
    dedupe: bool = True,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over a DIRECTED edge
    list -> (node, hub, auth): authority = being pointed at by good
    hubs, hub = pointing at good authorities — the natural scoring
    for bipartite interaction graphs (customers x suppliers, crawlers
    x sites) where PageRank's single importance axis conflates the
    two roles.

    Fixed-iteration, deterministic replay form (the pagerank/
    emb_kmeans convention): hub starts at 1.0 everywhere; each round
    computes auth'(v) = Σ_{u→v} hub(u) L1-normalized then rounded to
    `round_to`, then hub'(u) = Σ_{u→v} auth'(v) normalized and
    rounded — rounding per half-step makes the run bit-reproducible
    across engines, so the oracle unrolls the identical arithmetic.
    Nodes with no in-edges carry auth 0 (respectively hub 0 for no
    out-edges) rather than dropping out.

    Scale: per half-step one edge⋈score join and one
    map-side-combined sum — the edge list is shuffled once at the
    initial distinct, persisted, and then only probed (the pagerank
    shape); normalization sums are 1-row broadcasts. Scores are a
    |V|-row table, never collected. Each half-step's score table is
    localCheckpoint-ed (the connected_components lineage discipline):
    every score feeds BOTH the next neighbor sum and its own
    normalization denominator, so an untruncated plan re-derives the
    whole history per reference — ~2^(2·iters) recomputes of the base
    join (measured 19.5 s for 2 iterations on the sf1 purchase graph;
    3.9 s truncated).

    iters < 1 refuses (auth would be undefined); a half-step whose
    score sum is 0/NULL (possible only on degenerate inputs — e.g.
    all-zero carried scores) yields 0.0 scores via the ANSI-division
    guard rather than NULLs; an empty edge frame returns an empty
    frame."""
    if iters < 1:
        raise ValueError(f"hits() needs iters >= 1, got {iters}")
    e = edges.select(F.col(src).alias("__src"),
                     F.col(dst).alias("__dst"))
    if dedupe:
        e = e.distinct()
    e = scoped_persist(e)
    nodes = (e.select(F.col("__src").alias("node"))
             .union(e.select("__dst")).distinct().localCheckpoint())
    hub = nodes.select("node", F.lit(1.0).alias("hub"))
    auth = None
    for _ in range(iters):
        # the raw neighbor sums feed BOTH the normalization
        # denominator (the broadcast 1-row agg) and the normalized
        # projection — persist, don't checkpoint (round 12): the
        # broadcast subquery populates the cache and the projection
        # reads it inside the SAME half-step checkpoint job, so each
        # half-step is ONE job instead of two. Lineage stays bounded:
        # the half-step OUTPUT is still checkpointed every time, and
        # a_raw/h_raw's own lineage reaches only the persisted edges
        # and the previous (checkpointed) half-step.
        a_raw = (e.join(hub.withColumnRenamed("node", "__src"),
                        "__src")
                 .groupBy(F.col("__dst").alias("node"))
                 .agg(F.sum("hub").alias("__a"))
                 .persist())
        try:
            s_a = F.broadcast(a_raw.agg(F.sum("__a").alias("__s")))
            # SPARSE half-steps (round-11): scores ride only the nodes the
            # neighbor sum produced; absent nodes carry exactly 0.0 and a
            # +0.0 term never changes an IEEE sum of non-negative scores,
            # so every aggregate below is bit-identical to the former
            # dense (nodes-joined) form — the dense fill happens ONCE at
            # the end instead of twice per iteration.
            auth = (a_raw.join(s_a)
                    .select("node",
                            F.when(F.col("__s") > 0,
                                   F.round(F.col("__a")
                                           / F.col("__s"), round_to))
                            .otherwise(F.lit(0.0))
                            .alias("auth"))
                    .localCheckpoint())
        finally:
            a_raw.unpersist()
        h_raw = (e.join(auth.withColumnRenamed("node", "__dst"),
                        "__dst")
                 .groupBy(F.col("__src").alias("node"))
                 .agg(F.sum("auth").alias("__h"))
                 .persist())
        try:
            s_h = F.broadcast(h_raw.agg(F.sum("__h").alias("__s")))
            hub = (h_raw.join(s_h)
                   .select("node",
                           F.when(F.col("__s") > 0,
                                  F.round(F.col("__h")
                                          / F.col("__s"), round_to))
                           .otherwise(F.lit(0.0))
                           .alias("hub"))
                   .localCheckpoint())
        finally:
            h_raw.unpersist()
    return (nodes.join(hub, "node", "left").join(auth, "node", "left")
            .select("node",
                    F.coalesce("hub", F.lit(0.0)).alias("hub"),
                    F.coalesce("auth", F.lit(0.0)).alias("auth")))


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    source_col: str = "node",
    max_hops: int = 10,
    dedupe: bool = True,
) -> DataFrame:
    """Multi-source BFS hop distances over a DIRECTED edge list ->
    (node, hops): the minimum number of edges from ANY source to the
    node (sources at 0; unreachable nodes absent) — crawl-depth
    labeling, blast-radius analysis, "within-k-hops of a trusted
    seed" filters. Feed a symmetrized list for undirected distance.

    Frontier iteration: each round expands ONLY the nodes discovered
    last round (one edge⋈frontier join — the frontier is small after
    the first hops, so AQE broadcasts it; the delta discipline of
    k_core's peel), anti-joins out already-visited nodes, and
    localCheckpoint-s the new frontier + the visited set (the
    |V|-row SMALL side; the edge list is shuffled once at the initial
    distinct and then only probed). A layered-visited variant (only
    per-round frontiers checkpointed, visited = union of the cached
    layers) was tried in round 11 and REVERTED: clean-paired sf10
    runs measured it 188.7 s vs 145.7 s for this form (+30%) — the
    anti-join against one consolidated checkpointed frame beats N
    per-layer cached scans unioned per round. Convergence = empty
    frontier: the new layer's size is observed by the round's visited
    checkpoint job (_checkpoint_observed), with no probe job;
    `max_hops` bounds the worst case. BFS layers are
    schedule-independent, so the converged (node, hops) labeling is
    unique and the oracle replays it as a recursive min-hops CTE."""
    e = edges.select(F.col(src).alias("__src"),
                     F.col(dst).alias("__dst"))
    if dedupe:
        e = e.distinct()
    e = scoped_persist(e)
    # Round shape (round 12): ONE checkpoint job per hop. The new
    # layer is computed INSIDE the round's visited checkpoint (its
    # row count observed by the same job — see _checkpoint_observed),
    # and the next frontier is a FILTER of that checkpointed visited
    # set (a scan of local blocks, no dedicated frontier checkpoint).
    # The former shape paid 3 jobs per hop (nxt checkpoint, nxt
    # count, visited checkpoint) for the identical layers. The
    # visited set stays ONE consolidated checkpoint — the layered
    # alternative (anti-join against a union of per-round caches) was
    # measured +30% at sf10 in round 11 and stays rejected.
    visited, n_visited = _checkpoint_observed(
        sources.select(F.col(source_col).alias("node"))
        .distinct().withColumn("hops", F.lit(0)),
        F.count(F.lit(1)))
    n_frontier = n_visited
    frontier = visited.select("node")
    for h in range(1, max_hops + 1):
        # frontier and visited sizes are KNOWN (observed) — hint the
        # state side broadcast while it is small so the planner never
        # rebuilds an edge-side hash relation per round nor falls
        # back to sorting/shuffling the edges (see _BCAST_ROWS)
        nxt = (
            e.join(_bcast_if_small(
                frontier.withColumnRenamed("node", "__src"),
                n_frontier), "__src")
            .select(F.col("__dst").alias("node")).distinct()
            .join(_bcast_if_small(visited.select("node"), n_visited),
                  "node", "left_anti")
            .withColumn("hops", F.lit(h))
        )
        visited, grew = _checkpoint_observed(
            visited.unionByName(nxt),
            F.sum((F.col("hops") == h).cast("long")))
        if grew == 0:
            break
        n_visited += grew
        n_frontier = grew
        frontier = visited.filter(F.col("hops") == h).select("node")
    return visited

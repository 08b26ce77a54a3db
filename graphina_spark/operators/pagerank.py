"""PageRank — weighted power iteration, reference-exact semantics.

Reference: ``graphina::centrality::pagerank::pagerank``
(/root/reference/src/centrality/pagerank.rs:26-136) and the personalized
variant (personalized_pagerank.rs:24-120).  Pinned conventions:

- out-weight ``w_out[u] = Σ w(u,·)`` over the (symmetrized, if undirected)
  edge set (pagerank.rs:50-65; undirected contributes both directions :61-64)
- init uniform ``1/n``, or ``nstart`` L1-normalized (error if Σ=0, :76-80)
- per iteration: dangling mass ``d·Σ_{w_out=0} pr[u]`` redistributed by the
  teleport vector (uniform ``1/n``, or the personalization vector,
  personalized_pagerank.rs:98-107); teleport ``(1-d)·p_i``; neighbor term
  ``d·Σ_{u→v} pr[u]·w(u,v)/w_out[u]`` (:102-115)
- convergence: **L1** ``Σ|pr_new - pr| < tol`` (:117-127); result sums to 1

Spark execution model (per superstep):

- the gather runs over PageRank's scatter edges
  (:func:`graphina_spark.plans.shards.scatter_edges`): the plain per-edge
  frame ``(src, dst, w_norm)`` hash-partitioned by ``src`` and cached, or
  the salted CSR adjacency shards built from the same rows
  (:mod:`graphina_spark.plans.shards`, same semantics, skew-proof — the
  scale path).  Gather = join with the rank vector + ``groupBy(dst).sum``,
  which benefits from partial (map-side) aggregation, so hub vertices
  receive pre-combined messages, not one row per in-edge;
- dangling mass rides the SAME message shuffle as the gather: every dangling
  vertex has one virtual edge to the reserved sink id ``-1`` with weight 1,
  so ``Σ_{dangling} pr[u]`` pops out as the sink's aggregation group — no
  per-superstep semi-join of the rank vector against a dangling-id set (at
  10^12 vertices that join rebuilds a 10^11-row hash table every
  iteration).  When the graph has dangling vertices the gathered frame is
  cached for the superstep and one ``first()`` pulls the sink group to the
  driver; it enters the update as a literal.  That ``first()`` is the
  superstep's action; the vertex join then reads the cache;
- the L1 delta (when ``tol`` is active) is a single-scalar driver aggregate;
- every superstep the rank frame is materialized (parquet checkpoint with
  manifest when a :class:`CheckpointManager` is given, else a
  partitioning-preserving ``localCheckpoint``) so the plan never grows and
  the next gather join is exchange-free (see plans/materialize.py).  With
  neither a checkpoint nor ``tol`` the ``localCheckpoint`` is lazy and runs
  inside the next superstep's ``first()``: one job per superstep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphina_spark.graph import LinkGraph
from graphina_spark.plans.materialize import local_materialize as _mat
from graphina_spark.plans.checkpoint import CheckpointManager
from graphina_spark.plans.shards import SINK_ID, AdjShards, out_weights, scatter_edges

# Symmetrized-edge count below which pagerank(shards=...) falls back to the
# plain per-edge join (measured crossover region: shards lose at 57k edges,
# win at 64.7M — see BENCH/BASELINE.md; 1M sits safely between).
SHARDS_MIN_EDGES = 1_000_000


def pagerank(
    g: LinkGraph,
    damping: float = 0.85,
    max_iter: int = 100,
    tol: float | None = 1e-6,
    nstart: DataFrame | None = None,
    personalization: DataFrame | None = None,
    fixed_iters: int | None = None,
    checkpoint: CheckpointManager | None = None,
    resume: bool = False,
    shards: AdjShards | None = None,
    shards_min_edges: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Return ``(id: long, rank: double)``, Σ rank = 1.

    ``fixed_iters`` runs exactly that many supersteps with no early exit
    (used by the oracle-parity queries, where the DuckDB side is an unrolled
    fixed-iteration SQL).  ``nstart``/``personalization`` are DataFrames
    ``(id, value)`` / ``(id, p)``.  Pass a dict as ``stats`` to receive
    ``{"iterations": k, "delta": last L1 delta}`` — the observability hook
    behind warm-start (incremental recrawl) convergence accounting.
    """
    if not (0.0 < damping < 1.0):
        raise ValueError("damping must be in (0, 1)")  # personalized_pagerank.rs:41-45
    if fixed_iters is None and max_iter <= 0:
        raise ValueError("max_iter must be positive")  # personalized_pagerank.rs:46-50

    spark = g.vertices.sparkSession
    n = g.num_vertices()
    if n == 0:
        return g.vertices.select(F.col("id"), F.lit(0.0).alias("rank"))
    n_iters = fixed_iters if fixed_iters is not None else max_iter

    if shards is not None:
        # Auto-select the superstep kernel by edge count: below the
        # crossover the salted-CSR gather's fixed overhead (hub-salt
        # replication join + explode) dominates and the plain per-edge join
        # is faster (sf0.1 bench: 7.2 s sharded vs 4.3 s plain at 57k
        # edges); above it the shard join moves ~|V| rows instead of ~|E|
        # and wins (64.7M-edge scaling harness).  Values are identical
        # either way (both paths are oracle-gated).  Pass
        # ``shards_min_edges=0`` to force the shard kernel (tests,
        # scaling harness at known scale).
        threshold = (
            SHARDS_MIN_EDGES if shards_min_edges is None else shards_min_edges
        )
        if threshold > 0:
            n_edges = shards.wout.agg(F.sum("degree")).first()[0] or 0
            if n_edges < threshold:
                shards = None

    edges_norm = None
    if shards is not None:
        wout = shards.wout
    else:
        wout = out_weights(g)
        edges_norm = scatter_edges(g, wout).repartition("src").cache()
    # wout holds one row per vertex with an out-edge; the rest are dangling
    has_dangling = wout.count() < n

    # teleport vector p: personalization L1-normalized (uniform fallback when
    # Σ<=0, personalized_pagerank.rs:51-63) else uniform 1/n
    base = g.vertices.select("id")
    pcol = F.lit(1.0 / n)
    if personalization is not None:
        psum = personalization.agg(F.sum("p")).first()[0] or 0.0
        if psum > 0:
            base = base.join(personalization, "id", "left")
            pcol = F.coalesce(F.col("p") / F.lit(psum), F.lit(0.0))
    vinfo = base.select("id", pcol.alias("p")).repartition("id").cache()

    start_iter = 0
    ranks = None
    if checkpoint is not None and resume:
        found = checkpoint.latest(spark)
        if found is not None:
            start_iter, ranks, _ = found
            start_iter += 1
    if ranks is None:
        if nstart is not None:
            ssum = nstart.agg(F.sum("value")).first()[0] or 0.0
            if ssum == 0:
                raise ValueError("nstart sums to zero")  # pagerank.rs:76-80
            ranks = g.vertices.select("id").join(nstart, "id", "left").select(
                "id", (F.coalesce("value", F.lit(0.0)) / F.lit(ssum)).alias("rank")
            )
        else:
            ranks = g.vertices.select("id", F.lit(1.0 / n).alias("rank"))
    ranks = ranks.transform(_mat)

    d = damping
    check_tol = tol is not None and fixed_iters is None
    # One-job supersteps: with neither a checkpoint nor a delta join to
    # re-read the rank frame, each rank frame is read once (by the next
    # gather), so its localCheckpoint can stay LAZY and run inside the next
    # superstep's sink first() instead of as its own job.
    one_job = checkpoint is None and not check_tol
    prev_gathered = None
    for it in range(start_iter, n_iters):
        if shards is not None:
            gathered = shards.gather(ranks, value="rank")
        else:
            gathered = (
                ranks.alias("r")
                .join(edges_norm.alias("e"), F.col("r.id") == F.col("e.src"))
                .select(
                    F.col("e.dst").alias("id"),
                    (F.col("r.rank") * F.col("e.w_norm")).alias("c"),
                )
                .groupBy("id")
                .agg(F.sum("c").alias("gather"))
            )
        dang_col = F.lit(0.0)
        if has_dangling:
            # THE superstep action: runs the gather (and, on the one-job
            # path, the previous superstep's deferred checkpoint), fills the
            # cache the vertex join below reads, and returns the sink group
            gathered = gathered.cache()
            dang = (
                gathered.where(F.col("id") == SINK_ID)
                .agg(F.coalesce(F.sum("gather"), F.lit(0.0)))
                .first()[0]
            )
            dang_col = F.lit(d) * F.lit(float(dang)) * F.col("p")
            if prev_gathered is not None:
                prev_gathered.unpersist()
                prev_gathered = None
        # the sink row drops out of the left join below (vinfo has no -1)
        new_ranks = vinfo.join(gathered, "id", "left").select(
            "id",
            (
                (1.0 - d) * F.col("p")
                + dang_col
                + F.lit(d) * F.coalesce("gather", F.lit(0.0))
            ).alias("rank"),
        )

        # Materialize every superstep: eager when the delta check re-reads
        # the rank frame (a lazy chain would recompute the history ~2^k
        # times), LAZY on the one-job path.  Either way lineage truncates
        # and plan depth stays O(1) across iterations.
        delta = None
        if checkpoint is not None:
            if check_tol:
                nr = new_ranks.transform(_mat)
                delta = (
                    nr.alias("a")
                    .join(ranks.alias("b"), "id")
                    .agg(F.sum(F.abs(F.col("a.rank") - F.col("b.rank"))))
                    .first()[0]
                )
                new_ranks = checkpoint.save(spark, nr, it, delta=delta)
                nr.unpersist()
            else:
                new_ranks = checkpoint.save(spark, new_ranks, it)
        else:
            new_ranks = _mat(new_ranks, eager=not one_job)
            if check_tol:
                delta = (
                    new_ranks.alias("a")
                    .join(ranks.alias("b"), "id")
                    .agg(F.sum(F.abs(F.col("a.rank") - F.col("b.rank"))))
                    .first()[0]
                )

        if has_dangling:
            if one_job:
                # the deferred checkpoint still reads the cache; it is
                # dropped once the NEXT superstep's action has run
                prev_gathered = gathered
            else:
                gathered.unpersist()
        ranks.unpersist()
        ranks = new_ranks
        if stats is not None:
            stats["iterations"] = it + 1
            stats["delta"] = delta
        if delta is not None and delta < tol:
            break

    if one_job:
        # run the last deferred checkpoint before dropping the caches it reads
        ranks.count()
    for df in (prev_gathered, edges_norm, vinfo):
        if df is not None:
            df.unpersist()
    return ranks.select("id", "rank")


def personalized_pagerank(
    g: LinkGraph,
    personalization: DataFrame | None = None,
    damping: float = 0.85,
    tol: float | None = 1e-6,
    max_iter: int = 100,
    **kw,
) -> DataFrame:
    """Facade matching the reference's argument order
    (src/centrality/personalized.rs:15-37)."""
    return pagerank(
        g,
        damping=damping,
        max_iter=max_iter,
        tol=tol,
        personalization=personalization,
        **kw,
    )

"""Batched topic-sensitive PageRank (Haveliwala, WWW 2002).

Topic-sensitive search ranks pages with T personalized PageRank vectors,
one per topic.  Running T separate power iterations costs T full
superstep loops; this operator advances ALL topics simultaneously on a
``(topic, id, rank)`` keyed frame, so each superstep is still exactly
ONE gather shuffle (groupBy (topic, dst)) regardless of T — the
scheduling, scan, and join overhead of the loop is paid once, and the
shuffled volume is the true Σ_t |support_t| instead of T full passes.

Semantics per topic = personalized PageRank with teleport AND dangling
mass following the topic's normalized seed vector p_t
(reference: src/centrality/personalized_pagerank.rs:98-107), with one
deliberate deviation, documented here: ranks initialize at p_t rather
than uniform 1/n.  Both initializations converge to the same fixpoint;
seeding at p_t keeps the rank frame SPARSE — rows exist only where mass
exists (the k-iteration support is the k-hop out-neighbourhood of the
seeds), which is what makes T topics over a 10^11-vertex graph feasible
when seed sets are small.  Zero-mass (topic, vertex) rows are never
materialized, never shuffled.

Dangling mass uses the same virtual-sink edges as operators/pagerank.py
(plans/shards.py::scatter_edges): every out-degree-0 vertex has one
(u, -1, 1.0) edge, so the per-topic dangling total is just one more group
in the gather aggregation — no separate anti-join pass per superstep.  The
sink total redistributes to the topic's own seeds (∝ p_t), preserving
sparsity.

DuckDB twin: oracles.py::topic_pagerank_web_sql (dense unrolled SQL
filtered to pr > 0 at the end — identical support because a sparse row
is always a sum of strictly positive terms and a dense zero stays an
exact 0.0 through every iteration).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphina_spark.graph import LinkGraph
from graphina_spark.plans.materialize import local_materialize as _mat
from graphina_spark.plans.shards import SINK_ID, scatter_edges


def topic_sensitive_pagerank(
    g: LinkGraph,
    topics: DataFrame,
    damping: float = 0.85,
    fixed_iters: int = 5,
) -> DataFrame:
    """(topic, id, rank) sparse ranks after ``fixed_iters`` supersteps.

    ``topics``: (topic, id, p) sparse non-negative seed weights; each
    topic is L1-normalized internally and must have a positive total
    (matching the reference's Σ>0 validation,
    personalized_pagerank.rs:51-63 — here an error, since a silent
    uniform fallback would densify the batch)."""
    if not (0.0 < damping < 1.0):
        raise ValueError("damping must be in (0, 1)")
    if fixed_iters < 0:
        raise ValueError("fixed_iters must be >= 0")
    d = damping

    tsum = topics.groupBy("topic").agg(F.sum("p").alias("psum"))
    bad = tsum.where(F.col("psum") <= 0).select("topic").limit(1).collect()
    if bad:
        raise ValueError(f"topic {bad[0]['topic']!r} has non-positive seed mass")
    pvec = (
        topics.join(tsum, "topic")
        .where(F.col("p") > 0)
        .select("topic", "id", (F.col("p") / F.col("psum")).alias("p"))
        .repartition("topic", "id")
        .cache()
    )

    # normalized out-edges + one virtual sink edge per dangling vertex
    en = scatter_edges(g).repartition("src").cache()

    ranks = pvec.select("topic", "id", F.col("p").alias("pr"))
    for _ in range(fixed_iters):
        agg = (
            ranks.join(en, ranks["id"] == en["src"])
            .select("topic", en["dst"].alias("id"), (F.col("pr") * F.col("w_norm")).alias("m"))
            .groupBy("topic", "id")
            .agg(F.sum("m").alias("gather"))
        )
        dang = (
            agg.where(F.col("id") == SINK_ID)
            .select("topic", F.col("gather").alias("dang"))
        )
        gather = agg.where(F.col("id") != SINK_ID)
        ranks = (
            pvec.join(gather, ["topic", "id"], "full_outer")
            .join(F.broadcast(dang), "topic", "left")
            .select(
                "topic",
                "id",
                (
                    F.lit(1.0 - d) * F.coalesce("p", F.lit(0.0))
                    + F.lit(d)
                    * F.coalesce("dang", F.lit(0.0))
                    * F.coalesce("p", F.lit(0.0))
                    + F.lit(d) * F.coalesce("gather", F.lit(0.0))
                ).alias("pr"),
            )
            .where(F.col("pr") > 0)
        )
        ranks = _mat(ranks)
    en.unpersist()
    pvec.unpersist()
    return ranks.select("topic", "id", F.col("pr").alias("rank"))

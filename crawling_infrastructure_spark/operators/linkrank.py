"""Link-graph ranking for crawl prioritization: fixed-iteration PageRank
over a (src, dst) edge table.

Why it's here: the reference schedules purely by queue priority + insertion
order (crawltask scheduling, priority_policy.ts) — it has no notion of
which HOSTS are worth crawling first. At web scale the standard signal is
link analysis over the host graph (OPIC / PageRank over hosts is what
production crawlers like Heritrix/Nutch feed their frontier schedulers).
The rank feeds straight into the existing claim path as the per-host
priority (operators/claim.py ranks by priority DESC).

Spark shape — this is the canonical iterative-shuffle workload, and the
declarative form is deliberately chosen over a driver loop with
intermediate actions:

- ``iters`` is FIXED and the whole computation is ONE lazy plan: no
  driver round-trips, no convergence collect between iterations — at
  10^7-host graphs each iteration is exactly one shuffle (groupBy dst)
  plus one join, and Catalyst/AQE handles skew (a mega-host receiving
  10^6 inlinks) via adaptive skew-join splitting.
- ranks are (node, rank) — tiny next to edges. The join broadcast-hints
  the rank side when the node count is bounded; edges never re-shuffle
  into a new layout between iterations beyond the join requirement.
- dangling nodes (no outlinks) keep the classic redistribute-nothing
  semantics of the damped formula: rank mass leaks, matching the
  textbook per-node formula rank = (1-d)/n + d * sum(in/deg) — the same
  formula the DuckDB oracle unrolls, so the driver hash-compare pins
  every iteration.
- fixed iterations make the computation SQL-expressible as chained CTEs
  (the same replayability argument as similarity.kmeans_train).

Rounding: each iteration's rank is rounded half-up to 9 decimals
IN-ENGINE so partition summation-order noise (~1e-16) snaps to
engine-independent values before it can compound across iterations; the
published rank rounds to 6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, rank) after ``iters`` damped PageRank iterations over the
    DISTINCT edge set (parallel edges collapse — a page linking twice
    votes once, the host-graph convention). Self-loops are dropped.
    Nodes = every endpoint appearing in the edge table.

    The (node, rank) side joins the edges unhinted: AQE broadcasts it when
    its runtime size fits the threshold (a host graph: 10^7 hosts x 16 B)
    and shuffles both sides by src otherwise (a page graph at 10^10 nodes).
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    n = nodes.count()  # one scalar; the graph size every formulation needs
    base = (1.0 - damping) / n

    # in-engine half-up rounding (Python round() is banker's — not parity)
    ranks = nodes.select("node", F.round(F.lit(1.0 / n), 9).alias("rank"))
    for _ in range(iters):
        contrib = (
            e.join(deg, "src")
            .join(ranks, e.src == ranks.node)
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("in_mass"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                F.round(
                    F.lit(base) + F.lit(damping) * F.coalesce("in_mass", F.lit(0.0)),
                    9,
                ).alias("rank"),
            )
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def host_priorities(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    levels: int = 5,
) -> DataFrame:
    """Host-graph PageRank -> claim priorities: rank hosts over the
    (host, outlink_host) edge table and bucket ranks into ``levels``
    priority levels (claim.py semantics: higher = sooner).

    Bucketing is a LINEAR cut over the [min, max] rank span via one
    scalar aggregate broadcast back — never a global-order window
    (ntile/percent_rank over all hosts would funnel the table through
    one partition; a linear cut is one tiny 1-row cross join). The top
    bucket is priority ``levels``, empty span degenerates to 1."""
    ranks = pagerank(edges, iters, damping, src_col="host", dst_col="outlink_host")
    span = ranks.agg(
        F.min("rank").alias("_lo"), F.max("rank").alias("_hi")
    )
    bucket = F.least(
        F.lit(levels),
        (
            F.floor(
                (F.col("rank") - F.col("_lo"))
                / ((F.col("_hi") - F.col("_lo")) + F.lit(1e-12))
                * levels
            )
            + 1
        ).cast("int"),
    )
    return (
        ranks.crossJoin(F.broadcast(span))
        .select(F.col("node").alias("host"), "rank", bucket.alias("priority"))
    )

"""Iterative graph analytics over edge DataFrames.

Complements `dedup.py:connected_components` (duplicate clustering): PageRank
over a weighted directed edge table — the centrality/importance primitive
for link graphs, citation webs, or state-transition graphs derived from
event streams.

Scale shape (the MLlib/GraphX pattern re-expressed in DataFrames): the edge
table is normalized ONCE (out-weight totals via one agg + key join), then
each iteration is edges⋈ranks on src (both hash-partitioned on the same
key — exchange reused across iterations) + one map-side-combined sum per
dst + a left join back onto the node table for dangling/(1-d)/N mass. Rank
state is node-count-sized, never edge-sized; `localCheckpoint` truncates
the lineage each round so the plan does not grow with iterations. Ranks are
pinned to 12 digits per iteration (`qround`, identical IEEE sequence in the
DuckDB oracle) so cross-engine accumulation jitter cannot compound across
rounds.

This is the simplified textbook PageRank (dangling-node mass leaks rather
than redistributes); parity with the oracle is exact because both sides
implement the identical recurrence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.scalars import qround


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    damping: float = 0.85,
    iterations: int = 8,
    digits: int = 6,
    checkpoint: bool = True,
) -> DataFrame:
    """Weighted PageRank: rank'(v) = (1-d)/N + d·Σ_u rank(u)·w(u,v)/W(u),
    run ``iterations`` rounds from the uniform start. Returns (node, rank)
    with rank rounded to ``digits``."""
    e = edges.select(
        F.col(src).alias("_src"),
        F.col(dst).alias("_dst"),
        F.col(weight).cast("double").alias("_w"),
    )
    nodes = (
        e.select(F.col("_src").alias("node"))
        .unionByName(e.select(F.col("_dst").alias("node")))
        .distinct()
    )
    if checkpoint:
        # referenced by every round's left join (plus the init and N) —
        # uncut, each round re-ran the two edge scans + union + distinct
        nodes = nodes.localCheckpoint(eager=False)
    outw = e.groupBy("_src").agg(F.sum("_w").alias("_wtot"))
    norm = e.join(outw, "_src").select(
        "_src", "_dst", (F.col("_w") / F.col("_wtot")).alias("_p")
    )
    if checkpoint:
        norm = norm.localCheckpoint(eager=False)
    n_nodes = nodes.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    ranks = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node", (F.lit(1.0) / F.col("_n")).alias("rank")
    )
    for _ in range(iterations):
        contrib = (
            norm.join(ranks, norm["_src"] == ranks["node"])
            .groupBy(F.col("_dst").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("_p")).alias("_c"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "node",
                qround(
                    (1.0 - damping) / F.col("_n")
                    + damping * F.coalesce(F.col("_c"), F.lit(0.0)),
                    12,
                ).alias("rank"),
            )
        )
        if checkpoint:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", qround(F.col("rank"), digits).alias("rank"))


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Count triangles in an undirected graph given as an edge list
    (direction and duplicates ignored). Canonicalize every edge to
    (lo, hi), dedupe, then count paths lo→mid→hi whose closing edge
    (lo, hi) exists — each triangle {a<b<c} is counted exactly once as
    a→b→c with closure (a,c).

    Two equijoins on vertex keys over the canonical edge table; no
    enumeration of wedges beyond what the join produces. At scale the known
    optimization is degree-ordering (orient each edge from the
    lower-degree endpoint) so high-degree hubs never fan out — one extra
    degree aggregate + join, same operator shape; worth it past ~10⁹ edges
    with power-law hubs. Returns one row: n_triangles."""
    a, b = F.col(src), F.col(dst)
    canon = (
        edges.filter(a != b)
        .select(
            F.least(a, b).alias("lo"), F.greatest(a, b).alias("hi")
        )
        .distinct()
    )
    e1 = canon.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = canon.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    wedges = e1.join(e2, "b")
    closing = canon.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    return (
        wedges.join(closing, ["a", "c"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def transitive_closure(
    edges: DataFrame,
    child_col: str = "child",
    parent_col: str = "parent",
    max_depth: int = 16,
) -> DataFrame:
    """Bounded transitive closure over a parent-child edge table: every
    (node, ancestor, depth) pair reachable in ≤ ``max_depth`` hops — the
    hierarchy-flattening query SQL spells WITH RECURSIVE / CONNECT BY,
    which Spark lacks as a primitive. Iterative frontier expansion: each
    round joins the depth-d frontier against the edge table on the
    ancestor key (both hash-partitioned on it — the exchange is reused),
    unions into the accumulator, and stops early when a round adds
    nothing; `localCheckpoint` truncates lineage per round so the plan
    stays flat. Cycles cannot loop forever (depth bound) but DO produce
    one row per distinct path depth — pass a DAG.

    At scale: frontier size is the live quantity (result rows at depth d);
    the edge table partitioning is reused every round, and the early-out
    reads only the row count observed on the latest delta's checkpoint,
    never the accumulator."""
    e = edges.select(
        F.col(child_col).alias("node"),
        F.col(parent_col).alias("ancestor"),
        F.lit(1).alias("depth"),
    ).distinct()
    # the accumulator is never joined against — only RETURNED — so the
    # rounds are collected and unioned ONCE at the end instead of
    # re-materializing the whole accumulated set every round (the per-round
    # acc checkpoint copied O(total x depth) rows across the loop; the
    # union of per-round checkpointed deltas is O(total) and lazy)
    first = e.localCheckpoint(eager=True)
    rounds = [first]
    frontier = first
    up = (
        edges.select(
            F.col(child_col).alias("_c"), F.col(parent_col).alias("_p")
        )
        .distinct()
        # joined by EVERY round — uncut, each round's job re-ran the
        # scan + distinct for the edge side
        .localCheckpoint(eager=False)
    )
    for _ in range(1, max_depth):
        # the round's row count is observed on its own checkpoint job, so
        # the early-out costs no job of its own
        grown = Observation()
        nxt = (
            frontier.join(up, frontier["ancestor"] == up["_c"])
            .select(
                "node",
                F.col("_p").alias("ancestor"),
                (F.col("depth") + 1).alias("depth"),
            )
            .observe(grown, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        if grown.get["n"] == 0:
            break
        rounds.append(nxt)
        frontier = nxt
    acc = rounds[0]
    for r in rounds[1:]:
        acc = acc.unionByName(r)
    return acc

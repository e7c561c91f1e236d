"""Bounded-horizon multi-source BFS over the KG instance graph.

Beyond-the-reference analytics (sibling of plans/components.py and
plans/pagerank.py): hop distance from every KG resource to its nearest
canonical ENTITY node — the "how far is this turn/conversation from
grounded knowledge" feature a training-data pipeline uses to weight or
filter samples.

Semantics (the contract the oracle mirrors): distances are computed
over the undirected instance graph (same edge set as kg_components)
for a FIXED horizon of min-plus rounds,

  d_0(v)   = 0 if v is an entity node else INF
  d_k(v)   = min(d_{k-1}(v), 1 + min over neighbors d_{k-1}(u))

and anything not reached within the horizon is NULL.  A fixed horizon
makes the result a deterministic pure function of the graph — no
convergence requirement — while the early exit (label mass is a
strictly decreasing integer, so equal sums between rounds is an exact
no-change test) skips the no-op tail rounds without changing a single
value.

Scale notes: identical shape to one components round — per round one
edge-list join + one node aggregation, distance frame stays
node-sized, lineage truncated every round.  The integer-encoded graph
is shared with kg_components through the same session cache.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

INF = 1_000_000_000
HORIZON = 8
SEED_PREFIX = "_:entity_"


def bfs_ids(
    ids: DataFrame,
    iund: DataFrame,
    horizon: int = HORIZON,
    iund_sl: DataFrame | None = None,
    n_nodes: int | None = None,
) -> DataFrame:
    """(node, dist) in the string id space; NULL dist = not reached
    within ``horizon`` hops of any seed.

    Round shape mirrors cc_iterate_ids: when the node frame fits the
    session's broadcast threshold each round is ONE shuffle-free stage
    over the ``idst``-partitioned self-loop edge frame — the w=0
    self-loop row carries d(v) itself, so ``min(d(u) + w)`` grouped by
    ``idst`` IS ``min(d(v), 1 + min over neighbors)`` with no left-join
    back; at cluster scale the co-partitioned shuffle formulation is
    kept unchanged."""
    from .components import checkpoint_observed, fits_broadcast, selfloop_edges

    dist = ids.select(
        F.col("nid").alias("node"),
        F.when(F.col("node").startswith(SEED_PREFIX), F.lit(0))
        .otherwise(F.lit(INF))
        .cast("long")
        .alias("dist"),
    ).localCheckpoint()
    if iund_sl is None:
        iund_sl = selfloop_edges(ids, iund).localCheckpoint()
    if n_nodes is None:
        n_nodes = ids.count()
    fast = fits_broadcast(ids.sparkSession, n_nodes)
    prev_mass = None
    for _ in range(horizon):
        if fast:
            b = F.broadcast(
                dist.select(F.col("node").alias("n1"), F.col("dist").alias("d1"))
            )
            # min(d(v)+0, 1+min_N d(u)); the result never exceeds INF
            # because the self-loop contribution is the previous d(v)
            dist = (
                iund_sl.join(b, iund_sl["isrc"] == F.col("n1"))
                .groupBy(F.col("idst").alias("node"))
                .agg(F.min(F.col("d1") + F.col("w")).alias("dist"))
            )
        else:
            mn = (
                iund.join(dist, iund["isrc"] == dist["node"])
                .groupBy(F.col("idst").alias("node"))
                .agg(F.min("dist").alias("mn"))
            )
            dist = dist.join(mn, "node", "left").select(
                "node",
                F.least("dist", F.coalesce(F.col("mn") + 1, F.lit(INF))).alias("dist"),
            )
        # lineage truncated every round — the frame is referenced on two
        # sides per round, same 4^k recompute hazard as components — with
        # the distance mass observed in the same execution
        dist, probe = checkpoint_observed(dist, mass=F.sum("dist"))
        if probe["mass"] == prev_mass:
            break  # exact: distances only decrease, equal sums = no-op
        prev_mass = probe["mass"]
    return (
        dist.join(
            ids.select(F.col("nid").alias("node"), F.col("node").alias("node_s")),
            "node",
        )
        .select(
            F.col("node_s").alias("node"),
            F.when(F.col("dist") >= INF, F.lit(None))
            .otherwise(F.col("dist"))
            .cast("long")
            .alias("dist"),
        )
    )


def bfs_oracle_sql(triples_sql: str, horizon: int = HORIZON) -> str:
    """The identical min-plus rounds unrolled as MATERIALIZED CTEs
    (see components_oracle_sql for why MATERIALIZED is load-bearing)."""
    from .components import graph_ctes

    ctes = []
    for k in range(1, horizon + 1):
        ctes.append(
            f"""d{k} AS MATERIALIZED (
  SELECT l.node, LEAST(l.dist, COALESCE(m.mn + 1, {INF})) AS dist
  FROM d{k - 1} l LEFT JOIN (
    SELECT u.dst AS node, MIN(x.dist) AS mn
    FROM und u JOIN d{k - 1} x ON u.src = x.node
    GROUP BY u.dst
  ) m ON l.node = m.node
)"""
        )
    body = ",\n".join(ctes)
    return f"""
WITH {graph_ctes(triples_sql)},
d0 AS MATERIALIZED (
  SELECT node,
         CASE WHEN starts_with(node, '{SEED_PREFIX}')
              THEN 0 ELSE {INF} END AS dist
  FROM nodes
),
{body}
SELECT node,
       CASE WHEN dist >= {INF} THEN NULL ELSE dist END AS dist
FROM d{horizon}
"""

"""Bounded k-core peeling over the KG instance graph.

The k-core (maximal subgraph where every node keeps degree >= K) is
the classic dense-region extractor: spam rings, well-connected
conversation clusters, the "load-bearing" part of an entity graph.
Peeling is iterative — remove every node with degree < K, which drops
its neighbors' degrees, which can cascade — so like the other
iterative plans this runs a FIXED number of peel rounds (the oracle
mirrors exactly that contract) with an exact early exit: a peel that
removes nothing is idempotent, so stopping early never changes a
value.

Per round: one degree aggregation over the edge list restricted to the
surviving endpoints (two semi-joins), in dense integer ids; only the
node-sized survivor set is checkpointed, its size observed in the same
write. Output is the surviving (node, deg) table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .components import broadcast_if_fits, checkpoint_observed, graph_ctes

K = 5
PEELS = 6


def kcore_ids(
    ids: DataFrame,
    iund: DataFrame,
    k: int = K,
    peels: int = PEELS,
    n_nodes: int | None = None,
) -> DataFrame:
    """(node, deg) of the subgraph surviving ``peels`` rounds of
    degree-< k removal over the integer-encoded symmetric edge list
    (``cc_encode``; ``n_nodes`` is the row count of ``ids`` when the
    caller knows it): rounds shuffle 16-byte pairs instead of IRI/bnode
    strings, and the shrinking survivor set broadcasts into the two
    semi-joins when it fits the session's threshold, making each peel
    one map-only pass over the cached edge list (guide §2.3/§3.1).

    Survivor sets are NESTED (a node's degree only ever drops while it
    survives, so keep_r ⊆ keep_{r-1}), which makes the classic
    "shrink g every round" recurrence collapse to

        g_r = iund ⋉ keep_r ⋉ keep_r

    — each round re-filters the (session-cached) edge list with the
    CURRENT survivor set instead of checkpointing an edge-sized
    intermediate per round.  With the broadcast guard met, one peel is
    a single map-side job (scan cache → 2 broadcast semi-joins →
    degree aggregation, exchange-free when the cache is
    isrc-partitioned); only the node-sized survivor frame is ever
    checkpointed."""
    if n_nodes is None:
        n_nodes = ids.count()
    bcast = broadcast_if_fits(ids.sparkSession, n_nodes)
    g = iund.select(F.col("isrc").alias("src"), F.col("idst").alias("dst"))
    keep = None
    prev_nodes = None
    for _ in range(peels):
        cur = g
        if keep is not None:
            k1 = keep.select(F.col("src").alias("n1"))
            k2 = keep.select(F.col("src").alias("n2"))
            cur = (
                g.join(bcast(k1), g["src"] == k1["n1"], "leftsemi")
                .join(bcast(k2), g["dst"] == k2["n2"], "leftsemi")
            )
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        nk, probe = checkpoint_observed(
            deg.filter(F.col("deg") >= k).select("src"), n=F.count(F.lit(1))
        )
        n = probe["n"]
        if prev_nodes is not None and n == prev_nodes:
            break  # removal-free peel: every further round is a no-op
        keep = nk
        prev_nodes = n
    k1 = keep.select(F.col("src").alias("n1"))
    k2 = keep.select(F.col("src").alias("n2"))
    surv = (
        g.join(bcast(k1), g["src"] == k1["n1"], "leftsemi")
        .join(bcast(k2), g["dst"] == k2["n2"], "leftsemi")
        .groupBy(F.col("src").alias("n"))
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    return ids.join(bcast(surv), ids["nid"] == surv["n"]).select("node", "deg")


def kcore_oracle_sql(triples_sql: str, k: int = K, peels: int = PEELS) -> str:
    """The identical peel rounds unrolled as MATERIALIZED CTEs."""
    ctes = ["g0 AS MATERIALIZED (SELECT src, dst FROM und)"]
    for i in range(1, peels + 1):
        ctes.append(
            f"""s{i} AS MATERIALIZED (
  SELECT src FROM g{i - 1} GROUP BY src HAVING COUNT(*) >= {k}
),
g{i} AS MATERIALIZED (
  SELECT g.src, g.dst
  FROM g{i - 1} g
  JOIN s{i} a ON g.src = a.src
  JOIN s{i} b ON g.dst = b.src
)"""
        )
    body = ",\n".join(ctes)
    return f"""
WITH {graph_ctes(triples_sql)},
{body}
SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
FROM g{peels} GROUP BY src
"""

"""Bounded-round weighted shortest paths over the KG instance graph.

The weighted sibling of plans/bfs.py: BFS answers "how many hops to
grounded knowledge", this answers "how CHEAP is the path" when edges
carry costs (relation confidence, traversal latency, trust decay).
The algorithm is Bellman-Ford relaxation in min-plus algebra,

  d_0(v) = 0 if v is an entity node else INF
  d_k(v) = min(d_{k-1}(v), min over edges (u, v) of d_{k-1}(u) + w(u, v))

for a FIXED number of rounds — a deterministic pure function of the
graph (paths longer than ROUNDS edges are not represented; that bound
is the contract, mirrored by the oracle). Each round is one edge join
+ one min aggregation, the distance frame stays node-sized, and
lineage is truncated per round — exactly the components/BFS shape, so
this scales the same way those do.

Edge weights are synthesized deterministically per DIRECTED edge from
the repo's portable md5-prefix hash (w in 1..9): both engines compute
the identical weight from the endpoint strings, so the whole distance
table hash-gates. All arithmetic is integer min-plus — no floats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bfs import INF, SEED_PREFIX
from .components import (
    cc_encode,
    checkpoint_observed,
    fits_broadcast,
    graph_ctes,
    id_edges,
)

ROUNDS = 6
W_MOD = 9


def edge_weight_col() -> F.Column:
    """1..9 weight from md5('w#' src '|' dst) — cross-engine exact."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("w#"), F.col("src"), F.lit("|"), F.col("dst"))),
                1, 8,
            ),
            16, 10,
        ).cast("long") % W_MOD + 1
    )


_W_SQL = (
    f"CAST(('0x' || substr(md5('w#' || u.src || '|' || u.dst), 1, 8)) AS BIGINT)"
    f" % {W_MOD} + 1"
)


def wsp(und: DataFrame, rounds: int = ROUNDS) -> DataFrame:
    """(node, dist) over the symmetric string edge list; NULL dist =
    not reachable within ``rounds`` relaxations of any entity seed.

    Convenience wrapper: weights come from the STRING endpoints (the
    portable hash), but the relaxation itself runs in a dense integer
    id space (see :func:`wsp_ids`) — rounds shuffle 24-byte rows
    instead of IRI/bnode strings, the same ~2.5x lever that components
    and BFS use."""
    nodes = und.select(F.col("src").alias("node")).distinct()
    ids, _iund = cc_encode(und, nodes)
    return wsp_ids(ids, und, rounds=rounds)


def wsp_weighted_edges(ids: DataFrame, und: DataFrame) -> DataFrame:
    """(isrc, idst, w): the integer edge list with hash weights from
    the STRING endpoints, plus a zero-weight self-loop per node (the
    components/BFS self-loop frame shape — callers materialize it
    partitioned by ``idst``, every round re-reads it)."""
    return (
        id_edges(ids, und.select("src", "dst", edge_weight_col().alias("w")), "w")
        .unionAll(
            ids.select(
                F.col("nid").alias("isrc"),
                F.col("nid").alias("idst"),
                F.lit(0).cast("long").alias("w"),
            )
        )
    )


def wsp_ids(
    ids: DataFrame,
    und: DataFrame,
    rounds: int = ROUNDS,
    wund_sl: DataFrame | None = None,
    n_nodes: int | None = None,
) -> DataFrame:
    """Integer-space relaxation: ``ids`` is the (node, nid) mapping,
    ``und`` the symmetric STRING edge list (weights hash from it).

    Round shape mirrors cc_iterate_ids/bfs_ids: when the distance
    frame fits the session's broadcast threshold each relaxation is ONE
    shuffle-free stage over the ``idst``-partitioned weighted self-loop
    frame (the w=0 self-loop carries d(v), so the grouped min IS the
    full relaxation); at cluster scale the co-partitioned shuffle
    formulation is kept."""
    if wund_sl is None:
        wund_sl = wsp_weighted_edges(ids, und).localCheckpoint()
    if n_nodes is None:
        n_nodes = ids.count()
    fast = fits_broadcast(ids.sparkSession, n_nodes)
    dist = ids.select(
        F.col("nid").alias("node"),
        F.when(F.col("node").startswith(SEED_PREFIX), F.lit(0))
        .otherwise(F.lit(INF))
        .cast("long")
        .alias("dist"),
    ).localCheckpoint()
    prev_mass = None
    for _ in range(rounds):
        if fast:
            b = F.broadcast(
                dist.select(F.col("node").alias("n1"), F.col("dist").alias("d1"))
            )
            dist = (
                wund_sl.join(b, wund_sl["isrc"] == F.col("n1"))
                .groupBy(F.col("idst").alias("node"))
                .agg(F.min(F.col("d1") + F.col("w")).alias("dist"))
            )
        else:
            mn = (
                wund_sl.join(dist, wund_sl["isrc"] == dist["node"])
                .groupBy(F.col("idst").alias("node"))
                .agg(F.min(F.col("dist") + F.col("w")).alias("mn"))
            )
            dist = dist.join(mn, "node", "left").select(
                "node",
                F.least("dist", F.coalesce(F.col("mn"), F.lit(INF))).alias("dist"),
            )
        # truncate lineage every round; exact early exit (distances only
        # decrease; equal sums = no-op round) — skips the no-op tail
        # without changing any value, same probe as bfs_ids
        dist, probe = checkpoint_observed(dist, mass=F.sum("dist"))
        if probe["mass"] == prev_mass:
            break
        prev_mass = probe["mass"]
    return dist.join(ids, dist["node"] == ids["nid"]).select(
        ids["node"].alias("node"),
        F.when(F.col("dist") >= INF, F.lit(None).cast("long"))
        .otherwise(F.col("dist"))
        .alias("dist"),
    )


def wsp_oracle_sql(triples_sql: str, rounds: int = ROUNDS) -> str:
    """The identical relaxations unrolled as MATERIALIZED CTEs."""
    ctes = []
    for k in range(1, rounds + 1):
        ctes.append(
            f"""d{k} AS MATERIALIZED (
  SELECT l.node, LEAST(l.dist, COALESCE(m.mn, {INF})) AS dist
  FROM d{k - 1} l LEFT JOIN (
    SELECT u.dst AS node, MIN(x.dist + ({_W_SQL})) AS mn
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
       CASE WHEN dist >= {INF} THEN NULL
            ELSE CAST(dist AS BIGINT) END AS dist
FROM d{rounds}
"""

"""Personalized PageRank (PPR) over the KG resource graph.

Relevance-to-a-seed-set ranking — the standard KG recommendation /
related-entity primitive (seeded random surfer: restart mass lands
ONLY on the seeds, so scores measure proximity to the seed set rather
than global centrality).  Same exact INTEGER fixed-point arithmetic
as plans/pagerank.py (commutative integer sums, floor division
identical between Spark ``div`` and DuckDB ``//``), so the driver
gate value-hashes every node's mass.

Semantics (mirrored term-for-term by the SQL oracle):

  seeds        = nodes whose first 9 bytes are '_:entity_' (the
                 canonicalized entity nodes emitted by the
                 extract->link stage; text/mentions.py:315)
  mass_0(v)    = SCALE if v in seeds else 0
  mass_k+1(v)  = (v in seeds ? BASE : 0) + sum of in-edge contribs
  contrib(u,v) = (mass(u) * 85) div (100 * outdeg(u))   per edge

3 fixed iterations like pagerank; dangling mass is not redistributed
(same simplified variant).  The iterations are pagerank's integer-space
loop (``pagerank._rank_iterate_ids``) with the seed-gated restart
term: per iteration one join on ``isrc`` + one aggregation on
``idst``, the mass vector stays node-sized and is broadcast when it
fits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .pagerank import BASE, DAMP_DEN, DAMP_NUM, ITERS, SCALE, _rank_iterate_ids

SEED_PREFIX = "_:entity_"


def ppr_iterate_ids(
    ids: DataFrame, edsl: DataFrame, iters: int = ITERS, n_nodes: int | None = None
) -> DataFrame:
    """(node, mass) after ``iters`` seed-restarted iterations over the
    encoded graph (``pagerank_ids`` + ``pagerank_edges_sl``, whose
    ``is_seed``/``sseed`` flags mark the '_:entity_' restart set); the
    broadcast guard and its shuffle fallback are pagerank's
    (``_rank_iterate_ids``)."""
    return _rank_iterate_ids(ids, edsl, iters, personalized=True, n_nodes=n_nodes)


def ppr_oracle_sql(triples_sql: str, iters: int = ITERS) -> str:
    """The identical seed-restarted recurrence as unrolled CTEs."""
    seed = f"substr(n.node, 1, {len(SEED_PREFIX)}) = '{SEED_PREFIX}'"
    iter_ctes = []
    for k in range(1, iters + 1):
        iter_ctes.append(
            f"""pr{k} AS MATERIALIZED (
  SELECT n.node,
         CAST(CASE WHEN {seed} THEN {BASE} ELSE 0 END
              + COALESCE(c.m, 0) AS BIGINT) AS mass
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node,
           SUM((p.mass * {DAMP_NUM}) // ({DAMP_DEN} * e.deg)) AS m
    FROM ed e JOIN pr{k - 1} p ON e.src = p.node
    GROUP BY e.dst
  ) c ON n.node = c.node
)"""
        )
    ctes = ",\n".join(iter_ctes)
    return f"""
WITH kg AS ({triples_sql}),
edges AS (SELECT s AS src, o AS dst FROM kg WHERE o NOT LIKE '"%'),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
ed AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d ON e.src = d.src),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
  ) u
),
pr0 AS (
  SELECT n.node,
         CAST(CASE WHEN {seed} THEN {SCALE} ELSE 0 END AS BIGINT) AS mass
  FROM nodes n
),
{ctes}
SELECT node, mass FROM pr{iters}
"""

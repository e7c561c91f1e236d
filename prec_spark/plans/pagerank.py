"""Deterministic integer PageRank over the KG resource graph.

Beyond-the-reference analytics (the dedup/ANN family): rank KG
resources by the PageRank recurrence, computed in exact INTEGER
fixed-point so the result is bit-identical across engines and
partitionings. Floating-point PageRank accumulates in partition order
and cannot be value-hashed cross-engine; integer addition is
commutative and the floor-divided edge contributions are order-free,
so the driver's DuckDB gate can hash-compare every node's mass.

Semantics (mirrored term-for-term by the SQL oracle):

  edges        = triples whose object is a RESOURCE (IRI or bnode, i.e.
                 not a literal); multi-edges (several predicates between
                 the same pair) each carry mass
  mass_0(v)    = SCALE                      (10^9 integer units)
  contrib(u,v) = (mass(u) * 85) div (100 * outdeg(u))   per edge
  mass_k+1(v)  = BASE + sum of contrib over in-edges    (BASE = 15% of SCALE)
  ITERS        = 3 fixed iterations, unrolled as CTEs in the oracle

Dangling nodes emit no mass (the usual simplified variant — the mass
they lose is not redistributed). ``div`` (Spark) and ``//`` (DuckDB)
agree because every operand is non-negative.

Scale notes: the edge list with out-degrees attached and the node set
are localCheckpointed ONCE and reused by every iteration — on a real
cluster this is the standard iterate-over-checkpoint pattern (use
``spark.sparkContext.setCheckpointDir`` + ``checkpoint()`` for
executor-loss resilience at 100 TB; localCheckpoint is the single-box
equivalent). Each iteration is one shuffle-join on src plus one
aggregation on dst; the rank frame stays node-sized, never edge-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000_000
DAMP_NUM, DAMP_DEN = 85, 100
BASE = SCALE * (DAMP_DEN - DAMP_NUM) // DAMP_DEN
ITERS = 3


def resource_edges(triples: DataFrame) -> DataFrame:
    """(src, dst) for every triple whose object is a resource."""
    return triples.filter(~F.col("o").startswith('"')).select(
        F.col("s").alias("src"), F.col("o").alias("dst")
    )


def pagerank_graph(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(ed, nodes): the edge list with out-degrees attached, and the
    distinct node set — the two frames every iteration re-reads.
    Callers that run PageRank repeatedly should pass a cached/
    checkpointed ``edges`` so the (possibly expensive) triple source is
    evaluated once, not once per derived frame."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = edges.join(deg, "src")
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    return ed, nodes


def pagerank_iterate(
    ed: DataFrame, nodes: DataFrame, iters: int = ITERS
) -> DataFrame:
    """Run the fixed-point loop: per iteration one join on src + one
    aggregation on dst; the rank frame stays node-sized."""
    pr = nodes.select("node", F.lit(SCALE).cast("long").alias("mass"))
    for _ in range(iters):
        contrib = (
            ed.join(pr, ed["src"] == pr["node"])
            .select(
                F.col("dst").alias("node"),
                F.expr(f"(mass * {DAMP_NUM}) div ({DAMP_DEN} * deg)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_mass"))
        )
        pr = nodes.join(contrib, "node", "left").select(
            "node",
            (F.lit(BASE) + F.coalesce("in_mass", F.lit(0)))
            .cast("long")
            .alias("mass"),
        )
    return pr


def pagerank_ids(
    edges: DataFrame, seed_prefix: str = "_:entity_"
) -> DataFrame:
    """(node, nid, is_seed): dense integer ids for the pagerank/ppr
    graph's nodes, with PPR's restart-set flag."""
    from .components import encode_nodes

    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    return encode_nodes(nodes).withColumn(
        "is_seed", F.col("node").startswith(seed_prefix)
    )


def pagerank_edges_sl(ids: DataFrame, edges: DataFrame) -> DataFrame:
    """(isrc, idst, deg, sseed): the integer in-edge frame with
    out-degrees attached, augmented with one deg-NULL self row per
    node.

    The self row is what lets one ``groupBy(idst)`` sum produce the
    full next mass vector with no left-join back to the node set:
    its contribution is the per-node restart term (BASE for pagerank,
    seed-gated BASE for ppr via ``sseed``), while edge rows contribute
    ``(mass * 85) div (100 * deg)``.  Callers cache it partitioned by
    ``idst``, so that sum needs no exchange — every iteration re-reads
    it."""
    s_ids = ids.select(F.col("node").alias("src"), F.col("nid").alias("isrc"))
    d_ids = ids.select(F.col("node").alias("dst"), F.col("nid").alias("idst"))
    ie = edges.join(s_ids, "src").join(d_ids, "dst").select("isrc", "idst")
    deg = ie.groupBy("isrc").agg(F.count(F.lit(1)).alias("deg"))
    return (
        ie.join(deg, "isrc")
        .select("isrc", "idst", "deg", F.lit(None).cast("boolean").alias("sseed"))
        .unionAll(
            ids.select(
                F.col("nid").alias("isrc"),
                F.col("nid").alias("idst"),
                F.lit(None).cast("long").alias("deg"),
                F.col("is_seed").alias("sseed"),
            )
        )
    )


def _rank_iterate_ids(
    ids: DataFrame, edsl: DataFrame, iters: int, personalized: bool
) -> DataFrame:
    """Shared broadcast-iteration core for pagerank/ppr over the
    encoded graph: per iteration ONE shuffle-free stage (broadcast the
    node-sized mass vector, map over the idst-partitioned edge frame,
    locally aggregate).  3 chained iterations run as a single action —
    the mass frame is referenced once per iteration, so lineage stays
    linear and needs no checkpoint."""
    if personalized:
        init = F.when(F.col("is_seed"), F.lit(SCALE)).otherwise(F.lit(0))
        base = F.when(F.col("sseed"), F.lit(BASE)).otherwise(F.lit(0))
    else:
        init = F.lit(SCALE)
        base = F.lit(BASE)
    pr = ids.select(F.col("nid").alias("n"), init.cast("long").alias("mass"))
    for _ in range(iters):
        b = F.broadcast(pr)
        pr = (
            edsl.join(b, edsl["isrc"] == F.col("n"))
            .select(
                "idst",
                F.when(F.col("deg").isNull(), base)
                .otherwise(F.expr(f"(mass * {DAMP_NUM}) div ({DAMP_DEN} * deg)"))
                .alias("c"),
            )
            .groupBy(F.col("idst").alias("n"))
            .agg(F.sum("c").cast("long").alias("mass"))
        )
    return ids.join(F.broadcast(pr), ids["nid"] == F.col("n")).select(
        "node", "mass"
    )


def pagerank_iterate_ids(
    ids: DataFrame, edsl: DataFrame, iters: int = ITERS
) -> DataFrame:
    """(node, mass) — the identical recurrence as pagerank_iterate,
    over the encoded graph (see pagerank_encode)."""
    return _rank_iterate_ids(ids, edsl, iters, personalized=False)


def pagerank(triples: DataFrame, iters: int = ITERS) -> DataFrame:
    """(node, mass) for every resource in the triple graph."""
    # lineage barrier: every derived frame (deg, ed, nodes) and every
    # iteration re-reads the edges; without the barrier the triple
    # source would be recomputed once per consumer
    edges = resource_edges(triples).localCheckpoint()
    ed, nodes = pagerank_graph(edges)
    return pagerank_iterate(ed, nodes, iters)


def pagerank_oracle_sql(triples_sql: str, iters: int = ITERS) -> str:
    """The identical recurrence as unrolled CTEs over ``triples_sql``
    (any SELECT producing s, p, o)."""
    iter_ctes = []
    for k in range(1, iters + 1):
        iter_ctes.append(
            f"""pr{k} AS (
  SELECT n.node, CAST({BASE} + COALESCE(c.m, 0) AS BIGINT) AS mass
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
pr0 AS (SELECT node, CAST({SCALE} AS BIGINT) AS mass FROM nodes),
{ctes}
SELECT node, mass FROM pr{iters}
"""

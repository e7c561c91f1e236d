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

Scale notes: the whole-triples ``pagerank`` is an encode -> ids ->
decode wrapper like ``components``.  The graph is encoded once into
dense 8-byte ids (``pagerank_ids``) and an in-edge frame carrying
out-degrees plus one self row per node (``pagerank_edges_sl``), and
every iteration is one join of that frame with the node-sized mass
vector on ``isrc`` plus one aggregation on ``idst``.  When the mass
vector fits the session's broadcast threshold it is broadcast and an
iteration is one shuffle-free stage; otherwise the same join runs as a
plain shuffle join, so no side ever has to fit in memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .components import broadcast_if_fits, encode_nodes, id_edges

SCALE = 1_000_000_000
DAMP_NUM, DAMP_DEN = 85, 100
BASE = SCALE * (DAMP_DEN - DAMP_NUM) // DAMP_DEN
ITERS = 3


def resource_edges(triples: DataFrame) -> DataFrame:
    """(src, dst) for every triple whose object is a resource."""
    return triples.filter(~F.col("o").startswith('"')).select(
        F.col("s").alias("src"), F.col("o").alias("dst")
    )


def pagerank_ids(
    edges: DataFrame, seed_prefix: str = "_:entity_"
) -> DataFrame:
    """(node, nid, is_seed): dense integer ids for the pagerank/ppr
    graph's nodes, with PPR's restart-set flag."""
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
    ie = id_edges(ids, edges)
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
    ids: DataFrame,
    edsl: DataFrame,
    iters: int,
    personalized: bool,
    n_nodes: int | None = None,
) -> DataFrame:
    """Shared iteration core for pagerank/ppr over the encoded graph:
    per iteration one join of the ``idst``-partitioned edge frame with
    the node-sized mass vector on ``isrc``, then one local aggregation
    on ``idst``.  The mass vector is broadcast when ``n_nodes`` rows fit
    the session's threshold (each iteration is then ONE shuffle-free
    stage); otherwise the join is a plain shuffle join, in 8-byte ids.
    The chained iterations run as a single action: the mass frame is
    referenced once per iteration, so lineage stays linear and needs no
    checkpoint."""
    if n_nodes is None:
        n_nodes = ids.count()
    bcast = broadcast_if_fits(ids.sparkSession, n_nodes)
    if personalized:
        init = F.when(F.col("is_seed"), F.lit(SCALE)).otherwise(F.lit(0))
        base = F.when(F.col("sseed"), F.lit(BASE)).otherwise(F.lit(0))
    else:
        init = F.lit(SCALE)
        base = F.lit(BASE)
    pr = ids.select(F.col("nid").alias("n"), init.cast("long").alias("mass"))
    for _ in range(iters):
        b = bcast(pr)
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
    return ids.join(bcast(pr), ids["nid"] == F.col("n")).select(
        "node", "mass"
    )


def pagerank_iterate_ids(
    ids: DataFrame, edsl: DataFrame, iters: int = ITERS, n_nodes: int | None = None
) -> DataFrame:
    """(node, mass) after ``iters`` iterations over the encoded graph
    (``pagerank_ids`` + ``pagerank_edges_sl``); ``n_nodes`` is the row
    count of ``ids`` when the caller knows it (counted otherwise)."""
    return _rank_iterate_ids(ids, edsl, iters, personalized=False, n_nodes=n_nodes)


def pagerank(triples: DataFrame, iters: int = ITERS) -> DataFrame:
    """(node, mass) for every resource in the triple graph: encode to
    integer ids, iterate, map back."""
    # lineage barrier: the id encoding, the degree aggregation and the
    # edge re-keying all read the edges
    edges = resource_edges(triples).localCheckpoint()
    ids = pagerank_ids(edges).localCheckpoint()
    edsl = pagerank_edges_sl(ids, edges).localCheckpoint()
    return pagerank_iterate_ids(ids, edsl, iters)


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

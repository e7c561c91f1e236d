"""Connected components over the KG instance graph.

Beyond-the-reference analytics (sibling of plans/pagerank.py): group
KG resources into connected components over the *instance* edges —
structural relations (rdf:subject/rdf:object reification wiring,
mention links, property links with resource objects) — while
excluding the schema hub predicates (rdf:type, rdf:predicate,
rdfs:subClassOf/subPropertyOf) that would collapse the whole graph
into one component through shared class/label nodes.  On the
transcript KG the components are "conversation clusters": each
conversation's reified turn/edge subgraph, merged with other
conversations only through shared entity and tool nodes.

Algorithm: min-label propagation with pointer jumping.  Every node
starts labeled with its own id; each round does

  neighbor-min   l'(v)  = min(l(v), min_{u in N(v)} l(u))
  pointer jump   l''(v) = l'(l'(v))

Both steps are deterministic pure functions of the previous labels,
so a FIXED number of rounds is a well-defined, engine-independent
contract: the SQL oracle unrolls the identical rounds as CTEs and the
driver can hash-compare every (node, comp) row.  The jump makes the
effective propagation radius grow geometrically (a 10^4-long chain
converges in 13 rounds; the hub-shaped transcript KG in <=4), and a
loud convergence probe guarantees the fixed-round answer actually IS
the connected-components fixpoint — silent non-convergence is
impossible (the round-4 advice contract, same as simhash CC).

Labels are dense integer node ids (``encode_nodes``) numbered in the
sorted order of the node-id strings, so the min over ids picks the
node that the oracle's ``MIN``/``LEAST`` over strings picks: the
orders agree because the ids are ASCII and Spark and DuckDB both
compare strings bytewise.

Scale notes: the symmetric edge list and node set are built and
encoded once (and session-cached by the entry point); each round is
one shuffle-join + one aggregation on the edge list plus one
node-sized self-join for the jump — never more than edge-sized
intermediate state.  Labels are localCheckpointed every round so the
plan stays bounded (on a real cluster: ``checkpoint()`` against a
cluster-visible dir for executor-loss resilience).  Rounds needed grow
with log(diameter), so even a 100 TB graph with million-hop chains
stays in the tens of rounds.
"""

from __future__ import annotations

import logging

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..session import _mem_bytes

_log = logging.getLogger(__name__)

_RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_RDFS = "http://www.w3.org/2000/01/rdf-schema#"

#: schema/hub predicates excluded from the instance graph
SCHEMA_PREDICATES = (
    f"<{_RDF}type>",
    f"<{_RDF}predicate>",
    f"<{_RDFS}subClassOf>",
    f"<{_RDFS}subPropertyOf>",
)

ROUNDS = 8


def instance_edges(triples: DataFrame) -> DataFrame:
    """(src, dst) for every triple with a resource object and a
    non-schema predicate."""
    return (
        triples.filter(
            ~F.col("o").startswith('"') & ~F.col("p").isin(*SCHEMA_PREDICATES)
        ).select(F.col("s").alias("src"), F.col("o").alias("dst"))
    )


def cc_graph(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(und, nodes): the distinct symmetric edge list and the node set.
    ``und`` contains both directions of every edge, so a node's
    neighborhood is exactly the rows where it appears as ``dst``."""
    und = (
        edges.unionAll(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
    )
    nodes = und.select(F.col("src").alias("node")).distinct()
    return und, nodes


def encode_nodes(nodes: DataFrame) -> DataFrame:
    """(node, nid): an ORDER-PRESERVING dense integer id per node
    (0..n-1 in Spark's byte order), all in the JVM.

    The globally sorted node set is checkpointed, so its partitions and
    their row order are fixed; one small job collects the row count of
    each partition, and a node's id is its partition's offset plus its
    position inside the partition.  ``monotonically_increasing_id`` is
    exactly ``(partition index << 33) + position``, so subtracting the
    shifted index leaves the position.  Ids stay dense (empty
    partitions add nothing), which the 32-bit packing guard of
    ``triangle_counts_ids`` relies on."""
    srt = nodes.select("node").orderBy("node").localCheckpoint()
    counts = dict(
        srt.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    )
    base, offsets = 0, []
    for pid in range(max(counts, default=0) + 1):
        offsets.append(base - (pid << 33))
        base += counts.get(pid, 0)
    offset = F.try_element_at(
        F.array(*[F.lit(o).cast("long") for o in offsets]), F.spark_partition_id() + 1
    )
    return srt.select("node", (offset + F.monotonically_increasing_id()).alias("nid"))


def cc_encode(und: DataFrame, nodes: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(ids, iund): an ORDER-PRESERVING dense integer id per node
    (sorted position, so min-by-int-id == min-by-string-id) and the
    edge list re-expressed in those ids.

    Every propagation round then shuffles 16-byte long pairs instead
    of IRI/bnode strings, and the integer label space enables the
    exact sum-based convergence test in cc_iterate_ids.  The ids come
    from ``encode_nodes``: distributed (no single-partition Window),
    deterministic and JVM-side."""
    ids = encode_nodes(nodes)
    return ids, id_edges(ids, und)


def id_edges(ids: DataFrame, edges: DataFrame, *cols: str) -> DataFrame:
    """(isrc, idst, *cols): the (src, dst, *cols) edge list ``edges``
    re-keyed from node strings to the ids of ``ids`` (node, nid)."""
    s_ids = ids.select(F.col("node").alias("src"), F.col("nid").alias("isrc"))
    d_ids = ids.select(F.col("node").alias("dst"), F.col("nid").alias("idst"))
    return edges.join(s_ids, "src").join(d_ids, "dst").select("isrc", "idst", *cols)


def _neighbor_min(iund: DataFrame, lab: DataFrame) -> DataFrame:
    mn = (
        iund.join(lab, iund["isrc"] == lab["node"])
        .groupBy(F.col("idst").alias("node"))
        .agg(F.min("lab").alias("mn"))
    )
    return lab.join(mn, "node", "left").select(
        "node", F.least("lab", F.coalesce("mn", "lab")).alias("lab")
    )


#: estimated bytes per (long, long) row in a broadcast hash relation
#: (16 B payload + hashed-relation overhead); used by the fast-path guard
_BCAST_ROW_BYTES = 48


def broadcast_threshold(spark) -> int:
    """The session's ``spark.sql.autoBroadcastJoinThreshold`` in bytes,
    parsed like Spark parses it ('67108864', '10m', '64MB'); 0 when
    broadcasting is disabled (a negative value) or the value does not
    parse."""
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold").strip()
    if raw.startswith("-"):
        return 0  # disabled; checked first, _mem_bytes("-1") is 2**63
    n = _mem_bytes(raw)
    return 0 if n >= 2**63 else n


def fits_broadcast(spark, n_rows: int, row_bytes: int = _BCAST_ROW_BYTES) -> bool:
    """True when an ``n_rows`` frame of ``row_bytes``-byte hashed rows
    (default: node-sized (long, long) rows) fits the session's own
    broadcast threshold — the same size rule Spark's
    planner applies, re-stated here because checkpointed frames carry
    no statistics for the planner to judge.  At cluster scale (10^9
    nodes) this is False and the iterate loops keep their co-partitioned
    shuffle formulation; locally it enables shuffle-free rounds.  The
    chosen path is logged."""
    thresh = broadcast_threshold(spark)
    fast = 0 < n_rows * row_bytes <= thresh
    _log.info(
        "fits_broadcast: %d rows x %d B, threshold %d B -> %s path",
        n_rows, row_bytes, thresh, "broadcast" if fast else "shuffle",
    )
    return fast


def broadcast_if_fits(spark, n_rows: int):
    """``F.broadcast`` when ``n_rows`` node-sized rows fit the session's
    broadcast threshold (``fits_broadcast``), else the identity: the
    size guard of the graph operators whose broadcast and shuffle paths
    differ only in the join hint."""
    return F.broadcast if fits_broadcast(spark, n_rows) else (lambda df: df)


def selfloop_edges(ids: DataFrame, iund: DataFrame) -> DataFrame:
    """(isrc, idst, w): the integer edge list plus a zero-weight
    self-loop per node.

    Partitioned by ``idst`` (the entry points share it through
    ``shared_frame(..., partition_by=("idst",))``), this single frame
    makes every propagation round of components AND BFS one
    shuffle-free stage when the node frame broadcasts: the self-loop
    row carries each node's own label/distance into the same
    ``groupBy(idst)`` aggregation (no left-join back, no union), and the
    aggregation after a broadcast join needs no exchange at all.  It is
    read every round, so callers materialize it."""
    return iund.select("isrc", "idst", F.lit(1).cast("long").alias("w")).unionAll(
        ids.select(
            F.col("nid").alias("isrc"),
            F.col("nid").alias("idst"),
            F.lit(0).cast("long").alias("w"),
        )
    )


#: storage of per-round checkpoints: memory and disk, serialized (in
#: PySpark, ``MEMORY_AND_DISK`` is the serialized level)
ROUND_STORAGE = StorageLevel.MEMORY_AND_DISK


def checkpoint_observed(df: DataFrame, **aggs: F.Column) -> tuple[DataFrame, dict]:
    """``df`` eagerly localCheckpointed, and the aggregates ``aggs``
    (name -> aggregate column) observed while it was written: a round
    and its convergence probe in ONE SQL execution instead of a
    checkpoint plus a separate ``collect()``.  The observation sits on
    top of the plan, in the result stage, so a retried shuffle stage
    cannot count twice.

    The blocks are stored serialized (``ROUND_STORAGE``): a round frame
    is written once and read once or twice, and a deserialized store
    re-estimates the size of its growing row buffer as it fills, which
    took about 45% of the checkpoint tasks' samples in a profile of
    warm kg_components / kg_path_star rounds."""
    obs = Observation()
    ck = df.observe(obs, *[c.alias(n) for n, c in aggs.items()]).localCheckpoint(
        storageLevel=ROUND_STORAGE
    )
    return ck, obs.get


def cc_iterate_ids(
    ids: DataFrame,
    iund: DataFrame,
    rounds: int = ROUNDS,
    check_convergence: bool = True,
    iund_sl: DataFrame | None = None,
    n_nodes: int | None = None,
) -> DataFrame:
    """Neighbor-min + pointer-jump rounds over the integer-encoded
    graph; returns (node, comp) in the original string id space.

    With ``check_convergence`` (the default) the loop EXITS EARLY as
    soon as a round changes nothing and raises loudly if the label
    mass is still moving after ``rounds`` rounds — so the answer is
    always the true connected-components fixpoint, never a silent
    partial propagation.  Convergence is detected without any join:
    labels only ever decrease (they are mins over growing reach sets),
    so the total label sum is strictly monotone — equal sums between
    rounds is an EXACT no-change test, the integer-fixed-point trick
    that also makes the result hashable cross-engine.  (At >10^9 nodes
    switch the sum to DECIMAL to keep it overflow-free.)

    Two physically different but value-identical round shapes:

    * **broadcast fast path** (node frame fits the session's broadcast
      threshold — the guard is Spark's own size rule): each round is
      ONE shuffle-free stage over the ``idst``-partitioned self-loop
      edge frame.  The neighbor-min and the pointer jump fuse into a
      chained double broadcast lookup,

          m_{k+1}(v) = min over u in {v} ∪ N(v) of m_k(m_k(u)),

      which by induction equals the neighbor-min frame nm_k of the
      classic formulation (proof: m_0 = identity and the recurrence is
      exactly nm's); the final labels are m_R(m_R(v)), applied once
      after the loop.  The self-loop row carries v's own label, so no
      left-join back and no union — and because the edge frame is
      partitioned by ``idst``, the groupBy needs no exchange.
    * **co-partitioned fallback** (huge graphs): the original
      join + left-join + jump-join rounds, which shuffle node-sized
      frames and never require any side to fit in memory.
    """
    lab = ids.select(F.col("nid").alias("node"), F.col("nid").alias("lab"))
    if iund_sl is None:
        iund_sl = selfloop_edges(ids, iund).localCheckpoint()
    if n_nodes is None:
        n_nodes = ids.count()
    spark = ids.sparkSession
    fast = fits_broadcast(spark, n_nodes)
    prev_mass = None
    converged = not check_convergence
    for _ in range(rounds):
        if fast:
            # both lookups read ONE broadcast map: the explicit not-null
            # filter is the one the second lookup's key would infer on
            # the first side only, so the two sides plan identically
            # and the planner reuses one broadcast exchange (one job)
            m = F.broadcast(lab.filter(F.col("node").isNotNull() & F.col("lab").isNotNull()))
            lab = (
                iund_sl.join(m.alias("m1"), iund_sl["isrc"] == F.col("m1.node"))
                .join(m.alias("m2"), F.col("m1.lab") == F.col("m2.node"))
                .groupBy(F.col("idst").alias("node"))
                .agg(F.min("m2.lab").alias("lab"))
            )
        else:
            nm = _neighbor_min(iund, lab)
            # pointer jump: follow the label to ITS label.  Every label
            # is a node id (mins over node-id sets), so the self-join
            # is total.
            jump = nm.select(
                F.col("node").alias("jnode"), F.col("lab").alias("jlab")
            )
            lab = nm.join(jump, nm["lab"] == jump["jnode"]).select(
                "node", F.col("jlab").alias("lab")
            )
        # truncate lineage EVERY round: each round references the
        # previous labels twice, so an un-checkpointed chain recomputes
        # 4^k times and its physical plan grows just as fast — the
        # labels frame is node-sized, so the checkpoint is cheap at any
        # scale (use checkpoint() on a cluster-visible dir for
        # executor-loss resilience).  The label mass is observed while
        # the checkpoint is written.
        lab, probe = checkpoint_observed(lab, mass=F.sum("lab"))
        if check_convergence:
            if probe["mass"] == prev_mass:
                converged = True
                break
            prev_mass = probe["mass"]
    if not converged:
        raise RuntimeError(
            f"cc_iterate: labels still changing after {rounds} rounds — "
            "raise `rounds` (graph diameter too large for the configured "
            "round count)"
        )
    if fast:
        # the loop carried the pre-jump frame m_k; the classic loop's
        # output is m_R(m_R(v)) — apply the second lookup once
        b1 = F.broadcast(
            lab.select(F.col("node").alias("n1"), F.col("lab").alias("l1"))
        )
        lab = lab.join(b1, lab["lab"] == F.col("n1")).select(
            "node", F.col("l1").alias("lab")
        )
    return (
        lab.join(ids.select(F.col("nid").alias("node"), F.col("node").alias("node_s")), "node")
        .join(ids.select(F.col("nid").alias("lab"), F.col("node").alias("comp")), "lab")
        .select(F.col("node_s").alias("node"), "comp")
    )


def cc_iterate(
    und: DataFrame,
    nodes: DataFrame,
    rounds: int = ROUNDS,
    check_convergence: bool = True,
) -> DataFrame:
    """String-space convenience wrapper: encode to integer ids, run
    the rounds, map back."""
    ids, iund = cc_encode(und, nodes)
    return cc_iterate_ids(
        ids.localCheckpoint(), iund.localCheckpoint(), rounds, check_convergence
    )


def components(triples: DataFrame, rounds: int = ROUNDS) -> DataFrame:
    """(node, comp) for every resource in the instance graph."""
    edges = instance_edges(triples).localCheckpoint()
    und, nodes = cc_graph(edges)
    return cc_iterate(und, nodes, rounds)


def components_oracle_sql(triples_sql: str, rounds: int = ROUNDS) -> str:
    """The identical fixed-round propagation unrolled as CTEs over
    ``triples_sql`` (any SELECT producing s, p, o).

    Every per-round CTE is referenced twice by the next one, so they
    MUST be ``MATERIALIZED``: DuckDB inlines plain CTEs, which would
    expand this chain to 4^rounds copies of the base query and hang
    the planner."""
    ctes = []
    for k in range(1, rounds + 1):
        ctes.append(
            f"""nm{k} AS MATERIALIZED (
  SELECT l.node, LEAST(l.lab, COALESCE(m.mn, l.lab)) AS lab
  FROM l{k - 1} l LEFT JOIN (
    SELECT u.dst AS node, MIN(x.lab) AS mn
    FROM und u JOIN l{k - 1} x ON u.src = x.node
    GROUP BY u.dst
  ) m ON l.node = m.node
),
l{k} AS MATERIALIZED (
  SELECT a.node, b.lab FROM nm{k} a JOIN nm{k} b ON a.lab = b.node
)"""
        )
    body = ",\n".join(ctes)
    return f"""
WITH {graph_ctes(triples_sql)},
l0 AS MATERIALIZED (SELECT node, node AS lab FROM nodes),
{body}
SELECT node, lab AS comp FROM l{rounds}
"""


def graph_ctes(triples_sql: str) -> str:
    """The shared kg/edges/und/nodes CTE prefix (instance graph in SQL)
    — reused by the components and BFS oracles."""
    excl = ", ".join(f"'{p}'" for p in SCHEMA_PREDICATES)
    return f"""kg AS MATERIALIZED ({triples_sql}),
edges AS (
  SELECT s AS src, o AS dst FROM kg
  WHERE o NOT LIKE '"%' AND p NOT IN ({excl})
),
und AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges
  ) u
),
nodes AS (SELECT DISTINCT src AS node FROM und)"""

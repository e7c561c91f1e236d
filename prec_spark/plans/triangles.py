"""Degree-oriented triangle counting over the KG instance graph.

Per-node triangle participation is the classic local-clustering signal
(community detection, spam/bot filtering on conversation graphs), and
the textbook skew trap: enumerating wedges from every node explodes on
hubs (a conversation node touches every turn; a popular tool touches
millions). The fix is Cohen's degree orientation: direct each
undirected edge {a, b} from the smaller to the larger endpoint under
the total order (degree, node), then

    wedge  (a->b, a->c) with b <o c   — enumerated at the LOW end only
    triangle iff the closing edge b->c exists (it is oriented b->c
    because <o is total)

Every triangle is counted exactly once, and the wedge fanout per node
is bounded by its ORIENTED out-degree, which is O(sqrt(|E|)) on any
graph (arboricity bound) — hubs never fan out, they only close
wedges. On the transcript KG the hubs are conversation/tool/entity
nodes; the wedge centers are turn nodes of degree ~5, so the plan is
two hash joins over the edge list, no salting needed BECAUSE of the
orientation.

The DuckDB oracle replays the identical orientation and joins
(string order is byte-lexicographic in both engines — already relied
on by the components min-label oracle), so the per-node counts
hash-match exactly.

No reference counterpart (PREC materializes graphs, it does not
analyze them); built per the brief's graph-analytics mandate alongside
plans/pagerank.py and plans/components.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .components import broadcast_if_fits, broadcast_threshold, graph_ctes


def oriented_edges(iund: DataFrame, bcast=lambda df: df) -> DataFrame:
    """(isrc, idst, ddst): each undirected edge once, low -> high under
    (degree, node id); ddst carries the head's degree for the wedge
    ordering. ``iund`` must be the symmetric distinct integer edge list
    (``cc_encode``); ``bcast`` wraps the node-sized degree sides."""
    deg = iund.groupBy(F.col("isrc").alias("n")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    ds = deg.select(F.col("n").alias("isrc"), F.col("deg").alias("dsrc"))
    dd = deg.select(F.col("n").alias("idst"), F.col("deg").alias("ddst"))
    return (
        iund.join(bcast(ds), "isrc")
        .join(bcast(dd), "idst")
        .filter(
            (F.col("dsrc") < F.col("ddst"))
            | ((F.col("dsrc") == F.col("ddst")) & (F.col("isrc") < F.col("idst")))
        )
        .select("isrc", "idst", "ddst")
    )


def triangle_counts_ids(
    ids: DataFrame,
    iund: DataFrame,
    n_nodes: int | None = None,
    n_und: int | None = None,
) -> DataFrame:
    """(node, n_tri): triangle participation per node, nodes in >= 1
    triangle only, exact, each triangle counted once — over the
    integer-encoded symmetric edge list (``cc_encode``).  The
    wedge/close joins shuffle 8-byte ids instead of IRI/bnode strings
    (the id assignment is order-preserving, so the (degree, node)
    orientation order is bit-identical to the oracle's), and the
    node-sized degree/back-map sides broadcast when they fit the
    session's threshold.  ``n_nodes`` / ``n_und`` are the row counts of
    ``ids`` / ``iund`` when the caller knows them (counted otherwise)."""
    spark = ids.sparkSession
    if n_nodes is None:
        n_nodes = ids.count()
    if n_und is None:
        n_und = iund.count()
    # the symmetric distinct edge list orients each undirected edge
    # exactly once, so the oriented list is |iund| / 2 rows — known
    # without materializing it
    n_e = n_und // 2
    bcast = broadcast_if_fits(spark, n_nodes)
    # closing-edge probe as a packed-single-long broadcast semi-join:
    # the wedge frame then never shuffles at all (its (b, c) exchange
    # and the oriented list's re-exchange both disappear).  Valid when
    # the ids pack into 32 bits (dense nids, so n_nodes bounds them)
    # and the packed key set fits the session's broadcast threshold
    # (~24 B/row in a long-keyed hash relation).
    bcast_close = n_nodes < (1 << 31) and 0 < n_e * 24 <= broadcast_threshold(spark)
    # read 2x (wedge + close); lazy so the first action
    # materializes it in the same job instead of a blocking barrier
    e = oriented_edges(iund, bcast).localCheckpoint(eager=False)
    # wedge enumeration WITHOUT a self-join: collect each node's
    # oriented out-neighbors (O(sqrt |E|) of them, the arboricity
    # bound) in ONE aggregation, then explode the ordered pairs with a
    # higher-order filter — the oriented edge list crosses the network
    # once (grouped) instead of twice (both sides of a self-join), and
    # both sort passes disappear.  Pair sets are identical to the
    # oracle's e1-join-e2 self-join: per center a, every out-neighbor
    # pair ordered by (ddst, idst).
    adj = e.groupBy(F.col("isrc").alias("a")).agg(
        F.collect_list(F.struct("ddst", "idst")).alias("nbs")
    )
    half = adj.select("a", F.explode("nbs").alias("x"), "nbs")
    wedges = half.select(
        "a",
        F.col("x.idst").alias("b"),
        F.explode(
            F.filter(
                "nbs",
                lambda y: (F.col("x.ddst") < y["ddst"])
                | ((F.col("x.ddst") == y["ddst"]) & (F.col("x.idst") < y["idst"])),
            )
        ).alias("y"),
    ).select("a", "b", F.col("y.idst").alias("c"))
    if bcast_close:
        packed_e = e.select(
            (F.col("isrc") * F.lit(1 << 32) + F.col("idst")).alias("bc")
        )
        tri = wedges.join(
            F.broadcast(packed_e),
            wedges["b"] * F.lit(1 << 32) + wedges["c"] == packed_e["bc"],
            "leftsemi",
        )
    else:
        closing = e.select(F.col("isrc").alias("b"), F.col("idst").alias("c"))
        tri = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    # one pass over tri (explode) instead of three union branches that
    # would each re-derive the wedge+close subtree — same corner
    # multiset, identical counts
    corners = tri.select(F.explode(F.array("a", "b", "c")).alias("n"))
    cnt = corners.groupBy("n").agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
    return ids.join(bcast(cnt), ids["nid"] == cnt["n"]).select("node", "n_tri")


def triangles_oracle_sql(triples_sql: str) -> str:
    """The identical orientation + wedge-close in DuckDB SQL."""
    return f"""
WITH {graph_ctes(triples_sql)},
deg AS MATERIALIZED (
  SELECT src AS node, COUNT(*) AS deg FROM und GROUP BY src
),
e AS MATERIALIZED (
  SELECT u.src, u.dst, dd.deg AS ddst
  FROM und u
  JOIN deg ds ON u.src = ds.node
  JOIN deg dd ON u.dst = dd.node
  WHERE ds.deg < dd.deg OR (ds.deg = dd.deg AND u.src < u.dst)
),
tri AS MATERIALIZED (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM e e1
  JOIN e e2 ON e1.src = e2.src
  JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst
  WHERE e1.ddst < e2.ddst OR (e1.ddst = e2.ddst AND e1.dst < e2.dst)
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
) corners
GROUP BY node
"""

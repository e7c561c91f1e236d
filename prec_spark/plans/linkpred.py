"""Link-prediction features over the KG instance graph.

Common-neighbor statistics (CN / Jaccard / resource-allocation) are
the standard candidate-generation features for KG completion and
entity-resolution review queues; at training-data scale computing
them IS the job (10^12-edge graphs), so they belong in the engine
next to the other graph analytics (plans/triangles.py,
plans/components.py).  The reference materializes graphs but does not
analyze them — this is beyond-the-reference surface over the KG it
defines, per the brief's training-pipeline mandate.

Scale shape: enumerating the neighbor pairs of every node is the
wedge blowup (a hub entity adjacent to 10^6 turns would fan out
10^12 pairs).  Resource-allocation theory says exactly those hubs
carry ~zero signal (each contributes 1/deg), so the engine enumerates
wedges ONLY at centers with deg <= DMAX — the classic bounded-CN
semantics (documented, mirrored in the oracle).  Wedge fanout is then
<= DMAX per center, the two joins are plain hash joins, and hubs
appear only as pair ENDPOINTS (one aggregation group each), never as
fanout sources.

Everything is integer fixed-point so the result value-hashes across
engines (see the repo rule: no float sums in gated output):

    ra_nano       = sum over common neighbors z of (10^9 div deg(z))
    jaccard_micro = (10^6 * cn) div (deg(a) + deg(b) - cn)

both pure integer arithmetic, commutative integer sums, identical in
Spark (`div`) and DuckDB (`//`).  ``cn`` counts BOUNDED common
neighbors (deg <= DMAX); the Jaccard denominator uses FULL degrees,
so the score is a lower bound of the unbounded Jaccard — stated here
and in COVERAGE.md.  deg(a) >= cn always (a is adjacent to every
counted z), so the denominator is >= cn >= MIN_CN > 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .components import broadcast_if_fits, graph_ctes

DMAX = 64
MIN_CN = 2


def linkpred_scores_ids(
    ids: DataFrame,
    iund: DataFrame,
    dmax: int = DMAX,
    min_cn: int = MIN_CN,
    n_nodes: int | None = None,
) -> DataFrame:
    """(a, b, cn, deg_a, deg_b, jaccard_micro, ra_nano) for every
    non-adjacent pair a < b with >= ``min_cn`` common neighbors of
    degree <= ``dmax``, over the integer-encoded symmetric edge list
    (``cc_encode``; ``n_nodes`` is the row count of ``ids`` when the
    caller knows it).  The wedge enumeration and its (a, b) aggregation
    shuffle 8-byte ids instead of IRI/bnode strings (the id assignment
    is order-preserving, so the a < b orientation is bit-identical to
    the oracle's), node-sized sides broadcast when they fit, and only
    the final (small) score table maps back to strings."""
    if n_nodes is None:
        n_nodes = ids.count()
    bcast = broadcast_if_fits(ids.sparkSession, n_nodes)
    deg = iund.groupBy(F.col("isrc").alias("n")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    centers = deg.filter(F.col("deg") <= dmax).select(
        F.col("n").alias("isrc"), "deg"
    )
    nbrs = iund.join(bcast(centers), "isrc")
    # wedge enumeration WITHOUT a self-join: collect each capped
    # center's neighbor list (<= dmax elements) in ONE aggregation,
    # then explode the a < b pairs with a higher-order filter — the
    # neighbor frame crosses the network once (grouped), not twice
    # (both sides of a self-join), and both sort passes disappear.
    # Pair sets are identical to the oracle's n1-join-n2 self-join: for
    # every center z, every unordered neighbor pair {a, b} appears
    # exactly once (neighbors are distinct because ``iund`` is
    # distinct).
    adj = nbrs.groupBy(F.col("isrc").alias("z"), F.col("deg").alias("dz")).agg(
        F.collect_list("idst").alias("nbs")
    )
    half = adj.select("dz", F.explode("nbs").alias("a"), "nbs")
    pairs = half.select(
        "dz",
        "a",
        F.explode(F.filter("nbs", lambda x: x > F.col("a"))).alias("b"),
    )
    scores = (
        pairs.groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cn"),
            F.sum(F.expr("1000000000 div dz")).cast("long").alias("ra_nano"),
        )
        .filter(F.col("cn") >= min_cn)
    )
    scores = scores.join(
        iund,
        (scores["a"] == iund["isrc"]) & (scores["b"] == iund["idst"]),
        "left_anti",
    )
    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("n").alias("b"), F.col("deg").alias("deg_b"))
    scored = (
        scores.join(bcast(da), "a")
        .join(bcast(db), "b")
        .select(
            "a", "b", "cn",
            F.col("deg_a").cast("long").alias("deg_a"),
            F.col("deg_b").cast("long").alias("deg_b"),
            F.expr("(1000000 * cn) div (deg_a + deg_b - cn)")
            .cast("long")
            .alias("jaccard_micro"),
            "ra_nano",
        )
    )
    ia = ids.select(F.col("nid").alias("a"), F.col("node").alias("a_s"))
    ib = ids.select(F.col("nid").alias("b"), F.col("node").alias("b_s"))
    return (
        scored.join(ia, "a")
        .join(ib, "b")
        .select(
            F.col("a_s").alias("a"), F.col("b_s").alias("b"), "cn",
            "deg_a", "deg_b", "jaccard_micro", "ra_nano",
        )
    )


def linkpred_oracle_sql(
    triples_sql: str, dmax: int = DMAX, min_cn: int = MIN_CN
) -> str:
    """The identical bounded-wedge plan in DuckDB SQL (int `//`
    mirrors Spark `div`; CASTs pin DuckDB's HUGEINT sums to BIGINT)."""
    return f"""
WITH {graph_ctes(triples_sql)},
deg AS MATERIALIZED (
  SELECT src AS node, COUNT(*) AS deg FROM und GROUP BY src
),
nbrs AS MATERIALIZED (
  SELECT u.src AS z, u.dst AS nb, d.deg AS dz
  FROM und u JOIN deg d ON d.node = u.src
  WHERE d.deg <= {dmax}
),
sc AS MATERIALIZED (
  SELECT n1.nb AS a, n2.nb AS b,
         CAST(COUNT(*) AS BIGINT) AS cn,
         CAST(SUM(1000000000 // n1.dz) AS BIGINT) AS ra_nano
  FROM nbrs n1 JOIN nbrs n2 ON n1.z = n2.z AND n1.nb < n2.nb
  GROUP BY n1.nb, n2.nb
  HAVING COUNT(*) >= {min_cn}
)
SELECT sc.a, sc.b, sc.cn,
       CAST(da.deg AS BIGINT) AS deg_a,
       CAST(db.deg AS BIGINT) AS deg_b,
       CAST((1000000 * sc.cn) // (da.deg + db.deg - sc.cn) AS BIGINT)
         AS jaccard_micro,
       sc.ra_nano
FROM sc
JOIN deg da ON da.node = sc.a
JOIN deg db ON db.node = sc.b
WHERE NOT EXISTS (
  SELECT 1 FROM und e WHERE e.src = sc.a AND e.dst = sc.b
)
"""

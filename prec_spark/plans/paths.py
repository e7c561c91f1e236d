"""SPARQL-style property-path closure over the KG (``ex:next+``).

The reference's query surface is pattern matching over quads
(/root/reference/src/rdf/quad-star.ts — single-hop patterns joined
conjunctively); SPARQL 1.1 property paths (``p+`` / ``p*``) are the
natural next operator for a triple store: "every turn transitively
AFTER this one", "every resource reachable through mention links".
This module adds a horizon-bounded ``p+`` closure as a first-class
plan:

    path_closure(edges, horizon=H) -> (src, dst, dist)

with ``dist`` the exact minimum hop count (1..H).  The horizon bound
is the scale contract: an unbounded ``+`` over a 10^12-edge graph can
be quadratic in output alone, while "within H hops" keeps the result
proportional to sum-of-reach-sets — the same bounded-horizon contract
as plans/bfs.py.

Algorithm: min-plus ITERATIVE DOUBLING, not one-hop expansion.  Round
k holds every pair with min-distance <= 2^k (any minimal path of
length <= 2^k splits into two halves of length <= 2^(k-1), so joining
the round-(k-1) relation with itself and taking the min covers it).
ceil(log2 H) self-joins replace H edge joins — at H=16 that is 4
shuffles instead of 16, and on a real cluster each round is one
sort-merge self-join on a relation that is itself the output size,
never edge-count x H (locally, once a round's probe shows the relation
under the broadcast threshold, the next self-join broadcasts one side
instead).  Lineage is truncated every round
(localCheckpoint; checkpoint() on a cluster for executor-loss
resilience) and an exact integer fixpoint probe — (pair count,
dist sum) unchanged means composition added nothing — exits early on
graphs shallower than the horizon.

The driver gate runs this over the flagship KG's ``ex:next`` chain
edges; the DuckDB oracle is a CLOSED FORM (turn-index arithmetic over
the transcripts table, dist = turn_idx delta), so the gate checks the
generic doubling plan against an independent derivation, not a
mirrored replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HORIZON = 16

#: estimated bytes per (long, long, long) row in a broadcast hash
#: relation (24 B payload + the overhead components.py assumes)
_PAIR_ROW_BYTES = 56


def path_closure(edges: DataFrame, horizon: int = HORIZON) -> DataFrame:
    """(src, dst, dist) for every pair connected by a directed path of
    <= ``horizon`` edges; ``dist`` is the exact minimum hop count.

    ``edges`` is any (src, dst) relation (duplicates tolerated)."""
    from .components import ROUND_STORAGE, checkpoint_observed, fits_broadcast

    rounds = max(1, (horizon - 1).bit_length())  # ceil(log2 horizon)
    # lazy: the first round's eager checkpoint materializes it in the
    # same job
    r = (
        edges.select("src", "dst", F.lit(1).cast("long").alias("dist"))
        .groupBy("src", "dst")
        .agg(F.min("dist").alias("dist"))
        .localCheckpoint(eager=False, storageLevel=ROUND_STORAGE)
    )
    prev = None
    for _ in range(rounds):
        a, b = r.alias("a"), r.alias("b")
        # once the previous round's probe has sized the relation, a
        # right side under the broadcast threshold is broadcast: the
        # round is then one exchange (the min aggregation) instead of
        # three, whose stages AQE runs as separate jobs
        if prev is not None and fits_broadcast(r.sparkSession, prev[0], _PAIR_ROW_BYTES):
            b = F.broadcast(b)
        comp = (
            a.join(b, F.col("a.dst") == F.col("b.src"))
            .select(
                F.col("a.src").alias("src"),
                F.col("b.dst").alias("dst"),
                (F.col("a.dist") + F.col("b.dist")).alias("dist"),
            )
            .filter(F.col("dist") <= horizon)
        )
        # truncate lineage every round (the frame is referenced twice
        # per round), observing the fixpoint probe in the same execution
        r, probe = checkpoint_observed(
            r.unionAll(comp).groupBy("src", "dst").agg(F.min("dist").alias("dist")),
            pairs=F.count(F.lit(1)),
            dist=F.sum("dist"),
        )
        # exact integer fixpoint: pairs only grow, min-dists only
        # shrink, so (count, sum dist) unchanged <=> the composition
        # step is idempotent and every further round is a no-op
        cur = (probe["pairs"], probe["dist"])
        if cur == prev:
            break
        prev = cur
    return r


def next_path_edges(kg: DataFrame, pred: str) -> DataFrame:
    """The (src, dst) edge relation of one predicate."""
    return kg.filter(F.col("p") == pred).select("s", "o").toDF("src", "dst")


def path_star_oracle_sql(horizon: int = HORIZON) -> str:
    """Closed-form oracle: ``ex:next`` chains turns with consecutive
    turn_idx inside a conversation (plans follow flagship.py's bnode
    naming), so the <=H-hop closure is exactly the pairs with
    0 < idx delta <= H and dist = the delta.  Independent of the
    doubling algorithm by construction."""
    from ..transcripts import transcripts_oracle_sql

    bn = "'_:turn_' || {0}.conv_id || '_' || CAST({0}.turn_idx AS VARCHAR)"
    return f"""
WITH t AS MATERIALIZED ({transcripts_oracle_sql()})
SELECT {bn.format('a')} AS src,
       {bn.format('b')} AS dst,
       CAST(b.turn_idx - a.turn_idx AS BIGINT) AS dist
FROM t a
JOIN t b
  ON b.conv_id = a.conv_id
 AND b.turn_idx > a.turn_idx
 AND b.turn_idx <= a.turn_idx + {horizon}
"""

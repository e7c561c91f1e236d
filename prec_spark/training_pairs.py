"""Turn transcripts + the KG into model-ready training data.

Three operators a dialogue-model pipeline runs after curation, all
deterministic and hash-gated:

* ``context_windows`` — the (context, response) pair extraction: for
  every assistant turn, the concatenation of the previous W turns
  (role-tagged) is the context and the turn's text is the response.
  One per-conversation Window with a bounded rows frame — partitioned
  by conv_id, the pipeline's natural key, so no global ordering
  exists anywhere.

* ``kg_negative_samples`` — corrupted triples for KG-embedding /
  linker training: each positive (turn, mention -> entity) link gets
  K negatives drawn by the portable md5 hash over (link identity,
  sample index), with accidental positives filtered. Deterministic
  negatives make training reproducible and let the oracle enumerate
  the exact same corruption.

* ``entity_cooccur`` — conversation-level co-occurrence lift between
  entities, the signal a linker uses for disambiguation priors. PMI
  needs a log; the integer-exact equivalent is scaled lift:
  ``lift_x1000 = (N * c_xy * 1000) div (c_x * c_y)`` over distinct
  (conversation, entity) incidences — one self-join on conv_id of a
  deduplicated incidence table, hub-safe because the entity dimension
  is tiny and the join key is the conversation.

No reference counterpart; built per the brief's pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .cached import cached_transcripts
from .text.mentions import entity_links, entity_links_oracle_sql
from .transcripts import ENTITIES, transcripts_oracle_sql

#: previous turns included in a context window
CTX_TURNS = 3
#: negatives per positive link
NEG_K = 2


def context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(conv_id, turn_idx, context, response): one training pair per
    assistant turn; context = the previous CTX_TURNS turns, each
    rendered '<role> text', newline-joined ('' when no history)."""
    t = cached_transcripts(spark, sf_dir)
    line = F.concat(F.lit("<"), F.col("role"), F.lit("> "), F.col("text"))
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(-CTX_TURNS, -1)
    )
    return (
        t.withColumn("context", F.array_join(F.collect_list(line).over(w), "\n"))
        .filter(F.col("role") == "assistant")
        .select("conv_id", "turn_idx", "context", F.col("text").alias("response"))
    )


def context_windows_oracle_sql() -> str:
    return f"""
    WITH t AS ({transcripts_oracle_sql()}),
    c AS (
      SELECT conv_id, turn_idx, role, text,
             COALESCE(string_agg('<' || role || '> ' || text, chr(10)) OVER (
               PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN {CTX_TURNS} PRECEDING AND 1 PRECEDING
             ), '') AS context
      FROM t
    )
    SELECT conv_id, turn_idx, context, text AS response
    FROM c WHERE role = 'assistant'
    """


def kg_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(conv_id, turn_idx, mention, entity_id, k, neg_entity_id): K
    deterministic corrupted entities per positive link; corruptions
    that hit the true entity are dropped (so some links carry < K)."""
    pos = entity_links(spark, sf_dir, cached_transcripts(spark, sf_dir)).select(
        "conv_id", "turn_idx", "mention", "entity_id"
    )
    n = len(ENTITIES)
    ks = F.explode(F.sequence(F.lit(1), F.lit(NEG_K))).alias("k")
    neg = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("neg#"), F.col("conv_id"), F.lit("#"),
                        F.col("turn_idx").cast("string"), F.lit("#"),
                        F.col("mention"), F.lit("#"),
                        F.col("k").cast("string"),
                    )
                ),
                1, 8,
            ),
            16, 10,
        ).cast("long") % n
    ).cast("int")
    return (
        pos.select("conv_id", "turn_idx", "mention", "entity_id", ks)
        .withColumn("neg_entity_id", neg)
        .filter(F.col("neg_entity_id") != F.col("entity_id"))
    )


def kg_negative_samples_oracle_sql() -> str:
    n = len(ENTITIES)
    return f"""
    WITH l AS ({entity_links_oracle_sql()}),
    x AS (
      SELECT conv_id, turn_idx, mention, entity_id,
             unnest(range(1, {NEG_K} + 1)) AS k
      FROM l
    )
    SELECT conv_id, turn_idx, mention, entity_id, CAST(k AS INTEGER) AS k,
           CAST(CAST(('0x' || substr(md5(
             'neg#' || conv_id || '#' || CAST(turn_idx AS VARCHAR) || '#'
             || mention || '#' || CAST(k AS VARCHAR)), 1, 8)) AS BIGINT)
             % {n} AS INTEGER) AS neg_entity_id
    FROM x
    WHERE CAST(('0x' || substr(md5(
            'neg#' || conv_id || '#' || CAST(turn_idx AS VARCHAR) || '#'
            || mention || '#' || CAST(k AS VARCHAR)), 1, 8)) AS BIGINT)
          % {n} <> entity_id
    """


def entity_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(e1, e2, c_xy, lift_x1000): conversation-level co-occurrence
    lift between entity surface forms (e1 < e2)."""
    from .cached import shared_frame

    inc = shared_frame(
        spark,
        f"cooccur_inc:{sf_dir}",
        # the session-cached transcripts: the mention regexp then runs
        # over the materialized text column instead of re-deriving the
        # whole transcripts construction per call (measured 1.6 s vs
        # 0.4 s for the links subtree at sf0.1).  The incidence table
        # is cached partitioned by conv_id, which makes the
        # conversation count and the per-conversation adjacency
        # grouping below co-partitioned on conv_id — one exchange at
        # build instead of one per consumer
        lambda: entity_links(spark, sf_dir, cached_transcripts(spark, sf_dir))
        .select("conv_id", "mention")
        .distinct(),
        partition_by=("conv_id",),
    )
    n_convs = inc.select("conv_id").distinct().count()
    cx = inc.groupBy("mention").agg(F.count(F.lit(1)).alias("c"))
    # pair enumeration without a self-join (the same collect_list +
    # ordered-pair explode as plans/linkpred.py): the incidence table
    # crosses the network once, grouped by conversation, instead of
    # twice as the two sides of a conv_id self-join.  Same pair
    # multiset — mentions are distinct within a conversation, so every
    # unordered pair appears exactly once per conversation.
    adj = inc.groupBy("conv_id").agg(F.collect_list("mention").alias("ms"))
    half = adj.select(F.explode("ms").alias("e1"), "ms")
    pairs = (
        half.select(
            "e1", F.explode(F.filter("ms", lambda x: x > F.col("e1"))).alias("e2")
        )
        .groupBy("e1", "e2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
    )
    cx1 = cx.select(F.col("mention").alias("e1"), F.col("c").alias("c_x"))
    cx2 = cx.select(F.col("mention").alias("e2"), F.col("c").alias("c_y"))
    return (
        pairs.join(F.broadcast(cx1), "e1")
        .join(F.broadcast(cx2), "e2")
        .select(
            "e1", "e2", "c_xy",
            F.expr(f"({n_convs} * c_xy * 1000) div (c_x * c_y)")
            .cast("long")
            .alias("lift_x1000"),
        )
    )


def entity_cooccur_oracle_sql() -> str:
    return f"""
    WITH l AS ({entity_links_oracle_sql()}),
    inc AS (SELECT DISTINCT conv_id, mention FROM l),
    n AS (SELECT COUNT(DISTINCT conv_id) AS n_convs FROM inc),
    cx AS (SELECT mention, COUNT(*) AS c FROM inc GROUP BY mention),
    pairs AS (
      SELECT a.mention AS e1, b.mention AS e2,
             CAST(COUNT(*) AS BIGINT) AS c_xy
      FROM inc a JOIN inc b ON a.conv_id = b.conv_id AND a.mention < b.mention
      GROUP BY a.mention, b.mention
    )
    SELECT e1, e2, c_xy,
           CAST((n.n_convs * c_xy * 1000) // (x.c * y.c) AS BIGINT)
             AS lift_x1000
    FROM pairs
    JOIN cx x ON x.mention = e1
    JOIN cx y ON y.mention = e2
    CROSS JOIN n
    """

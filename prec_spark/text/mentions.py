"""Mention detection + entity linking + canonicalization.

These stages have no counterpart in the reference (its "extraction" is
the PG API scan, SURVEY.md §2.7) — they are the transcript-domain
stages required by BASELINE.json `north_star`:

* mention detection — one JVM ``regexp_extract_all`` over the
  compiled dictionary regex (:func:`mentions_expr`); no Python in the
  scan
* entity linking — broadcast join of mentions against the (tiny)
  entity dictionary + a deterministic surface-similarity score
* canonicalization — salted two-phase groupBy merging co-referent
  mentions into canonical entities (hot entities skew: one entity can
  dominate mentions the way one conversation dominates turns)

Every stage has an exact ANSI-SQL oracle because mentions derive
deterministically from the synthetic transcript text.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..transcripts import ENTITIES, transcripts_df, transcripts_oracle_sql

ENTITY_RE = re.compile(r"\b(" + "|".join(map(re.escape, ENTITIES)) + r")\b")

EX = "http://example.org/transcripts/"

#: salt buckets for the canonicalization groupBy (hot-key mitigation)
N_SALTS = 16

#: minimum fuzzy-link similarity to emit a link
MIN_SCORE = 0.5


def mentions_expr(col: str = "text"):
    """All dictionary-entity occurrences per text, in order — as a pure
    JVM expression (``regexp_extract_all`` over the same ``\\b``-guarded
    alternation as ENTITY_RE, which Java and Python regex match
    identically for ASCII words; equivalence pinned in
    tests/test_mentions_expr.py).

    The dictionary regex needs no Python library, so the JVM built-in
    avoids a JVM->Arrow->pandas->JVM round-trip of the full text column
    on every mention pass, and plans carry no ArrowEvalPython nodes."""
    import re as _re

    pat = r"\b(" + "|".join(map(_re.escape, ENTITIES)) + r")\b"
    return F.expr(f"regexp_extract_all({col}, r'{pat}', 1)")


def mentions_df(
    spark: SparkSession, sf_dir: str, transcripts: DataFrame | None = None
) -> DataFrame:
    """(conv_id, turn_idx, mention) — one row per occurrence."""
    t = transcripts if transcripts is not None else transcripts_df(spark, sf_dir)
    return t.select(
        "conv_id",
        "turn_idx",
        F.explode(mentions_expr()).alias("mention"),
    )


def mentions_oracle_sql() -> str:
    # text := ent1 || ' told ' || ent2 || ' about part N in line M.'
    # so the occurrence list is exactly [ent1, ent2].
    return f"""
WITH t AS ({transcripts_oracle_sql()}),
split AS (
  SELECT conv_id, turn_idx,
         trim(split_part(text, ' told ', 1)) AS ent1,
         trim(split_part(split_part(text, ' told ', 2), ' about part ', 1)) AS ent2
  FROM t
)
SELECT conv_id, turn_idx, ent1 AS mention FROM split
UNION ALL
SELECT conv_id, turn_idx, ent2 AS mention FROM split
"""


def entities_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(i, name) for i, name in enumerate(ENTITIES)],
        "entity_id INT, entity_name STRING",
    )


def entity_links(
    spark: SparkSession, sf_dir: str, transcripts: DataFrame | None = None
) -> DataFrame:
    """(conv_id, turn_idx, mention, entity_id, score) — broadcast
    dictionary join; score = normalized surface similarity."""
    m = mentions_df(spark, sf_dir, transcripts)
    e = entities_df(spark)
    joined = m.join(F.broadcast(e), m["mention"] == e["entity_name"], "inner")
    return joined.select(
        "conv_id",
        "turn_idx",
        "mention",
        "entity_id",
        (
            F.length("mention")
            / F.greatest(F.length("mention"), F.length("entity_name"))
        ).cast("double").alias("score"),
    )


def entity_links_oracle_sql() -> str:
    cases = " ".join(f"WHEN '{n}' THEN {i}" for i, n in enumerate(ENTITIES))
    return f"""
WITH m AS ({mentions_oracle_sql()})
SELECT conv_id, turn_idx, mention,
       CASE mention {cases} END AS entity_id,
       CAST(1.0 AS DOUBLE) AS score
FROM m
"""


#: salt replication factor for the non-broadcast blocked dictionary
#: join (spreads a hot first-letter block over FUZZY_SALTS partitions)
FUZZY_SALTS = 8


def fuzzy_links(
    spark: SparkSession,
    sf_dir: str,
    transcripts: DataFrame | None = None,
    broadcast_dict: bool = True,
) -> DataFrame:
    """Fuzzy surface-form entity linking (non-degenerate similarity).

    Surfaces are deterministically perturbed mentions (every third turn
    abbreviates to the 3-char prefix — 'Bid' for 'Biden'), so the
    matcher must actually rank by edit-distance similarity instead of
    relying on dictionary equality. Score = 1 - lev/maxlen; the best
    (score, entity_id) candidate wins per surface occurrence group;
    candidates below MIN_SCORE are dropped (unlinkable).

    Candidate generation is BLOCKED, not a cross product (round-3
    VERDICT item 6): candidates must share the surface's lowercase
    first character (classic first-letter blocking — part of the
    linking SPEC, mirrored in the oracle; it can change winners vs a
    cross product, and on prefix abbreviations that is an accuracy
    win — 'Mar' links to its source 'Marcel', not to edit-distance-
    closer 'Omar') and fall in the length
    window len(entity) in [len(surface)/2, 2*len(surface)], which is
    LOSSLESS for MIN_SCORE = 0.5 (lev >= |len diff| makes any score
    >= 0.5 outside the window impossible). With broadcast_dict the
    block key turns the broadcast join into a hash probe of one
    bucket; with broadcast_dict=False (dictionary too big to
    broadcast) the join shuffles on (block, salt) with the dictionary
    side replicated FUZZY_SALTS ways so a hot first letter still
    spreads across partitions — no BroadcastNestedLoopJoin either way
    (plan-asserted in tests/test_plans.py).
    """
    m = mentions_df(spark, sf_dir, transcripts)
    surfaces = m.withColumn(
        "surface",
        F.when(F.col("turn_idx") % 3 == 0, F.substring("mention", 1, 3)).otherwise(
            F.col("mention")
        ),
    ).groupBy("conv_id", "turn_idx", "surface").agg(
        F.count("*").alias("n_occurrences")
    )
    e = entities_df(spark).withColumn(
        "blk", F.lower(F.substring("entity_name", 1, 1))
    )
    s = surfaces.withColumn("blk", F.lower(F.substring("surface", 1, 1)))
    len_window = (F.length("entity_name") * 2 >= F.length("surface")) & (
        F.length("entity_name") <= F.length("surface") * 2
    )
    if broadcast_dict:
        joined = s.join(F.broadcast(e), "blk").filter(len_window)
    else:
        e_rep = e.withColumn(
            "salt",
            F.explode(F.array(*[F.lit(i) for i in range(FUZZY_SALTS)])),
        )
        s_salted = s.withColumn(
            "salt", F.pmod(F.crc32(F.col("surface")), F.lit(FUZZY_SALTS)).cast("int")
        )
        joined = (
            s_salted.join(e_rep, ["blk", "salt"]).filter(len_window).drop("salt")
        )
    scored = joined.drop("blk").withColumn(
        "score",
        F.round(
            1.0
            - F.levenshtein(F.lower("surface"), F.lower("entity_name"))
            / F.greatest(F.length("surface"), F.length("entity_name")),
            4,
        ),
    )
    w = Window.partitionBy("conv_id", "turn_idx", "surface").orderBy(
        F.col("score").desc(), F.col("entity_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("score") >= MIN_SCORE))
        .select(
            "conv_id", "turn_idx", "surface", "n_occurrences", "entity_id", "score"
        )
    )


def fuzzy_links_oracle_sql() -> str:
    names = ", ".join(f"({i}, '{n}')" for i, n in enumerate(ENTITIES))
    return f"""
WITH m AS ({mentions_oracle_sql()}),
surfaces AS (
  SELECT conv_id, turn_idx,
         CASE WHEN turn_idx % 3 = 0 THEN substr(mention, 1, 3) ELSE mention END AS surface,
         count(*) AS n_occurrences
  FROM m GROUP BY 1, 2, 3
), e(entity_id, entity_name) AS (VALUES {names}),
scored AS (
  SELECT s.*, e.entity_id,
         round(1.0 - levenshtein(lower(s.surface), lower(e.entity_name))
               / greatest(length(s.surface), length(e.entity_name)), 4) AS score
  FROM surfaces s JOIN e
    ON lower(substr(s.surface, 1, 1)) = lower(substr(e.entity_name, 1, 1))
   AND length(e.entity_name) * 2 >= length(s.surface)
   AND length(e.entity_name) <= 2 * length(s.surface)
), ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY conv_id, turn_idx, surface
      ORDER BY score DESC, entity_id ASC) AS rn
  FROM scored
)
SELECT conv_id, turn_idx, surface, n_occurrences, entity_id, score
FROM ranked WHERE rn = 1 AND score >= {MIN_SCORE}
"""


def canonical_entities(
    spark: SparkSession,
    sf_dir: str,
    transcripts: DataFrame | None = None,
    links: DataFrame | None = None,
) -> DataFrame:
    """Merge co-referent mentions into canonical entities.

    ``links`` is an already-computed :func:`entity_links` frame (e.g.
    the pipeline's ``entity_links`` checkpoint); without it the links
    are derived from the transcripts.

    Salted two-phase aggregation: phase 1 groups by (entity_id, salt)
    — the hot entity's mentions spread over N_SALTS reducers — phase 2
    merges the partials. The salt is a function of conv_id ONLY, so
    each conversation lands in exactly one salt bucket and the per-salt
    distinct-conversation counts SUM to the exact global distinct —
    both aggregates are exact in one salted pass, no unsalted second
    scan. Deterministic output; at 100 TB the phase-1 combine happens
    map-side.
    """
    if links is None:
        links = entity_links(spark, sf_dir, transcripts)
    salted = links.withColumn(
        "salt", F.pmod(F.xxhash64("conv_id"), F.lit(N_SALTS))
    )
    partial = salted.groupBy("entity_id", "salt").agg(
        F.count("*").alias("pn"),
        F.countDistinct("conv_id").alias("pc"),  # exact: salt = f(conv_id)
    )
    merged = partial.groupBy("entity_id").agg(
        F.sum("pn").alias("n_mentions"),
        F.sum("pc").alias("n_conversations"),
    )
    e = entities_df(spark)
    return (
        merged.join(F.broadcast(e), "entity_id")
        .select(
            "entity_id",
            F.col("entity_name").alias("canonical_name"),
            "n_mentions",
            "n_conversations",
        )
    )


def canonical_entities_oracle_sql() -> str:
    cases = " ".join(f"WHEN {i} THEN '{n}'" for i, n in enumerate(ENTITIES))
    return f"""
WITH l AS ({entity_links_oracle_sql()})
SELECT entity_id,
       CASE entity_id {cases} END AS canonical_name,
       count(*) AS n_mentions,
       count(DISTINCT conv_id) AS n_conversations
FROM l GROUP BY entity_id
"""


def entity_triples(
    spark: SparkSession,
    sf_dir: str,
    transcripts: DataFrame | None = None,
    links: DataFrame | None = None,
) -> DataFrame:
    """Materialize mention/entity triples.

    From the transcripts, the mention triples are unique BY
    CONSTRUCTION: the per-turn mention array is array_distinct'ed
    before the explode, and (conv_id, turn_idx) is unique in
    transcripts — so the (conv, turn, mention) dedup needs NO shuffle
    at all (it used to be the job's largest exchange). The entity
    typing/name triples come from the tiny distinct-mention dimension —
    the expensive full-triple string dedup never happens.

    ``links`` is an already-computed :func:`entity_links` frame (one
    row per occurrence); it replaces the regex scan of the transcripts
    at the cost of a (conv, turn, mention) dedup over the links."""
    if links is None:
        t = transcripts if transcripts is not None else transcripts_df(spark, sf_dir)
        ments = t.select(
            "conv_id",
            "turn_idx",
            F.explode(F.array_distinct(mentions_expr())).alias("mention"),
        )
        e = entities_df(spark)
        links = ments.join(F.broadcast(e), ments["mention"] == e["entity_name"], "inner")
    else:
        links = links.select("conv_id", "turn_idx", "mention").dropDuplicates()
    turn_bn = F.concat(
        F.lit("_:turn_"), F.col("conv_id"), F.lit("_"), F.col("turn_idx").cast("string")
    )
    ent_bn = F.concat(F.lit("_:entity_"), F.col("mention"))
    a = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"

    mention_t = links.select(
        turn_bn.alias("s"), F.lit(f"<{EX}mentions>").alias("p"), ent_bn.alias("o")
    )
    ents = links.select("mention").distinct()
    typing_t = ents.select(
        ent_bn.alias("s"), F.lit(a).alias("p"), F.lit(f"<{EX}Entity>").alias("o")
    )
    name_t = ents.select(
        ent_bn.alias("s"),
        F.lit(f"<{EX}name>").alias("p"),
        F.concat(F.lit('"'), F.col("mention"), F.lit('"')).alias("o"),
    )
    return mention_t.unionByName(typing_t).unionByName(name_t)


def entity_triples_oracle_sql() -> str:
    a = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
    return f"""
WITH l AS ({entity_links_oracle_sql()})
SELECT DISTINCT s, p, o FROM (
  SELECT '_:turn_' || conv_id || '_' || CAST(turn_idx AS VARCHAR) AS s,
         '<{EX}mentions>' AS p,
         '_:entity_' || mention AS o
  FROM l
  UNION ALL
  SELECT DISTINCT '_:entity_' || mention, '{a}', '<{EX}Entity>' FROM l
  UNION ALL
  SELECT DISTINCT '_:entity_' || mention, '<{EX}name>', '"' || mention || '"' FROM l
) u
"""

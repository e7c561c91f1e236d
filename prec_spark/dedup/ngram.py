"""N-gram Jaccard near-dup detection (no LSH — the exact variant).

The candidate set is generated by the shingle self-join itself; at
100 TB this is the *verification* strategy applied after an LSH
filter, not the first pass. Kept as its own operator for parity with
the suite (and as the ground truth the LSH variants are judged
against in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cached import shared_frame
from .common import SHINGLES_CTE, doc_shingles

THRESHOLD = 0.3


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jaccard) — all pairs with Jaccard >= 0.3."""
    ex = shared_frame(
        spark, f"doc_shingles:{sf_dir}", lambda: doc_shingles(spark, sf_dir),
        columnar=True,
    )
    sizes = ex.groupBy("doc_id").count().withColumnRenamed("count", "n")
    common = (
        ex.alias("x")
        .join(ex.alias("y"), F.col("x.shingle") == F.col("y.shingle"))
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    return (
        common.join(
            sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"),
            "doc_a",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 4),
        )
        .filter(F.col("jaccard") >= THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def dedup_ngram_oracle_sql() -> str:
    return f"""
WITH {SHINGLES_CTE},
common AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS common
  FROM ex x JOIN ex y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2
), sizes AS (
  SELECT doc_id, count(*) AS n FROM ex GROUP BY 1
)
SELECT c.doc_a, c.doc_b,
       round(c.common * 1.0 / (sa.n + sb.n - c.common), 4) AS jaccard
FROM common c
JOIN sizes sa ON c.doc_a = sa.doc_id
JOIN sizes sb ON c.doc_b = sb.doc_id
WHERE round(c.common * 1.0 / (sa.n + sb.n - c.common), 4) >= {THRESHOLD}
"""

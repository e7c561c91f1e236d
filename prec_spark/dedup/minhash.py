"""MinHash + LSH banding near-dup detection.

shingle -> 8 minhash permutations (min of md5(perm || shingle), a
portable deterministic hash family) -> 4 bands of 2 -> docs sharing a
band key are candidates -> candidates verified with true shingle
Jaccard >= threshold.

Scale shape: the band join is an equi-join on a high-selectivity key
(this is the LSH point — no all-pairs product); verification joins
only the candidate set back to shingles. Same algorithm at 100 TB,
with shuffle partitions sized to corpus/bands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cached import shared_frame
from .common import SHINGLES_CTE, doc_shingles

N_PERMS = 8
BAND_SIZE = 2
JACCARD_THRESHOLD = 0.5


def _minhashes(ex: DataFrame) -> DataFrame:
    aggs = [
        F.min(F.md5(F.concat(F.lit(str(p)), F.col("shingle")))).alias(f"h{p}")
        for p in range(N_PERMS)
    ]
    return ex.groupBy("doc_id").agg(*aggs)


def dedup_minhash_pairs(
    spark: SparkSession, sf_dir: str, shingles: DataFrame | None = None
) -> DataFrame:
    """(doc_a, doc_b, jaccard) — verified near-dup pairs.

    `shingles` overrides the documents-table shingling (tests inject
    skewed corpora through it)."""
    ex = (
        shingles.cache()
        if shingles is not None
        else shared_frame(
            spark, f"doc_shingles:{sf_dir}",
            lambda: doc_shingles(spark, sf_dir), columnar=True,
        )
    )
    mh = _minhashes(ex)

    bands = None
    for b in range(N_PERMS // BAND_SIZE):
        cols = [f"h{b * BAND_SIZE + j}" for j in range(BAND_SIZE)]
        part = mh.select(
            "doc_id", F.lit(b).alias("band"), F.concat(*cols).alias("key")
        )
        bands = part if bands is None else bands.unionByName(part)

    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    sizes = ex.groupBy("doc_id").count().withColumnRenamed("count", "n")
    # Verification is driven FROM the candidate set: cand -> doc_a's
    # shingles -> equi-join on (doc_b, shingle). Work is bounded by
    # |candidates| x shingles-per-doc; a hot shingle shared by k docs
    # never creates k^2 rows here (it would in a shingle self-join).
    common = (
        cand.join(ex.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(ex.withColumnRenamed("doc_id", "doc_b"), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    verified = (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 4),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )
    return verified


def dedup_minhash_oracle_sql() -> str:
    mh_cols = ",\n    ".join(
        f"min(md5('{p}' || shingle)) AS h{p}" for p in range(N_PERMS)
    )
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, h{b * BAND_SIZE} || h{b * BAND_SIZE + 1} AS key FROM mh"
        for b in range(N_PERMS // BAND_SIZE)
    )
    return f"""
WITH {SHINGLES_CTE},
mh AS (
  SELECT doc_id, {mh_cols} FROM ex GROUP BY doc_id
), bands AS (
{band_selects}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
), common AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS common
  FROM ex x JOIN ex y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2
), sizes AS (
  SELECT doc_id, count(*) AS n FROM ex GROUP BY 1
)
SELECT c.doc_a, c.doc_b,
       round(c.common * 1.0 / (sa.n + sb.n - c.common), 4) AS jaccard
FROM common c
JOIN cand USING (doc_a, doc_b)
JOIN sizes sa ON c.doc_a = sa.doc_id
JOIN sizes sb ON c.doc_b = sb.doc_id
WHERE round(c.common * 1.0 / (sa.n + sb.n - c.common), 4) >= {JACCARD_THRESHOLD}
"""

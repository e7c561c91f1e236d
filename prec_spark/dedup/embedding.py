"""Embedding-cosine near-duplicate detection.

Pairs within the same coarse bucket (the `label` column — a cluster
assignment, i.e. the IVF partition) whose cosine similarity crosses a
threshold. Bucketing turns the all-pairs product into per-bucket
products — the same shape an IVF index gives at 100 TB.

Cosine is computed with zip_with + aggregate (sequential fold, JVM
codegen, no UDF); scores rounded to 4 dp so the DuckDB oracle's
list_inner_product matches bit-for-bit after rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import ensure_parallelism, load_table

# Calibrated to the synthetic embeddings tables: same-bucket cosine
# maxes out near 0.51 there, so a production-style 0.95 threshold made
# the oracle gate vacuous (0 rows vs 0 rows). 0.35 yields a non-empty
# verified set at every SF (14 / 26 / 391 pairs at sf0.001/0.01/0.1)
# so the cosine + bucketing logic is actually exercised.
THRESHOLD = 0.35


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the per-vector double math below is CPU-dense and the sandbox
    # parquet is one unsplittable row group — parallelize the scan
    e = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.select(
        "vec_id", "label", v.alias("v"), norm_col(v).alias("nrm")
    )


def cached_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The normalized embeddings table, cached once per session — the
    shared front of embedding_neardup and all three ANN variants
    (before round 5 each call re-derived and some re-CACHED it,
    leaking an entry per bench rep)."""
    from ..cached import shared_frame

    return shared_frame(
        spark, f"vectors:{sf_dir}", lambda: _vectors(spark, sf_dir)
    )


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_a, vec_b, cosine) — same-bucket pairs with cosine >= THRESHOLD."""
    vecs = cached_vectors(spark, sf_dir)
    a, b = vecs.alias("a"), vecs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    cosine = F.round(
        dot_col(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")), 4
    )
    return (
        pairs.select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cosine.alias("cosine"),
        )
        .filter(F.col("cosine") >= THRESHOLD)
    )


def embedding_neardup_oracle_sql() -> str:
    return f"""
WITH v AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
         sqrt(list_inner_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                 list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_inner_product(a.emb, b.emb) / (a.nrm * b.nrm), 4) AS cosine
FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_inner_product(a.emb, b.emb) / (a.nrm * b.nrm), 4) >= {THRESHOLD}
"""

"""ANN search over the `embeddings` table.

* ann_bruteforce — exact cosine top-k for a query subset via a
  broadcast cross join (the baseline / ground truth). The query set is
  small (vec_id % QUERY_MOD == 0), so the join broadcasts the queries
  and the corpus streams once — the correct brute-force shape at scale.
* ann_ivf — the scale path: a REAL coarse quantizer (k-means with
  deterministic md5-ordered seeding + Lloyd iterations, trained
  engine-side) assigns every vector to a cell; each query probes its
  NPROBE nearest cells and scores only those candidates. The identical
  training procedure is unrolled in the DuckDB oracle, so cell
  assignment, probing and scoring are all parity-gated.

Per-iteration centroids are pulled to the driver (K x dim rounded
doubles — bounded metadata, the same pattern Spark MLlib's KMeans
uses) and re-broadcast; all averaging/assignment math runs engine-side.
Centroid means are rounded to 6 dp per iteration so Spark's partial
aggregation order and DuckDB's sequential avg agree exactly.

Recall caveat (measured): the synthetic embeddings are structureless —
brute-force top-5 neighbors share the query's `label` only ~10% of the
time (chance level for 10 labels), so no few-probe IVF can reach high
recall HERE. The recall >= 0.9 property is therefore asserted on a
planted clustered corpus (tests/test_ann_recall.py) where IVF's
contract actually applies; this module's oracle gate checks the
implementation, the recall test checks the property.

Cosines rounded to 4 dp for cross-engine float agreement; top-k rank
ties broken deterministically by neighbor id.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..dedup.embedding import _vectors, cached_vectors, dot_col

TOP_K = 5
QUERY_MOD = 50
#: floor for the cell count; the actual count is max(K_CELLS, ceil(sqrt(N)))
#: — the standard IVF heuristic, so cells stay ~sqrt-sized as the corpus
#: grows (computed identically in the DuckDB oracle).
K_CELLS = 10
#: 2 Lloyd passes converge on clustered data (recall@5 >= 0.9 on the
#: planted corpus, tests/test_ann_recall.py) — each extra iteration is
#: a full corpus pass at 100 TB.
KMEANS_ITERS = 2
NPROBE = 2
#: Lloyd training sample bound: min(N, SAMPLE_PER_CELL * k_cells)
#: vectors (deterministic md5-order prefix, oracle-mirrored)
SAMPLE_PER_CELL = 256


def _k_cells(n: int) -> int:
    return max(K_CELLS, math.isqrt(max(n - 1, 0)) + 1 if n > 1 else 1)


def _queries(vecs: DataFrame) -> DataFrame:
    return vecs.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("qnrm"),
    )


def _topk(scored: DataFrame) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, rank, cosine) — exact top-5, self excluded."""
    vecs = cached_vectors(spark, sf_dir).withColumnRenamed("nrm", "qnrm")
    q = _queries(vecs)
    vecs = vecs.withColumnRenamed("qnrm", "nrm")
    scored = (
        vecs.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot_col(F.col("v"), F.col("qv")) / (F.col("nrm") * F.col("qnrm")), 4
            ).alias("cosine"),
        )
    )
    return _topk(scored)


# ------------------------------------------------------------------ IVF

def _d2_expr(v, cent):
    """Assignment ordering value: |c|^2 - 2 <v, c> (the |v|^2 term is
    constant per vector, so the argmin is unchanged; the SAME formula
    is used in the oracle so the ordering doubles are identical)."""
    return dot_col(cent, cent) - F.lit(2.0) * dot_col(v, cent)


def _assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, v, cell) — nearest centroid, ties broken by cell id.

    argmin via min_by over a (d2, k) struct: a partial-aggregating
    hash agg (no window sort-shuffle of the vec x centroid product);
    the payload struct carries v along so no re-join is needed."""
    return (
        vecs.crossJoin(F.broadcast(cents))
        .withColumn("d2", _d2_expr(F.col("v"), F.col("cent")))
        .groupBy("vec_id")
        .agg(F.min_by(F.struct("v", "k"), F.struct("d2", "k")).alias("m"))
        .select("vec_id", F.col("m.v").alias("v"), F.col("m.k").alias("cell"))
    )


def train_kmeans(
    spark: SparkSession, vecs: DataFrame, k_cells: int = K_CELLS
) -> DataFrame:
    """Deterministic k-means: seeds = first k_cells vectors ordered by
    md5(vec_id) (a portable hash both engines compute identically),
    then KMEANS_ITERS Lloyd iterations with per-dimension means rounded
    to 6 dp. Returns (k, cent).

    Training runs on a BOUNDED SAMPLE — the first
    min(N, SAMPLE_PER_CELL x k_cells) vectors in the same deterministic
    md5 order as the seeds (oracle-mirrored) — so a 10^9-vector corpus
    never takes full Lloyd passes; only the single final assignment
    (in ann_ivf) touches every vector. Per-dimension means come from a
    posexplode over the sample + one (cell, dim) hash agg, rebuilt into
    arrays with collect_list — no per-dimension avg column fanout, so
    dim=1536 stays far from codegen's 100-aggregate cliff."""
    # orderBy + limit plans as a parallel TakeOrderedAndProject (each
    # partition keeps its top-K, the driver merges) — NOT a global
    # no-partition Window, which would sort the entire corpus in one
    # task. Same rows, same order as the oracle's row_number CTE.
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sample_n = SAMPLE_PER_CELL * k_cells
    train = (
        vecs.select(
            F.md5(F.col("vec_id").cast("string")).alias("h"), "vec_id", "v"
        )
        .orderBy("h", "vec_id")
        .limit(sample_n)
        # the global limit funnels into one partition; spread the
        # sample back out before the crossJoin-heavy Lloyd iterations
        .repartition(n_parts)
        .cache()
    )
    seed_rows = train.orderBy("h", "vec_id").limit(k_cells).collect()
    seed_rows.sort(key=lambda r: (r.h, r.vec_id))
    cents = {k: list(r.v) for k, r in enumerate(seed_rows)}
    schema = "k INT, cent ARRAY<DOUBLE>"
    # per-iteration centroids go through the driver (K x dim rounded
    # doubles — bounded metadata, the MLlib KMeans pattern; a fully
    # lazy broadcast-join chain was measured SLOWER here: every stage
    # re-ships the whole nested plan as a 2.6 MiB task binary)
    for _ in range(KMEANS_ITERS):
        cdf = spark.createDataFrame(sorted(cents.items()), schema)
        assigned = _assign(train.select("vec_id", "v"), cdf)
        new_rows = (
            assigned.select("cell", F.posexplode("v").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(F.round(F.avg("x"), 6).alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s["m"],
                ).alias("cent")
            )
            .collect()
        )
        for r in new_rows:
            cents[r.cell] = list(r.cent)
        # empty cells keep their previous centroid
    train.unpersist()
    return spark.createDataFrame(sorted(cents.items()), schema)


def ann_ivf(
    spark: SparkSession,
    sf_dir: str,
    vectors: DataFrame | None = None,
    nprobe: int = NPROBE,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF search: train quantizer, assign corpus, probe `nprobe` cells.

    `vectors` overrides the embeddings table (recall tests inject a
    planted clustered corpus through it); `nprobe` overrides the probed
    cell count and `centroids` a pre-trained quantizer (the recall test
    sweeps nprobe over one training — the oracle uses the defaults)."""
    if vectors is not None:
        vecs = vectors.select("vec_id", "v", "nrm").cache()
    else:
        # shared session cache: the corpus (and, below, the trained
        # quantizer) is built once per session — the production "build
        # the IVF index once, serve many queries" shape
        vecs = cached_vectors(spark, sf_dir).select("vec_id", "v", "nrm")
    if centroids is not None:
        cents = centroids
    elif vectors is None:
        from ..cached import shared_frame

        cents = shared_frame(
            spark, f"ivf_centroids:{sf_dir}",
            lambda: train_kmeans(spark, vecs, _k_cells(vecs.count())),
        )
    else:
        cents = train_kmeans(spark, vecs, _k_cells(vecs.count()))

    assigned = _assign(vecs, cents)
    q = _queries(vecs.withColumnRenamed("nrm", "qnrm"))

    wp = Window.partitionBy("query_id").orderBy("d2", "k")
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("d2", _d2_expr(F.col("qv"), F.col("cent")))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", "qnrm", F.col("k").alias("cell"))
    )
    cand = probes.join(assigned, "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    nrms = vecs.select(F.col("vec_id").alias("nid"), F.col("nrm"))
    scored = cand.join(nrms, cand["vec_id"] == nrms["nid"]).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            dot_col(F.col("v"), F.col("qv")) / (F.col("nrm") * F.col("qnrm")), 4
        ).alias("cosine"),
    )
    return _topk(scored)


# ------------------------------------------------------------------ oracles

_V_CTE = """
v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
         sqrt(list_inner_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                 list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
)"""


def ann_bruteforce_oracle_sql() -> str:
    return f"""
WITH {_V_CTE},
q AS (
  SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm
  FROM v WHERE vec_id % {QUERY_MOD} = 0
), scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         round(list_inner_product(v.emb, q.qemb) / (v.nrm * q.qnrm), 4) AS cosine
  FROM v JOIN q ON v.vec_id <> q.query_id
), ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {TOP_K}
"""


def _sql_assign(cent_table: str, out: str) -> str:
    """One Lloyd assignment CTE pair off `cent_table` into `{out}` /
    `{out}c` (new centroids with empty-cell fallback)."""
    return f"""
{out} AS (
  SELECT vec_id, emb, k AS cell FROM (
    SELECT v.vec_id, v.emb, c.k,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_inner_product(c.cent, c.cent)
                      - 2 * list_inner_product(v.emb, c.cent), c.k) AS rn
    FROM tr v CROSS JOIN {cent_table} c) WHERE rn = 1
), {out}m AS (
  SELECT cell AS k, dim, round(avg(emb[dim]), 6) AS m
  FROM {out} CROSS JOIN dims
  GROUP BY cell, dim
), {out}c AS (
  SELECT p.k, coalesce(n.cent, p.cent) AS cent
  FROM {cent_table} p LEFT JOIN (
    SELECT k, array_agg(m ORDER BY dim) AS cent FROM {out}m GROUP BY k
  ) n USING (k)
)"""


def _sql_ivf_blocks() -> str:
    """The IVF oracle CTE blocks (training sample, seed + Lloyd chain,
    final corpus assignment, query set, probe cells) — shared by the
    plain-IVF oracle and the IVF-PQ composition (ann/pq.py)."""
    # chain: c0 = seeds; a_i assigns off the previous centroids; each
    # a_i carries its updated centroid table a_i c
    chain = ""
    prev = "c0"
    for i in range(KMEANS_ITERS):
        chain += "," + _sql_assign(prev, f"a{i}")
        prev = f"a{i}c"
    return f"""dims AS (
  SELECT unnest(range(1, (SELECT max(len(emb)) + 1 FROM v))) AS dim
),
kcount AS (
  -- max(K_CELLS, ceil(sqrt(N))) — the engine's _k_cells heuristic
  SELECT greatest({K_CELLS}, CAST(ceil(sqrt(count(*))) AS INT)) AS kc FROM v
),
tr AS (
  -- the engine's bounded training sample: first SAMPLE_PER_CELL * K
  -- vectors in deterministic md5 order (train_kmeans mirror)
  SELECT vec_id, emb FROM (
    SELECT vec_id, emb,
           row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rs
    FROM v) WHERE rs <= (SELECT {SAMPLE_PER_CELL} * kc FROM kcount)
),
c0 AS (
  SELECT k, cent FROM (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS k,
           emb AS cent
    FROM v) WHERE k < (SELECT kc FROM kcount)
){chain},
final_assign AS (
  SELECT vec_id, k AS cell FROM (
    SELECT v.vec_id, c.k,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_inner_product(c.cent, c.cent)
                      - 2 * list_inner_product(v.emb, c.cent), c.k) AS rn
    FROM v CROSS JOIN {prev} c) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm
  FROM v WHERE vec_id % {QUERY_MOD} = 0
), probes AS (
  SELECT query_id, qemb, qnrm, k AS cell FROM (
    SELECT q.query_id, q.qemb, q.qnrm, c.k,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_inner_product(c.cent, c.cent)
                      - 2 * list_inner_product(q.qemb, c.cent), c.k) AS rn
    FROM q CROSS JOIN {prev} c) WHERE rn <= {NPROBE}
)"""


def ann_ivf_oracle_sql() -> str:
    return f"""
WITH {_V_CTE},
{_sql_ivf_blocks()}, scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round(list_inner_product(v.emb, p.qemb) / (v.nrm * p.qnrm), 4) AS cosine
  FROM probes p
  JOIN final_assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
  JOIN v ON v.vec_id = a.vec_id
), ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {TOP_K}
"""


# ------------------------------------------------------------------ LSH

#: random-hyperplane (sign) LSH: LSH_TABLES independent hash tables of
#: LSH_BITS sign bits each. Hyperplane components are deterministic
#: +-1 values derived from md5("{t}-{j}-{d}") — the same hex string in
#: Python (hashlib), Spark, and DuckDB, so the oracle rebuilds the
#: identical planes without any side channel.
LSH_TABLES = 6
LSH_BITS = 8


def _lsh_plane(t: int, j: int, dim: int) -> list[float]:
    import hashlib

    return [
        1.0
        if hashlib.md5(f"{t}-{j}-{d}".encode()).hexdigest()[0] <= "7"
        else -1.0
        for d in range(dim)
    ]


def lsh_bucket_keys(vecs: DataFrame, dim: int) -> DataFrame:
    """(vec_id, v, nrm, t, key) — one row per vector per hash table.

    key = LSH_BITS sign bits of dot(v, plane) concatenated; the dot is
    the same sequential left-fold in Spark (zip_with + aggregate) and
    DuckDB (list_inner_product), so the bits agree bit-for-bit."""
    entries = []
    for t in range(LSH_TABLES):
        bits = [
            F.when(
                dot_col(
                    F.col("v"),
                    F.array(*[F.lit(s) for s in _lsh_plane(t, j, dim)]),
                )
                >= 0,
                "1",
            ).otherwise("0")
            for j in range(LSH_BITS)
        ]
        entries.append(F.struct(F.lit(t).alias("t"), F.concat(*bits).alias("key")))
    return vecs.select(
        "vec_id", "v", "nrm", F.explode(F.array(*entries)).alias("tk")
    ).select("vec_id", "v", "nrm", F.col("tk.t").alias("t"), F.col("tk.key").alias("key"))


def ann_lsh(
    spark: SparkSession, sf_dir: str, vectors: DataFrame | None = None
) -> DataFrame:
    """(query_id, neighbor_id, rank, cosine) — top-5 among LSH bucket
    mates (any of the LSH_TABLES tables), self excluded.

    The bucket-join scale path the build brief names alongside IVF:
    the corpus is hashed once (LSH_TABLES x N bucket rows), queries
    probe only their own buckets — candidate count is governed by
    bucket occupancy (N / 2^LSH_BITS per table in the random case,
    cluster-mates in the clustered case), never all pairs. Query
    buckets are broadcast; the corpus bucket table streams through one
    equi-join on (table, key)."""
    vecs = vectors if vectors is not None else cached_vectors(spark, sf_dir)
    vecs = vecs.select("vec_id", "v", "nrm")
    head = vecs.select(F.size("v").alias("n")).head()
    dim = head["n"] if head else 0
    if vectors is None:
        # the bucket table feeds BOTH join sides (corpus + queries) and
        # the 128 interpreted hyperplane dots per vector are the
        # expensive part — hash the corpus once per session ("build the
        # LSH index once"), like the IVF centroids
        from ..cached import shared_frame

        buckets = shared_frame(
            spark, f"lsh_buckets:{sf_dir}",
            lambda: lsh_bucket_keys(vecs, dim),
        )
    else:
        buckets = lsh_bucket_keys(vecs, dim)
    qb = (
        buckets.filter(F.col("vec_id") % QUERY_MOD == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
            "t",
            "key",
        )
    )
    cand = (
        buckets.join(F.broadcast(qb), ["t", "key"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            dot_col(F.col("v"), F.col("qv")) / (F.col("nrm") * F.col("qnrm")), 4
        ).alias("cosine"),
    )
    return _topk(scored)


def ann_lsh_oracle_sql() -> str:
    return f"""
WITH {_V_CTE},
dims AS (
  SELECT unnest(range(0, (SELECT max(len(emb)) FROM v))) AS d
),
planes AS (
  SELECT t, j,
         list(CASE WHEN substr(md5(t || '-' || j || '-' || d), 1, 1) <= '7'
                   THEN 1.0 ELSE -1.0 END ORDER BY d) AS pv
  FROM (SELECT unnest(range(0, {LSH_TABLES})) AS t)
       CROSS JOIN (SELECT unnest(range(0, {LSH_BITS})) AS j)
       CROSS JOIN dims
  GROUP BY t, j
),
keys AS (
  SELECT v.vec_id, p.t,
         string_agg(CASE WHEN list_inner_product(v.emb, p.pv) >= 0
                         THEN '1' ELSE '0' END, '' ORDER BY p.j) AS key
  FROM v CROSS JOIN planes p
  GROUP BY v.vec_id, p.t
),
qk AS (
  SELECT vec_id AS query_id, t, key FROM keys WHERE vec_id % {QUERY_MOD} = 0
),
cand AS (
  SELECT DISTINCT qk.query_id, k.vec_id AS neighbor_id
  FROM qk JOIN keys k ON k.t = qk.t AND k.key = qk.key
  WHERE k.vec_id <> qk.query_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_inner_product(a.emb, b.emb) / (a.nrm * b.nrm), 4) AS cosine
  FROM cand c
  JOIN v a ON a.vec_id = c.query_id
  JOIN v b ON b.vec_id = c.neighbor_id
), ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {TOP_K}
"""

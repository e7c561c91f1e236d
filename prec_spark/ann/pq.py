"""Product-quantized ANN (ADC) — the memory-compression scale path.

IVF prunes CANDIDATES; product quantization compresses the VECTORS:
each embedding is split into M_SUB contiguous subvectors and every
subvector is replaced by the id of its nearest codeword in a
per-subspace codebook of K_PQ entries (trained with the same
deterministic, sample-bounded k-means as the IVF coarse quantizer,
ann/search.py:train_kmeans). A dim-64 float64 vector (512 B) becomes
M_SUB = 4 uint8 codes (4 B) — the representation that lets a
10^9-vector corpus sit in executor memory. Queries score candidates by
Asymmetric Distance Computation: the query precomputes one K_PQ-entry
dot-product table per subspace, and each candidate's approximate
cosine is M_SUB table lookups — no per-pair float vector math at all.

Cross-engine exactness (the whole result is hash-gated):
* codebooks: train_kmeans means rounded to 6 dp, mirrored by the
  oracle's unrolled Lloyd CTEs per subspace;
* every dot product is a SEQUENTIAL left fold — Spark explicit
  ``((v1*c1 + v2*c2) + ...)`` chains, DuckDB ``list_inner_product`` —
  which agree bit-for-bit;
* the ADC sum over subspaces is the fixed association
  ``((l0 + l1) + l2) + l3`` spelled out identically on both sides;
* code assignment ties break by code id (array_min over (d2, k)
  structs == ``row_number() ORDER BY d2, k``).

Approximation quality is a property of the data (like IVF's recall —
see ann/search.py's recall caveat); the oracle gates the
implementation, and tests/test_ann_pq.py pins the ADC arithmetic
against an independent driver-side reference.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dedup.embedding import cached_vectors
from .search import QUERY_MOD, SAMPLE_PER_CELL, _topk, train_kmeans

M_SUB = 4
K_PQ = 16

#: collected codebooks per (applicationId, cache key):
#: codebooks[s][k] = list of subdim floats
_PQ_CODEBOOKS: dict[tuple[str, str], list[list[list[float]]]] = {}


def _seq_dot(vals: list[float], col: Column, off: int) -> Column:
    """Explicit left-fold dot of vals with col[off+1 .. off+len] —
    the same association order as DuckDB's list_inner_product."""
    expr = F.element_at(col, off + 1) * F.lit(vals[0])
    for i in range(1, len(vals)):
        expr = expr + F.element_at(col, off + i + 1) * F.lit(vals[i])
    return expr


def _c2(vals: list[float]) -> float:
    """Sequential-fold squared norm (matches list_inner_product(c, c))."""
    acc = 0.0
    for x in vals:
        acc += x * x
    return acc


def pq_codebooks(
    spark: SparkSession, vecs: DataFrame, dim: int, cache_key: str | None = None
) -> list[list[list[float]]]:
    """Train (or fetch) the M_SUB per-subspace codebooks. K_PQ x subdim
    rounded doubles per subspace — bounded driver metadata, like the
    IVF centroids.

    All subspaces train in ONE pass over a subspace-tagged tall frame:
    the md5-ordered sample is built once (its order is independent of
    the subspace slice), seeds come from one collect of its first K_PQ
    rows, and each Lloyd iteration is a single assignment + means job
    for every subspace at once — value-identical to M_SUB independent
    ``train_kmeans`` runs (pinned by test_ann_pq), but with 1/M_SUB the
    driver round-trips. The per-subspace procedure remains the oracle's
    spec."""
    if cache_key is not None:
        app = spark.sparkContext.applicationId
        got = _PQ_CODEBOOKS.get((app, cache_key))
        if got is not None:
            return got
    assert dim % M_SUB == 0, f"dim {dim} not divisible by M_SUB={M_SUB}"
    subdim = dim // M_SUB
    from .search import KMEANS_ITERS
    from .search import _d2_expr

    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sample = (
        vecs.select(
            F.md5(F.col("vec_id").cast("string")).alias("h"), "vec_id", "v"
        )
        .orderBy("h", "vec_id")
        .limit(SAMPLE_PER_CELL * K_PQ)
        .repartition(n_parts)
        .cache()
    )
    tall = sample.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice("v", s * subdim + 1, subdim).alias("sv"),
                    )
                    for s in range(M_SUB)
                ]
            )
        ).alias("e"),
    ).select("vec_id", F.col("e.s").alias("s"), F.col("e.sv").alias("sv"))
    seed_rows = sample.orderBy("h", "vec_id").limit(K_PQ).collect()
    seed_rows.sort(key=lambda r: (r.h, r.vec_id))
    books = [
        [list(r.v[s * subdim : (s + 1) * subdim]) for r in seed_rows]
        for s in range(M_SUB)
    ]
    schema = "s INT, k INT, cent ARRAY<DOUBLE>"
    for _ in range(KMEANS_ITERS):
        cdf = spark.createDataFrame(
            [(s, k, c) for s, book in enumerate(books) for k, c in enumerate(book)],
            schema,
        )
        new_rows = (
            tall.join(F.broadcast(cdf), "s")
            .withColumn("d2", _d2_expr(F.col("sv"), F.col("cent")))
            .groupBy("s", "vec_id")
            .agg(F.min_by(F.struct("sv", "k"), F.struct("d2", "k")).alias("m"))
            .select("s", F.col("m.sv").alias("sv"), F.col("m.k").alias("cell"))
            .select("s", "cell", F.posexplode("sv").alias("dim", "x"))
            .groupBy("s", "cell", "dim")
            .agg(F.round(F.avg("x"), 6).alias("m"))
            .groupBy("s", "cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda st: st["m"],
                ).alias("cent")
            )
            .collect()
        )
        for r in new_rows:
            books[r.s][r.cell] = list(r.cent)
        # empty cells keep their previous codeword (train_kmeans rule)
    sample.unpersist()
    if cache_key is not None:
        if any(a != spark.sparkContext.applicationId for (a, _) in _PQ_CODEBOOKS):
            _PQ_CODEBOOKS.clear()
        _PQ_CODEBOOKS[(spark.sparkContext.applicationId, cache_key)] = books
    return books


def pq_encode(
    vecs: DataFrame, books: list[list[list[float]]], dim: int
) -> DataFrame:
    """(vec_id, c0..c{M-1}, n2): per-subspace nearest-codeword ids and
    the reconstruction's squared norm (sum of codeword squared norms).
    This is the PQ index — M_SUB small ints per vector."""
    subdim = dim // M_SUB
    code_cols = []
    for s, book in enumerate(books):
        cands = [
            F.struct(
                (F.lit(_c2(cent)) - F.lit(2.0) * _seq_dot(cent, F.col("v"), s * subdim))
                .alias("d2"),
                F.lit(k).alias("k"),
            )
            for k, cent in enumerate(book)
        ]
        code_cols.append(F.array_min(F.array(*cands))["k"].alias(f"c{s}"))
    coded = vecs.select("vec_id", *code_cols)
    n2 = None
    for s, book in enumerate(books):
        term = F.element_at(
            F.array(*[F.lit(_c2(cent)) for cent in book]), F.col(f"c{s}") + 1
        )
        n2 = term if n2 is None else n2 + term
    return coded.withColumn("n2", n2)


def _pq_parts(
    spark: SparkSession, sf_dir: str, vectors: DataFrame | None
) -> tuple[DataFrame, int, list, DataFrame, DataFrame]:
    """(vecs, dim, books, codes, qdf): the shared PQ machinery —
    codebooks, the code table, and the per-query ADC lookup tables.
    Session-cached on the sf_dir path (codes like the LSH buckets; the
    qdf because its M_SUB*K_PQ*subdim dot expressions dominate
    PLANNING, not execution — the frame is QUERY_MOD-small)."""
    if vectors is not None:
        vecs = vectors.select("vec_id", "v", "nrm")
    else:
        vecs = cached_vectors(spark, sf_dir).select("vec_id", "v", "nrm")
    head = vecs.select(F.size("v").alias("n")).head()
    dim = head["n"] if head else 0
    subdim = dim // M_SUB

    def build_codes() -> DataFrame:
        return pq_encode(vecs, books, dim)

    def build_qdf() -> DataFrame:
        q = vecs.filter(F.col("vec_id") % QUERY_MOD == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
        )
        # per-query ADC tables: t{s}[k+1] = <q_s, book[s][k]>
        tabs = [
            F.array(
                *[_seq_dot(cent, F.col("qv"), s * subdim) for cent in book]
            ).alias(f"t{s}")
            for s, book in enumerate(books)
        ]
        return q.select("query_id", "qnrm", *tabs)

    if vectors is not None:
        books = pq_codebooks(spark, vecs, dim)
        codes, qdf = build_codes(), build_qdf()
    else:
        from ..cached import shared_frame

        books = pq_codebooks(spark, vecs, dim, cache_key=sf_dir)
        codes = shared_frame(spark, f"pq_codes:{sf_dir}", build_codes)
        qdf = shared_frame(spark, f"pq_qtabs:{sf_dir}", build_qdf)
    return vecs, dim, books, codes, qdf


def _adc_score(pairs: DataFrame) -> DataFrame:
    """ADC cosine over a frame carrying codes c0..c{M-1}, n2, the query
    tables t0..t{M-1} and qnrm — M_SUB element_at lookups per pair."""
    adc = None
    for s in range(M_SUB):
        term = F.element_at(F.col(f"t{s}"), F.col(f"c{s}") + 1)
        adc = term if adc is None else adc + term
    return pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(adc / (F.sqrt("n2") * F.col("qnrm")), 4).alias("cosine"),
    )


def ann_pq(
    spark: SparkSession, sf_dir: str, vectors: DataFrame | None = None
) -> DataFrame:
    """(query_id, neighbor_id, rank, cosine) — top-5 by ADC-approximated
    cosine over the PQ codes, self excluded.

    The corpus side of the scoring join carries ONLY (vec_id, codes,
    n2); each query row carries its M_SUB lookup tables (K_PQ doubles
    each) built once from the codebooks. At 10^9 vectors the scored
    frame is the code table — bytes per row, not the vectors — and the
    per-pair work is M_SUB element_at lookups; ann_ivfpq composes the
    IVF cell filter on top for candidate pruning."""
    _vecs, _dim, _books, codes, qdf = _pq_parts(spark, sf_dir, vectors)
    pairs = codes.crossJoin(F.broadcast(qdf)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    return _topk(_adc_score(pairs))


def ann_ivfpq(
    spark: SparkSession, sf_dir: str, vectors: DataFrame | None = None
) -> DataFrame:
    """IVF-PQ — the production large-scale ANN shape (an inverted-file
    index over PQ codes): the IVF coarse quantizer prunes CANDIDATES
    (each query scores only its NPROBE nearest cells) and PQ compresses
    the candidates' REPRESENTATION (ADC table lookups, no vector math).
    At 10^9 vectors the per-query work is nprobe cells x bytes-sized
    codes — the composition both parents are gated for, sharing their
    session caches (one trained coarse quantizer, one code table).

    Exactness contract: same integer/float determinism as ann_pq and
    ann_ivf; the oracle composes both unrolled training chains."""
    from .search import NPROBE, _assign, _d2_expr, _k_cells, train_kmeans

    vecs, dim, books, codes, qdf = _pq_parts(spark, sf_dir, vectors)
    if vectors is not None:
        cents = train_kmeans(spark, vecs, _k_cells(vecs.count()))
        cells = _assign(vecs, cents).select("vec_id", "cell")
    else:
        from ..cached import shared_frame

        cents = shared_frame(
            spark, f"ivf_centroids:{sf_dir}",
            lambda: train_kmeans(spark, vecs, _k_cells(vecs.count())),
        )
        # the inverted file: (vec_id, cell), built once per session
        cells = shared_frame(
            spark, f"ivf_cells:{sf_dir}",
            lambda: _assign(vecs, cents).select("vec_id", "cell"),
        )

    q = vecs.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    from pyspark.sql.window import Window

    wp = Window.partitionBy("query_id").orderBy("d2", "k")
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("d2", _d2_expr(F.col("qv"), F.col("cent")))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= NPROBE)
        .select("query_id", F.col("k").alias("cell"))
        .join(qdf, "query_id")
    )
    # codes and cells co-join on vec_id (both session-cached,
    # N-row frames); the probe set (queries x nprobe, with the ADC
    # tables attached) broadcasts onto the cell filter
    pairs = (
        codes.join(cells, "vec_id")
        .join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    return _topk(_adc_score(pairs))


# ------------------------------------------------------------------ oracle

def _sub_slice(col: str, s: int) -> str:
    """SQL slice of subspace s (row-wise subdim = len//M_SUB)."""
    return (
        f"list_slice({col}, {s}*(len({col})//{M_SUB}) + 1, "
        f"({s}+1)*(len({col})//{M_SUB}))"
    )


def _sql_pq_train(s: int, sample: str = "tr") -> str:
    """Seed + unrolled Lloyd CTEs for subspace ``s`` (mirror of
    train_kmeans over the sliced sample); final centroids land in
    s{s}f. ``sample`` names the md5-ordered training-sample CTE (the
    IVF-PQ composition uses a differently-bounded one)."""
    from .search import KMEANS_ITERS

    p = f"s{s}"
    ctes = [
        f"""{p}tr AS (
  SELECT vec_id, {_sub_slice('emb', s)} AS emb FROM {sample}
)""",
        f"""{p}c0 AS (
  SELECT k, cent FROM (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS k,
           {_sub_slice('emb', s)} AS cent
    FROM v) WHERE k < {K_PQ}
)"""
    ]
    prev = f"{p}c0"
    for i in range(KMEANS_ITERS):
        a = f"{p}a{i}"
        ctes.append(
            f"""{a} AS (
  SELECT vec_id, emb, k AS cell FROM (
    SELECT t.vec_id, t.emb, c.k,
           row_number() OVER (
             PARTITION BY t.vec_id
             ORDER BY list_inner_product(c.cent, c.cent)
                      - 2 * list_inner_product(t.emb, c.cent), c.k) AS rn
    FROM {p}tr t CROSS JOIN {prev} c) WHERE rn = 1
), {a}m AS (
  SELECT cell AS k, dim, round(avg(emb[dim]), 6) AS m
  FROM {a} CROSS JOIN sdims
  GROUP BY cell, dim
), {a}c AS (
  SELECT pc.k, coalesce(n.cent, pc.cent) AS cent
  FROM {prev} pc LEFT JOIN (
    SELECT k, array_agg(m ORDER BY dim) AS cent FROM {a}m GROUP BY k
  ) n USING (k)
)"""
        )
        prev = f"{a}c"
    ctes.append(f"{p}f AS (SELECT k, cent FROM {prev})")
    return ",\n".join(ctes)


def ann_ivfpq_oracle_sql() -> str:
    """IVF blocks (search.py: sample `tr`, Lloyd chain, final_assign,
    probes) + PQ blocks (sample `ptr`, per-subspace chains, codes, qd),
    composed: candidates = probe-cell matches, scored by ADC."""
    from .search import TOP_K, _V_CTE, _sql_ivf_blocks

    train = ",\n".join(_sql_pq_train(s, sample="ptr") for s in range(M_SUB))
    codes = "\nUNION ALL\n".join(
        f"""  SELECT vec_id, {s} AS s, k AS code, list_inner_product(cent, cent) AS c2
  FROM (
    SELECT t.vec_id, c.k, c.cent,
           row_number() OVER (
             PARTITION BY t.vec_id
             ORDER BY list_inner_product(c.cent, c.cent)
                      - 2 * list_inner_product({_sub_slice('t.emb', s)}, c.cent),
                      c.k) AS rn
    FROM v t CROSS JOIN s{s}f c) WHERE rn = 1"""
        for s in range(M_SUB)
    )
    qd = "\nUNION ALL\n".join(
        f"""  SELECT query_id, qnrm, {s} AS s, c.k,
         list_inner_product({_sub_slice('qemb', s)}, c.cent) AS qdot
  FROM q CROSS JOIN s{s}f c"""
        for s in range(M_SUB)
    )
    qsum = "((q0 + q1) + q2) + q3"
    nsum = "((n0 + n1) + n2) + n3"
    wide_cols = ",\n         ".join(
        f"max(CASE WHEN s = {s} THEN qdot END) AS q{s},"
        f" max(CASE WHEN s = {s} THEN c2 END) AS n{s}"
        for s in range(M_SUB)
    )
    return f"""
WITH {_V_CTE},
{_sql_ivf_blocks()},
sdims AS (
  SELECT unnest(range(1, (SELECT max(len(emb))//{M_SUB} + 1 FROM v))) AS dim
),
ptr AS (
  SELECT vec_id, emb FROM (
    SELECT vec_id, emb,
           row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rs
    FROM v) WHERE rs <= {SAMPLE_PER_CELL * K_PQ}
),
{train},
codes AS (
{codes}
),
qd AS (
{qd}
),
cand AS (
  SELECT DISTINCT p.query_id, fa.vec_id
  FROM probes p JOIN final_assign fa ON fa.cell = p.cell
  WHERE fa.vec_id <> p.query_id
),
pairs AS (
  SELECT qd.query_id, qd.qnrm, c.vec_id, c.s, qd.qdot, c.c2
  FROM cand
  JOIN codes c ON c.vec_id = cand.vec_id
  JOIN qd ON qd.query_id = cand.query_id AND qd.s = c.s AND qd.k = c.code
),
wide AS (
  SELECT query_id, qnrm, vec_id,
         {wide_cols}
  FROM pairs GROUP BY query_id, qnrm, vec_id
),
scored AS (
  SELECT query_id, vec_id AS neighbor_id,
         round(({qsum}) / (sqrt({nsum}) * qnrm), 4) AS cosine
  FROM wide
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {TOP_K}
"""


def ann_pq_oracle_sql() -> str:
    from .search import TOP_K, _V_CTE

    train = ",\n".join(_sql_pq_train(s) for s in range(M_SUB))
    codes = "\nUNION ALL\n".join(
        f"""  SELECT vec_id, {s} AS s, k AS code, list_inner_product(cent, cent) AS c2
  FROM (
    SELECT t.vec_id, c.k, c.cent,
           row_number() OVER (
             PARTITION BY t.vec_id
             ORDER BY list_inner_product(c.cent, c.cent)
                      - 2 * list_inner_product({_sub_slice('t.emb', s)}, c.cent),
                      c.k) AS rn
    FROM v t CROSS JOIN s{s}f c) WHERE rn = 1"""
        for s in range(M_SUB)
    )
    qd = "\nUNION ALL\n".join(
        f"""  SELECT query_id, qnrm, {s} AS s, c.k,
         list_inner_product({_sub_slice('qemb', s)}, c.cent) AS qdot
  FROM q CROSS JOIN s{s}f c"""
        for s in range(M_SUB)
    )
    qsum = "((q0 + q1) + q2) + q3"
    nsum = "((n0 + n1) + n2) + n3"
    wide_cols = ",\n         ".join(
        f"max(CASE WHEN s = {s} THEN qdot END) AS q{s},"
        f" max(CASE WHEN s = {s} THEN c2 END) AS n{s}"
        for s in range(M_SUB)
    )
    return f"""
WITH {_V_CTE},
sdims AS (
  SELECT unnest(range(1, (SELECT max(len(emb))//{M_SUB} + 1 FROM v))) AS dim
),
tr AS (
  SELECT vec_id, emb FROM (
    SELECT vec_id, emb,
           row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rs
    FROM v) WHERE rs <= {SAMPLE_PER_CELL * K_PQ}
),
{train},
codes AS (
{codes}
),
q AS (
  SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm
  FROM v WHERE vec_id % {QUERY_MOD} = 0
),
qd AS (
{qd}
),
pairs AS (
  SELECT qd.query_id, qd.qnrm, c.vec_id, qd.s, qd.qdot, c.c2
  FROM codes c JOIN qd ON qd.s = c.s AND qd.k = c.code
  WHERE c.vec_id <> qd.query_id
),
wide AS (
  SELECT query_id, qnrm, vec_id,
         {wide_cols}
  FROM pairs GROUP BY query_id, qnrm, vec_id
),
scored AS (
  SELECT query_id, vec_id AS neighbor_id,
         round(({qsum}) / (sqrt({nsum}) * qnrm), 4) AS cosine
  FROM wide
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {TOP_K}
"""

"""SimHash near-dup detection over the 64-bit majority simhash of
prec_spark.text.analysis.fingerprint_df.

* dedup_simhash_groups — identical-fingerprint buckets (one shuffle on
  the 64-bit fingerprint), the exact-collision first cut. 64 bits of
  key entropy keep buckets content-bounded (the round-2 16-bit variant
  saturated: 65,536 possible values ⇒ billions of docs per bucket at
  100 TB).
* dedup_simhash_hamming — banded Hamming-radius grouping, the LSH
  scale path:

  1. collapse docs to DISTINCT fingerprints first (exact duplicates —
     the dominant mass in a crawl — cost one groupBy, not pairs);
  2. band each distinct fingerprint into BANDS = 4 bands of
     BAND_BITS = 16 bits. Any two fingerprints within Hamming distance
     HAMMING_MAX = 3 differ in <= 3 bits spread over 4 bands, so at
     least one band matches (pigeonhole) — the banded equi-join is
     EXACT for the radius. 16-bit band keys give 65,536 values per
     band, so bucket sizes are bounded by the data's true near-dup
     structure, not by the keyspace (the round-2 4-bit bands had 16
     possible keys = an all-pairs join in LSH costume: 1,799 of 5,000
     docs in one bucket, 40 s at sf0.1);
  3. verify candidates by full 64-bit Hamming distance — per DISTINCT
     fingerprint pair, never per doc pair;
  4. emit canonical GROUPS, not the O(N^2) pair list: each doc gets
     canonical_doc_id = min doc_id over every doc whose fingerprint is
     within the radius of its own (radius-0 neighbors — exact fp
     collisions — included via the per-fingerprint representative).

  Output is one row per doc: (doc_id, simhash64, canonical_doc_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..text.analysis import (
    cached_doc_fingerprint,
    doc_fingerprint,
    doc_fingerprint_oracle_sql,
)

BANDS = 4
BAND_BITS = 16
HAMMING_MAX = 3


def _hamming_sql(a: str, b: str, bits: int = BANDS * BAND_BITS) -> str:
    """DuckDB SQL text for the Hamming distance between two
    bit-strings (the oracle mirror of _hamming_col)."""
    return " + ".join(
        f"(CASE WHEN substr({a}, {i}, 1) <> substr({b}, {i}, 1) THEN 1 ELSE 0 END)"
        for i in range(1, bits + 1)
    )


def _hamming_col(a: str, b: str):
    """Spark column: Hamming distance between two equal-length
    bit-strings via split/zip_with (measured 3.5x faster than the
    64-term CASE chain, which exceeds codegen's comfort zone)."""
    return F.size(
        F.filter(
            F.zip_with(
                F.split(F.col(a), ""), F.split(F.col(b), ""), lambda x, y: x != y
            ),
            lambda d: d,
        )
    )


def dedup_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash64, bucket_size, canonical_doc_id)."""
    fp = cached_doc_fingerprint(spark, sf_dir)
    w = Window.partitionBy("simhash64")
    return fp.select(
        "doc_id",
        "simhash64",
        F.count("*").over(w).alias("bucket_size"),
        F.min("doc_id").over(w).alias("canonical_doc_id"),
    )


def dedup_simhash_oracle_sql() -> str:
    return f"""
WITH fp AS ({doc_fingerprint_oracle_sql()})
SELECT doc_id, simhash64,
       count(*) OVER (PARTITION BY simhash64) AS bucket_size,
       min(doc_id) OVER (PARTITION BY simhash64) AS canonical_doc_id
FROM fp
"""


def band_candidates(reps: DataFrame) -> DataFrame:
    """Banded LSH candidate pairs over distinct fingerprints.

    reps: (simhash64, rep_doc). Returns (fa, fa_rep, fb, fb_rep) with
    fa < fb, each pair agreeing on at least one band.

    Banding is a posexplode over one array of band keys — a single
    scan of reps per join side (the 4-branch union form re-ran the
    upstream distinct-fingerprint aggregate 8x)."""
    bands = reps.select(
        "simhash64",
        "rep_doc",
        F.posexplode(
            F.array(
                *[
                    F.substring("simhash64", 1 + b * BAND_BITS, BAND_BITS)
                    for b in range(BANDS)
                ]
            )
        ).alias("band", "key"),
    )
    a, c = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            c,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.simhash64") < F.col("b.simhash64")),
        )
        .select(
            F.col("a.simhash64").alias("fa"),
            F.col("a.rep_doc").alias("fa_rep"),
            F.col("b.simhash64").alias("fb"),
            F.col("b.rep_doc").alias("fb_rep"),
        )
        .distinct()
    )


def _is_cache_backed(df: DataFrame) -> bool:
    try:
        return df.storageLevel.useMemory or df.storageLevel.useDisk
    except Exception:
        return False


def simhash_hamming_groups_df(
    fp: DataFrame,
    materialize: bool | None = None,
    graph: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Core of dedup_simhash_hamming over any (doc_id, simhash64)
    frame; see module docstring for the 4-step shape.

    `materialize` controls checkpoint barriers on the shared
    sub-results (fp projection, reps, verified). Default (None) is
    adaptive: when fp is already cache-backed, the plan stays FULLY
    declarative — recomputing reps/verified from the cache is cheaper
    than the barriers themselves (measured 0.9 s vs 3.8 s warm at
    sf0.1: each localCheckpoint costs ~1 s of materialization +
    scheduler overhead on tiny data, and barriers break whole-stage
    codegen). On an UNCACHED corpus-scale input the barriers are
    right: without them the full fingerprint scan + distinct-fp
    shuffle would re-run once per consumer (2x band join sides + the
    canon join + the final doc join)."""
    if materialize is None:
        materialize = not _is_cache_backed(fp)
    fp = fp.select("doc_id", "simhash64")
    if graph is not None:
        # session-shared (reps, verified) band graph (cache-backed) —
        # the expensive index build is paid once per session and
        # shared with the CC variant
        reps, verified = graph
    else:
        if materialize:
            # barrier: the plan references fp twice (reps path + final
            # join); the fingerprint scan is map-only but reads the
            # whole corpus, so materialize it once (at cluster scale:
            # checkpoint the ~N-row, few-bytes-per-doc fingerprint
            # table, not the corpus)
            fp = fp.localCheckpoint()
        # reps is tiny (distinct fingerprints) and read by both join
        # sides of the band join plus the final canon join
        reps = fp.groupBy("simhash64").agg(F.min("doc_id").alias("rep_doc"))
        if materialize:
            reps = reps.localCheckpoint()
        verified = band_candidates(reps).filter(
            _hamming_col("fa", "fb") <= HAMMING_MAX
        )
        if materialize:
            # verified feeds BOTH directions of the undirected edge
            # union; checkpoint so the band join + verify runs once
            verified = verified.localCheckpoint()
    # undirected neighbor edges between fingerprints, then the min
    # representative over each fingerprint's radius-neighborhood
    edges = verified.select(
        F.col("fa").alias("f"), F.col("fb_rep").alias("nbr_rep")
    ).unionByName(
        verified.select(F.col("fb").alias("f"), F.col("fa_rep").alias("nbr_rep"))
    )
    nbr_min = edges.groupBy("f").agg(F.min("nbr_rep").alias("nbr_rep_min"))
    canon = reps.join(nbr_min, reps["simhash64"] == nbr_min["f"], "left").select(
        "simhash64",
        F.least(
            F.col("rep_doc"), F.coalesce(F.col("nbr_rep_min"), F.col("rep_doc"))
        ).alias("canonical_doc_id"),
    )
    return fp.join(canon, "simhash64").select(
        "doc_id", "simhash64", "canonical_doc_id"
    )


def simhash_cc_groups_df(
    fp: DataFrame,
    max_iters: int = 20,
    graph: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Transitive-closure variant of simhash_hamming_groups_df:
    canonical_doc_id = min doc over the CONNECTED COMPONENT of the
    verified radius-<=3 fingerprint graph, so chains A-B-C with
    d(A,C) > 3 collapse into ONE group (the neighborhood variant gives
    them different canonicals per doc — both semantics are pinned by
    tests/test_simhash_hamming.py).

    Min-label propagation WITH POINTER DOUBLING to fixpoint: each
    round takes the min label over a fingerprint's neighbors, then
    additionally follows one label indirection (label <- min(label,
    label(label))), so rounds needed = O(log diameter) instead of
    O(diameter) — a 2^20-long chain converges within the default
    max_iters. Every label is always some fingerprint's rep_doc, so
    the indirection joins are total (inner). Stops early when no label
    changes (a cheap filter-count on the round's checkpointed frame);
    every round is edge-partitioned shuffles over the
    DISTINCT-fingerprint graph, never per-doc."""
    materialize = not _is_cache_backed(fp)
    fp = fp.select("doc_id", "simhash64")
    if graph is not None:
        reps, verified = graph  # session-shared band graph (see hamming)
    else:
        if materialize:
            fp = fp.localCheckpoint()  # corpus-scan barrier (see hamming)
        # reps and verified are ALWAYS materialized here (unlike the
        # hamming path): the iteration loop reads rep_fp and the edge
        # union every round — without barriers the distinct-fp
        # aggregate and band join would re-run per round
        reps = (
            fp.groupBy("simhash64")
            .agg(F.min("doc_id").alias("rep_doc"))
            .localCheckpoint()
        )
        verified = (
            band_candidates(reps)
            .filter(_hamming_col("fa", "fb") <= HAMMING_MAX)
            .localCheckpoint()
        )
    edges = verified.select(
        F.col("fa").alias("f"), F.col("fb").alias("g")
    ).unionByName(
        verified.select(F.col("fb").alias("f"), F.col("fa").alias("g"))
    )
    # ---- ACTIVE-SET restriction -------------------------------------
    # Only edge endpoints can ever change label (isolated fingerprints
    # keep label = own rep_doc at every round), and near-dup edge
    # endpoints are a small fraction of distinct fingerprints at any
    # corpus scale. The iteration runs over |endpoints| vertices, not
    # |distinct fp| — and the loop frames are repartitioned to the
    # ACTIVE GRAPH's size (1 partition per ~1M endpoints), so per-round
    # shuffle/task fanout tracks the graph, not the corpus.
    active = edges.select(F.col("f").alias("simhash64")).distinct()
    labels0 = (
        reps.join(active, "simhash64")
        .select("simhash64", F.col("rep_doc").alias("label"))
    )
    spark = fp.sparkSession
    n_active = active.count()
    if n_active == 0:
        # no verified near-dup edges: every doc is its own canonical
        return fp.join(reps, "simhash64").select(
            "doc_id", "simhash64", F.col("rep_doc").alias("canonical_doc_id")
        )
    parts = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            (n_active + 999_999) // 1_000_000,
        ),
    )
    edges = edges.repartition(parts, "g").localCheckpoint()
    labels = labels0.repartition(parts, "simhash64").localCheckpoint()
    # doc label -> the fingerprint it represents (for the doubling
    # hop): the min label in a component is always the rep_doc of an
    # ACTIVE vertex of that component, so the active labels suffice
    rep_fp = labels.select(
        F.col("label").alias("mid_doc"), F.col("simhash64").alias("mid_fp")
    )
    for _ in range(max_iters):
        nbr = (
            edges.join(labels, edges["g"] == labels["simhash64"])
            .groupBy("f")
            .agg(F.min("label").alias("nbr_min"))
        )
        stepped = (
            labels.join(nbr, labels["simhash64"] == nbr["f"], "left")
            .select(
                "simhash64",
                F.col("label").alias("old"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
                ).alias("mid"),
            )
        )
        # stepped is deliberately NOT checkpointed: it is read twice
        # below (rows + indirection map), but both reads recompute only
        # one tiny edge-join over already-materialized inputs — cheaper
        # than a second localCheckpoint JOB per round (each barrier is
        # a full job; halving the per-round job count cut the sf0.1
        # wall by ~1.5x)
        mid_lbl = stepped.select(
            F.col("simhash64").alias("ms"), F.col("mid").alias("mlabel")
        )
        new_labels = (
            stepped.join(rep_fp, stepped["mid"] == rep_fp["mid_doc"])
            .join(mid_lbl, F.col("mid_fp") == F.col("ms"))
            .select(
                "simhash64",
                "old",
                F.least(F.col("mid"), F.col("mlabel")).alias("label"),
            )
            .localCheckpoint()  # truncate the per-round lineage
        )
        changed = new_labels.filter(F.col("label") != F.col("old")).count()
        labels = new_labels.select("simhash64", "label")
        if changed == 0:
            break
    else:
        # Exhausting max_iters with labels still moving means the
        # result is NOT the documented transitive closure (a component
        # with diameter > max_iters keeps non-transitive labels) and
        # would silently diverge from the oracle's exact recursive
        # closure — fail loudly instead.
        raise RuntimeError(
            f"simhash_cc_groups_df did not reach a fixpoint in "
            f"{max_iters} iterations ({changed} labels still changing); "
            f"raise max_iters (rounds needed = component diameter)"
        )
    # inactive fingerprints keep their own rep_doc
    labels = reps.join(labels, "simhash64", "left").select(
        "simhash64", F.coalesce("label", "rep_doc").alias("label")
    )
    return fp.join(labels, "simhash64").select(
        "doc_id", "simhash64", F.col("label").alias("canonical_doc_id")
    )


def cached_simhash_graph(spark: SparkSession, sf_dir: str):
    """Session-shared (reps, verified) band graph over the corpus
    fingerprints — the LSH index build (distinct-fp aggregate + band
    self-join + Hamming verify) is paid once per session and shared by
    the hamming and CC variants, like the IVF centroid / LSH bucket
    caches."""
    from ..cached import shared_frame

    fp = cached_doc_fingerprint(spark, sf_dir).select("doc_id", "simhash64")
    reps = shared_frame(
        spark,
        f"simhash_reps:{sf_dir}",
        lambda: fp.groupBy("simhash64").agg(F.min("doc_id").alias("rep_doc")),
    )
    verified = shared_frame(
        spark,
        f"simhash_verified:{sf_dir}",
        lambda: band_candidates(reps).filter(
            _hamming_col("fa", "fb") <= HAMMING_MAX
        ),
    )
    return reps, verified


def dedup_simhash_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash64, canonical_doc_id) — TRANSITIVE near-dup
    groups (connected components of the radius-3 fingerprint graph)."""
    return simhash_cc_groups_df(
        cached_doc_fingerprint(spark, sf_dir),
        graph=cached_simhash_graph(spark, sf_dir),
    )


def dedup_simhash_cc_oracle_sql() -> str:
    """Recursive-CTE reachability closure — exact transitive groups on
    the oracle's (small) distinct-fingerprint graph."""
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT simhash64, rep_doc, {b} AS band,"
        f" substr(simhash64, {1 + b * BAND_BITS}, {BAND_BITS}) AS key FROM reps"
        for b in range(BANDS)
    )
    ham = _hamming_sql("c.fa", "c.fb")
    return f"""
WITH RECURSIVE fp AS ({doc_fingerprint_oracle_sql()}),
reps AS (
  SELECT simhash64, min(doc_id) AS rep_doc FROM fp GROUP BY simhash64
), bands AS (
{band_selects}
), cand AS (
  SELECT DISTINCT a.simhash64 AS fa, b.simhash64 AS fb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.simhash64 < b.simhash64
), verified AS (
  SELECT * FROM cand c WHERE {ham} <= {HAMMING_MAX}
), edges AS (
  SELECT fa AS f, fb AS g FROM verified
  UNION ALL
  SELECT fb AS f, fa AS g FROM verified
), reach(f, r) AS (
  SELECT simhash64, simhash64 FROM reps
  UNION
  SELECT e.f, reach.r FROM edges e JOIN reach ON e.g = reach.f
), canon AS (
  SELECT reach.f AS simhash64, min(r2.rep_doc) AS canonical_doc_id
  FROM reach JOIN reps r2 ON reach.r = r2.simhash64
  GROUP BY reach.f
)
SELECT fp.doc_id, fp.simhash64, canon.canonical_doc_id
FROM fp JOIN canon ON fp.simhash64 = canon.simhash64
"""


def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash64, canonical_doc_id) — canonical near-dup
    groups at Hamming radius 3, found exactly via 4x16-bit LSH bands
    over distinct fingerprints (see module docstring)."""
    return simhash_hamming_groups_df(
        cached_doc_fingerprint(spark, sf_dir),
        graph=cached_simhash_graph(spark, sf_dir),
    )


def dedup_simhash_hamming_oracle_sql() -> str:
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT simhash64, rep_doc, {b} AS band,"
        f" substr(simhash64, {1 + b * BAND_BITS}, {BAND_BITS}) AS key FROM reps"
        for b in range(BANDS)
    )
    ham = _hamming_sql("c.fa", "c.fb")
    return f"""
WITH fp AS ({doc_fingerprint_oracle_sql()}),
reps AS (
  SELECT simhash64, min(doc_id) AS rep_doc FROM fp GROUP BY simhash64
), bands AS (
{band_selects}
), cand AS (
  SELECT DISTINCT a.simhash64 AS fa, a.rep_doc AS fa_rep,
                  b.simhash64 AS fb, b.rep_doc AS fb_rep
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.simhash64 < b.simhash64
), verified AS (
  SELECT * FROM cand c WHERE {ham} <= {HAMMING_MAX}
), edges AS (
  SELECT fa AS f, fb_rep AS nbr_rep FROM verified
  UNION ALL
  SELECT fb AS f, fa_rep AS nbr_rep FROM verified
), nbr_min AS (
  SELECT f, min(nbr_rep) AS nbr_rep_min FROM edges GROUP BY f
), canon AS (
  SELECT r.simhash64,
         least(r.rep_doc, coalesce(n.nbr_rep_min, r.rep_doc)) AS canonical_doc_id
  FROM reps r LEFT JOIN nbr_min n ON r.simhash64 = n.f
)
SELECT fp.doc_id, fp.simhash64, canon.canonical_doc_id
FROM fp JOIN canon ON fp.simhash64 = canon.simhash64
"""


__all__ = [
    "BANDS",
    "BAND_BITS",
    "HAMMING_MAX",
    "band_candidates",
    "dedup_simhash_cc",
    "dedup_simhash_cc_oracle_sql",
    "dedup_simhash_groups",
    "dedup_simhash_hamming",
    "dedup_simhash_hamming_oracle_sql",
    "dedup_simhash_oracle_sql",
    "simhash_cc_groups_df",
    "simhash_hamming_groups_df",
]

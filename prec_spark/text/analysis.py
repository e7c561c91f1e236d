"""Text analytics over the `documents` table: token counting, quality
scoring, language-ID heuristic, document fingerprinting.

Training-data-pipeline operators (no reference counterpart; required
first-class components per the build brief). All JVM-side expressions;
each query has an exact DuckDB oracle. The corpus is single-space
tokenized, so `split(text, ' ')` agrees across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import ensure_parallelism, load_table

STOPWORDS = ["the", "a", "of", "and", "to", "in"]
EN_MARKERS = ["the", "a"]

#: tokens in documents are single-space separated
def _tokens(col="text"):
    return F.split(F.col(col), " ")


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, n_chars, avg_token_len, stopword_ratio,
    quality_score) — length/stopword-based quality scoring."""
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return d.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.round((F.length("text") - n_tokens + 1) / n_tokens, 4).alias("avg_token_len"),
        F.round(n_stop / n_tokens, 4).alias("stopword_ratio"),
        F.round(
            F.least(F.lit(1.0), n_tokens / F.lit(100.0))
            * (1 - n_stop / n_tokens),
            4,
        ).alias("quality_score"),
    )


def text_stats_oracle_sql() -> str:
    stop = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH toks AS (
  SELECT doc_id, text, string_split(text, ' ') AS tokens FROM documents
), st AS (
  SELECT doc_id, text, len(tokens) AS n_tokens,
         len(list_filter(tokens, t -> list_contains([{stop}], t))) AS n_stop
  FROM toks
)
SELECT doc_id,
       n_tokens,
       length(text) AS n_chars,
       round((length(text) - n_tokens + 1) * 1.0 / n_tokens, 4) AS avg_token_len,
       round(n_stop * 1.0 / n_tokens, 4) AS stopword_ratio,
       round(least(1.0, n_tokens / 100.0) * (1 - n_stop * 1.0 / n_tokens), 4)
         AS quality_score
FROM st
"""


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language heuristic: (doc_id, predicted_lang,
    marker_hits). The synthetic corpus is English-ish word soup, so the
    detector mostly answers 'en' — the point is the operator shape."""
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    markers = F.array(*[F.lit(m) for m in EN_MARKERS])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))
    return d.select(
        "doc_id",
        hits.cast("long").alias("marker_hits"),
        F.when(hits > 0, F.lit("en")).otherwise(F.lit("und")).alias("predicted_lang"),
    )


def lang_id_oracle_sql() -> str:
    markers = ", ".join(f"'{m}'" for m in EN_MARKERS)
    return f"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), x -> list_contains([{markers}], x)))
           AS marker_hits
  FROM documents
)
SELECT doc_id, marker_hits,
       CASE WHEN marker_hits > 0 THEN 'en' ELSE 'und' END AS predicted_lang
FROM t
"""


#: hex characters whose nibble has bit {3,2,1,0} set — membership via
#: instr() is the portable Spark/DuckDB way to read a bit out of an
#: md5 hex digest without engine-specific bit operators.
_HEX_BIT_SETS = {3: "89abcdef", 2: "4567cdef", 1: "2367abef", 0: "13579bdf"}

#: (hex position 1..16, bit 3..0) for each of the 64 simhash bits,
#: MSB-first within each nibble. Bit j of simhash64 (1-indexed) comes
#: from _SIM64_LAYOUT[j-1].
_SIM64_LAYOUT = [(i, b) for i in range(1, 17) for b in (3, 2, 1, 0)]


def fingerprint_df(d: DataFrame) -> DataFrame:
    """(doc_id, md5_fp, simhash16, simhash64) over any (doc_id, text)
    frame — exact hash + 16/64-bit majority simhashes.

    simhash64: for each of the first 16 hex positions of each token's
    md5, all 4 nibble bits, majority-voted over the doc's tokens (64
    bits — enough key entropy that 16-bit LSH bands are data-bounded,
    see dedup/simhash.py). simhash16 is its bit-3 (high-bit) slice,
    kept for continuity with the round-1/2 fingerprint.

    Shape: explode + hash-aggregate with map-side combine — the
    shuffle carries (doc_id, 65 longs) partials per doc per partition,
    not the tokenized corpus. Whole-stage-codegen'd end to end
    (measured 1.4x faster than the interpreted higher-order
    aggregate/zip_with form at 32 cores). The input is
    ensure_parallelism'd: the sandbox parquet is one unsplittable row
    group, and the per-token bit extraction is the CPU-dense part.
    """
    d = ensure_parallelism(d)
    tok = d.select("doc_id", F.explode(_tokens()).alias("token")).withColumn(
        "h", F.md5("token")
    )
    aggs = [F.count("*").alias("n")]
    for j, (i, b) in enumerate(_SIM64_LAYOUT, start=1):
        aggs.append(
            F.sum(
                F.when(
                    F.instr(F.lit(_HEX_BIT_SETS[b]), F.substring("h", i, 1)) > 0, 1
                ).otherwise(0)
            ).alias(f"b{j}")
        )
    bits = tok.groupBy("doc_id").agg(*aggs)

    def _maj(j):
        return F.when(F.col(f"b{j}") * 2 > F.col("n"), F.lit("1")).otherwise(
            F.lit("0")
        )

    sim16 = F.concat(*[_maj(j) for j in range(1, 65) if _SIM64_LAYOUT[j - 1][1] == 3])
    sim64 = F.concat(*[_maj(j) for j in range(1, 65)])
    return d.select("doc_id", F.md5("text").alias("md5_fp")).join(
        bits.select("doc_id", sim16.alias("simhash16"), sim64.alias("simhash64")),
        "doc_id",
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, md5_fp, simhash16, simhash64) for the documents table."""
    return fingerprint_df(load_table(spark, sf_dir, "documents"))


def cached_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_fingerprint, cached once per session: the 65-aggregate
    fingerprint shuffle is the shared front of every simhash dedup
    family — three entry-point queries recomputing it per call paid
    ~2 s each warm at sf0.1."""
    from ..cached import shared_frame

    return shared_frame(
        spark, f"doc_fingerprint:{sf_dir}",
        lambda: doc_fingerprint(spark, sf_dir),
    )


def doc_fingerprint_oracle_sql() -> str:
    bit_exprs = ", ".join(
        f"sum(CASE WHEN instr('{_HEX_BIT_SETS[b]}', substr(h, {i}, 1)) > 0"
        f" THEN 1 ELSE 0 END) AS b{j}"
        for j, (i, b) in enumerate(_SIM64_LAYOUT, start=1)
    )
    sim16 = " || ".join(
        f"CASE WHEN b{j} * 2 > n THEN '1' ELSE '0' END"
        for j in range(1, 65)
        if _SIM64_LAYOUT[j - 1][1] == 3
    )
    sim64 = " || ".join(
        f"CASE WHEN b{j} * 2 > n THEN '1' ELSE '0' END" for j in range(1, 65)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h FROM documents
), bits AS (
  SELECT doc_id, count(*) AS n, {bit_exprs} FROM tok GROUP BY doc_id
)
SELECT d.doc_id, md5(d.text) AS md5_fp, {sim16} AS simhash16, {sim64} AS simhash64
FROM documents d JOIN bits ON d.doc_id = bits.doc_id
"""


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency: (token, n_docs, n_occurrences)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens()).alias("token"))
    return tok.groupBy("token").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_occurrences"),
    )


def token_counts_oracle_sql() -> str:
    return """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
)
SELECT token, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
FROM tok GROUP BY token
"""

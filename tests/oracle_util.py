"""Local replica of the driver's Spark-vs-DuckDB comparison."""

import math
import os

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


#: Spark simpleString -> DuckDB type name.  The driver's gate hashes
#: TYPED values (Arrow), so an int32 Spark column vs a BIGINT oracle
#: column fails there even when every value matches — the round-5
#: quality_gopher lesson.  This map makes the local mirror equally
#: sensitive.  Types not listed (structs, maps) are skipped.
_SPARK2DUCK = {
    "bigint": "BIGINT", "long": "BIGINT",
    "int": "INTEGER", "integer": "INTEGER",
    "smallint": "SMALLINT", "tinyint": "TINYINT",
    "double": "DOUBLE", "float": "FLOAT",
    "string": "VARCHAR", "boolean": "BOOLEAN",
    "date": "DATE", "timestamp": "TIMESTAMP", "binary": "BLOB",
}


def _duck_type_for(spark_type: str):
    st = spark_type.lower()
    if st.startswith("array<") and st.endswith(">"):
        inner = _duck_type_for(st[6:-1])
        return None if inner is None else inner + "[]"
    if st.startswith("decimal"):
        return st.upper().replace(" ", "")
    return _SPARK2DUCK.get(st)


def assert_dtypes_match(spark_dtypes, duck_cols, duck_types):
    """Assert Spark column dtypes map onto the oracle's DuckDB types
    (int64<->BIGINT, float64<->DOUBLE, ...), mirroring the driver's
    typed-hash sensitivity."""
    duck_by_col = dict(zip(duck_cols, duck_types))
    bad = []
    for col, spark_type in spark_dtypes:
        expected = _duck_type_for(spark_type)
        actual = str(duck_by_col.get(col, "")).replace(" ", "").upper()
        # DuckDB HUGEINT (int128, e.g. sum(BIGINT)) reaches the
        # driver's pandas bridge as float64 — a Spark DOUBLE is the
        # hash-matching representation, and an int column is NOT
        actual = actual.replace("HUGEINT", "DOUBLE")
        if expected is not None and actual and expected != actual:
            bad.append((col, spark_type, str(duck_by_col[col])))
    assert not bad, (
        "dtype skew vs oracle (spark_col, spark_type, duckdb_type): "
        f"{bad} — the driver's typed hash WILL fail on these even if "
        "values match; cast the Spark side"
    )


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    return v


def _release_storage(spark):
    """Drop per-query storage so 33 gate queries fit one 4 GiB session:
    drop the session-shared frame memos (their localCheckpoint blocks
    are pinned by the registry references and would otherwise
    accumulate across the gate — prec_spark.cached.release_shared),
    clear catalog caches, then force a driver GC so the ContextCleaner
    releases now-unreferenced localCheckpoint / broadcast blocks (they
    are only cleaned after driver garbage collection)."""
    from prec_spark.cached import release_shared

    release_shared()
    spark.catalog.clearCache()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def compare(spark_df, oracle_sql: str, sf_dir: str):
    """Sorted-row comparison (column order normalized by name)."""
    cols = sorted(spark_df.columns)
    spark_rows = sorted(
        tuple(_norm(getattr(r, c)) for c in cols) for r in spark_df.collect()
    )
    _release_storage(spark_df.sparkSession)
    con = duck_con(sf_dir)
    rel = con.sql(oracle_sql)
    duck_cols = list(rel.columns)
    assert sorted(duck_cols) == cols, f"columns differ: {sorted(duck_cols)} vs {cols}"
    assert_dtypes_match(spark_df.dtypes, duck_cols, [str(t) for t in rel.types])
    idx = [duck_cols.index(c) for c in cols]
    duck_rows = sorted(tuple(_norm(row[i]) for i in idx) for row in rel.fetchall())
    assert len(spark_rows) == len(duck_rows), (
        f"row counts differ: spark={len(spark_rows)} duckdb={len(duck_rows)}"
    )
    mismatches = [
        (a, b) for a, b in zip(spark_rows, duck_rows) if a != b
    ]
    assert not mismatches, f"first mismatches: {mismatches[:3]}"


def final_plan(df) -> str:
    """The executed (AQE final) physical plan of ``df`` after running it."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().executedPlan().toString()


def spy_rounds(monkeypatch) -> list:
    """Record every frame an iterate loop checkpoints, in round order."""
    import prec_spark.plans.components as cc

    rounds = []
    observed = cc.checkpoint_observed

    def spy(df, **aggs):
        rounds.append(df)
        return observed(df, **aggs)

    monkeypatch.setattr(cc, "checkpoint_observed", spy)
    return rounds

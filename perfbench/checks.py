"""Output checks: order-independent digests, Spark side and DuckDB side.

A digest is ``(rows, sum of the first 60 bits of md5(row))`` where a
row is its columns cast to text and joined with U+0001.  Both engines
compute it with the same expressions, so a Spark result and its DuckDB
``oracle_sql()`` twin agree exactly when they hold the same rows.
"""

from __future__ import annotations

import os

import duckdb
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spark_digest(df: DataFrame) -> tuple[int, int]:
    """``(rows, digest)`` of ``df``; computing it forces every column."""
    # concat_ws skips NULLs in both engines
    row = F.concat_ws("\u0001", *[F.col(c).cast("string") for c in df.columns])
    h = F.conv(F.substring(F.md5(row), 1, 15), 16, 10).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)).alias("rows"), F.sum(h).alias("digest")).collect()[0]
    return int(r["rows"]), int(r["digest"] or 0)


class Oracle:
    """Expected digests and row counts from DuckDB over the staged input."""

    def __init__(self, in_dir: str, threads: int, tmp_dir: str):
        from prec_spark.entry_queries import oracle_sql

        self.sql = oracle_sql()
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {threads}")
        self.con.execute(f"SET temp_directory = '{tmp_dir}'")
        self.con.execute("SET enable_progress_bar = false")
        path = os.path.join(in_dir, "lineitem.parquet")
        self.con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{path}')")

    def digest(self, query: str) -> tuple[int, int]:
        sql = self.sql[query]
        cols = [r[0] for r in self.con.execute(f"DESCRIBE ({sql})").fetchall()]
        row = f"concat_ws(chr(1), {', '.join(f'CAST({c} AS VARCHAR)' for c in cols)})"
        n, d = self.con.execute(
            f"SELECT count(*), sum(CAST(('0x' || substr(md5({row}), 1, 15)) AS BIGINT)) "
            f"FROM ({sql})"
        ).fetchone()
        return int(n), int(d or 0)

    def count(self, query: str) -> int:
        return int(self.con.execute(f"SELECT count(*) FROM ({self.sql[query]})").fetchone()[0])

    def close(self) -> None:
        self.con.close()

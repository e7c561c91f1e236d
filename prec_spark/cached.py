"""The session-shared frame registry.

Entry points run many times in one session (oracle gate, bench reps);
a bare ``.cache()`` inside one leaks a cached frame per call (round 5:
3 reps of prec0_triples leaked 9, and later queries ran 3-4x slower).
``shared_frame`` memoizes ONE materialized frame per (application, key).

A frame whose build reads another cached or checkpointed frame is built
on an eager ``localCheckpoint`` leaf, so no consumer plan nests another
frame's build (Spark walks and prints the whole nested plan on every SQL
execution and AQE update: 1.30 MB for the pagerank edge frame before the
cut, 1 KB after).  A build over sources only (transcripts, shingles)
nests nothing and is cached directly.  Storage modes:

* **checkpoint** (default): the checkpoint itself, scanned as rows with
  no columnar decode (25-30% faster on the walk corpora at sf0.1), for
  frames with no partitioning contract.
* **columnar** (``columnar=True``): ``.cache()`` over the cut, for
  frames read through narrow projections (checkpoint scans lose column
  pruning).
* **partitioned** (``partition_by=cols``): ``.repartition(n, *cols)
  .cache()`` over the cut, ``n`` = ``spark.sql.shuffle.partitions``; a
  consumer keyed on ``cols`` plans no exchange.  The cut sits BELOW the
  repartition because under AQE a checkpoint reports
  ``UnknownPartitioning`` and the consumers would re-shuffle.

A columnar frame over a cut keeps the checkpoint under its cache (about
twice the storage): ``spark.catalog.clearCache()`` drops only the cache,
and the next call re-caches it.  Checkpoint blocks live at
MEMORY_AND_DISK with no replica, so a lost executor loses them.  In
local mode the only executor is the driver, so that ends the session
anyway; a cluster deployment needs a replicated cache or a reliable
``checkpoint()`` instead.  Each build and reuse is logged at INFO on
``prec_spark.cached`` with its wall time and row count.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)


@dataclass
class _Shared:
    df: DataFrame
    rows: int
    columnar: bool


_REG: dict[tuple[str, str], _Shared] = {}


def shared_frame(
    spark: SparkSession,
    key: str,
    build: Callable[[], DataFrame],
    partition_by: Sequence[str] = (),
    columnar: bool = False,
) -> DataFrame:
    """Return ``build()`` materialized in the storage mode the module
    docstring describes, memoized per (application, key), with its row
    count kept for ``shared_rows``."""
    app = spark.sparkContext.applicationId
    for k in [k for k in _REG if k[0] != app]:
        del _REG[k]  # a stopped session's frames are dead plans
    t0 = time.perf_counter()
    entry = _REG.get((app, key))
    event = "reused"
    if entry is None:
        df, rows = build(), -1
        columnar = columnar or bool(partition_by)
        if not columnar or _reads_materialized(df):
            obs = Observation()
            df = df.observe(obs, F.count(F.lit(1)).alias("rows")).localCheckpoint()
            rows = obs.get["rows"]
        if partition_by:
            parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
            df = df.repartition(parts, *partition_by)
        entry = _REG[(app, key)] = _Shared(df, rows, columnar)
        event = "built"
    if entry.columnar and not entry.df.storageLevel.useMemory:
        # first build, or spark.catalog.clearCache() dropped the cache:
        # (re)populate it
        entry.rows = entry.df.cache().count()
        if event == "reused":
            event = "re-cached"
    _log.info(
        "shared_frame %s: %s, %d rows, %.3f s",
        key, event, entry.rows, time.perf_counter() - t0,
    )
    return entry.df


def _reads_materialized(df: DataFrame) -> bool:
    """True when ``df``'s plan reads a cached or checkpointed frame."""
    leaves = df._jdf.queryExecution().withCachedData().collectLeaves()
    return any(
        leaves.apply(i).nodeName() in ("InMemoryRelation", "LogicalRDD")
        for i in range(leaves.size())
    )


def shared_rows(spark: SparkSession, key: str) -> int:
    """Row count of the shared frame ``key``, recorded at build time
    (no Spark job); the frame must have been built in this session."""
    return _REG[(spark.sparkContext.applicationId, key)].rows


def release_shared() -> None:
    """Drop every shared frame and unpersist its cache, for gate-style
    harnesses that free storage between queries; the checkpoint blocks
    go at the caller's next driver GC (ContextCleaner), and the next
    consumer rebuilds.  Bench and production sessions never call this."""
    for entry in _REG.values():
        if entry.columnar:
            entry.df.unpersist(blocking=True)
    _REG.clear()


def cached_transcripts_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transcripts PG input cached once per session, augmented with
    ``next_idx`` (the NEXT-edge lead) computed once at cache build so
    the PG edge projection needs no per-call window.  The cache keeps
    the window's ``conv_id`` partitioning, so the PG projections, the
    mention grouping and the conversation windows downstream plan no
    exchange.

    ONLY valid for the full, unfiltered table: a caller that filters
    turns (kg_asof) must NOT reuse the precomputed lead — consecutive
    surviving turns differ — so such callers pass the plain frame and
    pg_edges falls back to its window."""
    from pyspark.sql.window import Window

    from .transcripts import transcripts_df

    def build() -> DataFrame:
        w = Window.partitionBy("conv_id").orderBy("turn_idx")
        return transcripts_df(spark, sf_dir).withColumn(
            "next_idx", F.lead("turn_idx").over(w)
        )

    return shared_frame(spark, f"transcripts:{sf_dir}", build, columnar=True)


def cached_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transcripts PG input, cached once per session (driver-gated
    schema — the next_idx helper column is projected away)."""
    return cached_transcripts_aug(spark, sf_dir).drop("next_idx")

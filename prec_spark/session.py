"""SparkSession helpers tuned for the KG-construction pipeline.

Defaults target correctness tests on local[*]; at cluster scale the same
builder is used by spark-submit with its own --conf overrides.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: JVM memory-string suffixes, in bytes (plain numbers are bytes)
_MEM_UNITS = {
    "b": 1,
    "k": 1024, "kb": 1024,
    "m": 1024**2, "mb": 1024**2,
    "g": 1024**3, "gb": 1024**3,
    "t": 1024**4, "tb": 1024**4,
}


def _mem_bytes(mem: str) -> int:
    """Parse a JVM memory string ('4g', '512m', '4096mb', '1073741824')
    to bytes; unparseable values count as large (no small-heap tuning)."""
    m = mem.strip().lower()
    for suffix in sorted(_MEM_UNITS, key=len, reverse=True):
        if m.endswith(suffix):
            digits = m[: -len(suffix)]
            return int(digits) * _MEM_UNITS[suffix] if digits.isdigit() else 2**63
    return int(m) if m.isdigit() else 2**63


def _running_jvm_max_heap() -> int | None:
    """Max heap of an already-launched py4j gateway JVM, if any.

    spark.driver.memory only takes effect at JVM LAUNCH: once any
    SparkContext has started the gateway, later builders inherit that
    heap no matter what they request (stopping the context does not
    stop the JVM). Sizing decisions must therefore use the running
    JVM's Runtime.maxMemory(), not the requested conf string.
    """
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return None
    try:
        return int(gw.jvm.java.lang.Runtime.getRuntime().maxMemory())
    except Exception:
        return None


def build_session(
    app_name: str = "prec-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    * AQE on (runtime coalesce + skew-join splitting — our transcript
      tables have hot conversations, see FIXTURES.md §1).
    * Arrow on (all Python interchange is Arrow-batched; no per-row
      Python anywhere in the pipeline).
    * shuffle partitions default to 2x cores locally; on a real cluster
      the submitter sets this to ~2-3x total executor cores.
    * a 1000-entry generated-code cache (Spark's default is 100):
      kg_components, kg_pagerank and kg_path_star alone generate about
      245 classes, so with the default every later pass of the three
      evicts and recompiles 23-37 of them (which ones varies with the
      eviction order), each a fresh class for the JIT to warm again;
      with 1000 entries a warm pass compiles none.  Static: the first
      session of a JVM fixes it.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * cpus) if master.startswith("local") else 256

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    driver_mem = (extra_conf or {}).get(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    )
    # If the gateway JVM is already up, the requested driver memory is
    # moot — judge the heap we actually have. (Runtime.maxMemory() is
    # slightly under -Xmx; a 4g launch reads ~3.8-4.0 GiB, still small.)
    actual_heap = _running_jvm_max_heap()
    if actual_heap is not None:
        small_heap = actual_heap <= 4 * 1024**3
    else:
        small_heap = _mem_bytes(driver_mem) <= 4 * 1024**3
    if master.startswith("local") and small_heap:
        # single-JVM mode shares one small heap between driver and all
        # executor threads; the default (up to 32 MiB) task page size
        # makes concurrent broadcast/sort stages allocate G1-humongous
        # regions that livelock GC on a <=4 GiB heap (GCLocker retry
        # storms). 1 MiB pages remove that failure mode; bigger heaps
        # keep Spark's adaptive default (large pages sort faster).
        builder = builder.config("spark.buffer.pageSize", "1m")
    else:
        # let the planner pick shuffled-hash join when its size
        # conditions hold (guide-recommended baseline): most of the
        # engine's medium joins are int/bnode equi-joins where skipping
        # both sort passes is a measured ~20% win on the join-heavy
        # query set.  The exception is a small (<=4 GiB) single-JVM
        # heap: a hash build side that misestimates cannot spill the
        # way sort-merge does, and the 100-query gate session OOMed
        # with SHJ enabled — small heaps keep Spark's SMJ default.
        builder = builder.config("spark.sql.join.preferSortMergeJoin", "false")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one of the driver-generated parquet tables."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def ensure_parallelism(df):
    """Repartition df up to the session's default parallelism IF the
    scan cannot split (the sandbox parquet files are single-row-group,
    so every corpus query otherwise runs in ONE task regardless of
    spark.sql.files.maxPartitionBytes). At cluster scale a 100 TB scan
    yields >> defaultParallelism splits and this is a no-op — the
    shuffle only ever happens on inputs small enough for it to be
    trivially cheap. Use on CPU-dense per-doc operators (fingerprints,
    shingles, vector math), not on plain scans."""
    spark = df.sparkSession
    p = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df

"""The session-shared frame registry: frames memoize per (session, key)
in every storage mode, frames built on other shared frames sit on a
checkpoint leaf so no consumer plan carries another frame's build
lineage, and release_shared() lets a
gate-style harness drop them for rebuild-on-demand (the 4 GiB mirror
session relies on this — see OPTIMIZATION_r06.md §15)."""

import pytest
from pyspark.sql import functions as F

from prec_spark.cached import _REG, release_shared, shared_frame, shared_rows
from prec_spark.entry_queries import _kg_cached, _kg_instance_graph, _kg_pr_graph


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_checkpointed_memo_builds_once(spark):
    release_shared()
    calls = []

    def build():
        calls.append(1)
        return spark.range(10).toDF("x")

    a = shared_frame(spark, "test:ckpt-memo", build)
    b = shared_frame(spark, "test:ckpt-memo", build)
    assert a is b
    assert len(calls) == 1
    assert a.count() == 10
    # materialized as a checkpoint: the plan is a leaf RDD scan, not
    # the original Range
    assert "ExistingRDD" in _executed_plan(a)


@pytest.mark.parametrize(
    "mode", [{}, {"columnar": True}, {"partition_by": ("k",)}],
    ids=["checkpoint", "columnar", "partitioned"],
)
def test_memo_builds_once_per_key(spark, mode):
    release_shared()
    calls = []

    def build():
        calls.append(1)
        return spark.range(100).select((F.col("id") % 7).alias("k"), "id")

    a = shared_frame(spark, "test:memo-a", build, **mode)
    b = shared_frame(spark, "test:memo-a", build, **mode)
    c = shared_frame(spark, "test:memo-b", build, **mode)
    assert a is b and c is not a
    assert len(calls) == 2
    # the row count is recorded at build time
    assert shared_rows(spark, "test:memo-a") == a.count() == 100
    release_shared()


def test_cut_only_over_materialized_frames(spark):
    """A build over sources is cached with its plan; a build over a
    shared frame is cut, so its plan no longer shows the source."""
    release_shared()
    src = lambda: spark.range(10).select(F.col("id").alias("k"))  # noqa: E731
    base = shared_frame(spark, "test:src", src, columnar=True)
    top = shared_frame(spark, "test:top", lambda: base.select("k"), partition_by=("k",))
    assert "Range" in _executed_plan(base)
    assert "Range" not in _executed_plan(top)
    release_shared()


def test_recached_after_clear_cache(spark):
    release_shared()
    calls = []

    def build():
        calls.append(1)
        return spark.range(20).select((F.col("id") % 3).alias("k"))

    a = shared_frame(spark, "test:recache", build, partition_by=("k",))
    spark.catalog.clearCache()
    assert not a.storageLevel.useMemory
    b = shared_frame(spark, "test:recache", build, partition_by=("k",))
    assert b is a and b.storageLevel.useMemory
    assert len(calls) == 1 and b.count() == 20
    release_shared()


def test_release_shared_drops_both_registries(spark):
    release_shared()
    calls = []

    def build():
        calls.append(1)
        return spark.range(5).toDF("x")

    a = shared_frame(spark, "test:ckpt-rel", build)
    c = shared_frame(spark, "test:cache-rel", build, columnar=True)
    assert a.count() == 5 and c.count() == 5
    assert len(calls) == 2
    release_shared()
    assert not _REG
    a2 = shared_frame(spark, "test:ckpt-rel", build)
    c2 = shared_frame(spark, "test:cache-rel", build, columnar=True)
    assert a2 is not a and c2 is not c
    assert len(calls) == 4
    # the rebuilt frames are fully usable (fresh checkpoint blocks)
    assert a2.count() == 5 and c2.count() == 5
    release_shared()


def test_release_shared_unpersists_columnar_frames(spark):
    release_shared()

    def cached_names():
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return [i.name() for i in infos]

    shared_frame(
        spark, "test:unpersist",
        lambda: spark.range(50).select((F.col("id") % 5).alias("rel_marker")),
        partition_by=("rel_marker",),
    )
    assert any("rel_marker" in n for n in cached_names())
    release_shared()
    assert not any("rel_marker" in n for n in cached_names())


def test_shared_frames_carry_no_build_lineage(spark, sf_dir):
    """A partitioned frame built on other shared frames (the pagerank
    in-edge frame sits on ids, on the resource edges, on the KG, on the
    transcripts) plans its keyed aggregation with no exchange, and its
    plan describes only its own checkpoint leaf — before the lineage cut
    the edsl plan string alone was about 1.3 MB."""
    release_shared()
    _ids, edsl, _n = _kg_pr_graph(spark, sf_dir)
    _ids, iund, iund_sl = _kg_instance_graph(spark, sf_dir)
    frames = [
        (edsl, "idst"), (_kg_cached(spark, sf_dir), "s"), (iund, "isrc"), (iund_sl, "idst")
    ]
    for df, key in frames:
        plan = _executed_plan(df.groupBy(key).count())
        assert "Exchange" not in plan.split("InMemoryTableScan")[0], plan
        assert len(plan) < 4096, len(plan)
    release_shared()

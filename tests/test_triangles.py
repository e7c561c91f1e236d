"""Degree-oriented triangle counting: exactness on planted graphs,
orientation invariants, oracle parity, and plan shape."""

from pyspark.sql import functions as F

from prec_spark.entry_queries import _kg_triangles, _kg_triples_oracle
from prec_spark.plans.components import cc_encode, cc_graph
from prec_spark.plans.triangles import (
    oriented_edges,
    triangle_counts_ids,
    triangles_oracle_sql,
)

from .conftest import SF_DIR
from .oracle_util import compare


def _graph(spark, pairs):
    """(ids, iund) of the symmetric graph over ``pairs``."""
    e = spark.createDataFrame(pairs, "src string, dst string")
    return cc_encode(*cc_graph(e))


def test_k4_and_chain(spark):
    # K4: 4 triangles, every node in 3; a chain appended to it adds none
    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    chain = [("d", "e"), ("e", "f")]
    out = {
        r.node: r.n_tri
        for r in triangle_counts_ids(*_graph(spark, k4 + chain)).collect()
    }
    assert out == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_hub_star_plus_rim(spark):
    # star hub h with spokes s0..s5 has no triangles until rim edges
    # close consecutive spokes: each rim edge makes exactly one triangle
    spokes = [("h", f"s{i}") for i in range(6)]
    rim = [(f"s{i}", f"s{i+1}") for i in range(5)]
    out = {
        r.node: r.n_tri
        for r in triangle_counts_ids(*_graph(spark, spokes + rim)).collect()
    }
    assert out["h"] == 5
    assert out["s0"] == 1 and out["s5"] == 1
    assert out["s2"] == 2  # interior spoke closes two rim triangles


def test_orientation_is_a_partition(spark):
    """Each undirected edge appears exactly once in the oriented list,
    and always pointing low -> high under (degree, node)."""
    _ids, iund = _graph(spark, [("h", f"s{i}") for i in range(4)] + [("s0", "s1")])
    e = oriented_edges(iund)
    assert e.count() == iund.count() / 2
    deg = iund.groupBy(F.col("isrc").alias("n")).count()
    d = {r.n: r["count"] for r in deg.collect()}
    for r in e.collect():
        assert (d[r.isrc], r.isrc) < (d[r.idst], r.idst)


def test_no_nested_loop_join(spark):
    df = _kg_triangles(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kg_triangles_oracle(spark):
    compare(
        _kg_triangles(spark, SF_DIR),
        triangles_oracle_sql(_kg_triples_oracle()),
        SF_DIR,
    )

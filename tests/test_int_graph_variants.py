"""The integer-space graph algorithms against their reference texts and
their own fallbacks: triangles/kcore/linkpred must match their
``*_oracle_sql`` run in DuckDB over the same 15-edge fixture, and the
broadcast path of components/triangles/pagerank/ppr must match its
shuffle fallback (forced by disabling auto-broadcast)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from prec_spark.plans.components import (
    cc_encode,
    cc_graph,
    cc_iterate,
    selfloop_edges,
)
from prec_spark.plans.kcore import kcore_ids, kcore_oracle_sql
from prec_spark.plans.linkpred import linkpred_oracle_sql, linkpred_scores_ids
from prec_spark.plans.pagerank import (
    pagerank_edges_sl,
    pagerank_ids,
    pagerank_iterate_ids,
    pagerank_oracle_sql,
)
from prec_spark.plans.ppr import ppr_iterate_ids, ppr_oracle_sql
from prec_spark.plans.triangles import triangle_counts_ids, triangles_oracle_sql

# two triangles sharing a node, a chain, and a hub
EDGES = [
    ("a", "b"), ("b", "c"), ("a", "c"),
    ("c", "d"), ("d", "e"), ("c", "e"),
    ("e", "f"), ("f", "g"),
    ("hub", "a"), ("hub", "b"), ("hub", "c"), ("hub", "d"),
    ("hub", "e"), ("hub", "f"), ("hub", "g"),
]
#: the pagerank/ppr graph adds a restart seed inside a cycle
PR_EDGES = EDGES + [("_:entity_x", "a"), ("g", "_:entity_x")]


def _triples_sql(edges):
    """The edges as VALUES (s, p, o) triples for the oracle texts."""
    rows = ", ".join(f"('{s}', '<p>', '{o}')" for s, o in edges)
    return f"SELECT * FROM (VALUES {rows}) AS t(s, p, o)"


@pytest.fixture(scope="module")
def graph(spark):
    und = cc_graph(spark.createDataFrame(EDGES, "src string, dst string"))[0]
    nodes = und.select(F.col("src").alias("node")).distinct()
    ids, iund = cc_encode(und, nodes)
    return und, ids.localCheckpoint(), iund.localCheckpoint()


@pytest.fixture(scope="module")
def pr_graph(spark):
    edges = spark.createDataFrame(PR_EDGES, "src string, dst string").localCheckpoint()
    ids = pagerank_ids(edges).localCheckpoint()
    return ids, pagerank_edges_sl(ids, edges).localCheckpoint()


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _oracle(sql):
    return sorted(duckdb.connect().execute(sql).fetchall())


def _without_broadcast(spark, fn):
    """``fn()`` with auto-broadcast disabled, which forces every size
    guard onto its shuffle fallback."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        return fn()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_triangles_ids_match_oracle(graph):
    _und, ids, iund = graph
    assert _rows(triangle_counts_ids(ids, iund)) == _oracle(
        triangles_oracle_sql(_triples_sql(EDGES))
    )


def test_kcore_ids_match_oracle(graph):
    _und, ids, iund = graph
    assert _rows(kcore_ids(ids, iund, k=2, peels=4)) == _oracle(
        kcore_oracle_sql(_triples_sql(EDGES), k=2, peels=4)
    )


def test_linkpred_ids_match_oracle(graph):
    _und, ids, iund = graph
    assert _rows(linkpred_scores_ids(ids, iund, dmax=4, min_cn=1)) == _oracle(
        linkpred_oracle_sql(_triples_sql(EDGES), dmax=4, min_cn=1)
    )


def test_triangles_broadcast_close_matches_shuffle_close(spark, graph):
    _und, ids, iund = graph
    fast = _rows(triangle_counts_ids(ids, iund))
    slow = _without_broadcast(spark, lambda: _rows(triangle_counts_ids(ids, iund)))
    assert fast == slow == _oracle(triangles_oracle_sql(_triples_sql(EDGES)))


def test_components_broadcast_path_matches_fallback(spark, graph):
    und, ids, iund = graph
    fast = _rows(cc_iterate(und, und.select(F.col("src").alias("node")).distinct()))
    slow = _without_broadcast(
        spark,
        lambda: _rows(
            cc_iterate(und, und.select(F.col("src").alias("node")).distinct())
        ),
    )
    assert fast == slow


@pytest.mark.parametrize(
    "iterate, oracle_sql",
    [(pagerank_iterate_ids, pagerank_oracle_sql), (ppr_iterate_ids, ppr_oracle_sql)],
    ids=["pagerank", "ppr"],
)
def test_rank_broadcast_path_matches_fallback(spark, pr_graph, iterate, oracle_sql):
    """The mass vector is broadcast when it fits; the fallback is a
    plain shuffle join on ``isrc`` with the identical values."""
    ids, edsl = pr_graph

    def run():
        df = iterate(ids, edsl)
        return df._jdf.queryExecution().executedPlan().toString(), _rows(df)

    fast_plan, fast = run()
    slow_plan, slow = _without_broadcast(spark, run)
    assert "BroadcastExchange" in fast_plan
    assert "BroadcastExchange" not in slow_plan
    assert fast == slow == _oracle(oracle_sql(_triples_sql(PR_EDGES)))


def test_selfloop_edges_shape(graph):
    _und, ids, iund = graph
    sl = selfloop_edges(ids, iund)
    n_nodes = ids.count()
    assert sl.count() == iund.count() + n_nodes
    assert sl.filter(F.col("w") == 0).count() == n_nodes

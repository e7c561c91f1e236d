"""Bounded common-neighbor link prediction (plans/linkpred.py)."""

from prec_spark.entry_queries import (
    _kg_linkpred,
    _kg_triples_oracle,
)
from prec_spark.plans.components import cc_encode, cc_graph
from prec_spark.plans.linkpred import linkpred_oracle_sql, linkpred_scores_ids

from .conftest import SF_DIR
from .oracle_util import compare


def _graph(spark, pairs):
    """(ids, iund) of the symmetric graph over ``pairs``."""
    return cc_encode(*cc_graph(spark.createDataFrame(pairs, "src string, dst string")))


def test_square_opposite_corners(spark):
    """4-cycle a-b-c-d-a: the two diagonals are the only predictions;
    Jaccard = 1 (shared both neighbors), RA = 2 * (1e9 // 2)."""
    got = {
        (r.a, r.b): r
        for r in linkpred_scores_ids(
            *_graph(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")])
        ).collect()
    }
    assert set(got) == {("a", "c"), ("b", "d")}
    r = got[("a", "c")]
    assert (r.cn, r.deg_a, r.deg_b) == (2, 2, 2)
    assert r.jaccard_micro == 1_000_000
    assert r.ra_nano == 1_000_000_000


def test_hub_center_is_capped(spark):
    """Wedges are never enumerated at a center above dmax: a star's
    leaves get no pairs when the hub is over the cap, and exactly the
    C(n,2) pairs when it is under it."""
    star = [("h", f"l{i}") for i in range(5)]
    assert (
        linkpred_scores_ids(*_graph(spark, star), dmax=4, min_cn=1).count() == 0
    )
    rows = linkpred_scores_ids(*_graph(spark, star), dmax=5, min_cn=1).collect()
    assert len(rows) == 10
    assert all(r.cn == 1 and r.ra_nano == 1_000_000_000 // 5 for r in rows)


def test_existing_edges_excluded(spark):
    """a-b adjacent with two common neighbors is NOT a prediction;
    the non-adjacent pair with the same neighborhood is."""
    ids, iund = _graph(
        spark,
        [("a", "b"), ("a", "c"), ("b", "c"), ("a", "d"), ("b", "d")],
    )
    got = {(r.a, r.b): r for r in linkpred_scores_ids(ids, iund).collect()}
    assert ("a", "b") not in got
    assert got[("c", "d")].cn == 2


def test_kg_linkpred_oracle(spark):
    compare(
        _kg_linkpred(spark, SF_DIR),
        linkpred_oracle_sql(_kg_triples_oracle()),
        SF_DIR,
    )

"""Personalized PageRank (plans/ppr.py)."""

from prec_spark.entry_queries import _kg_ppr, _kg_triples_oracle
from prec_spark.plans.pagerank import BASE, SCALE, pagerank_edges_sl, pagerank_ids
from prec_spark.plans.ppr import ppr_iterate_ids, ppr_oracle_sql

from .conftest import SF_DIR
from .oracle_util import compare


def _graph(spark, pairs):
    """(ids, edsl): the encoded pagerank/ppr graph over ``pairs``."""
    edges = spark.createDataFrame(pairs, "src string, dst string").localCheckpoint()
    ids = pagerank_ids(edges).localCheckpoint()
    return ids, pagerank_edges_sl(ids, edges)


def test_restart_mass_lands_on_seeds_only(spark):
    """Chain seed -> a -> b: non-seeds start at 0 and receive only
    propagated mass; the seed alone gets the restart BASE."""
    ids, edsl = _graph(
        spark, [("_:entity_x", "a"), ("a", "b")]
    )
    got = {r.node: r.mass for r in ppr_iterate_ids(ids, edsl, iters=1).collect()}
    assert got["_:entity_x"] == BASE                     # restart only
    assert got["a"] == SCALE * 85 // 100                 # seed's push
    assert got["b"] == 0                                 # nothing yet


def test_chain_closed_form(spark):
    """Exact hand-computed masses after 3 iterations on a
    seed -> a -> b -> c chain (out-degree 1 everywhere): the initial
    SCALE pulse travels as a wave (x0.85 per hop) while the restart
    BASE re-seeds a smaller steady stream behind it."""
    ids, edsl = _graph(
        spark,
        [("_:entity_x", "a"), ("a", "b"), ("b", "c")],
    )
    got = {r.node: r.mass for r in ppr_iterate_ids(ids, edsl).collect()}
    assert got == {
        "_:entity_x": BASE,
        "a": BASE * 85 // 100,            # restart stream, 1 hop
        "b": BASE * 85 // 100 * 85 // 100,  # restart stream, 2 hops
        "c": SCALE * 85 // 100 * 85 // 100 * 85 // 100,  # the pulse
    }


def test_unreachable_stays_zero(spark):
    """A component with no seed holds zero mass forever (the whole
    point of personalization vs global PageRank)."""
    ids, edsl = _graph(
        spark,
        [("_:entity_x", "a"), ("u", "v"), ("v", "u")],
    )
    got = {r.node: r.mass for r in ppr_iterate_ids(ids, edsl).collect()}
    assert got["u"] == 0 and got["v"] == 0 and got["a"] > 0


def test_kg_ppr_oracle(spark):
    compare(
        _kg_ppr(spark, SF_DIR),
        ppr_oracle_sql(_kg_triples_oracle()),
        SF_DIR,
    )

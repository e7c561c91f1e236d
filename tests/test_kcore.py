"""k-core peeling: cascade semantics, early exit, non-trivial result."""

from pyspark.sql import functions as F

from prec_spark.entry_queries import _kg_kcore, _kg_triples
from prec_spark.plans.components import cc_encode, cc_graph
from prec_spark.plans.kcore import kcore_ids

from .conftest import SF_DIR


def _graph(spark, pairs):
    """(ids, iund) of the symmetric graph over ``pairs``."""
    return cc_encode(*cc_graph(spark.createDataFrame(pairs, "src string, dst string")))


def test_kcore_cascade(spark):
    """A triangle with a pendant chain: k=2 peels the chain one node
    per round (a cascade), leaving exactly the triangle with degree 2."""
    tri = [("a", "b"), ("b", "c"), ("a", "c")]
    chain = [("c", "d"), ("d", "e"), ("e", "f")]
    g = _graph(spark, tri + chain)
    got = {r.node: r.deg for r in kcore_ids(*g, k=2, peels=4).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}
    # a peel budget too small leaves cascade remnants (the contract)
    one = {r.node for r in kcore_ids(*g, k=2, peels=1).collect()}
    assert one == {"a", "b", "c", "d", "e"}  # only f's neighbor e... f removed, e stays this round


def test_kcore_early_exit_is_exact(spark):
    """Extra peel budget beyond the fixpoint changes nothing."""
    edges = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    g = _graph(spark, edges)
    lo = {(r.node, r.deg) for r in kcore_ids(*g, k=2, peels=2).collect()}
    hi = {(r.node, r.deg) for r in kcore_ids(*g, k=2, peels=50).collect()}
    assert lo == hi


def test_kg_kcore_nontrivial(spark):
    """On the real KG the peel must remove some nodes AND keep some,
    and cascade beyond the first wave."""
    from prec_spark.plans.kcore import K
    from prec_spark.plans.components import instance_edges

    und = cc_graph(instance_edges(_kg_triples(spark, SF_DIR)))[0]
    n_all = und.select("src").distinct().count()
    deg0 = und.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    wave1 = deg0.filter(F.col("d") < K).count()
    survived = _kg_kcore(spark, SF_DIR).count()
    peeled = n_all - survived
    assert 0 < survived < n_all
    assert peeled > wave1  # the cascade actually fired

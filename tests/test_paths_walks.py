"""Property-path closure (ex:next+) and deterministic random walks."""

from pyspark.sql import functions as F

from prec_spark.entry_queries import (
    _kg_path_star,
    _kg_random_walks,
    _kg_triples,
    _kg_triples_oracle,
)
from prec_spark.plans.components import cc_graph
from prec_spark.plans.paths import path_closure, path_star_oracle_sql
from prec_spark.plans.walks import random_walks, walks_oracle_sql

from .conftest import SF_DIR
from .oracle_util import compare, final_plan, spy_rounds


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


# ------------------------------------------------------------ path closure
def test_path_closure_chain(spark):
    """A 5-chain: closure is all (i, j) i<j with dist = j - i."""
    chain = [(f"n{i}", f"n{i+1}") for i in range(5)]
    got = {
        (r.src, r.dst): r.dist for r in path_closure(_edges(spark, chain)).collect()
    }
    want = {
        (f"n{i}", f"n{j}"): j - i for i in range(6) for j in range(i + 1, 6)
    }
    assert got == want


def test_path_closure_broadcasts_sized_rounds(spark, monkeypatch):
    """Once the first round's probe has sized the relation, a round
    under the broadcast threshold broadcasts one side of its self-join:
    its plan keeps one shuffle (the min aggregation), not three."""
    rounds = spy_rounds(monkeypatch)
    chain = [(f"n{i}", f"n{i+1}") for i in range(5)]
    assert path_closure(_edges(spark, chain)).count() == 15
    plan = final_plan(rounds[1])
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_path_closure_horizon_bound(spark):
    """Pairs beyond the horizon are absent; dists stay exact minima."""
    chain = [(f"n{i}", f"n{i+1}") for i in range(10)]
    got = path_closure(_edges(spark, chain), horizon=4)
    assert got.agg(F.max("dist")).collect()[0][0] == 4
    assert got.count() == sum(min(4, 10 - i) for i in range(10))


def test_path_closure_min_dist_on_shortcut(spark):
    """A shortcut edge must win: doubling takes the MIN distance."""
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")]
    got = {(r.src, r.dst): r.dist for r in path_closure(_edges(spark, edges)).collect()}
    assert got[("a", "d")] == 2  # a->c->d, not a->b->c->d
    assert got[("a", "c")] == 1


def test_path_closure_cycle_terminates(spark):
    """A directed cycle: early exit still fires (pairs and min-dists
    saturate), and self-pairs appear with the cycle length."""
    cyc = [("a", "b"), ("b", "c"), ("c", "a")]
    got = {(r.src, r.dst): r.dist for r in path_closure(_edges(spark, cyc)).collect()}
    assert got[("a", "a")] == 3 and got[("a", "c")] == 2


def test_kg_path_star_oracle(spark):
    compare(_kg_path_star(spark, SF_DIR), path_star_oracle_sql(), SF_DIR)


# ------------------------------------------------------------ random walks
def test_walks_shape_and_determinism(spark):
    """Every sampled start yields exactly steps+1 rows; consecutive
    nodes are always graph neighbors; two runs are identical."""
    und = cc_graph(
        _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("b", "d")])
    )[0]
    w1 = random_walks(und, steps=4, sample_mod=1)
    rows = w1.collect()
    assert len(rows) == 4 * 5  # 4 nodes sampled (mod 1), 5 steps each
    nb = {(r.src, r.dst) for r in und.collect()}
    byw = {}
    for r in rows:
        byw.setdefault(r.walk, {})[r.step] = r.node
    for walk, steps in byw.items():
        assert steps[0] == walk
        for k in range(1, 5):
            assert (steps[k - 1], steps[k]) in nb
    w2 = {(r.walk, r.step, r.node) for r in random_walks(und, steps=4, sample_mod=1).collect()}
    assert w2 == {(r.walk, r.step, r.node) for r in rows}


def test_walks_partition_invariance(spark):
    """Hash-seeded choice is independent of physical partitioning."""
    und = cc_graph(
        _edges(spark, [(f"n{i}", f"n{(i * 7 + 1) % 23}") for i in range(23)])
    )[0]
    a = {(r.walk, r.step, r.node) for r in random_walks(und, steps=3, sample_mod=2).collect()}
    b = {
        (r.walk, r.step, r.node)
        for r in random_walks(und.repartition(13), steps=3, sample_mod=2).collect()
    }
    assert a == b and a


def test_kg_random_walks_oracle(spark):
    compare(
        _kg_random_walks(spark, SF_DIR),
        walks_oracle_sql(_kg_triples_oracle()),
        SF_DIR,
    )

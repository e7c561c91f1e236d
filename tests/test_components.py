"""Connected components (plans/components.py): exactness against a
union-find reference, oracle equivalence, loud non-convergence, and
the partitioning invariance that justifies hash-gating it."""

import re

import duckdb
import pytest

from prec_spark.plans.components import (
    SCHEMA_PREDICATES,
    cc_encode,
    cc_graph,
    cc_iterate_ids,
    components,
    components_oracle_sql,
    fits_broadcast,
    instance_edges,
)

from .oracle_util import final_plan, spy_rounds

# two real components: {a,b,c,d} (chain + reification wiring) and
# {x,y}; schema predicates (rdf:type to a shared class hub) and
# literal objects must NOT merge them
_TYPE = SCHEMA_PREDICATES[0].strip("<>")
TRIPLES = [
    ("<a>", "<p1>", "<b>"),
    ("<b>", "<p1>", "<c>"),
    ("<d>", "<p2>", "<c>"),
    ("<x>", "<p1>", "<y>"),
    ("<a>", "<p1>", '"literal value"'),
    ("<a>", f"<{_TYPE}>", "<Class>"),
    ("<x>", f"<{_TYPE}>", "<Class>"),
]


def reference_components(triples):
    """Union-find over the same instance-edge semantics."""
    edges = [
        (s, o)
        for s, p, o in triples
        if not o.startswith('"') and p not in SCHEMA_PREDICATES
    ]
    parent = {}

    def find(v):
        parent.setdefault(v, v)
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for s, o in edges:
        rs, ro = find(s), find(o)
        if rs != ro:
            parent[max(rs, ro)] = min(rs, ro)
    return {v: find(v) for v in parent}


@pytest.fixture(scope="module")
def tiny(spark):
    return spark.createDataFrame(TRIPLES, "s string, p string, o string")


def test_components_match_reference(spark, tiny):
    got = {r["node"]: r["comp"] for r in components(tiny).collect()}
    want = reference_components(TRIPLES)
    assert got == want
    # sanity on the fixture itself: two components, hubs excluded
    assert got["<d>"] == got["<a>"] == "<a>"
    assert got["<x>"] == got["<y>"] == "<x>"
    assert "<Class>" not in got


def test_components_oracle_matches_reference():
    con = duckdb.connect()
    con.execute("CREATE TABLE trip(s VARCHAR, p VARCHAR, o VARCHAR)")
    con.executemany("INSERT INTO trip VALUES (?, ?, ?)", TRIPLES)
    got = dict(con.execute(components_oracle_sql("SELECT s, p, o FROM trip")).fetchall())
    assert got == reference_components(TRIPLES)


def test_components_long_chain_converges(spark):
    """A 100-hop chain needs 6 nm+jump rounds (propagation radius grows
    geometrically); the default 8 rounds must converge, and an
    under-provisioned round count must fail LOUDLY, not return
    non-transitive labels."""
    chain = [(f"<n{i:03d}>", "<p>", f"<n{i + 1:03d}>") for i in range(100)]
    df = spark.createDataFrame(chain, "s string, p string, o string")
    got = {r["node"]: r["comp"] for r in components(df).collect()}
    assert set(got.values()) == {"<n000>"}
    with pytest.raises(RuntimeError, match="still changing"):
        components(df, rounds=2).collect()


def test_components_partitioning_invariance(spark, tiny):
    one = {r["node"]: r["comp"] for r in components(tiny.coalesce(1)).collect()}
    many = {r["node"]: r["comp"] for r in components(tiny.repartition(7)).collect()}
    assert one == many


class _Conf:
    def __init__(self, threshold: str):
        self.threshold = threshold

    def get(self, key):
        assert key == "spark.sql.autoBroadcastJoinThreshold"
        return self.threshold


class _Session:
    def __init__(self, threshold: str):
        self.conf = _Conf(threshold)


@pytest.mark.parametrize(
    "threshold, n_rows, fast",
    [
        ("67108864", 1000, True),
        ("67108864", 67108864 // 48 + 1, False),
        ("10m", 1000, True),  # a suffixed size parses, not the silent slow path
        ("10m", 10 * 1024 * 1024 // 48 + 1, False),
        ("-1", 1000, False),  # -1 disables broadcasting
        ("10485760b", 1000, True),  # Spark's own rendering of its default
        ("garbage", 1000, False),
    ],
)
def test_fits_broadcast_parses_threshold(threshold, n_rows, fast, caplog):
    with caplog.at_level("INFO", logger="prec_spark.plans.components"):
        assert fits_broadcast(_Session(threshold), n_rows) is fast
    path = "broadcast" if fast else "shuffle"
    assert any(f"-> {path} path" in r.getMessage() for r in caplog.records)


def test_fast_round_reads_one_label_broadcast(spark, tiny, monkeypatch):
    """Both label lookups of a broadcast-path round read ONE broadcast
    of the labels: the round plans one BroadcastExchange and reuses it
    (one broadcast job per round, not two)."""
    rounds = spy_rounds(monkeypatch)
    und, nodes = cc_graph(instance_edges(tiny))
    ids, iund = cc_encode(und, nodes)
    got = {r["node"]: r["comp"] for r in cc_iterate_ids(ids, iund).collect()}
    assert got == reference_components(TRIPLES)
    # a later round: the first one's labels are the identity, whose
    # two lookups plan alike anyway
    assert len(rounds) > 1
    plan = final_plan(rounds[-1])
    # operator lines only: a ReusedExchange line also names its source
    assert len(re.findall(r"^[\s:+-]*BroadcastExchange ", plan, re.M)) == 1, plan
    assert "ReusedExchange" in plan, plan


def test_encode_nodes_is_dense_sorted_and_jvm_side(spark):
    """encode_nodes numbers a multi-partition node set 0..n-1 in sorted
    order without sending a row through a Python worker: no
    ``PythonRDD`` in the lineage of its output, nor in the outputs of
    the encodings built on it (``cc_encode``, ``pagerank_ids``)."""
    from pyspark.sql import functions as F

    from prec_spark.plans.components import encode_nodes
    from prec_spark.plans.pagerank import pagerank_ids

    n = 500
    # a scattered permutation of n names over several input partitions
    edges = spark.range(0, n, numPartitions=7).select(
        F.format_string("n%04d", (F.col("id") * 7919) % n).alias("src"),
        F.format_string("n%04d", (F.col("id") * 7919 + 1) % n).alias("dst"),
    )
    und, nodes = cc_graph(edges)
    old = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    # keep the sort's partitions apart, so ids span several of them
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        ids = encode_nodes(nodes)
        outputs = [ids, *cc_encode(und, nodes), pagerank_ids(edges)]
        assert ids._jdf.rdd().getNumPartitions() > 1
        got = [(r.node, r.nid) for r in ids.collect()]
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", old)
    assert sorted(got, key=lambda r: r[1]) == [
        (f"n{i:04d}", i) for i in range(n)
    ]
    for df in outputs:
        assert "PythonRDD" not in df._jdf.rdd().toDebugString()

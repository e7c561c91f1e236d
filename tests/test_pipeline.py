"""Checkpoint-resume + lineage metrics tests for the staged pipeline."""

import json
import os
import shutil

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from prec_spark.contexts.model import PRSCCatalog
from prec_spark.flagship import TRANSCRIPT_CONTEXT
from prec_spark.pg.projection import pg_edges, pg_nodes
from prec_spark.pipeline import run_pipeline
from prec_spark.prsc.apply import apply_prsc
from prec_spark.text.mentions import canonical_entities, entity_links, entity_triples
from prec_spark.transcripts import transcripts_df

STAGES = (
    "transcripts", "pg_nodes", "pg_edges", "entity_links", "canonical_entities", "kg_triples",
)

QUARANTINE_COLS = ["element_id", "kind", "labels_key", "props_key", "reason"]


def test_pipeline_runs_and_resumes(spark, sf_dir, tmp_path):
    workdir = str(tmp_path / "pipe")
    triples, pipe = run_pipeline(spark, sf_dir, workdir)
    n1 = triples.count()
    assert n1 > 0
    assert all(not m.resumed for m in pipe.metrics)
    assert all(m.rows >= 0 for m in pipe.metrics)
    # per-partition lineage recorded
    metrics_file = os.path.join(workdir, "metrics.jsonl")
    lines = [json.loads(l) for l in open(metrics_file)]
    assert {m["stage"] for m in lines} >= {"transcripts", "pg_nodes", "kg_triples"}
    assert all("per_partition" in m for m in lines)

    # resume: all stages must be skipped, same output
    triples2, pipe2 = run_pipeline(spark, sf_dir, workdir)
    assert all(m.resumed for m in pipe2.metrics)
    assert triples2.count() == n1


def test_pipeline_partial_resume(spark, sf_dir, tmp_path):
    """Deleting a late checkpoint recomputes only that stage."""
    workdir = str(tmp_path / "pipe2")
    _, _ = run_pipeline(spark, sf_dir, workdir)
    shutil.rmtree(os.path.join(workdir, "kg_triples"))
    triples, pipe = run_pipeline(spark, sf_dir, workdir)
    by_stage = {m.stage: m for m in pipe.metrics}
    assert by_stage["transcripts"].resumed
    assert not by_stage["kg_triples"].resumed
    assert triples.count() > 0


def _same_rows(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_links_keyword_matches_transcripts_form(spark, sf_dir):
    """Stages fed the entity_links checkpoint equal their forms that
    re-derive the links from the transcripts."""
    t = transcripts_df(spark, sf_dir)
    links = entity_links(spark, sf_dir, t)
    assert _same_rows(
        canonical_entities(spark, sf_dir, links=links), canonical_entities(spark, sf_dir, t)
    )
    assert _same_rows(
        entity_triples(spark, sf_dir, links=links), entity_triples(spark, sf_dir, t)
    )


def test_pg_edges_unique_src_dst_label(spark, sf_dir):
    """The data contract run_pipeline relies on for
    apply_prsc(unique_edge_triples=True)."""
    dup = (
        pg_edges(transcripts_df(spark, sf_dir))
        .groupBy("src_id", "dst_id", "label")
        .count()
        .filter(F.col("count") > 1)
    )
    assert dup.count() == 0


@pytest.fixture(scope="module")
def fresh_and_resumed(spark, sf_dir, tmp_path_factory):
    """One workdir run fresh, then resumed."""
    workdir = str(tmp_path_factory.mktemp("stage-graph") / "pipe")
    run_pipeline(spark, sf_dir, workdir)
    run_pipeline(spark, sf_dir, workdir)
    return workdir


def test_stage_metrics_are_exact(spark, fresh_and_resumed):
    """rows and partitions in metrics.jsonl come from the written part
    files' footers and must match the checkpoints, fresh and resumed."""
    workdir = fresh_and_resumed
    lines = [json.loads(l) for l in open(os.path.join(workdir, "metrics.jsonl"))]
    assert [(m["stage"], m["resumed"]) for m in lines] == [
        (s, r) for r in (False, True) for s in STAGES
    ]
    for m in lines:
        path = os.path.join(workdir, m["stage"])
        assert m["rows"] == spark.read.parquet(path).count(), m["stage"]
        assert m["partitions"] == len(m["per_partition"]) > 0
        assert sum(p["rows"] for p in m["per_partition"]) == m["rows"]


def test_default_run_leaves_empty_quarantine(spark, fresh_and_resumed):
    q = spark.read.parquet(os.path.join(fresh_and_resumed, "_quarantine"))
    assert q.columns == QUARANTINE_COLS
    assert q.count() == 0


def test_quarantine_written_when_rule_missing(spark, sf_dir, tmp_path):
    """A context without ex:UsesRule quarantines exactly the USES edges."""
    uses_rule = """ex:UsesRule a prec:PRSCEdgeRule ;
  prec:label "USES" ;
  prec:produces << pvar:source ex:usesTool pvar:destination >> .
"""
    assert uses_rule in TRANSCRIPT_CONTEXT
    workdir = str(tmp_path / "pipe")
    context = TRANSCRIPT_CONTEXT.replace(uses_rule, "")
    run_pipeline(spark, sf_dir, workdir, context_ttl=context)
    q_path = os.path.join(workdir, "_quarantine")
    uses = spark.read.parquet(os.path.join(workdir, "pg_edges")).filter(F.col("label") == "USES")
    expected = uses.select(
        F.col("edge_id").alias("element_id"),
        F.lit("edge").alias("kind"),
        F.lit("no_rule_matches").alias("reason"),
    )
    assert uses.count() > 0
    assert _same_rows(spark.read.parquet(q_path).select("element_id", "kind", "reason"), expected)

    # a run that stopped after kg_triples committed: the resume restores
    # _quarantine without recomputing any stage
    shutil.rmtree(q_path)
    _, pipe = run_pipeline(spark, sf_dir, workdir, context_ttl=context)
    assert all(m.resumed for m in pipe.metrics)
    q = spark.read.parquet(q_path)
    assert q.columns == QUARANTINE_COLS
    assert _same_rows(q.select("element_id", "kind", "reason"), expected)


def test_one_sided_edge_template_keeps_set_semantics(spark, sf_dir, tmp_path):
    """An edge template naming only one endpoint repeats its triple once
    per edge, so it must keep its dedup even under the pipeline's
    unique-(src, dst, label) contract."""
    in_rule = "prec:produces << pvar:source ex:inConversation pvar:destination >> ."
    assert in_rule in TRANSCRIPT_CONTEXT
    context = TRANSCRIPT_CONTEXT.replace(
        in_rule, "prec:produces << pvar:destination a ex:ConversationWithTurns >> ."
    )
    triples, _ = run_pipeline(spark, sf_dir, str(tmp_path / "pipe"), context_ttl=context)
    typed = triples.filter(F.col("o") == "<http://example.org/transcripts/ConversationWithTurns>")
    edges = pg_edges(transcripts_df(spark, sf_dir)).filter(F.col("label") == "IN")
    # several IN edges share a destination, so a missing dedup would show
    assert edges.count() > edges.select("dst_id").distinct().count()
    assert typed.count() == edges.select("dst_id").distinct().count()
    assert triples.count() == triples.distinct().count()


def test_observation_fires_without_templates(spark, sf_dir):
    """With no rule at all the triples still run the observed element
    pass, so the quarantine gate never waits on an unset observation."""
    t = transcripts_df(spark, sf_dir)
    nodes, edges = pg_nodes(t), pg_edges(t)
    obs = Observation()
    triples, _ = apply_prsc(spark, nodes, edges, PRSCCatalog.from_turtle(""), observation=obs)
    assert triples.count() == 0
    assert obs.get["quarantined"] == nodes.count() + edges.count()


def test_small_heap_guards_survive_gateway_reuse(spark):
    """spark.driver.memory binds at JVM launch: a later build_session
    requesting 8g on a gateway launched at 4g must still apply the
    small-heap guards (round-3 ADVICE, conftest isolation gap)."""
    from prec_spark.session import _running_jvm_max_heap, build_session

    actual = _running_jvm_max_heap()
    assert actual is not None  # `spark` fixture launched the gateway
    if actual > 4 * 1024**3:
        import pytest

        pytest.skip("gateway launched with a big heap; guard not applicable")
    spark.stop()
    s2 = build_session(
        app_name="heap-reuse-probe",
        master="local[2]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "8g"},
    )
    try:
        assert s2.conf.get("spark.buffer.pageSize") == "1m"
    finally:
        s2.stop()

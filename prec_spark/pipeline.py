"""The end-to-end KG-construction pipeline (BASELINE.json north_star)
as a graph of checkpointed stages, each reading its upstream
checkpoints (prec_spark.checkpoint) instead of recomputing them:

    stage               reads
    transcripts         the input table
    pg_nodes            transcripts
    pg_edges            transcripts
    entity_links        transcripts (the one mention-regex scan)
    canonical_entities  entity_links
    kg_triples          pg_nodes, pg_edges, entity_links

``kg_triples`` is the union of the PRSC triples of the PG elements and
the mention triples, written as plain parquet; the elements no rule
accepts go to ``_quarantine``, written once ``kg_triples`` has
committed (a resume rewrites it when a run stopped in between).
`run_pipeline` is what jobs/run_pipeline.py and a
spark-submit job on a real cluster call.

Scale design notes:
* transcripts are the only big input; every derived stage either
  shuffles by conv_id (the natural partitioning key) once, or is a
  narrow map
* the rule catalog and the entity dictionary are broadcast
* canonicalization is a salted two-phase aggregation (hot entities)
* the PRSC triples of the default context are one pass over the
  elements with no dedup: ``pg_edges`` emits at most one NEXT, IN and
  USES edge per turn, so (src, dst, label) is unique and an edge
  template naming both endpoints is duplicate-free
  (``unique_edge_triples``); any other template shape keeps its dedup
* the quarantine check rides on that pass as an observed count; the
  elements are scanned again only when something was quarantined
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession

from .checkpoint import CheckpointedPipeline
from .contexts.model import PRSCCatalog
from .flagship import TRANSCRIPT_CONTEXT
from .pg.projection import pg_edges, pg_nodes
from .prsc.apply import apply_prsc
from .text.mentions import canonical_entities, entity_links, entity_triples
from .transcripts import transcripts_df


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    context_ttl: str = TRANSCRIPT_CONTEXT,
) -> tuple[DataFrame, CheckpointedPipeline]:
    """Run (or resume) the full pipeline; returns (triples, pipeline)."""
    pipe = CheckpointedPipeline(spark, workdir)
    catalog = PRSCCatalog.from_turtle(context_ttl)

    transcripts = pipe.stage("transcripts", lambda: transcripts_df(spark, sf_dir))
    nodes = pipe.stage("pg_nodes", lambda: pg_nodes(transcripts))
    edges = pipe.stage("pg_edges", lambda: pg_edges(transcripts))
    links = pipe.stage("entity_links", lambda: entity_links(spark, sf_dir, transcripts))
    pipe.stage("canonical_entities", lambda: canonical_entities(spark, sf_dir, links=links))

    observed = Observation()
    quarantine = None

    def build_triples():
        nonlocal quarantine
        prsc_triples, quarantine = apply_prsc(
            spark, nodes, edges, catalog, unique_edge_triples=True, observation=observed
        )
        ment_triples = entity_triples(spark, sf_dir, links=links)
        # branches are internally dedup'd and disjoint by subject/predicate
        return prsc_triples.unionByName(ment_triples)

    triples = pipe.stage("kg_triples", build_triples)
    q_path = os.path.join(workdir, "_quarantine")
    if quarantine is not None:
        # kg_triples was written just now, so the observation is set
        if observed.get["quarantined"] == 0:
            quarantine = spark.createDataFrame([], quarantine.schema)
    elif not os.path.exists(os.path.join(q_path, "_SUCCESS")):
        # kg_triples resumed from a run that stopped before _quarantine
        quarantine = apply_prsc(spark, nodes, edges, catalog)[1]
    if quarantine is not None:
        quarantine.write.mode("overwrite").parquet(q_path)
    return triples, pipe

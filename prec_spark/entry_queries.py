"""Query + oracle registry backing __spark_entry__.py.

Each entry pairs a Spark implementation (DataFrame API) with an ANSI
SQL oracle DuckDB can run on the same parquet views. Column names are
aligned on both sides (driver hashes values after sorting columns by
name). Flattened/serialized output shapes (strings, ints) are used so
cross-engine value hashing is robust.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cached import (
    cached_transcripts,
    cached_transcripts_aug,
    shared_frame,
    shared_rows,
)
from .flagship import EX, flagship_oracle_sql, flagship_triples
from .pg.export import cypher_create_statements, gremlin_insert_statements
from .pg.graphml import graphml_lines, graphml_oracle_sql
from .pg.projection import pg_edges, pg_nodes
from .prec0 import prec0_quads
from .text.mentions import (
    canonical_entities,
    canonical_entities_oracle_sql,
    entity_links,
    entity_links_oracle_sql,
    entity_triples,
    entity_triples_oracle_sql,
    fuzzy_links,
    fuzzy_links_oracle_sql,
    mentions_df,
    mentions_oracle_sql,
)
from .text.quality import (
    hybrid_rerank,
    hybrid_rerank_oracle_sql,
    inverted_index,
    inverted_index_oracle_sql,
    pii_scrub,
    pii_scrub_oracle_sql,
    quality_gopher,
    quality_gopher_oracle_sql,
    quality_repetition,
    quality_repetition_oracle_sql,
    tfidf_rank,
    tfidf_rank_oracle_sql,
)
from .incremental import kg_incremental, kg_incremental_oracle_sql
from .temporal_kg import kg_asof, kg_asof_oracle_sql
from .training_pairs import (
    context_windows,
    context_windows_oracle_sql,
    entity_cooccur,
    entity_cooccur_oracle_sql,
    kg_negative_samples,
    kg_negative_samples_oracle_sql,
)
from .text.bpe import (
    bpe_encode,
    bpe_encode_oracle_sql,
    bpe_train,
    bpe_train_oracle_sql,
)
from .transcripts import transcripts_df, transcripts_oracle_sql
from .text.analysis import (
    doc_fingerprint,
    doc_fingerprint_oracle_sql,
    lang_id,
    lang_id_oracle_sql,
    text_stats,
    text_stats_oracle_sql,
    token_counts,
    token_counts_oracle_sql,
)
from .ann.quantize import embedding_quantize, embedding_quantize_oracle_sql
from .dedup.spans import dedup_spans, dedup_spans_oracle_sql
from .dedup import (
    dedup_exact,
    dedup_exact_oracle_sql,
    dedup_minhash_pairs,
    dedup_minhash_oracle_sql,
    dedup_ngram_jaccard,
    dedup_ngram_oracle_sql,
    dedup_simhash_groups,
    dedup_simhash_oracle_sql,
    dedup_simhash_cc,
    dedup_simhash_cc_oracle_sql,
    dedup_simhash_hamming,
    dedup_simhash_hamming_oracle_sql,
    embedding_neardup,
    embedding_neardup_oracle_sql,
)
from .ann.pq import ann_ivfpq, ann_ivfpq_oracle_sql, ann_pq, ann_pq_oracle_sql
from .ann import (
    ann_bruteforce,
    ann_bruteforce_oracle_sql,
    ann_ivf,
    ann_ivf_oracle_sql,
    ann_lsh,
    ann_lsh_oracle_sql,
)
from .multimodal import binary_features, binary_features_oracle_sql
from .multimodal.media import (
    media_features,
    media_features_oracle_sql,
    media_gif_features,
    media_gif_oracle_sql,
    media_adpcm_features,
    media_adpcm_oracle_sql,
    media_mulaw_features,
    media_mulaw_oracle_sql,
    media_jpeg_features,
    media_jpeg_oracle_sql,
    media_resize_oracle_sql,
    media_resized_features,
)
from .multimodal.video import video_features, video_features_oracle_sql
from .streaming.joins import reply_latency, reply_latency_oracle_sql
from .streaming.events import (
    events_percentiles,
    events_percentiles_oracle_sql,
    windowed_value_rollup,
    windowed_value_rollup_oracle_sql,
)
from .lakehouse import (
    lakehouse_delete,
    lakehouse_delete_oracle_sql,
    lakehouse_evolution,
    lakehouse_evolution_oracle_sql,
    lakehouse_hidden,
    lakehouse_hidden_oracle_sql,
    lakehouse_incremental,
    lakehouse_incremental_oracle_sql,
    lakehouse_merge,
    lakehouse_merge_oracle_sql,
    lakehouse_zorder,
    lakehouse_zorder_oracle_sql,
    lakehouse_scan,
    lakehouse_scan_oracle_sql,
    lakehouse_time_travel,
    lakehouse_time_travel_oracle_sql,
)
from .datasets import dataset_split, dataset_split_oracle_sql
from .profile import table_profile, table_profile_oracle_sql
from .sampling import (
    pack_sequences,
    pack_sequences_oracle_sql,
    stratified_sample,
    stratified_sample_oracle_sql,
)
from .text.curation import pretrain_filter, pretrain_filter_oracle_sql
from .text.decontaminate import decontaminate, decontaminate_oracle_sql
from .joins import (
    events_asof_join,
    events_asof_join_oracle_sql,
    events_range_join,
    events_range_join_oracle_sql,
)
from .sketches import (
    cms_heavy_hitters,
    cms_heavy_hitters_oracle_sql,
    hll_merge,
    hll_merge_oracle_sql,
    hll_registers,
    hll_registers_oracle_sql,
)
from .streaming.kg import kg_stream_triples
from .streaming.sessions import sessionize_batch, sessionize_oracle_sql
from .named_graphs import named_graph_oracle_sql, named_graph_quads
from .plans.bfs import bfs_ids, bfs_oracle_sql
from .plans.bgp import (
    aggregate_bind,
    match_and_bind,
    minus_bind,
    optional_bind,
    slice_bind,
    union_bind,
)
from .plans.kcore import kcore_ids, kcore_oracle_sql
from .plans.linkpred import linkpred_oracle_sql, linkpred_scores_ids
from .plans.node2vec import node2vec_oracle_sql, node2vec_walks
from .plans.paths import next_path_edges, path_closure, path_star_oracle_sql
from .plans.degree import degree_histogram, degree_oracle_sql
from .plans.ppr import ppr_iterate_ids, ppr_oracle_sql
from .plans.shapes import shape_profile, shapes_oracle_sql
from .plans.walks import capped_adjacency, random_walks, walks_oracle_sql
from .plans.wsp import wsp_ids, wsp_oracle_sql, wsp_weighted_edges
from .plans.triangles import triangle_counts_ids, triangles_oracle_sql
from .plans.components import (
    cc_encode,
    cc_graph,
    cc_iterate_ids,
    components_oracle_sql,
    id_edges,
    instance_edges,
    selfloop_edges,
)
from .plans.pagerank import (
    pagerank_edges_sl,
    pagerank_ids,
    pagerank_iterate_ids,
    pagerank_oracle_sql,
    resource_edges,
)
from .precc_flagship import (
    prec0_roundtrip,
    prec0_roundtrip_oracle_sql,
    precc_oracle_sql,
    precc_transcript_triples,
    prsc_roundtrip,
    prsc_roundtrip_oracle_sql,
)


# ---------------------------------------------------------------- helpers
def _t_cte() -> str:
    return f"WITH t AS ({transcripts_oracle_sql()})"


def _pg_nodes_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = cached_transcripts(spark, sf_dir)
    return pg_nodes(t).select(
        "node_id",
        F.array_join("labels", "|").alias("labels_key"),
        F.array_join(F.sort_array(F.map_keys("properties")), "|").alias("props_key"),
    )


def _pg_nodes_oracle() -> str:
    return f"""
{_t_cte()}
SELECT 'turn:' || conv_id || ':' || CAST(turn_idx AS VARCHAR) AS node_id,
       'Turn|' || role AS labels_key,
       CASE WHEN tool IS NOT NULL THEN 'text|tool' ELSE 'text' END AS props_key
FROM t
UNION ALL
SELECT DISTINCT 'conv:' || conv_id, 'Conversation', 'id' FROM t
UNION ALL
SELECT DISTINCT 'tool:' || tool, 'Tool', 'name' FROM t WHERE tool IS NOT NULL
"""


def _pg_edges_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = cached_transcripts_aug(spark, sf_dir)
    return pg_edges(t).select("edge_id", "src_id", "dst_id", "label")


def _pg_edges_oracle() -> str:
    turn = "'turn:' || conv_id || ':' || CAST(turn_idx AS VARCHAR)"
    return f"""
{_t_cte()}, tm AS (
  SELECT *, max(turn_idx) OVER (PARTITION BY conv_id) AS max_turn_idx FROM t
)
SELECT 'edge:next:' || conv_id || ':' || CAST(turn_idx AS VARCHAR) AS edge_id,
       {turn} AS src_id,
       'turn:' || conv_id || ':' || CAST(turn_idx + 1 AS VARCHAR) AS dst_id,
       'NEXT' AS label
FROM tm WHERE turn_idx < max_turn_idx
UNION ALL
SELECT 'edge:in:' || conv_id || ':' || CAST(turn_idx AS VARCHAR),
       {turn}, 'conv:' || conv_id, 'IN'
FROM tm
UNION ALL
SELECT 'edge:uses:' || conv_id || ':' || CAST(turn_idx AS VARCHAR),
       {turn}, 'tool:' || tool, 'USES'
FROM tm WHERE tool IS NOT NULL
"""


def _cypher_create(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = cached_transcripts_aug(spark, sf_dir)
    return cypher_create_statements(pg_nodes(t), pg_edges(t))


def _nt_esc_sql(col: str) -> str:
    """N-Triples escape chain in SQL (mirror of nt_escape_col)."""
    out = col
    for raw, esc in [
        ("\\", "\\\\"),
        ('"', '\\"'),
        (chr(10), "\\n"),
        (chr(13), "\\r"),
        (chr(9), "\\t"),
    ]:
        raw_sql = raw.replace("'", "''")
        esc_sql = esc.replace("'", "''")
        out = f"replace({out}, '{raw_sql}', '{esc_sql}')"
    return out


def _groovy_esc_sql(col: str) -> str:
    """Groovy single-quote escape chain in SQL (mirror of
    _gremlin_string over term-escaped content: backslash/newline/tab
    escapes kept, quote flavor swapped)."""
    out = col
    for raw, esc in [
        ("\\", "\\\\"),
        (chr(10), "\\n"),
        (chr(13), "\\r"),
        (chr(9), "\\t"),
        ("'", "\\'"),
    ]:
        raw_sql = raw.replace("'", "''")
        esc_sql = esc.replace("'", "''")
        out = f"replace({out}, '{raw_sql}', '{esc_sql}')"
    return out


def _cypher_create_oracle() -> str:
    turn = "'turn:' || conv_id || ':' || CAST(turn_idx AS VARCHAR)"
    text = _nt_esc_sql("text")
    tool = _nt_esc_sql("tool")
    return f"""
{_t_cte()}, tm AS (
  SELECT *, max(turn_idx) OVER (PARTITION BY conv_id) AS max_turn_idx FROM t
)
SELECT 'node' AS kind,
       'CREATE (:Turn:' || role || ' {{`_prec_id`: "' || {turn}
       || '", text: "' || {text} || '"'
       || CASE WHEN tool IS NOT NULL
               THEN ', tool: "' || {tool} || '"' ELSE '' END
       || '}})' AS stmt
FROM t
UNION ALL
SELECT DISTINCT 'node',
       'CREATE (:Conversation {{`_prec_id`: "conv:' || conv_id
       || '", id: "' || conv_id || '"}})'
FROM t
UNION ALL
SELECT DISTINCT 'node',
       'CREATE (:Tool {{`_prec_id`: "tool:' || tool
       || '", name: "' || tool || '"}})'
FROM t WHERE tool IS NOT NULL
UNION ALL
SELECT 'edge',
       'MATCH (s {{`_prec_id`: "' || {turn} || '"}}), (d {{`_prec_id`: "turn:'
       || conv_id || ':' || CAST(turn_idx + 1 AS VARCHAR)
       || '"}}) CREATE (s)-[:NEXT]->(d)'
FROM tm WHERE turn_idx < max_turn_idx
UNION ALL
SELECT 'edge',
       'MATCH (s {{`_prec_id`: "' || {turn} || '"}}), (d {{`_prec_id`: "conv:'
       || conv_id || '"}}) CREATE (s)-[:IN]->(d)'
FROM tm
UNION ALL
SELECT 'edge',
       'MATCH (s {{`_prec_id`: "' || {turn} || '"}}), (d {{`_prec_id`: "tool:'
       || tool || '"}}) CREATE (s)-[:USES]->(d)'
FROM tm WHERE tool IS NOT NULL
"""


def _gremlin_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = cached_transcripts_aug(spark, sf_dir)
    return gremlin_insert_statements(pg_nodes(t), pg_edges(t))


def _gremlin_insert_oracle() -> str:
    turn = "'turn:' || conv_id || ':' || CAST(turn_idx AS VARCHAR)"
    text = _groovy_esc_sql("text")
    tool = _groovy_esc_sql("tool")
    return f"""
{_t_cte()}, tm AS (
  SELECT *, max(turn_idx) OVER (PARTITION BY conv_id) AS max_turn_idx FROM t
)
SELECT 'node' AS kind,
       'g.addV(''Turn::' || role || ''').property(''_prec_id'', ''' || {turn}
       || ''').property(''text'', ''' || {text} || ''')'
       || CASE WHEN tool IS NOT NULL
               THEN '.property(''tool'', ''' || {tool} || ''')' ELSE '' END
       || '.next()' AS stmt
FROM t
UNION ALL
SELECT DISTINCT 'node',
       'g.addV(''Conversation'').property(''_prec_id'', ''conv:' || conv_id
       || ''').property(''id'', ''' || conv_id || ''').next()'
FROM t
UNION ALL
SELECT DISTINCT 'node',
       'g.addV(''Tool'').property(''_prec_id'', ''tool:' || tool
       || ''').property(''name'', ''' || tool || ''').next()'
FROM t WHERE tool IS NOT NULL
UNION ALL
SELECT 'edge',
       'g.V().has(''_prec_id'', ''' || {turn} || ''').addE(''NEXT'')'
       || '.to(__.V().has(''_prec_id'', ''turn:' || conv_id || ':'
       || CAST(turn_idx + 1 AS VARCHAR) || ''')).iterate()'
FROM tm WHERE turn_idx < max_turn_idx
UNION ALL
SELECT 'edge',
       'g.V().has(''_prec_id'', ''' || {turn} || ''').addE(''IN'')'
       || '.to(__.V().has(''_prec_id'', ''conv:' || conv_id || ''')).iterate()'
FROM tm
UNION ALL
SELECT 'edge',
       'g.V().has(''_prec_id'', ''' || {turn} || ''').addE(''USES'')'
       || '.to(__.V().has(''_prec_id'', ''tool:' || tool || ''')).iterate()'
FROM tm WHERE tool IS NOT NULL
"""


_BOLT_DUMP_DIRS: dict[str, str] = {}


def _bolt_dump_dir(spark: SparkSession, sf_dir: str) -> str:
    """Synthesize (once per process and testdata generation) a
    wire-faithful Bolt RECORD dump of the transcript PG: the exact
    framed PackStream bytes a Neo4j server streams for the reference's
    ``match (src)-[edge]->(dest) return src, edge, dest``
    (/root/reference/src/prec-0/from-cypher.js:8-49).

    The synthesis plays the SERVER's role but is itself DISTRIBUTED:
    records are assembled as DataFrame rows and PackStream-encoded per
    partition via mapInPandas (one dump file per task), so there is no
    driver collect and no driver-side encode loop.

    Identities are ARITHMETIC int64s, mirrored exactly by the DuckDB
    oracle with no rank/window on either side: with
    K = int suffix of conv_id and turn_idx < 64 (the driver-generated
    lineitem has duplicate sort keys, so orders carry up to ~17 lines
    — NOT TPC-H's 7; the encode worker raises if 64 is ever reached),
    node ids `turn(K,i) = (K*64+i)*4`, `conv(K) = K*4+1`,
    `tool(t) = TOOLS.index(t)*4+2` and edge ids `in = (K*64+i)*3`,
    `next = +1`, `uses = +2` are collision-free (disjoint residues
    mod 4 / mod 3).
    """
    cached = _BOLT_DUMP_DIRS.get(sf_dir)
    if cached is not None:
        return cached
    import hashlib
    import os
    import shutil
    import tempfile

    # key on the source parquet's identity (path + size + mtime), so a
    # regenerated testdata dir can never silently reuse a stale dump
    src = os.path.join(sf_dir, "lineitem.parquet")
    try:
        st = os.stat(src)
        key = f"{sf_dir}|{st.st_size}|{st.st_mtime_ns}"
    except OSError:
        key = sf_dir
    out_dir = os.path.join(
        tempfile.gettempdir(),
        "prec_spark_bolt_" + hashlib.md5(key.encode()).hexdigest()[:10],
    )
    done = os.path.join(out_dir, "_SUCCESS")
    if os.path.isfile(done):
        _BOLT_DUMP_DIRS[sf_dir] = out_dir
        return out_dir

    from pyspark.sql import Window

    from .transcripts import TOOLS

    t = cached_transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    base = (
        t.select("conv_id", "turn_idx", "role", "text", "tool")
        .withColumn("k", F.split("conv_id", "-").getItem(1).cast("long"))
        .withColumn("nrole", F.lead("role").over(w))
        .withColumn("ntext", F.lead("text").over(w))
        .withColumn("ntool", F.lead("tool").over(w))
    )

    def turn_props(text_c, tool_c):
        return F.when(
            tool_c.isNotNull(),
            F.create_map(F.lit("text"), text_c, F.lit("tool"), tool_c),
        ).otherwise(F.create_map(F.lit("text"), text_c))

    def tool_ni(tool_c):
        idx = F.lit(None).cast("long")
        for i, name in enumerate(TOOLS):
            idx = F.when(tool_c == name, F.lit(i)).otherwise(idx)
        return idx * 4 + 2

    tni = (F.col("k") * 64 + F.col("turn_idx")) * 4
    eib = (F.col("k") * 64 + F.col("turn_idx")) * 3
    turn_src = [
        F.col("turn_idx").alias("ti"),
        tni.alias("src_ni"),
        F.array(F.lit("Turn"), F.col("role")).alias("src_labels"),
        turn_props(F.col("text"), F.col("tool")).alias("src_props"),
    ]
    in_edges = base.select(
        eib.alias("ei"),
        F.lit("IN").alias("typ"),
        *turn_src,
        (F.col("k") * 4 + 1).alias("dst_ni"),
        F.array(F.lit("Conversation")).alias("dst_labels"),
        F.create_map(F.lit("id"), F.col("conv_id")).alias("dst_props"),
    )
    next_edges = base.filter(F.col("nrole").isNotNull()).select(
        (eib + 1).alias("ei"),
        F.lit("NEXT").alias("typ"),
        *turn_src,
        ((F.col("k") * 64 + F.col("turn_idx") + 1) * 4).alias("dst_ni"),
        F.array(F.lit("Turn"), F.col("nrole")).alias("dst_labels"),
        turn_props(F.col("ntext"), F.col("ntool")).alias("dst_props"),
    )
    uses_edges = base.filter(F.col("tool").isNotNull()).select(
        (eib + 2).alias("ei"),
        F.lit("USES").alias("typ"),
        *turn_src,
        tool_ni(F.col("tool")).alias("dst_ni"),
        F.array(F.lit("Tool")).alias("dst_labels"),
        F.create_map(F.lit("name"), F.col("tool")).alias("dst_props"),
    )
    # hash-partition by conversation: a real server streams records in
    # match order, so a node's incident records are adjacent on the
    # wire — co-locating each conversation's records per dump file
    # reproduces that locality, which the reader's map-side identity
    # skip exploits (repeated endpoints are byte-walked, not decoded)
    records = (
        in_edges.unionByName(next_edges).unionByName(uses_edges)
        # src_ni = k*256 + turn_idx*4, so this keys on the conversation
        .repartition(32, F.floor(F.col("src_ni") / 256))
    )

    tmp_dir = out_dir + ".tmp"
    shutil.rmtree(tmp_dir, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(tmp_dir)

    def _encode_partition(batches):
        import os as _os

        import pandas as pd
        from pyspark import TaskContext

        from prec_spark.pg.bolt import (
            NODE_TAG,
            RECORD_HEADER_3,
            REL_TAG,
            Structure,
            frame_message,
            ps_encode,
        )

        def as_dict(m):
            return m if isinstance(m, dict) else dict(m)

        buf = bytearray()
        n = 0
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                if row.ti + 1 >= 64:
                    raise ValueError(
                        "turn_idx >= 63 breaks the Bolt identity packing"
                        " (raise the *64 multiplier)"
                    )
                src_b = ps_encode(
                    Structure(
                        NODE_TAG,
                        [int(row.src_ni), list(row.src_labels), as_dict(row.src_props)],
                    )
                )
                dst_b = ps_encode(
                    Structure(
                        NODE_TAG,
                        [int(row.dst_ni), list(row.dst_labels), as_dict(row.dst_props)],
                    )
                )
                rel_b = ps_encode(
                    Structure(
                        REL_TAG,
                        [int(row.ei), int(row.src_ni), int(row.dst_ni), row.typ, {}],
                    )
                )
                buf += frame_message(RECORD_HEADER_3 + src_b + rel_b + dst_b)
                n += 1
        if n:
            pid = TaskContext.get().partitionId()
            with open(
                _os.path.join(tmp_dir, f"part-{pid:05d}.bolt"), "wb"
            ) as f:
                f.write(bytes(buf))
        yield pd.DataFrame({"n": [n]})

    records.mapInPandas(_encode_partition, "n long").agg(
        F.sum("n")
    ).collect()
    with open(os.path.join(tmp_dir, "_SUCCESS"), "w"):
        pass
    os.rename(tmp_dir, out_dir)
    _BOLT_DUMP_DIRS[sf_dir] = out_dir
    return out_dir


def _bolt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 gate query: decode the framed Bolt RECORD dump DISTRIBUTED
    (binaryFile -> Arrow-batch PackStream decode -> identity dedup) and
    flatten nodes+edges into one hashable frame. The `text` property
    value rides through real PackStream bytes and back out as its
    canonical term, so the wire roundtrip is value-checked, not just
    shape-checked."""
    from .pg.bolt import bolt_records_to_pg

    dump = _bolt_dump_dir(spark, sf_dir)
    ndf, edf = bolt_records_to_pg(spark, dump)
    # '' (not NULL) for inapplicable columns: the gate hash sorts rows
    # as tuples, and mixed None/str tuples are unorderable
    null_s = F.lit("")
    n_flat = ndf.select(
        F.lit("node").alias("kind"),
        F.col("node_id").alias("ident"),
        F.array_join("labels", "|").alias("labels_key"),
        null_s.alias("label"),
        null_s.alias("src_id"),
        null_s.alias("dst_id"),
        F.array_join(F.sort_array(F.map_keys("properties")), "|").alias(
            "props_key"
        ),
        F.coalesce(
            F.element_at(F.element_at("properties", "text"), 1), F.lit("")
        ).alias("text_term"),
    )
    e_flat = edf.select(
        F.lit("edge").alias("kind"),
        F.col("edge_id").alias("ident"),
        null_s.alias("labels_key"),
        "label",
        "src_id",
        "dst_id",
        F.array_join(F.sort_array(F.map_keys("properties")), "|").alias(
            "props_key"
        ),
        null_s.alias("text_term"),
    )
    return n_flat.unionByName(e_flat)


def _bolt_records_oracle() -> str:
    from .transcripts import TOOLS

    text = _nt_esc_sql("text")
    tool_idx = (
        "CASE tool "
        + " ".join(f"WHEN '{name}' THEN {i}" for i, name in enumerate(TOOLS))
        + " END"
    )
    tni = "(k*64 + turn_idx)*4"
    eib = "(k*64 + turn_idx)*3"
    return f"""
{_t_cte()}, tm AS (
  SELECT *, CAST(substr(conv_id, 6) AS BIGINT) AS k,
         max(turn_idx) OVER (PARTITION BY conv_id) AS max_turn_idx
  FROM t
)
SELECT 'node' AS kind, 'node:' || CAST({tni} AS VARCHAR) AS ident,
       'Turn|' || role AS labels_key, '' AS label,
       '' AS src_id, '' AS dst_id,
       CASE WHEN tool IS NOT NULL THEN 'text|tool' ELSE 'text' END AS props_key,
       '"' || {text} || '"' AS text_term
FROM tm
UNION ALL
SELECT DISTINCT 'node', 'node:' || CAST(k*4 + 1 AS VARCHAR),
       'Conversation', '', '', '', 'id', ''
FROM tm
UNION ALL
SELECT DISTINCT 'node', 'node:' || CAST(({tool_idx})*4 + 2 AS VARCHAR),
       'Tool', '', '', '', 'name', ''
FROM tm WHERE tool IS NOT NULL
UNION ALL
SELECT 'edge', 'edge:' || CAST({eib} AS VARCHAR), '', 'IN',
       'node:' || CAST({tni} AS VARCHAR), 'node:' || CAST(k*4 + 1 AS VARCHAR),
       '', ''
FROM tm
UNION ALL
SELECT 'edge', 'edge:' || CAST({eib} + 1 AS VARCHAR), '', 'NEXT',
       'node:' || CAST({tni} AS VARCHAR),
       'node:' || CAST((k*64 + turn_idx + 1)*4 AS VARCHAR), '', ''
FROM tm WHERE turn_idx < max_turn_idx
UNION ALL
SELECT 'edge', 'edge:' || CAST({eib} + 2 AS VARCHAR), '', 'USES',
       'node:' || CAST({tni} AS VARCHAR),
       'node:' || CAST(({tool_idx})*4 + 2 AS VARCHAR), '', ''
FROM tm WHERE tool IS NOT NULL
"""


def _prec0_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nodes/edges cached: the PREC-0 expansion reads the PG once per
    # quad family (19 narrow union branches; ~20 s warm from the raw
    # transcripts vs ~10.5 s from the cached PG at sf0.1).
    # Session-scoped shared caches: repeated invocations (bench warm
    # reps, oracle gate) reuse ONE entry instead of leaking a fresh
    # cache pair per call.
    nodes = shared_frame(
        spark, f"pg_nodes:{sf_dir}",
        lambda: pg_nodes(cached_transcripts(spark, sf_dir)),
    )
    edges = shared_frame(
        spark, f"pg_edges:{sf_dir}",
        lambda: pg_edges(cached_transcripts_aug(spark, sf_dir)),
    )
    return prec0_quads(nodes, edges)


def _prec0_oracle() -> str:
    """Full PREC-0 expansion of the transcript PG in ANSI SQL."""
    rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    rdfs = "http://www.w3.org/2000/01/rdf-schema#"
    pgo = "http://ii.uwb.edu.pl/pgo#"
    prec = "http://bruy.at/prec#"
    vocab = "http://www.example.org/vocab/"

    a = f"'<{rdf}type>'"
    rlabel = f"'<{rdfs}label>'"
    sub = f"'<{rdfs}subClassOf>'"

    turn_bn = "'_:turn_' || conv_id || '_' || CAST(turn_idx AS VARCHAR)"
    conv_bn = "'_:conv_' || conv_id"
    tool_bn = "'_:tool_' || tool"

    # label tag = sorted labels joined by '-'; turn labels are
    # sort(['Turn', role]) = 'Turn-<role>' ('T' < lowercase).
    turn_tag = "'Turn-' || role"

    def prop_iri(kind: str, key: str, tag_sql: str) -> str:
        return f"'<{vocab}{kind}/property/{key}/' || {tag_sql} || '>'"

    def node_label_iri(label_sql: str) -> str:
        return f"'<{vocab}node/label/' || {label_sql} || '>'"

    def edge_label_iri(label: str) -> str:
        return f"'<{vocab}edge/label/{label}>'"

    # sanitized holder ids (':' -> '_'), used both for bnode names and
    # property-value bnode names
    turn_sid = "'turn_' || conv_id || '_' || CAST(turn_idx AS VARCHAR)"
    conv_sid = "'conv_' || conv_id"
    tool_sid = "'tool_' || tool"

    lit = "'\"' || {} || '\"'"

    branches = []

    def add(s, p, o, frm="t", where=""):
        w = f" WHERE {where}" if where else ""
        branches.append(f"SELECT {s} AS s, {p} AS p, {o} AS o FROM {frm}{w}")

    # turn nodes
    add(turn_bn, a, f"'<{pgo}Node>'")
    add(turn_bn, a, node_label_iri("'Turn'"))
    add(turn_bn, a, node_label_iri("role"))
    # label meta (DISTINCT via outer dedup)
    add(node_label_iri("'Turn'"), rlabel, "'\"Turn\"'")
    add(node_label_iri("role"), rlabel, lit.format("role"))
    add(node_label_iri("'Turn'"), a, f"'<{prec}CreatedNodeLabel>'")
    add(node_label_iri("role"), a, f"'<{prec}CreatedNodeLabel>'")
    # conversation nodes
    add(conv_bn, a, f"'<{pgo}Node>'")
    add(conv_bn, a, node_label_iri("'Conversation'"))
    add(node_label_iri("'Conversation'"), rlabel, "'\"Conversation\"'")
    add(node_label_iri("'Conversation'"), a, f"'<{prec}CreatedNodeLabel>'")
    # tool nodes
    add(tool_bn, a, f"'<{pgo}Node>'", where="tool IS NOT NULL")
    add(tool_bn, a, node_label_iri("'Tool'"), where="tool IS NOT NULL")
    add(node_label_iri("'Tool'"), rlabel, "'\"Tool\"'", where="tool IS NOT NULL")
    add(node_label_iri("'Tool'"), a, f"'<{prec}CreatedNodeLabel>'", where="tool IS NOT NULL")
    add(f"'<{prec}CreatedNodeLabel>'", sub, f"'<{prec}CreatedVocabulary>'")

    # ---- node properties -------------------------------------------
    esc_text = "replace(replace(text, '\\', '\\\\'), '\"', '\\\"')"

    def prop_quads(holder_sid, kind, key, tag_sql, value_sql, where=""):
        holder_bn = f"'_:' || {holder_sid}"
        piri = prop_iri(kind, key, tag_sql)
        pv = f"'_:propval_' || {holder_sid} || '_{key}_0'"
        add(holder_bn, piri, pv, where=where)
        add(pv, a, f"'<{prec}PropertyKeyValue>'", where=where)
        add(pv, f"'<{rdf}value>'", value_sql, where=where)
        add(piri, rlabel, f"'\"{key}\"'", where=where)
        add(piri, a, f"'<{prec}PropertyKey>'", where=where)
        add(piri, a, f"'<{prec}CreatedPropertyKey>'", where=where)

    # turn: text property (tag = Turn-<role>)
    prop_quads(turn_sid, "node", "text", turn_tag, f"'\"' || {esc_text} || '\"'")
    # turn: tool property (only tool turns)
    prop_quads(turn_sid, "node", "tool", turn_tag, lit.format("tool"), where="tool IS NOT NULL")
    # conversation: id property (conv nodes repeat per turn; outer DISTINCT dedups)
    prop_quads(conv_sid, "node", "id", "'Conversation'", lit.format("conv_id"))
    # tool: name property
    prop_quads(tool_sid, "node", "name", "'Tool'", lit.format("tool"), where="tool IS NOT NULL")
    add(f"'<{prec}CreatedPropertyKey>'", sub, f"'<{prec}CreatedVocabulary>'")

    # ---- edges ------------------------------------------------------
    def edge_quads(edge_bn, src_bn, dst_bn, label, where=""):
        iri = edge_label_iri(label)
        add(edge_bn, a, f"'<{pgo}Edge>'", frm="tm", where=where)
        add(edge_bn, f"'<{rdf}subject>'", src_bn, frm="tm", where=where)
        add(edge_bn, f"'<{rdf}object>'", dst_bn, frm="tm", where=where)
        add(edge_bn, f"'<{rdf}predicate>'", iri, frm="tm", where=where)
        add(iri, rlabel, f"'\"{label}\"'", frm="tm", where=where)
        add(iri, a, f"'<{prec}CreatedEdgeLabel>'", frm="tm", where=where)

    next_bn = "'_:edge_next_' || conv_id || '_' || CAST(turn_idx AS VARCHAR)"
    in_bn = "'_:edge_in_' || conv_id || '_' || CAST(turn_idx AS VARCHAR)"
    uses_bn = "'_:edge_uses_' || conv_id || '_' || CAST(turn_idx AS VARCHAR)"
    next_dst = "'_:turn_' || conv_id || '_' || CAST(turn_idx + 1 AS VARCHAR)"
    edge_quads(next_bn, turn_bn, next_dst, "NEXT", where="turn_idx < max_turn_idx")
    edge_quads(in_bn, turn_bn, conv_bn, "IN")
    edge_quads(uses_bn, turn_bn, tool_bn, "USES", where="tool IS NOT NULL")
    add(f"'<{prec}CreatedEdgeLabel>'", sub, f"'<{prec}CreatedVocabulary>'")

    body = "\nUNION ALL\n".join(branches)
    return f"""
{_t_cte()}, tm AS (
  SELECT *, max(turn_idx) OVER (PARTITION BY conv_id) AS max_turn_idx FROM t
)
SELECT DISTINCT s, p, o FROM (
{body}
) u
"""


def _kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full extract -> link -> canonicalize -> materialize output:
    PRSC context triples + mention/entity triples. One cached
    transcripts DF feeds every stage."""
    t = cached_transcripts_aug(spark, sf_dir)
    # the two branches are each internally deduplicated and are
    # disjoint by predicate namespace — no outer dropDuplicates needed
    # (saves a full-output shuffle)
    return flagship_triples(spark, sf_dir, transcripts=t).unionByName(
        entity_triples(spark, sf_dir, transcripts=t)
    )


def _kg_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KG session cache, hash-partitioned by SUBJECT at build time.

    Every consumer that joins KG slices does it on a subject variable
    (the BGP family's ?turn joins, the shape profile's type join), so
    caching the frame in subject layout makes those joins co-partitioned
    and exchange-free — one extra exchange paid once at cache build,
    measured 3-8x warm wins on the BGP algebra queries (guide §2.4:
    operations keyed the same way share one exchange).  The graph
    builds (instance edges, resource edges) read the same cache, so a
    session materializes the KG construction once, not once per
    family."""
    return shared_frame(
        spark, f"kg_triples:{sf_dir}", lambda: _kg_triples(spark, sf_dir),
        partition_by=("s",),
    )


def _kg_pr_graph(spark: SparkSession, sf_dir: str):
    """Session-cached integer-encoded pagerank/ppr graph (ids, edsl,
    n_nodes) — the dense id mapping with PPR's seed flag and the
    self-row-augmented idst-partitioned in-edge frame every iteration
    re-reads (plans/pagerank.py pagerank_edges_sl), both built from the
    session-cached resource-edge list."""
    edges = shared_frame(
        spark, f"kg_pr_edges:{sf_dir}",
        lambda: resource_edges(_kg_cached(spark, sf_dir)), columnar=True,
    )
    ids = shared_frame(
        spark, f"kg_pr_ids:{sf_dir}", lambda: pagerank_ids(edges), columnar=True
    )
    edsl = shared_frame(
        spark, f"kg_pr_edsl:{sf_dir}", lambda: pagerank_edges_sl(ids, edges),
        partition_by=("idst",),
    )
    return ids, edsl, shared_rows(spark, f"kg_pr_ids:{sf_dir}")


def _kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank over the full KG resource graph (see
    plans/pagerank.py): ranks every IRI/bnode by the 3-iteration
    fixed-point recurrence, hash-comparable because the arithmetic is
    exact and order-free. The encoded graph (the frames all three
    iterations re-read) is session-cached alongside the other shared
    inputs, so only the first call pays the KG materialization."""
    ids, edsl, n = _kg_pr_graph(spark, sf_dir)
    return pagerank_iterate_ids(ids, edsl, n_nodes=n)


def _kg_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank seeded on the canonical entity nodes
    (see plans/ppr.py); shares the session-cached encoded graph with
    kg_pagerank, so the iterations are the only per-call work."""
    ids, edsl, n = _kg_pr_graph(spark, sf_dir)
    return ppr_iterate_ids(ids, edsl, n_nodes=n)


def _kg_und(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared symmetric instance edge list (src, dst).

    Checkpoint-held, not columnar-cached: it carries no partitioning
    contract (its (src, dst)-distinct layout satisfies no consumer's
    clustering), and keeping the big string frame out of the columnar
    cache pool measured 15-45% on every instance-graph query in
    clean-session A/B (OPTIMIZATION_r06.md §15)."""
    return shared_frame(
        spark, f"kg_cc_und:{sf_dir}",
        lambda: cc_graph(instance_edges(_kg_cached(spark, sf_dir)))[0],
    )


def _kg_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree histogram of the instance graph (see
    plans/degree.py; exact bit-length buckets, no floating log2) over
    the session-cached symmetric edge list."""
    return degree_histogram(_kg_und(spark, sf_dir))


def _kg_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL-style shape inference over the emitted KG (see
    plans/shapes.py): per-class predicate cardinalities, the
    post-migration audit a PG->RDF consumer starts from."""
    kg = _kg_cached(spark, sf_dir)
    return shape_profile(kg, subject_partitioned=True)


def _kg_instance_graph(spark: SparkSession, sf_dir: str):
    """Session-cached integer-encoded instance graph (ids, iund,
    iund_sl) — shared by kg_components and kg_bfs, so only the first
    caller pays the KG materialization and the id encoding.  ``iund_sl``
    is the self-loop-augmented, idst-partitioned round frame that makes
    each propagation round one shuffle-free stage (plans/components.py
    selfloop_edges)."""
    und = _kg_und(spark, sf_dir)
    ids = shared_frame(
        spark, f"kg_cc_ids:{sf_dir}",
        lambda: cc_encode(und, und.select(F.col("src").alias("node")).distinct())[0],
        columnar=True,
    )
    # partitioned by isrc: the degree aggregations and adjacency
    # groupings of kg_kcore / kg_triangles / kg_linkpred all key on
    # isrc, so this layout removes their per-query exchange outright
    # (guide §2.4 — operations keyed the same way share one exchange,
    # paid once at build)
    iund = shared_frame(
        spark, f"kg_cc_iund:{sf_dir}",
        lambda: id_edges(ids, und),
        partition_by=("isrc",),
    )
    iund_sl = shared_frame(
        spark, f"kg_cc_iund_sl:{sf_dir}", lambda: selfloop_edges(ids, iund),
        partition_by=("idst",),
    )
    return ids, iund, iund_sl


def _kg_bgp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A user-facing BGP (basic graph pattern) query over the full KG
    — the reference's matchAndBind surface (SURVEY.md J1) driven as a
    4-pattern conjunctive query: every (turn, entity, entity name,
    tool, conversation) co-occurrence. Variables become columns; the
    pattern list compiles to a left-deep equi-join chain that Catalyst
    reorders/broadcasts freely (the tiny name/tool dimensions become
    broadcast sides)."""
    kg = _kg_cached(spark, sf_dir)
    return match_and_bind(kg, [
        ("?turn", f"<{EX}mentions>", "?entity"),
        ("?entity", f"<{EX}name>", "?name"),
        ("?turn", f"<{EX}usesTool>", "?tool"),
        ("?turn", f"<{EX}inConversation>", "?conv"),
    ])


def _kg_bgp_oracle() -> str:
    return f"""
WITH kg AS MATERIALIZED ({_kg_triples_oracle()})
SELECT t1.s AS turn, t1.o AS entity, t2.o AS name, t3.o AS tool, t4.o AS conv
FROM kg t1
JOIN kg t2 ON t2.p = '<{EX}name>' AND t2.s = t1.o
JOIN kg t3 ON t3.p = '<{EX}usesTool>' AND t3.s = t1.s
JOIN kg t4 ON t4.p = '<{EX}inConversation>' AND t4.s = t1.s
WHERE t1.p = '<{EX}mentions>'
"""


def _kg_bgp_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIONAL + FILTER over the KG: every turn of a hash-sampled
    half of the conversations, with its tool binding where one exists
    (most turns carry none — genuine OPTIONAL semantics, surfaced as
    '' so the gate comparator never sorts mixed NULLs).  The OPTIONAL
    is a left join on the shared ?turn variable (plans/bgp.py:
    optional_bind); the FILTER is the portable md5-prefix hash."""
    kg = _kg_cached(spark, sf_dir)
    base = match_and_bind(kg, [("?turn", f"<{EX}inConversation>", "?conv")])
    opt = optional_bind(base, kg, [("?turn", f"<{EX}usesTool>", "?tool")])
    h = F.conv(F.substring(F.md5(F.col("conv")), 1, 8), 16, 10).cast("long")
    return opt.filter(h % 2 == 0).select(
        "turn", "conv", F.coalesce("tool", F.lit("")).alias("tool")
    )


def _kg_bgp_optional_oracle() -> str:
    return f"""
WITH kg AS MATERIALIZED ({_kg_triples_oracle()})
SELECT t1.s AS turn, t1.o AS conv, COALESCE(t2.o, '') AS tool
FROM kg t1
LEFT JOIN kg t2 ON t2.p = '<{EX}usesTool>' AND t2.s = t1.s
WHERE t1.p = '<{EX}inConversation>'
  AND CAST(('0x' || substr(md5(t1.o), 1, 8)) AS BIGINT) % 2 = 0
"""


def _kg_bgp_union_minus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION + MINUS completing the BGP algebra (with #76 BGP, #95
    OPTIONAL/FILTER, #85 property paths, and J2's EXISTS): turns that
    mention an entity OR use a tool (multiplicity-preserving UNION,
    as in the SPARQL algebra), MINUS every turn of a hash-sampled
    quarter of the conversations."""
    kg = _kg_cached(spark, sf_dir)
    a = match_and_bind(kg, [("?turn", f"<{EX}mentions>", "?e")]).select(
        "turn", F.lit("mention").alias("src")
    )
    b = match_and_bind(kg, [("?turn", f"<{EX}usesTool>", "?t")]).select(
        "turn", F.lit("tool").alias("src")
    )
    h = F.conv(F.substring(F.md5(F.col("conv")), 1, 8), 16, 10).cast("long")
    grp = match_and_bind(
        kg, [("?turn", f"<{EX}inConversation>", "?conv")]
    ).filter(h % 4 == 0)
    return minus_bind(union_bind(a, b), grp)


def _kg_bgp_union_minus_oracle() -> str:
    return f"""
WITH kg AS MATERIALIZED ({_kg_triples_oracle()})
SELECT turn, src FROM (
  SELECT s AS turn, 'mention' AS src FROM kg WHERE p = '<{EX}mentions>'
  UNION ALL
  SELECT s AS turn, 'tool' AS src FROM kg WHERE p = '<{EX}usesTool>'
) u
WHERE NOT EXISTS (
  SELECT 1 FROM kg g
  WHERE g.p = '<{EX}inConversation>' AND g.s = u.turn
    AND CAST(('0x' || substr(md5(g.o), 1, 8)) AS BIGINT) % 4 = 0
)
"""


def _kg_bgp_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY / aggregates / HAVING completing the SPARQL algebra
    surface (with #76 BGP, #95 OPTIONAL/FILTER, #96 UNION/MINUS): per
    entity name, how many mention bindings, distinct mentioning turns
    and distinct conversations it appears in, HAVING >= 2 distinct
    turns — the 'which entities recur' question every KG consumer
    asks first.  One hash aggregate over the 3-pattern binding frame
    (plans/bgp.py:aggregate_bind); counts are exact integers, so the
    result is hash-portable against the DuckDB oracle."""
    kg = _kg_cached(spark, sf_dir)
    b = match_and_bind(kg, [
        ("?turn", f"<{EX}mentions>", "?entity"),
        ("?entity", f"<{EX}name>", "?name"),
        ("?turn", f"<{EX}inConversation>", "?conv"),
    ])
    return aggregate_bind(
        b,
        ["name"],
        {
            "n_mentions": F.count(F.lit(1)),
            "n_turns": F.countDistinct("turn"),
            "n_convs": F.countDistinct("conv"),
            "first_turn": F.min("turn"),
        },
        having=F.col("n_turns") >= 2,
    )


def _kg_bgp_agg_oracle() -> str:
    return f"""
WITH kg AS MATERIALIZED ({_kg_triples_oracle()})
SELECT t2.o AS name,
       COUNT(*) AS n_mentions,
       COUNT(DISTINCT t1.s) AS n_turns,
       COUNT(DISTINCT t3.o) AS n_convs,
       MIN(t1.s) AS first_turn
FROM kg t1
JOIN kg t2 ON t2.p = '<{EX}name>' AND t2.s = t1.o
JOIN kg t3 ON t3.p = '<{EX}inConversation>' AND t3.s = t1.s
WHERE t1.p = '<{EX}mentions>'
GROUP BY t2.o
HAVING COUNT(DISTINCT t1.s) >= 2
"""


def _kg_bgp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT (the SPARQL Slice operator) stacked on #99's
    aggregation: the 5 most-mentioned entity names (5 < the 8-name
    dictionary, so the Slice genuinely cuts).  The order spec
    is total (count DESC, then the unique name ASC) so the selected
    row set is deterministic under ties; orderBy+limit compiles to
    TakeOrderedAndProject — per-partition k-row heaps, no global sort
    shuffle, the same plan shape the gate asserts for ann seeding."""
    kg = _kg_cached(spark, sf_dir)
    b = match_and_bind(kg, [
        ("?turn", f"<{EX}mentions>", "?entity"),
        ("?entity", f"<{EX}name>", "?name"),
    ])
    agg = aggregate_bind(b, ["name"], {"n_mentions": F.count(F.lit(1))})
    return slice_bind(
        agg, [F.col("n_mentions").desc(), F.col("name").asc()], 5
    )


def _kg_bgp_topk_oracle() -> str:
    return f"""
WITH kg AS MATERIALIZED ({_kg_triples_oracle()})
SELECT t2.o AS name, COUNT(*) AS n_mentions
FROM kg t1
JOIN kg t2 ON t2.p = '<{EX}name>' AND t2.s = t1.o
WHERE t1.p = '<{EX}mentions>'
GROUP BY t2.o
ORDER BY n_mentions DESC, name ASC
LIMIT 5
"""


def _pg_graphml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphML export of the property graph (see pg/graphml.py):
    distributed one-line-per-element document assembly, value-gated
    line set incl. XML escaping and endpoint wiring."""
    t = cached_transcripts_aug(spark, sf_dir)
    return graphml_lines(spark, pg_nodes(t), pg_edges(t))


def _kg_wsp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round weighted shortest path to the nearest entity node
    (see plans/wsp.py: integer min-plus Bellman-Ford, portable md5 edge
    weights); shares BOTH the session-cached symmetric edge list and
    the integer id encoding with kg_components/kg_bfs, so rounds
    shuffle dense integers, not bnode strings."""
    und = _kg_und(spark, sf_dir)
    ids, _iund, _iund_sl = _kg_instance_graph(spark, sf_dir)
    wund_sl = shared_frame(
        spark, f"kg_wsp_wund_sl:{sf_dir}", lambda: wsp_weighted_edges(ids, und),
        partition_by=("idst",),
    )
    return wsp_ids(
        ids, und, wund_sl=wund_sl, n_nodes=shared_rows(spark, f"kg_cc_ids:{sf_dir}")
    )


def _kg_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling over the KG instance graph (see
    plans/kcore.py); shares the session-cached symmetric edge list."""
    ids, iund, _iund_sl = _kg_instance_graph(spark, sf_dir)
    return kcore_ids(ids, iund, n_nodes=shared_rows(spark, f"kg_cc_ids:{sf_dir}"))


def _kg_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the KG instance graph (see
    plans/triangles.py: degree-oriented wedge join, hub-safe by
    construction); shares the session-cached symmetric edge list with
    kg_components/kg_bfs."""
    ids, iund, _iund_sl = _kg_instance_graph(spark, sf_dir)
    return triangle_counts_ids(
        ids, iund,
        n_nodes=shared_rows(spark, f"kg_cc_ids:{sf_dir}"),
        n_und=shared_rows(spark, f"kg_cc_iund:{sf_dir}"),
    )


def _kg_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the KG instance graph (see
    plans/components.py): conversation clusters merged only through
    shared entity/tool nodes, via min-label + pointer-jump propagation
    with an exact sum-based early exit and a loud non-convergence
    failure.  The integer-encoded graph (the frames every round
    re-reads) is session-cached, so warm calls pay only the rounds."""
    ids, iund, iund_sl = _kg_instance_graph(spark, sf_dir)
    return cc_iterate_ids(
        ids, iund, iund_sl=iund_sl, n_nodes=shared_rows(spark, f"kg_cc_ids:{sf_dir}")
    )


def _kg_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-horizon hop distance from every KG resource to its
    nearest entity node (see plans/bfs.py); shares the session-cached
    integer graph with kg_components."""
    ids, iund, iund_sl = _kg_instance_graph(spark, sf_dir)
    return bfs_ids(
        ids, iund, iund_sl=iund_sl, n_nodes=shared_rows(spark, f"kg_cc_ids:{sf_dir}")
    )


def _kg_path_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL-style ``ex:next+`` property-path closure (horizon 16)
    over the KG via min-plus iterative doubling (see plans/paths.py);
    the oracle is an INDEPENDENT closed form (turn-index arithmetic),
    not a mirrored replay."""
    kg = _kg_cached(spark, sf_dir)
    edges = next_path_edges(kg, f"<{EX}next>")
    # closed-form integer encoding of the turn bnodes
    # ('_:turn_conv-<K>_<idx>' <-> K * 2^20 + idx; idx is bounded far
    # below 2^20 by the transcripts construction, and ex:next edges
    # connect turn bnodes only, by the flagship context definition):
    # the doubling rounds then self-join 8-byte longs instead of ~22-B
    # strings, and both encode and decode are pure expressions — no id
    # dictionary, no back-map join.  The independent closed-form oracle
    # cross-checks the whole rewrite.
    shift = 1 << 20
    turn_re = r"^_:turn_conv-([0-9]+)_([0-9]+)$"

    def enc(c: str) -> F.Column:
        return (
            F.regexp_extract(F.col(c), turn_re, 1).cast("long") * shift
            + F.regexp_extract(F.col(c), turn_re, 2).cast("long")
        ).alias(c)

    def dec(c: str) -> F.Column:
        return F.concat(
            F.lit("_:turn_conv-"),
            F.expr(f"{c} div {shift}").cast("string"),
            F.lit("_"),
            (F.col(c) % shift).cast("string"),
        ).alias(c)

    r = path_closure(edges.select(enc("src"), enc("dst")))
    return r.select(dec("src"), dec("dst"), "dist")


def _kg_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk-style hash-seeded deterministic random-walk corpus
    over the KG instance graph (see plans/walks.py); shares the
    session-cached symmetric edge list with kg_components."""
    und = _kg_und(spark, sf_dir)
    return random_walks(und, undc=_kg_undc(spark, sf_dir, und))


def _kg_undc(spark: SparkSession, sf_dir: str, und: DataFrame) -> DataFrame:
    """Session-shared degree-capped adjacency view, shared by the two
    walk corpora (the cap window dominates their warm cost otherwise).
    Held as a localCheckpoint rather than a columnar cache: the walk
    loops re-scan this frame once per step and rely on no partitioning
    contract, and reading checkpoint row blocks instead of decoding the
    columnar cache per scan measured 25-30% per corpus at sf0.1
    (clean-session A/B/A/B; see OPTIMIZATION_r06.md).  This matches the
    eager localCheckpoint the operators themselves build when no shared
    view is passed."""
    return shared_frame(spark, f"kg_undc:{sf_dir}", lambda: capped_adjacency(und))


def _kg_node2vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order (p, q)-biased walk corpus over the KG instance
    graph (see plans/node2vec.py); shares the session-cached symmetric
    edge list with kg_components / kg_random_walks."""
    und = _kg_und(spark, sf_dir)
    return node2vec_walks(und, undc=_kg_undc(spark, sf_dir, und))


def _kg_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded common-neighbor link-prediction features (CN / Jaccard
    / resource-allocation, integer fixed-point — see plans/linkpred.py)
    over the session-cached KG instance graph."""
    ids, iund, _iund_sl = _kg_instance_graph(spark, sf_dir)
    return linkpred_scores_ids(
        ids, iund, n_nodes=shared_rows(spark, f"kg_cc_ids:{sf_dir}")
    )


def _kg_triples_oracle() -> str:
    return f"""
SELECT DISTINCT s, p, o FROM (
  ({flagship_oracle_sql()})
  UNION ALL
  ({entity_triples_oracle_sql()})
) u
"""


# the mention-family queries over the session-cached transcripts: the
# dictionary regexp then scans the materialized text column instead of
# re-deriving the whole transcripts construction per call (measured
# 1.6 s vs 0.4 s for the links subtree at sf0.1) — same rows, the
# cache IS transcripts_df
def _mentions_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mentions_df(spark, sf_dir, cached_transcripts(spark, sf_dir))


def _entity_links_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return entity_links(spark, sf_dir, cached_transcripts(spark, sf_dir))


def _fuzzy_links_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fuzzy_links(spark, sf_dir, cached_transcripts(spark, sf_dir))


def _canonical_entities_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return canonical_entities(spark, sf_dir, cached_transcripts(spark, sf_dir))


def _entity_triples_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return entity_triples(spark, sf_dir, cached_transcripts(spark, sf_dir))


# ---------------------------------------------------------------- registry
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "transcripts": transcripts_df,
        "pg_nodes": _pg_nodes_flat,
        "pg_edges": _pg_edges_flat,
        "prec0_triples": _prec0_triples,
        "cypher_create": _cypher_create,
        "gremlin_insert": _gremlin_insert,
        "bolt_records": _bolt_records,
        "prsc_transcript_triples": flagship_triples,
        "named_graph_quads": named_graph_quads,
        "precc_triples": precc_transcript_triples,
        "prsc_roundtrip": prsc_roundtrip,
        "prec0_roundtrip": prec0_roundtrip,
        "mentions": _mentions_cached,
        "entity_links": _entity_links_cached,
        "fuzzy_links": _fuzzy_links_cached,
        "canonical_entities": _canonical_entities_cached,
        "entity_triples": _entity_triples_cached,
        "kg_triples": _kg_triples,
        "kg_pagerank": _kg_pagerank,
        "kg_components": _kg_components,
        "kg_bfs": _kg_bfs,
        "text_stats": text_stats,
        "lang_id": lang_id,
        "doc_fingerprint": doc_fingerprint,
        "token_counts": token_counts,
        "quality_gopher": quality_gopher,
        "pii_scrub": pii_scrub,
        "tfidf_rank": tfidf_rank,
        "hybrid_rerank": hybrid_rerank,
        "inverted_index": inverted_index,
        "dedup_exact": dedup_exact,
        "dedup_minhash": dedup_minhash_pairs,
        "dedup_ngram_jaccard": dedup_ngram_jaccard,
        "dedup_simhash": dedup_simhash_groups,
        "dedup_simhash_hamming": dedup_simhash_hamming,
        "dedup_simhash_cc": dedup_simhash_cc,
        "embedding_neardup": embedding_neardup,
        "ann_bruteforce": ann_bruteforce,
        "ann_ivf": ann_ivf,
        "ann_lsh": ann_lsh,
        "ann_pq": ann_pq,
        "ann_ivfpq": ann_ivfpq,
        "multimodal_features": binary_features,
        "media_decode": media_features,
        "media_resize": media_resized_features,
        "media_gif": media_gif_features,
        "media_jpeg": media_jpeg_features,
        "media_adpcm": media_adpcm_features,
        "media_video": video_features,
        "kg_stream_triples": kg_stream_triples,
        "lakehouse_scan": lakehouse_scan,
        "lakehouse_time_travel": lakehouse_time_travel,
        "lakehouse_merge": lakehouse_merge,
        "lakehouse_incremental": lakehouse_incremental,
        "lakehouse_zorder": lakehouse_zorder,
        "cms_heavy_hitters": cms_heavy_hitters,
        "hll_registers": hll_registers,
        "dataset_split": dataset_split,
        "events_asof_join": events_asof_join,
        "events_range_join": events_range_join,
        "decontaminate": decontaminate,
        "pretrain_filter": pretrain_filter,
        "events_sessionize": sessionize_batch,
        "events_rollup": windowed_value_rollup,
        "events_percentiles": events_percentiles,
        "kg_incremental": kg_incremental,
        "kg_triangles": _kg_triangles,
        "quality_repetition": quality_repetition,
        "lakehouse_delete": lakehouse_delete,
        "bpe_train": bpe_train,
        "bpe_encode": bpe_encode,
        "hll_merge": hll_merge,
        "lakehouse_hidden": lakehouse_hidden,
        "stratified_sample": stratified_sample,
        "pack_sequences": pack_sequences,
        "kg_bgp": _kg_bgp,
        "kg_asof": kg_asof,
        "kg_wsp": _kg_wsp,
        "context_windows": context_windows,
        "kg_negative_samples": kg_negative_samples,
        "entity_cooccur": entity_cooccur,
        "pg_graphml": _pg_graphml,
        "table_profile": table_profile,
        "kg_kcore": _kg_kcore,
        "kg_path_star": _kg_path_star,
        "kg_random_walks": _kg_random_walks,
        "kg_node2vec": _kg_node2vec,
        "kg_linkpred": _kg_linkpred,
        "reply_latency": reply_latency,
        "kg_ppr": _kg_ppr,
        "dedup_spans": dedup_spans,
        "kg_shapes": _kg_shapes,
        "kg_bgp_optional": _kg_bgp_optional,
        "kg_bgp_union_minus": _kg_bgp_union_minus,
        "kg_bgp_agg": _kg_bgp_agg,
        "kg_bgp_topk": _kg_bgp_topk,
        "embedding_quantize": embedding_quantize,
        "kg_degree_dist": _kg_degree_dist,
        "media_mulaw": media_mulaw_features,
        "lakehouse_evolution": lakehouse_evolution,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "transcripts": transcripts_oracle_sql(),
        "pg_nodes": _pg_nodes_oracle(),
        "pg_edges": _pg_edges_oracle(),
        "prec0_triples": _prec0_oracle(),
        "cypher_create": _cypher_create_oracle(),
        "gremlin_insert": _gremlin_insert_oracle(),
        "bolt_records": _bolt_records_oracle(),
        "prsc_transcript_triples": flagship_oracle_sql(),
        "named_graph_quads": named_graph_oracle_sql(),
        "precc_triples": precc_oracle_sql(),
        "prsc_roundtrip": prsc_roundtrip_oracle_sql(),
        "prec0_roundtrip": prec0_roundtrip_oracle_sql(),
        "mentions": mentions_oracle_sql(),
        "entity_links": entity_links_oracle_sql(),
        "fuzzy_links": fuzzy_links_oracle_sql(),
        "canonical_entities": canonical_entities_oracle_sql(),
        "entity_triples": entity_triples_oracle_sql(),
        "kg_triples": _kg_triples_oracle(),
        "kg_pagerank": pagerank_oracle_sql(_kg_triples_oracle()),
        "kg_components": components_oracle_sql(_kg_triples_oracle()),
        "kg_bfs": bfs_oracle_sql(_kg_triples_oracle()),
        "text_stats": text_stats_oracle_sql(),
        "lang_id": lang_id_oracle_sql(),
        "doc_fingerprint": doc_fingerprint_oracle_sql(),
        "token_counts": token_counts_oracle_sql(),
        "quality_gopher": quality_gopher_oracle_sql(),
        "pii_scrub": pii_scrub_oracle_sql(),
        "tfidf_rank": tfidf_rank_oracle_sql(),
        "hybrid_rerank": hybrid_rerank_oracle_sql(),
        "inverted_index": inverted_index_oracle_sql(),
        "dedup_exact": dedup_exact_oracle_sql(),
        "dedup_minhash": dedup_minhash_oracle_sql(),
        "dedup_ngram_jaccard": dedup_ngram_oracle_sql(),
        "dedup_simhash": dedup_simhash_oracle_sql(),
        "dedup_simhash_hamming": dedup_simhash_hamming_oracle_sql(),
        "dedup_simhash_cc": dedup_simhash_cc_oracle_sql(),
        "embedding_neardup": embedding_neardup_oracle_sql(),
        "ann_bruteforce": ann_bruteforce_oracle_sql(),
        "ann_ivf": ann_ivf_oracle_sql(),
        "ann_lsh": ann_lsh_oracle_sql(),
        "ann_pq": ann_pq_oracle_sql(),
        "ann_ivfpq": ann_ivfpq_oracle_sql(),
        "multimodal_features": binary_features_oracle_sql(),
        "media_decode": media_features_oracle_sql(),
        "media_resize": media_resize_oracle_sql(),
        "media_gif": media_gif_oracle_sql(),
        "media_jpeg": media_jpeg_oracle_sql(),
        "media_adpcm": media_adpcm_oracle_sql(),
        "media_video": video_features_oracle_sql(),
        "kg_stream_triples": _kg_triples_oracle(),
        "lakehouse_scan": lakehouse_scan_oracle_sql(),
        "lakehouse_time_travel": lakehouse_time_travel_oracle_sql(),
        "lakehouse_merge": lakehouse_merge_oracle_sql(),
        "lakehouse_incremental": lakehouse_incremental_oracle_sql(),
        "lakehouse_zorder": lakehouse_zorder_oracle_sql(),
        "cms_heavy_hitters": cms_heavy_hitters_oracle_sql(),
        "hll_registers": hll_registers_oracle_sql(),
        "dataset_split": dataset_split_oracle_sql(),
        "events_asof_join": events_asof_join_oracle_sql(),
        "events_range_join": events_range_join_oracle_sql(),
        "decontaminate": decontaminate_oracle_sql(),
        "pretrain_filter": pretrain_filter_oracle_sql(),
        "events_sessionize": sessionize_oracle_sql(),
        "events_rollup": windowed_value_rollup_oracle_sql(),
        "events_percentiles": events_percentiles_oracle_sql(),
        "kg_incremental": kg_incremental_oracle_sql(),
        "kg_triangles": triangles_oracle_sql(_kg_triples_oracle()),
        "quality_repetition": quality_repetition_oracle_sql(),
        "lakehouse_delete": lakehouse_delete_oracle_sql(),
        "bpe_train": bpe_train_oracle_sql(),
        "bpe_encode": bpe_encode_oracle_sql(),
        "hll_merge": hll_merge_oracle_sql(),
        "lakehouse_hidden": lakehouse_hidden_oracle_sql(),
        "stratified_sample": stratified_sample_oracle_sql(),
        "pack_sequences": pack_sequences_oracle_sql(),
        "kg_bgp": _kg_bgp_oracle(),
        "kg_asof": kg_asof_oracle_sql(),
        "kg_wsp": wsp_oracle_sql(_kg_triples_oracle()),
        "context_windows": context_windows_oracle_sql(),
        "kg_negative_samples": kg_negative_samples_oracle_sql(),
        "entity_cooccur": entity_cooccur_oracle_sql(),
        "pg_graphml": graphml_oracle_sql(_pg_nodes_oracle(), _pg_edges_oracle()),
        "table_profile": table_profile_oracle_sql(),
        "kg_kcore": kcore_oracle_sql(_kg_triples_oracle()),
        "kg_path_star": path_star_oracle_sql(),
        "kg_random_walks": walks_oracle_sql(_kg_triples_oracle()),
        "kg_node2vec": node2vec_oracle_sql(_kg_triples_oracle()),
        "kg_linkpred": linkpred_oracle_sql(_kg_triples_oracle()),
        "reply_latency": reply_latency_oracle_sql(),
        "kg_ppr": ppr_oracle_sql(_kg_triples_oracle()),
        "dedup_spans": dedup_spans_oracle_sql(),
        "kg_shapes": shapes_oracle_sql(_kg_triples_oracle()),
        "kg_bgp_optional": _kg_bgp_optional_oracle(),
        "kg_bgp_agg": _kg_bgp_agg_oracle(),
        "kg_bgp_topk": _kg_bgp_topk_oracle(),
        "kg_bgp_union_minus": _kg_bgp_union_minus_oracle(),
        "embedding_quantize": embedding_quantize_oracle_sql(),
        "kg_degree_dist": degree_oracle_sql(_kg_triples_oracle()),
        "media_mulaw": media_mulaw_oracle_sql(),
        "lakehouse_evolution": lakehouse_evolution_oracle_sql(),
    }

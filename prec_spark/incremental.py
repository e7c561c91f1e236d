"""Incremental KG maintenance over an evolving IceLite transcript table.

The north-star pipeline materializes triples from a lakehouse table
that keeps changing: new conversations arrive, late turns append to
open conversations, and compliance edits rewrite old turns in place.
Recomputing the whole KG per refresh is the thing that does NOT scale;
this module is the maintenance job that doesn't have to.

Two pieces make exact incremental maintenance possible:

1. **Per-conversation provenance (lineage) on every triple.** The
   store is ``(conv_id, s, p, o)`` where a triple is attributed to
   conversation *c* iff running the pipeline on *c*'s turns alone
   would emit it. Conversation-local triples (turn/conversation
   nodes, NEXT/IN/USES edges, mention edges) get their own conv;
   corpus-level triples (tool nodes, entity typing/name) are
   attributed to EVERY conversation that contributes them. That makes
   the store compositional — ``store(S) = U_{c in S} store({c})`` —
   which is exactly the property reference-counted incremental view
   maintenance needs: the distinct ``(s, p, o)`` projection of the
   store equals a full recompute, always.

2. **A file-granular changelog scan** (``IceLiteTable.read_changes``):
   the manifest diff between the last-materialized snapshot and the
   current one yields added + removed data files; the distinct
   ``conv_id`` set of those rows is a conservative superset of every
   conversation whose triples might have changed.

Maintenance is then one delete+insert:

    affected  = convs(read_changes(last, now))
    fresh     = pipeline(current turns of affected convs)   # tagged
    store'    = (store anti-join affected) UNION fresh

The driver gate proves the equivalence end-to-end: the staged table
goes through append (base) -> append (new convs + late turns) ->
copy-on-write MERGE (in-place text edits), the Spark side maintains
the snapshot-1 store incrementally to the final snapshot, and the
DuckDB oracle computes the provenance-tagged KG of the FINAL state
from first principles. Any stale triple kept (e.g. a pre-edit text
literal, or a NEXT chain missing late turns), any lost attribution, or
any over-deletion breaks the value hash.

Scale notes: the store anti-join and the recompute semi-join key on
``conv_id`` (the natural partitioning key); the affected-conv set is
tiny relative to the table, so AQE turns both into broadcast joins.
The subject->conversation attribution map is built from the SAME id
helpers the PG projection uses (pg/projection.py), not by parsing
emitted term strings. Clustering the table files by conversation
bucket (here: an explicit IceLite partition column) is what keeps the
file-granular changelog tight — the same reason a 100 TB transcript
table is partitioned by conversation range in production.

Reference behavioral spec: PREC materializes a full graph per run
(/root/reference/src/prec-0/graph-builder.js); incremental
maintenance has no reference counterpart and follows the build brief's
lakehouse/training-pipeline mandate.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .cached import cached_transcripts
from .flagship import EX, _esc, flagship_triples
from .lakehouse.table import IceLiteTable
from .pg.projection import _turn_id, sanitize_id_col
from .text.mentions import entities_df, mentions_expr
from .transcripts import ENTITIES, transcripts_oracle_sql

#: conversations hash into BUCKETS buckets (md5-prefix, the
#: cross-engine-portable integer hash also used by datasets.py)
BUCKETS = 4
NEW_BUCKET = 0  # convs that only arrive in the second append
LATE_BUCKET = 1  # convs whose turns >= LATE_TURN arrive late
EDIT_BUCKET = 2  # convs whose turn_idx % EDIT_MOD == 0 get text edits
LATE_TURN = 6
EDIT_MOD = 5
EDIT_SUFFIX = " [rev]"

_A = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"


def _bucket_col() -> Column:
    return (
        F.conv(F.substring(F.md5(F.col("conv_id")), 1, 8), 16, 10).cast("long")
        % BUCKETS
    ).cast("int")


_BUCKET_SQL = (
    f"CAST('0x' || substr(md5(conv_id), 1, 8) AS BIGINT) % {BUCKETS}"
)


# --------------------------------------------------------------------------
# Provenance-tagged pipeline
# --------------------------------------------------------------------------

def kg_triples_prov(
    spark: SparkSession, sf_dir: str, transcripts: DataFrame
) -> DataFrame:
    """(conv_id, s, p, o): the full extract->link->materialize output
    with per-conversation lineage, compositional by construction.

    PRSC triples are attributed by joining on the subject blank node:
    every transcript-context template has a NODE blank node in subject
    position (turn/conversation/tool), so one node->conv map built with
    the projection's own id helpers covers the whole output. Entity
    triples keep conv_id through the dataflow directly."""
    t = transcripts.localCheckpoint()  # read by PG (6 branches) + map + mentions

    ft = flagship_triples(spark, sf_dir, transcripts=t)
    tool_bn = F.concat(
        F.lit("_:"),
        sanitize_id_col(F.concat(F.lit("tool:"), F.col("tool"))),
    )
    # Attribution WITHOUT an output-sized join: turn/conversation
    # subject bnodes ENCODE their conv_id ('_:turn_<conv>_<idx>' /
    # '_:conv_<conv>'; conv ids contain no '_', so the parse is exact),
    # so those triples — all but a handful — get conv_id from a pure
    # expression instead of shuffling the materialized triple strings
    # against a node->conv map.  Only tool-subject triples (one node
    # per distinct tool) genuinely fan out to every conversation that
    # used the tool; they keep the (tiny) distinct (tool_bn, conv_id)
    # join, which the planner broadcasts.  Same rows as the old full
    # smap join: every flagship subject is a node bnode by catalog
    # construction (pinned by test_prov_covers_all_subjects).
    # both turn and conv prefixes are 7 chars and conv ids contain no
    # '_', so ONE expression parses both kinds; tool subjects match the
    # map and take its conv_id instead (left join duplicates each tool
    # triple per using conversation — the intended fan-out).  ft is
    # referenced exactly once, so the materialization runs one pass.
    parsed_conv = F.expr("substring_index(substring(s, 8), '_', 1)")
    tool_map = (
        t.filter(F.col("tool").isNotNull())
        .select(tool_bn.alias("s"), F.col("conv_id").alias("tool_conv"))
        .distinct()
    )
    prov_f = (
        ft.join(tool_map, "s", "left")
        .select(
            F.coalesce(F.col("tool_conv"), parsed_conv).alias("conv_id"),
            "s", "p", "o",
        )
    )

    ments = t.select(
        "conv_id",
        "turn_idx",
        F.explode(F.array_distinct(mentions_expr())).alias("mention"),
    )
    e = entities_df(spark)
    links = ments.join(F.broadcast(e), ments["mention"] == e["entity_name"])
    t_bn = F.concat(
        F.lit("_:turn_"), F.col("conv_id"), F.lit("_"),
        F.col("turn_idx").cast("string"),
    )
    ent_bn = F.concat(F.lit("_:entity_"), F.col("mention"))
    mention_t = links.select(
        "conv_id",
        t_bn.alias("s"),
        F.lit(f"<{EX}mentions>").alias("p"),
        ent_bn.alias("o"),
    )
    ents = links.select("conv_id", "mention").distinct()
    typing_t = ents.select(
        "conv_id", ent_bn.alias("s"), F.lit(_A).alias("p"),
        F.lit(f"<{EX}Entity>").alias("o"),
    )
    name_t = ents.select(
        "conv_id",
        ent_bn.alias("s"),
        F.lit(f"<{EX}name>").alias("p"),
        F.concat(F.lit('"'), F.col("mention"), F.lit('"')).alias("o"),
    )
    # the three families are disjoint by predicate namespace and each
    # internally distinct — no output-wide dedup shuffle needed
    return prov_f.unionByName(mention_t).unionByName(typing_t).unionByName(
        name_t
    )


# --------------------------------------------------------------------------
# Staged evolving table (built once per process, like the other roots)
# --------------------------------------------------------------------------

_INC_TABLES: dict[str, str] = {}
_FINAL_VERSION = 4  # create + append + append + merge


def _inc_table_root(spark: SparkSession, sf_dir: str) -> str:
    """Stage the evolving transcripts table:

      v1 CREATE  partitioned by conversation bucket
      v2 APPEND  "yesterday": everything except bucket-0 convs and
                 the late turns (>= LATE_TURN) of bucket-1 convs
      v3 APPEND  the late arrivals: bucket-0 convs + bucket-1 late turns
      v4 MERGE   compliance edit: bucket-2 turns with idx % 5 == 0 get
                 EDIT_SUFFIX appended to text (copy-on-write rewrite)

    Final state == the full transcripts input with the deterministic
    text edit applied — exactly expressible in the DuckDB oracle."""
    cached = _INC_TABLES.get(sf_dir)
    if cached is not None:
        return cached
    src = os.path.join(sf_dir, "lineitem.parquet")
    try:
        st = os.stat(src)
        key = f"inckg|{sf_dir}|{st.st_size}|{st.st_mtime_ns}"
    except OSError:
        key = "inckg|" + sf_dir
    root = os.path.join(
        tempfile.gettempdir(),
        "prec_spark_inckg_" + hashlib.md5(key.encode()).hexdigest()[:10],
    )
    hint = os.path.join(root, "metadata", "version-hint.text")
    try:
        with open(hint) as fh:
            if int(fh.read().strip()) >= _FINAL_VERSION:
                _INC_TABLES[sf_dir] = root
                return root
    except (OSError, ValueError):
        pass
    import shutil

    shutil.rmtree(root, ignore_errors=True)

    t = cached_transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    ).withColumn("bucket", _bucket_col().cast("string"))
    # identity partition columns are strings in IceLite (transforms are
    # materialized upstream) — compare against string literals
    is_new = F.col("bucket") == str(NEW_BUCKET)
    is_late = (F.col("bucket") == str(LATE_BUCKET)) & (
        F.col("turn_idx") >= LATE_TURN
    )
    tbl = IceLiteTable.create(spark, root, t.schema, partition_by=("bucket",))
    tbl.append(t.filter(~is_new & ~is_late))
    tbl.append(t.filter(is_new | is_late))
    updates = t.filter(
        (F.col("bucket") == str(EDIT_BUCKET))
        & (F.col("turn_idx") % EDIT_MOD == 0)
    ).withColumn("text", F.concat(F.col("text"), F.lit(EDIT_SUFFIX)))
    tbl.merge(updates, on=("conv_id", "turn_idx"))
    _INC_TABLES[sf_dir] = root
    return root


# --------------------------------------------------------------------------
# The maintenance job + driver-gated query
# --------------------------------------------------------------------------

def maintain_store(
    store: DataFrame, tbl: IceLiteTable, from_snapshot: int, to_snapshot: int,
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    """One incremental refresh of a provenance-tagged triple store."""
    added, removed = tbl.read_changes(from_snapshot, to_snapshot)
    affected = (
        added.select("conv_id")
        .unionByName(removed.select("conv_id"))
        .distinct()
    )
    current = tbl.read(snapshot_id=to_snapshot)
    fresh = kg_triples_prov(
        spark, sf_dir, current.join(affected, "conv_id", "leftsemi")
    )
    kept = store.join(affected, "conv_id", "left_anti")
    return kept.unionByName(fresh)


def kg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated query: maintain the snapshot-1 store to the final
    snapshot (which saw an append AND a row-rewriting merge) and return
    the maintained (conv_id, s, p, o) store. The oracle recomputes the
    provenance-tagged KG of the final state from scratch.

    The snapshot-1 store is session-cached: in production it is a
    MATERIALIZED table the maintenance job reads, not something it
    recomputes — only the first call pays its construction."""
    from .cached import shared_frame

    tbl = IceLiteTable(spark, _inc_table_root(spark, sf_dir))
    store = shared_frame(
        spark,
        f"kg_inc_store:{sf_dir}",
        lambda: kg_triples_prov(spark, sf_dir, tbl.read(snapshot_id=1)),
    )
    return maintain_store(store, tbl, 1, 3, spark, sf_dir)


def kg_incremental_oracle_sql() -> str:
    """Provenance-tagged full recompute of the FINAL table state."""
    turn_bn = "'_:turn_' || conv_id || '_' || CAST(turn_idx AS VARCHAR)"
    conv_bn = "'_:conv_' || conv_id"
    tool_bn = "'_:tool_' || tool"
    text_lit = "'\"' || " + _esc("text") + " || '\"'"
    tool_lit = "'\"' || " + _esc("tool") + " || '\"'"
    conv_lit = "'\"' || " + _esc("conv_id") + " || '\"'"
    a = f"'{_A}'"

    def ex(n: str) -> str:
        return f"'<{EX}{n}>'"

    ent_list = ", ".join(f"'{n}'" for n in ENTITIES)
    return f"""
WITH t0 AS ({transcripts_oracle_sql()}),
t AS (
  SELECT conv_id, turn_idx, role,
         CASE WHEN {_BUCKET_SQL} = {EDIT_BUCKET}
               AND turn_idx % {EDIT_MOD} = 0
              THEN text || '{EDIT_SUFFIX}' ELSE text END AS text,
         tool,
         max(turn_idx) OVER (PARTITION BY conv_id) AS max_turn_idx
  FROM t0
),
sp AS (
  SELECT conv_id, turn_idx,
         trim(split_part(text, ' told ', 1)) AS ent1,
         trim(split_part(split_part(text, ' told ', 2),
                         ' about part ', 1)) AS ent2
  FROM t
),
m AS (
  SELECT conv_id, turn_idx, ent1 AS mention FROM sp
  UNION ALL
  SELECT conv_id, turn_idx, ent2 FROM sp
),
l AS (SELECT * FROM m WHERE mention IN ({ent_list}))
SELECT DISTINCT conv_id, s, p, o FROM (
  SELECT conv_id, {turn_bn} AS s, {a} AS p,
         CASE WHEN role = 'user' THEN {ex('UserTurn')}
              ELSE {ex('AssistantTurn')} END AS o
  FROM t
  UNION ALL
  SELECT conv_id, {turn_bn}, {a}, {ex('ToolCallTurn')}
  FROM t WHERE tool IS NOT NULL
  UNION ALL
  SELECT conv_id, {turn_bn}, {ex('text')}, {text_lit} FROM t
  UNION ALL
  SELECT conv_id, {turn_bn}, {ex('toolName')}, {tool_lit}
  FROM t WHERE tool IS NOT NULL
  UNION ALL
  SELECT DISTINCT conv_id, {conv_bn}, {a}, {ex('Conversation')} FROM t
  UNION ALL
  SELECT DISTINCT conv_id, {conv_bn}, {ex('convId')}, {conv_lit} FROM t
  UNION ALL
  SELECT DISTINCT conv_id, {tool_bn}, {a}, {ex('Tool')}
  FROM t WHERE tool IS NOT NULL
  UNION ALL
  SELECT DISTINCT conv_id, {tool_bn}, {ex('name')}, {tool_lit}
  FROM t WHERE tool IS NOT NULL
  UNION ALL
  SELECT conv_id, {turn_bn}, {ex('next')},
         '_:turn_' || conv_id || '_' || CAST(turn_idx + 1 AS VARCHAR)
  FROM t WHERE turn_idx < max_turn_idx
  UNION ALL
  SELECT conv_id, {turn_bn}, {ex('inConversation')}, {conv_bn} FROM t
  UNION ALL
  SELECT conv_id, {turn_bn}, {ex('usesTool')}, {tool_bn}
  FROM t WHERE tool IS NOT NULL
  UNION ALL
  SELECT conv_id, {turn_bn}, {ex('mentions')}, '_:entity_' || mention
  FROM l
  UNION ALL
  SELECT DISTINCT conv_id, '_:entity_' || mention, {a}, {ex('Entity')}
  FROM l
  UNION ALL
  SELECT DISTINCT conv_id, '_:entity_' || mention, {ex('name')},
         '"' || mention || '"'
  FROM l
) u
"""


# --------------------------------------------------------------------------
# CLI-facing maintenance: persist the store, refresh it per snapshot
# --------------------------------------------------------------------------

def rollback_store(workdir: str, to_snapshot: int | None = None) -> dict:
    """Point the persisted store back at a RETAINED earlier version
    (``kg_store_v{N}``, kept by maintain_to_current exactly for this)
    — a pure atomic pointer swap, no data movement, mirroring the
    table format's own rollback.  Default: the version just before the
    current pointer.  A later --maintain rolls FORWARD again: it reads
    the changelog from the rolled-back snapshot to the table head, so
    the store converges to the full recompute as always."""
    import glob as _glob
    import json as _json
    import re as _re

    meta_path = os.path.join(workdir, "kg_store_meta.json")
    with open(meta_path) as fh:
        meta = _json.load(fh)
    versions = sorted(
        int(m.group(1))
        for d in _glob.glob(os.path.join(workdir, "kg_store_v*"))
        if (m := _re.fullmatch(r"kg_store_v(\d+)", os.path.basename(d)))
    )
    if to_snapshot is None:
        earlier = [v for v in versions if v < meta["snapshot_id"]]
        if not earlier:
            raise ValueError("no earlier store version retained to roll back to")
        to_snapshot = earlier[-1]
    if to_snapshot not in versions:
        raise ValueError(
            f"store version {to_snapshot} not retained (have {versions})"
        )
    out = os.path.join(workdir, f"kg_store_v{to_snapshot}")
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as fh:
        _json.dump({"snapshot_id": to_snapshot, "dir": out}, fh)
    os.replace(tmp, meta_path)  # atomic, same discipline as the refresh
    return {"mode": "rollback", "snapshot_id": to_snapshot, "dir": out}


def maintain_to_current(
    spark: SparkSession, table_root: str, workdir: str, sf_dir: str | None = None
) -> dict:
    """Build or incrementally refresh the persisted provenance store
    for an IceLite transcripts table — the deployable form of the
    maintenance job (jobs/run_pipeline.py --maintain).

    State layout under ``workdir``: versioned store directories
    (``kg_store_v{snapshot}``) plus a pointer file
    (``kg_store_meta.json``). A refresh writes the NEW store directory
    completely before swapping the pointer, so a crash mid-refresh
    leaves the previous store intact and the job re-runnable — the
    same write-then-swap discipline as the table format itself (stale
    store versions are cleaned like expired snapshots).

    Returns a summary dict: mode (build | maintain | noop), snapshot
    ids, affected conversation count, and store row count."""
    import json as _json

    tbl = IceLiteTable(spark, table_root)
    cur = tbl._meta()["current_snapshot_id"]
    src = sf_dir or table_root
    os.makedirs(workdir, exist_ok=True)
    meta_path = os.path.join(workdir, "kg_store_meta.json")
    try:
        with open(meta_path) as fh:
            meta = _json.load(fh)
    except OSError:
        meta = None

    if meta is not None and meta["snapshot_id"] == cur:
        rows = spark.read.parquet(meta["dir"]).count()
        return {"mode": "noop", "snapshot_id": cur, "store_rows": rows}

    out = os.path.join(workdir, f"kg_store_v{cur}")
    if meta is None:
        store = kg_triples_prov(spark, src, tbl.read())
        store.write.mode("overwrite").parquet(out)
        summary = {"mode": "build", "snapshot_id": cur}
    else:
        prev = spark.read.parquet(meta["dir"])
        added, removed = tbl.read_changes(meta["snapshot_id"], cur)
        affected = (
            added.select("conv_id")
            .unionByName(removed.select("conv_id"))
            .distinct()
            .localCheckpoint()
        )
        fresh = kg_triples_prov(
            spark, src, tbl.read().join(affected, "conv_id", "leftsemi")
        )
        kept = prev.join(affected, "conv_id", "left_anti")
        kept.unionByName(fresh).write.mode("overwrite").parquet(out)
        summary = {
            "mode": "maintain",
            "from_snapshot": meta["snapshot_id"],
            "snapshot_id": cur,
            "affected_convs": affected.count(),
        }
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as fh:
        _json.dump({"snapshot_id": cur, "dir": out}, fh)
    os.replace(tmp, meta_path)  # atomic pointer swap AFTER the data
    summary["store_rows"] = spark.read.parquet(out).count()
    return summary

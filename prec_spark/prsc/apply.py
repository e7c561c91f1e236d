"""PRSC rule application as a single-pass broadcast join + explode.

The reference applies a PRSC context with a per-element driver loop
(/root/reference/src/prsc/PrscContext.ts:88-155 produceQuads +
buildRdfTriplesFromRule:186-221). Here the same semantics become ONE
distributed dataflow:

    elements ──(broadcast join on (kind, labels_key, props_key))── rules
             ──explode(template triples)── pattern substitution ── triples

* The compiled catalog is tiny -> broadcast join, no shuffle on the big
  side (SURVEY.md §2.3 J8).
* Template triples are pre-compiled driver-side into *pattern strings*
  with NUL-delimited placeholders (self / source / destination /
  property values / template blank nodes). Instantiation is a chain of
  `replace()` column expressions — pure JVM string ops inside
  whole-stage codegen; no Python in the hot path.
* Strict-match semantics: the reference throws when an element matches
  no rule (PrscContext.ts:144-146) or a property is multi-valued
  (PrscContext.ts:126-128). A distributed job must not die per-row, so
  those rows land in a quarantine DataFrame instead (SURVEY.md §4
  error-semantics redesign).

Scale notes: one scan of nodes + one of edges, no shuffle except the
final dropDuplicates (set semantics of the output graph — reference
DStar.add dedups, dataset/index.ts:114-122). At 100 TB the explode
multiplies rows by |template| (small constant); AQE handles skew.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..contexts.model import (
    PRSCCatalog,
    PVAR_DESTINATION,
    PVAR_SOURCE,
    PREC_VALUE_OF,
    SELF_TERMS,
)
from ..pg.projection import sanitize_id_col
from ..rdf.terms import BlankNode, Literal, Quad, Term

# NUL-delimited placeholders — NUL never appears in term-encoded data.
PH_SELF = "\x00SELF\x00"
PH_SRC = "\x00SRC\x00"
PH_DST = "\x00DST\x00"


def _ph_val(key: str) -> str:
    return f"\x00VAL:{key}\x00"


def _ph_bn(name: str) -> str:
    return f"\x00BN:{name}\x00"


def compile_template_term(term: Term) -> str:
    """Template term -> canonical string with placeholders."""
    if term in SELF_TERMS:
        return PH_SELF
    if term == PVAR_SOURCE:
        return PH_SRC
    if term == PVAR_DESTINATION:
        return PH_DST
    if isinstance(term, Literal) and term.datatype == PREC_VALUE_OF:
        return _ph_val(term.value)
    if isinstance(term, BlankNode):
        return _ph_bn(term.value)
    if isinstance(term, Quad):
        s = compile_template_term(term.s)
        p = compile_template_term(term.p)
        o = compile_template_term(term.o)
        return f"<< {s} {p} {o} >>"
    return term.nt()


@dataclass
class CompiledCatalog:
    """Driver-compiled, broadcast-ready form of a PRSC catalog."""

    rows: list[tuple[int, str, str, str, list[list[str]]]]
    value_keys: list[str]
    bnode_names: list[str]
    #: rule_idx -> output graph term string ('<>' = default graph)
    graphs: dict[int, str]

    @classmethod
    def from_catalog(cls, catalog: PRSCCatalog) -> "CompiledCatalog":
        rows = []
        value_keys: set[str] = set()
        bnode_names: set[str] = set()
        graphs: dict[int, str] = {}
        for idx, rule in enumerate(catalog.rules):
            patterns = []
            for tt in rule.template:
                patterns.append(
                    [
                        compile_template_term(tt.s),
                        compile_template_term(tt.p),
                        compile_template_term(tt.o),
                    ]
                )
            value_keys.update(rule.properties)
            for tt in rule.template:
                from ..contexts.model import walk_terms

                for term in walk_terms(tt):
                    if isinstance(term, BlankNode):
                        bnode_names.add(term.value)
            rows.append((idx, rule.kind, rule.labels_key, rule.props_key, patterns))
            graphs[idx] = rule.graph.nt() if getattr(rule, "graph", None) else "<>"
        return cls(rows, sorted(value_keys), sorted(bnode_names), graphs)


def elements_df(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Unified element relation: nodes + edges with src/dst nullable.

    Columns: element_id, kind, labels_key, props_key, properties,
    self_bn, src_bn, dst_bn, multi_valued (bool).
    """
    def common(df: DataFrame, kind: str, labels_col: Column) -> DataFrame:
        return (
            df.withColumn("kind", F.lit(kind))
            .withColumn("labels_key", F.array_join(F.sort_array(labels_col), "|"))
            .withColumn(
                "props_key",
                F.array_join(F.sort_array(F.map_keys(F.col("properties"))), "|"),
            )
            .withColumn(
                "multi_valued",
                F.exists(F.map_values(F.col("properties")), lambda v: F.size(v) > 1),
            )
        )

    n = common(nodes, "node", F.col("labels")).select(
        F.col("node_id").alias("element_id"),
        "kind",
        "labels_key",
        "props_key",
        "properties",
        F.concat(F.lit("_:"), sanitize_id_col(F.col("node_id"))).alias("self_bn"),
        F.lit(None).cast("string").alias("src_bn"),
        F.lit(None).cast("string").alias("dst_bn"),
        "multi_valued",
    )
    e = common(edges, "edge", F.array(F.col("label"))).select(
        F.col("edge_id").alias("element_id"),
        "kind",
        "labels_key",
        "props_key",
        "properties",
        F.concat(F.lit("_:"), sanitize_id_col(F.col("edge_id"))).alias("self_bn"),
        F.concat(F.lit("_:"), sanitize_id_col(F.col("src_id"))).alias("src_bn"),
        F.concat(F.lit("_:"), sanitize_id_col(F.col("dst_id"))).alias("dst_bn"),
        "multi_valued",
    )
    return n.unionByName(e)


def _substitute(col: Column, compiled: CompiledCatalog) -> Column:
    """Chain of replace() calls instantiating every placeholder.

    Kept for data-dependent pattern columns (PREC-C path); the PRSC hot
    path uses `_compile_concat` instead (driver-known patterns compile
    straight to concat expressions — no string scanning at runtime)."""
    col = F.replace(col, F.lit(PH_SELF), F.col("self_bn"))
    col = F.replace(col, F.lit(PH_SRC), F.coalesce(F.col("src_bn"), F.lit("")))
    col = F.replace(col, F.lit(PH_DST), F.coalesce(F.col("dst_bn"), F.lit("")))
    for key in compiled.value_keys:
        col = F.replace(
            col,
            F.lit(_ph_val(key)),
            F.coalesce(
                F.element_at(F.element_at(F.col("properties"), key), 1),
                F.lit(_ph_val(key)),  # leave unresolved if absent (can't match)
            ),
        )
    for name in compiled.bnode_names:
        # Fresh blank node per (element, template bnode): reference
        # allocates an anonymous bnode per pair (PrscContext.ts:205-212).
        col = F.replace(
            col,
            F.lit(_ph_bn(name)),
            F.concat(
                F.lit(f"_:tb{name}_r"),
                F.col("rule_idx").cast("string"),
                F.lit("_"),
                sanitize_id_col(F.col("element_id")),
            ),
        )
    return col


def _ph_expr(name: str, rule_idx: int) -> Column:
    """Column expression for one placeholder name."""
    if name == "SELF":
        return F.col("self_bn")
    if name == "SRC":
        return F.coalesce(F.col("src_bn"), F.lit(""))
    if name == "DST":
        return F.coalesce(F.col("dst_bn"), F.lit(""))
    if name.startswith("VAL:"):
        key = name[4:]
        return F.element_at(F.element_at(F.col("properties"), key), 1)
    if name.startswith("BN:"):
        return F.concat(
            F.lit(f"_:tb{name[3:]}_r{rule_idx}_"),
            sanitize_id_col(F.col("element_id")),
        )
    raise ValueError(name)


def _compile_concat(
    pattern: str, rule_idx: int, mapping: dict[str, Column] | None = None
) -> Column:
    """Compile a placeholder pattern string into a concat expression —
    literal fragments stay literals, placeholders become column refs.
    Whole-stage-codegen concat, zero runtime scanning."""
    parts = pattern.split("\x00")
    cols: list[Column] = []
    for i, part in enumerate(parts):
        if not part:
            continue
        if i % 2 == 0:
            cols.append(F.lit(part))
        elif mapping is not None:
            cols.append(mapping[part])
        else:
            cols.append(_ph_expr(part, rule_idx))
    if len(cols) == 1:
        return cols[0]
    return F.concat(*cols)


def apply_prsc(
    spark: SparkSession,
    nodes: DataFrame,
    edges: DataFrame,
    catalog: PRSCCatalog,
    unique_edge_triples: bool = False,
    with_graphs: bool = False,
    observation: Observation | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Apply a PRSC context. Returns (triples, quarantine).

    triples:    (s string, p string, o string) — canonical term strings,
                set semantics (deduplicated). With with_graphs=True a
                4th column g carries each rule's prec:targetGraph
                ('<>' = default graph).
    quarantine: (element_id, kind, labels_key, props_key, reason) —
                elements the reference would throw on.

    ``unique_edge_triples`` is the caller's promise that no two edges
    share (src, dst, label); it lets a κ-singleton template that names
    both pvar:source and pvar:destination skip the dedup.

    With an ``observation``, the element pass of the triples counts the
    quarantine rows into its metric ``quarantined`` as the triples'
    first action runs, so a caller can skip writing an empty quarantine
    without scanning the elements again. Task retries can inflate the
    count; only its zero test is exact.
    """
    compiled = CompiledCatalog.from_catalog(catalog)
    if not with_graphs and any(g != "<>" for g in compiled.graphs.values()):
        raise ValueError(
            "catalog declares prec:targetGraph rules; call "
            "apply_prsc(..., with_graphs=True) to receive (s, p, o, g) quads"
        )
    rules_df = spark.createDataFrame(
        compiled.rows,
        "rule_idx INT, kind STRING, labels_key STRING, props_key STRING, "
        "template ARRAY<ARRAY<STRING>>",
    )

    elements = elements_df(nodes, edges)
    joined = elements.join(
        F.broadcast(rules_df), on=["kind", "labels_key", "props_key"], how="left"
    )

    quarantined = F.col("rule_idx").isNull() | F.col("multi_valued")
    quarantine = joined.filter(quarantined).select(
        "element_id",
        "kind",
        "labels_key",
        "props_key",
        F.when(F.col("rule_idx").isNull(), F.lit("no_rule_matches"))
        .otherwise(F.lit("multi_valued_property"))
        .alias("reason"),
    )

    if observation is not None:
        joined = joined.observe(observation, F.count_if(quarantined).alias("quarantined"))
    matched = joined.filter(F.col("rule_idx").isNotNull() & ~F.col("multi_valued"))

    # ---- κ-based duplicate analysis (driver) -------------------------
    # κ (characterizeTriple) is PRESERVED by instantiation: placeholders
    # instantiate to blank nodes / literals, which κ maps back to the
    # same placeholders. Therefore triples from κ-distinct templates can
    # never be equal, and within a κ-group:
    #  * if every member contains pvar:self AND no rule contributes two
    #    members, instantiations are injective — each element matches
    #    exactly ONE rule, so two equal strings would need the same
    #    element and the same template -> impossible. NO dedup ("free").
    #  * a singleton non-self member using both pvar:source and
    #    pvar:destination (edge-unique shape) is free only under the
    #    caller's unique-(src,dst,label) data contract;
    #  * any other shape (two templates of one rule sharing κ — the
    #    constant-vs-valueOf collision — or self/edge-unique mixtures)
    #    keeps the reference's full string dedup.
    from ..contexts.model import characterize_triple

    def kappa_of(rule, ti):
        tq = catalog.rules[rule].template[ti]
        k = characterize_triple(tq)
        return f"{k.s.nt()} {k.p.nt()} {k.o.nt()}"

    kappa_groups: dict[str, list[tuple[int, int]]] = {}
    for r_idx, rule in enumerate(catalog.rules):
        for ti in range(len(rule.template)):
            kappa_groups.setdefault(kappa_of(r_idx, ti), []).append((r_idx, ti))

    def group_is_free(members, patterns_by_rule) -> bool:
        rules_seen = [r for r, _ in members]
        if len(set(rules_seen)) != len(rules_seen):
            return False  # one rule contributes twice: possible collision
        all_self = all(
            any(PH_SELF in cell for cell in patterns_by_rule[r][ti])
            for r, ti in members
        )
        if all_self:
            return True
        if len(members) == 1 and unique_edge_triples:
            # κ-singleton: injective under the unique-(src,dst,label)
            # contract only when it names both endpoints
            r, ti = members[0]
            cells = "".join(patterns_by_rule[r][ti])
            return PH_SRC in cells and PH_DST in cells
        return False

    patterns_by_rule = {idx: patterns for idx, _k, _l, _p, patterns in compiled.rows}
    free: dict[int, list[tuple[str, str, str]]] = {}
    string_dedup: dict[int, list[tuple[str, str, str]]] = {}
    for members in kappa_groups.values():
        target = free if group_is_free(members, patterns_by_rule) else string_dedup
        for r_idx, ti in members:
            target.setdefault(r_idx, []).append(tuple(patterns_by_rule[r_idx][ti]))

    # NOTE: matched is intentionally NOT cached — it derives from the
    # (caller-cached) transcripts via narrow ops + a broadcast join, so
    # the (at most two) output branches recompute it cheaply; caching
    # it would serialize the wide properties maps for little gain.
    outputs: list[DataFrame] = []

    def when_chain_explode(templates_by_rule: dict[int, list]) -> DataFrame | None:
        if not templates_by_rule:
            return None
        arr_expr = None
        for idx, pats in templates_by_rule.items():
            structs = [
                F.struct(
                    _compile_concat(s_pat, idx).alias("s"),
                    _compile_concat(p_pat, idx).alias("p"),
                    _compile_concat(o_pat, idx).alias("o"),
                    *(
                        [F.lit(compiled.graphs[idx]).alias("g")]
                        if with_graphs
                        else []
                    ),
                )
                for (s_pat, p_pat, o_pat) in pats
            ]
            cond = F.col("rule_idx") == idx
            arr_expr = (
                F.when(cond, F.array(*structs))
                if arr_expr is None
                else arr_expr.when(cond, F.array(*structs))
            )
        return matched.select(F.explode(arr_expr).alias("t")).select("t.*")

    out_cols = ["s", "p", "o"] + (["g"] if with_graphs else [])
    b_free = when_chain_explode(free)
    if b_free is not None:
        outputs.append(b_free)
    b_str = when_chain_explode(string_dedup)
    if b_str is not None:
        outputs.append(b_str.dropDuplicates(out_cols))

    if not outputs:
        # no template at all: an empty explode keeps the element pass in
        # the plan (an empty relation would prune it, and an observation
        # would never fire)
        fields = ",".join(f"{c}:string" for c in out_cols)
        triples = matched.select(F.inline(F.array().cast(f"array<struct<{fields}>>")))
    else:
        triples = outputs[0]
        for df in outputs[1:]:
            triples = triples.unionByName(df)

    return triples, quarantine


def _placeholders_in(pattern: str) -> list[str]:
    parts = pattern.split("\x00")
    return [parts[i] for i in range(1, len(parts), 2) if parts[i]]

"""Triple emission: ontology DataFrames → (subj, pred, obj) rows.

Output contract = the reference's rdflib emission grammar (owl.py), written
down ONCE as data: ``GRAMMAR`` maps each input frame to the URI/bnode
columns it derives and the triple specs it emits, all SQL text over that
frame's columns, each cited to the owl.py lines it mirrors.
``emit_frames`` renders every frame in ONE projection (``_rows``: an
array of triple structs, exploded), so each checkpointed input is scanned
once and the constant catalog and the CRUD action × role combos are
constant spec rows, not literal frames joined in.  The other triple
families (M datasources, report layout, agent contracts, Fabric IQ)
declare their own ``Frame``s in their modules and render through the
same ``emit_frames``: ``T`` specs are the only spec kind.

Key re-expressions forced by the distributed model:
- rdflib ``Graph`` is a *set* → the final union applies
  ``dropDuplicates`` over the full triple (per repo+dataset namespace).
- rdflib ``BNode()`` identity → deterministic IRIs
  ``_:r_sha1(dataset|entity|property)`` (owl.py:252 creates one
  restriction bnode per required property).
- ``datetime.now()`` metadata (generator :152) → injected
  ``generated_at`` parameter so runs diff cleanly.

Triple row: (repo, dataset, subj, pred, obj, obj_is_literal,
obj_datatype).  URIs are prefixed names (``ont:``, ``rdf:``, ``rdfs:``,
``owl:``, ``xsd:``) — the ``ont:`` namespace is per-(repo, dataset).

Scale notes: every frame's emission is a narrow projection of an
already-shuffled ontology DF; the union is pure map-side and the one
shuffle is the final ``dropDuplicates``, partitioned by (repo, dataset,
subj) — write-side this becomes the Iceberg ``bucket(repo)`` layout.
"""

from __future__ import annotations

import re
from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from powerbi_ontology_extractor_spark.functions.naming import (
    map_to_xsd_sql,
    safe_name_sql,
    sanitize_dax_sql,
)

TRIPLE_COLS = [
    "repo",
    "dataset",
    "subj",
    "pred",
    "obj",
    "obj_is_literal",
    "obj_datatype",
]

DEFAULT_ROLES = ["Admin", "Analyst", "Viewer"]
DEFAULT_GENERATED_AT = "1970-01-01T00:00:00"


class T(NamedTuple):
    """One triple spec as SQL text over its frame's columns.  The triple
    is emitted when ``obj`` is non-null (the reference's ``if field:``
    guards).  With ``each`` (an array expression) the spec is emitted
    once per element — ``x`` the element, ``i`` its 0-based index — with
    no null guard.  ``{name}`` placeholders (``{generated_at}``, the
    caller's strings, and in per-role specs ``{role}``) are bound to SQL
    string literals at render time — a caller's string never enters the
    SQL text raw."""

    subj: str
    pred: str
    obj: str
    lit: bool = False
    dt: str = ""
    each: str | None = None


class Frame(NamedTuple):
    """Derived columns (name → SQL, computed once: duplicating the
    concat/translate trees into every spec multiplies codegen size ~10x),
    the frame's specs, and the specs repeated for every role."""

    cols: dict[str, str]
    rows: list[T]
    per_role: list[T] = ()


LIT = True


def _q(s: str) -> str:
    """SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _c(s: str, p: str, o: str, lit: bool = False) -> T:
    """A constant triple."""
    return T(_q(s), _q(p), _q(o), lit)


def _iri(*names: str) -> str:
    """``ont:`` + safe_name of each column expression, joined by '_'."""
    return "concat('ont:', " + ", '_', ".join(map(safe_name_sql, names)) + ")"


def _nz(e: str) -> str:
    """Empty string → null (the reference's ``if x:`` guard)."""
    return f"nullif({e}, '')"


def _when(cond: str, e: str) -> str:
    return f"CASE WHEN {cond} THEN {e} END"


def _decimal(e: str) -> str:
    """A double as rdflib renders ``Literal(v, XSD.decimal)`` for the
    values the reference passes (ints stay ints: 0 → "0", 0.5 → "0.5")."""
    return (f"CASE WHEN {e} = floor({e}) THEN cast(cast({e} AS bigint) AS string)"
            f" ELSE cast({e} AS string) END")


# owl.py:129-181 — the fixed OntoGuard catalog: 35 triples + 3 per role
_ROLE_CLASS = "concat('ont:', translate({role}, ' -.', '___'))"
CATALOG = Frame({}, [
    _c("ont:User", "rdf:type", "owl:Class"),
    _c("ont:User", "rdfs:label", "User", LIT),
    _c("ont:User", "rdfs:comment", "Base class for user roles", LIT),
    _c("ont:Action", "rdf:type", "owl:Class"),
    _c("ont:Action", "rdfs:label", "Action", LIT),
    _c("ont:Action", "rdfs:comment", "Base class for actions", LIT),
    *[
        t
        for a in ["ReadAction", "WriteAction", "DeleteAction", "ExecuteAction"]
        for t in (
            _c(f"ont:{a}", "rdf:type", "owl:Class"),
            _c(f"ont:{a}", "rdfs:subClassOf", "ont:Action"),
            _c(f"ont:{a}", "rdfs:label", a, LIT),
        )
    ],
    _c("ont:requiresRole", "rdf:type", "owl:ObjectProperty"),
    _c("ont:requiresRole", "rdfs:label", "requiresRole", LIT),
    _c("ont:requiresRole", "rdfs:comment", "Role required to perform this action", LIT),
    _c("ont:requiresRole", "rdfs:domain", "ont:Action"),
    _c("ont:requiresRole", "rdfs:range", "ont:User"),
    _c("ont:appliesTo", "rdf:type", "owl:ObjectProperty"),
    _c("ont:appliesTo", "rdfs:label", "appliesTo", LIT),
    _c("ont:appliesTo", "rdfs:comment", "Entity this action applies to", LIT),
    _c("ont:appliesTo", "rdfs:domain", "ont:Action"),
    _c("ont:allowsAction", "rdf:type", "owl:DatatypeProperty"),
    _c("ont:allowsAction", "rdfs:label", "allowsAction", LIT),
    _c("ont:allowsAction", "rdfs:comment", "Action type allowed", LIT),
    _c("ont:allowsAction", "rdfs:range", "xsd:string"),
    _c("ont:appliesToProperty", "rdf:type", "owl:DatatypeProperty"),
    _c("ont:appliesToProperty", "rdfs:label", "appliesToProperty", LIT),
    _c("ont:appliesToProperty", "rdfs:comment", "Property this action applies to", LIT),
    _c("ont:appliesToProperty", "rdfs:range", "xsd:string"),
], [
    T(_ROLE_CLASS, "'rdf:type'", "'owl:Class'"),
    T(_ROLE_CLASS, "'rdfs:subClassOf'", "'ont:User'"),
    T(_ROLE_CLASS, "'rdfs:label'", "{role}", LIT),
])


def _crud(action: str, cls: str) -> list[T]:
    """owl.py:386-409 — one action instance per (entity, role), 4 triples."""
    subj = f"concat('ont:{action}_', _name, '_', {safe_name_sql('{role}')})"
    return [
        T(subj, "'rdf:type'", _q(cls)),
        T(subj, "'ont:appliesTo'", "_ent"),
        T(subj, "'ont:requiresRole'", _iri("{role}")),
        T(subj, "'ont:allowsAction'", _q(action), LIT),
    ]


_IS = "constraint_type = '{}'".format

GRAMMAR: dict[str, Frame] = {
    "datasets": Frame(
        {"_onto": f"concat('ont:', {safe_name_sql('dataset')}, '_Ontology')"},
        [
            # owl.py:114-127 + generator :147-155 metadata entries
            T("_onto", "'rdf:type'", "'owl:Ontology'"),
            T("_onto", "'rdfs:label'", "concat(dataset, '_Ontology')", LIT),
            T("_onto", "'rdfs:comment'", "concat('Ontology from Power BI: ', path)", LIT),
            T("_onto", "'owl:versionInfo'", "'1.0.0'", LIT),
            T("_onto", "'ont:meta_generation_date'", "{generated_at}", LIT),
            T("_onto", "'ont:meta_source_model'", "dataset", LIT),
            *CATALOG.rows,
            # owl.py:411-425 — added once per add_rls_rules call
            _c("ont:daxFilter", "rdf:type", "owl:DatatypeProperty"),
            _c("ont:daxFilter", "rdfs:label", "daxFilter", LIT),
            _c("ont:daxFilter", "rdfs:comment", "DAX filter expression for RLS", LIT),
        ],
        CATALOG.per_role,
    ),
    # owl.py:183-199 entity classes, then the CRUD action instances
    "ontology_entities": Frame(
        {"_ent": _iri("entity"), "_name": safe_name_sql("entity")},
        [
            T("_ent", "'rdf:type'", "'owl:Class'"),
            T("_ent", "'rdfs:label'", "entity", LIT),
            T("_ent", "'rdfs:comment'", _nz("description"), LIT),
            T("_ent", "'ont:entityType'", _nz("entity_type"), LIT),
            T("_ent", "'ont:sourceTable'", _nz("source_table"), LIT),
        ],
        [*_crud("read", "ont:ReadAction"), *_crud("create", "ont:WriteAction"),
         *_crud("update", "ont:WriteAction"), *_crud("delete", "ont:DeleteAction")],
    ),
    # owl.py:210-242 column properties (FunctionalProperty when unique);
    # owl.py:244-262 the minCardinality restriction of required columns
    "properties": Frame(
        {"_ent": _iri("entity"), "_prop": _iri("entity", "property"),
         "_bnode": _when("required", "concat('_:r_', sha1(concat_ws('|', "
                                     "dataset, entity, property)))")},
        [
            T("_prop", "'rdf:type'", "'owl:DatatypeProperty'"),
            T("_prop", "'rdfs:label'", "property", LIT),
            T("_prop", "'rdfs:domain'", "_ent"),
            T("_prop", "'rdfs:range'", map_to_xsd_sql("data_type")),
            T("_prop", "'rdfs:comment'", _nz("description"), LIT),
            T("_prop", "'ont:sourceColumn'", _nz("source_column"), LIT),
            T("_prop", "'rdf:type'", _when("`unique`", "'owl:FunctionalProperty'")),
            T("_bnode", "'rdf:type'", _when("required", "'owl:Restriction'")),
            T("_bnode", "'owl:onProperty'", _when("required", "_prop")),
            T("_bnode", "'owl:minCardinality'", _when("required", "'1'"), LIT,
              "xsd:nonNegativeInteger"),
            T("_ent", "'rdfs:subClassOf'", "_bnode"),
        ],
    ),
    # owl.py:311-338 relationships as object properties
    "ontology_relationships": Frame(
        {"_rel": _iri("concat_ws('_', from_entity, relationship_type, to_entity)"),
         "_from": _iri("from_entity"), "_to": _iri("to_entity")},
        [
            T("_rel", "'rdf:type'", "'owl:ObjectProperty'"),
            T("_rel", "'rdfs:label'", "relationship_type", LIT),
            T("_rel", "'rdfs:domain'", "_from"),
            T("_rel", "'rdfs:range'", "_to"),
            T("_rel", "'rdfs:comment'", _nz("description"), LIT),
            T("_rel", "'ont:sourceRelationship'", _nz("source_relationship"), LIT),
            T("_rel", "'ont:cardinality'", "cardinality", LIT),
            T("_rel", "'ont:fromProperty'", _nz("from_property"), LIT),
            T("_rel", "'ont:toProperty'", _nz("to_property"), LIT),
        ],
    ),
    # owl.py:340-384 rule class + rule instance with sanitized DAX
    "business_rules": Frame(
        {"_cls": f"concat('ont:', {safe_name_sql('name')}, 'Rule')",
         "_inst": f"concat('ont:', {safe_name_sql('name')}, 'RuleInstance')",
         "_ent": _iri("entity")},
        [
            T("_cls", "'rdf:type'", "'owl:Class'"),
            T("_cls", "'rdfs:subClassOf'", "'ont:Action'"),
            T("_cls", "'rdfs:label'", "name", LIT),
            T("_cls", "'rdfs:comment'", _nz("description"), LIT),
            T("_inst", "'rdf:type'", "_cls"),
            T("_inst", "'ont:appliesTo'", _when(f"{_nz('entity')} IS NOT NULL", "_ent")),
            T("_inst", "'ont:condition'", _nz(sanitize_dax_sql("condition")), LIT),
            T("_inst", "'ont:ruleAction'", _nz("action"), LIT),
            T("_inst", "'ont:classification'", _nz("classification"), LIT),
            T("_inst", "'ont:priority'", "cast(priority AS string)", LIT, "xsd:integer"),
            T("_inst", "'ont:sourceMeasure'", _nz("source_measure"), LIT),
        ],
    ),
    # owl.py:411-455 RLS rules as ReadAction instances; the role-class
    # triples rely on the final set-dedup (the reference's
    # graph-membership check :427 has the same effect)
    "security_rules": Frame(
        {"_role": _iri("role"),
         "_rls": f"concat('ont:RLS_', {safe_name_sql('role')}, '_', "
                 f"{safe_name_sql('`table`')})"},
        [
            T("_role", "'rdf:type'", "'owl:Class'"),
            T("_role", "'rdfs:subClassOf'", "'ont:User'"),
            T("_role", "'rdfs:label'", "role", LIT),
            T("_rls", "'rdf:type'", "'ont:ReadAction'"),
            T("_rls", "'rdfs:label'", "concat('RLS: ', role, ' on ', `table`)", LIT),
            T("_rls", "'ont:appliesTo'", _iri("`table`")),
            T("_rls", "'ont:requiresRole'", "_role"),
            T("_rls", "'ont:daxFilter'", _nz(sanitize_dax_sql("dax_filter")), LIT),
            T("_rls", "'rdfs:comment'", _nz("description"), LIT),
            T("_rls", "'ont:isRLSRule'", "'true'", LIT, "xsd:boolean"),
        ],
    ),
    # measure→depends_on→column lineage (beyond the reference's OWL
    # export; dependency grammar = dax_parser.py:262-287): Table.Column
    # → the property IRI, Table.* → the entity IRI
    "parsed_measures": Frame(
        {"_subj": f"concat('ont:measure_', {safe_name_sql('measure')})"},
        [
            T("_subj", "'rdf:type'", "'ont:Measure'"),
            T("_subj", "'ont:measureType'", "measure_type", LIT),
            T("_subj", "'ont:inTable'", _iri("`table`")),
            T("_subj", "'ont:dependsOn'",
              _iri("CASE WHEN endswith(x, '.*') THEN rtrim('.*', x) ELSE x END"),
              each="filter(lineage_deps, d -> d IS NOT NULL)"),
        ],
    ),
    # owl.py:264-299 (T7) property constraints as annotations; the enum
    # predicate itself is indexed (owl.py:292).  Input frame: the union
    # of constraints_io's enhancement and sidecar property constraints
    "property_constraints": Frame(
        {"_prop": _iri("entity", "property")},
        [
            T("_prop", "'ont:minValue'", _when(_IS("range"), _decimal("min_value")),
              LIT, "xsd:decimal"),
            T("_prop", "'ont:maxValue'", _when(_IS("range"), _decimal("max_value")),
              LIT, "xsd:decimal"),
            T("_prop", "'ont:pattern'", _when(_IS("regex"), _nz("pattern")), LIT),
            T("_prop", "'ont:references'", _when(_IS("reference"), _nz("reference")), LIT),
            T("_prop", "'ont:constraintMessage'", _nz("message"), LIT),
            T("_prop", "concat('ont:enumValue_', cast(i AS string))", "x", LIT,
              each=_when(_IS("enum"), "enum_values")),
        ],
    ),
    # owl.py:301-309 (T8) entity constraints as ont:EntityConstraint
    # bnodes (same deterministic scheme as the restriction bnodes).
    # Input frame: (repo, dataset, entity, constraint_type, value, message)
    "entity_constraints": Frame(
        {"_ent": _iri("entity"),
         "_bnode": "concat('_:ec_', sha1(concat_ws('|', dataset, entity, "
                   "constraint_type, value)))"},
        [
            T("_bnode", "'rdf:type'", "'ont:EntityConstraint'"),
            T("_bnode", "'ont:constraintType'", _nz("constraint_type"), LIT),
            T("_bnode", "'ont:constraintValue'", _nz("value"), LIT),
            T("_bnode", "'rdfs:comment'", _nz("message"), LIT),
            T("_ent", "'ont:hasConstraint'", "_bnode"),
        ],
    ),
}

# owl.py:79-112 export() order; the lineage frame last
EXPORT_FRAMES = [
    "datasets",
    "ontology_entities",
    "properties",
    "ontology_relationships",
    "business_rules",
    "security_rules",
    "parsed_measures",
]


def _struct_sql(t: T) -> str:
    return (f"named_struct('subj', {t.subj}, 'pred', {t.pred}, 'obj', {t.obj}, "
            f"'obj_is_literal', {str(t.lit).lower()}, 'obj_datatype', {_q(t.dt)})")


def _rows(df: DataFrame, triples: list[T]) -> DataFrame:
    """Emit one output row per (input row × triple spec) in one
    projection.  Scalar specs whose obj is null are dropped (the
    reference's ``if field:`` guards); ``each`` specs emit once per
    array element.  All specs go to the JVM as ONE SQL expression:
    building them as Columns costs ~100 py4j round trips per spec."""
    scalar = [f"CASE WHEN ({t.obj}) IS NOT NULL THEN {_struct_sql(t)} END"
              for t in triples if t.each is None]
    arrays = [f"coalesce(transform({t.each}, (x, i) -> {_struct_sql(t)}), array())"
              for t in triples if t.each is not None]
    rows = f"array({', '.join(scalar)})"
    if arrays:
        rows = f"concat({rows}, {', '.join(arrays)})"
    return df.selectExpr("repo", "dataset", f"inline(array_compact({rows}))")


_PLACEHOLDER = re.compile(r"\{(\w+)\}")


def _bind(sql: str, **params: str) -> str:
    """Substitute ``{name}`` placeholders with SQL string literals, in one
    pass: a bound value is never scanned for placeholders again."""
    return _PLACEHOLDER.sub(
        lambda m: _q(params[m[1]]) if m[1] in params else m[0], sql
    )


def _bind_spec(spec: T, **params: str) -> T:
    return T(*[_bind(f, **params) if isinstance(f, str) else f for f in spec])


def emit_frames(
    inputs: list[tuple[Frame, DataFrame]],
    roles: list[str] = DEFAULT_ROLES,
    **params: str,
) -> DataFrame:
    """Union of each (grammar frame, input DataFrame) rendered in one
    projection; no dedup.  ``params`` bind the ``{name}`` placeholders of
    the frames' columns and specs (``{role}`` of the per-role specs to
    each of ``roles``)."""
    out = []
    for frame, df in inputs:
        specs = [_bind_spec(t, **params) for t in frame.rows]
        specs += [_bind_spec(t, **{**params, "role": r})
                  for r in roles for t in frame.per_role]
        derived = df.selectExpr(
            "*", *[f"{_bind(sql, **params)} AS {name}"
                   for name, sql in frame.cols.items()]
        )
        out.append(_rows(derived, specs))
    return reduce(DataFrame.unionByName, out)


def export_triples(
    ontology_dfs: dict[str, DataFrame],
    model_dfs: dict[str, DataFrame],
    roles: list[str] = DEFAULT_ROLES,
    generated_at: str = DEFAULT_GENERATED_AT,
    include_lineage: bool = True,
    dedup: bool = True,
) -> DataFrame:
    """Full OWL export (owl.py:79-112 orchestration): every export frame
    rendered through ``GRAMMAR`` + set dedup.  Matches the reference
    graph triple-for-triple per (repo, dataset) on the model/ontology
    families.

    ``dedup=False`` skips the set-dedup shuffle — for callers (the full
    pipeline) that union further families and apply ONE global dedup at
    the end; two full-row dedup shuffles of long URI/literal strings
    was the flagship job's single biggest exchange."""
    frames = {**model_dfs, **ontology_dfs}
    keys = EXPORT_FRAMES if include_lineage else EXPORT_FRAMES[:-1]
    union = emit_frames([(GRAMMAR[k], frames[k]) for k in keys], roles,
                        generated_at=generated_at)
    return union.dropDuplicates(TRIPLE_COLS) if dedup else union


_PREFIX_BASES = {
    "rdf:": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs:": "http://www.w3.org/2000/01/rdf-schema#",
    "owl:": "http://www.w3.org/2002/07/owl#",
    "xsd:": "http://www.w3.org/2001/XMLSchema#",
}


def ntriples_lines(
    triples: DataFrame,
    base_uri_prefix: str = "http://example.com/ontologies/",
) -> DataFrame:
    """T14 serialize: one N-Triples line per triple (owl.py:79-112's
    ``serialize``; rdflib's format choice collapses to line rendering
    once the graph IS the table).  The ``ont:`` namespace expands
    per-dataset (the reference's per-ontology base URI); bnode subjects
    pass through.  Narrow map — a distributed ``.write.text`` sink."""

    def expand(col):
        ont_base = F.concat(
            F.lit(base_uri_prefix), F.expr(safe_name_sql("dataset")), F.lit("#")
        )
        out = F.when(
            col.startswith("_:"), col
        ).when(
            col.startswith("ont:"),
            F.concat(F.lit("<"), ont_base, F.substring(col, 5, 1 << 20), F.lit(">")),
        )
        for p, base in _PREFIX_BASES.items():
            out = out.when(
                col.startswith(p),
                F.concat(
                    F.lit("<" + base),
                    F.substring(col, len(p) + 1, 1 << 20),
                    F.lit(">"),
                ),
            )
        return out.otherwise(F.concat(F.lit("<"), col, F.lit(">")))

    # NB: Java regexp replacement strings unescape `\x` — each escape
    # needs a DOUBLED backslash in the replacement or the output is a
    # bare `"` (invalid N-Triples; caught by the q_ntriples_render DuckDB
    # oracle).  N-Triples also forbids raw LF/CR inside a literal, and
    # sanitized DAX keeps its newlines.
    lit_escaped = F.col("obj")
    for pat, rep in [(r"\\", r"\\\\"), ('"', r'\\"'), ("\n", r"\\n"), ("\r", r"\\r")]:
        lit_escaped = F.regexp_replace(lit_escaped, pat, rep)
    obj = F.when(
        F.col("obj_is_literal"),
        F.when(
            F.col("obj_datatype") != "",
            F.concat(
                F.lit('"'), lit_escaped, F.lit('"^^'),
                expand(F.col("obj_datatype")),
            ),
        ).otherwise(F.concat(F.lit('"'), lit_escaped, F.lit('"'))),
    ).otherwise(expand(F.col("obj")))
    return triples.select(
        "repo",
        "dataset",
        F.concat_ws(
            " ", expand(F.col("subj")), expand(F.col("pred")), obj, F.lit(".")
        ).alias("ntriple"),
    )


def export_summary(triples: DataFrame) -> DataFrame:
    """owl.py:513-548 — per-dataset counts: total triples, classes,
    datatype/object properties, action-rule instances."""
    is_type = F.col("pred") == "rdf:type"
    action_objs = [f"ont:{a}" for a in
                   ["ReadAction", "WriteAction", "DeleteAction", "ExecuteAction"]]
    return triples.groupBy("repo", "dataset").agg(
        F.count("*").alias("total_triples"),
        F.count_distinct(
            F.when(is_type & (F.col("obj") == "owl:Class"), F.col("subj"))
        ).alias("classes"),
        F.count_distinct(
            F.when(is_type & (F.col("obj") == "owl:DatatypeProperty"), F.col("subj"))
        ).alias("datatype_properties"),
        F.count_distinct(
            F.when(is_type & (F.col("obj") == "owl:ObjectProperty"), F.col("subj"))
        ).alias("object_properties"),
        F.count(
            F.when(is_type & F.col("obj").isin(action_objs), F.lit(1))
        ).alias("action_rules"),
    )

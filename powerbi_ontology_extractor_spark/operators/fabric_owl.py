"""Fabric IQ → OWL conversion (T16) + business-rule trigger tags (P15).

Reference semantics: /root/reference/powerbi_ontology/export/fabric_iq_to_owl.py:67-460
— the bridge that turns Fabric IQ JSON (the T17 exporter's output) into
OntoGuard-compatible OWL.  Its grammar deliberately differs from the
main owl.py export: 5 roles (adds Editor/Owner), a requiresApproval
property, appliesTo ranging over owl:Thing, per-entity default CRUD
*individuals* with role defaults (read→Viewer, create/update→Editor,
delete→Admin), rule classes suffixed ``Action``/``ActionInstance``, a
classification→role mapping with a NotifyOperations override, and
schema-binding annotations (:391-405).

Rather than round-tripping through serialized JSON docs, the converter
runs over the same flattened family frames the T17 exporter consumes
(``FabricIQToOWLConverter.from_fabric_iq_exporter`` composes the two
the same way, :443-460).  Its grammar is written down once as data, in
the style of ``triples.GRAMMAR``: ``FABRIC`` maps each input frame to
its derived URI columns and ``T`` spec rows (SQL text); the base
classes, the OntoGuard property catalog, the 5 roles and the 4 CRUD
combos are constant spec rows, and row filters are a ``CASE WHEN`` on
the obj.  ``emit_frames`` renders each frame in one projection.

P15: ``rule_triggers_sql`` is the exporter's trigger extraction
(export/fabric_iq.py:234-243).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from powerbi_ontology_extractor_spark.operators.triples import (
    DEFAULT_GENERATED_AT,
    LIT,
    TRIPLE_COLS,
    Frame,
    T,
    _c,
    _decimal,
    _nz,
    _q,
    _when,
    emit_frames,
)

FABRIC_ROLES = ["Admin", "Analyst", "Viewer", "Editor", "Owner"]
FABRIC_ACTIONS = ["ReadAction", "WriteAction", "DeleteAction", "ExecuteAction"]


def safe_uri_name_sql(expr: str) -> str:
    """fabric_iq_to_owl.py:407-413 — space/-/. → _, then strip every
    remaining non-alphanumeric/underscore character (SQL text)."""
    return f"regexp_replace(translate({expr}, ' -.', '___'), '[^A-Za-z0-9_]', '')"


def rule_triggers_sql(action: str) -> str:
    """P15 (export/fabric_iq.py:234-243): trigger tags derived from the
    rule action string (SQL text)."""
    a = f"lower(coalesce({action}, ''))"
    return (f"array_compact(array("
            f"CASE WHEN contains({a}, 'notify') OR contains({a}, 'alert') "
            f"THEN 'NotifyOperations' END, "
            f"CASE WHEN contains({a}, 'log') OR contains({a}, 'record') "
            f"THEN 'LogIncident' END, "
            f"CASE WHEN contains({a}, 'classify') THEN 'UpdateClassification' END))")


def map_fabric_xsd_sql(data_type: str) -> str:
    """fabric_iq_to_owl.py:415-437 type map (case variants, float →
    decimal, double → double), as SQL text."""
    xsd = [("string", "string"), ("integer", "integer"), ("int", "integer"),
           ("decimal", "decimal"), ("float", "decimal"), ("double", "double"),
           ("date", "date"), ("datetime", "dateTime"), ("boolean", "boolean"),
           ("bool", "boolean")]
    whens = " ".join(f"WHEN '{t}' THEN 'xsd:{x}'" for t, x in xsd)
    return f"CASE lower(coalesce({data_type}, '')) {whens} ELSE 'xsd:string' END"


def _iri(expr: str) -> str:
    """``ont:`` + the Fabric safe name of ``expr``."""
    return f"concat('ont:', {safe_uri_name_sql(expr)})"


def _crud(action: str, cls: str, role: str) -> list[T]:
    """:364-389 — one default action individual per entity."""
    subj = f"concat('ont:{action}_', _name)"
    return [
        T(subj, "'rdf:type'", _q(cls)),
        T(subj, "'rdfs:label'", f"concat('{action} ', entity)", LIT),
        T(subj, "'ont:allowsAction'", _q(action), LIT),
        T(subj, "'ont:appliesTo'", "_ent"),
        T(subj, "'ont:requiresRole'", _q(f"ont:{role}")),
    ]


def _guarded(cond: str, specs: list[T]) -> list[T]:
    """Row filter: a spec's triple is emitted only where ``cond`` holds."""
    return [t._replace(obj=_when(cond, t.obj)) for t in specs]


_PROP = _iri("concat(entity, '_', property)")
_REL_LABEL = "coalesce(nullif(relationship_type, ''), 'relatedTo')"

FABRIC: dict[str, Frame] = {
    # :104-124 metadata (ontologyItem = f"{name}_v{version}",
    # export/fabric_iq.py:42), then the base classes (:126-159) and the
    # OntoGuard properties (:161-201) once per dataset
    "datasets": Frame(
        {"_onto": _iri("concat(dataset, '_v', {version})")},
        [
            T("_onto", "'rdf:type'", "'owl:Ontology'"),
            T("_onto", "'rdfs:label'", "concat(dataset, '_v', {version})", LIT),
            T("_onto", "'rdfs:comment'", "concat('Ontology extracted from ', {source})",
              LIT),
            T("_onto", "'owl:versionInfo'", "{version}", LIT),
            T("_onto", "'ont:extractedDate'", "{extracted_date}", LIT, "xsd:dateTime"),
            _c("ont:User", "rdf:type", "owl:Class"),
            _c("ont:User", "rdfs:label", "User", LIT),
            _c("ont:User", "rdfs:comment", "Base class for all user roles", LIT),
            _c("ont:Action", "rdf:type", "owl:Class"),
            _c("ont:Action", "rdfs:label", "Action", LIT),
            _c("ont:Action", "rdfs:comment",
               "Base class for all actions that can be performed", LIT),
            *[
                t
                for a in FABRIC_ACTIONS
                for t in (
                    _c(f"ont:{a}", "rdf:type", "owl:Class"),
                    _c(f"ont:{a}", "rdfs:subClassOf", "ont:Action"),
                    _c(f"ont:{a}", "rdfs:label", a, LIT),
                )
            ],
            _c("ont:requiresRole", "rdf:type", "owl:ObjectProperty"),
            _c("ont:requiresRole", "rdfs:label", "requires role", LIT),
            _c("ont:requiresRole", "rdfs:comment",
               "Specifies which user role is required to perform an action", LIT),
            _c("ont:requiresRole", "rdfs:domain", "ont:Action"),
            _c("ont:requiresRole", "rdfs:range", "ont:User"),
            _c("ont:appliesTo", "rdf:type", "owl:ObjectProperty"),
            _c("ont:appliesTo", "rdfs:label", "applies to", LIT),
            _c("ont:appliesTo", "rdfs:comment",
               "Specifies which entity type an action can be applied to", LIT),
            _c("ont:appliesTo", "rdfs:domain", "ont:Action"),
            _c("ont:appliesTo", "rdfs:range", "owl:Thing"),
            _c("ont:requiresApproval", "rdf:type", "owl:ObjectProperty"),
            _c("ont:requiresApproval", "rdfs:label", "requires approval", LIT),
            _c("ont:requiresApproval", "rdfs:comment",
               "Indicates that an action requires approval from a specific role", LIT),
            _c("ont:requiresApproval", "rdfs:domain", "ont:Action"),
            _c("ont:requiresApproval", "rdfs:range", "ont:User"),
            _c("ont:allowsAction", "rdf:type", "owl:DatatypeProperty"),
            _c("ont:allowsAction", "rdfs:label", "allows action", LIT),
            _c("ont:allowsAction", "rdfs:comment",
               "Specifies the action type: read, create, update, delete", LIT),
            _c("ont:allowsAction", "rdfs:domain", "ont:Action"),
            _c("ont:allowsAction", "rdfs:range", "xsd:string"),
        ],
        [
            T("concat('ont:', {role})", "'rdf:type'", "'owl:Class'"),
            T("concat('ont:', {role})", "'rdfs:subClassOf'", "'ont:User'"),
            T("concat('ont:', {role})", "'rdfs:label'", "{role}", LIT),
        ],
    ),
    # :203-238 entity classes, then the default CRUD individuals
    # (:364-389) with their role defaults
    "entities": Frame(
        {"_name": safe_uri_name_sql("entity"), "_ent": _iri("entity")},
        [
            T("_ent", "'rdf:type'", "'owl:Class'"),
            T("_ent", "'rdfs:label'", "entity", LIT),
            T("_ent", "'rdfs:comment'", _nz("description"), LIT),
            T("_ent", "'ont:entityType'", _nz("entity_type"), LIT),
            T("_ent", "'ont:sourceTable'", _nz("source_table"), LIT),
            *_crud("read", "ont:ReadAction", "Viewer"),
            *_crud("create", "ont:WriteAction", "Editor"),
            *_crud("update", "ont:WriteAction", "Editor"),
            *_crud("delete", "ont:DeleteAction", "Admin"),
        ],
    ),
    # :240-262 properties
    "properties": Frame(
        {"_ent": _iri("entity"), "_prop": _PROP},
        [
            T("_prop", "'rdf:type'", "'owl:DatatypeProperty'"),
            T("_prop", "'rdfs:label'", "property", LIT),
            T("_prop", "'rdfs:domain'", "_ent"),
            T("_prop", "'rdfs:range'", map_fabric_xsd_sql("data_type")),
            T("_prop", "'rdfs:comment'", _nz("description"), LIT),
        ],
    ),
    # :264-279 range → min/maxValue, required/unique → boolean
    # annotations; other constraint types are ignored by the converter
    "property_constraints": Frame(
        {"_prop": _PROP},
        [
            T("_prop", "'ont:minValue'",
              _when("constraint_type = 'range'", _decimal("min_value")),
              LIT, "xsd:decimal"),
            T("_prop", "'ont:maxValue'",
              _when("constraint_type = 'range'", _decimal("max_value")),
              LIT, "xsd:decimal"),
            T("_prop", "'ont:isRequired'",
              _when("constraint_type = 'required'", "'true'"), LIT, "xsd:boolean"),
            T("_prop", "'ont:isUnique'",
              _when("constraint_type = 'unique'", "'true'"), LIT, "xsd:boolean"),
        ],
    ),
    # :281-305 relationships between two named entities
    "relationships": Frame(
        {"_rel": _iri(f"concat_ws('_', from_entity, {_REL_LABEL}, to_entity)"),
         "_from": _iri("from_entity"), "_to": _iri("to_entity")},
        _guarded(f"{_nz('from_entity')} IS NOT NULL AND {_nz('to_entity')} IS NOT NULL", [
            T("_rel", "'rdf:type'", "'owl:ObjectProperty'"),
            T("_rel", "'rdfs:label'", _REL_LABEL, LIT),
            T("_rel", "'rdfs:domain'", "_from"),
            T("_rel", "'rdfs:range'", "_to"),
            T("_rel", "'rdfs:comment'", _nz("description"), LIT),
            T("_rel", "'ont:cardinality'", _nz("cardinality"), LIT),
        ]),
    ),
    # :307-362 named business rules → action rules; the classification
    # → role mapping with the NotifyOperations trigger override
    "business_rules": Frame(
        {"_cls": f"concat({_iri('name')}, 'Action')",
         "_inst": f"concat({_iri('name')}, 'ActionInstance')",
         "_ent": _iri("entity"),
         "_role": f"CASE WHEN array_contains({rule_triggers_sql('action')}, "
                  "'NotifyOperations') THEN 'Admin' "
                  "ELSE CASE lower(classification) WHEN 'critical' THEN 'Admin' "
                  "WHEN 'high' THEN 'Admin' WHEN 'medium' THEN 'Editor' "
                  "WHEN 'low' THEN 'Viewer' WHEN 'notify' THEN 'Analyst' "
                  "ELSE 'Viewer' END END"},
        _guarded(f"{_nz('name')} IS NOT NULL", [
            T("_cls", "'rdf:type'", "'owl:Class'"),
            T("_cls", "'rdfs:subClassOf'", "'ont:Action'"),
            T("_cls", "'rdfs:label'", "name", LIT),
            T("_cls", "'rdfs:comment'", _nz("description"), LIT),
            T("_inst", "'rdf:type'", "_cls"),
            T("_inst", "'rdfs:label'", "concat(name, ' action')", LIT),
            T("_inst", "'ont:allowsAction'", _nz("lower(action)"), LIT),
            T("_inst", "'ont:appliesTo'", _when(f"{_nz('entity')} IS NOT NULL", "_ent")),
            T("_inst", "'ont:requiresRole'", "concat('ont:', _role)"),
            T("_inst", "'ont:ruleCondition'", _nz("condition"), LIT),
        ]),
    ),
    # :391-405 schema-binding annotations; identity property mapping as
    # generate_semantic_bindings' default (export/fabric_iq.py:150-175)
    "bindings": Frame(
        {"_ent": _iri("entity")},
        [T("_ent", "'ont:schemaSource'", _nz("physical_source"), LIT)],
    ),
    "bound_properties": Frame(
        {"_prop": _PROP},
        [T("_prop", "'ont:sourceColumn'", _nz("property"), LIT)],
    ),
}


def fabric_iq_owl_triples(
    entities: DataFrame,
    properties: DataFrame,
    relationships: DataFrame,
    business_rules: DataFrame,
    property_constraints: DataFrame | None = None,
    bindings: DataFrame | None = None,
    extracted_date: str = DEFAULT_GENERATED_AT,
    version: str = "1.0.0",
    source: str = "Power BI",
) -> DataFrame:
    """Full Fabric IQ → OWL triple set, one namespace per (repo,
    dataset).  Family-by-family parity with fabric_iq_to_owl.py:67-405;
    rdflib set semantics via the final dropDuplicates.
    """
    keys = ["repo", "dataset"]
    inputs = [
        (FABRIC["datasets"], entities.select(*keys).dropDuplicates()),
        (FABRIC["entities"], entities),
        (FABRIC["properties"], properties),
        (FABRIC["relationships"], relationships),
        (FABRIC["business_rules"], business_rules),
    ]
    if property_constraints is not None:
        inputs.append((FABRIC["property_constraints"], property_constraints))
    if bindings is not None:
        bound = properties.join(
            bindings.select(*keys, "entity"), [*keys, "entity"], "left_semi"
        )
        inputs += [(FABRIC["bindings"], bindings),
                   (FABRIC["bound_properties"], bound)]
    return emit_frames(
        inputs, FABRIC_ROLES,
        extracted_date=extracted_date, version=version, source=source,
    ).dropDuplicates(TRIPLE_COLS)

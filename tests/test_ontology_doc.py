"""Ontology-JSON import path (cli.py:183,341-409): variant-based loader
+ full export, asserted EXACTLY against the reference's own
_dict_to_ontology → OWLExporter run live."""

import json

import pytest

from powerbi_ontology_extractor_spark.operators import ontology_io as OI
from tests.parity_cases import doc_corpus, engine_doc_set
from tests.reference_harness import reference_triples_from_ontology_doc

DOC_SEEDS = [5, 15, 25, 35, 45, 55]

DOC = {
    "name": "Sales Model_Ontology",
    "version": "2.1.0",
    "source": "Power BI: sales.pbix",
    "entities": [
        {
            "name": "Customer",
            "description": "Customer dim",
            "entity_type": "dimension",
            "properties": [
                {"name": "CustomerID", "data_type": "String",
                 "required": True, "unique": True, "description": "PK",
                 "constraints": []},
                {"name": "Email", "data_type": "String",
                 "constraints": [
                     {"type": "regex", "value": r"^[^@]+@[^@]+$",
                      "message": "valid email"}]},
                {"name": "Segment", "data_type": "String",
                 "constraints": [
                     {"type": "enum", "value": ["Gold", "Silver"]}]},
                {"name": "RiskScore", "data_type": "Decimal",
                 "constraints": [
                     {"type": "range", "value": {"min": 0, "max": 100},
                      "message": "0-100"},
                     {"type": "reference", "value": "ScoreDim"}]},
            ],
            "constraints": [],
        },
        {
            "name": "Orders",
            "description": "",
            "entity_type": "fact",
            "properties": [
                {"name": "OrderID", "data_type": "String",
                 "required": True, "unique": False, "constraints": []},
                {"name": "Amount", "data_type": "Decimal", "constraints": []},
            ],
            "constraints": [],
        },
    ],
    "relationships": [
        {"from_entity": "Orders", "to_entity": "Customer",
         "from_property": "CustomerID", "to_property": "CustomerID",
         "relationship_type": "belongs_to", "cardinality": "many-to-one",
         "description": "Order owner"},
    ],
    "business_rules": [
        {"name": "High Value", "entity": "Orders",
         "condition": "Orders[Amount] > 1000", "action": "flag",
         "classification": "High", "description": "big order",
         "priority": 2},
    ],
    "metadata": {"generation_date": "2024-01-01", "source_model": "Sales Model"},
}


@pytest.fixture(scope="module")
def engine_set(spark):
    return engine_doc_set(spark, DOC)


def test_loader_frames(spark):
    c = doc_corpus(spark, DOC)
    ents = {r["entity"]: r for r in OI.doc_entities(c).collect()}
    assert ents["Customer"]["entity_type"] == "dimension"
    assert ents["Customer"]["n_properties"] == 4
    pcs = OI.doc_property_constraints(c).collect()
    by = {(r["property"], r["constraint_type"]): r for r in pcs}
    assert by[("RiskScore", "range")]["min_value"] == 0.0
    assert by[("RiskScore", "range")]["max_value"] == 100.0
    assert by[("Segment", "enum")]["enum_values"] == ["Gold", "Silver"]
    assert by[("RiskScore", "reference")]["reference"] == "ScoreDim"
    assert by[("Email", "regex")]["pattern"] == r"^[^@]+@[^@]+$"


def test_malformed_doc_isolated(spark):
    c = doc_corpus(spark, DOC).unionByName(
        spark.createDataFrame(
            [("r2", "bad.json", "0" * 40, OI.LANG, "{broken", "x")],
            "repo string, path string, commit string, lang string, "
            "content string, content_sha256 string",
        )
    )
    # bad JSON yields zero rows for that doc, never a thrown task
    assert OI.doc_datasets(c).count() == 1


@pytest.mark.requires_reference
def test_exact_parity_with_reference_import_path(engine_set):
    ref, name = reference_triples_from_ontology_doc(DOC)
    assert name == "Sales Model_Ontology"
    assert ref == engine_set, (
        f"missing: {sorted(ref - engine_set)[:20]}\n"
        f"extra: {sorted(engine_set - ref)[:20]}"
    )


def _random_doc(seed: int) -> dict:
    import random

    rng = random.Random(seed)
    name = lambda lo=1, hi=10: ("".join(
        rng.choice("ABk xy09._-") for _ in range(rng.randint(lo, hi))
    ).strip() or "N")

    def constraint():
        kind = rng.choice(["range", "regex", "enum", "reference", "custom"])
        if kind == "range":
            lo = rng.randint(0, 50)
            value = {"min": lo, "max": lo + rng.randint(1, 100)}
            if rng.random() < 0.3:
                value = {"min": lo}  # partial range
        elif kind == "regex":
            value = rng.choice([r"^x+$", {"pattern": r"^[0-9]+$"}])
        elif kind == "enum":
            value = [name(1, 5) for _ in range(rng.randint(1, 3))]
        else:
            value = name(1, 8)
        c = {"type": kind, "value": value}
        if rng.random() < 0.5:
            c["message"] = name(0, 12)
        return c

    entities = []
    for _ in range(rng.randint(0, 3)):
        props = []
        for _ in range(rng.randint(0, 4)):
            props.append({
                "name": name(),
                "data_type": rng.choice(
                    ["String", "Integer", "Decimal", "Date", "Boolean", "Odd"]),
                "required": rng.random() < 0.4,
                "unique": rng.random() < 0.3,
                "description": name(0, 8) if rng.random() < 0.5 else "",
                "constraints": [constraint() for _ in range(rng.randint(0, 2))],
            })
        entities.append({
            "name": name(),
            "description": name(0, 8) if rng.random() < 0.5 else "",
            "entity_type": rng.choice(["standard", "fact", "dimension", ""]),
            "properties": props,
            "constraints": [],
        })
    rels = [
        {"from_entity": name(), "to_entity": name(),
         "from_property": name(), "to_property": name(),
         "relationship_type": rng.choice(["has", "belongs_to", ""]),
         "cardinality": rng.choice(["one-to-many", "many-to-one", ""]),
         "description": name(0, 8) if rng.random() < 0.5 else ""}
        for _ in range(rng.randint(0, 2))
    ]
    rules = [
        {"name": name(), "entity": name() if rng.random() < 0.7 else "",
         "condition": f"{name(1,4)} > {rng.randint(1, 99)}",
         "action": rng.choice(["filter", "classify_as_hi", ""]),
         "classification": rng.choice(["High", "low", ""]),
         "description": name(0, 8) if rng.random() < 0.5 else "",
         "priority": rng.randint(1, 5)}
        for _ in range(rng.randint(0, 2))
    ]
    return {
        "name": name(), "version": rng.choice(["1.0", "3.2.1", ""]),
        "source": name(0, 12),
        "entities": entities, "relationships": rels,
        "business_rules": rules,
        "metadata": {name(1, 6): name(0, 8)
                     for _ in range(rng.randint(0, 2))},
    }


@pytest.mark.requires_reference
@pytest.mark.parametrize("seed", DOC_SEEDS)
def test_fuzzed_doc_parity(spark, seed):
    doc = _random_doc(seed)
    ref, _ = reference_triples_from_ontology_doc(doc)
    eng = engine_doc_set(spark, doc)
    assert ref == eng, (
        f"seed={seed} doc={json.dumps(doc)[:400]}\n"
        f"missing: {sorted(ref - eng)[:12]}\nextra: {sorted(eng - ref)[:12]}"
    )

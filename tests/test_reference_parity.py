"""Machine-diffed golden parity: the engine's triple set vs the
REFERENCE exporter actually *running* (via tests/reference_harness) on
the reference's own conftest-style Shipment/Customer fixture
(/root/reference/tests/conftest.py:32-99) — the BASELINE P/R ≥ 0.95
gate, checked against the real thing rather than a hand-derived
reading of owl.py."""

import json

import pytest

from tests.parity_cases import (
    corpus_model_content,
    engine_model_set,
    mask_date,
)
from tests.reference_harness import reference_triples

pytestmark = pytest.mark.requires_reference

# the reference conftest sample model (tests/conftest.py:32-99 shape)
MODEL_DATA = {
    "name": "Test Model",
    "tables": [
        {
            "name": "Shipment",
            "description": "Shipment entity",
            "columns": [
                {"name": "ShipmentID", "dataType": "string", "isKey": True,
                 "isNullable": False, "description": "Primary key"},
                {"name": "Temperature", "dataType": "double",
                 "isNullable": True, "description": "Temperature reading"},
                {"name": "Status", "dataType": "string", "isNullable": False,
                 "description": "Shipment status"},
            ],
            "measures": [
                {"name": "High Risk Shipments",
                 "expression": ("CALCULATE(COUNT(Shipment[ShipmentID]), "
                                "Shipment[Temperature] > 25)"),
                 "description": "Count of high-risk shipments"},
            ],
        },
        {
            "name": "Customer",
            "columns": [
                {"name": "CustomerID", "dataType": "string", "isKey": True,
                 "isNullable": False},
                {"name": "RiskScore", "dataType": "double",
                 "isNullable": True},
            ],
            "measures": [],
        },
    ],
    "relationships": [
        {"name": "Shipment_Customer", "fromTable": "Shipment",
         "fromColumn": "CustomerID", "toTable": "Customer",
         "toColumn": "CustomerID", "fromCardinality": "many",
         "toCardinality": "one",
         "crossFilteringBehavior": "singleDirection", "isActive": True},
    ],
    "roles": [
        {"name": "RegionalManager",
         "tablePermissions": [
             {"name": "Shipment",
              "filterExpression": "Shipment[Region] = USERNAME()"}]},
    ],
}

# 0: wrapped JSON; 1: odd + divergent (ChurnProbability, int64 Segment,
# many-to-many Shipment rel); 3: wrapped odd; 4: EVEN + divergent
# (RiskScore combined with the divergent schema) — covers every
# generator branch pair
CORPUS_REPOS = [0, 1, 3, 4]


@pytest.fixture(scope="module")
def ref_set(tmp_path_factory):
    pbix = tmp_path_factory.mktemp("ref") / "model.pbix"
    triples, name = reference_triples(MODEL_DATA, str(pbix))
    assert name == "Test Model_Ontology"
    return mask_date(triples), str(pbix)


@pytest.fixture(scope="module")
def engine_set(spark, ref_set):
    _, pbix_path = ref_set
    return engine_model_set(spark, json.dumps(MODEL_DATA), pbix_path)


def test_reference_parity_precision_recall(ref_set, engine_set):
    ref, _ = ref_set
    eng = engine_set
    inter = ref & eng
    precision = len(inter) / len(eng)
    recall = len(inter) / len(ref)
    missing = sorted(ref - eng)
    extra = sorted(eng - ref)
    msg = (
        f"P={precision:.4f} R={recall:.4f} |ref|={len(ref)} |eng|={len(eng)}\n"
        f"missing from engine (first 15): {missing[:15]}\n"
        f"extra in engine (first 15): {extra[:15]}"
    )
    # BASELINE.json gate: P/R >= 0.95 vs the reference's own output
    assert precision >= 0.95 and recall >= 0.95, msg


def test_reference_parity_exact(ref_set, engine_set):
    """Stronger than the gate: exact set equality on this fixture.
    If this ever fails while P/R stays ≥0.95, the diff documents the
    precise divergence."""
    ref, _ = ref_set
    assert ref == engine_set, (
        f"missing: {sorted(ref - engine_set)[:20]}\n"
        f"extra: {sorted(engine_set - ref)[:20]}"
    )


@pytest.mark.parametrize("repo_idx", CORPUS_REPOS)
def test_reference_parity_corpus_models(spark, tmp_path, repo_idx):
    """Exact parity on the synthetic-corpus models too — these exercise
    SWITCH rules with colliding names (set-dedup), IF rules, RLS roles,
    hierarchies, the date/calendar quirk, and (repo 3) the
    {"model": ...} wrapper the reference PBIXReader unwraps."""
    content = corpus_model_content(repo_idx)
    pbix = tmp_path / f"m{repo_idx}.pbix"
    ref, _name = reference_triples(json.loads(content) if repo_idx % 3 != 0
                                   else json.loads(content)["model"],
                                   str(pbix))
    ref = mask_date(ref)
    eng = engine_model_set(spark, content, str(pbix))
    assert ref == eng, (
        f"repo_idx={repo_idx}\nmissing: {sorted(ref - eng)[:20]}\n"
        f"extra: {sorted(eng - ref)[:20]}"
    )

"""Frozen digests of the triple families rendered outside export_triples:
the whole ``build_triples`` set on the 6-repo fixture, the M-datasource
and report families, the agent-contract family and the Fabric IQ → OWL
family (tests/family_goldens.json, checked by
tests/test_family_goldens.py).

Each case is built once over the committed corpus fixture, plus small
hand-made inputs that reach the branches the fixture does not: empty
names and descriptions, every Fabric type-map, classification and
trigger case, the Fabric property-constraint frame, M scripts without a
database, a malformed visual config, and caller strings holding quotes
and backslashes.  A digest covers every column of every row (a
multiset: the latent families and contracts are not deduplicated).

Regenerate (only for an intended grammar change):
python -m tests.family_cases
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter

GOLDENS = os.path.join(os.path.dirname(__file__), "family_goldens.json")
FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "fixtures", "kg_corpus_6.parquet",
)
CORPUS_DDL = ("repo string, path string, commit string, lang string, "
              "content string, content_sha256 string")
# caller strings that must reach the SQL text only as quoted literals
AGENT = "o'brien\\bot"
VERSION = "2.0'rc\\1"
SOURCE = "Power BI 'Desktop' \\ Service"
EXTRACTED = "2024-05-01T12:00:00"

M_SCRIPTS = {
    "sql": 'let\n Source = Sql.Database("srv.acme.com", "DW"),\n'
           ' dbo_Sales = Source{[Schema="dbo", Item="Sales"]}[Data]\nin\n dbo_Sales',
    "web": 'let\n Source = Web.Contents("https://api.acme.com/v1")\nin\n Source',
    "excel": 'let\n Source = Excel.Workbook(File.Contents("C:\\data\\b.xlsx"))\n'
             'in\n Source',
    "anon": 'let\n Source = Odbc.DataSource("dsn=x", "")\nin\n ',
    "none": "let\n x = 1\nin\n x",
}
LAYOUT = {"sections": [
    {"name": "Sales Page", "visualContainers": [
        {"config": json.dumps({"singleVisual": {
            "visualType": "barChart",
            "projections": {"Category": [{"queryRef": "Sales.Region"}],
                            "Y": [{"queryRef": "Sales.Amount"},
                                  {"queryRef": "Measure-1"}]}}})},
        {"config": json.dumps({"singleVisual": {"visualType": "card"}})},
        {"config": "not json"},
    ]},
    {"name": "", "visualContainers": []},
]}


def _corpus(spark, rows):
    return spark.createDataFrame(
        [(repo, path, "0" * 40, lang, content,
          hashlib.sha256(content.encode()).hexdigest())
         for repo, path, lang, content in rows],
        CORPUS_DDL,
    )


def latent_corpus(spark):
    """M scripts and a layout in a repo with one model ("r1") and in a
    repo without one ("r2", dataset 'Unknown')."""
    rows = [("r1", f"q/{n}.m", "m", c) for n, c in M_SCRIPTS.items()]
    rows += [("r2", "q/sql.m", "m", M_SCRIPTS["sql"]),
             ("r1", "Rep One/Layout", "report_json", json.dumps(LAYOUT)),
             ("r2", "Rep.Two", "report_json", json.dumps(LAYOUT))]
    return _corpus(spark, rows)


def fabric_edge_frames(spark) -> dict:
    """Hand-made Fabric inputs: only the columns the converter reads."""
    k = "repo string, dataset string, "
    ents = spark.createDataFrame([
        ("e", "D x", "High Risk (v2)!", "", None, "src"),
        ("e", "D x", "Plain", "An entity", "dimension", ""),
        ("e", "D-y", "Plain", None, "fact", "Plain"),
    ], k + "entity string, description string, entity_type string, "
           "source_table string")
    types = ["string", "Int", "integer", "Decimal", "float", "DOUBLE", "date",
             "DateTime", "boolean", "bool", "binary", None]
    props = spark.createDataFrame(
        [("e", "D x", "Plain", f"p {i}.x", t, "" if i % 2 else f"d{i}")
         for i, t in enumerate(types)]
        + [("e", "D x", "High Risk (v2)!", "Score%", "double", None)],
        k + "entity string, property string, data_type string, "
            "description string")
    rels = spark.createDataFrame([
        ("e", "D x", "Plain", "High Risk (v2)!", "has", "d", "one-to-many"),
        ("e", "D x", "Plain", "Plain", "", "", ""),
        ("e", "D x", "Plain", "Other", None, None, None),
        ("e", "D x", "", "Plain", "x", "d", "1"),
        ("e", "D x", "Plain", None, "x", "d", "1"),
    ], k + "from_entity string, to_entity string, relationship_type string, "
           "description string, cardinality string")
    rules = spark.createDataFrame([
        ("e", "D x", "R crit", "Critical", "Notify Team", "Plain", "x > 1", "d"),
        ("e", "D x", "R high", "HIGH", "log it", None, "", ""),
        ("e", "D x", "R med", "medium", "Classify", "", None, None),
        ("e", "D x", "R low", "low", "alert", "Plain", "c", "d"),
        ("e", "D x", "R low2", "Low", "filter", "Plain", "c", "d"),
        ("e", "D x", "R note", "notify", "record", "Plain", "c", "d"),
        ("e", "D x", "R other", "Big", "", "Plain", "c", "d"),
        ("e", "D x", "R null", None, None, "Plain", "c", "d"),
        ("e", "D x", "", "high", "notify", "Plain", "c", "d"),
        ("e", "D x", None, "high", "notify", "Plain", "c", "d"),
    ], k + "name string, classification string, action string, "
           "entity string, condition string, description string")
    pcs = spark.createDataFrame([
        ("e", "D x", "Plain", "p 1.x", "range", 0.0, 150.0),
        ("e", "D x", "Plain", "p 2.x", "range", -1.5, 2.25),
        ("e", "D x", "Plain", "p 3.x", "range", None, 7.0),
        ("e", "D x", "Plain", "p 4.x", "required", None, None),
        ("e", "D x", "Plain", "p 5.x", "unique", 1.0, 2.0),
        ("e", "D x", "Plain", "p 6.x", "regex", 1.0, 2.0),
    ], k + "entity string, property string, constraint_type string, "
           "min_value double, max_value double")
    bindings = spark.createDataFrame([
        ("e", "D x", "Plain", "sql_db.dbo.plain"),
        ("e", "D x", "High Risk (v2)!", ""),
    ], k + "entity string, physical_source string")
    return {"entities": ents, "properties": props, "relationships": rels,
            "business_rules": rules, "property_constraints": pcs,
            "bindings": bindings}


def family_frames(spark) -> dict:
    """name → the triple DataFrame of each frozen case."""
    from powerbi_ontology_extractor_spark.functions.layout import report_triples
    from powerbi_ontology_extractor_spark.functions.mquery import (
        m_datasource_triples,
    )
    from powerbi_ontology_extractor_spark.operators.constraints_io import (
        enhancement_property_constraints,
    )
    from powerbi_ontology_extractor_spark.operators.contracts import (
        contract_triples,
        permissions_from_dashboard,
    )
    from powerbi_ontology_extractor_spark.operators.exporters import (
        ontoguard_bindings,
    )
    from powerbi_ontology_extractor_spark.operators.extract import extract_all
    from powerbi_ontology_extractor_spark.operators.fabric_owl import (
        fabric_iq_owl_triples,
    )
    from powerbi_ontology_extractor_spark.operators.ontology import (
        generate_ontology,
    )
    from powerbi_ontology_extractor_spark.pipeline import build_triples
    from powerbi_ontology_extractor_spark.sources.corpus import read_corpus

    corpus = read_corpus(spark, FIXTURE)
    md = extract_all(corpus, materialize=True)
    od = generate_ontology(md, materialize=True)
    latent = latent_corpus(spark)
    latent_models = spark.createDataFrame(
        [("r1", "Model A", "p")], "repo string, dataset string, path string")
    read_set = permissions_from_dashboard(
        md["entities"], md["relationships"], md["measures"])
    fabric_args = (od["ontology_entities"], md["properties"],
                   od["ontology_relationships"], od["business_rules"])
    edge = fabric_edge_frames(spark)
    return {
        "build_triples_kg_corpus_6": build_triples(corpus),
        "m_datasource_kg_corpus_6": m_datasource_triples(corpus, md["datasets"]),
        "m_datasource_edge": m_datasource_triples(latent, latent_models),
        "report_kg_corpus_6": report_triples(corpus, md["datasets"]),
        "report_edge": report_triples(latent, latent_models),
        "contract_read": contract_triples(read_set),
        "contract_write_quoted_agent": contract_triples(
            read_set, AGENT, "Data Steward", "write"),
        "contract_execute": contract_triples(read_set, "ops", "Admin", "execute"),
        "fabric_kg_corpus_6": fabric_iq_owl_triples(
            *fabric_args,
            property_constraints=enhancement_property_constraints(
                od["enhancements"]),
            bindings=ontoguard_bindings(od["ontology_entities"], md["properties"]),
            extracted_date=EXTRACTED, version=VERSION, source=SOURCE),
        "fabric_kg_corpus_6_defaults": fabric_iq_owl_triples(*fabric_args),
        "fabric_edge": fabric_iq_owl_triples(
            edge["entities"], edge["properties"], edge["relationships"],
            edge["business_rules"],
            property_constraints=edge["property_constraints"],
            bindings=edge["bindings"], version=VERSION, source=SOURCE),
    }


def digest(rows) -> dict:
    """sha256 + per-predicate counts over every column of every row."""
    lines = sorted("\t".join(str(v) for v in r) for r in rows)
    return {
        "rows": len(lines),
        "sha256": hashlib.sha256("\n".join(lines).encode()).hexdigest(),
        "per_pred": dict(sorted(Counter(r["pred"] for r in rows).items())),
    }


def family_digests(spark) -> dict:
    from powerbi_ontology_extractor_spark.operators.triples import TRIPLE_COLS

    return {name: digest(df.select(*TRIPLE_COLS).collect())
            for name, df in family_frames(spark).items()}


if __name__ == "__main__":
    from powerbi_ontology_extractor_spark import get_spark

    spark = get_spark(app_name="family-goldens", parallelism=4)
    spark.sparkContext.setLogLevel("ERROR")
    out = family_digests(spark)
    with open(GOLDENS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(out)} digests to {GOLDENS}")

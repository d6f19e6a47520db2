"""M connector tokenizer coverage + report-layout parsing."""

import hashlib

import pytest
from pyspark.sql import functions as F

from powerbi_ontology_extractor_spark.functions.layout import visual_bindings_df
from powerbi_ontology_extractor_spark.functions.mquery import (
    m_connections_df,
    m_datasource_triples,
)

M_SCRIPTS = {
    "sql": (
        'let\n    Source = Sql.Database("srv.acme.com", "DW"),\n'
        '    dbo_Sales = Source{[Schema="dbo", Item="Sales"]}[Data]\nin\n    dbo_Sales'
    ),
    "web": (
        'let\n    Source = Web.Contents("https://api.acme.com/v1/orders")\n'
        "in\n    Source"
    ),
    "odata": (
        'let\n    Source = OData.Feed("https://svc.acme.com/odata")\nin\n    Source'
    ),
    "excel": (
        'let\n    Source = Excel.Workbook(File.Contents("C:\\data\\book.xlsx"))\n'
        "in\n    Source"
    ),
    "no_source": "let\n    x = 1\nin\n    x",
}


def _corpus(spark):
    rows = []
    for name, content in M_SCRIPTS.items():
        rows.append(
            ("r1", f"q/{name}.m", "0" * 40, "m",
             content, hashlib.sha256(content.encode()).hexdigest())
        )
    return spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, "
        "content string, content_sha256 string",
    )


def test_connector_coverage(spark):
    conns = {r["path"]: r for r in m_connections_df(_corpus(spark)).collect()}
    assert conns["q/sql.m"]["connector"] == "Sql.Database"
    assert conns["q/sql.m"]["host"] == "srv.acme.com"
    assert conns["q/sql.m"]["database"] == "DW"
    assert conns["q/sql.m"]["schema_name"] == "dbo"
    assert conns["q/sql.m"]["item"] == "Sales"
    assert conns["q/web.m"]["connector"] == "Web.Contents"
    assert conns["q/web.m"]["host"] == "https://api.acme.com/v1/orders"
    assert conns["q/odata.m"]["connector"] == "OData.Feed"
    assert conns["q/excel.m"]["connector"] == "Excel.Workbook"
    assert conns["q/excel.m"]["host"] == "C:\\data\\book.xlsx"
    # a script with no connector emits nothing (not a null row)
    assert "q/no_source.m" not in conns


def test_connector_triples(spark):
    models = spark.createDataFrame(
        [("r1", "D1", "p")], "repo string, dataset string, path string"
    )
    t = m_datasource_triples(_corpus(spark), models)
    conns = {
        r["obj"]
        for r in t.where(F.col("pred") == "ont:connector").collect()
    }
    assert conns == {"Sql.Database", "Web.Contents", "OData.Feed", "Excel.Workbook"}


def test_layout_missing_projections_tolerated(spark):
    import json

    layout = json.dumps(
        {"sections": [{"name": "P", "visualContainers": [
            {"config": json.dumps({"singleVisual": {"visualType": "card"}})},
            {"config": "not json"},
        ]}]}
    )
    corpus = spark.createDataFrame(
        [("r1", "L", "0" * 40, "report_json", layout,
          hashlib.sha256(layout.encode()).hexdigest())],
        "repo string, path string, commit string, lang string, "
        "content string, content_sha256 string",
    )
    rows = visual_bindings_df(corpus).collect()
    # card visual has no projections → one row with null query_ref;
    # bad config → null visual row, no crash
    assert any(r["visual_type"] == "card" and r["query_ref"] is None for r in rows)


def test_report_triples_one_copy_per_dataset(spark):
    """A repo with two models and one layout: the report and visual
    triples are emitted in EACH dataset's namespace, like the field
    bindings, whatever the shuffle partitioning."""
    import json

    from powerbi_ontology_extractor_spark.functions.layout import report_triples

    def visual(vtype, ref):
        return {"config": json.dumps({"singleVisual": {
            "visualType": vtype,
            "projections": {"Values": [{"queryRef": ref}]},
        }})}

    layout = json.dumps({"sections": [{"name": "P", "visualContainers": [
        visual("card", "Sales.Amount"), visual("table", "Customer.Name"),
    ]}]})
    corpus = spark.createDataFrame(
        [("r1", "Report/Layout", "0" * 40, "report_json", layout,
          hashlib.sha256(layout.encode()).hexdigest())],
        "repo string, path string, commit string, lang string, "
        "content string, content_sha256 string",
    )
    models = spark.createDataFrame(
        [("r1", "A"), ("r1", "B")], "repo string, dataset string"
    )

    def run():
        return sorted(
            (r["dataset"], r["subj"], r["pred"], r["obj"])
            for r in report_triples(corpus, models).collect()
        )

    keys = ["spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.enabled"]
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        out = []
        for parts in ("3", "17"):
            spark.conf.set(keys[0], parts)
            spark.conf.set(keys[1], "false")
            out.append(run())
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert out[0] == out[1]

    rows = out[0]
    uses = {(ds, o) for ds, _, p, o in rows if p == "ont:usesDataset"}
    assert uses == {("A", "ont:A"), ("B", "ont:B")}
    per_ds = {
        ds: {(s, p, o) for d, s, p, o in rows
             if d == ds and p != "ont:usesDataset"}
        for ds in ("A", "B")
    }
    assert per_ds["A"] == per_ds["B"]
    preds = {p for _, p, _ in per_ds["A"]}
    assert {"rdf:type", "ont:visualType", "ont:onPage", "ont:inReport",
            "ont:bindsField"} <= preds
    # one report + two visuals, each typed once per dataset
    assert sorted(o for _, p, o in per_ds["A"] if p == "rdf:type") == [
        "ont:Report", "ont:Visual", "ont:Visual"
    ]
    assert len(rows) == len(set(rows))

"""Power Query (M) connection parsing → data-source triples.

The reference reads M expressions but never consumes them
(/root/reference/powerbi_ontology/utils/pbix_reader.py:388-408 — latent
surface); the north star requires datasource→connects_to triples.
The connection grammar here covers the dominant M shape::

    let
        Source = Sql.Database("host", "db"),
        dbo_T = Source{[Schema="dbo", Item="T"]}[Data]
    in
        dbo_T

All extraction is JVM-side regexp (whole-stage codegen) — no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from powerbi_ontology_extractor_spark.functions.naming import safe_name_sql
from powerbi_ontology_extractor_spark.operators.triples import (
    LIT,
    Frame,
    T,
    _nz,
    emit_frames,
)

_CONNECTOR = r'=\s*((?:\w+\.)+\w+)\s*\('
_ARG1 = r'=\s*(?:\w+\.)+\w+\s*\(\s*"([^"]*)"'
_ARG2 = r'=\s*(?:\w+\.)+\w+\s*\(\s*"[^"]*"\s*,\s*"([^"]*)"'
_NESTED_ARG1 = r'=\s*(?:\w+\.)+\w+\s*\(\s*(?:\w+\.)+\w+\s*\(\s*"([^"]*)"'
_SCHEMA = r'Schema\s*=\s*"([^"]+)"'
_ITEM = r'Item\s*=\s*"([^"]+)"'
_FINAL = r"in\s+(\w+)\s*$"


def m_connections_df(corpus: DataFrame) -> DataFrame:
    """(repo, path, query_name, connector, host, database, schema_name,
    item) — the first connector call of each M script.

    Covers the common connector grammar: ``X.Y("host"[, "db"])`` plus
    the nested file shape ``Excel.Workbook(File.Contents("path"))``;
    the navigation step ``{[Schema="s", Item="t"]}`` supplies
    schema/item when present.  All JVM regexp — no Python.
    """
    m = corpus.where(F.col("lang") == "m")
    c = F.col("content")
    connector = F.regexp_extract(c, _CONNECTOR, 1)
    direct_arg1 = F.regexp_extract(c, _ARG1, 1)
    nested_arg1 = F.regexp_extract(c, _NESTED_ARG1, 1)
    return (
        m.select(
            "repo",
            "path",
            F.regexp_extract(c, _FINAL, 1).alias("query_name"),
            connector.alias("connector"),
            F.when(direct_arg1 != "", direct_arg1)
            .otherwise(nested_arg1)
            .alias("host"),
            F.regexp_extract(c, _ARG2, 1).alias("database"),
            F.regexp_extract(c, _SCHEMA, 1).alias("schema_name"),
            F.regexp_extract(c, _ITEM, 1).alias("item"),
        )
        .where((F.col("connector") != "") & (F.col("host") != ""))
    )


# query → connectsTo → datasource; the datasource IRI joins its four
# connection parts
M_DATASOURCE = Frame(
    {"_query": f"concat('ont:mquery_', {safe_name_sql('query_name')})",
     "_ds": "concat('ont:datasource_', " + ", '_', ".join(
         map(safe_name_sql, ["host", "database", "schema_name", "item"])) + ")"},
    [
        T("_query", "'rdf:type'", "'ont:PowerQuery'"),
        T("_query", "'ont:connectsTo'", "_ds"),
        T("_ds", "'rdf:type'", "'ont:DataSource'"),
        T("_ds", "'ont:connector'", _nz("connector"), LIT),
        T("_ds", "'ont:host'", _nz("host"), LIT),
        T("_ds", "'ont:database'", _nz("database"), LIT),
        T("_ds", "'ont:schema'", _nz("schema_name"), LIT),
        T("_ds", "'ont:item'", _nz("item"), LIT),
        T("_ds", "'ont:connectionString'",
          "concat_ws('/', host, concat_ws('.', database, schema_name, item))", LIT),
    ],
)


def m_datasource_triples(corpus: DataFrame, models: DataFrame) -> DataFrame:
    """datasource→connects_to triples; dataset resolved by joining the
    repo's model (broadcast — dataset list is dim-sized per repo)."""
    conns = m_connections_df(corpus)
    datasets = models.select("repo", "dataset").dropDuplicates()
    df = conns.join(F.broadcast(datasets), "repo", "left").withColumn(
        "dataset", F.coalesce(F.col("dataset"), F.lit("Unknown"))
    )
    return emit_frames([(M_DATASOURCE, df)])

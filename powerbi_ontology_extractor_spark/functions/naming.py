"""Name / string normalization as native Spark Column expressions, or as
SQL text (``*_sql``) for the emission grammar's spec table.

Everything here stays inside whole-stage codegen (no Python UDFs).
Semantics match the reference:
- safe_name:      powerbi_ontology/export/owl.py:494-498
- sanitize_dax:   powerbi_ontology/export/owl.py:473-492
- snake_case:     /root/reference/powerbi_ontology/schema_mapper.py:337-342
- normalize_formula: /root/reference/powerbi_ontology/analyzer.py:337-341
- normalize_name (fuzzy eval key): /root/reference/evaluation/run_evaluation.py:120-122
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_DAX_LENGTH = 10_000


def safe_name(col: Column | str) -> Column:
    """URI-safe name: space/-/. → _, empty/null → 'unnamed'."""
    c = F.col(col) if isinstance(col, str) else col
    safe = F.translate(c, " -.", "___")
    return F.when(safe.isNull() | (safe == ""), F.lit("unnamed")).otherwise(safe)


def safe_name_sql(expr: str) -> str:
    """``safe_name`` as SQL text over the expression ``expr``."""
    return f"coalesce(nullif(translate({expr}, ' -.', '___'), ''), 'unnamed')"


def sanitize_dax_sql(expr: str) -> str:
    """Strip null bytes + semicolons, truncate to 10000 chars; null → ''
    (SQL text over ``expr``)."""
    return (f"coalesce(substring(regexp_replace({expr}, '[\\\\x00;]', ''), "
            f"1, {MAX_DAX_LENGTH}), '')")


def snake_case(col: Column | str) -> Column:
    """CamelCase → snake_case (two-pass regex, as the reference)."""
    c = F.col(col) if isinstance(col, str) else col
    pass1 = F.regexp_replace(c, r"(.)([A-Z][a-z]+)", r"$1_$2")
    pass2 = F.regexp_replace(pass1, r"([a-z0-9])([A-Z])", r"$1_$2")
    return F.lower(pass2)


def normalize_formula(col: Column | str) -> Column:
    """Dedup key for DAX formulas: strip ALL whitespace, lowercase."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_replace(c, r"\s+", ""))


def normalize_name(col: Column | str) -> Column:
    """Fuzzy entity-match key: lowercase, _/- → space, trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.translate(F.lower(c), "_-", "  "))


def map_pbix_type(col: Column | str) -> Column:
    """PBIX dataType → ontology type (default String).

    Reference: extractor.py:333-343.
    """
    c = F.col(col) if isinstance(col, str) else col
    lc = F.lower(F.coalesce(c, F.lit("")))
    return (
        F.when(lc == "string", "String")
        .when(lc == "int64", "Integer")
        .when(lc == "double", "Decimal")
        .when(lc == "datetime", "Date")
        .when(lc == "boolean", "Boolean")
        .when(lc == "decimal", "Decimal")
        .otherwise("String")
    )


def map_to_xsd_sql(expr: str) -> str:
    """Ontology data type → XSD type as prefixed name (default
    xsd:string), as SQL text over ``expr``.

    Reference: export/owl.py:457-471.
    """
    xsd = [("String", "string"), ("Integer", "integer"), ("Decimal", "decimal"),
           ("Date", "date"), ("DateTime", "dateTime"), ("Boolean", "boolean"),
           ("Float", "float"), ("Double", "double"), ("Long", "long"),
           ("Binary", "base64Binary")]
    whens = " ".join(f"WHEN '{t}' THEN 'xsd:{x}'" for t, x in xsd)
    return f"CASE {expr} {whens} ELSE 'xsd:string' END"

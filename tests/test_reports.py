"""Driver-side report renderers (no Spark needed)."""

from powerbi_ontology_extractor_spark.functions.reports import (
    changelog_markdown,
    increment_version,
    mermaid_diagram,
    recommendations_from_conflicts,
    unified_diff_text,
)


def test_increment_version():
    assert increment_version("1.0.0") == "1.0.1"
    assert increment_version("2.9") == "2.10"
    assert increment_version("abc") == "abc.1"
    assert increment_version("1.0.x") == "1.0.x.1"


def test_recommendations():
    assert recommendations_from_conflicts([]) == [
        "No semantic conflicts detected. Good job!"
    ]
    recs = recommendations_from_conflicts(
        [
            {"conflict_type": "type_conflict", "severity": "CRITICAL"},
            {"conflict_type": "rule_conflict", "severity": "WARNING"},
        ]
    )
    assert any("critical" in r.lower() for r in recs)
    assert any("data dictionary" in r for r in recs)
    assert any("business rules" in r.lower() for r in recs)


def test_changelog_markdown():
    changes = [
        {"change_type": "added", "element_type": "entity", "element_name": "C",
         "path": "C", "old_value": None, "new_value": "type=standard, properties=1",
         "details": ""},
        {"change_type": "modified", "element_type": "property", "element_name": "x",
         "path": "A.x.data_type", "old_value": "String", "new_value": "Decimal",
         "details": "Data type changed"},
    ]
    md = changelog_markdown(changes, "v1", "v2")
    assert "# Changelog: v1 → v2" in md
    assert "## Added" in md and "## Modified" in md
    assert "`A.x.data_type`: String → Decimal" in md


def test_unified_diff():
    d = unified_diff_text(["a", "b"], ["a", "c"], "src", "tgt")
    assert "-b" in d and "+c" in d


def test_mermaid():
    nodes = [
        {"node": "ont:Ship", "node_type": "owl:Class"},
        {"node": "ont:Cust", "node_type": "owl:Class"},
    ]
    edges = [{"src": "ont:Ship", "rel": "ont:belongs_to", "dst": "ont:Cust"}]
    m = mermaid_diagram(nodes, edges)
    assert m.startswith("graph TD")
    assert 'Ship[("Ship")]' in m
    assert "Ship -->|belongs_to| Cust" in m


def test_html_debt_report():
    from powerbi_ontology_extractor_spark.functions.reports import (
        html_debt_report,
    )

    html = html_debt_report(
        conflicts=[{
            "concept": "total sales", "severity": "HIGH",
            "dashboard1": "r1/D1", "definition1": "SUM(A[X])",
            "dashboard2": "r2/D2", "definition2": "SUM(B[Y])",
            "description": "'total sales' defined differently",
        }],
        duplications=[{
            "measure_name": "KPI", "dashboards": ["r1/D1", "r2/D2"],
            "dax_formula": "SUM(A[X])", "description": "dup",
        }],
        debt={"total_cost": 60000.0, "total_conflicts": 1,
              "total_duplications": 1},
        canonical_defs=[{
            "name": "kpi", "suggested_definition": "sum(a[x])",
            "confidence": 2 / 3, "dashboards_using": ["r1/D1", "r2/D2"],
        }],
    )
    # analyzer.py:343-420 layout parity markers
    assert "<title>Semantic Debt Analysis Report</title>" in html
    assert "$60,000" in html
    assert 'class="conflict"' in html and "total sales" in html
    assert 'class="duplication"' in html and "r1/D1, r2/D2" in html
    assert "<td>67%</td>" in html
    assert "Conflicts Detected (1)" in html


# ---------------------------------------------------------------------------
# Distributed render twins (functions/report_lines.py): the frame
# renderers must produce byte-identical lines to the driver functions.


def test_changelog_lines_matches_driver(spark):
    from powerbi_ontology_extractor_spark.functions.report_lines import (
        changelog_lines,
    )

    changes = [
        # added with new_value + details
        ("added", "entity", "C", "C", None, "type=standard, properties=1",
         "New entity"),
        # added with empty new_value falls back to old_value
        ("added", "rule", "R", "rule:R", "cond=x", "", ""),
        # removed renders old_value
        ("removed", "property", "y", "B.y", "type=String, required=False",
         None, ""),
        # modified with null old_value renders empty
        ("modified", "entity", "A", "A.description", None, "New desc",
         "Description changed"),
        # modified without details gets no suffix
        ("modified", "property", "x", "A.x.data_type", "String", "Decimal",
         ""),
    ]
    cols = ["change_type", "element_type", "element_name", "path",
            "old_value", "new_value", "details"]
    df = spark.createDataFrame(changes, cols)
    got = {
        (r["section"], r["path"], r["line"])
        for r in changelog_lines(df).collect()
    }

    # the driver twin receives ''-coalesced dicts (as the entry queries
    # emit) and must render the same bullet per row
    dicts = [
        {k: ("" if v is None else v) for k, v in zip(cols, row)}
        for row in changes
    ]
    md = changelog_markdown(dicts, "src", "tgt")
    driver_bullets = [ln for ln in md.splitlines() if ln.startswith("- ")]
    assert sorted(ln for _, _, ln in got) == sorted(driver_bullets)
    # sections initcap'd from change_type
    assert {s for s, _, _ in got} == {"Added", "Removed", "Modified"}


def test_mermaid_lines_matches_driver(spark):
    from powerbi_ontology_extractor_spark.functions.report_lines import (
        mermaid_lines,
    )

    # 70 nodes so the max_nodes=60 top-k truncates; names exercise every
    # sanitized character and both shapes
    nodes = [
        {"node": f"ont:N{i:02d}.sub-{i} x/{i}",
         "node_type": "owl:Class" if i % 3 == 0 else None}
        for i in range(70)
    ]
    edges = [
        {"src": "ont:N00.sub-0 x/0", "rel": "ont:links_to",
         "dst": "ont:N01.sub-1 x/1"},
        {"src": "ont:N00.sub-0 x/0", "rel": "rdfs:subClassOf",
         "dst": "ont:N69.sub-69 x/69"},  # dst dropped by the top-k
    ]
    ndf = spark.createDataFrame(nodes)
    edf = spark.createDataFrame(edges)
    got = mermaid_lines(ndf, edf, max_nodes=60).collect()
    got_nodes = sorted(r["line"] for r in got if r["kind"] == "node")
    got_edges = sorted(r["line"] for r in got if r["kind"] == "edge")

    m = mermaid_diagram(sorted(nodes, key=lambda n: n["node"]), edges,
                        max_nodes=60)
    lines = m.splitlines()
    assert lines[0] == "graph TD"
    drv_edges = sorted(ln for ln in lines[1:] if " -->|" in ln)
    drv_nodes = sorted(ln for ln in lines[1:] if " -->|" not in ln)
    assert got_nodes == drv_nodes
    assert got_edges == drv_edges
    assert len(got_nodes) == 60 and len(got_edges) == 1


def test_recommendation_lines_matches_driver(spark):
    from powerbi_ontology_extractor_spark.functions.report_lines import (
        recommendation_lines,
    )

    # fires every branch: critical, type/entity/rule types, >3 warnings
    conflicts = (
        [("type_conflict", "CRITICAL"), ("entity_conflict", "WARNING")]
        + [("rule_conflict", "WARNING")] * 3
        + [("relationship_conflict", "WARNING")]
    )
    df = spark.createDataFrame(conflicts, ["conflict_type", "severity"])
    got = sorted(r["tip"] for r in recommendation_lines(df).collect())
    want = sorted(
        recommendations_from_conflicts(
            [{"conflict_type": t, "severity": s} for t, s in conflicts]
        )
    )
    assert got == want and len(got) == 5

    # empty frame → the driver twin's no-conflicts row
    empty = spark.createDataFrame([], "conflict_type string, severity string")
    assert [r["tip"] for r in recommendation_lines(empty).collect()] == (
        recommendations_from_conflicts([])
    )


def test_debt_report_lines_matches_driver(spark):
    from powerbi_ontology_extractor_spark.functions.report_lines import (
        debt_report_lines,
    )
    from powerbi_ontology_extractor_spark.functions.reports import (
        html_debt_report,
    )

    conflicts = [
        {"concept": "total sales", "severity": "HIGH",
         "dashboard1": "r1/D1", "definition1": "SUM(A[X])",
         "dashboard2": "r2/D2", "definition2": "SUM(B[Y])",
         "description": "'total sales' defined differently in r1/D1 vs r2/D2"},
        {"concept": "margin", "severity": "LOW",
         "dashboard1": "r1/D1", "definition1": "a - b",
         "dashboard2": "r3/D3", "definition2": "A - B",
         "description": "'margin' defined differently in r1/D1 vs r3/D3"},
    ]
    dups = [
        {"measure_name": "KPI", "dashboards": ["r1/D1", "r2/D2", "r3/D3"],
         "dax_formula": "SUM(A[X])",
         "description": "Same measure 'KPI' duplicated across 3 dashboards"},
        {"measure_name": "A (and 1 others)", "dashboards": ["r1/D1"],
         "dax_formula": "1+1",
         "description": "Same logic with different names: A, B"},
    ]
    canon = [
        # 2/3 → 67%; long definition exercises the [:100] + '...' cell
        {"name": "kpi", "suggested_definition": "sum(a[x])" * 20,
         "confidence": 2 / 3, "dashboards_using": ["r1/D1", "r2/D2"]},
        # 0.625*100 = 62.5 → HALF_EVEN 62% in all three renderers
        {"name": "margin", "suggested_definition": "a-b",
         "confidence": 0.625,
         "dashboards_using": ["r1/D1", "r2/D2", "r3/D3"]},
    ]

    cdf = spark.createDataFrame(
        [tuple(c[k] for k in ("concept", "dashboard1", "definition1",
                              "dashboard2", "definition2", "severity",
                              "description")) for c in conflicts],
        ["concept", "dashboard1", "definition1", "dashboard2",
         "definition2", "severity", "description"],
    )
    ddf = spark.createDataFrame(
        [tuple(d[k] for k in ("measure_name", "dashboards", "dax_formula",
                              "description")) for d in dups],
        "measure_name string, dashboards array<string>, "
        "dax_formula string, description string",
    )
    kdf = spark.createDataFrame(
        [tuple(c[k] for k in ("name", "suggested_definition", "confidence",
                              "dashboards_using")) for c in canon],
        "name string, suggested_definition string, confidence double, "
        "dashboards_using array<string>",
    )
    rows = debt_report_lines(cdf, ddf, kdf).collect()
    by_sec = {}
    for r in rows:
        by_sec.setdefault(r["section"], []).append(r["line"])

    html = html_debt_report(
        conflicts, dups,
        {"total_cost": 120000.0, "total_conflicts": 2,
         "total_duplications": 2},
        canon,
    )
    # byte parity: joining the twin's lines in driver input order must
    # reproduce each section body verbatim inside the driver's HTML
    order = {
        "conflict": [c["concept"] for c in conflicts],
        "duplication": [d["measure_name"] for d in dups],
        "canonical": [c["name"] for c in canon],
    }
    for sec, keys in order.items():
        lines = by_sec[sec]
        assert len(lines) == len(keys)
        ordered = sorted(lines, key=lambda ln: keys.index(
            next(k for k in keys if f">{k}<" in ln or f"<h3>{k}</h3>" in ln)))
        assert "".join(ordered) in html
    assert "<td>67%</td>" in html and "<td>62%</td>" in html

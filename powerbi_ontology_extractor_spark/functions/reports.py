"""Driver-side report renderers over collected (KB-sized) aggregates.

The reference's text/HTML/markdown sinks (SURVEY §2.1 S14, §2.6 A12,
§2.7 F6–F7, §2.2 P16) are inherently driver-side — reports are small by
construction.  Each helper takes collected rows, never DataFrames.
"""

from __future__ import annotations

import difflib


def increment_version(version: str) -> str:
    """Bump the last dotted component (ontology_diff.py:730-739)."""
    parts = version.split(".")
    if len(parts) >= 2:
        try:
            parts[-1] = str(int(parts[-1]) + 1)
            return ".".join(parts)
        except ValueError:
            pass
    return f"{version}.1"


def recommendations_from_conflicts(conflicts: list[dict]) -> list[str]:
    """Rule-based report tips from conflict-type counts
    (semantic_debt.py:532-568)."""
    if not conflicts:
        return ["No semantic conflicts detected. Good job!"]
    recs = []
    critical = sum(1 for c in conflicts if c.get("severity") == "CRITICAL")
    warning = sum(1 for c in conflicts if c.get("severity") == "WARNING")
    types = {c.get("conflict_type") for c in conflicts}
    if critical:
        recs.append(
            f"Address {critical} critical conflict(s) immediately - they may "
            "cause data inconsistencies."
        )
    if "type_conflict" in types:
        recs.append(
            "Create a shared data dictionary to standardize property types "
            "across dashboards."
        )
    if "entity_conflict" in types:
        recs.append(
            "Consider creating a master ontology schema that all dashboards "
            "inherit from."
        )
    if "rule_conflict" in types:
        recs.append(
            "Centralize business rules in a single repository to ensure "
            "consistency."
        )
    if warning > 3:
        recs.append(
            "Schedule a semantic alignment review with stakeholders from "
            "different dashboard teams."
        )
    return recs


def changelog_markdown(
    changes: list[dict], source: str, target: str,
    source_version: str = "1.0.0", target_version: str = "1.0.0",
) -> str:
    """Markdown changelog from collected diff rows
    (ontology_diff.py:113-167)."""
    lines = [
        f"# Changelog: {source} → {target}",
        "",
        f"**From**: {source} v{source_version}",
        f"**To**: {target} v{target_version}",
        "",
    ]
    for section, ctype in [
        ("## Added", "added"),
        ("## Removed", "removed"),
        ("## Modified", "modified"),
    ]:
        rows = [c for c in changes if c["change_type"] == ctype]
        if not rows:
            continue
        lines.append(section)
        for c in sorted(rows, key=lambda c: c["path"]):
            detail = f" — {c['details']}" if c.get("details") else ""
            if ctype == "modified":
                lines.append(
                    f"- `{c['path']}`: {c.get('old_value')} → "
                    f"{c.get('new_value')}{detail}"
                )
            else:
                val = c.get("new_value") or c.get("old_value") or ""
                lines.append(f"- `{c['path']}` ({c['element_type']}): {val}{detail}")
        lines.append("")
    return "\n".join(lines)


def unified_diff_text(src_lines: list[str], tgt_lines: list[str],
                      src_name: str, tgt_name: str) -> str:
    """Sorted-line unified diff (ontology_diff.py:169-191)."""
    return "\n".join(
        difflib.unified_diff(
            sorted(src_lines), sorted(tgt_lines),
            fromfile=src_name, tofile=tgt_name, lineterm="",
        )
    )


def html_debt_report(
    conflicts: list[dict],
    duplications: list[dict],
    debt: dict,
    canonical_defs: list[dict],
    max_items: int = 500,
) -> str:
    """HTML semantic-debt report (analyzer.py:343-420 layout parity:
    same sections, classes and table; driver-side over collected rows,
    capped at ``max_items`` per section with exact totals from the
    ``debt`` aggregate row)."""
    total_cost = debt.get("total_cost", 0.0)
    head = f"""<!DOCTYPE html>
<html>
<head>
    <title>Semantic Debt Analysis Report</title>
    <style>
        body {{ font-family: Arial, sans-serif; margin: 20px; }}
        h1 {{ color: #333; }}
        h2 {{ color: #666; margin-top: 30px; }}
        .conflict {{ border-left: 4px solid #f44336; padding: 10px; margin: 10px 0; background: #ffebee; }}
        .duplication {{ border-left: 4px solid #ff9800; padding: 10px; margin: 10px 0; background: #fff3e0; }}
        .debt {{ border: 2px solid #f44336; padding: 20px; margin: 20px 0; background: #ffebee; }}
        table {{ border-collapse: collapse; width: 100%; margin: 20px 0; }}
        th, td {{ border: 1px solid #ddd; padding: 8px; text-align: left; }}
        th {{ background-color: #4CAF50; color: white; }}
    </style>
</head>
<body>
    <h1>Semantic Debt Analysis Report</h1>

    <div class="debt">
        <h2>Total Semantic Debt</h2>
        <p><strong>${total_cost:,.0f}</strong></p>
        <p>Conflicts: {debt.get("total_conflicts", len(conflicts))}</p>
        <p>Duplications: {debt.get("total_duplications", len(duplications))}</p>
    </div>
"""
    conflict_divs = "".join(
        f"""
    <div class="conflict">
        <h3>{c.get("concept", c.get("name", ""))}</h3>
        <p><strong>Severity:</strong> {c.get("severity", "")}</p>
        <p><strong>{c.get("dashboard1", "")}:</strong> {c.get("definition1", "")}</p>
        <p><strong>{c.get("dashboard2", "")}:</strong> {c.get("definition2", "")}</p>
        <p>{c.get("description", "")}</p>
    </div>"""
        for c in conflicts[:max_items]
    )
    dup_divs = "".join(
        f"""
    <div class="duplication">
        <h3>{d.get("measure_name", "")}</h3>
        <p><strong>Dashboards:</strong> {", ".join(d.get("dashboards", []))}</p>
        <p><strong>Formula:</strong> <code>{d.get("dax_formula", "")}</code></p>
        <p>{d.get("description", "")}</p>
    </div>"""
        for d in duplications[:max_items]
    )
    canon_rows = "".join(
        f"""
        <tr>
            <td>{c.get("name", "")}</td>
            <td><code>{str(c.get("suggested_definition", ""))[:100]}...</code></td>
            <td>{c.get("confidence", 0.0):.0%}</td>
            <td>{len(c.get("dashboards_using", []))}</td>
        </tr>"""
        for c in canonical_defs[:max_items]
    )
    return (
        head
        + f"""
    <h2>Conflicts Detected ({len(conflicts)})</h2>{conflict_divs}

    <h2>Duplications Identified ({len(duplications)})</h2>{dup_divs}

    <h2>Canonical Definition Suggestions ({len(canonical_defs)})</h2>
    <table>
        <tr>
            <th>Concept</th>
            <th>Suggested Definition</th>
            <th>Confidence</th>
            <th>Dashboards Using</th>
        </tr>{canon_rows}
    </table>
</body>
</html>
"""
    )


def mermaid_diagram(nodes: list[dict], edges: list[dict], max_nodes: int = 60) -> str:
    """Mermaid graph text from collected node/edge rows (the
    visualizer's diagram surface, utils/visualizer.py:70-120)."""

    def nid(name: str) -> str:
        return (
            name.replace("ont:", "").replace(":", "_").replace("-", "_")
            .replace(".", "_").replace("/", "_").replace(" ", "_")
        )

    keep = {n["node"] for n in nodes[:max_nodes]}
    lines = ["graph TD"]
    for n in nodes[:max_nodes]:
        label = n["node"].replace("ont:", "")
        shape = (
            f'{nid(n["node"])}[("{label}")]'
            if n.get("node_type") == "owl:Class"
            else f'{nid(n["node"])}["{label}"]'
        )
        lines.append(f"    {shape}")
    for e in edges:
        if e["src"] in keep and e["dst"] in keep:
            rel = e["rel"].replace("ont:", "").replace("rdfs:", "")
            lines.append(f"    {nid(e['src'])} -->|{rel}| {nid(e['dst'])}")
    return "\n".join(lines)

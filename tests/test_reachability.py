"""Every top-level name of the package is reached from outside its own
definition by non-test code, or is a reference-semantics helper on the
allow-list.  Pure AST scan of the .py files (a text scan of the .sh
files); no Spark.

Only code counts as a reference: an ``ast.Name``, an
``ast.Attribute``'s attribute, or an import alias, f-string
expressions included.  A comment, docstring or string literal that
mentions a name does not reach it."""

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "powerbi_ontology_extractor_spark"

# reference-semantics helpers only tests reach: the parity tests and
# goldens pin their reference behaviour
ALLOWED = {
    ("pipeline", "build_triples_canonicalized"),
    ("operators.evaluation", "match_entities"),
    ("operators.evaluation", "match_relationships"),
    ("operators.evaluation", "match_triples"),
    ("operators.drift", "validate_bindings"),
    ("operators.drift", "drift_severity"),
    ("operators.ontology_io", "doc_datasets"),
    ("operators.ontology_io", "ontology_doc_triples"),
    ("operators.exporters", "fabric_iq_business_rules"),
    ("operators.exporters", "ontoguard_firewall_rules"),
    ("functions.dax_tokenizer", "extract_rules_ast"),
    ("functions.dax_tokenizer", "identify_dependencies_ast"),
    ("functions.reports", "increment_version"),
    ("functions.reports", "unified_diff_text"),
    # driver twins of the report_lines renderers: test_reports
    # byte-compares report_lines' output against them
    ("functions.reports", "recommendations_from_conflicts"),
    ("functions.reports", "changelog_markdown"),
    ("functions.reports", "html_debt_report"),
    ("functions.reports", "mermaid_diagram"),
}


def _sources():
    """(path, text) of every non-test .py/.sh file of the repo."""
    out = []
    for dirpath, dirnames, filenames in os.walk(ROOT):
        rel = os.path.relpath(dirpath, ROOT)
        dirnames[:] = [
            d for d in dirnames
            if not d.startswith(".") and d != "__pycache__"
            and not (rel == "." and d == "tests")
        ]
        for f in filenames:
            if f.endswith((".py", ".sh")):
                p = os.path.join(dirpath, f)
                with open(p, encoding="utf-8") as fh:
                    out.append((p, fh.read()))
    return out


def _definitions(tree):
    """(name, first line, last line) of each top-level def, class and
    assignment target."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            start = min([node.lineno] + [d.lineno for d in node.decorator_list])
            yield node.name, start, node.end_lineno
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        yield n.id, node.lineno, node.end_lineno


def _references(tree):
    """(name, line) of every code reference in a module."""
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            yield n.id, n.lineno
        elif isinstance(n, ast.Attribute):
            yield n.attr, n.end_lineno
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            for a in n.names:
                for part in a.name.split(".") + [a.asname]:
                    yield part, n.lineno


def test_every_package_name_is_reached():
    sources = _sources()
    trees = {p: ast.parse(t) for p, t in sources if p.endswith(".py")}
    refs = {p: list(_references(tree)) for p, tree in trees.items()}
    shells = [t for p, t in sources if p.endswith(".sh")]
    unreached = []
    for path, tree in trees.items():
        rel = os.path.relpath(path, ROOT)
        if not rel.startswith(PKG + os.sep):
            continue
        module = rel[len(PKG) + 1:-3].replace(os.sep, ".")
        for name, start, end in _definitions(tree):
            if name.startswith("__") or (module, name) in ALLOWED:
                continue
            if any(n == name and not start <= line <= end for n, line in refs[path]):
                continue
            if any(n == name for p, r in refs.items() if p != path for n, _ in r):
                continue
            word = re.compile(rf"\b{re.escape(name)}\b")
            if any(word.search(t) for t in shells):
                continue
            unreached.append(f"{module}.{name}")
    assert not unreached, f"reached only by tests (or nothing): {unreached}"

#!/usr/bin/env python3
"""Self-test of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py          # output checks only, no Spark
    python3 perfbench/selftest.py --runs   # also smoke-run every workload

The first part feeds each output check a correct result and corrupted
copies of it, and asserts the check passes the first and fires on every
corruption.  ``--runs`` then runs ``run.py --smoke`` (tiny inputs) for
every workload with ``--trace 0`` and ``--trace 1`` and asserts that each
metric named in BENCHMARK.json is printed with its unit.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from inputs import CorpusBatch, DocSet, corpus_digest  # noqa: E402
from workloads import (  # noqa: E402
    WORKLOADS,
    check_debt,
    check_manifest,
    check_mapping,
    check_pairs,
    check_staged_outputs,
)


def expect(errors: list[str], fires: bool, what: str) -> None:
    if bool(errors) != fires:
        raise AssertionError(f"{what}: expected {'errors' if fires else 'none'}, got {errors}")


def staged_case():
    t = [
        ("ex:A", "rdf:type", "owl:Class", False, None, "r", "d"),
        ("ex:A", "rdfs:label", "A", True, "xsd:string", "r", "d"),
        ("ex:B", "rdfs:subClassOf", "ex:A", False, None, "r", "d"),
        ("ex:A", "ont:hasConstraint", "_:c1", False, None, "r", "d"),
    ]
    oracle = {"rdf:type": 2, "rdfs:label": 1, "rdfs:subClassOf": 1,
              "ont:hasConstraint": 2}
    # the oracle's constraint families hold one of each of these
    constraint = {"rdf:type": 1, "ont:hasConstraint": 1}
    uri = [x for x in t if not x[3]]
    edges = [(x[5], x[6], x[0], x[1], x[2]) for x in uri]
    nodes = [("r", "d", "ex:A", "owl:Class"), ("r", "d", "ex:B", None),
             ("r", "d", "owl:Class", None), ("r", "d", "_:c1", None)]
    return t, nodes, edges, oracle, constraint


def check_output_checks() -> None:
    t, nodes, edges, oracle, cons = staged_case()
    errors, missing = check_staged_outputs(t, nodes, edges, oracle, cons)
    expect(errors, False, "staged outputs")
    assert missing == 2, missing  # one rdf:type and one ont:hasConstraint
    expect(check_staged_outputs(t[1:], nodes, edges, oracle, cons)[0], True,
           "dropped triple")
    expect(check_staged_outputs(t + t[:1], nodes, edges, oracle, cons)[0], True,
           "duplicate triple")
    expect(check_staged_outputs(t, nodes, edges[1:], oracle, cons)[0], True, "dropped edge")
    bad_nodes = [("r", "d", "ex:A", "owl:Thing")] + nodes[1:]
    expect(check_staged_outputs(t, bad_nodes, edges, oracle, cons)[0], True, "node type")
    more = dict(oracle, **{"rdfs:label": 2})
    expect(check_staged_outputs(t, nodes, edges, more, cons)[0], True, "short of oracle")
    # rdf:type short by more than its constraint-family count
    more = dict(oracle, **{"rdf:type": 3})
    expect(check_staged_outputs(t, nodes, edges, more, cons)[0], True,
           "dropped non-constraint rdf:type")
    # a fixed staged pipeline (nothing missing) still passes
    full = dict(oracle, **{"rdf:type": 1, "ont:hasConstraint": 1})
    errors, missing = check_staged_outputs(t, nodes, edges, full, cons)
    expect(errors, False, "constraint families present")
    assert missing == 0, missing

    class Rec:
        def __init__(self, stage, rows, status="completed"):
            self.stage, self.rows, self.status = stage, rows, status

    recs = [Rec("corrupt_rows", 0), Rec("triples", 4), Rec("nodes", 4), Rec("edges", 3)]
    expect(check_manifest(recs, 4), False, "manifest")
    expect(check_manifest(recs, 5), True, "manifest triple count")
    expect(check_manifest(recs[:3], 4), True, "manifest missing stage")
    expect(check_manifest([Rec("corrupt_rows", 1)] + recs[1:], 4), True, "corrupt rows")

    mapping = [{"repo": "r1", "dataset": "d", "entity": "Customer", "canonical_iri": "c"},
               {"repo": "r2", "dataset": "d", "entity": "Customer", "canonical_iri": "c"},
               {"repo": "r1", "dataset": "d", "entity": "Orders", "canonical_iri": "o"}]
    clusters = [(1, 1), (2, 1)]
    expect(check_mapping(mapping, clusters), False, "mapping")
    split = [dict(mapping[0]), dict(mapping[1], canonical_iri="c2"), mapping[2]]
    expect(check_mapping(split, clusters), True, "split cluster")
    expect(check_mapping(mapping + mapping[:1], clusters), True, "repeated entity")

    debt = [{"conflict_type": "type_conflict", "severity": "CRITICAL",
             "name": "Customer.Segment", "sources": ["r1/d", "r2/d"]},
            {"conflict_type": "rule_conflict", "severity": "LOW", "name": "x",
             "sources": ["r1/d"]}]
    oracle_debt = [("type_conflict", "CRITICAL", "Customer.Segment", "r1/d|r2/d")]
    oracle_rules = [("x", "r1/d")]
    expect(check_debt(debt, oracle_debt, oracle_rules), False, "debt")
    expect(check_debt([dict(debt[0], severity="WARNING"), debt[1]], oracle_debt,
                      oracle_rules), True, "severity")
    expect(check_debt(debt[1:], oracle_debt, oracle_rules), True, "dropped conflict")
    expect(check_debt(debt[:1], oracle_debt, oracle_rules), True, "dropped rule conflict")
    expect(check_debt([debt[0], dict(debt[1], sources=["r2/d"])], oracle_debt,
                      oracle_rules), True, "rule conflict sources")
    # the rule severity has no oracle: another severity passes here
    expect(check_debt([debt[0], dict(debt[1], severity="CRITICAL")], oracle_debt,
                      oracle_rules), False, "rule severity")

    docs = {0: "a b c d e f g h", 1: "a b c d e f g x", 2: "p q r s t u v w"}
    planted = [(0, 1)]
    j01 = 5 / 7
    expect(check_pairs([("0", "1", j01)], docs, planted), False, "pairs")
    expect(check_pairs([("0", "1", 0.9)], docs, planted), True, "wrong jaccard")
    expect(check_pairs([("0", "1", j01), ("1", "0", j01)], docs, planted), True, "repeat")
    expect(check_pairs([("0", "2", 0.0)], docs, planted), True, "false pair")
    same = {0: "a b c d e f g h", 1: "a b c d e f g h"}
    expect(check_pairs([], same, planted), True, "missed planted pair")


def check_input_checks() -> None:
    from powerbi_ontology_extractor_spark.sources.corpus import synth_corpus_rows

    rows = synth_corpus_rows(2, 0)
    changed = [rows[0][:5] + ("0" * 64,)] + rows[1:]
    assert corpus_digest(rows) != corpus_digest(changed), "digest ignores content sha"
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(HERE, ".cache"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".cache")) as cache:
        batch = CorpusBatch(cache, 2, 5, 2)
        batch.ensure()
        expect(batch.check(), False, "cached corpus")
        part = os.path.join(batch.path, sorted(
            p for p in os.listdir(batch.path) if p.endswith(".parquet"))[0])
        table = pq.read_table(part)
        pq.write_table(table.slice(1), part)
        expect(batch.check(), True, "truncated corpus file")
        docs = DocSet(cache, 50, 5, 2)
        docs.ensure()
        expect(docs.check(), False, "cached docs")
        docs.docs[0] = (0, "changed text")
        expect(docs.check(), True, "changed docs")


def check_runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in spec[key]}
        produced: set[str] = set()
        for name in WORKLOADS:
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                   "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                 timeout=600, check=True).stdout
            lines = out.strip().splitlines()
            result = json.loads(lines[-1])
            produced.update(json.loads(lines[-2])["layer_metrics"])
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, f"{name} trace={trace}: metrics {got} != {want}"
            assert result["correct"] and result["failed"] == 0, result
            print(f"ok: {name} --trace {trace}")
        if trace:
            never = set(want) - produced
            assert not never, f"per-layer metrics no workload measures: {sorted(never)}"


def main() -> int:
    check_output_checks()
    check_input_checks()
    print("ok: output and input checks fire on corrupted results")
    if "--runs" in sys.argv[1:]:
        check_runs()
    return 0


if __name__ == "__main__":
    sys.exit(main())

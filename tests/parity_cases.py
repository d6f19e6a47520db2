"""The engine side of the reference-parity suites, and its frozen digests.

test_reference_parity, test_reference_fuzz and test_ontology_doc compare
the sets built here with the reference exporter run live; they need the
reference checkout (``requires_reference``).  tests/parity_goldens.json
freezes every one of those engine sets as a sha256 plus per-predicate
counts, so tests/test_parity_goldens.py gates grammar regressions on any
host.  The goldens are a regression gate, not an independent parity
check: they equal the reference output only because the live suites
passed on the tree they were frozen from.

Regenerate (only for an intended grammar change, after the live suites
pass):  python -m tests.parity_cases
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter

from tests.reference_harness import canonicalize_bnodes

GOLDENS = os.path.join(os.path.dirname(__file__), "parity_goldens.json")
# the model suites put the .pbix path into rdfs:comment ("Ontology from
# Power BI: <path>"); the goldens use this fixed directory instead of tmp
GOLDEN_DIR = "/parity-goldens"
GENERATION_DATE = "<generation_date>"


def mask_date(triples) -> set:
    return {
        (s, p, GENERATION_DATE if p == "ont:meta_generation_date" else o)
        for (s, p, o) in triples
    }


def _corpus(spark, rows, lang: str):
    """rows: repo → (path, content)."""
    return spark.createDataFrame(
        [(repo, path, "0" * 40, lang, content,
          hashlib.sha256(content.encode()).hexdigest())
         for repo, (path, content) in rows.items()],
        "repo string, path string, commit string, lang string, "
        "content string, content_sha256 string",
    )


def _spo_by_repo(t) -> dict:
    out: dict = {}
    for r in t.select("repo", "subj", "pred", "obj").collect():
        out.setdefault(r["repo"], set()).add((r["subj"], r["pred"], r["obj"]))
    return {repo: canonicalize_bnodes(spo) for repo, spo in out.items()}


def engine_model_sets(spark, models: dict) -> dict:
    """models: name → (pbix path, model JSON).  One extract → generate →
    export over all of them (each its own repo), without the lineage
    family (the reference export() emits none); date-masked sets by
    name."""
    from powerbi_ontology_extractor_spark.operators.extract import extract_all
    from powerbi_ontology_extractor_spark.operators.ontology import (
        generate_ontology,
    )
    from powerbi_ontology_extractor_spark.operators.triples import (
        export_triples,
    )

    dfs = extract_all(_corpus(spark, models, "model_json"))
    t = export_triples(generate_ontology(dfs), dfs, include_lineage=False)
    sets = _spo_by_repo(t)
    return {name: mask_date(sets.get(name, set())) for name in models}


def engine_model_set(spark, content: str, pbix_path: str) -> set:
    return engine_model_sets(spark, {"r": (pbix_path, content)})["r"]


def doc_corpus(spark, doc: dict):
    from powerbi_ontology_extractor_spark.operators.ontology_io import LANG

    return _corpus(spark, {"r": ("sales_ontology.json", json.dumps(doc))}, LANG)


def engine_doc_sets(spark, docs: dict) -> dict:
    """docs: name → ontology doc, exported together (each its own repo)."""
    from powerbi_ontology_extractor_spark.operators.ontology_io import (
        LANG,
        ontology_doc_triples,
    )

    rows = {n: ("sales_ontology.json", json.dumps(d)) for n, d in docs.items()}
    sets = _spo_by_repo(ontology_doc_triples(_corpus(spark, rows, LANG)))
    return {name: sets.get(name, set()) for name in docs}


def engine_doc_set(spark, doc: dict) -> set:
    return engine_doc_sets(spark, {"r": doc})["r"]


def corpus_model_content(repo_idx: int) -> str:
    import random

    from powerbi_ontology_extractor_spark.sources.corpus import _model_json

    return _model_json(repo_idx, random.Random(repo_idx), 2)


def cases() -> tuple[dict, dict]:
    """The inputs the live parity tests feed the engine: (name → (pbix
    path, model JSON), name → ontology doc)."""
    from tests import test_ontology_doc as doc_suite
    from tests import test_reference_fuzz as fuzz_suite
    from tests import test_reference_parity as parity_suite

    models = {"parity_fixture": ("model", json.dumps(parity_suite.MODEL_DATA))}
    for i in parity_suite.CORPUS_REPOS:
        models[f"parity_corpus_{i}"] = (f"m{i}", corpus_model_content(i))
    for seed in fuzz_suite.SEEDS:
        models[f"fuzz_{seed}"] = (
            f"fuzz{seed}", json.dumps(fuzz_suite._random_model(seed))
        )
    models = {n: (f"{GOLDEN_DIR}/{f}.pbix", c) for n, (f, c) in models.items()}
    docs = {"doc_exact": doc_suite.DOC}
    for seed in doc_suite.DOC_SEEDS:
        docs[f"doc_fuzz_{seed}"] = doc_suite._random_doc(seed)
    return models, docs


def engine_sets(spark) -> dict:
    models, docs = cases()
    return {**engine_model_sets(spark, models), **engine_doc_sets(spark, docs)}


def digest(triples: set) -> dict:
    lines = sorted("\t".join(t) for t in triples)
    return {
        "triples": len(lines),
        "sha256": hashlib.sha256("\n".join(lines).encode()).hexdigest(),
        "per_pred": dict(sorted(Counter(p for _, p, _ in triples).items())),
    }


if __name__ == "__main__":
    from powerbi_ontology_extractor_spark import get_spark

    spark = get_spark(app_name="parity-goldens", parallelism=4)
    spark.sparkContext.setLogLevel("ERROR")
    out = {name: digest(spo) for name, spo in engine_sets(spark).items()}
    with open(GOLDENS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(out)} digests to {GOLDENS}")

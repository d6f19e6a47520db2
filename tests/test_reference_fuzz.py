"""Fuzzed grammar parity: seeded-random Power BI models → the engine's
triple set must EXACTLY equal the reference exporter's (run live via
tests/reference_harness).  Fixed goldens pin known shapes; this sweeps
the weird corners — empty/duplicate names, missing optional fields,
unknown dataTypes, bare-threshold DAX, semicolon injection, dangling
relationship endpoints, empty RLS filters."""

import json
import random

import pytest

from tests.parity_cases import engine_model_set, mask_date
from tests.reference_harness import reference_triples

SEEDS = [11, 22, 33, 44, 55, 66, 77, 88, 99, 110, 121, 132]

NAME_ALPHABET = "ABC xyz09._-"


def _name(rng, lo=1, hi=12):
    s = "".join(rng.choice(NAME_ALPHABET) for _ in range(rng.randint(lo, hi)))
    return s.strip() or "N"


def _expr(rng, tables):
    t = rng.choice(tables) if tables else "T"
    f = _name(rng, 3, 8).replace(" ", "")
    v = rng.randint(1, 500)
    templates = [
        f"SUM({t}[{f}])",
        f"CALCULATE(COUNT({t}[{f}]), {t}[{f}] > {v})",
        f'IF({t}[{f}] > {v}, "Hi val", "Lo")',
        f'SWITCH(TRUE(), {t}[{f}] > {v}, "A", {t}[{f}] > {v // 2}, "B", "C")',
        f"{f} > {v}",  # bare threshold (no ] guard)
        f"VAR _x = SUM({t}[{f}]) RETURN IF(_x > {v}, 1, 0)",
        f'CALCULATE(SUM({t}[{f}]), {t}[{f}] = "a;b")',  # sanitizer path
        "",
    ]
    return rng.choice(templates)


def _random_model(seed: int) -> dict:
    rng = random.Random(seed)
    n_tables = rng.randint(0, 4)
    table_names = [_name(rng) for _ in range(n_tables)]
    if n_tables > 1 and rng.random() < 0.3:
        table_names[-1] = table_names[0]  # duplicate table name
    tables = []
    for tn in table_names:
        cols = []
        for _ in range(rng.randint(0, 5)):
            c = {"name": _name(rng),
                 "dataType": rng.choice(
                     ["string", "int64", "double", "datetime", "boolean",
                      "decimal", "weirdtype", ""])}
            if rng.random() < 0.5:
                c["isKey"] = rng.random() < 0.5
            if rng.random() < 0.3:
                c["isUnique"] = rng.random() < 0.5
            if rng.random() < 0.7:
                c["isNullable"] = rng.random() < 0.5
            if rng.random() < 0.4:
                c["description"] = _name(rng, 0, 10)
            cols.append(c)
        measures = []
        for _ in range(rng.randint(0, 3)):
            measures.append({
                "name": _name(rng),
                "expression": _expr(rng, table_names),
                "description": _name(rng, 0, 8) if rng.random() < 0.5 else "",
            })
        t = {"name": tn, "columns": cols, "measures": measures}
        if rng.random() < 0.5:
            t["description"] = _name(rng, 0, 10)
        tables.append(t)
    rels = []
    for _ in range(rng.randint(0, 3)):
        rel = {
            "fromTable": rng.choice(table_names) if table_names and
                rng.random() < 0.8 else _name(rng),
            "fromColumn": _name(rng),
            "toTable": rng.choice(table_names) if table_names and
                rng.random() < 0.8 else _name(rng),
            "toColumn": _name(rng),
        }
        if rng.random() < 0.7:
            rel["fromCardinality"] = rng.choice(["one", "many", "weird"])
            rel["toCardinality"] = rng.choice(["one", "many"])
        if rng.random() < 0.5:
            rel["name"] = _name(rng)
        rels.append(rel)
    roles = []
    for _ in range(rng.randint(0, 2)):
        roles.append({
            "name": _name(rng),
            "tablePermissions": [
                {"name": rng.choice(table_names) if table_names else "T",
                 "filterExpression": rng.choice(
                     ["", f"[X] = USERNAME()", "A > 1; DROP"])}
                for _ in range(rng.randint(0, 2))
            ],
        })
    return {"name": _name(rng), "tables": tables,
            "relationships": rels, "roles": roles}


@pytest.mark.requires_reference
@pytest.mark.parametrize("seed", SEEDS)
def test_fuzzed_model_parity(spark, tmp_path, seed):
    model = _random_model(seed)
    pbix = tmp_path / f"fuzz{seed}.pbix"
    ref, _ = reference_triples(model, str(pbix))
    ref = mask_date(ref)
    eng = engine_model_set(spark, json.dumps(model), str(pbix))
    assert ref == eng, (
        f"seed={seed} model={json.dumps(model)[:400]}\n"
        f"missing: {sorted(ref - eng)[:12]}\nextra: {sorted(eng - ref)[:12]}"
    )

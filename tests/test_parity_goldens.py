"""Frozen digests of every engine triple set the reference-parity suites
compare (see tests/parity_cases.py).  Runs without the reference
checkout: a regression gate on the emission grammar, not an
independent parity check."""

import json

import pytest

from tests.parity_cases import GOLDENS, digest, engine_sets

with open(GOLDENS) as f:
    FROZEN = json.load(f)


@pytest.fixture(scope="module")
def engine(spark):
    return engine_sets(spark)


def test_goldens_cover_every_case(engine):
    assert sorted(FROZEN) == sorted(engine)


@pytest.mark.parametrize("name", sorted(FROZEN))
def test_frozen_parity_golden(engine, name):
    got = digest(engine[name])
    want = FROZEN[name]
    assert got["per_pred"] == want["per_pred"], name
    assert got == want, name

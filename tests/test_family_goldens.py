"""Frozen digests of the build_triples set and of the M-datasource,
report, contract and Fabric IQ families (see tests/family_cases.py):
a regression gate on their grammar, built in one batched fixture."""

import json

import pytest

from tests.family_cases import GOLDENS, family_digests

with open(GOLDENS) as f:
    FROZEN = json.load(f)


@pytest.fixture(scope="module")
def digests(spark):
    return family_digests(spark)


def test_goldens_cover_every_case(digests):
    assert sorted(FROZEN) == sorted(digests)


@pytest.mark.parametrize("name", sorted(FROZEN))
def test_frozen_family_golden(digests, name):
    got, want = digests[name], FROZEN[name]
    assert got["per_pred"] == want["per_pred"], name
    assert got == want, name

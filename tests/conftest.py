import os

import pytest

from powerbi_ontology_extractor_spark import get_spark
from tests.reference_harness import REF


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "requires_reference: runs the reference exporter live; skipped when "
        "its checkout is absent (tests/test_parity_goldens.py still gates "
        "the engine side)",
    )


def pytest_collection_modifyitems(config, items):
    if os.path.isdir(REF):
        return
    skip = pytest.mark.skip(reason=f"reference checkout missing: {REF}")
    for item in items:
        if "requires_reference" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pbi-kg-tests", parallelism=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("PBI_KG_TEST_SF_DIR", "/root/testdata/sf0.001")

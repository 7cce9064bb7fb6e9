import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scicat_ingestor_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: multi-minute soak/e2e tests (run in the full suite)"
    )


@pytest.fixture(scope="session")
def spark():
    session = get_session(app_name="scicat_ingestor_spark_tests")
    yield session


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def multi_schema_ingest(spark):
    """Three schemas for one ingest plan, with their catalog snapshots:
    ``a`` (files under /a/) and ``b`` (files under /b/) key ``proposals``
    from different NXS variables and both fill an ``owner`` field; ``b``
    keys ``instruments`` case-insensitively (``ilike``) and ``c``, the
    ``*`` catch-all, exactly, by a literal that only the lower-case
    duplicate ``instr-2`` row matches. Returns ``(schemas, snapshots)``."""
    from scicat_ingestor_spark.plans.schema_model import MetadataSchema

    def nxs(path, value_type="string"):
        return {"source": "NXS", "path": path, "value_type": value_type}

    ilike = '{"where":{"name":{"ilike":"<instrument_name>"}}}'
    schemas = [
        MetadataSchema.from_dict(d)
        for d in (
            {
                "id": "a",
                "order": 0,
                "selector": "filename:starts_with:/a/",
                "variables": {
                    "proposal_id": nxs("/entry/experiment_identifier"),
                    "pi": {"source": "SC", "url": "proposals/<proposal_id>",
                           "field": "pi_lastname"},
                    "temp": nxs("/entry/sensor/temperature", "float"),
                    "absent": nxs("/entry/no_such_dataset"),
                },
                "schema": {
                    "owner": {"value": "<pi>"},
                    "temperature": {"value": "<temp>", "value_type": "float",
                                    "field_type": "scientific_metadata"},
                },
            },
            {
                "id": "b",
                "order": 1,
                "selector": "filename:contains:/b/",
                "variables": {
                    "sample": nxs("/entry/sample/name"),
                    "pi": {"source": "SC", "url": "proposals/<sample>",
                           "field": "pi_lastname"},
                    "instrument_name": nxs("/entry/instrument/name"),
                    "instrument_id": {"source": "SC", "field": "id",
                                      "url": f"instruments?filter={ilike}"},
                },
                "schema": {
                    "owner": {"value": "<pi>"},
                    "instrumentId": {"value": "<instrument_id>"},
                },
            },
            {
                "id": "c",
                "order": 2,
                "selector": "*",
                "variables": {
                    "title": nxs("/entry/title"),
                    "instrument_id": {
                        "source": "SC", "field": "id",
                        "url": 'instruments?filter={"where":{"name":"instr-2"}}',
                    },
                },
                "schema": {"owner": {"value": "nobody"},
                           "datasetName": {"value": "<title>"},
                           "instrumentId": {"value": "<instrument_id>"}},
            },
        )
    ]
    proposals = spark.createDataFrame(
        [(f"prop-{i}", f"pi-prop-{i}") for i in range(20)]
        + [(f"sample-{i}", f"pi-sample-{i}") for i in range(50)],
        "proposalId string, pi_lastname string",
    )
    instruments = spark.createDataFrame(
        [(f"id-{i}", f"INSTR-{i}") for i in range(5)] + [("id-lower-2", "instr-2")],
        "id string, name string",
    )
    return schemas, {"proposals": proposals, "instruments": instruments}

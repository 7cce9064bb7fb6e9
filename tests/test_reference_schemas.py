"""Compile the reference's REAL shipped imsc schemas end-to-end.

The strongest parity evidence: every ``resources/*.imsc.yml.example``
file from the reference parses into our schema model and compiles into a
running DataFrame plan — NXS variables resolve against the HDF5 map
column, SC variables against broadcast dimension snapshots (including
the whole-object ``field: ''`` + ``getitem`` pattern small-ymir uses),
and unresolvable variables land in the ``_failures`` channel instead of
failing rows (V3).
"""

from __future__ import annotations

import glob
import os

import pytest
import yaml
from pyspark.sql import functions as F

from scicat_ingestor_spark.plans.compiler import compile_schema
from scicat_ingestor_spark.plans.sc import attach_dimension, make_sc_resolver
from scicat_ingestor_spark.plans.schema_model import MetadataSchema
from scicat_ingestor_spark.sources import hdf5

RESOURCE_DIR = "/root/reference/resources"

needs_resources = pytest.mark.skipif(
    not os.path.isdir(RESOURCE_DIR), reason=f"{RESOURCE_DIR} not present"
)


def _example_files():
    return sorted(glob.glob(f"{RESOURCE_DIR}/*.imsc.yml.example"))


def _load(path) -> MetadataSchema:
    return MetadataSchema.from_dict(yaml.safe_load(open(path).read()))


_SC_FIELDS = {
    "proposals": ("pi_firstname", "pi_lastname", "pi_email", "proposalId"),
    "instruments": ("id", "name"),
}


def _base(spark, n=4):
    files = spark.createDataFrame(
        [(f"/ess/data/run_{i}.nxs",) for i in range(n)], "file string"
    )
    wide = hdf5.scan_files_wide(files).withColumn("data_file_path", F.col("file"))
    prop_key = F.element_at(F.col("nxs"), "/entry/experiment_identifier").getField(
        "value"
    )
    proposals = spark.createDataFrame(
        [
            (f"prop-{i}", f"first{i}", f"last{i}", f"pi{i}@ess.eu")
            for i in range(20)
        ],
        "proposalId string, pi_firstname string, pi_lastname string, pi_email string",
    )
    instruments = spark.createDataFrame(
        [("id-coda", "coda"), ("id-ymir", "ymir"), ("id-odin", "odin")],
        "id string, name string",
    )
    inst_key = F.element_at(F.col("nxs"), "/entry/instrument/name").getField("value")
    out = attach_dimension(wide, proposals, "proposals", prop_key, "proposalId")
    # the url filter pins the instrument name; the snapshot join keys on it
    out = attach_dimension(out, instruments, "instruments", F.lit("coda"), "name")
    return out


def _resolvers():
    return {
        "NXS": hdf5.make_nxs_resolver(),
        "SC": make_sc_resolver(_SC_FIELDS),
    }


@needs_resources
def test_every_shipped_schema_parses():
    files = _example_files()
    assert len(files) >= 6
    for path in files:
        s = _load(path)
        assert s.id and s.fields and s.variables
        assert all(v.source in ("NXS", "SC", "VALUE") for v in s.variables)


@needs_resources
@pytest.mark.parametrize(
    "path", _example_files(), ids=[os.path.basename(p) for p in _example_files()]
)
def test_every_shipped_schema_compiles_and_runs(spark, path):
    schema = _load(path)
    transform = compile_schema(
        schema, file_path_col="data_file_path", resolvers=_resolvers()
    )
    out = transform(_base(spark))
    rows = out.collect()
    assert len(rows) == 4  # V3: no row lost to unresolvable variables
    high_level = [f.machine_name for f in schema.fields if f.field_type == "high_level"]
    for name in high_level:
        assert name in out.columns
    assert "scientificMetadata" in out.columns and "_failures" in out.columns


@needs_resources
def test_coda_values_resolve_against_fixture(spark):
    schema = _load(f"{RESOURCE_DIR}/coda.imsc.yml.example")
    out = compile_schema(
        schema, file_path_col="data_file_path", resolvers=_resolvers()
    )(_base(spark))
    r = out.orderBy("file").first()
    tree = {p: v for p, v, _ in hdf5.fake_tree(r["file"])}
    # NXS-sourced field resolves to the file's dataset value
    assert r["datasetName"]["value"] == tree["/entry/title"]
    # SC join: proposal_id from the file keys the proposals dim
    prop = tree["/entry/experiment_identifier"]
    idx = prop.split("-")[1]
    assert r["owner"]["value"] == f"first{idx} last{idx}"
    assert r["ownerEmail"]["value"] == f"pi{idx}@ess.eu"
    # the shipped schema says `value: instrument_id` (no <>): the
    # reference renders the literal, and so do we
    assert r["instrumentId"]["value"] == "instrument_id"
    # the shipped example's dangling <acquisition_team_members>
    # self-reference fails that variable (as in the reference) without
    # losing the row
    assert "acquisition_team_members" in r["_failures"]
    # paths absent from the fixture land in _failures, row survives
    assert "start_time" in r["_failures"] and "end_time" in r["_failures"]


@needs_resources
def test_small_ymir_whole_object_getitem_chain(spark):
    """field:'' -> dict variable -> getitem projections
    (resources/small-ymir.imsc.yml.example:40-70)."""
    schema = _load(f"{RESOURCE_DIR}/small-ymir.imsc.yml.example")
    out = compile_schema(
        schema, file_path_col="data_file_path", resolvers=_resolvers()
    )(_base(spark))
    r = out.orderBy("file").first()
    tree = {p: v for p, v, _ in hdf5.fake_tree(r["file"])}
    idx = tree["/entry/experiment_identifier"].split("-")[1]
    assert r["principalInvestigator"]["value"] == f"first{idx} last{idx}"


def test_shipped_example_schema_compiles_and_runs(spark):
    """examples/demo.imsc.yml must load through the schema collector and
    compile into a runnable plan over the fake HDF5 tree."""
    from scicat_ingestor_spark.plans.compiler import compile_schema
    from scicat_ingestor_spark.plans.sc import attach_dimension, make_sc_resolver
    from scicat_ingestor_spark.plans.schema_model import collect_schemas
    from scicat_ingestor_spark.sources import hdf5

    schemas = collect_schemas("examples")
    assert [s.id for s in schemas] == ["demo-instrument"]
    schema = schemas[0]
    assert schema.selector == "filename:starts_with:/data/demo"

    files = spark.createDataFrame(
        [("/data/demo/run_1.nxs",), ("/data/demo/run_2.nxs",)], "file string"
    )
    wide = hdf5.scan_files_wide(files)
    proposals = spark.createDataFrame(
        [(f"prop-{i}", f"pi-{i}") for i in range(20)],
        "proposalId string, pi_lastname string",
    )
    nxs = hdf5.make_nxs_resolver()
    base = attach_dimension(
        wide,
        proposals,
        "proposals",
        F.element_at(F.col("nxs"), "/entry/experiment_identifier").getField("value"),
        "proposalId",
    )
    transform = compile_schema(
        schema,
        file_path_col="file",
        resolvers={"NXS": nxs, "SC": make_sc_resolver()},
    )
    rows = transform(base).collect()
    assert len(rows) == 2
    for r in rows:
        d = r.asDict()
        assert not d["_failures"]
        assert "(PI: pi-" in d["datasetName"].value
        # scientific_metadata fields land in the nested map, summed
        # across the wildcard-matched detector channels
        sm = d["scientificMetadata"]["total_counts"]
        assert int(sm["value"]) >= 0

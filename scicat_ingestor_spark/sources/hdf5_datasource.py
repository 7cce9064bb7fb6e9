"""HDF5 as a Spark 4 Python Data Source (SURVEY §2.1 S6, M5).

``spark.read.format("hdf5")`` after ``register_hdf5_source(spark)``:
each file becomes one InputPartition, so a directory of NeXus files
scans in parallel across executors with no driver I/O — the idiomatic
Spark shape for the reference's per-file reader
(/root/reference/src/scicat_nexus_helper.py:62-95).

Options:
- ``paths``: comma-separated file paths (or one path).
The emitted relation is the engine's long table
``(file, h5_path, value, unit)`` — identical to ``hdf5.scan_files``, so
wildcard lookup and the other long-table operators compose unchanged.

h5py-gated like the mapInPandas scanner: without h5py the deterministic
fake tree serves the rows (same plumbing, schema, partitioning).
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from scicat_ingestor_spark.sources.hdf5 import (
    LONG_SCHEMA,
    read_rows,
    try_import_h5py,
)


class HDF5FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class HDF5DataSourceReader(DataSourceReader):
    def __init__(self, options: dict):
        paths = options.get("paths", options.get("path", ""))
        self.paths = [p for p in (s.strip() for s in paths.split(",")) if p]
        if not self.paths:
            raise ValueError(
                "hdf5 source requires a non-empty 'paths' option "
                "(comma-separated file paths)"
            )

    def partitions(self):
        # one partition per file: a 1M-file directory fans out to the
        # cluster; Spark packs partitions onto tasks
        return [HDF5FilePartition(p) for p in self.paths]

    def read(self, partition: HDF5FilePartition):
        path = partition.path
        rows = read_rows(path)
        for h5_path, value, unit in rows:
            yield (path, h5_path, value, unit)


class HDF5DataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "hdf5"

    def schema(self) -> str:
        return LONG_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return HDF5DataSourceReader(self.options)


def register_hdf5_source(spark) -> None:
    spark.dataSource.register(HDF5DataSource)

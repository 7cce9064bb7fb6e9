"""Offline ingestor: files -> dataset rows, one batch run.

The reference's ``scicat_background_ingestor`` processes ONE file per
process (/root/reference/src/scicat_offline_ingestor.py:194-348); here
the same pipeline is a batch plan over ANY number of files — schema
selection, variable evaluation, envelope assembly and dedup run as one
DataFrame program, so a backfill over a million files is the same code
as one file.

Usage:
    python -m scicat_ingestor_spark.apps.offline \
        --files /data/a.nxs,/data/b.nxs \
        --schemas-dir ./schemas --out ./out_parquet \
        [--config engine.yml] [--set ingestion.dry_run=true]
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scicat_ingestor_spark.config import EngineConfig, build_config
from scicat_ingestor_spark.operators.joins import anti_by_key
from scicat_ingestor_spark.operators.selectors import with_selected_schema
from scicat_ingestor_spark.plans.compiler import compile_schema
from scicat_ingestor_spark.plans.schema_model import MetadataSchema, collect_schemas
from scicat_ingestor_spark.sources import hdf5


def ingest_files(
    spark: SparkSession,
    file_paths: list[str] | DataFrame,
    schemas: list[MetadataSchema],
    resolvers: dict | None = None,
    existing_pids: DataFrame | None = None,
    snapshots: dict | None = None,
) -> DataFrame:
    """The offline pipeline as one batch plan for all schemas.

    scan each file once -> first-match schema selection (unmatched files
    dropped) -> one snapshot join per catalog resource for SC variables
    (J1-J3) -> every schema's compiled projection in turn on all rows
    (row-local and total, V3), each folded to ``_ds<j>``/``_fv<j>`` ->
    one ``CASE schema_id`` pick -> optional exists-by-pid anti-join (J4).
    """
    if isinstance(file_paths, DataFrame):
        files = file_paths
    else:
        files = spark.createDataFrame([(p,) for p in file_paths], "file string")
    wide = hdf5.scan_files_wide(files)
    df = with_selected_schema(
        wide.withColumn("filename", F.col("file")), schemas, fallback_id=None
    ).filter(F.col("schema_id").isNotNull())
    # merge caller resolvers over the defaults: the NXS default always
    # exists, and the SC resolver is injected whenever snapshots are
    # given and the caller didn't supply one — otherwise explicit
    # resolvers + snapshots silently routed SC variables to the failure
    # channel (and resolvers={} lost the NXS default)
    nxs = (resolvers or {}).get("NXS") or hdf5.make_nxs_resolver()
    defaults: dict = {"NXS": nxs}
    if snapshots:
        from scicat_ingestor_spark.plans.sc import attach_snapshots, make_sc_resolver

        defaults["SC"] = make_sc_resolver()
        df = attach_snapshots(df, schemas, snapshots, nxs_resolver=nxs)
    resolvers = {**defaults, **(resolvers or {})}
    dataset_json = failed_vars = F  # F.when starts each CASE, Column.when extends it
    for j, schema in enumerate(schemas):
        transform = compile_schema(schema, file_path_col="file", resolvers=resolvers)
        compiled = transform(df)
        envelope = [F.col(f.machine_name) for f in schema.fields
                    if f.field_type == "high_level"]
        if "scientificMetadata" in compiled.columns:
            envelope.append(F.col("scientificMetadata"))
        # keep only the folded output: the next schema's same-named
        # field columns must not clash with this one's
        df = compiled.select(
            *df.columns,
            F.to_json(
                F.struct(*envelope),
                {"ignoreNullFields": "true"},  # P8 null-dropping projection
            ).alias(f"_ds{j}"),
            F.concat_ws(",", F.col("_failures")).alias(f"_fv{j}"),
        )
        is_schema = F.col("schema_id") == schema.id
        dataset_json = dataset_json.when(is_schema, F.col(f"_ds{j}"))
        failed_vars = failed_vars.when(is_schema, F.col(f"_fv{j}"))
    result = df.select(
        "file",
        "schema_id",
        dataset_json.alias("dataset_json"),
        failed_vars.alias("failed_vars"),
        F.md5(F.col("file")).alias("pid"),
    )
    if existing_pids is not None:
        result = anti_by_key(result, existing_pids, "pid")
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--files", required=True, help="comma list of data files")
    ap.add_argument("--schemas-dir", required=True)
    ap.add_argument("--out", required=True, help="output parquet directory")
    ap.add_argument("--config", default=None, help="engine YAML config")
    ap.add_argument(
        "--set", action="append", default=[], metavar="K=V", help="dot-key override"
    )
    args = ap.parse_args(argv)
    overrides = dict(kv.split("=", 1) for kv in args.set)
    cfg, unused = build_config(args.config, overrides)
    for key in unused:
        print(f"warning: unused config key {key}")

    from scicat_ingestor_spark.logging_setup import build_logger

    logger = build_logger(cfg.logging, name="scicat.offline_ingestor")
    logger.info("starting scicat.offline_ingestor (config ok, %d unused keys)", len(unused))

    from scicat_ingestor_spark.session import get_session

    spark = get_session("offline_ingestor")
    schemas = collect_schemas(args.schemas_dir)
    if not schemas:
        raise SystemExit(f"no schemas in {args.schemas_dir}")
    snapshots = None
    if cfg.scicat.dimension_snapshot_dir:
        from scicat_ingestor_spark.plans.sc import load_snapshots

        snapshots = load_snapshots(spark, cfg.scicat.dimension_snapshot_dir)

    def work():
        out = ingest_files(
            spark, args.files.split(","), schemas, snapshots=snapshots
        )
        if cfg.ingestion.dry_run:
            print(out.count(), "dataset rows (dry run)")
        else:
            out.write.mode("append").parquet(args.out)

    # reference handle_exceptions parity: a failed run logs the full
    # traceback through the logging pipeline and exits 1, never a raw
    # stderr trace
    from scicat_ingestor_spark.streaming.resilience import guarded

    return guarded(work, logger)


if __name__ == "__main__":
    raise SystemExit(main())

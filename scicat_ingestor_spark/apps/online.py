"""Online daemon: Kafka wrdn stream -> compiled ingest -> idempotent sink.

The reference's ``scicat_ingestor`` polls Kafka and forks one offline
process per message (/root/reference/src/scicat_online_ingestor.py:118-212).
Spark-first: the SAME batch pipeline (apps.offline.ingest_files) runs
inside ``foreachBatch``; checkpointing is the offset commit (T2),
the anti-join append is the idempotency guard, task slots are the
concurrency cap (T3), and the health endpoint reads the query listener
(T9).

Usage:
    python -m scicat_ingestor_spark.apps.online \
        --schemas-dir ./schemas --out ./out_parquet --checkpoint ./ck \
        [--config engine.yml] [--source-dir ./replay_dir]

``--source-dir`` replays a parquet directory of wrdn-shaped rows instead
of Kafka — the same harness the tests and the driver use; with a
``kafka.bootstrap_servers`` config the stream source is the real broker.
"""

from __future__ import annotations

import argparse

from pyspark.sql import functions as F

from scicat_ingestor_spark.config import build_config
from scicat_ingestor_spark.plans.schema_model import collect_schemas
from scicat_ingestor_spark.sources.messages import (
    drop_writer_errors,
    message_type_filter,
    parse_wrdn_json,
    wrdn_stream,
)
from scicat_ingestor_spark.streaming.health import (
    HealthState,
    QueryHealthListener,
    check_storage,
    serve_health,
)
from scicat_ingestor_spark.streaming.pipeline import idempotent_append, run_ingest_stream


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--schemas-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--config", default=None)
    ap.add_argument("--source-dir", default=None, help="replay dir instead of Kafka")
    ap.add_argument("--once", action="store_true", help="availableNow drain and exit")
    ap.add_argument(
        "--set", action="append", default=[], metavar="K=V", help="dot-key override"
    )
    args = ap.parse_args(argv)
    cfg, unused = build_config(args.config, dict(kv.split("=", 1) for kv in args.set))
    for key in unused:
        print(f"warning: unused config key {key}")

    from scicat_ingestor_spark.logging_setup import build_logger

    logger = build_logger(cfg.logging, name="scicat.online_ingestor")
    logger.info("starting scicat.online_ingestor (config ok, %d unused keys)", len(unused))

    from scicat_ingestor_spark.apps.offline import ingest_files
    from scicat_ingestor_spark.session import get_session

    spark = get_session("online_ingestor")
    schemas = collect_schemas(args.schemas_dir)

    listener = QueryHealthListener(cfg.health_check.stale_after_s)
    spark.streams.addListener(listener)
    if cfg.health_check.enabled:
        serve_health(
            HealthState(
                {
                    "stream": listener.healthy,
                    "storage": lambda: check_storage(
                        cfg.ingestion.file_handling.data_directory or args.out
                    ),
                }
            ),
            cfg.health_check.host,
            cfg.health_check.port,
        )

    if args.source_dir:
        schema = spark.read.parquet(args.source_dir).schema
        reader = spark.readStream.schema(schema)
        if cfg.ingestion.max_files_per_trigger > 0:
            reader = reader.option(
                "maxFilesPerTrigger", str(cfg.ingestion.max_files_per_trigger)
            )
        stream = reader.parquet(args.source_dir)
        messages = stream  # replay rows are already wrdn-shaped
    else:
        raw = wrdn_stream(
            spark,
            cfg.kafka.bootstrap_servers,
            cfg.kafka.topics,
            cfg.kafka.starting_offsets,
            security={
                "security_protocol": cfg.kafka.security_protocol,
                "sasl_mechanism": cfg.kafka.sasl_mechanism,
                "sasl_username": cfg.kafka.sasl_username,
                "sasl_password": cfg.kafka.sasl_password,
            },
        ).option("maxOffsetsPerTrigger", str(cfg.ingestion.max_offsets_per_trigger))
        messages = parse_wrdn_json(
            raw.load().filter(message_type_filter(F.col("value"), b"wrdn"))
        )

    snapshots = None
    refresher = None
    if cfg.scicat.dimension_snapshot_dir:
        from scicat_ingestor_spark.plans.sc import load_snapshots

        snapshots = load_snapshots(spark, cfg.scicat.dimension_snapshot_dir)
        if cfg.scicat.snapshot_refresh_batches > 0 and cfg.scicat.host:
            # live refresh (S10): the parquet snapshots bootstrap the
            # cache and define each dimension's schema; every N batches
            # the refresher re-GETs the resources from the catalog —
            # bounded staleness with zero per-row HTTP
            from scicat_ingestor_spark.streaming.dim_refresh import (
                SnapshotRefresher,
            )

            refresher = SnapshotRefresher(
                spark,
                cfg.scicat.rest_sink_config(""),
                {name: df.schema for name, df in snapshots.items()},
                refresh_every_n_batches=cfg.scicat.snapshot_refresh_batches,
            ).seed(snapshots)
            logger.info(
                "dimension refresh every %d batches from %s",
                cfg.scicat.snapshot_refresh_batches,
                cfg.scicat.host,
            )

    def transform(batch):
        batch = drop_writer_errors(batch) if "error_encountered" in batch.columns else batch
        file_col = "file_name" if "file_name" in batch.columns else "file"
        # a file redelivered inside one micro-batch is ingested once: the
        # sink's anti-join sees only the target, not the batch itself
        files = batch.select(F.col(file_col).alias("file")).dropDuplicates()
        dims = refresher.snapshots() if refresher is not None else snapshots
        return ingest_files(batch.sparkSession, files, schemas, snapshots=dims)

    if cfg.scicat.sink_mode == "live":
        # live catalog mode: POST datasets from foreachBatch with the
        # same anti-join idempotency (reference
        # /root/reference/src/scicat_communication.py:49-122)
        from scicat_ingestor_spark.streaming.rest_sink import make_rest_sink

        sink = make_rest_sink(cfg.scicat.rest_sink_config("datasets"), key="pid")
    else:

        def sink(batch, batch_id):
            idempotent_append(batch, args.out, "pid")

    # daemon resilience (reference system_helpers parity): a transient
    # sink/source failure in one micro-batch restarts the stream from
    # its checkpoint instead of killing the daemon; a persistent
    # failure exhausts the bounded budget and exits 1; ctrl-C exits 0
    from scicat_ingestor_spark.streaming.resilience import await_with_restarts

    return await_with_restarts(
        lambda: run_ingest_stream(
            messages, transform, sink, args.checkpoint, trigger_once=args.once
        ),
        logger,
        max_restarts=cfg.ingestion.max_stream_restarts,
        restart_window_s=cfg.ingestion.stream_restart_window_s,
        backoff_s=cfg.ingestion.stream_restart_backoff_s,
    )


if __name__ == "__main__":
    raise SystemExit(main())

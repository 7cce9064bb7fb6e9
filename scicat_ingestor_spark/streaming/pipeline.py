"""Streaming shell (SURVEY §2.9, §3.1): batch core, streaming skin.

The reference's online daemon is poll -> filter -> deserialize -> spawn
offline ingestor, committing offsets only after success
(/root/reference/src/scicat_online_ingestor.py:118-212, commit :84-91).

Spark-first: the compiled batch transform runs inside ``foreachBatch``;
Structured Streaming checkpointing reproduces the at-least-once contract
(offsets advance only when the batch function returns), and idempotency
comes from the same anti-join dedup the reference uses (J4/J5) — replays
insert nothing new. Bounded concurrency (T3) is Spark task scheduling +
``maxOffsetsPerTrigger``; failure isolation (T4) is the per-variable
``_failures`` channel instead of subprocess death.

Per-key ordering (T5 — the reference serializes sample upserts per
instrument with an mp.Lock,
/root/reference/src/scicat_sample_ingestor.py:118-127): we repartition by
the key inside the micro-batch and apply groups sequentially per
partition — order within a key is total, parallelism across keys is kept.
"""

from __future__ import annotations

from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def run_ingest_stream(
    stream_df: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """readStream -> foreachBatch(compiled transform -> sink).

    ``sink`` receives the transformed batch; it must be idempotent
    (anti-join against the target before append — operators.joins).
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df)
        sink(out, batch_id)

    writer = stream_df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="1 second")
    return writer.start()


def idempotent_append(
    batch: DataFrame,
    target_path: str,
    key: str,
) -> None:
    """At-least-once-safe sink: anti-join on `key` against the current
    target, then append. Mirrors the reference's dedup-before-POST
    (/root/reference/src/scicat_offline_ingestor.py:270-279). A missing
    target, or one with no data file yet (an aborted first write), is
    empty; an unreadable one raises, so the batch retries."""
    spark = batch.sparkSession
    fresh = batch
    try:
        existing = spark.read.parquet(target_path).select(key).distinct()
    except AnalysisException as e:
        if e.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            raise
    else:
        fresh = batch.join(existing, key, "left_anti")
    fresh.write.mode("append").parquet(target_path)


def ordered_per_key_apply(
    batch: DataFrame,
    key_col: str,
    order_col: str,
    apply_fn: Callable[[str, list], None],
) -> None:
    """T5: total order within key, parallel across keys.

    repartition(key) guarantees all rows of a key land in one partition;
    sortWithinPartitions fixes the order; foreachPartition walks groups
    sequentially. State stays executor-side — nothing collects to the
    driver.
    """
    prepared = batch.repartition(F.col(key_col)).sortWithinPartitions(key_col, order_col)

    def handle(rows):
        current_key, group = None, []
        for row in rows:
            k = row[key_col]
            if k != current_key and group:
                apply_fn(current_key, group)
                group = []
            current_key = k
            group.append(row)
        if group:
            apply_fn(current_key, group)

    prepared.foreachPartition(handle)

#!/usr/bin/env python3
"""Interleaved A/B/C of ngram_jaccard_pairs' exact-pairs stage (r12).

Variants, all building the SAME pair set (tests pin equivalence):
  plain   — pre-r11 form: one task per block (join on _blk only)
  r11     — cluster-wide k = isqrt(2*parallelism), EVERY block
            replicated k-fold (the VERDICT r11 #1 regression)
  r12     — per-block k from the block census (operators.dedup current)

min-of-N per variant, variants alternated within one session so load
bursts decorrelate from the variant.

Usage: AB_N=5 python tools/ab_ngram.py [raise|route]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N = int(os.environ.get("AB_N", "5"))


def _prepped(spark) -> DataFrame:
    from scicat_ingestor_spark.operators.dedup import word_shingles
    from scicat_ingestor_spark.operators.util import ensure_parallelism

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return ensure_parallelism(docs).select(
        F.col("doc_id"),
        F.col("lang").alias("_blk"),
        word_shingles(F.col("text"), 1).alias("_sh"),
    )


def _finish(joined, sim, threshold=0.5):
    return (
        joined.select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(sim, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def v_plain(spark) -> DataFrame:
    from scicat_ingestor_spark.operators.dedup import jaccard_similarity

    p = _prepped(spark)
    a, b = p.alias("a"), p.alias("b")
    sim = jaccard_similarity(F.col("a._sh"), F.col("b._sh"))
    return _finish(
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ),
        sim,
    )


def v_r11(spark) -> DataFrame:
    from scicat_ingestor_spark.operators.dedup import jaccard_similarity

    p = _prepped(spark)
    k = max(2, math.isqrt(2 * spark.sparkContext.defaultParallelism))
    pc = (
        p.withColumn("_c", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(k)))
        .withColumn(
            "_j",
            F.explode(F.sequence(F.lit(0), F.lit(k - 1)).cast("array<long>")),
        )
        .withColumn("_u", F.least("_c", "_j"))
        .withColumn("_v", F.greatest("_c", "_j"))
    )
    a, b = pc.alias("a"), pc.alias("b")
    sim = jaccard_similarity(F.col("a._sh"), F.col("b._sh"))
    return _finish(
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a._u") == F.col("b._u"))
            & (F.col("a._v") == F.col("b._v"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & ((F.col("a._c") != F.col("b._c")) | (F.col("a._u") == F.col("a._v"))),
        ),
        sim,
    )


def v_r12(spark) -> DataFrame:
    from scicat_ingestor_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return ngram_jaccard_pairs(
        docs, "text", "doc_id", "lang", threshold=0.5, shingle_n=1,
        max_block=20_000,
    )


def main() -> None:
    from scicat_ingestor_spark.session import get_session

    spark = get_session(
        "ab_ngram", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    variants = {"plain": v_plain, "r11": v_r11, "r12": v_r12}
    times: dict[str, list[float]] = {k: [] for k in variants}
    # warm-up once each
    for name, fn in variants.items():
        fn(spark).write.format("noop").mode("overwrite").save()
    for _ in range(N):
        for name, fn in variants.items():
            t0 = time.perf_counter()
            fn(spark).write.format("noop").mode("overwrite").save()
            times[name].append(time.perf_counter() - t0)
    out = {
        k: {"min": round(min(v), 3), "all": [round(x, 3) for x in v]}
        for k, v in times.items()
    }
    print(out)
    spark.stop()


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Headline benchmark for the driver (BASELINE.md §B).

Runs the headline query set at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is fully executed via a count-style collect (no result
materialization to the driver beyond the aggregate), timed after a
warm-up pass of the parquet footer reads.

`--diagnostics` additionally times the recall-report queries (pure
measurement tools, excluded from the default loops so the per-round
signal concentrates on pipeline shapes); they land in a separate
"diagnostics" map in bench_out.json, never in the headline total.

Queries whose declared reference inputs (`queries.missing_inputs`) are
absent are not run; bench_out.json lists them with the reason under
"skipped", and they are left out of the compact line's "queries".
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scicat_ingestor_spark.queries import QUERIES, missing_inputs  # noqa: E402
from scicat_ingestor_spark.session import get_session  # noqa: E402

# Headline set: the flagship pipeline, the TPC-H-shaped analytics pair,
# one representative per operator family (scan-filter, join, agg,
# window/rollup), and the training-data-pipeline extensions.
HEADLINE = [
    "ingest_e2e",
    "ingest_nexus",
    "ingest_coda_real",
    "s6_hdf5_scan",
    "q1_pricing_summary",
    "q3_top_revenue",
    "q5_local_supplier_volume",
    "j1_enrichment_join",
    "j4_anti_exists_pid",
    "a1_a2_dataset_size",
    "t8_hourly_rollup",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_lsh_jaccard_verified",
    "dedup_clusters",
    "dedup_survivors",
    "dedup_simhash",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ingest_samples",
    "text_quality",
    "text_langid",
    "text_token_counts",
    "text_decontaminate",
    "pack_sequences",
    "corpus_prep_e2e",
    "asof_last_click",
    "warc_extract_text",  # r9: the web-capture family's representative
    # r10 representatives: the fault-tolerant capture walk and the
    # RFC 9309 politeness gate's new equi-join plan
    "warc_fault_tolerance",
    "warc_robots_filter",
    # r11 representatives: the trained-langid scoring scan, the
    # tokenizer trio's new member, and the perceptual-signature dedup
    "text_langid_trained",
    "wordpiece_train_tokens",
    "image_phash_dedup",
]

# Recall/quality DIAGNOSTICS: measurement tools, not pipeline shapes —
# dedup_recall_report alone was 55% of the non-headline loop's cost in
# r6, drowning the per-round regression signal for the queries that
# actually model production plans. They stay in the oracle gate
# (tools/check_oracle.py runs the full registry); bench times them only
# under --diagnostics, recorded in a separate map.
DIAGNOSTICS = [
    "dedup_recall_report",
    "ann_recall_report",
    "ann_recall_trained_report",
    "ann_knn_recall_report",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # progress bars write pages of \r-noise around the final JSON line;
    # the round-2 bench artifact was lost to exactly that (the driver's
    # tail capture truncated the line) — run quiet
    spark = get_session(
        "bench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )

    def run(name: str) -> tuple[float, float, float]:
        """One timed pass -> (total, build, exec).

        build = plan construction (py4j expression building — the cost
        that dominated the sub-second ANN queries in round 4, SCALE.md);
        exec = noop write of the built DataFrame. Recording both makes
        round-over-round comparison noise-resistant: a build regression
        and an execution regression have different fixes."""
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        t1 = time.perf_counter()
        # full execution without driver-side materialization of rows
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        return t2 - t0, t1 - t0, t2 - t1

    def run_stream(n_batches: int = 4) -> float:
        """Replay the events table through the real streaming shell
        (readStream -> foreachBatch(transform -> sink)) in several
        micro-batches; returns wall seconds for the whole replay."""
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        from scicat_ingestor_spark.queries import _t
        from scicat_ingestor_spark.sources.messages import drop_writer_errors
        from scicat_ingestor_spark.streaming.pipeline import run_ingest_stream

        base = tempfile.mkdtemp(prefix="bench_stream_", dir=".")
        src, ck = f"{base}/src", f"{base}/ck"
        try:
            ev = _t(spark, sf_dir, "events").withColumn(
                "error_encountered", F.col("event_type") == "error"
            )
            ev.repartition(2 * n_batches).write.mode("overwrite").parquet(src)
            schema = spark.read.parquet(src).schema
            t0 = time.perf_counter()
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 2)
                .parquet(src)
            )

            def transform(batch):
                kept = drop_writer_errors(batch)
                return kept.groupBy("event_type").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("value").alias("total"),
                )

            def sink(batch, batch_id):
                batch.write.format("noop").mode("overwrite").save()

            q = run_ingest_stream(stream, transform, sink, ck)
            q.awaitTermination()
            return time.perf_counter() - t0
        finally:
            shutil.rmtree(base, ignore_errors=True)

    # queries whose declared reference inputs are absent here skip
    # visibly: recorded with the reason under "skipped", never timed
    skipped = {
        n: f"missing inputs: {', '.join(m)}"
        for n in QUERIES
        if (m := missing_inputs(n))
    }
    headline = [n for n in HEADLINE if n not in skipped]

    # warm-up pass: JVM codegen, Python worker pools, parquet footers —
    # steady-state throughput is what a long-lived cluster job sees
    for name in headline:
        run(name)

    # MEDIAN of three timed runs per query (r9 — VERDICT r8 #1: the
    # driver's single capture on a load-13+ box false-flagged a 20%
    # "regression" that three re-runs refuted). Median beats min for
    # honesty (min can hide a real intermittent cost) and beats mean
    # for noise (one co-tenant spike can't drag it); the recorded
    # build/exec split is the median sample's own. All raw samples and
    # the box load average land in bench_out.json so a noisy capture
    # self-documents its noise floor.
    timings: dict[str, float] = {}
    build: dict[str, float] = {}
    execs: dict[str, float] = {}
    samples: dict[str, list[float]] = {}

    def record(name: str, n_runs: int) -> None:
        runs = sorted((run(name) for _ in range(n_runs)), key=lambda r: r[0])
        t, b, e = runs[(n_runs - 1) // 2]  # median for 3, best for 2
        timings[name] = round(t, 4)
        build[name] = round(b, 4)
        execs[name] = round(e, 4)
        samples[name] = [round(r[0], 4) for r in runs]

    for name in headline:
        record(name, 3)
    run_stream()  # warm the streaming machinery once
    timings["stream_ingest_replay"] = round(min(run_stream() for _ in range(2)), 4)

    total = round(sum(timings.values()), 4)

    # full-registry coverage: every remaining queries() entry timed too
    # (warm-up + best of two), so round-over-round regressions are
    # visible per operator family, not just for the headliners.
    # Diagnostics run only when asked — their cost is measurement, not
    # pipeline, and it buried the rest-loop signal (VERDICT r6 task 7).
    with_diag = "--diagnostics" in sys.argv
    skip = set(HEADLINE) | set(skipped)
    if not with_diag:
        skip |= set(DIAGNOSTICS)
    rest = [n for n in QUERIES if n not in skip]
    for name in rest:
        run(name)
    for name in rest:
        record(name, 2)
    diagnostics = {
        n: timings.pop(n) for n in DIAGNOSTICS if n in timings
    }
    for n in diagnostics:
        build.pop(n, None), execs.pop(n, None)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # load average at capture end: >~ CPUS means co-tenant contention
    # smeared the samples — read the spread in "samples" before
    # calling any delta a regression
    loadavg = [round(x, 2) for x in os.getloadavg()]
    full_line = json.dumps(
        {
            "metric": "headline_suite_total",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "build": build,
            "exec": execs,
            "samples": samples,
            "loadavg": loadavg,
            **({"diagnostics": diagnostics} if diagnostics else {}),
            "skipped": skipped,
            "sf": sf_val,
        },
        separators=(",", ":"),
    )
    # durable copy first: the full per-query map (all ~100 queries)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "bench_out.json"), "w") as fh:
        fh.write(full_line + "\n")
    # the driver records only the LAST ~2000 chars of stdout, so the
    # final line must be well under that: headline queries only (~1100
    # chars), with a pointer at the durable full artifact. The full map
    # is printed on an EARLIER line for human eyes.
    headline_names = headline + ["stream_ingest_replay"]
    compact = json.dumps(
        {
            "metric": "headline_suite_total",
            "value": total,
            "unit": "sec",
            "queries": {n: timings[n] for n in headline_names},
            "sf": sf_val,
            "loadavg": loadavg,
            "full": "bench_out.json",
        },
        separators=(",", ":"),
    )
    assert len(compact) < 1900, f"compact bench line {len(compact)} chars"
    spark.stop()
    # after stop(): nothing else writes to stdout past this point
    print(full_line, flush=True)
    print(compact, flush=True)


if __name__ == "__main__":
    main()

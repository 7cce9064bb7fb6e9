"""Streaming-shell tests (SURVEY §2.9): at-least-once + anti-join
idempotency (T2), replay safety, per-key ordered apply (T5).

The stream source is a parquet directory replayed with
``trigger(availableNow=True)`` — the driver's events table stands in for
the Kafka wrdn topic (same micro-batch semantics, no broker needed).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from scicat_ingestor_spark.streaming.pipeline import (
    idempotent_append,
    ordered_per_key_apply,
    run_ingest_stream,
)


def _mk_source(spark, sf_dir, tmp_path, n=200):
    src = str(tmp_path / "src")
    (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .limit(n)
        .select("event_id", "event_type", "user_id", "props")
        .write.mode("overwrite")
        .parquet(src)
    )
    schema = spark.read.parquet(src).schema
    return src, schema


def _transform(batch):
    return batch.filter(F.col("event_type") != "error").select(
        F.col("event_id").alias("pid"),
        F.col("user_id"),
    )


def test_available_now_replay_is_idempotent(spark, sf_dir, tmp_path):
    src, schema = _mk_source(spark, sf_dir, tmp_path)
    target = str(tmp_path / "out")
    ckpt1 = str(tmp_path / "ckpt1")

    def sink(batch, batch_id):
        idempotent_append(batch, target, "pid")

    stream = spark.readStream.schema(schema).parquet(src)
    q = run_ingest_stream(stream, _transform, sink, ckpt1, trigger_once=True)
    q.awaitTermination(120)
    first = spark.read.parquet(target).count()
    assert first > 0

    # same checkpoint -> offsets already committed -> no new batches
    q2 = run_ingest_stream(
        spark.readStream.schema(schema).parquet(src), _transform, sink, ckpt1
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(target).count() == first

    # fresh checkpoint replays everything; the anti-join dedup absorbs it
    ckpt2 = str(tmp_path / "ckpt2")
    q3 = run_ingest_stream(
        spark.readStream.schema(schema).parquet(src), _transform, sink, ckpt2
    )
    q3.awaitTermination(120)
    assert spark.read.parquet(target).count() == first


def test_idempotent_append_raises_on_unreadable_target(spark, tmp_path):
    """A target that exists but cannot be read is not "absent": the
    append must fail (the batch is retried) instead of re-appending the
    whole batch next to the corrupt file. A target directory holding no
    data file yet still counts as empty."""
    import pytest

    batch = spark.createDataFrame([("k1", 1), ("k2", 2)], "pid string, v int")
    target = tmp_path / "out"
    target.mkdir()
    (target / "part-00000-corrupt.snappy.parquet").write_bytes(b"not parquet" * 8)
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        idempotent_append(batch, str(target), "pid")
    assert sorted(os.listdir(target)) == ["part-00000-corrupt.snappy.parquet"]

    empty = tmp_path / "empty"
    (empty / "_temporary").mkdir(parents=True)
    idempotent_append(batch, str(empty), "pid")
    assert spark.read.parquet(str(empty)).count() == 2


def test_new_data_still_flows_after_dedup(spark, sf_dir, tmp_path):
    src, schema = _mk_source(spark, sf_dir, tmp_path, n=100)
    target = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def sink(batch, batch_id):
        idempotent_append(batch, target, "pid")

    q = run_ingest_stream(
        spark.readStream.schema(schema).parquet(src), _transform, sink, ckpt
    )
    q.awaitTermination(120)
    first = spark.read.parquet(target).count()

    # append genuinely new rows to the source -> exactly those flow through
    more = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .orderBy("event_id")
        .limit(150)
        .orderBy(F.desc("event_id"))
        .limit(50)
        .select("event_id", "event_type", "user_id", "props")
    )
    expected_new = _transform(more).count()
    more.write.mode("append").parquet(src)
    q2 = run_ingest_stream(
        spark.readStream.schema(schema).parquet(src), _transform, sink, ckpt
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(target).count() == first + expected_new


def test_ordered_per_key_apply(spark, sf_dir, tmp_path):
    """T5: all rows of a key are applied by one worker, in order."""
    outdir = tmp_path / "keys"
    outdir.mkdir()
    outpat = str(outdir)

    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .limit(500)
        .select((F.col("user_id") % 5).alias("instrument"), "event_id")
    )

    def apply_fn(key, rows):
        # executor-side effect, observable via the shared local FS
        with open(os.path.join(outpat, f"k{key}_{rows[0]['event_id']}"), "w") as f:
            f.write(",".join(str(r["event_id"]) for r in rows))

    ordered_per_key_apply(batch, "instrument", "event_id", apply_fn)

    files = glob.glob(os.path.join(outpat, "k*"))
    assert files, "apply_fn never ran"
    seen_keys = set()
    for path in files:
        key = os.path.basename(path).split("_")[0]
        assert key not in seen_keys, "key split across apply calls"
        seen_keys.add(key)
        ids = [int(x) for x in open(path).read().split(",")]
        assert ids == sorted(ids), "rows not ordered within key"
    assert len(seen_keys) == 5


def test_health_endpoint_contract():
    """T9: 200 when all probes pass, 503 otherwise, 404 elsewhere
    (/root/reference/src/scicat_health_check.py:42-65)."""
    import json
    import urllib.request
    from urllib.error import HTTPError

    from scicat_ingestor_spark.streaming import health

    flags = {"scicat": True}
    state = health.HealthState(
        {
            "storage": lambda: health.check_storage("/root/repo"),
            "scicat": lambda: flags["scicat"],
        }
    )
    server = health.serve_health(state)
    port = server.server_address[1]
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/health") as r:
            assert r.status == 200
            assert json.loads(r.read()) == {"storage": True, "scicat": True}
        flags["scicat"] = False
        try:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/health")
            raise AssertionError("expected 503")
        except HTTPError as e:
            assert e.code == 503
            assert json.loads(e.read()) == {"storage": True, "scicat": False}
        try:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/other")
            raise AssertionError("expected 404")
        except HTTPError as e:
            assert e.code == 404
    finally:
        server.shutdown()


def test_query_health_listener_tracks_stream(spark, sf_dir, tmp_path):
    """T9: listener marks a running stream healthy and a failed one not."""
    import time as _time

    from scicat_ingestor_spark.streaming.health import QueryHealthListener

    listener = QueryHealthListener(stale_after_s=300)
    spark.streams.addListener(listener)
    try:
        src = spark.readStream.format("rate").option("rowsPerSecond", "10").load()
        q = (
            src.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="100 milliseconds")
            .start()
        )
        deadline = _time.time() + 30
        while not listener._last_progress and _time.time() < deadline:
            _time.sleep(0.2)
        assert listener.healthy()
        q.stop()
        q.awaitTermination(30)
        # clean stop: still healthy
        assert listener.healthy()
    finally:
        spark.streams.removeListener(listener)


def test_stateful_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState seen-key state: duplicates dropped within a
    batch AND across micro-batches via the checkpointed state store."""
    from scicat_ingestor_spark.streaming.stateful import dedup_across_batches

    src = str(tmp_path / "state_src")
    ck = str(tmp_path / "state_ck")
    schema = "pid string, payload long"

    def write_batch(rows, mode):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(mode).parquet(src)

    out = str(tmp_path / "state_out")

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            dedup_across_batches(stream, "pid")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r["pid"] for r in spark.read.parquet(out).collect()}

    write_batch([("a", 1), ("b", 2), ("a", 3)], "overwrite")
    assert drain() == {"a", "b"}

    write_batch([("b", 4), ("c", 5)], "append")
    # restarted query restores the seen-set from the checkpoint: only the
    # genuinely new key passes
    assert drain() == {"a", "b", "c"}


def test_watermarked_window_rollup_matches_batch(spark, sf_dir, tmp_path):
    """T8 idiomatic carrier: event-time tumbling window + watermark in a
    stream gives the same rollup as the batch groupBy(window) — late-data
    policy engaged, availableNow drains everything so totals agree."""
    src = str(tmp_path / "wm_src")
    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(2000)
    ts_type = dict(events.dtypes).get("ts")
    if ts_type == "bigint":
        # ns-as-long testdata variant (see queries._t)
        events = events.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    events = events.select("event_id", "ts", "event_type")
    events.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def rollup(df):
        return df.withWatermark("ts", "1 hour").groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n"))

    out = str(tmp_path / "wm_out")

    def drain():
        q = (
            rollup(spark.readStream.schema(schema).parquet(src))
            .select(F.col("w.start").alias("h"), "event_type", "n")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "wm_ck"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out)

    # append mode holds back windows the watermark hasn't passed yet:
    # after the first drain the tail windows are still open
    first = drain().count()
    # a sentinel far past the watermark closes every real window
    spark.sql(
        "select cast(9e11 as long) as event_id,"
        " timestamp'2030-01-01' as ts, '__flush__' as event_type"
    ).write.mode("append").parquet(src)
    got = sorted(
        map(tuple, drain().filter(F.col("event_type") != "__flush__").collect())
    )
    want = sorted(
        map(
            tuple,
            rollup(spark.read.parquet(src))
            .filter(F.col("event_type") != "__flush__")
            .select(F.col("w.start").alias("h"), "event_type", "n")
            .collect(),
        )
    )
    assert got == want and len(got) > 0
    assert len(got) >= first  # the flush released the held-back windows


def test_events_ts_loader_handles_both_parquet_variants(spark, sf_dir, tmp_path):
    """Driver testdata has shipped events.ts both as TIMESTAMP(NANOS)
    (read as bigint under nanosAsLong) and as timestamp[us] (read as
    TIMESTAMP_NTZ). queries._t must normalize either to TIMESTAMP with
    identical UTC wall-clock values."""
    from scicat_ingestor_spark.queries import _t

    ref = _t(spark, sf_dir, "events", parallel=False).select("event_id", "ts")
    assert dict(ref.dtypes)["ts"] == "timestamp"
    rows = ref.orderBy("event_id").limit(50).collect()

    # rebuild the same rows as ns-since-epoch longs (the legacy variant)
    legacy_dir = str(tmp_path / "legacy_events")
    spark.createDataFrame(
        [(r.event_id, int(r.ts.timestamp() * 1_000_000) * 1000) for r in rows],
        "event_id long, ts long",
    ).write.parquet(legacy_dir + "/events.parquet")
    legacy = _t(spark, legacy_dir, "events", parallel=False)
    assert dict(legacy.dtypes)["ts"] == "timestamp"
    got = {r.event_id: r.ts for r in legacy.collect()}
    assert got == {r.event_id: r.ts for r in rows}


def test_streaming_corpus_prep_matches_batch(spark, sf_dir, tmp_path):
    """The corpus-prep stages run incrementally: quality+decontamination
    per micro-batch, dedup split into in-batch keep-first plus the
    cross-batch anti-join sink. Replaying the corpus in id-ordered
    micro-batches must land exactly the batch pipeline's survivor set."""
    from pyspark.sql import Window

    from scicat_ingestor_spark.apps.corpus import prep_corpus
    from scicat_ingestor_spark.operators import dedup
    from scicat_ingestor_spark.streaming.pipeline import (
        idempotent_append,
        run_ingest_stream,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    eval_static = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)

    expected = {
        r.doc_id
        for r in prep_corpus(
            corpus, stages=("quality", "decontaminate", "dedup"), eval_docs=eval_static
        ).collect()
    }

    # id-ordered micro-batches: 3 files, ascending ranges, one per trigger
    src = str(tmp_path / "stream_src")
    ids = sorted(r.doc_id for r in corpus.select("doc_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    ranges = [
        corpus.filter(F.col("doc_id") < cuts[0]),
        corpus.filter((F.col("doc_id") >= cuts[0]) & (F.col("doc_id") < cuts[1])),
        corpus.filter(F.col("doc_id") >= cuts[1]),
    ]
    for part in ranges:
        part.coalesce(1).write.mode("append").parquet(src)

    target = str(tmp_path / "survivors")

    def transform(batch):
        cleaned = prep_corpus(
            batch, stages=("quality", "decontaminate"), eval_docs=eval_static
        )
        wd = Window.partitionBy("h").orderBy("doc_id")
        return (
            cleaned.withColumn("h", dedup.content_hash(F.col("text")))
            .withColumn("rn", F.row_number().over(wd))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    def sink(batch, batch_id):
        idempotent_append(batch, target, "h")  # cross-batch dedup on content

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_ingest_stream(
        stream, transform, sink, str(tmp_path / "ck"), trigger_once=True
    )
    q.awaitTermination(180)
    got = {r.doc_id for r in spark.read.parquet(target).collect()}
    assert got == expected


def test_streaming_hygiene_gates_match_batch(spark, sf_dir, tmp_path):
    """The stateless hygiene stages (Gopher repetition gate + PII scrub)
    are per-row transforms, so the streaming micro-batch result must
    equal the batch result row for row — no state, no watermark."""
    from scicat_ingestor_spark.apps.corpus import prep_corpus
    from scicat_ingestor_spark.streaming.pipeline import run_ingest_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    expected = {
        (r.doc_id, r.text)
        for r in prep_corpus(docs, stages=("repetition", "pii")).collect()
    }

    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)
    target = str(tmp_path / "out")

    def transform(batch):
        return prep_corpus(batch, stages=("repetition", "pii")).select(
            "doc_id", "text"
        )

    def sink(batch, batch_id):
        batch.write.mode("append").parquet(target)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_ingest_stream(
        stream, transform, sink, str(tmp_path / "ck"), trigger_once=True
    )
    q.awaitTermination(180)
    got = {(r.doc_id, r.text) for r in spark.read.parquet(target).collect()}
    assert got == expected


def test_streaming_bloom_decontaminate_matches_batch(spark, sf_dir, tmp_path):
    """The Bloom filter is built ONCE batch-side from the eval split and
    then gates every micro-batch (probe + exact verify are stateless per
    batch), so the streamed union must equal the batch decontaminate
    result — the deployment shape for decontaminating a live ingest
    feed against a fixed benchmark suite."""
    from pyspark.sql import functions as F

    from scicat_ingestor_spark.operators import bloom, dedup
    from scicat_ingestor_spark.streaming.pipeline import run_ingest_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    grams = dedup.word_shingles(F.col("text"), n=4)
    eval_grams = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode(grams).alias("gram"))
        .distinct()
    )
    words, m_bits, k = bloom.build(eval_grams, "gram")

    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    expected = {
        (r.doc_id, r.n_hits)
        for r in bloom.probe(
            corpus.select("doc_id", F.explode(grams).alias("gram")),
            "gram", words, m_bits, k,
        )
        .join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .collect()
    }

    src = str(tmp_path / "src")
    corpus.repartition(3).write.parquet(src)
    target = str(tmp_path / "out")

    def transform(batch):
        g = batch.select("doc_id", F.explode(grams).alias("gram"))
        return (
            bloom.probe(g, "gram", words, m_bits, k)
            .join(F.broadcast(eval_grams), "gram")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
        )

    def sink(batch, batch_id):
        batch.write.mode("append").parquet(target)

    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_ingest_stream(
        stream, transform, sink, str(tmp_path / "ck"), trigger_once=True
    )
    q.awaitTermination(180)
    got = {(r.doc_id, r.n_hits) for r in spark.read.parquet(target).collect()}
    assert got == expected


def test_watermarked_session_window_matches_batch(spark, sf_dir, tmp_path):
    """t8_sessionize's streaming form: session_window + watermark merges
    per-key sessions as state; availableNow + a far-future sentinel
    closes every real session, so the streamed append output must equal
    the batch session rollup — the engine's session-state machinery
    (merge on gap overlap, emit on watermark pass) verified end to end."""
    src = str(tmp_path / "sw_src")
    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(2000)
    ts_type = dict(events.dtypes).get("ts")
    if ts_type == "bigint":
        events = events.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    events = events.select("ts", (F.col("user_id") % 20).alias("k"))
    events.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def sessions(df):
        return (
            df.withWatermark("ts", "1 hour")
            .groupBy("k", F.session_window("ts", "30 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
        )

    out = str(tmp_path / "sw_out")
    # sentinel far past the watermark: closes all real sessions
    spark.sql(
        "select timestamp'2030-01-01' as ts, cast(-1 as long) as k"
    ).write.mode("append").parquet(src)
    q = (
        sessions(spark.readStream.schema(schema).parquet(src))
        .select("k", F.col("w.start").alias("s"), F.col("w.end").alias("e"), "n")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "sw_ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, spark.read.parquet(out).filter(F.col("k") >= 0).collect())
    )
    want = sorted(
        map(
            tuple,
            sessions(spark.read.parquet(src))
            .filter(F.col("k") >= 0)
            .select("k", F.col("w.start").alias("s"), F.col("w.end").alias("e"), "n")
            .collect(),
        )
    )
    assert got == want and len(got) > 0


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream INNER join with watermarks on both sides and a
    time-range condition — the streaming form of the click->purchase
    attribution join (batch: q_range_join_click_purchase). Watermarks
    bound the join state Spark must keep (clicks older than the range +
    delay are dropped from state); the inner join emits matches as they
    arrive, so an availableNow drain must reproduce the batch interval
    join row-for-row."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(4000)
    ts_type = dict(events.dtypes).get("ts")
    if ts_type == "bigint":
        events = events.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    c_src, p_src = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    clicks.write.mode("overwrite").parquet(c_src)
    purchases.write.mode("overwrite").parquet(p_src)

    cond = F.expr(
        "c_user = p_user AND click_ts <= purchase_ts"
        " AND click_ts > purchase_ts - INTERVAL 1 HOUR"
    )
    cs = spark.read.parquet(c_src)
    ps = spark.read.parquet(p_src)
    want = sorted(
        map(
            tuple,
            ps.join(cs, cond).select("purchase_id", "click_id").collect(),
        )
    )
    assert len(want) > 0  # the testdata always has same-hour click/purchase

    out = str(tmp_path / "ss_out")
    stream = (
        spark.readStream.schema(ps.schema)
        .parquet(p_src)
        .withWatermark("purchase_ts", "2 hours")
        .join(
            spark.readStream.schema(cs.schema)
            .parquet(c_src)
            .withWatermark("click_ts", "2 hours"),
            cond,
        )
        .select("purchase_id", "click_id")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ss_ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination(180)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert got == want


def test_streaming_incremental_dedup_loop(spark, sf_dir, tmp_path):
    """The probe-admit-index loop (streaming/incremental.py): three
    micro-batches of new docs against a seeded corpus index. Invariants:
    (a) no admitted doc shares any LSH bucket with the base corpus,
    (b) admitted docs are pairwise bucket-disjoint ACROSS batches too
    (each batch was probed against the index its predecessors updated),
    (c) replaying the drained stream admits nothing twice."""
    from scicat_ingestor_spark.operators import dedup
    from scicat_ingestor_spark.streaming import incremental

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    base = docs.filter(F.col("doc_id") % 5 != 0)
    inc = docs.filter(F.col("doc_id") % 5 == 0)

    index_path = str(tmp_path / "lsh_index")
    admitted_path = str(tmp_path / "admitted")
    src = str(tmp_path / "inc_src")
    ck = str(tmp_path / "ck")
    dedup.build_lsh_index(base, "text", "doc_id").write.parquet(index_path)
    inc.repartition(3).write.parquet(src)

    def drain():
        q = incremental.run_incremental_dedup_stream(
            spark.readStream.schema(inc.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            index_path,
            admitted_path,
            ck,
        )
        q.awaitTermination(180)

    drain()
    admitted = spark.read.parquet(admitted_path)
    got = {r.doc_id for r in admitted.select("doc_id").collect()}
    assert got and got <= {r.doc_id for r in inc.select("doc_id").collect()}

    base_keys = {
        (r.band, r.sig)
        for r in dedup.build_lsh_index(base, "text", "doc_id").collect()
    }
    buckets = {}
    for r in dedup.lsh_band_buckets(admitted, "text", "doc_id").collect():
        assert (r.band, r.sig) not in base_keys  # (a)
        prev = buckets.setdefault((r.band, r.sig), r.doc_id)
        assert prev == r.doc_id  # (b): one admitted doc per bucket, ever
    # (c) replay: same checkpoint, already-drained source -> no growth;
    # a FRESH checkpoint re-reads everything but idempotent_append +
    # the updated index still admit nothing new
    drain()
    assert spark.read.parquet(admitted_path).count() == len(got)
    import shutil

    shutil.rmtree(ck)
    drain()
    assert spark.read.parquet(admitted_path).count() == len(got)


def test_incremental_dedup_index_read_failures(spark, sf_dir, tmp_path):
    """The empty-index fallback is reserved for the documented
    no-corpus-yet case (PATH_NOT_FOUND): a missing index admits the
    batch and bootstraps the index; any OTHER index read failure must
    fail the batch — silently admitting an unprobed micro-batch would
    permanently pollute the corpus."""
    import pytest

    from scicat_ingestor_spark.streaming import incremental

    batch = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).limit(20)
    index_path = str(tmp_path / "no_index_yet")
    admitted_path = str(tmp_path / "admitted")
    incremental.dedup_batch_against_index(
        batch, index_path, admitted_path, "text", "doc_id"
    )
    n = spark.read.parquet(admitted_path).count()
    assert 0 < n <= 20  # bootstrap: only intra-batch dups rejected
    assert spark.read.parquet(index_path).count() > 0

    broken = tmp_path / "broken_index"
    broken.mkdir()
    (broken / "part-00000.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception, match="(?i)parquet|footer|corrupt"):
        incremental.dedup_batch_against_index(
            batch, str(broken), str(tmp_path / "admitted2"), "text", "doc_id"
        )
    assert not (tmp_path / "admitted2").exists()  # nothing was admitted


def test_compact_parquet_preserves_content(spark, sf_dir, tmp_path):
    """Compaction after a fragmented append history: row-identical
    content, file count collapsed to the size target, original
    recoverable from .bak when asked for."""
    from scicat_ingestor_spark.streaming import maintenance

    path = str(tmp_path / "fragmented")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    for i in range(8):  # 8 appends -> 8 file groups
        docs.filter(F.col("doc_id") % 8 == i).write.mode("append").parquet(path)

    import os

    n_before = sum(f.endswith(".parquet") for f in os.listdir(path))
    assert n_before >= 8
    before = sorted(map(tuple, spark.read.parquet(path).collect()))

    n = maintenance.compact_parquet(spark, path, target_mb=64, keep_backup=True)
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert after == before
    n_after = sum(f.endswith(".parquet") for f in os.listdir(path))
    assert n == 1 and n_after == 1  # tiny dir -> one right-sized file
    assert sorted(
        map(tuple, spark.read.parquet(path + ".bak").collect())
    ) == before


def test_compact_parquet_crash_recovery_and_path_guard(spark, sf_dir, tmp_path):
    """The swap is two non-atomic renames; a crash in the gap leaves
    the data only at .bak. The entry check must RESTORE that backup —
    the stale-artifact cleanup can never delete the only surviving
    copy. Non-local / non-directory targets are rejected up front."""
    import os

    import pytest

    from scicat_ingestor_spark.streaming import maintenance

    path = str(tmp_path / "live")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    ).limit(100)
    docs.write.parquet(path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))

    # simulate a crash between rename(path, bak) and rename(tmp, path)
    os.rename(path, path + ".bak")
    assert not os.path.exists(path)
    n = maintenance.compact_parquet(spark, path)
    assert n >= 1
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before

    with pytest.raises(ValueError, match="local directory"):
        maintenance.compact_parquet(spark, str(tmp_path / "does_not_exist"))
    with pytest.raises(ValueError, match="local directory"):
        maintenance.compact_parquet(spark, "s3a://bucket/table")


def test_incremental_index_distinct_compaction(spark, sf_dir, tmp_path):
    """Replay-duplicated index keys are swept by the content-aware
    maintenance pass (VERDICT r5 'what's wrong #1'): replay a batch so
    duplicated (band, sig) keys exist, run distinct_compact_parquet,
    and assert the index row count equals its distinct count while
    probe results are unchanged."""
    from scicat_ingestor_spark.operators import dedup
    from scicat_ingestor_spark.streaming import incremental, maintenance

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    base = docs.filter(F.col("doc_id") % 5 != 0)
    inc = docs.filter(F.col("doc_id") % 5 == 0).limit(40)
    index_path = str(tmp_path / "lsh_index")
    admitted_path = str(tmp_path / "admitted")
    dedup.build_lsh_index(base, "text", "doc_id").write.parquet(index_path)

    incremental.dedup_batch_against_index(
        inc, index_path, admitted_path, "text", "doc_id"
    )
    admitted_before = {
        r.doc_id for r in spark.read.parquet(admitted_path).collect()
    }
    # a full-body replay is self-healing (the replayed batch collides
    # with its own keys, so the re-run appends nothing) — assert that,
    # then simulate the duplication path that IS real: a retried /
    # crash-replayed index WRITE re-appending keys already present
    incremental.dedup_batch_against_index(
        inc, index_path, admitted_path, "text", "doc_id"
    )
    index = spark.read.parquet(index_path)
    assert index.count() == index.distinct().count()
    dup = spark.read.parquet(index_path).limit(50).localCheckpoint()
    dup.write.mode("append").parquet(index_path)
    index = spark.read.parquet(index_path)
    n_rows, n_keys = index.count(), index.distinct().count()
    assert n_rows > n_keys  # duplicates exist pre-compaction

    maintenance.distinct_compact_parquet(
        spark, index_path, key_columns=["band", "sig"]
    )
    index = spark.read.parquet(index_path)
    assert index.count() == index.distinct().count() == n_keys

    # probe results against the compacted index are unchanged: a fresh
    # increment probe admits exactly what it would have pre-compaction
    probe = docs.filter(F.col("doc_id") % 5 == 0).limit(80)
    got = {
        r.doc_id
        for r in dedup.incremental_dedup(
            probe, spark.read.parquet(index_path), "text", "doc_id"
        ).collect()
    }
    # every previously-admitted doc now collides with the index (its
    # own keys were appended), so the fresh probe admits only docs
    # outside the first batch
    assert got.isdisjoint(admitted_before)


def test_incremental_stream_compaction_cadence(spark, sf_dir, tmp_path):
    """The streaming loop's compact_index_every_n_batches cadence: a
    3-file availableNow drain with cadence 1 leaves the index
    duplicate-free and the admitted set identical to a no-compaction
    drain."""
    from scicat_ingestor_spark.operators import dedup
    from scicat_ingestor_spark.streaming import incremental

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    base = docs.filter(F.col("doc_id") % 5 != 0)
    inc = docs.filter(F.col("doc_id") % 5 == 0)
    src = str(tmp_path / "src")
    inc.repartition(3).write.parquet(src)

    def drain(tag, cadence):
        index_path = str(tmp_path / f"idx_{tag}")
        admitted_path = str(tmp_path / f"adm_{tag}")
        dedup.build_lsh_index(base, "text", "doc_id").write.parquet(index_path)
        q = incremental.run_incremental_dedup_stream(
            spark.readStream.schema(inc.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            index_path,
            admitted_path,
            str(tmp_path / f"ck_{tag}"),
            compact_index_every_n_batches=cadence,
        )
        q.awaitTermination(180)
        return index_path, admitted_path

    idx_c, adm_c = drain("compacted", 1)
    idx_p, adm_p = drain("plain", 0)
    index = spark.read.parquet(idx_c)
    assert index.count() == index.distinct().count()
    got_c = {r.doc_id for r in spark.read.parquet(adm_c).collect()}
    got_p = {r.doc_id for r in spark.read.parquet(adm_p).collect()}
    assert got_c == got_p


def _failing_then_ok_stream(spark, tmp_path, fail_times):
    """availableNow parquet stream whose foreachBatch body fails the
    first ``fail_times`` invocations (transient-sink simulation), then
    appends normally."""
    import json

    src = str(tmp_path / "rsrc")
    out = str(tmp_path / "rout")
    spark.range(0, 30).withColumnRenamed("id", "pid").repartition(3).write.mode(
        "overwrite"
    ).parquet(src)
    state_file = tmp_path / "fail_count.json"
    state_file.write_text(json.dumps({"left": fail_times}))

    def body(batch, _bid):
        state = json.loads(state_file.read_text())
        if state["left"] > 0:
            state_file.write_text(json.dumps({"left": state["left"] - 1}))
            raise RuntimeError("transient sink outage (injected)")
        batch.write.mode("append").parquet(out)

    def start():
        return (
            spark.readStream.schema("pid long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(body)
            .option("checkpointLocation", str(tmp_path / "rck"))
            .trigger(availableNow=True)
            .start()
        )

    return start, out


class _ListLogger:
    def __init__(self):
        self.events = []

    def _log(self, level):
        def fn(msg, *a, **kw):
            self.events.append((level, msg % a if a else msg))

        return fn

    def __getattr__(self, name):
        return self._log(name)


def test_await_with_restarts_recovers_from_transient_failure(spark, tmp_path):
    """VERDICT r5 task 4: one injected foreachBatch failure -> the
    stream restarts from its checkpoint, completes the drain, exits 0,
    and the sink holds every row exactly once (idempotency is the
    checkpoint's, not the test's)."""
    from scicat_ingestor_spark.streaming.resilience import await_with_restarts

    start, out = _failing_then_ok_stream(spark, tmp_path, fail_times=1)
    log = _ListLogger()
    rc = await_with_restarts(start, log, max_restarts=3, backoff_s=0.1)
    assert rc == 0
    got = sorted(r.pid for r in spark.read.parquet(out).collect())
    assert got == list(range(30))
    assert any(lvl == "warning" for lvl, _ in log.events)  # the restart


def test_await_with_restarts_exhausts_budget_on_persistent_failure(
    spark, tmp_path
):
    """A persistent failure burns the bounded budget and exits 1 —
    no infinite flapping."""
    from scicat_ingestor_spark.streaming.resilience import await_with_restarts

    start, out = _failing_then_ok_stream(spark, tmp_path, fail_times=99)
    log = _ListLogger()
    rc = await_with_restarts(start, log, max_restarts=2, backoff_s=0.05)
    assert rc == 1
    assert sum(lvl == "warning" for lvl, _ in log.events) == 2
    assert any("budget" in m for _, m in log.events)
    import os

    assert not os.path.exists(out)  # nothing half-written


def test_await_with_restarts_honors_transient_classifier(spark, tmp_path):
    """is_transient=False failures exit 1 immediately, reference
    handle_daemon_loop_exceptions' unlisted-exception branch."""
    from scicat_ingestor_spark.streaming.resilience import await_with_restarts

    start, _out = _failing_then_ok_stream(spark, tmp_path, fail_times=1)
    log = _ListLogger()
    rc = await_with_restarts(
        start, log, max_restarts=5, backoff_s=0.05, is_transient=lambda e: False
    )
    assert rc == 1
    assert not any(lvl == "warning" for lvl, _ in log.events)  # no restart


def test_await_with_restarts_clean_drain_exits_zero(spark, tmp_path):
    from scicat_ingestor_spark.streaming.resilience import await_with_restarts

    start, out = _failing_then_ok_stream(spark, tmp_path, fail_times=0)
    log = _ListLogger()
    rc = await_with_restarts(start, log)
    assert rc == 0
    assert spark.read.parquet(out).count() == 30
    assert any("normally" in m for _, m in log.events)


def test_streaming_funnel_matches_batch(spark, sf_dir, tmp_path):
    """VERDICT r5 task 7: the stateful streaming funnel
    (stateful.funnel_stage_times), drained over a 3-file replay with
    arrival order DIFFERENT from event order, converges to exactly the
    batch q_events_funnel counts — the order-insensitive update rule at
    work."""
    import scicat_ingestor_spark.queries as Q
    from scicat_ingestor_spark.streaming.stateful import funnel_stage_times

    want = Q.q_events_funnel(spark, sf_dir).collect()[0].asDict()

    ev = Q._t(spark, sf_dir, "events").select(
        # unix_micros: injective monotone encoding — a seconds cast
        # would collapse sub-second ordering (review finding r6)
        "user_id", "event_type", F.unix_micros(F.col("ts")).alias("ts_long")
    )
    src = str(tmp_path / "fsrc")
    # shuffle arrival order: partition by a hash so each user's events
    # split across micro-batches in non-event-time order
    ev.repartition(3, F.col("ts_long") % 3).write.parquet(src)

    out = str(tmp_path / "fout")
    q = (
        funnel_stage_times(
            spark.readStream.schema(
                "user_id long, event_type string, ts_long long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "fck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    from pyspark.sql import Window as W

    snap = spark.read.parquet(out)
    latest = (
        snap.withColumn(
            "_rk",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(F.desc("version"))
            ),
        )
        .filter(F.col("_rk") == 1)
    )
    got = latest.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("t_view").isNotNull().cast("bigint")).alias("viewed"),
        F.sum(F.col("t_click").isNotNull().cast("bigint")).alias(
            "clicked_after_view"
        ),
        F.sum(F.col("t_purchase").isNotNull().cast("bigint")).alias(
            "purchased_after_click"
        ),
    ).collect()[0].asDict()
    assert got == want


def test_streaming_retention_matches_batch(spark, sf_dir, tmp_path):
    """Streaming cohort retention: per-user stateful (cohort, weeks)
    snapshots, latest-per-user, re-aggregated — must equal the batch
    q_retention_cohorts matrix even when a user's earliest week arrives
    LAST (cohort re-assignment via corrected snapshots)."""
    import scicat_ingestor_spark.queries as Q
    from scicat_ingestor_spark.streaming.stateful import retention_first_seen

    want = {
        (r.cohort, r.week, r.n_users, r.week_offset)
        for r in Q.q_retention_cohorts(spark, sf_dir).collect()
    }

    ev = Q._t(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("week", "ts").cast("long").alias("week_long"),
    )
    src = str(tmp_path / "rtsrc")
    # reverse-ish arrival: later weeks in earlier files for many users
    ev.repartition(3, F.col("week_long")).write.parquet(src)

    out = str(tmp_path / "rtout")
    q = (
        retention_first_seen(
            spark.readStream.schema("user_id long, week_long long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "rtck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    from pyspark.sql import Window as W

    snap = spark.read.parquet(out)
    latest = (
        snap.withColumn(
            "_rk",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(F.desc("version"))
            ),
        )
        .filter(F.col("_rk") == 1)
        .select("user_id", "cohort", F.explode("weeks").alias("week"))
    )
    got = {
        (r.cohort, r.week, r.n_users, r.week_offset)
        for r in (
            latest.groupBy("cohort", "week")
            .agg(F.count(F.lit(1)).alias("n_users"))
            .withColumn("week_offset", F.floor((F.col("week") - F.col("cohort")) / 604800))
            .withColumn("cohort", F.date_format(F.col("cohort").cast("timestamp"), "yyyy-MM-dd"))
            .withColumn("week", F.date_format(F.col("week").cast("timestamp"), "yyyy-MM-dd"))
        ).collect()
    }
    assert got == want


def test_await_with_restarts_catches_non_stream_exceptions(tmp_path):
    """A Py4J gateway drop / wrapped JVM error is not a
    StreamingQueryException — it must still exit 1 through the logging
    pipeline, never escape as a raw traceback (reference
    handle_daemon_loop_exceptions' unlisted-exception branch)."""
    from scicat_ingestor_spark.streaming.resilience import await_with_restarts

    class _BrokenQuery:
        def awaitTermination(self):
            raise RuntimeError("py4j gateway dropped")

        def stop(self):
            pass

    log = _ListLogger()
    rc = await_with_restarts(lambda: _BrokenQuery(), log)
    assert rc == 1
    assert any("unexpected daemon failure" in m for _, m in log.events)


def test_incremental_batch_restores_index_backup_before_fallback(
    spark, sf_dir, tmp_path
):
    """Crash-during-compaction recovery (review finding r6): with the
    index present only at .bak (a compaction died between its two swap
    renames), the next micro-batch must RESTORE the backup and probe
    against it — not take the empty-corpus fallback and admit the
    whole increment unprobed."""
    import os

    from scicat_ingestor_spark.operators import dedup
    from scicat_ingestor_spark.streaming import incremental

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    base = docs.filter(F.col("doc_id") % 5 != 0)
    inc = docs.filter(F.col("doc_id") % 5 == 0).limit(40)
    index_path = str(tmp_path / "idx")
    dedup.build_lsh_index(base, "text", "doc_id").write.parquet(index_path)
    want = {
        r.doc_id
        for r in dedup.incremental_dedup(
            inc, spark.read.parquet(index_path), "text", "doc_id"
        ).collect()
    }
    assert want < {r.doc_id for r in inc.collect()}  # some rejects exist

    os.rename(index_path, index_path + ".bak")  # simulate the crash gap
    incremental.dedup_batch_against_index(
        inc, index_path, str(tmp_path / "adm"), "text", "doc_id"
    )
    got = {r.doc_id for r in spark.read.parquet(str(tmp_path / "adm")).collect()}
    assert got == want  # probed against the RESTORED index
    assert os.path.isdir(index_path)


def test_check_oracle_cli_rejects_false_green_invocations():
    """The round gate must never pass while checking nothing (review
    finding r6): unknown query names and positional-plus---sf
    ambiguity exit nonzero before any Spark work."""
    import subprocess
    import sys as _sys

    def run(*args):
        return subprocess.run(
            [_sys.executable, "tools/check_oracle.py", *args],
            capture_output=True,
            text=True,
            cwd="/root/repo",
            timeout=300,
        )

    r = run("/root/testdata/sf0.001", "no_such_query_xyz")
    assert r.returncode != 0 and "unknown query" in (r.stdout + r.stderr)
    r = run("/root/testdata/sf0.001", "--sf", "0.01")
    assert r.returncode != 0 and "not both" in (r.stdout + r.stderr)
    r = run("--chunk")
    assert r.returncode != 0


def test_guarded_batch_cli_exit_codes():
    """Reference handle_exceptions parity for batch CLIs: exceptions
    log the traceback and exit 1, clean completion exits 0."""
    from scicat_ingestor_spark.streaming.resilience import guarded

    log = _ListLogger()
    assert guarded(lambda: None, log) == 0

    def boom():
        raise RuntimeError("ingest failed")

    assert guarded(boom, log) == 1
    assert any("ingestor failed" in m for _, m in log.events)


def test_streaming_ann_index_matches_batch_and_replays_safely(
    spark, sf_dir, tmp_path
):
    """Streaming IVFADC index maintenance (streaming/ann_index.py):
    after a 3-batch drain the stored index is row-identical to
    build_pq_index over the whole input, a replay (same checkpoint AND
    fresh checkpoint) appends nothing, and ivf_pq_probe over the
    streamed index equals the probe over the batch-built index."""
    from scicat_ingestor_spark.operators import similarity
    from scicat_ingestor_spark.streaming import ann_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    consts_path = str(tmp_path / "ann_constants.json")
    # trained constants frozen at index birth — the production model
    cents = similarity.train_centroids(emb, 64, k=8, iterations=2, quantize_bits=24)
    books = similarity.train_pq_codebooks(
        emb, dim=64, m=8, ksub=16, iterations=2, quantize_bits=24
    )
    ann_index.save_ann_constants(
        consts_path, dim=64, m=8, ksub=16, cells=8, centroids=cents, books=books
    )
    loaded = ann_index.load_ann_constants(consts_path)
    assert loaded["centroids"] == cents and loaded["books"] == books  # exact

    src = str(tmp_path / "vec_src")
    emb.repartition(3).write.parquet(src)
    index_path = str(tmp_path / "pq_index")
    ck = str(tmp_path / "ck")

    def drain(checkpoint):
        q = ann_index.run_ann_index_stream(
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            index_path,
            consts_path,
            checkpoint,
        )
        q.awaitTermination(180)

    drain(ck)
    streamed = spark.read.parquet(index_path)
    want = similarity.build_pq_index(
        emb, 64, m=8, ksub=16, cells=8, centroids=cents, books=books
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, want.collect())
    )

    n = streamed.count()
    drain(ck)  # drained checkpoint: no new batches
    assert spark.read.parquet(index_path).count() == n
    drain(str(tmp_path / "ck2"))  # fresh checkpoint: anti-join absorbs all
    assert spark.read.parquet(index_path).count() == n

    # serving equality over the streamed index
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.ivf_pq_probe(
        spark.read.parquet(index_path), queries, 64,
        m=8, ksub=16, cells=8, centroids=cents, books=books, nprobe=2,
    )
    ref = similarity.ivf_pq_probe(
        want, queries, 64,
        m=8, ksub=16, cells=8, centroids=cents, books=books, nprobe=2,
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))

    # missing/corrupt constants fail loudly, never encode with defaults
    import pytest

    bad = tmp_path / "bad.json"
    bad.write_text('{"dim": 64}')
    with pytest.raises(ValueError, match="missing"):
        ann_index.load_ann_constants(str(bad))


def test_funnel_update_rule_property():
    """The order-insensitivity proof behind funnel_stage_times, pinned
    as a property: for random per-user event sets, random arrival
    orders, and random micro-batch splits, the converged state equals
    the batch sequential-funnel semantics (t_view = min view;
    t_click = min click >= t_view; t_purchase = min purchase >=
    t_click). Pure-Python replica of the state machine — no Spark, so
    hypothesis can afford thousands of cases."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    def batch_semantics(events):
        views = [t for k, t in events if k == "view"]
        v = min(views) if views else None
        clicks = [t for k, t in events if k == "click" and v is not None and t >= v]
        c = min(clicks) if clicks else None
        purch = [t for k, t in events if k == "purchase" and c is not None and t >= c]
        p = min(purch) if purch else None
        return v, c, p

    def stream_semantics(batches):
        v = c = p = None
        pend_c, pend_p = [], []
        for batch in batches:
            for kind, ts in batch:
                if kind == "view":
                    v = ts if v is None else min(v, ts)
                elif kind == "click":
                    pend_c.append(ts)
                else:
                    pend_p.append(ts)
            if v is not None and pend_c:
                qual = [x for x in pend_c if x >= v]
                if qual:
                    c = min(qual) if c is None else min(c, min(qual))
                pend_c = [x for x in pend_c if x < v and (c is None or x < c)]
            if c is not None and pend_p:
                qual = [x for x in pend_p if x >= c]
                if qual:
                    p = min(qual) if p is None else min(p, min(qual))
                pend_p = [x for x in pend_p if x < c and (p is None or x < p)]
        return v, c, p

    events_st = st.lists(
        st.tuples(
            st.sampled_from(["view", "click", "purchase"]),
            st.integers(0, 30),
        ),
        max_size=12,
    )

    @settings(max_examples=2000, deadline=None)
    @given(events_st, st.data())
    def check(events, data):
        order = data.draw(st.permutations(events))
        cuts = sorted(
            data.draw(
                st.lists(st.integers(0, len(order)), max_size=3)
            )
        )
        batches, prev = [], 0
        for cut in cuts + [len(order)]:
            batches.append(order[prev:cut])
            prev = cut
        assert stream_semantics(batches) == batch_semantics(events)

    check()


def test_streaming_knn_maintenance_matches_batch_and_replays_safely(
    spark, sf_dir, tmp_path
):
    """Streaming self-kNN maintenance (r8, streaming/ann_index.knn_batch):
    a single-batch drain emits exactly knn_join over the same corpus
    and constants; an incremental drain computes each increment's
    neighbors against the corpus AS OF ARRIVAL (first batch sees only
    itself; second batch sees both); replays with drained and fresh
    checkpoints append nothing to either sink."""
    from scicat_ingestor_spark.operators import similarity
    from scicat_ingestor_spark.streaming import ann_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    consts_path = str(tmp_path / "consts.json")
    ann_index.save_ann_constants(consts_path, dim=64, m=8, ksub=16, cells=8)

    # --- single-batch drain == batch knn_join -------------------------
    src1 = str(tmp_path / "src_one")
    emb.coalesce(1).write.parquet(src1)
    idx1 = str(tmp_path / "idx_one")
    nb1 = str(tmp_path / "nb_one")
    q = ann_index.run_knn_index_stream(
        spark.readStream.schema(emb.schema).parquet(src1),
        idx1, nb1, consts_path, str(tmp_path / "ck_one"), k=3,
    )
    q.awaitTermination(180)
    got = sorted(map(tuple, spark.read.parquet(nb1).collect()))
    want = sorted(
        map(tuple, similarity.knn_join(emb, dim=64, k=3, cells=8).collect())
    )
    assert got == want

    # --- incremental drain: arrival-time corpus -----------------------
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)
    src = str(tmp_path / "src_inc")
    idx = str(tmp_path / "idx_inc")
    nb = str(tmp_path / "nb_inc")
    ck = str(tmp_path / "ck_inc")
    first.coalesce(1).write.mode("append").parquet(src)

    def drain(checkpoint=ck):
        q = ann_index.run_knn_index_stream(
            spark.readStream.schema(emb.schema).parquet(src),
            idx, nb, consts_path, checkpoint, k=3,
        )
        q.awaitTermination(180)

    drain()
    # first batch's neighbors come from the first batch alone
    want_first = sorted(
        map(tuple, similarity.knn_join(first, dim=64, k=3, cells=8).collect())
    )
    assert sorted(map(tuple, spark.read.parquet(nb).collect())) == want_first

    second.coalesce(1).write.mode("append").parquet(src)
    drain()
    rows = spark.read.parquet(nb).collect()
    nb_first = {tuple(r) for r in rows if r["vec_id"] % 2 == 0}
    nb_second = [r for r in rows if r["vec_id"] % 2 == 1]
    # first-batch rows are IMMUTABLE (their arrival-time corpus did not
    # include the second batch)
    assert nb_first == set(map(tuple, want_first))
    # second-batch vectors see the full corpus: exact equality with the
    # batch join over first ∪ second, restricted to second's ids
    want_all = similarity.knn_join(emb, dim=64, k=3, cells=8)
    want_second = {
        tuple(r) for r in want_all.collect() if r["vec_id"] % 2 == 1
    }
    assert {tuple(r) for r in nb_second} == want_second
    # ...and cross-batch neighbors actually occur
    assert any(r["neighbor_id"] % 2 == 0 for r in nb_second)

    # --- replay safety -------------------------------------------------
    n_nb = spark.read.parquet(nb).count()
    n_idx = spark.read.parquet(idx).count()
    assert n_idx == emb.count()
    drain()  # drained checkpoint
    drain(str(tmp_path / "ck_fresh"))  # fresh checkpoint: full replay
    assert spark.read.parquet(nb).count() == n_nb
    assert spark.read.parquet(idx).count() == n_idx


def test_streaming_media_decode_matches_batch(spark, tmp_path):
    """The real content decoders are stateless Arrow-batched stages, so
    they compose with Structured Streaming unchanged: a mixed-format
    binary stream (BMP / row-major PNG / Adam7 PNG / palette PNG /
    progressive JPEG) decoded per micro-batch must equal the batch
    decode row for row, and a replay from a fresh checkpoint must not
    duplicate rows (idempotent_append on media_id)."""
    from scicat_ingestor_spark.operators import jpegc, multimodal
    from scicat_ingestor_spark.streaming.pipeline import (
        idempotent_append,
        run_ingest_stream,
    )

    def payload(i: int) -> bytes:
        w, h = (i % 13) + 1, (i % 7) + 1
        if i % 5 == 4:
            return jpegc.make_jpeg_progressive(
                8 * (i % 3 + 1), 8, lambda ci, bx, by: (bx * 29 + i) % 256,
                successive=True,
            )
        return (
            multimodal.make_bmp(w, h),
            multimodal.make_png_filtered(w, h),
            multimodal.make_png_filtered(w, h, interlace=1),
            multimodal.make_png_filtered(w, h, 3, depth=4),
        )[i % 4]

    rows = [(i, payload(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    expected = {
        tuple(r) for r in multimodal.decode_pixels(df).collect()
    }

    src = str(tmp_path / "media_src")
    for lo in (0, 13, 27):
        hi = {0: 13, 13: 27, 27: 40}[lo]
        spark.createDataFrame(
            rows[lo:hi], "media_id long, payload binary"
        ).coalesce(1).write.mode("append").parquet(src)

    target = str(tmp_path / "decoded")

    def sink(batch, batch_id):
        idempotent_append(batch, target, "media_id")

    def run(ckpt: str):
        stream = (
            spark.readStream.schema("media_id long, payload binary")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = run_ingest_stream(
            stream, multimodal.decode_pixels, sink, ckpt, trigger_once=True
        )
        q.awaitTermination(180)

    run(str(tmp_path / "ck1"))
    got = {tuple(r) for r in spark.read.parquet(target).collect()}
    assert got == expected
    # replay from a fresh checkpoint: at-least-once delivery, but the
    # anti-join-guarded append keeps the sink exactly-once
    run(str(tmp_path / "ck2"))
    again = spark.read.parquet(target)
    assert again.count() == len(expected)


def test_streaming_mp4_frame_sampling_matches_batch(spark, tmp_path):
    """Container demux emits MULTIPLE rows per input (a flatMap shape):
    per-micro-batch frame sampling over an MP4 stream must equal the
    batch operator exactly, including the exploded row multiplicity."""
    from scicat_ingestor_spark.operators import mp4
    from scicat_ingestor_spark.streaming.pipeline import (
        idempotent_append,
        run_ingest_stream,
    )

    rows = [(i, mp4.make_mp4(i)) for i in range(24)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    expected = {
        tuple(r) for r in mp4.sample_frames(df, every_n=2).collect()
    }

    src = str(tmp_path / "mp4_src")
    for lo, hi in ((0, 8), (8, 16), (16, 24)):
        spark.createDataFrame(
            rows[lo:hi], "media_id long, payload binary"
        ).coalesce(1).write.mode("append").parquet(src)

    target = str(tmp_path / "frames")

    def transform(batch):
        from pyspark.sql import functions as F2

        return mp4.sample_frames(batch, every_n=2).withColumn(
            "k", F2.concat_ws(":", "media_id", "frame_idx")
        )

    def sink(batch, batch_id):
        idempotent_append(batch, target, "k")

    stream = (
        spark.readStream.schema("media_id long, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_ingest_stream(
        stream, transform, sink, str(tmp_path / "ck"), trigger_once=True
    )
    q.awaitTermination(180)
    got = {
        tuple(r) for r in spark.read.parquet(target).drop("k").collect()
    }
    assert got == expected


def test_streaming_image_dedup_loop(spark, tmp_path):
    """The image hash-probe-admit-index loop (streaming/image_dedup.py):
    micro-batches of images against a seeded dHash band index.
    Invariants: (a) no admitted image within the Hamming threshold of
    the base corpus, (b) admitted images pairwise above it (each batch
    probed the index its predecessors updated; in-batch lower-id rule),
    (c) every incoming image is covered — within threshold of base or
    an admitted image, or admitted itself, (d) replay admits nothing
    twice."""
    from scicat_ingestor_spark.operators import multimodal
    from scicat_ingestor_spark.operators.dedup import (
        hamming_signature_bands,
    )
    from scicat_ingestor_spark.streaming import image_dedup

    def img(i: int) -> bytes:
        g = i % 13
        return multimodal.make_bmp((g % 4) + 13, (g // 4) + 13)

    def media_df(ids):
        return spark.createDataFrame(
            [(i, img(i)) for i in ids], "media_id long, payload binary"
        )

    base = media_df(range(7))           # groups 0..6
    inc_ids = list(range(7, 26))        # groups 7..12 + repeats of all
    inc = media_df(inc_ids)

    index_path = str(tmp_path / "img_index")
    admitted_path = str(tmp_path / "img_admitted")
    src = str(tmp_path / "img_src")
    ck = str(tmp_path / "img_ck")
    sig_of = lambda df: multimodal.perceptual_hash(df).select(  # noqa: E731
        F.col("media_id").alias("id"), F.col("dhash").alias("sig")
    )
    hamming_signature_bands(sig_of(base)).select(
        "band", "bkey", "h1", "h2"
    ).write.parquet(index_path)
    inc.repartition(3).write.parquet(src)

    def drain():
        q = image_dedup.run_image_dedup_stream(
            spark.readStream.schema(inc.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            index_path,
            admitted_path,
            ck,
        )
        q.awaitTermination(180)

    drain()
    admitted = spark.read.parquet(admitted_path)
    got = {r.media_id: r.dhash for r in admitted.collect()}
    assert got and set(got) <= set(inc_ids)

    ham = lambda a, b: sum(x != y for x, y in zip(a, b))  # noqa: E731
    base_hashes = [r.sig for r in sig_of(base).collect()]
    inc_hashes = {r.id: r.sig for r in sig_of(inc).collect()}
    for i, h in got.items():
        assert h == inc_hashes[i]
        assert all(ham(h, b) > 3 for b in base_hashes)  # (a)
    alist = sorted(got)
    for x in range(len(alist)):  # (b)
        for y in range(x + 1, len(alist)):
            assert ham(got[alist[x]], got[alist[y]]) > 3
    kept = base_hashes + list(got.values())
    for i, h in inc_hashes.items():  # (c) coverage
        assert i in got or any(ham(h, k) <= 3 for k in kept)

    # (d) replay: drained checkpoint, then a fresh one — no growth
    drain()
    assert spark.read.parquet(admitted_path).count() == len(got)
    import shutil

    shutil.rmtree(ck)
    drain()
    assert spark.read.parquet(admitted_path).count() == len(got)

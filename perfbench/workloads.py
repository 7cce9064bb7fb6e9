"""The three workloads: set-up, one measured round, and the output check.

Each workload calls the apps' and layers' public functions in-process on
inputs generated from the seed. A round is the unit a run repeats whole:
one offline pass, one online drain, one corpus pass. Rounds run until
their summed time reaches ``--seconds``; the checks between rounds are
not timed, and the status-store figures count only jobs submitted
inside a round.
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil
import statistics
import sys
import threading
import time

import gen
import tracing as tr

OFFLINE_FILES = 800
OFFLINE_CATALOGUED = 0.1  # share of files marked as already catalogued
WARMUP_SHARE = 0.25  # offline and corpus warm up on this share of the inputs

ONLINE_BATCHES = 3  # micro-batches per drain: one replay file each
ONLINE_MESSAGES = 26  # wrdn rows per micro-batch
ONLINE_SEEDED = 0.5  # share of the replay's files already in the target
ONLINE_EARLIER = 100  # target rows of files the replay never names

CORPUS_DOCS = 800
CORPUS_PARTS = 4  # parquet part files, as a corpus written by a cluster job would be
JACCARD_THRESHOLD = 0.5
SHINGLE_N = 2  # near-duplicate shingles; decontamination uses 4-grams
CAPACITY = 512  # token budget of one packed bin (prep_corpus default)
EVAL_SHINGLE_N = 4
READ_SAMPLE = 200  # files timed through hdf5.read_rows


class Context:
    """What every workload gets: the session, the seed's generator, the
    run's work directory and the tracer."""

    def __init__(self, spark, seed: int, work: str, tracer: tr.Tracer):
        self.spark = spark
        self.rng = random.Random(seed)
        self.work = work
        self.tracer = tracer
        self.layer: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _write_parquet(path: str, columns: dict, mtime: float | None = None) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(columns), path)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def _read_rows(path: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist() if os.path.exists(path) else []


def _write_schemas(ctx: Context, files_dir: str) -> str:
    sdir = ctx.path("schemas")
    os.makedirs(sdir, exist_ok=True)
    for s in gen.schemas(files_dir):
        with open(os.path.join(sdir, f"{s['name']}.imsc.json"), "w") as fh:
            json.dump(s, fh)
    return sdir


def _nexus_inputs(ctx: Context, n_files: int):
    """Files, catalogue snapshot and schemas; every file is read back
    through ``hdf5.read_rows`` and compared with what was written."""
    from scicat_ingestor_spark.sources import hdf5

    catalogue = gen.proposals(ctx.rng)
    files_dir = ctx.path("files")
    files = gen.nexus_files(files_dir, ctx.rng, n_files, catalogue)
    for f in files:
        rows = tuple(sorted(hdf5.read_rows(f.path)))
        if rows != f.datasets:
            raise RuntimeError(f"HDF5 round trip failed for {f.path}: read {rows}, wrote {f.datasets}")
    snap_dir = ctx.path("snapshots")
    os.makedirs(snap_dir, exist_ok=True)
    _write_parquet(
        os.path.join(snap_dir, "proposals.parquet"),
        {"proposalId": list(catalogue), "pi_lastname": list(catalogue.values())},
    )
    return catalogue, files, _write_schemas(ctx, files_dir), snap_dir


def _time_reads(ctx: Context, files: list) -> None:
    from scicat_ingestor_spark.sources import hdf5

    sample = files[:READ_SAMPLE]
    t0 = time.perf_counter()
    for f in sample:
        hdf5.read_rows(f.path)
    ctx.layer["sources.hdf5lite.read_ms_per_file"] = (time.perf_counter() - t0) * 1e3 / len(sample)


# -------------------------------------------------------------- offline_backfill


class OfflineBackfill:
    """Generated NeXus files -> ``apps.offline.ingest_files`` -> parquet.
    The warm-up ingests the first quarter of the files."""

    def __init__(self, ctx: Context):
        from scicat_ingestor_spark.plans.schema_model import collect_schemas

        self.ctx = ctx
        catalogue, files, schema_dir, snap_dir = _nexus_inputs(ctx, OFFLINE_FILES)
        catalogued = set(ctx.rng.sample(range(len(files)), int(len(files) * OFFLINE_CATALOGUED)))
        self.paths = [f.path for f in files]
        self.schemas = collect_schemas(schema_dir)
        spark = ctx.spark
        self.snapshots = {"proposals": spark.read.parquet(os.path.join(snap_dir, "proposals.parquet"))}
        self.existing = spark.createDataFrame([(files[i].pid,) for i in sorted(catalogued)], "pid string")
        self.expected = {
            f.pid: gen.expected_row(f, catalogue) for i, f in enumerate(files) if i not in catalogued
        }
        self.items = len(files)
        self.warm = int(len(files) * WARMUP_SHARE)
        self.expected_warm = {
            f.pid: self.expected[f.pid] for f in files[: self.warm] if f.pid in self.expected
        }
        self.out = ctx.path("out")
        _time_reads(ctx, files)

    def _ingest(self, paths: list[str]) -> None:
        from scicat_ingestor_spark.apps import offline

        with self.ctx.tracer.span("apps.offline.ingest_files"):
            out = offline.ingest_files(
                self.ctx.spark, paths, self.schemas,
                existing_pids=self.existing, snapshots=self.snapshots,
            )
        with self.ctx.tracer.span("sink.parquet_write"):
            out.write.mode("overwrite").parquet(self.out)

    def _check(self, expected: dict) -> tuple[int, list[str]]:
        faults = gen.check_ingest_rows(_read_rows(self.out), expected)
        return len({path for path, _ in faults}), [msg for _, msg in faults]

    def round(self) -> None:
        self._ingest(self.paths)

    def check(self) -> tuple[int, list[str]]:
        return self._check(self.expected)

    def warmup(self) -> tuple[int, int, list[str]]:
        self._ingest(self.paths[: self.warm])
        return (self.warm, *self._check(self.expected_warm))

    def trace_targets(self):
        from scicat_ingestor_spark.apps import offline
        from scicat_ingestor_spark.sources import hdf5

        return [
            (offline, "compile_schema", "plans.compile_schema"),
            (offline, "with_selected_schema", "operators.selectors.with_selected_schema"),
            (offline, "anti_by_key", "operators.joins.anti_by_key"),
            (hdf5, "scan_files_wide", "sources.hdf5.scan_files_wide"),
        ]

    def files_per_round(self) -> int:
        return len(self.paths)


# ----------------------------------------------------------------- online_replay


class _Progress:
    """Collects one drain's progress reports from the listener bus."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                if "addBatch" in p["durationMs"]:
                    outer.reports.append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer.done.set()

        self.reports: list[dict] = []
        self.done = threading.Event()
        self.listener = Listener()


class OnlineReplay:
    """The online daemon, ``apps.online.main --once``, draining a replay
    directory one wrdn file per micro-batch into a pre-seeded target.

    The warm-up drain builds that target from the seeded files'
    messages. Every round drains from a fresh checkpoint, so for the
    seeded files, half of those the replay names, it is a second drain
    that must add no rows."""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        rng = ctx.rng
        n = ONLINE_BATCHES * ONLINE_MESSAGES
        catalogue, files, self.schema_dir, self.snap_dir = _nexus_inputs(
            ctx, n + ONLINE_BATCHES + ONLINE_EARLIER
        )
        fresh = files[:n]
        errored = files[n : n + ONLINE_BATCHES]  # named only by writer-error rows
        earlier = files[n + ONLINE_BATCHES :]  # in the target, never in the replay
        batches: list[list[tuple[str, bool]]] = []
        delivered: list = []
        pos = 0
        for b in range(ONLINE_BATCHES):
            msgs = [(errored[b].path, True)]
            if delivered:  # a redelivery of a file an earlier batch carried
                msgs.append((rng.choice(delivered).path, False))
            take = ONLINE_MESSAGES - len(msgs)
            batch_files = fresh[pos : pos + take]
            pos += take
            msgs += [(f.path, False) for f in batch_files]
            rng.shuffle(msgs)
            batches.append(msgs)
            delivered += batch_files
        self.messages = batches
        self.items = sum(len(b) for b in batches)
        self.batch_files = sum(len({p for p, err in b if not err}) for b in batches)
        seeded = earlier + rng.sample(delivered, int(len(delivered) * ONLINE_SEEDED))
        self.expected = {f.pid: gen.expected_row(f, catalogue) for f in earlier + delivered}
        self.expected_seed = {f.pid: self.expected[f.pid] for f in seeded}
        self.replay = self._write_replay("replay", batches)
        self.seed_messages = [[(f.path, False) for f in seeded]]
        self.replay_seed = self._write_replay("replay_seed", self.seed_messages)
        self.seed_target = ctx.path("target_seed")
        self.out = ctx.path("out")
        self.reports: list[dict] = []
        self.drains = 0
        _time_reads(ctx, files)

    def _write_replay(self, name: str, batches) -> str:
        d = self.ctx.path(name)
        os.makedirs(d)
        for b, msgs in enumerate(batches):
            _write_parquet(
                os.path.join(d, f"wrdn-{b:04d}.parquet"),
                {
                    "job_id": [f"job-{b}-{i}" for i in range(len(msgs))],
                    "file_name": [p for p, _ in msgs],
                    "error_encountered": [err for _, err in msgs],
                },
                mtime=1_700_000_000 + b,  # the file source orders by mtime
            )
        return d

    def _drain(self, replay: str, files_per_trigger: int, fresh_target: bool) -> list[dict]:
        from scicat_ingestor_spark.apps import online

        spark = self.ctx.spark
        self.drains += 1
        ck = self.ctx.path(f"checkpoint-{self.drains}")
        if fresh_target:
            shutil.rmtree(self.out, ignore_errors=True)
            if os.path.exists(self.seed_target):
                shutil.copytree(self.seed_target, self.out)
        progress = _Progress()
        spark.streams.addListener(progress.listener)
        try:
            rc = online.main([
                "--schemas-dir", self.schema_dir, "--out", self.out, "--checkpoint", ck,
                "--source-dir", replay, "--once",
                "--set", f"ingestion.max_files_per_trigger={files_per_trigger}",
                "--set", f"scicat.dimension_snapshot_dir={self.snap_dir}",
            ])
            if rc != 0:
                raise RuntimeError(f"online drain exited with {rc}")
            if not progress.done.wait(60):
                raise RuntimeError("no termination event from the drained query")
        finally:
            # main registers a health listener per call; drop them all so
            # every drain dispatches to the same listener set
            jsqm = spark.streams._jsqm
            for jl in list(jsqm.listListeners()):
                jsqm.removeListener(jl)
        return progress.reports

    def warmup(self) -> tuple[int, int, list[str]]:
        """The daemon itself builds the pre-seeded target: it drains the
        seeded files' messages into an empty target."""
        self._drain(self.replay_seed, 1, fresh_target=True)
        faults = gen.check_ingest_rows(_read_rows(self.out), self.expected_seed)
        shutil.copytree(self.out, self.seed_target)
        return sum(map(len, self.seed_messages)), _failed_messages(faults, self.seed_messages), [m for _, m in faults]

    def round(self) -> None:
        reports = self._drain(self.replay, 1, fresh_target=True)
        if len(reports) != ONLINE_BATCHES:
            raise RuntimeError(f"{len(reports)} micro-batches, expected {ONLINE_BATCHES}")
        self.reports += reports
        self.target_files = len([f for f in os.listdir(self.out) if f.endswith(".parquet")])

    def check(self) -> tuple[int, list[str]]:
        faults = gen.check_ingest_rows(_read_rows(self.out), self.expected)
        return _failed_messages(faults, self.messages), [msg for _, msg in faults]

    def trace_targets(self):
        from scicat_ingestor_spark.apps import offline, online
        from scicat_ingestor_spark.sources import hdf5

        return [
            (online, "run_ingest_stream", "streaming.pipeline.run_ingest_stream"),
            (online, "idempotent_append", "streaming.pipeline.idempotent_append"),
            (offline, "ingest_files", "apps.offline.ingest_files"),
            (offline, "compile_schema", "plans.compile_schema"),
            (offline, "anti_by_key", "operators.joins.anti_by_key"),
            (hdf5, "scan_files_wide", "sources.hdf5.scan_files_wide"),
        ]

    def files_per_round(self) -> int:
        return self.batch_files


def _failed_messages(faults: list[tuple[str, str]], batches) -> int:
    """Messages whose file has a fault."""
    faulty = {path for path, _ in faults}
    return sum(1 for b in batches for p, _ in b if p in faulty)


# ------------------------------------------------------------------- corpus_prep


class CorpusPrep:
    """``apps.corpus.prep_corpus`` hygiene stages, then MinHash-LSH
    candidates -> exact Jaccard verify -> ``dedup_clusters`` -> anti-join
    of non-canonical members, then the pack stage. The warm-up prepares
    the first quarter of the documents."""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.corpus = gen.corpus(ctx.rng, CORPUS_DOCS)
        for name, rows in (("docs", self.corpus.docs), ("eval", self.corpus.eval_docs)):
            os.makedirs(ctx.path(name))
            for part in range(CORPUS_PARTS):
                chunk = rows[part::CORPUS_PARTS]
                cols = {k: [r[i] for r in chunk] for i, k in enumerate(("doc_id", "source", "text"))}
                _write_parquet(ctx.path(name, f"part-{part:05d}.parquet"), cols)
        spark = ctx.spark
        self.docs = spark.read.parquet(ctx.path("docs"))
        self.eval_docs = spark.read.parquet(ctx.path("eval"))
        self.items = len(self.corpus.docs)
        self.result: dict = {}

    def round(self) -> None:
        self._prep(self.docs)

    def _prep(self, docs) -> None:
        from pyspark.sql import functions as F

        from scicat_ingestor_spark.apps.corpus import FULL_STAGES, prep_corpus
        from scicat_ingestor_spark.operators import dedup

        span = self.ctx.tracer.span
        hygiene_stages = tuple(s for s in FULL_STAGES if s != "pack")
        with span("apps.corpus.hygiene"):
            with span("apps.corpus.prep_corpus"):
                hygiene = prep_corpus(docs, stages=hygiene_stages, eval_docs=self.eval_docs)
            hygiene = hygiene.localCheckpoint()
        with span("operators.dedup.neardup"):
            with span("operators.dedup.minhash_lsh_pairs"):
                candidates = dedup.minhash_lsh_pairs(hygiene, "text", "doc_id", shingle_n=SHINGLE_N)
            with span("operators.dedup.jaccard_verify"):
                sh = hygiene.select("doc_id", dedup.word_shingles(F.col("text"), SHINGLE_N).alias("sh"))
                verified = (
                    candidates.join(sh.toDF("id_a", "sh_a"), "id_a")
                    .join(sh.toDF("id_b", "sh_b"), "id_b")
                    .filter(dedup.jaccard_similarity(F.col("sh_a"), F.col("sh_b")) >= JACCARD_THRESHOLD)
                    .select("id_a", "id_b")
                    .localCheckpoint()
                )
            with span("operators.dedup.dedup_clusters"):
                clusters = dedup.dedup_clusters(verified)
            losers = clusters.filter(F.col("id") != F.col("cluster_id")).select(F.col("id").alias("doc_id"))
            kept = hygiene.join(losers, "doc_id", "left_anti")
        with span("apps.corpus.pack"):
            packed = prep_corpus(kept, stages=("pack",), eval_docs=self.eval_docs).collect()
        self.result = {
            "hygiene": hygiene, "candidates": candidates, "verified": verified,
            "clusters": clusters, "packed": packed,
        }

    def check(self) -> tuple[int, list[str]]:
        r = self.result
        texts = {row.doc_id: row.text for row in r["hygiene"].collect()}
        edges = [(row.id_a, row.id_b) for row in r["verified"].collect()]
        labels = {row.id: row.cluster_id for row in r["clusters"].collect()}
        packed = sorted(r["packed"], key=lambda row: (row.source, row.doc_id))
        survivors = {row.doc_id for row in packed}
        faults: list[tuple[int, str]] = []  # (doc_id, what)

        eval_grams = set()
        for _, _, text in self.corpus.eval_docs:
            eval_grams |= gen.shingles(text, EVAL_SHINGLE_N)
        seen_lines: dict[str, int] = {}
        seen_text: dict[str, int] = {}
        for d in sorted(survivors):
            text = texts.get(d)
            if text is None:
                faults.append((d, "survivor is not a hygiene survivor"))
                continue
            faults += [(d, f"planted e-mail {e} survived") for e in self.corpus.emails if e in text]
            if gen.shingles(text, EVAL_SHINGLE_N) & eval_grams:
                faults.append((d, "shares a 4-word shingle with the eval split"))
            for line in text.split("\n"):
                line = line.strip(" ")
                if line and seen_lines.setdefault(line, d) != d:
                    faults.append((d, f"line repeats doc {seen_lines[line]}"))
            if seen_text.setdefault(text, d) != d:
                faults.append((d, f"same text as doc {seen_text[text]}"))

        sh = {d: gen.shingles(t, SHINGLE_N) for d, t in texts.items()}
        for a, b in edges:
            if a not in sh or b not in sh or gen.jaccard(sh[a], sh[b]) < JACCARD_THRESHOLD:
                faults.append((b, f"verified edge ({a}, {b}) below the Jaccard threshold"))
        truth = gen.components(edges)
        for d, root in truth.items():
            if labels.get(d) != root:
                faults.append((d, f"cluster {labels.get(d)}, want {root}"))
            if (d in survivors) != (d == root):
                faults.append((d, "kept a non-canonical member" if d in survivors else "dropped a cluster minimum"))
        if survivors != set(texts) - {d for d, root in truth.items() if d != root}:
            faults.append((-1, "survivors differ from hygiene survivors minus non-canonical members"))

        offsets: dict[str, int] = {}
        for row in packed:
            n_tokens = len(re.split(r"\s+", texts.get(row.doc_id, "").strip(" ")))
            start = offsets.get(row.source, 0)
            if (row.n_tokens, row.start_off, row.bin_id) != (n_tokens, start, start // CAPACITY):
                faults.append((row.doc_id, f"packed as {row.n_tokens}/{row.start_off}/{row.bin_id}"))
            offsets[row.source] = start + n_tokens

        self.ctx.layer["operators.dedup.planted_recall"] = sum(
            1 for a, b in self.corpus.near_dup_pairs
            if a in texts and b in texts and truth.get(a, a) == truth.get(b, b)
        )
        return len({d for d, _ in faults}), [f"doc {d}: {what}" for d, what in faults]

    def warmup(self) -> tuple[int, int, list[str]]:
        from pyspark.sql import functions as F

        warm = int(self.items * WARMUP_SHARE)
        self._prep(self.docs.filter(F.col("doc_id") < warm))
        return (warm, *self.check())

    def trace_targets(self):
        return []

    def files_per_round(self) -> int:
        return 0


WORKLOADS = {
    "offline_backfill": OfflineBackfill,
    "online_replay": OnlineReplay,
    "corpus_prep": CorpusPrep,
}


# ---------------------------------------------------------------------- running


def run(name: str, seed: int, seconds: float, trace: bool, work: str, start_session) -> dict:
    t_setup = time.perf_counter()
    spark = start_session()
    start_s = time.perf_counter() - t_setup
    tracer = tr.Tracer(trace)
    ctx = Context(spark, seed, work, tracer)
    t_inputs = time.perf_counter()
    w = WORKLOADS[name](ctx)
    t_warm = time.perf_counter()
    attempted, failed, faults = w.warmup()
    warmup_s = time.perf_counter() - t_warm
    setup_s = time.perf_counter() - t_setup
    _log(f"setup {setup_s:.2f}s: session {start_s:.2f}s, inputs {t_warm - t_inputs:.2f}s, warm-up {warmup_s:.2f}s")

    with tr.patched(tracer, w.trace_targets() if trace else []):
        rounds: list[float] = []
        windows: list[tuple[float, float]] = []  # epoch start and end of each round
        while sum(rounds) < seconds:
            with tracer.root_span(f"round.{name}"):
                start = time.time()
                t0 = time.perf_counter()
                w.round()
                rounds.append(time.perf_counter() - t0)
                windows.append((start, time.time()))
            _log(f"round {len(rounds)}: {rounds[-1]:.2f}s")
            n_failed, round_faults = w.check()
            attempted += w.items
            failed += n_failed
            faults += round_faults

    items_per_s = w.items * len(rounds) / sum(rounds)
    if name == "online_replay":  # per micro-batch, from the stream's own progress
        latency = statistics.median(p["durationMs"]["triggerExecution"] / 1e3 for p in w.reports)
    else:
        latency = statistics.median(rounds)
    result = {
        "correct": not faults,
        "attempted": attempted,
        "failed": failed,
        "faults": faults[:20],
        "end_to_end": {
            "setup_s": (setup_s, "s"),
            "items_per_s": (items_per_s, "1/s"),
            "latency_p50_s": (latency, "s"),
        },
        "rounds": rounds,
    }
    if trace:
        ctx.layer["session.start_s"] = start_s
        ctx.layer["session.warmup_s"] = warmup_s
        result["per_layer"] = layer_metrics(ctx, w, rounds, windows)
        result["spans"] = tracer.to_json()
    return result


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def layer_metrics(ctx: Context, w, rounds: list[float], windows: list[tuple[float, float]]) -> dict:
    """Per-layer numbers of the measured rounds, per round unless named
    per batch or per file; 0 where a layer does not run in a workload.
    Spark's figures count only what was submitted inside a round, not
    the output checks between rounds."""
    store = tr.StatusStore(ctx.spark, windows)
    since = windows[0][0]
    n = len(rounds)
    jobs = store.jobs()
    stages = store.stages()
    nodes = store.sql_nodes()
    graphs: dict[int, dict] = {}
    for x in nodes:
        graphs.setdefault(x["exec"], {})[x["id"]] = x
    m = dict.fromkeys(LAYER_METRICS, 0.0)
    m.update(ctx.layer)

    scans = [x for x in nodes if x["name"] == "MapInPandas"]
    scan_rows = sum(tr.rows_out(graphs[x["exec"]], c) for x in scans for c in x["children"])
    if w.files_per_round():
        m["sources.hdf5.scans_per_file"] = scan_rows / (w.files_per_round() * n)

    def metric(node: dict, key: str) -> float:
        return node["metrics"].get(key, 0.0)

    m["sources.hdf5.python_run_s"] = sum(metric(x, "time to run Python workers") for x in scans) / n
    # "time to initialize Python workers" is left out: a reused worker
    # stamps its boot time when it starts waiting for its next task, so
    # that metric counts the idle gap between tasks, not start-up
    m["sources.hdf5.python_start_s"] = sum(metric(x, "time to start Python workers") for x in scans) / n
    m["sources.hdf5.bytes_returned"] = sum(metric(x, "data returned from Python workers") for x in scans) / n

    builds = ctx.tracer.named("apps.offline.ingest_files", since)
    if builds:
        m["plans.build_s"] = statistics.mean(s.seconds for s in builds)

    rejected = 0.0
    for x in nodes:
        if "Join" in x["name"] and "LeftAnti" in x["desc"] and x["children"]:
            rejected += tr.rows_out(graphs[x["exec"]], x["children"][0]) - metric(x, "number of output rows")
    m["operators.joins.rows_rejected"] = rejected / n

    m["executor.run_s"] = sum(s["run_s"] for s in stages) / n
    m["executor.cpu_s"] = sum(s["cpu_s"] for s in stages) / n
    m["executor.gc_s"] = sum(s["gc_s"] for s in stages) / n
    m["executor.jobs"] = len(jobs) / n
    m["executor.stages"] = len(stages) / n
    m["executor.tasks"] = sum(s["tasks"] for s in stages) / n
    m["shuffle.write_bytes"] = sum(s["shuffle_write"] for s in stages) / n
    m["shuffle.read_bytes"] = sum(s["shuffle_read"] for s in stages) / n
    m["shuffle.spill_bytes"] = sum(s["spill"] for s in stages) / n

    reports = getattr(w, "reports", [])
    if reports:
        b = len(reports)
        sinks = ctx.tracer.named("streaming.pipeline.idempotent_append", since)
        m["streaming.batches"] = b
        m["streaming.jobs_per_batch"] = len(jobs) / b
        m["streaming.stages_per_batch"] = len(stages) / b
        m["streaming.shell_s_per_batch"] = sum(
            p["durationMs"]["triggerExecution"] - p["durationMs"]["addBatch"] for p in reports
        ) / 1e3 / b
        m["streaming.sink_s_per_batch"] = sum(s.seconds for s in sinks) / b
        m["streaming.transform_s_per_batch"] = (
            sum(p["durationMs"]["addBatch"] for p in reports) / 1e3 - sum(s.seconds for s in sinks)
        ) / b
        m["streaming.target_files"] = w.target_files

    hygiene = ctx.tracer.named("apps.corpus.hygiene", since)
    if hygiene:
        m["apps.corpus.hygiene_s"] = statistics.mean(s.seconds for s in hygiene)
        m["operators.dedup.neardup_s"] = statistics.mean(
            s.seconds for s in ctx.tracer.named("operators.dedup.neardup", since)
        )
        cc = ctx.tracer.named("operators.dedup.dedup_clusters", since)
        m["operators.dedup.cc_jobs"] = sum(
            1 for j in jobs for s in cc if s.start <= j["submitted"] <= s.end
        ) / n
        # counted after the last round, so these jobs are not in the figures above
        candidates = w.result["candidates"].count()
        verified = w.result["verified"].count()
        m["operators.dedup.candidate_pairs"] = candidates
        m["operators.dedup.verified_pairs"] = verified
        m["operators.dedup.pair_yield"] = verified / candidates if candidates else 0.0

    m["process.peak_rss_mb"] = tr.tree_peak_rss_mb()
    return m


LAYER_METRICS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.hdf5.scans_per_file": "count",
    "sources.hdf5.python_run_s": "s",
    "sources.hdf5.python_start_s": "s",
    "sources.hdf5.bytes_returned": "B",
    "sources.hdf5lite.read_ms_per_file": "ms",
    "plans.build_s": "s",
    "streaming.batches": "count",
    "streaming.jobs_per_batch": "count",
    "streaming.stages_per_batch": "count",
    "streaming.shell_s_per_batch": "s",
    "streaming.transform_s_per_batch": "s",
    "streaming.sink_s_per_batch": "s",
    "streaming.target_files": "count",
    "operators.joins.rows_rejected": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.jobs": "count",
    "executor.stages": "count",
    "executor.tasks": "count",
    "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B",
    "shuffle.spill_bytes": "B",
    "apps.corpus.hygiene_s": "s",
    "operators.dedup.neardup_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.pair_yield": "ratio",
    "operators.dedup.cc_jobs": "count",
    "operators.dedup.planted_recall": "count",
    "process.peak_rss_mb": "MB",
}

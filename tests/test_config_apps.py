"""Config plane (YAML + CLI merge, unused-key reporting) and the three
runnable apps wired end-to-end on local fixtures."""

from __future__ import annotations

import pytest


class TestConfig:
    def test_defaults(self):
        from scicat_ingestor_spark.config import build_config

        cfg, unused = build_config()
        assert cfg.kafka.starting_offsets == "earliest"  # T7
        assert cfg.ingestion.file_handling.open_max_tries == 3  # T6
        assert unused == []

    def test_yaml_then_cli_merge_cli_wins(self, tmp_path):
        from scicat_ingestor_spark.config import build_config

        p = tmp_path / "engine.yml"
        p.write_text(
            "kafka:\n  topics: a,b\n  individual_message_commit: false\n"
            "ingestion:\n  dry_run: true\n  file_handling:\n    open_max_tries: 5\n"
            "mystery_section:\n  x: 1\n"
        )
        cfg, unused = build_config(
            str(p), {"kafka.topics": "c", "ingestion.dry_run": "false", "nope.key": 1}
        )
        assert cfg.kafka.topics == "c"  # CLI wins
        assert cfg.kafka.individual_message_commit is False
        assert cfg.ingestion.dry_run is False
        assert cfg.ingestion.file_handling.open_max_tries == 5
        assert "mystery_section" in unused and "nope.key" in unused

    def test_type_coercion_from_strings(self):
        from scicat_ingestor_spark.config import build_config

        cfg, _ = build_config(
            None,
            {
                "health_check.port": "9999",
                "health_check.enabled": "true",
                "scicat.timeout_s": "2.5",
            },
        )
        assert cfg.health_check.port == 9999
        assert cfg.health_check.enabled is True
        assert cfg.scicat.timeout_s == 2.5

    def test_token_redacted_in_public_dict(self):
        from scicat_ingestor_spark.config import build_config, to_public_dict

        cfg, _ = build_config(None, {"scicat.token": "secret"})
        assert to_public_dict(cfg)["scicat"]["token"] == "***"


def _schema_dir(tmp_path):
    d = tmp_path / "schemas"
    d.mkdir()
    (d / "all.imsc.yml").write_text(
        "id: demo\nname: demo\norder: 0\nselector: '*'\n"
        "variables:\n"
        "  title:\n    source: NXS\n    path: /entry/title\n    value_type: string\n"
        "schema:\n"
        "  datasetName:\n    machine_name: datasetName\n    value: '<title>'\n"
        "    field_type: high_level\n"
    )
    return str(d)


def test_offline_app_end_to_end(spark, tmp_path):
    from scicat_ingestor_spark.apps.offline import main

    out = str(tmp_path / "out")
    rc = main(
        [
            "--files",
            "/a.nxs,/b.nxs,/c.nxs",
            "--schemas-dir",
            _schema_dir(tmp_path),
            "--out",
            out,
        ]
    )
    assert rc == 0
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 3
    assert all(r["schema_id"] == "demo" and '"datasetName"' in r["dataset_json"] for r in rows)


def test_online_app_replay_idempotent(spark, tmp_path):
    from scicat_ingestor_spark.apps.online import main

    src = str(tmp_path / "replay")
    spark.createDataFrame(
        [(f"job-{i}", f"/data/run_{i}.nxs", False) for i in range(5)],
        "job_id string, file_name string, error_encountered boolean",
    ).write.parquet(src)
    argv = [
        "--schemas-dir",
        _schema_dir(tmp_path),
        "--out",
        str(tmp_path / "out"),
        "--checkpoint",
        str(tmp_path / "ck"),
        "--source-dir",
        src,
        "--once",
    ]
    assert main(argv) == 0
    first = spark.read.parquet(str(tmp_path / "out")).count()
    assert first == 5
    # second drain from a FRESH checkpoint replays; anti-join absorbs
    argv[argv.index("--checkpoint") + 1] = str(tmp_path / "ck2")
    assert main(argv) == 0
    assert spark.read.parquet(str(tmp_path / "out")).count() == first


def test_online_app_redelivery_within_one_batch_appends_once(spark, tmp_path):
    """A file named twice inside ONE micro-batch (a redelivery landing in
    the same trigger) is appended once: the anti-join against the target
    alone cannot see the batch's own duplicates."""
    from scicat_ingestor_spark.apps.online import main

    src = str(tmp_path / "replay")
    spark.createDataFrame(
        [("job-0", "/data/run_0.nxs", False), ("job-1", "/data/run_1.nxs", False),
         ("job-0-again", "/data/run_0.nxs", False)],
        "job_id string, file_name string, error_encountered boolean",
    ).coalesce(1).write.parquet(src)
    out = str(tmp_path / "out")
    argv = [
        "--schemas-dir", _schema_dir(tmp_path), "--out", out,
        "--checkpoint", str(tmp_path / "ck"), "--source-dir", src, "--once",
        "--set", "ingestion.max_files_per_trigger=0",
    ]
    assert main(argv) == 0
    pids = [r["pid"] for r in spark.read.parquet(out).select("pid").collect()]
    assert len(pids) == len(set(pids)) == 2


def test_samples_app_upserts_once_per_key(spark, tmp_path):
    from scicat_ingestor_spark.apps.samples import main

    src = str(tmp_path / "pl72")
    rows = [
        (f"job-{i}", f"/ymir/run_{i % 3}.nxs", "ymir") for i in range(9)
    ]
    spark.createDataFrame(
        rows, "job_id string, filename string, instrument_name string"
    ).write.parquet(src)
    argv = [
        "--out",
        str(tmp_path / "samples"),
        "--checkpoint",
        str(tmp_path / "ck"),
        "--source-dir",
        src,
        "--once",
    ]
    assert main(argv) == 0
    got = spark.read.parquet(str(tmp_path / "samples")).collect()
    assert len(got) == 3  # one upsert per distinct sample key
    assert {r["owner_group"] for r in got} == {"ymir"}


def test_corpus_app_end_to_end(spark, tmp_path):
    from scicat_ingestor_spark.apps.corpus import main

    out = str(tmp_path / "prep")
    rc = main(
        [
            "--docs",
            "/root/testdata/sf0.001/documents.parquet",
            "--out",
            out,
            "--capacity",
            "256",
        ]
    )
    assert rc == 0
    rows = spark.read.parquet(out).collect()
    assert rows
    # packed rows carry the full trace: shard, doc, token count, bin
    assert {"source", "doc_id", "n_tokens", "start_off", "bin_id"} <= set(rows[0].asDict())
    # eval split removed, dedup kept one doc per content hash
    assert all(r.doc_id % 97 != 0 for r in rows)
    assert all(r.n_tokens >= 25 for r in rows)


def test_corpus_app_stage_subset(spark, tmp_path):
    from scicat_ingestor_spark.apps.corpus import prep_corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    only_dedup = prep_corpus(docs, stages=("dedup",))
    # no pack stage -> documents shape, one row per content hash
    hashes = only_dedup.selectExpr("md5(text) h").collect()
    assert len({r.h for r in hashes}) == len(hashes)


def test_offline_app_with_dimension_snapshots(spark, tmp_path):
    """scicat.dimension_snapshot_dir: SC variables resolve through
    parquet catalog snapshots derived from the url key (J1/J2), wired
    purely by config."""
    import json

    from scicat_ingestor_spark.apps.offline import main

    d = tmp_path / "schemas"
    d.mkdir()
    (d / "sc.imsc.yml").write_text(
        "id: scdemo\nname: scdemo\norder: 0\nselector: '*'\n"
        "variables:\n"
        "  proposal_id:\n    source: NXS\n    path: /entry/experiment_identifier\n"
        "    value_type: string\n"
        "  pi:\n    source: SC\n    url: proposals/<proposal_id>\n"
        "    field: pi_lastname\n    value_type: string\n"
        "  instrument_name:\n    source: NXS\n    path: /entry/instrument/name\n"
        "    value_type: string\n"
        "  instrument_id:\n    source: SC\n"
        '    url: \'instruments?filter={"where":{"name":{"ilike":"<instrument_name>"}}}\'\n'
        "    field: id\n    value_type: string\n"
        "schema:\n"
        "  owner:\n    machine_name: owner\n    value: '<pi>'\n"
        "    field_type: high_level\n"
        "  instrumentId:\n    machine_name: instrumentId\n    value: '<instrument_id>'\n"
        "    field_type: high_level\n"
    )
    snaps = tmp_path / "snaps"
    snaps.mkdir()
    spark.createDataFrame(
        [(f"prop-{i}", f"pi-{i}") for i in range(20)],
        "proposalId string, pi_lastname string",
    ).write.parquet(str(snaps / "proposals.parquet"))
    spark.createDataFrame(
        [(f"id-{i}", f"INSTR-{i}") for i in range(5)],  # needs the ilike lower()
        "id string, name string",
    ).write.parquet(str(snaps / "instruments.parquet"))

    out = str(tmp_path / "out")
    rc = main(
        [
            "--files",
            "/a.nxs,/b.nxs",
            "--schemas-dir",
            str(d),
            "--out",
            out,
            "--set",
            f"scicat.dimension_snapshot_dir={snaps}",
        ]
    )
    assert rc == 0
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 2
    for r in rows:
        payload = json.loads(r["dataset_json"])
        owner = payload["owner"]
        owner_value = owner["value"] if isinstance(owner, dict) else owner
        assert owner_value.startswith("pi-")  # proposal join hit
        assert "pi" not in r["failed_vars"].split(",")
        inst = payload["instrumentId"]
        inst_value = inst["value"] if isinstance(inst, dict) else inst
        assert inst_value.startswith("id-")  # case-insensitive J2 hit


def test_ingest_files_three_schemas_match_each_schema_alone(
    spark, multi_schema_ingest
):
    """One ingest plan over three schemas gives every file exactly what
    its own schema's compile_schema gives alone (snapshots joined per
    schema, same envelope), and drops files no schema selects. The
    exact and the ilike instruments lookups share one join without
    matching each other's rows."""
    import json

    from pyspark.sql import functions as F

    from scicat_ingestor_spark.apps.offline import ingest_files
    from scicat_ingestor_spark.plans.compiler import compile_schema
    from scicat_ingestor_spark.plans.sc import attach_dimension, make_sc_resolver
    from scicat_ingestor_spark.sources import hdf5

    schemas, snaps = multi_schema_ingest
    a, b, c = schemas
    routed = {s.id: [f"/{s.id}/run_{i}.nxs" for i in range(3)] for s in schemas}
    files = [f for fs in routed.values() for f in fs]
    got = {
        r["file"]: r
        for r in ingest_files(spark, files, schemas, snapshots=snaps).collect()
    }
    assert len(got) == len(files)

    nxs = hdf5.make_nxs_resolver()
    var = {s.id: {v.name: v for v in s.variables} for s in schemas}
    # keep-first on the lowered name keeps INSTR-2 (upper case sorts first)
    instruments = snaps["instruments"].filter(F.col("name") != "instr-2")
    instruments = instruments.withColumn("name_ci", F.lower("name"))
    joins = {
        "a": lambda df: attach_dimension(
            df, snaps["proposals"], "proposals",
            nxs(var["a"]["proposal_id"]).getField("value"), "proposalId",
        ),
        "b": lambda df: attach_dimension(
            attach_dimension(
                df, snaps["proposals"], "proposals",
                nxs(var["b"]["sample"]).getField("value"), "proposalId",
            ),
            instruments, "instruments",
            F.lower(nxs(var["b"]["instrument_name"]).getField("value")), "name_ci",
        ),
        "c": lambda df: attach_dimension(
            df, snaps["instruments"], "instruments", F.lit("instr-2"), "name"
        ),
    }
    for schema in schemas:
        scanned = hdf5.scan_files_wide(
            spark.createDataFrame([(f,) for f in routed[schema.id]], "file string")
        )
        compiled = compile_schema(
            schema,
            file_path_col="file",
            resolvers={"NXS": nxs, "SC": make_sc_resolver()},
        )(joins[schema.id](scanned))
        envelope = [F.col(f.machine_name) for f in schema.fields
                    if f.field_type == "high_level"]
        if "scientificMetadata" in compiled.columns:
            envelope.append(F.col("scientificMetadata"))
        alone = compiled.select(
            "file",
            F.to_json(F.struct(*envelope), {"ignoreNullFields": "true"}).alias("ds"),
            F.concat_ws(",", F.col("_failures")).alias("fv"),
        ).collect()
        assert len(alone) == len(routed[schema.id])
        for r in alone:
            row = got[r["file"]]
            assert row["schema_id"] == schema.id
            assert (row["dataset_json"], row["failed_vars"]) == (r["ds"], r["fv"])

    def owner(f):
        return json.loads(got[f]["dataset_json"])["owner"]["value"]

    assert all(owner(f).startswith("pi-prop-") for f in routed["a"])
    assert all(owner(f).startswith("pi-sample-") for f in routed["b"])
    assert all(owner(f) == "nobody" for f in routed["c"])
    assert all(got[f]["failed_vars"] == "absent" for f in routed["a"])
    def instrument(f):
        return json.loads(got[f]["dataset_json"])["instrumentId"]["value"]

    assert all(instrument(f) in {f"id-{i}" for i in range(5)} for f in routed["b"])
    assert all(instrument(f) == "id-lower-2" for f in routed["c"])
    # without the catch-all, /c/ files match no schema and are dropped
    routed_only = ingest_files(spark, files, [a, b], snapshots=snaps)
    assert sorted(r["file"] for r in routed_only.collect()) == sorted(
        routed["a"] + routed["b"]
    )


def test_example_engine_yaml_in_sync_with_config():
    """Mirror of the reference's template⟺dataclass sync test
    (/root/reference/tests/test_scicat_config.py:28-117): every key in
    examples/engine.yml must land on a real config field."""
    from scicat_ingestor_spark.config import build_config, to_public_dict

    cfg, unused = build_config("examples/engine.yml", {})
    assert unused == [], f"example config keys unknown to the engine: {unused}"
    assert cfg.kafka.topics == "wrdn_coda,wrdn_ymir"
    assert cfg.health_check.enabled is True
    # credential redaction holds for the public dump
    cfg2, _ = build_config(
        "examples/engine.yml", {"kafka.sasl_password": "hunter2"}
    )
    dumped = to_public_dict(cfg2)
    assert dumped["kafka"]["sasl_password"] == "***"


def test_snapshot_join_takes_first_on_duplicate_keys(spark, tmp_path):
    """Duplicate dim keys (e.g. names merged by ilike lowering) must not
    fan out the fact side — the reference's filtered GET + getitem 0
    takes the first match (J2)."""
    import json

    from scicat_ingestor_spark.apps.offline import main

    d = tmp_path / "schemas"
    d.mkdir()
    (d / "sc.imsc.yml").write_text(
        "id: dup\nname: dup\norder: 0\nselector: '*'\n"
        "variables:\n"
        "  instrument_name:\n    source: NXS\n    path: /entry/instrument/name\n"
        "    value_type: string\n"
        "  instrument_id:\n    source: SC\n"
        '    url: \'instruments?filter={"where":{"name":{"ilike":"<instrument_name>"}}}\'\n'
        "    field: id\n    value_type: string\n"
        "schema:\n"
        "  instrumentId:\n    machine_name: instrumentId\n    value: '<instrument_id>'\n"
        "    field_type: high_level\n"
    )
    snaps = tmp_path / "snaps"
    snaps.mkdir()
    # two case-variants of every name collapse to one ilike key
    rows = [(f"id-{i}{suffix}", f"{case}-{i}") for i in range(5)
            for suffix, case in (("a", "INSTR"), ("b", "instr"))]
    spark.createDataFrame(rows, "id string, name string").write.parquet(
        str(snaps / "instruments.parquet")
    )
    out = str(tmp_path / "out")
    rc = main(
        ["--files", "/a.nxs,/b.nxs", "--schemas-dir", str(d), "--out", out,
         "--set", f"scicat.dimension_snapshot_dir={snaps}"]
    )
    assert rc == 0
    rows_out = spark.read.parquet(out).collect()
    assert len(rows_out) == 2  # no fan-out
    for r in rows_out:
        inst = json.loads(r["dataset_json"])["instrumentId"]
        value = inst["value"] if isinstance(inst, dict) else inst
        assert value.endswith("a")  # deterministic first match


def test_online_app_restarts_through_transient_sink_failure(
    spark, tmp_path, monkeypatch
):
    """App-level wiring of the daemon restart loop (unit-tested in
    test_streaming): the online daemon's sink fails ONCE, the stream
    restarts from its checkpoint, the drain completes with exit code 0
    and exactly-once rows; a persistent failure exhausts the budget
    and exits 1."""
    from scicat_ingestor_spark.apps import online
    from scicat_ingestor_spark.streaming.pipeline import idempotent_append

    src = str(tmp_path / "replay")
    spark.createDataFrame(
        [(f"job-{i}", f"/data/run_{i}.nxs", False) for i in range(5)],
        "job_id string, file_name string, error_encountered boolean",
    ).write.parquet(src)

    calls = {"n": 0}

    def flaky_append(batch, path, key):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient catalog outage (injected)")
        idempotent_append(batch, path, key)

    monkeypatch.setattr(online, "idempotent_append", flaky_append)
    argv = [
        "--schemas-dir", _schema_dir(tmp_path),
        "--out", str(tmp_path / "out"),
        "--checkpoint", str(tmp_path / "ck"),
        "--source-dir", src,
        "--once",
        "--set", "ingestion.stream_restart_backoff_s=0.1",
    ]
    assert online.main(argv) == 0
    assert calls["n"] >= 2  # failed once, then the restart completed
    assert spark.read.parquet(str(tmp_path / "out")).count() == 5

    def always_broken(batch, path, key):
        raise RuntimeError("persistent outage (injected)")

    monkeypatch.setattr(online, "idempotent_append", always_broken)
    argv2 = list(argv)
    argv2[argv2.index("--checkpoint") + 1] = str(tmp_path / "ck_broken")
    argv2[argv2.index("--out") + 1] = str(tmp_path / "out_broken")
    argv2 += ["--set", "ingestion.max_stream_restarts=1"]
    assert online.main(argv2) == 1
    import os

    assert not os.path.exists(str(tmp_path / "out_broken"))


def _free_port() -> int:
    """OS-assigned free port for the soak daemons' health servers —
    hard-coded ports flaked when a parallel test run (or any resident
    service) already held them. Bind-to-0, read, close: the classic
    race window (another process grabbing it between close and the
    daemon's bind) is acceptable for tests and infinitely better than
    a fixed collision."""
    import socket

    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


@pytest.mark.slow
def test_online_soak_100_batches_with_health_hammer(spark, tmp_path):
    """Soak parity with the reference stress test
    (/root/reference/tests/_scicat_stress_test.py:26-31,178-264 — 1
    msg/s x 300 s while hammering /health at 5 Hz, asserting survival):
    replay >=100 micro-batches through the online daemon
    (maxFilesPerTrigger=1, availableNow cadence so the whole soak fits
    in minutes) with a concurrent 5 Hz /health poller. Asserts exit 0,
    zero dropped and zero duplicated rows, and every health response
    during the drain is 200."""
    import threading
    import time
    import urllib.error
    import urllib.request

    from scicat_ingestor_spark.apps.online import main

    from pyspark.sql import functions as F

    n_msgs = 100
    src = str(tmp_path / "replay")
    # range(n, numPartitions=n) pins EXACTLY one row per partition ->
    # n parquet files; with maxFilesPerTrigger=1 each file is its own
    # micro-batch (round-robin repartition leaves empty partitions and
    # writes fewer files)
    spark.range(0, n_msgs, 1, numPartitions=n_msgs).select(
        F.concat(F.lit("job-"), F.col("id")).alias("job_id"),
        F.concat(F.lit("/data/run_"), F.col("id"), F.lit(".nxs")).alias(
            "file_name"
        ),
        F.lit(False).alias("error_encountered"),
    ).write.parquet(src)
    n_files = len(spark.read.parquet(src).inputFiles())
    assert n_files >= n_msgs  # one micro-batch per file

    out = tmp_path / "out"
    out.mkdir()  # storage probe needs the dir to exist from t0
    port = _free_port()
    url = f"http://127.0.0.1:{port}/health"
    statuses: list[int] = []
    errors: list[str] = []
    stop = threading.Event()

    def poll_once() -> int:
        try:
            with urllib.request.urlopen(url, timeout=5) as resp:
                return resp.status
        except urllib.error.HTTPError as err:  # 503 raises HTTPError
            return err.code

    def hammer() -> None:
        # reference wait_for_health: server comes up with the app
        deadline = time.monotonic() + 60
        while not stop.is_set() and time.monotonic() < deadline:
            try:
                statuses.append(poll_once())
                break
            except Exception:
                time.sleep(0.2)
        while not stop.is_set():
            try:
                statuses.append(poll_once())
            except Exception as exc:  # connection-level failure
                errors.append(str(exc))
            stop.wait(0.2)  # 5 Hz, the reference's health_interval

    poller = threading.Thread(target=hammer, name="health-hammer", daemon=True)
    poller.start()
    try:
        rc = main(
            [
                "--schemas-dir", _schema_dir(tmp_path),
                "--out", str(out),
                "--checkpoint", str(tmp_path / "ck"),
                "--source-dir", src,
                "--once",
                "--set", "ingestion.max_files_per_trigger=1",
                "--set", "health_check.enabled=true",
                "--set", f"health_check.port={port}",
            ]
        )
    finally:
        stop.set()
        poller.join(timeout=10)

    assert rc == 0
    assert not errors, f"health endpoint dropped connections: {errors[:3]}"
    assert statuses, "health poller never reached the endpoint"
    assert all(s == 200 for s in statuses), (
        f"non-200 health during drain: {sorted(set(statuses))}, "
        f"{len([s for s in statuses if s != 200])}/{len(statuses)} bad"
    )
    # >=100 micro-batches actually ran: one commit per drained file
    import os

    commits = os.listdir(str(tmp_path / "ck" / "commits"))
    assert len([c for c in commits if not c.startswith(".")]) >= n_msgs
    # zero dropped, zero duplicated
    rows = spark.read.parquet(str(out))
    assert rows.count() == n_msgs
    assert rows.select("pid").distinct().count() == n_msgs
    # sustained polling throughout, not one lucky probe (the drain takes
    # minutes; 5 Hz should land hundreds of samples)
    assert len(statuses) >= 50


@pytest.mark.slow
def test_online_soak_survives_midstream_fault_under_health_load(
    spark, tmp_path, monkeypatch
):
    """Fault-injection soak: same replay-under-5Hz-health-polling shape
    as the 100-batch soak, but the sink throws a transient failure
    mid-drain (batch ~25 of 50). The daemon must restart from its
    checkpoint, finish with exit 0 and exactly-once rows, and the
    health endpoint must be answering 200 again by the end — 503s are
    allowed only around the injected outage."""
    import threading
    import time
    import urllib.error
    import urllib.request

    from pyspark.sql import functions as F

    from scicat_ingestor_spark.apps import online
    from scicat_ingestor_spark.streaming.pipeline import idempotent_append

    n_msgs = 50
    src = str(tmp_path / "replay")
    spark.range(0, n_msgs, 1, numPartitions=n_msgs).select(
        F.concat(F.lit("job-"), F.col("id")).alias("job_id"),
        F.concat(F.lit("/data/run_"), F.col("id"), F.lit(".nxs")).alias(
            "file_name"
        ),
        F.lit(False).alias("error_encountered"),
    ).write.parquet(src)

    calls = {"n": 0}

    def flaky_append(batch, path, key):
        calls["n"] += 1
        if calls["n"] == 25:
            raise RuntimeError("transient catalog outage (injected mid-soak)")
        idempotent_append(batch, path, key)

    monkeypatch.setattr(online, "idempotent_append", flaky_append)

    out = tmp_path / "out"
    out.mkdir()
    port = _free_port()
    url = f"http://127.0.0.1:{port}/health"
    statuses: list[int] = []
    stop = threading.Event()

    def hammer() -> None:
        deadline = time.monotonic() + 60
        while not stop.is_set() and time.monotonic() < deadline:
            try:
                with urllib.request.urlopen(url, timeout=5) as resp:
                    statuses.append(resp.status)
                break
            except urllib.error.HTTPError as err:
                statuses.append(err.code)
                break
            except Exception:
                time.sleep(0.2)
        while not stop.is_set():
            try:
                with urllib.request.urlopen(url, timeout=5) as resp:
                    statuses.append(resp.status)
            except urllib.error.HTTPError as err:
                statuses.append(err.code)
            except Exception:
                pass  # connection blips during the restart are the point
            stop.wait(0.2)

    poller = threading.Thread(target=hammer, name="health-hammer", daemon=True)
    poller.start()
    try:
        rc = online.main(
            [
                "--schemas-dir", _schema_dir(tmp_path),
                "--out", str(out),
                "--checkpoint", str(tmp_path / "ck"),
                "--source-dir", src,
                "--once",
                "--set", "ingestion.max_files_per_trigger=1",
                "--set", "ingestion.stream_restart_backoff_s=0.1",
                "--set", "health_check.enabled=true",
                "--set", f"health_check.port={port}",
            ]
        )
    finally:
        stop.set()
        poller.join(timeout=10)

    assert rc == 0
    assert calls["n"] > 25  # failed once mid-drain, then kept going
    rows = spark.read.parquet(str(out))
    assert rows.count() == n_msgs  # zero dropped
    assert rows.select("pid").distinct().count() == n_msgs  # zero dup'd
    assert statuses, "health poller never reached the endpoint"
    # healthy before AND after the fault; 503s only around the outage
    assert statuses.count(200) >= len(statuses) * 0.6, statuses[-20:]
    assert statuses[-1] == 200, f"did not recover: tail {statuses[-10:]}"

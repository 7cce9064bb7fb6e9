"""Streaming ANN index maintenance: the IVFADC index kept current by a
foreachBatch loop — the ANN analogue of the incremental-dedup
probe-admit-index loop (streaming/incremental.py).

Model: centroids/codebooks are trained OFFLINE (``train_centroids`` /
``train_pq_codebooks``, or the fixed md5 constants) and FROZEN for the
index's lifetime — the production IVFADC discipline: retraining means
building a NEW index and flipping the pointer, never mutating the
constants under a live index (vectors encoded with drifted constants
probe into the wrong cells — the classic silent recall killer). Each
micro-batch of new vectors encodes against the frozen constants
(scan-local computed columns, zero shuffle on the vector side) and
appends its (id, _cell, _codes) rows idempotently; ``ivf_pq_probe``
serves queries from the stored relation at any time.

Constants persistence: :func:`save_ann_constants` writes the whole
(dim, m, ksub, cells, centroids, books) tuple as ONE json document
next to the index, so a restarted daemon — or any other job — encodes
with BIT-IDENTICAL constants (json round-trips doubles exactly via
shortest-repr). ``index_batch`` refuses to run without them.

Scale shape: the index row is a few bytes per vector (~1e-3 of vector
bytes at dim=64 float32); the append shuffles nothing (the encode is a
projection), and the idempotency anti-join probes only the increment's
ids against the stored index under AQE broadcast. Replay safety is the
same ``idempotent_append`` guarantee the ingest sinks use.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from scicat_ingestor_spark.operators import similarity
from scicat_ingestor_spark.streaming.pipeline import idempotent_append


def save_ann_constants(
    path: str,
    dim: int,
    m: int,
    ksub: int,
    cells: int,
    centroids: list[list[float]] | None = None,
    books: list[list[list[float]]] | None = None,
) -> None:
    """Persist the frozen encoder constants as one json document.
    ``None`` for centroids/books means the fixed md5 constants — stored
    explicitly so the file is self-contained even if defaults change."""
    if centroids is None:
        centroids = [similarity.centroid_weights(c, dim) for c in range(cells)]
    if books is None:
        books = similarity.pq_codebooks(m, ksub, dim // m)
    doc = {
        "dim": dim,
        "m": m,
        "ksub": ksub,
        "cells": cells,
        "centroids": centroids,
        "books": books,
    }
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(doc, f, allow_nan=False)
    os.replace(tmp, path)  # atomic on POSIX


def load_ann_constants(path: str) -> dict:
    with open(path, encoding="utf-8") as f:
        doc = json.load(f)
    missing = {"dim", "m", "ksub", "cells", "centroids", "books"} - set(doc)
    if missing:
        raise ValueError(f"ANN constants file {path} missing {sorted(missing)}")
    return doc


def index_batch(
    batch: DataFrame,
    index_path: str,
    constants: dict,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """foreachBatch body: encode the increment with the FROZEN
    constants and append idempotently (a replayed batch inserts
    nothing — same anti-join guard as the ingest sinks)."""
    coded = similarity.build_pq_index(
        batch,
        constants["dim"],
        vec_col=vec_col,
        id_col=id_col,
        m=constants["m"],
        ksub=constants["ksub"],
        cells=constants["cells"],
        centroids=constants["centroids"],
        books=constants["books"],
    )
    idempotent_append(coded, index_path, id_col)


def knn_batch(
    batch: DataFrame,
    index_path: str,
    neighbors_path: str,
    constants: dict,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """foreachBatch body for streaming self-kNN maintenance (r8): the
    incremental-dedup probe-admit-index shape applied to kNN. Each
    micro-batch of new vectors is encoded against the FROZEN centroids
    (scan-local computed cell, zero shuffle on the corpus), its top-k
    cosine neighbors are computed against stored-index ∪ batch (the
    corpus as of ARRIVAL time, in-cell candidates only — the same
    IVF-bucketed join shape as operators.similarity.knn_join), and
    both the neighbor rows and the (id, embedding, cell) index rows
    append idempotently.

    Replay safety: a replayed batch's vec_ids already sit in both
    sinks, so the anti-join guards drop everything; the neighbor
    computation additionally prefers the INCOMING copy of a replayed id
    over the stored one (anti-join on id before the union) so a replay
    can never pair a vector with its own prior copy.

    Scale shape: the stored index carries (id, vector, cell) — the
    probe joins only increment-vs-cell-mates (broadcast/AQE chooses;
    the increment is micro-batch-sized), and the appends are
    increment-sized. Growth of a cell past the single-task envelope is
    the batch operator's census territory; the stream keeps increments
    small by construction."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    spark = batch.sparkSession
    dim, cells = constants["dim"], constants["cells"]
    cents = constants["centroids"]
    inc = batch.select(
        F.col(id_col),
        F.col(vec_col),
        similarity.ivf_cell(F.col(vec_col), dim, cells, cents).alias("cell"),
    ).localCheckpoint()  # computed ONCE: probe side, union side, index append
    try:
        stored = spark.read.parquet(index_path).select(id_col, vec_col, "cell")
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e):
            raise  # only the documented empty-index case may fall back
        stored = spark.createDataFrame(
            [], f"{id_col} long, {vec_col} array<double>, cell int"
        )
    # prefer the incoming copy of a replayed id: without the anti-join a
    # replayed vector pairs with its own stored copy at cosine 1.0
    universe = stored.join(
        inc.select(id_col), id_col, "left_anti"
    ).unionByName(inc)
    a = inc.select(
        F.col(id_col).alias("_qid"),
        F.col(vec_col).alias("_qvec"),
        F.col("cell").alias("_qcell"),
        similarity.norm(F.col(vec_col)).alias("_qnrm"),
    ).alias("a")
    b = universe.select(
        F.col(id_col),
        F.col(vec_col),
        F.col("cell"),
        similarity.norm(F.col(vec_col)).alias("_nrm"),
    ).alias("b")
    _nn = F.col("a._qnrm") * F.col("b._nrm")
    cos = similarity.dot(F.col("a._qvec"), F.col(f"b.{vec_col}")) / F.when(
        _nn != 0, _nn
    )
    scored = a.join(
        b,
        (F.col("a._qcell") == F.col("b.cell"))
        & (F.col("a._qid") != F.col(f"b.{id_col}")),
    ).select(
        F.col("a._qid").alias(id_col),
        F.col(f"b.{id_col}").alias("neighbor_id"),
        cos.alias("_cos"),
    )
    neighbors = similarity.top_k_neighbors(scored, id_col, "neighbor_id", k)
    # neighbors FIRST: they are computed against the pre-append index,
    # and a crash between the two appends must leave a state a replay
    # repairs (both sinks are keyed anti-join appends on the same ids)
    idempotent_append(neighbors, neighbors_path, id_col)
    idempotent_append(inc, index_path, id_col)


def run_knn_index_stream(
    stream_df: DataFrame,
    index_path: str,
    neighbors_path: str,
    constants_path: str,
    checkpoint: str,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    available_now: bool = True,
):
    """Wire a vector stream through the self-kNN maintenance loop:
    every micro-batch appends its vectors to the stored IVF cells and
    emits their top-k neighbors as of arrival. Constants frozen at
    stream start (see run_ann_index_stream)."""
    constants = load_ann_constants(constants_path)
    writer = stream_df.writeStream.foreachBatch(
        lambda b, _bid: knn_batch(
            b, index_path, neighbors_path, constants, k, vec_col, id_col
        )
    ).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_ann_index_stream(
    stream_df: DataFrame,
    index_path: str,
    constants_path: str,
    checkpoint: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    available_now: bool = True,
):
    """Wire a vector stream through the encode-append loop. The
    constants are loaded ONCE at stream start (frozen-for-lifetime:
    a constants change requires a new index + new checkpoint, so
    re-reading per batch would only mask a deployment error)."""
    constants = load_ann_constants(constants_path)
    writer = stream_df.writeStream.foreachBatch(
        lambda b, _bid: index_batch(b, index_path, constants, vec_col, id_col)
    ).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

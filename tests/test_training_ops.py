"""Invariant tests for the training-pipeline extension operators:
benchmark decontamination and token-budget sequence packing. Value-level
correctness is covered by the DuckDB oracle gate (tools/check_oracle.py);
these assert the semantic invariants the oracle can't express."""

from __future__ import annotations

from pyspark.sql import functions as F

from scicat_ingestor_spark.queries import (
    _t,
    q_pack_sequences,
    q_text_decontaminate,
)


def test_decontaminate_excludes_eval_split(spark, sf_dir):
    out = q_text_decontaminate(spark, sf_dir).collect()
    assert len(out) > 0  # the shared vocab guarantees some overlap
    for r in out:
        assert r.doc_id % 97 != 0  # eval docs never flag themselves
        assert r.n_hits >= 1


def test_decontaminate_hits_are_real_overlaps(spark, sf_dir):
    # cross-check one flagged doc by recomputing its 4-gram overlap
    # against the eval split with an independent (driver-side) method
    out = q_text_decontaminate(spark, sf_dir)
    flagged = out.orderBy("doc_id").first()
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").collect()

    def grams(text):
        toks = text.lower().split()
        n = 4
        if len(toks) <= n:
            return {" ".join(toks[:n])}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    eval_grams = set()
    for r in docs:
        if r.doc_id % 97 == 0:
            eval_grams |= grams(r.text)
    doc_text = next(r.text for r in docs if r.doc_id == flagged.doc_id)
    assert len(grams(doc_text) & eval_grams) == flagged.n_hits


def test_dedup_survivors_keep_exactly_canonicals(spark, sf_dir):
    from scicat_ingestor_spark.queries import q_dedup_clusters, q_dedup_survivors

    clusters = {r.id: r.cluster_id for r in q_dedup_clusters(spark, sf_dir).collect()}
    survivors = {r.doc_id for r in q_dedup_survivors(spark, sf_dir).collect()}
    total = _t(spark, sf_dir, "documents").count()
    losers = {i for i, c in clusters.items() if i != c}
    assert survivors.isdisjoint(losers)
    assert len(survivors) == total - len(losers)
    # every cluster's canonical member survives
    assert all(c in survivors for c in clusters.values())


def test_chunk_documents_cover_and_trace(spark, sf_dir):
    from scicat_ingestor_spark.queries import q_chunk_documents

    docs = {r.doc_id: r.text for r in _t(spark, sf_dir, "documents").collect()}
    chunks = q_chunk_documents(spark, sf_dir).collect()
    per_doc: dict[int, list] = {}
    for r in chunks:
        per_doc.setdefault(r.doc_id, []).append(r)
        # offsets trace back to the exact byte range of the source doc
        assert docs[r.doc_id][r.chunk_start : r.chunk_start + 200] == r.chunk
        assert r.chunk_len == len(r.chunk)
    for doc_id, text in docs.items():
        rows = sorted(per_doc[doc_id], key=lambda r: r.chunk_start)
        assert rows[0].chunk_start == 0
        # stride-150 starts cover the whole doc
        assert rows[-1].chunk_start + 200 >= len(text) or len(rows) == (
            len(text) + 149
        ) // 150


def test_source_quota_sample_deterministic_cap(spark, sf_dir):
    from scicat_ingestor_spark.queries import q_source_quota_sample

    a = sorted(map(tuple, q_source_quota_sample(spark, sf_dir).collect()))
    b = sorted(map(tuple, q_source_quota_sample(spark, sf_dir).collect()))
    assert a == b  # reproducible
    per_source: dict[str, int] = {}
    for _, source, _ in a:
        per_source[source] = per_source.get(source, 0) + 1
    assert all(n <= 20 for n in per_source.values())


def test_pack_sequences_partitions_all_tokens(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    expected = (
        docs.groupBy("source")
        .agg(F.sum(F.size(F.split(F.trim("text"), r"\s+"))).alias("t"))
        .collect()
    )
    totals = {r.source: r.t for r in expected}
    out = q_pack_sequences(spark, sf_dir).collect()
    per_source: dict[str, list] = {}
    for r in out:
        per_source.setdefault(r.source, []).append(r)
    assert set(per_source) == set(totals)
    for source, bins in per_source.items():
        # bins are contiguous from 0 and jointly conserve the tokens
        assert sorted(b.bin_id for b in bins) == list(range(len(bins)))
        assert sum(b.bin_tokens for b in bins) == totals[source]
        assert all(b.n_docs >= 1 for b in bins)


def test_simhash_hamming_finds_one_bit_neighbors(spark):
    """The banded-SimHash pair finder catches near-dups whose signatures
    differ in 1..3 bits — the exact case byte-identical grouping
    (simhash_dedup_groups) structurally misses."""
    from scicat_ingestor_spark.operators.dedup import (
        simhash_dedup_groups,
        simhash_hamming_pairs,
        simhash_signature,
    )

    # small docs so a few changed words can actually flip majority bits
    base_words = [f"w{i}" for i in range(9)]
    base = " ".join(base_words)
    variants = [
        (f"v{j}", " ".join(base_words[:-3] + [f"alt{j}a", f"alt{j}b", f"alt{j}c"]))
        for j in range(16)
    ]
    docs = spark.createDataFrame(
        [("base", base)] + variants, "doc_id string, text string"
    )
    sigs = {
        r.doc_id: r.sig
        for r in docs.select(
            "doc_id", simhash_signature(F.col("text"), 16).alias("sig")
        ).collect()
    }

    def ham(a, b):
        return sum(x != y for x, y in zip(a, b))

    # at least one variant differs from base in 1..3 bits (deterministic
    # given the fixed texts; verified here, not assumed)
    near = [d for d, s in sigs.items() if d != "base" and 1 <= ham(s, sigs["base"]) <= 3]
    assert near, f"fixture regression: no 1-3 bit variant; sigs={sigs}"

    pairs = simhash_hamming_pairs(docs, "text", "doc_id", bits=16, bands=4).collect()
    found = {(p.id_a, p.id_b): p.hamming for p in pairs}
    for d in near:
        key = tuple(sorted(["base", d]))
        assert key in found, f"banding missed {d} at hamming {ham(sigs[d], sigs['base'])}"
        assert found[key] == ham(sigs[d], sigs["base"])

    # exact-signature grouping misses every nonzero-hamming neighbor
    groups = simhash_dedup_groups(docs, "text", "doc_id", bits=16).collect()
    grouped_sigs = {g.simhash for g in groups}
    for d in near:
        assert sigs[d] not in grouped_sigs or sigs[d] != sigs["base"]


def test_lsh_megabucket_star_keeps_edges_linear(spark):
    """Skew drill: one pathological duplicate class (2000 identical
    docs). In star mode the candidate-edge count stays LINEAR in the
    class size (n-1 edges per band -> n-1 after distinct), where the
    all-pairs expansion would emit ~2M edges per band — the difference
    between a completing job and an exploded shuffle at 100 TB. The
    clusters built from the star edges still recover the full class."""
    from scicat_ingestor_spark.operators.dedup import (
        dedup_clusters,
        minhash_lsh_pairs,
    )

    n_dupes = 2000
    dupe_text = "the same pathological document repeated verbatim many times"
    rows = [(f"d{i:05d}", dupe_text) for i in range(n_dupes)]
    # plus a handful of distinct docs that must NOT join the class
    rows += [(f"u{i}", f"unique text number {i} with words w{i} x{i} y{i}") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    star = minhash_lsh_pairs(docs, "text", "doc_id", star=True)
    n_star = star.count()
    # identical docs share every band: star gives n-1 edges total after
    # distinct (same min per band), plus possibly a few unique-doc
    # collisions — nowhere near the ~n^2/2 of all-pairs
    assert n_star < n_dupes + 50, f"star edge count {n_star} is not linear"

    clusters = dedup_clusters(star)
    big = clusters.groupBy("cluster_id").count().orderBy("count", ascending=False)
    top = big.first()
    assert top["count"] == n_dupes  # the whole class is one component


def test_simhash_auto_split_exactly_once(spark):
    """split_threshold auto mode must emit the exact same pair set as
    the unsplit form — hot buckets take the triangle split (g sized by
    the census), cold buckets the plain join, and a pair whose first
    matching band is hot while a later band is cold (or vice versa)
    must still appear exactly once."""
    from scicat_ingestor_spark.operators.dedup import simhash_hamming_pairs

    # one mega duplicate class (hot bucket in every band) + organic docs
    dupe = "an identical boilerplate document repeated across the corpus"
    rows = [(f"d{i:04d}", dupe + ("" if i % 3 else " tail")) for i in range(60)]
    rows += [(f"u{i:04d}", f"unique doc {i} " + " ".join(f"t{i}{j}" for j in range(8)))
             for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    kw = dict(bits=64, bands=4, max_hamming=3)
    base = sorted(map(tuple, simhash_hamming_pairs(
        docs, "text", "doc_id", **kw).collect()))
    assert base, "fixture regression: no near-dup pairs"
    # threshold low enough that the dupe-class buckets are hot
    auto_df = simhash_hamming_pairs(
        docs, "text", "doc_id", split_threshold=10, **kw
    )
    assert "_ci#" in auto_df._jdf.queryExecution().optimizedPlan().toString()
    auto = sorted(map(tuple, auto_df.collect()))
    assert auto == base
    # threshold above every bucket: no split, still identical
    cold = sorted(map(tuple, simhash_hamming_pairs(
        docs, "text", "doc_id", split_threshold=10**9, **kw).collect()))
    assert cold == base


def test_ngram_jaccard_block_guard_raises_on_mega_block(spark):
    """The quadratic-baseline guard: a block past max_block must fail
    loudly (default) instead of silently building the n^2 join."""
    import pytest

    from scicat_ingestor_spark.operators.dedup import ngram_jaccard_pairs

    rows = [(i, "same lang", f"doc {i} words w{i % 7} w{i % 3}") for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    with pytest.raises(ValueError, match="max_block"):
        ngram_jaccard_pairs(docs, "text", "doc_id", "lang", max_block=100)
    # under the ceiling: guard is a no-op, result identical to unguarded
    base = sorted(map(tuple, ngram_jaccard_pairs(
        docs, "text", "doc_id", "lang").collect()))
    ok = sorted(map(tuple, ngram_jaccard_pairs(
        docs, "text", "doc_id", "lang", max_block=1000).collect()))
    assert ok == base


def test_ngram_jaccard_block_guard_routes_through_lsh(spark):
    """oversize='route': the mega-block goes through LSH candidates +
    exact verify (subset of the exhaustive pairs, every emitted jaccard
    exact); small blocks keep the exhaustive join untouched."""
    from scicat_ingestor_spark.operators.dedup import ngram_jaccard_pairs

    dupe = "an identical boilerplate sentence repeated across documents"
    rows = [(i, "big", dupe + (" tail" if i % 2 else "")) for i in range(120)]
    rows += [(1000 + i, "small", f"unique text {i} " + " ".join(
        f"t{i}{j}" for j in range(6))) for i in range(10)]
    rows += [(2000, "small", "twin small-block doc alpha beta"),
             (2001, "small", "twin small-block doc alpha beta")]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    exhaustive = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(
        docs, "text", "doc_id", "lang").collect()}
    routed = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(
        docs, "text", "doc_id", "lang", max_block=50, oversize="route"
    ).collect()}
    # routed pairs are a subset with exact (identical) jaccard values
    assert routed, "route produced no pairs"
    for k, v in routed.items():
        assert k in exhaustive and exhaustive[k] == v
    # the small-block twin pair survives exactly (cold path untouched)
    assert (2000, 2001) in routed
    # the boilerplate mega-block still yields near-dup pairs via LSH
    assert any(a < 1000 and b < 1000 for a, b in routed)


def test_repetition_gate_flags_duplicated_lines(spark):
    from scicat_ingestor_spark.operators import text as T

    clean = "the quick brown fox\njumps over the lazy dog\nand runs far away"
    spammy = "buy now\nbuy now\nbuy now\nbuy now"
    df = spark.createDataFrame(
        [(1, clean), (2, spammy)], "doc_id long, text string"
    )
    feats = T.repetition_features(F.col("text"))
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            feats["dup_line_frac"].alias("dl"),
            feats["keep_gopher"].alias("keep"),
        ).collect()
    }
    assert rows[1]["dl"] == 0.0 and rows[1]["keep"]
    assert rows[2]["dl"] == 0.75 and not rows[2]["keep"]


def test_pii_scrub_redacts_and_counts(spark):
    from scicat_ingestor_spark.operators import text as T

    raw = "mail a@b.com or b@c.org, host 10.0.0.1, call +41 22 767 1234"
    df = spark.createDataFrame([(1, raw)], "doc_id long, text string")
    counts = T.pii_counts(F.col("text"))
    row = df.select(
        counts["email"].alias("e"),
        counts["ipv4"].alias("i"),
        counts["phone"].alias("p"),
        T.pii_scrub(F.col("text")).alias("s"),
    ).collect()[0]
    assert (row["e"], row["i"], row["p"]) == (2, 1, 1)
    assert row["s"] == "mail <EMAIL> or <EMAIL>, host <IP>, call <PHONE>"


def test_global_line_dedup_keeps_first_occurrence(spark, sf_dir):
    from scicat_ingestor_spark.queries import q_dedup_lines_global

    out = q_dedup_lines_global(spark, sf_dir)
    # every kept line count is <= total and the reassembled text has
    # exactly n_kept lines
    bad = out.filter(
        (F.col("n_kept") > F.col("n_lines"))
        | (
            F.when(
                F.length("kept_text") > 0,
                F.size(F.split("kept_text", r"\n")),
            ).otherwise(F.lit(0))
            != F.col("n_kept")
        )
    ).count()
    assert bad == 0
    # dedup is global: no surviving line string appears twice
    lines = out.select(
        F.explode(
            F.filter(F.split("kept_text", r"\n"), lambda x: F.length(x) > 0)
        ).alias("line")
    )
    assert lines.groupBy("line").count().filter(F.col("count") > 1).count() == 0


def test_semantic_dedup_drops_in_cell_near_dups(spark):
    from scicat_ingestor_spark.operators.similarity import (
        semantic_dedup_survivors,
    )

    # two identical vectors land in the same cell; only the lower id survives
    v = [0.5] * 8
    u = [-0.5] * 8
    df = spark.createDataFrame(
        [(1, v), (2, v), (3, u)], "vec_id long, embedding array<double>"
    )
    out = semantic_dedup_survivors(df, dim=8, threshold=0.9, cells=4)
    ids = sorted(r["vec_id"] for r in out.collect())
    assert ids == [1, 3]


def test_bloom_prefilter_exact_and_shrinking(spark, sf_dir):
    from scicat_ingestor_spark.operators import bloom

    members = spark.createDataFrame(
        [(f"gram-{i}",) for i in range(0, 200, 2)], "gram string"
    )
    stream = spark.createDataFrame(
        [(f"gram-{i}",) for i in range(200)], "gram string"
    )
    words, m_bits, k = bloom.build(members, "gram")
    kept = bloom.probe(stream, "gram", words, m_bits, k)
    got = {r["gram"] for r in kept.collect()}
    want = {f"gram-{i}" for i in range(0, 200, 2)}
    # no false negatives: every member survives the prefilter
    assert want <= got
    # the filter actually filters: non-members mostly drop (fp rate
    # bound is generous vs the ~2% design point to stay flake-free)
    assert len(got - want) <= 20
    # the composed query is bit-identical to the exact-set one
    from scicat_ingestor_spark.queries import QUERIES

    exact = QUERIES["text_decontaminate"](spark, sf_dir)
    via_bloom = QUERIES["text_decontaminate_bloom"](spark, sf_dir)
    assert sorted(map(tuple, exact.collect())) == sorted(
        map(tuple, via_bloom.collect())
    )


def test_vocab_sketch_within_rsd_of_exact(spark, sf_dir):
    from scicat_ingestor_spark.queries import QUERIES

    rows = QUERIES["text_vocab_sketch"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        # 1.6% rsd design point (m=4096); 5% gives headroom against
        # HLL tail luck. The exact count rides in the same result.
        v, est = r["vocab_exact"], r["vocab_hll"]
        assert abs(est - v) <= max(2, 0.05 * v), (r["source"], est, v)


def test_incremental_dedup_admits_only_collision_free(spark, sf_dir):
    """dedup_incremental invariants the oracle can't express directly:
    (a) no admitted doc shares any LSH band bucket with the base corpus,
    (b) of any intra-increment bucket collision group the min id alone
    may survive, (c) the probe is idempotent — re-probing the admitted
    set against the same index admits everything again... EXCEPT docs
    whose only rejection cause was an intra-increment collision with a
    doc that itself got rejected (the documented first-occurrence rule
    is one-pass, not iterative) — but the admitted set is pairwise
    bucket-disjoint by construction, so re-probing it must return
    EXACTLY the same set, which is what (c) asserts."""
    from scicat_ingestor_spark.operators import dedup
    from scicat_ingestor_spark.queries import q_dedup_incremental

    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    inc = docs.filter(F.col("doc_id") % 5 == 0)
    admitted = {r.doc_id for r in q_dedup_incremental(spark, sf_dir).collect()}
    assert admitted  # the split always leaves collision-free docs

    base_keys = {
        (r.band, r.sig)
        for r in dedup.build_lsh_index(base, "text", "doc_id").collect()
    }
    inc_buckets = [
        (r.doc_id, r.band, r.sig)
        for r in dedup.lsh_band_buckets(inc, "text", "doc_id").collect()
    ]
    # (a) zero base collisions among the admitted
    for doc_id, band, sig in inc_buckets:
        if doc_id in admitted:
            assert (band, sig) not in base_keys
    # (b) first-occurrence-wins inside the increment
    bucket_min = {}
    for doc_id, band, sig in inc_buckets:
        k = (band, sig)
        bucket_min[k] = min(bucket_min.get(k, doc_id), doc_id)
    for doc_id, band, sig in inc_buckets:
        if doc_id in admitted:
            assert doc_id == bucket_min[(band, sig)]
    # (c) re-probing the admitted set admits every one of them
    again = dedup.incremental_dedup(
        inc.join(
            spark.createDataFrame([(d,) for d in admitted], "doc_id bigint"),
            "doc_id",
            "left_semi",
        ),
        dedup.build_lsh_index(base, "text", "doc_id"),
        "text",
        "doc_id",
    )
    assert {r.doc_id for r in again.collect()} == admitted


def test_lsh_index_store_and_probe_matches_inline(spark, sf_dir, tmp_path):
    """The serving shape: build_lsh_index written to parquet and probed
    must admit exactly what the inline composition admits — the index
    is a pure relation, so persisting it changes nothing."""
    from scicat_ingestor_spark.operators import dedup

    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    inc = docs.filter(F.col("doc_id") % 5 == 0)
    inline = {
        r.doc_id
        for r in dedup.incremental_dedup(
            inc, dedup.build_lsh_index(base, "text", "doc_id"), "text", "doc_id"
        ).collect()
    }
    path = str(tmp_path / "lsh_index")
    dedup.build_lsh_index(base, "text", "doc_id").write.parquet(path)
    stored = {
        r.doc_id
        for r in dedup.incremental_dedup(
            inc, spark.read.parquet(path), "text", "doc_id"
        ).collect()
    }
    assert stored == inline and inline


def test_incremental_dedup_supports_string_ids(spark):
    """The probe's tagged-union null row casts to the caller's id type —
    pin the non-numeric path (string ids order lexicographically, so
    first-occurrence-wins means lowest string)."""
    from scicat_ingestor_spark.operators import dedup

    rows = [
        ("a", "alpha beta gamma delta"),
        ("b", "alpha beta gamma delta"),      # dup of a (same text)
        ("c", "totally different words here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    empty_index = spark.createDataFrame([], "band int, sig string")
    admitted = {
        r.doc_id
        for r in dedup.incremental_dedup(
            docs, empty_index, "text", "doc_id"
        ).collect()
    }
    assert admitted == {"a", "c"}
    # and with a/c indexed as the corpus, only nothing-like-them enters
    index = dedup.build_lsh_index(
        docs.filter(F.col("doc_id") != "b"), "text", "doc_id"
    )
    again = {
        r.doc_id
        for r in dedup.incremental_dedup(
            docs.filter(F.col("doc_id") == "b"), index, "text", "doc_id"
        ).collect()
    }
    assert again == set()


def test_running_total_matches_sequential_prefix_sum(spark):
    """The two-pass distributed prefix sum must equal the sequential
    cumsum for any partition count — including partitions the range
    exchange leaves empty and a partition count larger than the data."""
    from decimal import Decimal

    from scicat_ingestor_spark.operators import windows

    rows = [(i, Decimal(v)) for i, v in enumerate([5, 1, 4, 4, 2, 9, 0, 7, 3, 6])]
    df = spark.createDataFrame(rows, "k int, v decimal(18,2)")
    expected = {}
    acc = Decimal(0)
    for k, v in sorted(rows, key=lambda r: (-r[1], r[0])):
        acc += v
        expected[k] = acc
    for n_parts in (1, 3, 64):
        got = {
            r.k: r.running_total
            for r in windows.running_total(
                df,
                "v",
                [F.col("v").desc(), F.col("k").asc()],
                num_partitions=n_parts,
            ).collect()
        }
        assert got == expected, n_parts


def test_trained_constants_match_duckdb(spark):
    """The reproducibility contract behind the trained-ANN SQL oracles:
    Spark's quantized k-means (means snapped to the 2^-24 binary grid
    per iteration — exact scaling, similarity._snap — tol=0, fixed
    init) and the DuckDB unrolled-CTE replay (oracles._trained_cents_ctes
    / _trained_books_ctes) produce BIT-IDENTICAL constants."""
    import duckdb

    from scicat_ingestor_spark import oracles
    from scicat_ingestor_spark.queries import _trained

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'"
    )
    base = "v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)"

    ctes, final = oracles._trained_cents_ctes()
    duck_cents = {
        r[0]: r[1]
        for r in con.execute(
            f"WITH {base},\n{ctes}\nSELECT cell, cent FROM {final}"
        ).fetchall()
    }
    cents = _trained(spark, sf, "centroids")
    assert all(
        cents[c][d] == duck_cents[c + 1][d] for c in range(8) for d in range(64)
    )

    bctes, bfinal = oracles._trained_books_ctes()
    duck_books = {
        (r[0], r[1]): r[2]
        for r in con.execute(
            f"WITH {base},\n{bctes}\nSELECT s, code, cent FROM {bfinal}"
        ).fetchall()
    }
    books = _trained(spark, sf, "books")
    assert all(
        books[s][c][d] == duck_books[(s, c + 1)][d]
        for s in range(8)
        for c in range(16)
        for d in range(8)
    )


def test_bpe_train_matches_reference_and_greedy_edges(spark, sf_dir):
    """r9: distributed BPE training must equal the serial reference
    algorithm exactly (merge list AND per-word segmentations), and
    the JVM fold encoder must implement greedy left-to-right
    non-overlapping semantics."""
    import re
    from collections import Counter

    from pyspark.sql import functions as F

    from scicat_ingestor_spark.operators import bpe

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = [tuple(m) for m in bpe.bpe_train(docs, merges=8)]

    # serial reference
    freq = Counter()
    for r in docs.select("text").collect():
        for w in re.split(r"\s+", r["text"].strip()):
            if w:
                freq[w] += 1
    vocab = {w: list(w) for w in freq}
    ref = []
    for _ in range(8):
        pc = Counter()
        for w, sym in vocab.items():
            for i in range(len(sym) - 1):
                pc[(sym[i], sym[i + 1])] += freq[w]
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        ref.append(best)
        a, b = best
        for w, sym in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            vocab[w] = out
    assert merges == ref

    # encoder parity on every vocabulary word
    wdf = spark.createDataFrame([(w,) for w in vocab], ["w"])
    got = {
        r["w"]: r["s"]
        for r in wdf.select("w", bpe.bpe_encode("w", merges).alias("s"))
        .collect()
    }
    assert got == vocab

    # greedy non-overlap edges for a single (a,b) fold
    edf = spark.createDataFrame(
        [("aab",), ("abab",), ("aaa",), ("xaby",)], ["w"]
    )
    out = {
        r["w"]: r["s"]
        for r in edf.select(
            "w", bpe.merge_pair(bpe.chars("w"), "a", "b").alias("s")
        ).collect()
    }
    assert out == {
        "aab": ["a", "ab"],
        "abab": ["ab", "ab"],
        "aaa": ["a", "a", "a"],
        "xaby": ["x", "ab", "y"],
    }

    # token count composes: sum of per-word encoded lengths
    row = (
        docs.orderBy("doc_id")
        .limit(1)
        .select("text", bpe.bpe_token_count("text", merges).alias("n"))
        .collect()[0]
    )
    words = [w for w in re.split(r"\s+", row["text"].strip()) if w]
    assert row["n"] == sum(len(vocab[w]) for w in words)


def test_remove_duplicate_spans_semantics(spark):
    """r9 ExactSubstr removal: case-insensitive span matching,
    original-token rebuild, whole-short-doc removal, untouched docs
    byte-identical, and the coverage window's exact boundaries."""
    from scicat_ingestor_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h tail one"),
            (2, "A b C d e f g h tail two"),  # matches 1 case-insensitively
            (3, "completely different words here nothing shared at all ok"),
            (4, "short doc"),
            (5, "short doc"),  # whole-doc dup below the span width
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["text"])
        for r in dedup.remove_duplicate_spans(docs).collect()
    }
    # spans s=1 (a..h) and s=2 (b..tail) duplicate -> tokens 1..9 cut
    assert out[1] == (10, 9, "one")
    assert out[2] == (10, 9, "two")
    assert out[3] == (
        9, 0, "completely different words here nothing shared at all ok"
    )
    assert out[4] == (2, 2, "")
    assert out[5] == (2, 2, "")
    # boundary: ONLY the first 8 tokens shared -> token 9 survives
    docs2 = spark.createDataFrame(
        [(1, "p q r s t u v w END1 X"), (2, "p q r s t u v w END2 Y")],
        ["doc_id", "text"],
    )
    out2 = {
        r["doc_id"]: r["text"]
        for r in dedup.remove_duplicate_spans(docs2).collect()
    }
    assert out2 == {1: "END1 X", 2: "END2 Y"}


def test_script_profile_edges(spark):
    """Unicode script census (r11): the 'none' branch (no script
    char), tie priority (equal counts -> earlier-listed script), and
    mixed-script counting."""
    from pyspark.sql import functions as F

    from scicat_ingestor_spark.operators import text as T

    rows = [
        (0, "..., !!!"),          # no script chars -> none
        (1, "abc где"),           # 3 latin vs 3 cyrillic -> tie: latin
        (2, "где 123 4567"),      # digits dominate
        (3, "αβγδ x"),            # greek dominates
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    counts = T.script_counts(F.col("t"))
    got = {
        r["id"]: (r["dom"], r["lat"], r["cyr"])
        for r in df.select(
            "id",
            T.dominant_script(counts).alias("dom"),
            counts["latin"].alias("lat"),
            counts["cyrillic"].alias("cyr"),
        ).collect()
    }
    assert got[0][0] == "none"
    assert got[1] == ("latin", 3, 3)
    assert got[2][0] == "digit"
    assert got[3][0] == "greek"

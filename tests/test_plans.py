"""Physical-plan regression tests: the plans we want at 100 TB, asserted
at test scale. `.explain("formatted")` output is checked for broadcast
strategy on dimension joins, parquet filter pushdown, whole-stage codegen
on the hot relational path, and the absence of Python row-at-a-time UDFs.
"""

from __future__ import annotations

import warnings

from pyspark.sql import functions as F

from scicat_ingestor_spark import queries as Q


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_j1_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(Q.q_j1_enrichment_join(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # both dims are broadcast-able


def test_q1_pushes_filter_to_scan(spark, sf_dir):
    plan = _plan(Q.q_q1_pricing_summary(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q1_prunes_columns(spark, sf_dir):
    plan = _plan(Q.q_q1_pricing_summary(spark, sf_dir))
    # scan schema must not include unused wide columns
    assert "l_comment" not in plan
    assert "l_partkey" not in plan


def test_q1_partial_aggregation(spark, sf_dir):
    plan = _plan(Q.q_q1_pricing_summary(spark, sf_dir))
    # map-side combine before the exchange: two HashAggregate phases
    assert plan.count("HashAggregate") >= 2


def test_q3_broadcasts_customer(spark, sf_dir):
    plan = _plan(Q.q_q3_top_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_anti_join_is_join_not_subquery_loop(spark, sf_dir):
    plan = _plan(Q.q_j4_anti_exists_pid(spark, sf_dir))
    assert "LeftAnti" in plan


def test_relational_path_has_no_python_udf(spark, sf_dir):
    """Everything except the gated sources (S6/S8 mapInPandas) must stay
    JVM-side: no BatchEvalPython / ArrowEvalPython stages."""
    exempt = {"s6_hdf5_scan", "s8_s9_file_stats", "multimodal_decode"}
    offenders, unchecked = [], []
    for name, fn in Q.QUERIES.items():
        if name in exempt:
            continue
        if Q.missing_inputs(name):
            unchecked.append(name)
            continue
        plan = _plan(fn(spark, sf_dir))
        if "BatchEvalPython" in plan or "ArrowEvalPython" in plan:
            offenders.append(name)
    if unchecked:
        warnings.warn(f"reference inputs missing, plans not checked: {unchecked}")
    assert not offenders, f"Python UDFs leaked into: {offenders}"


def test_minhash_digests_computed_once(spark, sf_dir):
    """The two-step projection must keep shingle digests out of the 8
    per-hash columns (md5 appears in one projection stage, not eight)."""
    from pyspark.sql import functions as F

    from scicat_ingestor_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = dedup.minhash_lsh_pairs(docs, "text", "doc_id")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("md5") <= 4  # 2 digests (+aliases), not 16


def test_salted_join_matches_plain_join(spark, sf_dir):
    """Skew salting: same result set as the unsalted equi-join, and the
    physical join key includes the salt (hot keys spread across
    reducers)."""
    from scicat_ingestor_spark.operators.util import salted_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    salted = salted_join(li, orders, "l_orderkey", salt_buckets=4)
    plain = li.join(orders, "l_orderkey")
    assert salted.columns == plain.columns
    a = sorted(map(tuple, salted.collect()))
    b = sorted(map(tuple, plain.collect()))
    assert a == b
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan  # join really runs on (key, salt)


def test_salted_join_is_deterministic_row_hash(spark, sf_dir):
    """Salt comes from a row hash, not rand(): two evaluations of the
    same plan produce identical salt assignment (retry-safe)."""
    from scicat_ingestor_spark.operators.util import salted_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber"
    ).limit(500)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    out = salted_join(li, orders, "l_orderkey", salt_buckets=8)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out.collect()))


def test_chunk_documents_is_scan_local(spark, sf_dir):
    """Chunking must be Generate over the scan — no shuffle beyond the
    test-scale re-split, no sort, no join."""
    plan = _plan(Q.q_chunk_documents(spark, sf_dir))
    assert "Generate" in plan  # the explode
    for op in ("SortMergeJoin", "BroadcastHashJoin", "Window", "Sort"):
        assert op not in plan
    # only the ensure_parallelism round-robin re-split may appear
    import re

    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all(e.startswith("RoundRobinPartitioning") for e in exchanges), exchanges


def test_pack_sequences_single_semantic_shuffle(spark, sf_dir):
    """The window shuffle on the shard key is the ONLY hash exchange;
    the final aggregate must reuse the window's partitioning."""
    plan = _plan(Q.q_pack_sequences(spark, sf_dir))
    assert plan.count("hashpartitioning(") == 1, plan[:2000]


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    plan = _plan(Q.q_text_decontaminate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_quota_sample_single_shuffle_window(spark, sf_dir):
    plan = _plan(Q.q_source_quota_sample(spark, sf_dir))
    assert plan.count("hashpartitioning(") == 1
    assert "Window" in plan
    # Spark 4 pushes the rank filter below the shuffle: only each map
    # task's top-K rows per source ever move — the hot-source skew
    # mitigation is in the engine itself
    assert "WindowGroupLimit" in plan


def test_corpus_prep_pipeline_shape(spark, sf_dir):
    """The composed corpus-prep plan: quality filter reaches the scan,
    contamination + dedup sides broadcast, exact dedup keeps first via
    WindowGroupLimit (map-side), and only the two semantic fact shuffles
    (dedup hash, pack shard key) remain."""
    plan = _plan(Q.q_corpus_prep_e2e(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # exactly four hash exchanges: two fact-side (md5 dedup key, pack
    # shard key) and two tiny-side distincts (eval grams, contaminated
    # ids) that feed broadcasts
    assert plan.count("hashpartitioning(") == 4


def test_asof_join_is_single_shuffle_not_range_join(spark, sf_dir):
    """The as-of composition must plan as union + window on the join
    key — never a BroadcastNestedLoopJoin/cartesian from the range
    condition."""
    plan = _plan(Q.q_asof_last_click(spark, sf_dir))
    assert "Window" in plan
    for bad in ("BroadcastNestedLoopJoin", "CartesianProduct", "SortMergeJoin"):
        assert bad not in plan
    # one hash exchange for the per-user window, one for the click
    # pre-aggregation (same key, kept by AQE when partitioning matches)
    assert plan.count("hashpartitioning(") <= 2


def test_q5_broadcasts_all_dimensions(spark, sf_dir):
    """The 6-table chain: every dimension (customer, supplier, nation,
    region) must broadcast; at most the lineitem ⋈ orders join may pick
    a non-broadcast strategy at scale."""
    plan = _plan(Q.q_q5_local_supplier_volume(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan
    # region/date filters push into their scans
    assert "PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_text_repetition_is_scan_local(spark, sf_dir):
    """The Gopher gate is pure Column expressions: no semantic shuffle
    (the only Exchange is _t's round-robin parallelism fix for the
    single-row-group testdata) and no Python in the plan."""
    plan = _plan(Q.q_text_repetition(spark, sf_dir))
    assert "hashpartitioning(" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pii_scrub_is_scan_local(spark, sf_dir):
    plan = _plan(Q.q_text_pii_scrub(spark, sf_dir))
    assert "hashpartitioning(" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_line_dedup_two_semantic_shuffles(spark, sf_dir):
    """Global line dedup: exactly two hash exchanges — the
    first-occurrence window on the line hash and the doc reassembly.
    No WindowGroupLimit here by design: the aggregate consumes BOTH
    kept and dropped rows (n_lines vs n_kept), so every row must reach
    the window's consumer."""
    plan = _plan(Q.q_dedup_lines_global(spark, sf_dir))
    assert plan.count("hashpartitioning(") == 2
    assert "SortMergeJoin" not in plan


def test_semantic_dedup_no_forced_broadcast(spark, sf_dir):
    """SemDeDup: the duplicate-id anti-join must NOT carry a forced
    broadcast hint — the dup set is O(dup_rate x corpus), so on a
    dup-dense corpus a forced BroadcastExchange OOMs the driver (the
    exact failure measured for the pairs side of
    dedup_lsh_jaccard_verified on the x100 replica). AQE picks
    broadcast only when the runtime size fits. The cell assignment
    stays a computed column (no corpus shuffle before the in-cell
    join)."""
    df = Q.q_dedup_semantic(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    # no join hint anywhere in the optimized plan — a forced
    # F.broadcast() survives optimization as `hint=(strategy=broadcast)`
    assert "strategy=broadcast" not in opt
    assert "LeftAnti" in opt
    plan = _plan(df)
    assert "LeftAnti" in plan


def test_simhash_auto_split_no_hot_path_is_unsplit_plan(spark, sf_dir):
    """The split_threshold census must add NOTHING to the data path when
    no bucket is hot: the returned plan is the unsplit plan, modulo
    expression-id/lambda-variable numbering. (The census itself is a
    separate small job at build time, not an operator in this plan.)"""
    import re

    from scicat_ingestor_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    kw = dict(bits=16, bands=4)
    base = dedup.simhash_hamming_pairs(docs, "text", "doc_id", **kw)
    auto = dedup.simhash_hamming_pairs(
        docs, "text", "doc_id", split_threshold=10**9, **kw
    )

    def canon(df):
        s = df._jdf.queryExecution().optimizedPlan().toString()
        s = re.sub(r"#\d+L?", "#x", s)
        return re.sub(r"\blambda [a-z]+_\d+", "lambda v_n", s)

    assert canon(auto) == canon(base)
    # and no triangle-split artifacts anywhere (no grp/cell explode)
    assert "ci#" not in auto._jdf.queryExecution().optimizedPlan().toString()


def test_gate_filter_stays_above_repartition(spark, sf_dir):
    """Catalyst pin (VERDICT r6 #3a): gate()'s tautological
    spark_partition_id() conjunct must keep the CPU-heavy filter ABOVE
    the parallelism-restoring repartition — a Spark upgrade that starts
    pushing partition-dependent predicates would silently re-serialize
    the regex folds onto the one-task scan (measured 2.9 s of 6.3 s at
    sf0.1, util.py:25-48). The plain-filter control proves the test
    discriminates: without gate() the same predicate IS pushed below."""
    from pyspark.sql import functions as F

    from scicat_ingestor_spark.operators.util import ensure_parallelism, gate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cond = F.length("text") > 50

    def order(df):
        lines = df._jdf.queryExecution().optimizedPlan().toString().splitlines()
        fi = next(i for i, l in enumerate(lines) if "Filter" in l)
        ri = next(i for i, l in enumerate(lines) if "Repartition" in l)
        return fi, ri

    gfi, gri = order(gate(ensure_parallelism(docs), cond))
    assert gfi < gri, "gate() filter was pushed below the repartition"
    pfi, pri = order(ensure_parallelism(docs).filter(cond))
    assert pfi > pri, (
        "control broke: plain filters are no longer pushed through "
        "Repartition — re-audit whether gate() is still needed"
    )


def test_ensure_parallelism_probes_once_per_plan(spark, sf_dir):
    """r9 (VERDICT r8 #3): the split-count probe (df.rdd) forces a
    physical-planning pass; repeated invocations of the same query
    shape must hit the (session, semanticHash) memo, and an
    expected_splits hint must skip the probe entirely."""
    from scicat_ingestor_spark.operators import util

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    util._SPLITS_CACHE.clear()
    before = util._PROBE_COUNT
    a = util.ensure_parallelism(docs)
    assert util._PROBE_COUNT == before + 1
    # same logical plan (fresh object) -> memo hit, no second probe
    docs2 = spark.read.parquet(f"{sf_dir}/documents.parquet")
    b = util.ensure_parallelism(docs2)
    assert util._PROBE_COUNT == before + 1
    # behavior unchanged: both calls produced the same decision
    assert a.rdd.getNumPartitions() == b.rdd.getNumPartitions()
    # caller-known split count: no probe, no memo lookup
    util.ensure_parallelism(docs, expected_splits=1)
    c = util.ensure_parallelism(docs, expected_splits=10**6)
    assert util._PROBE_COUNT == before + 1
    assert c is docs  # plenty of splits declared -> no repartition


def test_simhash_fold_single_eval_and_shuffle_reuse(spark, sf_dir):
    """Catalyst pins (VERDICT r6 #3b/#3c) for the banded-SimHash
    self-join: (b) the signature fold is evaluated once per join SIDE
    (md5 appears exactly twice in the optimized plan — the coalesce'd
    non-null band keys fold the inferred isnotnull to TRUE; a regression
    re-runs the fold inside the scan stage, measured 4.5 s of 5.2 s at
    sf0.1), and (c) at runtime the second side reads the first side's
    shuffle (ReusedExchange in the final adaptive plan), so the fold
    executes ONCE total."""
    df = Q.q_dedup_simhash_hamming(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("md5(") == 2, f"fold count drifted: {opt.count('md5(')}"
    df.collect()  # AQE finalizes stage reuse only on the df's own action
    final = df._jdf.queryExecution().executedPlan().toString()
    assert final.count("ReusedExchange") >= 1, (
        "self-join no longer reuses the banded-signature shuffle"
    )


def test_minhash_self_join_reuses_exchange(spark, sf_dir):
    """Catalyst pin (VERDICT r6 #3c, second self-join path): the
    MinHash-LSH candidate self-join must read ONE materialized shuffle
    for both sides at runtime — a regression recomputes the full
    signature pipeline (2 md5 per shingle) for the second side."""
    from scicat_ingestor_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = dedup.minhash_lsh_pairs(docs, "text", "doc_id")
    df.collect()  # AQE finalizes stage reuse only on the df's own action
    final = df._jdf.queryExecution().executedPlan().toString()
    assert final.count("ReusedExchange") >= 1, (
        "MinHash self-join no longer reuses the banded-signature shuffle"
    )


def test_knn_join_is_bucketed_not_cross(spark, sf_dir):
    """Self-kNN: candidates must come from the cell equi-join (hash
    join on the computed cell id), never a cross/nested-loop product;
    at runtime the self-join reuses the one materialized corpus
    exchange; the rank window's input is the in-cell candidate set."""
    df = Q.q_ann_knn_join(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert final.count("ReusedExchange") >= 1


def test_ivf_cell_fold_count_pinned(spark, sf_dir):
    """Catalyst pin (VERDICT r6 #3b): the IVF cell assignment
    (array_position over the centroid-dot fold) appears exactly once
    per consumer subplan — 2 for ann_ivf_topk (query + corpus side),
    3 for dedup_semantic (join a/b + survivors projection). An inferred
    isnotnull(<fold>) pushed into the scan would raise these counts;
    a Spark upgrade that changes them means re-measuring the
    computed-join-key behavior (SCALE.md 'Computed join keys')."""
    expected = {"ann_ivf_topk": 2, "dedup_semantic": 3}
    got = {}
    for name, want in expected.items():
        opt = (
            Q.QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        got[name] = opt.count("array_position(")
    assert got == expected, got


def test_q6_pushes_all_predicates_and_prunes(spark, sf_dir):
    plan = _plan(Q.q_q6_forecast_revenue(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "GreaterThanOrEqual(l_discount,0.05)" in plan
    assert "LessThan(l_quantity,24" in plan
    # projection pruned to the three used columns + filter columns
    assert "l_comment" not in plan and "l_partkey" not in plan


def test_q10_takeordered_and_broadcasts(spark, sf_dir):
    plan = _plan(Q.q_q10_returned_items(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)" in plan


def test_q4_semi_join_no_fanout(spark, sf_dir):
    plan = _plan(Q.q_q4_priority_semijoin(spark, sf_dir))
    # EXISTS compiles to a semi join (no post-join distinct needed) and
    # the probe scan prunes to the two columns it uses
    assert "LeftSemi" in plan
    assert "l_extendedprice" not in plan


def test_q18_aggregates_before_join(spark, sf_dir):
    plan = _plan(Q.q_q18_large_orders(spark, sf_dir))
    # the quantity rollup (with map-side partial) happens on lineitem
    # alone; orders join the filtered sliver, customer is broadcast
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_q19_single_join_with_residual_disjunction(spark, sf_dir):
    plan = _plan(Q.q_q19_disjunctive_revenue(spark, sf_dir))
    # one broadcast join on partkey; the OR branches are a residual
    # filter, not a union of three joins (formatted explain names each
    # node twice: once in the tree, once in its detail section)
    assert plan.count("BroadcastHashJoin") == 2
    assert "Union" not in plan


def test_bloom_prefilter_stays_codegen(spark, sf_dir):
    plan = _plan(Q.q_text_decontaminate_bloom(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # exact verify join still broadcast


def test_no_heavy_expression_in_pushed_filters(spark, sf_dir):
    """Joins keyed on computed signatures must not let the inferred
    isnotnull(key) drag the defining fold into a pushed-down Filter
    (it would re-run the most expensive map work, single-threaded on a
    one-split scan — see SCALE.md 'Computed join keys'). Keys are made
    provably non-null via coalesce; this audit keeps them that way."""
    heavy = ("aggregate(", "array_join(", "zip_with(")
    fams = ("dedup_", "ann_", "text_decontaminate", "corpus_prep")
    offenders = []
    for name, fn in Q.QUERIES.items():
        if not name.startswith(fams):
            continue
        plan = fn(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
        for line in plan.split("\n"):
            ls = line.strip(" :+-")
            if ls.startswith("Filter") and any(h in ls for h in heavy):
                # the Gopher repetition gate IS a filter over fold
                # features — a single legitimate evaluation, not an
                # inferred duplicate of a join key
                if "keep_gopher" in ls or "CASE WHEN" in ls:
                    continue
                offenders.append((name, ls[:80]))
    assert not offenders, offenders


def test_ivf_pq_cell_join_cuts_window_input(spark, sf_dir):
    """The IVF-PQ composition must probe by cell BEFORE ADC ranking: an
    equi (hash) join on the cell id, NOT the full-corpus nested-loop
    cross join plain pq_topk uses — so the rank window's input is the
    probed candidate set, never the whole corpus."""
    plan = _plan(Q.q_ann_ivf_pq_topk(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Window" in plan
    # contrast: the uncomposed PQ baseline IS the full-corpus cross join
    base = _plan(Q.q_ann_pq_topk(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in base or "CartesianProduct" in base


def test_codebook_literals_constant_fold_before_execution(spark, sf_dir):
    """The ANN family ships its codebook/centroid tensors as
    similarity.lit_doubles — a from_json over one string literal that
    Catalyst's ConstantFolding must collapse to a plain array literal
    BEFORE execution. If a Spark upgrade ever stops folding
    JsonToStructs, every corpus row would parse kilobytes of JSON and
    the whole family silently craters — pin the fold here."""
    for q in (Q.q_ann_pq_topk, Q.q_ann_ivf_pq_topk, Q.q_ann_lsh_topk):
        df = q(spark, sf_dir)
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert "from_json" not in optimized and "jsontostructs" not in optimized.lower(), (
            f"{q.__name__}: JsonToStructs survived optimization"
        )


def test_q7_q8_broadcast_all_dims(spark, sf_dir):
    """The TPC-H join chains must broadcast every dimension side and
    leave only the lineitem x orders join to AQE — no sort-merge of a
    dim, no nested loop anywhere."""
    for q, n_bhj in ((Q.q_q7_volume_shipping, 4), (Q.q_q8_market_share, 6)):
        plan = _plan(q(spark, sf_dir))
        assert plan.count("BroadcastHashJoin") >= n_bhj, q.__name__
        assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_q13_outer_join_keeps_zero_order_customers(spark, sf_dir):
    """Q13's LEFT join must keep customers with no qualifying orders —
    the c_count=0 bucket exists and the histogram covers every
    customer exactly once."""
    rows = Q.q_q13_order_count_distribution(spark, sf_dir).collect()
    total = sum(r["custdist"] for r in rows)
    n_cust = Q._t(spark, sf_dir, "customer").count()
    assert total == n_cust


def test_q15_scalar_max_is_broadcast_not_global_window(spark, sf_dir):
    """Q15's max-revenue subquery must be a 1-row aggregate broadcast
    back — an unpartitioned Window would funnel the whole per-supplier
    rollup through ONE task (millions of rows sorted on one partition
    at 100 TB)."""
    plan = _plan(Q.q_q15_top_supplier(spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_q2_correlated_min_is_decorrelated_join(spark, sf_dir):
    """Q2's per-part min-cost subquery must decorrelate into a groupBy
    + equi-join back — hash joins only, dims broadcast, never a
    re-evaluated subquery loop or a nested-loop join."""
    plan = _plan(Q.q_q2_min_cost_supplier(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_q16_not_in_is_anti_join(spark, sf_dir):
    """Q16's NOT IN (complaint suppliers) must compile to a LeftAnti
    hash join, not a per-row subquery probe."""
    plan = _plan(Q.q_q16_supplier_part_types(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q20_nested_semi_joins(spark, sf_dir):
    """Q20's two IN-subqueries (promoted parts; significant suppliers)
    must both be semi joins — the plan has at least two LeftSemi hash
    joins and no nested loop."""
    plan = _plan(Q.q_q20_part_promotion(spark, sf_dir))
    assert plan.count("LeftSemi") >= 2
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q21_exists_and_not_exists_are_hash_self_joins(spark, sf_dir):
    """Q21's EXISTS / NOT EXISTS lineitem self-probes must be LeftSemi /
    LeftAnti hash joins on l_orderkey (equi key + suppkey inequality as
    residual) — the inequality must NOT force a nested-loop join."""
    plan = _plan(Q.q_q21_suppliers_who_kept_waiting(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q11_q22_scalar_threshold_is_one_row_broadcast(spark, sf_dir):
    """Q11/Q22's global-threshold scalar is a 1-row aggregate joined
    back via broadcast. The physical form is a BroadcastNestedLoopJoin
    over a SINGLE-ROW build side (that IS the scalar-subquery physical
    plan; cost is one comparison per row) — assert the broadcast is
    there and, critically, that no unpartitioned Window snuck in."""
    for q in (Q.q_q11_important_stock, Q.q_q22_global_sales_opportunity):
        plan = _plan(q(spark, sf_dir))
        assert "BroadcastExchange" in plan, q.__name__
        assert "Window" not in plan, q.__name__


def test_q12_pushes_date_filter_to_scan(spark, sf_dir):
    """Q12's ship-date window must reach the parquet scan as a pushed
    filter; the late-shipment predicate (references both sides) stays a
    post-join residual."""
    plan = _plan(Q.q_q12_late_priority(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan


def test_q9_broadcasts_all_dims(spark, sf_dir):
    """Q9's part/supplier/nation sides must broadcast; only lineitem x
    orders is left to AQE."""
    plan = _plan(Q.q_q9_product_type_profit(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q9_q8_broadcast_reduction_precedes_orders_shuffle(spark, sf_dir):
    """The join-order rule from the x100 sweep (SCALE.md r5): the
    selective broadcast part join must sit INSIDE the orders join (cut
    lineitem before the one real shuffle). DataFrame join order is what
    executes — joining orders first measured 7x slower at x100. In the
    optimized-plan tree children print after parents, so the part join
    line must come after the orders join line."""
    for q in (Q.q_q9_product_type_profit, Q.q_q8_market_share):
        tree = q(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
        lines = tree.split("\n")
        i_orders = next(
            i for i, l in enumerate(lines) if "Join" in l and "= o_orderkey" in l
        )
        i_part = next(
            i for i, l in enumerate(lines) if "Join" in l and "= p_partkey" in l
        )
        assert i_part > i_orders, (
            f"{q.__name__}: part join must be a descendant of the orders join"
        )


def test_q21_shape_survives_mega_order_skew(spark):
    """Skew drill for the EXISTS/NOT-EXISTS self-join shape: one order
    carries 5000 lines from 40 suppliers (the mega-key the scaled
    replicas never produce) while normal orders have a handful. The
    LeftSemi/LeftAnti hash joins on orderkey must complete and agree
    with a pure-Python oracle of the same rule — a mega-bucket makes
    this shape slow before it makes it wrong, and AQE's skew-join
    splitting handles slow; wrong would be a join-condition bug."""
    import itertools

    from pyspark.sql import functions as F

    rows = []
    # mega-order 1: suppliers 0..39 round-robin over 5000 lines; only
    # supplier 7's lines are late
    for i in range(5000):
        supp = i % 40
        rows.append((1, supp, supp == 7))
    # normal orders: two suppliers each, both late in order 2 (so NOT
    # EXISTS kills both), single-supplier order 3 (EXISTS kills it),
    # clean case order 4 (supplier 5 late, supplier 6 on time)
    rows += [(2, 1, True), (2, 2, True)]
    rows += [(3, 9, True)]
    rows += [(4, 5, True), (4, 6, False)]
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_suppkey long, late boolean"
    ).repartition(32)

    l1 = li.filter("late").select("l_orderkey", "l_suppkey")
    l2 = li.select(
        F.col("l_orderkey").alias("l2_orderkey"),
        F.col("l_suppkey").alias("l2_suppkey"),
    )
    l3 = li.filter("late").select(
        F.col("l_orderkey").alias("l3_orderkey"),
        F.col("l_suppkey").alias("l3_suppkey"),
    )
    waiting = l1.join(
        l2,
        (l1.l_orderkey == l2.l2_orderkey) & (l1.l_suppkey != l2.l2_suppkey),
        "left_semi",
    ).join(
        l3,
        (l1.l_orderkey == F.col("l3_orderkey"))
        & (l1.l_suppkey != F.col("l3_suppkey")),
        "left_anti",
    )
    got = {
        (r["l_suppkey"], r["n"])
        for r in waiting.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }

    # pure-python oracle
    by_order: dict = {}
    for ok, sk, late in rows:
        by_order.setdefault(ok, []).append((sk, late))
    expect: dict = {}
    for ok, lines in by_order.items():
        for sk, late in lines:
            if not late:
                continue
            others = [(s, lt) for s, lt in lines if s != sk]
            if any(others) and not any(lt for _, lt in others):
                expect[sk] = expect.get(sk, 0) + 1
    assert got == {(k, v) for k, v in expect.items()}
    # the drill's point: supplier 7 waits 125 times inside the
    # mega-order (its lines are the only late ones there)
    assert expect[7] == 125


def test_dedup_incremental_probe_shape(spark, sf_dir):
    """The incremental probe's two rules take their scale-correct
    physical shapes: base collision = LeftSemi equi-join against the
    index (the index NEVER rides a window exchange — a union into the
    bucket window would re-shuffle the full |corpus|·bands index per
    probe), intra-increment first-occurrence = a window over the
    checkpointed increment buckets alone. Rejects leave via a LeftAnti
    equi-join, never a nested loop."""
    # bypass the @_compiled memo: a memoized DataFrame may have been
    # executed by an earlier test, and formatted explain of an executed
    # AQE plan prints final+initial trees (every node counted twice)
    plan = _plan(Q.q_dedup_incremental.__wrapped__(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the increment's digest pipeline ran ONCE at bucket checkpoint
    # time (shingle_digests = two md5 calls); the only md5s left in the
    # plan are the inline index build's — the probe side scans the
    # checkpointed RDD
    assert plan.count("md5") == 2
    # bucket-keyed exchanges: index-build distinct + increment window;
    # the full index never re-partitions for the probe
    assert plan.count("hashpartitioning(band") == 2

    from scicat_ingestor_spark.operators import dedup

    docs = Q._t(spark, sf_dir, "documents")
    index = spark.createDataFrame([(0, "x")], "band int, sig string")
    probe = _plan(dedup.incremental_dedup(docs, index, "text", "doc_id"))
    # digest-once is literal: the probe plan holds ZERO md5 calls (the
    # bucket stream was materialized by localCheckpoint), and both
    # rejection rules read the same checkpointed scan
    assert probe.count("md5") == 0
    assert "ExistingRDD" in probe


def test_events_window_family_stays_partitioned(spark, sf_dir):
    """The ordered-window query must never degrade to a single-partition
    global window (the q15 anti-pattern this repo removed)."""
    plan = _plan(Q.q_events_user_running(spark, sf_dir))
    assert "Window" in plan
    assert "No Partition Defined" not in plan
    # one exchange keyed on user_id serves every window function
    assert plan.count("hashpartitioning(") == 1


def test_pivot_is_single_pass(spark, sf_dir):
    """The closed-vocabulary conditional-aggregate form must plan ONE
    exchange with map-side partial aggregation — the built-in pivot()
    plans two aggregate phases even with its value list pinned (that is
    why the query avoids it; see its docstring)."""
    plan = _plan(Q.q_events_pivot_daily(spark, sf_dir))
    assert plan.count("hashpartitioning(") == 1
    assert "pivotfirst" not in plan.lower()
    assert plan.count("HashAggregate") >= 2


def test_funnel_windows_share_one_keyed_exchange(spark, sf_dir):
    """All three stage windows and the per-user collapse must ride ONE
    user_id hash exchange — and none may degrade to an unpartitioned
    window. (The closing global count-sum is a scalar aggregate over
    per-user rows; its SinglePartition exchange is the correct shape,
    not a window hazard.)"""
    plan = _plan(Q.q_events_funnel(spark, sf_dir))
    assert "No Partition Defined" not in plan
    assert plan.count("hashpartitioning(user_id") == 1


def test_pareto_running_total_has_no_global_window(spark, sf_dir):
    """The distributed prefix sum must never plan the single-partition
    global window the naive cumulative sum would: every Window node is
    keyed (the in-partition cumsum on _rt_pid), the total order rides a
    RangePartitioning exchange, and the offset relation joins broadcast."""
    plan = _plan(Q.q_supplier_pareto(spark, sf_dir))
    assert "Window" in plan
    assert "No Partition Defined" not in plan
    assert "rangepartitioning" in plan.lower()
    # every window is keyed on the range-partition id
    import re

    specs = re.findall(r"Arguments: \[sum.*?windowspecdefinition\(([^,]*),", plan)
    assert specs  # the cumsum window must exist
    for args in specs:
        assert "_rt_pid" in args


def test_ivf_hot_cell_split_no_hot_path_is_unsplit_plan(spark, sf_dir):
    """The r8 IVF-cell census (knn_join / semantic_dedup_survivors)
    must add NOTHING to the data path when no cell is hot: the armed
    plan equals the split_threshold=None plan, modulo expression-id /
    lambda numbering. (The census is a separate bounded job at build
    time — at most `cells` rows collected — not an operator here.)"""
    import re

    from scicat_ingestor_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)

    def canon(df):
        s = df._jdf.queryExecution().optimizedPlan().toString()
        s = re.sub(r"#\d+L?", "#x", s)
        return re.sub(r"\blambda [a-z]+_\d+", "lambda v_n", s)

    for fn in (
        lambda t: similarity.knn_join(emb, dim=64, k=3, split_threshold=t),
        lambda t: similarity.knn_join(
            emb, dim=64, k=3, nprobe=2, split_threshold=t
        ),
        lambda t: similarity.semantic_dedup_survivors(
            emb, dim=64, split_threshold=t
        ),
    ):
        armed, off = fn(10**9), fn(None)
        assert canon(armed) == canon(off)
        assert "_ci#" not in armed._jdf.queryExecution().optimizedPlan().toString()


def test_shared_fanout_seal_reuses_exchange(spark, sf_dir):
    """Optimizer pin (r12, ADVICE r11 #1): shared_fanout's sealed
    exchange relies on Catalyst neither folding the never-taken pin
    branch nor pushing/pruning through the non-deterministic CaseWhen —
    version-specific behavior a Spark upgrade could silently defeat,
    re-running the Python plane once per branch with no correctness
    signal. Assert the collapse on a real fanout query: with AQE off
    (planning-time reuse prints; at runtime AQE's stage cache does the
    same dedup), the plan must hold exactly ONE synth+parse MapInPandas
    pair and at least one ReusedExchange, and the sealed exchange must
    carry the keep-narrowed schema, not the full parse schema."""
    import re

    from scicat_ingestor_spark import queries as Q

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(Q.q_warc_robots_filter(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "ReusedExchange" in plan, "fanout seal defeated: no reuse"
    n_py = len(re.findall(r"^\(\d+\) MapInPandas", plan, re.M))
    assert n_py == 2, f"expected one synth+parse pair, got {n_py} nodes"
    # keep= narrowing: the sealed exchange ships 6 columns (keys + the
    # branch-consumed union), not the 12-column parse schema
    m = re.search(
        r"^\(\d+\) Exchange\nInput \[(\d+)\].*\n"
        r"Arguments: hashpartitioning\(media_id",
        plan,
        re.M,
    )
    assert m is not None, "sealed exchange not found in plan"
    assert int(m.group(1)) == 6, f"exchange width {m.group(1)} != 6"


def test_ngram_chunk_split_matches_plain_pairs(spark):
    """The census-flagged triangle chunk-split in ngram_jaccard_pairs
    (r12) must return EXACTLY the plain all-pairs result — every pair
    once, same jaccard. Forced by lowering the module threshold so the
    synthetic 40-doc block trips the split (k=ceil(40/12)=4 > 2)."""
    from pyspark.sql import functions as F

    from scicat_ingestor_spark.operators import dedup

    rows = [
        (i, "en" if i < 40 else "fr", f"tok{i % 7} tok{(i * 3) % 11} tok{i % 5} common")
        for i in range(52)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    def pairs(**kw):
        return sorted(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in dedup.ngram_jaccard_pairs(
                docs, "text", "doc_id", "lang", threshold=0.2, shingle_n=1, **kw
            ).collect()
        )

    plain = pairs(max_block=None)
    old = dedup._SPLIT_MEMBERS
    dedup._SPLIT_MEMBERS = 12
    try:
        split = pairs(max_block=1000)
    finally:
        dedup._SPLIT_MEMBERS = old
    assert split == plain
    assert len(plain) > 0


def test_ngram_no_split_is_plain_plan(spark, sf_dir):
    """With every block under _SPLIT_MEMBERS (all gate corpora), the
    census must add NOTHING to the data path: the armed plan equals the
    max_block=None plain plan, modulo expression-id numbering (the
    VERDICT r11 #1 regression was exactly a split applied to blocks
    that never needed it)."""
    import re

    from scicat_ingestor_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def canon(df):
        s = df._jdf.queryExecution().optimizedPlan().toString()
        s = re.sub(r"#\d+L?", "#x", s)
        return re.sub(r"\blambda [a-z]+_\d+", "lambda v_n", s)

    base = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", "lang", threshold=0.5, shingle_n=1
    )
    armed = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", "lang", threshold=0.5, shingle_n=1,
        max_block=20_000,
    )
    assert canon(armed) == canon(base)

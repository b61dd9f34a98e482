"""Physical-plan shape assertions — the scale contract.

Locks in: filters pushed to the parquet scan, column pruning, broadcast
joins where intended, TakeOrderedAndProject for top-k, bounded shuffle
counts, whole-stage codegen.  A change that silently degrades a plan
(e.g. un-pushes a filter) fails here even though results stay correct.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from data_warehouse_hive_spark.plans.explain import (
    count_exchanges,
    formatted_plan,
    has_whole_stage_codegen,
    join_strategies,
    pushed_filters,
    read_schemas,
    uses_take_ordered,
)
from data_warehouse_hive_spark.registry import load_all
from data_warehouse_hive_spark.session import conf_scope

REGISTRY = load_all()


def _plan(spark, sf_dir, name):
    return formatted_plan(REGISTRY[name].fn(spark, sf_dir))


def test_scan_prunes_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_scan_parquet")
    schemas = read_schemas(plan)
    assert schemas, plan
    # only the 3 projected columns reach the scan
    assert all(
        "p_partkey" in s and "p_brand" not in s and "p_size" not in s for s in schemas
    ), schemas


def test_filters_are_pushed(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_filter_compare")
    pushed = " ".join(pushed_filters(plan))
    assert "l_quantity" in pushed and "l_shipdate" in pushed, plan


def test_flagship_filter_pushed_and_single_shuffle(spark, sf_dir):
    df = REGISTRY["q_groupby_agg"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "l_shipdate" in " ".join(pushed_filters(plan)), plan
    # partial/final hash agg over one exchange on the group keys
    assert count_exchanges(plan) == 1, plan
    assert has_whole_stage_codegen(df)


def test_broadcast_join_is_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_join_broadcast")
    assert "BroadcastHashJoin" in join_strategies(plan), plan


def test_multiway_star_join_broadcasts_dims(spark, sf_dir):
    """Fixed-size dims (nation/region) broadcast via explicit hint; the
    SF-scaling tables (lineitem, orders, customer) carry NO hint — the
    optimizer broadcasts customer while it fits under the threshold at
    small SF and shuffles it at scale.  A forced broadcast(customer)
    would OOM at the 100 TB target, so the hint's absence is the contract
    under test."""
    import inspect

    from data_warehouse_hive_spark.operators import joins as joins_mod

    plan = _plan(spark, sf_dir, "q_join_multiway")
    strategies = join_strategies(plan)
    # nation + region always broadcast (customer may too, by CBO choice)
    assert strategies.count("BroadcastHashJoin") >= 2, strategies
    # at most the two fact-scale joins (li⋈o, +customer) ever shuffle
    assert (
        strategies.count("SortMergeJoin") + strategies.count("ShuffledHashJoin") <= 2
    ), strategies
    # the customer join must be optimizer-chosen, never hint-forced
    src = inspect.getsource(joins_mod.q_join_multiway.__wrapped__) if hasattr(
        joins_mod.q_join_multiway, "__wrapped__"
    ) else inspect.getsource(joins_mod.q_join_multiway)
    assert "broadcast(c)" not in src, "customer must not be hint-broadcast"


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_topk")
    assert uses_take_ordered(plan), plan


def test_theta_join_broadcasts_small_side(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_join_theta")
    assert "BroadcastNestedLoopJoin" in join_strategies(plan), plan


def test_semi_anti_join_strategies(spark, sf_dir):
    for name in ("q_join_semi", "q_join_anti"):
        plan = _plan(spark, sf_dir, name)
        assert join_strategies(plan), plan  # a real join op, not a filter scan


def test_lsh_sim_search_broadcasts_query_side(spark, sf_dir):
    """The LSH bucket join must broadcast the (tiny) query side — the
    corpus never shuffles for the join itself."""
    plan = _plan(spark, sf_dir, "q_sim_search_lsh")
    assert "BroadcastHashJoin" in join_strategies(plan), plan


def test_dedup_verify_no_cartesian(spark, sf_dir):
    """LSH→verify must never plan a cartesian/nested-loop product — the
    exact Jaccard runs only on equi-joined candidates."""
    plan = _plan(spark, sf_dir, "q_dedup_verify")
    strategies = join_strategies(plan)
    assert strategies, plan
    assert all(
        "Cartesian" not in s and "NestedLoop" not in s for s in strategies
    ), strategies


def test_jaccard_union_via_size_identity(spark, sf_dir):
    """r15: the per-pair union size rides |a|+|b|−|a∩b| (exact for the
    distinct shingle arrays), NOT a 2n-element array_distinct(concat)
    hash set per pair — pin the plan so the identity can't silently
    regress (measured −33% on q_dedup_lsh_tuning at sf0.1)."""
    for name in ("q_dedup_lsh_tuning", "q_dedup_verify", "q_dedup_prefix_join"):
        plan = _plan(spark, sf_dir, name)
        assert "array_intersect" in plan, (name, plan[:2000])
        assert "array_distinct(concat" not in plan, (name, plan[:2000])


def test_udaf_shuffles_on_group_key_once(spark, sf_dir):
    """applyInPandas groups by the high-cardinality suppkey: exactly one
    exchange, keyed on the group column."""
    plan = _plan(spark, sf_dir, "q_udaf_grouped")
    assert count_exchanges(plan) == 1, plan
    assert "l_suppkey" in plan, plan


def test_stats_profile_partial_aggs_are_flat(spark, sf_dir):
    """The distinct count must NOT ride along in the main aggregation:
    no Expand node, and the first (partial) HashAggregate carries no
    group keys from l_quantity."""
    plan = _plan(spark, sf_dir, "q_stats_profile")
    assert "Expand" not in plan, plan


def test_minhash_single_band_shuffle(spark, sf_dir):
    """Candidate generation is ONE shuffle on the band bucket plus the
    signature's doc_id aggregation and the final distinct — no self-join
    doubling (which would add exchanges for each side)."""
    plan = _plan(spark, sf_dir, "q_dedup_minhash")
    # spread() + groupBy(doc_id) + groupBy(band) + distinct = 4 exchanges
    assert count_exchanges(plan) <= 4, plan


def test_minhash_capped_no_cartesian_and_bounded_shuffles(spark, sf_dir):
    """The capped generator keeps the uncapped op's shape — pair
    expansion via ONE band-bucket shuffle, never a self-join — and the
    only nested-loop joins are the two BROADCAST 1-row audit attachments
    (skipped-mass columns), never a CartesianProduct."""
    plan = _plan(spark, sf_dir, "q_dedup_minhash_capped")
    assert "CartesianProduct" not in plan, plan
    loops = [s for s in join_strategies(plan) if "NestedLoop" in s]
    assert all("Broadcast" in s for s in loops), join_strategies(plan)
    # pair side: spread + groupBy(doc) + groupBy(band) + distinct = 4;
    # audit side: two single-partition aggregates = 2 (+1 for the
    # docs-skipped pre-agg partial) — anything beyond that means the
    # bucket relation re-shuffled per consumer.
    assert count_exchanges(plan) <= 8, plan


def test_cbo_join_reorder_uses_analyze_stats(spark, sf_dir):
    """ddl_analyze_stats' ANALYZE output must actually FEED Spark's CBO
    (r11 VERDICT task 4): on a 3-table star written in a deliberately
    bad join order (big dim first, selective dim last), enabling
    spark.sql.cbo + joinReorder with table+column stats present moves
    the selective dim's join BELOW the big dim's in the optimized tree;
    with CBO off the syntactic order is kept.  Empirically verified
    behavior of Spark 4.1 (probe 2026-08-16): reorder happens, so this
    asserts the strong outcome, not just that stats are loaded."""
    from data_warehouse_hive_spark.tables import t as tbl

    names = ("cboplan_fact", "cboplan_dima", "cboplan_dimb")
    tbl(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    ).write.mode("overwrite").saveAsTable(names[0])
    tbl(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    ).write.mode("overwrite").saveAsTable(names[1])
    tbl(spark, sf_dir, "part").filter("p_size = 1").select(
        "p_partkey", "p_brand"
    ).write.mode("overwrite").saveAsTable(names[2])
    cbo = ("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
    try:
        for tb, cols in (
            (names[0], "l_orderkey,l_partkey"),
            (names[1], "o_orderkey"),
            (names[2], "p_partkey"),
        ):
            spark.sql(
                f"ANALYZE TABLE {tb} COMPUTE STATISTICS FOR COLUMNS {cols}"
            )
        q = f"""
          SELECT sum(f.l_quantity) AS s
          FROM {names[1]} a
          JOIN {names[0]} f ON f.l_orderkey = a.o_orderkey
          JOIN {names[2]} b ON f.l_partkey = b.p_partkey
        """

        def dim_order() -> list[str]:
            opt = spark.sql(q)._jdf.queryExecution().optimizedPlan().toString()
            pos = {n: opt.find(n) for n in (names[1], names[2])}
            assert all(p >= 0 for p in pos.values()), opt
            return sorted(pos, key=pos.get)

        with conf_scope(spark, dict.fromkeys(cbo, "false")):
            assert dim_order() == [names[1], names[2]], "syntactic order kept"
        with conf_scope(spark, dict.fromkeys(cbo, "true")):
            # deeper in the tree = earlier join = LATER in the plan
            # string's indentation, but find() order tracks the top-down
            # print: the reordered tree prints (fact ⋈ dimb) before the
            # dima join input, i.e. dimb now appears first.
            assert dim_order() == [names[2], names[1]], (
                "CBO did not reorder the star despite ANALYZE stats"
            )
    finally:
        for n in names:
            spark.sql(f"DROP TABLE IF EXISTS {n}")


def test_partition_pruning_static(spark, sf_dir, tmp_path):
    """A filter on the partition column must prune partitions at plan
    time: the scan's PartitionFilters carries the predicate and only the
    matching directory is read."""
    from data_warehouse_hive_spark.tables import t as tbl

    d = str(tmp_path / "orders_part")
    (
        tbl(spark, sf_dir, "orders")
        .withColumn("region_code", (F.col("o_orderkey") % 4).cast("int"))
        .write.partitionBy("region_code")
        .parquet(d)
    )
    df = spark.read.parquet(d).filter(F.col("region_code") == 2)
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan and "region_code" in plan, plan
    # only one of the four partition directories is scanned
    n = df.select(F.countDistinct("region_code")).collect()[0][0]
    assert n == 1


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """Joining a partitioned fact to a filtered dim on the partition
    column must plan a dynamic-pruning subquery: at runtime only the
    partitions matching the dim filter are scanned."""
    from data_warehouse_hive_spark.tables import t as tbl

    d = str(tmp_path / "li_part")
    (
        tbl(spark, sf_dir, "lineitem")
        .withColumn("sk_mod", (F.col("l_suppkey") % 8).cast("int"))
        .write.partitionBy("sk_mod")
        .parquet(d)
    )
    fact = spark.read.parquet(d)
    dim = (
        tbl(spark, sf_dir, "supplier")
        .withColumn("sk_mod", (F.col("s_suppkey") % 8).cast("int"))
        .filter(F.col("s_acctbal") > 9000)
        .select("sk_mod", "s_suppkey")
        .distinct()
    )
    joined = fact.join(dim, "sk_mod")
    plan = formatted_plan(joined)
    assert "dynamicpruning" in plan.lower() or "DynamicPruning" in plan, plan


def test_aqe_splits_skewed_join(spark):
    """AQE skew-join safety net: a planted hot key (83% of rows on one
    value) must execute as SortMergeJoin(skew=true) with a skewed
    AQEShuffleRead — the runtime re-plan SCALING.md relies on for keys
    salting doesn't cover."""
    import contextlib
    import io

    with conf_scope(spark, {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256KB",
    }):
        left = (
            spark.range(500_000)
            .select(F.lit(7).cast("long").alias("k"), F.col("id").alias("v"))
            .unionAll(
                spark.range(100_000).select(
                    (F.col("id") % 1000).cast("long").alias("k"),
                    F.col("id").alias("v"),
                )
            )
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k").select(F.sum(F.col("v") + F.col("w")).alias("s"))
        j.collect()  # execute THIS plan so its AQE finalizes
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain(mode="formatted")
        plan = buf.getvalue()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan


def test_curation_filters_are_narrow_maps(spark, sf_dir):
    """q_quality_gopher / q_text_pii are pure per-row maps: no
    aggregation, no join, at most the one spread() repartition — and the
    scan reads only the referenced columns (a quality pass that drags the
    full row width through 100 TB is wrong)."""
    for name in ("q_quality_gopher", "q_text_pii"):
        plan = _plan(spark, sf_dir, name)
        assert count_exchanges(plan) <= 1, (name, plan)
        assert "HashAggregate" not in plan, (name, plan)
        assert not join_strategies(plan), (name, plan)
        schemas = read_schemas(plan)
        assert schemas and all(
            "doc_id" in s and "lang" not in s and "source" not in s for s in schemas
        ), (name, schemas)


def test_curation_aggregates_bounded_shuffles(spark, sf_dir):
    """Histogram / sampling / sharding: one partial+final agg exchange on
    a tiny key domain (plus spread and the final order-by range
    exchange).  Sampling must not read the text column at all — the
    keep-rule needs only (doc_id, lang)."""
    for name in ("q_tokens_histogram", "q_sample_stratified", "q_shard_assign"):
        plan = _plan(spark, sf_dir, name)
        assert count_exchanges(plan) <= 3, (name, plan)
    sample_schemas = read_schemas(_plan(spark, sf_dir, "q_sample_stratified"))
    assert sample_schemas and all("text" not in s for s in sample_schemas), (
        sample_schemas
    )


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """The eval gram set must broadcast — the corpus side never shuffles
    for the overlap join (eval suites are tiny; the corpus is 100 TB)."""
    plan = _plan(spark, sf_dir, "q_decontaminate")
    assert "BroadcastHashJoin" in join_strategies(plan), plan
    assert "SortMergeJoin" not in join_strategies(plan), plan


def test_pack_sequences_no_global_sort(spark, sf_dir):
    """Packing must window per shard, never globally: the plan sorts
    within hash-partitioned exchanges (no range-partitioned global sort
    of the corpus)."""
    plan = _plan(spark, sf_dir, "q_pack_sequences")
    assert "hashpartitioning(shard" in plan, plan
    # the only rangepartitioning allowed is the final 64-row ORDER BY of
    # the audit output, never of the corpus-scale placed rows
    assert plan.count("rangepartitioning") <= 1, plan


def test_knn_graph_bucket_join_not_cartesian(spark, sf_dir):
    """The k-NN graph must pair vectors through the LSH bucket equi-join
    — a nested-loop/cartesian self-join is the all-pairs explosion the
    bucketing exists to prevent.  The top-k rank filter must plan as
    WindowGroupLimit (k rows kept per vector before the final shuffle)."""
    plan = _plan(spark, sf_dir, "q_embed_knn")
    strategies = join_strategies(plan)
    assert not any("NestedLoop" in s or "Cartesian" in s for s in strategies), plan
    assert "WindowGroupLimit" in plan, plan


def test_curate_funnel_two_corpus_shuffles(spark, sf_dir):
    """The five-stage funnel must stay composed: one fingerprint window
    over the corpus (dedup survivor), contamination via the broadcast
    gram join (never a corpus-side SortMergeJoin on the gram hash), and
    conditional aggregation folding all stages into one pass — NOT five
    filtered re-scans."""
    plan = _plan(spark, sf_dir, "q_curate_e2e")
    assert "BroadcastHashJoin" in join_strategies(plan), plan
    # windows: fingerprint min (dedup survivor) only
    assert plan.count("Window") >= 1, plan
    # documents parquet is scanned at most 3 times in the whole composed
    # plan (flag pass, gram explode, eval grams) — never once per stage
    assert plan.count("documents.parquet") <= 3, plan


def test_lateral_topk_decorrelates(spark, sf_dir):
    """Catalyst must decorrelate the LATERAL subquery into a join-based
    plan (no per-row re-execution artifact in the physical plan)."""
    plan = _plan(spark, sf_dir, "q_lateral_topk")
    assert join_strategies(plan), plan


def test_nullsafe_join_is_hash_join(spark, sf_dir):
    """eqNullSafe must still plan as a HASH join (NULL is an ordinary key
    value) — falling back to nested-loop would mean the null-safe
    comparator broke the equi-join detection."""
    plan = _plan(spark, sf_dir, "q_join_nullsafe")
    strategies = join_strategies(plan)
    assert any("HashJoin" in s or "SortMergeJoin" in s for s in strategies), plan
    assert not any("NestedLoop" in s for s in strategies), plan


def test_runtime_bloom_filter_semi_join_reduction(spark, tmp_path):
    """Runtime bloom-filter injection (enabled in the engine conf): when a
    selective dim predicate survives a NON-broadcast join — the 100 TB
    regime where the dim exceeds the broadcast threshold — the optimizer
    builds a bloom_filter_agg on the dim side and injects might_contain()
    into the fact scan, cutting shuffled fact rows before the join.
    Size thresholds are production-scaled, so this test lowers them to
    make the tiny fixture eligible and pins the plan shape."""
    import io
    from contextlib import redirect_stdout

    big_p, dim_p = str(tmp_path / "fact"), str(tmp_path / "dim")
    spark.range(0, 200_000).withColumn(
        "k", (F.col("id") % 1000).cast("long")
    ).write.mode("overwrite").parquet(big_p)
    spark.range(0, 1000).select(F.col("id").alias("k")).write.mode(
        "overwrite"
    ).parquet(dim_p)

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with conf_scope(spark, overrides):
        fact = spark.read.parquet(big_p)
        dim = spark.read.parquet(dim_p).filter(F.col("k") < 10)
        joined = fact.join(dim, "k")
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
        # semantics unchanged by the filter
        assert joined.count() == 200_000 // 1000 * 10


def test_pointrange_lookup_is_broadcast_equi_join(spark, sf_dir):
    """The point-in-range lookup must plan as a broadcast HASH join on
    the coarse bucket (dim explodes + broadcasts) — a nested-loop theta
    join against the brackets is exactly what the idiom replaces."""
    plan = _plan(spark, sf_dir, "q_join_pointrange")
    strategies = join_strategies(plan)
    assert "BroadcastHashJoin" in strategies, plan
    assert not any("NestedLoop" in s for s in strategies), plan


def test_scd2_single_shuffle(spark, sf_dir):
    """The SCD2 build is ONE window pass: a single exchange on the
    dimension key, no joins, no extra sorts beyond the window's."""
    plan = _plan(spark, sf_dir, "q_scd2")
    assert count_exchanges(plan) == 1, plan
    assert not join_strategies(plan), plan


def test_wau_explode_not_cartesian(spark, sf_dir):
    """The trailing-7-day WAU must come from the map-side x7 explode of
    distinct (day, user) pairs — never a cartesian/nested-loop of days
    against activity."""
    plan = _plan(spark, sf_dir, "q_events_wau")
    assert "Generate explode" in plan or "Generate" in plan, plan
    assert "CartesianProduct" not in plan, plan


# ---------------------------------------------------------------------------
# TPC-H suite plan shapes (operators/tpch.py)
# ---------------------------------------------------------------------------


def test_tpch_q05_dims_broadcast_supplier_unforced(spark, sf_dir):
    """nation/region are explicitly broadcast; supplier must NOT appear as a
    build-side broadcast in the LOGICAL hint set (AQE may still choose a
    broadcast at runtime — that's the point: the choice stays size-based)."""
    df = REGISTRY["q_tpch_q05"].fn(spark, sf_dir)
    lp = df._jdf.queryExecution().optimizedPlan().toString()
    import re

    hints = re.findall(r"ResolvedHint.*", lp)
    # the only user-forced hints are the two fixed-size dims
    assert all("supplier" not in h and "customer" not in h for h in hints), lp
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in join_strategies(plan), plan


def test_tpch_q06_filters_pushed_no_data_shuffle(spark, sf_dir):
    df = REGISTRY["q_tpch_q06"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    pushed = " ".join(pushed_filters(plan))
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed, plan
    # single-row aggregate: the only exchange is the 1-partition final merge
    assert count_exchanges(plan) <= 1, plan


def test_tpch_q04_and_q18_use_semi_join(spark, sf_dir):
    for name in ("q_tpch_q04", "q_tpch_q18"):
        plan = formatted_plan(REGISTRY[name].fn(spark, sf_dir))
        assert "LeftSemi" in plan, (name, plan)


def test_tpch_topk_queries_take_ordered(spark, sf_dir):
    for name in ("q_tpch_q03", "q_tpch_q10"):
        plan = formatted_plan(REGISTRY[name].fn(spark, sf_dir))
        assert uses_take_ordered(plan), (name, plan)


def test_kmeans_assignment_broadcasts_centroids(spark, sf_dir):
    """The K-row centroid table must broadcast into the assignment join —
    a shuffle there would re-partition the corpus every iteration."""
    plan = _plan(spark, sf_dir, "q_embed_kmeans")
    assert "Broadcast" in " ".join(join_strategies(plan)) or "Broadcast" in plan, plan


def test_bm25_no_cartesian(spark, sf_dir):
    """The lexical retrieval join must run on the term key, never as a
    cartesian product of queries × corpus."""
    plan = _plan(spark, sf_dir, "q_text_bm25")
    assert "CartesianProduct" not in plan, plan


def test_basket_pairs_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_basket_pairs")
    assert uses_take_ordered(plan), plan


def test_tpch_q01_single_shuffle_full_pushdown(spark, sf_dir):
    """The pricing-summary rollup is one scan + one partial/final agg
    exchange; the shipdate cutoff reaches the parquet reader."""
    df = REGISTRY["q_tpch_q01"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "l_shipdate" in " ".join(pushed_filters(plan)), plan
    # one exchange for the 4-group agg + the final ≤4-row sort
    assert count_exchanges(plan) <= 2, plan
    assert has_whole_stage_codegen(df)


def test_tpch_q09_part_name_prefix_pushed(spark, sf_dir):
    """The 'red%%' prefix LIKE must push to the part scan as StartsWith."""
    plan = _plan(spark, sf_dir, "q_tpch_q09")
    assert "p_name" in " ".join(pushed_filters(plan)), plan


def test_tpch_q15_single_fact_scan(spark, sf_dir):
    """The scalar MAX must derive from the revenue view itself (window),
    not a second aggregation branch — one lineitem scan total."""
    plan = _plan(spark, sf_dir, "q_tpch_q15")
    assert plan.count("lineitem.parquet") == 1, plan


def test_tpch_q21_semi_and_anti_joins(spark, sf_dir):
    """The EXISTS/NOT-EXISTS pair must compile to semi + anti joins —
    never a materialized row blowup."""
    plan = _plan(spark, sf_dir, "q_tpch_q21")
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_tpch_q22_anti_join_and_scalar_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_tpch_q22")
    assert "LeftAnti" in plan, plan
    assert "Broadcast" in plan, plan


def test_tpch_q17_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_tpch_q17")
    assert "CartesianProduct" not in plan, plan


def test_countmin_sketch_fixed_key_domain(spark, sf_dir):
    """The sketch build must aggregate on the fixed (j, bucket) domain —
    no shuffle keyed by word cardinality on the sketch path."""
    plan = _plan(spark, sf_dir, "q_agg_countmin")
    assert "CartesianProduct" not in plan, plan
    # probe join against the 256-cell sketch must be broadcast
    assert "BroadcastHashJoin" in join_strategies(plan), plan


def test_int8_search_queries_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_sim_search_int8")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_attribution_single_user_shuffle(spark, sf_dir):
    """Both windows partition by user_id → one exchange, no join."""
    plan = _plan(spark, sf_dir, "q_events_attribution")
    assert "Join" not in plan, plan
    # user_id window + final orderBy range exchange
    assert count_exchanges(plan) <= 2, plan


def test_bm25_single_postings_build(spark, sf_dir):
    """The inverted index is checkpointed — documents must be scanned
    exactly once however many consumers read the postings."""
    from data_warehouse_hive_spark.registry import REGISTRY as _R

    df = _R["q_text_bm25"].fn(spark, sf_dir)
    df.count()
    ex = df._jdf.queryExecution().executedPlan().toString()
    assert ex.count("documents.parquet") <= 1, ex


def test_tfidf_single_corpus_scan(spark, sf_dir):
    from data_warehouse_hive_spark.registry import REGISTRY as _R

    df = _R["q_text_tfidf"].fn(spark, sf_dir)
    df.count()
    ex = df._jdf.queryExecution().executedPlan().toString()
    assert ex.count("documents.parquet") <= 1, ex


def test_tpch_shared_relations_single_fact_scan(spark, sf_dir):
    """Q2/Q20/Q21 derive a relation consumed by two branches (unit-cost
    catalog / shipped quantities / late lines) — the checkpoint contract
    is that the lineitem aggregation behind it executes once."""
    for name, max_scans in (("q_tpch_q02", 1), ("q_tpch_q20", 1), ("q_tpch_q21", 2)):
        df = REGISTRY[name].fn(spark, sf_dir)
        df.count()
        ex = df._jdf.queryExecution().executedPlan().toString()
        assert ex.count("lineitem.parquet") <= max_scans, (name, ex)


def test_node_metrics_expose_runtime_rows_and_shuffle(spark, sf_dir):
    """node_metrics must surface the executed plan's runtime counters —
    the no-UI observability path: output rows on aggregates and bytes on
    the shuffle exchange, for a plan we know produces 4 groups."""
    from data_warehouse_hive_spark.plans.explain import metric_total, node_metrics

    df = REGISTRY["q_groupby_agg"].fn(spark, sf_dir)
    m = node_metrics(df)
    names = [e["node"] for e in m]
    assert any("HashAggregate" in n for n in names), names
    agg_rows = metric_total(m, "HashAggregate", "numOutputRows")
    assert agg_rows > 0, m
    shuffle_records = metric_total(m, "Exchange", "shuffleRecordsWritten")
    assert shuffle_records > 0, m


def test_regression_single_agg_shuffle(spark, sf_dir):
    """OLS from power sums: one partial/final hash-agg exchange; the
    tiny ≤3-row sort may add a range exchange but the fact data shuffles
    exactly once."""
    df = REGISTRY["q_stats_regression"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert count_exchanges(plan) <= 2, plan
    assert has_whole_stage_codegen(df)


def test_moments_single_agg_shuffle(spark, sf_dir):
    df = REGISTRY["q_agg_moments"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert count_exchanges(plan) <= 2, plan


def test_overlap_merge_reuses_user_partitioning(spark, sf_dir):
    """The island window partitions by user_id; the two downstream
    aggregations cluster on supersets/subsets of it, so the fact rows
    shuffle ONCE (plus the final tiny sort)."""
    df = REGISTRY["q_time_overlap_merge"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert count_exchanges(plan) <= 2, plan


def test_incremental_dedup_semi_join_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_dedup_incremental")
    strategies = join_strategies(plan)
    assert not any("Cartesian" in s for s in strategies), plan
    assert any("LeftSemi" in s or "ExistenceJoin" in s for s in strategies) or (
        "LeftSemi" in plan
    ), plan


def test_subquery_exists_decorrelates_to_semi_anti(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_subquery_exists")
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert not any("Cartesian" in s for s in join_strategies(plan)), plan


def test_limit_offset_is_take_ordered(spark, sf_dir):
    df = REGISTRY["q_limit_offset"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert uses_take_ordered(plan), plan


def test_time_range_frame_single_shuffle(spark, sf_dir):
    """Trailing-hour RANGE frame: one exchange on event_type (the final
    orderBy adds the range exchange for presentation only)."""
    df = REGISTRY["q_win_frame_time"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert count_exchanges(plan) <= 2, plan


def test_q05_prefilters_both_dimension_paths(spark, sf_dir):
    """The ASIA region predicate must reach BOTH fact-side inputs before
    the big joins: customer joins the broadcast 5-nation list and
    supplier is left-semi-filtered by it."""
    df = REGISTRY["q_tpch_q05"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan, plan
    assert "r_name" in " ".join(pushed_filters(plan)), plan


def test_spatial_grid_is_equi_join(spark, sf_dir):
    """The distance join must execute as a cell-key HASH join — never the
    O(n·m) cartesian/BNL the oracle states."""
    plan = _plan(spark, sf_dir, "q_join_spatial_grid")
    strategies = join_strategies(plan)
    assert not any(
        "Cartesian" in s or "NestedLoop" in s for s in strategies
    ), plan


def test_phrase_search_single_corpus_scan(spark, sf_dir):
    """Both phrase sides read the checkpointed filtered postings — the
    documents parquet is scanned once, not once per term."""
    df = REGISTRY["q_text_phrase_search"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("Scan parquet") <= 1, plan


def test_basket_rules_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_basket_rules")
    strategies = join_strategies(plan)
    # the single 1-row basket-total crossjoin is broadcast; no real
    # cartesian over data-sized relations
    assert not any("CartesianProduct" in s for s in strategies), plan
    assert uses_take_ordered(plan), plan


def test_similar_items_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_recs_similar_items")
    assert not any(
        "CartesianProduct" in s for s in join_strategies(plan)
    ), plan


def test_basket_cap_enforced_before_pair_expansion(spark, sf_dir):
    """Both basket miners must drop mega-baskets BEFORE the i<j pair
    expansion — the documented skew guard has to be in the plan, not
    just the docstring.  Since r15 the cap is a size() filter on the
    per-basket sorted item array, sitting below the pair-generating
    explode (the old form was a count-window `bsz` guard before an
    order-key self-join).  q_recs_similar_items localCheckpoints the
    capped relation (lineage truncated in explain), so its cap is
    asserted at the source level instead."""
    plan = _plan(spark, sf_dir, "q_basket_pairs")
    # the i<j expansion is a Generate over the capped array relation
    assert "size(ps" in plan and "<= 64" in plan, plan
    assert "Generate" in plan, plan

    import inspect

    from data_warehouse_hive_spark.extensions import retrieval

    # the registry wraps fns; read the module source for the real body
    whole = inspect.getsource(retrieval)
    src = whole[whole.index("def q_recs_similar_items") :]
    cap_pos = src.index("MAX_BASKET")
    pair_pos = src.index("pair_structs")
    assert cap_pos < pair_pos, "cap must be applied before pair expansion"


def test_lm_score_single_corpus_scan(spark, sf_dir):
    """Both bigram sides and the unigram counts read the checkpointed
    postings — documents parquet scans once."""
    df = REGISTRY["q_text_lm_score"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("Scan parquet") <= 1, plan


def test_replay_detection_equi_join(spark, sf_dir):
    """The replay self-join must key on the composite (user, type,
    value) — never a time-only or nested-loop pairing."""
    plan = _plan(spark, sf_dir, "q_events_replays")
    strategies = join_strategies(plan)
    assert not any(
        "Cartesian" in s or "NestedLoop" in s for s in strategies
    ), plan


def test_pca_no_element_self_join(spark, sf_dir):
    """The covariance must accumulate as mapInArrow outer-product
    partials — the returned relation is the driver's d×d result (a local
    scan), with NO join anywhere: the n×d² element self-join the oracle
    describes must never appear in a Spark plan."""
    plan = _plan(spark, sf_dir, "q_embed_pca")
    assert not join_strategies(plan), plan
    assert "Scan parquet" not in plan, plan


def test_heavy_hitters_candidate_broadcast(spark, sf_dir):
    """Pass 2 must semi-join the bounded candidate set via broadcast —
    the full vocabulary never shuffles."""
    plan = _plan(spark, sf_dir, "q_agg_heavy_hitters")
    assert "LeftSemi" in plan, plan


def test_pq_codebook_broadcast_no_cartesian(spark, sf_dir):
    """PQ encode and ADC must join against BROADCAST relations (the
    128-row codebook / the query distance table) — the corpus never
    shuffles its float vectors, and nothing may plan a cartesian."""
    plan = _plan(spark, sf_dir, "q_sim_search_pq")
    strategies = join_strategies(plan)
    assert any("Broadcast" in s for s in strategies), plan
    assert not any(
        "Cartesian" in s or "NestedLoop" in s for s in strategies
    ), plan
    assert "WindowGroupLimit" in plan, plan


def test_er_linkage_block_equi_join(spark, sf_dir):
    """Record linkage must pair rows through the (nation, segment,
    name-prefix) block equi-join — an unblocked name comparison would
    plan a cartesian/nested-loop product, and without the name-derived
    component block population grows linearly with the corpus (the
    O(block²) scale killer).  The join must carry all THREE equi-keys,
    including the prefix."""
    plan = _plan(spark, sf_dir, "q_er_blocked_linkage")
    strategies = join_strategies(plan)
    assert strategies, plan
    assert not any(
        "Cartesian" in s or "NestedLoop" in s for s in strategies
    ), strategies
    assert "name_pfx" in plan, plan
    assert "Left keys [3]" in plan, plan


def test_crossdoc_overlap_df_capped_before_pairs(spark, sf_dir):
    """The contamination matrix must filter grams to the DF band BEFORE
    the pair self-join (semi-join against `keep`), and never plan a
    cartesian."""
    plan = _plan(spark, sf_dir, "q_text_crossdoc_overlap")
    strategies = join_strategies(plan)
    assert not any(
        "Cartesian" in s or "NestedLoop" in s for s in strategies
    ), strategies
    assert "LeftSemi" in plan, plan


def test_mannwhitney_no_global_row_sort(spark, sf_dir):
    """Rank statistics must NOT globally sort the fact rows: the only
    window runs over the per-distinct-value histogram (after a hash
    aggregate), so no rangepartitioning exchange of the event rows may
    appear before an aggregation."""
    plan = _plan(spark, sf_dir, "q_stats_mannwhitney")
    # the fact scan flows into a hash aggregate first; the only sort in
    # the plan feeds the running-count window over that grouped relation
    assert "HashAggregate" in plan, plan
    assert plan.count("RunningWindowFunction") <= 1, plan


def test_qnorm_global_ref_from_histogram_not_raw_rows(spark, sf_dir):
    """The qnorm global reference distribution must come from the
    per-distinct-length histogram (HashAggregate first), never a
    percent_rank window over the raw documents scan with an empty
    partition spec — that would funnel the whole corpus through one
    partition.  Every percent_rank window must be partitioned (by
    source); the only unpartitioned window allowed is the running
    count over the aggregated hist relation."""
    import re

    plan = _plan(spark, sf_dir, "q_quality_qnorm")
    win_args = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "Arguments:" in ln
    ]
    assert win_args, plan
    for ln in win_args:
        if "percent_rank" in ln:
            # partitioned: a partition column precedes the first ORDER col
            assert re.search(r"windowspecdefinition\(source#\d+,", ln), ln
        else:
            # the running count over the grouped hist relation only
            assert "sum(cnt" in ln, ln
    assert "HashAggregate" in plan, plan


def test_rank_fusion_per_query_all_windows_partitioned(spark, sf_dir):
    """Production-shape RRF: every window (ranker top-k AND the fused
    rank) must partition by query_id — no empty-partition WindowExec
    anywhere in the plan, and the rank filters plan as WindowGroupLimit
    so each partition prunes to k rows before the shuffle."""
    plan = _plan(spark, sf_dir, "q_rank_fusion_per_query")
    win_args = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "Arguments:" in ln
    ]
    assert win_args, plan
    for ln in win_args:
        assert "windowspecdefinition(query_id#" in ln, ln
    assert "WindowGroupLimit" in plan, plan


def test_bloom_prefilter_is_broadcast_semi(spark, sf_dir):
    """The bloom prefilter must apply as BROADCAST left-semi joins
    against the <=1024-row bit relation — the fact side never shuffles
    for the prefilter, and the only nested-loop joins are the final
    1-row audit cross-joins."""
    plan = _plan(spark, sf_dir, "q_join_bloom")
    assert "LeftSemi" in plan, plan
    strategies = join_strategies(plan)
    assert strategies.count("BroadcastHashJoin") >= 4, strategies
    assert "SortMergeJoin" not in strategies, strategies


def test_powerlaw_topk_is_take_ordered(spark, sf_dir):
    """The Hill estimator's k+1 largest counts must plan as
    TakeOrderedAndProject (per-partition heap + driver merge), never a
    global sort of the per-user relation."""
    plan = _plan(spark, sf_dir, "q_events_powerlaw")
    assert uses_take_ordered(plan), plan


def test_ngram_novelty_is_anti_join(spark, sf_dir):
    """The novelty set-difference must plan as a gram-keyed LEFT ANTI
    join (no collect, no driver-side set); whether the train side
    broadcasts is the optimizer's size-based call — hinted by neither
    side, so at corpus scale it degrades to a shuffle anti join."""
    plan = _plan(spark, sf_dir, "q_text_ngram_novelty")
    assert "LeftAnti" in plan, plan


def test_lm_kn_word_keyed_equi_joins(spark, sf_dir):
    """The KN scoring pass must re-join the bigram stream against the
    count relations on word equi-keys — never a cartesian/nested-loop
    (the 1-row type-total crossjoin broadcasts)."""
    plan = _plan(spark, sf_dir, "q_text_lm_kn")
    strategies = join_strategies(plan)
    assert strategies, plan
    assert not any("Cartesian" in s for s in strategies), strategies
    # count formatted node headers only — join_strategies also matches the
    # tree-summary section, doubling every node
    nl = re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M)
    # only the 1-row nbb broadcast may nested-loop
    assert len(nl) <= 1, strategies


def test_asof_nearest_single_user_shuffle(spark, sf_dir):
    """Both directions of the nearest as-of must ride ONE window pass
    partitioned by user_id — a join-based nearest would blow up pairs.
    No join may appear at all."""
    plan = _plan(spark, sf_dir, "q_join_asof_nearest")
    assert not join_strategies(plan), plan
    assert "user_id" in plan, plan


def test_rolling_median_windows_partitioned(spark, sf_dir):
    """The frame median must run over the (type x day) rollup with
    windows PARTITIONED BY event_type — no empty-partition WindowExec,
    and a HashAggregate must precede the window."""
    plan = _plan(spark, sf_dir, "q_win_rolling_median")
    win_args = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "Arguments:" in ln
    ]
    assert win_args, plan
    for ln in win_args:
        assert "windowspecdefinition(event_type#" in ln, ln
    assert "HashAggregate" in plan, plan


def test_dsir_scoring_join_is_broadcast(spark, sf_dir):
    """DSIR's per-doc scoring must join the exploded words against the
    <=1024-row bucket histogram as a BROADCAST hash join (map-side, no
    word-side shuffle), and selection must be TakeOrderedAndProject."""
    plan = _plan(spark, sf_dir, "q_curate_dsir")
    strategies = join_strategies(plan)
    assert "BroadcastHashJoin" in strategies, strategies
    assert "SortMergeJoin" not in strategies, strategies
    assert uses_take_ordered(plan), plan


def test_qualify_and_distinct_on_group_limit(spark, sf_dir):
    """The QUALIFY / DISTINCT ON idioms must plan as WindowGroupLimit
    (per-key top-k pruning before the window), never a full rank of
    every partition's rows."""
    for name in ("q_sql_qualify", "q_sql_distinct_on"):
        plan = _plan(spark, sf_dir, name)
        assert "WindowGroupLimit" in plan, (name, plan)


def test_kmv_first_stage_salted(spark, sf_dir):
    """The KMV k-min must run its first-stage rank inside (key, salt)
    partitions — the distinct hash relation never feeds a window with
    an un-salted global ordering (the second stage sees only
    salts*k survivors)."""
    plan = _plan(spark, sf_dir, "q_agg_kmv")
    win_args = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "Arguments:" in ln
    ]
    assert any("salt#" in ln for ln in win_args), win_args


def test_silhouette_no_window_broadcast_centroids(spark, sf_dir):
    """Silhouette's per-vector a/b must come from a conditional MIN over
    the broadcast K-row centroid cross-join — no window, no sort-merge
    join anywhere."""
    plan = _plan(spark, sf_dir, "q_embed_silhouette")
    assert "windowspecdefinition" not in plan, plan
    assert "SortMergeJoin" not in join_strategies(plan), plan


def test_permutation_is_single_pass(spark, sf_dir):
    """The permutation test must be ONE conditional-aggregation pass:
    no window at all, and the only joins are broadcasts of the 1-row
    totals/threshold relations."""
    plan = _plan(spark, sf_dir, "q_stats_permutation")
    assert "windowspecdefinition" not in plan, plan
    assert "SortMergeJoin" not in join_strategies(plan), plan


def test_band_join_is_equi_never_nested_loop(spark, sf_dir):
    """The band join must execute as a bucket EQUI-join (hash-joinable)
    — a naive |a-b| <= d theta join would plan as
    BroadcastNestedLoopJoin, which is exactly what the rewrite exists
    to avoid."""
    plan = _plan(spark, sf_dir, "q_join_band")
    strategies = join_strategies(plan)
    assert strategies, plan
    assert not any("NestedLoop" in s or "Cartesian" in s for s in strategies), (
        strategies
    )


def test_multivariate_outlier_broadcast_moments(spark, sf_dir):
    """The Mahalanobis scoring pass must consume the 1-row moment
    relation via broadcast — no window, no sort-merge join; scoring is
    map-only over the scan."""
    plan = _plan(spark, sf_dir, "q_dq_multivariate_outlier")
    assert "windowspecdefinition" not in plan, plan
    assert "SortMergeJoin" not in join_strategies(plan), plan


def test_funnel_deadline_no_window_no_collect(spark, sf_dir):
    """The deadline funnel must be conditional-MIN aggregations joined
    on user_id — no window pass and no per-user list collection."""
    plan = _plan(spark, sf_dir, "q_events_funnel_deadline")
    assert "windowspecdefinition" not in plan, plan
    assert "collect_list" not in plan, plan


def test_hamming_windows_per_query(spark, sf_dir):
    """The Hamming pre-rank and the cosine re-rank must both partition
    by query_id (bounded Q x k state), and the pre-rank must prune via
    WindowGroupLimit."""
    plan = _plan(spark, sf_dir, "q_sim_search_hamming")
    win_args = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "Arguments:" in ln
    ]
    assert win_args, plan
    for ln in win_args:
        assert "windowspecdefinition(query_id#" in ln, ln
    assert "WindowGroupLimit" in plan, plan


def test_oov_vocab_is_broadcast(spark, sf_dir):
    """The OOV join must broadcast the bounded top-V vocabulary against
    the exploded token stream — the token side never shuffles for it."""
    plan = _plan(spark, sf_dir, "q_text_oov_rate")
    strategies = join_strategies(plan)
    assert "BroadcastHashJoin" in strategies, strategies
    assert "SortMergeJoin" not in strategies, strategies


def test_prf_no_cartesian(spark, sf_dir):
    """Both PRF scoring passes must join on term/doc equi-keys; the only
    nested-loop joins permitted are broadcasts of the 1-row stats
    relation."""
    plan = _plan(spark, sf_dir, "q_retrieval_prf")
    strategies = join_strategies(plan)
    assert strategies, plan
    assert not any("Cartesian" in s for s in strategies), strategies


def test_reservoir_first_stage_salted(spark, sf_dir):
    """The hash-rank reservoir must rank stage 1 inside salt partitions
    (the KMV discipline) — no un-salted window over the full keyed
    relation."""
    plan = _plan(spark, sf_dir, "q_sample_reservoir")
    win_args = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "Arguments:" in ln
    ]
    assert any("salt#" in ln for ln in win_args), win_args


def test_fdr_bh_decode_collapses_to_histogram(spark, sf_dir):
    """r6 verdict item 1: the 32 sha256 byte decodes must run ONCE per
    corpus row in an un-fanned pass that collapses to the
    (byte_position, byte_value) histogram; every x|types| step then
    happens on <= 32*256 histogram rows.  Pinned: the histogram
    hash-aggregate (keys [b, val]) exists, no CartesianProduct, and the
    only crossJoin in the source is the broadcast 1-row totals relation
    (the r6 pool.crossJoin(broadcast(types)) corpus fan-out is gone)."""
    import inspect

    plan = _plan(spark, sf_dir, "q_stats_fdr_bh")
    assert re.search(r"Keys \[2\]: \[b#\d+, val#\d+\]", plan), plan
    assert "CartesianProduct" not in join_strategies(plan), plan
    from data_warehouse_hive_spark.extensions import diagnostics

    # diagnostics became a package in r9 — concatenate submodule sources
    whole = "".join(
        inspect.getsource(m)
        for m in (diagnostics.monitors, diagnostics.ranks,
                  diagnostics.normality, diagnostics.anova)
    )
    start = whole.index("def q_stats_fdr_bh")
    nxt = whole.find("\n@query", start)
    src = whole[start : nxt if nxt != -1 else len(whole)]
    assert src.count("crossJoin") == 1, src
    assert "crossJoin(F.broadcast(totals))" in src, src
    assert "posexplode" in src, src


def test_memoized_families_second_consumer_no_rescan(spark, sf_dir):
    """r6 verdict item 5: once the first consumer builds the session
    memo (ranking-eval ground truth; converged LPA labels), every later
    consumer must read the localCheckpointed relations — ZERO parquet
    re-scans of documents/embeddings."""
    # first consumers force the memo builds
    REGISTRY["q_sim_ndcg"].fn(spark, sf_dir).collect()
    REGISTRY["q_graph_labelprop"].fn(spark, sf_dir).collect()
    for second in ("q_sim_mrr", "q_sim_recall", "q_graph_modularity"):
        plan = _plan(spark, sf_dir, second)
        assert "Scan parquet" not in plan, (second, plan)
        assert "ExistingRDD" in plan, (second, plan)


def test_pareto_frontier_no_raw_doc_sort(spark, sf_dir):
    """The budget frontier must NEVER sort raw documents: quality is
    quantized to the 1001-bucket grid by a hash aggregate and every
    window/sort runs on that bounded histogram."""
    import inspect

    plan = _plan(spark, sf_dir, "q_curate_pareto_frontier")
    schemas = read_schemas(plan)
    # doc-side column pruning: only text reaches the documents scan
    assert any("text" in s for s in schemas), schemas
    assert all("lang" not in s and "n_chars" not in s for s in schemas), schemas
    from data_warehouse_hive_spark.extensions import curation

    whole = inspect.getsource(curation)
    s0 = whole.index("def q_curate_pareto_frontier")
    seg = whole[s0 : whole.find("\n@query", s0)]
    # the histogram groupBy precedes the only Window use
    assert seg.index('groupBy(F.expr("(u * 1000) div w")') < seg.index(
        "Window.orderBy"
    ), seg


def test_distinctive_terms_single_token_build(spark, sf_dir):
    """yw/ns/nn all consume the checkpointed (source, word) relation —
    exactly one tokenize+aggregate lineage, and the small relations join
    back broadcast."""
    import inspect

    from data_warehouse_hive_spark.functions import text as mod

    whole = inspect.getsource(mod)
    s0 = whole.index("def q_text_distinctive_terms")
    seg = whole[s0 : len(whole)]
    assert "localCheckpoint" in seg, "token relation must be checkpointed"
    assert seg.count("F.broadcast(ns)") == 1 and seg.count("F.broadcast(nn)") == 1, seg


def test_newsvendor_histogram_percentile(spark, sf_dir):
    """Percentiles come from the bounded (priority, day) histogram —
    the orders scan reads only the three needed columns and no raw-row
    global sort appears."""
    plan = _plan(spark, sf_dir, "q_orders_newsvendor")
    schemas = read_schemas(plan)
    assert all(
        "o_orderkey" not in s and "o_custkey" not in s for s in schemas
    ), schemas


def test_r7_stats_single_corpus_collapse():
    """Every round-7 statistic whose bounded first collapse feeds more
    than one consumer must checkpoint it (one corpus scan, not one per
    branch) — the multi-scan plan defect found by .explain audit."""
    import inspect

    from data_warehouse_hive_spark.extensions import diagnostics

    # diagnostics became a package in r9 — concatenate submodule sources
    whole = "".join(
        inspect.getsource(m)
        for m in (diagnostics.monitors, diagnostics.ranks,
                  diagnostics.normality, diagnostics.anova)
    )
    for fn in (
        "q_stats_kruskal",
        "q_stats_friedman",
        "q_stats_page_trend",
        "q_stats_kendall_tau",
        "q_stats_ljung_box",
        "q_stats_durbin_watson",
        "q_stats_cochran_q",
    ):
        s0 = whole.index(f"def {fn}")
        seg = whole[s0 : whole.find("\n@query", s0)]
        assert "localCheckpoint" in seg, fn


def test_pairs_cache_second_consumer_no_rescan(spark, sf_dir):
    """r7 verdict item 5: the LSH candidate-pair build is a session-
    scoped memo (dedup.candidate_pairs_cached); after ANY consumer
    builds it, a second pair consumer must read the checkpointed blocks
    — zero parquet re-scans of documents."""
    from data_warehouse_hive_spark.extensions.dedup import (
        candidate_pairs_cached,
    )

    a = candidate_pairs_cached(spark, sf_dir)
    b = candidate_pairs_cached(spark, sf_dir)
    assert a is b  # identical relation object — one build per session
    # q_dedup_minhash is the build id; force it, then every pure pair
    # consumer's plan must be checkpoint-fed
    REGISTRY["q_dedup_minhash"].fn(spark, sf_dir).collect()
    for second in ("q_graph_degree", "q_graph_jaccard", "q_dedup_groups"):
        plan = _plan(spark, sf_dir, second)
        assert "Scan parquet" not in plan, (second, plan)
        assert "ExistingRDD" in plan, (second, plan)


def test_no_uncached_pair_builds_outside_dedup():
    """Module-source check (checkpointed relations truncate explain, so
    plan-level asserts can't see the build): graph/curation consumers
    must go through dedup.candidate_pairs_cached, never rebuild the LSH
    pipeline via a direct minhash_candidate_pairs(t(...)) call."""
    import inspect

    from data_warehouse_hive_spark.extensions import curation, graph

    for mod in (graph, curation):
        src = inspect.getsource(mod)
        assert "minhash_candidate_pairs(" not in src, mod.__name__


def test_cascade_stage2_is_bounded(spark, sf_dir):
    """q_sim_rerank_cascade: stage 1 must broadcast the query side (the
    corpus never shuffles for scoring) and the plan must contain no
    cartesian product — the properties that make the cascade's cost
    corpus-linear."""
    plan = _plan(spark, sf_dir, "q_sim_rerank_cascade")
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_kde_kernel_on_histogram_not_rows(spark, sf_dir):
    """q_events_kde: the Gaussian kernel must evaluate on the DISTINCT
    value histogram (one HashAggregate before the grid join), and the
    20-row grid must arrive by broadcast."""
    plan = _plan(spark, sf_dir, "q_events_kde")
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan, plan
    import inspect

    from data_warehouse_hive_spark.extensions import diagnostics

    # registry wraps fns (no __wrapped__), so assert at module source
    # level (the localCheckpoint-era precedent)
    # diagnostics became a package in r9 — concatenate submodule sources
    whole = "".join(
        inspect.getsource(m)
        for m in (diagnostics.monitors, diagnostics.ranks,
                  diagnostics.normality, diagnostics.anova)
    )
    kde = whole[whole.find("def q_events_kde") :]
    kde = kde[: kde.find("\n@query")]
    assert 'hist = pool.groupBy("grp", "xq")' in kde  # histogram-first


def test_interval_union_windows_partitioned(spark, sf_dir):
    """q_time_interval_union: every window must be partitioned (per
    type+user) — a global sweep would single-thread the corpus."""
    import inspect

    from data_warehouse_hive_spark.streaming import time_windows

    whole = inspect.getsource(time_windows)
    seg = whole[whole.find("def q_time_interval_union") :]
    seg = seg[: seg.find("\n@query")]
    assert 'partitionBy("grp", "user_id")' in seg
    assert "Window.orderBy" not in seg  # no global windows


def test_aqe_splits_skewed_join_partition(spark):
    """The ENGINE path for hot keys (r12 VERDICT task 4): q_join_salted
    demonstrates MANUAL salting, but at 100× the NULL-class/hot-key
    joins rely on AQE's runtime skew handling — this proves the engine
    conf (session.py: adaptive.skewJoin.enabled=true) actually fires.
    A deliberately skewed sort-merge join (97% of the left side on one
    key) must come back from execution with OptimizeSkewedJoin applied:
    SortMergeJoin(skew=true) and an 'AQEShuffleRead … skewed' reader in
    the final adaptive plan.  Thresholds are lowered to make a ~2 MB
    hot partition count as skewed at test scale — production keeps the
    defaults (256 MB / factor 5), where the same rule fires on real
    hot partitions.  Negative control: with skewJoin disabled the same
    join executes without the split, pinning that the assert tracks the
    optimizer rule, not an incidental plan string."""
    lowered = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
        # force SMJ both at plan time and at AQE re-plan time — a
        # broadcast join has no skewed shuffle to split
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }

    def skewed_join():
        left = spark.range(200000).select(
            F.when(F.col("id") % 100 < 97, F.lit(0))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            (F.col("id") * 7).alias("payload"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") + 5).alias("rv")
        )
        return left.join(right, "k")

    def executed_plan(df) -> str:
        df.collect()  # the action must run THIS QueryExecution (AQE
        # finalizes per-execution; count() would plan a different one)
        return df._jdf.queryExecution().executedPlan().toString()

    skew = "spark.sql.adaptive.skewJoin.enabled"
    with conf_scope(spark, {**lowered, skew: "true"}):
        plan = executed_plan(skewed_join())
        assert "isFinalPlan=true" in plan, plan
        assert "skew=true" in plan, plan
        assert re.search(r"AQEShuffleRead.*skewed", plan), plan

        with conf_scope(spark, {skew: "false"}):
            plan_off = executed_plan(skewed_join())
        assert "skew=true" not in plan_off, plan_off

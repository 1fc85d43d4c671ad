"""Physical-plan assertions (SURVEY §4): broadcast where intended,
pushdown reaching the scan, partial aggregation, top-k without global
sort, and no nested-loop joins where the bucketing rewrite applies."""

from __future__ import annotations

import pytest

from thrive_spark.plans.checks import (
    assert_in_plan,
    assert_not_in_plan,
    physical_plan,
)
from thrive_spark.registry import QUERIES


def test_broadcast_dim_join(spark, sf_dir, qdf):
    assert_in_plan(
        qdf("join_inner_broadcast"), "BroadcastHashJoin"
    )


def test_star_join_broadcasts_dims(spark, sf_dir, qdf):
    plan = physical_plan(qdf("join_star_multiway"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_filter_pushdown_reaches_scan(spark, sf_dir, qdf):
    plan = physical_plan(qdf("filter_simple_pred"))
    assert "PushedFilters" in plan
    assert "GreaterThan(l_quantity,30.0)" in plan


def test_column_pruning(spark, sf_dir, qdf):
    plan = physical_plan(qdf("project_select_rename"))
    # scan must read only the 4 referenced columns, not all 11
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = [c.split(":")[0] for c in m.group(1).split(",")]
    assert sorted(cols) == [
        "l_discount",
        "l_extendedprice",
        "l_linenumber",
        "l_orderkey",
        "l_quantity",
    ]


def test_partial_aggregation(spark, sf_dir, qdf):
    # map-side partial + final: two HashAggregate nodes
    plan = physical_plan(qdf("agg_hash_groupby"))
    assert plan.count("HashAggregate") >= 2


def test_topk_no_global_sort(spark, sf_dir, qdf):
    assert_in_plan(qdf("topk_global"), "TakeOrderedAndProject")


def test_band_join_is_hash_join(spark, sf_dir, qdf):
    # the bucketing rewrite must plan as a hash/sort-merge join,
    # never a nested loop over all pairs
    assert_not_in_plan(
        qdf("join_theta_band"),
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
    )


def test_range_frame_no_low_cardinality_window(spark, sf_dir, qdf):
    # win_range_frame was flagged r4: PARTITION BY o_orderstatus has 3
    # values, so a window plan sorts each third on one task. The
    # band-bucket cogroup rewrite must hold: no Window/Sort over the
    # 3-value key, cogrouped Arrow exchange on (status, bucket) instead.
    plan = physical_plan(qdf("win_range_frame"))
    assert "FlatMapCoGroupsInPandas" in plan
    assert "Window" not in plan


def test_semi_anti_joins_stay_semi(spark, sf_dir, qdf):
    assert_in_plan(qdf("join_left_semi"), "LeftSemi")
    assert_in_plan(qdf("join_left_anti"), "LeftAnti")


def test_knn_broadcasts_queries(spark, sf_dir, qdf):
    # the query set must broadcast; the candidate scan must not shuffle
    plan = physical_plan(qdf("sim_knn_cosine_topk"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_whole_stage_codegen_active(spark, sf_dir, qdf):
    # AQE's formatted plan hides codegen stages until execution:
    # run the query, then inspect the executed plan for codegen spans
    df = qdf("agg_hash_groupby")
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    # codegen stages print as "*(n) Operator" markers
    assert "*(1)" in executed and "*(2)" in executed, executed


def test_global_sorted_output_via_range_partitioning(spark, sf_dir, tmp_path):
    """Total-ordered multi-file output: repartitionByRange gives
    disjoint, ordered ranges per partition; sortWithinPartitions
    orders inside each — together a global sort that scales (no single
    reducer). Verified by checking partition ranges are disjoint and
    ordered."""
    from pyspark.sql import functions as F

    from thrive_spark.tables import Tables

    out = str(tmp_path / "sorted")
    orders = Tables(spark, sf_dir).orders
    (
        orders.repartitionByRange(4, "o_totalprice")
        .sortWithinPartitions("o_totalprice")
        .write.mode("overwrite")
        .parquet(out)
    )
    bounds = (
        spark.read.parquet(out)
        .withColumn("part", F.spark_partition_id())
        .groupBy("part")
        .agg(F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(bounds) >= 2
    for prev, cur in zip(bounds, bounds[1:]):
        assert prev["hi"] <= cur["lo"], bounds
    assert spark.read.parquet(out).count() == orders.count()


def test_bucketed_join_shuffle_free(spark, sf_dir):
    """Bucket-aligned SMJ: neither side may need an Exchange or Sort —
    the whole point of bucketBy at 100 TB."""
    from thrive_spark.operators.bucketed import bucketed_join_plan

    joined, cleanup = bucketed_join_plan(spark, sf_dir)
    try:
        plan = physical_plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
    finally:
        cleanup()


def test_ntile_no_global_data_window(spark, sf_dir, qdf):
    """Global ntile/percent_rank must NOT funnel the data through a
    single-partition window: the plan range-partitions the order key
    and any SinglePartition exchange may only sit above the P-row
    per-partition-count aggregate."""
    df = qdf("win_ntile_percentile")
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "rangepartitioning" in executed.lower(), executed
    lines = executed.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            below = " ".join(lines[i + 1 : i + 3])
            assert "HashAggregate(keys=[pid#" in below, line + "\n" + below


def test_minhash_band_join_sheds_arrays(spark, sf_dir, qdf):
    """The LSH band self-join must shuffle only (doc_id, band, key) —
    3 scalars/row — never the shingle-hash arrays; shingles rejoin for
    candidate pairs only. A hashpartitioning exchange carrying `s`
    would mean the band join ships the corpus tokens again."""
    import re

    df = qdf("dedup_fuzzy_minhash")
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    # no plan node may carry the shingle array alongside band/key
    # columns — that's the signature the old corpus-through-the-
    # shuffle plan had (bands projection retained the array)
    offending = [
        line
        for line in executed.splitlines()
        if re.search(r"\bs#", line)
        and re.search(r"\b(band|key)#", line)
    ]
    assert not offending, offending


@pytest.mark.parametrize(
    "qid", ["scan_parquet", "agg_hash_groupby", "join_star_multiway"]
)
def test_no_python_udf_in_core_relational(qid, spark, sf_dir):
    # core relational operators must stay JVM-side
    assert_not_in_plan(
        QUERIES[qid](spark, sf_dir), "BatchEvalPython", "ArrowEvalPython"
    )


def test_salted_join_shuffles_on_salt(spark, sf_dir, qdf):
    """The skew-salted join must plan as a shuffled join keyed on
    (event_type, _salt) — salt in the partitioning is the whole point;
    a plan that broadcasts the dim or drops _salt from the exchange
    has silently degenerated to the unsalted shape."""
    import re

    plan = physical_plan(qdf("join_salted_skew"))
    assert "ShuffledHashJoin" in plan
    assert re.search(r"Left keys \[2\]: \[event_type#\d+, _salt#\d+\]", plan), plan


def test_iqr_bounds_join_broadcasts(spark, sf_dir, qdf):
    """The per-type bounds table is group-cardinality-sized — the
    fence-check join must broadcast it, never shuffle the events."""
    assert_in_plan(qdf("dq_outlier_iqr"), "BroadcastHashJoin")


def test_partitioned_scan_prunes(spark, sf_dir):
    """The lang predicate must become a PartitionFilters entry on the
    partitioned read (directory pruning), not a post-scan Filter."""
    import shutil
    import tempfile

    from thrive_spark.tables import Tables

    t = Tables(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="thrive_prune_t_")
    try:
        t.documents.write.mode("overwrite").partitionBy("lang").parquet(out)
        df = (
            spark.read.parquet(out)
            .filter("lang IN ('en', 'de')")
            .groupBy("lang")
            .count()
        )
        plan = physical_plan(df)
        assert "PartitionFilters" in plan
        assert "lang" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    finally:
        shutil.rmtree(out, ignore_errors=True)


# --- TPC-H suite plan shapes (operators/tpch.py) -------------------------


def test_tpch_q3_broadcasts_customer(spark, sf_dir, qdf):
    plan = physical_plan(qdf("tpch_q3"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # both date filters must reach the parquet scans
    assert "PushedFilters" in plan


def test_tpch_q6_pushdown_and_single_agg(spark, sf_dir, qdf):
    plan = physical_plan(qdf("tpch_q6"))
    # all predicates pushed; no join, no shuffle besides final reduce
    assert "IsNotNull(l_shipdate)" in plan or "l_shipdate" in plan
    assert "Join" not in plan


def test_tpch_q8_all_dims_broadcast(spark, sf_dir, qdf):
    plan = physical_plan(qdf("tpch_q8"))
    # 7 joins; all but lineitem-orders should be broadcast
    assert plan.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q18_exact_having_on_long(spark, sf_dir, qdf):
    # the HAVING predicate compares the fixed-point long, not a double
    plan = physical_plan(qdf("tpch_q18"))
    assert "1500000" in plan  # 150 * 10000 as long literal


def test_tpch_q19_residual_filter_not_nested_loop(spark, sf_dir, qdf):
    assert_not_in_plan(
        qdf("tpch_q19"),
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
    )


def test_running_sum_reset_single_exchange(spark, sf_dir, qdf):
    # the (user, epoch) window must reuse the user_id partitioning:
    # hashpartitioning(user_id) satisfies clustering on (user_id, epoch)
    plan = physical_plan(qdf("win_running_sum_reset"))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, tree
    assert tree.count("Window") == 2


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path):
    # the DPP operator's runtime shape: join-derived partition filter
    import pyspark.sql.functions as F

    from thrive_spark.tables import Tables

    t = Tables(spark, sf_dir)
    out = str(tmp_path / "dpp")
    t.documents.write.mode("overwrite").partitionBy("lang").parquet(out)
    fact = spark.read.parquet(out)
    dim = (
        t.documents.filter(F.col("source") == "src3")
        .select(F.col("lang").alias("dim_lang"))
        .distinct()
    )
    plan = physical_plan(fact.join(dim, fact.lang == dim.dim_lang))
    assert "dynamicpruning" in plan.lower(), plan


def test_join_hint_forces_shuffle_hash(spark, sf_dir, qdf):
    plan = physical_plan(qdf("join_hint_shuffle_hash"))
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan
    # the unhinted twin of the same join broadcasts at this scale
    from thrive_spark.tables import Tables
    from pyspark.sql import functions as F

    t = Tables(spark, sf_dir)
    unhinted = t.orders.join(
        t.customer.select("c_custkey", "c_mktsegment"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    assert "BroadcastHashJoin" in physical_plan(unhinted)


def test_bloom_prefilter_before_exact_join(spark, sf_dir, qdf):
    plan = physical_plan(qdf("join_bloom_prefilter"))
    # the bitwise membership test must run as a Filter ahead of the
    # exact broadcast semi join, not after it
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "shiftright" in plan


def test_fuzzy_join_is_equi_not_nested_loop(spark, sf_dir, qdf):
    plan = physical_plan(qdf("join_fuzzy_levenshtein"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_simhash_signature_map_only(spark, sf_dir, qdf):
    from thrive_spark.operators.dedup_extra import SIMHASH_BITS  # noqa: F401
    plan = physical_plan(qdf("dedup_simhash"))
    # the signature fold must not introduce a per-token explode
    assert "Generate explode" not in plan


def test_cache_reuse_hits_memory_scan(spark, sf_dir, qdf):
    plan = physical_plan(qdf("maintenance_cache_reuse"))
    assert "InMemoryTableScan" in plan


def test_time_travel_prunes_generations(spark, sf_dir, qdf):
    plan = physical_plan(qdf("scan_time_travel"))
    # plan is post-localCheckpoint; the materialized result must not
    # rescan parquet
    assert "Scan parquet" not in plan


def test_cluster_by_partition_local_sort(spark, sf_dir, qdf):
    plan = physical_plan(qdf("sql_cluster_by"))
    assert "hashpartitioning(o_custkey" in plan
    # partition-local sort (global flag false), not a total order
    assert "ASC NULLS FIRST], false, 0" in plan
    assert "rangepartitioning" not in plan


def test_topn_window_group_limit_pushdown(spark, sf_dir, qdf):
    """rank-filter top-n must engage WindowGroupLimit (Spark 3.5+):
    each partition keeps only k rows BEFORE the full sort/window,
    the optimization that makes windowed top-n viable at 100 TB."""
    plan = physical_plan(qdf("win_row_number_topn"))
    assert "WindowGroupLimit" in plan


def test_containment_candidate_join_is_hash_keyed(spark, sf_dir, qdf):
    """The prefix⋈postings candidate join must key on the equi pair
    (lang, shingle) — an equi hash/merge join with the size-order
    predicate as a residual filter, never a nested-loop over the
    corpus."""
    plan = physical_plan(qdf("dedup_shingle_containment"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_qualify_engages_window_group_limit(spark, sf_dir, qdf):
    """The QUALIFY-style rank filter must compile to the same
    WindowGroupLimit pushdown as the DataFrame top-n — the SQL surface
    must not lose the optimization."""
    plan = physical_plan(qdf("sql_window_qualify"))
    assert "WindowGroupLimit" in plan


def test_values_inline_dim_broadcasts(spark, sf_dir, qdf):
    """The 5-row VALUES dim must fold to a LocalTableScan joined by
    broadcast — no shuffle of the fact table for a lookup join."""
    plan = physical_plan(qdf("sql_values_inline_dim"))
    assert "LocalTableScan" in plan
    assert "BroadcastHashJoin" in plan


def test_exact_substring_no_cartesian(spark, sf_dir, qdf):
    """ExactSubstr must candidate-join on the gram hash — never
    all-pairs over documents."""
    plan = physical_plan(qdf("dedup_exact_substring"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_neighbors_wedge_join_hash_keyed(spark, sf_dir, qdf):
    """The neighbor-intersection wedge join keys on equi columns —
    hash/merge joins only, no nested loop over the edge list."""
    plan = physical_plan(qdf("graph_jaccard_neighbors"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ohlc_single_aggregate_no_window(spark, sf_dir, qdf):
    """OHLC bars are ONE partial+final aggregate (SortAggregate —
    min_by/max_by declare order-sensitive buffers, so Spark picks the
    sort-based impl; the partial still combines map-side) with a
    single Exchange on the bar key. The composite arg_min key replaces
    any per-bar Window pass."""
    plan = physical_plan(qdf("ts_ohlc_bars"))
    assert "partial_min_by" in plan  # map-side combine proof
    assert "Window" not in plan
    assert plan.count("+- Exchange") == 1  # one shuffle, on the bar key


def test_basket_brand_affinity_single_lineage(spark, sf_dir, qdf):
    """The window rewrite keeps ONE lineage: a single lineitem scan,
    no RDD barrier (a localCheckpoint plans as Scan ExistingRDD), and
    at most 6 exchanges (5 shuffles plus the dim broadcast)."""
    plan = physical_plan(qdf("basket_brand_affinity"))
    tree = plan.split("\n\n")[0]
    assert "ExistingRDD" not in plan, tree
    assert plan.count("lineitem.parquet") == 1, tree
    assert tree.count("Exchange") <= 6, tree


def test_physical_plan_same_after_execution(spark, sf_dir):
    """Once AQE has executed a frame, physical_plan keeps only its
    Initial plan, so the gates above do not depend on whether the
    oracle sweep ran the session-shared frame first."""
    import re

    df = QUERIES["win_running_sum_reset"](spark, sf_dir)
    fresh = physical_plan(df)
    df.collect()
    ran = physical_plan(df)

    def blocks(plan):
        plan = re.sub(r"\(\d+\)|#\d+L?|plan_id=\d+|isFinalPlan=\w+", "", plan)
        return sorted(b.strip() for b in plan.split("\n\n") if b.strip())

    assert "Final Plan" not in ran
    assert blocks(ran) == blocks(fresh)


def test_incremental_bucketed_probe_shuffle_free(spark, sf_dir):
    """The persisted-LSH-index exhibit: the (band, key) probe join must
    be a bucket-aligned SMJ with no Exchange on either side — the
    100 TB claim in dedup_incremental_bucketed's docstring, asserted."""
    from thrive_spark.operators.dedup_extra import _bucketed_probe

    _result, probe, cleanup = _bucketed_probe(
        spark, sf_dir, prefix="thrive_lshp"
    )
    try:
        plan = physical_plan(probe)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
    finally:
        cleanup()


def test_pair_scan_groups_on_tiles_not_labels(spark, sf_dir):
    """r11: the tiled BLAS pair scans must shuffle on (label, tile)
    keys, never on the bare 10-value label — the r10 weak-mark shape
    (one Arrow group per label, parallelism capped at 10)."""
    import re

    for qid, keys in [
        ("sim_pairs_threshold", ("ti", "tj")),
        ("dedup_incremental_embedding", ("cn", "cc")),
    ]:
        plan = physical_plan(QUERIES[qid](spark, sf_dir))
        m = re.search(r"Arguments: \[([^\]]*)\], \w*tile_", plan)
        assert m, f"{qid}: no FlatMapGroupsInPandas grouping found\n{plan}"
        for k in keys:
            assert f"{k}#" in m.group(1), f"{qid}: missing tile key {k}"


def test_neyman_allocation_broadcasts(spark, sf_dir, qdf):
    """The Neyman sampler's allocation table (|strata| rows) must
    reach the corpus as a broadcast join — a shuffled join on lang
    would move the whole corpus for a handful of allocation rows."""
    plan = physical_plan(qdf("sample_stratified_neyman"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_iceberg_mor_deletes_are_broadcast_anti_joins(spark, tmp_path):
    """Merge-on-read row drops must not change the scan's shape: both
    delete kinds plan as a BroadcastHashJoin LeftAnti over the
    parquet scan — delete keys broadcast, scan parallelism untouched,
    and never a CartesianProduct."""
    from thrive_spark.sources.iceberg_lite import IcebergLiteTable

    tbl = IcebergLiteTable(spark, str(tmp_path / "t"))
    tbl.create(spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "k bigint, p double"
    ))
    tbl.delete_rows_positional("k = 3")
    plan = physical_plan(tbl.snapshot())
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    tbl.delete_rows_equality(["k"], [(5,)])
    plan = physical_plan(tbl.snapshot())
    assert plan.count("LeftAnti") >= 2  # position + equality layers
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_delta_dv_snapshot_is_broadcast_anti_join(spark, tmp_path):
    from thrive_spark.sources.delta_lite import DeltaLiteTable

    t = DeltaLiteTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "k bigint, p double"
    ))
    t.delete_rows_dv("k = 3")
    plan = physical_plan(t.snapshot())
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_lakehouse_scan_keeps_pushdown(spark, tmp_path):
    """Row predicates on a lakehouse snapshot still reach the parquet
    scan as PushedFilters — the MoR wrapper must not break Catalyst's
    pushdown."""
    from thrive_spark.sources.iceberg_lite import IcebergLiteTable

    tbl = IcebergLiteTable(spark, str(tmp_path / "t"))
    tbl.create(spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "k bigint, p double"
    ))
    tbl.delete_rows_positional("k = 3")
    plan = physical_plan(tbl.snapshot().filter("p > 40.0"))
    assert "PushedFilters: [IsNotNull(p), GreaterThan(p,40.0)]" in plan


def test_hudi_mor_merge_is_single_window_shuffle(spark, tmp_path):
    """The MOR merge must stay one record-key shuffle feeding one
    row_number window over the base∪log union — no join at all in
    the merge (newest-wins resolves inside the window), no
    CartesianProduct, and the log decode confined to an
    Arrow-batched mapInPandas (one task per log file)."""
    from thrive_spark.sources.hudi_lite import HudiLiteTable

    t = HudiLiteTable(spark, str(tmp_path / "t"), key_field="k")
    t.bulk_insert(
        spark.createDataFrame(
            [(i, float(i)) for i in range(50)], "k bigint, p double"
        ),
        groups=2,
        table_type="MERGE_ON_READ",
    )
    t.upsert(spark.createDataFrame([(3, 9.0)], "k bigint, p double"))
    plan = physical_plan(t.snapshot())
    assert "RunningWindowFunction" in plan or "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exactly one hash exchange on the record key merges the sides
    assert plan.count("hashpartitioning(_hoodie_record_key") == 1
    assert "MapInPandas" in plan  # the distributed log decode


def test_hudi_read_optimized_is_pure_scan(spark, tmp_path):
    """The read-optimized view must cost a parquet scan — no window,
    no python stage."""
    from thrive_spark.sources.hudi_lite import HudiLiteTable

    t = HudiLiteTable(spark, str(tmp_path / "t"), key_field="k")
    t.bulk_insert(
        spark.createDataFrame(
            [(i, float(i)) for i in range(50)], "k bigint, p double"
        ),
        groups=2,
        table_type="MERGE_ON_READ",
    )
    t.upsert(spark.createDataFrame([(3, 9.0)], "k bigint, p double"))
    plan = physical_plan(t.snapshot(read_optimized=True))
    assert "Window" not in plan
    assert "MapInPandas" not in plan
    assert "Scan parquet" in plan

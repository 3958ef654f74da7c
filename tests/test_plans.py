"""Physical-plan regression tests.

Correctness is the oracle's job; these tests pin the SCALE properties
— pushdown, pruning, broadcast choice, distributed top-k — so a
refactor that silently degrades the plan (full sort instead of
TakeOrderedAndProject, lost filter pushdown, corpus-sized shuffle in
BM25 scoring) fails CI even though results stay correct.
"""

from __future__ import annotations

import pytest

from vector_graph_native_database__spark import registry
from vector_graph_native_database__spark.plans import plan_string, plan_summary

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    return plan_string(registry.all_queries()[name](spark, SF))


def test_vector_topk_is_broadcast_plus_distributed_topk(spark):
    p = plan_of(spark, "vector_topk")
    assert "TakeOrderedAndProject" in p  # never a global sort
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_metadata_filter_pushed_to_parquet_scan(spark):
    p = plan_of(spark, "vector_topk_filtered")
    assert "EqualTo(lang,en)" in p, "metadata filter must reach the scan"


def test_scans_are_column_pruned(spark):
    p = plan_of(spark, "vector_topk")
    # documents has text/lang/source/n_chars; topk needs only id+text
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    doc_schemas = [s for s in schemas if "doc_id" in s]
    assert doc_schemas and all("n_chars" not in s for s in doc_schemas)


def test_bm25_scoring_has_no_vocabulary_sortmerge(spark):
    p = plan_of(spark, "bm25_topk")
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p, "query scoring must stay broadcast-side"


def test_bm25_staged_topk_reads_staged_scalars(spark):
    # the staged index carries its (N, avgdl, avg idf) row as a local
    # relation, so serving a query runs no corpus-wide aggregate over
    # doclen/df; the unstaged triple keeps the lazy in-plan aggregate
    from vector_graph_native_database__spark.operators import bm25
    from vector_graph_native_database__spark.registry.common import model
    from vector_graph_native_database__spark.registry.searchq import (
        BM25_QUERY,
    )

    nodes, _, _ = model(spark, SF)
    stats = bm25.bm25_index_stage(spark, nodes, SF)
    p = plan_string(bm25.bm25_topk(nodes, BM25_QUERY, 15, stats=stats))
    assert "avg(dl#" not in p and "count(1)" not in p
    assert "avg(raw_idf" not in p
    lazy = plan_string(
        bm25.bm25_topk(nodes, BM25_QUERY, 15, stats=stats[:3])
    )
    assert "avg(dl#" in lazy and "avg(raw_idf" in lazy


def test_bm25_staged_scores_are_bit_identical_across_calls(spark):
    # unrounded: a per-query recompute of __avg_idf can move by an ulp
    # with the partition summation order; the staged row cannot
    from vector_graph_native_database__spark.operators import bm25
    from vector_graph_native_database__spark.registry.common import model
    from vector_graph_native_database__spark.registry.searchq import (
        BM25_QUERY,
    )

    nodes, _, _ = model(spark, SF)
    stats = bm25.bm25_index_stage(spark, nodes, SF)
    runs = [
        bm25.bm25_topk(nodes, BM25_QUERY, 15, stats=stats).collect()
        for _ in range(3)
    ]
    again = bm25.bm25_index_stage(spark, nodes, SF)
    runs.append(bm25.bm25_topk(nodes, BM25_QUERY, 15, stats=again).collect())
    assert runs[0] and all(r == runs[0] for r in runs[1:])


def test_graph_bfs_start_frame_is_local_table_scan(spark, monkeypatch):
    # on the shuffle path (FRONTIER_CAP = 0: from level 1) the level-0
    # reached set is a JVM local relation, not a checkpointed Python
    # RDD; the per-level frontiers stay checkpointed (their statistics
    # keep the level joins broadcast)
    import re

    from vector_graph_native_database__spark.operators import graph as graph_ops
    from vector_graph_native_database__spark.registry.common import model

    monkeypatch.setattr(graph_ops, "FRONTIER_CAP", 0)
    _, _, edges = model(spark, SF)
    p = plan_string(graph_ops.graph_bfs(edges, "0", 2))
    assert re.search(
        r"LocalTableScan \[id#\d+, distance#\d+, path_weight#\d+\]", p
    ), p
    assert "Scan ExistingRDD[id#" in p, "levels must stay checkpointed"


def test_graph_bfs_below_cap_is_one_local_scan_per_level(spark, spark_jobs):
    # below FRONTIER_CAP each level is one bounded collect of the
    # frontier's out-edges and the whole result is a local relation: no
    # join, no checkpoint, no probe. Spark's bounded collect scans one
    # partition, then the rest, so it is one job on a one-partition
    # edge frame and at most two on the three-partition model frame.
    import re

    from vector_graph_native_database__spark.operators.graph import graph_bfs
    from vector_graph_native_database__spark.registry.common import model

    _, _, edges = model(spark, SF)
    for parts, per_level in ((1, 1), (3, 2)):
        e = edges.coalesce(parts).localCheckpoint(eager=True)
        assert e.rdd.getNumPartitions() == parts
        bfs, jobs = spark_jobs(lambda: graph_bfs(e, "0", 2))
        p = plan_string(bfs).strip()
        assert re.fullmatch(
            r"LocalTableScan \[id#\d+, distance#\d+, path_weight#\d+\]", p
        ), p
        assert {r["distance"] for r in bfs.collect()} == {0, 1, 2}
        assert jobs <= 2 * per_level, (parts, jobs)


def test_bfs_driver_state_stays_under_cap(spark, monkeypatch):
    # the cap bounds driver work, not only collected edges: a start set
    # over the cap never enters the driver loop (its sources are read
    # only up to cap + 1), and a level whose (qid, out-edge) pairs push
    # the reached set over the cap hands over to the shuffle path
    from vector_graph_native_database__spark.operators import graph as graph_ops
    from vector_graph_native_database__spark.operators.analytics import (
        multi_source_bfs,
    )

    levels = []
    src_in = graph_ops._src_in
    monkeypatch.setattr(
        graph_ops, "_src_in", lambda ids: levels.append(ids) or src_in(ids)
    )
    monkeypatch.setattr(graph_ops, "FRONTIER_CAP", 4)
    star = spark.createDataFrame(
        [(f"e{i}", "0", str(i), "t", 1.0) for i in range(1, 5)]
        + [("f", "1", "6", "t", 1.0)],
        "id string, src string, dst string, type string, weight double",
    )
    roots = spark.createDataFrame([(str(i),) for i in range(6)], "id string")
    hops = multi_source_bfs(star, roots, 2)
    assert levels == []
    assert "Scan ExistingRDD" in plan_string(hops)
    assert hops.count() == 6 + 4 + 1 + 1

    bfs = graph_ops.graph_bfs(star, "0", 2)
    # level 1's 4 out-edges fit, but it folds 4 pairs into a reached
    # set of 1: 1 + 4 > 4
    assert levels == [{"0"}]
    assert "Scan ExistingRDD" in plan_string(bfs)
    assert {r["id"]: r["distance"] for r in bfs.collect()} == {
        "0": 0, "1": 1, "2": 1, "3": 1, "4": 1, "6": 2
    }


def test_bm25_topk_skips_outer_join_to_zero(spark):
    # the positive filter makes the outer join dead weight; guard that
    # the top-k path never reintroduces it
    df = registry.all_queries()["bm25_topk"](spark, SF)
    assert "left_outer" not in df._jdf.queryExecution().logical().toString()


def test_hybrid_merges_scores_with_bounded_joins(spark):
    # vec-score and graph-score attach to the node universe via two
    # outer merges on id; anything beyond that means a redundant pass
    p = plan_of(spark, "hybrid_search")
    assert p.count("SortMergeJoin") <= 2
    assert "TakeOrderedAndProject" in p


def test_crud_mutation_side_broadcasts(spark):
    p = plan_of(spark, "node_upsert")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


@pytest.mark.parametrize(
    "name",
    ["vector_topk", "bm25_topk", "hybrid_search", "dedup_minhash_lsh"],
)
def test_no_python_row_udfs_in_hot_paths(spark, name):
    s = plan_summary(registry.all_queries()[name](spark, SF))
    assert s["python_row_udfs"] == 0, "row-at-a-time Python UDF crept in"
    assert s["python_arrow_udfs"] == 0


@pytest.mark.parametrize(
    "name", ["sample_hash", "split_train_eval", "doc_chunk"]
)
def test_sampling_and_chunking_are_shuffle_free(spark, name):
    # hash-bucket membership and per-row chunk explode must evaluate
    # scan-side: at 100 TB these are the ops that touch every row, and
    # a single stray Exchange makes them corpus-sized shuffles
    s = plan_summary(registry.all_queries()[name](spark, SF))
    assert s["exchanges"] == 0
    assert s["python_row_udfs"] == 0 and s["python_arrow_udfs"] == 0


def test_stratified_sample_shuffles_once_on_group_key(spark):
    s = plan_summary(registry.all_queries()["sample_stratified"](spark, SF))
    assert s["exchanges"] == 1  # the window's partitionBy — nothing else


def test_corpus_clean_dedup_joins_stay_broadcast(spark):
    s = plan_summary(registry.all_queries()["corpus_clean"](spark, SF))
    assert s["sort_merge_joins"] == 0
    assert s["exchanges"] <= 1  # only the content-hash groupBy


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    # bucketing is the 100 TB answer for recurring id-keyed joins:
    # co-located buckets join with zero shuffle on either side
    from vector_graph_native_database__spark.sources.sinks import save_bucketed
    from vector_graph_native_database__spark.sources import nodes_df, embeddings_df

    SFD = "/root/testdata/sf0.001"
    save_bucketed(
        nodes_df(spark, SFD), "b_nodes", ["id"], 8,
        sort_cols=["id"], path=str(tmp_path / "b_nodes"),
    )
    save_bucketed(
        embeddings_df(spark, SFD).withColumnRenamed("node_id", "id"),
        "b_emb", ["id"], 8, sort_cols=["id"], path=str(tmp_path / "b_emb"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_nodes").join(spark.table("b_emb"), "id")
        s = plan_summary(joined)
        assert s["exchanges"] == 0, "bucketed join must not shuffle"
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_nodes")
        spark.sql("DROP TABLE IF EXISTS b_emb")


def test_no_complex_typed_columns_in_any_registry_output(spark):
    # The driver's correctness gate canonicalizes results with pandas
    # sort_values, which cannot order list/map/struct cells — an
    # array-typed output column ERRs the driver row even when the
    # operator is correct (vec_quantize_int8 in round 1). Pin every
    # registry output to scalar columns so the hazard can't regress.
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = []
    for name, fn in registry.all_queries().items():
        for field in fn(spark, SF).schema.fields:
            if isinstance(field.dataType, (ArrayType, MapType, StructType)):
                offenders.append(f"{name}.{field.name}: {field.dataType.simpleString()}")
    assert not offenders, f"complex-typed registry outputs: {offenders}"


def test_gap_sessionization_single_shuffle(spark):
    # lag-window, cumsum-window, and the (user_id, sid) groupBy all
    # run on the user_id partitioning — one Exchange total
    s = plan_summary(registry.all_queries()["events_sessionize_gap"](spark, SF))
    assert s["exchanges"] == 1


def test_pmi_bigrams_distributed_topk_and_broadcast_counts(spark):
    p = plan_of(spark, "text_pmi_bigrams")
    assert "TakeOrderedAndProject" in p  # top-50 never a global sort
    assert "SortMergeJoin" not in p  # unigram frames stay broadcast
    assert "CartesianProduct" not in p  # 1-row total is BNLJ-broadcast


def test_knn_join_never_cartesian(spark):
    p = plan_of(spark, "ann_knn_join")
    # the self-join must be keyed on the LSH bucket, not all-pairs
    assert "CartesianProduct" not in p


def test_funnel_single_user_shuffle(spark):
    s = plan_summary(registry.all_queries()["events_funnel"](spark, SF))
    # groupBy(user) then one-row agg: partial aggregation makes the
    # second exchange single-row; no joins at all
    assert s["sort_merge_joins"] == 0 and s["broadcast_hash_joins"] == 0
    assert s["exchanges"] <= 2


def test_q5_star_join_broadcasts_dimensions(spark):
    s = plan_summary(
        registry.all_queries()["olap_local_supplier_volume"](spark, SF)
    )
    # region/nation/supplier/customer broadcast; at most the
    # orders⋈lineitem fact join may shuffle-join
    assert s["broadcast_hash_joins"] >= 4
    assert s["sort_merge_joins"] <= 1
    assert s["python_row_udfs"] == 0


def test_salted_join_spreads_hot_key_and_matches_plain_join(spark):
    """salted_join_hot_keys: (1) result multiset == plain join;
    (2) the hot key's fact rows carry >= salt_buckets distinct salts
    (the spread that breaks the straggler) while cold keys stay on
    salt 0; (3) the physical join is keyed on (key, __salt)."""
    from vector_graph_native_database__spark.operators.skew import (
        salted_join_hot_keys,
    )
    from pyspark.sql import functions as F

    facts = spark.createDataFrame(
        [("hot", i, float(i)) for i in range(400)]
        + [("cold%d" % i, i, float(i)) for i in range(20)],
        "k string, seq int, v double",
    )
    dim = spark.createDataFrame(
        [("hot", "H"), ("cold3", "C3"), ("cold7", "C7")],
        "k string, label string",
    )
    salted = salted_join_hot_keys(
        facts, dim, "k", salt_buckets=8, hot_row_threshold=100,
        keep_salt=True,
    )
    plain = facts.join(dim, "k")
    got = sorted(
        (r["k"], r["seq"], r["v"], r["label"])
        for r in salted.drop("__salt").collect()
    )
    want = sorted(
        (r["k"], r["seq"], r["v"], r["label"]) for r in plain.collect()
    )
    assert got == want and len(got) == 402

    spread = {
        r["k"]: r["n"]
        for r in salted.groupBy("k")
        .agg(F.countDistinct("__salt").alias("n"))
        .collect()
    }
    assert spread["hot"] >= 8, spread
    assert spread["cold3"] == 1 and spread["cold7"] == 1

    p = salted._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in p  # join/exchange keyed on the salt column


def test_multiprobe_paths_never_cartesian(spark):
    """All three multi-probe variants must stay keyed equi-joins on
    the probed bucket — the probe explosion multiplies rows, never
    join arity."""
    for name in (
        "ann_multiprobe_lsh_topk",
        "ann_knn_join_multiprobe",
        "dedup_embedding_cosine_multiprobe",
        "ann_ivfpq_topk",
    ):
        p = plan_of(spark, name)
        assert "CartesianProduct" not in p, name


def test_lsh_bucket_store_partition_pruned(spark, tmp_path):
    """The 100 TB ANN serving claim, proven on the plan: the bucketed
    vector table written partitioned by LSH bucket lets a
    single-bucket query read ONE partition — the scan must carry a
    partition filter on `bucket` and list only the matching
    directory, not the corpus."""
    from pyspark.sql import functions as F

    from vector_graph_native_database__spark.operators.ann import (
        hyperplanes,
        lsh_buckets,
    )
    from vector_graph_native_database__spark.sources import embeddings_df

    emb = embeddings_df(spark, "/root/testdata/sf0.001")
    bucketed = lsh_buckets(emb, hyperplanes(spark, 8, 64))
    path = str(tmp_path / "lsh_store")
    bucketed.write.partitionBy("bucket").parquet(path)

    store = spark.read.parquet(path)
    some_bucket = store.select("bucket").first()["bucket"]
    q = store.filter(F.col("bucket") == some_bucket)
    import re

    plan = q._jdf.queryExecution().executedPlan().toString()
    # the bucket predicate must sit INSIDE the PartitionFilters
    # bracket (directory pruning); matching 'bucket' anywhere after
    # the label would false-pass on DataFilters/ReadSchema text when
    # pruning regresses to row filtering
    assert re.search(r"PartitionFilters: \[[^\]]*bucket", plan), (
        "bucket predicate must appear inside PartitionFilters"
    )
    # the filter must NOT survive past the scan as a data filter on a
    # partition column (it's directory pruning, not row filtering)
    got = q.count()
    want = bucketed.filter(F.col("bucket") == some_bucket).count()
    assert got == want and got > 0


def test_partitioned_parquet_read_prunes_partitions(spark):
    p = plan_of(spark, "io_parquet_partitioned")
    # the event_type predicate must be a directory-level PartitionFilter
    # on the hive-partitioned sink, not a row-level data filter
    assert "PartitionFilters" in p
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert pf and "event_type" in pf.group(1), p[:2000]


def test_range_search_is_map_only_broadcast(spark):
    p = plan_of(spark, "ann_range_search")
    # radius query: broadcast the query side, no shuffle, no window
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "Window" not in p


def test_jaccard_linkpred_never_cartesian(spark):
    p = plan_of(spark, "graph_jaccard_linkpred")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "TakeOrderedAndProject" in p  # top-k, not global sort


def test_rollup_grains_single_scan(spark):
    p = plan_of(spark, "events_rollup_grains")
    # grouping-set expansion happens in one Expand over one scan
    assert p.count("Scan parquet") == 1
    assert "Expand" in p


def test_returned_items_pushes_filter_and_broadcasts_dims(spark):
    p = plan_of(spark, "olap_returned_items")
    assert "EqualTo(l_returnflag,R)" in p, "big-table filter must reach scan"
    assert "TakeOrderedAndProject" in p  # top-k, never a global sort
    assert p.count("BroadcastHashJoin") >= 2  # customer + nation dims


def test_priority_late_uses_semi_join(spark):
    p = plan_of(spark, "olap_priority_late")
    assert "LeftSemi" in p, "EXISTS must compile to a semi join"
    assert "CartesianProduct" not in p


def test_pii_scrub_is_scan_projection_only(spark):
    s = plan_summary(registry.all_queries()["text_pii_scrub"](spark, SF))
    assert s["exchanges"] == 0, "PII scrub must stay a stateless projection"
    assert s["python_row_udfs"] == 0 and s["python_arrow_udfs"] == 0


def test_winnowing_has_no_cross_document_shuffle_joins(spark):
    s = plan_summary(registry.all_queries()["doc_winnowing"](spark, SF))
    assert s["sort_merge_joins"] == 0 and s["shuffled_hash_joins"] == 0
    assert s["python_row_udfs"] == 0 and s["python_arrow_udfs"] == 0


def test_bloom_semi_join_broadcasts_filter_bits(spark):
    p = plan_of(spark, "bloom_semi_join")
    assert "BroadcastHashJoin" in p, "bloom bit-positions must broadcast"
    assert "CartesianProduct" not in p


def test_adamic_adar_never_cartesian_and_distributed_topk(spark):
    p = plan_of(spark, "graph_adamic_adar")
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p


def test_forecast_revenue_pushes_all_range_predicates(spark):
    p = plan_of(spark, "olap_forecast_revenue")
    # all range filters must reach the parquet scan; the formatted
    # plan truncates the PushedFilters list, so assert the stable
    # prefix (all three columns present + the first range op)
    assert (
        "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), "
        "IsNotNull(l_quantity), GreaterThanOrEqual" in p
    ), "Q6 range predicates must reach the parquet scan"
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    li = [s for s in schemas if "l_extendedprice" in s]
    assert li and all("l_orderkey" not in s for s in li), (
        "Q6 must prune to the 4 referenced lineitem columns"
    )


def test_promo_revenue_broadcasts_part_dimension(spark):
    p = plan_of(spark, "olap_promo_revenue")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p, "part side must broadcast"


def test_large_orders_filters_before_join_and_topk(spark):
    p = plan_of(spark, "olap_large_orders")
    assert "TakeOrderedAndProject" in p  # top-N never a global sort
    assert "CartesianProduct" not in p


def test_ewma_is_window_only_no_self_join(spark):
    s = plan_summary(registry.all_queries()["events_ewma"](spark, SF))
    # the frame formulation must not fall back to an rn-range self-join
    assert s["sort_merge_joins"] == 0 and s["shuffled_hash_joins"] == 0
    assert s["broadcast_hash_joins"] == 0
    assert s["python_row_udfs"] == 0 and s["python_arrow_udfs"] == 0
    assert s["exchanges"] <= 1, "one shuffle on user_id only"


def test_gapfill_spine_is_span_bounded_no_calendar_cross(spark):
    p = plan_of(spark, "events_gapfill")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_profile_stats_prunes_scan_to_profiled_columns(spark):
    p = plan_of(spark, "profile_table_stats")
    assert "CartesianProduct" not in p and "Join" not in p
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all("l_orderkey" not in s for s in schemas), (
        "profiling must not read unprofiled columns"
    )


def test_dq_constraints_use_anti_joins_not_cartesian(spark):
    p = plan_of(spark, "dq_constraint_check")
    assert "LeftAnti" in p, "FK probes must compile to anti joins"
    assert "CartesianProduct" not in p


def test_ann_recall_eval_stays_broadcast_side(spark):
    p = plan_of(spark, "ann_recall_eval")
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_ohlc_bars_single_exchange(spark):
    # asc/desc windows and the groupBy all share the (user_id, day)
    # partitioning — one Exchange total, no joins
    s = plan_summary(registry.all_queries()["events_ohlc_bars"](spark, SF))
    assert s["sort_merge_joins"] == 0 and s["broadcast_hash_joins"] == 0
    assert s["exchanges"] == 1


def test_market_share_broadcasts_all_dimension_chains(spark):
    s = plan_summary(registry.all_queries()["olap_market_share"](spark, SF))
    # region→nation→customer, supplier→nation, plus orders at this sf:
    # every dimension attachment is broadcast; no cartesian anywhere
    assert s["broadcast_hash_joins"] >= 4
    p = plan_of(spark, "olap_market_share")
    assert "CartesianProduct" not in p


def test_idle_customers_anti_join_on_recency_filtered_keys(spark):
    p = plan_of(spark, "olap_idle_customers")
    assert "LeftAnti" in p
    # the cutoff must prune the orders scan before the distinct
    assert "GreaterThanOrEqual(o_orderdate" in p
    assert "CartesianProduct" not in p


def test_changelog_apply_single_window_shuffle_no_joins(spark):
    s = plan_summary(
        registry.all_queries()["cdc_changelog_apply"](spark, SF)
    )
    assert s["sort_merge_joins"] == 0 and s["broadcast_hash_joins"] == 0
    assert s["python_row_udfs"] == 0 and s["python_arrow_udfs"] == 0


def test_balanced_sample_broadcasts_min_quota(spark):
    p = plan_of(spark, "sample_balanced")
    # the data-derived cap is a 1-row broadcast, never a driver collect
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    s = plan_summary(registry.all_queries()["sample_balanced"](spark, SF))
    assert s["python_row_udfs"] == 0 and s["python_arrow_udfs"] == 0


def test_monthend_balance_no_cartesian_no_python(spark):
    s = plan_summary(
        registry.all_queries()["olap_monthend_balance"](spark, SF)
    )
    assert s["python_row_udfs"] == 0 and s["python_arrow_udfs"] == 0
    p = plan_of(spark, "olap_monthend_balance")
    assert "CartesianProduct" not in p


def test_phrase_search_filters_postings_before_join(spark):
    p = plan_of(spark, "bm25_phrase_search")
    assert "TakeOrderedAndProject" in p  # top-k never a global sort
    assert "CartesianProduct" not in p
    # the token filters must reach the posting build, not run post-join
    s = plan_summary(registry.all_queries()["bm25_phrase_search"](spark, SF))
    assert s["python_row_udfs"] == 0 and s["python_arrow_udfs"] == 0


def test_bitmap_retention_word_frames_only(spark):
    s = plan_summary(
        registry.all_queries()["events_bitmap_retention"](spark, SF)
    )
    assert s["python_row_udfs"] == 0 and s["python_arrow_udfs"] == 0
    p = plan_of(spark, "events_bitmap_retention")
    assert "CartesianProduct" not in p


def test_hll_window_tiles_explodes_registers_not_events(spark):
    # the window explode must sit ABOVE the per-tile register
    # aggregate: one scan of events, and the explode's input is the
    # register frame (<= 64 rows per tile)
    from vector_graph_native_database__spark.plans import plan_string

    df = registry.all_queries()["hll_window_tiles"](spark, SF)
    p = plan_string(df)
    assert p.count("Generate explode") >= 1
    s = plan_summary(df)
    assert s["python_row_udfs"] == 0 and s["python_arrow_udfs"] == 0


def test_walk_corpus_no_cartesian_per_round(spark):
    p = plan_of(spark, "graph_walk_corpus")
    assert "CartesianProduct" not in p
    s = plan_summary(registry.all_queries()["graph_walk_corpus"](spark, SF))
    assert s["python_row_udfs"] == 0 and s["python_arrow_udfs"] == 0


def test_bucketed_join_is_shuffle_free_when_not_broadcastable(spark):
    """With broadcast off (the fact⨝fact case), the bucketed tables
    must join as a co-located SortMergeJoin: zero shuffle Exchanges
    on the join inputs — the only Exchange in the plan belongs to the
    downstream groupBy."""
    import re

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    adaptive = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = registry.all_queries()["io_bucketed_join"](spark, SF)
        p = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.adaptive.enabled", adaptive)
    assert "SortMergeJoin" in p
    assert p.count("Bucketed: true") == 2
    # exactly one Exchange: the aggregate's, never the join inputs'
    assert len(re.findall(r"\bExchange hashpartitioning", p)) == 1


def test_bm25_multi_query_batch_stays_broadcast_side(spark):
    """The batched scorer must ride ONE corpus pass: the (qid, tok)
    idf frame joins broadcast (never a vocabulary sort-merge) and the
    per-query top-k is a window, not Q separate plans."""
    p = plan_of(spark, "bm25_topk_multi")
    assert "SortMergeJoin" not in p
    assert "RunningWindowFunction" in p or "Window" in p
    s = plan_summary(registry.all_queries()["bm25_topk_multi"](spark, SF))
    assert s["python_row_udfs"] == 0 and s["python_arrow_udfs"] == 0
    # the corpus itself is NEVER scanned: every input is a compact
    # staged-index artifact (posting/doclen/df parquet), and those
    # stay bounded — not Q re-derivations of the posting frame
    assert "documents.parquet" not in p
    assert p.count("bm25_index") >= 1
    assert s["parquet_scans"] <= 6


def test_vector_topk_multi_single_scan_no_python(spark):
    # the batch must not fall back to Python or a per-query cartesian
    s = plan_summary(registry.all_queries()["vector_topk_multi"](spark, SF))
    assert s["python_row_udfs"] == 0 and s["python_arrow_udfs"] == 0
    p = plan_of(spark, "vector_topk_multi")
    # query vectors attach via broadcast, never a shuffle join
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_hybrid_multi_no_python_and_broadcast_queries(spark):
    s = plan_summary(
        registry.all_queries()["hybrid_search_multi"](spark, SF)
    )
    assert s["python_row_udfs"] == 0 and s["python_arrow_udfs"] == 0


def test_square_count_stays_integer_aggregate(spark):
    # one wedge self-join, no Python, no cartesian product
    p = plan_of(spark, "graph_square_count")
    assert "CartesianProduct" not in p
    s = plan_summary(registry.all_queries()["graph_square_count"](spark, SF))
    assert s["python_row_udfs"] == 0 and s["python_arrow_udfs"] == 0


def test_repetition_score_is_two_level_aggregate(spark):
    # no joins at all: explode -> (id, gram) agg -> (id) agg
    s = plan_summary(
        registry.all_queries()["text_repetition_score"](spark, SF)
    )
    assert s["python_row_udfs"] == 0 and s["python_arrow_udfs"] == 0
    assert (
        s["sort_merge_joins"] == 0
        and s["broadcast_hash_joins"] == 0
        and s["shuffled_hash_joins"] == 0
    )


def test_slo_burn_rate_windows_hourly_grain_only(spark):
    # the RANGE window must run over the hourly aggregate, not raw
    # events: the window's child exchange is single-partition over a
    # tiny frame, and no join appears anywhere
    s = plan_summary(
        registry.all_queries()["events_slo_burn_rate"](spark, SF)
    )
    assert (
        s["sort_merge_joins"] == 0
        and s["broadcast_hash_joins"] == 0
        and s["shuffled_hash_joins"] == 0
    )


def test_rfm_segments_no_global_ntile_window(spark):
    # the three R/F/M quintiles must come from the distributed
    # count-below prefix sum (attach_exact_ntile), never from
    # ntile() over an unpartitioned window — the round-5 verdict's
    # one scale-killer; staging keeps the plan linear (no parquet
    # re-scans in the final assembled plan)
    df = registry.all_queries()["events_rfm_segments"](spark, SF)
    p = plan_string(df)
    assert "ntile(" not in p.replace("percentile_approx", "")
    s = plan_summary(df)
    assert s["python_row_udfs"] == 0 and s["parquet_scans"] == 0
    assert s["exchanges"] < 40, "chained ntile attaches must be staged"


def test_minhash_band_sweep_stages_signatures_once(spark):
    # signatures/truth are eagerly staged (the shingle frame is NOT —
    # it is single-use and corpus×shingles blocks OOM at sf1); every
    # sweep point is an equi-join over the staged frames — the final
    # plan must contain ZERO parquet scans (a re-scan means a banding
    # replayed the corpus) and no nested-loop join anywhere
    s = plan_summary(
        registry.all_queries()["dedup_minhash_band_sweep"](spark, SF)
    )
    assert s["parquet_scans"] == 0
    assert s["broadcast_nl_joins"] == 0
    assert s["python_row_udfs"] == 0 and s["python_arrow_udfs"] == 0


def test_ann_tier_report_brute_truth_staged_once(spark):
    # exact ground truth is checkpointed and re-READ per tier, never
    # recomputed: the plan shows one ExistingRDD scan per tier join
    # (>= tier count) and the per-tier index builds keep the audited
    # shapes (no python row udfs, no cartesian products)
    df = registry.all_queries()["ann_tier_report"](spark, SF)
    p = plan_string(df)
    s = plan_summary(df)
    assert p.count("Scan ExistingRDD") >= 11, "brute truth must be staged"
    assert "CartesianProduct" not in p
    assert s["python_row_udfs"] == 0


@pytest.mark.parametrize(
    "name,points",
    [("ann_ivf_nprobe_sweep", 3), ("ann_filtered_nprobe_sweep", 4)],
)
def test_nprobe_sweeps_train_zero_times_in_plan(spark, name, points):
    # the IVF index is trained+assigned ONCE into the shared staged
    # parquet (cidx-partitioned), and since round 10 the sweep is
    # FUSED: one scoring pass at max(nprobe) is checkpointed and
    # every sweep point filters it by probe rank. Pin: the final plan
    # contains ZERO Lloyd trainings (posexplode → per-component mean
    # is the training signature), ZERO staged-index scans (the
    # serving pass ran once, before the checkpoint), and exactly one
    # scan of the checkpointed (qid, id, cos, prb) candidate relation
    # and of the checkpointed (qid, id, b) truth per sweep point.
    # test_round10's single-candidate-pass test pins the build side
    # by call count.
    import re

    df = registry.all_queries()[name](spark, SF)
    p = plan_string(df)
    s = plan_summary(df)
    assert "posexplode" not in p, "training must not appear in the plan"
    assert "ivf_index" not in p, "scoring must run once, pre-checkpoint"
    cand = re.findall(
        r"Scan ExistingRDD\[qid#\d+,id#\d+,cos#\d+,prb#\d+\]", p
    )
    truth = re.findall(r"Scan ExistingRDD\[qid#\d+,id#\d+,b#\d+\]", p)
    assert len(cand) == points, (
        "each sweep point must read the checkpointed candidates once"
    )
    assert len(truth) == points, "each sweep point must read staged truth"
    assert "CartesianProduct" not in p
    assert s["python_row_udfs"] == 0


def test_ivf_family_serves_from_shared_staged_index(spark):
    # ann_ivf_topk, ann_ivf_filtered_topk and ann_ivf_cell_stats all
    # read the SAME staged index parquet instead of retraining the
    # deterministic quantizer per entry
    for name in (
        "ann_ivf_topk", "ann_ivf_filtered_topk", "ann_ivf_cell_stats"
    ):
        p = plan_of(spark, name)
        assert "ivf_index" in p, f"{name} must read the staged index"
        assert "posexplode" not in p, f"{name} must not retrain in-plan"


def test_hybrid_weight_sweep_reweights_staged_tops_only(spark):
    # the five fused top-15s are built once (staged); every sweep row
    # is a broadcast join of <=15-row frames — zero parquet scans,
    # zero sort-merge joins, zero shuffles beyond the final union agg
    s = plan_summary(
        registry.all_queries()["hybrid_weight_sweep"](spark, SF)
    )
    assert s["parquet_scans"] == 0
    assert s["sort_merge_joins"] == 0
    assert s["python_row_udfs"] == 0 and s["python_arrow_udfs"] == 0


def test_hybrid_weight_sweep_builds_scores_once(spark, monkeypatch):
    # BUILD cost pin (not just the post-checkpoint serving plan): the
    # whole 5-point sweep runs exactly ONE embeddings scoring pass
    # and ONE depth-2 BFS — the (vec_norm, g_score) frame is
    # checkpointed once and every weight reweights it. A regression
    # back to hybrid_search-per-weight would call each 5x.
    from vector_graph_native_database__spark.operators import (
        graph as graph_ops,
        vector_search,
    )

    calls = {"score": 0, "bfs": 0}
    real_score, real_bfs = vector_search.score_embeddings, graph_ops.graph_bfs

    def counting_score(*a, **kw):
        calls["score"] += 1
        return real_score(*a, **kw)

    def counting_bfs(*a, **kw):
        calls["bfs"] += 1
        return real_bfs(*a, **kw)

    monkeypatch.setattr(vector_search, "score_embeddings", counting_score)
    monkeypatch.setattr(graph_ops, "graph_bfs", counting_bfs)
    df = registry.all_queries()["hybrid_weight_sweep"](spark, SF)
    assert df.count() == 5
    assert calls == {"score": 1, "bfs": 1}


def test_semdedup_central_no_corpus_cartesian(spark):
    # in-cluster pairing must stay an equi-join on the cluster key;
    # the only nested-loop is the 8-centroid broadcast (absent from
    # the final staged plan) — never an all-pairs corpus product
    df = registry.all_queries()["dedup_semdedup_central"](spark, SF)
    p = plan_string(df)
    assert "CartesianProduct" not in p
    s = plan_summary(df)
    assert s["broadcast_nl_joins"] == 0
    assert s["python_row_udfs"] == 0


def test_watermark_lateness_single_pass_grid(spark):
    # the 4-value watermark grid is answered by one conditional
    # aggregate over ONE pass of the lateness frame, exploded from
    # array literals afterwards — never a grid x events replication
    # join. The only nested-loop joins are the prefix-max machinery's
    # two 1-row boundary broadcasts (the bnd frame, replayed once in
    # the per-bucket offsets branch); the grid itself must appear as
    # a Generate(explode) over the single aggregated row.
    df = registry.all_queries()["events_watermark_lateness"](spark, SF)
    p = plan_string(df)
    s = plan_summary(df)
    assert s["broadcast_nl_joins"] == 2, "grid must not join events"
    assert "Generate explode" in p, "grid rows come from explode"
    assert s["python_row_udfs"] == 0


def test_minhash_family_serves_from_staged_index(spark):
    # near-dup pairing and incremental ingest read the SAME staged
    # shingle/signature parquet (minhash_index_stage) instead of
    # re-tokenizing + re-signing the corpus per entry; the signature
    # build's marker is the 12-perm range crossJoin
    for name in ("dedup_minhash_lsh", "dedup_incremental_lsh"):
        p = plan_of(spark, name)
        assert "minhash_index" in p, f"{name} must read the staged index"
        assert "Range (0, 12" not in p, f"{name} must not re-sign in-plan"


def test_minhash_band_sweep_zero_inplan_signature_recomputes(
    spark, monkeypatch
):
    # BUILD-cost pin for the whole sweep: once the shared index is
    # staged, the serving path runs ZERO shingle builds and ZERO
    # signature builds — every sweep point is banding + equi-joins
    # over the staged frames (semi-joined to the interned reps)
    from vector_graph_native_database__spark.operators import dedup
    from vector_graph_native_database__spark.registry.common import model

    nodes, _, _ = model(spark, SF)
    dedup.minhash_index_stage(spark, nodes, SF)  # ensure staged

    calls = {"sh": 0, "sig": 0}
    real_sh, real_sig = dedup.shingles, dedup.minhash_signatures

    def counting_sh(*a, **kw):
        calls["sh"] += 1
        return real_sh(*a, **kw)

    def counting_sig(*a, **kw):
        calls["sig"] += 1
        return real_sig(*a, **kw)

    monkeypatch.setattr(dedup, "shingles", counting_sh)
    monkeypatch.setattr(dedup, "minhash_signatures", counting_sig)
    df = registry.all_queries()["dedup_minhash_band_sweep"](spark, SF)
    assert df.count() == 3
    assert calls == {"sh": 0, "sig": 0}


def test_k3_postings_family_serves_from_staged_shingles(spark):
    # the k=3 postings operators (n-gram Jaccard, containment,
    # prefix-filter economics, decontamination) read the shared
    # staged shingle parquet instead of re-running the corpus
    # tokenize+explode+distinct per entry
    for name in (
        "dedup_ngram_jaccard",
        "dedup_containment",
        "dedup_jaccard_prefix_filter",
        "decontaminate",
    ):
        p = plan_of(spark, name)
        assert "vgndb_spark_scratch/shingles" in p, (
            f"{name} must read the staged k=3 shingles"
        )


def test_minhash_verify_is_candidate_bounded(spark):
    # jaccard_verify must semi-join-prune the shingle frame to
    # candidate doc ids BEFORE the collect_set shuffle: without it
    # the verify stage builds shingle sets for EVERY document —
    # corpus-sized work for a candidate-sized answer at 100 TB
    p = plan_of(spark, "dedup_minhash_lsh")
    assert "LeftSemi" in p, "verify must prune to candidate ids"


def test_incremental_lsh_verify_is_candidate_bounded(spark):
    p = plan_of(spark, "dedup_incremental_lsh")
    assert "LeftSemi" in p, "verify must prune to candidate ids"


def test_bm25_hard_negatives_deduped_interns_first(spark):
    # the duplication-robust miner must dedup by content BEFORE any
    # scoring: the plan shows the keeper semi-join, no python udfs,
    # and no cartesian product anywhere (the pool/positive joins are
    # key equi-joins + one |Q|-row broadcast)
    df = registry.all_queries()["bm25_hard_negatives_deduped"](spark, SF)
    p = plan_string(df)
    s = plan_summary(df)
    assert "LeftSemi" in p, "corpus must be keeper-pruned before scoring"
    assert "CartesianProduct" not in p
    assert s["python_row_udfs"] == 0 and s["python_arrow_udfs"] == 0

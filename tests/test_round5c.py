"""Round-5 continuation: delta-join IVM and layout prune evaluation."""

from __future__ import annotations

from pyspark.sql import functions as F

from vector_graph_native_database__spark.operators.cdc import ivm_join_delta


def test_ivm_join_delta_equals_recompute(spark):
    fact = spark.createDataFrame(
        [(1, 10, 5.0), (2, 20, 7.0), (3, 10, 9.0), (4, 30, 1.0)],
        "k long, fk long, v double",
    )
    dim = spark.createDataFrame(
        [(10, "a"), (20, "b"), (30, "c")], "fk long, attr string"
    )
    view = fact.join(dim, "fk").select("k", "fk", "attr", "v")
    # compacted log: delete k=1, update k=2 (v -> 70, moves to fk 30),
    # insert k=9 under fk 10
    log = spark.createDataFrame(
        [
            (1, 10, 5.0, "D"),
            (2, 30, 70.0, "U"),
            (9, 10, 3.0, "I"),
        ],
        "k long, fk long, v double, op string",
    )
    maintained = ivm_join_delta(view, log, dim, ["k"], ["fk"])

    # recompute: apply the log to the fact, re-join
    applied = (
        fact.join(log.select("k").distinct(), "k", "left_anti")
        .unionByName(log.filter(F.col("op") != "D").drop("op"))
    )
    expect = applied.join(dim, "fk").select("k", "fk", "attr", "v")

    got = {tuple(r) for r in maintained.select("k", "fk", "attr", "v").collect()}
    want = {tuple(r) for r in expect.collect()}
    assert got == want
    assert (2, 30, "c", 70.0) in got and (1, 10, "a", 5.0) not in got


def test_ivm_join_delta_plan_broadcasts_affected_keys(spark):
    fact = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("fk"),
        F.lit(1.0).alias("v"),
    )
    dim = spark.range(5).select(F.col("id").alias("fk"), F.lit("x").alias("attr"))
    view = fact.join(dim, "fk").select("k", "fk", "attr", "v")
    log = spark.createDataFrame([(3, 1, 2.0, "U")], "k long, fk long, v double, op string")
    plan = ivm_join_delta(view, log, dim, ["k"], ["fk"])._jdf.queryExecution().executedPlan().toString()
    # the stored view must be touched only via a broadcast anti-join
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_zonemap_prune_eval_layout_ordering(spark):
    from vector_graph_native_database__spark.registry.coreq import (
        q_io_zonemap_prune_eval,
    )

    rows = {
        r["layout"]: r.asDict()
        for r in q_io_zonemap_prune_eval(spark, "/root/testdata/sf0.001").collect()
    }
    assert set(rows) == {"hash", "range_date", "zorder"}
    # hash layout has no date locality: every file overlaps the window
    assert rows["hash"]["files_scanned"] == rows["hash"]["n_files"]
    # locality ladder: range on the filter column <= zorder <= hash
    assert (
        rows["range_date"]["rows_scanned"]
        <= rows["zorder"]["rows_scanned"]
        <= rows["hash"]["rows_scanned"]
    )
    # zone maps never lose rows: scanned covers all matching rows
    for r in rows.values():
        assert r["rows_scanned"] >= r["rows_matching"]


def test_derived_partsupp_tpch_shapes_nonempty(spark):
    from vector_graph_native_database__spark.registry import olapq

    sf = "/root/testdata/sf0.001"
    stock = olapq.q_olap_important_stock(spark, sf).collect()
    assert len(stock) >= 1  # scale-free 2x-mean threshold never empties
    top = olapq.q_olap_mincost_supplier(spark, sf).collect()
    assert 0 < len(top) <= 20
    # regional-minimum contract: every returned (part, cost) is the min
    ps = olapq._partsupp(spark, sf)
    assert ps.columns == [
        "ps_partkey", "ps_suppkey", "ps_availqty", "ps_cost_cents",
        "ps_supplycost",
    ]
    # top-20 is TakeOrderedAndProject, never a global sort
    plan = olapq.q_olap_mincost_supplier(spark, sf)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_ann_ivf_streamed_index_equals_batch(spark):
    from vector_graph_native_database__spark.registry.eventsq import (
        q_ann_ivf_streamed_index,
    )
    from vector_graph_native_database__spark.registry.pipelineq import (
        q_ann_ivf_topk,
    )

    sf = "/root/testdata/sf0.001"
    streamed = {
        tuple(r) for r in q_ann_ivf_streamed_index(spark, sf).collect()
    }
    batch = {tuple(r) for r in q_ann_ivf_topk(spark, sf).collect()}
    # the maintained vector state must be invisible to the index build
    assert streamed == batch and len(streamed) == 25


def test_text_ngram_novelty_bounds(spark):
    from vector_graph_native_database__spark.registry.pipelineq import (
        q_text_ngram_novelty,
    )

    rows = q_text_ngram_novelty(spark, "/root/testdata/sf0.001").collect()
    assert rows  # the 20% eval split is never empty
    for r in rows:
        assert 0 <= r["n_novel"] <= r["n_grams"]
        assert 0.0 <= r["novelty"] <= 1.0


def test_incremental_components_equals_recompute(spark):
    from vector_graph_native_database__spark.operators.analytics import (
        connected_components,
        incremental_components,
    )

    verts = spark.createDataFrame([(str(i),) for i in range(8)], "id string")
    base = spark.createDataFrame(
        [("0", "1"), ("2", "3"), ("4", "5")], "src string, dst string"
    )
    # delta merges {0,1}+{2,3} and attaches isolated 7 to {4,5}
    delta = spark.createDataFrame(
        [("1", "2"), ("7", "4")], "src string, dst string"
    )
    stored = connected_components(verts, base)
    inc = {
        (r["id"], r["component"])
        for r in incremental_components(stored, delta).collect()
    }
    full = {
        (r["id"], r["component"])
        for r in connected_components(verts, base.union(delta)).collect()
    }
    assert inc == full
    assert ("3", "0") in inc and ("7", "4") in inc and ("6", "6") in inc


def test_minhash_band_sweep_monotone(spark):
    from vector_graph_native_database__spark.registry.qualityq import (
        q_dedup_minhash_band_sweep,
    )

    rows = sorted(
        q_dedup_minhash_band_sweep(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["rows_per_band"],
    )
    assert [r["rows_per_band"] for r in rows] == [2, 4, 12]
    # aligned divisors nest the candidate sets: stricter banding can
    # only shrink candidates and recall
    for a, b in zip(rows, rows[1:]):
        assert a["n_candidates"] >= b["n_candidates"]
        assert a["recall"] >= b["recall"]
        assert a["n_exact"] == b["n_exact"]  # truth is banding-free
    for r in rows:
        assert r["n_hits"] <= min(r["n_exact"], r["n_candidates"])


def test_ann_ivf_filtered_topk_respects_predicate(spark):
    from vector_graph_native_database__spark.registry.pipelineq import (
        q_ann_ivf_filtered_topk,
    )
    from vector_graph_native_database__spark.registry.common import model

    sf = "/root/testdata/sf0.001"
    nodes, _, _ = model(spark, sf)
    en = {r["id"] for r in nodes.filter("lang = 'en'").select("id").collect()}
    rows = q_ann_ivf_filtered_topk(spark, sf).collect()
    assert rows
    per_q = {}
    for r in rows:
        assert r["id"] in en  # every hit satisfies the metadata filter
        per_q.setdefault(r["qid"], []).append(r["rnk"])
    for q, rnks in per_q.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1))
        assert len(rnks) <= 5


def test_hybrid_weight_sweep_monotone_handoff(spark):
    from vector_graph_native_database__spark.registry.searchq import (
        q_hybrid_weight_sweep,
    )

    rows = sorted(
        q_hybrid_weight_sweep(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["vector_weight"],
    )
    assert [r["vector_weight"] for r in rows] == [0.0, 0.25, 0.5, 0.75, 1.0]
    for a, b in zip(rows, rows[1:]):
        assert a["n_vec_overlap"] <= b["n_vec_overlap"]
        assert a["n_graph_overlap"] >= b["n_graph_overlap"]
    assert rows[-1]["n_vec_overlap"] == rows[-1]["n_results"]
    assert rows[0]["n_graph_overlap"] == rows[0]["n_results"]


def test_corpus_token_budget_consistency(spark):
    from vector_graph_native_database__spark.registry.samplingq import (
        q_corpus_token_budget,
    )

    rows = q_corpus_token_budget(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_docs_kept"] <= r["n_docs"]
        assert 0 <= r["tokens_out"] <= r["tokens_in"]
        assert 0.0 <= r["retention"] <= 1.0


def test_dedup_cluster_size_histogram_floor(spark):
    from vector_graph_native_database__spark.registry.curationq import (
        q_dedup_cluster_size_histogram,
    )

    rows = q_dedup_cluster_size_histogram(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        # every emitted cluster has >= 2 members (singletons not emitted)
        assert r["min_size"] >= 2
        assert 2 ** r["bucket"] <= r["min_size"] <= r["max_size"]
        assert r["max_size"] < 2 ** (r["bucket"] + 1)

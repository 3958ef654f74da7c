"""Round-5 continuation (wave D): rank AUC, Pareto frontier,
hourly-count autocorrelation."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from vector_graph_native_database__spark.operators.profiling import rank_auc

SF = "/root/testdata/sf0.001"


def test_rank_auc_perfect_separation(spark):
    df = spark.createDataFrame(
        [(float(i), i >= 50) for i in range(100)], "s double, y boolean"
    )
    row = rank_auc(df, "s", F.col("y")).collect()[0]
    assert (row.n_pos, row.n_neg) == (50, 50)
    assert row.auc == 1.0
    rev = rank_auc(df, "s", ~F.col("y")).collect()[0]
    assert rev.auc == 0.0


def test_rank_auc_all_tied_is_half(spark):
    df = spark.createDataFrame(
        [(1.0, i % 3 == 0) for i in range(30)], "s double, y boolean"
    )
    assert rank_auc(df, "s", F.col("y")).collect()[0].auc == 0.5


def test_rank_auc_matches_pairwise_definition(spark):
    # deterministic small sample with ties; AUC = P(score_pos > score_neg)
    # + 0.5 * P(tie), computed by brute force over all pos x neg pairs
    rows = [(float((7 * i) % 5), (3 * i) % 4 == 0) for i in range(40)]
    pos = [s for s, y in rows if y]
    neg = [s for s, y in rows if not y]
    wins = sum(
        1.0 if p > n else (0.5 if p == n else 0.0)
        for p in pos
        for n in neg
    )
    expected = wins / (len(pos) * len(neg))
    df = spark.createDataFrame(rows, "s double, y boolean")
    got = rank_auc(df, "s", F.col("y")).collect()[0]
    assert (got.n_pos, got.n_neg) == (len(pos), len(neg))
    assert abs(got.auc - expected) < 1e-6


def test_rank_auc_deterministic_across_runs(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    vals = {
        rank_auc(ev, "value", F.col("event_type") == "purchase")
        .collect()[0]
        .auc
        for _ in range(3)
    }
    assert len(vals) == 1


def test_pareto_frontier_is_nondominated_and_complete(spark):
    from vector_graph_native_database__spark.registry.olapq import (
        q_olap_pareto_frontier,
    )

    part = [
        (r.p_partkey, r.p_size, r.p_retailprice)
        for r in spark.read.parquet(f"{SF}/part.parquet").collect()
    ]
    got = {r.p_partkey for r in q_olap_pareto_frontier(spark, SF).collect()}

    def dominated(p):
        return any(
            q[1] >= p[1]
            and q[2] <= p[2]
            and (q[1] > p[1] or q[2] < p[2])
            for q in part
        )

    brute = {k for (k, s, pr) in part if not dominated((k, s, pr))}
    assert got == brute and got


def test_events_autocorr_matches_direct_formula(spark):
    from vector_graph_native_database__spark.registry.eventsq import (
        q_events_autocorr,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    hc = {
        r.h: r.x
        for r in ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("h")
        )
        .agg(F.count("*").alias("x"))
        .collect()
    }
    h0, h1 = min(hc), max(hc)
    n = int((h1 - h0).total_seconds() // 3600) + 1
    xs = [0] * n
    for h, x in hc.items():
        xs[int((h - h0).total_seconds() // 3600)] = x
    mean = sum(xs) / n
    den = sum((x - mean) ** 2 for x in xs)
    got = {r.lag: (r.n_pairs, r.acf) for r in q_events_autocorr(spark, SF).collect()}
    assert set(got) == {1, 2, 3, 6, 12, 24}
    for k in got:
        num = sum(
            (xs[t] - mean) * (xs[t + k] - mean) for t in range(n - k)
        )
        expected = math.floor((num / den) * 1e6 + 0.5) / 1e6
        assert got[k][0] == n - k
        assert abs(got[k][1] - expected) < 2e-6


def test_prefix_filter_lossless_and_reduces(spark):
    from vector_graph_native_database__spark.operators.dedup import (
        jaccard_prefix_filter_report,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("id"), "text"
    )
    r = jaccard_prefix_filter_report(docs, k=3).collect()[0]
    # lossless: every true match survives the prefix prune
    assert r.n_matches == r.n_matches_prefix
    # and the prune is a real reduction over the full posting join
    assert r.n_pairs_prefix < r.n_pairs_full
    assert r.n_matches <= r.n_pairs_prefix


def test_blocked_er_matches_blocks_and_canon(spark):
    from vector_graph_native_database__spark.operators.dedup import (
        blocked_er_matches,
    )

    df = spark.createDataFrame(
        [
            (1, "cold gear"),
            (2, "old gear"),
            (3, "cold gear"),
            (4, "red bolt"),
            (5, "blue gear"),
        ],
        "pk long, nm string",
    )
    got = blocked_er_matches(
        df,
        id_col="pk",
        name_col="nm",
        block_col=F.element_at(F.split(F.col("nm"), " "), -1),
        max_dist=2,
    ).collect()
    # only the cold/old gear pair matches (blue gear is 3 edits away;
    # red bolt is in another block); duplicates collapse to the grain
    assert len(got) == 1
    r = got[0]
    assert (r.name_a, r.name_b, r.lev_dist) == ("cold gear", "old gear", 1)
    assert (r.n_a, r.n_b, r.canon_id) == (2, 1, 1)


def test_group_holdout_zero_leak_for_grouped_split(spark):
    from vector_graph_native_database__spark.operators.sampling import (
        group_holdout_report,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    rows = group_holdout_report(
        ev, unit_col="event_id", group_col="user_id"
    ).collect()
    by_m = {}
    for r in rows:
        by_m.setdefault(r.method, set()).add(r.n_leaky_groups)
    assert by_m["group_by_key"] == {0}
    assert all(v > 0 for v in by_m["naive_by_row"])
    # both splits cover all events
    tot = {}
    for r in rows:
        tot[r.method] = tot.get(r.method, 0) + r.n_events
    assert len(set(tot.values())) == 1


def test_exact_ntile_bins_matches_sql_ntile(spark):
    from vector_graph_native_database__spark.operators.profiling import (
        exact_ntile_bins,
    )

    # n=10007 rows, k=7 -> remainder buckets exercise the closed form
    df = spark.range(10007).select(
        (F.col("id") % 997).cast("double").alias("val"),
        F.col("id").alias("pk"),
    )
    got = {
        r.bin: (r.n_rows, r.lo, r.hi)
        for r in exact_ntile_bins(df, "val", "pk", k=7).collect()
    }
    df.createOrReplaceTempView("t_ntile")
    exp = {
        r.bin: (r.n_rows, r.lo, r.hi)
        for r in spark.sql(
            "SELECT bin, count(*) AS n_rows, min(val) AS lo, "
            "max(val) AS hi FROM (SELECT val, ntile(7) OVER "
            "(ORDER BY val, pk) AS bin FROM t_ntile) GROUP BY bin"
        ).collect()
    }
    assert got == exp


def test_table_diff_counts(spark):
    from vector_graph_native_database__spark.operators.profiling import (
        table_diff,
    )

    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", None), (4, "d", 4.0)],
        "k long, s string, v double",
    )
    cur = spark.createDataFrame(
        [(2, "b", 2.0), (3, "c", 3.0), (4, "X", 4.0), (5, "e", 5.0)],
        "k long, s string, v double",
    )
    r = table_diff(base, cur, ["k"], ["s", "v"]).collect()[0]
    assert (r.n_added, r.n_removed) == (1, 1)
    assert (r.n_changed, r.n_unchanged) == (2, 1)
    assert r.n_changed_s == 1  # key 4: d->X
    assert r.n_changed_v == 1  # key 3: NULL->3.0 (null-safe)


def test_hyperanf_monotone_and_accurate(spark):
    from vector_graph_native_database__spark.registry.analyticsq import (
        q_graph_hyperanf,
    )
    from vector_graph_native_database__spark.registry.common import model

    rows = sorted(
        q_graph_hyperanf(spark, SF).collect(), key=lambda r: r.hop
    )
    assert [r.hop for r in rows] == [0, 1, 2, 3, 4]
    n = rows[0].n_nodes
    assert all(r.n_nodes == n for r in rows)
    # est is nondecreasing in hop (balls only grow)
    ests = [r.est_pairs for r in rows]
    assert all(b >= a for a, b in zip(ests, ests[1:]))

    # accuracy: within HLL error of the exact neighborhood function
    _, _, edges = model(spark, SF)
    adj = {}
    for e in edges.select("src", "dst").distinct().collect():
        adj.setdefault(e.src, set()).add(e.dst)
    ids = [r.id for r in model(spark, SF)[0].select("id").collect()]
    balls = {v: {v} for v in ids}
    exact = [len(ids)]
    for _h in range(4):
        balls = {
            v: b | set().union(*(adj.get(u, set()) for u in b))
            for v, b in balls.items()
        }
        exact.append(sum(len(b) for b in balls.values()))
    for est, ex in zip(ests, exact):
        assert abs(est - ex) / ex < 0.25  # 1.04/sqrt(64) ~ 13% std err


def test_group_quantiles_match_python(spark):
    from vector_graph_native_database__spark.operators.profiling import (
        group_quantiles,
    )

    import math

    rows = [("a", float(v)) for v in [5, 1, 9, 3, 7]] + [
        ("b", float(v)) for v in [10, 20, 30, 40]
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r.grp: r for r in group_quantiles(df, "g", "v").collect()}

    def type1(xs, p):
        xs = sorted(xs)
        return xs[math.ceil(p * len(xs)) - 1]

    for g, xs in (("a", [1, 3, 5, 7, 9]), ("b", [10, 20, 30, 40])):
        assert got[g].n == len(xs)
        assert got[g].q_0_25 == type1(xs, 0.25)
        assert got[g].q_0_5 == type1(xs, 0.5)
        assert got[g].q_0_75 == type1(xs, 0.75)


def test_ndcg_bounds_and_recall_consistency(spark):
    from vector_graph_native_database__spark.registry.qualityq import (
        q_ann_recall_eval,
        q_eval_ndcg_ann,
    )

    ndcg = {r.qid: r for r in q_eval_ndcg_ann(spark, SF).collect()}
    recall = {r.qid: r for r in q_ann_recall_eval(spark, SF).collect()}
    assert set(ndcg) == set(recall)
    for qid, r in ndcg.items():
        assert 0.0 <= r.ndcg <= 1.0
        assert r.n_rel == recall[qid].n_hits  # same binary judgments
        if r.n_rel == 0:
            assert r.ndcg == 0.0


def test_epoch_shuffle_is_deterministic_permutation(spark):
    from vector_graph_native_database__spark.registry.samplingq import (
        q_pack_epoch_shuffle,
    )

    a = sorted(
        (r.shard, r.n_docs, r.first_doc, r.last_doc)
        for r in q_pack_epoch_shuffle(spark, SF).collect()
    )
    b = sorted(
        (r.shard, r.n_docs, r.first_doc, r.last_doc)
        for r in q_pack_epoch_shuffle(spark, SF).collect()
    )
    assert a == b
    total = sum(x[1] for x in a)
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert total == n_docs  # a permutation loses nothing


def test_linear_attribution_credit_sums_to_conversions(spark):
    from vector_graph_native_database__spark.registry.eventsq import (
        q_events_attribution_linear,
    )

    rows = q_events_attribution_linear(spark, SF).collect()
    total_credit = sum(r.credit for r in rows)
    # total linear credit = number of purchases with >=1 prior touch
    ev = spark.read.parquet(f"{SF}/events.parquet")
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    j = ev.withColumn(
        "nt",
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") != "purchase", 1).otherwise(0)
            ).over(w),
            F.lit(0),
        ),
    ).withColumn(
        "np",
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(w),
            F.lit(0),
        ),
    )
    # purchases whose journey (since previous purchase) has a touch:
    # approximate check — every purchase that is not the user's first
    # event with zero preceding touches overall contributes 1 unit;
    # assert credit within rounding of an integer conversion count
    assert abs(total_credit - round(total_credit)) < 1e-3
    assert total_credit > 0


def test_jsd_bounds_symmetric_grid(spark):
    import math

    from vector_graph_native_database__spark.registry.pipelineq import (
        q_text_jsd_by_source,
    )

    rows = q_text_jsd_by_source(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.src_a < r.src_b
        assert 0.0 <= r.jsd <= math.log(2) + 1e-9


def test_backtest_seasonal_exactness(spark):
    from vector_graph_native_database__spark.registry.eventsq import (
        q_events_backtest_seasonal,
    )

    rows = q_events_backtest_seasonal(spark, SF).collect()
    assert len(rows) == 24
    for r in rows:
        assert r.n_train_days == 23
        assert r.n_test_days == 7
        assert r.mae >= 0.0 and r.forecast >= 0.0


def test_copurchase_topk_properties(spark):
    from vector_graph_native_database__spark.registry.olapq import (
        q_olap_copurchase_topk,
    )

    rows = q_olap_copurchase_topk(spark, SF).collect()
    assert rows
    by_a = {}
    for r in rows:
        by_a.setdefault(r.p_a, []).append(r)
        assert 0.0 < r.cos <= 1.0 and r.p_a != r.p_b
    for a, rs in by_a.items():
        rs = sorted(rs, key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        # ranks follow (cos desc, p_b asc)
        keys = [(-r.cos, r.p_b) for r in rs]
        assert keys == sorted(keys)


def test_ship_delay_quartiles_ordered(spark):
    from vector_graph_native_database__spark.registry.olapq import (
        q_olap_ship_delay_quartiles,
    )

    rows = q_olap_ship_delay_quartiles(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.q_0_25 <= r.q_0_5 <= r.q_0_75
        assert r.n > 0


def test_time_to_convert_quartiles(spark):
    from vector_graph_native_database__spark.registry.eventsq import (
        q_events_time_to_convert,
    )

    rows = q_events_time_to_convert(spark, SF).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n > 0 and 0 <= r.q_0_25 <= r.q_0_5 <= r.q_0_75


def test_watermark_lateness_monotone(spark):
    from vector_graph_native_database__spark.registry.eventsq import (
        q_events_watermark_lateness,
    )

    rows = sorted(
        q_events_watermark_lateness(spark, SF).collect(),
        key=lambda r: r.watermark_s,
    )
    assert [r.watermark_s for r in rows] == [60, 300, 900, 3600]
    lates = [r.n_late for r in rows]
    # a bigger watermark can only tolerate more lateness
    assert all(b <= a for a, b in zip(lates, lates[1:]))
    assert all(0.0 <= r.frac <= 1.0 for r in rows)


def test_revenue_gini_matches_sorted_formula(spark):
    from vector_graph_native_database__spark.registry.olapq import (
        q_olap_revenue_gini,
    )

    r = q_olap_revenue_gini(spark, SF).collect()[0]
    xs = sorted(
        int(row.o_totalprice * 100 + 0.5)
        for row in spark.read.parquet(f"{SF}/orders.parquet")
        .select("o_totalprice")
        .collect()
    )
    n = len(xs)
    s = sum((i + 1) * x for i, x in enumerate(xs))
    t = sum(xs)
    expected = (2 * s - (n + 1) * t) / (n * t)
    assert r.n == n and r.total_cents == t
    assert abs(r.gini - expected) < 2e-6
    assert 0.0 <= r.gini < 1.0


def test_histogram_quantiles_merge_law_and_error_bound(spark):
    from vector_graph_native_database__spark.operators.sketch import (
        histogram_quantiles,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    whole = {
        r.grp: r for r in histogram_quantiles(ev, "event_type", "value").collect()
    }
    # mergeability: computing over the union of two halves = whole
    # (bin counts are a sum sketch; same global bounds by construction)
    halves = ev.filter(F.col("event_id") % 2 == 0).unionByName(
        ev.filter(F.col("event_id") % 2 == 1)
    )
    merged = {
        r.grp: r
        for r in histogram_quantiles(halves, "event_type", "value").collect()
    }
    assert {g: (r.n, r.est_q_0_5) for g, r in whole.items()} == {
        g: (r.n, r.est_q_0_5) for g, r in merged.items()
    }
    # error bound: estimate (lower bin edge) within one bin width
    # below the exact quantile
    vb = ev.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    ).collect()[0]
    bw = (vb.hi - vb.lo) / 128.0
    for r in whole.values():
        for tag in ("0_5", "0_9", "0_99"):
            est = getattr(r, f"est_q_{tag}")
            exact = getattr(r, f"exact_q_{tag}")
            assert est <= exact + 1e-9
            assert exact - est <= bw + 1e-9


def test_effective_diameter_within_hops(spark):
    from vector_graph_native_database__spark.registry.analyticsq import (
        q_graph_effective_diameter,
    )

    r = q_graph_effective_diameter(spark, SF).collect()[0]
    assert 0 <= r.eff_diameter_09 <= r.hops_computed == 4
    assert r.est_pairs_max > 0

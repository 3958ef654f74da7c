"""Round-5 continuation (wave E): square count, survival curve,
CUSUM change-point, Mann-Whitney rank test, within-doc repetition."""

from __future__ import annotations

import itertools
import math

from pyspark.sql import functions as F

from vector_graph_native_database__spark.operators.analytics import (
    square_count,
)

SF = "/root/testdata/sf0.001"


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(a, b, "t", 1.0, f"e-{a}-{b}") for a, b in pairs],
        "src string, dst string, type string, weight double, id string",
    )


def test_square_count_c4_is_one(spark):
    # A plain 4-cycle has exactly one square.
    df = _edges_df(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")])
    assert square_count(df).collect()[0].n_squares == 1


def test_square_count_k4_is_three(spark):
    # K4 contains 3 distinct 4-cycles (one per perfect matching of
    # diagonals); chords do not disqualify a cycle.
    nodes = ["a", "b", "c", "d"]
    df = _edges_df(spark, list(itertools.combinations(nodes, 2)))
    assert square_count(df).collect()[0].n_squares == 3


def test_square_count_triangle_and_path_have_none(spark):
    tri = _edges_df(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    assert square_count(tri).collect()[0].n_squares == 0
    path = _edges_df(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    assert square_count(path).collect()[0].n_squares == 0


def test_square_count_ignores_direction_dupes_loops(spark):
    # Same C4 with reversed duplicates and a self-loop: still one.
    df = _edges_df(
        spark,
        [
            ("a", "b"),
            ("b", "a"),
            ("b", "c"),
            ("c", "d"),
            ("d", "a"),
            ("a", "a"),
        ],
    )
    assert square_count(df).collect()[0].n_squares == 1


def test_survival_curve_monotone_and_anchored(spark):
    from vector_graph_native_database__spark.registry.eventsq import (
        q_events_survival_curve,
    )

    rows = q_events_survival_curve(spark, SF).orderBy("day_d").collect()
    assert rows[0].day_d == 0 and rows[0].frac == 1.0
    fracs = [r.frac for r in rows]
    assert all(a >= b for a, b in zip(fracs, fracs[1:]))
    assert all(r.n_surviving >= 0 for r in rows)


def test_cusum_changepoint_sums_to_zero_and_flags_peak(spark):
    from vector_graph_native_database__spark.registry.eventsq import (
        q_events_cusum_changepoint,
    )

    rows = q_events_cusum_changepoint(spark, SF).orderBy("d").collect()
    # CUSUM of deviations from the mean telescopes to ~0 on the last day.
    assert abs(rows[-1].cusum) < 1e-6
    peaks = [r for r in rows if r.is_peak]
    assert peaks
    mx = max(abs(r.cusum) for r in rows)
    assert all(abs(p.cusum) == mx for p in peaks)


def test_mannwhitney_matches_brute_force(spark):
    # Tiny deterministic two-sample set with ties; z from the
    # textbook tie-corrected normal approximation.
    a = [1.0, 2.0, 2.0, 5.0]
    b = [2.0, 3.0, 4.0, 4.0, 6.0]
    vals = sorted(a + b)
    ranks = {}
    i = 0
    while i < len(vals):
        j = i
        while j < len(vals) and vals[j] == vals[i]:
            j += 1
        r = (i + 1 + j) / 2.0
        ranks[vals[i]] = r
        i = j
    ra = sum(ranks[x] for x in a)
    na, nb = len(a), len(b)
    n = na + nb
    u = ra - na * (na + 1) / 2.0
    ties = 0
    for v in set(vals):
        t = vals.count(v)
        ties += t**3 - t
    var = na * nb / 12.0 * ((n + 1) - ties / (n * (n - 1)))
    z = (u - na * nb / 2.0) / math.sqrt(var)

    # Engine path over a synthetic events frame through the same
    # operator algebra the registry entry uses (parity via value split).
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(0, x) for x in a] + [(1, x) for x in b], "v int, x double"
    )
    g = df.groupBy("x").agg(
        F.count("*").cast("long").alias("c"),
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0))
        .cast("long")
        .alias("ca"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    r = g.withColumn("cum", F.sum("c").over(w))
    s = r.agg(
        F.sum(
            F.col("ca")
            * (
                F.lit(2) * (F.col("cum") - F.col("c"))
                + F.col("c")
                + F.lit(1)
            )
        ).alias("r2a")
    ).collect()[0]
    u_engine = s.r2a / 2.0 - na * (na + 1) / 2.0
    assert u_engine == u

    from vector_graph_native_database__spark.registry.eventsq import (
        q_events_ab_mannwhitney,
    )

    rows = q_events_ab_mannwhitney(spark, SF).collect()
    assert rows
    for row in rows:
        assert row.n_a > 0 and row.n_b > 0
        # U is bounded by n_a * n_b.
        assert 0.0 <= row.u_a <= row.n_a * row.n_b
        assert row.significant == (abs(row.z_stat) > 1.96) or (
            abs(abs(row.z_stat) - 1.96) < 1e-5
        )
    assert abs(z) < 100  # sanity on the brute-force reference itself


def test_repetition_score_bounds_and_known_doc(spark):
    from vector_graph_native_database__spark.registry.pipelineq import (
        q_text_repetition_score,
    )

    rows = q_text_repetition_score(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.dup_frac < 1.0
        assert 0.0 < r.top_gram_frac <= 1.0
        # top gram accounts for at least one occurrence
        assert r.top_gram_frac >= 1.0 / r.n_grams - 1e-6


def test_repetition_score_hand_example(spark):
    # Hand-checked doc: "a b a b a b a b" has trigrams
    # [aba, bab, aba, bab, aba, bab] -> counts {aba: 3, bab: 3}.
    from vector_graph_native_database__spark.functions.textfn import tokenize

    df = spark.createDataFrame(
        [("d1", "a b a b a b a b")], "id string, text string"
    )
    per_gram = (
        df.select("id", tokenize("text").alias("t"))
        .select(
            "id",
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(size(t) - 2, 0)),"
                    " i -> concat(element_at(t, i), ' ',"
                    " element_at(t, i + 1), ' ', element_at(t, i + 2)))"
                )
            ).alias("g"),
        )
        .groupBy("id", "g")
        .agg(F.count("*").alias("c"))
        .collect()
    )
    counts = sorted((r.g, r.c) for r in per_gram)
    assert counts == [("a b a", 3), ("b a b", 3)]


def test_stream_outer_join_superset_of_inner(spark):
    """The left-outer stream join must contain every inner pair and
    additionally one orphan row per unmatched purchase (below the
    deterministic cutoff)."""
    from vector_graph_native_database__spark.registry.eventsq import (
        q_events_stream_outer_join,
    )

    rows = q_events_stream_outer_join(spark, SF).collect()
    assert rows
    # purchases are partitioned into attributed pairs and orphans
    for r in rows:
        assert r.n_pairs >= 0 and r.n_orphans >= 0
        assert r.n_pairs + r.n_orphans > 0

    # batch twin: the same interval join as a plain DataFrame left join
    ev = spark.read.parquet(f"{SF}/events.parquet")
    p = ev.filter(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    ).select("user_id", F.col("event_id").alias("lid"), F.col("ts").alias("lts"))
    c = ev.filter(
        (F.col("event_type") == "click") & F.col("user_id").isNotNull()
    ).select(
        F.col("user_id").alias("ru"),
        F.col("event_id").alias("rid"),
        F.col("ts").alias("rts"),
    )
    cut = (
        ev.filter(
            F.col("event_type").isin("purchase", "click")
            & F.col("user_id").isNotNull()
        )
        .groupBy("event_type")
        .agg(F.max("ts").alias("mx"))
        .agg((F.min("mx") - F.expr("INTERVAL 2 HOURS")).alias("cutoff"))
        .collect()[0]
        .cutoff
    )
    j = p.filter(F.col("lts") <= F.lit(cut)).join(
        c,
        (F.col("user_id") == F.col("ru"))
        & (F.col("rts") <= F.col("lts"))
        & (F.col("rts") >= F.col("lts") - F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    )
    batch = {
        (r.user_id, r.n_pairs, r.n_orphans)
        for r in j.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("rid").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_pairs"),
            F.sum(F.when(F.col("rid").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphans"),
        )
        .collect()
    }
    got = {(r.user_id, r.n_pairs, r.n_orphans) for r in rows}
    assert got == batch


def test_calibration_bins_are_valid_probability_buckets(spark):
    from vector_graph_native_database__spark.registry.qualityq import (
        q_eval_calibration_bins,
    )

    rows = q_eval_calibration_bins(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r.bin <= 9
        assert r.n > 0
        assert 0.0 <= r.mean_pred <= 1.0
        assert 0.0 <= r.frac_pos <= 1.0
        # mean prediction must fall inside (or at the edge of) its bin
        assert r.bin / 10.0 - 1e-6 <= r.mean_pred
        assert r.mean_pred <= (r.bin + 1) / 10.0 + 1e-6 or r.bin == 9
        assert abs(r.abs_gap - abs(r.mean_pred - r.frac_pos)) < 2e-6


def test_rich_club_phi_bounds_and_monotone_membership(spark):
    from vector_graph_native_database__spark.registry.analyticsq import (
        q_graph_rich_club,
    )

    rows = sorted(
        q_graph_rich_club(spark, SF).collect(), key=lambda r: r.k
    )
    assert rows
    for r in rows:
        assert r.n_k > 0 and r.e_k >= 0
        if r.phi is not None:
            assert 0.0 <= r.phi <= 1.0
        # edges among the club can't exceed the club's possible pairs
        assert 2 * r.e_k <= r.n_k * (r.n_k - 1)
    # club membership shrinks as k rises
    ns = [r.n_k for r in rows]
    assert all(a >= b for a, b in zip(ns, ns[1:]))


def test_cross_source_matrix_pair_algebra(spark):
    """Block pair counts must close over per-(key, source) counts:
    total pairs per key == C(block_size, 2)."""
    from vector_graph_native_database__spark.registry.pipelineq import (
        q_dedup_cross_source_matrix,
    )
    from vector_graph_native_database__spark.functions.textfn import tokenize

    out = q_dedup_cross_source_matrix(spark, SF).collect()
    assert out
    for r in out:
        assert r.source_a <= r.source_b
        assert r.n_pairs > 0
    total = sum(r.n_pairs for r in out)

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("id"), "text", "source"
    )
    blocks = (
        docs.select("source", tokenize("text").alias("t"))
        .filter(F.size("t") >= 3)
        .select(
            F.concat_ws(
                " ",
                F.element_at("t", 1),
                F.element_at("t", 2),
                F.element_at("t", 3),
            ).alias("h")
        )
        .groupBy("h")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    expected = sum(b.n * (b.n - 1) // 2 for b in blocks)
    assert total == expected


def test_perplexity_buckets_partition_the_corpus(spark):
    from vector_graph_native_database__spark.registry.curationq import (
        q_text_perplexity_buckets,
    )
    from vector_graph_native_database__spark.operators.curation import (
        unigram_logprob,
    )

    rows = {r.bucket: r for r in q_text_perplexity_buckets(spark, SF).collect()}
    assert set(rows) == {"head", "middle", "tail"}
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("id"), "text"
    )
    n = unigram_logprob(docs).count()
    assert sum(r.n_docs for r in rows.values()) == n
    # tertiles: each bucket holds roughly a third
    for r in rows.values():
        assert abs(r.n_docs - n / 3) <= 2
    # ordering: tail scores <= middle scores <= head scores
    assert rows["tail"].lp_max <= rows["middle"].lp_min + 1e-9
    assert rows["middle"].lp_max <= rows["head"].lp_min + 1e-9


def test_new_vs_returning_accounting_identity(spark):
    from vector_graph_native_database__spark.registry.eventsq import (
        q_events_new_vs_returning,
    )

    rows = sorted(
        q_events_new_vs_returning(spark, SF).collect(),
        key=lambda r: r.day,
    )
    assert rows
    # dau decomposes exactly; day 1 is all-new; new-user totals equal
    # the distinct user count
    for r in rows:
        assert r.dau == r.n_new + r.n_returning
    assert rows[0].n_returning == 0
    ev = spark.read.parquet(f"{SF}/events.parquet")
    n_users = (
        ev.filter(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
        .count()
    )
    assert sum(r.n_new for r in rows) == n_users


def test_slo_burn_rate_flags_match_integer_rule(spark):
    from vector_graph_native_database__spark.registry.eventsq import (
        q_events_slo_burn_rate,
    )

    rows = q_events_slo_burn_rate(spark, SF).collect()
    assert rows
    for r in rows:
        # trailing window contains the current hour
        assert r.n_6h >= r.n_1h and r.e_6h >= r.e_1h
        want = 1 if (r.e_1h * 4 > r.n_1h and r.e_6h * 4 > r.n_6h) else 0
        assert r.page == want
        # burn rates are consistent with the integer flag at the boundary
        if r.page:
            assert r.burn_1h > 1.0 - 1e-6 and r.burn_6h > 1.0 - 1e-6


def test_top_parts_per_nation_rank_contract(spark):
    from vector_graph_native_database__spark.registry.olapq import (
        q_olap_top_parts_per_nation,
    )

    rows = q_olap_top_parts_per_nation(spark, SF).collect()
    assert rows
    by_nation = {}
    for r in rows:
        by_nation.setdefault(r.n_name, []).append(r)
    for nation, rs in by_nation.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        # revenue non-increasing down the ranks
        revs = [r.revenue for r in rs]
        assert all(a >= b for a, b in zip(revs, revs[1:]))


def test_retention_dn_bounds(spark):
    from vector_graph_native_database__spark.registry.eventsq import (
        q_events_retention_dn,
    )

    rows = q_events_retention_dn(spark, SF).collect()
    assert rows
    ev = spark.read.parquet(f"{SF}/events.parquet")
    n_users = (
        ev.filter(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
        .count()
    )
    assert sum(r.n_cohort for r in rows) == n_users
    for r in rows:
        for n in (1, 7, 14, 28):
            d, rr = getattr(r, f"d{n}"), getattr(r, f"r{n}")
            assert 0 <= d <= r.n_cohort
            assert abs(rr - d / r.n_cohort) < 2e-6


def test_session_duration_quartiles_contract(spark):
    from vector_graph_native_database__spark.registry.eventsq import (
        q_events_session_duration_quartiles,
    )

    row = q_events_session_duration_quartiles(spark, SF).collect()[0]
    # a gap-10min session always spans at least the trailing gap
    assert row.q_0_25 >= 600
    assert row.q_0_25 <= row.q_0_5 <= row.q_0_75
    assert row.n > 0


def test_kmv_intersection_unsaturated_is_exact(spark):
    from vector_graph_native_database__spark.operators.sketch import (
        kmv_intersection,
    )

    df = spark.createDataFrame(
        [("a", i) for i in range(30)] + [("b", i) for i in range(15, 50)],
        "g string, v int",
    )
    rows = kmv_intersection(df, "g", "v", k=64).collect()
    assert len(rows) == 1
    r = rows[0]
    # both sides under k: theta == 1, estimate equals exact overlap
    assert r.theta == 1.0
    assert r.exact_intersection == 15
    assert r.est_intersection == 15.0


def test_kmv_intersection_saturated_is_close(spark):
    from vector_graph_native_database__spark.operators.sketch import (
        kmv_intersection,
    )

    n = 2000
    ov = 1000
    df = spark.createDataFrame(
        [("a", i) for i in range(n)]
        + [("b", i) for i in range(n - ov, 2 * n - ov)],
        "g string, v int",
    )
    r = kmv_intersection(df, "g", "v", k=256).collect()[0]
    assert r.exact_intersection == ov
    # theta sketch with k=256 should land within ~35% here
    assert abs(r.est_intersection - ov) / ov < 0.35


def test_ltv_and_gap_quartiles_contracts(spark):
    from vector_graph_native_database__spark.registry.olapq import (
        q_olap_ltv_quartiles,
        q_olap_order_gap_quartiles,
    )

    ltv = q_olap_ltv_quartiles(spark, SF).collect()
    assert len(ltv) == 5  # five market segments
    for r in ltv:
        assert r.q_0_25 <= r.q_0_5 <= r.q_0_75
        assert r.n > 0 and r.q_0_25 > 0

    gaps = q_olap_order_gap_quartiles(spark, SF).collect()
    assert len(gaps) == 5
    for r in gaps:
        assert 0 <= r.q_0_25 <= r.q_0_5 <= r.q_0_75
    # n == total orders minus one per customer with >= 1 order
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    n_orders = orders.count()
    n_cust = orders.select("o_custkey").distinct().count()
    assert sum(r.n for r in gaps) == n_orders - n_cust


def test_user_concentration_contract(spark):
    from vector_graph_native_database__spark.registry.eventsq import (
        q_events_user_concentration,
    )

    r = q_events_user_concentration(spark, SF).collect()[0]
    assert 0 < r.n_heavy <= r.n_users
    # the heavy set is at least a decile of users (ties only add)
    assert r.n_heavy >= r.n_users // 10
    # heavy users have >= p90 events each, so their share is at least
    # n_heavy * p90 / n_events
    assert r.heavy_share >= r.n_heavy * r.p90_events / r.n_events - 1e-6
    assert r.heavy_share <= 1.0

"""Round-5 second wave: DSIR importance weights, semantic dedup
(SemDeDup), temperature-mix sampling, PSI drift, Markov transitions,
per-lang quality regression — semantics on synthetic fixtures."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from vector_graph_native_database__spark.operators import curation, dedup


def _bucket(tok: str, n: int = 64) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % n


def _round6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


def test_dsir_importance_matches_hand_computation(spark):
    rows = [
        ("a", "curated curated gold gold gold", 1),
        ("b", "curated gold noise", 1),
        ("c", "noise noise noise junk junk", 0),
        ("d", "junk junk noise curated", 0),
    ]
    df = spark.createDataFrame(rows, "id string, text string, is_t int")
    got = {
        r["id"]: r
        for r in curation.dsir_importance(
            df, target=F.col("is_t") == 1, n_buckets=64
        ).collect()
    }
    # replicate: bucket counts for target / raw
    ct: dict[int, int] = {}
    cr: dict[int, int] = {}
    for _id, text, is_t in rows:
        for tok in text.split():
            b = _bucket(tok)
            cr[b] = cr.get(b, 0) + 1
            if is_t:
                ct[b] = ct.get(b, 0) + 1
    tt, tr = sum(ct.values()), sum(cr.values())
    for _id, text, _ in rows:
        logw = sum(
            math.log((ct.get(_bucket(t), 0) + 1) / (tt + 64))
            - math.log((cr.get(_bucket(t), 0) + 1) / (tr + 64))
            for t in text.split()
        )
        assert got[_id]["n_tokens"] == len(text.split())
        assert got[_id]["logw"] == _round6(logw)
    # resampling direction: target-looking docs score above raw-only docs
    assert got["a"]["logw"] > got["c"]["logw"]


def test_semdedup_drops_in_cluster_dups_keeps_lowest_id(spark):
    rows = [
        ("1", [1.0, 0.0, 0.0, 0.0]),
        ("2", [0.0, 1.0, 0.0, 0.0]),
        ("3", [1.0, 0.0, 0.0, 0.0]),  # dup of 1 -> same cluster -> dropped
        ("4", [0.0, 1.0, 0.0, 0.0]),  # dup of 2 -> dropped
        ("5", [0.0, 0.0, 1.0, 0.0]),  # orthogonal to everything -> kept
    ]
    emb = spark.createDataFrame(rows, "node_id string, vector array<double>")
    got = {
        r["id"]: r
        for r in dedup.semdedup(
            emb, n_centroids=2, iters=1, threshold=0.9, dim=4
        ).collect()
    }
    assert {i for i, r in got.items() if r["kept"] == 1} == {"1", "2", "5"}
    assert {i for i, r in got.items() if r["kept"] == 0} == {"3", "4"}
    # dup pairs co-cluster; the lowest id is the keeper
    assert got["3"]["cluster"] == got["1"]["cluster"]
    assert got["4"]["cluster"] == got["2"]["cluster"]


def test_temperature_mix_upsamples_tail_relative_to_head(spark):
    from vector_graph_native_database__spark.operators import sampling

    # head group 'en' 400 rows, tail 'fr' 25 rows
    rows = [(str(i), "en") for i in range(400)] + [
        (str(i), "fr") for i in range(400, 425)
    ]
    df = spark.createDataFrame(rows, "id string, lang string")
    kept = sampling.temperature_mix(
        df, group_col="lang", alpha=0.5, budget_frac=0.5
    ).collect()
    n_en = sum(1 for r in kept if r["grp"] == "en")
    n_fr = sum(1 for r in kept if r["grp"] == "fr")
    # alpha=0.5 at half budget: fr keep-rate should exceed en keep-rate
    assert n_fr / 25 > n_en / 400
    # fr's ideal fraction min(1, .5*425*5/(20+5)/25) = 1.0 -> all kept
    assert n_fr == 25
    # en is down-sampled: f_en = .5*425*20/25/400 = 0.425
    assert 0 < n_en < 400


def test_drift_psi_separates_shifted_from_stable(spark):
    import datetime as dt

    from vector_graph_native_database__spark.operators import profiling

    t0 = dt.datetime(2026, 1, 1)
    rows = []
    # 'stable': identical value pattern in both halves -> psi ~ 0
    # 'shifted': values 0..9 in first half, 90..99 in second -> psi large
    for i in range(50):
        early = t0 + dt.timedelta(minutes=i)        # < midpoint
        late = t0 + dt.timedelta(days=1, minutes=i)  # > midpoint
        rows.append(("stable", float(i % 10), early))
        rows.append(("stable", float(i % 10), late))
        rows.append(("shifted", float(i % 10), early))
        rows.append(("shifted", 90.0 + i % 10, late))
    df = spark.createDataFrame(
        rows, "event_type string, value double, ts timestamp"
    )
    got = {
        r["grp"]: r
        for r in profiling.drift_psi(
            df, group_col="event_type", value_col="value", ts_col="ts"
        ).collect()
    }
    assert got["stable"]["n_ref"] == 50 and got["stable"]["n_cur"] == 50
    assert got["stable"]["psi"] < 0.1           # conventional "stable" band
    assert got["shifted"]["psi"] > 0.25         # conventional "shifted" band


def test_markov_transitions_probabilities(spark):
    import datetime as dt

    from vector_graph_native_database__spark.registry.eventsq import (
        q_events_markov_transitions,
    )
    from vector_graph_native_database__spark.registry import eventsq

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        # user 1: a -> b -> a ; user 2: a -> b ; user 3: a -> c
        (1, 1, "a", t0), (2, 1, "b", t0 + dt.timedelta(minutes=1)),
        (3, 1, "a", t0 + dt.timedelta(minutes=2)),
        (4, 2, "a", t0), (5, 2, "b", t0 + dt.timedelta(minutes=1)),
        (6, 3, "a", t0), (7, 3, "c", t0 + dt.timedelta(minutes=1)),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    import unittest.mock as mock

    with mock.patch.object(eventsq, "_events", lambda s, d: df):
        got = {
            (r["src"], r["dst"]): r
            for r in q_events_markov_transitions(spark, "unused").collect()
        }
    assert got[("a", "b")]["n"] == 2 and got[("a", "b")]["p"] == 0.666667
    assert got[("a", "c")]["n"] == 1 and got[("a", "c")]["p"] == 0.333333
    assert got[("b", "a")]["p"] == 1.0
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "a")}


def test_quality_regression_two_point_exact_fit_and_degenerate_group(spark):
    from vector_graph_native_database__spark.operators import text_analysis

    rows = [
        # group g1: two docs, distinct lengths -> exact 2-point fit, r2 = 1
        ("1", "the quick brown fox jumps over the lazy dog", "g1", 43),
        ("2", "to be or not", "g1", 12),
        # group g2: identical lengths -> zero x-variance -> NULL fit
        ("3", "alpha beta gamma", "g2", 16),
        ("4", "delta epsilon zeta", "g2", 16),
    ]
    df = spark.createDataFrame(
        rows, "id string, text string, lang string, n_chars long"
    )
    got = {
        r["grp"]: r
        for r in text_analysis.quality_regression(df, group_col="lang").collect()
    }
    q = {
        r["id"]: r["quality"]
        for r in text_analysis.quality_score(df).collect()
    }
    x1, x2 = _round6(math.log(43)), _round6(math.log(12))
    y1, y2 = q["1"], q["2"]
    assert got["g1"]["n"] == 2
    assert got["g1"]["slope"] == _round6((y2 - y1) / (x2 - x1))
    assert got["g1"]["r2"] == 1.0
    # intercept passes through both points
    assert got["g1"]["intercept"] == _round6(
        ((y1 + y2) - (y2 - y1) / (x2 - x1) * (x1 + x2)) / 2
    )
    assert got["g2"]["slope"] is None
    assert got["g2"]["intercept"] is None
    assert got["g2"]["r2"] is None


def test_attribution_credits_latest_preceding_non_purchase(spark):
    import datetime as dt
    import unittest.mock as mock

    from vector_graph_native_database__spark.registry import eventsq

    t0 = dt.datetime(2026, 1, 1)

    def ev(eid, uid, typ, minutes):
        return (eid, uid, typ, t0 + dt.timedelta(minutes=minutes))

    rows = [
        # user 1: click -> view -> purchase  => view gets the credit
        ev(1, 1, "click", 0), ev(2, 1, "view", 1), ev(3, 1, "purchase", 2),
        # user 2: purchase with no preceding touch => unattributed, dropped
        ev(4, 2, "purchase", 0), ev(5, 2, "click", 1),
        # user 3: click -> purchase -> purchase => click credits BOTH
        ev(6, 3, "click", 0), ev(7, 3, "purchase", 1), ev(8, 3, "purchase", 2),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    with mock.patch.object(eventsq, "_events", lambda s, d: df):
        got = {
            r["channel"]: r
            for r in eventsq.q_events_attribution(spark, "unused").collect()
        }
    assert got["view"]["n_conversions"] == 1
    assert got["click"]["n_conversions"] == 2
    assert set(got) == {"view", "click"}
    assert got["click"]["credit"] == _round6(2 / 3)


def test_tokenizer_fertility_hand_computed(spark):
    import unittest.mock as mock

    from vector_graph_native_database__spark.registry import pipelineq

    df = spark.createDataFrame(
        [("1", "hello world!", "en", 0), ("2", "don't stop", "en", 0)],
        "id string, text string, lang string, n_chars long",
    )
    with mock.patch.object(
        pipelineq, "model", lambda s, d: (df, None, None)
    ):
        got = pipelineq.q_text_tokenizer_fertility(spark, "unused").collect()
    (r,) = got
    # ws: 2 + 2 = 4; subword: [hello, world, !] + [don, ', t, stop] = 7
    # chars: 12 + 10 = 22
    assert r["n_docs"] == 2
    assert r["fertility"] == _round6(7 / 4)
    assert r["chars_per_token"] == _round6(22 / 7)


def test_zorder_layout_narrows_both_dimensions(spark):
    from vector_graph_native_database__spark.registry.coreq import (
        q_io_zorder_layout,
    )
    from vector_graph_native_database__spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    rows = q_io_zorder_layout(spark, sf).collect()
    orders = load_table(spark, sf, "orders")
    n = orders.count()
    assert sum(r["n_rows"] for r in rows) == n
    ck_lo = min(r["ck_min"] for r in rows)
    ck_hi = max(r["ck_max"] for r in rows)
    d_lo = min(r["d_min"] for r in rows)
    d_hi = max(r["d_max"] for r in rows)
    # locality in BOTH dims: the mean per-file span is well under the
    # global span for custkey AND orderdate (single-column sorting can
    # only deliver this for its leading column)
    mean_ck = sum(r["ck_max"] - r["ck_min"] for r in rows) / len(rows)
    mean_d = sum(r["d_max"] - r["d_min"] for r in rows) / len(rows)
    assert mean_ck < 0.5 * (ck_hi - ck_lo)
    assert mean_d < 0.5 * (d_hi - d_lo)


def test_market_basket_lift_and_distinct_pass(spark):
    import unittest.mock as mock

    from vector_graph_native_database__spark.registry import olapq

    rows = []
    for o in (1, 2, 3):
        rows += [(o, 1), (o, 2)]
    for o in (4, 5, 6):
        rows += [(o, 1), (o, 3)]
    for o in (7, 8, 9):
        rows += [(o, 4), (o, 5)]
    rows.append((1, 1))  # duplicate lineitem: must count once
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    with mock.patch.object(olapq, "load_table", lambda s, d, t: df):
        got = olapq.q_olap_market_basket(spark, "unused").collect()
    as_map = {(r["pa"], r["pb"]): r for r in got}
    # N=9; supports: p1=6, p2=3, p3=3, p4=3, p5=3
    assert as_map[(4, 5)]["n_ab"] == 3
    assert as_map[(4, 5)]["lift"] == _round6(3 * 9 / (3 * 3))
    assert as_map[(1, 2)]["lift"] == _round6(3 * 9 / (6 * 3))
    assert as_map[(1, 3)]["lift"] == _round6(3 * 9 / (6 * 3))
    # ranked by lift desc: (4,5) first
    assert (got[0]["pa"], got[0]["pb"]) == (4, 5)
    assert set(as_map) == {(4, 5), (1, 2), (1, 3)}


def test_jl_distortion_shrinks_with_k(spark):
    from vector_graph_native_database__spark.operators.ann import (
        jl_distortion_eval,
    )
    from vector_graph_native_database__spark.sources import embeddings_df

    emb = embeddings_df(spark, "/root/testdata/sf0.001")
    r8 = jl_distortion_eval(emb, k=8).collect()[0]
    r32 = jl_distortion_eval(emb, k=32).collect()[0]
    assert r8["n_pairs"] == r32["n_pairs"] > 0
    assert 0 < r32["mean_distortion"] < r8["mean_distortion"] < 1
    assert r32["max_distortion"] <= r8["max_distortion"]


def test_dsir_resample_gumbel_topk_hand_computed(spark):
    rows = [
        ("a", "curated curated gold gold gold", 1),
        ("b", "curated gold noise", 1),
        ("c", "noise noise noise junk junk", 0),
        ("d", "junk junk noise curated", 0),
    ]
    df = spark.createDataFrame(rows, "id string, text string, is_t int")
    got = curation.dsir_resample_topk(
        df, target=F.col("is_t") == 1, n_keep=2, n_buckets=64
    ).collect()
    # replicate: logw (as in the weights test) + deterministic Gumbel
    ct: dict[int, int] = {}
    cr: dict[int, int] = {}
    for _id, text, is_t in rows:
        for tok in text.split():
            b = _bucket(tok)
            cr[b] = cr.get(b, 0) + 1
            if is_t:
                ct[b] = ct.get(b, 0) + 1
    tt, tr = sum(ct.values()), sum(cr.values())
    keys = {}
    for _id, text, _ in rows:
        logw = _round6(sum(
            math.log((ct.get(_bucket(t), 0) + 1) / (tt + 64))
            - math.log((cr.get(_bucket(t), 0) + 1) / (tr + 64))
            for t in text.split()
        ))
        u = (int(hashlib.md5(f"gum{_id}".encode()).hexdigest()[:15], 16)
             % 10000 + 0.5) / 10000.0
        keys[_id] = _round6(logw + -math.log(-math.log(u)))
    want = sorted(keys.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
    assert [(r["id"], r["key"]) for r in got] == want


def test_mixture_pipeline_funnel_monotonic(spark):
    from vector_graph_native_database__spark.registry.samplingq import (
        q_mixture_pipeline_summary,
    )

    rows = q_mixture_pipeline_summary(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 1
    for r in rows:
        # funnel can only shrink at each stage
        assert r["n_raw"] >= r["n_clean"] >= r["n_kept"] >= 0
        assert (r["tok_kept"] > 0) == (r["n_kept"] > 0)
    # the temperature rebalance bites somewhere: at least one language
    # is down-sampled between clean and kept
    assert any(r["n_kept"] < r["n_clean"] for r in rows)


def test_ab_ttest_flags_lifted_variant_only(spark):
    import datetime as dt
    import unittest.mock as mock

    from vector_graph_native_database__spark.registry import eventsq

    def parity(uid: int) -> int:
        return int(hashlib.md5(f"ab{uid}".encode()).hexdigest()[:15], 16) % 2

    t0 = dt.datetime(2026, 1, 1)
    rows = []
    eid = 0
    for uid in range(40):
        v = parity(uid)
        for k in range(3):
            eid += 1
            # 'lifted': variant B runs ~10 higher; 'flat': identical
            lifted_val = 10.0 + k if v == 1 else 0.0 + k
            rows.append((eid, uid, "lifted", lifted_val, t0))
            eid += 1
            rows.append((eid, uid, "flat", 5.0 + k, t0))
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, value double,"
        " ts timestamp",
    )
    with mock.patch.object(eventsq, "_events", lambda s, d: df):
        got = {
            r["event_type"]: r
            for r in eventsq.q_events_ab_ttest(spark, "unused").collect()
        }
    assert got["lifted"]["significant"]
    assert not got["flat"]["significant"]
    assert abs(got["flat"]["t_stat"]) < 0.5
    assert got["lifted"]["mean_b"] - got["lifted"]["mean_a"] == 10.0
    # both variants drew users (hash split is balanced-ish)
    assert got["flat"]["n_a"] > 1 and got["flat"]["n_b"] > 1


def test_assortativity_star_is_minus_one_cycle_is_null(spark):
    from vector_graph_native_database__spark.operators.analytics import (
        degree_assortativity,
    )

    star = spark.createDataFrame(
        [("h", l) for l in ["a", "b", "c", "d"]], "src string, dst string"
    )
    (r,) = degree_assortativity(star).collect()
    assert r["n_endpoints"] == 8
    assert r["assortativity"] == -1.0  # perfect hub-to-leaf graph
    cycle = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    (r2,) = degree_assortativity(cycle).collect()
    assert r2["assortativity"] is None  # zero degree variance


def test_cuped_perfect_covariate_zeroes_delta(spark):
    import datetime as dt
    import unittest.mock as mock

    from vector_graph_native_database__spark.registry import eventsq

    def parity(uid: int) -> int:
        return int(hashlib.md5(f"ab{uid}".encode()).hexdigest()[:15], 16) % 2

    # two users of each variant, with the SAME covariate multiset {1, 4}
    a_users = [u for u in range(100) if parity(u) == 0][:2]
    b_users = [u for u in range(100) if parity(u) == 1][:2]
    t0 = dt.datetime(2026, 1, 1)
    t1 = t0 + dt.timedelta(days=2)
    rows, eid = [], 0
    for users in (a_users, b_users):
        for u, xval in zip(users, (1.0, 4.0)):
            eid += 1
            rows.append((eid, t0, u, "m", xval, "{}"))   # pre period
            eid += 1
            rows.append((eid, t1, u, "m", xval, "{}"))   # post: y = x exactly
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with mock.patch.object(eventsq, "_events", lambda s, d: df):
        (r,) = eventsq.q_events_ab_cuped(spark, "unused").collect()
    assert r["n_a"] == 2 and r["n_b"] == 2
    # y == x -> theta = 1, rho2 = 1, and the CUPED delta collapses to 0
    assert r["rho2"] == 1.0
    assert r["delta_raw"] == 0.0
    assert r["delta_cuped"] == 0.0


def test_jl_topk_recall_monotone_in_candidates_and_rerank_exact(spark):
    from vector_graph_native_database__spark.operators import ann
    from vector_graph_native_database__spark.registry.pipelineq import (
        ANN_QUERY_IDS,
        q_ann_brute_topk,
    )
    from vector_graph_native_database__spark.sources import embeddings_df

    sf = "/root/testdata/sf0.001"
    brute = {
        (r["qid"], r["id"]): r["cos"]
        for r in q_ann_brute_topk(spark, sf).collect()
        if r["rnk"] <= 5
    }
    emb = embeddings_df(spark, sf)

    def run(cands):
        return {
            (r["qid"], r["id"]): r["cos"]
            for r in ann.jl_rerank_topk(
                emb, ANN_QUERY_IDS, k=5, jl_k=16, candidates=cands
            ).collect()
        }

    # On near-orthogonal synthetic vectors the true cosine gaps are far
    # below the JL distortion at k=16, so absolute recall@5 is data-poor
    # here; the GUARANTEED properties are (a) widening the candidate cut
    # never loses recall (superset rerank) and (b) the rerank is exact.
    narrow, wide = run(20), run(100)
    hits_narrow = set(narrow) & set(brute)
    hits_wide = set(wide) & set(brute)
    assert len(hits_wide) >= len(hits_narrow) > 0
    for key in hits_narrow | hits_wide:
        got = narrow.get(key, wide.get(key))
        assert got == brute[key]


def test_round5b_plan_shapes(spark):
    """Plan pins for the round-5 second wave: distributed top-k where
    a top-k exists, zero Python UDFs anywhere (these are all
    built-in-function plans), and the mixture funnel stays
    broadcast-joined."""
    from vector_graph_native_database__spark import registry
    from vector_graph_native_database__spark.plans import plan_summary

    SF = "/root/testdata/sf0.001"
    qs = registry.all_queries()
    for name in (
        "dsir_importance_weights",
        "dsir_resample_topk",
        "sample_temperature_mix",
        "mixture_pipeline_summary",
        "dq_drift_psi",
        "events_markov_transitions",
        "events_attribution",
        "events_ab_ttest",
        "events_ab_cuped",
        "text_quality_regression",
        "text_tokenizer_fertility",
        "olap_market_basket",
        "ann_jl_topk",
        "graph_assortativity",
        "io_zorder_layout",
    ):
        s = plan_summary(qs[name](spark, SF))
        assert s["python_row_udfs"] == 0, name
        assert s["python_arrow_udfs"] == 0, name
    # weighted sampling without replacement = distributed top-k,
    # never a global sort of the corpus
    s = plan_summary(qs["dsir_resample_topk"](spark, SF))
    assert s["take_ordered"] >= 1
    s = plan_summary(qs["olap_market_basket"](spark, SF))
    assert s["take_ordered"] >= 1
    assert s["sort_merge_joins"] == 0  # supports broadcast, pairs equi-join


def test_incremental_lsh_equals_cross_pairs_of_full_dedup(spark):
    rows = [
        ("0", "alpha beta gamma delta epsilon zeta eta theta"),
        ("2", "one two three four five six seven"),
        ("1", "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 0
        ("3", "totally unrelated words in this document here"),
        ("5", "one two three four five six seven"),              # dup of 2
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    corpus = df.filter(F.col("id").cast("long") % 2 == 0)
    inc = df.filter(F.col("id").cast("long") % 2 == 1)
    got = {
        (r["id_inc"], r["id_corpus"]): r["jaccard"]
        for r in dedup.incremental_lsh_dedup(corpus, inc).collect()
    }
    assert set(got) == {("1", "0"), ("5", "2")}
    assert got[("1", "0")] == 1.0 and got[("5", "2")] == 1.0
    # cross-pair agreement with the full (corpus ∪ increment) dedup
    full = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in dedup.minhash_lsh_dedup(df, threshold=0.8).collect()
    }
    cross = {p for p in full if int(p[0]) % 2 != int(p[1]) % 2}
    assert {tuple(sorted(k)) for k in got} == cross


def test_top_paths_counts_three_step_windows(spark):
    import datetime as dt
    import unittest.mock as mock

    from vector_graph_native_database__spark.registry import eventsq

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        # user 1: a b c d  -> paths a>b>c, b>c>d
        (1, 1, "a", t0), (2, 1, "b", t0 + dt.timedelta(minutes=1)),
        (3, 1, "c", t0 + dt.timedelta(minutes=2)),
        (4, 1, "d", t0 + dt.timedelta(minutes=3)),
        # user 2: a b c -> a>b>c (again)
        (5, 2, "a", t0), (6, 2, "b", t0 + dt.timedelta(minutes=1)),
        (7, 2, "c", t0 + dt.timedelta(minutes=2)),
        # user 3: only two events -> no path
        (8, 3, "a", t0), (9, 3, "b", t0 + dt.timedelta(minutes=1)),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    with mock.patch.object(eventsq, "_events", lambda s, d: df):
        got = [
            (r["path"], r["n"])
            for r in eventsq.q_events_top_paths(spark, "unused").collect()
        ]
    assert got == [("a>b>c", 2), ("b>c>d", 1)]


def test_active_users_rolling_windows(spark):
    import datetime as dt
    import unittest.mock as mock

    from vector_graph_native_database__spark.registry import eventsq

    def ev(eid, uid, day):
        return (eid, uid, "x", dt.datetime(2026, 1, day, 12))

    rows = [
        ev(1, 1, 1), ev(2, 2, 1),          # day 1: users {1,2}
        ev(3, 1, 2),                        # day 2: {1}
        ev(4, 3, 10),                       # day 10: {3} (day 2 beyond WAU)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    with mock.patch.object(eventsq, "_events", lambda s, d: df):
        got = {
            r["day"]: r
            for r in eventsq.q_events_active_users(spark, "unused").collect()
        }
    assert got["2026-01-01"]["dau"] == 2
    assert got["2026-01-02"]["dau"] == 1
    assert got["2026-01-02"]["wau"] == 2    # users 1,2 within 7 days
    assert got["2026-01-10"]["dau"] == 1
    assert got["2026-01-10"]["wau"] == 1    # days 1-2 fell out of the week
    assert got["2026-01-10"]["mau"] == 3    # but stay in the 28-day window


def test_diversity_flags_templated_source(spark):
    import unittest.mock as mock

    from vector_graph_native_database__spark.registry import pipelineq

    rows = [
        # 'spam' source: same 3 bigrams in every doc
        ("1", "buy now cheap", "spam"),
        ("2", "buy now cheap", "spam"),
        ("3", "buy now cheap", "spam"),
        # 'organic': all-distinct bigrams
        ("4", "alpha beta gamma", "organic"),
        ("5", "delta epsilon zeta", "organic"),
    ]
    df = spark.createDataFrame(rows, "id string, text string, source string")
    with mock.patch.object(pipelineq, "model", lambda s, d: (df, None, None)):
        got = {
            r["source"]: r
            for r in pipelineq.q_text_diversity_by_source(
                spark, "unused"
            ).collect()
        }
    assert got["spam"]["n_bigrams"] == 6 and got["spam"]["n_distinct"] == 2
    assert got["spam"]["diversity"] == _round6(2 / 6)
    assert got["organic"]["diversity"] == 1.0
    assert got["spam"]["diversity"] < got["organic"]["diversity"]


def test_embedding_profile_counts_degenerate_vectors(spark):
    import unittest.mock as mock

    from vector_graph_native_database__spark.registry import qualityq

    rows = [
        ("a", [1.0, 0.0, 0.0], 3),
        ("b", [0.0, 0.0, 0.0], 3),        # zero norm
        ("c", [3.0, 4.0, 0.0], 3),        # norm 5 -> unnormalized
        ("d", [0.6, 0.8], 2),             # dim drift, normalized
    ]
    df = spark.createDataFrame(
        rows, "node_id string, vector array<double>, dim int"
    )
    with mock.patch(
        "vector_graph_native_database__spark.sources.embeddings_df",
        lambda s, d: df,
    ):
        (r,) = qualityq.q_profile_embedding_stats(spark, "unused").collect()
    assert r["n_vectors"] == 4
    assert r["n_dims"] == 2
    assert r["n_zero_norm"] == 1
    assert r["n_unnormalized"] == 2       # the zero vector and norm-5
    assert r["min_norm"] == 0.0 and r["max_norm"] == 5.0
    assert r["mean_norm"] == _round6((1.0 + 0.0 + 5.0 + 1.0) / 4)


def test_semdedup_central_keeps_farthest_from_centroid(spark):
    # cluster seeds: ids 1,2. Component {1,3,6} around e1; 6 sits
    # farther from the cluster centroid than 1 or 3 -> 6 is the keeper.
    rows = [
        ("1", [1.0, 0.0, 0.0, 0.0]),
        ("2", [0.0, 1.0, 0.0, 0.0]),
        ("3", [1.0, 0.0, 0.0, 0.0]),        # identical to 1
        ("6", [0.9, 0.0, 0.1, 0.0]),        # near-dup of 1, off-centroid
        ("5", [0.0, 0.8, 0.6, 0.0]),        # cluster-2 singleton (cos .8 < τ)
    ]
    emb = spark.createDataFrame(rows, "node_id string, vector array<double>")
    got = {
        r["id"]: r
        for r in dedup.semdedup_keep_central(
            emb, n_centroids=2, iters=1, threshold=0.9, dim=4
        ).collect()
    }
    grp = got["1"]["grp"]
    assert got["3"]["grp"] == grp and got["6"]["grp"] == grp
    kept = {i for i, r in got.items() if r["kept"] == 1}
    # the component keeps exactly its farthest-from-centroid member (6);
    # singletons 2 and 5 survive
    assert kept == {"6", "2", "5"}
    assert got["5"]["grp"] == "5"  # singleton forms its own group


def test_partition_skew_report_hand_computed(spark):
    import datetime as dt
    import unittest.mock as mock

    from vector_graph_native_database__spark.registry import coreq

    rows = []
    eid = 0
    # day 1: 6 events, day 2: 2 events -> skew = 6*2/8 = 1.5
    # types: 'a' x 7, 'b' x 1 -> skew = 7*2/8 = 1.75
    for i in range(8):
        eid += 1
        day = 1 if i < 6 else 2
        typ = "a" if i < 7 else "b"
        rows.append((eid, 1, typ, 1.0, dt.datetime(2026, 1, day), "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, value double,"
        " ts timestamp, props string",
    )
    with mock.patch.object(coreq, "load_table", lambda s, d, t: df):
        got = {
            r["partition_col"]: r
            for r in coreq.q_io_partition_skew_report(
                spark, "unused"
            ).collect()
        }
    assert got["day"]["n_partitions"] == 2
    assert got["day"]["max_rows"] == 6 and got["day"]["skew"] == 1.5
    assert got["day"]["max_share"] == 0.75
    assert got["event_type"]["skew"] == 1.75


def test_sql_frontend_seg_revenue_shares_sum_to_one(spark):
    from vector_graph_native_database__spark.registry.coreq import (
        q_sql_frontend_seg_revenue,
    )

    rows = q_sql_frontend_seg_revenue(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    by_year: dict[int, float] = {}
    for r in rows:
        assert r["revenue"] > 0
        by_year[r["yr"]] = by_year.get(r["yr"], 0.0) + r["yr_share"]
    for yr, total in by_year.items():
        assert abs(total - 1.0) < 1e-4, (yr, total)


def test_degree_histogram_log2_buckets(spark):
    import unittest.mock as mock

    from vector_graph_native_database__spark.registry import analyticsq

    star = spark.createDataFrame(
        [("h", l) for l in ["a", "b", "c", "d"]], "src string, dst string"
    )
    with mock.patch.object(
        analyticsq, "model", lambda s, d: (None, None, star)
    ):
        got = {
            r["bucket"]: r
            for r in analyticsq.q_graph_degree_histogram(
                spark, "unused"
            ).collect()
        }
    # hub degree 4 -> bucket 2; four leaves degree 1 -> bucket 0
    assert got[2]["n_nodes"] == 1 and got[2]["min_degree"] == 4
    assert got[0]["n_nodes"] == 4 and got[0]["max_degree"] == 1
    assert set(got) == {0, 2}


def test_nprobe_sweep_recall_monotone(spark):
    from vector_graph_native_database__spark.registry.qualityq import (
        q_ann_ivf_nprobe_sweep,
    )

    rows = {
        r["nprobe"]: r
        for r in q_ann_ivf_nprobe_sweep(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert set(rows) == {1, 2, 4}
    # probing more cells only adds candidates -> pairs and recall monotone
    assert rows[1]["n_pairs"] <= rows[2]["n_pairs"] <= rows[4]["n_pairs"]
    assert (
        rows[1]["recall_at_k"]
        <= rows[2]["recall_at_k"]
        <= rows[4]["recall_at_k"]
    )
    assert rows[4]["recall_at_k"] > 0

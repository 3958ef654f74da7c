"""Round-3 extension wave: LPA communities, Jaccard link prediction,
power-iteration PCA, SCD2 merge, cosine range search, MAD outliers.

Semantics tests on hand-built micro-graphs/frames (the oracle gate
covers the registry twins on the shared testdata; these pin the
operator contracts on inputs where the right answer is obvious).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from vector_graph_native_database__spark.operators.cdc import scd2_merge
from vector_graph_native_database__spark.operators.curation import pca_pc1
from vector_graph_native_database__spark.operators.ann import range_search


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(a, b, "t", 1.0) for a, b in pairs],
        "src string, dst string, type string, weight double",
    )


def test_pca_pc1_recovers_dominant_axis(spark):
    # variance concentrated on axis 3 -> |loading[3]| ~ 1, sign +
    import random

    rng = random.Random(7)
    dim = 8
    rows = []
    for i in range(200):
        v = [rng.gauss(0, 0.01) for _ in range(dim)]
        v[3] = rng.gauss(0, 10.0)
        rows.append((str(i), v))
    emb = spark.createDataFrame(rows, "node_id string, vector array<double>")
    emb = emb.withColumn("vector", F.col("vector").cast("array<float>"))
    got = {
        r["idx"]: r["loading"]
        for r in pca_pc1(emb, dim=dim, iterations=8).collect()
    }
    assert len(got) == dim
    assert got[3] > 0.99
    assert all(abs(got[i]) < 0.1 for i in got if i != 3)
    # unit norm after rounding noise
    assert abs(sum(x * x for x in got.values()) - 1.0) < 1e-3


def test_scd2_merge_chains_and_noop_drop(spark):
    base = spark.createDataFrame(
        [(1, "A", 10.0), (2, "B", 20.0), (3, "C", 30.0)],
        "k int, status string, price double",
    )
    updates = spark.createDataFrame(
        [(1, "A2", 11.0), (2, "B", 20.0)],  # 2 is a no-op replay
        "k int, status string, price double",
    )
    rows = scd2_merge(base, updates, ["k"], ["status", "price"]).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["k"], []).append(r)
    assert len(by_key[1]) == 2  # changed: closed v1 + current v2
    v1 = next(r for r in by_key[1] if r["valid_from"] == 1)
    v2 = next(r for r in by_key[1] if r["valid_from"] == 2)
    assert v1["valid_to"] == 2 and not v1["is_current"]
    assert v2["valid_to"] is None and v2["is_current"]
    assert v2["status"] == "A2"
    assert len(by_key[2]) == 1 and by_key[2][0]["is_current"]  # no-op
    assert len(by_key[3]) == 1 and by_key[3][0]["is_current"]  # untouched


def test_range_search_threshold_and_self_exclusion(spark):
    emb = spark.createDataFrame(
        [
            ("q", [1.0, 0.0], 2),
            ("same", [2.0, 0.0], 2),
            ("diag", [1.0, 1.0], 2),
            ("orth", [0.0, 1.0], 2),
        ],
        "node_id string, vector array<float>, dim int",
    )
    got = {
        r["id"]: r["cos"]
        for r in range_search(emb, ["q"], tau=0.7).collect()
    }
    assert set(got) == {"same", "diag"}  # orth (cos 0) cut, no self
    assert got["same"] == 1.0
    assert abs(got["diag"] - 0.707107) < 1e-6


def test_mad_outlier_registry_entry(spark):
    from vector_graph_native_database__spark.registry.olapq import (
        q_events_mad_outliers,
    )

    rows = q_events_mad_outliers(spark, "/root/testdata/sf0.001").collect()
    assert rows and all(r["mad"] >= 0 for r in rows)
    # outliers are a small tail by construction of the estimator
    assert all(r["n_outliers"] < 0.1 * r["n"] for r in rows)


def test_bigram_logprob_prefers_frequent_bigrams(spark):
    from vector_graph_native_database__spark.operators.text_analysis import (
        bigram_logprob,
    )

    docs = spark.createDataFrame(
        [("d1", "x y x y x y"), ("d2", "p q")],
        "id string, text string",
    )
    got = {r["id"]: r for r in bigram_logprob(docs).collect()}
    assert got["d1"]["n_bigrams"] == 5 and got["d2"]["n_bigrams"] == 1
    # d2's (p,q) is a hapax bigram; d1 repeats (x,y) -> higher score
    assert got["d1"]["avg_logprob"] > got["d2"]["avg_logprob"]
    import math

    # exact value for d2: ln((1+0.5) / (1 + 0.5*4)); V = {x,y,p,q}
    assert abs(got["d2"]["avg_logprob"] - math.log(1.5 / 3.0)) < 1e-6


def test_debias_removes_dominant_axis(spark):
    import random

    from vector_graph_native_database__spark.operators.curation import (
        pca_residual_norms,
    )

    rng = random.Random(11)
    dim = 8
    rows = []
    for i in range(200):
        v = [rng.gauss(0, 0.01) for _ in range(dim)]
        v[2] = rng.gauss(0, 5.0)
        rows.append((str(i), v))
    emb = spark.createDataFrame(rows, "node_id string, vector array<double>")
    emb = emb.withColumn("vector", F.col("vector").cast("array<float>"))
    got = pca_residual_norms(emb, dim=dim, iterations=8).collect()
    assert len(got) == 200
    import statistics

    mean_abs_proj = statistics.mean(abs(r["proj"]) for r in got)
    mean_resid = statistics.mean(r["resid_norm"] for r in got)
    # removing PC1 strips the dominant-axis energy: residual is noise
    assert mean_resid < 0.2 * mean_abs_proj
    assert all(r["resid_norm"] >= 0 for r in got)


def test_containment_catches_excerpt_jaccard_misses(spark):
    from vector_graph_native_database__spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            ("long", "a b c d e f g h i j k l m n o p"),
            ("excerpt", "c d e f g"),
            ("other", "q r s t u v w x"),
        ],
        "id string, text string",
    )
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(docs, k=3, threshold=0.9).collect()
    }
    # the excerpt's 3 shingles all appear in the host doc
    assert cont == {("excerpt", "long"): 1.0}
    # symmetric jaccard at the same bar misses it (3/14 << 0.9)
    jac = ngram_jaccard_pairs(docs, k=3, threshold=0.9).collect()
    assert jac == []


def test_rollup_grains_totals_consistent(spark):
    from vector_graph_native_database__spark.registry.eventsq import (
        q_events_rollup_grains,
    )

    rows = q_events_rollup_grains(spark, "/root/testdata/sf0.001").collect()
    grand = [r for r in rows if r["day"] == "ALL"]
    assert len(grand) == 1 and grand[0]["hour"] == "ALL"
    days = [r for r in rows if r["day"] != "ALL" and r["hour"] == "ALL"]
    hours = [r for r in rows if r["hour"] != "ALL"]
    assert grand[0]["n"] == sum(r["n"] for r in days) == sum(
        r["n"] for r in hours
    )
    # decimal sums: per-grain totals add EXACTLY to the grand total
    assert abs(sum(r["sum_value"] for r in days) - grand[0]["sum_value"]) < 1e-6


def test_corrupt_jsonl_quarantines_not_drops(spark):
    from vector_graph_native_database__spark.registry.coreq import (
        q_io_jsonl_corrupt_tolerant,
    )

    rows = q_io_jsonl_corrupt_tolerant(spark, "/root/testdata/sf0.001").collect()
    by_lang = {r["lang"]: r for r in rows}
    assert "__corrupt__" in by_lang
    bad = by_lang["__corrupt__"]
    assert bad["n"] == bad["n_corrupt"] > 0  # every bad line kept+flagged
    good_n = sum(r["n"] for r in rows if r["lang"] != "__corrupt__")
    total = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).count()
    assert good_n + bad["n"] == total  # nothing silently dropped
    assert all(
        r["n_corrupt"] == 0 for r in rows if r["lang"] != "__corrupt__"
    )


def test_residual_ivfpq_wins_on_clustered_data(spark):
    """On clustered data residual PQ encodes offsets around each
    cell centroid, so its ADC distortion must beat plain IVF-PQ
    (on isotropic data they tie — this fixture has real clusters)."""
    import random

    from vector_graph_native_database__spark.operators import ann

    rng = random.Random(3)
    dim, n_clusters = 8, 4
    centers = [
        [rng.uniform(-50, 50) for _ in range(dim)] for _ in range(n_clusters)
    ]
    rows = []
    for i in range(400):
        c = centers[i % n_clusters]
        rows.append(
            (str(i), [x + rng.gauss(0, 0.5) for x in c], dim)
        )
    emb = spark.createDataFrame(
        rows, "node_id string, vector array<double>, dim int"
    ).withColumn("vector", F.col("vector").cast("array<float>"))
    qids = ["0", "1", "2", "3"]

    e = emb.select(F.col("node_id").alias("id"), "vector")
    q = e.filter(F.col("id").isin(qids)).select(
        F.col("id").alias("qid"), F.col("vector").alias("qvec")
    )
    d2 = F.aggregate(
        F.zip_with(
            "vector",
            "qvec",
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    exact = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("id") != F.col("qid"))
        .select("qid", "id", d2.alias("true_d2"))
    )

    def mae(fn):
        res = fn(
            emb, qids, k=5, n_centroids=4, iters=2, nprobe=2, m=4,
            ksub=8, dim=dim,
        )
        (row,) = (
            res.join(exact, ["qid", "id"])
            .agg(F.avg(F.abs(F.col("adist") - F.col("true_d2"))).alias("m"))
            .collect()
        )
        return row["m"]

    plain, resid = mae(ann.ivfpq_topk), mae(ann.ivfpq_residual_topk)
    assert resid < 0.5 * plain, (plain, resid)


def test_pii_scrub_counts_and_redaction(spark):
    from vector_graph_native_database__spark.operators.text_analysis import (
        pii_scrub,
    )

    df = spark.createDataFrame(
        [
            ("1", "mail me at bob@example.com or alice@test.org now"),
            ("2", "server 192.168.0.1 and phone 555-123-4567"),
            ("3", "nothing sensitive here"),
        ],
        "id string, text string",
    )
    got = {r["id"]: r for r in pii_scrub(df).collect()}
    assert got["1"]["n_emails"] == 2 and got["1"]["n_ipv4"] == 0
    assert got["2"]["n_ipv4"] == 1 and got["2"]["n_phones"] == 1
    assert got["3"]["n_emails"] == got["3"]["n_ipv4"] == got["3"]["n_phones"] == 0
    # hash of the clean doc is unchanged; redacted docs differ from raw md5
    import hashlib

    assert got["3"]["clean_hash"] == hashlib.md5(
        b"nothing sensitive here"
    ).hexdigest()
    assert got["2"]["clean_hash"] == hashlib.md5(
        b"server <IP> and phone <PHONE>"
    ).hexdigest()


def test_boilerplate_ngrams_flags_template_text(spark):
    from vector_graph_native_database__spark.operators.text_analysis import (
        boilerplate_ngrams,
    )

    template = "click here to subscribe"
    rows = [(str(i), f"doc {i} body text unique{i} " + template) for i in range(6)]
    rows.append(("9", "completely original content with no template at all"))
    df = spark.createDataFrame(rows, "id string, text string")
    got = {
        r["id"]: r
        for r in boilerplate_ngrams(df, k=3, min_docs=5).collect()
    }
    # the template trigrams appear in 6 docs -> boilerplate
    assert got["0"]["n_boiler"] >= 2
    assert got["9"]["n_boiler"] == 0 and got["9"]["boiler_ratio"] == 0.0
    assert 0 < got["0"]["boiler_ratio"] < 1


def test_winnowing_density_and_common_substring(spark):
    from vector_graph_native_database__spark.operators.text_analysis import (
        winnowing_fingerprint,
    )

    shared = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [
            ("a", "intro words first " + shared),
            ("b", shared + " trailing other stuff here"),
            ("c", "totally different text with no overlap at all whatsoever ok"),
        ],
        "id string, text string",
    )
    fps = winnowing_fingerprint(df, k=4, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["id"], set()).add(r["fp"])
    # winnowing guarantee: >= 1 fingerprint per window, density ~2/(w+1)
    n_grams_c = 12 - 3  # 12 tokens, k=4
    assert len([r for r in fps if r["id"] == "c"]) >= (n_grams_c - 4 + 1) // 4
    # the shared substring must yield shared fingerprints; c shares none
    assert len(by_doc["a"] & by_doc["b"]) >= 3
    assert not (by_doc["a"] & by_doc["c"])


def test_cms_overestimates_never_under(spark):
    from vector_graph_native_database__spark.operators.sketch import (
        cms_heavy_hitters,
    )

    rows = [("d", " ".join(f"tok{i % 50}" for i in range(500)))]
    df = spark.createDataFrame(rows, "id string, text string")
    got = cms_heavy_hitters(df, depth=4, width=32, top_n=10).collect()
    assert len(got) == 10
    for r in got:
        assert r["est_cnt"] >= r["exact_cnt"], r  # one-sided CMS bound


def test_bloom_semi_join_no_false_negatives(spark):
    from vector_graph_native_database__spark.operators.sketch import (
        bloom_semi_join_stats,
    )

    build = spark.createDataFrame(
        [(i,) for i in range(50)], "k bigint"
    )
    probe = spark.createDataFrame(
        [(i % 500,) for i in range(2000)], "k bigint"
    )
    (row,) = bloom_semi_join_stats(
        build, probe, "k", "k", m_bits=256, k_hashes=3
    ).collect()
    assert row["n_probe"] == 2000
    assert row["n_true_match"] == 200  # keys 0..49, 4 rows each
    # Bloom filters never drop a true match
    assert row["n_pass_bloom"] >= row["n_true_match"]
    assert row["n_false_pos"] == row["n_pass_bloom"] - row["n_true_match"]


def test_binary_hamming_pack_and_ranking(spark):
    """Known sign patterns: query [+…+]; a = identical signs (ham 0),
    b = one sign flipped (ham 1), c = all flipped (ham 64)."""
    from vector_graph_native_database__spark.operators.ann import (
        binary_hamming_topk,
    )

    def vec(signs):
        return [1.0 * s for s in signs]

    plus = [1] * 64
    one_flip = [1] * 63 + [-1]
    minus = [-1] * 64
    rows = [
        ("q", vec(plus), 64),
        ("a", vec(plus), 64),
        ("b", vec(one_flip), 64),
        ("c", vec(minus), 64),
    ]
    emb = spark.createDataFrame(
        rows, "node_id string, vector array<double>, dim int"
    )
    got = {
        r["id"]: r
        for r in binary_hamming_topk(emb, ["q"], k=3, dim=64).collect()
    }
    assert got["a"]["hamming"] == 0 and got["a"]["rnk"] == 1
    assert got["b"]["hamming"] == 1 and got["b"]["rnk"] == 2
    assert got["c"]["hamming"] == 64 and got["c"]["rnk"] == 3


def test_winnowing_pairs_find_shared_passage(spark):
    from vector_graph_native_database__spark.operators.text_analysis import (
        winnowing_pairs,
    )

    passage = "the quick brown fox jumps over the lazy dog every day"
    df = spark.createDataFrame(
        [
            ("a", "start text here " + passage),
            ("b", passage + " plus some ending words too"),
            ("c", "entirely unrelated content about completely other things"),
        ],
        "id string, text string",
    )
    pairs = winnowing_pairs(df, min_shared=2).collect()
    keys = {(r["id_a"], r["id_b"]) for r in pairs}
    assert ("a", "b") in keys
    assert all("c" not in pair for pair in keys)
    (ab,) = [r for r in pairs if (r["id_a"], r["id_b"]) == ("a", "b")]
    assert 0 < ab["overlap"] <= 1.0


def test_cms_partial_counters_merge_to_full_sketch(spark):
    """CMS mergeability: counters(A) ⊕ counters(B) == counters(A∪B)
    element-wise, for a disjoint split — the monoid law the streaming
    maintenance relies on."""
    from vector_graph_native_database__spark.operators.sketch import (
        cms_partial_counters,
    )
    from pyspark.sql import functions as F

    rows = [(str(i), f"alpha beta tok{i % 7} gamma") for i in range(40)]
    df = spark.createDataFrame(rows, "id string, text string")
    a = df.filter(F.col("id").cast("int") % 2 == 0)
    b = df.filter(F.col("id").cast("int") % 2 == 1)
    full = {
        (r["d"], r["b"]): r["cnt"]
        for r in cms_partial_counters(df, "text", 4, 32).collect()
    }
    pa = cms_partial_counters(a, "text", 4, 32).collect()
    pb = cms_partial_counters(b, "text", 4, 32).collect()
    merged: dict = {}
    for r in list(pa) + list(pb):
        merged[(r["d"], r["b"])] = merged.get((r["d"], r["b"]), 0) + r["cnt"]
    assert merged == full


def test_hll_registers_max_merge_law(spark):
    """HLL mergeability: registers(A) max-merged with registers(B)
    equal registers(A∪B) for a disjoint split."""
    from vector_graph_native_database__spark.operators.sketch import (
        hll_registers,
    )
    from pyspark.sql import functions as F

    rows = [("g1" if i % 3 else "g2", f"u{i % 40}") for i in range(200)]
    df = spark.createDataFrame(rows, "g string, v string")
    a = df.filter(F.length("v") % 2 == 0)
    b = df.filter(F.length("v") % 2 == 1)
    full = {
        (r["grp"], r["reg"]): r["mrho"]
        for r in hll_registers(df, "g", "v").collect()
    }
    merged: dict = {}
    for r in (
        hll_registers(a, "g", "v").collect()
        + hll_registers(b, "g", "v").collect()
    ):
        k = (r["grp"], r["reg"])
        merged[k] = max(merged.get(k, 0), r["mrho"])
    assert merged == full


def test_binary_rerank_recall_vs_brute(spark):
    """Two-stage binary+rerank recall@10 vs exact brute cosine: with
    50 candidates over the sf0.001 embeddings the sign-LSH candidate
    set must recover most of the true top-10, and every returned
    score must MATCH brute exactly (stage 2 is exact on candidates)."""
    from vector_graph_native_database__spark.operators.ann import (
        binary_rerank_topk,
        brute_topk,
    )
    from vector_graph_native_database__spark.sources import embeddings_df

    emb = embeddings_df(spark, "/root/testdata/sf0.001")
    qids = ["0", "10", "20"]
    brute = brute_topk(emb, qids, k=10, round_scores=6).collect()
    rr = binary_rerank_topk(
        emb, qids, k=10, n_candidates=50, round_scores=6
    ).collect()
    b = {(r["qid"], r["id"]): r["cos"] for r in brute}
    g = {(r["qid"], r["id"]): r["cos"] for r in rr}
    hits = set(b) & set(g)
    recall = len(hits) / len(b)
    assert recall >= 0.5, f"recall@10 {recall}"
    for key in hits:  # exact re-rank: identical scores on overlap
        assert abs(b[key] - g[key]) < 1e-9


def test_kmv_state_min_merge_law(spark):
    """KMV mergeability: state(A) ∪ state(B) keep-k == state(A∪B)
    for a disjoint split."""
    from vector_graph_native_database__spark.operators.sketch import (
        kmv_merge_states,
        kmv_state,
    )
    from pyspark.sql import functions as F

    rows = [("g", f"user-{i % 90}") for i in range(300)]
    df = spark.createDataFrame(rows, "g string, v string")
    a = df.filter(F.length("v") % 2 == 0)
    b = df.filter(F.length("v") % 2 == 1)
    k = 16
    full = sorted(
        r["u"] for r in kmv_state(df, "g", "v", k=k).collect()
    )
    merged = sorted(
        r["u"]
        for r in kmv_merge_states(
            kmv_state(a, "g", "v", k=k),
            kmv_state(b, "g", "v", k=k),
            "g",
            k=k,
        ).collect()
    )
    assert merged == full and len(full) == k


def test_gapfill_carries_last_value_across_gaps(spark):
    from vector_graph_native_database__spark.registry.eventsq import (
        q_events_gapfill,
    )
    import vector_graph_native_database__spark.sources.loaders as L

    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 7, "click", 2.0, "{}"),
            (2, "2024-01-01 11:00:00", 7, "click", 3.0, "{}"),
            (3, "2024-01-04 09:00:00", 7, "click", 10.0, "{}"),
        ],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    import unittest.mock as mock

    with mock.patch.object(
        L, "load_table", side_effect=lambda s, d, t: ev
    ):
        from vector_graph_native_database__spark.registry import eventsq

        with mock.patch.object(
            eventsq, "_events", side_effect=lambda s, d: ev
        ):
            rows = {
                (r["day"], r["is_gap"]): r["sum_value"]
                for r in q_events_gapfill(spark, "unused").collect()
            }
    # 4 spine days; the two gap days repeat day-1's sum (5.0)
    assert rows[("2024-01-01", 0)] == 5.0
    assert rows[("2024-01-02", 1)] == 5.0
    assert rows[("2024-01-03", 1)] == 5.0
    assert rows[("2024-01-04", 0)] == 10.0


def test_ewma_first_row_is_value_and_weights_decay(spark):
    from vector_graph_native_database__spark.registry import eventsq

    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 7, "click", 4.0, "{}"),
            (2, "2024-01-01 11:00:00", 7, "click", 8.0, "{}"),
        ],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    import unittest.mock as mock

    with mock.patch.object(eventsq, "_events", side_effect=lambda s, d: ev):
        got = {
            r["event_id"]: r["ewma"]
            for r in eventsq.q_events_ewma(spark, "unused").collect()
        }
    assert got[1] == 4.0  # single-element frame → the value itself
    # frame [4, 8], p=0.7: (4*0.7 + 8) / (0.7 + 1)
    assert abs(got[2] - (4 * 0.7 + 8) / 1.7) < 1e-6


def test_changelog_apply_latest_seq_wins_and_deletes(spark):
    from vector_graph_native_database__spark.operators.cdc import (
        changelog_apply,
    )

    base = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("c", 3.0)], "k string, v double"
    )
    log = spark.createDataFrame(
        [
            ("a", 10.0, 1, "U"),
            ("a", 20.0, 2, "U"),   # higher seq wins
            ("b", 0.0, 1, "D"),    # delete
            ("d", 4.0, 1, "I"),    # insert
            ("c", 9.0, 2, "U"),
            ("c", 0.0, 3, "D"),    # delete AFTER update → gone
        ],
        "k string, v double, seq long, op string",
    )
    got = {
        r["k"]: r["v"]
        for r in changelog_apply(base, log, ["k"]).collect()
    }
    assert got == {"a": 20.0, "d": 4.0}


def test_zipf_fit_exact_on_synthetic_power_law(spark):
    from vector_graph_native_database__spark.operators.text_analysis import (
        zipf_fit,
    )

    # freq(rank) = 64 / rank  → ln y = ln 64 − 1·ln x exactly
    docs = []
    words = ["w%d" % i for i in range(1, 9)]
    text = " ".join(
        " ".join([w] * (64 // r)) for r, w in enumerate(words, start=1)
    )
    df = spark.createDataFrame([("d1", text)], "id string, text string")
    row = zipf_fit(df, topn=8).collect()[0]
    assert row["n_terms"] == 8
    assert abs(row["slope"] + 1.0) < 0.05  # 64//r truncation wiggle


def test_walk_corpus_deterministic_and_deadend_stays(spark):
    import hashlib

    from vector_graph_native_database__spark.registry import graphq

    # a -> {b, c}; b,c are dead ends. The step-0 choice from a must be
    # the md5-argmin of ('a#0#b','a#0#c'); dead ends stay put for the
    # remaining steps, so every walk has length <= 1.
    ev = _edges(spark, [("a", "b"), ("a", "c")])
    import unittest.mock as mock

    with mock.patch.object(
        graphq, "model", side_effect=lambda s, d: (None, None, ev)
    ):
        rows = {
            r["start"]: (r["walk"], r["walk_len"])
            for r in graphq.q_graph_walk_corpus(spark, "unused").collect()
        }
    pick = min(
        ["b", "c"], key=lambda d: hashlib.md5(f"a#0#{d}".encode()).hexdigest()
    )
    assert rows["a"] == (f"a>{pick}", 1)
    assert rows["b"] == ("b", 0) and rows["c"] == ("c", 0)


def test_ivm_delta_drops_emptied_groups_and_adds_new(spark):
    from vector_graph_native_database__spark.operators.cdc import (
        ivm_aggregate_delta,
    )

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 5.0)],
        "k long, g string, v double",
    )
    # delete BOTH 'a' rows (group empties out) and insert a new group
    log = spark.createDataFrame(
        [
            (1, "a", 10.0, "D"),
            (2, "a", 20.0, "D"),
            (9, "c", 7.0, "I"),
            (3, "b", 8.0, "U"),
        ],
        "k long, g string, v double, op string",
    )
    got = {
        r["g"]: (r["n"], float(r["tv"]))
        for r in ivm_aggregate_delta(base, log, ["k"], "g", "v").collect()
    }
    assert got == {"b": (1, 8.0), "c": (1, 7.0)}  # 'a' gone, 'c' new

"""Graph analytics on toy graphs with hand-computable answers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_graph_native_database__spark.operators.analytics import (
    connected_components,
    degrees,
    jaccard_link_prediction,
    label_propagation,
    pagerank,
    sssp_k,
    triangle_count,
)


def edges_df(spark, rows):
    return spark.createDataFrame(
        [(f"e{i}", s, d, t, w) for i, (s, d, t, w) in enumerate(rows)],
        "id string, src string, dst string, type string, weight double",
    )


def verts_df(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id string")


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(a, b, "t", 1.0) for a, b in pairs],
        "src string, dst string, type string, weight double",
    )


def test_degrees(spark):
    e = edges_df(
        spark,
        [("a", "b", "t", 1.0), ("a", "c", "t", 1.0), ("b", "c", "t", 1.0)],
    )
    got = {r["id"]: (r["out_degree"], r["in_degree"], r["degree"])
           for r in degrees(e).collect()}
    assert got == {"a": (2, 0, 2), "b": (1, 1, 2), "c": (0, 2, 2)}


def test_pagerank_sums_to_one_and_ranks_sink_highest(spark):
    # a→c, b→c: c collects rank; c is dangling (mass redistributed)
    e = edges_df(spark, [("a", "c", "t", 1.0), ("b", "c", "t", 1.0)])
    v = verts_df(spark, ["a", "b", "c"])
    ranks = {r["id"]: r["rank"] for r in pagerank(v, e, iterations=10).collect()}
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-9)
    assert ranks["c"] > ranks["a"] == pytest.approx(ranks["b"], abs=1e-12)


def test_pagerank_zero_and_null_out_weight_treated_as_dangling(spark):
    # a's only out-edge has weight 0 and b's has NULL weight: neither
    # can distribute mass along edges, so both must behave as dangling
    # (mass redistributed) instead of producing NULL shares that
    # silently drop rank mass. Ranks must still sum to 1.
    e = edges_df(
        spark, [("a", "c", "t", 0.0), ("b", "c", "t", 1.0), ("c", "a", "t", 2.0)]
    ).withColumn(
        "weight",
        F.when(F.col("src") == "b", F.lit(None)).otherwise(F.col("weight")),
    )
    v = verts_df(spark, ["a", "b", "c"])
    ranks = {r["id"]: r["rank"] for r in pagerank(v, e, iterations=8).collect()}
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-9)
    assert all(r is not None and r > 0 for r in ranks.values())


def test_pagerank_weighted_split(spark):
    # a splits 3:1 between b and c; after 1 iteration from uniform:
    # rank(b) = (1-d)/3 + d*( (1/3)*0.75 + dang/3 ) with dang = ranks of b,c = 2/3
    e = edges_df(spark, [("a", "b", "t", 3.0), ("a", "c", "t", 1.0)])
    v = verts_df(spark, ["a", "b", "c"])
    d = 0.85
    ranks = {r["id"]: r["rank"] for r in
             pagerank(v, e, iterations=1, damping=d).collect()}
    dang = 2.0 / 3.0
    want_b = (1 - d) / 3 + d * ((1 / 3) * 0.75 + dang / 3)
    want_c = (1 - d) / 3 + d * ((1 / 3) * 0.25 + dang / 3)
    assert ranks["b"] == pytest.approx(want_b, abs=1e-12)
    assert ranks["c"] == pytest.approx(want_c, abs=1e-12)


def test_connected_components_two_islands_and_singleton(spark):
    e = edges_df(
        spark,
        [("b", "a", "t", 1.0), ("b", "c", "t", 1.0),  # {a,b,c}
         ("x", "y", "t", 1.0)],                       # {x,y}
    )
    v = verts_df(spark, ["a", "b", "c", "x", "y", "zz"])
    got = {r["id"]: r["component"] for r in connected_components(v, e).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "zz": "zz"}


def test_connected_components_long_path_converges_fast(spark):
    # 40-node path: pointer jumping must converge well before 50 rounds
    n = 40
    ids = [f"{i:03d}" for i in range(n)]
    e = edges_df(spark, [(ids[i], ids[i + 1], "t", 1.0) for i in range(n - 1)])
    got = connected_components(verts_df(spark, ids), e).collect()
    assert {r["component"] for r in got} == {"000"}
    assert len(got) == n


def test_triangle_count_k4(spark):
    # K4 has exactly 4 triangles; duplicate + self-loop edges ignored
    ids = ["a", "b", "c", "d"]
    rows = [(u, v, "t", 1.0) for u in ids for v in ids if u < v]
    rows += [("a", "b", "t", 1.0), ("c", "c", "t", 1.0)]
    e = edges_df(spark, rows)
    assert triangle_count(e).collect()[0]["n_triangles"] == 4


def test_sssp_prefers_lighter_longer_path(spark):
    # a→z direct weight 10; a→m→z total 3: min_weight picks 3
    e = edges_df(
        spark,
        [("a", "z", "t", 10.0), ("a", "m", "t", 1.0), ("m", "z", "t", 2.0)],
    )
    got = {r["id"]: r["min_weight"] for r in sssp_k(e, "a", 3).collect()}
    assert got == {"a": 0.0, "m": 1.0, "z": 3.0}


def test_sssp_hop_bound(spark):
    # with max_hops=1 the two-hop improvement is out of reach
    e = edges_df(
        spark,
        [("a", "z", "t", 10.0), ("a", "m", "t", 1.0), ("m", "z", "t", 2.0)],
    )
    got = {r["id"]: r["min_weight"] for r in sssp_k(e, "a", 1).collect()}
    assert got == {"a": 0.0, "m": 1.0, "z": 10.0}


def test_kmv_exact_below_k(spark):
    from vector_graph_native_database__spark.operators.sketch import kmv_distinct

    df = spark.createDataFrame(
        [("g1", f"u{i}") for i in range(10)] + [("g1", "u0")] * 5,
        "g string, v string",
    )
    (row,) = kmv_distinct(df, "g", "v", k=64).collect()
    # fewer than k distinct values ⇒ the sketch saw everything: exact
    assert row["est_distinct"] == 10.0 and row["exact_distinct"] == 10


def test_kmv_estimate_within_error_bound(spark):
    from vector_graph_native_database__spark.operators.sketch import kmv_distinct

    n = 2000
    df = spark.createDataFrame(
        [("g1", f"user-{i}") for i in range(n)], "g string, v string"
    )
    (row,) = kmv_distinct(df, "g", "v", k=256).collect()
    # KMV standard error ≈ 1/sqrt(k-2) ≈ 6.3%; allow 4 sigma
    assert abs(row["est_distinct"] - n) / n < 0.25
    assert row["exact_distinct"] == n
    # determinism: rerun gives the identical estimate
    (again,) = kmv_distinct(df, "g", "v", k=256).collect()
    assert again["est_distinct"] == row["est_distinct"]


def test_native_hll_agrees_with_kmv_target(spark):
    # the engine-native sketch (no cross-engine oracle possible) stays
    # available for 100 TB one-pass counts; sanity-pin its error here
    df = spark.createDataFrame(
        [(f"user-{i % 500}",) for i in range(5000)], "v string"
    )
    got = df.agg(F.approx_count_distinct("v").alias("d")).collect()[0]["d"]
    assert abs(got - 500) / 500 < 0.1


def test_kcore_peel_removes_low_degree_chain_ends(spark):
    from vector_graph_native_database__spark.operators.analytics import (
        kcore_peel,
    )

    # path a-b-c-d plus triangle x-y-z: with k=2 the path peels away
    # end-first (2 rounds kill it entirely); the triangle is a true
    # 2-core and survives any number of rounds at degree 2.
    rows = [
        ("e1", "a", "b", "t", 1.0),
        ("e2", "b", "c", "t", 1.0),
        ("e3", "c", "d", "t", 1.0),
        ("e4", "x", "y", "t", 1.0),
        ("e5", "y", "z", "t", 1.0),
        ("e6", "z", "x", "t", 1.0),
    ]
    edges = spark.createDataFrame(
        rows, "id string, src string, dst string, type string, weight double"
    )
    got = {r["id"]: r["degree"] for r in kcore_peel(edges, k=2, rounds=4).collect()}
    assert got == {"x": 2, "y": 2, "z": 2}


def test_hll_union_estimates_and_merge_dominance(spark):
    from vector_graph_native_database__spark.operators.sketch import (
        hll_distinct_union,
    )

    # two groups, 300 overlapping users: |A|=400, |B|=300, |A∪B|=500
    rows = [("a", f"user-{i}") for i in range(400)] + [
        ("b", f"user-{i}") for i in range(200, 500)
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    got = {r["g"]: r for r in hll_distinct_union(df, "g", "v", m=64).collect()}
    assert set(got) == {"a", "b", "ALL"}
    assert got["ALL"]["exact_distinct"] == 500
    # HLL standard error ≈ 1.04/√64 = 13%; allow 4σ
    for g in ("a", "b", "ALL"):
        exact = got[g]["exact_distinct"]
        assert abs(got[g]["est_distinct"] - exact) <= 0.52 * exact, got[g]
    # merged-register estimate must cover the union, i.e. be at least
    # the larger per-group estimate (register max dominates)
    assert got["ALL"]["est_distinct"] >= max(
        got["a"]["est_distinct"], got["b"]["est_distinct"]
    )


def test_sampled_percentiles_sane(spark):
    from vector_graph_native_database__spark.operators.sketch import (
        sampled_percentiles,
    )

    rows = [("g", f"k{i}", float(i)) for i in range(2000)]
    df = spark.createDataFrame(rows, "g string, key string, v double")
    (row,) = sampled_percentiles(
        df, "g", "v", sample_key="key", rate=0.25
    ).collect()
    assert 300 < row["n_sample"] < 700  # rate 0.25 of 2000, ±σ slack
    assert row["p50_exact"] == 999.5
    # the sample median estimates the true median within a loose band
    assert abs(row["p50_est"] - row["p50_exact"]) < 200
    assert row["p90_est"] > row["p50_est"]


def test_hits_known_graph(spark):
    """Star: 0→1, 0→2, 3→1 — node 0 is the dominant hub, node 1 the
    dominant authority; scores within each half L1-normalize to 1."""
    from vector_graph_native_database__spark.operators.analytics import hits

    edges = spark.createDataFrame(
        [("0", "1", 1.0), ("0", "2", 1.0), ("3", "1", 1.0)],
        "src string, dst string, weight double",
    )
    verts = spark.createDataFrame([("0",), ("1",), ("2",), ("3",)], "id string")
    got = {r["id"]: r for r in hits(verts, edges, iterations=3).collect()}
    assert abs(sum(r["hub"] for r in got.values()) - 1.0) < 1e-9
    assert abs(sum(r["authority"] for r in got.values()) - 1.0) < 1e-9
    assert got["0"]["hub"] > got["3"]["hub"] > 0
    assert got["1"]["authority"] > got["2"]["authority"] > 0
    assert got["1"]["hub"] == 0.0 and got["0"]["authority"] == 0.0


def test_clustering_coefficient_triangle_plus_tail(spark):
    """Triangle a-b-c plus tail c-d: a,b have coeff 1, c has 1/3
    (deg 3, one closed pair of three), d has deg 1 → coeff 0."""
    from vector_graph_native_database__spark.operators.analytics import (
        clustering_coefficient,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
        "src string, dst string",
    )
    got = {r["id"]: r for r in clustering_coefficient(edges).collect()}
    assert got["a"]["coeff"] == 1.0 and got["b"]["coeff"] == 1.0
    assert abs(got["c"]["coeff"] - 0.333333) < 1e-6
    assert got["d"]["coeff"] == 0.0 and got["d"]["triangles"] == 0


def test_adamic_adar_prefers_rare_hub(spark):
    """(a,b) share low-degree hub z (deg 2); (c,d) share high-degree
    hub h (deg 4): AA must rank (a,b) above (c,d), Jaccard-style
    common counts are 1 for both."""
    from vector_graph_native_database__spark.operators.analytics import (
        adamic_adar_link_prediction,
    )

    edges = spark.createDataFrame(
        [
            ("a", "z"), ("b", "z"),
            ("c", "h"), ("d", "h"), ("x", "h"), ("y", "h"),
        ],
        "src string, dst string",
    )
    rows = adamic_adar_link_prediction(edges, top_k=100).collect()
    scores = {(r["src"], r["dst"]): r["aa_score"] for r in rows}
    assert scores[("a", "b")] > scores[("c", "d")]
    import math

    assert abs(scores[("a", "b")] - 1.0 / math.log(2)) < 1e-5
    assert abs(scores[("c", "d")] - 1.0 / math.log(4)) < 1e-5


def test_multi_source_bfs_and_closeness(spark):
    """Path a→b→c→d: from a, dists are 1,2,3; closeness(a)=3/6.
    From c: reaches d only → closeness 1/1."""
    from vector_graph_native_database__spark.operators.analytics import (
        closeness_sampled,
        multi_source_bfs,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    srcs = spark.createDataFrame([("a",), ("c",), ("d",)], "id string")
    d = {
        (r["root"], r["id"]): r["dist"]
        for r in multi_source_bfs(edges, srcs, 5).collect()
    }
    assert d[("a", "d")] == 3 and d[("a", "a")] == 0 and ("c", "a") not in d
    got = {r["id"]: r for r in closeness_sampled(edges, srcs, 5).collect()}
    assert got["a"]["n_reached"] == 3 and abs(got["a"]["closeness"] - 0.5) < 1e-6
    assert got["c"]["closeness"] == 1.0
    assert got["d"]["n_reached"] == 0 and got["d"]["closeness"] == 0.0


def test_multi_source_bfs_hop_bound(spark):
    from vector_graph_native_database__spark.operators.analytics import (
        multi_source_bfs,
    )

    edges = spark.createDataFrame(
        [(str(i), str(i + 1)) for i in range(10)], "src string, dst string"
    )
    srcs = spark.createDataFrame([("0",)], "id string")
    rows = multi_source_bfs(edges, srcs, 3).collect()
    assert max(r["dist"] for r in rows) == 3 and len(rows) == 4


def test_betweenness_path_and_diamond(spark):
    """Path a→b→c→d from root a: δ(b)=2, δ(c)=1, δ(d)=0.
    Diamond a→{b,c}→d: σ(d)=2 so b,c each get 0.5."""
    from vector_graph_native_database__spark.operators.analytics import (
        betweenness_sampled,
    )

    path = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    srcs = spark.createDataFrame([("a",)], "id string")
    got = {
        r["id"]: r["betweenness"]
        for r in betweenness_sampled(path, srcs, 3).collect()
    }
    assert got == {"a": 0.0, "b": 2.0, "c": 1.0, "d": 0.0}

    diamond = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")],
        "src string, dst string",
    )
    got = {
        r["id"]: r["betweenness"]
        for r in betweenness_sampled(diamond, srcs, 3).collect()
    }
    assert got == {"a": 0.0, "b": 0.5, "c": 0.5, "d": 0.0}


def test_betweenness_hop_truncation(spark):
    from vector_graph_native_database__spark.operators.analytics import (
        betweenness_sampled,
    )

    path = spark.createDataFrame(
        [(str(i), str(i + 1)) for i in range(6)], "src string, dst string"
    )
    srcs = spark.createDataFrame([("0",)], "id string")
    got = {
        r["id"]: r["betweenness"]
        for r in betweenness_sampled(path, srcs, 2).collect()
    }
    # only paths of length ≤2 count: node 1 mediates one 2-hop path
    assert got["1"] == 1.0 and got["2"] == 0.0


def test_personalized_pagerank_mass_and_locality(spark):
    # chain s -> a -> b plus far pair (c -> d) unreachable from s
    verts = spark.createDataFrame(
        [(v,) for v in ["s", "a", "b", "c", "d"]], "id string"
    )
    ranks = {
        r["id"]: r["rank"]
        for r in pagerank(
            verts, _edges(spark, [("s", "a"), ("a", "b"), ("c", "d")]),
            iterations=40, source="s",
        ).collect()
    }
    assert abs(sum(ranks.values()) - 1.0) < 1e-9  # mass conserved
    # fixpoint: r_s = 0.15 + 0.7225*0.85*r_s -> 0.3886, then *0.85/hop
    assert abs(ranks["s"] - 0.3886) < 2e-3
    assert ranks["s"] > ranks["a"] > ranks["b"]  # decays along the walk
    assert ranks["c"] == 0.0 and ranks["d"] == 0.0  # unreachable gets none


def test_scc_bounded_cycles_within_and_beyond_bound(spark):
    from vector_graph_native_database__spark.operators.analytics import (
        scc_bounded,
    )

    # 3-cycle a->b->c->a (diameter 2 <= 3), 2-cycle x<->y, a directed
    # path p->q (no cycle), a 5-cycle (length 5 <= 2*3: witness pairs
    # exist, CC merges it), and a 7-cycle (length 7 > 2*3: no witness
    # pair at all — the bounded contract leaves every node singleton
    # rather than mislabeling).
    pairs = [
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("x", "y"), ("y", "x"),
        ("p", "q"),
        ("v1", "v2"), ("v2", "v3"), ("v3", "v4"), ("v4", "v5"),
        ("v5", "v1"),
        ("w1", "w2"), ("w2", "w3"), ("w3", "w4"), ("w4", "w5"),
        ("w5", "w6"), ("w6", "w7"), ("w7", "w1"),
    ]
    ids = sorted({n for p in pairs for n in p})
    verts = spark.createDataFrame([(i,) for i in ids], "id string")
    got = {
        r["id"]: r["scc_id"]
        for r in scc_bounded(verts, _edges(spark, pairs), max_hops=3).collect()
    }
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["x"] == got["y"] == "x"
    assert got["p"] == "p" and got["q"] == "q"
    assert all(got[f"v{i}"] == "v1" for i in range(1, 6))
    assert all(got[f"w{i}"] == f"w{i}" for i in range(1, 8))
    # raising the bound past the 7-cycle's half-length merges it too
    got4 = {
        r["id"]: r["scc_id"]
        for r in scc_bounded(verts, _edges(spark, pairs), max_hops=4).collect()
    }
    assert all(got4[f"w{i}"] == "w1" for i in range(1, 8))


def test_walk_counts_path_graph(spark):
    from vector_graph_native_database__spark.operators.analytics import (
        walk_counts,
    )

    # path 1->2->3->4->5: walks of length h = max(0, 5-h) starts
    nodes = spark.createDataFrame([(str(i),) for i in range(1, 6)], "id string")
    edges = spark.createDataFrame(
        [(str(i), str(i + 1)) for i in range(1, 5)], "src string, dst string"
    )
    got = {
        r.hop: (r.n_active, r.total_walks)
        for r in walk_counts(nodes, edges, hops=4).collect()
    }
    assert got == {1: (4, 4), 2: (3, 3), 3: (2, 2), 4: (1, 1)}


def test_katz_bounded_exact_on_path(spark):
    from vector_graph_native_database__spark.operators.analytics import (
        katz_bounded,
    )

    # path 1->2->3->4->5, reversed walks end AT each node:
    # node 5 receives in-walks of length 1..4 -> katz = .1+.01+.001+.0001
    nodes = spark.createDataFrame(
        [(str(i),) for i in range(1, 6)], "id string"
    )
    edges = spark.createDataFrame(
        [(str(i), str(i + 1)) for i in range(1, 5)],
        "src string, dst string",
    )
    got = {r.id: r.katz for r in katz_bounded(nodes, edges, hops=4).collect()}
    assert got["1"] == 0.0
    assert got["2"] == 0.1
    assert got["3"] == 0.11
    assert got["4"] == 0.111
    assert got["5"] == 0.1111


def test_label_propagation_two_cliques(spark):
    # two triangles joined by nothing: each converges to its min id
    pairs = [("a", "b"), ("b", "c"), ("a", "c"), ("x", "y"), ("y", "z"), ("x", "z")]
    verts = spark.createDataFrame(
        [(v,) for v in "abcxyz"], "id string"
    )
    got = {
        r["id"]: r["label"]
        for r in label_propagation(verts, _edges(spark, pairs), rounds=4).collect()
    }
    assert {got[v] for v in "abc"} == {"a"}
    assert {got[v] for v in "xyz"} == {"x"}


def test_label_propagation_isolated_keeps_own_label(spark):
    verts = spark.createDataFrame([("a",), ("b",), ("lone",)], "id string")
    got = {
        r["id"]: r["label"]
        for r in label_propagation(
            verts, _edges(spark, [("a", "b")]), rounds=1
        ).collect()
    }
    assert got["lone"] == "lone"
    # synchronous LPA: after one round each endpoint holds the
    # other's start label (the documented deterministic variant —
    # a lone edge oscillates, cliques converge)
    assert got["a"] == "b" and got["b"] == "a"


def test_jaccard_linkpred_excludes_existing_edges(spark):
    # path a-b-c: only non-adjacent pair sharing a neighbor is (a,c)
    got = jaccard_link_prediction(
        _edges(spark, [("a", "b"), ("b", "c")]), top_k=10
    ).collect()
    assert len(got) == 1
    row = got[0]
    assert (row["src"], row["dst"]) == ("a", "c")
    # N(a)={b}, N(c)={b}: jaccard 1/1
    assert row["common"] == 1 and row["jaccard"] == 1.0


def test_jaccard_linkpred_score_value(spark):
    # star: hub h connects a,b,c; pairs (a,b),(a,c),(b,c) each share
    # exactly {h}; deg=1 each -> jaccard = 1/(1+1-1) = 1
    got = jaccard_link_prediction(
        _edges(spark, [("h", "a"), ("h", "b"), ("h", "c")]), top_k=10
    ).collect()
    assert {(r["src"], r["dst"]) for r in got} == {
        ("a", "b"),
        ("a", "c"),
        ("b", "c"),
    }
    assert all(r["jaccard"] == 1.0 for r in got)


def test_modularity_two_cliques_with_bridge(spark):
    from vector_graph_native_database__spark.operators.analytics import (
        modularity,
    )

    pairs = [
        ("a", "b"), ("b", "c"), ("a", "c"),
        ("x", "y"), ("y", "z"), ("x", "z"),
        ("c", "x"),  # bridge
    ]
    labels = spark.createDataFrame(
        [(v, "A") for v in "abc"] + [(v, "X") for v in "xyz"],
        "id string, label string",
    )
    (row,) = modularity(_edges(spark, pairs), labels).collect()
    assert row["n_communities"] == 2
    assert row["n_intra_edges"] == 6
    # Q = 2 * (3/7 - (7/14)^2) = 0.357142857...
    assert abs(row["modularity"] - 0.357143) < 1e-6


def test_ktruss_triangle_survives_pendants_drop(spark):
    from vector_graph_native_database__spark.operators.analytics import (
        ktruss_peel,
    )

    # one triangle (a,b,c) plus a pendant path c-d-e
    pairs = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")]
    edges = _edges(spark, pairs)
    got = {
        (r["a"], r["b"]): r["support"]
        for r in ktruss_peel(edges, k=3, rounds=2).collect()
    }
    assert got == {("a", "b"): 1, ("b", "c"): 1, ("a", "c"): 1}
    # k=4 demands every edge sit in ≥2 triangles of the truss: a
    # single triangle cannot satisfy it — peel cascades to empty
    assert ktruss_peel(edges, k=4, rounds=2).count() == 0

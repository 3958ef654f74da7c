"""End-to-end facade tests: the reference's 13-case suite driven
through VectorGraphEngine (TC-API/VEC/GRAPH/HYB over live engine
state instead of live HTTP)."""

from __future__ import annotations

import math

import pytest

from vector_graph_native_database__spark.api import VectorGraphEngine


@pytest.fixture()
def engine(spark):
    return VectorGraphEngine(spark)


def cosine(a, b):
    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return d / (na * nb) if na and nb else 0.0


def test_tc_api_01_create_roundtrip(engine):
    nid = engine.create_node(
        "machine learning and distributed systems", {"type": "note"}
    )
    got = engine.get_node(nid)
    assert got["text"] == "machine learning and distributed systems"
    assert got["metadata"] == {"type": "note"}
    assert got["has_embedding"] is True


def test_tc_api_02_edge_appears_outgoing(engine):
    a = engine.create_node("node a")
    b = engine.create_node("node b")
    eid = engine.create_edge(a, b, "references", weight=0.8)
    out = engine.get_node(a)["outgoing"]
    assert out == [
        {"id": eid, "target_id": b, "type": "references", "weight": 0.8}
    ]
    assert engine.get_node(b)["incoming"][0]["source_id"] == a


def test_tc_api_03_regen_embedding_changes_vector(engine):
    nid = engine.create_node("the original text about databases")
    v_old = engine._encode("the original text about databases")
    engine.update_node(
        nid,
        text="completely different content on astrophysics",
        regen_embedding=True,
    )
    got = engine.get_node(nid)
    assert got["text"] == "completely different content on astrophysics"
    v_new = engine._encode("completely different content on astrophysics")
    assert cosine(v_old, v_new) < 0.99


def test_tc_api_04_cascade_delete(engine):
    x = engine.create_node("doomed")
    a = engine.create_node("survivor")
    e1 = engine.create_edge(x, a, "t")
    e2 = engine.create_edge(a, x, "t")
    engine.delete_node(x)
    with pytest.raises(KeyError):
        engine.get_node(x)
    for eid in (e1, e2):
        with pytest.raises(KeyError):
            engine.get_edge(eid)
    assert engine.get_node(a)["outgoing"] == []


def test_tc_api_05_edge_crud_and_traversal_weight(engine):
    a = engine.create_node("a")
    b = engine.create_node("b")
    eid = engine.create_edge(a, b, "linked", weight=1.0)
    engine.update_edge(eid, weight=7.5)
    assert engine.get_edge(eid)["weight"] == 7.5
    res = engine.graph_search(a, depth=1)
    assert res["nodes"][0]["path_weight"] == 7.5
    engine.delete_edge(eid)
    with pytest.raises(KeyError):
        engine.get_edge(eid)


def test_edge_creation_validates_endpoints(engine):
    a = engine.create_node("exists")
    with pytest.raises(KeyError):
        engine.create_edge(a, "missing-node", "t")


def test_tc_vec_semantics(engine):
    a = engine.create_node("apple banana cherry fruit salad")
    engine.create_node("apple banana bread")
    engine.create_node("quantum chromodynamics lattice")
    hits = engine.vector_search("apple banana cherry", top_k=10)
    assert hits[0]["id"] == a
    assert hits[0]["vector_score"] >= 0.5
    # top_k > corpus returns all embedded nodes
    assert len(engine.vector_search("apple", top_k=99)) == 3


def test_tc_vec_03_metadata_filter(engine):
    engine.create_node("apple pie recipe", {"type": "note"})
    engine.create_node("apple pie recipe", {"type": "post"})
    hits = engine.vector_search(
        "apple pie", top_k=10, metadata_filter={"type": "note"}
    )
    assert {h["id"] for h in hits} == {
        n for n in (h["id"] for h in hits)
    }
    assert all(
        engine.get_node(h["id"])["metadata"]["type"] == "note" for h in hits
    )
    assert len(hits) == 1


def test_tc_graph_01_depth_limit(engine):
    ids = [engine.create_node(t) for t in "abcd"]
    for u, v in zip(ids, ids[1:]):
        engine.create_edge(u, v, "chain", weight=1.0)
    res = engine.graph_search(ids[0], depth=2)
    got = {n["id"]: n["distance"] for n in res["nodes"]}
    assert got == {ids[1]: 1, ids[2]: 2}


def test_tc_graph_03_cycle_terminates(engine):
    a = engine.create_node("a")
    b = engine.create_node("b")
    engine.create_edge(a, b, "t")
    engine.create_edge(b, a, "t")
    res = engine.graph_search(a, depth=3)
    assert [n["id"] for n in res["nodes"]] == [b]


def test_tc_hyb_01_weighted_fusion(engine):
    vsim = engine.create_node("solar panels renewable energy grid")
    gclose = engine.create_node("unrelated topic entirely different")
    neutral = engine.create_node("solar panels on rooftops")
    engine.create_edge(neutral, gclose, "rel", weight=2.0)
    hits = engine.hybrid_search(
        "solar panels renewable energy",
        vector_weight=0.7,
        graph_weight=0.3,
        graph_start_id=neutral,
        top_k=10,
    )
    by_id = {h["id"]: h for h in hits}
    for h in hits:
        assert math.isclose(
            h["final_score"],
            0.7 * h["vector_score"] + 0.3 * h["graph_score"],
            abs_tol=1e-6,
        )
    assert by_id[vsim]["final_score"] > by_id[gclose]["final_score"]


def test_tc_hyb_02_extremes(engine):
    vsim = engine.create_node("solar panels renewable energy grid")
    gclose = engine.create_node("unrelated topic entirely different")
    neutral = engine.create_node("solar panels on rooftops")
    engine.create_edge(neutral, gclose, "rel", weight=2.0)

    vec_only = engine.hybrid_search(
        "solar panels renewable energy", vector_weight=1.0, graph_weight=0.0
    )
    pure_vec = engine.vector_search("solar panels renewable energy", top_k=10)
    assert [h["id"] for h in vec_only] == [
        h["id"] for h in pure_vec if h["id"] in {x["id"] for x in vec_only}
    ]

    graph_only = engine.hybrid_search(
        "solar panels renewable energy",
        vector_weight=0.0,
        graph_weight=1.0,
        graph_start_id=neutral,
    )
    for h in graph_only:
        assert math.isclose(
            h["final_score"], h["graph_score"], abs_tol=1e-6
        )
    ids = {h["id"] for h in graph_only}
    assert gclose in ids and vsim not in ids  # unreached nodes drop out


def test_stats_and_health(engine):
    engine.create_node("x", auto_embed=False)
    engine.create_node("y")
    assert engine.health() == {"status": "ok"}
    s = engine.stats()
    assert s["total_nodes"] == 2
    assert s["nodes_with_embeddings"] == 1
    assert s["total_edges"] == 0


def test_manual_embeddings_stored_unnormalized_quirk(engine):
    """SURVEY §4.8.2: user-supplied vectors are stored AS GIVEN (the
    reference never normalizes them, app.py:763-764), so scoring is
    raw dot — a big manual vector outranks a unit one."""
    big = engine.create_node("x", embedding=[10.0, 0.0], auto_embed=False)
    unit = engine.create_node("y", embedding=[1.0, 0.0], auto_embed=False)
    q = engine.create_node("q", embedding=[1.0, 0.0], auto_embed=False)
    from vector_graph_native_database__spark.operators.vector_search import (
        vector_topk,
    )

    qvec = engine.spark.createDataFrame([([1.0, 0.0],)], "qvec array<double>")
    hits = vector_topk(engine.nodes, engine.embeddings, qvec, top_k=10)
    scores = {r["id"]: r["score"] for r in hits.collect()}
    assert scores[big] == 10.0 and scores[unit] == 1.0
    assert scores[big] > scores[q]


def test_empty_engine_operations(engine):
    """Every read/search path degrades to empty results — not errors —
    on a fresh engine (the reference's empty-corpus behavior)."""
    assert engine.vector_search("anything", top_k=5) == []
    assert engine.bm25_search("anything") == []
    assert engine.hybrid_search("anything") == []
    assert engine.stats() == {
        "total_nodes": 0,
        "nodes_with_embeddings": 0,
        "total_edges": 0,
    }
    with pytest.raises(KeyError):
        engine.get_node("nope")
    with pytest.raises(KeyError):
        engine.graph_search("nope")


def test_engine_seeded_from_source_frames_accepts_writes(spark, sf_dir):
    """The adapters' frames seed the facade as they are: ``nodes_df``
    also carries ``lang``/``source``/``n_chars``, which the facade
    projects away on entry so its upserts still line up."""
    from vector_graph_native_database__spark.sources import (
        edges_df,
        embeddings_df,
        nodes_df,
    )

    eng = VectorGraphEngine(
        spark,
        nodes=nodes_df(spark, sf_dir),
        embeddings=embeddings_df(spark, sf_dir),
        edges=edges_df(spark, sf_dir),
    )
    assert eng.nodes.columns == ["id", "text", "metadata"]
    before = eng.stats()
    nid = eng.create_node("seeded engine write", {"lang": "en"}, node_id="s-1")
    got = eng.get_node(nid)
    assert got["text"] == "seeded engine write"
    assert got["metadata"] == {"lang": "en"}
    assert got["has_embedding"] is True
    eng.create_edge(nid, "0", "cites", 2.0, edge_id="s-e")
    after = eng.stats()
    assert after["total_nodes"] == before["total_nodes"] + 1
    assert after["total_edges"] == before["total_edges"] + 1


def test_encode_runs_no_spark_job(engine, spark_jobs):
    # the row-local embedder folds into the one-row local relation, so
    # the facade embeds a request string on the driver
    from vector_graph_native_database__spark.functions.textfn import (
        embed_hash_df,
    )
    from vector_graph_native_database__spark.session import local_frame

    text = "Naïve  Σίσυφος\tİstanbul spark"
    vec, jobs = spark_jobs(lambda: engine._encode(text))
    assert jobs == 0
    want = embed_hash_df(
        local_frame(engine.spark, [("q", text)], "id string, text string")
    ).collect()[0]["vector"]
    assert vec == list(want)


def _probes_counted(monkeypatch, spark_jobs) -> list[int]:
    """Run every ``_node_exists`` probe in its own job group; → the
    per-probe job counts, so a route's own group counts the rest."""
    probe = VectorGraphEngine._node_exists
    counts: list[int] = []

    def counted(self, node_id):
        out, jobs = spark_jobs(lambda: probe(self, node_id))
        counts.append(jobs)
        return out

    monkeypatch.setattr(VectorGraphEngine, "_node_exists", counted)
    return counts


def test_write_routes_commit_without_spark_jobs(engine, spark_jobs, monkeypatch):
    # every write commits a narrow plan, so the lazy checkpoint runs
    # no query stage: a write pays only for its existence probes
    a = engine.create_node("alpha beta", {"k": "v"})
    b = engine.create_node("beta gamma")
    engine.bm25_search("beta")  # builds the maintained index
    _, jobs = spark_jobs(lambda: engine.create_node("gamma delta", node_id="c"))
    assert jobs == 0
    probes = _probes_counted(monkeypatch, spark_jobs)
    for route in (
        lambda: engine.create_edge(a, b, "t", 2.0),
        lambda: engine.update_node(
            a, text="alpha alpha", metadata={}, regen_embedding=True
        ),
        lambda: engine.delete_node(b),
    ):
        before = len(probes)
        _, jobs = spark_jobs(route)
        assert jobs == 0 and len(probes) > before
    assert engine.get_node(a)["metadata"] == {}
    assert engine.get_node(a)["outgoing"] == []


def _assert_bm25_matches_rebuild(engine, query, got):
    from vector_graph_native_database__spark.operators.bm25 import bm25_topk

    want = bm25_topk(engine.nodes, query, 10).collect()
    assert [(r["id"], round(r["score"], 6)) for r in got] == [
        (r["id"], round(r["score"], 6)) for r in want
    ]


def test_bm25_search_folds_writes_in_bounded_jobs(engine, spark_jobs):
    for i, text in enumerate(["red fox", "lazy dog", "red dog dog", "fox"]):
        engine.create_node(text, node_id=f"n{i}")
    engine.bm25_search("red")
    engine.create_node("red red hen", node_id="n9")
    engine.update_node("n1", text="quick red fox")
    engine.delete_node("n3")
    got, jobs = spark_jobs(lambda: engine.bm25_search("red fox dog", 10))
    assert jobs <= 13
    _assert_bm25_matches_rebuild(engine, "red fox dog", got)


def test_reassigned_nodes_rebuild_the_bm25_index(engine, spark):
    from vector_graph_native_database__spark.session import local_frame

    for i, text in enumerate(["old text about cats", "birds", "fish"]):
        engine.create_node(text, node_id="abc"[i])
    assert [r["id"] for r in engine.bm25_search("cats dogs")] == ["a"]
    engine.nodes = local_frame(
        spark,
        [("x", "dogs and more dogs", {}), ("y", "cats", {}),
         ("w", "birds", {}), ("v", "fish", {}), ("u", "owls", {}),
         ("t", "bats", {})],
        "id string, text string, metadata map<string,string>",
    )
    _assert_bm25_matches_rebuild(
        engine, "cats dogs", engine.bm25_search("cats dogs")
    )
    # reassigned again, then written through a route
    engine.nodes = engine.nodes.filter("id <> 'y'")
    engine.create_node("dogs", node_id="z")
    got = engine.bm25_search("cats dogs")
    _assert_bm25_matches_rebuild(engine, "cats dogs", got)
    assert {r["id"] for r in got} == {"x", "z"}


def test_commits_cap_partitions_at_default_parallelism(engine, spark):
    cap = spark.sparkContext.defaultParallelism
    ids = []
    for i in range(50):
        if i % 5 < 4:
            ids.append(
                engine.create_node(f"t {i}", node_id=f"p{i}", embedding=[1.0])
            )
        else:
            engine.create_edge(ids[-1], ids[-2], "t", edge_id=f"e{i}")
    for frame in (engine.nodes, engine.embeddings, engine.edges):
        assert frame.rdd.getNumPartitions() <= cap
    assert engine.stats() == {
        "total_nodes": len(ids),
        "nodes_with_embeddings": len(ids),
        "total_edges": 50 - len(ids),
    }

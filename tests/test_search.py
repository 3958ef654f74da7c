"""Vector / hybrid / BM25 semantics on the reference's micro-fixtures.

Re-expresses TC-VEC-01/02/03 and TC-HYB-01/02
(``/root/reference/test_final.py:388-496,632-796``) as DataFrame
tests, plus an independent pure-Python Okapi BM25 cross-check (the
public rank_bm25 formula with k1=1.5, b=0.75, epsilon=0.25).
"""

from __future__ import annotations

import math
import os
import sys

import pytest
from pyspark.sql import functions as F

from vector_graph_native_database__spark.functions.textfn import embed_hash_df
from vector_graph_native_database__spark.operators.bm25 import bm25_scores
from vector_graph_native_database__spark.operators.hybrid import hybrid_search
from vector_graph_native_database__spark.operators.vector_search import (
    vector_topk,
)

VEC_TRIO = [
    (
        "A",
        "Convolutional neural networks for deep learning image "
        "classification tasks",
    ),
    (
        "B",
        "Deep learning methods for audio classification and speech "
        "processing",
    ),
    ("C", "Classical music orchestras and symphonies"),
]
QUERY = "deep learning image classification convolutional neural networks"


def _nodes(spark, rows, meta=None):
    data = [
        (i, t, {} if meta is None else meta.get(i, {})) for i, t in rows
    ]
    return spark.createDataFrame(
        data, "id string, text string, metadata map<string,string>"
    )


def _embed(spark, rows):
    """Hash-embed (id, text) rows → embeddings frame."""
    df = spark.createDataFrame(rows, "id string, text string")
    return embed_hash_df(df).select(
        F.col("id").alias("node_id"), "vector", "dim"
    )


def _query_frame(spark, text):
    return embed_hash_df(
        spark.createDataFrame([("q", text)], "id string, text string")
    ).select(F.col("vector").alias("qvec"))


def test_vec_trio_ordering(spark):
    """TC-VEC-01: similarity ranks A > B > C; A's score ≥ 0.5."""
    nodes = _nodes(spark, VEC_TRIO)
    emb = _embed(spark, VEC_TRIO)
    res = vector_topk(nodes, emb, _query_frame(spark, QUERY), top_k=3).collect()
    assert [r["id"] for r in res] == ["A", "B", "C"]
    assert res[0]["score"] >= 0.5


def test_topk_exceeds_corpus(spark):
    """TC-VEC-02: top_k > corpus returns exactly the embedded set."""
    nodes = _nodes(spark, VEC_TRIO + [("D", "no embedding here")])
    emb = _embed(spark, VEC_TRIO)
    res = vector_topk(nodes, emb, _query_frame(spark, QUERY), top_k=100)
    assert res.count() == 3


def test_metadata_filter_topk(spark):
    """TC-VEC-03: metadata filter excludes non-matching nodes."""
    meta = {
        "A": {"type": "note"},
        "B": {"type": "note"},
        "C": {"type": "paper"},
    }
    nodes = _nodes(spark, VEC_TRIO, meta)
    emb = _embed(spark, VEC_TRIO)
    res = vector_topk(
        nodes,
        emb,
        _query_frame(spark, QUERY),
        top_k=10,
        meta_filter={"type": "note"},
    ).collect()
    assert {r["id"] for r in res} == {"A", "B"}


def test_dim_mismatch_skipped(spark):
    """Embeddings whose dim ≠ query dim are skipped (app.py:407-408)."""
    nodes = _nodes(spark, [("A", "a"), ("B", "b")])
    emb = spark.createDataFrame(
        [("A", [1.0, 0.0], 2), ("B", [1.0, 0.0, 0.0], 3)],
        "node_id string, vector array<float>, dim int",
    )
    q = spark.createDataFrame([([1.0, 0.0],)], "qvec array<float>")
    res = vector_topk(nodes, emb, q, top_k=10).collect()
    assert [r["id"] for r in res] == ["A"]


def test_manual_vector_unnormalized(spark):
    """SURVEY §4.8.2: manual vectors stored as-given, raw-dot scored."""
    nodes = _nodes(spark, [("A", "a"), ("B", "b")])
    emb = spark.createDataFrame(
        [("A", [3.0, 0.0], 2), ("B", [0.5, 0.0], 2)],
        "node_id string, vector array<float>, dim int",
    )
    q = spark.createDataFrame([([1.0, 0.0],)], "qvec array<float>")
    res = vector_topk(nodes, emb, q, top_k=2).collect()
    assert [(r["id"], r["score"]) for r in res] == [("A", 3.0), ("B", 0.5)]


# --- hybrid fixture (test_final.py:599-629) ---------------------------------

HYB = [
    ("V", "deep learning neural networks image classification"),
    ("G", "completely unrelated cooking recipes pasta"),
    ("N", "neutral document about weather patterns"),
]
HYB_EDGES = [("e1", "N", "G", "rel", 1.0)]


def _hybrid(spark, vw, gw, start, depth=2, k=10):
    nodes = _nodes(spark, HYB)
    emb = _embed(spark, HYB)
    edges = spark.createDataFrame(
        HYB_EDGES, "id string, src string, dst string, type string, weight double"
    )
    return hybrid_search(
        nodes,
        emb,
        edges,
        _query_frame(spark, "deep learning image classification"),
        vector_weight=vw,
        graph_weight=gw,
        top_k=k,
        graph_start_id=start,
        graph_depth=depth,
    ).collect()


def test_hybrid_formula_exact(spark):
    """TC-HYB-01: final == 0.7*vec_norm + 0.3*graph to 1e-6."""
    rows = _hybrid(spark, 0.7, 0.3, start="N")
    for r in rows:
        assert r["final_score"] == pytest.approx(
            0.7 * r["vector_score"] + 0.3 * r["graph_score"], abs=1e-6
        )
    by_id = {r["id"]: r for r in rows}
    # V-similar best vector score (normalized to 1); N is the start (g=1)
    assert by_id["V"]["vector_score"] == pytest.approx(1.0, abs=1e-6)
    assert by_id["N"]["graph_score"] == pytest.approx(1.0, abs=1e-6)


def test_hybrid_vector_only_matches_vector_ordering(spark):
    """TC-HYB-02A: (1,0) reproduces vector-only ordering."""
    rows = _hybrid(spark, 1.0, 0.0, start=None)
    nodes = _nodes(spark, HYB)
    emb = _embed(spark, HYB)
    vec = vector_topk(
        nodes, emb, _query_frame(spark, "deep learning image classification"),
        top_k=10,
    ).collect()
    vec_order = [r["id"] for r in vec if r["score"] > 0]
    hyb_order = [r["id"] for r in rows]
    assert hyb_order == vec_order[: len(hyb_order)]


def test_hybrid_graph_only(spark):
    """TC-HYB-02B: (0,1) ⇒ final == graph_score; unreached drop out."""
    rows = _hybrid(spark, 0.0, 1.0, start="N")
    ids = {r["id"] for r in rows}
    assert "V" not in ids  # unreached, zero score, dropped (app.py:726)
    for r in rows:
        assert r["final_score"] == pytest.approx(r["graph_score"], abs=1e-9)
    by_id = {r["id"]: r for r in rows}
    assert by_id["N"]["final_score"] == pytest.approx(1.0)
    # G: distance 1 from N, base=(2-1+1)/3=2/3, sole max weight ⇒ wf=1.0
    assert by_id["G"]["final_score"] == pytest.approx(2 / 3, abs=1e-6)


# --- BM25 cross-check -------------------------------------------------------


def _bm25_reference(corpus: dict[str, str], query: str) -> dict[str, float]:
    """Pure-Python Okapi BM25 (public formula; rank_bm25 defaults)."""
    k1, b, eps = 1.5, 0.75, 0.25
    docs = {i: t.lower().split() for i, t in corpus.items()}
    n = len(docs)
    avgdl = sum(len(d) for d in docs.values()) / n
    df: dict[str, int] = {}
    for toks in docs.values():
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    raw = {t: math.log(n - f + 0.5) - math.log(f + 0.5) for t, f in df.items()}
    avg_idf = sum(raw.values()) / len(raw)
    idf = {t: (eps * avg_idf if v < 0 else v) for t, v in raw.items()}
    out = {}
    for i, toks in docs.items():
        s = 0.0
        for qt in query.lower().split():
            if qt not in idf:
                continue
            tf = toks.count(qt)
            if tf == 0:
                continue
            s += idf[qt] * tf * (k1 + 1) / (
                tf + k1 * (1 - b + b * len(toks) / avgdl)
            )
        out[i] = s
    return out


def test_bm25_matches_independent_formula(spark):
    corpus = {
        "A": "the quick brown fox jumps over the lazy dog",
        "B": "the quick blue hare sleeps",
        "C": "lorem ipsum dolor sit amet fox",
        "D": "completely different text about spark",
    }
    nodes = spark.createDataFrame(
        list(corpus.items()), "id string, text string"
    )
    got = {
        r["id"]: r["score"]
        for r in bm25_scores(nodes, "quick fox").collect()
    }
    want = _bm25_reference(corpus, "quick fox")
    for i in corpus:
        assert got[i] == pytest.approx(want.get(i, 0.0), abs=1e-9), i


def test_phrase_search_order_sensitive_and_counts(spark):
    from vector_graph_native_database__spark.operators.bm25 import (
        phrase_search,
    )

    df = spark.createDataFrame(
        [
            ("d1", "hash table hash table scan"),
            ("d2", "table hash"),
            ("d3", "table scan hash"),
        ],
        "id string, text string",
    )
    got = {
        r["id"]: (r["n_occurrences"], r["rnk"])
        for r in phrase_search(df, ["hash", "table"]).collect()
    }
    # d1 has the phrase twice; d2 has only the REVERSED phrase; d3 has
    # both tokens non-adjacent — order and adjacency must both matter
    assert got == {"d1": (2, 1)}


# --- batch operators equal their single-query operators ---------------------

from conftest import SF_SMALL as SF  # noqa: E402


def test_bm25_topk_multi_matches_single_query(spark, sf_dir):
    import pandas as pd

    from vector_graph_native_database__spark.registry.common import model
    from vector_graph_native_database__spark.operators import bm25
    from vector_graph_native_database__spark.registry.searchq import (
        BM25_MULTI_QUERIES,
        _bm25_multi_sql,
    )

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools"))
    from oracle_check import canon, duck_con

    # a quote inside a token and a query with no token at all: the
    # DuckDB twin must quote the one and type the other's empty batch
    queries = {**BM25_MULTI_QUERIES, "qa": "it's dup", "qb": "   "}
    nodes, _, _ = model(spark, sf_dir)
    batch = bm25.bm25_topk_multi(nodes, queries, top_k=10, round_scores=6)
    multi = {}
    for r in batch.collect():
        multi.setdefault(r["qid"], []).append((r["id"], r["score"]))
    for qid, text in queries.items():
        single = [
            (r["id"], r["score"])
            for r in bm25.bm25_topk(
                nodes, text, top_k=10, round_scores=6
            ).collect()
        ]
        assert sorted(multi.get(qid, []), key=lambda r: (-r[1], r[0])) == (
            single
        ), qid
        assert (len(single) > 0) == (qid != "qb"), qid
    con = duck_con(sf_dir)
    for qs in (queries, {"qb": queries["qb"]}):
        got = bm25.bm25_topk_multi(nodes, qs, top_k=10, round_scores=6)
        want = con.sql(_bm25_multi_sql(qs, 10)).df()
        pd.testing.assert_frame_equal(
            canon(got.toPandas()), canon(want), check_dtype=False
        )


def test_hybrid_multi_equals_single_queries(spark):
    from vector_graph_native_database__spark.registry.common import (
        model,
        query_vec,
    )
    from vector_graph_native_database__spark.operators import hybrid
    from vector_graph_native_database__spark.registry.searchq import (
        HYBRID_MULTI_QIDS,
        q_hybrid_search_multi,
    )

    multi = {
        (r.qid, r.id): (r.vector_score, r.graph_score, r.final_score)
        for r in q_hybrid_search_multi(spark, SF).collect()
    }
    nodes, emb, edges = model(spark, SF)
    single = {}
    for qid in HYBRID_MULTI_QIDS:
        rows = hybrid.hybrid_search(
            nodes,
            emb,
            edges,
            query_vec(spark, SF, qid),
            vector_weight=0.7,
            graph_weight=0.3,
            top_k=10,
            graph_start_id=qid,
            graph_depth=2,
            round_scores=6,
        ).collect()
        for r in rows:
            single[(qid, r.id)] = (
                r.vector_score,
                r.graph_score,
                r.final_score,
            )
    assert multi == single


def test_vector_topk_multi_equals_single(spark):
    from vector_graph_native_database__spark.registry.common import (
        model,
        query_vec,
    )
    from vector_graph_native_database__spark.operators import vector_search
    from vector_graph_native_database__spark.registry.searchq import (
        HYBRID_MULTI_QIDS,
    )

    nodes, emb, _ = model(spark, SF)
    multi = {
        (r.qid, r.id): r.score
        for r in vector_search.vector_topk_multi(
            nodes, emb, HYBRID_MULTI_QIDS, top_k=10, round_scores=6
        ).collect()
    }
    single = {}
    for qid in HYBRID_MULTI_QIDS:
        for r in vector_search.vector_topk(
            nodes, emb, query_vec(spark, SF, qid), top_k=10, round_scores=6
        ).collect():
            single[(qid, r.id)] = r.score
    assert multi == single


def test_graph_bfs_multi_equals_single(spark):
    from vector_graph_native_database__spark.registry.common import model
    from vector_graph_native_database__spark.operators.graph import (
        graph_bfs,
        graph_bfs_multi,
    )
    from vector_graph_native_database__spark.registry.searchq import (
        HYBRID_MULTI_QIDS,
    )

    _, _, edges = model(spark, SF)
    multi = {
        (r.qid, r.id): (r.distance, round(r.path_weight, 6))
        for r in graph_bfs_multi(
            edges, HYBRID_MULTI_QIDS, depth=2
        ).collect()
    }
    single = {}
    for qid in HYBRID_MULTI_QIDS:
        for r in graph_bfs(edges, qid, 2).collect():
            single[(qid, r.id)] = (r.distance, round(r.path_weight, 6))
    assert multi == single


# Spark jobs one single-query retrieval call runs (build + collect) at
# sf0.001, each equal to its count before the rankers shared a body
# with their batch operators.
SINGLE_QUERY_JOBS = {
    "vector_topk": 3,
    "bm25_topk": 7,
    "graph_search": 13,
    "hybrid_search": 18,
}


@pytest.mark.parametrize("kind", sorted(SINGLE_QUERY_JOBS))
def test_single_query_retrieval_job_counts(spark, sf_dir, spark_jobs, kind):
    from vector_graph_native_database__spark.operators import bm25, graph
    from vector_graph_native_database__spark.operators import vector_search
    from vector_graph_native_database__spark.registry.common import (
        model,
        query_vec,
    )
    from vector_graph_native_database__spark.registry.searchq import (
        BM25_QUERY,
    )

    nodes, emb, edges = model(spark, sf_dir)
    stats = bm25.bm25_index_stage(spark, nodes, sf_dir)
    qv = query_vec(spark, sf_dir)
    run = {
        "vector_topk": lambda: vector_search.vector_topk(
            nodes, emb, qv, top_k=10, round_scores=6
        ).collect(),
        "bm25_topk": lambda: bm25.bm25_topk(
            nodes, BM25_QUERY, top_k=15, round_scores=6, stats=stats
        ).collect(),
        "graph_search": lambda: [
            f.collect() for f in graph.graph_search(nodes, edges, "0", 2)
        ],
        "hybrid_search": lambda: hybrid_search(
            nodes, emb, edges, qv, 0.7, 0.3, 15, "0", 2, 6
        ).collect(),
    }[kind]
    rows, jobs = spark_jobs(run)
    assert rows
    assert jobs <= SINGLE_QUERY_JOBS[kind]

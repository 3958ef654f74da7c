"""Hybrid search: weighted vector + graph rank fusion.

Reference semantics (``HybridSearchService.hybrid_search``,
``/root/reference/app.py:657-736``):

1. Vector scores for the whole corpus (no metadata filter,
   ``top_k = N``) → min-max normalized to [0,1]; the all-equal edge
   case maps every score to 1.0. Nodes without embeddings get 0.0
   AFTER normalization (they never appear in vector results).
2. Graph scores via BFS (edge_type=None) + ``graph_score`` from
   ``graph_start_id`` when given, else all 0.0.
3. ``final = vector_weight * vec_norm + graph_weight * g_score``;
   rows with ``final <= 0`` are dropped even when ``top_k >= N``
   (observable quirk, preserved — SURVEY §4.8.6); sort desc,
   truncate ``top_k``. The reported ``vector_score`` is the
   NORMALIZED score (``app.py:721,729``).

Per the reference's own note (``app.py:670-671``) BM25 is NOT fused
— hybrid is vector+graph only, so ``(v_w, g_w) = (1, 0)`` reproduces
vector-only ordering exactly (min-max is monotone).

Spark shape: one keyed body, :func:`_hybrid`, scores a query frame —
one ``qvec`` row, or a batch of (qid, qvec) rows with one BFS per qid
(:func:`graph.graph_bfs_multi`). Its components (:func:`_components`)
are the vector subplan (one embeddings scan, min-max per query from
one aggregate attached back) and the graph subplan (keyed
``graph_score``), left-joined onto the nodes; fusion and the final>0
drop are column arithmetic, and the top-k is ``orderBy().limit(k)``
(a distributed TakeOrderedAndProject) for one query or a rank window
per qid for a batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectorfn import minmax_normalize, stable_round6
from . import graph, vector_search
from ._keyed import key_cols, topk


def _components(
    nodes: DataFrame,
    embeddings: DataFrame,
    query: DataFrame,
    bfs: DataFrame | None,
    graph_depth: int,
) -> DataFrame:
    """Normalized vector and graph scores of every node per query →
    (*keys, id, text, vector_score, graph_score).

    ``query`` is one ``qvec`` row or (qid, qvec) rows; a batch's
    ``nodes`` carry the qid too (one copy of the node set per query),
    and so does its ``bfs``. Without a BFS every graph score is 0.0.
    """
    keys = key_cols(query)
    vec = minmax_normalize(
        vector_search.score_embeddings(embeddings, query).select(
            *keys, "node_id", "score"
        ),
        "score",
        "vec_norm",
    ).select(*keys, F.col("node_id").alias("id"), "vec_norm")
    base = nodes.select(*keys, "id", "text").join(
        vec, [*keys, "id"], "left_outer"
    )
    if bfs is not None:
        g = graph.graph_score(bfs, None, graph_depth).select(
            *keys, "id", "g_score"
        )
        base = base.join(g, [*keys, "id"], "left_outer")
    else:
        base = base.withColumn("g_score", F.lit(0.0))
    return base.select(
        *keys,
        "id",
        "text",
        F.coalesce("vec_norm", F.lit(0.0)).alias("vector_score"),
        F.coalesce("g_score", F.lit(0.0)).alias("graph_score"),
    )


def _hybrid(
    nodes: DataFrame,
    embeddings: DataFrame,
    query: DataFrame,
    bfs: DataFrame | None,
    vector_weight: float,
    graph_weight: float,
    top_k: int,
    graph_depth: int,
    round_scores: int | None,
) -> DataFrame:
    """Fuse the components, drop final<=0, take the top-k per query →
    (*keys, id, text, vector_score, graph_score, final_score)."""
    out = _components(nodes, embeddings, query, bfs, graph_depth).withColumn(
        "final_score",
        F.lit(vector_weight) * F.col("vector_score")
        + F.lit(graph_weight) * F.col("graph_score"),
    )
    if round_scores is not None:
        for c in ("vector_score", "graph_score", "final_score"):
            out = out.withColumn(c, F.round(c, round_scores))
    return topk(
        out.filter(F.col("final_score") > 0),
        top_k,
        F.desc("final_score"),
        F.asc("id"),
    )


def hybrid_search(
    nodes: DataFrame,
    embeddings: DataFrame,
    edges: DataFrame,
    query: DataFrame,
    vector_weight: float = 0.5,
    graph_weight: float = 0.5,
    top_k: int = 10,
    graph_start_id: str | None = None,
    graph_depth: int = 2,
    round_scores: int | None = None,
) -> DataFrame:
    """→ (id, text, vector_score, graph_score, final_score)."""
    bfs = None
    if graph_start_id is not None:
        bfs = graph.graph_bfs(edges, graph_start_id, graph_depth)
    return _hybrid(
        nodes,
        embeddings,
        query,
        bfs,
        vector_weight,
        graph_weight,
        top_k,
        graph_depth,
        round_scores,
    )


def rrf_hybrid(
    nodes: DataFrame,
    embeddings: DataFrame,
    edges: DataFrame,
    query: DataFrame,
    query_text: str,
    graph_start_id: str | None = None,
    graph_depth: int = 2,
    k_rrf: int = 60,
    n_per_ranker: int = 100,
    top_k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of vector, BM25, and graph rankers
    → (id, text, rrf_score).

    The reference's PDF advertises RRF fusion of BM25 into hybrid but
    the code never implements it (``app.py:670-671``; SURVEY §4.8.3)
    — this delivers the promised capability as an extension.
    ``rrf = Σ_rankers 1/(k + rank)`` over each ranker's top
    ``n_per_ranker`` list (ranks on 6dp-rounded scores, ties by id,
    so ranks are engine-reproducible integers). Per-ranker lists come
    from ``orderBy().limit()`` — TakeOrderedAndProject, so no global
    sort; the rank window then runs over n_per_ranker rows only.
    """
    from pyspark.sql.window import Window

    from .bm25 import bm25_scores

    def ranked(df: DataFrame, score_col: str, name: str) -> DataFrame:
        top = (
            df.select("id", F.round(score_col, 6).alias("s"))
            .orderBy(F.desc("s"), F.asc("id"))
            .limit(n_per_ranker)
        )
        w = Window.orderBy(F.desc("s"), F.asc("id"))
        return top.select("id", F.row_number().over(w).alias(f"r_{name}"))

    vec = ranked(
        vector_search.score_embeddings(embeddings, query).select(
            F.col("node_id").alias("id"), "score"
        ),
        "score",
        "v",
    )
    bm = ranked(
        bm25_scores(nodes, query_text).filter(F.round("score", 6) > 0),
        "score",
        "b",
    )
    rankers = vec.join(bm, "id", "full_outer")
    if graph_start_id is not None:
        g = ranked(
            graph.graph_score(
                graph.graph_bfs(edges, graph_start_id, graph_depth),
                graph_start_id,
                graph_depth,
            ).select("id", "g_score"),
            "g_score",
            "g",
        )
        rankers = rankers.join(g, "id", "full_outer")
    else:
        rankers = rankers.withColumn("r_g", F.lit(None).cast("int"))

    def contrib(col: str):
        return F.coalesce(
            F.lit(1.0) / (F.lit(k_rrf) + F.col(col)), F.lit(0.0)
        )

    rrf = contrib("r_v") + contrib("r_b") + contrib("r_g")
    return (
        rankers.join(nodes.select("id", "text"), "id")
        .select(
            "id",
            "text",
            stable_round6(rrf).alias("rrf_score"),
        )
        .filter(F.col("rrf_score") > 0)
        .orderBy(F.desc("rrf_score"), F.asc("id"))
        .limit(top_k)
    )


def hybrid_search_multi(
    nodes: DataFrame,
    embeddings: DataFrame,
    edges: DataFrame,
    query_ids: list[str],
    vector_weight: float = 0.5,
    graph_weight: float = 0.5,
    top_k: int = 10,
    graph_depth: int = 2,
    round_scores: int | None = None,
) -> DataFrame:
    """Batched hybrid serving → (qid, id, text, vector_score,
    graph_score, final_score): each id in ``query_ids`` seeds both its
    query vector (its stored embedding) and its graph traversal, and
    :func:`hybrid_search`'s body answers all of them in ONE plan — one
    pass over the embeddings scan and ONE multi-source BFS
    (graph_bfs_multi — Q traversals for the job count of one)."""
    qs = embeddings.filter(F.col("node_id").isin(query_ids)).select(
        F.col("node_id").alias("qid"), F.col("vector").alias("qvec")
    )
    return _hybrid(
        nodes.crossJoin(F.broadcast(qs.select("qid"))),
        embeddings,
        qs,
        graph.graph_bfs_multi(edges, query_ids, graph_depth, edge_type=None),
        vector_weight,
        graph_weight,
        top_k,
        graph_depth,
        round_scores,
    )

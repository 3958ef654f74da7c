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

Spark shape: the vector subplan and the graph subplan are
independent DataFrames merged with one full-outer join on ``id`` +
``coalesce(·, 0)``; normalization is a 1-row aggregate broadcast
back. Spark schedules the two subplans concurrently; the final
``orderBy().limit(k)`` is again a distributed TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectorfn import minmax_normalize
from .graph import graph_bfs, graph_score
from .vector_search import score_embeddings


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
    vec = minmax_normalize(
        score_embeddings(embeddings, query).select("node_id", "score"),
        "score",
        "vec_norm",
    ).select(F.col("node_id").alias("id"), "vec_norm")

    if graph_start_id is not None:
        g = graph_score(
            graph_bfs(edges, graph_start_id, graph_depth, edge_type=None),
            graph_start_id,
            graph_depth,
        ).select("id", "g_score")
    else:
        g = None

    base = nodes.select("id", "text").join(vec, "id", "left_outer")
    if g is not None:
        base = base.join(g, "id", "left_outer")
    else:
        base = base.withColumn("g_score", F.lit(0.0))

    out = base.select(
        "id",
        "text",
        F.coalesce("vec_norm", F.lit(0.0)).alias("vector_score"),
        F.coalesce("g_score", F.lit(0.0)).alias("graph_score"),
    ).withColumn(
        "final_score",
        F.lit(vector_weight) * F.col("vector_score")
        + F.lit(graph_weight) * F.col("graph_score"),
    )
    if round_scores is not None:
        for c in ("vector_score", "graph_score", "final_score"):
            out = out.withColumn(c, F.round(c, round_scores))
    return (
        out.filter(F.col("final_score") > 0)
        .orderBy(F.desc("final_score"), F.asc("id"))
        .limit(top_k)
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

    from ..functions.vectorfn import minmax_normalize  # noqa: F401
    from .bm25 import bm25_scores
    from .vector_search import score_embeddings

    def ranked(df: DataFrame, score_col: str, name: str) -> DataFrame:
        top = (
            df.select("id", F.round(score_col, 6).alias("s"))
            .orderBy(F.desc("s"), F.asc("id"))
            .limit(n_per_ranker)
        )
        w = Window.orderBy(F.desc("s"), F.asc("id"))
        return top.select("id", F.row_number().over(w).alias(f"r_{name}"))

    vec = ranked(
        score_embeddings(embeddings, query).select(
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
            graph_score(
                graph_bfs(edges, graph_start_id, graph_depth),
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
            (F.floor(rrf * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
                "rrf_score"
            ),
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
    graph_score, final_score): Q hybrid_search calls answered in ONE
    plan, with per-query semantics identical to the single-query
    operator (same min-max normalization per query, same final>0
    drop, same (score desc, id asc) order) — pytest-pinned equal to
    Q separate calls.

    The amortization is structural, not just JVM reuse: the vector
    side scores ALL queries in one pass over the embeddings scan
    (|Q|-row broadcast of query vectors, per-qid min-max from one
    grouped aggregate), and the graph side runs ONE multi-source BFS
    (graph_bfs_multi — Q traversals for the job count of one).
    Per-query top-k is a rank window over the fused frame. The
    BM25 twin of this shape is bm25_topk_multi; this completes the
    batched-serving story for the §2.5 flagship."""
    from pyspark.sql.window import Window

    from ..functions.vectorfn import dot
    from .graph import graph_bfs_multi

    qs = embeddings.filter(F.col("node_id").isin(query_ids)).select(
        F.col("node_id").alias("qid"), F.col("vector").alias("qvec")
    )
    scored = (
        embeddings.crossJoin(F.broadcast(qs))
        .filter(F.size("vector") == F.size("qvec"))
        .select(
            "qid",
            F.col("node_id").alias("id"),
            dot("vector", "qvec").alias("score"),
        )
    )
    bounds = scored.groupBy("qid").agg(
        F.min("score").alias("mn"), F.max("score").alias("mx")
    )
    vec = scored.join(F.broadcast(bounds), "qid").select(
        "qid",
        "id",
        F.when(F.col("mx") == F.col("mn"), F.lit(1.0))
        .otherwise(
            (F.col("score") - F.col("mn")) / (F.col("mx") - F.col("mn"))
        )
        .alias("vec_norm"),
    )

    bfs = graph_bfs_multi(edges, query_ids, graph_depth, edge_type=None)
    max_w = bfs.groupBy("qid").agg(F.max("path_weight").alias("__max_w"))
    base = (F.lit(graph_depth) - F.col("distance") + 1) / F.lit(
        float(graph_depth + 1)
    )
    w_norm = F.when(
        F.col("__max_w") > 0, F.col("path_weight") / F.col("__max_w")
    ).otherwise(F.lit(0.0))
    g = (
        bfs.join(F.broadcast(max_w), "qid")
        .withColumn(
            "g_score",
            F.when(F.col("distance") == 0, F.lit(1.0)).otherwise(
                base * (F.lit(0.5) + F.lit(0.5) * w_norm)
            ),
        )
        .select("qid", "id", "g_score")
    )

    qgrid = qs.select("qid")
    fused = (
        nodes.select("id", "text")
        .crossJoin(F.broadcast(qgrid))
        .join(vec, ["qid", "id"], "left_outer")
        .join(g, ["qid", "id"], "left_outer")
        .select(
            "qid",
            "id",
            "text",
            F.coalesce("vec_norm", F.lit(0.0)).alias("vector_score"),
            F.coalesce("g_score", F.lit(0.0)).alias("graph_score"),
        )
        .withColumn(
            "final_score",
            F.lit(vector_weight) * F.col("vector_score")
            + F.lit(graph_weight) * F.col("graph_score"),
        )
    )
    if round_scores is not None:
        for c in ("vector_score", "graph_score", "final_score"):
            fused = fused.withColumn(c, F.round(c, round_scores))
    w = Window.partitionBy("qid").orderBy(
        F.desc("final_score"), F.asc("id")
    )
    return (
        fused.filter(F.col("final_score") > 0)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .drop("rn")
    )

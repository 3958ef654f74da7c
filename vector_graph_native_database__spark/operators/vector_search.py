"""Vector search: full-scan k-NN over the embeddings table.

Reference semantics (``VectorSearchService.search``,
``/root/reference/app.py:394-444``):
encode/accept a query vector → dot-product against every stored
embedding, skipping dim mismatches (``app.py:407-408``) → attach node
details → apply the conjunctive metadata-equality filter AFTER
scoring but BEFORE truncation (= top-k *of the filtered set*,
TC-VEC-03) → sort score desc → truncate top_k. Nodes without
embeddings never appear; ``top_k > corpus`` returns all embedded
nodes (TC-VEC-02).

One keyed body, :func:`vector_topk`, scores a query frame: a single
``qvec`` row, or a batch of (qid, qvec) rows. The frame is broadcast
and scoring is a ``zip_with``/``aggregate`` column expression inside
the one embeddings scan, so a batch of Q queries still reads the
embeddings once. One query's top-k is ``orderBy(desc).limit(k)``,
which compiles to TakeOrderedAndProject — a distributed top-k with no
global sort; a batch's is a ``row_number`` window per qid
(``_keyed.topk``). Ties are broken by ``id ASC`` (SURVEY §4.8.5) so
results are a total order instead of the reference's dict-order
nondeterminism.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectorfn import dot
from ._keyed import key_cols, topk


def score_embeddings(embeddings: DataFrame, query: DataFrame) -> DataFrame:
    """Attach ``score`` = dot(vector, query vector) to every embedding.

    ``query`` holds a ``qvec`` array column: one row, or one row per
    query with its ``qid`` key, which then rides every scored row. It
    is broadcast so scoring is a map-only stage over the embeddings
    scan. Dim-mismatched rows are skipped (reference ``app.py:407-408``).
    """
    return (
        embeddings.crossJoin(F.broadcast(query))
        .filter(F.size("vector") == F.size("qvec"))
        .withColumn("score", dot("vector", "qvec"))
        .drop("qvec")
    )


def metadata_predicate(meta_filter: Mapping[str, str] | None) -> Column:
    """Conjunctive equality over the metadata map (``app.py:427-436``)."""
    pred = F.lit(True)
    for k, v in (meta_filter or {}).items():
        pred = pred & (F.col("metadata")[k] == F.lit(v))
    return pred


def vector_topk(
    nodes: DataFrame,
    embeddings: DataFrame,
    query: DataFrame,
    top_k: int = 10,
    meta_filter: Mapping[str, str] | None = None,
    round_scores: int | None = None,
) -> DataFrame:
    """Full-scan k-NN: returns (id, text, score), score desc / id asc;
    (qid, id, text, score), top-k per qid, for a keyed query frame.

    The nodes join is on the compact id key; at small scale Catalyst
    broadcasts, at large scale AQE picks the shuffle strategy. The
    metadata filter sits before the limit so semantics are top-k of
    the filtered set.

    ``round_scores`` rounds BEFORE the sort so the (score, id) total
    order is identical to an oracle that sorts on rounded values.
    """
    scored = score_embeddings(embeddings, query)
    if round_scores is not None:
        scored = scored.withColumn("score", F.round("score", round_scores))
    return topk(
        scored.join(nodes, scored["node_id"] == nodes["id"])
        .filter(metadata_predicate(meta_filter))
        .select(*key_cols(query), "id", "text", "score"),
        top_k,
        F.desc("score"),
        F.asc("id"),
    )


def vector_topk_multi(
    nodes: DataFrame,
    embeddings: DataFrame,
    query_ids: list[str],
    top_k: int = 10,
    round_scores: int | None = None,
) -> DataFrame:
    """Batched full-scan k-NN → (qid, id, text, score): each stored
    embedding named in ``query_ids`` is a query, and :func:`vector_topk`
    answers all of them from ONE pass over the embeddings scan.
    """
    qs = embeddings.filter(F.col("node_id").isin(query_ids)).select(
        F.col("node_id").alias("qid"), F.col("vector").alias("qvec")
    )
    return vector_topk(nodes, embeddings, qs, top_k, round_scores=round_scores)

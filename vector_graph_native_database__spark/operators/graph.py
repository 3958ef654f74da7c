"""Graph operators: depth-limited weighted BFS and derived scores.

Reference semantics (``GraphService``, ``/root/reference/app.py:498-642``):

- ``graph_bfs``: directed BFS from ``start_id`` over (optionally
  type-filtered) edges, bounded at ``depth`` hops. Per reached node:
  ``distance`` = hop count, ``path_weight`` = sum of edge weights
  along the discovery path. Start node: (0, 0.0). The reference's
  queue version is order-dependent on equal-length multi-path graphs
  (``app.py:537-547``); per SURVEY §4.8.4 we implement the clean
  level-synchronous rule — min hop distance, max accumulated weight
  among min-distance paths — which agrees with the reference on every
  graph its tests exercise.
- ``graph_score`` (``app.py:551-589``): 1.0 for the start node; 0.0
  if unreached; else ``base * (0.5 + 0.5*w/max_w)`` with
  ``base = (max_depth - d + 1)/(max_depth + 1)`` and ``max_w`` the max
  path weight over all reached nodes (all-zero weights → factor 0.5).
- ``subgraph_edges`` (``app.py:613-634``): all edges with BOTH
  endpoints in the reached set INCLUDING the start node, ignoring the
  traversal's type filter (reference quirk, preserved).
- ``graph_search`` (``app.py:591-642``): BFS → drop start from the
  node list → attach node details; induced edges kept separately.

Spark shape: one driver-side level loop, ``_bfs_levels``, serves
``graph_bfs``, ``graph_bfs_multi`` and ``analytics.multi_source_bfs``
(Catalyst has no fixpoint operator). It picks each level's join shape
from the size of the active set, as Pregelix does. While a level's
driver work — reached (qid, id) pairs plus the (qid, out-edge) pairs
it folds — fits under ``FRONTIER_CAP``, the reached set stays on the
driver: the level is one bounded collect of
``edges.filter(src IN <frontier ids>)`` (also the emptiness probe),
the max and the anti-join run on the collected rows, and the result
is a JVM local relation — one scan instead of a shuffle join, an
aggregate, an anti-join, an eager checkpoint and a probe. Work over
the cap may not fit on the driver, so from that level on (from level
1 when the starts alone exceed it) the loop runs as joins that never
collect: frontier ⨝ edges on ``src``, max aggregate, anti-join, eager
``localCheckpoint`` (its statistics keep the next join a broadcast)
and a ``take(1)`` probe. Both paths ignore edges with a null
endpoint, as ``sql_bfs_cte`` does.
"""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import in_list, local_frame
from ._keyed import attach, key_cols

FRONTIER_CAP = 20_000
"""Most driver work a BFS level may take; below the driver/shuffle
crossover measured on sampled closeness (SCALING.md §Graph)."""

_BFS_DDL = "id string, distance int, path_weight double, qid string"
_STARTS_DDL = "qid string, id string"


def _src_in(ids: set[str | None]) -> Column:
    """The BFS level filter ``src IN (<ids>)``; null ids never match."""
    return in_list("src", ids)


def _bfs_levels(
    edges: DataFrame,
    starts: dict[str, str] | DataFrame,
    depth: int,
    edge_type: str | None,
) -> DataFrame:
    """Level-synchronous BFS from each start (qid → start id, or a
    (qid, id) frame too large to collect) → (id, distance,
    path_weight, qid).

    Per qid: the start is present with (0, 0.0); a node first reached
    at level L gets distance L and the max path weight among its
    length-L paths (NaN counts as largest, as in Spark's ``max``). The
    key column comes last so a single-source caller projects it away.
    """
    spark = edges.sparkSession
    e = edges
    if edge_type is not None:
        e = e.filter(F.col("type") == edge_type)
    e = e.filter(F.col("src").isNotNull() & F.col("dst").isNotNull()).select(
        "src", "dst", F.coalesce("weight", F.lit(0.0)).alias("weight")
    )

    if isinstance(starts, DataFrame):
        few = starts.limit(FRONTIER_CAP + 1).collect()
        starts = dict(few) if len(few) <= FRONTIER_CAP else starts.distinct()
    elif len(starts) > FRONTIER_CAP:
        starts = local_frame(spark, list(starts.items()), _STARTS_DDL)
    level = 1
    if isinstance(starts, DataFrame):
        zero = (F.lit(0).alias("distance"), F.lit(0.0).alias("path_weight"))
        reached_df = starts.select("id", *zero, "qid")
    else:
        reached = {(q, s): (0, 0.0) for q, s in starts.items()}
        frontier = dict.fromkeys(reached, 0.0)
        while level <= depth and frontier:
            out = e.filter(_src_in({i for _, i in frontier}))
            out = out.limit(FRONTIER_CAP + 1)
            by_src = defaultdict(list)
            for src, dst, w in out.collect():
                by_src[src].append((dst, w))
            # driver work: the reached set plus every (qid, out-edge)
            # pair this level folds; it also bounds the collect above
            pairs = sum(len(by_src[i]) for _, i in frontier)
            if len(reached) + pairs > FRONTIER_CAP:
                break
            new: dict[tuple[str, str], float] = {}
            for (q, i), pw in frontier.items():
                for dst, w in by_src[i]:
                    key, cand, old = (q, dst), pw + w, new.get((q, dst))
                    if key not in reached and (
                        old is None or math.isnan(cand) or cand > old
                    ):
                        new[key] = cand
            reached.update((key, (level, pw)) for key, pw in new.items())
            frontier, level = new, level + 1
        reached_df = local_frame(
            spark,
            [(i, d, w, q) for (q, i), (d, w) in reached.items()],
            _BFS_DDL,
        )
        if not frontier or level > depth:
            return reached_df
        # each shuffle level scans it twice; a local relation would be
        # shipped with every task
        reached_df = reached_df.localCheckpoint(eager=True)

    frontier_df = reached_df.filter(F.col("distance") == level - 1)
    for level in range(level, depth + 1):
        candidates = (
            frontier_df.join(e, frontier_df["id"] == e["src"])
            .select(
                "qid",
                e["dst"].alias("id"),
                (frontier_df["path_weight"] + e["weight"]).alias("w"),
            )
            .groupBy("qid", "id")
            .agg(F.max("w").alias("path_weight"))
            .withColumn("distance", F.lit(level))
        )
        new_df = candidates.join(reached_df, ["qid", "id"], "left_anti").select(
            "id", "distance", "path_weight", "qid"
        )
        new_df = new_df.localCheckpoint(eager=True)
        if not new_df.take(1):
            break
        reached_df = reached_df.unionByName(new_df)
        frontier_df = new_df
    return reached_df


def graph_bfs(
    edges: DataFrame,
    start_id: str,
    depth: int,
    edge_type: str | None = None,
) -> DataFrame:
    """Level-synchronous BFS → (id, distance, path_weight).

    The start node is always present with (0, 0.0); nodes first
    reached at level L get distance L and the max path weight among
    their length-L paths from the start.
    """
    return _bfs_levels(edges, {start_id: start_id}, depth, edge_type).select(
        "id", "distance", "path_weight"
    )


def graph_score(
    bfs: DataFrame, start_id: str | None, max_depth: int
) -> DataFrame:
    """Attach the closeness score → (*keys, id, distance, path_weight,
    g_score), per traversal when ``bfs`` carries a ``qid`` key
    (:func:`graph_bfs_multi`).

    The start is the row at ``distance == 0``, which holds for the one
    ``start_id`` of :func:`graph_bfs` and for every qid's own start.
    One max aggregate per traversal attached back as a broadcast — no
    window, no collect.
    """
    max_w = bfs.groupBy(*key_cols(bfs)).agg(
        F.max("path_weight").alias("__max_w")
    )
    base = (F.lit(max_depth) - F.col("distance") + 1) / F.lit(
        float(max_depth + 1)
    )
    w_norm = F.when(
        F.col("__max_w") > 0, F.col("path_weight") / F.col("__max_w")
    ).otherwise(F.lit(0.0))
    return (
        attach(bfs, max_w)
        .withColumn(
            "g_score",
            F.when(F.col("distance") == 0, F.lit(1.0)).otherwise(
                base * (F.lit(0.5) + F.lit(0.5) * w_norm)
            ),
        )
        .drop("__max_w")
    )


def subgraph_edges(edges: DataFrame, reached: DataFrame) -> DataFrame:
    """Edges with both endpoints in the reached set (incl. start).

    Two left-semi joins; the reached set is small relative to edges
    (bounded by the depth-ball around start) so both are broadcast
    candidates — Catalyst/AQE picks that up from size estimates.
    """
    ids = reached.select("id")
    return (
        edges.join(ids, edges["src"] == ids["id"], "left_semi")
        .join(ids, edges["dst"] == ids["id"], "left_semi")
        .select("id", "src", "dst", "type", "weight")
    )


def graph_search(
    nodes: DataFrame,
    edges: DataFrame,
    start_id: str,
    depth: int,
    edge_type: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Composed traversal search → (result_nodes, induced_edges).

    ``result_nodes`` = reached nodes minus the start, joined to node
    details (one join replaces the reference's N+1 lookup loop,
    ``app.py:598-610``): (id, text, distance, path_weight).
    ``induced_edges`` spans the full reached set including start and
    ignores the type filter (reference quirks preserved).
    """
    reached = graph_bfs(edges, start_id, depth, edge_type)
    result_nodes = (
        reached.filter(F.col("id") != start_id)
        .join(nodes.select("id", "text"), "id")
        .select("id", "text", "distance", "path_weight")
    )
    return result_nodes, subgraph_edges(edges, reached)


def graph_bfs_multi(
    edges: DataFrame,
    start_ids: list[str],
    depth: int,
    edge_type: str | None = None,
) -> DataFrame:
    """Level-synchronous BFS from MULTIPLE sources at once →
    (qid, id, distance, path_weight), one (qid, ·) BFS frame per
    start, each equal to :func:`graph_bfs` from that start.

    The frontier carries the source id as just another key column,
    so Q concurrent traversals cost the SAME number of jobs as one;
    state grows only with the union of the depth-balls. This is how a
    serving tier amortizes graph scoring across a query batch — never
    one iterative job per query."""
    return _bfs_levels(
        edges, {s: s for s in start_ids}, depth, edge_type
    ).select("qid", "id", "distance", "path_weight")

"""Search / ranking queries: vector, BM25, hybrid (SURVEY §2.5)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import bm25, hybrid, vector_search
from .common import (
    ORACLE_PRELUDE,
    SQL_SCORED,
    SQL_TOKENS,
    model,
    query_vec,
    sql_bfs_cte,
)

# 'dup' is a rare term in the harness corpus (df≈5%) so the top-k is a
# non-trivial positive set; the common terms exercise the negative-idf
# epsilon flooring.
BM25_QUERY = "dup key fast"


def q_vector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, emb, _ = model(spark, sf_dir)
    return vector_search.vector_topk(
        nodes, emb, query_vec(spark, sf_dir), top_k=10, round_scores=6
    )


def q_vector_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, emb, _ = model(spark, sf_dir)
    return vector_search.vector_topk(
        nodes,
        emb,
        query_vec(spark, sf_dir),
        top_k=10,
        meta_filter={"lang": "en"},
        round_scores=6,
    )


def q_bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    nodes, _, _ = model(spark, sf_dir)
    stats = bm25.bm25_index_stage(spark, nodes, sf_dir)
    return bm25.bm25_scores(nodes, BM25_QUERY, stats=stats).select(
        "id", F.round("score", 6).alias("score")
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k BM25 served from the shared staged posting/stats index
    (operators/bm25.bm25_index_stage): one tokenize pass per corpus,
    every query pays only the |q|-row idf derivation plus the scoring
    joins — the persisted-posting-table deployment shape. Values are
    bit-identical to the in-plan build (longs/strings roundtrip
    parquet exactly); the oracle recomputes from scratch in SQL."""
    nodes, _, _ = model(spark, sf_dir)
    stats = bm25.bm25_index_stage(spark, nodes, sf_dir)
    return bm25.bm25_topk(
        nodes, BM25_QUERY, top_k=15, round_scores=6, stats=stats
    )


def q_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-session variant of the staged serving path: the posting
    frame is materialized with an eager localCheckpoint (the in-plan
    analog of a persisted posting table) instead of read from the
    disk-staged artifact — pins that BOTH staging idioms score
    byte-identically against the same SQL oracle."""
    nodes, _, _ = model(spark, sf_dir)
    stats = bm25.staged_index(nodes)
    return bm25.bm25_topk(
        nodes, BM25_QUERY, top_k=15, round_scores=6, stats=stats
    )


def q_bm25_topk_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch BM25: three queries scored in ONE corpus pass over the
    shared staged posting frame (query-log / eval-set deployment
    shape — Q queries must not cost Q corpus scans, and the corpus
    must not be re-tokenized per batch)."""
    nodes, _, _ = model(spark, sf_dir)
    return bm25.bm25_topk_multi(
        nodes,
        BM25_MULTI_QUERIES,
        top_k=10,
        round_scores=6,
        stats=bm25.bm25_index_stage(spark, nodes, sf_dir),
    )


def _bm25_qt(queries: dict[str, str]) -> str:
    """The query batch as the ``qt(qid, tok, qcnt)`` CTE: token
    multiplicity counted like the engine's, quotes doubled, and a
    typed empty relation when no query has a token."""
    from collections import Counter

    def q(v: str) -> str:
        return "'" + v.replace("'", "''") + "'"

    vals = ", ".join(
        f"({q(qid)}, {q(tok)}, {cnt})"
        for qid, text in sorted(queries.items())
        for tok, cnt in sorted(Counter(text.lower().split()).items())
    )
    if not vals:
        return """,
qt AS (SELECT CAST(NULL AS VARCHAR) AS qid, CAST(NULL AS VARCHAR) AS tok,
              CAST(NULL AS BIGINT) AS qcnt WHERE 1 = 0)"""
    return f""",
qt AS (SELECT * FROM (VALUES {vals}) v(qid, tok, qcnt))"""


def _bm25_batch_ctes(queries: dict[str, str], src: str = "nodes") -> str:
    """The stats CTEs over ``src``, the query batch as ``qt`` and its
    per-(qid, id) scores rounded to 6 dp as ``contrib``."""
    return (
        _bm25_stats_ctes(src)
        + _bm25_qt(queries)
        + """,
contrib AS (
  SELECT qt.qid, tf.id,
         round(sum(qt.qcnt * idf.idf * (tf.tf * (1.5 + 1))
             / (tf.tf + 1.5 * (1 - 0.75 + 0.75 * dl.dl / avgdl.avgdl))), 6)
           AS score
  FROM tf
  JOIN qt USING (tok)
  JOIN idf USING (tok)
  JOIN dl USING (id), avgdl
  GROUP BY qt.qid, tf.id
)"""
    )


def _bm25_multi_sql(queries: dict[str, str], k: int) -> str:
    """Oracle twin of ``bm25_topk_multi``: per-query window top-k."""
    return (
        ORACLE_PRELUDE
        + _bm25_batch_ctes(queries)
        + f"""
SELECT qid, id, score FROM (
  SELECT qid, id, score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, id ASC) AS rn
  FROM contrib WHERE score > 0
) WHERE rn <= {k}"""
    )


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, emb, edges = model(spark, sf_dir)
    return hybrid.hybrid_search(
        nodes,
        emb,
        edges,
        query_vec(spark, sf_dir),
        vector_weight=0.7,
        graph_weight=0.3,
        top_k=15,
        graph_start_id="0",
        graph_depth=2,
        round_scores=6,
    )


def q_hybrid_vector_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(v_w, g_w) = (1, 0): must reproduce vector-only ordering."""
    nodes, emb, edges = model(spark, sf_dir)
    return hybrid.hybrid_search(
        nodes,
        emb,
        edges,
        query_vec(spark, sf_dir),
        vector_weight=1.0,
        graph_weight=0.0,
        top_k=15,
        graph_start_id=None,
        round_scores=6,
    )


def q_hybrid_graph_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(v_w, g_w) = (0, 1): final == graph_score, unreached drop out."""
    nodes, emb, edges = model(spark, sf_dir)
    return hybrid.hybrid_search(
        nodes,
        emb,
        edges,
        query_vec(spark, sf_dir),
        vector_weight=0.0,
        graph_weight=1.0,
        top_k=15,
        graph_start_id="0",
        graph_depth=2,
        round_scores=6,
    )


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF-promised RRF fusion of vector + BM25 + graph (extension —
    the reference code never ships it; SURVEY §4.8.3)."""
    nodes, emb, edges = model(spark, sf_dir)
    return hybrid.rrf_hybrid(
        nodes,
        emb,
        edges,
        query_vec(spark, sf_dir),
        BM25_QUERY,
        graph_start_id="0",
        graph_depth=2,
        top_k=15,
    )


_TOK = SQL_TOKENS.format(col="text")
_QTOK = SQL_TOKENS.format(col=f"'{BM25_QUERY}'")

# The query batch for bm25_topk_multi: same stats CTEs, one shared
# corpus pass, three queries scored together. Every query anchors on
# 'dup' — the corpus's only rare term (df 5%); all other terms have
# NEGATIVE floored idf in this tiny-vocabulary harness corpus, so a
# query without a rare term scores ≤0 everywhere and returns empty
# (faithful to the reference's positive-score drop). The differing
# common-term companions give each query a distinct ranking.
BM25_MULTI_QUERIES = {
    "q1": BM25_QUERY,
    "q2": "dup scan table value",
    "q3": "dup the merge merge",
}

def _bm25_stats_ctes(src: str = "nodes") -> str:
    """The shared BM25 corpus-statistics CTE block, parameterized by
    the source table/CTE (``nodes`` for the full corpus, ``reps`` for
    a deduped representative set) so variants never rely on textual
    rewriting of the SQL."""
    return f""",
toks AS (SELECT id, unnest({_TOK}) AS tok FROM {src}),
dl AS (SELECT id, len({_TOK}) AS dl FROM {src}),
tf AS (SELECT id, tok, count(*) AS tf FROM toks GROUP BY id, tok),
dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM {src}),
rawidf AS (SELECT tok, ln(n - df + 0.5) - ln(df + 0.5) AS raw FROM dfreq, nn),
avgidf AS (SELECT avg(raw) AS a FROM rawidf),
idf AS (SELECT tok, CASE WHEN raw < 0 THEN 0.25 * a ELSE raw END AS idf
        FROM rawidf, avgidf),
avgdl AS (SELECT avg(dl) AS avgdl FROM dl)"""


_BM25_STATS_CTES = _bm25_stats_ctes()

_BM25_CTES = _BM25_STATS_CTES + f""",
qt AS (SELECT tok, count(*) AS qcnt
       FROM (SELECT unnest({_QTOK}) AS tok) GROUP BY tok),
contrib AS (
  SELECT tf.id,
         sum(qt.qcnt * idf.idf * (tf.tf * (1.5 + 1))
             / (tf.tf + 1.5 * (1 - 0.75 + 0.75 * dl.dl / avgdl.avgdl)))
           AS score
  FROM tf
  JOIN qt USING (tok)
  JOIN idf USING (tok)
  JOIN dl USING (id), avgdl
  GROUP BY tf.id
)"""

_HYBRID_SQL_TMPL = (
    ORACLE_PRELUDE
    + SQL_SCORED
    + "{bfs}"
    + """,
bounds AS (SELECT min(score) AS mn, max(score) AS mx FROM scored),
vec AS (
  SELECT id, CASE WHEN mx = mn THEN 1.0
             ELSE (score - mn) / (mx - mn) END AS vec_norm
  FROM scored, bounds
),
g AS ({graph_scores}),
fused AS (
  SELECT n.id, n.text,
         round(coalesce(v.vec_norm, 0.0), 6) AS vector_score,
         round(coalesce(g.g_score, 0.0), 6) AS graph_score,
         round({vw} * coalesce(v.vec_norm, 0.0)
               + {gw} * coalesce(g.g_score, 0.0), 6) AS final_score
  FROM nodes n
  LEFT JOIN vec v ON v.id = n.id
  LEFT JOIN g ON g.id = n.id
)
SELECT * FROM fused WHERE final_score > 0
ORDER BY final_score DESC, id ASC LIMIT {k}"""
)

_G_SCORES_D2 = """
  SELECT b.id,
         CASE WHEN b.id = '0' THEN 1.0
         ELSE ((2 - b.distance + 1) / 3.0)
              * (0.5 + 0.5 * CASE WHEN m.mw > 0
                             THEN b.path_weight / m.mw ELSE 0.0 END)
         END AS g_score
  FROM bfsr b, (SELECT max(path_weight) AS mw FROM bfsr) m"""

_G_SCORES_NONE = "SELECT CAST(NULL AS VARCHAR) AS id, 0.0 AS g_score WHERE 1 = 0"

QUERIES = {
    "vector_topk": q_vector_topk,
    "vector_topk_filtered": q_vector_topk_filtered,
    "bm25_score": q_bm25_score,
    "bm25_topk": q_bm25_topk,
    "bm25_topk_indexed": q_bm25_topk_indexed,
    "bm25_topk_multi": q_bm25_topk_multi,
    "hybrid_search": q_hybrid_search,
    "hybrid_vector_only": q_hybrid_vector_only,
    "hybrid_graph_only": q_hybrid_graph_only,
    "hybrid_rrf": q_hybrid_rrf,
}

ORACLES = {
    "vector_topk": ORACLE_PRELUDE
    + SQL_SCORED
    + """
SELECT s.id, n.text, round(s.score, 6) AS score
FROM scored s JOIN nodes n ON n.id = s.id
ORDER BY round(s.score, 6) DESC, s.id ASC LIMIT 10""",
    "vector_topk_filtered": ORACLE_PRELUDE
    + SQL_SCORED
    + """
SELECT s.id, n.text, round(s.score, 6) AS score
FROM scored s JOIN nodes n ON n.id = s.id
WHERE n.lang = 'en'
ORDER BY round(s.score, 6) DESC, s.id ASC LIMIT 10""",
    "bm25_score": ORACLE_PRELUDE
    + _BM25_CTES
    + """
SELECT n.id, round(coalesce(c.score, 0.0), 6) AS score
FROM nodes n LEFT JOIN contrib c ON c.id = n.id ORDER BY n.id""",
    "bm25_topk": ORACLE_PRELUDE
    + _BM25_CTES
    + """
SELECT n.id, n.text, round(c.score, 6) AS score
FROM contrib c JOIN nodes n ON n.id = c.id
WHERE round(c.score, 6) > 0
ORDER BY round(c.score, 6) DESC, n.id ASC LIMIT 15""",
    # Staging changes the physical plan only — same result contract.
    "bm25_topk_indexed": ORACLE_PRELUDE
    + _BM25_CTES
    + """
SELECT n.id, n.text, round(c.score, 6) AS score
FROM contrib c JOIN nodes n ON n.id = c.id
WHERE round(c.score, 6) > 0
ORDER BY round(c.score, 6) DESC, n.id ASC LIMIT 15""",
    "bm25_topk_multi": _bm25_multi_sql(BM25_MULTI_QUERIES, 10),
    "hybrid_search": _HYBRID_SQL_TMPL.format(
        bfs=sql_bfs_cte("0", 2), graph_scores=_G_SCORES_D2, vw=0.7, gw=0.3, k=15
    ),
    "hybrid_vector_only": _HYBRID_SQL_TMPL.format(
        bfs="", graph_scores=_G_SCORES_NONE, vw=1.0, gw=0.0, k=15
    ),
    "hybrid_graph_only": _HYBRID_SQL_TMPL.format(
        bfs=sql_bfs_cte("0", 2), graph_scores=_G_SCORES_D2, vw=0.0, gw=1.0, k=15
    ),
    "hybrid_rrf": ORACLE_PRELUDE
    + SQL_SCORED
    + _BM25_CTES
    + sql_bfs_cte("0", 2)
    + """,
gsc AS (
  SELECT b.id,
         CASE WHEN b.id = '0' THEN 1.0
         ELSE ((2 - b.distance + 1) / 3.0)
              * (0.5 + 0.5 * CASE WHEN m.mw > 0
                             THEN b.path_weight / m.mw ELSE 0.0 END)
         END AS g_score
  FROM bfsr b, (SELECT max(path_weight) AS mw FROM bfsr) m
),
vr AS (
  SELECT id, row_number() OVER (ORDER BY s DESC, id ASC) AS r FROM (
    SELECT id, round(score, 6) AS s FROM scored
    ORDER BY round(score, 6) DESC, id ASC LIMIT 100)
),
br AS (
  SELECT id, row_number() OVER (ORDER BY s DESC, id ASC) AS r FROM (
    SELECT id, round(score, 6) AS s FROM contrib
    WHERE round(score, 6) > 0
    ORDER BY round(score, 6) DESC, id ASC LIMIT 100)
),
gr AS (
  SELECT id, row_number() OVER (ORDER BY s DESC, id ASC) AS r FROM (
    SELECT id, round(g_score, 6) AS s FROM gsc
    ORDER BY round(g_score, 6) DESC, id ASC LIMIT 100)
),
fused AS (
  SELECT n.id, n.text,
         floor((coalesce(1.0 / (60 + vr.r), 0.0)
                + coalesce(1.0 / (60 + br.r), 0.0)
                + coalesce(1.0 / (60 + gr.r), 0.0)) * 1000000.0 + 0.5)
           / 1000000.0 AS rrf_score
  FROM nodes n
  LEFT JOIN vr ON vr.id = n.id
  LEFT JOIN br ON br.id = n.id
  LEFT JOIN gr ON gr.id = n.id
)
SELECT * FROM fused WHERE rrf_score > 0
ORDER BY rrf_score DESC, id ASC LIMIT 15""",
}


PHRASE = ["table", "hash"]


def q_bm25_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bm25 import phrase_search

    nodes, _, _ = model(spark, sf_dir)
    return phrase_search(nodes, PHRASE, k=20)


QUERIES["bm25_phrase_search"] = q_bm25_phrase_search
_TOKS = f""",
toks AS (
  SELECT id, {SQL_TOKENS.format(col='text')} AS t
  FROM nodes
)"""

ORACLES["bm25_phrase_search"] = ORACLE_PRELUDE + _TOKS + f""",
posting AS (
  SELECT id, t[i.i] AS tok, i.i - 1 AS pos
  FROM toks CROSS JOIN LATERAL (
    SELECT unnest(generate_series(1, len(t))) AS i) i
),
m AS (
  SELECT a.id, count(*) AS n_occurrences
  FROM (SELECT id, pos FROM posting WHERE tok = '{PHRASE[0]}') a
  JOIN (SELECT id, pos - 1 AS pos FROM posting
        WHERE tok = '{PHRASE[1]}') b
    ON b.id = a.id AND b.pos = a.pos
  GROUP BY a.id
)
SELECT id, n_occurrences,
       CAST(row_number() OVER (ORDER BY n_occurrences DESC, id ASC) AS INT)
         AS rnk
FROM m
ORDER BY n_occurrences DESC, id ASC
LIMIT 20"""


HYBRID_SWEEP_WEIGHTS = (0.0, 0.25, 0.5, 0.75, 1.0)  # vector weight


def q_hybrid_weight_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hybrid-fusion tuning curve → one row per vector weight
    (vector_weight, n_results, n_vec_overlap, n_graph_overlap): the
    flagship fusion's ONE knob — how much the blended top-15 agrees
    with its two pure endpoints as the weight slides from graph-only
    (0.0) to vector-only (1.0). The counts quantify the handoff an
    operator tunes by feel today: where the blend stops tracking the
    graph neighborhood and starts tracking the embedding space
    (companions: ann_ivf_nprobe_sweep, dedup_minhash_band_sweep —
    every approximate/fused family now ships its tuning curve).

    Scale shape: ONE embeddings scoring pass and ONE depth-2 BFS for
    the whole sweep — the (id, vec_norm, g_score) frame is
    hybrid_search's own components (hybrid._components),
    pre-filtered to the rows any weight can rank (either component
    > 0; final<=0 rows are dropped by hybrid semantics regardless of
    weight) and localCheckpointed ONCE. Every sweep point reweights
    that checkpointed frame and takes a top-15
    (TakeOrderedAndProject) — no per-weight rescan of anything
    corpus-sized. Per-weight semantics stay byte-identical to
    hybrid.hybrid_search (reference app.py:657-736: unrounded fuse,
    round 6dp, drop final<=0, sort desc/id asc, truncate 15).
    Overlap counts are 15-row broadcast joins. The oracle replays
    all five fusions from one shared scored/BFS scaffold; integer
    counts, no float parity surface beyond the fusion arithmetic
    itself."""
    import pyspark.sql.functions as F
    from functools import reduce

    from ..operators import graph as graph_ops

    nodes, emb, edges = model(spark, sf_dir)
    # build cost of the WHOLE entry: hybrid_search's components, one
    # embeddings scoring pass and one depth-2 BFS
    scored = (
        hybrid._components(
            nodes,
            emb,
            query_vec(spark, sf_dir),
            graph_ops.graph_bfs(edges, "0", 2),
            2,
        )
        .select(
            "id",
            F.col("vector_score").alias("vec_norm"),
            F.col("graph_score").alias("g_score"),
        )
        .filter((F.col("vec_norm") > 0) | (F.col("g_score") > 0))
        .localCheckpoint(eager=True)
    )

    def top_ids(vw: float) -> DataFrame:
        return (
            scored.withColumn(
                "fs",
                F.round(
                    F.lit(vw) * F.col("vec_norm")
                    + F.lit(1.0 - vw) * F.col("g_score"),
                    6,
                ),
            )
            .filter(F.col("fs") > 0)
            .orderBy(F.desc("fs"), F.asc("id"))
            .limit(15)
            .select("id")
        )

    tops = {
        vw: top_ids(vw).localCheckpoint(eager=True)
        for vw in HYBRID_SWEEP_WEIGHTS
    }
    vec_ref = tops[1.0].withColumnRenamed("id", "vid")
    graph_ref = tops[0.0].withColumnRenamed("id", "gid")
    rows = []
    for vw in HYBRID_SWEEP_WEIGHTS:
        t = tops[vw]
        j = (
            t.join(
                F.broadcast(vec_ref), t["id"] == F.col("vid"), "left"
            ).join(
                F.broadcast(graph_ref), t["id"] == F.col("gid"), "left"
            )
        )
        rows.append(
            j.agg(
                F.count("*").cast("long").alias("n_results"),
                F.sum(F.when(F.col("vid").isNotNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_vec_overlap"),
                F.sum(F.when(F.col("gid").isNotNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_graph_overlap"),
            ).select(
                F.lit(vw).cast("double").alias("vector_weight"),
                "n_results",
                "n_vec_overlap",
                "n_graph_overlap",
            )
        )
    return reduce(lambda a, b: a.unionByName(b), rows)


QUERIES["hybrid_weight_sweep"] = q_hybrid_weight_sweep


def _hybrid_sweep_oracle() -> str:
    base = (
        ORACLE_PRELUDE
        + SQL_SCORED
        + sql_bfs_cte("0", 2)
        + f""",
bounds AS (SELECT min(score) AS mn, max(score) AS mx FROM scored),
vec AS (
  SELECT id, CASE WHEN mx = mn THEN 1.0
             ELSE (score - mn) / (mx - mn) END AS vec_norm
  FROM scored, bounds
),
g AS ({_G_SCORES_D2})"""
    )
    tags = []
    for vw in HYBRID_SWEEP_WEIGHTS:
        tag = str(vw).replace(".", "_")
        gw = 1.0 - vw
        base += f""",
fused{tag} AS (
  SELECT n.id,
         round({vw} * coalesce(v.vec_norm, 0.0)
               + {gw} * coalesce(g.g_score, 0.0), 6) AS fs
  FROM nodes n
  LEFT JOIN vec v ON v.id = n.id
  LEFT JOIN g ON g.id = n.id
),
top{tag} AS (
  SELECT id FROM (
    SELECT id, row_number() OVER (ORDER BY fs DESC, id ASC) AS rn
    FROM fused{tag} WHERE fs > 0
  ) WHERE rn <= 15
)"""
        tags.append((vw, tag))
    vtag = str(1.0).replace(".", "_")
    gtag = str(0.0).replace(".", "_")
    selects = [
        f"""SELECT CAST({vw} AS DOUBLE) AS vector_weight,
       CAST(count(*) AS BIGINT) AS n_results,
       CAST(sum(CASE WHEN vr.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_vec_overlap,
       CAST(sum(CASE WHEN gr.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_graph_overlap
FROM top{tag} t
LEFT JOIN top{vtag} vr ON vr.id = t.id
LEFT JOIN top{gtag} gr ON gr.id = t.id"""
        for vw, tag in tags
    ]
    return base + "\n" + "\nUNION ALL\n".join(selects)


ORACLES["hybrid_weight_sweep"] = _hybrid_sweep_oracle()


HYBRID_MULTI_QIDS = ["0", "100", "200"]


def q_hybrid_search_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched hybrid serving: 3 queries (each seeding both the
    vector side and the graph traversal from its own node) answered
    in ONE plan — one embeddings pass scores all query vectors, one
    multi-source BFS covers all traversals (Q traversals for the
    job count of one; see operators/hybrid.hybrid_search_multi
    and operators/graph.graph_bfs_multi). Per-query semantics are
    byte-identical to hybrid_search (reference app.py:657-736
    including the final>0 drop); the oracle replays each query's
    full single-query SQL and unions them."""
    nodes, emb, edges = model(spark, sf_dir)
    return hybrid.hybrid_search_multi(
        nodes,
        emb,
        edges,
        HYBRID_MULTI_QIDS,
        vector_weight=0.7,
        graph_weight=0.3,
        top_k=10,
        graph_depth=2,
        round_scores=6,
    )


def _hybrid_multi_sql(k: int = 10, vw: float = 0.7, gw: float = 0.3) -> str:
    from .common import sql_bfs_cte

    branches = []
    for qid in HYBRID_MULTI_QIDS:
        bfs_body = sql_bfs_cte(qid, 2).lstrip(",\n")
        branches.append(
            f"""
SELECT '{qid}' AS qid, f.* FROM (
  WITH RECURSIVE
  q AS (SELECT vector AS qvec FROM emb WHERE node_id = '{qid}'),
  scored AS MATERIALIZED (
    SELECT e.node_id AS id,
           list_dot_product(CAST(e.vector AS DOUBLE[]),
                            CAST(q.qvec AS DOUBLE[])) AS score
    FROM emb e, q WHERE len(e.vector) = len(q.qvec)
  ),
  bounds AS (SELECT min(score) AS mn, max(score) AS mx FROM scored),
  vec AS (
    SELECT id, CASE WHEN mx = mn THEN 1.0
               ELSE (score - mn) / (mx - mn) END AS vec_norm
    FROM scored, bounds
  ),
  {bfs_body},
  g AS (
    SELECT b.id,
           CASE WHEN b.id = '{qid}' THEN 1.0
           ELSE ((2 - b.distance + 1) / 3.0)
                * (0.5 + 0.5 * CASE WHEN m.mw > 0
                               THEN b.path_weight / m.mw ELSE 0.0 END)
           END AS g_score
    FROM bfsr b, (SELECT max(path_weight) AS mw FROM bfsr) m
  ),
  fused AS (
    SELECT n.id, n.text,
           round(coalesce(v.vec_norm, 0.0), 6) AS vector_score,
           round(coalesce(g.g_score, 0.0), 6) AS graph_score,
           round({vw} * coalesce(v.vec_norm, 0.0)
                 + {gw} * coalesce(g.g_score, 0.0), 6) AS final_score
    FROM nodes n
    LEFT JOIN vec v ON v.id = n.id
    LEFT JOIN g ON g.id = n.id
  )
  SELECT * FROM fused WHERE final_score > 0
  ORDER BY final_score DESC, id ASC LIMIT {k}
) f"""
        )
    return ORACLE_PRELUDE + "\n" + "\nUNION ALL\n".join(branches)


QUERIES["hybrid_search_multi"] = q_hybrid_search_multi
ORACLES["hybrid_search_multi"] = _hybrid_multi_sql()


def q_vector_topk_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched brute-force vector serving: the same 3-query batch as
    hybrid_search_multi through vector_topk's exact semantics — one
    embeddings pass, per-query rank window (see
    operators/vector_search.vector_topk_multi). Completes the batched
    deployment trio: bm25_topk_multi / hybrid_search_multi /
    vector_topk_multi."""
    nodes, emb, _ = model(spark, sf_dir)
    return vector_search.vector_topk_multi(
        nodes, emb, HYBRID_MULTI_QIDS, top_k=10, round_scores=6
    )


def _vector_multi_sql(k: int = 10) -> str:
    branches = []
    for qid in HYBRID_MULTI_QIDS:
        branches.append(
            f"""
SELECT '{qid}' AS qid, f.* FROM (
  WITH q AS (SELECT vector AS qvec FROM emb WHERE node_id = '{qid}'),
  scored AS (
    SELECT e.node_id AS id,
           round(list_dot_product(CAST(e.vector AS DOUBLE[]),
                                  CAST(q.qvec AS DOUBLE[])), 6) AS score
    FROM emb e, q WHERE len(e.vector) = len(q.qvec)
  )
  SELECT s.id, n.text, s.score
  FROM scored s JOIN nodes n ON n.id = s.id
  ORDER BY s.score DESC, s.id ASC LIMIT {k}
) f"""
        )
    return ORACLE_PRELUDE + "\n" + "\nUNION ALL\n".join(branches)


QUERIES["vector_topk_multi"] = q_vector_topk_multi
ORACLES["vector_topk_multi"] = _vector_multi_sql()


BM25_NEG_POOL = 50  # candidate pool the negatives are mined from


def _mine_negatives(pool: DataFrame, docs: DataFrame) -> DataFrame:
    """Top-5 negatives per query from a BM25 pool: the pool's top-1 is
    the positive, negatives are the next-ranked docs from another
    source (``docs`` carries ``source``)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("id"))
    ranked = pool.withColumn("rn", F.row_number().over(w)).join(
        docs.select("id", "source"), "id"
    )
    pos = ranked.filter(F.col("rn") == 1).select(
        "qid", F.col("source").alias("psrc")
    )
    negs = (
        ranked.filter(F.col("rn") > 1)
        .join(F.broadcast(pos), "qid")
        .filter(F.col("source") != F.col("psrc"))
    )
    return (
        negs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("qid", "id", "score", "rnk")
    )


def q_bm25_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical hard negatives (the DPR training recipe) →
    (qid, id, score, rnk): per query, the top-1 BM25 hit is taken as
    the POSITIVE; the next-ranked documents from a DIFFERENT source
    than that positive are the mined negatives (top-5) — lexically
    close enough to be hard, cross-domain by metadata so they are
    (almost surely) not unlabeled positives. The embedding twin is
    ann_hard_negatives; together they cover both retrieval families'
    negative-mining step. Negatives are drawn from the top-50
    candidate pool by contract (real miners cap the pool too), which
    the oracle replays verbatim.

    Scale shape: one batched scoring pass over the staged posting
    frame (bm25_topk_multi's plan — Q queries, ONE corpus scan), the
    pool bounded per query by a WindowGroupLimit row_number, source
    metadata attached to the ≤50·|Q|-row pool (not the corpus), and
    the positive's source re-joined as a |Q|-row broadcast."""
    nodes, _, _ = model(spark, sf_dir)
    pool = bm25.bm25_topk_multi(
        nodes,
        BM25_MULTI_QUERIES,
        top_k=BM25_NEG_POOL,
        round_scores=6,
        stats=bm25.bm25_index_stage(spark, nodes, sf_dir),
    )
    return _mine_negatives(pool, nodes)


_REPS_CTE = """,
reps AS MATERIALIZED (
  SELECT n.* FROM nodes n
  JOIN (SELECT min(id) AS id FROM nodes GROUP BY text) k ON k.id = n.id
)"""


def _bm25_hard_negatives_oracle(src: str = "nodes") -> str:
    """Oracle twin of the miners over ``src``: the corpus (``nodes``)
    or its exact-dedup keepers (``reps``)."""
    return (
        ORACLE_PRELUDE
        + (_REPS_CTE if src == "reps" else "")
        + _bm25_batch_ctes(BM25_MULTI_QUERIES, src)
        + f""",
pool AS (
  SELECT qid, id, score, rn FROM (
    SELECT qid, id, score,
           row_number() OVER (PARTITION BY qid
                              ORDER BY score DESC, id ASC) AS rn
    FROM contrib WHERE score > 0
  ) WHERE rn <= {BM25_NEG_POOL}
),
ps AS (
  SELECT p.qid, n.source AS psrc
  FROM pool p JOIN {src} n ON n.id = p.id WHERE p.rn = 1
)
SELECT qid, id, score, rnk FROM (
  SELECT p.qid, p.id, p.score,
         row_number() OVER (PARTITION BY p.qid
                            ORDER BY p.score DESC, p.id ASC) AS rnk
  FROM pool p
  JOIN {src} n ON n.id = p.id
  JOIN ps ON ps.qid = p.qid
  WHERE p.rn > 1 AND n.source <> ps.psrc
) WHERE rnk <= 5"""
    )


QUERIES["bm25_hard_negatives"] = q_bm25_hard_negatives
ORACLES["bm25_hard_negatives"] = _bm25_hard_negatives_oracle()


def q_bm25_hard_negatives_deduped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duplication-robust lexical hard negatives → (qid, id, score,
    rnk): EXACT-DEDUP the corpus first (content keeper = min id per
    text, the exact_dedup contract), recompute the BM25 statistics
    (df, N, avgdl) over keepers — the honest post-dedup collection
    stats — then mine exactly as bm25_hard_negatives.

    Motivated by the round-7 sf10 finding (SCALING.md): on a corpus
    with 100 verbatim replicas per doc, the contract-bounded top-50
    pool fills with identical-score copies sharing the positive's
    source and the cross-source filter STARVES (bm25_hard_negatives
    returns 0 rows at 100× duplication). Mining after dedup is
    duplication-invariant by construction — the pipeline-ordering
    lesson (dedup BEFORE mining) as an oracled entry.

    Scale shape: bm25_hard_negatives plus one content groupBy and a
    keeper semi-join; everything downstream runs on the deduped
    corpus, which only shrinks."""
    from pyspark.sql import functions as F

    nodes, _, _ = model(spark, sf_dir)
    keepers = nodes.groupBy("text").agg(F.min("id").alias("id"))
    reps = nodes.join(keepers.select("id"), "id", "left_semi")
    # postings are row-local per doc, so the keeper subset serves
    # from the SAME staged posting frame (one tokenize per corpus);
    # df/N/avgdl are re-aggregated over keepers only — the honest
    # post-dedup collection stats, exactly stats over reps
    posting = bm25.staged_posting_frame(spark, nodes, sf_dir).join(
        keepers.select("id"), "id", "left_semi"
    )
    pool = bm25.bm25_topk_multi(
        reps,
        BM25_MULTI_QUERIES,
        top_k=BM25_NEG_POOL,
        round_scores=6,
        stats=bm25.stats_from_posting(posting),
    )
    return _mine_negatives(pool, reps)


QUERIES["bm25_hard_negatives_deduped"] = q_bm25_hard_negatives_deduped
ORACLES["bm25_hard_negatives_deduped"] = _bm25_hard_negatives_oracle("reps")

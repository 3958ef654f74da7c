"""Graph-analytics queries (SURVEY §7.4 extension).

Oracles: PageRank's fixed iteration count lets the DuckDB twin be
UNROLLED — pr0..prK as sequential CTEs, each one aggregate join of
the previous — so even the iterative algorithm gets a full
value-hash check. Connected components uses recursive undirected
reachability (UNION-distinct recursion terminates on cyclic graphs);
SSSP reuses the bounded-walk CTE with min() instead of the BFS rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.analytics import (
    connected_components,
    hyperanf,
    incremental_components,
    jaccard_link_prediction,
    label_propagation,
    modularity,
    degrees,
    kcore_peel,
    neighbor_embedding_agg,
    pagerank,
    square_count,
    sssp_k,
    triangle_count,
)
from .common import ORACLE_PRELUDE, model, sql_bfs_cte

PR_ITERS = 5
PR_DAMPING = 0.85
SSSP_HOPS = 4


def q_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, edges = model(spark, sf_dir)
    return degrees(edges)


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, edges = model(spark, sf_dir)
    ranks = pagerank(
        nodes.select("id"), edges, iterations=PR_ITERS, damping=PR_DAMPING
    )
    return ranks.select("id", F.round("rank", 6).alias("rank"))


def q_graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Components of the 'author_of' subgraph over all nodes (the full
    edge set is one chain-connected component — the typed subgraph
    exercises real multi-component structure)."""
    nodes, _, edges = model(spark, sf_dir)
    return connected_components(
        nodes.select("id"), edges.filter(F.col("type") == "author_of")
    )


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, edges = model(spark, sf_dir)
    return triangle_count(edges)


def q_graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, edges = model(spark, sf_dir)
    return sssp_k(edges, "0", SSSP_HOPS).select(
        "id", F.round("min_weight", 6).alias("min_weight")
    )


def q_graph_neighbor_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, emb, edges = model(spark, sf_dir)
    return neighbor_embedding_agg(edges, emb, dim=64)


KCORE_K = 2
KCORE_ROUNDS = 4


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, edges = model(spark, sf_dir)
    return kcore_peel(edges, k=KCORE_K, rounds=KCORE_ROUNDS)


def _pagerank_sql() -> str:
    d = PR_DAMPING
    ctes = [
        """,
verts AS (SELECT id FROM nodes),
nv AS (SELECT count(*) AS n FROM verts),
outw AS (SELECT src AS id, sum(weight) AS w FROM edges GROUP BY src),
shares AS (
  SELECT e.src, e.dst, e.weight / o.w AS share
  FROM edges e JOIN outw o ON o.id = e.src
),
pr0 AS (SELECT v.id, 1.0 / nv.n AS rank FROM verts v, nv)"""
    ]
    for i in range(1, PR_ITERS + 1):
        p = i - 1
        ctes.append(
            f""",
pr{i} AS (
  SELECT v.id,
         (1 - {d}) / nv.n
         + {d} * (COALESCE(c.contrib, 0) + dg.mass / nv.n) AS rank
  FROM verts v
  CROSS JOIN nv
  CROSS JOIN (
    SELECT COALESCE(sum(p.rank), 0) AS mass FROM pr{p} p
    WHERE NOT EXISTS (SELECT 1 FROM outw o WHERE o.id = p.id)
  ) dg
  LEFT JOIN (
    SELECT s.dst AS id, sum(p.rank * s.share) AS contrib
    FROM shares s JOIN pr{p} p ON p.id = s.src GROUP BY s.dst
  ) c ON c.id = v.id
)"""
        )
    return (
        ORACLE_PRELUDE
        + "".join(ctes)
        + f"\nSELECT id, round(rank, 6) AS rank FROM pr{PR_ITERS}"
    )


QUERIES = {
    "graph_degrees": q_graph_degrees,
    "graph_pagerank": q_graph_pagerank,
    "graph_connected_components": q_graph_connected_components,
    "graph_triangles": q_graph_triangles,
    "graph_sssp": q_graph_sssp,
    "graph_neighbor_agg": q_graph_neighbor_agg,
    "graph_kcore": q_graph_kcore,
}

ORACLES = {
    "graph_degrees": ORACLE_PRELUDE
    + """
SELECT COALESCE(o.id, i.id) AS id,
       COALESCE(o.out_degree, 0) AS out_degree,
       COALESCE(i.in_degree, 0) AS in_degree,
       COALESCE(o.out_degree, 0) + COALESCE(i.in_degree, 0) AS degree
FROM (SELECT src AS id, count(*) AS out_degree FROM edges GROUP BY src) o
FULL OUTER JOIN
     (SELECT dst AS id, count(*) AS in_degree FROM edges GROUP BY dst) i
ON o.id = i.id""",
    "graph_pagerank": _pagerank_sql(),
    "graph_connected_components": ORACLE_PRELUDE
    + """,
verts AS (SELECT id FROM nodes),
aedges AS (SELECT src, dst FROM edges WHERE type = 'author_of'),
sym AS (SELECT src, dst FROM aedges UNION SELECT dst, src FROM aedges),
reach AS (
  SELECT id AS root, id AS node FROM verts
  UNION
  SELECT r.root, s.dst FROM reach r JOIN sym s ON s.src = r.node
)
SELECT root AS id, min(node) AS component FROM reach GROUP BY root""",
    "graph_triangles": ORACLE_PRELUDE
    + """,
canon AS (
  SELECT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst GROUP BY 1, 2
)
SELECT count(*) AS n_triangles
FROM canon e1
JOIN canon e2 ON e2.a = e1.b
JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b""",
    "graph_sssp": ORACLE_PRELUDE
    + sql_bfs_cte("0", SSSP_HOPS)
    + """
SELECT id, round(min(w), 6) AS min_weight FROM walk GROUP BY id""",
    "graph_kcore": None,  # assigned below (unrolled rounds)
    "graph_neighbor_agg": ORACLE_PRELUDE
    + """,
dv AS (
  SELECT node_id, CAST(vector AS DOUBLE[]) AS v
  FROM emb WHERE len(vector) = 64
)
SELECT e.src AS id, i.i - 1 AS idx,
       floor((sum(e.weight * dv.v[i.i]) / sum(e.weight))
             * 1000000.0 + 0.5) / 1000000.0 AS nvec
FROM edges e
JOIN dv ON dv.node_id = e.dst
CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(dv.v))) AS i) i
GROUP BY e.src, i.i""",
}


def _kcore_sql(k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> str:
    """Unrolled peel rounds — the same fixed-iteration trick as the
    PageRank oracle: d{t}/k{t}/s{t+1} per round.

    NOTE: inside a WITH RECURSIVE block DuckDB 1.0 executes a CTE's
    bare UNION with union-all semantics, so the symmetrization
    dedupes EXPLICITLY (UNION ALL + DISTINCT) — a bare UNION here
    double-counts every reciprocal edge pair's degree."""
    ctes = [
        """,
s0 AS (SELECT DISTINCT src, dst FROM
       (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges))"""
    ]
    for t in range(rounds):
        ctes.append(
            f""",
d{t} AS (SELECT src, count(*) AS c FROM s{t} GROUP BY src),
k{t} AS (SELECT src FROM d{t} WHERE c >= {k}),
s{t + 1} AS (
  SELECT e.src, e.dst FROM s{t} e
  JOIN k{t} a ON a.src = e.src
  JOIN k{t} b ON b.src = e.dst)"""
        )
    return (
        ORACLE_PRELUDE
        + "".join(ctes)
        + f"\nSELECT src AS id, count(*) AS degree FROM s{rounds} GROUP BY src"
    )


ORACLES["graph_kcore"] = _kcore_sql()


LPA_ROUNDS = 3
LINKPRED_TOPK = 20


def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, edges = model(spark, sf_dir)
    return label_propagation(nodes.select("id"), edges, rounds=LPA_ROUNDS)


def q_graph_jaccard_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, edges = model(spark, sf_dir)
    return jaccard_link_prediction(edges, top_k=LINKPRED_TOPK)


def _lpa_ctes(rounds: int = LPA_ROUNDS) -> str:
    """Unrolled synchronous LPA rounds — v{t} votes / w{t} winner /
    l{t} labels per round, the same fixed-iteration twin trick as the
    PageRank and k-core oracles. DISTINCT is explicit in sym (bare
    UNION inside a WITH RECURSIVE block has union-all semantics in
    DuckDB 1.0 — see _kcore_sql)."""
    ctes = [
        """,
sym AS (SELECT DISTINCT src, dst FROM
        (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)
        WHERE src <> dst),
l0 AS (SELECT id, id AS label FROM nodes)"""
    ]
    for t in range(1, rounds + 1):
        p = t - 1
        ctes.append(
            f""",
v{t} AS (
  SELECT s.src AS id, l.label, count(*) AS c
  FROM sym s JOIN l{p} l ON l.id = s.dst
  GROUP BY s.src, l.label),
w{t} AS (
  SELECT id, label FROM (
    SELECT id, label,
           row_number() OVER (PARTITION BY id
                              ORDER BY c DESC, label ASC) AS rn
    FROM v{t}) WHERE rn = 1),
l{t} AS (
  SELECT p.id, COALESCE(w.label, p.label) AS label
  FROM l{p} p LEFT JOIN w{t} w ON w.id = p.id)"""
        )
    return "".join(ctes)


def _lpa_sql(rounds: int = LPA_ROUNDS) -> str:
    return (
        ORACLE_PRELUDE
        + _lpa_ctes(rounds)
        + f"\nSELECT id, label FROM l{rounds}"
    )


QUERIES["graph_label_propagation"] = q_graph_label_propagation
QUERIES["graph_jaccard_linkpred"] = q_graph_jaccard_linkpred

ORACLES["graph_label_propagation"] = _lpa_sql()
ORACLES["graph_jaccard_linkpred"] = ORACLE_PRELUDE + f""",
sym AS (SELECT DISTINCT src, dst FROM
        (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)
        WHERE src <> dst),
deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
common AS (
  SELECT a.src AS a, b.src AS b, count(*) AS common
  FROM sym a JOIN sym b ON a.dst = b.dst AND a.src < b.src
  GROUP BY a.src, b.src),
cand AS (
  SELECT c.a, c.b, c.common FROM common c
  WHERE NOT EXISTS (SELECT 1 FROM sym s WHERE s.src = c.a AND s.dst = c.b))
SELECT c.a AS src, c.b AS dst, c.common,
       floor(CAST(c.common AS DOUBLE) / (da.deg + db.deg - c.common)
             * 1000000.0 + 0.5) / 1000000.0 AS jaccard
FROM cand c
JOIN deg da ON da.src = c.a
JOIN deg db ON db.src = c.b
ORDER BY jaccard DESC, src ASC, dst ASC LIMIT {LINKPRED_TOPK}"""


PPR_SOURCE = "0"


def q_graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, edges = model(spark, sf_dir)
    ranks = pagerank(
        nodes.select("id"),
        edges,
        iterations=PR_ITERS,
        damping=PR_DAMPING,
        source=PPR_SOURCE,
    )
    return ranks.select(
        "id",
        (F.floor(F.col("rank") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "rank"
        ),
    )


def q_graph_lpa_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity of the LPA communities after LPA_ROUNDS rounds —
    community detection plus its quality score in one verified
    plan (communities counted = labels touching ≥1 edge)."""
    nodes, _, edges = model(spark, sf_dir)
    labels = label_propagation(nodes.select("id"), edges, rounds=LPA_ROUNDS)
    return modularity(edges, labels)


def _ppr_sql(rounds: int = PR_ITERS) -> str:
    """Unrolled PPR — same skeleton as _pagerank_sql but every
    teleport (and the dangling return) lands on the source node."""
    d = PR_DAMPING
    src = PPR_SOURCE
    ctes = [
        f""",
verts AS (SELECT id FROM nodes),
outw AS (SELECT src AS id, sum(weight) AS w FROM edges GROUP BY src),
shares AS (
  SELECT e.src, e.dst, e.weight / o.w AS share
  FROM edges e JOIN outw o ON o.id = e.src
),
pr0 AS (SELECT v.id, CASE WHEN v.id = '{src}' THEN 1.0 ELSE 0.0 END AS rank
        FROM verts v)"""
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        ctes.append(
            f""",
pr{i} AS (
  SELECT v.id,
         (1 - {d}) * (CASE WHEN v.id = '{src}' THEN 1.0 ELSE 0.0 END)
         + {d} * (COALESCE(c.contrib, 0)
                  + dg.mass * (CASE WHEN v.id = '{src}' THEN 1.0
                               ELSE 0.0 END)) AS rank
  FROM verts v
  CROSS JOIN (
    SELECT COALESCE(sum(p.rank), 0) AS mass FROM pr{p} p
    WHERE NOT EXISTS (SELECT 1 FROM outw o WHERE o.id = p.id)
  ) dg
  LEFT JOIN (
    SELECT s.dst AS id, sum(p.rank * s.share) AS contrib
    FROM shares s JOIN pr{p} p ON p.id = s.src GROUP BY s.dst
  ) c ON c.id = v.id
)"""
        )
    return (
        ORACLE_PRELUDE
        + "".join(ctes)
        + f"""
SELECT id, floor(rank * 1000000.0 + 0.5) / 1000000.0 AS rank
FROM pr{rounds}"""
    )


def _lpa_modularity_sql(rounds: int = LPA_ROUNDS) -> str:
    return (
        ORACLE_PRELUDE
        + _lpa_ctes(rounds)
        + f""",
canon AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst),
lab AS MATERIALIZED (
  SELECT c.a, c.b, la.label AS ca, lb.label AS cb
  FROM canon c
  JOIN l{rounds} la ON la.id = c.a
  JOIN l{rounds} lb ON lb.id = c.b),
mm AS (SELECT count(*) AS m FROM lab),
intra AS (SELECT ca AS label, count(*) AS e_c FROM lab
          WHERE ca = cb GROUP BY ca),
deg AS (SELECT label, count(*) AS deg_c FROM
        (SELECT a AS id, ca AS label FROM lab
         UNION ALL SELECT b, cb FROM lab) GROUP BY label),
perc AS (
  SELECT d.label, COALESCE(i.e_c, 0) AS e_c, d.deg_c
  FROM deg d LEFT JOIN intra i ON i.label = d.label)
SELECT count(*) AS n_communities,
       CAST(sum(e_c) AS BIGINT) AS n_intra_edges,
       floor(sum(e_c * 1.0 / mm.m
                 - (deg_c * 1.0 / (2.0 * mm.m))
                   * (deg_c * 1.0 / (2.0 * mm.m)))
             * 1000000.0 + 0.5) / 1000000.0 AS modularity
FROM perc, mm GROUP BY mm.m"""
    )


QUERIES["graph_ppr"] = q_graph_ppr
QUERIES["graph_lpa_modularity"] = q_graph_lpa_modularity
ORACLES["graph_ppr"] = _ppr_sql()
ORACLES["graph_lpa_modularity"] = _lpa_modularity_sql()


HITS_ITERS = 5
AA_TOPK = 20


def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.analytics import hits

    nodes, _, edges = model(spark, sf_dir)
    hs = hits(nodes.select("id"), edges, iterations=HITS_ITERS)
    r6 = lambda c: F.floor(F.col(c) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return hs.select("id", r6("hub").alias("hub"), r6("authority").alias("authority"))


def q_graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.analytics import clustering_coefficient

    _, _, edges = model(spark, sf_dir)
    return clustering_coefficient(edges)


def q_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.analytics import adamic_adar_link_prediction

    _, _, edges = model(spark, sf_dir)
    return adamic_adar_link_prediction(edges, top_k=AA_TOPK)


def _hits_sql(rounds: int = HITS_ITERS) -> str:
    """Unrolled HITS — ar/at/a (authority raw/total/normalized) and
    hr/ht/h (hub) CTE triples per round, the same fixed-iteration
    twin trick as _pagerank_sql."""
    ctes = [
        """,
adj AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
verts AS MATERIALIZED (SELECT id FROM nodes),
nv AS MATERIALIZED (SELECT count(*) AS n FROM verts),
h0 AS MATERIALIZED (SELECT v.id, 1.0 / nv.n AS hub FROM verts v, nv)"""
    ]
    for t in range(1, rounds + 1):
        p = t - 1
        ctes.append(
            f""",
ar{t} AS MATERIALIZED (SELECT a.dst AS id, sum(h.hub) AS raw
          FROM adj a JOIN h{p} h ON h.id = a.src GROUP BY a.dst),
at{t} AS MATERIALIZED (SELECT COALESCE(sum(raw), 1.0) AS tot FROM ar{t}),
a{t} AS MATERIALIZED (SELECT v.id, COALESCE(r.raw, 0) / t.tot AS authority
         FROM verts v CROSS JOIN at{t} t
         LEFT JOIN ar{t} r ON r.id = v.id),
hr{t} AS MATERIALIZED (SELECT a.src AS id, sum(x.authority) AS raw
          FROM adj a JOIN a{t} x ON x.id = a.dst GROUP BY a.src),
ht{t} AS MATERIALIZED (SELECT COALESCE(sum(raw), 1.0) AS tot FROM hr{t}),
h{t} AS MATERIALIZED (SELECT v.id, COALESCE(r.raw, 0) / t.tot AS hub
         FROM verts v CROSS JOIN ht{t} t
         LEFT JOIN hr{t} r ON r.id = v.id)"""
        )
    return (
        ORACLE_PRELUDE
        + "".join(ctes)
        + f"""
SELECT h.id,
       floor(h.hub * 1000000.0 + 0.5) / 1000000.0 AS hub,
       floor(a.authority * 1000000.0 + 0.5) / 1000000.0 AS authority
FROM h{rounds} h JOIN a{rounds} a ON a.id = h.id"""
    )


QUERIES["graph_hits"] = q_graph_hits
QUERIES["graph_clustering_coeff"] = q_graph_clustering_coeff
QUERIES["graph_adamic_adar"] = q_graph_adamic_adar

ORACLES["graph_hits"] = _hits_sql()
ORACLES["graph_clustering_coeff"] = ORACLE_PRELUDE + """,
canon AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b
          FROM edges WHERE src <> dst GROUP BY 1, 2),
deg AS (SELECT id, count(*) AS degree FROM
        (SELECT a AS id FROM canon UNION ALL SELECT b FROM canon)
        GROUP BY id),
tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM canon e1
        JOIN canon e2 ON e2.a = e1.b
        JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b),
tc AS (SELECT id, count(*) AS triangles FROM
       (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri) GROUP BY id)
SELECT d.id, d.degree, COALESCE(t.triangles, 0) AS triangles,
       CASE WHEN d.degree >= 2
            THEN floor(2.0 * COALESCE(t.triangles, 0)
                       / (d.degree * (d.degree - 1.0))
                       * 1000000.0 + 0.5) / 1000000.0
            ELSE 0.0 END AS coeff
FROM deg d LEFT JOIN tc t ON t.id = d.id"""
ORACLES["graph_adamic_adar"] = ORACLE_PRELUDE + f""",
sym AS (SELECT DISTINCT src, dst FROM
        (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)
        WHERE src <> dst),
deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
pairs AS (
  SELECT a.src AS a, b.src AS b, count(*) AS common,
         sum(1.0 / ln(d.deg)) AS aa_raw
  FROM sym a
  JOIN sym b ON a.dst = b.dst AND a.src < b.src
  JOIN deg d ON d.src = a.dst
  GROUP BY a.src, b.src),
cand AS (
  SELECT p.a, p.b, p.common, p.aa_raw FROM pairs p
  WHERE NOT EXISTS (SELECT 1 FROM sym s WHERE s.src = p.a AND s.dst = p.b))
SELECT a AS src, b AS dst, common,
       floor(aa_raw * 1000000.0 + 0.5) / 1000000.0 AS aa_score
FROM cand
ORDER BY aa_score DESC, src ASC, dst ASC LIMIT {AA_TOPK}"""


CLOSENESS_HOPS = 6
CLOSENESS_MOD = 100  # sources: ids divisible by this (deterministic sample)


def q_graph_closeness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.analytics import closeness_sampled

    nodes, _, edges = model(spark, sf_dir)
    sources = nodes.select("id").filter(
        F.col("id").cast("long") % CLOSENESS_MOD == 0
    )
    return closeness_sampled(edges, sources, max_hops=CLOSENESS_HOPS)


QUERIES["graph_closeness_sampled"] = q_graph_closeness_sampled
ORACLES["graph_closeness_sampled"] = ORACLE_PRELUDE + f""",
srcs AS (SELECT id FROM nodes WHERE CAST(id AS BIGINT) % {CLOSENESS_MOD} = 0),
walk AS (
  SELECT id AS root, id AS node, 0 AS dist FROM srcs
  UNION ALL
  SELECT w.root, e.dst, w.dist + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.dist < {CLOSENESS_HOPS}
),
md AS (SELECT root, node, min(dist) AS dist FROM walk GROUP BY root, node)
SELECT root AS id,
       CAST(count(*) - 1 AS BIGINT) AS n_reached,
       CASE WHEN sum(dist) > 0
            THEN floor((count(*) - 1) * 1.0 / sum(dist)
                       * 1000000.0 + 0.5) / 1000000.0
            ELSE 0.0 END AS closeness
FROM md GROUP BY root"""


BETW_HOPS = 4


def q_graph_betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.analytics import betweenness_sampled

    nodes, _, edges = model(spark, sf_dir)
    sources = nodes.select("id").filter(
        F.col("id").cast("long") % CLOSENESS_MOD == 0
    )
    return betweenness_sampled(edges, sources, max_hops=BETW_HOPS)


def _betweenness_sql(hops: int = BETW_HOPS) -> str:
    """Unrolled bounded-hop Brandes — forward σ levels l0..lH (each
    level's NOT EXISTS guards pin first-visit distance), then
    backward dependency CTEs bH-1..b0, the same fixed-iteration twin
    trick as the PageRank/HITS/k-core oracles. Everything referenced
    twice is MATERIALIZED (see the PCA oracle note: DuckDB re-inlines
    CTEs per reference and parallel float sums drift at scale)."""
    ctes = [
        f""",
srcs AS (SELECT id FROM nodes WHERE CAST(id AS BIGINT) % {CLOSENESS_MOD} = 0),
adj AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
l0 AS MATERIALIZED (
  SELECT id AS root, id AS node, CAST(1 AS DOUBLE) AS sig FROM srcs)"""
    ]
    for ell in range(1, hops + 1):
        guards = "\n    ".join(
            f"AND NOT EXISTS (SELECT 1 FROM l{p} s{p} "
            f"WHERE s{p}.root = p.root AND s{p}.node = a.dst)"
            for p in range(ell)
        )
        ctes.append(
            f""",
l{ell} AS MATERIALIZED (
  SELECT p.root, a.dst AS node, sum(p.sig) AS sig
  FROM l{ell - 1} p JOIN adj a ON a.src = p.node
  WHERE TRUE
    {guards}
  GROUP BY p.root, a.dst)"""
        )
    for ell in range(hops - 1, -1, -1):
        if ell == hops - 1:
            djoin, dexpr = "", "0"
        else:
            djoin = (
                f"\n  LEFT JOIN b{ell + 1} bw"
                f" ON bw.root = w.root AND bw.node = w.node"
            )
            dexpr = "COALESCE(bw.delta, 0)"
        ctes.append(
            f""",
b{ell} AS MATERIALIZED (
  SELECT v.root, v.node, sum(v.sig / w.sig * (1 + {dexpr})) AS delta
  FROM l{ell} v
  JOIN adj a ON a.src = v.node
  JOIN l{ell + 1} w ON w.root = v.root AND w.node = a.dst{djoin}
  GROUP BY v.root, v.node)"""
        )
    union = "\n  UNION ALL ".join(
        f"SELECT root, node, delta FROM b{ell}" for ell in range(hops)
    )
    return (
        ORACLE_PRELUDE
        + "".join(ctes)
        + f""",
ub AS ({union}),
acc AS (SELECT node, sum(delta) AS bc FROM ub
        WHERE node <> root GROUP BY node),
verts AS (SELECT DISTINCT id FROM
          (SELECT src AS id FROM edges
           UNION ALL SELECT dst FROM edges))
SELECT v.id,
       floor(COALESCE(acc.bc, 0) * 1000000.0 + 0.5) / 1000000.0
         AS betweenness
FROM verts v LEFT JOIN acc ON acc.node = v.id"""
    )


QUERIES["graph_betweenness_sampled"] = q_graph_betweenness_sampled
ORACLES["graph_betweenness_sampled"] = _betweenness_sql()


KTRUSS_K = 3
KTRUSS_ROUNDS = 2


def q_graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.analytics import ktruss_peel

    _, _, edges = model(spark, sf_dir)
    return ktruss_peel(edges, k=KTRUSS_K, rounds=KTRUSS_ROUNDS)


def _ktruss_sql(k: int = KTRUSS_K, rounds: int = KTRUSS_ROUNDS) -> str:
    """Unrolled fixed-round twin of ktruss_peel: per round, a
    triangle CTE (ordered a<b<c double join), a 3-slot support
    aggregate, and a semi-join filter keeping support ≥ k−2; the
    final support is a LEFT join with coalesce 0 so zero-triangle
    survivors are kept (mirrors ktruss_peel);
    MATERIALIZED everywhere a CTE is referenced more than once."""
    ctes = [
        """,
u0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst)"""
    ]
    for r in range(rounds):
        ctes.append(
            f""",
t{r} AS MATERIALIZED (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM u{r} e1
  JOIN u{r} e2 ON e2.a = e1.b
  JOIN u{r} e3 ON e3.a = e1.a AND e3.b = e2.b),
s{r} AS MATERIALIZED (
  SELECT a, b, count(*) AS sup FROM (
    SELECT x AS a, y AS b FROM t{r}
    UNION ALL SELECT y, z FROM t{r}
    UNION ALL SELECT x, z FROM t{r})
  GROUP BY a, b),
u{r + 1} AS MATERIALIZED (
  SELECT u.a, u.b FROM u{r} u
  LEFT JOIN s{r} s ON s.a = u.a AND s.b = u.b
  WHERE coalesce(s.sup, 0) >= {k - 2})"""
        )
    rr = rounds
    return (
        ORACLE_PRELUDE
        + "".join(ctes)
        + f""",
tf AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM u{rr} e1
  JOIN u{rr} e2 ON e2.a = e1.b
  JOIN u{rr} e3 ON e3.a = e1.a AND e3.b = e2.b),
sf AS (
  SELECT a, b, count(*) AS support FROM (
    SELECT x AS a, y AS b FROM tf
    UNION ALL SELECT y, z FROM tf
    UNION ALL SELECT x, z FROM tf)
  GROUP BY a, b)
SELECT u.a, u.b, CAST(coalesce(sf.support, 0) AS BIGINT) AS support
FROM u{rr} u LEFT JOIN sf ON sf.a = u.a AND sf.b = u.b"""
    )


QUERIES["graph_ktruss"] = q_graph_ktruss
ORACLES["graph_ktruss"] = _ktruss_sql()


SCC_HOPS = 3


def q_graph_scc_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.analytics import scc_bounded

    nodes, _, edges = model(spark, sf_dir)
    return scc_bounded(
        nodes.select("id"), edges, max_hops=SCC_HOPS
    )


def q_graph_scc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT strongly connected components → (id, scc_id): labels
    equal true SCCs (round 5 — the exact upgrade of the bounded
    entry). operators.analytics.scc_exact contracts bounded-mutual
    witness pairs, doubles the hop budget whenever exactness is
    unproven, and stops only on a DAG certificate (id-monotone
    contracted edges) or the pigeonhole bound h ≥ |V| — so the
    result is exact on ANY digraph, not just this one.

    Oracle exactness: the driver graph's only cycles are 2-cycles —
    every cycle needs a back edge (i+1 → i, emitted only at
    i % 7 == 0), back edges retreat exactly 1, and two adjacent back
    edges would need consecutive multiples of 7 — so mutual pairs
    within 3 hops ARE all mutual pairs, and the closure-bounded SQL
    computes true SCCs on this data (pytest-pinned: the operator's
    certificate terminates at h=3 here, and scc_exact == scc_bounded
    on the driver tables while diverging on a 10-cycle).

    The contraction rounds run IN-PLAN inside the timed query: the
    labels are this entry's declared output, so persisting them and
    re-reading would be result caching, not serving (round-9 verdict
    item 2 — the round-9 scc_stage read is unwound here)."""
    from ..operators.analytics import scc_exact

    nodes, _, edges = model(spark, sf_dir)
    return scc_exact(
        nodes.select("id"), edges, initial_hops=SCC_HOPS
    )


QUERIES["graph_scc_bounded"] = q_graph_scc_bounded
QUERIES["graph_scc_exact"] = q_graph_scc_exact
# Recursive closure bounded by hop count; witness pairs = closure ∩
# its transpose; label = undirected connected component of the
# witness graph (same recursion shape as the components oracle).
# For graph_scc_exact the SAME SQL is the TRUE-SCC oracle on this
# graph family: all cycles here are 2-cycles (see the entry
# docstring's structural proof), so the 3-hop closure already
# contains every mutual pair.
ORACLES["graph_scc_bounded"] = ORACLE_PRELUDE + f""",
e AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
closure AS (
  SELECT src AS u, dst AS v, 1 AS d FROM e
  UNION
  SELECT c.u, e.dst, c.d + 1 FROM closure c
  JOIN e ON e.src = c.v
  WHERE c.d < {SCC_HOPS} AND c.u <> e.dst
),
pairs AS (SELECT DISTINCT u, v FROM closure),
mutual AS (
  SELECT p.u, p.v FROM pairs p
  WHERE EXISTS (SELECT 1 FROM pairs q WHERE q.u = p.v AND q.v = p.u)
),
reach AS (
  SELECT id AS root, id AS node FROM nodes
  UNION
  SELECT r.root, m.v FROM reach r JOIN mutual m ON m.u = r.node
)
SELECT root AS id, min(node) AS scc_id FROM reach GROUP BY root"""
ORACLES["graph_scc_exact"] = ORACLES["graph_scc_bounded"]


def q_graph_scc_condensation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT condensation DAG → (src_scc, dst_scc, n_edges): collapse
    each true SCC to one vertex and keep the cross-component edges
    with multiplicity — the cycle-free dependency graph
    scheduling/lineage analyses need. Labels come from
    operators.analytics.scc_exact (round 5), whose DAG certificate
    guarantees the condensation is acyclic and exactly Tarjan's on
    any digraph — the bounded-witness caveat is gone.

    Scale shape: two broadcast-eligible label joins onto the edge
    list + one map-side-combinable count. The label table is
    computed IN-PLAN by the contraction rounds (scc_exact returns an
    eagerly checkpointed frame, so the two joins below reference the
    materialized labels, not the lineage) — labels are another
    entry's declared output, so reading a persisted copy would be
    result caching (round-9 verdict item 2)."""
    from ..operators.analytics import scc_exact

    nodes, _, edges = model(spark, sf_dir)
    labels = scc_exact(
        nodes.select("id"), edges, initial_hops=SCC_HOPS
    )
    ls = labels.select(
        F.col("id").alias("__s"), F.col("scc_id").alias("src_scc")
    )
    ld = labels.select(
        F.col("id").alias("__d"), F.col("scc_id").alias("dst_scc")
    )
    return (
        edges.select("src", "dst")
        .join(ls, F.col("src") == F.col("__s"))
        .join(ld, F.col("dst") == F.col("__d"))
        .filter(F.col("src_scc") != F.col("dst_scc"))
        .groupBy("src_scc", "dst_scc")
        .agg(F.count("*").alias("n_edges"))
    )


QUERIES["graph_scc_condensation"] = q_graph_scc_condensation
ORACLES["graph_scc_condensation"] = ORACLE_PRELUDE + f""",
e AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
closure AS (
  SELECT src AS u, dst AS v, 1 AS d FROM e
  UNION
  SELECT c.u, e.dst, c.d + 1 FROM closure c
  JOIN e ON e.src = c.v
  WHERE c.d < {SCC_HOPS} AND c.u <> e.dst
),
pairs AS (SELECT DISTINCT u, v FROM closure),
mutual AS (
  SELECT p.u, p.v FROM pairs p
  WHERE EXISTS (SELECT 1 FROM pairs q WHERE q.u = p.v AND q.v = p.u)
),
reach AS (
  SELECT id AS root, id AS node FROM nodes
  UNION
  SELECT r.root, m.v FROM reach r JOIN mutual m ON m.u = r.node
),
-- lab is referenced twice (ls, ld); DuckDB re-inlines plain CTEs,
-- which would re-run the whole recursion per reference (non-linear
-- blowup at sf1) — MATERIALIZED is required here.
lab AS MATERIALIZED (
  SELECT root AS id, min(node) AS scc_id FROM reach GROUP BY root)
SELECT ls.scc_id AS src_scc, ld.scc_id AS dst_scc, count(*) AS n_edges
FROM edges ed
JOIN lab ls ON ls.id = ed.src
JOIN lab ld ON ld.id = ed.dst
WHERE ls.scc_id <> ld.scc_id
GROUP BY 1, 2"""


# ---------------------------------------------------------------------------
# Degree assortativity (round 5)
# ---------------------------------------------------------------------------


def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the engine graph (symmetrized):
    exact integer sufficient statistics, one correlation — is this a
    hub-to-hub or hub-to-leaf topology? Complements degrees/
    clustering-coefficient in the structure-report family."""
    from ..operators.analytics import degree_assortativity

    _, _, edges = model(spark, sf_dir)
    return degree_assortativity(edges)


QUERIES["graph_assortativity"] = q_graph_assortativity

ORACLES["graph_assortativity"] = (
    ORACLE_PRELUDE
    + """,
outd AS (SELECT src AS id, count(*) AS o FROM edges GROUP BY src),
ind AS (SELECT dst AS id, count(*) AS i FROM edges GROUP BY dst),
deg AS (
  SELECT coalesce(o.id, i.id) AS id,
         coalesce(o.o, 0) + coalesce(i.i, 0) AS degree
  FROM outd o FULL OUTER JOIN ind i ON i.id = o.id
),
sym AS (
  SELECT src, dst FROM edges
  UNION ALL
  SELECT dst AS src, src AS dst FROM edges
),
j AS (
  SELECT dx.degree AS x, dy.degree AS y
  FROM sym s JOIN deg dx ON dx.id = s.src JOIN deg dy ON dy.id = s.dst
),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM j
)
SELECT n AS n_endpoints,
       CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) > 0
             AND (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
            THEN floor((CAST(n AS DOUBLE) * sxy
                        - CAST(sx AS DOUBLE) * sy)
                       / sqrt((CAST(n AS DOUBLE) * sxx
                               - CAST(sx AS DOUBLE) * sx)
                              * (CAST(n AS DOUBLE) * syy
                                 - CAST(sy AS DOUBLE) * sy))
                       * 1000000.0 + 0.5) / 1000000.0
       END AS assortativity
FROM g"""
)


def q_graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-binned total-degree histogram → (bucket, n_nodes,
    min_degree, max_degree): the scale-free-or-not profile read
    before choosing graph algorithms (a heavy power-law tail means
    salting/hub-splitting; a flat histogram means plain hash
    partitioning is fine). bucket = floor(log2(degree)) computed as
    the bit length of an integer — exact in both engines, no float
    log at the bin boundary. Two count aggregates + a |buckets|-sized
    rollup."""
    from ..operators.analytics import degrees

    _, _, edges = model(spark, sf_dir)
    deg = degrees(edges)
    bucket = F.length(F.conv(F.col("degree"), 10, 2)) - 1
    return (
        deg.filter(F.col("degree") > 0)
        .withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_nodes"),
            F.min("degree").alias("min_degree"),
            F.max("degree").alias("max_degree"),
        )
    )


QUERIES["graph_degree_histogram"] = q_graph_degree_histogram

ORACLES["graph_degree_histogram"] = (
    ORACLE_PRELUDE
    + """,
outd AS (SELECT src AS id, count(*) AS o FROM edges GROUP BY src),
ind AS (SELECT dst AS id, count(*) AS i FROM edges GROUP BY dst),
deg AS (
  SELECT coalesce(o.id, i.id) AS id,
         coalesce(o.o, 0) + coalesce(i.i, 0) AS degree
  FROM outd o FULL OUTER JOIN ind i ON i.id = o.id
)
SELECT CAST(length(bin(degree)) - 1 AS INT) AS bucket,
       count(*) AS n_nodes,
       min(degree) AS min_degree, max(degree) AS max_degree
FROM deg WHERE degree > 0
GROUP BY 1"""
)


def q_graph_components_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected components proven against recompute →
    (id, component): the stored labeling of the 'author_of' BASE
    graph is folded with the 'related' edge INCREMENT via
    ``operators/analytics.incremental_components`` — delta edges
    contract to a super-graph of base labels (O(|delta|) nodes),
    components run on THAT, and the stored labels relabel through a
    broadcast merge map. The oracle recomputes components over
    author_of ∪ related from scratch, so the gate proves
    incremental ≡ recompute — the graph-IVM contract, and the shape a
    100 TB nightly edge ingest actually runs (never re-propagating
    labels across the full vertex set)."""
    nodes, _, edges = model(spark, sf_dir)
    base_labels = connected_components(
        nodes.select("id"), edges.filter(F.col("type") == "author_of")
    )
    delta = edges.filter(F.col("type") == "related")
    return incremental_components(base_labels, delta)


QUERIES["graph_components_incremental"] = q_graph_components_incremental

ORACLES["graph_components_incremental"] = (
    ORACLE_PRELUDE
    + """,
verts AS (SELECT id FROM nodes),
aedges AS (
  SELECT src, dst FROM edges WHERE type IN ('author_of', 'related')
),
sym AS (SELECT src, dst FROM aedges UNION SELECT dst, src FROM aedges),
reach AS (
  SELECT id AS root, id AS node FROM verts
  UNION
  SELECT r.root, s.dst FROM reach r JOIN sym s ON s.src = r.node
)
SELECT root AS id, min(node) AS component FROM reach GROUP BY root"""
)


ANF_HOPS = 4


def q_graph_hyperanf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperANF neighborhood function → (hop, n_nodes, est_pairs) for
    hops 0..4: the HLL-register estimate of Σ_v |ball(v, h)| — how
    web-scale graphs get average-distance / effective-diameter
    numbers without all-pairs reachability. One edge join + one
    register max-merge per hop, constant sketch state per vertex; see
    operators/analytics.hyperanf. The oracle replays the registers
    bit-for-bit over the EXACT hop-bounded reachability closure
    (affordable at gate scale; the quadratic state HyperANF exists to
    avoid), so the value check proves sketch parity against ground
    truth reachability."""
    nodes, _, edges = model(spark, sf_dir)
    return hyperanf(nodes.select("id"), edges, hops=ANF_HOPS)


QUERIES["graph_hyperanf"] = q_graph_hyperanf
ORACLES["graph_hyperanf"] = ORACLE_PRELUDE + f""",
e AS (SELECT DISTINCT src, dst FROM edges),
reach AS (
  SELECT id AS root, id AS node, 0 AS d FROM nodes
  UNION
  SELECT r.root, e.dst, r.d + 1 FROM reach r
  JOIN e ON e.src = r.node
  WHERE r.d < {ANF_HOPS}
),
minr AS (SELECT root, node, min(d) AS d FROM reach GROUP BY root, node),
hops AS (SELECT unnest(generate_series(0, {ANF_HOPS})) AS hop),
ball AS (
  SELECT h.hop, m.root, m.node
  FROM hops h JOIN minr m ON m.d <= h.hop
),
hashed AS (
  SELECT hop, root,
         ('0x' || substr(md5('anf' || node), 1, 15))::BIGINT AS h
  FROM ball
),
ranked AS (
  SELECT hop, root, h % 64 AS reg,
         (h // 64) % 1125899906842624 AS r
  FROM hashed
),
rho AS (
  SELECT hop, root, reg,
         CASE WHEN r = 0 THEN 51
              ELSE 51 - length(ltrim(bin(r), '0')) END AS rho
  FROM ranked
),
regs AS (
  SELECT hop, root, reg, max(rho) AS mrho
  FROM rho GROUP BY hop, root, reg
),
est AS (
  SELECT hop, root,
         sum(power(2.0, -mrho)) + (64 - count(*)) AS s,
         64 - count(*) AS zeros
  FROM regs GROUP BY hop, root
),
est6 AS (
  SELECT hop, root,
         CAST(floor((CASE WHEN (0.7213 / (1.0 + 1.079 / 64.0))
                               * 4096.0 / s <= 160.0 AND zeros > 0
                          THEN 64.0 * ln(64.0 / zeros)
                          ELSE (0.7213 / (1.0 + 1.079 / 64.0))
                               * 4096.0 / s END)
                    * 1000000.0 + 0.5) AS BIGINT) AS e6
  FROM est
)
SELECT CAST(hop AS INT) AS hop, CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(e6) AS DOUBLE) / 1000000.0 AS est_pairs
FROM est6 GROUP BY hop"""


WALK_HOPS = 4


def q_graph_walk_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact directed-walk counts per length → (hop, n_active,
    total_walks) for hops 1..4: the all-BIGINT SpMV chain (one edge
    join + one sum per hop), value-checked against the oracle's
    unrolled join ladder. See operators/analytics.walk_counts."""
    from ..operators.analytics import walk_counts

    nodes, _, edges = model(spark, sf_dir)
    return walk_counts(nodes.select("id"), edges, hops=WALK_HOPS)


def _walk_counts_oracle() -> str:
    ctes = [",\ne AS (SELECT DISTINCT src, dst FROM edges)"]
    ctes.append(
        ",\nw1 AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS w"
        " FROM e GROUP BY src)"
    )
    for h in range(2, WALK_HOPS + 1):
        ctes.append(
            f""",
w{h} AS (
  SELECT e.src AS id, CAST(sum(p.w) AS BIGINT) AS w
  FROM e JOIN w{h - 1} p ON p.id = e.dst
  GROUP BY e.src
)"""
        )
    sels = [
        f"SELECT {h} AS hop, CAST(count(*) AS BIGINT) AS n_active,"
        f" CAST(sum(w) AS BIGINT) AS total_walks FROM w{h}"
        for h in range(1, WALK_HOPS + 1)
    ]
    return ORACLE_PRELUDE + "".join(ctes) + "\n" + "\nUNION ALL ".join(sels)


QUERIES["graph_walk_counts"] = q_graph_walk_counts
ORACLES["graph_walk_counts"] = _walk_counts_oracle()


def q_graph_katz_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded Katz centrality (β=0.1, 4 hops, A^T convention) →
    (id, katz): geometrically discounted in-walk counts as ONE exact
    integer per node divided once — no float accumulates anywhere.
    See operators/analytics.katz_bounded; the oracle unrolls the
    reversed-edge walk ladder."""
    from ..operators.analytics import katz_bounded

    nodes, _, edges = model(spark, sf_dir)
    return katz_bounded(nodes.select("id"), edges, hops=WALK_HOPS)


def _katz_oracle() -> str:
    ctes = [
        ",\nre AS (SELECT DISTINCT dst AS src, src AS dst FROM edges)"
    ]
    ctes.append(
        ",\nkw1 AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS w"
        " FROM re GROUP BY src)"
    )
    for h in range(2, WALK_HOPS + 1):
        ctes.append(
            f""",
kw{h} AS (
  SELECT re.src AS id, CAST(sum(p.w) AS BIGINT) AS w
  FROM re JOIN kw{h - 1} p ON p.id = re.dst
  GROUP BY re.src
)"""
        )
    joins = "".join(
        f"\nLEFT JOIN kw{h} ON kw{h}.id = n.id"
        for h in range(1, WALK_HOPS + 1)
    )
    num = " + ".join(
        f"coalesce(kw{h}.w, 0) * {10 ** (WALK_HOPS - h)}"
        for h in range(1, WALK_HOPS + 1)
    )
    return (
        ORACLE_PRELUDE
        + "".join(ctes)
        + f"""
SELECT n.id, CAST(({num}) AS DOUBLE) / {float(10 ** WALK_HOPS)} AS katz
FROM nodes n{joins}"""
    )


QUERIES["graph_katz_bounded"] = q_graph_katz_bounded
ORACLES["graph_katz_bounded"] = _katz_oracle()


def q_graph_effective_diameter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Effective diameter from the HyperANF neighborhood function →
    one row (eff_diameter_09, hops_computed, est_pairs_max): the
    smallest hop count whose estimated reachable-pair mass covers 90%
    of the deepest computed ball — the single number web-graph papers
    quote, composed from graph_hyperanf's already-oracled per-hop
    frame (a ≤(hops+1)-row reduction; the integer-exact per-hop
    estimates make the 0.9 threshold comparison engine-identical)."""
    nf = q_graph_hyperanf(spark, sf_dir)
    mx = nf.agg(
        F.max("est_pairs").alias("mx"), F.max("hop").alias("hops")
    )
    return (
        nf.crossJoin(F.broadcast(mx))
        .filter(F.col("est_pairs") >= F.lit(0.9) * F.col("mx"))
        .agg(
            F.min("hop").alias("eff_diameter_09"),
            F.max("hops").alias("hops_computed"),
            F.max("mx").alias("est_pairs_max"),
        )
    )


QUERIES["graph_effective_diameter"] = q_graph_effective_diameter
ORACLES["graph_effective_diameter"] = f"""
WITH nf AS ({ORACLES["graph_hyperanf"]}),
mx AS (SELECT max(est_pairs) AS mx, max(hop) AS hops FROM nf)
SELECT CAST(min(nf.hop) AS INT) AS eff_diameter_09,
       CAST(max(mx.hops) AS INT) AS hops_computed,
       max(mx.mx) AS est_pairs_max
FROM nf CROSS JOIN mx
WHERE nf.est_pairs >= 0.9 * mx.mx"""


def q_graph_square_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global 4-cycle count → one row (n_squares): the square-motif
    census that complements graph_triangles (reference surface: the
    traversal stack of app.py:560-640 exposes counts; motif counts
    are the batch-analytics extension). Codegree identity — one wedge
    self-join, one groupBy, BIGINT-exact halving — same shuffle shape
    as triangle counting; see operators.analytics.square_count."""
    _, _, edges = model(spark, sf_dir)
    return square_count(edges)


QUERIES["graph_square_count"] = q_graph_square_count
ORACLES["graph_square_count"] = (
    ORACLE_PRELUDE
    + """,
canon AS (
  SELECT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst GROUP BY 1, 2
),
sym AS (
  SELECT a, b FROM canon UNION ALL SELECT b AS a, a AS b FROM canon
),
codeg AS (
  SELECT w1.b AS u, w2.b AS v, count(*) AS cd
  FROM sym w1 JOIN sym w2 ON w2.a = w1.a AND w1.b < w2.b
  GROUP BY 1, 2
)
SELECT CAST(sum(cd * (cd - 1)) // 4 AS BIGINT) AS n_squares FROM codeg"""
)


RICH_CLUB_GRID = [1, 2, 3, 5]


def q_graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient φ(k) for a fixed degree grid →
    (k, n_k, e_k, phi): among nodes of undirected degree > k, the
    realized fraction of possible connections — the do-the-hubs-
    stick-together readout network papers report next to
    assortativity (graph_assortativity gives the correlation; this
    gives the density curve).

    Shape: undirected degree frame once (one groupBy on the
    canonicalized edge set), degrees joined onto each edge endpoint
    (two broadcast-or-shuffle equi-joins on node id), then ONE
    4-row broadcast grid with conditional filters — no per-k rescan
    of the edge set. φ is an exact integer ratio 2·E_k/(N_k·(N_k-1))
    rounded at 6dp."""
    _, _, edges = model(spark, sf_dir)
    canon = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        canon.select(F.col("a").alias("id"))
        .union(canon.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    grid = spark.range(len(RICH_CLUB_GRID)).select(
        F.element_at(
            F.array(*[F.lit(k) for k in RICH_CLUB_GRID]),
            (F.col("id") + 1).cast("int"),
        ).alias("k")
    )
    nk = (
        deg.crossJoin(F.broadcast(grid))
        .filter(F.col("deg") > F.col("k"))
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("n_k"))
    )
    ewd = (
        canon.join(deg.withColumnRenamed("id", "a"), "a")
        .withColumnRenamed("deg", "deg_a")
        .join(
            deg.withColumnRenamed("id", "b").withColumnRenamed(
                "deg", "deg_b"
            ),
            "b",
        )
    )
    ek = (
        ewd.crossJoin(F.broadcast(grid))
        .filter(
            (F.col("deg_a") > F.col("k")) & (F.col("deg_b") > F.col("k"))
        )
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("e_k"))
    )
    out = nk.join(ek, "k", "left").select(
        "k",
        "n_k",
        F.coalesce("e_k", F.lit(0)).alias("e_k"),
        F.when(
            F.col("n_k") > 1,
            F.floor(
                F.lit(2.0)
                * F.coalesce("e_k", F.lit(0)).cast("double")
                / (
                    F.col("n_k").cast("double")
                    * (F.col("n_k").cast("double") - F.lit(1.0))
                )
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6),
        ).alias("phi"),
    )
    return out


QUERIES["graph_rich_club"] = q_graph_rich_club
ORACLES["graph_rich_club"] = (
    ORACLE_PRELUDE
    + f""",
canon AS MATERIALIZED (
  SELECT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst GROUP BY 1, 2
),
deg AS MATERIALIZED (
  SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT a AS id FROM canon UNION ALL SELECT b AS id FROM canon
  ) GROUP BY id
),
grid AS (SELECT unnest(ARRAY{RICH_CLUB_GRID}) AS k),
nk AS (
  SELECT g.k, CAST(count(*) AS BIGINT) AS n_k
  FROM deg d JOIN grid g ON d.deg > g.k GROUP BY g.k
),
ek AS (
  SELECT g.k, CAST(count(*) AS BIGINT) AS e_k
  FROM canon c
  JOIN deg da ON da.id = c.a
  JOIN deg db ON db.id = c.b
  JOIN grid g ON da.deg > g.k AND db.deg > g.k
  GROUP BY g.k
)
SELECT nk.k, nk.n_k, coalesce(ek.e_k, 0) AS e_k,
       CASE WHEN nk.n_k > 1 THEN
         floor(2.0 * coalesce(ek.e_k, 0)
               / (CAST(nk.n_k AS DOUBLE) * (nk.n_k - 1.0))
               * 1000000.0 + 0.5) / 1000000.0
       END AS phi
FROM nk LEFT JOIN ek ON ek.k = nk.k"""
)

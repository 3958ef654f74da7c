"""Output checks, run after the timed region.

Retrieval answers are recomputed in DuckDB from the query registry's
own parameterized SQL (``sql_bfs_cte``, ``_bm25_multi_sql``,
``_vector_multi_sql``, ``_HYBRID_SQL_TMPL``) with scores rounded to 6
decimals on both sides. Batch entries are compared with their registry
oracle through ``tools/oracle_check.py``'s ``duck_con``/``canon``.
Mutation is checked against final-state invariants kept by the
benchmark while it issued the writes.

Each function returns the number of wrong outputs.
"""

from __future__ import annotations

import os
import sys
from unittest import mock

from vector_graph_native_database__spark.registry import all_oracles, searchq
from vector_graph_native_database__spark.registry.common import (
    ORACLE_PRELUDE,
    SQL_QVEC,
    sql_bfs_cte,
)

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_ROOT, "tools"))
from oracle_check import canon, duck_con  # noqa: E402

__all__ = ["duck_con", "check_retrieval", "check_mutation", "check_batch"]


def _ranked(rows, *cols) -> list[tuple]:
    return [
        tuple(round(r[c], 6) if isinstance(r[c], float) else r[c] for c in cols)
        for r in rows
    ]


def _vector_sql(qids: list[str], k: int) -> str:
    """``_vector_multi_sql`` reads its query ids from the module."""
    with mock.patch.object(searchq, "HYBRID_MULTI_QIDS", qids):
        return searchq._vector_multi_sql(k)


def _hybrid_sql(qid: str, start: str, k: int) -> str:
    """``_HYBRID_SQL_TMPL`` for query node ``qid`` and graph start
    ``start`` (the registry instance fixes both to node '0')."""
    g_scores = searchq._G_SCORES_D2.replace("b.id = '0'", f"b.id = '{start}'")
    tmpl = searchq._HYBRID_SQL_TMPL.replace(
        SQL_QVEC, SQL_QVEC.replace("'0'", f"'{qid}'")
    )
    return tmpl.format(
        bfs=sql_bfs_cte(start, 2), graph_scores=g_scores, vw=0.7, gw=0.3, k=k
    )


def _graph_sql(start: str) -> tuple[str, str]:
    base = ORACLE_PRELUDE + sql_bfs_cte(start, 2)
    found = base + f"""
SELECT b.id, n.text, b.distance, round(b.path_weight, 6) AS path_weight
FROM bfsr b JOIN nodes n ON n.id = b.id WHERE b.id <> '{start}'"""
    induced = base + """
SELECT e.id FROM edges e
WHERE EXISTS (SELECT 1 FROM bfsr r WHERE r.id = e.src)
  AND EXISTS (SELECT 1 FROM bfsr r WHERE r.id = e.dst)"""
    return found, induced


def check_retrieval(con, queries: list[dict], k: int, hybrid_k: int) -> int:
    bad = 0
    vec = [q for q in queries if q["kind"] == "vector"]
    if vec:
        qids = sorted({q["qid"] for q in vec})
        want: dict[str, list] = {}
        for qid, nid, _text, score in con.sql(_vector_sql(qids, k)).fetchall():
            want.setdefault(qid, []).append((nid, round(score, 6)))
        for q in vec:
            exp = sorted(want.get(q["qid"], []), key=lambda r: (-r[1], r[0]))
            bad += _ranked(q["rows"], "id", "score") != exp
    lex = [q for q in queries if q["kind"] == "bm25"]
    if lex:
        texts = sorted({q["text"] for q in lex})
        qmap = {f"q{i}": t for i, t in enumerate(texts)}
        want = {}
        for qid, nid, score in con.sql(searchq._bm25_multi_sql(qmap, k)).fetchall():
            want.setdefault(qmap[qid], []).append((nid, round(score, 6)))
        for q in lex:
            exp = sorted(want.get(q["text"], []), key=lambda r: (-r[1], r[0]))
            bad += _ranked(q["rows"], "id", "score") != exp
    for q in queries:
        if q["kind"] == "graph":
            found_sql, induced_sql = _graph_sql(q["start"])
            cols = ("id", "text", "distance", "path_weight")
            exp = sorted(con.sql(found_sql).fetchall())
            got = sorted(_ranked(q["rows"], *cols))
            exp_e = sorted(r[0] for r in con.sql(induced_sql).fetchall())
            got_e = sorted(r["id"] for r in q["edges"])
            bad += (got != exp) or (got_e != exp_e)
        elif q["kind"] == "hybrid":
            cols = ("id", "text", "vector_score", "graph_score", "final_score")
            exp = con.sql(_hybrid_sql(q["qid"], q["start"], hybrid_k)).fetchall()
            bad += _ranked(q["rows"], *cols) != [
                tuple(round(v, 6) if isinstance(v, float) else v for v in r)
                for r in exp
            ]
    return bad


def check_mutation(st) -> int:
    """Final-state invariants: node, embedding and edge sets, updated
    text, and the cascade of every deleted node."""
    eng = st.engine
    nodes = {r["id"]: r["text"] for r in eng.nodes.select("id", "text").collect()}
    emb_ids = [r[0] for r in eng.embeddings.select("node_id").collect()]
    edges = {
        r["id"]: (r["src"], r["dst"])
        for r in eng.edges.select("id", "src", "dst").collect()
    }
    deleted = set(st.deleted)
    checks = [
        set(nodes) == set(st.texts),
        all(nodes.get(n) == t for n, t in st.updated.items()),
        sorted(emb_ids) == sorted(st.texts),
        edges == st.edges,
        not any(s in deleted or d in deleted for s, d in edges.values()),
    ]
    return sum(not ok for ok in checks)


def check_batch(con, frames: dict) -> int:
    """``frames`` maps entry name -> the pandas frame the pass collected."""
    oracles = all_oracles()
    bad = 0
    for name, pdf in sorted(frames.items()):
        a = canon(pdf)
        b = canon(con.sql(oracles[name]).df())
        bad += not (list(a.columns) == list(b.columns) and a.equals(b))
    return bad

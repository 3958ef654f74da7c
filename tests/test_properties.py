"""Property-based semantics checks (hypothesis).

Each property runs the engine operator on a small random input and
compares against an independent pure-Python reference implementation
— a different failure surface than the fixed-fixture tests and the
DuckDB oracle (which shares the SQL formulation). Example counts are
kept small because every example is a Spark round-trip.
"""

from __future__ import annotations

import math
import string
from unittest import mock

from hypothesis import example, given, settings, strategies as st

from vector_graph_native_database__spark.operators.bm25 import bm25_scores
from vector_graph_native_database__spark.operators.crud import upsert
from vector_graph_native_database__spark.operators.graph import graph_bfs

SETTINGS = dict(max_examples=8, deadline=None)

# -- BFS ---------------------------------------------------------------------

# Weights are finite floats (negative, zero, ±0.0) or NaN; sums follow
# the same left-to-right order in every engine, so equality is exact.
weight_strategy = st.one_of(
    st.floats(-100, 100, allow_nan=False), st.just(math.nan)
)
edges_strategy = st.lists(
    st.tuples(
        st.integers(0, 5),  # src
        st.one_of(st.integers(0, 5), st.none()),  # dst (null allowed)
        weight_strategy,
        st.sampled_from("tu"),  # type
    ),
    min_size=0,
    max_size=12,
)
UNCAPPED = 2**31 - 2  # the largest cap Spark's limit(cap + 1) accepts


def py_bfs(edges, start, depth, edge_type=None):
    """Level-synchronous reference: per node min hop distance, max
    accumulated weight among min-distance paths (SURVEY §4.8.4), NaN
    largest as in Spark's and DuckDB's max; null endpoints ignored."""
    best = {start: (0, 0.0)}
    frontier = {start: 0.0}
    for level in range(1, depth + 1):
        nxt: dict[str, float] = {}
        for src, w_acc in frontier.items():
            for s, d, w, t in edges:
                if str(s) == src and d is not None and edge_type in (None, t):
                    cand = w_acc + w
                    key = str(d)
                    old = nxt.get(key)
                    if old is None or math.isnan(cand) or cand > old:
                        nxt[key] = cand
        nxt = {k: v for k, v in nxt.items() if k not in best}
        if not nxt:
            break
        for k, v in nxt.items():
            best[k] = (level, v)
        frontier = nxt
    return best


def _edges_frame(spark, edges):
    return spark.createDataFrame(
        [
            (f"e{i}", str(s), None if d is None else str(d), t, float(w))
            for i, (s, d, w, t) in enumerate(edges)
        ],
        "id string, src string, dst string, type string, weight double",
    )


def _canon(bfs: dict) -> dict:
    return {
        k: (d, "nan" if math.isnan(w) else w) for k, (d, w) in bfs.items()
    }


def _duck_bfs(edges, start, depth, edge_type):
    import duckdb
    import pyarrow as pa

    from vector_graph_native_database__spark.registry.common import (
        sql_bfs_cte,
    )

    con = duckdb.connect()
    con.register(
        "edges",
        pa.table({
            "src": pa.array([str(s) for s, _, _, _ in edges], pa.string()),
            "dst": pa.array(
                [None if d is None else str(d) for _, d, _, _ in edges],
                pa.string(),
            ),
            "type": pa.array([t for _, _, _, t in edges], pa.string()),
            "weight": pa.array([float(w) for _, _, w, _ in edges], pa.float64()),
        }),
    )
    sql = "WITH RECURSIVE __one AS (SELECT 1)" + sql_bfs_cte(
        start, depth, edge_type
    ) + "\nSELECT id, distance, path_weight FROM bfsr"
    return {r[0]: (r[1], r[2]) for r in con.execute(sql).fetchall()}


@given(
    edges=edges_strategy,
    depth=st.integers(1, 4),
    edge_type=st.sampled_from([None, "t"]),
)
# null dst at every level; a NaN path beside a finite one; self-loop
# and a multi-edge under the type filter
@example([(0, None, 1.0, "t"), (0, 1, 1.0, "t"), (1, None, 2.0, "t")], 3, None)
@example([(0, 1, 5.0, "t"), (0, 1, math.nan, "t"), (1, 2, -1.0, "t")], 2, None)
@example([(0, 0, 3.0, "t"), (0, 1, 0.0, "u"), (0, 1, -0.0, "t")], 2, "t")
@settings(**SETTINGS)
def test_bfs_matches_level_synchronous_reference(spark, edges, depth, edge_type):
    # the driver path (cap ∞), the shuffle path from level 1 (cap 0),
    # a switch between them mid-run (cap 3), the DuckDB twin and the
    # pure-Python reference agree exactly
    from vector_graph_native_database__spark.operators import graph as graph_ops

    edf = _edges_frame(spark, edges)
    got = {}
    for cap in (0, 3, UNCAPPED):
        with mock.patch.object(graph_ops, "FRONTIER_CAP", cap):
            got[cap] = _canon({
                r["id"]: (r["distance"], r["path_weight"])
                for r in graph_bfs(edf, "0", depth, edge_type).collect()
            })
    want = _canon(py_bfs(edges, "0", depth, edge_type))
    assert got[0] == got[3] == got[UNCAPPED] == want
    assert _canon(_duck_bfs(edges, "0", depth, edge_type)) == want


@given(edges=edges_strategy, depth=st.integers(1, 3))
@settings(max_examples=4, deadline=None)
def test_multi_source_bfs_kernels_match_per_source_bfs(spark, edges, depth):
    # graph_bfs_multi and analytics.multi_source_bfs run the same
    # kernel keyed by source; each slice equals that source's graph_bfs.
    # Caps 0 and 4 hold fewer than the six roots, so the roots start on
    # the shuffle path (multi_source_bfs collects at most cap + 1 of
    # them); cap 8 switches mid-run. A repeated root collapses.
    from vector_graph_native_database__spark.operators import graph as graph_ops
    from vector_graph_native_database__spark.operators.analytics import (
        multi_source_bfs,
    )

    edf = _edges_frame(spark, edges)
    starts = ["0", "1", "2", "3", "4", "5"]
    srcs = spark.createDataFrame([(s,) for s in starts + ["0"]], "id string")
    single = {
        (s, r["id"]): (r["distance"], r["path_weight"])
        for s in starts
        for r in graph_bfs(edf, s, depth).collect()
    }
    for cap in (0, 4, 8, UNCAPPED):
        with mock.patch.object(graph_ops, "FRONTIER_CAP", cap):
            multi = {
                (r["qid"], r["id"]): (r["distance"], r["path_weight"])
                for r in graph_ops.graph_bfs_multi(edf, starts, depth).collect()
            }
            rows = multi_source_bfs(edf, srcs, depth).collect()
        hops = {(r["root"], r["id"]): r["dist"] for r in rows}
        assert _canon(multi) == _canon(single), cap
        assert hops == {k: d for k, (d, _) in single.items()}, cap
        assert len(rows) == len(hops), cap


def test_bfs_frontier_filter_quotes_any_id(spark):
    # the level filter is one parsed SQL IN list; ids with quotes,
    # backslashes and escape-like text must reach exactly themselves
    from vector_graph_native_database__spark.operators import graph as graph_ops

    ids = ["a'b", "c\\d", "\\'", "x\\u0041", "naïve Σ", "t\tn\n", "''"]
    chain = [(s, d, 1.0, "t") for s, d in zip(ids, ids[1:])]
    edf = spark.createDataFrame(
        [(f"e{i}", s, d, t, w) for i, (s, d, w, t) in enumerate(chain)]
        + [("x", "x\\u0041", "A", "t", 1.0)],
        "id string, src string, dst string, type string, weight double",
    )
    want = {i: (d, float(d)) for d, i in enumerate(ids)}
    for cap in (0, UNCAPPED):
        with mock.patch.object(graph_ops, "FRONTIER_CAP", cap):
            got = {
                r["id"]: (r["distance"], r["path_weight"])
                for r in graph_bfs(edf, ids[0], len(ids)).collect()
            }
        assert got == {**want, "A": (4, 4.0)}, cap


@given(text=st.one_of(st.none(), st.text(max_size=40)))
@settings(**SETTINGS)
def test_embed_hash_column_is_bit_equal_to_embed_hash_df(spark, text):
    from vector_graph_native_database__spark.functions.textfn import (
        embed_hash,
        embed_hash_df,
    )
    from vector_graph_native_database__spark.session import local_frame

    row = local_frame(spark, [("q", text)], "id string, text string")
    got = row.select(embed_hash("text").alias("v")).collect()[0]["v"]
    want = embed_hash_df(row).collect()[0]["vector"]
    assert got == want


WHITESPACE = "".join(c for c in map(chr, range(0x110000)) if c.isspace())


@given(text=st.text(alphabet=string.ascii_letters + WHITESPACE, max_size=40))
@example("a\xa0b\u3000c\x1cd\x85e\u2003f")
@example("\va\vB\v")
@example("a\u180eb\u200bc\ufeffd\u2060e")  # format chars: no split
@settings(**SETTINGS)
def test_tokenizers_split_like_str_split(spark, text):
    """``tokenize`` (Spark) and its DuckDB twin ``SQL_TOKENS`` both
    split where ``str.split()`` does: on every ``isspace()`` character;
    exact dedup's normalized text (``normalize_ws`` / ``SQL_NORMALIZED``)
    hashes the same in both engines as the ``str.split()`` join."""
    import hashlib

    import duckdb
    from pyspark.sql import functions as F

    from vector_graph_native_database__spark.functions.textfn import (
        normalize_ws,
        tokenize,
    )
    from vector_graph_native_database__spark.registry.common import (
        SQL_NORMALIZED,
        SQL_TOKENS,
    )
    from vector_graph_native_database__spark.session import local_frame

    want = text.lower().split()
    row = local_frame(spark, [(text,)], "text string")
    got = row.select(
        tokenize("text").alias("t"), F.md5(normalize_ws("text")).alias("h")
    ).collect()[0]
    assert got["t"] == want
    sql = (
        f"SELECT {SQL_TOKENS.format(col='$1')}, "
        f"md5({SQL_NORMALIZED.format(col='$1')})"
    )
    toks, digest = duckdb.connect().execute(sql, [text]).fetchone()
    assert toks == want
    assert got["h"] == digest == hashlib.md5(" ".join(want).encode()).hexdigest()


# -- BM25 --------------------------------------------------------------------

corpus_strategy = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=12),
    min_size=1,
    max_size=6,
)


def py_bm25(texts, query, k1=1.5, b=0.75, eps=0.25):
    """Okapi BM25 exactly as rank_bm25.BM25Okapi computes it."""
    docs = [t.lower().split() for t in texts]
    n = len(docs)
    avgdl = sum(len(d) for d in docs) / n
    df: dict[str, int] = {}
    for d in docs:
        for tok in set(d):
            df[tok] = df.get(tok, 0) + 1
    idf = {
        t: math.log(n - f + 0.5) - math.log(f + 0.5) for t, f in df.items()
    }
    avg_idf = sum(idf.values()) / len(idf) if idf else 0.0
    idf = {t: (v if v >= 0 else eps * avg_idf) for t, v in idf.items()}
    scores = []
    qtoks = query.lower().split()
    for d in docs:
        s = 0.0
        for qt in qtoks:
            tf = d.count(qt)
            if tf == 0 or qt not in idf:
                continue
            s += idf[qt] * tf * (k1 + 1) / (
                tf + k1 * (1 - b + b * len(d) / avgdl)
            )
        scores.append(s)
    return scores


@given(texts=corpus_strategy, query=st.text(alphabet="ab c", max_size=8))
@settings(**SETTINGS)
def test_bm25_matches_okapi_reference(spark, texts, query):
    nodes = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], "id string, text string"
    )
    got = {
        r["id"]: r["score"] for r in bm25_scores(nodes, query).collect()
    }
    want = py_bm25(texts, query)
    for i, w in enumerate(want):
        assert math.isclose(got[str(i)], w, rel_tol=1e-9, abs_tol=1e-9)


# -- CRUD laws ---------------------------------------------------------------

table_strategy = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 99)),
    min_size=0,
    max_size=8,
    unique_by=lambda r: r[0],
)
batch_strategy = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 99)),
    min_size=0,
    max_size=5,
    unique_by=lambda r: r[0],
)


@given(table=table_strategy, batch=batch_strategy)
@settings(**SETTINGS)
def test_upsert_is_idempotent_and_batch_wins(spark, table, batch):
    schema = "id string, v long"
    t = spark.createDataFrame(
        [(str(k), v) for k, v in table], schema
    )
    b = spark.createDataFrame(
        [(str(k), v) for k, v in batch], schema
    )
    once = upsert(t, b, "id")
    twice = upsert(once, b, "id")
    want = {str(k): v for k, v in table} | {str(k): v for k, v in batch}
    got_once = {r["id"]: r["v"] for r in once.collect()}
    got_twice = {r["id"]: r["v"] for r in twice.collect()}
    assert got_once == want
    assert got_twice == want


# -- facade writes -----------------------------------------------------------

node_ids = st.sampled_from(["n0", "n1", "n2", "n3"])
edge_ids = st.sampled_from(["e0", "e1"])
# zero-token ("", "  ") and repeated-token ("a a") texts included
doc_text = st.text(alphabet="abc d", max_size=8)
bm25_query = st.lists(st.sampled_from("abcd"), min_size=1, max_size=3).map(
    " ".join
)
facade_op = st.one_of(
    st.tuples(st.just("create"), node_ids, doc_text),
    st.tuples(
        st.just("update"),
        node_ids,
        st.none() | doc_text,
        st.none()
        | st.dictionaries(st.sampled_from("xy"), st.sampled_from("12"), max_size=2),
    ),
    st.tuples(st.just("delete"), node_ids),
    st.tuples(st.just("delete_all")),
    st.tuples(st.just("edge"), edge_ids, node_ids, node_ids),
    st.tuples(
        st.just("edge_update"),
        edge_ids,
        st.none() | st.sampled_from("tu"),
        st.none() | st.sampled_from([0.5, 2.0]),
    ),
    st.tuples(st.just("edge_delete"), edge_ids),
    st.tuples(st.just("search"), bm25_query),
)


def _duck_bm25(nodes, query: str, k: int) -> list[tuple]:
    import duckdb
    import pyarrow as pa

    from vector_graph_native_database__spark.registry.searchq import (
        _bm25_multi_sql,
    )

    rows = nodes.select("id", "text").collect()
    con = duckdb.connect()
    con.register("documents", pa.table({
        "doc_id": pa.array([r["id"] for r in rows], pa.string()),
        "text": pa.array([r["text"] for r in rows], pa.string()),
        "lang": pa.array([None] * len(rows), pa.string()),
        "source": pa.array([None] * len(rows), pa.string()),
        "n_chars": pa.array([0] * len(rows), pa.int64()),
    }))
    return [
        (nid, round(score, 6))
        for _, nid, score in con.execute(
            _bm25_multi_sql({"q": query}, k)
        ).fetchall()
    ]


def _ranked6(rows) -> list[tuple]:
    return sorted(
        ((r[0], round(r[1], 6)) for r in rows), key=lambda r: (-r[1], r[0])
    )


def _check_bm25(engine, query: str) -> None:
    """The maintained index answers like a rebuild and like DuckDB."""
    from vector_graph_native_database__spark.operators.bm25 import bm25_topk

    k = 10
    got = [(r["id"], r["score"]) for r in engine.bm25_search(query, k)]
    rebuilt = [
        (r["id"], r["score"])
        for r in bm25_topk(engine.nodes, query, k).collect()
    ]
    assert _ranked6(got) == _ranked6(rebuilt) == _ranked6(
        _duck_bm25(engine.nodes, query, k)
    )


@given(ops=st.lists(facade_op, max_size=8))
@example([("delete", "n0"), ("create", "n0", "a a"), ("search", "a")])
@example([("edge", "e0", "n0", "n1"), ("delete_all",), ("search", "a b")])
@settings(max_examples=4, deadline=None)
def test_facade_writes_match_crud_batch_operators(spark, ops):
    """Any write sequence through the facade's narrow single-row commits
    leaves the state the ``crud`` batch operators leave, and its
    maintained BM25 index answers like a rebuild and like DuckDB."""
    from vector_graph_native_database__spark.api import (
        EDGES_SCHEMA,
        EMB_SCHEMA,
        NODES_SCHEMA,
        VectorGraphEngine,
    )
    from vector_graph_native_database__spark.operators import crud
    from vector_graph_native_database__spark.session import local_frame

    def frame(rows, ddl):
        return local_frame(spark, rows, ddl)

    seed = [("n0", "a b", {}), ("n1", "b c c", {"x": "1"}), ("n2", "d", {})]
    nodes = frame(seed, NODES_SCHEMA)
    emb = frame([(i, [1.0], 1) for i, _, _ in seed], EMB_SCHEMA)
    edges = frame([], EDGES_SCHEMA)
    engine = VectorGraphEngine(spark, nodes, emb, edges)
    live, links = {i for i, _, _ in seed}, {}
    engine.bm25_search("a")  # build, so the writes below are folded
    for step, (kind, *args) in enumerate(ops):
        if kind == "create":
            nid, text = args
            engine.create_node(text, node_id=nid, embedding=[float(step)])
            nodes = crud.upsert(nodes, frame([(nid, text, {})], NODES_SCHEMA), "id")
            emb = crud.upsert(
                emb, frame([(nid, [float(step)], 1)], EMB_SCHEMA), "node_id"
            )
            live.add(nid)
        elif kind == "update" and args[0] in live:
            nid, text, meta = args
            engine.update_node(nid, text=text, metadata=meta)
            nodes = crud.update_partial(
                nodes, frame([(nid, text, meta)], NODES_SCHEMA), "id",
                ["text", "metadata"],
            )
        elif kind in ("delete", "delete_all"):
            for nid in sorted(live) if kind == "delete_all" else args:
                if nid not in live:
                    continue
                engine.delete_node(nid)
                nodes, emb, edges = crud.node_delete_cascade(
                    nodes, emb, edges, frame([(nid,)], "id string")
                )
                live.discard(nid)
                links = {e: sd for e, sd in links.items() if nid not in sd}
        elif kind == "edge" and args[0] not in links and live >= set(args[1:]):
            eid, src, dst = args
            engine.create_edge(src, dst, "t", 1.0, edge_id=eid)
            edges = crud.edge_insert_validated(
                edges, nodes, frame([(eid, src, dst, "t", 1.0)], EDGES_SCHEMA)
            )
            links[eid] = (src, dst)
        elif kind == "edge_update" and args[0] in links:
            eid, etype, weight = args
            engine.update_edge(eid, edge_type=etype, weight=weight)
            edges = crud.update_partial(
                edges,
                frame([(eid, etype, weight)], "id string, type string, weight double"),
                "id", ["type", "weight"],
            )
        elif kind == "edge_delete" and args[0] in links:
            engine.delete_edge(args[0])
            edges = crud.edge_delete(edges, frame([(args[0],)], "id string"))
            del links[args[0]]
        elif kind == "search":
            _check_bm25(engine, args[0])

    def rows(df):
        return sorted(
            tuple(
                tuple(sorted(v.items())) if isinstance(v, dict)
                else tuple(v) if isinstance(v, list) else v
                for v in r
            )
            for r in df.collect()
        )

    assert rows(engine.nodes) == rows(nodes)
    assert rows(engine.embeddings) == rows(emb)
    assert rows(engine.edges) == rows(edges)
    _check_bm25(engine, "a b c d")


# -- hot-key-salted join -----------------------------------------------------

salted_rows = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 99)),  # (key, payload)
    min_size=0,
    max_size=40,
)
salted_dim = st.lists(
    st.tuples(st.integers(0, 5), st.text("abc", min_size=1, max_size=2)),
    min_size=0,
    max_size=8,
)


@given(rows=salted_rows, dim=salted_dim, threshold=st.integers(1, 10))
@settings(**SETTINGS)
def test_salted_join_equals_plain_join(spark, rows, dim, threshold):
    """For ANY inputs and ANY hot threshold, the hot-key-salted join
    is multiset-identical to the plain inner join — salting must
    never duplicate or drop a row, whichever keys land hot."""
    from vector_graph_native_database__spark.operators.skew import (
        salted_join_hot_keys,
    )

    facts = spark.createDataFrame(
        [(f"k{k}", p) for k, p in rows], "k string, payload int"
    )
    # dedup dim keys: a dim side with duplicate keys multiplies rows
    # in BOTH joins identically, but distinct keys keep the reference
    # model trivial
    dim_rows = list({f"k{k}": lab for k, lab in dim}.items())
    dimdf = spark.createDataFrame(dim_rows, "k string, label string")
    got = sorted(
        (r["k"], r["payload"], r["label"])
        for r in salted_join_hot_keys(
            facts, dimdf, "k", salt_buckets=4, hot_row_threshold=threshold
        ).collect()
    )
    dmap = dict(dim_rows)
    want = sorted(
        (f"k{k}", p, dmap[f"k{k}"]) for k, p in rows if f"k{k}" in dmap
    )
    assert got == want


# -- exact group quantiles ---------------------------------------------------

vals_strategy = st.lists(
    st.tuples(st.sampled_from(["a", "b"]), st.integers(-50, 50)),
    min_size=1,
    max_size=40,
)


@given(rows=vals_strategy)
@settings(**SETTINGS)
def test_group_quantiles_match_type1_reference(spark, rows):
    from vector_graph_native_database__spark.operators.profiling import (
        group_quantiles,
    )

    df = spark.createDataFrame(
        [(g, float(v)) for g, v in rows], "g string, v double"
    )
    got = {r.grp: r for r in group_quantiles(df, "g", "v").collect()}
    by_g = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, xs in by_g.items():
        xs = sorted(xs)
        n = len(xs)
        assert got[g].n == n
        for p, col in ((0.25, "q_0_25"), (0.5, "q_0_5"), (0.75, "q_0_75")):
            target = math.ceil(p * n)
            assert getattr(got[g], col) == xs[target - 1]

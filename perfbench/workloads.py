"""The three workloads: what each sets up, the timed operations, the checks.

Every workload has the same three parts:

- ``load(spark, sf_dir)`` then ``index(state)``: load the engine's
  source frames and build the serving state (timed as
  ``sources.load_s`` and ``index.build_s``);
- ``ops(state, rng)``: one balanced round of named
  operations, each a zero-argument callable that returns its collected
  result; ``warmup_rounds`` rounds run untimed before the timed ones;
- ``check(state, con)``: verify outputs outside the timed region and
  return the number of wrong outputs;
- ``detail(state, records, index_s)``: the workload's part of the
  traced per-layer ledger.

Rounds keep the operation mix identical from run to run; the seed
only picks the parameters (query nodes, query text, start ids,
mutation targets, entry order).
"""

from __future__ import annotations

import os
import shutil
import statistics
import tempfile
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from vector_graph_native_database__spark.api import VectorGraphEngine
from vector_graph_native_database__spark.functions.textfn import embed_hash_df
from vector_graph_native_database__spark.operators import (
    bm25,
    graph,
    hybrid,
    staging,
    vector_search,
)
from vector_graph_native_database__spark.sources import (
    edges_df,
    embeddings_df,
    nodes_df,
)

from .oracle import check_batch, check_mutation, check_retrieval

TOP_K = 10
HYBRID_K = 15
DEPTH = 2


def build_delta(before: dict[str, float]) -> dict[str, float]:
    """Seconds each staged family spent building since ``before``, a
    copy of ``staging.BUILD_SECONDS``."""
    return {
        fam: s - before.get(fam, 0.0)
        for fam, s in staging.BUILD_SECONDS.items()
        if s > before.get(fam, 0.0)
    }


def purge_staged_root() -> None:
    """Remove the shared staged-artifact root so the next build is cold."""
    shutil.rmtree(
        os.path.join(tempfile.gettempdir(), "vgndb_spark_scratch"),
        ignore_errors=True,
    )


def _doc_texts(sf_dir: str) -> list[str]:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["text"])
    return t.column("text").to_pylist()


def _n_rows(sf_dir: str, table: str) -> int:
    import pyarrow.parquet as pq

    return pq.read_metadata(os.path.join(sf_dir, f"{table}.parquet")).num_rows


def _fixture_edges(n_docs: int) -> dict[str, tuple[str, str]]:
    """The FIXTURES.md edge rule (chain, typed star, back-edge cycle)
    recomputed in Python: edge id -> (src, dst)."""
    pairs = [(i, i + 1) for i in range(n_docs - 1)]
    pairs += [
        (i, i + j) for i in range(0, n_docs, 10) for j in (2, 3) if i + j < n_docs
    ]
    pairs += [(i + 1, i) for i in range(0, n_docs - 1, 7)]
    return {f"e-{s}-{d}": (str(s), str(d)) for s, d in pairs}


# -- retrieval ---------------------------------------------------------------


@dataclass
class RetrievalState:
    spark: object
    sf_dir: str
    nodes: object
    emb: object
    edges: object
    texts: list[str]
    n_emb: int
    dup_ids: list[int]
    stats: tuple | None = None
    queries: list[dict] = field(default_factory=list)


class Retrieval:
    """Interactive hybrid search over a loaded corpus (read-only).

    Each round runs one ``vector_search.vector_topk``, one
    ``bm25.bm25_topk`` over the staged index, one
    ``graph.graph_search`` at depth 2 and one ``hybrid.hybrid_search``
    seeded with a graph start, in seed-shuffled order.
    """

    name = "retrieval"
    warmup_rounds = 1
    docs, emb = 5000, 2000
    kinds = ("vector_search.topk", "bm25.topk", "graph.search", "hybrid.search")

    def load(self, spark, sf_dir: str) -> RetrievalState:
        nodes = nodes_df(spark, sf_dir).select("id", "text", "metadata")
        texts = _doc_texts(sf_dir)
        return RetrievalState(
            spark=spark,
            sf_dir=sf_dir,
            nodes=nodes.localCheckpoint(eager=True),
            emb=embeddings_df(spark, sf_dir).localCheckpoint(eager=True),
            edges=edges_df(spark, sf_dir).localCheckpoint(eager=True),
            texts=texts,
            n_emb=_n_rows(sf_dir, "embeddings"),
            dup_ids=[i for i, t in enumerate(texts) if t.endswith(" dup")],
        )

    def index(self, st: RetrievalState) -> None:
        st.stats = bm25.bm25_index_stage(st.spark, st.nodes, st.sf_dir)

    def _qvec(self, st: RetrievalState, qid: str):
        return st.emb.filter(F.col("node_id") == qid).select(
            F.col("vector").alias("qvec")
        )

    def ops(self, st: RetrievalState, rng: np.random.Generator):
        n_docs = len(st.texts)
        # BM25 needs the rare token: every other corpus term has a
        # negative, floored idf, so a query without it scores <= 0
        # everywhere and returns nothing.
        bnode = int(rng.choice(st.dup_ids))
        btoks = st.texts[bnode].split()
        btext = " ".join(["dup", *rng.choice(btoks, 2)])
        vq = str(int(rng.integers(st.n_emb)))
        hq = str(int(rng.integers(st.n_emb)))
        gstart = str(int(rng.integers(n_docs)))
        hstart = str(int(rng.integers(n_docs)))

        def vec():
            rows = vector_search.vector_topk(
                st.nodes, st.emb, self._qvec(st, vq), top_k=TOP_K, round_scores=6
            ).collect()
            st.queries.append({"kind": "vector", "qid": vq, "rows": rows})

        def lex():
            rows = bm25.bm25_topk(
                st.nodes, btext, top_k=TOP_K, round_scores=6, stats=st.stats
            ).collect()
            st.queries.append({"kind": "bm25", "text": btext, "rows": rows})

        def trav():
            found, induced = graph.graph_search(st.nodes, st.edges, gstart, DEPTH)
            st.queries.append({
                "kind": "graph", "start": gstart,
                "rows": found.collect(), "edges": induced.collect(),
            })

        def hyb():
            rows = hybrid.hybrid_search(
                st.nodes, st.emb, st.edges, self._qvec(st, hq),
                vector_weight=0.7, graph_weight=0.3, top_k=HYBRID_K,
                graph_start_id=hstart, graph_depth=DEPTH, round_scores=6,
            ).collect()
            st.queries.append(
                {"kind": "hybrid", "qid": hq, "start": hstart, "rows": rows}
            )

        ops = list(zip(self.kinds, (vec, lex, trav, hyb)))
        return [ops[i] for i in rng.permutation(len(ops))]

    def check(self, st: RetrievalState, con) -> int:
        return check_retrieval(con, st.queries, TOP_K, HYBRID_K)

    def detail(self, st, records, index_s: float) -> dict:
        return {"bm25.stage_s": index_s}


# -- mutation ----------------------------------------------------------------


@dataclass
class MutationState:
    spark: object
    engine: VectorGraphEngine | None
    texts: dict[str, str]
    edges: dict[str, tuple[str, str]]
    created: list[str] = field(default_factory=list)
    updated: dict[str, str] = field(default_factory=dict)
    deleted: list[str] = field(default_factory=list)
    n_created_edges: int = 0


class Mutation:
    """Writes beside reads through ``api.VectorGraphEngine``.

    A round is four writes and three reads (57/43), the same seven
    kinds every round so that the mix does not depend on how many
    rounds fit in a run: ``create_node`` with auto-embed,
    ``create_edge``, ``update_node`` with ``regen_embedding=True`` and
    a cascading ``delete_node`` of another node, then
    ``vector_search``, ``hybrid_search`` with a graph start and
    ``bm25_search`` in seed order. Every write commits through the
    facade's lazy ``localCheckpoint``, so part of its cost lands on the
    next read.

    The facade is seeded in the shape it accepts: nodes projected to
    ``id, text, metadata`` (the extra ``nodes_df`` columns make
    ``crud.upsert`` raise) and embeddings from ``embed_hash_df`` so
    they share the facade encoder's 256 dimensions (the 64-d fixture
    vectors would never score against a facade query).
    """

    name = "mutation"
    warmup_rounds = 1
    docs, emb = 1000, 1000
    kinds = (
        "api.create_node", "api.create_edge", "api.update_node",
        "api.delete_node", "api.vector_search", "api.hybrid_search",
        "api.bm25_search",
    )
    writes = frozenset(kinds[:4])

    def load(self, spark, sf_dir: str) -> MutationState:
        nodes = nodes_df(spark, sf_dir).select("id", "text", "metadata")
        texts = _doc_texts(sf_dir)
        engine = VectorGraphEngine(
            spark,
            nodes=nodes.localCheckpoint(eager=True),
            edges=edges_df(spark, sf_dir).localCheckpoint(eager=True),
        )
        return MutationState(
            spark=spark,
            engine=engine,
            texts={str(i): t for i, t in enumerate(texts)},
            edges=_fixture_edges(len(texts)),
        )

    def index(self, st: MutationState) -> None:
        eng = st.engine
        eng.embeddings = (
            embed_hash_df(eng.nodes)
            .withColumnRenamed("id", "node_id")
            .localCheckpoint(eager=True)
        )

    @staticmethod
    def _pick_live(st: MutationState, rng, avoid: str = "") -> str:
        return str(rng.choice(sorted(st.texts.keys() - {avoid})))

    def ops(self, st: MutationState, rng: np.random.Generator):
        from .corpus import VOCAB

        eng = st.engine
        k = len(st.created)
        new_id = f"bench-node-{k}"
        new_text = " ".join(rng.choice(VOCAB, 8))
        src, dst = self._pick_live(st, rng), self._pick_live(st, rng)
        weight = float(rng.integers(1, 5))
        doomed = self._pick_live(st, rng)
        target = self._pick_live(st, rng, avoid=doomed)
        upd_text = " ".join(rng.choice(VOCAB, 6))
        qtext = " ".join(rng.choice(st.texts[target].split(), 3))
        start = self._pick_live(st, rng, avoid=doomed)

        def create():
            eng.create_node(new_text, {"lang": "en"}, node_id=new_id)
            st.created.append(new_id)
            st.texts[new_id] = new_text

        def edge():
            eid = f"bench-edge-{st.n_created_edges}"
            eng.create_edge(src, dst, "cites", weight, edge_id=eid)
            st.n_created_edges += 1
            st.edges[eid] = (src, dst)

        def update():
            eng.update_node(target, text=upd_text, regen_embedding=True)
            st.texts[target] = upd_text
            st.updated[target] = upd_text

        def delete():
            eng.delete_node(doomed)
            del st.texts[doomed]
            st.updated.pop(doomed, None)
            st.deleted.append(doomed)
            st.edges = {
                e: (s, d) for e, (s, d) in st.edges.items()
                if doomed not in (s, d)
            }

        def vsearch():
            return eng.vector_search(qtext, top_k=TOP_K)

        def hsearch():
            return eng.hybrid_search(qtext, top_k=TOP_K, graph_start_id=start)

        def bsearch():
            return eng.bm25_search("dup " + qtext, top_k=TOP_K)

        writes = [create, edge, update, delete]
        reads = [vsearch, hsearch, bsearch]
        named = list(zip(self.kinds, writes + reads))
        # writes first, in a fixed order; the reads follow in seed
        # order and see the round's writes
        return named[:4] + [named[4 + i] for i in rng.permutation(3)]

    def check(self, st: MutationState, con) -> int:
        return check_mutation(st)

    def detail(self, st, records, index_s: float) -> dict:
        w = [r.wall_s for r in records if r.name in self.writes]
        rd = [r.wall_s for r in records if r.name not in self.writes]
        return {
            "textfn.embed_corpus_s": index_s,
            "write_p50_s": statistics.median(w),
            "read_p50_s": statistics.median(rd),
            "api.jobs_per_op": (
                sum(r.counters["jobs"] for r in records) / len(records)
            ),
        }


# -- batch -------------------------------------------------------------------

BATCH_ENTRIES = (
    "dedup_minhash_lsh",
    "dedup_minhash_band_sweep",
    "graph_connected_components",
    "bm25_topk_streamed_index",
    "olap_market_basket",
)
BATCH_TABLES = ("documents", "lineitem")


@dataclass
class BatchState:
    spark: object
    sf_dir: str
    builders: dict
    frames: dict = field(default_factory=dict)
    builds: dict = field(default_factory=dict)


class Batch:
    """Offline index and analytics jobs from the query registry.

    A pass purges the staged-artifact root, then runs every entry once
    (builder call, then collect to pandas) in a seed-permuted order, so
    the MinHash build moves between its two first touchers
    (``dedup_minhash_lsh`` and ``dedup_minhash_band_sweep``). The
    collected frames are what the check compares with the oracles.
    """

    name = "batch"
    warmup_rounds = 0  # every pass is cold by design
    docs, emb = 500, 500

    def load(self, spark, sf_dir: str) -> BatchState:
        from vector_graph_native_database__spark.registry import all_queries
        from vector_graph_native_database__spark.sources.loaders import load_table

        # scan the input tables, so set-up covers the loads and the
        # pass does not start on a JVM that has run no job yet
        for t in BATCH_TABLES:
            load_table(spark, sf_dir, t).count()
        qs = all_queries()
        return BatchState(spark, sf_dir, {n: qs[n] for n in BATCH_ENTRIES})

    def index(self, st: BatchState) -> None:
        """Nothing is prebuilt: the pass itself pays every staged build."""

    def ops(self, st: BatchState, rng: np.random.Generator):
        purge_staged_root()
        st.frames.clear()
        st.builds.clear()
        out = []
        for i in rng.permutation(len(BATCH_ENTRIES)):
            name = BATCH_ENTRIES[i]
            out.append((name, self._entry(st, name)))
        return out

    def _entry(self, st: BatchState, name: str):
        def run():
            before = dict(staging.BUILD_SECONDS)
            t0 = time.perf_counter()
            df = st.builders[name](st.spark, st.sf_dir)
            t1 = time.perf_counter()
            st.frames[name] = df.toPandas()
            t2 = time.perf_counter()
            st.builds[name] = {
                "construct_s": t1 - t0,
                "exec_s": t2 - t1,
                "build_s": build_delta(before),
            }

        return run

    def check(self, st: BatchState, con) -> int:
        return check_batch(con, st.frames)

    def detail(self, st, records, index_s: float) -> dict:
        """Registry split of the last pass and who paid each staged build."""
        b = st.builds
        touchers = [(fam, n) for n, v in b.items() for fam in v["build_s"]]
        families = {fam for fam, _ in touchers}
        out = {f"registry.construct_s.{n}": v["construct_s"] for n, v in b.items()}
        out |= {f"registry.exec_s.{n}": v["exec_s"] for n, v in b.items()}
        out["staging.builds_per_family"] = (
            len(touchers) / len(families) if families else None
        )
        out["staging.first_toucher"] = dict(touchers)
        return out


WORKLOADS = {w.name: w for w in (Retrieval(), Mutation(), Batch())}


"""The reference's full API surface as a Python engine facade.

One method per HTTP route of the reference (SURVEY.md §2.9,
``/root/reference/app.py:753-940``), so a user of the reference can
switch to this engine and run every call they run today — with the
same observable semantics (embedding precedence, upsert-on-create,
insert-only edges with endpoint validation, cascade delete, 404 →
``KeyError``) — while state lives in three DataFrames instead of
SQLite and every operation is a distributed plan.

State model: the engine holds the current ``nodes`` / ``embeddings``
/ ``edges`` DataFrames and mutations REASSIGN them (immutable
snapshots, the DataFrame idiom). Seed frames are projected to the
facade schemas on entry, so wider frames such as ``sources.nodes_df``
(which also carries ``lang``/``source``/``n_chars``) are accepted.

Each write route commits a narrow single-row plan with the same result
as the batch operator in ``operators/crud.py`` that it replaces: an
upsert filters the old state by a null-safe key literal and unions
the one-row batch, a partial update is a ``when(key = …)``
projection, a delete is a null-safe literal filter, and an edge insert
(whose endpoints the route has probed) is a plain union. None of them
has an exchange, so the commit starts no Spark job (see
:meth:`VectorGraphEngine._commit`). Batch ingestion should call the
``crud`` operators directly, and a durable deployment writes each new
state (or a Delta MERGE) instead of holding it in memory.

``bm25_search`` serves from a :class:`~.operators.bm25.MaintainedIndex`
built on its first call: writes record the changed texts on the
driver and the next search folds them in, so a search stops
re-tokenizing the whole node set. Reassigning ``nodes`` outside the
write routes makes the next search rebuild it.

Every request frame a route builds from its arguments — the mutation
batch, the query vector — is a JVM local relation
(``session.local_frame``): it is scanned on the driver, so a route
runs no Python-worker tasks for its own inputs.
"""

from __future__ import annotations

import uuid
from collections.abc import Mapping
from functools import cached_property

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.textfn import EMBED_DIM, embed_hash
from .operators.bm25 import MaintainedIndex, bm25_topk
from .operators.graph import graph_search as _graph_search
from .operators.hybrid import hybrid_search as _hybrid_search
from .operators.vector_search import vector_topk
from .session import local_frame

NODES_SCHEMA = "id string, text string, metadata map<string,string>"
EMB_SCHEMA = "node_id string, vector array<double>, dim int"
EDGES_SCHEMA = (
    "id string, src string, dst string, type string, weight double"
)


class VectorGraphEngine:
    """Route-for-route replacement for the reference server."""

    def __init__(
        self,
        spark: SparkSession,
        nodes: DataFrame | None = None,
        embeddings: DataFrame | None = None,
        edges: DataFrame | None = None,
    ):
        self.spark = spark
        self.nodes = self._conform(nodes, NODES_SCHEMA)
        self.embeddings = self._conform(embeddings, EMB_SCHEMA)
        self.edges = self._conform(edges, EDGES_SCHEMA)
        # the BM25 index and the nodes frame it describes
        self._bm25: MaintainedIndex | None = None
        self._bm25_nodes: DataFrame | None = None

    # -- helpers -----------------------------------------------------------

    def _conform(self, df: DataFrame | None, ddl: str) -> DataFrame:
        """``df`` projected (and cast) to the facade schema ``ddl``, or
        an empty table. Extra columns would break the upserts'
        union with the single-row batches."""
        empty = local_frame(self.spark, [], ddl)
        if df is None:
            return empty
        return df.select(
            *(F.col(f.name).cast(f.dataType) for f in empty.schema)
        )

    @staticmethod
    def _commit(df: DataFrame) -> DataFrame:
        """Truncate lineage after a mutation (deferred checkpoint).

        Without this, every single-row mutation stacks another filter
        or union onto the plan and the Nth operation pays for all N-1
        before it; with it, each state is a shallow plan over the
        previous checkpoint. The plan must stay narrow: a lazy
        checkpoint builds its RDD at once, and with AQE building it
        runs every query stage (shuffle, broadcast) of the plan, so an
        exchange here is paid as Spark jobs by the write itself. Each
        union adds the batch's partition, so a narrow ``coalesce`` caps
        the count at the session's ``defaultParallelism``. A durable
        deployment writes the new state (or a Delta MERGE) here
        instead.
        """
        cap = df.sparkSession.sparkContext.defaultParallelism
        return df.coalesce(cap).localCheckpoint(eager=False)

    def _set_nodes(
        self,
        nodes: DataFrame,
        node_id: str | None = None,
        text: str | None = None,
        live: bool = True,
    ) -> None:
        """Commit ``nodes`` and tell the BM25 index that ``node_id`` now
        holds ``text`` or, not ``live``, is gone (no id: no text
        changed). An index that no longer describes the old state,
        because ``nodes`` was reassigned outside the routes, is dropped
        and rebuilt at the next read."""
        tracked = self._bm25 is not None and self.nodes is self._bm25_nodes
        self.nodes = self._commit(nodes)
        if not tracked:
            self._bm25 = None
            return
        if node_id is not None:
            self._bm25.record(node_id, text, live)
        self._bm25_nodes = self.nodes

    @staticmethod
    def _without(df: DataFrame, key: str, value: str) -> DataFrame:
        """``df`` minus its rows whose ``key`` is ``value`` (null-safe:
        null keys stay, as with a broadcast anti-join)."""
        return df.filter(~F.col(key).eqNullSafe(value))

    @staticmethod
    def _patch(
        df: DataFrame, key: str, value: str, changes: Mapping[str, object]
    ) -> DataFrame:
        """``df`` with the non-null ``changes`` (column → literal) set
        on the rows whose ``key`` is ``value``; others pass as-is."""
        hit = F.col(key) == value
        return df.select(*(
            F.when(hit, changes[c]).otherwise(F.col(c)).alias(c)
            if changes.get(c) is not None
            else F.col(c)
            for c in df.columns
        ))

    @cached_property
    def _embed_text(self) -> Column:
        # built once: building the 256-dim expression tree took about
        # 0.08 s of py4j calls, a quarter of a create_node
        return embed_hash("text").alias("vector")

    def _encode(self, text: str) -> list[float]:
        """Hash-embed one text (the reference's auto-embedding)."""
        row = (
            local_frame(self.spark, [(text,)], "text string")
            .select(self._embed_text)
            .collect()[0]
        )
        return list(row["vector"])

    def _query_frame(self, text: str) -> DataFrame:
        return local_frame(
            self.spark, [(self._encode(text),)], "qvec array<double>"
        )

    def _node_exists(self, node_id: str) -> bool:
        return bool(self.nodes.filter(F.col("id") == node_id).take(1))

    def _put_embedding(self, node_id: str, vector: list[float]) -> None:
        batch = local_frame(
            self.spark,
            [(node_id, [float(v) for v in vector], len(vector))],
            EMB_SCHEMA,
        )
        self.embeddings = self._commit(
            self._without(self.embeddings, "node_id", node_id).unionByName(
                batch
            )
        )

    # -- node routes (app.py:753-834) --------------------------------------

    def create_node(
        self,
        text: str,
        metadata: Mapping[str, str] | None = None,
        node_id: str | None = None,
        embedding: list[float] | None = None,
        auto_embed: bool = True,
    ) -> str:
        """POST /nodes — create IS an upsert (app.py:131-134).

        Embedding precedence (app.py:762-766): explicit ``embedding``
        beats ``auto_embed``; neither → no vector stored. Returns the
        node id (UUID when not supplied — SURVEY §4.8.7 replaces the
        reference's collision-prone timestamp ids).
        """
        nid = node_id if node_id is not None else f"node-{uuid.uuid4()}"
        batch = local_frame(
            self.spark, [(nid, text, dict(metadata or {}))], NODES_SCHEMA
        )
        self._set_nodes(
            self._without(self.nodes, "id", nid).unionByName(batch), nid, text
        )
        if embedding is not None:
            self._put_embedding(nid, embedding)
        elif auto_embed:
            self._put_embedding(nid, self._encode(text))
        return nid

    def get_node(self, node_id: str) -> dict:
        """GET /nodes/{id} → node + has_embedding + outgoing/incoming."""
        rows = self.nodes.filter(F.col("id") == node_id).collect()
        if not rows:
            raise KeyError(node_id)
        n = rows[0]
        has_emb = bool(
            self.embeddings.filter(F.col("node_id") == node_id).take(1)
        )
        outgoing = [
            {"id": r["id"], "target_id": r["dst"], "type": r["type"],
             "weight": r["weight"]}
            for r in self.edges.filter(F.col("src") == node_id).collect()
        ]
        incoming = [
            {"id": r["id"], "source_id": r["src"], "type": r["type"],
             "weight": r["weight"]}
            for r in self.edges.filter(F.col("dst") == node_id).collect()
        ]
        return {
            "id": n["id"],
            "text": n["text"],
            "metadata": dict(n["metadata"] or {}),
            "has_embedding": has_emb,
            "outgoing": outgoing,
            "incoming": incoming,
        }

    def update_node(
        self,
        node_id: str,
        text: str | None = None,
        metadata: Mapping[str, str] | None = None,
        embedding: list[float] | None = None,
        regen_embedding: bool = False,
    ) -> None:
        """PUT /nodes/{id} — partial update; None keeps the old value.

        Embedding precedence (app.py:802-808): explicit >
        ``regen_embedding`` (re-encode the NEW text) > keep.
        """
        if not self._node_exists(node_id):
            raise KeyError(node_id)
        meta = None
        if metadata is not None:
            meta = F.create_map(
                *(F.lit(x) for kv in metadata.items() for x in kv)
            ).cast("map<string,string>")
        self._set_nodes(
            self._patch(
                self.nodes, "id", node_id,
                {"text": None if text is None else F.lit(text),
                 "metadata": meta},
            ),
            None if text is None else node_id,
            text,
        )
        if embedding is not None:
            self._put_embedding(node_id, embedding)
        elif regen_embedding:
            new_text = (
                text
                if text is not None
                else self.nodes.filter(F.col("id") == node_id)
                .collect()[0]["text"]
            )
            self._put_embedding(node_id, self._encode(new_text))

    def delete_node(self, node_id: str) -> None:
        """DELETE /nodes/{id} — cascade (embedding + incident edges)."""
        if not self._node_exists(node_id):
            raise KeyError(node_id)
        self._set_nodes(
            self._without(self.nodes, "id", node_id), node_id, live=False
        )
        self.embeddings = self._commit(
            self._without(self.embeddings, "node_id", node_id)
        )
        self.edges = self._commit(
            self.edges.filter(
                ~(
                    F.col("src").eqNullSafe(node_id)
                    | F.col("dst").eqNullSafe(node_id)
                )
            )
        )

    # -- edge routes (app.py:839-877) --------------------------------------

    def create_edge(
        self,
        src: str,
        dst: str,
        edge_type: str,
        weight: float = 1.0,
        edge_id: str | None = None,
    ) -> str:
        """POST /edges — insert-only; both endpoints must exist."""
        for endpoint in (src, dst):
            if not self._node_exists(endpoint):
                raise KeyError(endpoint)
        eid = edge_id if edge_id is not None else f"edge-{uuid.uuid4()}"
        batch = local_frame(
            self.spark,
            [(eid, src, dst, edge_type, float(weight))],
            EDGES_SCHEMA,
        )
        self.edges = self._commit(self.edges.unionByName(batch))
        return eid

    def get_edge(self, edge_id: str) -> dict:
        rows = self.edges.filter(F.col("id") == edge_id).collect()
        if not rows:
            raise KeyError(edge_id)
        r = rows[0]
        return {
            "id": r["id"], "source": r["src"], "target": r["dst"],
            "type": r["type"], "weight": r["weight"],
        }

    def update_edge(
        self,
        edge_id: str,
        edge_type: str | None = None,
        weight: float | None = None,
    ) -> None:
        """PUT /edges/{id} — partial update of type/weight."""
        if not self.edges.filter(F.col("id") == edge_id).take(1):
            raise KeyError(edge_id)
        self.edges = self._commit(
            self._patch(
                self.edges, "id", edge_id,
                {"type": None if edge_type is None else F.lit(edge_type),
                 "weight": None if weight is None else F.lit(float(weight))},
            )
        )

    def delete_edge(self, edge_id: str) -> None:
        if not self.edges.filter(F.col("id") == edge_id).take(1):
            raise KeyError(edge_id)
        self.edges = self._commit(self._without(self.edges, "id", edge_id))

    # -- search routes (app.py:882-920) ------------------------------------

    def vector_search(
        self,
        query_text: str,
        top_k: int = 10,
        metadata_filter: Mapping[str, str] | None = None,
    ) -> list[dict]:
        """POST /search/vector."""
        df = vector_topk(
            self.nodes,
            self.embeddings,
            self._query_frame(query_text),
            top_k=top_k,
            meta_filter=metadata_filter,
        )
        return [
            {"id": r["id"], "text": r["text"], "vector_score": r["score"]}
            for r in df.collect()
        ]

    def graph_search(
        self, start_id: str, depth: int = 2, edge_type: str | None = None
    ) -> dict:
        """GET /search/graph — envelope like the reference's."""
        if not self._node_exists(start_id):
            raise KeyError(start_id)
        result_nodes, induced = _graph_search(
            self.nodes, self.edges, start_id, depth, edge_type
        )
        return {
            "start_id": start_id,
            "depth": depth,
            "edge_type": edge_type,
            "nodes": [r.asDict() for r in result_nodes.collect()],
            "edges": [r.asDict() for r in induced.collect()],
        }

    def hybrid_search(
        self,
        query_text: str,
        top_k: int = 10,
        vector_weight: float = 0.5,
        graph_weight: float = 0.5,
        graph_start_id: str | None = None,
        graph_depth: int = 2,
    ) -> list[dict]:
        """POST /search/hybrid."""
        if graph_start_id is not None and not self._node_exists(graph_start_id):
            raise KeyError(graph_start_id)
        df = _hybrid_search(
            self.nodes,
            self.embeddings,
            self.edges,
            self._query_frame(query_text),
            vector_weight=vector_weight,
            graph_weight=graph_weight,
            top_k=top_k,
            graph_start_id=graph_start_id,
            graph_depth=graph_depth,
        )
        return [r.asDict() for r in df.collect()]

    def bm25_search(self, query_text: str, top_k: int = 10) -> list[dict]:
        """The standalone BM25 capability (no reference endpoint —
        advertised in its readme but never routed; SURVEY §4.8.3).

        The first call builds the index from ``nodes``; later calls fold
        the writes recorded since into it, or rebuild it when ``nodes``
        was reassigned outside the write routes.
        """
        if self._bm25 is None or self.nodes is not self._bm25_nodes:
            self._bm25 = MaintainedIndex(self.nodes, self._commit)
            self._bm25_nodes = self.nodes
        else:
            self._bm25.fold()
        stats = self._bm25.stats()
        return [
            r.asDict()
            for r in bm25_topk(self.nodes, query_text, top_k, stats=stats)
            .collect()
        ]

    # -- misc routes (app.py:923-940) --------------------------------------

    def health(self) -> dict:
        return {"status": "ok"}

    def stats(self) -> dict:
        """GET /stats — three counts: nodes, distinct embedded node
        ids and edges."""
        return {
            "total_nodes": self.nodes.count(),
            "nodes_with_embeddings": self.embeddings.select(
                "node_id"
            ).distinct().count(),
            "total_edges": self.edges.count(),
        }

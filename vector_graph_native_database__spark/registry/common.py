"""Shared pieces for the query/oracle registry.

Every ``queries()`` entry has a DuckDB oracle built from the same
prelude: the engine-model views (nodes / emb / edges) derived from
the driver's parquet views exactly as ``sources/adapters.py`` derives
them. Float outputs are rounded to 6 decimals on BOTH sides (the
reference tests' epsilon, ``test_final.py:10-11``); ranked outputs
sort by (rounded score DESC, id ASC) — SURVEY §4.8.5.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textfn import WS_SPLIT
from ..functions.vectorfn import stable_round6  # noqa: F401  (re-export)
from ..sources import edges_df, embeddings_df, nodes_df

ORACLE_PRELUDE = """
WITH RECURSIVE
nodes AS (
  SELECT CAST(doc_id AS VARCHAR) AS id, text, lang, source, n_chars
  FROM documents
),
emb AS (
  SELECT CAST(vec_id AS VARCHAR) AS node_id, embedding AS vector,
         len(embedding) AS dim
  FROM embeddings
),
__ids AS (SELECT doc_id FROM documents),
edges AS (
  SELECT 'e-' || d.doc_id || '-' || (d.doc_id + 1) AS id,
         CAST(d.doc_id AS VARCHAR) AS src,
         CAST(d.doc_id + 1 AS VARCHAR) AS dst,
         'cites' AS type,
         1.0 + CAST(d.doc_id % 5 AS DOUBLE) AS weight
  FROM __ids d
  WHERE EXISTS (SELECT 1 FROM __ids x WHERE x.doc_id = d.doc_id + 1)
  UNION ALL
  SELECT 'e-' || d.doc_id || '-' || (d.doc_id + t.j),
         CAST(d.doc_id AS VARCHAR),
         CAST(d.doc_id + t.j AS VARCHAR),
         'author_of', 2.0
  FROM __ids d CROSS JOIN (SELECT 2 AS j UNION ALL SELECT 3) t
  WHERE d.doc_id % 10 = 0
    AND EXISTS (SELECT 1 FROM __ids x WHERE x.doc_id = d.doc_id + t.j)
  UNION ALL
  SELECT 'e-' || (d.doc_id + 1) || '-' || d.doc_id,
         CAST(d.doc_id + 1 AS VARCHAR),
         CAST(d.doc_id AS VARCHAR),
         'related', 0.5
  FROM __ids d
  WHERE d.doc_id % 7 = 0
    AND EXISTS (SELECT 1 FROM __ids x WHERE x.doc_id = d.doc_id + 1)
)"""

# Whitespace tokenizer in DuckDB (= Python str.split / engine tokenize()).
SQL_TOKENS = (
    f"list_filter(string_split_regex(lower({{col}}), '{WS_SPLIT}'), x -> x <> '')"
)


# DuckDB twin of textfn.normalize_ws (exact dedup's normalized text).
SQL_NORMALIZED = (
    f"trim(regexp_replace(lower({{col}}), '{WS_SPLIT}', ' ', 'g'), ' ')"
)


def sql_stable_round6(expr: str) -> str:
    return f"floor(({expr}) * 1000000.0 + 0.5) / 1000000.0"


def sql_bfs_cte(start: str, depth: int, edge_type: str | None = None) -> str:
    """Recursive-CTE twin of operators.graph.graph_bfs.

    Enumerates all ≤depth walks from start, then per node keeps
    (min distance, max weight among min-distance walks) — provably
    identical to the level-synchronous rule because every prefix of a
    min-hop path is itself min-hop.
    """
    type_pred = f" AND e.type = '{edge_type}'" if edge_type else ""
    return f""",
walk AS (
  SELECT CAST('{start}' AS VARCHAR) AS id, 0 AS dist, CAST(0.0 AS DOUBLE) AS w
  UNION ALL
  SELECT e.dst, walk.dist + 1, walk.w + e.weight
  FROM walk JOIN edges e ON e.src = walk.id{type_pred}
  WHERE walk.dist < {depth}
),
bfsr AS (
  SELECT m.id, m.distance, max(w.w) AS path_weight
  FROM (SELECT id, min(dist) AS distance FROM walk GROUP BY id) m
  JOIN walk w ON w.id = m.id AND w.dist = m.distance
  GROUP BY m.id, m.distance
)"""


def scratch_dir(name: str) -> str:
    """Run-scoped scratch directory for queries that need a real sink
    (IO round-trips, streaming checkpoints).

    Lives under one stable root; any PREVIOUS run's directory for the
    same query name is removed before a fresh one is handed out, so
    repeated gate/bench runs never accumulate sink/checkpoint
    directories on disk — at most one per query name exists at a
    time. The fresh dir is keyed by a uuid so a query's lazily-read
    sink stays valid until the next invocation of that same query.
    """
    import shutil
    import tempfile
    import uuid

    root = os.path.join(tempfile.gettempdir(), "vgndb_spark_scratch")
    os.makedirs(root, exist_ok=True)
    for entry in os.listdir(root):
        if entry.startswith(name + "_"):
            shutil.rmtree(os.path.join(root, entry), ignore_errors=True)
    path = os.path.join(root, f"{name}_{uuid.uuid4().hex[:8]}")
    os.makedirs(path)
    return path


def replay_state_parts(spark: SparkSession, n: int | None = None):
    """Scope the state-store partition count for a bounded streaming
    replay (context manager around ``.start()`` → ``awaitTermination``).

    Structured Streaming pins the stateful-operator partition count at
    first query start from ``spark.sql.shuffle.partitions`` (recorded
    in the checkpoint, immutable for the query's lifetime) and AQE
    never re-plans stateful stages. For the registry's availableNow
    replays the keyed state per side is small, so 32 HDFS-backed state
    stores × several store instances per stateful operator × delta
    files per micro-batch is pure file churn: measured on
    ``events_stream_outer_join`` at sf0.1, the replay drops 14.8s → 3.3s
    going 32 → 8 state partitions with identical output. Batch stages
    before/after the replay keep the session's normal shuffle sizing.

    Scale story: state partitions must be sized to EXPECTED STATE
    VOLUME, not inherited from batch shuffle defaults — a cluster
    deployment sets ``SPARK_GRAFT_STREAM_STATE_PARTS`` to hundreds for
    multi-TB keyed state; the local default of 8 covers the bounded
    replay gates.

    Concurrency note: the scope mutates the SESSION-global
    ``spark.sql.shuffle.partitions`` for the replay's duration — any
    query planned concurrently on the same SparkSession would inherit
    the scoped sizing. The registry/battery/bench drivers are
    single-threaded per SparkSession (one entry at a time), which this
    relies on; a threaded driver must give replays their own
    ``spark.newSession()`` so the conf scope is session-local."""
    import contextlib

    @contextlib.contextmanager
    def _scope():
        parts = n or int(
            os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTS", "8")
        )
        key = "spark.sql.shuffle.partitions"
        old = spark.conf.get(key)
        spark.conf.set(key, str(parts))
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return _scope()


def replay_batches(
    spark: SparkSession,
    name: str,
    batches: list[DataFrame],
    schema: str,
    maintain,
    **kw,
) -> DataFrame:
    """Replay ``batches`` through an ``incremental_*_maintenance``
    function and return the maintained state: each batch is appended
    as parquet to a fresh scratch source dir, then
    ``maintain(spark, src, schema, state, ckpt, **kw)`` runs one
    checkpointed availableNow pass over it.

    Batch i+1's append runs on a one-worker pool while batch i's
    replay runs, so the two overlap. Write-ordering invariant: the
    WRITES stay serialized (one worker; write i+1 is submitted only
    after write i returned), so batch i is fully visible before any
    batch i+1 file lands. A replay's listing may still pick up part of
    batch i+1, so one micro-batch can hold a key's batch-i and
    batch-(i+1) rows, but a key's batch-(i+1) row is never applied in
    an EARLIER micro-batch than its batch-i row. That is correct for:

    - latest-wins families: ``max_by(..., seq)`` settles rows that
      share a micro-batch, and across micro-batches the upsert is
      last-applied-wins (the persisted state drops ``seq``), which the
      ordering above makes highest-seq-wins as long as ``seq`` rises
      with the batch index;
    - sketch monoids (sum/max/min-k merges): order-independent.

    It is NOT correct for Markov maintenance
    (``markov_incremental_equiv`` keeps its own sequential loop): its
    per-user carry assumes each micro-batch is a whole event-time
    range, and a batch whose part files split across two micro-batches
    breaks a user's lead()/carry chain out of time order. More workers
    or reordered submits would break the latest-wins families too.
    The checkpoint processes each file exactly once.
    """
    from concurrent.futures import ThreadPoolExecutor

    from ..streaming.ingest import read_state

    base = scratch_dir(name)
    src, state, ckpt = (
        os.path.join(base, d) for d in ("src", "state", "ckpt")
    )

    def append(batch: DataFrame) -> None:
        batch.write.mode("append").parquet(src)

    with ThreadPoolExecutor(max_workers=1) as pool:
        pending = pool.submit(append, batches[0])
        for nxt in [*batches[1:], None]:
            pending.result()
            if nxt is not None:
                pending = pool.submit(append, nxt)
            maintain(spark, src, schema, state, ckpt, **kw)
    return read_state(spark, state)


def replay_to_parquet(
    spark: SparkSession, name: str, stream_df: DataFrame
) -> DataFrame:
    """Run ``stream_df`` to completion into a checkpointed append-mode
    parquet sink (``trigger(availableNow=True)``, awaited, inside
    :func:`replay_state_parts`) and return the sink as a batch frame.
    The sink is a fresh scratch dir per call; a deployment points it
    at a real table and keeps the checkpoint for incremental
    restarts."""
    base = scratch_dir(name)
    sink = os.path.join(base, "sink")
    with replay_state_parts(spark):
        q = (
            stream_df.writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(sink)


def model(spark: SparkSession, sf_dir: str):
    """(nodes, embeddings, edges) engine-model DataFrames."""
    return (
        nodes_df(spark, sf_dir),
        embeddings_df(spark, sf_dir),
        edges_df(spark, sf_dir),
    )


def query_vec(spark: SparkSession, sf_dir: str, node_id: str = "0") -> DataFrame:
    """1-row broadcastable query-vector frame (qvec) = stored embedding."""
    return (
        embeddings_df(spark, sf_dir)
        .filter(F.col("node_id") == node_id)
        .select(F.col("vector").alias("qvec"))
    )


SQL_QVEC = ",\nq AS (SELECT vector AS qvec FROM emb WHERE node_id = '0')"

SQL_SCORED = (
    SQL_QVEC
    + """,
scored AS (
  SELECT e.node_id AS id,
         list_dot_product(CAST(e.vector AS DOUBLE[]),
                          CAST(q.qvec AS DOUBLE[])) AS score
  FROM emb e, q WHERE len(e.vector) = len(q.qvec)
)"""
)

"""Windowed aggregations over the events table (streaming-shaped).

Batch expressions of the streaming operators in streaming/windows.py
(identical semantics; the streaming variants add watermarks). Window
starts are epoch-aligned so DuckDB reproduces them with epoch
arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources import load_table
from .common import ORACLE_PRELUDE, replay_batches, replay_to_parquet
from ..streaming.windows import session_agg, sliding_agg, tumbling_agg


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_agg(_events(spark, sf_dir)).withColumn(
        "sum_value", F.round("sum_value", 6)
    )


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_agg(_events(spark, sf_dir)).withColumn(
        "sum_value", F.round("sum_value", 6)
    )


def q_events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_agg(_events(spark, sf_dir)).withColumn(
        "sum_value", F.round("sum_value", 6)
    )


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction from the JSON props column —
    ``get_json_object`` is Catalyst-native (no UDF); the path reaches
    the scan as an ordinary projected expression."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select(
        "event_id",
        k.alias("k"),
        (k - k % 10).alias("k_decade"),
    )


def q_events_pivot_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-user feature row: sum(value) pivoted over the event
    types — one shuffle; the explicit value list keeps the output
    schema static (no extra distinct pass, required for streaming and
    for deterministic columns at 100 TB)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.round(F.sum("value"), 6))
    )


def q_events_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (lag + cumulative session counter) —
    the window-function twin of session_window, needed when session
    IDENTITY matters (joins back to member events), not just the agg.
    One shuffle on user_id; both windows share the same partitioning
    so Catalyst plans a single Exchange."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    new_sess = F.when(
        F.lag(us).over(w).isNull() | (us - F.lag(us).over(w) > 1800 * 1_000_000),
        1,
    ).otherwise(0)
    sid = F.sum(new_sess).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn("sid", sid)
        .groupBy("user_id", "sid")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.count("*").alias("n_events"),
            (
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
                / F.lit(1_000_000)
            )
            .cast("long")
            .alias("duration_sec"),
        )
        .select("user_id", "session_start", "n_events", "duration_sec")
    )


def q_events_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Structured Streaming exercise in batch clothing:
    events.parquet as a file-source STREAM (explicit schema, as
    streaming sources require) → ``trigger(availableNow=True)`` →
    exactly-once parquet sink via checkpointed ``writeStream`` → the
    batch tumbling aggregation over the replayed sink. Results are
    value-identical to ``events_tumbling`` (same oracle SQL), so the
    driver gate verifies the streaming read/sink path, not just the
    batch one.
    """
    from ..streaming.ingest import stream_events

    replayed = replay_to_parquet(
        spark,
        "events_stream_replay",
        stream_events(spark, sf_dir, with_watermark=None),
    )
    return tumbling_agg(replayed).withColumn(
        "sum_value", F.round("sum_value", 6)
    )


def q_events_stream_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling aggregation through the REAL streaming
    engine in append mode — the semantics, not just the plumbing:
    with a 1-hour watermark, only windows whose end is at or before
    (max event time − 1 hour) are finalized and emitted by the
    closing no-data micro-batch of an ``availableNow`` run; the tail
    windows stay in state. That cutoff is a pure function of the
    data, so the DuckDB oracle reproduces it exactly — the driver
    gate thereby value-checks Spark's late-data/watermark behavior.
    """
    from ..streaming.ingest import stream_events

    stream = stream_events(spark, sf_dir, with_watermark="1 hour")
    return replay_to_parquet(
        spark, "events_stream_windows", tumbling_agg(stream)
    ).withColumn("sum_value", F.round("sum_value", 6))


def q_events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication through the real engine: events stream
    → ``dropDuplicates(user_id, event_type)`` → parquet sink → batch
    count per type. The sink's per-type user counts are
    order-independent (each distinct pair survives exactly once
    whatever the arrival order), so the DuckDB twin is a plain
    count(DISTINCT user_id) — the gate value-checks the streaming
    dedup state machinery. NULL user_ids are filtered before the
    dedup state on the Spark side, pinning the semantics to the
    oracle's count(DISTINCT), which excludes NULLs — without the
    filter a null-user fixture row would survive dropDuplicates as
    its own group and the two engines would disagree by one. Production pins state with
    ``dropDuplicatesWithinWatermark`` (streaming/stateful.py); the
    registry run is a bounded availableNow replay, where run-scoped
    state is the point."""
    from ..streaming.ingest import stream_events

    stream = stream_events(spark, sf_dir, with_watermark=None)
    deduped = stream.filter(F.col("user_id").isNotNull()).dropDuplicates(
        ["user_id", "event_type"]
    )
    return (
        replay_to_parquet(spark, "events_stream_dedup", deduped)
        .groupBy("event_type")
        .agg(F.count("*").alias("unique_users"))
    )


def q_bm25_incremental_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end proof that O(batch) incremental BM25 maintenance
    converges to the full recompute: the corpus is replayed as THREE
    checkpointed micro-batches through the real streaming machinery —
    batch 0 writes a third of the docs with DECOY text, batch 1 the
    remaining docs, batch 2 REWRITES the decoy docs with their true
    text (exercising the anti-join drop-and-replace path and
    latest-wins) — then the query scores every document from the
    maintained posting state. The DuckDB oracle is the plain
    full-corpus BM25 (identical to bm25_score's oracle): it knows
    nothing about batches, so a single leaked stale posting, dropped
    doc, or double-counted rewrite fails the value hash. State
    publishes through the transactional commit_state protocol.
    """
    from ..operators.bm25 import bm25_scores, stats_from_posting
    from ..streaming.ingest import incremental_bm25_maintenance
    from .searchq import BM25_QUERY

    docs, state_df = _replay_decoy_batches(
        spark,
        sf_dir,
        scratch_name="bm25_incremental",
        decoy_text="stale placeholder superseded by the rewrite",
        maintain_fn=incremental_bm25_maintenance,
    )
    stats = stats_from_posting(state_df)
    return bm25_scores(docs, BM25_QUERY, stats=stats).select(
        "id", F.round("score", 6).alias("score")
    )


def _replay_decoy_batches(
    spark: SparkSession,
    sf_dir: str,
    scratch_name: str,
    decoy_text: str,
    maintain_fn,
):
    """Shared decoy/rewrite replay protocol for the incremental-
    maintenance equivalence entries: the corpus splits into three
    checkpointed micro-batches — a third of the docs first with DECOY
    text (seq 0), the remaining docs (seq 1), then the decoy docs
    REWRITTEN with their true text (seq 2) — each batch driven
    through ``maintain_fn`` (the real streaming machinery). Returns
    (docs, maintained-state DataFrame); the maintained state must
    then equal the plain-corpus derivation, which each caller's
    oracle checks. One definition so the BM25 and embedding twins can
    never drift in replay protocol.
    """
    from .common import model

    nodes, _, _ = model(spark, sf_dir)
    docs = nodes.select("id", "text")
    rewrite = F.pmod(F.crc32(F.col("id")), F.lit(3)) == 0
    schema = "id string, text string, seq long"
    batches = [
        docs.filter(rewrite).select(
            "id",
            F.lit(decoy_text).alias("text"),
            F.lit(0).cast("long").alias("seq"),
        ),
        docs.filter(~rewrite).select(
            "id", "text", F.lit(1).cast("long").alias("seq")
        ),
        docs.filter(rewrite).select(
            "id", "text", F.lit(2).cast("long").alias("seq")
        ),
    ]
    return docs, replay_batches(
        spark, scratch_name, batches, schema, maintain_fn
    )


def q_bm25_topk_streamed_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming→BM25 SERVING loop closed end-to-end (round 5):
    the corpus replays as three checkpointed micro-batches
    (decoy-then-rewrite protocol, see _replay_decoy_batches) whose
    postings are incrementally maintained through the transactional
    state store — then the top-k SERVING path (positive-score filter,
    TakeOrderedAndProject, exactly ``bm25_topk_indexed``'s query
    shape) runs over stats derived from the MAINTAINED state, staged
    once. That is the reference's "index follows writes" invariant
    (``app.py:771-773``) as a 100 TB design: writes cost O(batch)
    maintenance, queries pay only scoring joins over the persisted
    posting state. The oracle is the plain full-corpus bm25_topk SQL
    — it knows nothing about batches, so one stale posting, dropped
    doc, or double-counted rewrite changes the top-15 and fails the
    value hash."""
    from ..operators import bm25
    from ..streaming.ingest import incremental_bm25_maintenance
    from .searchq import BM25_QUERY

    docs, state_df = _replay_decoy_batches(
        spark,
        sf_dir,
        scratch_name="bm25_streamed_index",
        decoy_text="stale placeholder superseded by the rewrite",
        maintain_fn=incremental_bm25_maintenance,
    )
    stats = bm25.stats_from_posting(state_df.localCheckpoint(eager=True))
    return bm25.bm25_topk(
        docs, BM25_QUERY, top_k=15, round_scores=6, stats=stats
    )


def q_ann_ivf_streamed_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming→ANN SERVING loop closed end-to-end: the
    embeddings table replays as three checkpointed micro-batches —
    a third of the vectors first as a DECOY constant vector (seq 0),
    the rest true (seq 1), then the decoys REWRITTEN with their true
    vectors (seq 2) — maintained latest-wins through the
    transactional state store by ``incremental_vector_maintenance``
    (the external-embedding-service ingestion shape); the standard
    IVF index build + nprobe serving then runs over the MAINTAINED
    vector state. The oracle is the plain batch ``ann_ivf_topk``
    chain — blind to batches — so one stale decoy vector, dropped
    id, or double-applied rewrite moves a centroid or an inverted
    list and fails the value hash. Vectors roundtrip parquet float32
    bit-exactly, which is what makes maintained ≡ batch provable at
    the value level. Companion of ``bm25_topk_streamed_index``: the
    reference's "index follows writes" invariant (app.py:771-773)
    for the vector index instead of the posting index."""
    from ..operators import ann
    from ..streaming.ingest import incremental_vector_maintenance
    from .common import model
    from .pipelineq import ANN_QUERY_IDS

    _, emb, _ = model(spark, sf_dir)
    vecs = emb.select("node_id", "vector")
    rewrite = F.pmod(F.crc32(F.col("node_id")), F.lit(3)) == 0
    decoy = F.array_repeat(F.lit(0.125).cast("float"), 64)
    schema = "node_id string, vector array<float>, seq long"
    batches = [
        vecs.filter(rewrite).select(
            "node_id",
            decoy.alias("vector"),
            F.lit(0).cast("long").alias("seq"),
        ),
        vecs.filter(~rewrite).select(
            "node_id", "vector", F.lit(1).cast("long").alias("seq")
        ),
        vecs.filter(rewrite).select(
            "node_id", "vector", F.lit(2).cast("long").alias("seq")
        ),
    ]
    maintained = replay_batches(
        spark, "ann_ivf_streamed", batches, schema,
        incremental_vector_maintenance,
    )
    return ann.ivf_topk(
        maintained, ANN_QUERY_IDS, k=5, n_centroids=8, iters=2,
        nprobe=2, dim=64, round_scores=6,
    )


def q_vector_state_cdc_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletes through the vector state store proven against the
    batch definition → per surviving id (id, l2, dim, top_bucket):
    the embeddings table replays as three CDC micro-batches — every
    vector inserted (seq 0), a 20% md5-bucket slice DELETED (seq 1),
    half of the deleted slice re-inserted with its true vector
    (seq 2) — applied by ``incremental_vector_cdc_maintenance``
    (latest-wins upsert + delete through the transactional snapshot
    store). The maintained state is then fingerprinted (unit norm to
    6dp, component count, argmax bucket with min-index tiebreak) and
    the DuckDB oracle derives the same fingerprints from the PLAIN
    parquet restricted to the survivor set — a vector that outlives
    its delete, a lost re-insert, or a double-applied delete changes
    the row set or a fingerprint and fails the gate. Completes the
    write-API story for the vector index: ann_ivf_streamed_index
    proves upserts reach serving; this proves deletes do too."""
    from ..streaming.ingest import incremental_vector_cdc_maintenance
    from .common import model

    _, emb, _ = model(spark, sf_dir)
    vecs = emb.select("node_id", "vector")
    b = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("del"), F.col("node_id"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % 10
    )
    schema = "node_id string, vector array<float>, op string, seq long"
    batches = [
        vecs.select(
            "node_id", "vector", F.lit("I").alias("op"),
            F.lit(0).cast("long").alias("seq"),
        ),
        vecs.filter(b < 2).select(
            "node_id", "vector", F.lit("D").alias("op"),
            F.lit(1).cast("long").alias("seq"),
        ),
        vecs.filter(b == 0).select(
            "node_id", "vector", F.lit("I").alias("op"),
            F.lit(2).cast("long").alias("seq"),
        ),
    ]
    kept = replay_batches(
        spark, "vector_state_cdc", batches, schema,
        incremental_vector_cdc_maintenance,
    )
    comp = kept.select(
        F.col("node_id").alias("id"),
        F.posexplode("vector").alias("bucket", "val"),
    ).withColumn("d", F.col("val").cast("double"))
    return comp.groupBy("id").agg(
        F.round(F.sqrt(F.sum(F.col("d") * F.col("d"))), 6).alias("l2"),
        F.count(F.lit(1)).cast("long").alias("dim"),
        F.max_by(
            "bucket", F.struct(F.col("d"), -F.col("bucket"))
        ).cast("long").alias("top_bucket"),
    )


def q_embed_incremental_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Twin of bm25_incremental_equiv for the EMBEDDING index: the
    corpus replays as three checkpointed micro-batches through
    incremental_index_maintenance (decoy text first, rewrite last —
    latest-wins upsert through the transactional state store), then
    every maintained vector is fingerprinted as (id, l2, nnz,
    top_bucket): unit norm, nonzero-component count, and the argmax
    hash bucket (min-bucket tiebreak). The DuckDB oracle derives the
    same three projections from the batch hash-embedding definition
    over the PLAIN corpus — a stale vector, dropped doc, or
    double-applied rewrite changes nnz/top_bucket and fails the
    value hash. (Scalar projections, not raw components: the state
    stores float32, and a 256-term float32 SUM could drift past the
    6dp gate; norm, counts, and argmax are rounding-safe.)
    """
    from ..streaming.ingest import incremental_index_maintenance

    _, emb = _replay_decoy_batches(
        spark,
        sf_dir,
        scratch_name="embed_incremental",
        decoy_text="decoy embedding text to be superseded",
        maintain_fn=incremental_index_maintenance,
    )
    comp = emb.select(
        F.col("node_id").alias("id"),
        F.posexplode("vector").alias("bucket", "val"),
    ).filter(F.col("val") != 0)
    fp = comp.groupBy("id").agg(
        F.round(
            F.sqrt(F.sum(F.col("val").cast("double") * F.col("val"))), 6
        ).alias("l2"),
        F.count(F.lit(1)).cast("int").alias("nnz"),
        F.max_by(
            "bucket", F.struct(F.col("val"), -F.col("bucket"))
        ).alias("top_bucket"),
    )
    return (
        emb.select(F.col("node_id").alias("id"))
        .join(fp, "id", "left")
        .select(
            "id",
            F.coalesce("l2", F.lit(0.0)).alias("l2"),
            F.coalesce("nnz", F.lit(0)).alias("nnz"),
            F.coalesce("top_bucket", F.lit(-1)).alias("top_bucket"),
        )
    )


QUERIES = {
    "events_stream_replay": q_events_stream_replay,
    "events_stream_windows": q_events_stream_windows,
    "events_stream_dedup": q_events_stream_dedup,
    "events_sessionize_gap": q_events_sessionize_gap,
    "events_tumbling": q_events_tumbling,
    "events_sliding": q_events_sliding,
    "events_session": q_events_session,
    "events_props_extract": q_events_props_extract,
    "events_pivot_user_type": q_events_pivot_user_type,
    "bm25_incremental_equiv": q_bm25_incremental_equiv,
    "bm25_topk_streamed_index": q_bm25_topk_streamed_index,
    "ann_ivf_streamed_index": q_ann_ivf_streamed_index,
    "vector_state_cdc_equiv": q_vector_state_cdc_equiv,
    "embed_incremental_equiv": q_embed_incremental_equiv,
}

ORACLES = {
    "events_stream_dedup": """
SELECT event_type, count(DISTINCT user_id) AS unique_users
FROM events GROUP BY event_type""",
    "events_sessionize_gap": """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS f
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         sum(f) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sid
  FROM flagged
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events,
       CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS BIGINT)
         AS duration_sec
FROM sess GROUP BY user_id, sid""",
    "events_props_extract": """
SELECT event_id,
       CAST(json_extract(props, '$.k') AS INTEGER) AS k,
       CAST(json_extract(props, '$.k') AS INTEGER)
         - CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS k_decade
FROM events""",
    "events_pivot_user_type": """
SELECT user_id,
       round(sum(CASE WHEN event_type = 'click' THEN value END), 6)
         AS click,
       round(sum(CASE WHEN event_type = 'error' THEN value END), 6)
         AS error,
       round(sum(CASE WHEN event_type = 'purchase' THEN value END), 6)
         AS purchase,
       round(sum(CASE WHEN event_type = 'signup' THEN value END), 6)
         AS signup,
       round(sum(CASE WHEN event_type = 'view' THEN value END), 6)
         AS view
FROM events GROUP BY user_id""",
    "events_tumbling": """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n, round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2""",
    # append-mode emission cutoff: window_end <= max(ts) - watermark,
    # all in microseconds (Spark truncates the nanos parquet ts to µs)
    "events_stream_windows": """
WITH mx AS (SELECT max(ts) AS m FROM events),
g AS (
  SELECT date_trunc('hour', ts) AS ws, event_type,
         count(*) AS n, round(sum(value), 6) AS sum_value
  FROM events GROUP BY 1, 2
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
       n, sum_value
FROM g, mx
WHERE epoch_us(ws) + 3600000000 <= epoch_us(m) - 3600000000""",
    # stream replay must reproduce the batch tumbling agg exactly
    "events_stream_replay": """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n, round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2""",
    "events_sliding": """
WITH ex AS (
  SELECT event_type, value,
         make_timestamp(CAST((floor(epoch(ts) / 1800) * 1800 - k.k * 1800)
                             * 1000000 AS BIGINT)) AS wstart
  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) k
)
SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n, round(sum(value), 6) AS sum_value
FROM ex GROUP BY 1, 2""",
    "events_session": """
WITH o AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
  FROM events
),
f AS (
  SELECT *, CASE WHEN pts IS NULL OR epoch(ts) - epoch(pts) >= 600
            THEN 1 ELSE 0 END AS new_s
  FROM o
),
s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
            ROWS UNBOUNDED PRECEDING) AS sid
  FROM f
)
SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events, round(sum(value), 6) AS sum_value
FROM s GROUP BY user_id, sid""",
}

# The incremental-maintenance equivalence oracle IS the plain
# full-corpus BM25 — imported from searchq so the two can never drift.
from .common import ORACLE_PRELUDE as _PRELUDE  # noqa: E402
from .searchq import _BM25_CTES as _BM25  # noqa: E402

ORACLES["bm25_incremental_equiv"] = (
    _PRELUDE
    + _BM25
    + """
SELECT n.id, round(coalesce(c.score, 0.0), 6) AS score
FROM nodes n LEFT JOIN contrib c ON c.id = n.id"""
)

# The streamed-index serving loop's oracle IS bm25_topk's plain
# full-corpus SQL (same CTEs, positive filter, top-15): the batches
# must be invisible in the served ranking.
ORACLES["bm25_topk_streamed_index"] = (
    _PRELUDE
    + _BM25
    + """
SELECT n.id, n.text, round(c.score, 6) AS score
FROM contrib c JOIN nodes n ON n.id = c.id
WHERE round(c.score, 6) > 0
ORDER BY round(c.score, 6) DESC, n.id ASC LIMIT 15"""
)

# blind-to-batches by design: the maintained vector state must be
# indistinguishable from the plain embeddings table, so the oracle is
# the batch IVF chain itself
from .pipelineq import ORACLES as _PIPE_ORACLES  # noqa: E402

ORACLES["ann_ivf_streamed_index"] = _PIPE_ORACLES["ann_ivf_topk"]

ORACLES["vector_state_cdc_equiv"] = ORACLE_PRELUDE + """,
bk AS (
  SELECT node_id, CAST(vector AS DOUBLE[]) AS v,
         ('0x' || substr(md5('del' || node_id), 1, 15))::BIGINT % 10 AS b
  FROM emb
),
keep AS (SELECT node_id, v FROM bk WHERE b >= 2 OR b = 0),
comp AS (
  SELECT node_id, i.i - 1 AS bucket, v[i.i] AS val
  FROM keep, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) i
),
mx AS (SELECT node_id, max(val) AS m FROM comp GROUP BY node_id),
top AS (
  SELECT c.node_id, min(c.bucket) AS tb
  FROM comp c JOIN mx ON mx.node_id = c.node_id AND c.val = mx.m
  GROUP BY c.node_id
)
SELECT c.node_id AS id,
       round(sqrt(sum(c.val * c.val)), 6) AS l2,
       CAST(count(*) AS BIGINT) AS dim,
       CAST(min(t.tb) AS BIGINT) AS top_bucket
FROM comp c JOIN top t ON t.node_id = c.node_id
GROUP BY c.node_id"""

# Embedding twin: the oracle is the batch hash-embedding definition
# (same CTEs as functionsq's embed_batch) projected to the
# fingerprint columns.
from .functionsq import _TOK as _EMB_TOK  # noqa: E402

ORACLES["embed_incremental_equiv"] = (
    _PRELUDE
    + f""",
toks AS (SELECT id, unnest({_EMB_TOK}) AS tok FROM nodes),
cnts AS (
  SELECT id, ('0x' || substr(md5(tok), 1, 8))::BIGINT % 256 AS bucket,
         CAST(count(*) AS DOUBLE) AS cnt
  FROM toks GROUP BY 1, 2
),
agg AS (SELECT id, count(*) AS nnz FROM cnts GROUP BY id),
top AS (
  SELECT id, bucket FROM (
    SELECT id, bucket,
           row_number() OVER (PARTITION BY id ORDER BY cnt DESC, bucket) AS rn
    FROM cnts
  ) WHERE rn = 1
)
SELECT n.id,
       round(CASE WHEN a.nnz IS NULL THEN 0.0 ELSE 1.0 END, 6) AS l2,
       CAST(coalesce(a.nnz, 0) AS INT) AS nnz,
       CAST(coalesce(t.bucket, -1) AS INT) AS top_bucket
FROM nodes n
LEFT JOIN agg a ON a.id = n.id
LEFT JOIN top t ON t.id = n.id"""
)



def q_events_rollup_grains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate at two time grains in
    one pass: ROLLUP(day, hour) gives (day,hour), (day), and ()
    rows — the multi-resolution summary a TSDB keeps materialized.
    Spark expands grouping sets JVM-side over a single scan; sums in
    exact decimal so the grand-total row can't drift from the
    per-grain sums. Grain keys are formatted strings ('ALL' for
    rolled-up levels) so the frame is engine-portable."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    hour = F.date_format(
        F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss"
    ).alias("hour")
    return (
        ev.select(day, hour, "value")
        .rollup("day", "hour")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(30,10)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.coalesce("day", F.lit("ALL")).alias("day"),
            F.coalesce("hour", F.lit("ALL")).alias("hour"),
            "n",
            "sum_value",
        )
    )


QUERIES["events_rollup_grains"] = q_events_rollup_grains

ORACLES["events_rollup_grains"] = """
SELECT COALESCE(strftime(date_trunc('day', ts), '%Y-%m-%d'), 'ALL') AS day,
       COALESCE(strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S'),
                'ALL') AS hour,
       count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(30,10))), 2) AS DOUBLE)
         AS sum_value
FROM events
GROUP BY ROLLUP (date_trunc('day', ts), date_trunc('hour', ts))"""


def q_events_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream–stream interval join through the REAL
    streaming engine: purchase and click streams (two filters of one
    parquet-backed stream) joined per user on a 1-hour lookback,
    pairs appended to a sink, then batch-aggregated per user. With
    availableNow replay every match is emitted before termination,
    so the pair set is a pure function of the data and the DuckDB
    twin is the exact batch interval join — the gate value-checks
    the streaming join state machinery end to end."""
    from ..streaming.ingest import stream_events
    from ..streaming.windows import stream_interval_join

    pairs = stream_interval_join(
        stream_events(spark, sf_dir, with_watermark=None)
    )
    return (
        replay_to_parquet(spark, "events_stream_join", pairs)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_pairs"))
    )


QUERIES["events_stream_join"] = q_events_stream_join

ORACLES["events_stream_join"] = """
SELECT p.user_id, count(*) AS n_pairs
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 1 HOUR
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
  AND p.user_id IS NOT NULL
GROUP BY p.user_id"""


# --- round-3 extension: time-series gap-fill and bounded EWMA --------


def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily spine with forward fill → (user_id, day,
    sum_value, is_gap): aggregate events to (user, day), generate
    every calendar day between each user's first and last active day
    with ``F.sequence`` + explode, left-join the actuals back, and
    carry the last observed daily sum across the gaps with
    ``last(ignorenulls)`` over an unbounded-preceding frame — the
    standard time-series densification every telemetry/feature
    pipeline needs before resampling.

    Scale shape: the spine is generated FROM the per-user min/max
    aggregate (2 values/user), never a calendar cross join — output
    is Σ_user span_days, not |users|×|calendar|. One shuffle to the
    daily grain, one partition-local window per user for the fill
    (same (user, day) clustering as the join, so AQE coalesces; no
    second shuffle). At 100 TB the spine explode is pennies next to
    the daily aggregate, and a user's span is bounded by the
    retention window."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum("value").alias("sum_value"))
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = spans.select(
        "user_id",
        F.explode(
            F.sequence("d0", "d1", F.expr("interval 1 day"))
        ).alias("day"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    from .common import stable_round6

    filled = spine.join(daily, ["user_id", "day"], "left_outer").select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        stable_round6(
            F.last("sum_value", ignorenulls=True).over(w)
        ).alias("sum_value"),
        F.col("sum_value").isNull().cast("int").alias("is_gap"),
    )
    return filled


QUERIES["events_gapfill"] = q_events_gapfill
ORACLES["events_gapfill"] = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day, sum(value) AS sum_value
  FROM events GROUP BY 1, 2
), spans AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
), spine AS (
  SELECT s.user_id, unnest(generate_series(s.d0, s.d1,
                                           INTERVAL 1 DAY)) AS day
  FROM spans s
)
SELECT sp.user_id, strftime(sp.day, '%Y-%m-%d') AS day,
       floor(last_value(d.sum_value IGNORE NULLS) OVER (
           PARTITION BY sp.user_id ORDER BY sp.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) * 1000000.0 + 0.5) / 1000000.0 AS sum_value,
       CAST(d.sum_value IS NULL AS INT) AS is_gap
FROM spine sp
LEFT JOIN daily d ON d.user_id = sp.user_id AND d.day = sp.day"""


EWMA_ALPHA = 0.3
EWMA_WINDOW = 10  # preceding rows in the frame (frame size ≤ 11)


def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-window EWMA per user → (event_id, user_id, ewma):
    over the last ``EWMA_WINDOW``+1 events (ordered by ts, event_id),
    the normalized exponential mean Σ v_j·(1−α)^(i−j) / Σ (1−α)^(i−j)
    — the streaming-friendly smoother (truncated at the frame bound,
    so weights below (1−α)^10 ≈ 0.028 are dropped rather than carried
    forever; the unbounded recursion is not window-expressible and
    its infinite tail is numerically irrelevant at this α).

    Scale shape: NO self-join — the frame is a partition-local
    ``collect_list`` over a 11-row sliding window, and the weighted
    sum runs JVM-side via ``transform``/``aggregate`` higher-order
    functions in array order (deterministic summation, identical in
    the oracle's rn-range formulation because both sum ≤11 terms).
    One shuffle on user_id total; cost O(rows·K) with K=11 fixed —
    at 100 TB this is the same plan as any sliding aggregate."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-EWMA_WINDOW, 0)
    )
    p = 1.0 - EWMA_ALPHA
    vals = F.collect_list("value").over(w)
    num = F.expr(
        f"aggregate(transform(__vals, (x, i) -> "
        f"x * pow({p}, size(__vals) - 1 - i)), 0D, (a, x) -> a + x)"
    )
    den = F.expr(
        f"aggregate(transform(__vals, (x, i) -> "
        f"pow({p}, size(__vals) - 1 - i)), 0D, (a, x) -> a + x)"
    )
    from .common import stable_round6

    return (
        ev.select("event_id", "user_id", vals.alias("__vals"))
        .select(
            "event_id",
            "user_id",
            stable_round6(num / den).alias("ewma"),
        )
    )


QUERIES["events_ewma"] = q_events_ewma
ORACLES["events_ewma"] = f"""
WITH r AS (
  SELECT event_id, user_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT a.event_id, a.user_id,
       floor(sum(b.value * pow({1.0 - EWMA_ALPHA}, a.rn - b.rn))
               / sum(pow({1.0 - EWMA_ALPHA}, a.rn - b.rn))
             * 1000000.0 + 0.5) / 1000000.0 AS ewma
FROM r a JOIN r b
  ON b.user_id = a.user_id AND b.rn BETWEEN a.rn - {EWMA_WINDOW} AND a.rn
GROUP BY a.event_id, a.user_id"""


def q_events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC resampling per user → (user_id, day, open, high,
    low, close, n_events, sum_value): the canonical time-series bar
    aggregation (open/close = first/last value in the bar by
    (ts, event_id); high/low = extremes).

    Scale shape: open/close come from two row_number windows (asc /
    desc) on the (user_id, day) partitioning, then ONE groupBy on the
    same keys — Spark reuses the window's hash partitioning, so the
    whole bar build is a single exchange; every aggregate is
    map-side-combinable. No arg_min/arg_max tie-break ambiguity:
    (ts, event_id) is a total order in both engines."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir).withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    wa = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id", "day").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    from .common import stable_round6

    r6 = stable_round6
    return (
        ev.select(
            "user_id",
            "day",
            "value",
            F.row_number().over(wa).alias("rn_a"),
            F.row_number().over(wd).alias("rn_d"),
        )
        .groupBy("user_id", "day")
        .agg(
            r6(F.max(F.when(F.col("rn_a") == 1, F.col("value")))).alias(
                "open"
            ),
            r6(F.max("value")).alias("high"),
            r6(F.min("value")).alias("low"),
            r6(F.max(F.when(F.col("rn_d") == 1, F.col("value")))).alias(
                "close"
            ),
            F.count("*").alias("n_events"),
            r6(F.sum("value")).alias("sum_value"),
        )
    )


QUERIES["events_ohlc_bars"] = q_events_ohlc_bars
ORACLES["events_ohlc_bars"] = """
WITH r AS (
  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         value,
         row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                            ORDER BY ts ASC, event_id ASC) AS rn_a,
         row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT user_id, day,
       floor(max(CASE WHEN rn_a = 1 THEN value END) * 1000000.0 + 0.5)
         / 1000000.0 AS open,
       floor(max(value) * 1000000.0 + 0.5) / 1000000.0 AS high,
       floor(min(value) * 1000000.0 + 0.5) / 1000000.0 AS low,
       floor(max(CASE WHEN rn_d = 1 THEN value END) * 1000000.0 + 0.5)
         / 1000000.0 AS close,
       count(*) AS n_events,
       floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS sum_value
FROM r GROUP BY user_id, day"""


def q_state_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel over the transactional state store → per status:
    (o_orderstatus, n_v1, n_v2): version 1 is the raw orders
    snapshot, version 2 the snapshot after the I/U/D changelog of
    cdc_changelog_apply; the entry reads BOTH committed versions back
    (the store retains n−1 beside the live n — the same contract as
    Delta VERSION AS OF over the retention window) and compares
    their per-status counts. A broken pointer flip, a GC that eats
    the previous version, or a commit that mutates v1 in place all
    change the n_v1 column and fail the value gate."""
    import os as _os

    from ..operators.cdc import changelog_apply
    from ..streaming.ingest import (
        commit_state,
        list_state_versions,
        read_state_version,
    )
    from .common import scratch_dir

    state = _os.path.join(scratch_dir("state_time_travel"), "state")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    commit_state(orders, state)
    k = F.col("o_orderkey")
    log = (
        orders.filter(k % 10 == 0)
        .select(
            "o_orderkey", "o_orderstatus", "o_totalprice",
            F.lit(1).cast("long").alias("seq"), F.lit("D").alias("op"),
        )
        .unionByName(
            orders.filter(k % 10 == 2).select(
                (k + 10_000_000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                "o_totalprice",
                F.lit(1).cast("long").alias("seq"),
                F.lit("I").alias("op"),
            )
        )
    )
    commit_state(changelog_apply(orders, log, ["o_orderkey"]), state)
    v1, v2 = list_state_versions(state)[-2:]
    a = (
        read_state_version(spark, state, v1)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_v1"))
    )
    b = (
        read_state_version(spark, state, v2)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_v2"))
    )
    return (
        a.join(b, "o_orderstatus", "full_outer")
        .select(
            "o_orderstatus",
            F.coalesce("n_v1", F.lit(0)).alias("n_v1"),
            F.coalesce("n_v2", F.lit(0)).alias("n_v2"),
        )
    )


QUERIES["state_time_travel"] = q_state_time_travel
ORACLES["state_time_travel"] = """
WITH v1 AS (
  SELECT o_orderstatus, count(*) AS n_v1 FROM orders GROUP BY 1
), snap AS (
  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 10 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, 'N' FROM orders WHERE o_orderkey % 10 = 2
), v2 AS (
  SELECT o_orderstatus, count(*) AS n_v2 FROM snap GROUP BY 1
)
SELECT COALESCE(v1.o_orderstatus, v2.o_orderstatus) AS o_orderstatus,
       COALESCE(n_v1, 0) AS n_v1, COALESCE(n_v2, 0) AS n_v2
FROM v1 FULL OUTER JOIN v2 ON v1.o_orderstatus = v2.o_orderstatus"""


def q_events_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked SESSION-window aggregation through the real
    streaming engine in append mode: gap-based sessions
    (``session_window``, 30-min gap) finalize only when the event-
    time watermark (1 h) passes the session end (= last event +
    gap); the closing availableNow micro-batch emits exactly those.
    The cutoff is a pure function of the data, so the DuckDB twin
    reproduces the emitted set exactly — the gate value-checks
    Spark's stateful session MERGING + late-data finalization, the
    semantics `events_session` (batch) cannot exercise."""
    from ..streaming.ingest import stream_events

    stream = stream_events(spark, sf_dir, with_watermark="1 hour")
    agg = (
        stream.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            F.round("sum_value", 6).alias("sum_value"),
        )
    )
    return replay_to_parquet(spark, "events_stream_session", agg)


QUERIES["events_stream_session"] = q_events_stream_session
ORACLES["events_stream_session"] = """
WITH o AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                   > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS sid
  FROM o
), agg AS (
  SELECT user_id, sid,
         strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         max(ts) + INTERVAL 30 MINUTE AS session_end,
         count(*) AS n_events,
         round(sum(value), 6) AS sum_value
  FROM s GROUP BY user_id, sid
)
SELECT user_id, session_start, n_events, sum_value
FROM agg, (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events)
WHERE session_end <= wm"""


def q_events_bitmap_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-bitmap audience retention → per consecutive active-day
    pair: (day, next_day, n_active_bits, n_retained_bits): each day's
    active users hash into a 4096-bit bitmap stored as 64 bigint
    words (word = h/63 mod 64, bit = h mod 63 — 63 bits/word so the
    sign bit never shifts, which DuckDB rejects — OR-aggregated);
    day-over-day retained audience = Σ popcount(w_today & w_next) —
    the roaring-bitmap/audience-intersection pattern that answers
    'how many of yesterday's users returned' from ~0.5 KB per day
    instead of a user-level self-join (collisions overcount slightly;
    the bitmap is a sketch, deterministic here via the shared md5
    family so the gate value-checks every word).

    Scale shape: one scan → (day, word) bit_or aggregate (map-side
    combinable, 64 rows/day); the retention join runs over day×word
    frames — audiences of any size intersect in 64-row-pair
    popcounts. At 100 TB this is THE pattern for audience overlap
    dashboards."""
    from ..operators.dedup import stable_hash60

    ev = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    h = stable_hash60(
        F.concat(F.lit("bm"), F.col("user_id").cast("string"))
    )
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    hashed = ev.select(day.alias("day"), h.alias("h"))
    words = (
        hashed.select(
            "day",
            F.pmod(F.expr("h div 63"), F.lit(64)).alias("word"),
            F.expr("shiftleft(1L, cast(h % 63 as int))").alias("m"),
        )
        .groupBy("day", "word")
        .agg(F.bit_or("m").alias("mask"))
    )
    a = words.select("day", "word", F.col("mask").alias("m_a"))
    b = words.select(
        F.col("day").alias("next_day"), "word", F.col("mask").alias("m_b")
    )
    days = words.select("day").distinct()
    from pyspark.sql.window import Window

    nxt = days.withColumn(
        "next_day", F.lead("day").over(Window.orderBy("day"))
    ).filter(F.col("next_day").isNotNull())
    j = (
        nxt.join(a, "day")
        .join(b, ["next_day", "word"], "left_outer")
    )
    return j.groupBy("day", "next_day").agg(
        F.sum(F.bit_count("m_a")).alias("n_active_bits"),
        F.sum(
            F.bit_count(
                F.col("m_a").bitwiseAND(
                    F.coalesce("m_b", F.lit(0).cast("long"))
                )
            )
        ).alias("n_retained_bits"),
    )


QUERIES["events_bitmap_retention"] = q_events_bitmap_retention
ORACLES["events_bitmap_retention"] = """
WITH h AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         ('0x' || substr(md5('bm' || CAST(user_id AS VARCHAR)), 1, 15))
           ::BIGINT AS h
  FROM events WHERE user_id IS NOT NULL
),
words AS (
  SELECT day, (h // 63) % 64 AS word,
         bit_or(1::BIGINT << CAST(h % 63 AS INT)) AS mask
  FROM h GROUP BY day, word
),
days AS (
  SELECT day, lead(day) OVER (ORDER BY day) AS next_day
  FROM (SELECT DISTINCT day FROM words)
)
SELECT d.day, d.next_day,
       CAST(sum(bit_count(a.mask)) AS BIGINT) AS n_active_bits,
       CAST(sum(bit_count(a.mask & COALESCE(b.mask, 0))) AS BIGINT)
         AS n_retained_bits
FROM days d
JOIN words a ON a.day = d.day
LEFT JOIN words b ON b.day = d.next_day AND b.word = a.word
WHERE d.next_day IS NOT NULL
GROUP BY d.day, d.next_day"""


def q_events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation → (r, f, m, n_users): per user,
    recency (days since last event, vs the stream's max ts),
    frequency (event count) and monetary (summed value) are each
    scored into quintiles with ``ntile(5)`` (recency ordered so
    MOST recent = score 5), then users are counted per (r, f, m)
    cell — the marketing-standard segmentation grid.

    Scale shape: one per-user aggregate does all data reduction; the
    three quintile scores come from
    operators/profiling.attach_exact_ntile — the distributed
    count-below prefix sum + ntile's closed remainder form — NOT from
    ``ntile(5)`` over an unpartitioned window, which would funnel
    every user through a single task at 100 TB. Each score costs two
    bounded shuffles; ties break on user_id exactly as the oracle's
    ``ORDER BY ..., user_id`` does (descending recency = ascending
    NEGATED rec_days, same tie-break). The global max-ts anchor is a
    1-row broadcast."""
    from ..operators.profiling import attach_exact_ntile

    ev = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    anchor = ev.agg(F.max("ts").alias("max_ts"))
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count("*").alias("freq"),
            # value is nullable: a user whose events all carry NULL
            # value must still land in the grid (money 0), not be
            # dropped by attach_exact_ntile's non-null precondition —
            # mirrored by coalesce(sum(value), 0) in the oracle.
            F.coalesce(F.sum("value"), F.lit(0.0)).alias("money"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff("max_ts", "last_ts").alias("rec_days"),
            "freq",
            F.floor(F.col("money") * F.lit(1e6) + F.lit(0.5)).alias(
                "money6"
            ),
        )
    )
    # Each attach references its input ~6x (value-grain counts,
    # boundary/total broadcasts, join-back); staging between the
    # three chained calls keeps the plan linear instead of 6^3
    # replays of the per-user aggregate.
    scored = per_user.withColumn(
        "neg_rec", -F.col("rec_days")
    ).localCheckpoint(eager=True)
    scored = attach_exact_ntile(
        scored, "neg_rec", "user_id", 5, "r"
    ).localCheckpoint(eager=True)
    scored = attach_exact_ntile(
        scored, "freq", "user_id", 5, "f"
    ).localCheckpoint(eager=True)
    scored = attach_exact_ntile(scored, "money6", "user_id", 5, "m")
    return scored.groupBy("r", "f", "m").agg(
        F.count("*").alias("n_users")
    )


QUERIES["events_rfm_segments"] = q_events_rfm_segments
ORACLES["events_rfm_segments"] = """
WITH anchor AS (SELECT max(ts) AS max_ts FROM events
                WHERE user_id IS NOT NULL),
per_user AS (
  SELECT user_id,
         date_diff('day', CAST(max(ts) AS DATE),
                   CAST((SELECT max_ts FROM anchor) AS DATE)) AS rec_days,
         count(*) AS freq,
         floor(coalesce(sum(value), 0) * 1000000.0 + 0.5) AS money6
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
),
scored AS (
  SELECT ntile(5) OVER (ORDER BY rec_days DESC, user_id ASC) AS r,
         ntile(5) OVER (ORDER BY freq ASC, user_id ASC) AS f,
         ntile(5) OVER (ORDER BY money6 ASC, user_id ASC) AS m
  FROM per_user
)
SELECT r, f, m, count(*) AS n_users FROM scored GROUP BY r, f, m"""


def q_events_error_rate_sli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly error-rate SLI → (window_start, n_total, n_errors,
    error_pct, breach): the on-call dashboard query — error share per
    epoch-aligned tumbling hour with a breach flag at the 25% SLO.

    Scale shape: one map-side-combinable conditional aggregate per
    (hour) key; the SAME expression runs under Structured Streaming
    with a watermark (the tumbling machinery of streaming/windows.py)
    — this batch twin is what backfills the SLI history. The percent
    divides exact longs before rounding, so parity is trivial."""
    ev = _events(spark, sf_dir)
    hour = F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00")
    from .common import stable_round6

    return (
        ev.groupBy(hour.alias("window_start"))
        .agg(
            F.count("*").alias("n_total"),
            F.sum(
                (F.col("event_type") == "error").cast("long")
            ).alias("n_errors"),
        )
        .select(
            "window_start",
            "n_total",
            "n_errors",
            stable_round6(
                F.col("n_errors") * F.lit(100.0) / F.col("n_total")
            ).alias("error_pct"),
            (F.col("n_errors") * 4 > F.col("n_total")).cast("int").alias(
                "breach"
            ),
        )
    )


QUERIES["events_error_rate_sli"] = q_events_error_rate_sli
ORACLES["events_error_rate_sli"] = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00')
         AS window_start,
       count(*) AS n_total,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_errors,
       floor(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             * 100.0 / count(*) * 1000000.0 + 0.5) / 1000000.0
         AS error_pct,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) * 4
            > count(*) AS INT) AS breach
FROM events GROUP BY 1"""


def q_events_stream_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–STATIC broadcast enrichment through the real streaming
    engine — the remaining canonical streaming join next to the
    stream–stream interval join above: the event stream joins a
    static per-type dimension (each type's global mean value,
    computed once batch-side), every event is flagged above/below its
    type's mean, and the enriched stream aggregates per (type, flag).

    Scale shape: the dim is type-cardinality rows → broadcast to
    every micro-batch task, ZERO streaming shuffle for the join (the
    canonical pattern for enriching a 100 TB/day stream with
    reference data); only the final aggregate keeps watermarkless
    complete-per-key state bounded by |types|×2. availableNow replay
    makes the result a pure function of the data, so the DuckDB twin
    is the exact batch join."""
    from ..streaming.ingest import stream_events

    dim = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.avg("value").alias("type_mean"))
    )
    stream = stream_events(spark, sf_dir, with_watermark=None)
    enriched = (
        stream.join(F.broadcast(dim), "event_type")
        .select(
            "event_type",
            (F.col("value") > F.col("type_mean")).alias("above_mean"),
        )
    )
    return (
        replay_to_parquet(spark, "events_stream_dim_join", enriched)
        .groupBy("event_type", "above_mean")
        .agg(F.count("*").alias("n_events"))
    )


QUERIES["events_stream_dim_join"] = q_events_stream_dim_join
ORACLES["events_stream_dim_join"] = """
WITH dim AS (
  SELECT event_type, avg(value) AS type_mean FROM events GROUP BY event_type
)
SELECT e.event_type, e.value > d.type_mean AS above_mean,
       count(*) AS n_events
FROM events e JOIN dim d ON d.event_type = e.event_type
GROUP BY 1, 2"""


def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences → (src, dst, n, p): P(next event type | current), the
    product-analytics primitive behind next-action prediction and
    anomalous-flow detection. One shuffle partitions by user for the
    lead() window; the (src, dst) count and the per-src normalizer
    are |types|²-sized frames — tiny at any event volume, so the
    user-keyed window shuffle is the whole cost at 100 TB."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    cnt = pairs.groupBy("src", "dst").agg(F.count("*").alias("n"))
    tot = cnt.groupBy("src").agg(F.sum("n").alias("t"))
    return cnt.join(tot, "src").select(
        "src",
        "dst",
        "n",
        (
            F.floor(F.col("n") / F.col("t") * F.lit(1e6) + F.lit(0.5))
            / F.lit(1e6)
        ).alias("p"),
    )


QUERIES["events_markov_transitions"] = q_events_markov_transitions
ORACLES["events_markov_transitions"] = """
WITH seq AS (
  SELECT event_type AS src,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events
),
cnt AS (
  SELECT src, dst, count(*) AS n FROM seq
  WHERE dst IS NOT NULL GROUP BY src, dst
),
tot AS (SELECT src, CAST(sum(n) AS BIGINT) AS t FROM cnt GROUP BY src)
SELECT c.src, c.dst, c.n,
       floor(c.n * 1.0 / t.t * 1000000.0 + 0.5) / 1000000.0 AS p
FROM cnt c JOIN tot t ON t.src = c.src"""


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution → (channel, n_conversions, credit):
    each purchase credits the user's latest preceding non-purchase
    event (ties broken by event_id), the standard marketing
    attribution rule. One user-keyed window shuffle computes the
    last-touch with a running max over (ts, event_id)-ordered rows —
    no self-join, no per-conversion scan; the credit rollup is a
    |channels|-sized aggregate. At 100 TB the window shuffle is the
    whole cost, identical to sessionization's."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    conv = (
        ev.withColumn("channel", touch)
        .filter(F.col("event_type") == "purchase")
        .filter(F.col("channel").isNotNull())
    )
    cnt = conv.groupBy("channel").agg(F.count("*").alias("n_conversions"))
    tot = cnt.agg(F.sum("n_conversions").alias("t"))
    return cnt.crossJoin(F.broadcast(tot)).select(
        "channel",
        "n_conversions",
        (
            F.floor(
                F.col("n_conversions") / F.col("t") * F.lit(1e6) + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("credit"),
    )


QUERIES["events_attribution"] = q_events_attribution
ORACLES["events_attribution"] = """
WITH touched AS (
  SELECT event_type,
         last_value(CASE WHEN event_type <> 'purchase'
                         THEN event_type END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
  FROM events
),
cnt AS (
  SELECT channel, count(*) AS n_conversions
  FROM touched
  WHERE event_type = 'purchase' AND channel IS NOT NULL
  GROUP BY channel
),
tot AS (SELECT CAST(sum(n_conversions) AS BIGINT) AS t FROM cnt)
SELECT c.channel, c.n_conversions,
       floor(c.n_conversions * 1.0 / t.t * 1000000.0 + 0.5)
         / 1000000.0 AS credit
FROM cnt c CROSS JOIN tot t"""


def _ab_variant_agg(ev: DataFrame) -> DataFrame:
    """The SHARED experiment frame of events_ab_ttest and
    events_power_analysis → per event type (grp, n_a, n_b, sa, sb,
    qa, qb): md5('ab'||user) parity assignment, 6dp decimal
    quantization of value, and one conditional aggregate of counts /
    sums / sums-of-squares per arm. Both entries' 'same split, same
    frame' contract (pytest-pinned) lives in this one function —
    editing the salt, quantization, or moments here changes both
    entries (and both oracles must follow)."""
    variant = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ab"), F.col("user_id"))), 1, 15),
            16,
            10,
        ).cast("long")
        % 2
    )
    vq = (
        F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    ).cast("decimal(18,6)")
    base = ev.select(
        F.col("event_type").alias("grp"), variant.alias("v"), vq.alias("x")
    )
    return base.groupBy("grp").agg(
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("v") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("v") == 0, F.col("x"))).alias("sa"),
        F.sum(F.when(F.col("v") == 1, F.col("x"))).alias("sb"),
        F.sum(F.when(F.col("v") == 0, F.col("x") * F.col("x"))).alias("qa"),
        F.sum(F.when(F.col("v") == 1, F.col("x") * F.col("x"))).alias("qb"),
    )


def q_events_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test per event type over a deterministic
    user-hash A/B split → (event_type, n_a, n_b, mean_a, mean_b,
    t_stat, significant): the experiment-readout primitive. Variant
    assignment is md5(user_id) parity — replayable, and the split a
    real experiment framework uses (unit = user, not event).

    Float discipline: values are 6dp-quantized and accumulated as
    exact decimals (one conditional aggregate per event type, map-
    side combinable); mean/variance/t run in double on identical
    inputs. |t| > 1.96 flags ~95% significance. At 100 TB this is
    ONE shuffle keyed by event_type."""
    g = _ab_variant_agg(_events(spark, sf_dir))
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    sa = F.col("sa").cast("double")
    sb = F.col("sb").cast("double")
    qa = F.col("qa").cast("double")
    qb = F.col("qb").cast("double")
    ma = sa / na
    mb = sb / nb
    va = (qa - sa * sa / na) / (na - 1)
    vb = (qb - sb * sb / nb) / (nb - 1)
    t = (ma - mb) / F.sqrt(va / na + vb / nb)
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return g.filter((F.col("n_a") > 1) & (F.col("n_b") > 1)).select(
        F.col("grp").alias("event_type"),
        "n_a",
        "n_b",
        r6(ma).alias("mean_a"),
        r6(mb).alias("mean_b"),
        r6(t).alias("t_stat"),
        (F.abs(t) > 1.96).alias("significant"),
    )


QUERIES["events_ab_ttest"] = q_events_ab_ttest
ORACLES["events_ab_ttest"] = """
WITH base AS (
  SELECT event_type AS grp,
         ('0x' || substr(md5('ab' || user_id), 1, 15))::BIGINT % 2 AS v,
         CAST(floor(value * 1000000.0 + 0.5) / 1000000.0
              AS DECIMAL(18,6)) AS x
  FROM events
),
g AS (
  SELECT grp,
         CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         sum(CASE WHEN v = 0 THEN x END) AS sa,
         sum(CASE WHEN v = 1 THEN x END) AS sb,
         sum(CASE WHEN v = 0 THEN x * x END) AS qa,
         sum(CASE WHEN v = 1 THEN x * x END) AS qb
  FROM base GROUP BY grp
),
f AS (
  SELECT grp, n_a, n_b,
         CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
         CAST(sa AS DOUBLE) AS sa, CAST(sb AS DOUBLE) AS sb,
         CAST(qa AS DOUBLE) AS qa, CAST(qb AS DOUBLE) AS qb
  FROM g WHERE n_a > 1 AND n_b > 1
)
SELECT grp AS event_type, n_a, n_b,
       floor(sa / na * 1000000.0 + 0.5) / 1000000.0 AS mean_a,
       floor(sb / nb * 1000000.0 + 0.5) / 1000000.0 AS mean_b,
       floor((sa / na - sb / nb)
             / sqrt(((qa - sa * sa / na) / (na - 1)) / na
                    + ((qb - sb * sb / nb) / (nb - 1)) / nb)
             * 1000000.0 + 0.5) / 1000000.0 AS t_stat,
       abs((sa / na - sb / nb)
           / sqrt(((qa - sa * sa / na) / (na - 1)) / na
                  + ((qb - sb * sb / nb) / (nb - 1)) / nb)) > 1.96
         AS significant
FROM f"""


def q_markov_incremental_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end proof that streamed Markov maintenance with
    carry-over state equals the batch transition matrix: events
    replay as THREE event-time-range micro-batches through the real
    foreachBatch machinery; each batch merges its internal
    lead()-pairs plus the carried last-event boundary pairs into the
    transactional counts state. The final matrix from the MAINTAINED
    counts must hash-equal the batch answer (the
    events_markov_transitions oracle — it knows nothing about
    batches, so a lost boundary transition, double merge, or stale
    carry row fails the value check)."""
    import os

    from ..streaming.ingest import (
        incremental_markov_maintenance,
        read_state,
    )
    from .common import scratch_dir

    base = scratch_dir("markov_incremental")
    src = os.path.join(base, "src")
    counts_d = os.path.join(base, "counts")
    carry_d = os.path.join(base, "carry")
    ckpt = os.path.join(base, "ckpt")
    ev = _events(spark, sf_dir)
    b = ev.agg(
        F.unix_micros(F.min("ts")).alias("mn"),
        F.unix_micros(F.max("ts")).alias("mx"),
    ).collect()[0]
    cut1 = b["mn"] + (b["mx"] - b["mn"]) // 3
    cut2 = b["mn"] + 2 * (b["mx"] - b["mn"]) // 3
    us = F.unix_micros("ts")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    batches = [
        ev.filter(us < cut1),
        ev.filter((us >= cut1) & (us < cut2)),
        ev.filter(us >= cut2),
    ]
    # Sequential on purpose: the carry needs whole event-time batches
    # (see replay_batches for why the prefetched loop cannot serve it).
    for bdf in batches:
        bdf.select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ).write.mode("append").parquet(src)
        incremental_markov_maintenance(
            spark, src, schema, counts_d, carry_d, ckpt
        )
    cnt = read_state(spark, counts_d)
    tot = cnt.groupBy("src").agg(F.sum("n").alias("t"))
    return cnt.join(tot, "src").select(
        "src",
        "dst",
        "n",
        (
            F.floor(F.col("n") / F.col("t") * F.lit(1e6) + F.lit(0.5))
            / F.lit(1e6)
        ).alias("p"),
    )


QUERIES["markov_incremental_equiv"] = q_markov_incremental_equiv
ORACLES["markov_incremental_equiv"] = ORACLES["events_markov_transitions"]


def q_events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout → one row
    (n_a, n_b, delta_raw, delta_cuped, rho2).

    The industry-standard fix for noisy A/B metrics: each user's
    PRE-period mean value (first half of the time range, the same
    integer-µs midpoint as dq_drift_psi) is the control covariate for
    their EXPERIMENT-period mean; θ = cov(x,y)/var(x) over all
    included users, delta_cuped = delta_raw − θ·(x̄_B − x̄_A), and
    rho2 = corr² is exactly the variance fraction removed. Users
    must appear in both periods (the deterministic inclusion rule);
    variant is the same md5(user) parity as events_ab_ttest.

    Float discipline: per-user period means come from decimal-exact
    sums of 6dp-quantized values; the user-level covariates are
    re-quantized and re-accumulated as decimals, so every sufficient
    statistic is engine-exact; only θ/δ/ρ² run in double. Two
    shuffles at any scale: user-keyed period aggregation, then one
    global sufficient-statistics fold."""
    ev = _events(spark, sf_dir)
    mid = ev.agg(
        F.expr(
            "(unix_micros(min(ts)) + unix_micros(max(ts))) div 2"
        ).alias("mid_us")
    )
    vq = (
        F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    ).cast("decimal(18,6)")
    base = ev.crossJoin(F.broadcast(mid)).select(
        "user_id",
        (F.unix_micros("ts") < F.col("mid_us")).alias("pre"),
        vq.alias("x"),
    )
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    per_user = (
        base.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("pre"), 1).otherwise(0)).alias("nx"),
            F.sum(F.when(~F.col("pre"), 1).otherwise(0)).alias("ny"),
            F.sum(F.when(F.col("pre"), F.col("x"))).alias("sx"),
            F.sum(F.when(~F.col("pre"), F.col("x"))).alias("sy"),
        )
        .filter((F.col("nx") > 0) & (F.col("ny") > 0))
        .select(
            "user_id",
            r6(F.col("sx").cast("double") / F.col("nx"))
            .cast("decimal(18,6)")
            .alias("x"),
            r6(F.col("sy").cast("double") / F.col("ny"))
            .cast("decimal(18,6)")
            .alias("y"),
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("ab"), F.col("user_id"))), 1, 15
                    ),
                    16,
                    10,
                ).cast("long")
                % 2
            ).alias("v"),
        )
    )
    g = per_user.agg(
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("v") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("v") == 0, F.col("x"))).alias("sxa"),
        F.sum(F.when(F.col("v") == 1, F.col("x"))).alias("sxb"),
        F.sum(F.when(F.col("v") == 0, F.col("y"))).alias("sya"),
        F.sum(F.when(F.col("v") == 1, F.col("y"))).alias("syb"),
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    cov = n * sxy - sx * sy
    theta = cov / varx
    delta_raw = (
        F.col("syb").cast("double") / F.col("n_b")
        - F.col("sya").cast("double") / F.col("n_a")
    )
    dx = (
        F.col("sxb").cast("double") / F.col("n_b")
        - F.col("sxa").cast("double") / F.col("n_a")
    )
    return g.select(
        "n_a",
        "n_b",
        r6(delta_raw).alias("delta_raw"),
        F.when(varx > 0, r6(delta_raw - theta * dx)).alias("delta_cuped"),
        F.when((varx > 0) & (vary > 0), r6(cov * cov / (varx * vary))).alias(
            "rho2"
        ),
    )


QUERIES["events_ab_cuped"] = q_events_ab_cuped
ORACLES["events_ab_cuped"] = """
WITH mid AS (
  SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS mid_us FROM events
),
base AS (
  SELECT user_id, epoch_us(e.ts) < m.mid_us AS pre,
         CAST(floor(value * 1000000.0 + 0.5) / 1000000.0
              AS DECIMAL(18,6)) AS x
  FROM events e CROSS JOIN mid m
),
pu AS (
  SELECT user_id,
         CAST(sum(CASE WHEN pre THEN 1 ELSE 0 END) AS BIGINT) AS nx,
         CAST(sum(CASE WHEN NOT pre THEN 1 ELSE 0 END) AS BIGINT) AS ny,
         sum(CASE WHEN pre THEN x END) AS sx,
         sum(CASE WHEN NOT pre THEN x END) AS sy
  FROM base GROUP BY user_id
),
cov AS (
  SELECT user_id,
         CAST(floor(CAST(sx AS DOUBLE) / nx * 1000000.0 + 0.5)
              / 1000000.0 AS DECIMAL(18,6)) AS x,
         CAST(floor(CAST(sy AS DOUBLE) / ny * 1000000.0 + 0.5)
              / 1000000.0 AS DECIMAL(18,6)) AS y,
         ('0x' || substr(md5('ab' || user_id), 1, 15))::BIGINT % 2 AS v
  FROM pu WHERE nx > 0 AND ny > 0
),
g AS (
  SELECT CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         sum(CASE WHEN v = 0 THEN x END) AS sxa,
         sum(CASE WHEN v = 1 THEN x END) AS sxb,
         sum(CASE WHEN v = 0 THEN y END) AS sya,
         sum(CASE WHEN v = 1 THEN y END) AS syb,
         CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM cov
),
f AS (
  SELECT n_a, n_b,
         CAST(n AS DOUBLE) AS n,
         CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
         CAST(sxx AS DOUBLE) AS sxx, CAST(sxy AS DOUBLE) AS sxy,
         CAST(syy AS DOUBLE) AS syy,
         CAST(sxa AS DOUBLE) / n_a AS mxa, CAST(sxb AS DOUBLE) / n_b AS mxb,
         CAST(sya AS DOUBLE) / n_a AS mya, CAST(syb AS DOUBLE) / n_b AS myb
  FROM g
)
SELECT n_a, n_b,
       floor((myb - mya) * 1000000.0 + 0.5) / 1000000.0 AS delta_raw,
       CASE WHEN (n * sxx - sx * sx) > 0 THEN
         floor(((myb - mya)
                - (n * sxy - sx * sy) / (n * sxx - sx * sx) * (mxb - mxa))
               * 1000000.0 + 0.5) / 1000000.0
       END AS delta_cuped,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN
         floor((n * sxy - sx * sy) * (n * sxy - sx * sy)
               / ((n * sxx - sx * sx) * (n * syy - sy * sy))
               * 1000000.0 + 0.5) / 1000000.0
       END AS rho2
FROM f"""


def q_events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-travelled 3-step event paths → top-10 (path, n): the
    sequence-mining complement of the 1-step Markov matrix (funnel
    DISCOVERY — which flows exist — where events_funnel measures a
    known flow). Two lead() taps over the same user-keyed window
    (one shuffle, shared partitioning), a |types|³-bounded count
    frame, deterministic TakeOrderedAndProject on (n DESC, path)."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        seq.select(
            F.concat_ws(">", "e1", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(10)
    )


QUERIES["events_top_paths"] = q_events_top_paths
ORACLES["events_top_paths"] = """
WITH seq AS (
  SELECT event_type AS e1,
         lead(event_type, 1) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS e2,
         lead(event_type, 2) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS e3
  FROM events
)
SELECT e1 || '>' || e2 || '>' || e3 AS path, count(*) AS n
FROM seq WHERE e3 IS NOT NULL
GROUP BY 1
ORDER BY n DESC, path
LIMIT 10"""


def q_events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DAU / WAU / MAU per day → (day, dau, wau, mau): the
    canonical product-health metric, exact (the HLL-tile entry is the
    sketched sibling for when exactness can yield). The corpus
    touches one shuffle — the (day, user) distinct grain; the rolling
    windows are a range join of the TINY day dimension against that
    grain (≤28× replication of day-grain rows, keyed by day), with
    the three distinct counts taken conditionally in one aggregate.
    No user-level self-join, no window over the raw event stream."""
    ev = _events(spark, sf_dir)
    du = ev.select(
        F.to_date("ts").alias("uday"), "user_id"
    ).distinct()
    days = du.select(F.col("uday").alias("day")).distinct()
    j = days.join(
        du,
        (F.col("uday") <= F.col("day"))
        & (F.col("uday") >= F.date_sub(F.col("day"), 27)),
    )
    return (
        j.groupBy("day")
        .agg(
            F.countDistinct(
                F.when(F.col("uday") == F.col("day"), F.col("user_id"))
            ).alias("dau"),
            F.countDistinct(
                F.when(
                    F.col("uday") >= F.date_sub(F.col("day"), 6),
                    F.col("user_id"),
                )
            ).alias("wau"),
            F.countDistinct("user_id").alias("mau"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            "mau",
        )
    )


QUERIES["events_active_users"] = q_events_active_users
ORACLES["events_active_users"] = """
WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS uday, user_id FROM events),
days AS (SELECT DISTINCT uday AS day FROM du),
j AS (
  SELECT d.day, u.uday, u.user_id
  FROM days d JOIN du u ON u.uday <= d.day AND u.uday >= d.day - 27
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       count(DISTINCT CASE WHEN uday = day THEN user_id END) AS dau,
       count(DISTINCT CASE WHEN uday >= day - 6 THEN user_id END) AS wau,
       count(DISTINCT user_id) AS mau
FROM j GROUP BY day"""


AUTOCORR_LAGS = [1, 2, 3, 6, 12, 24]


def q_events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the hourly event-count series at lags
    1/2/3/6/12/24 → (lag, n_pairs, acf): the seasonality probe behind
    every anomaly detector (a strong lag-24 peak = daily rhythm; it
    is what events_anomaly_zscore's residuals should have removed).

    Integer-exact until the last division: the series is hourly
    COUNTS on a gap-filled calendar, so Σx, Σx², Σx·x₊ₖ and the
    head/tail sums are all BIGINTs, and the textbook centered ACF is
    algebraised to the n²-scaled rational
    (n²Σxy − nS₁(H+T) + (n−k)S₁²) / (n²Σx² − nS₁²) — both engines
    divide the same two exact integers, so round6 can never straddle.
    Scale shape: one groupBy to the hour grain, a broadcast 6-row lag
    dimension replicating the TINY hour frame (|hours|, not
    |events|), one equi-join on t+k, and broadcast global scalars —
    the fact table is touched once. BIGINT headroom: n²Σx² grows as
    (rows)², exact to ~sf100 on this calendar; beyond that the sums
    swap to DECIMAL(38,0) unchanged."""
    ev = load_table(spark, sf_dir, "events")
    hc = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count("*").alias("x")
    )
    bounds = hc.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    cal = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
        F.col("h0"),
    )
    s = (
        cal.join(hc, "h", "left")
        .select(
            (
                (F.col("h").cast("long") - F.col("h0").cast("long"))
                / F.lit(3600)
            )
            .cast("long")
            .alias("t"),
            F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"),
        )
    )
    g = s.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    lags = local_frame(spark, [(k,) for k in AUTOCORR_LAGS], "k long")
    a = s.select(F.col("t"), F.col("x").alias("xa"))
    b = s.select(F.col("t").alias("tb"), F.col("x").alias("xb"))
    pairs = (
        a.join(F.broadcast(lags))
        .withColumn("tk", F.col("t") + F.col("k"))
        .join(b, F.col("tb") == F.col("tk"))
    )
    agg = pairs.groupBy("k").agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.col("xa") * F.col("xb")).alias("sxy"),
        F.sum("xa").alias("hs"),
        F.sum("xb").alias("tl"),
    )
    num = (
        F.col("n") * F.col("n") * F.col("sxy")
        - F.col("n") * F.col("s1") * (F.col("hs") + F.col("tl"))
        + (F.col("n") - F.col("k")) * F.col("s1") * F.col("s1")
    )
    den = (
        F.col("n") * F.col("n") * F.col("s2")
        - F.col("n") * F.col("s1") * F.col("s1")
    )
    return (
        agg.join(F.broadcast(g))
        .select(
            F.col("k").alias("lag"),
            "n_pairs",
            (
                F.floor(
                    (num.cast("double") / den.cast("double"))
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("acf"),
        )
    )


QUERIES["events_autocorr"] = q_events_autocorr
ORACLES["events_autocorr"] = """
WITH hc AS (
  SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
b AS (SELECT min(h) AS h0, max(h) AS h1 FROM hc),
cal AS (
  SELECT unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS h,
         b.h0 AS h0
  FROM b
),
s AS (
  SELECT CAST(date_diff('hour', c.h0, c.h) AS BIGINT) AS t,
         coalesce(hc.x, 0) AS x
  FROM cal c LEFT JOIN hc ON hc.h = c.h
),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s1,
         CAST(sum(x * x) AS BIGINT) AS s2
  FROM s
),
L AS (SELECT CAST(unnest([1, 2, 3, 6, 12, 24]) AS BIGINT) AS k),
pairs AS (
  SELECT L.k, a.x AS xa, bb.x AS xb
  FROM L CROSS JOIN s a JOIN s bb ON bb.t = a.t + L.k
),
agg AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(xa * xb) AS BIGINT) AS sxy,
         CAST(sum(xa) AS BIGINT) AS hs,
         CAST(sum(xb) AS BIGINT) AS tl
  FROM pairs GROUP BY k
)
SELECT k AS lag, n_pairs,
       floor((CAST(g.n * g.n * sxy - g.n * g.s1 * (hs + tl)
                   + (g.n - k) * g.s1 * g.s1 AS DOUBLE)
              / CAST(g.n * g.n * g.s2 - g.n * g.s1 * g.s1 AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS acf
FROM agg CROSS JOIN g"""


def q_events_attribution_linear(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Linear multi-touch attribution → (channel, n_touches,
    credit): each purchase splits one unit of credit EQUALLY across
    every non-purchase touch in its journey (the stretch since the
    user's previous purchase) — the multi-touch complement of
    events_attribution's last-touch rule, and the one marketers use
    when the first click matters as much as the last.

    Journey id = running count of purchases strictly BEFORE the row
    (user-keyed window ordered by ts,event_id — the sessionization
    shuffle); a purchase closes journey j, its touches are the
    journey-j non-purchase rows. Credit per touch = 1/k with k the
    journey's touch count — each channel sums those fractions. One
    window pass + one (user, journey) aggregate + one
    |channels|-sized rollup; no per-conversion rescan. Journeys with
    zero touches (purchase as first event) attribute nothing, on
    both sides."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    j = ev.withColumn(
        "journey",
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(w),
            F.lit(0),
        ),
    )
    purch = (
        j.filter(F.col("event_type") == "purchase")
        .select("user_id", "journey")
        .withColumn("__conv", F.lit(1))
    )
    touches = j.filter(F.col("event_type") != "purchase").select(
        "user_id", "journey", F.col("event_type").alias("channel")
    )
    ksz = touches.groupBy("user_id", "journey").agg(
        F.count("*").alias("k")
    )
    credited = (
        touches.join(ksz, ["user_id", "journey"])
        .join(purch, ["user_id", "journey"])
        .select("channel", "k")
    )
    # exact arithmetic: fold to the (channel, k) grain, turn each
    # c_k/k into a half-up-rounded integer picocredit ((2·c_k·1e12
    # + k) div 2k — pure BIGINT), and sum THOSE: integer addition is
    # order-independent, so the credit can never drift with shuffle
    # partitioning the way a float Σ1/k could.
    by_k = credited.groupBy("channel", "k").agg(
        F.count("*").alias("ck")
    )
    term = F.expr("(2 * ck * 1000000000000 + k) div (2 * k)")
    return (
        by_k.withColumn("pico", term)
        .groupBy("channel")
        .agg(
            F.sum("ck").alias("n_touches"),
            F.sum("pico").alias("p"),
        )
        .select(
            "channel",
            "n_touches",
            (
                F.floor(
                    F.col("p").cast("double")
                    / F.lit(1e12)
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("credit"),
        )
    )


QUERIES["events_attribution_linear"] = q_events_attribution_linear
ORACLES["events_attribution_linear"] = """
WITH j AS (
  SELECT user_id, event_type,
         coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1
                           ELSE 0 END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS journey
  FROM events
),
purch AS (
  SELECT user_id, journey FROM j WHERE event_type = 'purchase'
),
touches AS (
  SELECT user_id, journey, event_type AS channel
  FROM j WHERE event_type <> 'purchase'
),
ksz AS (
  SELECT user_id, journey, count(*) AS k
  FROM touches GROUP BY user_id, journey
),
credited AS (
  SELECT t.channel, ksz.k
  FROM touches t
  JOIN ksz ON ksz.user_id = t.user_id AND ksz.journey = t.journey
  JOIN purch p ON p.user_id = t.user_id AND p.journey = t.journey
),
by_k AS (
  SELECT channel, k, CAST(count(*) AS BIGINT) AS ck
  FROM credited GROUP BY channel, k
)
SELECT channel, CAST(sum(ck) AS BIGINT) AS n_touches,
       floor(CAST(sum((2 * ck * 1000000000000 + k) // (2 * k))
                  AS DOUBLE) / 1000000000000.0
             * 1000000.0 + 0.5) / 1000000.0 AS credit
FROM by_k GROUP BY channel"""


BACKTEST_TRAIN_DAYS = 23


def q_events_backtest_seasonal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonal-naive forecast backtest → (hod, n_train_days,
    n_test_days, forecast, mae): train the hour-of-day profile on the
    first 23 days of hourly counts (gap-filled calendar), forecast
    each test hour as its hour-of-day train mean, and score MAE over
    the final week — the honest evaluate-before-you-alert harness
    behind events_anomaly_zscore/ewma (a detector is only as good as
    the baseline it residualizes against).

    Integer-exact to the last division: hourly counts are BIGINTs on
    a zero-filled calendar, so every hour-of-day has EXACTLY 23 train
    observations; forecast = S_h/23 and
    MAE = Σ_test |23·x − S_h| / (23·n_test) are single divisions of
    exact integers — bit-identical on both engines, no float sum
    ordering anywhere. One fact-table pass to the hour grain; train
    profile and test scoring are 24-row/168-row dimension frames."""
    ev = load_table(spark, sf_dir, "events")
    hc = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count("*").alias("x")
    )
    bounds = hc.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    cal = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
        F.col("h0"),
    )
    s = cal.join(hc, "h", "left").select(
        F.datediff(F.to_date("h"), F.to_date("h0")).alias("day_idx"),
        F.hour("h").alias("hod"),
        F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"),
    )
    train = (
        s.filter(F.col("day_idx") < BACKTEST_TRAIN_DAYS)
        .groupBy("hod")
        .agg(F.sum("x").alias("sh"), F.count("*").alias("n_train_days"))
    )
    test = s.filter(F.col("day_idx") >= BACKTEST_TRAIN_DAYS)
    scored = test.join(F.broadcast(train), "hod").groupBy(
        "hod", "sh", "n_train_days"
    ).agg(
        F.count("*").alias("n_test_days"),
        F.sum(
            F.abs(
                F.col("x") * F.lit(BACKTEST_TRAIN_DAYS) - F.col("sh")
            )
        ).alias("mae_num"),
    )
    d = float(BACKTEST_TRAIN_DAYS)
    return scored.select(
        "hod",
        "n_train_days",
        "n_test_days",
        (
            F.floor(
                F.col("sh").cast("double") / F.lit(d) * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("forecast"),
        (
            F.floor(
                F.col("mae_num").cast("double")
                / (F.lit(d) * F.col("n_test_days"))
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("mae"),
    )


QUERIES["events_backtest_seasonal"] = q_events_backtest_seasonal
ORACLES["events_backtest_seasonal"] = """
WITH hc AS (
  SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
b AS (SELECT min(h) AS h0, max(h) AS h1 FROM hc),
cal AS (
  SELECT unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS h,
         b.h0 AS h0
  FROM b
),
s AS (
  SELECT date_diff('day', CAST(c.h0 AS DATE), CAST(c.h AS DATE))
           AS day_idx,
         CAST(extract(hour FROM c.h) AS INT) AS hod,
         coalesce(hc.x, 0) AS x
  FROM cal c LEFT JOIN hc ON hc.h = c.h
),
train AS (
  SELECT hod, CAST(sum(x) AS BIGINT) AS sh,
         CAST(count(*) AS BIGINT) AS n_train_days
  FROM s WHERE day_idx < 23 GROUP BY hod
),
scored AS (
  SELECT t.hod, t.sh, t.n_train_days,
         CAST(count(*) AS BIGINT) AS n_test_days,
         CAST(sum(abs(s.x * 23 - t.sh)) AS BIGINT) AS mae_num
  FROM s JOIN train t ON t.hod = s.hod
  WHERE s.day_idx >= 23
  GROUP BY t.hod, t.sh, t.n_train_days
)
SELECT hod, n_train_days, n_test_days,
       floor(CAST(sh AS DOUBLE) / 23.0 * 1000000.0 + 0.5)
         / 1000000.0 AS forecast,
       floor(CAST(mae_num AS DOUBLE) / (23.0 * n_test_days)
             * 1000000.0 + 0.5) / 1000000.0 AS mae
FROM scored"""


def q_events_time_to_convert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conversion-latency profile → (grp, n, q_0_25, q_0_5, q_0_75):
    exact quartiles of the seconds between a user's FIRST view and
    their first purchase strictly after it — the time-to-convert
    number product teams watch, with the no-sampling distributed
    quantile primitive (integer microsecond deltas, type-1 ranks)
    doing the statistics. Two conditional-min aggregates (first view
    per user; first qualifying purchase via one filtered join) — no
    window over raw events."""
    from ..operators.profiling import group_quantiles

    ev = load_table(spark, sf_dir, "events")
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("fv_us"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.unix_micros("ts").alias("p_us"))
        .join(fv, "user_id")
        .filter(F.col("p_us") > F.col("fv_us"))
        .groupBy("user_id", "fv_us")
        .agg(F.min("p_us").alias("fp_us"))
    )
    d = fp.select(
        F.lit("all").alias("g"),
        F.expr("(fp_us - fv_us) div 1000000").alias("delay_s"),
    )
    return group_quantiles(d, group_col="g", value_col="delay_s")


QUERIES["events_time_to_convert"] = q_events_time_to_convert
ORACLES["events_time_to_convert"] = """
WITH fv AS (
  SELECT user_id, min(epoch_us(ts)) AS fv_us
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
fp AS (
  SELECT e.user_id, fv.fv_us, min(epoch_us(e.ts)) AS fp_us
  FROM events e JOIN fv ON fv.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > fv.fv_us
  GROUP BY e.user_id, fv.fv_us
),
d AS (
  SELECT 'all' AS grp, (fp_us - fv_us) // 1000000 AS v FROM fp
),
g AS (SELECT grp, v, count(*) AS c FROM d GROUP BY grp, v),
r AS (
  SELECT grp, v, c,
         sum(c) OVER (PARTITION BY grp ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM g
),
t AS (SELECT grp, CAST(sum(c) AS BIGINT) AS n FROM g GROUP BY grp)
SELECT r.grp, t.n,
       min(CASE WHEN cum >= (t.n * 1 + 3) // 4 THEN v END) AS q_0_25,
       min(CASE WHEN cum >= (t.n * 1 + 1) // 2 THEN v END) AS q_0_5,
       min(CASE WHEN cum >= (t.n * 3 + 3) // 4 THEN v END) AS q_0_75
FROM r JOIN t ON t.grp = r.grp
GROUP BY r.grp, t.n"""


WATERMARK_GRID = [60, 300, 900, 3600]


def q_events_watermark_lateness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermark sizing report → (watermark_s, n_late, frac): for
    each candidate watermark, how many events arrive LATER than the
    watermark would tolerate (event-time ts vs the running maximum
    ts over earlier arrivals, arrival order = event_id) — the number
    you read BEFORE setting withWatermark(), because every late row
    beyond it is silently dropped state.

    The running max is a global prefix aggregation, computed with the
    same deterministic range-bucket idiom as the count-below prefix
    sum (operators/profiling.attach_count_below), instantiated for
    MAX: percentile_approx buckets on the arrival key (broadcast, a
    pure function of the key), an in-bucket exclusive running max,
    and per-bucket maxima prefix-combined on a ≤32-row frame — no
    global window over raw events. Lateness is exact integer
    microseconds. The whole grid is answered in ONE scan of the
    lateness frame: one conditional ``sum(late > w_i)`` column per
    grid value in a single map-side-combinable aggregate, exploded to
    (watermark_s, n_late) rows afterwards — never a grid×events
    replication join. frac = n_late/n is a ratio of exact integers."""
    ev = load_table(spark, sf_dir, "events")
    o = ev.select(
        F.col("event_id").alias("k"), F.unix_micros("ts").alias("tsu")
    )
    parts = 32
    bnd = o.agg(
        F.percentile_approx(
            "k", [i / parts for i in range(1, parts)], 10_000
        ).alias("bs")
    )
    o = (
        o.join(F.broadcast(bnd))
        .withColumn(
            "pid",
            F.size(F.filter(F.col("bs"), lambda b: b <= F.col("k"))),
        )
        .drop("bs")
    )
    from pyspark.sql.window import Window

    w_in = (
        Window.partitionBy("pid")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    o = o.withColumn("inmax", F.max("tsu").over(w_in))
    btot = o.groupBy("pid").agg(F.max("tsu").alias("bm"))
    w_off = (
        Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = btot.withColumn("om", F.max("bm").over(w_off)).select(
        "pid", "om"
    )
    o = (
        o.join(F.broadcast(offs), "pid")
        .withColumn("pm", F.greatest(F.col("inmax"), F.col("om")))
        .withColumn(
            "late_us",
            F.when(
                F.col("pm") > F.col("tsu"), F.col("pm") - F.col("tsu")
            ).otherwise(F.lit(0)),
        )
    )
    one = o.agg(
        F.count("*").alias("n"),
        *[
            F.sum(
                (
                    F.col("late_us") > F.lit(w * 1_000_000)
                ).cast("long")
            ).alias(f"nl_{w}")
            for w in WATERMARK_GRID
        ],
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(w).cast("long").alias("watermark_s"),
                F.col(f"nl_{w}").alias("n_late"),
            )
            for w in WATERMARK_GRID
        ]
    )
    return (
        # empty-input parity: the oracle's grid CROSS JOIN events is
        # empty when events is; a global agg always yields one row,
        # so gate the explode on n > 0
        one.filter(F.col("n") > 0)
        .select(F.explode(pairs).alias("p"), "n")
        .select(
            F.col("p.watermark_s").alias("watermark_s"),
            F.col("p.n_late").alias("n_late"),
            (
                F.floor(
                    F.col("p.n_late")
                    / F.col("n").cast("double")
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("frac"),
        )
    )


QUERIES["events_watermark_lateness"] = q_events_watermark_lateness
ORACLES["events_watermark_lateness"] = """
WITH o AS (SELECT event_id AS k, epoch_us(ts) AS tsu FROM events),
r AS (
  SELECT tsu,
         max(tsu) OVER (ORDER BY k
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM o
),
l AS (
  SELECT CASE WHEN pm > tsu THEN pm - tsu ELSE 0 END AS late_us
  FROM r
),
t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM l),
w AS (SELECT CAST(unnest([60, 300, 900, 3600]) AS BIGINT)
        AS watermark_s)
SELECT w.watermark_s,
       CAST(sum(CASE WHEN l.late_us > w.watermark_s * 1000000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       floor(sum(CASE WHEN l.late_us > w.watermark_s * 1000000
                      THEN 1 ELSE 0 END)
             / CAST(t.n AS DOUBLE) * 1000000.0 + 0.5)
         / 1000000.0 AS frac
FROM w CROSS JOIN l CROSS JOIN t
GROUP BY w.watermark_s, t.n"""


SURVIVAL_GRID = [0, 1, 2, 3, 5, 7, 10, 14, 21, 28]


def q_events_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-lifetime survival curve → (day_d, n_surviving, frac):
    for each horizon d in a fixed grid, the fraction of users whose
    observed lifetime (days between first and last event) is >= d —
    the retention-decay curve growth teams plot next to the cohort
    triangle (events_cohort_retention gives the cohort x week grid;
    this is the marginal curve).

    Shape: one groupBy(user) min/max — the only full-data shuffle —
    then a 10-row broadcast grid joined against the per-LIFETIME
    count frame (at most #distinct-lifetimes rows, bounded by the
    observation span in days, not by users). Fractions are exact
    integer ratios rounded at 6dp, so the oracle matches bit-for-bit
    at any scale."""
    ev = _events(spark, sf_dir)
    life = ev.groupBy("user_id").agg(
        F.datediff(
            F.max(F.to_date("ts")), F.min(F.to_date("ts"))
        ).alias("lifetime_d")
    )
    lc = life.groupBy("lifetime_d").agg(F.count("*").alias("c"))
    grid = spark.range(len(SURVIVAL_GRID)).select(
        F.element_at(
            F.array(*[F.lit(d) for d in SURVIVAL_GRID]),
            (F.col("id") + 1).cast("int"),
        ).alias("day_d")
    )
    tot = life.agg(F.count("*").alias("n_users"))
    return (
        lc.join(F.broadcast(grid), F.col("lifetime_d") >= F.col("day_d"))
        .groupBy("day_d")
        .agg(F.sum("c").alias("n_surviving"))
        .crossJoin(F.broadcast(tot))
        .select(
            "day_d",
            "n_surviving",
            (
                F.floor(
                    F.col("n_surviving").cast("double")
                    / F.col("n_users").cast("double")
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("frac"),
        )
    )


QUERIES["events_survival_curve"] = q_events_survival_curve
ORACLES["events_survival_curve"] = f"""
WITH life AS (
  SELECT user_id,
         date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
           AS lifetime_d
  FROM events GROUP BY user_id
),
grid AS (
  SELECT unnest(ARRAY{SURVIVAL_GRID}) AS day_d
),
t AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM life)
SELECT g.day_d AS day_d,
       CAST(count(*) AS BIGINT) AS n_surviving,
       floor(CAST(count(*) AS DOUBLE) / CAST(t.n_users AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS frac
FROM grid g JOIN life l ON l.lifetime_d >= g.day_d
CROSS JOIN t
GROUP BY g.day_d, t.n_users"""


def q_events_cusum_changepoint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CUSUM change-point scan over the daily event-count series →
    (d, x, cusum, is_peak): cumulative sum of (count - global mean)
    per day, flagging the day(s) where |CUSUM| peaks — the classic
    level-shift detector ops teams run over error rates.

    Float discipline: the running statistic is kept as the INTEGER
    n*CUSUM_d = n*cum_x_d - d_idx*total (BIGINT-exact in both
    engines; n = #days, total = #events), so the peak argmax is an
    integer comparison with no accumulated-double ambiguity; the
    reported cusum divides once at the end and rounds at 6dp. Shape:
    one date groupBy (#days rows), then window cumsum + one broadcast
    total — everything after the first shuffle is driver-tiny."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").alias("x")
    )
    tot = daily.agg(
        F.sum("x").alias("total"), F.count("*").alias("n_days")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn("cum_x", F.sum("x").over(w))
        .withColumn(
            "d_idx",
            F.row_number().over(Window.orderBy("d")).cast("long"),
        )
        .withColumn(
            "cusum_n",
            F.col("n_days") * F.col("cum_x")
            - F.col("d_idx") * F.col("total"),
        )
    )
    mx = cum.agg(F.max(F.abs("cusum_n")).alias("mx"))
    return (
        cum.crossJoin(F.broadcast(mx))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            "x",
            (
                F.floor(
                    F.col("cusum_n").cast("double")
                    / F.col("n_days").cast("double")
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("cusum"),
            (F.abs("cusum_n") == F.col("mx")).alias("is_peak"),
        )
    )


QUERIES["events_cusum_changepoint"] = q_events_cusum_changepoint
ORACLES["events_cusum_changepoint"] = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
t AS (
  SELECT CAST(sum(x) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_days
  FROM daily
),
cum AS (
  SELECT d, x,
         sum(x) OVER (ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_x,
         row_number() OVER (ORDER BY d) AS d_idx,
         t.total, t.n_days
  FROM daily CROSS JOIN t
),
s AS (
  SELECT d, x, n_days * cum_x - d_idx * total AS cusum_n, n_days
  FROM cum
),
mx AS (SELECT max(abs(cusum_n)) AS mx FROM s)
SELECT strftime(s.d, '%Y-%m-%d') AS d, s.x AS x,
       floor(CAST(cusum_n AS DOUBLE) / CAST(n_days AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS cusum,
       abs(cusum_n) = mx.mx AS is_peak
FROM s CROSS JOIN mx"""


def q_events_ab_mannwhitney(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mann-Whitney U (rank-sum) test per event type over the same
    deterministic md5(user_id)-parity A/B split as events_ab_ttest →
    (event_type, n_a, n_b, u_a, z_stat, significant): the
    NONPARAMETRIC experiment readout — the one analysts reach for
    when value distributions are skewed and the t-test's normality
    assumption is off.

    Integer-exact ranking: values are 6dp-quantized, grouped per
    (event_type, value), and the tie-averaged rank-sum is accumulated
    as the INTEGER 2*R_A = sum ca*(2*cum_before + c + 1) via one
    cumulative window over the per-VALUE frame (bounded by #distinct
    values, not #events) — so U and the tie-correction term
    sum(c^3 - c) are BIGINT-exact in both engines and only the final
    z divides in double. Normal approximation with tie-corrected
    variance; |z| > 1.96 flags ~95% significance. At 100 TB: one
    shuffle keyed (event_type, value), then a #distinct-value-sized
    window per type."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    variant = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ab"), F.col("user_id"))), 1, 15),
            16,
            10,
        ).cast("long")
        % 2
    )
    vq = (
        F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    ).cast("decimal(18,6)")
    base = ev.select(
        F.col("event_type").alias("grp"), variant.alias("v"), vq.alias("x")
    )
    g = base.groupBy("grp", "x").agg(
        F.count("*").cast("long").alias("c"),
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0))
        .cast("long")
        .alias("ca"),
    )
    w = Window.partitionBy("grp").orderBy("x").rowsBetween(
        Window.unboundedPreceding, 0
    )
    r = g.withColumn("cum", F.sum("c").over(w)).withColumn(
        "r2a_part",
        F.col("ca")
        * (F.lit(2) * (F.col("cum") - F.col("c")) + F.col("c") + F.lit(1)),
    )
    s = r.groupBy("grp").agg(
        F.sum("ca").alias("n_a"),
        F.sum(F.col("c") - F.col("ca")).alias("n_b"),
        F.sum("r2a_part").alias("r2a"),
        F.sum(
            F.col("c") * F.col("c") * F.col("c") - F.col("c")
        ).alias("ties"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    nn = na + nb
    u2 = F.col("r2a") - F.col("n_a") * (F.col("n_a") + F.lit(1))
    var_u = (
        na
        * nb
        / F.lit(12.0)
        * (
            (nn + F.lit(1.0))
            - F.col("ties").cast("double") / (nn * (nn - F.lit(1.0)))
        )
    )
    z = (u2.cast("double") - na * nb) / (F.lit(2.0) * F.sqrt(var_u))
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return s.filter((F.col("n_a") > 0) & (F.col("n_b") > 0)).select(
        F.col("grp").alias("event_type"),
        "n_a",
        "n_b",
        (u2 / F.lit(2)).cast("double").alias("u_a"),
        r6(z).alias("z_stat"),
        (F.abs(z) > 1.96).alias("significant"),
    )


QUERIES["events_ab_mannwhitney"] = q_events_ab_mannwhitney
ORACLES["events_ab_mannwhitney"] = """
WITH base AS (
  SELECT event_type AS grp,
         ('0x' || substr(md5('ab' || user_id), 1, 15))::BIGINT % 2 AS v,
         CAST(floor(value * 1000000.0 + 0.5) / 1000000.0
              AS DECIMAL(18,6)) AS x
  FROM events
),
g AS (
  SELECT grp, x, CAST(count(*) AS BIGINT) AS c,
         CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca
  FROM base GROUP BY grp, x
),
r AS (
  SELECT grp, c, ca,
         sum(c) OVER (PARTITION BY grp ORDER BY x
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM g
),
s AS (
  SELECT grp,
         CAST(sum(ca) AS BIGINT) AS n_a,
         CAST(sum(c - ca) AS BIGINT) AS n_b,
         CAST(sum(ca * (2 * (cum - c) + c + 1)) AS BIGINT) AS r2a,
         CAST(sum(c * c * c - c) AS BIGINT) AS ties
  FROM r GROUP BY grp
),
f AS (
  SELECT grp, n_a, n_b,
         r2a - n_a * (n_a + 1) AS u2,
         CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
         CAST(n_a + n_b AS DOUBLE) AS nn,
         CAST(ties AS DOUBLE) AS td
  FROM s WHERE n_a > 0 AND n_b > 0
),
zc AS (
  SELECT grp, n_a, n_b, u2,
         (CAST(u2 AS DOUBLE) - na * nb)
           / (2.0 * sqrt(na * nb / 12.0
               * ((nn + 1.0) - td / (nn * (nn - 1.0))))) AS z
  FROM f
)
SELECT grp AS event_type, n_a, n_b,
       CAST(u2 AS DOUBLE) / 2.0 AS u_a,
       floor(z * 1000000.0 + 0.5) / 1000000.0 AS z_stat,
       abs(z) > 1.96 AS significant
FROM zc"""


def q_events_stream_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream–stream LEFT-OUTER interval join through the
    real streaming engine → (user_id, n_pairs, n_orphans): purchases
    joined to the same user's clicks in the preceding hour, PLUS a
    null-click row for purchases with no attribution — the rows the
    inner join (events_stream_join) silently drops, and exactly what
    a conversion pipeline needs to count un-attributed revenue.

    Determinism contract: the engine emits an unmatched left only
    after the global watermark (min over both sides of max event time
    minus the 1h delay) passes it, so rows near the end of the replay
    would be emission-undefined. Both the engine result AND the
    DuckDB twin therefore cut at ``left_ts <= cutoff`` where cutoff =
    min(max purchase ts, max click ts) - 2 hours — strictly below any
    possible final watermark (1h delay + 1h margin), making the
    output a pure function of the data at every scale. State stays
    bounded (lookback + watermark per side); the post-aggregate is
    one keyed groupBy."""
    from ..streaming.ingest import stream_events
    from ..streaming.windows import stream_interval_join_outer

    pairs = replay_to_parquet(
        spark,
        "events_stream_outer_join",
        stream_interval_join_outer(
            stream_events(spark, sf_dir, with_watermark=None)
        ),
    )
    ev = _events(spark, sf_dir)
    cutoff = (
        ev.filter(
            F.col("event_type").isin("purchase", "click")
            & F.col("user_id").isNotNull()
        )
        .groupBy("event_type")
        .agg(F.max("ts").alias("mx"))
        .agg(
            (F.min("mx") - F.expr("INTERVAL 2 HOURS")).alias("cutoff")
        )
    )
    return (
        pairs.crossJoin(F.broadcast(cutoff))
        .filter(F.col("left_ts") <= F.col("cutoff"))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("right_id").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_pairs"),
            F.sum(F.when(F.col("right_id").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphans"),
        )
    )


QUERIES["events_stream_outer_join"] = q_events_stream_outer_join
ORACLES["events_stream_outer_join"] = """
WITH cut AS (
  SELECT min(mx) - INTERVAL 2 HOUR AS cutoff
  FROM (
    SELECT event_type, max(ts) AS mx FROM events
    WHERE event_type IN ('purchase', 'click') AND user_id IS NOT NULL
    GROUP BY event_type
  )
),
p AS (
  SELECT user_id, event_id AS left_id, ts AS left_ts
  FROM events CROSS JOIN cut
  WHERE event_type = 'purchase' AND user_id IS NOT NULL
    AND ts <= cut.cutoff
),
c AS (
  SELECT user_id, event_id AS right_id, ts AS right_ts
  FROM events WHERE event_type = 'click' AND user_id IS NOT NULL
),
j AS (
  SELECT p.user_id, p.left_id, c.right_id
  FROM p LEFT JOIN c
    ON c.user_id = p.user_id
   AND c.right_ts <= p.left_ts
   AND c.right_ts >= p.left_ts - INTERVAL 1 HOUR
)
SELECT user_id,
       CAST(sum(CASE WHEN right_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN right_id IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_orphans
FROM j GROUP BY user_id"""


def q_events_new_vs_returning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily active users split into new vs returning →
    (day, dau, n_new, n_returning): a user is NEW on the day of
    their first-ever event and RETURNING on every later active day —
    the growth-accounting decomposition (acquisition vs retention)
    product teams read before any ratio metric.

    Shape: one distinct to the (user, day) active grain, one
    user-keyed min aggregate for first-seen, one equi-join keyed by
    user, one day-keyed count — all map-side combinable; nothing is
    windowed over raw events. Counts are exact longs; dau =
    n_new + n_returning by construction, which the pytest pins."""
    ev = _events(spark, sf_dir)
    active = (
        ev.filter(F.col("user_id").isNotNull())
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    first_seen = active.groupBy("user_id").agg(
        F.min("day").alias("first_day")
    )
    return (
        active.join(first_seen, "user_id")
        .groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").cast("long").alias("dau"),
            F.sum(
                (F.col("day") == F.col("first_day")).cast("long")
            ).alias("n_new"),
            F.sum(
                (F.col("day") > F.col("first_day")).cast("long")
            ).alias("n_returning"),
        )
    )


QUERIES["events_new_vs_returning"] = q_events_new_vs_returning
ORACLES["events_new_vs_returning"] = """
WITH active AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
  FROM events WHERE user_id IS NOT NULL
),
fs AS (SELECT user_id, min(day) AS first_day FROM active GROUP BY user_id)
SELECT strftime(a.day, '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS dau,
       CAST(sum(CASE WHEN a.day = fs.first_day THEN 1 ELSE 0 END)
            AS BIGINT) AS n_new,
       CAST(sum(CASE WHEN a.day > fs.first_day THEN 1 ELSE 0 END)
            AS BIGINT) AS n_returning
FROM active a JOIN fs ON fs.user_id = a.user_id
GROUP BY a.day"""


def q_events_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn-rate alert → (window_start, n_1h, e_1h,
    n_6h, e_6h, burn_1h, burn_6h, page): the SRE alerting rule — the
    error-budget burn rate (observed error share / 25% budget) over a
    fast 1h window AND a slow trailing 6h window, paging only when
    BOTH exceed 1× (the standard multiwindow guard against paging on
    a noisy single hour). events_error_rate_sli is the dashboard;
    this is the alert that wakes someone.

    Float discipline: the page flag compares INTEGERS (4·errors >
    total on both windows) so alerting never hinges on a rounded
    double; the reported burn rates divide exact longs and round at
    6dp. Shape: one hour-keyed conditional aggregate, then a RANGE
    window (5 trailing hours, keyed on epoch-hour seconds so calendar
    gaps are handled) over the HOURLY grain — 720 rows/month/SLI, not
    raw events."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hsec")
    ).agg(
        F.count("*").alias("n_1h"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("e_1h"),
    )
    w = (
        Window.orderBy("hsec")
        .rangeBetween(-5 * 3600, Window.currentRow)
    )
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    out = (
        hourly.withColumn("n_6h", F.sum("n_1h").over(w))
        .withColumn("e_6h", F.sum("e_1h").over(w))
        .select(
            F.date_format(
                F.to_timestamp(F.col("hsec")), "yyyy-MM-dd HH:00:00"
            ).alias("window_start"),
            "n_1h",
            "e_1h",
            "n_6h",
            "e_6h",
            r6(
                F.col("e_1h") * F.lit(4.0) / F.col("n_1h").cast("double")
            ).alias("burn_1h"),
            r6(
                F.col("e_6h") * F.lit(4.0) / F.col("n_6h").cast("double")
            ).alias("burn_6h"),
            (
                (F.col("e_1h") * 4 > F.col("n_1h"))
                & (F.col("e_6h") * 4 > F.col("n_6h"))
            )
            .cast("int")
            .alias("page"),
        )
    )
    return out


QUERIES["events_slo_burn_rate"] = q_events_slo_burn_rate
ORACLES["events_slo_burn_rate"] = """
WITH hourly AS (
  SELECT epoch(date_trunc('hour', ts)) AS hsec,
         CAST(count(*) AS BIGINT) AS n_1h,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS e_1h
  FROM events GROUP BY 1
),
win AS (
  SELECT hsec, n_1h, e_1h,
         sum(n_1h) OVER (ORDER BY hsec
           RANGE BETWEEN 18000 PRECEDING AND CURRENT ROW) AS n_6h,
         sum(e_1h) OVER (ORDER BY hsec
           RANGE BETWEEN 18000 PRECEDING AND CURRENT ROW) AS e_6h
  FROM hourly
)
SELECT strftime(to_timestamp(hsec), '%Y-%m-%d %H:00:00')
         AS window_start,
       n_1h, e_1h,
       CAST(n_6h AS BIGINT) AS n_6h, CAST(e_6h AS BIGINT) AS e_6h,
       floor(e_1h * 4.0 / n_1h * 1000000.0 + 0.5) / 1000000.0
         AS burn_1h,
       floor(e_6h * 4.0 / n_6h * 1000000.0 + 0.5) / 1000000.0
         AS burn_6h,
       CAST(CASE WHEN e_1h * 4 > n_1h AND e_6h * 4 > n_6h
                 THEN 1 ELSE 0 END AS INT) AS page
FROM win"""


RETENTION_DN = [1, 7, 14, 28]


def q_events_retention_dn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic dN retention by signup cohort → (cohort_day, n_cohort,
    d1, d7, d14, d28, r1, r7, r14, r28): for users whose FIRST event
    lands on cohort_day, how many were active again exactly N days
    later — the D1/D7/D30-style bounce table growth teams quote
    (events_cohort_retention is the week-grid triangle; this is the
    fixed-horizon industry metric).

    Shape: the (user, day) distinct grain once, a user-keyed min for
    the cohort day, then ONE equi-join back on user with the day
    offset checked per horizon as conditional aggregates — never one
    join per horizon. Rates are exact integer ratios rounded at
    6dp."""
    ev = _events(spark, sf_dir)
    active = (
        ev.filter(F.col("user_id").isNotNull())
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    cohort = active.groupBy("user_id").agg(F.min("day").alias("c_day"))
    j = active.join(cohort, "user_id").withColumn(
        "off", F.datediff("day", "c_day")
    )
    aggs = [
        F.countDistinct("user_id").cast("long").alias("n_cohort")
    ]
    for n in RETENTION_DN:
        aggs.append(
            F.sum((F.col("off") == n).cast("long")).alias(f"d{n}")
        )
    g = j.groupBy(
        F.date_format("c_day", "yyyy-MM-dd").alias("cohort_day")
    ).agg(*aggs)
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    out_cols = ["cohort_day", "n_cohort"] + [f"d{n}" for n in RETENTION_DN]
    sel = [F.col(c) for c in out_cols] + [
        r6(
            F.col(f"d{n}").cast("double") / F.col("n_cohort").cast("double")
        ).alias(f"r{n}")
        for n in RETENTION_DN
    ]
    return g.select(*sel)


QUERIES["events_retention_dn"] = q_events_retention_dn
ORACLES["events_retention_dn"] = """
WITH active AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
  FROM events WHERE user_id IS NOT NULL
),
cohort AS (SELECT user_id, min(day) AS c_day FROM active GROUP BY user_id),
j AS (
  SELECT a.user_id, c.c_day, date_diff('day', c.c_day, a.day) AS off
  FROM active a JOIN cohort c ON c.user_id = a.user_id
),
g AS (
  SELECT strftime(c_day, '%Y-%m-%d') AS cohort_day,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_cohort,
         CAST(sum(CASE WHEN off = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         CAST(sum(CASE WHEN off = 7 THEN 1 ELSE 0 END) AS BIGINT) AS d7,
         CAST(sum(CASE WHEN off = 14 THEN 1 ELSE 0 END) AS BIGINT) AS d14,
         CAST(sum(CASE WHEN off = 28 THEN 1 ELSE 0 END) AS BIGINT) AS d28
  FROM j GROUP BY c_day
)
SELECT cohort_day, n_cohort, d1, d7, d14, d28,
       floor(CAST(d1 AS DOUBLE) / n_cohort * 1000000.0 + 0.5)
         / 1000000.0 AS r1,
       floor(CAST(d7 AS DOUBLE) / n_cohort * 1000000.0 + 0.5)
         / 1000000.0 AS r7,
       floor(CAST(d14 AS DOUBLE) / n_cohort * 1000000.0 + 0.5)
         / 1000000.0 AS r14,
       floor(CAST(d28 AS DOUBLE) / n_cohort * 1000000.0 + 0.5)
         / 1000000.0 AS r28
FROM g"""


def q_events_session_duration_quartiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Session-duration distribution → (grp, n, q_0_25, q_0_5,
    q_0_75): exact quartiles of gap-based (10-minute) session lengths
    in seconds — the engagement-depth readout next to the session
    COUNT the session-window entries report. Sessions are the same
    session_window grain events_stream_session maintains under
    streaming; durations are integer second deltas, so the
    distributed exact-quantile primitive (type-1 ranks over the
    value grain) matches the oracle bit-for-bit."""
    from ..operators.profiling import group_quantiles
    from ..streaming.windows import session_agg

    ev = _events(spark, sf_dir)
    s = ev.filter(F.col("user_id").isNotNull()).groupBy(
        F.session_window("ts", "10 minutes").alias("w"), "user_id"
    ).agg(F.count("*").alias("n_events"))
    d = s.select(
        F.lit("all").alias("g"),
        (
            F.unix_timestamp(F.col("w.end"))
            - F.unix_timestamp(F.col("w.start"))
        ).alias("dur_s"),
    )
    return group_quantiles(d, group_col="g", value_col="dur_s")


QUERIES["events_session_duration_quartiles"] = (
    q_events_session_duration_quartiles
)
ORACLES["events_session_duration_quartiles"] = """
WITH e AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - lag(epoch(ts))
                OVER (PARTITION BY user_id ORDER BY ts) >= 600
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events WHERE user_id IS NOT NULL
),
sid AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM e
),
sess AS (
  SELECT user_id, s,
         epoch(max(ts)) - epoch(min(ts)) + 600 AS dur_s
  FROM sid GROUP BY user_id, s
),
d AS (SELECT 'all' AS grp, CAST(dur_s AS BIGINT) AS v FROM sess),
g AS (SELECT grp, v, count(*) AS c FROM d GROUP BY grp, v),
r AS (
  SELECT grp, v, c,
         sum(c) OVER (PARTITION BY grp ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM g
),
t AS (SELECT grp, CAST(sum(c) AS BIGINT) AS n FROM g GROUP BY grp)
SELECT r.grp, t.n,
       min(CASE WHEN cum >= (t.n * 1 + 3) // 4 THEN v END) AS q_0_25,
       min(CASE WHEN cum >= (t.n * 1 + 1) // 2 THEN v END) AS q_0_5,
       min(CASE WHEN cum >= (t.n * 3 + 3) // 4 THEN v END) AS q_0_75
FROM r JOIN t ON t.grp = r.grp
GROUP BY r.grp, t.n"""


def q_events_user_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Activity-concentration readout → one row (n_users, n_events,
    p90_events, n_heavy, heavy_share): what fraction of all events
    comes from the "top decile" of users — defined deterministically
    as users whose event count is >= the exact type-1 90th percentile
    of per-user counts (ties INCLUDED, so the set is a pure function
    of the data; n_heavy reports how many users that actually is).
    The events twin of olap_revenue_gini: Gini grades orders revenue,
    this grades the user activity skew a capacity planner reads
    before sizing per-user state.

    Shape: one user-keyed count, one value-grain quantile pass (the
    group-quantile integer-rank idiom inlined for a single p), one
    conditional aggregate — integer-exact everywhere, share rounded
    at 6dp."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    uc = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("c"))
    )
    g = uc.groupBy("c").agg(F.count("*").alias("k"))
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    r = g.withColumn("cum", F.sum("k").over(w))
    tot = uc.agg(
        F.count("*").alias("n_users"), F.sum("c").alias("n_events")
    )
    p90 = (
        r.crossJoin(F.broadcast(tot))
        .filter(
            F.col("cum") >= F.expr("(n_users * 9 + 9) div 10")
        )
        .agg(F.min("c").alias("p90"))
    )
    return (
        uc.crossJoin(F.broadcast(p90))
        .crossJoin(F.broadcast(tot))
        .agg(
            F.max("n_users").alias("n_users"),
            F.max("n_events").alias("n_events"),
            F.max("p90").alias("p90_events"),
            F.sum(
                F.when(F.col("c") >= F.col("p90"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_heavy"),
            (
                F.floor(
                    F.sum(
                        F.when(F.col("c") >= F.col("p90"), F.col("c"))
                        .otherwise(0)
                    ).cast("double")
                    / F.max("n_events").cast("double")
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("heavy_share"),
        )
    )


QUERIES["events_user_concentration"] = q_events_user_concentration
ORACLES["events_user_concentration"] = """
WITH uc AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS c
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
),
g AS (SELECT c, count(*) AS k FROM uc GROUP BY c),
r AS (
  SELECT c, k,
         sum(k) OVER (ORDER BY c
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM g
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(c) AS BIGINT) AS n_events
  FROM uc
),
p90 AS (
  SELECT CAST(min(c) AS BIGINT) AS p90
  FROM r CROSS JOIN tot
  WHERE cum >= (tot.n_users * 9 + 9) // 10
)
SELECT tot.n_users, tot.n_events, p90.p90 AS p90_events,
       CAST(sum(CASE WHEN uc.c >= p90.p90 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_heavy,
       floor(sum(CASE WHEN uc.c >= p90.p90 THEN uc.c ELSE 0 END) * 1.0
             / tot.n_events * 1000000.0 + 0.5) / 1000000.0
         AS heavy_share
FROM uc CROSS JOIN p90 CROSS JOIN tot
GROUP BY tot.n_users, tot.n_events, p90.p90"""


def q_events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B power analysis per event type → (event_type, n_a, n_b,
    mde_abs, mde_rel, n_per_arm_5pct): the question every experiment
    review asks BEFORE reading the t-test — "what effect could this
    test even see?". From the same md5-parity split and quantized
    sums as events_ab_ttest: the minimum detectable absolute effect
    at 80% power / 5% alpha (two-sided) is (z_{a/2}+z_b)·SE with the
    Welch standard error; mde_rel divides by control mean; and
    n_per_arm_5pct is the per-arm sample size to detect a 5%
    relative lift with pooled variance — the "how much longer must
    this run" number. z constants (1.959964, 0.841621) are literals
    on both engines.

    Scale shape: identical to the t-test — ONE conditional aggregate
    keyed by event_type, map-side combinable; all closed-form
    arithmetic happens on the |event types|-row frame. Doubles run
    the same formula on identical decimal-quantized inputs and are
    6dp-floored at the edge; the ceil for n_per_arm is taken after
    6dp quantization so the integer boundary is engine-independent."""
    g = _ab_variant_agg(_events(spark, sf_dir))
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    sa = F.col("sa").cast("double")
    sb = F.col("sb").cast("double")
    qa = F.col("qa").cast("double")
    qb = F.col("qb").cast("double")
    ma = sa / na
    va = (qa - sa * sa / na) / (na - 1)
    vb = (qb - sb * sb / nb) / (nb - 1)
    z = F.lit(1.959964 + 0.841621)
    mde = z * F.sqrt(va / na + vb / nb)
    pooled = ((na - 1) * va + (nb - 1) * vb) / (na + nb - 2)
    delta = F.lit(0.05) * ma
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    n_req = F.ceil(r6(F.lit(2.0) * z * z * pooled / (delta * delta)))
    return g.filter((F.col("n_a") > 1) & (F.col("n_b") > 1)).select(
        F.col("grp").alias("event_type"),
        "n_a",
        "n_b",
        r6(mde).alias("mde_abs"),
        r6(mde / ma).alias("mde_rel"),
        n_req.cast("long").alias("n_per_arm_5pct"),
    )


QUERIES["events_power_analysis"] = q_events_power_analysis
ORACLES["events_power_analysis"] = """
WITH base AS (
  SELECT event_type AS grp,
         ('0x' || substr(md5('ab' || user_id), 1, 15))::BIGINT % 2 AS v,
         CAST(floor(value * 1000000.0 + 0.5) / 1000000.0
              AS DECIMAL(18,6)) AS x
  FROM events
),
g AS (
  SELECT grp,
         CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         sum(CASE WHEN v = 0 THEN x END) AS sa,
         sum(CASE WHEN v = 1 THEN x END) AS sb,
         sum(CASE WHEN v = 0 THEN x * x END) AS qa,
         sum(CASE WHEN v = 1 THEN x * x END) AS qb
  FROM base GROUP BY grp
),
f AS (
  SELECT grp, n_a, n_b,
         CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
         CAST(sa AS DOUBLE) AS sa, CAST(sb AS DOUBLE) AS sb,
         CAST(qa AS DOUBLE) AS qa, CAST(qb AS DOUBLE) AS qb
  FROM g WHERE n_a > 1 AND n_b > 1
),
d AS (
  SELECT grp, n_a, n_b, na, nb,
         sa / na AS ma,
         (qa - sa * sa / na) / (na - 1) AS va,
         (qb - sb * sb / nb) / (nb - 1) AS vb
  FROM f
)
SELECT grp AS event_type, n_a, n_b,
       floor((1.959964 + 0.841621) * sqrt(va / na + vb / nb)
             * 1000000.0 + 0.5) / 1000000.0 AS mde_abs,
       floor((1.959964 + 0.841621) * sqrt(va / na + vb / nb) / ma
             * 1000000.0 + 0.5) / 1000000.0 AS mde_rel,
       CAST(ceil(floor(
         2.0 * (1.959964 + 0.841621) * (1.959964 + 0.841621)
           * (((na - 1) * va + (nb - 1) * vb) / (na + nb - 2))
           / ((0.05 * ma) * (0.05 * ma))
         * 1000000.0 + 0.5) / 1000000.0) AS BIGINT) AS n_per_arm_5pct
FROM d"""


FUNNEL_WINDOW_GRID = [3600, 21600, 86400, 604800]  # 1h, 6h, 1d, 7d


def q_events_funnel_window_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conversion-window sensitivity → one row per candidate window
    (window_s, users_view, users_click_within, users_purchase_within):
    the events_funnel stages re-counted under a maximum
    stage-to-stage delay — the knob every funnel definition hides
    ("a click counts if within T of the view"). Reading the curve
    tells an analyst where the funnel stabilizes, i.e. the smallest
    honest window (the attribution twin of events_watermark_lateness:
    same grid-sweep question, asked of conversions instead of state).

    Scale shape: ONE groupBy(user) with conditional-min aggregates
    (map-side combinable — the single-shuffle funnel), then the whole
    grid answered by one conditional aggregate over the per-user
    frame (one pair of sums per window), exploded to rows from array
    literals — the single-pass grid idiom, never a grid×users join.
    Deltas are exact integer microseconds."""
    ev = load_table(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(
            F.when(F.col("event_type") == t, F.unix_micros("ts"))
        )

    stage = ev.groupBy("user_id").agg(
        first_ts("view").alias("tv"),
        first_ts("click").alias("tc"),
        first_ts("purchase").alias("tp"),
    )
    s1 = F.col("tv").isNotNull()
    aggs = [
        F.count("*").alias("__n_users"),
        F.sum(F.when(s1, 1).otherwise(0)).alias("uv"),
    ]
    for w in FUNNEL_WINDOW_GRID:
        us = w * 1_000_000
        s2 = (
            s1
            & F.col("tc").isNotNull()
            & (F.col("tc") >= F.col("tv"))
            & (F.col("tc") - F.col("tv") <= us)
        )
        s3 = (
            s2
            & F.col("tp").isNotNull()
            & (F.col("tp") >= F.col("tc"))
            & (F.col("tp") - F.col("tc") <= us)
        )
        aggs.append(F.sum(F.when(s2, 1).otherwise(0)).alias(f"c_{w}"))
        aggs.append(F.sum(F.when(s3, 1).otherwise(0)).alias(f"p_{w}"))
    one = stage.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(w).cast("long").alias("window_s"),
                F.col(f"c_{w}").alias("users_click_within"),
                F.col(f"p_{w}").alias("users_purchase_within"),
            )
            for w in FUNNEL_WINDOW_GRID
        ]
    )
    # empty-input parity: the oracle's grid CROSS JOIN stage is empty
    # when events is; gate the explode on a nonempty per-user frame
    return one.filter(F.col("__n_users") > 0).select(
        F.explode(pairs).alias("p"), "uv"
    ).select(
        F.col("p.window_s").alias("window_s"),
        F.col("uv").cast("long").alias("users_view"),
        F.col("p.users_click_within").cast("long").alias(
            "users_click_within"
        ),
        F.col("p.users_purchase_within").cast("long").alias(
            "users_purchase_within"
        ),
    )


QUERIES["events_funnel_window_sweep"] = q_events_funnel_window_sweep
ORACLES["events_funnel_window_sweep"] = """
WITH stage AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS tv,
         min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS tc,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
           AS tp
  FROM events GROUP BY user_id
),
w AS (SELECT CAST(unnest([3600, 21600, 86400, 604800]) AS BIGINT)
        AS window_s)
SELECT w.window_s,
       CAST(sum(CASE WHEN tv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS users_view,
       CAST(sum(CASE WHEN tv IS NOT NULL AND tc IS NOT NULL
                      AND tc >= tv AND tc - tv <= w.window_s * 1000000
                     THEN 1 ELSE 0 END) AS BIGINT)
         AS users_click_within,
       CAST(sum(CASE WHEN tv IS NOT NULL AND tc IS NOT NULL
                      AND tc >= tv AND tc - tv <= w.window_s * 1000000
                      AND tp IS NOT NULL AND tp >= tc
                      AND tp - tc <= w.window_s * 1000000
                     THEN 1 ELSE 0 END) AS BIGINT)
         AS users_purchase_within
FROM w CROSS JOIN stage
GROUP BY w.window_s"""

"""Scans, point lookups, filters, stats (SURVEY §2.1-2.2)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import l2_norm
from ..operators.vector_search import metadata_predicate
from ..session import local_frame
from ..sources import load_table
from .common import ORACLE_PRELUDE, model, scratch_dir


def q_scan_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    return nodes.select("id", "text", "lang", "source", "n_chars")


def q_scan_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, emb, _ = model(spark, sf_dir)
    return emb.select("node_id", "dim", F.round(l2_norm("vector"), 6).alias("norm"))


def q_scan_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, edges = model(spark, sf_dir)
    return edges.select("id", "src", "dst", "type", "weight")


def q_stats_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference /stats (``app.py:929-940``)."""
    nodes, emb, edges = model(spark, sf_dir)
    embedded = nodes.join(emb, nodes["id"] == emb["node_id"], "left_semi").count()
    return local_frame(
        spark,
        [(nodes.count(), embedded, edges.count())],
        "total_nodes long, nodes_with_embeddings long, total_edges long",
    )


def q_metadata_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive metadata map equality (``app.py:427-436``)."""
    nodes, _, _ = model(spark, sf_dir)
    return nodes.filter(
        metadata_predicate({"lang": "en", "source": "src3"})
    ).select("id", "text")


def q_dim_match_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, emb, _ = model(spark, sf_dir)
    return emb.filter(F.col("dim") == 64).select("node_id", "dim")


def q_node_get_with_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup + embedding flag + incident edges, flattened.

    Reference ``get_node`` (``app.py:163-202``) returns a nested
    envelope; we flatten to one row per incident edge (direction
    'out'/'in') so the oracle hash is well-defined.
    """
    nodes, emb, edges = model(spark, sf_dir)
    node = nodes.filter(F.col("id") == "5").select("id", "text")
    has_emb = node.join(
        emb, node["id"] == emb["node_id"], "left_semi"
    ).count() > 0
    out = edges.filter(F.col("src") == "5").select(
        F.col("id").alias("edge_id"),
        F.lit("out").alias("direction"),
        F.col("dst").alias("other_id"),
        "type",
        "weight",
    )
    inc = edges.filter(F.col("dst") == "5").select(
        F.col("id").alias("edge_id"),
        F.lit("in").alias("direction"),
        F.col("src").alias("other_id"),
        "type",
        "weight",
    )
    return node.withColumn("has_embedding", F.lit(has_emb)).crossJoin(
        out.unionByName(inc)
    )


def q_edge_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, edges = model(spark, sf_dir)
    return edges.filter(F.col("id") == "e-0-1").select(
        "id", "src", "dst", "type", "weight"
    )


def q_io_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alternate-format source/sink, end to end: nodes → JSON-lines
    sink (``df.write.json``) → ``nodes_from_json`` ingest adapter →
    model projection. Value-equal to scanning the original nodes,
    proving the JSONL export/ingest path is lossless for the model
    schema (the reference's only interchange format is its JSON REST
    payloads; this is the bulk equivalent)."""
    import os

    from ..sources.sinks import nodes_from_json

    nodes, _, _ = model(spark, sf_dir)
    path = os.path.join(scratch_dir("nodes_jsonl"), "nodes")
    nodes.select("id", "text", "lang", "source").write.mode(
        "overwrite"
    ).json(path)
    back = nodes_from_json(
        spark, path, metadata_cols=["lang", "source"]
    )
    return back.select(
        "id",
        "text",
        F.col("metadata")["lang"].alias("lang"),
        F.col("metadata")["source"].alias("source"),
    )


def q_io_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV drop ingest, end to end: nodes → headered CSV sink →
    ``nodes_from_csv`` adapter → model projection (text verified
    newline/quote/comma-free in the harness corpus, so default CSV
    quoting round-trips losslessly)."""
    import os

    from ..sources.sinks import nodes_from_csv

    nodes, _, _ = model(spark, sf_dir)
    path = os.path.join(scratch_dir("nodes_csv"), "nodes")
    nodes.select("id", "text", "lang", "n_chars").write.mode(
        "overwrite"
    ).option("header", "true").csv(path)
    back = nodes_from_csv(spark, path, metadata_cols=["lang", "n_chars"])
    return back.select(
        "id",
        "text",
        F.col("metadata")["lang"].alias("lang"),
        F.col("metadata")["n_chars"].cast("int").alias("n_chars"),
    )


def q_io_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC drop ingest, end to end: nodes → ORC sink →
    ``nodes_from_orc`` adapter → model projection. ORC preserves
    column types, so unlike CSV no re-cast is needed on read."""
    import os

    from ..sources.sinks import nodes_from_orc

    nodes, _, _ = model(spark, sf_dir)
    path = os.path.join(scratch_dir("nodes_orc"), "nodes")
    nodes.select("id", "text", "lang", "n_chars").write.mode(
        "overwrite"
    ).orc(path)
    back = nodes_from_orc(spark, path, metadata_cols=["lang", "n_chars"])
    return back.select(
        "id",
        "text",
        F.col("metadata")["lang"].alias("lang"),
        F.col("metadata")["n_chars"].cast("int").alias("n_chars"),
    )


SQL_TOPCITED = """
WITH indeg AS (SELECT dst AS id, count(*) AS cites FROM edges GROUP BY dst)
SELECT lang, id, cites, rnk FROM (
  SELECT n.lang, n.id, i.cites,
         row_number() OVER (
           PARTITION BY n.lang ORDER BY i.cites DESC, n.id) AS rnk
  FROM nodes n JOIN indeg i ON i.id = n.id
) ranked WHERE rnk <= 2"""


def q_sql_frontend_topcited(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL surface end-to-end: the model frames are
    registered as temp views and an ANSI query (CTE + join + window)
    runs through Catalyst. The SAME query text doubles as the DuckDB
    oracle — the check is that two ANSI engines agree on the engine's
    published views. The reference has no SQL frontend at all
    (SURVEY §2); on Spark it is free."""
    from ..sql import sql

    return sql(spark, sf_dir, SQL_TOPCITED)


QUERIES = {
    "scan_nodes": q_scan_nodes,
    "scan_embeddings": q_scan_embeddings,
    "scan_edges": q_scan_edges,
    "stats_counts": q_stats_counts,
    "metadata_filter": q_metadata_filter,
    "dim_match_filter": q_dim_match_filter,
    "node_get_with_edges": q_node_get_with_edges,
    "edge_get": q_edge_get,
    "io_jsonl_roundtrip": q_io_jsonl_roundtrip,
    "io_csv_roundtrip": q_io_csv_roundtrip,
    "io_orc_roundtrip": q_io_orc_roundtrip,
    "sql_frontend_topcited": q_sql_frontend_topcited,
}

ORACLES = {
    "scan_nodes": ORACLE_PRELUDE
    + "\nSELECT id, text, lang, source, n_chars FROM nodes ORDER BY id",
    "scan_embeddings": ORACLE_PRELUDE
    + """
SELECT node_id, dim,
       round(sqrt(list_dot_product(CAST(vector AS DOUBLE[]),
                                   CAST(vector AS DOUBLE[]))), 6) AS norm
FROM emb ORDER BY node_id""",
    "scan_edges": ORACLE_PRELUDE
    + "\nSELECT id, src, dst, type, weight FROM edges ORDER BY id",
    "stats_counts": ORACLE_PRELUDE
    + """
SELECT (SELECT count(*) FROM nodes) AS total_nodes,
       (SELECT count(*) FROM nodes n
         WHERE EXISTS (SELECT 1 FROM emb e WHERE e.node_id = n.id))
         AS nodes_with_embeddings,
       (SELECT count(*) FROM edges) AS total_edges""",
    "metadata_filter": ORACLE_PRELUDE
    + "\nSELECT id, text FROM nodes WHERE lang = 'en' AND source = 'src3' ORDER BY id",
    "dim_match_filter": ORACLE_PRELUDE
    + "\nSELECT node_id, dim FROM emb WHERE dim = 64 ORDER BY node_id",
    "node_get_with_edges": ORACLE_PRELUDE
    + """
SELECT n.id, n.text,
       EXISTS (SELECT 1 FROM emb e WHERE e.node_id = n.id) AS has_embedding,
       x.edge_id, x.direction, x.other_id, x.type, x.weight
FROM nodes n CROSS JOIN (
  SELECT id AS edge_id, 'out' AS direction, dst AS other_id, type, weight
  FROM edges WHERE src = '5'
  UNION ALL
  SELECT id, 'in', src, type, weight FROM edges WHERE dst = '5'
) x
WHERE n.id = '5'""",
    "edge_get": ORACLE_PRELUDE
    + "\nSELECT id, src, dst, type, weight FROM edges WHERE id = 'e-0-1'",
    # the round-trips must reproduce the source table exactly
    "io_jsonl_roundtrip": ORACLE_PRELUDE
    + "\nSELECT id, text, lang, source FROM nodes ORDER BY id",
    "io_csv_roundtrip": ORACLE_PRELUDE
    + "\nSELECT id, text, lang, n_chars FROM nodes ORDER BY id",
    "io_orc_roundtrip": ORACLE_PRELUDE
    + "\nSELECT id, text, lang, n_chars FROM nodes ORDER BY id",
    # the frontend check runs the IDENTICAL ANSI text on both engines
    "sql_frontend_topcited": ORACLE_PRELUDE + "," + SQL_TOPCITED.replace(
        "WITH indeg", "indeg", 1
    ),
}


def q_io_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet sink + partition-PRUNED read: events
    written partitionBy(event_type), read back with an event_type
    predicate that must resolve as a PartitionFilter (directory
    pruning — zero row groups of other types touched; pinned by
    tests/test_plans.py), then a per-user aggregate. The layout
    every 100 TB event lake uses: the prune turns a full-lake scan
    into one directory subtree."""
    import os

    ev = load_table(spark, sf_dir, "events")
    path = os.path.join(scratch_dir("events_part"), "events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path).filter(
        F.col("event_type") == "purchase"
    )
    return (
        back.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(30,10)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )


QUERIES["io_parquet_partitioned"] = q_io_parquet_partitioned

ORACLES["io_parquet_partitioned"] = """
SELECT user_id, count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(30,10))), 2) AS DOUBLE)
         AS sum_value
FROM events WHERE event_type = 'purchase'
GROUP BY user_id"""


def q_io_jsonl_corrupt_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode JSONL ingest over a deliberately dirty drop:
    every doc whose id % 13 == 0 is exported as a TRUNCATED JSON line
    (unparseable), the rest as valid JSONL. The read must keep every
    good row and quarantine — not drop, not crash on — every bad line
    via ``_corrupt_record``, the contract bulk ingest at 100 TB needs
    (one malformed shard must never kill the job). Output is the
    per-lang good/bad tally; the oracle recomputes it from the
    deterministic corruption rule, so a reader that silently drops or
    double-counts quarantined lines fails the value gate."""
    import os

    nodes, _, _ = model(spark, sf_dir)
    base = scratch_dir("nodes_jsonl_dirty")
    path = os.path.join(base, "nodes")
    good = F.to_json(F.struct("id", "text", "lang"))
    line = F.when(
        F.col("id").cast("long") % 13 == 0,
        F.substring(good, 1, 20),  # truncated mid-object: unparseable
    ).otherwise(good)
    nodes.select(line.alias("value")).write.mode("overwrite").text(path)
    schema = "id string, text string, lang string, _corrupt_record string"
    back = spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)
    return (
        back.groupBy(
            F.coalesce("lang", F.lit("__corrupt__")).alias("lang")
        )
        .agg(
            F.count("*").alias("n"),
            F.count("_corrupt_record").alias("n_corrupt"),
        )
    )


QUERIES["io_jsonl_corrupt_tolerant"] = q_io_jsonl_corrupt_tolerant

# The oracle replays the corruption RULE (id % 13 -> truncated, lang
# lost), not the file: good rows tally under their lang with
# n_corrupt = 0, bad rows all land in __corrupt__.
ORACLES["io_jsonl_corrupt_tolerant"] = ORACLE_PRELUDE + """
SELECT lang, count(*) AS n, CAST(0 AS BIGINT) AS n_corrupt
FROM nodes WHERE CAST(id AS BIGINT) % 13 <> 0
GROUP BY lang
UNION ALL
SELECT '__corrupt__' AS lang, count(*) AS n,
       count(*) AS n_corrupt
FROM nodes WHERE CAST(id AS BIGINT) % 13 = 0"""


COMPACT_SMALL_FILES = 64
COMPACT_TARGET_FILES = 4


def q_io_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction, the routine lakehouse maintenance op: a
    table fragmented into COMPACT_SMALL_FILES tiny parquet files is
    rewritten into COMPACT_TARGET_FILES right-sized ones, and the
    compacted copy must be byte-for-byte the same TABLE (oracle =
    the original rows). The query returns the post-compaction rows
    plus the realized file count so the gate value-checks both the
    data integrity and that compaction actually happened.

    Scale shape: compaction is one repartition (or coalesce when only
    merging) write — no join, no aggregate; at 100 TB it runs
    per-partition-directory so each compaction unit is independent.
    The real deployment sizes output files via
    spark.sql.files.maxRecordsPerFile instead of a fixed count; the
    fixed count here makes the file-count assertion deterministic.
    """
    import os

    nodes, _, _ = model(spark, sf_dir)
    root = scratch_dir("compact")
    frag = os.path.join(root, "fragmented")
    compacted = os.path.join(root, "compacted")
    nodes.repartition(COMPACT_SMALL_FILES).write.mode("overwrite").parquet(
        frag
    )
    spark.read.parquet(frag).repartition(COMPACT_TARGET_FILES).write.mode(
        "overwrite"
    ).parquet(compacted)
    n_files = len(
        [f for f in os.listdir(compacted) if f.endswith(".parquet")]
    )
    return spark.read.parquet(compacted).select(
        "id",
        "text",
        "lang",
        "n_chars",
        F.lit(n_files).alias("n_files"),
    )


def q_io_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: an old batch written WITHOUT a column
    and a new batch WITH it are read as one table via mergeSchema;
    old rows surface NULL for the new column. This is the append-only
    data-lake reality at 100 TB — producers add columns and historic
    files are never rewritten. The split (old = even ids, new = odd)
    and the added column (quality = n_chars / 100.0) are
    deterministic so the oracle reproduces the merged view exactly.
    """
    import os

    nodes, _, _ = model(spark, sf_dir)
    root = scratch_dir("schemaevo")
    did = F.col("id").cast("long")
    nodes.filter(did % 2 == 0).select("id", "text", "n_chars").write.mode(
        "overwrite"
    ).parquet(os.path.join(root, "v=1"))
    nodes.filter(did % 2 == 1).select(
        "id",
        "text",
        "n_chars",
        (F.col("n_chars").cast("double") / F.lit(100.0)).alias("quality"),
    ).write.mode("overwrite").parquet(os.path.join(root, "v=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "v=1"), os.path.join(root, "v=2")
    )
    return merged.select(
        "id",
        "n_chars",
        (F.floor(F.col("quality") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "quality"
        ),
    )


QUERIES["io_compact_small_files"] = q_io_compact_small_files
QUERIES["io_schema_evolution"] = q_io_schema_evolution

ORACLES["io_compact_small_files"] = ORACLE_PRELUDE + f"""
SELECT id, text, lang, n_chars,
       {COMPACT_TARGET_FILES} AS n_files
FROM nodes"""

ORACLES["io_schema_evolution"] = ORACLE_PRELUDE + """
SELECT id, n_chars,
       CASE WHEN CAST(id AS BIGINT) % 2 = 1
            THEN floor((n_chars / 100.0) * 1000000.0 + 0.5) / 1000000.0
            ELSE NULL END AS quality
FROM nodes"""


def q_io_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table co-located join → (c_mktsegment, n_orders,
    total_price): orders and customer are written as BUCKETED tables
    (8 buckets on the customer key, sorted within buckets), read
    back, joined on the bucket key, and aggregated.

    The point is the PLAN, pinned by tests/test_plans.py: both scans
    report the bucket spec, and when neither side is broadcastable
    (the 100 TB fact⨝fact case — the test pins it with broadcast
    disabled) the join is a co-located SortMergeJoin with NO Exchange
    on either input. At tiny sf AQE correctly prefers broadcasting
    the small side instead — also shuffle-free. Pay the shuffle once
    at write time, amortize it over every subsequent join on that
    key (the batch analog of the streaming state store's
    pre-partitioning). Values are bucketing-invariant, so the DuckDB
    oracle is the plain join."""
    import os

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    # external tables under a fresh scratch path: the catalog entry is
    # session-scoped but a managed-table LOCATION would outlive the
    # session and collide on the next run
    base = scratch_dir("bucketed_join")
    # run-scoped table names (suffixed with the scratch dir's unique
    # run id): two concurrent gate runs sharing a metastore would race
    # each other's DROP/CREATE on fixed names
    run_id = os.path.basename(base).rsplit("_", 1)[-1]
    t_orders, t_cust = f"b_orders_{run_id}", f"b_customer_{run_id}"
    # sweep THIS session's tables from any earlier invocation (the
    # paths they pointed at were reclaimed by scratch_dir above)
    for t in spark.catalog.listTables():
        if t.name.startswith(("b_orders_", "b_customer_")):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite")
        .option("path", os.path.join(base, "orders"))
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .saveAsTable(t_orders)
    )
    (
        cust.select("c_custkey", "c_mktsegment")
        .write.mode("overwrite")
        .option("path", os.path.join(base, "customer"))
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .saveAsTable(t_cust)
    )
    bo = spark.table(t_orders)
    bc = spark.table(t_cust)
    return (
        bo.join(bc, bo["o_custkey"] == bc["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(30,10)")), 2)
            .cast("double")
            .alias("total_price"),
        )
    )


QUERIES["io_bucketed_join"] = q_io_bucketed_join
ORACLES["io_bucketed_join"] = """
SELECT c_mktsegment, count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))), 2) AS DOUBLE)
         AS total_price
FROM orders JOIN customer ON c_custkey = o_custkey
GROUP BY c_mktsegment"""


# ---------------------------------------------------------------------------
# Z-order layout (round 5)
# ---------------------------------------------------------------------------

ZORDER_BITS = 16
ZORDER_BUCKET_SHIFT = 2 * ZORDER_BITS - 6  # top 6 z-bits -> 64 files


def q_io_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) file layout over orders(o_custkey,
    o_orderdate) → per-file clustering report (bucket, n_rows,
    ck_min, ck_max, d_min, d_max).

    The multi-dimensional complement of io_bucketed_join's
    pay-shuffle-once pattern: both keys are scaled to 16-bit ranks
    with EXACT integer arithmetic, bit-interleaved into a 32-bit
    z-value, and the top 6 z-bits name the target file. Because the
    Morton curve preserves locality in BOTH dimensions, every file's
    (custkey, orderdate) min/max footer ranges are narrow — so a
    predicate on EITHER column prunes most files, which single-column
    sorting only achieves for its leading column. At 100 TB the write
    is ``repartitionByRange(zval)`` + within-partition sort — one
    shuffle at layout time, bought back on every scan. The report
    aggregates the per-file ranges a parquet footer would expose;
    tests pin that per-file spans are far narrower than the global
    span."""
    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.to_date(F.lit("1970-01-01"))
    )
    base = orders.select(
        F.col("o_custkey").alias("ck"), day.alias("d")
    )
    bounds = base.agg(
        F.min("ck").alias("ck_mn"), F.max("ck").alias("ck_mx"),
        F.min("d").alias("d_mn"), F.max("d").alias("d_mx"),
    )

    def scale(v, mn, mx):
        span = F.col(mx) - F.col(mn)
        raw = F.expr(
            f"(({v} - {mn}) * {1 << ZORDER_BITS}) div ({mx} - {mn})"
        )
        return F.when(
            span > 0, F.least(F.lit((1 << ZORDER_BITS) - 1), raw)
        ).otherwise(F.lit(0))

    xy = base.crossJoin(F.broadcast(bounds)).select(
        "ck",
        "d",
        scale("ck", "ck_mn", "ck_mx").alias("x"),
        scale("d", "d_mn", "d_mx").alias("y"),
    )
    z = F.lit(0)
    for i in range(ZORDER_BITS):
        z = z + F.shiftleft(
            F.shiftright(F.col("x"), i).bitwiseAND(F.lit(1)), 2 * i
        )
        z = z + F.shiftleft(
            F.shiftright(F.col("y"), i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
    return (
        xy.withColumn("bucket", F.shiftright(z, ZORDER_BUCKET_SHIFT))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("ck").alias("ck_min"),
            F.max("ck").alias("ck_max"),
            F.min("d").alias("d_min"),
            F.max("d").alias("d_max"),
        )
    )


QUERIES["io_zorder_layout"] = q_io_zorder_layout

_Z_INTERLEAVE = " + ".join(
    f"(((x >> {i}) & 1) << {2 * i}) + (((y >> {i}) & 1) << {2 * i + 1})"
    for i in range(ZORDER_BITS)
)

ORACLES["io_zorder_layout"] = f"""
WITH base AS (
  SELECT o_custkey AS ck,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
  FROM orders
),
bounds AS (
  SELECT min(ck) AS ck_mn, max(ck) AS ck_mx,
         min(d) AS d_mn, max(d) AS d_mx
  FROM base
),
xy AS (
  SELECT ck, d,
         CASE WHEN ck_mx - ck_mn > 0 THEN
           least({(1 << ZORDER_BITS) - 1},
                 ((ck - ck_mn) * {1 << ZORDER_BITS}) // (ck_mx - ck_mn))
         ELSE 0 END AS x,
         CASE WHEN d_mx - d_mn > 0 THEN
           least({(1 << ZORDER_BITS) - 1},
                 ((d - d_mn) * {1 << ZORDER_BITS}) // (d_mx - d_mn))
         ELSE 0 END AS y
  FROM base CROSS JOIN bounds
)
SELECT ({_Z_INTERLEAVE}) >> {ZORDER_BUCKET_SHIFT} AS bucket,
       count(*) AS n_rows,
       min(ck) AS ck_min, max(ck) AS ck_max,
       min(d) AS d_min, max(d) AS d_max
FROM xy
GROUP BY 1"""


# ---------------------------------------------------------------------------
# Partition-skew report (round 5)
# ---------------------------------------------------------------------------


def q_io_partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-column planning report → one row per candidate
    (partition_col, n_partitions, max_rows, total_rows, skew,
    max_share): before committing a table layout, compare candidate
    partition columns by partition count and hot-partition skew
    (max/avg) — the number that predicts straggler tasks and
    write-side small-file storms. skew = max·n_partitions/total is
    exact integer arithmetic until the final division. One count
    aggregate per candidate over the same scan; |keys|-sized frames
    after. Complements io_zorder_layout (multi-dim) and
    skew_salted_* (the fix once a hot key is found)."""
    ev = load_table(spark, sf_dir, "events")

    def report(name: str, key) -> DataFrame:
        g = ev.groupBy(key.alias("k")).agg(F.count("*").alias("n"))
        return g.agg(
            F.lit(name).alias("partition_col"),
            F.count("*").alias("n_partitions"),
            F.max("n").alias("max_rows"),
            F.sum("n").alias("total_rows"),
        ).select(
            "partition_col",
            "n_partitions",
            "max_rows",
            "total_rows",
            (
                F.floor(
                    F.col("max_rows")
                    * F.col("n_partitions")
                    / F.col("total_rows")
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("skew"),
            (
                F.floor(
                    F.col("max_rows") / F.col("total_rows") * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("max_share"),
        )

    return report("day", F.to_date("ts")).unionByName(
        report("event_type", F.col("event_type"))
    )


QUERIES["io_partition_skew_report"] = q_io_partition_skew_report

_SKEW_ROW = """
SELECT '{name}' AS partition_col,
       CAST(count(*) AS BIGINT) AS n_partitions,
       CAST(max(n) AS BIGINT) AS max_rows,
       CAST(sum(n) AS BIGINT) AS total_rows,
       floor(max(n) * count(*) * 1.0 / sum(n) * 1000000.0 + 0.5)
         / 1000000.0 AS skew,
       floor(max(n) * 1.0 / sum(n) * 1000000.0 + 0.5)
         / 1000000.0 AS max_share
FROM (SELECT {key} AS k, count(*) AS n FROM events GROUP BY 1)"""

ORACLES["io_partition_skew_report"] = (
    _SKEW_ROW.format(name="day", key="CAST(ts AS DATE)")
    + "\nUNION ALL\n"
    + _SKEW_ROW.format(name="event_type", key="event_type")
)


# ---------------------------------------------------------------------------
# SQL frontend #2 (round 5): cross-table revenue share
# ---------------------------------------------------------------------------

SQL_SEG_REVENUE = """
WITH rev AS (
  SELECT c.c_mktsegment AS seg,
         EXTRACT(YEAR FROM o.o_orderdate) AS yr,
         SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                  AS DECIMAL(30,10))) AS r
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY c.c_mktsegment, EXTRACT(YEAR FROM o.o_orderdate)
)
SELECT seg, CAST(yr AS BIGINT) AS yr,
       CAST(ROUND(r, 2) AS DOUBLE) AS revenue,
       CAST(FLOOR(CAST(r AS DOUBLE) / CAST(SUM(r) OVER (PARTITION BY yr)
                                          AS DOUBLE)
                  * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE) AS yr_share
FROM rev"""


def q_sql_frontend_seg_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second SQL-surface proof, this time over the RAW harness
    tables: a three-way star join + decimal-exact revenue + windowed
    share-of-year, written once in common ANSI (EXTRACT, DECIMAL
    cast, window SUM) and executed by BOTH engines from the same
    text. Dialect discipline: decimal accumulation for money (the
    sf1 lesson), double cast before the ratio, floor-based 6dp."""
    from ..sql import sql

    return sql(spark, sf_dir, SQL_SEG_REVENUE)


QUERIES["sql_frontend_seg_revenue"] = q_sql_frontend_seg_revenue
ORACLES["sql_frontend_seg_revenue"] = SQL_SEG_REVENUE


# ---------------------------------------------------------------------------
# Zone-map prune evaluation (round 5): which layout earns its shuffle
# ---------------------------------------------------------------------------

ZM_FILES = 64          # files per simulated layout
ZM_LO_OFF = 600        # predicate window [d_mn+600, d_mn+629]
ZM_WIN = 30


def q_io_zonemap_prune_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-skipping effectiveness report → one row per candidate
    layout (layout, n_files, files_scanned, rows_scanned,
    rows_matching): simulate writing orders as 64 files under three
    layouts — ``hash`` (o_orderkey mod 64, the default shuffle
    layout), ``range_date`` (value-range partition on o_orderdate),
    ``zorder`` (3+3-bit Morton interleave of custkey × date) — build
    each file's min/max date zone map (what a parquet footer
    exposes), and count how many files and rows a fixed 30-day date
    predicate must scan under each. rows_matching anchors the
    amplification: range_date scans ≈ the matching rows, zorder a
    band, hash everything — the number that justifies paying the
    layout shuffle once at write time.

    Decision-tool companion to io_zorder_layout (which reports the
    per-file ranges; this entry converts them into scan cost) —
    the same move ann_tier_report made for the ANN family. All
    bucket arithmetic is EXACT integers (value-range buckets, not
    rank-based — no single-task ntile window anywhere), so the
    oracle reproduces it bit-for-bit. One pass over the fact table,
    |layouts|×|files| frames after."""
    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.to_date(F.lit("1970-01-01"))
    )
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("ck"),
        day.alias("d"),
    )
    bounds = base.agg(
        F.min("d").alias("d_mn"), F.max("d").alias("d_mx"),
        F.min("ck").alias("ck_mn"), F.max("ck").alias("ck_mx"),
    )

    def vr_bucket(v: str, mn: str, mx: str, nb: int):
        return F.least(
            F.lit(nb - 1),
            F.expr(f"(({v} - {mn}) * {nb}) div ({mx} - {mn} + 1)"),
        )

    xy = base.crossJoin(F.broadcast(bounds)).select(
        "k",
        "d",
        (F.col("k") % ZM_FILES).alias("bh"),
        vr_bucket("d", "d_mn", "d_mx", ZM_FILES).alias("br"),
        vr_bucket("ck", "ck_mn", "ck_mx", 8).alias("x"),
        vr_bucket("d", "d_mn", "d_mx", 8).alias("y"),
        (F.col("d_mn") + ZM_LO_OFF).alias("lo"),
        (F.col("d_mn") + ZM_LO_OFF + ZM_WIN - 1).alias("hi"),
    )
    z = F.lit(0)
    for i in range(3):
        z = z + F.shiftleft(
            F.shiftright(F.col("x"), i).bitwiseAND(F.lit(1)), 2 * i
        )
        z = z + F.shiftleft(
            F.shiftright(F.col("y"), i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
    lb = xy.withColumn("bz", z).selectExpr(
        "d",
        "lo",
        "hi",
        "stack(3, 'hash', bh, 'range_date', br, 'zorder', bz)"
        " AS (layout, bucket)",
    )
    zm = lb.groupBy("layout", "bucket").agg(
        F.min("d").alias("dmin"),
        F.max("d").alias("dmax"),
        F.count("*").alias("n"),
        F.min("lo").alias("lo"),
        F.min("hi").alias("hi"),
    )
    hit = (F.col("dmin") <= F.col("hi")) & (F.col("dmax") >= F.col("lo"))
    m = xy.filter(
        (F.col("d") >= F.col("lo")) & (F.col("d") <= F.col("hi"))
    ).agg(F.count("*").alias("rows_matching"))
    return (
        zm.groupBy("layout")
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias(
                "files_scanned"
            ),
            F.sum(F.when(hit, F.col("n")).otherwise(0)).cast("long").alias(
                "rows_scanned"
            ),
        )
        .crossJoin(F.broadcast(m))
    )


QUERIES["io_zonemap_prune_eval"] = q_io_zonemap_prune_eval

_ZM3 = (
    "(((x >> 0) & 1) << 0) + (((y >> 0) & 1) << 1) + "
    "(((x >> 1) & 1) << 2) + (((y >> 1) & 1) << 3) + "
    "(((x >> 2) & 1) << 4) + (((y >> 2) & 1) << 5)"
)

ORACLES["io_zonemap_prune_eval"] = f"""
WITH base AS (
  SELECT o_orderkey AS k, o_custkey AS ck,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
  FROM orders
),
bounds AS (
  SELECT min(d) AS d_mn, max(d) AS d_mx,
         min(ck) AS ck_mn, max(ck) AS ck_mx
  FROM base
),
xy AS (
  SELECT k, d,
         k % {ZM_FILES} AS bh,
         least({ZM_FILES - 1},
               ((d - d_mn) * {ZM_FILES}) // (d_mx - d_mn + 1)) AS br,
         least(7, ((ck - ck_mn) * 8) // (ck_mx - ck_mn + 1)) AS x,
         least(7, ((d - d_mn) * 8) // (d_mx - d_mn + 1)) AS y,
         d_mn + {ZM_LO_OFF} AS lo,
         d_mn + {ZM_LO_OFF + ZM_WIN - 1} AS hi
  FROM base CROSS JOIN bounds
),
lb AS (
  SELECT 'hash' AS layout, bh AS bucket, d, lo, hi FROM xy
  UNION ALL
  SELECT 'range_date', br, d, lo, hi FROM xy
  UNION ALL
  SELECT 'zorder', {_ZM3}, d, lo, hi FROM xy
),
zm AS (
  SELECT layout, bucket, min(d) AS dmin, max(d) AS dmax,
         count(*) AS n, min(lo) AS lo, min(hi) AS hi
  FROM lb GROUP BY layout, bucket
),
m AS (SELECT count(*) AS rows_matching FROM xy WHERE d BETWEEN lo AND hi)
SELECT layout,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(CASE WHEN dmin <= hi AND dmax >= lo THEN 1 ELSE 0 END)
            AS BIGINT) AS files_scanned,
       CAST(sum(CASE WHEN dmin <= hi AND dmax >= lo THEN n ELSE 0 END)
            AS BIGINT) AS rows_scanned,
       CAST(m.rows_matching AS BIGINT) AS rows_matching
FROM zm CROSS JOIN m
GROUP BY layout, m.rows_matching"""

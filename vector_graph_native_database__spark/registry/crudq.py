"""CRUD-as-batch queries (SURVEY §2.1 sinks) with oracle emulation.

Each query applies a fixed deterministic mutation batch to the
engine-model tables and returns the resulting state (or a cascade
witness), so the DuckDB oracle can replay the same transition in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import crud
from ..session import local_frame
from ..sources import embeddings_df
from .common import ORACLE_PRELUDE, model


def q_node_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert: replace node '0', insert 'n-a'/'n-b' (create=upsert,
    app.py:131-134)."""
    nodes, _, _ = model(spark, sf_dir)
    batch = local_frame(
        spark,
        [
            ("0", "replaced text zero", "en", "src0"),
            ("n-a", "brand new node a", "de", "src1"),
            ("n-b", "brand new node b", "fr", "src2"),
        ],
        "id string, text string, lang string, source string",
    )
    return crud.upsert(
        nodes.select("id", "text", "lang", "source"), batch, "id"
    )


def q_node_update_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial update: NULL keeps the old value (app.py:139-161)."""
    nodes, _, _ = model(spark, sf_dir)
    changes = local_frame(
        spark,
        [("1", "updated text one", None), ("2", None, "zz")],
        "id string, text string, lang string",
    )
    return crud.update_partial(
        nodes.select("id", "text", "lang", "source"),
        changes,
        "id",
        ["text", "lang"],
    )


def q_embedding_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replace node-0's vector with node-1's; add one for 'n-a'."""
    from ..functions import l2_norm

    _, emb, _ = model(spark, sf_dir)
    src = embeddings_df(spark, sf_dir)
    batch = (
        src.filter(F.col("node_id") == "1")
        .select(F.lit("0").alias("node_id"), "vector", "dim")
        .unionByName(
            src.filter(F.col("node_id") == "2").select(
                F.lit("n-a").alias("node_id"), "vector", "dim"
            )
        )
    )
    return crud.upsert(emb, batch, "node_id").select(
        "node_id", "dim", F.round(l2_norm("vector"), 6).alias("norm")
    )


def q_edge_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append with FK validation: rows with a missing endpoint are
    rejected (app.py:843-846)."""
    nodes, _, edges = model(spark, sf_dir)
    batch = local_frame(
        spark,
        [
            ("x-1", "3", "5", "related", 1.5),
            ("x-2", "3", "999999", "related", 1.0),  # missing dst
            ("x-3", "999998", "4", "related", 1.0),  # missing src
        ],
        "id string, src string, dst string, type string, weight double",
    )
    return crud.edge_insert_validated(edges, nodes, batch)


def q_edge_update_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update weight keep type / update type keep weight (app.py:288-308)."""
    _, _, edges = model(spark, sf_dir)
    changes = local_frame(
        spark,
        [("e-0-1", None, 9.9), ("e-1-2", "revised", None)],
        "id string, type string, weight double",
    )
    return crud.update_partial(edges, changes, "id", ["type", "weight"])


def q_node_delete_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete node '1'; witness = remaining rows among ids 0/1/2 and
    their incident edges, tagged by kind (proves all three cascades)."""
    nodes, emb, edges = model(spark, sf_dir)
    dels = local_frame(spark, [("1",)], "id string")
    n2, e2, ed2 = crud.node_delete_cascade(nodes, emb, edges, dels)
    probe = ["0", "1", "2"]
    return (
        n2.filter(F.col("id").isin(probe))
        .select(F.lit("node").alias("kind"), F.col("id").alias("key"))
        .unionByName(
            e2.filter(F.col("node_id").isin(probe)).select(
                F.lit("embedding").alias("kind"),
                F.col("node_id").alias("key"),
            )
        )
        .unionByName(
            ed2.filter(
                F.col("src").isin(probe) | F.col("dst").isin(probe)
            ).select(F.lit("edge").alias("kind"), F.col("id").alias("key"))
        )
    )


def q_edge_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, edges = model(spark, sf_dir)
    dels = local_frame(spark, [("e-0-1",), ("e-2-3",)], "id string")
    return crud.edge_delete(edges, dels)


QUERIES = {
    "node_upsert": q_node_upsert,
    "node_update_partial": q_node_update_partial,
    "embedding_upsert": q_embedding_upsert,
    "edge_insert": q_edge_insert,
    "edge_update_partial": q_edge_update_partial,
    "node_delete_cascade": q_node_delete_cascade,
    "edge_delete": q_edge_delete,
}

_UPSERT_BATCH = """(VALUES
  ('0', 'replaced text zero', 'en', 'src0'),
  ('n-a', 'brand new node a', 'de', 'src1'),
  ('n-b', 'brand new node b', 'fr', 'src2')) AS b(id, text, lang, source)"""

ORACLES = {
    "node_upsert": ORACLE_PRELUDE
    + f"""
SELECT n.id, n.text, n.lang, n.source FROM nodes n
WHERE NOT EXISTS (SELECT 1 FROM {_UPSERT_BATCH} WHERE b.id = n.id)
UNION ALL
SELECT * FROM {_UPSERT_BATCH}""",
    "node_update_partial": ORACLE_PRELUDE
    + """,
chg AS (
  SELECT * FROM (VALUES
    ('1', 'updated text one', CAST(NULL AS VARCHAR)),
    ('2', CAST(NULL AS VARCHAR), 'zz')) AS c(id, text, lang)
)
SELECT n.id,
       coalesce(c.text, n.text) AS text,
       coalesce(c.lang, n.lang) AS lang,
       n.source
FROM nodes n LEFT JOIN chg c ON c.id = n.id""",
    "embedding_upsert": ORACLE_PRELUDE
    + """,
batch AS (
  SELECT '0' AS node_id, vector, dim FROM emb WHERE node_id = '1'
  UNION ALL
  SELECT 'n-a', vector, dim FROM emb WHERE node_id = '2'
),
merged AS (
  SELECT e.node_id, e.vector, e.dim FROM emb e
  WHERE NOT EXISTS (SELECT 1 FROM batch b WHERE b.node_id = e.node_id)
  UNION ALL
  SELECT node_id, vector, dim FROM batch
)
SELECT node_id, dim,
       round(sqrt(list_dot_product(CAST(vector AS DOUBLE[]),
                                   CAST(vector AS DOUBLE[]))), 6) AS norm
FROM merged""",
    "edge_insert": ORACLE_PRELUDE
    + """,
batch AS (
  SELECT * FROM (VALUES
    ('x-1', '3', '5', 'related', 1.5),
    ('x-2', '3', '999999', 'related', 1.0),
    ('x-3', '999998', '4', 'related', 1.0))
    AS b(id, src, dst, type, weight)
)
SELECT id, src, dst, type, CAST(weight AS DOUBLE) AS weight FROM edges
UNION ALL
SELECT id, src, dst, type, CAST(weight AS DOUBLE) AS weight FROM batch b
WHERE EXISTS (SELECT 1 FROM nodes n WHERE n.id = b.src)
  AND EXISTS (SELECT 1 FROM nodes n WHERE n.id = b.dst)""",
    "edge_update_partial": ORACLE_PRELUDE
    + """,
chg AS (
  SELECT * FROM (VALUES
    ('e-0-1', CAST(NULL AS VARCHAR), 9.9),
    ('e-1-2', 'revised', CAST(NULL AS DOUBLE)))
    AS c(id, type, weight)
)
SELECT e.id, e.src, e.dst,
       coalesce(c.type, e.type) AS type,
       CAST(coalesce(c.weight, e.weight) AS DOUBLE) AS weight
FROM edges e LEFT JOIN chg c ON c.id = e.id""",
    "node_delete_cascade": ORACLE_PRELUDE
    + """
SELECT 'node' AS kind, id AS key FROM nodes
WHERE id IN ('0', '2')
UNION ALL
SELECT 'embedding', node_id FROM emb
WHERE node_id IN ('0', '2')
UNION ALL
SELECT 'edge', id FROM edges
WHERE (src IN ('0', '1', '2') OR dst IN ('0', '1', '2'))
  AND src <> '1' AND dst <> '1'""",
    "edge_delete": ORACLE_PRELUDE
    + """
SELECT id, src, dst, type, weight FROM edges
WHERE id NOT IN ('e-0-1', 'e-2-3')""",
}

"""Round-3 enrichment wave: PII scrubbing, boilerplate detection,
winnowing fingerprints, count-min heavy hitters, and Bloom semi-join
pruning — the data-curation / scan-pruning operators a 100 TB
training-data pipeline layers on top of the dedup/quality families.

Oracle notes:
- The PII entry AUGMENTS the fixture text with deterministic
  synthetic PII (doc_id-derived emails / IPv4s / phone numbers) so
  the detector has real positives to find at every scale; both
  engines apply the identical augmentation expression.
- Winnowing's min-with-rightmost-tie window rule is encoded as one
  integer key (hash·w + reversed offset) so a plain ``min()``
  aggregate implements it identically in Spark and DuckDB — no
  argmin/min_by tie semantics to disagree over.
- The CMS and Bloom entries use the same md5-derived hash family as
  the dedup/LSH/KMV/HLL operators: both engines compute bit-identical
  counters/bit-positions, so even the "approximate" outputs get the
  full value-hash check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketch import bloom_semi_join_stats, cms_heavy_hitters
from ..operators.text_analysis import (
    PII_PATTERNS,
    boilerplate_ngrams,
    pii_scrub,
    winnowing_fingerprint,
)
from .common import ORACLE_PRELUDE, SQL_TOKENS, model

_H60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

_TOKS = f""",
toks AS (
  SELECT id, {SQL_TOKENS.format(col='text')} AS t
  FROM nodes
)"""

BOILER_K = 3
BOILER_MIN_DOCS = 5
WINNOW_K = 4
WINNOW_W = 4
WINNOW_MOD = 1 << 44
CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_TOPN = 20
BLOOM_M = 2048
BLOOM_K = 3
BLOOM_ACCTBAL = 7000.0


def _augment_pii(nodes: DataFrame) -> DataFrame:
    """Deterministic synthetic-PII augmentation (Spark side). The SQL
    twin is _SQL_PII_AUG — keep the two in lockstep."""
    did = F.col("id").cast("long")
    return nodes.select(
        "id",
        F.concat(
            F.col("text"),
            F.when(
                did % 10 == 0,
                F.concat(
                    F.lit(" contact user"), F.col("id"), F.lit("@example.com")
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit(" host 10.0."),
                    (did % 256).cast("string"),
                    F.lit(".1"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 13 == 0,
                F.concat(
                    F.lit(" call 555-010-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


_SQL_PII_AUG = """,
aug AS (
  SELECT id,
         text
         || CASE WHEN CAST(id AS BIGINT) % 10 = 0
                 THEN ' contact user' || id || '@example.com' ELSE '' END
         || CASE WHEN CAST(id AS BIGINT) % 7 = 0
                 THEN ' host 10.0.'
                      || CAST(CAST(id AS BIGINT) % 256 AS VARCHAR) || '.1'
                 ELSE '' END
         || CASE WHEN CAST(id AS BIGINT) % 13 = 0
                 THEN ' call 555-010-'
                      || lpad(CAST(CAST(id AS BIGINT) % 10000 AS VARCHAR),
                              4, '0')
                 ELSE '' END AS text
  FROM nodes
)"""


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    return pii_scrub(_augment_pii(nodes))


def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    return boilerplate_ngrams(
        nodes, k=BOILER_K, min_docs=BOILER_MIN_DOCS
    )


def q_doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    return winnowing_fingerprint(nodes, k=WINNOW_K, w=WINNOW_W)


def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    return cms_heavy_hitters(
        nodes, depth=CMS_DEPTH, width=CMS_WIDTH, top_n=CMS_TOPN
    )


def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return bloom_semi_join_stats(
        customer.filter(F.col("c_acctbal") > BLOOM_ACCTBAL),
        orders,
        "c_custkey",
        "o_custkey",
        m_bits=BLOOM_M,
        k_hashes=BLOOM_K,
    )


QUERIES = {
    "text_pii_scrub": q_text_pii_scrub,
    "text_boilerplate": q_text_boilerplate,
    "doc_winnowing": q_doc_winnowing,
    "heavy_hitters_cms": q_heavy_hitters_cms,
    "bloom_semi_join": q_bloom_semi_join,
}

_EMAIL = PII_PATTERNS["email"]
_IPV4 = PII_PATTERNS["ipv4"]
_PHONE = PII_PATTERNS["phone"]


_WINNOW_CTES = (
    _TOKS
    + f""",
grams AS (
  SELECT id, i.i - 1 AS p, len(t) - {WINNOW_K - 1} AS g,
         {_H60.format(x="t[i.i] || ' ' || t[i.i + 1] || ' ' || t[i.i + 2] || ' ' || t[i.i + 3]")}
           % {WINNOW_MOD} AS hmod
  FROM toks
  CROSS JOIN LATERAL
    (SELECT unnest(generate_series(1, len(t) - {WINNOW_K - 1})) AS i) i
  WHERE len(t) >= {WINNOW_K}),
wins AS (
  SELECT id, p, hmod, wz.ws
  FROM grams
  CROSS JOIN LATERAL
    (SELECT unnest(generate_series(
       greatest(0, p - {WINNOW_W - 1}),
       least(p, greatest(0, g - {WINNOW_W})))) AS ws) wz),
picks AS (
  SELECT id, ws,
         min(hmod * {WINNOW_W} + (ws + {WINNOW_W - 1} - p)) AS key
  FROM wins GROUP BY id, ws),
fps AS MATERIALIZED (
  SELECT DISTINCT id,
         ws + {WINNOW_W - 1} - (key % {WINNOW_W}) AS pos,
         key // {WINNOW_W} AS fp
  FROM picks)"""
)

ORACLES = {
    "text_pii_scrub": ORACLE_PRELUDE
    + _SQL_PII_AUG
    + f"""
SELECT id,
       len(regexp_extract_all(text, '{_EMAIL}')) AS n_emails,
       len(regexp_extract_all(text, '{_IPV4}')) AS n_ipv4,
       len(regexp_extract_all(text, '{_PHONE}')) AS n_phones,
       md5(regexp_replace(
             regexp_replace(
               regexp_replace(text, '{_EMAIL}', '<EMAIL>', 'g'),
               '{_IPV4}', '<IP>', 'g'),
             '{_PHONE}', '<PHONE>', 'g')) AS clean_hash
FROM aug""",
    "text_boilerplate": ORACLE_PRELUDE
    + _TOKS
    + f""",
sh AS (
  SELECT id, unnest(list_distinct(
    CASE WHEN len(t) >= {BOILER_K}
    THEN list_transform(generate_series(1, len(t) - {BOILER_K - 1}),
                        i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])
    ELSE CAST([] AS VARCHAR[]) END)) AS shingle
  FROM toks),
freq AS (SELECT shingle, count(*) AS df_cnt FROM sh GROUP BY shingle),
per_doc AS (
  SELECT s.id, count(*) AS n_shingles,
         sum(CASE WHEN f.df_cnt >= {BOILER_MIN_DOCS} THEN 1 ELSE 0 END)
           AS n_boiler
  FROM sh s JOIN freq f ON f.shingle = s.shingle
  GROUP BY s.id)
SELECT n.id,
       CAST(COALESCE(p.n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(COALESCE(p.n_boiler, 0) AS BIGINT) AS n_boiler,
       CASE WHEN COALESCE(p.n_shingles, 0) > 0
            THEN floor(p.n_boiler * 1.0 / p.n_shingles * 1000000.0 + 0.5)
                 / 1000000.0
            ELSE 0.0 END AS boiler_ratio
FROM nodes n LEFT JOIN per_doc p ON p.id = n.id""",
    "doc_winnowing": ORACLE_PRELUDE
    + _WINNOW_CTES
    + """
SELECT id, pos, fp FROM fps""",
    "heavy_hitters_cms": ORACLE_PRELUDE
    + _TOKS
    + f""",
alltok AS (SELECT unnest(t) AS tok FROM toks),
exact AS (SELECT tok, count(*) AS exact_cnt FROM alltok GROUP BY tok),
vb AS (
  SELECT e.tok, e.exact_cnt, d.d,
         {_H60.format(x="'cms' || CAST(d.d AS VARCHAR) || '|' || e.tok")}
           % {CMS_WIDTH} AS b
  FROM exact e
  CROSS JOIN (SELECT unnest(generate_series(0, {CMS_DEPTH - 1})) AS d) d),
counters AS (SELECT d, b, sum(exact_cnt) AS cnt FROM vb GROUP BY d, b),
cand AS (SELECT tok FROM exact
         ORDER BY exact_cnt DESC, tok ASC LIMIT {CMS_TOPN})
SELECT v.tok, v.exact_cnt, CAST(min(c.cnt) AS BIGINT) AS est_cnt
FROM vb v
JOIN cand q ON q.tok = v.tok
JOIN counters c ON c.d = v.d AND c.b = v.b
GROUP BY v.tok, v.exact_cnt""",
    "bloom_semi_join": f"""
WITH keys AS (
  SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k
  FROM customer WHERE c_acctbal > {BLOOM_ACCTBAL}),
build_pos AS (
  SELECT DISTINCT
         {_H60.format(x="'bloom' || CAST(j.j AS VARCHAR) || '|' || k.k")}
           % {BLOOM_M} AS pos
  FROM keys k
  CROSS JOIN (SELECT unnest(generate_series(0, {BLOOM_K - 1})) AS j) j),
pk AS (SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders
       WHERE o_custkey IS NOT NULL),
pkd AS (SELECT DISTINCT k FROM pk),
probe_pos AS (
  SELECT p.k, j.j,
         {_H60.format(x="'bloom' || CAST(j.j AS VARCHAR) || '|' || p.k")}
           % {BLOOM_M} AS pos
  FROM pkd p
  CROSS JOIN (SELECT unnest(generate_series(0, {BLOOM_K - 1})) AS j) j),
passes AS (
  SELECT pp.k FROM probe_pos pp
  JOIN build_pos b ON b.pos = pp.pos
  GROUP BY pp.k HAVING count(DISTINCT pp.j) = {BLOOM_K}),
flags AS (
  SELECT p.k,
         EXISTS (SELECT 1 FROM passes s WHERE s.k = p.k) AS pass_bloom,
         EXISTS (SELECT 1 FROM keys t WHERE t.k = p.k) AS true_match
  FROM pkd p)
SELECT CAST(count(*) AS BIGINT) AS n_probe,
       CAST(sum(CASE WHEN f.pass_bloom THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_bloom,
       CAST(sum(CASE WHEN f.true_match THEN 1 ELSE 0 END) AS BIGINT) AS n_true_match,
       CAST(sum(CASE WHEN f.pass_bloom AND NOT f.true_match
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
       floor(sum(CASE WHEN f.pass_bloom AND NOT f.true_match
                      THEN 1.0 ELSE 0.0 END) / count(*)
             * 1000000.0 + 0.5) / 1000000.0 AS fp_rate
FROM pk JOIN flags f ON f.k = pk.k""",
}


WINNOW_MIN_SHARED = 3
HAMMING_K = 10
HAMMING_DIM = 64


def q_dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_analysis import winnowing_pairs

    nodes, _, _ = model(spark, sf_dir)
    return winnowing_pairs(
        nodes, k=WINNOW_K, w=WINNOW_W, min_shared=WINNOW_MIN_SHARED
    )


def q_ann_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ann import binary_hamming_topk
    from .pipelineq import ANN_QUERY_IDS

    _, emb, _ = model(spark, sf_dir)
    return binary_hamming_topk(
        emb, ANN_QUERY_IDS, k=HAMMING_K, dim=HAMMING_DIM
    )


QUERIES["dedup_winnowing_pairs"] = q_dedup_winnowing_pairs
QUERIES["ann_binary_hamming_topk"] = q_ann_binary_hamming_topk

ORACLES["dedup_winnowing_pairs"] = (
    ORACLE_PRELUDE
    + _WINNOW_CTES
    + f""",
sizes AS (SELECT id, count(*) AS n_fp FROM fps GROUP BY id),
shared AS (
  SELECT a.id AS id_a, b.id AS id_b, count(DISTINCT a.fp) AS shared
  FROM (SELECT DISTINCT id, fp FROM fps) a
  JOIN (SELECT DISTINCT id, fp FROM fps) b
    ON a.fp = b.fp AND a.id < b.id
  GROUP BY a.id, b.id
  HAVING count(DISTINCT a.fp) >= {WINNOW_MIN_SHARED})
SELECT s.id_a, s.id_b, CAST(s.shared AS BIGINT) AS shared,
       floor(s.shared * 1.0 / least(x.n_fp, y.n_fp)
             * 1000000.0 + 0.5) / 1000000.0 AS overlap
FROM shared s
JOIN sizes x ON x.id = s.id_a
JOIN sizes y ON y.id = s.id_b"""
)


def _sign_word_sql(lo: int, n: int) -> str:
    return (
        f"CAST(list_sum(list_transform(generate_series(1, {n}), "
        f"i -> CASE WHEN vector[{lo} + i] > 0 "
        f"THEN (CAST(1 AS BIGINT) << (i - 1)) "
        f"ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
    )


ORACLES["ann_binary_hamming_topk"] = (
    ORACLE_PRELUDE
    + f""",
packed AS MATERIALIZED (
  SELECT node_id,
         {_sign_word_sql(0, HAMMING_DIM // 2)} AS w0,
         {_sign_word_sql(HAMMING_DIM // 2, HAMMING_DIM - HAMMING_DIM // 2)} AS w1
  FROM emb WHERE len(vector) = {HAMMING_DIM}),
q AS (SELECT node_id AS qid, w0 AS q0, w1 AS q1 FROM packed
      WHERE node_id IN ('0', '100', '200', '300', '400')),
scored AS (
  SELECT q.qid, p.node_id AS id,
         bit_count(xor(p.w0, q.q0)) + bit_count(xor(p.w1, q.q1)) AS hamming
  FROM packed p, q WHERE p.node_id <> q.qid),
ranked AS (
  SELECT qid, id, hamming,
         row_number() OVER (PARTITION BY qid
                            ORDER BY hamming ASC, id ASC) AS rnk
  FROM scored)
SELECT qid, id, hamming, rnk FROM ranked WHERE rnk <= {HAMMING_K}"""
)


def q_cms_incremental_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end proof that streaming CMS counter maintenance merges
    to the batch sketch: the corpus replays as THREE disjoint
    micro-batches (crc32(id) mod 3) through the real foreachBatch
    machinery, each batch's constant-size partial counters sum-merged
    into the transactional state store; the final heavy-hitter
    estimates from the MAINTAINED counters must hash-equal the
    single-pass batch CMS (the ``heavy_hitters_cms`` oracle — it
    knows nothing about batches, so one dropped batch, double merge,
    or stale snapshot fails the value check)."""
    from ..streaming.ingest import incremental_cms_maintenance
    from ..operators.sketch import cms_estimate_heavy_hitters
    from .common import replay_batches

    nodes, _, _ = model(spark, sf_dir)
    docs = nodes.select("id", "text")
    part = F.pmod(F.crc32(F.col("id")), F.lit(3))
    counters = replay_batches(
        spark,
        "cms_incremental",
        [docs.filter(part == i) for i in range(3)],
        "id string, text string",
        incremental_cms_maintenance,
        depth=CMS_DEPTH,
        width=CMS_WIDTH,
    )
    return cms_estimate_heavy_hitters(
        docs,
        counters,
        depth=CMS_DEPTH,
        width=CMS_WIDTH,
        top_n=CMS_TOPN,
    )


QUERIES["cms_incremental_equiv"] = q_cms_incremental_equiv
ORACLES["cms_incremental_equiv"] = ORACLES["heavy_hitters_cms"]


RERANK_CANDIDATES = 50


def q_ann_binary_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ann import binary_rerank_topk
    from .pipelineq import ANN_QUERY_IDS

    _, emb, _ = model(spark, sf_dir)
    return binary_rerank_topk(
        emb,
        ANN_QUERY_IDS,
        k=HAMMING_K,
        n_candidates=RERANK_CANDIDATES,
        dim=HAMMING_DIM,
        round_scores=6,
    )


QUERIES["ann_binary_rerank_topk"] = q_ann_binary_rerank_topk

_HAMMING_CTES = f""",
packed AS MATERIALIZED (
  SELECT node_id,
         {_sign_word_sql(0, HAMMING_DIM // 2)} AS w0,
         {_sign_word_sql(HAMMING_DIM // 2, HAMMING_DIM - HAMMING_DIM // 2)} AS w1
  FROM emb WHERE len(vector) = {HAMMING_DIM}),
hq AS (SELECT node_id AS qid, w0 AS q0, w1 AS q1 FROM packed
       WHERE node_id IN ('0', '100', '200', '300', '400')),
hscored AS (
  SELECT hq.qid, p.node_id AS id,
         bit_count(xor(p.w0, hq.q0)) + bit_count(xor(p.w1, hq.q1)) AS hamming
  FROM packed p, hq WHERE p.node_id <> hq.qid),
hranked AS MATERIALIZED (
  SELECT qid, id, hamming,
         row_number() OVER (PARTITION BY qid
                            ORDER BY hamming ASC, id ASC) AS rnk
  FROM hscored)"""

ORACLES["ann_binary_rerank_topk"] = (
    ORACLE_PRELUDE
    + _HAMMING_CTES
    + f""",
cand AS (SELECT qid, id FROM hranked WHERE rnk <= {RERANK_CANDIDATES}),
qv AS (SELECT node_id AS qid, vector AS qvec FROM emb
       WHERE node_id IN ('0', '100', '200', '300', '400')),
rescored AS (
  SELECT c.qid, c.id,
         round(CASE WHEN na > 0 AND nb > 0 THEN d / (na * nb) ELSE 0.0 END, 6)
           AS cos
  FROM cand c
  JOIN emb e ON e.node_id = c.id
  JOIN qv ON qv.qid = c.qid
  CROSS JOIN LATERAL (
    SELECT list_dot_product(CAST(e.vector AS DOUBLE[]),
                            CAST(qv.qvec AS DOUBLE[])) AS d,
           sqrt(list_dot_product(CAST(e.vector AS DOUBLE[]),
                                 CAST(e.vector AS DOUBLE[]))) AS na,
           sqrt(list_dot_product(CAST(qv.qvec AS DOUBLE[]),
                                 CAST(qv.qvec AS DOUBLE[]))) AS nb
  ) t)
SELECT qid, id, cos, rnk FROM (
  SELECT qid, id, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rnk
  FROM rescored
) WHERE rnk <= {HAMMING_K}"""
)

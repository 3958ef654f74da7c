"""Training-data-pipeline queries: dedup, ANN, text analysis.

These are the beyond-the-reference operators (BASELINE.json north
star). Every one has a full DuckDB oracle — including MinHash-LSH and
sign-projection LSH, whose hashes are md5-derived specifically so
both engines compute identical buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import ann, dedup, text_analysis
from .common import ORACLE_PRELUDE, SQL_NORMALIZED, SQL_TOKENS, model

ANN_QUERY_IDS = ["0", "100", "200", "300", "400"]

# The batched-serving query set (round 5): 2× the canonical set, for
# the train-once / answer-many IVF-PQ deployment entry.
ANN_MULTI_QUERY_IDS = [
    "0", "50", "100", "150", "200", "250", "300", "350", "400", "450",
]


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    return dedup.exact_dedup_groups(nodes)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    # banding + verify serve from the staged shingle/signature index
    # (one tokenize+sign per (sf_dir, params), shared across the
    # whole MinHash family — minhash_index_stage)
    idx = dedup.minhash_index_stage(spark, nodes, sf_dir)
    return dedup.minhash_lsh_dedup(
        nodes, threshold=0.8, index=idx
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    sim = dedup.simhash_values(nodes)
    return dedup.simhash_near_pairs(sim, max_hamming=3)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    sh3 = dedup.shingle_stage(spark, nodes, sf_dir, k=3)
    return dedup.ngram_jaccard_pairs(
        nodes, k=3, threshold=0.8, sh=sh3
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, emb, _ = model(spark, sf_dir)
    return dedup.embedding_cosine_pairs(emb, threshold=0.4).select(
        "id_a", "id_b", F.round("cos", 6).alias("cos")
    )


def q_dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, emb, _ = model(spark, sf_dir)
    return dedup.embedding_cosine_pairs_lsh(emb, threshold=0.4).select(
        "id_a", "id_b", F.round("cos", 6).alias("cos")
    )


def q_dedup_embedding_cosine_multiprobe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hamming-1 multi-probe variant of dedup_embedding_cosine_lsh:
    near-dup pairs whose buckets differ in at most one sign bit —
    strictly more recall than the single-probe bucket join at
    (P+1)× the bounded candidate cost."""
    _, emb, _ = model(spark, sf_dir)
    return dedup.embedding_cosine_pairs_multiprobe(
        emb, threshold=0.4
    ).select("id_a", "id_b", F.round("cos", 6).alias("cos"))


def q_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, emb, _ = model(spark, sf_dir)
    return ann.brute_topk(emb, ANN_QUERY_IDS, k=10, round_scores=6)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, emb, _ = model(spark, sf_dir)
    return ann.lsh_bucketed_topk(
        emb, ANN_QUERY_IDS, k=5, num_planes=8, dim=64, round_scores=6
    )


def q_ann_mllib_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH ANN, VALUE-CHECKED via
    recall/containment invariants → one row per query:
    (qid, nn_id, nn_dist, nn_rank_ml, n_returned, n_dist_mismatch).

    MLlib's internal hash family has no SQL twin, so the raw top-k
    can only be rows-checked; instead this entry emits what a DuckDB
    oracle CAN verify exactly:

    - ``nn_id`` / ``nn_dist`` — the TRUE Euclidean nearest neighbor
      per query, from ``brute_topk_euclidean`` (pure SQL-expressible
      arithmetic; fully value-checked).
    - ``nn_rank_ml`` — the rank of that true NN inside MLlib's top-k.
      The oracle asserts 1: containment of the exact NN (the recall
      invariant), and since MLlib ranks candidates by exact distance,
      a contained NN is necessarily rank 1.
    - ``n_returned`` — MLlib rows for the query; oracle asserts k.
    - ``n_dist_mismatch`` — MLlib candidate distances that disagree
      with an independent exact recomputation at 6dp; oracle asserts
      0 (proves distCol is the genuine Euclidean distance).

    A drop in MLlib recall (fixed seed ⇒ deterministic) now fails the
    value gate instead of passing a rows-only check. The same recall
    bound is pytest-asserted in tests/test_pipeline.py.
    """
    k = 5
    _, emb, _ = model(spark, sf_dir)
    # staged: the MLlib candidate frame feeds two consumers (distance
    # recheck + rank lookup) under different exchanges — without
    # materialization the approxSimilarityJoin subtree would execute
    # twice (the dominant cost of this entry)
    ml = ann.mllib_lsh_topk(emb, ANN_QUERY_IDS, k=k, dim=64).localCheckpoint(
        eager=True
    )
    nn = ann.brute_topk_euclidean(emb, ANN_QUERY_IDS, k=1)

    # exact recomputation of each MLlib pair's distance: two
    # broadcast joins of the tiny (|queries|·k) candidate frame
    # against the embeddings scan — never a shuffle of emb itself
    qv = emb.select(F.col("node_id").alias("qid"), F.col("vector").alias("qv"))
    cv = emb.select(F.col("node_id").alias("id"), F.col("vector").alias("cv"))
    p1 = qv.join(F.broadcast(ml), "qid")
    p2 = cv.join(F.broadcast(p1), "id")
    d2 = F.aggregate(
        F.zip_with(
            "cv",
            "qv",
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    checked = p2.withColumn(
        "mism", (F.round(F.sqrt(d2), 6) != F.col("dist")).cast("int")
    )
    mlagg = checked.groupBy("qid").agg(
        F.count("*").alias("n_returned"),
        F.sum("mism").alias("n_dist_mismatch"),
    )
    mlr = ml.select(
        F.col("qid").alias("m_qid"),
        F.col("id").alias("m_id"),
        F.col("rnk").alias("m_rnk"),
    )
    return (
        nn.join(
            mlr,
            (nn["qid"] == mlr["m_qid"]) & (nn["id"] == mlr["m_id"]),
            "left",
        )
        .select(
            "qid",
            F.col("id").alias("nn_id"),
            F.col("dist").alias("nn_dist"),
            F.coalesce(F.col("m_rnk"), F.lit(-1)).alias("nn_rank_ml"),
        )
        .join(mlagg, "qid")
    )


def q_ann_multiprobe_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-1 multi-probe variant of ann_lsh_topk: same planes,
    same ranking, but candidates come from the query's bucket plus
    all single-bit-flip buckets — the recall dial single-probe LSH
    lacks. Probe sequence is a pure function of the bucket, so the
    DuckDB twin replays it exactly."""
    _, emb, _ = model(spark, sf_dir)
    return ann.lsh_multiprobe_topk(
        emb, ANN_QUERY_IDS, k=5, num_planes=8, dim=64, round_scores=6
    )


def staged_ivf_index(spark, sf_dir, emb=None):
    """The ONE staged IVF index the whole standard family serves from
    (C=8, iters=2, dim=64 — the parameters every ann_ivf_* entry and
    recall eval shares). First caller per (sf_dir, params) trains and
    writes the cidx-partitioned scratch parquet; every later caller —
    ann_ivf_topk, ann_ivf_filtered_topk, cell stats, both nprobe
    sweeps — is a partition-prunable parquet read. Same deterministic
    build, so every oracle is unchanged."""
    if emb is None:
        _, emb, _ = model(spark, sf_dir)
    return ann.ivf_index_stage(
        spark, emb, sf_dir, n_centroids=8, iters=2, dim=64
    )


def staged_pq_index(spark, sf_dir, emb=None, residual=False):
    """The ONE staged PQ tier (coarse C=8/iters=2 shared with the IVF
    family's staged index; m=4, ksub=16 — the parameters every PQ
    entry shares). First caller per (sf_dir, params) trains the
    codebooks and writes the cidx-partitioned codes parquet; every
    later caller — ann_pq_topk, ann_ivfpq_topk/staged/multi, the
    residual variant, ann_tier_report's PQ tiers — is a
    partition-prunable parquet read. Same deterministic build, so
    every oracle is unchanged."""
    if emb is None:
        _, emb, _ = model(spark, sf_dir)
    return ann.pq_index_stage(
        spark, emb, sf_dir, n_centroids=8, iters=2, m=4, ksub=16,
        dim=64, residual=residual,
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, emb, _ = model(spark, sf_dir)
    return ann.ivf_topk(
        emb, ANN_QUERY_IDS, k=5, nprobe=2,
        dim=64, round_scores=6,
        index=staged_ivf_index(spark, sf_dir, emb),
    )


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, emb, _ = model(spark, sf_dir)
    _, _, cb, codes = staged_pq_index(spark, sf_dir, emb)
    return ann.pq_topk(
        emb, ANN_QUERY_IDS, k=5, m=4, ksub=16, iters=2, dim=64,
        index=(cb, codes),
    )


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF-PQ tier: coarse cells prune WHICH rows a query
    touches (nprobe of n_centroids inverted lists — partition pruning
    at deployment scale), PQ codes shrink WHAT a touched row costs
    (m bytes vs dim floats, ADC lookups). Serves from the SHARED
    staged PQ index (one coarse + one PQ training per sf_dir, codes
    parquet partitioned by coarse cell → a probe is a
    partition-pruned read); the full index build still replays
    bit-for-bit in the DuckDB twin, which knows nothing about the
    staging."""
    _, emb, _ = model(spark, sf_dir)
    return ann.ivfpq_topk(
        emb, ANN_QUERY_IDS, k=5, n_centroids=8, iters=2, nprobe=2,
        m=4, ksub=16, dim=64,
        index=staged_pq_index(spark, sf_dir, emb),
    )


def q_ann_ivfpq_staged_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployment shape of ann_ivfpq_topk with the index build costed
    IN-PLAN: the four index frames (coarse centroids, cell
    assignments, PQ codebooks, PQ codes) are eagerly checkpointed
    inside this entry's own run — the build-side twin of the
    read-from-parquet serving entry, kept so the bench prices what a
    (re)build of the staged tier costs, not just the amortized
    serve. Byte-identical results; same oracle as the serving
    entry."""
    _, emb, _ = model(spark, sf_dir)
    return ann.ivfpq_topk(
        emb, ANN_QUERY_IDS, k=5, n_centroids=8, iters=2, nprobe=2,
        m=4, ksub=16, dim=64, stage_index=True,
    )


def q_ann_ivfpq_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amortized multi-query IVF-PQ serving (round 5, the BM25
    `bm25_topk_multi` argument made for vectors): train the index ONCE
    — both Lloyd runs staged eagerly — then answer 10 queries in the
    same plan. Training cost is per-corpus, probe+ADC cost is
    per-query; doubling the query set over ann_ivfpq_topk adds only
    the per-query part, so BENCH per-query cost lands well under the
    cold entry's (the staged frames are shared, the probes/tables
    frames stay |queries|-sized broadcasts). Same oracle chain as
    ann_ivfpq_topk with the 10-id query set."""
    _, emb, _ = model(spark, sf_dir)
    return ann.ivfpq_topk(
        emb, ANN_MULTI_QUERY_IDS, k=5, n_centroids=8, iters=2, nprobe=2,
        m=4, ksub=16, dim=64,
        index=staged_pq_index(spark, sf_dir, emb),
    )


def q_ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k over the int8-quantized embedding tier —
    proves the 4×-compressed store is searchable without
    dequantization (scales cancel in the cosine ratio)."""
    _, emb, _ = model(spark, sf_dir)
    return ann.brute_topk_int8(emb, ANN_QUERY_IDS, k=10)


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    return text_analysis.lang_id(nodes)


def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    return text_analysis.quality_score(nodes)


def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    return text_analysis.token_counts(nodes)


def q_text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    return text_analysis.repetition_stats(nodes)


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    return text_analysis.vocab_topk(nodes, k=100)


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    return text_analysis.tfidf_top_terms(nodes, k=3)


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    return text_analysis.doc_fingerprint(nodes)


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "dedup_embedding_cosine_lsh": q_dedup_embedding_cosine_lsh,
    "dedup_embedding_cosine_multiprobe": q_dedup_embedding_cosine_multiprobe,
    "ann_brute_topk": q_ann_brute_topk,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_multiprobe_lsh_topk": q_ann_multiprobe_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_pq_topk": q_ann_pq_topk,
    "ann_ivfpq_topk": q_ann_ivfpq_topk,
    "ann_ivfpq_staged_topk": q_ann_ivfpq_staged_topk,
    "ann_ivfpq_multi": q_ann_ivfpq_multi,
    "ann_mllib_lsh_topk": q_ann_mllib_lsh_topk,
    "ann_int8_topk": q_ann_int8_topk,
    "text_lang_id": q_text_lang_id,
    "text_quality_score": q_text_quality_score,
    "text_token_count": q_text_token_count,
    "text_gopher_quality": q_text_gopher_quality,
    "vocab_topk": q_vocab_topk,
    "tfidf_top_terms": q_tfidf_top_terms,
    "doc_fingerprint": q_doc_fingerprint,
}

# ---------------------------------------------------------------------------
# oracle SQL
# ---------------------------------------------------------------------------


def _ivf_ctes(
    n_centroids: int = 8, iters: int = 2, nprobe: int = 2, x: str = "",
    ids_in: str | None = None, train_where: str | None = None,
) -> str:
    """The IVF index-build CTE chain (unrolled Lloyd iterations —
    c0 = seed centroids, a{t} = assignment, c{t} = rounded
    element-wise means — then final centroids {x}cf, assignment
    {x}af, queries {x}q, probe lists {x}probes). ``x`` prefixes every
    CTE name so the chain can compose with the PQ chain in one
    statement (_ivfpq_sql). Mirrors operators.ann.ivf_topk exactly,
    including the round-to-6dp centroid stabilization.
    ``train_where`` (a predicate over {x}e's columns) restricts the
    TRAINING corpus — seeds and Lloyd rounds — while the final
    assignment/serving still covers all of {x}e: the stale-index
    shape of ann_ivf_stale_recall."""
    dist = (
        "t.vv + c.cc - 2 * list_dot_product(t.v, c.cvec)"
    )
    tr = f"{x}tr" if train_where else f"{x}e"
    train_cte = (
        f""",
{x}tr AS (SELECT * FROM {x}e WHERE {train_where})"""
        if train_where
        else ""
    )
    parts = [
        f""",
{x}e AS (
  SELECT node_id AS id, CAST(vector AS DOUBLE[]) AS v,
         list_dot_product(CAST(vector AS DOUBLE[]),
                          CAST(vector AS DOUBLE[])) AS vv
  FROM emb WHERE len(vector) = 64
){train_cte},
{x}c0 AS (
  SELECT row_number() OVER (ORDER BY CAST(id AS BIGINT)) - 1 AS cidx,
         v AS cvec
  FROM {tr} ORDER BY CAST(id AS BIGINT) LIMIT {n_centroids}
)"""
    ]
    for t in range(1, iters + 1):
        p = t - 1
        parts.append(
            f""",
{x}a{t} AS (
  SELECT id, cidx FROM (
    SELECT t.id, c.cidx,
           row_number() OVER (PARTITION BY t.id
                              ORDER BY {dist}, c.cidx) AS rn
    FROM {tr} t CROSS JOIN
         (SELECT cidx, cvec, list_dot_product(cvec, cvec) AS cc
          FROM {x}c{p}) c
  ) WHERE rn = 1
),
{x}c{t} AS (
  SELECT cidx, list(m ORDER BY pos) AS cvec FROM (
    SELECT a.cidx, p.pos, round(avg(e.v[p.pos]), 6) AS m
    FROM {x}a{t} a JOIN {x}e e ON e.id = a.id
    CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) p
    GROUP BY a.cidx, p.pos
  ) GROUP BY cidx
)"""
        )
    parts.append(
        f""",
{x}cf AS (SELECT cidx, cvec, list_dot_product(cvec, cvec) AS cc
          FROM {x}c{iters}),
{x}af AS (
  SELECT id, cidx FROM (
    SELECT t.id, c.cidx,
           row_number() OVER (PARTITION BY t.id
                              ORDER BY {dist}, c.cidx) AS rn
    FROM {x}e t CROSS JOIN {x}cf c
  ) WHERE rn = 1
),
{x}q AS (SELECT id AS qid, v AS qv, vv FROM {x}e
         WHERE id IN {ids_in or _IDS_IN}),
{x}probes AS (
  SELECT qid, qv, cidx FROM (
    SELECT t.qid, t.qv, c.cidx,
           row_number() OVER (
             PARTITION BY t.qid
             ORDER BY t.vv + c.cc - 2 * list_dot_product(t.qv, c.cvec),
                      c.cidx) AS rn
    FROM {x}q t CROSS JOIN {x}cf c
  ) WHERE rn <= {nprobe}
)"""
    )
    return "".join(parts)


def _ivf_sql(
    n_centroids: int = 8, iters: int = 2, nprobe: int = 2, k: int = 5,
    train_where: str | None = None,
) -> str:
    """Full IVF oracle: the CTE chain plus the exact-cosine rescan of
    the probed lists."""
    final = f"""
,cand AS (
  SELECT p.qid, a.id,
         round(CASE WHEN na > 0 AND nb > 0 THEN d / (na * nb)
               ELSE 0.0 END, 6) AS cos
  FROM af a JOIN probes p ON p.cidx = a.cidx AND a.id <> p.qid
  JOIN e ON e.id = a.id
  CROSS JOIN LATERAL (
    SELECT list_dot_product(e.v, p.qv) AS d,
           sqrt(list_dot_product(e.v, e.v)) AS na,
           sqrt(list_dot_product(p.qv, p.qv)) AS nb
  ) t
)
SELECT qid, id, cos, rnk FROM (
  SELECT qid, id, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rnk
  FROM cand
) WHERE rnk <= {k}"""
    return (
        ORACLE_PRELUDE
        + _ivf_ctes(n_centroids, iters, nprobe, train_where=train_where)
        + final
    )


def _pq_ctes(
    m: int = 4, ksub: int = 16, iters: int = 2, dim: int = 64,
    src: str = "emb", id_col: str = "node_id", vec_col: str = "vector",
    ids_in: str | None = None,
) -> str:
    """The PQ index-build CTE chain — per-subspace Lloyd training
    (same seed rule, 6dp centroid rounding, and argmin tie-break as
    the IVF chain), ending with final codebooks ``cf``, byte codes
    ``codes``, query subvectors ``q``, and per-query ADC tables
    ``tbl``. Composable with a prefixed IVF chain (_ivfpq_sql)."""
    sub = dim // m
    dist = "t.vv + c.cc - 2 * list_dot_product(t.sv, c.cvec)"
    parts = [
        f""",
es AS (
  SELECT {id_col} AS id, CAST({vec_col} AS DOUBLE[]) AS v
  FROM {src} WHERE len({vec_col}) = {dim}
),
e AS (
  SELECT id, s.sm AS sm,
         list_slice(v, s.sm * {sub} + 1, s.sm * {sub} + {sub}) AS sv,
         list_dot_product(list_slice(v, s.sm * {sub} + 1,
                                     s.sm * {sub} + {sub}),
                          list_slice(v, s.sm * {sub} + 1,
                                     s.sm * {sub} + {sub})) AS vv
  FROM es CROSS JOIN
       (SELECT unnest(generate_series(0, {m - 1})) AS sm) s
),
c0 AS (
  SELECT sm, rn - 1 AS cidx, sv AS cvec FROM (
    SELECT sm, sv,
           row_number() OVER (PARTITION BY sm
                              ORDER BY CAST(id AS BIGINT)) AS rn
    FROM e
  ) WHERE rn <= {ksub}
)"""
    ]
    for t in range(1, iters + 1):
        p = t - 1
        parts.append(
            f""",
a{t} AS (
  SELECT id, sm, cidx FROM (
    SELECT t.id, t.sm, c.cidx,
           row_number() OVER (PARTITION BY t.id, t.sm
                              ORDER BY {dist}, c.cidx) AS rn
    FROM e t JOIN (SELECT sm, cidx, cvec,
                          list_dot_product(cvec, cvec) AS cc
                   FROM c{p}) c ON c.sm = t.sm
  ) WHERE rn = 1
),
c{t} AS (
  SELECT sm, cidx, list(mv ORDER BY pos) AS cvec FROM (
    SELECT a.sm, a.cidx, p.pos, round(avg(e.sv[p.pos]), 6) AS mv
    FROM a{t} a JOIN e ON e.id = a.id AND e.sm = a.sm
    CROSS JOIN (SELECT unnest(generate_series(1, {sub})) AS pos) p
    GROUP BY a.sm, a.cidx, p.pos
  ) GROUP BY sm, cidx
)"""
        )
    parts.append(
        f""",
cf AS (SELECT sm, cidx, cvec, list_dot_product(cvec, cvec) AS cc
       FROM c{iters}),
codes AS (
  SELECT id, sm, cidx AS code FROM (
    SELECT t.id, t.sm, c.cidx,
           row_number() OVER (PARTITION BY t.id, t.sm
                              ORDER BY {dist}, c.cidx) AS rn
    FROM e t JOIN cf c ON c.sm = t.sm
  ) WHERE rn = 1
),
q AS (SELECT id AS qid, sm, sv AS qsv, vv AS qvv FROM e
      WHERE id IN {ids_in or _IDS_IN}),
tbl AS (
  SELECT q.qid, q.sm, c.cidx,
         q.qvv + c.cc - 2 * list_dot_product(q.qsv, c.cvec) AS d
  FROM q JOIN cf c ON c.sm = q.sm
)"""
    )
    return "".join(parts)


def _adc_select(m: int, k: int, cand: str = "cand") -> str:
    """Ranked ADC output: explicit left-to-right partial-distance sum
    (matching the Spark side's sorted fold from 0.0, bit-identical
    IEEE) over a candidate CTE providing (qid, id, ds)."""
    chain = " + ".join(f"ds[{i + 1}]" for i in range(m))
    return f"""
SELECT qid, id, adist, rnk FROM (
  SELECT qid, id,
         floor(({chain}) * 1000000.0 + 0.5) / 1000000.0 AS adist,
         row_number() OVER (
           PARTITION BY qid
           ORDER BY floor(({chain}) * 1000000.0 + 0.5) / 1000000.0,
                    id) AS rnk
  FROM {cand}
) WHERE rnk <= {k}"""


def _pq_sql(
    m: int = 4, ksub: int = 16, iters: int = 2, k: int = 5, dim: int = 64
) -> str:
    """Full PQ oracle: the CTE chain + all-corpus ADC scan."""
    return (
        ORACLE_PRELUDE
        + _pq_ctes(m, ksub, iters, dim)
        + """,
cand AS (
  SELECT t.qid, s.id, list(t.d ORDER BY s.sm) AS ds
  FROM codes s JOIN tbl t ON t.sm = s.sm AND t.cidx = s.code
  WHERE s.id <> t.qid
  GROUP BY t.qid, s.id
)"""
        + _adc_select(m, k)
    )


def _ivfpq_sql(
    n_centroids: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    m: int = 4,
    ksub: int = 16,
    k: int = 5,
    dim: int = 64,
    ids_in: str | None = None,
) -> str:
    """Composed IVF-PQ oracle: the prefixed IVF chain supplies the
    probed candidate set (ivaf × ivprobes); the PQ chain supplies
    codes and ADC tables; candidates are ADC-ranked only within the
    probed cells — the same composition operators.ann.ivfpq_topk
    executes."""
    return (
        ORACLE_PRELUDE
        + _ivf_ctes(n_centroids, iters, nprobe, x="iv", ids_in=ids_in)
        + _pq_ctes(m, ksub, iters, dim, ids_in=ids_in)
        + """,
sel AS (
  SELECT p.qid, a.id
  FROM ivaf a JOIN ivprobes p ON p.cidx = a.cidx
  WHERE a.id <> p.qid
),
cand AS (
  SELECT t.qid, s.id, list(t.d ORDER BY s.sm) AS ds
  FROM codes s
  JOIN sel x ON x.id = s.id
  JOIN tbl t ON t.qid = x.qid AND t.sm = s.sm AND t.cidx = s.code
  GROUP BY t.qid, s.id
)"""
        + _adc_select(m, k)
    )


_TOKS = f""",
toks AS (
  SELECT id, {SQL_TOKENS.format(col='text')} AS t
  FROM nodes
)"""


def _sh_cte(k: int, name: str) -> str:
    parts = " || ' ' || ".join(f"t[i + {j}]" for j in range(k))
    return f""",
{name} AS (
  SELECT id, unnest(list_distinct(
    CASE WHEN len(t) >= {k}
    THEN list_transform(generate_series(1, len(t) - {k - 1}), i -> {parts})
    ELSE CAST([] AS VARCHAR[]) END)) AS shingle
  FROM toks
)"""


_H60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

_COS = """CASE WHEN na > 0 AND nb > 0 THEN d / (na * nb) ELSE 0.0 END"""

_IDS_IN = "('" + "', '".join(ANN_QUERY_IDS) + "')"

ORACLES = {
    "dedup_exact": ORACLE_PRELUDE
    + """
SELECT md5(text) AS text_hash, count(*) AS cnt, min(id) AS keeper_id
FROM nodes GROUP BY md5(text) HAVING count(*) > 1""",
    "dedup_minhash_lsh": ORACLE_PRELUDE
    + _TOKS
    + _sh_cte(2, "sh")
    + f""",
perms AS (SELECT unnest(generate_series(0, 11)) AS perm),
mh AS (
  SELECT s.id, p.perm,
         min({_H60.format(x="p.perm || '|' || s.shingle")}) AS minhash
  FROM sh s CROSS JOIN perms p GROUP BY s.id, p.perm
),
banded AS (
  SELECT id, perm // 4 AS band,
         string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY perm) AS sig
  FROM mh GROUP BY id, perm // 4
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
),
sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN sh x ON x.id = c.id_a
  JOIN sh y ON y.id = c.id_b AND y.shingle = x.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       round(i.i * 1.0 / (a.n + b.n - i.i), 6) AS jaccard
FROM inter i JOIN sizes a ON a.id = i.id_a JOIN sizes b ON b.id = i.id_b
WHERE i.i * 1.0 / (a.n + b.n - i.i) >= 0.8""",
    "dedup_simhash": ORACLE_PRELUDE
    + _TOKS
    + f""",
tf AS (
  SELECT id, tok, count(*) AS tf
  FROM (SELECT id, unnest(t) AS tok FROM toks) GROUP BY id, tok
),
th AS (SELECT id, tok, tf, {_H60.format(x='tok')} AS h FROM tf),
bits AS (
  SELECT id, b.b, sum(tf * (((h >> b.b) & 1) * 2 - 1)) AS s
  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) b
  GROUP BY id, b.b
),
sim AS (
  SELECT n.id, coalesce(x.simhash, 0) AS simhash
  FROM nodes n LEFT JOIN (
    SELECT id, sum(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0 END) AS simhash
    FROM bits GROUP BY id
  ) x ON x.id = n.id
),
chunks AS (
  SELECT id, simhash, c.c, (simhash >> (c.c * 15)) & 32767 AS v
  FROM sim CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS c) c
),
cand AS (
  SELECT DISTINCT a.id AS id_a, a.simhash AS ha, b.id AS id_b, b.simhash AS hb
  FROM chunks a JOIN chunks b ON a.c = b.c AND a.v = b.v AND a.id < b.id
)
SELECT id_a, id_b, bit_count(xor(ha, hb)) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 3""",
    "dedup_ngram_jaccard": ORACLE_PRELUDE
    + _TOKS
    + _sh_cte(3, "sh3")
    + """,
sizes AS (SELECT id, count(*) AS n FROM sh3 GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
  FROM sh3 a JOIN sh3 b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT i.id_a, i.id_b,
       round(i.c * 1.0 / (x.n + y.n - i.c), 6) AS jaccard
FROM inter i JOIN sizes x ON x.id = i.id_a JOIN sizes y ON y.id = i.id_b
WHERE i.c * 1.0 / (x.n + y.n - i.c) >= 0.8""",
    "dedup_embedding_cosine": ORACLE_PRELUDE
    + f"""
SELECT id_a, id_b, round({_COS}, 6) AS cos
FROM (
  SELECT a.node_id AS id_a, b.node_id AS id_b,
         list_dot_product(CAST(a.vector AS DOUBLE[]),
                          CAST(b.vector AS DOUBLE[])) AS d,
         sqrt(list_dot_product(CAST(a.vector AS DOUBLE[]),
                               CAST(a.vector AS DOUBLE[]))) AS na,
         sqrt(list_dot_product(CAST(b.vector AS DOUBLE[]),
                               CAST(b.vector AS DOUBLE[]))) AS nb
  FROM emb a JOIN emb b ON a.dim = b.dim AND a.node_id < b.node_id
)
WHERE {_COS} >= 0.4""",
    "dedup_embedding_cosine_lsh": ORACLE_PRELUDE
    + f""",
planes AS (
  SELECT p.p,
         list_transform(generate_series(0, 63), d ->
           (('0x' || substr(md5('p' || p.p || 'd' || d), 1, 8))::BIGINT
            % 2001 - 1000) / 1000.0) AS w
  FROM (SELECT unnest(generate_series(0, 7)) AS p) p
),
proj AS (
  SELECT e.node_id, e.dim, p.p,
         list_dot_product(CAST(e.vector AS DOUBLE[]), p.w) AS proj
  FROM emb e CROSS JOIN planes p
  WHERE len(e.vector) = 64
),
buck AS (
  SELECT node_id, dim,
         sum(CASE WHEN proj >= 0 THEN 1::BIGINT << p ELSE 0 END) AS bucket
  FROM proj GROUP BY node_id, dim
),
be AS (
  SELECT b.node_id, b.bucket, e.vector
  FROM buck b JOIN emb e ON e.node_id = b.node_id AND e.dim = b.dim
)
SELECT id_a, id_b, round({_COS}, 6) AS cos
FROM (
  SELECT a.node_id AS id_a, b.node_id AS id_b,
         list_dot_product(CAST(a.vector AS DOUBLE[]),
                          CAST(b.vector AS DOUBLE[])) AS d,
         sqrt(list_dot_product(CAST(a.vector AS DOUBLE[]),
                               CAST(a.vector AS DOUBLE[]))) AS na,
         sqrt(list_dot_product(CAST(b.vector AS DOUBLE[]),
                               CAST(b.vector AS DOUBLE[]))) AS nb
  FROM be a JOIN be b ON a.bucket = b.bucket AND a.node_id < b.node_id
)
WHERE {_COS} >= 0.4""",
    "dedup_embedding_cosine_multiprobe": ORACLE_PRELUDE
    + f""",
planes AS (
  SELECT p.p,
         list_transform(generate_series(0, 63), d ->
           (('0x' || substr(md5('p' || p.p || 'd' || d), 1, 8))::BIGINT
            % 2001 - 1000) / 1000.0) AS w
  FROM (SELECT unnest(generate_series(0, 7)) AS p) p
),
proj AS (
  SELECT e.node_id, e.dim, p.p,
         list_dot_product(CAST(e.vector AS DOUBLE[]), p.w) AS proj
  FROM emb e CROSS JOIN planes p
  WHERE len(e.vector) = 64
),
buck AS (
  SELECT node_id, dim,
         sum(CASE WHEN proj >= 0 THEN 1::BIGINT << p ELSE 0 END) AS bucket
  FROM proj GROUP BY node_id, dim
),
be AS (
  SELECT b.node_id, b.bucket, e.vector
  FROM buck b JOIN emb e ON e.node_id = b.node_id AND e.dim = b.dim
),
probes AS (
  SELECT b.node_id, b.vector,
         CASE WHEN pp.p < 0 THEN b.bucket
              ELSE xor(b.bucket, 1::BIGINT << pp.p) END AS pb
  FROM be b CROSS JOIN (SELECT unnest(generate_series(-1, 7)) AS p) pp
)
SELECT id_a, id_b, round({_COS}, 6) AS cos
FROM (
  SELECT a.node_id AS id_a, b.node_id AS id_b,
         list_dot_product(CAST(a.vector AS DOUBLE[]),
                          CAST(b.vector AS DOUBLE[])) AS d,
         sqrt(list_dot_product(CAST(a.vector AS DOUBLE[]),
                               CAST(a.vector AS DOUBLE[]))) AS na,
         sqrt(list_dot_product(CAST(b.vector AS DOUBLE[]),
                               CAST(b.vector AS DOUBLE[]))) AS nb
  FROM probes a JOIN be b ON b.bucket = a.pb AND a.node_id < b.node_id
)
WHERE {_COS} >= 0.4""",
    "ann_brute_topk": ORACLE_PRELUDE
    + f""",
q AS (SELECT node_id AS qid, vector AS qvec, dim FROM emb
      WHERE node_id IN {_IDS_IN}),
scored AS (
  SELECT q.qid, e.node_id AS id,
         round(CASE WHEN na > 0 AND nb > 0 THEN d / (na * nb) ELSE 0.0 END, 6)
           AS cos
  FROM emb e JOIN q ON e.dim = q.dim AND e.node_id <> q.qid
  CROSS JOIN LATERAL (
    SELECT list_dot_product(CAST(e.vector AS DOUBLE[]),
                            CAST(q.qvec AS DOUBLE[])) AS d,
           sqrt(list_dot_product(CAST(e.vector AS DOUBLE[]),
                                 CAST(e.vector AS DOUBLE[]))) AS na,
           sqrt(list_dot_product(CAST(q.qvec AS DOUBLE[]),
                                 CAST(q.qvec AS DOUBLE[]))) AS nb
  ) t
)
SELECT qid, id, cos, rnk FROM (
  SELECT qid, id, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rnk
  FROM scored
) WHERE rnk <= 10""",
    "ann_lsh_topk": ORACLE_PRELUDE
    + f""",
planes AS (
  SELECT p.p,
         list_transform(generate_series(0, 63), d ->
           (('0x' || substr(md5('p' || p.p || 'd' || d), 1, 8))::BIGINT
            % 2001 - 1000) / 1000.0) AS w
  FROM (SELECT unnest(generate_series(0, 7)) AS p) p
),
proj AS (
  SELECT e.node_id, e.dim, p.p,
         list_dot_product(CAST(e.vector AS DOUBLE[]), p.w) AS proj
  FROM emb e CROSS JOIN planes p
),
buck AS (
  SELECT node_id, dim,
         sum(CASE WHEN proj >= 0 THEN 1::BIGINT << p ELSE 0 END) AS bucket
  FROM proj GROUP BY node_id, dim
),
be AS (
  SELECT b.node_id, b.bucket, b.dim, e.vector
  FROM buck b JOIN emb e ON e.node_id = b.node_id AND e.dim = b.dim
),
q AS (SELECT node_id AS qid, vector AS qvec, bucket AS qb FROM be
      WHERE node_id IN {_IDS_IN}),
cand AS (
  SELECT q.qid, e.node_id AS id,
         round(CASE WHEN na > 0 AND nb > 0 THEN d / (na * nb) ELSE 0.0 END, 6)
           AS cos
  FROM be e JOIN q ON e.bucket = q.qb AND e.node_id <> q.qid
  CROSS JOIN LATERAL (
    SELECT list_dot_product(CAST(e.vector AS DOUBLE[]),
                            CAST(q.qvec AS DOUBLE[])) AS d,
           sqrt(list_dot_product(CAST(e.vector AS DOUBLE[]),
                                 CAST(e.vector AS DOUBLE[]))) AS na,
           sqrt(list_dot_product(CAST(q.qvec AS DOUBLE[]),
                                 CAST(q.qvec AS DOUBLE[]))) AS nb
  ) t
)
SELECT qid, id, cos, rnk FROM (
  SELECT qid, id, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rnk
  FROM cand
) WHERE rnk <= 5""",
    "ann_multiprobe_lsh_topk": ORACLE_PRELUDE
    + f""",
planes AS (
  SELECT p.p,
         list_transform(generate_series(0, 63), d ->
           (('0x' || substr(md5('p' || p.p || 'd' || d), 1, 8))::BIGINT
            % 2001 - 1000) / 1000.0) AS w
  FROM (SELECT unnest(generate_series(0, 7)) AS p) p
),
proj AS (
  SELECT e.node_id, e.dim, p.p,
         list_dot_product(CAST(e.vector AS DOUBLE[]), p.w) AS proj
  FROM emb e CROSS JOIN planes p
),
buck AS (
  SELECT node_id, dim,
         sum(CASE WHEN proj >= 0 THEN 1::BIGINT << p ELSE 0 END) AS bucket
  FROM proj GROUP BY node_id, dim
),
be AS (
  SELECT b.node_id, b.bucket, b.dim, e.vector
  FROM buck b JOIN emb e ON e.node_id = b.node_id AND e.dim = b.dim
),
q AS (SELECT node_id AS qid, vector AS qvec, bucket AS qb FROM be
      WHERE node_id IN {_IDS_IN}),
probes AS (
  SELECT q.qid, q.qvec,
         CASE WHEN pp.p < 0 THEN q.qb
              ELSE xor(q.qb, 1::BIGINT << pp.p) END AS pb
  FROM q CROSS JOIN (SELECT unnest(generate_series(-1, 7)) AS p) pp
),
cand AS (
  SELECT pr.qid, e.node_id AS id,
         round(CASE WHEN na > 0 AND nb > 0 THEN d / (na * nb) ELSE 0.0 END, 6)
           AS cos
  FROM be e JOIN probes pr ON e.bucket = pr.pb AND e.node_id <> pr.qid
  CROSS JOIN LATERAL (
    SELECT list_dot_product(CAST(e.vector AS DOUBLE[]),
                            CAST(pr.qvec AS DOUBLE[])) AS d,
           sqrt(list_dot_product(CAST(e.vector AS DOUBLE[]),
                                 CAST(e.vector AS DOUBLE[]))) AS na,
           sqrt(list_dot_product(CAST(pr.qvec AS DOUBLE[]),
                                 CAST(pr.qvec AS DOUBLE[]))) AS nb
  ) t
)
SELECT qid, id, cos, rnk FROM (
  SELECT qid, id, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rnk
  FROM cand
) WHERE rnk <= 5""",
    "ann_ivf_topk": _ivf_sql(),
    "ann_pq_topk": _pq_sql(),
    "ann_ivfpq_topk": _ivfpq_sql(),
    # staging changes the physical plan only — same result contract
    "ann_ivfpq_staged_topk": _ivfpq_sql(),
    "ann_ivfpq_multi": _ivfpq_sql(
        ids_in="('" + "', '".join(ANN_MULTI_QUERY_IDS) + "')"
    ),
    # The exact-NN frame (qid, nn_id, nn_dist) is real data-dependent
    # SQL; the three invariant columns assert MLlib's behavior: true
    # NN contained at rank 1, exactly k rows back, zero distance
    # discrepancies. Any recall regression breaks the value hash.
    "ann_mllib_lsh_topk": ORACLE_PRELUDE
    + f""",
q AS (SELECT node_id AS qid, CAST(vector AS DOUBLE[]) AS qv, dim
      FROM emb WHERE node_id IN {_IDS_IN}),
d AS (
  SELECT q.qid, e.node_id AS id,
         floor(sqrt(list_dot_product(df, df)) * 1000000.0 + 0.5)
           / 1000000.0 AS dist
  FROM emb e JOIN q ON e.dim = q.dim AND e.node_id <> q.qid
  CROSS JOIN LATERAL (
    SELECT list_transform(generate_series(1, q.dim),
                          i -> CAST(e.vector AS DOUBLE[])[i] - q.qv[i]) AS df
  ) t
)
SELECT qid, id AS nn_id, dist AS nn_dist,
       1 AS nn_rank_ml, 5 AS n_returned, 0 AS n_dist_mismatch
FROM (
  SELECT qid, id, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
  FROM d
) WHERE rn = 1""",
    "ann_int8_topk": ORACLE_PRELUDE
    + f""",
dv AS (
  SELECT node_id, dim,
         CASE WHEN s = 0 THEN list_transform(v, x -> 0.0)
              ELSE list_transform(v, x -> floor(x * 127.0 / s + 0.5)) END
           AS qv
  FROM (SELECT node_id, dim, CAST(vector AS DOUBLE[]) AS v,
               list_max(list_transform(CAST(vector AS DOUBLE[]),
                                       x -> abs(x))) AS s
        FROM emb)
),
q8 AS (SELECT node_id AS qid, qv AS qq, dim FROM dv
       WHERE node_id IN {_IDS_IN}),
cand8 AS (
  SELECT q.qid, e.node_id AS id,
         floor((CASE WHEN na > 0 AND nb > 0 THEN d / (na * nb)
                ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS cos
  FROM dv e JOIN q8 q ON e.dim = q.dim AND e.node_id <> q.qid
  CROSS JOIN LATERAL (
    SELECT list_dot_product(e.qv, q.qq) AS d,
           sqrt(list_dot_product(e.qv, e.qv)) AS na,
           sqrt(list_dot_product(q.qq, q.qq)) AS nb
  ) t
)
SELECT qid, id, cos, rnk FROM (
  SELECT qid, id, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rnk
  FROM cand8
) WHERE rnk <= 10""",
    "text_lang_id": ORACLE_PRELUDE
    + _TOKS
    + """,
hits AS (
  SELECT id,
    len(list_intersect(list_distinct(t), ['the','a','of','and','to'])) AS h_en,
    len(list_intersect(list_distinct(t), ['el','la','de','y','que'])) AS h_es,
    len(list_intersect(list_distinct(t), ['le','la','de','et','les'])) AS h_fr,
    len(list_intersect(list_distinct(t), ['der','die','das','und','zu'])) AS h_de
  FROM toks
)
SELECT id,
  CASE WHEN greatest(h_en, h_es, h_fr, h_de) = 0 THEN 'und'
       WHEN h_en = greatest(h_en, h_es, h_fr, h_de) THEN 'en'
       WHEN h_es = greatest(h_en, h_es, h_fr, h_de) THEN 'es'
       WHEN h_fr = greatest(h_en, h_es, h_fr, h_de) THEN 'fr'
       ELSE 'de' END AS guessed_lang
FROM hits""",
    "text_quality_score": ORACLE_PRELUDE
    + _TOKS
    + """,
stats AS (
  SELECT id, len(t) AS n_tok,
         CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
           AS total_chars,
         len(list_filter(t, x -> list_contains(
           ['a','and','das','de','der','die','el','et','la','le','les',
            'of','que','the','to','und','y','zu'], x))) AS stop_hits
  FROM toks
)
SELECT id, n_tok AS n_tokens,
  floor((CASE WHEN n_tok > 0 THEN stop_hits * 1.0 / n_tok ELSE 0.0 END)
        * 1000000.0 + 0.5) / 1000000.0 AS stop_ratio,
  floor((CASE WHEN n_tok > 0 THEN
    0.4 * least(1.0, n_tok / 100.0)
    + 0.3 * (1.0 - least(1.0, abs(total_chars / n_tok - 5) / 5.0))
    + 0.3 * (stop_hits * 1.0 / n_tok)
  ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS quality
FROM stats""",
    "text_token_count": ORACLE_PRELUDE
    + _TOKS
    + r"""
SELECT n.id, len(t.t) AS ws_tokens,
       len(regexp_extract_all(n.text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
         AS subword_tokens,
       length(n.text) AS n_chars
FROM nodes n JOIN toks t ON t.id = n.id""",
    "vocab_topk": ORACLE_PRELUDE
    + _TOKS
    + """,
posting AS (
  SELECT id, tok, count(*) AS tf
  FROM (SELECT id, unnest(t) AS tok FROM toks)
  GROUP BY id, tok
),
vocab AS (
  SELECT tok, sum(tf) AS cnt, count(*) AS df FROM posting GROUP BY tok
)
SELECT rnk, tok, cnt, df FROM (
  SELECT CAST(row_number() OVER (ORDER BY cnt DESC, tok ASC) AS INT) AS rnk,
         tok, CAST(cnt AS BIGINT) AS cnt, df
  FROM vocab
) WHERE rnk <= 100""",
    "tfidf_top_terms": ORACLE_PRELUDE
    + _TOKS
    + """,
posting AS (
  SELECT id, tok, count(*) AS tf
  FROM (SELECT id, unnest(t) AS tok FROM toks)
  GROUP BY id, tok
),
nd AS (SELECT count(*) AS n FROM nodes),
dfq AS (SELECT tok, count(*) AS df FROM posting GROUP BY tok)
SELECT id, rnk, tok, tfidf FROM (
  SELECT p.id, p.tok,
         floor((p.tf * ln(nd.n * 1.0 / d.df)) * 1000000.0 + 0.5)
           / 1000000.0 AS tfidf,
         row_number() OVER (
           PARTITION BY p.id
           ORDER BY floor((p.tf * ln(nd.n * 1.0 / d.df)) * 1000000.0 + 0.5)
                    / 1000000.0 DESC,
                    p.tok ASC) AS rnk
  FROM posting p JOIN dfq d ON d.tok = p.tok CROSS JOIN nd
) WHERE rnk <= 3""",
    "text_gopher_quality": ORACLE_PRELUDE
    + _TOKS
    + r""",
m AS (
  SELECT n.id,
         len(t.t) AS n,
         CASE WHEN len(t.t) >= 2
              THEN list_transform(generate_series(1, len(t.t) - 1),
                                  i -> t.t[i] || ' ' || t.t[i + 1])
              ELSE []::VARCHAR[] END AS bigrams,
         CASE WHEN len(t.t) > 0
              THEN list_max(list_transform(list_distinct(t.t),
                   w -> len(list_filter(t.t, x -> x = w))))
              ELSE 0 END AS top_cnt,
         length(regexp_replace(n.text, '[A-Za-z0-9 ]', '', 'g')) AS n_sym
  FROM nodes n JOIN toks t ON t.id = n.id
),
r AS (
  SELECT id,
    floor((CASE WHEN len(bigrams) > 0
           THEN 1.0 - len(list_distinct(bigrams)) * 1.0 / len(bigrams)
           ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS dup_bigram_frac,
    floor((CASE WHEN n > 0 THEN top_cnt * 1.0 / n ELSE 0.0 END)
          * 1000000.0 + 0.5) / 1000000.0 AS top_tok_frac,
    floor((CASE WHEN n > 0 THEN n_sym * 1.0 / n ELSE 0.0 END)
          * 1000000.0 + 0.5) / 1000000.0 AS symbol_ratio
  FROM m
)
SELECT id, dup_bigram_frac, top_tok_frac, symbol_ratio,
       (dup_bigram_frac > 0.2 OR top_tok_frac > 0.2 OR symbol_ratio > 0.5)
         AS flagged
FROM r""",
    "doc_fingerprint": ORACLE_PRELUDE
    + _TOKS
    + _sh_cte(2, "sh")
    + f""",
agg AS (
  SELECT id, min({_H60.format(x='shingle')}) AS fingerprint,
         count(*) AS n_shingles
  FROM sh GROUP BY id
)
SELECT n.id, coalesce(a.fingerprint, -1) AS fingerprint,
       coalesce(a.n_shingles, 0) AS n_shingles
FROM nodes n LEFT JOIN agg a ON a.id = n.id""",
}


RANGE_TAU = 0.25


def q_ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, emb, _ = model(spark, sf_dir)
    return ann.range_search(emb, ANN_QUERY_IDS, tau=RANGE_TAU)


QUERIES["ann_range_search"] = q_ann_range_search

ORACLES["ann_range_search"] = ORACLE_PRELUDE + f""",
q AS (SELECT node_id AS qid, vector AS qvec, dim FROM emb
      WHERE node_id IN {_IDS_IN}),
scored AS (
  SELECT q.qid, e.node_id AS id,
         floor((CASE WHEN na > 0 AND nb > 0 THEN d / (na * nb)
                     ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS cos
  FROM emb e JOIN q ON e.dim = q.dim AND e.node_id <> q.qid
  CROSS JOIN LATERAL (
    SELECT list_dot_product(CAST(e.vector AS DOUBLE[]),
                            CAST(q.qvec AS DOUBLE[])) AS d,
           sqrt(list_dot_product(CAST(e.vector AS DOUBLE[]),
                                 CAST(e.vector AS DOUBLE[]))) AS na,
           sqrt(list_dot_product(CAST(q.qvec AS DOUBLE[]),
                                 CAST(q.qvec AS DOUBLE[]))) AS nb
  ) t
)
SELECT qid, id, cos FROM scored WHERE cos >= {RANGE_TAU}"""


CONTAIN_K = 3
CONTAIN_TAU = 0.6


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    sh3 = dedup.shingle_stage(spark, nodes, sf_dir, k=CONTAIN_K)
    return dedup.containment_pairs(
        nodes, k=CONTAIN_K, threshold=CONTAIN_TAU, sh=sh3
    )


QUERIES["dedup_containment"] = q_dedup_containment

ORACLES["dedup_containment"] = (
    ORACLE_PRELUDE
    + _TOKS
    + _sh_cte(CONTAIN_K, "sh3")
    + f""",
sizes AS (SELECT id, count(*) AS n FROM sh3 GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
  FROM sh3 a JOIN sh3 b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b, containment FROM (
  SELECT i.id_a, i.id_b,
         floor(i.c * 1.0 / least(x.n, y.n) * 1000000.0 + 0.5)
           / 1000000.0 AS containment
  FROM inter i
  JOIN sizes x ON x.id = i.id_a
  JOIN sizes y ON y.id = i.id_b
) WHERE containment >= {CONTAIN_TAU}"""
)


def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, emb, _ = model(spark, sf_dir)
    return ann.kmeans_assign(
        emb, n_centroids=8, iters=2, dim=64,
        index=staged_ivf_index(spark, sf_dir, emb),
    )


QUERIES["embedding_kmeans"] = q_embedding_kmeans

# assignment + exact squared distance from the shared IVF CTE chain
ORACLES["embedding_kmeans"] = (
    ORACLE_PRELUDE
    + _ivf_ctes(8, 2, 2)
    + """
SELECT id, cluster, floor(dist * 1000000.0 + 0.5) / 1000000.0 AS dist
FROM (
  SELECT t.id, c.cidx AS cluster,
         t.vv + c.cc - 2 * list_dot_product(t.v, c.cvec) AS dist,
         row_number() OVER (
           PARTITION BY t.id
           ORDER BY t.vv + c.cc - 2 * list_dot_product(t.v, c.cvec),
                    c.cidx) AS rn
  FROM e t CROSS JOIN cf c
) WHERE rn = 1"""
)


def _ivfpq_residual_sql(
    n_centroids: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    m: int = 4,
    ksub: int = 16,
    k: int = 5,
    dim: int = 64,
) -> str:
    """Residual IVF-PQ oracle: the prefixed IVF chain, then the PQ
    chain retargeted (via ``src``) at the residual corpus
    ``x − centroid(cell(x))``, then per-(query, probed-cell) ADC
    tables built from the query's residual against that cell —
    the exact composition operators.ann.ivfpq_residual_topk runs."""
    sub = dim // m
    remb = f""",
remb AS MATERIALIZED (
  SELECT e.id AS node_id,
         list_transform(generate_series(1, {dim}),
                        i -> e.v[i] - c.cvec[i]) AS vector
  FROM ive e
  JOIN ivaf a ON a.id = e.id
  JOIN ivcf c ON c.cidx = a.cidx
)"""
    final = f""",
qres AS (
  SELECT p.qid, p.cidx AS cell,
         list_transform(generate_series(1, {dim}),
                        i -> p.qv[i] - c.cvec[i]) AS rv
  FROM ivprobes p JOIN ivcf c ON c.cidx = p.cidx
),
qsub AS (
  SELECT qid, cell, s.sm,
         list_slice(rv, s.sm * {sub} + 1, s.sm * {sub} + {sub}) AS qsv
  FROM qres CROSS JOIN
       (SELECT unnest(generate_series(0, {m - 1})) AS sm) s
),
rtbl AS MATERIALIZED (
  SELECT q.qid, q.cell, c.sm, c.cidx,
         list_dot_product(q.qsv, q.qsv) + c.cc
         - 2 * list_dot_product(q.qsv, c.cvec) AS d
  FROM qsub q JOIN cf c ON c.sm = q.sm
),
rsel AS (
  SELECT p.qid, p.cidx AS cell, a.id
  FROM ivaf a JOIN ivprobes p ON p.cidx = a.cidx
  WHERE a.id <> p.qid
),
cand AS (
  SELECT t.qid, s.id, list(t.d ORDER BY k.sm) AS ds
  FROM rsel s
  JOIN codes k ON k.id = s.id
  JOIN rtbl t ON t.qid = s.qid AND t.cell = s.cell
             AND t.sm = k.sm AND t.cidx = k.code
  GROUP BY t.qid, s.id
)"""
    return (
        ORACLE_PRELUDE
        + _ivf_ctes(n_centroids, iters, nprobe, x="iv")
        + remb
        + _pq_ctes(m, ksub, iters, dim, src="remb")
        + final
        + _adc_select(m, k)
    )


def q_ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, emb, _ = model(spark, sf_dir)
    return ann.ivfpq_residual_topk(
        emb, ANN_QUERY_IDS, k=5,
        index=staged_pq_index(spark, sf_dir, emb, residual=True),
    )


QUERIES["ann_ivfpq_residual_topk"] = q_ann_ivfpq_residual_topk
ORACLES["ann_ivfpq_residual_topk"] = _ivfpq_residual_sql()


def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    return text_analysis.zipf_fit(nodes, topn=200)


QUERIES["text_zipf_fit"] = q_text_zipf_fit
ORACLES["text_zipf_fit"] = ORACLE_PRELUDE + _TOKS + """,
vocab AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT id, unnest(t) AS tok FROM toks)
  GROUP BY tok
),
ranked AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, tok ASC) AS DOUBLE))
           AS x,
         ln(CAST(cnt AS DOUBLE)) AS y
  FROM vocab
  ORDER BY cnt DESC, tok ASC
  LIMIT 200
),
fit AS (
  SELECT count(*) AS n_terms,
         (count(*) * sum(x * y) - sum(x) * sum(y))
           / (count(*) * sum(x * x) - sum(x) * sum(x)) AS slope,
         sum(x) AS sx, sum(y) AS sy
  FROM ranked
)
SELECT n_terms,
       floor(slope * 1000000.0 + 0.5) / 1000000.0 AS slope,
       floor((sy - slope * sx) / n_terms * 1000000.0 + 0.5) / 1000000.0
         AS intercept
FROM fit"""


def q_ann_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, emb, _ = model(spark, sf_dir)
    return ann.matryoshka_rerank_topk(
        emb, ANN_QUERY_IDS, k=5, prefix_dim=16, candidates=20
    )


QUERIES["ann_matryoshka_topk"] = q_ann_matryoshka_topk
ORACLES["ann_matryoshka_topk"] = ORACLE_PRELUDE + f""",
q AS (SELECT node_id AS qid, vector AS qvec, dim FROM emb
      WHERE node_id IN {_IDS_IN}),
pre AS (
  SELECT q.qid, e.node_id AS id, e.vector, q.qvec,
         floor(CASE WHEN na > 0 AND nb > 0 THEN d / (na * nb)
                    ELSE 0.0 END * 1000000.0 + 0.5) / 1000000.0 AS pcos
  FROM emb e JOIN q ON e.dim = q.dim AND e.node_id <> q.qid
  CROSS JOIN LATERAL (
    SELECT list_dot_product(CAST(e.vector[1:16] AS DOUBLE[]),
                            CAST(q.qvec[1:16] AS DOUBLE[])) AS d,
           sqrt(list_dot_product(CAST(e.vector[1:16] AS DOUBLE[]),
                                 CAST(e.vector[1:16] AS DOUBLE[]))) AS na,
           sqrt(list_dot_product(CAST(q.qvec[1:16] AS DOUBLE[]),
                                 CAST(q.qvec[1:16] AS DOUBLE[]))) AS nb
  ) t
),
cand AS (
  SELECT qid, id, vector, qvec FROM (
    SELECT qid, id, vector, qvec,
           row_number() OVER (PARTITION BY qid
                              ORDER BY pcos DESC, id ASC) AS prnk
    FROM pre
  ) WHERE prnk <= 20
),
rer AS (
  SELECT c.qid, c.id,
         floor(CASE WHEN na > 0 AND nb > 0 THEN d / (na * nb)
                    ELSE 0.0 END * 1000000.0 + 0.5) / 1000000.0 AS cos
  FROM cand c
  CROSS JOIN LATERAL (
    SELECT list_dot_product(CAST(c.vector AS DOUBLE[]),
                            CAST(c.qvec AS DOUBLE[])) AS d,
           sqrt(list_dot_product(CAST(c.vector AS DOUBLE[]),
                                 CAST(c.vector AS DOUBLE[]))) AS na,
           sqrt(list_dot_product(CAST(c.qvec AS DOUBLE[]),
                                 CAST(c.qvec AS DOUBLE[]))) AS nb
  ) t
)
SELECT qid, id, cos, rnk FROM (
  SELECT qid, id, cos,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos DESC, id ASC) AS rnk
  FROM rer
) WHERE rnk <= 5"""


def q_corpus_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    return text_analysis.chunk_dup_stats(nodes, chunk_tokens=32)


QUERIES["corpus_chunk_dedup"] = q_corpus_chunk_dedup
# DuckDB lists are 1-based end-inclusive: t[a:b] == Spark
# slice(t, a, b-a+1); both truncate past the end.
ORACLES["corpus_chunk_dedup"] = ORACLE_PRELUDE + _TOKS + """,
chunks AS (
  SELECT id, md5(array_to_string(t[(j.j * 32 + 1):(j.j * 32 + 32)], ' ')) AS h
  FROM toks CROSS JOIN LATERAL (
    SELECT unnest(generate_series(
      0, CAST(ceil(len(t) / 32.0) AS INT) - 1)) AS j) j
  WHERE len(t) > 0
),
freq AS (SELECT h, count(*) AS cnt FROM chunks GROUP BY h),
per AS (
  SELECT id, count(*) AS n_chunks,
         sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS n_dup
  FROM chunks JOIN freq USING (h) GROUP BY id
)
SELECT n.id,
       CAST(coalesce(p.n_chunks, 0) AS BIGINT) AS n_chunks,
       CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup_chunks,
       floor(coalesce(p.n_dup * 1.0 / p.n_chunks, 0.0)
             * 1000000.0 + 0.5) / 1000000.0 AS dup_chunk_frac
FROM nodes n LEFT JOIN per p ON p.id = n.id"""


def q_text_bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    return text_analysis.bpe_first_merges(nodes, topn=20)


QUERIES["text_bpe_first_merges"] = q_text_bpe_first_merges
ORACLES["text_bpe_first_merges"] = ORACLE_PRELUDE + _TOKS + """,
pairs AS (
  SELECT substr(tk.tok, i.i, 2) AS pair
  FROM (SELECT unnest(t) AS tok FROM toks) tk
  CROSS JOIN LATERAL (
    SELECT unnest(generate_series(1, length(tk.tok) - 1)) AS i) i
  WHERE length(tk.tok) >= 2
),
counted AS (SELECT pair, count(*) AS n_pairs FROM pairs GROUP BY pair)
SELECT pair, n_pairs, rnk FROM (
  SELECT pair, n_pairs,
         CAST(row_number() OVER (ORDER BY n_pairs DESC, pair ASC) AS INT)
           AS rnk
  FROM counted
) WHERE rnk <= 20"""


def q_dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-exact-dedup SUMMARY → one row (n_docs,
    n_distinct_raw, n_distinct_norm, n_dup_docs_norm): distinct
    byte-identical hashes vs distinct NORMALIZED (lowercase,
    whitespace-collapsed, trimmed) hashes, and how many docs a
    normalized dedup would drop. The harness corpus has zero dups of
    either kind, so the group-list output would gate vacuously; the
    summary value-checks real numbers at every scale. The group
    operator itself (exact_dedup_groups_normalized) is pinned by
    pytest on crafted case/whitespace variants."""
    from ..functions.textfn import normalize_ws

    nodes, _, _ = model(spark, sf_dir)
    return nodes.select(
        F.md5("text").alias("rh"), F.md5(normalize_ws("text")).alias("nh")
    ).agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("rh").alias("n_distinct_raw"),
        F.countDistinct("nh").alias("n_distinct_norm"),
        (F.count("*") - F.countDistinct("nh")).alias("n_dup_docs_norm"),
    )


QUERIES["dedup_exact_normalized"] = q_dedup_exact_normalized
_NORM = SQL_NORMALIZED.format(col="text")
ORACLES["dedup_exact_normalized"] = ORACLE_PRELUDE + f"""
SELECT count(*) AS n_docs,
       count(DISTINCT md5(text)) AS n_distinct_raw,
       count(DISTINCT md5({_NORM})) AS n_distinct_norm,
       count(*) - count(DISTINCT md5({_NORM})) AS n_dup_docs_norm
FROM nodes"""


def q_corpus_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    return text_analysis.chunk_span_dedup(nodes, chunk_tokens=32)


QUERIES["corpus_span_dedup"] = q_corpus_span_dedup
# chunks is referenced twice → MATERIALIZED (DuckDB re-inlines plain
# CTEs; the round-4 condensation oracle hit the same blowup at sf1).
ORACLES["corpus_span_dedup"] = ORACLE_PRELUDE + _TOKS + """,
chunks AS MATERIALIZED (
  SELECT id, j.j AS cidx,
         array_to_string(t[(j.j * 32 + 1):(j.j * 32 + 32)], ' ') AS ctext
  FROM toks CROSS JOIN LATERAL (
    SELECT unnest(generate_series(
      0, CAST(ceil(len(t) / 32.0) AS INT) - 1)) AS j) j
  WHERE len(t) > 0
),
ranked AS (
  SELECT id, cidx, ctext,
         row_number() OVER (PARTITION BY md5(ctext)
                            ORDER BY id, cidx) AS rn
  FROM chunks
),
perk AS (
  SELECT id, count(*) AS n_kept,
         md5(string_agg(ctext, ' ' ORDER BY cidx)) AS kept_text_hash
  FROM ranked WHERE rn = 1 GROUP BY id
),
pern AS (SELECT id, count(*) AS n_chunks FROM chunks GROUP BY id)
SELECT n.id,
       CAST(coalesce(pn.n_chunks, 0) AS BIGINT) AS n_chunks,
       CAST(coalesce(pk.n_kept, 0) AS BIGINT) AS n_kept,
       coalesce(pk.kept_text_hash, md5('')) AS kept_text_hash
FROM nodes n
LEFT JOIN pern pn ON pn.id = n.id
LEFT JOIN perk pk ON pk.id = n.id"""


# ---------------------------------------------------------------------------
# SemDeDup (round 5)
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = 0.4


def q_dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means the embedding space,
    then near-dup-drop by exact cosine WITHIN clusters only — the
    cluster-bounded answer to quadratic semantic dedup at web scale.
    Keep-lowest-id is the deterministic stand-in for the paper's
    keep-random. Beyond-reference (BASELINE.json north star)."""
    _, emb, _ = model(spark, sf_dir)
    return dedup.semdedup(
        emb, n_centroids=8, iters=2, threshold=SEMDEDUP_TAU, dim=64,
        index=staged_ivf_index(spark, sf_dir, emb),
    )


QUERIES["dedup_semdedup"] = q_dedup_semdedup

# The kmeans chain (shared with embedding_kmeans) feeding a
# within-cluster exact-cosine drop rule. The e/af/dropped CTEs are
# each referenced more than once: without MATERIALIZED DuckDB
# re-inlines the whole Lloyd chain per reference, which at sf1 turns
# a minutes-long oracle into an hour (round-7 battery finding).
# na = sqrt(list_dot_product(v, v)) IS e.vv's sqrt — reusing the
# staged vv is the identical double, 3× fewer dot products per pair.
ORACLES["dedup_semdedup"] = (
    ORACLE_PRELUDE
    + _ivf_ctes(8, 2, 2)
    .replace("\ne AS (", "\ne AS MATERIALIZED (")
    .replace("\naf AS (", "\naf AS MATERIALIZED (")
    + f""",
dropped AS MATERIALIZED (
  SELECT DISTINCT b.id
  FROM af a
  JOIN af b ON a.cidx = b.cidx
       AND CAST(a.id AS BIGINT) < CAST(b.id AS BIGINT)
  JOIN e ea ON ea.id = a.id
  JOIN e eb ON eb.id = b.id
  WHERE CASE WHEN ea.vv > 0 AND eb.vv > 0
        THEN list_dot_product(ea.v, eb.v) / (sqrt(ea.vv) * sqrt(eb.vv))
        ELSE 0.0 END >= {SEMDEDUP_TAU}
)
SELECT f.id, f.cidx AS cluster,
       CASE WHEN dr.id IS NULL THEN 1 ELSE 0 END AS kept
FROM af f LEFT JOIN dropped dr ON dr.id = f.id"""
)


# ---------------------------------------------------------------------------
# Per-language quality regression (round 5)
# ---------------------------------------------------------------------------


def q_text_quality_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form per-language OLS of quality_score on ln(n_chars):
    sufficient statistics accumulated as exact decimals in ONE
    map-side-combinable aggregate (the sf1 money-sum discipline),
    final algebra in double. The one-pass scorer-fitting primitive.
    Beyond-reference (BASELINE.json north star)."""
    nodes, _, _ = model(spark, sf_dir)
    return text_analysis.quality_regression(nodes, group_col="lang")


QUERIES["text_quality_regression"] = q_text_quality_regression


def _quality_regression_sql() -> str:
    from .samplingq import _QUALITY

    from .common import sql_stable_round6 as r6
    fin = {
        "cov": "(dn * sxy - sx * sy)",
        "denx": "(dn * sxx - sx * sx)",
        "deny": "(dn * syy - sy * sy)",
    }
    slope = f"{fin['cov']} / {fin['denx']}"
    return (
        ORACLE_PRELUDE
        + _TOKS
        + _QUALITY
        + f""",
base AS (
  SELECT n.lang AS grp,
         CAST(floor(ln(CAST(n.n_chars AS DOUBLE)) * 1000000.0 + 0.5)
              / 1000000.0 AS DECIMAL(18,6)) AS x,
         CAST(q.quality AS DECIMAL(18,6)) AS y
  FROM nodes n JOIN quality q ON q.id = n.id
  WHERE n.n_chars > 0
),
stats AS (
  SELECT grp, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM base GROUP BY grp
),
fin AS (
  SELECT grp, n,
         CAST(n AS DOUBLE) AS dn,
         CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
         CAST(sxx AS DOUBLE) AS sxx, CAST(sxy AS DOUBLE) AS sxy,
         CAST(syy AS DOUBLE) AS syy
  FROM stats
)
SELECT grp, n,
       CASE WHEN {fin['denx']} > 0
            THEN {r6(slope)} END AS slope,
       CASE WHEN {fin['denx']} > 0
            THEN {r6(f"(sy - ({slope}) * sx) / dn")} END AS intercept,
       CASE WHEN {fin['denx']} > 0 AND {fin['deny']} > 0
            THEN {r6(f"{fin['cov']} * {fin['cov']} / ({fin['denx']} * {fin['deny']})")}
            END AS r2
FROM fin"""
    )


ORACLES["text_quality_regression"] = _quality_regression_sql()


# ---------------------------------------------------------------------------
# Tokenizer fertility report (round 5)
# ---------------------------------------------------------------------------


def q_text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility report → (lang, n_docs,
    fertility, chars_per_token): fertility = subword pieces per
    whitespace word, chars_per_token = chars per subword piece — the
    two numbers a tokenizer eval reports per language (high fertility
    = the tokenizer fragments that language, inflating sequence
    lengths and training cost). Integer count sums (exact, order-
    free) with ratios taken once per group; one map-side-combinable
    aggregate over the per-doc count frame. Beyond-reference
    (BASELINE.json north star)."""
    nodes, _, _ = model(spark, sf_dir)
    counts = text_analysis.token_counts(nodes)
    j = counts.join(nodes.select("id", "lang"), "id")
    g = j.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("ws_tokens").alias("ws"),
        F.sum("subword_tokens").alias("sw"),
        F.sum("n_chars").alias("ch"),
    )
    return g.select(
        "lang",
        "n_docs",
        F.when(
            F.col("ws") > 0,
            F.floor(F.col("sw") / F.col("ws") * F.lit(1e6) + F.lit(0.5))
            / F.lit(1e6),
        ).alias("fertility"),
        F.when(
            F.col("sw") > 0,
            F.floor(F.col("ch") / F.col("sw") * F.lit(1e6) + F.lit(0.5))
            / F.lit(1e6),
        ).alias("chars_per_token"),
    )


QUERIES["text_tokenizer_fertility"] = q_text_tokenizer_fertility

ORACLES["text_tokenizer_fertility"] = (
    ORACLE_PRELUDE
    + _TOKS
    + r""",
counts AS (
  SELECT n.id, n.lang, len(t.t) AS ws,
         len(regexp_extract_all(n.text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
           AS sw,
         length(n.text) AS ch
  FROM nodes n JOIN toks t ON t.id = n.id
),
g AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(ws) AS BIGINT) AS ws, CAST(sum(sw) AS BIGINT) AS sw,
         CAST(sum(ch) AS BIGINT) AS ch
  FROM counts GROUP BY lang
)
SELECT lang, n_docs,
       CASE WHEN ws > 0 THEN
         floor(sw * 1.0 / ws * 1000000.0 + 0.5) / 1000000.0 END AS fertility,
       CASE WHEN sw > 0 THEN
         floor(ch * 1.0 / sw * 1000000.0 + 0.5) / 1000000.0
       END AS chars_per_token
FROM g"""
)


# ---------------------------------------------------------------------------
# JL-projected retrieval tier (round 5)
# ---------------------------------------------------------------------------

JL_TIER_K = 16


def q_ann_jl_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval over the Johnson–Lindenstrauss projection:
    candidates by 16-dim projected cosine, exact full-dim rerank —
    the data-independent sibling of ann_matryoshka_topk, using the
    matrix ann_jl_distortion_eval certifies. Beyond-reference
    (BASELINE.json north star)."""
    _, emb, _ = model(spark, sf_dir)
    return ann.jl_rerank_topk(
        emb, ANN_QUERY_IDS, k=5, jl_k=JL_TIER_K, candidates=20, dim=64
    )


QUERIES["ann_jl_topk"] = q_ann_jl_topk

ORACLES["ann_jl_topk"] = (
    ORACLE_PRELUDE
    + f""",
e AS (SELECT node_id AS id, CAST(vector AS DOUBLE[]) AS v
      FROM emb WHERE len(vector) = 64),
signs AS (
  SELECT p.j,
         list_transform(generate_series(0, 63), d ->
           CAST(1 - 2 * (('0x' || substr(md5('jl' || p.j || 'd' || d),
                                         1, 8))::BIGINT % 2) AS DOUBLE)) AS w
  FROM (SELECT unnest(generate_series(0, {JL_TIER_K - 1})) AS j) p
),
proj AS (
  SELECT e.id, s.j, list_dot_product(e.v, s.w) / sqrt({JL_TIER_K}) AS y
  FROM e CROSS JOIN signs s
),
pv AS (SELECT id, list(y ORDER BY j) AS p FROM proj GROUP BY id),
q AS (SELECT id AS qid, p AS qp FROM pv WHERE id IN {_IDS_IN}),
pre AS (
  SELECT q.qid, c.id,
         floor((CASE WHEN na > 0 AND nb > 0 THEN d / (na * nb)
                ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS pcos
  FROM pv c CROSS JOIN q
  CROSS JOIN LATERAL (
    SELECT list_dot_product(c.p, q.qp) AS d,
           sqrt(list_dot_product(c.p, c.p)) AS na,
           sqrt(list_dot_product(q.qp, q.qp)) AS nb
  ) t
  WHERE c.id <> q.qid
),
cand AS (
  SELECT qid, id FROM (
    SELECT qid, id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY pcos DESC, id ASC) AS prnk
    FROM pre
  ) WHERE prnk <= 20
),
exact AS (
  SELECT c.qid, c.id,
         floor((CASE WHEN na > 0 AND nb > 0 THEN d / (na * nb)
                ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS cos
  FROM cand c
  JOIN e x ON x.id = c.id
  JOIN e qq ON qq.id = c.qid
  CROSS JOIN LATERAL (
    SELECT list_dot_product(x.v, qq.v) AS d,
           sqrt(list_dot_product(x.v, x.v)) AS na,
           sqrt(list_dot_product(qq.v, qq.v)) AS nb
  ) t
)
SELECT qid, id, cos, rnk FROM (
  SELECT qid, id, cos,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos DESC, id ASC) AS rnk
  FROM exact
) WHERE rnk <= 5"""
)


# ---------------------------------------------------------------------------
# Incremental corpus dedup (round 5)
# ---------------------------------------------------------------------------


def q_dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O(increment) dedup of a new batch (odd ids) against the
    accumulated corpus (even ids): the corpus band index is staged
    once, the batch joins it on (band, sig), candidates verify by
    exact Jaccard. Oracle = the cross-parity subset of the full
    MinHash pair chain — blind to the staging, so a wrong index or
    missed candidate fails the value check."""
    nodes, _, _ = model(spark, sf_dir)
    did = F.col("id").cast("long")
    # both sides semi-join the staged full-corpus shingle/signature
    # index (row-local per id, so subset == filtered staged frame)
    idx = dedup.minhash_index_stage(spark, nodes, sf_dir)
    return dedup.incremental_lsh_dedup(
        nodes.filter(did % 2 == 0), nodes.filter(did % 2 == 1),
        threshold=0.8, index=idx,
    )


QUERIES["dedup_incremental_lsh"] = q_dedup_incremental_lsh

ORACLES["dedup_incremental_lsh"] = (
    ORACLE_PRELUDE
    + _TOKS
    + _sh_cte(2, "sh")
    + f""",
perms AS (SELECT unnest(generate_series(0, 11)) AS perm),
mh AS (
  SELECT s.id, p.perm,
         min({_H60.format(x="p.perm || '|' || s.shingle")}) AS minhash
  FROM sh s CROSS JOIN perms p GROUP BY s.id, p.perm
),
banded AS (
  SELECT id, perm // 4 AS band,
         string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY perm) AS sig
  FROM mh GROUP BY id, perm // 4
),
bi AS (SELECT * FROM banded WHERE CAST(id AS BIGINT) % 2 = 1),
bc AS (SELECT * FROM banded WHERE CAST(id AS BIGINT) % 2 = 0),
cand AS (
  SELECT DISTINCT i.id AS id_inc, c.id AS id_corpus
  FROM bi i JOIN bc c ON i.band = c.band AND i.sig = c.sig
),
sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
inter AS (
  SELECT c.id_inc, c.id_corpus, count(*) AS i
  FROM cand c
  JOIN sh x ON x.id = c.id_inc
  JOIN sh y ON y.id = c.id_corpus AND y.shingle = x.shingle
  GROUP BY c.id_inc, c.id_corpus
)
SELECT i.id_inc, i.id_corpus,
       round(i.i * 1.0 / (a.n + b.n - i.i), 6) AS jaccard
FROM inter i
JOIN sizes a ON a.id = i.id_inc
JOIN sizes b ON b.id = i.id_corpus
WHERE i.i * 1.0 / (a.n + b.n - i.i) >= 0.8"""
)


# ---------------------------------------------------------------------------
# Per-source n-gram diversity (round 5)
# ---------------------------------------------------------------------------


def q_text_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source bigram diversity → (source, n_docs, n_bigrams,
    n_distinct, diversity): distinct-bigram share — the cheap
    templated-/boilerplate-source detector a curation run uses to
    decide which sources need the heavier dedup passes (a source
    whose millions of documents share a few thousand bigrams is
    generated or scraped template spam). One source-keyed aggregate
    over the exploded bigram stream; the distinct count is the only
    Expand, and the output is |sources|-sized. Beyond-reference
    (BASELINE.json north star)."""
    from ..functions.textfn import tokenize

    nodes, _, _ = model(spark, sf_dir)
    toks = nodes.select(
        "source", F.col("id"), tokenize("text").alias("t")
    )
    bi = toks.select(
        "source",
        "id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(t) - 1, 0)),"
                " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
            )
        ).alias("bg"),
    )
    return (
        bi.groupBy("source")
        .agg(
            F.countDistinct("id").alias("n_docs"),
            F.count("*").alias("n_bigrams"),
            F.countDistinct("bg").alias("n_distinct"),
        )
        .select(
            "source",
            "n_docs",
            "n_bigrams",
            "n_distinct",
            (
                F.floor(
                    F.col("n_distinct") / F.col("n_bigrams") * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("diversity"),
        )
    )


QUERIES["text_diversity_by_source"] = q_text_diversity_by_source

ORACLES["text_diversity_by_source"] = (
    ORACLE_PRELUDE
    + _TOKS
    + """,
bi AS (
  SELECT n.source, t.id, unnest(
    list_transform(generate_series(1, greatest(len(t.t) - 1, 0)),
                   i -> t.t[i] || ' ' || t.t[i + 1])) AS bg
  FROM toks t JOIN nodes n ON n.id = t.id
)
SELECT source,
       count(DISTINCT id) AS n_docs,
       count(*) AS n_bigrams,
       count(DISTINCT bg) AS n_distinct,
       floor(count(DISTINCT bg) * 1.0 / count(*) * 1000000.0 + 0.5)
         / 1000000.0 AS diversity
FROM bi GROUP BY source"""
)


def q_dedup_semdedup_central(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the paper's keeper: transitive in-cluster
    duplicate components, keep the member FARTHEST from its centroid
    (lowest centroid similarity — the diversity-preserving rule of
    Abbas et al. 2023). The min-id entry (dedup_semdedup) is the
    cheap default; this is the faithful one."""
    _, emb, _ = model(spark, sf_dir)
    return dedup.semdedup_keep_central(
        emb, n_centroids=8, iters=2, threshold=SEMDEDUP_TAU, dim=64,
        index=staged_ivf_index(spark, sf_dir, emb),
    )


QUERIES["dedup_semdedup_central"] = q_dedup_semdedup_central

# MATERIALIZED is load-bearing here: `sym` sits INSIDE the recursive
# reach member, so an inlined `sym` re-evaluates prs (the within-
# cluster cosine pair join) plus the whole Lloyd chain on EVERY
# fixpoint iteration — the round-7 sf1 battery found this oracle
# grinding for an hour at 90 GB RSS. Materialized once, it's minutes.
ORACLES["dedup_semdedup_central"] = (
    ORACLE_PRELUDE
    + _ivf_ctes(8, 2, 2)
    .replace("\ne AS (", "\ne AS MATERIALIZED (")
    .replace("\naf AS (", "\naf AS MATERIALIZED (")
    + f""",
dists AS MATERIALIZED (
  SELECT id, cidx AS cluster,
         floor(dist * 1000000.0 + 0.5) / 1000000.0 AS dist
  FROM (
    SELECT t.id, c.cidx,
           t.vv + c.cc - 2 * list_dot_product(t.v, c.cvec) AS dist,
           row_number() OVER (
             PARTITION BY t.id
             ORDER BY t.vv + c.cc - 2 * list_dot_product(t.v, c.cvec),
                      c.cidx) AS rn
    FROM e t CROSS JOIN cf c
  ) WHERE rn = 1
),
prs AS MATERIALIZED (
  SELECT a.id AS id_a, b.id AS id_b
  FROM af a
  JOIN af b ON a.cidx = b.cidx AND a.id < b.id
  JOIN e ea ON ea.id = a.id
  JOIN e eb ON eb.id = b.id
  WHERE CASE WHEN ea.vv > 0 AND eb.vv > 0
        THEN list_dot_product(ea.v, eb.v) / (sqrt(ea.vv) * sqrt(eb.vv))
        ELSE 0.0 END >= {SEMDEDUP_TAU}
),
verts AS (SELECT id_a AS id FROM prs UNION SELECT id_b AS id FROM prs),
sym AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM prs
  UNION SELECT id_b AS src, id_a AS dst FROM prs
),
reach AS (
  SELECT id AS root, id AS node FROM verts
  UNION
  SELECT r.root, s.dst AS node FROM reach r JOIN sym s ON s.src = r.node
),
comp AS MATERIALIZED (
  SELECT root AS id, min(node) AS grp FROM reach GROUP BY root),
grouped AS (
  SELECT c.id, d.cluster, c.grp,
         CASE WHEN row_number() OVER (
                PARTITION BY c.grp ORDER BY d.dist DESC, c.id ASC) = 1
              THEN 1 ELSE 0 END AS kept
  FROM comp c JOIN dists d ON d.id = c.id
),
singles AS (
  SELECT d.id, d.cluster, d.id AS grp, 1 AS kept
  FROM dists d LEFT JOIN comp c ON c.id = d.id
  WHERE c.id IS NULL
)
SELECT id, cluster, grp, kept FROM grouped
UNION ALL
SELECT id, cluster, grp, kept FROM singles"""
)


def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY against the training split →
    (id, n_grams, n_novel, novelty) for every held-out doc with ≥1
    trigram: the corpus hash-splits 80/20 on the stable md5 bucket
    (salt 'novelty' — the same deterministic deal train_eval_split
    uses), the train side contributes its distinct-trigram set, and
    each eval doc reports what fraction of ITS distinct trigrams the
    train corpus has never seen. The memorization/novelty probe a
    curation pipeline runs before trusting an eval split: novelty ≈ 0
    means the split leaks (near-copies straddle it), novelty ≈ 1
    means the eval text is genuinely unseen — decontaminate() is the
    query-vs-corpus version; this grades a whole split at once.

    Scale shape: explode → per-doc DISTINCT prunes repeated trigrams
    before any join; the train set is one distinct on the gram key;
    membership is a single gram-keyed LEFT join (broadcastable when
    the train vocabulary is small, shuffle-partitioned otherwise) —
    never a per-doc loop. Eval docs shorter than n drop out (no
    trigrams to grade), which the oracle reproduces."""
    from ..functions.textfn import tokenize
    from ..operators.sampling import stable_bucket

    nodes, _, _ = model(spark, sf_dir)
    toks = nodes.select(
        "id",
        tokenize("text").alias("t"),
        (stable_bucket(F.col("id"), salt="novelty") < 2000).alias(
            "is_eval"
        ),
    )
    grams = (
        toks.select(
            "id",
            "is_eval",
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(size(t) - 2, 0)),"
                    " i -> concat(element_at(t, i), ' ',"
                    " element_at(t, i + 1), ' ', element_at(t, i + 2)))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    train = grams.filter(~F.col("is_eval")).select("g").distinct()
    ev = grams.filter(F.col("is_eval")).select("id", "g")
    joined = ev.join(
        train.withColumn("__seen", F.lit(1)), "g", "left"
    )
    return joined.groupBy("id").agg(
        F.count("*").cast("long").alias("n_grams"),
        F.sum(F.when(F.col("__seen").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_novel"),
    ).select(
        "id",
        "n_grams",
        "n_novel",
        (
            F.floor(
                F.col("n_novel") / F.col("n_grams") * F.lit(1e6) + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("novelty"),
    )


QUERIES["text_ngram_novelty"] = q_text_ngram_novelty

ORACLES["text_ngram_novelty"] = (
    ORACLE_PRELUDE
    + _TOKS
    + """,
nsplit AS (
  SELECT id, t,
         (('0x' || substr(md5('novelty' || id), 1, 15))::BIGINT % 10000
          < 2000) AS is_eval
  FROM toks
),
grams0 AS (
  SELECT id, is_eval,
         unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
                i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
  FROM nsplit
),
grams AS (SELECT DISTINCT id, is_eval, g FROM grams0),
train AS (SELECT DISTINCT g FROM grams WHERE NOT is_eval),
ev AS (SELECT id, g FROM grams WHERE is_eval)
SELECT ev.id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN tr.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       floor(sum(CASE WHEN tr.g IS NULL THEN 1 ELSE 0 END) * 1.0
             / count(*) * 1000000.0 + 0.5) / 1000000.0 AS novelty
FROM ev LEFT JOIN train tr ON tr.g = ev.g
GROUP BY ev.id"""
)


def q_ann_ivf_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN over the SHARED IVF index → (qid, id, cos, rnk):
    top-5 'en'-language neighbors per query, where the metadata
    predicate prunes the PROBED candidates by an id semi-join —
    post-filtering nprobe/C of the corpus — rather than rebuilding an
    index per filter value. The filtered-search contract every vector
    store ships (and the reference serves brute-force via
    vector_topk_filtered, app.py:529-560): one index, arbitrary
    predicates at query time, recall governed by nprobe × filter
    selectivity. The oracle replays the identical index build and
    applies the same lang join inside the probed-candidate rescan."""
    nodes, emb, _ = model(spark, sf_dir)
    allowed = nodes.filter(F.col("lang") == "en").select("id")
    return ann.ivf_topk(
        emb, ANN_QUERY_IDS, k=5, nprobe=2,
        dim=64, round_scores=6, allowed=allowed,
        index=staged_ivf_index(spark, sf_dir, emb),
    )


QUERIES["ann_ivf_filtered_topk"] = q_ann_ivf_filtered_topk


def _ivf_filtered_sql(
    n_centroids: int = 8, iters: int = 2, nprobe: int = 2, k: int = 5,
    pred: str = "n.lang = 'en'",
) -> str:
    """The IVF oracle with the metadata predicate applied inside the
    probed-candidate rescan — the SQL twin of ivf_topk(allowed=...)."""
    final = f"""
,cand AS (
  SELECT p.qid, a.id,
         round(CASE WHEN na > 0 AND nb > 0 THEN d / (na * nb)
               ELSE 0.0 END, 6) AS cos
  FROM af a JOIN probes p ON p.cidx = a.cidx AND a.id <> p.qid
  JOIN nodes n ON n.id = a.id AND {pred}
  JOIN e ON e.id = a.id
  CROSS JOIN LATERAL (
    SELECT list_dot_product(e.v, p.qv) AS d,
           sqrt(list_dot_product(e.v, e.v)) AS na,
           sqrt(list_dot_product(p.qv, p.qv)) AS nb
  ) t
)
SELECT qid, id, cos, rnk FROM (
  SELECT qid, id, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rnk
  FROM cand
) WHERE rnk <= {k}"""
    return ORACLE_PRELUDE + _ivf_ctes(n_centroids, iters, nprobe) + final


ORACLES["ann_ivf_filtered_topk"] = _ivf_filtered_sql()


def q_dedup_jaccard_prefix_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PPJoin-style prefix filtering for the θ=0.5 3-shingle Jaccard
    join → one row (n_pairs_full, n_pairs_prefix, n_matches,
    n_matches_prefix): the measured candidate-reduction of
    frequency-ascending prefixes, with losslessness witnessed in-row
    (n_matches = n_matches_prefix). See
    operators/dedup.jaccard_prefix_filter_report for the pigeonhole
    argument and the 100 TB skew analysis; this is the
    candidate-generation economics study the banded-LSH entries
    (dedup_minhash_band_sweep) run for signatures, done for the EXACT
    set-similarity join."""
    nodes, _, _ = model(spark, sf_dir)
    sh3 = dedup.shingle_stage(spark, nodes, sf_dir, k=3)
    return dedup.jaccard_prefix_filter_report(nodes, k=3, sh=sh3)


QUERIES["dedup_jaccard_prefix_filter"] = q_dedup_jaccard_prefix_filter
# MATERIALIZED throughout: sh3 is referenced five times and each
# scalar subquery otherwise re-inlines its whole CTE chain — at sf1
# the re-evaluated shingle self-joins ground past the spill cap
# (round-7 battery finding). The inter→matches chain derives
# n_matches from full_pairs' groupBy rather than a third self-join.
ORACLES["dedup_jaccard_prefix_filter"] = (
    ORACLE_PRELUDE
    + _TOKS
    + _sh_cte(3, "sh3").replace("\nsh3 AS (", "\nsh3 AS MATERIALIZED (")
    + """,
sizes AS MATERIALIZED (
  SELECT id, CAST(count(*) AS BIGINT) AS n FROM sh3 GROUP BY id),
freq AS (SELECT shingle, count(*) AS df_ FROM sh3 GROUP BY shingle),
ranked AS (
  SELECT s.id, s.shingle,
         row_number() OVER (PARTITION BY s.id
                            ORDER BY f.df_, s.shingle) AS rn,
         z.n - ((z.n + 1) // 2) + 1 AS plen
  FROM sh3 s JOIN freq f ON f.shingle = s.shingle
  JOIN sizes z ON z.id = s.id
),
prefix AS (SELECT id, shingle FROM ranked WHERE rn <= plen),
inter AS MATERIALIZED (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
  FROM sh3 a JOIN sh3 b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
),
cand_prefix AS MATERIALIZED (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM prefix a JOIN prefix b ON a.shingle = b.shingle AND a.id < b.id
),
matches AS MATERIALIZED (
  SELECT i.id_a, i.id_b
  FROM inter i JOIN sizes x ON x.id = i.id_a
  JOIN sizes y ON y.id = i.id_b
  WHERE 2 * i.c >= x.n + y.n - i.c
)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM inter) AS n_pairs_full,
  (SELECT CAST(count(*) AS BIGINT) FROM cand_prefix) AS n_pairs_prefix,
  (SELECT CAST(count(*) AS BIGINT) FROM matches) AS n_matches,
  (SELECT CAST(count(*) AS BIGINT)
   FROM matches m JOIN cand_prefix c
     ON c.id_a = m.id_a AND c.id_b = m.id_b) AS n_matches_prefix"""
)


def q_er_blocked_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over part names → proposed merges
    (name_a, name_b, lev_dist, n_a, n_b, canon_id): records collapse
    to the distinct-name grain, candidates are BLOCKED on the product
    noun (last name token — cross-noun pairs never generated), and
    in-block pairs match at Levenshtein ≤ 2 ("cold gear"/"old gear").
    canon_id is the smaller of the two sides' minimum part keys — the
    deterministic merge target. See operators/dedup.blocked_er_matches
    for the Σ|block|² scale argument."""
    from ..sources import load_table

    part = load_table(spark, sf_dir, "part")
    return dedup.blocked_er_matches(
        part,
        id_col="p_partkey",
        name_col="p_name",
        block_col=F.element_at(F.split(F.col("p_name"), " "), -1),
        max_dist=2,
    )


QUERIES["er_blocked_matches"] = q_er_blocked_matches
ORACLES["er_blocked_matches"] = """
WITH ents AS (
  SELECT p_name AS name,
         string_split(p_name, ' ')[-1] AS blk,
         CAST(count(*) AS BIGINT) AS n_recs,
         min(p_partkey) AS min_id
  FROM part GROUP BY p_name, string_split(p_name, ' ')[-1]
)
SELECT a.name AS name_a, b.name AS name_b,
       levenshtein(a.name, b.name) AS lev_dist,
       a.n_recs AS n_a, b.n_recs AS n_b,
       least(a.min_id, b.min_id) AS canon_id
FROM ents a JOIN ents b ON b.blk = a.blk AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= 2"""



def q_text_jsd_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between every pair of sources'
    unigram distributions → (src_a, src_b, n_a, n_b, jsd): the
    corpus-drift / mixture-design readout (JSD is symmetric, bounded
    by ln 2, 0 iff the token distributions match — the principled
    "how different are these two slices" number behind mixture
    weighting and cross-dump dedup decisions).

    Shape: ONE token-count aggregate at the (source, token) grain —
    the only fact-table pass — then a tiny source-totals frame and a
    per-pair FULL OUTER merge on token over the |sources|²·|vocab|
    grid, all dimension-sized at any corpus scale. Probabilities are
    exact integer counts over engine-identical doubles; a token
    absent on one side contributes only the present side's
    p·ln(p/m) term (the 0·ln 0 = 0 convention). Output in nats,
    6dp."""
    from ..functions.textfn import tokenize

    nodes, _, _ = model(spark, sf_dir)
    toks = nodes.select(
        F.col("source"),
        F.explode(tokenize("text")).alias("tok"),
    )
    tc = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))
    tot = tc.groupBy("source").agg(F.sum("c").alias("n"))
    pairs = (
        tot.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
        .join(
            F.broadcast(
                tot.select(
                    F.col("source").alias("src_b"),
                    F.col("n").alias("n_b"),
                )
            )
        )
        .filter(F.col("src_a") < F.col("src_b"))
    )
    pa = pairs.join(
        tc.select(
            F.col("source").alias("src_a"), "tok", F.col("c").alias("ca")
        ),
        "src_a",
    ).select("src_a", "src_b", "n_a", "n_b", "tok", "ca")
    pb = pairs.join(
        tc.select(
            F.col("source").alias("src_b"), "tok", F.col("c").alias("cb")
        ),
        "src_b",
    ).select("src_a", "src_b", "n_a", "n_b", "tok", "cb")
    grid = pa.join(
        pb.select("src_a", "src_b", "tok", "cb"),
        ["src_a", "src_b", "tok"],
        "full_outer",
    ).join(
        F.broadcast(
            pairs.select(
                F.col("src_a").alias("__sa"),
                F.col("src_b").alias("__sb"),
                F.col("n_a").alias("na"),
                F.col("n_b").alias("nb"),
            )
        ),
        (F.col("src_a") == F.col("__sa"))
        & (F.col("src_b") == F.col("__sb")),
    )
    p_a = F.coalesce("ca", F.lit(0)).cast("double") / F.col("na")
    p_b = F.coalesce("cb", F.lit(0)).cast("double") / F.col("nb")
    m = (p_a + p_b) / F.lit(2.0)
    term = F.when(
        F.col("ca").isNotNull(), F.lit(0.5) * p_a * F.log(p_a / m)
    ).otherwise(F.lit(0.0)) + F.when(
        F.col("cb").isNotNull(), F.lit(0.5) * p_b * F.log(p_b / m)
    ).otherwise(
        F.lit(0.0)
    )
    return (
        grid.groupBy("src_a", "src_b", "na", "nb")
        .agg(F.sum(term).alias("j"))
        .select(
            "src_a",
            "src_b",
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            (F.floor(F.col("j") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
            .alias("jsd"),
        )
    )


QUERIES["text_jsd_by_source"] = q_text_jsd_by_source
ORACLES["text_jsd_by_source"] = (
    ORACLE_PRELUDE
    + _TOKS
    + """,
tok1 AS (SELECT n.source, unnest(t.t) AS tok
         FROM toks t JOIN nodes n ON n.id = t.id),
tc AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
       FROM tok1 GROUP BY source, tok),
tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
        FROM tc GROUP BY source),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b, a.n AS n_a, b.n AS n_b
  FROM tot a JOIN tot b ON a.source < b.source
),
univ AS (
  SELECT DISTINCT p.src_a, p.src_b, p.n_a, p.n_b, t.tok
  FROM pairs p
  JOIN (SELECT DISTINCT source, tok FROM tc) t
    ON t.source = p.src_a OR t.source = p.src_b
),
grid AS (
  SELECT u.src_a, u.src_b, u.n_a, u.n_b, u.tok, x.c AS ca, y.c AS cb
  FROM univ u
  LEFT JOIN tc x ON x.source = u.src_a AND x.tok = u.tok
  LEFT JOIN tc y ON y.source = u.src_b AND y.tok = u.tok
),
terms AS (
  SELECT src_a, src_b, n_a, n_b,
         coalesce(ca, 0) * 1.0 / n_a AS pa,
         coalesce(cb, 0) * 1.0 / n_b AS pb,
         ca IS NOT NULL AS ha, cb IS NOT NULL AS hb
  FROM grid
)
SELECT src_a, src_b, n_a, n_b,
       floor(sum(
         (CASE WHEN ha THEN 0.5 * pa * ln(pa / ((pa + pb) / 2.0))
               ELSE 0.0 END)
         + (CASE WHEN hb THEN 0.5 * pb * ln(pb / ((pa + pb) / 2.0))
                 ELSE 0.0 END)
       ) * 1000000.0 + 0.5) / 1000000.0 AS jsd
FROM terms GROUP BY src_a, src_b, n_a, n_b"""
)


def q_text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition profile → (id, n_grams, dup_frac,
    top_gram_frac) for every doc with ≥1 word trigram: the
    Gopher-rule repetition signal (duplicated n-gram mass inside ONE
    document — templated spam, keyword stuffing, decode loops) that
    complements the CROSS-document dedup family. dup_frac is the
    fraction of trigram occurrences beyond each gram's first
    (1 - distinct/total); top_gram_frac is the most-repeated gram's
    share of all occurrences. Both are exact integer ratios rounded
    at 6dp, so the DuckDB twin matches bit-for-bit.

    Scale shape: explode → ONE shuffle keyed (id, gram) → per-doc
    re-agg keyed id; no joins, no windows, map-side combinable at
    both levels — the cheapest possible profile over 100 TB of text."""
    from ..functions.textfn import tokenize

    nodes, _, _ = model(spark, sf_dir)
    grams = nodes.select("id", tokenize("text").alias("t")).select(
        "id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(t) - 2, 0)),"
                " i -> concat(element_at(t, i), ' ',"
                " element_at(t, i + 1), ' ', element_at(t, i + 2)))"
            )
        ).alias("g"),
    )
    per_gram = grams.groupBy("id", "g").agg(F.count("*").alias("c"))
    agg = per_gram.groupBy("id").agg(
        F.sum("c").cast("long").alias("n_grams"),
        F.count("*").cast("long").alias("n_distinct"),
        F.max("c").cast("long").alias("mx"),
    )
    r6i = lambda num, den: (  # noqa: E731
        F.floor(
            num.cast("double") / den.cast("double") * F.lit(1e6) + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    return agg.select(
        "id",
        "n_grams",
        r6i(F.col("n_grams") - F.col("n_distinct"), F.col("n_grams")).alias(
            "dup_frac"
        ),
        r6i(F.col("mx"), F.col("n_grams")).alias("top_gram_frac"),
    )


QUERIES["text_repetition_score"] = q_text_repetition_score
ORACLES["text_repetition_score"] = (
    ORACLE_PRELUDE
    + _TOKS
    + """,
rgrams AS (
  SELECT id,
         unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
                i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
  FROM toks
),
pg AS (
  SELECT id, g, CAST(count(*) AS BIGINT) AS c FROM rgrams GROUP BY id, g
),
ag AS (
  SELECT id, CAST(sum(c) AS BIGINT) AS n_grams,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(max(c) AS BIGINT) AS mx
  FROM pg GROUP BY id
)
SELECT id, n_grams,
       floor(CAST(n_grams - n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS dup_frac,
       floor(CAST(mx AS DOUBLE) / CAST(n_grams AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS top_gram_frac
FROM ag"""
)


def q_dedup_cross_source_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-source duplicate-CANDIDATE contamination matrix →
    (source_a, source_b, n_pairs): for every unordered source pair,
    how many blocking-key collisions straddle it, keyed on the
    3-token prefix fingerprint (the cheap blocking key an ER/dedup
    pipeline uses before any expensive comparison). The
    which-feeds-overlap-with-which readout a corpus owner checks
    before weighting sources — a hot off-diagonal cell says two feeds
    share templated openings, a hot diagonal cell says one feed
    repeats itself.

    Never enumerates pairs row-by-row: one key groupBy to per-
    (key, source) counts, one self-join keyed ONLY on the key
    (block-size-bounded fan-out, the standard blocking contract),
    and the pair counts close over the counts — ca*cb across
    sources, C(ca,2) within. BIGINT-exact; docs shorter than 3
    tokens drop out on both sides."""
    from ..functions.textfn import tokenize

    nodes, _, _ = model(spark, sf_dir)
    hs = (
        nodes.select("source", tokenize("text").alias("t"))
        .filter(F.size("t") >= 3)
        .select(
            "source",
            F.concat_ws(
                " ",
                F.element_at("t", 1),
                F.element_at("t", 2),
                F.element_at("t", 3),
            ).alias("h"),
        )
        .groupBy("h", "source")
        .agg(F.count("*").cast("long").alias("c"))
    )
    a = hs.select("h", F.col("source").alias("source_a"), F.col("c").alias("ca"))
    b = hs.select("h", F.col("source").alias("source_b"), F.col("c").alias("cb"))
    pairs = (
        a.join(b, "h")
        .filter(F.col("source_a") <= F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            F.when(
                F.col("source_a") == F.col("source_b"),
                F.expr("ca * (ca - 1) div 2"),
            )
            .otherwise(F.col("ca") * F.col("cb"))
            .cast("long")
            .alias("np"),
        )
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(F.sum("np").cast("long").alias("n_pairs"))
        .filter(F.col("n_pairs") > 0)
    )


QUERIES["dedup_cross_source_matrix"] = q_dedup_cross_source_matrix
ORACLES["dedup_cross_source_matrix"] = (
    ORACLE_PRELUDE
    + _TOKS
    + """,
hs AS (
  SELECT t[1] || ' ' || t[2] || ' ' || t[3] AS h, n.source,
         CAST(count(*) AS BIGINT) AS c
  FROM toks tk JOIN nodes n ON n.id = tk.id
  WHERE len(t) >= 3
  GROUP BY 1, 2
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CASE WHEN a.source = b.source THEN a.c * (a.c - 1) // 2
              ELSE a.c * b.c END AS np
  FROM hs a JOIN hs b ON b.h = a.h AND a.source <= b.source
)
SELECT source_a, source_b, CAST(sum(np) AS BIGINT) AS n_pairs
FROM pairs GROUP BY source_a, source_b
HAVING sum(np) > 0"""
)

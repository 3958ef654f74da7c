"""Sampling / splitting / chunking queries (training-pipeline §7.4).

Deterministic hash-bucketed sampling means every one of these has an
EXACT DuckDB oracle — the bucket expression is md5-derived and spelled
identically in both engines (same trick as dedup/LSH hashing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..functions.textfn import tokenize
from ..operators import sampling
from .common import ORACLE_PRELUDE, SQL_TOKENS, model

_BUCKET = "('0x' || substr(md5('{salt}' || id), 1, 15))::BIGINT % 10000"


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    return sampling.hash_sample(
        nodes.select("id", "lang", "source", "n_chars"), fraction=0.1
    )


def q_split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    return sampling.train_eval_split(nodes, train_frac=0.9)


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    return sampling.stratified_sample(
        nodes.select("id", "source"), group_col="source", n_per_group=5
    )


def q_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    return sampling.chunk_documents(nodes, size=32, stride=24)


def q_sample_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    return sampling.pps_sample(nodes, frac=0.5, weight_col="n_chars")


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    return sampling.corpus_clean(nodes, min_quality=0.5)


def q_corpus_pipeline_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data pipeline as ONE lazy plan: quality
    gate + exact dedup → overlapping token chunking → deterministic
    train/eval split → per-split summary. Catalyst fuses the stages;
    nothing materializes in between — the shape a 100 TB corpus build
    actually runs."""
    from pyspark.sql import functions as F2

    nodes, _, _ = model(spark, sf_dir)
    kept = sampling.corpus_clean(nodes, min_quality=0.5)
    docs = nodes.join(kept.select("id"), "id", "left_semi")
    chunks = sampling.chunk_documents(docs, size=32, stride=24)
    split = sampling.train_eval_split(docs, train_frac=0.9)
    return (
        chunks.join(split, "id")
        .groupBy("split")
        .agg(
            F2.countDistinct("id").alias("n_docs"),
            F2.count("*").alias("n_chunks"),
            F2.sum("n_chunk_tokens").alias("n_tokens"),
        )
    )


def q_doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training sequence packing: per-doc token counts laid out
    greedily into 256-token bins within 8 hash shards — the batch
    manifest a pretraining loader consumes."""
    nodes, _, _ = model(spark, sf_dir)
    toks = nodes.select("id", F.size(tokenize("text")).alias("n_tokens"))
    return sampling.pack_greedy(toks, "n_tokens", budget=256, n_shards=8)


QUERIES = {
    "sample_hash": q_sample_hash,
    "doc_pack_sequences": q_doc_pack_sequences,
    "split_train_eval": q_split_train_eval,
    "sample_stratified": q_sample_stratified,
    "sample_pps": q_sample_pps,
    "doc_chunk": q_doc_chunk,
    "corpus_clean": q_corpus_clean,
    "corpus_pipeline_summary": q_corpus_pipeline_summary,
}

_TOKS = f""",
toks AS (
  SELECT id, {SQL_TOKENS.format(col='text')} AS t
  FROM nodes
)"""

# Mirror of operators.text_analysis.quality_score (same as the
# text_quality_score oracle in pipelineq).
_QUALITY = """,
qstats AS (
  SELECT id, len(t) AS n_tok,
         CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
           AS total_chars,
         len(list_filter(t, x -> list_contains(
           ['a','and','das','de','der','die','el','et','la','le','les',
            'of','que','the','to','und','y','zu'], x))) AS stop_hits
  FROM toks
),
quality AS (
  SELECT id, n_tok AS n_tokens,
    floor((CASE WHEN n_tok > 0 THEN
      0.4 * least(1.0, n_tok / 100.0)
      + 0.3 * (1.0 - least(1.0, abs(total_chars / n_tok - 5) / 5.0))
      + 0.3 * (stop_hits * 1.0 / n_tok)
    ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS quality
  FROM qstats
)"""

ORACLES = {
    "doc_pack_sequences": ORACLE_PRELUDE
    + f""",
tk AS (SELECT id, len({SQL_TOKENS.format(col='text')}) AS w FROM nodes),
sh AS (
  SELECT id, w, {_BUCKET.format(salt='pack')} AS bkt,
         CAST({_BUCKET.format(salt='pack')} % 8 AS INT) AS shard
  FROM tk
),
ofs AS (
  SELECT id, w, shard,
         CAST(coalesce(sum(w) OVER (
           PARTITION BY shard ORDER BY bkt, id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_offset
  FROM sh
)
SELECT id, w AS weight, shard, start_offset,
       start_offset // 256 AS bin_id
FROM ofs""",
    "sample_hash": ORACLE_PRELUDE
    + f"""
SELECT id, lang, source, n_chars FROM nodes
WHERE {_BUCKET.format(salt='s1')} < 1000""",
    "split_train_eval": ORACLE_PRELUDE
    + f"""
SELECT id,
       CASE WHEN {_BUCKET.format(salt='split')} < 9000
            THEN 'train' ELSE 'eval' END AS split
FROM nodes""",
    "sample_stratified": ORACLE_PRELUDE
    + f""",
ranked AS (
  SELECT id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {_BUCKET.format(salt='strat')}, id) AS rk
  FROM nodes
)
SELECT id, source, CAST(rk AS INT) AS rk FROM ranked WHERE rk <= 5""",
    "sample_pps": ORACLE_PRELUDE
    + f"""
SELECT id, n_chars AS weight
FROM nodes, (SELECT max(n_chars) AS mx FROM nodes)
WHERE {_BUCKET.format(salt='pps')} < 0.5 * 10000 * n_chars / mx""",
    "doc_chunk": ORACLE_PRELUDE
    + _TOKS
    + """,
starts AS (
  SELECT id, t,
         unnest(list_distinct(list_append(
           generate_series(1, greatest(1, len(t) - 31), 24),
           greatest(1, len(t) - 31)))) AS start
  FROM toks
)
SELECT id, CAST(start AS INT) AS start,
       array_to_string(list_slice(t, start, start + 31), ' ') AS chunk_text,
       CAST(len(list_slice(t, start, start + 31)) AS INT) AS n_chunk_tokens
FROM starts""",
    "corpus_clean": ORACLE_PRELUDE
    + _TOKS
    + _QUALITY
    + """,
passing AS (
  SELECT q.id, q.n_tokens, q.quality, md5(n.text) AS th
  FROM quality q JOIN nodes n ON n.id = q.id
  WHERE q.quality >= 0.5
),
keepers AS (SELECT th, min(id) AS id FROM passing GROUP BY th)
SELECT p.id, p.n_tokens, p.quality
FROM passing p JOIN keepers k ON k.id = p.id""",
    "corpus_pipeline_summary": ORACLE_PRELUDE
    + _TOKS
    + _QUALITY
    + f""",
passing AS (
  SELECT q.id, md5(n.text) AS th
  FROM quality q JOIN nodes n ON n.id = q.id
  WHERE q.quality >= 0.5
),
keepers AS (SELECT th, min(id) AS id FROM passing GROUP BY th),
docs AS (SELECT p.id FROM passing p JOIN keepers k ON k.id = p.id),
starts AS (
  SELECT t.id,
         unnest(list_distinct(list_append(
           generate_series(1, greatest(1, len(t.t) - 31), 24),
           greatest(1, len(t.t) - 31)))) AS start,
         t.t
  FROM toks t JOIN docs d ON d.id = t.id
),
chunks AS (
  SELECT id, len(list_slice(t, start, start + 31)) AS n_chunk_tokens
  FROM starts
),
split AS (
  SELECT d.id,
         CASE WHEN {_BUCKET.format(salt='split')} < 9000
              THEN 'train' ELSE 'eval' END AS split
  FROM (SELECT id FROM docs) d
)
SELECT s.split,
       count(DISTINCT c.id) AS n_docs,
       count(*) AS n_chunks,
       CAST(sum(c.n_chunk_tokens) AS BIGINT) AS n_tokens
FROM chunks c JOIN split s ON s.id = c.id
GROUP BY s.split""",
}


def q_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _, _ = model(spark, sf_dir)
    return sampling.balanced_downsample(
        nodes.select("id", "lang"), class_col="lang"
    )


QUERIES["sample_balanced"] = q_sample_balanced
ORACLES["sample_balanced"] = ORACLE_PRELUDE + f""",
ranked AS (
  SELECT id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {_BUCKET.format(salt='bal')}, id) AS rk
  FROM nodes
),
mn AS (SELECT min(n) AS min_n FROM
       (SELECT count(*) AS n FROM nodes GROUP BY lang))
SELECT id, lang, CAST(rk AS INT) AS rk
FROM ranked, mn WHERE rk <= min_n"""


def q_pack_efficiency_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation harness for the greedy packer (the same pattern as
    ann_recall_eval / dedup_minhash_eval: every heuristic ships with
    a value-checked quality report) → one row:

    - n_items, total_weight: corpus being packed
    - n_bins: bins the greedy layout actually used
    - lb_global: ceil(total/budget) — the fractional lower bound any
      packer must respect
    - lb_sharded: Σ_shard ceil(shard_total/budget) — the fair bound
      given the deterministic 8-shard deal (the deal trades a few
      bins for full shard parallelism; this quantifies the trade)
    - fill_ratio: total_weight / (n_bins · budget), 6dp

    A packing regression (e.g. someone breaks the start-offset fill
    rule) now fails the VALUE gate, not just a unit test."""
    from pyspark.sql import functions as F2

    nodes, _, _ = model(spark, sf_dir)
    toks = nodes.select("id", F.size(tokenize("text")).alias("n_tokens"))
    packed = sampling.pack_greedy(toks, "n_tokens", budget=256, n_shards=8)
    per_shard = packed.groupBy("shard").agg(
        F2.sum("weight").alias("sw"),
        (F2.max("bin_id") + 1).alias("shard_bins"),
    )
    return per_shard.agg(
        F2.sum("sw").cast("long").alias("total_weight"),
        F2.sum("shard_bins").cast("long").alias("n_bins"),
        F2.sum(F2.ceil(F2.col("sw") / 256.0)).cast("long").alias(
            "lb_sharded"
        ),
    ).select(
        "total_weight",
        "n_bins",
        F2.ceil(F2.col("total_weight") / 256.0).cast("long").alias(
            "lb_global"
        ),
        "lb_sharded",
        (
            F2.floor(
                F2.col("total_weight")
                / (F2.col("n_bins") * 256.0)
                * F2.lit(1e6)
                + F2.lit(0.5)
            )
            / F2.lit(1e6)
        ).alias("fill_ratio"),
    )


QUERIES["pack_efficiency_eval"] = q_pack_efficiency_eval
ORACLES["pack_efficiency_eval"] = ORACLE_PRELUDE + f""",
tk AS (SELECT id, len({SQL_TOKENS.format(col='text')}) AS w FROM nodes),
sh AS (
  SELECT id, w, {_BUCKET.format(salt='pack')} AS bkt,
         CAST({_BUCKET.format(salt='pack')} % 8 AS INT) AS shard
  FROM tk
),
ofs AS (
  SELECT id, w, shard,
         CAST(coalesce(sum(w) OVER (
           PARTITION BY shard ORDER BY bkt, id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_offset
  FROM sh
),
per_shard AS (
  SELECT shard, sum(w) AS sw, max(start_offset // 256) + 1 AS shard_bins
  FROM ofs GROUP BY shard
),
agg AS (
  SELECT CAST(sum(sw) AS BIGINT) AS total_weight,
         CAST(sum(shard_bins) AS BIGINT) AS n_bins,
         CAST(sum(CAST(ceil(sw / 256.0) AS BIGINT)) AS BIGINT)
           AS lb_sharded
  FROM per_shard
)
SELECT total_weight, n_bins,
       CAST(ceil(total_weight / 256.0) AS BIGINT) AS lb_global,
       lb_sharded,
       floor(total_weight / (n_bins * 256.0) * 1000000.0 + 0.5)
         / 1000000.0 AS fill_ratio
FROM agg"""


# ---------------------------------------------------------------------------
# Temperature-scaled mixture sampling (round 5)
# ---------------------------------------------------------------------------

TMIX_ALPHA = 0.5
TMIX_BUDGET = 0.5


def q_sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature sampling over the documents' lang mixture
    (p_g ∝ n_g^0.5 at half the corpus budget): the head language is
    down-sampled, tail languages keep ~all rows — the standard
    multilingual rebalance. Membership is a pure id-hash function,
    so the oracle replays it exactly."""
    nodes, _, _ = model(spark, sf_dir)
    return sampling.temperature_mix(
        nodes, group_col="lang", alpha=TMIX_ALPHA, budget_frac=TMIX_BUDGET
    )


QUERIES["sample_temperature_mix"] = q_sample_temperature_mix

ORACLES["sample_temperature_mix"] = ORACLE_PRELUDE + f""",
counts AS (SELECT lang AS grp, count(*) AS n_g FROM nodes GROUP BY lang),
tot AS (SELECT sum(n_g) AS n, sum(pow(n_g, {TMIX_ALPHA})) AS z FROM counts),
fr AS (
  SELECT grp,
         least(1.0, {TMIX_BUDGET} * n * pow(n_g, {TMIX_ALPHA}) / z / n_g) AS f
  FROM counts CROSS JOIN tot
)
SELECT n.id, n.lang AS grp
FROM nodes n JOIN fr ON fr.grp = n.lang
WHERE ('0x' || substr(md5('tmix' || n.id), 1, 15))::BIGINT % 10000
      < f * 10000"""


# ---------------------------------------------------------------------------
# Mixture build capstone (round 5)
# ---------------------------------------------------------------------------


def q_mixture_pipeline_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-5 mixture build as ONE lazy plan: quality gate +
    exact dedup (corpus_clean) → temperature-scaled language
    rebalance (temperature_mix) → per-language funnel summary
    (lang, n_raw, n_clean, n_kept, tok_kept). Catalyst fuses the
    stages; every per-stage frame this aggregates is |langs|-sized.
    The composition proof for the new sampling/mixing operators —
    same design as curation_pipeline_summary (BASELINE.json north
    star)."""
    nodes, _, _ = model(spark, sf_dir)
    kept = sampling.corpus_clean(nodes, min_quality=0.5)
    d2 = nodes.join(kept.select("id"), "id", "left_semi")
    mix = sampling.temperature_mix(
        d2, group_col="lang", alpha=0.5, budget_frac=0.5
    )
    raw = nodes.groupBy("lang").agg(F.count("*").alias("n_raw"))
    clean = d2.groupBy("lang").agg(F.count("*").alias("n_clean"))
    kt = (
        mix.join(kept.select("id", "n_tokens"), "id")
        .groupBy(F.col("grp").alias("lang"))
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_tokens").alias("tok_kept"),
        )
    )
    return (
        raw.join(clean, "lang", "left")
        .join(kt, "lang", "left")
        .select(
            "lang",
            "n_raw",
            F.coalesce("n_clean", F.lit(0)).alias("n_clean"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("tok_kept", F.lit(0).cast("long")).alias("tok_kept"),
        )
    )


QUERIES["mixture_pipeline_summary"] = q_mixture_pipeline_summary

ORACLES["mixture_pipeline_summary"] = (
    ORACLE_PRELUDE
    + _TOKS
    + _QUALITY
    + """,
passing AS (
  SELECT q.id, q.n_tokens, md5(n.text) AS th
  FROM quality q JOIN nodes n ON n.id = q.id
  WHERE q.quality >= 0.5
),
keepers AS (SELECT th, min(id) AS id FROM passing GROUP BY th),
clean AS (
  SELECT p.id, p.n_tokens, n.lang
  FROM passing p JOIN keepers k ON k.id = p.id
  JOIN nodes n ON n.id = p.id
),
counts AS (SELECT lang AS grp, count(*) AS n_g FROM clean GROUP BY lang),
tot AS (SELECT sum(n_g) AS n, sum(pow(n_g, 0.5)) AS z FROM counts),
fr AS (
  SELECT grp, least(1.0, 0.5 * n * pow(n_g, 0.5) / z / n_g) AS f
  FROM counts CROSS JOIN tot
),
mix AS (
  SELECT c.id, c.lang, c.n_tokens
  FROM clean c JOIN fr ON fr.grp = c.lang
  WHERE ('0x' || substr(md5('tmix' || c.id), 1, 15))::BIGINT % 10000
        < f * 10000
),
raw AS (SELECT lang, count(*) AS n_raw FROM nodes GROUP BY lang),
cl AS (SELECT lang, count(*) AS n_clean FROM clean GROUP BY lang),
kt AS (
  SELECT lang, count(*) AS n_kept, CAST(sum(n_tokens) AS BIGINT) AS tok_kept
  FROM mix GROUP BY lang
)
SELECT r.lang, r.n_raw,
       coalesce(cl.n_clean, 0) AS n_clean,
       coalesce(kt.n_kept, 0) AS n_kept,
       coalesce(kt.tok_kept, 0) AS tok_kept
FROM raw r
LEFT JOIN cl ON cl.lang = r.lang
LEFT JOIN kt ON kt.lang = r.lang"""
)


def q_tmix_incremental_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end proof that a streaming-maintained language-count
    state reproduces the batch temperature mix: documents replay as
    THREE disjoint micro-batches (crc32(id) mod 3) through the real
    foreachBatch machinery, per-lang counts sum-merged into the
    transactional store; the final mixture membership computed from
    the MAINTAINED counts must hash-equal batch temperature_mix (its
    oracle — blind to batches, so a lost batch, double merge, or
    stale snapshot fails the value check). The 100 TB shape: the
    corpus streams in, the |langs|-sized count state is the only
    thing maintained, and the mixture is re-derivable after every
    commit without a corpus rescan."""
    from ..streaming.ingest import incremental_group_count_maintenance
    from .common import replay_batches

    nodes, _, _ = model(spark, sf_dir)
    docs = nodes.select("id", "lang")
    part = F.pmod(F.crc32(F.col("id")), F.lit(3))
    counts = replay_batches(
        spark,
        "tmix_incremental",
        [docs.filter(part == i) for i in range(3)],
        "id string, lang string",
        incremental_group_count_maintenance,
        group_col="lang",
    ).select("grp", F.col("n").alias("n_g"))
    return sampling.temperature_mix(
        nodes, group_col="lang", alpha=0.5, budget_frac=0.5, counts=counts
    )


QUERIES["tmix_incremental_equiv"] = q_tmix_incremental_equiv
ORACLES["tmix_incremental_equiv"] = ORACLES["sample_temperature_mix"]


def q_corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The token-budget retention report → one row per lang
    (lang, n_docs, n_docs_kept, tokens_in, tokens_out, retention):
    what the quality-gate + exact-dedup pipeline (corpus_clean) COSTS
    per language in documents and tokens — the table a data team
    circulates before signing off a corpus build, and the first place
    a biased gate shows up (one language's retention collapsing while
    the corpus-level number looks fine). Exact integer token sums;
    retention quantized to 6dp.

    Scale shape: the kept-id set is the audited corpus_clean plan; the
    report is one LEFT semi-ish join on the id key plus one
    |langs|-sized aggregate — no second pass over text."""
    nodes, _, _ = model(spark, sf_dir)
    ntok = nodes.select(
        "id", "lang", F.size(tokenize("text")).alias("nt")
    )
    kept = sampling.corpus_clean(nodes, min_quality=0.5).select(
        "id", F.lit(1).alias("__k")
    )
    j = ntok.join(kept, "id", "left")
    return j.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.coalesce("__k", F.lit(0))).cast("long").alias("n_docs_kept"),
        F.sum("nt").cast("long").alias("tokens_in"),
        F.sum(F.when(F.col("__k").isNotNull(), F.col("nt")).otherwise(0))
        .cast("long")
        .alias("tokens_out"),
        (
            F.floor(
                F.sum(
                    F.when(F.col("__k").isNotNull(), F.col("nt")).otherwise(0)
                )
                / F.greatest(F.sum("nt"), F.lit(1))
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("retention"),
    )


QUERIES["corpus_token_budget"] = q_corpus_token_budget
ORACLES["corpus_token_budget"] = (
    ORACLE_PRELUDE
    + _TOKS
    + _QUALITY
    + """,
passing AS (
  SELECT q.id, md5(n.text) AS th
  FROM quality q JOIN nodes n ON n.id = q.id
  WHERE q.quality >= 0.5
),
keepers AS (SELECT th, min(id) AS id FROM passing GROUP BY th),
docs AS (SELECT p.id FROM passing p JOIN keepers k ON k.id = p.id),
alltok AS (
  SELECT t.id, n.lang, len(t.t) AS nt
  FROM toks t JOIN nodes n ON n.id = t.id
)
SELECT a.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN d.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_kept,
       CAST(sum(a.nt) AS BIGINT) AS tokens_in,
       CAST(sum(CASE WHEN d.id IS NOT NULL THEN a.nt ELSE 0 END) AS BIGINT)
         AS tokens_out,
       floor(sum(CASE WHEN d.id IS NOT NULL THEN a.nt ELSE 0 END) * 1.0
             / greatest(sum(a.nt), 1) * 1000000.0 + 0.5) / 1000000.0
         AS retention
FROM alltok a LEFT JOIN docs d ON d.id = a.id
GROUP BY a.lang"""
)


def q_split_group_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware (leak-proof) train/eval split audit over events →
    (method, side, n_events, n_units, n_leaky_groups): the naive
    row-hash split strands most users on BOTH sides of the boundary
    (memorization leakage); hashing the user key instead provably
    zeroes the leak — witnessed side by side in one frame. See
    operators/sampling.group_holdout_report."""
    from ..sources import load_table

    ev = load_table(spark, sf_dir, "events")
    return sampling.group_holdout_report(
        ev, unit_col="event_id", group_col="user_id", train_frac=0.9
    )


QUERIES["split_group_holdout"] = q_split_group_holdout
ORACLES["split_group_holdout"] = """
WITH lab AS (
  SELECT 'naive_by_row' AS method,
         CASE WHEN ('0x' || substr(md5('gsplit' ||
                CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
              % 10000 < 9000
         THEN 'train' ELSE 'eval' END AS side,
         user_id AS grp
  FROM events
  UNION ALL
  SELECT 'group_by_key',
         CASE WHEN ('0x' || substr(md5('gsplit' ||
                CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
              % 10000 < 9000
         THEN 'train' ELSE 'eval' END,
         user_id
  FROM events
),
per_side AS (
  SELECT method, side, CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT grp) AS BIGINT) AS n_units
  FROM lab GROUP BY method, side
),
leaky AS (
  SELECT method, CAST(count(*) AS BIGINT) AS n_leaky_groups
  FROM (
    SELECT method, grp
    FROM (SELECT DISTINCT method, grp, side FROM lab)
    GROUP BY method, grp HAVING count(*) = 2
  ) GROUP BY method
)
SELECT p.method, p.side, p.n_events, p.n_units,
       coalesce(l.n_leaky_groups, 0) AS n_leaky_groups
FROM per_side p LEFT JOIN leaky l ON l.method = p.method"""


EPOCH_SHARDS = 16


def q_pack_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-shuffle shard manifest → (shard, n_docs,
    n_chars, first_doc, last_doc): the global training-order shuffle
    done the 100 TB way — no random(), no global sort. Each document
    draws a 60-bit md5 key from (epoch salt, id); shard = key mod 16
    and the WITHIN-shard read order is the key itself, so the
    epoch's permutation is a pure function of (epoch, id):
    reproducible across runs/engines/partitionings, re-drawn by
    changing the salt ('ep1' → 'ep2' reshuffles every boundary).
    The manifest is one map-side-combinable aggregate; first/last doc
    per shard (min_by/max_by on the order key) pin the realized order
    for the gate. A trainer seeks by (shard, order_key) — the shuffle
    itself never materializes."""
    nodes, _, _ = model(spark, sf_dir)
    from ..operators.dedup import stable_hash60

    keyed = nodes.select(
        "id",
        "n_chars",
        stable_hash60(
            F.concat(F.lit("ep1"), F.col("id").cast("string"))
        ).alias("okey"),
    ).withColumn("shard", F.pmod("okey", F.lit(EPOCH_SHARDS)))
    return keyed.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
        F.min_by("id", "okey").alias("first_doc"),
        F.max_by("id", "okey").alias("last_doc"),
    )


QUERIES["pack_epoch_shuffle"] = q_pack_epoch_shuffle
ORACLES["pack_epoch_shuffle"] = ORACLE_PRELUDE + """,
keyed AS (
  SELECT id, n_chars,
         ('0x' || substr(md5('ep1' || id), 1, 15))::BIGINT AS okey
  FROM nodes
)
SELECT okey % 16 AS shard, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       min_by(id, okey) AS first_doc,
       max_by(id, okey) AS last_doc
FROM keyed GROUP BY okey % 16"""

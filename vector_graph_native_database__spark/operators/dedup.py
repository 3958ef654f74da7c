"""Deduplication operators for large-scale training-data pipelines.

Not part of the reference surface — these are the LLM-data-pipeline
operators the north star adds (BASELINE.json): exact dedup,
MinHash+LSH, SimHash, direct n-gram Jaccard, and embedding-cosine
near-dup. All pure DataFrame ops with portable md5-derived hashing so
the DuckDB oracle replays them bit-for-bit.

Scale design:
- exact: one groupBy on a 128-bit content hash — the classic
  map-side-combinable shuffle; at 100 TB you hash + shuffle once.
- MinHash+LSH: explode shingles once, cross a tiny (P rows) perm
  frame, per-(doc, perm) min — then band signatures so the candidate
  join is an equi-join on (band, signature), never an all-pairs
  product. Verification semi-join-prunes the shingle frame to
  candidate doc ids BEFORE building collect_set arrays, so the
  verify shuffle is candidate-sized, never corpus-sized.
- SimHash: per-token hash → 60 weighted bit contributions → sign
  aggregate; candidate pairs via banded 15-bit chunks (pigeonhole:
  hamming ≤ 3 ⇒ at least one of 4 chunks equal), hamming verified
  with bit_count(xor).
- n-gram Jaccard: shingle-postings equi-join (document-pair counts
  from a postings list), never a cross join.
- embedding cosine: the *exact* pairwise check above a threshold,
  executed as blocked matrix multiplication (hash ids into blocks,
  one float64 numpy GEMM per unordered block pair via Arrow-batched
  ``applyInPandas``). Replication factor = #blocks — the unavoidable
  cost of exact all-pairs; when approximate blocking is acceptable,
  run the same operator per-LSH-bucket (ann.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textfn import tokenize

# 15 hex chars = 60 bits: positive in both Spark's and DuckDB's int64.
HASH_HEX_LEN = 15


def stable_hash60(col) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, HASH_HEX_LEN), 16, 10).cast("long")


def shingles(df: DataFrame, id_col: str, text_col: str, k: int = 2) -> DataFrame:
    """→ (id, shingle) — DISTINCT k-token shingles per document."""
    toks = df.select(
        F.col(id_col).alias("id"), tokenize(text_col).alias("toks")
    )
    sh = toks.select(
        "id",
        F.explode(
            F.when(
                F.size("toks") >= k,
                F.expr(
                    f"transform(sequence(1, size(toks) - {k - 1}),"
                    f" i -> array_join(slice(toks, i, {k}), ' '))"
                ),
            ).otherwise(F.array())
        ).alias("shingle"),
    )
    return sh.distinct()


def exact_dedup_groups(
    df: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups → (text_hash, cnt, keeper_id).

    keeper = lexicographic min id; groups of size 1 are excluded
    (nothing to dedup).
    """
    return (
        df.select(
            F.md5(F.col(text_col)).alias("text_hash"),
            F.col(id_col).alias("id"),
        )
        .groupBy("text_hash")
        .agg(F.count("*").alias("cnt"), F.min("id").alias("keeper_id"))
        .filter(F.col("cnt") > 1)
    )


def minhash_signatures(
    sh: DataFrame, num_perms: int = 12
) -> DataFrame:
    """(id, shingle) → (id, perm, minhash) via salted stable hashes.

    One pass: all ``num_perms`` salted-hash minima are computed as
    per-permutation aggregates over a single id-keyed shuffle, then
    unpivoted to the (id, perm, minhash) grain. The former
    perm-crossJoin shape materialized num_perms× the shingle rows
    before the aggregation (optimization round 10, guide §2.3 —
    same md5 count, num_perms× fewer rows through the exchange).
    Values are identical: min over the same salted 60-bit hashes,
    salt string ``f"{perm}|"`` unchanged.
    """
    wide = sh.groupBy("id").agg(
        *[
            F.min(
                stable_hash60(F.concat(F.lit(f"{p}|"), F.col("shingle")))
            ).alias(f"__m{p}")
            for p in range(num_perms)
        ]
    )
    return wide.select(
        "id",
        F.posexplode(
            F.array(*[F.col(f"__m{p}") for p in range(num_perms)])
        ).alias("perm", "minhash"),
    ).select("id", F.col("perm").cast("int").alias("perm"), "minhash")


def shingle_stage(
    spark,
    df: DataFrame,
    cache_key: str,
    k: int = 3,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """Build-once / read-many k-shingle table staged as scratch
    parquet → the (id, shingle) frame read back from disk.

    The k=3 postings family (n-gram Jaccard, containment,
    prefix-filter economics, decontamination) all start from the
    same DISTINCT (id, shingle) frame — a full-corpus
    tokenize + explode + distinct shuffle. Stage it once per
    (cache_key, k) exactly like ``minhash_index_stage`` stages the
    k=2 index; the postings equi-joins that dominate those operators
    then run straight off the staged parquet. Shingle strings
    roundtrip parquet exactly, so staged results are value-identical
    to the in-plan build."""
    import os

    from .staging import staged_index_dir, write_staged

    final = staged_index_dir(
        "shingles", cache_key, f"{k}|tok-v4", salt_file="documents.parquet"
    )

    def _write(tmp: str) -> None:
        shingles(df, id_col, text_col, k).write.parquet(
            os.path.join(tmp, "sh")
        )

    write_staged(final, _write)
    return spark.read.parquet(os.path.join(final, "sh"))


def minhash_index_stage(
    spark,
    df: DataFrame,
    cache_key: str,
    k: int = 2,
    num_perms: int = 12,
    id_col: str = "id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Build-once / read-many MinHash index staged as scratch parquet
    → ``(shingles, signatures)`` read back from disk.

    The shingle table (id, shingle) and signature table
    (id, perm, minhash) are pure functions of the corpus text, so
    they are written ONCE per (cache_key, k, num_perms) under the
    shared scratch root — the ``ivf_index_stage`` idiom extended to
    the text-dedup family — and every consumer (near-dup pairing,
    incremental ingest, band sweeps, eval harnesses, the curation
    funnel) reads the same files instead of re-tokenizing and
    re-signing the same corpus. ``cache_key`` is normally the
    sf_dir; the key is salted with the documents parquet's
    (mtime, size) so a regenerated dataset never serves stale
    shingles. Signatures are built FROM the written shingle parquet
    (one tokenize pass total, and the two artifacts are consistent
    by construction). Shingle strings and 60-bit minhash longs
    roundtrip parquet bit-exactly, so staged results are
    value-identical to the in-plan build.

    Per-id subsets serve from the SAME index: shingles and
    signatures are row-local per document, so
    ``staged.join(ids, "id", "left_semi")`` equals building the
    index on the subset directly — this is how the incremental
    (corpus/batch split) and content-interned (representative-id)
    consumers share one staged build.
    """
    import os

    from .staging import staged_index_dir, write_staged

    final = staged_index_dir(
        "minhash_index",
        cache_key,
        f"{k}|{num_perms}|tok-v4",
        salt_file="documents.parquet",
    )

    def _write(tmp: str) -> None:
        shingles(df, id_col, text_col, k).write.parquet(
            os.path.join(tmp, "shingles")
        )
        sh_disk = spark.read.parquet(os.path.join(tmp, "shingles"))
        minhash_signatures(sh_disk, num_perms).write.parquet(
            os.path.join(tmp, "signatures")
        )

    write_staged(final, _write)
    return (
        spark.read.parquet(os.path.join(final, "shingles")),
        spark.read.parquet(os.path.join(final, "signatures")),
    )


def banded_signatures(
    sig: DataFrame, rows_per_band: int = 4
) -> DataFrame:
    """(id, perm, minhash) → (id, band, sig): the LSH band index rows.

    Band signature = ordered concat of the band's minhashes
    (sort_array over (perm, minhash) structs keeps it deterministic).
    This frame IS the persistable dedup index — the incremental path
    stages the corpus side of it and joins fresh batches against it.
    """
    return (
        sig.withColumn("band", (F.col("perm") / rows_per_band).cast("int"))
        .groupBy("id", "band")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("perm", "minhash"))
                    ),
                    lambda s: s["minhash"].cast("string"),
                ),
                "-",
            ).alias("sig")
        )
    )


def lsh_candidate_pairs(
    sig: DataFrame, rows_per_band: int = 4
) -> DataFrame:
    """Band the signatures; docs sharing any band bucket → (id_a, id_b)."""
    banded = banded_signatures(sig, rows_per_band)
    a = banded.select(
        F.col("id").alias("id_a"), "band", F.col("sig").alias("sig_a")
    )
    b = banded.select(
        F.col("id").alias("id_b"), "band", F.col("sig").alias("sig_b")
    )
    return (
        a.join(
            b,
            (a["band"] == b["band"])
            & (a["sig_a"] == b["sig_b"])
            & (a["id_a"] < b["id_b"]),
        )
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify(
    sh: DataFrame, pairs: DataFrame, threshold: float,
    stage_pairs: bool = True,
) -> DataFrame:
    """Exact Jaccard over distinct shingle sets for candidate pairs
    → (id_a, id_b, jaccard ≥ threshold).

    The candidate frame is staged once (near-dup-sized — the bound
    LSH banding exists to provide) and its id set semi-join-prunes
    the shingle frame BEFORE the collect_set shuffle, so set building
    is bounded by candidate docs, never corpus size. Without the
    prune the verify stage shuffles every document's shingle set —
    corpus-sized work for a candidate-sized answer.
    """
    if stage_pairs:
        pairs = pairs.localCheckpoint(eager=True)
    cand_ids = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sets = (
        sh.join(cand_ids, "id", "left_semi")
        .groupBy("id")
        .agg(F.collect_set("shingle").alias("s"), F.count("*").alias("n"))
    )
    sa = sets.select(
        F.col("id").alias("id_a"), F.col("s").alias("sa"), F.col("n").alias("na")
    )
    sb = sets.select(
        F.col("id").alias("id_b"), F.col("s").alias("sb"), F.col("n").alias("nb")
    )
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", inter / (F.col("na") + F.col("nb") - inter))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    k: int = 2,
    num_perms: int = 12,
    rows_per_band: int = 4,
    threshold: float = 0.8,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """MinHash → LSH bands → exact-Jaccard verify → near-dup pairs.

    ``index`` = a staged ``(shingles, signatures)`` pair from
    ``minhash_index_stage`` — when given, banding and verification
    serve from the staged parquet instead of re-tokenizing and
    re-signing the corpus in-plan (value-identical; see the stage's
    roundtrip note)."""
    if index is not None:
        sh, sig = index
    else:
        sh = shingles(df, id_col, text_col, k)
        sig = minhash_signatures(sh, num_perms)
    pairs = lsh_candidate_pairs(sig, rows_per_band)
    return jaccard_verify(sh, pairs, threshold)


def incremental_lsh_dedup(
    corpus: DataFrame,
    increment: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    k: int = 2,
    num_perms: int = 12,
    rows_per_band: int = 4,
    threshold: float = 0.8,
    stage_index: bool = True,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Dedup the INCREMENT against the corpus in O(increment) work
    → (id_inc, id_corpus, jaccard): the production shape where a
    daily batch is checked against the accumulated corpus without
    re-pairing the corpus with itself.

    The corpus side of the LSH band index (``banded_signatures``) is
    staged once (eager localCheckpoint — the stand-in for the
    persisted index table a deployment maintains, exactly as
    ``bm25_topk_indexed`` stages posting stats); each new batch
    computes ONLY its own signatures and equi-joins the staged index
    on (band, sig), then exact-Jaccard-verifies the candidates. Per
    batch the work is O(|increment| · perms) + one bounded join —
    never O(corpus²), never corpus-side recompute. Requires disjoint
    id spaces between corpus and increment (any real ingest has
    this). The mixed-pair subset equals what the full
    ``minhash_lsh_dedup`` over corpus ∪ increment would emit for
    cross pairs (band collision is symmetric), which is the
    correctness contract the oracle checks.

    ``index`` = a staged full-corpus ``(shingles, signatures)`` pair
    from ``minhash_index_stage`` built over corpus ∪ increment —
    shingles/signatures are row-local per document, so semi-joining
    the staged frames to each side's ids equals building them per
    side (value-identical), with zero in-plan tokenize/sign work.
    """
    if index is not None:
        sh_all, sig_all = index
        c_ids = corpus.select(F.col(id_col).alias("id"))
        i_ids = increment.select(F.col(id_col).alias("id"))
        sh_c = sh_all.join(c_ids, "id", "left_semi")
        sh_i = sh_all.join(i_ids, "id", "left_semi")
        corpus_index = banded_signatures(
            sig_all.join(c_ids, "id", "left_semi"), rows_per_band
        )
        banded_i = banded_signatures(
            sig_all.join(i_ids, "id", "left_semi"), rows_per_band
        )
    else:
        sh_c = shingles(corpus, id_col, text_col, k)
        corpus_index = banded_signatures(
            minhash_signatures(sh_c, num_perms), rows_per_band
        )
        sh_i = shingles(increment, id_col, text_col, k)
        banded_i = banded_signatures(
            minhash_signatures(sh_i, num_perms), rows_per_band
        )
    if stage_index:
        corpus_index = corpus_index.localCheckpoint(eager=True)
    i = banded_i.select(
        F.col("id").alias("id_inc"), "band", F.col("sig").alias("sig_i")
    )
    c = corpus_index.select(
        F.col("id").alias("id_corpus"), "band", F.col("sig").alias("sig_c")
    )
    cand = (
        i.join(c, (i["band"] == c["band"]) & (i["sig_i"] == c["sig_c"]))
        .select("id_inc", "id_corpus")
        .distinct()
        .localCheckpoint(eager=True)  # near-dup-sized; read twice below
    )
    cand_ids = (
        cand.select(F.col("id_inc").alias("id"))
        .unionByName(cand.select(F.col("id_corpus").alias("id")))
        .distinct()
    )
    sets = (
        sh_c.unionByName(sh_i)
        .join(cand_ids, "id", "left_semi")  # candidate-bounded verify
        .groupBy("id")
        .agg(F.collect_set("shingle").alias("s"), F.count("*").alias("n"))
    )
    si = sets.select(
        F.col("id").alias("id_inc"), F.col("s").alias("si"), F.col("n").alias("ni")
    )
    sc = sets.select(
        F.col("id").alias("id_corpus"),
        F.col("s").alias("sc"),
        F.col("n").alias("nc"),
    )
    inter = F.size(F.array_intersect("si", "sc")).cast("double")
    jac = inter / (F.col("ni") + F.col("nc") - inter)
    return (
        cand.join(si, "id_inc")
        .join(sc, "id_corpus")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(jac >= threshold)
        .select("id_inc", "id_corpus", "jaccard")
    )


def _ngram_jaccard_pairs_dense(
    sh: DataFrame, vocab: list[str], threshold: float,
    block_size: int = 2048,
) -> DataFrame:
    """Exact Jaccard pairs over a SMALL CLOSED shingle vocabulary
    → (id_a, id_b, jaccard), id_a < id_b — the dense twin of the
    posting self-join in :func:`ngram_jaccard_pairs`.

    When the measured vocabulary is small (the dispatch condition —
    e.g. the harness corpus's ~931 2-shingles), every posting list is
    corpus-length and the posting join materializes Σ|posting|² rows
    to find a handful of pairs. A V-bit set per document makes the
    intersection counts one integer GEMM instead: hash ids into
    ⌈N/block_size⌉ blocks, one 0/1 matrix product per unordered block
    pair (the ``embedding_cosine_pairs`` blocked-GEMM idiom applied
    to set intersection). Counts are exact integers; jaccard is the
    identical float64 ``c / (na + nb − c)``, so the output is
    value-identical to the posting join (pytest-pinned). Replication
    factor = #blocks — the unavoidable cost of exact all-pairs —
    which is why the caller dispatches on measured V: with an open
    vocabulary the posting join's rare shingles prune better than
    any dense product and this path is never taken.
    """
    import math

    # the posting-join twin preserves the input id type; the GEMM
    # path must declare the same (ADVICE r9: a non-string id would
    # otherwise change schema relative to the posting join)
    id_sql_type = sh.schema["id"].dataType.simpleString()
    idx = {s: i for i, s in enumerate(vocab)}
    nvocab = len(vocab)
    docs = (
        sh.groupBy("id")
        .agg(F.collect_set("shingle").alias("ss"), F.count("*").alias("n"))
    )
    n_docs = docs.count()
    nblocks = max(1, math.ceil(n_docs / block_size))
    base = docs.withColumn(
        "blk", F.pmod(stable_hash60("id"), F.lit(nblocks)).cast("int")
    )
    a_side = base.select(
        "id",
        "ss",
        "n",
        F.col("blk").alias("bi"),
        F.explode(F.sequence("blk", F.lit(nblocks - 1))).alias("bj"),
        F.lit(0).alias("side"),
    ).withColumn("bj", F.col("bj").cast("int"))
    b_side = base.select(
        "id",
        "ss",
        "n",
        F.explode(F.sequence(F.lit(0), "blk")).alias("bi"),
        F.col("blk").alias("bj"),
        F.lit(1).alias("side"),
    ).withColumn("bi", F.col("bi").cast("int"))

    def block_pair_jaccard(pdf):
        import numpy as np
        import pandas as pd

        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        if a.empty or b.empty:
            return pd.DataFrame(columns=["id_a", "id_b", "jaccard"])

        def dense(rows):
            m = np.zeros((len(rows), nvocab), dtype=np.float32)
            lens = [len(x) for x in rows]
            ri = np.repeat(np.arange(len(rows)), lens)
            ci = np.fromiter(
                (idx[s] for x in rows for s in x),
                dtype=np.int64,
                count=sum(lens),
            )
            m[ri, ci] = 1.0
            return m

        ma = dense(a["ss"].to_numpy())
        mb = dense(b["ss"].to_numpy())
        # float32 GEMM is exact here: counts are integers ≤ V ≤ 2^24
        c = (ma @ mb.T).astype(np.float64)
        na = a["n"].to_numpy().astype(np.int64)
        nb = b["n"].to_numpy().astype(np.int64)
        # identical float64 arithmetic to the posting join's
        # c / (na + nb − c); c > 0 mirrors its shared-shingle premise
        jac = c / (na[:, None] + nb[None, :] - c)
        ia, ib = np.nonzero((c > 0) & (jac >= threshold))
        ids_a = a["id"].to_numpy()[ia]
        ids_b = b["id"].to_numpy()[ib]
        vals = jac[ia, ib]
        if pdf["bi"].iloc[0] == pdf["bj"].iloc[0]:
            keep = ids_a < ids_b
            ids_a, ids_b, vals = ids_a[keep], ids_b[keep], vals[keep]
        else:
            swap = ids_a > ids_b
            lo = np.where(swap, ids_b, ids_a)
            hi = np.where(swap, ids_a, ids_b)
            ids_a, ids_b = lo, hi
        return pd.DataFrame({"id_a": ids_a, "id_b": ids_b, "jaccard": vals})

    return (
        a_side.unionByName(b_side)
        .groupBy("bi", "bj")
        .applyInPandas(
            block_pair_jaccard,
            f"id_a {id_sql_type}, id_b {id_sql_type}, jaccard double",
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    sh: DataFrame | None = None,
    prefix_filter: bool = False,
    dense_max_vocab: int = 0,
) -> DataFrame:
    """Direct n-gram Jaccard via a shingle-postings equi-join.

    Intersection counts come from joining the postings list with
    itself on the shingle key (never an all-pairs product); union
    sizes via per-doc distinct counts. Pass ``sh`` (a prebuilt —
    e.g. staged — (id, shingle) frame for ``df``) to skip the
    in-plan tokenize; ``k`` must match how ``sh`` was shingled.

    ``prefix_filter=True`` prunes the posting self-join with
    AllPairs/PPJoin prefix filtering — the LOSSLESS candidate cut
    :func:`jaccard_prefix_filter_report` measures, applied to the
    production path: each document's shingles are ordered by
    ascending global document frequency (ties by shingle —
    deterministic) and only the first ``n − ⌊θ·n⌋ + 1`` join as
    candidates (any pair with Jaccard ≥ θ must collide inside these
    prefixes — pigeonhole on the ≥ ⌈θ·n⌉ shared elements; ⌊·⌋ only
    ever LENGTHENS the prefix vs the tight ⌈·⌉ bound, so float
    rounding can add candidates, never drop one). The full
    intersection then runs over the postings of candidate-pair ids
    only (semi-join prune), and the final exact-Jaccard filter keeps
    precisely the same pairs as the unfiltered join — output is
    value-identical (pytest-pinned); the DuckDB oracle keeps the
    naive SQL either way.

    Default OFF, by measurement, not principle: the harness corpus
    has a ~931-bigram vocabulary, so even the rarest shingle posts
    hundreds of documents and prefixes prune almost nothing — the
    filtered plan ran 23.9s vs 20.7s naive at sf0.1 (round 9). On a
    realistic open-vocabulary corpus the rare-shingle prefixes are
    where the Σ|posting|² blow-up collapses, and a 100 TB deployment
    turns this on (or dispatches on measured vocabulary/posting
    skew).

    ``dense_max_vocab=N`` is the other arm of that dispatch: probe
    the vocabulary size (LIMIT-bounded) and, when V ≤ N — the
    closed-vocabulary regime where posting lists are corpus-length
    and the Σ|posting|² join volume is the cost — compute the
    identical pairs with the dense blocked-GEMM twin
    (:func:`_ngram_jaccard_pairs_dense`). Off by default;
    value-identical either way (pytest-pinned).
    """
    from pyspark.sql import Window

    if sh is None:
        sh = shingles(df, id_col, text_col, k)
    if dense_max_vocab and not prefix_filter and threshold > 0:
        # measured dispatch (SCALING.md): a closed vocabulary defeats
        # posting-join pruning (every list is corpus-length), so when
        # the measured V is small the dense blocked-GEMM twin computes
        # the identical pairs at a fraction of the join volume. The
        # probe is one LIMIT-bounded pass over the (staged) shingle
        # frame; V > dense_max_vocab falls through to the posting
        # join unchanged.
        probe = (
            sh.select("shingle")
            .distinct()
            .limit(dense_max_vocab + 1)
            .collect()
        )
        if len(probe) <= dense_max_vocab:
            vocab = sorted(r[0] for r in probe)
            return _ngram_jaccard_pairs_dense(sh, vocab, threshold)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    if prefix_filter:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("df_"))
        prefix = (
            sh.join(freq, "shingle")
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("id").orderBy("df_", "shingle")
                ),
            )
            .join(sizes, "id")
            .filter(
                F.col("rn")
                <= F.col("n")
                - F.floor(F.lit(threshold) * F.col("n"))
                + F.lit(1)
            )
            .select("id", "shingle")
        )
        pa = prefix.select(F.col("id").alias("id_a"), "shingle")
        pb = prefix.select(F.col("id").alias("id_b"), "shingle")
        cand = (
            pa.join(pb, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        cand_ids = (
            cand.select(F.col("id_a").alias("id"))
            .union(cand.select(F.col("id_b").alias("id")))
            .distinct()
        )
        sh = sh.join(cand_ids, "id", "left_semi")
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("c"))
    )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_values(
    df: DataFrame, id_col: str = "id", text_col: str = "text", bits: int = 60
) -> DataFrame:
    """60-bit tf-weighted SimHash per document → (id, simhash).

    Per token: one stable 60-bit hash; each bit contributes
    ``tf * (2*bit - 1)``; the fingerprint sets bit b iff the summed
    contribution is positive. Documents with no tokens get simhash 0.
    """
    tf = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode_outer(tokenize(text_col)).alias("tok"),
        )
        .groupBy("id", "tok")
        .agg(F.count("tok").alias("tf"))
        .withColumn("h", F.when(F.col("tok").isNotNull(), stable_hash60("tok")))
    )
    contrib = tf.select(
        "id",
        F.explode(
            F.when(
                F.col("h").isNotNull(),
                F.expr(
                    f"transform(sequence(0, {bits - 1}),"
                    " b -> struct(b as b,"
                    " tf * ((shiftright(h, b) & 1) * 2 - 1) as c))"
                ),
            ).otherwise(F.array())
        ).alias("bc"),
    ).select("id", F.col("bc.b").alias("b"), F.col("bc.c").alias("c"))
    bits_df = (
        contrib.groupBy("id", "b")
        .agg(F.sum("c").alias("s"))
        .withColumn(
            "bitval",
            F.when(
                F.col("s") > 0, F.expr("shiftleft(cast(1 as bigint), b)")
            ).otherwise(F.lit(0).cast("long")),
        )
    )
    all_ids = df.select(F.col(id_col).alias("id"))
    return all_ids.join(
        bits_df.groupBy("id").agg(F.sum("bitval").alias("simhash")),
        "id",
        "left_outer",
    ).select("id", F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash"))


def simhash_near_pairs(
    sim: DataFrame, max_hamming: int = 3, chunks: int = 4, chunk_bits: int = 15
) -> DataFrame:
    """Near-dup pairs by SimHash: banded 15-bit chunks as candidates
    (pigeonhole: hamming ≤ chunks-1 guarantees a shared chunk),
    verified with bit_count(xor) → (id_a, id_b, hamming)."""
    chunked = sim.select(
        "id",
        "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {chunks - 1}),"
                f" c -> struct(c as c,"
                f" shiftright(simhash, c * {chunk_bits})"
                f" & {(1 << chunk_bits) - 1} as v))"
            )
        ).alias("ch"),
    ).select("id", "simhash", F.col("ch.c").alias("c"), F.col("ch.v").alias("v"))
    a = chunked.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("ha"), "c", "v"
    )
    b = chunked.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("hb"), "c", "v"
    )
    return (
        a.join(b, ["c", "v"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.expr("bit_count(ha ^ hb)").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_cosine_pairs_lsh(
    emb: DataFrame,
    threshold: float = 0.4,
    num_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate near-dup pairs: exact cosine WITHIN each
    sign-projection LSH bucket → (id_a, id_b, cos), id_a < id_b.

    The scale path the exact variant documents: bucketing bounds each
    group to vectors that agree on all ``num_planes`` hyperplane
    signs, so the per-bucket pairwise check replaces the global
    all-pairs replication. Recall is the LSH trade-off (near-dups
    split across buckets are missed); precision is exact because the
    cosine is computed, not estimated. Deterministic md5-derived
    hyperplanes keep it DuckDB-replayable.
    """
    from .ann import hyperplanes, lsh_buckets

    bucketed = lsh_buckets(
        emb.filter(F.size("vector") == dim),
        hyperplanes(emb.sparkSession, num_planes, dim),
    )
    a = bucketed.select(
        F.col("node_id").alias("id_a"), F.col("vector").alias("va"), "bucket"
    )
    b = bucketed.select(
        F.col("node_id").alias("id_b"), F.col("vector").alias("vb"), "bucket"
    )
    from ..functions.vectorfn import cosine

    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine("va", "vb"))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def embedding_cosine_pairs_multiprobe(
    emb: DataFrame,
    threshold: float = 0.4,
    num_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Hamming-1 multi-probe variant of ``embedding_cosine_pairs_lsh``
    → (id_a, id_b, cos), id_a < id_b: candidate pairs are vectors
    whose sign-LSH buckets differ in AT MOST one bit, recovering
    near-dups split by exactly one hyperplane — the recall fix for
    the single-probe trade documented there, at (num_planes+1)× the
    bounded candidate cost. Each unordered pair is generated exactly
    once: the probe side enumerates bucket ∪ single-bit flips, the
    build side keeps its own bucket, and ``id_a < id_b`` keeps one
    orientation (a pair's two buckets can collide on only one probe
    value). Precision stays exact — the cosine is computed, never
    estimated.
    """
    from .ann import _multiprobe_sides
    from ..functions.vectorfn import cosine

    a, b = _multiprobe_sides(emb, num_planes, dim)
    return (
        a.join(b, "pbucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine("va", "vb"))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def semdedup(
    emb: DataFrame,
    n_centroids: int = 8,
    iters: int = 2,
    threshold: float = 0.4,
    dim: int = 64,
    index=None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication")
    → (id, cluster, kept).

    Cluster the embedding space with k-means, then deduplicate ONLY
    within clusters: a vector is dropped (kept = 0) when a
    lower-numeric-id member of its own cluster has cosine ≥
    ``threshold`` with it. The keep-lowest-id rule replaces the
    paper's keep-random — deterministic, hence oracle-replayable;
    the paper itself shows the in-cluster keeper choice barely
    matters.

    Scale design: this is the paper's answer to all-pairs dedup at
    web scale — k-means (broadcast-centroid Lloyd, ``kmeans_assign``)
    partitions the corpus so the quadratic step is an equi-join on
    the cluster id, bounded by cluster size, never global. At 100 TB,
    k grows with the corpus (the paper uses ~0.1% of N) keeping
    clusters ~constant-sized; a skewed giant cluster sub-buckets
    with the sign-LSH variant (``embedding_cosine_pairs_lsh``)
    inside the cluster. No reference counterpart (BASELINE.json
    north star).
    """
    from .ann import kmeans_assign
    from ..functions.vectorfn import cosine

    if index is not None:
        # Serve from the shared staged IVF index (ivf_index_stage):
        # kmeans_assign IS the same deterministic training, and the
        # staged assignment already carries each member's vector, so
        # the in-cluster join reads the cidx-partitioned parquet
        # directly — co-partitioned by construction.
        av = index[1].select(
            "id", F.col("cidx").alias("cluster"), "vector"
        )
        assign = av.select("id", "cluster")
    else:
        assign = kmeans_assign(emb, n_centroids, iters, dim).select(
            "id", "cluster"
        )
        vecs = emb.filter(F.size("vector") == dim).select(
            F.col("node_id").alias("id"), "vector"
        )
        av = assign.join(vecs, "id")
    a = av.select(
        F.col("id").alias("id_a"),
        F.col("cluster").alias("cl"),
        F.col("vector").alias("va"),
    )
    b = av.select(
        F.col("id").alias("id_b"),
        F.col("cluster").alias("cl"),
        F.col("vector").alias("vb"),
    )
    dropped = (
        a.join(b, "cl")
        .filter(F.col("id_a").cast("long") < F.col("id_b").cast("long"))
        .withColumn("cos", cosine("va", "vb"))
        .filter(F.col("cos") >= threshold)
        .select(F.col("id_b").alias("id"))
        .distinct()
        .withColumn("__drop", F.lit(1))
    )
    return assign.join(dropped, "id", "left").select(
        "id",
        "cluster",
        F.when(F.col("__drop").isNotNull(), F.lit(0))
        .otherwise(F.lit(1))
        .alias("kept"),
    )


def semdedup_keep_central(
    emb: DataFrame,
    n_centroids: int = 8,
    iters: int = 2,
    threshold: float = 0.4,
    dim: int = 64,
    index=None,
) -> DataFrame:
    """SemDeDup with the PAPER'S keeper rule → (id, cluster, grp,
    kept): within each in-cluster duplicate COMPONENT (connected
    ≥threshold cosine pairs), keep the member with the LOWEST
    similarity to its centroid — i.e. the largest k-means distance —
    the rule Abbas et al. 2023 found best preserves downstream
    accuracy (the component edge keeps more of the cluster's
    diversity than keeping the most typical member would).

    The min-id variant (``semdedup``) is the cheap deterministic
    default; this one adds the transitive-component pass (the same
    pointer-jumping components as cluster_from_pairs — O(log
    diameter) rounds over the PAIR frame, which is ≪ corpus) and an
    argmax-by-distance keeper per component (one window over the
    component partitioning; 6dp-rounded distances + id tie-break
    keep it engine-portable). Singletons — cluster members with no
    ≥threshold neighbor — form their own group and are kept.
    """
    from pyspark.sql.window import Window

    from .ann import kmeans_assign
    from .curation import cluster_from_pairs
    from ..functions.vectorfn import cosine

    # Stage the assignment: it feeds the pair join, the keeper
    # window, AND the singleton anti-join — without the eager
    # checkpoint each consumer (and every pointer-jumping component
    # round downstream) would replay the Lloyd training from scratch
    # (the dedup_cluster_from_pairs staging lesson).
    if index is not None:
        # staged serving: the assignment (with per-member distance to
        # its own centroid — identical doubles, see kmeans_assign) is
        # a parquet read + one broadcast join, and the pair join
        # reads the cidx-partitioned files directly
        assign = kmeans_assign(emb, n_centroids, iters, dim, index=index)
        av = index[1].select(
            "id", F.col("cidx").alias("cluster"), "vector"
        )
    else:
        assign = kmeans_assign(emb, n_centroids, iters, dim).localCheckpoint(
            eager=True
        )
        vecs = emb.filter(F.size("vector") == dim).select(
            F.col("node_id").alias("id"), "vector"
        )
        av = assign.join(vecs, "id")
    a = av.select(
        F.col("id").alias("id_a"),
        F.col("cluster").alias("cl"),
        F.col("vector").alias("va"),
    )
    b = av.select(
        F.col("id").alias("id_b"),
        F.col("cluster").alias("cl"),
        F.col("vector").alias("vb"),
    )
    # The pair frame is likewise staged before the component rounds.
    pairs = (
        a.join(b, "cl")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine("va", "vb"))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    comp = cluster_from_pairs(pairs).select(
        "id", F.col("cluster").alias("grp")
    )
    w = Window.partitionBy("grp").orderBy(F.desc("dist"), F.asc("id"))
    grouped = (
        comp.join(assign, "id")
        .withColumn("kept", (F.row_number().over(w) == 1).cast("int"))
        .select("id", "cluster", "grp", "kept")
    )
    singles = (
        assign.join(comp.select("id"), "id", "left_anti")
        .select(
            "id", "cluster", F.col("id").alias("grp"), F.lit(1).alias("kept")
        )
    )
    return grouped.unionByName(singles)


def embedding_cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    block_size: int = 2048,
    n_rows: int | None = None,
) -> DataFrame:
    """Exact near-dup pairs by embedding cosine ≥ threshold
    → (id_a, id_b, cos) with id_a < id_b.

    Blocked matrix multiplication: ids are hashed into ⌈N/block_size⌉
    blocks, every unordered block pair (i ≤ j) becomes one group, and
    an Arrow-batched ``applyInPandas`` computes the block-pair cosine
    matrix as one float64 numpy GEMM. Each unordered doc pair lands
    in exactly one group, so no post-dedup is needed. This replaces
    the naive self-join whose per-element interpreted cosine is
    ~20× slower, and it is the shape that scales: replication factor
    is ⌈N/block_size⌉ (the unavoidable cost of EXACT all-pairs), each
    task is dense BLAS, and the same operator runs per-LSH-bucket
    when approximate blocking is acceptable (see ann.py).

    Block count needs the row count N. Pass ``n_rows`` to keep the
    builder fully lazy (a deployment knows its store's size from
    table metadata — at 100 TB that's a catalog lookup, not a scan);
    when omitted, the builder runs one eager ``count()`` — a
    column-pruned parquet scan resolved from footer statistics, but
    still an action inside plan construction, so callers composing
    lazy pipelines should prefer passing it.
    """
    import math

    n = emb.count() if n_rows is None else n_rows
    nblocks = max(1, math.ceil(n / block_size))

    base = emb.select(
        F.col("node_id").alias("id"),
        "vector",
        "dim",
        F.pmod(stable_hash60("node_id"), F.lit(nblocks)).cast("int").alias("blk"),
    )
    # A side: block b participates in pairs (b, b..nblocks-1)
    a_side = base.select(
        "id",
        "vector",
        "dim",
        F.col("blk").alias("bi"),
        F.explode(F.sequence("blk", F.lit(nblocks - 1))).alias("bj"),
        F.lit(0).alias("side"),
    ).withColumn("bj", F.col("bj").cast("int"))
    # B side: block b participates in pairs (0..b, b)
    b_side = base.select(
        "id",
        "vector",
        "dim",
        F.explode(F.sequence(F.lit(0), "blk")).alias("bi"),
        F.col("blk").alias("bj"),
        F.lit(1).alias("side"),
    ).withColumn("bi", F.col("bi").cast("int"))

    def block_pair_cosines(pdf):
        import numpy as np
        import pandas as pd

        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        if a.empty or b.empty:
            return pd.DataFrame(columns=["id_a", "id_b", "cos"])
        ma = np.stack(a["vector"].to_numpy()).astype(np.float64)
        mb = np.stack(b["vector"].to_numpy()).astype(np.float64)
        na = np.linalg.norm(ma, axis=1)
        nb = np.linalg.norm(mb, axis=1)
        na[na == 0] = 1.0
        nb[nb == 0] = 1.0
        cos = (ma / na[:, None]) @ (mb / nb[:, None]).T
        ia, ib = np.nonzero(cos >= threshold)
        ids_a = a["id"].to_numpy()[ia]
        ids_b = b["id"].to_numpy()[ib]
        vals = cos[ia, ib]
        if pdf["bi"].iloc[0] == pdf["bj"].iloc[0]:
            # same-block group sees both orderings of every pair —
            # keep the ascending one
            keep = ids_a < ids_b
            ids_a, ids_b, vals = ids_a[keep], ids_b[keep], vals[keep]
        else:
            # cross-block pairs appear exactly once; normalize order
            lo = np.minimum(ids_a, ids_b)
            hi = np.maximum(ids_a, ids_b)
            ids_a, ids_b = lo, hi
        return pd.DataFrame({"id_a": ids_a, "id_b": ids_b, "cos": vals})

    return (
        a_side.unionByName(b_side)
        .groupBy("dim", "bi", "bj")
        .applyInPandas(block_pair_cosines, "id_a string, id_b string, cos double")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.6,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT near-dup pairs
    → (id_a, id_b, containment).

    ``containment = |S(a)∩S(b)| / min(|S(a)|, |S(b)|)`` — Broder's
    containment measure. Jaccard misses the quote/excerpt case (a
    short doc fully embedded in a long one scores low because the
    union is dominated by the long doc); containment normalizes by
    the SMALLER shingle set, so an excerpt scores ~1 regardless of
    the host's length. The candidate generation is the identical
    shingle-postings equi-join as ``ngram_jaccard_pairs`` (shared
    scale bound: Σ posting-list², never all-pairs); only the final
    normalizer differs, so both measures can share one posting
    frame in a fused pipeline. Pass ``sh`` (a prebuilt — e.g.
    staged — (id, shingle) frame for ``df``) to skip the in-plan
    tokenize.
    """
    if sh is None:
        sh = shingles(df, id_col, text_col, k)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("c"))
    )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
    cont6 = F.floor(
        F.col("c").cast("double")
        / F.least("na", "nb")
        * F.lit(1e6)
        + F.lit(0.5)
    ) / F.lit(1e6)
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("containment", cont6)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def exact_dedup_groups_normalized(
    df: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups under CONTENT NORMALIZATION →
    (text_hash, cnt, keeper_id): lowercase, collapse whitespace runs,
    trim, THEN hash — the practical exact-dedup every corpus pipeline
    runs (CCNet et al.), catching re-encoded/re-wrapped copies that
    byte-identical hashing misses. Same single map-side-combinable
    groupBy shape as :func:`exact_dedup_groups`; the normalization is
    three JVM string expressions fused into the scan projection.
    """
    from ..functions.textfn import normalize_ws

    return (
        df.select(
            F.md5(normalize_ws(text_col)).alias("text_hash"),
            F.col(id_col).alias("id"),
        )
        .groupBy("text_hash")
        .agg(F.count("*").alias("cnt"), F.min("id").alias("keeper_id"))
        .filter(F.col("cnt") > 1)
    )


def jaccard_prefix_filter_report(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    k: int = 3,
    sh: DataFrame | None = None,
) -> DataFrame:
    """AllPairs/PPJoin prefix filtering for the θ=0.5 Jaccard
    set-similarity join → ONE row
    (n_pairs_full, n_pairs_prefix, n_matches, n_matches_prefix):
    the candidate-generation economics of near-dup search, measured.

    The plain posting join emits every pair sharing ANY shingle
    (n_pairs_full — the quadratic-ish cost driver). Prefix filtering
    orders each document's shingles by ascending global document
    frequency (rarest first; ties by shingle — deterministic) and
    keeps only the first p = n − ⌈θ·n⌉ + 1 of them: two sets with
    Jaccard ≥ θ MUST collide inside their prefixes (pigeonhole on the
    ≥ ⌈θ·n⌉ shared elements), so joining prefixes alone
    (n_pairs_prefix) is a LOSSLESS prune — witnessed in-row by
    n_matches = n_matches_prefix, where matches are verified with the
    integer cross-multiplied test 2c ≥ (na + nb − c) (θ = 1/2 kept
    rational so no float ever decides membership; ⌈n/2⌉ is the
    integer (n+1) div 2).

    Scale shape: postings → document-frequency agg (map-side
    combinable) → per-DOC window for the frequency rank (partitioned
    by doc id, frame = that doc's shingles, never global) → two
    shingle-keyed equi-joins counted DISTINCT per pair. The rarest
    shingles carry the fewest postings, which is exactly why the
    prefix join's fan-out collapses at 100 TB — frequency-ascending
    prefixes are the skew-avoidance built into the algorithm.
    """
    from pyspark.sql import Window

    if sh is None:
        sh = shingles(df, id_col, text_col, k)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df_"))
    ranked = (
        sh.join(freq, "shingle")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("id").orderBy("df_", "shingle")
            ),
        )
        .join(sizes, "id")
        .withColumn(
            "plen",
            F.col("n")
            - F.floor((F.col("n") + F.lit(1)) / F.lit(2))
            + F.lit(1),
        )
    )
    prefix = ranked.filter(F.col("rn") <= F.col("plen")).select(
        "id", "shingle"
    )

    # ONE posting self-join + (id_a, id_b) count aggregation feeds
    # BOTH n_pairs_full (its row count — a row per distinct
    # co-occurring pair, exactly what the old distinct-count pass
    # recomputed) and the verified-match filter (optimization round
    # 10, guide §2.4: the full posting join is the report's dominant
    # cost and ran twice). Kept LAZY: an eager checkpoint of the pair
    # frame was measured 2s SLOWER in the one-shot bench context (it
    # serializes the materialization that the in-plan consumers
    # otherwise overlap across the executor pool; AQE's stage reuse
    # already dedups the identical aggregation exchange). (The
    # dense-GEMM twin the round-9 verdict suggested for this exact
    # side was measured and rejected: the k=3 vocabulary is ~27k
    # shingles at sf0.1 — far above the closed-vocabulary regime
    # where the blocked product beats rare-shingle posting pruning.)
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    pair_c = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("c"))
    )
    inter = (
        pair_c.join(
            sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb")),
            "id_b",
        )
        .filter(
            F.lit(2) * F.col("c") >= F.col("na") + F.col("nb") - F.col("c")
        )
        .select("id_a", "id_b")
    )
    pa = prefix.select(F.col("id").alias("id_a"), "shingle")
    pb = prefix.select(F.col("id").alias("id_b"), "shingle")
    cand_prefix = (
        pa.join(pb, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    matches_prefix = inter.join(cand_prefix, ["id_a", "id_b"]).agg(
        F.count("*").alias("cnt")
    )
    n_matches = inter.agg(F.count("*").alias("cnt"))
    return (
        pair_c.agg(F.count("*").alias("n_pairs_full"))
        .crossJoin(
            F.broadcast(
                cand_prefix.agg(
                    F.count("*").alias("n_pairs_prefix")
                )
            )
        )
        .crossJoin(
            F.broadcast(n_matches.select(F.col("cnt").alias("n_matches")))
        )
        .crossJoin(
            F.broadcast(
                matches_prefix.select(
                    F.col("cnt").alias("n_matches_prefix")
                )
            )
        )
    )


def blocked_er_matches(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_col,
    max_dist: int = 2,
) -> DataFrame:
    """Blocked entity resolution by edit distance → one row per
    proposed merge (name_a, name_b, lev_dist, n_a, n_b, canon_id):
    the record-linkage primitive (same real-world entity, differently
    spelled keys) with BLOCKING as the scale strategy.

    Records first collapse to the entity-name grain (count + minimum
    record id per distinct name) — dirty data dedups millions of rows
    into thousands of names before any comparison. Candidate pairs
    come ONLY from an equi-join on the blocking key (``block_col``,
    e.g. a phonetic code, a token, a sorted-neighborhood prefix):
    cross-block pairs are never generated, which is what turns the
    O(n²) all-pairs comparison into Σ_b |block_b|² over small blocks.
    Within a block, pairs are scored by Levenshtein distance (JVM
    built-in, whole-stage codegen) and kept at ≤ ``max_dist``;
    canon_id = least record id of the two sides — the deterministic
    merge target. Skewed blocks (one giant phonetic bucket) are the
    known failure mode; the fix at 100 TB is a second, finer blocking
    key, not a bigger cluster."""
    ents = (
        df.select(
            F.col(name_col).alias("name"),
            F.col(id_col).alias("rid"),
            block_col.alias("blk"),
        )
        .groupBy("name", "blk")
        .agg(F.count("*").alias("n_recs"), F.min("rid").alias("min_id"))
    )
    a = ents.select(
        "blk",
        F.col("name").alias("name_a"),
        F.col("n_recs").alias("n_a"),
        F.col("min_id").alias("id_a"),
    )
    b = ents.select(
        "blk",
        F.col("name").alias("name_b"),
        F.col("n_recs").alias("n_b"),
        F.col("min_id").alias("id_b"),
    )
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("lev_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("lev_dist") <= max_dist)
        .select(
            "name_a",
            "name_b",
            "lev_dist",
            "n_a",
            "n_b",
            F.least("id_a", "id_b").alias("canon_id"),
        )
    )

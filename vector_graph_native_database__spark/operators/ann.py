"""Similarity search over an embedding column.

Two tiers, as a 100 TB pipeline needs them:

- ``brute_topk``: exact cosine top-k for a batch of query vectors.
  The query side is tiny and broadcast; scoring is a map-only
  ``zip_with``/``aggregate`` expression over the embeddings scan and
  per-query top-k is a rank-filter window partitioned by query id —
  a shuffle on query id only, never an all-pairs materialization.
- ``lsh_bucketed_topk``: the scale path — sign-random-projection LSH.
  Hyperplanes are derived deterministically from md5 (portable to the
  DuckDB oracle, reproducible across runs/engines). Every vector gets
  a bucket = sign-bit signature; search only compares query vs
  same-bucket candidates. At 100 TB the bucketed table is written
  partitioned by bucket, so a query touches one partition
  (partition-pruned scan) instead of the corpus.

MLlib's BucketedRandomProjectionLSH provides the same shape; we keep
the arithmetic in plain column expressions so the oracle can verify
it and no VectorUDT conversions enter the hot path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectorfn import cosine, dot, stable_round6


def brute_topk(
    emb: DataFrame,
    query_ids: list[str],
    k: int = 10,
    round_scores: int | None = None,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query id
    → (qid, id, cos, rnk). Self-matches excluded. ``allowed`` (an
    id-column frame) restricts the CANDIDATES — not the queries — so
    it is the exact ground truth for filtered ANN search."""
    q = emb.filter(F.col("node_id").isin(query_ids)).select(
        F.col("node_id").alias("qid"), F.col("vector").alias("qvec"), "dim"
    )
    cands = emb
    if allowed is not None:
        cands = cands.join(
            allowed.select(F.col("id").alias("node_id")),
            "node_id",
            "left_semi",
        )
    scored = (
        cands.join(F.broadcast(q), "dim")
        .filter(F.col("node_id") != F.col("qid"))
        .withColumn("cos", cosine("vector", "qvec"))
    )
    if round_scores is not None:
        scored = scored.withColumn("cos", F.round("cos", round_scores))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("node_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", F.col("node_id").alias("id"), "cos", "rnk")
    )


def hard_negatives_topk(
    emb: DataFrame,
    meta: DataFrame,
    query_ids: list[str],
    k: int = 5,
    round_scores: int | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training → per query the
    top-k most-similar vectors whose document comes from a DIFFERENT
    ``source`` than the query's (qid, id, cos, rnk): near in embedding
    space but cross-domain — the negatives that actually teach a
    bi-encoder, vs the trivially-easy random ones.

    ``meta`` is an (id, source) frame. Scale shape: metadata attaches
    to the embedding scan by one equi-join on the id key (at 100 TB
    both sides bucket on id, or meta broadcasts when it is a dim
    table); queries + their sources broadcast; the cross-source rule
    is a cheap per-row disequality FILTER after the broadcast join —
    never a join condition — and per-query top-k is the same
    rank-window shuffle on qid as brute_topk.
    """
    m = meta.select(F.col("id").alias("node_id"), "source")
    e = emb.join(m, "node_id")
    q = e.filter(F.col("node_id").isin(query_ids)).select(
        F.col("node_id").alias("qid"),
        F.col("vector").alias("qvec"),
        "dim",
        F.col("source").alias("qsource"),
    )
    scored = (
        e.join(F.broadcast(q), "dim")
        .filter(F.col("node_id") != F.col("qid"))
        .filter(F.col("source") != F.col("qsource"))
        .withColumn("cos", cosine("vector", "qvec"))
    )
    if round_scores is not None:
        scored = scored.withColumn("cos", F.round("cos", round_scores))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("node_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", F.col("node_id").alias("id"), "cos", "rnk")
    )


def range_search(
    emb: DataFrame,
    query_ids: list[str],
    tau: float = 0.25,
) -> DataFrame:
    """Cosine RADIUS query: every neighbor with cos ≥ tau per query
    → (qid, id, cos). Self-matches excluded.

    The range twin of ``brute_topk`` — same broadcast-query scan
    (|queries| ≪ |emb|, so the query side broadcasts and the big
    side never shuffles), but the predicate is a threshold instead
    of a rank window: no window, no shuffle AT ALL — scan, broadcast
    hash join, filter. The 100 TB shape is therefore strictly better
    than top-k (map-only); the result size is data-dependent, which
    is the caller's contract for a radius query. Scores are
    stable-rounded to 6dp BEFORE the threshold compare so the
    boundary decision is identical in any engine.
    """
    q = emb.filter(F.col("node_id").isin(query_ids)).select(
        F.col("node_id").alias("qid"), F.col("vector").alias("qvec"), "dim"
    )
    cos6 = stable_round6(cosine("vector", "qvec"))
    return (
        emb.join(F.broadcast(q), "dim")
        .filter(F.col("node_id") != F.col("qid"))
        .withColumn("cos", cos6)
        .filter(F.col("cos") >= tau)
        .select("qid", F.col("node_id").alias("id"), "cos")
    )


def brute_topk_euclidean(
    emb: DataFrame,
    query_ids: list[str],
    k: int = 5,
) -> DataFrame:
    """Exact EUCLIDEAN top-k neighbors for each query id
    → (qid, id, dist, rnk). Self-matches excluded.

    The L2 twin of ``brute_topk`` and the ground truth the
    approximate Euclidean paths (``mllib_lsh_topk``) are judged
    against: same broadcast-query / rank-filter-window plan, but the
    score is √Σ(aᵢ−bᵢ)² computed as a sequential squared-diff fold in
    double — the exact summation MLlib's ``sqdist`` performs, so an
    MLlib candidate's distance and this frame's distance agree
    bit-for-bit on shared pairs. Distances are stable-rounded to 6dp
    BEFORE ranking (id tiebreak) so the ranking is engine-portable to
    the DuckDB oracle.
    """
    q = emb.filter(F.col("node_id").isin(query_ids)).select(
        F.col("node_id").alias("qid"), F.col("vector").alias("qvec"), "dim"
    )
    d2 = F.aggregate(
        F.zip_with(
            "vector",
            "qvec",
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dist6 = stable_round6(F.sqrt(d2))
    w = Window.partitionBy("qid").orderBy(F.asc("dist"), F.asc("node_id"))
    return (
        emb.join(F.broadcast(q), "dim")
        .filter(F.col("node_id") != F.col("qid"))
        .withColumn("dist", dist6)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", F.col("node_id").alias("id"), "dist", "rnk")
    )


def hyperplanes(spark, num_planes: int = 8, dim: int = 64) -> DataFrame:
    """Deterministic pseudo-random hyperplanes → (plane, weights).

    weight(p, d) = (md5-derived integer in [0, 2000] - 1000) / 1000,
    i.e. uniform-ish in [-1, 1], identically computable in DuckDB.
    """
    return spark.range(num_planes).select(
        F.col("id").cast("int").alias("plane"),
        F.expr(
            f"transform(sequence(0, {dim - 1}), d ->"
            " (cast(conv(substr(md5(concat('p', id, 'd', d)), 1, 8), 16, 10)"
            " as bigint) % 2001 - 1000) / 1000.0)"
        ).alias("weights"),
    )


def lsh_buckets(
    emb: DataFrame, planes: DataFrame
) -> DataFrame:
    """Assign every vector its sign-projection bucket → (node_id,
    vector, dim, bucket). bucket = Σ (dot(v, plane_p) >= 0) << p."""
    proj = (
        emb.crossJoin(F.broadcast(planes))
        .withColumn("proj", dot("vector", "weights"))
        .withColumn(
            "bit",
            F.when(
                F.col("proj") >= 0, F.expr("cast(1 as bigint) << plane")
            ).otherwise(F.lit(0).cast("long")),
        )
    )
    return (
        proj.groupBy("node_id", "dim")
        .agg(F.sum("bit").alias("bucket"))
        .join(emb, ["node_id", "dim"])
        .select("node_id", "vector", "dim", "bucket")
    )


def mllib_lsh_topk(
    emb: DataFrame,
    query_ids: list[str],
    k: int = 5,
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """MLlib ``BucketedRandomProjectionLSH`` ANN → (qid, id, dist, rnk).

    The packaged alternative to the hand-rolled LSH/IVF paths
    (Euclidean-distance LSH). VectorUDT conversion happens ONLY here
    at the MLlib boundary — the engine keeps ``array<float>``
    everywhere else (SURVEY §7.3). Fixed seed ⇒ deterministic
    buckets; distances are Euclidean, so ranks differ from the cosine
    variants on unnormalized corpora.

    ONE ``approxSimilarityJoin`` of the query frame against the
    corpus (bucket-collision equi-join on the exploded hash tables,
    query side tiny → broadcast) + a per-qid rank window over the
    surviving candidates. The plan is independent of |queries| —
    unlike a per-query ``approxNearestNeighbors`` driver loop, whose
    unionByName chain grows linearly and serializes the scans.
    Candidates are bucket collisions only (no adjacent-bucket
    probing), so extremely isolated vectors can return <k rows —
    the standard LSH recall trade, tunable via num_hash_tables.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    base = emb.filter(F.size("vector") == dim).select(
        "node_id",
        array_to_vector(F.col("vector").cast("array<double>")).alias(
            "features"
        ),
    )
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    ).fit(base)
    queries = base.filter(F.col("node_id").isin(query_ids))
    # no distance cutoff: rank, not radius, bounds the output
    pairs = model.approxSimilarityJoin(
        queries, base, float("inf"), distCol="distCol"
    )
    w = Window.partitionBy("qid").orderBy("dist", "id")
    return (
        pairs.select(
            F.col("datasetA.node_id").alias("qid"),
            F.col("datasetB.node_id").alias("id"),
            F.round("distCol", 6).alias("dist"),
        )
        .filter(F.col("qid") != F.col("id"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def ivf_centroids(
    emb: DataFrame,
    n_centroids: int = 8,
    iters: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Deterministic IVF coarse quantizer → (cidx, cvec).

    Seeds are the vectors of the ``n_centroids`` numerically-smallest
    ids; ``iters`` Lloyd rounds follow (assign to argmin L2, ties to
    the smaller centroid index, then element-wise mean). Centroid
    components are rounded to 6 decimals after every mean so the
    DuckDB oracle — whose summation order differs — replays the
    training bit-for-bit. Each round is one broadcast of C centroids
    + one groupBy; no all-pairs anything.
    """
    e = (
        emb.filter(F.size("vector") == dim)
        .select(F.col("node_id").alias("id"), "vector")
        .withColumn("vv", dot("vector", "vector"))
    )
    # TakeOrderedAndProject fetches the C seed rows; the ranking
    # window then runs over C rows, never the corpus.
    seeds = e.orderBy(F.col("id").cast("long")).limit(n_centroids)
    w = Window.orderBy(F.col("id").cast("long"))
    centroids = seeds.select(
        (F.row_number().over(w) - 1).alias("cidx"),
        F.transform("vector", lambda x: x.cast("double")).alias("cvec"),
    )
    for _ in range(iters):
        c = centroids.withColumn("cc", dot("cvec", "cvec"))
        assign = (
            e.crossJoin(F.broadcast(c))
            .withColumn(
                "dist", F.col("vv") + F.col("cc") - 2 * dot("vector", "cvec")
            )
            .groupBy("id")
            .agg(F.min_by("cidx", F.struct("dist", "cidx")).alias("cidx"))
        )
        # element-wise mean as ``dim`` per-component aggregates over
        # ONE cidx-keyed shuffle — the posexplode → per-(cidx, pos)
        # mean → re-collect chain cost two exchanges and a dim×
        # row blow-up per round (optimization round 10, guide §2.3).
        # Equal within 6dp rounding per component (each mean sums the
        # same values in another order; the rounding absorbs that
        # unless a mean lies within float error of a .5e-6 boundary —
        # the tolerance the DuckDB oracle replay already relies on).
        centroids = (
            assign.join(e, "id")
            .groupBy("cidx")
            .agg(
                F.array(
                    *[
                        F.round(
                            F.avg(F.element_at(F.col("vector"), i + 1)), 6
                        )
                        for i in range(dim)
                    ]
                ).alias("cvec")
            )
        )
    return centroids


def ivf_build(
    emb: DataFrame,
    n_centroids: int = 8,
    iters: int = 2,
    dim: int = 64,
    train: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Train the coarse quantizer and assign the corpus ONCE →
    ``(centroids, assign)``: centroids ``(cidx, cvec, cc)`` and the
    inverted-list assignment ``(id, cidx, vector)``.

    This is the index-BUILD half of ``ivf_topk``, split out so a
    caller that serves many queries (or sweeps a serving knob like
    nprobe) trains and assigns once, ``localCheckpoint``s or persists
    the pair, and pays only probe + scoring per query — the
    build-once/serve-many contract of a deployed vector index.
    """
    e = (
        emb.filter(F.size("vector") == dim)
        .select(F.col("node_id").alias("id"), "vector")
        .withColumn("vv", dot("vector", "vector"))
    )
    centroids = ivf_centroids(
        emb if train is None else train, n_centroids, iters, dim
    ).withColumn("cc", dot("cvec", "cvec"))
    assign = (
        e.crossJoin(F.broadcast(centroids))
        .withColumn(
            "dist", F.col("vv") + F.col("cc") - 2 * dot("vector", "cvec")
        )
        .groupBy("id")
        .agg(F.min_by("cidx", F.struct("dist", "cidx")).alias("cidx"))
        .join(e, "id")
        .select("id", "cidx", "vector")
    )
    return centroids, assign


# staged-artifact idiom shared with the MinHash index (dedup.py)
from .staging import staged_index_dir as _staged_index_dir  # noqa: E402
from .staging import write_staged as _write_staged  # noqa: E402


def ivf_index_stage(
    spark,
    emb: DataFrame,
    cache_key: str,
    n_centroids: int = 8,
    iters: int = 2,
    dim: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Build-once / read-many IVF index staged as scratch parquet →
    ``(centroids, assign)`` read back from disk.

    The ``ivf_build`` pair is written ONCE per (cache_key, params)
    under the shared scratch root — the assignment parquet
    PARTITIONED BY ``cidx``, so a probe of nprobe cells is a
    partition-pruned read of nprobe/C of the corpus (DPP fires on the
    broadcast probe join) — and every later caller in the IVF family
    (ann_ivf_topk, cell stats, recall evals, nprobe sweeps) reads the
    same files instead of retraining the same deterministic
    quantizer. ``cache_key`` is normally the sf_dir; the key is
    salted with the embeddings parquet's (mtime, size) so a
    regenerated dataset never serves a stale index. The build is
    written to a temp dir and renamed into place atomically, so
    concurrent processes (battery chunks) cannot observe a
    half-written index; a lost rename race falls back to reading the
    winner's files. Vectors roundtrip parquet float32 bit-exactly,
    so staged results are value-identical to the in-plan build.
    """
    final = _staged_index_dir("ivf_index", cache_key,
                              f"{n_centroids}|{iters}|{dim}")

    def _write(tmp: str) -> None:
        centroids, assign = ivf_build(emb, n_centroids, iters, dim)
        centroids.coalesce(1).write.parquet(os.path.join(tmp, "centroids"))
        assign.write.partitionBy("cidx").parquet(os.path.join(tmp, "assign"))

    _write_staged(final, _write)
    return (
        spark.read.parquet(os.path.join(final, "centroids")),
        spark.read.parquet(os.path.join(final, "assign")).select(
            "id", F.col("cidx").cast("int").alias("cidx"), "vector"
        ),
    )


def pq_index_stage(
    spark,
    emb: DataFrame,
    cache_key: str,
    n_centroids: int = 8,
    iters: int = 2,
    m: int = 4,
    ksub: int = 16,
    dim: int = 64,
    residual: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Build-once / read-many PQ tier staged as scratch parquet →
    ``(centroids, assign, codebooks, codes)`` read back from disk —
    the ivf_index_stage idiom extended to the product-quantized
    families, so ann_pq_topk / ann_ivfpq_* / the residual variant /
    ann_tier_report all serve from ONE PQ training per (cache_key,
    params) instead of re-running the Lloyd codebooks per entry.

    ``centroids``/``assign`` are the SHARED coarse IVF stage (same
    key as the plain-IVF family — one coarse training serves both).
    ``codebooks`` is (sm, cidx, cvec, cc): pq_train's deterministic
    per-subspace Lloyd run over the raw vectors, or over the
    residuals ``x − centroid(cell(x))`` when ``residual=True`` (the
    faiss composition — separate staged key, different codebooks).
    ``codes`` is (id, sm, code, cidx) written PARTITIONED BY the
    coarse cell, so IVF-PQ serving reads nprobe/C of a tier that is
    already 64× smaller than the vectors — the deployment layout the
    ivfpq_topk docstring promises. All trainings are the existing
    deterministic ones and parquet roundtrips doubles/float32
    bit-exactly, so staged results are value-identical to the
    in-plan build and every DuckDB oracle is unchanged.
    """
    centroids, assign = ivf_index_stage(
        spark, emb, cache_key, n_centroids, iters, dim
    )
    tag = "pq_index_resid" if residual else "pq_index"
    final = _staged_index_dir(
        tag, cache_key, f"{n_centroids}|{iters}|{m}|{ksub}|{dim}"
    )

    def _write(tmp: str) -> None:
        if residual:
            # PQ over residuals: same rows as the cold path's
            # (id, cidx argmin, vector) frame — assign IS that frame.
            src = (
                assign.join(
                    F.broadcast(centroids.select("cidx", "cvec")), "cidx"
                )
                .select(
                    F.col("id").alias("node_id"),
                    F.zip_with(
                        F.col("vector").cast("array<double>"),
                        "cvec",
                        lambda a, b: a - b,
                    ).alias("vector"),
                )
                .localCheckpoint(eager=True)
            )
        else:
            src = emb
        cb = pq_train(src, m, ksub, iters, dim).withColumn(
            "cc", dot("cvec", "cvec")
        )
        cb.coalesce(1).write.parquet(os.path.join(tmp, "codebooks"))
        cbr = spark.read.parquet(os.path.join(tmp, "codebooks"))
        es = _subvectors(src, m, dim)
        codes = (
            es.join(F.broadcast(cbr), "sm")
            .withColumn(
                "dist", F.col("vv") + F.col("cc") - 2 * dot("sv", "cvec")
            )
            .groupBy("id", "sm")
            .agg(F.min_by("cidx", F.struct("dist", "cidx")).alias("code"))
            .join(assign.select("id", "cidx"), "id")
        )
        codes.write.partitionBy("cidx").parquet(os.path.join(tmp, "codes"))

    _write_staged(final, _write)
    return (
        centroids,
        assign,
        spark.read.parquet(os.path.join(final, "codebooks")),
        spark.read.parquet(os.path.join(final, "codes")).select(
            "id", "sm", "code", F.col("cidx").cast("int").alias("cidx")
        ),
    )


def ivf_topk(
    emb: DataFrame,
    query_ids: list[str],
    k: int = 5,
    n_centroids: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    dim: int = 64,
    round_scores: int | None = None,
    allowed: DataFrame | None = None,
    train: DataFrame | None = None,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF approximate top-k → (qid, id, cos, rnk).

    Vectors are inverted-listed by nearest centroid; a query scans
    only its ``nprobe`` nearest lists. At 100 TB the assignment table
    is written partitioned by ``cidx`` so a probe is a
    partition-pruned scan of nprobe/C of the corpus; training cost is
    ``iters`` broadcast-joins, amortized across all queries.

    ``train`` (default: ``emb`` itself) restricts the CENTROID
    TRAINING corpus while assignment and serving still cover all of
    ``emb`` — the state of a streamed-maintained index whose coarse
    quantizer was trained before later appends arrived
    (ann_ivf_stale_recall measures what that staleness costs).

    ``index``: a prebuilt ``(centroids, assign)`` pair from
    ``ivf_build`` (or ``ivf_index_stage``'s parquet read-back). When
    given, NO training or assignment happens here — the call is pure
    serving (probe selection + candidate scoring), which is how a
    knob sweep or a multi-query serving loop avoids re-deriving the
    index per call.
    """
    cand = ivf_candidates(
        emb,
        query_ids,
        n_centroids=n_centroids,
        iters=iters,
        nprobe=nprobe,
        dim=dim,
        round_scores=round_scores,
        allowed=allowed,
        train=train,
        index=index,
    ).select("qid", "id", "cos")
    wk = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("id"))
    return (
        cand.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= k)
        .select("qid", "id", "cos", "rnk")
    )


def ivf_candidates(
    emb: DataFrame,
    query_ids: list[str],
    n_centroids: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    dim: int = 64,
    round_scores: int | None = None,
    allowed: DataFrame | None = None,
    train: DataFrame | None = None,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Scored IVF candidates BEFORE top-k → (qid, id, cos, prb, …).

    ``prb`` is the 1-based probe rank of the candidate's cell for
    that query (the row_number the probe selection already computes).
    The probe list at nprobe=p is a RANK PREFIX of the list at any
    nprobe ≥ p, and each id lives in exactly one cell, so candidates
    at nprobe=p equal candidates at nprobe=p_max filtered to
    prb ≤ p — the nesting the nprobe-sweep entries fuse on: ONE
    scoring pass at p_max, then per sweep point a filter + re-rank
    (optimization guide §2.4, the band-sweep idiom applied to probe
    rank). ``ivf_topk`` is exactly a top-k window over this frame.
    """
    e = (
        emb.filter(F.size("vector") == dim)
        .select(F.col("node_id").alias("id"), "vector")
        .withColumn("vv", dot("vector", "vector"))
    )
    if index is None:
        centroids, assign = ivf_build(emb, n_centroids, iters, dim, train)
    else:
        centroids, assign = index
    q = (
        e.filter(F.col("id").isin(query_ids))
        .select(F.col("id").alias("qid"), F.col("vector").alias("qvec"), "vv")
    )
    wq = Window.partitionBy("qid").orderBy("dist", "cidx")
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn(
            "dist", F.col("vv") + F.col("cc") - 2 * dot("qvec", "cvec")
        )
        .withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select("qid", "qvec", "cidx", F.col("__rn").alias("prb"))
    )
    cand = (
        assign.join(F.broadcast(probes), "cidx")
        .filter(F.col("id") != F.col("qid"))
        .withColumn("cos", cosine("vector", "qvec"))
    )
    if allowed is not None:
        # filtered ANN over the SHARED index: the metadata predicate
        # prunes probed candidates by a semi-join on the id key —
        # post-filter on nprobe/C of the corpus, never a per-filter
        # index rebuild (the deployment contract of vector stores'
        # filtered search). A highly selective filter wants larger
        # nprobe; the entry's sweep twin quantifies that trade.
        cand = cand.join(allowed.select("id"), "id", "left_semi")
    if round_scores is not None:
        cand = cand.withColumn("cos", F.round("cos", round_scores))
    return cand


def _subvectors(emb: DataFrame, m: int, dim: int) -> DataFrame:
    """(id, sm, sv, vv): each vector split into ``m`` contiguous
    subvectors of dim/m components (1 row per subspace)."""
    sub = dim // m
    return (
        emb.filter(F.size("vector") == dim)
        .select(F.col("node_id").alias("id"), "vector")
        .select(
            "id",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sm"),
            "vector",
        )
        .select(
            "id",
            "sm",
            F.transform(
                F.slice("vector", F.col("sm") * sub + 1, F.lit(sub)),
                lambda x: x.cast("double"),
            ).alias("sv"),
        )
        .withColumn("vv", dot("sv", "sv"))
    )


def pq_train(
    emb: DataFrame,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Product-quantization codebooks → (sm, cidx, cvec).

    One deterministic Lloyd run PER SUBSPACE, all subspaces trained
    in the same plan (the subspace id ``sm`` is just another grouping
    key — m separate k-means runs cost the same shuffles as one).
    Seeding and 6-decimal centroid rounding follow ivf_centroids so
    the DuckDB oracle replays training bit-for-bit. Each round is one
    broadcast of m·ksub small centroids + one groupBy.
    """
    e = _subvectors(emb, m, dim)
    # Seeds are the ksub numerically-smallest ids — identical in every
    # subspace (each id contributes one row per sm) — so fetch them
    # ONCE via TakeOrderedAndProject (the ivf_centroids idiom,
    # ann.py:258) and broadcast-join; the ranking window then runs
    # over m*ksub seed rows, never the full subvector frame.
    seed_ids = (
        emb.filter(F.size("vector") == dim)
        .select(F.col("node_id").alias("id"))
        .orderBy(F.col("id").cast("long"))
        .limit(ksub)
    )
    wseed = Window.partitionBy("sm").orderBy(F.col("id").cast("long"))
    centroids = e.join(F.broadcast(seed_ids), "id").select(
        "sm",
        (F.row_number().over(wseed) - 1).alias("cidx"),
        F.col("sv").alias("cvec"),
    )
    for _ in range(iters):
        c = centroids.withColumn("cc", dot("cvec", "cvec"))
        assign = (
            e.join(F.broadcast(c), "sm")
            .withColumn(
                "dist", F.col("vv") + F.col("cc") - 2 * dot("sv", "cvec")
            )
            .groupBy("id", "sm")
            .agg(F.min_by("cidx", F.struct("dist", "cidx")).alias("cidx"))
        )
        # per-component aggregate means over one (sm, cidx)-keyed
        # shuffle — same reshape as ivf_centroids (guide §2.3); equal
        # within 6dp rounding, the tolerance the oracle replay already
        # assumes.
        sub = dim // m
        centroids = (
            assign.join(e, ["id", "sm"])
            .groupBy("sm", "cidx")
            .agg(
                F.array(
                    *[
                        F.round(F.avg(F.element_at(F.col("sv"), i + 1)), 6)
                        for i in range(sub)
                    ]
                ).alias("cvec")
            )
        )
    return centroids


def pq_topk(
    emb: DataFrame,
    query_ids: list[str],
    k: int = 5,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    dim: int = 64,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """PQ compressed-domain top-k (ADC) → (qid, id, adist, rnk).

    The compressed-domain variant of the reference's full-scan search
    (``app.py:394-444``): vectors are stored as m log2(ksub)-bit
    codes (64 × f32 → 4 × 1 byte here, 64× smaller — the difference
    between a 100 TB vector tier and a 1.6 TB one), and a query scans
    CODES, not vectors: per query it builds an m×ksub distance table
    (query subvector ↔ codebook centroid), then each approximate
    distance is m table lookups summed. The scan is still O(N·m) rows, but the
    rows are bytes and the lookup join broadcasts the tiny table; at
    deployment scale the codes table is additionally partitioned by
    an IVF coarse cell (IVF-PQ) so a query prunes to nprobe/C of the
    codes. Partial distances are summed in a fixed subspace order
    (sorted fold from 0.0) so the oracle's explicit left-to-right
    chain computes identical IEEE doubles.
    """
    e = _subvectors(emb, m, dim)
    if index is None:
        cb = pq_train(emb, m, ksub, iters, dim).withColumn(
            "cc", dot("cvec", "cvec")
        )
        codes = (
            e.join(F.broadcast(cb), "sm")
            .withColumn(
                "dist", F.col("vv") + F.col("cc") - 2 * dot("sv", "cvec")
            )
            .groupBy("id", "sm")
            .agg(F.min_by("cidx", F.struct("dist", "cidx")).alias("code"))
        )
    else:
        # pure serving over the staged tier (pq_index_stage): the
        # codebooks/codes read back from parquet are value-identical
        # to the in-plan build, so nothing downstream changes.
        cb, codes = index
        codes = codes.select("id", "sm", "code")
    q = e.filter(F.col("id").isin(query_ids)).select(
        F.col("id").alias("qid"),
        "sm",
        F.col("sv").alias("qsv"),
        F.col("vv").alias("qvv"),
    )
    tables = q.join(F.broadcast(cb), "sm").select(
        "qid",
        "sm",
        "cidx",
        (
            F.col("qvv") + F.col("cc") - 2 * dot("qsv", "cvec")
        ).alias("d"),
    )
    # codes and tables share lineage (both derive from e) — alias to
    # disambiguate the self-join
    cd, tb = codes.alias("cd"), tables.alias("tb")
    cand = (
        cd.join(
            F.broadcast(tb),
            (F.col("cd.sm") == F.col("tb.sm"))
            & (F.col("cd.code") == F.col("tb.cidx")),
        )
        .select(
            F.col("tb.qid").alias("qid"),
            F.col("cd.id").alias("id"),
            F.col("tb.sm").alias("psm"),
            F.col("tb.d").alias("d"),
        )
        .filter(F.col("id") != F.col("qid"))
        .groupBy("qid", "id")
        .agg(F.array_sort(F.collect_list(F.struct("psm", "d"))).alias("ds"))
    )
    adist = F.aggregate(
        F.transform("ds", lambda s: s["d"]), F.lit(0.0), lambda a, x: a + x
    )
    wk = Window.partitionBy("qid").orderBy("adist", "id")
    return (
        cand.select(
            "qid",
            "id",
            stable_round6(adist).alias("adist"),
        )
        .withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= k)
    )


def ivfpq_topk(
    emb: DataFrame,
    query_ids: list[str],
    k: int = 5,
    n_centroids: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    m: int = 4,
    ksub: int = 16,
    dim: int = 64,
    stage_index: bool = False,
    index: (
        tuple[DataFrame, DataFrame, DataFrame, DataFrame] | None
    ) = None,
) -> DataFrame:
    """IVF-PQ compressed-domain search → (qid, id, adist, rnk) — the
    composed tier a 100 TB vector store actually serves from.

    IVF and PQ each fix one axis; composing them fixes both: the IVF
    coarse quantizer prunes WHICH rows a query touches (its
    ``nprobe`` of ``n_centroids`` inverted lists — at scale the codes
    table is written partitioned by coarse cell, so this is partition
    pruning, same mechanics the LSH bucket store test pins), and PQ
    shrinks WHAT a touched row costs (m byte codes instead of dim
    floats, 64× smaller; distance = m lookups in the query's ADC
    table). Net: a query reads ~nprobe/C of a tier that is 64×
    smaller than the vectors.

    Both trainings are the existing deterministic Lloyd runs
    (``ivf_centroids`` on full vectors, ``pq_train`` per subspace —
    seeded by smallest ids, 6dp-rounded means), so the DuckDB oracle
    replays the whole index build bit-for-bit. ADC partials are
    summed in fixed subspace order (sorted fold from 0.0) exactly as
    ``pq_topk``; ranks are (6dp adist asc, id asc). Like any
    pruned-ANN path, a query whose probed cells hold <k candidates
    returns <k rows — recall is tuned with ``nprobe``.

    ``stage_index=True`` eagerly materializes the four index frames
    (coarse centroids, cell assignments, PQ codebooks, PQ codes) —
    the in-plan analog of the persisted index a deployment serves
    from, so the query pays only probe + ADC (same staging idiom as
    bm25's staged_index). Results are byte-identical either way.

    ``index``: a prebuilt ``(centroids, assign, codebooks, codes)``
    from ``pq_index_stage`` — NO training happens here; the call is
    pure serving against the cidx-partitioned codes parquet, so a
    probe is a partition-pruned read of nprobe/C of the code tier
    (delegated to :func:`ivfpq_staged_candidates` + the top-k
    window).
    """
    if index is not None:
        cand = ivfpq_staged_candidates(
            emb, query_ids, nprobe=nprobe, m=m, ksub=ksub, dim=dim,
            index=index,
        ).select("qid", "id", "adist")
        wk = Window.partitionBy("qid").orderBy("adist", "id")
        return (
            cand.withColumn("rnk", F.row_number().over(wk))
            .filter(F.col("rnk") <= k)
        )
    stage = (
        (lambda d: d.localCheckpoint(eager=True))
        if stage_index
        else (lambda d: d)
    )
    # coarse: train, assign every vector to its cell, pick each
    # query's nprobe nearest cells
    e = (
        emb.filter(F.size("vector") == dim)
        .select(F.col("node_id").alias("id"), "vector")
        .withColumn("vv", dot("vector", "vector"))
    )
    es = _subvectors(emb, m, dim)

    def _coarse_chain() -> tuple[DataFrame, DataFrame]:
        cf = stage(
            ivf_centroids(emb, n_centroids, iters, dim).withColumn(
                "cc", dot("cvec", "cvec")
            )
        )
        af = stage(
            e.crossJoin(F.broadcast(cf))
            .withColumn(
                "dist",
                F.col("vv") + F.col("cc") - 2 * dot("vector", "cvec"),
            )
            .groupBy("id")
            .agg(F.min_by("cidx", F.struct("dist", "cidx")).alias("cidx"))
        )
        return cf, af

    def _pq_chain() -> tuple[DataFrame, DataFrame]:
        cb = stage(
            pq_train(emb, m, ksub, iters, dim).withColumn(
                "cc", dot("cvec", "cvec")
            )
        )
        codes = stage(
            es.join(F.broadcast(cb), "sm")
            .withColumn(
                "dist", F.col("vv") + F.col("cc") - 2 * dot("sv", "cvec")
            )
            .groupBy("id", "sm")
            .agg(F.min_by("cidx", F.struct("dist", "cidx")).alias("code"))
        )
        return cb, codes

    if stage_index:
        # The coarse chain (ivf_centroids -> assignment) and the PQ
        # chain (pq_train -> codes) are INDEPENDENT eager builds;
        # overlap them so one chain's stage tail back-fills the
        # other's idle executors (guide §2.6 — the tier-report
        # thread-pool idiom). Each frame is deterministic, so the
        # overlapped build is value-identical to the sequential one.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fut_coarse = pool.submit(_coarse_chain)
            fut_pq = pool.submit(_pq_chain)
            cf, af = fut_coarse.result()
            cb, codes = fut_pq.result()
    else:
        cf, af = _coarse_chain()
        cb, codes = _pq_chain()

    qv = e.filter(F.col("id").isin(query_ids)).select(
        F.col("id").alias("qid"), F.col("vector").alias("qvec"), "vv"
    )
    wp = Window.partitionBy("qid").orderBy("dist", "cidx")
    probes = (
        qv.crossJoin(F.broadcast(cf))
        .withColumn(
            "dist", F.col("vv") + F.col("cc") - 2 * dot("qvec", "cvec")
        )
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= nprobe)
        .select("qid", "cidx")
    )

    # the per-query candidate id set: vectors assigned to probed
    # cells. |probes| = |queries|·nprobe — always broadcastable.
    sel = (
        af.join(F.broadcast(probes), "cidx")
        .filter(F.col("id") != F.col("qid"))
        .select("qid", "id")
    )
    q = es.filter(F.col("id").isin(query_ids)).select(
        F.col("id").alias("qid"),
        "sm",
        F.col("sv").alias("qsv"),
        F.col("vv").alias("qvv"),
    )
    tables = q.join(F.broadcast(cb), "sm").select(
        "qid",
        "sm",
        "cidx",
        (F.col("qvv") + F.col("cc") - 2 * dot("qsv", "cvec")).alias("d"),
    )
    # ADC restricted to the probed candidates: codes of selected ids
    # only, each looked up in its query's table. `sel` gets NO
    # broadcast hint: it is ~|queries|·nprobe/C·N rows — tiny here
    # but N-proportional, so at scale AQE picks broadcast only when
    # it actually fits (the deployment path prunes codes by cell
    # partition instead of joining at all). `tables` is
    # |queries|·m·ksub rows — constant-sized, always broadcast.
    cand_codes = codes.join(sel, "id")
    cc_, tb = (
        cand_codes.alias("cd"),
        tables.alias("tb"),
    )
    cand = (
        cc_.join(
            F.broadcast(tb),
            (F.col("cd.qid") == F.col("tb.qid"))
            & (F.col("cd.sm") == F.col("tb.sm"))
            & (F.col("cd.code") == F.col("tb.cidx")),
        )
        .select(
            F.col("cd.qid").alias("qid"),
            F.col("cd.id").alias("id"),
            F.col("tb.sm").alias("psm"),
            F.col("tb.d").alias("d"),
        )
        .groupBy("qid", "id")
        .agg(F.array_sort(F.collect_list(F.struct("psm", "d"))).alias("ds"))
    )
    adist = F.aggregate(
        F.transform("ds", lambda s: s["d"]), F.lit(0.0), lambda a, x: a + x
    )
    wk = Window.partitionBy("qid").orderBy("adist", "id")
    return (
        cand.select(
            "qid",
            "id",
            stable_round6(adist).alias("adist"),
        )
        .withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= k)
    )


def ivfpq_staged_candidates(
    emb: DataFrame,
    query_ids: list[str],
    nprobe: int = 2,
    m: int = 4,
    ksub: int = 16,
    dim: int = 64,
    index: (
        tuple[DataFrame, DataFrame, DataFrame, DataFrame] | None
    ) = None,
) -> DataFrame:
    """Scored IVF-PQ ADC candidates BEFORE top-k, served from the
    staged tier → (qid, id, adist, prb).

    ``index`` = ``pq_index_stage``'s ``(centroids, assign, codebooks,
    codes)``; NO training happens here. ``prb`` is the probe rank of
    the candidate's coarse cell for its query; an id carries one
    coarse cell, so candidates at nprobe=p equal candidates at
    nprobe=p_max filtered to prb ≤ p, and ``adist`` is
    nprobe-independent — the nesting the IVF-PQ nprobe sweep fuses on
    (guide §2.4). ``ivfpq_topk``'s staged branch is exactly a top-k
    window over this frame; the staged codes carry the coarse cell,
    so the probe join prunes code partitions directly — no
    assignment-side semi-join.
    """
    e = (
        emb.filter(F.size("vector") == dim)
        .select(F.col("node_id").alias("id"), "vector")
        .withColumn("vv", dot("vector", "vector"))
    )
    cf = index[0].withColumn("cc", dot("cvec", "cvec"))
    qv = e.filter(F.col("id").isin(query_ids)).select(
        F.col("id").alias("qid"), F.col("vector").alias("qvec"), "vv"
    )
    wp = Window.partitionBy("qid").orderBy("dist", "cidx")
    probes = (
        qv.crossJoin(F.broadcast(cf))
        .withColumn(
            "dist", F.col("vv") + F.col("cc") - 2 * dot("qvec", "cvec")
        )
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= nprobe)
        .select("qid", "cidx", F.col("rn").alias("prb"))
    )
    es = _subvectors(emb, m, dim)
    cb = index[2]
    codes = index[3]
    q = es.filter(F.col("id").isin(query_ids)).select(
        F.col("id").alias("qid"),
        "sm",
        F.col("sv").alias("qsv"),
        F.col("vv").alias("qvv"),
    )
    tables = q.join(F.broadcast(cb), "sm").select(
        "qid",
        "sm",
        "cidx",
        (F.col("qvv") + F.col("cc") - 2 * dot("qsv", "cvec")).alias("d"),
    )
    cand_codes = (
        codes.join(F.broadcast(probes), "cidx")
        .filter(F.col("id") != F.col("qid"))
        .select("qid", "id", "sm", "code", "prb")
    )
    cc_, tb = (
        cand_codes.alias("cd"),
        tables.alias("tb"),
    )
    cand = (
        cc_.join(
            F.broadcast(tb),
            (F.col("cd.qid") == F.col("tb.qid"))
            & (F.col("cd.sm") == F.col("tb.sm"))
            & (F.col("cd.code") == F.col("tb.cidx")),
        )
        .select(
            F.col("cd.qid").alias("qid"),
            F.col("cd.id").alias("id"),
            F.col("tb.sm").alias("psm"),
            F.col("tb.d").alias("d"),
            F.col("cd.prb").alias("prb"),
        )
        .groupBy("qid", "id")
        .agg(
            F.array_sort(F.collect_list(F.struct("psm", "d"))).alias("ds"),
            # one coarse cell per id -> every row agrees; min is it
            F.min("prb").alias("prb"),
        )
    )
    adist = F.aggregate(
        F.transform("ds", lambda s: s["d"]), F.lit(0.0), lambda a, x: a + x
    )
    return cand.select(
        "qid",
        "id",
        stable_round6(adist).alias("adist"),
        "prb",
    )


def lsh_bucketed_topk(
    emb: DataFrame,
    query_ids: list[str],
    k: int = 5,
    num_planes: int = 8,
    dim: int = 64,
    round_scores: int | None = None,
) -> DataFrame:
    """Approximate top-k: exact cosine rank within the query's LSH
    bucket → (qid, id, cos, rnk)."""
    planes = hyperplanes(emb.sparkSession, num_planes, dim)
    bucketed = lsh_buckets(emb, planes)
    q = bucketed.filter(F.col("node_id").isin(query_ids)).select(
        F.col("node_id").alias("qid"),
        F.col("vector").alias("qvec"),
        F.col("bucket").alias("qbucket"),
    )
    cand = (
        bucketed.join(
            F.broadcast(q), F.col("bucket") == F.col("qbucket")
        )
        .filter(F.col("node_id") != F.col("qid"))
        .withColumn("cos", cosine("vector", "qvec"))
    )
    if round_scores is not None:
        cand = cand.withColumn("cos", F.round("cos", round_scores))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("node_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", F.col("node_id").alias("id"), "cos", "rnk")
    )


def _probe_buckets(bucket_col, num_planes: int):
    """Deterministic Hamming-1 probe sequence for a sign-LSH bucket:
    the bucket itself plus every single-bit flip, in plane order —
    ``num_planes + 1`` distinct buckets. Multi-probe LSH (Lv et al.,
    VLDB'07) specialized to sign projections: the buckets most likely
    to hold a near neighbor that landed just across one hyperplane.
    """
    return F.array(
        [bucket_col]
        + [
            bucket_col.bitwiseXOR(F.lit(1 << p).cast("long"))
            for p in range(num_planes)
        ]
    )


def lsh_multiprobe_topk(
    emb: DataFrame,
    query_ids: list[str],
    k: int = 5,
    num_planes: int = 8,
    dim: int = 64,
    round_scores: int | None = None,
) -> DataFrame:
    """Multi-probe sign-LSH top-k → (qid, id, cos, rnk): exact cosine
    rank over candidates from the query's OWN bucket plus every
    Hamming-1 neighbor bucket.

    The recall fix for single-probe ``lsh_bucketed_topk``'s two
    failure modes (VERDICT r2): isolated vectors returning <k because
    their bucket is near-empty, and true neighbors missed because one
    hyperplane split them. The candidate set is a strict superset of
    the single-probe set, so recall is monotonically ≥ at ~(P+1)× the
    candidate cost — still bounded by bucket occupancy, never N².
    Buckets partition the vectors and the P+1 probe buckets are
    distinct, so no candidate dedup is needed. At 100 TB the bucketed
    table is partitioned by bucket and a query touches P+1 partitions
    (partition-pruned) instead of 1 — the standard recall/cost dial.
    The probe sequence is a pure function of the bucket, so the
    DuckDB oracle replays it exactly.
    """
    planes = hyperplanes(emb.sparkSession, num_planes, dim)
    bucketed = lsh_buckets(emb, planes)
    q = bucketed.filter(F.col("node_id").isin(query_ids)).select(
        F.col("node_id").alias("qid"),
        F.col("vector").alias("qvec"),
        F.explode(_probe_buckets(F.col("bucket"), num_planes)).alias(
            "pbucket"
        ),
    )
    cand = (
        bucketed.join(F.broadcast(q), F.col("bucket") == F.col("pbucket"))
        .filter(F.col("node_id") != F.col("qid"))
        .withColumn("cos", cosine("vector", "qvec"))
    )
    if round_scores is not None:
        cand = cand.withColumn("cos", F.round("cos", round_scores))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("node_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", F.col("node_id").alias("id"), "cos", "rnk")
    )


def _multiprobe_sides(
    emb: DataFrame, num_planes: int = 8, dim: int = 64
) -> tuple[DataFrame, DataFrame]:
    """(probe_side, build_side) for Hamming-1 multi-probe SELF-joins:
    probe_side = (id_a, va, pbucket) where pbucket ranges over the
    vector's bucket plus every single-bit flip; build_side =
    (id_b, vb, pbucket) with each vector's own bucket only. Joining
    the two on pbucket yields exactly the pairs whose buckets differ
    in ≤1 sign bit. ONE definition of the probe semantics, shared by
    ``knn_join_multiprobe`` and dedup's
    ``embedding_cosine_pairs_multiprobe`` (and mirrored by their
    DuckDB oracles) so a probe-sequence change can never drift
    between call sites.
    """
    bucketed = lsh_buckets(
        emb.filter(F.size("vector") == dim),
        hyperplanes(emb.sparkSession, num_planes, dim),
    )
    a = bucketed.select(
        F.col("node_id").alias("id_a"),
        F.col("vector").alias("va"),
        F.explode(_probe_buckets(F.col("bucket"), num_planes)).alias(
            "pbucket"
        ),
    )
    b = bucketed.select(
        F.col("node_id").alias("id_b"),
        F.col("vector").alias("vb"),
        F.col("bucket").alias("pbucket"),
    )
    return a, b


def knn_join_multiprobe(
    emb: DataFrame,
    k: int = 3,
    num_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Multi-probe all-documents kNN join → (id_a, id_b, cos, rnk):
    ``knn_join_topk`` with each vector additionally probing its
    Hamming-1 neighbor buckets on the PROBE side of the self-join.

    Candidates are pairs whose buckets differ in at most one sign
    bit — a strict superset of the single-probe equi-join, recovering
    neighbors split by exactly one hyperplane. Cost is bounded by
    (P+1)× bucket-occupancy products; the join stays an equi-join on
    the probed bucket (shuffle/partition-prunable), never a cross
    product. Scores stable-rounded to 6dp BEFORE ranking, id
    tiebreak — engine-portable like every ranked output here.
    """
    a, b = _multiprobe_sides(emb, num_planes, dim)
    rounded = stable_round6(cosine("va", "vb"))
    w = Window.partitionBy("id_a").orderBy(F.desc("cos"), F.asc("id_b"))
    return (
        a.join(b, "pbucket")
        .filter(F.col("id_a") != F.col("id_b"))
        .withColumn("cos", rounded)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("id_a", "id_b", "cos", "rnk")
    )


def brute_topk_int8(
    emb: DataFrame,
    query_ids: list[str],
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k over the int8-QUANTIZED store
    → (qid, id, cos, rnk).

    The per-vector quantization scales cancel in the cosine ratio
    (cos = Σq_a·q_b / (√Σq_a²·√Σq_b²)), so search runs entirely on
    integer codes — the 4×-smaller tier from
    ``functions.vectorfn.quantize_int8`` is directly searchable, no
    dequantization pass. Scores are stable-rounded to 6dp BEFORE
    ranking so the rank order is engine-identical.
    """
    from ..functions.vectorfn import quantize_int8

    _, q8 = quantize_int8("vector")
    qemb = emb.select("node_id", "dim", q8.alias("qv"))
    q = qemb.filter(F.col("node_id").isin(query_ids)).select(
        F.col("node_id").alias("qid"), F.col("qv").alias("qq"), "dim"
    )
    rounded = stable_round6(cosine("qv", "qq"))
    scored = (
        qemb.join(F.broadcast(q), "dim")
        .filter(F.col("node_id") != F.col("qid"))
        .withColumn("cos", rounded)
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("node_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", F.col("node_id").alias("id"), "cos", "rnk")
    )


def knn_join_topk(
    emb: DataFrame,
    k: int = 3,
    num_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate doc-to-doc k-nearest-neighbor JOIN
    → (id_a, id_b, cos, rnk): for every vector, its top-k cosine
    neighbors among same-LSH-bucket candidates.

    This is the all-documents variant of ``lsh_bucketed_topk`` (batch
    queries): the self-join is an equi-join on the sign-projection
    bucket, so comparisons are bounded by bucket occupancy, never
    N². Scores are stable-rounded to 6dp BEFORE ranking, with id as
    the tiebreak, so the ranking is engine-portable. At 100 TB the
    bucketed table is written partitioned by bucket and each bucket's
    pairwise block runs independently — same recall trade-off as any
    single-probe LSH (neighbors split across buckets are missed).
    """
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
    rounded = stable_round6(cosine("va", "vb"))
    w = Window.partitionBy("id_a").orderBy(F.desc("cos"), F.asc("id_b"))
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") != F.col("id_b"))
        .withColumn("cos", rounded)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("id_a", "id_b", "cos", "rnk")
    )


def mmr_rerank(
    emb: DataFrame,
    query_ids: list[str],
    n_candidates: int = 20,
    k: int = 5,
    lam: float = 0.75,
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k per query
    → (qid, id, mmr, pick).

    Stage 1 (distributed): exact cosine top-``n_candidates`` per
    query (broadcast query side, rank-filter window — brute_topk's
    plan). Stage 2 (per-group greedy): within each query's candidate
    set, iteratively pick argmax of ``lam·rel − (1−lam)·max_sim_to_
    selected``. The greedy loop runs in one Arrow-batched
    ``applyInPandas`` per query group — each group holds only
    n_candidates rows, so stage 2 is embarrassingly parallel across
    queries and O(k·n²) in a tiny n. All comparisons use 6dp-rounded
    scores with id tiebreaks, so the greedy trace is deterministic
    and engine-portable (the DuckDB oracle unrolls the same k picks
    as CTEs). ``lam`` should be exactly representable in binary
    (0.75 → 1−lam = 0.25 exactly) so both engines compute identical
    coefficient products.
    """
    import math

    q = emb.filter(F.col("node_id").isin(query_ids)).select(
        F.col("node_id").alias("qid"), F.col("vector").alias("qvec"), "dim"
    )
    rel6 = stable_round6(cosine("vector", "qvec"))
    w = Window.partitionBy("qid").orderBy(F.desc("rel"), F.asc("node_id"))
    cand = (
        emb.join(F.broadcast(q), "dim")
        .filter(F.col("node_id") != F.col("qid"))
        .withColumn("rel", rel6)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= n_candidates)
        .select("qid", F.col("node_id").alias("id"), "vector", "rel")
    )

    def greedy(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("id").reset_index(drop=True)
        m = np.stack(pdf["vector"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0] = 1.0
        sim = (m / norms[:, None]) @ (m / norms[:, None]).T
        sim = np.floor(sim * 1e6 + 0.5) / 1e6
        rel = pdf["rel"].to_numpy()
        ids = pdf["id"].to_numpy()
        n = len(pdf)
        selected: list[int] = []
        rows = []
        for pick in range(1, min(k, n) + 1):
            best_i, best_s = -1, -math.inf
            for i in range(n):
                if i in selected:
                    continue
                pen = max(sim[i][j] for j in selected) if selected else 0.0
                s = lam * rel[i] - (1 - lam) * pen
                s = math.floor(s * 1e6 + 0.5) / 1e6
                # ids are pre-sorted, so first-wins = min-id tiebreak
                if s > best_s:
                    best_i, best_s = i, s
            selected.append(best_i)
            rows.append(
                {
                    "qid": pdf["qid"].iloc[0],
                    "id": ids[best_i],
                    "mmr": best_s,
                    "pick": pick,
                }
            )
        return pd.DataFrame(rows, columns=["qid", "id", "mmr", "pick"])

    return cand.groupBy("qid").applyInPandas(
        greedy, "qid string, id string, mmr double, pick int"
    )


def kmeans_assign(
    emb: DataFrame,
    n_centroids: int = 8,
    iters: int = 2,
    dim: int = 64,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Lloyd's k-means cluster assignment → (id, cluster, dist).

    Exposes the deterministic training core the IVF index already
    uses (``ivf_centroids``: smallest-id seeds, min-distance/
    min-index assignment, 6dp-stabilized means) as a first-class
    clustering operator — per-vector cluster label plus the exact
    squared distance to its final centroid, the standard corpus-
    structuring primitive (topic buckets, stratified mixing,
    diversity quotas). Each assignment pass is one broadcast of C
    centroids over a single scan (map-side min_by, no shuffle of
    vectors); at 100 TB cost is iters+1 scans, all broadcast joins.

    ``index``: a prebuilt ``(centroids, assign)`` from
    ``ivf_index_stage`` — this IS the same deterministic training
    (ivf_centroids with identical seeding/rounding), so when the
    shared staged index exists the assignment is a parquet read plus
    one broadcast join to recompute each member's distance to its
    OWN centroid (identical IEEE doubles: same expression over the
    same float32-exact vectors and 6dp-rounded centroid components).
    """
    if index is not None:
        cf = index[0].withColumn("cc", dot("cvec", "cvec"))
        return (
            index[1]
            .withColumn("vv", dot("vector", "vector"))
            .join(F.broadcast(cf), "cidx")
            .select(
                "id",
                F.col("cidx").alias("cluster"),
                stable_round6(
                    F.col("vv") + F.col("cc") - 2 * dot("vector", "cvec")
                ).alias("dist"),
            )
        )
    e = (
        emb.filter(F.size("vector") == dim)
        .select(F.col("node_id").alias("id"), "vector")
        .withColumn("vv", dot("vector", "vector"))
    )
    centroids = ivf_centroids(emb, n_centroids, iters, dim).withColumn(
        "cc", dot("cvec", "cvec")
    )
    scored = e.crossJoin(F.broadcast(centroids)).withColumn(
        "dist", F.col("vv") + F.col("cc") - 2 * dot("vector", "cvec")
    )
    return (
        scored.groupBy("id")
        .agg(
            F.min_by("cidx", F.struct("dist", "cidx")).alias("cluster"),
            stable_round6(F.min(F.struct("dist", "cidx"))["dist"]).alias(
                "dist"
            ),
        )
    )


def ivfpq_residual_topk(
    emb: DataFrame,
    query_ids: list[str],
    k: int = 5,
    n_centroids: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    m: int = 4,
    ksub: int = 16,
    dim: int = 64,
    index: (
        tuple[DataFrame, DataFrame, DataFrame, DataFrame] | None
    ) = None,
) -> DataFrame:
    """RESIDUAL IVF-PQ → (qid, id, adist, rnk): the faiss-style
    composition where PQ encodes each vector's residual
    ``x − centroid(cell(x))`` rather than x itself.

    Residuals concentrate around 0 with far less variance than raw
    vectors, so the same m×ksub codebook budget quantizes them with
    much lower distortion — the reason production IVFPQ indexes are
    residual-encoded. The ADC table becomes per (query, PROBED
    cell): ``q_res = q − c_cell`` against the shared residual
    codebooks — |queries|·nprobe·m·ksub entries, still a constant
    broadcast. Everything else keeps ivfpq_topk's shape (partition-
    prunable codes, broadcast-only joins, sorted ADC fold), and both
    Lloyd trainings stay deterministic, so the DuckDB twin replays
    the full residual index build exactly.
    """
    e = (
        emb.filter(F.size("vector") == dim)
        .select(F.col("node_id").alias("id"), "vector")
        .withColumn("vv", dot("vector", "vector"))
    )
    if index is None:
        cf = ivf_centroids(emb, n_centroids, iters, dim).withColumn(
            "cc", dot("cvec", "cvec")
        )
        af = (
            e.crossJoin(F.broadcast(cf))
            .withColumn(
                "dist",
                F.col("vv") + F.col("cc") - 2 * dot("vector", "cvec"),
            )
            .groupBy("id")
            .agg(F.min_by("cidx", F.struct("dist", "cidx")).alias("cidx"))
        )
        # residual corpus in emb layout, cached: read by PQ training,
        # code assignment, and nothing else — one scan each otherwise
        resid = (
            e.join(af, "id")
            .join(F.broadcast(cf.select("cidx", "cvec")), "cidx")
            .select(
                F.col("id").alias("node_id"),
                F.zip_with(
                    F.col("vector").cast("array<double>"),
                    "cvec",
                    lambda a, b: a - b,
                ).alias("vector"),
            )
            .localCheckpoint(eager=True)
        )
        cb = pq_train(resid, m, ksub, iters, dim).withColumn(
            "cc", dot("cvec", "cvec")
        )
        es = _subvectors(resid, m, dim)
        codes = (
            es.join(F.broadcast(cb), "sm")
            .withColumn(
                "dist", F.col("vv") + F.col("cc") - 2 * dot("sv", "cvec")
            )
            .groupBy("id", "sm")
            .agg(F.min_by("cidx", F.struct("dist", "cidx")).alias("code"))
        )
    else:
        # pure serving over pq_index_stage(residual=True): staged
        # residual codebooks + cidx-partitioned residual codes.
        cf = index[0].withColumn("cc", dot("cvec", "cvec"))
        af = index[1]
        cb = index[2]
        codes = index[3]
    qv = e.filter(F.col("id").isin(query_ids)).select(
        F.col("id").alias("qid"),
        F.col("vector").cast("array<double>").alias("qvec"),
        "vv",
    )
    wp = Window.partitionBy("qid").orderBy("dist", "cidx")
    probes = (
        qv.crossJoin(F.broadcast(cf))
        .withColumn(
            "dist", F.col("vv") + F.col("cc") - 2 * dot("qvec", "cvec")
        )
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= nprobe)
        .select("qid", F.col("cidx").alias("cell"))
    )
    sub = dim // m
    qres = (
        probes.join(qv.select("qid", "qvec"), "qid")
        .join(
            F.broadcast(
                cf.select(F.col("cidx").alias("cell"), "cvec")
            ),
            "cell",
        )
        .select(
            "qid",
            "cell",
            F.zip_with("qvec", "cvec", lambda a, b: a - b).alias("rv"),
        )
    )
    qsub = qres.select(
        "qid",
        "cell",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sm"),
        "rv",
    ).select(
        "qid",
        "cell",
        "sm",
        F.slice("rv", F.col("sm") * sub + 1, F.lit(sub)).alias("qsv"),
    )
    tables = qsub.join(F.broadcast(cb), "sm").select(
        "qid",
        "cell",
        "sm",
        "cidx",
        (
            dot("qsv", "qsv") + F.col("cc") - 2 * dot("qsv", "cvec")
        ).alias("d"),
    )
    if index is None:
        sel = (
            af.join(
                F.broadcast(probes),
                af["cidx"] == probes["cell"],
            )
            .filter(F.col("id") != F.col("qid"))
            .select("qid", "cell", "id")
        )
        cand_codes = (
            codes.alias("cd")
            .join(sel.alias("sl"), F.col("cd.id") == F.col("sl.id"))
            .select(
                F.col("sl.qid").alias("qid"),
                F.col("sl.cell").alias("cell"),
                F.col("cd.id").alias("id"),
                F.col("cd.sm").alias("sm"),
                F.col("cd.code").alias("code"),
            )
        )
    else:
        # staged codes carry the coarse cell — the probe join prunes
        # code partitions directly, no assignment-side semi-join
        cand_codes = (
            codes.join(
                F.broadcast(probes), codes["cidx"] == probes["cell"]
            )
            .filter(F.col("id") != F.col("qid"))
            .select("qid", "cell", "id", "sm", "code")
        )
    cand = (
        cand_codes.alias("cd")
        .join(
            F.broadcast(tables.alias("tb")),
            (F.col("cd.qid") == F.col("tb.qid"))
            & (F.col("cd.cell") == F.col("tb.cell"))
            & (F.col("cd.sm") == F.col("tb.sm"))
            & (F.col("cd.code") == F.col("tb.cidx")),
        )
        .select(
            F.col("cd.qid").alias("qid"),
            F.col("cd.id").alias("id"),
            F.col("cd.sm").alias("psm"),
            F.col("tb.d").alias("d"),
        )
        .groupBy("qid", "id")
        .agg(F.array_sort(F.collect_list(F.struct("psm", "d"))).alias("ds"))
    )
    adist = F.aggregate(
        F.transform("ds", lambda s: s["d"]), F.lit(0.0), lambda a, x: a + x
    )
    wk = Window.partitionBy("qid").orderBy("adist", "id")
    return (
        cand.select(
            "qid",
            "id",
            stable_round6(adist).alias("adist"),
        )
        .withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= k)
    )


def _sign_word(vec: str, lo: int, n: int) -> F.Column:
    """Σ_{i=0}^{n-1} (vec[lo+i] > 0)·2^i as one BIGINT word — the
    sign-bit pack, written as a sum of distinct powers of two so any
    engine computes the identical integer (n ≤ 32 keeps every word
    positive and far from int64 overflow)."""
    return F.expr(
        f"aggregate(sequence(1, {n}), CAST(0 AS BIGINT), (acc, i) -> "
        f"acc + IF(element_at({vec}, {lo} + i) > 0, "
        f"shiftleft(CAST(1 AS BIGINT), i - 1), CAST(0 AS BIGINT)))"
    )


def binary_hamming_topk(
    emb: DataFrame,
    query_ids: list[str],
    k: int = 10,
    dim: int = 64,
) -> DataFrame:
    """Binary (sign) quantization + Hamming top-k →
    (qid, id, hamming, rnk): each float vector compresses to two
    32-bit sign words (16 bytes vs 512 for float64·64 — 32×), and
    similarity is popcount(xor) — the faiss binary-index tier, the
    cheapest useful ANN representation.

    The random-hyperplane LSH theorem (Goemans–Williamson / Charikar)
    makes sign-bit Hamming distance a monotone estimator of angular
    distance, so the binary top-k is a high-recall candidate set a
    float re-rank refines. Scale shape: identical to ``brute_topk`` —
    packed queries broadcast, the big side is scanned once with
    two XOR+POPCNT per pair (JVM intrinsics, whole-stage codegen) —
    but the scan reads 16-byte codes instead of 512-byte vectors, so
    the 100 TB corpus becomes a 3 TB scan. Ties rank by id for
    determinism; packing is exact integer arithmetic, so the DuckDB
    twin is bit-identical.
    """
    half = dim // 2
    packed = emb.filter(F.col("dim") == dim).select(
        "node_id",
        "dim",
        _sign_word("vector", 0, half).alias("w0"),
        _sign_word("vector", half, dim - half).alias("w1"),
    )
    q = packed.filter(F.col("node_id").isin(query_ids)).select(
        F.col("node_id").alias("qid"),
        "dim",
        F.col("w0").alias("q0"),
        F.col("w1").alias("q1"),
    )
    scored = (
        packed.join(F.broadcast(q), "dim")
        .filter(F.col("node_id") != F.col("qid"))
        .select(
            "qid",
            F.col("node_id").alias("id"),
            (
                F.bit_count(F.expr("w0 ^ q0"))
                + F.bit_count(F.expr("w1 ^ q1"))
            ).alias("hamming"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.asc("hamming"), F.asc("id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "id", "hamming", "rnk")
    )


def binary_rerank_topk(
    emb: DataFrame,
    query_ids: list[str],
    k: int = 10,
    n_candidates: int = 50,
    dim: int = 64,
    round_scores: int | None = None,
) -> DataFrame:
    """Two-stage retrieval → (qid, id, cos, rnk): binary sign-Hamming
    candidate generation (``n_candidates`` per query from the 16-byte
    codes) followed by EXACT cosine re-ranking of just those
    candidates — the production ANN deployment shape (faiss binary
    index + refine, or any compressed-first/exact-second pipeline).

    Scale shape: stage 1 scans codes (32× smaller than the vectors);
    stage 2 touches ``|queries| × n_candidates`` full vectors via an
    equi-join on the candidate ids — at 100 TB the expensive float
    read is limited to a few thousand rows however large the corpus.
    Recall is governed by n_candidates/k (the sign-LSH estimator
    concentration); both stages and their composition are exact
    integer/fixed-expression arithmetic, so the whole pipeline is
    value-checkable cross-engine — including the recall-relevant
    candidate cut, which ties by (hamming, id) deterministically.
    """
    cands = binary_hamming_topk(
        emb, query_ids, k=n_candidates, dim=dim
    ).select("qid", "id")
    q = emb.filter(F.col("node_id").isin(query_ids)).select(
        F.col("node_id").alias("qid"), F.col("vector").alias("qvec")
    )
    vecs = emb.select(F.col("node_id").alias("id"), "vector")
    scored = (
        cands.join(vecs, "id")
        .join(F.broadcast(q), "qid")
        .withColumn("cos", cosine("vector", "qvec"))
    )
    if round_scores is not None:
        scored = scored.withColumn("cos", F.round("cos", round_scores))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "id", "cos", "rnk")
    )


def matryoshka_rerank_topk(
    emb: DataFrame,
    query_ids: list[str],
    k: int = 5,
    prefix_dim: int = 16,
    candidates: int = 20,
) -> DataFrame:
    """Matryoshka (MRL) two-stage retrieval → (qid, id, cos, rnk):
    stage 1 scores cosine over only the FIRST ``prefix_dim``
    components (the nested sub-embedding an MRL-trained encoder
    makes meaningful) to pick ``candidates`` per query; stage 2
    re-ranks those with the full-dimension exact cosine and keeps
    top ``k``. The dimension-tiered cousin of the binary-Hamming
    rerank: stage 1 reads prefix_dim/dim of the vector bytes — with
    a column layout storing the prefix separately, the candidate
    scan touches a fraction of the embedding storage at 100 TB.

    Scale shape: both stages are the audited broadcast-query shape;
    stage 2's input is |queries|·candidates rows, never the corpus.
    Ties break by id ASC at both stages (engine-parity rule).
    """
    from pyspark.sql.window import Window

    from ..functions.vectorfn import cosine

    q = emb.filter(F.col("node_id").isin(query_ids)).select(
        F.col("node_id").alias("qid"), F.col("vector").alias("qvec"), "dim"
    )
    pre = (
        emb.join(F.broadcast(q), "dim")
        .filter(F.col("node_id") != F.col("qid"))
        .withColumn(
            "pcos",
            cosine(
                F.slice("vector", 1, prefix_dim),
                F.slice("qvec", 1, prefix_dim),
            ),
        )
    )
    w1 = Window.partitionBy("qid").orderBy(
        F.desc(stable_round6(F.col("pcos"))),
        F.asc("node_id"),
    )
    cand = pre.withColumn("prnk", F.row_number().over(w1)).filter(
        F.col("prnk") <= candidates
    )
    cos6 = stable_round6(cosine("vector", "qvec"))
    w2 = Window.partitionBy("qid").orderBy(
        F.desc("cos"), F.asc("node_id")
    )
    return (
        cand.withColumn("cos", cos6)
        .withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .select("qid", F.col("node_id").alias("id"), "cos", "rnk")
    )

def jl_signs(spark, k: int = 16, dim: int = 64) -> DataFrame:
    """Deterministic Achlioptas ±1 projection rows → (j, w).

    sign(j, d) = 1 − 2·(md5-derived bit), identically computable in
    DuckDB — the JL matrix as data, broadcast like ``hyperplanes``.
    """
    return spark.range(k).select(
        F.col("id").cast("int").alias("j"),
        F.expr(
            f"transform(sequence(0, {dim - 1}), d ->"
            " cast(1 - 2 * (cast(conv(substr(md5(concat('jl', id, 'd', d)),"
            " 1, 8), 16, 10) as bigint) % 2) as double))"
        ).alias("w"),
    )


def jl_distortion_eval(
    emb: DataFrame, k: int = 16, dim: int = 64
) -> DataFrame:
    """Johnson–Lindenstrauss projection quality report → one row
    (k_dims, n_pairs, mean_distortion, max_distortion).

    Projects the corpus from ``dim`` to ``k`` dimensions with the
    deterministic ±1/√k matrix (``jl_signs``) and measures, over the
    consecutive-id pair sample, the relative Euclidean-distance
    distortion |‖Pa−Pb‖/‖a−b‖ − 1|. The JL lemma bounds this by
    ε ≈ √(ln n / k); the report is the evidence a deployment checks
    before running its ANN/dedup stack on projected vectors at a
    quarter of the I/O. Plan shape: one broadcast of k sign rows,
    projection is a map-side dot per (vector, row); pair distances
    shuffle once keyed by pair id; the report is a single global
    aggregate. No all-pairs anywhere."""
    import math as _math

    scale = _math.sqrt(k)
    e = (
        emb.filter(F.size("vector") == dim)
        .select(F.col("node_id").cast("long").alias("id"), "vector")
    )
    proj = (
        e.crossJoin(F.broadcast(jl_signs(emb.sparkSession, k, dim)))
        .select(
            "id",
            "j",
            (dot("vector", "w") / F.lit(scale)).alias("y"),
        )
    )
    a = e.select(F.col("id").alias("ia"), F.col("vector").alias("va"))
    b = e.select((F.col("id") - 1).alias("ia"), F.col("vector").alias("vb"))
    pairs = a.join(b, "ia").select(
        "ia",
        F.aggregate(
            F.zip_with("va", "vb", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ).alias("d2o"),
    )
    pa = proj.select(F.col("id").alias("ia"), "j", F.col("y").alias("ya"))
    pb = proj.select(
        (F.col("id") - 1).alias("ia"), "j", F.col("y").alias("yb")
    )
    d2p = (
        pa.join(pb, ["ia", "j"])
        .groupBy("ia")
        .agg(
            F.sum((F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))).alias(
                "d2p"
            )
        )
    )
    dist = (
        pairs.join(d2p, "ia")
        .filter(F.col("d2o") > 0)
        .select(F.abs(F.sqrt(F.col("d2p") / F.col("d2o")) - 1).alias("e"))
    )
    return dist.agg(
        F.lit(k).alias("k_dims"),
        F.count("*").alias("n_pairs"),
        stable_round6(F.avg("e")).alias("mean_distortion"),
        stable_round6(F.max("e")).alias("max_distortion"),
    )

def jl_rerank_topk(
    emb: DataFrame,
    query_ids: list[str],
    k: int = 5,
    jl_k: int = 16,
    candidates: int = 20,
    dim: int = 64,
) -> DataFrame:
    """JL two-stage retrieval → (qid, id, cos, rnk): stage 1 scores
    cosine over the ±1/√k Johnson–Lindenstrauss projection
    (``jl_signs``, the matrix ``ann_jl_distortion_eval`` certifies)
    to pick ``candidates`` per query; stage 2 re-ranks those with
    full-dimension exact cosine. The data-independent cousin of the
    Matryoshka prefix tier: no trained encoder required, distortion
    bounded by the JL lemma instead of the MRL training objective.

    Scale shape: the projected corpus is jl_k/dim of the vector
    bytes (here 4×to smaller), computed map-side under one broadcast
    of k sign rows; both ranking stages are the audited
    broadcast-query shape, stage 2 touching |queries|·candidates
    full vectors only. Ties break by (rounded score, id) at both
    stages (engine-parity rule).
    """
    import math as _math

    from pyspark.sql.window import Window

    from ..functions.vectorfn import cosine

    scale = _math.sqrt(jl_k)
    e = emb.filter(F.size("vector") == dim).select(
        F.col("node_id").alias("id"), "vector"
    )
    proj = (
        e.crossJoin(F.broadcast(jl_signs(emb.sparkSession, jl_k, dim)))
        .select("id", "j", (dot("vector", "w") / F.lit(scale)).alias("y"))
    )
    pv = proj.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "y"))),
            lambda s: s.getField("y"),
        ).alias("pvec")
    )
    q = pv.filter(F.col("id").isin(query_ids)).select(
        F.col("id").alias("qid"), F.col("pvec").alias("qpvec")
    )
    pre = (
        pv.crossJoin(F.broadcast(q))
        .filter(F.col("id") != F.col("qid"))
        .withColumn("pcos", cosine("pvec", "qpvec"))
    )
    w1 = Window.partitionBy("qid").orderBy(
        F.desc(stable_round6(F.col("pcos"))),
        F.asc("id"),
    )
    cand = (
        pre.withColumn("prnk", F.row_number().over(w1))
        .filter(F.col("prnk") <= candidates)
        .select("qid", "id")
    )
    qv = e.filter(F.col("id").isin(query_ids)).select(
        F.col("id").alias("qid"), F.col("vector").alias("qvec")
    )
    cos6 = stable_round6(cosine("vector", "qvec"))
    w2 = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("id"))
    return (
        cand.join(e, "id")
        .join(F.broadcast(qv), "qid")
        .withColumn("cos", cos6)
        .withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .select("qid", "id", "cos", "rnk")
    )

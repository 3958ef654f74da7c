"""Okapi BM25 scoring as pure DataFrame aggregations.

The reference delegates to ``rank_bm25.BM25Okapi`` with library
defaults (``/root/reference/app.py:460-489``): k1=1.5, b=0.75, and
the Okapi idf ``ln((N - df + 0.5)/(df + 0.5))`` with negative idfs
floored to ``epsilon * average_idf`` (epsilon=0.25, average over ALL
corpus terms' raw idfs). Query tokens are counted with multiplicity.
Note the reference exposes BM25 via no HTTP endpoint and does NOT
fuse it into hybrid (``app.py:670-671``) — it is a standalone
capability, which we implement faithfully.

Spark shape — the index IS two aggregate DataFrames:
``explode(tokens)`` → per-(doc,term) tf + per-doc length, one
``groupBy(term)`` for document frequencies, one single-row global
aggregate (N, avgdl, avg raw idf) broadcast back. All
map-side-combinable shuffles on compact keys. Scoring stays
broadcast-only on top of those aggregates: one keyed body,
:func:`_contrib`, scores a query-terms frame — (tok, qcnt) for one
query, (qid, tok, qcnt) for a batch — and idf is materialized ONLY
for those terms (a |q|-row frame), so the work after the corpus stats
is two broadcast joins for one query or for Q; no full-vocabulary
shuffle. Unlike the reference's rebuild-the-whole-index-per-write,
these aggregates are recomputed lazily per query batch — at 100 TB
they can be persisted and incrementally maintained, but semantics
stay identical.

Where each input comes from: the query's terms are a JVM local
relation built on the driver (``session.local_frame``). The scalar
row comes from the stats the caller passes: the disk-staged index
(:func:`bm25_index_stage`) computes it once at build time and serves
it as a local relation, so a query over it runs no corpus-wide
aggregate; the unstaged paths (:func:`corpus_stats`,
:func:`staged_index`, plain triples) keep the lazy in-plan
:func:`_globals_df`.

A corpus that changes one document at a time (the ``api`` facade's
nodes) is served by :class:`MaintainedIndex`: built once, it folds
the writes recorded since the last read into its posting, doc-length
and df frames as filter-and-union plans over only the touched ids
and terms, so a search after a write pays two narrow collects and
one vocabulary aggregate instead of a re-tokenize and re-aggregate
of the corpus. Its answers equal a rebuild's.
"""

from __future__ import annotations

import json
import os
from collections import Counter, defaultdict
from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.textfn import tokenize
from ..session import in_list, local_frame
from ._keyed import key_cols, topk

K1 = 1.5
B = 0.75
EPSILON = 0.25
# staged-artifact params: bump when the staged layout or the
# tokenizer changes (tok-v4: textfn.WS_SPLIT)
_STAGE_PARAMS = "tok-v4"
# the scalar row a stats tuple may carry as its fourth frame
_GLOBALS_DDL = "__n_docs long, __avgdl double, __avg_idf double"


def corpus_stats(nodes: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """→ (tf(id, tok, tf), doclen(id, dl), df_(tok, df)).

    Raw corpus aggregates; idf derivation (which needs the global
    N / avg-idf scalars) happens in :func:`_contrib`.

    All three frames descend from ONE ``groupBy(id, tok)`` posting
    frame. ``explode_outer`` keeps zero-token docs as a null-token
    row (tf contribution 0) so they still appear in ``doclen`` with
    dl=0 — rank_bm25 averages doc length over ALL docs, empty ones
    included. Repeated-query workloads stage the posting frame
    instead (:func:`staged_index`, :func:`bm25_index_stage`).
    """
    return stats_from_posting(posting_frame(nodes))


def posting_frame(nodes: DataFrame) -> DataFrame:
    """(id, text) → posting list (id, tok, tf); zero-token docs keep a
    null-token row with tf=0 so doc-length stats still see them.
    This is the frame a deployment persists (partitioned by tok) and
    the streaming path maintains incrementally (streaming/ingest.py).
    """
    return (
        nodes.select("id", F.explode_outer(tokenize("text")).alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count(F.col("tok")).alias("tf"))
    )


def stats_from_posting(
    posting: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Posting list → the (tf, doclen, df_) triple scoring consumes."""
    doclen = posting.groupBy("id").agg(F.sum("tf").alias("dl"))
    tf = posting.filter(F.col("tok").isNotNull())
    df_ = tf.groupBy("tok").agg(F.count("*").alias("df"))
    return tf, doclen, df_


def staged_index(nodes: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Stats over an eagerly STAGED posting frame — the deployment
    shape where the posting list already exists as a table and a
    query pays only the scoring joins.

    ``localCheckpoint(eager=True)`` materializes the scan → explode →
    groupBy posting build exactly once and truncates lineage, so the
    3-4 downstream consumers (tf, doclen, df_, global idf average)
    read the staged partitions instead of re-deriving them from the
    parquet scan (the cold path's dominant cost). Same staging idiom
    as dedup_cluster_from_pairs. A 100 TB deployment swaps the
    checkpoint for a persisted posting table partitioned by tok,
    incrementally maintained (streaming/ingest.py proves the
    maintained stats equal the recompute); scoring semantics are
    byte-identical either way.
    """
    posting = posting_frame(nodes).localCheckpoint(eager=True)
    return stats_from_posting(posting)


def staged_posting_frame(spark, nodes: DataFrame, cache_key: str) -> DataFrame:
    """Build-once / read-many posting table staged as scratch parquet
    → the (id, tok, tf) frame read back from disk.

    The posting list is a pure function of the corpus text, so it is
    written ONCE per ``cache_key`` (normally the sf_dir, salted with
    the documents parquet's mtime/size) under the shared scratch root
    — the ``ivf_index_stage`` / ``minhash_index_stage`` idiom applied
    to the lexical-search family — and every BM25 consumer reads the
    same files instead of re-tokenizing the corpus per query. The
    doc-length and document-frequency aggregates are staged alongside
    (computed FROM the written posting, so the artifacts are
    consistent by construction), and so is the index-constant scalar
    row :func:`_globals_df` computes (``globals.json``, observed as
    metrics of the doclen/df writes, so it costs no extra job);
    :func:`bm25_index_stage` serves all of them.

    Postings are row-local per document (tok strings and tf longs
    roundtrip parquet exactly), so a per-id subset serves from the
    SAME staged frame: ``posting.join(ids, "id", "left_semi")`` then
    :func:`stats_from_posting` equals building the index on the
    subset directly — corpus-GLOBAL stats (df, N, avgdl) are
    re-aggregated over the subset's rows, which is exactly the
    honest post-filter collection statistics (this is how the
    deduped hard-negative miner shares the build).
    """
    from .staging import staged_index_dir, write_staged

    final = staged_index_dir(
        "bm25_index", cache_key, _STAGE_PARAMS, salt_file="documents.parquet"
    )

    def _write(tmp: str) -> None:
        # token-clustered layout: range-partitioned + sorted by tok,
        # so a query's In(tok, …) predicate skips whole row groups
        # via min/max stats — the posting-table layout a deployment
        # uses (partition/sort by term) so queries read only their
        # terms' posting lists
        posting_frame(nodes).repartitionByRange(8, "tok").sortWithinPartitions(
            "tok"
        ).write.parquet(os.path.join(tmp, "posting"))
        p = spark.read.parquet(os.path.join(tmp, "posting"))
        _, doclen, df_ = stats_from_posting(p)
        # the scalar row rides the two writes as observed metrics —
        # no extra job; N must be known before the idf average
        docs, vocab = Observation(), Observation()
        doclen.observe(
            docs, F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
        ).write.parquet(os.path.join(tmp, "doclen"))
        n = docs.get["n"]
        df_.observe(
            vocab,
            F.count(F.lit(1)).alias("terms"),
            F.avg(_raw_idf(F.lit(n))).alias("avg_idf"),
        ).write.parquet(os.path.join(tmp, "df"))
        # an empty vocabulary has no scalar row, as with _globals_df
        rows = (
            [(n, docs.get["avgdl"], vocab.get["avg_idf"])]
            if vocab.get["terms"]
            else []
        )
        with open(os.path.join(tmp, "globals.json"), "w") as fh:
            json.dump(rows, fh)

    write_staged(final, _write)
    return spark.read.parquet(os.path.join(final, "posting"))


def bm25_index_stage(
    spark, nodes: DataFrame, cache_key: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """→ (tf, doclen, df_, globals_df) served entirely from the staged
    posting artifact (:func:`staged_posting_frame`): the full-corpus
    serving path where a query pays ONLY the |q|-row idf derivation
    plus the scoring joins — zero tokenize, zero corpus-wide
    aggregation. The doclen/df aggregates read their own staged
    parquet (doc-count and vocabulary sized — small), not recomputes
    over the posting. The scalar row (N, avgdl, avg raw idf) was
    computed once at build time and is read from ``globals.json``
    into a local relation (``globals_df``, the optional fourth frame
    of a stats tuple): no per-query ``avg(dl)``/``count`` over doclen
    or idf average over df, and every query over one index sees the
    same doubles (a recompute can move ``__avg_idf`` by an ulp with
    the partition summation order). A 100 TB deployment maintains these as real
    tables next to the corpus (streaming/ingest.py proves the
    incrementally-maintained stats equal the recompute); scoring is
    value-identical either way because longs and tok strings
    roundtrip parquet bit-exactly.
    """
    from .staging import staged_index_dir

    posting = staged_posting_frame(spark, nodes, cache_key)
    final = staged_index_dir(
        "bm25_index", cache_key, _STAGE_PARAMS, salt_file="documents.parquet"
    )
    tf = posting.filter(F.col("tok").isNotNull())
    doclen = spark.read.parquet(os.path.join(final, "doclen"))
    df_ = spark.read.parquet(os.path.join(final, "df"))
    with open(os.path.join(final, "globals.json")) as fh:
        rows = [tuple(r) for r in json.load(fh)]
    globals_df = local_frame(spark, rows, _GLOBALS_DDL)
    return tf, doclen, df_, globals_df


FOLD_AT = 128
"""Most pending writes a :class:`MaintainedIndex` holds: the write that
records one more folds them, so its driver state stays request-sized."""

class MaintainedIndex:
    """(posting, doclen, df_) over a changing node set, kept current by
    folding its pending writes once per read instead of rebuilding.

    Writes only :meth:`record` ``id → new text | deleted`` on the
    driver. :meth:`fold` replaces the touched ids' rows in one step:
    narrow collects read their old posting rows and their terms' old
    ``df``, the new texts are tokenized by :func:`tokenize` over a
    local relation (the optimizer folds it, so this runs no job and the
    tokens are the rebuild's), and each frame commits as
    ``filter(NOT key IN (…)) ∪ local rows``. ``N`` and ``Σdl`` are
    driver scalars; the vocabulary-wide idf average is one aggregate
    per fold. :meth:`stats` serves the result through
    ``bm25_topk(stats=…)`` with the scalar row as a local relation, the
    retrieval path of :func:`bm25_index_stage`. ``commit`` cuts each new
    frame's lineage (the facade's ``_commit``).
    """

    def __init__(self, nodes: DataFrame, commit) -> None:
        self._commit = commit
        self._spark = nodes.sparkSession
        self.posting = commit(posting_frame(nodes))
        _, doclen, df_ = stats_from_posting(self.posting)
        self.doclen, self.df = commit(doclen), commit(df_)
        n, sum_dl = self.doclen.agg(
            F.count(F.lit(1)), F.coalesce(F.sum("dl"), F.lit(0))
        ).collect()[0]
        self.n_docs, self.sum_dl = n, sum_dl
        self._pending: dict[str, tuple[bool, str | None]] = {}
        self._refresh_globals()

    def record(self, doc_id: str, text: str | None, live: bool = True) -> None:
        """Note that ``doc_id`` now holds ``text`` (``live``) or is gone."""
        self._pending[doc_id] = (live, text)
        if len(self._pending) > FOLD_AT:
            self.fold()

    def fold(self) -> None:
        """Apply the pending writes to the index frames and scalars."""
        if not self._pending:
            return
        pending, self._pending = self._pending, {}
        ids = list(pending)
        old_dl: dict[str, int] = defaultdict(int)
        delta: dict[str, int] = defaultdict(int)
        for doc, tok, tf in self.posting.filter(in_list("id", ids)).collect():
            old_dl[doc] += tf
            if tok is not None:
                delta[tok] -= 1
        live = [(i, text) for i, (alive, text) in pending.items() if alive]
        rows, lens = [], []
        for doc, toks in local_frame(
            self._spark, live, "id string, text string"
        ).select("id", tokenize("text")).collect():
            counts = Counter(toks or ())
            # a zero-token doc keeps its null-token row, as posting_frame's
            rows += [(doc, t, c) for t, c in counts.items()] or [(doc, None, 0)]
            lens.append((doc, sum(counts.values())))
            for t in counts:
                delta[t] += 1
        self.n_docs += len(lens) - len(old_dl)
        self.sum_dl += sum(dl for _, dl in lens) - sum(old_dl.values())
        keep_ids = ~F.coalesce(in_list("id", ids), F.lit(False))
        self.posting = self._commit(
            self.posting.filter(keep_ids).unionByName(
                local_frame(self._spark, rows, "id string, tok string, tf long")
            )
        )
        self.doclen = self._commit(
            self.doclen.filter(keep_ids).unionByName(
                local_frame(self._spark, lens, "id string, dl long")
            )
        )
        moved = [t for t, d in delta.items() if d]
        if moved:
            dfs = [
                (t, df + delta.pop(t))
                for t, df in self.df.filter(in_list("tok", moved)).collect()
            ]
            dfs += [(t, d) for t, d in delta.items() if d]  # new terms
            self.df = self._commit(
                self.df.filter(
                    ~F.coalesce(in_list("tok", moved), F.lit(False))
                ).unionByName(
                    local_frame(
                        self._spark,
                        [(t, df) for t, df in dfs if df],
                        "tok string, df long",
                    )
                )
            )
        self._refresh_globals()

    def _refresh_globals(self) -> None:
        """The scalar row (N, avgdl, mean raw idf) as a local relation;
        no row for an empty vocabulary, as with :func:`_globals_df`."""
        terms, avg_idf = self.df.agg(
            F.count(F.lit(1)), F.avg(_raw_idf(F.lit(self.n_docs)))
        ).collect()[0]
        rows = (
            [(self.n_docs, self.sum_dl / self.n_docs, avg_idf)] if terms else []
        )
        self._globals = local_frame(self._spark, rows, _GLOBALS_DDL)

    def stats(self) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
        """→ (tf, doclen, df_, globals_df) for ``bm25_topk(stats=…)``."""
        tf = self.posting.filter(F.col("tok").isNotNull())
        return tf, self.doclen, self.df, self._globals


def _raw_idf(n_docs: Column) -> Column:
    """The Okapi idf before flooring, ``ln((N - df + 0.5)/(df + 0.5))``."""
    return F.log(n_docs - F.col("df") + 0.5) - F.log(F.col("df") + 0.5)


def _globals_df(doclen: DataFrame, df_: DataFrame) -> DataFrame:
    """One-row frame (__n_docs, __avgdl, __avg_idf) — broadcast scalar.

    ``__avg_idf`` is the mean RAW Okapi idf over the whole vocabulary
    (the flooring base rank_bm25 uses); computing it here keeps the
    whole plan lazy — no eager ``count()`` job on the driver. This is
    the scalar source of the unstaged paths; :func:`bm25_index_stage`
    computes the same row once at build time instead (see
    :func:`_index_parts`).
    """
    nd = doclen.agg(
        F.count("*").alias("__n_docs"), F.avg("dl").alias("__avgdl")
    )
    raw = df_.crossJoin(F.broadcast(nd)).withColumn(
        "raw_idf", _raw_idf(F.col("__n_docs"))
    )
    return raw.groupBy("__n_docs", "__avgdl").agg(
        F.avg("raw_idf").alias("__avg_idf")
    )


def _index_parts(
    nodes: DataFrame, stats: tuple[DataFrame, ...] | None
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """→ (tf, doclen, df_, globals_df): the scalar row the stats carry
    (:func:`bm25_index_stage`), else the lazy :func:`_globals_df`."""
    tf, doclen, df_, *staged = (
        stats if stats is not None else corpus_stats(nodes)
    )
    return tf, doclen, df_, staged[0] if staged else _globals_df(doclen, df_)


def _query_terms(
    nodes: DataFrame, queries: Mapping[str, str]
) -> tuple[DataFrame, list[str]]:
    """Tokenized queries with multiplicity → ((qid, tok, qcnt) frame,
    the batch's distinct terms).

    Counted driver-side (a query is a handful of tokens; a batch is
    request-sized, not data-sized) so the plan gets one JVM local
    relation (``session.local_frame``), not a shuffle stage or a
    Python-worker scan.
    """
    rows = [
        (qid, tok, cnt)
        for qid, text in queries.items()
        for tok, cnt in Counter(text.lower().split()).items()
    ]
    terms = local_frame(
        nodes.sparkSession, rows, "qid string, tok string, qcnt long"
    )
    return terms, list(dict.fromkeys(tok for _, tok, _ in rows))


def _contrib(
    nodes: DataFrame,
    terms: DataFrame,
    toks: list[str],
    stats: tuple[DataFrame, ...] | None,
) -> DataFrame:
    """Summed BM25 contributions of a query-terms frame → (*keys, id,
    score): (tok, qcnt) scores one query, (qid, tok, qcnt) a batch in
    the same corpus pass. Docs with no matching term are absent
    (callers decide between outer-join-zero and positive-filter
    semantics).

    Idf is derived for the queries' terms only — |Σq| rows, always
    broadcastable, so the scoring join never shuffles the vocabulary.
    """
    keys = key_cols(terms)
    tf, doclen, df_, globals_df = _index_parts(nodes, stats)
    qidf = (
        df_.join(F.broadcast(terms), "tok")
        .crossJoin(F.broadcast(globals_df))
        .withColumn("raw_idf", _raw_idf(F.col("__n_docs")))
        .withColumn(
            "idf",
            F.when(
                F.col("raw_idf") < 0, F.lit(EPSILON) * F.col("__avg_idf")
            ).otherwise(F.col("raw_idf")),
        )
        .select(*keys, "tok", "qcnt", "idf", "__avgdl")
    )
    # The query terms are known driver-side, so prune the posting
    # frame with a literal In(tok, …) BEFORE the scoring join — rows
    # outside the queries' vocabulary can't contribute (the qidf join
    # would drop them), and the literal predicate reaches the parquet
    # scan of a staged posting table (PushedFilters), which at 100 TB
    # is the difference between reading the queries' posting lists and
    # reading the corpus. df_/doclen stay unpruned: idf flooring
    # averages over the WHOLE vocabulary and dl is per matched doc.
    return (
        tf.filter(F.col("tok").isin(toks))
        .join(F.broadcast(qidf), "tok")
        .join(doclen, "id")
        .withColumn(
            "contrib",
            F.col("qcnt")
            * F.col("idf")
            * (F.col("tf") * (K1 + 1))
            / (
                F.col("tf")
                + F.lit(K1)
                * (1 - B + F.lit(B) * F.col("dl") / F.col("__avgdl"))
            ),
        )
        .groupBy(*keys, "id")
        .agg(F.sum("contrib").alias("score"))
    )


def _one_query(
    nodes: DataFrame, query_text: str, stats: tuple[DataFrame, ...] | None
) -> DataFrame:
    """:func:`_contrib` of one query: its terms frame without the key."""
    terms, toks = _query_terms(nodes, {"": query_text})
    return _contrib(nodes, terms.drop("qid"), toks, stats)


def _positive(scored: DataFrame, round_scores: int | None) -> DataFrame:
    """Rounded (when asked) before the positive filter (``app.py:486``),
    so the filter and the top-k order see the reported scores."""
    if round_scores is not None:
        scored = scored.withColumn("score", F.round("score", round_scores))
    return scored.filter(F.col("score") > 0)


def bm25_scores(
    nodes: DataFrame,
    query_text: str,
    stats: tuple[DataFrame, ...] | None = None,
) -> DataFrame:
    """Okapi BM25 score of every document → (id, score).

    Documents matching no query term score 0.0 (kept — the top-k
    variant applies the positive filter). Pass ``stats`` from
    :func:`bm25_index_stage` for repeated-query workloads.
    """
    return (
        nodes.select("id")
        .join(_one_query(nodes, query_text, stats), "id", "left_outer")
        .select("id", F.coalesce("score", F.lit(0.0)).alias("score"))
    )


def bm25_topk(
    nodes: DataFrame,
    query_text: str,
    top_k: int = 10,
    round_scores: int | None = None,
    stats: tuple[DataFrame, ...] | None = None,
) -> DataFrame:
    """Top-k by BM25 → (id, text, score), zero/negative scores dropped
    (``app.py:486``), ties by id ASC.

    Skips :func:`bm25_scores`'s outer-join-to-zero — the positive
    filter would drop those rows anyway, so scoring stays on the
    (small) set of docs sharing a term with the query. Pass
    ``stats`` from :func:`bm25_index_stage` for repeated-query
    workloads.
    """
    scored = _positive(_one_query(nodes, query_text, stats), round_scores)
    return topk(
        scored.join(nodes.select("id", "text"), "id").select(
            "id", "text", "score"
        ),
        top_k,
        F.desc("score"),
        F.asc("id"),
    )


def phrase_search(
    df: DataFrame,
    phrase: list[str],
    id_col: str = "id",
    text_col: str = "text",
    k: int = 20,
) -> DataFrame:
    """Exact phrase search via positional postings →
    (id, n_occurrences, rnk): documents containing the tokens of
    ``phrase`` at consecutive positions, ranked by occurrence count
    (ties by id ASC) — the positional-index feature BM25 bag-of-words
    scoring cannot express ("table hash" ≠ "hash table").

    Scale shape: the positional posting (id, tok, pos) is the same
    explode as the BM25 postings with ``posexplode`` carrying the
    offset; each phrase token FILTERS the posting before any join, so
    the n−1 position equi-joins run over per-token posting slices
    (term-frequency-sized, broadcast-eligible for rare terms — the
    selective-term-first join order a query planner picks from df
    stats). Top-k compiles to TakeOrderedAndProject.
    """
    from pyspark.sql.window import Window

    from ..functions.textfn import tokenize

    posting = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokenize(text_col)).alias("pos", "tok"),
    )
    cur = posting.filter(F.col("tok") == phrase[0]).select(
        "id", F.col("pos").alias("p0")
    )
    for i, tok in enumerate(phrase[1:], start=1):
        nxt = posting.filter(F.col("tok") == tok).select(
            "id", (F.col("pos") - i).alias("p0")
        )
        cur = cur.join(nxt, ["id", "p0"])
    counts = cur.groupBy("id").agg(F.count("*").alias("n_occurrences"))
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("id"))
    return (
        counts.orderBy(F.desc("n_occurrences"), F.asc("id"))
        .limit(k)
        .withColumn("rnk", F.row_number().over(w))
    )


def bm25_topk_multi(
    nodes: DataFrame,
    queries: dict[str, str],
    top_k: int = 10,
    round_scores: int | None = None,
    stats: tuple[DataFrame, ...] | None = None,
) -> DataFrame:
    """Top-k BM25 for a BATCH of queries (qid → text) in ONE corpus
    pass → (qid, id, score): the deployment shape for query logs /
    eval sets, where scoring Q queries must not cost Q corpus scans.

    :func:`bm25_topk`'s body with the query id as a key: every query
    rides the same tf join, and the per-query top-k is a row_number
    window that Spark bounds map-side (WindowGroupLimit). Corpus stats
    are computed once for the whole batch (pass ``stats`` from
    :func:`bm25_index_stage` to amortize across batches).
    """
    terms, toks = _query_terms(nodes, queries)
    return topk(
        _positive(_contrib(nodes, terms, toks, stats), round_scores),
        top_k,
        F.desc("score"),
        F.asc("id"),
    )

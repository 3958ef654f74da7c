"""Text-analysis operators for training-data pipelines.

Language-ID (stopword-hit heuristic), quality scoring, token
counting (whitespace + subword-regex), and document fingerprinting
(min-hash over token bigrams — a winnowing-style content signature).
All portable column expressions with DuckDB oracle twins; zero UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.textfn import tokenize
from ..functions.vectorfn import stable_round6
from .dedup import stable_hash60

# Tiny per-language stopword lists (language-ID heuristic; a real
# deployment swaps in larger lists — the operator shape is the same).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "de", "et", "les"),
    "de": ("der", "die", "das", "und", "zu"),
}

# Subword tokenizer regex (BPE-ish): letter runs, digit runs, or a
# single non-space symbol. Same dialect in Spark (Java regex) and
# DuckDB (RE2).
SUBWORD_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def lang_hits(toks: Column, lang: str) -> Column:
    words = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    return F.size(F.array_intersect(toks, words))


def lang_id(df: DataFrame, id_col: str = "id", text_col: str = "text") -> DataFrame:
    """→ (id, guessed_lang): argmax stopword hits, 'und' when zero.

    Ties break on language-code order (deterministic).
    """
    toks = F.array_distinct(tokenize(text_col))
    scored = df.select(
        F.col(id_col).alias("id"),
        *[lang_hits(toks, lg).alias(f"__{lg}") for lg in LANG_STOPWORDS],
    )
    best = F.greatest(*[F.col(f"__{lg}") for lg in LANG_STOPWORDS])
    guess = F.lit("und")
    # reversed so earlier language codes win ties via later overwrite
    for lg in reversed(list(LANG_STOPWORDS)):
        guess = F.when(
            (best > 0) & (F.col(f"__{lg}") == best), F.lit(lg)
        ).otherwise(guess)
    return scored.select("id", guess.alias("guessed_lang"))


def quality_score(
    df: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """→ (id, n_tokens, stop_ratio, quality).

    quality = 0.4·min(1, n_tok/100)                 (length signal)
            + 0.3·(1 - min(1, |avg_word_len - 5|/5)) (word-shape signal)
            + 0.3·stopword_ratio                     (fluency signal)
    Empty documents score 0.0.
    """
    toks = tokenize(text_col)
    all_stop = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    stop_arr = F.array(*[F.lit(w) for w in all_stop])
    n_tok = F.size(toks)
    total_chars = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    stop_hits = F.size(
        F.filter(toks, lambda t: F.array_contains(stop_arr, t))
    )
    avg_wlen = total_chars.cast("double") / n_tok
    quality = (
        F.lit(0.4) * F.least(F.lit(1.0), n_tok / F.lit(100.0))
        + F.lit(0.3)
        * (
            F.lit(1.0)
            - F.least(F.lit(1.0), F.abs(avg_wlen - 5) / F.lit(5.0))
        )
        + F.lit(0.3) * (stop_hits.cast("double") / n_tok)
    )
    # quality/stop_ratio are ratios of small integers, which land
    # EXACTLY on 6-decimal halfway points (e.g. 1/128): stable_round6,
    # not Spark's round, so the oracle's formula gives the same bits.
    return df.select(
        F.col(id_col).alias("id"),
        n_tok.alias("n_tokens"),
        stable_round6(
            F.when(n_tok > 0, stop_hits.cast("double") / n_tok).otherwise(0.0)
        ).alias("stop_ratio"),
        stable_round6(F.when(n_tok > 0, quality).otherwise(0.0)).alias(
            "quality"
        ),
    )


def token_counts(
    df: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """→ (id, ws_tokens, subword_tokens, n_chars)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.size(tokenize(text_col)).alias("ws_tokens"),
        F.size(F.expr(f"regexp_extract_all({text_col}, '{SUBWORD_RE}', 0)")).alias(
            "subword_tokens"
        ),
        F.length(text_col).alias("n_chars"),
    )


def repetition_stats(
    df: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition / symbol filters →
    (id, dup_bigram_frac, top_tok_frac, symbol_ratio, flagged).

    - ``dup_bigram_frac``: fraction of token bigrams that repeat an
      earlier bigram (1 − distinct/total) — boilerplate detector.
    - ``top_tok_frac``: share of the most frequent token — degenerate
      repetition detector.
    - ``symbol_ratio``: non-alphanumeric-non-space chars per token —
      markup/garbage detector.
    - ``flagged``: any rule past its (Gopher-ish) threshold.

    Pure per-row column expressions, map-only at any scale. The
    top-token pass is O(tokens · distinct-tokens) per row — bounded
    by document length, never a corpus-wide shuffle. The token array
    is bound ONCE via the 1-element-struct-array trick (HOF lambdas
    have no common-subexpression elimination; a captured derived
    expression re-evaluates per element — the O(d²) hazard
    documented on l2_normalize/quantize). Ratios use floor-based
    half-up rounding (see quality_score) for engine-identical values.
    """

    def metrics(s: Column) -> Column:
        t = s["t"]
        n = F.size(t)
        bigrams = F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(0), n - 2),
                lambda i: F.concat(
                    F.get(t, i), F.lit(" "), F.get(t, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        top_cnt = F.when(
            n > 0,
            F.array_max(
                F.transform(
                    F.array_distinct(t),
                    lambda w: F.size(F.filter(t, lambda x: x == w)),
                )
            ),
        ).otherwise(F.lit(0))
        return F.struct(
            n.alias("n"),
            F.size(bigrams).alias("n_bi"),
            F.size(F.array_distinct(bigrams)).alias("n_bi_distinct"),
            top_cnt.alias("top_cnt"),
        )

    packed = F.array(F.struct(tokenize(text_col).alias("t")))
    m = F.transform(packed, metrics)[0]
    n_tok = m["n"]
    dup_frac = F.when(
        m["n_bi"] > 0,
        F.lit(1.0) - m["n_bi_distinct"].cast("double") / m["n_bi"],
    ).otherwise(0.0)
    top_frac = F.when(
        n_tok > 0, m["top_cnt"].cast("double") / n_tok
    ).otherwise(0.0)
    n_sym = F.length(
        F.regexp_replace(F.col(text_col), "[A-Za-z0-9 ]", "")
    )
    sym_ratio = F.when(
        n_tok > 0, n_sym.cast("double") / n_tok
    ).otherwise(0.0)

    return df.select(
        F.col(id_col).alias("id"),
        stable_round6(dup_frac).alias("dup_bigram_frac"),
        stable_round6(top_frac).alias("top_tok_frac"),
        stable_round6(sym_ratio).alias("symbol_ratio"),
        (
            (stable_round6(dup_frac) > 0.2)
            | (stable_round6(top_frac) > 0.2)
            | (stable_round6(sym_ratio) > 0.5)
        ).alias("flagged"),
    )


def vocab_topk(
    df: DataFrame, k: int = 100, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """Corpus vocabulary head → (rnk, tok, cnt, df).

    The tokenizer-training primer (BPE/WordPiece vocab building
    starts exactly here): total count + document frequency per token,
    top-k by count. One map-side-combinable groupBy(tok) +
    ``TakeOrderedAndProject``; the rank window then runs over the k
    survivors only, never the vocabulary.
    """
    from .bm25 import posting_frame

    posting = posting_frame(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    ).filter(F.col("tok").isNotNull())
    agg = posting.groupBy("tok").agg(
        F.sum("tf").alias("cnt"), F.count("*").alias("df")
    )
    top = agg.orderBy(F.desc("cnt"), F.asc("tok")).limit(k)
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "rnk", "tok", "cnt", "df"
    )


def tfidf_top_terms(
    df: DataFrame, k: int = 3, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """Per-document top-k tf-idf keywords → (id, rnk, tok, tfidf).

    tfidf = tf · ln(N/df) over the same posting frame BM25 uses;
    ranking compares the ROUNDED score (ties → token order) so the
    oracle's rank is bit-identical. One groupBy(id, tok), one
    groupBy(tok), one per-document rank window.
    """
    from .bm25 import posting_frame

    posting = posting_frame(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    ).filter(F.col("tok").isNotNull())
    n_docs = df.agg(F.count("*").alias("__n"))
    dfq = posting.groupBy("tok").agg(F.count("*").alias("df"))
    tfidf = F.floor(
        (F.col("tf") * F.log(F.col("__n") / F.col("df"))) * F.lit(1e6)
        + F.lit(0.5)
    ) / F.lit(1e6)
    w = Window.partitionBy("id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        posting.join(F.broadcast(dfq), "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", tfidf)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("id", "rnk", "tok", "tfidf")
    )


def doc_fingerprint(
    df: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """→ (id, fingerprint, n_shingles): min stable-60-bit hash over
    token bigrams (content-defined signature; equal fingerprints are
    near-dup candidates). Documents with <2 tokens fingerprint -1."""
    from .dedup import shingles

    sh = shingles(df, id_col, text_col, k=2).withColumn(
        "h", stable_hash60("shingle")
    )
    agg = sh.groupBy("id").agg(
        F.min("h").alias("fingerprint"), F.count("*").alias("n_shingles")
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(agg, "id", "left_outer")
        .select(
            "id",
            F.coalesce("fingerprint", F.lit(-1).cast("long")).alias(
                "fingerprint"
            ),
            F.coalesce("n_shingles", F.lit(0).cast("long")).alias("n_shingles"),
        )
    )


def pmi_bigrams(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-k token collocations by pointwise mutual information
    → (a, b, c_ab, pmi).

    PMI(a,b) = ln(c_ab · N / (c_a · c_b)) over adjacent token pairs;
    high-PMI pairs are multiword expressions ("new york") — the
    standard corpus-analysis companion to the vocabulary report.
    Bigram extraction is a map-only array transform; the three count
    frames are vocabulary-sized aggregates (map-combinable); the
    final top-k is a TakeOrderedAndProject on (rounded PMI desc,
    a, b) — no global sort materialization. min_count guards the
    low-frequency PMI explosion (hapax pairs score arbitrarily high).

    PMI is computed in log space — ln(c_ab) + ln(N) − ln(c_a) −
    ln(c_b) — never as the integer product c_ab·N, which overflows
    int64 once the corpus passes ~10^9 tokens (Spark would wrap
    silently while the oracle promotes, diverging exactly at scale).
    """
    toks = df.select(
        F.col(id_col).alias("id"), tokenize(text_col).alias("toks")
    )
    big = toks.select(
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i - 1] as a, toks[i] as b))"
                ),
            ).otherwise(F.array())
        ).alias("p")
    ).select("p.a", "p.b")
    uni = toks.select(F.explode("toks").alias("a")).groupBy("a").agg(
        F.count("*").alias("c_a")
    )
    n_total = uni.agg(F.sum("c_a").alias("n"))
    pair = big.groupBy("a", "b").agg(F.count("*").alias("c_ab")).filter(
        F.col("c_ab") >= min_count
    )
    unib = uni.select(F.col("a").alias("b"), F.col("c_a").alias("c_b"))
    pmi6 = F.floor(
        (
            F.log(F.col("c_ab").cast("double"))
            + F.log(F.col("n").cast("double"))
            - F.log(F.col("c_a").cast("double"))
            - F.log(F.col("c_b").cast("double"))
        )
        * F.lit(1e6)
        + F.lit(0.5)
    ) / F.lit(1e6)
    return (
        pair.join(uni, "a")
        .join(unib, "b")
        .crossJoin(F.broadcast(n_total))
        .select("a", "b", "c_ab", pmi6.alias("pmi"))
        .orderBy(F.desc("pmi"), "a", "b")
        .limit(k)
    )


def token_entropy(
    df: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """Shannon entropy of the within-document token distribution
    → (id, n_tokens, entropy).

    entropy = −Σ (tf/n)·ln(tf/n) over the doc's token frequencies:
    near-zero for degenerate repetition ("spam spam spam"), ~ln(n)
    for all-distinct text — the complement to the Gopher repetition
    rules as a quality signal. Same single groupBy(id, tok) shuffle
    as the tf frame BM25 already builds; zero-token docs are absent
    (no distribution to measure).
    """
    tf = (
        df.select(
            F.col(id_col).alias("id"), F.explode(tokenize(text_col)).alias("tok")
        )
        .groupBy("id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    n = Window.partitionBy("id")
    p = F.col("tf") / F.sum("tf").over(n)
    ent = (
        tf.withColumn("c", -p * F.log(p))
        .groupBy("id")
        .agg(F.sum("tf").alias("n_tokens"), F.sum("c").alias("h"))
    )
    return ent.select(
        "id",
        "n_tokens",
        (F.floor(F.col("h") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "entropy"
        ),
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    k_smooth: float = 0.5,
) -> DataFrame:
    """Add-k-smoothed bigram language-model quality score per doc
    → (id, n_bigrams, avg_logprob).

    The corpus itself is the training set: ``P(b|a) = (c_ab + k) /
    (c_a + k·V)`` with vocabulary size V, scored as the mean
    ``ln P(b|a)`` over each document's adjacent token pairs — the
    next step up from ``unigram_logprob`` (catches scrambled/
    boilerplate text a unigram model scores as fluent). Docs with
    <2 tokens have no bigram distribution and are absent.

    Cost shape: the bigram extraction is the same map-only array
    transform as ``pmi_bigrams``; the count frames are vocabulary-
    sized aggregates; scoring joins the doc-bigram frame against the
    bigram/unigram count tables on their natural keys (frequency-
    table equi-joins, the BM25 posting shape — no cross product);
    V and k are scalar broadcasts. Smoothing runs in double with
    k = 0.5 (exact in binary), logs in log space only — no integer
    products that overflow at corpus scale (see pmi_bigrams).
    """
    toks = df.select(
        F.col(id_col).alias("id"), tokenize(text_col).alias("toks")
    )
    big = toks.select(
        "id",
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i - 1] as a, toks[i] as b))"
                ),
            ).otherwise(F.array())
        ).alias("p"),
    ).select("id", "p.a", "p.b")
    uni = (
        toks.select(F.explode("toks").alias("a"))
        .groupBy("a")
        .agg(F.count("*").alias("c_a"))
    )
    vsz = uni.agg(F.count("*").alias("v"))
    pair = big.groupBy("a", "b").agg(F.count("*").alias("c_ab"))
    lp = F.log(
        (F.col("c_ab") + F.lit(k_smooth))
        / (F.col("c_a") + F.lit(k_smooth) * F.col("v"))
    )
    return (
        big.join(pair, ["a", "b"])
        .join(uni, "a")
        .crossJoin(F.broadcast(vsz))
        .groupBy("id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (
                F.floor(F.avg(lp) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
            ).alias("avg_logprob"),
        )
    )


# PII patterns shared by the Spark expression and the DuckDB twin —
# kept to the regex dialect subset (no lookaround, no backrefs) that
# Java regex and RE2 interpret identically.
PII_PATTERNS: dict[str, str] = {
    "email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
    "ipv4": r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
    "phone": r"\d{3}-\d{3}-\d{4}",
}


def pii_scrub(
    df: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """PII detection + redaction → (id, n_emails, n_ipv4, n_phones,
    clean_hash).

    Counts are matched occurrences per pattern on the ORIGINAL text
    (each pattern counted independently); ``clean_hash`` is the md5
    of the text after redacting email → ipv4 → phone in that fixed
    order (order matters only for overlapping matches, and the fixed
    order makes the output deterministic). Pure JVM regex column
    expressions — no UDF — so the scan parallelizes like any other
    projection and Catalyst pushes the id/text pruning to parquet.
    DuckDB twin: ``len(regexp_extract_all(...))`` and chained
    ``regexp_replace(..., 'g')`` (Spark's regexp_replace is global by
    default; DuckDB needs the explicit flag).
    """
    t = F.col(text_col)
    counts = [
        F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0))).alias(alias)
        for pat, alias in (
            (PII_PATTERNS["email"], "n_emails"),
            (PII_PATTERNS["ipv4"], "n_ipv4"),
            (PII_PATTERNS["phone"], "n_phones"),
        )
    ]
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_PATTERNS["email"], "<EMAIL>"),
            PII_PATTERNS["ipv4"],
            "<IP>",
        ),
        PII_PATTERNS["phone"],
        "<PHONE>",
    )
    return df.select(
        F.col(id_col).alias("id"), *counts, F.md5(clean).alias("clean_hash")
    )


def boilerplate_ngrams(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    k: int = 3,
    min_docs: int = 5,
) -> DataFrame:
    """Cross-document boilerplate detection → (id, n_shingles,
    n_boiler, boiler_ratio).

    A k-token shingle is BOILERPLATE when it occurs in ≥ ``min_docs``
    distinct documents (the CCNet/C4-style template-text heuristic,
    applied to shingles because the corpus has no line structure).
    Per document: distinct shingle count, boilerplate shingle count,
    and their ratio (0 for docs with < k tokens).

    Scale shape: the frequency frame is VOCABULARY-sized (one row per
    distinct shingle — tiny next to the corpus), built by one
    map-side-combinable groupBy over the distinct-per-doc shingle
    postings; the flag joins back to postings on the shingle key, the
    same equi-join pattern as dedup_ngram_jaccard. No all-pairs
    stage anywhere.
    """
    from .dedup import shingles

    sh = shingles(df, id_col, text_col, k=k)
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df_cnt"))
    flagged = sh.join(
        freq.select(
            "shingle", (F.col("df_cnt") >= min_docs).alias("is_boiler")
        ),
        "shingle",
    )
    per_doc = flagged.groupBy("id").agg(
        F.count("*").alias("n_shingles"),
        F.sum(F.col("is_boiler").cast("long")).alias("n_boiler"),
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left_outer")
        .select(
            "id",
            F.coalesce("n_shingles", F.lit(0).cast("long")).alias(
                "n_shingles"
            ),
            F.coalesce("n_boiler", F.lit(0).cast("long")).alias("n_boiler"),
            F.when(
                F.coalesce("n_shingles", F.lit(0)) > 0,
                F.floor(
                    F.col("n_boiler").cast("double")
                    / F.col("n_shingles").cast("double")
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6),
            )
            .otherwise(F.lit(0.0))
            .alias("boiler_ratio"),
        )
    )


# 44-bit hash range leaves headroom for key = hash*w + offset in int64.
WINNOW_HASH_MOD = 1 << 44


def winnowing_fingerprint(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm) → (id, pos, fp), one row per
    selected k-gram.

    Every window of ``w`` consecutive k-gram hashes selects its
    minimum hash, ties broken by the RIGHTMOST position (the paper's
    rule); selections are deduplicated, guaranteeing at least one
    fingerprint per window with density 2/(w+1). The min-with-
    rightmost-tie is encoded as one integer key
    ``hash·w + (reversed offset in window)`` so a plain ``min()``
    aggregate implements the rule identically on any engine — no
    argmin/min_by semantics to disagree over.

    Scale shape: tokens → k-gram hashes is a stateless projection;
    the window replication is a bounded ×w explode; selection is one
    map-side-combinable groupBy (id, window). Documents never
    interact, so the whole plan is embarrassingly partition-parallel
    on id.
    """
    toks = df.select(
        F.col(id_col).alias("id"), tokenize(text_col).alias("t")
    )
    grams = toks.filter(F.size("t") >= k).select(
        "id",
        (F.size("t") - F.lit(k - 1)).alias("g"),
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(t) - {k - 1}),"
                f" i -> array_join(slice(t, i, {k}), ' '))"
            )
        ).alias("p", "gram"),
    )
    hashed = grams.select(
        "id",
        "p",
        "g",
        (stable_hash60(F.col("gram")) % F.lit(WINNOW_HASH_MOD)).alias(
            "hmod"
        ),
    )
    # replicate each gram into the ≤w windows that contain it
    wins = hashed.select(
        "id",
        "p",
        "hmod",
        F.explode(
            F.sequence(
                F.greatest(F.lit(0), F.col("p") - F.lit(w - 1)),
                F.least(
                    F.col("p"), F.greatest(F.lit(0), F.col("g") - F.lit(w))
                ),
            )
        ).alias("ws"),
    )
    keyed = wins.select(
        "id",
        "ws",
        (
            F.col("hmod") * F.lit(w)
            + (F.col("ws") + F.lit(w - 1) - F.col("p"))
        ).alias("key"),
    )
    picks = keyed.groupBy("id", "ws").agg(F.min("key").alias("key"))
    return picks.select(
        "id",
        (F.col("ws") + F.lit(w - 1) - (F.col("key") % F.lit(w))).alias(
            "pos"
        ),
        F.expr(f"key div {w}").alias("fp"),
    ).distinct()


def winnowing_pairs(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
    min_shared: int = 3,
) -> DataFrame:
    """Near-duplicate candidates from shared winnowing fingerprints →
    (id_a, id_b, shared, overlap): document pairs sharing ≥
    ``min_shared`` distinct selected hashes, with
    ``overlap = shared / min(|fp_a|, |fp_b|)`` (containment of the
    smaller fingerprint set — MOSS's match metric).

    Scale shape: the same postings equi-join as every dedup candidate
    generator here — fingerprints join on the hash value, so cost is
    Σ_h df(h)² over fingerprint document-frequencies, never an
    all-pairs product; common-hash hot keys are the one skew risk
    (AQE-splittable), and min_shared prunes before the size join.
    """
    fps = (
        winnowing_fingerprint(df, id_col, text_col, k=k, w=w)
        .select("id", "fp")
        .distinct()
    )
    sizes = fps.groupBy("id").agg(F.count("*").alias("n_fp"))
    a = fps.select(F.col("id").alias("id_a"), "fp")
    b = fps.select(F.col("id").alias("id_b"), "fp")
    shared = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    return (
        shared.join(
            sizes.select(F.col("id").alias("id_a"), F.col("n_fp").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("n_fp").alias("nb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "shared",
            (
                F.floor(
                    F.col("shared").cast("double")
                    / F.least("na", "nb").cast("double")
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("overlap"),
        )
    )


def zipf_fit(
    df: DataFrame,
    topn: int = 200,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary → one row
    (n_terms, slope, intercept): OLS of ln(count) on ln(rank) for
    the top ``topn`` tokens. Natural-language corpora fit slope ≈ −1;
    a flat slope flags synthetic/templated text and a cliff flags
    boilerplate domination — the corpus-level screening statistic
    next to the per-doc quality scores.

    Scale shape: the vocabulary aggregate is the same map-side-
    combinable groupBy as vocab_topk; ranking happens on the topn
    survivors (TakeOrderedAndProject), and the regression is a 1-row
    closed-form aggregate — Σx, Σy, Σxy, Σx² over ≤topn rows. No
    driver-side math; logs stay JVM-side.
    """
    from .bm25 import posting_frame

    posting = posting_frame(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    ).filter(F.col("tok").isNotNull())
    vocab = posting.groupBy("tok").agg(F.sum("tf").alias("cnt"))
    top = vocab.orderBy(F.desc("cnt"), F.asc("tok")).limit(topn)
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    xy = top.withColumn("rnk", F.row_number().over(w)).select(
        F.log(F.col("rnk").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    agg = xy.agg(
        F.count("*").alias("n_terms"),
        (
            (F.count("*") * F.sum(F.col("x") * F.col("y"))
             - F.sum("x") * F.sum("y"))
            / (F.count("*") * F.sum(F.col("x") * F.col("x"))
               - F.sum("x") * F.sum("x"))
        ).alias("__slope"),
        F.sum("x").alias("__sx"),
        F.sum("y").alias("__sy"),
    )
    return agg.select(
        "n_terms",
        stable_round6(F.col("__slope")).alias("slope"),
        stable_round6(
            (F.col("__sy") - F.col("__slope") * F.col("__sx"))
            / F.col("n_terms")
        ).alias("intercept"),
    )


CHUNK_DUP_TOKENS = 32


def chunk_dup_stats(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    chunk_tokens: int = CHUNK_DUP_TOKENS,
) -> DataFrame:
    """Inter-document duplicate-span signal at chunk granularity →
    (id, n_chunks, n_dup_chunks, dup_chunk_frac): each doc is cut
    into fixed ``chunk_tokens``-token chunks, each chunk md5-hashed,
    and a chunk counts as duplicated when the SAME chunk content
    appears anywhere else in the corpus (other docs or elsewhere in
    this one). The RefinedWeb/CCNet span-dedup *measurement* — the
    per-doc statistic a pipeline thresholds on before paying for
    span removal.

    Scale shape: chunk hashes are built JVM-side (transform over a
    sequence — no UDF, no per-token explode), exploded to one row
    per chunk, counted with ONE groupBy on the content hash (map-
    side combinable; the hash frame is corpus-chunks-sized but the
    aggregate output is distinct-chunks-sized), then joined back.
    Never an all-pairs comparison; identical shape at 100 TB with
    the hash count persisted as a maintained table.
    """
    toks = tokenize(text_col)
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    chunk_hashes = F.when(F.size(toks) == 0, F.array()).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda j: F.md5(
                F.concat_ws(
                    " ", F.slice(toks, j * chunk_tokens + 1, chunk_tokens)
                )
            ),
        )
    )
    chunks = df.select(
        F.col(id_col).alias("id"), F.explode(chunk_hashes).alias("h")
    )
    freq = chunks.groupBy("h").agg(F.count("*").alias("cnt"))
    per = (
        chunks.join(freq, "h")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum((F.col("cnt") > 1).cast("long")).alias("n_dup_chunks"),
        )
    )
    return df.select(F.col(id_col).alias("id")).join(
        per, "id", "left_outer"
    ).select(
        "id",
        F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
        F.coalesce("n_dup_chunks", F.lit(0))
        .cast("long")
        .alias("n_dup_chunks"),
        stable_round6(
            F.coalesce(
                F.col("n_dup_chunks").cast("double") / F.col("n_chunks"),
                F.lit(0.0),
            )
        ).alias("dup_chunk_frac"),
    )


def bpe_first_merges(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    topn: int = 20,
) -> DataFrame:
    """First BPE merge-candidate table → (pair, n_pairs, rnk): the
    corpus-wide count of adjacent CHARACTER pairs within whitespace
    tokens, ranked — exactly the statistic the first iteration of
    byte-pair-encoding tokenizer training maximizes (Sennrich 2016).
    A real trainer loops merge→recount; the expensive, data-sized
    step is this count, so its distributed shape is what matters.

    Scale shape: pairs are built JVM-side (transform over a length
    sequence — no UDF), exploded once, counted with one map-side-
    combinable groupBy(pair); the ranking is topn-sized
    (TakeOrderedAndProject, never a global sort). At 100 TB the loop
    re-runs this count on the merged symbol stream — same plan.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokenize(text_col)).alias("tok"),
    )
    # dynamic start position → Column.substr(i, 2); the length==2
    # filter drops the truncated tail pair of 1-char remainders
    pair_rows = toks.select(
        F.explode(
            F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.length("tok") - 1, F.lit(0))),
                    lambda i: F.col("tok").substr(i, F.lit(2)),
                ),
                lambda p: F.length(p) == 2,
            )
        ).alias("pair")
    )
    counted = pair_rows.groupBy("pair").agg(F.count("*").alias("n_pairs"))
    w = Window.orderBy(F.desc("n_pairs"), F.asc("pair"))
    return (
        counted.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= topn)
        .select("pair", "n_pairs", "rnk")
    )


def chunk_span_dedup(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    chunk_tokens: int = CHUNK_DUP_TOKENS,
) -> DataFrame:
    """Inter-document duplicate-span REMOVAL at chunk granularity →
    (id, n_chunks, n_kept, kept_text_hash): the action on top of
    :func:`chunk_dup_stats`'s measurement. Every duplicated chunk
    content keeps exactly ONE canonical occurrence corpus-wide (the
    lexicographically first (doc, position)); all other occurrences
    are dropped, and each doc's surviving chunks are reassembled in
    position order (hashed here so the gate compares a scalar — a
    deployment emits the text). RefinedWeb-style exact-substring
    dedup with deterministic keeper choice.

    Scale shape: chunk strings are built JVM-side (transform +
    slice), exploded once; the canonical occurrence is a row_number
    window over the chunk-hash key (one shuffle, map-side bounded by
    WindowGroupLimit-style pruning is not needed since every
    occurrence must be ranked); reassembly is one groupBy(id) with an
    order-pinned aggregate. Never all-pairs.
    """
    toks = tokenize(text_col)
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    chunk_strs = F.when(F.size(toks) == 0, F.array()).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda j: F.concat_ws(
                " ", F.slice(toks, j * chunk_tokens + 1, chunk_tokens)
            ),
        )
    )
    chunks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(chunk_strs).alias("cidx", "ctext"),
    ).withColumn("h", F.md5("ctext"))
    w = Window.partitionBy("h").orderBy("id", "cidx")
    kept = chunks.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    per = (
        chunks.groupBy("id")
        .agg(F.count("*").alias("n_chunks"))
        .join(
            kept.groupBy("id").agg(
                F.count("*").alias("n_kept"),
                F.md5(
                    F.concat_ws(
                        " ",
                        F.array_sort(
                            F.collect_list(F.struct("cidx", "ctext"))
                        ).getField("ctext"),
                    )
                ).alias("kept_text_hash"),
            ),
            "id",
            "left_outer",
        )
    )
    return df.select(F.col(id_col).alias("id")).join(
        per, "id", "left_outer"
    ).select(
        "id",
        F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("kept_text_hash", F.md5(F.lit(""))).alias(
            "kept_text_hash"
        ),
    )

def quality_regression(
    docs: DataFrame,
    group_col: str = "lang",
    id_col: str = "id",
    text_col: str = "text",
    len_col: str = "n_chars",
) -> DataFrame:
    """Per-group OLS fit of quality ~ ln(doc length)
    → (grp, n, slope, intercept, r2).

    The "train a scorer with one aggregate pass" primitive: closed-
    form simple linear regression from sufficient statistics
    (n, Σx, Σy, Σxx, Σxy, Σyy), so fitting a per-language quality
    model over 100 TB is ONE map-side-combinable groupBy — no
    gradient loop, no driver-side matrix, no second scan.

    Float discipline (the sf1 money-sum lesson): x and y are
    quantized to 6 decimals and accumulated as DECIMAL(18,6) /
    products DECIMAL(38,12) — integer-exact, order-independent sums
    that both engines reproduce bit-for-bit; only the final
    slope/intercept/r2 arithmetic runs in double, on identical
    inputs. Zero-variance groups yield NULL slope/intercept/r2
    rather than a NaN division.
    """
    q = quality_score(docs, id_col, text_col).select("id", "quality")
    base = (
        docs.filter(F.col(len_col) > 0)
        .select(
            F.col(id_col).alias("id"),
            F.col(group_col).alias("grp"),
            stable_round6(F.log(F.col(len_col).cast("double")))
            .cast("decimal(18,6)")
            .alias("x"),
        )
        .join(q, "id")
        .withColumn("y", F.col("quality").cast("decimal(18,6)"))
    )
    stats = base.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    dn = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    cov = dn * sxy - sx * sy
    denx = dn * sxx - sx * sx
    deny = dn * syy - sy * sy
    slope = cov / denx
    return stats.select(
        "grp",
        "n",
        F.when(denx > 0, stable_round6(slope)).alias("slope"),
        F.when(denx > 0, stable_round6((sy - slope * sx) / dn)).alias("intercept"),
        F.when((denx > 0) & (deny > 0), stable_round6(cov * cov / (denx * deny))).alias(
            "r2"
        ),
    )

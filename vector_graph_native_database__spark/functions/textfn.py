"""Text functions: tokenizer and the hashed bag-of-words embedder.

Tokenization matches Python ``str.split()`` (the reference's
tokenizer, ``app.py:365-366``): split on whitespace runs, drop
empties.

``embed_hash`` is the reference's 256-dim hashed bag-of-words encoder
(``app.py:368-377``) with one deliberate fix (SURVEY.md §4.8.1): the
reference uses process-salted Python ``hash()`` which is NOT
deterministic across runs despite its readme's claim; we use an
md5-prefix bucket — ``int(md5(token)[:8], 16) % dim`` — which Spark,
DuckDB, and any other engine can compute identically. Because
dim=256 divides 2**8, the bucket only depends on hex chars 7-8 of the
prefix, but we keep the full conv() form so any dim works.

``embed_hash_df`` is explode/groupBy/higher-order-function work —
fully distributed, no UDFs, map-side partial aggregation on (id,
bucket). ``embed_hash`` is its row-local twin for request strings
only: over the sf0.1 corpus (5 000 docs, 54 tokens on average, one
partition, 4 vCPUs) ``embed_hash_df`` took 3.5-5.6 s and
``embed_hash`` 187 s. Spark interprets higher-order functions and
re-evaluates the bucket array for each of the 256 dimensions; even
with the buckets materialized first in their own column the row-local
form took 6.8-7.2 s.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EMBED_DIM = 256

# Exactly the characters ``str.isspace()`` accepts: the ASCII and C1
# separators as literal characters (no escape syntax for the two
# regex dialects to disagree on), plus Unicode category Z (``\pZ``:
# Zs, Zl, Zp), which Java and RE2 (DuckDB) both read. Java's ``\s``
# misses \x1c-\x1f, \x85 and the Unicode spaces; RE2's also misses \v.
# Listing the Unicode spaces one by one splits the same, but Java then
# tests every other character against each range: over 1.08 M tokens
# (the sf0.1 corpus four times, 4 local cores) that took 0.45 s, ``\s+``
# 0.30 s and this class 0.32 s.
WS_SPLIT = "[\t-\r\x1c-\x1f\x85\\pZ]+"


def tokenize(col: Column | str) -> Column:
    """Lowercase whitespace tokens, empties dropped (= str.split())."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), WS_SPLIT), lambda t: t != "")


def normalize_ws(col: Column | str) -> Column:
    """Lowercase, each whitespace run (``WS_SPLIT``) → one space, then
    trimmed of spaces: the content normalization of exact dedup.
    Trimming names the space explicitly because DuckDB's one-argument
    ``trim`` also drops NBSP, and Spark's does not."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), WS_SPLIT, " "), F.lit(" "))


def hash_bucket(tok: Column | str, dim: int = EMBED_DIM) -> Column:
    """Stable token→bucket hash: int(md5(tok)[:8], 16) % dim."""
    c = F.col(tok) if isinstance(tok, str) else tok
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long") % dim


def embed_hash(text: Column | str, dim: int = EMBED_DIM) -> Column:
    """Row-local twin of ``embed_hash_df``: text → L2-normalized
    ``array<double>`` bucket counts (null text → zero vector).

    Same tokens, buckets and normalization, so vectors are bit-equal;
    no aggregate, so over a local relation the optimizer evaluates it
    on the driver and a one-string encode runs no Spark job. Cost is
    dim × tokens interpreted evaluations per row: for request strings,
    not corpora (module docstring).
    """
    from .vectorfn import l2_normalize

    c = F.col(text) if isinstance(text, str) else text
    toks = tokenize(F.coalesce(c, F.lit("")))
    buckets = F.transform(toks, lambda t: hash_bucket(t, dim))
    counts = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.size(F.filter(buckets, lambda b: b == i)).cast("double"),
    )
    return l2_normalize(counts)


def embed_hash_df(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    dim: int = EMBED_DIM,
) -> DataFrame:
    """(id, text) → (id, vector array<double> L2-normalized, dim).

    Hashed bag-of-words: bucket counts → dense vector → L2 normalize
    (zero vector stays zero). Equivalent to MLlib HashingTF+Normalizer
    but with the portable md5 bucket hash. Two narrow aggregations:
    (id, bucket) counts (map-side combine), then one groupBy(id) that
    assembles the dense vector with ``transform(sequence(...))`` —
    no pivot, no 256-column explosion, scales with rows × distinct
    buckets.

    Documents whose token list is empty produce the zero vector, same
    as the reference encoder.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(tokenize(text_col)).alias("tok"),
    )
    counts = (
        toks.withColumn("bucket", hash_bucket("tok", dim))
        .groupBy("id", "bucket")
        .agg(F.count("tok").alias("cnt"))
    )
    dense = (
        counts.groupBy("id")
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        F.coalesce("bucket", F.lit(0)).alias("k"),
                        F.col("cnt").cast("double").alias("v"),
                    )
                )
            ).alias("m")
        )
        .select(
            "id",
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(F.element_at("m", i.cast("long")), F.lit(0.0)),
            ).alias("raw"),
        )
    )
    from .vectorfn import l2_normalize

    return dense.select(
        "id", l2_normalize("raw").alias("vector"), F.lit(dim).alias("dim")
    )

from .vectorfn import dot, l2_norm, l2_normalize, cosine, minmax_normalize
from .textfn import tokenize, hash_bucket, embed_hash, embed_hash_df, EMBED_DIM

__all__ = [
    "dot",
    "l2_norm",
    "l2_normalize",
    "cosine",
    "minmax_normalize",
    "tokenize",
    "hash_bucket",
    "embed_hash",
    "embed_hash_df",
    "EMBED_DIM",
]

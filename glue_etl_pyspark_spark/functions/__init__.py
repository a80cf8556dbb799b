"""Column-expression helper families (no UDFs in the hot path)."""

from .text import (
    EN_STOPWORDS,
    bpe_ish_tokens,
    doc_fingerprint,
    hamming,
    shingles,
    simhash64,
    tokenize_ws,
)
from .vectors import cosine, dot, l2_norm, l2_normalize

__all__ = [
    "dot",
    "l2_norm",
    "l2_normalize",
    "cosine",
    "tokenize_ws",
    "bpe_ish_tokens",
    "shingles",
    "simhash64",
    "hamming",
    "doc_fingerprint",
    "EN_STOPWORDS",
]

"""Column-function library (all JVM-side unless noted).

Everything here returns `pyspark.sql.Column` built from built-in
functions so expressions stay inside whole-stage codegen. The
geometry functions (geodesic area, coordinate bounds, kinks) live in
`geo.py`, also as pure column expressions.
"""

from .scalar import round_decimals
from .text import (
    doc_fingerprint,
    punct_ratio,
    stopword_ratio,
    token_count,
    tokens,
    word_shingles,
)
from .vectors import cosine_similarity, dot, l2_norm, to_double_array

__all__ = [
    "round_decimals",
    "doc_fingerprint",
    "punct_ratio",
    "stopword_ratio",
    "token_count",
    "tokens",
    "word_shingles",
    "cosine_similarity",
    "dot",
    "l2_norm",
    "to_double_array",
]

"""Column-level helpers: vector math, text tokenization/hashing.

Everything here returns Column expressions built from
``pyspark.sql.functions`` — JVM-side, whole-stage-codegen eligible,
usable inside any DataFrame plan. No Python row UDFs.
"""

from .texthash import (
    char_shingles,
    minhash_features,
    minhash_signature,
    normalize_text,
    tokens,
    word_shingles,
)
from .skew import salted_join
from .vectors import as_double, cosine, dot, l2_norm

__all__ = [
    "as_double",
    "char_shingles",
    "cosine",
    "dot",
    "l2_norm",
    "minhash_features",
    "minhash_signature",
    "normalize_text",
    "salted_join",
    "tokens",
    "word_shingles",
]

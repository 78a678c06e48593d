"""Column-expression helpers. Everything here builds JVM-side Catalyst
expressions (higher-order functions, no Python in the hot path), so they
inline into WholeStageCodegen."""

from .vectors import dot, l2_norm  # noqa: F401
from .textfns import (  # noqa: F401
    doc_fingerprint,
    token_count,
    word_shingles,
    words,
)

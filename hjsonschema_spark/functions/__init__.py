"""Shared column-expression helpers — all JVM-side (codegen-friendly),
no Python in the hot path."""

from hjsonschema_spark.functions.columns import (  # noqa: F401
    cosine_similarity,
    doc_fingerprint,
    fan_out,
    fan_out_if_big,
    l2_norm,
    normalize_text,
    portable_hash60,
    stopword_run_count,
    token_chars_count,
    token_run_count,
    token_shingles,
    tokens,
)

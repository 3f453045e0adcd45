"""Columnar scalar functions — pure Column expressions, zero Python UDFs.

The reference's only row-at-a-time escapes (``clean_data.py:67`` IP parse,
``transform_data.py:38-43`` bound check) are re-expressed here as JVM-side
column expressions so the whole pipeline stays inside whole-stage codegen.
"""

from .ip import ip_to_int, int_to_ip
from .time import (
    hour_of_day,
    day_of_week,
    time_since_seconds,
    time_since_hours,
    to_timestamp_coerce,
)
from .text import (
    tokens,
    word_count,
    char_count,
    punct_ratio,
    stopword_ratio,
    quality_score,
    normalized_text,
    doc_fingerprint,
)
from .vectors import dot, l2_norm, cosine_similarity
from .rounding import round_floor

__all__ = [
    "round_floor",
    "ip_to_int",
    "int_to_ip",
    "hour_of_day",
    "day_of_week",
    "time_since_seconds",
    "time_since_hours",
    "to_timestamp_coerce",
    "tokens",
    "word_count",
    "char_count",
    "punct_ratio",
    "stopword_ratio",
    "quality_score",
    "normalized_text",
    "doc_fingerprint",
    "dot",
    "l2_norm",
    "cosine_similarity",
]

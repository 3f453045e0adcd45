"""Structured Streaming layer (SURVEY.md §7 Phase 4 — north star).

The reference is pure batch (SURVEY.md §2.10); this package adds the
real-time surface the reference's pipeline implies: watermarked windowed
aggregations, an incremental re-expression of the trailing-24h velocity
feature (W1) as a stateful operator, and micro-batch model scoring.
"""

from .velocity import streaming_velocity  # noqa: F401
from .windows import sliding_event_counts, tumbling_event_counts  # noqa: F401
from .scoring import score_stream  # noqa: F401

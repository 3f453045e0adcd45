"""Engine-independent rounding — THE cross-engine determinism rule.

``round_floor(col, dp)`` = ``floor(x·10^dp + 0.5) / 10^dp``: identical
in Spark (this helper), DuckDB (oracle twin below), plain Python
(``math.floor(x*s + 0.5)/s``) and numpy (``np.floor(x*s + 0.5)/s``) —
unlike ``round()``, whose half-even/half-up tie behavior differs
between engines and languages and silently diverges on exact .5 ties.

DuckDB oracle twin (keep in sync with any rule change here)::

    FLOOR(x * 10000 + 0.5) / 10000        -- dp = 4

Used by: streaming/anomaly.py (expanding z-scores),
operators/similarity.py:quantize_int8 (the same rule at scale=1/s),
queries.py decode profiles. Note the asymmetry for negatives
(floor(+0.5) rounds -0.5 up to 0) — fine, because every consumer
applies the SAME rule on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_floor(col: Column | str, dp: int) -> Column:
    """``floor(x·10^dp + 0.5) / 10^dp`` as a codegen column expression."""
    c = F.col(col) if isinstance(col, str) else col
    scale = F.lit(float(10**dp))
    return F.floor(c * scale + F.lit(0.5)) / scale

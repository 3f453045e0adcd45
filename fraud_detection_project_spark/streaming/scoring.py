"""Real-time feature/model scoring over an event stream.

North-star extension (SURVEY.md §7 phase 4): the reference prepares
fraud feature matrices in batch; here a fitted
:class:`pyspark.ml.PipelineModel` (built by
``ml.prep.build_feature_pipeline`` and fit on historical batch data)
is applied to a live stream.

All transformers the prep pipeline emits (StringIndexerModel,
OneHotEncoderModel, VectorAssembler, StandardScalerModel) are row-local
— no state, no shuffle — so ``model.transform`` composes directly into
a streaming plan and runs inside each micro-batch's narrow stage. Only
*fitting* requires batch data; train offline, score online.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.ml import PipelineModel
from pyspark.sql import DataFrame


def score_stream(
    stream: DataFrame,
    model: PipelineModel,
    select: Sequence[str] | None = None,
) -> DataFrame:
    """Apply a fitted feature/model pipeline to a streaming DataFrame.

    Returns a streaming DataFrame; attach a sink with ``writeStream``.
    Works identically on batch frames (the batch form is the oracle in
    tests).
    """
    out = model.transform(stream)
    return out.select(*select) if select else out

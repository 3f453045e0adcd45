"""Distributed k-means clustering over embedding columns (MLlib).

North-star scope (SURVEY.md §7 Phase 5): the reference has no clustering,
but a training-data pipeline at 100 TB needs coarse quantization — for
IVF ANN cells (operators/similarity.py:ivf_topk), corpus sharding, and
diversity sampling. Spark-first design: MLlib ``KMeans`` (k-means|| init,
tree-aggregated Lloyd iterations — each iteration is one map-side partial
sum + one small driver reduce, no all-pairs shuffle) over the existing
``array<float>`` column via ``array_to_vector``; no hand-rolled driver
loops over ``collect()``.
"""

from __future__ import annotations

from pyspark.ml.clustering import KMeans, KMeansModel
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_FEATURES = "__kmeans_features"


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    seed: int = 42,
) -> KMeansModel:
    """Fit k-means on an ``array<float>`` column. Deterministic for a
    fixed seed + partitioning (k-means|| init is seeded)."""
    vec = df.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias(_FEATURES))
    return KMeans(
        k=k, seed=seed, maxIter=20, featuresCol=_FEATURES, predictionCol="cluster"
    ).fit(vec.filter(F.col(_FEATURES).isNotNull()))


def kmeans_assign(
    df: DataFrame,
    model: KMeansModel,
    vec_col: str = "embedding",
) -> DataFrame:
    """Append a ``cluster`` int column = nearest learned centroid.

    One narrow pass (centroids ship with the task closure); at scale the
    output is written partitioned by ``cluster`` so IVF probes become
    partition pruning.
    """
    vec = df.withColumn(_FEATURES, array_to_vector(F.col(vec_col).cast("array<double>")))
    return model.transform(vec).drop(_FEATURES)


def kmeans_centroids(model: KMeansModel) -> list[list[float]]:
    """Learned centroids as plain lists, indexed by ``cluster`` id."""
    return [[float(x) for x in c] for c in model.clusterCenters()]

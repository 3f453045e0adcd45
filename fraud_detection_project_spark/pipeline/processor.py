"""End-to-end pipeline orchestrator (reference E1/E2).

Mirrors ``Processor.run_pipeline`` (``src/pipeline/processor.py:87-113``)
and ``transform_data_for_ml`` (``src/preprocessing/transform_data.py:
113-161``) with the *intended* semantics:

- the configured ``imbalance_strategy`` is honored — the reference's
  positional-arg bug (``transform_data.py:130-132``; SURVEY.md defects)
  made it always undersample; here ``"smote"`` really runs SMOTE;
- loading iterates the passed path dict (``load_data.py`` defect fixed);
- the clean ``preprocess_dataset`` shape (``processor.py:56-85``, the
  reference's dead-but-correct path) is the one code path.

Spark shape: each dataset's clean→join→feature chain is ONE lazy plan,
projected to the label, feature and id columns and persisted once. The
train and test splits both read that cache, so the plan runs once per
dataset: ``Pipeline.fit`` (scaler moments + one value-count pass for
all categoricals), SMOTE's actions and the test write reuse it. Outputs
stay DataFrames — at 100 TB the "return value" is a handle you write to
Parquet, never a driver array.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_csv_datasets
from ..config import load_yaml_config
from ..ml.imbalance import smote, undersample_majority
from ..ml.prep import build_feature_pipeline, feature_names_out
from ..ml.split import id_hash_split, stratified_split
from ..operators.cleaning import clean_transactions, remove_duplicates
from ..operators.joins import geolocate
from .eda import perform_eda
from .features import engineer_fraud_features

#: columns dropped before modeling (ids / raw times / leakage),
#: ``transform_data.py:80-81``
FRAUD_NON_FEATURES = [
    "user_id",
    "signup_time",
    "purchase_time",
    "device_id",
    "ip_address",
    "ip_address_int",
]


@dataclass
class TrainTestBundle:
    """The engine's answer to the reference's dict of numpy matrices
    (``transform_data.py:150-161``): lazy DataFrames + metadata."""

    train: DataFrame  # resampled, with `features` vector + label
    test: DataFrame  # processed (never resampled), same schema
    feature_names: list[str] = field(default_factory=list)
    label_col: str = "label"

    def write(self, base_path: str) -> None:
        self.train.write.mode("overwrite").parquet(f"{base_path}/train")
        self.test.write.mode("overwrite").parquet(f"{base_path}/test")


class Processor:
    """Config-driven orchestrator (``src/pipeline/processor.py:12-113``)."""

    def __init__(self, spark: SparkSession, config: dict[str, Any] | str):
        self.spark = spark
        self.config = (
            load_yaml_config(config) if isinstance(config, str) else dict(config)
        )

    # -- E3 ---------------------------------------------------------------
    def perform_eda(self, df: DataFrame) -> dict[str, DataFrame]:
        return perform_eda(df)

    # -- E2 (the intended, reusable block: processor.py:56-85) ------------
    def preprocess_dataset(
        self,
        df: DataFrame,
        label_col: str,
        num_cols: list[str],
        cat_cols: list[str],
        id_col: str | None = None,
    ) -> TrainTestBundle:
        """Split → fit-on-train-only encode/scale → transform both →
        resample train per config. Never resamples test."""
        test_size = float(self.config.get("test_size", 0.2))
        seed = int(self.config.get("random_state", 42))
        strategy = str(self.config.get("imbalance_strategy", "undersample")).lower()

        num_cols = [c for c in num_cols if c in df.columns]
        cat_cols = [c for c in cat_cols if c in df.columns]
        has_id = id_col is not None and id_col in df.columns

        # One persisted frame feeds both splits: Pipeline.fit, SMOTE's
        # actions and the test write all read the cache instead of
        # re-running the upstream clean→join→window plan (SURVEY.md §4
        # 'caching': explicit cache only at reuse points; MEMORY_AND_DISK
        # spills rather than OOMs at scale).
        from pyspark import StorageLevel

        cols = [label_col, *num_cols, *cat_cols] + ([id_col] if has_id else [])
        base = df.select(*dict.fromkeys(cols)).persist(StorageLevel.MEMORY_AND_DISK)
        if has_id:
            tagged = id_hash_split(base, id_col, 1.0 - test_size, salt=seed)
            train = tagged.filter(F.col("split") == "train").drop("split")
            test = tagged.filter(F.col("split") == "test").drop("split")
        else:
            train, test = stratified_split(base, label_col, 1.0 - test_size, seed=seed)

        pipe = build_feature_pipeline(num_cols, cat_cols)
        model = pipe.fit(train)  # fit statistics from train ONLY (M5)
        train_proc = model.transform(train)
        test_proc = model.transform(test)
        names = feature_names_out(model, train)

        keep = [label_col, "features"] + ([id_col] if has_id else [])
        train_proc = train_proc.select(*keep)
        test_proc = test_proc.select(*keep)

        if strategy == "smote":
            from pyspark.ml.functions import vector_to_array

            arr = train_proc.withColumn("__feat_arr", vector_to_array("features"))
            if not has_id:
                arr = arr.withColumn("__sid", F.monotonically_increasing_id())
                sid = "__sid"
            else:
                sid = id_col
            res = smote(
                arr.select(label_col, "__feat_arr", sid),
                label_col,
                "__feat_arr",
                sid,
                seed=seed,
            )
            from pyspark.ml.functions import array_to_vector

            train_res = res.select(
                F.col(label_col),
                array_to_vector("__feat_arr").alias("features"),
            )
        elif strategy == "undersample":
            train_res = undersample_majority(train_proc, label_col, seed=seed).select(
                label_col, "features"
            )
        elif strategy == "none":
            train_res = train_proc.select(label_col, "features")
        else:
            raise ValueError(f"unknown imbalance_strategy: {strategy}")

        return TrainTestBundle(
            train=train_res,
            test=test_proc.select(label_col, "features"),
            feature_names=names,
            label_col=label_col,
        )

    # -- cleaning (clean_data.py:71-105) ----------------------------------
    def clean_datasets(
        self, raw: dict[str, DataFrame | None]
    ) -> dict[str, DataFrame | None]:
        out: dict[str, DataFrame | None] = dict(raw)
        missing = str(self.config.get("missing_value_strategy", "drop"))
        if raw.get("fraud_data") is not None:
            out["fraud_data"] = clean_transactions(
                raw["fraud_data"],
                required_column="ip_address",
                time_columns=["signup_time", "purchase_time"],
                ip_column="ip_address",
            ) if missing == "drop" else clean_transactions(
                raw["fraud_data"],
                time_columns=["signup_time", "purchase_time"],
                ip_column="ip_address",
            )
        if raw.get("ip_to_country") is not None:
            ip = remove_duplicates(raw["ip_to_country"])
            from ..operators.cleaning import convert_ip_to_int_column

            ip = convert_ip_to_int_column(
                ip, "lower_bound_ip_address", "lower_bound_ip_address_int"
            )
            ip = convert_ip_to_int_column(
                ip, "upper_bound_ip_address", "upper_bound_ip_address_int"
            )
            out["ip_to_country"] = ip
        if raw.get("creditcard_data") is not None:
            out["creditcard_data"] = remove_duplicates(raw["creditcard_data"])
        return out

    # -- E1 (run_pipeline.py → processor.py:87-113) -----------------------
    def run_pipeline(self) -> dict[str, TrainTestBundle]:
        cfg = self.config
        raw = load_csv_datasets(self.spark, dict(cfg["data_paths"]))
        missing = [k for k, v in raw.items() if v is None]
        if missing:
            raise FileNotFoundError(f"missing datasets: {missing}")

        clean = self.clean_datasets(raw)
        feature_cfg = (
            load_yaml_config(cfg["feature_config_path"])
            if "feature_config_path" in cfg
            else {"numerical": [], "categorical": []}
        )

        out: dict[str, TrainTestBundle] = {}

        fraud = clean.get("fraud_data")
        ip_dim = clean.get("ip_to_country")
        if fraud is not None and ip_dim is not None:
            merged = geolocate(fraud, ip_dim)  # J1 + P5
            engineered = engineer_fraud_features(merged)  # F2-F5 + W1×3
            # FRAUD_NON_FEATURES need no explicit drop: the feature
            # pipeline only assembles configured columns (P2 is implicit
            # column pruning in the lazy plan).
            out["fraud"] = self.preprocess_dataset(
                engineered,
                label_col="class",
                num_cols=list(feature_cfg.get("numerical", [])),
                cat_cols=list(feature_cfg.get("categorical", [])),
                id_col="user_id",
            )

        credit = clean.get("creditcard_data")
        if credit is not None:
            num = [c for c in credit.columns if c != "Class"]
            out["creditcard"] = self.preprocess_dataset(
                credit, label_col="Class", num_cols=num, cat_cols=[]
            )
        return out


def run_pipeline(spark: SparkSession, config_path: str) -> dict[str, TrainTestBundle]:
    """``run_pipeline.py`` equivalent: one call, config-driven."""
    return Processor(spark, config_path).run_pipeline()

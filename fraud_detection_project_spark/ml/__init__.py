"""ML preparation layer (SURVEY.md §2.9 M1-M8) — MLlib-backed, modeled on
the reference's intended API (``Processor.preprocess_dataset``,
``processor.py:56-85``), not its buggy inline duplicate.
"""

from .split import id_hash_split, stratified_split
from .prep import build_feature_pipeline, feature_names_out, standardize
from .imbalance import undersample_majority, smote
from .evaluate import (auc_roc, auc_roc_binned, average_precision, binary_metrics,
                       calibration_bins, log_loss)
from .drift import ks_two_sample, psi
from .scoring import loo_target_encode, score_linear

__all__ = [
    "id_hash_split",
    "stratified_split",
    "build_feature_pipeline",
    "feature_names_out",
    "standardize",
    "undersample_majority",
    "smote",
    "auc_roc",
    "auc_roc_binned",
    "average_precision",
    "binary_metrics",
    "calibration_bins",
    "log_loss",
    "ks_two_sample",
    "psi",
    "loo_target_encode",
    "score_linear",
]

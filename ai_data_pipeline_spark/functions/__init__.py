"""Reusable Column-expression library (SURVEY.md §4.2: the one custom
piece worth owning — expression builders, not planner rules)."""

from ai_data_pipeline_spark.functions.expressions import (
    dec_avg,
    dec_sum,
    epoch_us,
    spread,
    time_bucket_start,
    topk_per_key,
)

__all__ = [
    "dec_avg",
    "dec_sum",
    "epoch_us",
    "spread",
    "time_bucket_start",
    "topk_per_key",
]

from marmot_spark.operators.asof import asof_join, detect_hot_keys
from marmot_spark.operators.windows import (
    explode_tokens,
    explode_with_context,
    rolling_count,
    sessionize,
)

__all__ = [
    "asof_join",
    "detect_hot_keys",
    "explode_tokens",
    "explode_with_context",
    "sessionize",
    "rolling_count",
]

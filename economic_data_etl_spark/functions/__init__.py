from economic_data_etl_spark.functions.casts import nan_safe_eq
from economic_data_etl_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    l2_norm,
)

__all__ = [
    "nan_safe_eq",
    "cosine_similarity",
    "dot_product",
    "l2_norm",
]

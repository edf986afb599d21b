from interop_datalake_spark.operators.joins import asof_join, range_join
from interop_datalake_spark.operators.pandas_ops import (
    batch_augment,
    demean_per_group,
    make_clip_scale_udf,
    make_weighted_mean_udf,
)
from interop_datalake_spark.operators.topk import top_k_per_group

__all__ = [
    "asof_join",
    "range_join",
    "top_k_per_group",
    "demean_per_group",
    "batch_augment",
    "make_clip_scale_udf",
    "make_weighted_mean_udf",
]

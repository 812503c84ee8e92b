from hdfs_with_pyspark_spark.operators.windows import (
    latest_per_key,
    top1_per_key,
    topk_per_key,
    change_points,
    streaks,
)
from hdfs_with_pyspark_spark.operators.spatial import (
    nearest_city,
    nearest_city_auto,
    nearest_city_gridded,
)
from hdfs_with_pyspark_spark.operators.pairs import (
    canonicalize_pair,
    symmetrize_pairs,
)

__all__ = [
    "latest_per_key",
    "top1_per_key",
    "topk_per_key",
    "change_points",
    "streaks",
    "nearest_city",
    "nearest_city_auto",
    "nearest_city_gridded",
    "canonicalize_pair",
    "symmetrize_pairs",
]

from prisma_migrator_spark.operators.dedup import latest_per_key  # noqa: F401
from prisma_migrator_spark.operators.joins import anti_join, semi_join  # noqa: F401
from prisma_migrator_spark.operators.scoring import (  # noqa: F401
    group_sizes,
    normalize_by_global_max,
    weighted_reciprocal_rank,
    with_global_max,
)
from prisma_migrator_spark.operators.pivot import dynamic_pivot  # noqa: F401
from prisma_migrator_spark.operators.aggregates import distinct_pair_agg  # noqa: F401

from hrdp_variant_load_pipeline_spark.operators.interval_join import (
    interval_join,
    interval_join_binned,
    overlap_predicate,
)
from hrdp_variant_load_pipeline_spark.operators.upsert import (
    merge_update,
)

__all__ = [
    "interval_join",
    "interval_join_binned",
    "overlap_predicate",
    "merge_update",
]

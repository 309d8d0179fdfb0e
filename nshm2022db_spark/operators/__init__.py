"""Relational/dataflow operators (SURVEY §2), each Spark-first."""

from nshm2022db_spark.operators.asof import (
    nearest_ge_lookup,
    nearest_ge_lookup_per_key,
    nearest_ge_values,
)
from nshm2022db_spark.operators.keys import dense_surrogate_keys, resolve_natural_keys, upsert_missing
from nshm2022db_spark.operators.merge import weighted_branch_merge
from nshm2022db_spark.operators.reshape import explode_tokens, unpivot_wide
from nshm2022db_spark.operators.topk import top_k, top_k_per_group

__all__ = [
    "nearest_ge_lookup",
    "nearest_ge_lookup_per_key",
    "nearest_ge_values",
    "dense_surrogate_keys",
    "resolve_natural_keys",
    "upsert_missing",
    "weighted_branch_merge",
    "explode_tokens",
    "unpivot_wide",
    "top_k",
    "top_k_per_group",
]

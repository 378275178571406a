"""Column/scalar function surface (SURVEY.md §2.8) + schema utilities."""

from emr_hudi_example_spark.functions.core import (
    created_ts_expr,
    hm_bucket,
    logday,
    now_epoch_millis,
    now_instant,
    nvl,
    pk_not_null_condition,
)
from emr_hudi_example_spark.functions.json_schema import (
    get_json_value,
    is_valid_json,
    json_to_struct_type,
    schema_from_sample_json,
)

__all__ = [
    "created_ts_expr",
    "hm_bucket",
    "logday",
    "now_epoch_millis",
    "now_instant",
    "nvl",
    "pk_not_null_condition",
    "get_json_value",
    "is_valid_json",
    "json_to_struct_type",
    "schema_from_sample_json",
]

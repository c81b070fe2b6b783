from trace_data_pipeline_spark.functions.ordered import first_by, last_by
from trace_data_pipeline_spark.functions.scalars import (
    hhmmss_to_seconds,
    hms_to_seconds_checked,
    seconds_after_midnight,
)

__all__ = [
    "first_by",
    "last_by",
    "hhmmss_to_seconds",
    "hms_to_seconds_checked",
    "seconds_after_midnight",
]

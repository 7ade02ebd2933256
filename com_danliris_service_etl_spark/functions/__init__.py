"""Scalar function library — Spark Column expressions for every scalar
transform in the reference (SURVEY.md §2.9 dates, §2.10 strings, §2.11
math/conditional). All are native Catalyst expressions (zero Python UDFs),
so they stay inside whole-stage codegen at any scale.
"""

from com_danliris_service_etl_spark.functions.dates import (  # noqa: F401
    clamp_min_date,
    day_diff,
    epoch_millis_time_of_day,
    fmt_date,
    fmt_datetime,
    fmt_time,
    minute_diff,
    reconstruct_timestamp,
    repair_year_typos,
    to_jakarta,
)
from com_danliris_service_etl_spark.functions.strings import (  # noqa: F401
    concat_ws_nullsafe,
    quote_sanitize,
    truncate,
)
from com_danliris_service_etl_spark.functions.conditional import (  # noqa: F401
    bucket_days_month,
    bucket_days_week,
    category_bahan_baku,
    category_garment,
    nan_guard,
    null_guard,
    on_time_status,
    uom_to_meter,
    weighted_score,
)

"""Expression layer: scalar cleanups (SURVEY §2.8) and skew-aware
aggregates/joins. Scalars are Spark SQL expression text (``*_sql``),
composed by callers into ``selectExpr``/``F.expr`` — JVM-side,
whole-stage-codegen'd, no Python UDFs."""

from sbs_suptech_etl_v2_spark.functions.scalars import (  # noqa: F401
    format_text_key,
    map_merge_new_wins_sql,
    refine_dates_sql,
    refine_month_sql,
    refine_year_sql,
    stringify_map_values_sql,
)
from sbs_suptech_etl_v2_spark.functions.skew import (  # noqa: F401
    salted_agg,
    salted_join,
)

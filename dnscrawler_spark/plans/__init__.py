from dnscrawler_spark.plans.checks import (  # noqa: F401
    codegen_compiles,
    count_exchanges,
    explain_str,
    has_broadcast_join,
    has_pushed_filters,
    scan_read_schema,
    whole_stage_codegen_spans,
)

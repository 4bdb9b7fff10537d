"""Physical-plan assertions — the engine's ".explain and iterate"
discipline made executable.

The 100 TB rules these encode:
- filters and column pruning must reach the parquet scan
  (``PushedFilters`` / narrow ``ReadSchema``) — a scan that reads all
  columns for a 2-column projection is wrong at any scale;
- small dimension sides must broadcast (no shuffle of the big side);
- expressions should stay inside WholeStageCodegen spans;
- exchanges (shuffles) are counted, because every one is a full
  materialization of the stream at 10^10 rows.

Used by tests/test_plans.py as regression gates on the engine's own
operators, and available to users for their queries. ``codegen_compiles``
counts generated-code compiles, the per-step cost of plans whose code
changes between steps.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def has_pushed_filters(df: DataFrame, fragment: str | None = None) -> bool:
    """True if the plan's parquet scan carries pushed-down filters
    (optionally one mentioning ``fragment``)."""
    plan = explain_str(df)
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body and body != "[]":
            if fragment is None or fragment.lower() in body.lower():
                return True
    return False


def scan_read_schema(df: DataFrame) -> list[list[str]]:
    """Column lists actually read by each file scan (column pruning
    check): [['a','b'], ...] per scan."""
    plan = explain_str(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        out.append(cols)
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df, "simple")


def count_exchanges(df: DataFrame) -> int:
    """Shuffle exchanges in the plan (excludes broadcast exchanges —
    those move only the small side)."""
    plan = explain_str(df, "simple")
    return len(
        re.findall(
            r"Exchange (?:hashpartitioning|rangepartitioning|RoundRobinPartitioning"
            r"|SinglePartition|shufflepartitionidpassthrough)",
            plan,
        )
    )


def whole_stage_codegen_spans(df: DataFrame) -> int:
    """Number of WholeStageCodegen subtrees. AQE hides codegen subtrees
    until runtime, so the same logical plan is re-planned AQE-off for
    the static count (read-only — the DataFrame is untouched).

    TEST-ONLY and not concurrency-safe: this briefly toggles the
    session-global ``spark.sql.adaptive.enabled``, so any query planned
    concurrently in the same session during the window would see AQE
    off. The engine never calls this at runtime — only tests do, and
    the test session runs plan checks single-threaded."""
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        fresh = df._jdf.toDF()  # fresh Dataset over the same logical plan
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            fresh.queryExecution(), "codegen"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", plan)
    return int(m.group(1)) if m else 0


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles so far in this JVM, from Spark's ``CodegenMetrics``:
    one per generated source that missed the codegen class cache. The
    counter is JVM-wide, so take differences around the work measured and
    run nothing else in the session meanwhile."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
    return int(metrics.METRIC_COMPILATION_TIME().getCount())

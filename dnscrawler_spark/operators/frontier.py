"""Salted priority-queue frontier (SURVEY §1.2, §2.5 W1/W2).

The frontier replaces three reference structures: the per-resolution
``auth_ns`` working dict (/root/reference/dnscrawler/dnsresolver_new.py:
214-215), the seed file order (/root/reference/run/run.py:50-51,58), and
the retry list (/root/reference/run/run.py:41-44,53-55). One table,
explicitly hash-partitioned by (host, salt) so politeness stays local to
an executor (north_rule).

Priority semantics (lower = sooner), reproducing the reference's
normalized crawl order (SURVEY §7.3):
  - ``priority``: band — seeds 0, glue-hit expansions 1, plain
    expansions 2, carries 3, retries 10+band (retry-after, W4)
  - ``depth``: BFS depth from seed (the superdomain-first analog, W2)
  - tie-break: canonical url string (replaces Python-set iteration
    order, which the reference leaves undefined)

``salt = pmod(xxhash64(url, 1), n_salts)`` spreads a hot host's rows
across tasks; admission correctness under salting is restored by the
two-phase top-k in politeness.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from dnscrawler_spark.functions.canon import canon_url_col, host_col, url_key_col

N_SALTS_DEFAULT = 8

PRIORITY_SEED = 0
PRIORITY_GLUE = 1
PRIORITY_EXPAND = 2
PRIORITY_CARRY = 3
PRIORITY_QMIN = 4  # full-name requery after a minimized-form miss (O7)
PRIORITY_RETRY_BASE = 10

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),  # canonical form
        T.StructField("url_key", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("salt", T.IntegerType(), False),
        T.StructField("round", T.IntegerType(), False),
        T.StructField("reason", T.StringType(), False),  # seed|expand|glue|retry|carry
        T.StructField("seed", T.StringType(), False),  # originating seed url
        T.StructField("attempts", T.IntegerType(), False),
    ]
)

FRONTIER_COLS = [f.name for f in FRONTIER_SCHEMA.fields]


def round_value(round_no: int, anchor: str):
    """``round_no`` as an int Column that does not enter generated code.

    Spark writes an int literal into the generated Java source, so a plan
    holding ``F.lit(round_no)`` compiles new classes every round. An array
    literal is passed to generated code by reference instead, and an
    index computed from the string column ``anchor`` is not foldable:
    ``least(length(anchor), 0)`` is 0 for every row (a length is never
    negative and ``least`` skips a null), so the lookup always reads
    element 1. Every plan the crawl builds per round carries the round
    through this helper, so a steady round reuses the previous round's
    classes. A cast literal is folded back to an int literal, and a
    one-row relation costs a job per plan."""
    return F.element_at(
        F.array(F.lit(round_no)), F.least(F.length(anchor), F.lit(0)) + 1
    )


class RoundValues:
    """:func:`round_value` Columns, each built once per (round, anchor):
    a round plans the same value into many frames, and building one
    costs ~30 Py4J round trips. Keeps the last few rounds' entries only.
    One instance per planner-expression set, never a module global (a
    Column holds its session's JVM handle)."""

    def __init__(self):
        self._cols: dict[tuple[int, str], object] = {}

    def __call__(self, round_no: int, anchor: str):
        # one dict lookup and one store: a round's writer threads plan
        # with the same instance
        key = (round_no, anchor)
        col = self._cols.get(key)
        if col is None:
            if len(self._cols) >= 8:
                self._cols.clear()
            col = self._cols[key] = round_value(round_no, anchor)
        return col


def derive_frontier_cols(df: DataFrame, n_salts: int = N_SALTS_DEFAULT) -> DataFrame:
    """Given rows with a raw ``url`` plus (priority, depth, round, reason,
    seed, attempts), canonicalize and derive (url, url_key, host, salt).
    Pure Catalyst — stays in whole-stage codegen."""
    url = F.col("url")
    return (
        df.withColumn("url", canon_url_col(url))
        .withColumns(
            {
                "url_key": url_key_col(url),
                "host": host_col(url),
                "salt": F.pmod(F.xxhash64(url, F.lit(1)), F.lit(n_salts)).cast("int"),
            }
        )
        .select(*FRONTIER_COLS)
    )


def seed_frontier(spark, seed_urls: list[str], n_salts: int = N_SALTS_DEFAULT) -> DataFrame:
    """Round-0 frontier from the seed list. Seed order becomes the
    priority tie only through depth/url ordering — all seeds share band
    0, matching the reference where every seed is scheduled up-front
    (/root/reference/run/run.py:56-60)."""
    rows = [(u,) for u in seed_urls]
    return seed_frontier_from_df(spark.createDataFrame(rows, ["url"]), n_salts)


def seed_frontier_from_df(urls: DataFrame, n_salts: int = N_SALTS_DEFAULT) -> DataFrame:
    """Round-0 frontier from a DataFrame of raw urls (scale path: the
    seed set stays distributed end to end)."""
    df = urls.select(
        F.col("url"),
        F.lit(PRIORITY_SEED).alias("priority"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("round"),
        F.lit("seed").alias("reason"),
        canon_url_col(F.col("url")).alias("seed"),
        F.lit(0).alias("attempts"),
    )
    return derive_frontier_cols(df, n_salts).dropDuplicates(["url_key"])


def repartition_by_host(frontier: DataFrame, n_partitions: int | None = None) -> DataFrame:
    """Explicit hash partitioning by (host, salt) — the engine's analog
    of one-seed-per-process (/root/reference/run/run.py:56): politeness
    decisions for a host stay within one task per salt (SURVEY §2.9 X1,
    O10). No fixed width: leaving numPartitions unset keeps the exchange
    AQE-coalescible, so partition count follows data size (tiny rounds
    collapse to a few tasks; 10^10-key rounds fan out to the cap)."""
    if n_partitions is not None:
        return frontier.repartition(n_partitions, "host", "salt")
    return frontier.repartition("host", "salt")

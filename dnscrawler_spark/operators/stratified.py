"""Stratified (hot/cold) frontier: rank-and-rewrite only the admission
horizon, never the backlog (VERDICT r1 next-step #3; SURVEY §4.2).

The classic frontier re-sorts and rewrites the WHOLE backlog every
round — at a 10^10-URL frontier with politeness-bounded admission the
leftover churn makes every round O(backlog). This module splits the
frontier per host at a monotone watermark ``W`` over the admission sort
key ``(priority, depth, url)``:

- **hot** = every live row with key ≤ W(host). Small (politeness-horizon
  sized); the ONLY rows the politeness windows rank and the only
  frontier table rewritten per round.
- **cold** = every live row with key > W(host). Append-only parquet
  deltas partitioned by ``hbucket = pmod(xxhash64(host), n_buckets)``;
  a round APPENDS spilled rows and never rewrites cold.
- **queue_state** = per-host (W, n_cold) bookkeeping, dimension-sized.

Invariants (all maintained without ever rewriting cold):
1. W is monotone non-decreasing per host.
2. Every hot row has key ≤ W; every LIVE cold row has key > W. Hence
   per-host top-budget over hot == top-budget over the full queue —
   admission is EXACTLY the oracle's full-queue decision.
3. A cold row with key ≤ W is DEAD (it was promoted by the pull that
   raised W past it — pulls take a contiguous sorted prefix, so the
   filter ``key > W`` is an exact liveness test; monotonicity rules out
   resurrection).

Round protocol:
- **replenish** (before admission): any host with n_cold > 0 and
  n_hot < ceil(burst) could under-admit — pull its per-host top
  ``chunk × ceil(burst) − n_hot`` live cold rows (amortizes to one pull
  every ~chunk rounds per host), raise W to the max pulled key. The
  deficit hosts, pull sizes, AND the hbucket list to read are all
  precomputed by the previous round's routing aggregation (stored in
  queue_state / the manifest via an Observation on its write), so
  replenish launches no extra job and the cold scan prunes to the
  deficit buckets by directory (the driver only ever sees ≤ n_buckets
  ints, never hosts).
- **route** (after expansion): re-enqueued rows go hot iff key ≤ W or
  the host's cold side is empty (then W is raised over them, keeping
  invariant 2); everything else appends to cold. The same aggregation
  emits next round's (n_hot, deficit, pull_t) — the next hot table is
  exactly the hot-routed rows, so these are exact, not estimates.
- **drained collapse**: once Σn_cold == 0 it stays 0 (rows only spill
  while their host has cold rows), so later rounds drop the cold
  machinery entirely and run at classic cost.

Correctness at enqueue (kept exact vs the oracle, see rounds.py):
robots gating moves to enqueue time (a blocked row is terminal the
moment it is discovered — same observable facts/seen/trace since the
oracle blocks it before the next resolve step), and the in-flight
cycle break (P11) uses the fused ever-enqueued exact filter E
(seen.insert_and_probe(enqueue=...)) instead of a union over the
backlog.

The reference has no analog (its frontier is one process's working
dict, dnsresolver_new.py:214-215); this is the 10^10-scale rehosting
of the same priority-queue semantics.
"""

from __future__ import annotations

from functools import cached_property, reduce

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql import types as T

from dnscrawler_spark.operators.frontier import FRONTIER_COLS, FRONTIER_SCHEMA

N_COLD_BUCKETS_DEFAULT = 64

W_TYPE = T.StructType(
    [
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("url", T.StringType(), False),
    ]
)

# w == NULL means -infinity (nothing promoted yet: everything is cold).
# n_hot / deficit / pull_t are NEXT-round precomputations: the routing
# aggregation knows exactly which rows the next round's hot table holds,
# so the deficit decision (n_hot < ceil(burst) while cold rows remain)
# and the pull size are baked into the table at write time — the next
# round runs NO standalone deficit job; it reads the deficit rows (and
# the bucket list rides the manifest via an Observation on this write).
QUEUE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("w", W_TYPE, True),
        T.StructField("n_cold", T.LongType(), False),
        T.StructField("n_hot", T.LongType(), False),
        T.StructField("deficit", T.BooleanType(), False),
        T.StructField("pull_t", T.IntegerType(), True),
        # has this host EVER had rows appended to the cold deltas? Only
        # such hosts need their queue_state row (specifically W — the
        # dead-row marker for the physical cold files) retained while
        # idle; hot-only hosts drop out when drained, preventing the
        # O(hosts-ever-seen) queue_state leak (VERDICT r2 #9).
        T.StructField("ever_cold", T.BooleanType(), False),
    ]
)

COLD_SCHEMA = T.StructType(
    list(FRONTIER_SCHEMA.fields) + [T.StructField("hbucket", T.IntegerType(), True)]
)


def key_struct():
    """The admission sort key as an orderable struct — Spark compares
    structs lexicographically, matching the oracle's (priority, depth,
    url) tuple order exactly."""
    return F.struct(F.col("priority"), F.col("depth"), F.col("url"))


def hbucket_col(host, n_buckets: int):
    return F.pmod(F.xxhash64(host, F.lit(2)), F.lit(n_buckets)).cast("int")


def live_pred(w_col):
    return w_col.isNull() | (key_struct() > w_col)


def read_cold(spark: SparkSession, cold_paths: list[str]) -> DataFrame:
    """All cold deltas as one DataFrame. Explicit schema: no footer
    round-trips; ``hbucket`` is recovered from the partition dirs, so a
    ``.filter(hbucket.isin(...))`` downstream prunes whole directories.

    One scan per delta, unioned: each delta is its own partitioned root,
    and a single multi-root ``parquet()`` read fails partition discovery
    (``CONFLICTING_DIRECTORY_STRUCTURES``). Filters push through the
    union, so every scan keeps its directory pruning."""
    reader = spark.read.schema(COLD_SCHEMA)
    if not cold_paths:
        return reader.parquet()
    return reduce(DataFrame.unionByName, [reader.parquet(p) for p in cold_paths])


def deficit_obs_exprs(n_buckets: int):
    """Aggregate expressions attached (via Observation) to the
    queue_state write: total live cold rows, the distinct hbuckets of
    next round's deficit hosts — the driver learns WHICH cold partitions
    to read without running any extra job — and the next round's
    active-host count (hot or deficit), which decides whether the
    politeness policy can be pruned-and-broadcast or must shuffle-join
    (rounds.py, VERDICT r2 #1)."""
    return [
        F.sum("n_cold").alias("nc"),
        F.collect_set(
            F.when(F.col("deficit"), hbucket_col(F.col("host"), n_buckets))
        ).alias("dbuckets"),
        F.sum((F.col("deficit") | (F.col("n_hot") > 0)).cast("long")).alias(
            "nactive"
        ),
    ]


def with_dead_seeds_excluded(rows: DataFrame, dead_seeds: DataFrame | None) -> DataFrame:
    """Drop rows whose seed is budget-exhausted (CrawlConfig.seed_budget
    in stratified mode): such rows were demoted to the terminal
    ``budget_exceeded`` class by the exhaustion-round cold sweep
    (rounds.py) and are DEAD in place — the physical cold files are
    append-only, so liveness carries the exclusion. ``dead_seeds`` is
    the (tiny, broadcast) exhausted-seed dimension; None ⇒ no budget."""
    if dead_seeds is None:
        return rows
    return rows.join(F.broadcast(dead_seeds.select("seed")), "seed", "left_anti")


def replenish(
    spark: SparkSession,
    hot: DataFrame,
    qs: DataFrame,
    cold_paths: list[str],
    n_buckets: int,
    deficit_buckets: list[int],
    dead_seeds: DataFrame | None = None,
):
    """Pull per-host top-chunks from cold into hot for every deficit
    host, guaranteeing n_hot ≥ this round's politeness budget wherever
    live rows exist (budget ≤ floor(tokens) ≤ ceil(burst) = the deficit
    threshold — conservative, so admission stays exact).

    Deficit hosts, pull sizes, and the bucket list were all precomputed
    by the PREVIOUS round's routing aggregation (stored in queue_state /
    the manifest), so this runs NO standalone job — when the bucket list
    is empty the round touches nothing cold at all.

    Returns ``(hot2, qs2, persisted)``; ``persisted`` are frames to
    unpersist after the round's writes.
    """
    if not deficit_buckets or not cold_paths:
        return hot, qs, []
    need = qs.filter(F.col("deficit")).select("host", "w", "pull_t")
    cold = read_cold(spark, cold_paths).filter(F.col("hbucket").isin(deficit_buckets))
    j = cold.drop("hbucket").join(need, "host")
    live = with_dead_seeds_excluded(j.filter(live_pred(F.col("w"))), dead_seeds)
    w_rank = Window.partitionBy("host").orderBy("priority", "depth", "url")
    pulled = (
        live.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= F.col("pull_t"))
        .select(*FRONTIER_COLS)
        .persist()
    )
    pull_stats = pulled.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_pulled"),
        F.max(key_struct()).alias("w_new"),
    )
    qs2 = (
        qs.join(pull_stats, "host", "left")
        .withColumns(
            {
                "n_cold": F.col("n_cold") - F.coalesce(F.col("n_pulled"), F.lit(0)),
                # pulled keys are all > old W, so the new W (max pulled)
                # only moves up — invariant 1
                "w": F.coalesce(F.col("w_new"), F.col("w")),
            }
        )
        .drop("n_pulled", "w_new")
    )
    hot2 = hot.unionByName(pulled)
    return hot2, qs2, [pulled]


def route(
    rows: DataFrame,
    qs: DataFrame,
    host_state: DataFrame,
    n_buckets: int,
    chunk: int,
    dead_seeds: DataFrame | None = None,
    exprs: RouteExprs | None = None,
):
    """Split re-enqueued frontier rows into hot (key ≤ W, or the host
    has no cold rows — W is raised over them) and cold (appended), and
    compute the NEXT round's queue_state in the same pass: since the
    next hot table is exactly ``to_hot``, per-host n_hot — and with
    burst, the deficit flag and pull size — are known now. One
    aggregation over the routed cache + one full join with the old
    state + a burst join; no extra jobs next round.

    ``dead_seeds`` (seed_budget): rows of budget-exhausted seeds go to
    the ``to_pending`` split instead of hot/cold — they must never
    enter the append-only cold backlog after the seed's sweep; the next
    round demotes them (the oracle's round-start check timing). The
    flag is computed INSIDE the one persisted pass so every split —
    including pending — reads the same cache (the caller's branch
    Observations fire exactly once).

    Returns ``(routed_persisted, to_hot, to_cold, to_pending, qs3)``;
    the caller writes to_hot as the next hot table, to_cold as a cold
    delta (partitioned by hbucket), qs3 as the next queue_state, then
    unpersists ``routed_persisted``."""
    ex = exprs or RouteExprs(n_buckets, chunk)
    j = rows.join(qs.select(*ex.qs_side), "host", "left")
    if dead_seeds is None:
        j = j.withColumn("_dead", F.lit(False))
    else:
        dead_flag = F.broadcast(dead_seeds.select(*ex.dead_flag_cols))
        j = j.join(dead_flag, "seed", "left").withColumn("_dead", ex.dead).drop("_df")
    j = j.persist()
    to_hot = j.filter(ex.to_hot).select(*ex.frontier_cols)
    to_cold = j.filter(ex.to_cold).select(*ex.frontier_cols, ex.hbucket)
    to_pending = j.filter(F.col("_dead")).select(*ex.frontier_cols)
    # one aggregation: cold appends, hot counts, and the W raise for
    # hosts whose cold side is empty (every row goes hot there — W must
    # cover them, invariant 2; hosts with cold rows only take key ≤ W
    # rows hot, so no raise is needed)
    stats = j.groupBy("host").agg(*ex.route_stats)
    qs3 = (
        qs.select(*ex.qs_kept)
        .join(stats, "host", "full")
        .withColumns(ex.qs_merged)
        .join(host_state.select(*ex.burst_cols), "host", "left")
        .withColumn("need", ex.need)
        .select(*ex.qs_cols)
        # drop rows that carry NO state: hot-only hosts (never any cold-
        # file rows) with nothing queued. Without this filter queue_state
        # accumulates one dead row per host ever touched — an
        # O(hosts-ever-seen) leak at a 10^10 frontier (VERDICT r2 #9).
        # ever_cold hosts are kept even when drained: their dead cold
        # rows are physically present in the append-only deltas, and W
        # is what marks them dead for compaction/replenish liveness.
        .filter(ex.has_state)
    )
    return j, to_hot, to_cold, to_pending, qs3


class RouteExprs:
    """The round-invariant Column expressions of :func:`route`, each
    built on first use. Building a Column costs several Py4J round trips
    per function call in it, and the crawl routes every round, so the
    engine keeps one instance for its lifetime. Not a module global: a
    Column holds the JVM handle of the session that built it."""

    def __init__(self, n_buckets: int, chunk: int):
        self.n_buckets = n_buckets
        self.chunk = chunk

    @cached_property
    def deficit_obs(self):
        return deficit_obs_exprs(self.n_buckets)

    @cached_property
    def qs_side(self):
        return [F.col("host"), F.col("w").alias("_w"), F.col("n_cold").alias("_nc")]

    @cached_property
    def dead_flag_cols(self):
        return [F.col("seed"), F.lit(True).alias("_df")]

    @cached_property
    def dead(self):
        return F.coalesce(F.col("_df"), F.lit(False))

    @cached_property
    def has_cold(self):
        return F.coalesce(F.col("_nc"), F.lit(0)) > 0

    @cached_property
    def to_cold(self):
        alive = ~F.col("_dead")
        return alive & self.has_cold & (F.col("_w").isNull() | (key_struct() > F.col("_w")))

    @cached_property
    def to_hot(self):
        return ~F.col("_dead") & ~self.to_cold

    @cached_property
    def frontier_cols(self):
        return [F.col(c) for c in FRONTIER_COLS]

    @cached_property
    def hbucket(self):
        return hbucket_col(F.col("host"), self.n_buckets).alias("hbucket")

    @cached_property
    def route_stats(self):
        return [
            F.sum(self.to_cold.cast("long")).alias("n_add"),
            F.sum(self.to_hot.cast("long")).alias("n_hot_new"),
            F.max(F.when(self.to_hot & ~self.has_cold, key_struct())).alias("w_cand"),
        ]

    @cached_property
    def qs_kept(self):
        return [F.col(c) for c in ("host", "w", "n_cold", "ever_cold")]

    @cached_property
    def qs_merged(self):
        """The old state merged with the round's stats; every expression
        reads the pre-merge columns."""
        n_add = F.coalesce(F.col("n_add"), F.lit(0))
        w, w_cand = F.col("w"), F.col("w_cand")
        return {
            "n_cold": F.coalesce(F.col("n_cold"), F.lit(0)) + n_add,
            "n_hot": F.coalesce(F.col("n_hot_new"), F.lit(0)),
            "ever_cold": F.coalesce(F.col("ever_cold"), F.lit(False)) | (n_add > 0),
            "w": F.when(
                w_cand.isNotNull() & (w.isNull() | (w_cand > w)), w_cand
            ).otherwise(w),
        }

    @cached_property
    def burst_cols(self):
        return [F.col("host"), F.col("burst")]

    @cached_property
    def need(self):
        return F.ceil(F.coalesce(F.col("burst"), F.lit(1.0))).cast("int")

    @cached_property
    def qs_cols(self):
        deficit = (F.col("n_cold") > 0) & (F.col("n_hot") < F.col("need"))
        pull_t = F.when(
            deficit, (F.lit(self.chunk) * F.col("need") - F.col("n_hot")).cast("int")
        )
        return [
            F.col("host"), F.col("w"), F.col("n_cold"), F.col("n_hot"),
            deficit.alias("deficit"), pull_t.alias("pull_t"), F.col("ever_cold"),
        ]

    @cached_property
    def has_state(self):
        return (F.col("n_cold") > 0) | (F.col("n_hot") > 0) | F.col("ever_cold")


def initial_queue_state(clean_seeds: DataFrame, host_state: DataFrame, chunk: int):
    """queue_state for the round-0 snapshot: every seed is cold
    (W = -inf, n_hot = 0), so every seeded host is deficit with a full
    chunk pull."""
    counts = clean_seeds.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_cold")
    )
    return (
        counts.join(host_state.select("host", "burst"), "host", "left")
        .withColumn("need", F.ceil(F.coalesce(F.col("burst"), F.lit(1.0))).cast("int"))
        .select(
            "host",
            F.lit(None).cast(W_TYPE).alias("w"),
            "n_cold",
            F.lit(0).cast("long").alias("n_hot"),
            F.lit(True).alias("deficit"),
            (F.lit(chunk) * F.col("need")).cast("int").alias("pull_t"),
            F.lit(True).alias("ever_cold"),
        )
    )


def compact_cold(
    spark: SparkSession,
    qs: DataFrame,
    cold_paths: list[str],
    dead_seeds: DataFrame | None = None,
) -> DataFrame:
    """Live cold rows across all deltas (dead rows dropped) — written by
    the caller as a single fresh delta replacing the whole list. Run
    when the delta count passes cfg.cold_compact_every: bounds file
    count and replenish-scan fan-in at O(1) deltas amortized."""
    cold = read_cold(spark, cold_paths)
    j = cold.join(qs.select("host", "w"), "host", "left")
    return with_dead_seeds_excluded(
        j.filter(live_pred(F.col("w"))), dead_seeds
    ).select(*FRONTIER_COLS, "hbucket")

"""Per-host politeness: token buckets + robots gating (SURVEY §2.9 X5).

The reference gets politeness implicitly — one domain's queries run
sequentially inside one worker process with a 60 s budget
(/root/reference/run/run.py:59) and 2 s × 2-try query budgets
(/root/reference/dnscrawler/constants.py:1-2). The engine makes the
budget explicit: each host owns a token bucket (rate tokens/round,
burst cap); a round admits at most ``floor(tokens)`` URLs per host, in
priority order; robots-disallowed paths are rejected outright.

State layout (VERDICT r2 #1/#9 — nothing here is O(hosts) per round):
the STATIC policy (rate, burst, robots) lives in the write-once
``host_state`` table; the DYNAMIC balance is per-round ``host_tokens``
deltas of O(admitted hosts) rows, refill applied lazily in closed form
(:func:`effective_tokens`). The host dimension is never broadcast
whole: callers either prune it to the round's active hosts first
(stratified path) or shuffle-hash-join it (see :func:`prepare_policy`).

Everything here is native Catalyst (joins + two windows + one groupBy)
— vectorized JVM-side, no Python in the loop. Skew: the frontier is
salted, so phase 1 ranks each (host, salt) slice in its own window
partition. Phase 2 is NOT bounded by salting: its window runs over the
host's whole queue (every row, survivor or not, carries the running
count), so a hot host's queue is sorted in one task, O(queue rows) and
not O(salts × budget). What bounds that task is the queue itself: the
stratified frontier keeps only a per-host admission horizon hot (its
pulls are chunk × burst rows per host), while the classic frontier
ranks the host's whole backlog.

Admission must be *identical* to the oracle's single-threaded decision,
which ranks the whole host queue by (priority, depth, url) and takes
``budget`` — the two-phase top-k provably yields the same set: the
global per-host top-B is contained in every per-salt top-B.
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import DataFrame, Window, functions as F

from dnscrawler_spark.functions.canon import path_col
from dnscrawler_spark.operators.frontier import RoundValues

ORDER_COLS = ("priority", "depth", "url")


def robots_block_pred():
    """Robots disallow predicate over rows that carry (url,
    robots_fetched, robots_disallow) — null-safe (hosts without policy
    are never blocked). Shared by admit() and the stratified frontier's
    robots-at-enqueue gate (same decision, made once per row)."""
    raw = (
        F.col("robots_fetched")
        & (F.size("robots_disallow") > 0)
        & F.exists(
            "robots_disallow",
            lambda p: path_col(F.col("url")).startswith(p),
        )
    )
    return F.coalesce(raw, F.lit(False))


def robots_policy(policy: DataFrame, exprs: "PolitenessExprs | None" = None) -> DataFrame:
    """The robots-ACTIVE slice of the static policy — the only hosts
    whose rows can ever satisfy :func:`robots_block_pred` (null rows are
    never blocked). Joining this slice instead of the full host dimension
    keeps enqueue-time robots gating shuffle-sized at any host count."""
    ex = exprs or PolitenessExprs()
    return policy.filter(ex.robots_active).select(*ex.robots_cols)


def effective_tokens(round_no: int, exprs: "PolitenessExprs | None" = None):
    """Closed-form lazy refill (VERDICT r2 #1/#9): the per-round refill
    ``tokens ← min(burst, tokens + rate)`` iterated from the host's last
    debit round ``asof_round`` to ``round_no`` equals
    ``min(burst, tokens + rate × (round_no − asof_round))`` exactly (the
    cap is absorbing), so an idle host's bucket never needs a state row
    — hosts without a dynamic row sit at full ``burst``. This is what
    makes the token state O(touched hosts), not O(hosts)."""
    ex = exprs or PolitenessExprs()
    refilled = F.col("tokens") + F.col("rate") * (
        ex.round_value(round_no, "host") - F.col("asof_round")
    )
    return F.when(
        F.col("asof_round").isNotNull(), F.least(F.col("burst"), refilled)
    ).otherwise(F.col("burst"))


def prepare_policy(
    policy: DataFrame,
    tokens: DataFrame | None,
    round_no: int,
    exprs: "PolitenessExprs | None" = None,
) -> DataFrame:
    """The per-host admission view ``(host, tokens, robots_disallow,
    robots_fetched)`` for one round: static policy (host_state table,
    written once) left-joined with the merged dynamic token deltas
    (small: only recently-debited hosts have rows), refill applied in
    closed form. The CALLER decides the join strategy against the
    frontier: wrap in ``F.broadcast`` only after pruning to the round's
    active hosts (stratified path), or ``.hint("shuffle_hash")`` for the
    full-dimension path — never a broadcast of the raw host dimension."""
    if tokens is None:
        merged = policy.withColumn(
            "tokens", F.lit(None).cast("double")
        ).withColumn("asof_round", F.lit(None).cast("int"))
    else:
        merged = policy.join(tokens, "host", "left")
    return merged.select(
        "host",
        effective_tokens(round_no, exprs).alias("tokens"),
        "robots_disallow",
        "robots_fetched",
    )


def apply_debits(prepared: DataFrame, debits: DataFrame) -> DataFrame:
    """Intra-round token override for a wave-B admission (W3): hosts
    debited by wave A admit against their post-debit balance (no refill
    between waves). ``debits`` is admitted-host-sized — the broadcast is
    horizon-bounded at any scale."""
    d = F.broadcast(debits.select("host", F.col("tokens").alias("_tokens_after")))
    return (
        prepared.join(d, "host", "left")
        .withColumn("tokens", F.coalesce(F.col("_tokens_after"), F.col("tokens")))
        .drop("_tokens_after")
    )


def admit_decided(
    frontier: DataFrame,
    prepared: DataFrame,
    exprs: "PolitenessExprs | None" = None,
) -> DataFrame:
    """One round of politeness as a SINGLE tagged frame (r6): every
    frontier row annotated with ``_verdict`` ∈ {admit, left, blocked}
    plus its host's ``tokens`` balance — computed in one pass, no branch
    unions.

    The two-phase top-k is expressed as running counts instead of
    row_number-over-filtered-subsets: within a (host, salt) partition
    ordered by the admission key, a non-blocked row's running count of
    non-blocked rows IS its phase-1 rank (it includes itself), and the
    per-host running count of phase-1 survivors is its phase-2 rank —
    provably the same admit/leftover split as ranking each filtered
    subset, for the same reason (the per-host top-B is contained in
    every per-salt top-B). One output frame means the caller can
    materialize the WHOLE politeness decision with one eager
    localCheckpoint: every downstream job (fetch, fused pass, facts,
    frontier write) then plans from a leaf instead of re-carrying — and
    re-broadcasting — the frontier/policy lineage (guide §2.4/§5; the
    fixture-scale profile counted 170 broadcast rebuilds per crawl,
    most of them the politeness join re-executed by sibling actions).
    """
    ex = exprs or PolitenessExprs()
    fr = frontier.join(prepared, "host", "left")
    # hosts absent from host_state (dead-edge hosts can be): default
    # budget 1/round; phase 1 (``_c1``): per-(host, salt) running rank
    # among eligible rows. The frontier arrives repartitioned by (host,
    # salt), so that window needs no exchange — just a partition-local
    # sort. Phase 2 (``_c2``): exact per-host running rank over the
    # phase-1 survivors. See PolitenessExprs for the expressions.
    fr = fr.withColumns({"budget": ex.budget, "_elig": ex.eligible})
    fr = fr.withColumn("_c1", ex.rank1).withColumn("_c2", ex.rank2)
    return fr.withColumn("_verdict", ex.verdict).drop(*ex.decided_drop)


_DECIDED_AUX = ["tokens", "_verdict"]


def split_decided(
    decided: DataFrame, round_no: int, exprs: "PolitenessExprs | None" = None
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """``(admitted, leftover, blocked, debits)`` from an
    :func:`admit_decided` frame — plain filters/aggregations of the
    (ideally checkpointed) decision leaf; nothing here re-runs the
    ranking. ``debits``: per-host post-debit balances for hosts that
    admitted AND have a policy row (``tokens`` non-null — default-budget
    hosts keep no state, as before); the balance rides the decided rows,
    so no join back against the policy dimension is needed."""
    ex = exprs or PolitenessExprs()
    admitted = decided.filter(ex.is_admit).drop(*_DECIDED_AUX)
    leftover = decided.filter(ex.is_left).drop(*_DECIDED_AUX)
    blocked = decided.filter(ex.is_blocked).drop(*_DECIDED_AUX)
    debits = (
        decided.filter(ex.debited)
        .groupBy("host")
        .agg(ex.tokens_after)
        .select(*ex.debit_cols, ex.round_value(round_no, "host").alias("asof_round"))
    )
    return admitted, leftover, blocked, debits


def admit(
    frontier: DataFrame,
    prepared: DataFrame,
    round_no: int,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """One round of politeness.

    ``prepared`` is the output of :func:`prepare_policy` (possibly
    pruned/broadcast/hinted by the caller — see there).

    Returns ``(admitted, leftover, blocked, debits)``:
    - admitted: rows fetched this round (per-host top-budget by
      (priority, depth, url))
    - leftover: rows staying in the frontier for the next round
    - blocked: robots-rejected rows (terminal — recorded + marked seen
      so they are never re-enqueued)
    - debits: (host, tokens, asof_round) post-debit token rows for the
      hosts that admitted — the ONLY dynamic state the round writes
      (O(admitted hosts), VERDICT r2 #9)

    Implemented as :func:`admit_decided` + :func:`split_decided`; the
    crawl loop calls those directly so it can pin the decision with one
    checkpoint (see rounds.py).
    """
    return split_decided(admit_decided(frontier, prepared), round_no)


class PolitenessExprs:
    """The round-invariant Column expressions of this module's planners,
    each built on first use. Building a Column costs several Py4J round
    trips per function call in it, and the crawl plans the same
    expressions every wave of every round, so the engine keeps one
    instance for its lifetime and passes it to every call. Not a module
    global: a Column holds the JVM handle of the session that built it.
    A call without one builds a fresh set — the same expressions."""

    def __init__(self):
        self.round_value = RoundValues()

    @cached_property
    def block_pred(self):
        return robots_block_pred()

    @cached_property
    def robots_active(self):
        return F.col("robots_fetched") & (F.size("robots_disallow") > 0)

    @cached_property
    def robots_cols(self):
        return [F.col("host"), F.col("robots_disallow"), F.col("robots_fetched")]

    # -- admit_decided ---------------------------------------------------------
    @cached_property
    def budget(self):
        return F.floor(F.coalesce(F.col("tokens"), F.lit(1.0))).cast("int")

    @cached_property
    def eligible(self):
        return ~self.block_pred

    @cached_property
    def rank1(self):
        """Phase-1 rank: a non-blocked row's running count of non-blocked
        rows in its (host, salt) partition (it includes itself)."""
        w1 = Window.partitionBy("host", "salt").orderBy(*ORDER_COLS)
        return F.sum(F.when(F.col("_elig"), 1).otherwise(0)).over(
            w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )

    @cached_property
    def keep1(self):
        return F.col("_elig") & (F.col("_c1") <= F.col("budget"))

    @cached_property
    def rank2(self):
        """Phase-2 rank: the per-host running count of phase-1 survivors."""
        w2 = Window.partitionBy("host").orderBy(*ORDER_COLS)
        return F.sum(F.when(self.keep1, 1).otherwise(0)).over(
            w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )

    @cached_property
    def verdict(self):
        return (
            F.when(~F.col("_elig"), F.lit("blocked"))
            .when(self.keep1 & (F.col("_c2") <= F.col("budget")), F.lit("admit"))
            .otherwise(F.lit("left"))
        )

    decided_drop = ("robots_disallow", "robots_fetched", "budget", "_elig", "_c1", "_c2")

    # -- split_decided ---------------------------------------------------------
    @cached_property
    def is_admit(self):
        return F.col("_verdict") == "admit"

    @cached_property
    def is_left(self):
        return F.col("_verdict") == "left"

    @cached_property
    def is_blocked(self):
        return F.col("_verdict") == "blocked"

    @cached_property
    def debited(self):
        return self.is_admit & F.col("tokens").isNotNull()

    @cached_property
    def tokens_after(self):
        # tokens is a per-host constant on these rows; max() is the
        # deterministic pick
        return (F.max("tokens") - F.count(F.lit(1)).cast("double")).alias("tokens")

    @cached_property
    def debit_cols(self):
        return [F.col("host"), F.col("tokens")]

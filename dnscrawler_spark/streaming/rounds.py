"""The crawl driver: iterative DataFrame rounds with snapshot commits.

One round == one wave of the reference's resolve loop
(/root/reference/dnscrawler/dnsresolver_new.py:210-234), vectorized over
every in-flight URL at once (SURVEY §3.3):

    admitted    = politeness(frontier_r)               # X5/W2
    fetched     = admitted ⋈ pages on url_key          # S2
    facts       = explode(parse(fetched))              # P1-P7, A1/A5
    candidates  = dedup(edges)                         # A4 (two-struct)
    verdicts    = fused pass: seen ⊕ glue G ⊕ E        # J1/J2/J3/P11
    frontier_r+1= leftover ∪ retries ∪ new             # SO1/S7
    seen'       = seen ⊕ insert(fetched ∪ terminal ∪ blocked ∪ resolved)
    commit snapshot r+1 (atomic manifest)              # O2

Resume: ``CrawlEngine.resume()`` reads the latest committed manifest;
a crash between commits replays at most one round (idempotent: the
round recomputes from its input snapshot).
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from dnscrawler_spark.datagen import HOST_STATE_SCHEMA, HOST_TOKENS_SCHEMA
from dnscrawler_spark.operators import expand as X
from dnscrawler_spark.operators import politeness as pol
from dnscrawler_spark.operators import stratified as strat
from dnscrawler_spark.operators.frontier import (
    FRONTIER_COLS,
    FRONTIER_SCHEMA,
    N_SALTS_DEFAULT,
    RoundValues,
    repartition_by_host,
    seed_frontier,
    seed_frontier_from_df,
)
from dnscrawler_spark.operators.seen import SeenExprs, SeenFilter
from dnscrawler_spark.session import release_frames
from dnscrawler_spark.sources.snapshots import Snapshot, SnapshotStore

FACT_KINDS = [
    "url", "host", "tld", "sld",
    "ps_url", "ps_host", "ps_tld", "ps_sld",
    "hazardous", "ip_ns_records", "missing_ns_records",
    "nonhazardous", "robots_blocked", "glue_resolved", "qmin_requery",
    "budget_exceeded",
]

FAIL_CLASSES = ["hazardous", "ip_ns_records", "missing_ns_records"]


def _obs_get_timeout(obs: Observation, key: str, timeout_s: float = 120.0):
    """Read an Observation metric with a timeout.

    ``Observation.get`` blocks until the observed action fires. The
    wave-B skip reads the carry count right after an *eager*
    ``localCheckpoint()`` — the action has already completed, so the
    value is normally available immediately. If a pyspark version ever
    stopped firing CollectMetrics on checkpoint materialization, a bare
    ``get`` would hang run_round forever (ADVICE r4); this guard returns
    ``None`` instead, and the caller falls back to the always-correct
    path (run wave B unconditionally). Daemon thread, so a pathological
    never-firing observation can't block interpreter exit either.
    """
    import threading

    box: dict = {}

    def _read():
        try:
            box["v"] = obs.get[key]
        except Exception as exc:  # noqa: BLE001 — degrade, never hang
            box["e"] = exc

    t = threading.Thread(target=_read, daemon=True)
    t.start()
    t.join(timeout_s)
    if t.is_alive() or "e" in box:
        return None
    return box["v"]


@dataclass
class CrawlConfig:
    n_salts: int = N_SALTS_DEFAULT
    partitions: int | None = None  # shuffle width for the frontier
    max_rounds: int = 64
    verify_payloads: bool = True
    gen_seed: int = 42
    seen_shards: int = 32
    seen_bits: int = 1 << 20
    seen_buckets: int = 1 << 15
    # per-partition lineage of the seen/dedup pass is ALWAYS recorded
    # (free: it rides the fused pass's stats collect). This opt-in adds
    # the per-partition admitted-fetch breakdown, which costs one extra
    # cache-read job per round — off by default so the default round
    # runs exactly the fused-pass action + the snapshot writes
    # (VERDICT r2 #6).
    collect_lineage: bool = False
    # fetch stage: 'join' fetches from a materialized corpus table;
    # 'synthetic' fetches each URL as an outbound call (mapInPandas
    # regeneration — no corpus table, no join shuffle; the shape a real
    # network fetch stage has)
    fetch_mode: str = "join"
    px_scale: int = 1
    n_pages: int | None = None  # synthetic mode: URL-space size
    n_hosts: int | None = None
    # per-seed cumulative fetch budget (the deterministic analog of the
    # reference's per-seed wall-clock kill, run/run.py:59). Checked at
    # round granularity: a seed whose fetched count at round start is >=
    # the budget has ALL its pending frontier rows demoted to the
    # terminal 'budget_exceeded' class. None = unlimited (no overhead).
    seed_budget: int | None = None
    # two-wave zone-cut iteration (W3): the reference runs two waves
    # unconditionally (dnsresolver_new.py:210 `for i in range(2)`), so
    # two-wave is the DEFAULT (VERDICT r2 #4); carry-band discoveries
    # are fetched again within the same round against the remaining
    # politeness budget. Single-wave (False) remains available as the
    # leaner loop (roughly half the per-round plan size).
    two_wave: bool = True
    # pipelined writes: the two output-only tables (fetched, facts) are
    # written in background threads OVERLAPPED with the next round's
    # compute; the manifest commits when they land (flushed before the
    # next round's commit / by run() / by flush()). Durability lags one
    # round — a crash replays at most two rounds instead of one. All
    # metrics are observation-based and final before the round returns.
    pipeline_writes: bool = False
    # stratified (hot/cold) frontier (operators/stratified.py): politeness
    # ranks only the hot admission horizon; the backlog lives in
    # append-only cold deltas pulled on demand (deficit-driven, bucket-
    # pruned). Admission decisions are provably identical to classic /
    # the oracle; robots gating moves to enqueue time and the in-flight
    # cycle break (P11) runs through the fused ever-enqueued exact
    # filter E instead of a full-backlog union. The per-round cost
    # becomes O(horizon + new rows), not O(backlog) — the 10^10 path.
    stratified: bool = False
    replenish_chunk: int = 4  # pull chunk×ceil(burst) per deficit host
    cold_buckets: int = 64  # hbucket partitions for cold deltas
    cold_compact_every: int = 16  # compact when delta count exceeds this
    # token-delta compaction bound (the dynamic politeness state is
    # written as O(admitted hosts) per-round deltas, merged on read)
    state_compact_every: int = 16
    # stratified fast path: when the round's active-host count (known
    # free from the previous round's queue_state observation) is at most
    # this, the politeness policy is semi-join-PRUNED to the active hosts
    # and broadcast; above it (e.g. the all-hosts round 0 of a 10^10
    # crawl) the round falls back to a plain shuffle-hash join — the
    # host dimension itself is NEVER broadcast (VERDICT r2 #1)
    policy_broadcast_max: int = 200_000


class RoundExprs:
    """The round-invariant Column expressions :class:`CrawlEngine` plans
    with, each built on first use (the same contract as
    ``expand.ExpandExprs``: one instance per engine, never a module
    global, since a Column holds its session's JVM handle)."""

    def __init__(self):
        self.round_value = RoundValues()

    @cached_property
    def count_n(self):
        return F.count(F.lit(1)).alias("n")

    @cached_property
    def bad_n(self):
        return F.sum((~F.col("payload_ok")).cast("long")).alias("bad")

    @cached_property
    def is_hit(self):
        return F.col("is_hit")

    @cached_property
    def frontier_cols(self):
        return [F.col(c) for c in FRONTIER_COLS]

    @cached_property
    def miss_cols(self):
        return [*self.frontier_cols, F.col("qmin_fallback"), F.col("fail_code")]

    @cached_property
    def url_key(self):
        return F.col("url_key")

    @cached_property
    def host(self):
        return F.col("host")

    @cached_property
    def orig_url_key(self):
        return F.col("orig_url_key").alias("url_key")

    @cached_property
    def is_carry(self):
        return F.col("reason") == "carry"

    @cached_property
    def carry_n(self):
        # coalesce: SUM over an EMPTY frame is NULL, and a fired-with-NULL
        # read is indistinguishable from a never-fired one — without it a
        # zero-new-rows round (drained late rounds) maps to n_carry=-1
        # and the wave-B skip never fires
        return F.coalesce(F.sum(self.is_carry.cast("long")), F.lit(0)).alias("nc")

    @cached_property
    def qmin_fact_cols(self):
        return [F.col("seed"), F.col("orig_url").alias("url")]

    payload_cols = ("bytes", "out_edges", "glue_edges", "carry_edges")


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame | None,
        root: str,
        cfg: CrawlConfig | None = None,
    ):
        self.spark = spark
        self.cfg = cfg or CrawlConfig()
        self.store = SnapshotStore(root)
        self.root = root
        # pipelined-write state: (futures, snapshot, frames-to-unpersist,
        # seen-filter-to-release) of the newest uncommitted round
        self._pending = None
        self._write_pool: ThreadPoolExecutor | None = None
        if self.cfg.partitions is None:
            self.cfg.partitions = spark.sparkContext.defaultParallelism
        # round-invariant Column expressions, built once per engine
        self._x = X.ExpandExprs()
        self._pol = pol.PolitenessExprs()
        self._route = strat.RouteExprs(self.cfg.cold_buckets, self.cfg.replenish_chunk)
        self._ex = RoundExprs()
        self._seen = SeenExprs()
        if self.cfg.fetch_mode == "synthetic":
            if self.cfg.n_pages is None:
                raise ValueError("synthetic fetch needs cfg.n_pages")
            if self.cfg.n_hosts is None:
                from dnscrawler_spark.datagen import default_n_hosts

                self.cfg.n_hosts = default_n_hosts(self.cfg.n_pages)
            self.pages_keyed = None
        else:
            # key + cache the corpus once, pre-hashed on the join key: the
            # cached InMemoryRelation keeps its HashPartitioning(url_key),
            # so each round's fetch join shuffles only the admitted side
            self.pages_keyed = (
                X.prepare_pages(pages)
                .repartition(self.cfg.partitions, "url_key")
                .persist()
            )

    # -- lifecycle ----------------------------------------------------------
    def start(self, seed_urls: list[str] | DataFrame, host_state: DataFrame) -> Snapshot:
        """Round-0 snapshot: seeded frontier + initial host_state +
        empty seen/glue/facts. ``seed_urls`` may be a list (small runs,
        the reference's seed-file shape) or a DataFrame with a ``url``
        column (scale path — a 10^10-row seed set never sees the
        driver). A DataFrame seed set is consumed: it is unpersisted
        once round 0 is written or has failed."""
        cfg = self.cfg
        snap = Snapshot(snapshot_id="snap-000000", parent_id=None, round=0)
        try:
            if cfg.stratified:
                n_seeds = self._start_stratified(snap, seed_urls, host_state)
            else:
                n_seeds = self._start_classic(snap, seed_urls, host_state)
        finally:
            if isinstance(seed_urls, DataFrame):
                # the seed set is read by round 0's writes only
                seed_urls.unpersist()
        seen = SeenFilter(
            state_dir=os.path.join(self.root, "seen_state"),
            n_shards=cfg.seen_shards,
            n_bits=cfg.seen_bits,
            n_buckets=cfg.seen_buckets,
        )
        snap.seen = seen.to_manifest()
        # sharded glue-membership filter G (empty at start): the exact
        # replacement for an accumulated-glue table join (VERDICT r2 #2)
        snap.aux["glue"] = SeenFilter(
            state_dir=os.path.join(self.root, "glue_state"),
            n_shards=cfg.seen_shards,
            n_bits=cfg.seen_bits,
            n_buckets=cfg.seen_buckets,
        ).to_manifest()
        snap.metrics = {"n_frontier": n_seeds, "done": False}
        if cfg.stratified:
            # seeds all went cold; run_round uses this to skip the cold
            # machinery entirely once the backlog drains (absorbing:
            # route() only spills to cold while n_cold > 0)
            snap.metrics["n_cold_backlog"] = n_seeds
        self.store.commit(snap)
        return snap

    def _seed_frontier(self, seed_urls: list[str] | DataFrame) -> DataFrame:
        if isinstance(seed_urls, DataFrame):
            return seed_frontier_from_df(seed_urls, self.cfg.n_salts)
        return seed_frontier(self.spark, seed_urls, self.cfg.n_salts)

    def _start_classic(self, snap: Snapshot, seed_urls, host_state: DataFrame) -> int:
        """Round-0 tables of the classic frontier: every seed is queued;
        returns the seed count."""
        fr = self._seed_frontier(seed_urls)
        obs = None
        if isinstance(seed_urls, DataFrame):
            obs = Observation("seed_n")
            fr = fr.observe(obs, self._ex.count_n)
        with ThreadPoolExecutor(max_workers=2) as ex:
            fut_hs = ex.submit(self.store.write_table, host_state, 0, "host_state")
            snap.tables["frontier"] = self.store.write_table(fr, 0, "frontier")
            snap.tables["host_state"] = fut_hs.result()
        snap.aux = {"token_paths": []}
        return len(seed_urls) if obs is None else int(obs.get["n"])

    def _start_stratified(self, snap: Snapshot, seed_urls, host_state: DataFrame) -> int:
        """Round-0 tables of the stratified frontier; returns the seed
        count.

        Seeds go to COLD (W = -inf): a 10^10-row seed set is never
        globally sorted — round 1 pulls per-host chunks on demand.
        Robots gating happens here (at enqueue); blocked seeds ride the
        pending_blocked table into round 0's blocked flow, so they are
        facts+seen BEFORE round 0's candidates are probed — the oracle's
        round-0 robots phase, exactly. The policy side is pruned to
        ROBOTS-ACTIVE hosts (only they can block) and shuffle-hash-joined
        — a 10^10-row seed set over 10^8 hosts must never see a
        host-dimension broadcast (VERDICT r2 #1)."""
        cfg = self.cfg
        fr = self._seed_frontier(seed_urls)
        robots_pol = pol.robots_policy(host_state, self._pol)
        frp = fr.join(robots_pol.hint("shuffle_hash"), "host", "left")
        bp = self._pol.block_pred
        pending_blocked = frp.filter(bp).select(*FRONTIER_COLS)
        clean = frp.filter(~bp).select(*FRONTIER_COLS).persist()
        try:
            cold0 = clean.select(*self._route.frontier_cols, self._route.hbucket)
            obs_cold = Observation("seed_cold_n")
            cold0 = cold0.observe(obs_cold, self._ex.count_n)
            # the cold write runs FIRST and alone: it materializes the
            # `clean` cache every other round-0 job reads (a concurrent
            # launch would race the cache and compute `clean` N times —
            # the r5 fork-storm failure mode). The remaining writes are
            # independent of each other, so they run overlapped in a
            # small pool (guide §2.6: actions are only sequential because
            # the driver calls them sequentially) — start() previously
            # paid ~6 serialized job latencies here.
            cold_path = self.store.write_table(
                cold0, 0, "frontier_cold", partition_by=["hbucket"]
            )
            qs0 = strat.initial_queue_state(clean, host_state, cfg.replenish_chunk)
            obs_qs0 = Observation("seed_qs")
            qs0 = qs0.observe(obs_qs0, *strat.deficit_obs_exprs(cfg.cold_buckets))
            n_small = max(1, (cfg.partitions or 8) // 8)
            enq0 = SeenFilter(
                state_dir=os.path.join(self.root, "enq_state"),
                n_shards=cfg.seen_shards,
                n_bits=cfg.seen_bits,
                n_buckets=cfg.seen_buckets,
            )
            with ThreadPoolExecutor(max_workers=4) as ex:
                fut_qs = ex.submit(
                    self.store.write_table, qs0.coalesce(n_small), 0, "queue_state"
                )
                fut_fr = ex.submit(
                    self.store.write_table,
                    self.spark.createDataFrame([], FRONTIER_SCHEMA), 0, "frontier",
                )
                fut_pb = ex.submit(
                    self.store.write_table, pending_blocked, 0, "pending_blocked"
                )
                fut_hs = ex.submit(
                    self.store.write_table, host_state, 0, "host_state"
                )
                enq = enq0.insert(clean.select("url_key"), 0)
                snap.tables["queue_state"] = fut_qs.result()
                snap.tables["frontier"] = fut_fr.result()
                snap.tables["pending_blocked"] = fut_pb.result()
                snap.tables["host_state"] = fut_hs.result()
        finally:
            clean.unpersist()
        n_seeds = int(obs_cold.get["n"])
        snap.aux = {
            "cold_paths": [cold_path] if n_seeds else [],
            "enqueued": enq.to_manifest(),
            "deficit_buckets": sorted(
                int(b) for b in (obs_qs0.get["dbuckets"] or [])
            ),
            "n_active_hosts": int(obs_qs0.get["nactive"] or 0),
            "token_paths": [],
        }
        return n_seeds

    def resume(self) -> Snapshot | None:
        return self.store.latest()

    def _merged_tokens(self, paths: list[str]) -> DataFrame:
        """Merge-on-read of the dynamic token deltas: latest row per host
        wins (each delta holds one row per host debited that round).
        Small by construction — O(hosts admitted since last compaction)."""
        df = self.spark.read.schema(HOST_TOKENS_SCHEMA).parquet(*paths)
        return df.groupBy("host").agg(
            F.max_by("tokens", "asof_round").alias("tokens"),
            F.max("asof_round").alias("asof_round"),
        )

    def run(self, snap: Snapshot | None = None) -> Snapshot:
        """Drive rounds until the frontier drains or max_rounds."""
        snap = snap or self.resume()
        if snap is None:
            raise ValueError("no snapshot to run from — call start() first")
        while not snap.metrics.get("done") and snap.round < self.cfg.max_rounds:
            snap = self.run_round(snap)
        self.flush()
        return snap

    def flush(self) -> None:
        """Wait for any pipelined writes and commit the pending manifest.
        No-op unless cfg.pipeline_writes produced pending state. Callers
        driving run_round() manually with pipelining on must flush before
        handing the store to another engine (resume reads manifests)."""
        if not self._pending:
            return
        futs, pnxt, persisted, checkpoints, pseen = self._pending
        self._pending = None
        for name, fut in futs.items():
            pnxt.tables[name] = fut.result()
        self.store.commit(pnxt)
        release_frames(persisted, checkpoints)
        pseen.release()

    # -- one round ------------------------------------------------------------
    def run_round(self, snap: Snapshot) -> Snapshot:
        """One crawl wave. All round metrics piggyback on the snapshot
        writes via the Observation API (CollectMetrics nodes) — the round
        runs NO standalone count() jobs, so per-round fixed cost stays
        flat as parallelism grows (the north_rule scaling criterion)."""
        spark, cfg, store = self.spark, self.cfg, self.store
        r = snap.round
        t0 = time.monotonic()
        xx, ex = self._x, self._ex
        # every frame this round persist()s, unpersisted once the round's
        # writes (pipelined ones included) have read it
        cached: list[DataFrame] = []

        def cache(df: DataFrame) -> DataFrame:
            df = df.persist()
            cached.append(df)
            return df

        frontier = store.read_table(spark, snap, "frontier", FRONTIER_SCHEMA)
        # host_state is the STATIC policy dimension — written once at
        # start(), referenced (never rewritten) by every snapshot. The
        # dynamic token-bucket state is merged on read from per-round
        # deltas (O(admitted hosts) each) with periodic compaction
        # (VERDICT r2 #1/#9).
        host_state = store.read_table(spark, snap, "host_state", HOST_STATE_SCHEMA)
        token_paths = list(snap.aux.get("token_paths", []))
        if len(token_paths) > cfg.state_compact_every:
            token_paths = [
                store.write_table(
                    self._merged_tokens(token_paths).coalesce(1),
                    r,
                    "host_tokens_base",
                )
            ]
        tokens = self._merged_tokens(token_paths) if token_paths else None
        seen = SeenFilter.from_manifest(snap.seen)
        # glue membership is a sharded exact filter (VERDICT r2 #2):
        # O(candidates) probes + O(new glue) inserts per round inside the
        # fused pass — never an O(glue) broadcast/distinct/rewrite. The
        # per-round "glue" table is an append-only audit delta of the
        # round's discovered (url_key, url) pairs.
        glue_f = SeenFilter.from_manifest(snap.aux["glue"])

        # per-seed budget state (run/run.py:59 analog): the exhausted-seed
        # dimension is read up front — replenish pulls and cold liveness
        # must exclude dead seeds' rows (stratified). Tiny by definition.
        over_budget = None
        seed_state = None
        exhausted = None
        if cfg.seed_budget is not None:
            seed_state = store.read_table(spark, snap, "seed_state")
            if seed_state is None:
                seed_state = spark.createDataFrame([], "seed string, n_fetched long")
            exhausted = cache(
                seed_state.filter(F.col("n_fetched") >= cfg.seed_budget).select("seed")
            )

        # stratified frontier: `frontier` is the HOT horizon only; pull
        # per-host chunks from cold for any host that could under-admit
        # (deficit-driven replenish, bucket-pruned cold scan), then rank
        # hot exactly as classic ranks the whole backlog — provably the
        # same admission set (operators/stratified.py invariants).
        enq = None
        qs = None
        cold_paths: list[str] = []
        # cold_active: does ANY host still have live cold rows? Exact
        # (summed from last round's queue_state observation). Once false
        # it stays false — route() only spills while n_cold > 0 — so the
        # round drops ALL cold machinery (no replenish job, no routing
        # joins, no cold/queue_state writes) and runs at classic cost.
        cold_active = bool(snap.metrics.get("n_cold_backlog", 1)) if cfg.stratified else False
        if cfg.stratified:
            enq = SeenFilter.from_manifest(snap.aux["enqueued"])
        if cold_active:
            qs = store.read_table(spark, snap, "queue_state", strat.QUEUE_STATE_SCHEMA)
            cold_paths = list(snap.aux.get("cold_paths", []))
            if len(cold_paths) > cfg.cold_compact_every:
                # bound delta-file fan-in: fold all deltas into one fresh
                # base (live rows only); idempotent on crash-replay
                base = store.write_table(
                    strat.compact_cold(spark, qs, cold_paths, exhausted),
                    r, "frontier_cold_base", partition_by=["hbucket"],
                )
                cold_paths = [base]
            frontier, qs, pulled = strat.replenish(
                spark, frontier, qs, cold_paths, cfg.cold_buckets,
                snap.aux.get("deficit_buckets", []),
                dead_seeds=exhausted,
            )
            cached += pulled

        # per-seed budget (run/run.py:59 analog): demote every frontier
        # row of an exhausted seed before politeness. Broadcast-semi on
        # the tiny exhausted-seed dim; zero overhead when budget unset.
        # Hot rows (incl. this round's replenish pulls) demote here; in
        # stratified mode the COLD backlog of a newly exhausted seed is
        # demoted by a one-time exhaustion-round sweep below, and rows
        # discovered after exhaustion ride the pending_demote table into
        # the next round — together these reproduce the oracle's
        # whole-frontier round-start demotion EXACTLY, without touching
        # cold on budget-quiet rounds.
        live_dead = None
        if cfg.seed_budget is not None:
            over_budget = frontier.join(
                F.broadcast(exhausted), "seed", "left_semi"
            )
            frontier = frontier.join(F.broadcast(exhausted), "seed", "left_anti")
            if cfg.stratified:
                pd_tbl = store.read_table(
                    spark, snap, "pending_demote", FRONTIER_SCHEMA
                )
                if pd_tbl is not None:
                    over_budget = over_budget.unionByName(pd_tbl)
            if cold_active and snap.aux.get("n_exhausted", 0) > snap.aux.get(
                "n_swept", 0
            ):
                # exhaustion-round cold sweep (amortized-rare: fires only
                # on rounds where some seed newly crossed its budget):
                # demote every still-live cold row of the newly exhausted
                # seeds — they become dead in place (liveness excludes
                # dead seeds from here on) and n_cold is debited exactly.
                swept_tbl = store.read_table(spark, snap, "swept_seeds")
                newly = (
                    exhausted
                    if swept_tbl is None
                    else exhausted.join(swept_tbl, "seed", "left_anti")
                )
                live_dead = cache(
                    strat.read_cold(spark, cold_paths)
                    .drop("hbucket")
                    .join(F.broadcast(newly), "seed", "left_semi")
                    .join(qs.select("host", "w"), "host", "left")
                    .filter(strat.live_pred(F.col("w")))
                    .select(*FRONTIER_COLS)
                )
                over_budget = over_budget.unionByName(live_dead)
                sweep_counts = live_dead.groupBy("host").agg(
                    F.count(F.lit(1)).alias("_n_dead")
                )
                qs = (
                    qs.join(sweep_counts, "host", "left")
                    .withColumn(
                        "n_cold",
                        F.col("n_cold")
                        - F.coalesce(F.col("_n_dead"), F.lit(0)),
                    )
                    .drop("_n_dead")
                )
            over_budget = cache(over_budget)

        frontier = repartition_by_host(frontier)
        # Politeness policy join strategy (VERDICT r2 #1 — the host
        # dimension is NEVER broadcast whole):
        # - stratified with a small active-host set (known free from the
        #   previous round's queue_state observation): semi-join-prune
        #   the policy to the active hosts, then broadcast the pruned
        #   (horizon-sized) slice;
        # - otherwise (classic, drained, or an all-hosts round like
        #   round 0 of a 10^10 crawl): plain shuffle-hash join — the
        #   frontier side is already hash-partitioned.
        n_active = snap.aux.get("n_active_hosts") if cfg.stratified else None
        if (
            cold_active
            and n_active is not None
            and n_active <= cfg.policy_broadcast_max
        ):
            active = qs.filter(F.col("deficit") | (F.col("n_hot") > 0)).select("host")
            pruned = host_state.join(F.broadcast(active), "host", "left_semi")
            prepared = F.broadcast(pol.prepare_policy(pruned, tokens, r, self._pol))
        else:
            prepared = pol.prepare_policy(
                host_state, tokens, r, self._pol
            ).hint("shuffle_hash")
        # ONE eager checkpoint pins the whole politeness decision (r6,
        # guide §2.4/§5): admitted/leftover/blocked/debits become plain
        # filters/aggregations of an in-memory LEAF, so no downstream
        # job (fetch, fused pass, facts, frontier write) re-plans — or
        # re-builds the broadcasts of — the frontier/policy lineage.
        # Replaces three persists whose caches each still carried the
        # full politeness plan into every consumer.
        decided = pol.admit_decided(frontier, prepared, self._pol).localCheckpoint()
        admitted, leftover, blocked, debits = pol.split_decided(decided, r, self._pol)
        # debits still has 2 consumers in a two-wave round (wave-B
        # apply_debits broadcast + the host_tokens delta write) — the
        # aggregation over the leaf is cheap but the broadcast build is
        # not free; keep it cached. admitted/leftover/blocked are plain
        # filters of the leaf and stay uncached, as do the fetch outputs
        # below: a cache of a filter over an in-memory leaf costs more
        # (cache planning, and its plan rendered inside every consumer's
        # plan) than the filter it saves
        debits = cache(debits)
        if cfg.stratified:
            # robots-blocked seeds parked by start() join round 0's
            # blocked flow (facts + seen BEFORE this round's candidates
            # are probed — the oracle's round-0 robots phase, exactly).
            # All other rows were robots-gated at enqueue, so the
            # politeness robots branch is empty by construction.
            pb = store.read_table(spark, snap, "pending_blocked", FRONTIER_SCHEMA)
            if pb is not None:
                blocked = blocked.unionByName(pb)
        obs_blocked = Observation(f"blocked_r{r}")
        blocked = blocked.observe(obs_blocked, ex.count_n)

        def run_fetch(adm, obs):
            """Fetch + verify one admitted wave; returns (fetched with the
            count/bad observation attached, misses, the enriched
            checkpoint leaf)."""
            if cfg.fetch_mode == "synthetic":
                # fetch + payload verification fused: bytes stay in the
                # stage; the enriched frame is materialized ONCE so the
                # hit/miss split reads the leaf instead of re-running the
                # fetch per branch. Explicit fan-out first: AQE sizes
                # partitions by BYTES, and a frontier row is ~200 B while
                # fetching it costs ~1 ms of Python — size-based coalescing
                # would run the whole fetch on 1-2 cores. Fixed-width
                # repartition is exempt from AQE coalescing, guaranteeing
                # one fetch slice per task slot.
                fan_out = adm.repartition(cfg.partitions * 2)
                # localCheckpoint (eager), not persist: the fetch is the
                # round's expensive Python stage and EVERY downstream job
                # re-plans through it (seen_keys unions, expansion, facts,
                # fetched write, glue write). Persisted, the four seen_keys
                # branches raced to materialize it concurrently inside the
                # fused pass (measured: the fetch UDF ran 3-4x in round 0's
                # fused-pass job) and the pipelined writes re-ran it when
                # cache substitution failed on the deep facts plan. The
                # eager checkpoint runs the fetch exactly once, right here,
                # and hands every consumer a leaf. Recovery at cluster
                # scale is round-granular via the snapshot store (resume),
                # not task-lineage replay — same tradeoff as the wave
                # boundary checkpoint below.
                enr = X.fetch_synthetic(
                    fan_out, cfg.gen_seed, cfg.n_pages, cfg.n_hosts, cfg.px_scale,
                    verify=cfg.verify_payloads,
                ).localCheckpoint()
                f = enr.filter(ex.is_hit).drop("is_hit", "qmin_fallback", "fail_code")
                m = enr.filter(~ex.is_hit).select(*ex.miss_cols)
                return f.observe(obs, ex.count_n, ex.bad_n), m, enr
            # same materialization boundary as the synthetic path: the
            # corpus join runs exactly once and every consumer (hit/miss
            # split, seen_keys unions, facts, writes) plans from the
            # in-memory leaf instead of re-running the join.
            enr = X.fetch(adm, self.pages_keyed).localCheckpoint()
            f = enr.filter(F.col("is_hit")).drop("is_hit")
            m = enr.filter(~F.col("is_hit")).select(*FRONTIER_COLS)
            if not cfg.verify_payloads:
                return f.observe(obs, ex.count_n, F.lit(0).alias("bad")), m, enr
            # the payload check is a Python stage over the leaf: cache it
            # once rather than re-run it per consumer
            f = X.verify_payloads(f, cfg.gen_seed, cfg.px_scale)
            return cache(f.observe(obs, ex.count_n, ex.bad_n)), m, enr

        obs_fetched = Observation(f"fetched_r{r}")
        fetched, misses, enriched = run_fetch(admitted, obs_fetched)
        # join mode derives the miss classes' response code and qmin
        # fallback in pandas UDFs: cache those two frames once. In
        # synthetic mode the fetch stage already computed both, and every
        # miss class is a plain filter of the fetch leaf.
        udf_misses = cfg.fetch_mode != "synthetic"

        def classify(misses, obs_term, obs_qmin):
            """(retries, terminal, qmin) of one wave's misses, counted."""
            retries, terminal, qmin = X.classify_misses(misses, cfg.gen_seed, xx)
            terminal = terminal.observe(obs_term, ex.count_n)
            qmin = qmin.observe(obs_qmin, ex.count_n)
            if udf_misses:
                terminal, qmin = cache(terminal), cache(qmin)
            return retries, terminal, qmin

        # count observations attach to the source frames, NOT the facts
        # write: they fire during the fused pass (whose seen_keys union
        # reads these frames), so every metric is known before any
        # output-table write — a requirement for pipelined writes
        obs_term = Observation(f"term_r{r}")
        obs_qmin = Observation(f"qmin_r{r}")
        retries, terminal, qmin = classify(misses, obs_term, obs_qmin)

        glue_new = X.new_glue(fetched, xx)
        candidates = X.expand_candidates(
            fetched, cfg.n_salts, extra_edges=qmin, exprs=xx,
        )

        seen_keys = (
            fetched.select(ex.url_key)
            .union(terminal.select(ex.url_key))
            .union(blocked.select(ex.url_key))
            # the minimized-form url itself is done (requery enqueued)
            .union(qmin.select(ex.orig_url_key))
        )
        if over_budget is not None:
            seen_keys = seen_keys.union(over_budget.select("url_key"))
        # ONE fused applyInPandas pass: per shard, insert this round's
        # keys (npz + exact-key tier rewrite) then probe the expansion
        # candidates against the updated shard. Glue-hit candidates are
        # resolve rows (the glue short-circuit, dnsresolver_new.py:
        # 125-126): an unseen glue hit is resolved from the glue payload
        # — facts now, seen now, never fetched. The stats collect is also
        # the action that materializes the probe-candidate cache and fires
        # the fetched/blocked/terminal/qmin count observations.

        def with_will_block(cand):
            """Robots verdict at enqueue time (stratified): same predicate
            politeness applies, computed once per candidate — blocked
            candidates become terminal inside the fused pass and never
            enter the frontier. The join is against the robots-ACTIVE
            policy slice only (hosts without disallow rules can never
            block — null-safe predicate), shuffle-hash: candidate hosts
            are unknown in advance, and a host-dimension broadcast is
            exactly the 10^8-host scale-killer (VERDICT r2 #1)."""
            robots_pol = pol.robots_policy(host_state, self._pol).hint("shuffle_hash")
            return (
                cand.join(robots_pol, "host", "left")
                .withColumn("will_block", self._pol.block_pred)
                .drop("robots_disallow", "robots_fetched")
            )

        # the probe frame (candidates + robots verdict in stratified
        # mode) is read by the fused pass AND by every part's verdict
        # join afterwards — persist it so the expansion shuffle and the
        # robots join run once per round
        probe_cand = cache(
            with_will_block(candidates) if cfg.stratified else candidates
        )
        blocked_cand = None
        enq_final = None
        if cfg.stratified:
            # the fused pass also probes/updates the ever-enqueued filter
            # E: the in-flight cycle break (P11) without touching the
            # backlog — unseen ∧ enqueued ⇔ in-flight, since rows only
            # leave the frontier by becoming seen
            seen2, glue2_f, enq2, parts = seen.insert_and_probe(
                seen_keys, probe_cand, r,
                glue=glue_f, glue_insert_keys=glue_new,
                glue_eligible_col="glue_eligible",
                enqueue=enq, block_col="will_block", exprs=self._seen,
            )
            glue_resolved = X.finalize_candidates(parts["resolved"], r + 1, xx)
            nonhaz = X.finalize_candidates(parts["nonhaz"], r + 1, xx)
            new_rows = X.finalize_candidates(parts["new"], r + 1, xx)
            # blocked-at-enqueue counts ride the fused pass's stat rows
            # (an Observation here would block on the pipelined facts
            # write, serializing the write overlap)
            blocked_cand = X.finalize_candidates(parts["blocked"], r + 1, xx)
            enq_final = enq2
        else:
            seen2, glue2_f, _, parts = seen.insert_and_probe(
                seen_keys, probe_cand, r,
                glue=glue_f, glue_insert_keys=glue_new,
                glue_eligible_col="glue_eligible", exprs=self._seen,
            )
            unseen = X.finalize_candidates(parts["unseen"], r + 1, xx)
            glue_resolved = X.finalize_candidates(parts["resolved"], r + 1, xx)
            inflight = leftover.select("url_key").union(retries.select("url_key"))
            nonhaz = unseen.join(inflight, "url_key", "left_semi")
            new_rows = unseen.join(inflight, "url_key", "left_anti")

        # ---- wave B (W3, dnsresolver_new.py:210 `for i in range(2)`):
        # the freshly learned zone-cut set (carry-band discoveries) is
        # fetched again within the SAME round against the remaining
        # politeness budget. Opt-in (cfg.two_wave); wave-A-only otherwise.
        wave_b = None
        seen_final, glue_final_f = seen2, glue2_f
        if cfg.two_wave:
            # localCheckpoint = the wave boundary: materializes the wave-A
            # verdicts AND truncates their lineage, so wave-B plans start
            # from a leaf instead of stacking on the whole wave-A tree
            # (unchecked, the doubled plan OOMs the driver's plan-string
            # rendering and slows planning quadratically over rounds)
            obs_carry = Observation(f"carry_r{r}")
            new_rows = new_rows.observe(obs_carry, ex.carry_n).localCheckpoint()
            carry_rows = new_rows.filter(ex.is_carry)
            rest = new_rows.filter(~ex.is_carry)
            # timeout-guarded read: None (observation never fired) maps to
            # -1 so the skip below does NOT fire and wave B runs — the
            # always-correct path (ADVICE r4)
            nc_val = _obs_get_timeout(obs_carry, "nc")
            n_carry = -1 if nc_val is None else int(nc_val or 0)
        if cfg.two_wave and n_carry == 0:
            # drained-carry fast path (VERDICT r3 #8): with ZERO carry-band
            # discoveries, wave B would admit nothing — every wave-B frame
            # is empty and the merge paths below reduce to the single-wave
            # ones, so the entire wave-B machinery (politeness pass, fetch,
            # fused seen pass, ~half the round's stages) is skipped with
            # bit-identical results. The carry count rides the wave-boundary
            # localCheckpoint's Observation (fires during materialization),
            # so the decision costs ZERO extra jobs; at 10^10 scale late
            # rounds are carry-sparse, so this halves their fixed cost too.
            pass
        elif cfg.two_wave:
            # wave-B policy: carry targets can be hosts outside this
            # round's active set, so the prepared view starts from the
            # full dimension with wave-A debits overriding the token
            # balances (no refill between waves). The carry band is
            # materialized (it filters the wave-boundary checkpoint) and
            # its size is KNOWN (n_carry rode the checkpoint's
            # Observation): when it is horizon-sized, semi-join-prune the
            # policy to the carry hosts and broadcast the pruned slice —
            # one host-dimension scan, no shuffle of the dimension, same
            # admissions (absent hosts take the same default-budget path
            # either way). Past the threshold, shuffle-hash as before —
            # the host dimension itself is never broadcast whole
            # (VERDICT r2 #1).
            if 0 < n_carry <= cfg.policy_broadcast_max:
                carry_hosts = carry_rows.select(ex.host).distinct()
                pruned_pol = host_state.join(
                    F.broadcast(carry_hosts), "host", "left_semi"
                )
                prepared_b = F.broadcast(
                    pol.apply_debits(
                        pol.prepare_policy(pruned_pol, tokens, r, self._pol), debits
                    )
                )
            else:
                prepared_b = pol.apply_debits(
                    pol.prepare_policy(host_state, tokens, r, self._pol), debits
                ).hint("shuffle_hash")
            # same decision-leaf checkpoint as wave A (r6)
            decided_b = pol.admit_decided(
                repartition_by_host(carry_rows), prepared_b, self._pol
            ).localCheckpoint()
            admitted_b, leftover_b, blocked_b, debits_b = pol.split_decided(
                decided_b, r, self._pol
            )
            obs_fetched_b = Observation(f"fetched_b_r{r}")
            fetched_b, misses_b, enriched_b = run_fetch(admitted_b, obs_fetched_b)
            obs_term_b = Observation(f"term_b_r{r}")
            obs_qmin_b = Observation(f"qmin_b_r{r}")
            retries_b, terminal_b, qmin_b = classify(misses_b, obs_term_b, obs_qmin_b)
            obs_blocked_b = Observation(f"blocked_b_r{r}")
            blocked_b = blocked_b.observe(obs_blocked_b, ex.count_n)
            glue_new_b = X.new_glue(fetched_b, xx)
            candidates_b = X.expand_candidates(
                fetched_b, cfg.n_salts, extra_edges=qmin_b, exprs=xx,
            )
            probe_cand_b = cache(
                with_will_block(candidates_b) if cfg.stratified else candidates_b
            )
            seen_keys_b = (
                fetched_b.select(ex.url_key)
                .union(terminal_b.select(ex.url_key))
                .union(blocked_b.select(ex.url_key))
                .union(qmin_b.select(ex.orig_url_key))
            )
            blocked_cand_b = None
            if cfg.stratified:
                # E already holds wave-A's fresh rows (inserted in the
                # wave-A pass), so the exact in-flight set here is the
                # oracle's inflight2 = inflight ∪ rest ∪ leftover_b ∪
                # retries_b — no unions needed. G likewise already holds
                # wave-A's glue; wave-B's discoveries insert here.
                seen_final, glue_final_f, enq_b, parts_b = seen2.insert_and_probe(
                    seen_keys_b, probe_cand_b, r, tag="-b",
                    glue=glue2_f, glue_insert_keys=glue_new_b,
                    glue_eligible_col="glue_eligible",
                    enqueue=enq2, block_col="will_block", exprs=self._seen,
                )
                glue_resolved_b = X.finalize_candidates(parts_b["resolved"], r + 1, xx)
                nonhaz_b = X.finalize_candidates(parts_b["nonhaz"], r + 1, xx)
                new_b = X.finalize_candidates(parts_b["new"], r + 1, xx)
                blocked_cand_b = X.finalize_candidates(parts_b["blocked"], r + 1, xx)
                enq_final = enq_b
            else:
                seen_final, glue_final_f, _, parts_b = seen2.insert_and_probe(
                    seen_keys_b, probe_cand_b, r, tag="-b",
                    glue=glue2_f, glue_insert_keys=glue_new_b,
                    glue_eligible_col="glue_eligible", exprs=self._seen,
                )
                unseen_b = X.finalize_candidates(parts_b["unseen"], r + 1, xx)
                glue_resolved_b = X.finalize_candidates(parts_b["resolved"], r + 1, xx)
                inflight2 = (
                    inflight.union(rest.select("url_key"))
                    .union(leftover_b.select("url_key"))
                    .union(retries_b.select("url_key"))
                )
                nonhaz_b = unseen_b.join(inflight2, "url_key", "left_semi")
                new_b = unseen_b.join(inflight2, "url_key", "left_anti")
            wave_b = {
                "decided": decided_b,
                "admitted": admitted_b, "leftover": leftover_b,
                "blocked": blocked_b, "fetched": fetched_b, "debits": debits_b,
                "retries": retries_b, "terminal": terminal_b,
                "qmin": qmin_b, "glue_resolved": glue_resolved_b,
                "nonhaz": nonhaz_b, "new": new_b, "enriched": enriched_b,
                "blocked_cand": blocked_cand_b,
                "obs_fetched": obs_fetched_b, "obs_term": obs_term_b,
                "obs_qmin": obs_qmin_b, "obs_blocked": obs_blocked_b,
            }

        # per-branch observations all fire during the single frontier write
        next_round = ex.round_value(r + 1, "host").alias("round")
        bumped_cols = [
            next_round if name == "round" else col
            for name, col in zip(FRONTIER_COLS, ex.frontier_cols)
        ]

        def bump(df, obs):
            return df.select(*bumped_cols).observe(obs, ex.count_n)

        if wave_b is None:
            branches = [("left", leftover), ("retry", retries), ("new", new_rows)]
        else:
            branches = [
                ("left", leftover), ("retry", retries), ("rest", rest),
                ("left_b", wave_b["leftover"]), ("retry_b", wave_b["retries"]),
                ("new_b", wave_b["new"]),
            ]
        branch_obs = {name: Observation(f"{name}_r{r}") for name, _ in branches}
        frontier2 = None
        for name, df in branches:
            piece = bump(df, branch_obs[name])
            frontier2 = piece if frontier2 is None else frontier2.union(piece)
        # the union spans every branch's cached partitions (32-34 at
        # local[4]); folded narrow to cfg.partitions, the routing join and
        # the hot / cold-delta / queue_state writes run cfg.partitions
        # tasks, and a cold delta holds at most cfg.partitions files per
        # hbucket
        frontier2 = frontier2.coalesce(cfg.partitions)

        def plan_facts() -> DataFrame:
            """The round's facts table, planned by the thread that writes
            it: the largest plan of the round (~20 DataFrame calls), read
            by that write alone, so its planning stays off the round's
            critical path."""
            # facts assembly: same-shape branches from the two waves are
            # UNIONED FIRST so each fact machine (the PSL suffix join for
            # glue-resolved rows especially — distinct + broadcast-join +
            # hash-agg + joinback, several stages per invocation) runs once
            # per round, not once per wave. At fixture scale the facts job is
            # pure per-stage latency, and halving its stage count is what
            # keeps the two-wave default's probe walls sane.
            if wave_b is None:
                fetched_all = fetched
                glue_res_all = glue_resolved
                terminal_all = terminal
                nonhaz_all = nonhaz
                blocked_all = blocked
                qmin_all = qmin
            else:
                fetched_all = fetched.unionByName(wave_b["fetched"])
                glue_res_all = glue_resolved.unionByName(wave_b["glue_resolved"])
                terminal_all = terminal.unionByName(wave_b["terminal"])
                nonhaz_all = nonhaz.unionByName(wave_b["nonhaz"])
                blocked_all = blocked.unionByName(wave_b["blocked"])
                qmin_all = qmin.unionByName(wave_b["qmin"])
            if blocked_cand is not None:
                # robots gating at enqueue (stratified): candidate-time blocks
                blocked_all = blocked_all.unionByName(blocked_cand.select(*FRONTIER_COLS))
            if wave_b is not None and wave_b["blocked_cand"] is not None:
                blocked_all = blocked_all.unionByName(
                    wave_b["blocked_cand"].select(*FRONTIER_COLS)
                )
            facts = (
                X.fetched_facts(fetched_all, r, xx)
                .union(X.fetched_facts(glue_res_all, r, xx))  # glue payload facts
                .union(X.simple_facts(glue_res_all, "glue_resolved", r, xx))
                .union(X.failure_facts(terminal_all, r, xx))
                .union(X.simple_facts(nonhaz_all, "nonhazardous", r, xx))
                .union(X.simple_facts(blocked_all, "robots_blocked", r, xx))
                .union(
                    X.simple_facts(
                        qmin_all.select(*ex.qmin_fact_cols), "qmin_requery", r, xx
                    )
                )
            )
            if over_budget is not None:
                facts = facts.union(X.simple_facts(over_budget, "budget_exceeded", r, xx))
            # the facts union fans out to (branches × their cached partition
            # counts) tiny write tasks otherwise (80 observed at fixture
            # scale); coalesce is narrow — it folds the union into
            # cfg.partitions write tasks that read the persisted parents in
            # place, costing nothing at cluster scale where cfg.partitions
            # is the cluster width
            return facts.coalesce(cfg.partitions)

        def write_facts() -> str:
            return store.write_table(plan_facts(), r + 1, "facts")

        # ---- parallel snapshot writes ---------------------------------------
        nxt = Snapshot(
            snapshot_id=f"snap-{r + 1:06d}",
            parent_id=snap.snapshot_id,
            round=r + 1,
        )
        fetched_slim = fetched.drop(*ex.payload_cols)
        if wave_b is not None:
            fetched_slim = fetched_slim.unionByName(wave_b["fetched"].drop(*ex.payload_cols))
        # dimension-sized tables get few output files (a 31k-row table
        # scattered over 64 shuffle partitions costs 64 task launches +
        # 64 file commits per round, and 64 footer reads next round)
        n_small = max(1, cfg.partitions // 8)
        # dynamic politeness state: ONE per-round delta of O(admitted
        # hosts) post-debit token rows (VERDICT r2 #9) — the static
        # host_state table is referenced below, never rewritten. With
        # two waves, a host debited in both keeps the wave-B row.
        if wave_b is None:
            debits_final = debits
        else:
            debits_final = debits.join(
                wave_b["debits"], "host", "left_anti"
            ).unionByName(wave_b["debits"])
        phase_a = {
            "host_tokens": debits_final.coalesce(1),
            # append-only glue AUDIT delta: only this round's discovered
            # (url_key, url) pairs — never the accumulated glue set
            # (VERDICT r2 #2); exact membership lives in the sharded
            # glue filter G (manifest in aux["glue"])
            "glue": (
                glue_new if wave_b is None else glue_new.unionByName(glue_new_b)
            ).coalesce(n_small),
            # same narrow fold as facts: the two-wave union otherwise
            # doubles the write task count for a round-sized table
            "fetched": fetched_slim.coalesce(cfg.partitions),
        }
        obs_seed = None
        obs_pending = None
        sweep_ran = live_dead is not None
        if cfg.seed_budget is not None:
            # cumulative per-seed fetch counts (budget state for the NEXT
            # round's exhaustion check — round-granular by design). The
            # exhausted-seed count rides the write's Observation, so the
            # next round knows whether a cold sweep is due with no extra
            # job.
            fetched_seeds = fetched.select("seed")
            if wave_b is not None:
                fetched_seeds = fetched_seeds.union(wave_b["fetched"].select("seed"))
            seed_state2 = (
                seed_state.unionByName(
                    fetched_seeds.groupBy("seed").agg(
                        F.count(F.lit(1)).cast("long").alias("n_fetched")
                    )
                )
                .groupBy("seed")
                .agg(F.sum("n_fetched").alias("n_fetched"))
            )
            obs_seed = Observation(f"seed_r{r}")
            seed_state2 = seed_state2.observe(
                obs_seed,
                F.sum(
                    (F.col("n_fetched") >= F.lit(cfg.seed_budget)).cast("long")
                ).alias("nex"),
            )
            phase_a["seed_state"] = seed_state2.coalesce(n_small)
            if sweep_ran:
                # the sweep covered every currently-exhausted seed
                phase_a["swept_seeds"] = exhausted.coalesce(1)
        # Write scheduling: phase-A tables run concurrently in worker
        # threads while THIS thread writes the frontier; every verdict
        # they read is a filter of a checkpointed leaf, so concurrent
        # writes recompute nothing. No standalone count() job anywhere in
        # the round.
        # Stratified: the frontier write becomes THREE deltas — hot
        # (small rewrite), a cold APPEND (only this round's spills, never
        # the backlog), and the per-host queue_state — the O(backlog)
        # rewrite is gone. All three are read by the next round, so they
        # stay in the sync write wave even under pipeline_writes.
        obs_hot = obs_coldadd = obs_qs = None
        part_by: dict[str, list[str]] = {}
        if cold_active:
            routed, to_hot, to_cold, to_pending, qs3 = strat.route(
                frontier2, qs, host_state, cfg.cold_buckets, cfg.replenish_chunk,
                dead_seeds=exhausted, exprs=self._route,
            )
            cached.append(routed)
            obs_hot = Observation(f"hot_r{r}")
            frontier2 = to_hot.observe(obs_hot, ex.count_n)
            obs_coldadd = Observation(f"coldadd_r{r}")
            to_cold = to_cold.observe(obs_coldadd, ex.count_n)
            obs_qs = Observation(f"qs_r{r}")
            qs3 = qs3.observe(obs_qs, *self._route.deficit_obs)
            phase_a["frontier_cold"] = to_cold
            phase_a["queue_state"] = qs3.coalesce(n_small)
            part_by["frontier_cold"] = ["hbucket"]
            if cfg.seed_budget is not None:
                # rows discovered for an already-dead seed must never
                # enter the append-only cold backlog after the seed's
                # sweep — route() diverted them to the pending split
                # (same persisted pass); the next round start demotes
                # them, exactly when the oracle's whole-frontier check
                # would.
                obs_pending = Observation(f"pending_r{r}")
                phase_a["pending_demote"] = to_pending.observe(
                    obs_pending, ex.count_n
                ).coalesce(n_small)
        pending_futs = None
        if cfg.pipeline_writes:
            # sync: only what the NEXT round reads (frontier + the small
            # dims); the output-only tables (fetched, facts and the glue
            # audit delta) ride background threads overlapped with the
            # next round's compute. Every leaf they read stays alive
            # until flush() commits them.
            output_only = ("fetched", "glue")
            sync_small = {k: v for k, v in phase_a.items() if k not in output_only}
            with ThreadPoolExecutor(max_workers=3) as pool:
                futs = {
                    name: pool.submit(
                        store.write_table, df, r + 1, name, part_by.get(name)
                    )
                    for name, df in sync_small.items()
                }
                nxt.tables["frontier"] = store.write_table(frontier2, r + 1, "frontier")
                for name, fut in futs.items():
                    nxt.tables[name] = fut.result()
            if self._write_pool is None:
                self._write_pool = ThreadPoolExecutor(max_workers=3)
            pending_futs = {
                name: self._write_pool.submit(store.write_table, phase_a[name], r + 1, name)
                for name in output_only
            }
            pending_futs["facts"] = self._write_pool.submit(write_facts)
        else:
            with ThreadPoolExecutor(max_workers=4) as pool:
                futs = {
                    name: pool.submit(
                        store.write_table, df, r + 1, name, part_by.get(name)
                    )
                    for name, df in phase_a.items()
                }
                nxt.tables["frontier"] = store.write_table(frontier2, r + 1, "frontier")
                futs["facts"] = pool.submit(write_facts)
                for name, fut in futs.items():
                    nxt.tables[name] = fut.result()
        nxt.seen = seen_final.to_manifest()
        # static policy referenced (copy-on-write); this round's token
        # delta joins the merge-on-read list
        nxt.tables["host_state"] = snap.tables["host_state"]
        new_token_paths = token_paths + [nxt.tables.pop("host_tokens")]
        nxt.aux = {
            "token_paths": new_token_paths,
            "glue": glue_final_f.to_manifest(),
        }

        branch_n = {name: int(o.get["n"]) for name, o in branch_obs.items()}
        n_left = branch_n["left"] + branch_n.get("left_b", 0)
        n_retry = branch_n["retry"] + branch_n.get("retry_b", 0)
        n_new = branch_n.get("new", 0) + branch_n.get("rest", 0) + branch_n.get("new_b", 0)
        n_fetched = int(obs_fetched.get["n"])
        n_bad = int(obs_fetched.get["bad"] or 0)
        n_terminal = int(obs_term.get["n"])
        n_blocked = int(obs_blocked.get["n"])
        n_qmin = int(obs_qmin.get["n"])
        n_glue = seen2.last_stats.get("n_resolved_new", 0)
        n_dups = seen2.last_stats.get("n_dup_inserts", 0)
        if wave_b is not None:
            n_fetched += int(wave_b["obs_fetched"].get["n"])
            n_bad += int(wave_b["obs_fetched"].get["bad"] or 0)
            n_terminal += int(wave_b["obs_term"].get["n"])
            n_blocked += int(wave_b["obs_blocked"].get["n"])
            n_qmin += int(wave_b["obs_qmin"].get["n"])
            n_glue += seen_final.last_stats.get("n_resolved_new", 0)
            n_dups += seen_final.last_stats.get("n_dup_inserts", 0)
        n_frontier2 = sum(branch_n.values())
        n_cold_total = None
        if cfg.stratified:
            n_blocked += seen2.last_stats.get("n_blocked_new", 0)
            if wave_b is not None:
                n_blocked += seen_final.last_stats.get("n_blocked_new", 0)
            if cold_active:
                # total frontier = hot horizon + live cold backlog (exact
                # n_cold bookkeeping); branch counts stay the flow metrics
                n_cold_total = int(obs_qs.get["nc"] or 0)
                n_frontier2 = int(obs_hot.get["n"]) + n_cold_total
                delta_added = int(obs_coldadd.get["n"])
                new_cold_paths = cold_paths + (
                    [nxt.tables["frontier_cold"]] if delta_added else []
                )
                deficit_buckets = sorted(
                    int(b) for b in (obs_qs.get["dbuckets"] or [])
                )
                if n_cold_total == 0:
                    new_cold_paths = []  # all dead — drop the references
            else:
                # drained mode: frontier2 was written whole as hot; the
                # untouched queue_state is referenced, not rewritten
                n_cold_total = 0
                new_cold_paths = []
                deficit_buckets = []
                if "queue_state" in snap.tables:
                    nxt.tables["queue_state"] = snap.tables["queue_state"]
            nxt.aux.update(
                {
                    "cold_paths": new_cold_paths,
                    "enqueued": enq_final.to_manifest(),
                    "deficit_buckets": deficit_buckets,
                    "n_active_hosts": (
                        int(obs_qs.get["nactive"] or 0) if cold_active else 0
                    ),
                }
            )
        if cfg.seed_budget is not None:
            nxt.aux["n_exhausted"] = int(obs_seed.get["nex"] or 0)
            if sweep_ran:
                nxt.aux["n_swept"] = snap.aux.get("n_exhausted", 0)
            else:
                nxt.aux["n_swept"] = snap.aux.get("n_swept", 0)
                if "swept_seeds" in snap.tables and "swept_seeds" not in nxt.tables:
                    nxt.tables["swept_seeds"] = snap.tables["swept_seeds"]
            if obs_pending is not None:
                # pending rows are semantically still in the frontier
                # (the oracle demotes them at the NEXT round's start)
                n_frontier2 += int(obs_pending.get["n"] or 0)
        # per-partition lineage: the seen/dedup pass's per-shard rows are
        # ALWAYS recorded (free — they rode the fused pass's one stats
        # collect). collect_lineage additionally breaks down admitted
        # fetches per partition — one extra cache-read job per round, so
        # it is opt-in (VERDICT r2 #6: the default round runs exactly the
        # fused-pass action + the snapshot writes).
        lineage = [
            {"round": r, "stage": "seen", **s}
            for s in seen2.last_stats.get("shards", [])
        ]
        if wave_b is not None:
            lineage += [
                {"round": r, "stage": "seen-b", **s}
                for s in seen_final.last_stats.get("shards", [])
            ]
        if cfg.collect_lineage:
            adm_all = admitted if wave_b is None else admitted.unionByName(
                wave_b["admitted"]
            )
            lineage += [
                {
                    "round": r, "stage": "admitted",
                    "partition_id": int(row["pid"]), "n_admitted": int(row["n"]),
                }
                for row in adm_all.groupBy(
                    F.spark_partition_id().alias("pid")
                ).agg(F.count("*").alias("n")).collect()
            ]
        nxt.lineage = lineage
        nxt.metrics = {
            "round": r,
            "n_admitted": n_fetched + n_retry + n_terminal + n_qmin,
            "n_fetched": n_fetched,
            "n_missed": n_retry + n_terminal + n_qmin,
            "n_qmin": n_qmin,
            "n_blocked": n_blocked,
            "n_retry": n_retry,
            "n_terminal": n_terminal,
            "n_new": n_new,
            "n_glue_resolved": n_glue,
            # re-processed urls (fetched after an earlier glue-resolve):
            # work done twice on one url — seen-set reconciliation needs it
            "n_dup_inserts": n_dups,
            "n_frontier_next": n_frontier2,
            "n_cold_backlog": n_cold_total,
            # wave-B skip bookkeeping (VERDICT r3 #8 / r4 #5): n_carry is
            # the wave-boundary Observation's count (-1 = observation
            # unavailable, wave B ran on the always-correct path)
            "n_carry": n_carry if cfg.two_wave else 0,
            "wave_b_skipped": bool(cfg.two_wave and n_carry == 0),
            "n_bad_payloads": n_bad,
            "wall_ms": round((time.monotonic() - t0) * 1e3, 1),
            "done": n_frontier2 == 0,
        }
        # the round's localCheckpoint()-ed leaves (the politeness
        # decisions, the fetch outputs and the wave boundary) are freed as
        # checkpoints, the `cached` frames are unpersisted; the fused
        # passes' verdict leaves go with seen_final.release()
        checkpoints = [decided, enriched]
        if wave_b is not None:
            checkpoints += [wave_b["decided"], wave_b["enriched"]]
        if cfg.two_wave:
            checkpoints.append(new_rows)

        if pending_futs is None:
            store.commit(nxt)
            release_frames(cached, checkpoints)
            seen_final.release()
        else:
            # commit the PREVIOUS round (its background writes have had a
            # whole round to finish), then park this one — ordering keeps
            # manifests monotonic; durability lags exactly one round
            self.flush()
            self._pending = (pending_futs, nxt, cached, checkpoints, seen_final)
        return nxt

    # -- outputs ------------------------------------------------------------
    def facts_df(self, upto: Snapshot) -> DataFrame:
        paths = []
        for rr in self.store.history():
            if 0 < rr <= upto.round:
                s = self.store.load(rr)
                if "facts" in s.tables:
                    paths.append(s.tables["facts"])
        if not paths:
            return self.spark.createDataFrame([], X.FACTS_SCHEMA)
        return self.spark.read.parquet(*paths)

    def results(self, upto: Snapshot) -> DataFrame:
        """Final per-seed result rows — the domain_dict analog
        (/root/reference/dnscrawler/dnsresolver_new.py:280-298): one row
        per seed, one sorted deduped array per fact kind, plus the
        grouped failure detail ``misconfigured`` map (the
        QuerySummaryList shape, querysummarylist.py:4-9 /
        reference README.md:5-52)."""
        facts = self.facts_df(upto)
        pivoted = (
            facts.groupBy("seed")
            .pivot("kind", FACT_KINDS)
            .agg(F.sort_array(F.collect_set("value")))
        )
        for k in FACT_KINDS:
            pivoted = pivoted.withColumn(
                k, F.coalesce(F.col(k), F.array().cast("array<string>"))
            )
        detail = self.failure_detail(upto)
        empty_map = F.expr(
            "cast(map() as map<string,"
            "array<struct<url:string,src:string,code:string,"
            "round:int,attempts:int>>>)"
        )
        return pivoted.join(detail, "seed", "left").withColumn(
            "misconfigured", F.coalesce(F.col("misconfigured"), empty_map)
        )

    def failure_detail(self, upto: Snapshot) -> DataFrame:
        """(seed, misconfigured MAP<fail_class, ARRAY<STRUCT<url, src,
        code, round, attempts>>>) — who failed, against which probe
        target (``src``, the nameserver analog), with what response code
        (``code``, the rcodes analog), when, after how many attempts —
        the full QuerySummary shape (/root/reference/dnscrawler/
        querysummary.py:3-9); arrays sorted for deterministic parity.
        Rebuilt from the facts table's failure rows; pure Catalyst
        (collect_list + map_from_entries), two hash-agg shuffles."""
        facts = self.facts_df(upto)
        fail = facts.filter(F.col("kind").isin(*FAIL_CLASSES))
        per_class = fail.groupBy("seed", "kind").agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("value").alias("url"),
                        F.col("src").alias("src"),
                        F.col("code").alias("code"),
                        F.col("round").cast("int").alias("round"),
                        F.col("attempts").alias("attempts"),
                    )
                )
            ).alias("items")
        )
        return per_class.groupBy("seed").agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("kind", "items")))
            ).alias("misconfigured")
        )

    def seen_urls(self, upto: Snapshot) -> DataFrame:
        """The final URL-seen set (north_rule parity object): all
        fetched/terminal/blocked urls, as canonical strings."""
        paths = []
        for rr in self.store.history():
            if 0 < rr <= upto.round:
                s = self.store.load(rr)
                if "fetched" in s.tables:
                    paths.append(s.tables["fetched"])
        fetched_urls = (
            self.spark.read.parquet(*paths).select("url") if paths else
            self.spark.createDataFrame([], "url string")
        )
        fact_urls = (
            self.facts_df(upto)
            .filter(
                F.col("kind").isin(
                    "hazardous", "ip_ns_records", "missing_ns_records",
                    "robots_blocked", "glue_resolved", "qmin_requery",
                    "budget_exceeded",
                )
            )
            .select(F.col("value").alias("url"))
        )
        return fetched_urls.union(fact_urls).distinct()

    def crawl_trace(self, upto: Snapshot) -> list[tuple[int, str]]:
        """Normalized crawl order: (round, url) for every admitted fetch,
        ordered by (round, host, priority, depth, url) — the engine/oracle
        parity object for 'exact crawl ordering' (SURVEY §7.3).

        FIXTURE-SCALE ONLY: this collects every fetched row to the
        driver. At production scale use ``crawl_trace_digest`` — the
        same parity information as an O(rounds) digest."""
        rows = []
        for rr in self.store.history():
            if 0 < rr <= upto.round:
                s = self.store.load(rr)
                if "fetched" in s.tables:
                    df = self.spark.read.parquet(s.tables["fetched"])
                    part = df.select("host", "priority", "depth", "url").collect()
                    part.sort(key=lambda x: (x["host"], x["priority"], x["depth"], x["url"]))
                    rows.extend((rr - 1, p["url"]) for p in part)
        return rows

    def crawl_trace_digest(self, upto: Snapshot) -> list[dict]:
        """Distributed trace parity (VERDICT r1 #8): per round, the count
        and an order-insensitive checksum of the fetched set — computed
        entirely JVM-side (xxhash64 + sum, whole-stage codegen); the
        driver receives one row per round, never the rows themselves.
        Two crawls (engine vs oracle, or run vs resume) agree on the
        (round, host, priority, depth, url) multiset iff digests match.
        """
        out = []
        for rr in self.store.history():
            if 0 < rr <= upto.round:
                s = self.store.load(rr)
                if "fetched" in s.tables:
                    df = self.spark.read.parquet(s.tables["fetched"])
                    out.append({"round": rr - 1, **trace_digest(df)})
        return out


def trace_digest(df: DataFrame) -> dict:
    """(n, checksum) of a trace-shaped DataFrame with columns
    (host, priority, depth, url). Order-insensitive: per-row xxhash64
    summed as decimal(38,0) — exact at any row count (no ANSI long
    overflow), reduced mod 2^64 driver-side. Used by the engine per
    round and by parity tests on the oracle's rows (same expression,
    same types)."""
    row = df.select(
        F.col("host").cast("string"),
        F.col("priority").cast("int"),
        F.col("depth").cast("int"),
        F.col("url").cast("string"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64("host", "priority", "depth", "url").cast("decimal(38,0)")
        ).alias("checksum"),
    ).collect()[0]
    return {"n": int(row["n"]), "checksum": int(row["checksum"] or 0) % (1 << 64)}

"""The benchmark's workloads: their shapes, measured loops and output checks.

Each workload has a set-up part (session, inputs, warm-up) and a measured
part of repeated *steps*: a crawl round, or one pass over the query set.
The measured part runs whole steps until ``seconds`` have passed, and at
least ``SUITE_MIN_PASSES`` / ``CRAWL_MIN_ROUNDS`` of them. A traced run
traces steps T U U T (see ``tracer.Tracer.step``) and ends on a whole
block of four, so its traced and untraced steps give the tracing
overhead. Output checks run outside the step walls.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from contextlib import nullcontext

from box import dir_bytes

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(1, os.path.join(os.path.dirname(HERE), "scripts"))
# the result hash of the repo's DuckDB correctness gate
from check_correctness import frame_hash  # noqa: E402

SUITE_MIN_PASSES = 2
SUITE_WARMUP_PASSES = 2
CRAWL_MIN_ROUNDS = 2

# crawl-polite: politeness binds. 100 hosts at the base rate (2-4
# admissions a round) hold a backlog far larger than a round admits, so
# each round runs both waves, spills discoveries to the cold backlog and
# rewrites its filter shards for a few hundred keys: the per-round floor.
CRAWL_POLITE = {
    "n_pages": 20_000,
    "n_seeds": 6_000,
    "n_hosts": 100,
    "rate_scale": 1.0,
    "px_scale": 6,
    "two_wave": True,
    "seen_shards": 4,
    "cold_buckets": 8,
}

# operator-suite: the query operators the crawl never runs, one family
# per layer, on the fixed sf0.01 tables in perfbench/data
SUITE = {
    "relational": ["q1_pricing_summary"],
    "dedup": ["dedup_minhash_lsh"],
    "groups": ["dedup_phash_groups"],
    "similarity": ["sim_cosine_topk"],
    "text": ["text_fingerprints"],
    "multimodal": ["mm_decode_features"],
    "streaming": ["streaming_windowed_counts"],
}
SUITE_DATA = os.path.join(HERE, "data", "sf0.01")


class Outcome:
    """What a workload hands back to run.py: set-up time, step walls and
    work, the measured window, attempted/failed operations, the check log
    and workload-specific values in ``extra``."""

    def __init__(self):
        self.setup_s = 0.0
        self.steps: list[float] = []
        self.step_work: list[int] = []  # URLs (crawl) or query executions (suite)
        self.traced: list[bool] = []  # per step: ran with the tracer installed
        self.t_measure = (0.0, 0.0)  # epoch seconds, for the trace reducer
        self.attempted = 0
        self.failed = 0
        self.checks: list[tuple[str, bool, str]] = []
        self.extra: dict = {}

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1
        self.checks.append((name, bool(ok), detail))

    def add_step(self, wall: float, work: int, traced: bool) -> None:
        self.steps.append(wall)
        self.step_work.append(work)
        self.traced.append(traced)

    def _walls(self, traced: bool) -> list[float]:
        return [t for t, tr in zip(self.steps, self.traced) if tr == traced]

    @property
    def step_p50_s(self) -> float:
        """Median wall of the untraced steps."""
        return statistics.median(self._walls(False))

    @property
    def work_per_s(self) -> float:
        return statistics.median(
            w / t for w, t, tr in zip(self.step_work, self.steps, self.traced) if not tr
        )

    @property
    def overhead_share(self) -> float:
        """Tracing overhead: median traced step wall over median untraced
        step wall of the same run, minus 1."""
        return statistics.median(self._walls(True)) / self.step_p50_s - 1


def measuring(out: Outcome, t_start: float, seconds: float, min_steps: int, tracer) -> bool:
    """Whether to run another measured step."""
    n = len(out.steps)
    if n < min_steps or time.monotonic() - t_start < seconds:
        return True
    return tracer.traced and n % 4 != 0


# -- crawl -------------------------------------------------------------------


def crawl_config(shape: dict, gen_seed: int, n_cores: int, max_rounds: int = 64):
    from dnscrawler_spark.streaming.rounds import CrawlConfig

    return CrawlConfig(
        max_rounds=max_rounds,
        partitions=n_cores,
        gen_seed=gen_seed,
        seen_shards=shape["seen_shards"],
        cold_buckets=shape["cold_buckets"],
        collect_lineage=False,
        verify_payloads=True,
        fetch_mode="synthetic",
        px_scale=shape["px_scale"],
        n_pages=shape["n_pages"],
        n_hosts=shape["n_hosts"],
        pipeline_writes=True,
        stratified=True,
        two_wave=shape["two_wave"],
    )


def crawl_engine(spark, ws, shape: dict, seed: int, n_cores: int, max_rounds: int = 64):
    """The crawl workload's engine and inputs for ``shape`` and ``seed``:
    returns ``(engine, seed frontier, host state)``, ready for
    ``engine.start``."""
    from dnscrawler_spark import datagen
    from dnscrawler_spark.streaming.rounds import CrawlEngine

    # the crawl loop's own session settings (as in bench.py): fixed
    # narrow shuffles, no AQE materialization barriers
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_cores))
    cfg = crawl_config(shape, seed, n_cores, max_rounds)
    eng = CrawlEngine(spark, None, ws.data_dir("crawl"), cfg)
    hs = datagen.generate_host_state_synthetic(spark, shape["n_hosts"], rate_scale=shape["rate_scale"])
    seeds = datagen.seed_urls_df(
        spark, shape["n_seeds"], shape["n_pages"], seed=seed, n_hosts=shape["n_hosts"]
    )
    return eng, seeds, hs


def round_urls(m: dict) -> int:
    """URLs a round fetched or deduped: every URL it resolved or
    terminally classified (the BASELINE.json throughput numerator)."""
    return m["n_fetched"] + m["n_terminal"] + m["n_blocked"] + m["n_glue_resolved"] + m["n_qmin"]


def seen_digests(seen) -> dict[int, list[int]]:
    """Cumulative (count, sum of url_key mod 2^64) of the seen set after
    each round, from the filter's exact-key files (footers and one
    column; no Spark job)."""
    import re

    import pyarrow.parquet as pq

    per_round: dict[int, list[int]] = {}
    for d in seen.key_files:
        rnd = int(re.search(r"seen_r(\d+)", d).group(1))
        acc = per_round.setdefault(rnd, [0, 0])
        for name in sorted(os.listdir(d)):
            if name.endswith(".parquet"):
                col = pq.read_table(os.path.join(d, name), columns=["url_key"]).column(0)
                acc[0] += len(col)
                acc[1] += sum(int(k) & ((1 << 64) - 1) for k in col.to_pylist())
    out, n, s = {}, 0, 0
    for rnd in sorted(per_round):
        n += per_round[rnd][0]
        s = (s + per_round[rnd][1]) % (1 << 64)
        out[rnd] = [n, s]
    return out


def run_crawl(spark, ws, shape, seed, seconds, t0, n_cores, expected, tracer) -> Outcome:
    from dnscrawler_spark.operators.seen import SeenFilter

    out = Outcome()
    with tracer.span("datagen"):
        eng, seeds, hs = crawl_engine(spark, ws, shape, seed, n_cores)
    snap = eng.start(seeds, hs)
    # round 0 is the warm-up: it runs cold (JIT, codegen, the Python
    # worker pool) and admits every host's full burst
    with tracer.span("warmup"):
        snap = eng.run_round(snap)
    history = [snap.metrics]
    if tracer.traced:
        # round 1 runs ~20% slower than later rounds, so a traced run
        # settles it untraced, as its T U U T steps should be alike
        tracer.uninstall()
        snap = eng.run_round(snap)
        history.append(snap.metrics)
    n_warm = len(history)
    out.setup_s = time.monotonic() - t0

    t_start, e_start = time.monotonic(), time.time()
    while measuring(out, t_start, seconds, CRAWL_MIN_ROUNDS, tracer):
        if snap.metrics.get("done"):
            raise RuntimeError(f"crawl drained after {snap.round} rounds: shape too small")
        traced = tracer.step(len(out.steps))
        t = time.monotonic()
        snap = eng.run_round(snap)
        out.add_step(time.monotonic() - t, round_urls(snap.metrics), traced)
        out.attempted += 1
        history.append(snap.metrics)
    eng.flush()
    out.t_measure = (e_start, time.time())

    # -- output checks (outside the timed window) --
    seen = SeenFilter.from_manifest(snap.seen)
    n_seen = seen.exact_key_count()
    derived = sum(round_urls(m) - m["n_dup_inserts"] for m in history)
    out.check("urls_seen", n_seen == derived, f"measured {n_seen}, derived {derived}")
    n_bad = sum(m["n_bad_payloads"] for m in history)
    out.check("bad_payloads", n_bad == 0, f"{n_bad} bad payloads")
    rec = expected.get("crawl", {})
    if seed == rec.get("seed"):
        got_seen = seen_digests(seen)
        want_seen = {int(k): v for k, v in rec["seen_digest"].items()}
        common = sorted(set(got_seen) & set(want_seen))
        out.check(
            "seen_digest",
            bool(common) and all(got_seen[r] == want_seen[r] for r in common),
            f"rounds {common}",
        )
        got_trace = eng.crawl_trace_digest(snap)
        want_trace = rec["trace_digest"][: len(got_trace)]
        out.check(
            "trace_digest",
            got_trace[: len(want_trace)] == want_trace,
            f"{len(want_trace)} rounds compared",
        )
    out.extra.update(
        disk_bytes_per_url=dir_bytes(eng.root) / n_seen,
        cold_backlog=snap.metrics.get("n_cold_backlog") or 0,
        history=history[n_warm:],
    )
    return out


# -- operator suite ----------------------------------------------------------


def suite_queries():
    import __spark_entry__ as entry

    qs = entry.queries()
    return [(fam, name, qs[name]) for fam, names in SUITE.items() for name in names]


def run_suite(spark, seconds, t0, expected, tracer) -> Outcome:
    out = Outcome()
    queries = suite_queries()
    # query -> every distinct result hash seen, from all passes, hashed as
    # the repo's DuckDB correctness gate hashes results
    seen: dict[str, set] = {name: set() for _, name, _ in queries}

    def run_pass(traced: bool) -> dict[str, float]:
        """One pass, each query's result collected; returns the query
        walls. The results are hashed after the last query."""
        results, walls = {}, {}
        for fam, name, fn in queries:
            t = time.monotonic()
            with tracer.span(f"suite.{fam}", query=name) if traced else nullcontext():
                results[name] = fn(spark, SUITE_DATA).toPandas()
            walls[name] = time.monotonic() - t
        for name, pdf in results.items():
            seen[name].add(tuple(frame_hash(pdf)))
        return walls

    # the warm-up passes (JIT, codegen, the Python worker pool) take the
    # measured path. The pass after a single warm-up runs ~20% slower
    # than the one after it, and a slow box fits only one or two passes
    # in the measured window, so a second warm-up settles that drop.
    with tracer.span("warmup"):
        for _ in range(SUITE_WARMUP_PASSES):
            run_pass(False)
    out.setup_s = time.monotonic() - t0

    query_walls: dict[str, list[float]] = {name: [] for _, name, _ in queries}
    t_start, e_start = time.monotonic(), time.time()
    while measuring(out, t_start, seconds, SUITE_MIN_PASSES, tracer):
        traced = tracer.step(len(out.steps))
        walls = run_pass(traced)
        out.add_step(sum(walls.values()), len(queries), traced)
        out.attempted += len(queries)
        for name, w in walls.items():
            query_walls[name].append(w)
    out.t_measure = (e_start, time.time())
    out.extra.update(query_walls=query_walls, result_hashes=seen)

    # -- output check: every collected result of every pass hashes to the
    # recorded, DuckDB-gated hash --
    want = expected.get("suite_hashes", {})
    for name, got in seen.items():
        ok = got == {tuple(want.get(name, ()))}
        out.check(f"hash:{name}", ok, f"{len(got)} distinct result hash(es)")
    return out

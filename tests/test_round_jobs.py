"""Round job-count discipline (VERDICT r2 #6) and host-dimension join
plan gates (VERDICT r2 #1): the default round runs exactly the fused
seen/dedup pass(es) plus the snapshot writes — no standalone collect
jobs — and the politeness policy join never broadcasts the raw host
dimension. Also the round's fixed-cost cuts: sessions run without
PySpark's call-site capture and keep a step's generated classes, and the
routed frontier writes at most ``partitions`` files per table. A steady
round reuses the previous round's generated classes and caches only
frames whose recompute is real work."""

import os
import tempfile

import pytest
from pyspark.sql import DataFrame, functions as F

from dnscrawler_spark import datagen
from dnscrawler_spark.plans import codegen_compiles
from dnscrawler_spark.streaming.rounds import CrawlConfig, CrawlEngine

N = 120


def _run_one_round(spark, monkeypatch, spied="collect", **cfg_kw):
    """Run start() + one round with the DataFrame method ``spied`` spied;
    returns the number of its calls made inside run_round."""
    cfg = CrawlConfig(
        max_rounds=2, seen_shards=4, seen_bits=1 << 16, seen_buckets=1 << 10,
        partitions=4, fetch_mode="synthetic", n_pages=N, **cfg_kw,
    )
    hs = datagen.generate_host_state_synthetic(spark, datagen.default_n_hosts(N))
    eng = CrawlEngine(spark, None, tempfile.mkdtemp(prefix="jobs_"), cfg)
    snap = eng.start(datagen.seed_urls(3, N, seed=42), hs)
    # pyspark 4: the classic session returns the classic subclass, whose
    # collect overrides the pyspark.sql.DataFrame one — patch that class
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    calls = []
    orig = getattr(ClassicDF, spied)

    def spy(self, *a, **kw):
        calls.append(1)
        return orig(self, *a, **kw)

    monkeypatch.setattr(ClassicDF, spied, spy)
    try:
        eng.run_round(snap)
    finally:
        monkeypatch.setattr(ClassicDF, spied, orig)
    return len(calls)


def test_default_round_collects_only_fused_pass(spark, monkeypatch):
    # single-wave default round: exactly ONE driver-side collect — the
    # fused insert+probe stats (the action that materializes the round)
    assert _run_one_round(spark, monkeypatch, two_wave=False) == 1


def test_two_wave_round_collects_once_per_wave(spark, monkeypatch):
    assert _run_one_round(spark, monkeypatch, two_wave=True) == 2


def test_round_caches_only_real_work(spark, monkeypatch):
    """A default (two-wave, synthetic fetch) round persists five frames:
    each wave's probe candidates and fused-pass output, and the debits.
    Everything else it reads is a filter of a checkpointed leaf (the
    politeness decision, the fetch output, the verdict join), which is
    cheaper to re-read than to cache."""
    assert _run_one_round(spark, monkeypatch, spied="persist", two_wave=True) == 5


def test_lineage_opt_in_adds_exactly_one_job(spark, monkeypatch):
    assert (
        _run_one_round(spark, monkeypatch, two_wave=False, collect_lineage=True)
        == 2
    )


def _mk_frontier(spark, urls):
    from dnscrawler_spark.operators.frontier import derive_frontier_cols

    df = (
        spark.createDataFrame([(u,) for u in urls], ["url"])
        .withColumn("priority", F.lit(2))
        .withColumn("depth", F.lit(1))
        .withColumn("round", F.lit(0))
        .withColumn("reason", F.lit("expand"))
        .withColumn("seed", F.lit("http://s/x"))
        .withColumn("attempts", F.lit(0))
    )
    return derive_frontier_cols(df, 4)


def test_admit_full_dim_path_never_broadcasts_policy(spark):
    """VERDICT r2 #1 plan gate: the full-dimension policy join (classic /
    drained / all-hosts rounds) is a shuffled hash join — NO
    BroadcastExchange anywhere in the admission plan, regardless of the
    host dimension's size estimate."""
    from dnscrawler_spark.datagen import HOST_STATE_SCHEMA
    from dnscrawler_spark.operators import politeness as pol
    from dnscrawler_spark.plans import explain_str

    policy = spark.createDataFrame(
        [(f"h{i}.com", 2.0, 4.0, [], True) for i in range(500)], HOST_STATE_SCHEMA
    )
    fr = _mk_frontier(spark, [f"http://h{i}.com/p" for i in range(50)])
    prepared = pol.prepare_policy(policy, None, 0).hint("shuffle_hash")
    admitted, *_ = pol.admit(fr, prepared, 0)
    plan = explain_str(admitted, "simple")
    assert "BroadcastExchange" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan


def test_admit_pruned_path_broadcasts_only_semi_pruned_slice(spark):
    """The stratified fast path MAY broadcast — but only the policy slice
    semi-join-pruned to the round's active hosts: every BroadcastExchange
    in the plan sits above the LeftSemi prune."""
    from dnscrawler_spark.datagen import HOST_STATE_SCHEMA
    from dnscrawler_spark.operators import politeness as pol
    from dnscrawler_spark.plans import explain_str

    policy = spark.createDataFrame(
        [(f"h{i}.com", 2.0, 4.0, [], True) for i in range(500)], HOST_STATE_SCHEMA
    )
    active = spark.createDataFrame([(f"h{i}.com",) for i in range(5)], ["host"])
    pruned = policy.join(F.broadcast(active), "host", "left_semi")
    prepared = F.broadcast(pol.prepare_policy(pruned, None, 0))
    fr = _mk_frontier(spark, [f"http://h{i}.com/p" for i in range(5)])
    admitted, *_ = pol.admit(fr, prepared, 0)
    plan = explain_str(admitted, "simple")
    assert "LeftSemi" in plan, plan


def test_wave_b_skip_zero_jobs_and_parity(spark, monkeypatch, tmp_path):
    """VERDICT r3 #8 / r4 #5, per spec: on a carry-free round the
    two-wave engine runs ZERO wave-B jobs — exactly ONE driver-side
    collect (the wave-A fused pass), vs two on a carry-ful round. Ground
    truth for which rounds are carry-free comes from the independent
    pure-Python oracle (carry_per_round), and the final facts must match
    the oracle exactly, pinning the skip path's bit-identical claim
    (ADVICE r4: a fixture guaranteed to produce an empty carry band).
    Shape (80 pages / 3 seeds / gen_seed 11) is oracle-scanned for carry
    pattern [0,1,1,1,0]: a MID-crawl skip on a non-empty new_rows frame
    (round 1), three wave-B rounds, and — because max_rounds sits past
    the drain point (oracle drains after 5 rounds) — a FINAL round with
    ZERO new rows: SUM over that empty frame is NULL, and the engine
    must map it to n_carry=0 (skip fires), not conflate it with a
    never-fired observation (-1, wave B runs on empty frames)."""
    from dnscrawler_spark.oracle import crawler as oracle
    from dnscrawler_spark.streaming.rounds import FACT_KINDS

    n, n_seeds, gseed, rounds = 80, 3, 11, 12
    n_hosts = datagen.default_n_hosts(n)
    corpus = [datagen.page_row(i, gseed, n, n_hosts) for i in range(n)]
    seeds = datagen.seed_urls(n_seeds, n, seed=gseed)
    ores = oracle.crawl(corpus, seeds, max_rounds=rounds, gen_seed=gseed)
    assert 0 in ores.carry_per_round and any(c > 0 for c in ores.carry_per_round), (
        "fixture must exercise BOTH the skip and the wave-B path: "
        f"{ores.carry_per_round}"
    )

    cfg = CrawlConfig(
        max_rounds=rounds, seen_shards=2, seen_bits=1 << 16, seen_buckets=1 << 10,
        partitions=2, fetch_mode="synthetic", n_pages=n, gen_seed=gseed,
        two_wave=True,
    )
    hs = datagen.generate_host_state_synthetic(spark, n_hosts)
    eng = CrawlEngine(spark, None, str(tmp_path), cfg)

    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    orig = ClassicDF.collect
    per_round = []
    # tiny fixture crawl: AQE's per-exchange barriers are pure latency
    # here (same knob the __spark_entry__ fixture probes use)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    shuf = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        snap = eng.start(seeds, hs)
        while not snap.metrics.get("done") and snap.round < cfg.max_rounds:
            calls = []

            def spy(self, _calls=calls):
                _calls.append(1)
                return orig(self)

            monkeypatch.setattr(ClassicDF, "collect", spy)
            try:
                snap = eng.run_round(snap)
            finally:
                monkeypatch.setattr(ClassicDF, "collect", orig)
            per_round.append(
                (len(calls), snap.metrics["n_carry"], snap.metrics["wave_b_skipped"])
            )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.shuffle.partitions", shuf)

    assert snap.metrics.get("done"), (
        "fixture must DRAIN: the drained round's new_rows frame is empty, "
        "pinning the NULL-sum-maps-to-0 path of the wave-B skip"
    )
    assert len(per_round) == len(ores.carry_per_round)
    for (n_collects, n_carry, skipped), want_carry in zip(
        per_round, ores.carry_per_round
    ):
        assert n_carry == want_carry
        if want_carry == 0:
            # the one-line job-count assert: zero jobs between the wave
            # boundary and the merge — only the wave-A fused pass ran
            assert skipped and n_collects == 1, per_round
        else:
            assert not skipped and n_collects == 2, per_round

    # skip-path parity: per-seed facts identical to the oracle
    results = {r["seed"]: r for r in eng.results(snap).collect()}
    assert set(results) == set(ores.facts)
    for seed, kinds in ores.facts.items():
        for kind in FACT_KINDS:
            assert list(results[seed][kind]) == sorted(kinds.get(kind, set()))


def test_sessions_skip_call_site_capture(spark):
    """PySpark 4 wraps every DataFrame/Column API call in a call-site
    capture (a stack walk and ~5 Py4J round trips) unless this is off;
    it was half of a crawl round's Py4J traffic."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


def test_codegen_cache_holds_a_steps_working_set(spark):
    """Spark inlines literals into generated Java, so each query shape is
    its own entry in the JVM-wide Janino class cache; a crawl round or a
    suite pass compiles a few hundred. With the default 100-entry cache a
    query's classes were evicted before the next step reused them, and
    every step recompiled its whole plan."""

    def query(k):
        spark.range(3).select((F.col("id") * k + 7919).alias("v")).collect()

    query(104729)
    for k in range(60):  # >100 distinct generated sources in between
        query(7_000_003 + k)
    before = codegen_compiles(spark)
    query(104729)
    assert codegen_compiles(spark) == before


def test_steady_rounds_compile_no_new_classes(spark, tmp_path):
    """The round number reaches every plan as data (``round_value``), not
    as an int literal that Spark writes into generated Java: once the
    first rounds have compiled the crawl's plans, a round that pulls
    nothing from the cold backlog compiles no class at all. A replenish
    round may: its cold read unions one scan per delta."""
    cfg = CrawlConfig(
        max_rounds=6, seen_shards=2, seen_bits=1 << 16, seen_buckets=1 << 10,
        partitions=2, fetch_mode="synthetic", n_pages=2000, n_hosts=8,
        gen_seed=13, stratified=True, two_wave=True, cold_buckets=4,
        pipeline_writes=True,
    )
    hs = datagen.generate_host_state_synthetic(spark, cfg.n_hosts)
    eng = CrawlEngine(spark, None, str(tmp_path), cfg)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    shuf = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(cfg.partitions))
    per_round = []
    try:
        seeds = datagen.seed_urls(300, cfg.n_pages, seed=13, n_hosts=cfg.n_hosts)
        snap = eng.start(seeds, hs)
        while snap.round < cfg.max_rounds:
            pulls = bool(snap.aux.get("deficit_buckets"))
            before = codegen_compiles(spark)
            snap = eng.run_round(snap)
            # a round's pipelined writes compile with it, not in the next
            eng.flush()
            per_round.append((snap.round - 1, pulls, codegen_compiles(spark) - before))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.shuffle.partitions", shuf)
    steady = [n for rnd, pulls, n in per_round if rnd >= 2 and not pulls]
    assert len(steady) >= 2, per_round
    assert steady == [0] * len(steady), per_round


def _part_files(path):
    return [n for n in os.listdir(path) if n.startswith("part-")]


def test_routed_frontier_writes_at_most_partitions_files(spark, tmp_path):
    """The routed frontier is folded to cfg.partitions before routing: the
    next round's hot frontier, queue_state and every hbucket directory
    of the cold delta hold at most ``partitions`` part files (the
    six-branch union otherwise writes one file per branch partition)."""
    # few hosts, many seeds: politeness leaves a cold backlog, so round 0
    # routes its discoveries to cold
    n, n_hosts, parts = 240, 4, 2
    cfg = CrawlConfig(
        max_rounds=2, seen_shards=2, seen_bits=1 << 16, seen_buckets=1 << 10,
        partitions=parts, fetch_mode="synthetic", n_pages=n, n_hosts=n_hosts,
        gen_seed=13, stratified=True, two_wave=True, cold_buckets=4,
    )
    hs = datagen.generate_host_state_synthetic(spark, n_hosts)
    eng = CrawlEngine(spark, None, str(tmp_path), cfg)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    shuf = spark.conf.get("spark.sql.shuffle.partitions")
    # the crawl's own session settings (perfbench, __spark_entry__)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        seeds = datagen.seed_urls(120, n, seed=13, n_hosts=n_hosts)
        snap = eng.run_round(eng.start(seeds, hs))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.shuffle.partitions", shuf)
    assert snap.metrics["n_cold_backlog"] > 0, "round must route rows to cold"
    for name in ("frontier", "queue_state"):
        files = _part_files(snap.tables[name])
        assert 1 <= len(files) <= parts, (name, files)
    cold = snap.tables["frontier_cold"]
    buckets = [d for d in os.listdir(cold) if d.startswith("hbucket=")]
    assert buckets, "round must append a cold delta"
    for b in buckets:
        files = _part_files(os.path.join(cold, b))
        assert 1 <= len(files) <= parts, (b, files)


def test_crawl_releases_all_storage(spark, tmp_path):
    """Storage hygiene (ADVICE r4 lineage of the debits leak, extended to
    localCheckpoint blocks): after a crawl completes and flushes, every
    frame the rounds persisted OR localCheckpoint()-ed must be released —
    checkpoint blocks are RDD storage the cache manager can't see, so
    DataFrame.unpersist() alone leaks one fetch output + one verdict join
    per wave per round until JVM GC happens to run (free_local_checkpoint
    is the deterministic path). Asserts no net new storage blocks remain
    in the shared session after the crawl."""
    n, gseed = 80, 7
    jsc = spark.sparkContext._jsc.sc()
    before = len(jsc.getRDDStorageInfo())
    cfg = CrawlConfig(
        max_rounds=3, seen_shards=2, seen_bits=1 << 16, seen_buckets=1 << 10,
        partitions=2, fetch_mode="synthetic", n_pages=n, gen_seed=gseed,
        two_wave=True,
    )
    hs = datagen.generate_host_state_synthetic(spark, datagen.default_n_hosts(n))
    eng = CrawlEngine(spark, None, str(tmp_path / "classic"), cfg)
    final = eng.run(eng.start(datagen.seed_urls(3, n, seed=gseed), hs))
    assert final.round >= 3 or final.metrics.get("done")
    # a DataFrame seed set (persisted by seed_urls_df) is consumed by a
    # stratified start: released on success AND when round 0 fails
    scfg = CrawlConfig(
        max_rounds=2, seen_shards=2, seen_bits=1 << 16, seen_buckets=1 << 10,
        partitions=2, fetch_mode="synthetic", n_pages=n, gen_seed=gseed,
        stratified=True,
    )
    failing = CrawlEngine(spark, None, str(tmp_path / "failed"), scfg)
    write_table = failing.store.write_table

    def fail_queue_state(df, round_no, name, *a, **kw):
        if name == "queue_state":
            raise OSError("injected write failure")
        return write_table(df, round_no, name, *a, **kw)

    failing.store.write_table = fail_queue_state
    with pytest.raises(OSError, match="injected"):
        failing.start(datagen.seed_urls_df(spark, 3, n, seed=gseed), hs)
    strat = CrawlEngine(spark, None, str(tmp_path / "strat"), scfg)
    final = strat.run(strat.start(datagen.seed_urls_df(spark, 3, n, seed=gseed), hs))
    assert final.round >= 2 or final.metrics.get("done")
    # unpersist/free are non-blocking (async block removal): poll briefly
    import time as _time

    deadline = _time.monotonic() + 15
    while True:
        after = len(jsc.getRDDStorageInfo())
        if after <= before or _time.monotonic() > deadline:
            break
        _time.sleep(0.5)
    assert after <= before, (
        f"crawl leaked {after - before} storage blocks: "
        f"{[str(i.name()) for i in jsc.getRDDStorageInfo()]}"
    )

"""Unit tests for the stratified-frontier primitives (no crawl): the
watermark/routing/replenish invariants that make hot-only admission
provably exact, plus the IO properties (bucket-level partition pruning,
no cold read without deficit) that make it the 10^10 path."""

from pyspark.sql import functions as F

from dnscrawler_spark.operators import stratified as strat
from dnscrawler_spark.operators.frontier import derive_frontier_cols


def _rows(spark, specs):
    """specs: list of (url, priority, depth). Builds frontier-shaped rows."""
    df = spark.createDataFrame(
        [(u, p, d) for (u, p, d) in specs], "url string, priority int, depth int"
    )
    df = (
        df.withColumn("round", F.lit(0))
        .withColumn("reason", F.lit("expand"))
        .withColumn("seed", F.col("url"))
        .withColumn("attempts", F.lit(0))
    )
    return derive_frontier_cols(df, 4)


def _qs(spark, rows):
    """rows: (host, (p,d,u)|None, n_cold, n_hot, deficit, pull_t, ever_cold)."""
    return spark.createDataFrame(list(rows), strat.QUEUE_STATE_SCHEMA)


def _hs(spark, rows):
    """rows: (host, burst)."""
    return spark.createDataFrame(list(rows), "host string, burst double")


def test_route_splits_on_watermark(spark):
    rows = _rows(
        spark,
        [
            ("http://a.com/p1", 1, 0),   # key <= W -> hot
            ("http://a.com/p9", 9, 0),   # key > W, cold nonempty -> cold
            ("http://b.com/p5", 5, 0),   # no qs row (n_cold 0) -> hot + raise
        ],
    )
    qs = _qs(spark, [("a.com", (2, 0, "zzz"), 3, 1, False, None, True)])
    hs = _hs(spark, [("a.com", 2.0), ("b.com", 2.0)])
    j, to_hot, to_cold, _pend, qs3 = strat.route(rows, qs, hs, n_buckets=8, chunk=4)
    hot = {r["url"] for r in to_hot.collect()}
    cold = {r["url"] for r in to_cold.collect()}
    assert hot == {"http://a.com/p1", "http://b.com/p5"}
    assert cold == {"http://a.com/p9"}
    state = {r["host"]: r for r in qs3.collect()}
    assert state["a.com"]["n_cold"] == 4  # 3 + 1 appended
    assert state["a.com"]["w"] == (2, 0, "zzz")  # unchanged (cold nonempty)
    # next round's hot counts are precomputed at write time
    assert state["a.com"]["n_hot"] == 1
    # deficit: n_hot(1) < ceil(burst)(2) and cold rows remain
    assert state["a.com"]["deficit"] is True
    assert state["a.com"]["pull_t"] == 4 * 2 - 1
    # new host: W raised over its hot row, no cold -> never deficit
    assert state["b.com"]["n_cold"] == 0
    assert tuple(state["b.com"]["w"]) == (5, 0, "http://b.com/p5")
    assert state["b.com"]["deficit"] is False
    j.unpersist()


def test_route_null_watermark_means_minus_inf(spark):
    rows = _rows(spark, [("http://a.com/p0", 0, 0)])
    qs = _qs(spark, [("a.com", None, 2, 0, True, 4, True)])  # cold nonempty, W = -inf
    hs = _hs(spark, [("a.com", 1.0)])
    j, to_hot, to_cold, _pend, qs3 = strat.route(rows, qs, hs, n_buckets=8, chunk=4)
    assert to_hot.count() == 0  # everything sorts above -inf -> cold
    assert to_cold.count() == 1
    assert {r["n_cold"] for r in qs3.collect()} == {3}
    j.unpersist()


def test_route_diverts_dead_seed_rows(spark):
    """seed_budget (VERDICT r2 #3): rows of an exhausted seed go to the
    pending split — never hot, never the append-only cold backlog — and
    the routing stats exclude them."""
    rows = _rows(
        spark,
        [
            ("http://a.com/p1", 1, 0),   # live, key <= W -> hot
            ("http://a.com/p9", 9, 0),   # live, key > W -> cold
        ],
    )
    dead = rows.filter(F.col("url") == "http://a.com/p1").withColumn(
        "seed", F.lit("http://dead.seed/x")
    )
    rows = rows.unionByName(dead)
    dead_seeds = spark.createDataFrame([("http://dead.seed/x",)], ["seed"])
    qs = _qs(spark, [("a.com", (2, 0, "zzz"), 3, 1, False, None, True)])
    hs = _hs(spark, [("a.com", 2.0)])
    j, to_hot, to_cold, pend, qs3 = strat.route(
        rows, qs, hs, n_buckets=8, chunk=4, dead_seeds=dead_seeds
    )
    assert {r["seed"] for r in pend.collect()} == {"http://dead.seed/x"}
    assert {r["url"] for r in to_hot.collect()} == {"http://a.com/p1"}
    assert {r["url"] for r in to_cold.collect()} == {"http://a.com/p9"}
    st = {r["host"]: r for r in qs3.collect()}
    assert st["a.com"]["n_hot"] == 1 and st["a.com"]["n_cold"] == 4
    j.unpersist()


def test_route_drops_idle_hot_only_hosts(spark):
    """VERDICT r2 #9: queue_state must not leak one row per host ever
    touched. A hot-only host (ever_cold=False) with nothing queued drops
    out of queue_state; an ever-cold host is retained even when drained
    (its W marks the physical dead rows in the append-only deltas)."""
    rows = _rows(spark, [("http://live.com/p1", 1, 0)])
    qs = _qs(
        spark,
        [
            ("idle-hot.com", (5, 0, "u"), 0, 1, False, None, False),
            ("drained-cold.com", (5, 0, "u"), 0, 0, False, None, True),
        ],
    )
    hs = _hs(spark, [("live.com", 2.0)])
    j, to_hot, to_cold, _pend, qs3 = strat.route(rows, qs, hs, n_buckets=8, chunk=4)
    hosts = {r["host"] for r in qs3.collect()}
    assert "idle-hot.com" not in hosts
    assert "drained-cold.com" in hosts
    assert "live.com" in hosts
    j.unpersist()


def test_replenish_no_deficit_is_identity(spark, tmp_path):
    """An empty deficit-bucket list (precomputed by the previous round's
    routing) short-circuits replenish — the round never reads cold."""
    hot = _rows(spark, [("http://a.com/p1", 1, 0), ("http://a.com/p2", 2, 0)])
    qs = _qs(spark, [("a.com", (2, 0, "http://a.com/p2"), 5, 2, False, None, True)])
    cold_dir = str(tmp_path / "cold")
    _rows(spark, [("http://a.com/p7", 7, 0)]).withColumn(
        "hbucket", strat.hbucket_col(F.col("host"), 8)
    ).write.partitionBy("hbucket").parquet(cold_dir)
    hot2, qs2, persisted = strat.replenish(
        spark, hot, qs, [cold_dir], n_buckets=8, deficit_buckets=[]
    )
    assert hot2 is hot and qs2 is qs and persisted == []


def test_replenish_pulls_top_chunk_and_advances_w(spark, tmp_path):
    cold_rows = _rows(
        spark,
        [(f"http://a.com/p{i}", 5, i) for i in range(10)]  # keys (5, i, url)
        + [("http://a.com/dead", 3, 0)],  # key BELOW W -> dead, never pulled
    ).withColumn("hbucket", strat.hbucket_col(F.col("host"), 8))
    cold_dir = str(tmp_path / "cold")
    cold_rows.write.partitionBy("hbucket").parquet(cold_dir)
    hot = spark.createDataFrame([], cold_rows.drop("hbucket").schema)
    # deficit + pull_t precomputed by the previous round: pull top-4
    qs = _qs(spark, [("a.com", (4, 0, "zzz"), 10, 0, True, 4, True)])
    buckets = [
        r["b"]
        for r in qs.select(strat.hbucket_col(F.col("host"), 8).alias("b")).collect()
    ]
    hot2, qs2, persisted = strat.replenish(
        spark, hot, qs, [cold_dir], n_buckets=8, deficit_buckets=buckets
    )
    pulled = sorted(r["url"] for r in hot2.collect())
    assert pulled == [f"http://a.com/p{i}" for i in range(4)]
    st = {r["host"]: r for r in qs2.collect()}
    assert st["a.com"]["n_cold"] == 6
    assert tuple(st["a.com"]["w"]) == (5, 3, "http://a.com/p3")
    for df in persisted:
        df.unpersist()


def test_initial_queue_state_marks_all_deficit(spark):
    seeds = _rows(
        spark, [("http://a.com/p1", 0, 0), ("http://a.com/p2", 0, 0),
                ("http://b.com/p3", 0, 0)]
    )
    hs = _hs(spark, [("a.com", 3.5)])  # b.com absent -> burst default 1
    qs0 = strat.initial_queue_state(seeds, hs, chunk=4)
    st = {r["host"]: r for r in qs0.collect()}
    assert st["a.com"]["n_cold"] == 2 and st["a.com"]["deficit"] is True
    assert st["a.com"]["pull_t"] == 4 * 4  # ceil(3.5) = 4
    assert st["b.com"]["pull_t"] == 4 * 1
    assert all(r["w"] is None and r["n_hot"] == 0 for r in st.values())


def test_cold_read_prunes_to_deficit_buckets(spark, tmp_path):
    """Partition pruning: filtering read_cold on hbucket touches only
    that bucket's files — the deficit scan reads 1/n_buckets of the
    store, not all of it."""
    rows = _rows(
        spark, [(f"http://h{i}.com/p", 2, 0) for i in range(40)]
    ).withColumn("hbucket", strat.hbucket_col(F.col("host"), 8))
    cold_dir = str(tmp_path / "cold")
    rows.write.partitionBy("hbucket").parquet(cold_dir)
    one = strat.read_cold(spark, [cold_dir]).filter(F.col("hbucket") == 3)
    from dnscrawler_spark.plans.checks import explain_str

    plan = explain_str(one)
    # the hbucket predicate must land in PartitionFilters (directory
    # pruning), NOT as a post-scan data filter
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "hbucket" in pf, pf


def test_compact_drops_dead_rows(spark, tmp_path):
    rows = _rows(
        spark,
        [("http://a.com/live", 9, 0), ("http://a.com/dead", 1, 0),
         ("http://b.com/live", 7, 0)],
    ).withColumn("hbucket", strat.hbucket_col(F.col("host"), 8))
    cold_dir = str(tmp_path / "cold")
    rows.write.partitionBy("hbucket").parquet(cold_dir)
    qs = _qs(spark, [("a.com", (5, 0, "m"), 1, 0, True, 4, True),
                     ("b.com", None, 1, 0, True, 4, True)])
    live = strat.compact_cold(spark, qs, [cold_dir])
    assert {r["url"] for r in live.collect()} == {
        "http://a.com/live", "http://b.com/live"
    }


def test_cold_read_spans_several_deltas(spark, tmp_path):
    """Each round appends its cold delta under its own partitioned root;
    replenish, compaction and the seed-budget sweep read them all at
    once. The read must union the deltas (one multi-root parquet read
    fails partition discovery) and keep every delta's bucket pruning."""
    urls = {}
    paths = []
    for rnd in (1, 3):
        specs = [(f"http://h{i}.com/r{rnd}", 2, rnd) for i in range(12)]
        rows = _rows(spark, specs).withColumn(
            "hbucket", strat.hbucket_col(F.col("host"), 8)
        )
        path = str(tmp_path / f"r{rnd}" / "frontier_cold")
        rows.write.partitionBy("hbucket").parquet(path)
        paths.append(path)
        urls.update({r["url"]: r["hbucket"] for r in rows.collect()})
    cold = strat.read_cold(spark, paths)
    assert {r["url"]: r["hbucket"] for r in cold.collect()} == urls
    one = cold.filter(F.col("hbucket") == 3)
    assert {r["url"] for r in one.collect()} == {
        u for u, b in urls.items() if b == 3
    }
    from dnscrawler_spark.plans.checks import explain_str

    scans = explain_str(one).split("PartitionFilters")[1:]
    assert len(scans) == len(paths)
    assert all("hbucket" in s.split("]", 1)[0] for s in scans), scans

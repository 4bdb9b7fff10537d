import pandas as pd
from pyspark.sql import functions as F

from dnscrawler_spark.operators import frontier as fr
from dnscrawler_spark.operators import politeness as pol


def _mk_frontier(spark, urls, n_salts=4):
    df = (
        spark.createDataFrame([(u,) for u in urls], ["url"])
        .withColumn("priority", F.lit(2))
        .withColumn("depth", F.lit(1))
        .withColumn("round", F.lit(0))
        .withColumn("reason", F.lit("expand"))
        .withColumn("seed", F.lit("http://seed/x"))
        .withColumn("attempts", F.lit(0))
    )
    return fr.derive_frontier_cols(df, n_salts)


def _mk_policy(spark, rows):
    """rows: (host, rate, burst, disallow)."""
    from dnscrawler_spark.datagen import HOST_STATE_SCHEMA

    return spark.createDataFrame(
        [(h, r, b, dis, True) for (h, r, b, dis) in rows], HOST_STATE_SCHEMA
    )


def _mk_tokens(spark, rows):
    """rows: (host, tokens, asof_round)."""
    from dnscrawler_spark.datagen import HOST_TOKENS_SCHEMA

    return spark.createDataFrame(list(rows), HOST_TOKENS_SCHEMA)


def test_closed_form_refill_equals_iterated(spark):
    """effective_tokens is the closed form of the per-round refill
    ``tokens ← min(burst, tokens + rate)`` — exact at every horizon
    because the cap is absorbing (VERDICT r2 #1/#9: idle hosts need no
    state row, refill is a read-time formula)."""
    policy = _mk_policy(spark, [("a.com", 2.0, 4.0, [])])
    tok = _mk_tokens(spark, [("a.com", 0.5, 2)])
    for rnd, want_iter in [(2, 0.5), (3, 2.5), (4, 4.0), (9, 4.0)]:
        got = pol.prepare_policy(policy, tok, rnd).collect()[0]["tokens"]
        # iterate the per-round rule from asof_round=2
        t = 0.5
        for _ in range(rnd - 2):
            t = min(4.0, t + 2.0)
        assert got == t == want_iter, (rnd, got, t)


def test_no_token_row_means_full_burst(spark):
    policy = _mk_policy(spark, [("a.com", 2.0, 4.0, [])])
    assert pol.prepare_policy(policy, None, 7).collect()[0]["tokens"] == 4.0
    tok = _mk_tokens(spark, [("other.com", 0.0, 0)])
    assert pol.prepare_policy(policy, tok, 7).collect()[0]["tokens"] == 4.0


def test_admission_matches_unsalted_topk_and_debits(spark):
    # one hot host with 40 urls, budget 3 after refill (tokens 0 at r=-1,
    # rate 3 -> effective 3 at round 0)
    urls = [f"http://hot.example.com/img/{i:04d}" for i in range(40)]
    f = _mk_frontier(spark, urls, n_salts=4)
    policy = _mk_policy(spark, [("hot.example.com", 3.0, 6.0, [])])
    tok = _mk_tokens(spark, [("hot.example.com", 0.0, -1)])
    prepared = F.broadcast(pol.prepare_policy(policy, tok, 0))
    admitted, leftover, blocked, debits = pol.admit(f, prepared, round_no=0)
    admitted = admitted.persist()
    got = sorted(r["url"] for r in admitted.collect())
    # oracle decision: per-host global sort by (priority, depth, url), take floor(tokens)
    want = sorted(sorted(urls)[:3])
    assert got == want
    assert leftover.count() == 37
    assert blocked.count() == 0
    row = debits.collect()[0]
    assert row["tokens"] == 0.0 and row["asof_round"] == 0
    admitted.unpersist()


def test_priority_band_beats_url_order(spark):
    base = _mk_frontier(spark, ["http://a.com/img/zzz"], n_salts=2)
    high = base.withColumn("priority", F.lit(0))
    low = _mk_frontier(spark, ["http://a.com/img/aaa"], n_salts=2)
    f = high.union(low)
    policy = _mk_policy(spark, [("a.com", 0.0, 2.0, [])])
    tok = _mk_tokens(spark, [("a.com", 1.0, -1)])
    prepared = F.broadcast(pol.prepare_policy(policy, tok, 0))
    admitted, leftover, _, _ = pol.admit(f, prepared, round_no=0)
    assert [r["url"] for r in admitted.collect()] == ["http://a.com/img/zzz"]
    assert [r["url"] for r in leftover.collect()] == ["http://a.com/img/aaa"]


def test_robots_blocking(spark):
    f = _mk_frontier(spark, ["http://b.com/priv/img-1", "http://b.com/img/img-2"])
    policy = _mk_policy(spark, [("b.com", 1.0, 5.0, ["/priv"])])
    prepared = F.broadcast(pol.prepare_policy(policy, None, 0))
    admitted, leftover, blocked, _ = pol.admit(f, prepared, round_no=0)
    assert [r["url"] for r in blocked.collect()] == ["http://b.com/priv/img-1"]
    assert [r["url"] for r in admitted.collect()] == ["http://b.com/img/img-2"]
    assert leftover.count() == 0


def test_unknown_host_gets_default_budget_and_no_state(spark):
    f = _mk_frontier(spark, [f"http://ghost.net/img/{i}" for i in range(5)])
    policy = _mk_policy(spark, [("other.com", 1.0, 1.0, [])])
    prepared = F.broadcast(pol.prepare_policy(policy, None, 0))
    admitted, leftover, _, debits = pol.admit(f, prepared, round_no=0)
    admitted = admitted.persist()
    assert admitted.count() == 1  # default budget 1/round
    assert leftover.count() == 4
    # hosts outside the policy dimension keep no token state (as before)
    assert debits.count() == 0
    admitted.unpersist()


def test_multi_host_budgets_independent(spark):
    urls = [f"http://h{k}.org/img/{i}" for k in range(3) for i in range(10)]
    f = _mk_frontier(spark, urls)
    policy = _mk_policy(spark, [(f"h{k}.org", 0.0, 9.0, []) for k in range(3)])
    tok = _mk_tokens(spark, [(f"h{k}.org", float(k + 1), -1) for k in range(3)])
    prepared = F.broadcast(pol.prepare_policy(policy, tok, 0))
    admitted, *_ = pol.admit(f, prepared, round_no=0)
    counts = {r["host"]: r["n"] for r in admitted.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert counts == {"h0.org": 1, "h1.org": 2, "h2.org": 3}


def test_robots_policy_slice_only_keeps_active_hosts(spark):
    policy = _mk_policy(
        spark, [("a.com", 1.0, 2.0, ["/priv"]), ("b.com", 1.0, 2.0, [])]
    )
    assert [r["host"] for r in pol.robots_policy(policy).collect()] == ["a.com"]


def test_seed_frontier_shape(spark):
    sf = fr.seed_frontier(spark, ["http://A.com/img/1#x", "http://b.com/img/2"])
    rows = {r["url"]: r for r in sf.collect()}
    assert set(rows) == {"http://a.com/img/1", "http://b.com/img/2"}
    r = rows["http://a.com/img/1"]
    assert r["priority"] == 0 and r["depth"] == 0 and r["reason"] == "seed"
    assert r["seed"] == "http://a.com/img/1"
    assert 0 <= r["salt"] < fr.N_SALTS_DEFAULT


def test_hot_host_admission_parity(spark):
    """One hot host with 10^4 queued rows over every salt: the admitted set
    is exactly the (priority, depth, url) top-``budget`` of its non-blocked
    rows, the oracle's single-queue decision."""
    n, n_salts, budget = 10_000, 8, 37
    rows = [
        (
            f"http://hot.example.com/{'priv' if i % 7 == 0 else 'img'}/{i:05d}",
            i % 3,
            (i // 3) % 5,
        )
        for i in range(n)
    ]
    df = (
        spark.createDataFrame(rows, ["url", "priority", "depth"])
        .withColumn("round", F.lit(0))
        .withColumn("reason", F.lit("expand"))
        .withColumn("seed", F.lit("http://seed/x"))
        .withColumn("attempts", F.lit(0))
    )
    f = fr.derive_frontier_cols(df, n_salts)
    assert f.select("salt").distinct().count() == n_salts
    policy = _mk_policy(spark, [("hot.example.com", 0.0, 64.0, ["/priv"])])
    tok = _mk_tokens(spark, [("hot.example.com", float(budget), -1)])
    prepared = F.broadcast(pol.prepare_policy(policy, tok, 0))
    admitted, leftover, blocked, _ = pol.admit(
        fr.repartition_by_host(f), prepared, round_no=0
    )
    eligible = sorted((p, d, u) for u, p, d in rows if "/priv/" not in u)
    want = sorted(u for _, _, u in eligible[:budget])
    assert sorted(r["url"] for r in admitted.collect()) == want
    assert blocked.count() == n - len(eligible)
    assert leftover.count() == len(eligible) - budget

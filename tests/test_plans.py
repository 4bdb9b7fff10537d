"""Physical-plan regression gates (SURVEY §4.2): pushdown, pruning,
broadcast, codegen — the properties that decide whether a plan survives
a 100x scale-up, asserted on the engine's own operators."""

from pyspark.sql import functions as F

from dnscrawler_spark.plans import (
    count_exchanges,
    explain_str,
    has_broadcast_join,
    has_pushed_filters,
    scan_read_schema,
    whole_stage_codegen_spans,
)

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_shipdate") <= "1998-09-02")
        .select("l_returnflag", "l_quantity")
    )
    assert has_pushed_filters(df, "l_shipdate")


def test_column_pruning_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
    )
    schemas = scan_read_schema(df)
    assert schemas and all(set(s) == {"l_orderkey", "l_quantity"} for s in schemas)


def test_small_dim_join_broadcasts(spark):
    nation = spark.read.parquet(f"{SF}/nation.parquet")
    region = spark.read.parquet(f"{SF}/region.parquet")
    j = nation.join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    assert has_broadcast_join(j)
    assert count_exchanges(j) == 0  # big side untouched


def test_politeness_single_shuffle_for_phase1(spark):
    """The frontier arrives hash-partitioned by (host, salt); the
    phase-1 ranking window must NOT add a second exchange on top of the
    explicit repartition (partitioning reuse)."""
    from pyspark.sql import Window

    from dnscrawler_spark.operators.frontier import derive_frontier_cols, repartition_by_host

    raw = spark.createDataFrame(
        [(f"http://h{i}.com/x{i}", 0, 0, 0, "seed", f"http://h{i}.com/x{i}", 0) for i in range(50)],
        ["url", "priority", "depth", "round", "reason", "seed", "attempts"],
    )
    fr = repartition_by_host(derive_frontier_cols(raw, 8), 4)
    w = Window.partitionBy("host", "salt").orderBy("priority", "depth", "url")
    ranked = fr.withColumn("rn", F.row_number().over(w))
    # exactly the explicit repartition; the window reuses it
    assert count_exchanges(ranked) == 1


def test_expand_dedup_is_hash_agg_not_sort(spark):
    """Candidate dedup must partial-aggregate (map-side combine), not
    window-sort: assert HashAggregate present, no Window/Sort over the
    full edge stream."""
    from dnscrawler_spark import datagen
    from dnscrawler_spark.operators import expand as X

    pages = datagen.generate_pages(spark, 64, seed=42, partitions=2)
    pages_keyed = X.prepare_pages(pages)
    fetched = pages_keyed.withColumn("seed", F.col("url")).withColumn(
        "depth", F.lit(0)
    )
    cand = X.expand_candidates(fetched, 4)
    from dnscrawler_spark.plans import explain_str

    plan = explain_str(cand, "simple")
    # two-phase aggregation with map-side combine (partial_min), never a
    # per-key global sort window over the full edge stream
    assert "partial_min" in plan
    assert "Window" not in plan


def test_engine_expressions_stay_in_codegen(spark):
    """The fact-explosion pipeline (filters + string funcs + explode)
    must be whole-stage-codegen'd — no Python in the hot path."""
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_quantity") > 10)
        .select(
            F.lower("l_returnflag").alias("f"),
            F.split(F.col("l_shipdate").cast("string"), "-").alias("ws"),
        )
        .select("f", F.explode("ws").alias("w"))
        .groupBy("f", "w")
        .count()
    )
    assert whole_stage_codegen_spans(df) >= 1


def test_ivf_topk_plan_equality_join_single_shuffle(spark):
    """IVF ANN scale shape: cluster assignment is literal arithmetic in
    a codegen'd projection over the corpus scan (no exchange added),
    the probe join is an EQUALITY broadcast join on the cluster key —
    never a nested-loop/cartesian like the brute-force baseline — and
    the only shuffle is the per-query top-k window."""
    from dnscrawler_spark.operators.similarity import ivf_topk

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = ivf_topk(e, e.filter(F.col("vec_id") < 4), k=10, n_centroids=8, n_probe=2)
    plan = explain_str(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert count_exchanges(df) == 1  # the query_id window, nothing else


def test_phash_near_dup_plan_equality_join_no_cartesian(spark):
    """Image phash near-dedup scale shape: the pigeonhole chunk join is
    an EQUALITY join on (chunk, ck) — never a nested-loop/cartesian
    like the all-pairs baseline — and the hamming popcount stays in
    codegen (bit_count over xor, no Python)."""
    import __spark_entry__ as entry
    from dnscrawler_spark.operators.dedup import phash_near_dup

    df = phash_near_dup(entry._phash_probe_images(spark, 64), max_hamming=3)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bit_count" in plan and "pythonUDF" not in plan.lower()


def test_connected_components_iteration_plan_and_survivor_agg(spark):
    """Scale shape of the dedup-cluster stage: one star iteration is
    groupBy-min + EQUALITY self-join only (no cartesian, no Python),
    and survivor election is a partial-aggregatable min(struct) groupBy
    — NOT a window rank, so a mega-component never sorts through a
    single partition."""
    from dnscrawler_spark.operators.components import (
        _canon_edges, _large_star, _small_star, dedup_survivors,
    )

    pairs = spark.createDataFrame([("a", "b"), ("b", "c")], ["id_a", "id_b"])
    step = _small_star(_large_star(_canon_edges(pairs, "id_a", "id_b")))
    plan = explain_str(step)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "pythonUDF" not in plan.lower()

    docs = spark.createDataFrame([("a", 1.0), ("b", 2.0)], ["doc_id", "q"])
    surv = dedup_survivors(docs, pairs, prefer="q")
    splan = explain_str(surv)
    assert "Window" not in splan  # election is an aggregate, not a rank
    assert "partial_min" in splan or "HashAggregate" in splan or "SortAggregate" in splan
    assert "CartesianProduct" not in splan

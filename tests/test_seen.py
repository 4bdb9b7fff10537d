import numpy as np
import pytest
from pyspark.sql import functions as F

from dnscrawler_spark.operators.seen import SeenExprs, SeenFilter, _Shard
from dnscrawler_spark.plans.checks import count_exchanges


def test_shard_bloom_no_false_negatives():
    s = _Shard(n_bits=1 << 14, n_buckets=1 << 8, k=7)
    keys = np.arange(-500, 500, dtype=np.int64) * 7919
    s.bloom_insert(keys)
    assert s.bloom_probe(keys).all()


def test_shard_cuckoo_exact_on_inserted():
    s = _Shard(n_bits=1 << 14, n_buckets=1 << 10, k=7)
    keys = (np.arange(1000, dtype=np.int64) - 500) * 104729
    s.cuckoo_insert(keys)
    assert not s.degraded
    assert s.cuckoo_probe(keys).all(), "cuckoo must have no false negatives"
    other = np.arange(10_000, 12_000, dtype=np.int64) * 31 + 7
    fp_rate = s.cuckoo_probe(other).mean()
    assert fp_rate < 0.02, fp_rate


def test_shard_roundtrip(tmp_path):
    s = _Shard(n_bits=1 << 12, n_buckets=1 << 6, k=5)
    keys = np.array([1, -2, 3_000_000_000_000], dtype=np.int64)
    s.bloom_insert(keys)
    s.cuckoo_insert(keys)
    p = str(tmp_path / "x.npz")
    s.save(p)
    s2 = _Shard.load(p)
    assert s2.bloom_probe(keys).all()
    assert s2.cuckoo_probe(keys).all()
    assert s2.n_items == s.n_items


@pytest.fixture()
def small_filter(tmp_path):
    return SeenFilter(str(tmp_path), n_shards=4, n_bits=1 << 14, n_buckets=1 << 8, k=7)


def test_insert_then_filter_unseen_is_exact(spark, small_filter):
    a = spark.range(0, 300).select((F.col("id") * 2654435761).alias("url_key"))
    b = spark.range(150, 450).select((F.col("id") * 2654435761).alias("url_key"))
    f1 = small_filter.insert(a, round_no=0)
    assert sorted(f1.shard_paths) == [0, 1, 2, 3]
    unseen = f1.filter_unseen(b, "url_key")
    got = sorted(r["url_key"] for r in unseen.collect())
    want = sorted((i * 2654435761) for i in range(300, 450))
    assert got == want, "seen-set must be exact: no FPs dropping rows, no FNs re-admitting"
    spark.catalog.clearCache()


def test_insert_is_copy_on_write(spark, small_filter, tmp_path):
    a = spark.range(0, 50).select(F.col("id").alias("url_key"))
    b = spark.range(50, 100).select(F.col("id").alias("url_key"))
    f1 = small_filter.insert(a, round_no=0)
    f2 = f1.insert(b, round_no=1)
    assert any("seen_r000000" in p for p in f1.shard_paths.values())
    assert all("seen_r000001" in p for p in f2.shard_paths.values())
    # old filter still answers old state: key 60 unseen for f1, seen for f2
    probe_df = spark.range(60, 61).select(F.col("id").alias("url_key"))
    assert f1.filter_unseen(probe_df).count() == 1
    assert f2.filter_unseen(probe_df).count() == 0
    spark.catalog.clearCache()


def test_manifest_roundtrip(spark, small_filter):
    a = spark.range(0, 20).select(F.col("id").alias("url_key"))
    f1 = small_filter.insert(a, round_no=0)
    m = f1.to_manifest()
    f2 = SeenFilter.from_manifest(m)
    probe_df = spark.range(0, 40).select(F.col("id").alias("url_key"))
    assert f2.filter_unseen(probe_df).count() == 20
    spark.catalog.clearCache()


def test_probe_empty_filter_says_unseen(spark, small_filter):
    df = spark.range(5).select(F.col("id").alias("url_key"))
    v = small_filter.probe(df).collect()
    assert all((not r["maybe_seen"]) and (not r["needs_exact"]) for r in v)


def test_fused_insert_and_probe_same_round_dup(spark, tmp_path):
    """The fused pass must treat a key inserted THIS round as seen when
    it also appears as a probe candidate (the same-round duplicate: a
    page fetched in round r that is also discovered as an edge in round
    r) — and must still pass brand-new keys through. Both calls give
    the same verdicts whether they build their Column expressions or
    share one ``SeenExprs``, as the engine's rounds do."""
    for i, ex in enumerate([None, SeenExprs()]):
        f = SeenFilter(state_dir=str(tmp_path / f"s{i}"), n_shards=4,
                       n_bits=1 << 14, n_buckets=1 << 8)
        ins = spark.createDataFrame([(k,) for k in range(100)], ["url_key"])
        probe = spark.createDataFrame(
            [(k,) for k in range(50, 150)], ["url_key"]
        ).withColumn("tag", F.lit("x"))
        f2, _, _, parts = f.insert_and_probe(ins, probe, round_no=0, exprs=ex)
        got = sorted(r["url_key"] for r in parts["unseen"].collect())
        assert got == list(range(100, 150))
        # next round: everything inserted so far is seen via the new filter
        probe2 = spark.createDataFrame([(k,) for k in range(150)], ["url_key"])
        f3, _, _, parts2 = f2.insert_and_probe(
            spark.createDataFrame([(999999,)], ["url_key"]), probe2, round_no=1,
            exprs=ex,
        )
        got2 = sorted(r["url_key"] for r in parts2["unseen"].collect())
        assert got2 == list(range(100, 150))
        f3.release()


@pytest.mark.parametrize("n_shards", [2, 4, 8])
def test_shards_run_one_per_task(spark, tmp_path, n_shards):
    """The per-shard pass runs shard s in partition s: hashing
    ``shard_id`` into ``n_shards`` partitions put two of 2 shards, and
    three of 4, in one task and left the others empty. The grouping
    still reuses the one exchange."""
    f = SeenFilter(str(tmp_path), n_shards=n_shards)
    keys = spark.range(0, 400).select((F.col("id") * 2654435761).alias("url_key"))
    sharded = f._sharded(keys, "url_key")
    placed = sharded.select("shard_id", F.spark_partition_id().alias("part")).distinct()
    assert sorted((r["shard_id"], r["part"]) for r in placed.collect()) == [
        (s, s) for s in range(n_shards)
    ]
    grouped = sharded.groupBy("shard_id").applyInPandas(
        lambda pdf: pdf.head(1), sharded.schema
    )
    assert count_exchanges(grouped) == 1


def test_tier3_confirm_is_shard_pruned(spark, small_filter, tmp_path):
    """VERDICT r1 'What's wrong' #1: the exact confirm must read only the
    suspect shard's key files, and the round plan must not scan the key
    store Spark-side at all."""
    from dnscrawler_spark.operators import seen as seen_mod
    from dnscrawler_spark.plans.checks import explain_str

    a = spark.range(0, 400).select((F.col("id") * 2654435761).alias("url_key"))
    f1 = small_filter.insert(a, round_no=0)
    keys_dir = f1.key_files[0]
    import os

    parts = sorted(os.listdir(keys_dir))
    assert parts == [f"part-{i:05d}.parquet" for i in range(4)]
    # shard-level pruning: one shard id -> exactly its one file
    got = seen_mod._shard_key_files(f1.key_files, 2)
    assert got == [os.path.join(keys_dir, "part-00002.parquet")]
    # a second round touching only shard 0 adds one file for shard 0 only
    one = spark.createDataFrame([(4 * 2654435761,)], ["url_key"])  # pmod 0
    f2 = f1.insert(one, round_no=1)
    assert len(seen_mod._shard_key_files(f2.key_files, 0)) == 2
    assert len(seen_mod._shard_key_files(f2.key_files, 2)) == 1
    # the unseen plan contains no Spark-side scan of the key store
    probe_df = spark.range(0, 500).select((F.col("id") * 2654435761).alias("url_key"))
    unseen = f2.filter_unseen(probe_df)
    assert "keys.parquet" not in explain_str(unseen, "simple")
    got_keys = sorted(r["url_key"] for r in unseen.collect())
    assert got_keys == sorted(i * 2654435761 for i in range(400, 500))
    f2.release()
    spark.catalog.clearCache()


def test_exact_confirm_unit(tmp_path):
    """_exact_confirm flags exactly the keys present in the given files
    (true dupes confirmed, fingerprint false-positives rejected)."""
    import numpy as np
    import pandas as pd

    from dnscrawler_spark.operators.seen import _exact_confirm

    p1 = str(tmp_path / "r0.parquet")
    p2 = str(tmp_path / "r1.parquet")
    pd.DataFrame({"url_key": np.array([10, 20, 30], dtype=np.int64)}).to_parquet(p1)
    pd.DataFrame({"url_key": np.array([40, -50], dtype=np.int64)}).to_parquet(p2)
    sus = np.array([10, 15, -50, 99, 30], dtype=np.int64)
    got = _exact_confirm(sus, [p1, p2])
    assert got.tolist() == [True, False, True, False, True]
    assert _exact_confirm(np.array([], dtype=np.int64), [p1]).size == 0
    assert _exact_confirm(sus, []).tolist() == [False] * 5

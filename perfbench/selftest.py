#!/usr/bin/env python3
"""Self-test of the crawl workload's generator: the same engine
configuration as ``crawl-polite`` at a tiny shape must reproduce the
pure-Python oracle crawler's seen set and crawl trace exactly.

    python3 perfbench/selftest.py        # from the repository root; exit 0 = match
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)

TINY = {"n_pages": 400, "n_seeds": 60, "n_hosts": 16, "rounds": 4, "seed": 5}


def main() -> int:
    sys.path.insert(1, CHECKOUT)
    os.environ["PYTHONPATH"] = CHECKOUT
    import box
    import workloads as W
    from dnscrawler_spark import datagen
    from dnscrawler_spark.oracle import crawler as oracle

    shape = dict(
        W.CRAWL_POLITE, n_pages=TINY["n_pages"], n_seeds=TINY["n_seeds"], n_hosts=TINY["n_hosts"]
    )
    seed, n_cores = TINY["seed"], box.cores()
    seeds = datagen.seed_urls(shape["n_seeds"], shape["n_pages"], seed=seed, n_hosts=shape["n_hosts"])
    corpus = [
        datagen.page_row(i, seed, shape["n_pages"], shape["n_hosts"], shape["px_scale"])
        for i in range(shape["n_pages"])
    ]
    want = oracle.crawl(
        corpus, seeds, rate_scale=shape["rate_scale"], max_rounds=TINY["rounds"],
        gen_seed=seed, two_wave=shape["two_wave"],
    )

    ws = box.Workspace(CHECKOUT)
    spark = box.start_spark(ws, n_cores, box.heap_mb_for(box.ram_mb()), event_log=False)
    try:
        # the workload's own engine and generated inputs (seed frontier and
        # host state), against the oracle fed the pure-Python seed list
        eng, seed_df, hs = W.crawl_engine(spark, ws, shape, seed, n_cores, TINY["rounds"])
        final = eng.run(eng.start(seed_df, hs))
        got_seen = {r["url"] for r in eng.seen_urls(final).collect()}
        got_trace = eng.crawl_trace(final)
    finally:
        box.stop_spark(spark)
        ws.close()

    ok_seen = got_seen == want.seen
    ok_trace = got_trace == want.trace
    print(f"seen set: engine {len(got_seen)} urls, oracle {len(want.seen)}: {'match' if ok_seen else 'DIFFER'}")
    print(f"trace: engine {len(got_trace)} fetches, oracle {len(want.trace)}: {'match' if ok_trace else 'DIFFER'}")
    return 0 if ok_seen and ok_trace else 1


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Re-record the expected outputs in perfbench/recorded.json.

    python3 perfbench/record.py          # from the repository root

Runs the crawl-polite crawl at the recorded seed for RECORD_ROUNDS rounds
and the operator-suite queries once, and writes the seen-set digest after
each round, the per-round crawl_trace_digest and the per-query result
hashes. Every other section of recorded.json is kept. Run it only when a
change is meant to alter outputs, and re-check the suite hashes against
the DuckDB oracle (scripts/check_correctness.py) when it does.
"""

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
RECORDED = os.path.join(HERE, "recorded.json")
RECORD_ROUNDS = 6


def main() -> int:
    sys.path.insert(1, CHECKOUT)
    os.environ["PYTHONPATH"] = CHECKOUT
    os.environ["SPARK_GRAFT_SKIP_ORACLE_DUMP"] = "1"
    import box
    import workloads as W
    from dnscrawler_spark.operators.seen import SeenFilter
    from tracer import NullTracer

    with open(RECORDED) as f:
        recorded = json.load(f)
    expected = recorded.setdefault("expected", {})
    seed = expected["crawl"]["seed"]
    n_cores = box.cores()

    ws = box.Workspace(CHECKOUT)
    spark = box.start_spark(ws, n_cores, box.heap_mb_for(box.ram_mb()), event_log=False)
    try:
        # the workload's own passes: its warm-up and measured passes
        suite = W.run_suite(spark, 0, time.monotonic(), {}, NullTracer())
        hashes = suite.extra["result_hashes"]
        if any(len(h) != 1 for h in hashes.values()):
            raise RuntimeError(f"a query's result differs between passes: {hashes}")
        expected["suite_hashes"] = {name: list(h.pop()) for name, h in hashes.items()}
        eng, seeds, hs = W.crawl_engine(spark, ws, W.CRAWL_POLITE, seed, n_cores, RECORD_ROUNDS)
        final = eng.run(eng.start(seeds, hs))
        expected["crawl"] = {
            "seed": seed,
            "seen_digest": {
                str(r): v for r, v in W.seen_digests(SeenFilter.from_manifest(final.seen)).items()
            },
            "trace_digest": eng.crawl_trace_digest(final),
        }
    finally:
        box.stop_spark(spark)
        ws.close()

    with open(RECORDED, "w") as f:
        json.dump(recorded, f, indent=1)
        f.write("\n")
    print(f"recorded {len(expected['suite_hashes'])} query hashes and {RECORD_ROUNDS} crawl rounds")
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Crawl-frontier benchmark: one workload, one fresh JVM per invocation.

    python3 perfbench/run.py --workload crawl-polite --seed 7 --seconds 20 --trace 0
    python3 perfbench/run.py --workload operator-suite --seed 7 --seconds 20 --trace 1

Run from the repository root. Prints a human-readable report, then, as the
last line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the ``end_to_end`` metrics of BENCHMARK.json untraced, the
``per_layer`` ones with ``--trace 1``). Exits 1 when an output check fails.
"""

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
WORKLOADS = ("crawl-polite", "operator-suite")


def _env() -> None:
    # the run is configured by its arguments alone: drop every inherited
    # engine/bench knob, then let Python workers import the checkout
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    # query timings measure the engine, not the pure-Python oracle twins
    os.environ["SPARK_GRAFT_SKIP_ORACLE_DUMP"] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (CHECKOUT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(1, CHECKOUT)


def _report(args, box_info, out, e2e, layer) -> None:
    crawl = args.workload.startswith("crawl")
    failed_share = out.failed / out.attempted
    rows = [
        ("setup_s", e2e["setup_s"], "s"),
        ("urls_per_s", out.work_per_s if crawl else None, "1/s"),
        ("round_p50_s", e2e["step_p50_s"] if crawl else None, "s"),
        ("suite_s", None if crawl else e2e["step_p50_s"], "s"),
        ("peak_rss_mb", e2e["peak_rss_mb"], "MB"),
        ("disk_bytes_per_url", out.extra.get("disk_bytes_per_url"), "B"),
        ("failed_share", failed_share, "1"),
    ]
    print(
        f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace} cores={box_info['cores']} ram_mb={box_info['ram_mb']} "
        f"heap_mb={box_info['heap_mb']} steps={len(out.steps)}"
    )
    print(
        "  step walls (s, * traced): "
        + " ".join(f"{w:.3f}{'*' if tr else ''}" for w, tr in zip(out.steps, out.traced))
    )
    for name, value, unit in rows:
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"  {name:<20} {shown:>14} {unit}")
    for name, ok, detail in out.checks:
        print(f"  check {name:<28} {'ok' if ok else 'FAILED'}  {detail}")
    for name, walls in out.extra.get("query_walls", {}).items():
        print(f"  query {name:<34} " + " ".join(f"{w:.3f}" for w in walls))
    for name, value in sorted(layer.items()):
        print(f"  layer {name:<34} {value:.6g}")


def _layer_metrics(args, out, tracer, jobs, stages):
    import tracer as T
    import workloads as W

    m = {"session.start_s": next(s.wall for s in tracer.spans if s.name == "session.start")}
    m.update(T.spark_totals(tracer.spans, jobs, stages, out.t_measure))
    if args.workload.startswith("crawl"):
        crawl_m, info = T.crawl_layers(tracer.spans, jobs, out.t_measure)
        m.update(crawl_m)
        # round metrics of the traced rounds, as the spans cover only those
        hist = [h for h, tr in zip(out.extra["history"], out.traced) if tr]
        admitted = sum(h["n_admitted"] for h in hist)
        m["expand.urls_fetched"] = float(statistics.median(h["n_admitted"] for h in hist))
        m["expand.hit_ratio"] = sum(h["n_fetched"] for h in hist) / admitted
        m["expand.bad_payloads"] = float(sum(h["n_bad_payloads"] for h in hist))
        m["expand.us_per_url"] = m["expand.fetch_s"] / m["expand.urls_fetched"] * 1e6
        m["seen.new_ratio"] = sum(h["n_new"] for h in hist) / info["probed"] if info["probed"] else 0.0
        m["stratified.cold_backlog"] = float(out.extra["cold_backlog"])
        m["snapshots.bytes_per_url"] = out.extra["disk_bytes_per_url"]
        m["trace.self_sum_err"] = info["self_sum_err"]
        ls = info["layer_self_s"]
        wall = m["rounds.round_s"]
        print("  round self time by layer (s per round, share of round wall):")
        for layer, t in sorted(ls.items(), key=lambda kv: -kv[1]):
            print(f"    {layer:<22} {t:8.3f}  {t / wall:6.1%}")
        floor = sum(ls.get(k, 0.0) for k in ("rounds", "politeness", "stratified", "snapshots"))
        print(
            f"  rationale: rounds+politeness+stratified+snapshots self {floor:.3f} s"
            f" vs expand.fetch_s {m['expand.fetch_s']:.3f} s:"
            f" {'holds' if floor > m['expand.fetch_s'] else 'DOES NOT HOLD'}"
        )
    else:
        m.update(T.suite_layers(tracer.spans, jobs, W.SUITE, sum(out.traced)))
    m["trace.overhead_share"] = out.overhead_share
    print(
        "  tracing overhead (traced step median / untraced step median - 1):"
        f" {m['trace.overhead_share']:.4f}"
    )
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    _env()

    # a directory holding only the benchmark fails here, before any output
    import dnscrawler_spark  # noqa: F401

    import box
    import tracer as T
    import workloads as W

    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "recorded.json")) as f:
        expected = json.load(f)["expected"]
    n_cores, ram = box.cores(), box.ram_mb()
    box_info = {"cores": n_cores, "ram_mb": ram, "heap_mb": box.heap_mb_for(ram)}

    ws = box.Workspace(CHECKOUT)
    rss = box.RssSampler().start()
    tracer = T.Tracer() if args.trace else T.NullTracer()
    spark = None
    jobs, stages = [], 0
    try:
        with tracer.span("session.start"):
            spark = box.start_spark(ws, n_cores, box_info["heap_mb"], event_log=bool(args.trace))
        if args.trace:
            tracer.install()
        if args.workload == "crawl-polite":
            out = W.run_crawl(
                spark, ws, W.CRAWL_POLITE, args.seed, args.seconds, T0, n_cores, expected, tracer
            )
        else:
            out = W.run_suite(spark, args.seconds, T0, expected, tracer)
    finally:
        if args.trace:
            tracer.uninstall()
        if spark is not None:
            box.stop_spark(spark)
        peak_mb = rss.stop()
        if args.trace and spark is not None:
            jobs, stages = T.read_event_log(ws.evlog)
        ws.close()

    e2e = {
        "setup_s": out.setup_s,
        "step_p50_s": out.step_p50_s,
        "peak_rss_mb": peak_mb,
    }
    layer = _layer_metrics(args, out, tracer, jobs, stages) if args.trace else {}
    _report(args, box_info, out, e2e, layer)

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    values = layer if args.trace else e2e
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted
    }
    correct = out.failed == 0
    print(
        json.dumps(
            {"correct": correct, "attempted": out.attempted, "failed": out.failed, "metrics": metrics}
        ),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

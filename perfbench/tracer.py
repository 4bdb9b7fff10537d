"""Spans around the calls into each layer, and the event-log reducer.

``Tracer.install()`` wraps the program's public entry points in memory;
no program file changes. Each span records name, start, end, parent span,
thread and round. While a span is open in a thread, that thread's Spark
local property ``perfbench.span`` names it (and the job description reads
``r<round>:<span>``), so every job in the Spark event log can be charged
to the innermost open span of the thread that launched it.

Layers follow the repo's modules: ``session``, ``rounds``
(streaming.rounds), ``politeness``, ``stratified``, ``frontier``,
``expand``, ``seen`` (operators.*), ``snapshots`` (sources.snapshots)
and the query families of the operator suite (``suite.*``).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager, nullcontext

from box import dir_bytes

SPAN_PROP = "perfbench.span"
MB = float(1 << 20)


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "thread", "round", "attrs")

    def __init__(self, sid, name, parent, rnd, attrs):
        self.id = sid
        self.name = name
        self.start = time.time()
        self.end = None
        self.parent = parent
        self.thread = threading.get_ident()
        self.round = rnd
        self.attrs = attrs

    @property
    def layer(self) -> str:
        return self.name.split(".")[0] if not self.name.startswith("suite.") else self.name

    @property
    def wall(self) -> float:
        return self.end - self.start


class NullTracer:
    traced = False

    def span(self, name, **attrs):
        return nullcontext()

    def step(self, i: int) -> bool:
        return False


class Tracer:
    traced = True

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    # -- span bookkeeping ---------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else getattr(self._tls, "adopted", None)

    def _set_props(self, s: Span | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return
        sc.setLocalProperty(SPAN_PROP, None if s is None else str(s.id))
        sc.setJobDescription(None if s is None else f"r{s.round}:{s.name}")

    def _push(self, s: Span) -> None:
        self._stack().append(s)
        self._set_props(s)

    def _pop(self, s: Span) -> None:
        st = self._stack()
        st.remove(s)
        self._set_props(self.current())

    def open(self, name: str, rnd=None, **attrs) -> Span:
        parent = self.current()
        if rnd is None and parent is not None:
            rnd = parent.round
        with self._lock:
            s = Span(len(self.spans), name, None if parent is None else parent.id, rnd, attrs)
            self.spans.append(s)
        self._push(s)
        return s

    def close(self, s: Span) -> None:
        s.end = time.time()
        self._pop(s)

    @contextmanager
    def span(self, name: str, rnd=None, **attrs):
        s = self.open(name, rnd, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def adopt(self, parent: Span | None, fn, *a, **kw):
        """Run ``fn`` in a pool thread as a child of the submitter's span.
        The thread's Spark properties are set and cleared here, so a job
        a pooled task launches in a later, untraced step carries no stale
        span."""
        self._tls.adopted = parent
        self._set_props(parent)
        try:
            return fn(*a, **kw)
        finally:
            self._tls.adopted = None
            self._set_props(None)

    def step(self, i: int) -> bool:
        """Install or remove the wrappers for measured step ``i``; returns
        whether it runs traced. Steps go T U U T T U U T ..., so traced and
        untraced steps of one run, same code and seed, give the tracing
        overhead, and a steady drift of step walls over the run cancels."""
        traced = i % 4 in (0, 3)
        if traced:
            self.install()
        else:
            self.uninstall()
        return traced

    # -- wrapping -------------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrapper(orig)))

    def _replace(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _simple(self, name, rnd_of=None):
        def make(orig):
            def call(*a, **kw):
                with self.span(name, rnd_of(a) if rnd_of else None):
                    return orig(*a, **kw)

            return call

        return make

    def _until_checkpoint(self, name, count_verdicts=False):
        """Span from the call to the end of the eager ``localCheckpoint()``
        the caller applies to the returned plan; ``plan_s`` keeps the
        plan-building part."""

        def make(orig):
            def call(*a, **kw):
                s = self.open(name)
                try:
                    df = orig(*a, **kw)
                finally:
                    s.end = time.time()
                    s.attrs["plan_s"] = s.end - s.start
                    self._pop(s)
                ckpt = df.localCheckpoint

                def checkpoint(*ca, **ckw):
                    self._push(s)
                    try:
                        res = ckpt(*ca, **ckw)
                    finally:
                        s.end = time.time()
                        self._pop(s)
                    if count_verdicts:
                        with self.span("trace.count"):
                            s.attrs["verdicts"] = {
                                r["_verdict"]: int(r["count"])
                                for r in res.groupBy("_verdict").count().collect()
                            }
                    return res

                df.localCheckpoint = checkpoint
                return df

            return call

        return make

    def _write(self, orig):
        def call(store, df, round_no, name, *a, **kw):
            with self.span("snapshots.write", table=name) as s:
                path = orig(store, df, round_no, name, *a, **kw)
            s.attrs["bytes"] = dir_bytes(path)
            return path

        return call

    def _seen_pass(self, orig):
        def call(seen, insert_keys, probe_df, round_no, *a, **kw):
            tag = kw.get("tag", "")
            with self.span("seen.pass") as s:
                res = orig(seen, insert_keys, probe_df, round_no, *a, **kw)
            dirs = [os.path.join(seen.state_dir, f"seen_r{round_no:06d}{tag}")]
            if kw.get("glue") is not None:
                dirs.append(os.path.join(kw["glue"].state_dir, f"glue_r{round_no:06d}{tag}"))
            if kw.get("enqueue") is not None:
                dirs.append(os.path.join(kw["enqueue"].state_dir, f"enq_r{round_no:06d}{tag}"))
            s.attrs["state_bytes"] = sum(dir_bytes(d) for d in dirs)
            s.attrs["stats"] = res[0].last_stats
            with self.span("trace.count"):
                # the probe frame is cached by the caller: a cache read
                s.attrs["probed"] = probe_df.count()
            return res

        return call

    def _replenish(self, orig):
        """``replenish`` only plans the cold-backlog pull and persists it;
        untraced, the pull then runs inside the next eager job, the
        politeness decide checkpoint. Here the span also materializes the
        persisted frames, so the pull's execution lands in
        ``stratified.replenish`` and the decide reads it from the cache."""

        def call(*a, **kw):
            with self.span("stratified.replenish") as s:
                hot, qs, persisted = orig(*a, **kw)
                s.attrs["pulled"] = sum(df.count() for df in persisted)
            return hot, qs, persisted

        return call

    def install(self) -> None:
        if self._undo:
            return
        from dnscrawler_spark.operators import expand, politeness, seen, stratified
        from dnscrawler_spark.sources import snapshots
        from dnscrawler_spark.streaming import rounds

        tracer = self

        class TracedPool(ThreadPoolExecutor):
            def submit(self, fn, *a, **kw):
                return super().submit(tracer.adopt, tracer.current(), fn, *a, **kw)

        self._replace(rounds, "ThreadPoolExecutor", TracedPool)
        E = rounds.CrawlEngine
        self._patch(E, "start", self._simple("rounds.start", lambda a: 0))
        self._patch(E, "run_round", self._simple("rounds.round", lambda a: a[1].round))
        self._patch(E, "flush", self._simple("rounds.flush"))
        S = snapshots.SnapshotStore
        self._patch(S, "write_table", self._write)
        self._patch(S, "read_table", self._simple("snapshots.read_plan"))
        self._patch(S, "commit", self._simple("snapshots.commit"))
        F = seen.SeenFilter
        self._patch(F, "insert", self._simple("seen.insert"))
        self._patch(F, "insert_and_probe", self._seen_pass)
        self._patch(politeness, "admit_decided", self._until_checkpoint("politeness.decide", True))
        for fn in ("prepare_policy", "apply_debits", "split_decided", "robots_policy"):
            self._patch(politeness, fn, self._simple("politeness.plan"))
        self._patch(stratified, "replenish", self._replenish)
        self._patch(stratified, "compact_cold", self._simple("stratified.compact"))
        for fn in ("route", "initial_queue_state"):
            self._patch(stratified, fn, self._simple("stratified.plan"))
        self._patch(expand, "fetch_synthetic", self._until_checkpoint("expand.fetch"))
        for fn in (
            "classify_misses", "new_glue", "expand_candidates", "finalize_candidates",
            "fetched_facts", "failure_facts", "simple_facts",
        ):
            self._patch(expand, fn, self._simple("expand.plan"))
        for fn in ("repartition_by_host", "seed_frontier_from_df"):
            self._patch(rounds, fn, self._simple("frontier.plan"))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


# -- event log ----------------------------------------------------------------


class Job:
    __slots__ = ("id", "submit", "end", "span", "stages", "tasks", "cpu_s", "gc_s", "shuffle_b")

    def __init__(self, jid, submit, span, stages):
        self.id = jid
        self.submit = submit / 1e3
        self.end = None
        self.span = span
        self.stages = stages
        self.tasks = 0
        self.cpu_s = 0.0
        self.gc_s = 0.0
        self.shuffle_b = 0


def read_event_log(evlog_dir: str) -> tuple[list[Job], int]:
    """Jobs with their span, tasks, task CPU, GC and shuffle bytes; and
    the number of stages that ran."""
    (path,) = glob.glob(os.path.join(evlog_dir, "*"))
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stages_done = 0
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                span = props.get(SPAN_PROP)
                job = Job(ev["Job ID"], ev["Submission Time"], None if span is None else int(span), ev["Stage IDs"])
                jobs[job.id] = job
                for sid in job.stages:
                    stage_job.setdefault(sid, job.id)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                stages_done += 1
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job.tasks += 1
                job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                job.gc_s += m.get("JVM GC Time", 0) / 1e3
                rd = m.get("Shuffle Read Metrics", {})
                job.shuffle_b += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                job.shuffle_b += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    return [j for j in jobs.values() if j.end is not None], stages_done


# -- reducer ------------------------------------------------------------------


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(iv, lo, hi):
    return max(iv[0], lo), min(iv[1], hi)


class Reduced:
    """Spans and jobs grouped per round (crawl) or per pass (suite)."""

    def __init__(self, spans: list[Span], jobs: list[Job]):
        self.spans = [s for s in spans if s.end is not None]
        self.by_id = {s.id: s for s in self.spans}
        self.kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                self.kids.setdefault(s.parent, []).append(s)
        self.jobs = jobs
        self.jobs_of: dict[int | None, list[Job]] = {}
        for j in jobs:
            self.jobs_of.setdefault(j.span, []).append(j)

    def depth(self, s: Span) -> int:
        d = 0
        while s.parent is not None:
            s = self.by_id[s.parent]
            d += 1
        return d

    def subtree(self, root: Span) -> list[Span]:
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.kids.get(s.id, []))
        return out

    def exclusive(self, root: Span) -> dict[int, float]:
        """Each instant of ``root``'s interval goes to exactly one span of
        its subtree: the deepest open one (latest start on ties). Returns
        span id → exclusive seconds; they sum to the root's wall."""
        tree = [(s, self.depth(s)) for s in self.subtree(root)]
        cuts = sorted({t for s, _ in tree for t in _clip((s.start, s.end), root.start, root.end)})
        cuts = [t for t in cuts if root.start <= t <= root.end]
        out: dict[int, float] = {}
        for a, b in zip(cuts, cuts[1:]):
            mid = (a + b) / 2
            owner = max(
                ((d, s.start, s.id) for s, d in tree if s.start <= mid < s.end),
                default=(0, 0, root.id),
            )[2]
            out[owner] = out.get(owner, 0.0) + (b - a)
        return out

    def jobs_under(self, root: Span) -> list[Job]:
        ids = {s.id for s in self.subtree(root)}
        return [j for sid in ids for j in self.jobs_of.get(sid, [])]

    def idle(self, lo: float, hi: float) -> float:
        busy = [_clip((j.submit, j.end), lo, hi) for j in self.jobs if j.end > lo and j.submit < hi]
        return (hi - lo) - _union([iv for iv in busy if iv[1] > iv[0]])


def crawl_layers(spans, jobs, t_measure) -> tuple[dict, dict]:
    """Per-layer metrics of a traced crawl, per measured round."""
    rd = Reduced(spans, jobs)
    lo, hi = t_measure
    rounds = [s for s in rd.spans if s.name == "rounds.round" and lo <= s.start < hi]
    n = len(rounds)
    m: dict[str, float] = {}
    info: dict = {"rounds": n}

    def per_round(fn):
        return statistics.median(fn(r) for r in rounds) if rounds else 0.0

    def named(r, name):
        return [s for s in rd.subtree(r) if s.name == name]

    def sum_wall(r, name):
        return sum(s.wall for s in named(r, name))

    excl = {r.id: rd.exclusive(r) for r in rounds}
    info["self_sum_err"] = max(
        (abs(sum(excl[r.id].values()) - r.wall) / r.wall for r in rounds), default=0.0
    )
    layer_excl: dict[str, float] = {}
    for r in rounds:
        for sid, t in excl[r.id].items():
            name = rd.by_id[sid].name
            layer = "rounds" if name == "rounds.round" else rd.by_id[sid].layer
            layer_excl[layer] = layer_excl.get(layer, 0.0) + t / n
    info["layer_self_s"] = layer_excl

    m["rounds.round_s"] = per_round(lambda r: r.wall)
    m["rounds.self_s"] = per_round(lambda r: excl[r.id].get(r.id, 0.0))
    m["rounds.driver_idle_s"] = per_round(lambda r: rd.idle(r.start, r.end))
    m["rounds.jobs"] = per_round(lambda r: len(rd.jobs_under(r)))
    m["rounds.tasks"] = per_round(lambda r: sum(j.tasks for j in rd.jobs_under(r)))
    m["rounds.flush_wait_s"] = per_round(lambda r: sum_wall(r, "rounds.flush"))
    starts = [s for s in rd.spans if s.name == "rounds.start"]
    m["rounds.start_s"] = starts[0].wall if starts else 0.0
    warm = [s for s in rd.spans if s.name == "rounds.round" and s.round == 0]
    m["rounds.warmup_s"] = warm[0].wall if warm else 0.0

    decides = [s for r in rounds for s in named(r, "politeness.decide")]
    admitted = sum(s.attrs.get("verdicts", {}).get("admit", 0) for s in decides)
    ranked = sum(sum(s.attrs.get("verdicts", {}).values()) for s in decides)
    m["politeness.decide_s"] = per_round(lambda r: sum_wall(r, "politeness.decide"))
    m["politeness.plan_s"] = per_round(
        lambda r: sum_wall(r, "politeness.plan")
        + sum(s.attrs["plan_s"] for s in named(r, "politeness.decide"))
    )
    m["politeness.calls"] = len(decides) / max(n, 1)
    m["politeness.admitted"] = admitted / max(n, 1)
    m["politeness.admit_ratio"] = admitted / ranked if ranked else 0.0

    m["stratified.replenish_s"] = per_round(lambda r: sum_wall(r, "stratified.replenish"))
    m["stratified.pulled_rows"] = per_round(
        lambda r: sum(s.attrs.get("pulled", 0) for s in named(r, "stratified.replenish"))
    )
    m["stratified.compact_s"] = per_round(lambda r: sum_wall(r, "stratified.compact"))
    m["stratified.cold_mb_written"] = per_round(
        lambda r: sum(
            s.attrs.get("bytes", 0)
            for s in named(r, "snapshots.write")
            if s.attrs.get("table", "").startswith("frontier_cold")
        )
        / MB
    )

    def job_sum(r, name, attr):
        return sum(getattr(j, attr) for s in named(r, name) for j in rd.jobs_of.get(s.id, []))

    m["expand.fetch_s"] = per_round(lambda r: sum_wall(r, "expand.fetch"))
    m["expand.fetch_task_cpu_s"] = per_round(lambda r: job_sum(r, "expand.fetch", "cpu_s"))
    m["expand.plan_s"] = per_round(
        lambda r: sum_wall(r, "expand.plan")
        + sum(s.attrs["plan_s"] for s in named(r, "expand.fetch"))
    )
    m["frontier.plan_s"] = per_round(lambda r: sum_wall(r, "frontier.plan"))

    passes = [s for r in rounds for s in named(r, "seen.pass")]
    m["seen.pass_s"] = per_round(lambda r: sum_wall(r, "seen.pass"))
    m["seen.passes"] = len(passes) / max(n, 1)
    m["seen.dup_inserts"] = per_round(
        lambda r: sum(s.attrs["stats"].get("n_dup_inserts", 0) for s in named(r, "seen.pass"))
    )
    last = passes[-1].attrs["stats"].get("shards", []) if passes else []
    items = [x["n_items"] for x in last]
    m["seen.items"] = float(sum(items))
    m["seen.shard_skew"] = max(items) / statistics.median(items) if items and statistics.median(items) else 0.0
    m["seen.degraded_shards"] = per_round(
        lambda r: sum(
            sum(1 for x in s.attrs["stats"].get("shards", []) if x["degraded"])
            for s in named(r, "seen.pass")
        )
    )
    m["seen.state_mb_written"] = per_round(
        lambda r: sum(s.attrs.get("state_bytes", 0) for s in named(r, "seen.pass")) / MB
    )
    m["seen.task_cpu_s"] = per_round(lambda r: job_sum(r, "seen.pass", "cpu_s"))
    m["seen.shuffle_mb"] = per_round(lambda r: job_sum(r, "seen.pass", "shuffle_b") / MB)
    info["probed"] = sum(s.attrs.get("probed", 0) for s in passes)

    def writes(r):
        return named(r, "snapshots.write")

    m["snapshots.write_s"] = per_round(lambda r: sum(s.wall for s in writes(r)))
    m["snapshots.write_wall_s"] = per_round(lambda r: _union([(s.start, s.end) for s in writes(r)]))
    m["snapshots.writes"] = per_round(lambda r: len(writes(r)))
    m["snapshots.mb_written"] = per_round(lambda r: sum(s.attrs.get("bytes", 0) for s in writes(r)) / MB)
    m["snapshots.commit_s"] = per_round(lambda r: sum_wall(r, "snapshots.commit"))
    m["snapshots.read_plan_s"] = per_round(lambda r: sum_wall(r, "snapshots.read_plan"))
    m["trace.count_s"] = per_round(lambda r: sum_wall(r, "trace.count"))
    return m, info


def suite_layers(spans, jobs, families, n_passes) -> dict:
    rd = Reduced(spans, jobs)
    m = {}
    for fam in families:
        mine = [s for s in rd.spans if s.name == f"suite.{fam}"]
        js = [j for s in mine for j in rd.jobs_of.get(s.id, [])]
        m[f"suite.{fam}_s"] = sum(s.wall for s in mine) / n_passes
        m[f"suite.{fam}.jobs"] = len(js) / n_passes
        m[f"suite.{fam}.shuffle_mb"] = sum(j.shuffle_b for j in js) / MB / n_passes
    return m


def spark_totals(spans, jobs, stages_done, t_measure) -> dict:
    rd = Reduced(spans, jobs)
    return {
        "spark.jobs": float(len(jobs)),
        "spark.stages": float(stages_done),
        "spark.tasks": float(sum(j.tasks for j in jobs)),
        "spark.task_cpu_s": sum(j.cpu_s for j in jobs),
        "spark.gc_s": sum(j.gc_s for j in jobs),
        "spark.shuffle_mb": sum(j.shuffle_b for j in jobs) / MB,
        "spark.driver_idle_s": rd.idle(*t_measure),
    }

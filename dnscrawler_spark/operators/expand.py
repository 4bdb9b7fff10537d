"""Fetch + parse + expand: one crawl wave, vectorized over all admitted
URLs at once (SURVEY §3.3 — the DataFrame form of the reference's
``map_name`` ⟷ ``parse`` recursion).

Stage map (reference → here):
- fetch (S2, pydns.py:31-51)       → equi-join admitted ⋈ pages on url_key
- NXDOMAIN/rcode classify (P5-P7,  → fetch-miss classification driven by
  dnsresolver_new.py:220-253)        deterministic URL path markers
- parse/fact accumulation (A1-A5)  → explode typed fact rows
- glue join (J1, :125-126)         → candidates ⋈ glue (broadcast-able)
- expansion (J2, :140-144)         → enqueue glue-misses at lower priority
- carry-forward (O8, :230-232)     → carry_edges used when out_edges empty
- cycle break (P11, :127-129)      → anti-join vs in-flight keys,
                                     collision recorded nonhazardous
- payload invariant (input_hint)   → decode + PSNR/equality in mapInPandas

Everything except payload verification is native Catalyst (joins,
filters, explode, windows) — whole-stage codegen end to end.
"""

from __future__ import annotations

from functools import cached_property

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from dnscrawler_spark import codecs, datagen
from dnscrawler_spark.functions.canon import canon_url_col, host_col, url_key_col
from dnscrawler_spark.functions.suffix import is_ps_host_col
from dnscrawler_spark.operators.frontier import (
    FRONTIER_COLS,
    PRIORITY_CARRY,
    PRIORITY_EXPAND,
    PRIORITY_GLUE,
    PRIORITY_QMIN,
    PRIORITY_RETRY_BASE,
    RoundValues,
)

FACTS_SCHEMA = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("seed", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("value", T.StringType(), False),
        # failure rows carry the attempt count plus the probe target and
        # response-code analogs (QuerySummary detail: name / nameserver /
        # rcodes, /root/reference/dnscrawler/querysummary.py:3-9,
        # querysummarylist.py:4-9); null on non-failure rows
        T.StructField("attempts", T.IntegerType(), True),
        T.StructField("src", T.StringType(), True),
        T.StructField("code", T.StringType(), True),
    ]
)

GLUE_SCHEMA = T.StructType(
    [
        T.StructField("url_key", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
    ]
)


def prepare_pages(pages: DataFrame) -> DataFrame:
    """Key the corpus once: url is already canonical in datagen, so the
    key is a pure projection — Catalyst prunes unused columns per stage."""
    return pages.withColumn("url_key", url_key_col(F.col("url")))


PAGE_COLS = [
    "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
    "out_edges", "glue_edges", "carry_edges",
]


def fetch(admitted: DataFrame, pages_keyed: DataFrame) -> DataFrame:
    """The fetch stage: deterministic 'network' via equi-join on url_key
    (SURVEY §2.1 S2). Returns ONE enriched frame (admitted cols + page
    cols + ``is_hit``) so the caller can materialize the join exactly
    once and split hit/miss from that boundary — the same contract as
    ``fetch_synthetic``: two lazy branches of the join would re-run it
    per downstream consumer."""
    return admitted.join(
        pages_keyed.select("url_key", *PAGE_COLS), "url_key", "left"
    ).withColumn("is_hit", F.col("image_id").isNotNull())


def fetch_synthetic(
    admitted: DataFrame,
    gen_seed: int,
    n_pages: int,
    n_hosts: int,
    px_scale: int = 1,
    verify: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Fetch as an outbound per-URL call (no corpus table, no join): the
    synthetic web is a pure function of the URL, so each Arrow batch
    regenerates its pages in place — exactly how a real fetch stage
    behaves (embarrassingly parallel, zero shuffle, decode cost per URL).
    Identity rule: a URL is fetchable iff it round-trips through
    ``datagen.page_identity`` — the same membership the corpus join
    gives, without materializing the corpus.

    Payload bytes NEVER leave this stage: the per-row invariant
    (decode + PSNR/equality, BASELINE.json input_hint) runs inside the
    same batch and only ``payload_ok`` plus slim metadata cross the
    Arrow boundary — at 10^10 URLs, shipping payloads through the
    shuffle/cache layer is the difference between a fetch stage and a
    data-movement accident (a real fetcher sinks blobs to object
    storage in the fetch task).

    Returns ONE enriched DataFrame (admitted cols + slim page cols +
    ``payload_ok`` + ``is_hit``) so the caller can persist it ONCE and
    split hit/miss from the cache — returning two lazy branches would
    recompute the whole fetch per consumer.
    """
    from dnscrawler_spark import codecs, datagen  # local import, avoids cycles

    from dnscrawler_spark.functions.suffix import extract as suffix_extract

    in_cols = admitted.columns
    slim_names = [
        f.name for f in datagen.PAGES_SCHEMA.fields
        if f.name in PAGE_COLS and f.name != "bytes"
    ]
    schema = T.StructType(
        [admitted.schema[c] for c in in_cols]
        + [
            T.StructField(f.name, f.dataType, True)  # null on miss rows
            for f in datagen.PAGES_SCHEMA.fields
            if f.name in slim_names
        ]
        + [
            T.StructField("payload_ok", T.BooleanType(), True),
            T.StructField("is_hit", T.BooleanType(), False),
            # piggybacked on the fetch's Python stage so downstream facts
            # / classification need NO extra Python stage per round:
            T.StructField("tld", T.StringType(), True),
            T.StructField("sld", T.StringType(), True),
            T.StructField("qmin_fallback", T.StringType(), True),
            T.StructField("fail_code", T.StringType(), True),
        ]
    )

    def run(batches):
        for pdf in batches:
            out_rows, ok, tlds, slds, qfb, fcs = [], [], [], [], [], []
            page_identity = datagen.page_identity
            page_row_px = datagen.page_row_px
            payload_ok = codecs.payload_ok
            for url, host in zip(pdf["url"], pdf["host"]):
                i = _url_page_index(url)
                ident = (
                    page_identity(i, gen_seed, n_hosts)
                    if i is not None and i < n_pages
                    else None
                )
                if ident is None or ident[2] != url:
                    out_rows.append(None)
                    ok.append(None)
                    tlds.append(None)
                    slds.append(None)
                    qfb.append(datagen.qmin_fallback_url(url, gen_seed))
                    # the miss's response code (rcode analog) — computed
                    # here so classification downstream stays Python-free
                    fcs.append(datagen.fail_code(url, gen_seed))
                    continue
                # page_row_px hands back the pixels the blob was encoded
                # from (page_pixels is pure, so these ARE the reference
                # pixels) — the old page_pixels re-call per URL was a
                # duplicated Philox generation, ~15% of fetch CPU; the
                # membership check's identity is reused the same way (r6)
                row, ref = page_row_px(
                    i, gen_seed, n_pages, n_hosts, px_scale, identity=ident
                )
                if verify:
                    ok.append(payload_ok(row["bytes"], ref))
                else:
                    ok.append(True)
                # free the payload blob row-by-row — it must never
                # accumulate across the Arrow batch (a 65k-row batch of
                # full rows is tens of GB at realistic image sizes; a
                # real fetcher sinks blobs per URL too). The remaining
                # dict IS the slim row (plus edge arrays the schema
                # extracts below) — no per-row copy (r6).
                del row["bytes"]
                out_rows.append(row)
                t, s = suffix_extract(host)
                tlds.append(t)
                slds.append(s)
                qfb.append(None)
                fcs.append(None)
            res = pdf.copy()
            for name in slim_names:
                res[name] = [r[name] if r else None for r in out_rows]
            res["payload_ok"] = ok
            res["is_hit"] = [r is not None for r in out_rows]
            res["tld"] = tlds
            res["sld"] = slds
            res["qmin_fallback"] = qfb
            res["fail_code"] = fcs
            yield res

    return admitted.mapInPandas(run, schema)


def _url_page_index(url: str) -> int | None:
    """Parse the page index from a canonical corpus URL path
    (``.../img-{i:012d}``); None for dead/foreign URLs."""
    j = url.rfind("/img-")
    if j < 0:
        return None
    digits = url[j + 5 :]
    return int(digits) if digits.isdigit() and len(digits) == 12 else None


def classify_misses(
    misses: DataFrame, gen_seed: int = 42, exprs: "ExpandExprs | None" = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Failure classification on fetch misses (dnsresolver_new.py:237-253
    made deterministic):

    - numeric last host label       → misconfigured 'ip_ns_records'
    - retryable (path /dead-r/),    → re-enqueued once, demoted priority
      first attempt                   (the retry pass, run/run.py:62-67)
    - minimized form (/dead-q/),    → QNAME-minimization fallback (O7,
      first attempt                   dnsresolver_new.py:216,223-226):
                                      requery the FULL name — the
                                      transformed url becomes a new
                                      expansion candidate
    - second-attempt miss           → misconfigured 'missing_ns_records'
    - anything else                 → 'hazardous'

    Returns (retries_frontier_rows, terminal_failures_with_class,
    qmin_rows). ``qmin_rows`` carry the original minimized url (for the
    'qmin_requery' fact + seen insert) and the fallback full-name url
    (feeds expand_candidates as an extra edge at PRIORITY_QMIN). The
    fallback transform is a Python pure function of (url, gen_seed) —
    Arrow-batched over the handful of qmin misses, never the hot path.
    """
    ex = exprs or ExpandExprs()
    labeled = misses.withColumn("fail_class", ex.fail_class)
    retries = labeled.filter(ex.is_retry).select(*ex.retry_cols)
    terminal = labeled.filter(ex.is_terminal)

    if "qmin_fallback" in misses.columns:
        # precomputed inside the fetch's Python stage (synthetic mode):
        # zero extra Python here
        qmin_cols = ex.qmin_cols
    else:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf(T.StringType())
        def fallback(url: pd.Series) -> pd.Series:
            from dnscrawler_spark.datagen import qmin_fallback_url

            return url.map(lambda u: qmin_fallback_url(u, gen_seed) or "")

        @pandas_udf(T.StringType())
        def code_of(url: pd.Series) -> pd.Series:
            from dnscrawler_spark.datagen import fail_code

            return url.map(lambda u: fail_code(u, gen_seed))

        terminal = terminal.withColumn("fail_code", code_of(F.col("url")))
        qmin_cols = [*ex.qmin_cols[:-1], fallback(F.col("url")).alias("url")]

    qmin = (
        labeled.filter(ex.is_qmin)
        .select(*qmin_cols)
        .filter(ex.has_url)
    )
    return retries, terminal, qmin


def verify_payloads(fetched: DataFrame, gen_seed: int, px_scale: int = 1) -> DataFrame:
    """Per-row payload invariant (BASELINE.json input_hint): decode the
    fetched bytes and compare against the independently regenerated
    reference pixels — exact for lossless fmt, PSNR ≥ 40 dB for lossy.
    Arrow-batched mapInPandas (the codec is the irreducible Python)."""

    def run(batches):
        for pdf in batches:
            ok = []
            for blob, image_id in zip(pdf["bytes"], pdf["image_id"]):
                i = int(image_id.split("-")[1])
                ref, _, _ = datagen.page_pixels(i, gen_seed, px_scale)
                ok.append(codecs.payload_ok(bytes(blob), ref))
            pdf = pdf.copy()
            pdf["payload_ok"] = ok
            yield pdf

    schema = T.StructType(
        fetched.schema.fields + [T.StructField("payload_ok", T.BooleanType(), False)]
    )
    return fetched.mapInPandas(run, schema)


def new_glue(fetched: DataFrame, exprs: "ExpandExprs | None" = None) -> DataFrame:
    """Glue accumulation (A2, dnsresolver_new.py:73): addresses learned
    inline from any response."""
    ex = exprs or ExpandExprs()
    g = fetched.select(ex.glue_url)
    g = g.withColumn("url", ex.canon).withColumn("url_key", ex.key)
    return g.select(*ex.glue_cols).distinct()


def expand_candidates(
    fetched: DataFrame,
    n_salts: int,
    extra_edges: DataFrame | None = None,
    exprs: "ExpandExprs | None" = None,
) -> DataFrame:
    """Edge explosion + per-key dedup → next-round frontier candidates
    (before the fused seen/glue/in-flight pass).

    Carry-forward: when a response has no out_edges, its carry_edges
    play the parent-zone-NS role (O8). Priority bands: glue-hit 1,
    plain 2, carry 3, qmin fallback 4. Within-round dedup picks the best
    discovering parent by (priority, depth, seed) — the oracle applies
    the same rule, so crawl order matches.

    Glue membership (VERDICT r2 #2) is NOT joined here: it is probed
    EXACTLY inside the fused seen pass against the sharded glue filter
    (O(candidates) probes + O(new glue) inserts per round — no O(glue)
    broadcast/distinct/rewrite anywhere). Since the glue verdict flips a
    candidate's priority band, the dedup keeps BOTH hypothetical best
    structs — ``bg`` (priorities as if the url IS glue) and ``bn`` (as
    if not) — and :func:`finalize_candidates` selects one once the pass
    returns the verdict. Each is a min over the same per-key rows, so
    map-side partial aggregation is preserved.

    Output: one row per url_key with (url, host, salt, glue_eligible,
    bg, bn). ``glue_eligible`` = the glue-hit best is NOT a carry row —
    only expand/qmin discoveries short-circuit via glue
    (dnsresolver_new.py:125-126; carries keep their band even when the
    target is known glue).

    ``extra_edges``: additional candidate rows (seed, depth, url) with
    reason 'qmin' — the full-name requeries from classify_misses; they
    ride the same dedup (a glue hit on the full name short-circuits
    exactly like any discovered edge).
    """
    ex = exprs or ExpandExprs()
    edges = fetched.select(*ex.edge_cols)
    if extra_edges is not None:
        edges = edges.unionByName(extra_edges.select(*ex.extra_edge_cols))
    edges = edges.withColumn("url", ex.canon).withColumn("url_key", ex.key)
    # one hash aggregation, two min-structs (map-side partial combine —
    # no window, no per-key sort; see r1 plan-gate test). url/host/salt
    # are functions of url_key, so min() is just a deterministic pick.
    # url is a function of url_key (every row of the key carries the
    # same url), so the best-struct's url IS the key's url — the old
    # third ``min(url)`` aggregate re-derived the same value through
    # another SortAggregate buffer (r6, guide §2.3: narrower aggregation)
    return edges.groupBy("url_key").agg(*ex.best_structs).select(
        *ex.candidate_cols(n_salts)
    )


def finalize_candidates(
    cand: DataFrame, next_round: int, exprs: "ExpandExprs | None" = None
) -> DataFrame:
    """Resolve a candidate frame (expand_candidates output + the fused
    pass's exact ``glue_hit`` verdict) to frontier-shaped rows: pick the
    glue/plain best struct, rewrite expand/qmin reasons to 'glue' on a
    hit — the same rule the oracle applies per candidate."""
    ex = exprs or ExpandExprs()
    head, tail = ex.finalized_cols
    return cand.select(*head, ex.round_value(next_round, "host").alias("round"), *tail)


def fetched_facts(
    fetched: DataFrame, round_no: int, exprs: "ExpandExprs | None" = None
) -> DataFrame:
    """Typed fact rows from successful fetches (A1/A5): url (address
    analog), host (ns analog), tld, sld — with the ps_ prefix for
    public-suffix-tree hosts (dnsresolver_new.py:203-204).

    When the input already carries (tld, sld) — fetch_synthetic computes
    them inside the fetch's Python stage — this is a pure projection;
    otherwise (join-mode fixtures, glue-resolved rows) the suffix facts
    come from the vectorized Arrow UDF path (suffix_struct_col: the PSL
    rides the executor closure, zero shuffle, stays in this stage). The
    pure-Catalyst broadcast-join alternative (suffix_facts_for_hosts)
    remains agreement-tested in test_canon_suffix, but as a per-round
    stage it costs distinct + explode + broadcast-NL join + hash-agg +
    joinback — ~5 scheduling latencies per round at fixture scale and a
    9.5k-rule nested-loop probe per candidate at 10^10 scale, vs one
    in-stage hash lookup here (VERDICT r3 #1/#3)."""
    from dnscrawler_spark.functions.suffix import suffix_struct_col

    ex = exprs or ExpandExprs()
    if "tld" in fetched.columns and "sld" in fetched.columns:
        base = fetched.select(*ex.fact_base_cols)
    else:
        base = fetched.select(
            *ex.fact_base_cols[:3],
            ex.fact_base_cols[-1],
            suffix_struct_col(F.col("host")).alias("_sfx"),
        ).select(*ex.fact_base_cols[:3], "ps", *ex.sfx_cols)
    facts = base.select(*ex.fact_explode_cols).filter(ex.fact_nonempty)
    return facts.select(ex.round_value(round_no, "seed").alias("round"), *ex.fact_cols)


def failure_facts(
    terminal: DataFrame, round_no: int, exprs: "ExpandExprs | None" = None
) -> DataFrame:
    """hazardous/misconfigured fact rows (A3), carrying the full
    QuerySummary detail — attempts, the probed host (``src``, the
    nameserver analog) and the deterministic response code (``code``,
    the rcodes analog) — so results() can rebuild the grouped
    QuerySummaryList shape (/root/reference/dnscrawler/
    querysummary.py:3-9, querysummarylist.py:4-9)."""
    ex = exprs or ExpandExprs()
    return terminal.select(
        ex.round_value(round_no, "seed").alias("round"), *ex.failure_fact_cols
    )


def simple_facts(
    df: DataFrame, kind: str, round_no: int, exprs: "ExpandExprs | None" = None
) -> DataFrame:
    ex = exprs or ExpandExprs()
    seed, value, *nulls = ex.simple_fact_cols
    return df.select(
        ex.round_value(round_no, "seed").alias("round"),
        seed,
        F.lit(kind).alias("kind"),
        value,
        *nulls,
    )


class ExpandExprs:
    """The round-invariant Column expressions of this module's planners,
    each built on first use. Building a Column costs several Py4J round
    trips per function call in it, and the crawl plans the same
    expressions every wave of every round, so the engine keeps one
    instance for its lifetime and passes it to every call. Not a module
    global: a Column holds the JVM handle of the session that built it.
    A call without one builds a fresh set — the same expressions."""

    def __init__(self):
        self._candidate_cols: dict[int, list] = {}
        self.round_value = RoundValues()

    @cached_property
    def canon(self):
        """The canonical form of column ``url``."""
        return canon_url_col(F.col("url"))

    @cached_property
    def key(self):
        """The key of an already canonical column ``url``."""
        return url_key_col(F.col("url"))

    @cached_property
    def glue_url(self):
        return F.explode("glue_edges").alias("url")

    @cached_property
    def glue_cols(self):
        return [F.col("url_key"), F.col("url")]

    # -- classify_misses ----------------------------------------------------
    @cached_property
    def fail_class(self):
        return (
            F.when(
                F.element_at(F.split(F.col("host"), r"\."), -1).rlike("^[0-9]+$"),
                F.lit("ip_ns_records"),
            )
            .when(
                F.col("url").contains("/dead-r/") & (F.col("attempts") == 0),
                F.lit("retry"),
            )
            .when(
                F.col("url").contains("/dead-q/") & (F.col("attempts") == 0),
                F.lit("qmin"),
            )
            .when(F.col("attempts") >= 1, F.lit("missing_ns_records"))
            .otherwise(F.lit("hazardous"))
        )

    @cached_property
    def is_retry(self):
        return F.col("fail_class") == "retry"

    @cached_property
    def is_qmin(self):
        return F.col("fail_class") == "qmin"

    @cached_property
    def is_terminal(self):
        return ~F.col("fail_class").isin("retry", "qmin")

    @cached_property
    def retry_cols(self):
        changed = {
            "priority": (F.col("priority") + F.lit(PRIORITY_RETRY_BASE)).alias("priority"),
            "attempts": (F.col("attempts") + 1).alias("attempts"),
            "reason": F.lit("retry").alias("reason"),
        }
        return [changed.get(c, F.col(c)) for c in FRONTIER_COLS]

    @cached_property
    def qmin_cols(self):
        """The qmin row projection; the last entry is the fallback url,
        precomputed by the synthetic fetch stage."""
        return [
            F.col("url").alias("orig_url"),
            F.col("url_key").alias("orig_url_key"),
            F.col("seed"),
            F.col("depth"),
            F.coalesce(F.col("qmin_fallback"), F.lit("")).alias("url"),
        ]

    @cached_property
    def has_url(self):
        return F.col("url") != ""

    # -- expand_candidates -----------------------------------------------------
    @cached_property
    def edge_cols(self):
        has_out = F.size("out_edges") > 0
        return [
            F.col("seed"),
            (F.col("depth") + 1).alias("depth"),
            F.explode(
                F.when(has_out, F.col("out_edges")).otherwise(F.col("carry_edges"))
            ).alias("url"),
            F.when(has_out, F.lit("expand")).otherwise(F.lit("carry")).alias("reason"),
        ]

    @cached_property
    def extra_edge_cols(self):
        return [
            F.col("seed"),
            F.col("depth").cast("int").alias("depth"),
            F.col("url"),
            F.lit("qmin").alias("reason"),
        ]

    @cached_property
    def best_structs(self):
        is_carry = F.col("reason") == "carry"
        prio_glue = F.when(is_carry, F.lit(PRIORITY_CARRY)).otherwise(F.lit(PRIORITY_GLUE))
        prio_plain = (
            F.when(is_carry, F.lit(PRIORITY_CARRY))
            .when(F.col("reason") == "qmin", F.lit(PRIORITY_QMIN))
            .otherwise(F.lit(PRIORITY_EXPAND))
        )
        rest = [F.col("depth"), F.col("seed"), F.col("reason"), F.col("url")]
        return [
            F.min(F.struct(prio_glue.alias("priority"), *rest)).alias("bg"),
            F.min(F.struct(prio_plain.alias("priority"), *rest)).alias("bn"),
        ]

    def candidate_cols(self, n_salts: int):
        cols = self._candidate_cols
        if n_salts not in cols:
            url = F.col("bg.url")
            cols[n_salts] = [
                F.col("url_key"),
                F.col("bg"),
                F.col("bn"),
                url.alias("url"),
                host_col(url).alias("host"),
                F.pmod(F.xxhash64(url, F.lit(1)), F.lit(n_salts)).cast("int").alias("salt"),
                (F.col("bg.reason") != "carry").alias("glue_eligible"),
            ]
        return cols[n_salts]

    # -- finalize_candidates -------------------------------------------------
    @cached_property
    def finalized_cols(self):
        """Frontier columns before and after ``round`` (a per-call value)."""
        chosen = F.when(F.col("glue_hit"), F.col("bg")).otherwise(F.col("bn"))
        by_name = {
            "priority": chosen["priority"].alias("priority"),
            "depth": chosen["depth"].alias("depth"),
            "reason": F.when(
                F.col("glue_hit") & chosen["reason"].isin("expand", "qmin"),
                F.lit("glue"),
            )
            .otherwise(chosen["reason"])
            .alias("reason"),
            "seed": chosen["seed"].alias("seed"),
            "attempts": F.lit(0).alias("attempts"),
        }
        cols = [by_name.get(c, F.col(c)) for c in FRONTIER_COLS]
        i = FRONTIER_COLS.index("round")
        return cols[:i], cols[i + 1 :]

    # -- facts -----------------------------------------------------------------
    @cached_property
    def fact_base_cols(self):
        """(seed, url, host, tld, sld, ps); the UDF path takes the first
        three and ``ps`` and derives tld/sld itself."""
        return [
            F.col("seed"), F.col("url"), F.col("host"), F.col("tld"), F.col("sld"),
            is_ps_host_col(F.col("host")).alias("ps"),
        ]

    @cached_property
    def sfx_cols(self):
        return [F.col("_sfx.tld").alias("tld"), F.col("_sfx.sld").alias("sld")]

    @cached_property
    def fact_explode_cols(self):
        kinds = [
            F.struct(F.lit(k).alias("kind"), F.col(k).alias("value"))
            for k in ("url", "host", "tld", "sld")
        ]
        return [F.col("seed"), F.col("ps"), F.explode(F.array(*kinds)).alias("f")]

    @cached_property
    def fact_nonempty(self):
        return F.col("f.value") != ""

    @cached_property
    def null_detail_cols(self):
        return [
            F.lit(None).cast("int").alias("attempts"),
            F.lit(None).cast("string").alias("src"),
            F.lit(None).cast("string").alias("code"),
        ]

    @cached_property
    def fact_cols(self):
        """Fact columns after ``round`` for :func:`fetched_facts`."""
        return [
            F.col("seed"),
            F.when(F.col("ps"), F.concat(F.lit("ps_"), F.col("f.kind")))
            .otherwise(F.col("f.kind"))
            .alias("kind"),
            F.lower(F.col("f.value")).alias("value"),
            *self.null_detail_cols,
        ]

    @cached_property
    def failure_fact_cols(self):
        return [
            F.col("seed"),
            F.col("fail_class").alias("kind"),
            F.col("url").alias("value"),
            F.col("attempts").cast("int").alias("attempts"),
            F.col("host").alias("src"),
            F.col("fail_code").alias("code"),
        ]

    @cached_property
    def simple_fact_cols(self):
        """(seed, value, *null detail); ``kind`` is a per-call literal."""
        return [F.col("seed"), F.col("url").alias("value"), *self.null_detail_cols]

"""Deterministic synthetic corpus generator (the crawl's "zone data").

Replaces the reference's live DNS zone content (reachable only via
``PyDNS.query``, /root/reference/dnscrawler/pydns.py:31-75) with a
reproducible table: every byte is a pure function of ``(seed, row_id)``,
so the pure-Python oracle and the Spark engine agree without any shared
runtime state, and any scale can be regenerated on demand.

``pages`` schema (BASELINE.json input_hint shape + derived crawl cols):

    image_id STRING, bytes BINARY, w INT, h INT, fmt STRING,
    caption STRING, phash BIGINT,
    url STRING, host STRING,
    out_edges ARRAY<STRING>,    -- dependency targets (NS/A/AAAA analog)
    glue_edges ARRAY<STRING>,   -- subset with address known inline
                                -- (glue/additional-section analog,
                                --  dnsresolver_new.py:73,125-126)
    carry_edges ARRAY<STRING>   -- fallback edge set used when out_edges
                                -- is empty (zone-cut carry-forward
                                -- analog, dnsresolver_new.py:230-232)

Motifs baked in (FIXTURES.md §A6): host skew (8 hot hosts own ~half the
corpus), cycles, dead edges (hazardous / retryable), numeric-last-label
hosts (ip_ns misconfiguration), public-suffix hosts (ps_ facts),
robots-disallowed paths, non-canonical edge URLs (canonicalizer work).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from dnscrawler_spark import codecs
from dnscrawler_spark.hashing import mix2, splitmix64, str_hash64

# salts for independent hash streams
_S_HOST = 0x01
_S_PATH = 0x02
_S_EDGE = 0x03
_S_IMG = 0x04
_S_SEED = 0x05

HOT_HOSTS = 8  # hot-host pool size (skew motif)
SUFFIXES = ("com", "net", "org", "co.uk")
PUBLIC_SUFFIXES = frozenset({"com", "net", "org", "co.uk", "uk", "ps", "img.ps"})

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("out_edges", T.ArrayType(T.StringType(), False), False),
        T.StructField("glue_edges", T.ArrayType(T.StringType(), False), False),
        T.StructField("carry_edges", T.ArrayType(T.StringType(), False), False),
    ]
)

_ADJ = ("amber", "quiet", "vast", "brisk", "pale", "sharp", "mellow", "stark")
_NOUN = ("harbor", "canyon", "lattice", "orchard", "glacier", "rooftop", "archive", "meadow")
_STYLE = ("at dusk", "in fog", "under neon", "after rain", "in winter light")


def default_n_hosts(n_pages: int) -> int:
    return max(HOT_HOSTS * 2, n_pages // 64)


def host_of(host_id: int) -> str:
    """Host string for a host id (pure function; motifs by residue)."""
    base = f"h{host_id:04d}"
    r = host_id % 23
    if r == 7:  # numeric last label → ip_ns misconfiguration motif
        return f"{base}.ns.{host_id % 97}"
    if r == 11:  # public-suffix host → ps_-prefixed facts motif
        return f"{base}.img.ps"
    return f"{base}.site{host_id}.{SUFFIXES[host_id % len(SUFFIXES)]}"


def _host_id(i: int, seed: int, n_hosts: int) -> int:
    m = mix2(i, seed ^ _S_HOST)
    return (m >> 8) % HOT_HOSTS if m % 2 == 0 else (m >> 8) % n_hosts


def page_identity(i: int, seed: int, n_hosts: int) -> tuple[str, str, str]:
    """(host, path, url) of page *i* — shared by datagen, engine fixtures,
    and the oracle; never stored redundantly."""
    host = host_of(_host_id(i, seed, n_hosts))
    pm = mix2(i, seed ^ _S_PATH)
    path = f"/priv/img-{i:012d}" if pm % 11 == 0 else f"/img/img-{i:012d}"
    return host, path, f"http://{host}{path}"


def _edges_of(i: int, seed: int, n_pages: int, n_hosts: int) -> tuple[list[str], list[str], list[str]]:
    """(out_edges, glue_edges, carry_edges) of page *i*.

    Dead-edge URLs encode their failure class in the path:
    ``/dead-r/`` = retryable-then-missing, ``/dead-h/`` = hazardous,
    ``/dead-q/img-<t>`` = QNAME-minimized form of page *t*'s URL (the
    minimized query misses; requerying the full name succeeds —
    dnsresolver_new.py:216,223-226) — the analog of rcode-driven failure
    classification (dnsresolver_new.py:220-253) made deterministic.
    """
    em = mix2(i, seed ^ _S_EDGE)
    k = em % 4
    out: list[str] = []
    glue: list[str] = []
    # cycle motif: adjacent mutual edges every ~101 pages
    if i % 101 == 0 and i + 1 < n_pages:
        out.append(page_identity(i + 1, seed, n_hosts)[2])
    elif i % 101 == 1:
        out.append(page_identity(i - 1, seed, n_hosts)[2])
    for j in range(k):
        tm = mix2(i * 7 + j, seed ^ _S_EDGE ^ 0xE)
        t = tm % n_pages
        if tm % 13 == 0:  # dead edge → fetch miss
            h = host_of(_host_id(t, seed, n_hosts))
            sel = (tm >> 4) % 3
            if sel == 2:  # minimized-name form of page t (qmin motif)
                edge = f"http://{h}/dead-q/img-{t:012d}"
            else:
                kind = "r" if sel == 0 else "h"
                edge = f"http://{h}/dead-{kind}/e{(tm >> 8) % 100000:05d}"
        else:
            edge = page_identity(t, seed, n_hosts)[2]
            if tm % 4 == 0:
                glue.append(edge)
        if tm % 7 == 0:  # non-canonical form: canonicalizer must fold it
            edge = edge.upper() + "#frag"
        out.append(edge)
    carry: list[str] = []
    if not out and em % 2 == 0:
        carry.append(page_identity((i + 17) % n_pages, seed, n_hosts)[2])
    return out, glue, carry


def qmin_fallback_url(url: str, seed: int) -> str | None:
    """Full-name URL for a ``/dead-q/`` minimized URL — the
    QNAME-minimization fallback analog (dnsresolver_new.py:216,223-226:
    requery with ``original_name`` on an empty non-NXDOMAIN response).
    Same host; the target page's true path. Pure function shared by the
    engine's fetch-policy stage and the oracle. None if not a qmin URL.
    """
    j = url.find("/dead-q/img-")
    if j < 0:
        return None
    digits = url[j + len("/dead-q/img-") :]
    if not (digits.isdigit() and len(digits) == 12):
        return None
    t = int(digits)
    pm = mix2(t, seed ^ _S_PATH)
    path = f"/priv/img-{t:012d}" if pm % 11 == 0 else f"/img/img-{t:012d}"
    return url[:j] + path


_S_RCODE = 0x06
FAIL_CODES = ("SERVFAIL", "REFUSED", "TIMEOUT")


def fail_code(url: str, seed: int) -> str:
    """Deterministic response-code for a failed fetch of ``url`` — the
    rcode analog of the reference's per-query summary
    (/root/reference/dnscrawler/querysummary.py:3-9, filled from live
    DNS rcodes at dnsresolver_new.py:241-253). The synthetic web has no
    live server, so the code is a pure function of the URL (the
    synthetic server's fixed behavior), shared by the engine's fetch
    stage and the oracle."""
    return FAIL_CODES[str_hash64(url, seed ^ _S_RCODE) % len(FAIL_CODES)]


def page_pixels(i: int, seed: int, px_scale: int = 1) -> tuple[np.ndarray, int, int]:
    """Deterministic pixels for page *i* (counter-based Philox → stable
    across platforms/runs). ``px_scale`` multiplies the 8-24 px base
    dimensions — bench corpora use larger scales so fetch+verify carries
    realistic image-decode cost per URL; tests use 1."""
    m = mix2(i, seed ^ _S_IMG)
    w = (8 + (m % 16)) * px_scale
    h = (8 + ((m >> 8) % 16)) * px_scale
    rng = np.random.Generator(np.random.Philox(key=[seed & 0xFFFFFFFF, i]))
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8), w, h


def _signed64(x: int) -> int:
    x &= (1 << 64) - 1
    return x - (1 << 64) if x >= (1 << 63) else x


def page_row(i: int, seed: int, n_pages: int, n_hosts: int, px_scale: int = 1) -> dict:
    """Full pages row for index *i* (pure function)."""
    return page_row_px(i, seed, n_pages, n_hosts, px_scale)[0]


def page_row_px(
    i: int, seed: int, n_pages: int, n_hosts: int, px_scale: int = 1,
    identity: tuple[str, str, str] | None = None,
) -> tuple[dict, np.ndarray]:
    """``(page_row, pixels)`` for index *i* — the pixels the row's blob
    was encoded from. ``page_pixels`` is a pure function, so a caller
    that needs the reference pixels alongside the row (the fetch stage's
    payload verification) can reuse this array instead of regenerating
    it — common-subexpression elimination, identical values by
    construction (guide §1.2 step 2: per-task work). ``identity``: a
    caller that already derived ``page_identity(i, seed, n_hosts)``
    (the fetch stage's membership check does) passes it in instead of
    re-deriving it (same CSE argument)."""
    host, _path, url = identity or page_identity(i, seed, n_hosts)
    pixels, w, h = page_pixels(i, seed, px_scale)
    m = mix2(i, seed ^ _S_IMG ^ 0xF0)
    fmt = codecs.ALL_FMTS[m % 3]
    blob = codecs.encode(pixels, fmt)
    phash = _signed64(mix2(int(pixels.sum()) + (int(pixels[0, 0, 0]) << 32), i))
    caption = (
        f"{_ADJ[m % len(_ADJ)]} {_NOUN[(m >> 3) % len(_NOUN)]} "
        f"{_STYLE[(m >> 6) % len(_STYLE)]} (img-{i:012d})"
    )
    out, glue, carry = _edges_of(i, seed, n_pages, n_hosts)
    return {
        "image_id": f"img-{i:012d}",
        "bytes": blob,
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": caption,
        "phash": phash,
        "url": url,
        "host": host,
        "out_edges": out,
        "glue_edges": glue,
        "carry_edges": carry,
    }, pixels


def generate_pages(
    spark: SparkSession,
    n_pages: int,
    seed: int = 42,
    n_hosts: int | None = None,
    partitions: int | None = None,
    px_scale: int = 1,
) -> DataFrame:
    """Distributed pages generation: ``spark.range`` → ``mapInPandas``.

    Each Arrow batch builds its rows independently (pure function of id),
    so generation parallelizes linearly — no driver-side materialization
    at any scale.
    """
    n_hosts = n_hosts or default_n_hosts(n_pages)
    partitions = partitions or spark.sparkContext.defaultParallelism

    def gen(batches):
        for pdf in batches:
            rows = [
                page_row(int(i), seed, n_pages, n_hosts, px_scale)
                for i in pdf["id"].to_numpy()
            ]
            yield pd.DataFrame(rows, columns=[f.name for f in PAGES_SCHEMA.fields])

    return spark.range(0, n_pages, numPartitions=partitions).mapInPandas(gen, PAGES_SCHEMA)


# ---------------------------------------------------------------- host state

# STATIC per-host policy — written ONCE at crawl start and referenced
# (never rewritten) by every snapshot. The dynamic token-bucket state
# lives in per-round HOST_TOKENS_SCHEMA deltas (VERDICT r2 #1/#9: no
# O(hosts)/round state rewrite, no O(hosts) broadcast).
HOST_STATE_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("rate", T.DoubleType(), False),
        T.StructField("burst", T.DoubleType(), False),
        T.StructField("robots_disallow", T.ArrayType(T.StringType(), False), False),
        T.StructField("robots_fetched", T.BooleanType(), False),
    ]
)

# dynamic token state: one row per host DEBITED at ``asof_round``
# (post-debit balance). Hosts with no row are at full burst — the
# closed-form refill (politeness.effective_tokens) reconstructs the
# per-round refill from (tokens, asof_round, rate, burst) lazily, so an
# idle host never needs a state write.
HOST_TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("tokens", T.DoubleType(), False),
        T.StructField("asof_round", T.IntegerType(), False),
    ]
)


def host_policy(host: str, rate_scale: float = 1.0) -> dict:
    """Politeness policy for a host — pure function of the host string,
    shared verbatim by engine and oracle. Plays the role of the
    reference's implicit per-host serialization + timeout budget
    (/root/reference/run/run.py:59, constants.py:1-2)."""
    m = str_hash64(host, seed=0xB07)
    rate = float(2 + m % 3) * rate_scale  # admissions replenished per round
    burst = rate * 2.0
    robots = ["/priv"] if m % 3 == 0 else []
    return {
        "host": host,
        "rate": rate,
        "burst": burst,
        "robots_disallow": robots,
        "robots_fetched": True,
    }


def generate_host_state(pages: DataFrame, rate_scale: float = 1.0) -> DataFrame:
    """host_state rows for every distinct host in the corpus (distributed:
    distinct → mapInPandas; never collected to the driver)."""

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                [host_policy(h, rate_scale) for h in pdf["host"]],
                columns=[f.name for f in HOST_STATE_SCHEMA.fields],
            )

    return pages.select("host").distinct().mapInPandas(gen, HOST_STATE_SCHEMA)


def generate_host_state_synthetic(
    spark: SparkSession, n_hosts: int, rate_scale: float = 1.0
) -> DataFrame:
    """host_state for the synthetic-fetch engine (no corpus table to
    scan): the corpus host set is exactly ``host_of(0..n_hosts-1)``, a
    pure function of the id — generated distributed, never collected."""

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                [host_policy(host_of(int(j)), rate_scale) for j in pdf["id"]],
                columns=[f.name for f in HOST_STATE_SCHEMA.fields],
            )

    return spark.range(0, n_hosts).mapInPandas(gen, HOST_STATE_SCHEMA)


def seed_urls(n_seeds: int, n_pages: int, seed: int = 42, n_hosts: int | None = None) -> list[str]:
    """The seed list (the analog of the seed hostname file,
    /root/reference/run/run.py:50-51). Order matters: seed index is the
    priority tiebreak (SURVEY §2.5 W1)."""
    n_hosts = n_hosts or default_n_hosts(n_pages)
    out, taken = [], set()
    s = 0
    while len(out) < min(n_seeds, n_pages):
        t = mix2(s, seed ^ _S_SEED) % n_pages
        if t not in taken:
            taken.add(t)
            out.append(page_identity(t, seed, n_hosts)[2])
        s += 1
    return out


def seed_urls_df(
    spark: SparkSession,
    n_seeds: int,
    n_pages: int,
    seed: int = 42,
    n_hosts: int | None = None,
) -> DataFrame:
    """Distributed twin of ``seed_urls``: same deterministic seed set,
    built executor-side (a 10^10-scale seed list can never transit the
    driver as a Python list). The sequential algorithm takes the first
    ``min(n_seeds, n_pages)`` distinct targets in attempt order; here:
    generate attempts, keep min attempt per target, take the smallest
    attempts — the identical set, expressed as agg + top-k. The attempt
    window starts at 2× and doubles until it covers enough distinct
    targets (ADVICE r1: a fixed 2× window silently underfilled when
    n_seeds approached n_pages), so the result ALWAYS has exactly
    ``min(n_seeds, n_pages)`` rows.
    """
    n_hosts = n_hosts or default_n_hosts(n_pages)
    target = min(n_seeds, n_pages)
    attempts = max(n_seeds * 2, 64)

    def gen(batches):
        for pdf in batches:
            s = pdf["id"].to_numpy()
            rows = []
            for ss in s:
                t = mix2(int(ss), seed ^ _S_SEED) % n_pages
                rows.append((int(ss), page_identity(t, seed, n_hosts)[2]))
            yield pd.DataFrame(rows, columns=["attempt", "url"])

    schema = T.StructType(
        [
            T.StructField("attempt", T.LongType(), False),
            T.StructField("url", T.StringType(), False),
        ]
    )
    from pyspark.sql import functions as F

    while True:
        df = spark.range(0, attempts).mapInPandas(gen, schema)
        first = df.groupBy("url").agg(F.min("attempt").alias("attempt"))
        # persisted: the count below AND the caller's consumption (the
        # round-0 frontier write / enqueue insert) would otherwise each
        # re-run the Python generation pass (guide §5 — measured ~48 s
        # of duplicate task time per bench leg). The limit keeps
        # min(distinct targets, target) rows, so a short count means the
        # window was too small. The cache is seed-set sized;
        # ``CrawlEngine.start`` unpersists the seed set it consumes.
        seeds = first.orderBy("attempt").limit(target).select("url").persist()
        if seeds.count() >= target:
            return seeds
        seeds.unpersist()
        attempts *= 2


def splitmix_check() -> int:
    """Cross-check scalar vs vectorized splitmix (used by tests)."""
    return splitmix64(12345)

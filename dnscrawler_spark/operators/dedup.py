"""Document deduplication operators for a training-data pipeline.

Beyond the crawl's URL-level dedup (operators/seen.py), a 100 TB corpus
pipeline needs *content* dedup. All of these are pure-Catalyst
(explode/join/groupBy — shuffle-partitioned, no Python in the path)
except where noted:

- exact dedup: hash-groupBy on normalized text
- n-gram Jaccard: shingle → inverted index → pair-count join
- MinHash + LSH: md5-based signatures (md5 chosen deliberately: DuckDB
  computes the identical digest, so the correctness oracle can mirror
  the whole pipeline in SQL), banded into buckets, candidate pairs from
  bucket join
- SimHash: 64-bit sign-aggregated token hashes via xxhash64 bit tricks

Scale notes (100 TB): every stage is a groupBy/join on a key whose
cardinality grows with data, so AQE handles skew; the shingle inverted
index is the big shuffle — cap postings with a frequency filter
(a shingle appearing in >F docs carries no dedup signal and is dropped,
exactly like stop-shingles in production MinHash pipelines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

G_DEFAULT = 5  # words per shingle


def normalize_text(col):
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def spread_input(df: DataFrame) -> DataFrame:
    """Scale-adaptive parallelism repair for CPU-heavy per-row stages
    (guide §2.5 input skew / §1.2 step 1): a small parquet input is one
    file with one row group, so the scan — and every narrow stage fused
    onto it (normalize, explode, shingle/token hashing) — runs in a
    SINGLE task no matter how many cores exist. Round-robin repartition
    to the default parallelism when (and only when) the scan is
    narrower than that; a big input already scans wide and is returned
    untouched, so no shuffle is ever added at scale."""
    p = df.sparkSession.sparkContext.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — planning-only helper, never fatal
        return df
    return df.repartition(p) if n < p else df


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One row per distinct normalized text: keeps min doc_id as the
    canonical representative, counts the clones."""
    return (
        docs.withColumn("__norm", normalize_text(F.col(text_col)))
        .groupBy("__norm")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .drop("__norm")
    )


def shingles(docs: DataFrame, g: int = G_DEFAULT, text_col: str = "text") -> DataFrame:
    """(doc_id, shingle) distinct — the inverted-index input. Pure
    Catalyst: sequence + transform + explode."""
    words = F.split(normalize_text(F.col(text_col)), " ")
    # guard: sequence(1, 0) would count DOWN in Spark — short docs get []
    sh = F.when(
        F.size(words) >= g,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - F.lit(g - 1)),
            lambda i: F.array_join(F.slice(words, i, g), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        spread_input(docs)
        .select("doc_id", F.explode(sh).alias("shingle"))
        .distinct()
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    g: int = G_DEFAULT,
    max_postings: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs by n-gram Jaccard ≥ threshold.

    inverted index self-join → common-shingle counts → |A∪B| by
    inclusion-exclusion. ``max_postings`` drops stop-shingles (no
    signal, quadratic blowup) — logged truncation, not silent.

    The shingle stream has FOUR consumers (doc sizes, posting filter,
    both join sides) and Spark does not share identical subtrees across
    DataFrame references — the round-start plan re-ran scan + explode +
    distinct four times (plans/r06/dedup_jaccard_pairs_before.txt). A
    LAZY localCheckpoint materializes it once on first action and every
    consumer reads the blocks (guide §5: reuse × recompute; a real
    MinHash/Jaccard pipeline materializes its inverted index anyway —
    at scale the blocks spill to disk via MEMORY_AND_DISK)."""
    s = shingles(docs, g).localCheckpoint(eager=False)
    sizes = s.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    posting_ok = (
        s.groupBy("shingle").agg(F.count("*").alias("df")).filter(F.col("df") <= max_postings)
    )
    s = s.join(posting_ok.select("shingle"), "shingle")
    a = s.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = s.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(
    docs: DataFrame, n_hashes: int = 16, g: int = G_DEFAULT
) -> DataFrame:
    """(doc_id, sig ARRAY<STRING>): sig[i] = min over shingles of
    md5(i || '_' || shingle). md5 keeps the DuckDB oracle byte-identical;
    a production variant would swap in xxhash64 (same plan shape).

    Plan shape (r6, guide §2.3 "aggregate before you shuffle"): ONE
    groupBy(doc_id) with ``n_hashes`` min(md5(...)) aggregate columns
    over the un-exploded shingle stream — the md5s are computed map-side
    and partially combined, so the shuffle carries ~n_hashes values per
    (doc, mapper) instead of n_hashes× exploded rows, and the old
    second groupBy + collect_list + array_sort stage disappears. Same
    signature values bit-for-bit (min per hash index is associative)."""
    s = shingles(docs, g)
    mins = [
        F.min(
            F.md5(F.concat(F.lit(f"{i}_"), F.col("shingle")))
        ).alias(f"_m{i}")
        for i in range(n_hashes)
    ]
    return (
        s.groupBy("doc_id")
        .agg(*mins)
        .select(
            "doc_id",
            F.array(*[F.col(f"_m{i}") for i in range(n_hashes)]).alias("sig"),
        )
    )


def lsh_candidate_pairs(
    docs: DataFrame, n_hashes: int = 16, bands: int = 4, g: int = G_DEFAULT
) -> DataFrame:
    """MinHash-LSH candidate pairs: split the signature into ``bands``,
    bucket = md5(band contents), join docs sharing any bucket.

    At scale the bucket join is the only shuffle that matters; hot
    buckets (boilerplate docs) are exactly AQE-skew-join territory.
    The banded frame feeds BOTH join sides, so it is lazily
    localCheckpoint'ed — the whole signature pipeline runs once instead
    of twice (4 rows/doc at any scale; guide §5)."""
    rows = n_hashes // bands
    sig = minhash_signatures(docs, n_hashes, g)
    banded = sig.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(F.array_join(F.slice(F.col("sig"), b * rows + 1, rows), "|")).alias(
                        "bucket"
                    ),
                ),
            )
        ).alias("bb"),
    ).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    ).localCheckpoint(eager=False)
    l = banded.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    r = banded.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    return (
        l.join(r, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash per doc: per-token xxhash64, sign-vote per bit.

    Pure Catalyst, ONE shuffle: the 64 bit-votes are 64 conditional
    aggregates over the un-exploded token stream (map-side combined),
    not a 64×-row explode. At 100 TB the shuffle width is the token
    stream at 1×, and the 64 sums piggyback on the same hash-agg.
    (No md5 twin in SQL → verified by property tests instead of the
    DuckDB oracle.) No ``spread_input``: the token hashing is cheaper
    than the extra round-robin shuffle (0.83x in r6)."""
    words = F.split(normalize_text(F.col(text_col)), " ")
    tok = docs.select("doc_id", F.explode(words).alias("w"))
    tok = tok.withColumn("h", F.xxhash64("w"))
    # fixed 64-way unroll (shiftright needs a literal shift amount):
    # one groupBy, 64 sum(when(bit set, +1, -1)) columns
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                ).otherwise(F.lit(-1))
            ).alias(f"v{i}")
            for i in range(64)
        ]
    )
    # reassemble: bit i set iff vote > 0 (bit 63's shiftleft wraps to the
    # sign bit — same two's-complement value the exploded variant summed)
    acc = None
    for i in range(64):
        term = F.when(
            F.col(f"v{i}") > 0, F.expr(f"shiftleft(CAST(1 AS BIGINT), {i})")
        ).otherwise(F.lit(0).cast("long"))
        acc = term if acc is None else acc + term
    return votes.select("doc_id", acc.alias("simhash"))


def hamming64(a, b):
    return F.bit_count(a.bitwiseXOR(b))


def embedding_near_dup(
    embeddings: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 0,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    ``n_planes=0``: exact all-pairs cosine via self-join — the
    correctness baseline (oracle-able in SQL; quadratic, small inputs).
    ``n_planes>0``: LSH-bucketed scale path — candidate pairs must share
    a hyperplane-sign sketch (similarity.hyperplane_sketch), then exact
    cosine re-rank; sub-quadratic, recall property-tested against the
    exact baseline. All arithmetic is Catalyst higher-order functions
    (zip_with/aggregate) — JVM-side, no Python."""
    from dnscrawler_spark.operators.similarity import _dot, _norm, hyperplane_sketch

    # each side's norm is computed ONCE per vector before the join (it
    # was re-derived per candidate PAIR — n× per vector); the cosine is
    # the same expression tree, dot / (norm_a * norm_b), so values are
    # bit-identical (guide §1.2 step 2)
    e = embeddings.select(id_col, vec_col)
    if n_planes > 0:
        e = e.withColumn("sketch", hyperplane_sketch(F.col(vec_col), n_planes))
    a = e.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        _norm(F.col(vec_col)).alias("_na"),
        *([F.col("sketch").alias("ska")] if n_planes > 0 else []),
    )
    b = e.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        _norm(F.col(vec_col)).alias("_nb"),
        *([F.col("sketch").alias("skb")] if n_planes > 0 else []),
    )
    if n_planes > 0:
        pairs = a.join(b, F.col("ska") == F.col("skb")).filter(F.col("id_a") < F.col("id_b"))
    else:
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a",
        "id_b",
        F.round(
            _dot(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb")), 6
        ).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked on 16-bit
    chunks (a pair within hamming ≤ 3·16 shares at least one exact
    chunk — the standard pigeonhole block join, not O(n²)). The simhash
    frame feeds both join sides — lazily checkpointed so the 64-vote
    aggregation runs once (1 row/doc at any scale; guide §5)."""
    sh = simhash(docs).localCheckpoint(eager=False)
    chunk_structs = [
        F.struct(
            F.lit(i).alias("chunk"),
            F.shiftright(F.col("simhash"), i * 16).bitwiseAND(F.lit(0xFFFF)).alias("ck"),
        )
        for i in range(4)
    ]
    chunks = sh.select(
        "doc_id", "simhash", F.explode(F.array(*chunk_structs)).alias("c")
    ).select("doc_id", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.ck").alias("ck"))
    l = chunks.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"), "chunk", "ck")
    r = chunks.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"), "chunk", "ck")
    return (
        l.join(r, ["chunk", "ck"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming64(F.col("ha"), F.col("hb")).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def phash_near_dup(
    images: DataFrame,
    max_hamming: int = 3,
    n_chunks: int = 4,
    phash_col: str = "phash",
    id_col: str = "image_id",
) -> DataFrame:
    """Image near-dup pairs by perceptual-hash hamming distance — the
    image-payload analog of ``simhash_near_pairs``, over the corpus
    table's ``phash:int64`` column (the input-hint schema; datagen.py
    emits it on every page row).

    Pigeonhole blocking on ``n_chunks`` equal slices of the 64-bit hash:
    two hashes within hamming ``n_chunks - 1`` MUST agree on at least
    one slice, so for ``max_hamming <= n_chunks - 1`` the block join is
    EXACT — same result set as the O(n²) all-pairs scan, with the only
    shuffle being the (chunk, ck) equality join. Larger radii need more
    chunks (e.g. 8×8-bit covers hamming ≤ 7); the guard below refuses a
    lossy configuration rather than silently dropping pairs.

    At 10^10 images the chunk join is key-partitioned with ~n·n_chunks
    rows on each side; hot buckets (e.g. the all-black-thumbnail hash)
    skew-split under AQE like any other join key.
    """
    if not 1 <= n_chunks <= 64 or 64 % n_chunks != 0:
        raise ValueError(f"n_chunks must divide 64, got {n_chunks}")
    if max_hamming > n_chunks - 1:
        raise ValueError(
            f"pigeonhole blocking with {n_chunks} chunks is only exact "
            f"for max_hamming <= {n_chunks - 1}, got {max_hamming}"
        )
    width = 64 // n_chunks
    mask = (1 << width) - 1
    ph = F.col(phash_col)
    chunk_structs = [
        F.struct(
            F.lit(i).alias("chunk"),
            F.shiftrightunsigned(ph, i * width).bitwiseAND(F.lit(mask)).alias("ck"),
        )
        for i in range(n_chunks)
    ]
    chunks = images.select(
        F.col(id_col).alias("_id"), ph.alias("_ph"),
        F.explode(F.array(*chunk_structs)).alias("c"),
    ).select("_id", "_ph", F.col("c.chunk").alias("chunk"), F.col("c.ck").alias("ck"))
    l = chunks.select(F.col("_id").alias("img_a"), F.col("_ph").alias("pa"), "chunk", "ck")
    r = chunks.select(F.col("_id").alias("img_b"), F.col("_ph").alias("pb"), "chunk", "ck")
    return (
        l.join(r, ["chunk", "ck"])
        .filter(F.col("img_a") < F.col("img_b"))
        .select("img_a", "img_b", hamming64(F.col("pa"), F.col("pb")).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )

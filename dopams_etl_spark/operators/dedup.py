"""Document deduplication operators (training-data pipeline surface).

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard near-dup detection over a
text column — plus the reference's tiered-fingerprint person dedup (D1)
generalized. All hot paths are JVM column expressions (higher-order
functions over token arrays); nothing crosses into Python per row.

Scale notes:
- MinHash/LSH: cost is O(rows × shingles × num_hashes) map-side, then a
  shuffle on (band_id, band_hash) — candidate pairs only ever materialize
  within an LSH bucket, never the full cross product.
- SimHash: one 64-bit signature per doc; near-dup join is banded (4×16-bit
  chunks) so hamming comparison also stays within buckets.
- n-gram Jaccard: explode-join on shingle, groupBy pair — the shuffle key
  is the shingle; frequent shingles are the skew hazard, so a document
  frequency cap drops shingles appearing in > ``max_df`` docs (standard
  trick; also removes useless all-common shingles).

Reference analog: tiered MD5 fingerprint dedup + fuzzy fallback
(``fix_fullname/create_person_deduplication_table.py:397–660``).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dopams_etl_spark.caching import persist_bounded
from dopams_etl_spark.functions.ids import md5_words
from dopams_etl_spark.functions.textfns import doc_fingerprint, tokens, word_shingles

# MinHash's universal-hash family: member i maps the shingle's
# md5-derived words (a, b) to (P[i]·a + Q[i]·b) mod M, M = 2³¹−1 (Mersenne
# prime). Coefficients are seeded from md5 of a fixed tag so any engine (or
# a SQL oracle) can regenerate — or simply inline — the identical family.
# P is kept nonzero mod M so no member degenerates to a constant.
MINHASH_MOD = (1 << 31) - 1


def _seed_coeff(tag: str, i: int, nonzero: bool) -> int:
    v = int(hashlib.md5(f"dopams-minhash-{tag}-{i}".encode()).hexdigest()[:8], 16)
    return (v % (MINHASH_MOD - 1)) + 1 if nonzero else v % MINHASH_MOD


MINHASH_P: tuple[int, ...] = tuple(_seed_coeff("P", i, True) for i in range(64))
MINHASH_Q: tuple[int, ...] = tuple(_seed_coeff("Q", i, False) for i in range(64))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the normalized-text fingerprint, keep the
    lowest id per group; emits (kept) rows plus group stats columns."""
    fp = df.withColumn("fp", doc_fingerprint(text_col))
    w = Window.partitionBy("fp").orderBy(F.col(id_col).asc())
    return (
        fp.withColumn("__rn", F.row_number().over(w))
        .withColumn("dup_count", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 32, shingle_n: int = 3
) -> DataFrame:
    """(id, minhash array) — per hash family member, the min hash over
    word shingles.

    ONE ``md5(shingle)`` per shingle, split into two 32-bit words (a, b)
    reduced mod M = 2³¹−1; member i is the degree-1 universal hash
    (Pᵢ·a + Qᵢ·b) mod M with fixed deterministically-seeded coefficients
    (``MINHASH_P``/``MINHASH_Q``) — the datasketch-style "one strong hash,
    then a universal family" construction. Per member the coefficients
    are independent, so member agreements are the independent
    Bernoulli(J) trials the est-Jaccard estimator assumes (a plain
    ``a + i·b`` family is NOT: its argmins are confined to the lower
    convex hull of the (b, a) point set, ~log n shingles). Products stay
    < 2⁶² so ANSI long arithmetic never overflows, and the whole family
    is byte-identical in any engine with a standard md5 (DuckDB,
    Postgres, Trino), which is what lets the registered query carry a
    value-level SQL oracle.

    Computed as explode(shingles) → groupBy(id) with one ``min`` per family
    member. The aggregate boundary matters twice over: (a) map-side partial
    mins make the shuffle tiny (num_hashes ints per id), and (b) the
    signature entries become concrete attributes — deriving LSH bands from
    an *expression-level* array made Catalyst inline the whole
    32-hash expression once per ``getItem``, a ~32× plan blowup (measured
    213 s → 7 s at sf0.1).

    Rows with no shingles (empty text) are absent from the output.
    """
    from dopams_etl_spark.partitioning import ensure_parallelism

    if num_hashes > len(MINHASH_P):
        raise ValueError(f"num_hashes > {len(MINHASH_P)} needs more seeded coefficients")
    sh = ensure_parallelism(df, id_col).select(
        F.col(id_col).alias("id"), F.explode(word_shingles(text_col, shingle_n)).alias("sh")
    )
    # Materialize (a, b) as concrete columns BEFORE the aggregate so the
    # md5 runs once per shingle, not once per family member.
    a, b = md5_words(F.col("__m"))
    ab = sh.select("id", F.md5("sh").alias("__m")).select(
        "id", (a % MINHASH_MOD).alias("__a"), (b % MINHASH_MOD).alias("__b")
    )
    members = [
        F.min(
            (
                (F.lit(MINHASH_P[i]) * F.col("__a")) % MINHASH_MOD
                + (F.lit(MINHASH_Q[i]) * F.col("__b")) % MINHASH_MOD
            )
            % MINHASH_MOD
        ).alias(f"__h{i}")
        for i in range(num_hashes)
    ]
    agg = ab.groupBy("id").agg(*members)
    return agg.select(
        "id", F.array(*[f"__h{i}" for i in range(num_hashes)]).alias("minhash")
    )


def lsh_candidate_pairs(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 32, bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash-LSH near-dup candidates: band the signature, join within
    (band_id, band_hash) buckets. Returns (id_a, id_b, est_jaccard) with
    id_a < id_b, est_jaccard = fraction of agreeing minhashes.

    Shuffle discipline: the signature table is persisted once (num_hashes
    longs per doc — tiny relative to the corpus), the band self-join
    carries ONLY (id, band_id, band_hash) — dragging the full signature
    array through the join was measured ~2× slower at sf0.1 and scales
    with collision count, not survivor count — and the signatures are
    re-joined just for the deduplicated candidate pairs (a set orders of
    magnitude smaller than the corpus for any sane banding)."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signature(df, id_col, text_col, num_hashes, shingle_n)
    # One materialization, three consumers (banding + two pair-side
    # re-joins); without it Spark recomputes the shingle aggregate per
    # consumer (measured +0.6 s at sf0.1). persist — not localCheckpoint —
    # so repeated calls with the same inputs (per-batch dedup passes,
    # interactive sessions) hit the CacheManager's plan-matching instead
    # of recomputing (~1 s/call at sf0.1); the bounded cache caps live
    # signature tables in executor storage (oldest unpersisted beyond the
    # cap), closing the unbounded-accumulation leak persist() alone has.
    sigs = persist_bounded(sigs)

    banded = sigs.select(
        "id",
        F.posexplode(
            F.array(*[
                F.md5(F.concat_ws("_", *[F.col("minhash").getItem(b * rows_per_band + r).cast("string")
                                          for r in range(rows_per_band)]))
                for b in range(bands)
            ])
        ).alias("band_id", "band_hash"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    joined = (
        pairs.join(sigs.select(F.col("id").alias("id_a"), F.col("minhash").alias("mh_a")), "id_a")
        .join(sigs.select(F.col("id").alias("id_b"), F.col("minhash").alias("mh_b")), "id_b")
    )
    agree = F.size(F.filter(F.zip_with("mh_a", "mh_b", lambda x, y: x == y), lambda v: v))
    return joined.withColumn(
        "est_jaccard", F.round(agree / F.size("mh_a").cast("double"), 6)
    ).select("id_a", "id_b", "est_jaccard")


def _shingle_intersections(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int, max_df: int | None
) -> DataFrame:
    """Shared inverted-index intersection core for the exact set-overlap
    family: distinct word shingles per doc → explode → self-join on the
    shingle (a < b) → per-pair shared-shingle count. Returns
    (id_a, id_b, size_a, size_b, inter); Jaccard and containment are one
    ``select`` on top, so skew handling (``max_df`` drops ubiquitous
    shingles) and join discipline live in exactly one place."""
    from dopams_etl_spark.partitioning import ensure_parallelism

    sh = (
        ensure_parallelism(df, id_col)
        .select(F.col(id_col).alias("id"), word_shingles(text_col, shingle_n).alias("sh"))
        .filter(F.size("sh") > 0)
        .withColumn("set_size", F.size("sh"))
    )
    inv = sh.select("id", "set_size", F.explode("sh").alias("shingle"))
    if max_df is not None:
        df_counts = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        inv = inv.join(df_counts.filter(F.col("df") <= max_df).select("shingle"), "shingle")
    a = inv.alias("a")
    b = inv.alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.set_size").alias("size_a"),
            F.col("b.set_size").alias("size_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3,
    threshold: float = 0.5, max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shingle-inverted-index join.

    explode(shingles) → self-join on shingle → |A∩B| per pair → Jaccard
    = inter / (|A| + |B| - inter). ``max_df`` drops ubiquitous shingles
    (skew + noise control at scale)."""
    inter = _shingle_intersections(df, id_col, text_col, shingle_n, max_df)
    jac = inter.withColumn(
        "jaccard",
        F.round(F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")).cast("double"), 6),
    )
    return jac.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def simhash64(df: DataFrame, text_col: str, out_col: str = "simhash") -> DataFrame:
    """64-bit SimHash per document, fully JVM-side.

    Per distinct token: the leading 64 bits of ``md5(token)``, packed into
    one long from its two 32-bit words; per bit b: +1 if set else -1,
    accumulated over tokens with ``aggregate``+``zip_with``; sign vector
    re-packed to a long. Bit b is hex char b//4, nibble bit b%4 (least
    significant first) — char-major order, so any engine with a standard
    md5 reproduces the identical signature from substr+strpos arithmetic
    (the value-level-oracle path, same trick as ``minhash_signature``).
    """
    toks = F.array_distinct(tokens(text_col))
    zeros = F.array_repeat(F.lit(0).cast("long"), 64)

    def packed_md5(m: Column) -> Column:
        hi, lo = md5_words(m)
        return F.shiftleft(hi, 32).bitwiseOR(lo)

    # Two passes so each token's md5 is computed once, not once per word.
    hashed = F.transform(F.transform(toks, lambda t: F.md5(t)), packed_md5)

    # Hex char j holds long bits 63−4j..60−4j, so bit b sits at shift
    # 60 − 4·(b//4) + b%4. ``F.shiftright`` takes only a Python int shift;
    # the SQL function takes a column, so one lambda serves all 64 bits
    # (64 unrolled extractions build ~0.3 s slower per query).
    shifts = F.array(*[F.lit(60 - 4 * (b // 4) + b % 4) for b in range(64)])

    def votes(h: Column) -> Column:
        return F.transform(
            shifts,
            lambda s: (F.call_function("shiftright", h, s).bitwiseAND(F.lit(1)) * 2 - 1),
        )

    bit_votes = F.aggregate(
        hashed,
        zeros,
        lambda acc, h: F.zip_with(acc, votes(h), lambda a, v: a + v),
    )
    # Bit b contributes literal 2^b; b=63 is the sign bit of a signed long.
    bit_values = [(1 << b) if b < 63 else -(1 << 63) for b in range(64)]
    packed = F.aggregate(
        F.zip_with(
            bit_votes,
            F.array(*[F.lit(v).cast("long") for v in bit_values]),
            lambda vote, bv: F.when(vote > 0, bv).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    return df.withColumn(out_col, packed)


def simhash_near_dups(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs: banded blocking (4×16-bit chunks — pairs within
    hamming ≤ 3 share at least one identical chunk by pigeonhole), then exact
    hamming via bit_count(xor)."""
    from dopams_etl_spark.partitioning import ensure_parallelism

    sigs = simhash64(ensure_parallelism(df, id_col), text_col).select(
        F.col(id_col).alias("id"), "simhash"
    )
    chunks = sigs.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(*[
                F.shiftright("simhash", 16 * i).bitwiseAND(F.lit(0xFFFF)).cast("int")
                for i in range(4)
            ])
        ).alias("chunk_id", "chunk_val"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, window: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm — Schleimer,
    Wilkerson, Aiken, SIGMOD'03): positional char ``k``-grams of
    whitespace-normalized lowercase text, one rolling hash per gram, keep
    the MIN hash of every sliding window of ``window`` consecutive gram
    hashes; the distinct selected mins are the document's fingerprints.
    Guarantees every shared substring of length ≥ k+window-1 contributes
    at least one common fingerprint — the standard local-similarity /
    plagiarism sketch, and a finer-grained complement to MinHash (which
    sketches whole-document set overlap).

    Hashes are md5 hex strings and the min is lexicographic, so any
    engine with a standard md5 reproduces the exact fingerprint set (same
    value-level-oracle trick as ``minhash_signature``).

    Plan shape: grams explode to (id, pos, hash) rows and the sliding min
    is a frame-bounded window aggregate (ROWS BETWEEN CURRENT AND w-1
    FOLLOWING) — measured ~20× faster than the equivalent nested
    array-transform-over-slice expression, which Spark evaluates
    interpreted (higher-order functions never enter whole-stage codegen,
    and slice-per-window re-allocates O(n·w)). One shuffle on ``id``; at
    100 TB the per-doc window state is bounded by ``window`` rows.

    Returns exploded, distinct (id, fp) rows.
    """
    from pyspark.sql import Window

    from dopams_etl_spark.partitioning import ensure_parallelism

    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    n = F.length(norm)
    gram_idx = F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1)))
    # shared dedup-family null-text convention (r14, word_shingles):
    # NULL text has no fingerprints — Spark's NULL-ignoring greatest()
    # otherwise manufactures one all-NULL gram per NULL doc
    df = df.filter(F.col(text_col).isNotNull())
    # per-ROW window key (dup2 census): partitioning the sliding min by
    # id alone interleaves the gram streams of duplicated-id rows (a
    # replayed batch) and corrupts the winnow selection; each input row
    # winnows independently, then the distinct-set merge below collapses
    # identical duplicates. The uid never reaches the output, so its
    # nondeterminism across retries is invisible.
    grams = ensure_parallelism(df, id_col).withColumn(
        "__row_uid", F.monotonically_increasing_id()
    ).select(
        F.col(id_col).alias("id"),
        "__row_uid",
        F.posexplode(F.transform(gram_idx, lambda i: F.md5(norm.substr(i, F.lit(k))))).alias(
            "pos", "h"
        ),
        F.greatest(F.size(gram_idx) - window + 1, F.lit(1)).alias("n_win"),
    )
    w = Window.partitionBy("__row_uid").orderBy("pos").rowsBetween(0, window - 1)
    return (
        grams.withColumn("fp", F.min("h").over(w))
        .filter(F.col("pos") < F.col("n_win"))  # pos is 0-based; windows start 1..n_win
        .select("id", "fp")
        .dropDuplicates(["id", "fp"])
    )


# Reference tier confidence weights (``create_person_deduplication_table.py:615``).
TIER_WEIGHTS = {1: 0.95, 2: 0.90, 3: 0.85, 4: 0.75, 5: 0.65}


def tiered_fingerprint_dedup(
    df: DataFrame,
    id_col: str,
    tiers: list[list[str]],
    tier_weights: dict[int, float] | None = None,
) -> DataFrame:
    """D1: tiered fingerprint dedup. Returns (id, canonical_id, tier,
    confidence).

    Reference semantics (``create_person_deduplication_table.py:516–560``,
    ``:824–830``): each row is assigned the FIRST tier whose fields are all
    non-blank (tier = data-completeness cascade, not group size), then rows
    group by that tier's md5 fingerprint; canonical id = min(id) within the
    group; confidence = the tier's weight (``:615``). Rows completing no
    tier keep their own identity (tier 0).

    Scale: one shuffle — a single groupBy on (tier, fingerprint) — instead
    of a per-tier resolve/anti-join cascade.
    """
    from dopams_etl_spark.functions.ids import fingerprint

    weights = tier_weights or TIER_WEIGHTS

    def complete(cols: list[str]) -> Column:
        cond = F.lit(True)
        for c in cols:
            v = F.trim(F.col(c).cast("string"))
            cond = cond & v.isNotNull() & (v != "")
        return cond

    tier_col = F.lit(0)
    fp_col = F.lit(None).cast("string")
    for tier_idx in range(len(tiers), 0, -1):
        cols = tiers[tier_idx - 1]
        tier_col = F.when(complete(cols), F.lit(tier_idx)).otherwise(tier_col)
        fp_col = F.when(complete(cols), fingerprint(*cols)).otherwise(fp_col)

    keyed = df.select(F.col(id_col), tier_col.alias("tier"), fp_col.alias("__fp"))
    groups = (
        keyed.filter(F.col("tier") > 0)
        .groupBy("tier", "__fp")
        .agg(F.min(F.col(id_col)).alias("canonical_id"))
    )
    conf = F.lit(None).cast("double")
    for tier_idx, w in weights.items():
        conf = F.when(F.col("tier") == tier_idx, F.lit(w)).otherwise(conf)
    conf = F.when(F.col("tier") == 0, F.lit(1.0)).otherwise(F.coalesce(conf, F.lit(0.5)))
    return (
        keyed.join(groups, ["tier", "__fp"], "left")
        .select(
            F.col(id_col),
            F.coalesce("canonical_id", F.col(id_col)).alias("canonical_id"),
            "tier",
            F.round(conf, 2).alias("confidence"),
        )
    )


def dedup_against_corpus(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Incremental near-dup check: each NEW document against an EXISTING
    corpus, never corpus×corpus — the nightly-ingest shape at 100 TB
    (the corpus shingle index is append-only; candidate generation is
    batch-side shingles probing it, so cost scales with the batch, not
    the corpus²). Same exact n-gram Jaccard semantics as
    ``ngram_jaccard_pairs``; ``max_df`` prunes ubiquitous shingles by
    their CORPUS document frequency (the stable side). Returns the best
    corpus match per batch doc: (id, dup_of, jaccard), ties broken by
    lowest corpus id.
    """
    from dopams_etl_spark.partitioning import ensure_parallelism

    def side(df: DataFrame, name: str) -> DataFrame:
        return (
            ensure_parallelism(df, id_col)
            .select(
                F.col(id_col).alias(f"{name}_id"),
                word_shingles(text_col, shingle_n).alias("sh"),
            )
            .filter(F.size("sh") > 0)
            .withColumn(f"{name}_sz", F.size("sh"))
            .select(f"{name}_id", f"{name}_sz", F.explode("sh").alias("shingle"))
        )

    b = side(batch, "b")
    c = side(corpus, "c")
    if max_df is not None:
        keep = (
            c.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("shingle")
        )
        c = c.join(keep, "shingle")
        b = b.join(keep, "shingle")
    scored = (
        b.join(c, "shingle")
        .groupBy("b_id", "c_id", "b_sz", "c_sz")
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("b_sz") + F.col("c_sz") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    w = Window.partitionBy("b_id").orderBy(F.col("jaccard").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("b_id").alias("id"), F.col("c_id").alias("dup_of"), "jaccard")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents that share at least
    ``min_hits`` distinct word n-grams with ANY benchmark/eval document —
    the standard pre-training hygiene step (the reference has no analog;
    this is north-star training-data surface).

    Scale shape: the benchmark side is an eval set — MBs at ANY corpus
    scale — so its distinct-shingle set is explicitly ``F.broadcast``-safe
    (a genuinely bounded side, unlike the SF-scaling tables the repo
    de-hinted): corpus shingles stream map-side through a broadcast hash
    join, no corpus-row shuffle; only the matching (doc, shingle) rows —
    a tiny fraction — reach the per-doc count. The verdict re-attach is a
    left join of corpus ids to the (small) contaminated-hit table, which
    AQE broadcasts.

    Returns every corpus row's verdict: (id, overlap_ngrams, contaminated).
    """
    from dopams_etl_spark.partitioning import ensure_parallelism

    bench_shingles = (
        benchmark.select(F.explode(word_shingles(text_col, shingle_n)).alias("shingle"))
        .distinct()
    )
    corp = ensure_parallelism(corpus, id_col).select(
        F.col(id_col).alias("id"), word_shingles(text_col, shingle_n).alias("sh")
    )
    exploded = corp.select("id", F.explode("sh").alias("shingle"))
    hits = (
        exploded.join(F.broadcast(bench_shingles), "shingle")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("overlap_ngrams"))
    )
    return (
        corp.select("id")
        .join(hits, "id", "left")
        .select(
            "id",
            F.coalesce("overlap_ngrams", F.lit(0)).alias("overlap_ngrams"),
            (F.coalesce("overlap_ngrams", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def repeated_ngram_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_words: int = 5,
    min_docs: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Span-level duplicate detection (ExactSubstr-style — Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better",
    public): a word n-gram SPAN appearing verbatim in >= ``min_docs``
    distinct documents marks every occurrence as duplicated text. Unlike
    the pairwise near-dup family (MinHash/SimHash/Jaccard, whole-document
    verdicts), this localizes WHICH text is copied — per document it
    returns the total span count, how many of its spans also occur
    elsewhere, and the duplicated fraction (the "remove or trim" signal a
    training-data pipeline thresholds on).

    Spark shape: one posexplode of per-position span hashes (md5 of the
    joined words — the shuffle key stays 32 bytes however long the span),
    one distinct-doc-count aggregate keyed on the hash, one hash join back
    of the tiny duplicated-hash set, one per-doc re-aggregate. All
    shuffles key on span-hash or doc id — candidate work never crosses
    hash buckets, so the plan survives corpus-scale fan-out; ubiquitous
    boilerplate spans (the skew hazard) bound each hash's join fan-out by
    its true occurrence count, and ``max_df`` drops spans occurring in
    more than that many distinct docs BEFORE the join back (as in
    ``ngram_jaccard_pairs``) — ubiquitous boilerplate is noise, not
    duplication signal, and it is exactly the skew hazard.

    Documents shorter than ``span_words`` words have no spans and are
    absent from the output (same as the SQL restatement).
    """
    from dopams_etl_spark.partitioning import ensure_parallelism

    ws = tokens(text_col)
    # r15 (guide §2.4): the span subtree is referenced twice (the
    # distinct-doc-count aggregate and the join back) and a small corpus
    # scans as one task — spread on the doc id so the tokenize + per-span
    # md5 work parallelizes and the final per-doc aggregate is
    # pre-partitioned. Counts are order-invariant; no-op at real scale.
    spans = (
        ensure_parallelism(df.filter(F.trim(text_col) != ""), id_col)
        .select(F.col(id_col).alias("id"), ws.alias("ws"))
        .filter(F.size("ws") >= span_words)
        .select(
            "id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - span_words + 1),
                    lambda i: F.md5(
                        F.array_join(F.slice("ws", i, span_words), " ")
                    ),
                )
            ).alias("span_h"),
        )
    )
    nd = spans.groupBy("span_h").agg(F.countDistinct("id").alias("__nd"))
    if max_df is not None:
        nd = nd.filter(F.col("__nd") <= max_df)
    dup = nd.filter(F.col("__nd") >= min_docs).select(
        "span_h", F.lit(1).alias("__dup")
    )
    return (
        spans.join(dup, "span_h", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count("__dup").alias("n_dup_spans"),
        )
        .select(
            "id",
            "n_spans",
            "n_dup_spans",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 6).alias("dup_ratio"),
        )
    )


def shingle_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.9,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric containment near-dup pairs (Broder's containment
    coefficient, public): c(A in B) = |shingles(A) ∩ shingles(B)| /
    |shingles(A)|. Jaccard misses sub-document duplication — a doc fully
    embedded in a 10× larger one scores J ≈ 0.1 but containment 1.0 —
    which is exactly the quote/excerpt/expanded-rewrite case a
    training-data dedup pass needs to catch. Emits one row per unordered
    pair (id_a < id_b) with BOTH directional coefficients; a pair
    survives when either direction reaches ``threshold``.

    Same inverted-index shape (and skew discipline — ``max_df`` drops
    ubiquitous shingles) as ``ngram_jaccard_pairs``: the shuffle keys on
    the shingle, pairs only materialize for docs that actually share one.
    """
    inter = _shingle_intersections(df, id_col, text_col, shingle_n, max_df)
    out = inter.select(
        "id_a",
        "id_b",
        F.round(F.col("inter") / F.col("size_a").cast("double"), 6).alias("containment_a"),
        F.round(F.col("inter") / F.col("size_b").cast("double"), 6).alias("containment_b"),
    )
    return out.filter(
        (F.col("containment_a") >= threshold) | (F.col("containment_b") >= threshold)
    )

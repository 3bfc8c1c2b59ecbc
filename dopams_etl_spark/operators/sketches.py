"""Streaming-sketch operators: frequent items (heavy hitters).

The reference maintains per-entity frequency dashboards by re-running full
GROUP BY counts over the fact tables (the MV refresh pattern,
``etl-crimes/etl_crimes.py`` analytics layer). A full count is fine when
the key cardinality is bounded; at 100 TB event scale the distinct-key set
itself can exceed executor memory, and the question being asked is usually
not "count every key" but "which keys exceed s·N" — the classic
heavy-hitters problem.

Spark-first formulation — candidate-then-verify, both phases distributed:

1. **Candidates**: one pass with a Misra-Gries summary of capacity ``k``
   per *partition* (``mapInPandas`` — the function receives every Arrow
   batch of its partition, so a dict carried across batches IS the
   per-partition summary; Python cost is O(partition) dict ops on the
   skinny key column only). MG guarantee (Misra & Gries 1982): any item
   with partition-local frequency > n_p/(k+1) survives the partition's
   summary. An item with global frequency ≥ s·N has local frequency
   ≥ s·n_p in at least one partition (averaging argument), so with
   ``k ≥ 1/s`` the union of partition summaries is a SUPERSET of the true
   heavy hitters — no false negatives, ≤ k·P candidates total.
2. **Verify**: exact count of the candidate keys only — a broadcast
   semi-join of the fact against the (tiny) candidate set, then a plain
   groupBy count filtered at the exact threshold. False positives from
   phase 1 die here, so the result is EXACTLY the naive
   ``GROUP BY HAVING count ≥ ceil(s·N)`` answer.

Why not plain groupBy+filter? That shuffles one partial row per distinct
key per map task; with gigacardinality keys the shuffle and the reduce-side
hash tables are O(distinct). Candidate-verify bounds phase-1 output at
k·P rows regardless of cardinality and phase 2 only aggregates rows whose
key is in the broadcast candidate set (filter pushed below the shuffle).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dopams_etl_spark.functions.ids import md5_words


def _mg_candidates(df_keys: DataFrame, key: str, k: int) -> DataFrame:
    """Per-partition Misra-Gries summaries of capacity ``k`` over the
    single-column frame ``df_keys``; returns the distinct union of all
    partition summaries (≤ k · numPartitions rows)."""
    import pandas as pd

    out_schema = f"{key} string"

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Weighted Misra-Gries (Berinde et al. 2010): each Arrow batch is
        # pre-aggregated VECTORIZED (value_counts — C speed over the whole
        # column), then the (key, weight) pairs fold into the summary with
        # weighted decrements. Every overflow event subtracts the current
        # minimum m from all k+1 counters, removing ≥ (k+1)·m total weight;
        # the m's therefore sum to ≤ n_p/(k+1), so any key with local
        # frequency > n_p/(k+1) keeps a positive counter — the SAME
        # superset guarantee as per-row MG (property-tested in
        # test_sketches_graph), with Python dict cost dropped from
        # O(rows) to O(distinct-per-batch).
        counters: dict[str, int] = {}
        for pdf in batches:
            for v, w in pdf[key].value_counts(dropna=False).items():
                counters[v] = counters.get(v, 0) + int(w)
                if len(counters) > k:
                    m = min(counters.values())
                    counters = {c: n - m for c, n in counters.items() if n > m}
        yield pd.DataFrame({key: list(counters.keys())})

    return df_keys.mapInPandas(summarize, schema=out_schema).distinct()


def heavy_hitters(
    df: DataFrame,
    key: str,
    threshold_frac: float,
    count_name: str = "cnt",
) -> DataFrame:
    """All keys whose exact frequency is ≥ ``ceil(threshold_frac · N)``,
    with their exact counts — equal to the naive GROUP BY/HAVING answer,
    computed with bounded intermediate state.

    The MG capacity is ``ceil(1/threshold_frac)`` which guarantees the
    candidate set is a superset of the true heavy hitters (see module
    docstring); the verify pass then computes exact counts for candidates
    only. The exact total N enters the plan as a ONE-ROW aggregate
    broadcast onto the (small) verified-count frame — the whole operator
    stays lazy; nothing executes at plan-build time.
    """
    if not 0 < threshold_frac < 1:
        raise ValueError(f"threshold_frac must be in (0,1), got {threshold_frac}")
    k = int(1.0 / threshold_frac) + 1

    keys_only = df.select(F.col(key).cast("string").alias(key))
    candidates = _mg_candidates(keys_only, key, k)

    # ceil(frac · N) in DOUBLE on both engine and oracle side so the FP
    # product rounds identically (0.007·10000 is 70.000…014 in binary;
    # both must ceil it the same way).
    n_row = keys_only.agg(F.count(F.lit(1)).alias("__n"))
    return (
        keys_only.join(F.broadcast(candidates), key, "left_semi")
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias(count_name))
        .crossJoin(F.broadcast(n_row))
        .filter(
            F.col(count_name)
            >= F.ceil(F.lit(float(threshold_frac)) * F.col("__n").cast("double")).cast("long")
        )
        .drop("__n")
    )


# ---------------------------------------------------------------------------
# Bloom filter: the membership pre-filter in front of an exact join.
#
# Classic 100 TB decontamination shape: the eval/benchmark side is small
# (MBs), the corpus is not. An exact shingle join already broadcasts the
# eval set; a Bloom filter shrinks what SURVIVES to the per-doc aggregate
# to (true hits + fp_rate · corpus shingles) — at fp ~1e-3 the downstream
# exchange carries ~nothing. Spark's own runtime bloom-filter join applies
# the same idea to equi-joins; this operator makes it an explicit,
# engine-portable primitive (Kirsch-Mitzenmacher double hashing over the
# two 32-bit words of ONE md5 — the same "one strong hash, then derive the
# family" construction as the MinHash universal family, and byte-identical
# in any engine with a standard md5).
# ---------------------------------------------------------------------------

_BLOOM_POW2 = tuple(1 << b for b in range(32))


def _bloom_pos(col: "F.Column | str", m_bits: int, i: int) -> "F.Column":
    """Bit position of hash-family member ``i``: (h1 + i·h2) mod m, with
    (h1, h2) the two 32-bit words of md5(value). Products stay < 2^34 —
    no overflow under ANSI long arithmetic."""
    h1, h2 = md5_words(F.md5(F.col(col) if isinstance(col, str) else col))
    return (h1 + F.lit(i) * h2) % F.lit(m_bits)


def bloom_words(values: DataFrame, col: str, m_bits: int = 1 << 19, k: int = 4) -> DataFrame:
    """Build the filter as a (word:int, bits:long) table — one bit_or
    aggregate over the k bit positions of every value. m_bits/32 rows max
    (only words with a set bit appear), so the result broadcasts at any
    realistic eval-set size (2^19 bits = 16k rows ≈ 200 KB; even a
    10^9-bit filter is ~250 MB of rows — still a broadcast candidate).
    Fully lazy: nothing executes at plan-build time."""
    pow2 = F.array(*[F.lit(v) for v in _BLOOM_POW2])
    pos = values.select(
        F.explode(F.array(*[_bloom_pos(col, m_bits, i) for i in range(k)])).alias("pos")
    )
    return (
        pos.select(
            F.floor(F.col("pos") / 32).cast("int").alias("word"),
            (F.col("pos") % 32).cast("int").alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or(F.element_at(pow2, F.col("bit") + 1)).alias("bits"))
    )


def bloom_probe(
    df: DataFrame,
    col: str,
    words: DataFrame,
    m_bits: int = 1 << 19,
    k: int = 4,
    out: str = "might_contain",
) -> DataFrame:
    """Append ``out``: TRUE iff every one of the value's k filter bits is
    set — possible false positives (rate (1-e^{-kn/m})^k), NEVER false
    negatives. k broadcast hash joins on the word index, all map-side: no
    shuffle of ``df`` and no giant bitmap literal in the plan (16k+ lit
    arrays bloat analysis; a joined table does not). A word absent from
    ``words`` has no set bits → membership false via the null check."""
    pow2 = F.array(*[F.lit(v) for v in _BLOOM_POW2])
    probe = df
    tests = []
    for i in range(k):
        p = _bloom_pos(col, m_bits, i)
        probe = probe.withColumn(f"__w{i}", F.floor(p / 32).cast("int")).withColumn(
            f"__b{i}", (p % 32).cast("int")
        )
        w_i = words.select(
            F.col("word").alias(f"__w{i}"), F.col("bits").alias(f"__bits{i}")
        )
        probe = probe.join(F.broadcast(w_i), f"__w{i}", "left")
        tests.append(
            F.coalesce(
                F.col(f"__bits{i}").bitwiseAND(F.element_at(pow2, F.col(f"__b{i}") + 1))
                != 0,
                F.lit(False),
            )
        )
    verdict = tests[0]
    for t_ in tests[1:]:
        verdict = verdict & t_
    drop = [c for i in range(k) for c in (f"__w{i}", f"__b{i}", f"__bits{i}")]
    return probe.withColumn(out, verdict).drop(*drop)


# ---------------------------------------------------------------------------
# Count-Min Sketch: fixed-size frequency summary with a one-sided error
# guarantee (estimate ≥ true count, overcount ≤ εN w.p. 1−δ). The streaming
# complement of Misra-Gries above: MG answers "which keys are heavy", CMS
# answers "how often is THIS key" for any key, in depth×width integers no
# matter the cardinality — and two CMS tables built on different data
# slices MERGE by cell-wise addition, which a per-key exact count only
# does after a full shuffle. Same Kirsch-Mitzenmacher md5 double-hashing
# as the Bloom filter, so every cell is engine-reproducible.
# ---------------------------------------------------------------------------


def cms_counters(df: DataFrame, key: str, width: int = 64, depth: int = 3) -> DataFrame:
    """Build the sketch as a (row:int, col:int, cnt:long) cell table —
    ≤ depth·width rows regardless of input cardinality (only non-zero
    cells appear). One exploded aggregate; fully lazy."""
    pos = df.select(
        F.posexplode(
            F.array(*[_bloom_pos(F.col(key).cast("string"), width, i) for i in range(depth)])
        ).alias("row", "col")
    )
    return pos.groupBy("row", "col").agg(F.count(F.lit(1)).alias("cnt"))


def cms_estimate(
    keys: DataFrame,
    key: str,
    counters: DataFrame,
    width: int = 64,
    depth: int = 3,
    out: str = "est",
) -> DataFrame:
    """Point-frequency estimates for every row of ``keys``: the minimum
    over the sketch's depth cells for that key. ``counters`` broadcasts
    (≤ depth·width rows); the probe is depth map-side joins — no shuffle
    of ``keys``. A missing cell means zero occurrences (estimate 0);
    the CMS guarantee (never an undercount) holds per construction."""
    probe = keys
    ests = []
    for i in range(depth):
        p = _bloom_pos(F.col(key).cast("string"), width, i)
        probe = probe.withColumn(f"__c{i}", p.cast("int"))
        c_i = counters.filter(F.col("row") == i).select(
            F.col("col").alias(f"__c{i}"), F.col("cnt").alias(f"__n{i}")
        )
        probe = probe.join(F.broadcast(c_i), f"__c{i}", "left")
        ests.append(F.coalesce(F.col(f"__n{i}"), F.lit(0)))
    drop = [c for i in range(depth) for c in (f"__c{i}", f"__n{i}")]
    return probe.withColumn(out, F.least(*ests)).drop(*drop)

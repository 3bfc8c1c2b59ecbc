"""Embedding similarity search (training-data pipeline surface).

Brute-force cosine top-k as the exact baseline (JVM ``zip_with``/``aggregate``
dot products, or — where a call site opts in with ``impl="arrow"`` — one
NumPy kernel, ``_cos_block``, that replicates that fold bit for bit over
Arrow blocks; ``semantic_dedup`` scores its cells with the same kernel),
plus an LSH-bucketed approximate variant for the 100 TB path
(random-hyperplane signatures computed from a deterministic seed;
candidate pairs only form within a bucket) and an embedding-cosine
near-dup operator.

Reference analog: the MiniLM embedding resolver with cosine top-3 +
thresholds (``core/geo_resolver.py:22–272``) — generalized to a
``similarity_topk(probe, corpus, k)`` operator per SURVEY §7.3 step 7.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column | str, b: Column | str) -> Column:
    # Cast per-element BEFORE multiplying: float*float products lose the
    # precision the double accumulator is supposed to keep (and diverge
    # from any double-math oracle).
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            F.col(a) if isinstance(a, str) else a,
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine of two vector columns; NULL when either norm is 0."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def _cos_pre(a: Column | str, b: Column | str, na: Column, nb: Column) -> Column:
    """``cosine`` with both operand norms precomputed per ROW (r15, guide
    §2.3): the expression tree is the same ``_dot / (norm_a * norm_b)``,
    so values are bit-identical — but a pair join that scores |cell|²
    candidates no longer re-aggregates each side's self-norm once per
    PAIR (3 array folds/pair → 1). Callers materialize ``_norm(v)`` as a
    column before the join and pass it here."""
    return F.try_divide(_dot(a, b), na * nb)


MAX_BROADCAST_CORPUS_ROWS = 2_000_000

# Rows per packed corpus chunk on the Arrow scoring path (r16): bounds the
# per-block candidate matrix (a 512-probe slice × 4096 corpus rows of
# doubles is ~16 MB) and the per-cell Arrow payload (~1 MB of vectors).
_ARROW_CHUNK_ROWS = 4096
_ARROW_PROBE_SLICE = 512


def _spark_round6(vals):
    """Vectorized replica of Spark's ``round(x, 6)`` on doubles.

    Spark rounds HALF_UP on the SHORTEST-DECIMAL representation
    (``BigDecimal.valueOf`` goes through ``Double.toString``, the same
    shortest-round-trip algorithm as Python ``repr``), normalizes zeros
    to +0.0 (BigDecimal has no signed zero — probed empirically: round
    of ±1e-9 and -0.0 all return +0.0 bits), and passes NaN/Inf through.
    The fast ``floor(|x|*1e6 + 0.5)`` path agrees except within ~1e-10
    of a .5 decision boundary; entries inside a 1e-6 safety band
    re-round exactly via ``Decimal(repr(x))``."""
    import numpy as np

    out = vals.copy()
    finite = np.isfinite(vals)
    a = vals[finite]
    y = np.abs(a) * 1e6
    r = np.floor(y + 0.5)
    rounded = np.where(a < 0.0, -r, r) / 1e6
    frac = y - np.floor(y)
    sus = np.abs(frac - 0.5) < 1e-6
    if sus.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal("0.000001")
        rounded[sus] = [
            float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))
            for x in a[sus]
        ]
    rounded[rounded == 0.0] = 0.0
    out[finite] = rounded
    return out


def _seq_dots(P, C):
    """Pair dot products with the EXACT fold order of ``_dot``: one
    vectorized multiply-add per dimension keeps every pair's accumulator
    on the ``((0 + p0*c0) + p1*c1) + …`` sequence, so results are
    bit-identical to the zip_with/aggregate fold (verified over all
    99,950 sf0.1 probe pairs, 0 bit mismatches) — unlike BLAS matmul,
    whose blocked/FMA accumulation reassociates the sum."""
    import numpy as np

    Ct = np.ascontiguousarray(C.T)  # one contiguous row per dimension
    acc = np.zeros((P.shape[0], C.shape[0]))
    prod = np.empty_like(acc)
    for j in range(P.shape[1]):
        np.multiply(P[:, j : j + 1], Ct[j], out=prod)
        acc += prod
    return acc


def _seq_norms(M):
    import numpy as np

    acc = np.zeros(M.shape[0])
    for j in range(M.shape[1]):
        acc += M[:, j] * M[:, j]
    return np.sqrt(acc)


def _padded(vecs, width: int):
    """(rows × width zero-padded matrix, NULL-row mask, widths) of a list
    of vectors; a NULL vector or one holding a NULL element is a NULL
    row (left all zero)."""
    import numpy as np

    M = np.zeros((len(vecs), width))
    null = np.zeros(len(vecs), dtype=bool)
    widths = np.zeros(len(vecs), dtype=np.int64)
    for i, v in enumerate(vecs):
        if v is None or None in v:
            null[i] = True
        else:
            M[i, : len(v)] = v
            widths[i] = len(v)
    return M, null, widths


def _cos_block(p_vecs, c_vecs):
    """NumPy replica of ``round(_cos_pre(p, c, _norm(p), _norm(c)), 6)``
    for every (probe, corpus) pair of a block — the one exact-cosine
    kernel behind the Arrow top-k scorer and ``semantic_dedup``. Returns
    ``(rounded, null_mask)``, both (len(p_vecs), len(c_vecs));
    ``rounded`` is meaningless where ``null_mask`` is set.

    A pair is NULL where the expression is: either side holds a NULL
    element (a NULL product poisons the dot and the norm), the widths
    differ (``zip_with`` pads the shorter side with NULL), or the norm
    product is 0 (``try_divide``). Zero-padding both sides to the
    block's widest vector changes no bit of any other pair: the fold
    accumulator starts at +0.0, and a round-to-nearest sum is -0.0 only
    when both addends are, so it never becomes -0.0 and adding the
    padding's +0.0 products leaves it unchanged."""
    import numpy as np

    width = max((len(v) for v in (*p_vecs, *c_vecs) if v is not None), default=0)
    P, p_null, p_w = _padded(p_vecs, width)
    C, c_null, c_w = _padded(c_vecs, width)
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        denom = _seq_norms(P)[:, None] * _seq_norms(C)[None, :]
        cos = _seq_dots(P, C) / denom
    null = (
        p_null[:, None] | c_null[None, :] | (p_w[:, None] != c_w[None, :])
        | (denom == 0.0)
    )
    cos[null] = 0.0
    return _spark_round6(cos.ravel()).reshape(cos.shape), null


def _eq_codes(*cols):
    """Integer codes under which two values are equal exactly when Spark's
    ``=`` says so (NaN equals NaN, -0.0 equals 0.0): one shared code
    space over all ``cols``; NULL is -1."""
    import numpy as np

    seen: dict = {}
    nan = object()

    def code(x):
        if x is None:
            return -1
        return seen.setdefault(nan if x != x else x, len(seen))

    return [np.array([code(x) for x in col], dtype=np.int64) for col in cols]


def _arrow_block_scorer(k: int, include_self: bool, has_excl: bool, pa_p, pa_c):
    """mapInArrow function over (ps, cs) packed block rows: score every
    in-block (probe, corpus) pair with ``_cos_block``, apply the
    join-condition exclusions, and emit each probe's per-block top-k
    under EXACTLY the global ordering (NaN greatest — Double.compare —
    then value desc, NULL cosines last, c_id asc with NULLS FIRST). The
    global top-k of a union is the top-k of per-block top-ks, so the
    downstream window reproduces the expression path's rows verbatim."""

    def score(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            out_p: list = []
            out_c: list = []
            out_v: list = []
            for row in batch.to_pylist():
                ps, cs = row["ps"], row["cs"]
                if not ps or not cs:
                    continue
                c_ids = [s["i"] for s in cs]
                c_vecs = [s["v"] for s in cs]
                # c_id ASC, NULLS FIRST, as one integer sort key
                c_rank = np.empty(len(cs), dtype=np.int64)
                c_rank[
                    sorted(range(len(cs)), key=lambda j: (c_ids[j] is not None, c_ids[j]))
                ] = np.arange(len(cs))
                p_code, c_code = _eq_codes([s["i"] for s in ps], c_ids)
                if has_excl:
                    pe_code, ce_code = _eq_codes(
                        [s["e"] for s in ps], [s["e"] for s in cs]
                    )
                for lo in range(0, len(ps), _ARROW_PROBE_SLICE):
                    hi = min(lo + _ARROW_PROBE_SLICE, len(ps))
                    rounded, null = _cos_block([s["v"] for s in ps[lo:hi]], c_vecs)
                    # cat: 0 = NaN (sorts greatest), 1 = value, 2 = NULL
                    # (desc NULLS LAST), 3 = excluded by the join condition
                    cat = np.where(null, 2, np.where(np.isnan(rounded), 0, 1))
                    if not include_self:
                        # p_id != c_id is false or NULL: the pair is dropped
                        pc, cc = p_code[lo:hi, None], c_code[None, :]
                        cat[(pc == cc) | (pc < 0) | (cc < 0)] = 3
                    if has_excl:
                        # ~eqNullSafe: equal labels or both NULL disqualify
                        cat[pe_code[lo:hi, None] == ce_code[None, :]] = 3
                    val_key = np.where(cat == 1, -rounded, 0.0)
                    for i in range(hi - lo):
                        sel = np.lexsort((c_rank, val_key[i], cat[i]))[:k]
                        for j in sel[cat[i][sel] < 3]:
                            out_p.append(ps[lo + i]["i"])
                            out_c.append(c_ids[j])
                            out_v.append(None if null[i, j] else float(rounded[i, j]))
            if out_p:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(out_p, type=pa_p),
                        pa.array(out_c, type=pa_c),
                        pa.array(out_v, type=pa.float64()),
                    ],
                    names=["p_id", "c_id", "cos_sim"],
                )

    return score


def cosine_topk(
    probe: DataFrame,
    corpus: DataFrame,
    probe_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    include_self: bool = False,
    corpus_rows: int | None = None,
    exclude_same: str | None = None,
    impl: str = "expr",
) -> DataFrame:
    """Exact brute-force cosine top-k — the small-corpus baseline.

    ``impl="arrow"`` scores pairs in NumPy via one ``mapInArrow`` over
    packed probe×corpus chunk blocks (bit-identical by construction —
    see ``_cosine_scored_pairs``). The Python dispatch + packing
    exchanges cost ~0.4 s fixed on this box, and the fold work saved is
    ~0.3 s per million pairs, so the Arrow path pays above ~1.3 M
    scored pairs (measured r16 A/B: 4 M-pair mutual_nn −45 %, 40 k-pair
    probes +0.4 s) — callers opt in where probe×corpus is large.

    The corpus is broadcast, so this is size-gated: pass ``corpus_rows``
    (or let it count) and anything above ``MAX_BROADCAST_CORPUS_ROWS``
    raises, routing callers to ``lsh_topk`` instead of OOMing the driver.
    Deterministic tie-break on corpus id. Returns
    (probe_id, corpus_id, cos_sim, rank).

    ``exclude_same``: name of a column present on BOTH sides whose equal
    values disqualify a candidate — the hard-negative-mining predicate
    (nearest neighbors NOT sharing the probe's label/cluster/source are
    exactly the hard negatives contrastive training wants).

    Null-vector convention (shared by the whole ANN family, r12 nullhalf
    census): rows whose vector IS NULL are excluded from BOTH probe and
    corpus before anything else. Without the explicit filter the
    engines diverge structurally — a NULL vector yields NULL cosines
    that Spark ranks NULLS LAST (so it can still surface when a probe
    has < k real candidates) while DuckDB's list_dot_product ABORTS on
    a NULL list. Every ANN oracle mirrors this with
    ``catalog.ann_notnull``.
    """
    probe = probe.filter(F.col(vec_col).isNotNull())
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    n = corpus_rows if corpus_rows is not None else corpus.count()
    if n > MAX_BROADCAST_CORPUS_ROWS:
        raise ValueError(
            f"corpus has {n} rows > {MAX_BROADCAST_CORPUS_ROWS}; brute-force "
            "broadcast would OOM — use lsh_topk for large corpora"
        )
    scored = _cosine_scored_pairs(
        probe, corpus, probe_id, corpus_id, vec_col, n, k,
        include_self, exclude_same, impl,
    )
    from pyspark.sql.types import IntegralType

    if k == 1 and isinstance(corpus.schema[corpus_id].dataType, IntegralType):
        # r16 (guide §2.4): top-1-per-key needs no window SORT — one hash
        # aggregate with map-side partials replaces Exchange+Sort+Window
        # over every scored pair. Identical rows: max(struct(cos_sim,
        # c_id IS NULL, ~c_id)) realizes exactly the row_number ordering —
        # struct comparison and SortOrder share Double.compare semantics
        # (NaN greatest, -0.0 < 0.0), a NULL cos_sim loses to any non-NULL
        # in both (desc NULLS LAST ≡ null-smallest under max), the null
        # flag puts a NULL c_id first (asc NULLS FIRST), and ~c_id
        # (= -c_id - 1, no overflow at the minimum id) gives the c_id ASC
        # tie-break. Integral-id gate: bitwise NOT needs an integer type;
        # other id types keep the window path.
        best = F.max(
            F.struct(
                F.col("cos_sim"),
                F.col("c_id").isNull().alias("null_id"),
                F.bitwise_not(F.col("c_id")).alias("nc"),
            )
        )
        return (
            scored.groupBy("p_id")
            .agg(best.alias("b"))
            .select(
                "p_id",
                F.bitwise_not(F.col("b.nc")).alias("c_id"),
                F.col("b.cos_sim").alias("cos_sim"),
                F.lit(1).alias("rank"),
            )
        )
    w = Window.partitionBy("p_id").orderBy(F.col("cos_sim").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("p_id", "c_id", "cos_sim", "rank")
    )


def _cosine_scored_pairs(
    probe: DataFrame,
    corpus: DataFrame,
    probe_id: str,
    corpus_id: str,
    vec_col: str,
    corpus_n: int,
    k: int,
    include_self: bool,
    exclude_same: str | None,
    impl: str = "expr",
) -> DataFrame:
    """(p_id, c_id, cos_sim) pair scores for the exact top-k: either the
    r15 expression path (default — the fixed Python-dispatch cost loses
    below ~1.3 M pairs, see ``cosine_topk``) or the r16 Arrow block
    path — probe and corpus pack into chunk rows
    (collect_list of (id, vec) structs), a crossJoin of P probe × C
    corpus chunks fans out bounded blocks, and one ``mapInArrow`` scores
    each block with ``_cos_block`` (bit-parity with the fold: property
    test against the expression engine, plus strict oracle at 3 SFs) and
    emits per-block top-k candidates, which the caller's global
    window/aggregate reduces to the identical final rows. Replaces the interpreted zip_with/aggregate HOF fold that ran
    per PAIR (CodegenFallback: boxed per-element evaluation — guide
    §4.1/§4.2/§4.3's "hand whole batches to vectorized native code").
    The shuffle moves each side C resp. P times as packed metadata-sized
    chunks — no pair-materialized vectors ever cross the boundary, and
    nothing is collected to the driver (the corpus stays a lazy plan;
    ``F.broadcast`` ships the C packed rows exactly like the old
    broadcast join shipped the raw rows).

    A shape the Arrow path does not handle (mismatched id/label types
    between the sides, non-array or non-numeric vector columns) keeps
    the r15 expression path."""
    from pyspark.sql.types import ArrayType, NumericType

    p_dt = probe.schema[probe_id].dataType
    c_dt = corpus.schema[corpus_id].dataType
    pv_dt = probe.schema[vec_col].dataType
    cv_dt = corpus.schema[vec_col].dataType
    arrow_ok = (
        impl == "arrow"
        and p_dt == c_dt
        and isinstance(pv_dt, ArrayType)
        and isinstance(cv_dt, ArrayType)
        and isinstance(pv_dt.elementType, NumericType)
        and pv_dt == cv_dt
        and (
            exclude_same is None
            or probe.schema[exclude_same].dataType
            == corpus.schema[exclude_same].dataType
        )
    )
    from dopams_etl_spark.partitioning import ensure_parallelism

    if not arrow_ok:
        p_cols = [
            F.col(probe_id).alias("p_id"),
            F.col(vec_col).alias("p_vec"),
            _norm(F.col(vec_col)).alias("p_nrm"),
        ]
        c_cols = [
            F.col(corpus_id).alias("c_id"),
            F.col(vec_col).alias("c_vec"),
            _norm(F.col(vec_col)).alias("c_nrm"),
        ]
        if exclude_same is not None:
            p_cols.append(F.col(exclude_same).alias("p_excl"))
            c_cols.append(F.col(exclude_same).alias("c_excl"))
        p = ensure_parallelism(probe).select(*p_cols)
        c = corpus.select(*c_cols)
        cond = F.lit(True) if include_self else (F.col("p_id") != F.col("c_id"))
        if exclude_same is not None:
            # null-safe inequality: a NULL label never matches anything,
            # so it disqualifies no candidate
            cond = cond & ~F.col("p_excl").eqNullSafe(F.col("c_excl"))
        return p.join(F.broadcast(c), cond).withColumn(
            "cos_sim",
            F.round(_cos_pre("p_vec", "c_vec", F.col("p_nrm"), F.col("c_nrm")), 6),
        )
    from pyspark.sql.pandas.types import to_arrow_type

    sc = probe.sparkSession.sparkContext
    n_pchunks = max(1, sc.defaultParallelism)
    n_cchunks = max(1, -(-corpus_n // _ARROW_CHUNK_ROWS))

    def packed(df: DataFrame, id_col: str, nchunks: int) -> DataFrame:
        fields = [F.col(id_col).alias("i"), F.col(vec_col).alias("v")]
        if exclude_same is not None:
            fields.append(F.col(exclude_same).alias("e"))
        # deterministic chunk key (guide §2.5: never rand-derived); the
        # chunk assignment is result-invariant — every pair lands in
        # exactly one block whatever the split
        return (
            df.groupBy(
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(nchunks)).alias("__ck")
            )
            .agg(F.collect_list(F.struct(*fields)).alias("s"))
            .drop("__ck")
        )

    blocks = (
        packed(probe, probe_id, n_pchunks)
        .withColumnRenamed("s", "ps")
        .crossJoin(
            F.broadcast(packed(corpus, corpus_id, n_cchunks).withColumnRenamed("s", "cs"))
        )
        # spread the P×C heavy-CPU block rows: their BYTES are tiny, so
        # AQE size-based coalescing would serialize the scoring stage
        # (the r15 entity_resolution lesson, guide §2.5/§2.6); a user
        # repartition is AQE-exempt
        .repartition(sc.defaultParallelism)
    )
    fn = _arrow_block_scorer(
        k, include_self, exclude_same is not None,
        to_arrow_type(p_dt), to_arrow_type(c_dt),
    )
    out_schema = (
        f"p_id {p_dt.simpleString()}, c_id {c_dt.simpleString()}, cos_sim double"
    )
    return blocks.mapInArrow(fn, out_schema)


def embedding_near_dups(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    planes: int = 8,
    tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cos >= threshold).

    Composed over ``lsh_bucket`` with multi-table OR-amplification: each
    of ``tables`` independent hyperplane sets buckets the data once, pairs
    form only within a (table, bucket) key, and the union dedups. No
    unbounded cartesian ever forms. Recall for a pair at angle θ is
    1 - (1 - (1-θ/π)^planes)^tables — e.g. cos 0.9, planes=8, tables=4
    → ~0.75; raise ``tables`` for more.

    Null-vector convention (see ``cosine_topk``): NULL vectors are
    filtered out explicitly before bucketing.
    """
    from dopams_etl_spark.partitioning import ensure_parallelism

    exploded = ensure_parallelism(
        df.filter(F.col(vec_col).isNotNull()), id_col
    ).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        lsh_bucket(vec_col, dim, planes, seed + 1000 * t).alias("bucket"),
                    )
                    for t in range(tables)
                ]
            )
        ).alias("tb"),
    ).select(
        "id",
        "v",
        _norm("v").alias("nrm"),
        F.col("tb.tbl").alias("tbl"),
        F.col("tb.bucket").alias("bucket"),
    )
    a = exploded.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"), "tbl", "bucket",
    )
    b = exploded.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"), "tbl", "bucket",
    )
    return (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "cos_sim", F.round(_cos_pre("va", "vb", F.col("na"), F.col("nb")), 6)
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def _hyperplanes(dim: int, planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (numpy, fixed seed) —
    broadcast as literals into the plan."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((planes, dim)).tolist()


def lsh_bucket(vec_col: Column | str, dim: int, planes: int = 12, seed: int = 42) -> Column:
    """Random-hyperplane LSH bucket id: sign bits of <v, plane_i> packed into
    an int. Same-bucket vectors are cosine-close with high probability."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    hp = _hyperplanes(dim, planes, seed)
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(hp):
        # r16: ONE array literal per plane instead of dim F.lit() py4j
        # round-trips — ann_cost_recall_tradeoff's build spent 19.5 s of
        # 21 s in per-element lit calls (50 lsh_bucket invocations x
        # planes x dim sockets). Same schema, same values (CreateArray
        # of foldable literals constant-folds to this Literal anyway).
        plane_arr = F.lit([float(x) for x in plane])
        d = _dot(v, plane_arr)
        bucket = bucket + F.when(d > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0))
    return bucket


def _nearest_centroids(
    vec_col: Column | str,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    norm_col: Column | None = None,
) -> Column:
    """Array of the ``nprobe`` nearest centroid ids by cosine.

    ONE literal array of (cid, cvec, cnorm) structs traversed by a single
    ``transform`` — unrolling a per-centroid cosine expression instead
    made the plan tree ~n_centroids× bigger (measured 12.7 s → ~1 s of
    analysis/codegen at 32 centroids). Centroid norms are Python-side
    constants; only the dot products run per row. Pass ``norm_col`` (a
    materialized ``_norm(v)`` column) to skip re-folding the row's own
    norm once per centroid (r15, guide §2.3 — bit-identical, same
    division tree).
    """
    import math

    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    cent_arr = F.array(
        *[
            F.struct(
                F.lit(cid).alias("cid"),
                F.lit([float(x) for x in cvec]).alias("cv"),
                F.lit(math.sqrt(sum(x * x for x in cvec))).alias("cn"),
            )
            for cid, cvec in centroids
        ]
    )
    vn = _norm(v) if norm_col is None else norm_col
    scored = F.transform(
        cent_arr,
        lambda c: F.struct(
            (-(_dot(v, c["cv"]) / (vn * c["cn"]))).alias("negcos"), c["cid"].alias("cid")
        ),
    )
    return F.slice(F.transform(F.array_sort(scored), lambda s: s["cid"]), 1, nprobe)


def ivf_topk(
    probe: DataFrame,
    corpus: DataFrame,
    probe_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 32,
    nprobe: int = 4,
    refine_iters: int = 0,
) -> DataFrame:
    """IVF-style ANN: the scale path alongside ``lsh_topk``.

    Coarse quantizer = ``n_centroids`` corpus vectors picked by the
    smallest ``md5(cast(id as string))`` — a deterministic pseudo-random
    sample that needs NO sizing pass, works for any id type (dense ints,
    sparse ints, strings), and plans as ``TakeOrderedAndProject`` (each
    partition keeps its top-n, the driver merges — no global sort even at
    100 TB). A kmeans refinement plugs in here without changing the plan
    shape. Every corpus vector is assigned to its nearest centroid (one
    pass, centroids are plan literals); a probe searches only its
    ``nprobe`` nearest cells, so the join key is the cell id and the
    candidate set is |corpus|·nprobe/n_centroids per probe instead of
    |corpus|. Exact cosine re-ranks within the probed cells. Recall
    measured vs ``cosine_topk`` in tests (incl. non-contiguous ids).

    Null-vector convention (see ``cosine_topk``): NULL vectors are
    excluded up front — besides the shared-semantics reason, the
    md5-ordered seed sample must never pick a NULL vector as a
    centroid (a None in the collected literals poisons the plan).
    """
    probe = probe.filter(F.col(vec_col).isNotNull())
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    rows = corpus.select(F.col(corpus_id).alias("cid"), F.col(vec_col).alias("v"))
    sel = rows.orderBy(F.md5(F.col("cid").cast("string")).asc(), F.col("cid").asc()).limit(
        n_centroids
    )
    cents = [(r["cid"], [float(x) for x in r["v"]]) for r in sel.collect()]
    if not cents:
        # Empty corpus: zero centroids means zero cells to probe. Return
        # an empty, correctly-typed result instead of letting
        # _nearest_centroids build an uninhabitable zero-struct literal
        # (AnalysisException) — the same shape cosine_topk degrades to.
        return (
            probe.select(F.col(probe_id).alias("p_id"))
            .limit(0)
            .select(
                "p_id",
                F.lit(None).cast(corpus.schema[corpus_id].dataType).alias("c_id"),
                F.lit(None).cast("double").alias("cos_sim"),
                F.lit(None).cast("int").alias("rank"),
            )
        )
    # Optional Lloyd refinement (kmeans over the md5 seeds): re-assign the
    # corpus, replace each centroid with its cell mean — one distributed
    # aggregate + one n_centroids-row collect per iteration (the same
    # driver-scalar pattern as the seed selection). Empty cells keep their
    # previous vector. refine_iters=0 (default) keeps the seed quantizer,
    # which is the SQL-oracle-replicated path; refinement is the
    # engine-side quality knob (recall floor pinned in test_similarity).
    dim = len(cents[0][1]) if cents else 0
    for _ in range(refine_iters):
        assign_r = _nearest_centroids(vec_col, cents, 1).getItem(0)
        means = (
            corpus.select(assign_r.alias("cell"), F.col(vec_col).alias("v"))
            .groupBy("cell")
            .agg(F.array(*[F.avg(F.col("v").getItem(i)) for i in range(dim)]).alias("mv"))
        )
        by_cell = {r["cell"]: [float(x) for x in r["mv"]] for r in means.collect()}
        cents = [(cid, by_cell.get(cid, vec)) for cid, vec in cents]
    # r15 (guide §2.3): materialize each side's norm once — the centroid
    # assignment stops re-folding the row norm per centroid and the
    # cell-join re-rank folds one dot per candidate (bit-identical).
    nrm = _norm(F.col(vec_col))
    c = corpus.select(
        F.col(corpus_id).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        nrm.alias("c_nrm"),
    ).withColumn(
        "cell",
        _nearest_centroids("c_vec", cents, 1, norm_col=F.col("c_nrm")).getItem(0),
    )
    p = probe.select(
        F.col(probe_id).alias("p_id"),
        F.col(vec_col).alias("p_vec"),
        nrm.alias("p_nrm"),
    ).select(
        "p_id",
        "p_vec",
        "p_nrm",
        F.explode(
            _nearest_centroids("p_vec", cents, nprobe, norm_col=F.col("p_nrm"))
        ).alias("cell"),
    )
    scored = (
        p.join(c, "cell")
        .filter(F.col("p_id") != F.col("c_id"))
        .withColumn(
            "cos_sim",
            F.round(_cos_pre("p_vec", "c_vec", F.col("p_nrm"), F.col("c_nrm")), 6),
        )
    )
    w = Window.partitionBy("p_id").orderBy(F.col("cos_sim").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("p_id", "c_id", "cos_sim", "rank")
        .dropDuplicates(["p_id", "rank"])
    )


def lsh_topk(
    probe: DataFrame,
    corpus: DataFrame,
    probe_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    planes: int = 8,
    tables: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: join only within LSH buckets — the shuffle is on
    the bucket id, never the cross product.

    Recall knobs (same OR-amplification scheme as ``embedding_near_dups``):
    a candidate at angle θ to the probe surfaces with probability
    1 - (1 - (1-θ/π)^planes)^tables — fewer ``planes`` → bigger buckets
    (more candidates, more compute), more ``tables`` → independent bucket
    sets unioned (linear cost in tables, exponential recall gain). With
    ``tables=1`` this is a single (bucket) equi-join; with tables>1 the
    join key is (table, bucket) and duplicate (p,c) candidates dedup
    before ranking. Exact cosine re-ranks candidates either way.

    Candidate generation is ``lsh_candidates`` — ONE bucketing
    implementation; this function is only the exact-cosine re-rank on
    top (the duplication the r12 verdict scheduled out). + 0.0
    canonicalizes IEEE -0.0 on the rounded sign-indefinite cosine
    (bucket-mates can be anti-correlated, unlike an exact top-k)."""
    pairs = lsh_candidates(
        probe, corpus, probe_id, corpus_id, vec_col, dim, planes, tables, seed
    )
    scored = pairs.withColumn(
        "cos_sim",
        F.round(_cos_pre("p_vec", "c_vec", F.col("p_nrm"), F.col("c_nrm")), 6) + 0.0,
    )
    w = Window.partitionBy("p_id").orderBy(F.col("cos_sim").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("p_id", "c_id", "cos_sim", "rank")
    )


def lsh_candidates(
    probe: DataFrame,
    corpus: DataFrame,
    probe_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    dim: int = 64,
    planes: int = 8,
    tables: int = 1,
    seed: int = 42,
) -> DataFrame:
    """The candidate-GENERATION stage of ``lsh_topk``, exposed on its own:
    distinct (p_id, c_id, p_vec, c_vec) pairs surfaced by the (table,
    bucket) equi-join, BEFORE any ranking. What ``lsh_topk`` ranks, this
    counts — the candidate-set size is the per-probe COST of an LSH
    operating point (every candidate is one exact cosine at re-rank
    time), the axis a recall number alone hides. Same bucketing
    convention as ``lsh_topk``: table t hashes with the seed-(seed+1000t)
    hyperplane set and duplicate pairs across tables dedup once.

    Scale shape is the ``lsh_topk`` one: the only shuffles are the
    (tbl, bucket) equi-join and the pair dedup — no cross product.

    Null-vector convention (see ``cosine_topk``): NULL vectors are
    filtered out explicitly before bucketing — the (tbl, bucket)
    equi-join already drops them silently (a NULL vector hashes to a
    NULL bucket), so this changes no output, but it makes the shared
    ANN convention greppable and keeps the filter ahead of the
    ``tables``× explode."""
    from dopams_etl_spark.partitioning import ensure_parallelism

    def bucketed(
        df: DataFrame, id_col: str, id_out: str, vec_out: str, nrm_out: str
    ) -> DataFrame:
        return ensure_parallelism(df.filter(F.col(vec_col).isNotNull())).select(
            F.col(id_col).alias(id_out),
            F.col(vec_col).alias(vec_out),
            # r15 (guide §2.3): norm materialized once per bucketed row so
            # the re-rank folds one dot per candidate pair (bit-identical)
            _norm(F.col(vec_col)).alias(nrm_out),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("tbl"),
                            lsh_bucket(vec_col, dim, planes, seed + 1000 * t).alias("bucket"),
                        )
                        for t in range(tables)
                    ]
                )
            ).alias("tb"),
        ).select(
            id_out,
            vec_out,
            nrm_out,
            F.col("tb.tbl").alias("tbl"),
            F.col("tb.bucket").alias("bucket"),
        )

    p = bucketed(probe, probe_id, "p_id", "p_vec", "p_nrm")
    c = bucketed(corpus, corpus_id, "c_id", "c_vec", "c_nrm")
    pairs = p.join(c, ["tbl", "bucket"]).filter(F.col("p_id") != F.col("c_id"))
    if tables > 1:
        pairs = pairs.dropDuplicates(["p_id", "c_id"])
    return pairs.select("p_id", "c_id", "p_vec", "c_vec", "p_nrm", "c_nrm")


def semantic_dedup(
    corpus: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.99,
    n_centroids: int = 16,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    cluster the embedding space with a coarse quantizer, then drop any
    vector that has a semantically near-identical (cosine >=
    ``threshold``) lower-id neighbor IN THE SAME CELL. Pairwise work is
    confined to each cell, so cost is sum(|cell|^2) instead of |corpus|^2
    — size ``n_centroids`` ~ N / target_cell_size at scale (cells are the
    shuffle key; a pathological all-in-one-cell corpus degrades to the
    brute-force cost, which is why the quantizer seed sample is uniform
    by md5).

    Quantizer = the same deterministic md5-ordered seed sample as
    ``ivf_topk`` (id-type-agnostic, TakeOrdered plan, SQL-replicable);
    assignment tie-break (-cos, cid) matches too, so a DuckDB oracle can
    reproduce cells bit-for-bit.

    Returns every corpus row: (id, cell, keep) — ``keep`` rows form the
    deduplicated corpus; determinism: the lowest id in each near-dup
    group within a cell is the survivor.
    """
    # shared ANN null-vector convention (plans/catalog.py:ann_notnull):
    # a NULL vector neither seeds the quantizer nor dedups — without the
    # filter the md5-ordered seed sample can collect a NULL vector and
    # poison the centroid literals (the ivf_topk failure mode, r13)
    rows = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("v")
    )
    sel = rows.orderBy(F.md5(F.col("cid").cast("string")).asc(), F.col("cid").asc()).limit(
        n_centroids
    )
    cents = [(r["cid"], [float(x) for x in r["v"]]) for r in sel.collect()]
    if not cents:
        # typed-empty guard (the pagerank empty-graph recipe): an empty
        # or all-NULL-vector corpus dedups to zero rows, not a driver
        # error — schema (id, cell, keep) preserved for downstream
        return rows.select(
            F.col("cid").alias("id"),
            F.lit(None).cast("bigint").alias("cell"),
            F.lit(True).alias("keep"),
        ).limit(0)
    # r15 (guide §2.3): materialize each row's norm once so the centroid
    # assignment does not re-fold it per centroid (same division tree,
    # bit-identical).
    #
    # r15 (guide §2): ensure_parallelism before the assignment — a
    # small/compacted parquet scans as ONE task (one row group), which
    # serializes the per-row centroid folds on a single core; a no-op
    # whenever the input is already at least default-parallel (the
    # 100 TB case). The per-cell result is partitioning-invariant.
    from dopams_etl_spark.partitioning import ensure_parallelism

    with_norm = ensure_parallelism(rows).select("cid", "v", _norm("v").alias("nrm"))
    assign = _nearest_centroids("v", cents, 1, norm_col=F.col("nrm")).getItem(0)
    assigned = with_norm.select(
        F.col("cid").alias("id"), "v", "nrm", assign.alias("cell")
    )
    # r16 (guide §4.1/§4.2, replacing the r15 left-semi + keep-join): the
    # whole per-cell EXISTS probe is one grouped Arrow map — ONE exchange
    # on the cell key, one Python call per CELL (cells are few by design,
    # never the per-group-overhead trap), and the Σ|cell|² cosines run in
    # ``_cos_block``. Replaces: two more recomputations of the
    # norm+assignment projection (the self-join's probe/build sides), a
    # per-pair interpreted zip_with/aggregate fold in the join condition,
    # the DISTINCT, and the final keep-join — the (id, cell, keep) result
    # comes straight out of the grouped map (duplicated input rows emit
    # duplicated output rows, exactly as the old left keep-join did).
    # applyInArrow, not applyInPandas: pandas turns a NULL vector element
    # into NaN, which would score as a match instead of a NULL cosine.
    idt = corpus.schema[id_col].dataType.simpleString()
    return (
        assigned.select("id", "v", F.col("cell").cast(idt).alias("cell"))
        .groupBy("cell")
        .applyInArrow(
            _semantic_dedup_cell_fn(threshold), f"id {idt}, cell {idt}, keep boolean"
        )
    )


def _semantic_dedup_cell_fn(threshold: float):
    """Per-cell grouped-map body for ``semantic_dedup``: emit every input
    row with its keep flag. Spark comparison semantics per pair: keep(a) =
    NOT EXISTS b in the cell with b.id < a.id (NULL ids never match) and
    round6(cos) >= threshold, where NaN >= x is TRUE (Spark's total NaN
    ordering) and a NULL cosine never matches."""

    def per_cell(table):
        import numpy as np
        import pyarrow as pa

        ids = table.column("id").to_pylist()
        vecs = table.column("v").to_pylist()
        # id order as dense ranks; NULL ids rank -1 and never match
        rank_of = {v: r for r, v in enumerate(sorted({i for i in ids if i is not None}))}
        rank = np.array([-1 if i is None else rank_of[i] for i in ids])
        drop = np.zeros(len(ids), dtype=bool)
        for lo in range(0, len(ids), _ARROW_PROBE_SLICE):
            hi = min(lo + _ARROW_PROBE_SLICE, len(ids))
            rounded, null = _cos_block(vecs[lo:hi], vecs)
            hit = ~null & ((rounded >= threshold) | np.isnan(rounded))
            lower = (rank[None, :] >= 0) & (rank[None, :] < rank[lo:hi, None])
            drop[lo:hi] = (hit & lower).any(axis=1)
        return pa.table(
            {"id": table.column("id"), "cell": table.column("cell"), "keep": ~drop}
        )

    return per_cell


def int8_quantize(
    df: DataFrame, id_col: str, vec_col: str = "embedding"
) -> DataFrame:
    """Scalar int8 quantization of an embedding column — the standard 4×
    storage/IO reduction for a vector store (per-vector min/max affine
    quantization, the scheme FAISS calls SQ8).

    Pure column expressions: per vector, qmin = min(v), scale =
    (max − min)/255, code_j = floor((v_j − qmin)/scale + 0.5) clamped to
    [0, 255] (explicit floor(x+0.5) so rounding is identical in every
    engine — double `round` half-even vs half-up differs across SQL
    engines). Returns the codes plus the reconstruction-error summary the
    recall planning needs. Constant vectors (scale 0) encode as all-zero
    codes and reconstruct exactly.

    At 100 TB this is a map-only pass; the codes column (binary-packable)
    is what ships to the ANN serving tier, and ``mean_abs_err`` per
    vector is the quantization-quality gate.
    """
    # shared ANN null-vector convention (plans/catalog.py:ann_notnull):
    # a NULL vector has no codes — without the filter Spark's concat_ws
    # hashes '' where DuckDB's list ops yield NULL
    df = df.filter(F.col(vec_col).isNotNull())
    # Widen to double BEFORE any arithmetic: float-lane subtraction would
    # round differently from the double-math SQL oracle at floor boundaries.
    #
    # r15 (guide §4.1): qmin/scale/code materialize as COLUMNS in staged
    # projections so the transform lambdas reference attributes, not
    # embedded expressions — a lambda body re-evaluates embedded
    # subexpressions PER ELEMENT, so the old single-select form recomputed
    # array_min/array_max(transform(v)) for every element of `code` and
    # the ENTIRE `code` transform for every element of `deq` (O(d³) per
    # row). Same arithmetic per element ⇒ bit-identical outputs.
    staged = (
        df.withColumn("__v", F.transform(F.col(vec_col), lambda x: x.cast("double")))
        .withColumn("__qmin", F.array_min("__v"))
        .withColumn(
            "__scale", (F.array_max("__v") - F.col("__qmin")) / F.lit(255.0)
        )
        .withColumn(
            "__code",
            F.transform(
                "__v",
                lambda x: F.when(
                    F.col("__scale") > 0,
                    F.greatest(
                        F.lit(0),
                        F.least(
                            F.lit(255),
                            F.floor(
                                (x - F.col("__qmin")) / F.col("__scale") + F.lit(0.5)
                            ).cast("int"),
                        ),
                    ),
                ).otherwise(F.lit(0)),
            ),
        )
    )
    deq = F.transform(
        "__code", lambda c: F.col("__qmin") + c.cast("double") * F.col("__scale")
    )
    # Guard the division: an empty embedding would divide by zero (a hard
    # error under ANSI mode); surface it as NULL error instead.
    err = F.when(
        F.size("__v") > 0,
        F.aggregate(
            F.zip_with("__v", deq, lambda a, b: F.abs(a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.size("__v"),
    )
    return staged.select(
        F.col(id_col),
        # + 0.0 canonicalizes IEEE -0.0 (qmin is sign-indefinite)
        (F.round(F.col("__qmin").cast("double"), 6) + 0.0).alias("qmin"),
        F.round(F.col("__scale").cast("double"), 6).alias("qscale"),
        F.md5(F.concat_ws(",", "__code")).alias("codes_md5"),
        F.round(err, 6).alias("mean_abs_err"),
    )


def group_centroids(
    df: DataFrame, group_col: str, vec_col: str = "embedding"
) -> DataFrame:
    """Element-wise mean embedding (centroid) per group — the pooling step
    behind class prototypes, per-domain corpus centroids, SemDeDup cluster
    seeds, and IVF coarse-quantizer (re)training.

    Spark-first shape: ``posexplode`` the vector to (group, dim, value)
    rows, ONE hash aggregation keyed on (group, dim) — partial aggregation
    makes the shuffle ≤ |groups|·dim rows per map task regardless of row
    count — then reassemble each centroid with a sorted struct-collect.
    All JVM column expressions; no Python, no driver-side state. At 100 TB
    this is the canonical "tall-skinny matrix column means" plan: the
    alternative (aggregate whole arrays with ``zip_with`` in a reduce)
    has no map-side partials and single-threads each group's additions.

    Sums are performed in double (deterministic up to FP associativity;
    callers that hash results should round — centroid values are rounded
    to 6 decimals here for engine-portable comparison). Rows with NULL or
    empty vectors are ignored (they contribute to neither sum nor count).
    Ragged groups (vectors of unequal length) take the mean per dimension
    over the vectors that HAVE that dimension, and ``n_vecs`` reports the
    max per-dim contributor count — callers needing strict rectangular
    input should validate lengths upstream (one ``size()`` distinct).
    """
    exploded = (
        df.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
        .select(
            F.col(group_col),
            F.posexplode(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias(
                "dim", "x"
            ),
        )
    )
    per_dim = exploded.groupBy(group_col, "dim").agg(
        F.avg("x").alias("mean_x"), F.count(F.lit(1)).alias("n_vecs")
    )
    return (
        per_dim.groupBy(group_col)
        .agg(
            F.max("n_vecs").alias("n_vecs"),
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.round("mean_x", 6).alias("m")))
            ).alias("_dims"),
        )
        .select(
            F.col(group_col),
            F.col("n_vecs"),
            F.transform(F.col("_dims"), lambda s: s["m"]).alias("centroid"),
        )
    )


def kmeans_assign(
    corpus: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    seeds: list[list[float]] | None = None,
) -> DataFrame:
    """Spherical k-means clustering over an embedding column — the
    curation primitive behind topic balancing, per-cluster mixture caps,
    and SemDeDup cell construction (the reference's embedding resolver,
    ``core/geo_resolver.py:22–272``, stops at top-k lookup; clustering is
    the corpus-organization step above it). Returns (id, cluster) with
    cluster ∈ [0, k) — dense ordinal labels in seed order, stable across
    engines and partitionings.

    Fully deterministic k-means: seeds are the ``k`` corpus vectors with
    the smallest ``md5(cast(id as string))`` (the same sizing-pass-free
    pseudo-random sample as ``ivf_topk``'s coarse quantizer, planned as
    ``TakeOrderedAndProject``); similarity is cosine (argmax, ties to the
    lowest cluster label); each Lloyd iteration replaces a centroid with
    its cell's per-dimension mean ROUNDED to 6 decimals — the rounding
    pins the centroid literals to values every double-math engine agrees
    on, which is what lets a SQL oracle replay the full iteration chain
    value-for-value. Empty cells keep their previous centroid.

    Scale shape: centroids live on the driver (k·dim doubles — literals
    in the plan, the classic broadcast-the-model pattern); assignment is
    map-only over the corpus; each iteration is ONE hash aggregate keyed
    on the cluster id (dim avg columns, map-side partials) plus a k-row
    collect. Cost per iteration is one corpus scan — no shuffle grows
    with k, nothing pairwise. ``iters`` assignment→update rounds run
    before the final assignment pass.

    ``seeds``: explicit initial centroids (mirrors ``zorder_code(bounds=)``).
    When supplied, the eager k-row seed collect is skipped entirely —
    with ``iters=0`` the whole operator is a lazy map-only plan, the
    inference half of broadcast-the-model (assign a corpus to an
    already-trained codebook, e.g. IVF cells or a prior ``kmeans_assign``
    run's centroids); ``k`` is ignored in favour of ``len(seeds)``.
    """
    # shared ANN null-vector convention (plans/catalog.py:ann_notnull):
    # a NULL vector neither seeds nor assigns — without the filter the
    # md5-ordered seed sample can collect a NULL vector and poison the
    # centroid literals (the ivf_topk failure mode, r13)
    rows = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("__kid"), F.col(vec_col).alias("__kv")
    )
    if seeds is not None:
        if not seeds:
            # an explicit empty codebook is a CALLER bug, not an empty
            # corpus — fail loudly instead of falling through to the
            # typed-empty guard and silently discarding the corpus
            # (r14 review)
            raise ValueError("kmeans_assign: seeds=[] (empty explicit codebook)")
        cents: list[tuple[int, list[float]]] = [
            (i, [float(x) for x in s]) for i, s in enumerate(seeds)
        ]
    else:
        sel = rows.orderBy(
            F.md5(F.col("__kid").cast("string")).asc(), F.col("__kid").asc()
        ).limit(k)
        cents = [
            (i, [float(x) for x in r["__kv"]]) for i, r in enumerate(sel.collect())
        ]
    if not cents:
        # typed-empty guard (the pagerank empty-graph recipe): an empty
        # or all-NULL-vector corpus clusters to zero rows, not a driver
        # error — schema (id, cluster int) preserved for downstream
        return rows.select(
            F.col("__kid").alias(id_col),
            F.lit(None).cast("int").alias("cluster"),
        ).limit(0)
    dim = len(cents[0][1])
    for _ in range(iters):
        assign = _nearest_centroids("__kv", cents, 1).getItem(0)
        means = (
            rows.select(assign.alias("cluster"), F.col("__kv").alias("v"))
            .groupBy("cluster")
            .agg(
                *[
                    F.round(F.avg(F.col("v").getItem(i).cast("double")), 6).alias(f"m{i}")
                    for i in range(dim)
                ]
            )
        )
        by_cell = {
            r["cluster"]: [float(r[f"m{i}"]) for i in range(dim)] for r in means.collect()
        }
        cents = [(cid, by_cell.get(cid, vec)) for cid, vec in cents]
    assign = _nearest_centroids("__kv", cents, 1).getItem(0)
    return rows.select(
        F.col("__kid").alias(id_col), assign.cast("int").alias("cluster")
    )


def random_projection(
    corpus: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    in_dim: int = 64,
    out_dim: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: embed ``in_dim`` vectors
    into ``out_dim`` dimensions with a seeded Gaussian matrix scaled by
    1/√out_dim — pairwise distances are preserved within (1±ε) w.h.p.
    (JL lemma), which makes the projected column a drop-in cheaper input
    for the ANN/clustering family (4× fewer dims ⇒ 4× less shuffle and
    broadcast weight in every downstream similarity pass).

    The matrix comes from the same ``_hyperplanes`` seeded-numpy source
    as the LSH planes, so the projection is a PLAN LITERAL — bit-exact
    across engines, runs, and partitionings; the pass itself is map-only
    (out_dim dot products per row inside whole-stage codegen). Returns
    (id, proj) with proj the rounded-to-6 double array."""
    planes = _hyperplanes(in_dim, out_dim, seed)
    scale = 1.0 / (out_dim ** 0.5)
    comps = [
        F.round(_dot(F.col(vec_col), F.lit([float(x) for x in p])) * F.lit(scale), 6)
        for p in planes
    ]
    # shared ANN null-vector convention (plans/catalog.py:ann_notnull):
    # a NULL vector has no projection
    return corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.array(*comps).alias("proj")
    )


def margin_mined_pairs(
    x: DataFrame,
    y: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    k: int = 4,
    threshold: float = 1.0,
    corpus_rows: int | None = None,
) -> DataFrame:
    """Margin-based bitext/bi-corpus pair mining (Artetxe & Schwenk,
    "Margin-based Parallel Corpus Mining", ACL 2019 — the CCMatrix /
    LASER construction): raw cosine ranks hub vectors (points close to
    EVERYTHING) above true matches, so each candidate pair is re-scored
    by the RATIO margin

        margin(a, b) = cos(a, b) / ((avgNN_k(a, Y) + avgNN_k(b, X)) / 2)

    — how much closer the pair is than each side's k-NN background —
    and each left vector keeps its best-margin candidate above
    ``threshold``. Built from two ``cosine_topk`` passes (each side's
    k-NN list doubles as its margin denominator), so the exact path
    inherits the brute-force size gate; at scale the same margin
    formula re-scores lsh/ivf_topk candidate lists instead — the
    forward top-k is the candidate set, exactly as the paper mines.

    Determinism: margins are computed from the ROUNDED top-k cosines
    (cosine_topk's contract); the k-NN background averages sum exact
    integer micro-cosines (order-free), and margins round to 6 before
    ranking with an id tie-break — the kept pair never depends on
    summation-order ulps. Returns (x_id, y_id, cos_sim, margin).

    The ratio margin assumes a non-negative k-NN background (the
    paper's embeddings satisfy cos >= 0 for near neighbors): a
    NEGATIVE background average would flip the ratio's sign — an
    anti-correlated pair dividing two negatives could score a spurious
    positive margin, and a genuinely best pair over a negative
    denominator would be dropped with no signal. Non-positive
    denominators are therefore EXPLICITLY nulled (candidate excluded),
    not passed through the division — same CASE guard in the
    ``bitext_margin_pairs`` oracle (ADVICE r10).
    """
    fx = cosine_topk(
        x, y, id_col, id_col, vec_col, k=k, corpus_rows=corpus_rows
    )
    fy = cosine_topk(
        y, x, id_col, id_col, vec_col, k=k, corpus_rows=corpus_rows
    )
    # k-NN background averages in INTEGER MICRO-COSINES: the top-k
    # cosines are rounded to 6, so round(cos * 1e6) is an exact BIGINT
    # on both engines and the SUM is summation-order-free — a float
    # AVG's accumulation order is engine-internal and an ulp on a
    # 5e-7 boundary would flip the rounded margin (the ranking AND the
    # >= threshold cut)
    micro = F.round(F.col("cos_sim") * 1000000).cast("long")
    dx = fx.groupBy("p_id").agg(
        F.sum(micro).alias("sx"), F.count(F.lit(1)).alias("nx")
    )
    dy = fy.groupBy("p_id").agg(
        F.sum(micro).alias("sy"), F.count(F.lit(1)).alias("ny")
    )
    denom = (
        (
            F.col("sx") / F.col("nx").cast("double")
            + F.col("sy") / F.col("ny").cast("double")
        )
        / 2.0
        / 1000000.0
    )
    cand = (
        fx.join(dx, "p_id")
        .join(dy.withColumnRenamed("p_id", "c_id"), "c_id")
        .withColumn(
            "margin",
            F.when(denom > 0, F.round(F.try_divide(F.col("cos_sim"), denom), 6)),
        )
    )
    w = Window.partitionBy("p_id").orderBy(
        F.col("margin").desc(), F.col("c_id").asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("margin") >= threshold))
        .select(
            F.col("p_id").alias("x_id"),
            F.col("c_id").alias("y_id"),
            "cos_sim",
            "margin",
        )
    )

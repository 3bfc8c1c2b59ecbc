"""The exact-cosine kernel ``similarity._cos_block`` and its two consumers
(the Arrow top-k scorer behind ``cosine_topk(impl="arrow")`` and
``semantic_dedup``) against the expression engine: bit-for-bit on the
kernel, row-for-row on the consumers, over vectors with NULL elements,
NaN, inf, ragged widths, float32 lanes, zero norms and duplicated rows.
Plus the edge cases each consumer once got wrong."""

from __future__ import annotations

import hashlib
import math
import struct

import duckdb
import numpy as np
from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dopams_etl_spark.operators.similarity import (
    _cos_block,
    _cos_pre,
    _nearest_centroids,
    _norm,
    cosine_topk,
    semantic_dedup,
)

_NAN = float("nan")
_INF = float("inf")

# a coarse grid makes exact ties, duplicate vectors and zero norms common;
# the free floats exercise round(x, 6)'s half-up decision band
element = st.one_of(
    st.integers(-3, 3).map(float),
    st.sampled_from([0.5, -0.25, 1e-3, _NAN, _INF]),
    st.floats(-100, 100, allow_nan=False, width=32),
    st.none(),
)
vector = st.one_of(
    st.lists(element, min_size=0, max_size=5),
    st.lists(st.integers(-2, 2).map(float), min_size=3, max_size=3),
)
lane = st.sampled_from(["double", "float"])


def _in_lane(vecs, dtype):
    """Round float-lane elements through float32, as the parquet read
    would, so both engines see the same values."""
    if dtype == "double":
        return vecs
    return [
        None if v is None else [None if x is None else float(np.float32(x)) for x in v]
        for v in vecs
    ]


def _key(x):
    """Bit-level cell identity: NaN equals NaN, -0.0 differs from 0.0."""
    if isinstance(x, float):
        return ("nan",) if math.isnan(x) else struct.pack(">d", x)
    return x


def _rows(df, cols):
    return sorted(
        (tuple(_key(r[c]) for c in cols) for r in df.collect()), key=repr
    )


_SETTINGS = settings(
    max_examples=15, deadline=None, suppress_health_check=list(HealthCheck)
)


@_SETTINGS
@given(
    st.lists(vector, min_size=1, max_size=12),
    st.lists(vector, min_size=1, max_size=12),
    lane,
)
def test_kernel_is_bit_identical_to_the_fold(spark_global, p_vecs, c_vecs, dtype):
    p_vecs, c_vecs = _in_lane(p_vecs, dtype), _in_lane(c_vecs, dtype)
    rounded, null = _cos_block(p_vecs, c_vecs)
    schema = f"i int, v array<{dtype}>"
    p = spark_global.createDataFrame(list(enumerate(p_vecs)), schema)
    c = spark_global.createDataFrame(list(enumerate(c_vecs)), schema)
    pairs = p.select(
        F.col("i").alias("pi"), F.col("v").alias("pv"), _norm("v").alias("pn")
    ).crossJoin(
        c.select(F.col("i").alias("ci"), F.col("v").alias("cv"), _norm("v").alias("cn"))
    )
    want = pairs.select(
        "pi", "ci", F.round(_cos_pre("pv", "cv", F.col("pn"), F.col("cn")), 6).alias("r")
    ).collect()
    assert len(want) == len(p_vecs) * len(c_vecs)
    for r in want:
        i, j = r["pi"], r["ci"]
        got = None if null[i, j] else float(rounded[i, j])
        assert _key(got) == _key(r["r"]), (p_vecs[i], c_vecs[j], got, r["r"])


ident = st.one_of(st.integers(-3, 40), st.none())


@st.composite
def corpus(draw):
    """(id, vector, label) rows, some duplicated verbatim."""
    rows = draw(
        st.lists(
            st.tuples(ident, vector, st.sampled_from([0.0, 1.0, _NAN, None])),
            min_size=1,
            max_size=12,
        )
    )
    dups = draw(st.lists(st.sampled_from(rows), max_size=3))
    return rows + dups


@_SETTINGS
@given(
    corpus(),
    lane,
    st.integers(1, 3),
    st.booleans(),
    st.sampled_from([None, "label"]),
)
def test_arrow_topk_equals_expression_topk(
    spark_global, rows, dtype, k, include_self, exclude_same
):
    vecs = _in_lane([v for _, v, _ in rows], dtype)
    df = spark_global.createDataFrame(
        [(i, v, lb) for (i, _, lb), v in zip(rows, vecs)],
        f"id bigint, v array<{dtype}>, label double",
    )
    args = dict(
        vec_col="v", k=k, include_self=include_self, exclude_same=exclude_same
    )
    cols = ["p_id", "c_id", "cos_sim", "rank"]
    expr = _rows(cosine_topk(df, df, "id", "id", impl="expr", **args), cols)
    arrow = _rows(cosine_topk(df, df, "id", "id", impl="arrow", **args), cols)
    assert arrow == expr


def _seed_ids(ids, n):
    """The ids ``semantic_dedup``'s quantizer samples: smallest
    md5(cast(id as string)), then id."""
    def md5(i):
        return hashlib.md5(str(i).encode()).hexdigest()

    return set(sorted(set(ids), key=lambda i: (md5(i), i))[:n])


def _dedup_reference(df, threshold, n_centroids):
    """Pure-Spark semantic dedup: the md5-seeded cells, then a self-join
    EXISTS over the expression cosine — a row is dropped when a lower-id
    cell-mate scores round6(cos) >= threshold (NaN included, NULL not)."""
    rows = df.filter(F.col("v").isNotNull())
    seeds = rows.orderBy(F.md5(F.col("id").cast("string")), "id").limit(n_centroids)
    cents = [(r["id"], [float(x) for x in r["v"]]) for r in seeds.collect()]
    a = rows.select(
        "id", "v", _nearest_centroids("v", cents, 1).getItem(0).alias("cell")
    )
    b = a.select(
        F.col("id").alias("b_id"), F.col("v").alias("b_v"), F.col("cell").alias("b_cell")
    )
    cond = (
        (F.col("cell") == F.col("b_cell"))
        & (F.col("b_id") < F.col("id"))
        & (F.round(_cos_pre("v", "b_v", _norm("v"), _norm("b_v")), 6) >= threshold)
    )
    dropped = a.join(b, cond, "left_semi").select("id", "cell", F.lit(False).alias("keep"))
    kept = a.join(b, cond, "left_anti").select("id", "cell", F.lit(True).alias("keep"))
    return dropped.unionByName(kept)


@_SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(0, 30), vector), min_size=1, max_size=14,
        unique_by=lambda r: r[0],
    ),
    st.lists(st.integers(0, 13), max_size=3),
    lane,
    st.sampled_from([0.9, 0.99, 1.0]),
    st.integers(1, 3),
)
def test_semantic_dedup_equals_self_join_reference(
    spark_global, rows, dup_idx, dtype, threshold, n_centroids
):
    # The cell assignment divides by the row norm (ANSI: zero norms
    # raise) and collects the seed vectors as floats (NULL elements
    # raise), both outside the kernel: keep zero-norm rows out and
    # seed rows free of NULL elements.
    rows = [(i, v) for i, v in rows if None in v or any(x != 0.0 for x in v)]
    assume(rows)
    seeds = _seed_ids([i for i, _ in rows], n_centroids)
    rows = [
        (i, [1.0 if x is None else x for x in v] if i in seeds else v)
        for i, v in rows
    ]
    rows += [rows[j] for j in dup_idx if j < len(rows)]
    vecs = _in_lane([v for _, v in rows], dtype)
    df = spark_global.createDataFrame(
        [(i, v) for (i, _), v in zip(rows, vecs)], f"id bigint, v array<{dtype}>"
    )
    cols = ["id", "cell", "keep"]
    got = _rows(semantic_dedup(df, "id", "v", threshold, n_centroids), cols)
    assert got == _rows(_dedup_reference(df, threshold, n_centroids), cols)


def test_semantic_dedup_null_element_never_matches(spark):
    """A NULL element makes every cosine of its row NULL, and a NULL
    cosine never matches: the row keeps even with a lower-id cell-mate."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, None])], "id bigint, v array<double>"
    )
    got = {r["id"]: r["keep"] for r in semantic_dedup(df, "id", "v", 0.5, 1).collect()}
    assert got == {1: True, 2: True}


def test_zero_norm_cosine_is_null_and_ranks_last(spark):
    """A zero vector has no direction: its cosine is NULL (not an ANSI
    DIVIDE_BY_ZERO, not NaN), ranked after every real score, on both
    paths and in the DuckDB formulation."""
    rows = [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 1.0]), (4, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "id bigint, v array<double>")
    cols = ["p_id", "c_id", "cos_sim", "rank"]
    got = {
        impl: _rows(cosine_topk(df, df, "id", "id", "v", k=3, impl=impl), cols)
        for impl in ("expr", "arrow")
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, v DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = con.execute(
        """
        WITH s AS (
          SELECT a.id AS p_id, b.id AS c_id,
                 ROUND(list_dot_product(a.v, b.v)
                       / (sqrt(list_dot_product(a.v, a.v))
                          * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
          FROM t a JOIN t b ON a.id <> b.id),
        r AS (SELECT *, row_number() OVER (PARTITION BY p_id
                                           ORDER BY cos_sim DESC NULLS LAST, c_id) AS rn
              FROM s)
        SELECT p_id, c_id, cos_sim, CAST(rn AS INT) AS rank FROM r WHERE rn <= 3
        """
    ).fetchall()
    assert got["expr"] == got["arrow"] == sorted(
        (tuple(_key(x) for x in r) for r in want), key=repr
    )
    by_probe = {(p, c): (cos, rank) for p, c, cos, rank in got["expr"]}
    assert by_probe[(1, 2)] == (None, 3)
    assert all(by_probe[(2, c)][0] is None for c in (1, 3, 4))


def _tuples(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _window_top1(df, **kw):
    """The window path's rank-1 rows (k=2 never takes the k=1 aggregate)."""
    out = cosine_topk(df, df, "id", "id", "v", k=2, **kw)
    return _tuples(out.filter(F.col("rank") == 1))


def test_top1_aggregate_matches_window_on_null_id_tie(spark):
    """A NULL c_id tied on cosine sorts first under c_id ASC (NULLS
    FIRST); the k=1 aggregate must pick it as the window does."""
    df = spark.createDataFrame(
        [(5, [1.0, 2.0]), (None, [2.0, 4.0]), (7, [3.0, 1.0])],
        "id bigint, v array<double>",
    )
    top1 = _tuples(cosine_topk(df, df, "id", "id", "v", k=1, include_self=True))
    assert top1 == _window_top1(df, include_self=True)
    assert (5, None, 1.0, 1) in top1


def test_top1_aggregate_handles_the_minimum_id(spark):
    """The minimum bigint id has no negation; the tie-break must not
    overflow."""
    lo = -(2**63)
    df = spark.createDataFrame(
        [(lo, [1.0, 0.0]), (3, [1.0, 0.0]), (4, [0.0, 1.0])],
        "id bigint, v array<double>",
    )
    top1 = _tuples(cosine_topk(df, df, "id", "id", "v", k=1))
    assert top1 == _window_top1(df)
    assert (3, lo, 1.0, 1) in top1


def test_arrow_exclude_same_treats_nan_labels_as_equal(spark):
    """eqNullSafe(NaN, NaN) is true in Spark, so a NaN-labelled probe
    must skip NaN-labelled candidates on the Arrow path too."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], _NAN), (2, [1.0, 0.1], _NAN), (3, [0.0, 1.0], 1.0)],
        "id bigint, v array<double>, label double",
    )
    cols = ["p_id", "c_id", "cos_sim", "rank"]
    got = {
        impl: _rows(
            cosine_topk(df, df, "id", "id", "v", k=2, exclude_same="label", impl=impl), cols
        )
        for impl in ("expr", "arrow")
    }
    assert got["arrow"] == got["expr"]
    assert {(p, c) for p, c, *_ in got["expr"]} == {(1, 3), (2, 3), (3, 1), (3, 2)}

"""Incremental aggregate maintenance: mergeable partial-aggregate state.

The reference refreshes every materialized view from scratch
(``etl_refresh_views/views_refresh_sql.py:1–81`` re-runs the full MV SQL
×5 per cycle). At 100 TB a full recompute per refresh is the dominant
cost; the scalable pattern is the one Spark itself uses inside a hash
aggregate — partial (map-side) states that MERGE associatively — lifted
to the table level:

    state(T ∪ Δ) = merge(state(T), state(Δ))

Keep a per-group STATE table (sum / count / min / max — every algebraic
measure the gold MVs need); on each refresh aggregate ONLY the delta
partition into the same state shape, merge by group key, then finalize
derived measures (avg = sum/count) into the serving view. The full fact
table is touched once ever; each refresh shuffles just the delta.

Exact COUNT DISTINCT and exact percentiles are non-mergeable by
construction; the operator raises on them. Distinct counts refresh
incrementally through the ``approx_distinct`` kind instead: the state
column is a Datasketches HLL sketch (``hll_sketch_agg``), merge is
``hll_union_agg``, finalize is ``hll_sketch_estimate`` — sketch unions
are exactly as associative/commutative as sums, and the estimate is
EXACT while a group's distinct set stays below the sketch's sparse
threshold (the registered query exploits that for a value-level
oracle).

State schema convention: one column per measure, named
``<out>__sum`` / ``<out>__cnt`` / ``<out>__min`` / ``<out>__max``. A
finalized ``avg`` divides its sum state by its row-count state, so AVG
merges exactly (the naive "average of averages" does not).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# measure kinds -> (state builder, merge fn over state col, finalizer arity)
_MERGEABLE = ("sum", "count", "min", "max", "avg", "approx_distinct")


def agg_state(
    df: DataFrame,
    keys: Sequence[str],
    measures: Mapping[str, tuple[str, str | None]],
) -> DataFrame:
    """Aggregate ``df`` into mergeable per-group state.

    ``measures`` maps output name -> (kind, source column); kinds:
    ``sum | count | min | max | avg`` (count's source may be None).
    """
    aggs: list[Column] = []
    for out, (kind, src) in measures.items():
        if kind not in _MERGEABLE:
            raise ValueError(
                f"measure {out!r}: kind {kind!r} is not mergeable state; "
                "use the approx_distinct sketch kind or a full rebuild"
            )
        if kind in ("sum", "avg"):
            aggs.append(F.sum(src).alias(f"{out}__sum"))
        if kind == "count":
            aggs.append(F.count(F.lit(1) if src is None else F.col(src)).alias(f"{out}__cnt"))
        if kind == "avg":
            aggs.append(F.count(src).alias(f"{out}__cnt"))
        if kind == "min":
            aggs.append(F.min(src).alias(f"{out}__min"))
        if kind == "max":
            aggs.append(F.max(src).alias(f"{out}__max"))
        if kind == "approx_distinct":
            # the sketch accepts int/bigint/string/binary; other types go
            # in as their canonical string form (distinctness-preserving)
            ok_types = ("int", "bigint", "smallint", "tinyint", "string", "binary")
            src_col = (
                F.col(src)
                if dict(df.dtypes).get(src) in ok_types
                else F.col(src).cast("string")
            )
            aggs.append(F.hll_sketch_agg(src_col).alias(f"{out}__hll"))
    return df.groupBy(*keys).agg(*aggs)


def merge_states(
    a: DataFrame,
    b: DataFrame,
    keys: Sequence[str],
    measures: Mapping[str, tuple[str, str | None]],
) -> DataFrame:
    """Merge two state tables (same shape) into one: union then one
    groupBy — sums/counts add, mins/maxs fold. Associative and
    commutative, so any refresh cadence (hourly deltas, backfill chunks,
    multi-way) composes to the identical state."""
    u = a.unionByName(b)
    aggs: list[Column] = []
    for out, (kind, _src) in measures.items():
        if kind in ("sum", "avg"):
            aggs.append(F.sum(f"{out}__sum").alias(f"{out}__sum"))
        if kind in ("count", "avg"):
            aggs.append(F.sum(f"{out}__cnt").alias(f"{out}__cnt"))
        if kind == "min":
            aggs.append(F.min(f"{out}__min").alias(f"{out}__min"))
        if kind == "max":
            aggs.append(F.max(f"{out}__max").alias(f"{out}__max"))
        if kind == "approx_distinct":
            aggs.append(F.hll_union_agg(f"{out}__hll").alias(f"{out}__hll"))
    return u.groupBy(*keys).agg(*aggs)


def finalize_state(
    state: DataFrame,
    keys: Sequence[str],
    measures: Mapping[str, tuple[str, str | None]],
) -> DataFrame:
    """State table -> serving view: avg = sum/cnt, other kinds surface
    their single state column under the output name."""
    cols: list[Column] = [F.col(k) for k in keys]
    for out, (kind, _src) in measures.items():
        if kind == "avg":
            cols.append((F.col(f"{out}__sum") / F.col(f"{out}__cnt")).alias(out))
        elif kind in ("sum",):
            cols.append(F.col(f"{out}__sum").alias(out))
        elif kind == "count":
            cols.append(F.col(f"{out}__cnt").alias(out))
        elif kind == "min":
            cols.append(F.col(f"{out}__min").alias(out))
        elif kind == "max":
            cols.append(F.col(f"{out}__max").alias(out))
        elif kind == "approx_distinct":
            cols.append(F.hll_sketch_estimate(F.col(f"{out}__hll")).alias(out))
    return state.select(*cols)

"""Upsert / merge operators (SURVEY §2.1 S7/S8, §2.9 I2/I4).

The reference's sinks are psycopg2 ``INSERT ... ON CONFLICT`` statements
(``etl-crimes/etl_crimes.py:654–789``, ``etl-accused/etl_accused.py:1193–1435``).
Spark-native restatement: set-oriented merges computed as joins —

- ``upsert_latest_wins``: dedup-union + window "latest wins" — the
  Delta-less MERGE. One shuffle on the key; in-batch duplicate keys
  collapse in the same pass (I2 semantics).
- ``smart_merge``: field-level COALESCE merge — never overwrite non-null
  with null, designated columns (dates) always taken from the new batch
  (``etl_accused.py:1349–1388``).
- ``classify_merge``: inserted/updated/no_change accounting derived from
  the merge join itself, not rowcounts (A11 stats parity,
  ``etl_crimes.py:727–773``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def upsert_latest_wins(
    existing: DataFrame,
    incoming: DataFrame,
    keys: str | Sequence[str],
    version_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """S7/I2: union existing+incoming, keep the newest row per key.

    ``incoming`` rows win ties (a re-sent row with equal ``version_col``
    replaces in place — the reference processes in-chunk duplicates rather
    than skipping, ``etl_crimes.py:853–871``).
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    e = existing.withColumn("__src", F.lit(0))
    i = incoming.withColumn("__src", F.lit(1))
    unioned = e.unionByName(i, allowMissingColumns=True)
    # Order: version desc nulls last, then incoming over existing, then tiebreak.
    order = [F.col(version_col).desc_nulls_last(), F.col("__src").desc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        unioned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def smart_merge(
    existing: DataFrame,
    incoming: DataFrame,
    keys: str | Sequence[str],
    always_take_new: Sequence[str] = (),
) -> DataFrame:
    """S8: field-level smart merge after a full-outer join.

    Per column: new non-null wins; old kept when new is null; columns in
    ``always_take_new`` (date fields in the reference) always come from the
    incoming batch when the key matched.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    value_cols = [c for c in incoming.columns if c not in keys]
    e = existing.select(
        keys + [F.col(c).alias(f"__old_{c}") for c in value_cols if c in existing.columns]
    )
    inc = incoming.withColumn("__has_new", F.lit(True))
    joined = inc.join(e, on=keys, how="full_outer")
    out_cols: list[Column] = [F.col(k) for k in keys]
    for c in value_cols:
        old = F.col(f"__old_{c}") if f"__old_{c}" in joined.columns else F.lit(None)
        if c in always_take_new:
            # Incoming batch authoritative for this column whenever the row
            # appeared in the batch — even if the new value is null.
            out_cols.append(
                F.when(F.col("__has_new"), F.col(c)).otherwise(old).alias(c)
            )
        else:
            out_cols.append(F.coalesce(F.col(c), old).alias(c))
    return joined.select(*out_cols)


def replace_children(
    existing: DataFrame, incoming: DataFrame, parent_key: str | Sequence[str]
) -> DataFrame:
    """S9: delete-and-replace child sink — drop every existing child of a
    parent present in the batch, then append the batch wholesale
    (``etl-ir/ir_etl.py:743–773``, ``etl_chargesheets.py:1244–1427``).

    One anti-join on the parent key (AQE broadcasts the batch's key set
    when small) + a union — the Spark analog of ``replaceWhere parent_id
    IN (...)`` partition overwrite.
    """
    keys = [parent_key] if isinstance(parent_key, str) else list(parent_key)
    parents = incoming.select(*keys).dropDuplicates(keys)
    kept = existing.join(parents, on=keys, how="left_anti")
    return kept.unionByName(incoming)


def insert_if_absent(
    existing: DataFrame, incoming: DataFrame, keys: str | Sequence[str]
) -> DataFrame:
    """S10: ``INSERT ... ON CONFLICT DO NOTHING``
    (``files_loader.py:113–119``). In-batch duplicate keys also collapse
    (first wins via min-ordering is NOT guaranteed — callers needing a
    deterministic pick should pre-dedup with ``latest_per_key``)."""
    klist = [keys] if isinstance(keys, str) else list(keys)
    fresh = incoming.dropDuplicates(klist).join(
        existing.select(*klist), on=klist, how="left_anti"
    )
    return existing.unionByName(fresh)


def classify_merge(
    existing: DataFrame,
    incoming: DataFrame,
    keys: str | Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """A11: classify each incoming row as inserted / updated / no_change by
    joining against existing and applying an IS DISTINCT FROM predicate
    (null-safe inequality) across ``compare_cols``."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    e = existing.select(
        keys + [F.col(c).alias(f"__old_{c}") for c in compare_cols]
    ).withColumn("__exists", F.lit(True))
    joined = incoming.join(e, on=keys, how="left")
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.col(f"__old_{c}"))
    op = (
        F.when(F.col("__exists").isNull(), F.lit("inserted"))
        .when(changed, F.lit("updated"))
        .otherwise(F.lit("no_change"))
    )
    drop = ["__exists"] + [f"__old_{c}" for c in compare_cols]
    return joined.withColumn("merge_op", op).drop(*drop)


def merge_stats(classified: DataFrame) -> DataFrame:
    """Run-stats rollup (A11): operation → count."""
    return classified.groupBy("merge_op").count()


def snapshot_diff(
    old: DataFrame, new: DataFrame, keys: list[str], compare_cols: list[str]
) -> DataFrame:
    """Audit diff between two snapshots of a keyed table: one FULL OUTER
    join on the key, each row classified inserted / deleted / updated
    (value change in any ``compare_cols``, null-safe); unchanged rows are
    dropped. The reference detects changes row-at-a-time inside its
    upsert loop (``etl-crimes/etl_crimes.py:654–789``); as a set
    operation the diff is one co-partitioned shuffle and also serves as
    the dry-run preview for any MERGE. Returns key columns + change_type.
    """
    o = old.select(*keys, *compare_cols)
    n = new.select(*keys, *compare_cols)
    cond = [o[k].eqNullSafe(n[k]) for k in keys]
    j = o.alias("o").join(n.alias("n"), cond, "full_outer")
    exists_o = F.col(f"o.{keys[0]}").isNotNull()
    exists_n = F.col(f"n.{keys[0]}").isNotNull()
    changed = None
    for c in compare_cols:
        ne = ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        changed = ne if changed is None else (changed | ne)
    ct = (
        F.when(~exists_o, F.lit("inserted"))
        .when(~exists_n, F.lit("deleted"))
        .when(changed, F.lit("updated"))
    )
    out_keys = [
        F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k) for k in keys
    ]
    return j.select(*out_keys, ct.alias("change_type")).filter(
        F.col("change_type").isNotNull()
    )


def apply_changelog(
    base: DataFrame,
    changes: DataFrame,
    keys: str | list[str],
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """CDC merge-on-read: fold an ordered changelog (I/U/D ops) over a
    base snapshot into the current snapshot — the missing sibling of the
    upsert family (S7/S8 never DELETE; the reference deletes only via the
    narrow delete-and-replace child sink S9,
    ``etl-ir/ir_etl.py:743–773``). Semantics: per key, the
    HIGHEST-``seq_col`` change wins (ties broken deterministically by
    ``op_col`` descending, so at equal seq an update outranks an insert
    outranks a delete; producers SHOULD emit unique seq per key — equal
    (seq, op) duplicates are assumed to carry identical payloads); an
    I/U change replaces the base row wholesale, a 'D' is a tombstone
    that removes it. Unknown op codes raise lazily inside the plan
    (``raise_error`` on first evaluation) rather than silently dropping
    rows — validation costs no eager changelog scan at plan-build time.

    Shape: one window top-1 over the changelog (keyed shuffle on the
    change keys — the changelog, not the base, pays the sort), one
    left-anti join to drop replaced/deleted base rows, one union. On
    Delta/Iceberg this folds into MERGE WHEN MATCHED [AND op='D'] THEN
    DELETE; here it is the engine-agnostic plan."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    changes = changes.withColumn(
        op_col,
        F.when(F.col(op_col).isin("I", "U", "D"), F.col(op_col)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("unknown changelog op: "),
                    F.coalesce(F.col(op_col), F.lit("NULL")),
                    F.lit("; expected I/U/D"),
                )
            )
        ),
    )
    w = Window.partitionBy(*keys).orderBy(F.col(seq_col).desc(), F.col(op_col).desc())
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    survivors = base.join(latest.select(*keys), keys, "left_anti")
    applied = latest.filter(F.col(op_col) != "D").drop(op_col, seq_col)
    return survivors.unionByName(applied)

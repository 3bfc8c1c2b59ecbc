"""Registry-wide pushdown regression lock (VERDICT r8 task 4).

PLANS.md records per-query pushed-filter / partition-filter counts, but
nothing FAILED if a refactor silently dropped one — a filter that stops
reaching the parquet scan is invisible to the correctness gate (same
rows, 100× the bytes read at scale). This table pins the minimum number
of scans with non-empty PushedFilters / PartitionFilters for every
query family whose plan carries scan-level pruning; breaking any single
pushdown (e.g. wrapping a filtered column in a cast) drops the count
below its floor and fails here.

Counts extracted with ``tools.plan_audit.pushdown_counts`` — planning
time only (pushdown is decided at planning, so the un-executed plan
prints identical scan filter lists), truncation-proof (raises
maxMetadataStringLength; bracket-depth-aware capture so In(col, [..])
lists don't end a capture early — ADVICE r9).

VERDICT r9 task 5 widened the lock from 23 hand-picked queries to the
WHOLE registry: ``tools/gen_pushdown_floors.py`` sweeps every
registered query and writes ``tests/_pushdown_floors.py`` with the
current counts as floors (147 queries). The hand-curated table below
is merged in via elementwise max and kept as documentation of the
sharpest intentional floors; regenerate + review the diff after any
deliberate plan change.
"""

from __future__ import annotations

import re

import pytest

from tools.plan_audit import pushdown_counts

from _pushdown_floors import GENERATED_FLOORS

# query -> (min scans with PushedFilters, min scans with PartitionFilters,
#           min TOTAL pushed predicates, min TOTAL partition predicates)
# measured on the current plans; these are FLOORS (a new filter may
# legitimately raise a count, never silently lower it). The predicate
# totals are the sharp edge: breaking one comparison usually leaves its
# IsNotNull guard pushed, so the scan count holds while the total drops.
EXPECTED_MIN = {
    # gold MVs / star joins: every dim + fact scan carries its pushdown
    "regional_revenue": (5, 0, 8, 0),
    "firs_mv": (5, 0, 6, 0),
    "accuseds_mv": (6, 0, 8, 0),
    "criminal_profiles_mv": (3, 0, 4, 0),
    "advanced_search_accuseds": (5, 0, 7, 0),
    "advanced_search_firs": (5, 0, 7, 0),
    # TPC-H decision-support family
    "q3_shipping_priority": (3, 0, 10, 0),
    "q5_local_supplier_volume": (6, 0, 16, 0),
    "q6_forecast_revenue_delta": (1, 0, 8, 0),
    "q19_disjunctive_revenue": (2, 0, 6, 0),
    "q21_suppliers_kept_waiting": (3, 0, 5, 0),
    "q22_dormant_customers": (3, 0, 6, 0),
    # event/temporal family
    "hourly_event_stats": (1, 0, 1, 0),
    "asof_purchase_last_view": (2, 0, 4, 0),
    "range_error_click_pairs": (2, 0, 6, 0),
    "view_click_purchase_funnel": (4, 0, 11, 0),
    "weekly_cohort_retention": (2, 0, 2, 0),
    "attribution_time_decay": (2, 0, 6, 0),
    # dedup / similarity / ER
    # entity_resolution_blocked dropped from this table in r14: the
    # skew-collapse rewrite scores distinct attribute tuples, so the
    # old pushable self-pair filter no longer exists — the reduction
    # happens in the tuple groupBy, not at the scan. Its result parity
    # is locked by test_resolution.py::test_skew_collapse_matches_
    # naive_pipeline and the oracle gate instead.
    "lsh_topk_embeddings": (2, 0, 3, 0),
    "simhash_dups": (1, 0, 1, 0),
    "decontaminate_docs": (3, 0, 3, 0),
    # partition pruning on a partitioned layout (gold-table read path;
    # the firs_mv gold scan twin is asserted in test_scale_posture)
    "partitioned_scan_prune": (0, 1, 0, 3),
}


# elementwise max of the generated registry-wide floors and the
# hand-curated table — a manual floor may only ever sharpen upward
FLOORS: dict[str, tuple[int, int, int, int]] = {
    name: tuple(
        max(a, b)
        for a, b in zip(GENERATED_FLOORS.get(name, (0, 0, 0, 0)),
                        EXPECTED_MIN.get(name, (0, 0, 0, 0)))
    )
    for name in set(GENERATED_FLOORS) | set(EXPECTED_MIN)
}


@pytest.mark.parametrize("name", sorted(FLOORS))
def test_pushdown_floor(name, registry_plans):
    pushed, partf, npred, npart = pushdown_counts(registry_plans[name].executed)
    min_pushed, min_partf, min_npred, min_npart = FLOORS[name]
    assert pushed >= min_pushed, (
        f"{name}: {pushed} scans carry PushedFilters, floor is "
        f"{min_pushed} — a predicate stopped reaching the parquet scan"
    )
    assert partf >= min_partf, (
        f"{name}: {partf} scans carry PartitionFilters, floor is "
        f"{min_partf} — partition pruning regressed"
    )
    assert npred >= min_npred, (
        f"{name}: {npred} total pushed predicates, floor is {min_npred} "
        f"— one comparison stopped pushing (its IsNotNull guard likely "
        f"kept the scan count green)"
    )
    assert npart >= min_npart, (
        f"{name}: {npart} total partition predicates, floor is {min_npart}"
    )


# The five gold MVs: (table, PushedFilters) of every parquet scan. A
# count floor lets a plan drop a duplicate scan; this pins what each
# table still pushes. Each MV reads lineitem in ONE scan.
GOLD_MV_SCAN_FILTERS = {
    "firs_mv": {
        ("orders", "IsNotNull(o_custkey)"),
        ("customer", "IsNotNull(c_custkey), IsNotNull(c_nationkey)"),
        ("nation", "IsNotNull(n_nationkey)"),
        ("lineitem", "IsNotNull(l_orderkey)"),
        ("part", "IsNotNull(p_partkey)"),
    },
    "accuseds_mv": {
        ("lineitem", "IsNotNull(l_orderkey)"),
        ("orders", "IsNotNull(o_orderkey), IsNotNull(o_custkey)"),
        ("customer", "IsNotNull(c_custkey), IsNotNull(c_nationkey)"),
        ("nation", "IsNotNull(n_nationkey)"),
        ("part", "IsNotNull(p_partkey)"),
        ("supplier", "IsNotNull(s_suppkey)"),
    },
    "criminal_profiles_mv": {
        ("lineitem", "IsNotNull(l_orderkey), IsNotNull(l_partkey)"),
        ("orders", "IsNotNull(o_orderkey)"),
        ("part", "IsNotNull(p_partkey)"),
    },
    "advanced_search_firs": {
        ("orders", "IsNotNull(o_custkey), IsNotNull(o_orderkey)"),
        ("orders", "IsNotNull(o_orderkey)"),
        ("customer", "IsNotNull(c_custkey), IsNotNull(c_nationkey)"),
        ("nation", "IsNotNull(n_nationkey)"),
        ("lineitem", "IsNotNull(l_orderkey)"),
    },
    "advanced_search_accuseds": {
        ("lineitem", "IsNotNull(l_orderkey)"),
        ("orders", "IsNotNull(o_orderkey), IsNotNull(o_custkey)"),
        ("customer", "IsNotNull(c_custkey), IsNotNull(c_nationkey)"),
        ("nation", "IsNotNull(n_nationkey)"),
        ("part", "IsNotNull(p_partkey)"),
    },
}

_SCAN = re.compile(
    r"Location: \w+\(\d+ paths\)\[[^\]]*/(\w+)\.parquet\], "
    r"PartitionFilters: \[[^\]]*\], PushedFilters: \[(.*?)\], ReadSchema"
)


@pytest.mark.parametrize("name", sorted(GOLD_MV_SCAN_FILTERS))
def test_gold_mv_scan_filters(name, registry_plans):
    scans = _SCAN.findall(registry_plans[name].executed)
    assert set(scans) == GOLD_MV_SCAN_FILTERS[name]
    assert [t for t, _ in scans].count("lineitem") == 1, (
        f"{name} reads lineitem in more than one scan"
    )

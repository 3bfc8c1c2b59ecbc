"""Plan invariants over the ENTIRE query catalog: compile every registered
query's physical plan and assert the scale-killers are absent.

This is the enforcement half of PLANS.md — a new query that sneaks in an
unbounded cartesian (the `embedding_near_dups` bug class from round 1) or
an accidental nested-loop join fails CI here, before any bench regression.
Plan compilation only; nothing executes.
"""

# Nested-loop joins that are deliberate and bounded:
# - cosine_topk_embeddings: the documented EXACT brute-force baseline —
#   corpus is broadcast and size-gated (operators/similarity.py); the scale
#   path is lsh_topk/ivf_topk, which plan as hash joins on bucket keys.
# - trigram_match_event_types: probe × a handful-row broadcast dictionary;
#   candidate space is |probe| × |dict| with a tiny constant dict.
# cosine_topk_embeddings / hard_negative_mining: the definitional
# brute-force exact-cosine baseline (pure non-equi predicate), size-gated
# by MAX_BROADCAST_CORPUS_ROWS with lsh_topk as the scale path.
# trigram_match_event_types: broadcast of a bounded dictionary side.
BNLJ_ALLOWED = {
    "cosine_topk_embeddings",
    "hard_negative_mining",
    "trigram_match_event_types",
    # rrf_fused_search's vector arm IS cosine_topk (the size-gated exact
    # baseline above); the BM25 arm and fusion join are equi-joins.
    "rrf_fused_search",
    # knn_label_accuracy's neighbor search IS cosine_topk too; the vote
    # and scoring joins are equi-joins on p_id/c_id.
    "knn_label_accuracy",
    # Theil–Sen / Mann–Kendall pair the AGGREGATED daily-revenue table
    # with itself under a pure inequality (day_b > day_a): the pair
    # space is bounded by calendar days² (≤ ~3M pairs for a decade)
    # regardless of fact cardinality — the pre-aggregate-then-pair
    # posture documented in plans/stats.py, not an unbounded NLJ.
    "theil_sen_daily_trend",
    "mann_kendall_trend",
    # mutual_nn_pairs_embeddings' candidate scorer IS cosine_topk (the
    # size-gated exact baseline); the reciprocity check itself is an
    # equi-join on the reversed id pair.
    "mutual_nn_pairs_embeddings",
    # bitext_margin_pairs' two forward passes ARE cosine_topk (size-gated
    # exact baseline; at scale the margin formula re-scores lsh/ivf
    # candidate lists); the margin re-rank joins are equi-joins on ids.
    "bitext_margin_pairs",
    # tukey_hsd pairs the k-row GROUP table with itself under typ_a <
    # typ_b: k = |event types| is a domain constant, so the pair space
    # is k(k-1)/2 rows at any fact cardinality — pre-aggregate-then-pair
    # like theil_sen, plus the recognized one-row MSW broadcast.
    "tukey_hsd_value_by_type",
    # dunn_posthoc pairs the SAME k-row rank-sum table with itself under
    # type_a < type_b (the rank-based twin of tukey_hsd's grid), plus
    # the recognized one-row pooled-variance broadcast.
    "dunn_posthoc_value_by_type",
    # ann_recall_report's ground-truth arm IS cosine_topk (the size-gated
    # exact baseline being measured); the lsh arm and the recall join
    # are equi-joins on bucket / (p_id, c_id).
    "ann_recall_report",
    # ann_cost_recall_tradeoff shares that ground-truth arm (one
    # cosine_topk against the 20-row probe set); every lsh_candidates
    # branch and the hit joins are equi-joins on (tbl, bucket) /
    # (p_id, c_id), and the per-branch assembly crossJoins are one-row
    # aggregates.
    "ann_cost_recall_tradeoff",
}


def _scalar_cross_joins(plan_str: str) -> int:
    """Count BNLJ nodes whose subtree contains a GLOBAL aggregate
    (``keys=[]`` → exactly one row): the canonical scalar-broadcast
    crossJoin (e.g. riding corpus stats / vocab size alongside every row).
    Bounded by construction — one row broadcast regardless of SF — so it is
    not the unbounded-NLJ bug class this test exists to catch."""
    lines = plan_str.splitlines()
    n = 0
    for i, line in enumerate(lines):
        if "BroadcastNestedLoopJoin" not in line:
            continue
        indent = len(line) - len(line.lstrip(" :+-*("))
        for sub in lines[i + 1 :]:
            sub_indent = len(sub) - len(sub.lstrip(" :+-*("))
            if sub.strip() and sub_indent <= indent:
                break
            if "Aggregate(keys=[], " in sub or "Aggregate (keys=[]" in sub:
                n += 1
                break
    return n


def test_no_cartesian_products_anywhere(registry_plans):
    """Read from the analyzed plan: at sf0.001 every table is under the
    broadcast threshold, so a fact×fact cartesian plans as a BNLJ and the
    executed plan never prints ``CartesianProduct``."""
    offenders = [n for n, p in registry_plans.items() if _fact_cartesians(p.analyzed)]
    assert not offenders, f"unbounded cartesian in: {offenders}"


def test_nested_loop_joins_only_where_intended(registry_plans):
    offenders = [
        n
        for n, p in registry_plans.items()
        if p.executed.count("BroadcastNestedLoopJoin") > _scalar_cross_joins(p.executed)
        and n not in BNLJ_ALLOWED
    ]
    assert not offenders, f"unplanned nested-loop join in: {offenders}"


# First-column signature of each SF-scaling table's parquet relation. An
# explicit broadcast hint whose subtree scans one of these *unreduced* (no
# aggregate/distinct/limit between the hint and the scan) bypasses AQE's
# size check — at 100 TB these tables are billions of rows and the hint is
# a guaranteed OOM. region/nation are fixed-cardinality and exempt.
_FACT_SIGNATURES = (
    "[l_orderkey",   # lineitem
    "[o_orderkey",   # orders
    "[c_custkey",    # customer
    "[p_partkey",    # part
    "[s_suppkey",    # supplier
    "[event_id",     # events
    "[doc_id",       # documents
    "[emb_id",       # embeddings
)
_REDUCERS = ("Aggregate", "Deduplicate", "GlobalLimit", "Distinct")


def _unbounded_fact_hints(plan_str: str) -> list[str]:
    """Return the fact signatures hinted without a cardinality reducer."""
    lines = plan_str.splitlines()
    bad = []
    for i, line in enumerate(lines):
        if "ResolvedHint" not in line or "broadcast" not in line:
            continue
        indent = len(line) - len(line.lstrip(" :+-"))
        reduced = False
        for sub in lines[i + 1 :]:
            sub_indent = len(sub) - len(sub.lstrip(" :+-"))
            if sub.strip() and sub_indent <= indent:
                break  # left the hint's subtree
            if any(r in sub for r in _REDUCERS):
                reduced = True
            if "Relation [" in sub or "Relation spark_catalog" in sub:
                for sig in _FACT_SIGNATURES:
                    if sig in sub and not reduced:
                        bad.append(sig)
    return bad


def _indent(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def _scans_unreduced_fact(subtree: list[str]) -> bool:
    """True when the subtree scans an SF-scaling table with no reducer on
    the path from the scan up to the subtree's root."""
    path: list[tuple[int, bool]] = []  # (indent, reduced at or above)
    for line in subtree:
        ind = _indent(line)
        while path and path[-1][0] >= ind:
            path.pop()
        reduced = (path[-1][1] if path else False) or any(r in line for r in _REDUCERS)
        path.append((ind, reduced))
        if (
            not reduced
            and ("Relation [" in line or "Relation spark_catalog" in line)
            and any(sig in line for sig in _FACT_SIGNATURES)
        ):
            return True
    return False


def _fact_cartesians(plan_str: str) -> int:
    """Count joins with no condition (``Join Cross`` or a bare ``Join
    Inner``) whose two children both scan an SF-scaling table unreduced:
    the pair space grows with SF², whatever the physical join."""
    lines = plan_str.splitlines()
    n = 0
    for i, line in enumerate(lines):
        if line.lstrip(" :+-").rstrip() not in ("Join Cross", "Join Inner"):
            continue
        indent = _indent(line)
        children: list[list[str]] = []
        for sub in lines[i + 1 :]:
            if _indent(sub) <= indent:
                break
            if _indent(sub) == indent + 3:
                children.append([])
            children[-1].append(sub)
        if len(children) == 2 and all(_scans_unreduced_fact(c) for c in children):
            n += 1
    return n


def test_no_explicit_broadcast_of_fact_tables(registry_plans):
    """VERDICT r2 'What's wrong #2': explicit F.broadcast on SF-scaling
    tables is the 100× scale-killer. Every query's analyzed plan must keep
    broadcast hints off unreduced fact-table scans."""
    offenders = {}
    for name, p in registry_plans.items():
        bad = _unbounded_fact_hints(p.analyzed)
        if bad:
            offenders[name] = bad
    assert not offenders, f"broadcast hint on SF-scaling table: {offenders}"


def test_allowlist_is_tight(registry_plans):
    """The allowlist shrinks if a listed query stops needing its BNLJ."""
    still = {
        n for n in BNLJ_ALLOWED if "BroadcastNestedLoopJoin" in registry_plans[n].executed
    }
    assert still == BNLJ_ALLOWED, (
        f"allowlist stale: {BNLJ_ALLOWED - still} no longer plan a BNLJ — remove them"
    )

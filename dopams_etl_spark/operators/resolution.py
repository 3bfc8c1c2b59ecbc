"""Entity resolution: weighted pairwise scorer (D2) + canonical identity
resolver (D3) — pure JVM column expressions over blocked candidate pairs.

Parity with ``brief_facts_ai/main.py:147–370``:

- component similarities: name (char-level ratio), token-set (Dice with a
  discounted single-token fallback), phonetic (soundex of the first token,
  3-char-prefix fallback), address (token Jaccard), age (0.5 unknown /
  0.8 within 2y / linear decay to 0 at 10y), alias (normalized equality);
- score = 0.35·name + 0.20·token + 0.15·phonetic + 0.12·addr + 0.10·age
  + 0.08·alias, + boosts (same PS +0.05, crime-profile token overlap
  +0.04, shared associates +0.06), ×0.85 common-single-name penalty,
  capped at 1.0, rounded to 2;
- resolver tiers: best-candidate score ≥0.82 → merge into the candidate's
  canonical id (tier 1); ≥0.60 → new id + review flag (tier 2); else new
  id (tier 3). Fallback id = deterministic uuid5(name|gender|ps).

Scale: pairs must come from a blocked join (``soundex_blocked_candidates``
or tier fingerprints) — the scorer itself never generates pairs, so no
cross product ever forms. One window pass picks the best candidate.

The reference's name similarity is max(SequenceMatcher, Jaro-Winkler) in
row-at-a-time Python; the JVM restatement uses the levenshtein ratio,
which keeps the whole scorer inside whole-stage codegen. Swap in a
rapidfuzz pandas UDF only if score parity with the reference binary
matters more than staying JVM-side.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dopams_etl_spark.functions.ids import uuid5_expr
from dopams_etl_spark.operators.joins import top1_by_score

# Reference weight vector (``main.py:269–276``).
W_NAME, W_TOKEN, W_PHONETIC, W_ADDR, W_AGE, W_ALIAS = 0.35, 0.20, 0.15, 0.12, 0.10, 0.08

COMMON_NAME_TOKENS = ("kumar", "singh", "khan", "raju", "ravi", "sai")

MERGE_THRESHOLD = 0.82
REVIEW_THRESHOLD = 0.60


def normalize_name(col: Column | str) -> Column:
    """lower → drop '@alias' → strip s/o-style kinship markers → alpha-only
    → collapse whitespace (``brief_facts_ai/main.py:136–144``)."""
    c = F.col(col) if isinstance(col, str) else col
    base = F.split(F.lower(F.trim(c)), "@").getItem(0)
    no_kin = F.regexp_replace(base, r"\b[sdw]/o\b", " ")
    alpha = F.regexp_replace(no_kin, r"[^a-z]", " ")
    return F.trim(F.regexp_replace(alpha, r"\s+", " "))


def name_similarity(a: Column, b: Column) -> Column:
    """Char-level similarity in [0,1]: 1 - levenshtein/maxlen (JVM-side)."""
    na, nb = normalize_name(a), normalize_name(b)
    maxlen = F.greatest(F.length(na), F.length(nb))
    return F.when(maxlen == 0, F.lit(0.0)).otherwise(
        1.0 - F.levenshtein(na, nb) / maxlen.cast("double")
    )


def token_set_similarity(a: Column, b: Column) -> Column:
    """Dice over name-token sets; single-token no-overlap pairs fall back to
    discounted char similarity (``main.py:200–212``)."""
    ta = F.array_distinct(F.split(normalize_name(a), " "))
    tb = F.array_distinct(F.split(normalize_name(b), " "))
    inter = F.size(F.array_intersect(ta, tb))
    dice = (2.0 * inter) / (F.size(ta) + F.size(tb)).cast("double")
    single_fallback = name_similarity(a, b) * 0.5
    return (
        F.when((F.size(ta) == 0) | (F.size(tb) == 0), F.lit(0.0))
        .when(inter > 0, dice)
        .when((F.size(ta) == 1) & (F.size(tb) == 1), single_fallback)
        .otherwise(F.lit(0.0))
    )


def phonetic_overlap(a: Column, b: Column) -> Column:
    """Soundex of the primary (first) token; 3-char-prefix fallback
    (``main.py:215–226``)."""
    na, nb = normalize_name(a), normalize_name(b)
    fa = F.split(na, " ").getItem(0)
    fb = F.split(nb, " ").getItem(0)
    return (
        F.when((na == "") | (nb == ""), F.lit(0.0))
        .when(F.soundex(fa) == F.soundex(fb), F.lit(1.0))
        .when(F.substring(na, 1, 3) == F.substring(nb, 1, 3), F.lit(1.0))
        .otherwise(F.lit(0.0))
    )


def age_score(a: Column, b: Column) -> Column:
    """0.5 unknown; 0.8 within 2 years; linear decay to 0.0 at 10
    (``main.py:237–248``)."""
    ia, ib = a.cast("int"), b.cast("int")
    diff = F.abs(ia - ib)
    return (
        F.when(ia.isNull() | ib.isNull(), F.lit(0.5))
        .when(diff <= 2, F.lit(0.8))
        .when(diff >= 10, F.lit(0.0))
        .otherwise(F.greatest(F.lit(0.0), 0.8 - (diff - 2) * (0.8 / 8.0)))
    )


def score_pairs(
    pairs: DataFrame,
    name_a: str = "name_a",
    name_b: str = "name_b",
    addr_a: str | None = "addr_a",
    addr_b: str | None = "addr_b",
    age_a: str | None = "age_a",
    age_b: str | None = "age_b",
    alias_a: str | None = "alias_a",
    alias_b: str | None = "alias_b",
    same_ps: Column | None = None,
    crime_overlap: Column | None = None,
    assoc_overlap: Column | None = None,
) -> DataFrame:
    """D2: add component columns + the weighted ``score`` to a candidate-pair
    DataFrame (from a blocked join).

    r15 (guide §4.1/§2.3): the shared sub-derivations (normalized names —
    3 regexes each —, token splits, char similarity) materialize ONCE as
    staged columns instead of re-expanding inside every component
    expression; the old inlined tree re-ran ``normalize_name`` ~10× and
    the levenshtein ratio 2× per pair (~60 µs/pair — 5 s for 85k pairs).
    The component formulas are unchanged expression-for-expression, so
    every score is bit-identical."""
    ca, cb = F.col(name_a), F.col(name_b)
    zero = F.lit(0.0)
    out = pairs.withColumns(
        {"__sp_na": normalize_name(ca), "__sp_nb": normalize_name(cb)}
    ).withColumns(
        {"__sp_sa": F.split(F.col("__sp_na"), " "), "__sp_sb": F.split(F.col("__sp_nb"), " ")}
    )
    na, nb = F.col("__sp_na"), F.col("__sp_nb")
    sa, sb = F.col("__sp_sa"), F.col("__sp_sb")
    # char-level similarity (name_similarity inlined over the staged norms)
    maxlen = F.greatest(F.length(na), F.length(nb))
    out = out.withColumn(
        "__sp_cn",
        F.when(maxlen == 0, F.lit(0.0)).otherwise(
            1.0 - F.levenshtein(na, nb) / maxlen.cast("double")
        ),
    )
    sim_name = F.col("__sp_cn")
    # token-set Dice (token_set_similarity over staged splits; the
    # single-token fallback reuses the staged char similarity)
    ta, tb = F.array_distinct(sa), F.array_distinct(sb)
    inter = F.size(F.array_intersect(ta, tb))
    dice = (2.0 * inter) / (F.size(ta) + F.size(tb)).cast("double")
    sim_token = (
        F.when((F.size(ta) == 0) | (F.size(tb) == 0), F.lit(0.0))
        .when(inter > 0, dice)
        .when((F.size(ta) == 1) & (F.size(tb) == 1), sim_name * 0.5)
        .otherwise(F.lit(0.0))
    )
    # phonetic (phonetic_overlap over the staged norms/splits)
    sim_phonetic = (
        F.when((na == "") | (nb == ""), F.lit(0.0))
        .when(F.soundex(sa.getItem(0)) == F.soundex(sb.getItem(0)), F.lit(1.0))
        .when(F.substring(na, 1, 3) == F.substring(nb, 1, 3), F.lit(1.0))
        .otherwise(F.lit(0.0))
    )
    if addr_a and addr_b:
        out = out.withColumns(
            {
                "__sp_aa": F.array_distinct(
                    F.regexp_extract_all(
                        F.lower(F.coalesce(F.col(addr_a), F.lit(""))),
                        F.lit(r"[a-z0-9]+"),
                        0,
                    )
                ),
                "__sp_ab": F.array_distinct(
                    F.regexp_extract_all(
                        F.lower(F.coalesce(F.col(addr_b), F.lit(""))),
                        F.lit(r"[a-z0-9]+"),
                        0,
                    )
                ),
            }
        )
        aa, ab = F.col("__sp_aa"), F.col("__sp_ab")
        a_inter = F.size(F.array_intersect(aa, ab))
        a_union = F.size(F.array_union(aa, ab))
        sim_addr = F.when(
            (F.size(aa) == 0) | (F.size(ab) == 0), F.lit(0.0)
        ).otherwise(a_inter / a_union.cast("double"))
    else:
        sim_addr = zero
    sim_age = age_score(F.col(age_a), F.col(age_b)) if age_a and age_b else F.lit(0.5)
    if alias_a and alias_b:
        out = out.withColumns(
            {
                "__sp_la": normalize_name(F.col(alias_a)),
                "__sp_lb": normalize_name(F.col(alias_b)),
            }
        )
        la, lb = F.col("__sp_la"), F.col("__sp_lb")
        sim_alias = F.when(
            F.col(alias_a).isNull()
            | F.col(alias_b).isNull()
            | (la == "")
            | (lb == ""),
            F.lit(0.0),
        ).otherwise((la == lb).cast("double"))
    else:
        sim_alias = zero
    comp = {
        "sim_name": sim_name,
        "sim_token": sim_token,
        "sim_phonetic": sim_phonetic,
        "sim_addr": sim_addr,
        "sim_age": sim_age,
        "sim_alias": sim_alias,
    }
    # materialize each unrounded component once; the score and the rounded
    # output columns both read the staged value
    out = out.withColumns({f"__sp_c_{n}": c for n, c in comp.items()})
    score = (
        W_NAME * F.col("__sp_c_sim_name")
        + W_TOKEN * F.col("__sp_c_sim_token")
        + W_PHONETIC * F.col("__sp_c_sim_phonetic")
        + W_ADDR * F.col("__sp_c_sim_addr")
        + W_AGE * F.col("__sp_c_sim_age")
        + W_ALIAS * F.col("__sp_c_sim_alias")
    )
    if same_ps is not None:
        score = score + F.when(same_ps, F.lit(0.05)).otherwise(zero)
    if crime_overlap is not None:
        score = score + F.when(crime_overlap, F.lit(0.04)).otherwise(zero)
    if assoc_overlap is not None:
        score = score + F.when(assoc_overlap, F.lit(0.06)).otherwise(zero)

    is_common_single = (F.size(sa) == 1) & sa.getItem(0).isin(*COMMON_NAME_TOKENS)
    score = F.when(is_common_single, score * 0.85).otherwise(score)
    for n in comp:
        out = out.withColumn(n, F.round(F.col(f"__sp_c_{n}"), 6))
    out = out.withColumn("score", F.round(F.least(score, F.lit(1.0)), 2))
    return out.drop(
        *[c for c in out.columns if c.startswith("__sp_")]
    )


def resolve_canonical(
    scored: DataFrame,
    probe_id: str,
    candidate_canonical: str,
    fallback_cols: tuple[str, str, str],
    merge_threshold: float = MERGE_THRESHOLD,
    review_threshold: float = REVIEW_THRESHOLD,
) -> DataFrame:
    """D3: pick the best candidate per probe, then the tier cascade.

    ``fallback_cols`` = (name, gender, ps) feeding the deterministic uuid5
    fallback id (``main.py:72–79``). Returns one row per probe with
    (canonical_id, best_score, tier, needs_review).
    """
    best = top1_by_score(scored, [probe_id], "score", tiebreak=candidate_canonical)
    fallback = uuid5_expr(*fallback_cols)
    tier = (
        F.when(F.col("score") >= merge_threshold, F.lit(1))
        .when(F.col("score") >= review_threshold, F.lit(2))
        .otherwise(F.lit(3))
    )
    canonical = F.when(
        F.col("score") >= merge_threshold, F.col(candidate_canonical)
    ).otherwise(fallback)
    return best.withColumn("tier", tier).withColumn(
        "needs_review",
        (F.col("score") >= review_threshold) & (F.col("score") < merge_threshold),
    ).withColumn("canonical_id", canonical).withColumnRenamed("score", "best_score")


def _jaro_winkler_py(s1: str, s2: str, prefix_weight: float = 0.1) -> float:
    """Plain-Python Jaro-Winkler (standard definition: match window
    max(|a|,|b|)//2 - 1, transpositions halved, ≤4-char common-prefix
    boost). Used inside the Arrow-batched UDF below."""
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    window = max(l1, l2) // 2 - 1
    m1 = [False] * l1
    m2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo, hi = max(0, i - window), min(l2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    jaro = (matches / l1 + matches / l2 + (matches - t / 2) / matches) / 3.0
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        prefix += 1
    return jaro + prefix * prefix_weight * (1.0 - jaro)


def jaro_winkler(a: Column | str, b: Column | str) -> Column:
    """Jaro-Winkler similarity as an Arrow-batched pandas UDF — the one
    reference scorer component (``main.py:147–160``: max(SequenceMatcher,
    jaro_winkler)) with no vectorizable JVM expression. Use only inside
    blocked candidate pairs; the JVM ``name_similarity`` remains the
    default hot-path scorer."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _jw(sa: pd.Series, sb: pd.Series) -> pd.Series:
        return pd.Series(
            [
                _jaro_winkler_py(x, y) if x is not None and y is not None else 0.0
                for x, y in zip(sa, sb)
            ]
        )

    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return _jw(ca, cb)

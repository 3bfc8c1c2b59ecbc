"""Text / dedup / similarity / multimodal queries (SURVEY §2.8 + the
north-star training-data-pipeline surface) with DuckDB oracles where the
computation is engine-portable.

Every entry here is oracle-checked — including minhash and simhash:
both sketches derive their hashes from md5, which DuckDB reproduces
value-for-value (MinHash a universal-hash family over each shingle's two
md5 words, SimHash each token's 64 leading md5 bits), so
``catalog.oracle_sql()`` returns real DuckDB SQL for the full registry.
The hyperplane-LSH operators (lsh_topk, embedding near-dups) use
seeded-numpy plane literals DuckDB reproduces bit-for-bit
(``_lsh_bucket_sql``), and the
approximate operators are additionally validated against their exact
counterparts (n-gram Jaccard, brute-force cosine) in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dopams_etl_spark.functions.ids import md5_bucket32, md5_words
from dopams_etl_spark.functions.textfns import (
    bpe_token_count,
    hashed_model_weights,
    lang_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    tokens,
    word_shingles,
)
from dopams_etl_spark.operators.dedup import (
    MINHASH_MOD,
    MINHASH_P,
    MINHASH_Q,
    exact_dedup,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    simhash_near_dups,
    tiered_fingerprint_dedup,
    winnow_fingerprints,
)
from dopams_etl_spark.operators.llm_map import llm_map, regex_extract_stub
from dopams_etl_spark.operators.multimodal import decode_media, stub_decoder
from dopams_etl_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dups,
    lsh_topk,
)
from dopams_etl_spark.partitioning import ensure_parallelism
from dopams_etl_spark.plans.catalog import (
    ann_notnull,
    md5_bucket32_sql,
    register,
    t,
)


def _split_ctes() -> dict[str, str]:
    """Shared oracle pieces for the deterministic train/val/test split —
    the 32-bit md5 value (``md5_bucket32_sql``, salt ``split-v1``, same
    shape as ``operators.quality.assign_split``) and the exact-integer
    cumulative cuts (``quality.split_cuts`` — int-TRUNCATED like the
    Spark side, a SQL CAST would round 0.8·2³² up by one). Both split
    oracles interpolate THIS, so hash/threshold changes land on every
    engine and every query at once."""
    from dopams_etl_spark.operators.quality import split_cuts

    cuts = dict(split_cuts())
    return {
        "v": md5_bucket32_sql("'split-v1|' || CAST(doc_id AS VARCHAR)"),
        "train_cut": str(cuts["train"]),
        "val_cut": str(cuts["val"]),
    }


def _fill_split(sql: str) -> str:
    """Interpolate the shared split pieces into an oracle template —
    ONE ``_split_ctes()`` evaluation per registration, not one per
    placeholder."""
    sc = _split_ctes()
    return (
        sql.replace("__SPLIT_V__", sc["v"])
        .replace("__TRAIN_CUT__", sc["train_cut"])
        .replace("__VAL_CUT__", sc["val_cut"])
    )

_STOP_EN = "'the','and','of','to','a','in','is','it','that','for'"
_STOP_ES = "'el','la','de','que','y','en','un','una','los','por'"
_STOP_FR = "'le','la','de','et','les','des','un','une','dans','pour'"
_STOP_DE = "'der','die','das','und','ist','von','mit','den','ein','für'"


@register(
    "exact_dedup_docs",
    r"""
    WITH f AS (SELECT doc_id,
                      md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
               FROM documents),
    r AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn,
                 CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT) AS dup_count
          FROM f)
    SELECT doc_id, fp, dup_count FROM r WHERE rn = 1
    """,
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the normalized-text md5 fingerprint —
    one shuffle on the 16-byte key, no pairwise comparison."""
    docs = t(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id").select("doc_id", "fp", "dup_count")


@register(
    "doc_token_stats",
    r"""
    WITH b AS (
      SELECT doc_id, text,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS n_tokens,
             CASE WHEN length(text) > 0
                  THEN ROUND((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')))
                             / CAST(length(text) AS DOUBLE), 6)
                  ELSE 0.0 END AS punct_ratio,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                             x -> x IN ({stop}))) AS stop_hits
      FROM documents)
    SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, punct_ratio,
           CASE WHEN n_tokens > 0
                THEN ROUND(stop_hits / CAST(n_tokens AS DOUBLE), 6) ELSE 0.0 END
             AS stop_ratio
    FROM b
    """.replace("{stop}", _STOP_EN),
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + punctuation / stopword ratios — pure JVM expressions
    inside whole-stage codegen."""
    # r15 (guide §2.4): map-only — spread the one-row-group scan
    # (per-row deterministic ⇒ identical). No-op at real scale.
    docs = ensure_parallelism(t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        token_count("text").cast("int").alias("n_tokens"),
        punct_ratio("text").alias("punct_ratio"),
        stopword_ratio("text").alias("stop_ratio"),
    )


@register(
    "doc_lang_id",
    r"""
    WITH h AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ({de}))) AS h_de,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ({en}))) AS h_en,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ({es}))) AS h_es,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ({fr}))) AS h_fr
      FROM documents)
    SELECT doc_id,
           CASE WHEN greatest(h_de, h_en, h_es, h_fr) <= 0 THEN 'und'
                WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
                WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                WHEN h_fr = greatest(h_de, h_en, h_es, h_fr) THEN 'fr'
                ELSE 'und' END AS pred_lang
    FROM h
    """.replace("{de}", _STOP_DE).replace("{en}", _STOP_EN).replace("{es}", _STOP_ES).replace("{fr}", _STOP_FR),
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID: per-language stopword hits, argmax with a
    deterministic key-order tie-break."""
    # r15 (guide §2.4): map-only — spread (per-row ⇒ identical)
    docs = ensure_parallelism(t(spark, sf_dir, "documents"))
    return docs.select("doc_id", lang_id("text").alias("pred_lang"))


# Shared by doc_quality_scores and preference_pair_build so the two
# oracles state ONE quality definition (fixed-order raw IEEE arithmetic,
# no rounding — bitwise-reproducible across engines; see
# functions/textfns.py:quality_score).
_QUALITY_CTES = r"""b AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS n,
             CASE WHEN length(text) > 0
                  THEN (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')))
                       / CAST(length(text) AS DOUBLE)
                  ELSE 0.0 END AS pr,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                             x -> x IN ({stop}))) AS sh
      FROM documents),
    s AS (SELECT doc_id,
                 CASE WHEN n >= 20 AND n <= 10000 THEN 1.0 WHEN n > 0 THEN 0.5 ELSE 0.0 END AS length_ok,
                 1.0 - least(1.0, pr * 4.0) AS punct_ok,
                 least(1.0, CASE WHEN n > 0 THEN sh / CAST(n AS DOUBLE) ELSE 0.0 END * 5.0) AS stop_ok
          FROM b),
    q AS (SELECT doc_id, 0.4 * length_ok + 0.3 * punct_ok + 0.3 * stop_ok AS quality
          FROM s)"""


@register(
    "doc_quality_scores",
    ("WITH " + _QUALITY_CTES + "\n    SELECT doc_id, quality FROM q").replace(
        "{stop}", _STOP_EN
    ),
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style composite quality score (length sweet-spot, punctuation,
    stopword density)."""
    # r15 (guide §2.4): map-only — spread (per-row ⇒ identical)
    docs = ensure_parallelism(t(spark, sf_dir, "documents"))
    return docs.select("doc_id", quality_score("text").alias("quality"))


# Shared by ngram_jaccard_dups and dedup_clusters (its pair source) so the
# two oracles cannot drift: tokenize → distinct 3-shingles → inverted index
# with max_df=50 → pairwise intersection → Jaccard ≥ 0.5.
_NGRAM_PAIR_CTES = r"""
    tk AS (SELECT doc_id, text,
                  string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
    s AS (SELECT doc_id,
                 -- blank guard FIRST: splitting '' yields [''], so
                 -- len(toks) > 0 would emit a '' shingle where Spark's
                 -- word_shingles returns [] (blank docs never pair)
                 CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                      WHEN len(toks) >= 3
                      THEN list_distinct(list_transform(range(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                      WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                      ELSE [] END AS sh
          FROM tk),
    e AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS shingle FROM s WHERE len(sh) > 0),
    keep AS (SELECT shingle FROM e GROUP BY shingle HAVING COUNT(*) <= 50),
    e2 AS (SELECT e.* FROM e JOIN keep USING (shingle)),
    j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS size_a, b.sz AS size_b,
                 CAST(COUNT(*) AS BIGINT) AS inter
          FROM e2 a JOIN e2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4),
    pairs AS (SELECT id_a, id_b,
                     ROUND(inter / CAST(size_a + size_b - inter AS DOUBLE), 6) AS jaccard
              FROM j
              WHERE ROUND(inter / CAST(size_a + size_b - inter AS DOUBLE), 6) >= 0.5)
"""


@register(
    "ngram_jaccard_dups",
    "WITH " + _NGRAM_PAIR_CTES + "\n    SELECT id_a, id_b, jaccard FROM pairs",
)
def ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dups via shingle inverted index — the
    shuffle key is the shingle; ``max_df`` caps document frequency so no
    ubiquitous-shingle skew."""
    docs = t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=3, threshold=0.5, max_df=50)


@register(
    "dedup_clusters",
    "WITH RECURSIVE "
    + _NGRAM_PAIR_CTES
    + r""",
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(node, lbl) AS (
      SELECT u, u FROM edges
      UNION
      SELECT ed.v, r.lbl FROM reach r JOIN edges ed ON ed.u = r.node),
    cc AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
    SELECT d.doc_id,
           COALESCE(cc.cluster_id, d.doc_id) AS cluster_id,
           COALESCE(cc.cluster_id, d.doc_id) = d.doc_id AS is_canonical
    FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-closure dedup clustering: near-dup pairs (exact n-gram
    Jaccard, same parameters as ``ngram_jaccard_dups``) → connected
    components → every document labeled with its component-minimum
    ``cluster_id`` (singletons label themselves); keep ``is_canonical``
    rows for the deduped corpus. Closes the A~B~C chains the reference's
    pairwise canonical resolver leaves open
    (``create_person_deduplication_table.py:560–640``). The oracle closes
    the same graph with a recursive CTE — independent algorithm, same
    fixpoint."""
    from dopams_etl_spark.operators.graph import connected_components

    docs = t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=3, threshold=0.5, max_df=50)
    cc = connected_components(pairs, "id_a", "id_b")
    return docs.join(cc, docs["doc_id"] == cc["node"], "left").select(
        "doc_id",
        F.coalesce("label", "doc_id").alias("cluster_id"),
        (F.coalesce("label", "doc_id") == F.col("doc_id")).alias("is_canonical"),
    )


@register(
    "minhash_lsh_pairs",
    r"""
    WITH tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
                FROM documents),
    s AS (SELECT doc_id,
                 CASE WHEN len(toks) >= 3
                      THEN list_distinct(list_transform(range(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                      WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                      ELSE [] END AS sh
          FROM tk),
    e AS (SELECT doc_id, unnest(sh) AS shingle FROM s WHERE len(sh) > 0),
    ab AS (SELECT doc_id,
                  ('0x' || substr(md5(shingle), 1, 8))::BIGINT % __MOD__ AS a,
                  ('0x' || substr(md5(shingle), 9, 8))::BIGINT % __MOD__ AS b
           FROM e),
    m AS (SELECT doc_id, f.i,
                 MIN(((__P__[f.i+1] * a) % __MOD__ + (__Q__[f.i+1] * b) % __MOD__)
                     % __MOD__) AS h
          FROM ab CROSS JOIN range(0, 32) f(i) GROUP BY doc_id, f.i),
    sig AS (SELECT doc_id, list(h ORDER BY i) AS mh FROM m GROUP BY doc_id),
    banded AS (SELECT doc_id, mh, r.b,
                      md5(CAST(mh[4*r.b+1] AS VARCHAR) || '_' ||
                          CAST(mh[4*r.b+2] AS VARCHAR) || '_' ||
                          CAST(mh[4*r.b+3] AS VARCHAR) || '_' ||
                          CAST(mh[4*r.b+4] AS VARCHAR)) AS bh
               FROM sig CROSS JOIN range(0, 8) r(b)),
    p AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
          FROM banded a JOIN banded b2
            ON a.b = b2.b AND a.bh = b2.bh AND a.doc_id < b2.doc_id),
    j AS (SELECT id_a, id_b, sa.mh AS ma, sb.mh AS mb
          FROM p JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b)
    SELECT id_a, id_b,
           ROUND(len(list_filter(range(1, 33), i -> ma[i] = mb[i])) / 32.0, 6)
             AS est_jaccard
    FROM j
    """.replace("__MOD__", str(MINHASH_MOD))
    .replace("__P__", "[" + ",".join(map(str, MINHASH_P[:32])) + "]")
    .replace("__Q__", "[" + ",".join(map(str, MINHASH_Q[:32])) + "]"),
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs — banded signature shuffle; validated
    against exact n-gram Jaccard in tests/test_dedup.py. The signature is
    ONE md5 per shingle, then a universal-hash family mod 2³¹−1 with
    seeded coefficients, so the banded buckets AND the est-Jaccard values
    replicate in DuckDB (value-level oracle; the coefficient lists are
    inlined into the SQL)."""
    docs = t(spark, sf_dir, "documents")
    return lsh_candidate_pairs(docs, "doc_id", "text", num_hashes=32, bands=8)


@register(
    "simhash_dups",
    r"""
    WITH tk AS (SELECT doc_id, list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS toks
                FROM documents),
    tok AS (SELECT doc_id, md5(unnest(toks)) AS m FROM tk),
    v AS (SELECT doc_id, r.j,
                 SUM(CASE WHEN ((strpos('0123456789abcdef',
                                        substr(m, ((r.j-1)//4)+1, 1)) - 1
                                 >> ((r.j-1)%4)) & 1) = 1
                          THEN 1 ELSE -1 END) AS vote
          FROM tok CROSS JOIN range(1, 65) r(j) GROUP BY doc_id, r.j),
    sig AS (SELECT doc_id, list(CASE WHEN vote > 0 THEN 1 ELSE 0 END ORDER BY j) AS s
            FROM v GROUP BY doc_id),
    ch AS (SELECT doc_id, s, r.c,
                  array_to_string(list_slice(s, 16*r.c+1, 16*r.c+16), '') AS chunk
           FROM sig CROSS JOIN range(0, 4) r(c)),
    p AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
          FROM ch a JOIN ch b2
            ON a.c = b2.c AND a.chunk = b2.chunk AND a.doc_id < b2.doc_id),
    j2 AS (SELECT id_a, id_b, sa.s AS s_a, sb.s AS s_b
           FROM p JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b)
    SELECT id_a, id_b,
           CAST(len(list_filter(range(1, 65), i -> s_a[i] <> s_b[i])) AS INTEGER)
             AS hamming
    FROM j2
    WHERE len(list_filter(range(1, 65), i -> s_a[i] <> s_b[i])) <= 6
    """,
)
def simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups — 4×16-bit banded blocking + exact hamming.
    Each token's bits are the leading 64 bits of its md5, so DuckDB
    reproduces the identical 64-bit signatures (substr+strpos nibble
    arithmetic over the same md5 hex): a value-level oracle."""
    docs = t(spark, sf_dir, "documents")
    return simhash_near_dups(docs, "doc_id", "text", max_hamming=6)


@register(
    "tiered_dedup_docs",
    r"""
    WITH base AS (SELECT doc_id, lang,
                         CASE WHEN source LIKE '%0' THEN NULL ELSE source END AS source
                  FROM documents),
    f AS (SELECT doc_id,
                 CASE WHEN lang IS NOT NULL AND trim(lang) <> ''
                           AND source IS NOT NULL AND trim(source) <> '' THEN 1
                      WHEN lang IS NOT NULL AND trim(lang) <> '' THEN 2
                      ELSE 0 END AS tier,
                 CASE WHEN lang IS NOT NULL AND trim(lang) <> ''
                           AND source IS NOT NULL AND trim(source) <> ''
                      THEN md5(lower(trim(lang)) || '|' || lower(trim(source)))
                      WHEN lang IS NOT NULL AND trim(lang) <> ''
                      THEN md5(lower(trim(lang))) END AS fp
          FROM base),
    g AS (SELECT tier, fp, MIN(doc_id) AS canon FROM f WHERE tier > 0 GROUP BY tier, fp)
    SELECT f.doc_id,
           COALESCE(g.canon, f.doc_id) AS canonical_id,
           f.tier,
           CAST(CASE f.tier WHEN 1 THEN 0.95 WHEN 2 THEN 0.9 ELSE 1.0 END
                AS DOUBLE) AS confidence
    FROM f LEFT JOIN g ON f.tier = g.tier AND f.fp = g.fp
    """,
)
def tiered_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 tiered fingerprint dedup: tier = first data-complete strategy,
    one groupBy on (tier, fingerprint)
    (``create_person_deduplication_table.py:516–560``). `source` ending in
    '0' is blanked so the tier-2 fallback path is exercised."""
    docs = t(spark, sf_dir, "documents").withColumn(
        "source", F.when(F.col("source").endswith("0"), F.lit(None)).otherwise(F.col("source"))
    )
    out = tiered_fingerprint_dedup(docs, "doc_id", [["lang", "source"], ["lang"]])
    return out.select(
        "doc_id", "canonical_id", "tier", F.col("confidence").cast("double").alias("confidence")
    )


@register(
    "cosine_topk_embeddings",
    ann_notnull("""
    WITH p AS (SELECT vec_id AS p_id, embedding::DOUBLE[] AS pv FROM embeddings WHERE vec_id < 20),
    c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv FROM embeddings),
    s AS (SELECT p_id, c_id,
                 ROUND(list_dot_product(pv, cv)
                       / (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv))), 6)
                   AS cos_sim
          FROM p JOIN c ON p_id <> c_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY p_id
                                       ORDER BY cos_sim DESC, c_id ASC) AS rn FROM s)
    SELECT p_id, c_id, cos_sim, CAST(rn AS INT) AS rank FROM r WHERE rn <= 3
    """),
)
def cosine_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 similarity top-k, exact brute-force baseline: JVM zip_with/aggregate
    dot products in double precision, broadcast corpus, window top-k."""
    emb = t(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") < 20)
    return cosine_topk(probe, emb, "vec_id", "vec_id", "embedding", k=3)


def _lsh_bucket_sql(vec_expr: str, dim: int, planes: int, seed: int = 42) -> str:
    """DuckDB replica of ``similarity.lsh_bucket``: the hyperplanes are
    deterministic seeded-numpy literals, so the sign-bit bucket is exactly
    reproducible — same planes, same left-to-right double accumulation."""
    from dopams_etl_spark.operators.similarity import _hyperplanes

    terms = []
    for i, plane in enumerate(_hyperplanes(dim, planes, seed)):
        arr = "[" + ", ".join(repr(float(x)) for x in plane) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec_expr}, {arr}) > 0 THEN {1 << i} ELSE 0 END)"
        )
    return " + ".join(terms)


@register(
    "lsh_topk_embeddings",
    ann_notnull("""
    WITH p AS (SELECT vec_id AS p_id, embedding::DOUBLE[] AS pv FROM embeddings WHERE vec_id < 20),
    c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv FROM embeddings),
    pb AS (SELECT *, {bp} AS bucket FROM p),
    cb AS (SELECT *, {bc} AS bucket FROM c),
    s AS (SELECT p_id, c_id,
                 -- + 0.0 canonicalizes IEEE -0.0 (bucket-mates can be
                 -- anti-correlated, so the rounded cosine is sign-indefinite)
                 ROUND(list_dot_product(pv, cv)
                       / (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv))), 6)
                   + 0.0 AS cos_sim
          FROM pb JOIN cb USING (bucket) WHERE p_id <> c_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY p_id
                                       ORDER BY cos_sim DESC, c_id ASC) AS rn FROM s)
    SELECT p_id, c_id, cos_sim, CAST(rn AS INT) AS rank FROM r WHERE rn <= 3
    """).replace("{bp}", _lsh_bucket_sql("pv", 64, 6)).replace(
        "{bc}", _lsh_bucket_sql("cv", 64, 6)
    ),
)
def lsh_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 at scale: random-hyperplane LSH bucketed top-k — shuffle on bucket
    id, never the cross product; recall measured in tests vs cosine_topk.
    Oracle-checked: the seeded hyperplanes are plan literals, so DuckDB
    reproduces the exact buckets AND the exact ranked output."""
    emb = t(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") < 20)
    return lsh_topk(probe, emb, "vec_id", "vec_id", "embedding", k=3, dim=64, planes=6)


@register(
    "ivf_topk_embeddings",
    ann_notnull("""
    WITH cents AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
      FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
    corpus AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS v FROM embeddings),
    cassign AS (
      SELECT c_id, v,
             (SELECT cid FROM cents
               ORDER BY -(list_dot_product(corpus.v, cents.cv)
                          / (sqrt(list_dot_product(corpus.v, corpus.v))
                             * sqrt(list_dot_product(cents.cv, cents.cv)))) ASC, cid ASC
               LIMIT 1) AS cell
      FROM corpus),
    probes AS (SELECT vec_id AS p_id, embedding::DOUBLE[] AS pv FROM embeddings
               WHERE vec_id < 20),
    pcells AS (
      SELECT p_id, pv, cell
      FROM probes, LATERAL (
        SELECT cid AS cell FROM cents
         ORDER BY -(list_dot_product(probes.pv, cents.cv)
                    / (sqrt(list_dot_product(probes.pv, probes.pv))
                       * sqrt(list_dot_product(cents.cv, cents.cv)))) ASC, cid ASC
         LIMIT 4)),
    s AS (SELECT p_id, c_id,
                 ROUND(list_dot_product(pv, v)
                       / (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(v, v))), 6)
                   AS cos_sim
          FROM pcells JOIN cassign USING (cell) WHERE p_id <> c_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY p_id
                                       ORDER BY cos_sim DESC, c_id ASC) AS rn FROM s)
    SELECT p_id, c_id, cos_sim, CAST(rn AS INT) AS rank FROM r WHERE rn <= 3
    """),
)
def ivf_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 at scale, variant 2: IVF coarse-quantizer ANN — probes search
    only their nprobe nearest cells; recall vs exact measured in
    tests/test_similarity.py. Oracle-checked: the md5-ordered centroid
    sample (id-type-agnostic — Spark ``md5(cast(id as string))`` ==
    DuckDB ``md5(CAST(... AS VARCHAR))``) and the (-cos, cid)
    nearest-cell tie-break are replicated in SQL."""
    from dopams_etl_spark.operators.similarity import ivf_topk

    emb = t(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") < 20)
    return ivf_topk(
        probe, emb, "vec_id", "vec_id", "embedding",
        k=3, n_centroids=16, nprobe=4,
    )


@register(
    "embedding_near_dup_pairs",
    ann_notnull("""
    WITH base AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(embedding::DOUBLE[], (x, i) -> x * (1.0 + ((i - 1) % 7) * 0.002))
      FROM embeddings),
    tb AS (
      SELECT id, v, 0 AS tbl, {b0} AS bucket FROM base
      UNION ALL SELECT id, v, 1, {b1} FROM base
      UNION ALL SELECT id, v, 2, {b2} FROM base
      UNION ALL SELECT id, v, 3, {b3} FROM base),
    pairs AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.v AS va, b.v AS vb
      FROM tb a JOIN tb b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id < b.id),
    s AS (SELECT id_a, id_b,
                 ROUND(list_dot_product(va, vb)
                       / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))), 6)
                   AS cos_sim
          FROM pairs)
    SELECT id_a, id_b, cos_sim FROM s WHERE cos_sim >= 0.99
    """).replace("{b0}", _lsh_bucket_sql("v", 64, 8, 42))
       .replace("{b1}", _lsh_bucket_sql("v", 64, 8, 1042))
       .replace("{b2}", _lsh_bucket_sql("v", 64, 8, 2042))
       .replace("{b3}", _lsh_bucket_sql("v", 64, 8, 3042)),
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dups over multi-table LSH buckets (no unbounded
    cartesian). The testdata's random vectors have no natural near-dups
    (max pair cosine ≈ 0.48), so the corpus is augmented with
    deterministic perturbed copies (id + 1e6) whose recovery exercises
    recall: every (i, i+1e6) pair is a true near-dup the operator must
    surface."""
    emb = t(spark, sf_dir, "embeddings")
    perturbed = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x * (1.0 + (i % 7) * 0.002)
        ).alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(perturbed)
    return embedding_near_dups(
        corpus, "vec_id", "embedding", threshold=0.99, dim=64, planes=8, tables=4
    )


@register(
    "llm_extract_docs",
    r"""
    SELECT doc_id,
           COALESCE(array_to_string(list_sort(list_distinct(regexp_extract_all(lower(text), '[a-z]*er\b'))), ','), '')
             AS extracted
    FROM documents
    """,
)
def llm_extract_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5/§2.10 ``llm_map``: Arrow-batched mapInPandas extraction stage with
    a deterministic regex stub standing in for the LLM provider."""
    docs = t(spark, sf_dir, "documents")
    return llm_map(
        docs,
        input_cols=["doc_id", "text"],
        output_schema="extracted string, doc_id long",
        provider=regex_extract_stub(r"[a-z]*er\b", "text"),
        passthrough_cols=["doc_id"],
    ).select("doc_id", "extracted")


@register(
    "media_decode_meta",
    """
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(strlen(text) % 640 AS INT) AS width,
           CAST(strlen(text) % 480 AS INT) AS height
    FROM documents
    """,
)
def media_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column → mapInPandas decode stage
    (deterministic stub decoder; a real decoder plugs into the same
    signature). The payload here is the document text encoded as bytes."""
    docs = t(spark, sf_dir, "documents").withColumn("payload", F.encode("text", "UTF-8"))
    out = decode_media(docs, "doc_id", "payload", decoder=stub_decoder)
    return out.select("doc_id", "n_bytes", "width", "height")


@register(
    "media_resize",
    """
    SELECT doc_id,
           -- explicit NULL->0 (r14 nullhalf census): a NULL payload
           -- resizes to zero bytes (NULL md5 marks it; DuckDB's least()
           -- IGNORES the NULL strlen, so COALESCE alone would give 600,
           -- and a bare NULL would NaN-float the int pandas bridge)
           CAST(CASE WHEN text IS NULL THEN 0
                     ELSE least(strlen(text), 600) END AS BIGINT) AS n_bytes,
           80 AS out_w, 60 AS out_h,
           md5(substr(text, 1, 600)) AS resized_md5
    FROM documents
    """,
)
def media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize plumbing: binary in → binary out via mapInPandas
    (stub resizer truncates to width*height/8 = 600 bytes; a real resizer
    shares the signature). md5 of the output binary proves the bytes
    round-tripped Arrow intact."""
    from dopams_etl_spark.operators.multimodal import resize_media, stub_resizer

    docs = t(spark, sf_dir, "documents").withColumn("payload", F.encode("text", "UTF-8"))
    out = resize_media(docs, "doc_id", "payload", width=80, height=60, resizer=stub_resizer)
    return out.select("doc_id", "n_bytes", "out_w", "out_h", F.md5("resized").alias("resized_md5"))


@register(
    "media_frame_sample",
    """
    WITH vids AS (
      SELECT doc_id, text,
             strlen(text) % 7 + 1 AS n_frames,
             strlen(text) // (strlen(text) % 7 + 1) AS chunk
      FROM documents)
    SELECT doc_id,
           CAST(k AS INT) AS frame_idx,
           CAST(chunk AS BIGINT) AS frame_bytes,
           md5(substr(text, CAST(k * chunk + 1 AS INT), CAST(chunk AS INT))) AS frame_md5
    FROM vids, LATERAL (SELECT unnest(range(0, n_frames, 2)) AS k)
    """,
)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling (video analog): one row in → one row per
    sampled frame out — the one-to-many mapInPandas fan-out a real
    ffmpeg-backed sampler needs. Deterministic stub: frame k is the k-th
    equal chunk of the payload, sampled every 2nd frame."""
    from dopams_etl_spark.operators.multimodal import sample_frames

    docs = t(spark, sf_dir, "documents").withColumn("payload", F.encode("text", "UTF-8"))
    return sample_frames(docs, "doc_id", "payload", every_n=2)


@register(
    "doc_bpe_token_stats",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '''(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s'']+|\s+'))
             AS INT) AS n_bpe,
           CAST(CASE WHEN trim(text) = '' THEN 0
                     ELSE len(string_split_regex(lower(trim(text)), '\s+')) END
             AS INT) AS n_ws
    FROM documents
    """,
)
def doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-budget token counting: GPT-2-style pre-tokenizer segment count
    (``bpe_token_count`` — lookahead-free so Java regex and RE2 agree)
    next to the whitespace count; pure JVM expressions."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        bpe_token_count("text").cast("int").alias("n_bpe"),
        token_count("text").cast("int").alias("n_ws"),
    )


@register(
    "doc_winnow_fingerprints",
    r"""
    -- text IS NOT NULL: the shared dedup-family null-text convention
    -- (NULL text has no fingerprints on either engine)
    WITH b AS (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS s
               FROM documents WHERE doc_id < 100 AND text IS NOT NULL),
    g AS (SELECT doc_id,
                 list_transform(range(1, greatest(length(s) - 8 + 1, 1) + 1),
                                i -> md5(substr(s, i, 8))) AS hs
          FROM b),
    f AS (SELECT doc_id,
                 list_distinct(list_transform(
                   range(1, greatest(len(hs) - 8 + 1, 1) + 1),
                   w -> list_min(list_slice(hs, w, w + 7)))) AS fps
          FROM g)
    -- DISTINCT (dup2 census): the operator returns the distinct
    -- fingerprint SET per id — duplicated rows collapse
    SELECT DISTINCT doc_id, fp
    FROM (SELECT doc_id, unnest(fps) AS fp FROM f)
    """,
)
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) rolling-hash fingerprints, k=8 window=8 — the
    local-similarity sketch; md5-hex hashes replicate the exact selected
    mins in DuckDB. A 100-doc slice keeps the single-threaded DuckDB
    oracle inside the driver's per-query budget (the operator itself is
    per-row array math — corpus size only widens the scan)."""
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return winnow_fingerprints(docs, "doc_id", "text", k=8, window=8).select(
        F.col("id").alias("doc_id"), "fp"
    )


@register(
    "corpus_mixture_sample",
    """
    SELECT doc_id, source FROM documents
    WHERE substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 2) <
          CASE source WHEN 'src0' THEN 'g' WHEN 'src1' THEN 'c0'
                      WHEN 'src2' THEN '80' WHEN 'src3' THEN '40'
                      WHEN 'src4' THEN '00' ELSE '80' END
    """,
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture weighting for corpus assembly: per-source deterministic
    downsampling by md5-prefix threshold (keep-all src0 → drop-all src4,
    default 0.5). Membership is a pure function of (source, id) — exactly
    reproducible across runs, partitionings, and engines, unlike
    ``sampleBy``'s partition-walk sampler; the filter is a narrow map
    that rides the scan, no shuffle."""
    from dopams_etl_spark.operators.quality import mixture_sample

    docs = t(spark, sf_dir, "documents")
    return mixture_sample(
        docs, "doc_id", "source",
        {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25, "src4": 0.0},
        default_rate=0.5,
    ).select("doc_id", "source")


# Shared by doc_chunks and training_shard_pack (its consumer) so the two
# oracles cannot drift: tokenize → chunk count 1+ceil((n-50)/40) → 50-token
# slices at stride 40.
_CHUNK_CTES = r"""
    b AS (SELECT doc_id,
                 -- NULL text chunks like an empty doc: zero chunks
                 CASE WHEN text IS NULL OR trim(text) = '' THEN []
                      ELSE string_split_regex(lower(trim(text)), '\s+') END AS tk
          FROM documents),
    nn AS (SELECT doc_id, tk, len(tk) AS n FROM b),
    c AS (SELECT doc_id, tk,
                 CASE WHEN n <= 0 THEN 0
                      ELSE 1 + CAST(ceil(greatest(n - 50, 0) / 40.0) AS INT) END AS nc
          FROM nn),
    x AS (SELECT doc_id, tk, k
          FROM c, LATERAL (SELECT unnest(range(0, nc)) AS k) WHERE nc > 0),
    y AS (SELECT doc_id, CAST(k AS INT) AS chunk_idx,
                 list_slice(tk, k * 40 + 1, k * 40 + 50) AS ck
          FROM x)
"""


@register(
    "doc_chunks",
    "WITH "
    + _CHUNK_CTES
    + r"""
    SELECT doc_id, chunk_idx, CAST(len(ck) AS INT) AS n_tokens,
           array_to_string(ck, ' ') AS chunk
    FROM y
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length chunking: 50-token windows, 10-token overlap
    (stride 40) — the pre-packing fan-out of an LLM training pipeline,
    as a JVM array transform + posexplode (same one-to-many shape as
    media_frame_sample, zero Python boundary)."""
    from dopams_etl_spark.operators.quality import chunk_documents

    # r15 (guide §2.4): map-only fan-out — spread (per-row ⇒ identical)
    docs = ensure_parallelism(t(spark, sf_dir, "documents"))
    return chunk_documents(docs, "doc_id", "text", chunk_tokens=50, overlap=10).select(
        F.col("id").alias("doc_id"), "chunk_idx", "n_tokens", "chunk"
    )


@register(
    "training_shard_pack",
    "WITH "
    + _CHUNK_CTES
    + r""",
    h AS (SELECT doc_id, chunk_idx, CAST(len(ck) AS INT) AS n_tokens,
                 md5(CAST(doc_id AS VARCHAR) || '|' || CAST(chunk_idx AS VARCHAR)) AS hh
          FROM y),
    sh AS (SELECT ((strpos('0123456789abcdef', substr(hh, 1, 1)) - 1) * 16
                   + strpos('0123456789abcdef', substr(hh, 2, 1)) - 1) % 8 AS shard,
                  n_tokens
           FROM h)
    SELECT CAST(shard AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM sh GROUP BY shard
    """,
)
def training_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-output sharding: context-length chunks assigned to 8
    shards by deterministic md5-nibble hash (``assign_shards``), per-shard
    chunk and token totals proving the balance. At 100 TB the shard column
    is the ``partitionBy`` of the final write — hash-uniform keys keep
    every output file within a few percent of the mean with no global
    sort or repartition-by-range pass."""
    from dopams_etl_spark.operators.quality import assign_shards, chunk_documents

    docs = t(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, "doc_id", "text", chunk_tokens=50, overlap=10)
    return (
        assign_shards(chunks, ["id", "chunk_idx"], n_shards=8)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


@register(
    "dedup_incremental_batch",
    "WITH "
    + _NGRAM_PAIR_CTES
    + r""",
    bound AS (SELECT CAST(0.8 * (MAX(doc_id) + 1) AS BIGINT) AS cut FROM documents),
    ce AS (SELECT e.* FROM e, bound WHERE e.doc_id < bound.cut),
    be AS (SELECT e.* FROM e, bound WHERE e.doc_id >= bound.cut),
    keepc AS (SELECT shingle FROM ce GROUP BY shingle HAVING COUNT(*) <= 50),
    ce2 AS (SELECT ce.* FROM ce JOIN keepc USING (shingle)),
    be2 AS (SELECT be.* FROM be JOIN keepc USING (shingle)),
    ji AS (SELECT be2.doc_id AS doc_id, ce2.doc_id AS dup_of,
                  be2.sz AS bs, ce2.sz AS cs, CAST(COUNT(*) AS BIGINT) AS inter
           FROM be2 JOIN ce2 USING (shingle) GROUP BY 1, 2, 3, 4),
    sc AS (SELECT doc_id, dup_of,
                  ROUND(inter / CAST(bs + cs - inter AS DOUBLE), 6) AS jaccard
           FROM ji
           WHERE ROUND(inter / CAST(bs + cs - inter AS DOUBLE), 6) >= 0.5),
    rr AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                        ORDER BY jaccard DESC, dup_of ASC) AS rn FROM sc)
    SELECT doc_id, dup_of, jaccard FROM rr WHERE rn = 1
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: the newest 20% of documents (by id — the
    nightly batch) near-dup-checked against the existing 80% corpus,
    batch×corpus candidates only (cost scales with the batch, never
    corpus²). The 80% boundary enters the plan as a ONE-ROW aggregate
    broadcast (same lazy shape as ``heavy_hitters``' threshold N) — no
    action runs at plan-build time; real incremental callers pass their
    known watermark as explicit ``filter`` predicates instead."""
    from dopams_etl_spark.operators.dedup import dedup_against_corpus

    docs = t(spark, sf_dir, "documents")
    bound = docs.agg(
        (F.lit(0.8) * (F.max("doc_id") + F.lit(1))).cast("bigint").alias("__cut")
    )
    with_cut = docs.crossJoin(F.broadcast(bound))
    batch = with_cut.filter(F.col("doc_id") >= F.col("__cut")).drop("__cut")
    corpus = with_cut.filter(F.col("doc_id") < F.col("__cut")).drop("__cut")
    return dedup_against_corpus(
        batch, corpus, "doc_id", "text", shingle_n=3, threshold=0.5, max_df=50
    ).select(F.col("id").alias("doc_id"), "dup_of", "jaccard")


@register(
    "doc_pii_redact",
    r"""
    WITH a AS (
      SELECT doc_id, text
        || CASE WHEN doc_id % 3 = 0
                THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                ELSE '' END
        || CASE WHEN doc_id % 4 = 0
                THEN ' call (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                ELSE '' END
        || CASE WHEN doc_id % 7 = 0
                THEN ' id 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                ELSE '' END AS txt
      FROM documents)
    SELECT doc_id,
      CAST(len(regexp_extract_all(txt, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INT)
        AS n_email,
      CAST(len(regexp_extract_all(txt, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS INT) AS n_ssn,
      CAST(len(regexp_extract_all(txt, '\([0-9]{3}\) [0-9]{3}-[0-9]{4}')) AS INT) AS n_phone,
      md5(regexp_replace(regexp_replace(regexp_replace(txt,
            '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
            '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
            '\([0-9]{3}\) [0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
    FROM a
    """,
)
def doc_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus PII scrub: per-type span counts + typed-placeholder
    redaction (md5 of the redacted text proves byte-for-byte equality).
    The synthetic corpus has no PII, so deterministic emails/phones/SSNs
    are appended from doc_id (same synthesis in the oracle — the
    events-table ``_synth_status`` trick); the regexes are ASCII-classed
    and lookahead-free so Java regex and RE2 agree span-for-span."""
    from dopams_etl_spark.functions.textfns import pii_count, redact_pii

    # r15 (guide §2.4): map-only regex scrub — spread (per-row ⇒ identical)
    docs = ensure_parallelism(t(spark, sf_dir, "documents"))
    did = F.col("doc_id")
    aug = docs.withColumn(
        "txt",
        F.concat(
            F.col("text"),
            F.when(did % 3 == 0,
                   F.concat(F.lit(" contact user"), did.cast("string"),
                            F.lit("@example.com now"))).otherwise(F.lit("")),
            F.when(did % 4 == 0,
                   F.concat(F.lit(" call (555) 010-"),
                            F.lpad((did % 10000).cast("string"), 4, "0"))).otherwise(F.lit("")),
            F.when(did % 7 == 0,
                   F.concat(F.lit(" id 123-45-"),
                            F.lpad((did % 10000).cast("string"), 4, "0"))).otherwise(F.lit("")),
        ),
    )
    return aug.select(
        "doc_id",
        pii_count("txt", "email").cast("int").alias("n_email"),
        pii_count("txt", "ssn").cast("int").alias("n_ssn"),
        pii_count("txt", "phone").cast("int").alias("n_phone"),
        F.md5(redact_pii("txt")).alias("redacted_md5"),
    )


@register(
    "doc_repetition_stats",
    r"""
    WITH b AS (SELECT doc_id,
                      -- NULL text scores like an empty doc (0 tokens)
                      CASE WHEN text IS NULL OR trim(text) = '' THEN []
                           ELSE string_split_regex(lower(trim(text)), '\s+') END AS tk
               FROM documents),
    nn AS (SELECT doc_id, tk, len(tk) AS n FROM b),
    g2 AS (SELECT doc_id, n,
                  unnest(list_transform(range(1, n), i -> tk[i] || ' ' || tk[i+1])) AS gram
           FROM nn WHERE n >= 2),
    c2 AS (SELECT doc_id, MAX(cnt) AS mc, MAX(n) AS n
           FROM (SELECT doc_id, n, gram, COUNT(*) AS cnt FROM g2 GROUP BY 1, 2, 3)
           GROUP BY doc_id),
    g5 AS (SELECT doc_id, n, i AS pos,
                  tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4]
                    AS gram
           FROM (SELECT doc_id, n, tk, unnest(range(1, n - 3)) AS i FROM nn WHERE n >= 5)),
    d5 AS (SELECT doc_id, n, pos
           FROM (SELECT *, COUNT(*) OVER (PARTITION BY doc_id, gram) AS cnt FROM g5)
           WHERE cnt >= 2),
    cov AS (SELECT doc_id, MAX(n) AS n, COUNT(DISTINCT p) AS covered
            FROM (SELECT doc_id, n, unnest(range(pos, pos + 5)) AS p FROM d5)
            GROUP BY doc_id)
    SELECT nn.doc_id,
           CAST(nn.n AS INT) AS n_tokens,
           -- explicit NULL guard: DuckDB's LEAST IGNORES a NULL arg
           -- (LEAST(1.0, NULL) = 1.0), so a gram-less doc needs the CASE
           CASE WHEN c2.mc IS NULL THEN 0.0
                ELSE ROUND(LEAST(1.0, c2.mc * 2.0 / nn.n), 6) END AS top2_frac,
           COALESCE(ROUND(cov.covered / CAST(nn.n AS DOUBLE), 6), 0.0) AS dup5_frac
    FROM nn LEFT JOIN c2 USING (doc_id) LEFT JOIN cov USING (doc_id)
    """,
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, Table A1): most-
    common-2-gram coverage and duplicated-5-gram positional coverage per
    document — the boilerplate/spam signal of a training-corpus pipeline.
    Exact interval union for dup5 (explode→distinct), capped overcount for
    top2, mirrored term-for-term in the oracle."""
    from dopams_etl_spark.operators.quality import repetition_stats

    docs = t(spark, sf_dir, "documents")
    return repetition_stats(docs, "doc_id", "text").select(
        F.col("id").alias("doc_id"), "n_tokens", "top2_frac", "dup5_frac"
    )


@register(
    "training_corpus_build",
    r"""
    WITH b AS (
      SELECT doc_id, text,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS n,
             CASE WHEN length(text) > 0
                  THEN (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')))
                       / CAST(length(text) AS DOUBLE)
                  ELSE 0.0 END AS pr,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                             x -> x IN ({en}))) AS sh,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ({de}))) AS h_de,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ({es}))) AS h_es,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ({fr}))) AS h_fr
      FROM documents),
    s AS (SELECT doc_id, text, n, sh,
                 0.4 * (CASE WHEN n >= 20 AND n <= 10000 THEN 1.0 WHEN n > 0 THEN 0.5 ELSE 0.0 END)
                 + 0.3 * (1.0 - least(1.0, pr * 4.0))
                 + 0.3 * least(1.0, CASE WHEN n > 0 THEN sh / CAST(n AS DOUBLE) ELSE 0.0 END * 5.0)
                   AS quality,
                 CASE WHEN greatest(h_de, sh, h_es, h_fr) <= 0 THEN 'und'
                      WHEN h_de = greatest(h_de, sh, h_es, h_fr) THEN 'de'
                      WHEN sh = greatest(h_de, sh, h_es, h_fr) THEN 'en'
                      WHEN h_es = greatest(h_de, sh, h_es, h_fr) THEN 'es'
                      WHEN h_fr = greatest(h_de, sh, h_es, h_fr) THEN 'fr'
                      ELSE 'und' END AS pred_lang
          FROM b),
    kept AS (SELECT * FROM s WHERE quality >= 0.7 AND pred_lang = 'en'),
    d AS (SELECT *, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp FROM kept),
    r AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn,
                 CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT) AS dup_count
          FROM d)
    SELECT doc_id, fp, dup_count, CAST(n AS INT) AS n_tokens, quality
    FROM r WHERE rn = 1
    """.replace("{en}", _STOP_EN).replace("{de}", _STOP_DE)
       .replace("{es}", _STOP_ES).replace("{fr}", _STOP_FR),
)
def training_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-star training-data pipeline as ONE composed job:
    quality-score filter (C4-style composite ≥ 0.7) → language filter
    (heuristic lang-ID = 'en') → exact dedup (fingerprint groupBy, keep
    lowest doc_id) → per-doc corpus stats. Everything is JVM expressions +
    one window over the fingerprint — the filters run BEFORE the dedup
    shuffle, so at 100 TB the exchange only carries surviving documents."""
    docs = t(spark, sf_dir, "documents")
    # r15 (guide §2.4): the quality/lang scoring is map-side work ahead
    # of the dedup exchange — spread the one-row-group scan so it isn't
    # pinned to one task. Per-row deterministic ⇒ identical results.
    from dopams_etl_spark.partitioning import ensure_parallelism

    docs = ensure_parallelism(docs)
    kept = docs.withColumn("quality", quality_score("text")).withColumn(
        "pred_lang", lang_id("text")
    ).filter((F.col("quality") >= 0.7) & (F.col("pred_lang") == "en"))
    deduped = exact_dedup(kept, "text", "doc_id")
    return deduped.select(
        "doc_id", "fp", "dup_count", token_count("text").cast("int").alias("n_tokens"),
        "quality",
    )


@register(
    "decontaminate_docs",
    r"""
    WITH tk AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h, trim(text) AS tt,
                       string_split_regex(lower(trim(text)), '\s+') AS toks
                FROM documents),
    -- tt IS NULL handled like blank (r13 nullhalf census): NULL text
    -- produces NO shingles; the engine's concat_ws-over-NULL otherwise
    -- manufactures a '' shingle the oracle never sees
    s AS (SELECT doc_id, h,
                 CASE WHEN tt IS NULL OR tt = '' THEN CAST([] AS VARCHAR[])
                      WHEN len(toks) >= 3
                      THEN list_distinct(list_transform(range(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                      ELSE [array_to_string(toks, ' ')] END AS sh
          FROM tk),
    bench AS (SELECT DISTINCT unnest(sh) AS shingle FROM s WHERE h LIKE '0%'),
    corp AS (SELECT doc_id, sh FROM s WHERE h NOT LIKE '0%'),
    e AS (SELECT doc_id, unnest(sh) AS shingle FROM corp),
    hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS overlap_ngrams
             FROM e JOIN bench USING (shingle) GROUP BY doc_id)
    SELECT c.doc_id, COALESCE(ht.overlap_ngrams, 0) AS overlap_ngrams,
           COALESCE(ht.overlap_ngrams, 0) >= 1 AS contaminated
    FROM corp c LEFT JOIN hits ht USING (doc_id)
    """,
)
def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: the eval split is the ~1/16 of documents
    whose ``md5(doc_id)`` starts with '0' (a stand-in for a real benchmark
    table); every remaining document is flagged if it shares any word
    3-gram with the eval set. The eval shingle set is broadcast — it is
    MB-scale at ANY corpus size — so the corpus side never shuffles its
    rows (see ``operators.dedup.decontaminate``)."""
    from dopams_etl_spark.operators.dedup import decontaminate

    docs = t(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    bench = docs.filter(h.startswith("0"))
    corpus = docs.filter(~h.startswith("0"))
    return (
        decontaminate(corpus, bench, "doc_id", "text", shingle_n=3, min_hits=1)
        .select(F.col("id").alias("doc_id"), "overlap_ngrams", "contaminated")
    )


@register(
    "semantic_dedup_embeddings",
    ann_notnull("""
    WITH base AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(embedding::DOUBLE[], (x, i) -> x * (1.0 + ((i - 1) % 7) * 0.002))
      FROM embeddings),
    cents AS (SELECT id AS cid, v AS cv FROM base
              ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 16),
    cassign AS (
      SELECT b.id, b.v,
             (SELECT cid FROM cents
               ORDER BY -(list_dot_product(b.v, cents.cv)
                          / (sqrt(list_dot_product(b.v, b.v))
                             * sqrt(list_dot_product(cents.cv, cents.cv)))) ASC, cid ASC
               LIMIT 1) AS cell
      FROM base b),
    dropped AS (
      SELECT DISTINCT a.id
      FROM cassign a JOIN cassign b2 ON a.cell = b2.cell AND b2.id < a.id
      WHERE ROUND(list_dot_product(a.v, b2.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b2.v, b2.v))), 6) >= 0.99)
    SELECT c.id, c.cell, (d.id IS NULL) AS keep
    FROM cassign c LEFT JOIN dropped d ON d.id = c.id
    """),
)
def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embedding corpus augmented with deterministic
    perturbed copies (id + 1e6, cosine ~0.99999 to their source — the
    same recall-exercising augmentation as ``embedding_near_dup_pairs``):
    every perturbed copy that lands in its source's cell must be dropped
    (keep = false), originals survive. Oracle replicates the md5-seeded
    quantizer, the (-cos, cid) assignment tie-break, and the
    lower-id-neighbor EXISTS rule bit-for-bit."""
    from dopams_etl_spark.operators.similarity import semantic_dedup

    emb = t(spark, sf_dir, "embeddings")
    perturbed = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x * (1.0 + (i % 7) * 0.002)
        ).alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(perturbed)
    return semantic_dedup(corpus, "vec_id", "embedding", threshold=0.99, n_centroids=16)


@register(
    "domain_cap_docs",
    """
    WITH r AS (SELECT doc_id, source,
                      row_number() OVER (PARTITION BY source
                                         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                        AS sample_rank
               FROM documents)
    SELECT doc_id, source, CAST(sample_rank AS INT) AS sample_rank
    FROM r WHERE sample_rank <= 100
    """,
)
def domain_cap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap (CommonCrawl-style curation: no single source may
    contribute more than N documents): deterministic uniform choice WITHIN
    each source by md5(doc_id) order — reproducible across runs, engines,
    and partitionings, unlike rand()-ranked sampling. One window shuffle
    keyed by source; the md5 rank order means a two-stage top-N (partial
    per-partition top-N before the final window — Spark's TakeOrdered
    shape) bounds a hot domain's skew at scale."""
    docs = t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("sample_rank"))
        .filter(F.col("sample_rank") <= 100)
    )


# Shared by bm25_search_docs and hybrid_search_docs (its first stage) so
# the two oracles cannot drift: postings, document frequencies, exact-int
# avgdl, Lucene-style idf, deterministic (score DESC, doc ASC) ranking.
_BM25_CTES = r"""base AS (SELECT doc_id AS doc,
                         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                              ELSE string_split_regex(lower(trim(text)), '\s+') END AS tk
                  FROM documents),
    b2 AS (SELECT doc, tk, len(tk) AS dl FROM base),
    postings AS (SELECT doc, dl, tok AS term, CAST(COUNT(*) AS BIGINT) AS tf
                 FROM (SELECT doc, dl, unnest(tk) AS tok FROM b2)
                 GROUP BY doc, dl, term),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dl) AS BIGINT) AS sum_dl FROM b2),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM postings GROUP BY term),
    q(query_id, term) AS (VALUES
        (1, 'spark'), (1, 'batch'), (1, 'stream'),
        (2, 'window'), (2, 'merge'), (2, 'sort'),
        (3, 'customer'), (3, 'vector'), (3, 'quality')),
    scored AS (
      SELECT q.query_id, p.doc,
             ROUND(SUM(ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                       * (p.tf * 2.2) / (p.tf + 1.2 * (0.25 + 0.75 * p.dl
                                         / (s.sum_dl::DOUBLE / s.n_docs)))), 6) AS score
      FROM postings p JOIN dfreq d USING (term) JOIN q ON q.term = p.term
      CROSS JOIN stats s
      GROUP BY q.query_id, p.doc),
    r AS (SELECT query_id, doc AS doc_id, score,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, doc ASC) AS rank
          FROM scored)"""


@register(
    "bm25_search_docs",
    "WITH "
    + _BM25_CTES
    + """
    SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 10
    """,
)
def bm25_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked full-text retrieval (BM25 inverted index) over the document
    corpus for three probe queries — the targeted-sampling / eval-set
    construction primitive of a training-data pipeline. The oracle
    recomputes the whole index (postings, document frequencies, exact-int
    avgdl) and the Lucene-style idf in SQL; scores round to 6 and rank
    ties break on doc_id, so the top-10 lists are engine-portable. See
    ``operators/search.py`` for the 100 TB shape (probe side broadcast,
    postings reusable across query batches)."""
    from dopams_etl_spark.operators.search import bm25_topk

    docs = t(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        [(1, "spark batch stream"), (2, "window merge sort"),
         (3, "customer vector quality")],
        ["query_id", "query_text"],
    )
    out = bm25_topk(docs, queries, "doc_id", "text", k=10)
    return out.withColumn("rank", F.col("rank").cast("int"))


@register(
    "hybrid_search_docs",
    "WITH "
    + _BM25_CTES
    + """,
    cand AS (SELECT query_id, doc_id, score FROM r WHERE rank <= 20),
    qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
           FROM embeddings WHERE vec_id IN (1, 2, 3)),
    cvt AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS cvec FROM embeddings),
    -- + 0.0 canonicalizes IEEE -0.0 (cosine is sign-indefinite on these
    -- vectors, and a negative cos_sim can pull the blend below zero)
    sc AS (SELECT c.query_id, c.doc_id, c.score,
                  ROUND(list_dot_product(qvec, cvec)
                        / (sqrt(list_dot_product(qvec, qvec))
                           * sqrt(list_dot_product(cvec, cvec))), 6) + 0.0
                    AS cos_sim,
                  MAX(c.score) OVER (PARTITION BY c.query_id) AS smax
           FROM cand c JOIN cvt USING (doc_id) JOIN qv USING (query_id)),
    h AS (SELECT query_id, doc_id, score AS bm25_score, cos_sim,
                 ROUND(0.5 * score / smax + 0.5 * cos_sim, 6) + 0.0
                   AS hybrid_score
          FROM sc),
    rr AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                        ORDER BY hybrid_score DESC, doc_id ASC) AS rank
           FROM h)
    SELECT query_id, doc_id, bm25_score, cos_sim, hybrid_score,
           CAST(rank AS INT) AS rank
    FROM rr WHERE rank <= 10
    """,
)
def hybrid_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage hybrid retrieval (the standard curation/eval-set search
    stack): BM25 recalls top-20 lexical candidates per query, an
    embedding cosine re-rank against the query vector (here the probe
    doc's own embedding — deterministic, no model in the loop) blends
    50/50 with the max-normalized BM25 score, and the fused top-10 is
    emitted. The re-rank join touches ONLY the candidate set — at 100 TB
    the expensive vector math runs on |queries|×20 rows, never the
    corpus; the corpus-scale work stays in the inverted index (see
    ``bm25_search_docs``) and, for vector-first recall, ``lsh_topk``."""
    from pyspark.sql import Window

    from dopams_etl_spark.operators.search import bm25_topk
    from dopams_etl_spark.operators.similarity import cosine

    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    queries = spark.createDataFrame(
        [(1, "spark batch stream"), (2, "window merge sort"),
         (3, "customer vector quality")],
        ["query_id", "query_text"],
    )
    cand = bm25_topk(docs, queries, "doc_id", "text", k=20).drop("rank")
    qv = emb.filter(F.col("vec_id").isin(1, 2, 3)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    cv = emb.select(F.col("vec_id").alias("doc_id"), F.col("embedding").alias("cvec"))
    scored = (
        cand.join(cv, "doc_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cos_sim", F.round(cosine("qvec", "cvec"), 6) + 0.0)
        .withColumn(
            "smax", F.max("score").over(Window.partitionBy("query_id"))
        )
        .withColumn(
            "hybrid_score",
            F.round(
                0.5 * F.col("score") / F.col("smax") + 0.5 * F.col("cos_sim"),
                6,
            )
            + 0.0,
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("hybrid_score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id", "doc_id",
            F.col("score").alias("bm25_score"),
            "cos_sim", "hybrid_score", "rank",
        )
    )


@register(
    "lm_perplexity_docs",
    r"""
    WITH base AS (SELECT doc_id AS id,
                         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                              ELSE string_split_regex(lower(trim(text)), '\s+') END AS tk
                  FROM documents),
    b2 AS (SELECT id, tk, len(tk) AS n FROM base),
    pos AS (SELECT id,
                   unnest(list_transform(range(1, n),
                          i -> struct_pack(w1 := tk[i], w2 := tk[i + 1]))) AS bg
            FROM b2 WHERE n >= 2),
    p2 AS (SELECT id, bg.w1 AS w1, bg.w2 AS w2 FROM pos),
    unigrams AS (SELECT tok AS w1, CAST(COUNT(*) AS BIGINT) AS c1
                 FROM (SELECT unnest(tk) AS tok FROM b2) GROUP BY tok),
    vocab AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM unigrams),
    bigrams AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
                FROM p2 GROUP BY w1, w2),
    scored AS (
      SELECT p2.id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             -- + 0.0 canonicalizes IEEE -0.0 (sign-indefinite near zero)
             ROUND(AVG(ln((bigrams.c2 + 1.0) / (unigrams.c1 + vocab.v))), 6) + 0.0
               AS avg_ll,
             ROUND(exp(-AVG(ln((bigrams.c2 + 1.0) / (unigrams.c1 + vocab.v)))), 6)
               AS ppl_proxy
      FROM p2 JOIN bigrams USING (w1, w2) JOIN unigrams USING (w1)
      CROSS JOIN vocab
      GROUP BY p2.id)
    SELECT b2.id AS doc_id, COALESCE(s.n_bigrams, 0) AS n_bigrams,
           s.avg_ll, s.ppl_proxy
    FROM b2 LEFT JOIN scored s USING (id)
    """,
)
def lm_perplexity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM perplexity proxy per document (the
    CCNet-style "rank training data by how typical it is" signal). Model
    training (unigram/bigram count tables + vocab size) and scoring run
    in one plan; the oracle retrains the same add-one-smoothed model in
    SQL. Sub-2-token documents carry NULL scores on both sides."""
    from dopams_etl_spark.operators.quality import lm_score

    docs = t(spark, sf_dir, "documents")
    return lm_score(docs, "doc_id", "text").withColumnRenamed("id", "doc_id")


@register(
    "vocab_coverage",
    r"""
    WITH tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
                FROM documents WHERE trim(text) <> ''),
    w AS (SELECT doc_id, unnest(toks) AS w FROM tk),
    vc AS (SELECT w, COUNT(*) AS n FROM w GROUP BY w),
    vocab AS (SELECT w FROM vc ORDER BY n DESC, w LIMIT 200),
    cov AS (SELECT t.doc_id, COUNT(*) AS n_tokens,
                   SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS n_oov
            FROM w t LEFT JOIN vocab v ON v.w = t.w GROUP BY t.doc_id)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_oov AS BIGINT) AS n_oov,
           ROUND(n_oov / CAST(n_tokens AS DOUBLE), 6) AS oov_rate
    FROM cov
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference (tokenizer-prep surface): corpus-frequency vocab
    induction (top-200 words, count-then-word tie-break so the boundary
    is deterministic) + per-doc out-of-vocabulary rate. Two aggregations:
    word counts shuffle on the word, the top-K is a bounded global
    TakeOrdered (K rows survive regardless of corpus size), and the
    coverage join broadcasts that K-row vocab — the corpus-side token
    stream is never reshuffled, so the plan scales with corpus size ×
    K only."""
    from dopams_etl_spark.functions.textfns import tokens

    docs = t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("w"))
    vc = tok.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    vocab = (
        vc.orderBy(F.desc("n"), F.asc("w"))
        .limit(200)
        .select("w", F.lit(1).alias("__v"))
    )
    cov = (
        tok.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("__v").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
    )
    return cov.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_oov").cast("long").alias("n_oov"),
        F.round(F.col("n_oov") / F.col("n_tokens").cast("double"), 6).alias("oov_rate"),
    )


@register(
    "doc_quality_model_score",
    r"""
    WITH w AS (SELECT __WEIGHTS__ AS wt),
    s AS (SELECT doc_id,
                 list_transform(string_split_regex(lower(trim(text)), '\s+'),
                   tk -> wt[CAST(('0x' || substr(md5(tk), 1, 8))::BIGINT % 64 AS INT) + 1])
                   AS ws
          FROM documents, w
          WHERE trim(text) <> '')
    SELECT doc_id,
           ROUND(1.0 / (1.0 + exp(-(list_sum(ws) / len(ws)))), 6) AS quality_score
    FROM s
    """.replace(
        "__WEIGHTS__",
        "[" + ",".join(repr(w) for w in hashed_model_weights()) + "]",
    ),
)
def doc_quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: hashed-feature linear-model inference as a pure
    column expression (fastText-shaped quality classifier; the reference's
    closest analog is the LLM-scored quality gate, ``extractor_drugs.py``
    commercial-threshold scoring). The 64-bucket weight table inlines as
    an array literal — no join, no UDF, no shuffle; per-token md5
    bucketing replicates in the SQL oracle, which carries the identical
    weight list. At 100 TB this is a map-only scan."""
    from dopams_etl_spark.functions.textfns import hashed_model_score

    # r15 (guide §2.4): map-only inference — spread (per-row ⇒ identical)
    docs = ensure_parallelism(
        t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    )
    return docs.select(
        "doc_id", F.round(hashed_model_score("text"), 6).alias("quality_score")
    )


@register(
    "pack_training_sequences",
    r"""
    WITH RECURSIVE src AS (
      SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT % 16 AS shard,
             doc_id,
             -- COALESCE 0 (r14 nullhalf census): a NULL text packs as
             -- zero tokens on both engines (operators/packing.py)
             COALESCE(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(lower(trim(text)), '\s+')) END, 0) AS tok
      FROM documents),
    d AS (SELECT shard, doc_id, tok,
                 ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
          FROM src),
    nf(shard, rn, doc_id, tok, bin, fill) AS (
      SELECT shard, rn, doc_id, tok, 1, tok FROM d WHERE rn = 1
      UNION ALL
      SELECT d.shard, d.rn, d.doc_id, d.tok,
             CASE WHEN nf.fill + d.tok <= 256 THEN nf.bin ELSE nf.bin + 1 END,
             CASE WHEN nf.fill + d.tok <= 256 THEN nf.fill + d.tok ELSE d.tok END
      FROM nf JOIN d ON d.shard = nf.shard AND d.rn = nf.rn + 1)
    SELECT shard, CAST(bin AS INT) AS seq_num,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS seq_tokens,
           '[' || array_to_string(list(doc_id ORDER BY doc_id), ',') || ']' AS doc_ids
    FROM nf GROUP BY shard, bin
    """,
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: next-fit packing of whole documents into
    256-token training sequences within 16 md5-derived shards
    (``operators/packing.py``). The sequential fold runs as ONE
    Arrow-batched applyInPandas per shard over a skinny (shard, id, tok)
    projection — token counting stays JVM-side; the oracle replays the
    identical fold with a recursive CTE, so bin boundaries (not just
    totals) are value-checked."""
    from dopams_etl_spark.operators.packing import pack_sequences

    docs = t(spark, sf_dir, "documents").withColumn("__tok", token_count("text"))
    return pack_sequences(docs, "doc_id", "__tok", budget=256, shards=16)


@register(
    "hard_negative_mining",
    ann_notnull("""
    WITH p AS (SELECT vec_id AS p_id, label AS p_lbl, embedding::DOUBLE[] AS pv
               FROM embeddings WHERE vec_id < 20),
    c AS (SELECT vec_id AS c_id, label AS c_lbl, embedding::DOUBLE[] AS cv
          FROM embeddings),
    s AS (SELECT p_id, c_id,
                 ROUND(list_dot_product(pv, cv)
                       / (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv))), 6)
                   AS cos_sim
          FROM p JOIN c ON p_id <> c_id AND p_lbl IS DISTINCT FROM c_lbl),
    r AS (SELECT *, row_number() OVER (PARTITION BY p_id
                                       ORDER BY cos_sim DESC, c_id ASC) AS rn FROM s)
    SELECT p_id, c_id, cos_sim, CAST(rn AS INT) AS rank FROM r WHERE rn <= 3
    """),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training data prep (beyond-reference): for each probe,
    the top-3 most-similar vectors with a DIFFERENT label — the classic
    hard negatives (similar embedding, wrong class) that make retrieval/
    classifier training data informative. Same size-gated broadcast
    cosine as the exact ANN baseline plus a null-safe label-inequality
    predicate (``exclude_same``); at corpus scale the identical predicate
    composes with ``lsh_topk``'s bucketed join instead."""
    emb = t(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") < 20)
    return cosine_topk(
        probe, emb, "vec_id", "vec_id", "embedding", k=3, exclude_same="label"
    )


@register(
    "bpe_merge_pair_counts",
    r"""
    WITH words AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      FROM documents WHERE trim(text) <> ''),
    wf AS (SELECT w, COUNT(*) AS freq FROM words WHERE len(w) > 1 GROUP BY w),
    pairs AS (
      SELECT substr(w, i, 1) || '|' || substr(w, i + 1, 1) AS pair, freq
      FROM wf, LATERAL (SELECT unnest(range(1, len(w))) AS i)),
    agg AS (SELECT pair, CAST(SUM(freq) AS BIGINT) AS n FROM pairs GROUP BY pair)
    SELECT pair, n FROM agg ORDER BY n DESC, pair LIMIT 20
    """,
)
def bpe_merge_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training iteration at corpus scale (beyond-reference,
    tokenizer-induction surface): count adjacent character pairs weighted
    by word frequency — the statistic whose argmax IS the next BPE merge.
    Two cheap aggregations: word counts first (the corpus token stream
    collapses to the vocabulary before any per-character work — pair
    explosion runs over DISTINCT words, orders of magnitude smaller),
    then char-pair explode via a sequence transform, weighted sum, and a
    bounded top-20. Full BPE training = this op in a short driver loop
    with the merge applied between iterations."""
    from dopams_etl_spark.functions.textfns import tokens

    docs = t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    words = docs.select(F.explode(tokens("text")).alias("w")).filter(F.length("w") > 1)
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    pairs = wf.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.concat_ws(
                    "|",
                    F.col("w").substr(i, F.lit(1)),
                    F.col("w").substr(i + 1, F.lit(1)),
                ),
            )
        ).alias("pair"),
        "freq",
    )
    agg = pairs.groupBy("pair").agg(F.sum("freq").cast("long").alias("n"))
    return agg.orderBy(F.desc("n"), F.asc("pair")).limit(20)


def _bpe_stages(n_merges: int, final_state: bool) -> str:
    """Shared CTE chain for the unrolled DuckDB restatement of
    ``operators/bpe.py``: the iterative training loop becomes ``n_merges``
    stages. Per stage: adjacent-pair weighted count, argmax with the same
    (n DESC, a ASC, b ASC) tie-break, then the greedy left-to-right merge
    fold via ``list_reduce`` whose accumulator is the space-joined symbol
    string (symbols never contain whitespace — words come from a ``\\s+``
    split — so the space delimiter is collision-free). Verified fold
    parity: [b,b,b,b] + merge (b,b) → [bb, bb] on both engines. With
    ``final_state`` the chain also materializes s{n} — the vocabulary with
    all n merges applied, i.e. the ENCODED vocab."""
    parts = [
        r"""WITH words AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      FROM documents WHERE trim(text) <> ''),
    s0 AS (SELECT w, string_split(w, '') AS sym, COUNT(*) AS freq
           FROM words WHERE len(w) >= 1 GROUP BY w)"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f"""    p{i} AS (
      SELECT s.sym[CAST(j AS INT)] AS a, s.sym[CAST(j + 1 AS INT)] AS b,
             SUM(freq) AS n
      FROM s{i - 1} s, LATERAL (SELECT unnest(range(1, len(s.sym))) AS j)
      GROUP BY 1, 2),
    m{i} AS (SELECT CAST({i - 1} AS INT) AS merge_idx, a, b,
                    CAST(n AS BIGINT) AS n
             FROM p{i} ORDER BY n DESC, a ASC, b ASC LIMIT 1)"""
        )
        if i < n_merges or final_state:
            # LEFT JOIN (not cross join) so an exhausted corpus — m{i}
            # empty because no pairs remain — leaves the vocabulary
            # unmerged instead of wiping it, matching bpe_train's early
            # stop; the NULL-guard makes the fold a no-op in that case.
            parts.append(
                f"""    s{i} AS (
      SELECT w, string_split(list_reduce(s.sym, (acc, x) ->
               CASE WHEN m.a IS NOT NULL AND x = m.b
                         AND (acc = m.a OR ends_with(acc, ' ' || m.a))
                    THEN substr(acc, 1, len(acc) - len(m.a)) || m.a || m.b
                    ELSE acc || ' ' || x END), ' ') AS sym, freq
      FROM s{i - 1} s LEFT JOIN m{i} m ON TRUE)"""
            )
    return ",\n".join(parts)


def _bpe_merges_oracle(n_merges: int) -> str:
    union = "\n    UNION ALL ".join(
        f"SELECT * FROM m{i}" for i in range(1, n_merges + 1)
    )
    return _bpe_stages(n_merges, final_state=False) + f"\n    {union}"


def _bpe_encode_oracle(n_merges: int) -> str:
    return (
        _bpe_stages(n_merges, final_state=True)
        + f""",
    enc AS (SELECT w, len(sym) AS n_sym FROM s{n_merges}),
    docw AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
      FROM documents WHERE trim(text) <> '')
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(n_sym) AS BIGINT) AS n_symbols
    FROM docw JOIN enc USING (w)
    GROUP BY doc_id"""
    )


@register("bpe_learned_merges", _bpe_merges_oracle(8))
def bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE tokenizer training (beyond-reference; companion to the
    single-iteration oracled ``bpe_merge_pair_counts``): 8 greedy merges
    learned over the documents corpus — per iteration one vocabulary-sized
    pair count plus a one-row argmax collect, lineage truncated with
    localCheckpoint (``operators/bpe.py``). Deterministic tie-break makes
    the merge sequence reproducible; value-checked against an unrolled
    8-stage DuckDB restatement of the same loop (``_bpe_merges_oracle``),
    with the independent pure-Python reference in tests/test_bpe.py as a
    second ground truth."""
    from dopams_etl_spark.operators.bpe import bpe_train

    docs = t(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", n_merges=8)
    return spark.createDataFrame(
        [(i, a, b, n) for i, (a, b, n) in enumerate(merges)],
        "merge_idx int, a string, b string, n long",
    )


@register(
    "train_val_test_split",
    _fill_split("""
    WITH u AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END AS n_tok,
             __SPLIT_V__ AS v
      FROM documents),
    a AS (SELECT doc_id, n_tok,
                 CASE WHEN v < __TRAIN_CUT__ THEN 'train'
                      WHEN v < __VAL_CUT__ THEN 'val'
                      ELSE 'test' END AS split
          FROM u)
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM a GROUP BY split
    """),
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus splitting (train/val/test 80/10/10): md5-keyed
    32-bit uniform with exact-integer thresholds
    (``operators/quality.py:assign_split``) — a pure function of
    (salt, id), so the split is stable across runs, partitionings,
    engines, AND corpus growth (new docs route without moving old ones;
    a seeded ``randomSplit`` guarantees none of those). The per-split
    doc/token totals here are the mixture report a training run logs."""
    from dopams_etl_spark.functions.textfns import token_count
    from dopams_etl_spark.operators.quality import assign_split

    docs = t(spark, sf_dir, "documents")
    return (
        assign_split(docs, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count("text")).cast("long").alias("n_tokens"),
        )
    )


@register(
    "shingle_containment_pairs",
    r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000,
             array_to_string(ws[1:CAST(ceil(len(ws) / 2.0) AS INT)], ' ')
      FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
            FROM documents WHERE trim(text) <> '')
      WHERE doc_id % 10 = 0),
    tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM corpus),
    s AS (SELECT doc_id,
                 CASE WHEN len(toks) >= 3
                      THEN list_distinct(list_transform(range(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                      WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                      ELSE [] END AS sh
          FROM tk),
    e AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS shingle FROM s WHERE len(sh) > 0),
    keep AS (SELECT shingle FROM e GROUP BY shingle HAVING COUNT(*) <= 50),
    e2 AS (SELECT e.* FROM e JOIN keep USING (shingle)),
    j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS size_a, b.sz AS size_b,
                 CAST(COUNT(*) AS BIGINT) AS inter
          FROM e2 a JOIN e2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4)
    SELECT id_a, id_b,
           ROUND(inter / CAST(size_a AS DOUBLE), 6) AS containment_a,
           ROUND(inter / CAST(size_b AS DOUBLE), 6) AS containment_b
    FROM j
    WHERE ROUND(inter / CAST(size_a AS DOUBLE), 6) >= 0.9
       OR ROUND(inter / CAST(size_b AS DOUBLE), 6) >= 0.9
    """,
)
def shingle_containment_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document duplication via Broder containment — the asymmetric
    coefficient Jaccard can't see (a doc embedded in a 10× larger one:
    J ≈ 0.1, containment 1.0 — the quote/excerpt case). The query plants
    half-length prefixes of every 10th doc as new rows, so the detected
    set provably contains the (original, excerpt) pairs at
    containment_b = 1.0. Same inverted-index + max_df skew discipline as
    ``ngram_jaccard_dups`` (``operators/dedup.py:shingle_containment_pairs``)."""
    from dopams_etl_spark.operators.dedup import shingle_containment_pairs

    docs = t(spark, sf_dir, "documents")
    ws = tokens("text")
    excerpts = (
        docs.filter((F.trim("text") != "") & (F.col("doc_id") % 10 == 0))
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.array_join(
                F.slice(ws, F.lit(1), F.ceil(F.size(ws) / 2.0).cast("int")), " "
            ).alias("text"),
        )
    )
    corpus = docs.select("doc_id", "text").unionByName(excerpts)
    return shingle_containment_pairs(
        corpus, "doc_id", "text", shingle_n=3, threshold=0.9, max_df=50
    )


@register(
    "repeated_ngram_spans",
    r"""
    WITH d AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
      FROM documents WHERE trim(text) <> ''),
    g AS (
      SELECT doc_id,
             md5(array_to_string(ws[CAST(i AS INT):CAST(i + 4 AS INT)], ' ')) AS span_h
      FROM d, LATERAL (SELECT unnest(range(1, len(ws) - 3)) AS i)
      WHERE len(ws) >= 5),
    dup AS (SELECT span_h FROM g GROUP BY span_h
            HAVING COUNT(DISTINCT doc_id) >= 2),
    j AS (SELECT g.doc_id, CASE WHEN dup.span_h IS NOT NULL THEN 1 END AS hit
          FROM g LEFT JOIN dup USING (span_h))
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(COUNT(hit) AS BIGINT) AS n_dup_spans,
           ROUND(COUNT(hit) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_ratio
    FROM j GROUP BY doc_id
    """,
)
def repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplicate detection (ExactSubstr-style, Lee et al. 2021):
    5-word spans appearing verbatim in >= 2 distinct documents mark every
    occurrence as duplicated text — the "which text is copied" signal the
    whole-document near-dup family can't localize. Plan: posexplode of
    md5 span hashes, distinct-doc-count per hash, tiny duplicated-hash
    set joined back, one per-doc re-aggregate
    (``operators/dedup.py:repeated_ngram_spans``)."""
    from dopams_etl_spark.operators.dedup import repeated_ngram_spans as spans_op

    docs = t(spark, sf_dir, "documents")
    return spans_op(docs, "doc_id", "text", span_words=5, min_docs=2).withColumnRenamed(
        "id", "doc_id"
    )


@register("bpe_encode_docs", _bpe_encode_oracle(4))
def bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENCODE half of the tokenizer loop (train → apply): tokenize the
    corpus with the first 4 learned merges and emit per-document word and
    post-merge symbol counts — the token budget the packing/chunking
    operators consume. The merge folds run over the DISTINCT vocabulary
    and one hash join rides the symbol counts back onto the token stream
    (``operators/bpe.py:bpe_encode_counts``); the oracle replays training
    AND encoding as one unrolled CTE chain (``_bpe_encode_oracle``)."""
    from dopams_etl_spark.operators.bpe import bpe_encode_counts, bpe_train

    docs = t(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", n_merges=4)
    return bpe_encode_counts(docs, "doc_id", "text", merges)


@register(
    "frame_dup_videos",
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text FROM documents WHERE doc_id % 20 = 0),
    vids AS (
      SELECT doc_id, text,
             strlen(text) % 7 + 1 AS n_frames,
             strlen(text) // (strlen(text) % 7 + 1) AS chunk
      FROM corpus),
    frames AS (
      SELECT doc_id,
             md5(substr(text, CAST(k * chunk + 1 AS INT), CAST(chunk AS INT))) AS frame_md5
      FROM vids, LATERAL (SELECT unnest(range(0, n_frames, 2)) AS k)),
    m AS (SELECT DISTINCT doc_id, frame_md5 FROM frames),
    df_cap AS (SELECT frame_md5 FROM m GROUP BY frame_md5
               HAVING COUNT(*) BETWEEN 2 AND 50),
    mc AS (SELECT m.doc_id, m.frame_md5 FROM m JOIN df_cap USING (frame_md5)),
    p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(COUNT(*) AS BIGINT) AS shared_frames
          FROM mc a JOIN mc b
            ON a.frame_md5 = b.frame_md5 AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
    SELECT doc_a, doc_b, shared_frames FROM p WHERE shared_frames >= 2
    """,
)
def frame_dup_videos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-video near-duplicate detection by frame content hash — the
    composed multimodal pipeline (frame sampling → content fingerprint →
    blocked pair join): videos sharing >= 2 identical sampled frames pair
    up. The join keys on frame_md5, so pairs only materialize within a
    frame-hash block (never across), and a document-frequency cap (<= 50
    videos per frame) bounds the worst block exactly like the n-gram
    shingle cap — a stock intro/outro frame shared by millions of videos
    would otherwise explode quadratically. Frame-accurate video dedup at
    scale is this plan with a real ffmpeg sampler plugged into
    ``sample_frames``. Re-uploads are planted deterministically (every
    20th video appears again under a shifted id) so the detector's output
    is a known non-empty pair set, not a vacuous empty match."""
    from dopams_etl_spark.operators.multimodal import sample_frames

    base = t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = base.unionByName(
        base.filter(F.col("doc_id") % 20 == 0).withColumn(
            "doc_id", F.col("doc_id") + 100000
        )
    )
    docs = corpus.withColumn("payload", F.encode("text", "UTF-8"))
    frames = sample_frames(docs, "doc_id", "payload", every_n=2)
    m = frames.select("doc_id", "frame_md5").distinct()
    cap = (
        m.groupBy("frame_md5")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= 50))
        .select("frame_md5")
    )
    mc = m.join(cap, "frame_md5")
    a, b = mc.alias("a"), mc.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.frame_md5") == F.col("b.frame_md5"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared_frames"))
        .filter(F.col("shared_frames") >= 2)
    )
    return pairs.select("doc_a", "doc_b", F.col("shared_frames").cast("long").alias("shared_frames"))


@register(
    "embedding_int8_quantize",
    ann_notnull("""
    -- per-ROW quantization, no self-join (dup2 census): a USING(vec_id)
    -- join fans out on a replayed/duplicated id where the engine's
    -- map-only pass emits one output per input row
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
    q AS (SELECT vec_id, ev,
                 list_min(ev) AS qmin,
                 (list_max(ev) - list_min(ev)) / 255.0 AS qscale
          FROM v),
    c AS (SELECT vec_id, qmin, qscale,
                 list_transform(ev, x -> CASE WHEN qscale > 0
                      THEN CAST(greatest(0, least(255,
                             CAST(floor((x - qmin) / qscale + 0.5) AS INT))) AS INT)
                      ELSE 0 END) AS codes,
                 ev
          FROM q),
    e AS (SELECT vec_id, qmin, qscale, codes,
                 list_sum(list_transform(range(1, len(ev) + 1),
                   i -> abs(ev[i] - (qmin + codes[i] * qscale)))) / len(ev) AS err
          FROM c)
    -- + 0.0 canonicalizes IEEE -0.0 (qmin is sign-indefinite)
    SELECT vec_id,
           ROUND(qmin, 6) + 0.0 AS qmin,
           ROUND(qscale, 6) AS qscale,
           md5(array_to_string(list_transform(codes, c -> CAST(c AS VARCHAR)), ','))
             AS codes_md5,
           ROUND(err, 6) AS mean_abs_err
    FROM e
    """),
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-store compression (beyond-reference): per-vector int8
    scalar quantization (FAISS SQ8 shape) as a map-only column-expression
    pass — 4x the embeddings per byte of ANN-tier storage/IO at 100 TB.
    The oracle recomputes codes with identical double-widened arithmetic
    and explicit floor(x+0.5) rounding (engine round() half-modes
    differ), value-checking the full code stream via md5 plus the
    reconstruction-error summary."""
    from dopams_etl_spark.operators.similarity import int8_quantize

    emb = t(spark, sf_dir, "embeddings")
    return int8_quantize(emb, "vec_id", "embedding")


@register(
    "perplexity_tiers",
    r"""
    WITH base AS (SELECT doc_id AS id,
                         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                              ELSE string_split_regex(lower(trim(text)), '\s+') END AS tk
                  FROM documents),
    b2 AS (SELECT id, tk, len(tk) AS n FROM base),
    pos AS (SELECT id,
                   unnest(list_transform(range(1, n),
                          i -> struct_pack(w1 := tk[i], w2 := tk[i + 1]))) AS bg
            FROM b2 WHERE n >= 2),
    p2 AS (SELECT id, bg.w1 AS w1, bg.w2 AS w2 FROM pos),
    unigrams AS (SELECT tok AS w1, CAST(COUNT(*) AS BIGINT) AS c1
                 FROM (SELECT unnest(tk) AS tok FROM b2) GROUP BY tok),
    vocab AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM unigrams),
    bigrams AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
                FROM p2 GROUP BY w1, w2),
    scored AS (
      SELECT p2.id,
             ROUND(exp(-AVG(ln((bigrams.c2 + 1.0) / (unigrams.c1 + vocab.v)))), 6)
               AS ppl
      FROM p2 JOIN bigrams USING (w1, w2) JOIN unigrams USING (w1)
      CROSS JOIN vocab
      GROUP BY p2.id),
    -- cut over the per-ROW population (dup2 census): a duplicated doc
    -- counts twice in the tercile boundaries, exactly as it does in the
    -- bigram counts and in the engine's per-row scored frame
    joined AS (SELECT b2.id, s.ppl
               FROM b2 LEFT JOIN scored s USING (id)),
    cut AS (SELECT quantile_cont(ppl, 0.3333) AS lo,
                   quantile_cont(ppl, 0.6667) AS hi
            FROM joined WHERE ppl IS NOT NULL)
    SELECT id AS doc_id,
           CASE WHEN ppl IS NULL THEN 'unscored'
                WHEN ppl <= cut.lo THEN 'head'
                WHEN ppl <= cut.hi THEN 'middle'
                ELSE 'tail' END AS tier,
           ppl AS ppl_proxy
    FROM joined CROSS JOIN cut
    """,
)
def perplexity_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail corpus partitioning: every document
    bucketed by its bigram-LM perplexity proxy against the corpus's own
    exact terciles. The tercile boundaries are a ONE-ROW global aggregate
    broadcast back across the corpus (the bounded scalar-crossjoin shape
    the plan invariants whitelist); at 100 TB swap the exact percentile
    for ``percentile_approx`` — same plan, sketch-sized state. Sub-2-token
    documents land in an explicit 'unscored' tier instead of biasing the
    cut points."""
    from dopams_etl_spark.operators.quality import lm_score

    docs = t(spark, sf_dir, "documents")
    # r15: lm_score spreads its token base internally (quality.py); a
    # query-level spread here measured neutral and only added exchanges.
    scored = lm_score(docs, "doc_id", "text").withColumnRenamed("id", "doc_id")
    cuts = scored.filter(F.col("ppl_proxy").isNotNull()).agg(
        F.percentile("ppl_proxy", F.lit(0.3333)).alias("lo"),
        F.percentile("ppl_proxy", F.lit(0.6667)).alias("hi"),
    )
    out = scored.crossJoin(cuts).select(
        "doc_id",
        F.when(F.col("ppl_proxy").isNull(), F.lit("unscored"))
        .when(F.col("ppl_proxy") <= F.col("lo"), F.lit("head"))
        .when(F.col("ppl_proxy") <= F.col("hi"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("tier"),
        "ppl_proxy",
    )
    return out


@register(
    "label_embedding_centroids",
    """
    WITH ex AS (
      SELECT label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i)
      WHERE embedding IS NOT NULL AND len(embedding) > 0),
    per_dim AS (
      SELECT label, dim, ROUND(AVG(x), 6) AS mean_x, COUNT(*) AS n_vecs
      FROM ex GROUP BY label, dim)
    SELECT label,
           CAST(MAX(n_vecs) AS BIGINT) AS n_vecs,
           string_agg(CAST(CAST(floor(mean_x * 1000000 + 0.5) AS BIGINT) AS VARCHAR),
                      ',' ORDER BY dim) AS centroid_micros
    FROM per_dim GROUP BY label
    """,
)
def label_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class mean-pooled embedding centroids
    (``operators/similarity.py:group_centroids``) — class prototypes /
    per-domain corpus centroids / IVF coarse-quantizer retraining. The
    plan posexplodes to (label, dim, x) and hash-aggregates on
    (label, dim) with map-side partials, then reassembles each centroid
    with a sorted struct-collect — all JVM, shuffle ≤ |labels|·dim rows
    per map task at any corpus size. For the value hash the centroid is
    emitted in fixed-point MICRO units (floor(x·1e6 + 0.5), half-up) —
    double→string formatting is engine-specific (Spark scientific
    notation vs DuckDB decimal) while integer micros are bit-portable;
    the operator itself returns real double arrays."""
    from dopams_etl_spark.operators.similarity import group_centroids

    emb = t(spark, sf_dir, "embeddings")
    cents = group_centroids(emb, "label", "embedding")
    return cents.select(
        "label",
        "n_vecs",
        F.array_join(
            F.transform(
                F.col("centroid"),
                lambda m: F.floor(m * F.lit(1000000.0) + F.lit(0.5)).cast("long").cast("string"),
            ),
            ",",
        ).alias("centroid_micros"),
    )


@register(
    "stratified_sample_docs",
    """
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rn
      FROM documents)
    SELECT doc_id, lang FROM ranked WHERE rn <= 20
    """,
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count stratified sampling: exactly min(|stratum|, 20)
    documents per language, chosen by md5(doc_id) order — the
    deterministic complement of `corpus_mixture_sample`'s rate-based
    thresholding when an eval set needs exact per-stratum sizes.
    Stable across runs, partitionings, engines, and corpus growth only
    appends competitors (no reshuffle of earlier picks within a stratum
    prefix). Plan: one window rank per stratum — the shuffle is keyed on
    the stratum and each group sorts only its own rows; at gigarow
    strata swap in a per-partition top-20 pre-filter (TakeOrdered shape)
    before the window to bound the sort."""
    docs = t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "lang")
    )


def _kmeans_oracle(k: int, iters: int, dim: int) -> str:
    """DuckDB replica of ``similarity.kmeans_assign``: the md5-ordered
    seed sample, the (-cos, cluster) argmax tie-break, and each Lloyd
    iteration's ROUND(mean, 6) centroid update are all unrolled as CTEs
    (same technique as ``_bpe_merges_oracle`` — a deterministic iterative
    algorithm restated as a fixed-depth SQL chain). Empty cells keep the
    previous iteration's centroid via COALESCE over a FILTERed list
    aggregate — NOT a CASE over the LEFT JOIN's NULL row, which DuckDB's
    correlated-subquery re-evaluation can mis-fold into a NULL-bearing
    centroid list on a degenerate (all-identical-vector) corpus (r14
    const census). Wrapped in ``ann_notnull``: NULL vectors neither
    seed nor assign, mirroring the engine's entry filter."""

    def assign_cte(name: str, cents: str) -> str:
        return f"""{name} AS (
  SELECT id, v,
         (SELECT cluster FROM {cents}
           ORDER BY -(list_dot_product(corpus.v, {cents}.cv)
                      / (sqrt(list_dot_product(corpus.v, corpus.v))
                         * sqrt(list_dot_product({cents}.cv, {cents}.cv)))) ASC,
                    cluster ASC
           LIMIT 1) AS cluster
  FROM corpus)"""

    parts = [
        f"""WITH c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
         AS INT) AS cluster,
         embedding::DOUBLE[] AS cv
  FROM (SELECT vec_id, embedding FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k})),
corpus AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
{assign_cte('a0', 'c0')}"""
    ]
    for it in range(1, iters + 1):
        parts.append(
            f"""m{it} AS (
  SELECT cluster, dim, ROUND(AVG(v[dim]), 6) AS mx
  FROM a{it - 1}, (SELECT unnest(range(1, {dim + 1})) AS dim) d
  GROUP BY cluster, dim),
c{it} AS (
  SELECT p.cluster,
         COALESCE(list(m.mx ORDER BY m.dim) FILTER (WHERE m.dim IS NOT NULL),
                  p.cv) AS cv
  FROM c{it - 1} p LEFT JOIN m{it} m ON p.cluster = m.cluster
  GROUP BY p.cluster, p.cv),
{assign_cte(f'a{it}', f'c{it}')}"""
        )
    parts.append(f"SELECT id AS vec_id, cluster FROM a{iters}")
    return ann_notnull(",\n".join(parts[:-1]) + "\n" + parts[-1])


@register("kmeans_embedding_clusters", _kmeans_oracle(k=8, iters=2, dim=64))
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic spherical k-means over the embedding corpus (k=8,
    two Lloyd iterations) — the corpus-organization operator above the
    D8 similarity family: topic balancing, per-cluster mixture caps, and
    SemDeDup cells all start from exactly this assignment table.

    100 TB posture: centroids are k·dim plan literals (broadcast-the-
    model); every assignment pass is map-only over the corpus; each
    Lloyd update is ONE hash aggregate keyed on cluster (dim avg columns
    with map-side partials) plus a k-row collect. Per-iteration cost is
    one corpus scan — nothing pairwise, no shuffle that grows with k.
    The ROUND(mean, 6) centroid update pins every iteration to values
    any double-math engine reproduces, which is what makes the full
    iteration chain value-checkable in SQL (oracle unrolls it CTE by
    CTE)."""
    from dopams_etl_spark.operators.similarity import kmeans_assign

    emb = t(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, "vec_id", "embedding", k=8, iters=2)


# Explicit codebook for the seeds= path: 4 centroids × 64 dims of small
# integers (exactly representable doubles — bit-identical in any engine).
_FIXED_SEEDS: list[list[float]] = [
    [float(((i * (2 * j + 3) + j) % 13) - 6) for i in range(64)] for j in range(4)
]


def _fixed_seed_oracle() -> str:
    rows = ", ".join(
        f"({j}, [{', '.join(str(v) for v in seed)}]::DOUBLE[])"
        for j, seed in enumerate(_FIXED_SEEDS)
    )
    # ann_notnull: a NULL vector has no cell (DuckDB's list_dot_product
    # aborts on NULL lists; the engine filters at kmeans_assign entry)
    return ann_notnull(f"""
    WITH cents AS (SELECT * FROM (VALUES {rows}) AS tc(cluster, cv)),
    corpus AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT id AS vec_id,
           (SELECT cluster FROM cents
             ORDER BY -(list_dot_product(corpus.v, cents.cv)
                        / (sqrt(list_dot_product(corpus.v, corpus.v))
                           * sqrt(list_dot_product(cents.cv, cents.cv)))) ASC,
                      cluster ASC
             LIMIT 1) AS cluster
    FROM corpus
    """)


@register("kmeans_fixed_seed_assign", _fixed_seed_oracle())
def kmeans_fixed_seed_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inference half of broadcast-the-model: assign every corpus
    vector to its nearest centroid from an EXPLICIT codebook
    (``kmeans_assign(seeds=...)``, iters=0). No seed collect, no Lloyd
    updates — the entire operator is one lazy map-only projection over
    the corpus with the k·dim codebook as plan literals, the plan shape
    a 100 TB scoring pass wants (IVF cell assignment, routing a corpus
    onto a previously-trained clustering). Complements
    ``kmeans_embedding_clusters`` which trains its own centroids."""
    from dopams_etl_spark.operators.similarity import kmeans_assign

    emb = t(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, "vec_id", "embedding", iters=0, seeds=_FIXED_SEEDS)


def _bloom_oracle(m_bits: int, k: int) -> str:
    """DuckDB replica of ``sketches.bloom_words``/``bloom_probe`` over the
    decontamination split: same md5 double-hashing, same (word, bits)
    bit_or table, same k left joins. The oracle counts exact_hits over ALL
    corpus shingles while the engine counts them only among bloom-passing
    shingles — the two agree iff the filter has no false negatives, so the
    value hash checks the Bloom guarantee itself, not just the counts."""
    probe_cols = ",\n           ".join(
        f"CAST(((h1 + {i}*h2) % {m_bits}) // 32 AS INT) AS w{i}, "
        f"CAST(((h1 + {i}*h2) % {m_bits}) % 32 AS INT) AS b{i}"
        for i in range(k)
    )
    joins = "\n ".join(
        f"LEFT JOIN words x{i} ON probe.w{i} = x{i}.word" for i in range(k)
    )
    verdict = "\n      AND ".join(
        f"COALESCE((x{i}.bits & (1::BIGINT << b{i})) <> 0, FALSE)" for i in range(k)
    )
    return rf"""
    WITH tk AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h, trim(text) AS tt,
                       string_split_regex(lower(trim(text)), '\s+') AS toks
                FROM documents),
    -- tt IS NULL handled like blank (r13 nullhalf census): NULL text
    -- produces NO shingles; the engine's concat_ws-over-NULL otherwise
    -- manufactures a '' shingle the oracle never sees
    s AS (SELECT doc_id, h,
                 CASE WHEN tt IS NULL OR tt = '' THEN CAST([] AS VARCHAR[])
                      WHEN len(toks) >= 3
                      THEN list_distinct(list_transform(range(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                      ELSE [array_to_string(toks, ' ')] END AS sh
          FROM tk),
    bench AS (SELECT DISTINCT unnest(sh) AS shingle FROM s WHERE h LIKE '0%'),
    corp AS (SELECT doc_id, sh FROM s WHERE h NOT LIKE '0%'),
    bh AS (SELECT ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
                  ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS h2 FROM bench),
    bpos AS (SELECT ((h1 + i.i*h2) % {m_bits}) AS pos
             FROM bh, (SELECT unnest(range(0, {k})) AS i) i),
    words AS (SELECT CAST(pos // 32 AS INT) AS word,
                     bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
              FROM bpos GROUP BY 1),
    e AS (SELECT doc_id, unnest(sh) AS shingle FROM corp),
    eh AS (SELECT doc_id, shingle,
                  ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
                  ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS h2 FROM e),
    probe AS (SELECT doc_id, shingle,
           {probe_cols}
    FROM eh),
    mc AS (SELECT doc_id, shingle,
           {verdict} AS might
     FROM probe
 {joins}),
    blm AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS bloom_hits
            FROM mc WHERE might GROUP BY doc_id),
    ex AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS exact_hits
           FROM e JOIN bench USING (shingle) GROUP BY doc_id)
    SELECT c.doc_id,
           COALESCE(b.bloom_hits, 0) AS bloom_hits,
           COALESCE(ex.exact_hits, 0) AS exact_hits,
           COALESCE(ex.exact_hits, 0) >= 1 AS contaminated
    FROM corp c LEFT JOIN blm b USING (doc_id) LEFT JOIN ex USING (doc_id)
    """


@register("bloom_decontaminate_docs", _bloom_oracle(m_bits=1 << 19, k=4))
def bloom_decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-gated decontamination: the eval-set shingles build a
    (word, bits) Bloom table; corpus shingles pass k map-side broadcast
    word-joins BEFORE the exact eval join, so only true hits plus the
    ~1e-3 false-positive trickle reach the per-doc aggregate. exact_hits
    is counted WITHIN the bloom-passing shingles — it equals the oracle's
    unfiltered exact count precisely because a Bloom filter has no false
    negatives, so the driver's value hash verifies the filter guarantee
    end-to-end. At 100 TB: the corpus never shuffles (both the word table
    and the eval shingles broadcast); the probe is pure map work."""
    from dopams_etl_spark.operators.sketches import bloom_probe, bloom_words

    m_bits, k = 1 << 19, 4
    docs = t(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    bench = docs.filter(h.startswith("0"))
    corpus = docs.filter(~h.startswith("0"))
    # NULL text -> no shingles on BOTH sides: since r14 the shared
    # word_shingles convention handles NULL itself (functions/textfns.py)
    bench_sh = bench.select(
        F.explode(word_shingles("text", 3)).alias("shingle")
    ).distinct()
    words = bloom_words(bench_sh, "shingle", m_bits, k)

    # r15 (guide §2.4): every join below is broadcast and the documents
    # parquet is one row group, so the shingle explode + k bloom-hash
    # probes otherwise run on ONE scan task. Hash-repartitioning on
    # doc_id spreads the map work and pre-satisfies the per-doc
    # aggregate; counts are order-invariant. No-op at real parallelism.
    from dopams_etl_spark.partitioning import ensure_parallelism

    corpus = ensure_parallelism(corpus, "doc_id")
    corp = corpus.select("doc_id", word_shingles("text", 3).alias("sh"))
    ex = corp.select("doc_id", F.explode("sh").alias("shingle"))
    passed = bloom_probe(ex, "shingle", words, m_bits, k).filter("might_contain")
    hits = (
        passed.join(
            F.broadcast(bench_sh.withColumn("__hit", F.lit(1))), "shingle", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("bloom_hits"),
            F.count("__hit").alias("exact_hits"),
        )
    )
    return (
        corp.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("bloom_hits", F.lit(0)).alias("bloom_hits"),
            F.coalesce("exact_hits", F.lit(0)).alias("exact_hits"),
            (F.coalesce("exact_hits", F.lit(0)) >= 1).alias("contaminated"),
        )
    )


@register(
    "tfidf_keyword_extract",
    r"""
    WITH base AS (SELECT doc_id AS doc,
                         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                              ELSE string_split_regex(lower(trim(text)), '\s+') END AS tk
                  FROM documents),
    postings AS (SELECT doc, tok AS term, CAST(COUNT(*) AS BIGINT) AS tf
                 FROM (SELECT doc, unnest(tk) AS tok FROM base)
                 GROUP BY doc, term),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM postings GROUP BY term),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (SELECT p.doc, p.term,
                      ROUND(p.tf * (ln((nd.n_docs + 1.0) / (d.df + 1.0)) + 1.0), 6)
                        AS score
               FROM postings p JOIN dfreq d USING (term) CROSS JOIN nd),
    r AS (SELECT doc, term, score,
                 row_number() OVER (PARTITION BY doc
                                    ORDER BY score DESC, term ASC) AS rank
          FROM scored)
    SELECT doc, term, score, CAST(rank AS INT) AS rank FROM r WHERE rank <= 3
    """,
)
def tfidf_keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by smoothed TF-IDF
    (tf · (ln((N+1)/(df+1)) + 1)) — keyword extraction / topic tagging,
    the lightweight labeling step corpus curation runs before routing
    documents into domain mixtures. Reuses BM25's postings build (one
    exploded groupBy), adds the df aggregate keyed on term and the
    corpus size as a ONE-ROW broadcast; the per-doc ranking window sorts
    only each doc's distinct terms (`operators/search.py:tfidf_topk`)."""
    from dopams_etl_spark.operators.search import tfidf_topk

    docs = t(spark, sf_dir, "documents")
    out = tfidf_topk(docs, "doc_id", "text", k=3)
    return out.select("doc", "term", "score", F.col("rank").cast("int").alias("rank"))


@register(
    "temperature_sample_langs",
    """
    WITH n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
               GROUP BY lang),
    wts AS (SELECT lang, n_docs, pow(n_docs, 0.5) AS w FROM n),
    tot AS (SELECT SUM(w) AS sw, CAST(SUM(n_docs) AS BIGINT) AS total FROM wts),
    r AS (SELECT wts.lang, wts.n_docs,
                 ROUND(least(1.0, (0.3 * tot.total) * (wts.w / tot.sw)
                                  / wts.n_docs), 6) AS rate
          FROM wts CROSS JOIN tot),
    s AS (SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_sampled
          FROM documents d JOIN r USING (lang)
          WHERE __U32__ < CAST(floor(r.rate * 4294967296.0) AS BIGINT)
          GROUP BY d.lang)
    SELECT r.lang, r.n_docs, r.rate, COALESCE(s.n_sampled, 0) AS n_sampled
    FROM r LEFT JOIN s USING (lang)
    """.replace("__U32__", md5_bucket32_sql("CAST(d.doc_id AS VARCHAR)")),
)
def temperature_sample_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled multilingual mixture sampling (τ = 0.5, the
    mT5/mC4 recipe): per-language sampling weights ∝ n^τ flatten the
    head languages so low-resource strata survive a 30%-budget
    downsample; rates are applied with the engine's standard
    md5-threshold deterministic sampler (stable across runs,
    partitionings, engines — seeded `sample()` is none of those).
    Plan: the per-language count table is |langs| rows, the weight
    normalizer a ONE-ROW broadcast; the sampling pass is a map-only
    filter over the corpus. Output: (lang, n_docs, rate, n_sampled)."""
    docs = t(spark, sf_dir, "documents")
    n = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    wts = n.withColumn("w", F.pow(F.col("n_docs").cast("double"), F.lit(0.5)))
    tot = wts.agg(
        F.sum("w").alias("sw"), F.sum("n_docs").cast("long").alias("total")
    )
    rates = wts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.round(
            F.least(
                F.lit(1.0),
                (F.lit(0.3) * F.col("total").cast("double"))
                * (F.col("w") / F.col("sw"))
                / F.col("n_docs").cast("double"),
            ),
            6,
        ).alias("rate"),
    )

    u32 = md5_bucket32(F.col("doc_id"))
    sampled = (
        docs.join(F.broadcast(rates.select("lang", "rate")), "lang")
        .filter(u32 < F.floor(F.col("rate") * F.lit(4294967296.0)).cast("long"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return rates.join(sampled, "lang", "left").select(
        "lang",
        "n_docs",
        "rate",
        F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
    )


@register(
    "quality_score_auc",
    """
    WITH d AS (SELECT n_chars AS s, (lang = 'en') AS y FROM documents
               WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
    ps AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
           FROM d GROUP BY s),
    r AS (SELECT s, n, n_pos,
                 COALESCE(SUM(n) OVER (ORDER BY s
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + (n + 1.0) / 2.0 AS avg_rank
          FROM ps)
    SELECT ROUND(CASE WHEN SUM(n_pos) > 0 AND SUM(n - n_pos) > 0
                      THEN (SUM(n_pos * avg_rank)
                            - SUM(n_pos) * (SUM(n_pos) + 1.0) / 2.0)
                           / (CAST(SUM(n_pos) AS DOUBLE) * SUM(n - n_pos)) END, 6)
             AS auc,
           CAST(SUM(n_pos) AS BIGINT) AS n_pos,
           CAST(SUM(n - n_pos) AS BIGINT) AS n_neg
    FROM r
    """,
)
def quality_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-free validation of a scoring column: ROC AUC of
    document length against the is-English label via the Mann-Whitney
    rank formulation with midranks for ties — the metric that turns
    'we threshold the score at 0.82' (the reference's untested dedup
    cut, ``create_person_deduplication_table.py``) into a measured
    ranking quality. Plan: scores collapse to per-distinct-value counts
    first, the rank window runs over |distinct scores| rows, one global
    fold — never the P·N pairwise comparison
    (`operators/metrics.py:ranking_auc`)."""
    from dopams_etl_spark.operators.metrics import ranking_auc

    docs = t(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull() & F.col("lang").isNotNull()
    )
    return ranking_auc(docs, "n_chars", F.col("lang") == "en")


@register(
    "weighted_sample_docs",
    """
    WITH k AS (SELECT doc_id, lang,
                      pow((__U32__ + 1.0) / 4294967297.0,
                          1.0 / greatest(n_chars, 1)) AS wkey
               FROM documents),
    r AS (SELECT doc_id, lang, wkey,
                 row_number() OVER (ORDER BY wkey DESC, doc_id ASC) AS rnk
          FROM k)
    SELECT doc_id, lang, ROUND(wkey, 6) AS wkey, CAST(rnk AS INT) AS rnk
    FROM r WHERE rnk <= 20
    """.replace("__U32__", md5_bucket32_sql("CAST(doc_id AS VARCHAR)")),
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES): each doc draws u ∈ (0,1) from its md5 (not a seeded
    RNG — reproducible across runs, partitionings, and engines) and
    keys itself with u^(1/w), w = max(n_chars, 1); the top-20 keys ARE a
    weighted sample without replacement — long documents win
    proportionally to length, the inclusion law token-budget-aware
    corpus subsampling wants. Plan: map-only key computation + one
    TakeOrdered top-20; no global sort materializes (Spark plans
    ORDER BY + LIMIT as TakeOrderedAndProject — per-partition top-20,
    driver merge of 20·P rows)."""
    docs = t(spark, sf_dir, "documents")
    u = (md5_bucket32(F.col("doc_id")) + F.lit(1.0)) / F.lit(4294967297.0)
    keyed = docs.select(
        "doc_id",
        "lang",
        F.pow(u, F.lit(1.0) / F.greatest(F.col("n_chars"), F.lit(1)).cast("double")).alias(
            "wkey"
        ),
    )
    from pyspark.sql import Window as W

    rn = F.row_number().over(W.orderBy(F.col("wkey").desc(), F.col("doc_id").asc()))
    return (
        keyed.withColumn("rnk", rn)
        .filter(F.col("rnk") <= 20)
        .select("doc_id", "lang", F.round("wkey", 6).alias("wkey"), F.col("rnk").cast("int").alias("rnk"))
    )


def _rp_oracle(in_dim: int = 64, out_dim: int = 16, seed: int = 42) -> str:
    """DuckDB replica of ``similarity.random_projection``: the seeded
    Gaussian matrix is a plan literal (same `_hyperplanes` source as the
    LSH oracles), scale 1/√16 = 0.25 is exact in binary, components
    ROUND to 6 then fixed-point micros — double→string formatting never
    crosses the engine boundary."""
    from dopams_etl_spark.operators.similarity import _hyperplanes

    comps = []
    for p in _hyperplanes(in_dim, out_dim, seed):
        arr = "[" + ", ".join(repr(float(x)) for x in p) + "]"
        comps.append(
            "CAST(floor(ROUND(list_dot_product(v, " + arr + ") * 0.25, 6) "
            "* 1000000.0 + 0.5) AS BIGINT)"
        )
    joined = ",\n             ".join(f"CAST({c} AS VARCHAR)" for c in comps)
    # ann_notnull: DuckDB's list_dot_product ABORTS on a NULL list — the
    # shared ANN null-vector convention covers this projection too
    return ann_notnull(f"""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT vec_id,
           concat_ws(',',
             {joined}) AS proj_micros
    FROM c
    """)


@register("embedding_random_projection", _rp_oracle())
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64→16 dims — the
    dimensionality squeeze that makes every downstream similarity pass
    (ANN, clustering, SemDeDup) 4× lighter in shuffle and broadcast
    weight while preserving pairwise distances within (1±ε) w.h.p. The
    seeded Gaussian matrix is a PLAN LITERAL (same `_hyperplanes` source
    as the LSH planes) so the pass is map-only inside whole-stage
    codegen and bit-reproducible across engines/runs/partitionings;
    components surface as fixed-point micros
    (`operators/similarity.py:random_projection`)."""
    from dopams_etl_spark.operators.similarity import random_projection

    # r15 (guide §2.4): map-only projection — spread (per-row, plan-
    # literal Gaussian matrix ⇒ identical). No-op at real scale.
    emb = ensure_parallelism(t(spark, sf_dir, "embeddings"))
    proj = random_projection(emb, "vec_id", "embedding", in_dim=64, out_dim=16, seed=42)
    return proj.select(
        "vec_id",
        F.array_join(
            F.transform(
                F.col("proj"),
                lambda x: F.floor(x * F.lit(1000000.0) + F.lit(0.5)).cast("long").cast("string"),
            ),
            ",",
        ).alias("proj_micros"),
    )


@register(
    "doc_readability_flesch",
    r"""
    WITH b AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS words,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sentences,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syllables
      FROM documents)
    SELECT doc_id, CAST(words AS INT) AS words, CAST(sentences AS INT) AS sentences,
           CAST(syllables AS INT) AS syllables,
           -- + 0.0 canonicalizes IEEE -0.0 (flesch goes negative on
           -- dense text and the rounded value can sit on the boundary)
           ROUND(206.835 - 1.015 * words / sentences
                         - 84.6 * syllables / greatest(words, 1), 6) + 0.0
             AS flesch
    FROM b
    """,
)
def doc_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document with the standard
    vowel-group syllable heuristic — the classic readability feature in
    quality-model stacks (alongside doc_quality_scores' length/punct/
    stopword signals): too-hard and too-easy tails both correlate with
    low-value training text. Pure JVM column expressions (regexp_count
    + the engine's whitespace token convention), map-only, no Python."""
    docs = t(spark, sf_dir, "documents")
    words = token_count("text")
    sentences = F.greatest(F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1))
    syllables = F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+"))
    return docs.select(
        "doc_id",
        words.cast("int").alias("words"),
        sentences.cast("int").alias("sentences"),
        syllables.cast("int").alias("syllables"),
        # + 0.0 canonicalizes IEEE -0.0 (flesch is sign-indefinite)
        (
            F.round(
                F.lit(206.835)
                - F.lit(1.015) * words / sentences
                - F.lit(84.6) * syllables / F.greatest(words, F.lit(1)),
                6,
            )
            + 0.0
        ).alias("flesch"),
    )


@register(
    "cluster_representatives",
    # ann_notnull (r14 review): the engine rides kmeans_assign's shared
    # NULL-vector entry filter; the oracle must skip NULL vectors too
    ann_notnull(
    "WITH cents AS (SELECT * FROM (VALUES "
    + ", ".join(
        f"({j}, [{', '.join(str(v) for v in seed)}]::DOUBLE[])"
        for j, seed in enumerate(_FIXED_SEEDS)
    )
    + """) AS tc(cluster, cv)),
    corpus AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
    a AS (SELECT id, v,
                 (SELECT cluster FROM cents
                   ORDER BY -(list_dot_product(corpus.v, cents.cv)
                              / (sqrt(list_dot_product(corpus.v, corpus.v))
                                 * sqrt(list_dot_product(cents.cv, cents.cv)))) ASC,
                            cluster ASC
                   LIMIT 1) AS cluster
          FROM corpus),
    s AS (SELECT id, cluster,
                 ROUND(sqrt(list_dot_product(v, v)), 6) AS l2,
                 row_number() OVER (PARTITION BY cluster
                                    ORDER BY ROUND(sqrt(list_dot_product(v, v)), 6) DESC,
                                             id ASC) AS rnk
          FROM a)
    SELECT cluster, id AS vec_id, l2, CAST(rnk AS INT) AS rnk
    FROM s WHERE rnk <= 3
    """
    ),
)
def cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster representative selection — the curation step after
    clustering (SemDeDup keeps one exemplar per semantic cell;
    instruction-data dedup keeps the best-scoring member): assign the
    corpus to the explicit codebook (`kmeans_assign(seeds=, iters=0)` —
    lazy, map-only), score members by rounded L2 norm, keep the top 3
    per cluster via one cluster-keyed window. Composition proof: the
    clustering and the selection stay ONE lazy plan end-to-end, and the
    oracle replays assignment + ranking in a single SQL chain so the
    stages cannot drift."""
    from dopams_etl_spark.operators.similarity import _norm, kmeans_assign

    emb = t(spark, sf_dir, "embeddings")
    # dropDuplicates (dup2 census): assignment is a deterministic
    # function of the vector, so the re-join must not fan out on a
    # duplicated vec_id (2x2=4 copies where the input carries 2); the
    # dedupe is a map-side-combinable aggregate on the join key
    assigned = kmeans_assign(
        emb, "vec_id", "embedding", iters=0, seeds=_FIXED_SEEDS
    ).dropDuplicates(["vec_id"])
    scored = emb.join(assigned, "vec_id").select(
        "vec_id",
        "cluster",
        F.round(_norm("embedding"), 6).alias("l2"),
    )
    from pyspark.sql import Window as W

    rnk = F.row_number().over(
        W.partitionBy("cluster").orderBy(F.col("l2").desc(), F.col("vec_id").asc())
    )
    return (
        scored.withColumn("rnk", rnk)
        .filter(F.col("rnk") <= 3)
        .select("cluster", "vec_id", "l2", F.col("rnk").cast("int").alias("rnk"))
    )


@register(
    "corpus_profile",
    r"""
    WITH b AS (
      SELECT doc_id, lang, md5(text) AS fp,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS n_tokens
      FROM documents),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                 CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique_texts,
                 CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                 ROUND(AVG(n_tokens), 6) AS mean_tokens,
                 ROUND(AVG(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END), 6) AS pct_en
          FROM b)
    -- NULLIF: an empty corpus has n_docs = 0 (0/0 -> ANSI abort
    -- Spark-side, NaN DuckDB-side) - the rate is NULL on both engines
    SELECT n_docs, n_langs, n_unique_texts, total_tokens, mean_tokens, pct_en,
           ROUND(1.0 - n_unique_texts / NULLIF(CAST(n_docs AS DOUBLE), 0.0), 6)
             AS exact_dup_rate
    FROM s
    """,
)
def corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card: corpus size, language spread, token totals,
    English share, and the exact-duplicate rate (1 − distinct
    fingerprints / docs) — the profile block every dataset release
    (HF dataset cards, Dolma/RedPajama reports) leads with, computed in
    ONE aggregate pass over the corpus (COUNT DISTINCT partials for
    langs and md5 fingerprints; everything else plain sums). At 100 TB
    swap the two exact COUNT DISTINCTs for approx_count_distinct — the
    contract checked in approx_distinct_users."""
    docs = t(spark, sf_dir, "documents")
    b = docs.select(
        "lang",
        F.md5("text").alias("fp"),
        token_count("text").alias("n_tokens"),
    )
    return b.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("fp").alias("n_unique_texts"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 6).alias("mean_tokens"),
        F.round(F.avg(F.when(F.col("lang") == "en", 1.0).otherwise(0.0)), 6).alias(
            "pct_en"
        ),
    ).select(
        "n_docs",
        "n_langs",
        "n_unique_texts",
        "total_tokens",
        "mean_tokens",
        "pct_en",
        # try_divide: an empty corpus has n_docs = 0 and the bare '/'
        # ANSI-aborts where the oracle's NULLIF yields NULL
        F.round(
            F.lit(1.0)
            - F.try_divide(
                F.col("n_unique_texts"), F.col("n_docs").cast("double")
            ),
            6,
        ).alias("exact_dup_rate"),
    )


@register(
    "embedding_dim_stats",
    """
    WITH e AS (
      SELECT u.i - 1 AS dim, CAST(embedding[u.i] AS DOUBLE) AS v
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) u(i))
    -- + 0.0 canonicalizes IEEE -0.0 (mean/vmin are sign-indefinite)
    SELECT CAST(dim AS INT) AS dim, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(v), 6) + 0.0 AS mean,
           ROUND(STDDEV_SAMP(v), 6) AS sd,
           ROUND(MIN(v), 6) + 0.0 AS vmin,
           ROUND(MAX(v), 6) AS vmax
    FROM e GROUP BY dim
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics over the embedding column — the
    profile that feeds feature standardization (mean/sd per dim) and
    catches dead or exploding dimensions before ANN indexing. Both
    sides enumerate each vector's ACTUAL length (posexplode /
    correlated generate_series), so mixed-dimension corpora profile
    correctly instead of truncating or null-padding. posexplode
    fans each vector into (dim, value) rows — map-only, no shuffle —
    then ONE hash aggregate on the 64 dim keys with map-side partials,
    so the shuffled data is 64 rows per task regardless of corpus size.
    float32 values widen to double identically on both engines."""
    emb = t(spark, sf_dir, "embeddings")
    e = emb.select(
        F.posexplode("embedding").alias("dim", "v_raw")
    ).select("dim", F.col("v_raw").cast("double").alias("v"))
    # + 0.0 canonicalizes IEEE -0.0 (mean/vmin are sign-indefinite)
    return e.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        (F.round(F.avg("v"), 6) + 0.0).alias("mean"),
        F.round(F.stddev_samp("v"), 6).alias("sd"),
        (F.round(F.min("v"), 6) + 0.0).alias("vmin"),
        F.round(F.max("v"), 6).alias("vmax"),
    ).select(F.col("dim").cast("int").alias("dim"), "n", "mean", "sd", "vmin", "vmax")


@register(
    "vocab_jaccard_sources",
    r"""
    WITH tok AS (
      SELECT DISTINCT source, u.tok
      FROM documents,
           UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(tok)
      WHERE u.tok <> ''),
    sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
           FROM tok GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM tok a JOIN tok b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2)
    SELECT src_a, src_b, n_common,
           ROUND(n_common / CAST(sa.n + sb.n - n_common AS DOUBLE), 6)
             AS jaccard
    FROM inter
    JOIN sz sa ON sa.source = inter.src_a
    JOIN sz sb ON sb.source = inter.src_b
    """,
)
def vocab_jaccard_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary overlap between document sources — Jaccard similarity
    of each source pair's distinct-token sets, the corpus-mixing
    diagnostic (near-identical vocabularies → redundant sources;
    disjoint → a domain gap worth weighting for). The pair join is
    keyed on the TOKEN, never source×source: each token contributes
    only the source pairs that actually share it, so cost scales with
    shared-vocabulary postings (bounded by distinct tokens × source
    fan-out), not |sources|² × vocab. Source-level sizes ride in as a
    broadcast. Same whitespace tokenizer as the lang-ID family."""
    docs = t(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "source",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    sz = tok.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = tok.select(F.col("source").alias("src_a"), "tok")
    b = tok.select(F.col("source").alias("src_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = F.broadcast(sz.select(F.col("source").alias("src_a"), F.col("n").alias("na")))
    sb = F.broadcast(sz.select(F.col("source").alias("src_b"), F.col("n").alias("nb")))
    return (
        inter.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )


@register(
    "lang_id_confusion_matrix",
    r"""
    WITH h AS (
      SELECT lang AS true_lang,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ({de}))) AS h_de,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ({en}))) AS h_en,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ({es}))) AS h_es,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ({fr}))) AS h_fr
      FROM documents),
    pred AS (
      SELECT true_lang,
             CASE WHEN greatest(h_de, h_en, h_es, h_fr) <= 0 THEN 'und'
                  WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
                  WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                  WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                  WHEN h_fr = greatest(h_de, h_en, h_es, h_fr) THEN 'fr'
                  ELSE 'und' END AS pred_lang
      FROM h),
    tot AS (SELECT true_lang, CAST(COUNT(*) AS BIGINT) AS n_true
            FROM pred GROUP BY true_lang)
    SELECT pred.true_lang, pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(COUNT(*) / CAST(ANY_VALUE(n_true) AS DOUBLE), 6) AS recall
    FROM pred JOIN tot ON pred.true_lang = tot.true_lang
    GROUP BY pred.true_lang, pred_lang
    """.replace("{de}", _STOP_DE).replace("{en}", _STOP_EN)
    .replace("{es}", _STOP_ES).replace("{fr}", _STOP_FR),
)
def lang_id_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as data — the heuristic language-ID's
    confusion matrix against the corpus's ground-truth ``lang`` column:
    per (true, predicted) cell, the count and per-true-language recall.
    This is the eval loop every quality/lang filter in a training-data
    pipeline needs before its threshold is trusted. Map-only scoring
    into a ≤ |langs|² cell aggregate; the per-language totals join back
    broadcast-small."""
    docs = t(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("true_lang"),
        lang_id("text").alias("pred_lang"),
    )
    tot = pred.groupBy("true_lang").agg(F.count(F.lit(1)).alias("n_true"))
    return (
        pred.groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(tot), "true_lang")
        .select(
            "true_lang",
            "pred_lang",
            "n",
            F.round(F.col("n") / F.col("n_true").cast("double"), 6).alias(
                "recall"
            ),
        )
    )


@register(
    "bigram_pmi_topk",
    r"""
    WITH tk AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS toks
                FROM documents),
    uni AS (SELECT unnest(toks) AS w FROM tk),
    ucnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM uni
             WHERE w <> '' GROUP BY w),
    un AS (SELECT CAST(SUM(c) AS BIGINT) AS n_uni FROM ucnt),
    bi AS (SELECT unnest(list_transform(range(1, len(toks)),
                                        i -> toks[i] || ' ' || toks[i+1]))
             AS bg
           FROM tk WHERE len(toks) >= 2),
    bcnt AS (SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
                    CAST(COUNT(*) AS BIGINT) AS c_bi
             FROM bi GROUP BY 1, 2),
    bn AS (SELECT CAST(SUM(c_bi) AS BIGINT) AS n_bi FROM bcnt),
    scored AS (
      SELECT w1, w2, c_bi,
             ROUND(LN((c_bi / CAST(n_bi AS DOUBLE))
                      / ((ca.c / CAST(n_uni AS DOUBLE))
                         * (cb.c / CAST(n_uni AS DOUBLE)))), 6) AS pmi
      FROM bcnt
      JOIN ucnt ca ON ca.w = w1
      JOIN ucnt cb ON cb.w = w2
      CROSS JOIN un CROSS JOIN bn
      WHERE c_bi >= 5 AND w1 <> '' AND w2 <> '')
    SELECT w1, w2, c_bi, pmi
    FROM scored ORDER BY pmi DESC, w1, w2 LIMIT 50
    """,
)
def bigram_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining — pointwise mutual information of ADJACENT
    token bigrams (pmi = ln(p(w1w2) / p(w1)p(w2)), count >= 5), the
    classic phrase detector feeding tokenizer merges and stop-phrase
    lists. Adjacency keeps the pair space linear in corpus tokens (never
    the quadratic within-document co-occurrence); unigram and bigram
    counts are token-keyed hash aggregates, the probability
    normalizers one-row broadcasts, and only the ≤50-row top-k is ever
    globally sorted."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("toks")
    )
    uni = toks.select(F.explode("toks").alias("w")).filter(F.col("w") != "")
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    un = ucnt.agg(F.sum("c").alias("n_uni"))
    bi = (
        toks.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2),"
                    " i -> struct(toks[i] AS w1, toks[i+1] AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
    )
    bcnt = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bi"))
    bn = bcnt.agg(F.sum("c_bi").alias("n_bi"))
    ca = ucnt.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    cb = ucnt.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    scored = (
        bcnt.filter((F.col("c_bi") >= 5) & (F.col("w1") != "") & (F.col("w2") != ""))
        .join(ca, "w1")
        .join(cb, "w2")
        .crossJoin(F.broadcast(un))
        .crossJoin(F.broadcast(bn))
        .select(
            "w1", "w2", "c_bi",
            F.round(
                F.log(
                    (F.col("c_bi") / F.col("n_bi").cast("double"))
                    / (
                        (F.col("c1") / F.col("n_uni").cast("double"))
                        * (F.col("c2") / F.col("n_uni").cast("double"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "w1", "w2").limit(50)


@register(
    "embedding_norm_outliers",
    """
    WITH n AS (
      SELECT vec_id,
             sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings),
    stats AS (SELECT AVG(nrm) AS mu, STDDEV_SAMP(nrm) AS sd FROM n)
    -- NULLIF: a zero-spread corpus (all-equal norms) makes sd = 0 and
    -- the bare division NaN-casts here / ANSI-aborts Spark-side;
    -- + 0.0 canonicalizes IEEE -0.0 (z is sign-indefinite); explicit
    -- NULLS LAST pins the all-NULL-z sort the same way Spark's
    -- desc_nulls_last does
    SELECT vec_id, ROUND(nrm, 6) AS norm,
           ROUND((nrm - mu) / NULLIF(sd, 0.0), 4) + 0.0 AS z
    FROM n CROSS JOIN stats
    ORDER BY ABS((nrm - mu) / NULLIF(sd, 0.0)) DESC NULLS LAST, vec_id
    LIMIT 10
    """,
)
def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene — the 10 most norm-anomalous vectors by z-score
    (degenerate all-zero rows, exploding activations, unnormalized
    imports all surface here before they poison cosine search). The
    norm is a left-to-right fold over each list on BOTH engines, so the
    per-vector double is bit-identical; corpus mean/sd ride along as a
    one-row broadcast and only the 10-row result is globally sorted."""
    emb = t(spark, sf_dir, "embeddings")
    n = emb.select(
        "vec_id",
        F.sqrt(
            F.aggregate(
                F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("nrm"),
    )
    # sample sd assembled from the throw-free population moments (the
    # r12 event_value_moments pattern): builtin stddev_samp ANSI-aborts
    # on a single-row corpus where DuckDB yields NULL
    n_cnt = F.count("nrm")
    sd_samp = F.sqrt(F.try_divide(F.var_pop("nrm") * n_cnt, n_cnt - 1))
    stats = n.agg(F.avg("nrm").alias("mu"), sd_samp.alias("sd"))
    # try_divide: a zero-spread corpus makes sd = 0 and the bare '/'
    # ANSI-aborts; + 0.0 canonicalizes IEEE -0.0 (z is sign-indefinite)
    z = F.try_divide(F.col("nrm") - F.col("mu"), F.col("sd"))
    return (
        n.crossJoin(F.broadcast(stats))
        .select(
            "vec_id",
            F.round("nrm", 6).alias("norm"),
            (F.round(z, 4) + 0.0).alias("z"),
            F.abs(z).alias("_az"),
        )
        .orderBy(F.col("_az").desc_nulls_last(), "vec_id")
        .limit(10)
        .drop("_az")
    )


@register(
    "minhash_jaccard_estimate_error",
    r"""
    WITH tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
                FROM documents),
    s AS (SELECT doc_id,
                 CASE WHEN len(toks) >= 3
                      THEN list_distinct(list_transform(range(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                      WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                      ELSE [] END AS sh
          FROM tk),
    e AS (SELECT doc_id, unnest(sh) AS shingle FROM s WHERE len(sh) > 0),
    ab AS (SELECT doc_id,
                  ('0x' || substr(md5(shingle), 1, 8))::BIGINT % __MOD__ AS a,
                  ('0x' || substr(md5(shingle), 9, 8))::BIGINT % __MOD__ AS b
           FROM e),
    m AS (SELECT doc_id, f.i,
                 MIN(((__P__[f.i+1] * a) % __MOD__ + (__Q__[f.i+1] * b) % __MOD__)
                     % __MOD__) AS h
          FROM ab CROSS JOIN range(0, 32) f(i) GROUP BY doc_id, f.i),
    sig AS (SELECT doc_id, list(h ORDER BY i) AS mh FROM m GROUP BY doc_id),
    banded AS (SELECT doc_id, mh, r.b,
                      md5(CAST(mh[4*r.b+1] AS VARCHAR) || '_' ||
                          CAST(mh[4*r.b+2] AS VARCHAR) || '_' ||
                          CAST(mh[4*r.b+3] AS VARCHAR) || '_' ||
                          CAST(mh[4*r.b+4] AS VARCHAR)) AS bh
               FROM sig CROSS JOIN range(0, 8) r(b)),
    p AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
          FROM banded a JOIN banded b2
            ON a.b = b2.b AND a.bh = b2.bh AND a.doc_id < b2.doc_id),
    j AS (SELECT id_a, id_b,
                 ROUND(len(list_filter(range(1, 33), i -> ma.mh[i] = mb.mh[i]))
                       / 32.0, 6) AS est_jaccard,
                 ROUND(len(list_intersect(sa.sh, sb.sh))
                       / CAST(len(sa.sh) + len(sb.sh)
                              - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE),
                       6) AS exact_jaccard
          FROM p
          JOIN sig ma ON ma.doc_id = id_a JOIN sig mb ON mb.doc_id = id_b
          JOIN s sa ON sa.doc_id = id_a JOIN s sb ON sb.doc_id = id_b)
    SELECT id_a, id_b, est_jaccard, exact_jaccard,
           ROUND(ABS(est_jaccard - exact_jaccard), 6) AS abs_err
    FROM j
    """.replace("__MOD__", str(MINHASH_MOD))
    .replace("__P__", "[" + ",".join(map(str, MINHASH_P[:32])) + "]")
    .replace("__Q__", "[" + ",".join(map(str, MINHASH_Q[:32])) + "]"),
)
def minhash_jaccard_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy report — for every LSH candidate pair, the
    MinHash-estimated Jaccard next to the EXACT shingle-set Jaccard and
    their absolute error: the measurement that justifies (or indicts)
    the 32-hash/8-band operating point before a 100 TB dedup run trusts
    it. The exact side touches only the candidate pairs (array
    intersection per pair), never all pairs, so the report costs one
    LSH pass plus candidate-count work. Same md5 universal-hash family
    as minhash_lsh_pairs, replicated value-level in the oracle."""
    from dopams_etl_spark.functions.textfns import word_shingles
    from dopams_etl_spark.operators.dedup import lsh_candidate_pairs

    docs = t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs, "doc_id", "text", num_hashes=32, bands=8)
    sh = docs.select(
        "doc_id", word_shingles("text", 3).alias("sh")
    ).filter(F.size("sh") > 0)
    sa = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    exact = inter / (
        F.size("sh_a") + F.size("sh_b") - inter
    ).cast("double")
    out = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "est_jaccard",
            F.round(exact, 6).alias("exact_jaccard"),
        )
    )
    return out.withColumn(
        "abs_err",
        F.round(F.abs(F.col("est_jaccard") - F.col("exact_jaccard")), 6),
    )


@register(
    "dsir_importance_weights",
    """
    WITH tok AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(w), 1, 8))::BIGINT % 256 AS b
      FROM (SELECT doc_id, lang,
                   unnest(string_split(lower(text), ' ')) AS w
            FROM documents)
      WHERE w <> ''),
    tgt AS (SELECT b, CAST(COUNT(*) AS DOUBLE) AS ct FROM tok
            WHERE lang = 'en' GROUP BY b),
    raw AS (SELECT b, CAST(COUNT(*) AS DOUBLE) AS cr FROM tok GROUP BY b),
    nt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_t FROM tok WHERE lang = 'en'),
    nr AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_r FROM tok),
    lr AS (SELECT raw.b,
                  ln((COALESCE(ct, 0) + 1) / (n_t + 256))
                  - ln((cr + 1) / (n_r + 256)) AS logratio
           FROM raw LEFT JOIN tgt ON raw.b = tgt.b
           CROSS JOIN nt CROSS JOIN nr),
    dw AS (SELECT doc_id,
                  -- + 0.0 canonicalizes IEEE -0.0 (signed log-ratio sum)
                  ROUND(SUM(logratio), 4) + 0.0 AS dsir_weight,
                  CAST(COUNT(*) AS BIGINT) AS n_tokens
           FROM tok JOIN lr ON tok.b = lr.b
           WHERE lang <> 'en'
           GROUP BY doc_id)
    SELECT doc_id, n_tokens, dsir_weight
    FROM dw ORDER BY dsir_weight DESC, doc_id LIMIT 20
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score each candidate
    (non-English) document by its log importance weight under
    bag-of-hashed-unigram models of the TARGET (English) vs RAW
    distribution — the published recipe for picking pretraining data
    that 'looks like' a target domain without training a classifier.
    Features hash through the engine-portable md5 bridge (same
    ``('0x'||substr(md5,1,8))`` ↔ ``F.conv`` pairing as the minhash
    family) into 256 buckets with Laplace smoothing, so the weights are
    reproducible anywhere. Everything is keyed aggregates: token→bucket
    counts (one shuffle), a 256-row log-ratio table broadcast back over
    candidate tokens, top-20 on bounded per-doc rows. At 100 TB the
    ratio table stays 256 rows — the corpus never pairs with itself."""
    docs = t(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"),
        )
        .filter(F.col("w") != "")
        .select(
            "doc_id",
            "lang",
            (md5_words(F.md5(F.col("w")))[0] % 256).alias("b"),
        )
    )
    tgt = (
        tok.filter(F.col("lang") == "en")
        .groupBy(F.col("b").alias("tb"))
        .agg(F.count(F.lit(1)).cast("double").alias("ct"))
    )
    raw = tok.groupBy("b").agg(F.count(F.lit(1)).cast("double").alias("cr"))
    nt = tok.filter(F.col("lang") == "en").agg(
        F.count(F.lit(1)).cast("double").alias("n_t")
    )
    nr = tok.agg(F.count(F.lit(1)).cast("double").alias("n_r"))
    lr = (
        raw.join(tgt, F.col("b") == F.col("tb"), "left")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .select(
            "b",
            (
                F.log((F.coalesce(F.col("ct"), F.lit(0.0)) + 1)
                      / (F.col("n_t") + 256))
                - F.log((F.col("cr") + 1) / (F.col("n_r") + 256))
            ).alias("logratio"),
        )
    )
    dw = (
        tok.filter(F.col("lang") != "en")
        .join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            # + 0.0 canonicalizes IEEE -0.0 (signed log-ratio sum)
            (F.round(F.sum("logratio"), 4) + 0.0).alias("dsir_weight"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )
    return dw.select("doc_id", "n_tokens", "dsir_weight").orderBy(
        F.col("dsir_weight").desc(), F.col("doc_id")
    ).limit(20)


@register(
    "phrase_search_docs",
    """
    WITH toks AS (
      SELECT doc_id, i AS pos, string_split(text, ' ')[i] AS term
      FROM documents,
           LATERAL (SELECT unnest(generate_series(
                      1, len(string_split(text, ' ')))) AS i) g),
    w1 AS (SELECT doc_id, pos FROM toks WHERE term = 'table'),
    w2 AS (SELECT doc_id, pos FROM toks WHERE term = 'scan')
    SELECT w1.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM w1 JOIN w2 ON w1.doc_id = w2.doc_id AND w2.pos = w1.pos + 1
    GROUP BY w1.doc_id
    """,
)
def phrase_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search — exact occurrence counts of the phrase
    'table scan' per document via POSITIONAL postings (term, position),
    the IR primitive BM25/TF-IDF bag-of-words retrieval can't express
    (they score terms independently; a phrase needs adjacency). The
    postings explode is filtered to the two phrase terms BEFORE the
    self-join, so the join touches only those terms' postings (keyed on
    doc), never the full index — and chained occurrences ('table scan
    table scan') count correctly where substring-replace tricks
    undercount on the shared separator. Scale posture: postings
    partition by term; a phrase query reads |phrase| posting lists."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "term"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    w1 = toks.filter(F.col("term") == "table").select("doc_id", "pos")
    w2 = toks.filter(F.col("term") == "scan").select(
        F.col("doc_id").alias("doc2"), F.col("pos").alias("pos2")
    )
    hits = w1.join(
        w2,
        (F.col("doc_id") == F.col("doc2"))
        & (F.col("pos2") == F.col("pos") + 1),
    )
    return hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hits"))


@register(
    "mutual_nn_pairs_embeddings",
    ann_notnull("""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (SELECT a.vec_id AS p_id, b.vec_id AS c_id,
                 ROUND(list_dot_product(a.v, b.v)
                       / (sqrt(list_dot_product(a.v, a.v))
                          * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
          FROM e a JOIN e b ON a.vec_id <> b.vec_id),
    top1 AS (SELECT p_id, c_id, cos_sim,
                    row_number() OVER (PARTITION BY p_id
                                       ORDER BY cos_sim DESC, c_id ASC) AS rn
             FROM s)
    SELECT x.p_id AS a_id, x.c_id AS b_id, x.cos_sim
    FROM top1 x JOIN top1 y
      ON x.rn = 1 AND y.rn = 1
     AND y.p_id = x.c_id AND y.c_id = x.p_id AND x.p_id < x.c_id
    """),
)
def mutual_nn_pairs_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal best match (mutual nearest neighbors): pairs where
    each vector is the OTHER's cosine top-1 — the high-precision
    entity-resolution/translation-mining filter (a one-directional
    top-1 happily links a probe to a hub vector; mutuality kills hub
    links). Built on the exact brute-force ``cosine_topk`` baseline
    (size-gated >2M rows like the rest of the exact-cosine family; at
    scale the same mutual filter composes over lsh/ivf_topk candidate
    lists instead). The mutual check itself is one self-join of the
    |N|-row top-1 table on the reversed id pair."""
    emb = t(spark, sf_dir, "embeddings")
    # r16: the only registry site with a FULL-corpus probe (|N|² pairs);
    # the Arrow block scorer clears its dispatch overhead ~3× over
    # (measured −45% warm; bit-identical, strict oracle at 3 SFs)
    top1 = cosine_topk(emb, emb, "vec_id", "vec_id", "embedding", k=1, impl="arrow")
    rev = top1.select(
        F.col("p_id").alias("r_p"), F.col("c_id").alias("r_c")
    )
    return (
        top1.join(
            rev,
            (F.col("r_p") == F.col("c_id")) & (F.col("r_c") == F.col("p_id")),
        )
        .filter(F.col("p_id") < F.col("c_id"))
        .select(
            F.col("p_id").alias("a_id"),
            F.col("c_id").alias("b_id"),
            "cos_sim",
        )
    )


@register(
    "dedup_threshold_sweep",
    "WITH " + _NGRAM_PAIR_CTES + r""",
    thr(t) AS (VALUES (0.5), (0.6), (0.7), (0.8), (0.9)),
    f AS (SELECT CAST(t AS DOUBLE) AS threshold, id_a, id_b
          FROM pairs JOIN thr ON jaccard >= t),
    pc AS (SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs
           FROM f GROUP BY threshold),
    dc AS (SELECT threshold, CAST(COUNT(DISTINCT d) AS BIGINT)
                    AS n_affected_docs
           FROM (SELECT threshold, id_a AS d FROM f
                 UNION ALL SELECT threshold, id_b FROM f)
           GROUP BY threshold)
    SELECT threshold, n_pairs, n_affected_docs
    FROM pc JOIN dc USING (threshold)
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold tuning curve — near-dup pair counts and affected
    document counts across Jaccard cutoffs (0.5–0.9), the
    yield-vs-aggressiveness report a pipeline owner reads BEFORE
    committing a dedup threshold (too low: real documents merged; too
    high: near-dups survive into training). The shingle-pair join runs
    ONCE at the loosest threshold; the sweep is a 5-literal explode
    over the bounded pair table, so five thresholds cost one dedup
    pass. Thresholds with zero surviving pairs are absent on both
    engines (inner semantics)."""
    docs = t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.5, max_df=50
    )
    f = pairs.withColumn(
        "threshold",
        F.explode(F.array(*[F.lit(x) for x in (0.5, 0.6, 0.7, 0.8, 0.9)])),
    ).filter(F.col("jaccard") >= F.col("threshold"))
    pc = f.groupBy("threshold").agg(F.count(F.lit(1)).alias("n_pairs"))
    dc = (
        f.select(
            "threshold",
            F.explode(F.array("id_a", "id_b")).alias("d"),
        )
        .groupBy("threshold")
        .agg(F.countDistinct("d").alias("n_affected_docs"))
    )
    return pc.join(dc, "threshold")


@register(
    "token_fertility_by_lang",
    r"""
    WITH d AS (
      SELECT lang,
             CAST(len(regexp_extract_all(text,
               '''(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s'']+|\s+'))
               AS BIGINT) AS n_bpe,
             CAST(CASE WHEN trim(text) = '' THEN 0
                       ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                  END AS BIGINT) AS n_ws,
             CAST(len(text) AS BIGINT) AS n_chars
      FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
           CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
           ROUND(CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws), 6) AS fertility,
           ROUND(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_bpe), 6)
             AS chars_per_token
    FROM d GROUP BY lang
    """,
)
def token_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility report — per language, GPT-2-style
    pre-tokenizer segments per whitespace word (fertility) and
    characters per segment: the corpus-budgeting numbers that decide
    how many TRAINING TOKENS a mixture actually buys per language
    (high-fertility languages eat budget; the multilingual-sampling
    literature keys temperature on exactly this). Pure JVM column
    expressions + one hash aggregate; try_divide guards the all-blank
    degenerate language (NULL, matching DuckDB's double/0)."""
    docs = t(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        bpe_token_count("text").cast("long").alias("n_bpe"),
        token_count("text").cast("long").alias("n_ws"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_ws").alias("ws_tokens"),
        F.sum("n_bpe").alias("bpe_tokens"),
        F.round(
            F.try_divide(F.sum("n_bpe").cast("double"), F.sum("n_ws")), 6
        ).alias("fertility"),
        F.round(
            F.try_divide(F.sum("n_chars").cast("double"), F.sum("n_bpe")), 6
        ).alias("chars_per_token"),
    )


@register(
    "train_test_overlap_report",
    _fill_split(r"""
    WITH u AS (
      SELECT doc_id, text,
             __SPLIT_V__ AS v
      FROM documents),
    lab AS (SELECT doc_id, text,
                   CASE WHEN v < __TRAIN_CUT__ THEN 'train'
                        WHEN v >= __VAL_CUT__ THEN 'test' END AS split
            FROM u),
    tk AS (SELECT doc_id, split, text,
                  string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM lab WHERE split IS NOT NULL),
    s AS (SELECT doc_id, split,
                 -- blank guard FIRST (splitting '' yields [''] — see
                 -- _NGRAM_PAIR_CTES): Spark's word_shingles maps blank
                 -- docs to [], so they must contribute no shingles here
                 CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                      WHEN len(toks) >= 3
                      THEN list_distinct(list_transform(range(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                      WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                      ELSE [] END AS sh
          FROM tk),
    e AS (SELECT doc_id, split, unnest(sh) AS shingle FROM s WHERE len(sh) > 0),
    tr AS (SELECT DISTINCT shingle FROM e WHERE split = 'train'),
    te AS (SELECT doc_id, e.shingle, tr.shingle AS hit
           FROM e LEFT JOIN tr ON e.shingle = tr.shingle
           WHERE split = 'test'),
    pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh,
                  CAST(COUNT(hit) AS BIGINT) AS n_hit
           FROM te GROUP BY doc_id)
    SELECT (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM e
            WHERE split = 'train') AS n_train_docs,
           CAST(COUNT(*) AS BIGINT) AS n_test_docs,
           CAST(COALESCE(SUM(n_sh), 0) AS BIGINT) AS n_test_shingles,
           ROUND(CAST(SUM(n_hit) AS DOUBLE) / SUM(n_sh), 6)
             AS pct_shingles_contaminated,
           CAST(COUNT(*) FILTER (WHERE 2 * n_hit >= n_sh) AS BIGINT)
             AS n_test_docs_contaminated
    FROM pd
    """),
)
def train_test_overlap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→test contamination METRIC (the report beside the
    decontaminate_docs FILTER): what fraction of the test split's
    distinct 3-gram shingles already appears anywhere in the train
    split, and how many test docs are majority-contaminated (≥50% of
    their shingles seen in train) — the number a benchmark owner quotes
    when deciding whether an eval is burned. Split assignment is the
    deterministic md5 32-bit routing shared with train_val_test_split;
    the probe is one shingle-keyed left join of test postings against
    the distinct train-shingle set (broadcast-or-shuffle by shingle —
    never doc×doc), the decontamination posture at any corpus scale."""
    from dopams_etl_spark.operators.quality import assign_split

    docs = assign_split(t(spark, sf_dir, "documents"), "doc_id")
    sh = docs.filter(F.col("split").isin("train", "test")).select(
        "doc_id",
        "split",
        F.explode(word_shingles("text", 3)).alias("shingle"),
    )
    train_sh = (
        sh.filter(F.col("split") == "train").select("shingle").distinct()
    )
    test_sh = sh.filter(F.col("split") == "test").select("doc_id", "shingle")
    joined = test_sh.join(
        train_sh.withColumn("hit", F.lit(1)), "shingle", "left"
    )
    per_doc = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sh"),
        F.count("hit").alias("n_hit"),
    )
    n_train = sh.filter(F.col("split") == "train").agg(
        F.countDistinct("doc_id").alias("n_train_docs")
    )
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_test_docs"),
        F.coalesce(F.sum("n_sh"), F.lit(0)).cast("long").alias(
            "n_test_shingles"
        ),
        F.round(
            F.try_divide(F.sum("n_hit").cast("double"), F.sum("n_sh")), 6
        ).alias("pct_shingles_contaminated"),
        F.count_if(2 * F.col("n_hit") >= F.col("n_sh")).alias(
            "n_test_docs_contaminated"
        ),
    ).crossJoin(F.broadcast(n_train)).select(
        "n_train_docs",
        "n_test_docs",
        "n_test_shingles",
        "pct_shingles_contaminated",
        "n_test_docs_contaminated",
    )


@register(
    "preference_pair_build",
    (
        "WITH " + _QUALITY_CTES + """,
    scored AS (
      -- DISTINCT q (dup2 census): quality is a deterministic function of
      -- the doc, so the re-join must not fan out on a duplicated doc_id
      -- (the engine scores per ROW, one output per input row)
      SELECT d.doc_id, d.source, d.lang, q.quality
      FROM documents d
      JOIN (SELECT DISTINCT doc_id, quality FROM q) q ON d.doc_id = q.doc_id
      WHERE q.quality IS NOT NULL),
    pairs AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             first(doc_id ORDER BY quality DESC, doc_id ASC) AS chosen_id,
             first(doc_id ORDER BY quality ASC, doc_id ASC) AS rejected_id,
             MAX(quality) AS cq, MIN(quality) AS rq
      FROM scored GROUP BY source, lang
      HAVING COUNT(*) >= 2 AND ROUND(MAX(quality) - MIN(quality), 6) >= 0.05)
    SELECT source, lang, n_docs, chosen_id, rejected_id,
           ROUND(cq, 6) AS chosen_quality,
           ROUND(rq, 6) AS rejected_quality,
           ROUND(cq - rq, 6) AS margin
    FROM pairs
    """
    ).replace("{stop}", _STOP_EN),
)
def preference_pair_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RLHF preference-pair mining: within each (source, lang) stratum,
    pair the highest-quality document (chosen) against the lowest
    (rejected), keeping only pairs whose quality margin clears 0.05 —
    the standard construction for preference-model / DPO training data
    when explicit human rankings don't exist (quality heuristics stand
    in as the ranking signal). One hash aggregate per stratum: the
    arg-max/arg-min land in the same pass as the count via tuple
    ``max_by``/``min_by`` (tie-break: lower doc_id, stated identically
    in DuckDB's ordered-``first``), so no window, no self-join, no
    per-stratum sort — grows with |strata|, not documents. The margin
    filter compares ROUNDED margins on both sides, so an engine-side
    sub-ulp quality difference can't flip a pair in or out at the
    threshold (quality itself is fixed-order IEEE arithmetic — bitwise
    reproducible — making this belt-and-braces)."""
    docs = t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        "lang",
        quality_score("text").alias("quality"),
    ).filter(F.col("quality").isNotNull())
    pairs = (
        scored.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr(
                "max_by(doc_id, struct(quality, -doc_id))"
            ).alias("chosen_id"),
            F.expr(
                "min_by(doc_id, struct(quality, doc_id))"
            ).alias("rejected_id"),
            F.max("quality").alias("cq"),
            F.min("quality").alias("rq"),
        )
        .filter(
            (F.col("n_docs") >= 2)
            & (F.round(F.col("cq") - F.col("rq"), 6) >= 0.05)
        )
    )
    return pairs.select(
        "source",
        "lang",
        "n_docs",
        "chosen_id",
        "rejected_id",
        F.round("cq", 6).alias("chosen_quality"),
        F.round("rq", 6).alias("rejected_quality"),
        F.round(F.col("cq") - F.col("rq"), 6).alias("margin"),
    )


@register(
    "bitext_margin_pairs",
    ann_notnull("""
    WITH x AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE label < 5),
    y AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
          WHERE label >= 5),
    s AS (SELECT x.vec_id AS xid, y.vec_id AS yid,
                 ROUND(list_dot_product(x.v, y.v)
                       / (sqrt(list_dot_product(x.v, x.v))
                          * sqrt(list_dot_product(y.v, y.v))), 6) AS cos
          FROM x JOIN y ON TRUE),
    fx AS (SELECT xid, yid, cos,
                  row_number() OVER (PARTITION BY xid
                                     ORDER BY cos DESC, yid ASC) AS rn
           FROM s),
    fy AS (SELECT yid, xid, cos,
                  row_number() OVER (PARTITION BY yid
                                     ORDER BY cos DESC, xid ASC) AS rn
           FROM s),
    dx AS (SELECT xid,
                  CAST(SUM(CAST(round(cos * 1000000) AS BIGINT)) AS BIGINT)
                    AS sx,
                  CAST(COUNT(*) AS BIGINT) AS nx
           FROM fx WHERE rn <= 4 GROUP BY xid),
    dy AS (SELECT yid,
                  CAST(SUM(CAST(round(cos * 1000000) AS BIGINT)) AS BIGINT)
                    AS sy,
                  CAST(COUNT(*) AS BIGINT) AS ny
           FROM fy WHERE rn <= 4 GROUP BY yid),
    cand AS (
      SELECT fx.xid, fx.yid, fx.cos,
             CASE WHEN (sx / CAST(nx AS DOUBLE) + sy / CAST(ny AS DOUBLE))
                       / 2.0 / 1000000.0 > 0
                  THEN ROUND(fx.cos / ((sx / CAST(nx AS DOUBLE)
                                        + sy / CAST(ny AS DOUBLE))
                                       / 2.0 / 1000000.0), 6)
             END AS margin
      FROM fx JOIN dx ON fx.xid = dx.xid
              JOIN dy ON fx.yid = dy.yid
      WHERE fx.rn <= 4),
    best AS (SELECT xid, yid, cos, margin,
                    row_number() OVER (PARTITION BY xid
                                       ORDER BY margin DESC, yid ASC) AS rn
             FROM cand)
    SELECT xid AS x_id, yid AS y_id, cos AS cos_sim, margin
    FROM best WHERE rn = 1 AND margin >= 1.0
    """),
)
def bitext_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bi-corpus pair mining (Artetxe & Schwenk ratio
    margin — the CCMatrix/LASER bitext construction) between the two
    label halves of the embeddings table: raw cosine ranks hub vectors
    above true matches, so each left vector's candidates are re-scored
    by cos/(mean of the two sides' 4-NN backgrounds) and the
    best-margin candidate ≥ 1.0 is kept. Two ``cosine_topk`` passes
    (each side's k-NN list doubles as its margin denominator) + one
    candidate re-rank — inherits the exact-path size gate; at scale the
    identical margin formula re-scores lsh/ivf candidate lists (the
    forward top-k IS the candidate set, exactly as the paper mines
    9 B sentence pairs). A non-positive k-NN background average (only
    possible in anti-correlated corpora — the ratio margin assumes
    near-neighbor cos >= 0) is explicitly nulled on BOTH engines, never
    divided through (ADVICE r10: a sign flip would silently invert the
    >= threshold cut)."""
    from dopams_etl_spark.operators.similarity import margin_mined_pairs

    emb = t(spark, sf_dir, "embeddings")
    return margin_mined_pairs(
        emb.filter(F.col("label") < 5),
        emb.filter(F.col("label") >= 5),
        "vec_id",
        "embedding",
        k=4,
        threshold=1.0,
    )


@register(
    "cross_doc_substring_runs",
    r"""
    WITH d AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
      FROM documents WHERE trim(text) <> ''),
    g AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             md5(array_to_string(ws[CAST(i AS INT):CAST(i + 4 AS INT)], ' '))
               AS h
      FROM d, LATERAL (SELECT unnest(range(1, len(ws) - 3)) AS i)
      WHERE len(ws) >= 5),
    keep AS (SELECT h FROM g GROUP BY h
             HAVING COUNT(*) <= 20 AND COUNT(DISTINCT doc_id) >= 2),
    g2 AS (SELECT g.* FROM g JOIN keep USING (h)),
    m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
          FROM g2 a JOIN g2 b ON a.h = b.h AND a.doc_id < b.doc_id),
    isl AS (SELECT da, db, pb - pa AS diag, pa,
                   pa - row_number() OVER (PARTITION BY da, db, pb - pa
                                           ORDER BY pa) AS grp
            FROM m),
    runs AS (SELECT da, db, diag, grp,
                    CAST(COUNT(*) AS BIGINT) AS run_len
             FROM isl GROUP BY 1, 2, 3, 4),
    pairs AS (
      SELECT da AS doc_a, db AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_runs,
             CAST(SUM(run_len) AS BIGINT) AS matched_spans,
             CAST(MAX(run_len) + 4 AS BIGINT) AS longest_run_words
      FROM runs GROUP BY da, db)
    SELECT * FROM pairs WHERE longest_run_words >= 8
    """,
)
def cross_doc_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document maximal verbatim runs — the PAIR-LOCALIZED half of
    exact-substring dedup (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better"): where ``repeated_ngram_spans`` scores
    each document's duplicated-span ratio, this reports WHICH document
    pairs share verbatim text and HOW LONG the longest shared run is —
    the suffix-array LCS answer, restated shuffle-friendly. Positional
    5-word spans (NOT distinct — positions matter) hash-join across
    documents under the standard max_df skew cap; matching position
    pairs on the same alignment diagonal (pb − pa) merge into maximal
    runs by gaps-and-islands (pa − row_number), so N adjacent matched
    spans collapse to one run of N + 4 words. All integers — no float
    parity surface. Scale: shuffles key on df-capped span hashes, then
    on (pair, diagonal); nothing pairwise ever leaves the matched-span
    set. Pairs reported at longest run >= 8 words."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    # r15 (guide §2.4): the documents parquet is one row group ⇒ one scan
    # task, and the span subtree below is referenced three times (df-cap
    # side + both self-join sides), so ~500 k span-md5s ran serially per
    # reference. Spread the doc rows first; every downstream result is
    # integer counts over a deterministic per-(pair,diag) ordering ⇒
    # partitioning-invariant. No-op at real scan parallelism.
    from dopams_etl_spark.partitioning import ensure_parallelism

    docs = ensure_parallelism(docs)
    ws = tokens("text")
    g = (
        docs.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= 5)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 4),
                    lambda i: F.struct(
                        i.cast("long").alias("pos"),
                        F.md5(
                            F.concat_ws(" ", F.slice(F.col("ws"), i, 5))
                        ).alias("h"),
                    ),
                )
            ).alias("sp"),
        )
        .select("doc_id", F.col("sp.pos").alias("pos"), F.col("sp.h").alias("h"))
    )
    keep = (
        g.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("occ"),
            F.countDistinct("doc_id").alias("df"),
        )
        .filter((F.col("occ") <= 20) & (F.col("df") >= 2))
        .select("h")
    )
    g2 = g.join(keep, "h")
    a = g2.select(
        F.col("doc_id").alias("da"), F.col("pos").alias("pa"), "h"
    )
    b = g2.select(
        F.col("doc_id").alias("db"), F.col("pos").alias("pb"), "h"
    )
    m = a.join(b, "h").filter(F.col("da") < F.col("db")).select(
        "da", "db", "pa", (F.col("pb") - F.col("pa")).alias("diag")
    )
    wisl = Window.partitionBy("da", "db", "diag").orderBy("pa")
    runs = (
        m.select(
            "da",
            "db",
            "diag",
            (F.col("pa") - F.row_number().over(wisl)).alias("grp"),
        )
        .groupBy("da", "db", "diag", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return (
        runs.groupBy(
            F.col("da").alias("doc_a"), F.col("db").alias("doc_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_runs"),
            F.sum("run_len").alias("matched_spans"),
            (F.max("run_len") + 4).alias("longest_run_words"),
        )
        .filter(F.col("longest_run_words") >= 8)
    )


# ONE constant set for both the oracle generator and the Spark greedy —
# the r10 mu bug (1-lam vs literal 0.3) was exactly a two-copies drift
MMR_LAM, MMR_MU, MMR_N_CAND, MMR_N_SEL = 0.7, 0.3, 12, 5


def _mmr_pool_exact_sql(n_cand: int = MMR_N_CAND) -> str:
    """The brute-force candidate-pool CTEs for the MMR oracle: exact
    cosine top-``n_cand`` of probe vec_id=0 (the ``cosine_topk``
    twin). Produces ``cand(c_id, cv, rel)``."""
    return ann_notnull(f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
               WHERE vec_id = 0),
    c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv
          FROM embeddings WHERE vec_id <> 0),
    s AS (SELECT c_id, cv,
                 ROUND(list_dot_product(qv, cv)
                       / (sqrt(list_dot_product(qv, qv))
                          * sqrt(list_dot_product(cv, cv))), 6) AS rel,
                 row_number() OVER (
                   ORDER BY ROUND(list_dot_product(qv, cv)
                       / (sqrt(list_dot_product(qv, qv))
                          * sqrt(list_dot_product(cv, cv))), 6) DESC,
                   c_id ASC) AS rn
          FROM c CROSS JOIN q),
    cand AS (SELECT c_id, cv, rel FROM s WHERE rn <= {n_cand})""")


def _mmr_pool_lsh_sql(n_cand: int = MMR_N_CAND, planes: int = 4) -> str:
    """The LSH-bucketed candidate-pool CTEs for the MMR oracle — the
    documented 100 TB pool path, oracle-replicated: the probe joins the
    corpus only within its random-hyperplane bucket (the
    ``lsh_topk_embeddings`` plane literals via ``_lsh_bucket_sql``),
    then exact cosine ranks the in-bucket candidates. Produces the
    same ``cand(c_id, cv, rel)`` contract as the exact pool."""
    return ann_notnull(f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv,
                      {_lsh_bucket_sql("embedding::DOUBLE[]", 64, planes)}
                        AS bucket
               FROM embeddings WHERE vec_id = 0),
    c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv,
                 {_lsh_bucket_sql("embedding::DOUBLE[]", 64, planes)}
                   AS bucket
          FROM embeddings WHERE vec_id <> 0),
    s AS (SELECT c_id, cv,
                 -- + 0.0 mirrors lsh_topk's engine-side cos_sim
                 -- canonicalization (bucket-mates can be anti-correlated,
                 -- so the rounded rel is sign-indefinite)
                 ROUND(list_dot_product(qv, cv)
                       / (sqrt(list_dot_product(qv, qv))
                          * sqrt(list_dot_product(cv, cv))), 6) + 0.0 AS rel,
                 row_number() OVER (
                   ORDER BY ROUND(list_dot_product(qv, cv)
                       / (sqrt(list_dot_product(qv, qv))
                          * sqrt(list_dot_product(cv, cv))), 6) DESC,
                   c_id ASC) AS rn
          FROM c JOIN q USING (bucket)),
    cand AS (SELECT c_id, cv, rel FROM s WHERE rn <= {n_cand})""")


def _mmr_oracle(
    pool_sql: str | None = None,
    n_sel: int = MMR_N_SEL,
    lam: float = MMR_LAM,
    mu: float = MMR_MU,
) -> str:
    """Unrolled-greedy MMR oracle: the sequential argmax has no
    closed SQL form, but ``n_sel`` is a constant, so each selection
    step becomes one CTE that re-scores the remaining candidates
    against the union of prior picks (the ``_bpe_encode_oracle``
    unrolling pattern). The candidate pool is PLUGGABLE — any CTE
    chain producing ``cand(c_id, cv, rel)`` (exact brute-force or the
    LSH-bucketed scale path) feeds the SAME greedy tail, so the two
    registered MMR variants cannot drift in their selection logic.
    Scores stay RAW doubles — both engines compute
    lam*rel - mu*maxsim from identically-rounded inputs with the same
    two multiplies and subtract, so ordering is bit-identical and no
    rounding is needed before the tie-broken argmax. ``mu`` is an
    EXPLICIT literal, not ``1 - lam``: ``1 - 0.7`` is the double
    0.30000000000000004, and embedding that expression on one side but
    the literal 0.3 on the other shifts raw scores by an ulp — enough
    to flip the repr-hashing driver gate (and, at a near-tie, a pick)."""
    head = (pool_sql if pool_sql is not None else _mmr_pool_exact_sql()) + f""",
    p0 AS (SELECT a.c_id AS ia, b.c_id AS ib,
                  ROUND(list_dot_product(a.cv, b.cv)
                        / (sqrt(list_dot_product(a.cv, a.cv))
                           * sqrt(list_dot_product(b.cv, b.cv))), 6)
                    AS sim
           FROM cand a JOIN cand b ON a.c_id < b.c_id),
    psym AS (SELECT ia, ib, sim FROM p0
             UNION ALL SELECT ib, ia, sim FROM p0),
    sel1 AS (SELECT c_id, rel, {lam} * rel - {mu} * 0.0 AS score
             FROM cand ORDER BY {lam} * rel DESC, c_id ASC LIMIT 1)"""
    steps = []
    for i in range(2, n_sel + 1):
        prev = " UNION ALL ".join(
            f"SELECT c_id FROM sel{j}" for j in range(1, i)
        )
        steps.append(f"""
    rem{i} AS (
      SELECT c.c_id, c.rel, MAX(p.sim) AS ms
      FROM cand c JOIN psym p ON p.ia = c.c_id
                              AND p.ib IN ({prev})
      WHERE c.c_id NOT IN ({prev})
      GROUP BY c.c_id, c.rel),
    sel{i} AS (SELECT c_id, rel,
                      {lam} * rel - {mu} * ms AS score
               FROM rem{i}
               ORDER BY {lam} * rel - {mu} * ms DESC, c_id ASC
               LIMIT 1)""")
        # noqa: E501
    tail = "\n    UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS pick, c_id AS vec_id,"
        f" rel AS relevance, score AS mmr_score FROM sel{i}"
        for i in range(1, n_sel + 1)
    )
    return head + "," + ",".join(steps) + "\n    " + tail


@register("mmr_diversified_search", _mmr_oracle())
def mmr_diversified_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998) — the diversity-aware retrieval layer RAG pipelines put
    on top of raw similarity search: from the query vector's cosine
    top-12 candidate pool, greedily select 5 results maximizing
    0.7·relevance − 0.3·max-similarity-to-already-selected, so
    near-duplicate hits (which a plain top-k returns as a block) are
    demoted in favor of coverage. Architecture: the candidate pool and
    its pairwise cosines are Spark plans (the same size-gated
    ``cosine_topk`` machinery as the exact ANN family — at corpus scale
    the pool comes from lsh/ivf_topk instead, identically); the greedy
    argmax is inherently sequential over k=12 rows, so it runs
    driver-side on the collected candidate table — the kmeans-centroid
    collect pattern, k-bounded at any corpus scale. Scores stay raw
    doubles (identical IEEE ops on identically-rounded-6 inputs on both
    engines); ties break on candidate id."""
    from dopams_etl_spark.operators.similarity import cosine_topk

    emb = t(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0)
    cand = cosine_topk(
        probe, emb, "vec_id", "vec_id", "embedding", k=MMR_N_CAND
    ).select("c_id", F.col("cos_sim").alias("rel"))
    return _mmr_greedy_from_pool(spark, emb, cand)


def _mmr_greedy_from_pool(spark: SparkSession, emb: DataFrame, cand: DataFrame) -> DataFrame:
    """The shared MMR machinery downstream of the candidate pool: the
    pool's pairwise cosines are a Spark plan (pool² is ≤ n_cand² = 144
    rows — bounded at any corpus scale), the inherently-sequential
    greedy argmax runs driver-side on the collected k-bounded tables
    (the kmeans-centroid collect pattern). ONE implementation feeds
    both registered MMR variants (exact pool and LSH-bucketed pool) —
    the selection logic cannot drift between them, mirroring the
    pluggable-``cand`` design of ``_mmr_oracle``.

    mu is an explicit module literal, NOT 1 - lam
    (= 0.30000000000000004): the oracle embeds the SAME constants,
    keeping raw scores bit-identical."""
    from dopams_etl_spark.operators.similarity import cosine

    lam, mu, n_sel = MMR_LAM, MMR_MU, MMR_N_SEL
    cv = cand.join(
        emb.select(F.col("vec_id").alias("c_id"), "embedding"), "c_id"
    ).select("c_id", "rel", "embedding")
    a = cv.select(
        F.col("c_id").alias("ia"), F.col("embedding").alias("va")
    )
    b = cv.select(
        F.col("c_id").alias("ib"), F.col("embedding").alias("vb")
    )
    pairs = a.join(b, F.col("ia") < F.col("ib")).select(
        "ia", "ib", F.round(cosine("va", "vb"), 6).alias("sim")
    )
    cand_rows = sorted(
        ((r["c_id"], r["rel"]) for r in cand.collect()), key=lambda x: x[0]
    )
    sim = {}
    for r in pairs.collect():
        sim[(r["ia"], r["ib"])] = r["sim"]
        sim[(r["ib"], r["ia"])] = r["sim"]
    selected: list[tuple[int, int, float, float]] = []
    chosen: list[int] = []
    remaining = dict(cand_rows)
    for step in range(1, n_sel + 1):
        if not remaining:  # pool smaller than n_sel: emit fewer picks,
            break  # exactly like the oracle's empty sel_i CTEs
        best = None
        for cid, rel in remaining.items():
            ms = max((sim[(cid, s)] for s in chosen), default=0.0)
            score = lam * rel - mu * ms
            key = (-score, cid)
            if best is None or key < best[0]:
                best = (key, cid, rel, score)
        _, cid, rel, score = best
        selected.append((step, cid, float(rel), float(score)))
        chosen.append(cid)
        del remaining[cid]
    return spark.createDataFrame(
        selected, "pick bigint, vec_id bigint, relevance double, mmr_score double"
    )


@register("mmr_over_lsh", _mmr_oracle(_mmr_pool_lsh_sql()))
def mmr_over_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-ranking composed over the BUCKETED ANN path
    end-to-end — the 100 TB composition ``mmr_diversified_search``'s
    docstring promises, proven as a driver-checkable query: the
    candidate pool is ``lsh_topk`` output (probe joins the corpus only
    within its random-hyperplane bucket — shuffle on bucket id, never
    the cross product, no size gate needed), and the identical greedy
    (shared ``_mmr_greedy_from_pool``) selects 5-of-top-12 maximizing
    0.7·relevance − 0.3·max-sim-to-selected. planes=4 (16 buckets)
    keeps the probe's bucket big enough to fill the 12-candidate pool
    at every tested SF; the oracle replicates the plane literals via
    ``_lsh_bucket_sql`` so BOTH the bucketing and the selection are
    value-checked."""
    from dopams_etl_spark.operators.similarity import lsh_topk

    emb = t(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0)
    cand = lsh_topk(
        probe,
        emb,
        "vec_id",
        "vec_id",
        "embedding",
        k=MMR_N_CAND,
        dim=64,
        planes=4,
    ).select("c_id", F.col("cos_sim").alias("rel"))
    return _mmr_greedy_from_pool(spark, emb, cand)


@register(
    "heaps_law_fit",
    r"""
    WITH dd AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(lower(trim(text)), '\s+') END
               AS toks
      FROM documents),
    bounds AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM dd),
    db AS (SELECT doc_id, toks,
                  CAST(((doc_id - mn) * 32) // (mx - mn + 1) AS BIGINT)
                    AS b
           FROM dd CROSS JOIN bounds),
    tok_b AS (SELECT b, CAST(SUM(len(toks)) AS BIGINT) AS n_tok
              FROM db GROUP BY b),
    fo AS (SELECT tok, MIN(b) AS fb
           FROM (SELECT b, unnest(list_distinct(toks)) AS tok FROM db)
           GROUP BY tok),
    new_b AS (SELECT fb AS b, CAST(COUNT(*) AS BIGINT) AS n_new
              FROM fo GROUP BY fb),
    cum AS (
      SELECT tok_b.b,
             SUM(tok_b.n_tok) OVER w AS cum_tok,
             SUM(COALESCE(new_b.n_new, 0)) OVER w AS cum_voc
      FROM tok_b LEFT JOIN new_b ON tok_b.b = new_b.b
      WINDOW w AS (ORDER BY tok_b.b ROWS UNBOUNDED PRECEDING)),
    pts AS (SELECT b, ROUND(ln(CAST(cum_tok AS DOUBLE)), 6) AS x,
                   ROUND(ln(CAST(cum_voc AS DOUBLE)), 6) AS y,
                   cum_tok, cum_voc
            FROM cum WHERE cum_tok > 0 AND cum_voc > 0),
    acc AS (
      SELECT b, cum_tok, cum_voc,
             COUNT(*) OVER w AS np,
             SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
             SUM(x * y) OVER w AS sxy, SUM(x * x) OVER w AS sxx,
             row_number() OVER (ORDER BY b DESC) AS rn
      FROM pts
      WINDOW w AS (ORDER BY b ROWS UNBOUNDED PRECEDING))
    SELECT CAST(np AS BIGINT) AS n_points,
           CAST(cum_tok AS BIGINT) AS n_tokens,
           CAST(cum_voc AS BIGINT) AS n_types,
           -- + 0.0 canonicalizes IEEE negative zero: a flat curve can
           -- round to -0.0 on one engine and 0.0 on the other, and the
           -- strict gate hashes raw reprs
           ROUND((np * sxy - sx * sy)
                 / NULLIF(np * sxx - sx * sx, 0.0), 6) + 0.0 AS beta,
           ROUND(exp((sy - (np * sxy - sx * sy)
                           / NULLIF(np * sxx - sx * sx, 0.0) * sx) / np),
                 6) AS k_coef
    FROM acc WHERE rn = 1
    """,
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V(n) = K·n^β — how fast the corpus vocabulary
    grows with tokens read, the curve that sizes a tokenizer's
    open-vocabulary exposure and flags synthetic/templated corpora
    (natural text: β ≈ 0.4–0.6; a flat β says near-duplicate boilerplate,
    a β near 1 says noise). Scale shape: the growth curve samples at 32
    doc-id-range buckets, NOT per doc — token first occurrences are one
    shingle-style postings aggregate (token → min bucket, bounded by
    |vocab|), per-bucket totals are exact BIGINTs, and every window
    (cumulative counts, the OLS moment sums, the last-row pick) runs
    over ≤ 32 rows. The log-log OLS is assembled from ordered-frame
    sums at the last row (bit-identical adds; ln values rounded to 6
    first) — no float aggregate whose summation order the engine picks.
    try_divide/NULLIF yields NULL β on a degenerate single-point
    curve."""
    from dopams_etl_spark.functions.textfns import tokens

    docs = t(spark, sf_dir, "documents")
    dd = docs.select(
        "doc_id",
        F.when(F.trim("text") == "", F.array().cast("array<string>"))
        .otherwise(tokens("text"))
        .alias("toks"),
    )
    bounds = dd.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    )
    db = dd.crossJoin(F.broadcast(bounds)).select(
        "doc_id",
        "toks",
        F.expr("CAST(((doc_id - mn) * 32) div (mx - mn + 1) AS BIGINT)").alias(
            "b"
        ),
    )
    tok_b = db.groupBy("b").agg(
        F.sum(F.size("toks")).cast("long").alias("n_tok")
    )
    fo = (
        db.select("b", F.explode(F.array_distinct("toks")).alias("tok"))
        .groupBy("tok")
        .agg(F.min("b").alias("fb"))
    )
    new_b = fo.groupBy(F.col("fb").alias("b")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        tok_b.join(new_b, "b", "left")
        .select(
            "b",
            F.sum("n_tok").over(w).alias("cum_tok"),
            F.sum(F.coalesce("n_new", F.lit(0))).over(w).alias("cum_voc"),
        )
    )
    pts = cum.filter((F.col("cum_tok") > 0) & (F.col("cum_voc") > 0)).select(
        "b",
        "cum_tok",
        "cum_voc",
        F.round(F.log(F.col("cum_tok").cast("double")), 6).alias("x"),
        F.round(F.log(F.col("cum_voc").cast("double")), 6).alias("y"),
    )
    acc = pts.select(
        "b",
        "cum_tok",
        "cum_voc",
        F.count(F.lit(1)).over(w).alias("np"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.row_number().over(Window.orderBy(F.col("b").desc())).alias("rn"),
    ).filter(F.col("rn") == 1)
    slope = F.try_divide(
        F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy"),
        F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx"),
    )
    return acc.select(
        F.col("np").cast("long").alias("n_points"),
        F.col("cum_tok").cast("long").alias("n_tokens"),
        F.col("cum_voc").cast("long").alias("n_types"),
        (F.round(slope, 6) + 0.0).alias("beta"),
        F.round(
            F.exp((F.col("sy") - slope * F.col("sx")) / F.col("np")), 6
        ).alias("k_coef"),
    )


ANN_RECALL_PLANES, ANN_RECALL_TABLES = 3, 16


def _lsh_tables_sql(vec_expr: str, planes: int, tables: int) -> str:
    """Per-table LSH bucket CASE over a table index column ``tbl`` —
    the OR-amplification twin of ``lsh_topk(tables>1)``: table t uses
    the seed-(42+1000t) hyperplane set, exactly ``operators/similarity``'s
    convention, each replicated via ``_lsh_bucket_sql``."""
    whens = "".join(
        f" WHEN {t} THEN ({_lsh_bucket_sql(vec_expr, 64, planes, 42 + 1000 * t)})"
        for t in range(tables)
    )
    return f"CASE tbl{whens} END"


@register(
    "ann_recall_report",
    ann_notnull(f"""
    WITH p AS (SELECT vec_id AS p_id, embedding::DOUBLE[] AS pv
               FROM embeddings WHERE vec_id < 20),
    c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv
          FROM embeddings),
    ex AS (SELECT p_id, c_id,
                  row_number() OVER (PARTITION BY p_id ORDER BY
                    ROUND(list_dot_product(pv, cv)
                          / (sqrt(list_dot_product(pv, pv))
                             * sqrt(list_dot_product(cv, cv))), 6) DESC,
                    c_id ASC) AS rn
           FROM p JOIN c ON p_id <> c_id),
    exact3 AS (SELECT p_id, c_id FROM ex WHERE rn <= 3),
    tbls AS (SELECT unnest(range(0, {ANN_RECALL_TABLES})) AS tbl),
    pb AS (SELECT p_id, pv, tbl,
                  {_lsh_tables_sql("pv", ANN_RECALL_PLANES, ANN_RECALL_TABLES)}
                    AS bucket
           FROM p CROSS JOIN tbls),
    cb AS (SELECT c_id, cv, tbl,
                  {_lsh_tables_sql("cv", ANN_RECALL_PLANES, ANN_RECALL_TABLES)}
                    AS bucket
           FROM c CROSS JOIN tbls),
    cand AS (SELECT DISTINCT p_id, c_id
             FROM pb JOIN cb USING (tbl, bucket) WHERE p_id <> c_id),
    ls AS (SELECT cand.p_id, cand.c_id,
                  row_number() OVER (PARTITION BY cand.p_id ORDER BY
                    ROUND(list_dot_product(pv, cv)
                          / (sqrt(list_dot_product(pv, pv))
                             * sqrt(list_dot_product(cv, cv))), 6) DESC,
                    cand.c_id ASC) AS rn
           FROM cand JOIN p ON cand.p_id = p.p_id
                     JOIN c ON cand.c_id = c.c_id),
    lsh3 AS (SELECT p_id, c_id FROM ls WHERE rn <= 3),
    per_probe AS (
      SELECT e.p_id,
             CAST(COUNT(*) AS BIGINT) AS n_exact,
             CAST(COUNT(l.c_id) AS BIGINT) AS n_hit
      FROM exact3 e LEFT JOIN lsh3 l
        ON e.p_id = l.p_id AND e.c_id = l.c_id
      GROUP BY e.p_id)
    SELECT p_id, n_exact, n_hit,
           ROUND(n_hit / CAST(n_exact AS DOUBLE), 6) AS recall,
           ROUND(SUM(n_hit) OVER () / CAST(SUM(n_exact) OVER () AS DOUBLE),
                 6) AS mean_recall
    FROM per_probe
    """),
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality readout, driver-checkable: recall@3 of the
    OR-AMPLIFIED LSH index (planes=3, tables=16 — the configuration
    the 100 TB path would deploy, pytest-measured at ~0.98 recall where
    the single-table planes=6 registered query measures ~0.08 on these
    random-vector embeddings, ANN's worst case) against the exact
    ``cosine_topk`` ground truth, per probe and micro-averaged — the
    number that decides whether the bucketed index is GOOD ENOUGH
    before swapping it in for the size-gated exact scan. Previously
    this lived only as a pytest recall floor
    (``test_lsh_topk_amplified_recall_sf001``); as a registered query
    the measurement itself is oracle-verified: the oracle replicates
    all 16 per-table hyperplane sets (seed 42+1000t, the
    ``lsh_topk(tables>1)`` convention) and the cross-table candidate
    dedup. The probe set is 20 rows, so the report is a 20-row left
    join of two top-3 tables — bounded at any corpus scale."""
    from dopams_etl_spark.operators.similarity import cosine_topk, lsh_topk

    emb = t(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") < 20)
    exact3 = cosine_topk(
        probe, emb, "vec_id", "vec_id", "embedding", k=3
    ).select("p_id", "c_id")
    lsh3 = lsh_topk(
        probe,
        emb,
        "vec_id",
        "vec_id",
        "embedding",
        k=3,
        dim=64,
        planes=ANN_RECALL_PLANES,
        tables=ANN_RECALL_TABLES,
    ).select(F.col("p_id").alias("lp"), F.col("c_id").alias("lc"))
    per_probe = (
        exact3.join(
            lsh3,
            (F.col("p_id") == F.col("lp")) & (F.col("c_id") == F.col("lc")),
            "left",
        )
        .groupBy("p_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("lc").alias("n_hit"),
        )
    )
    wall = Window.partitionBy()
    return per_probe.select(
        "p_id",
        "n_exact",
        "n_hit",
        F.round(F.col("n_hit") / F.col("n_exact").cast("double"), 6).alias(
            "recall"
        ),
        F.round(
            F.sum("n_hit").over(wall)
            / F.sum("n_exact").over(wall).cast("double"),
            6,
        ).alias("mean_recall"),
    )


# The three LSH operating points the trade-off table measures: the
# registered single-table default (planes=6 — tiny candidate sets, low
# recall on random vectors), a mid amplification, and the deployed
# planes=3/tables=16 config ann_recall_report certifies at recall ~0.98.
ANN_COST_CONFIGS: tuple[tuple[int, int], ...] = ((6, 1), (4, 8), (3, 16))


def _ann_cost_oracle(configs: tuple[tuple[int, int], ...]) -> str:
    """One UNION ALL branch per (planes, tables) operating point, each
    replicating that config's per-table hyperplane sets via
    ``_lsh_tables_sql`` exactly as ``ann_recall_report`` does; the exact
    ground-truth top-3 and the probe count are shared CTEs."""
    branch_ctes = []
    branch_selects = []
    for planes, tables in configs:
        s = f"{planes}_{tables}"
        branch_ctes.append(
            f""",
    tbls_{s} AS (SELECT unnest(range(0, {tables})) AS tbl),
    pb_{s} AS (SELECT p_id, pv, tbl,
                  {_lsh_tables_sql("pv", planes, tables)} AS bucket
           FROM p CROSS JOIN tbls_{s}),
    cb_{s} AS (SELECT c_id, cv, tbl,
                  {_lsh_tables_sql("cv", planes, tables)} AS bucket
           FROM c CROSS JOIN tbls_{s}),
    cand_{s} AS (SELECT DISTINCT p_id, c_id
             FROM pb_{s} JOIN cb_{s} USING (tbl, bucket)
             WHERE p_id <> c_id),
    nc_{s} AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates
               FROM cand_{s}),
    ls_{s} AS (SELECT cand_{s}.p_id, cand_{s}.c_id,
                  row_number() OVER (PARTITION BY cand_{s}.p_id ORDER BY
                    ROUND(list_dot_product(pv, cv)
                          / (sqrt(list_dot_product(pv, pv))
                             * sqrt(list_dot_product(cv, cv))), 6) DESC,
                    cand_{s}.c_id ASC) AS rn
           FROM cand_{s} JOIN p ON cand_{s}.p_id = p.p_id
                     JOIN c ON cand_{s}.c_id = c.c_id),
    hit_{s} AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
             FROM exact3 e
             JOIN (SELECT p_id, c_id FROM ls_{s} WHERE rn <= 3) l
               ON e.p_id = l.p_id AND e.c_id = l.c_id)"""
        )
        branch_selects.append(
            f"""    SELECT {planes} AS planes, {tables} AS tables,
           np.n_probes, nc_{s}.n_candidates,
           ROUND(nc_{s}.n_candidates
                 / NULLIF(CAST(np.n_probes AS DOUBLE), 0.0), 6)
             AS mean_candidates,
           ROUND(hit_{s}.n_hit
                 / NULLIF(CAST(ex_tot.n_exact AS DOUBLE), 0.0), 6)
             AS recall3
    FROM nc_{s} CROSS JOIN hit_{s} CROSS JOIN np CROSS JOIN ex_tot"""
        )
    union = "\n    UNION ALL\n".join(branch_selects)
    return ann_notnull(f"""
    WITH p AS (SELECT vec_id AS p_id, embedding::DOUBLE[] AS pv
               FROM embeddings WHERE vec_id < 20),
    c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv
          FROM embeddings),
    np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_probes FROM p),
    ex AS (SELECT p_id, c_id,
                  row_number() OVER (PARTITION BY p_id ORDER BY
                    ROUND(list_dot_product(pv, cv)
                          / (sqrt(list_dot_product(pv, pv))
                             * sqrt(list_dot_product(cv, cv))), 6) DESC,
                    c_id ASC) AS rn
           FROM p JOIN c ON p_id <> c_id),
    exact3 AS (SELECT p_id, c_id FROM ex WHERE rn <= 3),
    ex_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact3)
    {"".join(branch_ctes)}
{union}
    """)


@register("ann_cost_recall_tradeoff", _ann_cost_oracle(ANN_COST_CONFIGS))
def ann_cost_recall_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN deployment decision as a driver-checked TABLE:
    ``ann_recall_report`` certifies the blessed planes=3/tables=16 point
    at recall ~0.98, but a recall number alone hides what it costs — every
    surfaced candidate is one exact cosine at re-rank time, so the mean
    candidate-set size per probe IS the per-probe compute bill of an
    operating point. One row per (planes, tables) config — the registered
    single-table default (6, 1), a mid amplification (4, 8), and the
    deployed (3, 16) — each measuring candidate cost
    (``lsh_candidates``, the candidate-generation stage of ``lsh_topk``
    exposed pre-ranking) and recall@3 against the shared exact
    ``cosine_topk`` ground truth. The oracle replicates every config's
    per-table hyperplane sets (seed 42+1000t, the ``lsh_topk``
    convention) and re-ranks inside each candidate set. The probe set is
    20 rows and each branch reduces to one-row aggregates, so the report
    stays 3 rows at any corpus scale; the ground-truth arm is the
    size-gated exact baseline, exactly as in ``ann_recall_report``."""
    from dopams_etl_spark.operators.similarity import (
        _cos_pre,
        cosine_topk,
        lsh_candidates,
    )

    emb = t(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") < 20)
    # the probe COUNT follows the shared ANN null-vector convention too
    # (operators filter NULL vectors at entry; the oracle's probe CTE
    # reads the ann_notnull relation) — without this the cost
    # denominator disagrees the moment a fixture carries NULL vectors
    n_probes = probe.filter(F.col("embedding").isNotNull()).agg(
        F.count(F.lit(1)).alias("n_probes")
    )
    exact3 = cosine_topk(
        probe, emb, "vec_id", "vec_id", "embedding", k=3
    ).select("p_id", "c_id")
    ex_tot = exact3.agg(F.count(F.lit(1)).alias("n_exact"))
    rows = None
    for planes, tables in ANN_COST_CONFIGS:
        cand = lsh_candidates(
            probe,
            emb,
            "vec_id",
            "vec_id",
            "embedding",
            dim=64,
            planes=planes,
            tables=tables,
        )
        nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
        w = Window.partitionBy("p_id").orderBy(
            F.col("cos_sim").desc(), F.col("c_id").asc()
        )
        lsh3 = (
            # r15: lsh_candidates now carries both row norms — one dot
            # per candidate instead of three array folds (bit-identical)
            cand.withColumn(
                "cos_sim",
                F.round(
                    _cos_pre("p_vec", "c_vec", F.col("p_nrm"), F.col("c_nrm")), 6
                ),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("p_id", "c_id")
        )
        hit = exact3.join(lsh3, ["p_id", "c_id"]).agg(
            F.count(F.lit(1)).alias("n_hit")
        )
        row = (
            nc.crossJoin(F.broadcast(hit))
            .crossJoin(F.broadcast(n_probes))
            .crossJoin(F.broadcast(ex_tot))
            .select(
                F.lit(planes).alias("planes"),
                F.lit(tables).alias("tables"),
                "n_probes",
                "n_candidates",
                # try_divide / NULLIF (r12 fuzz census): a degenerate
                # fixture with <=1 embedding has zero probes / an empty
                # exact top-3, and under ANSI the bare '/' ABORTS on the
                # zero denominator where DuckDB's NULLIF yields NULL
                F.round(
                    F.try_divide(
                        F.col("n_candidates"),
                        F.col("n_probes").cast("double"),
                    ),
                    6,
                ).alias("mean_candidates"),
                F.round(
                    F.try_divide(
                        F.col("n_hit"), F.col("n_exact").cast("double")
                    ),
                    6,
                ).alias("recall3"),
            )
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows

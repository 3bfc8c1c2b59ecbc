import hashlib
import itertools
import re

from pyspark.sql import functions as F

from dopams_etl_spark.functions.ids import md5_words
from dopams_etl_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_dups,
    tiered_fingerprint_dedup,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again today"),
    (2, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
    (3, "completely different text about spark catalyst optimizer and shuffles here"),
    (4, "The quick  brown fox jumps over the lazy dog again and again today"),
]


def test_exact_dedup_normalizes_case_and_whitespace(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    kept = exact_dedup(df, "text", "doc_id").collect()
    by_id = {r["doc_id"]: r["dup_count"] for r in kept}
    assert 4 not in by_id          # doc 4 collapses into doc 1
    assert by_id[1] == 2


def test_minhash_signature_not_degenerate(spark):
    df = spark.createDataFrame(DOCS[:1], ["doc_id", "text"])
    sig = minhash_signature(df, "doc_id", "text", num_hashes=16).collect()[0]["minhash"]
    assert len(set(sig)) > 8  # advisor regression: all entries identical before fix


def test_minhash_signature_drops_empty_docs(spark):
    df = spark.createDataFrame([(1, "hello world text"), (2, "")], ["doc_id", "text"])
    ids = {r["id"] for r in minhash_signature(df, "doc_id", "text").collect()}
    assert ids == {1}


def test_lsh_finds_near_dup_and_est_jaccard_below_one(spark):
    df = spark.createDataFrame(DOCS[:3], ["doc_id", "text"])
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in
             lsh_candidate_pairs(df, "doc_id", "text", num_hashes=16, bands=8).collect()}
    assert (1, 2) in pairs
    assert 0.0 < pairs[(1, 2)] <= 1.0
    assert (1, 3) not in pairs


def test_lsh_est_tracks_exact_jaccard(spark):
    df = spark.createDataFrame(DOCS[:3], ["doc_id", "text"])
    exact = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.0).collect()}
    est = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in
           lsh_candidate_pairs(df, "doc_id", "text", num_hashes=32, bands=16).collect()}
    assert abs(est[(1, 2)] - exact[(1, 2)]) < 0.35  # coarse: 32 hashes


def test_ngram_jaccard_max_df_drops_ubiquitous_shingles(spark):
    rows = [(i, "common shingle text here plus unique" + str(i)) for i in range(5)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    none_kept = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.1, max_df=1)
    assert none_kept.count() == 0  # every shared shingle exceeds max_df=1


def test_simhash_near_dups_hamming(spark):
    df = spark.createDataFrame(DOCS[:3], ["doc_id", "text"])
    sigs = {r["doc_id"]: r["simhash"] for r in simhash64(df, "text").collect()}
    assert len(set(sigs.values())) == 3
    near = {(r["id_a"], r["id_b"]): r["hamming"] for r in
            simhash_near_dups(df, "doc_id", "text", max_hamming=10).collect()}
    assert (1, 2) in near
    ham_12 = near[(1, 2)]
    ham_13 = bin(sigs[1] ^ sigs[3]).count("1")
    assert ham_12 < ham_13  # near-dup pair closer than unrelated pair


def _reference_simhash(text):
    """Pure-Python SimHash in the oracle's bit order: bit b is hex char
    b//4 of md5(token), nibble bit b%4 (least significant first), voted
    over the distinct lowercased whitespace tokens; a set majority bit b
    contributes 2^b to the signed 64-bit signature."""
    if text is None:
        return None
    votes = [0] * 64
    for tok in set(re.split(r"\s+", text.strip(" ").lower())):
        hx = hashlib.md5(tok.encode()).hexdigest()
        for b in range(64):
            votes[b] += 1 if (int(hx[b // 4], 16) >> (b % 4)) & 1 else -1
    v = sum(1 << b for b in range(64) if votes[b] > 0)
    return v - (1 << 64) if v >= 1 << 63 else v


# "b": md5 92eb5ffe… — the first word's top bit is set, so it becomes the
# sign bit of the packed long (and hex char 15 'c' sets the signature's).
SIMHASH_CASES = [
    (1, "b"),
    (2, "b b B a"),
    (3, "the quick brown fox the quick"),
    (4, ""),
    (5, None),
    (6, DOCS[0][1]),
    (7, "  Padded   words\tand tabs  "),
]


def test_simhash_matches_pure_python_reference(spark):
    assert int(hashlib.md5(b"b").hexdigest()[:8], 16) >= 1 << 31
    df = spark.createDataFrame(SIMHASH_CASES, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in simhash64(df, "text").collect()}
    assert got == {i: _reference_simhash(text) for i, text in SIMHASH_CASES}
    assert got[1] < 0 and got[5] is None


def test_md5_words_are_the_leading_hex_words(spark):
    keys = ["", "a", "b", "dopams", "x" * 100]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    hi, lo = md5_words(F.md5("k"))
    got = {r["k"]: (r["hi"], r["lo"]) for r in df.select("k", hi.alias("hi"), lo.alias("lo")).collect()}
    want = {}
    for k in keys:
        hx = hashlib.md5(k.encode()).hexdigest()
        want[k] = (int(hx[:8], 16), int(hx[8:16], 16))
    assert got == want
    assert any(h >= 1 << 31 for h, _ in want.values())


def test_tiered_dedup_data_completeness_cascade(spark):
    df = spark.createDataFrame(
        [
            (1, "ram", "hyd", 30),
            (2, "ram", "hyd", 30),    # tier-1 dup of 1 (all fields present)
            (3, "ram", None, 30),     # city missing → tier 2 (name+age)
            (5, "ram", None, 30),     # tier-2 dup of 3
            (4, "shyam", "hyd", 40),  # tier-1 singleton
            (6, None, None, None),    # nothing complete → tier 0
        ],
        "pid long, name string, city string, age int",
    )
    out = {r["pid"]: r for r in
           tiered_fingerprint_dedup(df, "pid", [["name", "city", "age"], ["name", "age"]]).collect()}
    assert out[2]["canonical_id"] == 1 and out[2]["tier"] == 1 and out[2]["confidence"] == 0.95
    assert out[5]["canonical_id"] == 3 and out[5]["tier"] == 2 and out[5]["confidence"] == 0.9
    assert out[4]["tier"] == 1 and out[4]["canonical_id"] == 4  # singleton keeps own id
    assert out[6]["tier"] == 0 and out[6]["canonical_id"] == 6


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing's core guarantee: documents sharing a substring of length
    >= k + window - 1 (here 8+8-1=15) select at least one common
    fingerprint; the fingerprint count is far below the gram count."""
    from dopams_etl_spark.operators.dedup import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, "AAAA " + shared + " BBBB"),
        (2, "xxxx yyyy " + shared + " zzzz"),
        (3, "completely different content with no overlap at all here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = winnow_fingerprints(df, "doc_id", "text", k=8, window=8)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared 15+ char substring must share a fingerprint"
    # density: ~2/(window+1) of grams get selected, not all of them
    assert len(by_doc[1]) < len(rows[0][1])


def test_bpe_token_count_known_values(spark):
    """Hand-segmented examples for the GPT-2-style pre-tokenizer count."""
    from dopams_etl_spark.functions.textfns import bpe_token_count
    from pyspark.sql import functions as F

    rows = [
        ("hello world", 2),        # [hello][ world]
        ("it's fine", 3),          # [it]['s][ fine]
        ("a1b2", 4),               # [a][1][b][2]
        ("wait... what?!", 4),     # [wait][...][ what][?!]
        ("", 0),
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], ["text"])
    got = [r["n"] for r in df.select(bpe_token_count("text").alias("n")).collect()]
    assert got == [n for _, n in rows]


def test_connected_components_chain_cycle_star(spark):
    """CC fixpoint on a graph with a 4-chain (diameter 3 — needs real
    propagation, not one hop), a 3-cycle, and a 2-star; labels are the
    component minimum."""
    from dopams_etl_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),        # chain
         (10, 11), (11, 12), (12, 10),  # cycle
         (20, 21), (20, 22)],           # star
        ["src", "dst"],
    )
    got = {r["node"]: r["label"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_empty_edges(spark):
    from dopams_etl_spark.operators.graph import connected_components

    edges = spark.createDataFrame([], "src long, dst long")
    assert connected_components(edges).count() == 0


def test_repetition_stats_hand_computed(spark):
    """Gopher repetition fractions on hand-worked examples."""
    from dopams_etl_spark.operators.quality import repetition_stats

    rows = [
        (1, "a b a b a"),        # "a b"x2 -> top2=4/5; single 5-gram -> dup5=0
        (2, "x x x x x x"),      # "x x"x5 -> capped 1.0; dup 5-gram covers all -> 1.0
        (3, "a b c d e f g"),    # all distinct -> top2=2/7, dup5=0
        (4, ""),                 # empty -> zeros
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["id"]: r for r in repetition_stats(df, "doc_id", "text").collect()}
    assert got[1]["top2_frac"] == 0.8 and got[1]["dup5_frac"] == 0.0
    assert got[2]["top2_frac"] == 1.0 and got[2]["dup5_frac"] == 1.0
    assert got[3]["top2_frac"] == round(2 / 7, 6) and got[3]["dup5_frac"] == 0.0
    assert got[4]["n_tokens"] == 0 and got[4]["top2_frac"] == 0.0 and got[4]["dup5_frac"] == 0.0


def test_chunk_documents_boundaries(spark):
    """Chunk math at the edges: short doc = 1 chunk; exact stride multiple
    has a full last chunk; remainder chunk carries overlap + leftovers;
    empty doc yields nothing; reassembling stride slices recovers the doc."""
    from dopams_etl_spark.operators.quality import chunk_documents

    def words(n):
        return " ".join(f"w{i}" for i in range(n))

    rows = [(1, words(7)), (2, words(90)), (3, words(91)), (4, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = chunk_documents(df, "doc_id", "text", chunk_tokens=50, overlap=10)
    by = {}
    for r in out.collect():
        by.setdefault(r["id"], []).append(r)
    for chunks in by.values():
        chunks.sort(key=lambda r: r["chunk_idx"])
    assert [c["n_tokens"] for c in by[1]] == [7]
    assert [c["n_tokens"] for c in by[2]] == [50, 50]          # [0..49], [40..89]
    assert [c["n_tokens"] for c in by[3]] == [50, 50, 11]      # last: [80..90]
    assert 4 not in by
    # stride-spliced reassembly recovers the original token stream
    toks = by[3][0]["chunk"].split()
    for c in by[3][1:]:
        toks += c["chunk"].split()[10:]
    assert toks == words(91).split()


def test_dedup_against_corpus_never_pairs_within_sides(spark):
    """Incremental dedup: batch docs match the corpus only — identical
    batch docs must NOT pair with each other, and the best (not first)
    corpus match wins."""
    from dopams_etl_spark.operators.dedup import dedup_against_corpus

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "alpha beta gamma delta zeta"),
         (3, "totally unrelated corpus text here")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon"),   # exact dup of 1
         (11, "alpha beta gamma delta epsilon"),   # identical to 10 — must not pair with it
         (12, "nothing in common with anything")],
        ["doc_id", "text"],
    )
    got = {r["id"]: r for r in
           dedup_against_corpus(batch, corpus, "doc_id", "text", threshold=0.5).collect()}
    assert set(got) == {10, 11}
    assert got[10]["dup_of"] == 1 and got[10]["jaccard"] == 1.0
    assert got[11]["dup_of"] == 1


def test_mixture_sample_rates_and_determinism(spark):
    """Per-stratum keep rates land near target (1/256 granularity over
    md5-uniform keys), rate 0/1 are exact, and membership is identical
    across repartitionings (pure function of the key, no sampler state)."""
    from dopams_etl_spark.operators.quality import mixture_sample

    rows = [(i, f"s{i % 4}") for i in range(4000)]
    df = spark.createDataFrame(rows, ["id", "src"])
    rates = {"s0": 1.0, "s1": 0.0, "s2": 0.25, "s3": 0.75}
    kept = mixture_sample(df, "id", "src", rates).groupBy("src").count().collect()
    by = {r["src"]: r["count"] for r in kept}
    assert by.get("s0") == 1000 and "s1" not in by
    assert abs(by["s2"] / 1000 - 0.25) < 0.05 and abs(by["s3"] / 1000 - 0.75) < 0.05
    a = {r["id"] for r in mixture_sample(df, "id", "src", rates).collect()}
    b = {r["id"] for r in mixture_sample(df.repartition(13), "id", "src", rates).collect()}
    assert a == b


def test_assign_shards_balance_and_determinism(spark):
    """Shard assignment is hash-uniform (every shard within 25% of mean on
    4k keys) and a pure key function (repartition-invariant)."""
    from dopams_etl_spark.operators.quality import assign_shards

    df = spark.createDataFrame([(i, i * 7) for i in range(4000)], ["a", "b"])
    out = assign_shards(df, ["a", "b"], n_shards=8)
    counts = {r["shard"]: r["count"] for r in out.groupBy("shard").count().collect()}
    assert set(counts) == set(range(8))
    assert all(abs(c - 500) < 125 for c in counts.values()), counts
    a = {(r["a"], r["shard"]) for r in out.collect()}
    b = {(r["a"], r["shard"]) for r in assign_shards(df.repartition(11), ["a", "b"], 8).collect()}
    assert a == b


def _brute_winnow(text, k=5, window=3):
    import hashlib
    import re

    s = re.sub(r"\s+", " ", text.lower())
    n = max(len(s) - k + 1, 1)
    hs = [hashlib.md5(s[i:i + k].encode()).hexdigest() for i in range(n)]
    n_win = max(len(hs) - window + 1, 1)
    return {min(hs[w:w + window]) for w in range(n_win)}


def test_winnow_matches_bruteforce_property(spark):
    """Property (hypothesis): the window-aggregate winnowing formulation
    equals a per-string brute-force reference on arbitrary short texts —
    including texts shorter than one gram and whitespace runs."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dopams_etl_spark.operators.dedup import winnow_fingerprints

    texts = st.lists(
        st.text(alphabet="ab x", min_size=0, max_size=30), min_size=1, max_size=6
    )

    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    @given(texts)
    def run(ts):
        df = spark.createDataFrame(list(enumerate(ts)), ["doc_id", "text"])
        got = {}
        for r in winnow_fingerprints(df, "doc_id", "text", k=5, window=3).collect():
            got.setdefault(r["id"], set()).add(r["fp"])
        for i, t_ in enumerate(ts):
            assert got.get(i, set()) == _brute_winnow(t_), (i, t_)

    run()


def test_chunk_reassembly_property(spark):
    """Property (hypothesis): for any token count and any (chunk, overlap),
    stride-spliced chunks reassemble the exact token stream, chunk sizes
    are full except the last, and chunk indexes are dense from 0."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dopams_etl_spark.operators.quality import chunk_documents

    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    @given(st.integers(min_value=0, max_value=137),
           st.integers(min_value=2, max_value=40),
           st.integers(min_value=0, max_value=20))
    def run(n, chunk, overlap):
        if overlap >= chunk:
            return
        toks = [f"t{i}" for i in range(n)]
        df = spark.createDataFrame([(1, " ".join(toks))], ["doc_id", "text"])
        rows = sorted(
            chunk_documents(df, "doc_id", "text", chunk_tokens=chunk, overlap=overlap).collect(),
            key=lambda r: r["chunk_idx"],
        )
        if n == 0:
            assert rows == []
            return
        assert [r["chunk_idx"] for r in rows] == list(range(len(rows)))
        assert all(r["n_tokens"] == chunk for r in rows[:-1])
        stride = chunk - overlap
        out = rows[0]["chunk"].split() if rows else []
        for r in rows[1:]:
            out += r["chunk"].split()[overlap:]
        assert out == toks, (n, chunk, overlap)

    run()


def test_decontaminate_flags_planted_overlap(spark):
    """A corpus doc sharing a word 3-gram with the benchmark is flagged
    with the exact distinct-overlap count; disjoint docs report 0; a
    blank doc reports 0 (no shingles, never a false positive)."""
    from dopams_etl_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "the boiling point of water is one hundred degrees")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [(1, "we measured the boiling point of water in the lab"),  # 3 shared 3-grams
         (2, "completely unrelated spark catalyst shuffle text"),
         (3, "   ")],
        ["doc_id", "text"],
    )
    got = {r["id"]: r for r in
           decontaminate(corpus, bench, "doc_id", "text", shingle_n=3).collect()}
    assert set(got) == {1, 2, 3}
    # shared: "the boiling point", "boiling point of", "point of water"
    assert got[1]["overlap_ngrams"] == 3 and got[1]["contaminated"]
    assert got[2]["overlap_ngrams"] == 0 and not got[2]["contaminated"]
    assert got[3]["overlap_ngrams"] == 0 and not got[3]["contaminated"]


def test_decontaminate_min_hits_threshold(spark):
    """min_hits raises the flagging bar without changing the counts."""
    from dopams_etl_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame([(100, "alpha beta gamma")], ["doc_id", "text"])
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma")],  # exactly one shared shingle
        ["doc_id", "text"],
    )
    got = decontaminate(corpus, bench, "doc_id", "text", min_hits=2).collect()[0]
    assert got["overlap_ngrams"] == 1 and not got["contaminated"]


def test_repeated_ngram_spans_localizes_duplicated_text(spark):
    """ExactSubstr-style span dedup: only spans shared ACROSS docs count,
    and the ratio localizes how much of each doc is copied."""
    from dopams_etl_spark.operators.dedup import repeated_ngram_spans

    shared = "one two three four five"  # exactly one 5-word span
    df = spark.createDataFrame(
        [
            (1, shared + " unique tail here for one"),
            (2, "prefix words for doc two " + shared),
            (3, "completely different text with enough words here"),
            (4, "tiny doc"),  # < span_words -> absent from output
        ],
        ["doc_id", "text"],
    )
    got = {r["id"]: r for r in repeated_ngram_spans(df, "doc_id", "text").collect()}
    assert set(got) == {1, 2, 3}
    # doc 1: 6 spans (10 words), the first span is the shared one
    assert got[1]["n_spans"] == 6 and got[1]["n_dup_spans"] == 1
    assert got[2]["n_dup_spans"] == 1
    assert got[3]["n_dup_spans"] == 0 and got[3]["dup_ratio"] == 0.0
    assert abs(got[1]["dup_ratio"] - 1 / 6) < 1e-6


def test_repeated_ngram_spans_within_doc_repeat_not_flagged(spark):
    """A span repeated only WITHIN one doc is not cross-doc duplication
    (min_docs counts DISTINCT documents)."""
    from dopams_etl_spark.operators.dedup import repeated_ngram_spans

    df = spark.createDataFrame(
        [(1, "a b c d e a b c d e"), (2, "v w x y z padding words here")],
        ["doc_id", "text"],
    )
    got = {r["id"]: r for r in repeated_ngram_spans(df, "doc_id", "text").collect()}
    assert got[1]["n_dup_spans"] == 0


def test_shingle_containment_detects_excerpt(spark):
    """An excerpt fully embedded in a larger doc: Jaccard small,
    containment 1.0 — the sub-document case the symmetric family misses."""
    from dopams_etl_spark.operators.dedup import (
        ngram_jaccard_pairs,
        shingle_containment_pairs,
    )

    big = " ".join(f"w{i}" for i in range(40))
    excerpt = " ".join(f"w{i}" for i in range(8))  # first 8 words
    df = spark.createDataFrame(
        [(1, big), (2, excerpt), (3, "completely unrelated text body here")],
        ["doc_id", "text"],
    )
    got = shingle_containment_pairs(df, "doc_id", "text", threshold=0.9).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["containment_b"] == 1.0  # excerpt fully inside the big doc
    assert r["containment_a"] < 0.2
    # and Jaccard at 0.5 misses it entirely
    assert ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5).count() == 0


def test_repeated_ngram_spans_max_df_drops_boilerplate(spark):
    """A span in MORE than max_df docs is boilerplate, not duplication."""
    from dopams_etl_spark.operators.dedup import repeated_ngram_spans

    boiler = "standard legal disclaimer text here"  # 5 words? -> make 5
    boiler = "this content is provided as-is"
    rows = [(i, boiler + f" unique suffix number {i} words") for i in range(1, 6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # without cap: the shared leading span flags in all 5 docs
    uncapped = {r["id"]: r["n_dup_spans"] for r in
                repeated_ngram_spans(df, "doc_id", "text").collect()}
    assert all(v >= 1 for v in uncapped.values())
    # with max_df=3: a 5-doc span is dropped entirely
    capped = {r["id"]: r["n_dup_spans"] for r in
              repeated_ngram_spans(df, "doc_id", "text", max_df=3).collect()}
    assert all(v == 0 for v in capped.values())

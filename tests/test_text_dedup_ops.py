"""Unit tests for the text-analysis and dedup operators.

Edge semantics the oracle queries can't isolate: empty/short documents,
planted near-duplicates, signature stability.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from flink_release_1_16_0_spark.operators import dedup as D
from flink_release_1_16_0_spark.operators import text as T


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )


def test_tokens_and_counts(spark):
    df = _docs(spark, ["Hello, World! 123", "", "   ", "one"])
    rows = df.select(
        "doc_id", T.token_count(F.col("text")).alias("n")
    ).collect()
    got = {r["doc_id"]: r["n"] for r in rows}
    assert got == {0: 3, 1: 0, 2: 0, 3: 1}


def test_shingles_short_doc_is_empty(spark):
    df = _docs(spark, ["one two", "one two three", "a b c d"])
    rows = df.select("doc_id", F.size(T.shingles(F.col("text"), 3)).alias("n")).collect()
    got = {r["doc_id"]: r["n"] for r in rows}
    assert got == {0: 0, 1: 1, 2: 2}


def test_fingerprint_stability_and_nulls(spark):
    df = _docs(spark, ["alpha beta gamma delta", "alpha beta gamma delta", "tiny"])
    rows = df.select("doc_id", T.fingerprint(F.col("text")).alias("fp")).collect()
    got = {r["doc_id"]: r["fp"] for r in rows}
    assert got[0] == got[1]  # identical text -> identical fingerprint
    assert got[2] is None  # < k tokens -> NULL


def test_minhash_lsh_finds_planted_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base + " ok"  # one extra token -> high jaccard
    far = "completely different words about spark catalyst optimizer plans"
    df = _docs(spark, [base, near, far])
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(df, num_hashes=6, bands=6, k=3).collect()
    }
    assert (0, 1) in pairs
    # verify stage: jaccard of the planted pair is high, far pair low
    sh = df.select("doc_id", T.shingles(F.col("text"), 3).alias("s"))
    a = sh.filter(F.col("doc_id") == 0).select(F.col("s").alias("s_a"))
    b = sh.filter(F.col("doc_id") == 1).select(F.col("s").alias("s_b"))
    j = a.crossJoin(b).select(D.jaccard(F.col("s_a"), F.col("s_b")).alias("j")).first()["j"]
    assert j > 0.7


def test_hashed_shingle_signature_matches_python_reference(spark):
    """The hashed fast path (60-bit md5-prefix content hash + integer
    minhash permutations) must equal a pure-python re-computation —
    the same guarantee the DuckDB oracle relies on."""
    import hashlib

    df = _docs(spark, ["alpha beta gamma delta epsilon zeta eta theta"])
    sh = df.select(T.shingles(F.col("text"), 3).alias("sh"))
    shingle_list = sh.collect()[0]["sh"]
    hs = sh.select(D.hashed_shingles(F.col("sh")).alias("hs")).collect()[0]["hs"]
    expected_hs = [
        int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in shingle_list
    ]
    assert hs == expected_hs

    sig = (
        sh.select(D.signature_from_hashes(D.hashed_shingles(F.col("sh")), 4).alias("g"))
        .collect()[0]["g"]
    )
    M = 2147483647
    expected_sig = [
        min((a * (h % M) + b) % M for h in expected_hs)
        for a, b in D._perm_constants(4)
    ]
    assert sig == expected_sig


def test_hashed_lsh_finds_planted_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base + " ok"
    far = "completely different words about spark catalyst optimizer plans"
    df = _docs(spark, [base, near, far])
    sh = D.shingle_table(df, k=3, hashed=True)
    for strategy in ("join", "bucket"):
        pairs = {
            (r["id_a"], r["id_b"])
            for r in D.lsh_candidate_pairs(
                num_hashes=6, bands=6, k=3, strategy=strategy, shingle_df=sh
            ).collect()
        }
        assert (0, 1) in pairs, strategy


def test_simhash_identical_docs_equal(spark):
    df = _docs(spark, ["spark sql window functions rank", "spark sql window functions rank"])
    rows = df.select(D.simhash32(F.col("text")).alias("h")).collect()
    assert rows[0]["h"] == rows[1]["h"]
    assert 0 <= rows[0]["h"] < 2**32


def test_minhash_signature_deterministic_and_salted(spark):
    """Regression: F.transform with a two-parameter lambda (the
    `lambda s, i=i:` closure idiom) receives (element, index); the index
    Column shadows the salt and stringifies a per-construction lambda
    variable name into the literal, making signatures differ between
    plan constructions. The signature must be stable across independent
    constructions AND equal the hashlib-computed min(md5(f"{i}|{s}"))."""
    import hashlib

    df = _docs(spark, ["alpha beta gamma delta epsilon zeta eta theta"])
    sh = df.select(T.shingles(F.col("text"), 3).alias("sh"))
    shingle_list = sh.collect()[0]["sh"]
    sig1 = sh.select(D.signature_from_shingles(F.col("sh"), 4).alias("g")).collect()[0]["g"]
    sig2 = sh.select(D.signature_from_shingles(F.col("sh"), 4).alias("g")).collect()[0]["g"]
    expected = [
        min(hashlib.md5(f"{i}|{s}".encode()).hexdigest() for s in shingle_list)
        for i in range(4)
    ]
    assert sig1 == sig2 == expected


def test_connected_components_chain_and_islands(spark):
    from flink_release_1_16_0_spark.operators.dedup import connected_components

    # chain 1-2-3 (transitive: (1,3) never a direct edge), island 10-11,
    # and a self-contained pair 20-21 out of id order
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (21, 20)], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["component"] for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_long_path_converges(spark):
    from flink_release_1_16_0_spark.operators.dedup import connected_components

    # a 12-node path needs multiple propagation rounds (diameter 11)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 111)], "id_a long, id_b long"
    )
    rows = connected_components(edges).collect()
    assert {r["component"] for r in rows} == {100}
    assert len(rows) == 12


def test_bpe_train_merges_known_corpus(spark):
    """Hand-checkable BPE: corpus 'low low lower' + 'newest newest'.
    Round 1 pair counts: (l,o)=3, (o,w)=3, (w,e)=3 (lower + 2x newest),
    (n,e)=(e,w)=(e,s)=(s,t)=2 — the 3-way tie breaks lexicographically
    to (l,o). Round 2: (lo,w)=3 ties (w,e)=3 -> (lo,w). Round 3: all
    remaining pairs tie at 2 -> (e,s)."""
    df = _docs(spark, ["low low lower", "newest newest"])
    rows = T.bpe_train_merges(df, "text", rounds=3).collect()
    got = [(r["merge_rank"], r["left_sym"], r["right_sym"], r["pair_count"]) for r in rows]
    assert sorted(got) == [(1, "l", "o", 3), (2, "lo", "w", 3), (3, "e", "s", 2)]


def test_bpe_merge_overlap_and_boundary(spark):
    """'aaaa' counts pair (a,a) three times (overlapping), but the merge
    applies leftmost-first non-overlapping -> <aa><aa>; a symbol 'ba'
    next to 'a' must NOT be split by a (a,a) merge (delimiter safety)."""
    df = _docs(spark, ["aaaa aaaa ba"])
    m = T.bpe_train_merges(df, "text", rounds=2).collect()
    got = {r["merge_rank"]: (r["left_sym"], r["right_sym"], r["pair_count"]) for r in m}
    # round 1: (a,a) appears 3x in each 'aaaa' = 6 total (plus (b,a)=1)
    assert got[1] == ("a", "a", 6)
    # round 2: after <aa><aa>, pair (aa,aa) has count 2; (b,a) has 1
    assert got[2] == ("aa", "aa", 2)


def test_quadratic_baseline_guard(spark, monkeypatch):
    """The all-pairs exact-verify baselines refuse inputs past the row
    bound unless the session opts in — they are adjudication slices,
    not production paths (round-10 review item)."""
    import pytest as _pytest

    from flink_release_1_16_0_spark.queries import llm_dedup as L

    monkeypatch.setattr(L, "QUADRATIC_ROW_BOUND", 10)
    with _pytest.raises(ValueError, match="allow-quadratic"):
        L.dedup_ngram_jaccard(spark, "/root/testdata/sf0.01")
    with _pytest.raises(ValueError, match="allow-quadratic"):
        L.dedup_embedding_cosine(spark, "/root/testdata/sf0.01")
    # the override lets the baseline run on an oversized slice
    spark.conf.set(L.ALLOW_QUADRATIC_CONF, "true")
    try:
        assert L.dedup_ngram_jaccard(spark, "/root/testdata/sf0.001").count() >= 0
    finally:
        spark.conf.unset(L.ALLOW_QUADRATIC_CONF)

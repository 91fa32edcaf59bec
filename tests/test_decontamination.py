"""Benchmark decontamination: planted-contamination exactness, join/scan
form parity, short-eval contract, NULL safety, and the zero-corpus-
Exchange plan property."""

from __future__ import annotations

from pyspark.sql import functions as F

from ner_linking_demo_spark.operators.decontamination import (
    collect_eval_ngrams,
    contamination_flag,
    contamination_matches,
    eval_set_fingerprint,
    word_ngrams,
)

DOCS = [
    (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (1, "one two three four five six seven eight nine ten"),
    (2, "the quick brown fox jumps over the lazy dog tonight"),
    (3, "alpha beta gamma delta DIFFERENT zeta eta theta iota kappa"),
    (4, None),
    (5, "short doc"),
]
# eval item 100 = 8 tokens of doc 0; item 101 matches nothing;
# item 102 is shorter than n and must contribute nothing
EVALS = [
    (100, "beta gamma delta epsilon zeta eta theta iota"),
    (101, "completely unrelated benchmark question about physics"),
    (102, "too short"),
]


def _dfs(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    evals = spark.createDataFrame(EVALS, "eval_id long, text string")
    return docs, evals


def test_planted_contamination_exact(spark):
    docs, evals = _dfs(spark)
    m = contamination_matches(docs, evals, n=8).collect()
    # only doc 0 contains the full planted 8-gram (doc 3 breaks it)
    assert [(r["doc_id"], r["eval_id"]) for r in m] == [(0, 100)]
    assert m[0]["ngram"] == EVALS[0][1].lower()
    # the scan-form filter run_corpus_pipeline composes keeps the rest
    grams = collect_eval_ngrams(evals, n=8)
    kept = docs.filter(~contamination_flag(F.col("text"), grams, n=8))
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2, 3, 4, 5]


def test_join_and_scan_forms_agree(spark):
    docs, evals = _dfs(spark)
    join_bad = {
        r["doc_id"]
        for r in contamination_matches(docs, evals, n=8)
        .select("doc_id")
        .distinct()
        .collect()
    }
    grams = collect_eval_ngrams(evals, n=8)
    flagged = docs.withColumn(
        "bad", contamination_flag(F.col("text"), grams, n=8)
    )
    scan_bad = {
        r["doc_id"] for r in flagged.filter("bad").collect()
    }
    assert join_bad == scan_bad == {0}
    # NULL text is clean, not an error
    assert [
        r["bad"] for r in flagged.filter("doc_id = 4").collect()
    ] == [False]


def test_unicode_whitespace_parity(spark):
    """Join and scan forms must agree on Unicode whitespace: Java's
    \\s (Spark split) does NOT treat NBSP/U+2028/\\x85 as separators,
    and a Python str.split() would — both forms consume the same Spark
    tokenization, so NBSP glues tokens together identically in both."""
    nbsp_doc = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(0, nbsp_doc), (1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(9, "alpha beta gamma delta epsilon zeta eta theta")],
        "eval_id long, text string",
    )
    join_bad = {
        r["doc_id"]
        for r in contamination_matches(docs, evals, n=8)
        .select("doc_id")
        .distinct()
        .collect()
    }
    grams = collect_eval_ngrams(evals, n=8)
    scan_bad = {
        r["doc_id"]
        for r in docs.withColumn(
            "bad", contamination_flag(F.col("text"), grams, n=8)
        )
        .filter("bad")
        .collect()
    }
    # doc 0 has only 7 Spark tokens ("alpha\xa0beta" is ONE token under
    # Java \s), so neither form may flag it; doc 1 is the exact plant
    assert join_bad == scan_bad == {1}


def test_case_normalization_matches(spark):
    docs = spark.createDataFrame(
        [(0, "Alpha BETA gamma DELTA epsilon zeta ETA theta")],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(9, "alpha beta GAMMA delta EPSILON zeta eta THETA")],
        "eval_id long, text string",
    )
    assert contamination_matches(docs, evals, n=8).count() == 1


def test_short_eval_items_contribute_nothing(spark):
    docs, _ = _dfs(spark)
    evals = spark.createDataFrame(
        [(1, "short doc")], "eval_id long, text string"
    )
    assert contamination_matches(docs, evals, n=8).count() == 0
    assert collect_eval_ngrams(evals, n=8) == []
    # and an all-short eval set means the flag is all-False, not a crash
    flagged = docs.withColumn(
        "bad", contamination_flag(F.col("text"), [], n=8)
    )
    assert flagged.filter("bad").count() == 0


def test_word_ngrams_expression(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("a b",), (None,)], "text string"
    )
    got = [
        r[0]
        for r in df.select(word_ngrams(F.col("text"), 3)).collect()
    ]
    assert got == [["a b c", "b c d"], [], []]


def test_fingerprint_pins_eval_content():
    a = eval_set_fingerprint(["x y z"], 8)
    assert a == eval_set_fingerprint(["x y z"], 8)
    assert a != eval_set_fingerprint(["x y q"], 8)
    assert a != eval_set_fingerprint(["x y z"], 13)
    # order-insensitive, separator-ambiguity-proof
    assert eval_set_fingerprint(["a b", "c"], 8) == eval_set_fingerprint(
        ["c", "a b"], 8
    )
    assert eval_set_fingerprint(["a", "b c"], 8) != eval_set_fingerprint(
        ["a b", "c"], 8
    )


def test_corpus_side_never_shuffles(spark):
    """Join form: the corpus side of the match join must be scan ->
    explode -> BroadcastHashJoin with zero Exchange."""
    docs, evals = _dfs(spark)
    plan = (
        contamination_matches(docs, evals, n=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    # the EVAL side (inside the BroadcastExchange subtree) may shuffle
    # its tiny distinct; the CORPUS branch — everything before the
    # BroadcastExchange marker — must not
    corpus_branch = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in corpus_branch

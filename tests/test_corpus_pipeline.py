"""Corpus preprocessing composition: leaf operators are oracle-verified
individually (entry registry); here the COMPOSITION semantics are tested
— filter rules, exact-dup representative choice, near-dup cluster
representative via CC, checkpoint resume."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ner_linking_demo_spark.operators.dedup import minhash_lsh_pairs
from ner_linking_demo_spark.oracle.oracle import oracle_components
from ner_linking_demo_spark.plans.corpus_pipeline import (
    annotate_docs,
    run_corpus_pipeline,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = base.count()
    # plant exact + near duplicates with known ids above the base range
    rows = base.orderBy("doc_id").limit(3).collect()
    extra = [
        # exact duplicate of doc 0 (higher id -> must be dropped)
        (n + 100, rows[0]["text"], rows[0]["lang"], "dup", len(rows[0]["text"])),
        # near duplicate of doc 1: append one word
        (n + 101, rows[1]["text"] + " extra", rows[1]["lang"], "near",
         len(rows[1]["text"]) + 6),
    ]
    extra_df = spark.createDataFrame(
        extra, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    return base.unionByName(extra_df)


def test_corpus_pipeline_matches_python_composition(spark, docs):
    res = run_corpus_pipeline(
        spark, docs, min_quality=None, min_tokens=5, near_dup=True,
        jaccard_threshold=0.5, collect_stats=True,
    )
    kept_ids = {r["doc_id"] for r in res.kept.select("doc_id").collect()}

    # python oracle over trusted leaf outputs
    ann = annotate_docs(docs).toPandas()
    surv = ann[ann["n_tokens"] >= 5]
    # exact: min doc_id per text
    surv = surv.sort_values("doc_id").drop_duplicates("text", keep="first")
    exact_df = docs.sparkSession.createDataFrame(
        surv[["doc_id", "text"]]
    )
    pairs = minhash_lsh_pairs(
        exact_df, jaccard_threshold=0.5
    ).toPandas()
    comp = oracle_components(
        [(str(a), str(b)) for a, b in zip(pairs["id_a"], pairs["id_b"])]
    )
    drop = {int(n) for n, c in comp.items() if n != c}
    want = set(surv["doc_id"]) - drop
    assert kept_ids == want
    assert res.stats["input"] == docs.count()
    assert res.stats["after_filter"] == len(ann[ann["n_tokens"] >= 5])
    assert res.stats["kept"] == len(want)
    # the planted exact duplicate is gone, its original kept
    n = docs.count() - 2
    assert n + 100 not in kept_ids
    # the planted near duplicate lost to its lower-id original
    assert n + 101 not in kept_ids


def test_corpus_pipeline_resume(spark, docs, tmp_path):
    ck = str(tmp_path / "corpus_ck")
    r1 = run_corpus_pipeline(
        spark, docs, min_tokens=5, checkpoint_dir=ck, input_sig="v1",
        collect_stats=False,
    )
    k1 = {r["doc_id"] for r in r1.kept.select("doc_id").collect()}
    r2 = run_corpus_pipeline(
        spark, docs, min_tokens=5, checkpoint_dir=ck, input_sig="v1",
        collect_stats=False,
    )
    k2 = {r["doc_id"] for r in r2.kept.select("doc_id").collect()}
    assert k1 == k2

    from ner_linking_demo_spark.plans.catalog import CheckpointCatalog

    resumed = {
        s["table"]
        for s in CheckpointCatalog(spark, ck).lineage()
        if s.get("resumed")
    }
    assert {"corpus_filtered", "corpus_exact", "corpus_kept"} <= resumed


def test_corpus_pipeline_packing_composition(spark, docs):
    """Corpus pipeline -> packing, composed as the CLI's ``--curate
    --max-tokens`` runs it: every kept doc appears in exactly one window,
    dropped docs (filtered or dedup losers) in none, windows respect
    max_tokens, and the token counts reused from the annotate stage
    equal a fresh recompute."""
    from pyspark.sql import functions as F

    from ner_linking_demo_spark.operators.packing import pack_sequences
    from ner_linking_demo_spark.plans.corpus_pipeline import (
        run_corpus_pipeline,
    )

    kept = run_corpus_pipeline(
        spark, docs, min_tokens=5, near_dup=True, jaccard_threshold=0.5
    ).kept
    seqs = pack_sequences(
        kept, max_tokens=64, tokens_col="n_tokens", num_partitions=2
    ).collect()

    packed = sorted(d for r in seqs for d in r["doc_ids"])
    assert packed == sorted(
        r["doc_id"] for r in kept.select("doc_id").collect()
    )
    assert all(r["total_tokens"] <= 64 or r["oversize"] for r in seqs)
    # reused n_tokens == recomputed whitespace counts
    want = {
        r["doc_id"]: r["n"]
        for r in kept.select(
            "doc_id",
            F.size(F.split(F.trim("text"), r"\s+")).alias("n"),
        ).collect()
    }
    stored = {
        r["doc_id"]: r["n_tokens"]
        for r in kept.select("doc_id", "n_tokens").collect()
    }
    assert stored == want


def test_persist_intermediate_same_results(spark, docs):
    """persist_intermediate (single-pass exact-dedup materialization for
    the two-consumer near-dup path) must not change the kept set."""
    kw = dict(min_tokens=5, near_dup=True, jaccard_threshold=0.5)
    a = {r["doc_id"] for r in run_corpus_pipeline(
        spark, docs, **kw).kept.select("doc_id").collect()}
    b = {r["doc_id"] for r in run_corpus_pipeline(
        spark, docs, persist_intermediate=True, **kw
    ).kept.select("doc_id").collect()}
    assert a == b


def test_decontam_and_scrub_stages(spark, docs):
    """eval_set drops exactly the docs containing a planted eval
    n-gram; scrub_pii redacts the kept text as the final stage (dedup
    saw the original); both fold into the resume signature."""
    from ner_linking_demo_spark.operators.decontamination import (
        collect_eval_ngrams,
    )

    # eval item = 8 consecutive tokens of doc 0 -> doc 0 and its exact
    # duplicate (n+100) are contamination; everything else is clean
    row0 = docs.filter("doc_id = 0").collect()[0]
    eval_text = " ".join(row0["text"].split()[2:10])
    eval_set = spark.createDataFrame(
        [(1, eval_text)], "eval_id long, text string"
    )
    assert len(collect_eval_ngrams(eval_set, n=8)) == 1

    base_ids = {
        r["doc_id"]
        for r in run_corpus_pipeline(
            spark, docs, near_dup=False
        ).kept.select("doc_id").collect()
    }
    kept = run_corpus_pipeline(
        spark, docs, near_dup=False, eval_set=eval_set
    ).kept
    got_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    # ground truth: the word salads share phrases, so OTHER docs can
    # genuinely contain the planted 8-gram — compute the contaminated
    # set independently (docs are single-spaced lowercase, so the
    # n-gram check is a substring check on word boundaries)
    expect_bad = {
        r["doc_id"]
        for r in docs.filter(
            F.contains(
                F.concat(F.lit(" "), F.col("text"), F.lit(" ")),
                F.lit(f" {eval_text} "),
            )
        ).collect()
    }
    assert 0 in expect_bad
    assert base_ids - got_ids == expect_bad & base_ids

    # scrub: plant an email into one doc, assert final text redacted
    dirty = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") == 2,
            F.concat(F.col("text"), F.lit(" mail me at a@b.io")),
        ).otherwise(F.col("text")),
    )
    scrubbed = run_corpus_pipeline(
        spark, dirty, near_dup=False, scrub_pii=True
    ).kept
    t2 = scrubbed.filter("doc_id = 2").collect()[0]["text"]
    assert t2.endswith(" mail me at <EMAIL>")


def test_line_dedup_stage(spark):
    """line_dedup=True removes the shared boilerplate line from all but
    its first occurrence BEFORE annotation (n_tokens reflects the
    deduped text), preserves metadata columns, and drops hollowed
    docs."""
    rows = [
        (0, "https://a.example.com/0",
         "unique zero text here\nplease subscribe today"),
        (1, "https://a.example.com/1",
         "unique one text here\nplease subscribe today"),
        (2, "https://a.example.com/2", "please subscribe today"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, url string, text string"
    )
    out = run_corpus_pipeline(
        spark, docs, near_dup=False, line_dedup=True
    ).kept
    got = {r["doc_id"]: r for r in out.collect()}
    # doc 0 keeps both lines; doc 1 loses the boilerplate; doc 2 is
    # fully hollowed (its only line's keeper is doc 0) and dropped
    assert set(got) == {0, 1}
    assert got[0]["text"] == rows[0][2]
    assert got[1]["text"] == "unique one text here"
    # url metadata survives the join-back; n_tokens is POST-dedup
    assert got[1]["url"] == rows[1][1]
    assert got[1]["n_tokens"] == 4


def test_annotate_docs_is_idempotent_on_columns(spark):
    """Round-6: re-annotating an already-annotated frame must replace
    the annotation columns in place (the pre-round-6 withColumns
    semantics), never emit ambiguous duplicates."""
    from ner_linking_demo_spark.plans.corpus_pipeline import annotate_docs

    docs = spark.createDataFrame(
        [(1, "the data of the spark join")], "doc_id long, text string"
    )
    once = annotate_docs(docs)
    twice = annotate_docs(once)
    assert twice.columns == once.columns  # no duplicates, same order
    r1 = once.collect()[0].asDict()
    r2 = twice.collect()[0].asDict()
    assert r1 == r2


def test_resume_signature_keeps_its_fields(monkeypatch):
    """The curation checkpoint signature keeps the field layout existing
    checkpoints were written under, including the literal ``approx``
    where the domain-cap strategy used to be set, so they still resume."""
    from types import SimpleNamespace

    from ner_linking_demo_spark.plans import corpus_pipeline as CP

    sigs = []

    class Catalog:
        def __init__(self, spark, root):
            pass

        def stage(self, name, sig, compute):
            sigs.append(sig)
            raise StopIteration

    monkeypatch.setattr(CP, "CheckpointCatalog", Catalog)
    monkeypatch.setattr(CP, "curate_docs", lambda docs, **kw: docs)
    docs = SimpleNamespace(
        schema=SimpleNamespace(simpleString=lambda: "struct<t:string>")
    )
    with pytest.raises(StopIteration):
        CP.run_corpus_pipeline(
            None, docs, checkpoint_dir="ckpt", domain_cap=5, min_tokens=3
        )
    assert sigs == [
        "docs|struct<t:string>|None|None|3|True|16|False:|4|3|0.7"
        "|None|5|approx|url|None"
    ]

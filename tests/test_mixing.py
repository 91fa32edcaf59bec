"""Deterministic corpus mixing: exact reproducibility (the whole point),
statistical sanity of the rates, upsample copy semantics, seed
independence, validation, and the zero-exchange plan property."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from ner_linking_demo_spark.operators.mixing import (
    mix_corpora,
    rate_threshold,
    upsample,
)


def _docs(spark, n=2000):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text "), F.col("id")).alias("text"),
    )


def _py_keep(seed: str, copy: int, doc_id: int, rate: float) -> bool:
    """Python mirror of hash_fraction_hex: fixed-width md5 fields make
    the (seed, copy, id) composition boundary-unambiguous."""
    sh = hashlib.md5(seed.encode()).hexdigest()
    ih = hashlib.md5(str(doc_id).encode()).hexdigest()
    h = hashlib.md5(f"{sh}{copy}{ih}".encode()).hexdigest()[:12]
    return h < rate_threshold(rate)


def _sample(docs, rate, seed=""):
    """A rate < 1 upsample is the plain hash sample (copy 0 only)."""
    return upsample(docs, rate, seed=seed).drop("copy")


def test_hash_sample_matches_python_oracle_exactly(spark):
    got = {
        r["doc_id"]
        for r in _sample(_docs(spark), 0.37, seed="s1").collect()
    }
    want = {i for i in range(2000) if _py_keep("s1", 0, i, 0.37)}
    assert got == want
    # rate sanity: binomial(2000, .37) stays well within 5 sigma
    assert abs(len(got) - 740) < 110


def test_hash_sample_is_partitioning_invariant(spark):
    docs = _docs(spark)
    a = {r["doc_id"] for r in _sample(docs, 0.5).collect()}
    b = {
        r["doc_id"]
        for r in _sample(docs.repartition(17), 0.5).collect()
    }
    assert a == b


def test_upsample_copies(spark):
    out = upsample(_docs(spark, 500), 2.4, seed="w").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["copy"])
    # every doc has copies {0, 1}; ~40% additionally have copy 2
    assert all({0, 1} <= set(v) for v in by_doc.values())
    extra = sum(1 for v in by_doc.values() if 2 in set(v))
    assert extra == sum(1 for i in range(500) if _py_keep("w", 2, i, 0.4))
    # sub-1 weight: plain sample tagged copy 0
    sub = upsample(_docs(spark, 500), 0.25, seed="w").collect()
    assert all(r["copy"] == 0 for r in sub)
    assert {r["doc_id"] for r in sub} == {
        i for i in range(500) if _py_keep("w", 0, i, 0.25)
    }


def test_mix_corpora_sources_draw_independently(spark):
    docs = _docs(spark, 1000)
    mixed = mix_corpora(
        {"a": (docs, 0.5), "b": (docs, 0.5)}, seed="m"
    ).collect()
    a = {r["doc_id"] for r in mixed if r["source"] == "a"}
    b = {r["doc_id"] for r in mixed if r["source"] == "b"}
    # same ids, different per-source seeds -> different (overlapping)
    # halves; identical halves would mean the seeds collided
    assert a != b
    assert abs(len(a & b) - 250) < 70  # independent -> ~0.25 overlap


def test_validation(spark):
    docs = _docs(spark, 10)
    with pytest.raises(ValueError):
        rate_threshold(1.5)
    with pytest.raises(ValueError):
        upsample(docs, 0.0)
    with pytest.raises(ValueError):
        upsample(docs, float("inf"))
    with pytest.raises(ValueError):
        mix_corpora({})
    # null ids are dropped, not nondeterministically sampled
    withnull = spark.createDataFrame(
        [(None, "x"), (1, "y")], "doc_id long, text string"
    )
    assert [
        r["doc_id"] for r in upsample(withnull, 1.0).collect()
    ] == [1]
    # column collisions refuse loudly instead of clobbering/crashing
    with pytest.raises(ValueError, match="copy"):
        upsample(docs.withColumn("copy", F.lit(0)), 1.5)
    with pytest.raises(ValueError, match="provenance"):
        mix_corpora({"a": (docs.withColumn("source", F.lit("s")), 1.0)})


def test_integer_weight_is_exact_and_hashfree(spark):
    """weight 1.0 / 2.0: exact copies, no fractional leg, and the plan
    contains no md5 at all (the hash draw is skipped, not just always-
    false)."""
    docs = _docs(spark, 300)
    out = upsample(docs, 2.0, seed="z").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], set()).add(r["copy"])
    assert len(by_doc) == 300
    assert all(v == {0, 1} for v in by_doc.values())
    plan = (
        upsample(docs, 1.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "md5" not in plan


def test_seed_composition_is_boundary_unambiguous(spark):
    """The review scenario: sources 'x' (hashing copy 1 of id '0|5')
    and 'x|1' (copy 0 of id '5') must NOT draw identically — the
    fixed-width md5 fields prevent 's|x|1|0|5'-style aliasing."""
    from ner_linking_demo_spark.operators.mixing import hash_fraction_hex
    from ner_linking_demo_spark.operators.mixing import seed_hex as SH

    df = spark.range(1).select(
        hash_fraction_hex(
            F.lit("0|5"), SH("s") + "x", F.lit(1)
        ).alias("a"),
        hash_fraction_hex(
            F.lit("5"), SH("s") + "x|1", F.lit(0)
        ).alias("b"),
    )
    r = df.collect()[0]
    assert r["a"] != r["b"]


def test_mix_is_zero_exchange(spark):
    docs = _docs(spark, 100)
    plan = (
        mix_corpora({"a": (docs, 1.6), "b": (docs, 0.3)})
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Join" not in plan

"""Multimodal plumbing + text-analysis columns."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ner_linking_demo_spark.functions import text_analysis as TA
from ner_linking_demo_spark.operators import multimodal as MM


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "el paciente presenta una evolución favorable con el tratamiento"),
        (1, "the quick brown fox jumps over the lazy dog in the park"),
        (2, "zzz !!! ??? ..."),
        (3, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_lang_id(spark, docs):
    out = dict(
        TA.add_profile_columns(docs, lang="lang")
        .select("doc_id", "lang")
        .collect()
    )
    assert out[0] == "es" and out[1] == "en" and out[2] == "unknown"
    assert out[3] == "unknown"


def test_token_counts(spark, docs):
    out = {
        r["doc_id"]: (r["n"], r["b"])
        for r in docs.select(
            "doc_id",
            TA.token_count(F.col("text")).alias("n"),
            TA.bpe_ish_token_count(F.col("text")).alias("b"),
        ).collect()
    }
    assert out[3] == (0, 0)
    assert out[1][0] == 12
    assert out[2][1] == 10  # letter-run + each punct char separately


def test_quality_and_fingerprint(spark, docs):
    out = TA.add_profile_columns(
        docs, quality="q", fingerprint="fp"
    ).toPandas()
    q = dict(zip(out["doc_id"], out["q"]))
    assert q[0] > q[2]  # prose beats punctuation soup
    assert out["fp"].nunique() == 4
    # normalization: whitespace-collapsed variants share a fingerprint
    two = spark.createDataFrame(
        [(0, "Hola  Mundo"), (1, "hola mundo ")], ["i", "text"]
    )
    fps = two.select(TA.content_fingerprint(F.col("text"))).collect()
    assert fps[0][0] == fps[1][0]


def test_multimodal_features_plumbing(spark, docs):
    media = MM.media_from_documents(docs)
    feats = MM.extract_features(media).toPandas()
    assert len(feats) == 4
    row = feats.set_index("doc_id").loc[1]
    assert row["n_bytes"] == len(
        "the quick brown fox jumps over the lazy dog in the park".encode()
    )
    f = np.array(row["features"])
    assert len(f) == 17 and abs(f[:16].sum() - 1.0) < 1e-5
    assert f[16] == row["n_bytes"]


def test_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        MM.decode_image(b"\x89PNG")


def test_punct_ratio_counts_code_points_on_non_bmp_text(spark):
    """punct_ratio counts code points, not UTF-16 code units: Unicode
    punctuation (category P*) code points over the string's code-point
    length. U+10100 (AEGEAN WORD SEPARATOR LINE, category Po) lies
    outside the BMP; a code-unit count would see 2 of 2 for it alone."""
    import unicodedata

    texts = [
        "\U00010100",
        "a\U00010100b, c!\U0001f600 d\u00bfe?",
        "plain, bmp text!",
    ]

    def want(t: str) -> float:
        n_punct = sum(unicodedata.category(c).startswith("P") for c in t)
        return n_punct / max(len(t), 1)

    assert unicodedata.category("\U00010100") == "Po"
    df = spark.createDataFrame(list(enumerate(texts)), "i int, t string")
    got = {
        r["i"]: r["pr"]
        for r in df.select("i", TA.punct_ratio(F.col("t")).alias("pr"))
        .collect()
    }
    assert got[0] == 1.0
    for i, t in enumerate(texts):
        assert got[i] == pytest.approx(want(t), abs=1e-12), t
